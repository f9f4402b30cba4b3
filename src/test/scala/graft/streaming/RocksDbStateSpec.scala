package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.streaming.StreamingFunnel.{ClosedSession, Event}

/** The stateful shapes on the state store a 100 TB deployment actually
  * runs. Every other streaming spec exercises Spark's default
  * HDFSBackedStateStoreProvider — an executor-HEAP map, fine at test
  * scale but not the store the scale story rests on. At fleet scale the
  * provider is RocksDB (bounded off-heap + local disk, incremental
  * checkpoints), wired via `spark.sql.streaming.stateStore.providerClass`
  * and otherwise invisible to the query: same semantics, different state
  * residency. These specs pin that invisibility — the custom
  * mapGroupsWithState shapes (Sessionizer) and built-in update-mode
  * aggregation (runningCounters, the q100 shape) emit IDENTICAL results
  * under RocksDB — so the r13/r15 RocksDB plateau measurements stand on
  * a provider the specs prove correct, not just one they assume. */
class RocksDbStateSpec extends SparkSpec {
  import spark.implicits._

  private val ProviderKey = "spark.sql.streaming.stateStore.providerClass"
  private val RocksDb =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** The provider conf is read at QUERY start, so pinning it around the
    * whole start→stop span is enough; restored after, the shared test
    * session's other suites keep the default provider. */
  private def withRocksDb[T](f: => T): T = {
    val was = spark.conf.get(ProviderKey)
    spark.conf.set(ProviderKey, RocksDb)
    try f finally spark.conf.set(ProviderKey, was)
  }

  private def ts(s: String) = Timestamp.valueOf(s)

  test("sessionizer closes identical sessions on the RocksDB state store") {
    withRocksDb {
      implicit val sqlCtx = spark.sqlContext
      val input = MemoryStream[Event]
      val sessions = new StreamingFunnel.Sessionizer(gapSeconds = 1800)
        .sessionize(input.toDS())
      val q = sessions.writeStream
        .format("memory").queryName("rocksdb_sessions")
        .outputMode("append").start()
      try {
        // cross-batch state: the session opened in batch 1 must be
        // rehydrated from RocksDB in batch 2 to close with both events
        input.addData(
          Event(1L, ts("2024-01-01 10:00:00"), 7L, "view", 1.0),
          Event(2L, ts("2024-01-01 10:10:00"), 7L, "click", 2.0))
        q.processAllAvailable()
        assert(spark.table("rocksdb_sessions").count() === 0)
        input.addData(Event(3L, ts("2024-01-01 11:00:00"), 7L, "view", 5.0))
        q.processAllAvailable()
        val closed = spark.table("rocksdb_sessions").as[ClosedSession].collect()
        assert(closed.length === 1)
        assert(closed.head.user_id === 7L)
        assert(closed.head.n_events === 2L)
        assert(closed.head.duration_us === 600000000L)
        assert(closed.head.total_value === 3.0)
      } finally q.stop()
    }
  }

  test("running counters (q100 shape) match the batch aggregate on RocksDB") {
    withRocksDb {
      implicit val sqlCtx = spark.sqlContext
      val input = MemoryStream[(String, Double)]
      val counters = StreamingFunnel.runningCounters(
        input.toDF().toDF("event_type", "value"))
      var perBatch = Vector.empty[Set[(String, Long, Double)]]
      val q = counters.writeStream
        .outputMode("update")
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          perBatch = perBatch :+
            b.select(col("event_type"), col("n_events"), col("sum_value"))
              .as[(String, Long, Double)].collect().toSet
          ()
        }
        .start()
      try {
        input.addData(("view", 1.0), ("view", 2.0), ("click", 10.0))
        q.processAllAvailable()
        input.addData(("view", 4.0))
        q.processAllAvailable()
        val emitted = perBatch.filter(_.nonEmpty)
        assert(emitted === Vector(
          Set(("view", 2L, 3.0), ("click", 1L, 10.0)),
          Set(("view", 3L, 7.0))), // running total ACROSS batches = state survived
          s"got $emitted")
      } finally q.stop()
    }
  }
}

package graft

import org.apache.spark.sql.functions.{lit, to_timestamp}

/** Guards the driver contract itself: the flagship entry must return rows
  * on the t1 smoke dir, and every query must have its oracle twin (a
  * queries/oracleSql key mismatch silently downgrades the driver's gate
  * for that query to rows-only). */
class SparkEntrySpec extends SparkSpec {

  test("entry() returns rows on the sf0.001 smoke dir") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every query has an oracle twin and vice versa") {
    val q = SparkEntry.queries.keySet
    val o = SparkEntry.oracleSql.keySet
    assert((q -- o).isEmpty, s"queries without oracle: ${(q -- o).toSeq.sorted}")
    assert((o -- q).isEmpty, s"oracles without query: ${(o -- q).toSeq.sorted}")
  }

  test("query names are unique, ordered, and within the bench-line budget") {
    val names = SparkEntry.queries.keys.toSeq
    assert(names.distinct.size === names.size)
    // Bench prints medians under SHORT keys (the qNN number); two names
    // collapsing to one short key would silently merge their medians
    val shorts = names.map(Bench.shortKey)
    assert(shorts.distinct.size === shorts.size,
      s"short-key collision: ${shorts.diff(shorts.distinct).distinct}")
    // the driver's bench artifact keeps a ~2 KB output tail; the medians
    // line must stay under it (see Bench.scala) — fail HERE, at authoring
    // time, rather than silently truncating the round's bench artifact.
    // Per query: 2 quotes + colon + comma + key + value (≤7 chars covers
    // "99.999" at 3 decimals and the "-1.0" sentinel); +130 wrapper.
    val lineBytes = shorts.map(_.length + 11).sum + 130
    assert(lineBytes < 1990, s"bench medians line ≈ $lineBytes B — shorten before adding queries")
  }

  test("q04/q05 on hand-built events: unknown channel, min-conv-date HAVING, NULL cost") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_q04_spec").toString
    // user 1: view, '' and click touches, then a purchase; user 2: a view two
    // days before the first conversion date, then a purchase
    Seq[(Long, String, Long, String, Option[Double])](
      (1L, "2023-08-01 09:00:00", 1L, "view", Some(10.0)),
      (2L, "2023-08-01 10:00:00", 1L, "", Some(5.0)),
      (3L, "2023-08-01 10:30:00", 1L, "click", None),
      (4L, "2023-08-01 12:00:00", 1L, "purchase", Some(100.0)),
      (5L, "2023-07-30 09:00:00", 2L, "view", Some(7.0)),
      (6L, "2023-08-02 09:00:00", 2L, "purchase", Some(50.0)))
      .toDF("event_id", "ts_s", "user_id", "event_type", "value")
      .select($"event_id", to_timestamp($"ts_s").as("ts"), $"user_id", $"event_type", $"value",
        lit("{}").as("props"))
      .write.parquet(s"$dir/events.parquet")
    // conversion 4's journey is view/''/click with ihc 0.5/0.1/0.4 (view
    // weighs double in the holder share); conversion 6's is the lone
    // 2023-07-30 view. The '' touch reports as 'unknown' and is excluded,
    // the 2023-07-30 row falls before MIN(conv_date) = 2023-08-01, and the
    // click's NULL value is a cost of 0.0.
    val rows = SparkEntry.queries("q05_report_export")(spark, dir).collect().toSeq
      .map(r => (r.getString(0), r.getString(1), r.getDouble(2), r.getDouble(3), r.getDouble(4),
        r.getDouble(5), r.getDouble(6)))
    assert(rows === Seq(
      ("click", "2023-08-01", 0.0, 0.4, 40.0, 0.0, 0.0),
      ("view", "2023-08-01", 10.0, 0.5, 50.0, 20.0, 5.0)))
    assert(SparkEntry.queries("q04_channel_report")(spark, dir).orderBy("channel_name")
      .collect().toSeq.map(r => (0 to 4).map(r.get)) === rows.map(r => Seq(r._1, r._2, r._3, r._4, r._5)))
  }

  test("state-store partition dial derives from source volume") {
    val mb = 1L << 20
    // bench scale (KB–MB staged sources) reproduces the measured optimum 4
    assert(SparkEntry.stateStorePartitions(0L) === 4)
    assert(SparkEntry.stateStorePartitions(2 * mb) === 4)
    assert(SparkEntry.stateStorePartitions(256 * mb) === 4)
    // past the floor the count scales linearly at ~64 MB of source/store
    assert(SparkEntry.stateStorePartitions(1024 * mb) === 16)
    assert(SparkEntry.stateStorePartitions(100L * 1024 * mb) === 1600)
    // ceiling: per-store overhead dominates past 8192 stores
    assert(SparkEntry.stateStorePartitions(Long.MaxValue / 2) === 8192)
    // monotone across the whole range (no cliff between the regimes)
    val probes = Seq(0L, mb, 64 * mb, 65 * mb, 1024 * mb, 1L << 40, 1L << 50)
    val vals = probes.map(SparkEntry.stateStorePartitions)
    assert(vals === vals.sorted, s"non-monotone: ${probes.zip(vals)}")
  }

  test("scratch dirs are rooted at java.io.tmpdir") {
    val root = java.nio.file.Files.createTempDirectory("graft_tmpdir_spec").toRealPath()
    val saved = System.getProperty("java.io.tmpdir")
    try {
      System.setProperty("java.io.tmpdir", root.toString)
      val p = java.nio.file.Paths.get(SparkEntry.scratchDir("graft_stream", "/data/sf0.1", "q34"))
      assert(p.getParent === root, s"$p is not directly under $root")
      assert(p.getFileName.toString.startsWith("graft_stream_"))
    } finally {
      System.setProperty("java.io.tmpdir", saved)
      java.nio.file.Files.deleteIfExists(root)
    }
  }
}

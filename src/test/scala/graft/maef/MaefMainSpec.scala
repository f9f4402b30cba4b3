package graft.maef

import org.apache.spark.JobProbe

import graft.SparkSpec

/** What a CLI pass costs in Spark jobs, and the order its gates fire in. */
class MaefMainSpec extends SparkSpec {
  import spark.implicits._

  private val db = getClass.getResource("/challenge_fixture.db").getPath
  private def tmp(tag: String) = java.nio.file.Files.createTempDirectory(tag).toString

  test("stageSqliteWarehouse + MaefMain.run stay inside their Spark job budget") {
    // counted by a plain JobEnd listener: a copy is its write jobs, and
    // run's counts and gates ride on its sinks' own jobs
    val wh = tmp("graft_budget_wh")
    val out = tmp("graft_budget_out")
    val (staged, staging) = JobProbe(spark.sparkContext) {
      MaefMain.stageSqliteWarehouse(spark, db, wh)
    }
    val (art, run) = JobProbe(spark.sparkContext) {
      MaefMain.run(spark, staged, out, window = None)
    }
    assert(art.transformedRows > 0L && art.reportRows > 0L)
    // one write job per table
    assert(staging.jobs === 3, s"staging ran ${staging.jobs} jobs")
    assert(run.jobs === 20, s"MaefMain.run ran ${run.jobs} jobs")
  }

  test("run reads a .db warehouse itself: the staged run's artifacts from one copy") {
    val staged = MaefMain.stageSqliteWarehouse(spark, db, tmp("graft_db_staged"))
    val viaStaging = tmp("graft_db_ref_out")
    val expected = MaefMain.run(spark, staged, viaStaging)
    val out = tmp("graft_db_out")
    val (art, direct) = JobProbe(spark.sparkContext)(MaefMain.run(spark, db, out))
    assert(art === expected)
    def csv(dir: String) = java.nio.file.Files.readAllLines(
      java.nio.file.Paths.get(s"$dir/channel_report.csv"))
    assert(csv(out) === csv(viaStaging))
    // the .db is read once, by step 1's copy: no staging directory, and a
    // CLI pass runs run's 20 jobs instead of staging's 3 on top of them
    assert(new java.io.File(out).list().filterNot(_.startsWith(".")).sorted.toSeq ===
      Seq("api_response.json", "channel_report.csv", "target_data.json", "warehouse"))
    assert(direct.jobs === 20, s"MaefMain.run on the .db ran ${direct.jobs} jobs")
  }

  test("Loader.load leaves nothing cached and keeps its gate message") {
    def response(ihc: Double) = {
      val f = java.nio.file.Files.createTempFile("graft_load", ".json")
      java.nio.file.Files.writeString(f,
        s"""[{"statusCode": 200, "value": [
           |  {"conversion_id": "c1", "session_id": "s1", "ihc": $ihc},
           |  {"conversion_id": "c1", "session_id": "s2", "ihc": 0.0}]}]""".stripMargin)
      f.toString
    }
    val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val loaded = Loader.load(spark, response(1.0))
    val cache = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager
    assert(cache.lookupCachedData(loaded.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]])
      .isEmpty)
    assert(spark.sparkContext.getPersistentRDDs.keySet.toSet -- before === Set.empty)
    assert(loaded.count() === 2L)
    val e = intercept[IllegalArgumentException](Loader.load(spark, response(0.0)))
    assert(e.getMessage ===
      "requirement failed: Attribution data contains no valid IHC values (total=0.0)")
  }

  test("a window without conversions fails the journey gate before target_data.json is written") {
    val wh = tmp("graft_gate_wh")
    Seq(("c1", "u1", "2023-08-02", "10:00:00", 100.0))
      .toDF("conv_id", "user_id", "conv_date", "conv_time", "revenue")
      .write.parquet(s"$wh/conversions")
    Seq(("s1", "u1", "2023-08-01", "09:00:00", "Direct", 1, 0, 0))
      .toDF("session_id", "user_id", "event_date", "event_time",
        "channel_name", "holder_engagement", "closer_engagement", "impression_interaction")
      .write.parquet(s"$wh/session_sources")
    Seq(("s1", 5.0)).toDF("session_id", "cost").write.parquet(s"$wh/session_costs")
    val out = tmp("graft_gate_out")
    val empty = DateWindow.validate("2023-07-01", "2023-07-02", java.time.LocalDate.of(2024, 1, 1))
    val e = intercept[IllegalArgumentException] {
      MaefMain.run(spark, wh, out, Some(empty))
    }
    assert(e.getMessage === "requirement failed: transform produced no journey entries")
    assert(!new java.io.File(s"$out/target_data.json").exists())
    assert(!new java.io.File(s"$out/api_response.json").exists())
  }

  test("the load gates keep their messages") {
    val ihc = intercept[IllegalArgumentException](Loader.requireValidIhc(0.0))
    assert(ihc.getMessage ===
      "requirement failed: Attribution data contains no valid IHC values (total=0.0)")
    val positive = intercept[IllegalArgumentException](Loader.requireLoaded(0L))
    assert(positive.getMessage ===
      "requirement failed: post-load verification failed: no rows with ihc > 0")
    assert(Loader.requireLoaded(2L) === 2L)
    // verifyLoaded counts through the same gate
    val none = Seq(("c1", "s1", 0.0)).toDF("conv_id", "session_id", "ihc")
    assert(intercept[IllegalArgumentException](Loader.verifyLoaded(none)).getMessage ===
      positive.getMessage)
  }
}

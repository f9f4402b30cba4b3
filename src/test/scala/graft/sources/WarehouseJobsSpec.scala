package graft.sources

import org.apache.spark.JobProbe
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The Spark jobs the warehouse writers run for bookkeeping rather than
  * output: the copy's landed-count check and the partitioned upsert's
  * discovery listing and write shaping. */
class WarehouseJobsSpec extends SparkSpec {
  import spark.implicits._

  private def freshDir(tag: String): String =
    java.nio.file.Files.createTempDirectory(tag).toString + "/t"

  private def partFiles(dir: String): Seq[java.io.File] =
    Option(new java.io.File(dir).listFiles()).toSeq.flatten
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))

  test("landedRows sums the footers to what a Spark count reads, and comes up short on a lost file") {
    val multi = freshDir("graft_landed")
    spark.range(0, 1000, 1, 7).toDF("id").write.parquet(multi)
    assert(partFiles(multi).length === 7)
    assert(ParquetWarehouse.landedRows(spark, multi) === 1000L)
    assert(ParquetWarehouse.landedRows(spark, multi) === spark.read.parquet(multi).count())

    val empty = freshDir("graft_landed_empty")
    spark.range(0).toDF("id").write.parquet(empty)
    assert(ParquetWarehouse.landedRows(spark, empty) === 0L)
    assert(spark.read.parquet(empty).count() === 0L)

    // a short write: the verification must see the missing rows
    val lost = partFiles(multi).head
    val lostRows = spark.read.parquet(lost.getPath).count()
    assert(lost.delete())
    assert(ParquetWarehouse.landedRows(spark, multi) === 1000L - lostRows)
    assert(ParquetWarehouse.landedRows(spark, multi) === spark.read.parquet(multi).count())
  }

  test("writeVerified is the write job and nothing else") {
    val dir = freshDir("graft_verified")
    val (n, rec) = JobProbe(spark.sparkContext) {
      ParquetWarehouse.writeVerified(spark.range(0, 1000, 1, 7).toDF("id"), dir)
    }
    assert(n === 1000L)
    assert(rec.jobs === 1, s"writeVerified ran ${rec.jobs} jobs")
  }

  test("upsertPartitioned over 40 dates: one file per partition, no listing job, a parallel write") {
    // 40 affected partitions: above Spark's 32-path threshold for a
    // distributed discovery listing
    val dates = (0 until 40).map(i => java.time.LocalDate.of(2023, 8, 1).plusDays(i).toString)
    val first = for (d <- dates; c <- Seq("ch0", "ch1", "ch2")) yield (d, c, 1.0)
    val second = for (d <- dates; (c, v) <- Seq(("ch1", 2.0), ("ch9", 9.0))) yield (d, c, v)
    val dir = freshDir("graft_pup40")
    val writeTasks = math.min(40, spark.sparkContext.defaultParallelism)
    def upsert(rows: Seq[(String, String, Double)]): JobProbe.Record =
      JobProbe(spark.sparkContext) {
        ParquetWarehouse.upsertPartitioned(
          rows.toDF("date", "channel", "spend").repartition(8), dir, Seq("date", "channel"), "date")
      }._2
    val jobs = for ((branch, rows) <- Seq("create" -> first, "merge" -> second)) yield {
      val rec = upsert(rows)
      for (d <- dates)
        assert(partFiles(s"$dir/date=$d").length === 1, s"$branch: date=$d")
      assert(rec.jobTasks.forall(_ < 40), s"$branch: a listing job ran: ${rec.jobTasks}")
      assert(rec.stageTasks.last === writeTasks, s"$branch: stage tasks ${rec.stageTasks}")
      branch -> rec.jobs
    }
    // the merge input is shuffled once, for the window and the write alike
    assert(jobs.toMap === Map("create" -> 5, "merge" -> 7))
    val expected = (first.map(r => (r._1, r._2) -> r) ++ second.map(r => (r._1, r._2) -> r))
      .toMap.values.toSet
    val got = spark.read.parquet(dir).select(col("date").cast("string"), col("channel"), col("spend"))
      .as[(String, String, Double)].collect()
    assert(got.length === expected.size)
    assert(got.toSet === expected)
  }
}

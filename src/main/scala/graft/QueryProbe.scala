package graft

/** Per-query measurement probe for optimization work — NOT part of the
  * driver contract. Times a selected subset of SparkEntry.queries through
  * the noop sink (guide §1.4) with a warm-up pass, prints per-iteration
  * seconds and the median, and optionally dumps the formatted plan.
  *
  * Usage: sbt "runMain graft.QueryProbe q30_redistribution,q97_incremental_upsert"
  *   env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1)
  *        SPARK_GRAFT_CPUS   (default: the processor count, see graft.Session)
  *        SPARK_GRAFT_PROBE_ITERS (default 5)
  *        SPARK_GRAFT_PROBE_EXPLAIN_DIR (optional: write <name>.txt plans)
  */
object QueryProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val iters = sys.env.get("SPARK_GRAFT_PROBE_ITERS").flatMap(_.toIntOption).getOrElse(5)
    val wanted: Seq[String] =
      if (args.isEmpty || args(0) == "all") SparkEntry.queries.keys.toSeq
      else args(0).split(",").toSeq.map(_.trim).filter(_.nonEmpty)
    val spark = Session()
    val qs = SparkEntry.queries
    val missing = wanted.filterNot(qs.contains)
    require(missing.isEmpty, s"unknown queries: ${missing.mkString(",")}")
    val explainDir = sys.env.get("SPARK_GRAFT_PROBE_EXPLAIN_DIR")
    explainDir.foreach(d => java.nio.file.Files.createDirectories(java.nio.file.Paths.get(d)))
    for (name <- wanted) {
      val fn = qs(name)
      spark.sparkContext.setJobDescription(s"probe:$name")
      explainDir.foreach { d =>
        try {
          val plan = fn(spark, sfDir).queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
          java.nio.file.Files.write(
            java.nio.file.Paths.get(d, name + ".txt"), plan.getBytes("UTF-8"))
        } catch { case _: Throwable => () }
      }
      // warm-up (codegen + page cache), untimed
      try fn(spark, sfDir).write.mode("overwrite").format("noop").save()
      catch { case e: Throwable => println(s"PROBE $name WARMUP FAILED: $e") }
      val ts = (1 to iters).map { _ =>
        val t0 = System.nanoTime()
        try {
          fn(spark, sfDir).write.mode("overwrite").format("noop").save()
          (System.nanoTime() - t0) / 1e9
        } catch { case _: Throwable => -1.0 }
      }
      val med = { val s = ts.sorted; s(s.length / 2) }
      println(f"PROBE $name%-28s median=$med%7.3f  runs=${ts.map(t => f"$t%.3f").mkString(",")}")
      spark.sparkContext.setJobDescription(null)
    }
    spark.stop()
  }
}

package perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{ascii, col, length, lit, substring}

import graft.SparkEntry
import graft.maef.{DateWindow, Loader, MaefMain, MaefModel}
import graft.sources.ParquetWarehouse

/** A workload: what one pass does, the untimed check operations after the
  * timed passes, and the layer metrics of one traced pass. Only public
  * entry points of the program are called. */
trait Workload {
  /** Timed passes a run makes at least, however long they take. */
  def minPasses: Int = 1
  def beforePass(r: Runner): Unit = ()
  /** One pass. The untimed warm pass (`warm`) may also leave the outputs
    * the checks read. */
  def pass(r: Runner, warm: Boolean): Unit
  def check(r: Runner): Unit = ()
  /** Facts about the run's outputs for the checks in `run.py`. */
  def facts: Map[String, Any] = Map.empty
  def layers(spans: Seq[Span], jobs: Seq[(Long, Long)], tasks: Seq[TaskRec],
             plans: Seq[PlanRec]): Map[String, Double]
}

object Workloads {
  def apply(name: String, spark: SparkSession, a: BenchMain.Args): Workload = name match {
    case "maef_cli" => new MaefCli(spark, a)
    case "dedup_corpus" => new DedupCorpus(spark, a)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def deleteRecursively(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(deleteRecursively))
    f.delete()
  }

  /** Data files (not metadata or checksums) under a directory tree. */
  def dataFiles(f: File): Seq[File] =
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.filterNot(_.getName.startsWith(".")).flatMap(dataFiles)
    else if (f.getName.startsWith("part-")) Seq(f)
    else Nil
}

/** SQLite file → `stageSqliteWarehouse` → `MaefMain.run` over the
  * reference's 2023-08-01..09-30 window — the path a CLI user runs — then
  * the reference's load step into the parquet warehouse: the attribution
  * response through `Loader.load` and `ParquetWarehouse.upsert` (load.py's
  * INSERT OR REPLACE), the channel report through `upsertPartitioned` by
  * date. The warehouse tables outlive the pass, so every timed pass merges
  * a re-attribution into existing tables: pass p's batch shifts `ihc` by
  * p / 1024 and, after the warm pass, leaves out the keys that
  * [[MaefCli.acjKeep]] / [[MaefCli.reportKeep]] drop for p — so each key's
  * row must come from the last batch that held it (checks.py). */
final class MaefCli(spark: SparkSession, a: BenchMain.Args) extends Workload {
  private val db = s"${a.input}/warehouse.db"
  private val root = new File(s"${a.work}/maef_cli")
  private val staging = s"$root/staging"
  private val out = s"$root/out"
  private val warehouse = new File(s"${a.work}/maef_warehouse")
  private val acj = s"$warehouse/attribution_customer_journey"
  private val reporting = s"$warehouse/channel_reporting"
  private val window = DateWindow.Window(
    java.time.LocalDate.parse("2023-08-01"), java.time.LocalDate.parse("2023-09-30"))
  private var artifacts: Option[MaefMain.Artifacts] = None

  // innermost matching frame names the module (see StackSampler)
  private val rules = Seq(
    ("graft.maef.JsonArrayIO$", "writePrettyJsonArray", "maef.json_sink"),
    ("graft.maef.JsonArrayIO$", "writeSingleCsv", "maef.report"),
    ("graft.maef.MaefReporting$", "", "maef.report"),
    ("graft.maef.Loader$", "", "maef.loader"),
    ("graft.maef.MaefPipeline$", "copyAndVerify", "maef.copy_verify"),
    ("graft.maef.MaefPipeline$", "requireNonEmpty", "maef.journeys"),
    ("graft.maef.MaefJourneys$", "", "maef.journeys"),
    ("graft.maef.MaefPipeline$", "nativeAttribution", "maef.attribution"),
    ("graft.operators.Attribution$", "", "maef.attribution"))

  private var filesWritten = 0
  private val batches = scala.collection.mutable.ArrayBuffer.empty[Map[String, Any]]

  override def beforePass(r: Runner): Unit = {
    Workloads.deleteRecursively(root)
    filesWritten = 0
  }

  def pass(r: Runner, warm: Boolean): Unit = {
    if (warm) Workloads.deleteRecursively(warehouse)
    r.op("sources.sqlite")(MaefMain.stageSqliteWarehouse(spark, db, staging))
    val sampler =
      if (r.tracing) Some(new StackSampler(Thread.currentThread(), rules, 5L)) else None
    sampler.foreach(_.start())
    val t0 = System.nanoTime()
    artifacts = r.op("maef.run")(MaefMain.run(spark, staging, out, Some(window)))
    val t1 = System.nanoTime()
    sampler.foreach(_.finish(t0, t1, "maef.run", r.pass).foreach(r.addSpan))
    val p = r.pass
    def batch(df: DataFrame, keep: Column): DataFrame =
      (if (warm) df else df.filter(keep)).withColumn("ihc", col("ihc") + lit(p / 1024.0))
    batches += Map("pass" -> p, "full" -> warm)
    counting(r)(r.op("warehouse.upsert")(ParquetWarehouse.upsert(
      batch(Loader.load(spark, s"$out/api_response.json"), MaefCli.acjKeep(p)),
      acj, Seq("conv_id", "session_id"))))
    counting(r)(r.op("warehouse.upsert_partitioned")(ParquetWarehouse.upsertPartitioned(
      batch(spark.read.option("header", "true").schema(MaefModel.ChannelReporting)
        .csv(s"$out/channel_report.csv"), MaefCli.reportKeep(p)),
      reporting, Seq("channel_name", "date"), "date")))
  }

  /** In traced passes, count the data files a warehouse call leaves that
    * were not there before it (both writers rewrite into fresh file names). */
  private def counting(r: Runner)(body: => Unit): Unit =
    if (!r.tracing) body
    else {
      val before = Workloads.dataFiles(warehouse).map(_.getPath).toSet
      body
      filesWritten += Workloads.dataFiles(warehouse).count(f => !before.contains(f.getPath))
    }

  override def facts: Map[String, Any] = Map(
    "out_dir" -> out, "acj" -> acj, "channel_reporting" -> reporting, "batches" -> batches.toSeq,
    "artifacts" -> artifacts.map(x => Map(
      "transformed_rows" -> x.transformedRows, "attribution_rows" -> x.attributionRows,
      "positive_ihc_rows" -> x.positiveIhcRows, "report_rows" -> x.reportRows)).orNull)

  def layers(spans: Seq[Span], jobs: Seq[(Long, Long)], tasks: Seq[TaskRec],
             plans: Seq[PlanRec]): Map[String, Double] = {
    val sqlite = spans.filter(_.name == "sources.sqlite")
    val sink = spans.filter(_.name == "maef.json_sink")
    val MB = 1024.0 * 1024.0
    val modules = rules.map(_._3).distinct
    val sinkMb = Seq("target_data.json", "api_response.json").map(f => new File(s"$out/$f").length).sum / MB
    val writes = spans.filter(_.name.startsWith("warehouse.upsert"))
    val userBytes = Seq("api_response.json", "channel_report.csv").map(f => new File(s"$out/$f").length).sum
    Map(
      "warehouse.upsert.s" -> Layers.sum(spans, "warehouse.upsert"),
      "warehouse.upsert_partitioned.s" -> Layers.sum(spans, "warehouse.upsert_partitioned"),
      "warehouse.bytes_written_per_input_byte" ->
        tasks.filter(t => Layers.within(t.launch, writes)).map(_.outputB).sum.toDouble / userBytes,
      "warehouse.files_written" -> filesWritten.toDouble,
      "warehouse.table_files" -> Workloads.dataFiles(warehouse).length.toDouble,
      "sources.sqlite.s" -> Layers.sum(spans, "sources.sqlite"),
      "sources.sqlite.task_s" -> tasks.filter(t => Layers.within(t.launch, sqlite)).map(_.runS).sum,
      "maef.json_sink.driver_s" ->
        (Layers.sum(spans, "maef.json_sink") - Intervals.overlap(jobs, Layers.ivals(sink)) / 1e9),
      "maef.json_sink.mb" -> sinkMb,
      // time inside MaefMain.run that no module rule names: run's own
      // frames (its counts, the Σihc gate) and unclassified samples
      "maef.other.s" -> (Layers.sum(spans, "maef.run") - modules.map(m => Layers.sum(spans, m)).sum)) ++
      modules.map(m => s"$m.s" -> Layers.sum(spans, m))
  }
}

object MaefCli {
  /** The keys a batch after the warm pass re-attributes (three in four;
    * a different quarter is left out in consecutive passes). The same
    * predicates are recomputed in checks.py. */
  def acjKeep(p: Int): Column =
    (ascii(substring(col("conv_id"), 1, 1)) + ascii(substring(col("session_id"), 1, 1))) % 4 =!= p % 4
  def reportKeep(p: Int): Column =
    (length(col("channel_name")) + substring(col("date"), 9, 2).cast("int")) % 4 =!= p % 4
}

/** Near-duplicate queries over the generated corpus, in a seeded order per
  * pass: n-gram Jaccard pairs, embedding-cosine pairs and both
  * connected-components kernels (min-label and star contraction). Timed
  * passes materialize through the noop sink; the warm pass writes parquet
  * for the DuckDB oracle comparison in run.py. */
final class DedupCorpus(spark: SparkSession, a: BenchMain.Args) extends Workload {
  val queries = Seq("q18_ngram_jaccard", "q21_embed_neardup", "q36_dedup_clusters",
    "q40_dedup_clusters_stars")
  private def short(q: String) = q.takeWhile(_ != '_')
  private val order = new scala.util.Random(a.seed)
  private val checkDir = s"${a.work}/dedup_corpus/check"
  override def minPasses: Int = 5

  def pass(r: Runner, warm: Boolean): Unit =
    order.shuffle(queries).foreach { q =>
      r.op(q) {
        val df = r.span(s"${short(q)}.builder", q)(SparkEntry.queries(q)(spark, a.input))
        r.span(s"${short(q)}.exec", q) {
          if (warm) df.write.mode("overwrite").parquet(s"$checkDir/$q")
          else df.write.format("noop").mode("overwrite").save()
        }
      }
    }

  override def check(r: Runner): Unit =
    Files.write(Paths.get(s"$checkDir/oracle_sql.json"),
      Json.v(queries.map(q => q -> SparkEntry.oracleSql(q)).toMap).getBytes(UTF_8))

  override def facts: Map[String, Any] = Map("check_dir" -> checkDir)

  def layers(spans: Seq[Span], jobs: Seq[(Long, Long)], tasks: Seq[TaskRec],
             plans: Seq[PlanRec]): Map[String, Double] =
    queries.flatMap { q =>
      val s = short(q)
      val own = spans.filter(_.name == q)
      Seq(
        s"$s.builder_s" -> Layers.sum(spans, s"$s.builder"),
        s"$s.exec_s" -> Layers.sum(spans, s"$s.exec"),
        s"$s.catalyst_s" -> plans.filter(p => Layers.within(p.start, own)).map(_.seconds).sum)
    }.toMap
}

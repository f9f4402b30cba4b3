package graft.maef

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

/** The reference's `main.py` as a runnable Spark CLI — the literal drop-in
  * entry point (main.py:20-83's five steps, same artifacts, same order):
  *
  *   1. warehouse copy + row-count verify          (db_utils.py:67-102)
  *   2. transform → `target_data.json`             (transform.py:229-260)
  *   3. attribution → `api_response.json`          (native model replaces
  *      the external IHC API)
  *   4. load + verification gates                  (load.py:120-169)
  *   5. channel report → `channel_report.csv`      (reporting.py:57-167)
  *
  * Run:
  *   runMain graft.maef.MaefMain <warehouseDir|warehouse.db> <outputDir> [start end]
  *
  * The warehouse is either the reference's SQLite file itself (`.db` or
  * `.sqlite`, main.py:43-47 opens challenge.db), read page-level by step
  * 1's copy, or a directory of parquet tables `conversions`,
  * `session_sources`, `session_costs` (MaefModel schemas — land a SQLite
  * file there once with [[stageSqliteWarehouse]]). The optional [start end]
  * (yyyy-MM-dd, validated like the reference's DAG window) filters
  * conversions by `conv_date`; when absent, the CLI falls back like the
  * DAG (ihc_api_dag.py:40-63): `ATTRIBUTION_START_DATE`/
  * `ATTRIBUTION_END_DATE` env vars (the Airflow Variables), then the
  * reference's hardcoded 2023-08-01..09-30 window. `run()` with
  * `window = None` stays unfiltered for library callers. Single-file JSON/CSV artifacts exist for
  * reference parity — they are API-boundary sized; bulk data stays in
  * partitioned parquet.
  */
object MaefMain {

  final case class Artifacts(
      transformedRows: Long, attributionRows: Long, positiveIhcRows: Long,
      reportRows: Long)

  private val schemas = Map(
    "conversions" -> MaefModel.Conversions,
    "session_sources" -> MaefModel.SessionSources,
    "session_costs" -> MaefModel.SessionCosts)

  /** The warehouse's three tables in the MaefModel schemas. A SQLite file is
    * read page-level and cast to the reference DDL types (SQLite INTEGER
    * affinity widens to i64 on read; the cast is the one a JDBC driver
    * applies); a parquet directory is read in the schema, so no read runs
    * an inference job. */
  private def sourceTables(
      spark: SparkSession, warehouse: String, sqlite: Boolean): Map[String, DataFrame] =
    schemas.map { case (name, schema) =>
      name -> (
        if (sqlite)
          graft.sources.SQLiteWarehouse.readTable(spark, warehouse, name)
            .select(schema.fields.map(f => col(f.name).cast(f.dataType).as(f.name)).toIndexedSeq: _*)
        else spark.read.schema(schema).parquet(s"$warehouse/$name"))
    }

  /** One CLI pass over `warehouse` (a `.db`/`.sqlite` file or a parquet
    * directory, see above), writing every artifact under `outDir`. */
  def run(
      spark: SparkSession,
      warehouse: String,
      outDir: String,
      window: Option[DateWindow.Window] = None): Artifacts = {
    // the two frames persisted below are released once the artifacts
    // are written, so neither a CLI pass nor a library call leaves
    // cached blocks behind
    val cached = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    def cache(df: DataFrame): DataFrame = {
      cached += df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      df
    }
    try {
      // Step 1: copy the warehouse and verify counts (S3/S4). A SQLite
      // file is read once, by this copy.
      val sqlite = warehouse.endsWith(".db") || warehouse.endsWith(".sqlite")
      MaefPipeline.copyAndVerify(sourceTables(spark, warehouse, sqlite), s"$outDir/warehouse")
      // read in the schema the copy was written in: no inference job per read
      val target = (name: String) => spark.read.schema(schemas(name)).parquet(s"$outDir/warehouse/$name")

      // Step 2: transform (windowed like the reference's date-bounded runs)
      val conversions = window match {
        case Some(w) => target("conversions")
          .filter(col("conv_date") >= w.startString && col("conv_date") <= w.endString)
        case None => target("conversions")
      }
      // journeys has two consumers (the JSON sink, attribution), so it is
      // persisted, unlike in MaefPipeline.run. The sink's collected rows
      // are its count, and the non-empty gate (transform.py:264-265) runs
      // on that count before target_data.json is created.
      val journeys = cache(MaefJourneys.transform(conversions, target("session_sources")))
      val nTransformed = JsonArrayIO.writePrettyJsonArray(journeys, s"$outDir/target_data.json",
        n => require(n > 0, "transform produced no journey entries"))

      // Step 3: attribution (native model in place of the external API)
      val attribution = cache(MaefPipeline.nativeAttribution(journeys, roundTo = Some(4)))
      // step 4's gate inputs and the row count, observed in the sink's scan
      val observed = new Observation()
      // the artifact is ENVELOPE-shaped like the reference's api_response.json
      // (an array of {statusCode, value:[records]}) so the pipeline's own
      // output replays through MaefPipeline.run(recordedResponses = ...) —
      // a flat record array would read back as zero records under the
      // ResponseEnvelope schema and fail the Σihc gate. One native "chunk" =
      // one 200 envelope; records sorted for a deterministic artifact.
      val responseEnvelope = attribution
        .observe(observed,
          coalesce(sum(col("ihc")), lit(0.0)).as("total_ihc"),
          count(when(col("ihc") > 0, lit(1))).as("positive"),
          count(lit(1)).as("rows"))
        .agg(sort_array(collect_list(struct(
          col("conv_id").as("conversion_id"), col("session_id"),
          col("initializer"), col("holder"), col("closer"), col("ihc")))).as("value"))
        .select(
          lit(200).as("statusCode"),
          col("value"),
          lit(null).cast(MaefModel.ResponseEnvelope("data").dataType).as("data"),
          lit(null).cast(MaefModel.ResponseEnvelope("results").dataType).as("results"),
          lit(null).cast(MaefModel.ResponseEnvelope("partialFailureErrors").dataType)
            .as("partialFailureErrors"))
      JsonArrayIO.writePrettyJsonArray(responseEnvelope, s"$outDir/api_response.json")

      // Step 4: load-side verification gates (A4/A6)
      val gates = observed.get
      Loader.requireValidIhc(gates("total_ihc").asInstanceOf[Double])
      val nPositive = Loader.requireLoaded(gates("positive").asInstanceOf[Long])

      // Step 5: channel report + export. The FULL conversions table feeds
      // the report, not the windowed view: reporting.py:97's HAVING bound is
      // `(SELECT MIN(conv_date) FROM conversions)` over the whole table, so
      // report rows dated before the run window (attribution from pre-window
      // sessions of in-window conversions) must survive — the windowed
      // attribution already scopes WHICH conversions are reported. The CSV
      // write is the report's one consumer, and it counts the rows.
      val report = MaefReporting.`export`(
        MaefReporting.channelReport(
          attribution,
          target("session_sources"), target("session_costs"), target("conversions"),
          fanout = false, exactSums = true))
      val nReport = JsonArrayIO.writeSingleCsv(report, s"$outDir/channel_report.csv")

      Artifacts(nTransformed, gates("rows").asInstanceOf[Long], nPositive, nReport)
    } finally cached.foreach(_.unpersist())
  }

  /** Stage a SQLite warehouse file into `stagingDir` as parquet, cast on
    * read to the reference DDL types and written once, with verified
    * counts. Returns the directory `run` accepts as its warehouse — the
    * stage-once pattern for callers that run many passes over one file
    * (`run` also takes the file itself). */
  def stageSqliteWarehouse(spark: SparkSession, dbPath: String, stagingDir: String): String = {
    MaefPipeline.copyAndVerify(sourceTables(spark, dbPath, sqlite = true), stagingDir)
    stagingDir
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: MaefMain <warehouseDir|warehouse.db> <outputDir> [startDate endDate]")
    // The DAG's window chain (ihc_api_dag.py:40-63): explicit CLI dates →
    // ATTRIBUTION_START_DATE/ATTRIBUTION_END_DATE env vars (the Airflow
    // Variables) → the reference's hardcoded 2023-08-01..09-30 fallback.
    val window = Some(DateWindow.resolve(
      explicit = if (args.length >= 4) Some((args(2), args(3))) else None,
      variables = sys.env.get,
      today = java.time.LocalDate.now()))
    val spark = graft.Session(sys.env.get("SPARK_MASTER"))
    try {
      val a = run(spark, args(0), args(1), window)
      println(s"pipeline complete: ${a.transformedRows} journey rows, " +
        s"${a.attributionRows} attribution rows (${a.positiveIhcRows} with ihc>0), " +
        s"${a.reportRows} report rows")
    } finally spark.stop()
  }
}

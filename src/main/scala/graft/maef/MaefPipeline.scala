package graft.maef

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Attribution
import graft.sources.ParquetWarehouse

/** The reference's 5-step pipeline (main.py:20-83) as a single Spark
  * driver: warehouse → transform → attribution → load → report. Stage
  * boundaries that were Airflow tasks + XCom file paths
  * (dags/ihc_api_dag.py:257-307) become plain function calls over
  * DataFrames — one Catalyst plan per output, no intermediate
  * materialization unless a sink is requested.
  */
object MaefPipeline {

  /** Semantics toggles (SURVEY §7.4): v1/v2 journey window, inclusive
    * conversion session, reference-faithful fanout costs, API-style ihc
    * rounding. Defaults reproduce the reference's v2 run. */
  case class Config(
      lookbackDays: Option[Int] = None,
      inclusive: Boolean = false,
      fanoutCosts: Boolean = true,
      roundIhcTo: Option[Int] = Some(4),
      exactSums: Boolean = false)

  /** S3/S4: copy tables to the warehouse dir and verify row counts —
    * the reference's source→target copy + COUNT(*) check
    * (src/database/db_utils.py:67-102), each source read once.
    *
    * The copies are independent write jobs, each too small to fill the
    * cluster, so each runs on its own thread of a pool made for this call.
    * The threads are created by the caller, so they inherit its Spark
    * local properties (job group, scheduler pool). The call returns, or
    * throws, only once every copy has stopped and every pool thread has
    * exited: a failure is the first failing table's, in the map's order,
    * with the others' added as suppressed. */
  def copyAndVerify(tables: Map[String, DataFrame], targetDir: String): Map[String, Long] = {
    val workers = java.util.concurrent.ConcurrentHashMap.newKeySet[Thread]()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(math.max(1, tables.size),
      (r: Runnable) => {
        val t = new Thread(r, s"copy-and-verify-${workers.size}")
        t.setDaemon(true)
        workers.add(t)
        t
      })
    try {
      val copies = tables.toSeq.map { case (name, df) =>
        name -> pool.submit(new java.util.concurrent.Callable[Long] {
          def call(): Long = ParquetWarehouse.writeVerified(df, s"$targetDir/$name")
        })
      }
      val outcomes = copies.map { case (name, copy) =>
        name -> (try Right(copy.get())
        catch { case e: java.util.concurrent.ExecutionException => Left(e.getCause) })
      }
      outcomes.collect { case (_, Left(e)) => e } match {
        case first +: others =>
          others.foreach(first.addSuppressed)
          throw first
        case _ => outcomes.collect { case (name, Right(n)) => name -> n }.toMap
      }
    } finally {
      pool.shutdown()
      workers.forEach(_.join())
    }
  }

  /** §7.2: native IHC attribution over journey entries (the drop-in
    * replacement for the external API; same output schema as
    * attribution_customer_journey + component weights). */
  def nativeAttribution(journeyEntries: DataFrame, roundTo: Option[Int]): DataFrame = {
    val attributed = Attribution.ihc(
      journeyEntries.withColumnRenamed("timestamp", "session_ts"))
    val rounded = roundTo match {
      case Some(d) => attributed
        .withColumn("initializer", round(col("initializer"), d))
        .withColumn("holder", round(col("holder"), d))
        .withColumn("closer", round(col("closer"), d))
        .withColumn("ihc", round(col("ihc"), d))
      case None => attributed
    }
    rounded.select(
      col("conversion_id").as("conv_id"), col("session_id"),
      col("initializer"), col("holder"), col("closer"), col("ihc"))
  }

  /** Non-empty gate (transform.py:264-265) on an UN-persisted plan:
    * `limit(1)` short-circuits after the first produced row, so the gate
    * costs one partial pass — never a full materialization. Call BEFORE
    * persisting the frame: gating a persisted frame would partially cache
    * and pay the serialization barrier. (MaefMain.run needs no extra pass:
    * it gates on the row count its JSON sink collects anyway.) */
  private[maef] def requireNonEmpty(df: DataFrame, msg: String): Unit =
    require(df.limit(1).count() == 1L, msg)

  /** Transform → attribute → report → export, end to end. Returns the
    * export-shaped report (channel_name, date, cost, ihc, ihc_revenue,
    * cpo, roas). Pass `recordedResponses` to substitute the reference's
    * recorded api_response.json for the native model (golden replay). */
  def run(
      spark: SparkSession,
      conversions: DataFrame,
      sessions: DataFrame,
      costs: DataFrame,
      cfg: Config = Config(),
      recordedResponses: Option[String] = None): DataFrame = {
    // The journey join has exactly one downstream consumer (the attribution
    // pass), so caching it would buy nothing and force a full
    // materialization + serialization barrier into the plan — measured at a
    // 1.67× slowdown of the whole pipeline at sf0.1.
    val journeys = MaefJourneys.transform(conversions, sessions, cfg.lookbackDays, cfg.inclusive)
    requireNonEmpty(journeys, "transform produced no journey entries")
    val attribution = recordedResponses match {
      case Some(path) => Loader.load(spark, path)
      case None       => nativeAttribution(journeys, cfg.roundIhcTo)
    }
    MaefReporting.`export`(
      MaefReporting.channelReport(
        attribution, sessions, costs, conversions, cfg.fanoutCosts, cfg.exactSums))
  }
}

package graft.maef

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Attribution-result loading (src/etl/load.py:16-147):
  * envelope dispatch/flatten (P8/L1) → validate/cast (P9) → first-wins
  * dedup (L2) → Σihc gate (A4).
  *
  * The reference walks the envelope array in Python; here each step is a
  * DataFrame transform: the dispatch is a `coalesce` over the three
  * possible payload fields gated on statusCode, the flatten an `explode`,
  * the dedup a `row_number` window over explicit file order. File order is
  * captured at read via the envelope index so "first wins" is
  * deterministic (SURVEY §7.4.4) — the reference's in-file iteration order,
  * which its later `INSERT OR REPLACE` (last-wins) never actually
  * contradicts because duplicates are already dropped here.
  */
object Loader {

  /** L1/P8: one row per attribution record, in envelope order.
    * statusCode==200 envelopes contribute `value`; others fall back to
    * `data` then `results` (load.py:36-53). */
  def flattenEnvelopes(envelopes: DataFrame): DataFrame = {
    val payload = when(col("statusCode") === 200, col("value"))
      .otherwise(coalesce(col("data"), col("results")))
    envelopes
      .withColumn("envelope_idx", monotonically_increasing_id())
      .select(col("envelope_idx"), posexplode_outer(payload).as(Seq("record_idx", "r")))
      .filter(col("r").isNotNull)
      .select(col("envelope_idx"), col("record_idx"), col("r.*"))
  }

  /** P9 + L2 + A4: validate, cast, dedup first-wins, gate on Σihc > 0.
    * Output matches attribution_customer_journey. */
  def validateAndDedup(records: DataFrame): DataFrame = {
    val typed = records
      .filter(
        col("conversion_id").isNotNull && col("session_id").isNotNull &&
          col("ihc").isNotNull)
      .select(
        col("conversion_id").cast("string").as("conv_id"),
        col("session_id").cast("string").as("session_id"),
        coalesce(col("ihc").cast("double"), lit(0.0)).as("ihc"),
        col("envelope_idx"), col("record_idx"))
      .filter(col("conv_id") =!= "" && col("session_id") =!= "")
    val w = Window.partitionBy(col("conv_id"), col("session_id"))
      .orderBy(col("envelope_idx"), col("record_idx"))
    typed
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .drop("rn", "envelope_idx", "record_idx")
  }

  /** O2: up to `n` sample rows of malformed envelopes for diagnostics
    * (load.py:48-67 keeps ≤3). */
  def structureSamples(envelopes: DataFrame, n: Int = 3): DataFrame =
    envelopes
      .filter(
        (col("statusCode") === 200 && col("value").isNull) ||
          (col("statusCode").isNull || col("statusCode") =!= 200) &&
            col("data").isNull && col("results").isNull)
      .limit(n)

  /** A6: the reference's post-load verification — COUNT(*) WHERE ihc > 0
    * must be ≥ 1 (load.py:149-169). */
  def verifyLoaded(acj: DataFrame): Long = requireLoaded(acj.filter(col("ihc") > 0).count())

  /** A6 on a count taken elsewhere (an `Observation`): `nPositive` rows
    * with ihc > 0 must be ≥ 1. Returns it. */
  def requireLoaded(nPositive: Long): Long = {
    require(nPositive >= 1, "post-load verification failed: no rows with ihc > 0")
    nPositive
  }

  /** A4: Σihc > 0 (load.py:120-123). */
  def requireValidIhc(totalIhc: Double): Unit =
    require(totalIhc > 0, s"Attribution data contains no valid IHC values (total=$totalIhc)")

  /** Full load from a JSON-array response file, with the reference's
    * Σihc > 0 gate (load.py:120-123). */
  def load(spark: SparkSession, path: String): DataFrame = {
    val envelopes = JsonArrayIO.readJsonArray(spark, path, MaefModel.ResponseEnvelope)
    // The gate runs on the lazy plan and nothing is persisted, so a load
    // leaves no cached blocks behind: a consumer recomputes the flatten +
    // dedup from the (API-boundary sized) JSON file.
    val out = validateAndDedup(flattenEnvelopes(envelopes))
    requireValidIhc(out.agg(coalesce(sum(col("ihc")), lit(0.0))).first().getDouble(0))
    out
  }
}

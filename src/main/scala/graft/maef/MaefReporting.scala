package graft.maef

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The reference's reporting query on its own schema, re-expressed as one
  * Catalyst plan (src/etl/reporting.py:57-98 + export 150-167) — the one
  * reporting kernel: the CLI (`MaefMain.run`), `MaefPipeline.run` and the
  * q04/q05/q26 gates all run it.
  *
  * Pipeline shape (SURVEY §3.3): attribution ⋈ sessions (J3) ⋈
  * conversions (J4) → attributed revenue (P7), channel/date rollup (A2),
  * cost side via sessions ⟕ costs (J5), revenue-grain ⟕ cost-grain (J6),
  * HAVING with an uncorrelated scalar subquery (A3), cpo/roas projection
  * (P7), ORDER BY (O1).
  *
  * `fanout = true` reproduces the reference verbatim, INCLUDING its
  * chasm-trap J6: `attribution_revenue` rows (session grain) LEFT JOIN
  * `channel_costs` rows (session grain) on (channel, date) before the
  * GROUP BY, so `SUM(cc.cost)` multiplies each session's cost by the
  * number of attribution rows that channel-day and `SUM(ar.ihc)` by the
  * number of cost rows — the golden CSVs embody exactly this (SURVEY §2.3
  * J6). `fanout = false` ("strictCosts") pre-aggregates each grain first —
  * the semantically-correct, scale-safe plan.
  */
object MaefReporting {

  /** `exactSums = true` routes every SUM through an exact DECIMAL(28,12)
    * cast (then back to double) so the aggregate is independent of
    * partial-aggregation order — required when a bit-exact external oracle
    * checks the output. Default `false` = reference-faithful plain double
    * sums.
    *
    * `minDateFilter = false` disables the reference's A3 HAVING
    * (`date >= MIN(conv_date)`) which silently drops attribution landing
    * before the first conversion — a surprising-but-faithful default.
    *
    * `attribution` may carry more than its key and measure (a journey-shaped
    * frame does); it is projected to (conv_id, session_id, ihc) first, so
    * its other columns cannot collide with the conversions' `revenue`. */
  def channelReport(
      attribution: DataFrame, // conv_id, session_id, ihc
      sessions: DataFrame,    // MaefModel.SessionSources
      costs: DataFrame,       // MaefModel.SessionCosts
      conversions: DataFrame, // MaefModel.Conversions
      fanout: Boolean = true,
      exactSums: Boolean = false,
      minDateFilter: Boolean = true): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    // Exact mode rescales the DECIMAL(28,12) sum HALF_UP to scale 6 before
    // the double cast so the unscaled value stays below 2^53: past that, an
    // engine converting decimal→double via (double)unscaled / 10^scale
    // (DuckDB's int128 path) lands one ulp away from a correctly-rounded
    // conversion (Spark's BigDecimal path) — measured as 1-ulp mismatches
    // on sums ≥ ~10^4 at sf0.1. The q04/q05 oracle mirrors the HALF_UP
    // rescale as truncate(sum + 0.0000005), since its decimal→decimal cast
    // truncates.
    def s(c: org.apache.spark.sql.Column) =
      if (exactSums)
        sum(c.cast(DecimalType(28, 12))).cast(DecimalType(28, 6)).cast("double")
      else sum(c)

    // CTE attribution_revenue (reporting.py:58-73)
    val ar = attribution.select(col("conv_id"), col("session_id"), col("ihc"))
      .join(sessions, Seq("session_id"))
      .join(conversions.select(col("conv_id"), col("conv_date"), col("revenue")), Seq("conv_id"))
      .filter(
        col("session_id").isNotNull && col("session_id") =!= "" &&
          col("channel_name").isNotNull && col("event_date").isNotNull)
      .select(
        coalesce(nullif(col("channel_name"), lit("")), lit("unknown")).as("channel_name"),
        coalesce(nullif(col("event_date"), lit("")), col("conv_date")).as("date"),
        coalesce(col("ihc"), lit(0.0)).as("ihc"),
        (coalesce(col("revenue"), lit(0.0)) * coalesce(col("ihc"), lit(0.0)))
          .as("attributed_revenue"))

    // CTE channel_costs (reporting.py:74-84)
    val cc = sessions
      .join(costs, Seq("session_id"), "left")
      .filter(col("channel_name").isNotNull && col("event_date").isNotNull)
      .select(
        coalesce(nullif(col("channel_name"), lit("")), lit("unknown")).as("channel_name"),
        coalesce(nullif(col("event_date"), lit("")), lit("1970-01-01")).as("date"),
        coalesce(col("cost"), lit(0.0)).as("cost"))

    // A3: uncorrelated scalar subquery (reporting.py:97)
    val minDate = conversions.agg(min(col("conv_date")).as("min_conv_date"))

    val grouped =
      if (fanout)
        ar.join(cc, Seq("channel_name", "date"), "left")
          .groupBy(col("channel_name"), col("date"))
          .agg(
            coalesce(s(col("cost")), lit(0.0)).as("cost"),
            coalesce(s(col("ihc")), lit(0.0)).as("ihc"),
            coalesce(s(col("attributed_revenue")), lit(0.0)).as("ihc_revenue"))
      else {
        val revAgg = ar.groupBy(col("channel_name"), col("date")).agg(
          coalesce(s(col("ihc")), lit(0.0)).as("ihc"),
          coalesce(s(col("attributed_revenue")), lit(0.0)).as("ihc_revenue"))
        val costAgg = cc.groupBy(col("channel_name"), col("date"))
          .agg(coalesce(s(col("cost")), lit(0.0)).as("cost"))
        revAgg.join(costAgg, Seq("channel_name", "date"), "left")
          .select(
            col("channel_name"), col("date"),
            coalesce(col("cost"), lit(0.0)).as("cost"),
            col("ihc"), col("ihc_revenue"))
      }

    val unknownFiltered = grouped.filter(col("channel_name") =!= "unknown")
    if (minDateFilter)
      unknownFiltered
        .join(minDate)
        .filter(col("date") >= col("min_conv_date"))
        .drop("min_conv_date")
    else unknownFiltered
  }

  /** Export projection (reporting.py:150-167): CPO/ROAS + ORDER BY. The
    * report has at most one row per channel and day, so it is sorted in
    * one partition: a global `orderBy` would run a range-sampling job
    * first, for output the single-file sink writes as one file anyway. */
  def `export`(report: DataFrame): DataFrame =
    report
      .withColumn("cpo",
        when(col("ihc") > 0, col("cost") / col("ihc")).otherwise(lit(0.0)))
      .withColumn("roas",
        when(col("cost") > 0, col("ihc_revenue") / col("cost")).otherwise(lit(0.0)))
      .repartition(1)
      .sortWithinPartitions(col("channel_name"), col("date"))
}

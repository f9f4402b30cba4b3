package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Exact per-group discrete quantiles (nearest-rank / "lower" method):
  * the p-quantile of a group of n rows is the element at rank
  * ⌈p·n⌉ in the group's total order (rank ≥ 1). Returning an actual
  * element of the column — not an interpolated double — is what makes
  * the result engine-portable bit-for-bit: there is no floating-point
  * interpolation whose low bits could differ between engines.
  *
  * Plan shape: ONE window shuffle keyed on the group columns computes
  * `row_number` + `count` in a single pass, then a conditional
  * `min(when(rn == ceil(p·n)))` aggregation reuses the same partitioning
  * (Catalyst sees the child is already hash-partitioned on the group key,
  * so the groupBy adds no second exchange). For sketch-sized accuracy at
  * petabyte scale use `approx_percentile` instead — this operator is the
  * exact path for when the answer must be reproducible.
  */
object Quantiles {

  /** One row per group: `p{25,50,75,90}` exact discrete quantiles of
    * `valueCol` plus `n` rows. Ties inside `valueCol` are broken by
    * `tieCol` so the total order (and therefore the chosen element) is
    * deterministic.
    */
  def discrete(
      df: DataFrame,
      groupCol: String,
      valueCol: String,
      tieCol: String): DataFrame = {
    val w = Window.partitionBy(col(groupCol)).orderBy(col(valueCol), col(tieCol))
    val ranked = df
      .select(col(groupCol), col(valueCol), col(tieCol))
      .withColumn("__rn", row_number().over(w))
      .withColumn("__n", count(lit(1)).over(Window.partitionBy(col(groupCol))))
    def pick(p: Double, name: String) =
      min(when(col("__rn") === ceil(lit(p) * col("__n")), col(valueCol))).as(name)
    ranked.groupBy(col(groupCol)).agg(
      pick(0.25, "p25"),
      pick(0.50, "p50"),
      pick(0.75, "p75"),
      pick(0.90, "p90"),
      count(lit(1)).as("n"))
  }

  /** Percentile-rank (empirical-CDF) normalization — the rank-based
    * feature transform (quantile normalization): each row gets its dense
    * position in the group's total order and `pct_rank = (rank−1)/(n−1)`
    * in [0, 1] (0 for a singleton group), the exact spelling of SQL
    * `percent_rank`. The rank and n are exact longs and the quotient is
    * ONE IEEE long/long division, so engines agree bit-for-bit with no
    * rounding discipline (same parity argument as Attribution.ihc's
    * holder share). ONE window shuffle on the group key computes both
    * window functions in a single pass; ties in `valueCol` break by
    * `tieCol`, making the whole transform deterministic. */
  def percentileRank(
      df: DataFrame,
      groupCol: String,
      valueCol: String,
      tieCol: String): DataFrame = {
    val ordered = Window.partitionBy(col(groupCol)).orderBy(col(valueCol), col(tieCol))
    val whole = Window.partitionBy(col(groupCol))
    df.withColumn("rank", row_number().over(ordered).cast("long"))
      .withColumn("n_rows", count(lit(1)).over(whole))
      .withColumn("pct_rank",
        when(col("n_rows") === 1, lit(0.0))
          .otherwise((col("rank") - 1).cast("double") / (col("n_rows") - 1).cast("double")))
  }

  /** Percentile-cutoff outlier filter — the standard "trim the
    * pathological tails per domain" curation cut: keep rows whose value
    * lies inside the group's [pLo, pHi] DISCRETE quantiles (nearest-rank,
    * same arithmetic as `discrete`, so the cut is an actual corpus value
    * and replays bit-for-bit on any engine). Output = input columns +
    * `lo`/`hi` bounds.
    *
    * Plan shape: the bounds table is one narrow row per group — broadcast
    * back into the corpus scan, so the filter pass is shuffle-free; the
    * only exchange is the quantile window's. At 100 TB: one window
    * shuffle + a broadcast join, and column pruning keeps the ranked
    * frame to (group, value, tie). */
  def percentileFilter(
      df: DataFrame,
      groupCol: String,
      valueCol: String,
      tieCol: String,
      pLo: Double = 0.10,
      pHi: Double = 0.90): DataFrame = {
    require(pLo >= 0.0 && pHi <= 1.0 && pLo <= pHi, s"bad percentile window [$pLo, $pHi]")
    val w = Window.partitionBy(col(groupCol)).orderBy(col(valueCol), col(tieCol))
    val ranked = df
      .select(col(groupCol), col(valueCol), col(tieCol))
      .withColumn("__rn", row_number().over(w))
      .withColumn("__n", count(lit(1)).over(Window.partitionBy(col(groupCol))))
    // rank clamped to ≥ 1: ceil(0·n) = 0 matches no row, which would make
    // p = 0.0 silently produce NULL bounds and drop EVERY row — clamping
    // gives it the natural meaning (the group minimum / maximum)
    def rank(p: Double) = greatest(ceil(lit(p) * col("__n")), lit(1L))
    val bounds = ranked.groupBy(col(groupCol)).agg(
      min(when(col("__rn") === rank(pLo), col(valueCol))).as("lo"),
      min(when(col("__rn") === rank(pHi), col(valueCol))).as("hi"))
    // null-SAFE group join: a null group key is its own group for the
    // window above, so its rows must meet their own bounds instead of
    // being dropped wholesale by a null-unsafe equi-join
    df.join(broadcast(bounds.withColumnRenamed(groupCol, "__g")),
        col(groupCol) <=> col("__g"))
      .drop("__g")
      .filter(col(valueCol) >= col("lo") && col(valueCol) <= col("hi"))
  }
}

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

  /** Parallelism a single-group window cannot exceed: one task per group.
    * Below this many groups the window path is sort-bound (the 10×/100×
    * scale run measured 9.5×/decade at 5 groups — one task total-sorts
    * each group), so `percentileRankAuto` considers the bucketed plan. At
    * or above it, per-group sorts already spread across the cluster and
    * the plain window's single shuffle wins. */
  val LowCardinalityThreshold = 64

  /** The second switch condition: the bucketed plan carries constant
    * machinery (a stats agg + two broadcasts + a G·B prefix sum) that
    * only pays once the serial per-group sorts are substantial. Measured
    * on local[32] at 5 groups (medians-of-3 on materialized parquet):
    * 20 k rows/group window 0.95 s vs bucketed 1.69 s; 200 k/group
    * 0.66 vs 1.42 (machinery-bound); 1 M/group ties
    * (3.28 vs 3.15); 2 M/group bucketed wins 5.32 vs 3.25. The threshold
    * sits at the measured tie. local[32] understates the win: the window
    * path's per-group sort is SERIAL in group size, so on a wide cluster
    * the gap keeps growing where local threads cap out. */
  val RowsPerGroupThreshold = 1000000L

  /** `percentileRank` with the scale path chosen from the group count AND
    * per-group volume: hints (staged stats, the production convention —
    * see Dedup.CorpusHint) or, when absent, one `approx_count_distinct` /
    * `count` planning scan each. Few groups + heavy groups →
    * `percentileRankBucketed`; otherwise the single-window plan. Both
    * spell the identical output (spec-pinned on the tails), so the
    * switch is purely physical. */
  def percentileRankAuto(
      df: DataFrame,
      groupCol: String,
      valueCol: String,
      tieCol: String,
      groupCountHint: Option[Long] = None,
      rowCountHint: Option[Long] = None,
      buckets: Int = 256): DataFrame = {
    // both planning scans are lazy: the type test below is free and
    // decides first, so a non-bucketable value column costs zero jobs
    lazy val groups = math.max(1L, groupCountHint.getOrElse(
      df.agg(approx_count_distinct(col(groupCol))).head().getLong(0)))
    lazy val rows = rowCountHint.getOrElse(df.count()) // metadata-fast on parquet
    // only order-compatible value types take the bucketed plan: the bucket
    // index lives in double space, so the double cast must preserve the
    // column's native ordering (a string column sorts "10" < "9" while
    // its cast buckets 9.0 before 10.0)
    if (bucketableType(df, valueCol) &&
        groups < LowCardinalityThreshold && rows / groups >= RowsPerGroupThreshold)
      percentileRankBucketed(df, groupCol, valueCol, tieCol, buckets)
    else percentileRank(df, groupCol, valueCol, tieCol)
  }

  /** Value types whose double cast is order-compatible with the column's
    * native sort order — the bucketed plan's correctness contract. Numeric
    * types trivially; timestamps cast to (fractional) epoch seconds and
    * booleans to 0/1, both strictly monotone. Dates, TIMESTAMP_NTZ and
    * strings do NOT qualify: Spark refuses date→double and ntz→double
    * outright, and lexicographic string order contradicts the numeric
    * cast. Field lookup is case-insensitive like the analyzer's default
    * resolution (spark.sql.caseSensitive=false), so a case-mismatched
    * name routes by its real type instead of throwing. */
  private[graft] def bucketableType(df: DataFrame, valueCol: String): Boolean =
    df.schema.fields.find(_.name.equalsIgnoreCase(valueCol)).map(_.dataType).exists {
      case _: org.apache.spark.sql.types.NumericType => true
      case org.apache.spark.sql.types.TimestampType => true
      case org.apache.spark.sql.types.BooleanType => true
      case _ => false
    }

  /** The low-group-cardinality scale path for `percentileRank`: identical
    * output, but no per-group total sort. With G groups the plain window
    * has exactly G-way parallelism — at 5 domains over 100 TB, five tasks
    * sort 20 TB each. Here the group's value range is cut into `buckets`
    * uniform sub-ranges from its EXACT min/max, rows are ranked inside
    * (group, bucket) — G·B-way parallel sorts of n/(G·B) rows — and each
    * bucket's global offset (the count of rows in lower buckets, a prefix
    * sum over the G·B-row count frame) is broadcast back:
    * `rank = offset + intra-bucket row_number`.
    *
    * Exactness: the bucket index is a function of the VALUE alone, so rows
    * that tie on `valueCol` land in the same bucket and break by `tieCol`
    * there — the composed order (bucket, value, tie) is the window path's
    * (value, tie) order exactly; NULL values get bucket -1, matching the
    * window's nulls-first default. Skew caveat: uniform cuts of a heavy-
    * tailed range concentrate rows in few buckets; worst case degrades
    * toward the plain window, never below it by more than the extra
    * stats scan + broadcast.
    *
    * Plan shape: one narrow min/max agg per group (broadcast), ONE wide
    * shuffle on (group, bucket) that both the intra-bucket window and the
    * bucket-count agg reuse, a G·B-row prefix-sum, and a broadcast join —
    * no exchange ever carries the data twice. */
  def percentileRankBucketed(
      df: DataFrame,
      groupCol: String,
      valueCol: String,
      tieCol: String,
      buckets: Int = 256): DataFrame = {
    require(buckets >= 1, s"buckets must be >= 1, got $buckets")
    // the bucket index is computed in double space, so the value type's
    // double cast must preserve its native ordering (see bucketableType) —
    // a string column sorts "10" < "9" while its cast buckets 9.0 before
    // 10.0, which would silently contradict percentileRank
    require(bucketableType(df, valueCol),
      s"percentileRankBucketed requires a value column whose double cast is " +
        s"order-compatible (numeric/timestamp/boolean) — $valueCol is not; " +
        "use percentileRank (the window path)")
    val v = col(valueCol).cast("double")
    // stats over NON-NaN values only: Spark orders NaN greater than every
    // double, so max() returns NaN whenever the group contains one. A NaN
    // bucket width happens to stay order-correct (floor(NaN) is NULL,
    // least() skips it, every row lands in the top bucket) but collapses
    // the whole group into ONE bucket — exactly the serial sort this path
    // exists to avoid. Excluding NaN keeps real bucketing for the rest
    val stats = df.groupBy(col(groupCol)).agg(
      min(when(!isnan(v), v)).as("__mn"), max(when(!isnan(v), v)).as("__mx"))
    // bucket in [0, buckets): uniform cut of [mn, mx]; the top edge clamps
    // into the last bucket; a constant group (mn == mx) is one bucket.
    // NULL buckets at -1 (windows sort nulls first) and NaN at `buckets`
    // (Spark sorts NaN after every other double) so the composed
    // (bucket, value, tie) order is the window path's (value, tie) exactly
    // a SUBNORMAL group range can underflow the width to exactly 0.0
    // while mn ≠ mx — under ANSI mode that division throws
    // DIVIDE_BY_ZERO, and with ANSI off floor(±Inf/NaN) would scramble
    // the bucket — so a zero width gets its own single-bucket branch
    // (CaseWhen only evaluates the matched branch, guarding the
    // division). The index stays in LONG space with a two-sided clamp:
    // floor saturates at Long.MaxValue for huge quotients, which an int
    // cast would WRAP to a negative bucket (inverting the order)
    val width = (col("__mx") - col("__mn")) / buckets
    val b = when(col(valueCol).isNull, lit(-1L))
      .when(isnan(v), lit(buckets.toLong))
      .when(col("__mx") === col("__mn") || width === 0.0, lit(0L))
      .otherwise(greatest(least(
        floor((v - col("__mn")) / width),
        lit((buckets - 1).toLong)), lit(0L)))
    // null-SAFE group join: the window path treats a NULL group key as its
    // own group, so the stats/offset joins must match it too (a plain
    // equi-join would silently drop every null-group row)
    val statsR = stats.withColumnRenamed(groupCol, "__g")
    val withB = df.join(broadcast(statsR), col(groupCol) <=> col("__g"))
      .drop("__g").withColumn("__b", b)
    val intra = Window.partitionBy(col(groupCol), col("__b"))
      .orderBy(col(valueCol), col(tieCol))
    val ranked = withB.withColumn("__ir", row_number().over(intra).cast("long"))
    // per-bucket counts reuse the (group, bucket) partitioning the window
    // just established; the prefix sum runs over G·B narrow rows
    val counts = ranked.groupBy(col(groupCol), col("__b"))
      .agg(count(lit(1)).as("__c"))
    val offW = Window.partitionBy(col(groupCol)).orderBy(col("__b"))
    val offsets = counts
      .withColumn("__off", sum(col("__c")).over(offW) - col("__c"))
      .withColumn("n_rows", sum(col("__c")).over(Window.partitionBy(col(groupCol))))
      .select(col(groupCol).as("__g"), col("__b").as("__b2"), col("__off"), col("n_rows"))
    ranked.join(broadcast(offsets),
        col(groupCol) <=> col("__g") && col("__b") === col("__b2"))
      .drop("__g", "__b2")
      .withColumn("rank", (col("__off") + col("__ir")).cast("long"))
      .withColumn("pct_rank",
        when(col("n_rows") === 1, lit(0.0))
          .otherwise((col("rank") - 1).cast("double") / (col("n_rows") - 1).cast("double")))
      // column order pinned to the window path's: input cols, rank, n_rows,
      // pct_rank — the two plans must be schema-interchangeable
      .select(df.columns.map(col).toIndexedSeq :+ col("rank") :+ col("n_rows") :+ col("pct_rank"): _*)
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

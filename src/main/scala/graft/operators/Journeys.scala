package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Customer-journey construction — the reference's core operator (J1/J2).
  *
  * Reference semantics (src/etl/transform.py:229-238): for every conversion,
  * collect ALL sessions of the same user whose timestamp is strictly before
  * the conversion timestamp. The reference implements this as an
  * O(conversions × sessions) pandas loop — a full boolean-mask scan of the
  * sessions frame per conversion row.
  *
  * Spark-first re-expression: an equi join on `user_id` with a residual
  * range predicate `session_ts < conv_ts`. Catalyst plans this as a
  * shuffled hash / sort-merge join partitioned by `user_id`, so at cluster
  * scale each executor only compares a user's own sessions with that user's
  * conversions — O(Σ_u C_u × S_u), not O(C × S), and fully parallel.
  * The conversions side is usually the smaller one; with AQE enabled Spark
  * broadcast-converts it automatically when it fits.
  *
  * The v1 lookback-window variant (src/etl/transform.py:113-119, commented
  * out in the reference) bounds the scan to `[conv_ts − lookback, conv_ts)`
  * — pass `lookback = Some(expr("interval 30 days"))`. At 100 TB the
  * bounded variant additionally enables partition pruning when both tables
  * are date-partitioned.
  */
object Journeys {

  /** J1: all prior sessions of the converting user (strict `<`, as v2 of
    * the reference — the converting session itself is excluded, which is
    * why the reference's `conversion` flag is always 0; see SURVEY §7.4.3).
    */
  def construct(
      conversions: DataFrame,
      sessions: DataFrame,
      lookback: Option[Column] = None): DataFrame = {
    val base = col("session_ts") < col("conv_ts")
    val cond = lookback match {
      case Some(iv) => base && col("session_ts") >= col("conv_ts") - iv
      case None     => base
    }
    conversions
      .join(sessions, Seq("user_id"))
      .filter(cond)
      .select(
        col("conv_id").as("conversion_id"),
        col("session_id"),
        col("user_id"),
        col("session_ts"),
        col("conv_ts"),
        col("channel_name").as("channel_label"),
        col("holder_engagement"),
        col("closer_engagement"),
        // Reference: conversion = 1 iff session_ts == conv_ts
        // (src/etl/transform.py:245) — always 0 under the strict `<` join.
        when(col("session_ts") === col("conv_ts"), 1).otherwise(0).as("conversion"),
        col("impression_interaction"),
        col("revenue"),
        col("cost"))
  }

  /** A1/A5-style per-journey rollup: size, span, distinct channels.
    * All outputs are exact integer arithmetic (micros), so the DuckDB
    * oracle hash-matches bit-for-bit.
    */
  def journeyStats(journeys: DataFrame): DataFrame =
    journeys
      .groupBy(col("conversion_id"))
      .agg(
        count(lit(1)).as("n_sessions"),
        countDistinct(col("channel_label")).as("n_channels"),
        min(unix_micros(col("session_ts"))).as("first_touch_us"),
        max(unix_micros(col("session_ts"))).as("last_touch_us"),
        (max(unix_micros(col("session_ts"))) - min(unix_micros(col("session_ts"))))
          .as("span_us"))
}

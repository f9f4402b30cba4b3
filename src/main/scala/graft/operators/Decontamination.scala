package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Train/eval decontamination: flag training documents that share word
  * n-grams with a benchmark (evaluation) corpus — the GPT-3/Pile-style
  * "13-gram overlap" step every pre-training pipeline runs before the
  * tokenizer (n is a dial; the short synthetic docs here use the same
  * 3-gram shingles as the dedup operators).
  *
  * Plan shape, sized for the real asymmetry — a ~100 TB train corpus vs a
  * benchmark suite of at most a few GB:
  *   - both sides shingle with the compiled WordShingles expression
  *     (distinct n-grams per doc, narrow map);
  *   - the eval side collapses to its DISTINCT shingle set — bounded by
  *     the benchmark's size, not the corpus — and is broadcast, so the
  *     probe is a shuffle-free map-side hash lookup over train partitions;
  *   - per-doc hit counts partial-aggregate map-side before the single
  *     shuffle on doc_id (the count/sum pair is combinable);
  *   - a final left join restores shingle-less docs (< n words) with zero
  *     counts so the output covers every train doc exactly once.
  *
  * Output: (doc_id, n_shingles, n_hits, contaminated) — `n_hits` counts
  * the train doc's distinct shingles that appear anywhere in the eval
  * set; `contaminated` = 1 iff n_hits > 0. All counts BIGINT, no floating
  * point anywhere, so the result is bit-exact across engines.
  */
object Decontamination {

  def decontaminate(
      train: DataFrame,
      eval: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      n: Int = 3): DataFrame = {
    val evalSh = eval
      .select(explode(TextOps.shingles(eval.sparkSession, col(textCol), n)).as("shingle"))
      .distinct()
      .withColumn("hit", lit(1L))
    val perDoc = train
      .select(col(idCol).as("doc_id"), explode(TextOps.shingles(train.sparkSession, col(textCol), n)).as("shingle"))
      .join(broadcast(evalSh), Seq("shingle"), "left")
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_shingles"),
        sum(coalesce(col("hit"), lit(0L))).as("n_hits"))
    // null-SAFE rollup join: a null doc_id groups as its own key above,
    // and a null-unsafe join here would zero its counts — turning a
    // contaminated null-id doc into a silent FALSE NEGATIVE
    train.select(col(idCol).as("doc_id"))
      .join(perDoc.withColumnRenamed("doc_id", "__pd_id"),
        col("doc_id") <=> col("__pd_id"), "left")
      .drop("__pd_id")
      .select(
        col("doc_id"),
        coalesce(col("n_shingles"), lit(0L)).as("n_shingles"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        (coalesce(col("n_hits"), lit(0L)) > 0L).cast("long").as("contaminated"))
  }
}

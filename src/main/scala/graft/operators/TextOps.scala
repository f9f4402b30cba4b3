package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines:
  * language ID, quality scoring, token counting, shingling, and document
  * fingerprinting. Everything is built from codegen'd string/array
  * built-ins (no UDFs), so each operator is a narrow map over the corpus —
  * embarrassingly parallel at 100 TB, no shuffle until a later rollup.
  */
object TextOps {

  /** Word n-gram shingles (distinct), the unit of Jaccard/MinHash dedup.
    * Matches DuckDB `string_split` semantics: literal single-space split,
    * empty tokens preserved. Dispatches to the compiled
    * functions.WordShingles expression — the composable HOF form runs on
    * Catalyst's interpreted lambda path and was the dominant cost of every
    * shingle operator (see WordShingles Scaladoc). */
  def shingles(text: Column, n: Int = 3): Column =
    shingles(org.apache.spark.sql.SparkSession.active, text, n)

  /** Session-explicit variant: temp-function registries are PER-SESSION,
    * so operators must register into the session that will analyze the
    * plan (the input frame's own) — relying on SparkSession.active breaks
    * in multi-session apps where another session is active while a frame
    * from the original session is transformed. */
  def shingles(spark: org.apache.spark.sql.SparkSession, text: Column, n: Int): Column = {
    val name = graft.functions.WordShingles.registered(spark, n)
    call_function(name, text)
  }

  /** Marker-word language scorer. Each language's score is the number of
    * occurrences of its marker patterns; prediction is argmax with a fixed
    * priority order (en > de > es > fr > zh) as tiebreak — fully
    * deterministic, reproducible in plain SQL. */
  val LangMarkers: Seq[(String, String)] = Seq(
    "en" -> "\\b(the|a|is|of)\\b",
    "de" -> "\\b(der|die|und|ist)\\b",
    "es" -> "\\b(el|los|es|y)\\b",
    "fr" -> "\\b(le|et|est|des)\\b",
    "zh" -> "[\\u4e00-\\u9fff]")

  def langId(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val scored = LangMarkers.foldLeft(docs) { case (df, (lang, pat)) =>
      df.withColumn(s"score_$lang",
        size(regexp_extract_all(col(textCol), lit(pat), lit(0))).cast("long"))
    }
    val langs = LangMarkers.map(_._1)
    // argmax as a priority-ordered CASE chain: each branch only compares
    // against LATER languages — if an earlier branch failed, its score is
    // provably below the running max, so earlier comparisons are redundant.
    // Ties resolve to the earlier language. Mirrors the oracle SQL 1:1.
    val predicted = langs.init.zipWithIndex.foldRight(lit(langs.last): Column) {
      case ((lang, i), elseCol) =>
        val beatsLater = langs.drop(i + 1)
          .map(o => col(s"score_$lang") >= col(s"score_$o"))
          .reduce(_ && _)
        when(beatsLater, lang).otherwise(elseCol)
    }
    // a NULL text leaves every score null, so every CASE branch's
    // condition is null and the chain would bottom out at the LAST
    // language — classifying unknown content as "zh" by accident. A null
    // score short-circuits to a null prediction instead.
    scored.withColumn("predicted_lang",
      when(col(s"score_${langs.head}").isNull, lit(null).cast("string"))
        .otherwise(predicted))
  }

  /** Heuristic quality metrics (length / punctuation / stopword ratios) —
    * the standard pre-training corpus filters, all exact arithmetic over
    * counts so the oracle hash-matches. */
  def quality(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val t = col(textCol)
    // REAL words only: a naive size(split) counts the empty artifacts of
    // doubled/leading/trailing spaces, letting a 3-word doc pass the
    // ≥5-words gate and deflating stopword_ratio. array_remove (not the
    // filter HOF — that's Catalyst's interpreted-lambda path) stays in
    // whole-stage codegen; split never emits nulls so they're equivalent.
    val words = array_remove(split(t, " "), "")
    docs
      .withColumn("n_chars", length(t).cast("long"))
      .withColumn("n_words", size(words).cast("long"))
      .withColumn("n_stopwords",
        size(regexp_extract_all(t, lit("\\b(the|a|of|is|and)\\b"), lit(0))).cast("long"))
      .withColumn("n_punct",
        size(regexp_extract_all(t, lit("[\\.,;:!\\?]"), lit(0))).cast("long"))
      // an all-whitespace doc has ZERO words now — the ratios are NULL
      // for it, not 0/0 noise; the quality gate then falls to 0.0
      .withColumn("avg_word_len",
        when(col("n_words") > 0,
          length(regexp_replace(t, " ", "")).cast("double") / col("n_words").cast("double")))
      .withColumn("stopword_ratio",
        when(col("n_words") > 0,
          col("n_stopwords").cast("double") / col("n_words").cast("double")))
      .withColumn("quality_score",
        when(col("n_words") >= 5 && col("avg_word_len") >= 2.0 && col("avg_word_len") <= 12.0,
          lit(1.0) - col("stopword_ratio")).otherwise(lit(0.0)))
  }

  /** Token counting: whitespace tokens plus a BPE-ish regex segmentation
    * (word pieces vs punctuation/symbol singletons). */
  def tokenCounts(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs
      // filtered: split keeps leading/trailing empty artifacts ("" splits
      // to [""], " a b " to ["", a, b, ""]) which would inflate the token
      // accounting a data-mix plan is written against
      .withColumn("ws_tokens",
        size(array_remove(split(col(textCol), "[ \\t\\n\\f\\r]+"), ""))
          .cast("long"))
      .withColumn("bpe_ish_tokens",
        size(regexp_extract_all(col(textCol), lit("[A-Za-z0-9]+|[^A-Za-z0-9 \\t\\n\\f\\r]"), lit(0))).cast("long"))

  /** Corpus vocabulary statistics: term frequency and document frequency
    * per token, top `topN` by df. The classic word-count shuffle shape:
    * explode is a narrow map, the groupBy partial-aggregates map-side (both
    * `count` and the distinct-doc count dedup before the exchange), so only
    * |vocab| partial rows shuffle — not the token stream. The top-N is a
    * TakeOrderedAndProject (per-partition heaps, no global sort), and the
    * (df, tf, token) order key is unique per token, so the cut is
    * deterministic. */
  def vocabulary(docs: DataFrame, topN: Int = 100, textCol: String = "text"): DataFrame =
    docs
      .select(col("doc_id"), explode(split(col(textCol), " ")).as("token"))
      .filter(col("token") =!= "")
      .groupBy(col("token"))
      .agg(
        count(lit(1)).as("tf"),
        countDistinct(col("doc_id")).as("df"))
      .orderBy(col("df").desc, col("tf").desc, col("token"))
      .limit(topN)

  /** Gopher-style repetition signals (Rae et al. 2021 §A1.1: "repetition"
    * quality filters): per document, the duplicate-word fraction and the
    * most-frequent-adjacent-bigram fraction, plus the keep/drop gate a
    * curation pipeline applies before training (drop if >50% of words are
    * repeats or one bigram is >20% of all bigrams). All signals are exact
    * integer counts — numerator/denominator, never a float — so the gate
    * is engine-portable and hash-exact.
    *
    * Scale shape: token/bigram work is a narrow array map (split +
    * array_distinct + zip_with — no explode for the per-doc counts);
    * only the bigram histogram explodes, and both its groupBys partial-
    * aggregate map-side, so the exchange carries |distinct (doc,bigram)|
    * rows, not the token stream. The final doc_id join broadcasts the
    * per-doc signal table while it fits (its `plans/` digest shows BHJ
    * at bench sizes) and degrades to a co-partitioned shuffle join at
    * corpus scale — both shapes reuse the second groupBy's partitioning.
    */
  def repetitionSignals(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val toks = array_remove(split(col(textCol), " "), "")
    val n1 = greatest(size(col("__toks")) - 1, lit(0))
    val base = docs
      .select(col("doc_id"), toks.as("__toks"))
      .withColumn("n_tokens", size(col("__toks")).cast("long"))
      .withColumn("n_distinct", size(array_distinct(col("__toks"))).cast("long"))
    val bigrams = base.select(
      col("doc_id"),
      explode(zip_with(
        slice(col("__toks"), lit(1), n1),
        slice(col("__toks"), lit(2), n1),
        (x, y) => concat(x, lit(" "), y))).as("bigram"))
    val agg = bigrams
      .groupBy(col("doc_id"), col("bigram"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy(col("doc_id"))
      .agg(max(col("cnt")).as("top_bigram_count"), sum(col("cnt")).as("n_bigrams"))
    base.drop("__toks")
      // null-SAFE: a null doc_id is its own group (same contract the
      // Decontamination join pins with a spec) — a plain equi-join would
      // lose its bigram stats and vacuously PASS the bigram gate
      .join(agg.withColumnRenamed("doc_id", "__agg_id"),
        col("doc_id") <=> col("__agg_id"), "left")
      .drop("__agg_id")
      .na.fill(0L, Seq("top_bigram_count", "n_bigrams"))
      .withColumn("keep",
        ((col("n_distinct") * 2 > col("n_tokens")) &&
          (col("n_bigrams") === 0 || col("top_bigram_count") * 5 <= col("n_bigrams")))
          .cast("long"))
  }

  /** BPE merge-candidate scan — the first step of byte-pair-encoding
    * vocabulary induction: count every adjacent token pair across the
    * corpus and rank the top merge candidates (Sennrich et al. 2016 §3:
    * each BPE iteration merges the most frequent adjacent pair; at corpus
    * scale the count scan IS the expensive part, the merge itself is a
    * driver-side table update). Same shuffle shape as [[vocabulary]]:
    * the pair explode is narrow, the groupBy partial-aggregates map-side
    * so only |distinct pairs| rows exchange, and the top-N is a
    * TakeOrderedAndProject with a unique (count, pair) order key. */
  def mergeCandidates(docs: DataFrame, topN: Int = 50, textCol: String = "text"): DataFrame = {
    val toks = array_remove(split(col(textCol), " "), "")
    val n1 = greatest(size(col("__toks")) - 1, lit(0))
    docs.select(toks.as("__toks"))
      .select(explode(zip_with(
        slice(col("__toks"), lit(1), n1),
        slice(col("__toks"), lit(2), n1),
        (x, y) => concat(x, lit(" "), y))).as("pair"))
      .groupBy(col("pair"))
      .agg(count(lit(1)).as("pair_count"))
      .orderBy(col("pair_count").desc, col("pair"))
      .limit(topN)
  }

  /** BPE tokenizer APPLY — the other half of [[mergeCandidates]]'s
    * train step: split each document on single spaces (empties dropped,
    * the same token base the merge scan counted) and run the learned
    * merge list through the compiled [[graft.functions.BpeApply]]
    * expression. Rules apply in priority order, one greedy left-to-right
    * non-overlapping pass each; merged symbols are space-joined phrases.
    * Output: `doc_id`, `tokens` (post-merge), `n_tokens`.
    *
    * Scale shape: the merge table is driver-held model state baked into
    * the expression (exactly like a broadcast vocabulary), so the apply
    * is a shuffle-free projection over the corpus. */
  def bpeTokenize(
      docs: DataFrame,
      merges: Seq[(String, String)],
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val toks = array_remove(split(col(textCol), " "), "")
    docs.select(
      col(idCol).as("doc_id"),
      graft.functions.BpeApply
        .bpeApply(docs.sparkSession, toks, merges).as("tokens"))
      .withColumn("n_tokens", size(col("tokens")).cast("long"))
  }

  /** Content fingerprint over whitespace-normalized text — the exact-dedup
    * key (reference L2 analogue at corpus scale). md5 keeps the oracle
    * SQL-expressible; see functions.RollingHash for the codegen'd
    * polynomial variant. */
  def fingerprint(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs.withColumn("fingerprint",
      md5(trim(regexp_replace(lower(col(textCol)), "[ \\t\\n\\f\\r]+", " "))))
}

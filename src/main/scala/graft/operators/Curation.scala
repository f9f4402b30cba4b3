package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The end-to-end corpus-curation pipeline a pre-training data run
  * actually executes — exact dedup, language ID, quality gating, token
  * accounting — composed from the individual operators into one
  * declarative plan so Catalyst fuses the narrow stages.
  *
  * Plan shape at 100 TB: ONE shuffle on the content fingerprint (dedup),
  * then langid / quality / token counting are all narrow codegen'd maps
  * over the survivors, then ONE partial-aggregated rollup shuffle on the
  * (low-cardinality) predicted language. Ratio metrics aggregate as exact
  * integer sums and divide once at the end — never an average of per-row
  * doubles — so results are partial-aggregation-order independent and
  * bit-reproducible (q39).
  */
object Curation {

  /** Keep the lowest-doc_id copy of each whitespace-normalized content
    * fingerprint. Window `row_number`, not groupBy+self-join: one shuffle,
    * no second pass over the corpus.
    *
    * NULL-text docs have a NULL fingerprint — a window keyed on it
    * directly would lump them ALL into one partition (a single reducer
    * owning every null-text row: the skew that kills this at corpus
    * scale) and keep one "canonical" copy of content that was never
    * compared. They are spread by a SYNTHETIC per-doc key instead:
    * `coalesce(fingerprint, "n-" || doc_id || "-" || contentHash)` gives
    * each distinct null-text row its own group (the `n-` prefix cannot
    * collide with 32-hex md5; the content hash covers duplicate and null
    * doc_ids), so each passes through undeduped, hash-distributed like
    * every other row — only byte-identical null-text rows collapse. This
    * form was measured (r13) against the r12 split-union (separate
    * IsNull/IsNotNull branches) and the r9 disjunct
    * (`__rn = 1 OR text IS NULL`): it keeps Catalyst's WindowGroupLimit
    * pushdown (the disjunct defeats it — on clustered duplication the
    * map-side top-1 prune is the win: 0.33 s vs 0.40 s on 200 k rows with
    * 3 600-copy groups) while reading the corpus ONCE (the split-union
    * scans it twice and pays a union: 0.74 s vs 0.59 s on the dup-light
    * corpus). All three forms emit identical rows. */
  def dedupCanonical(docs: DataFrame, textCol: String = "text"): DataFrame = {
    // null-text tier: these rows have no fingerprint to group on, so the
    // synthetic key spreads them by (doc_id, content hash) — doc_id alone
    // would collapse distinct null-text rows SHARING an id (nothing in
    // this operator requires id uniqueness), and a null doc_id would
    // null-propagate through concat into one skewed null-key group. With
    // both parts (null id rendered as a literal), every distinct
    // null-text row survives as its own group; only byte-identical rows
    // collapse to one — with every cell equal there is nothing to tell
    // copies apart by, and either survivor is the same row.
    //
    // The content hash is [[graft.functions.ContentKey.contentHash]] —
    // xxhash64 over a null-flag-framed, length-prefixed, map-canonical
    // binary encoding of the non-text columns, NOT a structural
    // xxhash64 over the columns themselves. At THIS site every certain
    // collision the canonical encoding prevents (null-skipping hash
    // semantics, map entry order, array-boundary shufflings — see
    // ContentKey's scaladoc for each failure) is ROW LOSS: two
    // distinct null-text rows sharing one synthetic key, one silently
    // dropped.
    val contentHash = graft.functions.ContentKey
      .contentHash(docs.schema.fields.filterNot(_.name == textCol).toSeq)
      .map(_.cast("string"))
      .getOrElse(lit("0"))
    val key = coalesce(col("fingerprint"),
      concat(lit("n-"), coalesce(col("doc_id").cast("string"), lit("null")),
        lit("-"), contentHash))
    val w = Window.partitionBy(key).orderBy(col("doc_id"))
    TextOps.fingerprint(docs, textCol)
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** Full curation rollup: dedup → langid → quality gate
    * (`quality_score > 0`, i.e. ≥5 words and sane word lengths) → per-
    * (predicted language, source) corpus accounting — the grain a data-mix
    * plan is written against — with doc/token totals and the aggregate
    * stopword ratio. */
  def curate(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val gated = TextOps.tokenCounts(
      TextOps.quality(TextOps.langId(dedupCanonical(docs, textCol), textCol), textCol),
      textCol)
      .filter(col("quality_score") > 0.0)
    gated
      .groupBy(col("predicted_lang"), col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("total_chars"),
        sum(col("ws_tokens")).as("total_ws_tokens"),
        sum(col("bpe_ish_tokens")).as("total_bpe_tokens"),
        sum(col("n_words")).as("total_words"),
        sum(col("n_stopwords")).as("total_stopwords"),
        (sum(col("n_stopwords")).cast("double") / sum(col("n_words")).cast("double"))
          .as("corpus_stopword_ratio"))
  }
}

package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Referential-integrity-preserving scale-up of the harness testdata
  * (TESTDATA.md): writes an sf1.0-shaped copy of `/root/testdata/sf0.1`
  * at `mult`× the rows, so the FULL 104-query bench can run at 10× and
  * pin the scaling slope per query (r17 verdict #3) — the committed
  * bench evidence above sf0.1 was otherwise only targeted probes.
  *
  * Scaling is replication with per-replica key-space offsets, NOT row
  * duplication — duplicated keys would collapse under every
  * groupBy/dedup and a 10× input would measure ~1× work:
  *
  *   - `region`/`nation` stay FIXED (TPC-H semantics: dimension
  *     cardinality is SF-invariant; replicating nations would change
  *     every nation-join's fan-out, not its scale);
  *   - fact/dim surrogate keys shift by `replica × (maxKey+1)` with the
  *     SAME offset applied to every foreign-key reference, so joins
  *     (orders⋈lineitem, customer⋈orders, part/supplier⋈lineitem)
  *     produce `mult`× the matches of sf0.1 — never `mult`² and never
  *     dangling keys;
  *   - `documents.text` is Caesar-rotated per replica (letters only,
  *     rotation = replica index): lengths, token boundaries, and
  *     per-doc statistics are preserved, but cross-replica shingle/
  *     fingerprint overlap collapses — without this, every doc would
  *     have `mult−1` exact twins and the dedup family would measure an
  *     artificial all-duplicates corpus (LSH buckets of size `mult`
  *     per doc) instead of a bigger one;
  *   - `embeddings.embedding` is cyclically rotated by the replica
  *     index (a permutation: norms and coordinate distributions are
  *     preserved; cross-replica near-identity is destroyed for the
  *     same reason).
  *
  * Deterministic, RNG-free (replica index is the only new information),
  * one pass per table via a broadcast replica cross join. Timestamps
  * and measure columns are left untouched: the time RANGE stays fixed
  * and per-key densities stay sf0.1-like, so windows/sessionization see
  * more keys, not longer histories — the way a bigger day of the same
  * business looks.
  *
  *   runMain graft.ScaleTestData [srcDir] [dstDir] [mult]
  *   defaults: /root/testdata/sf0.1  /tmp/graft_sf1  10
  */
object ScaleTestData {
  def main(args: Array[String]): Unit = {
    val src = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val dst = args.lift(1).getOrElse("/tmp/graft_sf1")
    val mult = args.lift(2).flatMap(_.toIntOption).getOrElse(10)
    // The de-twinning devices DEGENERATE silently past their moduli (r18
    // ADVICE): the Caesar rotation is `rep % 26`, so replica 26 is a
    // byte-twin of replica 0; the embedding rotation is the identity
    // whenever `rep % dim == 0`, so mult > dim reintroduces exact twin
    // vectors. Either would recreate the artificial all-duplicates
    // corpus this scaler exists to prevent — and the resulting slope
    // numbers would look plausible while measuring twin fan-out, the
    // exact trap the c_name rule was added for. Refuse loudly instead
    // of degrading; extend the rotations before raising the cap.
    require(mult >= 1,
      s"mult=$mult: a zero/negative-replica 'scale-up' is a data-destroying overwrite")
    require(mult <= 26,
      s"mult=$mult exceeds the Caesar-rotation modulus 26: replica 26 would be a " +
        "byte-twin of replica 0, re-twinning the documents corpus; keep mult <= 26 " +
        "or widen the text rotation first")
    // stop only a session THIS main created: under a test JVM getOrCreate
    // reuses the suite-shared session, and stopping it would kill every
    // later suite in the run
    val hadSession = SparkSession.getActiveSession
      .orElse(SparkSession.getDefaultSession).isDefined
    val spark = Session()

    val reps = broadcast(spark.range(mult).toDF("__rep"))

    /** Cardinality of a surrogate-key space = maxKey+1 — the per-replica
      * offset stride. Computed from the data, not assumed. */
    def stride(df: DataFrame, key: String): Long =
      df.agg(max(col(key))).head().getLong(0) + 1L

    /** Replicate `mult`× with `key + __rep * stride` applied to every
      * (column, stride) pair; all other columns pass through. */
    def replicate(df: DataFrame, shifts: (String, Long)*): DataFrame = {
      val shifted = shifts.foldLeft(df.crossJoin(reps)) { case (d, (c, s)) =>
        d.withColumn(c, col(c) + col("__rep") * lit(s))
      }
      shifted.drop("__rep")
    }

    def write(df: DataFrame, name: String): Unit = {
      df.write.mode("overwrite").parquet(s"$dst/$name.parquet")
      println(s"[scale-testdata] $name: ${spark.read.parquet(s"$dst/$name.parquet").count()} rows")
    }

    def t(name: String) = Tables.read(spark, src, name)

    // Checked BEFORE any table is written, not at the embeddings step —
    // an out-of-range mult must refuse up front, not after minutes of
    // scaled fact-table writes. Rotation by rep % dim is the identity at
    // rep = dim, so mult > dim would hand replica `dim` byte-twin
    // vectors of replica 0 (see the mult<=26 guard's rationale above).
    // Probed as an AGGREGATE, not a head() row (r19 ADVICE): an empty
    // table must refuse with a guard-quality message, not a bare
    // NoSuchElementException, and a corpus with non-uniform vector
    // lengths must be judged by its MINIMUM dimension, not by whichever
    // row happens to arrive first.
    val embProbe = t("embeddings")
      .agg(count(lit(1)).as("n"), min(size(col("embedding"))).as("min_dim")).head()
    require(embProbe.getLong(0) > 0L,
      s"embeddings table at $src is EMPTY: the rotation modulus cannot be probed " +
        "and a scaled copy would carry no vectors — scale a corpus that has them")
    require(!embProbe.isNullAt(1),
      s"embeddings.embedding at $src is all-NULL: the rotation modulus cannot be " +
        "probed — scale a corpus with materialized vectors")
    val embDim = embProbe.getInt(1)
    require(mult <= embDim,
      s"mult=$mult exceeds the minimum embedding dimension $embDim: the cyclic " +
        s"rotation is identity for replica $embDim, re-twinning the vector corpus; " +
        s"keep mult <= $embDim or use a richer permutation first")

    // fixed dimensions — copied verbatim
    write(t("region"), "region")
    write(t("nation"), "nation")

    val custS = stride(t("customer"), "c_custkey")
    val suppS = stride(t("supplier"), "s_suppkey")
    val partS = stride(t("part"), "p_partkey")
    val ordS  = stride(t("orders"), "o_orderkey")
    val evS   = stride(t("events"), "event_id")
    val userS = stride(t("events"), "user_id")
    val docS  = stride(t("documents"), "doc_id")
    val vecS  = stride(t("embeddings"), "vec_id")

    // key-EMBEDDED payload columns must be regenerated from the shifted
    // key, exactly as the original generator derives them ("Customer#%09d"
    // of c_custkey — TPC-H's own rule): offsetting only the key would
    // leave every replica's c_name a byte-twin of the original's, and any
    // string-similarity operator over names (q88's FastSS fuzzy join)
    // would measure an artificial 10-twins-per-name corpus — found the
    // hard way as a 162x q88 "slope" that was 100x pair fan-out between
    // identical names, not plan decay
    write(replicate(t("customer"), "c_custkey" -> custS)
      .withColumn("c_name", format_string("Customer#%09d", col("c_custkey"))), "customer")
    write(replicate(t("supplier"), "s_suppkey" -> suppS)
      .withColumn("s_name", format_string("Supplier#%09d", col("s_suppkey"))), "supplier")
    write(replicate(t("part"), "p_partkey" -> partS), "part")
    write(replicate(t("orders"), "o_orderkey" -> ordS, "o_custkey" -> custS), "orders")
    write(replicate(t("lineitem"),
      "l_orderkey" -> ordS, "l_partkey" -> partS, "l_suppkey" -> suppS), "lineitem")
    // user space scales with the data so per-user event density (journey
    // lengths, session sizes) stays sf0.1-like
    write(replicate(t("events"), "event_id" -> evS, "user_id" -> userS), "events")

    // documents: keys shift; text is Caesar-rotated by the replica index
    // so cross-replica similarity collapses (see scaladoc). translate()
    // needs a LITERAL mapping, so the rotation is a per-replica CASE
    // over the (small, fixed) mult — still one pass, no N-way union.
    val lower = "abcdefghijklmnopqrstuvwxyz"
    val upper = lower.toUpperCase
    def rot(s: String, i: Int) = s.drop(i % 26) + s.take(i % 26)
    val rotated = (0 until mult).foldLeft(lit(null).cast("string")) { (acc, i) =>
      when(col("__rep") === i,
        translate(translate(col("text"), lower, rot(lower, i)), upper, rot(upper, i)))
        .otherwise(acc)
    }
    write(t("documents").crossJoin(reps)
      .withColumn("doc_id", col("doc_id") + col("__rep") * lit(docS))
      .withColumn("text", rotated)
      .drop("__rep"), "documents")

    // embeddings: cyclic rotation by replica index — a norm-preserving
    // permutation of coordinates (mult <= embDim guarded up front)
    write(t("embeddings").crossJoin(reps)
      .withColumn("vec_id", col("vec_id") + col("__rep") * lit(vecS))
      .withColumn("embedding",
        when(col("__rep") === 0, col("embedding")).otherwise(concat(
          expr("slice(embedding, cast(__rep % size(embedding) as int) + 1, " +
            "size(embedding) - cast(__rep % size(embedding) as int))"),
          expr("slice(embedding, 1, cast(__rep % size(embedding) as int))"))))
      .drop("__rep"), "embeddings")

    println(s"[scale-testdata] wrote ${mult}x $src -> $dst")
    if (!hadSession) spark.stop()
  }
}

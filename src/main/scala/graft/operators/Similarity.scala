package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions

/** Approximate-nearest-neighbor search over an embedding column.
  *
  *   - `bruteForceTopK`: exact baseline — queries × corpus join, cosine,
  *     windowed top-k. Correct at any scale where |queries|·|corpus| pairs
  *     are affordable (broadcast the query side: the join is then a
  *     shuffle-free broadcast nested loop over corpus partitions).
  *   - `srpBucketsFixed` / `lshAnnTopK`: sign-random-projection LSH — hash
  *     each vector of a known dimension to a `bits`-bit code from
  *     md5-derived ±1 hyperplanes inlined as literals (the chain the q32
  *     oracle replays), probe only the corpus bucket matching the query's
  *     code. At 100 TB the corpus is bucketed once (write-time partition),
  *     each query touches |corpus|/2^bits vectors.
  */
object Similarity {

  /** Exact top-k neighbors for each query vector. Ranking uses rounded
    * cosine with id tiebreak so results are replayable across engines.
    * Norms are precomputed per side so the |Q|×|C| pair loop does only the
    * dot product (same arithmetic as inline norms — parity-safe). */
  def bruteForceTopK(
      queries: DataFrame,
      corpus: DataFrame,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      k: Int = 10): DataFrame = {
    val q = queries.select(
      col(idCol).as("query_id"), col(vecCol).as("qv"),
      VectorFunctions.norm(col(vecCol)).as("qn"))
    val c = corpus.select(
      col(idCol).as("neighbor_id"), col(vecCol).as("cv"),
      VectorFunctions.norm(col(vecCol)).as("cn"))
    val rank = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id"))
    broadcast(q).join(c, col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine",
        round(VectorFunctions.dot(col("qv"), col("cv")) / (col("qn") * col("cn")), 9))
      .withColumn("rank", row_number().over(rank).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("cosine"), col("rank"))
  }

  /** Deterministic Rademacher (±1) hyperplane for SRP: component i of
    * plane `seed` is the parity of md5("seed:i") — computed once at PLAN
    * time and inlined as literals, so (a) the projection is a pure codegen
    * multiply-add chain with no per-row hashing, and (b) an external SQL
    * oracle can inline the very same constants (q32). Rademacher planes
    * satisfy the SRP collision bound like Gaussian ones (Charikar 2002 /
    * Achlioptas 2003 sparse projections). */
  def rademacher(seed: Int, dim: Int): IndexedSeq[Double] = {
    val md5 = java.security.MessageDigest.getInstance("MD5")
    (0 until dim).map { i =>
      val d = md5.digest(s"$seed:$i".getBytes("UTF-8"))
      if ((d(15) & 1) == 1) 1.0 else -1.0
    }
  }

  /** Attach the SRP-LSH bucket code (a `bits`-bit long) to each vector of
    * dimension `dim`: the projection is an unrolled left-associated
    * multiply-add chain over literal ±1 weights — stays in whole-stage
    * codegen, no lambdas, and is reproducible bit-for-bit by any engine
    * that evaluates the same chain. */
  def srpBucketsFixed(
      vectors: DataFrame,
      vecCol: String = "embedding",
      bits: Int = 8,
      dim: Int = 64): DataFrame = {
    // CONTRACT: every vector carries at least `dim` components — a
    // shorter (or empty) vector fails LOUDLY under ANSI mode (element_at
    // past the end) rather than silently mis-bucketing; validate or
    // filter ragged input upstream.
    // Null elements contribute bit 0 — part of the literal-chain
    // semantics the q32 oracle replays verbatim, and load-bearing for
    // speed: every guarded variant tried (CASE-wrapped sum, try_element_at,
    // hoisted guard column, plan split) measured 3-6× slower because the
    // 512-term multiply-add must stay one flat non-nullable codegen chain.
    val code = (0 until bits).map { b =>
      val w = rademacher(b, dim)
      val proj = (0 until dim)
        .map(i => element_at(col(vecCol), i + 1).cast("double") * lit(w(i)))
        .reduce(_ + _)
      when(proj >= 0, lit(1L << b)).otherwise(lit(0L))
    }.reduce(_ + _)
    vectors.withColumn("bucket", code)
  }

  /** IVF (inverted-file) coarse-quantizer ANN — the standard
    * recall-TUNABLE 100 TB ANN layout (FAISS IVF without PQ):
    *
    *   - coarse centroids: the `nlist` corpus vectors with the smallest
    *     `md5(vec_id)` — a deterministic sample, no RNG and no Lloyd
    *     iterations, so any engine (and the DuckDB oracle) reproduces the
    *     identical quantizer. At 100 TB the centroid table is tiny and
    *     broadcast; a k-means-refined quantizer slots in here without
    *     touching the plan shape.
    *   - inverted lists: every corpus vector is assigned to its nearest
    *     centroid (rounded-cosine argmax, centroid-id tiebreak) via a
    *     broadcast nested-loop over the `nlist` centroids + one shuffle
    *     by vector id for the argmax window. At write time this is a
    *     one-off partition-by-list job.
    *   - probe: each query searches the `nprobe` nearest lists only —
    *     exact cosine + windowed top-k over |corpus|·nprobe/nlist
    *     candidates. Recall rises with nprobe; nprobe = nlist degrades
    *     to exact brute force.
    */
  def ivfAnnTopK(
      queries: DataFrame,
      corpus: DataFrame,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      nlist: Int = 16,
      nprobe: Int = 4,
      k: Int = 10,
      refineRounds: Int = 0): DataFrame = {
    val seedCentroids = corpus
      .select(col(idCol).as("centroid_id"), col(vecCol).as("centv"),
        md5(col(idCol).cast("string")).as("h"))
      .orderBy(col("h"), col("centroid_id"))
      .limit(nlist)
      .select(col("centroid_id"), col("centv"),
        VectorFunctions.norm(col("centv")).as("centn"))
    // refineRounds = 0 keeps the sample quantizer (and the q35 oracle's
    // exact plan); > 0 runs deterministic Lloyd rounds (see kmeansRefine)
    val centroids =
      if (refineRounds > 0) kmeansRefine(corpus, seedCentroids, refineRounds, idCol, vecCol)
      else seedCentroids
    // nearest-centroid rank for each vector of `df` (1 = closest).
    // The vector's own norm is projected BEFORE the crossJoin (the Join
    // blocks CollapseProject from re-inlining it), so it's computed once
    // per row instead of once per (row, centroid) — nlist× less norm work;
    // same arithmetic, so ranks and the q35 hash are unchanged. The norm
    // column doubles as the downstream cosine's cn/qn.
    def centroidRanked(df: DataFrame, id: String, vec: String, nrm: String): DataFrame = {
      val byVec = Window.partitionBy(col(id))
        .orderBy(col("ccos").desc, col("centroid_id"))
      df.withColumn(nrm, VectorFunctions.norm(col(vec)))
        .crossJoin(broadcast(centroids))
        .withColumn("ccos",
          round(VectorFunctions.dot(col(vec), col("centv")) /
            (col(nrm) * col("centn")), 9))
        .withColumn("crk", row_number().over(byVec))
        .drop("centv", "centn", "ccos")
    }
    val inverted = centroidRanked(
      corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv")),
      "neighbor_id", "cv", "cn")
      .filter(col("crk") === 1).drop("crk")
    val probes = centroidRanked(
      queries.select(col(idCol).as("query_id"), col(vecCol).as("qv")),
      "query_id", "qv", "qn")
      .filter(col("crk") <= nprobe).drop("crk")
    val rank = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id"))
    probes.join(inverted, Seq("centroid_id"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine",
        round(VectorFunctions.dot(col("qv"), col("cv")) / (col("qn") * col("cn")), 9))
      .withColumn("rank", row_number().over(rank).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("cosine"), col("rank"))
  }

  /** Deterministic Lloyd (k-means) refinement of a coarse-quantizer
    * centroid table — closes the recall gap between the md5-sampled seed
    * quantizer and a FAISS-style trained IVF, without giving up
    * reproducibility:
    *
    *   - assignment: rounded-cosine argmax against the broadcast centroid
    *     table (identical arithmetic to `ivfAnnTopK`'s list assignment);
    *   - update: per-component mean in EXACT integer space — each
    *     component is pre-rounded to 1e-12 units with `floor(x·1e12 + 0.5)`
    *     (pure IEEE double ops, bit-identical on any engine, unlike a
    *     double→DECIMAL cast whose rounding is engine-specific), summed as
    *     an overflow-proof DECIMAL(38,0), and divided round-half-up in
    *     integer arithmetic. The new centroid is therefore independent of
    *     partitioning / summation order AND replayable bit-for-bit by an
    *     external SQL engine (the q77 oracle does exactly that).
    *     Components must satisfy |x| < ~9e6 (1e-12-unit magnitudes must
    *     fit a signed 64-bit floor) — embeddings are unit-scale.
    *
    * Per round: one broadcast nested-loop (narrow) + the argmax window
    * shuffle + one (centroid, component) groupBy — the standard
    * distributed-k-means job. Empty clusters drop out (their list would
    * never be probed anyway); callers seed with a few extra centroids if
    * they need an exact `nlist`. Returns `(centroid_id, centv, centn)`.
    */
  def kmeansRefine(
      corpus: DataFrame,
      seeds: DataFrame,
      rounds: Int = 1,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    var cents = seeds
    for (_ <- 1 to rounds) {
      val byVec = Window.partitionBy(col("vid"))
        .orderBy(col("ccos").desc, col("centroid_id"))
      val assigned = corpus
        .select(col(idCol).as("vid"), col(vecCol).as("v"))
        .withColumn("vn", VectorFunctions.norm(col("v")))
        .crossJoin(broadcast(cents))
        .withColumn("ccos",
          round(VectorFunctions.dot(col("v"), col("centv")) /
            (col("vn") * col("centn")), 9))
        .withColumn("crk", row_number().over(byVec))
        .filter(col("crk") === 1)
      val means = assigned
        .select(col("centroid_id"), posexplode(col("v")))
        // 1e-12-unit integer component (double-space round-half-up: the
        // multiply/add/floor chain is IEEE-identical across engines)
        .withColumn("kq", floor(col("col") * lit(1e12) + lit(0.5)))
        .groupBy(col("centroid_id"), col("pos"))
        .agg(
          sum(col("kq").cast(org.apache.spark.sql.types.DecimalType(38, 0))).as("s"),
          count(lit(1)).as("n"))
        // round-half-up(s / n) in integer space: (2|s| + n) div (2n), sign
        // re-applied — HALF_UP rounds ties AWAY from zero, and `div` on the
        // positive magnitude is exact (no intermediate decimal rounding)
        .withColumn("mag", expr("(2 * abs(s) + n) div (2 * n)"))
        .withColumn("mi", when(col("s") < 0, -col("mag")).otherwise(col("mag")))
        // mi is exact below 2^53, so this single division is the correctly
        // rounded double for mi/1e12 on every IEEE engine
        .withColumn("m", col("mi").cast("double") / lit(1e12))
      cents = means
        .groupBy(col("centroid_id"))
        .agg(collect_list(struct(col("pos"), col("m"))).as("pm"))
        .select(
          col("centroid_id"),
          transform(array_sort(col("pm")), s => s.getField("m")).as("centv"))
        .withColumn("centn", VectorFunctions.norm(col("centv")))
        // eager materialization: the centroid table is nlist rows, but its
        // LINEAGE is a full corpus pass — downstream the table is consumed
        // by ≥2 assignment joins (corpus lists + query probes), and without
        // truncation each consumer would re-run every Lloyd round
        .localCheckpoint(true)
    }
    cents
  }

  /** Symmetric per-vector int8 quantization — the memory-bound half of a
    * 100 TB ANN stack: a 64-dim float32 embedding is 256 bytes, its int8
    * code 64 bytes + one double scale, so scans, shuffles, and cache
    * residency all improve ~4×.
    *
    *   scale = max|v| / 127,   q_i = floor(v_i / scale + 0.5) ∈ [−127, 127]
    *
    * `floor(x + 0.5)` is the engine-neutral round-half-up (a bare round()
    * resolves .5 ties differently across engines), and quantized dot
    * products are integer-exact in doubles (|dot| ≤ dim·127² ≪ 2^53), so
    * the ENTIRE quantized pipeline is bit-reproducible by an external
    * oracle with no decimal machinery (q37). Adds `qscale` (double) and
    * `qv` (array<tinyint> — genuinely 1 byte/component at rest). */
  def quantizeInt8(vectors: DataFrame, vecCol: String = "embedding"): DataFrame = {
    val absMax = array_max(transform(col(vecCol), x => abs(x.cast("double"))))
    vectors
      .withColumn("qscale", absMax / lit(127.0))
      // NaN-scale vectors (a NaN component upstream) quantize to the
      // all-zero code like zero-scale ones — the unguarded division would
      // produce NaN components whose tinyint cast THROWS under ANSI mode,
      // killing the whole job on one bad vector
      .withColumn("qv",
        when(col("qscale") === 0.0 || isnan(col("qscale")),
          transform(col(vecCol), _ => lit(0L)))
          .otherwise(transform(col(vecCol),
            x => floor(x.cast("double") / col("qscale") + lit(0.5))))
          .cast("array<tinyint>"))
  }

  /** Brute-force top-k over int8-quantized vectors: the integer dot ranks
    * candidates while moving a quarter of the bytes. Ranking metric is the
    * quantized cosine dotq/√(‖qa‖²·‖qb‖²) — integer-derived, so exact on
    * any engine; a production stack re-scores the final k with full
    * precision (compose with `bruteForceTopK` over the survivors). */
  def int8AnnTopK(
      queries: DataFrame,
      corpus: DataFrame,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      k: Int = 10): DataFrame = {
    def prep(df: DataFrame, idAs: String, qvAs: String, nAs: String): DataFrame =
      quantizeInt8(df, vecCol)
        .select(col(idCol).as(idAs), col("qv").cast("array<double>").as(qvAs))
        .withColumn(nAs, VectorFunctions.dot(col(qvAs), col(qvAs)))
    val q = prep(queries, "query_id", "qa", "na")
    val c = prep(corpus, "neighbor_id", "qb", "nb")
    val rank = Window.partitionBy(col("query_id"))
      .orderBy(col("qcosine").desc, col("neighbor_id"))
    broadcast(q).join(c, col("query_id") =!= col("neighbor_id"))
      .withColumn("qcosine",
        when(col("na") * col("nb") === 0.0, lit(0.0))
          .otherwise(round(
            VectorFunctions.dot(col("qa"), col("qb")) / sqrt(col("na") * col("nb")), 9)))
      .withColumn("rank", row_number().over(rank).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("qcosine"), col("rank"))
  }

  /** ANN top-k: candidates share the query's LSH bucket
    * ([[srpBucketsFixed]] over `dim` components); exact cosine + top-k
    * only within the bucket. Recall improves with fewer bits (bigger
    * buckets) — callers trade bits vs probe cost. */
  def lshAnnTopK(
      queries: DataFrame,
      corpus: DataFrame,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      bits: Int = 8,
      k: Int = 10,
      dim: Int): DataFrame = {
    val q = srpBucketsFixed(queries, vecCol, bits, dim)
      .select(col(idCol).as("query_id"), col(vecCol).as("qv"), col("bucket"),
        VectorFunctions.norm(col(vecCol)).as("qn"))
    val c = srpBucketsFixed(corpus, vecCol, bits, dim)
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"), col("bucket"),
        VectorFunctions.norm(col(vecCol)).as("cn"))
    val rank = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id"))
    q.join(c, Seq("bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine",
        round(VectorFunctions.dot(col("qv"), col("cv")) / (col("qn") * col("cn")), 9))
      .withColumn("rank", row_number().over(rank).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("cosine"), col("rank"))
  }
}

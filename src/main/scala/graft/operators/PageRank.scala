package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** PageRank over an edge list — the graph-centrality sibling of the
  * dedup clustering operators (Dedup.connectedComponents): where CC asks
  * "which docs are the same", PageRank asks "which nodes matter", the
  * ranking a link/citation/co-occurrence graph pipeline runs after
  * construction (reference analogue: the journey graph in
  * src/etl/transform.py is exactly such an edge list, user → channel).
  *
  * All arithmetic is INTEGER-SCALED (ranks are BIGINT multiples of
  * 2^-0 · 10^-12, i.e. `SCALE = 1e12` units) with floor division on both
  * factor steps, so every engine replays the iteration bit-for-bit — no
  * double accumulation order, no decimal rounding-mode divergence. The
  * update is the standard damped flow with dangling mass dropped (a
  * documented, deterministic choice — re-normalizing dangling mass would
  * add one scalar broadcast per round, nothing structural):
  *
  *   r0(v)   = SCALE div N
  *   contrib = r(u) div outdeg(u)            // per distinct edge u→v
  *   r'(v)   = (15 · SCALE) div (100 · N) + (85 · Σ contrib) div 100
  *
  * Scale shape: one hash shuffle per iteration (contributions grouped by
  * dst), the out-degree table computed once, with the join strategy left
  * to the planner — outdeg has one row per non-dangling NODE, so a hard
  * broadcast hint would OOM on a billion-node graph; AQE broadcasts it
  * when it fits and degrades to a shuffle join when it doesn't (both
  * sides already hash-partition on the same key, so the degradation is
  * co-located); each round `localCheckpoint`s the rank table — same lineage-
  * truncation discipline as the CC loop (without it the nested plan blows
  * up AQE re-planning, see Dedup.connectedComponents). Iterations are a
  * fixed small constant (ranking converges geometrically at d = 0.85),
  * so the oracle can replay the rounds as chained CTEs.
  */
object PageRank {

  val Scale = 1000000000000L // 1e12 rank units

  /** @param edges      two-column DataFrame of directed edges; duplicates
    *                   are collapsed (the graph is the DISTINCT edge set)
    * @param srcCol     source-node column name
    * @param dstCol     destination-node column name
    * @param iterations number of damped-flow rounds (≥ 0)
    * @return (node, rank) — rank in 1e-12 units as BIGINT, every node that
    *         appears as a src or dst of any edge
    */
  def run(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      iterations: Int = 5): DataFrame = {
    require(iterations >= 0, s"iterations must be >= 0: $iterations")
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .distinct().localCheckpoint(true)
    // the node count rides the census checkpoint's own job
    val (nodes, census) = Dedup.checkpointObserving(
      e.select(col("src").as("node")).union(e.select(col("dst").as("node"))).distinct(),
      count(lit(1)).as("n"))
    val n = census("n").asInstanceOf[Long]
    require(n > 0, "PageRank needs a non-empty graph")
    val base = (15L * Scale) / (100L * n)
    var ranks = nodes.withColumn("rank", lit(Scale / n))
    // r21: the edge ⋈ out-degree join is LOOP-INVARIANT — materialize the
    // annotated edge list once instead of re-joining every round (one
    // fewer join per iteration at any scale; same rows by construction,
    // so the integer flow is unchanged). r22 (ADVICE): built only when a
    // round will actually consume it — at iterations == 0 the returned
    // plan reads `nodes` alone, and an eager checkpoint here would be
    // wasted compute plus storage blocks leaked for the application's
    // lifetime (nothing below would unpersist it).
    if (iterations > 0) {
      val outdeg = e.groupBy(col("src")).agg(count(lit(1)).as("outdeg"))
        .withColumnRenamed("src", "od_src")
      val eo = e.join(outdeg, col("src") === col("od_src"))
        .select(col("src"), col("dst"), col("outdeg"))
        .localCheckpoint(true)
      for (it <- 1 to iterations) {
        val contribs = eo
          .join(ranks.withColumnRenamed("node", "r_node"), col("src") === col("r_node"))
          .select(col("dst"), expr("rank div outdeg").as("contrib"))
          .groupBy(col("dst"))
          .agg(sum(col("contrib")).as("inflow"))
        val prev = ranks
        ranks = nodes
          .join(contribs, col("node") === col("dst"), "left")
          .select(
            col("node"),
            (lit(base) + expr("(85 * coalesce(inflow, 0L)) div 100")).as("rank"))
          .localCheckpoint(true)
        // the superseded round's blocks are dead the moment the new rank
        // table is materialized — same unpersist discipline as the Dedup CC
        // loop, without it every round's full rank table stays pinned in the
        // BlockManager for the life of the application
        prev.unpersist()
      }
      // with ≥1 round the result's lineage is its own localCheckpoint, so
      // the build-time inputs can release their blocks too (at 0 rounds the
      // returned plan still READS nodes — unpersisting a localCheckpoint
      // discards the very blocks its truncated lineage resolves to)
      e.unpersist(); nodes.unpersist(); eo.unpersist()
    }
    ranks
  }
}

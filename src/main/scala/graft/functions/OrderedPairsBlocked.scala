package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, QuaternaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType, StructField, StructType}

/** One BLOCK of the ordered (i < j) pairs of a sorted, duplicate-free long
  * array, each pair packed into ONE long `(a << 32) | b` — the candidate-
  * generation kernel of the inverted-index Jaccard join.
  *
  * Packing: with ~10⁶–10⁹ emitted pairs, a primitive long array
  * (`UnsafeArrayData.fromPrimitiveArray`, zero boxing) replaces per-pair
  * `InternalRow` structs, and the downstream `groupBy` aggregates on a
  * single 8-byte key instead of a two-long row. Unpacking after
  * aggregation is two bit ops per SURVIVING group, and packing is
  * lossless. Callers guarantee 0 ≤ id < 2³¹ (the Jaccard operators gate
  * on a measured min/max and fall back to [[OrderedPairsBlock]]
  * otherwise).
  *
  * Blocking: all m(m−1)/2 pairs of an m-element posting in ONE row buffer
  * is ~78 M packed longs ≈ 0.6 GB per evaluation at m ≈ 12,500, and a
  * handful of concurrent tasks OOM the executor long before the
  * Int-overflow guard at m = 65,536 fires (the measured failure mode of
  * the forced all-pairs plan at the 100× bench decade). Blocked
  * generation decomposes the pair triangle into ⌈m/B⌉·(⌈m/B⌉+1)/2 tiles
  * of at most B² pairs each — callers explode a (bi ≤ bj) tile-index frame
  * and evaluate this expression once per tile, so peak per-row memory is
  * B² longs regardless of m (and B should keep that under the G1
  * humongous threshold — see Dedup.PairBlockSize).
  *
  * Tile semantics over blocks [bi·B, min((bi+1)·B, m)) and [bj·B, …):
  * the diagonal tile (bi = bj) emits the within-block (i < j) triangle;
  * off-diagonal tiles (bi < bj) emit the full block-i × block-j rectangle.
  * Every global (i < j) pair lands in exactly one tile, so the union over
  * tiles is the full pair set, each pair once. Ascending input ⇒ a < b in
  * every emitted pair.
  *
  * Loop bodies, the allocation overflow guard and the input-type contract
  * live in [[PairGen]], shared with [[OrderedPairsBlock]] (see
  * `checkInputDataTypes` below for why the contract exists at all).
  *
  * Real `doGenCode`, not CodegenFallback: a fallback expression knocks its
  * whole operator out of whole-stage codegen, which demotes the consuming
  * `Generate` to the interpreted `ExplodeBase.eval` path — and THAT path
  * wraps every emitted long in a boxed `InternalRow` before the explode,
  * re-creating per-tile the very allocation storm the tiling removed (the
  * r14 100× re-run OOM'd exactly there). Compiled, the tile array stays a
  * primitive `long[]` and the explode loop reads it in place. */
case class OrderedPairsPackedBlock(
    docs: Expression, bi: Expression, bj: Expression, blockSize: Expression)
    extends QuaternaryExpression {

  override def first: Expression = docs
  override def second: Expression = bi
  override def third: Expression = bj
  override def fourth: Expression = blockSize

  /** Analysis-time gate (the expression is SQL-registered): `getLong` over
    * a non-8-byte stride emits silent garbage pairs, and bigint tile
    * indices would work under codegen (Java widening) but throw
    * ClassCastException on the interpreted path — mode-dependent behavior;
    * both die here instead. */
  override def checkInputDataTypes(): TypeCheckResult =
    PairGen.checkBlockInputs(prettyName, docs, bi, bj, blockSize,
      docsOk = { case ArrayType(LongType, _) => true }, want = "array<bigint>")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "ordered_pairs_packed_block"

  override def nullSafeEval(d: Any, b1: Any, b2: Any, bs: Any): Any = {
    val arr = d.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val i0 = b1.asInstanceOf[Int]
    val j0 = b2.asInstanceOf[Int]
    val b = bs.asInstanceOf[Int]
    require(b > 0, s"$prettyName: blockSize must be positive, got $b")
    require(i0 >= 0 && i0 <= j0,
      s"$prettyName: need 0 <= bi <= bj, got bi=$i0 bj=$j0")
    // block bounds in Long first: bi*B overflows Int for adversarial tile
    // indices far past the array end (callers derive them from size(docs),
    // but an expression must not corrupt on bad input)
    val li = math.min(i0.toLong * b, n.toLong).toInt
    val hi = math.min(i0.toLong * b + b, n.toLong).toInt
    val lj = math.min(j0.toLong * b, n.toLong).toInt
    val hj = math.min(j0.toLong * b + b, n.toLong).toInt
    val out =
      if (i0 == j0) PairGen.packedDiag(arr, li, hi, s"$prettyName: tile of ${hi - li} docs")
      else PairGen.packedRect(arr, li, hi, lj, hj,
        s"$prettyName: tile of ${hi - li}x${hj - lj} docs")
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (d, b1, b2, bs) => {
      val n = ctx.freshName("n")
      val li = ctx.freshName("li")
      val hi = ctx.freshName("hi")
      val lj = ctx.freshName("lj")
      val hj = ctx.freshName("hj")
      val m = ctx.freshName("m")
      val total = ctx.freshName("total")
      val out = ctx.freshName("out")
      val idx = ctx.freshName("idx")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val h = ctx.freshName("h")
      s"""
         |int $n = $d.numElements();
         |if ($bs <= 0) {
         |  throw new IllegalArgumentException(
         |    "ordered_pairs_packed_block: blockSize must be positive, got " + $bs);
         |}
         |if ($b1 < 0 || $b1 > $b2) {
         |  throw new IllegalArgumentException(
         |    "ordered_pairs_packed_block: need 0 <= bi <= bj, got bi=" + $b1 + " bj=" + $b2);
         |}
         |int $li = (int) Math.min((long) $b1 * $bs, (long) $n);
         |int $hi = (int) Math.min((long) $b1 * $bs + $bs, (long) $n);
         |int $lj = (int) Math.min((long) $b2 * $bs, (long) $n);
         |int $hj = (int) Math.min((long) $b2 * $bs + $bs, (long) $n);
         |long[] $out;
         |int $idx = 0;
         |if ($b1 == $b2) {
         |  int $m = $hi - $li;
         |  long $total = (long) $m * ($m - 1) / 2;
         |  ${PairGen.sizeGuardJava(total,
             s""""ordered_pairs_packed_block: tile of " + $m + " docs"""")}
         |  $out = new long[(int) $total];
         |  ${PairGen.packedDiagJava(d, li, hi, out, idx, i, j, h)}
         |} else {
         |  long $total = (long) ($hi - $li) * ($hj - $lj);
         |  ${PairGen.sizeGuardJava(total,
             s""""ordered_pairs_packed_block: tile of " + ($hi - $li) + "x" + ($hj - $lj) + " docs"""")}
         |  $out = new long[(int) $total];
         |  ${PairGen.packedRectJava(d, li, hi, lj, hj, out, idx, i, j, h)}
         |}
         |${ev.value} = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
         |  .fromPrimitiveArray($out);
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression, q: Expression): OrderedPairsPackedBlock =
    copy(docs = f, bi = s, bj = t, blockSize = q)
}

object OrderedPairsPackedBlock {
  def register(spark: SparkSession): Unit =
    Registry.ensure(spark, "ordered_pairs_packed_block")(exprs =>
      OrderedPairsPackedBlock(exprs(0), exprs(1), exprs(2), exprs(3)))
}

/** One block of the ordered (i < j) pairs of a sorted array, as
  * array<struct<a,b>>, with exactly the tile semantics of
  * [[OrderedPairsPackedBlock]], for id
  * types the packed form can't carry (strings, out-of-range longs).
  * Compiled like its packed sibling so the consuming Generate stays in
  * whole-stage codegen; the struct elements are unavoidably object rows,
  * but the tile bound keeps any one buffer small. Loop bodies and the
  * allocation overflow guard are [[PairGen]]'s; the input-type contract
  * pins only the three Int arguments (the element type is free). */
case class OrderedPairsBlock(
    docs: Expression, bi: Expression, bj: Expression, blockSize: Expression)
    extends QuaternaryExpression {

  private lazy val elem: DataType = docs.dataType.asInstanceOf[ArrayType].elementType

  override def first: Expression = docs
  override def second: Expression = bi
  override def third: Expression = bj
  override def fourth: Expression = blockSize

  /** Analysis-time gate: any array element type works, but the three tile
    * arguments must be int for the same interpreted-vs-codegen consistency
    * reason [[OrderedPairsPackedBlock]] documents. */
  override def checkInputDataTypes(): TypeCheckResult =
    PairGen.checkBlockInputs(prettyName, docs, bi, bj, blockSize,
      docsOk = { case _: ArrayType => true }, want = "an array")

  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("a", elem, nullable = true),
      StructField("b", elem, nullable = true))),
    containsNull = false)

  override def nullIntolerant: Boolean = true
  override def prettyName: String = "ordered_pairs_block"

  override def nullSafeEval(d: Any, b1: Any, b2: Any, bs: Any): Any = {
    val arr = d.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val i0 = b1.asInstanceOf[Int]
    val j0 = b2.asInstanceOf[Int]
    val b = bs.asInstanceOf[Int]
    require(b > 0, s"$prettyName: blockSize must be positive, got $b")
    require(i0 >= 0 && i0 <= j0,
      s"$prettyName: need 0 <= bi <= bj, got bi=$i0 bj=$j0")
    val li = math.min(i0.toLong * b, n.toLong).toInt
    val hi = math.min(i0.toLong * b + b, n.toLong).toInt
    val lj = math.min(j0.toLong * b, n.toLong).toInt
    val hj = math.min(j0.toLong * b + b, n.toLong).toInt
    val out =
      if (i0 == j0) PairGen.structDiag(arr, elem, li, hi,
        s"$prettyName: tile of ${hi - li} docs")
      else PairGen.structRect(arr, elem, li, hi, lj, hj,
        s"$prettyName: tile of ${hi - li}x${hj - lj} docs")
    new GenericArrayData(out)
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (d, b1, b2, bs) => {
      val n = ctx.freshName("n")
      val li = ctx.freshName("li")
      val hi = ctx.freshName("hi")
      val lj = ctx.freshName("lj")
      val hj = ctx.freshName("hj")
      val m = ctx.freshName("m")
      val total = ctx.freshName("total")
      val out = ctx.freshName("out")
      val idx = ctx.freshName("idx")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val a = ctx.freshName("a")
      val bb = ctx.freshName("b")
      s"""
         |int $n = $d.numElements();
         |if ($bs <= 0) {
         |  throw new IllegalArgumentException(
         |    "ordered_pairs_block: blockSize must be positive, got " + $bs);
         |}
         |if ($b1 < 0 || $b1 > $b2) {
         |  throw new IllegalArgumentException(
         |    "ordered_pairs_block: need 0 <= bi <= bj, got bi=" + $b1 + " bj=" + $b2);
         |}
         |int $li = (int) Math.min((long) $b1 * $bs, (long) $n);
         |int $hi = (int) Math.min((long) $b1 * $bs + $bs, (long) $n);
         |int $lj = (int) Math.min((long) $b2 * $bs, (long) $n);
         |int $hj = (int) Math.min((long) $b2 * $bs + $bs, (long) $n);
         |Object[] $out;
         |int $idx = 0;
         |if ($b1 == $b2) {
         |  int $m = $hi - $li;
         |  long $total = (long) $m * ($m - 1) / 2;
         |  ${PairGen.sizeGuardJava(total,
             s""""ordered_pairs_block: tile of " + $m + " docs"""")}
         |  $out = new Object[(int) $total];
         |  ${PairGen.structDiagJava(d, elem, li, hi, out, idx, i, j, a, bb)}
         |} else {
         |  long $total = (long) ($hi - $li) * ($hj - $lj);
         |  ${PairGen.sizeGuardJava(total,
             s""""ordered_pairs_block: tile of " + ($hi - $li) + "x" + ($hj - $lj) + " docs"""")}
         |  $out = new Object[(int) $total];
         |  ${PairGen.structRectJava(d, elem, li, hi, lj, hj, out, idx, i, j, a, bb)}
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression, q: Expression): OrderedPairsBlock =
    copy(docs = f, bi = s, bj = t, blockSize = q)
}

object OrderedPairsBlock {
  def register(spark: SparkSession): Unit =
    Registry.ensure(spark, "ordered_pairs_block")(exprs =>
      OrderedPairsBlock(exprs(0), exprs(1), exprs(2), exprs(3)))
}

package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{DataType, IntegerType}

/** The ONE implementation of ordered-pair generation over a slice of a
  * sorted, duplicate-free array — shared by both tiled pair expressions
  * ([[OrderedPairsPackedBlock]], [[OrderedPairsBlock]]), interpreted AND
  * codegen, so a fix (e.g. the Int-overflow allocation guard below) lands
  * once: each expression contributes only its prologue (bounds, argument
  * guards) and delegates every loop to these helpers.
  *
  * Two loop shapes cover all cases:
  *  - diag  [lo,hi): the within-slice (i < j) triangle — a tile's
  *    diagonal block is the diag over its clamped bounds;
  *  - rect  [li,hi) × [lj,hj): the full cross product of two disjoint
  *    blocks (callers guarantee hi ≤ lj, so i < j holds pairwise).
  */
private[functions] object PairGen {

  /** Pair-buffer length with the Int-overflow guard every allocation goes
    * through: the count is computed in Long and rejected loudly past
    * Int.MaxValue, because an Int product would wrap, allocate a short
    * (or negative-size) array, and the fill loop would write past its
    * end. `what` names the offending input for the error message. */
  def checkedSize(count: Long, what: => String): Int = {
    if (count > Int.MaxValue)
      throw new IllegalArgumentException(
        s"$what yields $count pairs (> Int.MaxValue); " +
          "cap or split frequent shingles before pair generation")
    count.toInt
  }

  /** Shared analysis-time input contract of the two blocked expressions:
    * `docsOk` decides the array argument (element-type strictness differs
    * between the packed and struct forms), the three tile arguments must
    * be int — a bigint index would work under codegen (Java widening) but
    * throw ClassCastException on the interpreted path, and behavior must
    * not depend on the codegen factory mode. */
  def checkBlockInputs(prettyName: String, docs: Expression,
      bi: Expression, bj: Expression, blockSize: Expression,
      docsOk: PartialFunction[DataType, Boolean], want: String): TypeCheckResult = {
    if (!docsOk.applyOrElse(docs.dataType, (_: DataType) => false))
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires $want as its first argument, got ${docs.dataType.simpleString}")
    else
      Seq("bi" -> bi, "bj" -> bj, "blockSize" -> blockSize)
        .find(_._2.dataType != IntegerType)
        .map { case (name, e) => TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires int $name, got ${e.dataType.simpleString}") }
        .getOrElse(TypeCheckResult.TypeCheckSuccess)
  }

  // ---- interpreted (eval) loops ----

  def packedDiag(arr: ArrayData, lo: Int, hi: Int, what: => String): Array[Long] = {
    val m = hi - lo
    val out = new Array[Long](checkedSize(m.toLong * (m - 1) / 2, what))
    var idx = 0
    var i = lo
    while (i < hi) {
      val h = arr.getLong(i) << 32
      var j = i + 1
      while (j < hi) { out(idx) = h | arr.getLong(j); idx += 1; j += 1 }
      i += 1
    }
    out
  }

  def packedRect(arr: ArrayData, li: Int, hi: Int, lj: Int, hj: Int,
      what: => String): Array[Long] = {
    val out = new Array[Long](
      checkedSize((hi - li).toLong * (hj - lj), what))
    var idx = 0
    var i = li
    while (i < hi) {
      val h = arr.getLong(i) << 32
      var j = lj
      while (j < hj) { out(idx) = h | arr.getLong(j); idx += 1; j += 1 }
      i += 1
    }
    out
  }

  def structDiag(arr: ArrayData, elem: DataType, lo: Int, hi: Int,
      what: => String): Array[Any] = {
    val m = hi - lo
    val out = new Array[Any](checkedSize(m.toLong * (m - 1) / 2, what))
    var idx = 0
    var i = lo
    while (i < hi) {
      val a = arr.get(i, elem)
      var j = i + 1
      while (j < hi) { out(idx) = InternalRow(a, arr.get(j, elem)); idx += 1; j += 1 }
      i += 1
    }
    out
  }

  def structRect(arr: ArrayData, elem: DataType, li: Int, hi: Int, lj: Int, hj: Int,
      what: => String): Array[Any] = {
    val out = new Array[Any](
      checkedSize((hi - li).toLong * (hj - lj), what))
    var idx = 0
    var i = li
    while (i < hi) {
      val a = arr.get(i, elem)
      var j = lj
      while (j < hj) { out(idx) = InternalRow(a, arr.get(j, elem)); idx += 1; j += 1 }
      i += 1
    }
    out
  }

  // ---- codegen fragments (callers pass ctx.freshName results; every
  //      fragment assumes `out`/`idx` are declared and sized already) ----

  /** Java guard mirroring [[checkedSize]]: `total` must be a declared
    * `long`; `whatJava` is a Java STRING EXPRESSION naming the input. */
  def sizeGuardJava(total: String, whatJava: String): String =
    s"""
       |if ($total > Integer.MAX_VALUE) {
       |  throw new IllegalArgumentException(
       |    $whatJava + " yields " + $total +
       |    " pairs (> Int.MaxValue); cap or split frequent shingles before pair generation");
       |}
     """.stripMargin

  /** assignment boxing (primitive -> Object slot) is Janino-supported;
    * nulls bypass the typed accessor entirely, no ternary unbox trap */
  def boxedJava(src: String, elem: DataType, pos: String, dst: String): String =
    s"""
       |Object $dst = null;
       |if (!$src.isNullAt($pos)) {
       |  $dst = (Object) ${CodeGenerator.getValue(src, elem, pos)};
       |}
     """.stripMargin

  def packedDiagJava(c: String, lo: String, hi: String,
      out: String, idx: String, i: String, j: String, h: String): String =
    s"""
       |for (int $i = $lo; $i < $hi; $i++) {
       |  long $h = $c.getLong($i) << 32;
       |  for (int $j = $i + 1; $j < $hi; $j++) {
       |    $out[$idx++] = $h | $c.getLong($j);
       |  }
       |}
     """.stripMargin

  def packedRectJava(c: String, li: String, hi: String, lj: String, hj: String,
      out: String, idx: String, i: String, j: String, h: String): String =
    s"""
       |for (int $i = $li; $i < $hi; $i++) {
       |  long $h = $c.getLong($i) << 32;
       |  for (int $j = $lj; $j < $hj; $j++) {
       |    $out[$idx++] = $h | $c.getLong($j);
       |  }
       |}
     """.stripMargin

  def structDiagJava(c: String, elem: DataType, lo: String, hi: String,
      out: String, idx: String, i: String, j: String, a: String, b: String): String =
    s"""
       |for (int $i = $lo; $i < $hi; $i++) {
       |  ${boxedJava(c, elem, i, a)}
       |  for (int $j = $i + 1; $j < $hi; $j++) {
       |    ${boxedJava(c, elem, j, b)}
       |    $out[$idx++] = new org.apache.spark.sql.catalyst.expressions
       |      .GenericInternalRow(new Object[] { $a, $b });
       |  }
       |}
     """.stripMargin

  def structRectJava(c: String, elem: DataType, li: String, hi: String, lj: String, hj: String,
      out: String, idx: String, i: String, j: String, a: String, b: String): String =
    s"""
       |for (int $i = $li; $i < $hi; $i++) {
       |  ${boxedJava(c, elem, i, a)}
       |  for (int $j = $lj; $j < $hj; $j++) {
       |    ${boxedJava(c, elem, j, b)}
       |    $out[$idx++] = new org.apache.spark.sql.catalyst.expressions
       |      .GenericInternalRow(new Object[] { $a, $b });
       |  }
       |}
     """.stripMargin
}

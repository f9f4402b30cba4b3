package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

class LayoutSpec extends SparkSpec {
  import spark.implicits._

  test("zValue interleaves bits exactly (bijective with the reference decode)") {
    val df = Seq((0L, 0L), (1L, 0L), (0L, 1L), (65535L, 65535L), (12345L, 54321L))
      .toDF("a", "b")
    val out = df.withColumn("z", Layout.zValue(col("a"), col("b")))
      .as[(Long, Long, Long)].collect()
    def ref(a: Long, b: Long): Long =
      (0 until 16).map(i => (((a >> i) & 1L) << (2 * i)) | (((b >> i) & 1L) << (2 * i + 1))).sum
    out.foreach { case (a, b, z) => assert(z === ref(a, b), s"z($a,$b)") }
    // locality sanity: neighbors in (a, b) are near on the curve
    assert(ref(2, 2) - ref(2, 1) < ref(2, 2) - 0)
  }
}

package graft.functions

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.operators.TextOps

/** Randomized (seeded) equivalence of the custom codegen/compiled
  * expressions against straight-line Scala reference implementations —
  * the adversarial check that generated code and hand-written eval agree
  * on arbitrary inputs, not just the fixtures. */
class ExpressionPropertySpec extends SparkSpec {
  import spark.implicits._

  private val rng = new scala.util.Random(20260812)

  test("VectorDot equals a plain fold for random float vectors") {
    val vecs = Seq.fill(200) {
      val n = 1 + rng.nextInt(96)
      (Array.fill(n)(rng.nextFloat() * 4f - 2f), Array.fill(n)(rng.nextFloat() * 4f - 2f))
    }
    val df = vecs.zipWithIndex.map { case ((a, b), i) => (i.toLong, a.toSeq, b.toSeq) }
      .toDF("id", "a", "b")
    val got = df.select(col("id"), VectorFunctions.dot(col("a"), col("b")).as("d"))
      .as[(Long, Double)].collect().toMap
    vecs.zipWithIndex.foreach { case ((a, b), i) =>
      val want = a.zip(b).foldLeft(0.0)((acc, p) => acc + p._1.toDouble * p._2.toDouble)
      assert(got(i.toLong) === want, s"vector $i")
    }
  }

  test("VectorDot degenerate inputs: length mismatch and null elements are NULL, not truncation") {
    // zip_with/aggregate parity: the short side pads with null, acc + null
    // is null — a corrupt/truncated embedding must surface as a NULL
    // similarity instead of a silently-truncated dot product
    val df = Seq(
      (1L, Some(Seq[Option[Float]](Some(1f), Some(2f), Some(3f))),
        Some(Seq[Option[Float]](Some(4f), Some(5f)))), // mismatch → null
      (2L, Some(Seq[Option[Float]](Some(1f), None)),
        Some(Seq[Option[Float]](Some(1f), Some(1f)))), // null element → null
      (3L, Some(Seq[Option[Float]](Some(2f), Some(3f))),
        Some(Seq[Option[Float]](Some(4f), Some(5f)))), // clean → 23.0
      (4L, None, Some(Seq[Option[Float]](Some(1f))))   // null array → null
    ).toDF("id", "a", "b")
    val got = df.select(col("id"), VectorFunctions.dot(col("a"), col("b")).as("d"))
      .collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getDouble(1))))
      .toMap
    assert(got === Map(1L -> None, 2L -> None, 3L -> Some(23.0), 4L -> None))
    // parity with the composable zip_with/aggregate formulation, row by row
    val viaLambda = df.select(col("id"),
      aggregate(zip_with(col("a"), col("b"),
        (x, y) => x.cast("double") * y.cast("double")), lit(0.0), (acc, x) => acc + x).as("d"))
      .collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getDouble(1))))
      .toMap
    assert(got === viaLambda)
  }

  test("VectorDot rejects non-float arrays at analysis, not garbage at runtime") {
    // UnsafeArrayData packs ints in 4-byte slots; an 8-byte getDouble
    // stride over them reads garbage — the type check must catch it first
    VectorDot.register(spark)
    val ints = Seq((1L, Seq(1, 2, 3))).toDF("id", "v")
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      ints.select(call_function("vector_dot", col("v"), col("v"))).collect()
    }
    assert(e.getMessage.toLowerCase.contains("array"))
  }

  test("RollingHash equals the byte fold for random unicode strings") {
    val strings = Seq.fill(200) {
      val n = rng.nextInt(64)
      new String(Array.fill(n)((rng.nextInt(0x24F) + 1).toChar)) // latin + extensions
    } :+ "" :+ "a b  c" :+ "日本語テキスト"
    val df = strings.zipWithIndex.map { case (s, i) => (i.toLong, s) }.toDF("id", "t")
    val got = df.select(col("id"), RollingHash.rollingHash(spark, col("t")).as("h"))
      .as[(Long, Long)].collect().toMap
    strings.zipWithIndex.foreach { case (s, i) =>
      val want = s.getBytes("UTF-8").foldLeft(0L)((h, b) => h * 31L + (b & 0xff))
      assert(got(i.toLong) === want, s"string $i: ${s.take(20)}")
    }
  }

  test("WordShingles equals a plain-Scala shingler for random word sequences") {
    val vocab = Vector("a", "bb", "ccc", "dd", "e", "ff")
    val texts = Seq.fill(200) {
      val n = rng.nextInt(12)
      Seq.fill(n)(vocab(rng.nextInt(vocab.size))).mkString(" ")
    } :+ "" :+ "a" :+ "a b" :+ "a  b c" // short docs + double space (empty token)
    def ref(text: String, n: Int): Seq[String] = {
      val w = text.split(" ", -1)
      if (w.length < n) Seq.empty
      else w.sliding(n).map(_.mkString(" ")).toSeq.distinct
    }
    for (n <- Seq(2, 3)) {
      val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "t")
      val got = df.select(col("id"), TextOps.shingles(col("t"), n).as("sh"))
        .as[(Long, Seq[String])].collect().toMap
      texts.zipWithIndex.foreach { case (t, i) =>
        assert(got(i.toLong) === ref(t, n), s"n=$n text $i: '$t'")
      }
    }
  }

  test("KgramHashes equals per-window RollingHash folds for random unicode strings") {
    for (k <- Seq(1, 3, 7, 20)) {
      val strings = Seq.fill(100) {
        val n = rng.nextInt(80)
        new String(Array.fill(n)((rng.nextInt(0x24F) + 1).toChar)) // multi-byte UTF-8 too
      } :+ "" :+ "a" * (k - 1) :+ "a" * k
      val df = strings.zipWithIndex.map { case (s, i) => (i.toLong, s) }.toDF("id", "t")
      val got = df.select(col("id"), KgramHashes.kgramHashes(spark, col("t"), k).as("hs"))
        .as[(Long, Seq[Long])].collect().toMap
      strings.zipWithIndex.foreach { case (s, i) =>
        val bytes = s.getBytes("UTF-8")
        val want = (0 to bytes.length - k).map { off =>
          bytes.slice(off, off + k).foldLeft(0L)((h, b) => h * 31L + (b & 0xff))
        }
        assert(got(i.toLong) === want, s"k=$k string $i")
      }
    }
  }

  test("BpeApply equals a straight-line greedy fold for random rules over random tokens") {
    val vocab = Vector("a", "b", "c", "d", "ee")
    def refApply(toks: Seq[String], rules: Seq[(String, String)]): Seq[String] =
      rules.foldLeft(toks) { case (ts, (x, y)) =>
        val out = scala.collection.mutable.ArrayBuffer.empty[String]
        var j = 0
        while (j < ts.length) {
          if (j + 1 < ts.length && ts(j) == x && ts(j + 1) == y) {
            out += s"$x $y"; j += 2
          } else { out += ts(j); j += 1 }
        }
        out.toSeq
      }
    val cases = Seq.fill(120) {
      val toks = Seq.fill(rng.nextInt(20))(vocab(rng.nextInt(vocab.length)))
      val rules = Seq.fill(1 + rng.nextInt(4))(
        (vocab(rng.nextInt(vocab.length)), vocab(rng.nextInt(vocab.length))))
      (toks, rules)
    }
    cases.zipWithIndex.foreach { case ((toks, rules), i) =>
      val df = Seq(Tuple1(toks.mkString(" "))).toDF("text")
      val got = df.select(BpeApply.bpeApply(spark,
          filter(split(col("text"), " "), x => x =!= lit("")), rules).as("t"))
        .as[Seq[String]].collect().head
      assert(got === refApply(toks, rules), s"case $i toks=$toks rules=$rules")
    }
  }

  test("BpeApply: a null TOKEN survives as a null element (nullable output), no crash") {
    // nullIntolerant covers a null ARRAY; a null ELEMENT matches no rule
    // and must come through as a typed null — the output element
    // nullability follows the input so the unsafe writer is never handed
    // an unannounced null
    val df = Seq((1L, Some(Seq[Option[String]](Some("a"), None, Some("a"), Some("b")))))
      .toDF("id", "toks")
    val out = df.select(BpeApply.bpeApply(spark, col("toks"), Seq(("a", "b"))).as("t"))
    assert(out.schema("t").dataType ===
      org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.StringType, containsNull = true))
    assert(out.as[Seq[Option[String]]].collect().head ===
      Seq(Some("a"), None, Some("a b")))
  }

  test("ResizePpm∘PpmFeatures equals a plain-Scala NN resample for random images") {
    // end-to-end through the CODEGEN path (DataFrame select over a real
    // projection), referenced against an independent nearest-neighbor
    // resample + channel-mean computation in plain Scala
    val cases = Seq.fill(60) {
      val (w, h) = (1 + rng.nextInt(8), 1 + rng.nextInt(8))
      val (w2, h2) = (1 + rng.nextInt(8), 1 + rng.nextInt(8))
      val pixels = Array.fill(3 * w * h)(rng.nextInt(256).toByte)
      (w, h, w2, h2, pixels)
    }
    cases.zipWithIndex.foreach { case ((w, h, w2, h2, pixels), i) =>
      val payload = s"P6\n$w $h\n255\n".getBytes("US-ASCII") ++ pixels
      val df = Seq((1L, payload)).toDF("media_id", "payload")
      val feats = graft.operators.Multimodal.decodePpm(
        graft.operators.Multimodal.resizePpm(df, w2, h2))
        .select(col("width"), col("height"), col("features"))
        .as[(Long, Long, Seq[Double])].collect().head
      // independent reference: sample source pixel (⌊x·w/w2⌋, ⌊y·h/h2⌋)
      val sums = new Array[Long](3)
      for (y <- 0 until h2; x <- 0 until w2) {
        val sp = 3 * ((y * h / h2) * w + (x * w / w2))
        for (c <- 0 until 3) sums(c) += pixels(sp + c) & 0xff
      }
      val want = sums.map(_.toDouble / (w2 * h2).toDouble).toSeq
      assert(feats === ((w2.toLong, h2.toLong, want)), s"case $i ${w}x$h -> ${w2}x$h2")
    }
    // random garbage payloads decode to null geometry, never throw
    val garbage = Seq.fill(20)(Array.fill(rng.nextInt(64))(rng.nextInt(256).toByte))
    val gdf = garbage.zipWithIndex.map { case (b, i) => (i.toLong, b) }.toDF("media_id", "payload")
    val nulls = graft.operators.Multimodal.decodePpm(
      graft.operators.Multimodal.resizePpm(gdf, 2, 2))
      .filter(col("width").isNull).count()
    assert(nulls === garbage.length.toLong)
  }

  test("WavStats equals a plain-Scala int16 reduction for random audio payloads") {
    def le32(v: Int) = Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
      ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)
    def le16(v: Int) = Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte)
    val cases = Seq.fill(60)(Array.fill(rng.nextInt(40))(rng.nextInt(0x10000)))
    cases.zipWithIndex.foreach { case (samples, i) =>
      val data = samples.flatMap(le16)
      val payload =
        "RIFF".getBytes("US-ASCII") ++ le32(36 + data.length) ++ "WAVE".getBytes("US-ASCII") ++
        "fmt ".getBytes("US-ASCII") ++ le32(16) ++ le16(1) ++ le16(1) ++
        le32(8000) ++ le32(16000) ++ le16(2) ++ le16(16) ++
        "data".getBytes("US-ASCII") ++ le32(data.length) ++ data
      val got = graft.operators.Multimodal.decodeWav(
        Seq((1L, payload)).toDF("media_id", "payload"))
        .select(col("n_samples"), col("sum_samples"), col("peak"))
        .as[(Long, Long, Long)].collect().head
      val signed = samples.map(s => (s << 16) >> 16) // int16 two's complement
      val want = (samples.length.toLong, signed.map(_.toLong).sum,
        if (signed.isEmpty) 0L else signed.map(s => math.abs(s.toLong)).max)
      assert(got === want, s"case $i n=${samples.length}")
    }
  }

  test("blocked pair expressions tile-partition the plain-Scala pair list exactly") {
    OrderedPairsPackedBlock.register(spark)
    OrderedPairsBlock.register(spark)
    val arrays = Seq.fill(60) {
      val n = rng.nextInt(40)
      (1 to n).map(_ => rng.nextLong(100000)).distinct.sorted
    } :+ Seq.empty[Long] :+ Seq(7L)
    for (b <- Seq(1, 3, 8)) {
      val tiles = arrays.zipWithIndex.flatMap { case (a, i) =>
        val nb = math.max(1, (a.length + b - 1) / b)
        for (bi <- 0 until nb; bj <- bi until nb) yield (i.toLong, a, bi, bj)
      }
      val df = tiles.toDF("id", "arr", "bi", "bj")
      val gotPacked = df
        .select(col("id"),
          explode(call_function("ordered_pairs_packed_block",
            col("arr"), col("bi"), col("bj"), lit(b))).as("pk"))
        .as[(Long, Long)].collect()
        .groupMap(_._1)(_._2).view.mapValues(_.toSet).toMap
      val gotStruct = df
        .select(col("id"),
          explode(call_function("ordered_pairs_block",
            col("arr"), col("bi"), col("bj"), lit(b))).as("p"))
        .select(col("id"), col("p.a"), col("p.b"))
        .as[(Long, Long, Long)].collect()
        .groupMap(_._1)(r => (r._2, r._3)).view.mapValues(_.toSet).toMap
      arrays.zipWithIndex.foreach { case (a, i) =>
        val want = (for (x <- a.indices; y <- x + 1 until a.length) yield (a(x), a(y))).toSet
        assert(gotPacked.getOrElse(i.toLong, Set.empty) ===
          want.map { case (p, q) => (p << 32) | q }, s"packed b=$b array $i")
        assert(gotStruct.getOrElse(i.toLong, Set.empty) === want, s"struct b=$b array $i")
      }
      // each global pair must come from exactly ONE tile — counts, not
      // sets (the set assertions above would absorb a double-emitting
      // tile bound regression), and on BOTH element branches
      val wantCount = arrays.map(a => a.length.toLong * (a.length - 1) / 2).sum
      val packedCount = df.select(explode(call_function("ordered_pairs_packed_block",
        col("arr"), col("bi"), col("bj"), lit(b))).as("pk")).count()
      assert(packedCount === wantCount,
        s"packed: duplicate or missing pairs across tiles at b=$b")
      val structCount = df.select(explode(call_function("ordered_pairs_block",
        col("arr"), col("bi"), col("bj"), lit(b))).as("p")).count()
      assert(structCount === wantCount,
        s"struct: duplicate or missing pairs across tiles at b=$b")
    }
  }

  // Spark wraps task-side failures (SparkException -> cause chain), so
  // asserting on the top-level message OR "any non-null cause" would
  // accept an unrelated NPE as the intended loud rejection — walk the
  // chain and demand the guard's own words
  private def causeChainMessages(t: Throwable): Seq[String] =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null).toSeq
      .flatMap(c => Option(c.getMessage))

  test("blocked pair expressions reject malformed tile indices loudly") {
    OrderedPairsPackedBlock.register(spark)
    OrderedPairsBlock.register(spark)
    val df = Seq((Seq(1L, 2L, 3L), 1, 0)).toDF("arr", "bi", "bj")
    val e = intercept[Exception] {
      df.select(explode(call_function("ordered_pairs_packed_block",
        col("arr"), col("bi"), col("bj"), lit(2))).as("pk")).collect()
    }
    assert(causeChainMessages(e).exists(_.contains("bi <= bj")), e.toString)
    val z = intercept[Exception] {
      df.select(explode(call_function("ordered_pairs_block",
        col("arr"), col("bj"), col("bj"), lit(0))).as("p")).collect()
    }
    assert(causeChainMessages(z).exists(_.contains("must be positive")), z.toString)
  }

  test("pair expressions refuse a tile/posting whose pair count overflows Int") {
    OrderedPairsPackedBlock.register(spark)
    // 70,000 docs in ONE tile -> 2.45e9 pairs: an Int product would wrap,
    // allocate a short array and write past its end; the guard must throw
    // BEFORE allocating, naming the count
    val df = Seq(Tuple1((0L until 70000L).toSeq)).toDF("arr")
    val e = intercept[Exception] {
      df.select(explode(call_function("ordered_pairs_packed_block",
        col("arr"), lit(0), lit(0), lit(70000))).as("pk")).count()
    }
    assert(causeChainMessages(e).exists(m =>
      m.contains("Int.MaxValue") && m.contains("2449965000")), e.toString)
  }

  test("pair expressions pin their input types at analysis, not at runtime") {
    OrderedPairsPackedBlock.register(spark)
    OrderedPairsBlock.register(spark)
    // array<int> under the packed form would getLong over a 4-byte stride
    // and emit silent garbage pairs; array-typed tile indices would work
    // under codegen (Java widening) but CCE on the interpreted path — both
    // must die in analysis instead
    val ints = Seq((Seq(1, 2, 3), 0, 0)).toDF("arr", "bi", "bj")
    intercept[org.apache.spark.sql.AnalysisException] {
      ints.select(call_function("ordered_pairs_packed_block",
        col("arr"), col("bi"), col("bj"), lit(2))).collect()
    }
    val longIdx = Seq((Seq(1L, 2L, 3L), 0L, 0L)).toDF("arr", "bi", "bj")
    intercept[org.apache.spark.sql.AnalysisException] {
      longIdx.select(call_function("ordered_pairs_block",
        col("arr"), col("bi"), col("bj"), lit(2))).collect()
    }
  }
}

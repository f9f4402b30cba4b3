package graft.operators

import org.apache.spark.sql.functions._

import graft.{SparkSpec, Tables}

class DecontaminationSpec extends SparkSpec {
  import spark.implicits._

  test("decontaminate flags exactly the docs sharing a shingle with the eval set") {
    val train = Seq(
      (1L, "alpha beta gamma delta"),          // shares "alpha beta gamma" with eval
      (2L, "one two three four five"),         // disjoint
      (3L, "xx yy"),                           // too short for a 3-gram: 0 shingles
      (4L, "zz alpha beta gamma"))             // shares the same eval shingle
      .toDF("doc_id", "text")
    val eval = Seq((100L, "alpha beta gamma epsilon")).toDF("doc_id", "text")
    val byId = Decontamination.decontaminate(train, eval)
      .select("doc_id", "n_shingles", "n_hits", "contaminated")
      .as[(Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(byId(1L) === ((2L, 1L, 1L)))
    assert(byId(2L) === ((3L, 0L, 0L)))
    assert(byId(3L) === ((0L, 0L, 0L)))   // shingle-less doc still present, zeros
    assert(byId(4L) === ((2L, 1L, 1L)))
    assert(byId.size === 4)               // every train doc exactly once
  }

  test("decontaminate: a contaminated NULL-id doc is flagged, not a silent false negative") {
    // null-safe rollup join: the null-id doc groups as its own key and its
    // hit counts must survive the join back onto the train frame
    val train = Seq(
      (Some(1L), "one two three four five"),
      (Option.empty[Long], "alpha beta gamma delta")) // shares eval shingle
      .toDF("doc_id", "text")
    val eval = Seq((100L, "alpha beta gamma epsilon")).toDF("doc_id", "text")
    val rows = Decontamination.decontaminate(train, eval).collect()
      .map(r => (if (r.isNullAt(0)) None else Some(r.getLong(0))) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(rows.keySet === Set(Some(1L), None))
    assert(rows(None) === ((2L, 1L, 1L)), "null-id doc must flag contaminated")
    assert(rows(Some(1L)) === ((3L, 0L, 0L)))
  }

  test("decontaminate on the sf0.001 corpus equals a driver-side shingle-set reference") {
    val docs = Tables.documents(spark, TinySf)
    val train = docs.filter(col("doc_id") % 10 =!= 0)
    val eval = docs.filter(col("doc_id") % 10 === 0)
    val got = Decontamination.decontaminate(train, eval)
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1).toSeq
    // distinct word 3-grams: split on a single space, empty tokens kept
    def shingles(text: String): Set[String] = {
      val w = Option(text).fold(Array.empty[String])(_.split(" ", -1))
      if (w.length < 3) Set.empty else w.sliding(3).map(_.mkString(" ")).toSet
    }
    val evalSh = eval.select("text").as[String].collect().flatMap(shingles).toSet
    val expected = train.select("doc_id", "text").as[(Long, String)].collect().sortBy(_._1)
      .map { case (id, text) =>
        val sh = shingles(text)
        val hits = sh.count(evalSh).toLong
        (id, sh.size.toLong, hits, if (hits > 0) 1L else 0L)
      }.toSeq
    assert(got === expected)
    assert(got.exists(_._4 == 1L), "fixture should contain contaminated docs")
  }
}

class TopKSpec extends SparkSpec {
  import spark.implicits._

  test("salted two-level top-k equals the single-window rank") {
    val docs = TextOps.quality(Tables.documents(spark, TinySf))
      .select(col("lang"), col("doc_id"), col("quality_score"))
    val ordering = Seq(col("quality_score").desc, col("doc_id"))
    val twoLevel = TopK.topKPerGroup(docs, Seq("lang"), ordering, k = 5)
      .select("lang", "doc_id", "rnk")
      .as[(String, Long, Long)].collect().toSet
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang")).orderBy(ordering: _*)
    val naive = docs.withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= 5)
      .select("lang", "doc_id", "rnk")
      .as[(String, Long, Long)].collect().toSet
    assert(twoLevel === naive)
  }

  test("result is invariant to the salt fan-out and input partitioning") {
    val docs = TextOps.quality(Tables.documents(spark, TinySf))
      .select(col("lang"), col("doc_id"), col("quality_score"))
    val ordering = Seq(col("quality_score").desc, col("doc_id"))
    val base = TopK.topKPerGroup(docs, Seq("lang"), ordering, k = 3, salt = 64)
      .select("lang", "doc_id", "rnk").as[(String, Long, Long)].collect().toSet
    for (s <- Seq(1, 7, 256)) {
      val v = TopK.topKPerGroup(docs.repartition(s + 2), Seq("lang"), ordering, k = 3, salt = s)
        .select("lang", "doc_id", "rnk").as[(String, Long, Long)].collect().toSet
      assert(v === base, s"salt $s")
    }
  }
}

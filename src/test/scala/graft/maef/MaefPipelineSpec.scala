package graft.maef

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSpec
import graft.functions.RollingHash
import graft.operators.{Multimodal, TextOps}

/** The latch the copy tasks of "copyAndVerify runs its copies at the same
  * time" meet on: an object, so the tasks share it instead of each
  * deserializing a copy. */
object CopyOverlap {
  val started = new java.util.concurrent.atomic.AtomicReference[java.util.concurrent.CountDownLatch]
}

class MaefPipelineSpec extends SparkSpec {
  import spark.implicits._

  private def fixtures() = {
    val conv = Seq(
      ("c1", "u1", "2023-08-02", "10:00:00", 100.0),
      ("c2", "u2", "2023-08-03", "12:00:00", 50.0))
      .toDF("conv_id", "user_id", "conv_date", "conv_time", "revenue")
    val sess = Seq(
      ("s1", "u1", "2023-08-01", "09:00:00", "Direct", 1, 0, 0),
      ("s2", "u1", "2023-08-02", "09:30:00", "Email", 0, 1, 0),
      ("s3", "u2", "2023-08-03", "11:00:00", "Direct", 1, 0, 1),
      ("s4", "u2", "2023-08-04", "09:00:00", "Direct", 1, 0, 0)) // after conv → excluded
      .toDF("session_id", "user_id", "event_date", "event_time",
        "channel_name", "holder_engagement", "closer_engagement", "impression_interaction")
    val costs = Seq(("s1", 5.0), ("s2", 7.5), ("s3", 2.0)).toDF("session_id", "cost")
    (conv, sess, costs)
  }

  test("pipeline end-to-end with native attribution produces a coherent report") {
    val (conv, sess, costs) = fixtures()
    val report = MaefPipeline.run(spark, conv, sess, costs).cache()
    assert(report.count() > 0)
    val cols = report.columns.toSeq
    assert(cols === Seq("channel_name", "date", "cost", "ihc", "ihc_revenue", "cpo", "roas"))
    // u2's journey is single-session ⇒ ihc 1.0 lands on (Direct, 2023-08-03)
    val direct = report.filter(col("channel_name") === "Direct" && col("date") === "2023-08-03").first()
    assert(direct.getAs[Double]("ihc") === 1.0)
    assert(direct.getAs[Double]("ihc_revenue") === 50.0)
    report.unpersist()
  }

  test("pipeline replays recorded responses instead of the native model") {
    val (conv, sess, costs) = fixtures()
    val dir = java.nio.file.Files.createTempDirectory("graft_replay").toString
    val recorded =
      """[{"statusCode": 200, "value": [
        |  {"conversion_id": "c1", "session_id": "s1", "initializer": 1.0, "holder": 0.5, "closer": 0.0, "ihc": 0.7},
        |  {"conversion_id": "c1", "session_id": "s2", "initializer": 0.0, "holder": 0.5, "closer": 1.0, "ihc": 0.3}
        |]}]""".stripMargin
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/resp.json"), recorded)
    val report = MaefPipeline.run(spark, conv, sess, costs,
      recordedResponses = Some(s"$dir/resp.json"))
    val byChannel = report.select("channel_name", "ihc").as[(String, Double)].collect().toMap
    // s1 (Direct, 2023-08-01) predates MIN(conv_date)=2023-08-02, so the A3
    // HAVING drops it — only the replayed Email row survives.
    assert(byChannel === Map("Email" -> 0.3))
  }

  test("copyAndVerify round-trips tables with matching counts (S3/S4)") {
    val (conv, sess, costs) = fixtures()
    val dir = java.nio.file.Files.createTempDirectory("graft_wh").toString
    val counts = MaefPipeline.copyAndVerify(
      Map("conversions" -> conv, "session_sources" -> sess, "session_costs" -> costs), dir)
    assert(counts === Map("conversions" -> 2L, "session_sources" -> 4L, "session_costs" -> 3L))
  }

  /** A one-row, one-partition table whose write task runs `act`. */
  private def copyFrame(act: () => Unit) = {
    val run = udf { (id: Long) => act(); id }.asNondeterministic()
    spark.range(0, 1, 1, 1).toDF("id").select(run(col("id")).as("id"))
  }

  test("copyAndVerify runs its copies at the same time") {
    // each copy's one task waits for all three to have started: copies run
    // one after another would time out on the first
    CopyOverlap.started.set(new java.util.concurrent.CountDownLatch(3))
    val meet = () => {
      val started = CopyOverlap.started.get
      started.countDown()
      if (!started.await(30, java.util.concurrent.TimeUnit.SECONDS))
        throw new IllegalStateException("copies did not overlap")
    }
    val dir = java.nio.file.Files.createTempDirectory("graft_wh_overlap").toString
    val counts = MaefPipeline.copyAndVerify(
      Map("a" -> copyFrame(meet), "b" -> copyFrame(meet), "c" -> copyFrame(meet)), dir)
    assert(counts === Map("a" -> 1L, "b" -> 1L, "c" -> 1L))
  }

  test("a failed copy surfaces once every copy has stopped, in table order") {
    def fail(after: Long, msg: String) = () => { Thread.sleep(after); throw new IllegalStateException(msg) }
    def mentions(t: Throwable, msg: String) = Iterator.iterate(t)(_.getCause)
      .takeWhile(_ != null).exists(e => Option(e.getMessage).exists(_.contains(msg)))
    def poolThreads = Thread.getAllStackTraces.keySet.toArray(Array.empty[Thread]).toSeq
      .filter(t => t.getName.startsWith("copy-and-verify") && t.isAlive)
    val dir = java.nio.file.Files.createTempDirectory("graft_wh_fail").toString
    // `b` fails after `c`, and `a` succeeds after both have failed
    val e = intercept[Throwable] {
      MaefPipeline.copyAndVerify(Map(
        "a" -> copyFrame(() => Thread.sleep(1500)),
        "b" -> copyFrame(fail(500, "copy b failed")),
        "c" -> copyFrame(fail(0, "copy c failed"))), dir)
    }
    assert(mentions(e, "copy b failed"), e)
    // Spark adds a suppressed stack trace of its own to a job failure
    assert(e.getSuppressed.count(mentions(_, "copy c failed")) === 1, e.getSuppressed.toSeq)
    assert(spark.sparkContext.statusTracker.getActiveJobIds.isEmpty)
    assert(poolThreads.isEmpty, poolThreads)
    assert(new java.io.File(s"$dir/a/_SUCCESS").exists)
  }

  test("pretty JSON array sink lays records out like json.dump(indent=4)") {
    val record = StructType(Seq(
      StructField("conversion_id", StringType), StructField("session_id", StringType),
      StructField("ihc", DoubleType)))
    val envelope = StructType(Seq(
      StructField("statusCode", IntegerType), StructField("value", ArrayType(record)),
      StructField("data", StringType)))
    val rows = Seq(
      Row(200, Seq(Row("c1", "s1", 0.5), Row("c,\"2:{[", null, 1.0)), null),
      Row(200, Seq.empty[Row], null))
    val frame = spark.createDataFrame(java.util.Arrays.asList(rows: _*), envelope)
    val path = java.nio.file.Files.createTempDirectory("graft_json_layout").toString + "/r.json"
    assert(JsonArrayIO.writePrettyJsonArray(frame, path) === 2L)
    assert(java.nio.file.Files.readString(java.nio.file.Paths.get(path)) ===
      """[
        |    {
        |        "statusCode": 200,
        |        "value": [
        |            {
        |                "conversion_id": "c1",
        |                "session_id": "s1",
        |                "ihc": 0.5
        |            },
        |            {
        |                "conversion_id": "c,\"2:{[",
        |                "session_id": null,
        |                "ihc": 1.0
        |            }
        |        ],
        |        "data": null
        |    },
        |    {
        |        "statusCode": 200,
        |        "value": [],
        |        "data": null
        |    }
        |]""".stripMargin)
  }

  test("pretty JSON array sink round-trips through the array source (S5/S6)") {
    val (conv, sess, _) = fixtures()
    val entries = MaefJourneys.transform(conv, sess)
    val dir = java.nio.file.Files.createTempDirectory("graft_json").toString
    JsonArrayIO.writePrettyJsonArray(entries, s"$dir/entries.json")
    val raw = java.nio.file.Files.readString(java.nio.file.Paths.get(s"$dir/entries.json"))
    assert(raw.startsWith("[\n    {\n        "))
    val back = JsonArrayIO.readJsonArray(spark, s"$dir/entries.json", MaefModel.JourneyEntry)
    assert(back.count() === entries.count())
    assert(back.select("conversion_id", "session_id").as[(String, String)].collect().toSet
      === entries.select("conversion_id", "session_id").as[(String, String)].collect().toSet)
  }

  private def parquetWarehouse(): String = {
    val (conv, sess, costs) = fixtures()
    val wh = java.nio.file.Files.createTempDirectory("graft_wh_main").toString
    conv.write.mode("overwrite").parquet(s"$wh/conversions")
    sess.write.mode("overwrite").parquet(s"$wh/session_sources")
    costs.write.mode("overwrite").parquet(s"$wh/session_costs")
    wh
  }

  test("MaefMain runs the reference's five steps end to end from a parquet warehouse") {
    val (conv, sess, costs) = fixtures()
    val wh = parquetWarehouse()
    val out = java.nio.file.Files.createTempDirectory("graft_out_main").toString
    val a = MaefMain.run(spark, wh, out)
    assert(a.transformedRows === 3)  // c1×(s1,s2) + c2×s3
    assert(a.attributionRows === 3)
    assert(a.positiveIhcRows === 3)
    assert(a.reportRows > 0)
    for (f <- Seq("target_data.json", "api_response.json", "channel_report.csv"))
      assert(java.nio.file.Files.exists(java.nio.file.Paths.get(s"$out/$f")), f)
    val csv = java.nio.file.Files.readAllLines(
      java.nio.file.Paths.get(s"$out/channel_report.csv"))
    assert(csv.get(0) === "channel_name,date,cost,ihc,ihc_revenue,cpo,roas")
    // the pipeline's OWN api_response.json must replay through the
    // recorded-responses path — the artifact is envelope-shaped like the
    // reference's, not a flat record array that would read back as zero
    // records under the ResponseEnvelope schema
    val replayed = MaefPipeline.run(spark, conv, sess, costs,
      MaefPipeline.Config(fanoutCosts = false, exactSums = true),
      recordedResponses = Some(s"$out/api_response.json"))
    assert(replayed.count() > 0)
    // windowed rerun (the reference's date-bounded mode): only c2 survives
    val out2 = java.nio.file.Files.createTempDirectory("graft_out_main2").toString
    val w = DateWindow.validate("2023-08-03", "2023-08-03", java.time.LocalDate.of(2024, 1, 1))
    val b = MaefMain.run(spark, wh, out2, Some(w))
    assert(b.transformedRows === 1)
    assert(b.attributionRows === 1)
    // the report keeps the reference's ORDER BY channel_name, date
    // (reporting.py:150-167), over several channels and dates: each of
    // 12 users converts on one of four days after a session on each of
    // two channels that day
    val channels = Seq("Social", "Direct", "Email")
    val users = 1 to 12
    def day(u: Int) = s"2023-08-0${2 + u % 4}"
    val wide = java.nio.file.Files.createTempDirectory("graft_wh_order").toString
    users.map(u => (s"c$u", s"u$u", day(u), "23:00:00", 10.0 * u))
      .toDF("conv_id", "user_id", "conv_date", "conv_time", "revenue")
      .write.parquet(s"$wide/conversions")
    val sessions = users.flatMap(u => Seq(
      (s"s${u}a", s"u$u", day(u), "09:00:00", channels(u % 3), 1, 0, 0),
      (s"s${u}b", s"u$u", day(u), "10:00:00", channels((u + 1) % 3), 0, 1, 1)))
    sessions.toDF("session_id", "user_id", "event_date", "event_time",
        "channel_name", "holder_engagement", "closer_engagement", "impression_interaction")
      .write.parquet(s"$wide/session_sources")
    sessions.map(r => (r._1, 1.5)).toDF("session_id", "cost").write.parquet(s"$wide/session_costs")
    val out3 = java.nio.file.Files.createTempDirectory("graft_out_order").toString
    MaefMain.run(spark, wide, out3)
    val keys = java.nio.file.Files.readAllLines(java.nio.file.Paths.get(s"$out3/channel_report.csv"))
      .toArray(Array.empty[String]).toSeq.tail
      .map { line => val f = line.split(","); (f(0), f(1)) }
    assert(keys.map(_._1).distinct.size === 3 && keys.map(_._2).distinct.size === 4, keys)
    assert(keys === keys.sorted, keys)
  }

  test("MaefMain.run releases the frames it persists") {
    // journeys and attribution are cached for their several consumers
    // inside run; neither a CLI pass nor a library call may leave them
    // pinned in the block manager
    val wh = parquetWarehouse()
    val out = java.nio.file.Files.createTempDirectory("graft_out_cache").toString
    val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
    MaefMain.run(spark, wh, out)
    val left = spark.sparkContext.getPersistentRDDs.keySet.toSet -- before
    assert(left.isEmpty, s"cached RDDs left behind by run: $left")
  }

  test("single-file CSV sink writes one header file (S7)") {
    val (conv, sess, costs) = fixtures()
    val report = MaefPipeline.run(spark, conv, sess, costs)
    val dir = java.nio.file.Files.createTempDirectory("graft_csv").toString
    JsonArrayIO.writeSingleCsv(report, s"$dir/channel_report.csv")
    val lines = java.nio.file.Files.readAllLines(
      java.nio.file.Paths.get(s"$dir/channel_report.csv"))
    assert(lines.get(0) === "channel_name,date,cost,ihc,ihc_revenue,cpo,roas")
    assert(lines.size() > 1)
  }
}

class TextOpsSpec extends SparkSpec {
  import spark.implicits._

  test("shingles: distinct word n-grams; short docs yield empty arrays") {
    val df = Seq((1L, "a b c d"), (2L, "x y")).toDF("doc_id", "text")
    val sh = df.select(col("doc_id"), TextOps.shingles(col("text"), 3).as("sh"))
      .as[(Long, Seq[String])].collect().toMap
    assert(sh(1L) === Seq("a b c", "b c d"))
    assert(sh(2L) === Seq.empty)
  }

  test("langid scores and argmax tiebreak are deterministic") {
    val df = Seq(
      (1L, "the cat is of the mat"),        // en markers dominate
      (2L, "der hund und die katze ist"),   // de markers
      (3L, "nothing matching here"))        // all zero → tie → en (priority)
      .toDF("doc_id", "text")
    val out = TextOps.langId(df).select("doc_id", "predicted_lang")
      .as[(Long, String)].collect().toMap
    assert(out(1L) === "en")
    assert(out(2L) === "de")
    assert(out(3L) === "en")
  }

  test("rolling hash: codegen expression matches the fold definition and concat identity") {
    val df = Seq((1L, "spark"), (2L, ""), (3L, "s")).toDF("id", "t")
    val got = df.select(col("id"), RollingHash.rollingHash(spark, col("t")).as("h"))
      .as[(Long, Long)].collect().toMap
    def ref(s: String): Long =
      s.getBytes("UTF-8").foldLeft(0L)((h, b) => h * 31L + (b & 0xff))
    assert(got(1L) === ref("spark"))
    assert(got(2L) === 0L)
    assert(got(3L) === ref("s"))
    // h(a ++ b) = h(a)·31^len(b) + h(b)
    val ab = ref("sp" + "ark")
    val manual = ref("sp") * math.pow(31, 3).toLong + ref("ark")
    assert(ab === manual)
  }

  test("PPM decode: real P6 parse (comments, whitespace) and exact channel means") {
    // hand-built 2×1 P6 image with a header comment — exercises the
    // format's grammar, not just the happy path encodePpm emits
    val header = "P6\n# a comment\n2 1\n255\n".getBytes("US-ASCII")
    val pixels = Array[Byte](10, 20, 30, 40, 50, 60) // RGB, RGB
    val good = header ++ pixels
    val bad = "P5\n2 1\n255\n".getBytes("US-ASCII") ++ pixels // wrong magic
    val truncated = good.dropRight(1) // pixel plane one byte short
    val media = Seq((1L, good), (2L, bad), (3L, truncated))
      .toDF("media_id", "payload")
    val feats = Multimodal.decodePpm(media).cache()
    val r1 = feats.filter(col("media_id") === 1).first()
    assert(r1.getAs[Long]("width") === 2L && r1.getAs[Long]("height") === 1L)
    assert(r1.getAs[Long]("maxval") === 255L)
    // meanR = (10+40)/2, meanG = (20+50)/2, meanB = (30+60)/2
    assert(r1.getAs[Seq[Double]]("features") === Seq(25.0, 35.0, 45.0))
    // malformed payloads degrade to null geometry/features, not a crash
    for (id <- Seq(2L, 3L)) {
      val r = feats.filter(col("media_id") === id).first()
      assert(r.isNullAt(r.fieldIndex("width")) && r.isNullAt(r.fieldIndex("features")))
    }
    feats.unpersist()
  }

  test("encodePpm ∘ decodePpm: byte payloads round-trip to exact channel means") {
    val docs = Seq((1L, "abcdefgh", "src0"), (2L, "", "src1")).toDF("doc_id", "text", "source")
    val feats = Multimodal.decodePpm(
      Multimodal.encodePpm(Multimodal.asMedia(docs), w = 2, h = 2)).cache()
    assert(feats.count() === 2)
    val r1 = feats.filter(col("media_id") === 1).first()
    // "P6\n2 2\n255\n" = 11 header bytes + 12 pixel bytes
    assert(r1.getAs[Long]("n_bytes") === 23L)
    // pixels = "abcdefgh" + 4 zero bytes; R channel = bytes 0,3,6,9
    val b = "abcdefgh".getBytes("US-ASCII").map(_.toInt) ++ Array(0, 0, 0, 0)
    val meanR = (b(0) + b(3) + b(6) + b(9)).toDouble / 4.0
    assert(r1.getAs[Seq[Double]]("features").head === meanR)
    // empty text ⇒ all-zero plane, valid image, zero means
    val r2 = feats.filter(col("media_id") === 2).first()
    assert(r2.getAs[Long]("width") === 2L)
    assert(r2.getAs[Seq[Double]]("features") === Seq(0.0, 0.0, 0.0))
    feats.unpersist()
  }

  test("resizePpm: nearest-neighbor sampling, chainable output, malformed→null") {
    // 4×1 source: target 2×1 keeps pixels at x∈{0,2} (sx = x·4/2)
    val header = "P6\n4 1\n255\n".getBytes("US-ASCII")
    val pixels = Array[Byte](1, 2, 3, 11, 12, 13, 21, 22, 23, 31, 32, 33)
    val bad = "P5\nnope".getBytes("US-ASCII")
    val media = Seq((1L, header ++ pixels), (2L, bad)).toDF("media_id", "payload")
    val resized = Multimodal.resizePpm(media, w2 = 2, h2 = 1)
    // the resized payload is itself a valid P6 → re-decode it for real
    val feats = Multimodal.decodePpm(resized).cache()
    val r1 = feats.filter(col("media_id") === 1).first()
    assert(r1.getAs[Long]("width") === 2L && r1.getAs[Long]("height") === 1L)
    // kept pixels (1,2,3) and (21,22,23) ⇒ channel means (11, 12, 13)
    assert(r1.getAs[Seq[Double]]("features") === Seq(11.0, 12.0, 13.0))
    val r2 = feats.filter(col("media_id") === 2).first()
    assert(r2.isNullAt(r2.fieldIndex("width")), "malformed source → null payload → null decode")
    feats.unpersist()
    // upsample 4×1 → 8×1 duplicates each pixel (sx = x·4/8 = x/2)
    val up = Multimodal.decodePpm(Multimodal.resizePpm(media, w2 = 8, h2 = 1))
      .filter(col("media_id") === 1).first()
    assert(up.getAs[Long]("width") === 8L)
    // doubled pixels keep the same channel means
    assert(up.getAs[Seq[Double]]("features") === Seq(16.0, 17.0, 18.0))
  }

  test("codec family substrate: decode/resize are projections, not RDD fences") {
    // resize ∘ decode chains inside whole-stage codegen: the plan must
    // contain NO ExistingRDD scan (the old mapPartitions substrate) and at
    // least one WholeStageCodegen span covering the projection
    // spark.range base (a local Seq folds to LocalTableScan at plan time)
    // and an id-dependent payload (a pure literal constant-folds straight
    // through the codec expressions — which proves eval, but leaves no
    // projection to assert codegen on)
    val media = spark.range(1).select(
      col("id").as("media_id"),
      when(col("id") >= 0,
        lit("P6\n1 1\n255\n".getBytes("US-ASCII") ++ Array[Byte](9, 9, 9)))
        .as("payload"))
    val chained = Multimodal.decodePpm(Multimodal.resizePpm(media, w2 = 2, h2 = 2))
    val plan = chained.queryExecution.executedPlan.toString
    assert(!plan.contains("ExistingRDD"), s"codec ops must not drop to RDD:\n$plan")
    // "*(n)" is the WholeStageCodegen marker in the executed-plan string
    assert(plan.contains("*(1) Project"), s"codec ops must codegen:\n$plan")
    assert(plan.contains("resize_ppm") && plan.contains("ppm_features"),
      s"both codec expressions must ride in the projection:\n$plan")
    val wavPlan = Multimodal.decodeWav(media).queryExecution.executedPlan.toString
    assert(!wavPlan.contains("ExistingRDD"), s"decodeWav must not drop to RDD:\n$wavPlan")
    assert(wavPlan.contains("*(1) Project") && wavPlan.contains("wav_stats"),
      s"decodeWav must codegen:\n$wavPlan")
  }

  test("WAV decode: RIFF chunk walk, signed samples, malformed containers") {
    def le32(v: Int) = Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
      ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)
    def le16(v: Int) = Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte)
    def fmtChunk = "fmt ".getBytes("US-ASCII") ++ le32(16) ++
      le16(1) ++ le16(1) ++ le32(8000) ++ le32(16000) ++ le16(2) ++ le16(16)
    // samples 1000, -1, -32768: exercises both two's-complement halves
    val data = "data".getBytes("US-ASCII") ++ le32(6) ++
      le16(1000) ++ le16(0xFFFF) ++ le16(0x8000)
    // a 5-byte vendor chunk between fmt and data — the walker must skip it
    // INCLUDING the pad byte RIFF adds to odd-length chunks
    val vendor = "LIST".getBytes("US-ASCII") ++ le32(5) ++ Array[Byte](1, 2, 3, 4, 5, 0)
    def riff(body: Array[Byte]) =
      "RIFF".getBytes("US-ASCII") ++ le32(4 + body.length) ++ "WAVE".getBytes("US-ASCII") ++ body
    val good = riff(fmtChunk ++ vendor ++ data)
    val noFmt = riff(data) // data before any fmt chunk
    val truncated = good.dropRight(1)
    val stereoFmt = "fmt ".getBytes("US-ASCII") ++ le32(16) ++
      le16(1) ++ le16(2) ++ le32(8000) ++ le32(32000) ++ le16(4) ++ le16(16)
    val stereo = riff(stereoFmt ++ data)
    // rate bytes 0xFFFFFFFF: le32 = 4294967295, wraps negative through
    // toInt — must be rejected, not reported as sample_rate = -1
    val badRateFmt = "fmt ".getBytes("US-ASCII") ++ le32(16) ++
      le16(1) ++ le16(1) ++ le32(-1) ++ le32(16000) ++ le16(2) ++ le16(16)
    val badRate = riff(badRateFmt ++ data)
    val media = Seq((1L, good), (2L, noFmt), (3L, truncated), (4L, stereo), (5L, badRate))
      .toDF("media_id", "payload")
    val out = Multimodal.decodeWav(media).cache()
    val r1 = out.filter(col("media_id") === 1).first()
    assert(r1.getAs[Long]("sample_rate") === 8000L)
    assert(r1.getAs[Long]("n_samples") === 3L)
    assert(r1.getAs[Long]("sum_samples") === (1000L - 1L - 32768L))
    assert(r1.getAs[Long]("peak") === 32768L)
    for (id <- Seq(2L, 3L, 4L, 5L)) {
      val r = out.filter(col("media_id") === id).first()
      assert(r.isNullAt(r.fieldIndex("n_samples")), s"media $id must decode to nulls")
    }
    out.unpersist()
  }

  test("encodeWav ∘ decodeWav: byte payloads round-trip to exact sample stats") {
    val docs = Seq((1L, "abcd", "src0")).toDF("doc_id", "text", "source")
    val out = Multimodal.decodeWav(
      Multimodal.encodeWav(Multimodal.asMedia(docs), nSamples = 4))
    val r = out.first()
    assert(r.getAs[Long]("n_bytes") === 44L + 8L)
    // samples: 'a'+256·'b', 'c'+256·'d', 0, 0
    val s0 = 'a' + 256 * 'b'
    val s1 = 'c' + 256 * 'd'
    assert(r.getAs[Long]("n_samples") === 4L)
    assert(r.getAs[Long]("sum_samples") === (s0 + s1).toLong)
    assert(r.getAs[Long]("peak") === math.max(s0, s1).toLong)
  }
}

class MultimodalEdgeSpec extends graft.SparkSpec {
  import spark.implicits._
  import org.apache.spark.sql.functions._

  test("frameSample: empty payloads yield zero frames instead of killing the job") {
    // sequence(1, 0, +stride) throws "Illegal sequence boundaries" — one
    // zero-byte payload must not poison the whole scan
    val media = Seq(
      (1L, "hello world payload bytes"),
      (2L, ""), // zero-byte
      (3L, "x")
    ).toDF("media_id", "t")
      .select(col("media_id"), col("t").cast("binary").as("payload"))
    val got = graft.operators.Multimodal.frameSample(media, frameLen = 4, stride = 8)
      .groupBy("media_id").count()
      .as[(Long, Long)].collect().toMap
    assert(got.getOrElse(2L, 0L) === 0L)
    assert(got(1L) > 0L && got(3L) === 1L)
  }

  test("encodeWav rejects geometries past the addressable WAV size") {
    val media = Seq((1L, "x")).toDF("media_id", "t")
      .select(col("media_id"), col("t").cast("binary").as("payload"))
    val e = intercept[IllegalArgumentException] {
      graft.operators.Multimodal.encodeWav(media, nSamples = 1100000000)
    }
    assert(e.getMessage.contains("addressable"))
  }

  test("pretty JSON array writes explicit nulls like json.dump, not missing keys") {
    val df = Seq((Some("a"), Option.empty[String]), (Some("b"), Some("y")))
      .toDF("k", "v")
    val path = java.nio.file.Files.createTempDirectory("graft_json_nulls")
      .resolve("out.json").toString
    JsonArrayIO.writePrettyJsonArray(df, path)
    val text = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(path)), "UTF-8")
    assert(text.contains("\"v\": null"), s"missing explicit null in:\n$text")
  }
}

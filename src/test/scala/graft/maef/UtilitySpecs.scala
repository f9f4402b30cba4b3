package graft.maef

import java.time.LocalDate

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.operators.Skew
import graft.sources.ParquetWarehouse

class DateWindowSpec extends SparkSpec {
  private val today = LocalDate.of(2023, 10, 15)

  test("validate accepts a padded ISO range and computes the span") {
    val w = DateWindow.validate("2023-08-01", "2023-09-30", today)
    assert(w.startString === "2023-08-01")
    assert(w.endString === "2023-09-30")
    assert(w.days === 60)
  }

  test("validate rejects reversed, future, overlong, and malformed ranges") {
    intercept[IllegalArgumentException](DateWindow.validate("2023-09-30", "2023-08-01", today))
    intercept[IllegalArgumentException](DateWindow.validate("2023-08-01", "2023-12-01", today))
    intercept[IllegalArgumentException](DateWindow.validate("2021-01-01", "2023-01-01", today))
    intercept[IllegalArgumentException](DateWindow.validate("08/01/2023", "2023-09-30", today))
  }

  test("default window is the last 30 days; reference fallback is pinned") {
    val w = DateWindow.default(today)
    assert(w.days === 30)
    assert(w.endString === "2023-10-15")
    assert(DateWindow.ReferenceFallback.startString === "2023-08-01")
    assert(DateWindow.ReferenceFallback.endString === "2023-09-30")
  }

  test("resolve follows the DAG chain: explicit > variables > fallback") {
    val vars = Map(
      "ATTRIBUTION_START_DATE" -> "2023-09-01",
      "ATTRIBUTION_END_DATE" -> "2023-09-10")
    // 1. explicit CLI dates win over variables
    val w1 = DateWindow.resolve(Some(("2023-08-05", "2023-08-07")), vars.get, today)
    assert(w1.startString === "2023-08-05" && w1.endString === "2023-08-07")
    // 2. variables used when no explicit dates
    val w2 = DateWindow.resolve(None, vars.get, today)
    assert(w2.startString === "2023-09-01" && w2.endString === "2023-09-10")
    // 3. missing variables → reference fallback (ihc_api_dag.py:49-54)
    assert(DateWindow.resolve(None, _ => None, today) === DateWindow.ReferenceFallback)
    // 4. unparseable variables → fallback (the DAG catches parse errors)
    val bad = Map("ATTRIBUTION_START_DATE" -> "09/01/2023",
      "ATTRIBUTION_END_DATE" -> "2023-09-10")
    assert(DateWindow.resolve(None, bad.get, today) === DateWindow.ReferenceFallback)
    // 5. a PARSED-but-invalid variable window propagates — validate_date_range
    //    runs outside the DAG's try block (ihc_api_dag.py:56-63)
    val reversed = Map("ATTRIBUTION_START_DATE" -> "2023-09-10",
      "ATTRIBUTION_END_DATE" -> "2023-09-01")
    intercept[IllegalArgumentException](DateWindow.resolve(None, reversed.get, today))
    // 6. explicit dates are strict: parse failures propagate too
    intercept[IllegalArgumentException](
      DateWindow.resolve(Some(("08/01/2023", "2023-08-07")), vars.get, today))
  }
}

class ParquetWarehouseSpec extends SparkSpec {
  import spark.implicits._

  test("upsert is last-wins by key and preserves untouched rows (S8)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_upsert").toString + "/t"
    ParquetWarehouse.upsert(
      Seq(("c1", "s1", 0.5), ("c2", "s2", 0.7)).toDF("conv_id", "session_id", "ihc"),
      dir, Seq("conv_id", "session_id"))
    ParquetWarehouse.upsert(
      Seq(("c1", "s1", 0.9), ("c3", "s3", 0.1)).toDF("conv_id", "session_id", "ihc"),
      dir, Seq("conv_id", "session_id"))
    val got = spark.read.parquet(dir)
      .as[(String, String, Double)].collect().toSet
    assert(got === Set(("c1", "s1", 0.9), ("c2", "s2", 0.7), ("c3", "s3", 0.1)))
  }

  test("upsert rebalances the rewrite into advisory-tracked files above the size gate") {
    // r22: the pre-write REBALANCE is gated on the COMMITTED table's
    // on-disk bytes vs 2× the AQE advisory partition size — shrink the
    // advisory so a ~MB table is "large" and the rebalance must engage
    // on the SECOND upsert (the create branch has no committed bytes and
    // never rebalances, by design), splitting the single window
    // partition into several files; results are a set, so content is
    // unchanged either way. minPartitionSize is lowered with the
    // advisory: its 1 MB default would re-merge these deliberately tiny
    // test partitions (at production advisories it is far below the
    // advisory and never binds).
    // the decision itself, spec'd directly (shouldAbortHold pattern):
    // create branch (0 committed bytes) never rebalances; the boundary
    // is strict
    assert(!ParquetWarehouse.shouldRebalance(0L, 64L << 20))
    assert(!ParquetWarehouse.shouldRebalance(128L << 20, 64L << 20))
    assert(ParquetWarehouse.shouldRebalance((128L << 20) + 1, 64L << 20))
    val advisoryKey = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    val minKey = "spark.sql.adaptive.coalescePartitions.minPartitionSize"
    val prev = spark.conf.get(advisoryKey)
    val prevMin = spark.conf.get(minKey)
    val dir = java.nio.file.Files.createTempDirectory("graft_upsert_rb").toString + "/t"
    try {
      // create at the default advisory: a ~1.4 MB table lands as one file
      val rng = new scala.util.Random(42)
      val rows = (1L to 20000L).map(i => (i, rng.alphanumeric.take(64).mkString))
      ParquetWarehouse.upsert(rows.toDF("id", "body"), dir, Seq("id"))
      def files() = new java.io.File(dir).listFiles()
        .filter(f => f.getName.endsWith(".parquet")).toSeq
      val createdFiles = files().size
      // merge under a shrunk advisory: the committed ~1.4 MB table is far
      // above 2×8 KB, the rebalance engages, and the rewrite's files
      // track the (tiny) advisory instead of the window partitioning.
      // minPartitionSize is lowered with the advisory: its 1 MB default
      // would re-merge these deliberately tiny partitions (at production
      // advisories it is far below the advisory and never binds).
      // Incompressible payloads keep the volume honest — the rebalance
      // targets COMPRESSED shuffle sizes.
      spark.conf.set(advisoryKey, "8KB")
      spark.conf.set(minKey, "1KB")
      ParquetWarehouse.upsert(
        Seq((1L, "replaced")).toDF("id", "body"), dir, Seq("id"))
      assert(files().size > createdFiles,
        s"merge above the gate should split the rewrite toward the advisory; " +
          s"got ${files().size} file(s) from $createdFiles")
      val got = spark.read.parquet(dir)
      assert(got.count() === 20000L)
      assert(got.filter(col("id") === 1L).select("body").head().getString(0) === "replaced")
    } finally {
      spark.conf.set(advisoryKey, prev)
      spark.conf.set(minKey, prevMin)
    }
  }

  test("upsert schema is strict: an added column throws") {
    val dir = java.nio.file.Files.createTempDirectory("graft_upsert_ev").toString + "/t"
    ParquetWarehouse.upsert(
      Seq(("c1", 0.5), ("c2", 0.7)).toDF("conv_id", "ihc"),
      dir, Seq("conv_id"))
    val v2 = Seq(("c1", 0.9, "modelB"), ("c3", 0.1, "modelB"))
      .toDF("conv_id", "ihc", "model")
    // silent drift is a bug, the mismatch must throw
    intercept[org.apache.spark.sql.AnalysisException] {
      ParquetWarehouse.upsert(v2, dir, Seq("conv_id"))
    }
  }

  test("upsert survivor for intra-batch duplicate keys is partitioning-independent") {
    // three same-key rows in ONE batch: the survivor must be a function of
    // row content (hash tiebreak), not of partition/shuffle order
    val dup = Seq(("c1", "a"), ("c1", "b"), ("c1", "c"), ("c2", "x"))
      .toDF("conv_id", "v")
    val survivors = Seq(1, 3, 7).map { n =>
      val dir = java.nio.file.Files.createTempDirectory("graft_dup").toString + "/t"
      ParquetWarehouse.upsert(dup.repartition(n), dir, Seq("conv_id"))
      spark.read.parquet(dir).as[(String, String)].collect().toSet
    }
    assert(survivors.distinct.size === 1,
      s"survivor set varied with partitioning: $survivors")
    assert(survivors.head.size === 2)
    // merge branch: intra-batch dups in UPDATES over an existing table
    // resolve the same way, and still beat the existing row
    val mergeSurvivors = Seq(2, 5).map { n =>
      val dir = java.nio.file.Files.createTempDirectory("graft_dup_m").toString + "/t"
      ParquetWarehouse.upsert(Seq(("c1", "old")).toDF("conv_id", "v"), dir, Seq("conv_id"))
      ParquetWarehouse.upsert(
        Seq(("c1", "p"), ("c1", "q")).toDF("conv_id", "v").repartition(n),
        dir, Seq("conv_id"))
      spark.read.parquet(dir).as[(String, String)].collect().toSet
    }
    assert(mergeSurvivors.distinct.size === 1)
    assert(!mergeSurvivors.head.exists(_._2 == "old"), "updates must beat existing")
  }

  test("upsert tolerates map-typed value columns (canonicalized into the tiebreak hash)") {
    // xxhash64 rejects MapType — a map column enters the content tiebreak
    // through its canonical sorted-entry form, and must never crash the
    // upsert (regression guard: the pre-tiebreak upsert accepted
    // map-typed tables)
    val dir = java.nio.file.Files.createTempDirectory("graft_map").toString + "/t"
    val withMap = Seq(("c1", Map("a" -> 1)), ("c2", Map("b" -> 2)))
      .toDF("conv_id", "props")
    ParquetWarehouse.upsert(withMap, dir, Seq("conv_id"))
    ParquetWarehouse.upsert(
      Seq(("c1", Map("a" -> 9))).toDF("conv_id", "props"), dir, Seq("conv_id"))
    val rows = spark.read.parquet(dir).as[(String, Map[String, Int])].collect().toMap
    assert(rows.keySet === Set("c1", "c2"))
    assert(rows("c1") === Map("a" -> 9), "updates must still beat existing")
  }

  test("upsert refuses reserved __src/__rn columns; accepts dotted column names") {
    // __src/__rn are the merge's internal batch marker and window rank —
    // a user table carrying either would have it consumed as ordering
    // and silently DROPPED from the written table (silent column loss);
    // refuse loudly instead
    val dir0 = java.nio.file.Files.createTempDirectory("graft_resv").toString + "/t"
    val e = intercept[IllegalArgumentException] {
      ParquetWarehouse.upsert(
        Seq(("c1", "x")).toDF("conv_id", "__src"), dir0, Seq("conv_id"))
    }
    assert(e.getMessage.contains("reserved"))
    // a legal dotted column name must resolve as a COLUMN in the content
    // tiebreak, not parse as a nested-field path and crash the merge
    val dir1 = java.nio.file.Files.createTempDirectory("graft_dotted").toString + "/t"
    val dotted = Seq(("c1", "v1"), ("c1", "v2")).toDF("conv_id", "a.b")
    ParquetWarehouse.upsert(dotted, dir1, Seq("conv_id"))
    assert(spark.read.parquet(dir1).count() === 1L)
  }

  test("upsert survivor for swapped-null contents is partitioning-independent") {
    // Spark's hash functions SKIP nulls, so a structural tiebreak hash
    // cannot tell (a=NULL, b="x") from (a="x", b=NULL) — under the old
    // tiebreak the two rows tied and the survivor fell to partition
    // order; the null-explicit canonical rendering keys them apart.
    // The c2 rows guard the NEW rendering's precision instead: a JSON
    // key with to_json's default millisecond timestampFormat would
    // render micros-apart rows identically and re-tie them (the old
    // structural hash keyed raw micros and never had this case).
    val t1 = java.sql.Timestamp.valueOf("2020-01-01 00:00:00.000001")
    val t2 = java.sql.Timestamp.valueOf("2020-01-01 00:00:00.000002")
    val rows = Seq(
      ("c1", Option.empty[String], Option("x"), t1),
      ("c1", Option("x"), Option.empty[String], t1),
      ("c2", Option("y"), Option("y"), t1),
      ("c2", Option("y"), Option("y"), t2))
    val survivors = Seq(1, 2, 5, 8).map { n =>
      val dir = java.nio.file.Files.createTempDirectory("graft_nullswap").toString + "/t"
      ParquetWarehouse.upsert(
        rows.toDF("conv_id", "a", "b", "ts").repartition(n), dir, Seq("conv_id"))
      spark.read.parquet(dir)
        .as[(String, Option[String], Option[String], java.sql.Timestamp)].collect().toSet
    }
    assert(survivors.distinct.size === 1,
      s"swapped-null / micro-timestamp survivor varied with partitioning: $survivors")
    assert(survivors.head.map(_._1) === Set("c1", "c2"))
  }

  test("upsert survivor for rows differing ONLY in a map column is partitioning-independent") {
    // the tiebreak boundary the round-10 advice flagged: two same-key rows
    // whose every non-map column is identical used to tie silently (maps
    // were excluded from the hash → survivor fell to partition order).
    // The canonical sorted-entry form makes the survivor a function of the
    // MAP's content too — same winner whatever the partitioning, and
    // insensitive to map-internal entry order on the way in.
    val rows = Seq(
      ("c1", "same", Map("x" -> 1, "y" -> 2)),
      ("c1", "same", Map("z" -> 9)),
      ("c1", "same", Map("y" -> 2, "x" -> 1)), // = row 1's map, other entry order
      ("c2", "same", Map.empty[String, Int]))
    val survivors = Seq(1, 2, 5, 8).map { n =>
      val dir = java.nio.file.Files.createTempDirectory("graft_map_dup").toString + "/t"
      ParquetWarehouse.upsert(
        rows.toDF("conv_id", "v", "props").repartition(n), dir, Seq("conv_id"))
      spark.read.parquet(dir)
        .as[(String, String, Map[String, Int])].collect()
        .map { case (k, v, m) => (k, v, m.toSeq.sorted) }.toSet
    }
    assert(survivors.distinct.size === 1,
      s"map-only-difference survivor varied with partitioning: $survivors")
    assert(survivors.head.map(_._1) === Set("c1", "c2"))
  }

  test("upsert rejects an existing table missing a merge key (symmetric guard)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_keyguard").toString + "/t"
    // seed a table that has no conv_id column at all
    Seq((0.5, "m")).toDF("ihc", "model").write.parquet(dir)
    val up = Seq(("c1", 0.9, "m")).toDF("conv_id", "ihc", "model")
    val e = intercept[IllegalArgumentException] {
      ParquetWarehouse.upsert(up, dir, Seq("conv_id"))
    }
    assert(e.getMessage.contains("conv_id"))
  }

  test("upsert heals an interrupted swap: .__old restores, stale tmp dirs removed") {
    val dir = java.nio.file.Files.createTempDirectory("graft_crash").toString + "/t"
    ParquetWarehouse.upsert(
      Seq(("c1", 0.5), ("c2", 0.7)).toDF("conv_id", "ihc"), dir, Seq("conv_id"))
    // simulate a crash BETWEEN the two swap renames: the committed table
    // sits in .__old, dest is missing, and a never-committed tmp write
    // from the dead run is orphaned alongside
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    require(fs.rename(
      new org.apache.hadoop.fs.Path(dir), new org.apache.hadoop.fs.Path(dir + ".__old")))
    fs.mkdirs(new org.apache.hadoop.fs.Path(dir + ".__tmp-deadbeef"))
    // the next upsert must MERGE into the restored history — the failure
    // mode was rebuilding the table from the updates batch alone and
    // deleting the .__old backup unexamined
    ParquetWarehouse.upsert(Seq(("c1", 0.9)).toDF("conv_id", "ihc"), dir, Seq("conv_id"))
    val got = spark.read.parquet(dir).as[(String, Double)].collect().toSet
    assert(got === Set(("c1", 0.9), ("c2", 0.7)))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(dir + ".__old")))
    assert(fs.globStatus(new org.apache.hadoop.fs.Path(dir + ".__tmp-*")).isEmpty)
  }

  test("a failing upsert write leaves the table live and no orphan tmp dir") {
    val dir = java.nio.file.Files.createTempDirectory("graft_failwrite").toString + "/t"
    ParquetWarehouse.upsert(Seq(("c1", "x")).toDF("conv_id", "v"), dir, Seq("conv_id"))
    // poison batch: schema says string, but evaluating it throws at write
    // time (ANSI to_date on garbage) — the tmp write dies mid-job
    val poison = Seq(("c2", "not-a-date")).toDF("conv_id", "v")
      .withColumn("v", to_date(col("v")).cast("string"))
    intercept[Exception] { ParquetWarehouse.upsert(poison, dir, Seq("conv_id")) }
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    assert(spark.read.parquet(dir).as[(String, String)].collect().toSet
      === Set(("c1", "x")))
    assert(fs.globStatus(new org.apache.hadoop.fs.Path(dir + ".__tmp-*")).isEmpty,
      "failed write left an orphaned staging dir")
  }

  test("writeBucketed emits exactly ONE file per bucket (repartition-aligned)") {
    // the pre-write repartition(buckets, keys) uses the same murmur3
    // modulus as the bucketing spec, so each task owns one bucket; a
    // drift here silently multiplies file count by the input partition
    // count (the small-files problem the scaladoc warns about)
    val dir = java.nio.file.Files.createTempDirectory("graft_bkt").toString + "/t"
    val df = (1L to 500L).map(i => (i, s"v$i")).toDF("k", "v").repartition(13)
    ParquetWarehouse.writeBucketed(df, "bucketed_onefile", Seq("k"), buckets = 4,
      location = Some(dir))
    val files = new java.io.File(dir).listFiles()
      .map(_.getName).filter(n => n.startsWith("part-") && n.endsWith(".parquet"))
    assert(files.length === 4, s"expected 4 bucket files, got:\n${files.mkString("\n")}")
    assert(spark.table("bucketed_onefile").count() === 500)
  }

  test("bucketed tables join with zero Exchange (co-located join)") {
    val a = (1L to 200L).map(i => (i, s"a$i")).toDF("k", "va")
    val b = (1L to 200L).map(i => (i, s"b$i")).toDF("k", "vb")
    ParquetWarehouse.writeBucketed(a, "bucketed_a", Seq("k"), 4)
    ParquetWarehouse.writeBucketed(b, "bucketed_b", Seq("k"), 4)
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = spark.table("bucketed_a").join(spark.table("bucketed_b"), "k")
      assert(joined.count() === 200)
      // after execution the AQE plan string shows the final operators;
      // bucket-aligned sides must produce no Exchange of any kind
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), s"bucketed equi join must not shuffle:\n$plan")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
  }

  test("q103: bucketed journey join plans zero Exchange and matches q01") {
    val q103 = graft.SparkEntry.queries("q103_bucketed_join")(spark, TinySf)
    // force planning + execution, then read the final (AQE) physical plan
    val n103 = q103.count()
    val plan = q103.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"bucketed journey join must be co-located (no shuffle, no broadcast):\n$plan")
    assert(plan.contains("SortMergeJoin"), s"expected SMJ over bucketed scans:\n$plan")
    val n01 = graft.SparkEntry.queries("q01_journey")(spark, TinySf).count()
    assert(n103 === n01, "bucketing must not change the logical result")
  }

  test("date-partitioned write produces hive-style partition dirs") {
    val dir = java.nio.file.Files.createTempDirectory("graft_part").toString + "/t"
    val df = Seq(("2023-08-01", 1L), ("2023-08-02", 2L)).toDF("date", "v")
    ParquetWarehouse.upsertPartitioned(df, dir, Seq("date"), "date")
    val dirs = new java.io.File(dir).listFiles().map(_.getName).filter(_.startsWith("date="))
    assert(dirs.toSet === Set("date=2023-08-01", "date=2023-08-02"))
    // partition filter prunes: only one partition's files are read
    val pruned = spark.read.parquet(dir).filter(col("date") === "2023-08-01")
    assert(pruned.count() === 1)
  }

  test("date-partitioned write emits ONE data file per partition from a many-task input") {
    // the dynamic-partition small-files guard: a T-task frame spanning D
    // dates must land D files, not T×D (the r13 10× scale run measured the
    // unshaped write turning a 10× data step into a 32× write-time step
    // at 3 000 dates × 32 tasks)
    val dir = java.nio.file.Files.createTempDirectory("graft_part1f").toString + "/t"
    val df = (1 to 600).map(i => (f"2023-08-${i % 3 + 1}%02d", i.toLong))
      .toDF("date", "v").repartition(13)
    ParquetWarehouse.upsertPartitioned(df, dir, Seq("date", "v"), "date")
    for (d <- Seq("date=2023-08-01", "date=2023-08-02", "date=2023-08-03")) {
      val files = new java.io.File(s"$dir/$d").listFiles()
        .map(_.getName).filter(n => n.startsWith("part-") && n.endsWith(".parquet"))
      assert(files.length === 1, s"$d has ${files.length} files: ${files.mkString(",")}")
    }
    assert(spark.read.parquet(dir).count() === 600)
  }
}

class SkewSpec extends SparkSpec {
  import spark.implicits._

  test("salted join equals plain join on skewed data") {
    val large = (1 to 1000).map(i => (if (i % 10 == 0) "hot" else s"k$i", i.toLong))
      .toDF("key", "v")
    val small = Seq(("hot", "H"), ("k1", "A"), ("k2", "B")).toDF("key", "label")
    val plain = large.join(small, Seq("key")).select("key", "v", "label")
      .as[(String, Long, String)].collect().toSet
    val salted = Skew.saltedJoin(large, small, Seq("key"), salt = 8)
      .select("key", "v", "label").as[(String, Long, String)].collect().toSet
    assert(salted === plain)
    assert(salted.count(_._1 == "hot") === 100)
  }
}

/** Partition-scoped upsert (r13): the O(affected-partitions) merge path.
  * The contract under test is twofold — SAME merge semantics as the
  * full-rewrite [[ParquetWarehouse.upsert]] when the partition column is
  * part of the key, and UNTOUCHED partitions' files physically left in
  * place (names and mtimes identical), which is the whole scale claim. */
class ParquetWarehousePartitionedSpec extends SparkSpec {
  import spark.implicits._

  private def freshDir(tag: String): String =
    java.nio.file.Files.createTempDirectory(tag).toString + "/t"

  private def listing(dir: String): Set[(String, Long)] = {
    val d = new java.io.File(dir)
    if (!d.exists) Set.empty
    else d.listFiles().filter(_.getName.endsWith(".parquet"))
      .map(f => (f.getName, f.lastModified())).toSet
  }

  test("upsertPartitioned merges like upsert and preserves other-partition rows") {
    val dir = freshDir("graft_pup")
    ParquetWarehouse.upsertPartitioned(
      Seq(("2023-09-01", "ch1", 10.0), ("2023-09-01", "ch2", 20.0),
          ("2023-09-02", "ch1", 30.0)).toDF("date", "channel", "spend"),
      dir, Seq("date", "channel"), "date")
    ParquetWarehouse.upsertPartitioned(
      Seq(("2023-09-01", "ch1", 11.0), ("2023-09-03", "ch9", 99.0))
        .toDF("date", "channel", "spend"),
      dir, Seq("date", "channel"), "date")
    val got = spark.read.parquet(dir)
      .select("date", "channel", "spend").as[(String, String, Double)].collect().toSet
    assert(got === Set(
      ("2023-09-01", "ch1", 11.0), ("2023-09-01", "ch2", 20.0),
      ("2023-09-02", "ch1", 30.0), ("2023-09-03", "ch9", 99.0)))
  }

  test("a single-partition batch leaves every other partition's files untouched") {
    val dir = freshDir("graft_pup_touch")
    ParquetWarehouse.upsertPartitioned(
      Seq(("2023-09-01", "ch1", 10.0), ("2023-09-02", "ch1", 30.0),
          ("2023-09-03", "ch1", 40.0)).toDF("date", "channel", "spend"),
      dir, Seq("date", "channel"), "date")
    val before02 = listing(s"$dir/date=2023-09-02")
    val before03 = listing(s"$dir/date=2023-09-03")
    assert(before02.nonEmpty && before03.nonEmpty)
    Thread.sleep(1100) // mtime granularity can be a full second
    ParquetWarehouse.upsertPartitioned(
      Seq(("2023-09-01", "ch1", 11.0), ("2023-09-01", "ch2", 12.0))
        .toDF("date", "channel", "spend"),
      dir, Seq("date", "channel"), "date")
    assert(listing(s"$dir/date=2023-09-02") === before02,
      "untouched partition 09-02 was rewritten")
    assert(listing(s"$dir/date=2023-09-03") === before03,
      "untouched partition 09-03 was rewritten")
    // 09-01: ch1 replaced + ch2 added; 09-02 and 09-03 untouched
    assert(spark.read.parquet(dir).count() === 4)
  }

  test("upsertPartitioned with an all-new-partition batch reads nothing and touches nothing") {
    // affectedDirs is empty: the existing table has no dir for any
    // touched value, so the merge is the batch alone and no existing
    // partition's files move
    val dir = freshDir("graft_pup_newonly")
    ParquetWarehouse.upsertPartitioned(
      Seq(("2023-09-01", "ch1", 10.0)).toDF("date", "channel", "spend"),
      dir, Seq("date", "channel"), "date")
    val before = listing(s"$dir/date=2023-09-01")
    Thread.sleep(1100)
    ParquetWarehouse.upsertPartitioned(
      Seq(("2023-09-05", "ch1", 50.0), ("2023-09-05", "ch1", 51.0))
        .toDF("date", "channel", "spend"),
      dir, Seq("date", "channel"), "date")
    assert(listing(s"$dir/date=2023-09-01") === before)
    val got = spark.read.parquet(dir)
      .select("date", "channel", "spend").as[(String, String, Double)].collect().toSet
    assert(got.map(_._1) === Set("2023-09-01", "2023-09-05"))
    assert(got.size === 2, "intra-batch duplicate keys must dedup in the no-existing-overlap path")
  }

  test("upsertPartitioned create branch dedups the initial batch (merge everywhere)") {
    val dir = freshDir("graft_pup_create")
    ParquetWarehouse.upsertPartitioned(
      Seq(("2023-09-01", "ch1", 1.0), ("2023-09-01", "ch1", 2.0))
        .toDF("date", "channel", "spend"),
      dir, Seq("date", "channel"), "date")
    assert(spark.read.parquet(dir).count() === 1)
  }

  test("upsertPartitioned guards: partitionCol must be a key, null partition values rejected") {
    val dir = freshDir("graft_pup_guard")
    val df = Seq(("2023-09-01", "ch1", 1.0)).toDF("date", "channel", "spend")
    val e1 = intercept[IllegalArgumentException] {
      ParquetWarehouse.upsertPartitioned(df, dir, Seq("channel"), "date")
    }
    assert(e1.getMessage.contains("partition"))
    val withNull = Seq((null.asInstanceOf[String], "ch1", 1.0))
      .toDF("date", "channel", "spend")
    val e2 = intercept[IllegalArgumentException] {
      ParquetWarehouse.upsertPartitioned(withNull, dir, Seq("date", "channel"), "date")
    }
    assert(e2.getMessage.contains("null"))
  }

  test("upsertPartitioned heals an interrupted partition swap before merging") {
    val dir = freshDir("graft_pup_crash")
    ParquetWarehouse.upsertPartitioned(
      Seq(("2023-09-01", "ch1", 10.0), ("2023-09-02", "ch1", 30.0))
        .toDF("date", "channel", "spend"),
      dir, Seq("date", "channel"), "date")
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    // simulate a crash between the two renames of partition 09-01: its
    // live dir is gone, the committed copy sits in a .__pold backup, and
    // a dead run's staging dir is orphaned alongside
    val pold = new org.apache.hadoop.fs.Path(dir + ".__pold-deadbeef")
    fs.mkdirs(pold)
    require(fs.rename(
      new org.apache.hadoop.fs.Path(s"$dir/date=2023-09-01"),
      new org.apache.hadoop.fs.Path(pold, "date=2023-09-01")))
    fs.mkdirs(new org.apache.hadoop.fs.Path(dir + ".__ptmp-deadbeef"))
    // next call must restore 09-01 and merge INTO it, not rebuild from
    // the batch alone
    ParquetWarehouse.upsertPartitioned(
      Seq(("2023-09-01", "ch2", 12.0)).toDF("date", "channel", "spend"),
      dir, Seq("date", "channel"), "date")
    val got = spark.read.parquet(dir)
      .select("date", "channel", "spend").as[(String, String, Double)].collect().toSet
    assert(got === Set(
      ("2023-09-01", "ch1", 10.0), ("2023-09-01", "ch2", 12.0),
      ("2023-09-02", "ch1", 30.0)))
    assert(fs.globStatus(new org.apache.hadoop.fs.Path(dir + ".__pold-*")).isEmpty)
    assert(fs.globStatus(new org.apache.hadoop.fs.Path(dir + ".__ptmp-*")).isEmpty)
  }

  test("upsertPartitioned schema is strict: an added column on a touched partition throws") {
    val dir = freshDir("graft_pup_evolve")
    ParquetWarehouse.upsertPartitioned(
      Seq(("2023-09-01", "ch1", 10.0), ("2023-09-02", "ch1", 30.0))
        .toDF("date", "channel", "spend"),
      dir, Seq("date", "channel"), "date")
    // the added column must throw, like upsert
    val v2 = Seq(("2023-09-01", "ch1", 11.0, "modelB"))
      .toDF("date", "channel", "spend", "model")
    intercept[org.apache.spark.sql.AnalysisException] {
      ParquetWarehouse.upsertPartitioned(v2, dir, Seq("date", "channel"), "date")
    }
  }

  test("upsertPartitioned schema is strict on an all-new-partition batch too: nothing is staged") {
    // with no touched partition on disk there is nothing to merge with;
    // accepted, an added column would be invisible to a plain read (it
    // samples one footer) and a missing one would land a partition
    // without it, so the batch is held to an existing partition's schema
    val dir = freshDir("graft_pup_strict_new")
    val keys = Seq("date", "channel")
    ParquetWarehouse.upsertPartitioned(
      Seq(("2023-09-01", "ch1", 10.0), ("2023-09-02", "ch1", 30.0))
        .toDF("date", "channel", "spend"),
      dir, keys, "date")
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    def files(f: java.io.File): Set[(String, Long)] =
      if (f.isDirectory) f.listFiles().toSet.flatMap(files)
      else Set((f.getPath, f.lastModified()))
    def rows: Set[String] = spark.read.parquet(dir).collect().map(_.toString).toSet
    val (filesBefore, rowsBefore) = (files(new java.io.File(dir)), rows)
    val extra = Seq(("2023-09-05", "ch1", 50.0, "modelB")).toDF("date", "channel", "spend", "model")
    val missing = Seq(("2023-09-06", "ch1")).toDF("date", "channel")
    for (bad <- Seq(extra, missing)) {
      intercept[org.apache.spark.sql.AnalysisException] {
        ParquetWarehouse.upsertPartitioned(bad, dir, keys, "date")
      }
      assert(files(new java.io.File(dir)) === filesBefore, bad.columns.mkString(","))
      assert(rows === rowsBefore, bad.columns.mkString(","))
      assert(fs.globStatus(new org.apache.hadoop.fs.Path(dir + ".__ptmp-*")).isEmpty)
      assert(fs.globStatus(new org.apache.hadoop.fs.Path(dir + ".__pold-*")).isEmpty)
    }
    // the refused calls released the writer lock: a same-schema batch lands
    ParquetWarehouse.upsertPartitioned(
      Seq(("2023-09-07", "ch1", 70.0)).toDF("date", "channel", "spend"), dir, keys, "date")
    assert(spark.read.parquet(dir).count() === 3)
  }

  test("a failing CREATE-branch write leaves no torn table at the live path") {
    // the create branch must stage through .__ptmp + rename like every
    // other path: a direct write would leave a partial table that the
    // next call mistakes for committed history (fs.exists → merge branch)
    val dir = freshDir("graft_pup_createfail")
    val poison = Seq(("2023-09-01", "ch1", "not-a-date")).toDF("date", "channel", "v")
      .withColumn("v", to_date(col("v")).cast("string"))
    intercept[Exception] {
      ParquetWarehouse.upsertPartitioned(poison, dir, Seq("date", "channel"), "date")
    }
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    assert(!fs.exists(new org.apache.hadoop.fs.Path(dir)),
      "failed create left a (possibly torn) table at the live path")
    assert(fs.globStatus(new org.apache.hadoop.fs.Path(dir + ".__ptmp-*")).isEmpty)
  }

  test("a failing partitioned write leaves the table live and no staging dirs") {
    val dir = freshDir("graft_pup_fail")
    ParquetWarehouse.upsertPartitioned(
      Seq(("2023-09-01", "ch1", "x")).toDF("date", "channel", "v"),
      dir, Seq("date", "channel"), "date")
    // poison: evaluates fine at plan time, throws at write time (ANSI)
    val poison = Seq(("2023-09-01", "ch2", "not-a-date")).toDF("date", "channel", "v")
      .withColumn("v", to_date(col("v")).cast("string"))
    intercept[Exception] {
      ParquetWarehouse.upsertPartitioned(poison, dir, Seq("date", "channel"), "date")
    }
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    assert(spark.read.parquet(dir).select("channel", "v")
      .as[(String, String)].collect().toSet === Set(("ch1", "x")))
    assert(fs.globStatus(new org.apache.hadoop.fs.Path(dir + ".__ptmp-*")).isEmpty)
    assert(fs.globStatus(new org.apache.hadoop.fs.Path(dir + ".__pold-*")).isEmpty)
  }

  test("upsertPartitioned merge path round-trips partition values typed inference would re-spell") {
    // with partition-type inference ON, the affected-dirs read re-infers
    // "007" as int 7, the cast back to string spells it "7", and the
    // rewrite lands under channel=7 while channel=007 stays live —
    // silent row duplication. The inference-off read keeps the dir
    // string verbatim, so the merge collapses onto the one true dir.
    val dir = freshDir("graft_pup_007")
    ParquetWarehouse.upsertPartitioned(
      Seq(("007", "s1", 1.0)).toDF("channel", "session_id", "v"),
      dir, Seq("channel", "session_id"), "channel")
    ParquetWarehouse.upsertPartitioned(
      Seq(("007", "s1", 2.0), ("007", "s2", 3.0)).toDF("channel", "session_id", "v"),
      dir, Seq("channel", "session_id"), "channel")
    val dirs = new java.io.File(dir).listFiles().map(_.getName).filter(_.startsWith("channel="))
    assert(dirs.toSet === Set("channel=007"), s"partition dir re-spelled: ${dirs.mkString(",")}")
    val got = spark.read.parquet(dir).select("session_id", "v")
      .as[(String, Double)].collect().toSet
    assert(got === Set(("s1", 2.0), ("s2", 3.0)), "old-spelling rows survived as duplicates")
  }

  test("warehouse writers hold an advisory single-writer lock: a live holder refuses both writers, success and failure release it") {
    val dir = freshDir("graft_lock")
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    ParquetWarehouse.upsert(Seq(("c1", "a")).toDF("conv_id", "v"), dir, Seq("conv_id"))
    // a live concurrent writer: every writer entry point must fail loudly
    // instead of corrupting its staging dirs
    graft.sources.WriterLockSpec.whileHeld(fs, dir) {
      val e1 = intercept[IllegalArgumentException] {
        ParquetWarehouse.upsert(Seq(("c2", "b")).toDF("conv_id", "v"), dir, Seq("conv_id"))
      }
      assert(e1.getMessage.contains("lock"))
      val e2 = intercept[IllegalArgumentException] {
        ParquetWarehouse.upsertPartitioned(
          Seq(("2023-09-01", "c2", "b")).toDF("date", "conv_id", "v"),
          dir, Seq("date", "conv_id"), "date")
      }
      assert(e2.getMessage.contains("lock"))
    }
    assert(spark.read.parquet(dir).count() === 1, "locked-out writers must not have written")
    // released when the holder returns: the next writer proceeds
    ParquetWarehouse.upsert(Seq(("c2", "b")).toDF("conv_id", "v"), dir, Seq("conv_id"))
    assert(spark.read.parquet(dir).count() === 2)
    // the failure path releases too — a held-forever lock after a failed
    // write would wedge the table
    val poison = Seq(("c3", "not-a-date")).toDF("conv_id", "v")
      .withColumn("v", to_date(col("v")).cast("string"))
    intercept[Exception] { ParquetWarehouse.upsert(poison, dir, Seq("conv_id")) }
    ParquetWarehouse.upsert(Seq(("c3", "c")).toDF("conv_id", "v"), dir, Seq("conv_id"))
    assert(spark.read.parquet(dir).count() === 3, "the lock must be free after a FAILED write")
  }

  test("a dead same-host holder's lock breaks immediately — a crash mid-write heals on the next call") {
    val dir = freshDir("graft_lock_deadpid")
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    ParquetWarehouse.upsert(Seq(("c1", "a")).toDF("conv_id", "v"), dir, Seq("conv_id"))
    // the lock file a crashed holder leaves: OUR host, a pid that has
    // provably exited. The kernel dropped that holder's lock when it
    // died, so the next writer proceeds at once
    val dead = new ProcessBuilder("true").start()
    dead.waitFor()
    assert(java.lang.ProcessHandle.of(dead.pid()).isEmpty, "fixture pid must be dead")
    val lock = java.nio.file.Paths.get(dir + ".__lock")
    java.nio.file.Files.write(lock, ParquetWarehouse.lockPayload(
      ParquetWarehouse.lockHost, dead.pid(), "crashed-token").getBytes("UTF-8"))
    ParquetWarehouse.upsert(Seq(("c2", "b")).toDF("conv_id", "v"), dir, Seq("conv_id"))
    assert(spark.read.parquet(dir).count() === 2)
    // and the inverse: a LIVE same-host holder is never broken
    graft.sources.WriterLockSpec.whileHeld(fs, dir) {
      val e = intercept[IllegalArgumentException] {
        ParquetWarehouse.upsert(Seq(("c3", "c")).toDF("conv_id", "v"), dir, Seq("conv_id"))
      }
      assert(e.getMessage.contains("lock"))
    }
    assert(spark.read.parquet(dir).count() === 2, "a refused writer must not have written")
  }
}

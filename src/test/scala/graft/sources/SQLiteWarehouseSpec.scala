package graft.sources

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

import graft.SparkSpec

/** The vendored SQLite page reader against a GENUINE SQLite database:
  * `src/test/resources/challenge_fixture.db` is written by the stock
  * sqlite3 library (tools/make_sqlite_fixture.py), shaped like the
  * reference's challenge.db warehouse (src/database/db_utils.py:29-65) —
  * so every assertion here is our reader vs the real implementation's
  * bytes, not a reader/writer handshake. The writer round-trip suites sit
  * below, separately. */
class SQLiteWarehouseSpec extends SparkSpec {

  private val db = getClass.getResource("/challenge_fixture.db").getPath

  test("sqlite: master table lists the warehouse tables (autoindex rows skipped)") {
    // the reference DDL's text PRIMARY KEYs create sqlite_autoindex_*
    // entries in sqlite_master — tables() must filter to type='table'
    assert(SQLiteWarehouse.tables(db).toSet ===
      Set("session_sources", "conversions", "session_costs",
        "attribution_customer_journey", "channel_reporting", "edge_cases",
        "wr_edge"))
  }

  test("sqlite: WITHOUT ROWID tables are a loud error, not garbage rows") {
    // wr_edge stores rows in an index-layout b-tree (page type 2/10); the
    // rowid reader must refuse it by page type instead of misdecoding
    val e = intercept[IllegalArgumentException] {
      SQLiteWarehouse.readTable(spark, db, "wr_edge").collect()
    }
    assert(e.getMessage.toLowerCase.contains("without rowid"))
  }

  test("sqlite: UTF-16 databases are rejected naming the encoding") {
    val db16 = getClass.getResource("/utf16_fixture.db").getPath
    val e = intercept[IllegalArgumentException] {
      SQLiteWarehouse.tables(db16)
    }
    assert(e.getMessage.contains("UTF-8") || e.getMessage.contains("encoding"))
  }

  test("sqlite: un-checkpointed WAL and hot journals are rejected, not read stale") {
    // wal_pending_fixture.db was snapshotted BEFORE its WAL-mode writer
    // closed: the committed `wal_rows` table lives ONLY in the sibling
    // -wal file (the main file is a single empty page) — a page-level
    // read would silently report an empty database
    val dbWal = getClass.getResource("/wal_pending_fixture.db").getPath
    val e1 = intercept[IllegalArgumentException] { SQLiteWarehouse.tables(dbWal) }
    assert(e1.getMessage.toLowerCase.contains("wal"))
    // a non-empty -journal sibling is a pending rollback: main-file pages
    // may hold a torn, never-committed state
    val dbJnl = getClass.getResource("/journal_pending_fixture.db").getPath
    val e2 = intercept[IllegalArgumentException] { SQLiteWarehouse.tables(dbJnl) }
    assert(e2.getMessage.toLowerCase.contains("journal"))
    // but a CLEANLY CHECKPOINTED WAL-mode database (header write-version
    // 2, no -wal sibling) must read normally — the rejection keys on the
    // sibling files, not the header mode bytes
    val dbCk = getClass.getResource("/wal_checkpointed_fixture.db").getPath
    assert(SQLiteWarehouse.readTable(spark, dbCk, "ck")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq === Seq((7L, "checkpointed")))
  }

  test("sqlite: PERSIST-mode cold journals (zeroed header) are accepted") {
    // journal_mode=PERSIST leaves a non-empty -journal behind on every
    // clean commit with its first 8 header bytes zeroed — the database is
    // perfectly consistent and sqlite3 never deletes the file, so
    // rejecting on existence alone would refuse it FOREVER; only the hot
    // magic (0xd9d505f9) marks a pending rollback
    val dbp = getClass.getResource("/persist_journal_fixture.db").getPath
    assert(new java.io.File(dbp + "-journal").length > 0) // the sibling is really there
    assert(SQLiteWarehouse.readTable(spark, dbp, "pj")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq === Seq((3L, "persist-ok")))
  }

  test("sqlite: whitespace inside PRIMARY KEY still aliases; virtual tables reject loudly") {
    // sqlite_master stores CREATE TABLE text VERBATIM — `id INTEGER
    // PRIMARY\n      KEY` is still a rowid alias (fixture verified vs the
    // stock CLI: records store NULL, values come from the rowid)
    val dbe = getClass.getResource("/ddl_edge_fixture.db").getPath
    assert(SQLiteWarehouse.readTable(spark, dbe, "nl_pk")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet ===
      Set((100L, "nl-a"), (200L, "nl-b")))
    // an fts5 virtual table carries type='table' with rootpage 0: there is
    // no rowid b-tree to walk, so the rejection must name the reason
    // instead of dying on a negative page seek
    val e = intercept[IllegalArgumentException] {
      SQLiteWarehouse.readTable(spark, dbe, "vt")
    }
    assert(e.getMessage.toLowerCase.contains("virtual"))
    // the module's SHADOW tables are ordinary rowid b-trees and still read
    assert(SQLiteWarehouse.readTable(spark, dbe, "vt_content").count() === 1L)
  }

  test("sqlite: PRIMARY KEY inside a DEFAULT literal / CHECK expr is NOT a rowid alias") {
    // `n INTEGER DEFAULT 'primary\n key' CHECK (... 'PRIMARY KEY' ...)`:
    // the phrase appears only as DATA (a string literal and a CHECK
    // expression), so the column must NOT alias the rowid — a false alias
    // would fabricate rowids in place of the stored NULL (fixture ground
    // truth from the stock CLI: row 1 stores n=NULL and must stay NULL)
    val dbe = getClass.getResource("/ddl_edge_fixture.db").getPath
    val rows = SQLiteWarehouse.readTable(spark, dbe, "literal_trap")
      .collect().map(r => (if (r.isNullAt(0)) None else Some(r.getLong(0)), r.getString(1))).toSet
    assert(rows === Set((None, "trap-null"), (Some(42L), "trap-42")))
  }

  test("sqlite: rowid-alias quirk — table-level PRIMARY KEY(c) aliases, inline DESC does not") {
    // real-sqlite3-written fixture (tools/make_sqlite_fixture.py); ground
    // truth from the stock CLI: tbl_pk and tbl_pk_desc store id as NULL
    // (rowid alias — table-level PK, DESC included), inline_desc stores id
    // as a REAL column value with an independent rowid
    // (lang_createtable.html#rowid, both halves of the documented quirk)
    val dbq = getClass.getResource("/rowid_quirk_fixture.db").getPath
    def pairs(t: String): Set[(Long, String)] =
      SQLiteWarehouse.readTable(spark, dbq, t)
        .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(pairs("tbl_pk") === Set((10L, "a"), (20L, "b"), (30L, "c")))
    assert(pairs("tbl_pk_desc") === Set((5L, "p"), (9L, "q")))
    // NOT an alias: values come from the record, not the rowid sequence
    assert(pairs("inline_desc") === Set((7L, "x"), (3L, "y")))
  }

  test("sqlite: empty tables read as zero rows with the declared schema") {
    val df = SQLiteWarehouse.readTable(spark, db, "channel_reporting")
    assert(df.count() === 0L)
    assert(df.columns.toSeq === Seq("channel_name", "date", "cost", "ihc", "ihc_revenue"))
  }

  test("sqlite: schema from CREATE TABLE via affinity rules") {
    assert(SQLiteWarehouse.readTable(spark, db, "conversions").schema === StructType(Seq(
      StructField("conv_id", StringType), StructField("user_id", StringType),
      StructField("conv_date", StringType), StructField("conv_time", StringType),
      StructField("revenue", DoubleType))))
  }

  test("sqlite: multi-page table reads every row (interior b-tree walk)") {
    val df = SQLiteWarehouse.readTable(spark, db, "session_sources")
    assert(df.count() === 3000L)
    // spot-check a deterministic row deep in the file
    val r = df.filter(df("session_id") === "s02999").collect()
    assert(r.length === 1)
    assert(r(0).getAs[String]("user_id") === "u089") // 2999 % 97
    assert(r(0).getAs[Long]("holder_engagement") === 1L)
    // the fan-out really fans out: more than one task decodes leaves
    assert(df.rdd.getNumPartitions > 1)
  }

  test("sqlite: negative/zero revenue, multi-byte utf-8, nullable cost") {
    val costs = SQLiteWarehouse.readTable(spark, db, "session_costs").collect()
      .map(r => r.getAs[String]("session_id") ->
        Option(r.getAs[java.lang.Double]("cost")).map(_.doubleValue)).toMap
    assert(costs === Map(
      "s00000" -> Some(1.5), "s00001" -> None, "s00002" -> Some(math.pow(2.0, 40))))
    val rows = SQLiteWarehouse.readTable(spark, db, "conversions")
      .collect().map(r => (r.getAs[String]("conv_id"), r.getAs[String]("user_id"),
        Option(r.getAs[java.lang.Double]("revenue")).map(_.doubleValue))).toSet
    assert(rows === Set(
      ("c001", "u001", Some(99.5)),
      ("c002", "u002", Some(0.0)),
      ("c003", "u003", Some(1250.75)),
      ("c004", "müller-ü", Some(-12.25))))
  }

  test("sqlite: every integer storage width, floats, blobs, rowid alias, overflow chain") {
    val df = SQLiteWarehouse.readTable(spark, db, "edge_cases")
    val byId = df.collect().map(r => r.getAs[Long]("id") -> r).toMap
    assert(byId.keySet === Set(1L, 2L, 3L, 7L)) // rowid-alias column, incl. the gap to 7
    val neg = byId(1L)
    assert(neg.getAs[Long]("i8") === -7L)
    assert(neg.getAs[Long]("i16") === -300L)
    assert(neg.getAs[Long]("i24") === -70000L)
    assert(neg.getAs[Long]("i32") === -2000000000L)
    assert(neg.getAs[Long]("i48") === -140737488355328L)
    assert(neg.getAs[Long]("i64") === Long.MinValue)
    assert(neg.getAs[Double]("f") === 3.5)
    assert(neg.getAs[Array[Byte]]("b").toSeq === Seq[Byte](0, 1, -2, -1))
    val pos = byId(2L)
    assert(pos.getAs[Long]("i48") === 140737488355327L)
    assert(pos.getAs[Long]("i64") === Long.MaxValue)
    // the 15 KB text crosses multiple overflow pages and survives intact
    assert(pos.getAs[String]("t") === "päge-överflöw-" * 1000)
    val nulls = byId(3L)
    for (c <- Seq("i8", "i16", "i24", "i32", "i48", "i64", "f", "t", "b"))
      assert(nulls.isNullAt(nulls.fieldIndex(c)), s"column $c should be NULL")
  }

  test("sqlite: migrate lands tables in parquet with verified counts") {
    val dir = java.nio.file.Files.createTempDirectory("graft_sqlite_migrate").toString
    val staged = graft.maef.MaefMain.stageSqliteWarehouse(spark, db, dir)
    val counts = Seq("session_sources", "conversions", "session_costs")
      .map(t => t -> spark.read.parquet(s"$staged/$t").count()).toMap
    assert(counts === Map("session_sources" -> 3000L, "conversions" -> 4L, "session_costs" -> 3L))
    assert(spark.read.parquet(s"$dir/session_sources").count() === 3000L)
  }

  test("sqlite: unknown table is a loud error naming what exists") {
    val e = intercept[IllegalArgumentException] {
      SQLiteWarehouse.readTable(spark, db, "nope")
    }
    assert(e.getMessage.contains("session_sources"))
  }

  test("MAEF pipeline runs end-to-end from an actual SQLite warehouse (main.py:43-47 parity)") {
    // the reference's entry point opens challenge.db and reads the three
    // warehouse tables into the pipeline; this replays it: page-level
    // migrate out of the genuine sqlite3-written fixture, cast to the
    // reference DDL types (SQLite INTEGER affinity widens to i64 — an
    // ingestion cast, the same one any JDBC driver applies), then the
    // full five-step MaefMain chain
    val wh = java.nio.file.Files.createTempDirectory("graft_sqlite_maef_wh").toString
    val out = java.nio.file.Files.createTempDirectory("graft_sqlite_maef_out").toString
    // the same staging path the CLI's `MaefMain challenge.db out/` takes
    val staged = graft.maef.MaefMain.stageSqliteWarehouse(spark, db, wh)
    val art = graft.maef.MaefMain.run(spark, staged, out, window = None)
    // fixture shape: 4 conversions (all users have earlier sessions), so
    // the journey construction and the report both produce rows
    assert(art.transformedRows > 0L, "no journeys built from the SQLite warehouse")
    assert(art.attributionRows === art.transformedRows)
    assert(art.reportRows > 0L)
    // a concrete conversion flowed all the way into the JSON artifact
    // (u001 has fixture sessions before its conversion; the unicode user
    // c004 deliberately has none — decode parity for it is pinned above)
    val journeys = graft.maef.JsonArrayIO.readJsonArray(
      spark, s"$out/target_data.json", graft.maef.MaefModel.JourneyEntry)
    assert(journeys.filter(col("conversion_id") === "c001").count() > 0,
      "conversion c001 should have journeys from the SQLite-sourced sessions")
  }

  // ---------- writer round-trips (reader validated above vs real sqlite) ----------

  private def roundTrip(rows: Seq[Row], schema: StructType, tag: String): Seq[Row] = {
    val path = java.nio.file.Files.createTempDirectory(s"graft_sqlite_$tag")
      .resolve("t.db").toString
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, math.max(1, math.min(4, rows.size))), schema)
    SQLiteWarehouse.writeTable(df, path, "t")
    SQLiteWarehouse.readTable(spark, path, "t").collect().toSeq
  }

  test("sqlite writer: typed round-trip incl. nulls, negatives, unicode, binary") {
    val schema = StructType(Seq(
      StructField("k", LongType), StructField("v", DoubleType),
      StructField("s", StringType), StructField("b", BinaryType)))
    val rows = Seq(
      Row(1L, 1.5, "a", Array[Byte](1, 2)),
      Row(-42L, null, "héllo → wörld", null),
      Row(Long.MaxValue, -0.0, null, Array.emptyByteArray),
      Row(null, Double.MinPositiveValue, "", Array[Byte](-1)))
    val got = roundTrip(rows, schema, "types")
    assert(got.map(r => (Option(r.get(0)), Option(r.get(1)), Option(r.get(2)),
      Option(r.get(3)).map(_.asInstanceOf[Array[Byte]].toSeq))).toSet ===
      rows.map(r => (Option(r.get(0)), Option(r.get(1)), Option(r.get(2)),
        Option(r.get(3)).map(_.asInstanceOf[Array[Byte]].toSeq))).toSet)
  }

  test("sqlite writer: payloads straddling the overflow boundary round-trip exactly") {
    // page 4096, reserved 0: X = U-35 = 4061 is the largest all-local
    // payload; M = (U-12)*32/255-23 = 489. Lengths bracketing X exercise
    // the local/spill decision; the larger ones walk the K<=X vs K>M
    // branches and multi-page chains. The record header adds a few bytes,
    // so the boundary in TEXT length is a little under X — sweeping a
    // window across it covers the exact flip wherever it lands.
    val schema = StructType(Seq(StructField("id", LongType), StructField("t", StringType)))
    val lengths = (4050 to 4065) ++ Seq(4556, 8117, 8118, 12000, 65536)
    val rows = lengths.zipWithIndex.map { case (len, i) =>
      // content varies per row so a mis-stitched chunk can't alias another row
      Row(i.toLong, (('a' + i % 26).toChar.toString * len))
    }
    val got = roundTrip(rows, schema, "boundary")
    assert(got.size === rows.size)
    val byId = got.map(r => r.getLong(0) -> r.getString(1)).toMap
    for (((len, i)) <- lengths.zipWithIndex)
      assert(byId(i.toLong) === ('a' + i % 26).toChar.toString * len,
        s"payload of text length $len mangled")
  }

  test("sqlite writer: multi-leaf + overflow round-trip at row scale") {
    val schema = StructType(Seq(StructField("id", LongType), StructField("t", StringType)))
    // 2000 short rows force interior pages; a few giant ones force overflow
    val rows = (0 until 2000).map(i => Row(i.toLong, s"row-$i-" + "x" * (i % 50))) ++
      Seq(Row(9001L, "big" * 8000), Row(9002L, "ü" * 6000))
    val got = roundTrip(rows, schema, "scale")
    assert(got.size === rows.size)
    val byId = got.map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(byId(9001L) === "big" * 8000)
    assert(byId(9002L) === "ü" * 6000)
    assert(byId(1999L) === "row-1999-" + "x" * (1999 % 50))
  }

  test("sqlite writer: no zero-cell interior pages at the fanout remainder boundary") {
    // With ~3.5 KB payloads each leaf holds exactly one row, so row count
    // == leaf count. 272 leaves ≡ 1 (mod fanout 271): the naive grouping
    // would emit a trailing interior page with ONE child = ZERO cells,
    // which stock sqlite3 declares 'database disk image is malformed' —
    // the builder must rebalance the tail instead. Scan every page of the
    // output: a type-5 (interior) page must carry >= 1 cell.
    val schema = StructType(Seq(StructField("id", LongType), StructField("t", StringType)))
    val rows = (0 until 272).map(i => Row(i.toLong, s"$i:" + "y" * 3500))
    val path = java.nio.file.Files.createTempDirectory("graft_sqlite_fanout")
      .resolve("t.db").toString
    SQLiteWarehouse.writeTable(
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 4), schema), path, "t")
    val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path))
    val pageSize = ((bytes(16) & 0xff) << 8) | (bytes(17) & 0xff)
    var interior = 0
    for (p <- 0 until bytes.length / pageSize) {
      val base = p * pageSize + (if (p == 0) 100 else 0)
      if ((bytes(base) & 0xff) == 5) {
        interior += 1
        val ncells = ((bytes(base + 3) & 0xff) << 8) | (bytes(base + 4) & 0xff)
        assert(ncells >= 1, s"interior page ${p + 1} has zero cells — malformed for sqlite3")
      }
    }
    assert(interior >= 2, s"expected a 2-level interior split at 272 leaves, saw $interior")
    // and the rebalanced tree still reads back whole — every row, exact bytes
    val got = SQLiteWarehouse.readTable(spark, path, "t").collect()
    assert(got.length === 272)
    assert(got.map(r => r.getLong(0) -> r.getString(1)).toMap.apply(271L) === "271:" + "y" * 3500)
  }
}

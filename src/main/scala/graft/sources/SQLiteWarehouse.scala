package graft.sources

import java.io.RandomAccessFile
import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Read-only SQLite file reader + minimal single-table writer, vendored in
  * pure Scala against the PUBLIC file-format spec
  * (https://www.sqlite.org/fileformat2.html).
  *
  * Why this exists: the reference's warehouse IS a SQLite file —
  * `main.py:43-47` / `src/database/db_utils.py:29-65` open `challenge.db`
  * with the sqlite3 module and read `session_sources` / `conversions` /
  * `session_costs` into pandas. Spark's JDBC source would need the
  * sqlite-jdbc driver jar; the page-level reader needs none: a user
  * holding the reference's `.db` points `SQLiteWarehouse.readTable` at it
  * and gets a DataFrame.
  *
  * Supported (everything the reference's warehouse uses, and then some):
  * UTF-8 databases, any page size, rowid table b-trees (interior + leaf),
  * overflow-page payload chains, ALTER-TABLE short records (missing
  * trailing columns read as NULL), `INTEGER PRIMARY KEY` rowid-alias
  * columns (stored as NULL in the record, materialized from the rowid).
  * Not supported, detected and rejected loudly: UTF-16 databases,
  * `WITHOUT ROWID` tables (index b-tree layout), virtual tables.
  *
  * Scale shape: the b-tree INTERIOR pages (a few KB of child pointers) are
  * walked on the driver to enumerate leaf page numbers; the LEAVES — all
  * the data bytes — are decoded in parallel, one task per leaf batch, each
  * task reading its pages (plus any overflow chains) straight from the
  * file. On a cluster the file must sit on storage every executor mounts
  * (the same contract as any single-file source); the intended pattern is
  * to land the operational store into parquet once
  * (`MaefMain.stageSqliteWarehouse` for the MAEF tables, `readTable` +
  * `ParquetWarehouse.writeVerified` for any other) and run everything
  * against the columnar copy — SQLite is an ingestion edge, not a query
  * engine.
  */
object SQLiteWarehouse {

  // ---------- file-format primitives ----------

  private val Magic = "SQLite format 3".getBytes(UTF_8) :+ 0.toByte

  /** Header fields needed to read: page size, reserved tail per page,
    * text encoding. (fileformat2.html §1.3) */
  private final case class DbHeader(pageSize: Int, reserved: Int, encoding: Int) {
    def usable: Int = pageSize - reserved
  }

  private def u8(b: Array[Byte], off: Int): Int = b(off) & 0xff
  private def u16(b: Array[Byte], off: Int): Int = ((b(off) & 0xff) << 8) | (b(off + 1) & 0xff)
  private def u32(b: Array[Byte], off: Int): Long =
    ((b(off) & 0xffL) << 24) | ((b(off + 1) & 0xffL) << 16) | ((b(off + 2) & 0xffL) << 8) | (b(off + 3) & 0xffL)

  /** SQLite varint: 1-9 bytes big-endian base-128, high bit = continue;
    * the 9th byte contributes all 8 bits. Returns (value, bytesRead). */
  private def varint(b: Array[Byte], off: Int): (Long, Int) = {
    var v = 0L
    var i = 0
    while (i < 8) {
      val x = b(off + i)
      v = (v << 7) | (x & 0x7fL)
      if ((x & 0x80) == 0) return (v, i + 1)
      i += 1
    }
    ((v << 8) | (b(off + 8) & 0xffL), 9)
  }

  private def readHeader(f: RandomAccessFile): DbHeader = {
    val h = new Array[Byte](100)
    f.seek(0); f.readFully(h)
    require(h.take(16).sameElements(Magic), "not a SQLite 3 database (bad magic)")
    val ps = u16(h, 16) match { case 1 => 65536; case n => n }
    require(ps >= 512 && (ps & (ps - 1)) == 0, s"invalid page size $ps")
    val enc = u32(h, 56).toInt
    require(enc == 1, s"only UTF-8 databases supported (encoding=$enc)")
    DbHeader(ps, u8(h, 20), enc)
  }

  private def readPage(f: RandomAccessFile, hdr: DbHeader, pageNo: Int): Array[Byte] = {
    val b = new Array[Byte](hdr.pageSize)
    f.seek((pageNo - 1).toLong * hdr.pageSize)
    f.readFully(b)
    b
  }

  /** One decoded SQLite value: null, Long, Double, String, or Array[Byte]. */
  private def decodeValue(serial: Long, b: Array[Byte], off: Int): (Any, Int) = serial match {
    case 0 => (null, 0)
    case 1 => (b(off).toLong, 1)
    case 2 => ((u16(b, off) << 16 >> 16).toLong, 2) // sign-extend i16
    case 3 => // i24 big-endian, sign-extended (read byte-wise: the value can
      // end exactly at the payload boundary, so no 4-byte peek)
      val v = ((b(off) & 0xff) << 16) | ((b(off + 1) & 0xff) << 8) | (b(off + 2) & 0xff)
      ((v << 8 >> 8).toLong, 3)
    case 4 => (u32(b, off).toInt.toLong, 4)
    case 5 => // i48 big-endian, sign-extended
      val v = (u16(b, off).toLong << 32) | u32(b, off + 2)
      ((v << 16) >> 16, 6)
    case 6 => ((u32(b, off) << 32) | u32(b, off + 4), 8)
    case 7 => (java.lang.Double.longBitsToDouble((u32(b, off) << 32) | u32(b, off + 4)), 8)
    case 8 => (0L, 0)
    case 9 => (1L, 0)
    case n if n >= 12 && n % 2 == 0 => val len = ((n - 12) / 2).toInt; (java.util.Arrays.copyOfRange(b, off, off + len), len)
    case n if n >= 13 => val len = ((n - 13) / 2).toInt; (new String(b, off, len, UTF_8), len)
    case n => throw new IllegalArgumentException(s"reserved serial type $n")
  }

  /** Record format (§2.1): header-size varint, serial-type varints, body. */
  private def decodeRecord(payload: Array[Byte]): IndexedSeq[Any] = {
    val (hdrLen, n0) = varint(payload, 0)
    val serials = IndexedSeq.newBuilder[Long]
    var p = n0
    while (p < hdrLen) { val (s, n) = varint(payload, p); serials += s; p += n }
    var body = hdrLen.toInt
    serials.result().map { s =>
      val (v, len) = decodeValue(s, payload, body)
      body += len
      v
    }
  }

  /** Assemble a cell's full payload, following the overflow chain when the
    * local part is truncated (§1.6: X = U-35, M = ((U-12)*32/255)-23,
    * K = M + (P-M) % (U-4); local = K if K ≤ X else M). */
  private def cellPayload(f: RandomAccessFile, hdr: DbHeader, page: Array[Byte],
                          off: Int, payloadLen: Long): Array[Byte] = {
    val u = hdr.usable
    val x = u - 35
    if (payloadLen <= x) java.util.Arrays.copyOfRange(page, off, off + payloadLen.toInt)
    else {
      val m = (u - 12) * 32 / 255 - 23
      val k = m + ((payloadLen - m) % (u - 4)).toInt
      val local = if (k <= x) k else m
      val out = new Array[Byte](payloadLen.toInt)
      System.arraycopy(page, off, out, 0, local)
      var filled = local
      var next = u32(page, off + local).toInt
      while (next != 0 && filled < payloadLen) {
        val op = readPage(f, hdr, next)
        next = u32(op, 0).toInt
        val take = math.min(u - 4, payloadLen.toInt - filled)
        System.arraycopy(op, 4, out, filled, take)
        filled += take
      }
      require(filled == payloadLen, s"overflow chain ended early: $filled of $payloadLen bytes")
      out
    }
  }

  /** Walk a table b-tree from `root`, returning every leaf page number in
    * key order. Interior pages only — the driver touches no row data. */
  private def leafPages(f: RandomAccessFile, hdr: DbHeader, root: Int): Seq[Int] = {
    val page = readPage(f, hdr, root)
    val base = if (root == 1) 100 else 0
    u8(page, base) match {
      case 13 => Seq(root)
      case 5 =>
        val ncells = u16(page, base + 3)
        val children = (0 until ncells).map { i =>
          u32(page, u16(page, base + 12 + 2 * i)).toInt
        } :+ u32(page, base + 8).toInt // right-most pointer
        children.flatMap(leafPages(f, hdr, _))
      case t => throw new IllegalArgumentException(
        s"page $root is not a table b-tree page (type $t) — WITHOUT ROWID / index trees unsupported")
    }
  }

  /** Decode every (rowid, record) on one leaf page. */
  private def leafRows(f: RandomAccessFile, hdr: DbHeader, pageNo: Int): Seq[(Long, IndexedSeq[Any])] = {
    val page = readPage(f, hdr, pageNo)
    val base = if (pageNo == 1) 100 else 0
    require(u8(page, base) == 13, s"expected leaf table page at $pageNo")
    val ncells = u16(page, base + 3)
    (0 until ncells).map { i =>
      var off = u16(page, base + 8 + 2 * i)
      val (plen, n1) = varint(page, off); off += n1
      val (rowid, n2) = varint(page, off); off += n2
      rowid -> decodeRecord(cellPayload(f, hdr, page, off, plen))
    }
  }

  // ---------- schema: sqlite_master + CREATE TABLE parsing ----------

  /** One sqlite_master row (§2.6: the schema table is a rowid table rooted
    * at page 1 with columns type,name,tbl_name,rootpage,sql). */
  final case class MasterRow(tpe: String, name: String, tblName: String, rootPage: Int, sql: String)

  /** Reject a database whose durable state is not entirely in the main
    * file. A sibling `-wal` with frames (length > the 32-byte WAL header)
    * holds COMMITTED rows the main file lacks until a checkpoint — a
    * page-level read would silently miss them (a freshly created WAL-mode
    * table can be entirely absent from the main file). A non-empty
    * `-journal` is a hot rollback journal: an interrupted transaction's
    * pre-images are pending rollback, so main-file pages may be torn.
    * sqlite3 itself merges/rolls these back on open; we read pages
    * directly, so we refuse and tell the user to let sqlite3 recover
    * (any open+close checkpoints the WAL). A cleanly checkpointed
    * WAL-mode database (header write-version 2 but no `-wal` sibling)
    * reads fine and is not rejected. */
  private def requireQuiescent(path: String): Unit = {
    val wal = new java.io.File(path + "-wal")
    require(!(wal.exists && wal.length > 32),
      s"$path has un-checkpointed WAL frames (${wal.length} bytes in ${wal.getPath}): " +
        "page-level reads would miss committed rows — checkpoint first " +
        "(any sqlite3 open+close does, or PRAGMA wal_checkpoint(TRUNCATE))")
    // a -journal sibling is only HOT if its header bears the journal
    // magic — journal_mode=PERSIST leaves a zeroed-header journal behind
    // on every clean commit, and that database is perfectly consistent
    val jnl = new java.io.File(path + "-journal")
    if (jnl.exists && jnl.length > 0) {
      val magic = Array[Byte](0xd9.toByte, 0xd5.toByte, 0x05.toByte, 0xf9.toByte)
      val head = new Array[Byte](magic.length)
      val jf = new RandomAccessFile(jnl, "r")
      // loop to the full 4 bytes: a single read() may legally return short,
      // and a short read on a genuinely hot journal must not pass as cold
      val n = try {
        var total = 0; var r = 0
        while (total < magic.length && r != -1) {
          r = jf.read(head, total, magic.length - total)
          if (r > 0) total += r
        }
        total
      } finally jf.close()
      require(n < magic.length || !head.sameElements(magic),
        s"$path has a hot rollback journal (${jnl.getPath}): an interrupted " +
          "transaction is pending rollback — open the database with sqlite3 once to recover it")
    }
  }

  def master(path: String): Seq[MasterRow] = {
    requireQuiescent(path)
    val f = new RandomAccessFile(path, "r")
    try {
      val hdr = readHeader(f)
      leafPages(f, hdr, 1).flatMap(leafRows(f, hdr, _)).map { case (_, rec) =>
        MasterRow(
          rec(0).asInstanceOf[String],
          rec(1).asInstanceOf[String],
          rec(2).asInstanceOf[String],
          rec(3) match { case l: java.lang.Long => l.toInt; case null => 0 },
          rec.lift(4).orNull match { case s: String => s; case _ => "" })
      }
    } finally f.close()
  }

  /** Table names present in the file (skips indexes/views/triggers). */
  def tables(path: String): Seq[String] =
    master(path).filter(_.tpe == "table").map(_.name)

  /** A parsed column: name, Spark type from SQLite type-affinity rules
    * (§3.1 of the datatype3 doc: INT→INTEGER, CHAR/CLOB/TEXT→TEXT,
    * BLOB/empty→BLOB, REAL/FLOA/DOUB→REAL, else NUMERIC), and whether the
    * column is the INTEGER PRIMARY KEY rowid alias. */
  private final case class ColDef(name: String, spark: DataType, rowidAlias: Boolean)

  private def stripQuotes(s: String): String = {
    val t = s.trim
    if (t.length >= 2 && ((t.head == '"' && t.last == '"') || (t.head == '`' && t.last == '`') ||
        (t.head == '[' && t.last == ']') || (t.head == '\'' && t.last == '\'')))
      t.substring(1, t.length - 1)
    else t
  }

  /** Split on top-level commas (paren- and quote-aware). */
  private def splitTop(s: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    val cur = new StringBuilder
    var depth = 0
    var quote: Char = 0
    for (c <- s) {
      if (quote != 0) { cur += c; if (c == quote) quote = 0 }
      else c match {
        case '\'' | '"' | '`' => quote = c; cur += c
        case '(' => depth += 1; cur += c
        case ')' => depth -= 1; cur += c
        case ',' if depth == 0 => out += cur.result(); cur.clear()
        case _ => cur += c
      }
    }
    if (cur.nonEmpty) out += cur.result()
    out.result()
  }

  private val ConstraintKw = Set("PRIMARY", "UNIQUE", "CHECK", "FOREIGN", "CONSTRAINT")

  /** First identifier of a column/constraint body + the remainder —
    * quote-aware so a quoted name containing spaces survives. */
  private def splitNameRest(d: String): (String, String) =
    if ("\"`['".contains(d.head.toString)) {
      val q = if (d.head == '[') ']' else d.head
      val end = d.indexOf(q, 1)
      (d.substring(1, end), d.substring(end + 1))
    } else {
      val sp = d.indexWhere(_.isWhitespace)
      if (sp < 0) (d, "") else (d.substring(0, sp), d.substring(sp))
    }

  private def parseColumns(createSql: String): Seq[ColDef] = {
    val open = createSql.indexOf('(')
    val close = createSql.lastIndexOf(')')
    require(open >= 0 && close > open, s"cannot parse CREATE TABLE: $createSql")
    val parts = splitTop(createSql.substring(open + 1, close)).map(_.trim).filter(_.nonEmpty)
    val (constraints, colParts) =
      parts.partition(d => ConstraintKw.contains(d.split("\\s+", 2).head.toUpperCase))
    val colsWithType = colParts.map { d =>
      val (name, rest) = splitNameRest(d)
      // whitespace-normalized: sqlite_master stores the CREATE TABLE text
      // VERBATIM, so `PRIMARY\n    KEY` must still be recognized
      val restU = rest.toUpperCase.replaceAll("\\s+", " ")
      // type declaration = tokens before any constraint keyword
      val typeDecl = restU.split("\\s+").filter(_.nonEmpty)
        .takeWhile(t => !ConstraintKw.contains(t) && t != "NOT" && t != "DEFAULT" &&
          t != "REFERENCES" && t != "COLLATE" && t != "GENERATED" && t != "AS")
        .mkString(" ")
      val spark =
        if (typeDecl.contains("INT")) LongType
        else if (typeDecl.contains("CHAR") || typeDecl.contains("CLOB") || typeDecl.contains("TEXT")) StringType
        else if (typeDecl.isEmpty || typeDecl.contains("BLOB")) BinaryType
        else if (typeDecl.contains("REAL") || typeDecl.contains("FLOA") || typeDecl.contains("DOUB")) DoubleType
        else DoubleType // NUMERIC affinity: widest lossless numeric Spark type here
      // the documented SQLite quirk: inline `INTEGER PRIMARY KEY DESC`
      // does NOT alias the rowid (lang_createtable.html#rowid). The phrase
      // is matched only in the BARE constraint region — stripped of quoted
      // literals (DEFAULT 'primary key') and parenthesized expressions
      // (CHECK (...)), where the same words are data, not a constraint —
      // because a false alias would silently replace stored NULLs with
      // rowids on read
      val constraintScan = {
        var cs = restU.replaceAll("'[^']*'", " ").replaceAll("\"[^\"]*\"", " ")
        var prev = ""
        while (prev != cs) { prev = cs; cs = cs.replaceAll("\\([^()]*\\)", " ") }
        cs.replaceAll("\\s+", " ")
      }
      val rowidAlias = typeDecl == "INTEGER" && constraintScan.contains("PRIMARY KEY") &&
        !constraintScan.contains("PRIMARY KEY DESC")
      (ColDef(stripQuotes(name), spark, rowidAlias), typeDecl)
    }
    // A table-level single-column `PRIMARY KEY(c)` over an INTEGER column
    // is a rowid alias too — SQLite treats it exactly like the inline
    // `c INTEGER PRIMARY KEY` spelling, and (the other half of the quirk)
    // the table-level form stays an alias even with DESC
    // (lang_createtable.html#rowid); name matching is case-insensitive
    val tablePkCol: Option[String] = constraints.collectFirst {
      case c if c.toUpperCase.startsWith("PRIMARY") &&
          c.indexOf('(') >= 0 && c.lastIndexOf(')') > c.indexOf('(') =>
        splitTop(c.substring(c.indexOf('(') + 1, c.lastIndexOf(')')))
          .map(_.trim).filter(_.nonEmpty) match {
          case Seq(one) => Some(stripQuotes(splitNameRest(one)._1))
          case _ => None
        }
    }.flatten
    colsWithType.map { case (cd, typeDecl) =>
      if (!cd.rowidAlias && typeDecl == "INTEGER" &&
          tablePkCol.exists(_.equalsIgnoreCase(cd.name))) cd.copy(rowidAlias = true)
      else cd
    }
  }

  private def findTable(path: String, table: String): MasterRow = {
    val m = master(path).find(m => m.tpe == "table" && m.name == table).getOrElse(
      throw new IllegalArgumentException(
        s"table $table not found in $path (have: ${tables(path).mkString(", ")})"))
    // virtual tables carry type='table' with rootpage 0 — their rows live
    // in module shadow tables (or nowhere), so a b-tree walk from page 0
    // would just die on a negative seek; name the reason instead
    require(m.rootPage != 0 && !m.sql.toUpperCase.startsWith("CREATE VIRTUAL"),
      s"table $table in $path is a virtual table (${m.sql.takeWhile(_ != '(').trim}) — " +
        "virtual tables have no rowid b-tree to read; query the module's backing tables instead")
    m
  }

  /** Affinity coercion of a decoded storage value into the declared column
    * type — mirrors what a SQL layer would apply on read. Lossy numeric
    * text is NOT guessed at: a TEXT value in an INTEGER column reads as
    * null rather than a silent misparse. */
  private def coerce(v: Any, t: DataType): Any = (v, t) match {
    case (null, _) => null
    case (l: java.lang.Long, LongType) => l
    case (d: java.lang.Double, LongType) => if (d == d.toLong.toDouble) d.toLong else null
    case (l: java.lang.Long, DoubleType) => l.toDouble
    case (d: java.lang.Double, DoubleType) => d
    case (s: String, StringType) => s
    case (l: java.lang.Long, StringType) => l.toString
    case (d: java.lang.Double, StringType) => d.toString
    case (b: Array[Byte], StringType) => new String(b, UTF_8)
    case (b: Array[Byte], BinaryType) => b
    case (s: String, BinaryType) => s.getBytes(UTF_8)
    case _ => null
  }

  /** Read one table into a DataFrame. Interior-page walk on the driver
    * enumerates the leaves; leaf decoding fans out across the cluster
    * (`parallelism` tasks, default = Spark's). */
  def readTable(spark: SparkSession, path: String, table: String,
                parallelism: Option[Int] = None): DataFrame = {
    val m = findTable(path, table)
    val cols = parseColumns(m.sql)
    val schema = StructType(cols.map(c => StructField(c.name, c.spark, nullable = true)))
    val f = new RandomAccessFile(path, "r")
    val leaves = try { val hdr = readHeader(f); leafPages(f, hdr, m.rootPage) } finally f.close()
    val slices = math.max(1, math.min(parallelism.getOrElse(spark.sparkContext.defaultParallelism), leaves.size))
    val rowidAliasIdx = cols.indexWhere(_.rowidAlias)
    val types = cols.map(_.spark).toArray
    val rdd = spark.sparkContext.parallelize(leaves, slices).mapPartitions { it =>
      val pages = it.toSeq
      if (pages.isEmpty) Iterator.empty
      else {
        val ff = new RandomAccessFile(path, "r")
        // try/finally: a decode failure on a corrupt page must not leak
        // the handle — Spark retries the task in the same executor JVM
        val rows = try {
          val hdr = readHeader(ff)
          pages.iterator.flatMap(leafRows(ff, hdr, _)).map { case (rowid, rec) =>
            val vals = new Array[Any](types.length)
            var i = 0
            while (i < types.length) {
              // ALTER TABLE ADD COLUMN leaves old records short → trailing null;
              // the INTEGER PRIMARY KEY alias is stored as NULL, value = rowid
              val raw = if (i < rec.length) rec(i) else null
              vals(i) =
                if (i == rowidAliasIdx && raw == null) rowid
                else coerce(raw, types(i))
              i += 1
            }
            Row.fromSeq(vals.toIndexedSeq)
          }.toVector // materialize before closing the file handle
        } finally ff.close()
        rows.iterator
      }
    }
    spark.createDataFrame(rdd, schema)
  }

  // ---------- minimal writer (single-table fixtures / round-trips) ----------

  /** Serialize one value into (serialType, bodyBytes). */
  private def encodeValue(v: Any): (Long, Array[Byte]) = v match {
    case null => (0L, Array.emptyByteArray)
    case l: java.lang.Long =>
      val x = l.longValue()
      if (x >= Byte.MinValue && x <= Byte.MaxValue) (1L, Array(x.toByte))
      else if (x >= Short.MinValue && x <= Short.MaxValue) (2L, Array((x >> 8).toByte, x.toByte))
      else if (x >= -(1L << 23) && x < (1L << 23)) (3L, Array((x >> 16).toByte, (x >> 8).toByte, x.toByte))
      else if (x >= Int.MinValue && x <= Int.MaxValue) (4L, Array((x >> 24).toByte, (x >> 16).toByte, (x >> 8).toByte, x.toByte))
      else if (x >= -(1L << 47) && x < (1L << 47)) (5L, (40 to 0 by -8).map(s => (x >> s).toByte).toArray)
      else (6L, (56 to 0 by -8).map(s => (x >> s).toByte).toArray)
    case d: java.lang.Double =>
      val bits = java.lang.Double.doubleToLongBits(d)
      (7L, (56 to 0 by -8).map(s => (bits >> s).toByte).toArray)
    case s: String => val b = s.getBytes(UTF_8); (13L + 2L * b.length, b)
    case b: Array[Byte] => (12L + 2L * b.length, b)
    case other => throw new IllegalArgumentException(s"unsupported value type ${other.getClass}")
  }

  private def varintBytes(v: Long): Array[Byte] = {
    require(v >= 0, s"negative varint $v") // lengths/rowids only
    if (v <= 0x7f) Array(v.toByte)
    else {
      val groups = Seq.newBuilder[Byte]
      var x = v
      while (x != 0) { groups += (x & 0x7f).toByte; x >>>= 7 }
      val g = groups.result().reverse
      (g.init.map(b => (b | 0x80).toByte) :+ g.last).toArray
    }
  }

  private def record(values: Seq[Any]): Array[Byte] = {
    val enc = values.map(encodeValue)
    val serialBytes = enc.map { case (s, _) => varintBytes(s) }
    // record header length INCLUDES its own varint — iterate to the
    // fixpoint (converges in ≤2 steps: the length varint can only grow)
    val s = serialBytes.map(_.length).sum
    var hdrLen = s + 1
    while (varintBytes(hdrLen.toLong).length + s != hdrLen)
      hdrLen = varintBytes(hdrLen.toLong).length + s
    val bos = new java.io.ByteArrayOutputStream()
    bos.write(varintBytes(hdrLen.toLong))
    serialBytes.foreach(bos.write)
    enc.foreach { case (_, b) => bos.write(b) }
    bos.toByteArray
  }

  private final case class Cell(rowid: Long, local: Array[Byte], overflow: Seq[Array[Byte]], payloadLen: Int)

  /** Write a single-table SQLite database file. Rows are written rowid
    * 1..n in input order. Page size 4096, UTF-8, schema format 1. The
    * output opens in stock sqlite3 (validated against the real CLI during
    * development) — the point is that `readTable` is then exercised on an
    * ACTUAL .db file, not a hand-shaken in-memory fixture. Collects to the
    * driver by design: a SQLite file is a single-node artifact, the same
    * boundary as the reference's own warehouse (and JsonArrayIO's
    * single-file sink). */
  def writeTable(df: DataFrame, path: String, table: String): Unit = {
    val pageSize = 4096
    val u = pageSize
    val x = u - 35
    val mMin = (u - 12) * 32 / 255 - 23
    val schema = df.schema
    val sqlType: DataType => String = {
      case LongType | IntegerType => "INTEGER"
      case DoubleType | FloatType => "REAL"
      case StringType => "TEXT"
      case BinaryType => "BLOB"
      case t => throw new IllegalArgumentException(s"unsupported column type $t")
    }
    val createSql = schema.fields.map(f => s""""${f.name}" ${sqlType(f.dataType)}""")
      .mkString(s"""CREATE TABLE "$table" (""", ", ", ")")

    def normalize(v: Any): Any = v match {
      case null => null
      case i: java.lang.Integer => i.longValue(): java.lang.Long
      case f: java.lang.Float => f.doubleValue(): java.lang.Double
      case other => other
    }

    // ---- cells, with overflow split per the §1.6 table-leaf formula ----
    def mkCell(rowid: Long, payload: Array[Byte]): Cell = {
      if (payload.length <= x) Cell(rowid, payload, Nil, payload.length)
      else {
        val k = mMin + ((payload.length - mMin) % (u - 4))
        val local = if (k <= x) k else mMin
        val chunks = payload.drop(local).grouped(u - 4).toSeq
        Cell(rowid, payload.take(local), chunks, payload.length)
      }
    }

    val rows = df.collect()
    val cells = rows.zipWithIndex.map { case (r, i) =>
      mkCell(i + 1L, record(r.toSeq.map(normalize)))
    }.toSeq

    // ---- pack leaf pages (cells in rowid order) ----
    // a leaf cell on disk: varint(payloadLen) ++ varint(rowid) ++ local
    //                      [++ 4-byte first-overflow-page if spilled]
    def cellBytesLen(c: Cell): Int =
      varintBytes(c.payloadLen).length + varintBytes(c.rowid).length +
        c.local.length + (if (c.overflow.nonEmpty) 4 else 0)
    val leaves = Seq.newBuilder[Seq[Cell]]
    var cur = Vector.empty[Cell]
    var used = 8 // leaf page header
    for (c <- cells) {
      val need = cellBytesLen(c) + 2 // + cell-pointer slot
      if (cur.nonEmpty && used + need > u) { leaves += cur; cur = Vector.empty; used = 8 }
      cur :+= c; used += need
    }
    if (cur.nonEmpty || cells.isEmpty) leaves += cur
    val leafCells = leaves.result()

    // ---- page graph: page 1 = sqlite_master; table root = page 2 ----
    // Assemble symbolically, then materialize. Symbolic ids: 0 = master,
    // 1 = table root; leaves and interior levels get ids as allocated.
    // We allocate: [master] [root] [other interior nodes...] [leaves...]
    // [overflow...] and patch pointers by symbolic id → page number.
    sealed trait Node
    final case class LeafNode(cells: Seq[Cell]) extends Node
    final case class InteriorNode(children: Seq[Int], maxRowids: Seq[Long]) extends Node // symbolic child ids
    val nodes = scala.collection.mutable.ArrayBuffer.empty[Node]
    def alloc(n: Node): Int = { nodes += n; nodes.length - 1 }

    val leafIds = leafCells.map(lc => alloc(LeafNode(lc)))
    val leafMax = leafCells.map(lc => if (lc.isEmpty) 0L else lc.last.rowid)
    // build interior levels bottom-up until a single root remains
    // (interior fanout here is generous: each cell is 4 bytes + ≤9 varint)
    def buildLevel(ids: Seq[Int], maxes: Seq[Long]): Int =
      if (ids.length == 1) ids.head
      else {
        val fanout = (u - 12 - 8) / (2 + 4 + 9) // conservative per-cell cost
        val g0 = ids.zip(maxes).grouped(math.max(2, fanout)).toSeq
        // a 1-child trailing group would emit an interior page with ZERO
        // cells (only a right-most pointer) — stock sqlite3 declares that
        // 'database disk image is malformed'. Rebalance: move one child
        // from the (≥2-child) penultimate group into the tail
        val grouped =
          if (g0.length >= 2 && g0.last.length == 1)
            g0.dropRight(2) :+ g0(g0.length - 2).dropRight(1) :+
              (g0(g0.length - 2).takeRight(1) ++ g0.last)
          else g0
        val level = grouped.map { g =>
          alloc(InteriorNode(g.map(_._1), g.map(_._2))) -> g.last._2
        }
        buildLevel(level.map(_._1), level.map(_._2))
      }
    val rootId = buildLevel(leafIds, leafMax)

    // page numbering: master=1, root=2, the rest in allocation order after
    val others = nodes.indices.filter(_ != rootId)
    val pageOf = scala.collection.mutable.HashMap(rootId -> 2)
    var next = 3
    for (id <- others) { pageOf(id) = next; next += 1 }
    // overflow chains: allocate after all b-tree pages
    val overflowPages = scala.collection.mutable.ArrayBuffer.empty[(Int, Array[Byte], Int)] // (pageNo, data, nextPageNo)
    val firstOverflowOf = scala.collection.mutable.HashMap.empty[(Long, Int), Int] // (rowid, leafSymbolicId) → pageNo
    for ((id, lc) <- leafIds.zip(leafCells); c <- lc if c.overflow.nonEmpty) {
      val pageNos = c.overflow.indices.map(_ => { val p = next; next += 1; p })
      firstOverflowOf((c.rowid, id)) = pageNos.head
      for ((chunk, i) <- c.overflow.zipWithIndex)
        overflowPages += ((pageNos(i), chunk, if (i + 1 < pageNos.length) pageNos(i + 1) else 0))
    }
    val nPages = next - 1
    // the single-buffer assembly is 32-bit addressed: past ~2 GiB the
    // Int products below would wrap silently — fail with the real reason
    require(nPages.toLong * pageSize <= Int.MaxValue,
      s"writeTable output would be ${nPages.toLong * pageSize} bytes (> 2 GiB) — " +
        "the minimal single-buffer writer stops here; land data this large as parquet instead")

    // ---- byte assembly ----
    val file = new Array[Byte](nPages * pageSize)
    def put16(off: Int, v: Int): Unit = { file(off) = (v >> 8).toByte; file(off + 1) = v.toByte }
    def put32(off: Int, v: Long): Unit = {
      file(off) = (v >> 24).toByte; file(off + 1) = (v >> 16).toByte
      file(off + 2) = (v >> 8).toByte; file(off + 3) = v.toByte
    }

    def writeLeaf(pageNo: Int, lc: Seq[Cell], symbolicId: Int): Unit = {
      val base = (pageNo - 1) * pageSize
      val hdrOff = if (pageNo == 1) base + 100 else base
      file(hdrOff) = 13
      put16(hdrOff + 3, lc.length)
      var content = base + pageSize
      for ((c, i) <- lc.zipWithIndex) {
        val bytes = {
          val bos = new java.io.ByteArrayOutputStream()
          bos.write(varintBytes(c.payloadLen))
          bos.write(varintBytes(c.rowid))
          bos.write(c.local)
          if (c.overflow.nonEmpty) {
            val p = firstOverflowOf((c.rowid, symbolicId))
            bos.write(Array[Byte]((p >> 24).toByte, (p >> 16).toByte, (p >> 8).toByte, p.toByte))
          }
          bos.toByteArray
        }
        content -= bytes.length
        System.arraycopy(bytes, 0, file, content, bytes.length)
        put16(hdrOff + 8 + 2 * i, content - base)
      }
      put16(hdrOff + 5, if (content - base == 65536) 0 else content - base)
    }

    def writeInterior(pageNo: Int, node: InteriorNode): Unit = {
      val base = (pageNo - 1) * pageSize
      file(base) = 5
      put16(base + 3, node.children.length - 1)
      put32(base + 8, pageOf(node.children.last).toLong)
      var content = base + pageSize
      for (i <- 0 until node.children.length - 1) {
        val bos = new java.io.ByteArrayOutputStream()
        val child = pageOf(node.children(i))
        bos.write(Array[Byte]((child >> 24).toByte, (child >> 16).toByte, (child >> 8).toByte, child.toByte))
        bos.write(varintBytes(node.maxRowids(i)))
        val bytes = bos.toByteArray
        content -= bytes.length
        System.arraycopy(bytes, 0, file, content, bytes.length)
        put16(base + 12 + 2 * i, content - base)
      }
      put16(base + 5, if (content - base == 65536) 0 else content - base)
    }

    // sqlite_master on page 1: one row (type,name,tbl_name,rootpage,sql)
    val masterRec = record(Seq("table", table, table, 2L, createSql))
    require(masterRec.length <= x - 100, "CREATE TABLE statement too large for the minimal writer")
    writeLeaf(1, Seq(mkCell(1L, masterRec)), -1)

    for ((id, node) <- nodes.zipWithIndex.map(_.swap)) node match {
      case LeafNode(lc) => writeLeaf(pageOf(id), lc, id)
      case in: InteriorNode => writeInterior(pageOf(id), in)
    }
    for ((pageNo, data, nextNo) <- overflowPages) {
      val base = (pageNo - 1) * pageSize
      put32(base, nextNo.toLong)
      System.arraycopy(data, 0, file, base + 4, data.length)
    }

    // ---- 100-byte header (over the start of page 1) ----
    System.arraycopy(Magic, 0, file, 0, Magic.length)
    put16(16, pageSize)
    file(18) = 1; file(19) = 1 // file format write/read version: legacy
    file(21) = 64; file(22) = 32; file(23) = 32 // payload fractions (fixed)
    put32(24, 1L) // file change counter
    put32(28, nPages.toLong) // database size in pages
    put32(40, 1L) // schema cookie
    put32(44, 1L) // schema format 1
    put32(48, 0L)
    put32(56, 1L) // text encoding: UTF-8
    put32(92, 1L) // version-valid-for = change counter → size header is valid
    put32(96, 3040001L) // SQLITE_VERSION_NUMBER that wrote it (informational)

    val out = java.nio.file.Paths.get(path)
    Option(out.getParent).foreach(java.nio.file.Files.createDirectories(_))
    java.nio.file.Files.write(out, file)
  }
}

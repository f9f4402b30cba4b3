package graft.sources

import org.apache.spark.sql.{AnalysisException, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Parquet-backed warehouse primitives.
  *
  *   - `upsert` (S8): the reference's `INSERT OR REPLACE` batch upsert
  *     (src/etl/load.py:126-143) generalized to parquet: last-wins merge
  *     of updates over the existing table by key. For incremental runs
  *     at scale this is the read-union-dedup-rewrite strategy (a table
  *     format with MERGE would replace the rewrite, not the semantics).
  *   - `upsertPartitioned` (§7.3): the same merge on a hive-style
  *     date-partitioned table, so date-bounded scans (the v1 lookback
  *     window, the reporting HAVING) prune partitions instead of reading
  *     the full table, and a batch rewrites only the dates it touches.
  */
object ParquetWarehouse {

  /** Heal the artifacts of an upsert interrupted mid-swap, BEFORE the
    * table is read. The swap is rename(dest → .__old); rename(tmp → dest);
    * delete .__old — a crash between the two renames leaves dest MISSING
    * with the full history sitting in `.__old`. Without this step the next
    * upsert's readIfExists would return None and silently rebuild the
    * table from the updates batch alone, then line-of-course delete the
    * `.__old` backup — destroying the "both copies on disk, recoverable"
    * contract. Recovery is: restore `.__old` → dest when dest is gone
    * (auto-heal, the backup IS the committed table), and remove stale
    * `.__tmp-*` staging dirs from writes that died before their swap
    * (their content was never committed — a fresh merge supersedes it).
    * A `.__old` alongside a LIVE dest is the harmless leftover of a crash
    * after the second rename; the swap itself clears it, as before. */
  private def recoverInterruptedSwap(
      fs: org.apache.hadoop.fs.FileSystem, path: String): Unit = {
    val dest = new org.apache.hadoop.fs.Path(path)
    val old = new org.apache.hadoop.fs.Path(path + ".__old")
    if (!fs.exists(dest) && fs.exists(old))
      require(fs.rename(old, dest),
        s"found interrupted upsert at $path (table missing, backup present) " +
          "but could not restore the .__old backup — manual repair required")
    // the table path itself must be a LITERAL in the glob — an unescaped
    // metacharacter in the path (a `[date=...]` dir, a `*`) would make
    // globStatus match unrelated siblings or nothing at all
    // best-effort shared sweep; the restore above stays LOUD on purpose
    sweepStaleStaging(fs, new org.apache.hadoop.fs.Path(globEscape(path) + ".__tmp-*"))
  }

  /** Backslash-escape Hadoop glob metacharacters so a path embeds into a
    * glob PATTERN as a literal. */
  private def globEscape(s: String): String = s.flatMap {
    case c @ ('*' | '?' | '[' | ']' | '{' | '}' | '\\') => "\\" + c
    case c => c.toString
  }

  private[graft] def lockHost: String =
    try java.net.InetAddress.getLocalHost.getHostName
    catch { case _: java.net.UnknownHostException => "unknown-host" }

  /** The lock file's one-line payload; `private[graft]` so specs can
    * fabricate a holder's lock verbatim. */
  private[graft] def lockPayload(host: String, pid: Long, token: String): String =
    lockPayload(host, pid, token, System.currentTimeMillis())

  private[graft] def lockPayload(host: String, pid: Long, token: String, ts: Long): String =
    s"host=$host pid=$pid token=$token ts=$ts\n"

  /** The one place that decides which lock primitive a store gets: a
    * local filesystem takes the kernel's advisory file lock, every other
    * store the create-no-overwrite marker (see [[withWriterLock]]). A
    * FilterFileSystem WRAPPING a local FS falls into the marker branch —
    * atomicity then depends on the wrapper, same as any other connector. */
  private def isLocalFs(fs: org.apache.hadoop.fs.FileSystem): Boolean = fs match {
    case _: org.apache.hadoop.fs.LocalFileSystem |
         _: org.apache.hadoop.fs.RawLocalFileSystem => true
    case _ => false
  }

  /** The payload of the lock at `lock`, or None when it cannot be read:
    * missing, faulting, over the size cap, or cut short by a stalled
    * stream. */
  private[graft] def readLockPayload(
      fs: org.apache.hadoop.fs.FileSystem,
      lock: org.apache.hadoop.fs.Path): Option[String] =
    try {
      val in = fs.open(lock)
      try {
        // read to EOF, not a single read(): on remote stores a legal
        // short read can truncate the one-line payload BEFORE the token,
        // and the owned release downstream would then misjudge — a
        // holder failing to delete its own lock on the way out, wedging
        // the table
        val out = new java.io.ByteArrayOutputStream(256)
        val buf = new Array[Byte](4096)
        // Two boundedness guards against a misbehaving stream:
        //  - a stream returning 0 for a non-empty buffer must not spin
        //    forever inside lock acquisition: a few consecutive
        //    zero-reads are tolerated, then the read is abandoned and
        //    judged by COMPLETENESS below;
        //  - total size is capped, always → None (a real payload is one
        //    ~100-byte line, and a stray multi-GB file at a lock path
        //    must not OOM the driver). The cap is checked BEFORE the
        //    chunk is appended, so the buffer itself never exceeds it.
        val MaxPayloadBytes = 64 * 1024
        var zeros = 0
        var overCap = false
        var stalled = false
        var done = false
        while (!done) {
          val n = in.read(buf)
          if (n < 0) done = true
          else if (n == 0) { zeros += 1; if (zeros >= 8) { stalled = true; done = true } }
          else {
            zeros = 0
            if (out.size + n > MaxPayloadBytes) { overCap = true; done = true }
            else out.write(buf, 0, n)
          }
        }
        val s = out.toString("UTF-8")
        // A zero-read stall is only UNREADABLE when it truncated the
        // payload. Every payload this module writes is newline-
        // terminated, so a terminated buffer is COMPLETE — connectors
        // that signal EOF with 0 instead of -1 keep their fully-delivered
        // payload (and with it the owned release). An unterminated stall
        // is a prefix that may have lost the token.
        if (overCap || (stalled && !s.endsWith("\n"))) None else Some(s)
      } finally in.close()
    } catch {
      // NonFatal, not just IOException: connectors wrap I/O failures in
      // RuntimeExceptions (Hadoop's Shell wraps a failed fork's exit
      // code), and "unreadable payload" must mean the same thing on
      // every store
      case scala.util.control.NonFatal(_) => None
    }

  /** The local lock files this JVM holds, by file key (device + inode),
    * with the payload each holder wrote — see [[withWriterLock]]. */
  private val heldLocalLocks = new java.util.concurrent.ConcurrentHashMap[AnyRef, String]

  /** Advisory single-writer lock for a table path — the GUARD behind the
    * documented single-writer contract ([[upsert]]). Two concurrent
    * writers to one path can delete each other's staging dirs mid-write
    * and race the live/backup renames; parquet has no table lock to lean
    * on (a MERGE-capable table format supplies one), so the second
    * acquirer of `path.__lock` fails LOUDLY, with an
    * IllegalArgumentException naming the lock file and its holder,
    * instead of corrupting. Released on completion, success or failure
    * alike.
    *
    * On a local filesystem the lock is the kernel's advisory lock on
    * `path.__lock` (`FileChannel.tryLock`, an fcntl lock — the lock
    * SQLite's unix VFS takes for the reference's load step). The kernel
    * drops it when the holder exits, however it exits, so a crash
    * mid-swap heals on the next writer call and nothing ever has to
    * judge whether a holder is dead. The file is never deleted: between
    * writers it holds nothing but the last holder's payload, which names
    * the holder in a refusal. Deleting it by hand while a writer runs
    * would admit a second writer on a new inode. fcntl locks belong to
    * the PROCESS, not the channel: a second channel on the same file in
    * this JVM gets OverlappingFileLockException from tryLock, and closing
    * that channel silently drops the first channel's lock. So a JVM-wide
    * map of held lock files refuses an in-JVM second acquirer before it
    * opens anything.
    *
    * On other stores (HDFS) the lock is a `path.__lock` marker staked
    * via create-no-overwrite, atomic at the NameNode (only best-effort on
    * eventually-consistent object stores). Every held marker is refused,
    * whatever its age or payload: a writer that crashed leaves its table
    * locked until an operator confirms it dead and deletes the marker by
    * hand. Release is OWNED: the holder deletes the marker only if the
    * payload still carries its own token, so a writer whose marker was
    * removed by hand cannot delete a successor's on its way out. */
  private[graft] def withWriterLock[T](
      fs: org.apache.hadoop.fs.FileSystem, path: String)(body: => T): T = {
    val lock = new org.apache.hadoop.fs.Path(path + ".__lock")
    val token = java.util.UUID.randomUUID().toString
    val payload = lockPayload(lockHost, ProcessHandle.current().pid(), token)
    def refuse(observed: Option[String], mtime: => Long, remedy: String): Nothing =
      throw new IllegalArgumentException(
        s"another writer holds $path.__lock (${describeHolder(observed, mtime)}) — the " +
          "warehouse is single-writer per table path (see upsert's concurrency " +
          s"contract). $remedy")
    Option(lock.getParent).foreach(fs.mkdirs)
    if (isLocalFs(fs)) {
      import java.nio.file.{Files, StandardOpenOption}
      val io = java.nio.file.Paths.get(lock.toUri.getPath)
      def mtime = Files.getLastModifiedTime(io).toMillis
      val remedy = "The lock is released when that writer exits; never delete the lock file."
      try Files.createFile(io)
      catch { case _: java.nio.file.FileAlreadyExistsException => () }
      val key = Files.readAttributes(
        io, classOf[java.nio.file.attribute.BasicFileAttributes]).fileKey()
      // checked BEFORE any channel is opened: opening and closing one
      // here would drop the in-JVM holder's kernel lock
      Option(heldLocalLocks.putIfAbsent(key, payload))
        .foreach(p => refuse(Some(p), mtime, remedy))
      try {
        val ch = java.nio.channels.FileChannel.open(
          io, StandardOpenOption.CREATE, StandardOpenOption.WRITE)
        try {
          if (ch.tryLock() == null) refuse(readLockPayload(fs, lock), mtime, remedy)
          ch.truncate(0)
          ch.write(java.nio.ByteBuffer.wrap(payload.getBytes("UTF-8")))
          body
        } finally ch.close()
      } finally heldLocalLocks.remove(key)
    } else {
      val staked =
        try {
          val out = fs.create(lock, /* overwrite = */ false)
          try out.write(payload.getBytes("UTF-8"))
          finally out.close()
          true
        } catch {
          // only "the lock already exists" means HELD; any other I/O
          // failure (permissions, transient FS errors) must surface as
          // itself, not masquerade as a phantom concurrent writer
          case e: java.io.IOException =>
            if (fs.exists(lock)) false else throw e
        }
      if (!staked)
        refuse(readLockPayload(fs, lock),
          try fs.getFileStatus(lock).getModificationTime
          catch { case _: java.io.FileNotFoundException => System.currentTimeMillis() },
          s"Once that holder is confirmed dead, delete $path.__lock by hand and retry.")
      try body
      finally
        if (readLockPayload(fs, lock).exists(_.contains(s"token=$token")))
          fs.delete(lock, false)
    }
  }

  /** The holder named by a held lock's payload, for the refusal message:
    * `host`, `pid` and age (payload `ts`, else the file's mtime). */
  private def describeHolder(observed: Option[String], mtime: => Long): String = {
    val kv = observed.map(parseKv).getOrElse(Map.empty)
    val since = kv.get("ts").flatMap(_.toLongOption).getOrElse(mtime)
    val age = s"${(System.currentTimeMillis() - since) / 60000} min old"
    if (observed.isEmpty) s"payload unreadable, $age"
    else s"host=${kv.getOrElse("host", "?")} pid=${kv.getOrElse("pid", "?")}, $age"
  }

  private def parseKv(payload: String): Map[String, String] =
    payload.trim.split("\\s+")
      .flatMap(_.split("=", 2) match { case Array(k, v) => Some(k -> v); case _ => None })
      .toMap

  /** The upsert-rewrite REBALANCE decision, shared with its spec:
    * rebalance once the committed table's on-disk bytes exceed 2× the
    * AQE advisory partition size — below that the whole rewrite fits
    * one-or-two advisory-sized files whatever the window partitioning
    * did, and the extra exchange is pure fixed cost (r22 measured
    * +0.3-0.5 s per KB-scale upsert). */
  private[graft] def shouldRebalance(tableBytes: Long, advisoryBytes: Long): Boolean =
    tableBytes > 2L * advisoryBytes

  private def readIfExists(spark: SparkSession, path: String): Option[DataFrame] = {
    // Existence is pre-checked through the FileSystem: read.parquet on a
    // missing path makes Spark's FileStreamSink.hasMetadata log a WARN
    // with a FULL FileNotFoundException stack trace BEFORE DataSource
    // throws the AnalysisException this used to rely on — one multi-KB
    // stack per first-run upsert, and in a harness that keeps only a
    // bounded tail of combined output that spam is exactly what evicts
    // the bench's medians line (BENCH_r19 rc=124 left a stack fragment
    // and zero numbers). One exists() call replaces the exception-driven
    // probe on the common branch; the catch stays for the check-then-read
    // race (table dropped between the two calls).
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(p)) None
    else
      try Some(spark.read.parquet(path))
      catch {
        // ONLY a missing path means "no table yet". An existing-but-
        // unreadable table (a failed write's empty dir, missing footers)
        // raises a DIFFERENT AnalysisException — swallowing it would send
        // upsert down the create branch, silently rebuilding the table
        // from the updates batch alone and discarding all history
        case e: AnalysisException if e.getCondition == "PATH_NOT_FOUND" => None
      }
  }

  /** Deterministic last-wins dedup by `keys`. Precedence: the `__src`
    * column when present (updates=1 beat existing=0), then — for
    * duplicate keys WITHIN one batch — the xxhash64 of the value columns.
    * The hash makes the survivor a pure function of row CONTENT, so it is
    * stable across partitionings and shuffle orders (`row_number` ordered
    * by `__src` alone left intra-batch ties partition-order-dependent).
    * Byte-identical duplicates still tie, which is harmless: either
    * survivor is the same row. (Distinct contents colliding on the 64-bit
    * hash would also tie — at 2⁻⁶⁴ per pair that is accepted, not
    * defended against.) The hash is [[graft.functions.ContentKey
    * .contentHash]] — xxhash64 over a null-flag-framed, length-prefixed,
    * map-canonical binary encoding — not a structural xxhash64 over the
    * columns, because the structural form has CERTAIN collisions (Spark's
    * hash skips nulls, maps have no entry order, array boundaries can
    * shuffle; see ContentKey's scaladoc). At
    * this site a certain collision is not row loss — row_number still
    * keeps exactly one row per key — but it silently surrenders the
    * survivor to partition order for exactly the near-miss contents
    * (swapped nulls, micros-apart timestamps, reordered nested maps)
    * where determinism is most worth having. Rows differing only in a
    * map column pick a content-deterministic survivor, insensitive to
    * entry order at any nesting depth (spec-pinned across
    * partitionings). */
  private def lastWins(df: DataFrame, keys: Seq[String]): DataFrame = {
    // an all-key table has nothing to break ties on
    val tiebreak = graft.functions.ContentKey
      .contentHash(df.schema.fields
        .filterNot(f => keys.contains(f.name) || f.name == "__src").toSeq)
      .getOrElse(lit(0L))
    val ordering =
      (if (df.columns.contains("__src")) Seq(col("__src").desc) else Nil) :+
        tiebreak.desc
    val w = Window.partitionBy(keys.map(col): _*).orderBy(ordering: _*)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__src", "__rn")
  }

  /** Last-wins upsert by `keys`: rows in `updates` replace same-key rows
    * in the table at `path`; other rows are preserved. Duplicate keys
    * within `updates` itself resolve deterministically (content-hash
    * tiebreak — see [[lastWins]]), so the surviving row does not depend
    * on partitioning — including rows that differ ONLY in a MAP column,
    * which hash through their canonical sorted-entry form (see
    * [[lastWins]]; spec-pinned in ParquetWarehouseSpec
    * "map-only difference"). Note the CREATE branch
    * (no existing table) also applies last-wins: an initial batch with
    * duplicate keys lands deduplicated, NOT verbatim — upsert is a merge
    * everywhere, never an append.
    *
    * CONCURRENCY CONTRACT — one writer per table path at a time. The
    * crash-safety machinery (recoverInterruptedSwap's stale-tmp sweep,
    * the rename swap itself) assumes it owns the path: two concurrent
    * upserts to the SAME path can delete each other's live staging dirs
    * and race the dest/.__old renames. Parquet has no table-level lock to
    * lean on (a MERGE-capable table format supplies one); distinct paths
    * are fully independent. The contract is now GUARDED, not just
    * documented: every writer entry point takes the advisory
    * [[withWriterLock]] on the path, so a second concurrent writer fails
    * loudly instead of corrupting. On a local filesystem a crashed
    * holder's lock is released by the kernel; on other stores a held lock
    * is refused until its holder releases it or an operator removes it by
    * hand (see the lock's doc).
    *
    * The schema is strict: `updates` must carry exactly the table's
    * columns (matched by name, in any order), or the merge throws an
    * `AnalysisException` and the table is left as it was — silent schema
    * drift in a warehouse table is usually a bug. */
  def upsert(
      updates: DataFrame,
      path: String,
      keys: Seq[String]): Unit = {
    // a missing merge key is named here, before anything is read
    require(keys.forall(updates.columns.contains),
      s"updates must carry every merge key; missing: " +
        keys.filterNot(updates.columns.contains).mkString(", "))
    requireNoReservedColumns(updates)
    val spark = updates.sparkSession
    val destPath = new org.apache.hadoop.fs.Path(path)
    val fs = destPath.getFileSystem(spark.sessionState.newHadoopConf())
    withWriterLock(fs, path) { upsertLocked(updates, path, keys, spark, destPath, fs) }
  }

  /** `__src` and `__rn` are lastWins' internal batch marker and window
    * rank. A user table that genuinely carries either would have it
    * consumed as the top-precedence ordering (create branch) or shadowed
    * by the marker (merge branch) and then silently DROPPED from the
    * written table — silent column loss on a public API. Refuse loudly
    * instead; the caller renames theirs. Matched case-INsensitively:
    * Spark's default resolution is case-insensitive, so a user `__SRC`
    * would collide with the marker just as surely as `__src`. */
  private def requireNoReservedColumns(df: DataFrame): Unit = {
    val clash = df.columns.filter(c => Set("__src", "__rn").contains(c.toLowerCase))
    require(clash.isEmpty,
      s"column name(s) ${clash.mkString(", ")} are reserved by the upsert merge " +
        "(internal batch marker / window rank) and would be silently consumed; rename them")
  }

  /** `private[graft]`: the fault-injection seam — specs drive the swap
    * through a misbehaving FilterFileSystem (rename refusals, throws
    * between the two renames) to pin the catch-block restore, which the
    * public `upsert` cannot reach (it derives its own FS from the path). */
  private[graft] def upsertLocked(
      updates: DataFrame,
      path: String,
      keys: Seq[String],
      spark: SparkSession,
      destPath: org.apache.hadoop.fs.Path,
      fs: org.apache.hadoop.fs.FileSystem): Unit = {
    // heal any interrupted prior swap FIRST, so the read below sees the
    // restored history instead of a missing table (see the helper's doc)
    recoverInterruptedSwap(fs, path)
    val merged = readIfExists(spark, path) match {
      case None => lastWins(updates, keys)
      case Some(existing) =>
        // the guard is symmetric: an EXISTING table missing a merge key
        // is named too, not left to the union's column-mismatch error
        require(keys.forall(existing.columns.contains),
          s"existing table at $path is missing merge key(s): " +
            keys.filterNot(existing.columns.contains).mkString(", "))
        lastWins(
          existing.withColumn("__src", lit(0))
            .unionByName(updates.withColumn("__src", lit(1))),
          keys)
    }
    // write-then-swap, never overwrite-in-place: the old table stays
    // intact on disk until the replacement is FULLY committed, so a
    // failed write (or a lost executor mid-job) cannot destroy history.
    // This also removes the localCheckpoint the in-place overwrite
    // needed — checkpoint blocks are not fault-tolerant, so that pattern
    // had an unrecoverable window (blocks lost after the source files
    // were already deleted). The residual window is two cheap renames; a
    // crash between them leaves the committed table in `.__old`, which
    // the NEXT upsert auto-restores (recoverInterruptedSwap) before
    // reading. In-process failures are handled here: a throw anywhere in
    // write-or-swap restores a staged-aside dest and removes the orphan
    // tmp dir, so the table is live again when the exception surfaces.
    val tmp = new org.apache.hadoop.fs.Path(
      path + ".__tmp-" + java.util.UUID.randomUUID().toString.take(8))
    val old = new org.apache.hadoop.fs.Path(path + ".__old")
    try {
      // REBALANCE before the rewrite (guide §6, r21 verdict #4): the
      // merged frame lands straight out of the last-wins window, so its
      // partitioning is the window's key hash AFTER the rank filter
      // dropped the superseded rows — at scale that means files at a
      // fraction of the advisory size wherever updates cluster, and a
      // skewed key leaves one oversized file. The AQE rebalance re-splits
      // oversized and coalesces undersized partitions to
      // spark.sql.adaptive.advisoryPartitionSizeInBytes right before the
      // write, so the rewritten table's files track the advisory at any
      // volume; row content is untouched (the table contract is a SET —
      // readers and the merge itself never rely on file order).
      //
      // SIZE-GATED on the committed table's ON-DISK bytes, deliberately
      // not on plan statistics: an unconditional rebalance measured
      // +0.3-0.5 s per KB-scale bench upsert (the extra exchange is pure
      // fixed cost when the whole table fits in one advisory-sized
      // file), and the optimizer's sizeInBytes estimate is unusable as a
      // gate on exactly this plan — a checkpointed input reports the
      // defaultSizeInBytes placeholder, and the join/window chain above
      // it inflates to TB-scale estimates for a MB-scale table (measured
      // 2.1 TB for 5 MB). The table's content summary is real, one cheap
      // driver-side FS call, and the dominant term of any incremental
      // rewrite. Residual: the CREATE branch (no committed table yet)
      // never rebalances — its volume is unknowable without running the
      // job — so a huge initial load lands window-partitioned once and
      // is advisory-tracked from its first merge on.
      val advisory = org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
        try spark.conf.get("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64MB")
        catch { case scala.util.control.NonFatal(_) => "64MB" })
      val tableBytes =
        try if (fs.exists(destPath)) fs.getContentSummary(destPath).getLength else 0L
        catch { case scala.util.control.NonFatal(_) => 0L }
      val toWrite =
        if (shouldRebalance(tableBytes, advisory)) merged.hint("rebalance")
        else merged
      toWrite.write.mode(SaveMode.Overwrite).parquet(tmp.toString)
      if (fs.exists(old)) fs.delete(old, true)
      val existed = fs.exists(destPath)
      if (existed)
        require(fs.rename(destPath, old), s"could not stage $path aside for swap")
      require(fs.rename(tmp, destPath),
        s"could not move committed upsert into place at $path")
      if (existed) fs.delete(old, true)
    } catch {
      case t: Throwable =>
        try {
          if (!fs.exists(destPath) && fs.exists(old)) fs.rename(old, destPath)
          if (fs.exists(tmp)) fs.delete(tmp, true)
        } catch { case cleanup: Throwable => t.addSuppressed(cleanup) }
        throw t
    }
  }

  /** Overwrite `path` with `df` as parquet and verify the landed row count
    * — the reference's source→target copy + COUNT(*) check
    * (db_utils.py:67-102). The source is counted by an `Observation` in
    * the SAME scan that writes it, so the source is read exactly once: no
    * second decode of a SQLite file, no cache, and no re-query of a live
    * JDBC store that could race concurrent writers. The landed count is
    * summed from the written files' footers ([[landedRows]]), so the copy
    * is the write job and nothing else. Returns the count. */
  def writeVerified(df: DataFrame, path: String): Long = {
    val rows = new org.apache.spark.sql.Observation()
    df.observe(rows, count(lit(1)).as("n")).write.mode(SaveMode.Overwrite).parquet(path)
    val n = rows.get("n").asInstanceOf[Long]
    val copied = landedRows(df.sparkSession, path)
    require(n == copied, s"verification failed for $path: $n != $copied")
    copied
  }

  /** Rows in the flat (unpartitioned) parquet table at `path`, summed on
    * the driver from its data files' footers: the same row-group counts a
    * Spark `count()` over the table reads, without a job. Data files are
    * the ones Spark's file index reads: names not starting with `_` or
    * `.` (so `_SUCCESS` and checksum files are skipped). */
  private[graft] def landedRows(spark: SparkSession, path: String): Long = {
    val conf = spark.sessionState.newHadoopConf()
    val dir = new org.apache.hadoop.fs.Path(path)
    dir.getFileSystem(conf).listStatus(dir)
      .filter(s => s.isFile && !s.getPath.getName.startsWith("_") && !s.getPath.getName.startsWith("."))
      .map { s =>
        val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(s, conf))
        try reader.getRecordCount finally reader.close()
      }.sum
  }

  /** Partition-scoped last-wins upsert — the scale path for incremental
    * merges. [[upsert]] is read-union-dedup-REWRITE: every batch rewrites
    * the full table, so a small daily batch against a 100 TB table costs
    * O(table) I/O. This variant prunes the merge to the hive partitions
    * (`partitionCol=value` dirs, as this method's create branch lays out)
    * that the updates batch actually touches: untouched partitions are
    * neither read nor written — merge cost is O(affected partitions),
    * which for a date-partitioned warehouse and a daily batch is O(day),
    * not O(history). The crash-safe write-then-swap contract is kept
    * PER PARTITION (backups staged in a `.__pold-*` sibling dir, never
    * inside the table dir where a partition-aware read would pick them
    * up as phantom partitions; interrupted swaps auto-heal on the next
    * call, exactly like [[recoverInterruptedSwap]]).
    *
    * Contract deltas vs [[upsert]]:
    *   - `partitionCol` must be one of `keys`: merging is scoped WITHIN a
    *     partition, so a row can never migrate partitions under merge —
    *     that is exactly the "partition value is part of the row's
    *     identity" contract (channel/date report grain). If the partition
    *     value were a mutable attribute, pruning to touched partitions
    *     could not see the old copy.
    *   - update rows must carry a non-null partition value (hive's
    *     null-partition escape dir is not supported).
    *   - partition values must ROUND-TRIP through their string dir form
    *     (dates, ints, sane strings do; strings with leading zeros that
    *     re-infer as ints do not) — the dir name IS the value's string
    *     form.
    *   - same single-writer-per-path contract as [[upsert]].
    *   - the same strict schema as [[upsert]], held table-wide: a batch
    *     whose touched partitions are all new is checked against one
    *     existing partition's schema, so a plain read (which samples one
    *     footer) never meets partitions of mixed schemas.
    *
    * A crash between a partition's two renames leaves that one partition
    * missing with its backup in `.__pold-*`; every other partition —
    * including ones already swapped this batch — stays live. The next
    * call (or a process-level retry) heals before merging. */
  def upsertPartitioned(
      updates: DataFrame,
      path: String,
      keys: Seq[String],
      partitionCol: String): Unit = {
    require(keys.contains(partitionCol),
      s"partitionCol '$partitionCol' must be part of the merge keys ${keys.mkString("(", ", ", ")")} — " +
        "partition-scoped merge treats the partition value as row identity")
    require(keys.forall(updates.columns.contains),
      s"updates must carry every merge key; missing: " +
        keys.filterNot(updates.columns.contains).mkString(", "))
    requireNoReservedColumns(updates)
    val spark = updates.sparkSession
    val destPath = new org.apache.hadoop.fs.Path(path)
    val fs = destPath.getFileSystem(spark.sessionState.newHadoopConf())
    withWriterLock(fs, path) {
      upsertPartitionedLocked(updates, path, keys, partitionCol, spark, destPath, fs)
    }
  }

  /** `private[graft]`: the fault-injection seam — like [[upsertLocked]],
    * specs drive the PARTITION-grain swap through a misbehaving
    * FilterFileSystem (rename refusals/throws inside the `.__pold-`/
    * `.__ptmp-` windows) to pin that the in-process catch restore and
    * [[recoverInterruptedPartitionSwaps]] agree on every interruption
    * point of the actual 100 TB write path. */
  private[graft] def upsertPartitionedLocked(
      updates: DataFrame,
      path: String,
      keys: Seq[String],
      partitionCol: String,
      spark: SparkSession,
      destPath: org.apache.hadoop.fs.Path,
      fs: org.apache.hadoop.fs.FileSystem): Unit = {
    recoverInterruptedPartitionSwaps(fs, path)
    // Affected partition set, as the STRING dir-value form. Driver-side
    // collect is bounded by the number of touched partitions (a daily
    // batch touches days, not rows) — same order as the rename loop below.
    val affected = updates.select(col(partitionCol).cast("string").as("__pv"))
      .distinct().collect().map(_.getString(0))
    require(!affected.contains(null),
      s"updates contain a null '$partitionCol' — null partition values are not supported")
    val pcType = updates.schema(partitionCol).dataType
    if (!fs.exists(destPath)) {
      // create: no history to protect, but the SAME write-then-swap
      // discipline as everywhere else — a direct write to the live path
      // would leave a torn table on a mid-write crash, which the next
      // call would then treat as committed history (fs.exists → merge
      // branch). Stage in .__ptmp (swept by recovery if orphaned), then
      // one rename publishes the whole table atomically.
      val createTmp = new org.apache.hadoop.fs.Path(
        path + ".__ptmp-" + java.util.UUID.randomUUID().toString.take(8))
      try {
        writeLastWinsPartitions(updates, keys, partitionCol, affected.length, createTmp)
        Option(destPath.getParent).foreach(fs.mkdirs)
        require(fs.rename(createTmp, destPath),
          s"could not publish created table at $path")
      } catch {
        case t: Throwable =>
          try { if (fs.exists(createTmp)) fs.delete(createTmp, true) }
          catch { case cleanup: Throwable => t.addSuppressed(cleanup) }
          throw t
      }
      return
    }
    // Read ONLY the affected partitions — including their DISCOVERY. A
    // `spark.read.parquet(table)` + partition filter prunes the file
    // SCAN but still lists every partition dir of the table to build the
    // file index (the r13 10× scale run measured that listing dominating the
    // one-day merge at 3 000 partitions: 10.0 s vs 3.4 s for the full
    // rewrite it was supposed to beat). Instead the affected dir paths
    // are constructed with Spark's own hive escaping (the exact function
    // the writer uses) and read directly under `basePath`, so discovery
    // touches O(affected) dirs. Partition-type INFERENCE is disabled for
    // this read: an inferred type can re-spell a value that does not
    // round-trip ("007" infers as int 7, casts back to "7", and the
    // rewrite lands under channel=7 while channel=007 stays live —
    // silent row duplication). Read as the verbatim dir string, the
    // value survives untouched; the cast to the updates' dtype below
    // restores the typed column for the merge union.
    val esc = org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.escapePathName _
    val affectedDirs = affected
      .map(v => new org.apache.hadoop.fs.Path(destPath, partitionCol + "=" + esc(v)))
      .filter(fs.exists)
    def readPartitions(dirs: Seq[org.apache.hadoop.fs.Path]): DataFrame = {
      val t = withPartitionInferenceOff(spark) { s =>
        // list the affected dirs on the driver, which has just stat-ed
        // each of them: above 32 paths Spark would otherwise list them
        // through a distributed job (0.3-0.43 s for ~45 dirs, 4 cores)
        s.conf.set("spark.sql.sources.parallelPartitionDiscovery.threshold", Int.MaxValue.toString)
        s.read.option("basePath", path).parquet(dirs.map(_.toString): _*)
      }
      require(t.columns.contains(partitionCol),
        s"existing table at $path has no partition column '$partitionCol' — " +
          "upsertPartitioned requires the hive-partitioned layout its create branch produces")
      require(keys.filterNot(_ == partitionCol).forall(t.columns.contains),
        s"existing table at $path is missing merge key(s): " +
          keys.filterNot(k => k == partitionCol || t.columns.contains(k)).mkString(", "))
      t.withColumn(partitionCol, col(partitionCol).cast(pcType))
    }
    val input =
      if (affectedDirs.nonEmpty)
        readPartitions(affectedDirs.toSeq).withColumn("__src", lit(0))
          .unionByName(updates.withColumn("__src", lit(1)))
      else {
        // every touched partition is new: hold the batch to one existing
        // partition's schema with the merge's own strict union (analysed,
        // never run), so a mismatch throws before anything is staged
        fs.listStatus(destPath)
          .find(s => s.isDirectory && s.getPath.getName.startsWith(partitionCol + "="))
          .foreach(p => readPartitions(Seq(p.getPath)).unionByName(updates))
        updates
      }
    // the staged write re-renders each partition value through Spark's
    // own dir-name formatting; handing the swap the dir names DISCOVERY
    // used makes any spelling divergence (a type whose Cast string form
    // differs from the writer's rendering — fractional-second
    // timestamps, trailing-zero decimals) fail LOUDLY before anything is
    // swapped, instead of silently leaving the old dir live as duplicates
    stageAndSwapPartitions(fs, destPath, path, keys, partitionCol, input,
      expectedDirNames = affected.map(v => partitionCol + "=" + esc(v)).toSet)
  }

  /** Partition-value TYPE inference turns dir-name strings back into
    * typed values by guessing ("007" → int 7) — the partitioned merge
    * needs the VERBATIM string instead (the dir name IS the value's
    * committed spelling), so its discovery read runs under inference-off
    * and restores the typed column itself via an explicit cast.
    *
    * The conf is SESSION-global, so flipping it on the caller's session
    * — even under a monitor — would string-type the partition columns of
    * any UNRELATED thread's partitioned read that lands inside the
    * window (the monitor only serializes warehouse callers, not the
    * whole application sharing the SparkSession). Instead the read runs
    * on a CLONED session (`newSession()`: same SparkContext, cached
    * data, and catalog; isolated SQL conf) with the parent's runtime
    * confs copied across and inference pinned off — the parent session
    * is never touched. The conf copy matters: a bare clone starts from
    * defaults, and the returned frame EXECUTES under its own session
    * later (inside the merge union), so losing e.g. the session's
    * shuffle-partition setting would silently change the merge plan.
    * Static/core confs refuse runtime mutation and are skipped — they
    * are process-wide and therefore already shared with the clone. */
  private def withPartitionInferenceOff[T](spark: SparkSession)(body: SparkSession => T): T = {
    val clone = spark.newSession()
    spark.conf.getAll.foreach { case (k, v) =>
      // ONLY the cannot-modify refusal (static SQL conf / Spark core
      // conf — AnalysisException CANNOT_MODIFY_CONFIG) may be skipped:
      // those are process-wide and already shared with the clone. Any
      // OTHER failure copying a runtime conf (timeParserPolicy, session
      // timezone, …) must surface — swallowed, the discovery read would
      // silently run under defaults, which can change partition-value
      // parsing.
      try clone.conf.set(k, v)
      catch { case _: AnalysisException => () }
    }
    clone.conf.set("spark.sql.sources.partitionColumnTypeInference.enabled", "false")
    body(clone)
  }

  /** Write [[lastWins]] of `input` hive-partitioned by `partitionCol`
    * into `dest` with ONE file per partition, in one shuffle: `input` is
    * hash-clustered on `partitionCol`, which satisfies the window (its
    * keys include `partitionCol`, so it adds no exchange of its own) and
    * puts each partition value in one write task (spread over tasks, a
    * value would get a file per task: tasks × partitions small files per
    * batch). The task count is explicit, min(`partitions`,
    * defaultParallelism): AQE coalesces a shuffle without one into a
    * single task, which then writes every partition serially (0.85-1.4 s
    * for ~60 partitions of 725 rows, 4 cores). */
  private def writeLastWinsPartitions(
      input: DataFrame, keys: Seq[String], partitionCol: String, partitions: Int,
      dest: org.apache.hadoop.fs.Path): Unit = {
    val tasks = math.max(1, math.min(partitions, input.sparkSession.sparkContext.defaultParallelism))
    lastWins(input.repartition(tasks, col(partitionCol)), keys)
      .write.partitionBy(partitionCol).mode(SaveMode.Overwrite).parquet(dest.toString)
  }

  /** The commit machinery of [[upsertPartitioned]]'s merge branch:
    * write the last-wins merge of `input` (one file per partition,
    * [[writeLastWinsPartitions]]) into a fresh
    * `.__ptmp-*` sibling, then swap each produced partition dir into the
    * live table with its predecessor staged in a `.__pold-*` backup; on
    * ANY failure, restore backups for still-missing partitions and
    * remove the staging dirs. Dir names are whatever the WRITE produced
    * (hive-escaped), so no value formatting of our own.
    * `expectedDirNames` is the dir-name set the caller's discovery used:
    * a staged dir outside it means the writer's partition-value
    * rendering diverged from the spelling discovery matched against (so
    * the old dir would survive the swap as silent duplicates) — checked
    * BEFORE any rename, failing loudly with both spellings while the
    * live table is still untouched. The reverse direction needs no
    * check: every expected dir comes from an update row, and last-wins
    * keeps exactly one row per key (the partition value among them), so
    * the write produces output for every expected dir. */
  private def stageAndSwapPartitions(
      fs: org.apache.hadoop.fs.FileSystem,
      destPath: org.apache.hadoop.fs.Path,
      path: String,
      keys: Seq[String],
      partitionCol: String,
      input: DataFrame,
      expectedDirNames: Set[String]): Unit = {
    val batchId = java.util.UUID.randomUUID().toString.take(8)
    val tmp = new org.apache.hadoop.fs.Path(path + ".__ptmp-" + batchId)
    val pold = new org.apache.hadoop.fs.Path(path + ".__pold-" + batchId)
    try {
      writeLastWinsPartitions(input, keys, partitionCol, expectedDirNames.size, tmp)
      val newParts = fs.listStatus(tmp).filter(s =>
        s.isDirectory && s.getPath.getName.startsWith(partitionCol + "="))
      val rogue = newParts.map(_.getPath.getName).toSet -- expectedDirNames
      require(rogue.isEmpty,
        s"staged write produced partition dir(s) ${rogue.mkString(", ")} outside " +
          s"the affected set ${expectedDirNames.mkString(", ")} at $path — the partition value's " +
          "string form does not round-trip through its dir-name rendering " +
          "(see upsertPartitioned's round-trip contract); aborted before swap, " +
          "live table untouched")
      fs.mkdirs(pold)
      for (np <- newParts) {
        val live = new org.apache.hadoop.fs.Path(destPath, np.getPath.getName)
        val backup = new org.apache.hadoop.fs.Path(pold, np.getPath.getName)
        if (fs.exists(live))
          require(fs.rename(live, backup),
            s"could not stage partition ${np.getPath.getName} aside for swap")
        require(fs.rename(np.getPath, live),
          s"could not move staged partition ${np.getPath.getName} into place at $path")
      }
      fs.delete(pold, true)
      fs.delete(tmp, true)
    } catch {
      case t: Throwable =>
        try restorePartitionBackups(fs, destPath, pold, deleteTmp = Some(tmp))
        catch { case cleanup: Throwable => t.addSuppressed(cleanup) }
        throw t
    }
  }

  /** Heal interrupted [[upsertPartitioned]] swaps before the table is
    * read: restore any partition whose live dir is missing from its
    * `.__pold-*` backup (crash between the two renames), then sweep
    * leftover `.__pold-*` / `.__ptmp-*` staging dirs (their remaining
    * content was either never committed or already superseded by a live
    * partition). Mirrors [[recoverInterruptedSwap]] at partition grain. */
  private def recoverInterruptedPartitionSwaps(
      fs: org.apache.hadoop.fs.FileSystem, path: String): Unit = {
    val dest = new org.apache.hadoop.fs.Path(path)
    // The backup glob is CORRECTNESS-CRITICAL and therefore LOUD: if it
    // faults and recovery silently skips, a partition left missing by a
    // crash is rebuilt from the updates batch alone, and the NEXT
    // recovery then sees live-dir-present and deletes the only backup —
    // silent history loss two calls later. A transient fault must fail
    // this write (retryable) rather than proceed on unverified state.
    // (The old IOException→skip spelling had exactly that window.)
    // Not-found is exempt ONLY when the table is verifiably absent: a
    // connector surfacing a missing PARENT dir as an exception
    // (first-ever create, parent made only later in the create branch)
    // must keep the quiet path — there is nothing to heal in a table
    // that does not exist, and loud-on-missing would fail the create
    // permanently, not retryably. But a spurious FNF while the table
    // EXISTS must stay loud, or the skipped restore reopens the
    // silent-history-loss window above; unverifiable counts as exists. A
    // faulting probe rides on the rethrown not-found as suppressed, so
    // the operator sees both the not-found AND the store error that made
    // presence unverifiable. (On a connector whose exists faults
    // DETERMINISTICALLY, a genuinely-absent table stays loud — a retry or
    // an operator look, never a skipped restore.)
    val polds = try fs.globStatus(new org.apache.hadoop.fs.Path(globEscape(path) + ".__pold-*"))
                catch {
                  case e: java.io.FileNotFoundException =>
                    val absent =
                      try !fs.exists(dest)
                      catch {
                        case scala.util.control.NonFatal(probe) =>
                          e.addSuppressed(probe)
                          false
                      }
                    if (!absent) throw e
                    null
                }
    if (polds != null) polds.foreach(p => restorePartitionBackups(fs, dest, p.getPath, deleteTmp = None))
    sweepStaleStaging(fs, new org.apache.hadoop.fs.Path(globEscape(path) + ".__ptmp-*"))
  }

  /** Best-effort removal of never-committed staging dirs matching
    * `glob` — OPTIONAL cleanup piggybacking on a write, so NonFatal is
    * swallowed at both the glob and each delete (failing the write over
    * cleanup would be backwards, and connectors wrap vanished-dir races
    * in RuntimeExceptions); leftovers are retried by every later call.
    * Shared by the table-grain and partition-grain recovery twins so
    * their error discipline cannot drift. */
  private def sweepStaleStaging(
      fs: org.apache.hadoop.fs.FileSystem,
      glob: org.apache.hadoop.fs.Path): Unit = {
    val stale = try fs.globStatus(glob)
                catch { case scala.util.control.NonFatal(_) => null }
    if (stale != null) stale.foreach(s =>
      try fs.delete(s.getPath, true)
      catch { case scala.util.control.NonFatal(_) => () })
  }

  /** Restore every backup partition in `pold` whose live counterpart
    * under `dest` is MISSING (a live counterpart means the swap completed
    * — the backup is then stale and dropped with the rest). Deletes the
    * emptied `pold` dir, and `deleteTmp` when given. */
  private def restorePartitionBackups(
      fs: org.apache.hadoop.fs.FileSystem,
      dest: org.apache.hadoop.fs.Path,
      pold: org.apache.hadoop.fs.Path,
      deleteTmp: Option[org.apache.hadoop.fs.Path]): Unit = {
    if (fs.exists(pold)) {
      for (b <- fs.listStatus(pold) if b.isDirectory) {
        val live = new org.apache.hadoop.fs.Path(dest, b.getPath.getName)
        if (!fs.exists(live))
          require(fs.rename(b.getPath, live),
            s"found interrupted partition swap at $dest (partition ${b.getPath.getName} " +
              "missing, backup present) but could not restore it — manual repair required")
      }
      fs.delete(pold, true)
    }
    deleteTmp.foreach(t => if (fs.exists(t)) fs.delete(t, true))
  }

  /** Bucketed catalog table: rows are hash-distributed into `buckets`
    * files by `keys` at write time, so equi joins and aggregations on the
    * same keys across tables bucketed alike are CO-LOCATED — Catalyst
    * plans them with zero Exchange. This is the §7.3 pre-partitioning
    * strategy for the 100 TB journey join: bucket conversions and sessions
    * by user_id once, join shuffle-free forever after.
    *
    * The pre-write `repartition(buckets, keys)` uses the SAME murmur3 hash
    * modulus as the bucketing spec, so each task owns exactly one bucket →
    * ONE file per bucket. That matters twice over: (a) without it an
    * N-partition frame writes N×buckets small files; (b) Spark only trusts
    * the `sortBy` metadata (and can skip the SMJ sort) when a bucket is a
    * single file. `location` makes the table EXTERNAL at that path —
    * callers that run outside a configured warehouse (Verify/Bench
    * sessions) pass a scratch dir instead of polluting
    * `$PWD/spark-warehouse`. */
  def writeBucketed(
      df: DataFrame,
      table: String,
      keys: Seq[String],
      buckets: Int,
      location: Option[String] = None): Unit = {
    val w = df
      .repartition(buckets, keys.map(col): _*)
      .write
      .mode(SaveMode.Overwrite)
      .format("parquet")
      .bucketBy(buckets, keys.head, keys.tail: _*)
      .sortBy(keys.head, keys.tail: _*)
    location.fold(w)(p => w.option("path", p)).saveAsTable(table)
  }
}

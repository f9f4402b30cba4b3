package graft.sources

import graft.SparkSpec
import org.apache.hadoop.fs.{FileSystem, FilterFileSystem, Path}

/** Fault-injected filesystem misbehavior against the warehouse's writer
  * lock and its crash-safe swap:
  *
  *   - the lock PAYLOAD read: a store that returns short reads, stalls on
  *     zero-length reads or serves an oversized file must leave the owned
  *     release and the refusal message judging the payload correctly;
  *   - the SWAP: a failure at any point of rename(dest→old) →
  *     rename(tmp→dest) must leave the table LIVE when the exception
  *     surfaces (in-process catch restore), and the states a process
  *     CRASH would leave behind must heal on the next writer call
  *     (recoverInterruptedSwap) — the table is never lost and never
  *     silently rebuilt from one batch.
  *
  * Injection is a FilterFileSystem over the real local FS. Note the
  * production code routes a FilterFileSystem down its marker branch
  * (isLocalFs is false for wrappers — documented in ParquetWarehouse),
  * which is exactly the branch remote stores take, so these cases
  * exercise the connector-shaped code paths. */
class LockFaultInjectionSpec extends SparkSpec {
  import spark.implicits._

  private def freshDir(tag: String): String =
    java.nio.file.Files.createTempDirectory(tag).toString + "/t"

  private def fsFor(dir: String): FileSystem =
    new Path(dir).getFileSystem(spark.sessionState.newHadoopConf())

  private def plantLock(fs: FileSystem, dir: String, payload: String): Path = {
    val lock = new Path(dir + ".__lock")
    val out = fs.create(lock, false)
    out.write(payload.getBytes("UTF-8")); out.close()
    lock
  }

  private def rows(dir: String): Set[(String, String)] =
    spark.read.parquet(dir).as[(String, String)].collect().toSet

  /** One wrapper for every stream-fault test: a FilterFileSystem whose
    * opened streams route `read(b, off, len)` through `readImpl` —
    * each new fault shape is one lambda, not twenty lines of
    * Seekable/PositionedReadable forwarding. */
  private class InterposedStream(
      in: org.apache.hadoop.fs.FSDataInputStream,
      readImpl: (org.apache.hadoop.fs.FSDataInputStream, Array[Byte], Int, Int) => Int)
    extends java.io.InputStream
    with org.apache.hadoop.fs.Seekable with org.apache.hadoop.fs.PositionedReadable {
    override def read(): Int = in.read()
    override def read(b: Array[Byte], off: Int, len: Int): Int = readImpl(in, b, off, len)
    def seek(pos: Long): Unit = in.seek(pos)
    def getPos: Long = in.getPos
    def seekToNewSource(targetPos: Long): Boolean = in.seekToNewSource(targetPos)
    def read(pos: Long, buf: Array[Byte], off: Int, len: Int): Int = in.read(pos, buf, off, len)
    def readFully(pos: Long, buf: Array[Byte], off: Int, len: Int): Unit =
      in.readFully(pos, buf, off, len)
    def readFully(pos: Long, buf: Array[Byte]): Unit = in.readFully(pos, buf)
  }

  private def readInterposingFs(fs: FileSystem)(
      readImpl: (org.apache.hadoop.fs.FSDataInputStream, Array[Byte], Int, Int) => Int): FileSystem =
    new FilterFileSystem(fs) {
      override def open(p: Path, bufferSize: Int): org.apache.hadoop.fs.FSDataInputStream =
        new org.apache.hadoop.fs.FSDataInputStream(
          new InterposedStream(super.open(p, bufferSize), readImpl))
    }

  test("readLockPayload survives a store that returns short reads (r16 ADVICE fix)") {
    // a legal 1-byte-per-read stream (remote stores may return any
    // prefix): a single read() used to truncate the payload BEFORE the
    // token, making every ownership check misjudge — e.g. a holder
    // failing to delete its own lock on release
    val dir = freshDir("graft_inj_shortread")
    val fs = fsFor(dir)
    fs.mkdirs(new Path(dir).getParent)
    val payload = ParquetWarehouse.lockPayload(
      ParquetWarehouse.lockHost, ProcessHandle.current().pid(), "tok-short")
    val lock = plantLock(fs, dir, payload)
    val shortReads = readInterposingFs(fs)((in, b, off, len) => in.read(b, off, math.min(1, len)))
    assert(ParquetWarehouse.readLockPayload(shortReads, lock) === Some(payload),
      "payload must be read to EOF, not whatever the first read() returned")
    fs.delete(lock, false)
    // and the ownership check downstream of it: an owned release DELETES
    ParquetWarehouse.withWriterLock(shortReads, dir) { assert(fs.exists(lock)) }
    assert(!fs.exists(lock), "a short-reading store must not block the owned release")
  }

  test("payload read is BOUNDED: oversized files unreadable; stalls judged by completeness (terminated = readable)") {
    val dir = freshDir("graft_inj_bounds")
    val fs = fsFor(dir)
    fs.mkdirs(new Path(dir).getParent)
    // a stray multi-MB file matching the lock name must not buffer into
    // memory unbounded, and must not come back as a garbage Some(...)
    val big = new Path(dir + ".__lock")
    val out = fs.create(big, false)
    val chunk = new Array[Byte](64 * 1024)
    java.util.Arrays.fill(chunk, 'x'.toByte)
    (0 until 4).foreach(_ => out.write(chunk))
    out.close()
    assert(ParquetWarehouse.readLockPayload(fs, big) === None,
      "an over-cap payload is UNREADABLE, routed through the corpse paths")
    fs.delete(big, false)
    // a stream that yields a payload PREFIX then stalls on zero-length
    // reads: returning Some(prefix) would drop the token and misjudge
    // every ownership check — the cap must resolve to None instead
    val payload = ParquetWarehouse.lockPayload(
      ParquetWarehouse.lockHost, ProcessHandle.current().pid(), "tok-stall")
    val lock = plantLock(fs, dir, payload)
    var servedPrefix = false
    val stalling = readInterposingFs(fs) { (in, b, off, len) =>
      if (!servedPrefix) { servedPrefix = true; in.read(b, off, math.min(10, len)) } else 0
    }
    assert(ParquetWarehouse.readLockPayload(stalling, lock) === None,
      "a zero-read-stalled stream must judge unreadable, never a truncated Some")
    // but a connector that signals EOF with 0 AFTER delivering the whole
    // newline-terminated payload must still judge readable — discarding
    // it would blind the live holder's owned release on exactly those
    // stores
    var servedAll = false
    val eofAsZero = readInterposingFs(fs) { (in, b, off, len) =>
      if (!servedAll) { servedAll = true; in.read(b, off, len) } else 0
    }
    assert(ParquetWarehouse.readLockPayload(eofAsZero, lock) === Some(payload),
      "a complete (newline-terminated) payload followed by an EOF-as-0 stall is READABLE")
    fs.delete(lock, false)
  }

  test("swap failure AT the first rename (dest→old refused) surfaces with the table untouched") {
    val dir = freshDir("graft_inj_swap1")
    ParquetWarehouse.upsert(Seq(("c1", "a")).toDF("conv_id", "v"), dir, Seq("conv_id"))
    val fs = fsFor(dir)
    val destPath = new Path(dir)
    val stageAsideRefuses = new FilterFileSystem(fs) {
      override def rename(src: Path, dst: Path): Boolean =
        if (dst.getName.endsWith(".__old")) false else super.rename(src, dst)
    }
    val e = intercept[IllegalArgumentException] {
      ParquetWarehouse.upsertLocked(
        Seq(("c2", "b")).toDF("conv_id", "v"), dir, Seq("conv_id"),
        spark, destPath, stageAsideRefuses)
    }
    assert(e.getMessage.contains("stage"), s"got: ${e.getMessage}")
    assert(rows(dir) === Set(("c1", "a")), "the live table must be untouched")
    assert(fs.globStatus(new Path(dir + ".__tmp-*")).isEmpty,
      "the orphan staging dir must be cleaned by the catch restore")
    // and the path still merges fine afterwards
    ParquetWarehouse.upsert(Seq(("c2", "b")).toDF("conv_id", "v"), dir, Seq("conv_id"))
    assert(rows(dir) === Set(("c1", "a"), ("c2", "b")))
  }

  test("swap failure BETWEEN the two renames (tmp→dest throws) restores dest from .__old in-process") {
    val dir = freshDir("graft_inj_swap2")
    ParquetWarehouse.upsert(Seq(("c1", "a")).toDF("conv_id", "v"), dir, Seq("conv_id"))
    val fs = fsFor(dir)
    val destPath = new Path(dir)
    // dest→old succeeds; tmp→dest throws: the exact between-the-renames
    // window — dest is MISSING when the failure hits, and the catch must
    // put the committed history back before rethrowing
    val secondRenameThrows = new FilterFileSystem(fs) {
      override def rename(src: Path, dst: Path): Boolean =
        if (src.getName.contains(".__tmp-") && dst == destPath)
          throw new java.io.IOException("injected: failed between the two renames")
        else super.rename(src, dst)
    }
    val e = intercept[java.io.IOException] {
      ParquetWarehouse.upsertLocked(
        Seq(("c2", "b")).toDF("conv_id", "v"), dir, Seq("conv_id"),
        spark, destPath, secondRenameThrows)
    }
    assert(e.getMessage.contains("injected"))
    assert(fs.exists(destPath), "the catch must restore dest from .__old before rethrowing")
    assert(rows(dir) === Set(("c1", "a")), "restored table must be the committed history")
    assert(fs.globStatus(new Path(dir + ".__tmp-*")).isEmpty)
    assert(!fs.exists(new Path(dir + ".__old")), "the consumed backup must not linger")
    ParquetWarehouse.upsert(Seq(("c2", "b")).toDF("conv_id", "v"), dir, Seq("conv_id"))
    assert(rows(dir) === Set(("c1", "a"), ("c2", "b")))
  }

  test("swap failure between the renames where the in-process restore ALSO fails heals on the next call") {
    val dir = freshDir("graft_inj_swap3")
    ParquetWarehouse.upsert(Seq(("c1", "a")).toDF("conv_id", "v"), dir, Seq("conv_id"))
    val fs = fsFor(dir)
    val destPath = new Path(dir)
    // the process-crash analogue, driven through the SAME injected FS: the
    // second rename throws AND the catch's old→dest restore refuses, so the
    // call exits with dest missing and history in .__old — exactly what a
    // kill -9 between the renames leaves. recoverInterruptedSwap on the
    // NEXT writer call must restore it before reading.
    val wedged = new FilterFileSystem(fs) {
      override def rename(src: Path, dst: Path): Boolean =
        if (src.getName.contains(".__tmp-") && dst == destPath)
          throw new java.io.IOException("injected: failed between the two renames")
        else if (src.getName.endsWith(".__old") && dst == destPath) false
        else super.rename(src, dst)
    }
    val e = intercept[java.io.IOException] {
      ParquetWarehouse.upsertLocked(
        Seq(("c2", "b")).toDF("conv_id", "v"), dir, Seq("conv_id"),
        spark, destPath, wedged)
    }
    assert(e.getMessage.contains("injected"))
    assert(!fs.exists(destPath) && fs.exists(new Path(dir + ".__old")),
      "fixture: table missing, backup present — the crash window state")
    // next ordinary upsert heals first (recoverInterruptedSwap), then merges
    ParquetWarehouse.upsert(Seq(("c3", "c")).toDF("conv_id", "v"), dir, Seq("conv_id"))
    assert(rows(dir) === Set(("c1", "a"), ("c3", "c")),
      "history restored from .__old, then merged — never rebuilt from one batch")
    assert(!fs.exists(new Path(dir + ".__old")))
  }
}

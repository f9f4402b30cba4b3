package graft.sources

import graft.SparkSpec
import org.apache.hadoop.fs.{FileSystem, FilterFileSystem, Path}

/** Fault-injected filesystem misbehavior against the warehouse's two
  * crash-safety mechanisms (r16, closing the r15 verdict's directive 2):
  *
  *   - the TAKEOVER: a retire whose rename/link refuses must leave the
  *     race refused loudly with the corpse intact — never a second
  *     acquirer, never a half-retired state a later writer can't heal;
  *   - the SWAP: a failure at any point of rename(dest→old) →
  *     rename(tmp→dest) must leave the table LIVE when the exception
  *     surfaces (in-process catch restore), and the states a process
  *     CRASH would leave behind must heal on the next writer call
  *     (recoverInterruptedSwap) — the table is never lost and never
  *     silently rebuilt from one batch.
  *
  * Injection is a FilterFileSystem over the real local FS. Note the
  * production code routes a FilterFileSystem down its Hadoop-API branch
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

  private def deadPid(): Long = {
    val p = new ProcessBuilder("true").start()
    p.waitFor()
    assert(java.lang.ProcessHandle.of(p.pid()).isEmpty, "fixture pid must be dead")
    p.pid()
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
    // and the ownership check downstream of it: an owned release DELETES
    assert(ParquetWarehouse.refreshLockIfOwned(shortReads, lock, "tok-short"))
    fs.delete(lock, false)
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
    // it would blind the live holder's heartbeat and owned release on
    // exactly those stores
    var servedAll = false
    val eofAsZero = readInterposingFs(fs) { (in, b, off, len) =>
      if (!servedAll) { servedAll = true; in.read(b, off, len) } else 0
    }
    assert(ParquetWarehouse.readLockPayload(eofAsZero, lock) === Some(payload),
      "a complete (newline-terminated) payload followed by an EOF-as-0 stall is READABLE")
    fs.delete(lock, false)
  }

  test("heartbeat on a no-op-setTimes store with a flaky re-stat FORCES the payload-ts rewrite after consecutive assumed beats (r17 ADVICE fix)") {
    // the drift scenario: setTimes silently no-ops (object-store shim)
    // AND the verifying re-stat throws on every beat — each beat then
    // "assumes refreshed" and skips the rewrite, so neither mtime nor
    // payload ts ever advances and a live lock ages toward the stale
    // horizon while the beat reports success. After
    // ForceRewriteAfterAssumedBeats consecutive assumed beats the
    // fallback rewrite must run (with its ownership guards), advancing
    // the payload ts.
    val dir = freshDir("graft_inj_hbdrift")
    val fs = fsFor(dir)
    fs.mkdirs(new Path(dir).getParent)
    val plantedTs = System.currentTimeMillis() - 1000L
    val lock = plantLock(fs, dir, ParquetWarehouse.lockPayload(
      ParquetWarehouse.lockHost, ProcessHandle.current().pid(), "tok-drift", plantedTs))
    val statCalls = new java.util.concurrent.atomic.AtomicInteger(0)
    val noopTimesFlakyStat = new FilterFileSystem(fs) {
      override def setTimes(p: Path, mtime: Long, atime: Long): Unit = () // silent no-op store
      override def getFileStatus(p: Path): org.apache.hadoop.fs.FileStatus =
        // each beat stats twice (before/after); fail the VERIFYING one
        if (p.getName.endsWith(".__lock") && statCalls.incrementAndGet() % 2 == 0)
          throw new java.io.IOException("injected: flaky verifying re-stat")
        else super.getFileStatus(p)
    }
    def payloadTs(): Long = ParquetWarehouse.parseKv(
      ParquetWarehouse.readLockPayload(fs, lock).get)("ts").toLong
    val assumed = new java.util.concurrent.atomic.AtomicInteger(0)
    // beat 1: one-off hiccup — assume refreshed, no rewrite (the
    // non-atomic fallback must not open its unlink window needlessly)
    assert(ParquetWarehouse.refreshLockIfOwned(
      noopTimesFlakyStat, lock, "tok-drift", () => true, assumed))
    assert(payloadTs() === plantedTs, "a single assumed beat must not rewrite")
    // beat 2: second consecutive assumed beat — the rewrite is FORCED
    assert(ParquetWarehouse.refreshLockIfOwned(
      noopTimesFlakyStat, lock, "tok-drift", () => true, assumed))
    assert(payloadTs() > plantedTs,
      "consecutive assumed beats must force the payload-ts rewrite — " +
        "otherwise a live lock drifts to the stale horizon reporting success")
    assert(ParquetWarehouse.readLockPayload(fs, lock).get.contains("token=tok-drift"),
      "the forced rewrite preserves the holder's token")
    // and the revoked-ownership guard still vetoes a forced rewrite
    val tsAfterForce = payloadTs()
    val assumed2 = new java.util.concurrent.atomic.AtomicInteger(0)
    (1 to 2).foreach { _ =>
      ParquetWarehouse.refreshLockIfOwned(
        noopTimesFlakyStat, lock, "tok-drift", () => false, assumed2)
    }
    assert(payloadTs() === tsAfterForce,
      "a revoked holder (release in progress) must not force-rewrite — resurrection")

    // the BEFORE-stat variant (r17 review): a store failing EVERY stat —
    // the first of the beat, not just the verifying one — used to return
    // false via the outer catch without ever engaging the counter,
    // drifting identically with no remedy. Both positions must count,
    // and in BOTH exception classes a connector picks (IOException, or
    // the RuntimeException Shell-wrap shape a lock soak surfaced —
    // an escaping RTE lands in the heartbeat's silent NonFatal catch
    // without counting, which is the same drift one class over).
    for ((shape, mk) <- Seq(
        "IOException" -> ((m: String) => new java.io.IOException(m): Throwable),
        "RuntimeException" -> ((m: String) => new RuntimeException(m): Throwable))) {
      val everyStatFails = new FilterFileSystem(fs) {
        override def setTimes(p: Path, mtime: Long, atime: Long): Unit = ()
        override def getFileStatus(p: Path): org.apache.hadoop.fs.FileStatus =
          if (p.getName.endsWith(".__lock")) throw mk("injected: every stat fails")
          else super.getFileStatus(p)
      }
      val tsBefore = payloadTs()
      val assumed3 = new java.util.concurrent.atomic.AtomicInteger(0)
      assert(ParquetWarehouse.refreshLockIfOwned(
        everyStatFails, lock, "tok-drift", () => true, assumed3), shape)
      assert(payloadTs() === tsBefore, s"first blind beat: assume, no rewrite ($shape)")
      assert(ParquetWarehouse.refreshLockIfOwned(
        everyStatFails, lock, "tok-drift", () => true, assumed3), shape)
      assert(payloadTs() > tsBefore,
        s"a store failing the FIRST stat of every beat must also hit the forced " +
          s"rewrite after the streak — drift is position- and class-independent ($shape)")
    }

    // the THROWING-setTimes variant (r17 review, second pass): stats
    // succeed but setTimes THROWS rather than silently no-opping — the
    // unwrapped call used to abort the beat via the outer catch without
    // counting. Swallowed, the verifying re-stat sees the stuck mtime
    // and the ORDINARY fallback rewrite remedies it (no counter needed).
    val staleEnough = ParquetWarehouse.heartbeatIntervalMs / 2 + 60000
    fs.setTimes(lock, System.currentTimeMillis() - staleEnough, -1)
    val setTimesThrows = new FilterFileSystem(fs) {
      override def setTimes(p: Path, mtime: Long, atime: Long): Unit =
        if (p.getName.endsWith(".__lock"))
          throw new java.io.IOException("injected: setTimes blew up")
        else super.setTimes(p, mtime, atime)
    }
    val tsBeforeThrow = payloadTs()
    assert(ParquetWarehouse.refreshLockIfOwned(setTimesThrows, lock, "tok-drift"))
    assert(payloadTs() > tsBeforeThrow,
      "a throwing setTimes with a stuck mtime must route through the ordinary " +
        "fallback rewrite on the very first beat, not abort uncounted")

    // and the remedy path itself failing transiently (create throws on
    // the stuck-mtime fallback) must return TRUE — ownership was
    // confirmed; false is the documented "lock vanished" signal and a
    // quota/permission hiccup is not that (r17 review, third pass)
    fs.setTimes(lock, System.currentTimeMillis() - staleEnough, -1)
    val rewriteThrows = new FilterFileSystem(fs) {
      override def setTimes(p: Path, mtime: Long, atime: Long): Unit = ()
      override def create(p: Path, overwrite: Boolean): org.apache.hadoop.fs.FSDataOutputStream =
        if (p.getName.endsWith(".__lock") && overwrite)
          throw new java.io.IOException("injected: rewrite create failed")
        else super.create(p, overwrite)
    }
    assert(ParquetWarehouse.refreshLockIfOwned(rewriteThrows, lock, "tok-drift"),
      "a transient rewrite fault on a confirmed-ownership beat must not " +
        "masquerade as the lock-vanished (false) signal")
    fs.delete(lock, false)
  }

  test("contended takeover whose tombstone pre-sweep THROWS a RuntimeException still acquires (best-effort sweep)") {
    // sweepAgedTombstones' contract: a sweep failure never fails the
    // write it piggybacks on — including the connector-wrapped
    // RuntimeException shape (glob racing another writer reaping the same
    // aged tomb). Before the r17 third review pass, only IOException was
    // tolerated and the RTE failed the whole upsert.
    val dir = freshDir("graft_inj_tombsweep")
    ParquetWarehouse.upsert(Seq(("c1", "a")).toDF("conv_id", "v"), dir, Seq("conv_id"))
    val fs = fsFor(dir)
    plantLock(fs, dir, ParquetWarehouse.lockPayload(
      ParquetWarehouse.lockHost, deadPid(), "tok-dead-sweep"))
    val globThrows = new FilterFileSystem(fs) {
      override def globStatus(p: Path): Array[org.apache.hadoop.fs.FileStatus] =
        if (p.toString.contains(".__tomb-"))
          throw new RuntimeException("injected: glob blew up mid-sweep")
        else super.globStatus(p)
    }
    ParquetWarehouse.withWriterLock(globThrows, dir) { /* acquired */ }
    assert(!fs.exists(new Path(dir + ".__lock")),
      "takeover + owned release must complete despite the throwing pre-sweep")
  }

  test("takeover whose retire rename refuses is refused loudly; the corpse stays; a clean retry heals") {
    val dir = freshDir("graft_inj_retire")
    ParquetWarehouse.upsert(Seq(("c1", "a")).toDF("conv_id", "v"), dir, Seq("conv_id"))
    val fs = fsFor(dir)
    val lock = plantLock(fs, dir, ParquetWarehouse.lockPayload(
      ParquetWarehouse.lockHost, deadPid(), "tok-dead"))
    // a store whose rename refuses mid-takeover (returns false — the
    // Hadoop contract for "didn't happen", e.g. a transient remote error)
    val renameRefuses = new FilterFileSystem(fs) {
      override def rename(src: Path, dst: Path): Boolean =
        if (dst.getName.contains(".__tomb-")) false else super.rename(src, dst)
    }
    val e = intercept[IllegalArgumentException] {
      ParquetWarehouse.withWriterLock(renameRefuses, dir) { fail("must not acquire") }
    }
    assert(e.getMessage.contains("lock"), "a failed retire must read as HELD, loudly")
    assert(fs.exists(lock), "the corpse must be left intact for the next attempt")
    assert(fs.globStatus(new Path(dir + ".__lock.__tomb-*")).isEmpty,
      "a refused rename must not leave a tombstone (nothing was retired)")
    // next writer on a healthy FS takes over normally — nothing was wedged
    ParquetWarehouse.upsert(Seq(("c2", "b")).toDF("conv_id", "v"), dir, Seq("conv_id"))
    assert(rows(dir) === Set(("c1", "a"), ("c2", "b")))
    assert(!fs.exists(lock), "the retrying writer must have released cleanly")
  }

  test("takeover whose retire THROWS is refused loudly and heals on retry") {
    val dir = freshDir("graft_inj_retire_throw")
    ParquetWarehouse.upsert(Seq(("c1", "a")).toDF("conv_id", "v"), dir, Seq("conv_id"))
    val fs = fsFor(dir)
    val lock = plantLock(fs, dir, ParquetWarehouse.lockPayload(
      ParquetWarehouse.lockHost, deadPid(), "tok-dead2"))
    val renameThrows = new FilterFileSystem(fs) {
      override def rename(src: Path, dst: Path): Boolean =
        if (dst.getName.contains(".__tomb-"))
          throw new java.io.IOException("injected: rename blew up mid-takeover")
        else super.rename(src, dst)
    }
    val e = intercept[IllegalArgumentException] {
      ParquetWarehouse.withWriterLock(renameThrows, dir) { fail("must not acquire") }
    }
    assert(e.getMessage.contains("lock"))
    assert(fs.exists(lock))
    ParquetWarehouse.upsert(Seq(("c2", "b")).toDF("conv_id", "v"), dir, Seq("conv_id"))
    assert(rows(dir) === Set(("c1", "a"), ("c2", "b")))
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
        evolveSchema = false, spark, destPath, stageAsideRefuses)
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
        evolveSchema = false, spark, destPath, secondRenameThrows)
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
        evolveSchema = false, spark, destPath, wedged)
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

  test("heartbeat ENTRY read faulting is counted drift too: setTimes attempted, assumed beat counted, rewrite on recovery (r18, closing the r17 ADVICE)") {
    // The r17 remedy counted assumed beats only AFTER a successful entry
    // read — a store whose open() itself wraps faults (the same
    // Shell-RTE shape the stat positions tolerate) mapped the fault to
    // "not ours, return false": no count, no setTimes, and a live lock
    // drifted to the horizon one FS call earlier than the fixed drift.
    // Ownership-UNKNOWN (unreadable) must behave like the other assumed
    // positions; ownership-ANSWERED (readably not ours / verifiably
    // missing) must still stop the beat uncounted.
    val dir = freshDir("graft_inj_entryfault")
    val fs = fsFor(dir)
    fs.mkdirs(new Path(dir).getParent)
    val plantedTs = System.currentTimeMillis() - 1000L
    val lock = plantLock(fs, dir, ParquetWarehouse.lockPayload(
      ParquetWarehouse.lockHost, ProcessHandle.current().pid(), "tok-entry", plantedTs))
    fs.setTimes(lock, plantedTs, -1)
    def payloadTs(): Long = ParquetWarehouse.parseKv(
      ParquetWarehouse.readLockPayload(fs, lock).get)("ts").toLong

    // (a) open faults, setTimes WORKS: the beat reports assumed-live
    // (true, keeps beating) and the mtime ADVANCES — with the r17 gate
    // neither happened
    val openAlwaysFaults = new FilterFileSystem(fs) {
      override def open(p: Path, bufferSize: Int): org.apache.hadoop.fs.FSDataInputStream =
        if (p.getName.endsWith(".__lock"))
          throw new RuntimeException("injected: payload open wrapped by the store")
        else super.open(p, bufferSize)
    }
    val assumedA = new java.util.concurrent.atomic.AtomicInteger(0)
    val mtBefore = fs.getFileStatus(lock).getModificationTime
    assert(ParquetWarehouse.refreshLockIfOwned(
      openAlwaysFaults, lock, "tok-entry", () => true, assumedA),
      "unreadable entry is ownership-UNKNOWN — keep beating, not the lock-vanished false")
    assert(fs.getFileStatus(lock).getModificationTime > mtBefore,
      "setTimes is attempted on an unreadable entry (a faulting open does not " +
        "imply a faulting utime) — the liveness signal advances where r17 drifted")
    assert(assumedA.get === 1, "the unreadable entry counts an assumed beat")

    // (b) open faults twice then RECOVERS, setTimes a silent no-op and
    // every stat failing: the entry faults must accumulate the streak so
    // the FORCED rewrite (gated on a read that confirms our token) fires
    // as soon as the read recovers — advancing the payload ts
    fs.setTimes(lock, plantedTs, -1)
    val opens = new java.util.concurrent.atomic.AtomicInteger(0)
    val recoversAfterTwo = new FilterFileSystem(fs) {
      override def setTimes(p: Path, mtime: Long, atime: Long): Unit = ()
      override def getFileStatus(p: Path): org.apache.hadoop.fs.FileStatus =
        if (p.getName.endsWith(".__lock"))
          throw new java.io.IOException("injected: stats fail throughout")
        else super.getFileStatus(p)
      override def open(p: Path, bufferSize: Int): org.apache.hadoop.fs.FSDataInputStream =
        if (p.getName.endsWith(".__lock") && opens.incrementAndGet() <= 2)
          throw new RuntimeException("injected: open faults, then recovers")
        else super.open(p, bufferSize)
    }
    val assumedB = new java.util.concurrent.atomic.AtomicInteger(0)
    assert(ParquetWarehouse.refreshLockIfOwned(
      recoversAfterTwo, lock, "tok-entry", () => true, assumedB))
    assert(payloadTs() === plantedTs, "first blind beat: assume, no rewrite")
    assert(ParquetWarehouse.refreshLockIfOwned(
      recoversAfterTwo, lock, "tok-entry", () => true, assumedB))
    assert(payloadTs() > plantedTs,
      "entry faults count toward the streak — the forced rewrite fires the " +
        "moment its confirming read recovers, instead of restarting the window")
    assert(ParquetWarehouse.readLockPayload(fs, lock).get.contains("token=tok-entry"),
      "the forced rewrite preserves the holder's token")

    // (c) ownership ANSWERED stays uncounted: a readable payload carrying
    // a successor's token stops the beat (false) without touching the
    // lock or the counter...
    val successorTs = System.currentTimeMillis()
    val out = fs.create(lock, true)
    out.write(ParquetWarehouse.lockPayload("other-host", 1L, "tok-successor", successorTs)
      .getBytes("UTF-8")); out.close()
    val assumedC = new java.util.concurrent.atomic.AtomicInteger(1)
    assert(!ParquetWarehouse.refreshLockIfOwned(fs, lock, "tok-entry", () => true, assumedC))
    assert(assumedC.get === 1, "a readably-not-ours payload is an answer, not a fault")
    assert(ParquetWarehouse.readLockPayload(fs, lock).get.contains("token=tok-successor"),
      "the successor's lock is untouched")
    // ...and so does a verifiably MISSING lock
    fs.delete(lock, false)
    assert(!ParquetWarehouse.refreshLockIfOwned(fs, lock, "tok-entry", () => true, assumedC))
    assert(assumedC.get === 1)
    assert(!fs.exists(lock), "a vanished lock is never resurrected by the entry path")
  }
}

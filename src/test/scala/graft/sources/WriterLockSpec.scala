package graft.sources

import java.util.concurrent.{CountDownLatch, CyclicBarrier}
import java.util.concurrent.atomic.AtomicInteger

import graft.SparkSpec

/** The writer lock's takeover/heartbeat machinery (r15 rework).
  *
  * The headline property is the one the old delete-then-create spelling
  * could not give: N writers racing the SAME fabricated dead lock admit
  * EXACTLY ONE acquirer (takeover is an atomic rename to a payload-derived
  * tombstone; creation stays behind the create-no-overwrite gate). The
  * rest pins the liveness signals that keep a LIVE holder safe: the
  * heartbeat that re-youngs the lock's mtime during long merges, the
  * payload-ts veto on age-breaks where `setTimes` is a no-op, and the
  * pre-rename payload re-read that stops a stale observation from tearing
  * down a successor's fresh lock. */
class WriterLockSpec extends SparkSpec {
  import spark.implicits._

  private def freshDir(tag: String): String =
    java.nio.file.Files.createTempDirectory(tag).toString + "/t"

  private def fsFor(dir: String) =
    new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())

  private def plantLock(dir: String, payload: String): org.apache.hadoop.fs.Path = {
    val fs = fsFor(dir)
    val lock = new org.apache.hadoop.fs.Path(dir + ".__lock")
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

  private def tombs(dir: String): Array[org.apache.hadoop.fs.FileStatus] = {
    val fs = fsFor(dir)
    Option(fs.globStatus(new org.apache.hadoop.fs.Path(dir + ".__lock.__tomb-*")))
      .getOrElse(Array.empty)
  }

  test("N writers racing one fabricated dead lock admit exactly one acquirer") {
    val dir = freshDir("graft_lock_race")
    val fs = fsFor(dir)
    fs.mkdirs(new org.apache.hadoop.fs.Path(dir).getParent)
    plantLock(dir, ParquetWarehouse.lockPayload(
      ParquetWarehouse.lockHost, deadPid(), "crashed-token"))
    val n = 8
    val barrier = new CyclicBarrier(n)
    val acquired = new AtomicInteger(0)
    val refused = new AtomicInteger(0)
    // the winner holds until every loser has been REFUSED, so no racer
    // can arrive after a release and acquire legitimately (that would be
    // sequential writers, not the race under test); if the takeover ever
    // admitted two winners, n-1 refusals never arrive and the await
    // times out — and the count assertion below fails, as it should
    val losersDone = new CountDownLatch(n - 1)
    val unexpected = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    val threads = (1 to n).map { i =>
      new Thread(() => {
        barrier.await()
        try ParquetWarehouse.withWriterLock(fs, dir) {
          acquired.incrementAndGet()
          losersDone.await(20, java.util.concurrent.TimeUnit.SECONDS)
        } catch {
          case e: IllegalArgumentException if e.getMessage.contains("lock") =>
            refused.incrementAndGet()
            losersDone.countDown()
          case t: Throwable =>
            unexpected.add(t)
            losersDone.countDown()
        }
      }, s"lock-racer-$i")
    }
    threads.foreach(_.start())
    threads.foreach(_.join(30000))
    assert(unexpected.isEmpty, s"unexpected failures: ${unexpected}")
    assert(acquired.get() === 1, "exactly one racer may take over a dead lock")
    assert(refused.get() === n - 1, "every other racer must be refused loudly")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(dir + ".__lock")),
      "the winner must have released on completion")
    assert(tombs(dir).length === 1,
      "the takeover leaves exactly one tombstone (kept until aged, so a " +
        "straggler's late rename cannot silently land)")
  }

  test("heartbeat refreshes only the holder's own lock, and runs during a write") {
    val dir = freshDir("graft_lock_hb")
    val fs = fsFor(dir)
    fs.mkdirs(new org.apache.hadoop.fs.Path(dir).getParent)
    val lock = plantLock(dir, ParquetWarehouse.lockPayload(
      ParquetWarehouse.lockHost, ProcessHandle.current().pid(), "tok-A"))
    val before = System.currentTimeMillis() - 10 * 60 * 1000
    fs.setTimes(lock, before, -1)
    // a FOREIGN token must not touch the lock: a holder whose lock was
    // broken and replaced must never keep the successor's lock young
    assert(!ParquetWarehouse.refreshLockIfOwned(fs, lock, "tok-B"))
    assert(fs.getFileStatus(lock).getModificationTime === before)
    assert(ParquetWarehouse.refreshLockIfOwned(fs, lock, "tok-A"))
    assert(fs.getFileStatus(lock).getModificationTime > before,
      "an owned refresh bumps the mtime the age-break judges")
    fs.delete(lock, false)
    // integration: while a writer's body runs, its heartbeat daemon is
    // alive; once the writer returns, it is gone (interrupt + join)
    def heartbeats(): Set[Thread] = {
      val all = new Array[Thread](Thread.activeCount() + 16)
      Thread.enumerate(all)
      all.filter(t => t != null && t.getName.startsWith("graft-lock-heartbeat-")).toSet
    }
    var seen = Set.empty[Thread]
    ParquetWarehouse.withWriterLock(fs, dir) { seen = heartbeats() }
    assert(seen.nonEmpty, "a heartbeat thread must run while the body does")
    seen.foreach(_.join(10000))
    assert(seen.forall(!_.isAlive), "the heartbeat must stop with the writer")
  }

  test("a writer whose heartbeat cannot prove liveness ABORTS its hold loudly before the horizon (r18 verdict #4)") {
    val dir = freshDir("graft_lock_abort")
    val fs = fsFor(dir)
    fs.mkdirs(new org.apache.hadoop.fs.Path(dir).getParent)
    val lockPath = new org.apache.hadoop.fs.Path(dir + ".__lock")
    // the all-faulting store that used to be the documented drift
    // residual: every liveness channel dead AT ONCE — stats fault,
    // payload opens fault, setTimes silently no-ops, overwrite-creates
    // fault. No beat can advance or verify a signal, so the lock drifts
    // toward the stale horizon where a contending writer legitimately
    // breaks it out from under the still-running write. The remedy under test:
    // after AbortHoldAfterUnprovenBeats consecutive unproven beats the
    // heartbeat revokes the hold and the write FAILS LOUDLY instead.
    val sick = new org.apache.hadoop.fs.FilterFileSystem(fs) {
      override def getFileStatus(p: org.apache.hadoop.fs.Path): org.apache.hadoop.fs.FileStatus =
        if (p == lockPath) throw new java.io.IOException("injected: stat down")
        else super.getFileStatus(p)
      override def open(p: org.apache.hadoop.fs.Path, bufferSize: Int): org.apache.hadoop.fs.FSDataInputStream =
        if (p == lockPath) throw new java.io.IOException("injected: open down")
        else super.open(p, bufferSize)
      override def setTimes(p: org.apache.hadoop.fs.Path, m: Long, a: Long): Unit =
        if (p == lockPath) () else super.setTimes(p, m, a)
      override def create(p: org.apache.hadoop.fs.Path, overwrite: Boolean): org.apache.hadoop.fs.FSDataOutputStream =
        if (p == lockPath && overwrite) throw new java.io.IOException("injected: create down")
        else super.create(p, overwrite)
    }
    val bodyFinished = new java.util.concurrent.atomic.AtomicBoolean(false)
    val e = intercept[IllegalStateException] {
      // beatMs is the test seam: production beats every 10 min (abort
      // after ~30 min, half the 60-min horizon); here every 50 ms
      ParquetWarehouse.withWriterLock(sick, dir, beatMs = 50) {
        try { Thread.sleep(30000); bodyFinished.set(true) }
        catch { case _: InterruptedException => () } // the abort's interrupt
        "unreachable result"
      }
    }
    assert(e.getMessage.contains("abort") && e.getMessage.contains(dir),
      s"the failure names the abort and the table: ${e.getMessage}")
    assert(!bodyFinished.get(),
      "the in-flight body is interrupted — the write must not complete under an unprovable hold")
    assert(!Thread.currentThread().isInterrupted,
      "the abort's interrupt must not leak to the caller as thread state")
    // the aborted hold CANNOT confirm-delete its own lock (the release's
    // ownership read faults on this store) — the lock is left for pid-
    // death/age healing, which is why a SECOND writer on the same path
    // is still refused while this process lives
    assert(fs.exists(lockPath),
      "an aborted hold leaves its lock for the ordinary healing paths")
    // a healthy store at the same cadence never aborts: beats verify.
    // Fresh path — the aborted lock above legitimately refuses this pid.
    val dir2 = freshDir("graft_lock_abort_ok")
    fs.mkdirs(new org.apache.hadoop.fs.Path(dir2).getParent)
    val ok = ParquetWarehouse.withWriterLock(fs, dir2, beatMs = 50) {
      Thread.sleep(500); "done"
    }
    assert(ok === "done", "fast beats on a healthy store are verified beats — no abort")
  }

  test("a writer whose ownership is CONFIRMED lost aborts immediately — gone lock and foreign token alike (r19 ADVICE)") {
    // Unlike the unproven-drift abort above (a store so broken nothing
    // can be verified), these are stores that ANSWER: the lock is
    // verifiably gone (manual unlock, cross-host clock-skew reap), or
    // verifiably carries a successor's token. A writer with that answer
    // is writing WITHOUT exclusivity — the heartbeat must not wait out
    // the unproven window; it aborts on the first answered beat.
    val dir = freshDir("graft_lock_loss_gone")
    val fs = fsFor(dir)
    fs.mkdirs(new org.apache.hadoop.fs.Path(dir).getParent)
    val lockPath = new org.apache.hadoop.fs.Path(dir + ".__lock")
    val bodyFinished = new java.util.concurrent.atomic.AtomicBoolean(false)
    val e = intercept[IllegalStateException] {
      ParquetWarehouse.withWriterLock(fs, dir, beatMs = 50) {
        // an operator deletes the lock out from under the live writer
        fs.delete(lockPath, false)
        try { Thread.sleep(30000); bodyFinished.set(true) }
        catch { case _: InterruptedException => () }
        "unreachable result"
      }
    }
    assert(e.getMessage.contains("aborted") && e.getMessage.contains(dir),
      s"the failure names the abort and the table: ${e.getMessage}")
    assert(e.getMessage.contains("CONFIRMED ownership loss"),
      s"the message distinguishes confirmed loss from unproven drift: ${e.getMessage}")
    assert(!bodyFinished.get(),
      "the in-flight body is interrupted — no write may complete unlocked")
    assert(!Thread.currentThread().isInterrupted,
      "the abort's interrupt must not leak to the caller as thread state")

    // foreign-token variant: a writer broke the lock and a successor
    // staked its own — the aborted writer's release must leave the
    // successor's lock untouched (owned release discipline)
    val dir2 = freshDir("graft_lock_loss_taken")
    fs.mkdirs(new org.apache.hadoop.fs.Path(dir2).getParent)
    val lock2 = new org.apache.hadoop.fs.Path(dir2 + ".__lock")
    val e2 = intercept[IllegalStateException] {
      ParquetWarehouse.withWriterLock(fs, dir2, beatMs = 50) {
        val out = fs.create(lock2, /* overwrite = */ true)
        out.write(ParquetWarehouse.lockPayload("successor-host", 1L, "tok-successor")
          .getBytes("UTF-8"))
        out.close()
        try Thread.sleep(30000) catch { case _: InterruptedException => () }
        "unreachable result"
      }
    }
    assert(e2.getMessage.contains("CONFIRMED ownership loss"),
      s"a readably-foreign payload is the same answered loss: ${e2.getMessage}")
    assert(ParquetWarehouse.readLockPayload(fs, lock2).exists(_.contains("token=tok-successor")),
      "the aborted writer's release never deletes the successor's lock")
    fs.delete(lock2, false)
  }

  test("age-break is vetoed by a recent payload ts even when the mtime is old") {
    val dir = freshDir("graft_lock_ts")
    ParquetWarehouse.upsert(Seq(("c1", "a")).toDF("conv_id", "v"), dir, Seq("conv_id"))
    val fs = fsFor(dir)
    // a cross-host holder mid-merge on a store where setTimes is a no-op:
    // mtime looks ancient, but the payload ts says the holder is live
    val lock = plantLock(dir, ParquetWarehouse.lockPayload(
      "some-other-host", 1L, "tok-far", System.currentTimeMillis()))
    fs.setTimes(lock, System.currentTimeMillis() - ParquetWarehouse.LockStaleMs - 60000, -1)
    val e = intercept[IllegalArgumentException] {
      ParquetWarehouse.upsert(Seq(("c2", "b")).toDF("conv_id", "v"), dir, Seq("conv_id"))
    }
    assert(e.getMessage.contains("lock"))
    assert(fs.exists(lock), "a recent payload ts must veto the age-break")
    // when BOTH signals are past the horizon the holder is presumed dead
    fs.delete(lock, false)
    val old = System.currentTimeMillis() - ParquetWarehouse.LockStaleMs - 60000
    val lock2 = plantLock(dir, ParquetWarehouse.lockPayload(
      "some-other-host", 1L, "tok-far", old))
    fs.setTimes(lock2, old, -1)
    ParquetWarehouse.upsert(Seq(("c2", "b")).toDF("conv_id", "v"), dir, Seq("conv_id"))
    assert(spark.read.parquet(dir).count() === 2)
  }

  test("a FRESH tombstone blocks takeover of a same-payload corpse; an aged one is pre-swept") {
    // the tombstone name is a pure function of the victim payload, so a
    // SECOND dead lock with an identical payload maps to the same tomb.
    // While that tomb is fresh the takeover must refuse (the tomb is the
    // straggler guard for a race window measured in seconds — a corpse
    // re-using it within the hour is indistinguishable from a straggler),
    // and once aged the PRE-break sweep must reap it so the corpse is
    // breakable again — without the pre-sweep this wedged permanently:
    // takeover refused while the tomb exists, and the post-acquire sweep
    // could never run because nobody could acquire.
    val dir = freshDir("graft_lock_corpse")
    ParquetWarehouse.upsert(Seq(("c1", "a")).toDF("conv_id", "v"), dir, Seq("conv_id"))
    val fs = fsFor(dir)
    val payload = ParquetWarehouse.lockPayload(ParquetWarehouse.lockHost, deadPid(), "tok-corpse")
    plantLock(dir, payload)
    ParquetWarehouse.upsert(Seq(("c2", "b")).toDF("conv_id", "v"), dir, Seq("conv_id"))
    assert(tombs(dir).length === 1, "first takeover tombstones the corpse")
    plantLock(dir, payload) // identical payload → identical tomb name
    val e = intercept[IllegalArgumentException] {
      ParquetWarehouse.upsert(Seq(("c3", "c")).toDF("conv_id", "v"), dir, Seq("conv_id"))
    }
    assert(e.getMessage.contains("lock"), "fresh same-name tomb must block the takeover")
    // age BOTH tomb signals (mtime and the winner's re-stamped payload
    // ts — the sweeper honours the younger, same rule as the age-break)
    // to simulate a genuinely hour-old takeover
    val tomb = tombs(dir).head.getPath
    val old2 = System.currentTimeMillis() - ParquetWarehouse.LockStaleMs - 60000
    val out = fs.create(tomb, true)
    out.write(s"retired ts=$old2\n".getBytes("UTF-8")); out.close()
    fs.setTimes(tomb, old2, -1)
    ParquetWarehouse.upsert(Seq(("c3", "c")).toDF("conv_id", "v"), dir, Seq("conv_id"))
    assert(spark.read.parquet(dir).count() === 3,
      "aged tomb must be pre-swept so the same-payload corpse is breakable")
  }

  test("heartbeat falls back to re-stamping the payload ts where setTimes is a no-op") {
    // FileSystem.setTimes is a silent no-op on some connectors (the base
    // class implementation is empty); there the age veto must come from
    // the payload ts, so the refresh re-stamps it once the mtime is
    // provably not advancing
    val dir = freshDir("graft_lock_noopts")
    val fs = fsFor(dir)
    fs.mkdirs(new org.apache.hadoop.fs.Path(dir).getParent)
    val noopTimes = new org.apache.hadoop.fs.FilterFileSystem(fs) {
      override def setTimes(p: org.apache.hadoop.fs.Path, m: Long, a: Long): Unit = ()
    }
    val staleTs = System.currentTimeMillis() - ParquetWarehouse.LockStaleMs + 60000
    val lock = plantLock(dir, ParquetWarehouse.lockPayload(
      ParquetWarehouse.lockHost, ProcessHandle.current().pid(), "tok-N", staleTs))
    fs.setTimes(lock, staleTs, -1)
    assert(ParquetWarehouse.refreshLockIfOwned(noopTimes, lock, "tok-N"))
    val kv = ParquetWarehouse.readLockPayload(fs, lock).get.trim
      .split("\\s+").flatMap(_.split("=", 2) match {
        case Array(k, v) => Some(k -> v); case _ => None
      }).toMap
    assert(kv("token") === "tok-N", "re-stamp must preserve the owner token")
    assert(kv("ts").toLong > staleTs + ParquetWarehouse.LockStaleMs / 2,
      s"payload ts must be re-stamped fresh when mtime cannot advance, got ${kv("ts")}")
    fs.delete(lock, false)
  }

  test("an AGE-broken corpse's tombstone is born fresh, not pre-aged") {
    // rename/link preserve the source mtime, so without the pre-retire
    // mtime bump an age-broken lock's tombstone would be past the
    // horizon AT BIRTH and reaped by the very next sweep — voiding the
    // straggler guard for exactly the takeovers that need it (the
    // dead-pid path leaves a fresh corpse; the age path does not)
    val dir = freshDir("graft_lock_aged_tomb")
    ParquetWarehouse.upsert(Seq(("c1", "a")).toDF("conv_id", "v"), dir, Seq("conv_id"))
    val fs = fsFor(dir)
    val old = System.currentTimeMillis() - ParquetWarehouse.LockStaleMs - 60000
    val lock = plantLock(dir, ParquetWarehouse.lockPayload(
      "some-other-host", 1L, "tok-aged", old))
    fs.setTimes(lock, old, -1)
    ParquetWarehouse.upsert(Seq(("c2", "b")).toDF("conv_id", "v"), dir, Seq("conv_id"))
    val t = tombs(dir)
    assert(t.length === 1, "the age-break must leave its tombstone in place")
    assert(System.currentTimeMillis() - t.head.getModificationTime < 60000,
      s"tombstone must be born FRESH (got mtime age ${
        System.currentTimeMillis() - t.head.getModificationTime} ms)")
  }

  test("a revoked heartbeat never rewrites the lock (no resurrection after release)") {
    // a beat blocked in an FS call can outlive the release's bounded
    // join; the ownership flag — revoked before the release deletes —
    // must stop its no-op-setTimes fallback from recreating the lock
    val dir = freshDir("graft_lock_revoked")
    val fs = fsFor(dir)
    fs.mkdirs(new org.apache.hadoop.fs.Path(dir).getParent)
    val noopTimes = new org.apache.hadoop.fs.FilterFileSystem(fs) {
      override def setTimes(p: org.apache.hadoop.fs.Path, m: Long, a: Long): Unit = ()
    }
    val staleTs = System.currentTimeMillis() - ParquetWarehouse.LockStaleMs + 60000
    val lock = plantLock(dir, ParquetWarehouse.lockPayload(
      ParquetWarehouse.lockHost, ProcessHandle.current().pid(), "tok-R", staleTs))
    fs.setTimes(lock, staleTs, -1)
    assert(ParquetWarehouse.refreshLockIfOwned(noopTimes, lock, "tok-R", () => false))
    val payload = ParquetWarehouse.readLockPayload(fs, lock).get
    assert(payload.contains(s"ts=$staleTs"),
      "a revoked beat must leave the payload untouched")
    fs.delete(lock, false)
    // and a lock already GONE reports not-refreshed (nothing recreated)
    assert(!ParquetWarehouse.refreshLockIfOwned(noopTimes, lock, "tok-R"))
    assert(!fs.exists(lock), "a dead beat must never resurrect a released lock")
  }

  test("contended acquisitions sweep aged tombstones; fresh ones and uncontended paths are untouched") {
    val dir = freshDir("graft_lock_sweep")
    ParquetWarehouse.upsert(Seq(("c1", "a")).toDF("conv_id", "v"), dir, Seq("conv_id"))
    val fs = fsFor(dir)
    def mkTomb(name: String, age: Long): org.apache.hadoop.fs.Path = {
      val p = new org.apache.hadoop.fs.Path(dir + ".__lock.__tomb-" + name)
      val out = fs.create(p, false); out.write("x".getBytes("UTF-8")); out.close()
      fs.setTimes(p, System.currentTimeMillis() - age, -1)
      p
    }
    val aged = mkTomb("aged", ParquetWarehouse.LockStaleMs + 60000)
    val fresh = mkTomb("fresh", 1000)
    // UNCONTENDED write: no sweep runs (the glob is skipped on the happy
    // path; an old tombstone lingering as one tiny file is harmless)
    ParquetWarehouse.upsert(Seq(("c2", "b")).toDF("conv_id", "v"), dir, Seq("conv_id"))
    assert(fs.exists(aged) && fs.exists(fresh),
      "uncontended acquisition must not pay the tombstone glob")
    // CONTENDED write (a dead lock to break): the pre-judge sweep reaps
    // the aged tombstone and leaves the fresh one (the straggler guard)
    plantLock(dir, ParquetWarehouse.lockPayload(
      ParquetWarehouse.lockHost, deadPid(), "tok-sweep"))
    ParquetWarehouse.upsert(Seq(("c3", "c")).toDF("conv_id", "v"), dir, Seq("conv_id"))
    assert(!fs.exists(aged), "a tombstone older than the horizon is reaped pre-judge")
    assert(fs.exists(fresh),
      "a fresh tombstone must survive — it is the guard against a straggler's late rename")
  }

  test("reserved merge columns are refused case-insensitively") {
    val dir = freshDir("graft_lock_reserved")
    val e = intercept[IllegalArgumentException] {
      ParquetWarehouse.upsert(
        Seq(("c1", 1)).toDF("conv_id", "__SRC"), dir, Seq("conv_id"))
    }
    assert(e.getMessage.contains("reserved"))
    val e2 = intercept[IllegalArgumentException] {
      ParquetWarehouse.upsert(
        Seq(("c1", 1)).toDF("conv_id", "__Rn"), dir, Seq("conv_id"))
    }
    assert(e2.getMessage.contains("reserved"))
  }
}

package graft.sources

import java.util.concurrent.{CountDownLatch, CyclicBarrier}
import java.util.concurrent.atomic.AtomicInteger

import graft.SparkSpec

/** The writer lock's takeover machinery.
  *
  * The headline property is the one a delete-then-create spelling could
  * not give: N writers racing the SAME fabricated dead lock admit EXACTLY
  * ONE acquirer (takeover is an atomic rename to a payload-derived
  * tombstone; creation stays behind the create-no-overwrite gate). The
  * rest pins what keeps a LIVE holder safe: only a provably dead holder
  * (this host, pid gone) is ever broken — no lock is broken by age — and
  * the tombstone lifecycle that turns a straggler's late rename into a
  * loud no-op. */
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
    // week-old corpses: rename keeps the corpse's old mtime, so the
    // tomb's freshness must come from the winner's re-stamp
    val weekAgo = System.currentTimeMillis() - 7L * 24 * 60 * 60 * 1000
    val payload = ParquetWarehouse.lockPayload(
      ParquetWarehouse.lockHost, deadPid(), "tok-corpse", weekAgo)
    fs.setTimes(plantLock(dir, payload), weekAgo, -1)
    ParquetWarehouse.upsert(Seq(("c2", "b")).toDF("conv_id", "v"), dir, Seq("conv_id"))
    assert(tombs(dir).length === 1, "first takeover tombstones the corpse")
    // identical payload → identical tomb name
    fs.setTimes(plantLock(dir, payload), weekAgo, -1)
    val e = intercept[IllegalArgumentException] {
      ParquetWarehouse.upsert(Seq(("c3", "c")).toDF("conv_id", "v"), dir, Seq("conv_id"))
    }
    assert(e.getMessage.contains("lock"), "fresh same-name tomb must block the takeover")
    // age BOTH tomb signals (mtime and the winner's re-stamped payload
    // ts — the sweeper honours the younger) to simulate a genuinely
    // hour-old takeover
    val tomb = tombs(dir).head.getPath
    val old2 = System.currentTimeMillis() - ParquetWarehouse.LockStaleMs - 60000
    val out = fs.create(tomb, true)
    out.write(s"retired ts=$old2\n".getBytes("UTF-8")); out.close()
    fs.setTimes(tomb, old2, -1)
    ParquetWarehouse.upsert(Seq(("c3", "c")).toDF("conv_id", "v"), dir, Seq("conv_id"))
    assert(spark.read.parquet(dir).count() === 3,
      "aged tomb must be pre-swept so the same-payload corpse is breakable")
  }

  test("an old dead-pid corpse's tombstone is born fresh, not pre-aged") {
    // rename/link preserve the source mtime, so without the winner's
    // re-stamp the tombstone of a lock left by a crash a week ago would
    // be past the TTL AT BIRTH and reaped by the very next sweep —
    // voiding the straggler guard for exactly those takeovers
    val dir = freshDir("graft_lock_aged_tomb")
    ParquetWarehouse.upsert(Seq(("c1", "a")).toDF("conv_id", "v"), dir, Seq("conv_id"))
    val fs = fsFor(dir)
    val old = System.currentTimeMillis() - 7L * 24 * 60 * 60 * 1000
    val lock = plantLock(dir, ParquetWarehouse.lockPayload(
      ParquetWarehouse.lockHost, deadPid(), "tok-aged", old))
    fs.setTimes(lock, old, -1)
    ParquetWarehouse.upsert(Seq(("c2", "b")).toDF("conv_id", "v"), dir, Seq("conv_id"))
    val t = tombs(dir)
    assert(t.length === 1, "the takeover must leave its tombstone in place")
    assert(System.currentTimeMillis() - t.head.getModificationTime < 60000,
      s"tombstone must be born FRESH (got mtime age ${
        System.currentTimeMillis() - t.head.getModificationTime} ms)")
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

  test("a lock from another host or with an unreadable payload is refused at any age, by both writers, untouched") {
    val dir = freshDir("graft_lock_refused")
    ParquetWarehouse.upsert(
      Seq(("2023-09-01", "c1", "a")).toDF("date", "conv_id", "v"), dir, Seq("date", "conv_id"))
    val fs = fsFor(dir)
    val lockPath = new org.apache.hadoop.fs.Path(dir + ".__lock")
    val old = System.currentTimeMillis() - ParquetWarehouse.LockStaleMs - 60000
    val unreadable = "x" * (64 * 1024 + 1) // over the payload cap
    for (payload <- Seq(ParquetWarehouse.lockPayload("elsewhere", 1L, "tok-far", old), unreadable)) {
      fs.setTimes(plantLock(dir, payload), old, -1)
      def bytes() = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(lockPath.toUri.getPath))
      val before = bytes()
      val writes: Seq[() => Unit] = Seq(
        () => ParquetWarehouse.upsert(
          Seq(("2023-09-02", "c2", "b")).toDF("date", "conv_id", "v"), dir, Seq("date", "conv_id")),
        () => ParquetWarehouse.upsertPartitioned(
          Seq(("2023-09-02", "c2", "b")).toDF("date", "conv_id", "v"),
          dir, Seq("date", "conv_id"), "date"))
      for (write <- writes) {
        val e = intercept[IllegalArgumentException](write())
        assert(e.getMessage.contains(dir + ".__lock"), e.getMessage)
        if (payload != unreadable)
          assert(e.getMessage.contains("host=elsewhere"), e.getMessage)
        assert(java.util.Arrays.equals(bytes(), before), "a refused lock stays byte-identical")
        assert(spark.read.parquet(dir).count() === 1, "a refused writer must not have written")
      }
      fs.delete(lockPath, false)
    }
  }

  test("no heartbeat thread runs while a writer body does") {
    val dir = freshDir("graft_lock_nohb")
    val fs = fsFor(dir)
    fs.mkdirs(new org.apache.hadoop.fs.Path(dir).getParent)
    def heartbeats(): Seq[Thread] = {
      val all = new Array[Thread](Thread.activeCount() + 16)
      Thread.enumerate(all)
      all.toSeq.filter(t => t != null && t.isAlive && t.getName.startsWith("graft-lock-heartbeat-"))
    }
    val seen = ParquetWarehouse.withWriterLock(fs, dir) { heartbeats() }
    assert(seen.isEmpty, s"a writer holds its lock without a heartbeat thread: $seen")
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

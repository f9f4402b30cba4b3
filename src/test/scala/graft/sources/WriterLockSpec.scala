package graft.sources

import java.util.concurrent.{CountDownLatch, CyclicBarrier, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.hadoop.fs.{FileSystem, FilterFileSystem, Path}

import graft.SparkSpec

/** The writer lock.
  *
  * On a local filesystem it is the kernel's advisory lock on
  * `<table>.__lock`: N threads racing one table hold it one at a time, a
  * holder killed with SIGKILL releases it with nothing left to break, and
  * the in-JVM guard keeps a refused second thread from dropping the
  * holder's process-wide fcntl lock. On every other store (exercised
  * through a FilterFileSystem, which takes the marker branch) a held
  * marker is refused whatever its host, pid, age or payload. */
class WriterLockSpec extends SparkSpec {
  import spark.implicits._

  private def freshDir(tag: String): String =
    java.nio.file.Files.createTempDirectory(tag).toString + "/t"

  private def fsFor(dir: String): FileSystem =
    new Path(dir).getFileSystem(spark.sessionState.newHadoopConf())

  private def plantLock(dir: String, payload: String): Path = {
    val fs = fsFor(dir)
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

  test("N threads racing one local table hold its lock one at a time") {
    val dir = freshDir("graft_lock_race")
    val fs = fsFor(dir)
    fs.mkdirs(new Path(dir).getParent)
    val n = 8
    val barrier = new CyclicBarrier(n)
    val acquisitions = new AtomicInteger(0)
    val firstRoundWinners = new AtomicInteger(0)
    val inside = new AtomicInteger(0)
    val maxInside = new AtomicInteger(0)
    // the first holder keeps the lock until every other racer has been
    // REFUSED once, so the first round is a real race for one lock; then
    // everyone retries until it has held the lock once
    val firstRefusals = new CountDownLatch(n - 1)
    val unexpected = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    val threads = (1 to n).map { i =>
      new Thread(() => {
        barrier.await()
        var first = true
        var done = false
        while (!done) {
          try {
            ParquetWarehouse.withWriterLock(fs, dir) {
              maxInside.accumulateAndGet(inside.incrementAndGet(), (a, b) => math.max(a, b))
              if (first) {
                firstRoundWinners.incrementAndGet()
                firstRefusals.await(20, TimeUnit.SECONDS)
              }
              Thread.sleep(5)
              inside.decrementAndGet()
            }
            acquisitions.incrementAndGet()
            done = true
          } catch {
            case e: IllegalArgumentException if e.getMessage.contains("another writer holds") =>
              if (first) firstRefusals.countDown()
              Thread.sleep(2)
            case t: Throwable =>
              unexpected.add(t)
              if (first) firstRefusals.countDown()
              done = true
          }
          first = false
        }
      }, s"lock-racer-$i")
    }
    threads.foreach(_.start())
    threads.foreach(_.join(60000))
    assert(unexpected.isEmpty, s"unexpected failures: $unexpected")
    assert(firstRoundWinners.get() === 1, "exactly one racer may win the first round")
    assert(maxInside.get() === 1, "two racers held the lock at once")
    assert(acquisitions.get() === n, "every racer holds the lock once it is free")
    assert(fs.exists(new Path(dir + ".__lock")), "the lock file outlives its holders")
  }

  test("a thread refused by the in-JVM guard leaves the holder's kernel lock in place") {
    val dir = freshDir("graft_lock_guard")
    val fs = fsFor(dir)
    fs.mkdirs(new Path(dir).getParent)
    WriterLockSpec.whileHeld(fs, dir) {
      val e = intercept[IllegalArgumentException] {
        ParquetWarehouse.withWriterLock(fs, dir) { fail("a second thread must not acquire") }
      }
      assert(e.getMessage.contains(s"another writer holds $dir.__lock"), e.getMessage)
      assert(e.getMessage.contains(s"pid=${ProcessHandle.current().pid()}"), e.getMessage)
      // closing a second channel on the file would have dropped the
      // holder's process-wide fcntl lock: another process must still be
      // refused after the in-JVM refusal
      assert(!CrossProcessLockHarness.childAcquires(dir),
        "the in-JVM refusal dropped the holder's kernel lock")
    }
    assert(CrossProcessLockHarness.childAcquires(dir), "the lock is free once its holder returns")
  }

  test("a writer process SIGKILLed inside the lock releases it: the next upsert lands at once") {
    val dir = freshDir("graft_lock_crash")
    ParquetWarehouse.upsert(Seq(("c1", "a")).toDF("conv_id", "v"), dir, Seq("conv_id"))
    val child = CrossProcessLockHarness.childHolding(dir)
    try {
      val e = intercept[IllegalArgumentException] {
        ParquetWarehouse.upsert(Seq(("c2", "b")).toDF("conv_id", "v"), dir, Seq("conv_id"))
      }
      assert(e.getMessage.contains(s"pid=${child.pid()}"), e.getMessage)
    } finally {
      child.destroyForcibly()
      assert(child.waitFor(60, TimeUnit.SECONDS), "killed child did not exit")
    }
    ParquetWarehouse.upsert(Seq(("c2", "b")).toDF("conv_id", "v"), dir, Seq("conv_id"))
    assert(spark.read.parquet(dir).as[(String, String)].collect().toSet ===
      Set(("c1", "a"), ("c2", "b")))
  }

  test("a marker lock on a non-local store is refused at any age and payload, untouched; a planted local lock file holds nothing") {
    val dir = freshDir("graft_lock_refused")
    ParquetWarehouse.upsert(Seq(("c0", "a")).toDF("conv_id", "v"), dir, Seq("conv_id"))
    val fs = fsFor(dir)
    val store = new FilterFileSystem(fs) {}
    val lockPath = new Path(dir + ".__lock")
    def bytes() = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(lockPath.toUri.getPath))
    val old = System.currentTimeMillis() - 7L * 24 * 60 * 60 * 1000
    val unreadable = "x" * (64 * 1024 + 1) // over the payload cap
    val payloads = Seq(
      ParquetWarehouse.lockPayload("elsewhere", 1L, "tok-far", old),
      ParquetWarehouse.lockPayload(ParquetWarehouse.lockHost, deadPid(), "tok-dead", old),
      unreadable)
    for (payload <- payloads) {
      fs.delete(lockPath, false)
      fs.setTimes(plantLock(dir, payload), old, -1)
      val before = bytes()
      val e = intercept[IllegalArgumentException] {
        ParquetWarehouse.withWriterLock(store, dir) { fail("must not acquire") }
      }
      assert(e.getMessage.contains(dir + ".__lock"), e.getMessage)
      if (payload != unreadable)
        assert(e.getMessage.contains(payload.split(" ").take(2).mkString(" ")), e.getMessage)
      assert(java.util.Arrays.equals(bytes(), before), "a refused lock stays byte-identical")
    }
    // the same files on the local FS hold nothing: only the kernel lock does
    for ((payload, i) <- payloads.zipWithIndex) {
      fs.delete(lockPath, false)
      plantLock(dir, payload)
      ParquetWarehouse.upsert(Seq((s"c${i + 1}", "b")).toDF("conv_id", "v"), dir, Seq("conv_id"))
    }
    assert(spark.read.parquet(dir).count() === payloads.size + 1)
  }

  test("no heartbeat thread runs while a writer body does") {
    val dir = freshDir("graft_lock_nohb")
    val fs = fsFor(dir)
    fs.mkdirs(new Path(dir).getParent)
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

object WriterLockSpec {
  /** Runs `f` while another thread of this JVM holds the writer lock on
    * `dir`, and returns once that holder has released it. */
  def whileHeld[T](fs: FileSystem, dir: String)(f: => T): T = {
    val entered = new CountDownLatch(1)
    val leave = new CountDownLatch(1)
    val holder = new Thread(() =>
      ParquetWarehouse.withWriterLock(fs, dir) { entered.countDown(); leave.await() },
      "lock-holder")
    holder.start()
    require(entered.await(30, TimeUnit.SECONDS), "the holder thread never acquired the lock")
    try f
    finally { leave.countDown(); holder.join(30000) }
  }
}

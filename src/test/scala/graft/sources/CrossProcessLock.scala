package graft.sources

import java.io.File
import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.hadoop.fs.Path

/** Cross-PROCESS lock contention soak (r17 verdict #1).
  *
  * LockSoak races THREADS inside one JVM, and threads of one JVM are
  * kept apart by the lock's in-JVM guard before the kernel is asked;
  * only separate processes contend on the kernel's file lock itself.
  * The fleet reality the advisory lock exists for is separate writer
  * PROCESSES (reference behavior: the loader's rerun-safe upsert,
  * src/etl/load.py:126-143, under concurrent runs). This harness forks
  * N child JVMs — each with its own SparkSession — that contend REAL
  * `ParquetWarehouse` upserts on ONE table path, and proves the
  * single-writer invariant through on-disk evidence the parent verifies
  * post-hoc:
  *
  *   - a per-child append-only LEDGER of (acquire ts, release ts) rows
  *     written INSIDE the lock hold (acquire after the lock is granted,
  *     release before it is dropped) — recorded intervals are strict
  *     subsets of true hold windows, so ANY overlap between two
  *     processes' recorded intervals proves a double-hold (one host,
  *     one clock: currentTimeMillis is comparable; holds are >100 ms);
  *   - a PRESENCE protocol: each holder creates a marker file on entry,
  *     lists the marker dir, and records a violation if a foreign
  *     marker coexists — a second detector with no clock dependence;
  *   - a shared COUNTER file incremented read-modify-write (deliberate
  *     sleep between read and write) under the lock — a lost update
  *     (final counter < total acquisitions) is the classic
  *     mutual-exclusion failure even where timestamps tie;
  *   - the TABLE itself: child c's iteration i upserts key c·100000+i,
  *     so the final row count equals total successful upserts iff no
  *     merge ever rebuilt the table from a partial view (upsert is
  *     read-union-rewrite: a racing writer would drop history).
  *
  * Children acquire through the PUBLIC writer path composition
  * (`withWriterLock` + `upsertLocked`, exactly what `upsert` runs) and
  * RETRY on the documented loud "another writer holds" refusal — the
  * coordinated-deployment usage the lock's contract prescribes.
  *
  * Scaled-down in `sbt test` (CrossProcessLockSpec); full soak:
  *   Test/runMain graft.sources.CrossProcessLockSoak [children] [iters]
  */
object CrossProcessLockChild {
  private def log(w: java.io.Writer, line: String): Unit = {
    w.write(line + "\n"); w.flush()
  }

  def main(args: Array[String]): Unit = {
    val Array(table, ledgerDir, childIdS, itersS) = args
    val childId = childIdS.toInt
    val iters = itersS.toInt
    val ledger = new java.io.FileWriter(s"$ledgerDir/child-$childId.log", true)
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master("local[2]")
      .appName(s"graft-xproc-child-$childId")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir",
        Files.createTempDirectory(s"graft_xproc_wh_$childId").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    val destPath = new Path(table)
    val fs = destPath.getFileSystem(spark.sessionState.newHadoopConf())
    val critDir = new File(new File(ledgerDir), "critical")
    critDir.mkdirs()
    val counterFile = Paths.get(ledgerDir, "counter")
    val rnd = new java.util.Random(childId * 7919L)
    try {
      for (i <- 1 to iters) {
        var done = false
        var attempts = 0
        while (!done) {
          try {
            ParquetWarehouse.withWriterLock(fs, table) {
              log(ledger, s"acquire $childId $i ${System.currentTimeMillis()}")
              // presence: no foreign holder may coexist
              val marker = new File(critDir, s"holder-$childId")
              if (!marker.createNewFile())
                log(ledger, s"violation $childId $i own-marker-already-present")
              val foreign = Option(critDir.list()).getOrElse(Array.empty)
                .filter(_ != s"holder-$childId")
              if (foreign.nonEmpty)
                log(ledger, s"violation $childId $i foreign-holders:${foreign.mkString(",")}")
              // counter: read-modify-write with a deliberate window
              val v = if (Files.exists(counterFile))
                new String(Files.readAllBytes(counterFile), "UTF-8").trim.toLong
              else 0L
              Thread.sleep(20 + rnd.nextInt(30))
              // the real contended work: a keyed last-wins merge into
              // the shared table (read-union-rewrite, crash-safe swap)
              ParquetWarehouse.upsertLocked(
                Seq((childId * 100000L + i, s"c$childId-i$i")).toDF("k", "v"),
                table, Seq("k"), spark, destPath, fs)
              val tmp = Paths.get(ledgerDir, s"counter.tmp-$childId")
              Files.write(tmp, (v + 1).toString.getBytes("UTF-8"))
              Files.move(tmp, counterFile, StandardCopyOption.ATOMIC_MOVE,
                StandardCopyOption.REPLACE_EXISTING)
              if (!marker.delete())
                log(ledger, s"violation $childId $i marker-delete-failed")
              log(ledger, s"release $childId $i ${System.currentTimeMillis()}")
            }
            done = true
          } catch {
            case e: IllegalArgumentException
                if Option(e.getMessage).exists(_.contains("another writer holds")) =>
              // the documented loud refusal — back off and retry
              attempts += 1
              if (attempts > 2400) {
                log(ledger, s"violation $childId $i starved-after-$attempts-attempts")
                throw e
              }
              Thread.sleep(30 + rnd.nextInt(70))
          }
        }
      }
      log(ledger, s"done $childId ${System.currentTimeMillis()}")
    } finally {
      ledger.close()
      spark.stop()
    }
  }
}

/** A one-shot child process for the lock specs.
  *   - `try <table>`: exits 0 when it acquires the table's writer lock,
  *     3 when it is refused;
  *   - `hold <table> <signal>`: acquires the lock, creates the `signal`
  *     file, and sleeps inside the lock until it is killed (at most 5
  *     minutes, so an orphan of a crashed parent does not linger). */
object CrossProcessLockProbe {
  def main(args: Array[String]): Unit = {
    val table = args(1)
    val fs = new Path(table).getFileSystem(new org.apache.hadoop.conf.Configuration())
    args(0) match {
      case "try" =>
        val acquired =
          try { ParquetWarehouse.withWriterLock(fs, table)(()); true }
          catch {
            case e: IllegalArgumentException
                if Option(e.getMessage).exists(_.contains("another writer holds")) => false
          }
        System.exit(if (acquired) 0 else 3)
      case "hold" =>
        ParquetWarehouse.withWriterLock(fs, table) {
          Files.createFile(Paths.get(args(2)))
          Thread.sleep(5L * 60 * 1000)
        }
    }
  }
}

/** Parent-side harness: forks the children, waits, verifies the on-disk
  * evidence. Shared by the scaled-down spec and the full soak main. */
object CrossProcessLockHarness {
  final case class Summary(
      children: Int, iters: Int,
      acquisitions: Int, overlaps: Int, violations: Int,
      counter: Long, tableRows: Long) {
    def ok: Boolean =
      overlaps == 0 && violations == 0 &&
        acquisitions == children * iters &&
        counter == children * iters && tableRows == children * iters
  }

  private def jdk17AddOpens: Seq[String] = Seq(
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
  ).flatMap(p => Seq("--add-opens", s"$p=ALL-UNNAMED"))

  private def fork(mainClass: String, mainArgs: Seq[String], out: File): Process = {
    val java = System.getProperty("java.home") + "/bin/java"
    val cp = System.getProperty("java.class.path")
    require(cp.contains("scala-library") || cp.split(File.pathSeparator).length > 3,
      "java.class.path does not look like the forked test classpath — " +
        "run under sbt (Test/fork := true) so children can resolve graft classes")
    val cmd = Seq(java) ++ jdk17AddOpens ++ Seq(
      "-Xmx2g", "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
      "-cp", cp, mainClass) ++ mainArgs
    new ProcessBuilder(cmd: _*)
      .redirectErrorStream(true)
      .redirectOutput(out)
      .start()
  }

  /** Whether a fresh child process acquires `table`'s writer lock. */
  def childAcquires(table: String): Boolean = {
    val out = Files.createTempFile("graft_xproc_probe", ".out").toFile
    val p = fork("graft.sources.CrossProcessLockProbe", Seq("try", table), out)
    require(p.waitFor(2, java.util.concurrent.TimeUnit.MINUTES), s"probe child hung — see $out")
    p.exitValue() match {
      case 0 => true
      case 3 => false
      case c => sys.error(s"probe child exited $c — see $out")
    }
  }

  /** Forks a child that enters `table`'s writer lock and holds it until
    * killed; returns once the child holds the lock. */
  def childHolding(table: String): Process = {
    val dir = Files.createTempDirectory("graft_xproc_hold")
    val signal = dir.resolve("holding")
    val out = dir.resolve("child.out").toFile
    val p = fork("graft.sources.CrossProcessLockProbe", Seq("hold", table, signal.toString), out)
    val deadline = System.nanoTime() + 120L * 1000 * 1000 * 1000
    while (!Files.exists(signal)) {
      if (!p.isAlive || System.nanoTime() > deadline) {
        p.destroyForcibly()
        sys.error(s"holder child never acquired the lock — see $out")
      }
      Thread.sleep(20)
    }
    p
  }

  def run(children: Int, iters: Int): Summary = {
    val base = Files.createTempDirectory("graft_xproc").toString
    val warehouse = s"$base/warehouse"
    val table = s"$warehouse/t"
    val ledgerDir = s"$base/ledger"
    Files.createDirectories(Paths.get(warehouse))
    Files.createDirectories(Paths.get(ledgerDir))

    val writers = (1 to children).map { c =>
      fork("graft.sources.CrossProcessLockChild",
        Seq(table, ledgerDir, c.toString, iters.toString),
        new File(s"$base/child-$c.out"))
    }
    writers.zipWithIndex.foreach { case (p, idx) =>
      val exited = p.waitFor(15, java.util.concurrent.TimeUnit.MINUTES)
      require(exited, s"child ${idx + 1} did not exit within 15 min")
      require(p.exitValue() == 0,
        s"child ${idx + 1} exited ${p.exitValue()} — see $base/child-${idx + 1}.out")
    }

    // ---- post-hoc verification from the on-disk evidence ----
    final case class Hold(child: Int, iter: Int, t0: Long, var t1: Long = -1L)
    val holds = scala.collection.mutable.ArrayBuffer.empty[Hold]
    var violations = 0
    for (c <- 1 to children) {
      val lines = Files.readAllLines(Paths.get(ledgerDir, s"child-$c.log"))
      val open = scala.collection.mutable.Map.empty[Int, Hold]
      lines.forEach { l =>
        l.split(" ") match {
          case Array("acquire", _, i, ts) =>
            val h = Hold(c, i.toInt, ts.toLong); open(i.toInt) = h; holds += h
          case Array("release", _, i, ts) => open(i.toInt).t1 = ts.toLong
          case a if a.headOption.contains("violation") => violations += 1
          case _ => ()
        }
      }
    }
    require(holds.forall(_.t1 >= 0), "every acquire must have a matching release")
    val sorted = holds.sortBy(_.t0)
    // strict overlap: a later acquire stamped before the prior release
    val overlaps = sorted.sliding(2).count(w => w.size == 2 && w(1).t0 < w(0).t1)
    val counter = new String(
      Files.readAllBytes(Paths.get(ledgerDir, "counter")), "UTF-8").trim.toLong
    val rows = graft.TestSession.spark.read.parquet(table).count()
    Summary(children, iters, holds.size, overlaps, violations, counter, rows)
  }
}

/** Full soak entry point:
  *   Test/runMain graft.sources.CrossProcessLockSoak [children=4] [iters=8]
  * Prints the README tally line and exits nonzero on any violation. */
object CrossProcessLockSoak {
  def main(args: Array[String]): Unit = {
    val children = args.lift(0).flatMap(_.toIntOption).getOrElse(4)
    val iters = args.lift(1).flatMap(_.toIntOption).getOrElse(8)
    val t0 = System.nanoTime()
    val s = CrossProcessLockHarness.run(children, iters)
    println(f"[xproc-soak] $children processes x $iters upserts: " +
      f"acquisitions=${s.acquisitions} overlaps=${s.overlaps} violations=${s.violations} " +
      f"counter=${s.counter} rows=${s.tableRows} (${(System.nanoTime() - t0) / 1e9}%.0f s)")
    require(s.ok, s"cross-process soak FAILED: $s")
    println("[xproc-soak] single-writer invariant held across processes, 0 violations")
  }
}

package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** One benchmark run in one JVM: SparkSession start, one untimed warm
  * pass, timed passes for the requested seconds, then the untimed check
  * operations. Writes a JSON result file for `run.py`, which owns the
  * output checks and the final result line.
  *
  *   BenchMain --workload W --input DIR --work DIR --seconds S --trace 0|1
  *             --seed N --launch-ns EPOCH_NS --out FILE
  *
  * `--launch-ns` is the epoch time at which the caller started this
  * process, so `setup_s` covers JVM start as well. */
object BenchMain {

  final case class Args(
      workload: String, input: String, work: String, seconds: Double,
      trace: Boolean, seed: Long, launchNs: Long, out: String)

  private def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("input"), m("work"), m("seconds").toDouble, m("trace") == "1",
      m("seed").toLong, m("launch-ns").toLong, m("out"))
  }

  def epochNs(): Long = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1000000000L + i.getNano
  }

  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val cpus = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-${a.workload}")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.ui.showConsoleProgress", "false")
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.work}/spark-warehouse")
      .getOrCreate()
    System.err.println(f"perfbench: session ready ${(epochNs() - a.launchNs) / 1e9}%.2f s after launch")
    try {
      val r = new Runner(spark)
      val wl = Workloads(a.workload, spark, a)

      // warm pass: codegen, corpus stats, page cache
      r.runPass(wl, traced = false, warm = true)
      val setupS = (epochNs() - a.launchNs) / 1e9
      System.err.println(f"perfbench: set-up done $setupS%.2f s after launch")

      val untraced = ArrayBuffer.empty[(Double, Double)]
      val traced = ArrayBuffer.empty[Map[String, Double]]
      val heapPeaks = ArrayBuffer.empty[Double]
      val t0 = System.nanoTime()
      def untracedPass(): Unit = {
        val cpu0 = os.getProcessCpuTime
        val p = r.runPass(wl, traced = false)
        heapPeaks ++= p.heapMb
        untraced += ((p.wall, (os.getProcessCpuTime - cpu0) / 1e9))
      }
      // in trace mode untraced and traced passes alternate (ABBA, as passes
      // still speed up while the JIT warms), so the tracing overhead is
      // measured in the same process at the same warmth; two of each at least
      val minPasses = if (a.trace) 2 else wl.minPasses
      while ((System.nanoTime() - t0) / 1e9 < a.seconds || untraced.length < minPasses) {
        if (!a.trace) untracedPass()
        else if (untraced.length % 2 == 0) { untracedPass(); traced += r.runPass(wl, traced = true).layers }
        else { traced += r.runPass(wl, traced = true).layers; untracedPass() }
      }
      wl.check(r)

      val layer: Map[String, Double] =
        if (!a.trace) Map.empty
        else {
          val names = traced.flatMap(_.keys).distinct
          names.map(n => n -> median(traced.map(_.getOrElse(n, 0.0)).toSeq)).toMap +
            ("trace.overhead" -> (median(traced.map(_("pass_s")).toSeq) / median(untraced.map(_._1).toSeq) - 1.0))
        }
      val json = Json.obj(
        "workload" -> a.workload,
        "setup_s" -> setupS,
        "pass_s" -> untraced.map(_._1).toSeq,
        "cpu_s" -> untraced.map(_._2).toSeq,
        "peak_heap_mb" -> heapPeaks.toSeq,
        "attempted" -> r.attempted,
        "failed" -> r.failed,
        "errors" -> r.errors.toSeq,
        "facts" -> wl.facts,
        "layer" -> layer)
      Files.write(Paths.get(a.out), json.getBytes(UTF_8))
      r.writeTrace(s"${a.work}/trace/${a.workload}-seed${a.seed}.jsonl")
    } finally spark.stop()
  }
}

/** Runs passes and operations, counts them, and (in traced passes)
  * collects spans and engine events. */
final class Runner(spark: SparkSession) {
  var attempted = 0L
  var failed = 0L
  val errors = ArrayBuffer.empty[String]
  var pass = 0
  var tracing = false
  private val spans = ArrayBuffer.empty[Span]
  private val traceLog = ArrayBuffer.empty[Span]
  private val listener = new EngineListener
  private val heap = new HeapAfterGc

  def addSpan(s: Span): Unit = if (tracing) spans += s

  /** Time `body` as a span (tracing only); exceptions propagate. */
  def span[T](name: String, parent: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try body finally addSpan(Span(name, t0, System.nanoTime(), parent, pass))
  }

  /** One counted operation: it fails if it throws. */
  def op[T](name: String, parent: String = "pass")(body: => T): Option[T] = {
    attempted += 1
    try Some(span(name, parent)(body))
    catch {
      case NonFatal(e) =>
        failed += 1
        if (errors.length < 20) errors += s"$name (pass $pass): ${e.getClass.getSimpleName}: ${e.getMessage}"
        None
    }
  }

  /** Run one pass: its wall seconds, the largest heap in use after a GC
    * during it (if one ran) and, if traced, its per-layer metrics. */
  def runPass(wl: Workload, traced: Boolean, warm: Boolean = false): PassResult = {
    wl.beforePass(this)
    spark.catalog.clearCache()
    // a full collection before every pass after the warm one, outside its
    // timing: G1 would otherwise reclaim the old generation only every few
    // passes, and each pass would start from a different heap state
    if (!warm) System.gc()
    heap.arm()
    if (traced) {
      spark.sparkContext.addSparkListener(listener)
      spark.listenerManager.register(listener)
    }
    tracing = traced
    spans.clear()
    val t0 = System.nanoTime()
    wl.pass(this, warm)
    val t1 = System.nanoTime()
    tracing = false
    val heapMb = heap.disarm()
    val wall = (t1 - t0) / 1e9
    val metrics =
      if (!traced) Map.empty[String, Double]
      else {
        org.apache.spark.PerfbenchBridge.drainListeners(spark.sparkContext)
        spark.sparkContext.removeSparkListener(listener)
        spark.listenerManager.unregister(listener)
        val (jobs, tasks, plans) = listener.take()
        val passSpan = Span("pass", t0, t1, "", pass)
        val all = passSpan +: spans.toSeq
        traceLog ++= all
        Layers.engine(passSpan, all, jobs, tasks, plans) ++ wl.layers(all, jobs, tasks, plans) +
          ("pass_s" -> wall)
      }
    pass += 1
    PassResult(wall, heapMb, metrics)
  }

  /** JSONL: one record per traced span (seconds from the first traced
    * pass start), then one record of self times per span name. */
  def writeTrace(path: String): Unit = if (traceLog.nonEmpty) {
    val origin = traceLog.map(_.start).min
    val lines = traceLog.map { s =>
      Json.obj("name" -> s.name, "start" -> (s.start - origin) / 1e9, "end" -> (s.end - origin) / 1e9,
        "parent" -> s.parent, "pass" -> s.pass)
    } :+ Json.obj("self_s" -> Layers.selfTimes(traceLog.toSeq))
    Files.createDirectories(Paths.get(path).getParent)
    Files.write(Paths.get(path), lines.mkString("", "\n", "\n").getBytes(UTF_8))
  }
}

final case class PassResult(wall: Double, heapMb: Option[Double], layers: Map[String, Double])

/** Per-layer metrics every workload reports. */
object Layers {
  private val MB = 1024.0 * 1024.0

  def within(t: Long, ss: Seq[Span]): Boolean = ss.exists(s => t >= s.start && t < s.end)
  def ivals(ss: Seq[Span]): Seq[(Long, Long)] = ss.map(s => (s.start, s.end))

  def engine(pass: Span, spans: Seq[Span], jobs: Seq[(Long, Long)], tasks: Seq[TaskRec],
             plans: Seq[PlanRec]): Map[String, Double] = {
    val jobNs = Intervals.overlap(jobs, Seq((pass.start, pass.end)))
    // leaf spans: the finest-grained named layer spans of the pass. Time
    // no layer names (glue between calls, samples inside MaefMain.run that
    // no module rule matches) is in no leaf, so the share falls below 1
    val parents = spans.map(_.parent).toSet
    val leaves = spans.filter(s => s.name != "pass" && !parents.contains(s.name))
    Map(
      "exec.task_s" -> tasks.map(_.runS).sum,
      "exec.cpu_s" -> tasks.map(_.cpuS).sum,
      "exec.gc_s" -> tasks.map(_.gcS).sum,
      "exec.shuffle_write_mb" -> tasks.map(_.shuffleWriteB).sum / MB,
      "exec.shuffle_read_mb" -> tasks.map(_.shuffleReadB).sum / MB,
      "exec.spill_mb" -> tasks.map(_.spillB).sum / MB,
      "exec.peak_mem_mb" -> (if (tasks.isEmpty) 0.0 else tasks.map(_.peakMemB).max / MB),
      "exec.jobs" -> jobs.length.toDouble,
      "exec.tasks" -> tasks.length.toDouble,
      "catalyst_s" -> plans.map(_.seconds).sum,
      "driver_s" -> (pass.seconds - jobNs / 1e9),
      "trace.accounted_share" -> leaves.map(_.seconds).sum / pass.seconds)
  }

  /** Self time per span name: own duration minus the durations of the
    * spans nested directly under it (same pass, named as parent, inside it). */
  def selfTimes(spans: Seq[Span]): Map[String, Double] = {
    val byPass = spans.groupBy(_.pass)
    spans.groupBy(_.name).map { case (name, ss) =>
      name -> ss.map { s =>
        val kids = byPass(s.pass).filter(k => k.parent == name && k.start >= s.start && k.end <= s.end)
        s.seconds - kids.map(_.seconds).sum
      }.sum
    }
  }

  def sum(spans: Seq[Span], name: String): Double = spans.filter(_.name == name).map(_.seconds).sum
}

/** Minimal JSON writer (numbers, strings, sequences, maps). */
object Json {
  def q(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def v(x: Any): String = x match {
    case null => "null"
    case s: String => q(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case m: Map[_, _] => m.map { case (k, x) => s"${q(k.toString)}: ${v(x)}" }.mkString("{", ", ", "}")
    case xs: Seq[_] => xs.map(v).mkString("[", ", ", "]")
  }
  def obj(kv: (String, Any)*): String = v(kv.toMap)
}

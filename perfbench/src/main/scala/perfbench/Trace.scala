package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** A timed interval. Times are `System.nanoTime` values; listener events
  * (epoch milliseconds) are mapped onto the same clock by [[Clock]]. */
final case class Span(name: String, start: Long, end: Long, parent: String, pass: Int) {
  def seconds: Double = (end - start) / 1e9
}

object Clock {
  private val baseNano = System.nanoTime()
  private val baseMs = System.currentTimeMillis()
  def fromEpochMs(ms: Long): Long = baseNano + (ms - baseMs) * 1000000L
}

/** Interval arithmetic over (start, end) pairs on the nanoTime clock. */
object Intervals {
  /** Sorted, non-overlapping union. */
  def union(xs: Seq[(Long, Long)]): Seq[(Long, Long)] = {
    val out = ArrayBuffer.empty[(Long, Long)]
    xs.filter(x => x._2 > x._1).sortBy(_._1).foreach { case (s, e) =>
      if (out.nonEmpty && s <= out.last._2) out(out.length - 1) = (out.last._1, math.max(out.last._2, e))
      else out += ((s, e))
    }
    out.toSeq
  }

  /** Length of `union(a) ∩ union(b)` in nanoseconds. */
  def overlap(a: Seq[(Long, Long)], b: Seq[(Long, Long)]): Long = {
    val ua = union(a); val ub = union(b)
    var i = 0; var j = 0; var total = 0L
    while (i < ua.length && j < ub.length) {
      val lo = math.max(ua(i)._1, ub(j)._1)
      val hi = math.min(ua(i)._2, ub(j)._2)
      if (hi > lo) total += hi - lo
      if (ua(i)._2 < ub(j)._2) i += 1 else j += 1
    }
    total
  }
}

final case class TaskRec(
    launch: Long, runS: Double, cpuS: Double, gcS: Double, shuffleWriteB: Long,
    shuffleReadB: Long, spillB: Long, peakMemB: Long, outputB: Long)

final case class PlanRec(start: Long, seconds: Double)

/** Engine-side events of the traced passes: job intervals, per-task
  * metrics and Catalyst phase times. Registered only for traced passes. */
final class EngineListener extends SparkListener with QueryExecutionListener {
  private val jobStarts = scala.collection.mutable.Map.empty[Int, Long]
  private val jobs = ArrayBuffer.empty[(Long, Long)]
  private val tasks = ArrayBuffer.empty[TaskRec]
  private val plans = ArrayBuffer.empty[PlanRec]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobStarts(e.jobId) = Clock.fromEpochMs(e.time)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStarts.remove(e.jobId).foreach(s => jobs += ((s, Clock.fromEpochMs(e.time))))
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) synchronized {
      tasks += TaskRec(
        Clock.fromEpochMs(e.taskInfo.launchTime), m.executorRunTime / 1e3,
        m.executorCpuTime / 1e9, m.jvmGCTime / 1e3, m.shuffleWriteMetrics.bytesWritten,
        m.shuffleReadMetrics.totalBytesRead, m.memoryBytesSpilled + m.diskBytesSpilled,
        m.peakExecutionMemory, m.outputMetrics.bytesWritten)
    }
  }

  private def record(qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases
    if (phases.nonEmpty) synchronized {
      plans += PlanRec(Clock.fromEpochMs(phases.values.map(_.startTimeMs).min),
        phases.values.map(_.durationMs).sum / 1e3)
    }
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)

  /** Everything recorded since the last call. */
  def take(): (Seq[(Long, Long)], Seq[TaskRec], Seq[PlanRec]) = synchronized {
    val out = (jobs.toSeq, tasks.toSeq, plans.toSeq)
    jobs.clear(); tasks.clear(); plans.clear()
    out
  }
}

/** Samples one thread's stack every `periodMs` and names the innermost
  * frame matched by `rules` (class-name prefix, method-name fragment) —
  * how time inside a single library call such as `MaefMain.run` is split
  * by module without copying the call's step sequence. Consecutive
  * samples with the same name become one span. */
final class StackSampler(target: Thread, rules: Seq[(String, String, String)], periodMs: Long)
    extends Thread("perfbench-sampler") {
  setDaemon(true)
  @volatile private var running = true
  private val samples = ArrayBuffer.empty[(Long, String)]

  private def classify(stack: Array[StackTraceElement]): String = {
    var i = 0
    while (i < stack.length) {
      val f = stack(i)
      val hit = rules.find { case (cls, method, _) =>
        f.getClassName.startsWith(cls) && f.getMethodName.contains(method)
      }
      if (hit.isDefined) return hit.get._3
      i += 1
    }
    null
  }

  override def run(): Unit = while (running) {
    val t = System.nanoTime()
    val name = classify(target.getStackTrace)
    synchronized { samples += ((t, name)) }
    Thread.sleep(periodMs)
  }

  /** Stop sampling; returns the spans (unmatched samples dropped) whose
    * start lies in [from, to), clipped to `to`. */
  def finish(from: Long, to: Long, parent: String, pass: Int): Seq[Span] = {
    running = false
    join()
    val s = synchronized(samples.toSeq) :+ ((to, "\u0000end"))
    val out = ArrayBuffer.empty[Span]
    var i = 0
    while (i < s.length - 1) {
      var j = i + 1
      while (j < s.length - 1 && s(j)._2 == s(i)._2) j += 1
      val (start, name) = s(i)
      if (name != null && start >= from && start < to)
        out += Span(name, start, math.min(s(j)._1, to), parent, pass)
      i = j
    }
    out.toSeq
  }
}

/** Heap in use right after each garbage collection, from the JVM's GC
  * notifications: what the program still holds when the collector has
  * just run: live data, execution memory of running tasks and garbage
  * promoted since the last full collection. The heap size is fixed (see
  * run.py), so the process's resident size would show that size rather
  * than the program's memory. `disarm` returns the largest value since
  * `arm`, if any GC ran. */
final class HeapAfterGc extends javax.management.NotificationListener {
  import java.lang.management.{ManagementFactory, MemoryType}
  import scala.jdk.CollectionConverters._
  import com.sun.management.GarbageCollectionNotificationInfo

  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  @volatile private var armed = false
  private var peak = -1L
  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: javax.management.NotificationEmitter => e.addNotificationListener(this, null, null)
    case _ =>
  }

  override def handleNotification(n: javax.management.Notification, handback: AnyRef): Unit =
    if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
      val info = GarbageCollectionNotificationInfo.from(
        n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
      val after = info.getGcInfo.getMemoryUsageAfterGc.asScala
      val used = after.collect { case (p, u) if heapPools(p) => u.getUsed }.sum
      if (armed) synchronized { peak = math.max(peak, used) }
    }

  def arm(): Unit = synchronized { peak = -1L; armed = true }

  def disarm(): Option[Double] = synchronized {
    armed = false
    if (peak < 0) None else Some(peak / (1024.0 * 1024.0))
  }
}

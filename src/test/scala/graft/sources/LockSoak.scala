package graft.sources

import org.scalatest.Args

/** Soak runner for the lock suites: the writer-lock specs (the 8-thread
  * race, the in-JVM guard and the SIGKILLed holder among them) are
  * timing-sensitive concurrency tests guarding the engine's only
  * mutual-exclusion primitive, so one green run is weak evidence. This executes WriterLockSpec +
  * LockFaultInjectionSpec N times in ONE JVM (a forked
  * `testOnly` loop would spend ~25 s per iteration on JVM+session start)
  * and fails loudly on the first red test, printing per-iteration
  * timing so a creeping slowdown is visible too.
  *
  *   Test/runMain graft.sources.LockSoak [iterations=50]
  */
object LockSoak {
  def main(args: Array[String]): Unit = {
    val n = args.headOption.flatMap(_.toIntOption).getOrElse(50)
    var failures = 0
    val t0 = System.nanoTime()
    for (i <- 1 to n) {
      val it0 = System.nanoTime()
      for (suite <- Seq(new WriterLockSpec, new LockFaultInjectionSpec)) {
        val rep = new org.scalatest.Reporter {
          def apply(event: org.scalatest.events.Event): Unit = event match {
            case f: org.scalatest.events.TestFailed =>
              failures += 1
              println(s"[soak] iter $i FAILED: ${suite.getClass.getSimpleName} - ${f.testName}")
              f.throwable.foreach(_.printStackTrace())
            case a: org.scalatest.events.SuiteAborted =>
              // an aborted suite ran ZERO tests — without this branch it
              // would count as a green iteration, the exact false-green
              // this runner exists to prevent
              failures += 1
              println(s"[soak] iter $i ABORTED: ${suite.getClass.getSimpleName} - ${a.message}")
              a.throwable.foreach(_.printStackTrace())
            case _ => ()
          }
        }
        // the run Status is a THIRD failure signal (run-aborting errors
        // that surface through neither event) — don't discard it
        if (!suite.run(None, Args(rep)).succeeds() && failures == 0) {
          failures += 1
          println(s"[soak] iter $i FAILED: ${suite.getClass.getSimpleName} run status unsuccessful")
        }
      }
      require(failures == 0, s"soak failed at iteration $i — see above")
      println(f"[soak] iter $i%3d/$n ok  (${(System.nanoTime() - it0) / 1e9}%5.1f s)")
    }
    println(f"[soak] $n iterations × 2 suites green in ${(System.nanoTime() - t0) / 1e9}%.0f s, 0 flakes")
  }
}

package graft.sources

import graft.SparkSpec

/** Scaled-down in-gate run of the cross-process contention soak (see
  * [[CrossProcessLockChild]]'s scaladoc for the full design): 3 forked
  * writer JVMs x 3 upserts each on ONE table. The full soak
  * (`Test/runMain graft.sources.CrossProcessLockSoak`) runs bigger
  * N x M; this keeps the cross-PROCESS invariant — the one claim no
  * in-JVM soak can make — pinned on every `sbt test`. */
class CrossProcessLockSpec extends SparkSpec {
  test("3 writer processes x 3 upserts: single-writer invariant holds") {
    val s = CrossProcessLockHarness.run(children = 3, iters = 3)
    assert(s.overlaps === 0,
      s"two processes' recorded hold intervals overlapped: $s")
    assert(s.violations === 0,
      s"a presence/starvation violation was recorded: $s")
    assert(s.acquisitions === 9 && s.counter === 9L,
      s"every upsert acquired exactly once and no counter increment was lost: $s")
    assert(s.tableRows === 9L,
      s"the merged table carries every child's every key — no racing merge dropped history: $s")
  }
}

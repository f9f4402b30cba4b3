package graft.sources

import graft.SparkSpec
import org.apache.hadoop.fs.{FileSystem, FilterFileSystem, Path}

/** Fault-injected filesystem misbehavior against the PARTITION-grain
  * swap windows (r17, closing the r16 verdict's directive 1): the
  * table-level swap is covered both ways (staged-state recovery +
  * mid-flight injection in LockFaultInjectionSpec), but
  * `upsertPartitionedLocked` — the actual 100 TB write path — had only
  * the staged-state spec. These cases refuse or throw a rename INSIDE
  * the `.__pold-` / `.__ptmp-` windows of
  * [[ParquetWarehouse.stageAndSwapPartitions]] and the create branch's
  * publish, and pin that the in-process catch restore and
  * `recoverInterruptedPartitionSwaps` agree on every interruption
  * point:
  *
  *   - w1 stage-aside (live → `.__pold-*`/name) REFUSES → loud failure,
  *     live table untouched, no staging litter;
  *   - w2 publish (`.__ptmp-*`/name → live) THROWS between the two
  *     renames → the catch restores the staged-aside partition before
  *     rethrowing, table live and bit-identical;
  *   - w2 + the restore ALSO refuses → the call exits in the crash-
  *     window state (partition missing, backup in `.__pold-*`) and the
  *     NEXT writer call heals before merging — history is never lost
  *     and never rebuilt from one batch;
  *   - the CREATE branch's single publish rename refuses → no table, no
  *     orphan staging, clean retry works.
  *
  * Same injection idiom as LockFaultInjectionSpec (FilterFileSystem →
  * Hadoop-API branch, the connector-shaped path). Reference behavior
  * matched: the loader's rerun-safe upsert
  * (/root/reference/src/etl/load.py:126-143) — a failed batch must be
  * rerunnable with nothing lost. Not part of LockSoak: these are
  * deterministic single-thread fault injections (no timing race to
  * soak), and each case pays several real parquet writes. */
class PartitionSwapFaultSpec extends SparkSpec {
  import spark.implicits._

  private def freshDir(tag: String): String =
    java.nio.file.Files.createTempDirectory(tag).toString + "/t"

  private def fsFor(dir: String): FileSystem =
    new Path(dir).getFileSystem(spark.sessionState.newHadoopConf())

  private def df(rows: (Long, String, String)*) =
    rows.toDF("id", "date", "v")

  private def rows(dir: String): Set[(Long, String, String)] =
    spark.read.parquet(dir).select("id", "date", "v")
      .as[(Long, String, String)].collect().toSet

  private def noLitter(fs: FileSystem, dir: String): Unit = {
    assert(fs.globStatus(new Path(dir + ".__ptmp-*")).isEmpty,
      "no orphan .__ptmp-* staging dir may remain")
    assert(fs.globStatus(new Path(dir + ".__pold-*")).isEmpty,
      "no .__pold-* backup dir may remain")
  }

  /** Two-partition fixture table via the real create path. */
  private def mkTable(dir: String): Unit =
    ParquetWarehouse.upsertPartitioned(
      df((1L, "2024-01-01", "a"), (2L, "2024-01-02", "b")),
      dir, Seq("id", "date"), "date")

  test("upsertPartitioned: stage-aside rename (live→.__pold) REFUSES — loud, live table untouched, no litter") {
    val dir = freshDir("graft_psf_u_w1")
    mkTable(dir)
    val fs = fsFor(dir)
    val stageAsideRefuses = new FilterFileSystem(fs) {
      override def rename(src: Path, dst: Path): Boolean =
        if (dst.toString.contains(".__pold-")) false else super.rename(src, dst)
    }
    val e = intercept[IllegalArgumentException] {
      ParquetWarehouse.upsertPartitionedLocked(
        df((1L, "2024-01-01", "A")), dir, Seq("id", "date"), "date",
        spark, new Path(dir), stageAsideRefuses)
    }
    assert(e.getMessage.contains("stage partition"), s"got: ${e.getMessage}")
    assert(rows(dir) === Set((1L, "2024-01-01", "a"), (2L, "2024-01-02", "b")),
      "the live table must be untouched — the refused window precedes any publish")
    noLitter(fs, dir)
    // the path still merges fine afterwards
    ParquetWarehouse.upsertPartitioned(
      df((1L, "2024-01-01", "A")), dir, Seq("id", "date"), "date")
    assert(rows(dir) === Set((1L, "2024-01-01", "A"), (2L, "2024-01-02", "b")))
  }

  test("upsertPartitioned: publish rename (.__ptmp→live) THROWS between the renames — catch restores the partition in-process") {
    val dir = freshDir("graft_psf_u_w2")
    mkTable(dir)
    val fs = fsFor(dir)
    // the nastiest window: the live partition was already staged aside
    // into .__pold when the publish throws — the partition is MISSING at
    // the instant of failure, and the catch must put the backup back
    val publishThrows = new FilterFileSystem(fs) {
      override def rename(src: Path, dst: Path): Boolean =
        if (src.toString.contains(".__ptmp-"))
          throw new java.io.IOException("injected: failed between the partition renames")
        else super.rename(src, dst)
    }
    val e = intercept[java.io.IOException] {
      ParquetWarehouse.upsertPartitionedLocked(
        df((1L, "2024-01-01", "A")), dir, Seq("id", "date"), "date",
        spark, new Path(dir), publishThrows)
    }
    assert(e.getMessage.contains("injected"))
    assert(fs.exists(new Path(dir + "/date=2024-01-01")),
      "the catch must restore the staged-aside partition before rethrowing")
    assert(rows(dir) === Set((1L, "2024-01-01", "a"), (2L, "2024-01-02", "b")),
      "restored table must be the committed history, bit-identical")
    noLitter(fs, dir)
    ParquetWarehouse.upsertPartitioned(
      df((1L, "2024-01-01", "A")), dir, Seq("id", "date"), "date")
    assert(rows(dir) === Set((1L, "2024-01-01", "A"), (2L, "2024-01-02", "b")))
  }

  test("upsertPartitioned: publish throws AND the restore refuses — crash-window state heals on the next writer call") {
    val dir = freshDir("graft_psf_u_heal")
    mkTable(dir)
    val fs = fsFor(dir)
    // the process-crash analogue driven through one injected FS: publish
    // throws and the catch's backup→live restore refuses, so the call
    // exits with the partition missing and its history in .__pold-* —
    // exactly what a kill -9 between the two renames leaves behind
    val wedged = new FilterFileSystem(fs) {
      override def rename(src: Path, dst: Path): Boolean =
        if (src.toString.contains(".__ptmp-"))
          throw new java.io.IOException("injected: failed between the partition renames")
        else if (src.toString.contains(".__pold-")) false
        else super.rename(src, dst)
    }
    val e = intercept[java.io.IOException] {
      ParquetWarehouse.upsertPartitionedLocked(
        df((1L, "2024-01-01", "A")), dir, Seq("id", "date"), "date",
        spark, new Path(dir), wedged)
    }
    assert(e.getMessage.contains("injected"))
    assert(!fs.exists(new Path(dir + "/date=2024-01-01")) &&
      fs.globStatus(new Path(dir + ".__pold-*")).nonEmpty,
      "fixture: partition missing, backup present — the crash window state")
    // untouched partitions stay live throughout
    assert(rows(dir) === Set((2L, "2024-01-02", "b")))
    // next ordinary call heals FIRST (recoverInterruptedPartitionSwaps),
    // then merges — the updates batch sees the restored history
    ParquetWarehouse.upsertPartitioned(
      df((1L, "2024-01-01", "A")), dir, Seq("id", "date"), "date")
    assert(rows(dir) === Set((1L, "2024-01-01", "A"), (2L, "2024-01-02", "b")),
      "history restored from .__pold, then merged — never rebuilt from one batch")
    noLitter(fs, dir)
  }

  test("upsertPartitioned CREATE branch: the publish rename refuses — no table, no orphan staging, clean retry") {
    val dir = freshDir("graft_psf_u_create")
    val fs = fsFor(dir)
    val publishRefuses = new FilterFileSystem(fs) {
      override def rename(src: Path, dst: Path): Boolean =
        if (dst == new Path(dir)) false else super.rename(src, dst)
    }
    val e = intercept[IllegalArgumentException] {
      ParquetWarehouse.upsertPartitionedLocked(
        df((1L, "2024-01-01", "a")), dir, Seq("id", "date"), "date",
        spark, new Path(dir), publishRefuses)
    }
    assert(e.getMessage.contains("publish"), s"got: ${e.getMessage}")
    assert(!fs.exists(new Path(dir)),
      "a refused create publish must leave NO table (a torn dir would read as committed history)")
    noLitter(fs, dir)
    ParquetWarehouse.upsertPartitioned(
      df((1L, "2024-01-01", "a")), dir, Seq("id", "date"), "date")
    assert(rows(dir) === Set((1L, "2024-01-01", "a")))
  }

  test("recovery's stale-.__ptmp sweep is best-effort (RTE tolerated); the backup glob is LOUD (r17 review, fourth pass)") {
    val dir = freshDir("graft_psf_recovery_globs")
    mkTable(dir)
    val fs = fsFor(dir)
    // a throwing ptmp-cleanup glob (connector-wrapped vanished-dir race)
    // must not fail the write it piggybacks on — cleanup is optional
    val ptmpGlobThrows = new FilterFileSystem(fs) {
      override def globStatus(p: Path): Array[org.apache.hadoop.fs.FileStatus] =
        if (p.toString.contains(".__ptmp-"))
          throw new RuntimeException("injected: ptmp glob blew up")
        else super.globStatus(p)
    }
    ParquetWarehouse.upsertPartitionedLocked(
      df((1L, "2024-01-01", "A")), dir, Seq("id", "date"), "date",
      spark, new Path(dir), ptmpGlobThrows)
    assert(rows(dir) === Set((1L, "2024-01-01", "A"), (2L, "2024-01-02", "b")),
      "the merge must complete despite the throwing optional-cleanup glob")
    // the .__pold BACKUP glob is correctness-critical: if it faulted and
    // recovery silently skipped, a crash-missing partition would be
    // rebuilt from one batch and the next recovery would delete the only
    // backup — so a fault there must fail the write loudly (retryable)
    val poldGlobThrows = new FilterFileSystem(fs) {
      override def globStatus(p: Path): Array[org.apache.hadoop.fs.FileStatus] =
        if (p.toString.contains(".__pold-"))
          throw new java.io.IOException("injected: pold glob fault")
        else super.globStatus(p)
    }
    val e = intercept[java.io.IOException] {
      ParquetWarehouse.upsertPartitionedLocked(
        df((1L, "2024-01-01", "B")), dir, Seq("id", "date"), "date",
        spark, new Path(dir), poldGlobThrows)
    }
    assert(e.getMessage.contains("injected"))
    assert(rows(dir) === Set((1L, "2024-01-01", "A"), (2L, "2024-01-02", "b")),
      "a refused recovery pre-check leaves the table untouched — fail before merge, never on unverified state")
    // the not-found exemption is gated on the table being VERIFIABLY
    // absent: an FNF-wrapped glob while the table EXISTS stays loud
    // (a skipped restore would reopen the history-loss window) ...
    val poldGlobFnf = new FilterFileSystem(fs) {
      override def globStatus(p: Path): Array[org.apache.hadoop.fs.FileStatus] =
        if (p.toString.contains(".__pold-"))
          throw new java.io.FileNotFoundException("injected: spurious not-found")
        else super.globStatus(p)
    }
    intercept[java.io.FileNotFoundException] {
      ParquetWarehouse.upsertPartitionedLocked(
        df((1L, "2024-01-01", "C")), dir, Seq("id", "date"), "date",
        spark, new Path(dir), poldGlobFnf)
    }
    assert(rows(dir) === Set((1L, "2024-01-01", "A"), (2L, "2024-01-02", "b")))
    // ... while a first-ever CREATE whose connector surfaces the missing
    // parent as FNF keeps the quiet path and succeeds
    val freshTable = freshDir("graft_psf_fnf_create")
    ParquetWarehouse.upsertPartitionedLocked(
      df((1L, "2024-01-01", "a")), freshTable, Seq("id", "date"), "date",
      spark, new Path(freshTable),
      new FilterFileSystem(fsFor(freshTable)) {
        override def globStatus(p: Path): Array[org.apache.hadoop.fs.FileStatus] =
          if (p.toString.contains(".__pold-"))
            throw new java.io.FileNotFoundException("injected: parent missing")
          else super.globStatus(p)
      })
    assert(rows(freshTable) === Set((1L, "2024-01-01", "a")),
      "a missing-parent FNF on the backup glob must not fail the first-ever create")
    // third branch: the verifying exists probe FAULTS — unverifiable
    // counts as present, so the FNF stays loud (with the probe
    // suppressed) even though the state might have been a clean create
    val probeFaults = new FilterFileSystem(fs) {
      private var existsCalls = 0
      override def globStatus(p: Path): Array[org.apache.hadoop.fs.FileStatus] =
        if (p.toString.contains(".__pold-"))
          throw new java.io.FileNotFoundException("injected: spurious not-found")
        else super.globStatus(p)
      override def exists(p: Path): Boolean = {
        existsCalls += 1
        if (existsCalls == 1) throw new RuntimeException("injected: probe fault")
        else super.exists(p)
      }
    }
    val loud = intercept[java.io.FileNotFoundException] {
      ParquetWarehouse.upsertPartitionedLocked(
        df((1L, "2024-01-01", "D")), dir, Seq("id", "date"), "date",
        spark, new Path(dir), probeFaults)
    }
    assert(loud.getSuppressed.exists(_.getMessage.contains("probe fault")),
      "unverifiable presence rides the rethrow as suppressed")
    assert(rows(dir) === Set((1L, "2024-01-01", "A"), (2L, "2024-01-02", "b")))
  }
}

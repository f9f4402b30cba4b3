#!/usr/bin/env bash
# One-command verify gate — runs the FULL recipe, reports every stage and
# fails loudly if any stage failed, so no commit ships on a partial check:
#
#   0. tools/leakcopy_check.py (leak + verbatim-reference-line scan over
#      tracked files — mirrors the driver's LEAKCHECK/COPYCHECK sweeps
#      so a leak can't sit in the repo between rounds)
#   1. graft.Verify at sf0.01  (dump every query result + oracle SQL)
#   2. graft.Bench plans-only  (dump formatted plans at the bench SF)
#   3. tools/check.py          (DuckDB oracle compare; exits 1 on mismatch)
#   4. tools/plan_digest.py + diff -rq vs plans/  (plan-shape regression)
#   5. sbt test                (all operator specs)
#
# Every stage runs whatever an earlier one returned: a failing stage is
# recorded, and the script ends with the list of failed stages and exits
# nonzero if there is one. Each sbt stage is its own batch invocation
# (sbt batch mode drops the rest of a command list at the first failing
# command), and `sbt test` runs last, so failing specs cannot hide the
# oracle compare or the digest diff. The timed bench is NOT part of the
# gate — plan digests catch shape regressions cheaply; run
# `runMain graft.Bench` separately when numbers are the question.
#
# Usage: tools/verify_all.sh            (from anywhere; cd's to the repo)
#   env overrides: SF_SMALL, SF_BENCH, OUT, PLANS
#   opt-in stages: SLOPE_MULT=<mult>, LOCK_SOAK=<iters> (see below)
set -euo pipefail
cd "$(dirname "$0")/.."

SF_SMALL=${SF_SMALL:-/root/testdata/sf0.01}
SF_BENCH=${SF_BENCH:-/root/testdata/sf0.1}
OUT=${OUT:-/tmp/verify_out}
PLANS=${PLANS:-/tmp/graft_plans}
DIGESTS=${DIGESTS:-/tmp/graft_plan_digests}
rm -rf "$OUT" "$PLANS" "$DIGESTS"

stage() { printf '\n== verify_all: %s ==\n' "$1"; }
FAILED=()
# run <name> <command...>: run one stage, record it if it fails
run() {
  local name=$1 rc=0
  shift
  stage "$name"
  "$@" || rc=$?
  if (( rc != 0 )); then
    FAILED+=("$name (exit $rc)")
    printf '== verify_all: FAILED: %s (exit %d) ==\n' "$name" "$rc"
  fi
}

digest_diff() {
  python3 tools/plan_digest.py "$PLANS" "$DIGESTS" &&
  # -x r*: per-round optimization deliverables (plans/r21/... formatted
  # before/after plans) live under plans/ but are not digests
  diff -rq -x 'r[0-9]*' plans "$DIGESTS"
}

run "leak/copy scan (tools/leakcopy_check.py)" python3 tools/leakcopy_check.py

run "Verify (sf=$SF_SMALL)" sbt -batch "runMain graft.Verify $SF_SMALL $OUT"

run "plan dump (sf=$SF_BENCH)" sbt -batch \
  "set run / envVars := Map(\"SPARK_GRAFT_SF_DIR\" -> \"$SF_BENCH\", \"SPARK_GRAFT_CPUS\" -> \"8\", \"SPARK_GRAFT_PLANS_ONLY\" -> \"1\", \"SPARK_GRAFT_EXPLAIN_DIR\" -> \"$PLANS\")" \
  "runMain graft.Bench"

run "DuckDB oracle compare" python3 tools/check.py "$SF_SMALL" "$OUT"

run "plan digest diff vs plans/" digest_diff

run "sbt test" sbt -batch test

# Opt-in scaling-slope probe (r18 verdict #3): SLOPE_MULT=3 tools/verify_all.sh
# Builds a referential-integrity-preserving mult-x copy of SF_BENCH
# (graft.ScaleTestData), runs the full rr-median suite at BOTH scales
# (ITERS=3 so the cold first pass is absorbed by the median; no noop
# series), then gates: any NON-exempt query whose slope exceeds
# mult x 1.5 — or any exempt query past its contract-quadratic budget
# mult^2 x 1.5, or any query erroring at scale — fails the recipe
# (tools/scaling_slope.py --gate; the four contract exemptions are
# pinned there). Opt-in like the lock soaks: two extra bench suites
# cost ~25-30 min, too slow for the per-commit gate, but a regression
# that turns a linear operator quadratic has no other gate until an
# sf1.0 run is re-done by hand.
slope_probe() {
  local SLOPE_DIR=${SLOPE_DIR:-/tmp/graft_slope}
  # one bench thread per core, as the tier-1 test run sets it
  local SLOPE_CPUS=${SPARK_GRAFT_CPUS:-$(nproc)}
  rm -rf "$SLOPE_DIR"
  mkdir -p "$SLOPE_DIR"
  sbt -batch \
    "runMain graft.ScaleTestData $SF_BENCH $SLOPE_DIR/scaled $SLOPE_MULT" \
    "set run / envVars := Map(\"SPARK_GRAFT_SF_DIR\" -> \"$SF_BENCH\", \"SPARK_GRAFT_CPUS\" -> \"$SLOPE_CPUS\", \"SPARK_GRAFT_ITERS\" -> \"3\", \"SPARK_GRAFT_ORDER\" -> \"roundrobin\", \"SPARK_GRAFT_NOOP\" -> \"0\", \"SPARK_GRAFT_MEDIANS_FILE\" -> \"$SLOPE_DIR/small.json\", \"SPARK_GRAFT_RUNS_FILE\" -> \"$SLOPE_DIR/small_runs.json\")" \
    "runMain graft.Bench" \
    "set run / envVars := Map(\"SPARK_GRAFT_SF_DIR\" -> \"$SLOPE_DIR/scaled\", \"SPARK_GRAFT_CPUS\" -> \"$SLOPE_CPUS\", \"SPARK_GRAFT_ITERS\" -> \"3\", \"SPARK_GRAFT_ORDER\" -> \"roundrobin\", \"SPARK_GRAFT_NOOP\" -> \"0\", \"SPARK_GRAFT_MEDIANS_FILE\" -> \"$SLOPE_DIR/big.json\", \"SPARK_GRAFT_RUNS_FILE\" -> \"$SLOPE_DIR/big_runs.json\")" \
    "runMain graft.Bench" &&
  python3 tools/scaling_slope.py "$SLOPE_DIR/small.json" "$SLOPE_DIR/big.json" --gate "$SLOPE_MULT"
}
if [[ -n "${SLOPE_MULT:-}" ]]; then
  run "scaling-slope probe (mult=$SLOPE_MULT)" slope_probe
fi

# Opt-in lock soaks: LOCK_SOAK=20 tools/verify_all.sh
# One stage, one sbt batch: graft.sources.LockSoak runs the writer-lock
# suites (WriterLockSpec + LockFaultInjectionSpec) <iters> times in one
# JVM, then graft.sources.CrossProcessLockSoak contends 4 writer JVMs x 8
# upserts on one table. Timing-sensitive concurrency evidence that one
# green `sbt test` cannot give, and a few minutes too slow for the
# per-commit gate.
if [[ -n "${LOCK_SOAK:-}" ]]; then
  run "lock soaks (LockSoak $LOCK_SOAK + CrossProcessLockSoak)" sbt -batch \
    "Test/runMain graft.sources.LockSoak $LOCK_SOAK" \
    "Test/runMain graft.sources.CrossProcessLockSoak"
fi

if (( ${#FAILED[@]} > 0 )); then
  stage "FAILED STAGES (${#FAILED[@]})"
  printf '  %s\n' "${FAILED[@]}"
  exit 1
fi
stage "ALL STAGES GREEN"

#!/usr/bin/env python3
"""The repository benchmark: one workload per run, one JSON result line.

    python3 perfbench/run.py --workload maef_cli --seed 1 --seconds 10 --trace 0

Run from the repository root. The first run in a checkout builds the
program from source (sbt, offline) into perfbench/target; later runs start
the JVM directly. Inputs are generated from the seed into .perfbench_work/
(cached per seed and size). After the timed passes the outputs are checked
against independent DuckDB computations (checks.py).

--trace 0 reports the end-to-end metrics of BENCHMARK.json, --trace 1 the
per-layer metrics (and writes span JSONL under .perfbench_work/trace/).
The last stdout line is the result:
    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
Exit status is non-zero, with no result line, if the benchmark could not
run at all (no sources to build, build failure, JVM crash or timeout).
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402

ROOT = gen.ROOT
WORK = os.path.join(ROOT, ".perfbench_work")
JVM_TIMEOUT_S = 160
# A fixed heap (-Xms = -Xmx) with a fixed young generation (-Xmn): G1 then
# neither resizes the heap nor the young generation with timing, so GC
# frequency follows the allocation alone and peak_heap_mb (heap in use
# after each GC, see HeapAfterGc) is steady between identical runs.
JVM_HEAP = "2g"
JVM_YOUNG = "256m"
# what spark-submit would pass on JDK 17 (same list as the root build.sbt)
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


class BenchError(Exception):
    """The benchmark cannot produce a result."""


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit))) if submit else None
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        raise BenchError("no Spark installation found (set SPARK_HOME)")
    return home


def source_stamp():
    """Digest of everything the build compiles, so a checkout builds once."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        files = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def ensure_build():
    """Compile (once per source state) and return the runtime classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        raise BenchError("program sources (src/main/scala) not found next to perfbench/")
    cp_file = os.path.join(HERE, "target", "classpath.txt")
    stamp_file = os.path.join(HERE, "target", "source.stamp")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return open(cp_file).read().strip()
    sbt = shutil.which("sbt")
    if not sbt:
        raise BenchError("sbt not found on PATH")
    os.makedirs(WORK, exist_ok=True)
    # JAVA_TOOL_OPTIONS reaches every JVM the sbt script starts, including
    # its version probe: none of them leaves an hsperfdata file behind
    env = dict(os.environ, SPARK_HOME=spark_home(), JAVA_TOOL_OPTIONS="-XX:-UsePerfData")
    with open(os.path.join(WORK, "build.log"), "w") as log:
        tmp = os.path.join(WORK, "tmp")
        os.makedirs(tmp, exist_ok=True)
        rc = subprocess.run([sbt, "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
                             f"-Djava.io.tmpdir={tmp}", "writeClasspath"],
                            cwd=HERE, env=env, stdout=log, stderr=subprocess.STDOUT,
                            stdin=subprocess.DEVNULL, timeout=840).returncode
    if rc != 0 or not os.path.exists(cp_file):
        raise BenchError(f"build failed (exit {rc}); see .perfbench_work/build.log")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return open(cp_file).read().strip()


def run_jvm(classpath, workload, input_dir, seconds, trace, seed):
    """Run one BenchMain process; returns its result document."""
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else shutil.which("java")
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    out = os.path.join(WORK, f"result-{workload}.json")
    if os.path.exists(out):
        os.remove(out)
    log = os.path.join(WORK, f"jvm-{workload}.log")
    # -XX:-UsePerfData: no hsperfdata file in the system temp directory
    cmd = [java, *ADD_OPENS, f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", f"-Xmn{JVM_YOUNG}",
           "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={tmp}",
           f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
           f"-Dperfbench.log={os.path.join(WORK, f'spark-{workload}.log')}",
           "-cp", classpath, "perfbench.BenchMain",
           "--workload", workload, "--input", input_dir, "--work", WORK,
           "--seconds", str(seconds), "--trace", str(trace), "--seed", str(seed),
           "--launch-ns", str(time.time_ns()), "--out", out]
    # Spark prefers SPARK_LOCAL_DIRS over spark.local.dir: keep both in WORK
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(WORK, "spark-local"))
    with open(log, "w") as lf:
        proc = subprocess.Popen(cmd, cwd=WORK, env=env, stdout=lf, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise BenchError(f"JVM exceeded {JVM_TIMEOUT_S}s; see {log}")
    if rc != 0 or not os.path.exists(out):
        raise BenchError(f"JVM exited {rc}; see {log}")
    with open(out) as f:
        return json.load(f)


def end_to_end(res):
    if not res["peak_heap_mb"]:
        raise BenchError("no garbage collection ran during the timed passes: no peak_heap_mb")
    return {
        "setup_s": res["setup_s"],
        "pass_s": statistics.median(res["pass_s"]),
        "cpu_s": statistics.median(res["cpu_s"]),
        "peak_heap_mb": statistics.median(res["peak_heap_mb"]),
    }


def result_line(bench, res, check_results, trace):
    """The final JSON object: counts include the check operations."""
    attempted = res["attempted"] + len(check_results)
    failed = res["failed"] + sum(1 for _, why in check_results if why)
    if trace:
        values = {m["name"]: res["layer"].get(m["name"], 0.0) for m in bench["per_layer"]}
        units = {m["name"]: m["unit"] for m in bench["per_layer"]}
    else:
        values = end_to_end(res)
        units = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": {n: {"value": values[n], "unit": units[n]} for n in units}}


def main(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(gen.SIZES))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = p.parse_args(argv)
    try:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            bench = json.load(f)
        classpath = ensure_build()
        input_dir = gen.ensure_inputs(a.workload, a.seed, os.path.join(WORK, "inputs"))
        res = run_jvm(classpath, a.workload, input_dir, a.seconds, a.trace, a.seed)
        e2e = end_to_end(res)
        import checks  # duckdb/pandas load only once there is something to check
        check_results = checks.CHECKS[a.workload](input_dir, res["facts"])
    except (BenchError, OSError, subprocess.SubprocessError) as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2
    for name, why in check_results:
        if why:
            print(f"perfbench: check {name} FAILED: {why}", file=sys.stderr)
    for err in res["errors"]:
        print(f"perfbench: operation failed: {err}", file=sys.stderr)
    line = result_line(bench, res, check_results, a.trace)
    print(f"# {a.workload} seed={a.seed} passes={len(res['pass_s'])} "
          + " ".join(f"{k}={v:.4f}" for k, v in e2e.items())
          + f" error_rate={line['failed'] / line['attempted']:.4f}"
          + " passes_s=" + ",".join(f"{x:.3f}" for x in res["pass_s"]))
    print(json.dumps(line))
    return 0


if __name__ == "__main__":
    sys.exit(main())

#!/usr/bin/env python3
"""Self-tests of the benchmark harness (no JVM needed, a few seconds):

    python3 perfbench/selftest.py

- the generators are deterministic in the seed;
- per-pass medians and operation/error counting in the result line;
- a deliberately wrong output is reported as a failed operation — not as a
  crash and not as a pass.
"""
import hashlib
import json
import os
import sys
import tempfile
import unittest

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import duckdb  # noqa: E402
import pandas as pd  # noqa: E402

import checks  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402

# scratch space inside the checkout, like the benchmark itself
tempfile.tempdir = os.path.join(run.WORK, "selftest")
os.makedirs(tempfile.tempdir, exist_ok=True)

SMALL = {
    "maef_cli": {"users": 300},
    "dedup_corpus": {"docs": 120, "vectors": 60},
}


def digest(d):
    h = hashlib.sha256()
    for name in sorted(os.listdir(d)):
        h.update(name.encode())
        with open(os.path.join(d, name), "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def generate(workload, seed, root):
    out = tempfile.mkdtemp(dir=root)
    gen.GENERATORS[workload](seed, out, **SMALL[workload])
    return out


class GeneratorTest(unittest.TestCase):
    def test_same_seed_same_bytes_other_seed_other_bytes(self):
        with tempfile.TemporaryDirectory() as root:
            for w in gen.GENERATORS:
                with self.subTest(workload=w):
                    a, b, c = (generate(w, s, root) for s in (7, 7, 8))
                    self.assertEqual(digest(a), digest(b))
                    self.assertNotEqual(digest(a), digest(c))

    def test_cache_is_keyed_by_seed_and_size(self):
        with tempfile.TemporaryDirectory() as root:
            a = gen.ensure_inputs("dedup_corpus", 3, root)
            self.assertEqual(a, gen.ensure_inputs("dedup_corpus", 3, root))
            self.assertNotEqual(a, gen.ensure_inputs("dedup_corpus", 4, root))

    def test_maef_shape(self):
        conv, sess, costs = gen.maef_rows(5, 2000)
        self.assertTrue(1.2 < len(conv) / 2000 < 1.6)
        self.assertTrue(2.5 < len(sess) / 2000 < 4.5)
        self.assertEqual({s[4] for s in sess}, set(gen.CHANNELS))
        self.assertEqual(len({c[0] for c in conv}), len(conv))


class CountingTest(unittest.TestCase):
    BENCH = {"end_to_end": [{"name": n, "unit": "s"} for n in ("setup_s", "pass_s", "cpu_s")]
             + [{"name": "peak_heap_mb", "unit": "MB"}],
             "per_layer": [{"name": "exec.task_s", "unit": "s"}, {"name": "q18.exec_s", "unit": "s"}]}
    RES = {"setup_s": 9.5, "pass_s": [3.0, 1.0, 2.0, 10.0], "cpu_s": [4.0, 2.0, 3.0],
           "peak_heap_mb": [300.0, 250.0, 280.0], "attempted": 12, "failed": 1, "layer": {"exec.task_s": 4.5}}

    def test_checks_count_as_operations(self):
        line = run.result_line(self.BENCH, self.RES, [("a", None), ("b", "wrong")], trace=0)
        self.assertEqual((line["attempted"], line["failed"], line["correct"]), (14, 2, False))
        # medians over passes: even count averages the middle two
        self.assertEqual(line["metrics"]["pass_s"], {"value": 2.5, "unit": "s"})
        self.assertEqual(line["metrics"]["cpu_s"]["value"], 3.0)
        self.assertEqual(line["metrics"]["setup_s"]["value"], 9.5)
        self.assertEqual(line["metrics"]["peak_heap_mb"]["value"], 280.0)
        self.assertEqual(set(line["metrics"]), {"setup_s", "pass_s", "cpu_s", "peak_heap_mb"})

    def test_clean_run_is_correct(self):
        res = dict(self.RES, failed=0)
        line = run.result_line(self.BENCH, res, [("a", None)], trace=0)
        self.assertEqual((line["attempted"], line["failed"], line["correct"]), (13, 0, True))

    def test_trace_reports_every_layer_metric(self):
        line = run.result_line(self.BENCH, dict(self.RES, failed=0), [], trace=1)
        self.assertEqual(line["metrics"]["exec.task_s"]["value"], 4.5)
        self.assertEqual(line["metrics"]["q18.exec_s"]["value"], 0.0)  # layer not on this workload


class WrongOutputTest(unittest.TestCase):
    """Outputs are produced here the way the program should produce them,
    then corrupted: the checks must name a failed operation."""

    # a warm pass (full batch) then three partial re-attributions
    BATCHES = [{"pass": 0, "full": True}] + [{"pass": p, "full": False} for p in (1, 2, 3)]

    def attribution_outputs(self, root, table_of):
        """api_response.json with Σihc = 1 per conversion, and the
        attribution_customer_journey table `table_of(records)` leaves."""
        inp = generate("maef_cli", 4, root)
        con = checks.maef_expected(os.path.join(inp, "warehouse.db"))
        recs = con.execute("""
            SELECT conv_id AS conversion_id, session_id,
                   1.0 / count(*) OVER (PARTITION BY conv_id) AS ihc
            FROM journeys ORDER BY 1, 2""").fetchdf()
        out = os.path.join(root, "out")
        os.makedirs(out)
        with open(os.path.join(out, "api_response.json"), "w") as f:
            json.dump([{"statusCode": 200, "value": recs.to_dict("records")}], f)
        rows = table_of(list(recs.itertuples(index=False, name=None)))
        acj = os.path.join(root, "acj")
        os.makedirs(acj)
        pd.DataFrame(rows, columns=["conv_id", "session_id", "ihc"]).to_parquet(
            os.path.join(acj, "part-0.parquet"))
        return inp, {"out_dir": out, "acj": acj, "channel_reporting": os.path.join(root, "none"),
                     "artifacts": None, "batches": self.BATCHES}

    def acj_check(self, table_of):
        with tempfile.TemporaryDirectory() as root:
            res = dict(checks.check_maef(*self.attribution_outputs(root, table_of)))
            self.assertIsNone(res["maef.ihc_sums"])
            # outputs the fixture does not write are failed checks, not crashes
            self.assertTrue(res["maef.journeys"].startswith("check raised"))
            self.assertTrue(res["warehouse.channel_reporting"].startswith("check raised"))
            return res["warehouse.attribution_customer_journey"]

    def test_warehouse_last_wins_passes(self):
        self.assertIsNone(self.acj_check(
            lambda base: checks.last_wins(base, 2, 2, checks.acj_keep, self.BATCHES)))

    def test_warehouse_that_kept_old_rows_fails(self):
        # an upsert that kept the existing row instead of the incoming one
        why = self.acj_check(
            lambda base: checks.last_wins(base, 2, 2, checks.acj_keep, self.BATCHES, pick=min))
        self.assertIn("differs from last-wins", why)

    def test_warehouse_that_dropped_unbatched_rows_fails(self):
        # an upsert that replaced the table with the last batch
        last = self.BATCHES[-1:]
        why = self.acj_check(lambda base: checks.last_wins(base, 2, 2, checks.acj_keep, last))
        self.assertIn("rows", why)

    def test_batches_overlap_and_leave_keys_out(self):
        rows = [(f"{a}x", f"{b}y", 0.5) for a in "0123456789abcdef" for b in "0123456789abcdef"]
        for p in (1, 2, 3):
            kept = sum(checks.acj_keep(r, p) for r in rows)
            self.assertTrue(0 < kept < len(rows))

    def test_oracle_compare_catches_a_changed_value(self):
        compare = checks.oracle_compare()
        good = pd.DataFrame({"a": [1, 2], "b": [3, 4], "jaccard": [0.5, 0.75]})
        self.assertIsNone(compare("q18", good, good.copy()))
        bad = good.copy()
        bad.loc[1, "jaccard"] = 0.7500001
        self.assertIn("VAL", compare("q18", good, bad))

    def test_maef_broken_attribution_fails(self):
        with tempfile.TemporaryDirectory() as root:
            inp = generate("maef_cli", 4, root)
            con = checks.maef_expected(os.path.join(inp, "warehouse.db"))
            j = con.execute("SELECT conv_id, session_id FROM journeys ORDER BY 1, 2").fetchall()
            out = os.path.join(root, "out")
            os.makedirs(out)
            # every journey row gets ihc 0.5: sums are wrong wherever a
            # conversion's journey is not exactly two sessions long
            with open(os.path.join(out, "api_response.json"), "w") as f:
                json.dump([{"statusCode": 200, "value": [
                    {"conversion_id": c, "session_id": s, "ihc": 0.5} for c, s in j]}], f)
            with open(os.path.join(out, "target_data.json"), "w") as f:
                json.dump([{"conversion_id": c, "session_id": s} for c, s in j], f)
            with open(os.path.join(out, "channel_report.csv"), "w") as f:
                f.write("channel_name,date,cost,ihc,ihc_revenue,cpo,roas\n")
            res = dict(checks.check_maef(inp, {"out_dir": out, "artifacts": None, "batches": []}))
            self.assertIsNone(res["maef.journeys"])
            self.assertIn("sum(ihc) != 1", res["maef.ihc_sums"])
            self.assertIn("rows", res["maef.report"])
            self.assertIn("no artifacts", res["maef.artifact_counts"])
            line = run.result_line(CountingTest.BENCH, dict(CountingTest.RES, failed=0),
                                   list(res.items()), trace=0)
            # the warehouse tables were never written: two more failed checks
            self.assertEqual((line["failed"], line["correct"]), (5, False))


if __name__ == "__main__":
    unittest.main(verbosity=1)

"""Output checks, run after the timed passes against independent DuckDB
computations. Each check is one operation: it returns (name, None) when the
output is right and (name, why) when it is not; a check that throws counts
as failed too (see run_checks)."""
import csv
import importlib.util
import json
import os
import sqlite3

import duckdb
import pandas as pd

import gen

ROOT = gen.ROOT


def oracle_compare():
    """tools/check.py's `compare` — the same comparison the repo's oracle gate makes."""
    spec = importlib.util.spec_from_file_location(
        "graft_check", os.path.join(ROOT, "tools", "check.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.compare


def load_json(path):
    with open(path) as f:
        return json.load(f)


def run_checks(checks):
    """Run (name, thunk) pairs; thunk returns None or a failure reason."""
    out = []
    for name, thunk in checks:
        try:
            out.append((name, thunk()))
        except Exception as e:  # a crashing check is a failed operation, not a crash
            out.append((name, f"check raised {type(e).__name__}: {e}"))
    return out


# ---------------------------------------------------------------- maef_cli

# The keys a batch after the warm pass re-attributes: MaefCli.acjKeep and
# MaefCli.reportKeep in Workloads.scala.
def acj_keep(row, p):
    return (ord(row[0][0]) + ord(row[1][0])) % 4 != p % 4


def report_keep(row, p):
    return (len(row[0]) + int(row[1][8:10])) % 4 != p % 4


def last_wins(base, n_keys, ihc_col, keep, batches, pick=max):
    """The warehouse table the upsert batches must leave: every key of the
    (identical per pass) base rows, as written by the last batch that held
    it, whose ihc it shifted by pass / 1024. `pick=min` gives the table an
    upsert that kept existing rows would leave (selftest.py)."""
    out = []
    for row in base:
        held = [b["pass"] for b in batches if b["full"] or keep(row, b["pass"])]
        if held:
            row = list(row)
            if row[ihc_col] is not None:
                row[ihc_col] += pick(held) / 1024.0
            out.append(tuple(row))
    return sorted(out, key=lambda r: r[:n_keys])


def same_rows(table, got, exp, tol=1e-9):
    """None if the rows agree (numbers within tol), else the first difference."""
    if len(got) != len(exp):
        return f"{table} has {len(got)} rows, last-wins recomputation {len(exp)}"
    for g, e in zip(got, exp):
        for a, b in zip(g, e):
            if a != b and not (isinstance(a, float) and isinstance(b, float) and abs(a - b) <= tol):
                return f"{table} row {g} differs from last-wins recomputation {e}"
    return None


def maef_expected(db_path):
    """Journey rows, per-conversion journeys and the report's (channel, date)
    cells, computed in DuckDB from the generated warehouse rows."""
    con = duckdb.connect()
    src = sqlite3.connect(db_path)
    try:
        for t in ("conversions", "session_sources", "session_costs"):
            con.register(f"{t}_df", pd.read_sql(f"SELECT * FROM {t}", src))
            con.execute(f"CREATE TABLE {t} AS SELECT * FROM {t}_df")
    finally:
        src.close()
    lo, hi = gen.WINDOW
    con.execute(f"""
        CREATE TABLE journeys AS
        SELECT c.conv_id, s.session_id, s.channel_name, s.event_date
        FROM conversions c JOIN session_sources s ON c.user_id = s.user_id
        WHERE c.conv_date BETWEEN '{lo}' AND '{hi}'
          AND s.event_date || ' ' || s.event_time < c.conv_date || ' ' || c.conv_time""")
    return con


def check_maef(input_dir, facts):
    con = maef_expected(os.path.join(input_dir, "warehouse.db"))
    out = facts["out_dir"]

    def journeys():
        rows = load_json(os.path.join(out, "target_data.json"))
        want = con.execute("SELECT count(*) FROM journeys").fetchone()[0]
        if len(rows) != want:
            return f"target_data.json has {len(rows)} journey rows, DuckDB {want}"
        got = sorted((r["conversion_id"], r["session_id"]) for r in rows)
        exp = sorted(con.execute("SELECT conv_id, session_id FROM journeys").fetchall())
        return None if got == exp else "journey (conversion, session) pairs differ"

    def ihc_sums():
        env = load_json(os.path.join(out, "api_response.json"))
        recs = pd.DataFrame([r for e in env for r in e["value"]])
        con.register("ihc_df", recs)  # the later checks reconcile against these records
        sums = recs.groupby("conversion_id").agg(s=("ihc", "sum"), n=("ihc", "size"))
        # ihc is rounded to 4 decimals per row: allow half a unit per row
        bad = sums[(sums.s - 1.0).abs() > 5e-5 * sums.n + 1e-9]
        if len(bad):
            return f"{len(bad)} conversions with sum(ihc) != 1, e.g. {bad.index[0]}: {bad.s.iloc[0]}"
        want = con.execute("SELECT count(DISTINCT conv_id) FROM journeys").fetchone()[0]
        return None if len(sums) == want else f"{len(sums)} attributed conversions, DuckDB {want}"

    def report():
        with open(os.path.join(out, "channel_report.csv"), newline="") as f:
            got = {(r["channel_name"], r["date"]): r for r in csv.DictReader(f)}
        exp = con.execute("""
            SELECT j.channel_name, j.event_date, sum(a.ihc) AS ihc,
                   (SELECT sum(coalesce(k.cost, 0)) FROM session_sources s
                      LEFT JOIN session_costs k USING (session_id)
                    WHERE s.channel_name = j.channel_name AND s.event_date = j.event_date) AS cost
            FROM journeys j JOIN ihc_df a
              ON a.conversion_id = j.conv_id AND a.session_id = j.session_id
            WHERE j.event_date >= (SELECT min(conv_date) FROM conversions)
            GROUP BY 1, 2""").fetchall()
        if len(got) != len(exp):
            return f"channel_report.csv has {len(got)} rows, DuckDB {len(exp)}"
        for ch, day, ihc, cost in exp:
            r = got.get((ch, day))
            if r is None:
                return f"report row ({ch}, {day}) missing"
            if abs(float(r["ihc"]) - ihc) > 1e-6 or abs(float(r["cost"]) - cost) > 1e-6 * max(1, cost):
                return f"report row ({ch}, {day}): ihc {r['ihc']} cost {r['cost']}, DuckDB {ihc} {cost}"
        return None

    def counts():
        a = facts.get("artifacts")
        if a is None:
            return "MaefMain.run returned no artifacts"
        want = con.execute("SELECT count(*) FROM journeys").fetchone()[0]
        if a["transformed_rows"] != want or a["attribution_rows"] != want:
            return f"run reported {a['transformed_rows']}/{a['attribution_rows']} rows, DuckDB {want}"
        with open(os.path.join(out, "channel_report.csv")) as f:
            csv_rows = sum(1 for _ in f) - 1
        return None if a["report_rows"] == csv_rows else \
            f"run reported {a['report_rows']} report rows, channel_report.csv has {csv_rows}"

    def acj():
        got = con.execute(f"""
            SELECT conv_id, session_id, ihc FROM read_parquet('{facts["acj"]}/*.parquet')
            ORDER BY 1, 2""").fetchall()
        base = con.execute("SELECT conversion_id, session_id, ihc FROM ihc_df").fetchall()
        exp = last_wins(base, 2, 2, acj_keep, facts["batches"])
        return same_rows("attribution_customer_journey", got, exp)

    def reporting():
        got = con.execute(f"""
            SELECT channel_name, CAST(date AS VARCHAR), cost, ihc, ihc_revenue
            FROM read_parquet('{facts["channel_reporting"]}/*/*.parquet', hive_partitioning = true)
            ORDER BY 1, 2""").fetchall()
        base = con.execute(f"""
            SELECT channel_name, date, CAST(cost AS DOUBLE), CAST(ihc AS DOUBLE),
                   CAST(ihc_revenue AS DOUBLE)
            FROM read_csv('{out}/channel_report.csv', header = true, all_varchar = true)""").fetchall()
        exp = last_wins(base, 2, 3, report_keep, facts["batches"])
        return same_rows("channel_reporting", got, exp)

    return run_checks([("maef.journeys", journeys), ("maef.ihc_sums", ihc_sums),
                       ("maef.report", report), ("maef.artifact_counts", counts),
                       ("warehouse.attribution_customer_journey", acj),
                       ("warehouse.channel_reporting", reporting)])


# ------------------------------------------------------------ dedup_corpus

def check_dedup(input_dir, facts):
    compare = oracle_compare()
    check_dir = facts["check_dir"]
    oracle = load_json(os.path.join(check_dir, "oracle_sql.json"))
    con = duckdb.connect()
    for t in ("documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{input_dir}/{t}.parquet')")

    def one(name, sql):
        def thunk():
            spark_df = pd.read_parquet(os.path.join(check_dir, name))
            if len(spark_df) == 0:
                return "empty output: the corpus gives this query no work"
            return compare(name, spark_df, con.execute(sql).fetchdf())
        return thunk

    return run_checks([(f"{n}.oracle", one(n, s)) for n, s in sorted(oracle.items())])


CHECKS = {"maef_cli": check_maef, "dedup_corpus": check_dedup}

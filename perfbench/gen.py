"""Seeded input generators for the benchmark workloads.

Every generator takes the seed and a size, writes into an output directory
and returns nothing else: the same (seed, size) always yields byte-identical
files (selftest.py pins this). Sizes live in SIZES so BENCHMARK.json's
workload descriptions, the baseline record and the generators agree.

  maef_cli          SQLite warehouse in the reference DDL (conversions,
                    session_sources, session_costs), written with the stock
                    sqlite3 module the reference itself uses.
  dedup_corpus      documents.parquet + embeddings.parquet in the harness
                    schema, with injected near-duplicate chains so the
                    Jaccard / MinHash / SimHash / cosine queries and the
                    connected-components loops have real work.
"""
import datetime as dt
import hashlib
import importlib.util
import os
import shutil
import sqlite3

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

SIZES = {
    "maef_cli": {"users": 4000},
    "dedup_corpus": {"docs": 600, "vectors": 400},
}

# The 13 channel names observed in the reference's channel report (FIXTURES.md).
CHANNELS = [
    "Affiliate & Partnerships", "Direct Traffic", "FB & IG Ads", "Microsoft Ads",
    "Newsletter & Email", "Organic Traffic", "Paid Search Brand",
    "Paid Search Non Brand", "Performance Max", "Referral", "Social Organic",
    "TikTok Ads", "Untracked Conversions",
]
# Skewed channel mix: paid search and direct dominate, long tail after.
CHANNEL_WEIGHTS = np.array([3, 14, 9, 4, 6, 12, 16, 11, 7, 5, 4, 6, 3], dtype=float)

WINDOW = ("2023-08-01", "2023-09-30")

VOCAB = ("batch part spark line column order small sort fast value scan hash "
         "slow group agg filter query a big key window row table stream merge "
         "data join vector customer the sql").split()
LANGS = ["en", "zh", "de", "fr", "es"]


def reference_ddl():
    """REFERENCE_DDL from tools/make_sqlite_fixture.py, loaded without running it."""
    path = os.path.join(ROOT, "tools", "make_sqlite_fixture.py")
    spec = importlib.util.spec_from_file_location("make_sqlite_fixture", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.REFERENCE_DDL


def hex_ids(seed, kind, n):
    """n distinct 64-hex-char ids, like the reference's warehouse keys."""
    return [hashlib.sha256(f"{seed}:{kind}:{i}".encode()).hexdigest() for i in range(n)]


def _days(start, end):
    d0 = dt.date.fromisoformat(start)
    return [(d0 + dt.timedelta(days=i)).isoformat()
            for i in range((dt.date.fromisoformat(end) - d0).days + 1)]


def _times(rng, n):
    secs = rng.integers(0, 86400, n)
    return [f"{s // 3600:02d}:{s // 60 % 60:02d}:{s % 60:02d}" for s in secs.tolist()]


def maef_rows(seed, users):
    """(conversions, session_sources, session_costs) row lists.

    Per user: 1 + Poisson(0.375) conversions and a heavy-tailed session count
    (1 + geometric, mean ~3.5, capped at 40), so journeys are mostly short
    with a long tail like the reference's (1-37 sessions, mean ~2).
    Sessions start a few weeks before the attribution window; some
    conversions fall after it, so the window filter has work to do."""
    rng = np.random.default_rng([seed, 1])
    n_conv = 1 + rng.poisson(0.375, users)
    n_sess = np.minimum(1 + rng.geometric(0.4, users), 40)
    uid = hex_ids(seed, "user", users)
    sess_days = _days("2023-07-10", WINDOW[1])
    conv_days = _days(WINDOW[0], "2023-10-07")

    c_total, s_total = int(n_conv.sum()), int(n_sess.sum())
    c_user = np.repeat(np.arange(users), n_conv)
    s_user = np.repeat(np.arange(users), n_sess)
    c_day = rng.integers(0, len(conv_days), c_total)
    s_day = rng.integers(0, len(sess_days), s_total)
    revenue = np.round(rng.lognormal(3.5, 0.8, c_total), 2)
    channel = rng.choice(len(CHANNELS), s_total, p=CHANNEL_WEIGHTS / CHANNEL_WEIGHTS.sum())
    flags = rng.integers(0, 2, (s_total, 3))
    has_cost = rng.random(s_total) < 0.8
    null_cost = rng.random(s_total) < 0.05
    cost = np.round(rng.gamma(2.0, 0.6, s_total), 4)

    conv_ids = hex_ids(seed, "conv", c_total)
    sess_ids = hex_ids(seed, "sess", s_total)
    c_times, s_times = _times(rng, c_total), _times(rng, s_total)
    conversions = [
        (conv_ids[i], uid[c_user[i]], conv_days[c_day[i]], c_times[i], float(revenue[i]))
        for i in range(c_total)]
    sessions = [
        (sess_ids[i], uid[s_user[i]], sess_days[s_day[i]], s_times[i], CHANNELS[channel[i]],
         int(flags[i, 0]), int(flags[i, 1]), int(flags[i, 2]))
        for i in range(s_total)]
    costs = [(sess_ids[i], None if null_cost[i] else float(cost[i]))
             for i in range(s_total) if has_cost[i]]
    return conversions, sessions, costs


def gen_maef(seed, out_dir, users):
    conversions, sessions, costs = maef_rows(seed, users)
    path = os.path.join(out_dir, "warehouse.db")
    con = sqlite3.connect(path)
    try:
        con.executescript(reference_ddl())
        con.executemany("INSERT INTO conversions VALUES (?,?,?,?,?)", conversions)
        con.executemany("INSERT INTO session_sources VALUES (?,?,?,?,?,?,?,?)", sessions)
        con.executemany("INSERT INTO session_costs VALUES (?,?)", costs)
        con.commit()
    finally:
        con.close()


def _edit_chain(rng, length, hops, edits):
    """A chain of `hops + 1` near-duplicate docs of `length` words: each hop
    substitutes `edits` words at evenly spread positions, so neighbours stay
    above Jaccard 0.5 on word 3-shingles and docs two hops apart fall below
    it — every chain is one component of diameter `hops`, whatever the seed."""
    doc = [VOCAB[j] for j in rng.integers(0, len(VOCAB), length).tolist()]
    chain = [doc]
    gap = length // edits
    for _ in range(hops):
        doc = list(doc)
        for k in range(edits):
            pos = k * gap + int(rng.integers(0, gap))
            doc[pos] = VOCAB[(VOCAB.index(doc[pos]) + int(rng.integers(1, len(VOCAB)))) % len(VOCAB)]
        chain.append(doc)
    return chain


def gen_dedup(seed, out_dir, docs, vectors):
    """Fixed cluster structure, seeded content: a fifth of the docs form
    3-doc edit chains (components of diameter 2, so the iterative
    connected-components loops run the same number of rounds for every
    seed); the rest are independent random docs. A fifth of the vectors are
    noisy copies of another vector (cosine well above the 0.4 gate)."""
    rng = np.random.default_rng([seed, 2])
    words = []
    for _ in range(docs // 15):
        words.extend(_edit_chain(rng, 60, 2, 5))
    while len(words) < docs:
        words.append([VOCAB[j] for j in rng.integers(0, len(VOCAB), int(rng.integers(8, 100))).tolist()])
    order = rng.permutation(docs)  # chains are not contiguous in doc_id
    text = [" ".join(words[i]) for i in order.tolist()]
    pq.write_table(pa.table({
        "doc_id": pa.array(np.arange(docs), pa.int64()),
        "text": pa.array(text, pa.string()),
        "lang": pa.array([LANGS[j] for j in rng.choice(5, docs, p=[.4, .15, .15, .15, .15])],
                         pa.string()),
        "source": pa.array([f"src{j}" for j in rng.integers(0, 20, docs).tolist()], pa.string()),
        "n_chars": pa.array([len(t) for t in text], pa.int64()),
    }), os.path.join(out_dir, "documents.parquet"))

    vec = rng.standard_normal((vectors, 64)).astype(np.float32)
    n_copies = vectors // 5
    src, dst = rng.permutation(vectors)[: 2 * n_copies].reshape(2, n_copies)
    vec[dst] = vec[src] + rng.standard_normal((n_copies, 64)).astype(np.float32) * 0.8
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    pq.write_table(pa.table({
        "vec_id": pa.array(np.arange(vectors), pa.int64()),
        "embedding": pa.array([v.tolist() for v in vec], pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, vectors), pa.int32()),
    }), os.path.join(out_dir, "embeddings.parquet"))


GENERATORS = {"maef_cli": gen_maef, "dedup_corpus": gen_dedup}


def ensure_inputs(workload, seed, cache_root):
    """Generate (once per seed and size) and return the input directory."""
    size = SIZES[workload]
    tag = "-".join(f"{k}{v}" for k, v in sorted(size.items()))
    out = os.path.join(cache_root, f"{workload}-{tag}-seed{seed}")
    if os.path.exists(os.path.join(out, "_DONE")):
        return out
    tmp = out + ".tmp"
    if os.path.exists(tmp):
        shutil.rmtree(tmp)
    os.makedirs(tmp)
    GENERATORS[workload](seed, tmp, **size)
    open(os.path.join(tmp, "_DONE"), "w").close()
    os.rename(tmp, out)
    return out

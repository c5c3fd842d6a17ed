"""Seeded input generation for the benchmark workloads.

Every input the program sees is made here from the workload seed: the
TPC-H-shaped tables and the `events` / `documents` tables that the queries
read (same column names, types and value domains as the repository's
sf0.1 test data, scaled down), and the mosaic run specs (envelopes, times,
refresh slices and region picks). The same seed always gives byte-identical
files; `fingerprint` hashes a generated directory so tests can prove it.
"""
import datetime as dt
import hashlib
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Query names per workload. Every one has a DuckDB twin in
# SparkEntry.oracleSql, so each op's output is checked.
CORPUS_QUERIES = ["q128_cluster_sizes", "q162_streamed_sink"]
QUERY_MIX = [
    "q01_pricing_summary", "q02_filter_project", "q03_broadcast_join",
    "q04_anti_join", "q05_semi_join", "q08_window_funcs", "q11_topk",
    "q13_snap_year", "q16_required_scenes", "q18_incremental_missing",
    "q19_masked_mean", "q21_coarsen",
]

# Scale of the query tables: rows = sf0.1 rows x QUERY_SCALE / 0.1.
QUERY_SCALE = 0.02
CORPUS_DOCS = 800

EPOCH = dt.datetime(1970, 1, 1)
WORDS = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part fast "
         "row the agg key query a scan batch").split()
ADJ = "hot old red small new large cold blue".split()
NOUN = "bolt plate gear ring rod anvil widget gizmo".split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "zh", "de", "es", "fr"]
LANG_P = [0.41, 0.15, 0.14, 0.15, 0.15]
TS = pa.timestamp("us")


def _micros(d):
    return int((d - EPOCH).total_seconds()) * 1_000_000


def _days(rng, lo, hi, n):
    """n day-aligned timestamps (epoch micros) uniform in [lo, hi]."""
    span = (hi - lo).days
    return _micros(lo) + rng.integers(0, span + 1, n) * 86_400_000_000


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


def relational_tables(out, rng, sf):
    """region .. lineitem and events at `sf` (sf0.1 = 600k lineitems)."""
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_li, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    _write(out, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    _write(out, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(rng.integers(0, 5, 25), pa.int32())})
    _write(out, "customer", {
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n_cust)]})
    _write(out, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    keys = np.arange(n_part)
    _write(out, "part", {
        "p_partkey": pa.array(keys, pa.int64()),
        "p_name": [f"{ADJ[a]} {NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": [PTYPES[i] for i in rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + (keys % 1000) * 0.1, 2)})
    _write(out, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": pa.array(_days(rng, dt.datetime(1995, 1, 1),
                                      dt.datetime(2001, 8, 1), n_ord), TS),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, n_ord)]})
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    _write(out, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n_li)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, n_li)],
        "l_shipdate": pa.array(_days(rng, dt.datetime(1995, 1, 2),
                                     dt.datetime(2001, 11, 4), n_li), TS)})
    month = 30 * 86_400_000_000
    _write(out, "events", {
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(_micros(dt.datetime(2024, 1, 1))
                       + np.sort(rng.integers(0, month, n_ev)), TS),
        "user_id": pa.array(rng.integers(0, max(1, int(15_000 * sf)), n_ev), pa.int64()),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(60.0, n_ev), 2),
        "props": [f'{{"k": {i}}}' for i in rng.integers(0, 100, n_ev)]})


def documents_table(out, rng, n_docs):
    """Bag-of-words documents like sf0.1's: 10-99 words over a 30-word
    vocabulary; 5% are near-duplicates (an earlier document plus " dup")
    and a few are exact copies, so the dedup paths find real pairs."""
    texts = []
    for i in range(n_docs):
        r = rng.random()
        if i > 0 and r < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        elif i > 0 and r < 0.052:
            texts.append(texts[int(rng.integers(0, i))])
        else:
            n = int(rng.integers(10, 100))
            texts.append(" ".join(WORDS[w] for w in rng.integers(0, len(WORDS), n)))
    _write(out, "documents", {
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": texts,
        "lang": [LANGS[i] for i in rng.choice(len(LANGS), n_docs, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})


def mosaic_spec(rng, workload):
    """Envelopes (1-degree tiles), annual times and check samples.

    mosaic_build: one seeded 4x3-tile envelope and two years per op.
    mosaic_refresh: a 10x2-tile base store over two years; each op adds the
    east strip (10% new chunks) and reads four seeded regions.
    """
    def origin(w, h):
        return int(rng.integers(-170, 170 - w)), int(rng.integers(-60, 60 - h))

    def years():
        return sorted(int(y) for y in rng.choice(np.arange(2021, 2025), 2, replace=False))

    if workload == "mosaic_build":
        ops = []
        for _ in range(64):
            x0, y0 = origin(4, 3)
            ops.append({"x0": x0, "y0": y0, "w": 4, "h": 3, "years": years(),
                        "sample": int(rng.integers(0, 1 << 30))})
        return {"chunk_px": 16, "ops": ops, "round_s": 1.4}
    x0, y0 = origin(11, 2)
    ops = [{"regions": [int(r) for r in rng.integers(0, 1 << 30, 4)],
            "sample": int(rng.integers(0, 1 << 30))} for _ in range(64)]
    return {"chunk_px": 16, "region_budget": 65536, "ops": ops, "round_s": 1.6,
            "base": {"x0": x0, "y0": y0, "w": 10, "h": 2, "years": years()}}


def generate(out, workload, seed):
    """Write the inputs of one (workload, seed) into `out`; idempotent."""
    done = os.path.join(out, "spec.json")
    if os.path.exists(done):
        with open(done) as f:
            return json.load(f)
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng([seed, sum(map(ord, workload))])
    spec = {"workload": workload, "seed": seed}
    if workload in ("mosaic_build", "mosaic_refresh"):
        spec.update(mosaic_spec(rng, workload))
    else:
        tables = os.path.join(out, "tables")
        os.makedirs(tables)
        if workload == "corpus_dedup":
            documents_table(tables, rng, CORPUS_DOCS)
            spec["queries"] = CORPUS_QUERIES
            spec["items_per_op"] = CORPUS_DOCS
            spec["round_s"] = 12.0
        else:
            relational_tables(tables, rng, QUERY_SCALE)
            documents_table(tables, rng, int(50_000 * QUERY_SCALE))
            spec["queries"] = QUERY_MIX
            spec["items_per_op"] = 1
            spec["round_s"] = 8.0
        spec["tables"] = "tables"
    tmp = done + ".tmp"
    with open(tmp, "w") as f:
        json.dump(spec, f, indent=1)
    os.replace(tmp, done)
    return spec


def fingerprint(out):
    """sha256 over every generated file's relative path and bytes."""
    h = hashlib.sha256()
    for root, dirs, files in os.walk(out):
        dirs.sort()
        for name in sorted(files):
            p = os.path.join(root, name)
            h.update(os.path.relpath(p, out).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()

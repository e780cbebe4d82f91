"""The batch workload: ``bench.py``'s headline queries plus three of the
largest operator families, in a fixed order, with a ``noop`` sink.

The tables are generated from the seed into the run's own directory, with
the schemas, value domains and TIMESTAMP(NANOS) columns of the
repository's sf0.01 test tables (TPC-H-like star schema, an events stream,
a text corpus and an embedding table).
Every query's row count is checked against the DuckDB oracle SQL the
inventory registers for it, on the same parquet files.
"""

from __future__ import annotations

import datetime as dt
import os
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from perfbench.common import HostSampler, log, median

EXTRA_QUERIES = ["bm25_corpus_search", "ann_ivf_topk", "substring_dedup_stats"]

# rows per table; "full" is the shape of the repository's sf0.01 tables,
# "tiny" is for the benchmark's own smoke test
SCALES = {
    "full": {"customer": 1500, "supplier": 100, "part": 2000,
             "orders": 15000, "lineitem": 60000, "events": 10000,
             "users": 150, "documents": 800, "embeddings": 800},
    "tiny": {"customer": 60, "supplier": 10, "part": 80, "orders": 400,
             "lineitem": 1600, "events": 600, "users": 30,
             "documents": 120, "embeddings": 120},
}

WORDS = ("a agg batch big column customer data dup fast filter group hash "
         "join key line merge order part query row scan slow small sort "
         "spark stream table the value vector window").split()
LANGS = ["en", "en", "en", "zh", "es", "de", "fr"]
EMB_DIM = 64
SETUPS = 3


def query_names() -> list[str]:
    from bench import BENCH_QUERIES

    return list(BENCH_QUERIES) + EXTRA_QUERIES


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _ts(start: dt.datetime, seconds: np.ndarray) -> pa.Array:
    """TIMESTAMP(NANOS), as in the repository's tables, on whole
    microseconds."""
    base = np.datetime64(start, "ns")
    nanos = (seconds * 1e6).astype(np.int64) * 1000
    return pa.array(base + nanos.astype("timedelta64[ns]"),
                    type=pa.timestamp("ns"))


def _days(start: dt.datetime, days: np.ndarray) -> pa.Array:
    return _ts(start, days.astype(np.int64) * 86400)


def generate_tables(out_dir: str, seed: int, scale: str) -> None:
    """Write the ten tables as one parquet file each."""
    n = SCALES[scale]
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)

    def write(name: str, cols: dict) -> None:
        pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))

    regions = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
    write("region", {"r_regionkey": pa.array(range(5), pa.int32()),
                     "r_name": regions})
    write("nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    nc = n["customer"]
    write("customer", {
        "c_custkey": np.arange(nc, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, nc),
        "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                    "HOUSEHOLD", "MACHINERY"], nc)})
    ns = n["supplier"]
    write("supplier", {
        "s_suppkey": np.arange(ns, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, ns)})
    npart = n["part"]
    write("part", {
        "p_partkey": np.arange(npart, dtype=np.int64),
        "p_name": [f"{a} {b}" for a, b in zip(
            rng.choice(["small", "red", "blue", "large", "green"], npart),
            rng.choice(["ring", "widget", "bolt", "gear", "valve"], npart))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, npart)],
        "p_type": rng.choice(["ECONOMY", "SMALL", "STANDARD", "LARGE",
                              "PROMO"], npart),
        "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
        "p_retailprice": np.round(900 + np.arange(npart) * 0.1, 2)})
    no = n["orders"]
    write("orders", {
        "o_orderkey": np.arange(no, dtype=np.int64),
        "o_custkey": rng.integers(0, nc, no),
        "o_orderstatus": rng.choice(["F", "O", "P"], no),
        "o_totalprice": _money(rng, 1000, 400000, no),
        "o_orderdate": _days(dt.datetime(1995, 1, 1), rng.integers(0, 2404, no)),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], no)})
    nl = n["lineitem"]
    write("lineitem", {
        "l_orderkey": rng.integers(0, no, nl),
        "l_partkey": rng.integers(0, npart, nl),
        "l_suppkey": rng.integers(0, ns, nl),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105000, nl),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], nl),
        "l_linestatus": rng.choice(["F", "O"], nl),
        "l_shipdate": _days(dt.datetime(1995, 1, 2), rng.integers(0, 2498, nl))})
    ne = n["events"]
    write("events", {
        "event_id": np.arange(ne, dtype=np.int64),
        "ts": _ts(dt.datetime(2024, 1, 1),
                  np.sort(rng.uniform(0, 30 * 86400, ne))),
        "user_id": rng.integers(0, n["users"], ne),
        "event_type": rng.choice(["click", "view", "purchase", "signup",
                                  "error"], ne),
        "value": _money(rng, 0, 100, ne),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]})
    nd = n["documents"]
    # 3% exact duplicates and 10% documents that open with a run of another
    # one's tokens: fixed shares, so every seed gives the dedup queries as
    # much to find
    later = rng.permutation(np.arange(10, nd))
    n_dup, n_run = round(0.03 * nd), round(0.1 * nd)
    dups = set(later[:n_dup].tolist())
    runs = set(later[n_dup:n_dup + n_run].tolist())
    texts = []
    for i in range(nd):
        if i in dups:
            texts.append(texts[int(rng.integers(0, i))])
            continue
        words = list(rng.choice(WORDS, int(rng.integers(10, 101))))
        if i in runs:
            src = texts[int(rng.integers(0, i))].split()
            words[:0] = src[:12]
        texts.append(" ".join(words))
    write("documents", {
        "doc_id": np.arange(nd, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, nd),
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    nv = n["embeddings"]
    labels = rng.integers(0, 10, nv)
    centers = rng.normal(0, 1, (10, EMB_DIM))
    vecs = (centers[labels] + rng.normal(0, 0.6, (nv, EMB_DIM))) / 8.0
    write("embeddings", {
        "vec_id": np.arange(nv, dtype=np.int64),
        "embedding": pa.array(list(vecs.astype(np.float32)),
                              pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})


def oracle_counts(data_dir: str, names: list[str]) -> dict[str, int]:
    import duckdb

    from rtstore_spark import inventory
    from rtstore_spark.tables import TABLE_NAMES

    sql = inventory.oracle_sql()
    con = duckdb.connect()
    try:
        con.execute("SET threads TO 1")
        for t in TABLE_NAMES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"'{os.path.join(data_dir, t)}.parquet'")
        return {q: con.execute(f"SELECT count(*) FROM ({sql[q]})").fetchone()[0]
                for q in names}
    finally:
        con.close()


def compare_counts(got: dict[str, int], want: dict[str, int]) -> list[str]:
    return [f"{q}: {got.get(q)} rows, oracle {n}"
            for q, n in want.items() if got.get(q) != n]


def _run_query(spark, build, data_dir: str, group: str | None = None) -> tuple:
    """Build one query and run it into a ``noop`` sink, counting its rows
    with an observation on the way, so the checked first pass and the
    measured passes run the same plan. Returns (rows, start, built, done); ``group``
    names the Spark job group its jobs run under."""
    from pyspark.sql import Observation

    sc = spark.sparkContext
    if group is not None:
        sc.setJobGroup(f"bench-{group}", group, False)
    try:
        t0 = time.perf_counter()
        obs = Observation()
        df = build(spark, data_dir).observe(obs, F.count(F.lit(1)).alias("n"))
        t1 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        t2 = time.perf_counter()
        return obs.get["n"], t0, t1, t2
    finally:
        if group is not None:
            sc.setLocalProperty("spark.jobGroup.id", None)


def run_batch(spark, seed: int, seconds: float, trace: bool, workdir: str,
              size_name: str) -> dict:
    from rtstore_spark import inventory
    from rtstore_spark.tables import TABLE_NAMES, load_table

    names = query_names()
    qs = inventory.queries()
    data_dir = os.path.join(workdir, "data")
    generate_tables(data_dir, seed, size_name)  # the benchmark's own, untimed

    # untimed warm-up: one pass, its row counts checked against the oracle.
    # It also pays the JVM's first parquet reads, so the set-ups after it
    # time the program's table loading alone.
    want = oracle_counts(data_dir, names)
    t_check = time.perf_counter()
    got = {q: _run_query(spark, qs[q], data_dir)[0] for q in names}
    mismatches = compare_counts(got, want)
    warm = {"checked_pass_s": time.perf_counter() - t_check}
    log(f"batch_queries: warm-up {warm}")

    # set-ups: every table loaded through the program's table layer,
    # uncached, and counted
    setups = []
    for _ in range(SETUPS):
        t = time.perf_counter()
        for name in TABLE_NAMES:
            load_table(spark, data_dir, name, cache=False).count()
        setups.append(time.perf_counter() - t)
    log(f"batch_queries: set-ups {[round(s, 2) for s in setups]} s")

    def measure(traced: bool):
        """The whole number of passes, in the fixed order, that comes
        nearest to ``seconds``, and at least one: another pass starts only
        while more than half of one fits. A partial pass would add the cheap
        queries at the head of the order and bias the rate by how far it
        got; stopping at the nearest whole pass, rather than at the first
        pass past ``seconds``, keeps the pass count from flipping when a
        pass takes about ``seconds``. Every execution's row count is
        checked too."""
        host = HostSampler()
        timings: list[tuple] = []
        t0, pass_s = time.perf_counter(), 0.0
        while not timings or time.perf_counter() - t0 + pass_s / 2 < seconds:
            pass_t0 = time.perf_counter()
            for q in names:
                rows, a, b, c = _run_query(
                    spark, qs[q], data_dir,
                    group=f"batch-{q}" if traced else None)
                timings.append((q, a, b, c))
                if rows != want[q]:
                    mismatches.append(f"{q}: {rows} rows in a measured pass, "
                                      f"oracle {want[q]}")
            pass_s = time.perf_counter() - pass_t0
            host.sample_load()
        wall = time.perf_counter() - t0
        hostm = host.finish()
        per_query = {q: [] for q in names}
        for q, a, b, c in timings:
            per_query[q].append((c - a) * 1e3)
        query_ms = {q: median(v) for q, v in per_query.items()}
        return {
            "ops_per_s": len(timings) / wall,
            "wall_s": wall,
            # each query counts once, however often the window ran it
            "op_p50_ms": median(query_ms.values()),
            "query_ms": query_ms,
            "host": hostm,
            "cpu_ms_per_op": 1e3 * hostm["proc_cpu_s"] / len(timings),
            "t0": t0,
            "attempted": len(timings),
            "failed": 0,
        }, timings

    m, _ = measure(traced=False)
    out = {"setup_s_all": setups, "setup_s": median(setups), "warmup": warm,
           "size": size_name, "measured": m, "mismatches": mismatches,
           "oracle_counts": want}
    if trace:
        tm, timings = measure(traced=True)
        out["traced"] = tm
        out["trace"] = {"timings": timings}
    return out

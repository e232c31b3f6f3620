"""The corpus workload: the 44 ``__spark_entry__.queries()`` on seeded
input tables, each forced by the xxhash-sum sink and compared with its
DuckDB oracle through ``tools/check_oracle.py``'s comparison.

The input tables mirror the shapes of the sf0.001 test tables described in
TESTDATA.md (documents, embeddings, events, lineitem, orders) and are generated with
numpy from the seed. ``__spark_entry__`` is imported inside set-up, so its
import-time warm-up counts in ``setup_s``.
"""

from __future__ import annotations

import importlib.util
import os
import time
from datetime import datetime, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = (
    "a agg batch big column customer data dup fast filter group hash join key line merge "
    "order part query row scan slow small sort spark stream table the value vector window"
).split()
LANGS = ["en", "en", "en", "de", "fr", "es", "zh"]
SIZES = {"documents": 500, "embeddings": 500, "dim": 64, "events": 1000, "users": 15,
         "orders": 1500, "customers": 150, "lineitem": 6000, "parts": 200, "suppliers": 10}


def build_tables(d: str, seed: int) -> dict:
    """Write the five input tables under `d`; returns {table: rows}."""
    rng = np.random.default_rng(seed)
    s = SIZES
    os.makedirs(d, exist_ok=True)

    n = s["documents"]
    texts = []
    for _ in range(n):
        k = int(rng.integers(8, 90))
        texts.append(" ".join(WORDS[i] for i in rng.integers(0, len(WORDS), k)))
    # a tenth of the documents repeat an earlier one (exact and near dups)
    for i in rng.choice(np.arange(1, n), n // 10, replace=False):
        src = texts[int(rng.integers(0, i))]
        texts[i] = src if rng.random() < 0.5 else src + " " + WORDS[int(rng.integers(0, len(WORDS)))]
    docs = pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "lang": [LANGS[i] for i in rng.integers(0, len(LANGS), n)],
        "source": [f"src{i}" for i in rng.integers(0, 20, n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })

    n = s["embeddings"]
    labels = rng.integers(0, 10, n)
    centers = rng.normal(0, 1, (10, s["dim"]))
    vecs = centers[labels] + rng.normal(0, 1.5, (n, s["dim"]))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    emb = pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })

    n = s["events"]
    start = datetime(2024, 1, 1)
    offsets_us = np.sort(rng.integers(0, 30 * 86400 * 10**6, n))
    events = pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": pa.array([start + timedelta(microseconds=int(u)) for u in offsets_us], pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, s["users"], n), pa.int64()),
        "event_type": [["signup", "click", "error", "purchase", "view"][i] for i in rng.integers(0, 5, n)],
        "value": np.round(rng.uniform(0.01, 330.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    })

    n = s["orders"]
    day0 = datetime(1995, 1, 1)
    odays = rng.integers(0, 2400, n)
    orders = pa.table({
        "o_orderkey": pa.array(np.arange(n), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, s["customers"], n), pa.int64()),
        "o_orderstatus": [["F", "O", "P"][i] for i in rng.integers(0, 3, n)],
        "o_totalprice": np.round(rng.uniform(1000, 500000, n), 2),
        "o_orderdate": pa.array([day0 + timedelta(days=int(x)) for x in odays], pa.timestamp("us")),
        "o_orderpriority": [["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"][i]
                            for i in rng.integers(0, 5, n)],
    })

    n = s["lineitem"]
    okeys = rng.integers(0, s["orders"], n)
    line = pa.table({
        "l_orderkey": pa.array(okeys, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, s["parts"], n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, s["suppliers"], n), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900, 100000, n), 2),
        "l_discount": np.round(rng.integers(0, 11, n) / 100, 2),
        "l_tax": np.round(rng.integers(0, 9, n) / 100, 2),
        "l_returnflag": [["A", "N", "R"][i] for i in rng.integers(0, 3, n)],
        "l_linestatus": [["F", "O"][i] for i in rng.integers(0, 2, n)],
        "l_shipdate": pa.array(
            [day0 + timedelta(days=int(odays[k]) + int(x)) for k, x in zip(okeys, rng.integers(1, 120, n))],
            pa.timestamp("us"),
        ),
    })
    tables = {"documents": docs, "embeddings": emb, "events": events, "orders": orders, "lineitem": line}
    for name, t in tables.items():
        pq.write_table(t, os.path.join(d, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}


def _check_oracle_module(home: str):
    spec = importlib.util.spec_from_file_location("check_oracle", os.path.join(home, "tools", "check_oracle.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def run(ctx, entry, home: str, tracer_stages: bool = False) -> dict:
    """Time every query (forced by the xxhash-sum sink), then compare each
    result with its oracle outside the timed region."""
    import duckdb

    from workloads import force

    spark = ctx.spark
    sf_dir = ctx.manifest["dir"]
    co = _check_oracle_module(home)
    times, stages = {}, {}
    sc = spark.sparkContext
    for name, fn in entry.queries().items():
        group = f"bench-corpus-{name}"
        sc.setJobGroup(group, name)
        t0 = time.monotonic()
        force(fn(spark, sf_dir))
        times[name] = time.monotonic() - t0
        sc.setLocalProperty("spark.jobGroup.id", None)
        if tracer_stages:
            tracker = sc.statusTracker()
            stages[name] = sum(
                len(tracker.getJobInfo(j).stageIds) for j in tracker.getJobIdsForGroup(group)
                if tracker.getJobInfo(j) is not None
            )
    con = duckdb.connect()
    for t in co.TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    oracles = entry.oracle_sql()
    mismatches = []
    for name, fn in entry.queries().items():
        ctx.attempted += 1
        if name not in oracles:
            continue
        sdf = fn(spark, sf_dir)
        srows = [tuple(r) for r in sdf.collect()]
        tbl = con.execute(oracles[name]).arrow()
        orows = co._arrow_rows(tbl)
        ok = (
            len(srows) == len(orows)
            and sorted(sdf.columns) == sorted(tbl.column_names)
            and co.value_hash(srows, sdf.columns) == co.value_hash(orows, list(tbl.column_names))
        )
        if not ok:
            mismatches.append(name)
    con.close()
    ctx.failed += len(mismatches)
    ctx.checks["oracle_mismatches"] = mismatches
    return {"times": times, "stages": stages, "mismatches": mismatches}

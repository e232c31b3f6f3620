"""The upsert plan shared by the merge-on-read delta fold and the
copy-on-write MERGE (LakeTable._lww_upsert), the bucket sets delta writes
record for the fold, and footer-derived zone maps — checked against the
independent DuckDB LWW oracle over the raw envelope JSON."""

import json
import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T
from test_consumer import oracle_final_state

from debezium_server_batch_spark.plans.laketable import LakeTable, _uri_to_local

V2 = T.StructType(
    [
        T.StructField("url", T.StringType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("lang", T.StringType(), True),
        T.StructField("rev", T.LongType(), True),
        T.StructField("__lsn", T.LongType(), True),
        T.StructField("__deleted", T.BooleanType(), True),
        T.StructField("warc_ts_ms", T.LongType(), True),
    ]
)
V3 = T.StructType(V2.fields + [T.StructField("title", T.StringType(), True)])
COLS = ["url", "__lsn", "text", "lang", "title", "warc_ts_ms"]


def _land(spark, log_path, phases):
    """phases: lists of (url, rev, text, deleted[, title]) events. Every
    event gets the next __lsn in list order, so the oracle's newest-lsn
    winner is the last ARRIVAL. The tables under test order by `rev`
    instead: equal revs across phases are ties on the full order tuple,
    which the later phase must win. Writes the envelope log the oracle
    reads and returns one DataFrame per phase (V3 when a phase carries
    titles, else V2)."""
    frames, log, lsn = [], [], 0
    for events in phases:
        v3 = any(len(e) > 4 for e in events)
        rows = []
        for url, rev, text, deleted, *title in events:
            lsn += 1
            payload = {"url": url, "text": text, "lang": "en", "__lsn": lsn,
                       "__deleted": "true" if deleted else "false",
                       "warc_ts_ms": 1704067200000 + lsn}
            if title:
                payload["title"] = title[0]
            log.append((lsn, json.dumps({"payload": payload})))
            row = (url, text, "en", rev, lsn, deleted, 1704067200000 + lsn)
            rows.append(row + ((title[0] if title else None),) if v3 else row)
        frames.append(spark.createDataFrame(rows, V3 if v3 else V2))
    spark.createDataFrame(log, "offset long, value string").coalesce(1).write.parquet(log_path)
    return frames


def _rows(df):
    """The oracle's columns (a table without `title` reads it as null)."""
    cols = [F.col(c) if c in df.columns else F.lit(None).cast("string").alias(c) for c in COLS]
    return sorted(tuple(r) for r in df.select(*cols).collect())


def _state(t):
    return _rows(t.read())


def _oracle(log):
    return sorted(r for r in oracle_final_state(log) if r[0] is not None)


BASE = [(f"u{i:02d}", 1, f"b{i}", False) for i in range(40)] + [
    ("tie", 5, "zzz-base", False),
    ("tie-del", 5, "zzz-base", False),
    ("tie-v3", 7, "zzz-base", False),
    ("tomb", 1, "live", False),
    ("resurrect", 3, None, True),
    ("multi", 1, "m1", False),
    ("v3", 1, "old", False),
]
DELTA1 = [
    # ties on the whole order tuple: the delta must win although the
    # base row is the larger one, so neither a base-wins nor a
    # row-compare tie break passes
    ("tie", 5, "aaa-delta", False),
    ("tie-del", 5, None, True),
    ("tomb", 2, None, True),
    ("multi", 2, "m2", False),
    (None, 1, "null key", False),
]
DELTA2 = [  # v3: adds `title`
    ("tie-v3", 7, "aaa-delta", False, "T7"),
    ("resurrect", 4, "back", False, "TR"),
    ("multi", 3, "m3", False, "T3"),
    ("multi", 4, "m4", False, "T4"),
    ("v3", 2, "new", False, "TV"),
    ("fresh", 1, "f", False, "TF"),
]


@pytest.mark.parametrize("mode", ["mor", "cow"])
def test_upsert_matches_lww_oracle(spark, tmp_path, mode):
    """MoR fold and CoW merge land the oracle's final state: base/delta
    ties on the full order tuple (the delta wins, tombstone or not),
    tombstones and resurrection, a v2 base under a v3 delta, several
    deltas per key (two in one batch), and a null leading key (dropped)."""
    log = str(tmp_path / "log")
    base, d1, d2 = _land(spark, log, [BASE, DELTA1, DELTA2])
    t = LakeTable.create(
        spark, str(tmp_path / "t"), V2, key_col="url", num_buckets=8,
        order_by=("rev",), merge_mode=mode, delta_layout="unbucketed",
    )
    t.merge(base)
    if mode == "mor":
        t.compact_deltas()
    t.merge(d1)
    t.merge(d2)
    if mode == "mor":
        t.compact_deltas()
        snap = t.snapshot()
        assert "*" not in snap["buckets"] and not snap["needs_collapse"]
        assert snap["summary"]["affected_from"] == "recorded"
    assert any(r[0] is None for r in oracle_final_state(log))  # the null key reached the log
    assert _state(t) == _oracle(log)
    got = {r[0]: r for r in _state(t)}
    assert got["tie"][2] == "aaa-delta" and "tie-del" not in got
    assert got["tie-v3"][2:5] == ("aaa-delta", "en", "T7")


def test_fold_is_three_spark_jobs(spark, tmp_path):
    """The unbucketed fold is one shuffle-aggregate plus one write: no
    bucket-discovery job and no metadata-scan job (string key)."""
    log = str(tmp_path / "log")
    base, d1, d2 = _land(spark, log, [BASE, DELTA1, DELTA2])
    t = LakeTable.create(
        spark, str(tmp_path / "t"), V2, key_col="url", num_buckets=8,
        order_by=("rev",), merge_mode="mor", delta_layout="unbucketed",
    )
    t.merge(base)
    t.compact_deltas()
    t.merge(d1)
    t.merge(d2)
    sc = spark.sparkContext
    sc.setJobGroup("fold-jobs", "fold")
    try:
        t.compact_deltas()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert 1 <= len(sc.statusTracker().getJobIdsForGroup("fold-jobs")) <= 3
    assert _state(t) == _oracle(log)


def _bucket_of(spark, urls, n):
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    expr = F.pmod(F.xxhash64("url"), F.lit(n))
    return {r["url"]: r["b"] for r in df.select("url", expr.alias("b")).collect()}


def _table_with_base(spark, root, n_keys=80):
    t = LakeTable.create(
        spark, root, V2, key_col="url", num_buckets=8,
        order_by=("rev",), merge_mode="mor", delta_layout="unbucketed",
    )
    t.merge(spark.createDataFrame(
        [(f"u{i:03d}", f"b{i}", "en", 1, i, False, 0) for i in range(n_keys)], V2
    ))
    t.compact_deltas()
    return t


def _upd(spark, urls):
    return spark.createDataFrame([(u, "new", "en", 2, 1000, False, 0) for u in urls], V2)


def test_delta_writes_record_touched_buckets(spark, tmp_path):
    """A delta write records the buckets its keys hash to (`touched`)
    under the bucket count it used (`touched_of`); the set is kept only
    when it misses some bucket. The fold then rewrites exactly those
    buckets and says so in its summary."""
    t = _table_with_base(spark, str(tmp_path / "t"))
    keys = ["u001", "u002"]
    t.merge(_upd(spark, keys))
    star = t.snapshot()["buckets"]["*"]
    want = sorted(set(_bucket_of(spark, keys, 8).values()))
    assert star and all(f["touched_of"] == 8 and f["touched"] == want for f in star)
    before = {b: fs for b, fs in t.snapshot()["buckets"].items() if b != "*"}
    t.compact_deltas()
    snap = t.snapshot()
    assert snap["summary"]["affected_from"] == "recorded"
    assert snap["summary"]["affected_buckets"] == want
    for b, fs in before.items():
        if int(b) not in want:
            assert snap["buckets"][b] == fs  # untouched buckets keep their files
    # a write that touches every bucket records the count only
    t.merge(_upd(spark, [f"u{i:03d}" for i in range(80)]))
    star = t.snapshot()["buckets"]["*"]
    assert all(f["touched_of"] == 8 and "touched" not in f for f in star)
    t.compact_deltas()
    assert t.snapshot()["summary"]["affected_from"] == "recorded"
    got = {r["url"]: r["text"] for r in t.read().collect()}
    assert len(got) == 80 and set(got.values()) == {"new"}


def _strip_bucket_sets(t):
    """Re-commit the current '*' entries without their bucket sets, as
    a table written before delta writes recorded them would hold."""
    def build(base):
        buckets = {
            b: [{k: v for k, v in f.items() if k not in ("touched", "touched_of")} for f in fs]
            if b == "*" else list(fs)
            for b, fs in base["buckets"].items()
        }
        return {
            **t._carry(base), "schemas": base["schemas"],
            "current_schema_id": base["current_schema_id"], "buckets": buckets,
            **t._ckpt_fields(base), "lineage": [], "summary": {"operation": "checkpoint-only"},
        }

    t._commit(build, rebaseable=True)


@pytest.mark.parametrize("how", ["legacy", "rescaled"])
def test_fold_without_usable_bucket_set_reads_every_bucket(spark, tmp_path, how):
    """Deltas without a bucket set (legacy entries) or with one computed
    under another bucket count (a delta that rebased onto a rescale)
    fold every bucket, and the summary counts the degraded path. The
    keys are chosen so that their 8-bucket set names the wrong buckets
    under 16: trusting it would leave two live versions of each key."""
    t = _table_with_base(spark, str(tmp_path / "t"), n_keys=200)
    urls = [f"u{i:03d}" for i in range(200)]
    b8, b16 = _bucket_of(spark, urls, 8), _bucket_of(spark, urls, 16)
    keys = [u for u in urls if b8[u] in (0, 1) and b16[u] >= 8][:4]
    assert len(keys) == 4
    if how == "legacy":
        t.merge(_upd(spark, keys))
        _strip_bucket_sets(t)
    else:
        other = LakeTable.load(spark, t.root)
        # the rescale commits after the delta files are written and
        # before their commit, which then rebases onto 16 buckets
        t.merge(_upd(spark, keys), validate=lambda: other.rescale(16))
        snap = t.snapshot()
        assert snap["num_buckets"] == 16
        assert all(f["touched_of"] == 8 for f in snap["buckets"]["*"])
    t.compact_deltas()
    snap = t.snapshot()
    assert snap["summary"]["affected_from"] == "all"
    assert snap["summary"]["affected_buckets"] == sorted(
        int(b) for b in snap["buckets"]
    )
    rows = t.read().collect()
    assert len(rows) == 200
    assert {r["url"] for r in rows if r["text"] == "new"} == set(keys)


def test_string_key_zone_maps_from_footers(spark, tmp_path):
    """On a compacted url-keyed table every file's footer-derived
    [kmin, kmax] equals the exact min/max of its keys (byte order,
    non-ASCII included); a file whose max key is over 4 KB has no
    footer bounds, gets no zone and is never pruned; read_keys returns
    the oracle's rows."""
    long_url = "zz://long.example/" + "x" * 5000  # its file's max key
    base = [(f"http://h{i % 7}.example/p{i:03d}", 1, f"t{i}", False) for i in range(120)]
    base += [("http://ü.example/a", 1, "umlaut", False), (long_url, 1, "long", False)]
    update = [("http://h1.example/p001", 2, "t1-new", False), ("http://h3.example/p003", 2, None, True)]
    log = str(tmp_path / "log")
    frames = _land(spark, log, [base, update])
    t = LakeTable.create(
        spark, str(tmp_path / "t"), V2, key_col="url", num_buckets=2,
        order_by=("rev",), merge_mode="mor", delta_layout="unbucketed",
    )
    for df in frames:
        t.merge(df)
    t.compact()
    entries = t.file_entries()
    paths = [f"{t.root}/{e['path']}" for e in entries]
    exact = {
        r["p"]: (r["lo"], r["hi"], r["n"])
        for r in spark.read.parquet(*paths)
        .groupBy(F.col("_metadata.file_path").alias("p"))
        .agg(F.min("url").alias("lo"), F.max("url").alias("hi"), F.max(F.length("url")).alias("n"))
        .collect()
    }
    by_rel = {os.path.relpath(_uri_to_local(p), t.root): v for p, v in exact.items()}
    assert len(by_rel) == len(entries)
    for e in entries:
        lo, hi, longest = by_rel[e["path"]]
        if longest > 4096:
            assert "kmin" not in e
        else:
            assert (e["kmin"], e["kmax"]) == (lo, hi)
    assert sum("kmin" in e for e in entries) >= len(entries) - 1
    oracle = {r[0]: r for r in _oracle(log)}
    probe = ["http://h1.example/p001", "http://h3.example/p003", "http://ü.example/a", long_url,
             "http://h5.example/p012", "http://absent.example/"]
    got = _rows(t.read_keys(probe))
    assert got == sorted(oracle[u] for u in probe if u in oracle)
    assert len(got) == 4  # p003 is deleted, absent.example never existed

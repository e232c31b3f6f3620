"""Seeded benchmark inputs, cached per (workload, seed).

Every log starts from ``sources.synth.generate_event_log``; the
benchmark's own transforms add what the generator does not emit:
destination interleave and malformed events (multitable), a v3
added-column schema half way through the log and offset-contiguous
segment files (tail). The same seed always gives the same files.
"""

from __future__ import annotations

import json
import os
import random
import shutil
import time

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F
from pyspark.sql import types as T

from debezium_server_batch_spark.functions.connect_schema import struct_to_connect_schema_json
from debezium_server_batch_spark.sources import synth

CACHE_VERSION = 2
CACHE_KEEP = 6  # cached input sets kept per checkout (oldest pruned)

# sizes per workload (pages, hot pages, revisions of a hot page)
BACKFILL = {"n_pages": 15_000, "n_hot": 15, "hot_k": 64, "n_files": 16}
MULTITABLE = {"n_pages": 1_500, "n_hot": 2, "hot_k": 64, "n_files": 8, "destinations": 4,
              "malformed_per_mille": 1}
# tail: events released per second and per segment file; the log holds
# rate * seconds events, ~30% of them revisions of hot pages (at 20 s)
TAIL = {"rate": 100, "segment_events": 20, "n_hot": 10, "hot_k": 64}

SCHEMA_V3 = T.StructType(
    list(synth.SCHEMA_V2.fields[:6]) + [T.StructField("section", T.StringType(), True)]
    + list(synth.SCHEMA_V2.fields[6:])
)
SCHEMA_V3_JSON = struct_to_connect_schema_json(SCHEMA_V3, name="testc.cdcdb.pages.Value")


def url_of(page_id: int) -> str:
    """The generator's url for a page id (synth.generate_event_log)."""
    return f"https://site-{page_id % 37}.example.com/page/{page_id}"


def _cache_dir(cache_root: str, workload: str, seed: int, extra: str = "") -> str:
    import hashlib

    sizes = json.dumps([CACHE_VERSION, BACKFILL, MULTITABLE, TAIL], sort_keys=True)
    tag = hashlib.sha256(sizes.encode()).hexdigest()[:10]
    return os.path.join(cache_root, f"{workload}-s{seed}{extra}-{tag}")


def _prune(cache_root: str) -> None:
    entries = [os.path.join(cache_root, d) for d in os.listdir(cache_root)]
    entries.sort(key=os.path.getmtime)
    for d in entries[:-CACHE_KEEP]:
        shutil.rmtree(d, ignore_errors=True)


def cached(cache_root: str, workload: str, seed: int, build, extra: str = "") -> tuple[dict, float]:
    """Return (manifest, seconds spent generating); 0.0 on a cache hit."""
    os.makedirs(cache_root, exist_ok=True)
    d = _cache_dir(cache_root, workload, seed, extra)
    done = os.path.join(d, "manifest.json")
    if os.path.exists(done):
        os.utime(d)
        with open(done) as fh:
            return _absolute(json.load(fh), d), 0.0
    shutil.rmtree(d, ignore_errors=True)
    tmp = d + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    t0 = time.monotonic()
    manifest = build(tmp)
    gen_s = time.monotonic() - t0
    with open(os.path.join(tmp, "manifest.json"), "w") as fh:
        json.dump(manifest, fh)
    os.rename(tmp, d)
    _prune(cache_root)
    # paths inside the manifest are relative to the cache entry
    return _absolute(manifest, d), gen_s


def _absolute(manifest: dict, d: str) -> dict:
    out = dict(manifest)
    for k in ("log", "segments_dir", "dir"):
        if k in out:
            out[k] = os.path.join(d, out[k])
    return out


def load(cache_root: str, workload: str, seed: int, spark, seconds: int) -> tuple[dict, float]:
    if workload == "backfill":
        manifest, gen_s = cached(cache_root, workload, seed, lambda d: build_backfill(spark, d, seed))
    elif workload == "multitable":
        manifest, gen_s = cached(cache_root, workload, seed, lambda d: build_multitable(spark, d, seed))
    elif workload == "tail":
        manifest, gen_s = cached(
            cache_root, workload, seed, lambda d: build_tail(spark, d, seed, seconds), extra=f"-t{seconds}"
        )
    else:
        raise ValueError(workload)
    return manifest, gen_s


def build_backfill(spark, d: str, seed: int) -> dict:
    p = BACKFILL
    df = synth.generate_event_log(spark, n_pages=p["n_pages"], seed=seed, n_hot=p["n_hot"], hot_k=p["hot_k"])
    synth.write_event_log(df, os.path.join(d, "log"), n_files=p["n_files"])
    return {"log": "log", "n_pages": p["n_pages"], "n_hot": p["n_hot"], "events": _count(d)}


def build_multitable(spark, d: str, seed: int) -> dict:
    """Four destinations interleaved by page (all revisions of a page go
    to one destination), keys from the key envelope, and ~0.1% of events
    replaced by a truncated value document."""
    p = MULTITABLE
    df = synth.generate_event_log(spark, n_pages=p["n_pages"], seed=seed, n_hot=p["n_hot"], hot_k=p["hot_k"])
    dest = F.concat(
        F.lit("testc.cdcdb.pages_"),
        F.pmod(F.xxhash64(F.lit(seed), F.col("key")), F.lit(p["destinations"])).cast("string"),
    )
    bad = F.pmod(F.xxhash64(F.lit(seed + 9), F.col("offset")), F.lit(1000)) < p["malformed_per_mille"]
    df = df.withColumn("destination", dest).withColumn(
        "value", F.when(bad, F.substring(F.col("value"), 1, 48)).otherwise(F.col("value"))
    ).withColumn("_bad", bad)
    df = df.cache()
    try:
        malformed = sorted(r[0] for r in df.filter("_bad").select("offset").collect())
        synth.write_event_log(df.drop("_bad"), os.path.join(d, "log"), n_files=p["n_files"])
    finally:
        df.unpersist()
    destinations = [f"testc.cdcdb.pages_{i}" for i in range(p["destinations"])]
    return {"log": "log", "n_pages": p["n_pages"], "n_hot": p["n_hot"], "events": _count(d),
            "malformed_offsets": malformed, "destinations": destinations}


def build_tail(spark, d: str, seed: int, seconds: int) -> dict:
    """rate*seconds events, every value under the v2 schema until the
    middle event and under v3 (v2 + `section`) after it, cut into
    offset-contiguous segment files of `segment_events`.

    The generator's offsets are revision-major (all first revisions,
    then all second ones, ...), so its hot pages would only be rewritten
    at the end of the log. Here every page's revisions are spread evenly
    over the whole log instead: events are ordered by (rev + phase) / k,
    k being the page's revision count and phase a per-page fraction from
    the seed, and renumbered in that order (offset and __lsn). Each
    page's own revisions keep their order, so the last writer of every
    page is unchanged."""
    p = TAIL
    n_events = p["rate"] * seconds
    # a cold page emits 3-5 events (4 on average); 2% spare so the log
    # almost always holds n_events, cut from the latest revisions
    n_cold = max(int((n_events * 1.02 - p["n_hot"] * p["hot_k"]) / 4), 50)
    n_pages = p["n_hot"] + n_cold
    df = synth.generate_event_log(
        spark, n_pages=n_pages, seed=seed, n_hot=p["n_hot"], hot_k=p["hot_k"], title_from_rev=0
    )
    tbl = df.toArrow().sort_by("offset")
    old_offsets = tbl.column("offset").to_pylist()
    page = [o % n_pages for o in old_offsets]
    rev = [o // n_pages for o in old_offsets]
    k = [0] * n_pages
    for pg in page:
        k[pg] += 1
    phase = random.Random(seed).random
    phases = [phase() for _ in range(n_pages)]
    order = sorted(range(len(page)), key=lambda j: ((rev[j] + phases[page[j]]) / k[page[j]], page[j]))
    n_events = min(n_events, len(order))
    order = order[:n_events]
    tbl = tbl.take(pa.array(order))
    values = tbl.column("value").to_pylist()
    mid = n_events // 2
    old_schema = '{"schema":' + synth.SCHEMA_V2_JSON + ',"payload":{'
    for i, j in enumerate(order):
        v = values[i]
        lsn = f'"__lsn":{old_offsets[j]},'
        if not v.startswith(old_schema) or v.count(lsn) != 1:
            raise ValueError(f"unexpected envelope at offset {old_offsets[j]}")
        v = v.replace(lsn, f'"__lsn":{i},')
        if i >= mid:
            v = '{"schema":' + SCHEMA_V3_JSON + ',"payload":{"section":"s' + str(i % 7) + '",' + v[len(old_schema):]
        values[i] = v
    tbl = tbl.set_column(tbl.schema.get_field_index("value"), "value", pa.array(values, pa.string()))
    tbl = tbl.set_column(tbl.schema.get_field_index("offset"), "offset", pa.array(range(n_events), pa.int64()))
    seg_dir = os.path.join(d, "segments")
    os.makedirs(seg_dir)
    segments = []
    seg_k = p["segment_events"]
    for i in range(0, n_events, seg_k):
        seg = tbl.slice(i, seg_k)
        name = f"seg-{i // seg_k:05d}.parquet"
        pq.write_table(seg, os.path.join(seg_dir, name))
        segments.append({"file": name, "last_offset": i + seg.num_rows - 1, "events": seg.num_rows})
    hot_events = sum(1 for j in order if page[j] < p["n_hot"])
    return {"segments_dir": "segments", "segments": segments, "n_pages": n_pages, "n_hot": p["n_hot"],
            "events": n_events, "hot_events": hot_events, "v3_from_offset": mid, "rate": p["rate"],
            "segment_events": seg_k}


def _count(d: str) -> int:
    return pq.ParquetDataset(os.path.join(d, "log")).read(columns=["offset"]).num_rows


def log_digest(manifest: dict) -> str:
    """Content digest of an input set, for the seed self-check."""
    import hashlib

    h = hashlib.sha256()
    if "log" in manifest:
        tbl = pq.read_table(manifest["log"]).sort_by("offset")
    else:
        tbl = pa.concat_tables(
            pq.read_table(os.path.join(manifest["segments_dir"], s["file"])) for s in manifest["segments"]
        )
    for col in ("offset", "destination", "value"):
        h.update(repr(tbl.column(col).to_pylist()).encode())
    return h.hexdigest()

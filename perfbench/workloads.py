"""The workloads: what each one runs and how its figures are taken.

backfill    closed loop: one destination, fast-path windows, then
            compact(); full scans and point lookups after the last cycle.
multitable  closed loop: four destinations, keys from the key envelope,
            per-root merge threads, dead-letter spool for malformed events.
tail        open loop: segment files released on a fixed schedule while
            one consumer calls CdcPipeline.run() with auto-compaction and
            a second thread sends read_keys batches at a fixed rate.
"""

from __future__ import annotations

import math
import os
import random
import shutil
import statistics
import threading
import time
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import functions as F

from debezium_server_batch_spark.plans.laketable import LakeTable
from debezium_server_batch_spark.streaming.runner import CdcPipeline, PipelineConfig

import inputs
import oracle
import spans

# per-workload engine settings
WINDOW_EVENTS = {"backfill": 21_000, "multitable": 2_500, "tail": 1_000_000}
# tail: two warm-up windows of this size, one grouped (first contact), one fast
TAIL_WARM_UP_EVENTS = 200
NUM_BUCKETS = 8
LOOKUP_KEYS = 16  # urls per read_keys batch, half hot and half cold
# closed loop: full scans and sequential read_keys batches of each cycle's
# compacted tables; medians are over every cycle's samples
CYCLE_SCANS = 8
CYCLE_LOOKUPS = 8
# tail: one read_keys batch every interval from one reader thread while
# ingest runs; full scans of the final table once ingest has caught up
TAIL_LOOKUP_INTERVAL_S = 2.0
TAIL_LOOKUP_WORKERS = 1
TAIL_SCANS = 11


class Ctx:
    """One run's state: the session, its scratch directory and inputs."""

    def __init__(self, spark, work: str, workload: str, seed: int, seconds: int, manifest: dict):
        self.spark = spark
        self.work = work
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.manifest = manifest
        self.storage = None  # CountingStorage in the traced run
        self.tracer = spans.NoTracer()  # a spans.Tracer in the traced run
        self.rng = random.Random(seed)
        self.attempted = 0
        self.failed = 0
        self.checks: dict = {}

    def fresh(self, name: str) -> str:
        d = os.path.join(self.work, name)
        shutil.rmtree(d, ignore_errors=True)
        return d


def force(df) -> tuple[int, int]:
    """xxhash64 every column of every row and fold to one sum (the
    bench.py sink: Catalyst cannot prune any column), plus the row count."""
    row = df.select(F.xxhash64(*df.columns).cast("decimal(38,0)").alias("h")).agg(
        F.sum("h"), F.count(F.lit(1))
    ).first()
    return int(row[0] or 0), int(row[1])


def live_bytes(table) -> int:
    """Bytes of the data files the table's current snapshot references."""
    return sum(os.path.getsize(os.path.join(table.root, f["path"])) for f in table.file_entries())


def merge_files_written(table) -> int:
    """Data files that merge commits added, from the table's retained
    versions: each merge version's files minus those of the version
    before it."""
    prev: set = set()
    n = 0
    for v in table.versions():
        snap = table.snapshot(v)
        paths = {f["path"] for files in snap["buckets"].values() for f in files}
        if (snap.get("summary") or {}).get("operation") in ("merge", "merge-mor"):
            n += len(paths - prev)
        prev = paths
    return n


def pct(values: list[float], q: float) -> float:
    """Nearest-rank percentile."""
    s = sorted(values)
    return s[min(len(s), max(1, math.ceil(q * len(s)))) - 1]


def config(ctx: Ctx, log: str, root: str, **overrides) -> PipelineConfig:
    kw = dict(
        log_path=log,
        table_root=root,
        batch_events=WINDOW_EVENTS[ctx.workload],
        num_buckets=NUM_BUCKETS,
        storage=ctx.storage,
    )
    if ctx.workload == "multitable":
        kw.update(key_col=None, table_per_destination=True, merge_parallelism=4,
                  dead_letter=os.path.join(os.path.dirname(root), "dlq"))
    if ctx.workload == "tail":
        kw.update(auto_compact=True)
    kw.update(overrides)
    return PipelineConfig(**kw)


def log_of(ctx: Ctx, segments: int | None = None) -> str:
    """The workload's log as one directory (tail: its first `segments`
    segment files, all by default)."""
    m = ctx.manifest
    if "log" in m:
        return m["log"]
    segs = m["segments"][:segments]
    d = os.path.join(ctx.work, f"tail-log-{len(segs)}")
    if not os.path.isdir(d):
        os.makedirs(d)
        for s in segs:
            os.link(os.path.join(m["segments_dir"], s["file"]), os.path.join(d, s["file"]))
    return d


def warm_up(ctx: Ctx) -> None:
    """Run every code path the measurement times once, on a scratch
    table that is then dropped, so that every run starts measuring from
    the same JVM state whether its inputs were just generated or came
    from the cache. Closed loop: one whole replay-and-compact cycle
    (a first cycle ran up to a quarter slower than the ones after it).
    Tail: one run() call over the first two small windows of its first
    segments (it ends with the drain-time fold), a lookup and a scan."""
    if "segments" not in ctx.manifest:
        cyc = closed_cycle(ctx, "warm-up")
        full_scan(ctx, cyc["tables"], 1)
        do_lookup(ctx, cyc["roots"][0], [inputs.url_of(i) for i in range(LOOKUP_KEYS)])
        shutil.rmtree(cyc["base"], ignore_errors=True)
        return
    base = ctx.fresh("warm-up")
    root = os.path.join(base, "tables")
    events = TAIL_WARM_UP_EVENTS
    # a replay's cost grows with the number of segment files, so the
    # warm-up reads only the segments its two windows need
    n_segs = -(-2 * events // ctx.manifest["segment_events"])
    CdcPipeline(ctx.spark, config(ctx, log_of(ctx, n_segs), root, batch_events=events)).run(max_batches=2)
    do_lookup(ctx, root, [inputs.url_of(i) for i in range(LOOKUP_KEYS)])
    full_scan(ctx, [LakeTable.load(ctx.spark, root)], 1)
    shutil.rmtree(base, ignore_errors=True)


def table_roots(ctx: Ctx, root: str) -> list[str]:
    if ctx.workload == "multitable":
        return [os.path.join(root, d) for d in ctx.manifest["destinations"]]
    return [root]


def recording_pipeline(ctx: Ctx, cfg: PipelineConfig, windows: list[dict]) -> CdcPipeline:
    """A pipeline whose process_batch records each window's span; the
    window commits when process_batch returns."""
    pipe = CdcPipeline(ctx.spark, cfg)
    inner = pipe.process_batch

    def process_batch(raw, batch_id, lo=-1, hi=-1):
        t0 = time.monotonic()
        out = inner(raw, batch_id, lo, hi)
        groups = out.get("groups") or []
        windows.append({
            "lo": lo, "hi": hi, "start": t0, "end": time.monotonic(), "events": out["n_events"],
            # the fast path reports one group whose schema_hash is the
            # window's set of hashes; grouped windows report one int each
            "fast": bool(groups) and isinstance(groups[0].get("schema_hash"), list),
        })
        return out

    pipe.process_batch = process_batch
    return pipe


def full_scan(ctx: Ctx, tables: list, n: int) -> tuple[list[float], int]:
    """n full forced reads of all tables; (seconds of each, rows)."""
    times = []
    for _ in range(n):
        s0 = time.monotonic()
        rows = 0
        for t in tables:
            with ctx.tracer.span("laketable.read"):
                rows += force(t.read())[1]
        times.append(time.monotonic() - s0)
    return times, rows


# ----------------------------------------------------------------------
# point lookups


def lookup_keys(ctx: Ctx, pool: list[str]) -> list[str]:
    """Half hot urls (the generator's hot pages are ids 0..n_hot-1),
    half cold ones from `pool`."""
    n_hot = ctx.manifest["n_hot"]
    hot = [inputs.url_of(i) for i in ctx.rng.sample(range(n_hot), min(n_hot, LOOKUP_KEYS // 2))]
    hot_set = {inputs.url_of(i) for i in range(n_hot)}
    cold_pool = [u for u in pool if u not in hot_set]
    cold = ctx.rng.sample(cold_pool, min(len(cold_pool), LOOKUP_KEYS - len(hot)))
    return hot + cold


def do_lookup(ctx: Ctx, root: str, keys: list[str]):
    """One read_keys batch, forced by collect. Returns {url: __lsn}."""
    with ctx.tracer.span("bench.lookup"):
        t = LakeTable.load(ctx.spark, root, storage=ctx.storage)
        with ctx.tracer.span("laketable.read_keys"):
            return {r["url"]: r["__lsn"] for r in t.read_keys(keys).select("url", "__lsn").collect()}


# ----------------------------------------------------------------------
# closed loop (backfill, multitable)


def closed_cycle(ctx: Ctx, name: str) -> dict:
    """Replay the whole log into fresh tables and compact them. Times are
    from run() start."""
    base = ctx.fresh(name)
    root = os.path.join(base, "tables")
    windows: list[dict] = []
    pipe = recording_pipeline(ctx, config(ctx, ctx.manifest["log"], root), windows)
    t0 = time.monotonic()
    stats = pipe.run()
    t_run = time.monotonic() - t0
    roots = table_roots(ctx, root)
    tables = [LakeTable.load(ctx.spark, r, storage=ctx.storage) for r in roots]
    for t in tables:
        t.compact()
    ready = time.monotonic() - t0
    return {
        "base": base,
        "roots": roots,
        "tables": tables,
        "events": stats.events,
        "run_s": t_run,
        "events_per_s": stats.events / t_run,
        "ready_s": ready,
        "freshness": [w["end"] - t0 for w in windows],
        "windows": windows,
    }


def read_side(ctx: Ctx, cyc: dict, expected: dict) -> dict:
    """Full scans and sequential point lookups of a cycle's compacted
    tables; every lookup is checked against the oracle rows."""
    tables, roots = cyc["tables"], cyc["roots"]
    files_scanned = sum(len(t.file_entries()) for t in tables)
    scans, rows = full_scan(ctx, tables, CYCLE_SCANS)
    lookups = []
    for i in range(CYCLE_LOOKUPS):
        r = roots[i % len(roots)]
        want = expected[r]
        keys = lookup_keys(ctx, list(want))
        ctx.attempted += 1
        s0 = time.monotonic()
        got = do_lookup(ctx, r, keys)
        lookups.append(time.monotonic() - s0)
        if got != {k: want[k] for k in keys if k in want}:
            ctx.failed += 1
            ctx.checks.setdefault("lookup_mismatches", 0)
            ctx.checks["lookup_mismatches"] += 1
    return {
        "scans": scans,
        "lookups": lookups,
        "rows": rows,
        "stored_bytes": sum(live_bytes(t) for t in tables),
        "files_scanned": files_scanned,
    }


def expected_states(ctx: Ctx, roots: list[str]) -> dict:
    """Oracle final-state rows per table root (one root per destination)."""
    dests = ctx.manifest.get("destinations") or [None]
    out = {}
    for r, dest in zip(roots, dests):
        out[r] = oracle.oracle_state(ctx.manifest, dest)
    return out


def final_gate(ctx: Ctx, roots: list[str], states: dict, dlq: str | None = None) -> bool:
    ok = True
    for r in roots:
        res = oracle.compare(states[r], oracle.table_state(LakeTable.load(ctx.spark, r)))
        ctx.checks[os.path.basename(r)] = res
        ok &= res["ok"]
    if dlq is not None:
        res = oracle.check_dead_letters(ctx.spark, dlq, ctx.manifest)
        ctx.checks["dead_letter"] = res
        ok &= res["ok"]
    return ok


def run_closed(ctx: Ctx) -> dict:
    """Cycles of replay, compact() and the read side (CYCLE_SCANS scans,
    CYCLE_LOOKUPS lookups) until the run's seconds are spent (at least
    one cycle). Every figure is a median over all cycles' samples;
    freshness pools its samples. The final-state gate checks the last
    cycle's tables."""
    # oracle keyed by the roots each cycle will use (same relative layout)
    probe_roots = table_roots(ctx, "tables")
    states = expected_states(ctx, probe_roots)
    t_start = time.monotonic()
    cycles, scans, lookups = [], [], []
    try:
        while True:
            c0 = time.monotonic()
            cyc = closed_cycle(ctx, f"cycle{len(cycles)}")
            ctx.attempted += len(cyc["windows"])
            if cycles:
                shutil.rmtree(cycles[-1]["base"], ignore_errors=True)
            cycles.append(cyc)
            gate_states = {r: states[p] for r, p in zip(cyc["roots"], probe_roots)}
            rd = read_side(ctx, cyc, {r: {row[0]: row[1] for row in st} for r, st in gate_states.items()})
            scans += rd["scans"]
            lookups += rd["lookups"]
            # one more cycle if it would end nearer to `seconds` than now
            if (time.monotonic() - t_start) + (time.monotonic() - c0) / 2 > ctx.seconds:
                break
    except Exception as e:  # a raising window fails the run, not the process
        ctx.failed += 1
        ctx.checks["replay_error"] = repr(e)
        return {"correct": False, "metrics": {}, "context": {}}
    last = cycles[-1]
    dlq = os.path.join(last["base"], "dlq") if ctx.workload == "multitable" else None
    correct = final_gate(ctx, last["roots"], gate_states, dlq)
    if not correct:
        ctx.failed += len(last["windows"])

    def med(key):
        return statistics.median(c[key] for c in cycles)

    fresh = [x for c in cycles for x in c["freshness"]]
    return {
        "correct": correct,
        "metrics": {
            "events_per_s": med("events_per_s"),
            "ready_s": med("ready_s"),
            "scan_s": statistics.median(scans),
            "freshness_p50_s": pct(fresh, 0.5),
            "freshness_p90_s": pct(fresh, 0.9),
            "lookup_p50_s": pct(lookups, 0.5),
            "stored_bytes_per_row": rd["stored_bytes"] / max(rd["rows"], 1),
        },
        "context": {
            "lookup_p90_s": pct(lookups, 0.9),
            "cycles": len(cycles),
            "cycle_run_s": [round(c["run_s"], 2) for c in cycles],
            "cycle_ready_s": [round(c["ready_s"], 2) for c in cycles],
            "scan_s": [round(x, 3) for x in scans],
            "lookup_s": [round(x, 3) for x in lookups],
            "events": last["events"],
            "windows_per_cycle": len(last["windows"]),
            "window_s": [round(w["end"] - w["start"], 2) for w in last["windows"]],
            "freshness_samples": len(fresh),
            "lookup_samples": len(lookups),
        },
    }


# ----------------------------------------------------------------------
# open loop (tail)


def run_tail(ctx: Ctx) -> dict:
    m = ctx.manifest
    segs = m["segments"]
    interval = m["segment_events"] / m["rate"]
    base = ctx.fresh("tail")
    log_dir = os.path.join(base, "log")
    root = os.path.join(base, "tables")
    os.makedirs(log_dir)
    windows: list[dict] = []
    pipe = recording_pipeline(ctx, config(ctx, log_dir, root), windows)
    released = threading.Event()
    lateness: list[float] = []
    t_zero = time.monotonic() + 0.1
    due = [t_zero + i * interval for i in range(len(segs))]

    def releaser():
        # copy under a dot name (invisible to Spark's listing), then an
        # atomic rename makes the whole segment appear at once
        for i, s in enumerate(segs):
            time.sleep(max(0.0, due[i] - time.monotonic()))
            tmp = os.path.join(log_dir, "." + s["file"])
            shutil.copyfile(os.path.join(m["segments_dir"], s["file"]), tmp)
            os.rename(tmp, os.path.join(log_dir, s["file"]))
            lateness.append(time.monotonic() - due[i])
            released.set()

    rel = threading.Thread(target=releaser, name="bench-releaser")
    rel.start()

    table_ready = threading.Event()
    stop_lookups = threading.Event()
    lookup_lat: list[float] = []
    lookup_err: list[str] = []
    pool_urls = [inputs.url_of(i) for i in range(m["n_pages"])]
    lk_lock = threading.Lock()

    def one_lookup(due_t: float, keys: list[str]):
        ctx.tracer.mark_root_thread()
        try:
            do_lookup(ctx, root, keys)
            with lk_lock:
                lookup_lat.append(time.monotonic() - due_t)
        except Exception as e:  # counted as a failed lookup, run continues
            with lk_lock:
                lookup_err.append(repr(e))

    def lookup_scheduler():
        table_ready.wait()
        first = time.monotonic()
        futures = []
        with ThreadPoolExecutor(max_workers=TAIL_LOOKUP_WORKERS, thread_name_prefix="bench-lookup") as ex:
            j = 0
            while not stop_lookups.is_set():
                due_t = first + j * TAIL_LOOKUP_INTERVAL_S
                if stop_lookups.wait(max(0.0, due_t - time.monotonic())):
                    break
                futures.append(ex.submit(one_lookup, due_t, lookup_keys(ctx, pool_urls)))
                j += 1
        for f in futures:
            f.result()

    lk = threading.Thread(target=lookup_scheduler, name="bench-lookups")
    lk.start()

    last_offset = segs[-1]["last_offset"]
    busy, events, error, cycles = 0.0, 0, None, []
    deadline = t_zero + len(segs) * interval + 120
    try:
        released.wait()
        while not windows or windows[-1]["hi"] < last_offset:
            if time.monotonic() > deadline:
                raise TimeoutError("consumer did not drain the tail log")
            r0 = time.monotonic()
            stats = pipe.run()
            if stats.batches:
                busy += time.monotonic() - r0
                cycles.append(time.monotonic() - r0)
                events += stats.events
                table_ready.set()
            else:
                time.sleep(0.02)
    except Exception as e:  # a raising window fails the run, not the process
        error = repr(e)
    finally:
        stop_lookups.set()
        table_ready.set()
        rel.join()
        lk.join()
    t_ingested = time.monotonic()
    ctx.attempted += len(windows) + len(lookup_lat) + len(lookup_err)
    ctx.failed += len(lookup_err)
    if lookup_err:
        ctx.checks["lookup_errors"] = lookup_err[:3]
    if error is not None:
        ctx.failed += 1
        ctx.checks["consumer_error"] = error
        return {"correct": False, "metrics": {}, "context": {}}
    t = LakeTable.load(ctx.spark, root, storage=ctx.storage)
    scans, rows = full_scan(ctx, [t], TAIL_SCANS)

    fresh = []
    for i, s in enumerate(segs):
        w = next(w for w in windows if w["hi"] >= s["last_offset"])
        fresh.append(w["end"] - due[i])
    states = {root: oracle.oracle_state(m)}
    correct = final_gate(ctx, [root], states)
    if not correct:
        ctx.failed += len(windows)
    return {
        "correct": correct,
        "metrics": {
            "events_per_s": events / busy,
            # every run() call that applied a window ends by folding the
            # table's deltas (auto_compact): from its start the table is
            # current and read-optimized when it returns
            "ready_s": statistics.median(cycles),
            "scan_s": statistics.median(scans),
            "freshness_p50_s": pct(fresh, 0.5),
            "freshness_p90_s": pct(fresh, 0.9),
            "lookup_p50_s": pct(lookup_lat, 0.5),
            "stored_bytes_per_row": live_bytes(t) / max(rows, 1),
        },
        "context": {
            "lookup_p90_s": pct(lookup_lat, 0.9),
            "events": events,
            "windows": len(windows),
            "fast_windows": sum(w["fast"] for w in windows),
            "segments": len(segs),
            "hot_events": m["hot_events"],
            "drain_s": t_ingested - due[-1],
            "release_rate_events_per_s": m["rate"],
            "release_lateness_max_s": max(lateness),
            "release_lateness_p50_s": pct(lateness, 0.5),
            "lookup_samples": len(lookup_lat),
            "scan_samples": len(scans),
            "lookup_interval_s": TAIL_LOOKUP_INTERVAL_S,
            "busy_s": busy,
            "cycle_s": [round(x, 2) for x in cycles],
            "scan_s": [round(x, 3) for x in scans],
            "window_s": [round(w["end"] - w["start"], 2) for w in windows],
            "window_events": [w["events"] for w in windows],
            "files_scanned": len(t.file_entries()),
        },
        "windows": windows,
        "root": root,
    }

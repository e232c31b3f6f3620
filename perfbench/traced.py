"""The traced run: per-layer figures for one workload.

Order of work, after the common warm-up:
  1. the workload once with spans, counters and job groups on
     (a closed-loop cycle and its read side, or the open-loop tail
     schedule)
  2. tail only: a traced closed-loop replay of the whole log
  3. the same replay untraced at local[N]; the tracing overhead is the
     traced replay's run() wall time minus this one's
  4. parse by difference over step 1's windows:
     read_slice -> noop  vs  read_slice + parse + normalize -> noop
  5. the untraced replay at local[1], in a child process whose JVM has
     its GC threads pinned to one (a local[1] context in this JVM would
     keep GC threads sized for N cores), for the N-vs-1 speed-up
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time
import uuid
from collections import defaultdict

import spans
import workloads
from workloads import pct


def replay_wall(ctx, name: str) -> tuple[float, list[dict]]:
    """Closed-loop replay of the whole log into fresh tables."""
    base = ctx.fresh(name)
    windows: list[dict] = []
    pipe = workloads.recording_pipeline(
        ctx, workloads.config(ctx, workloads.log_of(ctx), os.path.join(base, "tables")), windows
    )
    t0 = time.monotonic()
    pipe.run()
    return time.monotonic() - t0, windows


def replay_local1(ctx) -> float:
    """run() wall time of the untraced replay in a child benchmark
    process at local[1] (see run.py --replay-threads)."""
    cmd = [sys.executable, os.path.join(os.path.dirname(os.path.abspath(__file__)), "run.py"),
           "--workload", ctx.workload, "--seed", str(ctx.seed), "--seconds", str(ctx.seconds),
           "--replay-threads", "1"]
    out = subprocess.run(cmd, capture_output=True, text=True, timeout=150, check=True)
    return json.loads(out.stdout.strip().splitlines()[-1])["replay_s"]


def parse_self_s(ctx, windows: list[dict]) -> float:
    """Parse cost by difference, summed over windows: the same slice is
    read and dropped, then read, parsed and normalized and dropped."""
    from debezium_server_batch_spark.operators.envelope import parse_envelope_batch
    from debezium_server_batch_spark.operators.normalize import normalize_batch, to_page_row
    from debezium_server_batch_spark.sources.event_log import EventLogSource

    src = EventLogSource(ctx.spark, workloads.log_of(ctx))

    def noop(df):
        df.write.format("noop").mode("overwrite").save()

    total = 0.0
    for w in windows:
        t0 = time.monotonic()
        noop(src.read_slice(w["lo"], w["hi"]))
        t_read = time.monotonic() - t0
        t0 = time.monotonic()
        groups = parse_envelope_batch(
            src.read_slice(w["lo"], w["hi"]), extract_key_schema=ctx.workload == "multitable",
            coalesce_schemas=True,
        )
        for g in groups:
            noop(to_page_row(normalize_batch(g.df)))
        total += (time.monotonic() - t0) - t_read
    return total


def summarize(tracer: spans.Tracer) -> dict:
    selfs = spans.self_times(tracer.spans)
    by = defaultdict(lambda: {"calls": 0, "s": 0.0, "self_s": 0.0, "durations": [], "spark": defaultdict(float)})
    for s in tracer.spans:
        b = by[s["name"]]
        b["calls"] += 1
        d = s["end"] - s["start"]
        b["s"] += d
        b["self_s"] += selfs[s["id"]]
        b["durations"].append(d)
        for k, v in (s.get("spark") or {}).items():
            b["spark"][k] += v
    return by


def run(ctx, build_s: float) -> dict:
    from debezium_server_batch_spark.plans.laketable import LakeTable

    spark = ctx.spark
    run_id = uuid.uuid4().hex[:8]
    tracer = spans.Tracer(spark.sparkContext, run_id)
    storage = spans.CountingStorage()
    ctx.storage = storage
    ctx.tracer = tracer
    restore = spans.instrument(tracer)
    try:
        if ctx.workload == "tail":
            res = workloads.run_tail(ctx)
            # spans of the replay below time the overhead only
            n_tail_spans = len(tracer.spans)
            storage_stats = {op: list(v) for op, v in storage.stats.items()}
            run_wall_traced, _ = replay_wall(ctx, "traced-replay")
            del tracer.spans[n_tail_spans:]
            windows = res.get("windows", [])
            files_scanned = res["context"].get("files_scanned", 0)
            roots = [res["root"]] if "root" in res else []
        else:
            states = workloads.expected_states(ctx, workloads.table_roots(ctx, "tables"))
            cyc = workloads.closed_cycle(ctx, "traced")
            ctx.attempted += len(cyc["windows"])
            roots = cyc["roots"]
            rd = workloads.read_side(ctx, cyc, {r: {row[0]: row[1] for row in st}
                                                for r, st in zip(roots, states.values())})
            run_wall_traced = cyc["run_s"]
            storage_stats = storage.stats
            windows = cyc["windows"]
            files_scanned = rd["files_scanned"]
    finally:
        restore()
        ctx.storage = None
        ctx.tracer = spans.NoTracer()
    if ctx.workload != "tail":
        res = {"correct": workloads.final_gate(
            ctx, roots, dict(zip(roots, states.values())),
            os.path.join(cyc["base"], "dlq") if ctx.workload == "multitable" else None,
        )}
    # counted after the run, outside every span
    merge_files = sum(workloads.merge_files_written(LakeTable.load(spark, r)) for r in roots)
    tracer.collect_spark_counters()
    by = summarize(tracer)
    u4, _ = replay_wall(ctx, "untraced")

    parse_s = parse_self_s(ctx, windows)
    u1 = replay_local1(ctx)

    def g(name, key="calls"):
        return by[name][key] if name in by else 0

    def spark_c(name, key):
        return by[name]["spark"].get(key, 0) if name in by else 0

    pb = by["runner.process_batch"]["durations"] if "runner.process_batch" in by else [0.0]
    runs_s = g("runner.run", "s")
    meta_calls = sum(g(f"laketable.{n}") for n in spans.METADATA_CALLS)
    meta_s = sum(g(f"laketable.{n}", "s") for n in spans.METADATA_CALLS)
    st = storage_stats
    metrics = {
        "session.build_s": build_s,
        "event_log.window_bounds.calls": g("event_log.window_bounds"),
        "event_log.window_bounds.s": g("event_log.window_bounds", "s"),
        "envelope.parse_envelope_batch.calls": g("envelope.parse_envelope_batch"),
        "envelope.parse_envelope_batch.s": g("envelope.parse_envelope_batch", "s"),
        "parse.self_s": parse_s,
        "laketable.merge.calls": g("laketable.merge"),
        "laketable.merge.self_s": g("laketable.merge", "self_s"),
        "laketable.merge.rows": spark_c("laketable.merge", "output_rows"),
        "laketable.merge.files": merge_files,
        "laketable.merge.bytes_written": spark_c("laketable.merge", "output_bytes"),
        "laketable.compact.calls": g("laketable.compact"),
        "laketable.compact.s": g("laketable.compact", "s"),
        "laketable.compact.bytes_rewritten": spark_c("laketable.compact", "output_bytes"),
        "laketable.compact_deltas.calls": g("laketable.compact_deltas"),
        "laketable.read.s": g("laketable.read", "s"),
        "laketable.read.files_scanned": files_scanned,
        "laketable.read_keys.calls": g("laketable.read_keys"),
        "laketable.read_keys.p50_s": pct(by["laketable.read_keys"]["durations"], 0.5)
        if "laketable.read_keys" in by else 0.0,
        "laketable.metadata.calls": meta_calls,
        "laketable.metadata.s": meta_s,
        "laketable.snapshot.calls": g("laketable.snapshot"),
        "laketable.load.calls": g("laketable.load"),
        "laketable.exists.calls": g("laketable.exists"),
        "laketable.checkpoint.calls": g("laketable.checkpoint"),
        "laketable.commit_checkpoint.calls": g("laketable.commit_checkpoint"),
        "laketable.outstanding_delta_stats.calls": g("laketable.outstanding_delta_stats"),
        "storage.calls": sum(v[0] for v in st.values()),
        "storage.s": sum(v[1] for v in st.values()),
        "storage.bytes": sum(v[2] for v in st.values()),
        "runner.process_batch.count": len(pb),
        "runner.process_batch.p50_s": pct(pb, 0.5),
        "runner.process_batch.p90_s": pct(pb, 0.9),
        "runner.between_windows_s": runs_s - g("runner.process_batch", "s"),
        "runner.fast_windows": sum(w["fast"] for w in windows),
        "runner.grouped_windows": sum(not w["fast"] for w in windows),
        "spark.merge.jobs": spark_c("laketable.merge", "jobs"),
        "spark.merge.tasks": spark_c("laketable.merge", "tasks"),
        "spark.merge.executor_run_s": spark_c("laketable.merge", "executor_run_s"),
        "spark.merge.shuffle_write_bytes": spark_c("laketable.merge", "shuffle_write_bytes"),
        "spark.compact.jobs": spark_c("laketable.compact", "jobs"),
        "spark.compact.executor_run_s": spark_c("laketable.compact", "executor_run_s"),
        "spark.compact.shuffle_read_bytes": spark_c("laketable.compact", "shuffle_read_bytes"),
        "spark.compact.spill_bytes": spark_c("laketable.compact", "spill_bytes"),
        "spark.window_bounds.jobs": spark_c("event_log.window_bounds", "jobs"),
        "scaling.speedup_4v1": u1 / u4,
        "tracing.overhead_s": run_wall_traced - u4,
    }
    report = {
        "run": run_id,
        "workload": ctx.workload,
        "seed": ctx.seed,
        "stage_api_ok": tracer.stage_api_ok,
        "untraced_replay_s": {"local4": u4, "local1": u1},
        "layers": {
            name: {k: v for k, v in b.items() if k != "durations"} for name, b in sorted(by.items())
        },
        "storage": {op: {"calls": v[0], "s": v[1], "bytes": v[2]} for op, v in sorted(st.items())},
        "spans": tracer.spans,
    }
    out_dir = os.path.join(os.path.dirname(os.path.dirname(ctx.work)), "out")
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, f"trace-{ctx.workload}-s{ctx.seed}-{run_id}.json")
    with open(path, "w") as fh:
        json.dump(report, fh, default=float)
    return {
        "correct": res["correct"],
        "metrics": metrics,
        "context": {"trace_file": os.path.relpath(path), "stage_api_ok": tracer.stage_api_ok,
                    "windows": len(windows),
                    # share of process_batch time in the per-event data
                    # path: merge (source scan, parse and delta write run
                    # lazily inside it) plus the eager grouping parse
                    "data_path_share": (g("laketable.merge", "self_s") + g("envelope.parse_envelope_batch", "s"))
                    / max(g("runner.process_batch", "s"), 1e-9)},
    }

"""CDC ingest benchmark.

    python3 perfbench/run.py --workload backfill|tail|multitable \
        --seed N --seconds S --trace 0|1

Run from the root of a checkout. Inputs are generated from --seed (and
cached per workload and seed under .perfbench/); the engine runs at
local[min(nproc, 4)]. The last line of standard output is one JSON
object {correct, attempted, failed, metrics}: with --trace 0 the
end-to-end metrics, with --trace 1 the per-layer metrics of a traced run
(spans are also written to .perfbench/out/). Exit code 0 only when every
correctness gate passed.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

E2E = {
    "setup_s": "s",
    "events_per_s": "events/s",
    "ready_s": "s",
    "scan_s": "s",
    "freshness_p50_s": "s",
    "freshness_p90_s": "s",
    "lookup_p50_s": "s",
    "stored_bytes_per_row": "B/row",
    "peak_rss_mb": "MB",
}

PER_LAYER = {
    "session.build_s": "s",
    "event_log.window_bounds.calls": "count",
    "event_log.window_bounds.s": "s",
    "envelope.parse_envelope_batch.calls": "count",
    "envelope.parse_envelope_batch.s": "s",
    "parse.self_s": "s",
    "laketable.merge.calls": "count",
    "laketable.merge.self_s": "s",
    "laketable.merge.rows": "count",
    "laketable.merge.files": "count",
    "laketable.merge.bytes_written": "B",
    "laketable.compact.calls": "count",
    "laketable.compact.s": "s",
    "laketable.compact.bytes_rewritten": "B",
    "laketable.compact_deltas.calls": "count",
    "laketable.read.s": "s",
    "laketable.read.files_scanned": "count",
    "laketable.read_keys.calls": "count",
    "laketable.read_keys.p50_s": "s",
    "laketable.metadata.calls": "count",
    "laketable.metadata.s": "s",
    "laketable.snapshot.calls": "count",
    "laketable.load.calls": "count",
    "laketable.exists.calls": "count",
    "laketable.checkpoint.calls": "count",
    "laketable.commit_checkpoint.calls": "count",
    "laketable.outstanding_delta_stats.calls": "count",
    "storage.calls": "count",
    "storage.s": "s",
    "storage.bytes": "B",
    "runner.process_batch.count": "count",
    "runner.process_batch.p50_s": "s",
    "runner.process_batch.p90_s": "s",
    "runner.between_windows_s": "s",
    "runner.fast_windows": "count",
    "runner.grouped_windows": "count",
    "spark.merge.jobs": "count",
    "spark.merge.tasks": "count",
    "spark.merge.executor_run_s": "s",
    "spark.merge.shuffle_write_bytes": "B",
    "spark.compact.jobs": "count",
    "spark.compact.executor_run_s": "s",
    "spark.compact.shuffle_read_bytes": "B",
    "spark.compact.spill_bytes": "B",
    "spark.window_bounds.jobs": "count",
    "scaling.speedup_4v1": "ratio",
    "tracing.overhead_s": "s",
}

# the corpus workload's own end-to-end metrics
CORPUS_E2E = {"setup_s": "s", "query_total_s": "s", "failed_frac": "ratio", "peak_rss_mb": "MB"}

# BENCHMARK.json lists backfill and tail; multitable and corpus run the
# same way by name (see perfbench/README.md for why they are not listed)
WORKLOADS = ("backfill", "tail", "multitable", "corpus")
MAX_THREADS = 4


def process_age_s() -> float:
    """Seconds since this process started (kernel start time)."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def _descendants(pid: int) -> list[int]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as fh:
                    ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
            except OSError:
                continue
            kids.setdefault(ppid, []).append(int(d))
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def peak_rss_mb() -> float:
    """Peak RSS of this process plus every descendant (the JVM and any
    Python workers), each process's high-water mark summed."""
    total_kb = 0
    for pid in _descendants(os.getpid()):
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # internal: the traced run's local[1] leg, run in a child process;
    # prints {"replay_s": ...} only
    ap.add_argument("--replay-threads", type=int, default=0, help=argparse.SUPPRESS)
    return ap.parse_args(argv)


def prepare_env(home: str, replay_threads: int = 0) -> dict:
    """Keep every file the run writes inside the checkout."""
    state = os.path.join(home, ".perfbench")
    work = os.path.join(state, "work", str(os.getpid()))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    threads = replay_threads or min(os.cpu_count() or 1, MAX_THREADS)
    os.environ["TMPDIR"] = tmp
    # every JVM started from here (the launcher too): temp files in the
    # checkout, no hsperfdata under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["SPARK_GRAFT_CPUS"] = str(threads)
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    return {"state": state, "work": work, "tmp": tmp, "threads": threads, "pin_gc": bool(replay_threads)}


def session_conf(env: dict, trace: bool) -> dict:
    # C1 only: a run lasts tens of seconds, and with tiered C2 the same
    # code speeds up several-fold during that time on a schedule that
    # differs run to run; C1 code is steady from the first seconds
    # (measured: a codegen loop ran 30-300 M rows/s over its first minute
    # with C2, 33-37 M rows/s throughout with C1). Without tiering the
    # JVM reserves only 48 MB of code cache; Spark's generated classes
    # filled it during tail runs, after which the JIT is switched off and
    # new code runs interpreted ("CodeCache is full. Compiler has been
    # disabled"), slowing the rest of the run about twofold.
    java_opts = "-XX:TieredStopAtLevel=1 -XX:ReservedCodeCacheSize=512m"
    if env["pin_gc"]:
        # a local[1] leg: GC threads pinned to the leg's width, as
        # session.py's SPARK_GRAFT_GC_THREADS does for scaling runs
        n = env["threads"]
        java_opts += f" -XX:ParallelGCThreads={n} -XX:ConcGCThreads={max(1, n // 4)}"
    conf = {
        "spark.driver.memory": "1g",
        "spark.local.dir": env["tmp"],
        "spark.sql.warehouse.dir": os.path.join(env["work"], "warehouse"),
        "spark.driver.extraJavaOptions": java_opts,
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        # keep every job and stage of the run for the per-span counters
        conf["spark.ui.retainedJobs"] = "100000"
        conf["spark.ui.retainedStages"] = "100000"
    return conf


def emit(correct: bool, attempted: int, failed: int, metrics: dict, units: dict) -> None:
    out = {
        "correct": bool(correct),
        "attempted": int(max(attempted, 1)),
        "failed": int(failed),
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units if k in metrics},
    }
    print(json.dumps(out), flush=True)


def main(argv=None) -> int:
    args = parse_args(argv)
    home = os.getcwd()
    if not os.path.isfile(os.path.join(home, "debezium_server_batch_spark", "__init__.py")):
        print("perfbench: run from the root of a checkout (package not found)", file=sys.stderr)
        return 2
    sys.path.insert(0, home)
    env = prepare_env(home, args.replay_threads)

    # ---- set-up: process start → session built, package imported
    t_build = time.monotonic()
    from debezium_server_batch_spark.session import build_session

    spark = build_session(
        master=f"local[{env['threads']}]", app_name="perfbench", extra_conf=session_conf(env, bool(args.trace))
    )
    build_s = time.monotonic() - t_build
    import debezium_server_batch_spark.streaming.runner  # noqa: F401
    import debezium_server_batch_spark.plans.laketable  # noqa: F401

    if args.workload == "corpus":
        # the import runs __spark_entry__'s warm-up; it belongs to set-up
        t_import = time.monotonic()
        import __spark_entry__ as entry

        import_s = time.monotonic() - t_import
    setup_s = process_age_s()

    import shutil

    import inputs
    import workloads

    try:
        cache = os.path.join(env["state"], "cache")
        if args.workload == "corpus":
            return run_corpus(args, env, spark, entry, home, cache, setup_s, build_s, import_s)
        manifest, gen_s = inputs.load(cache, args.workload, args.seed, spark, args.seconds)
        ctx = workloads.Ctx(spark, env["work"], args.workload, args.seed, args.seconds, manifest)
        t_warm = time.monotonic()
        workloads.warm_up(ctx)
        warm_up_s = time.monotonic() - t_warm
        if args.replay_threads:
            import traced

            print(json.dumps({"replay_s": traced.replay_wall(ctx, "replay")[0]}), flush=True)
            return 0
        context = {
            "workload": args.workload, "seed": args.seed, "nproc": os.cpu_count(),
            "threads": env["threads"], "input_events": manifest["events"], "generate_s": gen_s,
            "warm_up_s": warm_up_s, "probe_rows_per_s": host_probe(spark),
        }
        if args.trace:
            import traced

            res = traced.run(ctx, build_s)
            units = PER_LAYER
        else:
            res = workloads.run_tail(ctx) if args.workload == "tail" else workloads.run_closed(ctx)
            res["metrics"]["setup_s"] = setup_s
            res["metrics"]["peak_rss_mb"] = peak_rss_mb()
            units = E2E
        context.update(res.get("context", {}))
        context["code_cache_used_mb"] = code_cache_used_mb(spark)
        context["checks"] = ctx.checks
        context["run_s"] = process_age_s()
        print(json.dumps({"context": context}, default=str), flush=True)
        missing = [k for k in units if k not in res["metrics"]]
        correct = res["correct"] and not missing
        if missing:
            print(f"perfbench: metrics not measured: {missing}", file=sys.stderr)
        emit(correct, ctx.attempted, ctx.failed, res["metrics"], units)
        return 0 if correct else 1
    finally:
        stop_spark()
        shutil.rmtree(env["work"], ignore_errors=True)


def run_corpus(args, env, spark, entry, home, cache, setup_s, build_s, import_s) -> int:
    import corpus
    import inputs
    import workloads

    manifest, gen_s = inputs.cached(
        cache, "corpus", args.seed, lambda d: {"dir": ".", "tables": corpus.build_tables(d, args.seed)}
    )
    ctx = workloads.Ctx(spark, env["work"], "corpus", args.seed, args.seconds, manifest)
    res = corpus.run(ctx, entry, home, tracer_stages=bool(args.trace))
    if args.trace:
        metrics = {"session.build_s": build_s, "entry.import_s": import_s}
        units = {"session.build_s": "s", "entry.import_s": "s"}
        for q, t in res["times"].items():
            metrics[f"corpus.{q}.s"], units[f"corpus.{q}.s"] = t, "s"
            metrics[f"corpus.{q}.stages"], units[f"corpus.{q}.stages"] = res["stages"][q], "count"
    else:
        metrics = {
            "setup_s": setup_s,
            "query_total_s": sum(res["times"].values()),
            "failed_frac": ctx.failed / max(ctx.attempted, 1),
            "peak_rss_mb": peak_rss_mb(),
        }
        units = CORPUS_E2E
    context = {"workload": "corpus", "seed": args.seed, "nproc": os.cpu_count(), "threads": env["threads"],
               "tables": manifest["tables"], "generate_s": gen_s, "queries": len(res["times"]),
               "checks": ctx.checks}
    print(json.dumps({"context": context}, default=str), flush=True)
    correct = not res["mismatches"]
    emit(correct, ctx.attempted, ctx.failed, metrics, units)
    return 0 if correct else 1


def stop_spark() -> None:
    """Stop the active session, then the JVM, and wait for it to exit."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    gw.shutdown()
    proc = getattr(gw, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def code_cache_used_mb(spark) -> float | None:
    """Context only: JIT code cache in use at the end of the run (the JIT
    stops compiling when it is full)."""
    try:
        pools = spark._jvm.java.lang.management.ManagementFactory.getMemoryPoolMXBeans()
        return sum(p.getUsage().getUsed() for p in pools if "Code" in p.getName()) / 2**20
    except Exception:  # context only: a JVM without these pools reports none
        return None


def host_probe(spark, rows: int = 10_000_000) -> float:
    """Context only: rows/s of a pure codegen aggregate on this host
    (best of two)."""
    from pyspark.sql import functions as F

    best = 0.0
    for _ in range(2):
        t0 = time.monotonic()
        spark.range(rows).select(F.sum(F.col("id") % 7)).first()
        best = max(best, rows / (time.monotonic() - t0))
    return best


if __name__ == "__main__":
    sys.exit(main())

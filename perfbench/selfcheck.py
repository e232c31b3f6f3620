"""Self-checks of the benchmark itself.

    python3 perfbench/selfcheck.py

Run from the root of a checkout. Checks that
  1. the oracle gate passes on a replayed table and fails on a copy of
     it with one data file silently corrupted (its text values edited);
  2. the same seed gives the same inputs and another seed other inputs;
  3. run.py prints every metric named in BENCHMARK.json with its unit,
     with --trace 0 (end-to-end) and --trace 1 (per-layer).
Exits non-zero if any check fails.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import subprocess
import sys

HOME = os.getcwd()


def check_oracle_and_seeds(state: str) -> list[str]:
    from pyspark.sql import functions as F

    import inputs
    import oracle
    import run
    import workloads
    from debezium_server_batch_spark.plans.laketable import LakeTable
    from debezium_server_batch_spark.session import build_session

    env = run.prepare_env(HOME)
    spark = build_session(master=f"local[{env['threads']}]", app_name="perfbench-selfcheck",
                          extra_conf=run.session_conf(env, False))
    errors = []
    try:
        cache = os.path.join(state, "selfcheck-cache")
        shutil.rmtree(cache, ignore_errors=True)
        m1, _ = inputs.load(cache, "tail", 1, spark, 2)
        m2, _ = inputs.load(cache, "tail", 2, spark, 2)
        d1 = inputs.log_digest(m1)
        if d1 == inputs.log_digest(m2):
            errors.append("seeds 1 and 2 gave the same inputs")
        shutil.rmtree(cache)
        m1b, _ = inputs.load(cache, "tail", 1, spark, 2)
        if inputs.log_digest(m1b) != d1:
            errors.append("seed 1 gave different inputs on regeneration")

        ctx = workloads.Ctx(spark, env["work"], "tail", 1, 2, m1b)
        root = os.path.join(ctx.fresh("selfcheck"), "tables")
        workloads.CdcPipeline(spark, workloads.config(ctx, workloads.log_of(ctx), root)).run()
        LakeTable.load(spark, root).compact()
        if not oracle.check_table(LakeTable.load(spark, root), m1b)["ok"]:
            errors.append("oracle gate failed on a correct table")
        bad = root + "-corrupt"
        shutil.copytree(root, bad)
        # the largest data file the copy's current snapshot references
        live = LakeTable.load(spark, bad).file_entries()
        victim = os.path.join(bad, max(live, key=lambda f: f["rows"])["path"])
        rewrite = victim + ".rewrite"
        spark.read.parquet(victim).withColumn(
            "text", F.concat(F.col("text"), F.lit(" (corrupted)"))
        ).coalesce(1).write.parquet(rewrite)
        os.replace(glob.glob(os.path.join(rewrite, "part-*.parquet"))[0], victim)
        shutil.rmtree(rewrite)
        # drop Hadoop's checksum sidecar too: the corruption must be silent
        crc = os.path.join(os.path.dirname(victim), "." + os.path.basename(victim) + ".crc")
        if os.path.exists(crc):
            os.remove(crc)
        res = oracle.check_table(LakeTable.load(spark, bad), m1b)
        if res["ok"]:
            errors.append("oracle gate passed on a corrupted table copy")
        shutil.rmtree(cache, ignore_errors=True)
    finally:
        spark.stop()
        shutil.rmtree(env["work"], ignore_errors=True)
    return errors


def check_metric_names() -> list[str]:
    with open(os.path.join(HOME, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    errors = []
    for trace, key in ((0, "end_to_end"), (1, "per_layer")):
        want = {m["name"]: m["unit"] for m in bench[key]}
        cmd = bench["command"] + ["--workload", bench["workloads"][0]["name"], "--seed", "7",
                                  "--seconds", "2", "--trace", str(trace)]
        out = subprocess.run(cmd, cwd=HOME, capture_output=True, text=True, timeout=600)
        last = out.stdout.strip().splitlines()[-1] if out.stdout.strip() else "{}"
        got = {k: v["unit"] for k, v in json.loads(last).get("metrics", {}).items()}
        if out.returncode != 0 or got != want:
            errors.append(
                f"--trace {trace}: rc={out.returncode}, missing={sorted(set(want) - set(got))}, "
                f"unexpected={sorted(set(got) - set(want))}, "
                f"wrong units={sorted(k for k in want if k in got and got[k] != want[k])}"
            )
    return errors


def main() -> int:
    if not os.path.isfile(os.path.join(HOME, "debezium_server_batch_spark", "__init__.py")):
        print("selfcheck: run from the root of a checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, HOME)
    state = os.path.join(HOME, ".perfbench")
    errors = check_oracle_and_seeds(state)
    # the JVM of the first check must be gone before the timed runs
    import run

    run.stop_spark()
    errors += check_metric_names()
    for e in errors:
        print("FAIL", e)
    print("selfcheck:", "FAILED" if errors else "ok")
    return 1 if errors else 0


if __name__ == "__main__":
    sys.exit(main())

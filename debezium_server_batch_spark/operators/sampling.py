"""Deterministic corpus sampling + sequence packing — the two steps a
training-data pipeline runs right after filtering/dedup: draw a
reproducible (possibly stratum-weighted) subset, then pack documents
into fixed token budgets for pretraining batches.

Both are pure codegen (no Python, no RNG): reproducibility at 100 TB
means the SAME rows survive on every run, every cluster size, every
partitioning — Spark's df.sample() guarantees none of that (it is
seed + partition-layout dependent). The hash here is the first 8 hex
chars of md5 over the key, compared lexicographically against a hex
threshold — portable bit-for-bit to any engine with md5 (the DuckDB
oracles reproduce it verbatim).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

HASH_SPACE = 16**8  # first 8 hex chars of md5 → uniform over [0, 16^8)


def hash_threshold(fraction: float) -> str:
    """Hex threshold t such that P[md5-prefix < t] == trunc(fraction *
    16^8) / 16^8 — the exact, engine-portable sampling probability.
    fraction 1.0 returns "g" (sorts after every hex string), so a full
    rate keeps ALL rows rather than all-but-the-top-hash."""
    if not 0.0 <= fraction <= 1.0:
        raise ValueError(f"fraction must be in [0, 1], got {fraction}")
    if fraction >= 1.0:
        return "g"
    return format(int(fraction * HASH_SPACE), "08x")


def hash_sample(
    df: DataFrame,
    key_col: str,
    fraction: float | None = None,
    stratum_col: str | None = None,
    rates: dict[str, float] | None = None,
    default_rate: float = 0.0,
) -> DataFrame:
    """Deterministic sample: keep a row iff the first 8 hex chars of
    md5(key) sort below the stratum's threshold.

    * `fraction`: one global rate; OR
    * `stratum_col` + `rates`: per-stratum rates (corpus rebalancing —
      e.g. downsample the dominant language, keep the tail), rows in
      strata absent from `rates` kept at `default_rate`.

    Properties a pipeline actually needs: (1) reproducible across runs,
    partitionings and engines; (2) NESTED — the 5% sample is a strict
    subset of the 10% sample (thresholds are prefixes of one uniform
    draw), so sweeps reuse a single materialization; (3) map-only: a
    codegen filter, no shuffle, pushed to the scan.

    100-TB shape: a filter on a scan — embarrassingly parallel; the
    md5 is per-row JVM-side (commons-codec), no Python."""
    if (fraction is None) == (rates is None):
        raise ValueError("pass exactly one of fraction= or rates= (+ stratum_col)")
    h = F.substring(F.md5(F.col(key_col).cast("string")), 1, 8)
    if fraction is not None:
        thr = F.lit(hash_threshold(fraction))
    elif stratum_col is None:
        raise ValueError("rates= requires stratum_col=")
    else:
        thr = F.lit(hash_threshold(default_rate))
        for value, rate in sorted(rates.items()):
            thr = F.when(F.col(stratum_col) == value, F.lit(hash_threshold(rate))).otherwise(thr)
    # a null key has no hash: only a full rate (threshold "g") keeps it,
    # since a full rate keeps every row
    return df.filter(F.coalesce(h < thr, thr == F.lit(hash_threshold(1.0))))


def global_running_total(
    df: DataFrame,
    id_col: str,
    token_col: str,
    num_partitions: int | None = None,
    stratum_col: str | None = None,
) -> DataFrame:
    """Id-ordered running total of `token_col` as a `_cum` column —
    global, or per-stratum when `stratum_col` is given — WITHOUT a
    serial window (`Window.orderBy(id)` moves the whole corpus through
    ONE task; `Window.partitionBy(stratum)` moves the whole DOMINANT
    stratum through one task — same wall at web scale, where one
    language is half the corpus).

    Two-level scan, all stages parallel:

    1. `repartitionByRange(P, [stratum,] id)` — contiguous ranges, one
       per task; a big stratum spans MANY partitions.
    2. per-partition window cumsum keyed on `spark_partition_id()`
       (and stratum) — P parallel streams regardless of stratum sizes.
    3. per-(partition, stratum) token totals (≤ P + #strata rows:
       range partitioning makes each stratum contiguous, so a partition
       holds at most two partial strata) → exclusive prefix offsets per
       stratum via a window over that tiny frame → BROADCAST back and
       add. No driver collect anywhere.

    Bit-identical to the window plan: (stratum, id) is a total order,
    range partitioning keeps equal keys together (window-peer semantics
    preserved), and integer addition is associative.

    The ranged frame is persisted (MEMORY_AND_DISK): `spark_partition_id`
    must agree between the offsets aggregate and the final join, and
    range boundaries come from a sampling pass, so both branches must
    read the SAME materialization — this also makes the boundary sample
    a one-time cost instead of two scans."""
    from pyspark import StorageLevel

    if num_partitions is None:
        num_partitions = int(
            df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32")
        )
    strat = [F.col(stratum_col)] if stratum_col else []
    strat_names = [stratum_col] if stratum_col else []
    ranged = (
        df.repartitionByRange(num_partitions, *strat, F.col(id_col))
        .withColumn("_pid", F.spark_partition_id())
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    tok = F.col(token_col).cast("long")
    w_local = Window.partitionBy("_pid", *strat_names).orderBy(F.col(id_col))
    local = ranged.withColumn("_lcum", F.sum(tok).over(w_local))
    totals = ranged.groupBy("_pid", *strat_names).agg(F.sum(tok).alias("_ptot"))
    w_off = (
        Window.partitionBy(*strat_names)
        .orderBy("_pid")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = totals.select(
        "_pid", *strat_names,
        F.coalesce(F.sum("_ptot").over(w_off), F.lit(0)).alias("_poff"),
    )
    return (
        local.join(F.broadcast(offsets), ["_pid"] + strat_names)
        .withColumn("_cum", (F.col("_poff") + F.col("_lcum")).cast("long"))
        .drop("_pid", "_lcum", "_poff")
    )


def pack_documents(
    df: DataFrame,
    id_col: str = "doc_id",
    token_col: str = "n_tokens",
    budget: int = 2048,
    stratum_col: str | None = None,
    num_partitions: int | None = None,
) -> DataFrame:
    """Greedy contiguous sequence packing: order documents by id (within
    `stratum_col` if given), run a cumulative token count, and assign
    each document to pack ``(cumsum - its tokens) // budget`` — the pack
    its START offset falls in. Deterministic, single-pass, and exactly
    what a pretraining loader needs to group documents into ~budget-
    token training sequences. A document straddling a boundary stays in
    its start pack, so packs can overflow by at most one document
    (standard streaming packing; oversized single documents get a pack
    of their own).

    Returns (id_col[, stratum_col], n_tokens, pack_id, pack_offset) —
    pack_offset = the doc's starting token offset within its pack.

    100-TB shape: both paths run `global_running_total`'s range-
    partitioned two-level cumsum (P parallel streams + a tiny offset
    broadcast) — never a serial window. Unstratified, the serial plan
    is the single-partition global window; stratified, it is the
    dominant stratum (one language = half a web corpus) serializing
    through one task. Here a big stratum spans many range partitions
    and every stage stays parallel."""
    base = global_running_total(df, id_col, token_col, num_partitions, stratum_col)
    start = (F.col("_cum") - F.col(token_col)).cast("long")
    cols = [F.col(id_col)] + ([F.col(stratum_col)] if stratum_col else [])
    return base.select(
        *cols,
        F.col(token_col).cast("long").alias("n_tokens"),
        F.floor(start / F.lit(budget)).cast("long").alias("pack_id"),
        F.pmod(start, F.lit(budget)).cast("long").alias("pack_offset"),
    )

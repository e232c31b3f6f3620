"""Deterministic hash sampling + greedy sequence packing
(operators/sampling.py)."""

import pytest
from pyspark.sql import functions as F

from debezium_server_batch_spark.operators.sampling import (
    global_running_total,
    hash_sample,
    hash_threshold,
    pack_documents,
)


def test_hash_threshold_exact():
    assert hash_threshold(0.0) == "00000000"
    assert hash_threshold(0.5) == "80000000"
    # full rate must keep even a row whose md5 prefix is "ffffffff":
    # "g" sorts after every hex string, so `h < threshold` is always true
    assert hash_threshold(1.0) == "g"
    assert hash_threshold(1.0 - 2**-33) == "ffffffff"
    with pytest.raises(ValueError):
        hash_threshold(1.5)
    with pytest.raises(ValueError):
        hash_threshold(-0.1)


def test_hash_sample_deterministic_and_nested(spark):
    """Same rows on every run and partitioning; the 5% sample is a
    strict subset of the 20% sample (one uniform draw, nested
    thresholds) — the property df.sample() does NOT have."""
    df = spark.range(4000).select(F.col("id").alias("doc_id"))
    s20 = {r["doc_id"] for r in hash_sample(df, "doc_id", fraction=0.2).collect()}
    s20_re = {
        r["doc_id"]
        for r in hash_sample(df.repartition(13), "doc_id", fraction=0.2).collect()
    }
    s5 = {r["doc_id"] for r in hash_sample(df, "doc_id", fraction=0.05).collect()}
    assert s20 == s20_re  # partitioning-invariant
    assert s5 <= s20  # nested
    # rate sanity: binomial(4000, p) stays well inside these bands
    assert 0.12 * 4000 < len(s20) < 0.28 * 4000
    assert len(hash_sample(df, "doc_id", fraction=0.0).collect()) == 0


def test_hash_sample_stratified(spark):
    df = spark.createDataFrame(
        [(i, "en" if i % 2 == 0 else "de") for i in range(2000)], "doc_id long, lang string"
    )
    out = hash_sample(
        df, "doc_id", stratum_col="lang", rates={"en": 0.0, "de": 1.0}, default_rate=0.3
    )
    got = {(r["doc_id"], r["lang"]) for r in out.collect()}
    assert all(lang == "de" for _id, lang in got)  # en rate 0 drops all
    assert len(got) == 1000  # de rate 1 keeps all
    with pytest.raises(ValueError):
        hash_sample(df, "doc_id")  # neither fraction nor rates
    with pytest.raises(ValueError):
        hash_sample(df, "doc_id", fraction=0.1, stratum_col="lang", rates={"en": 0.1})
    with pytest.raises(ValueError):
        hash_sample(df, "doc_id", rates={"en": 0.1})  # rates without stratum


def test_pack_documents_semantics(spark):
    """Greedy contiguous packing: packs fill to the budget, a document
    straddling the boundary stays in its start pack (overflow by at
    most one doc), oversized documents get their own pack, strata pack
    independently."""
    rows = [
        # lang a: tokens 300, 300, 300 with budget 512:
        #   d0 start 0 → pack 0; d1 start 300 → pack 0 (straddles);
        #   d2 start 600 → pack 1
        (0, "a", 300), (1, "a", 300), (2, "a", 300),
        # lang b: an oversized 1300-token doc then a 100-token doc:
        #   d10 start 0 → pack 0; d11 start 1300 → pack 2
        (10, "b", 1300), (11, "b", 100),
    ]
    df = spark.createDataFrame(rows, "doc_id long, lang string, n_tokens long")
    out = {
        r["doc_id"]: (r["pack_id"], r["pack_offset"])
        for r in pack_documents(df, budget=512, stratum_col="lang").collect()
    }
    assert out[0] == (0, 0)
    assert out[1] == (0, 300)
    assert out[2] == (1, 600 - 512)
    assert out[10] == (0, 0)
    assert out[11] == (2, 1300 - 2 * 512)

    # deterministic under repartitioning
    out2 = {
        r["doc_id"]: (r["pack_id"], r["pack_offset"])
        for r in pack_documents(df.repartition(7), budget=512, stratum_col="lang").collect()
    }
    assert out == out2


def _ref_cumsum(spark, df, id_col, token_col):
    """Single-window reference (the plan global_running_total replaces)."""
    from pyspark.sql import Window

    w = Window.orderBy(F.col(id_col))
    return {
        r[id_col]: r["_cum"]
        for r in df.withColumn("_cum", F.sum(F.col(token_col)).over(w)).collect()
    }


def test_global_running_total_matches_single_window(spark):
    """The range-partitioned two-level cumsum is bit-identical to the
    single-partition global window, for every input partitioning and
    every partition count — including P > n_rows (empty ranges) and
    P = 1 (degenerate to the reference plan)."""
    df = spark.range(137).select(
        F.col("id").alias("doc_id"),
        (F.pmod(F.col("id") * 37 + 11, F.lit(29)) + 1).alias("n_tokens"),
    )
    ref = _ref_cumsum(spark, df, "doc_id", "n_tokens")
    for in_parts in (1, 5, 32):
        for p in (1, 4, 200):
            got = {
                r["doc_id"]: r["_cum"]
                for r in global_running_total(
                    df.repartition(in_parts), "doc_id", "n_tokens", num_partitions=p
                ).collect()
            }
            assert got == ref, (in_parts, p)


def test_global_running_total_tie_semantics(spark):
    """Duplicate ids: window-peer semantics (all ties share the cum of
    the full peer group) must survive the distributed plan — range
    partitioning keeps equal keys in one partition."""
    from pyspark.sql import Window

    rows = [(1, 10), (2, 20), (2, 30), (2, 40), (3, 5)]
    df = spark.createDataFrame(rows, "doc_id long, n_tokens long")
    ref = sorted(
        (r["doc_id"], r["_cum"])
        for r in df.withColumn(
            "_cum", F.sum("n_tokens").over(Window.orderBy("doc_id"))
        ).collect()
    )
    got = sorted(
        (r["doc_id"], r["_cum"])
        for r in global_running_total(df.repartition(4), "doc_id", "n_tokens", 8).collect()
    )
    assert got == ref


def test_pack_documents_unstratified_is_distributed(spark):
    """The unstratified path must NOT plan a global no-partition window
    over the corpus: the physical plan carries range partitioning and a
    broadcast of the O(P) offsets, and its output equals a stratified
    run with a single constant stratum (same global order)."""
    df = spark.range(200).select(
        F.col("id").alias("doc_id"),
        (F.pmod(F.col("id"), F.lit(13)) + 1).alias("n_tokens"),
    )
    out = pack_documents(df, budget=50, num_partitions=8)
    plan = out._jdf.queryExecution().executedPlan().toString().lower()
    assert "rangepartitioning" in plan
    assert "broadcast" in plan
    got = {r["doc_id"]: (r["pack_id"], r["pack_offset"]) for r in out.collect()}
    one = df.withColumn("_s", F.lit(1))
    ref = {
        r["doc_id"]: (r["pack_id"], r["pack_offset"])
        for r in pack_documents(one, budget=50, stratum_col="_s").collect()
    }
    assert got == ref


def test_global_running_total_stratified_matches_window(spark):
    """Per-stratum distributed cumsum == the per-stratum window plan,
    for every partitioning and partition count — including a dominant
    stratum that spans many range partitions."""
    from pyspark.sql import Window

    df = spark.range(211).select(
        F.col("id").alias("doc_id"),
        # dominant stratum: ~70% "en", the rest split across two tails
        F.when(F.pmod(F.col("id"), F.lit(10)) < 7, "en")
        .when(F.pmod(F.col("id"), F.lit(10)) < 9, "de")
        .otherwise("fr").alias("lang"),
        (F.pmod(F.col("id") * 13 + 5, F.lit(23)) + 1).alias("n_tokens"),
    )
    w = Window.partitionBy("lang").orderBy("doc_id")
    ref = sorted(
        (r["doc_id"], r["lang"], r["_cum"])
        for r in df.withColumn("_cum", F.sum("n_tokens").over(w)).collect()
    )
    for in_parts in (1, 8):
        for p in (1, 5, 64):
            got = sorted(
                (r["doc_id"], r["lang"], r["_cum"])
                for r in global_running_total(
                    df.repartition(in_parts), "doc_id", "n_tokens",
                    num_partitions=p, stratum_col="lang",
                ).collect()
            )
            assert got == ref, (in_parts, p)


def test_hash_sample_full_rate_keeps_null_keys(spark):
    """A full rate keeps EVERY row, null keys included (md5(NULL) is
    NULL, so a bare `h < threshold` dropped them even at 1.0); below a
    full rate a null key has no hash and is never drawn."""
    df = spark.createDataFrame(
        [(1, "en"), (None, "en"), (3, "de"), (None, "de")], "doc_id long, lang string"
    )
    assert hash_sample(df, "doc_id", fraction=1.0).count() == 4
    assert hash_sample(df, "doc_id", fraction=0.999).filter(F.col("doc_id").isNull()).count() == 0
    out = hash_sample(df, "doc_id", stratum_col="lang", rates={"en": 1.0}, default_rate=0.0)
    assert sorted((r["doc_id"] is None, r["lang"]) for r in out.collect()) == [
        (False, "en"), (True, "en")
    ]

"""Correctness gates, run outside the timed region.

The final table state is compared with an independent last-writer-wins
oracle computed by DuckDB straight from the raw envelope JSON (the SQL of
``oracle_final_state`` in tests/test_consumer.py, extended with the
columns the benchmark's own schemas add and with a per-destination
filter). Malformed events are excluded by ``json_valid``, as the engine
excludes them from every table.
"""

from __future__ import annotations

import duckdb
from pyspark.sql import functions as F

COLUMNS = ("url", "lsn", "text", "lang", "title", "section", "warc_ts_ms")


def _source(manifest: dict) -> str:
    if "log" in manifest:
        return f"read_parquet('{manifest['log']}/*.parquet')"
    files = ", ".join(f"'{manifest['segments_dir']}/{s['file']}'" for s in manifest["segments"])
    return f"read_parquet([{files}])"


def oracle_state(manifest: dict, destination: str | None = None) -> list[tuple]:
    where = "value IS NOT NULL AND json_valid(value)"
    if destination is not None:
        where += f" AND destination = '{destination}'"
    con = duckdb.connect()
    try:
        return con.execute(
            f"""
            WITH parsed AS (
              SELECT
                json_extract_string(value, '$.payload.url')   AS url,
                CAST(json_extract(value, '$.payload.__lsn') AS BIGINT) AS lsn,
                json_extract_string(value, '$.payload.__deleted') AS deleted,
                json_extract_string(value, '$.payload.text')  AS text,
                json_extract_string(value, '$.payload.lang')  AS lang,
                json_extract_string(value, '$.payload.title') AS title,
                json_extract_string(value, '$.payload.section') AS section,
                CAST(json_extract(value, '$.payload.warc_ts_ms') AS BIGINT) AS warc_ts_ms
              FROM {_source(manifest)}
              WHERE {where}
            ), ranked AS (
              SELECT *, row_number() OVER (PARTITION BY url ORDER BY lsn DESC) AS rn
              FROM parsed
            )
            SELECT {", ".join(COLUMNS)}
            FROM ranked WHERE rn = 1 AND deleted = 'false'
            ORDER BY url
            """
        ).fetchall()
    finally:
        con.close()


def table_state(table) -> list[tuple]:
    df = table.read()
    cols = [
        F.col("url"),
        F.col("__lsn"),
        F.col("text"),
        F.col("lang"),
        F.col("title") if "title" in df.columns else F.lit(None).cast("string"),
        F.col("section") if "section" in df.columns else F.lit(None).cast("string"),
        F.unix_millis(F.col("warc_ts")),
    ]
    return [tuple(r) for r in df.select(*cols).orderBy("url").collect()]


def compare(expected: list[tuple], actual: list[tuple]) -> dict:
    """{ok, expected_rows, actual_rows, first_diff}."""
    ok = expected == actual
    diff = None
    if not ok:
        exp, act = set(expected), set(actual)
        missing, extra = sorted(exp - act)[:1], sorted(act - exp)[:1]
        diff = {"missing": [list(r) for r in missing], "unexpected": [list(r) for r in extra]}
    return {"ok": ok, "expected_rows": len(expected), "actual_rows": len(actual), "first_diff": diff}


def check_table(table, manifest: dict, destination: str | None = None) -> dict:
    return compare(oracle_state(manifest, destination), table_state(table))


def check_dead_letters(spark, dlq_path: str, manifest: dict) -> dict:
    """The DLQ spool must hold exactly the injected malformed offsets
    (offset-deduplicated: capture is at-least-once across redos)."""
    got = sorted(
        r[0] for r in spark.read.parquet(dlq_path).select("offset").distinct().collect()
    )
    want = manifest["malformed_offsets"]
    return {"ok": got == want, "expected": len(want), "captured": len(got)}

"""The Spark-SQL surface produces the same answers as the DataFrame API."""

from __future__ import annotations

import pytest

from binlog_avro_comparator_spark.plans import registry
from binlog_avro_comparator_spark.plans.sql_api import (
    FINDINGS_SQL,
    LATENCY_SQL,
    SUMMARY_SQL,
    register_cdc_views,
)

SF = "/root/testdata/sf0.001"


def test_sql_summary_matches_dataframe_api(spark):
    register_cdc_views(spark, SF)
    sql_row = spark.sql(SUMMARY_SQL).collect()[0]
    df_row = registry.queries()["cdc_summary"](spark, SF).collect()[0]
    assert sql_row.matched == df_row.matched
    assert sql_row.ts_mismatches == df_row.ts_mismatches
    assert sql_row.avro_only == df_row.avro_only
    assert sql_row.binlog_only == df_row.binlog_only


def test_sql_latency_matches_dataframe_api(spark):
    register_cdc_views(spark, SF)
    sql_rows = {
        r.change_type: r for r in spark.sql(LATENCY_SQL).collect()
    }
    df_rows = {
        r.change_type: r
        for r in registry.queries()["cdc_latency_stats"](spark, SF).collect()
    }
    assert set(sql_rows) == set(df_rows)
    for ct, r in df_rows.items():
        s = sql_rows[ct]
        assert (s.n, s.min_ms, s.max_ms, s.mean_ms) == (
            r.n, r.min_ms, r.max_ms, r.mean_ms,
        ), ct
        assert (s.p50_ms, s.p90_ms, s.p99_ms) == (r.p50_ms, r.p90_ms, r.p99_ms)


@pytest.mark.slow
def test_sql_findings_counts(spark):
    register_cdc_views(spark, SF)
    sql_kinds = {
        r.kind: r.n
        for r in spark.sql(
            f"SELECT kind, count(*) n FROM ({FINDINGS_SQL}) GROUP BY kind"
        ).collect()
    }
    df_kinds = {
        r.kind: r.n
        for r in registry.queries()["cdc_findings"](spark, SF)
        .groupBy("kind")
        .count()
        .withColumnRenamed("count", "n")
        .collect()
    }
    for kind in ("TIMESTAMP_MISMATCH", "AVRO_ONLY_BINLOG_KEY", "BINLOG_ONLY_DML"):
        assert sql_kinds[kind] == df_kinds[kind], kind


@pytest.mark.slow
def test_registry_outputs_are_hashable_by_the_driver(spark):
    """Oracle-canonicalization guard: the external driver canonicalizes
    results with pandas sort_values over every column, which throws on
    list/dict cells.  Therefore NO registered query may emit a
    top-level array/map/struct column -- complex shapes must be
    projected to scalars (CSV via array_join, exploded rows, ...)
    before registration.  embedding_quantize_int8's round-3 red row was
    exactly this; this test makes the class of bug a local pytest
    failure instead of a driver-round discovery.

    Building the DataFrame is enough -- schemas are available without
    executing -- but streaming-backed queries drain eagerly inside
    their query fn, so this runs them at sf0.001 where the drain is
    cheap."""
    from pyspark.sql import types as T

    from binlog_avro_comparator_spark.plans import registry

    banned = (T.ArrayType, T.MapType, T.StructType)
    offenders = []
    for name, fn in registry.queries().items():
        schema = fn(spark, SF).schema
        for field in schema.fields:
            if isinstance(field.dataType, banned):
                offenders.append(f"{name}.{field.name}: {field.dataType.simpleString()}")
    assert offenders == [], (
        "driver-unhashable output columns (project to scalar before "
        f"registering): {offenders}"
    )


def test_registry_oracle_pairing_is_total_and_ordered():
    """Contract invariants the split registry (round 7) must preserve:
    every queries() entry has an oracle_sql() twin and vice versa
    (zero orphans in either direction), keys are unique, and the
    assembly of the three oracle builder modules reproduces the full
    set -- a missing add() call or a dropped chunk fails HERE, not in
    a driver round."""
    from binlog_avro_comparator_spark.plans import registry

    q = registry.queries()
    o = registry.oracle_sql()
    assert set(q) == set(o), set(q) ^ set(o)
    assert len(q) == len(set(q))
    # the driver samples the FIRST 50 entries: they must be distinct
    # real callables (ordering is the correctness-evidence budget)
    head = list(q)[:50]
    assert len(head) == 50 and len(set(head)) == 50
    for name in head:
        assert callable(q[name]) and isinstance(o[name], str) and o[name].strip()


@pytest.mark.parametrize("name", ["cdc_findings", "cdc_findings_stream"])
def test_cdc_findings_match_duckdb_oracle(spark, name):
    """The batch findings and the streaming findings run to completion
    equal their DuckDB oracle twins as row multisets, column for
    column -- the streaming twin being the batch oracle minus the
    end-of-stream kind."""
    from collections import Counter

    import duckdb

    df = registry.queries()[name](spark, SF)
    got = Counter(tuple(r) for r in df.collect())
    con = duckdb.connect()
    try:
        con.execute(f"CREATE VIEW events AS SELECT * FROM '{SF}/events.parquet'")
        res = con.execute(registry.oracle_sql()[name])
        cols = [d[0] for d in res.description]
        want = Counter(res.fetchall())
    finally:
        con.close()
    assert df.columns == cols
    assert got, name
    assert got == want, (got - want, want - got)

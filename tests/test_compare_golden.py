"""Golden-fixture tests for the CDC diff core.

Hand-built binlog/avro inputs covering every semantic branch of
/root/reference/compare_timestamps.go (SURVEY.md section 5, item 2),
with hand-computed expected findings and summary counters.
"""

from __future__ import annotations

from datetime import datetime, timezone

import pytest
from pyspark.sql import types as T

from binlog_avro_comparator_spark.operators import compare as C

BASE = datetime(2025, 6, 1, 10, 0, 0, tzinfo=timezone.utc)
BASE_MS = int(BASE.timestamp() * 1000)

TS = "2025-06-01T10:00:00Z"
ICT = "2025-06-01T10:00:00.123456Z"
ICT_MS = BASE_MS + 123  # epoch millis of ICT (floor of .123456)

BINLOG_SCHEMA = T.StructType(
    [
        T.StructField("event_type", T.StringType()),
        T.StructField("timestamp", T.StringType()),
        T.StructField("immediate_commmit_timestamp", T.StringType()),
        T.StructField("log_position", T.LongType()),
        T.StructField("schema", T.StringType()),
        T.StructField("table", T.StringType()),
        T.StructField("gtid_next", T.StringType()),
        T.StructField("binlog_file", T.StringType()),
        T.StructField("line_no", T.LongType()),
    ]
)

AVRO_SCHEMA = T.StructType(
    [
        T.StructField("source_timestamp", T.LongType()),
        T.StructField("database", T.StringType()),
        T.StructField("table", T.StringType()),
        T.StructField("change_type", T.StringType()),
        T.StructField("gtid", T.StringType()),
        T.StructField("binlog_file", T.StringType()),
        T.StructField("binlog_position", T.LongType()),
        T.StructField("is_deleted", T.BooleanType()),
        T.StructField("avro_line_no", T.LongType()),
    ]
)


def _b(event_type, pos, line_no, ts=TS, ict=ICT, gtid="g", file="f1"):
    return (event_type, ts, ict, pos, "db", "t", gtid, file, line_no)


def _a(pos, src_ms, ct="INSERT", gtid="g", file="f1", line=0):
    return (src_ms, "db", "t", ct, gtid, file, pos, False, line)


BINLOG_ROWS = [
    _b("WriteRowsEventV2", 100, 1),                       # clean match
    _b("UpdateRowsEventV2", 200, 2, ict=None),            # C1 fallback; avro +150ms -> mismatch
    _b("DeleteRowsEventV2", 300, 3),                      # Q1: ct check differs by mode
    _b("XID", 400, 4),                                    # XID matched (Q4)
    _b("XID", 500, 5),                                    # XID unmatched -> suppressed (F4)
    _b("WriteRowsEventV2", 600, 6),                       # BINLOG_ONLY
    _b("Query", 700, 7),                                  # F1-filtered
    _b("WriteRowsEventV2", 0, 8),                         # Q5 zero pos -> dropped
    _b("WriteRowsEventV2", 800, 9, file=""),              # empty file -> dropped
    _b("WriteRowsEventV2", 900, 10, gtid="gA"),           # dup key, loser
    _b("WriteRowsEventV2", 900, 11, gtid="gB"),           # dup key, winner (J2)
    _b("WriteRowsEventV2", 1000, 12, ict="garbage"),      # parse error (counted)
    _b("WriteRowsEventV2", 1100, 13, gtid="gX"),          # GTID mismatch (report-only)
    _b("WriteRowsEventV2", 1200, 14),                     # tolerance edge: |delta| == 100 -> OK
    _b("WriteRowsEventV2", 1300, 15),                     # tolerance edge: |delta| == 101 -> mismatch
]

AVRO_ROWS = [
    _a(100, ICT_MS + 50),
    _a(200, BASE_MS + 150, ct="UPDATE"),
    _a(300, ICT_MS, ct="INSERT"),          # wrong ct for a Delete event
    _a(400, ICT_MS, ct=""),                # XID: inferred '' -> ct check skipped
    _a(600 + 9999, ICT_MS),                # AVRO_ONLY (no binlog key)
    _a(900, ICT_MS, gtid="gB"),            # matches dedup winner -> no gtid finding
    _a(1000, ICT_MS),                      # hits the parse-error row
    _a(1100, ICT_MS, gtid="gY"),           # GTID mismatch
    _a(1200, ICT_MS + 100),                # exactly at tolerance -> OK
    _a(1300, ICT_MS + 101),                # just beyond -> mismatch
    _a(0, ICT_MS),                         # F3 bad key -> skipped (still in total)
]


@pytest.fixture(scope="module")
def frames(spark):
    binlog = spark.createDataFrame(BINLOG_ROWS, BINLOG_SCHEMA)
    avro = spark.createDataFrame(AVRO_ROWS, AVRO_SCHEMA)
    bp = C.prepare_binlog(binlog)
    ap = C.prepare_avro(avro)
    return avro, bp, ap


def test_prepare_binlog(frames):
    _, bp, _ = frames
    rows = {(r.binlog_file, r.binlog_position): r for r in bp.collect()}
    assert len(rows) == 11  # 15 - Query - zero-pos - empty-file - dup loser
    assert rows[("f1", 900)].gtid_next == "gB"  # last-write-wins
    assert ("f1", 0) not in rows
    assert ("", 800) not in rows


def test_matched_flags(frames):
    avro, bp, ap = frames
    m = {r.binlog_position: r for r in C.matched_pairs(bp, ap).collect()}
    assert len(m) == 9
    assert not m[100].ts_mismatch and not m[100].gtid_mismatch
    assert m[200].ts_mismatch  # fallback path, +150ms
    assert m[200].binlog_ms == BASE_MS  # second-precision fallback
    assert m[300].change_type_mismatch  # default mode: DELETE inferred
    assert m[400].inferred_change_type == ""  # XID -> no inference
    assert not m[400].change_type_mismatch
    assert m[1000].binlog_ms is None and m[1000].ts_mismatch  # parse error
    assert not m[1000].gtid_mismatch  # suppressed after parse error
    assert m[1100].gtid_mismatch and not m[1100].ts_mismatch
    assert not m[1200].ts_mismatch  # |delta| == tolerance is OK
    assert m[1300].ts_mismatch  # |delta| == tolerance + 1


def test_strict_reference_parity_q1(frames):
    _, bp, ap = frames
    cfg = C.CompareConfig(strict_reference_parity=True)
    m = {r.binlog_position: r for r in C.matched_pairs(bp, ap, cfg).collect()}
    # Q1 quirk: DeleteRowsEventV2 does not end in 'DeleteRowsV2'
    assert m[300].inferred_change_type == ""
    assert not m[300].change_type_mismatch


def test_anti_joins(frames):
    _, bp, ap = frames
    ao = C.avro_only(bp, ap).collect()
    assert [r.binlog_position for r in ao] == [600 + 9999]
    bo = C.binlog_only(bp, ap).collect()
    assert [r.binlog_position for r in bo] == [600]  # XID@500 suppressed


def test_findings_and_summary(frames):
    avro, bp, ap = frames
    f = C.findings_onepass(bp, ap)
    by_kind = {}
    for r in f.collect():
        by_kind.setdefault(r.kind, []).append(r)
    assert len(by_kind["TIMESTAMP_MISMATCH"]) == 2      # pos 200, 1300
    assert len(by_kind["TIMESTAMP_PARSE_ERROR"]) == 1   # pos 1000
    assert len(by_kind["GTID_MISMATCH"]) == 1           # pos 1100
    assert len(by_kind["CHANGE_TYPE_MISMATCH"]) == 1    # pos 300
    assert len(by_kind["AVRO_ONLY_BINLOG_KEY"]) == 1
    assert len(by_kind["BINLOG_ONLY_DML"]) == 1
    assert not by_kind["GTID_MISMATCH"][0].counted      # Q3 report-only
    assert not by_kind["CHANGE_TYPE_MISMATCH"][0].counted

    s = C.summary_onepass(avro, bp, ap).collect()[0]
    assert s.total_avro_records == 11  # includes the F3-skipped row
    assert s.binlog_build_events == 11
    assert s.matched == 9
    assert s.ts_mismatches == 3  # 200, 1000 (parse), 1300
    assert s.avro_only == 1
    assert s.binlog_only == 1
    assert not s.consistent


def test_input_order_invariance(spark, frames):
    """J2 regression (SURVEY.md section 5, item 3): results must not
    depend on input row order."""
    avro, bp, ap = frames
    binlog_rev = spark.createDataFrame(list(reversed(BINLOG_ROWS)), BINLOG_SCHEMA)
    bp2 = C.prepare_binlog(binlog_rev.repartition(7))
    m1 = sorted(
        (r.binlog_position, r.gtid_next) for r in C.matched_pairs(bp, ap).collect()
    )
    m2 = sorted(
        (r.binlog_position, r.gtid_next) for r in C.matched_pairs(bp2, ap).collect()
    )
    assert m1 == m2


def test_all_consistent_verdict(spark):
    """A2: verdict is true iff all three counters are zero."""
    binlog = spark.createDataFrame(
        [_b("WriteRowsEventV2", 100, 1)], BINLOG_SCHEMA
    )
    avro = spark.createDataFrame([_a(100, ICT_MS)], AVRO_SCHEMA)
    bp, ap = C.prepare_binlog(binlog), C.prepare_avro(avro)
    s = C.summary_onepass(avro, bp, ap).collect()[0]
    assert s.consistent and s.matched == 1 and s.ts_mismatches == 0


def test_both_empty_timestamps_is_counted_mismatch(spark):
    """Both timestamp fields empty: the reference never calls time.Parse
    (compare_timestamps.go:200-204), so the row compares against Go's
    zero-value time -- a *counted* TIMESTAMP_MISMATCH, not a parse
    error, and the GTID/change-type checks still run (:223-246)."""
    binlog = spark.createDataFrame(
        [_b("WriteRowsEventV2", 100, 1, ts="", ict="", gtid="gX")], BINLOG_SCHEMA
    )
    avro = spark.createDataFrame(
        [_a(100, ICT_MS, ct="UPDATE", gtid="gY")], AVRO_SCHEMA
    )
    bp, ap = C.prepare_binlog(binlog), C.prepare_avro(avro)
    m = C.matched_pairs(bp, ap).collect()[0]
    assert m.binlog_ms == C.GO_ZERO_TIME_MS
    assert m.ts_mismatch
    assert m.gtid_mismatch            # not suppressed
    assert m.change_type_mismatch     # WriteRows infers INSERT != UPDATE
    kinds = {r.kind for r in C.findings_onepass(bp, ap).collect()}
    assert "TIMESTAMP_MISMATCH" in kinds
    assert "TIMESTAMP_PARSE_ERROR" not in kinds
    assert "GTID_MISMATCH" in kinds
    s = C.summary_onepass(avro, bp, ap).collect()[0]
    assert s.ts_mismatches == 1


def test_console_findings_all_sections(spark):
    """console_findings over the full golden scenario: BINLOG_ONLY and
    parse-error line shapes (compare_timestamps.go:206-207,264-266),
    section split, and per-kind presence."""
    from binlog_avro_comparator_spark.pipeline import console_findings

    binlog = spark.createDataFrame(BINLOG_ROWS, BINLOG_SCHEMA)
    avro = spark.createDataFrame(AVRO_ROWS, AVRO_SCHEMA)
    rows = console_findings(C.prepare_binlog(binlog), C.prepare_avro(avro)).collect()
    by_prefix = {}
    for r in rows:
        by_prefix.setdefault(r.text.split(":")[0], []).append(r)
    bonly = by_prefix["BINLOG_ONLY (DML)"]
    assert len(bonly) == 1 and bonly[0].section == 1
    assert bonly[0].text == (
        "BINLOG_ONLY (DML): Key {f1 600} (Event: WriteRowsEventV2, "
        "Schema: db, Table: t, TS: 2025-06-01T10:00:00Z)"
        " -> No matching Avro record found."
    )
    errs = by_prefix["ERROR"]
    assert len(errs) == 1 and "Key {f1 1000}" in errs[0].text
    assert "Could not parse binlog timestamp 'garbage' or " in errs[0].text
    # every avro-stream finding sits in section 0
    assert all(r.section == 0 for r in rows if not r.text.startswith("BINLOG_ONLY"))
    assert "MISMATCH (GTID)" in {r.text.split(": Line")[0] for r in rows}


def test_content_checksum_order_and_partition_invariant(spark):
    """The checksum must be identical for any row order / partitioning
    of the same multiset, and differ when one row changes."""
    from binlog_avro_comparator_spark.operators.compare import content_checksum

    rows = [(f"f{i % 3}", i) for i in range(500)]
    a = spark.createDataFrame(rows, "binlog_file string, binlog_position long")
    b = spark.createDataFrame(list(reversed(rows)), "binlog_file string, binlog_position long").repartition(13)
    ca = content_checksum(a, ["binlog_file", "binlog_position"]).collect()[0]
    cb = content_checksum(b, ["binlog_file", "binlog_position"]).collect()[0]
    assert (ca.n_rows, ca.checksum) == (cb.n_rows, cb.checksum)
    mutated = spark.createDataFrame(
        rows[:-1] + [("f9", 999999)], "binlog_file string, binlog_position long"
    )
    cm = content_checksum(mutated, ["binlog_file", "binlog_position"]).collect()[0]
    assert cm.checksum != ca.checksum


def test_replica_checksums_empty_sides_match(spark):
    """Two empty replicas are trivially consistent: keys_match must be
    TRUE (checksum '0'), never a NULL three-valued non-answer."""
    from binlog_avro_comparator_spark.operators.compare import replica_checksums

    empty_b = spark.createDataFrame(
        [], "binlog_file string, binlog_position long, event_type string"
    )
    empty_a = spark.createDataFrame(
        [], "binlog_file string, binlog_position long, avro_line_no long"
    )
    row = replica_checksums(empty_b, empty_a).collect()[0]
    assert row.keys_match is True
    assert row.binlog_checksum == "0" and row.avro_checksum == "0"


def test_payload_diff_statuses_and_prepare(spark):
    """payload_diff column-level findings: MISMATCH / BINLOG_NULL /
    AVRO_NULL statuses, agreeing columns silent, DELETE's before image
    is the effective state, and last-write-wins dedup picks the higher
    event_no for a duplicated key."""
    from binlog_avro_comparator_spark.operators.compare import (
        payload_diff, prepare_binlog_payload)

    def row(event_no, row_no, image, et, pos, payload, file="mysql-bin.000001"):
        return (file, event_no, row_no, image, et, "2024-01-01T00:00:00Z",
                None, pos, "db", "t", "g:1", payload)

    rows = spark.createDataFrame(
        [
            # key 100: WRITE, avro disagrees on quantity only
            row(1, 1, "after", "WriteRowsEventV2", 100,
                {"order_id": "1", "name": "a", "quantity": "3"}),
            # key 200: UPDATE -- before image must NOT leak into the diff
            row(2, 1, "before", "UpdateRowsEventV2", 200,
                {"order_id": "2", "name": "WRONG", "quantity": "9"}),
            row(2, 2, "after", "UpdateRowsEventV2", 200,
                {"order_id": "2", "name": "b", "quantity": "4"}),
            # key 300: DELETE -- before image IS the effective state;
            # binlog name NULL vs avro value -> BINLOG_NULL
            row(3, 1, "before", "DeleteRowsEventV2", 300,
                {"order_id": "3", "name": None, "quantity": "5"}),
            # key 400: duplicated -- event_no 5 must win over 4
            row(4, 1, "after", "WriteRowsEventV2", 400,
                {"order_id": "9", "name": "stale", "quantity": "1"}),
            row(5, 1, "after", "WriteRowsEventV2", 400,
                {"order_id": "4", "name": "d", "quantity": "1"}),
            # zero position: dropped by prepare
            row(6, 1, "after", "WriteRowsEventV2", 0,
                {"order_id": "x", "name": "x", "quantity": "x"}),
        ],
        "binlog_file string, event_no long, row_no int, image string, "
        "event_type string, timestamp string, "
        "immediate_commmit_timestamp string, log_position long, "
        "schema string, table string, gtid_next string, "
        "payload map<string,string>",
    )
    avro = spark.createDataFrame(
        [
            ("mysql-bin.000001", 100, {"order_id": "1", "name": "a", "quantity": "99"}),
            ("mysql-bin.000001", 200, {"order_id": "2", "name": "b", "quantity": None}),
            ("mysql-bin.000001", 300, {"order_id": "3", "name": "c", "quantity": "5"}),
            ("mysql-bin.000001", 400, {"order_id": "4", "name": "d", "quantity": "1"}),
        ],
        "binlog_file string, binlog_position long, payload map<string,string>",
    )
    got = {
        (r.binlog_position, r.column): (r.binlog_value, r.avro_value, r.status)
        for r in payload_diff(prepare_binlog_payload(rows), avro).collect()
    }
    assert got == {
        (100, "quantity"): ("3", "99", "MISMATCH"),
        (200, "quantity"): ("4", None, "AVRO_NULL"),
        (300, "name"): (None, "c", "BINLOG_NULL"),
    }


def test_gtid_gaps_ranges_and_multi_sid(spark):
    """Gap ranges per server UUID: consecutive GNOs emit nothing, a
    hole becomes one (start, end, n_missing) row, SIDs don't cross."""
    from binlog_avro_comparator_spark.operators.compare import gtid_gaps

    rows = [("f", 1, f"A:{g}") for g in (1, 2, 5, 6, 10)]
    rows += [("f", 1, "B:3"), ("f", 1, "B:4"), ("f", 1, "no-colon-here")]
    df = spark.createDataFrame(
        rows, "binlog_file string, binlog_position long, gtid_next string"
    )
    got = {(r.sid, r.gap_start, r.gap_end, r.n_missing)
           for r in gtid_gaps(df).collect()}
    assert got == {("A", 3, 4, 2), ("A", 7, 9, 3)}


def test_order_audit_counts_inversions(spark):
    """An event below the running max counts as an inversion; equal or
    increasing positions don't; empty-file rows are excluded."""
    from binlog_avro_comparator_spark.operators.compare import order_audit

    rows = [
        ("f1", 1, 100), ("f1", 2, 200), ("f1", 3, 150),  # inversion
        ("f1", 4, 200),                                  # equal to max: ok
        ("f1", 5, 0),                                    # zero: inversion
        ("f2", 1, 10), ("f2", 2, 20),
        ("", 1, 5),
    ]
    df = spark.createDataFrame(
        rows, "binlog_file string, line_no long, log_position long"
    )
    got = {r.binlog_file: r for r in order_audit(df).collect()}
    assert set(got) == {"f1", "f2"}
    assert got["f1"].n_inversions == 2 and got["f1"].n_events == 5
    assert (got["f1"].min_pos, got["f1"].max_pos) == (0, 200)
    assert got["f2"].n_inversions == 0


def test_lag_timeline_buckets_and_percentiles(spark):
    """Minute bucketing + integer-exact percentiles over signed lag."""
    from binlog_avro_comparator_spark.operators.compare import lag_timeline

    base = 1_700_000_000_000 - 1_700_000_000_000 % 60_000
    rows = [(base + 1, 10), (base + 2, 20), (base + 3, 30),
            (base + 60_001, -5)]
    df = spark.createDataFrame(
        rows, "source_timestamp long, ts_delta_ms long"
    )
    got = {r.bucket_ms: r for r in lag_timeline(df).collect()}
    assert got[base].n == 3 and got[base].p50_ms == 20.0
    assert got[base + 60_000].n == 1 and got[base + 60_000].p99_ms == -5.0


def test_table_scorecard_golden_counts(frames):
    """Per-table scorecard over the golden fixture: one (db, t) row
    whose counters equal the hand-computed summary (matched 9, ts 3
    incl. the parse error, gtid 1, ct 1, avro_only 1, binlog_only 1)."""
    _, bp, ap = frames
    rows = C.table_scorecard(bp, ap).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r.schema_name, r.table_name) == ("db", "t")
    assert r.n_matched == 9
    assert r.n_ts_mismatch == 3
    assert r.n_gtid_mismatch == 1
    assert r.n_change_type_mismatch == 1
    assert r.n_avro_only == 1
    assert r.n_binlog_only == 1
    assert not r.consistent


def test_table_scorecard_splits_tables(spark):
    """A healthy table stays consistent while the broken one is
    flagged -- the per-table split is the operator's whole point."""
    binlog = spark.createDataFrame(
        [
            ("WriteRowsEventV2", TS, ICT, 100, "db", "good", "g1", "f1", 1),
            ("WriteRowsEventV2", TS, ICT, 200, "db", "bad", "g2", "f1", 2),
        ],
        BINLOG_SCHEMA,
    )
    avro = spark.createDataFrame(
        [_a(100, ICT_MS)], AVRO_SCHEMA
    )  # table 'bad' never lands
    got = {
        r.table_name: r
        for r in C.table_scorecard(
            C.prepare_binlog(binlog), C.prepare_avro(avro)
        ).collect()
    }
    # the avro row carries table 't' but matches the binlog row by key;
    # the scorecard groups matched rows by the avro-side table name
    assert got["t"].n_matched == 1 and got["t"].consistent
    assert got["bad"].n_binlog_only == 1 and not got["bad"].consistent


def test_match_timeline_golden_single_bucket(frames):
    """All golden rows land in one minute; the presence counters and
    match rate equal the hand-computed summary."""
    _, bp, ap = frames
    rows = C.match_timeline(bp, ap).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r.bucket_ms == BASE_MS - BASE_MS % 60_000
    assert (r.n_matched, r.n_ts_mismatch) == (9, 3)
    assert (r.n_avro_only, r.n_binlog_only) == (1, 1)
    assert r.match_rate == round(9 / 11, 6)


def test_match_timeline_outage_window(spark):
    """Rows in a later minute that never land show up as a bucket with
    match_rate 0 -- the outage-window signature."""
    ok_ms = BASE_MS
    out_ms = BASE_MS + 120_000
    out_ts = "2025-06-01T10:02:00Z"
    out_ict = "2025-06-01T10:02:00.000000Z"
    binlog = spark.createDataFrame(
        [
            ("WriteRowsEventV2", TS, ICT, 100, "db", "t", "g1", "f1", 1),
            ("WriteRowsEventV2", out_ts, out_ict, 200, "db", "t", "g2", "f1", 2),
            ("WriteRowsEventV2", out_ts, out_ict, 300, "db", "t", "g3", "f1", 3),
        ],
        BINLOG_SCHEMA,
    )
    avro = spark.createDataFrame([_a(100, ok_ms)], AVRO_SCHEMA)
    got = {
        r.bucket_ms: r
        for r in C.match_timeline(
            C.prepare_binlog(binlog), C.prepare_avro(avro)
        ).collect()
    }
    assert got[ok_ms - ok_ms % 60_000].match_rate == 1.0
    bad = got[out_ms - out_ms % 60_000]
    assert bad.n_binlog_only == 2 and bad.match_rate == 0.0


def test_gtid_coverage_statuses(frames):
    """Transaction-granularity landing: the golden fixture's shared
    gtid 'g' spans 7 DML rows with one BINLOG_ONLY -> PARTIAL; the
    fully-landed single-row transactions read FULL."""
    _, bp, ap = frames
    got = {r.gtid: r for r in C.gtid_coverage(bp, ap).collect()}
    assert got["g"].status == "PARTIAL"
    assert (got["g"].n_rows, got["g"].n_landed) == (7, 6)
    assert got["gB"].status == "FULL" and got["gB"].n_rows == 1
    assert got["gX"].status == "FULL"


def test_gtid_coverage_missing_and_dup_avro(spark):
    """A transaction with zero landed rows reads MISSING, and
    duplicate avro rows for one binlog key cannot double-count
    n_landed past n_rows."""
    binlog = spark.createDataFrame(
        [
            ("WriteRowsEventV2", TS, ICT, 100, "db", "t", "tx1", "f1", 1),
            ("UpdateRowsEventV2", TS, ICT, 200, "db", "t", "tx1", "f1", 2),
            ("DeleteRowsEventV2", TS, ICT, 300, "db", "t", "tx2", "f1", 3),
        ],
        BINLOG_SCHEMA,
    )
    avro = spark.createDataFrame(
        [
            _a(100, ICT_MS, line=1),
            _a(100, ICT_MS, line=2),  # duplicate landing for pos 100
            _a(200, ICT_MS, line=3),
        ],
        AVRO_SCHEMA,
    )
    got = {
        r.gtid: r
        for r in C.gtid_coverage(
            C.prepare_binlog(binlog), C.prepare_avro(avro)
        ).collect()
    }
    assert got["tx1"].status == "FULL"
    assert (got["tx1"].n_rows, got["tx1"].n_landed) == (2, 2)
    assert got["tx2"].status == "MISSING" and got["tx2"].n_landed == 0


def test_near_miss_keys_statuses_and_bounds(spark):
    """The +7-byte planted drift pairs as RECOVERABLE when GTIDs
    corroborate, POSITIONAL when they don't, never beyond tolerance,
    and across a bucket boundary (15 vs 17, tolerance 16)."""
    binlog = spark.createDataFrame(
        [
            ("WriteRowsEventV2", TS, ICT, 100, "db", "t", "g1", "f1", 1),
            ("WriteRowsEventV2", TS, ICT, 300, "db", "t", "g2", "f1", 2),
            ("WriteRowsEventV2", TS, ICT, 500, "db", "t", "g3", "f1", 3),
            ("WriteRowsEventV2", TS, ICT, 15, "db", "t", "g4", "f1", 4),
        ],
        BINLOG_SCHEMA,
    )
    avro = spark.createDataFrame(
        [
            _a(107, ICT_MS, gtid="g1"),   # +7, same gtid -> RECOVERABLE
            _a(307, ICT_MS, gtid="zz"),   # +7, wrong gtid -> POSITIONAL
            _a(517, ICT_MS, gtid="g3"),   # +17 -> beyond tolerance
            _a(17, ICT_MS, gtid="g4"),    # +2 across bucket edge
        ],
        AVRO_SCHEMA,
    )
    got = {
        r.binlog_position: r
        for r in C.near_miss_keys(
            C.prepare_binlog(binlog), C.prepare_avro(avro)
        ).collect()
    }
    assert set(got) == {100, 300, 15}
    assert got[100].status == "RECOVERABLE" and got[100].delta == 7
    assert got[300].status == "POSITIONAL"
    assert got[15].status == "RECOVERABLE" and got[15].delta == 2

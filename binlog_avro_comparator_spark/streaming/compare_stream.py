"""Structured Streaming variant of the comparison (SURVEY.md section
2.10: the reference batch-processes closed files; `FLUSH BINARY LOGS`
is its manual watermark, README.md:68-73).

The streaming analogue: CDC avro records arrive continuously (file
source discovers new JSONL files incrementally); the binlog build side
is static (closed, rotated files).  ``streaming_findings`` runs the
batch comparison kernel (operators/compare.py) as ONE left-outer
broadcast stream-static join -- same presence markers, comparison
columns and finding structs as ``findings_onepass`` -- then one
explode; no union, no state store, append mode.  Matched-row and
avro-only findings are per-record and stateless.  The binlog-only
check is inherently end-of-stream (an absent record can always still
arrive) and never fires on a left-outer join: run to completion, the
stream's findings are exactly the batch findings minus BINLOG_ONLY_DML.
That one stays a batch op over the accumulated input, exactly like the
reference running after its inputs are complete.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..operators import compare as C
from ..schemas import AVRO_JSONL_SCHEMA
from ..sources.jsonl import unwrap_avro


def stream_avro_jsonl(spark: SparkSession, path: str, max_files_per_trigger: int | None = None) -> DataFrame:
    reader = spark.readStream.schema(AVRO_JSONL_SCHEMA)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return unwrap_avro(reader.json(path))


def streaming_findings(
    binlog_static: DataFrame,
    avro_stream: DataFrame,
    cfg: C.CompareConfig = C.CompareConfig(),
) -> DataFrame:
    """Streaming findings: the batch ``findings_onepass`` rows minus the
    end-of-stream BINLOG_ONLY_DML kind, one output row per finding,
    append-mode safe (no stateful aggregation).  Returns (kind,
    binlog_file, binlog_position, detail, counted)."""
    bp = F.broadcast(C.prepare_binlog(binlog_static))
    j = C._compared(bp, C.prepare_avro(avro_stream), cfg, "left_outer")
    return C._explode_findings(j)


def streaming_payload_findings(
    binlog_stream: DataFrame,
    avro_stream: DataFrame,
    window_ms: int = 2000,
    watermark_delay: str = "0 seconds",
) -> DataFrame:
    """FULL OUTER payload diff with BOTH sides live -- the tier the
    stateless stream-static diff cannot give: binlog-only and
    avro-only findings are NEGATIVES ('the partner never arrived'),
    unknowable on an open stream until the watermark proves no partner
    can still come, exactly view_click_left_join_stream's contract
    extended to both directions.

    Inputs: (binlog_file, binlog_position, payload map<string,string>,
    ts event-time) on each side.  Shape: ONE watermarked stream-stream
    full-outer join on the composite key plus the |a_ts - b_ts| <=
    window_ms range predicate that bounds both state stores, then a
    SINGLE stateless projection that explodes each joined row into its
    findings -- matched rows into per-column MISMATCH / BINLOG_NULL /
    AVRO_NULL rows (the batch payload_diff contract), unmatched rows
    into one BINLOG_ONLY / AVRO_ONLY row (column and values NULL).
    Building the findings as a filtered transform() array and exploding
    once keeps the join single-instance (a union of filtered branches
    would re-instantiate the stateful join per branch).

    End-of-replay contract (what the oracle states): with both sides
    drained via availableNow, final watermark W = min over inputs of
    (max event time - delay); matched pairs all emit; a matchless
    binlog row emits iff b_ts + window < W, a matchless avro row iff
    a_ts + window < W -- STRICT, because the inclusive <= range
    predicate keeps a partner with ts == boundary admissible when the
    watermark merely equals it (pinned by
    test_payload_findings_stream_horizons; note the LEFT interval
    join's horizon is inclusive instead, its range predicate being
    half-open).  Returns (binlog_file, binlog_position, column,
    binlog_value, avro_value, status)."""
    b = binlog_stream.select(
        F.col("binlog_file"),
        F.col("binlog_position"),
        F.col("payload").alias("__bp"),
        F.col("ts").alias("b_ts"),
    ).withWatermark("b_ts", watermark_delay)
    a = avro_stream.select(
        F.col("binlog_file").alias("a_file"),
        F.col("binlog_position").alias("a_pos"),
        F.col("payload").alias("__ap"),
        F.col("ts").alias("a_ts"),
    ).withWatermark("a_ts", watermark_delay)
    iv = F.expr(f"INTERVAL {window_ms} MILLISECONDS")
    j = b.join(
        a,
        (F.col("binlog_file") == F.col("a_file"))
        & (F.col("binlog_position") == F.col("a_pos"))
        & (F.col("a_ts") >= F.col("b_ts") - iv)
        & (F.col("a_ts") <= F.col("b_ts") + iv),
        "fullOuter",
    )
    bp, ap = F.col("__bp"), F.col("__ap")
    null_s = F.lit(None).cast("string")

    def _finding(column, bv, av, status):
        return F.struct(
            column.alias("column"),
            bv.alias("binlog_value"),
            av.alias("avro_value"),
            status.alias("status"),
        )

    cols = F.array_distinct(F.concat(F.map_keys(bp), F.map_keys(ap)))
    per_col = F.filter(
        F.transform(
            cols,
            lambda c: _finding(
                c,
                F.element_at(bp, c),
                F.element_at(ap, c),
                F.when(
                    F.element_at(bp, c).isNull()
                    & F.element_at(ap, c).isNotNull(),
                    F.lit("BINLOG_NULL"),
                )
                .when(
                    F.element_at(bp, c).isNotNull()
                    & F.element_at(ap, c).isNull(),
                    F.lit("AVRO_NULL"),
                )
                .when(
                    F.element_at(bp, c).isNotNull()
                    & F.element_at(ap, c).isNotNull()
                    & (F.element_at(bp, c) != F.element_at(ap, c)),
                    F.lit("MISMATCH"),
                ),
            ),
        ),
        lambda s: s["status"].isNotNull(),
    )
    findings = (
        F.when(
            bp.isNull(),
            F.array(_finding(null_s, null_s, null_s, F.lit("AVRO_ONLY"))),
        )
        .when(
            ap.isNull(),
            F.array(_finding(null_s, null_s, null_s, F.lit("BINLOG_ONLY"))),
        )
        .otherwise(per_col)
    )
    return (
        j.select(
            F.coalesce(F.col("binlog_file"), F.col("a_file")).alias(
                "binlog_file"
            ),
            F.coalesce(F.col("binlog_position"), F.col("a_pos")).alias(
                "binlog_position"
            ),
            F.explode(findings).alias("__f"),
        )
        .select("binlog_file", "binlog_position", "__f.*")
    )


def streaming_payload_diff(
    binlog_payload_static: DataFrame, avro_payload_stream: DataFrame
) -> DataFrame:
    """Payload-level diff as a stream: decoded binlog row images are
    the closed/static build side (rotation is the watermark, same
    contract as streaming_findings), avro payload records arrive
    continuously.  ``compare.payload_diff`` is stateless per matched
    row -- one inner stream-static equi-join plus a per-row explode of
    the column union -- so it appends findings as records arrive with
    NO state store at all; the static side is broadcast per
    micro-batch.  Same output contract as the batch operator:
    (binlog_file, binlog_position, column, binlog_value, avro_value,
    status)."""
    return C.payload_diff(F.broadcast(binlog_payload_static), avro_payload_stream)

"""Per-layer metrics of the traced run: names, units, and how each is
reduced from one traced worker's samples.

Every metric is emitted for every workload; a layer the workload never
calls reads 0 (it did no work).  Times are medians over the traced
iterations of per-iteration sums (a layer both CDC diffs use is timed
in each); counts are medians too (they repeat exactly).
"""

from __future__ import annotations

import statistics

PER_LAYER = {
    "session.start_s": "s",
    "binlog_binary.decode_s": "s",
    "binlog_binary.rows_decode_s": "s",
    "binlog_binary.mb_per_s": "MB/s",
    "jsonl.read_binlog_s": "s",
    "jsonl.read_avro_s": "s",
    "jsonl.binlog_rows": "count",
    "jsonl.avro_rows": "count",
    "compare.prepare_s": "s",
    "compare.dedup_ratio": "ratio",
    "compare.findings_s": "s",
    "compare.summary_s": "s",
    "compare.findings_rows": "count",
    "compare.payload_diff_s": "s",
    "pipeline.self_s": "s",
    "spark.jobs_per_iter": "count",
    "spark.shuffle_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "tail.latest_offset_ms": "ms",
    "tail.add_batch_ms": "ms",
    "tail.commit_ms": "ms",
    "findings.add_batch_ms": "ms",
    "findings.input_rows": "count",
    "dedup.exact_s": "s",
    "dedup.signatures_s": "s",
    "dedup.candidates_s": "s",
    "dedup.candidate_pairs": "count",
    "dedup.verified_per_candidate": "ratio",
    "dedup.planted_recall": "ratio",
    "dedup.cc_rounds": "count",
    "dedup.cluster_s": "s",
    "trace.overhead_s": "s",
}

# metric -> the span / counter / progress series it is the median of
_SERIES = {
    "binlog_binary.decode_s": "binlog_binary.decode",
    "binlog_binary.rows_decode_s": "binlog_binary.rows_decode",
    "jsonl.read_binlog_s": "jsonl.read_binlog",
    "jsonl.read_avro_s": "jsonl.read_avro",
    "jsonl.binlog_rows": "jsonl.binlog_rows",
    "jsonl.avro_rows": "jsonl.avro_rows",
    "compare.prepare_s": "compare.prepare",
    "compare.dedup_ratio": "compare.dedup_ratio",
    "compare.findings_s": "compare.findings",
    "compare.summary_s": "compare.summary",
    "compare.findings_rows": "compare.findings_rows",
    "compare.payload_diff_s": "compare.payload_diff",
    "pipeline.self_s": "pipeline.self_s",
    "tail.latest_offset_ms": "tail.latest_offset_ms",
    "tail.add_batch_ms": "tail.add_batch_ms",
    "tail.commit_ms": "tail.commit_ms",
    "findings.add_batch_ms": "findings.add_batch_ms",
    "findings.input_rows": "findings.input_rows",
    "dedup.exact_s": "dedup.exact",
    "dedup.signatures_s": "dedup.signatures",
    "dedup.candidates_s": "dedup.candidates",
    "dedup.candidate_pairs": "dedup.candidate_pairs",
    "dedup.verified_per_candidate": "dedup.verified_per_candidate",
    "dedup.planted_recall": "dedup.planted_recall",
    "dedup.cc_rounds": "dedup.cc_rounds",
    "dedup.cluster_s": "dedup.cluster",
}


def _median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def layer_value(name: str, res: dict, ev: dict, expect: dict) -> float:
    """One per-layer metric from a traced worker result ``res`` and the
    event-log totals ``ev`` over its untraced iterations."""
    layers = res.get("layers", {})
    n_iter = max(1, len(res.get("times", [])))
    if name == "session.start_s":
        return float(res["session_start_s"])
    if name == "binlog_binary.mb_per_s":
        t = _median(layers.get("binlog_binary.decode", []))
        return expect.get("input_bytes", 0) / 2**20 / t if t else 0.0
    if name == "spark.jobs_per_iter":
        return ev.get("jobs", 0) / n_iter
    if name == "spark.shuffle_bytes":
        return ev.get("shuffle_bytes", 0) / n_iter
    if name == "spark.spill_bytes":
        return ev.get("spill_bytes", 0) / n_iter
    if name == "trace.overhead_s":
        traced, plain = res.get("traced_times", []), res.get("times", [])
        return _median(traced) - _median(plain) if traced and plain else 0.0
    return _median(layers.get(_SERIES[name], []))

from .compare import (
    CompareConfig,
    prepare_binlog,
    prepare_avro,
    diff_joined,
    matched_pairs,
    avro_only,
    binlog_only,
    findings_onepass,
    summary_onepass,
)

__all__ = [
    "CompareConfig",
    "prepare_binlog",
    "prepare_avro",
    "diff_joined",
    "matched_pairs",
    "avro_only",
    "binlog_only",
    "findings_onepass",
    "summary_onepass",
]

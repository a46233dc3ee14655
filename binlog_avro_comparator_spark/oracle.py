"""DuckDB oracle SQL.

Literal SQL mirror of ``fixtures.py`` (derivation) + ``operators/compare.py``
(semantics).  Every constant here must match fixtures.py -- the pairing
is what gives every compare operator an independent correctness oracle.

The driver registers the parquet tables as DuckDB views named
``region nation customer supplier part orders lineitem events documents
embeddings`` and runs these strings verbatim.
"""

from __future__ import annotations

# ---------------------------------------------------------------------------
# CDC derivation + comparison pipeline, as reusable CTEs.
# Mirrors fixtures.derive_binlog_events / derive_avro_rows and the
# prepare/matched/anti operators of operators/compare.py.
# ---------------------------------------------------------------------------
CDC_CTES = """
binlog_events_cdc AS (
  SELECT
    CASE event_type
      WHEN 'click' THEN 'WriteRowsEventV2'
      WHEN 'view' THEN 'UpdateRowsEventV2'
      WHEN 'purchase' THEN 'DeleteRowsEventV2'
      WHEN 'signup' THEN 'XID'
      ELSE 'Query' END AS event_type,
    strftime(ts, '%Y-%m-%dT%H:%M:%SZ') AS "timestamp",
    CASE WHEN event_id % 7 = 0 THEN NULL
         ELSE strftime(ts, '%Y-%m-%dT%H:%M:%S.%fZ') END AS immediate_commmit_timestamp,
    CASE WHEN event_id % 211 = 0 THEN 0
         WHEN event_id % 53 = 0 THEN 100 * ((event_id + 4) // 4) + 4
         ELSE 100 * (event_id // 4) + 4 END AS log_position,
    'db' || CAST(user_id % 2 AS VARCHAR) AS "schema",
    't' || CAST(user_id % 3 AS VARCHAR) AS "table",
    'uuid-0:' || CAST(event_id AS VARCHAR) AS gtid_next,
    CASE WHEN event_id % 223 = 0 THEN ''
         ELSE 'mysql-bin.' || lpad(CAST(event_id % 4 AS VARCHAR), 6, '0') END AS binlog_file,
    event_id AS line_no
  FROM events
),
avro_rows_cdc AS (
  SELECT
    (CASE WHEN event_id % 7 = 0 THEN epoch_ms(date_trunc('second', ts)) ELSE epoch_ms(ts) END
     + CASE WHEN event_id % 11 = 0 THEN 250 ELSE event_id % 90 END) AS source_timestamp,
    'db' || CAST(user_id % 2 AS VARCHAR) AS database,
    't' || CAST(user_id % 3 AS VARCHAR) AS "table",
    CASE WHEN event_id % 2 = 0 THEN lower(ct_raw) ELSE ct_raw END AS change_type,
    'uuid-0:' || CAST(CASE WHEN event_id % 19 = 0 THEN event_id + 1 ELSE event_id END AS VARCHAR) AS gtid,
    'mysql-bin.' || lpad(CAST(event_id % 4 AS VARCHAR), 6, '0') AS binlog_file,
    CASE WHEN event_id % 29 = 1 THEN 0
         WHEN event_id % 17 = 5 THEN 100 * (event_id // 4) + 4 + 7
         ELSE 100 * (event_id // 4) + 4 END AS binlog_position,
    (event_type = 'purchase') AS is_deleted,
    event_id AS avro_line_no
  FROM (
    SELECT *,
      CASE WHEN event_id % 23 = 0 THEN
        CASE event_type WHEN 'click' THEN 'UPDATE' WHEN 'view' THEN 'DELETE' ELSE 'INSERT' END
      ELSE
        CASE event_type WHEN 'click' THEN 'INSERT' WHEN 'view' THEN 'UPDATE' ELSE 'DELETE' END
      END AS ct_raw
    FROM events
    WHERE event_type IN ('click', 'view', 'purchase') AND event_id % 13 <> 0
  )
),
binlog_prepared AS (
  SELECT * EXCLUDE (rn) FROM (
    SELECT *, row_number() OVER (
        PARTITION BY binlog_file, log_position ORDER BY line_no DESC) AS rn
    FROM binlog_events_cdc
    WHERE (event_type LIKE '%RowsEventV2' OR event_type = 'XID')
      AND binlog_file IS NOT NULL AND binlog_file <> ''
      AND log_position IS NOT NULL AND log_position <> 0
  ) WHERE rn = 1
),
avro_prepared AS (
  SELECT * FROM avro_rows_cdc
  WHERE binlog_file IS NOT NULL AND binlog_file <> ''
    AND binlog_position IS NOT NULL AND binlog_position <> 0
),
matched AS (
  SELECT * REPLACE (
      source_timestamp - binlog_ms AS ts_delta_ms,
      (binlog_ms IS NULL OR abs(source_timestamp - binlog_ms) > 100) AS ts_mismatch)
  FROM (
    SELECT
      a.*,
      b.event_type, b."timestamp", b.immediate_commmit_timestamp, b.gtid_next,
      b."schema" AS binlog_schema, b."table" AS binlog_table,
      CASE
        WHEN b.immediate_commmit_timestamp IS NOT NULL AND b.immediate_commmit_timestamp <> ''
          THEN epoch_ms(try_strptime(b.immediate_commmit_timestamp, '%Y-%m-%dT%H:%M:%S.%fZ'))
        WHEN b."timestamp" IS NOT NULL AND b."timestamp" <> ''
          THEN epoch_ms(try_strptime(b."timestamp", '%Y-%m-%dT%H:%M:%SZ'))
        ELSE -62135596800000 END AS binlog_ms,
      CAST(NULL AS BIGINT) AS ts_delta_ms,
      FALSE AS ts_mismatch,
      CASE
        WHEN b.event_type LIKE '%WriteRowsEventV2' THEN 'INSERT'
        WHEN b.event_type LIKE '%UpdateRowsEventV2' THEN 'UPDATE'
        WHEN b.event_type LIKE '%DeleteRowsEventV2' THEN 'DELETE'
        ELSE '' END AS inferred_change_type
    FROM avro_prepared a
    JOIN binlog_prepared b
      ON a.binlog_file = b.binlog_file AND a.binlog_position = b.log_position
  )
),
matched_flagged AS (
  SELECT *,
    (binlog_ms IS NOT NULL
     AND gtid IS NOT NULL AND gtid <> ''
     AND gtid_next IS NOT NULL AND gtid_next <> ''
     AND gtid <> gtid_next) AS gtid_mismatch,
    (binlog_ms IS NOT NULL
     AND change_type IS NOT NULL AND change_type <> ''
     AND inferred_change_type <> ''
     AND upper(change_type) <> inferred_change_type) AS change_type_mismatch
  FROM matched
),
avro_only_cdc AS (
  SELECT a.* FROM avro_prepared a
  ANTI JOIN binlog_prepared b
    ON a.binlog_file = b.binlog_file AND a.binlog_position = b.log_position
),
binlog_only_cdc AS (
  SELECT b.* FROM binlog_prepared b
  ANTI JOIN avro_prepared a
    ON a.binlog_file = b.binlog_file AND a.binlog_position = b.log_position
  WHERE b.event_type LIKE '%RowsEventV2'
)
"""

_PREFIX = "WITH " + CDC_CTES


def cdc_binlog_events() -> str:
    return _PREFIX + "SELECT * FROM binlog_events_cdc"


def cdc_avro_rows() -> str:
    return _PREFIX + "SELECT * FROM avro_rows_cdc"


def cdc_avro_native_scan() -> str:
    """Twin of registry._q_cdc_avro_native_scan: the .avro files are
    encoded FROM avro_rows_cdc, so reading them back must reproduce it
    (plus the synthesized primary_keys column, flattened to CSV because
    the driver hash is scalar-typed)."""
    return (
        _PREFIX
        + """
SELECT source_timestamp, database, "table", change_type, gtid,
       binlog_file, binlog_position, is_deleted,
       database || ',' || "table" AS primary_keys_csv
FROM avro_rows_cdc"""
    )


def cdc_resume_bookmarks() -> str:
    """Twin of compare.resume_bookmarks: per-file rollup over the
    prepared feed; last_gtid = gtid of the max line_no (the feed
    order)."""
    return (
        _PREFIX
        + """
, b AS (
  SELECT binlog_file, count(*) AS n_events,
         max(log_position) AS last_position,
         max(line_no) AS last_line_no
  FROM binlog_prepared GROUP BY 1
),
lastg AS (
  SELECT binlog_file, gtid_next AS last_gtid FROM (
    SELECT binlog_file, gtid_next,
           row_number() OVER (PARTITION BY binlog_file
                              ORDER BY line_no DESC) AS rn
    FROM binlog_prepared) WHERE rn = 1
)
SELECT b.binlog_file, b.n_events, b.last_position, b.last_line_no,
       lastg.last_gtid
FROM b JOIN lastg ON lastg.binlog_file = b.binlog_file"""
    )


def cdc_avro_evolved_scan() -> str:
    """Twin of registry._q_cdc_avro_evolved_scan: even binlog segments
    (avro_line_no % 2 = 0 -- the file digit is event_id % 4) were
    written under the legacy v1 producer schema, so their
    binlog_position / is_deleted resolve to the reader defaults (null)
    and their int server_id (binlog_position % 1000000) promotes to
    long; odd segments carry the current schema with a null
    server_id."""
    return (
        _PREFIX
        + """
SELECT source_timestamp, database, "table", change_type, gtid,
       binlog_file,
       CASE WHEN avro_line_no % 2 = 0 THEN NULL
            ELSE binlog_position END AS binlog_position,
       CASE WHEN avro_line_no % 2 = 0 THEN NULL
            ELSE is_deleted END AS is_deleted,
       CASE WHEN avro_line_no % 2 = 0 THEN binlog_position % 1000000
            ELSE NULL END AS datastream_master_server_id,
       database || ',' || "table" AS primary_keys_csv
FROM avro_rows_cdc"""
    )


def cdc_binlog_prepared() -> str:
    return (
        _PREFIX
        + """
SELECT event_type, "timestamp", immediate_commmit_timestamp,
       log_position AS binlog_position, "schema", "table", gtid_next,
       binlog_file, line_no
FROM binlog_prepared"""
    )


def cdc_matches() -> str:
    return (
        _PREFIX
        + """
SELECT binlog_file, binlog_position, avro_line_no, event_type, change_type,
       inferred_change_type, gtid, gtid_next, source_timestamp, binlog_ms,
       ts_delta_ms, ts_mismatch, gtid_mismatch, change_type_mismatch
FROM matched_flagged"""
    )


def cdc_avro_only() -> str:
    return (
        _PREFIX
        + """
SELECT binlog_file, binlog_position, avro_line_no, database, "table",
       change_type, source_timestamp
FROM avro_only_cdc"""
    )


def cdc_binlog_only() -> str:
    return (
        _PREFIX
        + """
SELECT binlog_file, log_position AS binlog_position, event_type, "schema",
       "table", "timestamp", line_no
FROM binlog_only_cdc"""
    )


def cdc_findings() -> str:
    return (
        _PREFIX
        + """
SELECT 'TIMESTAMP_PARSE_ERROR' AS kind, binlog_file, binlog_position,
       'ict=' || coalesce(immediate_commmit_timestamp, '') || ' ts=' || coalesce("timestamp", '') AS detail,
       TRUE AS counted
FROM matched_flagged WHERE binlog_ms IS NULL
UNION ALL
SELECT 'TIMESTAMP_MISMATCH', binlog_file, binlog_position,
       'avro_ms=' || CAST(source_timestamp AS VARCHAR) || ' binlog_ms=' || CAST(binlog_ms AS VARCHAR),
       TRUE
FROM matched_flagged WHERE binlog_ms IS NOT NULL AND ts_mismatch
UNION ALL
SELECT 'GTID_MISMATCH', binlog_file, binlog_position,
       'avro=' || gtid || ' binlog=' || gtid_next, FALSE
FROM matched_flagged WHERE gtid_mismatch
UNION ALL
SELECT 'CHANGE_TYPE_MISMATCH', binlog_file, binlog_position,
       'avro=' || change_type || ' inferred=' || inferred_change_type, FALSE
FROM matched_flagged WHERE change_type_mismatch
UNION ALL
SELECT 'AVRO_ONLY_BINLOG_KEY', binlog_file, binlog_position,
       'db=' || coalesce(database, '') || ' table=' || coalesce("table", '') || ' type=' || coalesce(change_type, ''),
       TRUE
FROM avro_only_cdc
UNION ALL
SELECT 'BINLOG_ONLY_DML', binlog_file, log_position,
       'event=' || event_type || ' schema=' || coalesce("schema", '') || ' table=' || coalesce("table", ''),
       TRUE
FROM binlog_only_cdc"""
    )


def cdc_findings_stream() -> str:
    """Twin of streaming.compare_stream.streaming_findings run to
    completion: the batch findings minus the end-of-stream kind."""
    return f"SELECT * FROM ({cdc_findings()}) WHERE kind <> 'BINLOG_ONLY_DML'"


def cdc_summary() -> str:
    return (
        _PREFIX
        + """
SELECT
  (SELECT count(*) FROM avro_rows_cdc) AS total_avro_records,
  (SELECT count(*) FROM binlog_prepared) AS binlog_build_events,
  (SELECT count(*) FROM matched_flagged) AS matched,
  (SELECT CAST(coalesce(sum(CASE WHEN ts_mismatch THEN 1 ELSE 0 END), 0) AS BIGINT) FROM matched_flagged) AS ts_mismatches,
  (SELECT count(*) FROM avro_only_cdc) AS avro_only,
  (SELECT count(*) FROM binlog_only_cdc) AS binlog_only,
  ((SELECT CAST(coalesce(sum(CASE WHEN ts_mismatch THEN 1 ELSE 0 END), 0) AS BIGINT) FROM matched_flagged) = 0
   AND (SELECT count(*) FROM avro_only_cdc) = 0
   AND (SELECT count(*) FROM binlog_only_cdc) = 0) AS consistent"""
    )


def cdc_latency_stats() -> str:
    """Twin of compare.latency_stats: per-change-type lag profile over
    matched pairs; quantile_cont == Spark percentile (both R-7), mean
    is the exact integer sum divided once."""
    return (
        _PREFIX
        + """
SELECT change_type, count(*) AS n,
       min(ts_delta_ms) AS min_ms,
       max(ts_delta_ms) AS max_ms,
       round(CAST(sum(ts_delta_ms) AS DOUBLE) / count(*), 6) AS mean_ms,
       quantile_cont(ts_delta_ms, 0.5) AS p50_ms,
       quantile_cont(ts_delta_ms, 0.9) AS p90_ms,
       quantile_cont(ts_delta_ms, 0.99) AS p99_ms
FROM matched_flagged
WHERE binlog_ms IS NOT NULL
GROUP BY change_type"""
    )


def cdc_replica_checksums() -> str:
    """Twin of compare.replica_checksums: per-side key-multiset
    checksum (sum of 48-bit md5 over file<US>position), HUGEINT sum
    emitted as digits."""
    return (
        _PREFIX
        + """
SELECT b.n AS binlog_rows, a.n AS avro_rows,
       CAST(b.c AS VARCHAR) AS binlog_checksum,
       CAST(a.c AS VARCHAR) AS avro_checksum,
       (b.n = a.n AND b.c = a.c) AS keys_match
FROM (
  SELECT count(*) AS n,
         coalesce(sum(CAST(('0x' || substr(md5(binlog_file || chr(31) ||
             CAST(log_position AS VARCHAR)), 1, 12)) AS BIGINT)::HUGEINT),
             0::HUGEINT) AS c
  FROM binlog_prepared) b,
  (
  SELECT count(*) AS n,
         coalesce(sum(CAST(('0x' || substr(md5(binlog_file || chr(31) ||
             CAST(binlog_position AS VARCHAR)), 1, 12)) AS BIGINT)::HUGEINT),
             0::HUGEINT) AS c
  FROM avro_prepared) a"""
    )

"""Seeded input generator for the benchmark, plus the independent
expectations every iteration is checked against.

Nothing here touches Spark: events are drawn with ``random.Random(seed)``,
binary segments are rendered with the package's own binlog v4 encoder
(``sources.binlog_binary.encode_binlog_file``), Avro records are
union-wrapped by walking the package's ``AVRO_JSONL_SCHEMA`` (the JSON
shape ``sources.jsonl.wrap_avro`` produces), and the expected summary
and finding counts come from a plain Python re-statement of the
reference's hash-join semantics (map overwrite in line order, then one
probe pass), not from the compare operators under test.

The seed decides the event mix, the timestamps and every plant:
duplicate keys, zero positions, empty file names, missing and orphaned
Avro rows, unusable Avro keys, timestamp/GTID/change-type mismatches and
payload mismatches.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import struct
import time
from collections import Counter

from binlog_avro_comparator_spark import fixtures as FX, schemas
from binlog_avro_comparator_spark.schemas import AVRO_JSONL_SCHEMA
from binlog_avro_comparator_spark.sources import binlog_binary
from binlog_avro_comparator_spark.sources.binlog_binary import (
    FIXTURE_SID_STR,
    GTID_LOG_EVENT,
    HEADER_LEN,
    MAGIC,
    ROTATE_EVENT,
    encode_binlog_file,
)

# package modules the generated bytes and expectations depend on: the
# input cache is keyed on their source as well as on this file's
PACKAGE_INPUTS = (FX, schemas, binlog_binary)

DML = ("WriteRowsEventV2", "UpdateRowsEventV2", "DeleteRowsEventV2")
KINDS = DML + ("XID", "Query")
CHANGE_TYPE = dict(zip(DML, ("INSERT", "UPDATE", "DELETE")))
ROTATED = dict(zip(DML, ("UPDATE", "DELETE", "INSERT")))
EPOCH_2024 = 1_704_067_200

# planted-anomaly rates are drawn per seed from these ranges
PLANT_RATES = {
    "dup_key": (0.01, 0.03),
    "null_ict": (0.05, 0.2),
    "zero_pos": (0.002, 0.01),
    "empty_file": (0.002, 0.01),
    "avro_missing": (0.03, 0.08),
    "avro_orphan": (0.02, 0.06),
    "avro_badkey": (0.01, 0.04),
    "ts_mismatch": (0.03, 0.1),
    "gtid_mismatch": (0.02, 0.06),
    "ct_mismatch": (0.02, 0.06),
    "null_name": (0.01, 0.04),
    "qty_mismatch": (0.01, 0.04),
    "prod_mismatch": (0.01, 0.04),
    "null_ots": (0.01, 0.04),
}


# --- events -----------------------------------------------------------------

def draw_events(rng: random.Random, n: int, *, empty_files: bool) -> tuple[list[dict], dict]:
    """``n`` logical binlog events in commit order, each with its Avro
    twin's planted properties.  Keys (file, position) are assigned later
    by ``place_events`` once the segment layout is known."""
    # the seed splits a fixed 85% DML share among the row-event types (and
    # the rest between XID and Query), so every seed carries the same
    # amount of row-image work
    dml = [rng.uniform(1.0, 4.0) for _ in DML]
    xid = rng.uniform(0.5, 0.9)
    weights = [0.85 * w / sum(dml) for w in dml] + [0.15 * xid, 0.15 * (1 - xid)]
    rates = {k: rng.uniform(*r) for k, r in PLANT_RATES.items()}
    if not empty_files:
        rates["empty_file"] = 0.0
    t_us = (EPOCH_2024 + rng.randrange(365 * 86400)) * 1_000_000 + rng.randrange(1_000_000)
    events = []
    for i in range(n):
        t_us += rng.randrange(200, 20_000)
        kind = rng.choices(KINDS, weights)[0]
        user = rng.randrange(100_000)
        ev = {
            "event_type": kind,
            "line_no": i,  # global ordinal; GTID sequence number = line_no + 1
            "t_us": t_us,
            "ict_null": rng.random() < rates["null_ict"],
            "schema": f"db{user % 2}",
            "table": f"t{user % 3}",
            "zero_pos": rng.random() < rates["zero_pos"],
            "empty_file": rng.random() < rates["empty_file"],
            "dup": rng.random() < rates["dup_key"],
        }
        if kind in DML:
            ev["avro"] = {
                "missing": rng.random() < rates["avro_missing"],
                "orphan": rng.random() < rates["avro_orphan"],
                "badkey": rng.random() < rates["avro_badkey"],
                "ts_delta": (
                    rng.choice((-1, 1)) * rng.randrange(FX.TOLERANCE_MS + 1, 5_000)
                    if rng.random() < rates["ts_mismatch"]
                    else rng.randrange(0, FX.TS_JITTER_MOD)
                ),
                "gtid_off": rng.random() < rates["gtid_mismatch"],
                "ct_rot": rng.random() < rates["ct_mismatch"],
                "lower": rng.random() < 0.5,
                "qty_off": rng.random() < rates["qty_mismatch"],
                "prod_x": rng.random() < rates["prod_mismatch"],
                "ots_null": rng.random() < rates["null_ots"],
            }
            ev["payload"] = {
                "order_id": rng.randrange(1, 2**31 - 1),
                "customer_name": None if rng.random() < rates["null_name"] else f"cust-{user % 1000}",
                "product_name": f"prod-{rng.randrange(97)}",
                "quantity": rng.randrange(1, 11),
            }
        events.append(ev)
    return events, rates


def _contract(ev: dict) -> dict:
    """The binlog contract dict ``encode_binlog_file`` renders."""
    sec = ev["t_us"] // 1_000_000
    d = {
        "event_type": ev["event_type"],
        "timestamp": _fmt_sec(sec),
        "immediate_commmit_timestamp": None if ev["ict_null"] else _fmt_us(ev["t_us"]),
        "log_position": ev.get("log_position", 4),
        "schema": ev["schema"],
        "table": ev["table"],
        "gtid_next": f"{FIXTURE_SID_STR}:{ev['line_no'] + 1}",
        "binlog_file": ev.get("binlog_file", "mysql-bin.000001"),
        "line_no": ev["line_no"],
    }
    p = ev.get("payload")
    if p is not None:
        d.update(p)
        d["order_timestamp"] = effective_ms(ev)
        d["before_quantity"] = p["quantity"] + FX.UPDATE_BEFORE_QTY_DELTA
        d["before_order_timestamp"] = d["order_timestamp"] - FX.UPDATE_BEFORE_OTS_DELTA_MS
    return d


def _fmt_sec(sec: int) -> str:
    return time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime(sec))


def _fmt_us(us: int) -> str:
    return _fmt_sec(us // 1_000_000)[:-1] + f".{us % 1_000_000:06d}Z"


def effective_ms(ev: dict) -> int:
    """Binlog commit time in ms as the compare reads it: the microsecond
    commit timestamp when present, else the second-precision one."""
    if ev["ict_null"]:
        return (ev["t_us"] // 1_000_000) * 1000
    return ev["t_us"] // 1000


def _size_key(ev: dict) -> tuple:
    """Everything an event's encoded length depends on (the header
    fields are fixed-width, so positions and times do not matter)."""
    p = ev.get("payload") or {}
    name = p.get("customer_name")
    return (
        ev["event_type"], ev["schema"], ev["table"],
        None if name is None else len(name), len(p.get("product_name", "")),
    )


def event_size(ev: dict, head: int, memo: dict) -> int:
    """Encoded bytes of one logical event (GTID + TABLE_MAP + body);
    ``head`` is the fixed magic + FDE prefix."""
    k = _size_key(ev)
    if k not in memo:
        memo[k] = len(encode_binlog_file([_contract(ev)], checksum=True)) - head
    return memo[k]


def place_events(events: list[dict], segment_bytes: int) -> list[list[dict]]:
    """Rotate into ``mysql-bin.NNNNNN`` segments at ``segment_bytes``
    (the last one partial) and give every event its end-of-event byte
    position -- the (file, position) key both sides join on."""
    head = len(encode_binlog_file([], checksum=True))
    segments: list[list[dict]] = [[]]
    pos = head
    memo: dict = {}
    for ev in events:
        size = event_size(ev, head, memo)
        if segments[-1] and pos + size > segment_bytes:
            segments.append([])
            pos = head
        pos += size
        ev["binlog_file"] = f"mysql-bin.{len(segments):06d}"
        ev["orig_pos"] = pos
        ev["log_position"] = pos
        segments[-1].append(ev)
    for seg in segments:
        for k, ev in enumerate(seg):
            if ev["zero_pos"]:
                ev["log_position"] = 0
            elif ev["dup"] and k + 1 < len(seg):
                # takes the key of a LATER event of the same segment:
                # last-write-wins must keep that later event
                ev["log_position"] = seg[k + 1]["orig_pos"]
            ev["json_file"] = "" if ev["empty_file"] else ev["binlog_file"]
    return segments


def avro_record(ev: dict) -> dict | None:
    """The Avro (Datastream) record for one DML event, union-wrapped."""
    a = ev.get("avro")
    if a is None or a["missing"]:
        return None
    pos = ev["orig_pos"]
    if a["badkey"]:
        pos = 0
    elif a["orphan"]:
        pos += 7  # positions are event ends, never 7 bytes apart
    ct = ROTATED[ev["event_type"]] if a["ct_rot"] else CHANGE_TYPE[ev["event_type"]]
    p = ev["payload"]
    flat_meta = {
        "database": ev["schema"],
        "table": ev["table"],
        "change_type": ct.lower() if a["lower"] else ct,
        "gtid": f"{FIXTURE_SID_STR}:{ev['line_no'] + 1 + int(a['gtid_off'])}",
        "datastream_master_server_uuid": None,
        "datastream_master_server_id": None,
        "binlog_file": ev["binlog_file"],
        "binlog_position": pos,
        "is_deleted": ev["event_type"] == "DeleteRowsEventV2",
        "primary_keys": ["order_id"],
    }
    flat_payload = {
        "order_id": p["order_id"],
        "customer_name": p["customer_name"] or f"cust-{p['order_id'] % 1000}",
        "product_name": "prod-X" if a["prod_x"] else p["product_name"],
        "quantity": p["quantity"] + int(a["qty_off"]),
        "order_timestamp": None if a["ots_null"] else effective_ms(ev),
    }
    return wrap_union(
        AVRO_JSONL_SCHEMA,
        {
            "source_timestamp": effective_ms(ev) + a["ts_delta"],
            "source_metadata": flat_meta,
            "payload": flat_payload,
        },
    )


def wrap_union(schema, flat: dict) -> dict:
    """Flat record -> avro-tools JSON: a field declared as a one-member
    struct is a ``["null", X]`` union and encodes as ``{"x": v}``
    (``null`` when absent); records recurse, everything else is bare."""
    out = {}
    for f in schema.fields:
        v = flat.get(f.name)
        t = f.dataType
        if getattr(t, "fields", None) is not None:
            if len(t.fields) == 1 and getattr(t.fields[0].dataType, "fields", None) is None:
                out[f.name] = None if v is None else {t.fields[0].name: v}
            else:
                out[f.name] = wrap_union(t, v)
        else:
            out[f.name] = v
    return out


def binlog_json_line(ev: dict) -> str:
    c = _contract(ev)
    return json.dumps(
        {
            "event_type": c["event_type"],
            "timestamp": c["timestamp"],
            "immediate_commmit_timestamp": c["immediate_commmit_timestamp"],
            "log_position": c["log_position"],
            "schema": c["schema"],
            "table": c["table"],
            "gtid_next": c["gtid_next"],
            "binlog_file": ev["json_file"],
        },
        separators=(",", ":"),
    )


def encode_segment(seg: list[dict], next_file: str | None) -> bytes:
    return encode_binlog_file([_contract(ev) for ev in seg], checksum=True, next_file=next_file)


def group_starts(data: bytes) -> list[int]:
    """Byte offsets where each logical event (its GTID event) starts,
    plus the offset of a trailing ROTATE and the end of the buffer."""
    off, out = len(MAGIC), []
    n = len(data)
    while off + HEADER_LEN <= n:
        code = data[off + 4]
        (size,) = struct.unpack_from("<I", data, off + 9)
        if code in (GTID_LOG_EVENT, ROTATE_EVENT):
            out.append(off)
        off += size
    out.append(n)
    return out


# --- expectations (reference semantics, independent of the engine) ---------

FINDING_KINDS = (
    "TIMESTAMP_PARSE_ERROR",
    "TIMESTAMP_MISMATCH",
    "GTID_MISMATCH",
    "CHANGE_TYPE_MISMATCH",
    "AVRO_ONLY_BINLOG_KEY",
    "BINLOG_ONLY_DML",
)
PAYLOAD_STATUSES = ("MISMATCH", "BINLOG_NULL", "AVRO_NULL")


def build_map(binlog_rows: list[dict], m: dict | None = None) -> dict:
    """compare_timestamps.go's build map: relevant events with usable
    keys, later lines overwrite earlier ones.  ``binlog_rows`` are in
    file-then-line order with keys ``file``, ``pos``, ``event_type``,
    ``ms``, ``gtid``; pass ``m`` to extend an existing map."""
    m = {} if m is None else m
    for ev in binlog_rows:
        if not (ev["event_type"] in DML or ev["event_type"] == "XID"):
            continue
        if not ev["file"] or not ev["pos"]:
            continue
        m[(ev["file"], ev["pos"])] = ev
    return m


def _key(md: dict) -> tuple:
    return ((md["binlog_file"] or {}).get("string", ""), (md["binlog_position"] or {}).get("long", 0))


def expect_compare(m: dict, avro: list[dict], tolerance_ms: int = FX.TOLERANCE_MS) -> dict:
    """Summary + per-kind finding counts of probing the build map ``m``
    with the union-wrapped Avro records, one probe pass in line order."""
    kinds = Counter()
    matched_keys = set()
    s = Counter(total_avro_records=len(avro))
    for rec in avro:
        md = rec["source_metadata"]
        key = _key(md)
        if not key[0] or not key[1]:
            continue
        b = m.get(key)
        if b is None:
            s["avro_only"] += 1
            kinds["AVRO_ONLY_BINLOG_KEY"] += 1
            continue
        matched_keys.add(key)
        s["matched"] += 1
        if abs(rec["source_timestamp"] - b["ms"]) > tolerance_ms:
            s["ts_mismatches"] += 1
            kinds["TIMESTAMP_MISMATCH"] += 1
        gtid = (md["gtid"] or {}).get("string", "")
        if gtid and b["gtid"] and gtid != b["gtid"]:
            kinds["GTID_MISMATCH"] += 1
        ct = (md["change_type"] or {}).get("string", "")
        inferred = CHANGE_TYPE.get(b["event_type"], "")
        if ct and inferred and ct.upper() != inferred:
            kinds["CHANGE_TYPE_MISMATCH"] += 1
    for key, b in m.items():
        if b["event_type"] in DML and key not in matched_keys:
            s["binlog_only"] += 1
            kinds["BINLOG_ONLY_DML"] += 1
    summary = {
        "total_avro_records": s["total_avro_records"],
        "binlog_build_events": len(m),
        "matched": s["matched"],
        "ts_mismatches": s["ts_mismatches"],
        "avro_only": s["avro_only"],
        "binlog_only": s["binlog_only"],
        "consistent": s["ts_mismatches"] == 0 and s["avro_only"] == 0 and s["binlog_only"] == 0,
    }
    return {"summary": summary, "findings": {k: kinds[k] for k in FINDING_KINDS}}


def expect_payload(events: list[dict], avro: list[dict]) -> dict:
    """Per-status payload finding counts: effective row image per key
    (last rows event wins) vs every keyed Avro payload."""
    eff = {}
    for ev in events:
        if ev["event_type"] in DML and ev["log_position"]:
            p = ev["payload"]
            eff[(ev["binlog_file"], ev["log_position"])] = {
                "order_id": str(p["order_id"]),
                "customer_name": p["customer_name"],
                "product_name": p["product_name"],
                "quantity": str(p["quantity"]),
                "order_timestamp": str(effective_ms(ev)),
            }
    out = Counter()
    for rec in avro:
        md = rec["source_metadata"]
        key = _key(md)
        if not key[0] or not key[1] or key not in eff:
            continue
        b = eff[key]
        for col, w in rec["payload"].items():
            av = None if w is None else str(next(iter(w.values())))
            bv = b[col]
            if bv is None and av is not None:
                out["BINLOG_NULL"] += 1
            elif bv is not None and av is None:
                out["AVRO_NULL"] += 1
            elif bv is not None and bv != av:
                out["MISMATCH"] += 1
    return {k: out[k] for k in PAYLOAD_STATUSES}


def _rows_for_expect(events: list[dict], *, json_keys: bool) -> list[dict]:
    return [
        {
            "file": ev["json_file"] if json_keys else ev["binlog_file"],
            "pos": ev["log_position"],
            "event_type": ev["event_type"],
            "ms": effective_ms(ev),
            "gtid": f"{FIXTURE_SID_STR}:{ev['line_no'] + 1}",
        }
        for ev in events
    ]


# --- workload inputs --------------------------------------------------------

def _write(path: str, data: bytes) -> None:
    tmp = path + ".tmp"
    with open(tmp, "wb") as f:
        f.write(data)
    os.replace(tmp, path)


def _write_avro(d: str, recs: list[dict], n_files: int) -> None:
    os.makedirs(d, exist_ok=True)
    per = -(-len(recs) // n_files)
    for k in range(n_files):
        chunk = recs[k * per : (k + 1) * per]
        _write(
            os.path.join(d, f"avro-{k:04d}.jsonl"),
            "".join(json.dumps(r, separators=(",", ":")) + "\n" for r in chunk).encode(),
        )


def make_cdc(out: str, seed: int, n_events: int, segment_bytes: int) -> dict:
    """Batch diff inputs: one change stream rendered both as binlog v4
    segments (``out/binlog_bin``) and as pre-normalized binlog JSONL, one
    file per segment (``out/binlog_jsonl``), plus its Avro JSONL under
    ``out/avro``.  Returns the expectations of each diff: ``binary``
    (with payload counts) and ``jsonl`` (empty file names are planted in
    the JSONL only; a binary event's file is the segment it lies in)."""
    rng = random.Random(f"cdc:{seed}")
    events, rates = draw_events(rng, n_events, empty_files=True)
    segments = place_events(events, segment_bytes)
    bdir, jdir = os.path.join(out, "binlog_bin"), os.path.join(out, "binlog_jsonl")
    os.makedirs(bdir, exist_ok=True)
    os.makedirs(jdir, exist_ok=True)
    for k, seg in enumerate(segments):
        nxt = f"mysql-bin.{k + 2:06d}" if k + 1 < len(segments) else None
        _write(os.path.join(bdir, seg[0]["binlog_file"]), encode_segment(seg, nxt))
        _write(
            os.path.join(jdir, f"binlog-{k + 1:06d}.jsonl"),
            "".join(binlog_json_line(ev) + "\n" for ev in seg).encode(),
        )
    recs = [r for r in (avro_record(ev) for ev in events) if r is not None]
    _write_avro(os.path.join(out, "avro"), recs, n_files=max(2, len(segments) // 2))
    binary = expect_compare(build_map(_rows_for_expect(events, json_keys=False)), recs)
    binary["payload"] = expect_payload(events, recs)
    return {
        "binary": binary,
        "jsonl": expect_compare(build_map(_rows_for_expect(events, json_keys=True)), recs),
        # each of the two diffs reads every binlog event and Avro record
        "records": 2 * (len(events) + len(recs)),
        "binlog_events": len(events),
        "avro_records": len(recs),
        "segments": len(segments),
        "input_bytes": sum(os.path.getsize(os.path.join(bdir, f)) for f in os.listdir(bdir)),
        "rates": rates,
    }


def make_tail(out: str, seed: int, n_events: int, segment_bytes: int, steps_per_segment: int) -> dict:
    """Tail inputs: every segment pre-encoded and cut at event
    boundaries into ``steps_per_segment`` byte ranges (``out/steps/
    NNNNNN.bin`` + the segment name it appends to), with the Avro
    JSONL file each step drops and the per-step expected findings."""
    rng = random.Random(f"tail:{seed}")
    events, rates = draw_events(rng, n_events, empty_files=False)
    segments = place_events(events, segment_bytes)
    sdir = os.path.join(out, "steps")
    os.makedirs(sdir, exist_ok=True)
    steps = []
    m: dict = {}
    n_seen = 0
    for k, seg in enumerate(segments):
        nxt = f"mysql-bin.{k + 2:06d}" if k + 1 < len(segments) else None
        data = encode_segment(seg, nxt)
        starts = group_starts(data)  # one per event (+ rotate) + end
        n_ev = len(seg)
        cuts = [0] + [starts[(n_ev * j) // steps_per_segment] for j in range(1, steps_per_segment)] + [len(data)]
        ev_cuts = [0] + [(n_ev * j) // steps_per_segment for j in range(1, steps_per_segment)] + [n_ev]
        for j in range(steps_per_segment):
            chunk_events = seg[ev_cuts[j] : ev_cuts[j + 1]]
            build_map(_rows_for_expect(chunk_events, json_keys=False), m)
            n_seen += len(chunk_events)
            recs = [r for r in (avro_record(ev) for ev in chunk_events) if r is not None]
            i = len(steps)
            _write(os.path.join(sdir, f"{i:06d}.bin"), data[cuts[j] : cuts[j + 1]])
            _write(
                os.path.join(sdir, f"{i:06d}.jsonl"),
                "".join(json.dumps(r, separators=(",", ":")) + "\n" for r in recs).encode(),
            )
            f = expect_compare(m, recs)["findings"]
            f.pop("BINLOG_ONLY_DML")  # end-of-stream only: not a streaming finding
            steps.append(
                {
                    "segment": seg[0]["binlog_file"],
                    "bytes": cuts[j + 1] - cuts[j],
                    "events": len(chunk_events),
                    "avro_records": len(recs),
                    "binlog_rows_total": n_seen,
                    "findings": f,
                }
            )
    return {"steps": steps, "segments": len(segments), "binlog_events": len(events), "rates": rates}


def make_corpus(out: str, seed: int, n_docs: int, words_per_doc: int) -> dict:
    """Documents parquet with planted exact-duplicate groups and
    near-duplicate clusters (one word changed at the end of a document).

    The expectations are what the planting guarantees, whatever hash
    family the operators use: the exact-duplicate groups (equal texts),
    and the planted groups -- every other document is an independent
    draw of ``words_per_doc`` words from a 20 000-word vocabulary and
    shares a word 3-gram with another one by a chance of about 1e-9 a
    pair (and would need whole MinHash bands to collide), so no cluster
    may join documents of two planted groups or an unplanted one."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = random.Random(f"corpus:{seed}")
    vocab = [f"w{rng.randrange(10**9):09d}" for _ in range(20_000)]
    texts: list[str] = []
    planted: list[list[int]] = []
    while len(texts) < n_docs:
        base = [rng.choice(vocab) for _ in range(words_per_doc)]
        r = rng.random()
        m = rng.randrange(2, 5)
        if r < 0.08:
            planted.append(list(range(len(texts), len(texts) + m)))
            texts.extend([" ".join(base)] * m)
        elif r < 0.2:
            planted.append(list(range(len(texts), len(texts) + m)))
            for _ in range(m):
                v = list(base)
                v[-1] = rng.choice(vocab)
                texts.append(" ".join(v))
        else:
            texts.append(" ".join(base))
    order = list(range(len(texts)))
    rng.shuffle(order)  # doc ids independent of planting order
    new_id = {old: new for new, old in enumerate(order)}
    by_id = [texts[old] for old in order]
    os.makedirs(out, exist_ok=True)
    table = pa.table({"doc_id": pa.array(range(len(by_id)), pa.int64()), "text": pa.array(by_id, pa.string())})
    pq.write_table(table, os.path.join(out, "documents.parquet"), row_group_size=max(1, len(by_id) // 8))
    by_text: dict[str, list[int]] = {}
    for i, t in enumerate(by_id):
        by_text.setdefault(t, []).append(i)
    exact = sorted(g for g in by_text.values() if len(g) > 1)
    return {
        "documents": len(by_id),
        "exact_groups": len(exact),
        "exact_dup_docs": sum(len(g) for g in exact),
        "exact": exact,
        "planted_clusters": components([(g[0], x) for g in planted for x in g[1:]], new_id),
    }


def components(pairs, relabel: dict | None = None) -> list[list[int]]:
    """Connected components (as sorted id lists) of the graph ``pairs``
    spans; ``relabel`` maps the pair ids first."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        if relabel is not None:
            a, b = relabel[a], relabel[b]
        parent[find(a)] = find(b)
    comps: dict[int, list[int]] = {}
    for d in list(parent):
        comps.setdefault(find(d), []).append(d)
    return sorted(sorted(c) for c in comps.values() if len(c) > 1)


def digest_tree(root: str) -> str:
    """sha256 over every file (relative name + bytes) under ``root``."""
    h = hashlib.sha256()
    for dirpath, dirnames, filenames in os.walk(root):
        dirnames.sort()
        for fn in sorted(filenames):
            p = os.path.join(dirpath, fn)
            h.update(os.path.relpath(p, root).encode() + b"\0")
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()

"""The benchmark's own tests (no Spark session needed):

    python3 -m pytest perfbench -q

- the same seed gives byte-identical inputs, another seed different ones;
- the generator and the package's pure-Python binlog decoder agree on
  every key, so the expectations describe the bytes actually written;
- the correctness gate trips when an expected count is perturbed;
- every metric name in BENCHMARK.json is emitted, with its unit;
- the traced diff still mirrors ``pipeline.run_comparison``.
"""

from __future__ import annotations

import json
import os
import sys
from types import SimpleNamespace

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

import gen  # noqa: E402
import metrics_spec  # noqa: E402
import run  # noqa: E402
import workloads as W  # noqa: E402

SMALL = {
    "diff_batch": lambda d, s: gen.make_cdc(d, s, 600, 16 << 10),
    "tail_incremental": lambda d, s: gen.make_tail(d, s, 600, 32 << 10, 3),
    "corpus_neardup": lambda d, s: gen.make_corpus(d, s, 60, 40),
}


@pytest.mark.parametrize("workload", sorted(SMALL))
def test_same_seed_same_bytes_other_seed_other_bytes(tmp_path, workload):
    make = SMALL[workload]
    a, b, c = (str(tmp_path / n) for n in "abc")
    ea, eb, ec = make(a, 7), make(b, 7), make(c, 8)
    assert gen.digest_tree(a) == gen.digest_tree(b)
    assert ea == eb
    assert gen.digest_tree(a) != gen.digest_tree(c)


def test_binary_segments_decode_to_the_generated_keys(tmp_path):
    from binlog_avro_comparator_spark.sources.binlog_binary import decode_binlog_bytes

    exp = gen.make_cdc(str(tmp_path), 3, 900, 16 << 10)
    bdir = tmp_path / "binlog_bin"
    names = sorted(os.listdir(bdir))
    assert len(names) == exp["segments"] > 4  # more segments than cores
    rows = []
    for n in names:
        rows += list(decode_binlog_bytes(n, (bdir / n).read_bytes()))
    assert len(rows) == exp["binlog_events"]
    m = gen.build_map(
        {"file": r[0], "pos": r[5], "event_type": r[2], "ms": 0, "gtid": r[8]} for r in rows
    )
    assert len(m) == exp["binary"]["summary"]["binlog_build_events"]
    # the last segment is partial: rotation is by size
    sizes = [os.path.getsize(bdir / n) for n in names]
    assert sizes[-1] < max(sizes)


def test_tail_steps_reassemble_the_segments(tmp_path):
    from binlog_avro_comparator_spark.sources.binlog_binary import decode_binlog_bytes

    exp = gen.make_tail(str(tmp_path), 4, 600, 32 << 10, 3)
    segs: dict[str, bytes] = {}
    for i, s in enumerate(exp["steps"]):
        segs[s["segment"]] = segs.get(s["segment"], b"") + (tmp_path / "steps" / f"{i:06d}.bin").read_bytes()
    assert len(segs) == exp["segments"]
    n = sum(len(list(decode_binlog_bytes(k, v))) for k, v in segs.items())
    assert n == exp["binlog_events"] == exp["steps"][-1]["binlog_rows_total"]


def test_planted_rates_and_mix_depend_on_the_seed(tmp_path):
    a = gen.make_cdc(str(tmp_path / "a"), 1, 300, 16 << 10)
    b = gen.make_cdc(str(tmp_path / "b"), 2, 300, 16 << 10)
    assert a["rates"] != b["rates"]
    assert a["jsonl"]["findings"] != b["jsonl"]["findings"]


def test_gate_trips_on_a_perturbed_cdc_count(tmp_path):
    exp = gen.make_cdc(str(tmp_path), 5, 600, 16 << 10)
    result = {
        leg: (dict(exp[leg]["summary"]), dict(exp[leg]["findings"]), dict(exp[leg].get("payload") or {}))
        for leg in W.CdcBatch.LEGS
    }
    assert W.CdcBatch(None, "in", exp, "work").check(result) == (True, None)
    for leg, part, key in (
        ("binary", "summary", "matched"),
        ("jsonl", "findings", "GTID_MISMATCH"),
        ("binary", "payload", "MISMATCH"),
    ):
        bad = json.loads(json.dumps(exp))
        bad[leg][part][key] += 1
        ok, detail = W.CdcBatch(None, "in", bad, "work").check(result)
        assert not ok and key in detail and leg in detail


def test_gate_trips_on_a_perturbed_tail_step(tmp_path):
    exp = gen.make_tail(str(tmp_path), 6, 600, 32 << 10, 3)
    want = exp["steps"][0]["findings"]
    tail = W.TailIncremental.__new__(W.TailIncremental)
    tail.expect = exp
    progress = [SimpleNamespace(observedMetrics={W.TailIncremental.OBS: dict(want)})]
    rows = [SimpleNamespace(numInputRows=exp["steps"][0]["events"])]
    assert tail.check((0, rows, progress)) == (True, None)
    assert not tail.check((0, [SimpleNamespace(numInputRows=1)], progress))[0]
    bad = json.loads(json.dumps(exp))
    bad["steps"][0]["findings"]["AVRO_ONLY_BINLOG_KEY"] += 1
    tail.expect = bad
    ok, detail = tail.check((0, rows, progress))
    assert not ok and "AVRO_ONLY_BINLOG_KEY" in detail


def test_gate_trips_on_a_perturbed_corpus_result(tmp_path):
    exp = gen.make_corpus(str(tmp_path), 9, 120, 40)
    c = W.CorpusNearDup(None, str(tmp_path), exp, "work")
    planted = [tuple(g) for g in exp["planted_clusters"]]
    ok = (exp["exact_groups"], exp["exact_dup_docs"])
    assert c._check(set(planted), *ok) == (True, None)
    # near-duplicate groups LSH misses are allowed; exact groups are not
    near = [g for g in planted if list(g) not in exp["exact"]]
    assert near and c._check(set(planted) - {near[0]}, *ok) == (True, None)
    assert not c._check(set(planted) - {tuple(exp["exact"][0])}, *ok)[0]
    assert not c._check(set(planted), exp["exact_groups"] + 1, exp["exact_dup_docs"])[0]
    # a cluster joining two planted groups, or an unplanted document
    merged = set(planted[2:]) | {planted[0] + planted[1]}
    assert not c._check(merged, *ok)[0]
    loner = next(d for d in range(exp["documents"]) if d not in c.group_of)
    assert not c._check(set(planted[1:]) | {planted[0] + (loner,)}, *ok)[0]


def test_every_benchmark_metric_is_emitted():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END_UNITS
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == metrics_spec.PER_LAYER
    assert {w["name"] for w in spec["workloads"]} == set(run.WORKLOADS)
    res = {"session_start_s": 1.0, "times": [2.0, 3.0], "traced_times": [2.5], "layers": {}}
    for name in metrics_spec.PER_LAYER:
        assert isinstance(metrics_spec.layer_value(name, res, {"jobs": 4}, {}), float), name


def test_tail_statistic_has_ten_samples_beyond_it_when_it_can():
    pct, v = run.high_percentile([float(i) for i in range(1, 51)])
    assert v == 40.0 and pct == 80.0  # 10 samples above 40
    pct, v = run.high_percentile([1.0, 2.0, 3.0, 4.0, 5.0])
    assert (pct, v) == (75.0, 4.0)


def test_exact_groups_are_the_equal_texts(tmp_path):
    import pyarrow.parquet as pq

    exp = gen.make_corpus(str(tmp_path), 11, 120, 40)
    t = pq.read_table(tmp_path / "documents.parquet").to_pydict()
    by_text: dict[str, list] = {}
    for d, text in zip(t["doc_id"], t["text"]):
        by_text.setdefault(text, []).append(d)
    groups = sorted(g for g in by_text.values() if len(g) > 1)
    assert groups == exp["exact"] and len(groups) == exp["exact_groups"] > 0
    for g in groups:
        assert any(set(g) <= set(c) for c in exp["planted_clusters"])


def test_input_cache_is_keyed_on_the_package_modules_it_renders_with():
    files = {os.path.basename(m.__file__) for m in gen.PACKAGE_INPUTS}
    assert {"fixtures.py", "schemas.py", "binlog_binary.py"} <= files
    assert len(run.inputs_version()) == 12


def test_traced_diff_mirrors_run_comparison():
    assert W.run_comparison_sha() == W.RUN_COMPARISON_SHA, (
        "pipeline.run_comparison changed: bring CdcDiff.traced in line "
        "with its wiring, then update RUN_COMPARISON_SHA"
    )

"""The three workloads: the timed call into the package's public entry
points (``run``), the untimed check of its output against the
generator's expectations (``check``), and the traced variant that
materializes every layer at its boundary (``traced``).

``check`` and ``traced`` return ``(ok, detail)``; ``detail`` names the
first mismatch so a failed run says what was wrong.
"""

from __future__ import annotations

import os
import shutil

from gen import FINDING_KINDS as CDC_KINDS, PAYLOAD_STATUSES
from spans import Tracer

STREAM_KINDS = CDC_KINDS[:-1]  # BINLOG_ONLY is end-of-stream, never streamed


def _count_exprs(col: str, values: tuple[str, ...]):
    from pyspark.sql import functions as F

    return [F.sum((F.col(col) == v).cast("long")).alias(v) for v in values]


def _observed(df, col: str, values: tuple[str, ...]):
    """``df`` with per-value row counts observed while it is written:
    one extra aggregate riding the same pass, no second scan."""
    from pyspark.sql import Observation

    obs = Observation()
    return df.observe(obs, *_count_exprs(col, values)), obs


def _obs_counts(obs, values) -> dict:
    got = obs.get
    return {v: int(got.get(v) or 0) for v in values}


def _compare_counts(name: str, got: dict, want: dict) -> str | None:
    for k, v in want.items():
        if got.get(k) != v:
            return f"{name}.{k}: got {got.get(k)} want {v}"
    return None


# sha256 (first 16 hex digits) of pipeline.run_comparison's source as of
# the wiring CdcBatch.traced copies by hand; a test fails when it changes,
# so the traced run is brought back in line with the pipeline
RUN_COMPARISON_SHA = "1c15fd415fe6e12b"


def run_comparison_sha() -> str:
    import hashlib
    import inspect

    from binlog_avro_comparator_spark.pipeline import run_comparison

    return hashlib.sha256(inspect.getsource(run_comparison).encode()).hexdigest()[:16]


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class CdcBatch:
    """diff_batch: one change stream diffed twice against its Avro JSONL,
    once from binlog v4 segments (E1, ``run_comparison(binlog_binary_dir=
    ...)``) and once from pre-normalized binlog JSONL (E3,
    ``run_comparison(binlog_jsonl=...)``).  Each diff writes its findings
    (the binary one also its payload findings) to a parquet sink and
    collects its summary."""

    LEGS = ("binary", "jsonl")

    def __init__(self, spark, inputs: str, expect: dict, work: str):
        self.spark = spark
        self.binlog = {"binary": os.path.join(inputs, "binlog_bin"), "jsonl": os.path.join(inputs, "binlog_jsonl")}
        self.avro = os.path.join(inputs, "avro")
        self.expect = expect
        self.work = work
        self.records = expect["records"]

    def _sink(self, leg: str, name: str) -> str:
        return os.path.join(self.work, f"{leg}_{name}")

    def run(self):
        from binlog_avro_comparator_spark.pipeline import run_comparison

        out = {}
        for leg in self.LEGS:
            src = {"binlog_binary_dir" if leg == "binary" else "binlog_jsonl": self.binlog[leg]}
            res = run_comparison(self.spark, avro_jsonl=self.avro, **src)
            findings, fobs = _observed(res.findings, "kind", CDC_KINDS)
            findings.write.mode("overwrite").parquet(self._sink(leg, "findings"))
            payload = None
            if leg == "binary":
                pdf, pobs = _observed(res.payload_findings, "status", PAYLOAD_STATUSES)
                pdf.write.mode("overwrite").parquet(self._sink(leg, "payload_findings"))
                payload = _obs_counts(pobs, PAYLOAD_STATUSES)
            summary = res.summary.collect()[0].asDict()
            out[leg] = (summary, _obs_counts(fobs, CDC_KINDS), payload)
        return out

    def check(self, result) -> tuple[bool, str | None]:
        for leg in self.LEGS:
            summary, kinds, payload = result[leg]
            want = self.expect[leg]
            bad = _compare_counts(f"{leg}.summary", summary, want["summary"]) or _compare_counts(
                f"{leg}.findings", kinds, want["findings"]
            )
            if bad is None and leg == "binary":
                bad = _compare_counts(f"{leg}.payload", payload, want["payload"])
            if bad is not None:
                return False, bad
        return True, None

    def traced(self, tr: Tracer) -> tuple[bool, str | None]:
        """The same result, one layer at a time: each layer's output is
        cached and materialized to a ``noop`` sink inside its own span,
        so a span times that layer's work over its cached input.  Both
        diffs run under one ``pipeline`` span; a layer both use (the Avro
        reader, the compare) is timed once per diff and summed.

        The wiring copies ``pipeline.run_comparison`` (readers, both
        prepares, findings, summary, payload diff) by hand, because the
        pipeline returns only its final frames; ``RUN_COMPARISON_SHA``
        pins the source it copies."""
        from binlog_avro_comparator_spark.operators import compare as C
        from binlog_avro_comparator_spark.sources import binlog_binary as B
        from binlog_avro_comparator_spark.sources import jsonl as J

        spark = self.spark
        cached = []
        out = {}

        def boundary(name, df):
            df = df.cache()
            cached.append(df)
            with tr.span(name):
                _noop(df)
            return df

        with tr.span("pipeline"):
            for leg in self.LEGS:
                if leg == "binary":
                    binlog = boundary("binlog_binary.decode", B.read_binlog_binary_dir(spark, self.binlog[leg]))
                    rows = boundary("binlog_binary.rows_decode", B.read_binlog_rows_dir(spark, self.binlog[leg]))
                else:
                    raw = boundary("jsonl.read_binlog", J.read_binlog_jsonl_ordered(spark, self.binlog[leg]))
                    binlog = raw.filter(raw["_corrupt_record"].isNull()).drop(
                        "_corrupt_record", "orignal_commmit_timestamp"
                    )
                araw = boundary("jsonl.read_avro", J.read_avro_jsonl_ordered(spark, self.avro))
                good = araw.filter(araw["_corrupt_record"].isNull())
                bp = C.prepare_binlog(binlog).cache()
                ap = C.prepare_avro(J.unwrap_avro(good)).cache()
                cached += [bp, ap]
                with tr.span("compare.prepare"):
                    _noop(bp)
                    _noop(ap)
                findings, fobs = _observed(C.findings_onepass(bp, ap), "kind", CDC_KINDS)
                with tr.span("compare.findings"):
                    _noop(findings)
                with tr.span("compare.summary"):
                    summary = C.summary_onepass(araw, bp, ap).collect()[0].asDict()
                payload = None
                if leg == "binary":
                    diff, pobs = _observed(
                        C.payload_diff(
                            C.prepare_binlog_payload(rows),
                            C.prepare_avro(J.unwrap_avro_payload(good)),
                        ),
                        "status",
                        PAYLOAD_STATUSES,
                    )
                    with tr.span("compare.payload_diff"):
                        _noop(diff)
                    payload = _obs_counts(pobs, PAYLOAD_STATUSES)
                out[leg] = (summary, _obs_counts(fobs, CDC_KINDS), payload, binlog, bp, araw)
        # counts read after the timed spans; the per-iteration counters
        # are summed over the spans of one iteration, so each is taken once
        _, _, _, binlog, bp, araw = out["binary"]
        tr.count("compare.dedup_ratio", bp.count() / binlog.count())
        tr.count("jsonl.avro_rows", araw.count())
        tr.count("jsonl.binlog_rows", out["jsonl"][3].count())
        tr.count("compare.findings_rows", sum(sum(out[leg][1].values()) for leg in self.LEGS))
        for df in cached:
            df.unpersist()
        return self.check({leg: out[leg][:3] for leg in self.LEGS})


class TailIncremental:
    """tail_incremental: each step appends one pre-encoded byte range to
    the active segment, drops the step's Avro JSONL file, then drains the
    ``binlogbin`` stream and ``streaming_findings`` with AvailableNow into
    parquet.  A step is timed from the appended bytes landing to the
    findings query's last commit."""

    OBS = "step_findings"

    def __init__(self, spark, inputs: str, expect: dict, work: str):
        from binlog_avro_comparator_spark.sources.pyds import register_binlog_binary_source

        self.spark = spark
        self.steps_dir = os.path.join(inputs, "steps")
        self.expect = expect
        self.work = work
        shutil.rmtree(work, ignore_errors=True)
        for d in ("binlog", "avro"):
            os.makedirs(os.path.join(work, d))
        register_binlog_binary_source(spark)
        self.step = 0

    @property
    def records(self) -> int:
        """Input records of the step ``run`` is about to take."""
        s = self.expect["steps"][self.step]
        return s["events"] + s["avro_records"]

    def land(self) -> None:
        """Untimed half of a step: the producer's side -- the server
        appends the next byte range to the active segment."""
        i = self.step
        if i >= len(self.expect["steps"]):
            raise RuntimeError("tail_incremental ran out of generated steps")
        with open(os.path.join(self.steps_dir, f"{i:06d}.bin"), "rb") as f:
            data = f.read()
        with open(os.path.join(self.work, "binlog", self.expect["steps"][i]["segment"]), "ab") as f:
            f.write(data)

    def run(self):
        from binlog_avro_comparator_spark.streaming.compare_stream import (
            stream_avro_jsonl,
            streaming_findings,
        )

        spark, w, i = self.spark, self.work, self.step
        tmp = os.path.join(w, f".avro-{i:06d}.jsonl")
        shutil.copyfile(os.path.join(self.steps_dir, f"{i:06d}.jsonl"), tmp)
        os.replace(tmp, os.path.join(w, "avro", f"avro-{i:06d}.jsonl"))
        rows = spark.readStream.format("binlogbin").option("path", os.path.join(w, "binlog")).load()
        q = (
            rows.writeStream.format("parquet")
            .option("path", os.path.join(w, "rows"))
            .option("checkpointLocation", os.path.join(w, "ck_rows"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        static = spark.read.parquet(os.path.join(w, "rows"))
        f = streaming_findings(static, stream_avro_jsonl(spark, os.path.join(w, "avro")))
        q2 = (
            f.observe(self.OBS, *_count_exprs("kind", STREAM_KINDS))
            .writeStream.format("parquet")
            .option("path", os.path.join(w, "findings"))
            .option("checkpointLocation", os.path.join(w, "ck_findings"))
            .trigger(availableNow=True)
            .start()
        )
        q2.awaitTermination()
        self.step = i + 1
        return i, q.recentProgress, q2.recentProgress

    def check(self, result) -> tuple[bool, str | None]:
        i, tprog, fprog = result
        want = self.expect["steps"][i]
        decoded = sum(p.numInputRows for p in tprog)
        if decoded != want["events"]:
            return False, f"step{i}.binlog_rows: got {decoded} want {want['events']}"
        got = {k: 0 for k in STREAM_KINDS}
        for p in fprog:
            m = (p.observedMetrics or {}).get(self.OBS)
            if m is not None:
                for k in got:
                    got[k] += int(m[k] or 0)
        bad = _compare_counts(f"step{i}.findings", got, want["findings"])
        return bad is None, bad

    @staticmethod
    def layers(result) -> dict:
        """Per-step layer numbers from both queries' recentProgress."""
        _, tprog, fprog = result

        def dur(progress, *keys):
            return float(sum((p.durationMs or {}).get(k, 0) for p in progress for k in keys))

        return {
            "tail.latest_offset_ms": dur(tprog, "latestOffset"),
            "tail.add_batch_ms": dur(tprog, "addBatch"),
            "tail.commit_ms": dur(tprog, "walCommit", "commitOffsets"),
            "findings.add_batch_ms": dur(fprog, "addBatch"),
            "findings.input_rows": float(sum(p.numInputRows for p in fprog)),
        }


class CorpusNearDup:
    """corpus_neardup: documents parquet -> exact-duplicate groups and
    MinHash-LSH near-duplicate clusters written to parquet, cluster
    summary collected."""

    def __init__(self, spark, inputs: str, expect: dict, work: str):
        self.spark = spark
        self.docs_path = os.path.join(inputs, "documents.parquet")
        self.expect = expect
        self.exact_sink = os.path.join(work, "exact")
        self.cluster_sink = os.path.join(work, "clusters")
        self.records = expect["documents"]
        self.group_of = {d: k for k, g in enumerate(expect["planted_clusters"]) for d in g}

    def run(self):
        from pyspark.sql import functions as F

        from binlog_avro_comparator_spark.operators.dedup import dedup_clusters, exact_dedup

        docs = self.spark.read.parquet(self.docs_path)
        exact_dedup(docs).write.mode("overwrite").parquet(self.exact_sink)
        dedup_clusters(docs).write.mode("overwrite").parquet(self.cluster_sink)
        return (
            self.spark.read.parquet(self.cluster_sink)
            .agg(F.count("*").alias("docs"), F.count_distinct("cluster_id").alias("clusters"))
            .collect()[0]
            .asDict()
        )

    def check(self, summary) -> tuple[bool, str | None]:
        from pyspark.sql import functions as F

        got = self.spark.read.parquet(self.cluster_sink).groupBy("cluster_id").agg(
            F.sort_array(F.collect_list("doc_id")).alias("docs")
        )
        clusters = {tuple(r.docs) for r in got.collect()}
        ex = (
            self.spark.read.parquet(self.exact_sink)
            .filter("n_copies > 1")
            .agg(F.count("*").alias("groups"), F.sum("n_copies").alias("docs"))
            .collect()[0]
        )
        if summary["clusters"] != len(clusters):
            return False, f"summary: {summary['clusters']} clusters, sink holds {len(clusters)}"
        return self._check(clusters, int(ex.groups), int(ex.docs or 0))

    def _check(self, clusters: set, exact_groups: int, exact_docs: int) -> tuple[bool, str | None]:
        """What the planting guarantees: the exact-duplicate counts, every
        exact group inside one cluster (equal texts have equal signatures
        under any hash family), and no cluster joining documents of two
        planted groups or an unplanted one.  How many near-duplicate
        groups LSH recovers is probabilistic; the traced run reports it
        as ``dedup.planted_recall``."""
        want_g, want_d = self.expect["exact_groups"], self.expect["exact_dup_docs"]
        if (exact_groups, exact_docs) != (want_g, want_d):
            return False, f"exact: got {exact_groups} groups/{exact_docs} docs, want {want_g}/{want_d}"
        home = {}
        for c in clusters:
            groups = {self.group_of.get(d) for d in c}
            if len(groups) != 1 or None in groups:
                return False, f"cluster {list(c)[:6]} joins documents of different planted groups"
            for d in c:
                home[d] = c
        for g in self.expect["exact"]:
            if home.get(g[0]) is None or not set(g) <= set(home[g[0]]):
                return False, f"exact-duplicate group {g[:6]} is not inside one cluster"
        return True, None

    def traced(self, tr: Tracer) -> tuple[bool, str | None]:
        from pyspark.sql import functions as F

        from binlog_avro_comparator_spark.operators import dedup as D

        docs = self.spark.read.parquet(self.docs_path)
        frame = type(docs)  # the concrete DataFrame class the session hands out
        calls = [0]
        orig = frame.localCheckpoint

        def counting(df, *a, **k):
            calls[0] += 1
            return orig(df, *a, **k)

        with tr.span("pipeline"):
            with tr.span("dedup.exact"):
                ex = (
                    D.exact_dedup(docs)
                    .filter("n_copies > 1")
                    .agg(F.count("*").alias("groups"), F.sum("n_copies").alias("docs"))
                    .collect()[0]
                )
            sig = D.minhash_signatures(docs).cache()
            with tr.span("dedup.signatures"):
                _noop(sig)
            sig.unpersist()
            cand = D.lsh_candidate_pairs(docs).cache()
            with tr.span("dedup.candidates"):
                _noop(cand)
            frame.localCheckpoint = counting
            try:
                with tr.span("dedup.cluster"):
                    labels = D.dedup_clusters(docs, edges=cand).collect()
            finally:
                frame.localCheckpoint = orig
        pairs = [(r.doc_a, r.doc_b) for r in cand.collect()]
        cand.unpersist()
        # two checkpoints set up the edge and label frames, then one per round
        tr.count("dedup.cc_rounds", calls[0] - 2)
        tr.count("dedup.candidate_pairs", len(pairs))
        # useful outcomes / attempts: candidates inside one planted cluster
        group = self.group_of
        verified = sum(1 for a, b in pairs if a in group and group[a] == group.get(b))
        tr.count("dedup.verified_per_candidate", verified / len(pairs) if pairs else 0.0)
        by_label: dict = {}
        for r in labels:
            by_label.setdefault(r.cluster_id, []).append(r.doc_id)
        clusters = {tuple(sorted(v)) for v in by_label.values()}
        planted = self.expect["planted_clusters"]
        # share of planted groups LSH recovers whole (a cluster is never
        # larger than its planted group: _check fails that)
        found = sum(tuple(g) in clusters for g in planted)
        tr.count("dedup.planted_recall", found / len(planted) if planted else 0.0)
        return self._check(clusters, int(ex.groups), int(ex.docs or 0))

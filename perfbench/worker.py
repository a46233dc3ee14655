"""One benchmark process: start a session, warm up, then run the
workload in a closed loop (one client, next iteration only after the
previous one finished) for the requested seconds.

Started by ``run.py`` with the environment already prepared; prints one
JSON object of raw samples as its last stdout line.  ``--mode trace``
alternates plain and traced iterations and adds the per-layer series.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import sys
import threading
import time
import traceback

import workloads as W
from spans import Tracer


class RssSampler(threading.Thread):
    """Peak summed resident memory of this process's descendants (the
    JVM and the Python workers it forks), sampled from /proc every
    50 ms.  Each process counts its proportional set size: pages a
    forked Python worker still shares with the daemon it was forked
    from count once, not once per worker."""

    def __init__(self) -> None:
        super().__init__(daemon=True)
        self.peak_kb = 0
        self._stop_evt = threading.Event()

    def _descendants(self) -> list[int]:
        children: dict[int, list[int]] = {}
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(d))
        out, todo = [], [os.getpid()]
        while todo:
            for c in children.get(todo.pop(), []):
                out.append(c)
                todo.append(c)
        return out

    def sample(self) -> None:
        total = 0
        for pid in self._descendants():
            try:
                with open(f"/proc/{pid}/smaps_rollup") as f:
                    for line in f:
                        if line.startswith("Pss:"):
                            total += int(line.split()[1])
                            break
            except (OSError, IndexError, ValueError):
                continue
        self.peak_kb = max(self.peak_kb, total)

    def run(self) -> None:
        while not self._stop_evt.wait(0.05):
            self.sample()

    def stop(self) -> None:
        self._stop_evt.set()
        self.join(timeout=5)
        self.sample()


def make_workload(name: str, spark, inputs: str, expect: dict, work: str):
    if name == "diff_batch":
        return W.CdcBatch(spark, inputs, expect, work)
    if name == "tail_incremental":
        return W.TailIncremental(spark, inputs, expect, work)
    if name == "corpus_neardup":
        return W.CorpusNearDup(spark, inputs, expect, work)
    raise ValueError(f"unknown workload {name}")


def event_log_stats(log_dir: str, windows: list[tuple[float, float]]) -> dict:
    """Jobs, shuffle bytes written and bytes spilled inside the given
    wall-clock windows (epoch seconds), from Spark's JSON event log."""
    files = [f for f in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(f)]
    if not files:
        raise RuntimeError(f"no Spark event log under {log_dir}")
    ms = [(a * 1000.0, b * 1000.0) for a, b in windows]

    def inside(t: float) -> bool:
        return any(a <= t <= b for a, b in ms)

    jobs = 0
    stage_in: dict[int, bool] = {}
    shuffle = spill = 0
    with open(max(files, key=os.path.getmtime)) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                hit = inside(ev.get("Submission Time", 0))
                jobs += hit
                for s in ev.get("Stage IDs", []):
                    stage_in.setdefault(s, hit)
            elif kind == "SparkListenerTaskEnd" and stage_in.get(ev.get("Stage ID")):
                m = ev.get("Task Metrics") or {}
                shuffle += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                spill += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    return {"jobs": jobs, "shuffle_bytes": shuffle, "spill_bytes": spill}


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True)
    p.add_argument("--inputs", required=True)
    p.add_argument("--work", required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--t0", type=float, required=True, help="epoch time the parent spawned us")
    p.add_argument("--mode", choices=["run", "trace"], default="run")
    p.add_argument("--trace-out", default=None)
    args = p.parse_args()

    from binlog_avro_comparator_spark.session import get_spark

    t_session = time.time()
    spark = get_spark("perfbench", cpus=int(os.environ["SPARK_GRAFT_CPUS"]))
    session_start_s = time.time() - t_session
    spark.sparkContext.setLogLevel("ERROR")
    out: dict = {"session_start_s": session_start_s, "mode": args.mode}
    try:
        t_wait = time.time()
        expect = _wait_for_inputs(args.inputs)
        waited = time.time() - t_wait
        wl = make_workload(args.workload, spark, args.inputs, expect, args.work)
        tail = isinstance(wl, W.TailIncremental)
        if tail:
            wl.land()
        ok, detail = wl.check(wl.run())  # warm-up: untimed, still checked
        # input generation stays outside the timing: a wait for it that
        # outlasted the session start is not set-up
        out["setup_s"] = time.time() - args.t0 - waited
        out["warm_ok"], out["warm_detail"] = ok, detail

        tr = Tracer()
        rss = RssSampler()
        rss.start()
        times, records, oks, details, traced_t, windows, step_log = [], [], [], [], [], [], []
        layers: dict[str, list[float]] = {}
        deadline = time.perf_counter() + args.seconds
        i = 0
        # a traced run needs one plain and one traced iteration at least
        while time.perf_counter() < deadline or (args.mode == "trace" and i < 2):
            spark.catalog.clearCache()
            # the tail's layer numbers come from recentProgress, read after
            # every step's timer stops, so its steps are never instrumented
            traced = args.mode == "trace" and i % 2 == 1 and not tail
            if tail:
                wl.land()
            n_rec = wl.records
            tr.begin(f"{args.workload}:{i}")
            w0 = time.time()
            t = time.perf_counter()
            try:
                if traced:
                    ok, detail = wl.traced(tr)
                    dt = time.perf_counter() - t
                else:
                    res = wl.run()
                    dt = time.perf_counter() - t
                    ok, detail = wl.check(res)
                    if tail:
                        for k, v in wl.layers(res).items():
                            layers.setdefault(k, []).append(v)
                        step_log.append({"step": res[0], "latency_s": dt, **expect["steps"][res[0]]})
            except Exception:  # a failed iteration is counted, never dropped
                dt = time.perf_counter() - t
                ok, detail = False, traceback.format_exc(limit=3)
            (traced_t if traced else times).append(dt)
            if not traced:
                records.append(n_rec)
                windows.append((w0, time.time()))
            oks.append(ok)
            if not ok and len(details) < 3:
                details.append(detail)
            i += 1
        rss.stop()
        out.update(
            times=times,
            records=records,
            ok=oks,
            details=details,
            peak_rss_mb=rss.peak_kb / 1024,
        )
        if args.mode == "trace":
            out["traced_times"] = traced_t
            out["layers"] = {
                **layers,
                **{k: tr.durations(k) for k in {s["name"] for s in tr.spans}},
                **{k: tr.values(k) for k in {c["name"] for c in tr.counts}},
                "pipeline.self_s": tr.self_times("pipeline"),
            }
            out["windows"] = windows
            if args.trace_out:
                tr.dump(args.trace_out, {"workload": args.workload, "steps": step_log, "untraced_s": times,
                                         "traced_s": traced_t})
        return _emit(out, spark)
    except Exception:
        traceback.print_exc()
        out["error"] = traceback.format_exc(limit=5)
        return _emit(out, spark, code=1)


def _wait_for_inputs(inputs: str, limit_s: float = 600.0) -> dict:
    """``run.py`` generates the inputs while this process starts Spark;
    their ``expect.json`` appears last."""
    path = os.path.join(inputs, "expect.json")
    end = time.time() + limit_s
    while not os.path.exists(path):
        if time.time() > end:
            raise RuntimeError(f"no inputs at {inputs} after {limit_s:.0f}s")
        time.sleep(0.02)
    with open(path) as f:
        return json.load(f)


def _emit(out: dict, spark, code: int = 0) -> int:
    """Print the result; ``run.py`` kills the process group once it has
    read it, usually before the closing ``spark.stop()`` ends."""
    if out.get("mode") == "trace":
        spark.stop()  # completes Spark's event log
    print(json.dumps(out))
    sys.stdout.flush()
    spark.stop()
    return code


if __name__ == "__main__":
    sys.exit(main())

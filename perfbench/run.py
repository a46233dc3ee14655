"""Benchmark entry point.

    python3 perfbench/run.py --workload diff_batch --seed 1 --seconds 3 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 3 --trace 0

Run from the repository root.  Generates (or reuses) the seeded inputs
for the workload under ``.perfbench/`` while a worker process starts its
Spark session, runs set-up and the closed loop in that worker, checks
every iteration's output, prints each metric by name with its unit, and
ends with one JSON line
``{"correct", "attempted", "failed", "metrics"}``.  With
``--trace 1`` the metrics are the per-layer ones from a traced run
(event log on, spans around every layer, spans written to
``.perfbench/traces/``).  Exits 1 if any check failed.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")

WORKLOADS = ("diff_batch", "tail_incremental", "corpus_neardup")

# Input sizes, fixed per workload (stated in BENCHMARK.json's whys; the
# size sweep behind them is in README.md).
SIZES = {
    "diff_batch": {"n_events": 20_000, "segment_bytes": 256 << 10},
    "tail_incremental": {"n_events": 8_000, "segment_bytes": 1 << 20, "steps_per_segment": 3},
    "corpus_neardup": {"n_docs": 1_600, "words_per_doc": 120},
}
# a tail step (about 1 250 events) takes 4-6 s: a run of --seconds needs
# about seconds / 4 steps after its warm-up one
TAIL_EVENTS_PER_SECOND = 500


def run_size(workload: str, seconds: float) -> dict:
    """The input size of one run: ``SIZES``, except that the tail
    generates enough steps for the run's length."""
    size = dict(SIZES[workload])
    if workload == "tail_incremental":
        size["n_events"] = max(size["n_events"], int(seconds * TAIL_EVENTS_PER_SECOND))
    return size


# a worker gets --seconds plus this for its set-up (15-40 s), the
# iteration that overruns the deadline and a traced run's extra ones
WORKER_MARGIN_S = 140

END_TO_END_UNITS = {
    "setup_s": "s",
    "result_s": "s",
    "result_s_hi": "s",
    "rows_per_s": "1/s",
    "peak_rss_mb": "MB",
    "ok_frac": "ratio",
}


def inputs_version() -> str:
    """Hash of the generator and of the package modules the generated
    bytes and expectations depend on: a change to either regenerates."""
    import gen

    h = hashlib.sha256()
    for path in [gen.__file__] + [m.__file__ for m in gen.PACKAGE_INPUTS]:
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:12]


def inputs_dir(workload: str, seed: int, size: dict) -> str:
    key = "-".join(f"{v}" for v in size.values())
    return os.path.join(STATE, "inputs", f"{workload}-s{seed}-{key}-{inputs_version()}")


def make_inputs(workload: str, seed: int, size: dict | None = None) -> str:
    """Seeded inputs + expectations, cached per (workload, seed, size);
    ``expect.json`` appears last, with the whole directory at once."""
    import gen

    size = size or SIZES[workload]
    d = inputs_dir(workload, seed, size)
    if os.path.exists(os.path.join(d, "expect.json")):
        return d
    tmp = d + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    if workload == "diff_batch":
        exp = gen.make_cdc(tmp, seed, size["n_events"], size["segment_bytes"])
    elif workload == "tail_incremental":
        exp = gen.make_tail(tmp, seed, size["n_events"], size["segment_bytes"], size["steps_per_segment"])
    else:
        exp = gen.make_corpus(tmp, seed, size["n_docs"], size["words_per_doc"])
    with open(os.path.join(tmp, "expect.json"), "w") as f:
        json.dump(exp, f)
    shutil.rmtree(d, ignore_errors=True)
    os.replace(tmp, d)
    return d


def worker_env(trace_dir: str | None) -> dict:
    env = dict(os.environ)
    cpus = os.cpu_count() or 1
    try:
        cpus = len(os.sched_getaffinity(0))
    except AttributeError:
        pass
    with open("/proc/meminfo") as f:
        mem_gib = int(f.readline().split()[1]) / 2**20
    tmp = os.path.join(STATE, "tmp")
    os.makedirs(tmp, exist_ok=True)
    submit = ["--conf spark.ui.showConsoleProgress=false"]
    if trace_dir:
        submit += [
            "--conf spark.eventLog.enabled=true",
            f"--conf spark.eventLog.dir=file://{trace_dir}",
            # one plain JSON-lines file: nothing to decompress or stitch
            "--conf spark.eventLog.compress=false",
            "--conf spark.eventLog.rolling.enabled=false",
        ]
    env.update(
        SPARK_GRAFT_CPUS=str(cpus),
        # a sixteenth of the box, 1-4 GiB: the inputs are small, the
        # machine is shared, and a heap the workload fills keeps the
        # JVM's resident size from depending on when G1 resizes it
        SPARK_GRAFT_DRIVER_MEM=f"{max(1, min(4, int(mem_gib // 16)))}g",
        # Python workers (mapInPandas, Python data sources) import the
        # package and the benchmark modules
        PYTHONPATH=os.pathsep.join([ROOT, HERE] + ([env["PYTHONPATH"]] if env.get("PYTHONPATH") else [])),
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
        PYSPARK_SUBMIT_ARGS=" ".join(submit + ["pyspark-shell"]),
        SPARK_LOCAL_DIRS=os.path.join(STATE, "spark-local"),
        TMPDIR=tmp,
        # every JVM (the launcher's too) keeps its temp files in the
        # checkout; -UsePerfData stops the hsperfdata file in /tmp
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    )
    return env


def _session_pids(sid: int) -> list[int]:
    """Live (not zombie) processes of session ``sid``.  A session, not a
    process group: Spark's Python daemons put themselves in groups of
    their own."""
    out = []
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
                if fields[0] != "Z" and int(fields[3]) == sid:
                    out.append(int(d))
            except (OSError, IndexError, ValueError):
                continue
    return out


def reap(sid: int) -> None:
    """Kill every process of a worker's session (the JVM and its Python
    workers included) and wait until all have ended."""
    end = time.time() + 10.0
    while pids := _session_pids(sid):
        if time.time() > end:
            raise RuntimeError(f"processes {pids} of session {sid} survived SIGKILL")
        for pid in pids:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        time.sleep(0.05)


def spawn(workload: str, seed: int, size: dict, seconds: float, mode: str, env: dict,
          trace_out: str | None = None) -> dict:
    inputs = inputs_dir(workload, seed, size)
    work = os.path.join(STATE, "work", workload)
    # a killed worker leaves its sinks and Spark's scratch dirs behind
    for d in (work, env["SPARK_LOCAL_DIRS"], env["TMPDIR"]):
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
    t0 = time.time()
    cmd = [
        sys.executable, os.path.join(HERE, "worker.py"),
        "--workload", workload, "--inputs", inputs, "--work", work,
        "--seconds", str(seconds), "--t0", repr(t0), "--mode", mode,
    ]
    if trace_out:
        cmd += ["--trace-out", trace_out]
    proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE, start_new_session=True)
    try:
        # generated while the worker starts its session; it waits for
        # expect.json before its warm-up
        make_inputs(workload, seed, size)
    except BaseException:
        reap(proc.pid)
        raise
    timeout = seconds + WORKER_MARGIN_S
    # the result is the worker's one stdout line; once it is read the
    # session is of no more use, so the group is killed rather than
    # waited through Spark's shutdown (the JVM shares the worker's
    # stdout, so the pipe does not close before it ends)
    lines: list[str] = []
    done = threading.Event()

    def read() -> None:
        for ln in proc.stdout:
            lines.append(ln.decode())
            if ln.startswith(b"{"):
                break
        done.set()

    threading.Thread(target=read, daemon=True).start()
    finished = done.wait(timeout)
    reap(proc.pid)
    proc.wait()
    proc.stdout.close()
    if not finished:
        raise RuntimeError(f"{workload} worker ({mode}) exceeded {timeout:.0f}s")
    if not lines:
        raise RuntimeError(f"{workload} worker ({mode}) printed no result (exit {proc.returncode})")
    res = json.loads(lines[-1])
    if "error" in res:
        raise RuntimeError(f"{workload} worker ({mode}) failed:\n{res['error']}")
    return res


def high_percentile(samples: list[float]) -> tuple[float, float]:
    """(percentile, value) of the tail statistic ``result_s_hi``: the
    highest percentile with at least ten samples above it once a run
    has 40 or more samples, else the upper quartile -- a run of a few
    multi-second iterations has no percentile with ten samples beyond
    it, and the maximum of a handful is too noisy to bound."""
    xs = sorted(samples)
    n = len(xs)
    if n >= 40:
        return 100.0 * (n - 10) / n, xs[n - 11]
    if n == 1:
        return 100.0, xs[0]
    return 75.0, statistics.quantiles(xs, n=4, method="inclusive")[2]


def measure(workload: str, seed: int, seconds: float, trace: bool) -> tuple[dict, dict, int, int]:
    """One workload run -> (metrics, units, attempted, failed)."""
    size = run_size(workload, seconds)
    trace_dir = trace_out = None
    if trace:
        trace_dir = os.path.join(STATE, "eventlog", f"{workload}-s{seed}")
        shutil.rmtree(trace_dir, ignore_errors=True)
        os.makedirs(trace_dir)
        os.makedirs(os.path.join(STATE, "traces"), exist_ok=True)
        trace_out = os.path.join(STATE, "traces", f"{workload}-s{seed}.json")
    res = spawn(workload, seed, size, seconds, "trace" if trace else "run", worker_env(trace_dir), trace_out)
    ok_all = [res["warm_ok"]] + res["ok"]
    attempted = len(ok_all)
    failed = attempted - sum(ok_all)
    for d in res["details"] + [r for r in (res.get("warm_detail"),) if r]:
        print(f"# CHECK FAILED ({workload}): {d}", file=sys.stderr)
    if trace:
        from metrics_spec import PER_LAYER, layer_value
        from worker import event_log_stats

        with open(os.path.join(inputs_dir(workload, seed, size), "expect.json")) as f:
            expect = json.load(f)
        ev = event_log_stats(trace_dir, res["windows"])
        return {n: layer_value(n, res, ev, expect) for n in PER_LAYER}, PER_LAYER, attempted, failed
    times = res["times"]
    pct, hi = high_percentile(times)
    print(f"# {workload} seed={seed}: {len(times)} timed iterations, "
          f"result_s_hi = p{pct:.0f}, failed_frac = {failed}/{attempted}")
    print("# iteration seconds: " + " ".join(f"{t:.3f}" for t in times))
    metrics = {
        "setup_s": res["setup_s"],
        "result_s": statistics.median(times),
        "result_s_hi": hi,
        "rows_per_s": statistics.median(r / t for r, t in zip(res["records"], times)),
        "peak_rss_mb": res["peak_rss_mb"],
        "ok_frac": 1.0 - failed / attempted,
    }
    return metrics, END_TO_END_UNITS, attempted, failed


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", required=True, choices=WORKLOADS + ("all",),
                   help="one workload, or 'all' to run every workload in turn")
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = p.parse_args(argv)

    sys.path.insert(0, ROOT)
    names = WORKLOADS if args.workload == "all" else (args.workload,)
    out, attempted, failed = {}, 0, 0
    for w in names:
        metrics, units, a, f = measure(w, args.seed, args.seconds, bool(args.trace))
        attempted, failed = attempted + a, failed + f
        # 'all' prefixes each metric with its workload
        prefix = f"{w}." if len(names) > 1 else ""
        for name, v in metrics.items():
            print(f"{prefix}{name} = {v:.6g} {units[name]}")
            out[prefix + name] = {"value": v, "unit": units[name]}
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": out}))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())

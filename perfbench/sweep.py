"""Size sweep: how much of an iteration is work that grows with the
input, and how much is fixed Spark overhead.

    python3 perfbench/sweep.py --workload diff_batch --sizes 10000,20000,40000

Run from the repository root.  One session, first warmed by
``--warmup`` iterations at the largest size (the JVM keeps compiling for
several iterations; a cold start would make the small sizes look slow).
Then for each size it generates the inputs (as ``run.py`` does), runs
one warm-up iteration, ``--iters`` timed iterations and, except on the
tail, one traced iteration.  It prints per size the median iteration
time, the traced pipeline time with the share its layer spans cover,
and at the end the least-squares line ``time = fixed + per_record *
records`` with the share of each size's time that grows with the
input.

The swept parameter is the workload's first size parameter in
``run.SIZES`` (events, documents), and ``segment_bytes`` on the tail,
whose step covers a third of a segment.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

import run  # noqa: E402


def sized(workload: str, value: int, steps: int) -> dict:
    size = dict(run.SIZES[workload])
    if workload == "tail_incremental":
        size["segment_bytes"] = value
        # enough events for the warm-up and every timed step (an event
        # takes about 250 bytes)
        size["n_events"] = int((steps + 2) / size["steps_per_segment"] * value / 200) + 1
    else:
        size[next(iter(size))] = value
    return size


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", required=True, choices=run.WORKLOADS)
    p.add_argument("--sizes", required=True, help="comma-separated values of the swept size parameter")
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--iters", type=int, default=3)
    p.add_argument("--warmup", type=int, default=3)
    args = p.parse_args(argv)

    os.environ.update(run.worker_env(None))
    import worker
    from spans import Tracer

    from binlog_avro_comparator_spark.session import get_spark

    spark = get_spark("perfbench-sweep", cpus=int(os.environ["SPARK_GRAFT_CPUS"]))
    spark.sparkContext.setLogLevel("ERROR")
    tail = args.workload == "tail_incremental"
    sizes = [int(v) for v in args.sizes.split(",")]
    rows = []

    def load(value: int, steps: int):
        inputs = run.make_inputs(args.workload, args.seed, sized(args.workload, value, steps))
        with open(os.path.join(inputs, "expect.json")) as f:
            expect = json.load(f)
        work = os.path.join(run.STATE, "work", f"sweep-{args.workload}")
        return worker.make_workload(args.workload, spark, inputs, expect, work)

    try:
        wl = load(max(sizes), args.warmup)
        for _ in range(args.warmup):
            spark.catalog.clearCache()
            if tail:
                wl.land()
            wl.run()
        for value in sizes:
            wl = load(value, args.iters)
            times, records, layers = [], [], []
            for i in range(args.iters + 1):  # the first is the warm-up
                spark.catalog.clearCache()
                if tail:
                    wl.land()
                n = wl.records
                t = time.perf_counter()
                res = wl.run()
                dt = time.perf_counter() - t
                ok, detail = wl.check(res)
                if not ok:
                    raise RuntimeError(f"size {value}: {detail}")
                if i:
                    times.append(dt)
                    records.append(n)
                    if tail:
                        layers.append(sum(wl.layers(res)[k] for k in (
                            "tail.latest_offset_ms", "tail.add_batch_ms", "tail.commit_ms",
                            "findings.add_batch_ms")) / 1000.0)
            med = statistics.median(times)
            if tail:
                split = f"streaming query phases {statistics.median(layers):.2f}s"
            else:
                spark.catalog.clearCache()
                tr = Tracer()
                tr.begin("sweep")
                ok, detail = wl.traced(tr)
                if not ok:
                    raise RuntimeError(f"size {value} traced: {detail}")
                pipe = tr.durations("pipeline")[0]
                own = tr.self_times("pipeline")[0]
                split = f"traced pipeline {pipe:.2f}s, layer spans {1 - own / pipe:.0%} of it"
            rows.append((value, statistics.median(records), med))
            print(f"{args.workload} size={value} records={statistics.median(records):.0f} "
                  f"median={med:.3f}s (iterations {' '.join(f'{t:.2f}' for t in times)}); {split}", flush=True)
    finally:
        spark.stop()
    if len(rows) > 1:
        xs = [r[1] for r in rows]
        ys = [r[2] for r in rows]
        slope, fixed = statistics.linear_regression(xs, ys)
        print(f"fit: time = {fixed:.2f}s + {slope * 1000:.4f}s per 1000 records")
        for value, n, t in rows:
            print(f"  size={value}: {slope * n / t:.0%} of the time grows with the input")
    return 0


if __name__ == "__main__":
    sys.exit(main())

"""Benchmark entry point.

    python3 perfbench/run.py --workload views|ingest|upsert --seed N \
        --seconds S --trace 0|1

Generates the workload's inputs from ``--seed``, starts Spark on
``local[<cores>]``, warms up, runs the closed-loop timed window for at
least ``--seconds`` seconds, checks the program's outputs, and prints
one JSON object as the last line of standard output: the end-to-end
metrics with ``--trace 0``, the per-layer metrics (from spans recorded
around the calls into each layer) with ``--trace 1``. The line before
it carries the generator parameters, sample counts and host probes.
Exits 1 when the correctness gate fails, 2 when the package under test
is missing.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "real_time_video_streaming_analytics_lakehouse_spark"


class Run:
    """One benchmark run's settings and the tracer it records into."""

    def __init__(self, workload, seed, seconds, trace, scale, work):
        from tracer import Tracer

        import gen

        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.work = work
        self.t0 = T0
        self.params = gen.scaled(workload, scale)
        self.tracer = Tracer(trace, f"{workload}-{seed}-{os.getpid()}")


def parse(argv):
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=("views", "ingest", "upsert"))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="multiplier on every generated row count "
                         "(self-tests only)")
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"package {PACKAGE} not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, ROOT]
    import common
    import metrics

    work = os.path.join(ROOT, ".bench_work",
                        f"{args.workload}-{args.seed}-{args.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    common.pin_environment(work)
    run = Run(args.workload, args.seed, args.seconds, bool(args.trace),
              args.scale, work)
    host0 = common.host_probe()
    mod = __import__(args.workload)
    try:
        res = mod.run(run)
    finally:
        run.tracer.unwrap()
        common.shutdown()
    host1 = common.host_probe()
    shutil.rmtree(os.path.join(work, "data"), ignore_errors=True)
    shutil.rmtree(os.path.join(work, "spark-local"), ignore_errors=True)

    if args.trace:
        declared = dict(metrics.per_layer(args.workload))
        layer = dict.fromkeys(declared, 0.0)
        layer.update(res["layer"])
        layer.update({"host.cpu_start_s": host0["cpu_ref_s"],
                      "host.cpu_end_s": host1["cpu_ref_s"],
                      "host.mem_start_s": host0["mem_ref_s"],
                      "host.mem_end_s": host1["mem_ref_s"]})
        out = layer
        run.tracer.dump(os.path.join(work, "spans.jsonl"))
    else:
        declared = dict(metrics.end_to_end())
        out = {name: res["e2e"][name] for name in declared}
    undeclared = set(out) - set(declared)
    if undeclared:
        raise KeyError(f"metrics not in BENCHMARK.json: {undeclared}")
    correct = not res["problems"] and res["failed"] == 0
    for p in res["problems"]:
        print(f"correctness: {p}", file=sys.stderr)
    detail = {"workload": args.workload, "seed": args.seed,
              "trace": args.trace, "generator": run.params,
              "samples": res["samples"], "host_start": host0,
              "host_end": host1, "work_dir": os.path.relpath(work, ROOT)}
    result = {
        "correct": correct,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {k: {"value": float(v), "unit": declared[k]}
                    for k, v in out.items()},
    }
    with open(os.path.join(work, "result.json"), "w") as f:
        json.dump({"detail": detail, "result": result}, f, indent=1)
    print(json.dumps(detail, sort_keys=True))
    print(json.dumps(result), flush=True)
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())

"""``views``: refresh the 21 ``events_views`` catalog entries (the 11
reference views, the batch forms of the streaming aggregates and the
ETL operators) over one generated month of events.

All reads: ``sources.readers`` → ``plans`` → ``operators``. Nothing
here touches ``txlog``, ``registry`` or ``streaming``, so a change to
those layers should leave this workload flat.

One closed-loop iteration is one refresh: every view built (``plan``)
and collected (``exec``) in catalog order. ``op_p50_s`` is the sum over
views of each view's median time. A run has room for two timed
refreshes, so each median is the mean of two samples (see README).
"""

from __future__ import annotations

import os
import time

import common
import gates
import gen
from tracer import OFF


def _refresh(spark, events_dir, views, tracer, by_side, results, jobs,
             parity=None):
    """One refresh; appends each view's time to
    ``by_side[traced][name]``. With a ``parity`` (traced runs) every
    other view is traced, starting from the first view on even
    refreshes and from the second on odd ones, so over two refreshes
    each view has one traced and one untraced sample, taken on both
    the first and the second refresh."""
    for k, (name, spec) in enumerate(views):
        if parity is not None:
            tracer.enabled = (k + parity) % 2 == 0
        with tracer.span(f"plans.{name}"):
            if tracer.enabled:
                group = f"{name}#{len(jobs.get(name, []))}"
                spark.sparkContext.setJobGroup(group, group)
            t = time.perf_counter()
            with tracer.span(f"plans.{name}.plan"):
                df = spec.fn(spark, events_dir)
            with tracer.span(f"plans.{name}.exec"):
                rows = [tuple(r) for r in df.collect()]
            by_side[tracer.enabled].setdefault(name, []).append(
                time.perf_counter() - t)
            if tracer.enabled:
                tracker = spark.sparkContext.statusTracker()
                jobs.setdefault(name, []).append(
                    len(tracker.getJobIdsForGroup(group)))
        results[name] = (df.columns, rows)


def _warm(spark, events_dir, views) -> None:
    """The untimed warm pass: every view built and collected once, from
    one thread per core. The first pass is mostly JIT and code
    generation, which run in parallel: on a 4-core host it took 22 s
    against 35 s from one thread, and the timed refreshes after it were
    no slower (their first still runs ~10 % slower than the second
    either way)."""
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(common.local_cpus()) as pool:
        list(pool.map(lambda spec: spec.fn(spark, events_dir).collect(),
                      [spec for _, spec in views]))


def _refresh_s(samples: dict) -> float:
    return sum(common.median(s) for s in samples.values())


def _scan_s(spark, events_dir) -> float:
    from real_time_video_streaming_analytics_lakehouse_spark.sources.readers import (
        load_table,
    )

    def once():
        t = time.perf_counter()
        load_table(spark, events_dir, "events").write.format("noop") \
            .mode("overwrite").save()
        return time.perf_counter() - t

    return common.median(once() for _ in range(3))


def run(run) -> dict:
    from real_time_video_streaming_analytics_lakehouse_spark.plans import (
        events_views,
    )

    p, tracer = run.params, run.tracer
    events_dir = gen.write_views_input(
        run.seed, os.path.join(run.work, "data", "events"), p)
    views = list(events_views.QUERIES.items())
    t = time.perf_counter()
    spark = common.start_spark()
    start_s = time.perf_counter() - t
    t = time.perf_counter()
    _warm(spark, events_dir, views)
    warm_s = time.perf_counter() - t

    by_side: dict[bool, dict] = {True: {}, False: {}}
    results: dict = {}
    jobs: dict = {}
    cursor = common.stage_totals(spark)["last_stage"] if run.trace else -1

    def loop(i):
        _refresh(spark, events_dir, views, tracer, by_side, results, jobs,
                 parity=i if run.trace else None)
        return len(views), 0

    setup_s, attempted, failed = common.timed_ops(run, loop)
    samples = {name: by_side[True].get(name, []) + by_side[False].get(name, [])
               for name, _ in views}
    refresh_s = _refresh_s(samples)
    rounds = len(samples[views[0][0]])
    out = {
        "e2e": {"setup_s": setup_s, "op_p50_s": refresh_s,
                "rows_per_s": p["rows"] / refresh_s},
        "attempted": attempted,
        "failed": failed,
        "samples": {"refreshes": rounds,
                    "view_s": {n: [round(x, 4) for x in v]
                               for n, v in samples.items()}},
        "layer": {},
    }
    if run.trace:
        layer = out["layer"]
        layer["session.start_s"] = start_s
        layer["session.warm_s"] = warm_s
        for name, _ in views:
            layer[f"plans.{name}.plan_s"] = common.median(
                tracer.durations(f"plans.{name}.plan"))
            layer[f"plans.{name}.exec_s"] = common.median(
                tracer.durations(f"plans.{name}.exec"))
            layer[f"plans.{name}.jobs"] = common.median(jobs.get(name, []))
        tot = common.stage_totals(spark, cursor)
        layer["spark.task_s"] = tot["task_s"] / rounds
        layer["spark.gc_s"] = tot["gc_s"] / rounds
        layer["spark.shuffle_bytes"] = tot["shuffle_bytes"] / rounds
        layer["sources.scan_s"] = _scan_s(spark, events_dir)
        on, off = _refresh_s(by_side[True]), _refresh_s(by_side[False])
        layer["trace.op_traced_s"] = on
        layer["trace.op_untraced_s"] = off
        layer["trace.overhead_pct"] = 100.0 * (on - off) / off
        spark = common.restart_spark(spark, "local[1]")
        single: dict = {False: {}}
        _refresh(spark, events_dir, views, OFF, single, {}, {})
        local1 = _refresh_s(single[False])
        layer["baseline.views_local1_s"] = local1
        layer["baseline.views_localn_s"] = refresh_s
        layer["baseline.views_speedup"] = local1 / refresh_s
    out["problems"] = gates.views_problems(
        results, events_dir,
        {name: spec.oracle for name, spec in views if spec.oracle})
    return out

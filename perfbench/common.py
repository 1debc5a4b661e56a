"""Run plumbing shared by the workloads: the Spark session's lifetime,
Spark's own task counters, the host drift probes and small statistics.
"""

from __future__ import annotations

import os
import shlex
import statistics
import subprocess
import time
import traceback

import numpy as np


def median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def local_cpus() -> int:
    return len(os.sched_getaffinity(0))


def pin_environment(work: str) -> None:
    """Environment the Spark JVM must start under: ``local[<cores>]``
    instead of the package default of 32 threads, a 2 GiB driver heap,
    and every scratch and temp file inside ``work``."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(local_cpus())
    os.environ["SPARK_DRIVER_MEMORY"] = "2g"
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join([
        "--driver-java-options", f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "pyspark-shell",
    ])


def start_spark(master: str | None = None):
    from real_time_video_streaming_analytics_lakehouse_spark.session import (
        get_spark,
    )

    spark = get_spark("perfbench", master=master)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def restart_spark(spark, master: str):
    """A new session on ``master`` in the same JVM."""
    spark.stop()
    return start_spark(master)


def shutdown() -> None:
    """Stop the active session and the JVM the gateway launched, and
    wait for the JVM to exit. Safe to call when nothing was started."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession()
    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    finally:
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def stage_totals(spark, after_stage: int = -1) -> dict:
    """Executor run time, JVM GC time and shuffle bytes written, summed
    over every stage with id > ``after_stage``, read from Spark's
    application status store (the data the web UI shows). Returns the
    largest stage id too, as the cursor for the next call."""
    sc = spark.sparkContext
    st = sc._jsc.sc().statusStore()
    stages = st.stageList(
        sc._jvm.java.util.ArrayList(), False, False,
        getattr(st, "stageList$default$4")(),
        getattr(st, "stageList$default$5")(),
    )
    run_ms = gc_ms = shuffle = 0
    last = after_stage
    for i in range(stages.size()):
        s = stages.apply(i)
        sid = s.stageId()
        last = max(last, sid)
        if sid > after_stage:
            run_ms += s.executorRunTime()
            gc_ms += s.jvmGcTime()
            shuffle += s.shuffleWriteBytes()
    return {"task_s": run_ms / 1e3, "gc_s": gc_ms / 1e3,
            "shuffle_bytes": shuffle, "last_stage": last}


def host_probe() -> dict:
    """Fixed-work probes, median of three: interpreter-bound CPU work
    (~0.1 s) and four 64 MiB memory copies. Diagnostic only — they show when a set of
    runs met a slower host; nothing is scaled by them."""
    def cpu() -> float:
        t = time.perf_counter()
        acc = 0
        for i in range(1_000_000):
            acc = (acc * 31 + i) & 0xFFFFFFFF
        return time.perf_counter() - t

    src = np.ones(8 * 1024 * 1024, dtype=np.float64)
    dst = np.empty_like(src)

    def mem() -> float:
        t = time.perf_counter()
        for _ in range(4):
            np.copyto(dst, src)
        return time.perf_counter() - t

    return {"cpu_ref_s": median(cpu() for _ in range(3)),
            "mem_ref_s": median(mem() for _ in range(3))}


def timed_ops(run, loop, min_ops: int = 2) -> tuple[float, int, int]:
    """Drive ``loop(i)`` — one closed-loop iteration returning
    (operations attempted, operations failed), or None once the inputs
    generated up front are used up — until at least ``run.seconds``
    have passed, and at least ``min_ops`` times. Returns (setup_s,
    attempted, failed). A traced run traces iterations 0, 3, 4, 7, ...
    (ABBA order: over four iterations a steady drift weighs on both
    sides alike), so the tracing overhead is measured inside one run."""
    setup_s = time.perf_counter() - run.t0
    start = time.perf_counter()
    traced = run.tracer.enabled
    attempted = failed = i = 0
    while i < min_ops or time.perf_counter() - start < run.seconds:
        run.tracer.enabled = traced and i % 4 in (0, 3)
        try:
            counts = loop(i)
        except Exception:  # noqa: BLE001 — a failed op is counted, not fatal
            traceback.print_exc()
            counts = (1, 1)
        if counts is None:
            break
        a, f = counts
        attempted += a
        failed += f
        i += 1
    run.tracer.enabled = traced
    return setup_s, attempted, failed

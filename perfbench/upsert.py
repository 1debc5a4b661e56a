"""``upsert``: CDC batches merged into a day-partitioned ``TxTable``,
each followed by a fixed read mix.

The table is seeded with ``seed_commits`` appends (so its log already
holds a checkpoint). One closed-loop iteration merges one CDC batch
(``TxTable.merge``: mostly updates skewed to recent days, some inserts)
and then runs three reads: an aggregate over the current snapshot, a
one-day predicate read that depends on file skipping, and the same
aggregate time-travelled to the previous version. Same ``txlog`` layer
as ``ingest``, but rewrites and reads instead of appends.
"""

from __future__ import annotations

import os
import time

import common
import gates
import gen

#: timed merges are capped by the CDC batches generated up front
MAX_MERGES = 16


def _agg(df):
    from pyspark.sql import functions as F

    return df.groupBy("event_type").agg(
        F.count("*").alias("n"), F.sum("value").alias("v")).collect()


def run(run) -> dict:
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
        TimestampNTZType,
    )

    from real_time_video_streaming_analytics_lakehouse_spark.operators.txlog import (
        TxTable,
    )

    p, tracer = run.params, run.tracer
    inputs = gen.write_upsert_inputs(
        run.seed, os.path.join(run.work, "data", "inputs"), p, MAX_MERGES + 1)
    t = time.perf_counter()
    spark = common.start_spark()
    start_s = time.perf_counter() - t
    schema = StructType([
        StructField("event_id", LongType()),
        StructField("ts", TimestampNTZType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
        StructField("day", StringType()),
    ])
    t = time.perf_counter()
    tx = TxTable.create(spark, os.path.join(run.work, "data", "table"), schema,
                        partition_by=["day"])
    for f in inputs["seed_files"]:
        tx.write(spark.read.schema(schema).parquet(f))
    cdc = inputs["cdc_files"]
    applied: list[str] = []
    versions: list[int] = []

    def merge(path):
        v = tx.merge(spark.read.schema(schema).parquet(path), ["event_id"])
        applied.append(path)
        versions.append(v)
        return v

    v = merge(cdc[0])
    _agg(tx.read())
    _agg(tx.read(predicates=[("day", "=", "2024-01-30")]))
    _agg(tx.read(version=v - 1))
    warm_s = time.perf_counter() - t

    tracer.wrap(TxTable, "snapshot", "txlog.snapshot")
    cursor = common.stage_totals(spark)["last_stage"] if run.trace else -1
    merges = {True: [], False: []}
    reads: list[float] = []
    cycles: list[float] = []
    pruned: list[int] = []

    def loop(i):
        if i + 1 >= len(cdc):
            return None
        side = tracer.enabled
        t0 = time.perf_counter()
        with tracer.span("txlog.merge"):
            v = merge(cdc[i + 1])
        t1 = time.perf_counter()
        merges[side].append(t1 - t0)
        cycle = t1 - t0
        day = f"2024-01-{30 - i % 7:02d}"
        for name, make in (
            ("txlog.read_current", lambda: tx.read()),
            ("txlog.read_predicate",
             lambda: tx.read(predicates=[("day", "=", day)])),
            ("txlog.read_previous", lambda: tx.read(version=v - 1)),
        ):
            t = time.perf_counter()
            with tracer.span(name):
                df = make()
                _agg(df)
            reads.append(time.perf_counter() - t)
            cycle += reads[-1]
            if side and name == "txlog.read_predicate":
                pruned.append(len(df.inputFiles()))
        cycles.append(cycle)
        return 4, 0

    setup_s, attempted, failed = common.timed_ops(
        run, loop, min_ops=4 if run.trace else 2)
    tracer.unwrap()
    all_merges = merges[True] + merges[False]
    merge_p50 = common.median(all_merges)
    out = {
        "e2e": {"setup_s": setup_s, "op_p50_s": merge_p50,
                "rows_per_s": p["cdc_rows"] / common.median(cycles)},
        "attempted": attempted,
        "failed": failed,
        "samples": {"merges": len(all_merges), "reads": len(reads)},
        "layer": {},
    }
    if run.trace:
        layer = out["layer"]
        layer["session.start_s"] = start_s
        layer["session.warm_s"] = warm_s
        layer["upsert.merge_p50_s"] = merge_p50
        layer["upsert.read_p50_s"] = common.median(reads)
        layer["txlog.snapshot_s"] = common.median(
            tracer.durations("txlog.snapshot"))
        timed_versions = versions[1:]
        hist = {r["version"]: r for r in tx.history(
            limit=versions[-1] + 1).collect()}
        layer["txlog.merge_files_added"] = common.median(
            hist[v]["numAddedFiles"] for v in timed_versions)
        layer["txlog.merge_files_removed"] = common.median(
            hist[v]["numRemovedFiles"] for v in timed_versions)
        amp = []
        for v in timed_versions:
            before, after = tx.snapshot(v - 1).files, tx.snapshot(v).files
            written = sum(after[k].get("numRecords") or 0
                          for k in after if k not in before)
            amp.append(written / p["cdc_rows"])
        layer["txlog.rewrite_amplification"] = common.median(amp)
        detail = tx.detail()
        layer["txlog.table_files"] = detail["numFiles"]
        layer["txlog.pruned_file_ratio"] = (
            common.median(pruned) / detail["numFiles"])
        tot = common.stage_totals(spark, cursor)
        n = len(all_merges)
        layer["spark.task_s"] = tot["task_s"] / n
        layer["spark.gc_s"] = tot["gc_s"] / n
        layer["spark.shuffle_bytes"] = tot["shuffle_bytes"] / n
        on, off = common.median(merges[True]), common.median(merges[False])
        layer["trace.op_traced_s"] = on
        layer["trace.op_untraced_s"] = off
        layer["trace.overhead_pct"] = 100.0 * (on - off) / off
    out["problems"] = _gate(tx, inputs["seed_files"], applied, versions, schema)
    return out


def _gate(tx, seed_files, applied, versions, schema) -> list[str]:
    """The final snapshot and the version after the middle merge against
    the pandas replay of the batches merged up to them."""
    cols = schema.names
    problems = []
    mid = len(versions) // 2
    for label, version, batches in (
        ("final snapshot", None, applied),
        (f"version {versions[mid]}", versions[mid], applied[: mid + 1]),
    ):
        rows = [tuple(r) for r in tx.read(version=version).select(*cols).collect()]
        problems += gates.upsert_problems(
            label, rows, cols, gates.upsert_replay(seed_files, batches))
    return problems

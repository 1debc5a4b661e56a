"""``ingest``: drain landed envelope files (JSON payloads) through
``run_registry_ingest`` with an availableNow trigger, one file per
micro-batch.

Each closed-loop iteration lands ``batches_per_drain`` files (a rename,
outside the timed span) and drains them. One file per drain makes one
drain-wall and one ``triggerExecution`` sample per ~2 s, so both
medians rest on 11-14 samples spread over a 20 s window on a 4-core
host.
A drain is schema-registry validation (``sources.registry``), the
file-source stream and its trigger (``streaming``) and one ``TxTable``
append per topic table and the DLQ (``txlog``). Append-only writes, no
``plans``.
"""

from __future__ import annotations

import os
import time

import common
import gates
import gen

#: timed drains are capped by the files generated up front; a drain
#: takes 1.2-2.5 s on a 4-core host (5 s when the host is at its
#: busiest), so 40 outlast the window
MAX_DRAINS = 40
#: Warm-up. The first (cold) drain takes ~12 s, and later ones keep
#: getting faster for a minute or more while the JIT compiles the batch
#: path. ``WARM_LAKES`` scratch lakes, ``WARM_DRAINS`` drains each, are
#: drained side by side first, so the JIT sees that path from three
#: threads at once; then one drain of the measured lake creates its
#: tables.
WARM_LAKES = 3
WARM_DRAINS = 3
_PROGRESS_KEYS = {
    "streaming.add_batch_ms": "addBatch",
    "streaming.query_planning_ms": "queryPlanning",
    "streaming.wal_commit_ms": "walCommit",
    "streaming.latest_offset_ms": "latestOffset",
}


class Lake:
    """The landing directory, the ingest tables and the drain."""

    def __init__(self, spark, work: str, files: list[str]):
        from pyspark.sql.types import LongType, StringType, StructField, StructType

        from real_time_video_streaming_analytics_lakehouse_spark.sources.registry import (
            SchemaRegistry,
        )

        self.spark = spark
        self.pending = list(files)
        self.landed: list[str] = []
        self.landing = os.path.join(work, "data", "landing")
        self.tables = os.path.join(work, "data", "tables")
        self.dlq = os.path.join(work, "data", "dlq")
        self.ckpt = os.path.join(work, "data", "ckpt")
        os.makedirs(self.landing)
        self.registry = SchemaRegistry()
        for topic in sorted(set(gen.TOPIC_OF.values())):
            self.registry.register(f"{topic}-value", gen.PAYLOAD_SCHEMA)
        self.schema = StructType([
            StructField("topic", StringType()),
            StructField("offset", LongType()),
            StructField("value", StringType()),
        ])

    def land(self, n: int) -> None:
        for src in self.pending[:n]:
            dst = os.path.join(self.landing, os.path.basename(src))
            os.rename(src, dst)
            self.landed.append(dst)
        del self.pending[:n]

    def drain(self) -> list[dict]:
        """Drain everything landed; returns the query's progress
        reports of the batches that read rows."""
        from real_time_video_streaming_analytics_lakehouse_spark.streaming.pipelines import (
            run_registry_ingest,
            stream_events_from_files,
        )

        raw = stream_events_from_files(self.spark, self.landing, self.schema,
                                       max_files_per_trigger=1)
        q = run_registry_ingest(raw, self.registry, self.tables, self.dlq,
                                self.ckpt, keep_cols=("offset",))
        q.awaitTermination()
        if q.exception() is not None:
            raise RuntimeError(str(q.exception()))
        return [p for p in q.recentProgress if p["numInputRows"] > 0]

    def topic_tables(self):
        from real_time_video_streaming_analytics_lakehouse_spark.operators.txlog import (
            TxTable,
        )

        return [TxTable(self.spark, os.path.join(self.tables, t))
                for t in sorted(os.listdir(self.tables))]


def _gate(lake: Lake, truth: dict) -> tuple[list[str], float]:
    import pandas as pd
    import pyarrow.parquet as pq

    from real_time_video_streaming_analytics_lakehouse_spark.operators.txlog import (
        TxTable,
    )

    landed = set()
    for f in lake.landed:
        landed.update(pq.read_table(f, columns=["offset"])["offset"].to_pylist())
    good = pd.concat([t.read().select("offset", "event_id").toPandas()
                      for t in lake.topic_tables()], ignore_index=True)
    dlq = [r[0] for r in TxTable(lake.spark, lake.dlq).read()
           .select("offset").collect()]
    planted = truth["invalid_per_file"] * len(lake.landed)
    return gates.ingest_problems(landed, planted, good, dlq), len(dlq) / len(landed)


def _validate_s(lake: Lake, path: str) -> float:
    """``registry_ingest_frames`` on one batch-sized frame, every output
    evaluated, nothing written."""
    from real_time_video_streaming_analytics_lakehouse_spark.sources.registry import (
        registry_ingest_frames,
    )

    def once():
        t = time.perf_counter()
        raw = lake.spark.read.schema(lake.schema).parquet(path)
        good, dlq = registry_ingest_frames(raw, lake.registry,
                                           keep_cols=("offset",))
        for frame in [*good.values(), dlq]:
            frame.write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t

    return common.median(once() for _ in range(3))


def _warm(spark, work: str, files: list[str], per_drain: int) -> None:
    from concurrent.futures import ThreadPoolExecutor

    lakes = [Lake(spark, os.path.join(work, "data", f"warm{k}"),
                  files[k::WARM_LAKES]) for k in range(WARM_LAKES)]

    def drain_all(lake: Lake) -> None:
        while lake.pending:
            lake.land(per_drain)
            lake.drain()

    with ThreadPoolExecutor(WARM_LAKES) as pool:
        list(pool.map(drain_all, lakes))


def run(run) -> dict:
    from real_time_video_streaming_analytics_lakehouse_spark.operators.txlog import (
        TxTable,
    )

    p, tracer = run.params, run.tracer
    per_drain = p["batches_per_drain"]
    n_warm = per_drain * WARM_LAKES * WARM_DRAINS
    truth = gen.write_ingest_batches(
        run.seed, os.path.join(run.work, "data", "staging"), p,
        n_warm + per_drain * (1 + MAX_DRAINS + 1))
    t = time.perf_counter()
    spark = common.start_spark()
    start_s = time.perf_counter() - t
    t = time.perf_counter()
    _warm(spark, run.work, truth["files"][:n_warm], per_drain)
    lake = Lake(spark, run.work, truth["files"][n_warm:])
    lake.land(per_drain)
    lake.drain()
    warm_s = time.perf_counter() - t

    tracer.wrap(TxTable, "write", "txlog.append")
    tracer.wrap(TxTable, "snapshot", "txlog.snapshot")
    cursor = common.stage_totals(spark)["last_stage"] if run.trace else -1
    rows_per_drain = per_drain * truth["rows_per_file"]
    walls = {True: [], False: []}
    progress: dict[bool, list] = {True: [], False: []}

    def loop(i):
        if len(lake.pending) < 2 * per_drain:  # one drain kept for local[1]
            return None
        lake.land(per_drain)
        with tracer.span("streaming.drain"):
            t = time.perf_counter()
            batches = lake.drain()
            walls[tracer.enabled].append(time.perf_counter() - t)
        progress[tracer.enabled].extend(batches)
        return len(batches), 0

    setup_s, attempted, failed = common.timed_ops(
        run, loop, min_ops=4 if run.trace else 2)
    tracer.unwrap()
    batches = progress[True] + progress[False]
    all_walls = walls[True] + walls[False]

    def batch_p50(ps):
        return common.median(b["durationMs"]["triggerExecution"] for b in ps) / 1e3

    out = {
        "e2e": {"setup_s": setup_s, "op_p50_s": batch_p50(batches),
                "rows_per_s": rows_per_drain / common.median(all_walls)},
        "attempted": attempted,
        "failed": failed,
        "samples": {
            "batches": len(batches), "drains": len(all_walls),
            "batch_ms": [b["durationMs"]["triggerExecution"] for b in batches],
            "drain_s": [round(w, 3) for w in all_walls]},
        "layer": {},
    }
    if run.trace:
        layer = out["layer"]
        layer["session.start_s"] = start_s
        layer["session.warm_s"] = warm_s
        traced = progress[True]
        for name, key in _PROGRESS_KEYS.items():
            layer[name] = common.median(b["durationMs"].get(key, 0)
                                        for b in traced)
        layer["streaming.batches"] = len(traced)
        appends = tracer.durations("txlog.append")
        layer["txlog.append_s"] = common.median(appends)
        layer["txlog.commits"] = len(appends)
        layer["txlog.snapshot_s"] = common.median(
            tracer.durations("txlog.snapshot"))
        tot = common.stage_totals(spark, cursor)
        layer["spark.task_s"] = tot["task_s"] / len(batches)
        layer["spark.gc_s"] = tot["gc_s"] / len(batches)
        layer["spark.shuffle_bytes"] = tot["shuffle_bytes"] / len(batches)
        layer["sources.registry_validate_s"] = _validate_s(lake, lake.landed[0])
        layer["txlog.table_files"] = sum(
            t.detail()["numFiles"] for t in
            lake.topic_tables() + [TxTable(spark, lake.dlq)])
        on, off = batch_p50(progress[True]), batch_p50(progress[False])
        layer["trace.op_traced_s"] = on
        layer["trace.op_untraced_s"] = off
        layer["trace.overhead_pct"] = 100.0 * (on - off) / off
        localn = common.median(all_walls)
        spark = common.restart_spark(spark, "local[1]")
        lake.spark = spark
        lake.land(per_drain)
        t = time.perf_counter()
        lake.drain()
        local1 = time.perf_counter() - t
        layer["baseline.ingest_local1_s"] = local1
        layer["baseline.ingest_localn_s"] = localn
        layer["baseline.ingest_speedup"] = local1 / localn
    out["problems"], dlq_ratio = _gate(lake, truth)
    if run.trace:
        out["layer"]["sources.dlq_ratio"] = dlq_ratio
    return out

"""The metrics the benchmark prints.

BENCHMARK.json is the one list of names, units, directions and bounds;
this module reads it. What that file has no key for lives here: which
end-to-end metric (and workload) each per-layer metric should move,
and the per-layer metrics of ``upsert``, a workload that runs by hand
and is not in BENCHMARK.json (see README).

End-to-end metrics are printed by untraced runs of every workload, so
they are defined on every workload; per-layer metrics are printed by
traced runs of every workload, and a layer the workload never calls
reads 0.
"""

from __future__ import annotations

import functools
import json
import os

_BENCHMARK = os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "BENCHMARK.json")

VIEWS = [
    "daily_active_users", "user_cohorts", "user_segments",
    "event_type_rank", "value_bucket_dropoff", "executive_kpis",
    "weekly_revenue_growth", "churn_risk", "props_key_distribution",
    "device_platform_quality", "content_trends_daily",
    "daily_user_metrics", "purchase_attribution", "sessionize_rollup",
    "user_activity_5min", "content_popularity_10min", "anomaly_1min",
    "latest_event_per_user", "user_event_enrichment",
    "merge_upsert_events", "dq_validation_events",
]

_ON_VIEWS = "op_p50_s/rows_per_s on views"
_ON_INGEST_RATE = "rows_per_s on ingest"
_ON_INGEST_BATCH = "op_p50_s on ingest"
_ON_UPSERT = "op_p50_s/rows_per_s on upsert"

#: per-layer metric -> what it measures and the end-to-end metric it
#: should move; a key ending in "." covers every name it prefixes
MOVES = {
    "plans.": _ON_VIEWS,
    "spark.task_s": "executor time per unit of work; op_p50_s everywhere",
    "spark.shuffle_bytes": "shuffle bytes per unit of work; op_p50_s everywhere",
    "spark.gc_s": "JVM GC time per unit of work; op_p50_s everywhere",
    "sources.scan_s": "load_table(events) + full no-op scan, the floor "
                      "every view pays; " + _ON_VIEWS,
    "sources.registry_validate_s": "registry_ingest_frames on one "
                                   "batch-sized frame, no writes; "
                                   + _ON_INGEST_RATE,
    "sources.dlq_ratio": "DLQ rows per landed row; " + _ON_INGEST_RATE,
    "streaming.": _ON_INGEST_BATCH,
    "txlog.append_s": "median TxTable.write per table per micro-batch; "
                      + _ON_INGEST_RATE,
    "txlog.commits": "TxTable appends in the timed window; " + _ON_INGEST_RATE,
    "txlog.snapshot_s": "median TxTable.snapshot; " + _ON_UPSERT + ", "
                        + _ON_INGEST_BATCH,
    "txlog.table_files": "live files at the end of the run; "
                         + _ON_INGEST_BATCH + ", " + _ON_UPSERT,
    "session.": "setup_s on every workload",
    "host.": "diagnostic only: fixed-work probes at run start and end",
    "trace.": "tracing cost: op_p50_s of the traced against the "
              "untraced iterations of the traced run",
    "baseline.": "one refresh (views) / drain (ingest) on local[1] "
                 "against local[cores], and their ratio",
}

#: (name, unit, better, moves) printed by traced ``upsert`` runs only
UPSERT_LAYER = [
    ("txlog.merge_files_added", "count", "lower",
     "median files added per merge (history); " + _ON_UPSERT),
    ("txlog.merge_files_removed", "count", "lower",
     "median files removed per merge (history); " + _ON_UPSERT),
    ("txlog.rewrite_amplification", "ratio", "lower",
     "rows written per CDC row merged; " + _ON_UPSERT),
    ("txlog.pruned_file_ratio", "ratio", "lower",
     "files the predicate read opens per live file; " + _ON_UPSERT),
    ("upsert.merge_p50_s", "s", "lower", "median merge; " + _ON_UPSERT),
    ("upsert.read_p50_s", "s", "lower",
     "median read of the read mix; rows_per_s on upsert"),
]


@functools.cache
def benchmark() -> dict:
    with open(_BENCHMARK) as f:
        return json.load(f)


def moves(name: str) -> str:
    """The note on what a per-layer metric should move."""
    if name in MOVES:
        return MOVES[name]
    for key, note in MOVES.items():
        if key.endswith(".") and name.startswith(key):
            return note
    return {m[0]: m[3] for m in UPSERT_LAYER}[name]


def end_to_end() -> list[tuple[str, str]]:
    """(name, unit) of every metric an untraced run prints."""
    return [(m["name"], m["unit"]) for m in benchmark()["end_to_end"]]


def per_layer(workload: str) -> list[tuple[str, str]]:
    """(name, unit) of every metric a traced run of ``workload`` prints."""
    out = [(m["name"], m["unit"]) for m in benchmark()["per_layer"]]
    if workload == "upsert":
        out += [m[:2] for m in UPSERT_LAYER]
    return out

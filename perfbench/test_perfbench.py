"""Self-tests of the benchmark: ``python3 -m pytest perfbench -q``.

The fast tests check BENCHMARK.json against the benchmark contract, the
generators' determinism and that each correctness gate rejects a
planted fault. The slow ones run every workload at a tiny size through
the real command and check that each named metric prints with its unit.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import gates  # noqa: E402
import gen  # noqa: E402
import metrics  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def _bench() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_benchmark_json_is_well_formed():
    b = _bench()
    assert set(b) == {"command", "paths", "run_seconds", "workloads",
                      "end_to_end", "per_layer"}
    assert b["paths"] == ["perfbench"]
    assert all(set(m) == {"name", "unit", "better", "bound"}
               for m in b["end_to_end"])
    assert all(set(m) == {"name", "unit", "better"} for m in b["per_layer"])
    assert {f"plans.{v}.{k}" for v in metrics.VIEWS
            for k in ("plan_s", "exec_s", "jobs")} \
        <= {m["name"] for m in b["per_layer"]}
    for m in b["per_layer"]:
        assert metrics.moves(m["name"])
    names = [m["name"] for m in b["end_to_end"] + b["per_layer"]]
    names += [w["name"] for w in b["workloads"]]
    assert len(names) == len(set(names))
    assert all(NAME.match(n) for n in names)
    assert all(UNIT.match(m["unit"]) for m in b["end_to_end"] + b["per_layer"])
    assert all(0 < m["bound"] <= 0.25 for m in b["end_to_end"])
    setup = next(m for m in b["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in b["end_to_end"])
    assert all(len(w["why"]) <= 200 and "\n" not in w["why"]
               for w in b["workloads"])
    assert len(json.dumps(b)) < 64 * 1024


def test_view_names_match_the_catalog():
    from real_time_video_streaming_analytics_lakehouse_spark.plans import (
        events_views,
    )

    assert metrics.VIEWS == list(events_views.QUERIES)


def _tree_bytes(d: str) -> dict[str, bytes]:
    out = {}
    for name in sorted(os.listdir(d)):
        with open(os.path.join(d, name), "rb") as f:
            out[name] = f.read()
    return out


def test_generators_are_byte_identical_per_seed(tmp_path):
    def make(seed, tag):
        root = tmp_path / tag
        gen.write_views_input(seed, str(root / "v"), gen.scaled("views", 0.02))
        gen.write_ingest_batches(seed, str(root / "i"),
                                 gen.scaled("ingest", 0.02), 2)
        gen.write_upsert_inputs(seed, str(root / "u"),
                                gen.scaled("upsert", 0.05), 2)
        return {sub: _tree_bytes(str(root / sub)) for sub in ("v", "i", "u")}

    a, b, c = make(7, "a"), make(7, "b"), make(8, "c")
    assert a == b
    for sub in a:
        assert a[sub] != c[sub]


def _oracle_results(events_dir: str) -> tuple[dict, dict]:
    import duckdb

    from real_time_video_streaming_analytics_lakehouse_spark.plans import (
        events_views,
    )

    con = duckdb.connect()
    path = os.path.join(events_dir, "events.parquet")
    con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet('{path}')")
    out = {}
    for name, spec in events_views.QUERIES.items():
        cur = con.execute(spec.oracle)
        out[name] = ([d[0] for d in cur.description], cur.fetchall())
    return out, {n: s.oracle for n, s in events_views.QUERIES.items()}


def test_views_gate_rejects_a_perturbed_value(tmp_path):
    d = gen.write_views_input(3, str(tmp_path), gen.scaled("views", 0.05))
    results, oracles = _oracle_results(d)
    assert gates.views_problems(results, d, oracles) == []
    cols, rows = results["daily_active_users"]
    i = cols.index("dau")
    bad = list(rows[0])
    bad[i] += 1
    results["daily_active_users"] = (cols, [tuple(bad)] + rows[1:])
    problems = gates.views_problems(results, d, oracles)
    assert problems and problems[0].startswith("daily_active_users")


def _ingest_truth(tmp_path):
    import pandas as pd
    import pyarrow.parquet as pq

    p = gen.scaled("ingest", 0.04)
    truth = gen.write_ingest_batches(5, str(tmp_path), p, 2)
    landed, good, dlq = set(), [], []
    for f in truth["files"]:
        t = pq.read_table(f).to_pylist()
        for r in t:
            landed.add(r["offset"])
            try:
                doc = json.loads(r["value"])
            except json.JSONDecodeError:
                dlq.append(r["offset"])
                continue
            if r["topic"] == gen.UNREGISTERED_TOPIC or "user_id" not in doc:
                dlq.append(r["offset"])
            else:
                good.append((r["offset"], doc["event_id"]))
    good_df = pd.DataFrame(good, columns=["offset", "event_id"])
    return landed, truth["invalid_per_file"] * len(truth["files"]), good_df, dlq


def test_ingest_gate_rejects_a_dropped_dlq_row(tmp_path):
    landed, planted, good, dlq = _ingest_truth(tmp_path)
    assert planted > 0
    assert gates.ingest_problems(landed, planted, good, dlq) == []
    assert gates.ingest_problems(landed, planted, good, dlq[1:])
    dup = good.copy()
    dup.loc[0, "event_id"] = dup.loc[1, "event_id"]
    assert gates.ingest_problems(landed, planted, dup, dlq)


def test_upsert_gate_rejects_a_changed_row(tmp_path):
    ins = gen.write_upsert_inputs(4, str(tmp_path), gen.scaled("upsert", 0.05), 3)
    want = gates.upsert_replay(ins["seed_files"], ins["cdc_files"])
    cols = list(want.columns)
    rows = list(want.itertuples(index=False, name=None))
    assert gates.upsert_problems("final", rows, cols, want) == []
    stale = gates.upsert_replay(ins["seed_files"], ins["cdc_files"][:2])
    stale_rows = list(stale.itertuples(index=False, name=None))
    assert gates.upsert_problems("final", stale_rows, cols, want)


def test_without_the_package_the_command_fails(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    r = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "views",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180)
    assert r.returncode != 0
    assert '"metrics"' not in r.stdout


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", ["views", "ingest", "upsert"])
def test_tiny_run_prints_every_metric(workload, trace):
    r = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", "9", "--seconds", "1", "--trace", str(trace),
         "--scale", "0.1"],
        cwd=ROOT, capture_output=True, text=True, timeout=900)
    assert r.returncode == 0, r.stderr[-3000:]
    detail_line, result_line = r.stdout.strip().splitlines()[-2:]
    detail, result = json.loads(detail_line), json.loads(result_line)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0
    assert result["attempted"] >= 1
    want = metrics.per_layer(workload) if trace else metrics.end_to_end()
    got = result["metrics"]
    assert list(got) == [name for name, _ in want]
    for name, unit in want:
        assert got[name]["unit"] == unit
        assert isinstance(got[name]["value"], float)
    assert detail["generator"] == gen.scaled(workload, 0.1)
    if trace:
        with open(os.path.join(ROOT, detail["work_dir"], "spans.jsonl")) as f:
            spans = [json.loads(line) for line in f]
        assert spans
        assert all({"id", "parent", "run", "name", "start", "end"} <= set(s)
                   for s in spans)
        assert any(s["parent"] is not None for s in spans)
    else:
        assert all(v["value"] > 0 for v in got.values())

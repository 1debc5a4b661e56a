"""Correctness gates, run after the timed window. Each takes what the
program produced and returns a list of problems; an empty list passes.
They never see timing, so a planted fault can be fed to them directly.
"""

from __future__ import annotations

import functools
import importlib.util
import os

import pandas as pd

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@functools.cache
def _check_correctness():
    """The repo's oracle tool, whose ``table_hash``/``canon_cell`` the
    gates share instead of copying."""
    path = os.path.join(_REPO, "tools", "check_correctness.py")
    spec = importlib.util.spec_from_file_location("check_correctness", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def table_hash(rows, cols) -> str:
    return _check_correctness().table_hash(rows, cols)


def views_problems(results: dict[str, tuple[list, list]],
                   events_dir: str, oracles: dict[str, str]) -> list[str]:
    """Each view's ``(columns, rows)`` against its DuckDB oracle SQL on
    the same generated ``events`` table: row count, column names and
    the order-insensitive value hash."""
    import duckdb

    cc = _check_correctness()
    con = duckdb.connect()
    try:
        path = os.path.join(events_dir, "events.parquet")
        con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet('{path}')")
        problems = []
        for name, sql in sorted(oracles.items()):
            if name not in results:
                problems.append(f"{name}: no result")
                continue
            scols, srows = results[name]
            cur = con.execute(sql)
            ocols = [d[0] for d in cur.description]
            orows = cur.fetchall()
            if len(srows) != len(orows):
                problems.append(f"{name}: rows {len(srows)} vs {len(orows)}")
            elif sorted(scols) != sorted(ocols):
                problems.append(f"{name}: cols {sorted(scols)} vs {sorted(ocols)}")
            elif cc.table_hash(srows, scols) != cc.table_hash(orows, ocols):
                problems.append(f"{name}: value hash differs from the oracle")
        return problems
    finally:
        con.close()


def ingest_problems(landed_offsets: set[int], planted: int,
                    good: pd.DataFrame, dlq_offsets: list[int]) -> list[str]:
    """Exact row accounting of a drain: ``good`` holds (offset,
    event_id) of every row in the typed topic tables, ``dlq_offsets``
    the offset of every dead-lettered row."""
    problems = []
    n_good, n_dlq = len(good), len(dlq_offsets)
    if n_good + n_dlq != len(landed_offsets):
        problems.append(f"good {n_good} + dlq {n_dlq} != landed "
                        f"{len(landed_offsets)}")
    if n_dlq != planted:
        problems.append(f"dlq {n_dlq} != planted invalid {planted}")
    seen = list(good["offset"]) + list(dlq_offsets)
    if len(set(seen)) != len(seen):
        problems.append("an offset was committed twice")
    if set(seen) != landed_offsets:
        problems.append("committed offsets differ from landed offsets")
    if good["event_id"].duplicated().any():
        problems.append("an event_id appears twice in the topic tables")
    return problems


def upsert_replay(seed_files: list[str], cdc_files: list[str]) -> pd.DataFrame:
    """Independent replay of the CDC batches: each batch replaces the
    rows whose ``event_id`` it carries and adds the rest."""
    df = pd.concat([pd.read_parquet(f) for f in seed_files], ignore_index=True)
    for f in cdc_files:
        b = pd.read_parquet(f)
        df = pd.concat([df[~df["event_id"].isin(b["event_id"])], b],
                       ignore_index=True)
    return df


def upsert_problems(label: str, rows: list[tuple], cols: list[str],
                    expected: pd.DataFrame) -> list[str]:
    exp_rows = list(expected[cols].itertuples(index=False, name=None))
    if len(rows) != len(exp_rows):
        return [f"{label}: rows {len(rows)} vs replay {len(exp_rows)}"]
    if table_hash(rows, cols) != table_hash(exp_rows, cols):
        return [f"{label}: value hash differs from the replay"]
    return []

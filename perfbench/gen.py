"""Seeded input generators for the three workloads.

Every input is drawn from one ``numpy.random.Generator`` seeded from
the CLI ``--seed`` and written with pyarrow before any timing starts,
so the same seed gives byte-identical files. The program under test
only ever sees these files.

Traffic model (shared by ``views`` and ``upsert``): ``users`` human
users whose activity follows a bounded Zipf law (weight of the user of
rank ``r`` is ``r ** -zipf_s``, ranks shuffled onto ids), plus
``bots`` bot users that together emit ``bot_share`` of all events,
almost all of them ``view``/``click``. Timestamps are uniform over
January 2024 (days 1-30, the sf0.1 ``events`` window) and ``event_id``
is the rank in time order, as in the sf0.1 corpus.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: Every generator parameter, per workload. Printed with each run's
#: output and mirrored in BENCHMARK.json's workload notes.
PARAMS: dict[str, dict] = {
    "views": {
        "rows": 20_000,
        "users": 2_000,
        "zipf_s": 1.0,
        "bots": 10,
        "bot_share": 0.05,
    },
    "ingest": {
        "rows_per_batch": 5_000,
        "batches_per_drain": 1,
        "users": 2_000,
        "zipf_s": 1.0,
        "bots": 10,
        "bot_share": 0.05,
        "malformed_share": 0.02,
        "missing_user_share": 0.02,
        "unregistered_share": 0.01,
    },
    "upsert": {
        "rows": 20_000,
        "users": 2_000,
        "zipf_s": 1.0,
        "bots": 10,
        "bot_share": 0.05,
        "cdc_rows": 1_000,
        "cdc_update_share": 0.9,
        "cdc_recent_decay": 0.7,
        "seed_commits": 10,
    },
}

EVENT_TYPES = np.array(["view", "click", "purchase", "signup", "error"])
HUMAN_TYPE_P = np.array([0.40, 0.25, 0.10, 0.05, 0.20])
BOT_TYPE_P = np.array([0.90, 0.10, 0.0, 0.0, 0.0])
DAYS = 30
T0_US = 1_704_067_200_000_000  # 2024-01-01 00:00:00 UTC
SPAN_US = DAYS * 86_400_000_000


def scaled(workload: str, scale: float) -> dict:
    """The workload's parameters with every row/batch count scaled."""
    p = dict(PARAMS[workload])
    for k in ("rows", "rows_per_batch", "cdc_rows"):
        if k in p:
            p[k] = max(50, int(p[k] * scale))
    return p


def _users_and_types(rng, n: int, p: dict) -> tuple[np.ndarray, np.ndarray]:
    users = p["users"]
    n_bot = int(round(n * p["bot_share"]))
    weights = np.arange(1, users + 1, dtype=np.float64) ** -p["zipf_s"]
    weights /= weights.sum()
    rank_to_id = rng.permutation(users)
    uid = np.empty(n, dtype=np.int64)
    etype = np.empty(n, dtype=object)
    is_bot = np.zeros(n, dtype=bool)
    is_bot[rng.choice(n, size=n_bot, replace=False)] = True
    n_h = n - n_bot
    uid[~is_bot] = rank_to_id[rng.choice(users, size=n_h, p=weights)]
    uid[is_bot] = users + rng.integers(0, p["bots"], size=n_bot)
    etype[~is_bot] = EVENT_TYPES[rng.choice(5, size=n_h, p=HUMAN_TYPE_P)]
    etype[is_bot] = EVENT_TYPES[rng.choice(5, size=n_bot, p=BOT_TYPE_P)]
    return uid, etype


def _values(rng, n: int) -> np.ndarray:
    cents = np.maximum(1, np.round(rng.exponential(5_000.0, size=n)))
    return cents / 100.0


def events_arrays(rng, n: int, p: dict) -> dict[str, np.ndarray]:
    """One month of events under the traffic model, in time order."""
    ts = np.sort(T0_US + rng.integers(0, SPAN_US, size=n))
    uid, etype = _users_and_types(rng, n, p)
    return {
        "event_id": np.arange(n, dtype=np.int64),
        "ts": ts,
        "user_id": uid,
        "event_type": etype,
        "value": _values(rng, n),
        "k": rng.integers(0, 100, size=n),
    }


def _events_table(a: dict[str, np.ndarray]) -> pa.Table:
    return pa.table({
        "event_id": pa.array(a["event_id"], pa.int64()),
        "ts": pa.array(a["ts"], pa.timestamp("us")),
        "user_id": pa.array(a["user_id"], pa.int64()),
        "event_type": pa.array(a["event_type"].tolist(), pa.string()),
        "value": pa.array(a["value"], pa.float64()),
        "props": pa.array([f'{{"k": {k}}}' for k in a["k"]], pa.string()),
    })


def write_views_input(seed: int, out_dir: str, p: dict) -> str:
    """``<out_dir>/events.parquet`` in the sf0.1 ``events`` schema."""
    rng = np.random.default_rng([seed, 1])
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, "events.parquet")
    pq.write_table(_events_table(events_arrays(rng, p["rows"], p)), path)
    return out_dir


# -- ingest ---------------------------------------------------------------

#: topic each event type is produced to; both subjects are registered
TOPIC_OF = {"view": "video_events", "click": "video_events",
            "error": "video_events", "purchase": "user_interactions",
            "signup": "user_interactions"}
UNREGISTERED_TOPIC = "ad_events"
PAYLOAD_SCHEMA = {
    "type": "object",
    "properties": {
        "event_id": {"type": "integer"},
        "user_id": {"type": "integer"},
        "event_type": {"type": "string"},
        "value": {"type": "number"},
        "ts_ms": {"type": "integer"},
    },
    "required": ["event_id", "user_id", "event_type"],
}
ENVELOPE = pa.schema([("topic", pa.string()), ("offset", pa.int64()),
                      ("value", pa.string())])


def write_ingest_batches(seed: int, out_dir: str, p: dict,
                         n_batches: int) -> dict:
    """``n_batches`` envelope files (``topic``, ``offset``, JSON
    ``value``) of ``rows_per_batch`` rows each, with exactly
    ``round(share * rows)`` malformed, user-less and unregistered-topic
    payloads planted per file. Returns the ground truth the ingest gate
    checks against."""
    rng = np.random.default_rng([seed, 2])
    os.makedirs(out_dir, exist_ok=True)
    b = p["rows_per_batch"]
    n_mal = int(round(b * p["malformed_share"]))
    n_miss = int(round(b * p["missing_user_share"]))
    n_unreg = int(round(b * p["unregistered_share"]))
    files = []
    for i in range(n_batches):
        a = events_arrays(rng, b, p)
        eids = a["event_id"] + i * b
        ts_ms = a["ts"] // 1000
        planted = rng.choice(b, size=n_mal + n_miss + n_unreg, replace=False)
        mal, miss = set(planted[:n_mal]), set(planted[n_mal:n_mal + n_miss])
        unreg = set(planted[n_mal + n_miss:])
        topics, payloads = [], []
        for j in range(b):
            doc = {"event_id": int(eids[j]), "user_id": int(a["user_id"][j]),
                   "event_type": a["event_type"][j],
                   "value": float(a["value"][j]), "ts_ms": int(ts_ms[j])}
            if j in miss:
                del doc["user_id"]
            text = json.dumps(doc)
            if j in mal:
                text = text[: len(text) // 2]
            payloads.append(text)
            topics.append(UNREGISTERED_TOPIC if j in unreg
                          else TOPIC_OF[doc["event_type"]])
        path = os.path.join(out_dir, f"batch-{i:05d}.parquet")
        pq.write_table(pa.table({
            "topic": pa.array(topics, pa.string()),
            "offset": pa.array(eids, pa.int64()),
            "value": pa.array(payloads, pa.string()),
        }, schema=ENVELOPE), path)
        files.append(path)
    return {"files": files, "rows_per_file": b,
            "invalid_per_file": n_mal + n_miss + n_unreg}


# -- upsert ---------------------------------------------------------------

def _day_strings(ts_us: np.ndarray) -> np.ndarray:
    day = (ts_us - T0_US) // 86_400_000_000
    return np.array([f"2024-01-{d + 1:02d}" for d in day], dtype=object)


def _upsert_table(a: dict[str, np.ndarray]) -> pa.Table:
    return pa.table({
        "event_id": pa.array(a["event_id"], pa.int64()),
        "ts": pa.array(a["ts"], pa.timestamp("us")),
        "user_id": pa.array(a["user_id"], pa.int64()),
        "event_type": pa.array(list(a["event_type"]), pa.string()),
        "value": pa.array(a["value"], pa.float64()),
        "day": pa.array(list(_day_strings(a["ts"])), pa.string()),
    })


def write_upsert_inputs(seed: int, out_dir: str, p: dict,
                        n_batches: int) -> dict:
    """The seed table split into ``seed_commits`` equal files (one
    append commit each, in time order) and ``n_batches`` CDC batch
    files. A CDC batch holds ``cdc_rows`` distinct keys: a
    ``cdc_update_share`` of them are updates of seed rows whose day is
    drawn ``days back ~ decay ** k`` from the last day (recent days are
    hot), the rest are inserts of new ids on the same recent days.
    Updates change ``event_type`` and ``value``; ``ts``/``day`` are
    kept, so a row never moves partition."""
    rng = np.random.default_rng([seed, 3])
    os.makedirs(out_dir, exist_ok=True)
    n = p["rows"]
    seed_rows = events_arrays(rng, n, p)
    seed_tab = _upsert_table(seed_rows)
    seed_files = []
    step = -(-n // p["seed_commits"])
    for i in range(p["seed_commits"]):
        path = os.path.join(out_dir, f"seed-{i:03d}.parquet")
        pq.write_table(seed_tab.slice(i * step, step), path)
        seed_files.append(path)
    day_idx = (seed_rows["ts"] - T0_US) // 86_400_000_000
    by_day = [np.flatnonzero(day_idx == d) for d in range(DAYS)]
    back_w = p["cdc_recent_decay"] ** np.arange(DAYS, dtype=np.float64)
    back_w /= back_w.sum()
    m = p["cdc_rows"]
    n_upd = int(round(m * p["cdc_update_share"]))
    next_id = n
    cdc_files = []
    for i in range(n_batches):
        days = DAYS - 1 - rng.choice(DAYS, size=m, p=back_w)
        upd_days = days[:n_upd]
        picked = []
        for d in np.unique(upd_days):
            want = int((upd_days == d).sum())
            pool = by_day[d]
            picked.append(rng.choice(pool, size=min(want, len(pool)),
                                     replace=False))
        upd = np.concatenate(picked) if picked else np.empty(0, np.int64)
        # a day with fewer seed rows than drawn updates tops up inserts
        n_ins = m - len(upd)
        ins_days = np.resize(days[n_upd:], n_ins)
        ins_ts = (T0_US + ins_days * 86_400_000_000
                  + rng.integers(0, 86_400_000_000, size=n_ins))
        ins_u, ins_t = _users_and_types(rng, n_ins, p)
        upd_t = EVENT_TYPES[rng.choice(5, size=len(upd), p=HUMAN_TYPE_P)]
        batch = {
            "event_id": np.concatenate(
                [seed_rows["event_id"][upd],
                 np.arange(next_id, next_id + n_ins, dtype=np.int64)]),
            "ts": np.concatenate([seed_rows["ts"][upd], ins_ts]),
            "user_id": np.concatenate([seed_rows["user_id"][upd], ins_u]),
            "event_type": np.concatenate([upd_t, ins_t]),
            "value": _values(rng, m),
        }
        next_id += n_ins
        path = os.path.join(out_dir, f"cdc-{i:04d}.parquet")
        pq.write_table(_upsert_table(batch), path)
        cdc_files.append(path)
    return {"seed_files": seed_files, "cdc_files": cdc_files}

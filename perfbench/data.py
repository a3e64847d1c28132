"""Seeded benchmark inputs, generated with NumPy and written with PyArrow.

Every table is a pure function of (workload, seed). The engine only ever
sees the parquet files written here. Each feature table carries a copy
of its own event timestamp as an ordinary feature column (``*_at``), so
a retrieved row shows which version it came from and the leakage count
``feature_ts > spine_ts`` can be taken from the result alone.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.dataset as ds
import pyarrow.parquet as pq

DAY = 86_400
HISTORY_DAYS = 30
EPOCH_US = 1_704_067_200 * 1_000_000  # 2024-01-01 00:00:00 UTC
TS = pa.timestamp("us", tz="UTC")
SOURCES = np.array(["web", "book", "code", "wiki"])
VOCAB = 50_257

# Sizes per workload. At these sizes fixed per-job costs dominate and one
# warm unit takes about 3-4 s on a 4-CPU host, which keeps a whole run
# (JVM start, warm-up, measured units, oracle) near one minute.
TRAIN = dict(docs=5_000, versions=4, spine=15_000, max_tok=48,
             hot_versions=1_000, hot_spine=500)
SERVE = dict(docs=6_000, rows=30_000, ttl_days=2)


@dataclass
class Inputs:
    """Paths of the staged tables plus the facts the workloads need."""

    tables: dict[str, str]
    rows: dict[str, int]
    bytes: int
    end_us: int  # last event timestamp in the data (µs since epoch)


def _ts(seconds: np.ndarray) -> pa.Array:
    return pa.array(EPOCH_US + seconds.astype(np.int64) * 1_000_000, type=TS)


def _doc_ids(prefix: str, idx: np.ndarray) -> pa.Array:
    return pa.array(np.char.add(prefix, np.char.zfill(idx.astype(str), 7)))


def _dedupe(keys: np.ndarray, ts: np.ndarray, span_s: int) -> tuple[np.ndarray, np.ndarray]:
    """Drop repeated (key, ts) pairs; the result is sorted by key, ts."""
    combo = np.unique(keys.astype(np.int64) * span_s + ts)
    return combo // span_s, combo % span_s


def _unique_key_ts(rng, keys: np.ndarray, span_s: int) -> tuple[np.ndarray, np.ndarray]:
    """Random integer-second timestamps, unique within each key."""
    return _dedupe(keys, rng.integers(0, span_s, size=keys.size), span_s)


def _tokens(rng, n: np.ndarray) -> pa.Array:
    offsets = np.zeros(n.size + 1, dtype=np.int32)
    np.cumsum(n, out=offsets[1:])
    values = rng.integers(0, VOCAB, size=int(offsets[-1]), dtype=np.int32)
    return pa.ListArray.from_arrays(pa.array(offsets), pa.array(values))


def _with_backfill(rng, keys, ets, share: float):
    """Append backfill ties: same (key, event ts), created 3 days later.
    Returns (keys, ets, created) in seconds."""
    created = ets + rng.integers(1, 7_200, size=ets.size)
    pick = rng.choice(ets.size, size=int(ets.size * share), replace=False)
    keys = np.concatenate([keys, keys[pick]])
    ets_all = np.concatenate([ets, ets[pick]])
    created = np.concatenate([created, created[pick] + 3 * DAY])
    return keys, ets_all, created


def _write(table: pa.Table, path: str, partition_by: str | None = None) -> None:
    if partition_by:
        ds.write_dataset(
            table, path, format="parquet", partitioning=[partition_by],
            partitioning_flavor="hive", existing_data_behavior="error",
        )
    else:
        os.makedirs(path)
        pq.write_table(table, os.path.join(path, "part-0.parquet"))


def _spine(rng, doc_idx: np.ndarray, ghost_share: float, lo_s: int, hi_s: int,
           dup_share: float = 0.02) -> pa.Table:
    """Spine rows over ``doc_idx`` plus ghost keys and exact duplicates."""
    n = doc_idx.size
    ghost = rng.random(n) < ghost_share
    ids = np.where(
        ghost,
        np.char.add("ghost_", np.char.zfill(doc_idx.astype(str), 7)),
        np.char.add("doc_", np.char.zfill(doc_idx.astype(str), 7)),
    )
    ts = rng.integers(lo_s, hi_s, size=n)
    dup = rng.choice(n, size=int(n * dup_share), replace=False)
    ids = np.concatenate([ids, ids[dup]])
    ts = np.concatenate([ts, ts[dup]])
    order = rng.permutation(ids.size)
    return pa.table({"doc_id": pa.array(ids[order]), "event_timestamp": _ts(ts[order])})


def _token_seq(rng, docs: int, versions: int, max_tok: int) -> pa.Table:
    """The BASELINE.json schema: (doc_id, tokens, n_tok, source) per
    version, with backfill ties that carry different tokens."""
    keys = np.repeat(np.arange(docs), rng.poisson(versions, size=docs) + 1)
    keys, ets = _unique_key_ts(rng, keys, HISTORY_DAYS * DAY)
    keys, ets, created = _with_backfill(rng, keys, ets, 0.1)
    n_tok = rng.integers(1, max_tok + 1, size=keys.size).astype(np.int32)
    days = (EPOCH_US // 1_000_000 + ets) // DAY
    return pa.table({
        "doc_id": _doc_ids("doc_", keys),
        "tokens": _tokens(rng, n_tok),
        "n_tok": pa.array(n_tok),
        "source": pa.array(SOURCES[rng.integers(0, 4, size=keys.size)]),
        "seq_at": _ts(ets),
        "event_timestamp": _ts(ets),
        "created": _ts(created),
        "day": pa.array(days.astype("datetime64[D]").astype(str)),
    })


def _train(rng) -> tuple[dict, dict, int]:
    p = TRAIN
    span = HISTORY_DAYS * DAY
    seq = _token_seq(rng, p["docs"], p["versions"], p["max_tok"])
    # doc_stats: infinite TTL, small enough to broadcast; 1-2 rows per
    # doc plus one hot doc with a long version history
    keys = np.repeat(np.arange(p["docs"]), rng.integers(1, 3, size=p["docs"]))
    keys, ets = _unique_key_ts(rng, keys, span)
    hot_ts = np.sort(rng.choice(span, size=p["hot_versions"], replace=False))
    ids = np.concatenate([np.char.add("doc_", np.char.zfill(keys.astype(str), 7)),
                          np.full(hot_ts.size, "doc_hot")])
    ets = np.concatenate([ets, hot_ts])
    stats = pa.table({
        "doc_id": pa.array(ids),
        "n_links": pa.array(rng.integers(0, 500, size=ets.size).astype(np.int32)),
        "quality": pa.array(rng.random(ets.size)),
        "stats_at": _ts(ets),
        "event_timestamp": _ts(ets),
    })
    # entityless view: one global row per day
    days = np.arange(HISTORY_DAYS) * DAY + DAY // 2
    daily = pa.table({
        "traffic": pa.array(rng.random(days.size) * 1e6),
        "traffic_at": _ts(days),
        "event_timestamp": _ts(days),
    })
    # spine: later part of the history (days 20-31), some past the end
    lo, hi = 20 * DAY, span + DAY
    spine = _spine(rng, rng.integers(0, p["docs"], size=p["spine"]), 0.05, lo, hi)
    hot = pa.table({
        "doc_id": pa.array(np.full(p["hot_spine"], "doc_hot")),
        "event_timestamp": _ts(rng.integers(lo, hi, size=p["hot_spine"])),
    })
    spine = pa.concat_tables([spine, hot])
    spine = spine.take(pa.array(rng.permutation(spine.num_rows)))
    tables = {"spine": spine, "token_seq": seq, "doc_stats": stats, "daily": daily}
    return tables, {"token_seq": "day"}, span


def _serve(rng) -> tuple[dict, dict, int]:
    p = SERVE
    span = HISTORY_DAYS * DAY
    # each doc is active until its own last day, so at the end of the
    # data some docs are live and others have TTL-expired
    last = rng.integers(span // 2, span, size=p["docs"])
    keys = rng.integers(0, p["docs"], size=p["rows"])
    ets = (rng.random(keys.size) * last[keys]).astype(np.int64)
    keys = np.concatenate([keys, np.arange(p["docs"])])  # every doc's last row
    ets = np.concatenate([ets, last])
    keys, ets = _dedupe(keys, ets, span)
    keys, ets, created = _with_backfill(rng, keys, ets, 0.1)
    activity = pa.table({
        "doc_id": _doc_ids("doc_", keys),
        "clicks": pa.array(rng.integers(0, 1000, size=keys.size)),
        "dwell": pa.array(rng.random(keys.size) * 60),
        "activity_at": _ts(ets),
        "event_timestamp": _ts(ets),
        "created": _ts(created),
    })
    return {"doc_activity": activity}, {}, int(ets.max())


GENERATORS = {"train_retrieval": _train, "materialize_serve": _serve}


def generate(workload: str, seed: int, root: str) -> Inputs:
    """Write the workload's tables under ``root`` (which must not exist)."""
    rng = np.random.default_rng([seed, sorted(GENERATORS).index(workload)])
    tables, partitioning, end_s = GENERATORS[workload](rng)
    paths, rows = {}, {}
    for name, table in tables.items():
        paths[name] = os.path.join(root, name)
        rows[name] = table.num_rows
        _write(table, paths[name], partitioning.get(name))
    size = sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(root) for f in files
    )
    return Inputs(paths, rows, size, EPOCH_US + end_s * 1_000_000)

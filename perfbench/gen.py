"""Seeded inputs for the benchmark workloads, and pure-Python references.

Everything here is numpy/pyarrow only, so inputs exist before any Spark
session starts and the expected results never depend on the engine under
test. Records follow the Kafka column contract of
``sources.kafka.KAFKA_SCHEMA``: key, value (JSON bytes, None = tombstone),
topic, partition, offset, timestamp.
"""

from __future__ import annotations

import json
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

KAFKA_ARROW = pa.schema(
    [
        ("key", pa.binary()),
        ("value", pa.binary()),
        ("topic", pa.string()),
        ("partition", pa.int32()),
        ("offset", pa.int64()),
        ("timestamp", pa.timestamp("us", tz="UTC")),
    ]
)

# 2024-03-01T00:00:00Z in epoch microseconds; event times spread over
# EVENT_DAYS days so DAY partitioning yields several partitions
T0_US = 1_709_251_200_000_000
EVENT_DAYS = 4
DAY_US = 86_400_000_000

APPEND_TOPICS = {"shop.orders": "orders", "shop.clicks": "clicks"}
KINDS = ["view", "cart", "buy", "refund", "share"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDEAST", "OCEANIA", "ARCTIC", "ANTARCTICA"]

UPSERT_TOPIC = "accounts"


@dataclass
class Record:
    key: bytes | None
    value: dict | None
    topic: str
    partition: int
    offset: int
    ts_us: int


def _iso(ts_us: int) -> str:
    s, us = divmod(int(ts_us), 1_000_000)
    return np.datetime_as_string(np.datetime64(s, "s"), unit="s") + f".{us:06d}Z"


def append_stream(seed: int, n_files: int, rows_per_file: int) -> list[list[Record]]:
    """Files for ``ingest_append``: two topics (2 partitions each) routed to
    two tables, ~1% tombstones, ~1% replayed offsets (a record repeated in
    the same file, as a consumer re-poll delivers it), and a nullable
    ``coupon`` field that first appears halfway through the stream."""
    rng = np.random.default_rng([seed, 1])
    topics = list(APPEND_TOPICS)
    next_off = {(t, p): 0 for t in topics for p in (0, 1)}
    files: list[list[Record]] = []
    event_id = 0
    for f in range(n_files):
        topic_ix = (rng.random(rows_per_file) < 0.4).astype(int)
        parts = rng.integers(0, 2, rows_per_file)
        users = rng.integers(0, 50_000, rows_per_file)
        amounts = rng.integers(1, 10_000, rows_per_file)
        kinds = rng.integers(0, len(KINDS), rows_per_file)
        ts = T0_US + rng.integers(0, EVENT_DAYS * DAY_US, rows_per_file)
        tomb = rng.random(rows_per_file) < 0.01
        replay = rng.random(rows_per_file) < 0.01
        coupon = rng.random(rows_per_file) < 0.3
        out: list[Record] = []
        for i in range(rows_per_file):
            t = topics[topic_ix[i]]
            p = int(parts[i])
            off = next_off[(t, p)]
            next_off[(t, p)] = off + 1
            value = None
            if not tomb[i]:
                value = {
                    "event_id": event_id,
                    "user_id": int(users[i]),
                    "ts": _iso(ts[i]),
                    "amount": int(amounts[i]),
                    "kind": KINDS[kinds[i]],
                }
                if f >= n_files // 2 and coupon[i]:
                    value["coupon"] = f"C{int(users[i]) % 1000:03d}"
            event_id += 1
            rec = Record(str(users[i]).encode(), value, t, p, off, int(ts[i]))
            out.append(rec)
            if replay[i]:
                out.append(rec)
        files.append(out)
    return files


N_ACCOUNTS = 20_000


def upsert_stream(seed: int, sizes: list[int]) -> list[list[Record]]:
    """Files of the given row counts for ``ingest_upsert_ivm`` and the
    ``serve_queries`` lookup table: Zipf-skewed account keys on one
    partition, so offset order is arrival order, and ~2% tombstones that
    delete the key."""
    rng = np.random.default_rng([seed, 2])
    # Zipf(1.2) ranks folded onto the key space, then permuted so hot
    # keys are spread over the buckets instead of all hashing alike
    perm = rng.permutation(N_ACCOUNTS)
    files: list[list[Record]] = []
    off = 0
    for rows_per_file in sizes:
        ranks = (rng.zipf(1.2, rows_per_file) - 1) % N_ACCOUNTS
        keys = perm[ranks]
        amounts = rng.integers(1, 100_000, rows_per_file)
        items = rng.integers(0, 5_000, rows_per_file)
        regions = rng.integers(0, len(REGIONS), rows_per_file)
        ts = T0_US + rng.integers(0, EVENT_DAYS * DAY_US, rows_per_file)
        tomb = rng.random(rows_per_file) < 0.02
        out = []
        for i in range(rows_per_file):
            k = int(keys[i])
            value = None
            if not tomb[i]:
                value = {
                    "account_id": k,
                    "txn_id": off,
                    "region": REGIONS[regions[i]],
                    "amount": int(amounts[i]),
                    "item": int(items[i]),
                    "ts": _iso(ts[i]),
                }
            out.append(Record(f"acct-{k:06d}".encode(), value, UPSERT_TOPIC, 0, off, int(ts[i])))
            off += 1
        files.append(out)
    return files


def write_kafka_file(records: list[Record], path: str) -> None:
    """One parquet file in the Kafka column contract (one trigger's input)."""
    table = pa.table(
        {
            "key": [r.key for r in records],
            "value": [None if r.value is None else json.dumps(r.value).encode() for r in records],
            "topic": [r.topic for r in records],
            "partition": pa.array([r.partition for r in records], pa.int32()),
            "offset": pa.array([r.offset for r in records], pa.int64()),
            "timestamp": pa.array([r.ts_us for r in records], pa.timestamp("us", tz="UTC")),
        },
        schema=KAFKA_ARROW,
    )
    pq.write_table(table, path)


MERGE_ARROW = pa.schema(
    [
        ("ukey", pa.string()),
        ("account_id", pa.int64()),
        ("txn_id", pa.int64()),
        ("region", pa.string()),
        ("amount", pa.int64()),
        ("item", pa.int64()),
        ("ts", pa.timestamp("us", tz="UTC")),
        ("i", pa.int64()),
        ("__tombstone", pa.bool_()),
    ]
)


def write_merge_batch(records: list[Record], path: str) -> None:
    """Upsert records in the shape ``Warehouse.merge`` takes (the one
    ``SinkPipeline.merge_batch`` hands it): key, value fields, the offset
    as order column ``i`` and a tombstone flag."""
    cols: dict[str, list] = {f.name: [] for f in MERGE_ARROW}
    for r in records:
        v = r.value or {}
        cols["ukey"].append(r.key.decode())
        for c in ("account_id", "txn_id", "region", "amount", "item"):
            cols[c].append(v.get(c))
        cols["ts"].append(r.ts_us if r.value is not None else None)
        cols["i"].append(r.offset)
        cols["__tombstone"].append(r.value is None)
    pq.write_table(pa.table(cols, schema=MERGE_ARROW), path)


# -- references ----------------------------------------------------------


def expected_append(files: list[list[Record]]) -> dict[str, dict]:
    """Per destination table after tombstone filtering and offset dedup:
    row count, amount sum, non-null coupons and distinct event days."""
    out = {t: {"rows": 0, "amount": 0, "coupons": 0, "days": set()} for t in APPEND_TOPICS.values()}
    seen = set()
    for recs in files:
        for r in recs:
            ident = (r.topic, r.partition, r.offset)
            if ident in seen or r.value is None:
                continue
            seen.add(ident)
            e = out[APPEND_TOPICS[r.topic]]
            e["rows"] += 1
            e["amount"] += r.value["amount"]
            e["coupons"] += "coupon" in r.value
            e["days"].add(r.value["ts"][:10])
    return {t: {**e, "days": len(e["days"])} for t, e in out.items()}


def expected_upsert(files: list[list[Record]]) -> dict[str, dict]:
    """Final upsert state: newest value per key by offset; a tombstone
    deletes the key."""
    state: dict[str, dict] = {}
    for recs in files:
        for r in sorted(recs, key=lambda r: r.offset):
            k = r.key.decode()
            if r.value is None:
                state.pop(k, None)
            else:
                state[k] = r.value
    return state


def expected_rollup(state: dict[str, dict]) -> dict[str, tuple[int, int]]:
    """(row count, amount sum) per region over the upsert state."""
    out: dict[str, tuple[int, int]] = {}
    for v in state.values():
        n, s = out.get(v["region"], (0, 0))
        out[v["region"]] = (n + 1, s + v["amount"])
    return out


def exact_distinct(state: dict[str, dict], col: str, group: str) -> dict[str, int]:
    """Exact per-group distinct count, the truth an HLL estimate is held to."""
    sets: dict[str, set] = {}
    for v in state.values():
        sets.setdefault(v[group], set()).add(v[col])
    return {g: len(s) for g, s in sets.items()}

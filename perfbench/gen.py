"""Seeded input generators. ``--seed`` is their only source of
randomness: one seed gives byte-identical files, another seed gives
different ones. Everything here is numpy + pyarrow; no Spark.
"""

from __future__ import annotations

import os
from dataclasses import asdict, dataclass
from datetime import datetime, timedelta, timezone

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

T0 = datetime(2024, 1, 1, tzinfo=timezone.utc)
EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]
EVENT_TYPE_P = [0.45, 0.30, 0.12, 0.08, 0.05]

EVENTS_ARROW = pa.schema([
    ("event_id", pa.int64()),
    ("ts", pa.timestamp("us", tz="UTC")),
    ("user_id", pa.int64()),
    ("event_type", pa.string()),
    ("value", pa.float64()),
    ("props", pa.string()),
])


def zipf_ranks(rng: np.random.Generator, n_items: int, size: int, s: float) -> np.ndarray:
    """``size`` draws from 0..n_items-1 with P(k) proportional to 1/(k+1)^s."""
    w = 1.0 / np.arange(1, n_items + 1) ** s
    return rng.choice(n_items, size=size, p=w / w.sum())


def write_parquet(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="snappy")


def _micros(dt: datetime) -> int:
    return int((dt - datetime(1970, 1, 1, tzinfo=timezone.utc)) / timedelta(microseconds=1))


# ---------------------------------------------------------------------------
# stream_live: event files
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class EventSpec:
    backlog_files: int
    backlog_events_per_file: int
    live_files: int
    live_events_per_file: int
    files_per_s: float
    n_users: int = 5000
    zipf_s: float = 1.1
    dup_share: float = 0.05
    ooo_share: float = 0.10
    invalid_share: float = 0.02
    #: event time advanced per fresh event, in ms
    event_step_ms: int = 20
    #: watermark delay used by both queries, in event-time seconds
    watermark_s: int = 120

    def record(self) -> dict:
        return asdict(self)


def event_files(spec: EventSpec, seed: int) -> list[pa.Table]:
    """Backlog files first, then live files, in schedule order.

    Each file holds fresh events plus exact copies of recent events
    (``dup_share``); ``ooo_share`` of fresh events are moved back in
    event time by up to half the watermark delay; ``invalid_share``
    carry a negative value, which the range rule rejects.
    """
    rng = np.random.default_rng([seed, 1])
    sizes = [spec.backlog_events_per_file] * spec.backlog_files + [
        spec.live_events_per_file] * spec.live_files
    total = sum(sizes)
    ids = np.arange(total, dtype=np.int64)
    base_us = _micros(T0) + ids * spec.event_step_ms * 1000
    ooo = rng.random(total) < spec.ooo_share
    shift = rng.integers(1, spec.watermark_s * 1_000_000 // 2, size=total)
    ts = np.where(ooo, base_us - shift, base_us)
    users = zipf_ranks(rng, spec.n_users, total, spec.zipf_s).astype(np.int64)
    etype = rng.choice(len(EVENT_TYPES), size=total, p=EVENT_TYPE_P)
    value = np.round(rng.uniform(0.5, 500.0, size=total), 2)
    invalid = rng.random(total) < spec.invalid_share
    value = np.where(invalid, -value, value)
    kprop = rng.integers(0, 100, size=total)

    tables = []
    lo = 0
    for n in sizes:
        hi = lo + n
        n_dup = int(round(n * spec.dup_share))
        # copies of events from the last ~200 fresh ones, so the original
        # is still inside the dedup state when the copy arrives
        dup_src = hi - 1 - rng.integers(0, min(200, hi), size=n_dup)
        rows = np.concatenate([np.arange(lo, hi), dup_src])
        rows = rows[rng.permutation(len(rows))]
        tables.append(pa.table({
            "event_id": ids[rows],
            "ts": pa.array(ts[rows], type=pa.int64()).cast(pa.timestamp("us", tz="UTC")),
            "user_id": users[rows],
            "event_type": pa.array([EVENT_TYPES[i] for i in etype[rows]], pa.string()),
            "value": value[rows],
            "props": pa.array([f'{{"k": {k}}}' for k in kprop[rows]], pa.string()),
        }, schema=EVENTS_ARROW))
        lo = hi
    return tables


# ---------------------------------------------------------------------------
# elt_cdc: current state + changelog files
# ---------------------------------------------------------------------------

STATUSES = ["O", "F", "P"]
OPS = ["insert", "update", "delete"]


@dataclass(frozen=True)
class CdcSpec:
    state_rows: int
    change_rows: int
    files: int
    insert_share: float = 0.2
    delete_share: float = 0.1
    zipf_s: float = 1.1
    n_customers: int = 2000

    def record(self) -> dict:
        return asdict(self)


def cdc_state(spec: CdcSpec, seed: int) -> pa.Table:
    rng = np.random.default_rng([seed, 2])
    n = spec.state_rows
    return pa.table({
        "order_id": np.arange(n, dtype=np.int64),
        "customer_id": zipf_ranks(rng, spec.n_customers, n, spec.zipf_s).astype(np.int64),
        "status": pa.array([STATUSES[i] for i in rng.integers(0, 3, size=n)], pa.string()),
        "amount": np.round(rng.uniform(10.0, 5000.0, size=n), 2),
    })


def cdc_changes(spec: CdcSpec, seed: int, first: int = 0, count: int | None = None) -> list[pa.Table]:
    """Changelog files ``first .. first+count-1``. Update and delete keys
    are Zipf-skewed over the original keys (a fixed seeded permutation
    maps rank to key); inserts take fresh keys. ``change_ts`` and
    ``seq`` rise strictly across all files."""
    count = spec.files - first if count is None else count
    rng = np.random.default_rng([seed, 3])
    perm = rng.permutation(spec.state_rows).astype(np.int64)
    out = []
    for k in range(first, first + count):
        frng = np.random.default_rng([seed, 4, k])
        m = spec.change_rows
        u = frng.random(m)
        op = np.where(u < spec.insert_share, 0,
                      np.where(u < spec.insert_share + spec.delete_share, 2, 1))
        hot = perm[zipf_ranks(frng, spec.state_rows, m, spec.zipf_s)]
        fresh = spec.state_rows + k * m + np.arange(m, dtype=np.int64)
        key = np.where(op == 0, fresh, hot)
        seq = k * m + np.arange(m, dtype=np.int64)
        ts_us = _micros(T0 + timedelta(days=1)) + seq * 1000
        order = frng.permutation(m)
        out.append(pa.table({
            "op": pa.array([OPS[i] for i in op[order]], pa.string()),
            "order_id": key[order],
            "customer_id": zipf_ranks(frng, spec.n_customers, m, spec.zipf_s).astype(np.int64),
            "status": pa.array([STATUSES[i] for i in frng.integers(0, 3, size=m)], pa.string()),
            "amount": np.round(frng.uniform(10.0, 5000.0, size=m), 2),
            "change_ts": pa.array(ts_us[order], pa.int64()).cast(pa.timestamp("us", tz="UTC")),
            "seq": seq[order],
        }))
    return out


def fold_changes(state: "pd.DataFrame", changes: list["pd.DataFrame"]) -> "pd.DataFrame":
    """Last-writer-wins fold, one file at a time: per key the row with the
    highest (change_ts, seq) wins; a winning delete removes the key."""
    import pandas as pd

    cur = state.set_index("order_id")
    for ch in changes:
        last = ch.sort_values(["change_ts", "seq"]).drop_duplicates("order_id", keep="last")
        cur = cur.drop(index=last["order_id"], errors="ignore")
        up = last[last["op"] != "delete"].set_index("order_id")[cur.columns]
        cur = pd.concat([cur, up])
    return cur.reset_index().sort_values("order_id", ignore_index=True)


# ---------------------------------------------------------------------------
# query_mix: star schema + events, TESTDATA column layout
# ---------------------------------------------------------------------------

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["red", "small", "hot", "old", "cold", "big", "blue", "new"]
PART_NOUN = ["plate", "widget", "ring", "rod", "bolt", "gear", "pipe", "valve"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]


@dataclass(frozen=True)
class StarSpec:
    customers: int
    suppliers: int
    parts: int
    orders: int
    lines_per_order: float
    events: int
    event_users: int
    zipf_s: float = 1.1

    def record(self) -> dict:
        return asdict(self)


def _ts_days(base: datetime, days: np.ndarray) -> pa.Array:
    us = _micros(base.replace(tzinfo=timezone.utc)) + days.astype(np.int64) * 86_400_000_000
    return pa.array(us, pa.int64()).cast(pa.timestamp("us"))


def star_tables(spec: StarSpec, seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng([seed, 5])
    c, s, p, o = spec.customers, spec.suppliers, spec.parts, spec.orders
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(REGIONS, pa.string()),
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    t["customer"] = pa.table({
        "c_custkey": np.arange(c, dtype=np.int64),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(c)], pa.string()),
        "c_nationkey": pa.array(rng.integers(0, 25, size=c), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, size=c), 2),
        "c_mktsegment": pa.array([SEGMENTS[i] for i in rng.integers(0, 5, size=c)], pa.string()),
    })
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(s, dtype=np.int64),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(s)], pa.string()),
        "s_nationkey": pa.array(rng.integers(0, 25, size=s), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, size=s), 2),
    })
    t["part"] = pa.table({
        "p_partkey": np.arange(p, dtype=np.int64),
        "p_name": pa.array([f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in
                            zip(rng.integers(0, 8, size=p), rng.integers(0, 8, size=p))], pa.string()),
        "p_brand": pa.array([f"Brand#{i}" for i in rng.integers(1, 26, size=p)], pa.string()),
        "p_type": pa.array([PART_TYPES[i] for i in rng.integers(0, 6, size=p)], pa.string()),
        "p_size": pa.array(rng.integers(1, 51, size=p), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(p) % 1000) * 0.1, 2),
    })
    odays = rng.integers(0, 2400, size=o)
    t["orders"] = pa.table({
        "o_orderkey": np.arange(o, dtype=np.int64),
        "o_custkey": zipf_ranks(rng, c, o, spec.zipf_s).astype(np.int64),
        "o_orderstatus": pa.array([("F", "O", "P")[i] for i in rng.integers(0, 3, size=o)], pa.string()),
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, size=o), 2),
        "o_orderdate": _ts_days(datetime(1995, 1, 1), odays),
        "o_orderpriority": pa.array([PRIORITIES[i] for i in rng.integers(0, 5, size=o)], pa.string()),
    })
    n_lines = rng.poisson(spec.lines_per_order - 1, size=o) + 1
    n_lines = np.minimum(n_lines, 7)
    lk = np.repeat(np.arange(o, dtype=np.int64), n_lines)
    lnum = np.concatenate([np.arange(1, k + 1) for k in n_lines]).astype(np.int32)
    m = len(lk)
    qty = rng.integers(1, 51, size=m).astype(np.float64)
    partkey = zipf_ranks(rng, p, m, spec.zipf_s).astype(np.int64)
    t["lineitem"] = pa.table({
        "l_orderkey": lk,
        "l_partkey": partkey,
        "l_suppkey": rng.integers(0, s, size=m).astype(np.int64),
        "l_linenumber": lnum,
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * (900.0 + (partkey % 1000) * 0.1 + rng.uniform(0, 1200, size=m)), 2),
        "l_discount": np.round(rng.integers(0, 11, size=m) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, size=m) / 100.0, 2),
        "l_returnflag": pa.array([("A", "N", "R")[i] for i in rng.integers(0, 3, size=m)], pa.string()),
        "l_linestatus": pa.array([("F", "O")[i] for i in rng.integers(0, 2, size=m)], pa.string()),
        "l_shipdate": _ts_days(datetime(1995, 1, 2), odays[lk] + rng.integers(0, 100, size=m)),
    })
    e = spec.events
    eus = _micros(T0) + np.sort(rng.integers(0, 30 * 86_400_000_000, size=e))
    t["events"] = pa.table({
        "event_id": np.arange(e, dtype=np.int64),
        "ts": pa.array(eus, pa.int64()).cast(pa.timestamp("us")),
        "user_id": zipf_ranks(rng, spec.event_users, e, spec.zipf_s).astype(np.int64),
        "event_type": pa.array([EVENT_TYPES[i] for i in rng.integers(0, 5, size=e)], pa.string()),
        "value": np.round(rng.uniform(0.01, 490.0, size=e), 2),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, size=e)], pa.string()),
    })
    return t


# ---------------------------------------------------------------------------
# corpus_curation: documents + embeddings
# ---------------------------------------------------------------------------

VOCAB = ("the a data spark query table join window stream batch filter sort merge "
         "hash scan order customer part line value key row column group agg vector "
         "fast slow big small").split()
LANGS = ["en", "de", "fr", "es", "zh"]


@dataclass(frozen=True)
class CorpusSpec:
    docs: int
    exact_copies: int
    near_every: int
    vec_every: int
    dim: int = 64
    min_words: int = 20
    max_words: int = 120
    sources: int = 20

    def record(self) -> dict:
        return asdict(self)


def corpus_tables(spec: CorpusSpec, seed: int) -> dict[str, pa.Table]:
    """Documents (with ``exact_copies`` planted verbatim copies under new
    ids) and one embedding per original document."""
    rng = np.random.default_rng([seed, 6])
    n = spec.docs
    lens = rng.integers(spec.min_words, spec.max_words + 1, size=n)
    words = rng.integers(0, len(VOCAB), size=int(lens.sum()))
    texts, at = [], 0
    for k in lens:
        texts.append(" ".join(VOCAB[w] for w in words[at:at + k]))
        at += k
    src = rng.choice(n, size=spec.exact_copies, replace=False)
    ids = np.concatenate([np.arange(n), n + np.arange(spec.exact_copies)]).astype(np.int64)
    all_texts = texts + [texts[i] for i in src]
    docs = pa.table({
        "doc_id": ids,
        "text": pa.array(all_texts, pa.string()),
        "lang": pa.array([LANGS[i] for i in rng.integers(0, 5, size=len(ids))], pa.string()),
        "source": pa.array([f"src{i % spec.sources}" for i in range(len(ids))], pa.string()),
        "n_chars": np.array([len(x) for x in all_texts], dtype=np.int64),
    })
    vec = rng.standard_normal((n, spec.dim)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    emb = pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, size=n), pa.int32()),
    })
    return {"documents": docs, "embeddings": emb, "exact_src": pa.table({
        "src": src.astype(np.int64), "copy": (n + np.arange(spec.exact_copies)).astype(np.int64)})}


def write_tables(tables: dict[str, pa.Table], directory: str) -> None:
    os.makedirs(directory, exist_ok=True)
    for name, table in tables.items():
        write_parquet(table, os.path.join(directory, f"{name}.parquet"))

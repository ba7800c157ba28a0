"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its seed (and, for per-op inputs,
of the op index), so two commits measured with the same seed do the same
work, K-Means iteration counts included. The program under test only ever
sees the files these functions write.
"""

from __future__ import annotations

import json
import os
from datetime import datetime, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# --- gbfs_ticks -----------------------------------------------------------

N_STATIONS = 1500  # Vélib' station_status rows per snapshot
N_STATUS_ONLY = 30  # status rows whose id is missing from station_information
N_INFO_ONLY = 30  # station_information rows with no status row
N_BIKES = 8000  # Lime free_bike_status rows per snapshot
WINDOW = 6  # snapshots per feed kept in the raw zone
CADENCE_S = 900  # 15 minutes between snapshots: the window spans 90 minutes
EPOCH0 = 1_700_000_100  # first snapshot instant (2023-11-14T22:15:00Z)
N_HOTSPOTS = 24  # Lime bikes gather around this many points

JOINED_PER_SNAPSHOT = (N_STATIONS - N_STATUS_ONLY) + N_BIKES


def snapshot_epoch(tick: int) -> int:
    return EPOCH0 + CADENCE_S * tick


def snapshot_time(tick: int) -> datetime:
    """Naive UTC instant of snapshot ``tick`` (the engine's session is UTC)."""
    return datetime(1970, 1, 1) + timedelta(seconds=snapshot_epoch(tick))


def _rng(seed: int, *stream: int) -> np.random.Generator:
    return np.random.default_rng([seed, *stream])


def _station_ids() -> list[str]:
    shared = [f"st{i:05d}" for i in range(N_STATIONS - N_STATUS_ONLY)]
    return shared + [f"so{i:05d}" for i in range(N_STATUS_ONLY)]


def station_information(seed: int) -> dict:
    """The fixed station_information snapshot: shared ids plus info-only ids."""
    rng = _rng(seed, 0)
    ids = [f"st{i:05d}" for i in range(N_STATIONS - N_STATUS_ONLY)]
    ids += [f"io{i:05d}" for i in range(N_INFO_ONLY)]
    lat = 48.80 + rng.random(len(ids)) * 0.11
    lon = 2.25 + rng.random(len(ids)) * 0.17
    cap = rng.integers(10, 71, len(ids))
    methods = (["CREDITCARD", "KEY"], ["KEY", "PHONE"], ["CREDITCARD", "PHONE"])
    stations = [
        {
            "station_id": sid,
            "stationCode": str(10000 + i),
            "name": f"Station {i}",
            "lat": float(lat[i]),
            "lon": float(lon[i]),
            "capacity": int(cap[i]),
            "rental_methods": methods[i % 3],
        }
        for i, sid in enumerate(ids)
    ]
    return {"lastUpdatedOther": snapshot_epoch(0), "data": {"stations": stations}}


def station_status(seed: int, tick: int) -> dict:
    """One station_status snapshot; every 50th station reports nulls."""
    rng = _rng(seed, 1, tick)
    epoch = snapshot_epoch(tick)
    bikes = rng.integers(0, 61, N_STATIONS)
    docks = rng.integers(0, 61, N_STATIONS)
    flags = rng.integers(0, 2, (N_STATIONS, 3))
    lag = rng.integers(0, 600, N_STATIONS)
    stations = []
    for i, sid in enumerate(_station_ids()):
        null = i % 50 == 49
        stations.append(
            {
                "station_id": sid,
                "stationCode": str(10000 + i),
                "num_bikes_available": int(bikes[i]),
                "num_docks_available": int(docks[i]),
                "is_installed": None if null else int(flags[i, 0]),
                "is_returning": int(flags[i, 1]),
                "is_renting": int(flags[i, 2]),
                "last_reported": None if null else int(epoch - lag[i]),
            }
        )
    return {"lastUpdatedOther": epoch, "data": {"stations": stations}}


def lime_bikes(seed: int, tick: int) -> dict:
    """One free_bike_status snapshot: bikes scattered around seeded hotspots."""
    centres = _rng(seed, 2).random((N_HOTSPOTS, 2)) * [0.11, 0.17] + [48.80, 2.25]
    rng = _rng(seed, 3, tick)
    epoch = snapshot_epoch(tick)
    spot = rng.integers(0, N_HOTSPOTS, N_BIKES)
    pos = centres[spot] + rng.normal(0.0, 0.004, (N_BIKES, 2))
    reserved = rng.integers(0, 2, N_BIKES)
    disabled = rng.random(N_BIKES) < 0.05
    rng_m = rng.integers(0, 60001, N_BIKES)
    vtype = rng.integers(0, 2, N_BIKES)
    lag = rng.integers(0, 600, N_BIKES)
    bikes = [
        {
            "bike_id": f"bk{i:06d}",
            "lat": float(pos[i, 0]),
            "lon": float(pos[i, 1]),
            "is_reserved": "true" if reserved[i] else "false",
            "is_disabled": "true" if disabled[i] else "false",
            "current_range_meters": int(rng_m[i]),
            "vehicle_type_id": f"vt{1 + vtype[i]}",
            "vehicle_type": ("bike", "scooter")[vtype[i]],
            "last_reported": int(epoch - lag[i]),
        }
        for i in range(N_BIKES)
    ]
    return {"last_updated": epoch, "data": {"bikes": bikes}}


def write_json(path: str, snapshot: dict) -> int:
    """Land a snapshot as one JSON line (the raw-zone format); returns bytes."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    data = json.dumps(snapshot, separators=(",", ":")).encode()
    with open(path, "wb") as f:
        f.write(data)
    return len(data)


# --- lake_queries ---------------------------------------------------------

LAKE_ROWS = {
    "region": 5,
    "nation": 25,
    "customer": 15_000,
    "supplier": 1_000,
    "orders": 150_000,
    "lineitem": 600_000,
    "events": 100_000,
}
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]
_DAY_US = 86_400_000_000


def _days_us(rng: np.random.Generator, start: str, n_days: int, n: int) -> np.ndarray:
    base = np.datetime64(start, "us").astype(np.int64)
    return base + rng.integers(0, n_days, n) * _DAY_US


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("datetime64[us]"), pa.timestamp("us"))


def _pick(rng: np.random.Generator, values: list[str], n: int) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), n)])


def lake_tables(seed: int) -> dict[str, pa.Table]:
    """A TPC-H-shaped star schema plus an ``events`` stream that reproduces
    the sf0.1 test data of TESTDATA.md (which is not part of the
    repository): the same tables, columns, types and row counts; keys
    drawn uniformly and stored unordered (``l_orderkey`` too); ``NATION_i``
    names with ``n_regionkey = i % 5``; ``l_shipdate`` drawn independently
    of ``o_orderdate``; microsecond timestamps; one row group per file."""
    rng = _rng(seed, 10)
    n = LAKE_ROWS
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": _REGIONS}
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    nc = n["customer"]
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(nc), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(nc)],
            "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
            "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, nc), 2),
            "c_mktsegment": _pick(rng, _SEGMENTS, nc),
        }
    )
    ns = n["supplier"]
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(ns), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
            "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
            "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, ns), 2),
        }
    )
    no = n["orders"]
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(no), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
            "o_orderstatus": _pick(rng, ["O", "F", "P"], no),
            "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, no), 2),
            "o_orderdate": _ts(_days_us(rng, "1995-01-01", 2400, no)),
            "o_orderpriority": _pick(rng, _PRIORITIES, no),
        }
    )
    nl = n["lineitem"]
    qty = rng.integers(1, 51, nl).astype(np.float64)
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, no, nl), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, 20_000, nl), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, nl), 2),
            "l_discount": rng.integers(0, 11, nl) / 100.0,
            "l_tax": rng.integers(0, 9, nl) / 100.0,
            "l_returnflag": _pick(rng, ["A", "N", "R"], nl),
            "l_linestatus": _pick(rng, ["F", "O"], nl),
            "l_shipdate": _ts(_days_us(rng, "1995-01-02", 2500, nl)),
        }
    )
    ne = n["events"]
    start = np.datetime64("2024-01-01", "us").astype(np.int64)
    ts = np.sort(start + rng.integers(0, 30 * _DAY_US, ne))
    t["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(ne), pa.int64()),
            "ts": _ts(ts),
            "user_id": pa.array(rng.integers(0, 1500, ne), pa.int64()),
            "event_type": _pick(rng, _EVENT_TYPES, ne),
            "value": np.round(rng.exponential(50.0, ne), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
        }
    )
    return t


def write_lake_tables(tables: dict[str, pa.Table], sf_dir: str) -> None:
    """Land the tables as ``<sf_dir>/<name>.parquet`` (the repository's test-data layout)."""
    os.makedirs(sf_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(sf_dir, f"{name}.parquet"))


# --- corpus_batches -------------------------------------------------------

# The sf0.1 ``documents`` table: 10 to 100 words drawn uniformly from this
# vocabulary, 40% "en" and 15% each of four other languages, 20 sources.
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line merge "
    "order part query row scan slow small sort spark stream table the value vector window"
).split()
LANGS = ("en", "es", "zh", "de", "fr")
LANG_P = (0.40, 0.15, 0.15, 0.15, 0.15)
N_SOURCES = 20
BATCH_DOCS = 2000  # documents per batch
EXACT_SHARE = 0.05  # copies of another document of the batch
NEAR_SHARE = 0.05  # another document of the batch with one word replaced


def corpus_batch(seed: int, batch: int) -> pa.Table:
    """One batch of documents with fresh ids, in seeded order. A share of
    them are exact copies and one-word edits of other documents."""
    rng = _rng(seed, 20, batch)
    n_exact = round(BATCH_DOCS * EXACT_SHARE)
    n_near = round(BATCH_DOCS * NEAR_SHARE)
    n_base = BATCH_DOCS - n_exact - n_near
    words = [rng.integers(0, len(VOCAB), k) for k in rng.integers(10, 101, n_base)]
    for src in rng.integers(0, n_base, n_exact):
        words.append(words[src])
    for src in rng.integers(0, n_base, n_near):
        edited = words[src].copy()
        at = rng.integers(0, len(edited))
        edited[at] = (edited[at] + rng.integers(1, len(VOCAB))) % len(VOCAB)
        words.append(edited)
    texts = [" ".join(VOCAB[w] for w in ws) for ws in words]
    order = rng.permutation(BATCH_DOCS)
    texts = [texts[i] for i in order]
    return pa.table(
        {
            "doc_id": pa.array(batch * BATCH_DOCS + np.arange(BATCH_DOCS), pa.int64()),
            "text": texts,
            "lang": pa.array(np.asarray(LANGS, dtype=object)[rng.choice(5, BATCH_DOCS, p=LANG_P)]),
            "source": [f"src{i % N_SOURCES}" for i in range(BATCH_DOCS)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )

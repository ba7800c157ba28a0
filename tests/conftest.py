"""Shared pytest fixtures: local SparkSession + synthetic GBFS snapshots.

Fixture shapes follow FIXTURES.md §1 (derived from the reference transforms);
deterministic (seeded) so golden assertions are stable.
"""

from __future__ import annotations

import contextlib
import json
import random
import uuid

import pytest

from datalake_public_spark.config import EngineConfig
from datalake_public_spark.session import get_spark

SF_SMOKE = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    cfg = EngineConfig(master="local[4]", shuffle_partitions=8)
    s = get_spark(cfg)
    yield s
    s.stop()


def cache_empty(spark) -> bool:
    """True when the session's cache manager holds no cached plan."""
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


class JobCount:
    """Spark jobs run inside a ``count_jobs`` block (``n`` is set on exit)."""

    n: int = -1


@contextlib.contextmanager
def count_jobs(spark):
    """Count the Spark jobs the block runs: they run under a fresh job
    group, read back from the status tracker; the caller's group and
    description are restored on exit."""
    sc = spark.sparkContext
    props = ("spark.jobGroup.id", "spark.job.description")
    saved = [sc.getLocalProperty(p) for p in props]
    group = f"count-jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    out = JobCount()
    try:
        yield out
    finally:
        for p, v in zip(props, saved):
            sc.setLocalProperty(p, v)
        out.n = len(sc.statusTracker().getJobIdsForGroup(group))


def make_station_status_snapshot(
    *, epoch: int, n_stations: int = 50, seed: int = 7, null_every: int = 25
) -> dict:
    """One SS snapshot per FIXTURES.md §1.1 (nulls exercise the null→False
    and null-timestamp paths)."""
    rng = random.Random(seed)
    stations = []
    for i in range(n_stations):
        st = {
            "station_id": f"st{i:04d}",
            "stationCode": f"{10000 + i}",
            "num_bikes_available": rng.randint(0, 60),
            "num_docks_available": rng.randint(0, 60),
            "is_installed": rng.choice([0, 1]),
            "is_returning": rng.choice([0, 1]),
            "is_renting": rng.choice([0, 1]),
            "last_reported": epoch - rng.randint(0, 600),
        }
        if i % null_every == null_every - 1:
            st["is_installed"] = None
            st["last_reported"] = None
        stations.append(st)
    return {"lastUpdatedOther": epoch, "data": {"stations": stations}}


def make_station_information_snapshot(
    *, epoch: int, n_stations: int = 50, extra_info_only: int = 2, seed: int = 11
) -> dict:
    """SI snapshot sharing the st#### id universe, plus info-only ids to pin
    inner-join semantics (FIXTURES.md §1.2)."""
    rng = random.Random(seed)
    stations = []
    for i in range(n_stations + extra_info_only):
        stations.append(
            {
                "station_id": f"st{i:04d}",
                "stationCode": f"{10000 + i}",
                "name": f"Station {i}",
                "lat": 48.80 + rng.random() * 0.11,
                "lon": 2.25 + rng.random() * 0.17,
                "capacity": rng.randint(10, 70),
                "rental_methods": rng.sample(["CREDITCARD", "KEY", "PHONE"], 2),
            }
        )
    return {"lastUpdatedOther": epoch, "data": {"stations": stations}}


def make_lime_snapshot(*, epoch: int, n_bikes: int = 80, seed: int = 13) -> dict:
    rng = random.Random(seed)
    bikes = []
    for i in range(n_bikes):
        bikes.append(
            {
                "bike_id": f"bike{i:05d}",
                "lat": 48.80 + rng.random() * 0.11,
                "lon": 2.25 + rng.random() * 0.17,
                "is_reserved": rng.choice(["true", "false"]),
                "is_disabled": rng.choice(["true", "false"]),
                "current_range_meters": rng.randint(0, 60000),
                "vehicle_type_id": f"vt{rng.randint(1, 3)}",
                "vehicle_type": rng.choice(["bike", "scooter"]),
                "last_reported": epoch - rng.randint(0, 600),
            }
        )
    return {"last_updated": epoch, "data": {"bikes": bikes}}


def write_snapshot(tmp_path, name: str, snapshot: dict) -> str:
    """Land a snapshot as single-line JSON (the raw-zone format,
    ``velib_data_fetcher.py:57-62``)."""
    p = tmp_path / name
    p.parent.mkdir(parents=True, exist_ok=True)
    p.write_text(json.dumps(snapshot))
    return str(p)


EPOCH = 1_700_000_000  # 2023-11-14T22:13:20Z


@pytest.fixture()
def gbfs_paths(tmp_path):
    """Default trio of raw snapshots landed in a temp raw zone."""
    return {
        "ss": write_snapshot(
            tmp_path, "raw/velib/ss/snap.json", make_station_status_snapshot(epoch=EPOCH)
        ),
        "si": write_snapshot(
            tmp_path, "raw/velib/si/snap.json", make_station_information_snapshot(epoch=EPOCH)
        ),
        "lime": write_snapshot(tmp_path, "raw/lime/bs/snap.json", make_lime_snapshot(epoch=EPOCH)),
    }

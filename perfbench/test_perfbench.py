"""Tests of the benchmark's own helpers (no Spark session needed).

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import datetime
import os
import sys

import pyarrow as pa
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import inputs  # noqa: E402
from spans import Job, Span, Tracer, jobs_per_span, self_times, union_length  # noqa: E402
from summary import halves_drift, percentile, tail_percentile  # noqa: E402


# -- generators ---------------------------------------------------------------


def test_gbfs_snapshots_are_a_pure_function_of_seed_and_tick():
    assert inputs.station_status(3, 7) == inputs.station_status(3, 7)
    assert inputs.lime_bikes(3, 7) == inputs.lime_bikes(3, 7)
    assert inputs.station_information(3) == inputs.station_information(3)
    assert inputs.lime_bikes(3, 7) != inputs.lime_bikes(4, 7)
    assert inputs.lime_bikes(3, 7) != inputs.lime_bikes(3, 8)
    assert inputs.station_status(3, 7) != inputs.station_status(4, 7)


def test_gbfs_snapshot_shape_matches_the_expected_join():
    status = inputs.station_status(1, 0)["data"]["stations"]
    info = inputs.station_information(1)["data"]["stations"]
    bikes = inputs.lime_bikes(1, 0)["data"]["bikes"]
    joined = {s["station_id"] for s in status} & {s["station_id"] for s in info}
    assert len(status) == inputs.N_STATIONS and len(bikes) == inputs.N_BIKES
    assert len(joined) + len(bikes) == inputs.JOINED_PER_SNAPSHOT


def test_window_spans_ninety_minutes():
    span = inputs.snapshot_time(inputs.WINDOW - 1) - inputs.snapshot_time(0)
    assert span <= datetime.timedelta(minutes=90)


def test_lake_tables_are_a_pure_function_of_seed(monkeypatch):
    monkeypatch.setattr(inputs, "LAKE_ROWS", {**inputs.LAKE_ROWS, "lineitem": 2000,
                                              "orders": 500, "events": 700, "customer": 50})
    a, b, c = inputs.lake_tables(5), inputs.lake_tables(5), inputs.lake_tables(6)
    assert all(a[t].equals(b[t]) for t in a)
    assert not a["lineitem"].equals(c["lineitem"])
    assert a["lineitem"].num_rows == 2000


def test_corpus_batches_are_a_pure_function_of_seed_and_batch():
    a, b = inputs.corpus_batch(5, 2), inputs.corpus_batch(5, 2)
    assert a.equals(b)
    assert not a.equals(inputs.corpus_batch(6, 2))
    assert not a.column("text").equals(inputs.corpus_batch(5, 3).column("text"))


def test_corpus_batch_plants_exact_and_one_word_near_duplicates():
    batch = inputs.corpus_batch(1, 4)
    texts = batch.column("text").to_pylist()
    ids = batch.column("doc_id").to_pylist()
    assert len(texts) == inputs.BATCH_DOCS and len(set(ids)) == inputs.BATCH_DOCS
    assert min(ids) == 4 * inputs.BATCH_DOCS  # fresh ids per batch
    n_exact = round(inputs.BATCH_DOCS * inputs.EXACT_SHARE)
    assert len(texts) - len(set(texts)) >= n_exact
    by_len: dict[int, set] = {}
    for t in set(texts):
        by_len.setdefault(len(t.split()), set()).add(tuple(t.split()))
    one_word_edits = sum(
        any(sum(x != y for x, y in zip(w, v)) == 1 for v in group)
        for group in by_len.values()
        for w in group
    )
    assert one_word_edits >= round(inputs.BATCH_DOCS * inputs.NEAR_SHARE)
    assert all(10 <= len(t.split()) <= 100 for t in texts)
    assert batch.column("n_chars").to_pylist() == [len(t) for t in texts]


def test_corpus_check_flags_growth_lost_rows_and_impossible_survivors():
    from corpus_batches import check

    report = {"input": 100, "normalized": 100, "quality_filter": 90, "dedup": 80}
    assert check(report, {"total_rows": 80}, distinct=95) == []
    assert check(report, {"total_rows": 79}, distinct=95)
    assert check(report, {"total_rows": 80}, distinct=70)
    assert check({**report, "dedup": 91}, {"total_rows": 91}, distinct=95)


# -- percentile rule ----------------------------------------------------------


@pytest.mark.parametrize(
    "n, expected", [(10, None), (11, 9), (20, 50), (40, 75), (100, 90), (1000, 99)]
)
def test_tail_percentile_keeps_ten_samples_beyond(n, expected):
    p = tail_percentile(n)
    assert p == expected
    if p is not None:
        values = list(range(n))
        assert sum(v > percentile(values, p) for v in values) >= 10
        assert p == 99 or sum(v > percentile(values, p + 1) for v in values) < 10


def test_halves_drift():
    assert halves_drift([1.0]) == 0.0
    assert halves_drift([2.0, 2.0, 1.0, 1.0]) == pytest.approx(1 / 1.5)


# -- span arithmetic ----------------------------------------------------------


def _tree() -> list[Span]:
    return [
        Span("op", "w:0", "g0", None, 0.0, 10.0),
        Span("a", "w:0", "g1", 0, 1.0, 4.0),
        Span("a1", "w:0", "g2", 1, 2.0, 3.0),
        Span("b", "w:0", "g3", 0, 5.0, 9.0),
    ]


def test_union_length_merges_overlaps_and_clips():
    assert union_length([(1, 3), (2, 5), (7, 8)], 0, 10) == 5
    assert union_length([(1, 3), (2, 5)], 2.5, 4) == 1.5
    assert union_length([], 0, 1) == 0


def test_self_time_subtracts_nested_children():
    spans = _tree()
    assert self_times(spans) == [3.0, 2.0, 1.0, 4.0]
    assert sum(self_times(spans)) == spans[0].end - spans[0].start


def test_jobs_go_to_the_innermost_group_and_roll_up():
    jobs = [Job(i, g, 0.0, 0.0) for i, g in enumerate(["g0", "g1", "g2", "g2", "g3", None])]
    own, inclusive = jobs_per_span(_tree(), jobs)
    assert own == [1, 1, 2, 1]
    assert inclusive == [5, 3, 2, 1]


class FakeContext:
    def __init__(self, props):
        self.props = dict(props)

    def getLocalProperty(self, key):
        return self.props.get(key)

    def setLocalProperty(self, key, value):
        if value is None:
            self.props.pop(key, None)
        else:
            self.props[key] = value


def test_nested_spans_restore_the_callers_group_and_description():
    caller = {"spark.jobGroup.id": "caller", "spark.job.description": "caller job"}
    sc = FakeContext(caller)
    tracer = Tracer(sc)
    seen = []
    with tracer.op("w:7"):
        with tracer.span("outer"):
            with tracer.span("inner"):
                seen.append(sc.getLocalProperty("spark.jobGroup.id"))
            seen.append(sc.getLocalProperty("spark.jobGroup.id"))
    assert seen == [tracer.spans[2].group, tracer.spans[1].group]
    assert sc.props == caller
    assert [s.parent for s in tracer.op_spans("w:7")] == [None, 0, 1]


def test_wrap_traces_calls_and_restore_puts_the_original_back():
    class Owner:
        @staticmethod
        def layer(x):
            return x + 1

    original = Owner.layer
    tracer = Tracer(FakeContext({}))
    tracer.wrap(Owner, "layer", "owner.layer")
    assert Owner.layer(1) == 2 and tracer.spans == []  # no op open: not traced
    with tracer.op("w:1"):
        assert Owner.layer(2) == 3
    assert [s.name for s in tracer.spans] == ["op", "owner.layer"]
    tracer.restore()
    assert Owner.layer is original


# -- oracle comparison --------------------------------------------------------


def test_compare_ignores_row_order_timezone_and_last_float_digits():
    from lake_queries import compare

    ts = datetime.datetime(2024, 1, 1, 12)
    spark_side = pa.table({
        "k": [2, 1],
        "v": [0.30000000000000004, 1.0],
        "t": pa.array([ts, ts], pa.timestamp("us", tz="UTC")),
    })
    oracle = pa.table({"k": [1, 2], "v": [1.0, 0.3], "t": pa.array([ts, ts], pa.timestamp("us"))})
    assert compare(spark_side, oracle) == ""
    assert compare(spark_side, oracle.slice(0, 1)) != ""
    wrong = oracle.set_column(1, "v", pa.array([1.0, 0.31]))
    assert compare(spark_side, wrong) != ""


def test_compare_accepts_a_rounding_flip_and_nothing_wider():
    from lake_queries import compare

    oracle = pa.table({"k": [1], "revenue": [414308.70]})
    for flip in (414308.69, 414308.71):
        assert compare(pa.table({"k": [1], "revenue": [flip]}), oracle) == "", flip
    for wrong in (414308.68, 414308.72, 414308.691, 414308.5):
        assert compare(pa.table({"k": [1], "revenue": [wrong]}), oracle) != "", wrong
    # a one-cent step on a small value is a real difference, not a flip
    assert compare(pa.table({"k": [1], "revenue": [12.34]}), oracle.set_column(
        1, "revenue", pa.array([12.35]))) != ""


# -- composite ops ------------------------------------------------------------


def test_a_composite_op_sums_its_parts_and_keeps_each_latency():
    from ops import OpResult
    from queries_and_curation import combine

    lake = OpResult("lake_queries", 6.0, True, True,
                    {"spark.jobs": 40.0, "driver.peak_rss_mb": 900.0, "lake_queries.build_share": 0.3},
                    parts={"q1_pricing_summary": 0.5})
    corpus = OpResult("corpus_batches", 9.0, True, True,
                      {"spark.jobs": 120.0, "driver.peak_rss_mb": 1200.0})
    op = combine("both", [lake, corpus], traced=True)
    assert op.ok and op.seconds == 15.0
    assert op.parts == {"q1_pricing_summary": 0.5, "lake_queries": 6.0, "corpus_batches": 9.0}
    assert op.metrics == {"spark.jobs": 160.0, "driver.peak_rss_mb": 1200.0,
                          "lake_queries.build_share": 0.3}


def test_a_composite_op_fails_when_a_part_fails():
    from ops import OpResult
    from queries_and_curation import combine

    bad = OpResult("corpus_batches", 0.0, False, False, {}, "shards hold 3 rows, 4 survived")
    op = combine("both", [OpResult("lake_queries", 6.0, True, False), bad], traced=False)
    assert not op.ok and op.error == "shards hold 3 rows, 4 survived"

"""lake_queries: graded read-only entries of the driver registry, the first
part of a queries_and_curation op.

One op is a pass over every entry of ``ENTRIES``, in an order shuffled by the
seed and the pass number; per entry, ``FINAL_REGISTRY[name].spark(spark, sf)``
(plan build, including any jobs fired while building) followed by a
noop-sink materialisation. The op's latency is the sum of the entries'
timed calls. A pass, not a single entry, is the op because the entries take
0.3 to 1.5 s each: the median of single-entry latencies falls between the
fourth and fifth fastest entry, where there is a gap, and jumped by a third
from run to run. Each entry's own median is a per-layer metric.

The output row count of every call is observed inside the same job and
checked against the DuckDB oracle's count. The first pass of a run collects
each entry's full result instead of discarding it and compares it with the
entry's DuckDB oracle (``QuerySpec.oracle``); that pass is warm-up, so the
comparison costs no measured time.
"""

from __future__ import annotations

import contextlib
import os
import random
import time

import inputs
import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from ops import OpResult, job_watermark, merge_metrics, traced_metrics

from datalake_public_spark.driver_registry import FINAL_REGISTRY

ENTRIES = (
    "q1_pricing_summary",
    "q3_top_orders",
    "q5_regional_revenue",
    "q6_revenue_forecast",
    "q7_nation_volume",
    "window_suite",
    "sessionize",
    "asof_join",
)
BUILD, EXECUTION = "driver_registry.build", "execution"


def _canonical(table):
    """Columns in name order, timestamps as int64 microseconds, rows sorted
    by every column (floats last, so a last-digit difference cannot reorder
    rows that other columns already tell apart)."""
    arrays = {}
    for c in sorted(table.column_names):
        a = table.column(c).combine_chunks()
        if pa.types.is_timestamp(a.type):
            a = a.cast(pa.timestamp("us")).cast(pa.int64())
        arrays[c] = a
    t = pa.table(arrays)
    floats = [c for c in t.column_names if pa.types.is_floating(t.column(c).type)]
    keys = [c for c in t.column_names if c not in floats] + floats
    return t.sort_by([(k, "ascending") for k in keys]), set(floats)


def rounding_flips(x: np.ndarray, y: np.ndarray) -> np.ndarray:
    """Where ``x`` and ``y`` are neighbours on a decimal grid both lie on,
    one step apart, and the step is at most 1e-6 of the value: what
    ``round(v, d)`` gives when two engines' float sums of ``v`` land on
    either side of a half-step boundary (a sum of 414308.695 in decimal
    reads 414308.69499999995 in one summation order and rounds to .69 in
    one engine and .70 in the other)."""
    step = np.abs(x - y)
    scale = np.maximum(np.abs(x), np.abs(y))
    with np.errstate(divide="ignore", invalid="ignore"):
        grid = 10.0 ** np.round(np.log10(step))
        on_grid = (np.abs(x / grid - np.round(x / grid)) < 1e-6) & (
            np.abs(y / grid - np.round(y / grid)) < 1e-6
        )
        return (step > 0) & (step <= 1e-6 * scale) & (np.abs(step - grid) <= 1e-9 * scale) & on_grid


def compare(spark_tbl, oracle_tbl) -> str:
    """Empty when both Arrow tables hold the same multiset of rows; floats
    agree to a relative 1e-9, or differ by a rounding flip."""
    if sorted(spark_tbl.column_names) != sorted(oracle_tbl.column_names):
        return f"columns {spark_tbl.column_names} != oracle {oracle_tbl.column_names}"
    if spark_tbl.num_rows != oracle_tbl.num_rows:
        return f"rows {spark_tbl.num_rows} != oracle {oracle_tbl.num_rows}"
    s, floats = _canonical(spark_tbl)
    o, _ = _canonical(oracle_tbl)
    for c in s.column_names:
        if c in floats:
            x = pc.fill_null(s.column(c), np.nan).to_numpy()
            y = pc.fill_null(o.column(c), np.nan).to_numpy().astype(float)
            close = np.isclose(x, y, rtol=1e-9, atol=1e-9, equal_nan=True)
            same = bool(np.all(close | rounding_flips(x, y)))
        else:
            same = s.column(c).to_pylist() == o.column(c).to_pylist()
        if not same:
            return f"column {c} differs from the oracle"
    return ""


class LakeQueries:
    name = "lake_queries"
    warmup_ops = 1

    def __init__(self, seed: int, config) -> None:
        self.seed = seed
        self.sf = os.path.join(config.lake_root, "sf")
        self.tables = None
        self.oracle: dict[str, pa.Table] = {}
        self.next_pass = 0
        self.next_op = 0

    def land(self) -> None:
        self.tables = inputs.lake_tables(self.seed)
        inputs.write_lake_tables(self.tables, self.sf)

    def oracles(self) -> dict:
        """Each entry's DuckDB oracle result over the landed tables."""
        import duckdb

        con = duckdb.connect()
        try:
            con.execute("SET threads TO 2")
            for t in self.tables:
                con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.sf}/{t}.parquet')"
                )
            return {n: con.execute(FINAL_REGISTRY[n].oracle).fetch_arrow_table() for n in ENTRIES}
        finally:
            con.close()

    def _call(self, spark, name: str, tracer, collect: bool) -> OpResult:
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        op_id = self.next_op
        label = f"{self.name}:{op_id}"  # unique among the run's traced ops
        self.next_op += 1
        spec = FINAL_REGISTRY[name]
        obs = Observation(f"rows_{op_id}")
        first_job = job_watermark(spark)
        scope = tracer.op(label) if tracer is not None else contextlib.nullcontext()
        span = tracer.span if tracer is not None else (lambda _name: contextlib.nullcontext())
        try:
            t0 = time.perf_counter()
            with scope:
                with span(BUILD):
                    df = spec.spark(spark, self.sf)
                with span(EXECUTION):
                    if collect:
                        table = df.toArrow()
                    else:
                        df.observe(obs, F.count(F.lit(1)).alias("rows")).write.format(
                            "noop"
                        ).mode("overwrite").save()
            seconds = time.perf_counter() - t0
            if collect:
                error = compare(table, self.oracle[name])
            else:
                rows, want = obs.get["rows"], self.oracle[name].num_rows
                error = f"{rows} rows, oracle has {want}" if rows != want else ""
        except Exception as exc:  # a failed op is counted, not fatal
            return OpResult(name, 0.0, False, tracer is not None, {}, repr(exc))
        error = f"{name}: {error}" if error else ""
        metrics = traced_metrics(spark, tracer, label, first_job) if tracer is not None else {}
        return OpResult(name, seconds, not error, tracer is not None, metrics, error)

    def op(self, spark, tracer=None) -> OpResult:
        """One pass: every entry once, in a seeded order. The first pass
        checks every result against its oracle."""
        collect = not self.oracle
        if collect:
            self.oracle = self.oracles()
        order = list(ENTRIES)
        random.Random(f"{self.seed}:{self.next_pass}").shuffle(order)
        self.next_pass += 1
        calls = [self._call(spark, name, tracer, collect) for name in order]
        ok = all(c.ok for c in calls)
        metrics: dict[str, float] = {}
        if tracer is not None and ok:
            metrics = merge_metrics([c.metrics for c in calls])
            build, execution = metrics[f"{BUILD}.s"], metrics[f"{EXECUTION}.s"]
            metrics["lake_queries.build_share"] = build / (build + execution)
        return OpResult(
            self.name,
            sum(c.seconds for c in calls),
            ok,
            tracer is not None,
            metrics,
            "; ".join(c.error for c in calls if c.error),
            {c.name: c.seconds for c in calls},
        )

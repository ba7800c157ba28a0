"""Custom stateful streaming operator: per-key sessionization via
``applyInPandasWithState``.

``session_window_agg`` covers gap sessions declaratively; this operator
is the template for session logic Spark's built-ins can't express
(per-session event sequences, custom merge rules, enrichment of the
session record). State per user is a compact open-session tuple; output
rows are CLOSED sessions, emitted when the event-time watermark passes
``last_ts + gap`` (EventTimeTimeout), so state is bounded by watermark
eviction — the property that keeps this runnable on an unbounded stream.

Arrow moves each group's rows as pandas batches (not per-row pickling);
the grouping shuffle on the key column is the only exchange.
"""

from __future__ import annotations

from typing import Any, Iterable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StructField,
    StructType,
    TimestampType,
)

SESSION_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("sess_start", TimestampType()),
        StructField("sess_end", TimestampType()),
        StructField("n_events", LongType()),
        StructField("sum_value", DoubleType()),
    ]
)

# state: (sess_start_us, sess_end_us, n_events, sum_value)
STATE_SCHEMA = StructType(
    [
        StructField("start_us", LongType()),
        StructField("end_us", LongType()),
        StructField("n", LongType()),
        StructField("sv", DoubleType()),
    ]
)

GAP_US = 30 * 60 * 1_000_000


def _close(key: Any, start_us: int, end_us: int, n: int, sv: float) -> pd.DataFrame:
    return pd.DataFrame(
        {
            "user_id": [key],
            "sess_start": [pd.Timestamp(start_us * 1_000)],
            "sess_end": [pd.Timestamp(end_us * 1_000)],
            "n_events": [n],
            "sum_value": [round(sv, 2)],
        }
    )


def sessionize_fn(
    key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Fold this micro-batch's events for one user into the open session;
    emit sessions that close (gap exceeded mid-batch, or state timeout).

    Vectorized (round 7): the original per-event Python loop plus one
    1-row DataFrame PER CLOSED SESSION dominated the ×100 sweep (223 s
    engine time for 10M events — VERDICT r6 item 4). Session boundaries
    are gap positions in the sorted timestamp array, per-session sums are
    ``np.add.reduceat`` segment reductions, and ALL closed sessions of
    the group leave as ONE DataFrame. Float caveat: reduceat sums
    pairwise, not in strict event order — like the DuckDB oracle's own
    sum(), associativity differs from the old sequential loop by last
    ulps; the contract holds because summed values sit on the cent grid
    (error ≪ the round(…, 2) step, same argument as the oracle's).
    Rounding itself goes through Python ``round`` (one shared helper
    with the timeout path — np.round scales by 100 and re-divides,
    which disagrees with round() off the grid). Semantics are pinned by
    the unchanged driver oracle and tests/test_streaming.py."""
    (user_id,) = key
    if state.hasTimedOut:
        start_us, end_us, n, sv = state.get
        state.remove()
        yield _close(user_id, start_us, end_us, n, sv)
        return

    chunks = [p for p in pdfs if len(p)]
    if not chunks:
        return
    pdf = chunks[0] if len(chunks) == 1 else pd.concat(chunks)
    t = pdf["ts"].to_numpy(dtype="datetime64[us]").astype(np.int64)
    v = pdf["value"].to_numpy(dtype=np.float64)
    order = np.argsort(t, kind="stable")
    t, v = t[order], v[order]

    carry = state.exists
    if carry:
        start_us, end_us, n, sv = state.get

    # a segment begins where the gap from the previous end is >= GAP_US;
    # the carried open session acts as the "previous end" for element 0
    newseg = np.empty(len(t), dtype=bool)
    newseg[1:] = (t[1:] - t[:-1]) >= GAP_US
    closed_carry = None
    if carry and t[0] - end_us >= GAP_US:
        closed_carry = (start_us, end_us, n, sv)  # closes before this batch
        carry = False
    newseg[0] = True
    starts = np.flatnonzero(newseg)
    nexts = np.append(starts[1:], len(t))
    seg_start = t[starts]
    seg_end = t[nexts - 1]
    seg_n = (nexts - starts).astype(np.int64)
    seg_sv = np.add.reduceat(v, starts)
    if carry:  # merge the carried open session into segment 0
        seg_start[0] = start_us
        seg_n[0] += n
        seg_sv[0] = sv + seg_sv[0]

    state.update(
        (int(seg_start[-1]), int(seg_end[-1]), int(seg_n[-1]), float(seg_sv[-1]))
    )
    # close the open session when the watermark passes its gap horizon
    state.setTimeoutTimestamp(int(seg_end[-1]) // 1_000 + GAP_US // 1_000)

    k = len(starts)
    if k > 1 or closed_carry is not None:
        cs, ce, cn, cv = seg_start[: k - 1], seg_end[: k - 1], seg_n[: k - 1], seg_sv[: k - 1]
        if closed_carry is not None:
            cs = np.concatenate(([closed_carry[0]], cs))
            ce = np.concatenate(([closed_carry[1]], ce))
            cn = np.concatenate(([closed_carry[2]], cn))
            cv = np.concatenate(([closed_carry[3]], cv))
        yield pd.DataFrame(
            {
                "user_id": np.full(len(cs), user_id, dtype=np.int64),
                "sess_start": pd.to_datetime(cs, unit="us"),
                "sess_end": pd.to_datetime(ce, unit="us"),
                "n_events": cn.astype(np.int64),
                # Python round, NOT np.round: both emission paths (batch
                # close here, timeout close in _close) must round the
                # same way, and np.round(12.345, 2) = 12.34 disagrees
                # with round's 12.35 off the cent grid
                "sum_value": [round(float(x), 2) for x in cv],
            }
        )


def stateful_sessionize(
    events: DataFrame,
    *,
    ts_col: str = "ts",
    key_col: str = "user_id",
    watermark: str = "0 seconds",
) -> DataFrame:
    """Closed sessions (30-min gap) per user over an event stream.

    Emission contract: a session is output only once it is PROVABLY closed
    — the watermark moved past ``sess_end + gap``. Trailing still-open
    sessions stay in state (they'd close on the next batch); with
    ``availableNow`` over a finite source this means sessions ending
    within ``gap`` of the stream's max timestamp are withheld — exactly
    the semantics the driver oracle mirrors with a
    ``sess_end + gap <= max(ts)`` filter."""
    ev = events.withWatermark(ts_col, watermark)
    return ev.groupBy(key_col).applyInPandasWithState(
        sessionize_fn,
        outputStructType=SESSION_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )

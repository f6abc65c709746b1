"""Custom stateful streaming operators: continuous as-of and EWMA
enrichment with ``applyInPandasWithState`` (Arrow-batched per-group state).

The DataFrame/SQL surface covers the reference's entire operator set
(SURVEY.md §2.10); this module exists for the one class of semantics the
builtin stateful ops can't express — arbitrary per-key running state
across micro-batches.  Pattern: group by key, feed Arrow batches + a
GroupState handle to a pandas function, emit update rows.

Scale posture: state is one small tuple per user (the latest right row,
or the last k−1 values) in the state store; batches arrive
Arrow-vectorized; no per-row Python round trips outside the grouped batch.
"""

from __future__ import annotations

from typing import Any, Iterator, Tuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

ASOF_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("right_ts_asof", T.TimestampType()),
        T.StructField("right_value_asof", T.DoubleType()),
    ]
)

#: latest right-side row per key: (right ts in µs, right payload value)
ASOF_STATE_SCHEMA = T.StructType(
    [
        T.StructField("last_rts_us", T.LongType()),
        T.StructField("last_value", T.DoubleType()),
    ]
)


def _asof_group(
    key: Tuple[Any, ...],
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    (user_id,) = key
    if state.exists:
        last_rts_us, last_value = state.get
    else:
        last_rts_us, last_value = None, None

    # The iterator yields the group in MULTIPLE Arrow chunks once it
    # exceeds arrow.maxRecordsPerBatch — chunk boundaries are arbitrary,
    # so sorting per chunk would process rows out of time order (lefts
    # enriched with future rights).  Concatenate, then sort ONCE.
    chunks = [
        pd.DataFrame(
            {
                "ts_us": pdf["ts"].astype("datetime64[ns]").astype("int64") // 1000,
                "is_left": pdf["is_left"],
                "event_id": pdf["event_id"],
                "value": pdf["value"],
                "carried": 1,
            }
        )
        for pdf in pdfs
    ]
    # Re-inject the carried packet as a VIRTUAL right row in the batch's
    # time-sorted merge instead of treating it as "current state": a late
    # right row OLDER than the carried packet then slots into its correct
    # place on the timeline — it enriches in-batch lefts between its ts
    # and the carried ts, but cannot REGRESS the state for lefts after
    # the carried ts (the unconditional-overwrite bug this replaced).
    # State after the loop = max-ts right seen, carried included, so
    # state advances monotonically across micro-batches.
    if last_rts_us is not None:
        chunks.insert(
            0,
            pd.DataFrame(
                {
                    "ts_us": [last_rts_us],
                    "is_left": [0],
                    "event_id": [-1],
                    # float64 even for a NULL payload: an all-NA object
                    # column would make the concat below pick its dtype
                    # through pandas' deprecated all-NA rule
                    "value": pd.Series([last_value], dtype="float64"),
                    "carried": [0],  # same-ts in-batch right overwrites it
                }
            ),
        )
        # the virtual row re-seeds the state at its timeline position —
        # starting the loop from empty keeps lefts BEFORE the carried ts
        # un-enriched (batch semantics) instead of matched to the future
        last_rts_us, last_value = None, None
    out_df = None
    if chunks:
        # Vectorized (r17, guide §4.2): the old itertuples loop is a
        # carry-forward of the latest right row, i.e. a running maximum
        # of right positions over the time-sorted merge — one
        # np.maximum.accumulate replaces the per-row Python loop with
        # identical semantics (rights sort BEFORE lefts on ts ties and
        # the carried virtual right before in-batch rights, exactly the
        # loop's processing order; values are carried untouched, so
        # there is no arithmetic to re-order).
        import numpy as np

        work = pd.concat(chunks, ignore_index=True)
        ts_us = work["ts_us"].to_numpy()
        is_left = work["is_left"].to_numpy()
        order = np.lexsort((work["carried"].to_numpy(), is_left, ts_us))
        ts_us, is_left = ts_us[order], is_left[order]
        eid = work["event_id"].to_numpy()[order]
        val = work["value"].to_numpy(dtype="float64")[order]
        idx = np.arange(len(ts_us))
        # position of the latest right row at-or-before each row
        last_right = np.maximum.accumulate(np.where(is_left == 0, idx, -1))
        rights = np.flatnonzero(is_left == 0)
        if len(rights):
            p = rights[-1]
            last_rts_us = int(ts_us[p])
            last_value = None if np.isnan(val[p]) else float(val[p])
        lefts = np.flatnonzero(is_left == 1)
        if len(lefts):
            lr = last_right[lefts]
            has = lr >= 0
            rval = np.where(has, val[np.maximum(lr, 0)], np.nan)
            out_df = pd.DataFrame(
                {
                    "event_id": eid[lefts].astype("int64"),
                    "user_id": np.full(len(lefts), user_id, dtype="int64"),
                    "ts": pd.to_datetime(
                        pd.Series(ts_us[lefts]), unit="us"
                    ),
                    # int64 µs, exact past 2^53; no match → NaT → NULL
                    "right_ts_asof": pd.to_datetime(
                        pd.Series(ts_us[np.maximum(lr, 0)]), unit="us"
                    ).where(has),
                    "right_value_asof": rval,
                }
            )

    state.update((last_rts_us, last_value))
    if out_df is not None:
        yield out_df


def stream_asof_enrich(
    events: DataFrame,
    left_type: str = "click",
    right_type: str = "purchase",
) -> DataFrame:
    """Continuous backward as-of: enrich each left event with the key's
    latest right event at-or-before it — the streaming twin of
    ``operators.temporal.asof_join(direction='backward')``.

    State per key is ONE carried packet (latest right ts + payload), so
    the state store is O(keys) regardless of stream length.  Within a
    micro-batch rows process in (ts, right-before-left) order, matching
    the batch operator's tie semantics exactly.  Across micro-batches
    the carried packet joins each batch's time-sorted merge as a virtual
    right row, so the state advances monotonically and equals the batch
    operator whenever every LEFT row arrives in a batch at-or-after the
    rights that precede it in event time (late RIGHTS are handled: an
    out-of-order right enriches in-batch lefts in its correct timeline
    slot without regressing the carried state).

    **Late-data policy** — the two irreducible O(1)-state trades:
    a right row that arrives after a left it should have enriched was
    already emitted cannot retroactively re-enrich it, and a left row
    arriving with ts older than the carried packet sees only the rights
    in its own batch's merge (at-or-before rights from earlier batches
    other than the carried latest were discarded, so it may enrich to
    NULL where batch finds a match).  Both are the standard
    streaming-enrichment semantics; the batch operator remains the
    oracle-checked ground truth (tested equal on single-batch runs AND
    on 3-batch runs with cross-boundary out-of-order rights).

    Input: a typed events stream (``streaming.joins.stream_events_typed``
    shape).  Output: one row per left event.
    """
    from pyspark.sql import functions as F

    tagged = events.filter(
        F.col("event_type").isin([left_type, right_type])
    ).select(
        "user_id",
        "ts",
        "event_id",
        "value",
        F.when(F.col("event_type") == left_type, 1).otherwise(0).alias("is_left"),
    )
    return tagged.groupBy("user_id").applyInPandasWithState(
        _asof_group,
        outputStructType=ASOF_OUTPUT_SCHEMA,
        stateStructType=ASOF_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# ---------------------------------------------------------------------------
# Continuous EWMA enrichment: the streaming twin of
# operators/temporal.py:rolling_ewma — same truncated-renormalized
# semantics (k-row tail, NULL lags skipped and renormalized), so a
# single-run availableNow replay is hash-equal to the batch lag chain.
# ---------------------------------------------------------------------------

EWMA_ALPHA = 0.5
EWMA_K = 4

EWMA_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("ewma", T.DoubleType()),
    ]
)

#: the key's last k−1 values in time order (NaN marks a NULL value —
#: it occupies a lag position but contributes no weight)
EWMA_STATE_SCHEMA = T.StructType(
    [T.StructField("tail", T.ArrayType(T.DoubleType()))]
)


def _ewma_group(
    key: Tuple[Any, ...],
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """Vectorized (r17, guide §4.2): the old per-row itertuples loop is
    a lag-window weighted sum, so the whole group computes as K−1
    shifted-slice accumulations over one padded value array.  FP parity
    with the loop is exact: per element the accumulation order is the
    SAME (α·v, then +w₁·l₁, +w₂·l₂, +w₃·l₃, then the one divide), the
    weights are the same Python-float expressions, and a NULL value
    yields NaN in the float64 output column exactly where the loop
    emitted None (pandas coerced that None to NaN in the same float64
    column before serialization, so the emitted bytes are identical)."""
    (user_id,) = key
    tail: list = list(state.get[0]) if state.exists else []
    tail = [float("nan") if v is None else float(v) for v in tail]

    chunks = list(pdfs)
    out_df = None
    if chunks:
        pdf = chunks[0] if len(chunks) == 1 else pd.concat(
            chunks, ignore_index=True
        )
        ts_us = (
            pdf["ts"].astype("datetime64[ns]").astype("int64") // 1000
        ).to_numpy()
        eid = pdf["event_id"].to_numpy()
        # chunk boundaries are arbitrary: one STABLE sort by
        # (ts, event_id) — the same total order the batch operator uses
        order = np.lexsort((eid, ts_us))
        eid = eid[order]
        v = pdf["value"].to_numpy(dtype="float64")[order]
        n = len(v)
        pad = EWMA_K - 1
        vals = np.empty(pad + n, dtype="float64")
        vals[:pad] = np.nan
        if tail:  # tail[-1] is the most recent prior value
            vals[pad - len(tail) : pad] = tail
        vals[pad:] = v
        num = EWMA_ALPHA * v
        den = np.full(n, EWMA_ALPHA)
        for j in range(1, EWMA_K):
            w = EWMA_ALPHA * (1.0 - EWMA_ALPHA) ** j
            lj = vals[pad - j : pad - j + n]
            m = ~np.isnan(lj)
            num[m] += w * lj[m]
            den[m] += w
        ewma = num / den  # NaN current value propagates to NaN (= NULL)
        out_df = pd.DataFrame(
            {
                "event_id": eid.astype("int64"),
                "user_id": np.full(n, user_id, dtype="int64"),
                "ewma": ewma,
            }
        )
        keep = min(pad, len(tail) + n)
        tail = [float(x) for x in vals[pad + n - keep : pad + n]]

    state.update((tail,))
    if out_df is not None:
        yield out_df


def stream_ewma_enrich(events: DataFrame) -> DataFrame:
    """Continuous per-key EWMA over the event stream: every event emits
    its smoothed value immediately, with state bounded at k−1 doubles
    per key (O(keys), never O(history)).  Truncation is what makes the
    operator both bounded-state AND batch-replayable — the recursive
    infinite-history EWMA would drift from any finite batch oracle."""
    return events.groupBy("user_id").applyInPandasWithState(
        _ewma_group,
        EWMA_OUTPUT_SCHEMA,
        EWMA_STATE_SCHEMA,
        "update",
        GroupStateTimeout.NoTimeout,
    )

"""Custom stateful streaming operator (SURVEY.md §2.I): the exact
per-event velocity rule as an ``applyInPandasWithState`` transform.

The session-window variant (streaming/pipeline.py) aggregates; this
operator reproduces the batch ``lag()`` semantics event-for-event —
flag the LATER transaction whenever the key's location changes within
``max_gap_hours`` — while carrying (last_ts, last_state) per key
across micro-batches in managed state. This is the pattern for any
custom per-key streaming algorithm Spark lacks natively.

Scale: state is two scalars per key — bounded by key cardinality,
not history; batches arrive Arrow-encoded per key group. Use a
timeout (ProcessingTimeTimeout + state TTL) in production to expire
idle keys; kept NoTimeout here for determinism in tests.

API note: Spark 4's successor API (``transformWithStateInPandas`` /
``StatefulProcessor``) was probed and is environment-blocked here —
its TWS driver worker imports ``google.protobuf``, which this
container lacks (worker crashes with ImportError; no package
installs permitted). ``applyInPandasWithState`` carries identical
semantics for this operator and is fully exercised in tests; on an
environment with protobuf the processor port is mechanical (value
state (last_ts, last_state) per key, same per-row loop).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

OUTPUT_SCHEMA = (
    "key string, event_id string, ts timestamp, state_val string, "
    "prev_state string, gap_seconds long"
)
STATE_SCHEMA = "last_ts long, last_state string"


def velocity_flagger(max_gap_hours: float = 1.0):
    """Build the per-group state function: emits one row per flagged
    event (state change within the gap), updating (last_ts, state)."""
    max_gap_seconds = int(max_gap_hours * 3600)

    def fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        last_ts, last_state = state.get if state.exists else (None, None)
        out = {k: [] for k in ("key", "event_id", "ts", "state_val", "prev_state", "gap_seconds")}
        # a key's rows within one micro-batch can SPAN Arrow chunks in
        # arbitrary order — sorting each chunk independently would let
        # an earlier event arriving in a later chunk replay against
        # newer state. Concatenate the whole batch for this key, sort
        # ONCE, then fold; memory is one key's batch slice (the same
        # bound applyInPandas already imposes), not the table.
        chunks = list(pdfs)
        batch = pd.concat(chunks) if len(chunks) > 1 else chunks[0] if chunks else None
        if batch is not None:
            pdf = batch.sort_values(["ts", "event_id"])
            for row in pdf.itertuples():
                ts_epoch = int(row.ts.timestamp())
                if (
                    last_state is not None
                    and row.state_val != last_state
                    and ts_epoch - last_ts < max_gap_seconds
                ):
                    out["key"].append(key[0])
                    out["event_id"].append(row.event_id)
                    out["ts"].append(row.ts)
                    out["state_val"].append(row.state_val)
                    out["prev_state"].append(last_state)
                    out["gap_seconds"].append(ts_epoch - last_ts)
                last_ts, last_state = ts_epoch, row.state_val
        state.update((last_ts, last_state))
        if out["key"]:
            yield pd.DataFrame(out)

    return fn


def streaming_velocity_stateful(
    stream: DataFrame,
    key_col: str,
    event_time_col: str,
    state_col: str,
    id_col: str,
    max_gap_hours: float = 1.0,
) -> DataFrame:
    """Wire the flagger: groupBy(key) → applyInPandasWithState.

    Input stream must carry (key, id, ts, state) columns; output is
    one row per flagged event with the previous state and gap —
    byte-identical semantics to rule 3's lag() formulation in
    plans.fraud (``fraud_events``, ``fraud_type3``), but incremental
    with O(keys) state.
    """
    from pyspark.sql import functions as F

    prepared = stream.select(
        F.col(key_col).cast("string").alias("key"),
        F.col(id_col).cast("string").alias("event_id"),
        F.col(event_time_col).alias("ts"),
        F.col(state_col).cast("string").alias("state_val"),
    )
    return prepared.groupBy("key").applyInPandasWithState(
        velocity_flagger(max_gap_hours),
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


SESSION_OUTPUT_SCHEMA = (
    "key string, session_start_us long, session_end_us long, n_events long"
)
SESSION_STATE_SCHEMA = "start_us long, end_us long, n long"


def session_assembler(gap_minutes: int = 30):
    """Per-key incremental sessionizer: extend the open session while
    events arrive within the gap, EMIT the closed session the moment
    an event breaks it, keep the new session open in state. The
    streaming twin of the batch ``sessionize_events`` gaps-and-islands
    query — identical session boundaries, but O(keys) state and
    closed-session rows the instant the breaking event arrives
    instead of a full-table window."""
    gap_us = gap_minutes * 60 * 1_000_000

    def fn(key, pdfs, state):
        start_us, end_us, n = state.get if state.exists else (None, None, 0)
        out = {k: [] for k in ("key", "session_start_us", "session_end_us", "n_events")}
        # same chunk-spanning hazard as velocity_flagger: sort the
        # key's WHOLE micro-batch once, or an early event in a late
        # chunk regresses end_us and corrupts session boundaries
        chunks = list(pdfs)
        batch = pd.concat(chunks) if len(chunks) > 1 else chunks[0] if chunks else None
        if batch is not None:
            pdf = batch.sort_values(["us", "event_id"])
            for row in pdf.itertuples():
                us = int(row.us)
                if start_us is None:
                    start_us, end_us, n = us, us, 1
                elif us - end_us <= gap_us:
                    end_us, n = us, n + 1
                else:
                    out["key"].append(key[0])
                    out["session_start_us"].append(start_us)
                    out["session_end_us"].append(end_us)
                    out["n_events"].append(n)
                    start_us, end_us, n = us, us, 1
        state.update((start_us, end_us, n))
        if out["key"]:
            yield pd.DataFrame(out)

    return fn


def streaming_sessionize_stateful(
    stream: DataFrame,
    key_col: str,
    event_time_col: str,
    id_col: str,
    gap_minutes: int = 30,
) -> DataFrame:
    """groupBy(key) → applyInPandasWithState sessionization. The open
    session stays in state across micro-batches (never emitted until
    broken — production adds EventTimeTimeout to flush idle keys;
    NoTimeout keeps tests deterministic, same note as the velocity
    flagger above)."""
    from pyspark.sql import functions as F

    prepared = stream.select(
        F.col(key_col).cast("string").alias("key"),
        F.col(id_col).cast("string").alias("event_id"),
        F.unix_micros(F.col(event_time_col).cast("timestamp")).alias("us"),
    )
    return prepared.groupBy("key").applyInPandasWithState(
        session_assembler(gap_minutes),
        outputStructType=SESSION_OUTPUT_SCHEMA,
        stateStructType=SESSION_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )

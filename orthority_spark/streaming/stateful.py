"""Custom stateful streaming: per-user sessionization with
applyInPandasWithState (task-brief custom stateful operator slot).

Batch sessionization (gates/queries_rel.q_sessionize) numbers sessions with a
window function; in streaming, session state must live ACROSS triggers.
State per user: (last_ts_epoch, session_id). A new event starts a new
session when its gap from the stored last timestamp exceeds the gap
threshold; state times out (GroupStateTimeout) after inactivity so the
state store cannot grow unboundedly at 10^12 scale.
"""

from __future__ import annotations

from typing import Iterable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

OUT_SCHEMA = "user_id long, event_id long, session_id long"
STATE_SCHEMA = "last_ts double, session_id long"


def _empty_out() -> pd.DataFrame:
    return pd.DataFrame(
        {
            "user_id": pd.Series(dtype="int64"),
            "event_id": pd.Series(dtype="int64"),
            "session_id": pd.Series(dtype="int64"),
        }
    )


def _make_sessionizer(with_timeout: bool, gap_s: float, timeout_ms: int):
    def _sessionize_group(
        key, pdfs: Iterable[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if with_timeout and state.hasTimedOut:
            # eviction invocation: no data — drop the state, emit nothing,
            # and do NOT re-arm the timeout (re-arming would keep the
            # entry alive forever and the store would grow unboundedly)
            state.remove()
            yield _empty_out()
            return
        if state.exists:
            last_ts, session_id = state.get
        else:
            last_ts, session_id = float("-inf"), 0
        # one global sort per group-trigger (chunks are not mutually
        # ordered), then the per-event loop collapses to a vectorized
        # diff/cumsum with a scalar carry from state: a new session
        # starts wherever the gap from the previous event (or the stored
        # last_ts for the first row) exceeds gap_s
        chunks = list(pdfs)
        pdf = (
            pd.concat(chunks, ignore_index=True).sort_values("ts")
            if chunks
            else pd.DataFrame({"ts": [], "event_id": []})
        )
        if not len(pdf):
            state.update((last_ts, session_id))
            if with_timeout:
                state.setTimeoutDuration(timeout_ms)
            yield _empty_out()
            return
        tsv = pdf["ts"].to_numpy("datetime64[ns]").astype("int64") / 1e9
        prev = np.concatenate([[last_ts], tsv[:-1]])
        inc = np.cumsum((tsv - prev) > gap_s)
        out = pd.DataFrame(
            {
                "user_id": np.full(len(pdf), key[0], dtype="int64"),
                "event_id": pdf["event_id"].to_numpy(dtype="int64"),
                "session_id": (session_id + inc).astype("int64"),
            }
        )
        state.update((float(tsv[-1]), int(session_id + inc[-1])))
        if with_timeout:
            state.setTimeoutDuration(timeout_ms)
        yield out

    return _sessionize_group


def sessionize_stream(
    events_stream: DataFrame,
    evict_state: bool = False,
    gap_s: float = 1800.0,
    timeout_ms: int = 3600 * 1000,
) -> DataFrame:
    """events(user_id, ts, event_id) stream -> (user_id, event_id,
    session_id) with cross-trigger session state.

    ``evict_state=True`` enables the processing-time state timeout —
    required on continuous deployments so the per-user state store stays
    bounded at 10^12 scale: an idle user's state entry is removed
    ``timeout_ms`` after its last event (a later event starts a fresh
    session numbering). Leave False for availableNow drains (the timeout
    machinery never fires there and stalls query termination).
    """
    from ..pyfiles import ensure_on_executors

    ensure_on_executors(events_stream.sparkSession)
    timeout = (
        GroupStateTimeout.ProcessingTimeTimeout
        if evict_state
        else GroupStateTimeout.NoTimeout
    )
    return (
        events_stream.select("user_id", "ts", "event_id")
        .groupBy("user_id")
        .applyInPandasWithState(
            _make_sessionizer(evict_state, gap_s, timeout_ms),
            outputStructType=OUT_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="append",
            timeoutConf=timeout,
        )
    )

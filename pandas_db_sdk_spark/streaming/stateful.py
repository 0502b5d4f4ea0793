"""Custom stateful streaming — SURVEY §2 C60.

`running_max_stateful` keeps one double per user_id in GroupState and emits
(event_id, user_id, running_max, is_new_peak) — the streaming twin of the
batch window query c60_stateful_running_max, which serves as its oracle in
tests/test_streaming.py.

State size is O(#keys), independent of stream length — the shape that
survives unbounded streams.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

OUTPUT_SCHEMA = "event_id long, user_id long, running_max double, is_new_peak int"
STATE_SCHEMA = "mx double"


def _update(key, pdfs: Iterator[pd.DataFrame], state: GroupState) -> Iterator[pd.DataFrame]:
    (user_id,) = key
    mx = state.get[0] if state.exists else float("-inf")
    for pdf in pdfs:
        pdf = pdf.sort_values("event_id")
        vals = pdf["value"].to_numpy(dtype="float64")
        if not len(vals):
            continue
        # vectorized running max with carry-in state: one np pass per Arrow
        # batch, the streaming twin of the batch cummax below
        run = np.maximum.accumulate(np.maximum(vals, mx))
        mx = float(run[-1])
        yield pd.DataFrame(
            {
                "event_id": pdf["event_id"].astype("int64").to_numpy(),
                "user_id": np.int64(user_id),
                "running_max": run,
                "is_new_peak": (vals >= run).astype("int32"),
            }
        )
    state.update((mx,))


def running_max_stateful(events: DataFrame) -> DataFrame:
    """Per-user running max via applyInPandasWithState (streaming) or an
    equivalent applyInPandas (batch input, for parity tests)."""
    src = events.select("event_id", "user_id", "value")
    if events.isStreaming:
        return src.groupBy("user_id").applyInPandasWithState(
            _update,
            outputStructType=OUTPUT_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )

    def batch_fn(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("event_id")
        mx = pdf["value"].cummax()
        return pd.DataFrame(
            {
                "event_id": pdf["event_id"],
                "user_id": pdf["user_id"],
                "running_max": mx,
                "is_new_peak": (pdf["value"] >= mx).astype("int32"),
            }
        )

    return src.groupBy("user_id").applyInPandas(batch_fn, OUTPUT_SCHEMA)


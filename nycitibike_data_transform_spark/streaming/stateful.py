"""Custom stateful streaming operator via ``applyInPandasWithState``.

The escape hatch for streaming semantics the built-in windowed
aggregations can't express: arbitrary per-key state carried across
micro-batches (counters, decaying scores, small per-user models).
Demonstrated here as running per-user totals — the state schema, the
Arrow batch path, update-mode emission, and cross-batch state carry
are the real engineering surface; the arithmetic is deliberately
simple.
"""

from __future__ import annotations

import warnings
from collections.abc import Iterator
from decimal import Decimal

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType(), False),
        T.StructField("n_events", T.LongType(), False),
        T.StructField("total_value", T.DoubleType(), False),
    ]
)

# event values carry 2 decimals: the running total accumulates them
# as exact decimals (a double sum would depend on how the events split
# into micro-batches) and is cast to double once, on emit
_MONEY = T.DecimalType(18, 2)

# PySpark's applyInPandasWithState serializer pads the output and state
# frames with all-NA rows before concatenating them, which pandas warns
# about on every batch. Installed at import: the Python worker imports
# this module to unpickle _update_user_totals, so the filter holds there.
warnings.filterwarnings(
    "ignore",
    message="The behavior of DataFrame concatenation with empty or all-NA entries is deprecated",
    category=FutureWarning,
)

STATE_SCHEMA = T.StructType(
    [
        T.StructField("n_events", T.LongType(), False),
        T.StructField("total_value", _MONEY, False),
    ]
)


def _update_user_totals(
    key: tuple, batches: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    n, total = state.get if state.exists else (0, Decimal(0))
    for pdf in batches:
        n += len(pdf)
        total += pdf["value"].sum()
    state.update((n, total))
    yield pd.DataFrame({"user_id": [key[0]], "n_events": [n], "total_value": [float(total)]})


def running_user_totals(events: DataFrame) -> DataFrame:
    """Cumulative (n_events, total_value) per user, updated every
    micro-batch. State is O(users) — bounded regardless of stream
    length; add a timeout to expire idle users in production."""
    return (
        events.select("user_id", F.col("value").cast(_MONEY).alias("value"))
        .groupBy("user_id")
        .applyInPandasWithState(
            _update_user_totals,
            outputStructType=OUTPUT_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )

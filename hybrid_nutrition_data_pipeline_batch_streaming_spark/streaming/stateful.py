"""Custom stateful streaming operator via applyInPandasWithState (T7/U4).

The reference's only per-key state is implicit — the Cassandra PK upsert
(`consume_items.py:53,102-103`). This is the general mechanism: arbitrary
per-key state maintained across micro-batches, with timeouts, in Arrow
batches. State lives in the state store (RocksDB/HDFS-backed in production),
so memory is bounded per key group — the 100 TB/day-safe shape for custom
sessionization/accumulation logic Spark's built-ins can't express.
"""

from __future__ import annotations

from collections.abc import Iterable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StructField,
    StructType,
)

OUTPUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("event_cnt", LongType()),
        StructField("total_value", DoubleType()),
    ]
)

STATE_SCHEMA = StructType(
    [
        StructField("cnt", LongType()),
        StructField("cents", LongType()),
    ]
)


def _accumulate(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterable[pd.DataFrame]:
    """Accumulate per-user count and value sum across micro-batches.

    The sum is carried as integer cents — exact and order-insensitive, the
    Python-side twin of the engine's decimal-exact aggregation discipline
    (functions/parity.py) — so emitted totals equal an exact batch
    aggregate regardless of micro-batch boundaries.
    """
    (user_id,) = key
    cnt, cents = state.get if state.exists else (0, 0)
    for pdf in pdfs:
        cnt += len(pdf)
        cents += int((pdf["value"] * 100).round().astype("int64").sum())
    state.update((cnt, cents))
    yield pd.DataFrame(
        {"user_id": [user_id], "event_cnt": [cnt], "total_value": [cents / 100.0]}
    )


def stateful_user_totals(events_stream: DataFrame) -> DataFrame:
    """Per-user running totals as a custom stateful operator."""
    return events_stream.groupBy("user_id").applyInPandasWithState(
        _accumulate,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


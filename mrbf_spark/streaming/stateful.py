"""Custom stateful streaming operator (north-star: 'custom stateful
operators via applyInPandasWithState').

Running per-user totals: state = (event count, value sum); each
micro-batch folds its rows into the state and emits the updated
totals. The same pattern carries any incremental per-key aggregate a
training-data stream needs (per-source document counts, per-shard
dedup registers, quota enforcement).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import SparkSession, functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql import types as T

from ..tables import load_events_stream

OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("total_value", T.DoubleType()),
    ]
)
STATE_SCHEMA = T.StructType(
    [T.StructField("n", T.LongType()), T.StructField("v", T.DoubleType())]
)


def _update_user_totals(
    key, batches: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    n, v = state.get if state.exists else (0, 0.0)
    for pdf in batches:
        n += len(pdf)
        v += float(pdf["value"].sum())
    state.update((n, v))
    yield pd.DataFrame({"user_id": [key[0]], "n_events": [n], "total_value": [v]})


def streaming_user_totals(spark: SparkSession, sf_dir: str, query_name: str = "user_totals"):
    """readStream → applyInPandasWithState → memory sink (update mode).
    Returns the started StreamingQuery."""
    raw = load_events_stream(spark, f"{sf_dir}/events.parque[t]")
    ev = raw.select("user_id", "value")
    out = ev.groupBy("user_id").applyInPandasWithState(
        _update_user_totals,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    return (
        out.writeStream.outputMode("update")
        .format("memory")
        .queryName(query_name)
        .start()
    )


# ---------------------------------------------------------------- TWS
# Spark 4's arbitrary-state API (transformWithStateInPandas): typed
# state variables (Value/Map/ListState), timers, TTL — the successor
# to applyInPandasWithState above. The runtime needs `protobuf` for
# its state-server wire format, which this environment doesn't ship,
# so the operator degrades to an actionable ImportError there; the
# semantics are still pinned by test_tws_matches_batch_when_available,
# which runs wherever protobuf exists.
def tws_available() -> bool:
    try:
        import google.protobuf  # noqa: F401

        return True
    except ImportError:
        return False


def _user_type_counts_processor():
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class UserTypeCounts(StatefulProcessor):
        """Per-user running count per event_type held in a MapState —
        the shape applyInPandasWithState can't express without packing
        the whole map into one value row."""

        def init(self, handle: StatefulProcessorHandle) -> None:
            self._counts = handle.getMapState(
                "type_counts", "event_type string", "n bigint"
            )

        def handleInputRows(self, key, rows, timerValues) -> Iterator[pd.DataFrame]:
            delta: dict[str, int] = {}
            for pdf in rows:
                for et, c in pdf.groupby("event_type").size().items():
                    delta[et] = delta.get(et, 0) + int(c)
            out = []
            for et, c in delta.items():
                prev = (
                    self._counts.getValue((et,))[0]
                    if self._counts.containsKey((et,))
                    else 0
                )
                total = prev + c
                self._counts.updateValue((et,), (total,))
                out.append((key[0], et, total))
            yield pd.DataFrame(out, columns=["user_id", "event_type", "n"])

        def close(self) -> None:
            pass

    return UserTypeCounts()


def streaming_user_type_counts(
    spark: SparkSession, sf_dir: str, query_name: str = "user_type_counts"
):
    """readStream → transformWithStateInPandas (MapState per user) →
    memory sink (update mode). Returns the started StreamingQuery.
    Requires the RocksDB state store (TWS is not supported on the
    default HDFS-backed provider) and the protobuf package."""
    if not tws_available():
        raise ImportError(
            "transformWithStateInPandas needs the 'protobuf' package for its "
            "state-server protocol; install protobuf or use "
            "streaming_user_totals (applyInPandasWithState) instead"
        )
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    ev = load_events_stream(spark, f"{sf_dir}/events.parque[t]").select(
        "user_id", "event_type"
    )
    out = ev.groupBy("user_id").transformWithStateInPandas(
        _user_type_counts_processor(),
        outputStructType="user_id long, event_type string, n bigint",
        outputMode="Update",
        timeMode="None",
    )
    return (
        out.writeStream.outputMode("update")
        .format("memory")
        .queryName(query_name)
        .start()
    )

"""Arbitrary stateful streaming via transformWithStateInPandas (the Spark 4
state-v2 API), maintaining an incrementally-updated per-key aggregate — a
streaming materialized view of groupBy totals.

Contrast with sessions.py (applyInPandasWithState, the v1 API): v2 replaces
the single state tuple + callback with a StatefulProcessor class holding
*named, typed* state variables (value/list/map) and explicit timer hooks.
This module is the engine's template for the v2 shape; the sessionizer stays
on v1 so both surfaces are covered.

Scale: state is one (n, total) pair per key, sharded by the groupBy's
shuffle partitioning (RocksDB-backed state store on a production cluster —
the provider is set per-query here).  Each micro-batch emits refreshed
totals for only the keys it touched, so sink traffic tracks batch activity,
not total key cardinality.  With ``timeMode="None"`` there are no timers,
so an ``availableNow`` drain self-terminates — no progress-polling
workaround needed (contrast run_sessionize_drain, sessions.py).
"""

from __future__ import annotations

import importlib.util

import pandas as pd

from pyspark.sql import DataFrame

TOTALS_SCHEMA = "user_id long, n_events long, total_value double"


def state_v2_available() -> bool:
    """transformWithStateInPandas drives its stateful-processor worker over a
    protobuf channel, so the Python side needs the ``protobuf`` package (not
    bundled with pyspark).  Callers gate on this; environments without it
    (like this container) use the v1 sessionizer (sessions.py) instead."""
    try:
        return importlib.util.find_spec("google.protobuf") is not None
    except ModuleNotFoundError:  # no parent 'google' namespace at all
        return False

_ROCKSDB = "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"


def make_running_totals_processor():
    """The StatefulProcessor class, exposed so its semantics are testable
    WITHOUT the protobuf worker channel: the class only touches the handle
    contract (getValueState -> exists/get/update), so a test can drive
    handleInputRows against an in-memory handle and assert batch parity
    (tests/test_streaming.py::test_state_v2_processor_semantics_match_batch).
    The full transformWithStateInPandas integration stays env-gated on
    protobuf, but the operator's logic is no longer unverified there."""
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class RunningTotalsProcessor(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._totals = handle.getValueState("totals", "n long, total double")

        def handleInputRows(self, key, rows, timerValues):  # noqa: ANN001
            n, total = self._totals.get() if self._totals.exists() else (0, 0.0)
            for pdf in rows:
                n += int(len(pdf))
                total += float(pdf["value"].sum())
            self._totals.update((n, total))
            yield pd.DataFrame(
                {"user_id": [key[0]], "n_events": [n], "total_value": [total]}
            )

        def close(self) -> None:
            pass

    return RunningTotalsProcessor


def running_totals(events_stream: DataFrame) -> DataFrame:
    """Per-user running (count, value-sum) over an event stream, emitted
    fresh each micro-batch for the keys that batch touched."""
    return events_stream.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=make_running_totals_processor()(),
        outputStructType=TOTALS_SCHEMA,
        outputMode="Update",
        timeMode="None",
    )


def run_totals_drain(totals: DataFrame, warehouse_path: str, checkpoint_path: str) -> None:
    """Drain available input and upsert each batch's refreshed totals into a
    versioned :class:`SnapshotTable` keyed by user, one version per batch
    (later batch wins — totals are monotone in n_events, which doubles as
    the precedence column).  Read it with ``SnapshotTable(spark,
    warehouse_path).read()``.

    transformWithState requires the RocksDB state store provider; it is set
    for this query and restored afterwards so batch-oriented tests sharing
    the session are unaffected."""
    from european_emissions_data_warehouse_spark.streaming.ingest import (
        run_snapshot_ingest,
    )

    spark = totals.sparkSession
    conf_key = "spark.sql.streaming.stateStore.providerClass"
    prior = spark.conf.get(conf_key, None)
    spark.conf.set(conf_key, _ROCKSDB)
    try:
        run_snapshot_ingest(
            totals,
            warehouse_path,
            checkpoint_path,
            key=["user_id"],
            order_by=["n_events"],
        )
    finally:
        if prior is None:
            spark.conf.unset(conf_key)
        else:
            spark.conf.set(conf_key, prior)

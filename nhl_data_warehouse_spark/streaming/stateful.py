"""Custom stateful streaming operators (``applyInPandasWithState``).

``session_window``/tumbling windows cover the declarative stateful
shapes (``streaming/windows.py``); this module is the escape hatch for
state machines Spark's built-ins can't express — running per-key
accumulators that survive across micro-batches, emit on every update,
and expire via timeouts.

Scale notes: state lives partitioned by the grouping key in the state
store (RocksDB-backed on a real cluster — set
``spark.sql.streaming.stateStore.providerClass``); each micro-batch
shuffles only that batch's rows to their key's partition. Arrow
batches bound Python-side memory exactly like ``mapInPandas``.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame

RUNNING_TOTALS_SCHEMA = "user_id long, n_events long, sum_value double"
_STATE_SCHEMA = "n long, s double"


def running_user_totals(events: DataFrame) -> DataFrame:
    """Per-user lifetime event count + value sum, updated every
    micro-batch — the canonical custom-state shape (a feature-store
    style running profile). Input must be a *streaming* DataFrame with
    ``user_id`` and ``value`` columns.

    State is one (n, s) pair per user: O(|users|) total, independent
    of stream length. ``timeout="ProcessingTimeTimeout"`` plus a
    ``state.setTimeoutDuration`` call inside would expire idle users —
    kept ``NoTimeout`` here so results are deterministic for tests.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(
        key: tuple, pdfs: Iterator["pd.DataFrame"], state: GroupState
    ) -> Iterator["pd.DataFrame"]:
        n, s = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            s += float(pdf["value"].sum()) if len(pdf) else 0.0
        state.update((n, s))
        yield pd.DataFrame({"user_id": [key[0]], "n_events": [n], "sum_value": [s]})

    return events.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=RUNNING_TOTALS_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=getattr(GroupStateTimeout, "NoTimeout"),
    )


def running_user_totals_tws(events: DataFrame) -> DataFrame:
    """``running_user_totals`` re-expressed on Spark 4's
    ``transformWithStateInPandas`` — the successor API to
    ``applyInPandasWithState`` (SPARK-49564): state is declared
    per-variable through a ``StatefulProcessorHandle`` (ValueState /
    ListState / MapState, optional TTL, timers) instead of one
    monolithic state tuple, and the processor is an object with an
    explicit lifecycle (init / handleInputRows / close).

    Same semantics and scale shape as the older twin: one (n, s)
    ValueState per user in the partitioned state store, each
    micro-batch shuffles only its own rows, output in Update mode.
    Keeping both operators exercises both custom-state APIs the
    engine supports.
    """
    import pandas as pd
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class _RunningTotals(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._totals = handle.getValueState("totals", _STATE_SCHEMA)

        def handleInputRows(self, key, rows, timerValues) -> Iterator["pd.DataFrame"]:
            prior = self._totals.get() if self._totals.exists() else None
            n, s = prior if prior is not None else (0, 0.0)
            for pdf in rows:
                n += len(pdf)
                s += float(pdf["value"].sum()) if len(pdf) else 0.0
            self._totals.update((n, s))
            yield pd.DataFrame(
                {"user_id": [key[0]], "n_events": [n], "sum_value": [s]}
            )

        def close(self) -> None:
            pass

    return events.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=_RunningTotals(),
        outputStructType=RUNNING_TOTALS_SCHEMA,
        outputMode="Update",
        timeMode="None",
    )

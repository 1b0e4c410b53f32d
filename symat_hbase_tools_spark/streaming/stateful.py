"""Custom stateful streaming operator: a per-user running profile (event
count, exact integer value sum, last-seen timestamp) that emits an updated
row per user per micro-batch.

The profile is written as a transformWithState ``StatefulProcessor``
(``MicroProfileProcessor``) and executed on the applyInPandasWithState
engine through a small compat shim (``run_stateful_processor_compat``): the
native transformWithStateInPandas worker needs the ``protobuf`` package,
which this environment does not ship, while the processor class itself
imports without it.

State design for scale: state lives in the state store partitioned by the
group key, so memory is O(active keys), not O(events). This is the
Spark-native equivalent of a custom HBase coprocessor-style running
aggregate.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming import StatefulProcessor, StatefulProcessorHandle
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout


class _ValueStateCompat:
    """ValueState facade over one applyInPandasWithState tuple slot.

    Mirrors pyspark.sql.streaming.stateful_processor.ValueState's surface
    (exists/get/update/clear) so a StatefulProcessor written for
    transformWithStateInPandas runs unmodified on the legacy engine."""

    __slots__ = ("_value", "_exists")

    def __init__(self) -> None:
        self._value = None
        self._exists = False

    def exists(self) -> bool:
        return self._exists

    def get(self):
        return self._value

    def update(self, value) -> None:
        self._value = tuple(value)
        self._exists = True

    def clear(self) -> None:
        self._value = None
        self._exists = False


class _HandleCompat:
    """StatefulProcessorHandle facade: registers named state variables.

    Scope: ValueState only — the shim's state round-trips through ONE
    applyInPandasWithState state tuple, so exactly one ValueState is
    supported (List/Map state and timers have no legacy equivalent; a
    processor needing them must run on the native API)."""

    def __init__(self) -> None:
        self.states: dict[str, _ValueStateCompat] = {}

    def getValueState(self, name: str, schema, ttl_duration_ms=None) -> _ValueStateCompat:
        st = _ValueStateCompat()
        self.states[name] = st
        return st


def run_stateful_processor_compat(
    grouped,
    processor_factory,
    output_schema: str,
    state_schema: str,
    output_mode: str = "update",
) -> DataFrame:
    """Execute a transformWithState-style StatefulProcessor on the
    applyInPandasWithState engine (no protobuf / state-server RPC needed).

    Per (key, micro-batch): instantiate the processor, seed its registered
    ValueState from the legacy GroupState tuple, run handleInputRows with
    the batch iterator, then write the state back (update, or remove if
    the processor cleared it). Outputs are materialized before the
    write-back so state mutations made after the last yield still land.

    State stays in the legacy state store partitioned by the group key —
    O(active keys) memory,
    per-key sequential processing, shuffle only on the group key.
    """

    def update_fn(key, batches, state: GroupState):
        handle = _HandleCompat()
        proc = processor_factory()
        proc.init(handle)
        if len(handle.states) != 1:
            raise ValueError(
                "compat shim supports processors with exactly ONE ValueState; "
                f"got {sorted(handle.states)}"
            )
        (vs,) = handle.states.values()
        if state.exists:
            vs._value = tuple(state.get)
            vs._exists = True
        outs = list(proc.handleInputRows(key, batches, None))
        proc.close()
        if vs._exists:
            state.update(vs._value)
        else:
            state.remove()
        yield from outs

    return grouped.applyInPandasWithState(
        update_fn,
        outputStructType=output_schema,
        stateStructType=state_schema,
        outputMode=output_mode,
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def _with_us(stream: DataFrame) -> DataFrame:
    from pyspark.sql import functions as F

    return stream.select(
        "user_id", "value", F.unix_micros(F.col("ts")).alias("us")
    )


class MicroProfileProcessor(StatefulProcessor):
    """Integer-micros running profile — the DRIVER-VERIFIED stateful form.

    A python-float value sum would make the converged total's low bits
    depend on micro-batch boundaries, unusable for a hash-compared SQL
    oracle. This processor accumulates ``floor(value * 1e6)`` as exact
    int64 micros: floor of an IEEE double is deterministic and identical
    across engines (no tie-breaking rule, unlike round-half-even vs
    round-half-away), integer addition is order-independent, so the
    converged state is bit-identical to the oracle's
    ``SUM(CAST(floor(value * 1000000) AS BIGINT))`` regardless of how the
    stream was micro-batched."""

    def init(self, handle: StatefulProcessorHandle) -> None:
        self._state = handle.getValueState(
            "profile", "n bigint, micros bigint, last_us bigint"
        )

    def handleInputRows(self, key, rows, timerValues) -> Iterator[pd.DataFrame]:
        import numpy as np

        if self._state.exists():
            n, micros, last_us = self._state.get()
        else:
            n, micros, last_us = 0, 0, 0
        for pdf in rows:
            if pdf.empty:
                continue
            n += len(pdf)
            micros += int(
                np.floor(pdf["value"].to_numpy() * 1e6).astype(np.int64).sum()
            )
            last_us = max(last_us, int(pdf["us"].max()))
        self._state.update((n, micros, last_us))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [n],
                "value_micros": [micros],
                "last_seen_us": [last_us],
            }
        )

    def close(self) -> None:
        pass


def user_profiles_micros(stream: DataFrame) -> DataFrame:
    """MicroProfileProcessor through the compat shim (update-mode stream of
    running per-user profiles; exact-integer value accumulation)."""
    return run_stateful_processor_compat(
        _with_us(stream).groupBy("user_id"),
        MicroProfileProcessor,
        "user_id bigint, n_events bigint, value_micros bigint, last_seen_us bigint",
        "n bigint, micros bigint, last_us bigint",
        output_mode="update",
    )

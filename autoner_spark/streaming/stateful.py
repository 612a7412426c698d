"""Custom stateful streaming operator: per-conversation KG accumulation.

``applyInPandasWithState`` keeps one state row per ``conv_id`` while the
transcript stream flows: the running mention count and the distinct surface
set seen so far. Each micro-batch emits the UPDATED conversations only —
the streaming analogue of the per-conversation entity assembly.

State is bounded by the distinct-surface vocabulary (dictionary-bounded,
not corpus-bounded), so per-conversation state stays small even on
10^12-turn streams. Unbounded CONVERSATION COUNT is the production risk:
pass ``evict_after_ms`` to arm a ProcessingTimeTimeout that drops a
conversation's state after it has been idle that long (the final totals
are emitted with ``evicted=true`` on the way out, so downstream sinks see
a terminal row). ``None`` keeps NoTimeout for fully deterministic tests.
"""

from __future__ import annotations

from collections.abc import Iterable, Iterator
from functools import partial

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from .. import pyworker

OUTPUT_SCHEMA = (
    "conv_id string, n_mentions long, n_distinct_surfaces long, "
    "evicted boolean"
)
STATE_SCHEMA = "surfaces array<string>, n_mentions long"


def _accumulate(
    key: tuple,
    pdfs: Iterable[pd.DataFrame],
    state: GroupState,
    evict_after_ms: int | None = None,
) -> Iterator[pd.DataFrame]:
    pyworker.install()
    (conv_id,) = key

    def row(surfaces, n, evicted):
        return pd.DataFrame(
            [{
                "conv_id": conv_id,
                "n_mentions": n,
                "n_distinct_surfaces": len(surfaces),
                "evicted": evicted,
            }]
        )

    if state.hasTimedOut:
        # dormant conversation: emit the terminal row, drop the state
        surfaces_list, n = state.get
        state.remove()
        yield row(set(surfaces_list), n, True)
        return

    if state.exists:
        surfaces_list, n = state.get
        surfaces = set(surfaces_list)
    else:
        surfaces, n = set(), 0
    for pdf in pdfs:
        n += len(pdf)
        surfaces.update(pdf["surface"])
    state.update((sorted(surfaces), n))
    if evict_after_ms is not None:
        state.setTimeoutDuration(evict_after_ms)
    yield row(surfaces, n, False)


def conversation_state(
    mentions_stream: DataFrame, evict_after_ms: int | None = None
) -> DataFrame:
    """mentions stream -> per-conversation running totals (update mode).

    ``evict_after_ms`` arms the production eviction timeout (state for a
    conversation idle that long is emitted as a terminal ``evicted=true``
    row and removed); ``None`` = NoTimeout (deterministic)."""
    timeout = (
        GroupStateTimeout.NoTimeout
        if evict_after_ms is None
        else GroupStateTimeout.ProcessingTimeTimeout
    )
    return mentions_stream.groupBy("conv_id").applyInPandasWithState(
        partial(_accumulate, evict_after_ms=evict_after_ms),
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf=timeout,
    )

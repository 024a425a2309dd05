"""Custom stateful streaming operators (SURVEY.md §2.B.10 "stateful
custom op" row) via ``applyInPandasWithState``.

Snapflow's accumulator-style snaps keep arbitrary python state across
incremental runs [P snapflow/modules/core/functions/accumulator]; the
Structured Streaming analogue is a per-key state store surviving
micro-batches. State here is bounded per key (a handful of floats), so
an infinite stream holds O(#keys) state, and timeouts can retire idle
keys at 100 TB/day arrival rates.
"""

from __future__ import annotations

from typing import Any, Iterable

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

RUNNING_SCHEMA = "user_id bigint, n_events bigint, total double, ewma double"
STATE_SCHEMA = "n bigint, total double, ewma double"


def running_user_stats(
    stream: DataFrame,
    key: str = "user_id",
    value: str = "value",
    alpha: float = 0.2,
) -> DataFrame:
    """Per-key running count / sum / EWMA across micro-batches — the
    canonical custom-state op no built-in aggregation expresses (EWMA
    is order- and history-dependent). Emits one updated row per key
    per micro-batch."""

    def update(
        key_tuple: Any, batches: Iterable[pd.DataFrame], state: GroupState
    ) -> Iterable[pd.DataFrame]:
        (uid,) = key_tuple
        if state.exists:
            n, total, ewma = state.get
        else:
            n, total, ewma = 0, 0.0, None
        for pdf in batches:
            for v in pdf[value]:
                n += 1
                total += float(v)
                ewma = float(v) if ewma is None else alpha * float(v) + (1 - alpha) * ewma
        state.update((n, total, ewma))
        yield pd.DataFrame(
            {"user_id": [uid], "n_events": [n], "total": [total], "ewma": [ewma]}
        )

    return stream.groupBy(key).applyInPandasWithState(
        update,
        outputStructType=RUNNING_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


FREQ_SCHEMA = "grp int, item string, est bigint, err bigint, n bigint"
FREQ_STATE_SCHEMA = "items array<string>, counts array<bigint>, err bigint, n bigint"


def streaming_frequent_items(
    stream: DataFrame,
    item_col: str = "item",
    k: int = 64,
    n_groups: int = 8,
    salt: str = "hh-v1",
) -> DataFrame:
    """Heavy hitters over an UNBOUNDED stream (functions/heavyhitters'
    Misra-Gries, streaming form): items route to one of ``n_groups``
    state keys by the deterministic sha256 bucket (the curation hash
    shape), each key holds a bounded MG(k) summary in the state store,
    and every micro-batch folds its exact value_counts in by the merge
    rule (prune subtractions accumulate into that group's ``err`` —
    the same exact error accounting as the batch build).

    Because the groups PARTITION the item space, an item's entire
    true count lives in one group: its certain interval is
    [est, est + that group's err], and the global answer is the plain
    union of group summaries — no cross-group error addition. State
    is O(n_groups * k) regardless of stream length or cardinality.

    Emits each group's full summary per micro-batch (output mode
    'update'); the final emission per group (max n) is the live
    answer — ``final_frequent_intervals`` assembles it."""
    from pyspark.sql import functions as F

    from snapflow_spark.functions.heavyhitters import _prune
    from snapflow_spark.operators.curation import _hash_bucket

    keyed = stream.withColumn(
        "__g", _hash_bucket(F.col(item_col), salt, n_groups).cast("int")
    )

    def update(
        key_tuple: Any, batches: Iterable[pd.DataFrame], state: GroupState
    ) -> Iterable[pd.DataFrame]:
        (g,) = key_tuple
        if state.exists:
            items, counts, err, n = state.get
            total = dict(zip(items, counts))
        else:
            total, err, n = {}, 0, 0
        for pdf in batches:
            vc = pdf[item_col].dropna().astype(str).value_counts()
            n += int(vc.sum())
            for item, c in vc.items():
                total[item] = total.get(item, 0) + int(c)
        pruned, sub = _prune(total, k)
        err += sub
        state.update(
            (list(pruned.keys()), [int(v) for v in pruned.values()], err, n)
        )
        # ALWAYS emit a NULL-item marker row: _prune can legally
        # return an empty summary (all counts tie at the (k+1)-th
        # largest), and without a marker the reader would mistake the
        # previous batch's rows for the group's final state — stale
        # estimates would break the certain-interval contract
        yield pd.DataFrame(
            {
                "grp": [g] * (len(pruned) + 1),
                "item": list(pruned.keys()) + [None],
                "est": [int(v) for v in pruned.values()] + [0],
                "err": [err] * (len(pruned) + 1),
                "n": [n] * (len(pruned) + 1),
            }
        )

    return keyed.groupBy("__g").applyInPandasWithState(
        update,
        outputStructType=FREQ_SCHEMA,
        stateStructType=FREQ_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def final_frequent_intervals(emissions: DataFrame) -> list[tuple[str, int, int]]:
    """Assemble the live global answer from a bounded run's emitted
    rows: keep each group's final emission (max n, located via the
    always-present NULL-item marker so an empty final summary
    correctly erases the group's earlier rows), union the summaries.
    Returns (item, lo, hi) sorted by estimate desc, item — hi uses
    the owning group's err (certain bound; see
    streaming_frequent_items)."""
    rows = emissions.collect()
    latest_n: dict[int, int] = {}
    for r in rows:
        latest_n[r.grp] = max(latest_n.get(r.grp, -1), r.n)
    out = [
        (r.item, r.est, r.est + r.err)
        for r in rows
        if r.n == latest_n[r.grp] and r.item is not None
    ]
    return sorted(out, key=lambda t: (-t[1], t[0]))

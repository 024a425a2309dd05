"""Fault injection on the reactive loop: a process that dies at any
commit point of a node run or a compaction must leave a warehouse that
the next ``produce()`` finishes with no row lost or applied twice.

The DAG: an append node (``copy``), a keep-latest overwrite node
(``latest``), a keep-latest Delta MERGE (``table``), a MERGE whose
dict set expression sums a column (``sums``), and a node with two
inputs (``joined``). Each case runs one clean tick, then a tick that
raises at one commit point, then starts a fresh Pipeline on the same
warehouse, appends one more block and runs ``produce()``.
"""

import os
from pathlib import Path

import duckdb
import pytest
from pyspark.sql import functions as F

import snapflow_spark.sources.delta as delta_mod
from snapflow_spark.incremental import SnapshotStore, TableLedger
from snapflow_spark.plans import load_graph
from snapflow_spark.sources.delta import read_delta, write_delta

SCHEMA = "event_id long, k long, ts long, qty long"
# A MERGE source may not hold a key twice, and a run after a crash can
# consume the last two blocks at once: they share no key. Both share
# keys with the first block, so a block merged twice shows in the sums.
BLOCKS = [
    [(0, 1, 10, 5), (1, 2, 11, 7), (2, 3, 12, 1)],
    [(3, 1, 20, 6), (4, 4, 21, 2)],
    [(5, 2, 30, 3), (6, 3, 31, 9), (7, 5, 32, 4)],
]


class Crash(Exception):
    """Stands for the process dying at the injected point."""


def _joined(spark, delta, state):
    """Two inputs: each new row beside the key's latest quantity."""
    return delta.join(
        state.select("k", F.col("qty").alias("latest_qty")), "k", "left"
    )


def _graph(wh: Path):
    g = load_graph({
        "warehouse": str(wh),
        "sources": ["changes"],
        "nodes": [
            {"name": "copy", "function": "core.accumulate",
             "upstream": "changes"},
            {"name": "latest", "function": "core.dedupe_keep_latest",
             "upstream": {"history": {"node": "copy", "mode": "reference"}},
             "params": {"keys": ["k"], "order_by": ["ts desc"]},
             "overwrite": True},
            {"name": "table", "function": "core.merge_delta",
             "upstream": {"input": {"node": "latest", "mode": "consumable"}},
             "params": {"path": str(wh / "t_table"), "keys": ["k"]}},
            {"name": "sums", "function": "core.merge_delta",
             "upstream": {"input": {"node": "copy", "mode": "consumable"}},
             "params": {"path": str(wh / "t_sums"), "keys": ["k"],
                        "when_matched": {"qty": "source.qty + target.qty"}}},
        ],
    })
    g.create_node("joined", _joined,
                  upstream={"delta": "copy", "state": ("latest", "reference")})
    return g


def _tick(spark, g, block):
    g.pipeline.sources["changes"].append(spark.createDataFrame(block, SCHEMA))
    g.produce(spark, auto_compact_after=1)


def _arm(monkeypatch, point: str, target: str) -> None:
    """Make the next commit of kind ``point`` in ``target`` raise."""
    real_rename = os.rename

    def rename(src, dst):
        if Path(dst).parent.name == target:
            raise Crash(f"died at the {point} of {target}")
        return real_rename(src, dst)

    if point == "rename":
        monkeypatch.setattr(os, "rename", rename)
    elif point == "compact-rename":
        real_compact = SnapshotStore.compact

        def compact(self, spark):
            monkeypatch.setattr(os, "rename", rename)
            return real_compact(self, spark)

        monkeypatch.setattr(SnapshotStore, "compact", compact)
    elif point == "ledger":
        real_mark = TableLedger.mark_consumed

        def mark(self, node, *args, **kwargs):
            if node == target:
                raise Crash(f"died at the ledger commit of {target}")
            return real_mark(self, node, *args, **kwargs)

        monkeypatch.setattr(TableLedger, "mark_consumed", mark)
    elif point == "compact-ledger":
        real_compact = SnapshotStore.compact

        def compact(self, spark):
            out = real_compact(self, spark)
            if self.path.name == target:
                raise Crash(f"died after compacting {target}")
            return out

        monkeypatch.setattr(SnapshotStore, "compact", compact)
    else:  # the Delta commit
        real_commit = delta_mod._commit_with_retry

        def commit(table, *args, **kwargs):
            if Path(table).name == f"t_{target}":
                raise Crash(f"died at the Delta commit of {target}")
            return real_commit(table, *args, **kwargs)

        monkeypatch.setattr(delta_mod, "_commit_with_retry", commit)


@pytest.mark.parametrize("point,target", [
    ("rename", "copy"),
    ("rename", "latest"),
    ("ledger", "copy"),
    ("ledger", "latest"),
    ("ledger", "table"),
    ("ledger", "sums"),
    ("ledger", "joined"),
    ("delta", "sums"),
    ("compact-rename", "changes"),
    ("compact-ledger", "changes"),
    ("compact-ledger", "copy"),
])
def test_crash_at_each_commit_point_is_exactly_once(
    spark, tmp_path, monkeypatch, point, target
):
    wh = tmp_path / "wh"
    cols = SCHEMA.replace(" long", "")
    for name in ("t_table", "t_sums"):
        write_delta(spark.createDataFrame([], SCHEMA), str(wh / name))

    g = _graph(wh)
    _tick(spark, g, BLOCKS[0])
    _arm(monkeypatch, point, target)
    with pytest.raises(Crash):
        _tick(spark, g, BLOCKS[1])
    monkeypatch.undo()

    g = _graph(wh)  # a fresh process on the same warehouse
    _tick(spark, g, BLOCKS[2])

    rows = sorted(r for block in BLOCKS for r in block)
    con = duckdb.connect()
    con.execute(f"CREATE TABLE ev ({SCHEMA.replace('long', 'BIGINT')})")
    con.executemany("INSERT INTO ev VALUES (?, ?, ?, ?)", rows)
    latest = sorted(con.execute(
        f"SELECT {cols} FROM ev QUALIFY row_number() OVER "
        "(PARTITION BY k ORDER BY ts DESC) = 1"
    ).fetchall())
    sums = sorted(con.execute("SELECT k, sum(qty) FROM ev GROUP BY k").fetchall())

    def got(df, *names):
        return sorted(tuple(r) for r in df.select(*names).collect())

    store = g.pipeline.store
    names = cols.split(", ")
    assert got(store("copy").read(spark), *names) == rows
    assert got(store("latest").read(spark), *names) == latest
    assert got(read_delta(spark, str(wh / "t_table")), *names) == latest
    assert got(read_delta(spark, str(wh / "t_sums")), "k", "qty") == sums
    assert got(store("joined").read(spark), "event_id") == [(r[0],) for r in rows]
    for node, inputs in g.pipeline.ledger._data.items():
        for input_name, ids in inputs.items():
            assert len(ids) == len(set(ids)), (node, input_name, ids)

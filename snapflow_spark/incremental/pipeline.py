"""Pipeline / Node — snapflow's Graph + reactive run loop on Spark
(SURVEY §1.1 Node/Graph, §2.A A11, §3.2).

A Node wraps a DataFrame->DataFrame function (the "snap"). Inputs are
either *consumable* (the node sees only unconsumed upstream snapshots —
delta semantics) or *reference* (the node sees the full accumulated
upstream state — dimension-lookup semantics), mirroring snapflow's
input annotations [P snapflow/core/function_interface.py].

``Pipeline.produce`` walks the DAG upstream-first and keeps running
nodes until no node has unconsumed input — the reactive fixed point.
Each node run is one Spark job over the delta only; state lives in
parquet snapshot stores, so a 100 TB history is never rescanned for an
incremental tick (readers union only the snapshot dirs they need).

Exactly-once: a node run is one ledger commit, and its output snapshot
carries the run's record inside its own rename, so the next ``produce``
rolls a lost ledger commit forward instead of re-running the node. A
compaction is one ledger commit and rolls forward the same way.
"""

from __future__ import annotations

from collections.abc import Callable
from contextvars import ContextVar
from dataclasses import dataclass, field
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

from snapflow_spark.incremental.store import _LEDGER, _RETIRES, SnapshotStore
from snapflow_spark.incremental.table_ledger import TableLedger
from snapflow_spark.scope import owned

CONSUMABLE = "consumable"
REFERENCE = "reference"
LATEST = "latest"  # stream op: only the most recent upstream snapshot


@dataclass
class Node:
    name: str
    fn: Callable[..., DataFrame | None]  # fn(spark, **inputs) -> DataFrame | None
    upstream: dict[str, tuple[str, str]] = field(default_factory=dict)
    # upstream: input name -> (source name, mode)
    overwrite: bool = False  # True: node output is latest-state, not append log


_RUN: ContextVar[tuple | None] = ContextVar("snapflow_run", default=None)


def current_run() -> tuple[str, dict[str, tuple[SnapshotStore, list[str]]]] | None:
    """``(app id, {consumable input: (store, ids it consumes)})`` of the
    node run whose function is executing, or None outside one. A table
    sink keys its txn to the highest snapshot number it consumes (ids
    commit in increasing order), so a re-run after a crash that lost
    the ledger commit applies only the snapshots the table lacks."""
    return _RUN.get()


class Pipeline:
    """A DAG of Nodes over a warehouse directory.

    Sources are external SnapshotStores registered with add_source;
    each node gets its own output store under ``<warehouse>/<name>``.
    """

    def __init__(self, warehouse: str):
        self.warehouse = Path(warehouse)
        self.nodes: dict[str, Node] = {}
        self.sources: dict[str, SnapshotStore] = {}
        self.ledger = TableLedger(self.warehouse / "_ledger")

    def add_source(self, name: str) -> SnapshotStore:
        store = SnapshotStore(self.warehouse / name)
        self.sources[name] = store
        return store

    def add_node(self, node: Node) -> Node:
        self.nodes[node.name] = node
        return node

    def store(self, name: str) -> SnapshotStore:
        if name in self.sources:
            return self.sources[name]
        return SnapshotStore(self.warehouse / name)

    def _consumers(self) -> dict[str, list[tuple[str, str]]]:
        """Store name -> the (node, input) pairs that read it."""
        out: dict[str, list[tuple[str, str]]] = {}
        for node in self.nodes.values():
            for input_name, (src, _mode) in node.upstream.items():
                out.setdefault(src, []).append((node.name, input_name))
        return out

    def _roll_forward(self) -> None:
        """Fold into the ledger the store commits a dead process made
        without their ledger commit: a node's newest output whose run
        record names ids still unconsumed, and a merged snapshot that a
        consumer of every merged id has not consumed (a compaction's
        fix-up; this covers source stores, compacted outside the
        ledger, too)."""
        for node in self.nodes.values():
            store = self.store(node.name)
            newest = store._listed()[-1:]
            rec = next(store._records(_LEDGER, newest), {})
            lost = {}
            for name, ids in rec.get("consumed", {}).items():
                lost[name] = self.ledger.unconsumed(node.name, name, ids)
                if lost[name] and name in node.upstream:
                    # or replaced since by a compaction's merged id
                    live = self.store(node.upstream[name][0]).snapshot_ids()
                    lost[name] = [sid for sid in lost[name] if sid in live]
            if any(lost.values()):
                self.ledger.mark_consumed(
                    node.name, None, lost, produced=newest[0],
                    retired=next(store._records(_RETIRES, newest), []),
                )
        for name, pairs in self._consumers().items():
            store = self.store(name)
            available = store.snapshot_ids()
            for n, i in pairs:
                for sid in self.ledger.unconsumed(n, i, available):
                    merged = next(store._records(_LEDGER, [sid]), {}).get("merged")
                    if merged and set(merged) <= set(self.ledger.consumed(n, i)):
                        self.ledger.replace_consumed(n, i, merged, sid)

    def _topo(self) -> list[Node]:
        order: list[str] = []
        seen: set[str] = set()

        def visit(name: str) -> None:
            if name in seen or name in self.sources:
                return
            seen.add(name)
            for src, _mode in self.nodes[name].upstream.values():
                visit(src)
            order.append(name)

        for name in self.nodes:
            visit(name)
        return [self.nodes[n] for n in order]

    def run_node(self, spark: SparkSession, node: Node) -> bool:
        """Run one node iff it has unseen upstream data; returns True if
        it executed.

        Every input mode tracks unseen snapshot ids in the ledger so the
        reactive loop terminates: CONSUMABLE feeds only the delta,
        REFERENCE/LATEST feed full/latest state but still *mark* what
        they saw — a reference node re-fires when upstream changes, and
        only then.
        """
        stores = {
            name: (self.store(src), mode)
            for name, (src, mode) in node.upstream.items()
        }
        seen = {
            name: self.ledger.unconsumed(node.name, name, store.snapshot_ids())
            for name, (store, _mode) in stores.items()
        }
        if not node.upstream:
            # Importer node (no upstream): runs once, like snapflow's
            # import_* source snaps (SURVEY §2.A A5).
            if self.ledger.consumed(node.name, "__init__"):
                return False
            seen["__init__"] = ["done"]
        elif not any(seen.values()):
            # decided BEFORE building any input DataFrame: the fixed
            # point's last pass visits every node, and a REFERENCE
            # input's full-store read would be built only to be dropped
            return False
        inputs: dict[str, DataFrame | None] = {}
        for name, (store, mode) in stores.items():
            if mode == CONSUMABLE:
                inputs[name] = store.read(spark, seen[name])
            elif mode == LATEST:
                inputs[name] = store.read_latest(spark)
            else:  # REFERENCE
                inputs[name] = store.read(spark)
        consumed = {
            name: (store, seen[name])
            for name, (store, mode) in stores.items()
            if mode == CONSUMABLE
        }
        sid, retires = None, []
        # the append materializes the output: the node's pins die after it
        with owned():
            token = _RUN.set((str(self.warehouse.resolve() / node.name), consumed))
            try:
                out = node.fn(spark, **inputs)
            finally:
                _RUN.reset(token)
            out_store = self.store(node.name)
            if out is not None:
                # latest-state node: the new snapshot retires every
                # older one in its own commit
                retires = out_store._listed() if node.overwrite else []
                sid = out_store.append(
                    out, retires=retires, record={"consumed": seen}
                )
        self.ledger.mark_consumed(
            node.name, None, seen, produced=sid, retired=retires
        )
        return True

    def compact_store(self, spark: SparkSession, name: str) -> str | None:
        """Compact a store's snapshots into one (small-files control for
        long-lived accumulator state) and fix up every consumer's ledger
        in one ledger commit, so the compacted snapshot is not
        re-processed. A crash between the store's commit and the
        ledger's is rolled forward by the next ``produce``.

        Refuses (ValueError) if any consumer has NOT fully consumed the
        store — compacting under a lagging consumer would force it to
        re-read rows it already saw; run produce() to the fixed point
        first."""
        store = self.store(name)
        available = store.snapshot_ids()
        consumers = self._consumers().get(name, [])
        for node_name, input_name in consumers:
            lagging = self.ledger.unconsumed(node_name, input_name, available)
            if lagging:
                raise ValueError(
                    f"cannot compact {name!r}: {node_name}.{input_name} has "
                    f"unconsumed snapshots {lagging}; produce() first"
                )
        sid, retired = store.compact(spark)
        if sid is None:
            return None
        self.ledger.replace_consumed(consumers, None, retired, sid)
        return sid

    def produce(
        self, spark: SparkSession, auto_compact_after: int | None = None
    ) -> int:
        """Run the DAG to its reactive fixed point; returns the number
        of node executions.

        ``auto_compact_after=N`` is the small-files policy for
        long-lived pipelines: after the fixed point, any store whose
        snapshot count exceeds N is compacted (one merged snapshot,
        consumers' ledgers fixed up). At the fixed point every
        consumer is fully caught up, which is exactly the
        precondition ``compact_store`` demands — so the policy can
        never force a lagging consumer to re-read. A daily-tick
        accumulator otherwise grows one dir per tick forever, and
        readers pay per-snapshot listing + many small files."""
        self._roll_forward()
        runs = 0
        while True:
            progressed = False
            for node in self._topo():
                if self.run_node(spark, node):
                    runs += 1
                    progressed = True
            if not progressed:
                break
        if auto_compact_after is not None:
            for name in [*self.sources, *self.nodes]:
                if len(self.store(name).snapshot_ids()) > auto_compact_after:
                    self.compact_store(spark, name)
        return runs

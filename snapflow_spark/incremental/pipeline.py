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
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

from snapflow_spark.incremental.ledger import RunLedger
from snapflow_spark.incremental.store import SnapshotStore
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


class Pipeline:
    """A DAG of Nodes over a warehouse directory.

    Sources are external SnapshotStores registered with add_source;
    each node gets its own output store under ``<warehouse>/<name>``.
    """

    def __init__(self, warehouse: str, ledger=None):
        self.warehouse = Path(warehouse)
        self.nodes: dict[str, Node] = {}
        self.sources: dict[str, SnapshotStore] = {}
        # Ledger backend is pluggable: default is the single-JSON
        # RunLedger (right size for a pipeline's node count); pass a
        # TableLedger (incremental/table_ledger.py) for the
        # commit-log/metastore shape — O(delta) commits, concurrent
        # producers, checkpointed recovery, auditable as a DataFrame.
        self.ledger = (
            ledger
            if ledger is not None
            else RunLedger(str(self.warehouse / "ledger.json"))
        )

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
        inputs: dict[str, DataFrame | None] = {}
        seen: dict[str, list[str]] = {}
        any_delta = False
        stores: dict[str, tuple] = {}
        for input_name, (src, mode) in node.upstream.items():
            store = self.store(src)
            available = store.snapshot_ids()
            delta = self.ledger.unconsumed(node.name, input_name, available)
            seen[input_name] = delta
            any_delta = any_delta or bool(delta)
            stores[input_name] = (store, mode, delta)
        if node.upstream:
            # Decide BEFORE building any input DataFrame: the reactive
            # fixed-point pass visits every node once more after the
            # last productive run, and constructing a REFERENCE node's
            # full-store read (schema inference + file listing per
            # snapshot dir) only to discard it charged one wasted
            # driver-side read per produce() (round 17, guide §1.2).
            if not any_delta:
                return False
            for input_name, (store, mode, delta) in stores.items():
                if mode == CONSUMABLE:
                    inputs[input_name] = store.read(spark, delta)
                elif mode == LATEST:
                    inputs[input_name] = store.read_latest(spark)
                else:  # REFERENCE
                    inputs[input_name] = store.read(spark)
        else:
            # Importer node (no upstream): runs once, like snapflow's
            # import_* source snaps (SURVEY §2.A A5).
            if self.ledger.consumed(node.name, "__init__"):
                return False
            seen["__init__"] = ["done"]

        # the append materializes the output: the node's pins die after it
        with owned():
            out = node.fn(spark, **inputs)
            out_store = self.store(node.name)
            if out is not None:
                # latest-state node: the new snapshot retires every
                # older one in its own commit
                out_store.append(
                    out, retires=out_store._listed() if node.overwrite else ()
                )
        for input_name, ids in seen.items():
            self.ledger.mark_consumed(node.name, input_name, ids)
        return True

    def compact_store(self, spark: SparkSession, name: str) -> str | None:
        """Compact a store's snapshots into one (small-files control for
        long-lived accumulator state) and fix up every consumer's ledger
        so the compacted snapshot is not re-processed.

        Refuses (ValueError) if any consumer has NOT fully consumed the
        store — compacting under a lagging consumer would force it to
        re-read rows it already saw (at-least-once); run produce() to
        the fixed point first."""
        store = self.store(name)
        available = store.snapshot_ids()
        consumers = [
            (node.name, input_name)
            for node in self.nodes.values()
            for input_name, (src, _mode) in node.upstream.items()
            if src == name
        ]
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
        for node_name, input_name in consumers:
            self.ledger.replace_consumed(node_name, input_name, retired, sid)
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

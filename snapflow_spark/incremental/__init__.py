"""Incremental execution layer (SURVEY.md §2.A A3/A7/A11, §3.2).

Snapflow's functional-reactive core: nodes consume only upstream
DataBlocks they have not yet processed, tracked in a metadata store
[P snapflow/core/execution/execution.py, metadata/orm.py]. Here a
DataBlock is a parquet *snapshot directory*, the metadata store is an
append-only commit-log run ledger (one commit per node run), and the
reactive loop is ``Pipeline.produce``.
"""

from snapflow_spark.incremental.store import SnapshotStore
from snapflow_spark.incremental.ledger import RunLedger
from snapflow_spark.incremental.table_ledger import TableLedger
from snapflow_spark.incremental.pipeline import Node, Pipeline

__all__ = ["SnapshotStore", "RunLedger", "TableLedger", "Node", "Pipeline"]

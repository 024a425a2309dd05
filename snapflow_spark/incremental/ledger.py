"""``RunLedger``: the run ledger's older name, kept for importers of
this path. It is ``TableLedger`` (incremental/table_ledger.py), the one
ledger the engine has."""

from snapflow_spark.incremental.table_ledger import TableLedger as RunLedger

__all__ = ["RunLedger"]

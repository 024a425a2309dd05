"""snapflow_spark — a PySpark-native functional data-pipeline engine.

A brand-new engine with the query and data-processing capabilities of
kvh/snapflow (see SURVEY.md; the reference checkout is empty, so all
parity claims cite SURVEY.md's provenance-tagged inventory), re-expressed
on Spark primitives:

- DataBlocks        -> immutable DataFrames / parquet snapshot dirs
- Schemas           -> StructType + declarative translation (operators.schema_translate)
- python snaps      -> DataFrame ops / pandas UDFs (operators, functions)
- SQL snaps         -> temp views + spark.sql (operators.sql_snap)
- stream ops        -> operators.merge_streams / incremental snapshots
- reactive run loop -> incremental.Pipeline with a run-ledger
- north-star ops    -> dedup / similarity / text analysis / multimodal

The exports below load on first use: importing the package itself
imports nothing, so ``python -m snapflow_spark.worker_daemon`` can
filter a Python worker's path before anything imports pyspark.
"""

import importlib

_EXPORTS = {
    "build_session": "session",
    "tune": "session",
    "TABLES": "catalog",
    "load_table": "catalog",
    "register_views": "catalog",
}

__all__ = list(_EXPORTS)

__version__ = "0.1.0"


def __getattr__(name):
    if name not in _EXPORTS:
        raise AttributeError(f"module {__name__!r} has no attribute {name!r}")
    return getattr(importlib.import_module(f"{__name__}.{_EXPORTS[name]}"), name)

"""Export surface: every name a package lists in ``__all__`` resolves,
and none repeats — a deletion that leaves a dangling export fails here,
not at a user's ``from ... import *``."""

import importlib
from collections import Counter

PACKAGES = (
    "snapflow_spark.operators",
    "snapflow_spark.functions",
    "snapflow_spark.incremental",
)


def test_all_exports_resolve_and_are_unique():
    for name in PACKAGES:
        mod = importlib.import_module(name)
        exported = list(mod.__all__)
        repeated = sorted(n for n, c in Counter(exported).items() if c > 1)
        assert not repeated, (name, repeated)
        dangling = [n for n in exported if not hasattr(mod, n)]
        assert not dangling, (name, dangling)

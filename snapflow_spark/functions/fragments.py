"""Per-context memo for pure, UNALIASED Column expression fragments
(round 18, guide §7.3-analog: driver-side planning chatter).

Problem: the big expression towers (gopher signal battery, language-ID
argmax, URL normalization + PSL, the DSIR/winnow gram builders) cost
hundreds of py4j round trips PER CONSTRUCTION — ~0.1 ms each — and
bench/oracle harnesses construct every query once per rep, so the
chatter is pure per-rep driver overhead at any scale factor
(q_text_quality alone measured 8 820 round trips ≈ 0.9 s per warm rep
before this module; tools/profile_construction.py is the meter).

Fix: memoize the BUILT Column per (SparkContext, key). Catalyst
expression trees are immutable — reusing one unresolved fragment
across plans (or twice within one plan) is exactly as safe as reusing
``F.col("x") * 2``, which PySpark users do routinely. The rules that
keep it safe:

- Only UNALIASED fragments are memoized. ``alias()`` creates a
  NamedExpression whose exprId must be unique per plan, so callers
  alias the memoized fragment fresh at each use site (``.alias()`` is
  one cheap round trip).
- Keys must capture EVERY input that shapes the expression (column
  name, thresholds, stop lists, salts). A key is a TUPLE of those
  inputs, never a delimiter-joined string: a column name or salt
  containing the delimiter could make two distinct inputs collide. Helpers that accept a
  ``str | Column`` input memoize only the plain-string form — a Column
  argument may close over arbitrary caller state, so it builds fresh.
- Plans only, never data: the memo stores expression trees. Every
  action still evaluates them from the parquet inputs; nothing about
  results is cached (same line as catalog.py's table-plan memo).
- The cache dies with the SparkContext (WeakKeyDictionary), so a
  stopped-and-restarted JVM can never serve stale JavaObjects.

Intended for MODULE-CONSTANT fragment families (the key space is
finite by construction). A runaway caller is bounded by _MAX_KEYS:
past it, fragments build fresh instead of growing the dict — the
pre-memo behavior, not an error.

Parity pin: tests/test_fragments.py asserts a query constructed twice
in one session analyzes to ``sameResult`` plans and that the memo
actually hits; the oracle harness (tools/check_queries.py) pins
value-exactness of every fragment consumer.
"""

from __future__ import annotations

import weakref
from typing import Callable, Hashable, TypeVar

__all__ = ["memo_fragment"]

_CACHE: "weakref.WeakKeyDictionary" = weakref.WeakKeyDictionary()
_MAX_KEYS = 4096

T = TypeVar("T")  # a Column, or an immutable container of Columns


def memo_fragment(key: tuple[Hashable, ...], build: Callable[[], T]) -> T:
    """Return ``build()`` memoized per (active SparkContext, key).

    ``key`` is a tuple that must uniquely determine the expression(s)
    ``build`` produces: a namespace string, then the column names and
    every parameter as separate elements. The returned
    value is shared — callers must not mutate it and must ``.alias()``
    fresh at each use site. With no active SparkContext, builds
    fresh."""
    from pyspark import SparkContext

    if not isinstance(key, tuple):
        raise TypeError(f"memo_fragment key must be a tuple, got {key!r}")
    sc = SparkContext._active_spark_context
    if sc is None:
        return build()
    try:
        per = _CACHE.get(sc)
    except TypeError:  # un-weakref-able stand-in (mocks)
        return build()
    if per is None:
        per = {}
        _CACHE[sc] = per
    col = per.get(key)
    if col is None:
        col = build()
        if len(per) < _MAX_KEYS:
            per[key] = col
    return col

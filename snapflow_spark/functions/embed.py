"""Pluggable model-embedding hook: run a user-supplied batch embedding
function over a text column, Arrow-batched, onto the engine's
``array<float>`` embedding contract.

The engine's embedding family (``semantic_dedup`` / ``d4_select`` /
``IVFIndex`` / ``IVFPQIndex`` ingest, ``embedding_near_dup_pairs_int``,
cosine top-k) consumes any ``array<float>`` column; the model-free
default producer is the hashed char-n-gram lexical embedding
(functions.text.hashed_embedding_udf).  This module is the bridge to
REAL model vectors: the model is a ``module:function`` import path (or
a picklable callable) resolved lazily on each worker — the same
executor-shipping contract the multimodal ``decoders:`` hooks use —
so heavyweight model state (weights, sessions, ONNX runtimes) is
loaded per worker process at first call, never pickled from the
driver.

Model contract::

    def embed_batch(texts: list[str]) -> "ndarray (len(texts), dim)"

Any sequence-of-vectors return (list of lists, list of 1-D arrays,
2-D ndarray) is accepted; values are cast onto float32.  NULL texts
never reach the model and embed to NULL.  Typical 100 TB shape: the
model fn holds its weights in a module-level lazy global (one load
per python worker, reused across Arrow batches), ``batch_size``
matches the model's optimal batch, and the stage is map-only — no
shuffle, prunes to the text column plus pass-throughs.
"""

from __future__ import annotations

from collections.abc import Callable

import numpy as np
# module-level so pandas_udf string hints resolve under
# `from __future__ import annotations` (the UNSUPPORTED_SIGNATURE trap)
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, FloatType

__all__ = ["ImportedCallable", "embed_with_model", "stub_embed_batch"]


def stub_embed_batch(texts: list) -> np.ndarray:
    """Deterministic numpy stand-in encoder satisfying the model
    contract — bench/test double for the embed hook (real encoders
    aren't in this container).  Byte-histogram embedding: dim-32
    float32 vectors of UTF-8 byte counts mod 32, L1-normalized, so
    the per-text cost is a vectorized numpy pass with the same
    batch-in/matrix-out shape a real model has.  Used by the
    ``op_embed_model`` SCALE row via its import path
    (``snapflow_spark.functions.embed:stub_embed_batch``)."""
    out = np.zeros((len(texts), 32), dtype=np.float32)
    for i, t in enumerate(texts):
        b = np.frombuffer(str(t).encode("utf-8"), dtype=np.uint8)
        if b.size:
            np.add.at(out[i], b % 32, 1.0)
            out[i] /= b.size
    return out


class ImportedCallable:
    """A ``module:function`` import path as a callable that resolves
    LAZILY on whatever process calls it.  Pickling carries only the
    path string (this class lives in the engine package, importable
    on every worker); the user's module is imported at first call
    INSIDE the worker — so the module must be importable on executors
    (``--py-files`` / ``sc.addPyFile``), and is never pickled by
    value.  Resolution errors name the path."""

    def __init__(self, path: str, what: str = "callable") -> None:
        if ":" not in path:
            raise ValueError(
                f"{what} path must be 'module:function': {path!r}"
            )
        self.path = path
        self.what = what
        self._fn = None

    def __getstate__(self):
        # Only the path crosses the wire even if the instance was
        # already called on the driver — a resolved _fn in __dict__
        # would pickle the user function by value for __main__
        # functions, exactly the shipping failure this class prevents.
        return {"path": self.path, "what": self.what}

    def __setstate__(self, state):
        self.path = state["path"]
        self.what = state.get("what", "callable")
        self._fn = None

    def __call__(self, *args, **kwargs):
        if self._fn is None:
            import importlib

            mod, _, attr = self.path.partition(":")
            try:
                self._fn = getattr(importlib.import_module(mod), attr)
            except (ImportError, AttributeError) as e:
                raise ImportError(
                    f"cannot resolve {self.what} {self.path!r} on this "
                    f"worker (is the module shipped via --py-files?): {e}"
                ) from e
        return self._fn(*args, **kwargs)


def _as_vectors(out, n_in: int, what: str) -> list[np.ndarray]:
    """Validate one model-batch return onto n_in float32 vectors."""
    if isinstance(out, np.ndarray):
        if out.ndim != 2:
            raise ValueError(
                f"{what}: model returned a {out.ndim}-D array; the "
                f"contract is (n_texts, dim) 2-D"
            )
        vecs = [out[i] for i in range(out.shape[0])]
    else:
        try:
            vecs = [np.asarray(v) for v in out]
        except TypeError as e:
            raise ValueError(
                f"{what}: model must return a sequence of vectors, "
                f"got {type(out).__name__}"
            ) from e
        if any(v.ndim != 1 for v in vecs):
            raise ValueError(f"{what}: each returned vector must be 1-D")
    if len(vecs) != n_in:
        raise ValueError(
            f"{what}: model returned {len(vecs)} vectors for "
            f"{n_in} texts — lengths must match"
        )
    return [v.astype(np.float32, copy=False) for v in vecs]


def embed_with_model(
    df: DataFrame,
    model: str | Callable,
    text_col: str = "text",
    out_col: str = "embedding",
    dim: int | None = None,
    batch_size: int = 1024,
) -> DataFrame:
    """Attach ``out_col array<float>`` computed by a user model fn.

    ``model`` is a ``module:function`` import path (resolved lazily
    per worker — see ImportedCallable) or a picklable callable taking
    ``list[str] -> (n, dim) vectors``.  The stage is a SCALAR Arrow
    pandas UDF (map-only, no shuffle): only the text column crosses
    the python boundary and only the vectors come back — against
    ``mapInArrow``, which round-trips EVERY column through python,
    that is the macro cost at corpus scale, where rows carry ids,
    metadata, and often the raw bytes next to the text.  Each Arrow
    batch is sliced into ``batch_size`` model calls.  NULL texts
    embed to NULL without reaching the model.  ``dim=`` (optional)
    is enforced on every batch; without it, the first live vector's
    width is pinned in worker-lifetime closure state, so a model
    whose width drifts across Arrow batches (or across tasks served
    by the same python worker) raises instead of silently producing
    a ragged array<float> column.  The result feeds
    semantic_dedup / d4_select / IVF-PQ ingest directly;
    hashed_embedding_udf remains the model-free default
    (core.text_embed without ``model:``)."""
    if out_col in df.columns:
        raise ValueError(
            f"embed_with_model: column {out_col!r} already exists"
        )
    if text_col not in df.columns:
        raise ValueError(
            f"embed_with_model: no column {text_col!r} in "
            f"{df.columns}"
        )
    fn = ImportedCallable(model, what="embedding model") if isinstance(
        model, str
    ) else model
    if not callable(fn):
        raise TypeError(
            "embed_with_model: model must be a 'module:function' path "
            f"or a callable, got {type(model).__name__}"
        )
    want_dim = None if dim is None else int(dim)
    bs = int(batch_size)
    if bs <= 0:
        raise ValueError(f"batch_size must be positive, got {batch_size}")
    what = f"embed_with_model({text_col!r})"
    from pyspark.sql.functions import pandas_udf

    # Mutable closure cell so the pinned width survives ACROSS Arrow
    # batches: the worker deserializes the UDF once and reuses it for
    # every batch it serves, so drift between batches raises here.
    pinned_dim: list = [want_dim]

    @pandas_udf(ArrayType(FloatType()))
    def embed_udf(texts: pd.Series) -> pd.Series:
        vals = texts.tolist()
        vecs: list = [None] * len(vals)
        live = [i for i, t in enumerate(vals) if t is not None]
        for lo in range(0, len(live), bs):
            chunk = live[lo : lo + bs]
            out = _as_vectors(
                fn([str(vals[i]) for i in chunk]), len(chunk), what
            )
            for i, v in zip(chunk, out):
                if pinned_dim[0] is None:
                    pinned_dim[0] = int(v.shape[0])
                elif v.shape[0] != pinned_dim[0]:
                    raise ValueError(
                        f"{what}: vector dim {v.shape[0]} != "
                        f"expected {pinned_dim[0]}"
                    )
                vecs[i] = v
        return pd.Series(vecs, dtype=object)

    return df.withColumn(out_col, embed_udf(F.col(text_col)))

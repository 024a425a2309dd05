"""Trained quality classifier (SURVEY.md §2.B.11): the GPT-3 /
CCNet-family LEARNED quality filter — logistic regression over hashed
unigram+bigram frequency features, trained on labeled examples
("looks like the trusted corpus" vs "looks like raw crawl") and
applied corpus-wide as a probability column to threshold on.

This completes the quality-signal family the engine already carries:
heuristic scores (functions/text.py::quality_score_expr), reference-
LM perplexity (operators/selection.py::lm_cross_entropy), DSIR
importance weights (dsir_log_weights) — and now a supervised
classifier when labeled examples exist, which is what the GPT-3 data
pipeline actually used (an LR filter scoring similarity to the
WebText positives).

Plan shape, in the engine's standard cost model:

- FEATURIZE ONCE: one corpus scan — tokenize (the shared word
  tokenizer), unigram+bigram grams (selection.grams_expr, the
  zip_with fold), bucket each gram with the sha256 nibble-fold
  ``curation._hash_bucket`` (codegen JVM-side, and the same
  construction DSIR's SQL oracle replays digit-for-digit), then one
  Arrow-batched pass collapses each doc's bucket list to a SPARSE
  (indices, l1-normalized frequencies) pair. The featurized frame is
  ~tens of bytes per doc — THIS is what training iterates over, the
  raw text is never re-read.
- TRAIN: full-batch gradient descent; each iteration is one
  mapInPandas over the (persisted) feature frame computing a partial
  (gradient, loss, count) per partition with numpy scatter-adds,
  tree-folded IN THE EXECUTORS (treeAggregate) so the driver receives
  one (D+1)-float vector per iteration — the classic distributed-LR
  shape, driver memory O(D), corpus never collected. Train on a
  hash-split sample (curation.split_by_hash) when the labeled pool is
  huge; the classifier quality saturates long before corpus scale.
- SCORE: one fused pass (same featurization + a dot product against
  the broadcast weights inside a single Arrow batch loop) appending a
  ``quality_prob`` column — the filter is then a plain WHERE.

Determinism: featurization is bit-stable (sha256 buckets, exact
integer counts). The trained weights are float64 sums tree-folded in
scheduling order, so two runs agree to ~1e-12 relative — pinned by
parity tests against a single-process numpy reference implementation
rather than a value hash (the same convention as the KMeans-backed
IVF rows).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from snapflow_spark.operators.curation import _hash_bucket
from snapflow_spark.operators.retrieval import word_tokens_expr
from snapflow_spark.operators.selection import grams_expr

__all__ = [
    "QualityClassifier",
    "featurize_docs",
    "score_quality",
    "train_from_predicate",
    "train_quality_classifier",
]


class QualityClassifier:
    """Weights + featurization config. ``weights[:-1]`` are the bucket
    coefficients, ``weights[-1]`` the bias; save/load round-trips the
    whole model as one small JSON (a classifier is O(num_buckets)
    floats — driver/file-sized, unlike the corpus-sized IVF layout)."""

    def __init__(self, weights: np.ndarray, num_buckets: int, salt: str):
        self.weights = np.asarray(weights, dtype=np.float64)
        if self.weights.shape != (num_buckets + 1,):
            raise ValueError(
                f"weights must be ({num_buckets + 1},), got {self.weights.shape}"
            )
        self.num_buckets = int(num_buckets)
        self.salt = salt

    def save(self, path: str) -> None:
        import json

        with open(path, "w") as f:
            json.dump(
                {
                    "num_buckets": self.num_buckets,
                    "salt": self.salt,
                    "weights": self.weights.tolist(),
                },
                f,
            )

    @classmethod
    def load(cls, path: str) -> "QualityClassifier":
        import json

        with open(path) as f:
            d = json.load(f)
        return cls(np.array(d["weights"]), d["num_buckets"], d["salt"])


def featurize_docs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_buckets: int = 4096,
    salt: str = "qclf-v1",
    extra_cols: list[str] | None = None,
    tokens_col: str | None = None,
) -> DataFrame:
    """One corpus scan -> (id [, extra], idx array<int>, val
    array<double>): sparse per-doc hashed-gram L1-normalized
    frequencies. Bucketing runs in codegen (sha2/conv exprs over the
    zip_with gram arrays); only the final bincount-collapse is an
    Arrow batch pass. Docs with zero letter tokens get an empty
    feature list (they score sigmoid(bias) — the prior).

    ``tokens_col``: a PRE-TOKENIZED array column to featurize instead
    of tokenizing ``text_col`` — pass it when the surrounding query
    already pays word_tokens_expr for something else, so the corpus
    is tokenized once (the q_text_quality clf branch does)."""
    extra = list(extra_cols or [])
    if {"idx", "val"} & {id_col, *extra}:
        raise ValueError(
            "featurize_docs writes 'idx'/'val' feature columns; rename "
            "the input columns that collide"
        )
    toks = (
        F.col(tokens_col) if tokens_col is not None
        else word_tokens_expr(text_col)
    )
    # the bucketed-gram fragment is a pure function of the staged
    # "__toks" name + salt/buckets — memoized per context (round 18,
    # functions/fragments.py: ~150 round trips per construction)
    from snapflow_spark.functions.fragments import memo_fragment

    bkts = memo_fragment(
        ("classifier.bkts", "__toks", salt, num_buckets),
        lambda: F.coalesce(
            F.transform(
                grams_expr(F.col("__toks")),
                lambda g: _hash_bucket(g, salt, num_buckets).cast("int"),
            ),
            F.array().cast("array<int>"),
        ),
    )
    staged = docs.select(
        F.col(id_col), *extra, toks.alias("__toks")
    ).select(
        id_col, *extra,
        # coalesce: a NULL text yields NULL tokens/grams — treat as a
        # zero-feature doc (scores the bias prior), matching how the
        # DSIR/CE explode paths silently drop NULL-text rows instead
        # of dying in the Arrow batch
        bkts.alias("__bkts"),
    )

    def _collapse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # factorized: one np.unique over (row, bucket) composite keys
        # counts every doc's grams at once; the per-row tail is O(1)
        # boundary slicing, no python work proportional to gram count
        for pdf in batches:
            n = len(pdf)
            arrs = [np.asarray(x, dtype=np.int64) for x in pdf["__bkts"]]
            lens = np.array([a.size for a in arrs], dtype=np.int64)
            total = int(lens.sum())
            if total:
                flat = np.concatenate(arrs)
                row_ids = np.repeat(np.arange(n, dtype=np.int64), lens)
                uk, cnts = np.unique(
                    row_ids * num_buckets + flat, return_counts=True
                )
                urows = uk // num_buckets
                ucols = (uk % num_buckets).astype(np.int32)
                bounds = np.searchsorted(urows, np.arange(n + 1))
            else:
                ucols = np.empty(0, np.int32)
                cnts = np.empty(0, np.int64)
                bounds = np.zeros(n + 1, np.int64)
            idxs, vals = [], []
            for r in range(n):
                lo, hi = int(bounds[r]), int(bounds[r + 1])
                idxs.append(ucols[lo:hi])
                vals.append(cnts[lo:hi].astype(np.float64) / max(int(lens[r]), 1))
            out = pdf[[id_col, *extra]].copy()
            out["idx"] = idxs
            out["val"] = vals
            yield out

    fields = ", ".join(
        f"{f.name} {f.dataType.simpleString()}"
        for f in staged.schema.fields
        if f.name != "__bkts"
    )
    return staged.mapInPandas(
        _collapse, schema=f"{fields}, idx array<int>, val array<double>"
    )


def _flatten_sparse(pdf: pd.DataFrame):
    """(flat_idx, flat_val, row_ids, n) from a sparse-feature batch —
    the shared factorization for the gradient and scoring passes."""
    n = len(pdf)
    iarrs = [np.asarray(x, dtype=np.int64) for x in pdf["idx"]]
    varrs = [np.asarray(x, dtype=np.float64) for x in pdf["val"]]
    lens = np.array([a.size for a in iarrs], dtype=np.int64)
    if int(lens.sum()):
        flat_i = np.concatenate(iarrs)
        flat_v = np.concatenate(varrs)
    else:
        flat_i = np.empty(0, np.int64)
        flat_v = np.empty(0, np.float64)
    row_ids = np.repeat(np.arange(n, dtype=np.int64), lens)
    return flat_i, flat_v, row_ids, n


def _partial_grad(weights: np.ndarray, label_col: str):
    """Per-partition (gradient | bias-grad | loss | n) fold for one GD
    step — one float64 vector per partition through treeAggregate, all
    row math factorized into two bincounts per Arrow batch."""
    w = weights[:-1]
    b = weights[-1]
    d = w.shape[0]

    def fold(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        acc = np.zeros(d + 3, dtype=np.float64)
        seen = False
        for pdf in batches:
            seen = True
            ys = pdf[label_col].to_numpy(dtype=np.float64)
            flat_i, flat_v, row_ids, n = _flatten_sparse(pdf)
            z = b + np.bincount(
                row_ids, weights=w[flat_i] * flat_v, minlength=n
            )
            p = 1.0 / (1.0 + np.exp(-z))
            err = p - ys
            if flat_i.size:
                acc[:d] += np.bincount(
                    flat_i, weights=err[row_ids] * flat_v, minlength=d
                )
            acc[d] += err.sum()  # bias gradient
            pc = np.clip(p, 1e-12, 1 - 1e-12)  # finite log-loss
            acc[d + 1] -= (ys * np.log(pc) + (1 - ys) * np.log(1 - pc)).sum()
            acc[d + 2] += n
        if seen:
            yield pd.DataFrame({"acc": [acc.tobytes()]})

    return fold


def train_quality_classifier(
    docs: DataFrame,
    label_col: str = "label",
    text_col: str = "text",
    id_col: str = "doc_id",
    num_buckets: int = 4096,
    salt: str = "qclf-v1",
    iters: int = 30,
    lr: float = 1.0,
    l2: float = 1e-4,
) -> QualityClassifier:
    """Full-batch logistic regression on ``docs`` with a 0/1
    ``label_col`` (1 = high quality / trusted, 0 = reject class).
    Featurizes once, persists the sparse frame, then ``iters``
    executor-folded gradient steps (see module docstring). Returns
    the classifier; unpersists its working set before returning."""
    feats = featurize_docs(
        docs, text_col, id_col, num_buckets, salt, extra_cols=[label_col]
    ).select(label_col, "idx", "val").persist()
    try:
        n_docs = feats.count()  # materializes the persist
        if n_docs == 0:
            raise ValueError("cannot train on an empty corpus")
        distinct = {r[0] for r in feats.select(label_col).distinct().collect()}
        if not distinct <= {0, 1}:
            # key=str: NULL/mixed-type labels must not crash the error
            # message itself with an unorderable-types TypeError
            raise ValueError(
                f"labels must be 0/1, got {sorted(distinct, key=str)}"
            )
        d = int(num_buckets)
        weights = np.zeros(d + 1, dtype=np.float64)
        zero = np.zeros(d + 3, dtype=np.float64)
        for _ in range(int(iters)):
            partials = feats.mapInPandas(
                _partial_grad(weights, label_col), schema="acc binary"
            ).rdd.map(lambda r: np.frombuffer(bytes(r.acc), dtype=np.float64))
            total = partials.treeAggregate(
                zero, lambda a, b: a + b, lambda a, b: a + b, depth=2
            )
            n = max(total[d + 2], 1.0)
            grad = total[: d + 1] / n
            grad[:d] += l2 * weights[:d]  # L2 on coefficients, not bias
            weights = weights - lr * grad
        return QualityClassifier(weights, d, salt)
    finally:
        feats.unpersist()


def train_from_predicate(
    docs: DataFrame,
    positive_where: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_buckets: int = 4096,
    iters: int = 30,
    lr: float = 1.0,
    l2: float = 1e-4,
) -> QualityClassifier:
    """Train with positives defined by a SQL boolean over the input's
    columns (the core.dsir ``target_where`` convention): rows where
    the predicate is TRUE are the positive class, FALSE the reject
    class, NULL excluded from training. The one labeling rule shared
    by the ``core.quality_filter`` YAML builtin and the
    ``train-quality`` CLI so the two can never drift."""
    labeled = docs.withColumn(
        "__label", F.expr(positive_where).cast("boolean").cast("int")
    )
    return train_quality_classifier(
        labeled.where(F.col("__label").isNotNull()),
        label_col="__label",
        text_col=text_col,
        id_col=id_col,
        num_buckets=num_buckets,
        iters=iters,
        lr=lr,
        l2=l2,
    )


def score_quality(
    df: DataFrame,
    clf: QualityClassifier,
    text_col: str = "text",
    id_col: str = "doc_id",
    out_col: str = "quality_prob",
    tokens_col: str | None = None,
) -> DataFrame:
    """Append ``out_col`` = P(high quality) per document: the same
    one-scan featurization fused with a broadcast-weights dot product
    (the weights ride the UDF closure once per executor). Filtering
    is then ``df.where(F.col(out_col) >= t)`` — plain codegen.
    ``tokens_col`` forwards to featurize_docs (share a pre-tokenized
    column; it is consumed, not passed through)."""
    if out_col in df.columns:
        raise ValueError(
            f"score_quality output column {out_col!r} already exists on "
            "the input; drop or rename it (re-scoring after a model "
            "refresh should drop the stale column first)"
        )
    w = clf.weights[:-1].copy()
    b = float(clf.weights[-1])

    def _score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            flat_i, flat_v, row_ids, n = _flatten_sparse(pdf)
            z = b + np.bincount(
                row_ids, weights=w[flat_i] * flat_v, minlength=n
            )
            out = pdf.drop(columns=["idx", "val"])
            out[out_col] = 1.0 / (1.0 + np.exp(-z))
            yield out

    passthrough = [
        c for c in df.columns if c != id_col and c != tokens_col
    ]
    feats = featurize_docs(
        df, text_col, id_col, clf.num_buckets, clf.salt,
        extra_cols=passthrough,
        tokens_col=tokens_col,
    )
    fields = ", ".join(
        f"{f.name} {f.dataType.simpleString()}"
        for f in feats.schema.fields
        if f.name not in ("idx", "val")
    )
    return feats.mapInPandas(_score, schema=f"{fields}, {out_col} double")


def pareto_noise_keep(
    score_col: str = "quality_prob",
    id_col: str = "doc_id",
    alpha: float = 9.0,
    salt: str = "pareto",
) -> Column:
    """The GPT-3 document-filtering rule (Appendix A): rather than a
    hard cliff at a score threshold, keep a document iff

        score > 1 - X,   X ~ Pareto(alpha)

    (numpy.random.pareto's Lomax form, survival (1+x)^-alpha) — so
    high-score docs are almost always kept, boundary docs are admitted
    at a smoothly-decaying rate P(keep) = (2 - score)^-alpha, and even
    low-score docs keep a heavy-tailed trickle (the paper's stated
    reason: some in-distribution docs score poorly and a cliff would
    systematically exclude whole genres).

    Deterministic in the engine's standard way: the noise draw derives
    from sha256(salt || id) — u = first-8-hex / 2^32, X by inverse CDF
    (1-u)^(-1/alpha) - 1 — never rand(), so the keep DECISION is
    bit-stable across repartitions, reruns, and engines (a SQL oracle
    replays the identical expression). All codegen, no UDF. Returns a
    boolean Column to pass to ``where``."""
    if alpha <= 0:
        raise ValueError(f"pareto alpha must be > 0: {alpha}")
    u = (
        F.conv(
            F.substring(
                F.sha2(
                    F.concat(F.lit(salt), F.col(id_col).cast("string")), 256
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("double")
        / F.lit(float(2**32))
    )
    x = F.pow(F.lit(1.0) - u, F.lit(-1.0 / float(alpha))) - F.lit(1.0)
    return F.col(score_col) > (F.lit(1.0) - x)

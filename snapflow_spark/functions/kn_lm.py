"""Interpolated Kneser-Ney bigram language model — the published
CCNet-grade LM for perplexity filtering (Wenzek et al. 2020 rank
documents by LM perplexity under a model trained on a trusted
corpus; their LM is KenLM's modified Kneser-Ney).  Both published
variants, from scratch:

INTERPOLATED KN (Kneser & Ney 1995; Chen & Goodman 1998 eq.
4.15-4.26), one absolute discount:

    P(w|u) = max(c(u,w) - D, 0)/c(u) + D·N1+(u,·)/c(u) · Pcont(w)
    Pcont(w) = (max(N1+(·,w) - D, 0) + D·T/(V+1)) / N1+(·,·)
    D = n1 / (n1 + 2·n2)            (Ney, Essen & Kneser 1994)

MODIFIED KN (Chen & Goodman 1998 §5.2.2 eq. 26 — KenLM's default),
three count-conditioned discounts per level:

    Y  = n1 / (n1 + 2·n2)
    D1 = 1 - 2·Y·n2/n1    D2 = 2 - 3·Y·n3/n2    D3+ = 3 - 4·Y·n4/n3
    P(w|u) = max(c(u,w) - D(c(u,w)), 0)/c(u) + λ(u)·Pcont(w)
    λ(u)   = (D1·N1(u,·) + D2·N2(u,·) + D3+·N3+(u,·)) / c(u)

with the SAME construction applied to the continuation level (its
own counts-of-counts over N1+(·,w)), and the lowest order floored
uniformly over V+1 events (the +1 is the unseen-word bucket, so OOV
gets non-zero mass, never a hard zero).  Every level telescopes to
exactly 1 in both variants — asserted in tests; degenerate
counts-of-counts (a tiny corpus with no count-2 bigrams, say) fall
back per-discount to the single-D estimate, documented and tested.

Relationship to the hashed-gram LM (operators/selection.py): that
model is a BAG of hashed grams — order-insensitive, oracle-
replayable, zero vocabulary state; this one CONDITIONS on the
previous word, so a document built from frequent words in an
unseen order scores badly here and fine there.  CCNet's published
bucketing uses the conditional form; keep the hashed model where
hash-matched replay matters and this where fidelity to the
published recipe matters.

Scale shape (the BPE/unigram trainer convention): training is ONE
corpus-scale Spark stage — tokenize with the engine's shared
``word_tokens_expr`` (so train and score see the same tokens),
``<s>``-prefix, bigrams as a zip_with over shifted slices (the
round-5 expression-perf lesson), explode + map-side-combined
groupBy — and the learning happens on the collected bigram-count
dict, BOUNDED by ``min_word_count``/``max_vocab`` pruning exactly
like KenLM's --prune/--vocab_estimate: rare words collapse to
``<unk>`` BEFORE bigram formation, so the driver dict is capped by
construction, not by hope.  Scoring is a broadcast of that dict
into one Arrow-batched pass over Spark-tokenized arrays (map-only,
no shuffle).
"""

from __future__ import annotations

import json
import math
from dataclasses import dataclass, field

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = [
    "KNBigramLM",
    "KNGramLM",
    "load_lm",
    "load_tokenizer",
    "train_kn_bigram",
    "train_kn_ngram",
]

_BOS = "<s>"
_UNK = "<unk>"
_SEP = "\x1f"  # unit separator: cannot appear in \p{L}+ tokens


def _bigram_pairs_expr(toks: Column) -> Column:
    """``u\\x1fw`` strings for consecutive token pairs of the
    <s>-prefixed token array — zip_with over two shifted slices
    (array-copy-free, the round-5 n-gram lesson)."""
    with_bos = F.concat(F.array(F.lit(_BOS)), toks)
    n = F.size(with_bos)
    return F.zip_with(
        F.slice(with_bos, 1, n - 1),
        F.slice(with_bos, 2, n - 1),
        lambda u, w: F.concat_ws(_SEP, u, w),
    )


def _modified_discounts(nc: dict, fallback: float) -> tuple:
    """(D1, D2, D3+) from counts-of-counts {1: n1, 2: n2, ...} —
    Chen & Goodman eq. 26; any discount whose formula divides by a
    missing count falls back to the single-D estimate (tiny-corpus
    degeneracy, the same guard KenLM refuses on)."""
    n1, n2, n3, n4 = (nc.get(i, 0) for i in (1, 2, 3, 4))
    if n1 == 0 or (n1 + 2 * n2) == 0:
        return (fallback, fallback, fallback)
    y = n1 / (n1 + 2 * n2)
    d1 = 1 - 2 * y * n2 / n1
    d2 = 2 - 3 * y * n3 / n2 if n2 else fallback
    d3 = 3 - 4 * y * n4 / n3 if n3 else fallback
    # The eq.-26 estimates assume corpus-scale counts-of-counts and
    # leave (0, level] on small data (3·Y·n3/n2 > 2 with many
    # count-3 types gives a NEGATIVE D2) — a boundary clamp would
    # zero a level's backoff mass (λ(u)=0 → P(unseen|u)=0 → -inf),
    # so out-of-range discounts fall back to the single-D estimate,
    # which is always in (0, 1) and keeps every level total.  The
    # telescoping normalization holds for ANY 0 < D(c) <= c, so the
    # fallback preserves exactness (KenLM instead refuses outright).
    return tuple(
        d if 0.0 < d <= lvl else min(fallback, lvl)
        for d, lvl in ((d1, 1.0), (d2, 2.0), (d3, 3.0))
    )


def _disc(ds: tuple, c: int) -> float:
    if c <= 0:
        return 0.0
    return ds[0] if c == 1 else ds[1] if c == 2 else ds[2]


@dataclass(frozen=True)
class KNBigramLM:
    """Frozen trained model: everything scoring needs, JSON-round-
    trippable.  ``c_uw`` keys are ``u\\x1fw``; ``<s>`` appears only
    as a context, ``<unk>`` (when pruning was active) on both
    sides.  ``modified=False``: single discount ``d``;
    ``modified=True``: ``ds``/``cont_ds`` three-discount tuples,
    ``lam_u`` the per-context discount mass, ``cont_mass`` the
    continuation level's total discount mass."""

    d: float  # the single absolute discount (also the fallback)
    c_u: dict  # context -> token count
    c_uw: dict  # "u<US>w" -> bigram count
    n1p_u: dict  # context -> N1+(u, ·) distinct continuations
    cont: dict  # word -> N1+(·, w) distinct left-contexts
    n_cont: int  # N1+(·,·) = total bigram types
    v: int  # distinct predicted word types (excl <s>)
    modified: bool = False
    ds: tuple = ()  # (D1, D2, D3+) bigram level
    cont_ds: tuple = ()  # (D1, D2, D3+) continuation level
    lam_u: dict = field(default_factory=dict)  # context -> Σ D(c(u,·))
    cont_mass: float = 0.0  # Σ_w D(cont(w))

    def _p_cont(self, w: str) -> float:
        if self.modified:
            cw = self.cont.get(w, 0)
            return (
                max(cw - _disc(self.cont_ds, cw), 0.0)
                + self.cont_mass / (self.v + 1)
            ) / self.n_cont
        t = len(self.cont)
        return (
            max(self.cont.get(w, 0) - self.d, 0.0)
            + self.d * t / (self.v + 1)
        ) / self.n_cont

    def logp(self, u: str, w: str) -> float:
        """ln P(w|u), interpolated (or modified) KN with uniform-
        floored continuation — total, never -inf."""
        p_cont = self._p_cont(w)
        cu = self.c_u.get(u, 0)
        if cu <= 0:
            return math.log(p_cont)
        cuw = self.c_uw.get(u + _SEP + w, 0)
        if self.modified:
            p = (
                max(cuw - _disc(self.ds, cuw), 0.0) / cu
                + self.lam_u[u] / cu * p_cont
            )
        else:
            p = (
                max(cuw - self.d, 0.0) / cu
                + self.d * self.n1p_u[u] / cu * p_cont
            )
        return math.log(p)

    def cross_entropy(self, tokens: list) -> tuple[int, float]:
        """(n_grams, ce) for one document's token list: mean
        -ln P(w_i|w_{i-1}) over the <s>-prefixed chain, with OOV
        tokens mapped to <unk> when the model was vocab-pruned."""
        if not tokens:
            return 0, 0.0
        if _UNK in self.cont:
            known = self.c_u
            tokens = [t if t in known or t in self.cont else _UNK for t in tokens]
        total = 0.0
        prev = _BOS
        for w in tokens:
            total -= self.logp(prev, w)
            prev = w
        return len(tokens), total / len(tokens)

    # ------------------------------------------------- persistence
    def save(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as f:
            json.dump(
                {
                    "kind": "kn_bigram",
                    "d": self.d,
                    "modified": self.modified,
                    "c_uw": self.c_uw,
                    "v": self.v,
                },
                f,
                ensure_ascii=False,
            )

    @staticmethod
    def load(path: str) -> "KNBigramLM":
        with open(path, encoding="utf-8") as f:
            d = json.load(f)
        if d.get("kind") != "kn_bigram":
            raise ValueError(f"not a kn_bigram artifact: {path}")
        return KNBigramLM.from_counts(
            d["c_uw"], d=d["d"], modified=bool(d.get("modified"))
        )

    @staticmethod
    def from_counts(
        c_uw: dict, d: float | None = None, modified: bool = False
    ) -> "KNBigramLM":
        """Derive every table from the bigram-count dict — the one
        piece of trained state; discounts estimated from counts of
        counts unless the single ``d`` is given."""
        if not c_uw:
            raise ValueError("kn_bigram: no bigrams to train on")
        c_u: dict = {}
        n1p_u: dict = {}
        cont: dict = {}
        nc: dict = {}  # bigram counts-of-counts
        for key, c in c_uw.items():
            u, _, w = key.partition(_SEP)
            c_u[u] = c_u.get(u, 0) + c
            n1p_u[u] = n1p_u.get(u, 0) + 1
            cont[w] = cont.get(w, 0) + 1
            if c <= 4:
                nc[c] = nc.get(c, 0) + 1
        n1, n2 = nc.get(1, 0), nc.get(2, 0)
        # n1 == 0 would make the estimate 0 and zero the backoff mass
        single = n1 / (n1 + 2 * n2) if n1 > 0 else 0.5
        if d is None:
            d = single
        ds = cont_ds = ()
        lam_u: dict = {}
        cont_mass = 0.0
        if modified:
            ds = _modified_discounts(nc, single)
            # per-context discount mass: λ(u)·c(u) = Σ_w D(c(u,w))
            for key, c in c_uw.items():
                u = key.partition(_SEP)[0]
                lam_u[u] = lam_u.get(u, 0.0) + _disc(ds, c)
            # continuation level: its own counts-of-counts
            mc: dict = {}
            for cw in cont.values():
                if cw <= 4:
                    mc[cw] = mc.get(cw, 0) + 1
            m1, m2 = mc.get(1, 0), mc.get(2, 0)
            # per-LEVEL degenerate fallback (0.5), matching KNGramLM's
            # level-1 rule so order-2 parity holds on any corpus
            cont_single = m1 / (m1 + 2 * m2) if m1 > 0 else 0.5
            cont_ds = _modified_discounts(mc, cont_single)
            cont_mass = sum(_disc(cont_ds, cw) for cw in cont.values())
        return KNBigramLM(
            d=float(d),
            c_u=c_u,
            c_uw=dict(c_uw),
            n1p_u=n1p_u,
            cont=cont,
            n_cont=len(c_uw),
            v=len(cont),
            modified=bool(modified),
            ds=ds,
            cont_ds=cont_ds,
            lam_u=lam_u,
            cont_mass=cont_mass,
        )

    # ------------------------------------------------ Spark scoring
    def score(
        self,
        df: DataFrame,
        text_col: str = "text",
        id_col: str = "doc_id",
        attach: bool = False,
    ) -> DataFrame:
        """(id_col, n_grams, cross_entropy, ppl) — same shape and
        rounding as operators.selection.lm_cross_entropy, so the two
        scorers are drop-in swaps for perplexity_buckets.  Tokens
        come from the engine's ``word_tokens_expr`` (the SAME
        tokenizer training used), the model rides an executor-wide
        broadcast, and the pass is one Arrow-batched map — no
        shuffle, no corpus-side join.  ``attach=True`` keeps every
        input column and ADDS the three score columns instead of
        projecting them out — the streaming-gate form (a later join
        back would need watermarks; a map-only attach composes on
        streams unchanged)."""
        from pyspark.sql.functions import pandas_udf

        from snapflow_spark.operators.retrieval import word_tokens_expr

        spark = df.sparkSession
        bc = spark.sparkContext.broadcast(self)

        @pandas_udf("struct<n_grams: bigint, ce: double>")
        def ce_udf(toks: pd.Series) -> pd.DataFrame:
            lm = bc.value
            rows = [
                lm.cross_entropy([] if t is None else list(t)) for t in toks
            ]
            return pd.DataFrame(rows, columns=["n_grams", "ce"])

        base = (
            df.withColumn("__toks", word_tokens_expr(text_col))
            if attach
            else df.select(
                F.col(id_col), word_tokens_expr(text_col).alias("__toks")
            )
        )
        staged = base.withColumn("__s", ce_udf("__toks"))
        out = (
            staged.withColumns(
                {
                    "n_grams": F.col("__s.n_grams"),
                    "cross_entropy": F.round(F.col("__s.ce"), 6),
                }
            )
            .drop("__toks", "__s")
            .withColumn("ppl", F.round(F.exp("cross_entropy"), 6))
        )
        if attach:
            return out
        return out.select(id_col, "n_grams", "cross_entropy", "ppl")


def train_kn_bigram(
    ref: DataFrame,
    text_col: str = "text",
    min_word_count: int = 1,
    max_vocab: int | None = None,
    min_bigram_count: int = 1,
    modified: bool = False,
) -> KNBigramLM:
    """Fit the interpolated-KN (or, with ``modified=True``, the
    modified-KN / KenLM-default) bigram model on a reference corpus.

    ONE corpus-scale stage when unpruned (bigram explode + counted
    groupBy, map-side combined); with ``min_word_count``/
    ``max_vocab`` a prior word-count stage builds the kept-vocab set
    (KenLM's practical pruning — CCNet trains on a bounded trusted
    corpus, but the knobs make the driver dict size a CONTRACT) and
    out-of-vocab tokens collapse to ``<unk>`` BEFORE bigram
    formation, so pruning changes the model, not just its storage.
    ``min_bigram_count`` additionally drops rare bigram TYPES from
    the stored table after counting (their mass reaches scoring
    through the discount/backoff terms only — the standard count
    cutoff, off by default)."""
    from snapflow_spark.operators.retrieval import word_tokens_expr

    staged = ref.select(word_tokens_expr(text_col).alias("__toks"))
    if min_word_count > 1 or max_vocab is not None:
        wc = (
            staged.select(F.explode("__toks").alias("w"))
            .groupBy("w")
            .agg(F.count(F.lit(1)).alias("c"))
            .where(F.col("c") >= int(min_word_count))
        )
        if max_vocab is not None:
            wc = wc.orderBy(F.col("c").desc(), F.col("w")).limit(
                int(max_vocab)
            )
        kept = {r.w for r in wc.collect()}  # bounded by max_vocab/cutoff
        bc_kept = ref.sparkSession.sparkContext.broadcast(kept)
        from pyspark.sql.functions import pandas_udf

        @pandas_udf("array<string>")
        def map_unk(toks: pd.Series) -> pd.Series:
            k = bc_kept.value
            return toks.apply(
                lambda ts: [t if t in k else _UNK for t in ts]
            )

        staged = staged.select(map_unk("__toks").alias("__toks"))
    counts = (
        staged.where(F.size("__toks") > 0)
        .select(F.explode(_bigram_pairs_expr(F.col("__toks"))).alias("uw"))
        .groupBy("uw")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    if min_bigram_count > 1:
        counts = counts.where(F.col("c") >= int(min_bigram_count))
    c_uw = {r.uw: int(r.c) for r in counts.collect()}
    return KNBigramLM.from_counts(c_uw, modified=modified)


# --- general order-n Kneser-Ney (round 11) ---------------------------


def _ngram_join_expr(toks: Column, n: int) -> Column:
    """``w1␟w2␟…␟wn`` strings for every n-gram of the
    (n-1)×<s>-prefixed token array — a fold of zip_with over n
    shifted slices (never transform+slice, the round-5 lesson)."""
    pad = F.array(*[F.lit(_BOS)] * (n - 1))
    arr = F.concat(pad, toks)
    m = F.size(arr) - (n - 1)  # number of n-grams = number of tokens
    out = F.slice(arr, 1, m)
    for j in range(1, n):
        out = F.zip_with(
            out,
            F.slice(arr, j + 1, m),
            lambda a, b: F.concat_ws(_SEP, a, b),
        )
    return out


@dataclass(frozen=True)
class KNGramLM:
    """General order-n interpolated/modified Kneser-Ney — the full
    KenLM construction (Chen & Goodman 1998 §4.1.6/§5.2.2): the
    HIGHEST level uses raw n-gram counts; every LOWER level uses
    CONTINUATION counts (c_k(g) = |{x : c_{k+1}(x·g) > 0}| — "how
    many distinct words precede g"), each level carries its own
    counts-of-counts-estimated discounts (one D per level, or the
    modified D1/D2/D3+ triple), and the unigram level floors
    uniformly over V+1 events so OOV stays total.  An unseen
    context at level k backs off wholesale to level k-1 — the
    recursion KenLM queries.  ``order=2`` reproduces KNBigramLM
    EXACTLY (asserted in tests: same tables, same probabilities),
    which cross-validates both constructions.

    Tables live per level: ``counts[k]`` (``␟``-joined k-grams),
    ``tot[k]`` (context totals), ``lam[k]`` (context discount mass),
    ``ds[k]`` (that level's discounts).  Driver memory is bounded by
    the same vocab-pruning contract as the bigram trainer; the
    top-level n-gram type dict is the one corpus-scale collect."""

    order: int
    modified: bool
    v: int  # distinct predicted word types
    counts: dict  # level k -> {k-gram: count}
    tot: dict  # level k (>=2) -> {context: Σ counts}
    lam: dict  # level k (>=2) -> {context: Σ D_k(c)}
    ds: dict  # level k -> (D1, D2, D3+) — degenerate triple if single
    mass1: float  # Σ_w D_1(c_1(w))
    tot1: int  # Σ_w c_1(w)

    def _p(self, k: int, ctx: tuple, w: str) -> float:
        if k == 1:
            c = self.counts[1].get(w, 0)
            return (
                max(c - _disc(self.ds[1], c), 0.0)
                + self.mass1 / (self.v + 1)
            ) / self.tot1
        key = _SEP.join(ctx)
        tot = self.tot[k].get(key, 0)
        lower = self._p(k - 1, ctx[1:], w)
        if tot <= 0:
            return lower
        c = self.counts[k].get(key + _SEP + w, 0)
        return (
            max(c - _disc(self.ds[k], c), 0.0) / tot
            + self.lam[k][key] / tot * lower
        )

    def logp(self, ctx: tuple, w: str) -> float:
        """ln P(w | ctx) with ctx the previous order-1 words
        (shorter tuples are <s>-padded on the left)."""
        ctx = tuple(ctx)[-(self.order - 1):]
        if len(ctx) < self.order - 1:
            ctx = (_BOS,) * (self.order - 1 - len(ctx)) + ctx
        return math.log(self._p(self.order, ctx, w))

    def cross_entropy(self, tokens: list) -> tuple[int, float]:
        if not tokens:
            return 0, 0.0
        if _UNK in self.counts[1]:
            known = self.counts[1]
            tokens = [t if t in known else _UNK for t in tokens]
        total = 0.0
        ctx = (_BOS,) * (self.order - 1)
        for w in tokens:
            total -= self.logp(ctx, w)
            ctx = ctx[1:] + (w,)
        return len(tokens), total / len(tokens)

    # ------------------------------------------------- persistence
    def save(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as f:
            json.dump(
                {
                    "kind": "kn_ngram",
                    "order": self.order,
                    "modified": self.modified,
                    "c_top": self.counts[self.order],
                },
                f,
                ensure_ascii=False,
            )

    @staticmethod
    def load(path: str) -> "KNGramLM":
        with open(path, encoding="utf-8") as f:
            d = json.load(f)
        if d.get("kind") != "kn_ngram":
            raise ValueError(f"not a kn_ngram artifact: {path}")
        return KNGramLM.from_counts(
            d["c_top"], int(d["order"]), modified=bool(d.get("modified"))
        )

    @staticmethod
    def from_counts(
        c_top: dict, order: int, modified: bool = True
    ) -> "KNGramLM":
        """Derive every level from the top-level n-gram count dict —
        the one piece of trained state."""
        if order < 2:
            raise ValueError(f"kn_ngram needs order >= 2, got {order}")
        if not c_top:
            raise ValueError("kn_ngram: no n-grams to train on")
        counts: dict = {order: dict(c_top)}
        # continuation counts downward: distinct one-word-left
        # extensions of each suffix
        for k in range(order - 1, 0, -1):
            lower: dict = {}
            for key in counts[k + 1]:
                suffix = key.split(_SEP, 1)[1]
                lower[suffix] = lower.get(suffix, 0) + 1
            counts[k] = lower
        tot: dict = {}
        lam: dict = {}
        ds: dict = {}
        for k in range(2, order + 1):
            nc: dict = {}
            for c in counts[k].values():
                if c <= 4:
                    nc[c] = nc.get(c, 0) + 1
            n1, n2 = nc.get(1, 0), nc.get(2, 0)
            single = n1 / (n1 + 2 * n2) if n1 > 0 else 0.5
            ds[k] = (
                _modified_discounts(nc, single)
                if modified
                else (single, single, single)
            )
            t_k: dict = {}
            l_k: dict = {}
            for key, c in counts[k].items():
                ctx = key.rsplit(_SEP, 1)[0]
                t_k[ctx] = t_k.get(ctx, 0) + c
                l_k[ctx] = l_k.get(ctx, 0.0) + _disc(ds[k], c)
            tot[k] = t_k
            lam[k] = l_k
        mc: dict = {}
        for c in counts[1].values():
            if c <= 4:
                mc[c] = mc.get(c, 0) + 1
        m1, m2 = mc.get(1, 0), mc.get(2, 0)
        single1 = m1 / (m1 + 2 * m2) if m1 > 0 else 0.5
        ds[1] = (
            _modified_discounts(mc, single1)
            if modified
            else (single1, single1, single1)
        )
        mass1 = sum(_disc(ds[1], c) for c in counts[1].values())
        return KNGramLM(
            order=order,
            modified=bool(modified),
            v=len(counts[1]),
            counts=counts,
            tot=tot,
            lam=lam,
            ds=ds,
            mass1=mass1,
            tot1=sum(counts[1].values()),
        )

    # ------------------------------------------------ Spark scoring
    def score(
        self,
        df: DataFrame,
        text_col: str = "text",
        id_col: str = "doc_id",
        attach: bool = False,
    ) -> DataFrame:
        """Same contract as KNBigramLM.score (incl. ``attach=True``
        keeping every input column — the streaming-gate form) — one
        Arrow-batched map over Spark-tokenized arrays, model on an
        executor-wide broadcast, (id, n_grams, cross_entropy, ppl)
        out."""
        from pyspark.sql.functions import pandas_udf

        from snapflow_spark.operators.retrieval import word_tokens_expr

        spark = df.sparkSession
        bc = spark.sparkContext.broadcast(self)

        @pandas_udf("struct<n_grams: bigint, ce: double>")
        def ce_udf(toks: pd.Series) -> pd.DataFrame:
            lm = bc.value
            rows = [
                lm.cross_entropy([] if t is None else list(t)) for t in toks
            ]
            return pd.DataFrame(rows, columns=["n_grams", "ce"])

        base = (
            df.withColumn("__toks", word_tokens_expr(text_col))
            if attach
            else df.select(
                F.col(id_col), word_tokens_expr(text_col).alias("__toks")
            )
        )
        staged = base.withColumn("__s", ce_udf("__toks"))
        out = (
            staged.withColumns(
                {
                    "n_grams": F.col("__s.n_grams"),
                    "cross_entropy": F.round(F.col("__s.ce"), 6),
                }
            )
            .drop("__toks", "__s")
            .withColumn("ppl", F.round(F.exp("cross_entropy"), 6))
        )
        if attach:
            return out
        return out.select(id_col, "n_grams", "cross_entropy", "ppl")


def load_lm(path: str):
    """Artifact-kind dispatch: kn_bigram -> KNBigramLM, kn_ngram ->
    KNGramLM — the one loader YAML (core.ppl_buckets lm:) and CLIs
    go through."""
    with open(path, encoding="utf-8") as f:
        kind = json.load(f).get("kind")
    if kind == "kn_bigram":
        return KNBigramLM.load(path)
    if kind == "kn_ngram":
        return KNGramLM.load(path)
    raise ValueError(f"not a known LM artifact kind ({kind!r}): {path}")


def load_tokenizer(path: str):
    """Artifact-kind dispatch for the trained tokenizers, as written by
    the `train-unigram` / `train-wordpiece` / `train-byte-bpe` /
    `train-bpe` CLIs: ``model_type`` unigram -> UnigramTokenizer,
    ``kind`` wordpiece -> WordPieceTokenizer, ``kind`` byte_bpe ->
    ByteBPETokenizer, else (``merges``) char BPETokenizer — the one
    loader YAML (core.tokenize) and the `tokenizer-stats` CLI go
    through."""
    with open(path, encoding="utf-8") as f:
        head = json.load(f)
    if head.get("model_type") == "unigram":
        from snapflow_spark.functions.unigram import UnigramTokenizer as cls
    elif head.get("kind") == "wordpiece":
        from snapflow_spark.functions.wordpiece import WordPieceTokenizer as cls
    elif head.get("kind") == "byte_bpe":
        from snapflow_spark.functions.byte_bpe import ByteBPETokenizer as cls
    else:
        from snapflow_spark.functions.bpe import BPETokenizer as cls
    return cls.load(path)


def train_kn_ngram(
    ref: DataFrame,
    order: int = 3,
    text_col: str = "text",
    min_word_count: int = 1,
    max_vocab: int | None = None,
    modified: bool = True,
    min_gram_count: int = 1,
    max_gram_types: int = 5_000_000,
) -> KNGramLM:
    """Fit the order-n KN model: same contract as train_kn_bigram
    (shared tokenizer, <s> padding, vocab pruning to <unk> BEFORE
    gram formation, ONE corpus-scale counted-explode stage), with
    the n-gram fold generalized via _ngram_join_expr.

    The driver dict is n-gram TYPES, which vocab pruning alone does
    not bound at order 3+ (V³ worst case) — so the collect is a
    CONTRACT: ``min_gram_count`` drops rare gram types first
    (KenLM's --prune; their mass reaches scoring through the
    discount terms only), and if the surviving type count still
    exceeds ``max_gram_types`` the trainer raises with the knobs to
    turn instead of silently OOMing the driver."""
    from snapflow_spark.operators.retrieval import word_tokens_expr

    staged = ref.select(word_tokens_expr(text_col).alias("__toks"))
    if min_word_count > 1 or max_vocab is not None:
        wc = (
            staged.select(F.explode("__toks").alias("w"))
            .groupBy("w")
            .agg(F.count(F.lit(1)).alias("c"))
            .where(F.col("c") >= int(min_word_count))
        )
        if max_vocab is not None:
            wc = wc.orderBy(F.col("c").desc(), F.col("w")).limit(
                int(max_vocab)
            )
        kept = {r.w for r in wc.collect()}
        bc_kept = ref.sparkSession.sparkContext.broadcast(kept)
        from pyspark.sql.functions import pandas_udf

        @pandas_udf("array<string>")
        def map_unk(toks: pd.Series) -> pd.Series:
            k = bc_kept.value
            return toks.apply(
                lambda ts: [t if t in k else _UNK for t in ts]
            )

        staged = staged.select(map_unk("__toks").alias("__toks"))
    counts = (
        staged.where(F.size("__toks") > 0)
        .select(
            F.explode(_ngram_join_expr(F.col("__toks"), int(order))).alias(
                "g"
            )
        )
        .groupBy("g")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    if min_gram_count > 1:
        counts = counts.where(F.col("c") >= int(min_gram_count))
    # persist across the guard-count + collect pair so the OOM guard
    # doesn't pay the corpus-scale tokenize+explode+groupBy twice
    counts = counts.persist()
    try:
        n_types = counts.count()
        if n_types > int(max_gram_types):
            raise ValueError(
                f"train_kn_ngram: {n_types} order-{order} gram types "
                f"exceed max_gram_types={max_gram_types} — raise "
                f"min_gram_count / min_word_count / max_vocab (or "
                f"max_gram_types if the driver really has the memory) "
                f"before collecting"
            )
        c_top = {r.g: int(r.c) for r in counts.collect()}
    finally:
        counts.unpersist()
    return KNGramLM.from_counts(c_top, int(order), modified=modified)

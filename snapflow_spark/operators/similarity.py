"""Vector similarity search (SURVEY.md §2.B.11; PAPERS.md top-k
similarity corpus).

- brute_force_topk: exact cosine top-k — the correctness baseline and
  the oracle-hashable path. One scan, per-partition heaps
  (TakeOrderedAndProject), no UDF: fine up to ~10^7 vectors per probe.
- IVFIndex: IVF (inverted-file) scale path — partition the corpus
  by nearest centroid once, search only the nprobe closest cells. At
  100 TB the corpus is written partitioned by centroid id, so a probe
  reads nprobe/k of the data (partition pruning does the rest).
- IVFPQIndex: the standing IVF-PQ index (IVFIndex cells + PQCodec
  m-byte codes, encoded once): searches ADC-scan the stored codes of
  the probed cells and exact-re-rank the survivors.
- embedding_near_dup_pairs_int: cosine-threshold near-dup pairs via
  signed-random-projection LSH with integer (oracle-replayable) sign
  bits; semantic_dedup's default blocking.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from snapflow_spark.catalog import ensure_parallelism
from snapflow_spark.functions.vectors import (
    cosine_similarity,  # noqa: F401 — re-exported operator API
    cosine_vs_normed,
    l2_norm,
)
from snapflow_spark.operators.buckets import bucketed_pairs
from snapflow_spark.operators.topk import grouped_topk, topk


def brute_force_topk(
    corpus: DataFrame,
    probes: DataFrame,
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    probe_id_col: str = "probe_id",
    single_probe: bool = False,
) -> DataFrame:
    """Exact cosine top-k neighbors for every probe row. The probe set
    is broadcast (it is small by construction); the corpus never
    shuffles. Returns (probe_id, vec_id, cos) with deterministic
    tie-break on vec_id.

    ``single_probe=True`` (caller guarantees exactly one probe row)
    plans the ranking as global top-k — TakeOrderedAndProject: each
    partition keeps its local k, the driver merges N_partitions×k —
    instead of a one-group window that shuffles every scored row to a
    single task. Same rows, strictly better plan for one probe."""
    # probe norm computed ONCE on the broadcast side (round 17): the
    # old per-row cosine re-ran the probe's 64-element norm fold on
    # every scored corpus row; cosine_vs_normed is float-identical.
    p = F.broadcast(
        probes.select(
            F.col(probe_id_col), F.col(vec_col).alias("__probe_vec")
        ).withColumn("__probe_norm", l2_norm(F.col("__probe_vec")))
    )
    scored = ensure_parallelism(corpus).select(id_col, vec_col).crossJoin(p).select(
        probe_id_col,
        id_col,
        cosine_vs_normed(vec_col, "__probe_vec", "__probe_norm").alias("cos"),
    )
    if single_probe:
        return topk(scored, [F.col("cos").desc(), F.col(id_col).asc()], k)
    return grouped_topk(
        scored, [probe_id_col], [F.col("cos").desc(), F.col(id_col).asc()], k
    )


def _sampled_vectors(corpus: DataFrame, vec_col: str, train_sample: int, seed: int):
    """One seeded uniform sample of the corpus vectors, collected to a
    (n, dim) float64 array — the shared training input for IVF coarse
    quantizers and PQ codebooks (IVFPQIndex.build collects it ONCE and
    feeds both trainers). Not limit(): limit pulls whole leading
    partitions, which biases the quantizer if the corpus is stored
    clustered. count() on parquet is metadata-only. The sampled
    fraction overshoots ~20% and is cut back to train_sample with a
    seeded shuffle AFTER collect (a .limit() on the sampled stream
    would reintroduce the leading-partition bias driver-side)."""
    import numpy as np

    n = corpus.count()
    vecs = corpus.select(vec_col)
    if n > train_sample:
        vecs = vecs.sample(
            withReplacement=False, fraction=min(1.0, 1.2 * train_sample / n), seed=seed
        )
    sample = np.asarray([r[0] for r in vecs.collect()], dtype=np.float64)
    if sample.size == 0:
        raise ValueError("cannot build a vector index on an empty corpus")
    rng = np.random.default_rng(seed)
    if len(sample) > train_sample:
        sample = sample[rng.permutation(len(sample))[:train_sample]]
    return sample


def derive_k_cells(n_rows: int, target_cell_size: int) -> int:
    """Cells needed so the MEAN cell holds ~``target_cell_size``
    vectors: ceil(n / target). The deployment rule that keeps
    SemDeDup/D4's in-cell quadratic bounded as the corpus grows —
    with FIXED k_cells, cells grow linearly with the corpus and
    silently cross ``cell_max_bucket`` (truncation cliff: the 3.13x
    SCALE row of round 9); with a fixed TARGET, cell size stays flat
    and the pair stage scales linearly. ~2k members/cell is the D4
    paper's own regime (Tirumala et al. 2023: 50k clusters / 100M
    points)."""
    if target_cell_size < 1:
        raise ValueError(
            f"target_cell_size must be >= 1, got {target_cell_size}"
        )
    return max(1, -(-int(n_rows) // int(target_cell_size)))


def _nearest_cells(centers, vec, nprobe: int) -> list[int]:
    """The nprobe cells whose centroids are cosine-closest to ``vec``.
    Driver-side by design: centers is k_cells x dim, never
    corpus-sized."""
    import numpy as np

    v = np.asarray(vec, dtype=np.float64)
    norm = np.linalg.norm(v) * np.linalg.norm(centers, axis=1)
    cos = (centers @ v) / np.where(norm == 0, 1, norm)
    return [int(c) for c in np.argsort(-cos)[:nprobe]]


def _cell_assign_udf(centers):
    """pandas UDF assigning each vector to its nearest centroid —
    ||v-c||^2 = ||v||^2 - 2 v.c + ||c||^2, so one (batch x dim) @
    (dim x k) matmul per Arrow batch decides every row's cell."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import IntegerType

    c = np.asarray(centers, dtype=np.float64)  # (k, dim)
    c_t = c.T.copy()
    c_sq = (c**2).sum(axis=1)  # (k,)

    @pandas_udf(IntegerType())
    def assign(vecs: pd.Series) -> pd.Series:
        m = np.vstack(vecs.to_numpy()).astype(np.float64)  # (n, dim)
        scores = m @ c_t - 0.5 * c_sq  # argmax == argmin distance
        return pd.Series(scores.argmax(axis=1).astype(np.int32))

    return assign


class IVFIndex:
    """Inverted-file index: corpus rows assigned to KMeans centroids.

    build() is one ML fit + one projection; search() prunes to the
    nprobe nearest cells then brute-forces within them. Recall is
    tunable via nprobe; nprobe == k_cells degenerates to exact.
    save()/load() persist the assignment partitionBy(cell) — the
    100 TB layout where a probe's scan reads only nprobe/k_cells of
    the data via partition pruning — plus a tiny centroid table."""

    def __init__(self, centers, assigned: DataFrame, vec_col: str, id_col: str):
        import numpy as np

        self.centers = np.asarray(centers, dtype=np.float64)  # (k_cells, dim)
        self.assigned = assigned  # corpus + "cell" column
        self.vec_col = vec_col
        self.id_col = id_col

    @classmethod
    def build(
        cls,
        corpus: DataFrame,
        k_cells: int = 16,
        vec_col: str = "embedding",
        id_col: str = "vec_id",
        seed: int = 42,
        max_iter: int = 8,
        train_sample: int = 16384,
        sample=None,
        target_cell_size: int | None = None,
    ) -> "IVFIndex":
        """Coarse quantizer trained on a driver-side SAMPLE with numpy
        Lloyd iterations (sampling rationale in _sampled_vectors),
        cells assigned to the full corpus by ONE Arrow-batched matmul
        pass. This is the FAISS recipe — an IVF quantizer needs rough
        cells from a representative sample, not a converged
        distributed clustering: recall comes from nprobe.
        (pyspark.ml KMeans.fit launches max_iter full-corpus jobs plus
        per-row ml.Vector conversion — measured 3-8 s of scheduler and
        conversion overhead at sf0.1 for identical recall; at 100 TB a
        sampled quantizer + one assignment pass is also the only shape
        that does a single read of the corpus.)

        ``sample``: a pre-collected (n, dim) float64 training sample —
        pass it to share ONE sampling pass across several trainers
        (IVFPQIndex.build trains the coarse quantizer AND the PQ
        codebooks from the same collect).

        ``target_cell_size``: AUTO-SCALE the cell count from the
        corpus instead of fixing it — k_cells becomes
        ceil(count/target) (one metadata-cheap count), and
        train_sample is raised to 4x the derived k so the quantizer
        can place that many centroids. This is the knob a 100x user
        should set: a fixed k_cells means cells grow with the corpus
        until the in-cell quadratic crosses cell_max_bucket; a fixed
        TARGET keeps cells flat (see derive_k_cells). Overrides
        k_cells when both are given; incompatible with a
        pre-collected ``sample`` (the sample was sized before k was
        known)."""
        import numpy as np

        if target_cell_size is not None:
            if sample is not None:
                raise ValueError(
                    "target_cell_size derives k_cells AND the sample size; "
                    "pass one or the other"
                )
            k_cells = derive_k_cells(corpus.count(), target_cell_size)
            train_sample = max(int(train_sample), 4 * k_cells)
        if sample is None:
            sample = _sampled_vectors(corpus, vec_col, train_sample, seed)
        rng = np.random.default_rng(seed)
        # a corpus smaller than k_cells gets one cell per vector
        k = min(int(k_cells), len(sample))
        centers = sample[rng.choice(len(sample), size=k, replace=False)]
        c_sq = (centers**2).sum(axis=1)
        for _ in range(max_iter):
            # ||s-c||^2 argmin == (s.c - |c|^2/2) argmax: one
            # (n, dim) @ (dim, k) matmul per iteration, never the
            # (n, k, dim) broadcast difference tensor (25 GB at
            # 16k x 256 x 768 — driver OOM territory)
            labels = (sample @ centers.T - 0.5 * c_sq).argmax(axis=1)
            # segmented center update via per-dimension bincount:
            # O(n*dim) per iteration INDEPENDENT of k (the per-cell
            # boolean-mask loop was O(k*n) and dominated the build
            # once target_cell_size derived k in the hundreds;
            # np.add.at's buffered scatter measured ~100x slower than
            # bincount's C loop). Empty cells keep their previous
            # centroid, as before.
            sums = np.stack(
                [
                    np.bincount(labels, weights=sample[:, d], minlength=k)
                    for d in range(sample.shape[1])
                ],
                axis=1,
            )
            counts = np.bincount(labels, minlength=k).astype(np.float64)
            occupied = counts > 0
            centers[occupied] = sums[occupied] / counts[occupied, None]
            c_sq = (centers**2).sum(axis=1)
        assigned = corpus.withColumn(
            "cell", _cell_assign_udf(centers)(F.col(vec_col))
        )
        return cls(centers, assigned, vec_col, id_col)

    def save(self, path: str) -> None:
        """Persist: assignment Hive-partitioned by cell + centroid
        table. Search on a loaded index prunes cell partitions at the
        file listing."""
        self.assigned.write.mode("overwrite").partitionBy("cell").parquet(
            f"{path}/assigned"
        )
        spark = self.assigned.sparkSession
        rows = [(i, [float(x) for x in c]) for i, c in enumerate(self.centers)]
        spark.createDataFrame(rows, "cell int, center array<double>").coalesce(
            1
        ).write.mode("overwrite").parquet(f"{path}/centroids")

    @classmethod
    def load(
        cls,
        spark,
        path: str,
        vec_col: str = "embedding",
        id_col: str = "vec_id",
    ) -> "IVFIndex":
        centroid_rows = spark.read.parquet(f"{path}/centroids").collect()
        centers = [
            r["center"] for r in sorted(centroid_rows, key=lambda r: r["cell"])
        ]
        assigned = spark.read.parquet(f"{path}/assigned")
        return cls(centers, assigned, vec_col, id_col)

    def search(self, probes: DataFrame, k: int = 5, nprobe: int = 4,
               probe_id_col: str = "probe_id", probe_rows=None) -> DataFrame:
        # probe_rows: pre-collected probes (one collect shared across
        # search tiers — IVFPQIndex threads it through)
        if probe_rows is None:
            probe_rows = probes.select(probe_id_col, self.vec_col).collect()

        # Driver-side nprobe selection is OK: #probes is small and
        # centers is k_cells × dim — never corpus-sized.
        cells_per_probe = [
            (
                r[probe_id_col],
                _nearest_cells(self.centers, r[self.vec_col], nprobe),
                list(r[self.vec_col]),
            )
            for r in probe_rows
        ]

        spark = probes.sparkSession
        # types derived from the INPUT schemas (string probe ids and
        # double vectors work the same as bigint/float — the sibling
        # adc_topk path already does this)
        pid_type = probes.schema[probe_id_col].dataType.simpleString()
        vec_type = probes.schema[self.vec_col].dataType.simpleString()
        probe_cells = spark.createDataFrame(
            [(pid, cell, vec) for pid, cells, vec in cells_per_probe for cell in cells],
            f"{probe_id_col} {pid_type}, cell int, __probe_vec {vec_type}",
        )
        pruned = self.assigned.join(
            F.broadcast(
                probe_cells.withColumn("__probe_norm", l2_norm(F.col("__probe_vec")))
            ),
            "cell",
        )
        scored = pruned.select(
            probe_id_col,
            self.id_col,
            cosine_vs_normed(self.vec_col, "__probe_vec", "__probe_norm").alias("cos"),
        )
        return grouped_topk(
            scored, [probe_id_col], [F.col("cos").desc(), F.col(self.id_col).asc()], k
        )


class PQCodec:
    """Product quantization — the MEMORY scale path for vector search.

    A 100 TB embedding corpus is unsearchable as raw floats (64-dim
    float64 = 512 B/vector); PQ splits each L2-normalized vector into
    ``m`` subvectors, k-means-codes each subspace independently
    (n_codes <= 256 -> one byte per subspace), and stores only the
    m-byte code word: 64x smaller, so the whole scan fits in the page
    cache that the raw corpus overflows. Search is ADC (asymmetric
    distance computation): the probe stays un-quantized, one (m x
    n_codes) table of probe-subvector . codebook-entry inner products
    is built per probe, and every corpus vector's approximate cosine
    is m table lookups — no float math per row. An optional exact
    re-rank on the top rerank_factor*k candidates restores recall lost
    to quantization by touching only that sliver of raw vectors.

    train() follows the same sampled-Lloyd recipe as IVFIndex.build
    (codebooks need a representative sample, not a converged
    distributed fit); encode() is one Arrow-batched matmul pass per
    subspace. IVFPQIndex composes it with IVFIndex for the full
    FAISS-shaped IVF-PQ: prune to nprobe cells, ADC-scan the codes,
    re-rank the survivors exactly.
    """

    def __init__(self, codebooks, vec_col: str, id_col: str):
        import numpy as np

        self.codebooks = [np.asarray(cb, dtype=np.float64) for cb in codebooks]
        self.m = len(self.codebooks)
        self.dsub = self.codebooks[0].shape[1]
        self.vec_col = vec_col
        self.id_col = id_col

    @classmethod
    def train(
        cls,
        corpus: DataFrame,
        m: int = 8,
        n_codes: int = 256,
        vec_col: str = "embedding",
        id_col: str = "vec_id",
        seed: int = 42,
        max_iter: int = 10,
        train_sample: int = 16384,
        sample=None,
    ) -> "PQCodec":
        """``sample``: pre-collected (n, dim) float64 training sample,
        shared with the IVF trainer by IVFPQIndex.build; default
        collects one via _sampled_vectors. The sample is copied before
        normalization so a shared array is not mutated."""
        import numpy as np

        if n_codes > 256:
            raise ValueError("n_codes must fit one byte (<= 256)")
        if sample is None:
            sample = _sampled_vectors(corpus, vec_col, train_sample, seed)
        rng = np.random.default_rng(seed)
        dim = sample.shape[1]
        if dim % m:
            raise ValueError(f"dim {dim} not divisible by m={m} subspaces")
        dsub = dim // m
        norms = np.linalg.norm(sample, axis=1)
        norms[norms == 0] = 1.0
        sample = sample / norms[:, None]  # cosine -> IP space (copies)
        codebooks = []
        for j in range(m):
            sub = sample[:, j * dsub : (j + 1) * dsub]
            k = min(n_codes, len(sub))
            centers = sub[rng.choice(len(sub), size=k, replace=False)]
            c_sq = (centers**2).sum(axis=1)
            for _ in range(max_iter):
                labels = (sub @ centers.T - 0.5 * c_sq).argmax(axis=1)
                for c in range(k):
                    members = sub[labels == c]
                    if len(members):
                        centers[c] = members.mean(axis=0)
                c_sq = (centers**2).sum(axis=1)
            codebooks.append(centers)
        return cls(codebooks, vec_col, id_col)

    def encode(self, df: DataFrame, keep_cols: list[str] | None = None) -> DataFrame:
        """(id, [keep_cols,] pq_code binary): each vector L2-normalized,
        each subspace argmin-coded with one matmul per Arrow batch.
        The m-byte code column is what a 100 TB index persists."""
        import numpy as np
        from pyspark.sql.functions import pandas_udf
        from pyspark.sql.types import BinaryType

        books = self.codebooks
        m, dsub = self.m, self.dsub

        @pandas_udf(BinaryType())
        def code(vecs: pd.Series) -> pd.Series:
            mat = np.vstack(vecs.to_numpy()).astype(np.float64)
            norms = np.linalg.norm(mat, axis=1)
            norms[norms == 0] = 1.0
            mat = mat / norms[:, None]
            codes = np.empty((len(mat), m), dtype=np.uint8)
            for j in range(m):
                sub = mat[:, j * dsub : (j + 1) * dsub]
                cb = books[j]
                codes[:, j] = (sub @ cb.T - 0.5 * (cb**2).sum(axis=1)).argmax(axis=1)
            return pd.Series([c.tobytes() for c in codes])

        cols = [self.id_col, *(keep_cols or [])]
        return df.select(*cols, code(F.col(self.vec_col)).alias("pq_code"))

    def adc_topk(
        self,
        codes: DataFrame,
        probes: DataFrame,
        k: int = 5,
        probe_id_col: str = "probe_id",
        rerank_with: DataFrame | None = None,
        rerank_factor: int = 4,
        probe_rows=None,
    ) -> DataFrame:
        """Approximate cosine top-k over the CODE column only. Bounded
        shuffle: each Arrow batch keeps a local top per probe, so the
        shuffle carries <= partitions * P * k' rows. With rerank_with (the raw corpus),
        the top rerank_factor*k ADC candidates per probe are re-scored
        exactly and the final top-k is exact-over-candidates — the
        standard recall repair that reads only candidate raw vectors.
        ``probe_rows``: pre-collected probes (IVFPQIndex shares one
        collect across cell selection and the ADC tables)."""
        import numpy as np

        pid_type = probes.schema[probe_id_col].dataType.simpleString()
        id_type = codes.schema[self.id_col].dataType.simpleString()
        kk = k * rerank_factor if rerank_with is not None else k

        if probe_rows is None:
            probe_rows = probes.select(probe_id_col, self.vec_col).collect()
        probe_rows = sorted(probe_rows, key=lambda r: r[probe_id_col])
        pids = [r[probe_id_col] for r in probe_rows]
        pmat = np.vstack([np.asarray(r[self.vec_col], dtype=np.float64) for r in probe_rows])
        pnorm = np.linalg.norm(pmat, axis=1)
        pnorm[pnorm == 0] = 1.0
        pmat = pmat / pnorm[:, None]
        # ADC tables: tables[p, j, c] = probe_p's j-th subvector . code c
        m, dsub = self.m, self.dsub
        tables = np.stack(
            [
                np.stack(
                    [self.codebooks[j] @ p[j * dsub : (j + 1) * dsub] for j in range(m)]
                )
                for p in pmat
            ]
        )  # (P, m, n_codes)
        id_col = self.id_col
        arange_m = np.arange(m)

        def score_batches(batches):
            for pdf in batches:
                code_mat = np.vstack(
                    [np.frombuffer(b, dtype=np.uint8) for b in pdf["pq_code"]]
                ).astype(np.int64)  # (n, m)
                ids = pdf[id_col].to_numpy()
                top = min(kk, len(ids))
                out_pid, out_id, out_cos = [], [], []
                for p in range(len(pids)):
                    approx = tables[p][arange_m[None, :], code_mat].sum(axis=1)
                    order = np.lexsort((ids, -approx))[:top]
                    out_pid.extend([pids[p]] * len(order))
                    out_id.extend(ids[order])
                    out_cos.extend(approx[order])
                yield pd.DataFrame(
                    {probe_id_col: out_pid, id_col: out_id, "cos": out_cos}
                )

        candidates = ensure_parallelism(codes).select(id_col, "pq_code").mapInPandas(
            score_batches,
            schema=f"{probe_id_col} {pid_type}, {id_col} {id_type}, cos double",
        )
        approx_top = grouped_topk(
            candidates, [probe_id_col], [F.col("cos").desc(), F.col(id_col).asc()], kk
        )
        if rerank_with is None:
            return approx_top
        # exact re-rank: candidate ids (bounded: P * kk rows) broadcast
        # against the raw corpus; probe vectors broadcast for the exact
        # cosine; the raw corpus is touched only at candidate ids.
        cand = F.broadcast(approx_top.select(probe_id_col, id_col))
        raw = rerank_with.select(
            F.col(self.id_col), F.col(self.vec_col).alias("__raw_vec")
        ).join(cand, self.id_col)
        p = F.broadcast(
            probes.select(
                F.col(probe_id_col), F.col(self.vec_col).alias("__probe_vec")
            ).withColumn("__probe_norm", l2_norm(F.col("__probe_vec")))
        )
        exact = raw.join(p, probe_id_col).select(
            probe_id_col,
            self.id_col,
            cosine_vs_normed("__raw_vec", "__probe_vec", "__probe_norm").alias("cos"),
        )
        return grouped_topk(
            exact, [probe_id_col], [F.col("cos").desc(), F.col(self.id_col).asc()], k
        )


class IVFPQIndex:
    """The STANDING IVF-PQ index: codes encoded ONCE, persisted next to
    their cell assignment, searches ADC-scan the stored m-byte code
    column; no search re-encodes the corpus.

    ``coded`` is one table — (id, pq_code, [raw vector,] cell) — laid
    out partitionBy(cell) on save, so at 100 TB:

    - a probe's scan prunes to nprobe/k_cells of the FILES (Hive
      partition pruning on ``cell``), and
    - the ADC scan projects only (id, pq_code) — parquet is columnar,
      so the raw-vector column's pages are never read. The m-byte code
      column is the ~64x-smaller scan; keeping the raw vectors in the
      SAME table costs searches nothing and gives the exact re-rank
      locality (candidate rows come from the already-pruned cells).

    build() collects ONE training sample and trains both the coarse
    quantizer and the PQ codebooks from it; encode+assign is a single
    pass over the corpus (one Arrow-batched matmul chain per batch).
    save()/load() round-trip the coded table + centroids + codebooks.
    """

    def __init__(self, ivf: IVFIndex, pq: PQCodec, coded: DataFrame):
        self.ivf = ivf
        self.pq = pq
        self.coded = coded
        self.vec_col = pq.vec_col
        self.id_col = pq.id_col

    @classmethod
    def build(
        cls,
        corpus: DataFrame,
        k_cells: int = 16,
        m: int = 8,
        n_codes: int = 256,
        vec_col: str = "embedding",
        id_col: str = "vec_id",
        seed: int = 42,
        train_sample: int = 16384,
        keep_raw: bool = True,
        target_cell_size: int | None = None,
    ) -> "IVFPQIndex":
        """``keep_raw=False`` drops the raw vector column from the
        coded table (pure 64x-smaller index; searches must then pass
        an external corpus for re-rank or rerank=False).
        ``target_cell_size`` auto-scales k_cells from the corpus count
        (see IVFIndex.build) — the sample shared by both trainers is
        sized AFTER the derivation."""
        if target_cell_size is not None:
            k_cells = derive_k_cells(corpus.count(), target_cell_size)
            train_sample = max(int(train_sample), 4 * k_cells)
        sample = _sampled_vectors(corpus, vec_col, train_sample, seed)
        ivf = IVFIndex.build(
            corpus, k_cells=k_cells, vec_col=vec_col, id_col=id_col,
            seed=seed, train_sample=train_sample, sample=sample,
        )
        pq = PQCodec.train(
            corpus, m=m, n_codes=n_codes, vec_col=vec_col, id_col=id_col,
            seed=seed, train_sample=train_sample, sample=sample,
        )
        keep = ([vec_col] if keep_raw else []) + ["cell"]
        coded = pq.encode(ivf.assigned, keep_cols=keep)
        return cls(ivf, pq, coded)

    def append(self, new: DataFrame) -> "IVFPQIndex":
        """Incremental ingest into the STANDING index: assign the new
        vectors to the EXISTING cells (frozen coarse quantizer) and
        encode them with the EXISTING codebooks — the standard IVF
        append (FAISS `add`): no retraining, one Arrow-batched pass
        over just the new rows. Returns a new index whose coded table
        is the union; ids are the caller's contract (append does not
        dedup). The quantizer staying frozen is the documented trade:
        if the data distribution drifts, cell occupancy skews and
        recall at fixed nprobe degrades — monitor cell counts and
        rebuild when skewed (quantizer retraining re-encodes
        everything by design)."""
        assigned = new.withColumn(
            "cell", _cell_assign_udf(self.ivf.centers)(F.col(self.vec_col))
        )
        keep = (
            [self.vec_col] if self.vec_col in self.coded.columns else []
        ) + ["cell"]
        coded_new = self.pq.encode(assigned, keep_cols=keep)
        coded = self.coded.unionByName(coded_new)
        return IVFPQIndex(
            IVFIndex(self.ivf.centers, coded, self.vec_col, self.id_col),
            self.pq,
            coded,
        )

    def cell_stats(self) -> dict:
        """Occupancy snapshot for the frozen-quantizer drift monitor
        (see ``append``): one aggregate pass over the coded table ->
        ``{'n_rows', 'n_cells', 'min', 'max', 'mean', 'skew'}`` where
        ``skew`` = max/mean cell occupancy (1.0 = perfectly even).
        Rising skew after appends means the data distribution has
        drifted off the trained cells — recall at fixed nprobe decays
        — and a rebuild re-trains the quantizer."""
        counts = self.coded.groupBy("cell").agg(
            F.count(F.lit(1)).alias("n")
        )
        row = counts.agg(
            F.sum("n").alias("n_rows"),
            F.count(F.lit(1)).alias("n_cells"),
            F.min("n").alias("mn"),
            F.max("n").alias("mx"),
            F.avg("n").alias("avg"),
        ).first()
        return {
            "n_rows": row["n_rows"],
            "n_cells": row["n_cells"],
            "min": row["mn"],
            "max": row["mx"],
            "mean": round(row["avg"], 2),
            "skew": round(row["mx"] / row["avg"], 3) if row["avg"] else 0.0,
        }

    @classmethod
    def append_to_saved(
        cls,
        spark,
        path: str,
        new: DataFrame,
        vec_col: str = "embedding",
        id_col: str = "vec_id",
    ) -> None:
        """Append new vectors DIRECTLY into a saved index's
        partitioned layout: loads only the tiny centroid/codebook
        tables (never the coded corpus), encodes the new rows, and
        append-writes them into ``path/coded``'s Hive cell partitions
        — the streaming-embedding-ingest shape: a 100 TB standing
        index absorbs a delta batch at delta cost, searches keep
        pruning to nprobe cells and see the new rows on next load."""
        idx = cls.load(spark, path, vec_col=vec_col, id_col=id_col)
        assigned = new.withColumn(
            "cell", _cell_assign_udf(idx.ivf.centers)(F.col(vec_col))
        )
        keep = ([vec_col] if vec_col in idx.coded.columns else []) + ["cell"]
        idx.pq.encode(assigned, keep_cols=keep).write.mode(
            "append"
        ).partitionBy("cell").parquet(f"{path}/coded")

    def save(self, path: str) -> None:
        self.coded.write.mode("overwrite").partitionBy("cell").parquet(
            f"{path}/coded"
        )
        spark = self.coded.sparkSession
        crows = [
            (i, [float(x) for x in c]) for i, c in enumerate(self.ivf.centers)
        ]
        spark.createDataFrame(crows, "cell int, center array<double>").coalesce(
            1
        ).write.mode("overwrite").parquet(f"{path}/centroids")
        brows = [
            (j, c, [float(x) for x in self.pq.codebooks[j][c]])
            for j in range(self.pq.m)
            for c in range(len(self.pq.codebooks[j]))
        ]
        spark.createDataFrame(
            brows, "subspace int, code int, center array<double>"
        ).coalesce(1).write.mode("overwrite").parquet(f"{path}/codebooks")

    @classmethod
    def load(
        cls,
        spark,
        path: str,
        vec_col: str = "embedding",
        id_col: str = "vec_id",
    ) -> "IVFPQIndex":
        centers = [
            r["center"]
            for r in sorted(
                spark.read.parquet(f"{path}/centroids").collect(),
                key=lambda r: r["cell"],
            )
        ]
        by_sub: dict[int, list] = {}
        for r in spark.read.parquet(f"{path}/codebooks").collect():
            by_sub.setdefault(r["subspace"], []).append((r["code"], r["center"]))
        books = [
            [c for _, c in sorted(by_sub[j])] for j in sorted(by_sub)
        ]
        coded = spark.read.parquet(f"{path}/coded")
        pq = PQCodec(books, vec_col, id_col)
        ivf = IVFIndex(centers, coded, vec_col, id_col)
        return cls(ivf, pq, coded)

    def search(
        self,
        probes: DataFrame,
        k: int = 5,
        nprobe: int = 4,
        probe_id_col: str = "probe_id",
        rerank_factor: int = 4,
        rerank: bool | DataFrame = True,
        probe_rows=None,
    ) -> DataFrame:
        """Prune to the probes' nprobe nearest cells, ADC-scan the
        STORED codes (projection: id, pq_code — no raw floats), then
        exact-re-rank the rerank_factor*k survivors against the raw
        column of the same pruned cells (or a DataFrame passed as
        ``rerank``; ``rerank=False`` returns the ADC ranking)."""
        if probe_rows is None:
            probe_rows = probes.select(probe_id_col, self.vec_col).collect()
        cells: set[int] = set()
        for r in probe_rows:
            cells.update(_nearest_cells(self.ivf.centers, r[self.vec_col], nprobe))
        pruned = self.coded.where(F.col("cell").isin(sorted(cells)))
        if rerank is True:
            if self.vec_col not in self.coded.columns:
                raise ValueError(
                    "index was built/saved without raw vectors "
                    "(keep_raw=False); pass rerank=<raw corpus DataFrame> "
                    "or rerank=False"
                )
            rerank_with = pruned
        elif rerank is False:
            rerank_with = None
        else:
            rerank_with = rerank
        return self.pq.adc_topk(
            pruned,
            probes,
            k=k,
            probe_id_col=probe_id_col,
            rerank_with=rerank_with,
            rerank_factor=rerank_factor,
            probe_rows=probe_rows,
        )

    def search_flat(
        self,
        probes: DataFrame,
        k: int = 5,
        nprobe: int = 4,
        probe_id_col: str = "probe_id",
        probe_rows=None,
    ) -> DataFrame:
        """IVF-flat over the same coded table (exact cosines within
        the probed cells, ignoring the code column) — the higher-recall
        tier when reading raw vectors is acceptable."""
        if self.vec_col not in self.coded.columns:
            raise ValueError(
                "flat search needs the raw vector column; this index was "
                "built/saved with keep_raw=False"
            )
        # search over the CODED table (not ivf.assigned) so both tiers
        # share one lineage — a persist() on self.coded serves flat and
        # PQ searches from the same materialization
        flat = IVFIndex(self.ivf.centers, self.coded, self.vec_col, self.id_col)
        return flat.search(
            probes, k=k, nprobe=nprobe, probe_id_col=probe_id_col,
            probe_rows=probe_rows,
        )


def _vec_member() -> Column:
    """Member struct for cosine-verified LSH buckets: (id, vec, norm).
    The L2 norm is hoisted OUT of the quadratic pair loop (round 17):
    per pair the old form paid three interpreted 64-element folds
    (dot + both norms); hoisting pays one norm fold per MEMBER and one
    dot fold per pair — float-identical, since cos = dot/(na*nb) runs
    the exact same left-to-right folds either way. id stays the FIRST
    field, so the bucketed_pairs id-sort ordering is unchanged (id is
    unique; comparison never reaches the added field)."""
    return F.struct("id", "__vec", l2_norm(F.col("__vec")).alias("__norm"))


def _hoisted_cos_pair(out_col: str):
    """pair_fn twin of ``cosine_similarity`` over _vec_member structs."""
    from snapflow_spark.functions.vectors import dot

    def pair(x, y):
        return F.struct(
            x["id"].alias("id_a"),
            y["id"].alias("id_b"),
            (dot(x["__vec"], y["__vec"]) / (x["__norm"] * y["__norm"])).alias(out_col),
        )

    return pair


def embedding_near_dup_pairs_int(
    corpus: DataFrame,
    cos_threshold: float = 0.9,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_bands: int = 8,
    bits_per_band: int | None = 6,
    max_bucket: int = 128,
    quant: int = 1000,
    observation=None,
) -> DataFrame:
    """Cosine-near-duplicate pairs via signed-random-projection LSH in
    the ORACLE-REPRODUCIBLE form: the SRP hyperplanes are ±1
    Rademacher weights derived from a multiply-xorshift mix of
    (dim, plane), applied to the INTEGER-quantized vector
    floor(x*quant) — so every sign bit is exact integer arithmetic a
    SQL oracle replays bit-for-bit (float hyperplane dot products near
    zero could round differently across engines; integer ones cannot).
    Each vector's n_bands*bits_per_band sign bits come from one matmul
    per Arrow batch and group into band keys; ONE shuffle on the band
    key; exact cosine (on the ORIGINAL float vectors) is verified
    in-bucket (the member struct carries the vector), so candidates
    need no join-back.

    The mixer MUST be nonlinear in the plane index: an affine LCG
    makes each band's planes shifted copies of one threshold sequence
    — measured 2 (!) distinct values in half the 6-bit bands, buckets
    of 280 swallowing the corpus. Two multiply + xorshift rounds give
    64/64 distinct values and max bucket 29 on the same data. All
    intermediates stay < 2^63 (the second multiply sees a 31-bit
    value), so int64 is exact in numpy, Spark, and DuckDB alike.

    P[bit match] = 1 - angle/pi still holds for Rademacher planes, so
    detection at cos>=0.9 with 8x6 bands is ~0.995 while a random
    pair collides in a band w.p. ~2^-6. Wider keys trade the other
    way: semantic_dedup's 24x12 bands keep detection ~0.98 at
    cos>=0.9 while a random pair collides w.p. 2^-12 per band, so a
    large corpus does not flood the verify stage.

    Every vector of one corpus must have one width: a width change
    raises ``ValueError`` (np.vstack rejects a mix WITHIN an Arrow
    batch; the first batch's width is checked against every later
    batch the same UDF instance sees), since per-width planes would
    hash the widths into disjoint bucket spaces.

    bits_per_band=None AUTO-SIZES band width to the corpus: occupancy
    per band value grows linearly with corpus size under fixed bits,
    so at 10x data the id-sorted truncation starts eating recall and
    in-bucket pair work grows (measured ratio 2.3 at 10x with fixed 6
    bits). Sizing bits ~ log2(n / target_occupancy) keeps expected
    bucket size — and therefore both recall and per-bucket work —
    constant as the corpus grows; declared queries pin bits explicitly
    so their oracle stays bit-identical."""
    import math

    import numpy as np

    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import ArrayType, LongType

    if bits_per_band is None:
        n = corpus.count()
        # target ~max_bucket/4 vectors per band value; >=4 bits so a
        # tiny corpus still gets real bands, <=24 to bound key width
        bits_per_band = min(24, max(4, math.ceil(math.log2(max(2, n / (max_bucket / 4))))))
    n_planes = n_bands * bits_per_band
    state: dict = {}

    @pandas_udf(ArrayType(LongType()))
    def band_keys(vecs: pd.Series) -> pd.Series:
        m = np.vstack(vecs.to_numpy()).astype(np.float64)  # (n, dim)
        dim = m.shape[1]
        if state.setdefault("dim", dim) != dim:
            raise ValueError(
                f"embedding dim changed {state['dim']} -> {dim}: "
                "near-dup LSH requires one vector width per corpus"
            )
        # floor(x*quant) is the oracle's integer vector; it and every
        # partial sum of the ±1 products stay integers below 2^53, so
        # the float64 matmul is exact (in any summation order) and its
        # signs equal the int64 product's — but it runs on BLAS, where
        # numpy's int64 matmul has none (10k x 768-dim rows x 288
        # planes, 4 vCPU: 3.8 s int64 vs 0.37 s float64).
        q = np.floor(m * quant)
        i = np.arange(dim, dtype=np.int64)[:, None]
        p = np.arange(n_planes, dtype=np.int64)[None, :]
        k = i * n_planes + p
        h1 = (k * 2654435761) % 4294967296
        h2 = (h1 ^ (h1 >> 15)) % 2147483648
        h3 = (h2 * 2246822519) % 4294967296
        h4 = h3 ^ (h3 >> 13)
        w = np.where(h4 % 2 == 0, 1.0, -1.0)  # (dim, planes)
        bits = (q @ w) >= 0  # (n, planes)
        powers = (1 << np.arange(bits_per_band)).astype(np.int64)  # bit j -> 2^j
        keys = bits.reshape(len(q), n_bands, bits_per_band).astype(np.int64) @ powers
        return pd.Series(list(keys))

    # No repartition before the signature stage (round 17): the banded
    # explode feeds bucketed_pairs' groupBy exchange, which
    # redistributes anyway, and the signature is one vectorized matmul
    # per Arrow batch. Norms are hoisted out of the pair loop
    # (_vec_member / _hoisted_cos_pair) — measured 3.12 s -> 1.83 s
    # warm at sf0.1 interleaved, results value-identical.
    banded = corpus.select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("__vec")
    ).select("id", "__vec", F.posexplode(band_keys("__vec")).alias("band_idx", "band_val"))
    pairs = bucketed_pairs(
        banded,
        ["band_idx", "band_val"],
        _vec_member(),
        _hoisted_cos_pair("cos"),
        max_bucket=max_bucket,
        observation=observation,
    )
    return pairs.where(F.col("cos") >= cos_threshold).dropDuplicates(["id_a", "id_b"])


def semantic_dedup(
    corpus: DataFrame | None = None,
    cos_threshold: float = 0.95,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    max_iter: int = 20,
    observation=None,
    index: "IVFIndex | None" = None,
    cell_max_bucket: int = 512,
    target_cell_size: int | None = None,
    **lsh_kwargs,
) -> DataFrame:
    """SemDeDup-shaped semantic deduplication (Abbas et al. 2023,
    "SemDeDup: Data-efficient learning at web-scale through semantic
    deduplication") as ONE named operator over the in-repo pieces:
    cosine near-dup candidate pairs -> connected components -> one
    representative per cluster (min id).

    Candidate blocking, two forms:
    - default: SRP-LSH bands (embedding_near_dup_pairs_int, the
      generator q_embed_near_dup runs, here with 24x12 bands and
      max_bucket 64 unless ``lsh_kwargs`` override them — data-
      independent, one-shuffle, recall guaranteed by the banding
      pigeonhole even across cluster boundaries);
    - ``index=IVFIndex``: the PAPER's k-means-cell form (round 6) —
      the index's cell assignment IS SemDeDup's cluster structure, so
      candidates are in-CELL pairs with exact cosine verify, one
      shuffle on the cell id and zero signature computation. Use it
      when a standing index already exists (the corpus is already
      assigned, or save/load'ed partitionBy(cell)); its known paper
      limitation applies — a near-dup pair straddling a cell boundary
      is missed, where LSH bands would still catch it (the parity
      property test plants only tight clusters). ``cell_max_bucket``
      bounds the in-cell quadratic exactly like every bucketed
      generator (id-sorted truncation, loss surfaced via
      ``observation``); cells are corpus_size/k_cells big, so size
      k_cells to keep cells under it — the paper's own regime (50k
      clusters over 100M points). ``target_cell_size`` (round 10)
      enforces that rule by code: with no index given it builds one
      whose k_cells derives from the corpus count (derive_k_cells),
      so cells stay ~target no matter the scale.

    Returns the corpus ids + (component, is_rep): semi-join
    ``is_rep`` to keep one document per semantic cluster. The
    representative is the deterministic min id rather than the
    paper's lowest-similarity-to-centroid member (engine determinism
    contract). With ``index`` given, ``corpus`` may be omitted — the
    decision frame is computed over ``index.assigned``; a corpus
    passed alongside must share the index's id space, and any of its
    rows NOT in the index cannot pair (candidates come from the
    index's assignment) so they become their own representatives —
    re-assign new rows into the index before deduping them."""
    from snapflow_spark.operators.buckets import bucketed_pairs
    from snapflow_spark.operators.dedup_text import dedup_cluster_representatives

    if index is None and target_cell_size is not None:
        # auto-scaled paper form: build the blocking index with
        # k_cells derived from the corpus count so cells stay ~target
        # sized at any scale (derive_k_cells) — the safe default for a
        # corpus whose size the caller doesn't know in advance
        if corpus is None:
            raise ValueError("semantic_dedup needs a corpus or an index")
        if lsh_kwargs:
            raise ValueError(
                f"LSH options {sorted(lsh_kwargs)} do not apply to the "
                "index-cell blocking form target_cell_size selects"
            )
        index = IVFIndex.build(
            corpus,
            target_cell_size=target_cell_size,
            vec_col=vec_col,
            id_col=id_col,
        )
    if index is not None:
        if lsh_kwargs:
            raise ValueError(
                f"LSH options {sorted(lsh_kwargs)} do not apply to the "
                "index-cell blocking form"
            )
        if corpus is None:
            corpus = index.assigned
        if id_col != "vec_id" and id_col != index.id_col:
            # an explicit id_col that contradicts the index would be
            # silently discarded — the pairs can only come from the
            # index's own id space
            raise ValueError(
                f"id_col {id_col!r} conflicts with the index's "
                f"{index.id_col!r}; the standing index defines the id space"
            )
        id_col = index.id_col  # the index's contract wins over defaults
        blocked = index.assigned.select(
            F.col(index.id_col).alias("id"),
            F.col(index.vec_col).alias("__vec"),
            "cell",
        )
        pairs = bucketed_pairs(
            blocked,
            ["cell"],
            _vec_member(),
            _hoisted_cos_pair("cos"),
            max_bucket=cell_max_bucket,
            observation=observation,
        ).where(F.col("cos") >= cos_threshold)
        # one cell per doc -> no cross-bucket duplicate pairs to drop
    else:
        if corpus is None:
            raise ValueError("semantic_dedup needs a corpus or an index")
        pairs = embedding_near_dup_pairs_int(
            corpus,
            cos_threshold=cos_threshold,
            vec_col=vec_col,
            id_col=id_col,
            observation=observation,
            **{"n_bands": 24, "bits_per_band": 12, "max_bucket": 64, **lsh_kwargs},
        )
    return dedup_cluster_representatives(
        corpus, pairs.select("id_a", "id_b"), id_col=id_col, max_iter=max_iter
    )


def prototype_filter(
    index: "IVFIndex",
    drop_frac: float = 0.2,
    among: DataFrame | None = None,
) -> DataFrame:
    """SSL-prototype diversification (the second stage of D4 —
    Tirumala et al. 2023, "D4: Improving LLM Pretraining via Document
    De-Duplication and Diversification"): within each k-means cluster,
    DROP the ``drop_frac`` most PROTOTYPICAL points (highest cosine to
    their own centroid — the redundant template-like members) and keep
    the diverse remainder.

    Decision frame: (id, cell, proto, is_kept) — semi-join
    ``is_kept`` downstream, the semantic_dedup convention.

    Plan shape at scale: the centroid table is k_cells rows
    (driver-side numpy already, KBs) broadcast-joined onto the
    assignment, so proto scoring is map-only; ranking is one window
    per cell (ONE shuffle on the cell id — the same key the standing
    index is already partitioned by, so a save()'d index prunes and
    re-shuffles nothing). Determinism: ties break by id ascending.

    ``among``: optional id frame restricting RANKING to a subset
    (e.g. semantic-dedup survivors) — the paper applies
    diversification AFTER dedup, and ranking among survivors is not
    the same as filtering ranked-among-everyone results.
    """
    if not 0.0 <= drop_frac < 1.0:
        raise ValueError(f"drop_frac must be in [0, 1), got {drop_frac}")
    spark = index.assigned.sparkSession
    id_col, vec_col = index.id_col, index.vec_col

    centroids = spark.createDataFrame(
        [(i, [float(x) for x in c]) for i, c in enumerate(index.centers)],
        f"cell int, __centroid array<double>",
    )
    scored = index.assigned.select(id_col, vec_col, "cell")
    if among is not None:
        scored = scored.join(
            among.select(F.col(id_col)).distinct(), id_col, "semi"
        )
    scored = scored.join(
        F.broadcast(
            centroids.withColumn("__centroid_norm", l2_norm(F.col("__centroid")))
        ),
        "cell",
    ).select(
        id_col,
        "cell",
        F.round(
            cosine_vs_normed(vec_col, "__centroid", "__centroid_norm"), 8
        ).alias("proto"),
    )

    from pyspark.sql import Window

    w = Window.partitionBy("cell").orderBy(
        F.col("proto").desc(), F.col(id_col).asc()
    )
    wc = Window.partitionBy("cell")
    # drop min(ceil(drop_frac * n), n-1) most prototypical members per
    # cell: exact-count semantics (percent_rank's (r-1)/(n-1)
    # misbehaves at n=1 and rounds differently), deterministic under
    # ties, and NEVER empties a cell — a cell's sole member is its own
    # semantic region's only representative (the paper diversifies
    # within clusters but never erases one)
    n = F.count(F.lit(1)).over(wc)
    n_drop = F.least(F.ceil(n * F.lit(float(drop_frac))), n - F.lit(1))
    return scored.select(
        id_col,
        "cell",
        "proto",
        (F.row_number().over(w) > n_drop).alias("is_kept"),
    )


def d4_select(
    corpus: DataFrame | None = None,
    index: "IVFIndex | None" = None,
    cos_threshold: float = 0.95,
    drop_frac: float = 0.2,
    k_cells: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    cell_max_bucket: int = 512,
    observation=None,
    target_cell_size: int | None = None,
) -> DataFrame:
    """The full D4 recipe (Tirumala et al. 2023) as one operator:
    SemDeDup (drop near-duplicate embeddings, keep one representative
    per semantic cluster) THEN SSL-prototype diversification (drop
    the most prototypical ``drop_frac`` of the SURVIVORS per k-means
    cell).

    ONE IVFIndex serves both stages — a single sample + assignment
    pass over the corpus supplies SemDeDup's cluster blocking AND the
    prototype centroids, which is the paper's own structure (both
    stages read the same k-means geometry) and the only shape that
    scans a 100 TB corpus once.

    Decision frame: (id, component, is_rep, proto, is_kept) where
    ``is_kept`` = survived BOTH stages. Dropped duplicates carry
    ``proto`` NULL (they never enter the ranking — the paper
    diversifies among dedup survivors)."""
    if index is None:
        if corpus is None:
            raise ValueError("d4_select needs a corpus or an index")
        index = IVFIndex.build(
            corpus,
            k_cells=k_cells,
            vec_col=vec_col,
            id_col=id_col,
            target_cell_size=target_cell_size,
        )
    id_col = index.id_col
    sd = semantic_dedup(
        cos_threshold=cos_threshold,
        index=index,
        cell_max_bucket=cell_max_bucket,
        observation=observation,
    ).select(id_col, "component", "is_rep")
    reps = sd.where("is_rep").select(id_col)
    pf = prototype_filter(index, drop_frac=drop_frac, among=reps).select(
        id_col, "proto", F.col("is_kept").alias("__pf_kept")
    )
    return (
        sd.join(pf, id_col, "left")
        .select(
            id_col,
            "component",
            "is_rep",
            "proto",
            (F.col("is_rep") & F.coalesce("__pf_kept", F.lit(False))).alias(
                "is_kept"
            ),
        )
    )

"""North-star property tests (SURVEY.md §5.2(3), FIXTURES.md
planted_dups): recall guarantees for the probabilistic dedup/similarity
operators that have no SQL oracle, plus multimodal plumbing.
"""

import random

import pytest
from pyspark.sql import functions as F

from snapflow_spark.multimodal import attach_image_blob, extract_features, sample_frame_offsets
from snapflow_spark.operators.dedup_text import exact_dedup, ngram_jaccard_pairs
from snapflow_spark.operators.similarity import IVFIndex, brute_force_topk

WORDS = (
    "spark data table row column filter join group window agg scan hash "
    "batch stream value key part order line customer nation small fast slow"
).split()


@pytest.fixture(scope="module")
def planted(spark):
    """FIXTURES.md planted_dups: 20 base docs + 5 near-copies (one-token
    edit) + 5 exact copies."""
    rng = random.Random(7)
    base = [" ".join(rng.choices(WORDS, k=40)) for _ in range(20)]
    rows = [(i, t) for i, t in enumerate(base)]
    near_pairs = []
    for j in range(5):  # near-copies of docs 0..4
        toks = base[j].split()
        toks[rng.randrange(len(toks))] = "EDITED"
        rows.append((100 + j, " ".join(toks)))
        near_pairs.append((j, 100 + j))
    exact_ids = []
    for j in range(5):  # exact copies of docs 5..9
        rows.append((200 + j, base[5 + j]))
        exact_ids.append((5 + j, 200 + j))
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    return df, near_pairs, exact_ids


def test_exact_dedup_removes_exact_copies(planted, spark):
    df, _near, exact_ids = planted
    out = exact_dedup(df).collect()
    assert len(out) == 25  # 30 docs - 5 exact copies
    dups = {r.doc_id: r.n_copies for r in out if r.n_copies > 1}
    assert dups == {orig: 2 for orig, _copy in exact_ids}


def test_minhash_sha_recall_on_planted_near_dups(planted):
    """Oracle-reproducible MinHash (q_dedup_minhash's generator) meets
    the FIXTURES.md recall bound on the planted near-dups and surfaces
    every exact copy, and its signature math matches a from-scratch
    python replay of the LCG-permutation spec (the contract the SQL
    oracle relies on)."""
    import hashlib

    from snapflow_spark.functions.text import _minhash_sha_bands_batch
    from snapflow_spark.operators.dedup_text import minhash_sha_candidates

    df, near_pairs, exact_ids = planted
    got = {(r.id_a, r.id_b) for r in minhash_sha_candidates(df).collect()}
    found = sum(1 for p in near_pairs if p in got)
    assert found / len(near_pairs) >= 0.8  # FIXTURES.md recall bound
    assert all(p in got for p in exact_ids)  # jaccard-1.0 pairs always collide

    text = "the quick brown fox jumps over the lazy dog again and again"
    toks = text.split()
    grams = sorted({" ".join(toks[i : i + 3]) for i in range(len(toks) - 2)})
    P = 2147483647
    hs = [
        int.from_bytes(hashlib.sha256(g.encode()).digest()[:4], "big") % P
        for g in grams
    ]
    sig = []
    for i in range(32):
        a = (1103515245 * (i + 1) + 12345) % (P - 1) + 1
        b = (1103515245 * (i + 1000) + 12345) % P
        sig.append(min((a * h + b) % P for h in hs))
    expect = [sig[2 * j] * P + sig[2 * j + 1] for j in range(16)]
    import pandas as pd

    assert list(_minhash_sha_bands_batch(pd.Series([text]))[0]) == expect


def test_ngram_jaccard_verification(planted, spark):
    df, near_pairs, exact_ids = planted
    cand = spark.createDataFrame(near_pairs + exact_ids, "id_a bigint, id_b bigint")
    verified = {(r.id_a, r.id_b): r.jaccard for r in ngram_jaccard_pairs(df, cand).collect()}
    for p in exact_ids:
        assert verified[p] == 1.0
    for p in near_pairs:
        assert 0.5 < verified[p] < 1.0  # one-token edit: high but < 1


@pytest.fixture(scope="module")
def embeddings(spark):
    rng = random.Random(11)
    rows = [
        (i, [rng.gauss(0, 1) for _ in range(16)]) for i in range(300)
    ]
    # plant 3 near-duplicate pairs (tiny perturbation)
    for j in range(3):
        base = rows[j][1]
        rows.append((500 + j, [x + rng.gauss(0, 0.01) for x in base]))
    return spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in rows],
        "vec_id bigint, embedding array<float>",
    )


def test_ivf_recall_vs_brute_force(embeddings):
    probes = embeddings.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("probe_id"), "embedding"
    )
    corpus = embeddings
    exact = brute_force_topk(corpus, probes, k=5)
    exact_sets = {
        pid: {r.vec_id for r in rows}
        for pid, rows in _group(exact.collect(), "probe_id").items()
    }
    index = IVFIndex.build(corpus, k_cells=8)
    approx = index.search(probes, k=5, nprobe=3)
    approx_sets = {
        pid: {r.vec_id for r in rows}
        for pid, rows in _group(approx.collect(), "probe_id").items()
    }
    recalls = [
        len(exact_sets[p] & approx_sets.get(p, set())) / 5 for p in exact_sets
    ]
    assert sum(recalls) / len(recalls) >= 0.8


def test_embedding_near_dup_int_finds_planted(embeddings):
    """The oracle-reproducible integer-SRP form (q_embed_near_dup's
    generator) finds the same planted near-dups, and its band keys are
    well-distributed (the affine-LCG degeneracy regression: half the
    bands collapsing to 2 values would swallow recall in truncation)."""
    from collections import Counter

    from snapflow_spark.operators.similarity import embedding_near_dup_pairs_int

    pairs = {(r.id_a, r.id_b) for r in embedding_near_dup_pairs_int(
        embeddings, cos_threshold=0.95
    ).collect()}
    planted = {(j, 500 + j) for j in range(3)}
    assert planted <= pairs

    # band-key diversity: no band may bucket >25% of the corpus into
    # one value (303 vectors over 64 values should spread ~5/bucket);
    # numpy replay of the operator's weight spec
    import numpy as np
    vecs = np.array(
        [r.embedding for r in embeddings.select("embedding").collect()],
        dtype=np.float64,
    )
    q = np.floor(vecs * 1000).astype(np.int64)
    dim, n_planes, bits = q.shape[1], 48, 6
    i = np.arange(dim, dtype=np.int64)[:, None]
    p = np.arange(n_planes, dtype=np.int64)[None, :]
    k = i * n_planes + p
    h1 = (k * 2654435761) % 4294967296
    h2 = (h1 ^ (h1 >> 15)) % 2147483648
    h3 = (h2 * 2246822519) % 4294967296
    w = np.where((h3 ^ (h3 >> 13)) % 2 == 0, 1, -1).astype(np.int64)
    keys = ((q @ w) >= 0).reshape(len(q), 8, bits).astype(np.int64) @ (
        1 << np.arange(bits)
    )
    for band in range(8):
        top = Counter(keys[:, band].tolist()).most_common(1)[0][1]
        assert top <= len(q) * 0.25, f"band {band} degenerate: {top}/{len(q)}"


def test_embedding_near_dup_int_autosizes_bands(embeddings):
    """bits_per_band=None keeps expected bucket occupancy constant as
    the corpus grows (the knob that holds recall at 10x/100x): still
    finds the planted pairs, and a bigger corpus gets wider bands."""
    import math

    from snapflow_spark.operators.similarity import embedding_near_dup_pairs_int

    pairs = {(r.id_a, r.id_b) for r in embedding_near_dup_pairs_int(
        embeddings, cos_threshold=0.95, bits_per_band=None
    ).collect()}
    assert {(j, 500 + j) for j in range(3)} <= pairs
    # the sizing formula itself: monotone in n, clamped to [4, 24]
    size = lambda n: min(24, max(4, math.ceil(math.log2(max(2, n / 32)))))
    assert size(300) == 4
    assert size(20_000) == 10
    assert size(2_000_000) == 16
    assert size(10**12) == 24


def _group(rows, key):
    out = {}
    for r in rows:
        out.setdefault(r[key], []).append(r)
    return out


def test_multimodal_real_decode(spark, planted):
    """Blobs are real encoded PPM/BMP/PNG images; the Spark
    featurizer's output must equal the numpy reference computed from
    the same decoded pixels, per doc."""
    import numpy as np

    from snapflow_spark.multimodal import decode_image_bytes, image_features

    df, _n, _e = planted
    blobs = attach_image_blob(df.limit(10))
    assert dict(blobs.dtypes)["blob"] == "binary"
    raw = {r.doc_id: bytes(r.blob) for r in blobs.select("doc_id", "blob").collect()}
    # all formats present (id % 7 -> PPM / BMP / PNG / baseline JPEG /
    # progressive JPEG / GIF / LZW TIFF; both JPEG flavors share the
    # FFD8 magic)
    magics = {b[:2] for b in raw.values()}
    assert magics == {b"P6", b"BM", b"\x89P", b"\xff\xd8", b"GI", b"II"}
    # the progressive member really is SOF2
    prog = [b for i, b in raw.items() if i % 7 == 4]
    assert prog and all(b"\xff\xc2" in b for b in prog)
    rows = extract_features(blobs).collect()
    assert len(rows) == 10
    for r in rows:
        expect = image_features(decode_image_bytes(raw[r.doc_id]))
        assert np.allclose(r.features, expect, atol=1e-6), r.doc_id
    # deterministic: same blob -> same vector across runs
    again = {r.doc_id: r.features for r in extract_features(blobs).collect()}
    assert all(again[r.doc_id] == r.features for r in rows)


def test_image_codec_roundtrip_and_known_image():
    import numpy as np

    from snapflow_spark.multimodal import (
        decode_image_bytes,
        encode_bmp,
        encode_ppm,
        image_features,
        resize_nearest,
        synthesize_image,
    )

    rng = np.random.default_rng(7)
    arr = rng.integers(0, 256, size=(5, 3, 3), dtype=np.uint8)
    assert np.array_equal(decode_image_bytes(encode_ppm(arr)), arr)
    # BMP row padding: width 3 -> 9 bytes padded to 12 per row
    assert np.array_equal(decode_image_bytes(encode_bmp(arr)), arr)

    # known 2x2 image: exact header parse + feature values
    px = np.array(
        [[[255, 0, 0], [0, 255, 0]], [[0, 0, 255], [255, 255, 255]]], dtype=np.uint8
    )
    ppm = b"P6\n2 2\n255\n" + px.tobytes()
    assert np.array_equal(decode_image_bytes(ppm), px)
    f = image_features(px)
    assert f[6] == 2.0 and f[7] == 2.0  # width, height
    assert abs(f[0] - (510 / 4) / 255.0) < 1e-6  # mean red = 0.5
    # ascii P3 variant decodes identically
    p3 = ("P3\n2 2\n255\n" + " ".join(str(v) for v in px.reshape(-1))).encode()
    assert np.array_equal(decode_image_bytes(p3), px)
    # nearest-neighbor upscale doubles each pixel
    up = resize_nearest(px, 4, 4)
    assert up.shape == (4, 4, 3)
    assert np.array_equal(up[0, 0], px[0, 0]) and np.array_equal(up[3, 3], px[1, 1])
    # deterministic synthesis
    assert np.array_equal(synthesize_image(b"x", 4, 4), synthesize_image(b"x", 4, 4))
    # JPEG now dispatches to the baseline codec (round 4); a stream
    # that is just a magic with no scan fails loudly, not silently
    with pytest.raises(ValueError):
        decode_image_bytes(b"\xff\xd8\xff\xe0JFIF")
    # and round-trips through decode_image_bytes for real streams
    from snapflow_spark.multimodal.jpeg import encode_jpeg

    grad = np.tile(np.arange(16, dtype=np.uint8)[:, None] * 16, (1, 16))
    rgb = np.stack([grad, grad.T, grad], axis=-1)
    out = decode_image_bytes(encode_jpeg(rgb, quality=95))
    assert out.shape == rgb.shape
    assert np.abs(out.astype(int) - rgb.astype(int)).mean() < 2.0


def test_png_codec_roundtrip_and_filters():
    """Stdlib-zlib PNG codec (round 3): RGB + gray round-trips, and
    decode of every filter type (our encoder emits only type 0, but
    external files use Sub/Up/Average/Paeth — hand-filter a known
    image and check the un-filtering reconstructs it)."""
    import struct
    import zlib

    import numpy as np

    from snapflow_spark.multimodal import decode_image_bytes, encode_png
    from snapflow_spark.multimodal.codec import _png_chunk, _PNG_SIG, decode_png

    rng = np.random.default_rng(11)
    rgb = rng.integers(0, 256, size=(7, 5, 3), dtype=np.uint8)
    gray = rng.integers(0, 256, size=(6, 4), dtype=np.uint8)
    assert np.array_equal(decode_image_bytes(encode_png(rgb)), rgb)
    assert np.array_equal(decode_image_bytes(encode_png(gray)), gray)

    # hand-filtered PNG: rows use filters 1..4 (Sub, Up, Average, Paeth)
    img = rng.integers(0, 256, size=(4, 3, 3), dtype=np.uint8).astype(np.int32)
    h, w, bpp = 4, 3, 3
    scan = bytearray()
    for r, ft in enumerate([1, 2, 3, 4]):
        scan.append(ft)
        prior = img[r - 1].reshape(-1) if r else np.zeros(w * bpp, np.int32)
        cur = img[r].reshape(-1)
        for i in range(w * bpp):
            a = int(cur[i - bpp]) if i >= bpp else 0
            b = int(prior[i])
            c = int(prior[i - bpp]) if i >= bpp else 0
            if ft == 1:
                pred = a
            elif ft == 2:
                pred = b
            elif ft == 3:
                pred = (a + b) // 2
            else:
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
            scan.append((int(cur[i]) - pred) % 256)
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    blob = (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(bytes(scan)))
        + _png_chunk(b"IEND", b"")
    )
    assert np.array_equal(decode_png(blob), img.astype(np.uint8))

    # unsupported variants are loud (16-bit non-palette decodes
    # since round-5 continuation, so the loud case is 16-bit PALETTE)
    ihdr16 = struct.pack(">IIBBBBB", 2, 2, 16, 3, 0, 0, 0)
    bad = _PNG_SIG + _png_chunk(b"IHDR", ihdr16) + _png_chunk(b"IEND", b"")
    with pytest.raises(ValueError, match="non-palette"):
        decode_png(bad)
    with pytest.raises(ValueError, match="IHDR"):
        decode_png(_PNG_SIG + b"000")


def test_sample_frames_expansion(spark, planted):
    df, _n, _e = planted
    blobs = attach_image_blob(df.limit(3)).withColumn(
        "meta", F.col("meta").withField("duration_ms", F.lit(3500))
    )
    frames = sample_frame_offsets(blobs, every_ms=1000)
    per_doc = _group(frames.collect(), "doc_id")
    assert all([f.frame_ms for f in fs] == [0, 1000, 2000, 3000] for fs in per_doc.values())


def test_winnow_fingerprints_overlap_for_near_dups(spark, planted):
    """Near-copies (one-token edit) share most winnowed fingerprints;
    unrelated docs share few."""
    from snapflow_spark.functions.text import (
        gram_hashes_expr,
        tokens_expr,
        winnow_fingerprints_expr,
    )

    df, near_pairs, _ = planted
    staged = df.select(
        "doc_id", gram_hashes_expr(tokens_expr("text"), n=3).alias("h")
    ).select("doc_id", winnow_fingerprints_expr(F.col("h"), w=4).alias("fps"))
    fps = {r.doc_id: set(r.fps) for r in staged.collect()}
    for a, b in near_pairs:
        inter = len(fps[a] & fps[b]) / len(fps[a] | fps[b])
        assert inter > 0.5, (a, b, inter)
    # unrelated random docs share almost nothing
    assert len(fps[0] & fps[10]) / len(fps[0] | fps[10]) < 0.2


def test_shared_span_pairs_detects_copied_spans(spark):
    """Copied-span detection (MOSS collisions): two documents that are
    DISSIMILAR as wholes but share one verbatim span pair up; unrelated
    docs don't; whole-doc near-copies pair with a high count. Also:
    truncation counters fire on a boilerplate fingerprint carried by
    every doc when max_bucket is small."""
    from pyspark.sql import Observation

    from snapflow_spark.operators.dedup_text import shared_span_pairs

    span = (
        "the quick brown fox jumps over the lazy dog near the wide river"
    )
    rows = [
        (0, "alpha beta gamma " + span + " delta epsilon zeta eta theta"),
        (1, "one two three four " + span + " five six seven eight nine"),
        (2, "totally unrelated words such that nothing collides here at all"),
        (3, "alpha beta gamma " + span + " delta epsilon zeta eta iota"),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = {
        (r.id_a, r.id_b): r.n_shared for r in shared_span_pairs(df).collect()
    }
    assert (0, 1) in got and got[(0, 1)] >= 2  # span-only overlap
    assert (0, 3) in got and got[(0, 3)] > got[(0, 1)]  # near-copy: more
    assert not any(2 in p for p in got)  # unrelated doc pairs with nobody
    # min_fp is a witness shared by both docs' fingerprint sets
    from snapflow_spark.functions.text import (
        gram_hashes_expr,
        tokens_expr,
        winnow_fingerprints_expr,
    )

    fps = {
        r.doc_id: set(r.fps)
        for r in df.select(
            "doc_id", gram_hashes_expr(tokens_expr("text"), n=3).alias("h")
        )
        .select("doc_id", winnow_fingerprints_expr(F.col("h"), w=4).alias("fps"))
        .collect()
    }
    wit = {
        (r.id_a, r.id_b): r.min_fp for r in shared_span_pairs(df).collect()
    }
    assert wit[(0, 1)] in (fps[0] & fps[1])
    # designed loss is observable: max_bucket=2 truncates the span
    # fingerprints' 3-doc buckets
    obs = Observation()
    pairs = shared_span_pairs(df, max_bucket=2, observation=obs).persist()
    pairs.count()
    assert obs.get["truncated_buckets"] > 0 and obs.get["dropped_pairs"] > 0
    pairs.unpersist()


def test_bpe_tokens_shape(spark):
    from snapflow_spark.functions.text import bpe_tokens_expr

    df = spark.createDataFrame([("Hello world's 42 co-ops done",)], "text string")
    toks = df.select(bpe_tokens_expr("text").alias("t")).first()["t"]
    assert toks == ["Hello", " world", "'s", " 42", " co", "-", "ops", " done"]
    # lossless: concatenation reconstructs the input
    assert "".join(toks) == "Hello world's 42 co-ops done"


def test_ivf_save_load_roundtrip(embeddings, tmp_path):
    """Persisted IVF index: search on a loaded index returns the same
    neighbors, and the assignment is laid out partitionBy(cell) so a
    probe reads only its nprobe cells (verified via input_file_name)."""
    from snapflow_spark.operators.similarity import IVFIndex

    probes = embeddings.where(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("probe_id"), "embedding"
    )
    index = IVFIndex.build(embeddings, k_cells=8)
    before = {(r.probe_id, r.vec_id) for r in index.search(probes, k=5, nprobe=3).collect()}

    path = str(tmp_path / "ivf")
    index.save(path)
    spark = embeddings.sparkSession
    loaded = IVFIndex.load(spark, path)
    after = {(r.probe_id, r.vec_id) for r in loaded.search(probes, k=5, nprobe=3).collect()}
    assert after == before

    cell_dirs = {p.name for p in (tmp_path / "ivf" / "assigned").glob("cell=*")}
    assert len(cell_dirs) == 8
    # partition pruning: a single-cell filter reads exactly one cell dir
    one = loaded.assigned.where(F.col("cell") == 3)
    files = {r[0] for r in one.select(F.input_file_name()).distinct().collect()}
    assert files and all("cell=3" in f for f in files)


def test_resize_images_real_resample(spark, planted):
    """Resize decodes, nearest-neighbor resamples, and re-encodes in
    the SOURCE format; decoded output must equal the numpy resample of
    the decoded input."""
    import numpy as np

    from snapflow_spark.multimodal import (
        decode_image_bytes,
        resize_images,
        resize_nearest,
    )

    df, _n, _e = planted
    blobs = attach_image_blob(df.limit(5))
    before = {r.doc_id: bytes(r.blob) for r in blobs.select("doc_id", "blob").collect()}
    resized = resize_images(blobs, width=16, height=4)
    rows = resized.collect()
    assert len(rows) == 5
    for r in rows:
        raw = bytes(r.blob)
        assert raw[:2] == before[r.doc_id][:2]  # format preserved
        arr = decode_image_bytes(raw)
        assert arr.shape == (4, 16, 3)
        expect = resize_nearest(decode_image_bytes(before[r.doc_id]), 16, 4)
        if raw[:2] == b"\xff\xd8":
            # JPEG re-encode is lossy: bounded error, not equality
            err = np.abs(arr.astype(int) - expect.astype(int)).mean()
            assert err < 8.0, (r.doc_id, err)
        else:
            assert np.array_equal(arr, expect), r.doc_id
    assert all((r.meta.width, r.meta.height) == (16, 4) for r in rows)
    # schema-preserving transform (mapInPandas normalizes nullability,
    # so compare names + types, not the exact StructType)
    assert resized.schema.simpleString() == blobs.schema.simpleString()


def test_decode_images_operator(spark, planted):
    import numpy as np

    from snapflow_spark.multimodal import decode_image_bytes, decode_images

    df, _n, _e = planted
    blobs = attach_image_blob(df.limit(4))
    raw = {r.doc_id: bytes(r.blob) for r in blobs.select("doc_id", "blob").collect()}
    out = {r.doc_id: r for r in decode_images(blobs).collect()}
    assert len(out) == 4
    for doc_id, r in out.items():
        arr = decode_image_bytes(raw[doc_id])
        assert (r.height, r.width, r.channels) == (arr.shape[0], arr.shape[1], 3)
        assert np.array_equal(np.array(r.pixels).reshape(arr.shape), arr)


def _exact_topk_ref(corpus, probes, k):
    """Numpy exact cosine top-k: (probe_id, vec_id, cos) rows ranked
    by (cos desc, vec_id asc). The dot and norm sums are sequential
    (np.cumsum), the same fold order as the engine's array aggregate,
    so the reference cosines are bit-identical to brute_force_topk's."""
    import numpy as np

    rows = [(r.vec_id, np.asarray(r.embedding, dtype=np.float64)) for r in corpus.collect()]
    out = []
    for p in probes.collect():
        pv = np.asarray(p.embedding, dtype=np.float64)
        pnorm = np.sqrt(np.cumsum(pv * pv)[-1])
        scored = [
            (-(np.cumsum(v * pv)[-1] / (np.sqrt(np.cumsum(v * v)[-1]) * pnorm)), vid)
            for vid, v in rows
        ]
        out += [(p.probe_id, vid, -neg) for neg, vid in sorted(scored)[:k]]
    return out


def test_brute_force_topk_multi_probe_numpy_parity(spark, planted):
    """The exact scorer ranks several probes at once (one window per
    probe) and returns exactly a numpy exact reference's top-k."""
    from snapflow_spark.catalog import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    probes = emb.where(F.col("vec_id").isin(0, 1, 2)).select(
        F.col("vec_id").alias("probe_id"), "embedding"
    )
    corpus = emb.where(~F.col("vec_id").isin(0, 1, 2))

    def key(rows):
        return sorted((pid, vid, round(cos, 9)) for pid, vid, cos in rows)

    a = key(brute_force_topk(corpus, probes, k=7).collect())
    b = key(_exact_topk_ref(corpus, probes, k=7))
    assert a == b and len(a) == 21


def test_embed_near_dup_query_finds_planted_pairs(spark):
    """q_embed_near_dup plants perturbed copies (cos ≈ 0.944) and the
    SRP-LSH cascade must recover (orig, orig+1e6) pairs — high recall,
    zero false positives (the in-bucket exact cosine enforces the
    threshold)."""
    import numpy as np

    from snapflow_spark.catalog import load_table
    from snapflow_spark.queries.northstar import _PLANT, _PLANT_OFFSET, q_embed_near_dup

    # exact ground truth: which planted pairs actually clear cos 0.9
    # (sign-flipping dims 0 and 37 costs 2*energy of those dims, which
    # varies per vector)
    vecs = {
        r.vec_id: np.asarray(r.embedding, dtype=np.float64)
        for r in load_table(spark, "/root/testdata/sf0.001", "embeddings")
        .where(F.col("vec_id") < _PLANT)
        .collect()
    }
    expect = set()
    for vid, v in vecs.items():
        c = v.copy()
        c[0] *= -1
        c[37] *= -1
        cos = float(v @ c / (np.linalg.norm(v) * np.linalg.norm(c)))
        if cos >= 0.9:
            expect.add((vid, vid + _PLANT_OFFSET))

    rows = q_embed_near_dup(spark, "/root/testdata/sf0.001").collect()
    got = {(r.id_a, r.id_b) for r in rows}
    assert got <= expect  # exact in-bucket cosine: no false positives
    assert expect and len(got) >= 0.9 * len(expect)  # LSH recall
    assert all(0.9 <= r.cos <= 1.0 for r in rows)


def test_cell_bands_udf_matches_expression_reference(spark):
    """q_embed_near_exact's vectorized numpy band assignment
    (_cell_bands_udf, round 17) is value-identical to the scalar
    _cell_bit expression tier the DuckDB oracle replays — every band
    value for every vector in the slice."""
    from snapflow_spark.catalog import load_table
    from snapflow_spark.queries.northstar import (
        _CELL_BANDS,
        _EXACT_SLICE,
        _cell_bands_udf,
        _cell_bit,
    )

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings").where(
        F.col("vec_id") < _EXACT_SLICE
    )
    qv = F.transform(
        "embedding", lambda x: F.floor(x.cast("double") * 1000).cast("long")
    )
    expr_vals = F.array(
        *[
            (_cell_bit(F.col("qv"), 2 * b) * 2 + _cell_bit(F.col("qv"), 2 * b + 1))
            .cast("int")
            for b in range(_CELL_BANDS)
        ]
    )
    rows = (
        emb.select("vec_id", "embedding", qv.alias("qv"))
        .select(
            "vec_id",
            expr_vals.alias("expr_bands"),
            _cell_bands_udf("embedding").alias("np_bands"),
        )
        .collect()
    )
    assert rows
    for r in rows:
        assert list(r.expr_bands) == list(r.np_bands), r.vec_id


def test_ivf_build_small_corpus_and_pgm_resize(spark):
    """IVF build on a corpus smaller than k_cells clamps the cell
    count instead of crashing; resize keeps grayscale PGM grayscale
    and rewrites meta.mime truthfully."""
    import numpy as np

    from snapflow_spark.multimodal import (
        decode_image_bytes,
        encode_pgm,
        resize_images,
    )
    from snapflow_spark.operators.similarity import IVFIndex

    tiny = spark.createDataFrame(
        [(i, [float(i), float(-i), 1.0]) for i in range(5)],
        "vec_id long, embedding array<float>",
    )
    idx = IVFIndex.build(tiny, k_cells=16)
    assert len(idx.centers) == 5  # clamped to corpus size
    probes = tiny.where(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("probe_id"), "embedding"
    )
    assert idx.search(probes, k=2, nprobe=5).count() == 2

    gray = np.arange(48, dtype=np.uint8).reshape(6, 8)
    df = spark.createDataFrame([(1, bytearray(encode_pgm(gray)))], "doc_id long, blob binary")
    df = df.withColumn(
        "meta",
        F.struct(
            F.lit("image").alias("modality"),
            F.lit("image/x-portable-graymap").alias("mime"),
            F.lit(8).cast("int").alias("width"),
            F.lit(6).cast("int").alias("height"),
            F.lit(0).cast("int").alias("duration_ms"),
            F.lit("mem://g").alias("source_uri"),
        ),
    )
    r = resize_images(df, width=4, height=3).collect()[0]
    out = decode_image_bytes(bytes(r.blob))
    assert out.shape == (3, 4)  # still 2-D grayscale
    assert bytes(r.blob)[:2] == b"P5"
    assert r.meta.mime == "image/x-portable-graymap"
    assert (r.meta.width, r.meta.height) == (4, 3)


def test_brute_force_topk_string_ids(spark):
    """String doc and probe ids rank exactly as bigints do: the
    scorer's result matches the numpy exact reference."""
    # 0.003*i de-ties cosines: distinct ids with bitwise-equal cos
    # would tie-break on the FLOAT rounding of each path, not the data
    corpus = spark.createDataFrame(
        [
            (f"doc-{i:03d}", [float(i % 7) + 0.003 * i, float((i * 3) % 5), 1.0])
            for i in range(40)
        ],
        "vec_id string, embedding array<float>",
    )
    probes = spark.createDataFrame(
        [("p-a", [1.0, 0.0, 1.0]), ("p-b", [0.0, 2.0, 1.0])],
        "probe_id string, embedding array<float>",
    )

    def key(rows):
        return sorted((pid, vid, round(cos, 9)) for pid, vid, cos in rows)

    a = key(brute_force_topk(corpus, probes, k=4).collect())
    b = key(_exact_topk_ref(corpus, probes, k=4))
    assert a == b and len(a) == 8


def test_ivf_build_empty_corpus_raises(spark):
    """An empty corpus fails with a clear error, not a numpy argmax
    crash inside the Lloyd loop."""
    import pytest

    from snapflow_spark.operators.similarity import IVFIndex

    empty = spark.createDataFrame([], "vec_id long, embedding array<float>")
    with pytest.raises(ValueError, match="empty corpus"):
        IVFIndex.build(empty, k_cells=4)


def test_y4m_codec_roundtrip_and_features():
    """YUV4MPEG2 codec: C444 + Cmono round-trips, header parameter
    parse, loud failures for compressed/subsampled, and feature values
    pinned to hand-computed stats."""
    import numpy as np

    from snapflow_spark.multimodal import (
        decode_y4m,
        encode_y4m,
        synthesize_video,
        video_features,
    )

    rng = np.random.default_rng(5)
    color = rng.integers(0, 256, size=(4, 6, 5, 3), dtype=np.uint8)
    mono = rng.integers(0, 256, size=(3, 4, 4), dtype=np.uint8)
    f1, fps1 = decode_y4m(encode_y4m(color, fps=25))
    assert fps1 == 25 and np.array_equal(f1, color)
    f2, fps2 = decode_y4m(encode_y4m(mono, fps=30))
    assert fps2 == 30 and np.array_equal(f2[:, :, :, 0], mono)

    # known features: 2 frames, second = first + 10 everywhere
    a = np.full((4, 4, 3), 100, dtype=np.uint8)
    clip = np.stack([a, a + 10])
    f = video_features(clip, fps=10)
    assert f[0] == 200.0  # duration_ms: 2 frames @ 10fps
    assert f[1:5] == [2.0, 10.0, 4.0, 4.0]
    assert abs(f[5] - 105 / 255.0) < 1e-9  # mean luma
    assert abs(f[7] - 10 / 255.0) < 1e-9  # motion energy

    # synthesized motion is reproducible and nonzero
    v = synthesize_video(b"x", n_frames=5, width=6, height=6)
    assert np.array_equal(v, synthesize_video(b"x", n_frames=5, width=6, height=6))
    assert video_features(v, 25)[7] > 0.0

    with pytest.raises(NotImplementedError):
        decode_y4m(b"\x00\x00\x00\x18ftypmp42rest-of-an-mp4")
    with pytest.raises(NotImplementedError):
        decode_y4m(b"\x1aE\xdf\xa3webm-ebml-header")
    with pytest.raises(ValueError, match="C444/Cmono"):
        decode_y4m(b"YUV4MPEG2 W4 H4 F25:1 C420jpeg\nFRAME\n" + b"\x00" * 24)


def test_video_frame_sampling_feeds_image_pipeline(spark, planted):
    """attach_video_blob -> sample_frames explodes every-Nth decoded
    frame into REAL still-image blobs that the existing image
    featurizer consumes unchanged; extract_video_features matches the
    numpy reference per doc."""
    import numpy as np

    from snapflow_spark.multimodal import (
        attach_video_blob,
        decode_video_bytes,
        extract_features,
        extract_video_features,
        image_features,
        sample_frames,
        video_features,
    )

    df, _n, _e = planted
    blobs = attach_video_blob(df.limit(9), n_frames=6, fps=25)
    raw = {r.doc_id: bytes(r.blob) for r in blobs.select("doc_id", "blob").collect()}
    chans = {decode_video_bytes(b)[0].shape[3] for b in raw.values()}
    assert chans == {1, 3}
    # all three containers ship: id%5==4 is MJPEG-AVI (the lossy
    # member), id%5==2 is an animated GIF (round 5)
    assert {b[:4] for b in raw.values()} == {b"YUV4", b"RIFF", b"GIF8"}
    assert raw[4][:4] == b"RIFF"
    assert raw[2][:4] == b"GIF8"
    metas = {
        r.doc_id: (r.modality, r.mime, r.duration_ms)
        for r in blobs.select(
            "doc_id", "meta.modality", "meta.mime", "meta.duration_ms"
        ).collect()
    }
    assert metas[0] == ("video", "video/x-yuv4mpeg", 240)
    assert metas[4] == ("video", "video/x-msvideo", 240)
    assert metas[2] == ("video", "image/gif", 240)

    frames = sample_frames(blobs, every_n=2)
    rows = frames.collect()
    assert len(rows) == 9 * 3  # frames 0, 2, 4 of 6
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)
    for doc_id, rs in by_doc.items():
        assert sorted(r.frame_idx for r in rs) == [0, 2, 4]
        assert sorted(r.ts_ms for r in rs) == [0, 80, 160]
    # sampled stills decode (via the image codec) to the exact source frames
    from snapflow_spark.multimodal import decode_image_bytes

    for r in frames.collect():
        clip, _fps = decode_video_bytes(raw[r.doc_id])
        src = clip[r.frame_idx]
        still = decode_image_bytes(bytes(r.blob))
        if still.ndim == 2:  # PGM decodes to (h, w); source is (h, w, 1)
            still = still[:, :, None]
        assert np.array_equal(still, src)

    # and the stills feed the EXISTING image featurizer unchanged
    feat_rows = extract_features(
        frames.withColumn("doc_id", F.col("doc_id") * 10 + F.col("frame_idx"))
    ).collect()
    assert len(feat_rows) == 27 and all(len(r.features) > 0 for r in feat_rows)

    vrows = extract_video_features(blobs).collect()
    assert len(vrows) == 9
    for r in vrows:
        clip, fps = decode_video_bytes(raw[r.doc_id])
        assert fps == r.fps == 25
        assert np.allclose(r.features, video_features(clip, fps), atol=1e-12)


def test_wav_codec_roundtrip_and_features():
    """RIFF/WAVE PCM16 codec: mono + stereo round-trips, chunk-walking
    decode (extra LIST chunk skipped), loud failures for compressed/
    non-PCM, and feature values pinned to hand-computed stats."""
    import struct

    import numpy as np

    from snapflow_spark.multimodal import (
        audio_features,
        decode_wav,
        encode_wav,
        synthesize_audio,
    )

    rng = np.random.default_rng(3)
    mono = rng.integers(-32768, 32768, size=500, dtype=np.int16)
    stereo = rng.integers(-32768, 32768, size=(300, 2), dtype=np.int16)
    s, rate = decode_wav(encode_wav(mono, 8000))
    assert rate == 8000 and np.array_equal(s[:, 0], mono)
    s2, rate2 = decode_wav(encode_wav(stereo, 44100))
    assert rate2 == 44100 and np.array_equal(s2, stereo)

    # extra chunk between fmt and data is skipped (chunk walking)
    blob = bytearray(encode_wav(mono, 8000))
    extra = b"LIST" + struct.pack("<I", 4) + b"INFO"
    patched = bytes(blob[:36]) + extra + bytes(blob[36:])
    patched = patched[:4] + struct.pack("<I", len(patched) - 8) + patched[8:]
    s3, _ = decode_wav(patched)
    assert np.array_equal(s3[:, 0], mono)

    # known features: constant +1/-1 alternating square wave
    sq = np.tile(np.array([16384, -16384], dtype=np.int16), 400)
    f = audio_features(sq, 16000)
    assert f[0] == 1000.0 * 800 / 16000  # duration_ms
    assert f[1] == 1.0  # channels
    assert abs(f[2] - 0.5) < 1e-9  # rms of +-0.5 square
    assert abs(f[3] - 0.5) < 1e-9  # peak
    assert abs(f[5] - 1.0) < 1e-9  # sign flips every sample

    assert np.array_equal(synthesize_audio(b"x", 64, 2), synthesize_audio(b"x", 64, 2))
    with pytest.raises(NotImplementedError):
        decode_wav(b"ID3\x04rest-of-an-mp3")
    # each magic is checked at its own length: OggS/fLaC are 4 bytes,
    # MP3 frame sync is 2 (a fixed-width slice comparison left these
    # dead and they fell through to the generic ValueError)
    with pytest.raises(NotImplementedError):
        decode_wav(b"OggS\x00\x02rest-of-an-ogg")
    # FLAC is DECODABLE as of round 5 — decode_wav points at the
    # dispatcher, and a truncated stream fails loudly in decode_flac
    with pytest.raises(ValueError, match="decode_audio_bytes"):
        decode_wav(b"fLaC\x00\x00\x00\x22rest-of-a-flac")
    from snapflow_spark.multimodal.flac import decode_flac

    with pytest.raises(ValueError, match="truncated"):
        decode_flac(b"fLaC\x00\x00\x00\x22rest-of-a-flac")
    with pytest.raises(NotImplementedError):
        decode_wav(b"\xff\xfbmp3-frame-sync")
    with pytest.raises(ValueError, match="RIFF"):
        decode_wav(b"\x00\x01not-audio-at-all")
    # format tag 3 = IEEE float decodes since round-5 continuation
    # (empty data -> zero frames); a genuinely-unsupported DSP codec
    # (GSM 6.10) still raises naming the format code
    float_fmt = struct.pack("<HHIIHH", 3, 1, 8000, 32000, 4, 32)
    body = b"WAVE" + b"fmt " + struct.pack("<I", 16) + float_fmt
    body += b"data" + struct.pack("<I", 0)
    got, rate = decode_wav(b"RIFF" + struct.pack("<I", len(body)) + body)
    assert rate == 8000 and got.shape[0] == 0
    with pytest.raises(ValueError, match="unsupported WAV codec"):
        gsm_fmt = struct.pack("<HHIIHH", 0x31, 1, 8000, 1625, 65, 0)
        body = b"WAVE" + b"fmt " + struct.pack("<I", 16) + gsm_fmt
        body += b"data" + struct.pack("<I", 0)
        decode_wav(b"RIFF" + struct.pack("<I", len(body)) + body)


def test_audio_blob_pipeline_spark(spark, planted):
    """attach_audio_blob -> extract_audio_features end to end: fused
    mapInPandas features equal the numpy reference per doc, both
    channel layouts present, resample halves the duration's sample
    count while preserving rate metadata contract."""
    import numpy as np

    from snapflow_spark.multimodal import (
        attach_audio_blob,
        audio_features,
        decode_audio_bytes,
        decode_wav,
        extract_audio_features,
        resample_audio,
    )

    df, _n, _e = planted
    blobs = attach_audio_blob(df.limit(9), n_samples=320)
    raw = {r.doc_id: bytes(r.blob) for r in blobs.select("doc_id", "blob").collect()}
    chans = {decode_audio_bytes(b)[0].shape[1] for b in raw.values()}
    assert chans == {1, 2}
    # the rotation ships BOTH containers: id%5==4 is FLAC, rest WAV
    assert {b[:4] for b in raw.values()} == {b"RIFF", b"fLaC"}
    assert raw[4][:4] == b"fLaC"
    metas = {
        r.doc_id: (r.modality, r.mime, r.duration_ms)
        for r in blobs.select("doc_id", "meta.modality", "meta.mime", "meta.duration_ms").collect()
    }
    assert metas[0] == ("audio", "audio/wav", 20)
    assert metas[4] == ("audio", "audio/flac", 20)

    rows = extract_audio_features(blobs).collect()
    assert len(rows) == 9
    for r in rows:
        samples, rate = decode_audio_bytes(raw[r.doc_id])
        assert rate == r.sample_rate == 16000
        assert np.allclose(r.features, audio_features(samples, rate), atol=1e-12)

    halved = resample_audio(blobs, 8000)
    got = decode_wav(bytes(halved.select("blob").first().blob))
    assert got[1] == 8000 and got[0].shape[0] == 160


def test_simhash_sha_finds_near_dups(planted):
    """The oracle-reproducible sha256 simhash (q_dedup_simhash's
    generator) meets the near-dup detection contract: exact copies at
    hamming 0, planted near-dups recalled."""
    from snapflow_spark.operators.dedup_text import simhash_sha_candidates

    df, near_pairs, exact_ids = planted
    pairs = {
        (r.id_a, r.id_b): r.hamming
        for r in simhash_sha_candidates(df, max_hamming=6).collect()
    }
    assert all(p in pairs for p in exact_ids)
    assert all(pairs[p] == 0 for p in exact_ids)
    found = sum(1 for p in near_pairs if p in pairs)
    assert found / len(near_pairs) >= 0.8


def test_connected_components_chain_and_parity(spark):
    """A~B, B~C collapses to ONE cluster (the pair-level trap), and a
    random graph's components match a from-scratch python union-find."""
    import random as _random

    from snapflow_spark.operators.dedup_text import connected_components

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (22, 20)],
        "id_a bigint, id_b bigint",
    )
    got = {r.id: r.component for r in connected_components(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 20: 20, 21: 20, 22: 20}

    rng = _random.Random(3)
    edges = [(rng.randrange(200), rng.randrange(200)) for _ in range(150)]
    edges = [(a, b) for a, b in edges if a != b]
    parent = list(range(200))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    touched = {x for e in edges for x in e}
    expect = {x: find(x) for x in touched}
    # normalize union-find roots to component-min ids
    comp_min: dict = {}
    for x, r in expect.items():
        comp_min.setdefault(r, x)
        comp_min[r] = min(comp_min[r], x)
    expect = {x: comp_min[r] for x, r in expect.items()}
    df = spark.createDataFrame(edges, "id_a bigint, id_b bigint")
    got = {r.id: r.component for r in connected_components(df).collect()}
    assert got == expect


def test_connected_components_nonconvergence_raises(spark):
    """Exhausting max_iter with labels still moving must fail loudly:
    the intermediate labels would silently split a long-diameter
    component into several clusters (under-dedup with no signal)."""
    from snapflow_spark.operators.dedup_text import connected_components

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(8)], "id_a bigint, id_b bigint"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(chain, max_iter=2)
    # a graph needing EXACTLY max_iter propagation rounds converges:
    # the implementation runs one extra confirming (zero-change) round
    # rather than misreporting the boundary case as non-converged
    got = {r.id: r.component for r in connected_components(chain, max_iter=8).collect()}
    assert set(got.values()) == {0}
    # same graph converges with budget to spare
    got = {r.id: r.component for r in connected_components(chain, max_iter=10).collect()}
    assert set(got.values()) == {0}


def test_dedup_cluster_representatives_end_to_end(planted, spark):
    """Full cascade: LSH candidates -> exact verify -> components ->
    one representative per near-dup cluster; exact copies and near
    copies fold into their base doc's cluster."""
    from snapflow_spark.operators.dedup_text import (
        dedup_cluster_representatives,
        minhash_sha_candidates,
    )

    df, near_pairs, exact_ids = planted
    cands = minhash_sha_candidates(df)
    verified = ngram_jaccard_pairs(df, cands.select("id_a", "id_b")).where(
        F.col("jaccard") >= 0.5
    )
    out = {r.doc_id: (r.component, r.is_rep)
           for r in dedup_cluster_representatives(df, verified).collect()}
    assert len(out) == 30  # every corpus doc is assigned
    for base, copy in exact_ids:
        assert out[copy] == (base, False)
        assert out[base] == (base, True)
    found_near = sum(1 for b, c in near_pairs if out[c][0] == b)
    assert found_near / len(near_pairs) >= 0.8
    kept = [d for d, (_c, rep) in out.items() if rep]
    assert len(kept) <= 30 - 5 - found_near + 0  # at least copies+nears folded


def test_pq_codes_compress_and_rerank_is_exact_over_candidates(embeddings):
    """PQ encode: m bytes per vector (64x smaller than float64 raw);
    ADC + exact re-rank finds each in-corpus probe as its own top-1
    with cos == 1."""
    from snapflow_spark.operators.similarity import PQCodec

    pq = PQCodec.train(embeddings, m=4, n_codes=32, seed=7)
    codes = pq.encode(embeddings)
    lengths = {len(r.pq_code) for r in codes.collect()}
    assert lengths == {4}

    probes = embeddings.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("probe_id"), "embedding"
    )
    top = pq.adc_topk(codes, probes, k=5, rerank_with=embeddings)
    by_probe = _group(top.collect(), "probe_id")
    for pid, rows in by_probe.items():
        best = max(rows, key=lambda r: r.cos)
        assert best.vec_id == pid
        assert abs(best.cos - 1.0) < 1e-9


def test_pq_adc_recall_vs_brute_force(embeddings):
    from snapflow_spark.operators.similarity import PQCodec

    probes = embeddings.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("probe_id"), "embedding"
    )
    exact_sets = {
        pid: {r.vec_id for r in rows}
        for pid, rows in _group(brute_force_topk(embeddings, probes, k=5).collect(), "probe_id").items()
    }
    pq = PQCodec.train(embeddings, m=4, n_codes=32, seed=7)
    codes = pq.encode(embeddings)

    reranked = pq.adc_topk(codes, probes, k=5, rerank_with=embeddings, rerank_factor=6)
    rr_sets = {
        pid: {r.vec_id for r in rows}
        for pid, rows in _group(reranked.collect(), "probe_id").items()
    }
    recalls = [len(exact_sets[p] & rr_sets.get(p, set())) / 5 for p in exact_sets]
    assert sum(recalls) / len(recalls) >= 0.8

    # ADC alone (no re-rank) is the cheap pass — still mostly right
    adc_sets = {
        pid: {r.vec_id for r in rows}
        for pid, rows in _group(pq.adc_topk(codes, probes, k=5).collect(), "probe_id").items()
    }
    adc_recalls = [len(exact_sets[p] & adc_sets.get(p, set())) / 5 for p in exact_sets]
    assert sum(adc_recalls) / len(adc_recalls) >= 0.4


def test_ivf_pq_composed_search(embeddings):
    """Full IVF-PQ: cell pruning + ADC over codes + exact re-rank.
    Each in-corpus probe must find itself; recall@5 vs brute force
    stays useful at nprobe=3 of 8 cells."""
    from snapflow_spark.operators.similarity import IVFPQIndex

    probes = embeddings.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("probe_id"), "embedding"
    )
    exact_sets = {
        pid: {r.vec_id for r in rows}
        for pid, rows in _group(brute_force_topk(embeddings, probes, k=5).collect(), "probe_id").items()
    }
    index = IVFPQIndex.build(embeddings, k_cells=8, m=4, n_codes=32)
    result = index.search(probes, k=5, nprobe=3, rerank_factor=6)
    sets = {
        pid: {r.vec_id for r in rows}
        for pid, rows in _group(result.collect(), "probe_id").items()
    }
    for pid in sets:
        assert pid in sets[pid]  # self-match survives the cascade
    recalls = [len(exact_sets[p] & sets.get(p, set())) / 5 for p in exact_sets]
    assert sum(recalls) / len(recalls) >= 0.6


def test_jpeg_codec_roundtrip_all_layouts():
    """Baseline JPEG codec (pure numpy + stdlib): 4:4:4, 4:2:0,
    grayscale, odd dims, quality scaling, restart markers. JPEG is
    lossy, so round trips assert BOUNDED error (tight on smooth
    gradients) — unlike the bit-exact PNG/PPM/BMP codecs."""
    import numpy as np

    from snapflow_spark.multimodal.jpeg import decode_jpeg, encode_jpeg

    h, w = 24, 40
    yy, xx = np.mgrid[0:h, 0:w]
    img = np.stack(
        [(xx * 6) % 256, (yy * 9) % 256, ((xx + yy) * 4) % 256], axis=-1
    ).astype(np.uint8)

    for sub in ("444", "420"):
        out = decode_jpeg(encode_jpeg(img, quality=95, subsampling=sub))
        assert out.shape == img.shape
        err = np.abs(out.astype(int) - img.astype(int)).mean()
        assert err < (1.0 if sub == "444" else 3.0), (sub, err)
        # lower quality -> smaller file, larger error
        hi = encode_jpeg(img, quality=95, subsampling=sub)
        lo = encode_jpeg(img, quality=40, subsampling=sub)
        assert len(lo) < len(hi)

    # grayscale
    g = (yy * 11 % 256).astype(np.uint8)
    gout = decode_jpeg(encode_jpeg(g, quality=90))
    assert gout.shape == g.shape and gout.ndim == 2
    assert np.abs(gout.astype(int) - g.astype(int)).mean() < 1.0

    # odd (non-multiple-of-8/16) dims survive pad + crop
    odd = img[:9, :13]
    for sub in ("444", "420"):
        assert decode_jpeg(encode_jpeg(odd, subsampling=sub)).shape == odd.shape

    # deterministic both directions
    assert encode_jpeg(img) == encode_jpeg(img)
    assert np.array_equal(decode_jpeg(encode_jpeg(img)), decode_jpeg(encode_jpeg(img)))


def test_jpeg_restart_markers_and_error_paths():
    import numpy as np
    import pytest as _pytest

    from snapflow_spark.multimodal.jpeg import decode_jpeg, encode_jpeg

    h, w = 32, 32
    yy, xx = np.mgrid[0:h, 0:w]
    img = np.stack([(xx * 7) % 256, (yy * 5) % 256, (xx * yy) % 256], axis=-1).astype(
        np.uint8
    )
    plain = encode_jpeg(img, subsampling="420")
    with_rst = encode_jpeg(img, subsampling="420", restart_interval=2)
    assert b"\xff\xdd" in with_rst  # DRI emitted
    assert any(bytes([0xFF, 0xD0 + n]) in with_rst for n in range(8))
    # restart markers change the byte stream but not the decoded pixels
    assert np.array_equal(decode_jpeg(with_rst), decode_jpeg(plain))
    # 444 + gray restart paths too
    for enc in (
        encode_jpeg(img, subsampling="444", restart_interval=3),
        encode_jpeg(img[..., 0], restart_interval=4),
    ):
        decode_jpeg(enc)  # no exception, resync works

    # progressive (SOF2) is SUPPORTED as of round 5 — but a baseline
    # body mislabeled SOF2 is malformed: its full-band Ss=0,Se=63 scan
    # is illegal in progressive (a scan is DC Se=0 or AC Ss>=1)
    sof0 = plain.find(b"\xff\xc0")
    mislabeled = plain[:sof0] + b"\xff\xc2" + plain[sof0 + 2 :]
    with _pytest.raises(ValueError, match="Se=0"):
        decode_jpeg(mislabeled)
    # arithmetic coding (SOF9) still raises explicitly
    arith = plain[:sof0] + b"\xff\xc9" + plain[sof0 + 2 :]
    with _pytest.raises(NotImplementedError, match="arithmetic"):
        decode_jpeg(arith)
    with _pytest.raises(ValueError, match="SOI"):
        decode_jpeg(b"not a jpeg")


def test_jpeg_in_spark_blob_pipeline(spark, planted):
    """decode_image_bytes dispatches JPEG; attach/extract/resize all
    handle the lossy member of the rotation."""
    import numpy as np

    from snapflow_spark.multimodal import decode_image_bytes, image_features

    df, _n, _e = planted
    blobs = attach_image_blob(df.limit(8))
    jpeg_rows = [
        r for r in blobs.select("doc_id", "blob", "meta").collect()
        if bytes(r.blob)[:2] == b"\xff\xd8"
    ]
    assert jpeg_rows and all(r.meta.mime == "image/jpeg" for r in jpeg_rows)
    feats = {r.doc_id: r.features for r in extract_features(blobs).collect()}
    for r in jpeg_rows:
        expect = image_features(decode_image_bytes(bytes(r.blob)))
        assert np.allclose(feats[r.doc_id], expect, atol=1e-6)


def test_jpeg_truncated_streams_raise_valueerror():
    """Truncated streams raise ValueError (the codec error contract
    pipelines quarantine on), never raw IndexError/struct.error."""
    import numpy as np

    from snapflow_spark.multimodal.jpeg import decode_jpeg, encode_jpeg

    yy, xx = np.mgrid[0:16, 0:16]
    img = np.stack([(xx * 9) % 256, (yy * 7) % 256, (xx + yy) % 256], -1).astype(
        np.uint8
    )
    full = encode_jpeg(img)
    for cut in (4, 20, len(full) // 2, len(full) - 3):
        with pytest.raises((ValueError, NotImplementedError)):
            decode_jpeg(full[:cut])
    # restart-marker stream truncated mid-scan also fails cleanly
    rst = encode_jpeg(img, restart_interval=1)
    with pytest.raises(ValueError):
        decode_jpeg(rst[: len(rst) - 5])


def test_extract_features_arrow_parity(spark, planted):
    """The mapInArrow featurizer returns exactly the mapInPandas
    featurizer's rows — same decode, same statistics, no pandas
    materialization in the worker."""
    from snapflow_spark.multimodal import extract_features_arrow

    df, _n, _e = planted
    blobs = attach_image_blob(df.limit(8))
    via_pandas = {r.doc_id: r for r in extract_features(blobs).collect()}
    via_arrow = {r.doc_id: r for r in extract_features_arrow(blobs).collect()}
    assert set(via_pandas) == set(via_arrow)
    for doc_id, pr in via_pandas.items():
        ar = via_arrow[doc_id]
        assert ar.modality == pr.modality
        assert ar.features == pr.features, doc_id


def test_jpeg_lone_ff_and_arrow_featurizer_int_ids(spark, planted):
    import numpy as np

    from snapflow_spark.multimodal import extract_features_arrow
    from snapflow_spark.multimodal.jpeg import decode_jpeg

    # header region ending on a lone 0xFF: ValueError, not IndexError
    with pytest.raises(ValueError, match="lone 0xFF"):
        decode_jpeg(b"\xff\xd8\xff")

    # int32 id column: the arrow featurizer casts to the declared
    # bigint schema instead of failing on batch-schema mismatch
    df, _n, _e = planted
    blobs = attach_image_blob(
        df.withColumn("doc_id", F.col("doc_id").cast("int")).limit(4)
    )
    rows = extract_features_arrow(blobs).collect()
    assert len(rows) == 4 and all(len(r.features) == 8 for r in rows)


def test_jpeg_multi_scan_decode():
    """Multi-scan baseline JPEG (one non-interleaved SOS per component,
    T.81 §A.2.2): decodes bit-identically to the single-interleaved-
    scan encoding of the same image — same coefficients, different
    scan layout — with per-scan DC chains and restart numbering, at
    non-multiple-of-8 dims too. A multi-scan file MISSING a
    component's scan fails loudly (never a silent Y-only plane)."""
    import numpy as np

    from snapflow_spark.multimodal.jpeg import decode_jpeg, encode_jpeg

    rng = np.random.default_rng(0)
    base = rng.integers(40, 215, size=(5, 7, 3)).astype(np.float64)
    img = np.kron(base, np.ones((8, 8, 1))).astype(np.uint8)[:37, :51]

    one = decode_jpeg(encode_jpeg(img, quality=95))
    multi_bytes = encode_jpeg(img, quality=95, interleave=False)
    assert multi_bytes.count(b"\xff\xda") >= 3  # three SOS segments
    multi = decode_jpeg(multi_bytes)
    assert np.array_equal(one, multi)

    # restart markers within non-interleaved scans resync per scan
    with_rst = decode_jpeg(
        encode_jpeg(img, quality=95, interleave=False, restart_interval=3)
    )
    assert np.array_equal(one, with_rst)

    # truncate the file at the LAST scan's SOS: component 3 never gets
    # a scan -> loud error naming the missing component
    last_sos = multi_bytes.rfind(b"\xff\xda")
    truncated = multi_bytes[:last_sos] + b"\xff\xd9"
    with pytest.raises(ValueError, match="missing scans"):
        decode_jpeg(truncated)

    # 420 stays interleave-only on the ENCODER (padding disagreement
    # documented); the decoder handles any layout
    with pytest.raises(ValueError, match="444 or grayscale"):
        encode_jpeg(img, subsampling="420", interleave=False)


def test_ann_staged_index_lifecycle(spark):
    """The q_similarity_ann index is STAGED per (session, sf_dir,
    mtime) — round 18: a repeat call with the same inputs reuses the
    SAME trained index (no re-training, no new pin); a different
    sf_dir re-stages and releases the stale pin exactly once; a second
    session in the same process gets its own slot and is untouched by
    the first session's re-staging."""
    from snapflow_spark.queries import northstar as ns

    sf = "/root/testdata/sf0.001"
    q = ns.q_similarity_ann
    spark.catalog.clearCache()
    ns._ANN_INDEX_CACHE.pop(spark, None)

    # Asserts on the cache dict + per-DataFrame storage levels, NOT on
    # getRDDStorageInfo() growth: clearCache/unpersist are
    # NON-BLOCKING, so global RDD-block counts drift while earlier
    # tests' dead pins drain — the round-7 full-suite flake was
    # exactly that baseline race (VERDICT r7 #1).
    q(spark, sf).write.format("noop").mode("overwrite").save()
    (first_key, first) = next(iter(ns._ANN_INDEX_CACHE[spark].items()))
    assert first_key[0] == sf
    assert first.coded.storageLevel.useMemory  # pinned

    # repeat call, same inputs: the staged index is REUSED — same
    # object, no release, still exactly one entry
    released = []
    orig_unpersist = first.coded.unpersist
    first.coded.unpersist = lambda *a, **k: (
        released.append(True),
        orig_unpersist(*a, **k),
    )[1]
    q(spark, sf).write.format("noop").mode("overwrite").save()
    assert ns._ANN_INDEX_CACHE[spark][first_key] is first
    assert len(ns._ANN_INDEX_CACHE[spark]) == 1
    assert released == []

    # a second session stages its own slot; ours is untouched
    other = spark.newSession()
    q(other, "/root/testdata/sf0.01").write.format("noop").mode(
        "overwrite"
    ).save()
    assert next(iter(ns._ANN_INDEX_CACHE[other].values())) is not first
    assert first.coded.storageLevel.useMemory

    # a DIFFERENT sf_dir in our session re-stages: the stale pin is
    # released exactly once, the other session's stays pinned
    q(spark, "/root/testdata/sf0.01").write.format("noop").mode(
        "overwrite"
    ).save()
    assert released == [True]
    assert len(ns._ANN_INDEX_CACHE[spark]) == 1
    assert next(iter(ns._ANN_INDEX_CACHE[spark].keys()))[0].endswith("sf0.01")
    other_idx = next(iter(ns._ANN_INDEX_CACHE[other].values()))
    assert other_idx.coded.storageLevel.useMemory
    # cleanup: drop both sessions' pins
    for s in (spark, other):
        for idx in ns._ANN_INDEX_CACHE.pop(s).values():
            idx.coded.unpersist()


def test_ivfpq_index_save_load_and_stored_code_scan(embeddings, tmp_path):
    """The STANDING IVF-PQ index: save/load round-trips the coded
    table + centroids + codebooks; a search on the loaded index ADC-
    scans the STORED pq_code column (the scan's ReadSchema carries no
    raw-vector column when rerank is off), prunes to the probed cell
    partitions, and returns the same neighbors as the in-memory build."""
    from snapflow_spark.operators.similarity import IVFPQIndex

    spark = embeddings.sparkSession
    probes = embeddings.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("probe_id"), "embedding"
    )
    idx = IVFPQIndex.build(embeddings, k_cells=8, m=4, n_codes=32)
    before = {
        (r.probe_id, r.vec_id)
        for r in idx.search(probes, k=5, nprobe=3, rerank_factor=6).collect()
    }
    path = str(tmp_path / "ivfpq")
    idx.save(path)
    loaded = IVFPQIndex.load(spark, path)
    after = {
        (r.probe_id, r.vec_id)
        for r in loaded.search(probes, k=5, nprobe=3, rerank_factor=6).collect()
    }
    assert after == before

    # the ADC stage of a loaded-index search reads ONLY (id, code):
    # with rerank off the whole plan's parquet ReadSchema must contain
    # pq_code and must NOT contain the raw embedding column
    adc_only = loaded.search(probes, k=5, nprobe=3, rerank=False)
    plan = adc_only._jdf.queryExecution().executedPlan().toString()
    schemas = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert schemas and all("pq_code" in ln for ln in schemas)
    assert all("embedding" not in ln for ln in schemas)

    # partition pruning on the stored layout: one cell -> one cell dir
    one = loaded.coded.where(F.col("cell") == 2)
    files = {r[0] for r in one.select(F.input_file_name()).distinct().collect()}
    assert files and all("cell=2" in f for f in files)

    # keep_raw=False builds a pure code index; flat/rerank demand raw
    lean = IVFPQIndex.build(embeddings, k_cells=8, m=4, n_codes=32, keep_raw=False)
    assert "embedding" not in lean.coded.columns
    with pytest.raises(ValueError, match="keep_raw"):
        lean.search_flat(probes)
    with pytest.raises(ValueError, match="rerank"):
        lean.search(probes)
    # external-corpus re-rank still works on the lean index
    ext = {
        (r.probe_id, r.vec_id)
        for r in lean.search(
            probes, k=5, nprobe=3, rerank_factor=6, rerank=embeddings
        ).collect()
    }
    assert ext == before


def test_lsh_truncation_observability(spark):
    """bucketed_pairs' max_bucket cut is a designed recall loss; with
    an Observation attached the loss is MEASURED during the caller's
    own action. Plant a mega-bucket (many identical docs collapse into
    one band bucket) and check the counters report exactly what was
    dropped; a clean corpus reports zero truncation."""
    from pyspark.sql import Observation

    from snapflow_spark.operators.dedup_text import minhash_sha_candidates

    n_copies, cap = 24, 8
    rows = [(i, "the exact same sentence repeated everywhere") for i in range(n_copies)]
    rows += [(1000 + j, f"unique filler document number {j} talking about topic {j}") for j in range(10)]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")

    obs = Observation("trunc")
    cands = minhash_sha_candidates(df, max_bucket=cap, observation=obs)
    cands.count()  # the action the pipeline would run anyway
    m = obs.get
    # identical docs share ALL 16 band buckets -> every one truncated
    assert m["truncated_buckets"] == 16
    assert m["max_bucket_size"] == n_copies
    assert m["dropped_members"] == 16 * (n_copies - cap)
    expect_lost = (n_copies * (n_copies - 1) - cap * (cap - 1)) // 2
    assert m["dropped_pairs"] == 16 * expect_lost
    assert m["pair_buckets"] >= 16

    # clean corpus: counters exist and report zero loss
    clean = spark.createDataFrame(
        [(j, f"totally distinct text {j} about theme {j * 7}") for j in range(20)],
        "doc_id bigint, text string",
    )
    obs2 = Observation("trunc2")
    minhash_sha_candidates(clean, max_bucket=cap, observation=obs2).count()
    m2 = obs2.get
    assert m2["truncated_buckets"] == 0 and m2["dropped_members"] == 0
    assert m2["dropped_pairs"] == 0


def test_q_dedup_minhash_surfaces_truncation_metrics(spark):
    """The declared query exposes the cascade's truncation Observation
    on its returned DataFrame — recall loss is inspectable after the
    driver's action with zero extra scans."""
    import snapflow_spark.queries  # noqa: F401 — register
    from snapflow_spark.registry import all_queries

    df = all_queries()["q_dedup_minhash"](spark, "/root/testdata/sf0.001")
    assert hasattr(df, "lsh_observation")
    df.count()
    m = df.lsh_observation.get
    assert m["buckets"] > 0 and m["max_bucket_size"] >= 1
    assert m["dropped_members"] >= 0  # counters present and consistent
    assert m["truncated_buckets"] <= m["buckets"]


def test_ivfpq_search_flat_string_probe_ids(spark):
    """Both IVFPQIndex tiers must accept the same probe schemas: the
    flat tier (via IVFIndex.search) derives probe-id/vector types from
    the input schema rather than hardcoding bigint/float (the ADC tier
    already did), so string document ids work end to end."""
    import random

    from snapflow_spark.operators.similarity import IVFPQIndex

    rng = random.Random(3)
    rows = [
        (f"doc-{i:03d}", [float(rng.gauss(0, 1)) for _ in range(16)])
        for i in range(120)
    ]
    corpus = spark.createDataFrame(rows, "vec_id string, embedding array<double>")
    probes = corpus.where(F.col("vec_id") < "doc-003").select(
        F.col("vec_id").alias("probe_id"), "embedding"
    )
    idx = IVFPQIndex.build(corpus, k_cells=4, m=4, n_codes=16)
    flat = idx.search_flat(probes, k=3, nprobe=2).collect()
    pqr = idx.search(probes, k=3, nprobe=2).collect()
    assert flat and pqr
    # every probe finds itself as its own nearest neighbor in both tiers
    for res in (flat, pqr):
        best = {}
        for r in res:
            if r.probe_id not in best or r.cos > best[r.probe_id][1]:
                best[r.probe_id] = (r.vec_id, r.cos)
        assert all(pid == vid for pid, (vid, _) in best.items())


def test_embedding_near_dup_mixed_dim_raises(spark):
    """A corpus mixing vector widths must fail loudly, not silently
    hash the widths into disjoint bucket spaces (zero cross-width
    recall). Two guards cover the two physical cases: np.vstack
    rejects a mix WITHIN one Arrow batch; the UDF's first-batch dim
    check rejects a width change ACROSS batches — both widths in one
    partition, split into 10-row batches, where without the check the
    in-bucket cosine fails late (a divide by zero) or not at all.
    Either way: a loud error, never silently-empty pairs."""
    from snapflow_spark.operators.similarity import embedding_near_dup_pairs_int

    a = spark.createDataFrame(
        [(i, [float(i % 7), 1.0, 2.0, 3.0]) for i in range(50)],
        "vec_id bigint, embedding array<float>",
    )
    b = spark.createDataFrame(
        [(1000 + i, [float(i % 5)] * 8) for i in range(50)],
        "vec_id bigint, embedding array<float>",
    )
    mixed = a.repartition(1).unionByName(b.repartition(1))
    with pytest.raises(
        Exception,
        match="dim changed|one vector width|input array dimensions",
    ):
        embedding_near_dup_pairs_int(mixed, cos_threshold=0.9).count()

    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "10")
    try:
        with pytest.raises(Exception, match="dim changed"):
            embedding_near_dup_pairs_int(
                a.unionByName(b).coalesce(1), cos_threshold=0.9
            ).count()
    finally:
        spark.conf.set(key, old)


def test_jpeg_progressive_codec():
    """Progressive (SOF2) JPEG: spectral selection + successive
    approximation, Huffman-coded. Decoded progressive == decoded
    BASELINE of the same image bit-for-bit (the successive-
    approximation ladder ends at Al=0, so coefficients reconstruct
    exactly — crossing two different entropy layers, which catches
    one-sided bugs). And the defining progressive property holds:
    decoding only a PREFIX of the scans yields a coarse approximation
    whose error shrinks as scans are added."""
    import numpy as np

    from snapflow_spark.multimodal.jpeg import (
        decode_jpeg,
        encode_jpeg,
        encode_jpeg_progressive,
    )

    rng = np.random.default_rng(7)
    # smooth-ish content: block-structured base + noise exercises both
    # long zero runs (EOBn/ZRL) and dense refinement bits
    base = np.kron(
        rng.integers(30, 226, size=(6, 8, 3)).astype(np.float64),
        np.ones((8, 8, 1)),
    )
    noise = rng.normal(0, 12, size=base.shape)
    img = np.clip(base + noise, 0, 255).astype(np.uint8)[:45, :61]

    for q in (50, 85, 95):
        expect = decode_jpeg(encode_jpeg(img, quality=q))
        data = encode_jpeg_progressive(img, quality=q)
        header = data[: data.find(b"\xff\xda")]
        assert b"\xff\xc2" in header and b"\xff\xc0" not in header  # SOF2
        got = decode_jpeg(data)
        assert np.array_equal(expect, got), f"q={q}"

    # gray too
    g = img[..., 0]
    assert np.array_equal(
        decode_jpeg(encode_jpeg(g, quality=85)),
        decode_jpeg(encode_jpeg_progressive(g, quality=85)),
    )

    # progressive refinement: decode prefixes of the scan sequence
    # (cut before the k-th SOS, append EOI) — every prefix with a DC
    # scan is a viewable approximation and error is (weakly) shrinking
    data = encode_jpeg_progressive(img, quality=85)
    full = decode_jpeg(data).astype(np.float64)
    sos_positions = []
    p = 0
    while True:
        p = data.find(b"\xff\xda", p + 1)
        if p < 0:
            break
        sos_positions.append(p)
    assert len(sos_positions) == 10  # the color scan script
    errs = []
    for cut in sos_positions[1:] + [len(data) - 2]:
        partial = decode_jpeg(data[:cut] + b"\xff\xd9")
        errs.append(float(np.abs(partial.astype(np.float64) - full).mean()))
    # DC-only is a real approximation of the image, not garbage
    assert errs[0] < 64
    # error at the end is 0 and the refinement trend is downward
    assert errs[-1] == 0.0
    assert errs[-1] <= errs[len(errs) // 2] <= errs[0] + 1e-9


def test_flac_codec_roundtrip_all_paths():
    """Pure-numpy FLAC codec: encode->decode is BIT-EXACT (FLAC is
    lossless) across every subframe/stereo path the decoder has —
    CONSTANT (silence), FIXED orders 0-4, LPC, rice AND rice2
    residuals (noise needs >14-bit params), mid/side and independent
    stereo, odd/tiny lengths — and the compressed size actually
    shrinks on predictable signals."""
    import numpy as np

    from snapflow_spark.multimodal.flac import decode_flac, encode_flac

    rng = np.random.default_rng(3)
    t = np.arange(9000)
    sine = (3000 * np.sin(t / 40)).astype(np.int16)
    noise = rng.integers(-32768, 32768, size=(5000, 2)).astype(np.int16)

    def rt(samples, **kw):
        dec, rate = decode_flac(encode_flac(samples, 16000, **kw))
        want = np.asarray(samples, dtype=np.int64)
        if want.ndim == 1:
            want = want[:, None]
        assert rate == 16000
        assert np.array_equal(dec.astype(np.int64), want), kw
        return len(encode_flac(samples, 16000, **kw))

    sz_sine = rt(sine)
    rt(noise)                      # mid/side + rice2
    rt(noise, mid_side=False)      # independent channels
    rt(np.zeros(10000, dtype=np.int16))            # CONSTANT
    rt(np.full(700, -1234, dtype=np.int16))        # CONSTANT, negative
    rt(sine[:4097], block_size=1024)               # partial last block
    rt(sine[:1])
    rt(sine, lpc=True)                             # LPC decode path
    for o in range(5):
        rt(sine[:2000], order=o)                   # all FIXED orders
    rt(np.array([32767, -32768] * 500, dtype=np.int16))
    # real compression on the predictable signal (9000*2 bytes raw)
    assert sz_sine < 9000
    # silence compresses to almost nothing
    assert len(encode_flac(np.zeros(10000, dtype=np.int16), 16000)) < 200

    # malformed streams fail loudly
    import pytest as _pytest

    with _pytest.raises(ValueError, match="magic"):
        decode_flac(b"not flac")
    with _pytest.raises(ValueError, match="truncated"):
        decode_flac(b"fLaC\x00\x00\x00\x22" + b"\x00" * 10)


def test_avi_mjpeg_codec_roundtrip():
    """MJPEG-in-AVI: a REAL compressed-video format with no codec
    library — the RIFF container parses with struct and every frame
    is a JPEG the from-scratch T.81 codec decodes. Round trip bounds
    the per-frame JPEG error; fps comes from strh rate/scale; a
    non-MJPG stream raises naming the codec; decode_video_bytes
    dispatches both containers."""
    import numpy as np

    from snapflow_spark.multimodal.video import (
        decode_avi_mjpeg,
        decode_video_bytes,
        decode_y4m,
        encode_avi_mjpeg,
        encode_y4m,
        synthesize_video,
    )

    color = synthesize_video(b"avi", n_frames=5, width=24, height=16, channels=3)
    avi = encode_avi_mjpeg(color, fps=12, quality=95)
    dec, fps = decode_avi_mjpeg(avi)
    assert dec.shape == color.shape and fps == 12
    # JPEG is lossy but bounded; frame count and order preserved
    err = np.abs(dec.astype(int) - color.astype(int)).mean()
    assert err < 24.0, err
    # frames decode in order: frame 0 matches frame 0's JPEG, not a shuffle
    per_frame = [
        np.abs(dec[f].astype(int) - color[f].astype(int)).mean() for f in range(5)
    ]
    assert all(e < 24.0 for e in per_frame)

    mono = synthesize_video(b"m", n_frames=3, width=16, height=8, channels=1)
    dmono, mfps = decode_video_bytes(encode_avi_mjpeg(mono, fps=10))
    assert dmono.shape == mono.shape and mfps == 10

    # dispatcher handles Y4M unchanged
    y, yfps = decode_video_bytes(encode_y4m(color, 25))
    assert np.array_equal(y, color) and yfps == 25

    # a foreign codec raises with its name, not a JPEG decode error
    i = avi.find(b"MJPG", avi.find(b"strf"))
    h264 = avi[:i] + b"H264" + avi[i + 4 :]
    with pytest.raises(NotImplementedError, match="H264"):
        decode_avi_mjpeg(h264)
    # decode_y4m redirects AVI input to the dispatcher
    with pytest.raises(ValueError, match="decode_video_bytes"):
        decode_y4m(avi)
    with pytest.raises(ValueError, match="RIFF"):
        decode_avi_mjpeg(b"nope")


def test_flac_unknown_total_and_crc_validation():
    """RFC 9639 edge cases: total-samples=0 means UNKNOWN (streamed
    captures) — frames decode until EOF instead of silently returning
    an empty array; and the header CRC-8 / frame CRC-16 are actually
    VALIDATED (corruption fails loudly, not as garbage PCM)."""
    import numpy as np

    from snapflow_spark.multimodal.flac import decode_flac, encode_flac

    pcm = (2000 * np.sin(np.arange(500) / 11)).astype(np.int16)
    data = bytearray(encode_flac(pcm, 8000, block_size=256))

    # zero the 36-bit total-samples field (STREAMINFO bits 108..143 =
    # byte 13 low nibble through byte 17; STREAMINFO body starts at 8)
    unknown = bytearray(data)
    unknown[8 + 13] &= 0xF0
    unknown[8 + 14 : 8 + 18] = b"\x00\x00\x00\x00"
    dec, rate = decode_flac(bytes(unknown))
    assert rate == 8000
    assert np.array_equal(dec[:, 0].astype(np.int64), pcm.astype(np.int64))

    # frame CRC-16: flipping the trailing CRC byte fails loudly
    bad16 = bytearray(data)
    bad16[-1] ^= 0xFF
    with pytest.raises(ValueError, match="CRC-16"):
        decode_flac(bytes(bad16))

    # header CRC-8: the first frame header is 4 fixed bytes + 1-byte
    # UTF-8 number + 2-byte blocksize, CRC-8 at frame_start+7
    # (frame_start = 4 magic + 4 block header + 34 STREAMINFO = 42)
    bad8 = bytearray(data)
    bad8[42 + 7] ^= 0xFF
    with pytest.raises(ValueError, match="CRC-8"):
        decode_flac(bytes(bad8))


def test_avi_audio_stream_before_video():
    """An AVI that lists an AUDIO stream before the video stream must
    still detect the video codec from the 'vids' stream's strf — an
    audio strf is a WAVEFORMATEX, and reading its bytes as a
    BITMAPINFOHEADER misdetects the codec (regression: the decoder
    took the FIRST strf it saw)."""
    import struct as _s

    import numpy as np

    from snapflow_spark.multimodal.video import (
        decode_avi_mjpeg,
        encode_avi_mjpeg,
        synthesize_video,
    )

    frames = synthesize_video(b"a", n_frames=3, width=16, height=8, channels=3)
    avi = encode_avi_mjpeg(frames, fps=15)

    def chunk(fourcc, payload):
        pad = b"\x00" if len(payload) & 1 else b""
        return fourcc + _s.pack("<I", len(payload)) + payload + pad

    astrh = _s.pack(
        "<4s4sIHHIIIIIIII4H",
        b"auds", b"\x00\x00\x00\x00", 0, 0, 0, 0, 1, 8000, 0, 8000,
        0, 0xFFFFFFFF, 0, 0, 0, 0, 0,
    )
    astrf = _s.pack("<HHIIHH", 1, 1, 8000, 16000, 2, 16)  # WAVEFORMATEX
    astrl_payload = b"strl" + chunk(b"strh", astrh) + chunk(b"strf", astrf)
    astrl = b"LIST" + _s.pack("<I", len(astrl_payload)) + astrl_payload

    # insert the audio strl before the video strl, fix up sizes
    vids_strl = avi.find(b"strl")
    insert_at = vids_strl - 8  # the video strl's LIST header
    patched = bytearray(avi[:insert_at] + astrl + avi[insert_at:])
    patched[4:8] = _s.pack("<I", _s.unpack("<I", bytes(patched[4:8]))[0] + len(astrl))
    h = bytes(patched).find(b"hdrl")
    patched[h - 4 : h] = _s.pack(
        "<I", _s.unpack("<I", bytes(patched[h - 4 : h]))[0] + len(astrl)
    )
    dec, fps = decode_avi_mjpeg(bytes(patched))
    assert dec.shape == frames.shape and fps == 15
    err = np.abs(dec.astype(int) - frames.astype(int)).mean()
    assert err < 24.0


def test_audio_resample_preserves_container(spark, planted):
    """resample_audio re-encodes each blob in its SOURCE container, so
    a FLAC row's mime metadata stays truthful after resampling
    (regression: everything came back as WAV under a FLAC mime)."""
    import numpy as np

    from snapflow_spark.multimodal import (
        attach_audio_blob,
        decode_audio_bytes,
        resample_audio,
    )

    df, _n, _e = planted
    blobs = attach_audio_blob(df.limit(9), n_samples=320)
    halved = resample_audio(blobs, 8000)
    rows = halved.select("doc_id", "blob", "meta.mime").collect()
    by_id = {r.doc_id: r for r in rows}
    assert bytes(by_id[4].blob[:4]) == b"fLaC"
    assert by_id[4].mime == "audio/flac"
    assert bytes(by_id[0].blob[:4]) == b"RIFF"
    for r in rows:
        samples, rate = decode_audio_bytes(bytes(r.blob))
        assert rate == 8000 and samples.shape[0] == 160


def test_embedding_semantic_dedup_end_to_end(embeddings):
    """SemDeDup-shaped EMBEDDING dedup, composed from the in-repo
    pieces: SRP-LSH near-dup pairs -> connected components ->
    one representative per cluster. Chained plants (A~B, B~C with no
    direct A~C pair) must collapse to ONE cluster, and the corpus
    keep-set drops exactly the non-representative members."""
    import numpy as np

    from snapflow_spark.operators import semantic_dedup

    spark = embeddings.sparkSession
    # plant a CHAIN off vec 0: two perturbed copies (0~600, 0~601 via
    # near-identical vectors) — with the three existing planted pairs
    # (j, 500+j), components are {0,500,600,601}, {1,501}, {2,502}
    base = embeddings.where(F.col("vec_id") == 0).first().embedding
    rng = np.random.default_rng(5)
    extra = spark.createDataFrame(
        [
            (600, [float(x + rng.normal(0, 0.008)) for x in base]),
            (601, [float(x + rng.normal(0, 0.008)) for x in base]),
        ],
        "vec_id bigint, embedding array<float>",
    )
    corpus = embeddings.unionByName(extra)
    decision = semantic_dedup(corpus, cos_threshold=0.95, id_col="vec_id")
    rows = {r.vec_id: (r.component, r.is_rep) for r in decision.collect()}
    # every corpus vector got a decision
    assert len(rows) == corpus.count()
    # the chain collapsed: all four near-copies share component 0 and
    # only vec 0 represents it
    for vid in (0, 500, 600, 601):
        assert rows[vid][0] == 0, (vid, rows[vid])
    assert rows[0][1] and not rows[500][1] and not rows[600][1]
    for j in (1, 2):
        assert rows[500 + j][0] == j and not rows[500 + j][1]
        assert rows[j][1]
    # untouched vectors represent themselves
    assert rows[42] == (42, True)
    # keep-set = corpus minus the 5 non-representative near-dups
    kept = decision.where(F.col("is_rep")).count()
    assert kept == corpus.count() - 5


def test_semantic_dedup_cell_blocking_matches_lsh(embeddings):
    """The paper-faithful k-means-cell variant (round 6): with a
    standing IVFIndex, candidate blocking is the quantizer's cell
    assignment. On planted TIGHT clusters (near-identical vectors land
    in the same cell) the cell form must produce the SAME components
    and keep-set as the LSH form."""
    import numpy as np

    from snapflow_spark.operators import semantic_dedup
    from snapflow_spark.operators.similarity import IVFIndex

    spark = embeddings.sparkSession
    base = embeddings.where(F.col("vec_id") == 0).first().embedding
    rng = np.random.default_rng(6)
    extra = spark.createDataFrame(
        [
            (600, [float(x + rng.normal(0, 0.008)) for x in base]),
            (601, [float(x + rng.normal(0, 0.008)) for x in base]),
        ],
        "vec_id bigint, embedding array<float>",
    )
    corpus = embeddings.unionByName(extra)

    def decisions(df):
        return {r.vec_id: (r.component, r.is_rep) for r in df.collect()}

    via_lsh = decisions(semantic_dedup(corpus, cos_threshold=0.95))
    idx = IVFIndex.build(corpus, k_cells=8)
    via_cells = decisions(
        semantic_dedup(corpus, cos_threshold=0.95, index=idx)
    )
    assert via_cells == via_lsh
    # corpus may be omitted: the decision frame comes from the
    # index's own assignment
    assert decisions(semantic_dedup(cos_threshold=0.95, index=idx)) == via_lsh
    # guards: LSH knobs don't silently apply to cell blocking, and
    # the no-input form fails loudly
    import pytest as _pytest

    with _pytest.raises(ValueError, match="do not apply"):
        semantic_dedup(corpus, index=idx, n_bands=8)
    with _pytest.raises(ValueError, match="corpus or an index"):
        semantic_dedup(cos_threshold=0.95)


def test_semantic_dedup_cells_yaml_builtin(embeddings, tmp_path):
    """core.semantic_dedup blocking=cells runs end-to-end from a YAML
    pipeline graph (the paper's k-means-cell form as a config knob)."""
    from snapflow_spark.plans import load_graph

    spark = embeddings.sparkSession
    cfg = {
        "warehouse": str(tmp_path / "wh_sd"),
        "sources": [{"name": "emb"}],
        "nodes": [
            {
                "name": "decision",
                "function": "core.semantic_dedup",
                "upstream": {"input": {"node": "emb", "mode": "reference"}},
                "params": {
                    "blocking": "cells",
                    "k_cells": 8,
                    "cos_threshold": 0.95,
                },
            }
        ],
    }
    g = load_graph(cfg)
    g.pipeline.sources["emb"].append(embeddings)
    assert g.produce(spark) == 1
    rows = {
        r.vec_id: (r.component, r.is_rep)
        for r in g.read(spark, "decision").collect()
    }
    # the three planted (j, 500+j) near-dup pairs collapse
    for j in (0, 1, 2):
        assert rows[500 + j][0] == j and not rows[500 + j][1]
        assert rows[j] == (j, True)
    # unknown blocking fails loudly
    import pytest as _pytest

    cfg["nodes"][0]["params"]["blocking"] = "typo"
    g2 = load_graph({**cfg, "warehouse": str(tmp_path / "wh_sd2")})
    g2.pipeline.sources["emb"].append(embeddings)
    with _pytest.raises(ValueError, match="lsh|cells"):
        g2.produce(spark)


def test_jpeg_422_subsampling_roundtrip():
    """4:2:2 (2x1 luma per MCU, horizontally-averaged chroma): the
    decoder's generic MCU loop claimed this layout — now the encoder
    can produce it, so the claim is round-trip-exercised, including
    non-multiple-of-16 widths and restart markers. Horizontal-only
    chroma averaging should lose LESS than 4:2:0 on the same image."""
    import numpy as np

    from snapflow_spark.multimodal.jpeg import decode_jpeg, encode_jpeg

    rng = np.random.default_rng(9)
    base = np.kron(
        rng.integers(40, 216, size=(5, 7, 3)).astype(np.float64),
        np.ones((8, 8, 1)),
    )
    img = np.clip(base + rng.normal(0, 8, base.shape), 0, 255).astype(np.uint8)

    for im in (img, img[:37, :51]):
        out = decode_jpeg(encode_jpeg(im, quality=92, subsampling="422"))
        assert out.shape == im.shape
        err422 = np.abs(out.astype(int) - im.astype(int)).mean()
        assert err422 < 16, err422
    # restart markers resync in the 2-luma-block MCU layout too
    with_rst = decode_jpeg(
        encode_jpeg(img, quality=92, subsampling="422", restart_interval=3)
    )
    plain = decode_jpeg(encode_jpeg(img, quality=92, subsampling="422"))
    assert np.array_equal(with_rst, plain)
    # chroma fidelity ordering: 444 <= 422 <= 420 mean error
    errs = {}
    for sub in ("444", "422", "420"):
        d = decode_jpeg(encode_jpeg(img, quality=92, subsampling=sub))
        errs[sub] = float(np.abs(d.astype(int) - img.astype(int)).mean())
    assert errs["444"] <= errs["422"] <= errs["420"] + 0.5, errs


def test_png_palette_and_alpha_color_types():
    """All five 8-bit PNG color types decode: palette (PLTE lookup to
    RGB), RGBA and gray+alpha (alpha dropped after un-filtering),
    alongside the existing gray/RGB — with filtered scanlines, since
    real palette PNGs filter the INDEX bytes. Malformed palettes fail
    loudly."""
    import struct
    import zlib

    import numpy as np

    from snapflow_spark.multimodal.codec import _png_chunk, decode_png

    def make_png(w, h, ct, raw_rows, plte=None, filters=None):
        sig = b"\x89PNG\r\n\x1a\n"
        out = sig + _png_chunk(
            b"IHDR", struct.pack(">IIBBBBB", w, h, 8, ct, 0, 0, 0)
        )
        if plte is not None:
            out += _png_chunk(b"PLTE", plte)
        fts = filters or [0] * len(raw_rows)
        body = b"".join(bytes([ft]) + r for ft, r in zip(fts, raw_rows))
        return out + _png_chunk(b"IDAT", zlib.compress(body)) + _png_chunk(b"IEND", b"")

    pal = bytes([255, 0, 0, 0, 255, 0, 0, 0, 255, 9, 9, 9])
    img = decode_png(make_png(4, 2, 3, [bytes([0, 1, 2, 3]), bytes([3, 2, 1, 0])], pal))
    assert img.shape == (2, 4, 3)
    assert tuple(img[0, 0]) == (255, 0, 0) and tuple(img[1, 0]) == (9, 9, 9)

    # Up-filtered index rows: second row stored as deltas vs first
    row0 = bytes([0, 1, 2, 3])
    row1_delta = bytes([(3 - 0) % 256, (2 - 1) % 256, (1 - 2) % 256, (0 - 3) % 256])
    img_f = decode_png(
        make_png(4, 2, 3, [row0, row1_delta], pal, filters=[0, 2])
    )
    assert np.array_equal(img_f, img)

    rgba = decode_png(make_png(2, 1, 6, [bytes([10, 20, 30, 255, 40, 50, 60, 0])]))
    assert rgba.shape == (1, 2, 3) and tuple(rgba[0, 1]) == (40, 50, 60)

    graya = decode_png(make_png(2, 1, 4, [bytes([7, 255, 9, 0])]))
    assert graya.shape == (1, 2) and graya[0, 0] == 7 and graya[0, 1] == 9

    with pytest.raises(ValueError, match="PLTE"):
        decode_png(make_png(2, 1, 3, [bytes([0, 1])]))  # no palette
    with pytest.raises(ValueError, match="index out of range"):
        decode_png(make_png(2, 1, 3, [bytes([0, 200])], pal))
    # 16-bit non-palette DECODES since round-5 continuation (high
    # byte taken); 16-bit palette still raises
    sig = b"\x89PNG\r\n\x1a\n"
    deep = sig + _png_chunk(
        b"IHDR", struct.pack(">IIBBBBB", 1, 1, 16, 0, 0, 0, 0)
    ) + _png_chunk(b"IDAT", zlib.compress(b"\x00\xAB\xCD")) + _png_chunk(b"IEND", b"")
    assert decode_png(deep).tolist() == [[0xAB]]
    deep_pal = sig + _png_chunk(
        b"IHDR", struct.pack(">IIBBBBB", 1, 1, 16, 3, 0, 0, 0)
    ) + _png_chunk(b"IEND", b"")
    with pytest.raises(ValueError, match="non-palette"):
        decode_png(deep_pal)


def test_bmp_32bit_and_palette():
    """BMP variants beyond 24-bit: 32-bit BGRA (alpha dropped) and
    8-bit palette rows — the other two layouts real uncompressed BMPs
    use — plus loud failures for RLE and sub-8-bit depths."""
    import struct

    import numpy as np

    from snapflow_spark.multimodal.codec import decode_bmp, encode_bmp

    def bmp(w, h, bpp, pixel_rows, palette=b"", compression=0, n_colors=0):
        info = struct.pack(
            "<IiiHHIIiiII", 40, w, h, 1, bpp, compression, 0, 0, 0, n_colors, 0
        )
        body = palette + b"".join(pixel_rows)
        offset = 14 + 40 + len(palette)
        fh = b"BM" + struct.pack("<IHHI", offset + len(body) - len(palette), 0, 0, offset)
        return fh + info + body

    # 32-bit, bottom-up, 2x1: pixels stored BGRA
    rows = [bytes([30, 20, 10, 255, 60, 50, 40, 0])]
    img = decode_bmp(bmp(2, 1, 32, rows))
    assert img.shape == (1, 2, 3)
    assert tuple(img[0, 0]) == (10, 20, 30) and tuple(img[0, 1]) == (40, 50, 60)

    # 8-bit palette, 2 rows of 2 px (rows padded to 4 bytes), bottom-up
    pal = bytes([0, 0, 255, 0,   0, 255, 0, 0,   255, 0, 0, 0])  # BGRX quads
    prows = [bytes([2, 1, 0, 0]), bytes([0, 2, 0, 0])]  # bottom row first
    img = decode_bmp(bmp(2, 2, 8, prows, palette=pal, n_colors=3))
    assert img.shape == (2, 2, 3)
    assert tuple(img[0, 0]) == (255, 0, 0)   # top row = second stored row
    assert tuple(img[0, 1]) == (0, 0, 255)
    assert tuple(img[1, 0]) == (0, 0, 255) and tuple(img[1, 1]) == (0, 255, 0)

    with pytest.raises(ValueError, match="palette index"):
        decode_bmp(bmp(2, 1, 8, [bytes([9, 0, 0, 0])], palette=pal, n_colors=3))
    # RLE8 DECODES since round-5 continuation (the stream here is
    # run(2x idx1) + EOB)
    rle = decode_bmp(
        bmp(2, 1, 8, [bytes([2, 1, 0, 1])], palette=pal, compression=1, n_colors=3)
    )
    assert rle.tolist() == [[[0, 255, 0], [0, 255, 0]]]
    with pytest.raises(ValueError, match="RLE8"):
        decode_bmp(bmp(2, 1, 4, [bytes([0, 0, 0, 0])]))

    # 24-bit round-trip through our encoder still exact
    a = np.arange(36, dtype=np.uint8).reshape(3, 4, 3)
    assert np.array_equal(decode_bmp(encode_bmp(a)), a)


def test_ivfpq_append_frozen_quantizer_and_saved_layout(embeddings, tmp_path):
    """Round 8 incremental ingest: append() assigns new vectors to the
    EXISTING cells and encodes with the EXISTING codebooks (no
    retraining — FAISS-add semantics); append_to_saved() writes a
    delta batch straight into the saved Hive cell partitions at delta
    cost. An appended vector is findable at top-1; the original rows'
    codes and the quantizer are byte-identical before and after."""
    from snapflow_spark.operators.similarity import IVFPQIndex

    spark = embeddings.sparkSession
    base = embeddings.where(F.col("vec_id") < 250)
    delta = embeddings.where(F.col("vec_id") >= 250)
    n_base, n_delta = base.count(), delta.count()

    idx = IVFPQIndex.build(base, k_cells=8, m=4, n_codes=32)
    before_codes = {
        r.vec_id: bytes(r.pq_code) for r in idx.coded.collect()
    }
    grown = idx.append(delta)
    assert grown.coded.count() == n_base + n_delta
    # original rows untouched; quantizer and codebooks are THE SAME
    after_codes = {r.vec_id: bytes(r.pq_code) for r in grown.coded.collect()}
    for vid, code in before_codes.items():
        assert after_codes[vid] == code
    assert grown.ivf.centers is idx.ivf.centers
    assert grown.pq is idx.pq
    # an appended vector is its own nearest neighbor (rerank on raws)
    probe_row = delta.where(F.col("vec_id") == 500).select(
        F.lit(0).alias("probe_id"), "embedding"
    )
    hits = grown.search(probe_row, k=3, nprobe=8, rerank_factor=8).collect()
    assert hits[0].vec_id in (500, 0)  # 500 is a planted near-dup of 0
    assert {r.vec_id for r in hits} >= {500}

    # saved-layout append: delta lands in the cell partitions without
    # touching the base files; the loaded index sees everything
    path = str(tmp_path / "ivfpq_grow")
    idx.save(path)
    IVFPQIndex.append_to_saved(spark, path, delta)
    loaded = IVFPQIndex.load(spark, path)
    assert loaded.coded.count() == n_base + n_delta
    lhits = loaded.search(probe_row, k=3, nprobe=8, rerank_factor=8).collect()
    assert {r.vec_id for r in lhits} == {r.vec_id for r in hits}


def test_ivfpq_cell_stats_drift_monitor(embeddings):
    """cell_stats: the append-drift monitor — totals reconcile, and a
    deliberately off-distribution append raises the skew reading."""
    from snapflow_spark.operators.similarity import IVFPQIndex

    spark = embeddings.sparkSession
    idx = IVFPQIndex.build(
        embeddings.where(F.col("vec_id") < 250), k_cells=8, m=4, n_codes=32
    )
    s0 = idx.cell_stats()
    assert s0["n_rows"] == 250 and s0["n_cells"] <= 8
    assert s0["min"] <= s0["mean"] <= s0["max"]
    assert s0["skew"] >= 1.0
    # a shifted blob lands (mostly) in few cells -> skew rises
    shifted = spark.createDataFrame(
        [(9000 + i, [7.0] * 16) for i in range(300)],
        "vec_id bigint, embedding array<double>",
    ).withColumn("embedding", F.col("embedding").cast("array<float>"))
    s1 = idx.append(shifted.select("vec_id", F.col("embedding"))).cell_stats()
    assert s1["n_rows"] == 550
    assert s1["skew"] > s0["skew"]

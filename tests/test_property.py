"""Hypothesis property tests for the pure-python/numpy components
(SURVEY §5.2(3)): codecs, Bloom filter, curation arithmetic. These
run WITHOUT a SparkSession, so hypothesis can afford hundreds of
examples — the Spark-side tests pin the same components on fixed
fixtures.
"""

from __future__ import annotations

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

# bounded sizes keep each example in the low-ms range
_dims = st.integers(min_value=1, max_value=33)


@st.composite
def _rgb_images(draw):
    h, w = draw(_dims), draw(_dims)
    data = draw(
        st.binary(min_size=h * w * 3, max_size=h * w * 3)
    )
    return np.frombuffer(data, dtype=np.uint8).reshape(h, w, 3).copy()


@settings(max_examples=60, deadline=None)
@given(_rgb_images())
def test_lossless_codecs_roundtrip_any_image(img):
    """PPM/BMP/PNG are bit-exact on arbitrary pixel content and any
    (odd, tiny, skinny) dimensions."""
    from snapflow_spark.multimodal.codec import (
        decode_image_bytes,
        encode_bmp,
        encode_png,
        encode_ppm,
    )

    for enc in (encode_ppm, encode_bmp, encode_png):
        assert np.array_equal(decode_image_bytes(enc(img)), img), enc.__name__


@settings(max_examples=25, deadline=None)
@given(_rgb_images(), st.sampled_from(["444", "420"]))
def test_jpeg_decodes_any_image_shape(img, sub):
    """Baseline JPEG round-trips ANY content/shape to the right shape
    and dtype with bounded worst-case error (random noise is JPEG's
    worst case; quality-95 error stays far from saturating)."""
    from snapflow_spark.multimodal.jpeg import decode_jpeg, encode_jpeg

    out = decode_jpeg(encode_jpeg(img, quality=95, subsampling=sub))
    assert out.shape == img.shape and out.dtype == np.uint8
    err = np.abs(out.astype(int) - img.astype(int)).mean()
    assert err < 64.0, (img.shape, sub, err)


@settings(max_examples=25, deadline=None)
@given(_rgb_images())
def test_jpeg_scan_layouts_agree_any_image(img):
    """The three scan layouts of the same coefficients — single
    interleaved baseline, multi-scan baseline, progressive
    (spectral selection + successive approximation) — decode to
    IDENTICAL pixels on arbitrary content and any dimensions: the
    entropy layer must never change the image."""
    from snapflow_spark.multimodal.jpeg import (
        decode_jpeg,
        encode_jpeg,
        encode_jpeg_progressive,
    )

    base = decode_jpeg(encode_jpeg(img, quality=90))
    multi = decode_jpeg(encode_jpeg(img, quality=90, interleave=False))
    prog = decode_jpeg(encode_jpeg_progressive(img, quality=90))
    assert np.array_equal(base, multi)
    assert np.array_equal(base, prog)


@settings(max_examples=100, deadline=None)
@given(
    st.lists(st.text(min_size=0, max_size=20), max_size=60),
    st.lists(st.text(min_size=0, max_size=20), max_size=60),
)
def test_bloom_merge_commutes_and_never_false_negative(a_keys, b_keys):
    from snapflow_spark.functions.bloom import BloomFilter

    m, k = 1 << 12, 4
    a = BloomFilter.from_items(a_keys, m, k)
    b = BloomFilter.from_items(b_keys, m, k)
    ab, ba = a.merge(b), b.merge(a)
    union = BloomFilter.from_items(a_keys + b_keys, m, k)
    assert (ab.bits == ba.bits).all()  # commutative
    assert (ab.bits == union.bits).all()  # merge == union build
    assert all(ab.contains(x) for x in a_keys + b_keys)  # no false negatives
    rt = BloomFilter.deserialize(ab.serialize())
    assert (rt.bits == ab.bits).all()


@settings(max_examples=150, deadline=None)
@given(st.integers(min_value=0, max_value=10**12), st.text(max_size=12))
def test_hash_bucket_oracle_fold_matches_int_parse(doc_id, salt):
    """The DuckDB oracle replays _hash_bucket's `conv(substr(hex,1,8),
    16, 10) % B` as a per-hex-digit instr fold (q_pipeline_docs'
    split CTE). Property: the fold and the direct 32-bit parse agree
    for ANY id and salt — the cross-engine bucket contract."""
    import hashlib

    from snapflow_spark.operators.curation import _BUCKETS

    h = hashlib.sha256((salt + str(doc_id)).encode("utf-8")).hexdigest()
    direct = int(h[:8], 16) % _BUCKETS
    folded = (
        sum(
            ("0123456789abcdef".index(h[j]))  # instr(...)-1 in the SQL
            << (4 * (7 - j))
            for j in range(8)
        )
        % _BUCKETS
    )
    assert folded == direct


@settings(max_examples=200, deadline=None)
@given(
    st.text(
        # Unicode-VERSION caveat, found by this very test: each engine
        # ships its own Unicode tables (Python 3.11 = 14.0, DuckDB's
        # RE2 newer, Java 17 = 13.0), so codepoints ASSIGNED between
        # versions (e.g. U+31350, new in 15.0: letter to RE2,
        # unassigned to Python) legitimately tokenize differently —
        # that divergence exists Spark<->DuckDB with or without the
        # python scanner. The contract is over assigned codepoints.
        alphabet=st.characters(exclude_categories=("Cs", "Cn")),
        max_size=120,
    )
)
def test_word_tokens_py_matches_duckdb_regex(text):
    """word_tokens_py (the driver-side BM25 query tokenizer) must
    agree with the `[\\p{L}]+` regex class the SQL oracle runs — the
    cross-engine determinism triangle: Spark expr == python scanner
    (pinned on samples in test_retrieval) and python scanner == DuckDB
    (property-tested here, Spark-free) imply all three tokenize alike
    over assigned unicode."""
    import duckdb
    from hypothesis import assume

    from snapflow_spark.operators.retrieval import word_tokens_py

    con = duckdb.connect()
    # The CASE-MAPPING tables skew the same way the assignment tables
    # do (round 8, found by this test: Python 3.11 lowercases U+10570
    # VITHKUQI A — new in 14.0 — to U+10597; DuckDB's table leaves it
    # unmapped). Where the engines' lower() disagree the property is
    # out of contract, same as for newly-assigned codepoints.
    duck_lower = con.execute("SELECT lower(?)", [text]).fetchone()[0]
    assume(duck_lower == text.lower())
    duck = con.execute(
        r"SELECT regexp_extract_all(lower(?), '[\p{L}]+')", [text]
    ).fetchone()[0]
    assert word_tokens_py(text) == duck, text


@settings(max_examples=40, deadline=None)
@given(
    st.integers(min_value=1, max_value=700),
    st.integers(min_value=1, max_value=2),
    st.integers(min_value=0, max_value=4),
    st.booleans(),
    st.randoms(use_true_random=False),
)
def test_flac_lossless_any_pcm(n, ch, order, mid_side, rnd):
    """FLAC is LOSSLESS by construction: arbitrary int16 PCM (any
    length, mono/stereo, any fixed order, either stereo mode)
    round-trips bit-exactly through the from-scratch codec."""
    from snapflow_spark.multimodal.flac import decode_flac, encode_flac

    rng = np.random.default_rng(rnd.randrange(2**32))
    pcm = rng.integers(-32768, 32768, size=(n, ch)).astype(np.int16)
    dec, rate = decode_flac(
        encode_flac(pcm, 8000, block_size=256, order=order, mid_side=mid_side)
    )
    assert rate == 8000
    assert np.array_equal(dec.astype(np.int64), pcm.astype(np.int64))


@settings(max_examples=50, deadline=None)
@given(_rgb_images(), st.booleans())
def test_png_adam7_interlace_roundtrip(img, gray):
    """Adam7 interlaced PNG decodes bit-exactly for arbitrary content
    and any dimensions (sub-8px images drop whole passes), matching
    the sequential encoding of the same pixels."""
    from snapflow_spark.multimodal.codec import decode_png, encode_png

    src = img[:, :, 0] if gray else img
    a = decode_png(encode_png(src, interlace=True))
    b = decode_png(encode_png(src))
    assert np.array_equal(a, src) and np.array_equal(b, src)


@st.composite
def _paletted_animations(draw):
    t = draw(st.integers(min_value=1, max_value=4))
    h, w = draw(_dims), draw(_dims)
    n = draw(st.integers(min_value=1, max_value=256))
    pal = np.frombuffer(
        draw(st.binary(min_size=n * 3, max_size=n * 3)), dtype=np.uint8
    ).reshape(n, 3)
    idx = np.frombuffer(
        draw(st.binary(min_size=t * h * w, max_size=t * h * w)), dtype=np.uint8
    ) % n
    return pal[idx].reshape(t, h, w, 3).copy()


@settings(max_examples=40, deadline=None)
@given(_paletted_animations(), st.booleans())
def test_gif_roundtrips_any_paletted_animation(frames, interlace):
    """GIF is bit-exact on any <=256-color content, any dimensions,
    any frame count, sequential or interlaced (interlace applies to
    stills; animations exercise the multi-image composition path)."""
    from snapflow_spark.multimodal.gif import decode_gif_frames, encode_gif

    single = frames.shape[0] == 1
    data = encode_gif(frames, fps=20, interlace=interlace and single)
    out, fps = decode_gif_frames(data)
    assert np.array_equal(out, frames)
    # stills carry no GCE delay -> decoder's default 10 fps applies
    assert fps == (10 if single else 20)


@settings(max_examples=40, deadline=None)
@given(
    _rgb_images(),
    st.sampled_from(["none", "lzw", "packbits"]),
    st.booleans(),
)
def test_tiled_tiff_roundtrip_any_image(img, comp, gray):
    """Round 6: the tiled TIFF layout is bit-exact on arbitrary pixel
    content at every compression, including edge tiles narrower/
    shorter than the 16x16 grid."""
    from snapflow_spark.multimodal.tiff import decode_tiff, encode_tiff

    src = img[:, :, 0] if gray else img
    blob = encode_tiff(src, compression=comp, tile=(16, 16))
    assert np.array_equal(decode_tiff(blob), src)


@settings(max_examples=40, deadline=None)
@given(_rgb_images(), st.integers(min_value=1, max_value=7), st.booleans())
def test_lossless_jpeg_roundtrip_any_image(img, predictor, gray):
    """Round 6: SOF3 lossless JPEG is bit-exact on arbitrary pixel
    content for every predictor, gray and RGB."""
    from snapflow_spark.multimodal.jpeg import decode_jpeg, encode_jpeg_lossless

    src = img[:, :, 0] if gray else img
    blob = encode_jpeg_lossless(src, predictor=predictor)
    assert np.array_equal(decode_jpeg(blob), src)


@settings(max_examples=60, deadline=None)
@given(st.binary(min_size=0, max_size=48), st.integers(0, 3))
def test_adpcm_never_returns_uninitialized(seed, extra_declared):
    """Round 6 (advice fix): a block whose declared samples_per_block
    exceeds its nibble capacity decodes deterministically — same bytes
    in, same samples out, output height bounded by the data."""
    import struct as _struct

    from snapflow_spark.multimodal.g711 import ima_adpcm_decode_block

    body = seed + b"\x00" * ((4 - len(seed) % 4) % 4)  # word-align
    blk = _struct.pack("<hBB", 12, 3, 0) + body
    declared = len(body) * 2 + 1 + extra_declared * 7
    a = ima_adpcm_decode_block(blk, 1, declared)
    b = ima_adpcm_decode_block(blk, 1, declared)
    assert np.array_equal(a, b)
    assert a.shape[0] <= declared and a.shape[0] <= len(body) * 2 + 1


@given(st.text(max_size=400), st.text(min_size=1, max_size=30))
@settings(max_examples=200, deadline=None)
def test_robots_parser_total_on_arbitrary_text(body, ua):
    """parse_robots_txt is TOTAL: any text yields a rule list, and
    robots_allowed_py is total over its own output for any path — a
    crawl feeds these parsers garbage constantly (round 9)."""
    from snapflow_spark.functions.robots import (
        parse_robots_txt,
        robots_allowed_py,
        robots_pattern_to_like,
    )

    rules = parse_robots_txt(body, ua)
    assert isinstance(rules, list)
    for allow, pattern in rules:
        assert isinstance(allow, bool) and isinstance(pattern, str)
        robots_pattern_to_like(pattern)  # LIKE compile is total too
    assert robots_allowed_py(rules, "/any/path") in (True, False)


@given(st.binary(max_size=600))
@settings(max_examples=200, deadline=None)
def test_sitemap_parser_total_on_arbitrary_bytes(raw):
    """parse_sitemap is TOTAL on arbitrary bytes (truncated gzip,
    broken XML, binary junk) — entries always come back loc-bearing."""
    from snapflow_spark.functions.sitemaps import parse_sitemap

    kind, entries = parse_sitemap(raw)
    assert isinstance(kind, str)
    for e in entries:
        assert e["loc"]


@given(st.binary(max_size=400), st.integers(0, 3))
@settings(max_examples=150, deadline=None)
def test_pdf_extractor_total_on_arbitrary_bytes(junk, mode):
    """extract_pdf is TOTAL: arbitrary bytes, spliced-into-valid-PDF
    bytes, and truncated valid PDFs all yield a (title, text, n_pages)
    tuple, never an exception — crawled PDFs are routinely torn."""
    from snapflow_spark.multimodal.pdf import extract_pdf, make_pdf_bytes

    good = make_pdf_bytes(["One line.", "Two lines.\nhere."], filt="flate")
    if mode == 0:
        data = junk
    elif mode == 1:
        cut = len(junk) % max(1, len(good))
        data = good[:cut] + junk
    elif mode == 2:
        pos = len(junk) % max(1, len(good))
        data = good[:pos] + junk + good[pos:]
    else:
        data = good[: len(junk) % (len(good) + 1)]
    title, text, n, _enc = extract_pdf(data)
    assert title is None or isinstance(title, str)
    assert text is None or isinstance(text, str)
    assert n is None or isinstance(n, int)


@settings(max_examples=80, deadline=None)
@given(
    ops=st.lists(
        st.tuples(
            st.sampled_from(["consume", "replace", "run"]),
            st.sampled_from(["n1", "n2"]),
            st.sampled_from(["in", "aux"]),
            st.lists(st.integers(min_value=0, max_value=9), max_size=4),
        ),
        max_size=16,
    ),
    ckpt_interval=st.integers(min_value=0, max_value=5),
)
def test_table_ledger_folds_like_reference_fold(ops, ckpt_interval, tmp_path_factory):
    """Any op sequence folds through the commit-log ledger exactly as a
    dict of lists per (node, input) does — including runs that consume
    several inputs in one commit, mid-sequence checkpoints (interval >
    0) and a fresh reader bootstrapping from log+checkpoint at the
    end."""
    from snapflow_spark.incremental import TableLedger

    tmp = tmp_path_factory.mktemp("ledgers")
    ref: dict[tuple[str, str], list[str]] = {}
    tl = TableLedger(tmp / "log", checkpoint_interval=ckpt_interval)
    for op, node, inp, ids in ops:
        sids = [f"s-{i}" for i in ids]
        if op == "consume":
            ref.setdefault((node, inp), []).extend(sids)
            tl.mark_consumed(node, inp, sids)
        elif op == "run":  # both inputs of the node in one commit
            consumed = {inp: sids, "in" if inp == "aux" else "aux": sids[:1]}
            for name, got in consumed.items():
                ref.setdefault((node, name), []).extend(got)
            tl.mark_consumed(node, None, consumed, produced="s-P")
        else:
            if ref.get((node, inp)):
                kept = [i for i in ref[(node, inp)] if i not in sids]
                ref[(node, inp)] = kept + ["s-R"]
            tl.replace_consumed(node, inp, sids, "s-R")
    keys = [(n, i) for n in ("n1", "n2") for i in ("in", "aux")]
    fresh = TableLedger(tmp / "log")
    for n, i in keys:
        assert tl.consumed(n, i) == ref.get((n, i), []), (n, i)
        assert fresh.consumed(n, i) == ref.get((n, i), []), (n, i)


# --- Kneser-Ney LMs (round 11): totality + exact normalization ------

_words = st.sampled_from(
    ["a", "b", "c", "dd", "ee", "ff", "ggg", "hhh", "iii", "<s>x"]
)
_docs_kn = st.lists(
    st.lists(_words, min_size=1, max_size=8), min_size=1, max_size=10
)


def _kn_counts(docs, n):
    from snapflow_spark.functions.kn_lm import _SEP

    counts = {}
    for toks in docs:
        padded = ["<s>"] * (n - 1) + toks
        for i in range(len(toks)):
            g = _SEP.join(padded[i : i + n])
            counts[g] = counts.get(g, 0) + 1
    return counts


@settings(max_examples=120, deadline=None)
@given(_docs_kn, st.integers(min_value=2, max_value=4), st.booleans())
def test_kn_ngram_normalizes_and_stays_total_on_any_corpus(docs, order, modified):
    """For ANY corpus, order 2-4, both discount modes: every level's
    conditional distribution sums to exactly 1 (seen types + the
    aggregated unseen mass over V+1 events) and log-probs are finite
    for arbitrary contexts — including OOV words, unseen contexts,
    and the degenerate counts-of-counts small corpora hit."""
    import math

    from snapflow_spark.functions.kn_lm import KNGramLM

    lm = KNGramLM.from_counts(_kn_counts(docs, order), order, modified)
    vocab = sorted(lm.counts[1])
    t_seen = len(vocab)
    contexts = [
        ("<s>",) * (order - 1),
        tuple((docs[0] * order)[: order - 1]),
        ("zz",) * (order - 1),
        ("zz",) + tuple((docs[0] * order)[: order - 2]),
    ]
    for ctx in contexts:
        s = sum(math.exp(lm.logp(ctx, w)) for w in vocab)
        s += (lm.v + 1 - t_seen) * math.exp(lm.logp(ctx, "§unseen§"))
        assert abs(s - 1.0) < 1e-9, (ctx, s)
    # cross-entropy total on arbitrary token lists incl. OOV
    n, ce = lm.cross_entropy(["zz", *docs[0], "qq"])
    assert n == len(docs[0]) + 2 and math.isfinite(ce) and ce > 0


@settings(max_examples=80, deadline=None)
@given(_docs_kn)
def test_kn_order2_equals_bigram_on_any_corpus(docs):
    """The general construction at order 2 reproduces KNBigramLM
    (modified) on ANY corpus — probabilities at 1e-12."""
    import math

    from snapflow_spark.functions.kn_lm import KNBigramLM, KNGramLM

    counts = _kn_counts(docs, 2)
    gen = KNGramLM.from_counts(counts, 2, modified=True)
    big = KNBigramLM.from_counts(counts, modified=True)
    probes = sorted(gen.counts[1])[:5] + ["§oov§"]
    ctxs = [docs[0][0], "<s>", "zz"]
    for u in ctxs:
        for w in probes:
            a = gen.logp((u,), w)
            b = big.logp(u, w)
            assert math.isclose(a, b, rel_tol=1e-12), (u, w, a, b)


# --- embed hook vector validation (round 11) -------------------------

_model_out = st.one_of(
    st.lists(
        st.lists(st.floats(allow_nan=False, allow_infinity=False,
                           width=32), min_size=1, max_size=6),
        min_size=0, max_size=8,
    ),
    st.integers(),  # not a sequence at all
    st.text(max_size=4),
)


@settings(max_examples=150, deadline=None)
@given(_model_out, st.integers(min_value=0, max_value=8))
def test_embed_as_vectors_totality(out, n_in):
    """_as_vectors either returns exactly n_in float32 1-D vectors or
    raises ValueError naming the op — never silently mis-shapes, never
    raises anything else."""
    from snapflow_spark.functions.embed import _as_vectors

    try:
        vecs = _as_vectors(out, n_in, "fuzz")
    except ValueError as e:
        assert "fuzz" in str(e)
        return
    assert len(vecs) == n_in
    assert all(v.dtype == np.float32 and v.ndim == 1 for v in vecs)

"""Behavioral tests for the LLM-data operators on crafted fixtures — the
oracle parity test covers cross-engine equivalence; these cover the
*semantics* (known near-dups found, hamming locality of simhash, IVF
bucketing, multimodal stubs)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from meteomatics_e2e_data_pipeline_spark.operators import (
    neardup, sampling, similarity)
from meteomatics_e2e_data_pipeline_spark.operators.multimodal import (
    decode_image, extract_features, sample_frames, to_media_table,
)
from meteomatics_e2e_data_pipeline_spark.operators.textops import (
    content_hash, lang_guess, tokens,
)

BASE = ("the quick brown fox jumps over the lazy dog and runs far away "
        "into the deep dark forest tonight")


@pytest.fixture(scope="module")
def crafted_docs(spark):
    near = BASE.replace("lazy", "sleepy")          # 1-token edit: near-dup
    unrelated = ("completely different words about spark shuffles and "
                 "catalyst optimizer rules for big analytics pipelines ok")
    dup_ws = "  " + BASE.upper() + "  "            # exact dup modulo norm
    return spark.createDataFrame(
        [(1, BASE), (2, near), (3, unrelated), (4, dup_ws)],
        "doc_id bigint, text string")


def test_exact_dedup_normalizes(crafted_docs):
    hashes = (crafted_docs.select("doc_id",
                                  content_hash(F.col("text")).alias("h"))
              .collect())
    by_id = {r["doc_id"]: r["h"] for r in hashes}
    assert by_id[1] == by_id[4]          # case/whitespace-insensitive
    assert by_id[1] != by_id[2]


def test_near_dup_finds_planted_pair(crafted_docs):
    pairs = neardup.near_dup_pairs(crafted_docs, n=3, threshold=0.4).collect()
    got = {(r["doc_a"], r["doc_b"]) for r in pairs}
    assert (1, 2) in got                 # the 1-token edit
    assert all(3 not in p for p in got)  # unrelated doc never pairs
    jac = {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in pairs}
    assert 0.4 <= jac[(1, 2)] < 1.0


def test_simhash_locality(crafted_docs):
    fp = {r["doc_id"]: r["simhash"]
          for r in neardup.simhash(crafted_docs).collect()}

    def hamming(a: int, b: int) -> int:
        return bin(a ^ b).count("1")

    assert hamming(fp[1], fp[2]) < hamming(fp[1], fp[3])
    # determinism: a full recomputation yields identical fingerprints
    fp2 = {r["doc_id"]: r["simhash"]
           for r in neardup.simhash(crafted_docs).collect()}
    assert fp == fp2
    assert all(isinstance(v, int) for v in fp.values())


def test_lang_guess_on_real_languages(spark):
    df = spark.createDataFrame(
        [(1, "the cat is in the house and it is warm"),
         (2, "der hund ist nicht in das haus und die katze"),
         (3, "el perro es una mascota que vive en la casa y los gatos"),
         (4, "xyzzy plugh qwerty")],
        "doc_id bigint, text string")
    got = {r["doc_id"]: r["g"]
           for r in df.select("doc_id",
                              lang_guess(tokens(F.col("text"))).alias("g"))
           .collect()}
    assert got == {1: "en", 2: "de", 3: "es", 4: "und"}


def test_ivf_recall_vs_bruteforce(spark, sf_oracle):
    """IVF top-k within the query's bucket must agree with brute force
    whenever the true neighbors share the bucket — spot-check that every
    IVF hit is also a brute-force hit for the same query."""
    from meteomatics_e2e_data_pipeline_spark.sources.tables import load_table
    emb = load_table(spark, sf_oracle, "embeddings")
    queries = emb.filter(F.col("vec_id") < 3)
    cent = (emb.filter(F.col("vec_id") < 8)
            .select(F.col("vec_id").alias("centroid_id"), "embedding"))
    bf = {(r["query_id"], r["neighbor_id"])
          for r in similarity.knn_bruteforce(emb, queries, 50).collect()}
    ivf = similarity.knn_ivf(emb, queries, cent, 5).collect()
    assert len(ivf) > 0
    in_bf = sum(1 for r in ivf if (r["query_id"], r["neighbor_id"]) in bf)
    assert in_bf / len(ivf) >= 0.6  # bucket-local hits are mostly true NNs


def test_multimodal_plumbing_and_stubs(crafted_docs):
    media = to_media_table(crafted_docs)
    assert dict(media.dtypes)["payload"] == "binary"
    meta = media.select("media_meta.*").first()
    assert meta["media_type"] == "image/fake" and meta["n_bytes"] > 0
    feats = extract_features(media).collect()
    assert len(feats) == 4
    row = {r["doc_id"]: r for r in feats}
    assert row[1]["n_bytes"] == len(BASE.encode())
    assert row[1]["fake_frames"] == len(BASE.encode()) % 7
    with pytest.raises(NotImplementedError):
        decode_image(b"\x89PNG")
    with pytest.raises(NotImplementedError):
        sample_frames(b"...", 10)


def test_rrf_fusion_semantics(spark):
    """Reciprocal-rank fusion: a doc ranked well by BOTH rankers must
    outscore a doc ranked top by only one; scores are exactly
    Σ 1/(60+rank); missing-from-one-ranker docs still fuse."""
    from meteomatics_e2e_data_pipeline_spark.operators.textops import (
        rrf_fuse,
    )

    a = spark.createDataFrame([(10, 1), (20, 2), (30, 3)],
                              "doc_id bigint, rank int")
    b = spark.createDataFrame([(20, 1), (40, 2), (10, 3)],
                              "doc_id bigint, rank int")
    out = {r["doc_id"]: (r["rrf_score"], r["n_rankers"])
           for r in rrf_fuse([a, b], k=10).collect()}
    assert set(out) == {10, 20, 30, 40}
    assert out[20] == (round(1 / 61 + 1 / 62, 6), 2)   # 2nd + 1st
    assert out[10] == (round(1 / 61 + 1 / 63, 6), 2)   # 1st + 3rd
    assert out[30] == (round(1 / 63, 6), 1)            # one ranker only
    assert out[20][0] > out[10][0] > out[40][0] > out[30][0]
    with pytest.raises(ValueError):
        rrf_fuse([], k=5)


def test_mmr_rerank_demotes_redundant_candidate(spark):
    """MMR semantics on a crafted case: B outranks C on relevance but
    is a near-duplicate of the already-selected A, so the diversity
    term demotes it — selection order must be A, C, B with exactly the
    λ-combined scores."""
    from meteomatics_e2e_data_pipeline_spark.operators.similarity import (
        mmr_rerank,
    )

    cands = spark.createDataFrame(
        [(1, 0.9), (2, 0.85), (3, 0.5)], "doc_id bigint, rel double")
    psim = spark.createDataFrame(
        [(1, 2, 1.0), (2, 1, 1.0), (1, 3, 0.1), (3, 1, 0.1),
         (2, 3, 0.1), (3, 2, 0.1)],
        "id_a bigint, id_b bigint, sim double")
    out = {r["mmr_rank"]: (r["doc_id"], r["mmr_score"])
           for r in mmr_rerank(cands, psim, k=3).collect()}
    assert out[1] == (1, 0.9)                          # pure relevance
    assert out[2] == (3, round(0.7 * 0.5 - 0.3 * 0.1, 6))   # diverse C
    assert out[3] == (2, round(0.7 * 0.85 - 0.3 * 1.0, 6))  # demoted B
    with pytest.raises(ValueError):
        mmr_rerank(cands, psim, k=0)


def test_bmp_decode_known_pixels_and_validation():
    """The stdlib BMP codec decodes REAL pixels: a hand-built 2x2
    24-bit BMP (bytes laid out here independently of the encoder —
    bottom-up rows, BGR order, rows padded to 4 bytes) must decode to
    the exact known pixel values, and near-miss byte strings must be
    rejected by the strict validator."""
    import struct

    from meteomatics_e2e_data_pipeline_spark.operators.multimodal import (
        _bmp_decode, _is_bmp, decode_image,
    )

    # top-down target image: [[red, green], [blue, white]]
    # BMP stores bottom-up BGR: row1 (blue, white) first, 2px*3B pad to 8
    pix = (bytes((255, 0, 0)) + bytes((255, 255, 255)) + b"\x00\x00"
           + bytes((0, 0, 255)) + bytes((0, 255, 0)) + b"\x00\x00")
    raw = (struct.pack("<2sIHHI", b"BM", 54 + len(pix), 0, 0, 54)
           + struct.pack("<IiiHHIIiiII", 40, 2, 2, 1, 24, 0,
                         len(pix), 2835, 2835, 0, 0)
           + pix)
    assert _is_bmp(raw)
    w, h, rows = decode_image(raw)
    assert (w, h) == (2, 2)
    assert rows == [[(255, 0, 0), (0, 255, 0)],
                    [(0, 0, 255), (255, 255, 255)]]
    # validator: text that merely starts with "BM" is NOT an image
    assert not _is_bmp(b"BM" + b"x" * 60)
    # declared size must match actual length
    assert not _is_bmp(raw + b"\x00")
    with pytest.raises(ValueError):
        _bmp_decode(b"BM" + b"x" * 60)


def test_png_codec_all_filters_and_validation():
    """The stdlib PNG codec round-trips real zlib-deflated bytes under
    EVERY scanline filter (encode forces one filter per image, decode
    must reconstruct), decode_image dispatches on the signature, and
    near-miss byte strings are rejected."""
    from meteomatics_e2e_data_pipeline_spark.operators.multimodal import (
        _is_png, _png_decode, _png_encode, decode_image, synth_pixels,
    )

    px = synth_pixels(7, w=5, h=4)
    for filt in range(5):
        raw = _png_encode(px, filter_of_row=lambda y, f=filt: f)
        assert _is_png(raw), filt
        assert _png_decode(raw)[2] == px, f"filter {filt} broken"
    mixed = _png_encode(px, filter_of_row=lambda y: y)   # rotate filters
    w, h, rows = decode_image(mixed)
    assert (w, h, rows) == (5, 4, px)
    # validator: signature alone is not enough — IHDR variant must match
    assert not _is_png(b"\x89PNG\r\n\x1a\n" + b"x" * 40)
    with pytest.raises(ValueError):
        _png_decode(b"\x89PNG\r\n\x1a\n" + b"x" * 40)
    # grayscale (color type 0) PNGs defer to the Pillow seam
    bad = bytearray(_png_encode(px))
    bad[25] = 0
    assert not _is_png(bytes(bad))
    with pytest.raises(NotImplementedError):
        decode_image(b"\x00" * 64)


def test_jpeg_codec_exact_on_block_constant():
    """The baseline JPEG codec is bit-exact on block-constant images
    (all AC coefficients are exactly zero; DC quant step 8 makes the
    quantised DC exactly v-128) — the construction the oracle queries
    rely on — across multiple blocks (DC-diff coding, both diff signs)
    and through the decode_image dispatch."""
    import numpy as np

    from meteomatics_e2e_data_pipeline_spark.operators.jpegcodec import (
        EXACT_DC_QUANT, is_jpeg, jpeg_encode,
    )
    from meteomatics_e2e_data_pipeline_spark.operators.multimodal import (
        decode_image, synth_jpeg_gray,
    )

    for doc_id in (0, 1, 255, 4999, 123456):
        plane = synth_jpeg_gray(doc_id)
        raw = jpeg_encode([plane], quant=EXACT_DC_QUANT)
        assert is_jpeg(raw)
        w, h, rows = decode_image(raw)
        dec = np.array([[p[0] for p in r] for r in rows], dtype=np.uint8)
        assert (w, h) == (plane.shape[1], plane.shape[0])
        assert (dec == plane).all(), doc_id
    # 3-component exactness when Cb = Cr = 128 (zero chroma)
    g = synth_jpeg_gray(9)
    raw = jpeg_encode([g, np.full_like(g, 128), np.full_like(g, 128)],
                      quant=EXACT_DC_QUANT)
    _, _, rows = decode_image(raw)
    dec = np.array(rows)
    assert (dec == g[..., None]).all()


def test_jpeg_decoder_general_vs_quant_domain_reference():
    """The decoder is a GENERAL baseline decoder, not a DC-only special
    case: random gray and color images (non-multiple-of-8 sizes, with
    and without restart intervals) decode to exactly the quant-domain
    reference (pad → FDCT → quantise → dequantise → IDCT per block,
    computed independently here) — driving the AC Huffman categories,
    run lengths, EOB, byte stuffing, and RST resync paths."""
    import numpy as np

    from meteomatics_e2e_data_pipeline_spark.operators.jpegcodec import (
        STD_QUANT, dequant_idct, fdct_quant, jpeg_decode, jpeg_encode,
        rgb_to_ycbcr,
    )

    def reference_plane(plane, quant):
        h, w = plane.shape
        ph, pw = -(-h // 8) * 8, -(-w // 8) * 8
        pad = np.pad(plane, ((0, ph - h), (0, pw - w)), mode="edge")
        ref = np.zeros_like(pad)
        for by in range(ph // 8):
            for bx in range(pw // 8):
                blk = pad[by * 8:by * 8 + 8, bx * 8:bx * 8 + 8]
                ref[by * 8:by * 8 + 8, bx * 8:bx * 8 + 8] = \
                    dequant_idct(fdct_quant(blk, quant), quant)
        return ref[:h, :w]

    rng = np.random.default_rng(20260814)
    for trial in range(4):
        hh, ww = (int(v) for v in rng.integers(9, 35, 2))
        img = rng.integers(0, 256, (hh, ww), dtype=np.uint8)
        raw = jpeg_encode([img], restart_interval=trial % 3)
        w, h, rows = jpeg_decode(raw)
        dec = np.array([[p[0] for p in r] for r in rows])
        assert (w, h) == (ww, hh)
        assert (dec == reference_plane(img, STD_QUANT)).all(), trial
    # color: per-plane quant-domain reference + the same YCbCr→RGB math
    img = rng.integers(0, 256, (24, 17, 3), dtype=np.uint8)
    planes = rgb_to_ycbcr(img)
    raw = jpeg_encode(planes, restart_interval=2)
    w, h, rows = jpeg_decode(raw)
    refs = [reference_plane(p, STD_QUANT).astype(np.float64) for p in planes]
    y, cb, cr = refs[0], refs[1] - 128.0, refs[2] - 128.0
    exp = np.stack([
        np.clip(np.rint(y + 1.402 * cr), 0, 255),
        np.clip(np.rint(y - 0.344136 * cb - 0.714136 * cr), 0, 255),
        np.clip(np.rint(y + 1.772 * cb), 0, 255)], axis=-1).astype(int)
    assert (np.array(rows) == exp).all()


def test_jpeg_unsupported_variants_fail_loudly():
    """Progressive SOF2 and subsampled chroma are honest seams: they
    raise NotImplementedError instead of decoding wrongly."""
    import numpy as np

    from meteomatics_e2e_data_pipeline_spark.operators.jpegcodec import (
        jpeg_decode, jpeg_encode,
    )

    raw = bytearray(jpeg_encode([np.zeros((8, 8), dtype=np.uint8)]))
    sof = raw.index(b"\xff\xc0")
    progressive = bytes(raw[:sof + 1]) + b"\xc2" + bytes(raw[sof + 2:])
    with pytest.raises(NotImplementedError):
        jpeg_decode(progressive)
    # flip the sampling factors byte (0x11 → 0x22) inside SOF0
    sub = bytearray(raw)
    sub[sof + 11] = 0x22
    with pytest.raises(NotImplementedError):
        jpeg_decode(bytes(sub))
    with pytest.raises(ValueError):
        jpeg_decode(b"\x00" * 16)


def test_jpeg_malformed_payloads_raise_valueerror_not_indexerror():
    """Corrupt entropy data / truncated buffers must fail with the
    codec's documented ValueError contract, never an executor
    IndexError (r8 advisor finding): truncated scans, truncated MJPEG
    frames, and AC runs past coefficient 63 all hit the guards."""
    import numpy as np

    from meteomatics_e2e_data_pipeline_spark.operators.jpegcodec import (
        jpeg_decode, jpeg_encode, mjpeg_split,
    )

    rng = np.random.default_rng(7)
    plane = rng.integers(0, 256, (16, 16), dtype=np.uint8)
    raw = jpeg_encode([plane])

    # truncate inside the entropy segment at several depths
    for cut in (len(raw) - 3, len(raw) - 8, len(raw) // 2 + 4):
        with pytest.raises(ValueError):
            jpeg_decode(raw[:cut])
    # flip entropy bytes to force invalid Huffman codes / AC overruns;
    # any failure mode must surface as ValueError (or decode cleanly if
    # the flip lands on a self-consistent code) — never IndexError
    sos = raw.index(b"\xff\xda")
    for off in range(sos + 14, min(sos + 40, len(raw) - 2)):
        bad = bytearray(raw)
        bad[off] ^= 0xFF
        try:
            jpeg_decode(bytes(bad))
        except ValueError:
            pass
        except NotImplementedError:
            pass  # flip may corrupt a marker into an unsupported SOF
    # MJPEG: truncated frames raise the demux's ValueError
    for cut in (len(raw) - 2, len(raw) - 6):
        with pytest.raises(ValueError):
            mjpeg_split(raw[:cut] if cut != len(raw) - 2
                        else raw + raw[:cut])


def test_mjpeg_structural_demux_and_sampling():
    """The MJPEG demux walks the marker structure — a 0xFFD9 byte pair
    INSIDE a comment segment must not split a frame early — and
    sample_frames decodes exactly every n-th frame."""
    import struct as _struct

    import numpy as np

    from meteomatics_e2e_data_pipeline_spark.operators.jpegcodec import (
        EXACT_DC_QUANT, jpeg_encode, mjpeg_split,
    )
    from meteomatics_e2e_data_pipeline_spark.operators.multimodal import (
        sample_frames, synth_jpeg_gray,
    )

    frames = [jpeg_encode([synth_jpeg_gray(3, frame=f)],
                          quant=EXACT_DC_QUANT) for f in range(3)]
    # adversarial frame 0: splice a COM segment whose payload contains
    # a literal EOI byte pair right after SOI
    com = b"\xff\xfe" + _struct.pack(">H", 6) + b"\xff\xd9\x00\x00"
    frames[0] = frames[0][:2] + com + frames[0][2:]
    clip = b"".join(frames)
    assert mjpeg_split(clip) == frames
    sampled = sample_frames(clip, 2)
    assert [f_idx for f_idx, _ in sampled] == [0, 2]
    for f_idx, (w, h, rows) in sampled:
        exp = synth_jpeg_gray(3, frame=f_idx)
        dec = np.array([[p[0] for p in r] for r in rows], dtype=np.uint8)
        assert (dec == exp).all(), f_idx
    with pytest.raises(NotImplementedError):
        sample_frames(b"\x1a\x45\xdf\xa3" + b"\x00" * 32, 2)  # webm magic


def test_bmp_resize_transforms_real_pixels():
    """Nearest-neighbor resize through the public resize_image API:
    2x2 → 4x4 must replicate each source pixel into its 2x2 quadrant,
    and the output must itself be a valid BMP that round-trips."""
    from meteomatics_e2e_data_pipeline_spark.operators.multimodal import (
        _bmp_encode, _is_bmp, decode_image, resize_image,
    )

    src = [[(255, 0, 0), (0, 255, 0)], [(0, 0, 255), (255, 255, 255)]]
    out = resize_image(_bmp_encode(src), 4, 4)
    assert _is_bmp(out)
    w, h, rows = decode_image(out)
    assert (w, h) == (4, 4)
    for y in range(4):
        for x in range(4):
            assert rows[y][x] == src[y // 2][x // 2], (x, y)


def test_bmp_fixture_decodes_and_resizes_through_spark(spark):
    """End-to-end through the Spark operator: the committed binary
    fixture (fixtures/media/gradient_8x6.bmp) takes the REAL pixel path
    inside resize_images — output is a valid BMP of the target
    dimensions whose pixels follow the fixture's gradient formula —
    while a text payload in the SAME frame keeps the deterministic fake
    stream (the oracle-checked path for non-image payloads)."""
    from meteomatics_e2e_data_pipeline_spark.operators.multimodal import (
        _is_bmp, decode_image, resize_images,
    )

    raw = open("fixtures/media/gradient_8x6.bmp", "rb").read()
    media = spark.createDataFrame(
        [(1, bytearray(raw)), (2, bytearray("just text".encode()))],
        "doc_id bigint, payload binary")
    out = {r["doc_id"]: r for r in resize_images(media, 4, 2).collect()}
    bmp = bytes(out[1]["payload"])
    assert _is_bmp(bmp) and out[1]["n_bytes"] == len(bmp)
    w, h, rows = decode_image(bmp)
    assert (w, h) == (4, 2)
    # nearest-neighbor of the gradient r=x*32, g=y*40, b=(x+y)*16 at
    # source coords x' = x*8//4, y' = y*6//2
    for y in range(2):
        for x in range(4):
            sx, sy = (x * 8) // 4, (y * 6) // 2
            assert rows[y][x] == (sx * 32, sy * 40, (sx + sy) * 16)
    # the non-image payload keeps the fake-stream contract
    assert out[2]["n_bytes"] == 4 * 2 // 8 == len(bytes(out[2]["payload"]))


def test_jaccard_prefix_join_matches_bruteforce(spark):
    """Prefix filtering must lose NOTHING: against a brute-force all-pairs
    Jaccard over a small corpus, the result sets are identical."""
    import itertools

    from meteomatics_e2e_data_pipeline_spark.operators.neardup import (
        jaccard_prefix_pairs,
    )

    base = "the quick brown fox jumps over the lazy dog again and again"
    words = base.split()
    rows = []
    for i in range(24):
        w = list(words)
        if i % 3 == 1:
            w[i % len(w)] = f"tweak{i}"          # near-dup of base
        if i % 3 == 2:
            w = [f"u{i}w{j}" for j in range(12)]  # unrelated
        rows.append((i, " ".join(w)))
    docs = spark.createDataFrame(rows, "doc_id int, text string")
    got = {(r["doc_a"], r["doc_b"]): r["jaccard"]
           for r in jaccard_prefix_pairs(docs, n=3, threshold=0.5).collect()}

    def shingles(text):
        t = text.split()
        return {" ".join(t[i:i + 3]) for i in range(len(t) - 2)}

    want = {}
    for (ia, ta), (ib, tb) in itertools.combinations(rows, 2):
        sa, sb = shingles(ta), shingles(tb)
        j = len(sa & sb) / len(sa | sb)
        if j >= 0.5:
            want[(ia, ib)] = round(j, 6)
    assert got == want and len(want) > 5


def test_simhash_pairs_band_blocking_is_exact(spark):
    """4 bands > Hamming threshold 3 ⇒ banding must find exactly the
    pairs a brute-force all-pairs bit_count(xor) finds."""
    from meteomatics_e2e_data_pipeline_spark.operators.neardup import (
        simhash, simhash_pairs,
    )

    words = "alpha beta gamma delta epsilon zeta eta theta iota kappa".split()
    rows = [(i, " ".join(words[j % len(words)]
                         for j in range(i, i + 6))) for i in range(40)]
    docs = spark.createDataFrame(rows, "doc_id int, text string")
    got = {(r["doc_a"], r["doc_b"], r["hamming"])
           for r in simhash_pairs(docs).collect()}

    fp = {r["doc_id"]: r["simhash"] for r in simhash(docs).collect()}
    want = set()
    for a in fp:
        for b in fp:
            if a < b:
                h = bin(fp[a] ^ fp[b]).count("1")
                if h <= 3:
                    want.add((a, b, h))
    assert got == want and len(want) > 0


def test_multimodal_frame_sampling_fanout(crafted_docs):
    """extract_frames demonstrates the 1-to-N mapInPandas shape: several
    frame rows per payload, deterministic across runs, schema declared."""
    from meteomatics_e2e_data_pipeline_spark.operators.multimodal import (
        extract_frames, to_media_table,
    )

    media = to_media_table(crafted_docs, media_type="video/fake")
    frames = extract_frames(media, every_n=2)
    rows = frames.collect()
    assert frames.columns == ["doc_id", "frame_idx", "frame_md5",
                              "frame_bytes"]
    n_docs = crafted_docs.count()
    assert len(rows) >= n_docs                 # >= 1 frame per payload
    assert len(rows) > n_docs                  # and real fan-out somewhere
    per_doc = {}
    for r in rows:
        per_doc.setdefault(r["doc_id"], []).append(r["frame_idx"])
    for idxs in per_doc.values():              # stride-spaced frame indices
        assert sorted(idxs) == [2 * i for i in range(len(idxs))]
    again = {(r["doc_id"], r["frame_idx"], r["frame_md5"])
             for r in extract_frames(media, every_n=2).collect()}
    assert again == {(r["doc_id"], r["frame_idx"], r["frame_md5"])
                     for r in rows}            # deterministic

    import pytest as _pytest
    with _pytest.raises(ValueError):
        extract_frames(media, every_n=0)


def test_winnow_fingerprints_match_pure_python(spark):
    """The distributed winnowing must equal the canonical sequential
    algorithm: hash every k-gram, take each w-window's min, distinct."""
    import hashlib

    from meteomatics_e2e_data_pipeline_spark.operators.neardup import (
        WINNOW_K, WINNOW_W, winnow_fingerprints,
    )

    texts = {1: "the quick brown fox jumps over the lazy dog",
             2: "abcdefgh",                       # exactly k chars: 1 gram
             3: "short",                          # < k chars: no grams
             4: "aaaaaaaaaaaaaaaa"}               # degenerate repeats
    docs = spark.createDataFrame(list(texts.items()),
                                 "doc_id int, text string")
    got = {}
    for r in winnow_fingerprints(docs).collect():
        got.setdefault(r["doc_id"], set()).add(r["fingerprint"])

    def h48(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:12], 16)

    want = {}
    for doc_id, t in texts.items():
        grams = [h48(t[i:i + WINNOW_K]) for i in range(len(t) - WINNOW_K + 1)]
        fps = {min(grams[i:i + WINNOW_W])
               for i in range(len(grams) - WINNOW_W + 1)}
        if fps:
            want[doc_id] = fps
    assert got == want


def test_exact_dedup_invariant_under_formatting(spark):
    """content_hash must be invariant under the normalizations the
    cleaner applies (case, leading/trailing/internal whitespace runs) and
    sensitive to any real content change."""
    from meteomatics_e2e_data_pipeline_spark.operators.textops import (
        content_hash,
    )

    df = spark.createDataFrame(
        [(1, "Hello  World"), (2, "  hello world\t"), (3, "hello\n\nworld"),
         (4, "hello worlds")],
        "doc_id int, text string")
    hashes = {r["doc_id"]: r["h"] for r in
              df.select("doc_id", content_hash(F.col("text")).alias("h"))
              .collect()}
    assert hashes[1] == hashes[2] == hashes[3]
    assert hashes[4] != hashes[1]


def _heavy_test_dup_clusters_fixed_point_and_cocluster(spark):
    """Connected-component canonicalization: a chained pair set collapses
    transitively (1-2, 2-3 => one cluster even though 1-3 never paired),
    labels are a fixed point (one more propagation changes nothing), and
    every pair's endpoints land in the same cluster with exactly one
    canonical doc = the min id."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6), (9, 10), (10, 11), (9, 11)],
        "doc_a bigint, doc_b bigint")
    out = {r["doc_id"]: (r["cluster_id"], r["is_canonical"])
           for r in neardup.dup_clusters(pairs).collect()}
    assert {k: v[0] for k, v in out.items()} == {
        1: 1, 2: 1, 3: 1, 5: 5, 6: 5, 9: 9, 10: 9, 11: 9}
    assert {k for k, v in out.items() if v[1]} == {1, 5, 9}
    # fixed point: labels propagated once more through the edges are
    # unchanged (the convergence criterion, re-checked independently)
    edges = {}
    for a, b in [(1, 2), (2, 3), (5, 6), (9, 10), (10, 11), (9, 11)]:
        edges.setdefault(a, set()).add(b)
        edges.setdefault(b, set()).add(a)
    for u, nbrs in edges.items():
        lbl = out[u][0]
        assert lbl == min([lbl] + [out[v][0] for v in nbrs])


def test_dup_clusters_empty_and_convergence_guard(spark):
    from meteomatics_e2e_data_pipeline_spark.operators.neardup import (
        connected_components,
    )

    empty = spark.createDataFrame([], "doc_a bigint, doc_b bigint")
    assert neardup.dup_clusters(empty).count() == 0
    # a 6-vertex path needs ~5 propagation rounds; max_iter=1 must raise
    # loudly, never return a half-propagated labeling
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 6)], "doc_a bigint, doc_b bigint")
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(chain, max_iter=1)


def _heavy_test_incremental_cluster_maintenance_matches_batch(spark):
    """dup_clusters_incremental must be indistinguishable from a batch
    recompute: new pairs extend an old cluster (1-2-3 gains 4), an
    untouched cluster (9-10) passes through verbatim, and brand-new
    docs (20-21) form their own cluster."""
    prev_pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (9, 10)], "doc_a bigint, doc_b bigint")
    new_pairs = spark.createDataFrame(
        [(3, 4), (20, 21)], "doc_a bigint, doc_b bigint")
    prev = neardup.dup_clusters(prev_pairs)
    inc = sorted(map(tuple,
                     neardup.dup_clusters_incremental(prev,
                                                      new_pairs).collect()))
    batch = sorted(map(tuple, neardup.dup_clusters(
        prev_pairs.unionByName(new_pairs)).collect()))
    assert inc == batch
    assert (4, 1, False) in inc and (9, 9, True) in inc \
        and (20, 20, True) in inc


from hypothesis import given, settings, strategies as st  # noqa: E402


# max_examples trimmed 8 -> 5 in round 10 (the two cluster property
# suites were the slowest tests at 43+42 s while the full suite crossed
# the 15-min budget); rounds 7-10 already ran the wider search green,
# and the union-find/batch-recompute oracles stay in every run.
@settings(max_examples=5, deadline=None)
@given(st.data())
def test_incremental_cluster_maintenance_property(spark, data):
    """Property: folding ANY random batch of new pairs into the labels
    of ANY random prior pair set equals the batch recompute over the
    union — merged clusters, brand-new clusters, untouched clusters,
    and new edges landing entirely inside one old cluster."""
    def draw_edges(tag, max_e):
        edges = []
        for k in range(data.draw(st.integers(0, max_e), label=f"n{tag}")):
            a = data.draw(st.integers(0, 11), label=f"{tag}a{k}")
            b = data.draw(st.integers(0, 11), label=f"{tag}b{k}")
            if a != b:
                edges.append((a, b))
        return edges

    prev_e = draw_edges("p", 12) or [(0, 1)]
    new_e = draw_edges("n", 8) or [(2, 3)]
    prev_pairs = spark.createDataFrame(prev_e, "doc_a bigint, doc_b bigint")
    new_pairs = spark.createDataFrame(new_e, "doc_a bigint, doc_b bigint")
    inc = sorted(map(tuple, neardup.dup_clusters_incremental(
        neardup.dup_clusters(prev_pairs), new_pairs).collect()))
    batch = sorted(map(tuple, neardup.dup_clusters(
        prev_pairs.unionByName(new_pairs)).collect()))
    assert inc == batch


@settings(max_examples=4, deadline=None)  # trimmed 10->6 (r10), 6->4
# (r12 runtime budget): the sweep re-derives what the deterministic
# fixed-point/cocluster tests above pin every run; 4 random graphs keep
# the union-find cross-check without ~20 s of lane.
@given(st.data())
def test_connected_components_property_vs_union_find(spark, data):
    """Property: min-label propagation must equal a Python union-find
    reference on random graphs — random edge sets over a small vertex
    universe hit every mix of singleton pairs, chains, cycles, and dense
    blobs."""
    from meteomatics_e2e_data_pipeline_spark.operators.neardup import (
        connected_components,
    )

    n_edges = data.draw(st.integers(min_value=1, max_value=25))
    edges = []
    for k in range(n_edges):
        a = data.draw(st.integers(0, 14), label=f"a{k}")
        b = data.draw(st.integers(0, 14), label=f"b{k}")
        if a != b:
            edges.append((a, b))
    if not edges:
        edges = [(0, 1)]
    pairs = spark.createDataFrame(edges, "doc_a bigint, doc_b bigint")

    parent = list(range(15))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    verts = {v for e in edges for v in e}
    want = {v: find(v) for v in verts}

    got = {r["u"]: r["lbl"] for r in connected_components(pairs).collect()}
    assert got == want


def test_stratified_sample_rates_and_determinism(spark):
    """Hash-threshold sampling hits each stratum's rate within tolerance,
    is bit-reproducible across runs, and decorrelates across salts."""
    from meteomatics_e2e_data_pipeline_spark.operators.sampling import (
        stratified_sample,
    )

    n = 4000
    rows = [(i, f"t{i}", ["en", "de"][i % 2], f"src{i % 2}")
            for i in range(n)]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string, "
                                       "lang string, source string")
    rates = {("en", "src0"): 0.5, ("de", "src1"): 0.1}
    kept = stratified_sample(docs, rates, ("lang", "source"),
                             default_rate=0.0, salt="s1").collect()
    by_stratum = {}
    for r in kept:
        by_stratum.setdefault((r["lang"], r["source"]), []).append(r["doc_id"])
    # per-stratum empirical rate within ±4 pp of target (2000 draws each)
    assert abs(len(by_stratum[("en", "src0")]) / 2000 - 0.5) < 0.04
    assert abs(len(by_stratum[("de", "src1")]) / 2000 - 0.1) < 0.04
    # rerun: identical rows (the whole point vs sampleBy)
    again = {r["doc_id"] for r in stratified_sample(
        docs, rates, ("lang", "source"), default_rate=0.0,
        salt="s1").collect()}
    assert again == {r["doc_id"] for r in kept}
    # different salt: an independent draw (overlap ≈ rate², not 100%)
    other = {r["doc_id"] for r in stratified_sample(
        docs, rates, ("lang", "source"), default_rate=0.0,
        salt="s2").collect()}
    assert other != again
    # invalid rates refuse loudly
    with pytest.raises(ValueError):
        stratified_sample(docs, {("en", "src0"): 1.5}, ("lang", "source"))


def test_emb_dim_catalog_matches_testdata(spark, sf_oracle):
    """EMB_DIM is passed as catalog truth to skip the driver-side dim
    probe — it must actually match the shipped embeddings tables."""
    from meteomatics_e2e_data_pipeline_spark.plans.llmdata import EMB_DIM
    from meteomatics_e2e_data_pipeline_spark.sources.tables import load_table

    row = load_table(spark, sf_oracle, "embeddings") \
        .select(F.size("embedding").alias("d")).first()
    assert row["d"] == EMB_DIM


from hypothesis import given, settings, strategies as st


@settings(max_examples=10, deadline=None)
@given(st.data())
def test_jaccard_prefix_pairs_property(spark, data):
    """Property check: the prefix-filter join is EXACT against a
    brute-force all-pairs Jaccard on random corpora, including thresholds
    like 0.07/0.14/0.28 whose rate*size products hit upward FP error in
    the prefix bound (the round-before-ceil guard)."""
    import itertools

    from meteomatics_e2e_data_pipeline_spark.operators.neardup import (
        jaccard_prefix_pairs,
    )

    threshold = data.draw(st.sampled_from(
        [0.07, 0.14, 0.28, 0.3, 0.5, 0.7]))
    vocab = [f"w{i}" for i in range(12)]
    n_docs = data.draw(st.integers(min_value=3, max_value=12))
    rows = []
    for i in range(n_docs):
        n_tok = data.draw(st.integers(min_value=3, max_value=20))
        toks = [vocab[data.draw(st.integers(0, len(vocab) - 1))]
                for _ in range(n_tok)]
        rows.append((i, " ".join(toks)))
    docs = spark.createDataFrame(rows, "doc_id int, text string")
    got = {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in
           jaccard_prefix_pairs(docs, n=3, threshold=threshold).collect()}

    def shingles(text):
        t = text.split()
        return {" ".join(t[i:i + 3]) for i in range(len(t) - 2)}

    want = {}
    for (ia, ta), (ib, tb) in itertools.combinations(rows, 2):
        sa, sb = shingles(ta), shingles(tb)
        if not sa | sb:
            continue
        j = len(sa & sb) / len(sa | sb)
        if j >= threshold:
            want[(ia, ib)] = round(j, 6)
    assert got == want


@settings(max_examples=10, deadline=None)
@given(st.data())
def test_containment_prefix_pairs_property(spark, data):
    """Property check: the asymmetric containment join is EXACT against
    brute-force |A∩B|/|A| over random corpora — both directions of
    every ordered pair, including threshold/size products that exercise
    the round-before-ceil FP guard, and corpora where hot shingles make
    the b-side index maximally unhelpful."""
    import itertools
    import math

    from meteomatics_e2e_data_pipeline_spark.operators.neardup import (
        containment_prefix_pairs,
    )

    threshold = data.draw(st.sampled_from([0.07, 0.3, 0.5, 0.8, 0.9]))
    vocab = [f"w{i}" for i in range(10)]
    n_docs = data.draw(st.integers(min_value=3, max_value=10))
    rows = []
    for i in range(n_docs):
        n_tok = data.draw(st.integers(min_value=3, max_value=18))
        toks = [vocab[data.draw(st.integers(0, len(vocab) - 1))]
                for _ in range(n_tok)]
        rows.append((i, " ".join(toks)))
    docs = spark.createDataFrame(rows, "doc_id int, text string")
    got = {(r["id_a"], r["id_b"]): r["containment"] for r in
           containment_prefix_pairs(docs, n=3,
                                    threshold=threshold).collect()}

    def shingles(text):
        t = text.split()
        return {" ".join(t[i:i + 3]) for i in range(len(t) - 2)}

    want = {}
    for (ia, ta), (ib, tb) in itertools.permutations(rows, 2):
        sa, sb = shingles(ta), shingles(tb)
        if not sa:
            continue
        inter = len(sa & sb)
        if inter >= math.ceil(round(threshold * len(sa), 9)):
            want[(ia, ib)] = round(inter / len(sa), 6)
    assert got == want


@settings(max_examples=10, deadline=None)
@given(st.data())
def test_containment_df_cap_is_lossless(spark, data):
    """The b-side df-cap (each index doc drops its
    ceil(t*min_n) - 1 most COMMON shingles) must stay EXACT: corpora
    here are drawn so every doc has >= 6 shingles, making the cap
    genuinely active (r_cap >= 4 at t=0.8), with a tiny vocab so hot
    shingles land in every doc's common tail — the adversarial shape
    for the cap's pigeonhole argument (rarest-shared-shingle s* must
    survive both the a-prefix and the b-cap)."""
    import itertools
    import math

    from meteomatics_e2e_data_pipeline_spark.operators.neardup import (
        containment_prefix_pairs,
    )

    threshold = data.draw(st.sampled_from([0.5, 0.8, 0.95]))
    vocab = [f"w{i}" for i in range(6)]
    n_docs = data.draw(st.integers(min_value=3, max_value=8))
    rows = []
    for i in range(n_docs):
        n_tok = data.draw(st.integers(min_value=8, max_value=20))
        toks = [vocab[data.draw(st.integers(0, len(vocab) - 1))]
                for _ in range(n_tok)]
        rows.append((i, " ".join(toks)))
    docs = spark.createDataFrame(rows, "doc_id int, text string")
    got = {(r["id_a"], r["id_b"]): r["containment"] for r in
           containment_prefix_pairs(docs, n=3,
                                    threshold=threshold).collect()}

    def shingles(text):
        t = text.split()
        return {" ".join(t[i:i + 3]) for i in range(len(t) - 2)}

    want = {}
    for (ia, ta), (ib, tb) in itertools.permutations(rows, 2):
        sa, sb = shingles(ta), shingles(tb)
        inter = len(sa & sb)
        if inter >= math.ceil(round(threshold * len(sa), 9)):
            want[(ia, ib)] = round(inter / len(sa), 6)
    assert got == want


def test_keep_canonical_drops_only_cluster_tails(spark):
    docs = spark.createDataFrame(
        [(i, f"text {i}") for i in range(1, 8)], "doc_id bigint, text string")
    clusters = spark.createDataFrame(
        [(1, 1, True), (2, 1, False), (3, 1, False), (5, 5, True),
         (6, 5, False)],
        "doc_id bigint, cluster_id bigint, is_canonical boolean")
    kept = {r["doc_id"]
            for r in neardup.keep_canonical(docs, clusters).collect()}
    # canonical reps survive, tails drop, never-paired docs pass through
    assert kept == {1, 4, 5, 7}


def test_repetition_stats_flags_degenerate_docs(spark):
    from meteomatics_e2e_data_pipeline_spark.operators.textops import (
        repetition_stats,
    )

    docs = spark.createDataFrame(
        [(1, "spam spam spam spam spam"),
         (2, "one two three four five"),
         (3, "ab cd ab cd ab cd"),
         (4, "single")],
        "doc_id bigint, text string")
    out = {r["doc_id"]: r.asDict() for r in repetition_stats(docs).collect()}
    assert out[1]["top_unigram_frac"] == 1.0       # pure repetition
    assert out[1]["type_token_ratio"] == 0.2
    assert out[2]["top_unigram_frac"] == 0.2       # all-distinct
    assert out[2]["type_token_ratio"] == 1.0
    # "ab cd" repeated: top bigram 'ab cd' occurs 3 of 5 bigrams
    assert out[3]["top_bigram_frac"] == 0.6
    assert out[4]["n_tokens"] == 1                 # <2 tokens: no bigrams
    assert out[4]["top_bigram_frac"] == 0.0
    assert out[2]["mean_token_len"] == round(19 / 5, 6)  # 3+3+5+4+4 chars


def test_redact_scrubs_email_and_terms(spark):
    from meteomatics_e2e_data_pipeline_spark.operators.textops import redact
    from meteomatics_e2e_data_pipeline_spark.plans.llmdata import (
        REDACT_PATTERNS,
    )

    docs = spark.createDataFrame(
        [(1, "mail me at jo.doe+x@corp.example.com or ping the customer"),
         (2, "customers are not customer but customer is")],
        "doc_id bigint, text string")
    out = {r["doc_id"]: r["c"] for r in docs.select(
        "doc_id", redact(F.col("text"), REDACT_PATTERNS).alias("c")).collect()}
    assert out[1] == "mail me at [EMAIL] or ping the [CUSTOMER]"
    # \b keeps 'customers' intact while replacing every bare 'customer'
    assert out[2] == "customers are not [CUSTOMER] but [CUSTOMER] is"


def test_sample_exact_n_counts_and_determinism(spark):
    from meteomatics_e2e_data_pipeline_spark.operators.sampling import (
        sample_exact_n,
    )

    rows = [(i, f"t{i}", ["en", "de"][i % 2], "src0") for i in range(100)]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string, "
                                       "lang string, source string")
    got = sample_exact_n(docs, 7, ("lang", "source"), salt="sA").collect()
    per = {}
    for r in got:
        per.setdefault(r["lang"], set()).add(r["doc_id"])
    assert len(per["en"]) == 7 and len(per["de"]) == 7
    again = sample_exact_n(docs, 7, ("lang", "source"), salt="sA").collect()
    assert {r["doc_id"] for r in again} == {r["doc_id"] for r in got}
    # stratum smaller than N: returns the whole stratum, no padding
    tiny = docs.filter(F.col("doc_id") < 3)
    assert sample_exact_n(tiny, 7, ("lang", "source")).count() == 3


def test_token_budget_mix_prefix_rule(spark):
    from meteomatics_e2e_data_pipeline_spark.operators.sampling import (
        sample_bucket, token_budget_mix,
    )

    rows = [(i, "en", 10) for i in range(20)]
    docs = spark.createDataFrame(rows, "doc_id bigint, lang string, "
                                       "n_chars bigint")
    kept = token_budget_mix(docs, {"en": 55}, weight_col="n_chars",
                            salt="sB").collect()
    # 10 chars each, budget 55 → exactly the first 5 docs in hash order
    assert len(kept) == 5
    order = sorted(
        docs.select("doc_id",
                    sample_bucket(F.col("doc_id"), "sB").alias("hb"))
        .collect(), key=lambda r: (r["hb"], r["doc_id"]))
    assert {r["doc_id"] for r in kept} == {r["doc_id"] for r in order[:5]}
    # unknown stratum + default_budget=0 → nothing kept
    other = spark.createDataFrame([(1, "xx", 5)], "doc_id bigint, "
                                  "lang string, n_chars bigint")
    assert token_budget_mix(other, {"en": 55}).count() == 0


def test_quantize_int8_roundtrip_and_zero_vector(spark):
    import math

    docs = spark.createDataFrame(
        [(1, [0.5, -1.0, 0.25, 0.0]), (2, [0.0, 0.0, 0.0, 0.0])],
        "vec_id bigint, embedding array<double>")
    out = {r["vec_id"]: r for r in similarity.quantize_int8(docs).collect()}
    assert out[2]["scale"] == 0.0 and out[2]["q"] == [0, 0, 0, 0]
    scale, q = out[1]["scale"], out[1]["q"]
    assert max(abs(x) for x in q) == 127
    for orig, qi in zip([0.5, -1.0, 0.25, 0.0], q):
        # max quantization error is scale/2 (hit exactly at half-points
        # like 0.5/scale = 63.5); +1e-6 absorbs the 9-dp scale rounding
        assert math.isclose(qi * scale, orig, abs_tol=scale / 2 + 1e-6)


def _heavy_test_samplers_invariant_under_repartitioning(spark):
    """The deterministic samplers must return the SAME rows regardless of
    physical layout — the property sampleBy lacks and the reason these
    exist. Checked across 1-partition, 13-partition, and range-sorted
    layouts for all three samplers."""
    from meteomatics_e2e_data_pipeline_spark.operators.sampling import (
        sample_exact_n, stratified_sample, token_budget_mix,
    )

    rows = [(i, f"txt {i}", ["en", "de", "fr"][i % 3], f"src{i % 2}",
             10 + i % 7) for i in range(400)]
    schema = ("doc_id bigint, text string, lang string, source string, "
              "n_chars bigint")
    base = spark.createDataFrame(rows, schema)
    layouts = [base.coalesce(1), base.repartition(13),
               base.orderBy(F.col("text").desc())]
    rates = {("en", "src0"): 0.4, ("de", "src1"): 0.15}
    budgets = {"en": 700, "de": 300}

    def ids(df):
        return sorted(r["doc_id"] for r in df.collect())

    for op in (
        lambda d: stratified_sample(d, rates, ("lang", "source"),
                                    default_rate=0.1, salt="sP"),
        lambda d: sample_exact_n(d, 9, ("lang", "source"), salt="sP"),
        lambda d: token_budget_mix(d, budgets, default_budget=100,
                                   salt="sP"),
    ):
        results = [ids(op(d)) for d in layouts]
        assert results[0] == results[1] == results[2]
        assert 0 < len(results[0]) < 400


def test_knn_int8_recall_vs_full_precision(spark, sf_oracle):
    """Compressed-domain kNN must stay close to exact: per-query overlap
    of the int8 top-k with the full-precision top-k ≥ 80% on real data
    (int8 keeps ~2 decimal digits of the cosine; only near-ties flip)."""
    from meteomatics_e2e_data_pipeline_spark.sources.tables import load_table

    emb = load_table(spark, sf_oracle, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    exact = {}
    for r in similarity.knn_bruteforce(emb, queries, 10).collect():
        exact.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    got = {}
    for r in similarity.knn_bruteforce_int8(emb, queries, 10).collect():
        got.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    assert set(got) == set(exact)
    for qid in exact:
        overlap = len(got[qid] & exact[qid]) / len(exact[qid])
        assert overlap >= 0.8, (qid, overlap)


def test_resize_images_plumbing(crafted_docs):
    from meteomatics_e2e_data_pipeline_spark.operators.multimodal import (
        resize_image, resize_images, to_media_table,
    )

    media = to_media_table(crafted_docs)
    out = resize_images(media, 24, 16).collect()
    assert len(out) == 4
    for r in out:
        assert (r["width"], r["height"]) == (24, 16)
        assert r["n_bytes"] == 24 * 16 // 8 == len(r["payload"])
    # deterministic across runs; payload depends on the input bytes
    again = {r["doc_id"]: bytes(r["payload"])
             for r in resize_images(media, 24, 16).collect()}
    assert again == {r["doc_id"]: bytes(r["payload"]) for r in out}
    assert len(set(again.values())) == 4     # distinct inputs → distinct out
    # a different target size changes the stream, not just its length
    small = {r["doc_id"]: bytes(r["payload"])
             for r in resize_images(media, 8, 8).collect()}
    assert all(not again[k].startswith(small[k]) for k in small)
    with pytest.raises(NotImplementedError):
        resize_image(b"\x89PNG", 8, 8)
    with pytest.raises(ValueError):
        resize_images(media, 0, 8)


def _heavy_test_training_mix_pipeline_stages_monotone(spark, sf_oracle):
    """The composed mix pipeline must be a monotone filter chain: every
    stage only removes rows, the final mix is a subset of the quality-
    gated dedup survivors, and reruns are identical (determinism of the
    whole composition, not just its pieces)."""
    from meteomatics_e2e_data_pipeline_spark.plans.llmdata import (
        MIX_MAX_TOP_UNI, MIX_MIN_TOKENS, MIX_MIN_TTR, q_docs_training_mix,
    )
    from meteomatics_e2e_data_pipeline_spark.operators.textops import (
        repetition_stats,
    )
    from meteomatics_e2e_data_pipeline_spark.sources.tables import load_table

    docs = load_table(spark, sf_oracle, "documents")
    n_docs = docs.count()
    good = (repetition_stats(docs)
            .filter((F.col("n_tokens") >= MIX_MIN_TOKENS)
                    & (F.col("type_token_ratio") >= MIX_MIN_TTR)
                    & (F.col("top_unigram_frac") <= MIX_MAX_TOP_UNI)))
    n_good = good.count()
    mix = q_docs_training_mix(spark, sf_oracle)
    ids = {r["doc_id"] for r in mix.collect()}
    assert 0 < len(ids) < n_good < n_docs     # every stage bites
    good_ids = {r["doc_id"] for r in good.collect()}
    assert ids <= good_ids                     # mix ⊆ quality survivors
    again = {r["doc_id"] for r in q_docs_training_mix(spark, sf_oracle)
             .collect()}
    assert again == ids


def _heavy_test_incremental_near_dup_equals_filtered_full_join(spark):
    """Batch-vs-corpus incremental dedup must find EXACTLY the full
    self-join's pairs that touch the batch — including planted dups
    crossing the split and inside the batch — and nothing corpus-only."""
    base = BASE
    rows = []
    for i in range(30):
        if i % 5 == 0:
            rows.append((i, base.replace("lazy", f"v{i % 10}")))  # dup family
        else:
            rows.append((i, " ".join(f"u{i}w{j}" for j in range(14))))
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    batch = docs.filter(F.col("doc_id") % 3 == 0)
    corpus = docs.filter(F.col("doc_id") % 3 != 0)
    got = {(r["doc_a"], r["doc_b"], r["jaccard"]) for r in
           neardup.near_dup_pairs_incremental(corpus, batch, threshold=0.3)
           .collect()}
    full = {(r["doc_a"], r["doc_b"], r["jaccard"]) for r in
            neardup.near_dup_pairs(docs, threshold=0.3).collect()}
    want = {p for p in full if p[0] % 3 == 0 or p[1] % 3 == 0}
    assert got == want and len(want) > 0
    assert any(a % 3 == 0 and b % 3 == 0 for a, b, _ in got)  # batch×batch
    assert any((a % 3 == 0) != (b % 3 == 0) for a, b, _ in got)  # cross


def test_contamination_hits_counts_distinct_benchmark_ngrams(spark):
    """Hit count = DISTINCT benchmark trigrams present in the doc; docs
    sharing nothing with the benchmark get no row; repeats in the doc
    don't inflate the count (shingle SETS on both sides)."""
    bench = spark.createDataFrame(
        [(100, "alpha beta gamma delta")], "doc_id bigint, text string")
    corpus = spark.createDataFrame(
        [(1, "x alpha beta gamma y"),            # 1 hit: "alpha beta gamma"
         (2, "alpha beta gamma delta trailer"),  # 2 distinct bench trigrams
         (3, "alpha beta gamma z alpha beta gamma w"),  # repeat → still 1
         (4, "no overlap here at all")],
        "doc_id bigint, text string")
    got = {(r["doc_id"], r["n_hits"]) for r in
           neardup.contamination_hits(corpus, bench).collect()}
    assert got == {(1, 1), (2, 2), (3, 1)}


def test_pack_sequences_two_level_prefix_sum_is_exact(spark):
    """The distributed two-level prefix sum must equal the single-window
    spec for ANY range count and partitioning, spans must tile the
    stream contiguously, and zero-weight rows are excluded."""
    from meteomatics_e2e_data_pipeline_spark.operators.packing import (
        pack_sequences,
    )
    from meteomatics_e2e_data_pipeline_spark.operators.sampling import (
        SAMPLE_BUCKETS, sample_bucket,
    )

    rows = [(i, 1 + (i * 37) % 500) for i in range(200)] + [(999, 0)]
    docs = spark.createDataFrame(rows, "doc_id bigint, n_chars bigint")
    L = 256
    ref = None
    for n_ranges, n_parts in ((1, 3), (16, 7), (1000, 2)):
        got = sorted(
            map(tuple, pack_sequences(docs.repartition(n_parts), L,
                                      n_ranges=n_ranges).collect()))
        if ref is None:
            ref = got
        assert got == ref, f"n_ranges={n_ranges} diverged"
    assert len(ref) == 200              # zero-weight row dropped
    # Reconstruct the spec order and check spans tile [0, total) exactly.
    meta = docs.filter("n_chars > 0").select(
        "doc_id", "n_chars",
        sample_bucket(F.col("doc_id"), "pack0").alias("b")).collect()
    weights = {r["doc_id"]: r["n_chars"] for r in meta}
    buckets = {r["doc_id"]: r["b"] for r in meta}
    order = sorted(weights, key=lambda i: (buckets[i], i))
    by_id = {t[0]: t for t in ref}
    cum = 0
    for i in order:
        _, first_seq, last_seq, off = by_id[i]
        assert first_seq == cum // L and off == cum % L
        cum += weights[i]
        assert last_seq == (cum - 1) // L


def test_temperature_sample_boosts_low_resource_strata(spark, sf_oracle):
    """α=0.5 sampling must keep a HIGHER fraction of low-resource
    languages than of the dominant one, land near the overall target,
    and be invariant under repartitioning."""
    from meteomatics_e2e_data_pipeline_spark.operators.sampling import (
        temperature_sample,
    )
    from meteomatics_e2e_data_pipeline_spark.sources.tables import load_table

    docs = load_table(spark, sf_oracle, "documents")
    n_by_lang = {r["lang"]: r["c"] for r in
                 docs.groupBy("lang").agg(F.count("*").alias("c")).collect()}
    kept = temperature_sample(docs, 0.5).select("doc_id", "lang")
    k_by_lang = {r["lang"]: r["c"] for r in
                 kept.groupBy("lang").agg(F.count("*").alias("c")).collect()}
    n_total = sum(n_by_lang.values())
    k_total = sum(k_by_lang.values())
    assert abs(k_total - 0.5 * n_total) < 0.1 * n_total
    big = max(n_by_lang, key=n_by_lang.get)
    small = min(n_by_lang, key=n_by_lang.get)
    rate = {l: k_by_lang.get(l, 0) / n_by_lang[l] for l in n_by_lang}
    assert rate[small] > rate[big]      # the whole point of temperature
    again = {r["doc_id"] for r in
             temperature_sample(docs.repartition(13), 0.5)
             .select("doc_id").collect()}
    assert again == {r["doc_id"] for r in kept.select("doc_id").collect()}


def test_hot_ngrams_finds_planted_boilerplate(spark):
    """A trigram planted across many docs must surface with its exact
    document frequency; repeats within one doc don't inflate df."""
    boiler = "all rights reserved"
    rows = [(i, f"unique{i} words here {boiler} " + (boiler if i == 0 else ""))
            for i in range(10)]
    rows += [(100 + i, f"noise{i} only text") for i in range(5)]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = {r["ngram"]: r["df"]
           for r in neardup.hot_ngrams(docs, min_df=10, top=5).collect()}
    assert got.get(boiler) == 10          # df counts DOCS, not occurrences
    assert all(df >= 10 for df in got.values())


def test_pq_codes_identity_and_knn_recall(spark, sf_oracle):
    """Codebook donor vectors must code to themselves in every subspace
    (zero distance), their reconstruction must be exact, and PQ kNN must
    overlap substantially with exact kNN (recall of a 16-entry codebook
    over this corpus)."""
    from meteomatics_e2e_data_pipeline_spark.sources.tables import load_table

    emb = load_table(spark, sf_oracle, "embeddings")
    cb = similarity.pq_codebook(emb, 16)
    codes = similarity.pq_codes(emb, cb, 64, 8)
    donors = codes.filter(F.col("vec_id") < 16).collect()
    assert all(all(r[f"c{j}"] == r["vec_id"] for j in range(8))
               for r in donors)
    recon = {r["vec_id"]: r["embedding"] for r in
             similarity.pq_reconstruct(codes, cb, 64, 8)
             .filter(F.col("vec_id") < 16).collect()}
    orig = {r["vec_id"]: [float(x) for x in r["embedding"]] for r in
            emb.filter(F.col("vec_id") < 16).collect()}
    assert all(recon[i] == pytest.approx(orig[i]) for i in recon)
    queries = emb.filter(F.col("vec_id") < 5)
    exact = {(r["query_id"], r["neighbor_id"]) for r in
             similarity.knn_bruteforce(emb, queries, 5).collect()}
    pq = {(r["query_id"], r["neighbor_id"]) for r in
          similarity.knn_pq(emb, queries, 5, 64, 8, 16).collect()}
    # a 16-entry codebook is deliberately coarse; chance overlap would
    # be ~1% (5/495 per slot) — 20%+ is unambiguous signal
    assert len(pq & exact) / len(exact) >= 0.2


def test_quality_percentile_filter_drops_bottom_quartile_per_stratum(spark):
    """Each stratum independently loses its bottom frac by metric; ties
    at the threshold are kept; per-stratum survivor count is exact for
    distinct metric values."""
    from meteomatics_e2e_data_pipeline_spark.operators.textops import (
        quality_percentile_filter,
    )

    rows = []
    # lang A: 8 docs with strictly increasing diversity (ttr)
    for i in range(8):
        toks = [f"w{j}" for j in range(i + 2)] + ["pad"] * (9 - i)
        rows.append((i, " ".join(toks), "A"))
    # lang B: 4 docs, all identical ttr → no doc falls below the quantile
    for i in range(4):
        rows.append((100 + i, "a b c d", "B"))
    docs = spark.createDataFrame(rows, "doc_id bigint, text string, lang string")
    kept = quality_percentile_filter(docs, 0.25)
    by_lang = {l: sorted(r["doc_id"] for r in g) for l, g in
               __import__("itertools").groupby(
                   sorted(kept.collect(), key=lambda r: r["lang"]),
                   key=lambda r: r["lang"])}
    assert by_lang["B"] == [100, 101, 102, 103]   # all tied → all kept
    # lang A: ceil(0.25*8)=2 → threshold = 2nd-lowest ttr; doc 0 dropped
    assert by_lang["A"] == [1, 2, 3, 4, 5, 6, 7]


def test_unigram_nll_orders_bland_below_rare(spark):
    """A doc of corpus-dominant tokens must score LOWER (more likely)
    than a doc of singletons; scores are partitioning-invariant."""
    from meteomatics_e2e_data_pipeline_spark.operators.textops import (
        unigram_logprob,
    )

    common = " ".join(["the"] * 10)
    rare = " ".join(f"zq{i}" for i in range(10))
    filler = [(i, "the and of to in " * 4) for i in range(10, 20)]
    docs = spark.createDataFrame(
        [(1, common), (2, rare)] + filler, "doc_id bigint, text string")
    total = sum(len(t.split()) for _, t in [(1, common), (2, rare)] + filler)
    nll = {r["doc_id"]: r["unigram_nll"]
           for r in unigram_logprob(docs, total).collect()}
    assert nll[1] < nll[2]
    nll2 = {r["doc_id"]: r["unigram_nll"]
            for r in unigram_logprob(docs.repartition(7), total).collect()}
    assert nll == nll2


def test_dup_span_stats_counts_cross_doc_spans_only(spark):
    """Only n-grams shared with ANOTHER doc count as duplicated —
    within-doc repetition alone doesn't; fully-copied docs hit 1.0."""
    a = "alpha beta gamma delta epsilon zeta"
    rows = [(1, a), (2, a),                               # full copies
            (3, "eta theta iota eta theta iota"),         # self-repeat only
            (4, "unique words that nobody else ever says here")]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = {r["doc_id"]: (r["n_spans"], r["n_dup_spans"], r["dup_span_frac"])
           for r in neardup.dup_span_stats(docs).collect()}
    assert got[1] == (4, 4, 1.0) and got[2] == (4, 4, 1.0)
    assert got[3][1] == 0          # self-repeat is not cross-doc dup
    assert got[4][1] == 0


def test_shingle_hash_array_equals_ngram_occurrences(spark):
    """The row-local (window-free) shingle array must contain exactly
    the grams the posexplode+lead chain produces, per doc, including
    short-doc edge cases."""
    rows = [(1, "a b c d e"), (2, "x y"), (3, "only"), (4, "p q r"),
            (5, "t t t t")]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    arr = {r["doc_id"]: sorted(r["hvs"]) for r in
           docs.select("doc_id",
                       neardup.shingle_hash_array(F.col("text"), 3)
                       .alias("hvs")).collect()}
    occ = {}
    for r in (neardup.ngram_occurrences(docs, "doc_id", "text", 3)
              .select("doc_id",
                      F.expr("conv(substring(md5(shingle), 1, 12), 16, 10)")
                      .cast("bigint").alias("hv")).collect()):
        occ.setdefault(r["doc_id"], []).append(r["hv"])
    occ = {k: sorted(v) for k, v in occ.items()}
    for d in (1, 4, 5):
        assert arr[d] == occ[d]
    assert arr[2] == [] and arr[3] == []      # too short for any trigram


def test_lsh_hot_bucket_cap_drops_only_hot_buckets(spark):
    """With a bucket cap, a pathological identical-doc cluster stops
    generating candidates (exact dedup's job) while ordinary near-dup
    pairs are untouched."""
    base = BASE
    rows = [(i, "template boilerplate " + base) for i in range(30)]  # hot
    rows += [(100, base), (101, base)]   # ordinary 2-doc dup bucket
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    sigs = neardup.minhash_signatures(docs)
    uncapped = {(r["id_a"], r["id_b"]) for r in
                neardup.lsh_candidate_pairs(sigs).collect()}
    capped = {(r["id_a"], r["id_b"]) for r in
              neardup.lsh_candidate_pairs(sigs, max_bucket=10).collect()}
    assert (100, 101) in uncapped and (100, 101) in capped
    hot = {p for p in capped if p[0] < 30 and p[1] < 30}
    assert hot == set()                      # hot cluster suppressed
    assert len(capped) < len(uncapped)


def test_ivfpq_prunes_to_bucket_and_tracks_full_precision_ivf(spark, sf_oracle):
    """Every IVF-PQ hit must come from the query's own bucket, and the
    lossy scoring must still substantially agree with full-precision IVF
    over the same buckets."""
    from meteomatics_e2e_data_pipeline_spark.sources.tables import load_table

    emb = load_table(spark, sf_oracle, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    cent = (emb.filter(F.col("vec_id") < 8)
            .select(F.col("vec_id").alias("centroid_id"), "embedding"))
    pq = similarity.knn_ivfpq(emb, queries, cent, 5, 64, 8, 16).collect()
    assert len(pq) > 0
    qbucket = {r["query_id"]: r["bucket"] for r in pq}
    assert all(r["bucket"] == qbucket[r["query_id"]] for r in pq)
    ivf = {(r["query_id"], r["neighbor_id"]) for r in
           similarity.knn_ivf(emb, queries, cent, 5).collect()}
    hits = {(r["query_id"], r["neighbor_id"]) for r in pq}
    assert len(hits & ivf) / len(ivf) >= 0.2   # lossy codes, same buckets


def _heavy_test_trained_pq_codebook_reduces_distortion(spark, sf_oracle):
    """Lloyd monotonicity: training from the take-first-16 seed must not
    increase total quantization distortion, and usually strictly
    reduces it; the trained chain stays deterministic."""
    from meteomatics_e2e_data_pipeline_spark.sources.tables import load_table

    emb = load_table(spark, sf_oracle, "embeddings")

    def distortion(cb):
        recon = similarity.pq_reconstruct(
            similarity.pq_codes(emb, cb, 64, 8), cb, 64, 8)
        orig = emb.select("vec_id",
                          F.col("embedding").cast("array<double>").alias("o"))
        return (recon.withColumnRenamed("embedding", "r")
                .join(orig, "vec_id")
                .select(F.aggregate(
                    F.zip_with("o", "r", lambda x, y: (x - y) * (x - y)),
                    F.lit(0.0), lambda a, t: a + t).alias("d"))
                .agg(F.sum("d")).first()[0])

    untrained = distortion(similarity.pq_codebook(emb, 16))
    one_iter = distortion(similarity.train_pq_codebook(emb, 64, 8, 16,
                                                       iters=1))
    cb1 = similarity.train_pq_codebook(emb, 64, 8, 16, iters=2)
    trained = distortion(cb1)
    # monotone in the exposed iteration count (plans/llmdata.py
    # PQ_TRAIN_ITERS): 0 → 1 → 2 never increases distortion
    assert one_iter <= untrained * (1 + 1e-9)
    assert trained <= one_iter * (1 + 1e-9)
    assert trained < untrained * 0.9          # real movement on this data
    cb2 = similarity.train_pq_codebook(emb, 64, 8, 16, iters=2)
    a = sorted(map(tuple, cb1.collect()))
    b = sorted(map(tuple, cb2.collect()))
    assert a == b                              # deterministic retrain


def test_filtered_knn_respects_metadata_predicate(spark, sf_oracle):
    """Every neighbor must satisfy the metadata filter; queries outside
    the filter still search; ranks are contiguous from 1."""
    from meteomatics_e2e_data_pipeline_spark.plans.llmdata import (
        FILTER_LANG, q_emb_knn_filtered,
    )
    from meteomatics_e2e_data_pipeline_spark.sources.tables import load_table

    rows = q_emb_knn_filtered(spark, sf_oracle).collect()
    docs = load_table(spark, sf_oracle, "documents")
    allowed = {r["doc_id"] for r in
               docs.filter(F.col("lang") == FILTER_LANG).collect()}
    assert len(rows) > 0
    assert all(r["neighbor_id"] in allowed for r in rows)
    by_q = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append(r["rank"])
    assert all(sorted(v) == list(range(1, len(v) + 1)) for v in by_q.values())


def test_label_centroids_medoid_is_closest_member(spark, sf_oracle):
    """The medoid must be its label's argmax-cosine member vs the
    rounded centroid, and centroids must average the right members."""
    from meteomatics_e2e_data_pipeline_spark.sources.tables import load_table

    emb = load_table(spark, sf_oracle, "embeddings")
    out = {r["label"]: r for r in similarity.label_centroids(emb).collect()}
    counts = {r["label"]: r["c"] for r in
              emb.groupBy("label").agg(F.count("*").alias("c")).collect()}
    assert {l: r["n_members"] for l, r in out.items()} == counts
    import math
    vecs = [(r["label"], r["vec_id"], [float(x) for x in r["embedding"]])
            for r in emb.collect()]
    for lbl, r in out.items():
        c = r["centroid"]
        def cos(v):
            d = sum(a * b for a, b in zip(v, c))
            return d / (math.sqrt(sum(a * a for a in v))
                        * math.sqrt(sum(b * b for b in c)))
        best = max(((cos(v), -vid) for l2, vid, v in vecs if l2 == lbl))
        assert -best[1] == r["medoid_id"]


def test_scrub_hot_ngrams_removes_covered_positions(spark):
    """Hand fixture: the trigram 'x y z' is hot (df=3); every position it
    covers is dropped, partial overlaps handled, fully-covered docs
    survive with empty text, short docs pass through untouched."""
    from meteomatics_e2e_data_pipeline_spark.operators.neardup import (
        scrub_hot_ngrams)

    docs = spark.createDataFrame(
        [(1, "a x y z b"),       # middle span removed
         (2, "x y z"),           # fully covered -> empty
         (3, "x y z q x y z"),   # two occurrences
         (4, "p q"),             # shorter than n: no shingles, untouched
         (5, "a b c d e")],      # no hot ngram, untouched
        "doc_id long, text string")
    out = {r["doc_id"]: r for r in
           scrub_hot_ngrams(docs, min_df=3, top=10, n=3).collect()}
    assert len(out) == 5                      # no silent row loss
    assert out[1]["clean_text"] == "a b"
    assert out[1]["n_removed"] == 3
    assert out[2]["clean_text"] == ""
    assert out[2]["n_removed"] == 3
    assert out[3]["clean_text"] == "q"
    assert out[3]["n_removed"] == 6
    assert out[4]["clean_text"] == "p q" and out[4]["n_removed"] == 0
    assert out[5]["clean_text"] == "a b c d e" and out[5]["n_removed"] == 0


def test_bm25_ranking_semantics(spark):
    """tf monotonicity, rare-term boost, and the deterministic top-k cut."""
    from meteomatics_e2e_data_pipeline_spark.operators.textops import (
        bm25_search)

    docs = spark.createDataFrame(
        [(1, "apple apple apple pad pad pad pad"),
         (2, "apple pad pad pad pad pad pad"),
         (3, "zebra pad pad pad pad pad pad"),
         (4, "pad pad pad pad pad pad pad"),
         (5, "pad pad pad pad pad pad pad")],
        "doc_id long, text string")
    out = bm25_search(docs, ("apple", "zebra"), k=10).collect()
    scores = {r["doc_id"]: r["bm25"] for r in out}
    assert set(scores) == {1, 2, 3}           # zero-hit docs never rank
    assert scores[1] > scores[2]              # higher tf, same term
    assert scores[3] > scores[2]              # rarer term outranks common
    hits = {r["doc_id"]: r["n_terms_hit"] for r in out}
    assert hits == {1: 1, 2: 1, 3: 1}
    top1 = bm25_search(docs, ("apple", "zebra"), k=1).collect()
    assert [r["doc_id"] for r in top1] == [max(scores, key=scores.get)]


def test_scrub_matches_python_reference_on_random_corpora(spark):
    """Brute-force cross-check: for random word-soup corpora, the Spark
    scrub must equal a direct python implementation of the spec (hot =
    top-N n-grams by doc frequency with df >= min_df; every covered
    token position dropped)."""
    import hashlib
    import random

    from meteomatics_e2e_data_pipeline_spark.operators.neardup import (
        scrub_hot_ngrams)

    def h48(s: str) -> int:
        return int(hashlib.md5(s.encode()).hexdigest()[:12], 16)

    rnd = random.Random(11)
    vocab = [f"w{i}" for i in range(12)]
    n, min_df, top = 3, 3, 5
    for trial in range(3):
        rows = [(i, " ".join(rnd.choice(vocab)
                             for _ in range(rnd.randint(1, 18))))
                for i in range(30)]
        # python reference
        df_count: dict[int, int] = {}
        for _, text in rows:
            w = text.split()
            grams = {h48(" ".join(w[j:j + n])) for j in range(len(w) - n + 1)}
            for g in grams:
                df_count[g] = df_count.get(g, 0) + 1
        hot = {g for g, _ in sorted(
            ((g, c) for g, c in df_count.items() if c >= min_df),
            key=lambda t: (-t[1], t[0]))[:top]}
        want = {}
        for doc_id, text in rows:
            w = text.split()
            covered = set()
            for j in range(len(w) - n + 1):
                if h48(" ".join(w[j:j + n])) in hot:
                    covered.update(range(j, j + n))
            kept = [t for i, t in enumerate(w) if i not in covered]
            want[doc_id] = (" ".join(kept), len(w), len(w) - len(kept))
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        got = {r["doc_id"]: (r["clean_text"], r["n_tokens"], r["n_removed"])
               for r in scrub_hot_ngrams(docs, min_df, top, n=n).collect()}
        assert got == want, f"trial {trial}"


def test_bm25_matches_python_reference_on_random_corpora(spark):
    """Brute-force cross-check of the BM25 formula and the top-k cut."""
    import math
    import random

    from meteomatics_e2e_data_pipeline_spark.operators.textops import (
        BM25_B, BM25_K1, bm25_search)

    rnd = random.Random(13)
    vocab = [f"w{i}" for i in range(15)]
    terms = ("w0", "w7", "w14")
    rows = [(i, " ".join(rnd.choice(vocab)
                         for _ in range(rnd.randint(3, 25))))
            for i in range(40)]
    dls = {i: len(t.split()) for i, t in rows}
    avgdl = sum(dls.values()) / len(rows)
    n_docs = len(rows)
    tf = {}
    for i, t in rows:
        for w in t.split():
            if w in terms:
                tf[(i, w)] = tf.get((i, w), 0) + 1
    df = {}
    for (_, w) in tf:
        df[w] = df.get(w, 0) + 1
    scores = {}
    for (i, w), f in tf.items():
        idf = math.log(1.0 + (n_docs - df[w] + 0.5) / (df[w] + 0.5))
        d = f + BM25_K1 * (1 - BM25_B + BM25_B * dls[i] / avgdl)
        scores[i] = scores.get(i, 0.0) + idf * f * (BM25_K1 + 1) / d
    want = sorted(((round(s, 6), i) for i, s in scores.items()),
                  key=lambda t: (-t[0], t[1]))[:10]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = [(r["bm25"], r["doc_id"])
           for r in bm25_search(docs, terms, k=10).collect()]
    got = sorted(got, key=lambda t: (-t[0], t[1]))
    assert [i for _, i in got] == [i for _, i in want]
    for (gs, _), (ws, _) in zip(got, want):
        assert gs == pytest.approx(ws, abs=2e-6)


def test_split_by_source_is_leakage_safe(spark, sf_oracle):
    """Every document from one source must land in the same split —
    the group-aware guarantee the row-wise split cannot give."""
    from meteomatics_e2e_data_pipeline_spark.plans.llmdata import (
        q_docs_split_by_source)

    rows = q_docs_split_by_source(spark, sf_oracle).collect()
    by_source = {}
    for r in rows:
        by_source.setdefault(r["source"], set()).add(r["split"])
    assert all(len(s) == 1 for s in by_source.values())
    from meteomatics_e2e_data_pipeline_spark.sources.tables import load_table
    n_docs = load_table(spark, sf_oracle, "documents").count()
    assert len(rows) == n_docs               # exhaustive, no row loss


def _heavy_test_emb_dedup_keep_drops_only_noncanonical(spark, sf_oracle):
    """Kept corpus = all vectors minus non-canonical cluster members;
    every cosine near-dup cluster retains exactly its min-id member."""
    from meteomatics_e2e_data_pipeline_spark.plans.llmdata import (
        COSINE_DUP_THRESHOLD, IVF_CENTROID_MAX_ID, IVF_TRAIN_ITERS,
        q_emb_dedup_keep)
    from meteomatics_e2e_data_pipeline_spark.sources.tables import load_table

    emb = load_table(spark, sf_oracle, "embeddings")
    cent = similarity.train_ivf_centroids(
        emb, k=IVF_CENTROID_MAX_ID, iters=IVF_TRAIN_ITERS)
    pairs = similarity.cosine_near_dup_pairs(emb, cent,
                                             COSINE_DUP_THRESHOLD)
    clusters = neardup.dup_clusters(pairs, src="id_a", dst="id_b").collect()
    kept = {r["vec_id"] for r in q_emb_dedup_keep(spark, sf_oracle).collect()}
    n_total = emb.count()
    dropped = {r["doc_id"] for r in clusters if not r["is_canonical"]}
    canonical = {r["doc_id"] for r in clusters if r["is_canonical"]}
    assert kept == set(range(n_total)) - dropped
    assert canonical <= kept
    by_cluster = {}
    for r in clusters:
        by_cluster.setdefault(r["cluster_id"], []).append(r["doc_id"])
    for cid, members in by_cluster.items():
        assert min(members) == cid and cid in kept


def _heavy_test_bloom_contamination_superset_of_exact(spark, sf_oracle):
    """Bloom membership has no false negatives: every doc's bloom-hit
    count bounds its exact-hit count from above, and the false-positive
    surplus stays within the sizing math's envelope."""
    import __spark_entry__ as entrymod

    exact = {r["doc_id"]: r["n_hits"] for r in
             entrymod.queries()["docs_contamination"](
                 spark, sf_oracle).collect()}
    bloom = {r["doc_id"]: r["n_bloom_hits"] for r in
             entrymod.queries()["docs_bloom_contamination"](
                 spark, sf_oracle).collect()}
    for doc_id, n in exact.items():
        assert bloom.get(doc_id, 0) >= n, doc_id
    # FP surplus: distinct flagged grams beyond the exact count, summed.
    surplus = sum(bloom.values()) - sum(exact.values())
    total_grams = sum(bloom.values()) + 1
    assert surplus / total_grams < 0.05


@settings(max_examples=10, deadline=None)
@given(st.data())
def test_cap_per_group_skew_safe_property(spark, data):
    """Property: the two-path skew-safe plan is bit-identical to the
    naive single-window form on random corpora — mixed under/over-cap
    groups, heavy order-value ties straddling salt buckets, caps of 1,
    and n_salts smaller than group sizes."""
    cap = data.draw(st.integers(min_value=1, max_value=4))
    n_salts = data.draw(st.sampled_from([2, 3, 16]))
    n_rows = data.draw(st.integers(min_value=1, max_value=40))
    rows = []
    for i in range(n_rows):
        g = f"g{data.draw(st.integers(0, 3))}"
        v = data.draw(st.integers(0, 5))  # few values → many ties
        rows.append((i, g, v))
    df = spark.createDataFrame(rows, "doc_id long, source string, n long")
    kwargs = dict(group_col="source", cap=cap, order_col="n")
    safe = {tuple(r) for r in sampling.cap_per_group(
        df, skew_safe=True, n_salts=n_salts, **kwargs).collect()}
    naive = {tuple(r) for r in sampling.cap_per_group(
        df, skew_safe=False, **kwargs).collect()}
    assert safe == naive


def test_cap_per_group_keeps_top_n_deterministically(spark):
    df = spark.createDataFrame(
        [(i, "s%d" % (i % 2), 100 - i) for i in range(10)],
        "doc_id long, source string, n_chars long")
    out = sampling.cap_per_group(df, "source", 3, order_col="n_chars")
    rows = {(r["source"], r["doc_id"], r["cap_rank"])
            for r in out.collect()}
    # source s0 has docs 0,2,4,6,8 with n_chars 100,98,96,94,92 → keep 0,2,4
    assert rows == {("s0", 0, 1), ("s0", 2, 2), ("s0", 4, 3),
                    ("s1", 1, 1), ("s1", 3, 2), ("s1", 5, 3)}
    import pytest as _pytest
    with _pytest.raises(ValueError):
        sampling.cap_per_group(df, "source", 0, order_col="n_chars")


def test_containment_join_finds_asymmetric_pairs_jaccard_misses(spark):
    """A short doc fully quoted inside a much longer one: containment
    (short → long) is 1.0 while Jaccard is far below any useful
    threshold — the asymmetric case the operator exists for. Also
    asserts direction (the containing doc does NOT satisfy the reverse
    containment) and that unrelated docs produce nothing."""
    from meteomatics_e2e_data_pipeline_spark.operators.neardup import (
        containment_prefix_pairs, jaccard_prefix_pairs,
    )

    quote = "alpha beta gamma delta epsilon zeta eta theta"
    long_doc = ("intro words here " + quote
                + " and then a very long tail " * 5
                + "closing remark tokens")
    docs = spark.createDataFrame(
        [(1, quote), (2, long_doc), (3, "totally unrelated content "
                                        "nothing shared at all " * 3)],
        "doc_id long, text string")
    got = {(r.id_a, r.id_b): r.containment
           for r in containment_prefix_pairs(docs, threshold=0.8).collect()}
    assert got.get((1, 2)) == 1.0          # quote fully contained
    assert (2, 1) not in got               # asymmetry: reverse fails
    assert all(3 not in k for k in got)    # unrelated stays out
    jac = jaccard_prefix_pairs(docs, threshold=0.5).collect()
    assert not any({r.id_a, r.id_b} == {1, 2} for r in jac)  # Jaccard misses it


def test_cap_per_group_skew_safe_matches_naive_on_hot_domain(spark):
    """One hot domain (200 rows) among tiny ones: the salted two-stage
    path must be bit-identical to the single-window form — including
    n_chars ties straddling the salt buckets and the cap boundary."""
    rows = [(i, "hot", (100 + i) // 7) for i in range(200)]        # ties
    rows += [(1000 + i, "s%d" % (i % 5), i) for i in range(15)]    # tails
    df = spark.createDataFrame(rows, "doc_id long, source string, n_chars long")
    naive = sampling.cap_per_group(
        df, "source", 5, order_col="n_chars", skew_safe=False)
    safe = sampling.cap_per_group(
        df, "source", 5, order_col="n_chars", n_salts=4)
    key = lambda r: (r["source"], r["cap_rank"])
    naive_rows = sorted(((r["source"], r["doc_id"], r["cap_rank"])
                         for r in naive.collect()))
    safe_rows = sorted(((r["source"], r["doc_id"], r["cap_rank"])
                        for r in safe.collect()))
    assert naive_rows == safe_rows
    assert safe.columns == naive.columns


def test_ann_recall_bounds(spark, sf_oracle):
    """recall@k ∈ [0, 1]; the IVF one-probe search can't beat exhaustive
    search, and every query id appears exactly once."""
    import __spark_entry__ as entrymod

    rows = entrymod.queries()["emb_ann_recall"](spark, sf_oracle).collect()
    from meteomatics_e2e_data_pipeline_spark.plans.llmdata import (
        IVF_K, KNN_QUERY_MAX_ID)
    assert len(rows) == KNN_QUERY_MAX_ID
    assert len({r["query_id"] for r in rows}) == KNN_QUERY_MAX_ID
    for r in rows:
        assert 0 <= r["n_hits"] <= r["n_ann"] <= IVF_K
        assert 0.0 <= r["recall_at_k"] <= 1.0


def test_hamming_recall_bounds_and_floor(spark, sf_oracle):
    """Funnel recall@k is a valid fraction per query, every query
    reports once, and the Hamming shortlist beats random-chance recall
    by a wide margin even on structureless embeddings (mean >= 0.2 at
    n_candidates=RERANK_C vs chance ~ k/N ≈ 0.005)."""
    import __spark_entry__ as entrymod

    rows = entrymod.queries()["emb_hamming_recall"](
        spark, sf_oracle).collect()
    from meteomatics_e2e_data_pipeline_spark.plans.llmdata import (
        KNN_K, KNN_QUERY_MAX_ID)
    assert len(rows) == KNN_QUERY_MAX_ID
    assert len({r["query_id"] for r in rows}) == KNN_QUERY_MAX_ID
    for r in rows:
        assert 0 <= r["n_hits"] <= r["n_ann"] <= KNN_K
        assert 0.0 <= r["recall_at_k"] <= 1.0
    assert sum(r["recall_at_k"] for r in rows) / len(rows) >= 0.2


def test_contamination_attribution_argmax_and_ties(spark):
    """Engineered overlap: the reported benchmark doc is the one
    sharing the most distinct 3-grams; a tie resolves to the smaller
    benchmark id; uncontaminated docs emit no row."""
    from meteomatics_e2e_data_pipeline_spark.operators.neardup import (
        contamination_attribution,
    )

    bench = spark.createDataFrame(
        [(100, "alpha beta gamma delta epsilon"),   # grams abg bgd gde
         (101, "alpha beta gamma zeta eta")],       # grams abg bgz gze
        "doc_id long, text string")
    corpus = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zzz"),  # 3 with 100, 1 w/101
         (2, "alpha beta gamma qqq"),                # 1 with each -> tie
         (3, "totally unrelated words here now")],
        "doc_id long, text string")
    got = {r["doc_id"]: (r["bench_doc"], r["n_shared"]) for r in
           contamination_attribution(corpus, bench).collect()}
    assert got[1] == (100, 3)
    assert got[2] == (100, 1)       # tie on 1 shared gram -> smaller id
    assert 3 not in got


def test_matryoshka_recall_monotone_in_dim(spark, sf_oracle):
    """More kept dimensions can only help on average: per-dim mean
    recall must be non-decreasing in dim (sampling noise can't break
    this at sf0.01 — asserted with a small slack), every (dim, query)
    reports once, and all fractions are valid."""
    import __spark_entry__ as entrymod

    from meteomatics_e2e_data_pipeline_spark.plans.llmdata import (
        KNN_K, KNN_QUERY_MAX_ID, MATRYOSHKA_DIMS)

    rows = entrymod.queries()["emb_matryoshka_recall"](
        spark, sf_oracle).collect()
    assert len(rows) == len(MATRYOSHKA_DIMS) * KNN_QUERY_MAX_ID
    means = {}
    for d in MATRYOSHKA_DIMS:
        rs = [r for r in rows if r["dim"] == d]
        assert len(rs) == KNN_QUERY_MAX_ID
        for r in rs:
            assert 0 <= r["n_hits"] <= r["n_ann"] <= KNN_K
            assert 0.0 <= r["recall_at_k"] <= 1.0
        means[d] = sum(r["recall_at_k"] for r in rs) / len(rs)
    ordered = sorted(MATRYOSHKA_DIMS)
    for lo, hi in zip(ordered, ordered[1:]):
        assert means[hi] >= means[lo] - 0.05, means


def _py_bpe_merge(syms, left, right):
    acc = []
    for x in syms:
        if acc and acc[-1] == left and x == right:
            acc[-1] = left + right
        else:
            acc.append(x)
    return acc


def test_bpe_merge_fold_matches_reference(spark):
    """Greedy-leftmost fold semantics across the tricky shapes:
    overlapping runs, chained merges, merged-symbol re-triggering."""
    from meteomatics_e2e_data_pipeline_spark.operators.bpe import merge_fold

    words = ["aaa", "aaaa", "aaaaa", "ab", "ba", "abab", "aabb",
             "banana", "x", "", "aa", "bb", "abba"]
    for left, right in [("a", "a"), ("a", "b"), ("b", "a")]:
        df = spark.createDataFrame([(w,) for w in words], "word string")
        got = {r["word"]: list(r["s"]) for r in df.select(
            "word",
            merge_fold(F.regexp_extract_all("word", F.lit("."), 0),
                       left, right).alias("s")).collect()}
        for w in words:
            assert got[w] == _py_bpe_merge(list(w), left, right), \
                (w, left, right)


def test_bpe_train_matches_reference_trainer(spark):
    """Full training loop vs a Sennrich-style python reference on a
    histogram with ties and chained merges."""
    from meteomatics_e2e_data_pipeline_spark.operators.bpe import bpe_train

    words = {"aaa": 3, "aaaa": 2, "banana": 5, "bandana": 1, "ananas": 2,
             "bb": 4, "abab": 1}

    def ref(words, k):
        vocab = {w: list(w) for w in words}
        merges = []
        for rank in range(1, k + 1):
            stats = {}
            for w, syms in vocab.items():
                for a, b in zip(syms, syms[1:]):
                    stats[(a, b)] = stats.get((a, b), 0) + words[w]
            if not stats:
                break
            m = max(stats.values())
            p, q = sorted(p for p, v in stats.items() if v == m)[0]
            merges.append((rank, p, q, p + q, m))
            vocab = {w: _py_bpe_merge(s, p, q) for w, s in vocab.items()}
        return merges, vocab

    rm, rv = ref(words, 5)
    hist = spark.createDataFrame(list(words.items()), "word string, cnt long")
    sm, sv = bpe_train(hist, 5)
    assert sm == rm
    assert {r["word"]: list(r["syms"]) for r in sv.collect()} == rv
    import pytest as _pytest
    with _pytest.raises(ValueError):
        bpe_train(hist, 0)


def test_wav_codec_roundtrip_and_decode_seam():
    """Stdlib WAV encode→decode is lossless on int16 extremes, and the
    decode seam rejects non-WAV / non-PCM16-mono payloads the way the
    image seam rejects non-BMP."""
    from meteomatics_e2e_data_pipeline_spark.operators.multimodal import (
        decode_audio, encode_wav, synth_samples)

    for samples in ([0], [-32768, 32767, 0, 1, -1], synth_samples(9)):
        rate, back = decode_audio(encode_wav(samples))
        assert rate == 16000 and back == samples
    with pytest.raises(NotImplementedError):
        decode_audio(b"ID3\x03not-a-wav-payload")
    import io
    import struct as _struct
    import wave

    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:   # stereo → unsupported
        w.setnchannels(2)
        w.setsampwidth(2)
        w.setframerate(8000)
        w.writeframes(_struct.pack("<4h", 1, 2, 3, 4))
    with pytest.raises(NotImplementedError):
        decode_audio(buf.getvalue())


def test_bmp_container_demux_and_decode_seam():
    """Container demux slices frames exactly at declared sizes, decoded
    pixels match the synth formula, and non-container payloads raise
    like the other decode seams."""
    from meteomatics_e2e_data_pipeline_spark.operators import multimodal as M

    raw = M.synth_bmp_container(11)
    frames = M.split_bmp_container(raw)
    assert len(frames) == M.VIDEO_FRAMES
    assert b"".join(frames) == raw
    for f, fb in enumerate(frames):
        w, h, px = M._bmp_decode(fb)
        assert (w, h) == (M.FRAME_W, M.FRAME_H)
        assert px == M.synth_frame_rows(11, f)
    with pytest.raises(NotImplementedError):
        M.split_bmp_container(b"\x00\x00not a container")
    # trailing garbage after a valid frame must not pass silently
    with pytest.raises(NotImplementedError):
        M.split_bmp_container(frames[0] + b"xx")


def _heavy_test_int8_rerank_funnel_properties(spark, sf_oracle):
    """The two-stage funnel must (a) equal full-precision brute force
    when the shortlist covers the whole corpus, and (b) achieve high
    recall@k at the production shortlist size."""
    from meteomatics_e2e_data_pipeline_spark.operators.similarity import (
        knn_bruteforce, knn_int8_rerank)
    from meteomatics_e2e_data_pipeline_spark.plans.llmdata import (
        KNN_K, KNN_QUERY_MAX_ID, RERANK_C)
    from meteomatics_e2e_data_pipeline_spark.sources.tables import load_table
    from pyspark.sql import functions as F

    emb = load_table(spark, sf_oracle, "embeddings")
    queries = emb.filter(F.col("vec_id") < KNN_QUERY_MAX_ID)
    n = emb.count()
    exact = {(r.query_id, r.rank): r.neighbor_id
             for r in knn_bruteforce(emb, queries, KNN_K).collect()}
    # (a) shortlist == corpus ⇒ the funnel IS brute force
    full = {(r.query_id, r.rank): r.neighbor_id
            for r in knn_int8_rerank(emb, queries, KNN_K, n).collect()}
    assert full == exact
    # (b) at the production shortlist the funnel recovers nearly all of
    # the true top-k (int8 quantization noise can drop a straggler)
    funnel = knn_int8_rerank(emb, queries, KNN_K, RERANK_C).collect()
    got = {(r.query_id, r.neighbor_id) for r in funnel}
    want = {(q, nb) for (q, _), nb in exact.items()}
    recall = len(got & want) / len(want)
    assert recall >= 0.9, f"funnel recall@{KNN_K} = {recall}"


def test_bigram_nll_matches_hand_computation(spark):
    """Interpolated bigram NLL on a 2-doc corpus, checked against the
    closed-form probabilities computed by hand."""
    import math

    from meteomatics_e2e_data_pipeline_spark.operators.textops import (
        BIGRAM_LAMBDA, bigram_nll)

    docs = spark.createDataFrame(
        [(1, "a b a b"), (2, "a b c"), (3, "x")],
        "doc_id long, text string")
    # corpus tokens: a b a b a b c x → N=8; unigrams a:3 b:3 c:1 x:1
    # bigrams: (a,b)x3 (b,a)x1 (b,c)x1 ; cw1: a·=3, b·=2
    out = {r.doc_id: r for r in bigram_nll(docs, 8).collect()}
    lam = BIGRAM_LAMBDA
    p_ab = lam * (3 / 3) + (1 - lam) * (3 / 8)
    p_ba = lam * (1 / 2) + (1 - lam) * (3 / 8)
    p_bc = lam * (1 / 2) + (1 - lam) * (1 / 8)
    d1 = -(2 * math.log(p_ab) + 1 * math.log(p_ba)) / 3
    d2 = -(1 * math.log(p_ab) + 1 * math.log(p_bc)) / 2
    assert out[1].n_bigrams == 3 and out[2].n_bigrams == 2
    assert abs(out[1].bigram_nll - round(d1, 6)) < 1e-9
    assert abs(out[2].bigram_nll - round(d2, 6)) < 1e-9
    assert 3 not in out  # single-token doc has no bigrams


def _heavy_test_pca1_matches_numpy_power_iteration(spark, sf_oracle):
    """The distributed fixed-step power iteration must reproduce a numpy
    replica of the same algorithm (projection corr ≈ 1 despite the
    6-dp parity rounding), and each power step can only RAISE the
    Rayleigh quotient, so the emitted direction must carry at least the
    seed axis e₀'s variance. (The synthetic embeddings are near
    isotropic — eigengap λ1/λ2 ≈ 1.013 — so converging to the true top
    eigenvector is not an achievable 4-step property; algorithm
    fidelity and monotonicity are.)"""
    import numpy as np

    from meteomatics_e2e_data_pipeline_spark.operators.similarity import (
        pca1_projection)
    from meteomatics_e2e_data_pipeline_spark.plans.llmdata import (
        EMB_DIM, PCA_ITERS)
    from meteomatics_e2e_data_pipeline_spark.sources.tables import load_table

    emb = load_table(spark, sf_oracle, "embeddings")
    rows = emb.select("vec_id", "embedding").collect()
    rows.sort(key=lambda r: r.vec_id)
    X = np.array([r.embedding for r in rows], dtype=np.float64)
    Xc = X - X.mean(axis=0)
    v = np.zeros(EMB_DIM)
    v[0] = 1.0
    for _ in range(PCA_ITERS):
        u = Xc.T @ (Xc @ v)
        v = u / np.linalg.norm(u)
    ref = Xc @ v

    got = {r.vec_id: r.pc1
           for r in pca1_projection(emb, EMB_DIM, PCA_ITERS).collect()}
    ours = np.array([got[r.vec_id] for r in rows])
    corr = abs(np.corrcoef(ours, ref)[0, 1])
    assert corr > 0.9999, corr
    assert ours.var() >= Xc[:, 0].var() * (1 - 1e-9)


def test_pagerank_mass_and_hub_ordering(spark):
    """On a star graph the hub must dominate; total mass stays ~1 (the
    symmetric graph has no dangling leak) and one closed-form leaf/hub
    iteration is reproduced exactly."""
    from meteomatics_e2e_data_pipeline_spark.operators.neardup import (
        PAGERANK_D, pagerank)

    # star: 0 — {1,2,3,4}
    pairs = spark.createDataFrame(
        [(0, i) for i in (1, 2, 3, 4)], "doc_a long, doc_b long")
    out = {r.doc_id: r for r in pagerank(pairs, iters=3).collect()}
    assert out[0].degree == 4 and out[1].degree == 1
    assert out[0].pagerank > out[1].pagerank
    assert out[1].pagerank == out[2].pagerank == out[3].pagerank
    mass = sum(r.pagerank for r in out.values())
    assert abs(mass - 1.0) < 1e-4
    # closed form after one step from uniform 1/5:
    #   hub: (1-d)/5 + d * 4 * (1/5)/1 ; leaf: (1-d)/5 + d * (1/5)/4
    d = PAGERANK_D
    hub1, leaf1 = (1 - d) / 5 + d * 4 / 5, (1 - d) / 5 + d / 20
    one = {r.doc_id: r.pagerank
           for r in pagerank(pairs, iters=1).collect()}
    assert abs(one[0] - hub1) < 1e-6 and abs(one[1] - leaf1) < 1e-6


def test_bigram_nll_matches_python_reference_on_random_corpora(spark):
    """Brute-force cross-check of the interpolated bigram formula on a
    random word-soup corpus (beyond the closed-form hand case)."""
    import math
    import random
    from collections import Counter

    from meteomatics_e2e_data_pipeline_spark.operators.textops import (
        BIGRAM_LAMBDA, bigram_nll)

    rnd = random.Random(29)
    vocab = [f"w{i}" for i in range(12)]
    rows = [(i, " ".join(rnd.choice(vocab)
                         for _ in range(rnd.randint(1, 20))))
            for i in range(60)]
    toks = {i: t.split() for i, t in rows}
    uni = Counter(w for ws in toks.values() for w in ws)
    n_total = sum(uni.values())
    big = Counter((ws[j], ws[j + 1]) for ws in toks.values()
                  for j in range(len(ws) - 1))
    cw1 = Counter()
    for (w1, _), c in big.items():
        cw1[w1] += c
    lam = BIGRAM_LAMBDA

    def doc_nll(ws):
        pairs = [(ws[j], ws[j + 1]) for j in range(len(ws) - 1)]
        if not pairs:
            return None
        per_type = Counter(pairs)
        s = sum(tf * math.log(lam * (big[p] / cw1[p[0]])
                              + (1 - lam) * (uni[p[1]] / n_total))
                for p, tf in sorted(per_type.items()))
        return round(-s / len(pairs), 6)

    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: (r.n_bigrams, r.bigram_nll)
           for r in bigram_nll(docs, n_total).collect()}
    for i, ws in toks.items():
        want = doc_nll(ws)
        if want is None:
            assert i not in got
        else:
            assert got[i][0] == len(ws) - 1
            assert abs(got[i][1] - want) < 1e-6, (i, got[i], want)


def test_gzip_codec_deterministic_and_round_trips():
    """The gzip text codec must emit RFC-1952 members with deterministic
    bytes (MTIME=0 framing — same text, same payload, across calls),
    round-trip arbitrary unicode text exactly, and actually compress
    repetitive text (the property that makes a compressed lake worth
    having)."""
    from meteomatics_e2e_data_pipeline_spark.operators.multimodal import (
        gunzip_text, gzip_bytes,
    )

    texts = ["hello world", "tok " * 500, "unicode é中文",
             "", "  spaced   out  "]
    for t in texts:
        p = gzip_bytes(t)
        assert p[:2] == b"\x1f\x8b"          # gzip magic
        assert p[4:8] == b"\x00\x00\x00\x00"  # MTIME=0: deterministic
        assert gzip_bytes(t) == p             # byte-stable across calls
        assert gunzip_text(p) == t
    assert len(gzip_bytes("tok " * 500)) < len("tok " * 500) / 10


def test_kcore_peels_chain_keeps_clique(spark):
    """On a triangle {1,2,3} with a pendant chain 3-4-5 the 2-core is
    exactly the triangle: 5 peels first (degree 1), then 4 (its degree
    drops to 1), and the triangle survives with core degree 2 each.
    Also witnesses that the default KCORE_ROUNDS has converged on this
    shape — an extra round changes nothing (the fixed-round contract
    the unrolled DuckDB oracle relies on)."""
    pairs = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3), (3, 4), (4, 5)],
        "doc_a long, doc_b long")
    out = {r.doc_id: r.core_degree
           for r in neardup.kcore(pairs, k=2, rounds=4).collect()}
    assert out == {1: 2, 2: 2, 3: 2}
    more = {r.doc_id: r.core_degree
            for r in neardup.kcore(pairs, k=2, rounds=5).collect()}
    assert more == out
    # k above the max degree empties the graph
    assert neardup.kcore(pairs, k=4, rounds=4).count() == 0


from hypothesis import HealthCheck  # noqa: E402


@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(st.data())
def test_kcore_matches_true_fixpoint_on_random_graphs(spark, data):
    """kcore with rounds >= n is guaranteed past the fixpoint (each
    non-final round removes >= 1 vertex); compare against a pure-Python
    peel-to-fixpoint reference on random graphs — degrees AND
    membership must match exactly (k-core is unique, so synchronous
    vs asynchronous peel order cannot matter)."""
    n = data.draw(st.integers(4, 10))
    edges = data.draw(st.sets(
        st.tuples(st.integers(0, n - 1), st.integers(0, n - 1))
        .filter(lambda t: t[0] < t[1]), min_size=1, max_size=18))
    adj: dict[int, set[int]] = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    while True:
        low = [v for v, ns in adj.items() if len(ns) < 2]
        if not low:
            break
        for v in low:
            for u in adj.pop(v, set()):
                if u in adj:
                    adj[u].discard(v)
    expected = {v: len(ns) for v, ns in adj.items()}
    df = spark.createDataFrame(sorted(edges), "doc_a long, doc_b long")
    got = {r.doc_id: r.core_degree
           for r in neardup.kcore(df, k=2, rounds=n).collect()}
    assert got == expected


def test_logreg_distills_quality_gate(spark, sf_oracle):
    """The in-engine trained classifier must actually learn the
    composite quality gate from the linear features: accuracy well
    above the base rate, capped below perfection by the teacher's
    saturating length bonus n/(n+K), which is a nonlinear function of
    the length feature x1 and so cannot be represented by the linear
    student (llmdata.LOGREG_QUALITY_THRESHOLD comment — the bonus is
    libm-free by design, the r8 advisor fix). Pins both sides."""
    from meteomatics_e2e_data_pipeline_spark.plans import llmdata

    df = llmdata.q_docs_quality_classifier(spark, sf_oracle)
    r = df.agg(
        F.avg((F.col("pred") == F.col("label")).cast("double")).alias("acc"),
        F.avg(F.col("label").cast("double")).alias("pos_rate"),
    ).collect()[0]
    base = max(r["pos_rate"], 1 - r["pos_rate"])
    assert r["acc"] >= 0.85
    assert r["acc"] > base + 0.2          # genuinely learned, not majority
    assert r["acc"] < 1.0                 # the honest distillation gap


def test_logreg_train_matches_decimal_reference(spark, sf_oracle):
    """The distributed trainer must equal a sequential pure-Python
    replay BIT-FOR-BIT: exact-decimal gradient sums (HALF_UP quantize
    at 12 dp, the double->DECIMAL(25,12) cast), identical
    left-associated dot products, algebraic fast sigmoid, and HALF_UP
    8 dp weight re-quantization per round. Any reassociation,
    partition-order dependence, or rounding-mode slip in the engine
    path shows up as a weight mismatch here."""
    from decimal import ROUND_HALF_UP, Decimal

    from meteomatics_e2e_data_pipeline_spark.operators.classifier import (
        logreg_train)
    from meteomatics_e2e_data_pipeline_spark.plans import llmdata

    feat = llmdata._logreg_features(spark, sf_oracle)
    cols = list(llmdata.LOGREG_FEATURES)
    iters, lr = llmdata.LOGREG_ITERS, llmdata.LOGREG_LR
    got = logreg_train(feat, cols, "y", iters=iters, lr=lr)

    rows = [(r["y"], [r[c] for c in cols]) for r in feat.collect()]
    q12, q8 = Decimal("1e-12"), Decimal("1e-8")
    n = float(len(rows))
    w = [0.0] * len(cols)
    for _ in range(iters):
        g = [Decimal(0)] * len(cols)
        for y, x in rows:
            z = w[0] * x[0]
            for wd, xd in zip(w[1:], x[1:]):
                z = z + wd * xd
            p = 0.5 + 0.5 * z / (1.0 + abs(z))
            for d in range(len(cols)):
                g[d] += Decimal((y - p) * x[d]).quantize(q12, ROUND_HALF_UP)
        w = [float(Decimal(w[d] + (lr * float(g[d])) / n)
                   .quantize(q8, ROUND_HALF_UP))
             for d in range(len(cols))]
    assert got == w


def test_tokenizer_fertility_consistent_with_bpe_encode(spark, sf_oracle):
    """Per-lang fertility must regroup exactly to the per-doc BPE
    encode counts (same trained merges), and every ratio must respect
    the BPE invariants: a word never segments into fewer than 1 or
    more than len(word) subtokens."""
    from meteomatics_e2e_data_pipeline_spark.plans import llmdata
    from meteomatics_e2e_data_pipeline_spark.sources.tables import load_table

    fert = {r["lang"]: r for r in
            llmdata.q_docs_tokenizer_fertility(spark, sf_oracle).collect()}
    enc = llmdata.q_docs_bpe_encode(spark, sf_oracle)
    docs = load_table(spark, sf_oracle, "documents").select("doc_id", "lang")
    regroup = {r["lang"]: r for r in
               (enc.join(docs, "doc_id").groupBy("lang")
                .agg(F.sum("n_tokens").alias("n_words"),
                     F.sum("n_bpe_tokens").alias("n_bpe"))).collect()}
    assert set(fert) == set(regroup)
    for lang, r in fert.items():
        assert r["n_words"] == regroup[lang]["n_words"]
        assert r["n_bpe_tokens"] == regroup[lang]["n_bpe"]
        assert r["fertility"] >= 1.0           # >=1 subtoken per word
        assert 1.0 <= r["chars_per_token"]     # merges only shorten


def test_classifier_auc_matches_pair_counting_reference(spark):
    """The rank-sum AUC must equal brute-force P(s_pos > s_neg) +
    0.5*P(=) over all positive x negative pairs (computed in Python on
    the small corpus), and the classifier must genuinely rank: AUC
    well above 0.5."""
    from fractions import Fraction

    from meteomatics_e2e_data_pipeline_spark.plans import llmdata

    sf = "/root/testdata/sf0.001"
    rows = llmdata.q_docs_quality_classifier(spark, sf) \
        .select("score", "label").collect()
    pos = [r["score"] for r in rows if r["label"] == 1]
    neg = [r["score"] for r in rows if r["label"] == 0]
    num = sum(2 for p in pos for n in neg if p > n) \
        + sum(1 for p in pos for n in neg if p == n)
    want = Fraction(num, 2 * len(pos) * len(neg))

    got = llmdata.q_docs_classifier_auc(spark, sf).collect()[0]
    assert got["n_pos"] == len(pos) and got["n_neg"] == len(neg)
    assert abs(got["auc"] - float(want)) < 5e-7   # 6-dp rounding only
    assert got["auc"] > 0.8


def test_minhash_calibration_partitions_candidates(spark):
    """Calibration buckets must partition the LSH candidate set
    exactly; estimates and exacts live in [0,1]; and the estimator is
    nearly unbiased where it matters (the >= 0.9 bucket that banding
    is tuned for), while the low-Jaccard bucket carries the large
    positive bias of banding false positives — the exact reason the
    verification stage exists."""
    from meteomatics_e2e_data_pipeline_spark.operators import neardup
    from meteomatics_e2e_data_pipeline_spark.plans import llmdata

    sf = "/root/testdata/sf0.001"
    sh = llmdata._shingles(spark, sf)
    n_cand = neardup.lsh_candidate_pairs(
        neardup.minhash_from_shingles(sh, "doc_id"), "doc_id").count()
    rows = llmdata.q_docs_minhash_calibration(spark, sf).collect()
    assert sum(r["n_pairs"] for r in rows) == n_cand
    for r in rows:
        assert 0.0 <= r["mean_est_jaccard"] <= 1.0
        assert 0.0 <= r["mean_exact_jaccard"] <= 1.0
    top = [r for r in rows if r["bucket_lo"] >= 0.9]
    assert top and all(abs(r["bias"]) < 0.05 for r in top)


def test_multiprobe_ivf_widens_probes_and_never_loses_recall(spark):
    """nprobe=2 must probe exactly two buckets per query — a strict
    superset of the one-probe bucket — and per-query recall against
    the brute-force truth can only rise (every truth neighbor
    outscores every non-truth neighbor, so widening the candidate set
    never evicts a hit)."""
    from meteomatics_e2e_data_pipeline_spark.operators import similarity
    from meteomatics_e2e_data_pipeline_spark.plans import llmdata
    from meteomatics_e2e_data_pipeline_spark.sources.tables import load_table

    sf = "/root/testdata/sf0.001"
    emb = load_table(spark, sf, "embeddings")
    q = emb.filter(F.col("vec_id") < llmdata.KNN_QUERY_MAX_ID)
    cents = (emb.filter(F.col("vec_id") < llmdata.IVF_CENTROID_MAX_ID)
             .select(F.col("vec_id").alias("centroid_id"), "embedding"))

    def probe_map(nprobe):
        rows = similarity.ivf_assign(q, cents, nprobe=nprobe).collect()
        out = {}
        for r in rows:
            out.setdefault(r["vec_id"], set()).add(r["bucket"])
        return out

    one, two = probe_map(1), probe_map(2)
    assert all(len(b) == 1 for b in one.values())
    assert all(len(b) == 2 for b in two.values())
    assert all(one[k] <= two[k] for k in one)

    truth = {(r["query_id"], r["neighbor_id"]) for r in
             similarity.knn_bruteforce(emb, q, llmdata.IVF_K).collect()}

    def hits(df):
        out = {}
        for r in df.collect():
            out.setdefault(r["query_id"], 0)
            if (r["query_id"], r["neighbor_id"]) in truth:
                out[r["query_id"]] += 1
        return out

    h1 = hits(llmdata.q_emb_ann_ivf(spark, sf))
    h2 = hits(llmdata.q_emb_ann_ivf_multiprobe(spark, sf))
    assert set(h1) == set(h2)
    assert all(h2[k] >= h1[k] for k in h1)


def _heavy_test_pq_recall_tiers_beat_chance_with_full_result_sets(spark):
    """Every compressed tier must return exactly k neighbors per query
    and recall well above random chance (k/(N-1) ~ 0.01 here): the
    synthetic embeddings carry no cluster structure, so PQ
    reconstruction is lossy — but a working ADC scan still recovers a
    large multiple of chance. Pins mean recall >= 0.2 per tier."""
    from meteomatics_e2e_data_pipeline_spark.plans import llmdata

    sf = "/root/testdata/sf0.001"
    rows = llmdata.q_emb_pq_recall(spark, sf).collect()
    tiers = {r["tier"] for r in rows}
    assert tiers == {"pq", "ivfpq", "pq_trained"}
    for t in tiers:
        tr = [r for r in rows if r["tier"] == t]
        assert len(tr) == 5                      # one row per query
        assert all(r["n_ann"] == llmdata.PQ_K for r in tr)
        assert all(0 <= r["n_hits"] <= llmdata.PQ_K for r in tr)
        mean = sum(r["recall_at_k"] for r in tr) / len(tr)
        assert mean >= 0.2, (t, mean)            # >= 20x chance


def test_classifier_threshold_matches_bruteforce_sweep(spark):
    """The selected operating points must equal a brute-force Python
    sweep over every distinct score (exact Fraction metrics, smallest
    threshold on ties), with exact confusion counts that add up to the
    corpus on both selected rows."""
    from fractions import Fraction

    from meteomatics_e2e_data_pipeline_spark.plans import llmdata

    sf = "/root/testdata/sf0.001"
    rows = llmdata.q_docs_quality_classifier(spark, sf) \
        .select("score", "label").collect()
    scores = sorted({r["score"] for r in rows})
    npos = sum(r["label"] for r in rows)
    nneg = len(rows) - npos

    def conf(t):
        tp = sum(1 for r in rows if r["score"] >= t and r["label"] == 1)
        fp = sum(1 for r in rows if r["score"] >= t and r["label"] == 0)
        return tp, fp, npos - tp, nneg - fp

    def best(metric):
        b = max(scores, key=lambda t: (metric(*conf(t)), -t))
        return b, conf(b)

    f1 = lambda tp, fp, fn, tn: Fraction(2 * tp, 2 * tp + fp + fn)
    j = lambda tp, fp, fn, tn: (Fraction(tp, npos) - Fraction(fp, nneg))

    got = {r["criterion"]: r for r in
           llmdata.q_docs_classifier_threshold(spark, sf).collect()}
    assert set(got) == {"f1", "youden"}
    for crit, metric in (("f1", f1), ("youden", j)):
        t, (tp, fp, fn, tn) = best(metric)
        r = got[crit]
        assert (r["threshold"], r["tp"], r["fp"], r["fn"], r["tn"]) == \
            (t, tp, fp, fn, tn), crit
        assert r["tp"] + r["fn"] == npos and r["fp"] + r["tn"] == nneg
        assert abs(r["metric"] - float(metric(tp, fp, fn, tn))) < 5e-7


def test_classifier_calibration_partitions_corpus(spark):
    """Calibration bins must partition the scored corpus exactly (no
    row lost or double-binned), conserve the positive count, and every
    bin's mean score must actually lie inside the bin's range."""
    from meteomatics_e2e_data_pipeline_spark.plans import llmdata

    sf = "/root/testdata/sf0.001"
    scored = llmdata.q_docs_quality_classifier(spark, sf).collect()
    bins = llmdata.q_docs_classifier_calibration(spark, sf).collect()
    assert sum(r["n"] for r in bins) == len(scored)
    assert sum(r["n_pos"] for r in bins) == \
        sum(r["label"] for r in scored)
    for r in bins:
        lo = r["bin"] / llmdata.CAL_BINS
        hi = (r["bin"] + 1) / llmdata.CAL_BINS if r["bin"] < 9 else 1.0001
        assert lo <= r["mean_score"] < hi
        assert 0.0 <= r["frac_pos"] <= 1.0


def test_minhash_sig_exprs_bit_equal_aggregate_form(spark, sf_oracle):
    """The row-local (array) minhash signature must equal the
    explode+groupBy signature on every document and every permutation —
    the contract that lets the streaming near-dup flag reuse the batch
    index."""
    from meteomatics_e2e_data_pipeline_spark.operators.neardup import (
        NUM_PERM, minhash_sig_exprs, minhash_signatures,
        shingle_hash_array,
    )
    from meteomatics_e2e_data_pipeline_spark.sources.tables import load_table

    docs = load_table(spark, sf_oracle, "documents").select("doc_id", "text")
    agg = {r["doc_id"]: tuple(r[f"mh_{j}"] for j in range(NUM_PERM))
           for r in minhash_signatures(docs).collect()}
    row = {r["doc_id"]: tuple(r[f"mh_{j}"] for j in range(NUM_PERM))
           for r in docs.select(
               "doc_id",
               *minhash_sig_exprs(shingle_hash_array(F.col("text"), 3)))
           .filter(F.size(shingle_hash_array(F.col("text"), 3)) > 0)
           .collect()}
    assert agg == row


# --------------------------------------------------------------------------
# KS drift + DSIR importance weights (round 9)
# --------------------------------------------------------------------------


def test_ks_drift_matches_bruteforce_ecdf(spark, sf_oracle):
    """The integer cross-multiplied KS statistic equals the brute-force
    max |ECDF_a − ECDF_b| computed in Python on the same rows."""
    import duckdb

    from meteomatics_e2e_data_pipeline_spark.plans.llmdata import \
        q_docs_ks_drift

    rows = duckdb.connect().execute(
        f"SELECT n_chars, (substr(source, 4)::INT % 2 = 0) AS ga "
        f"FROM read_parquet('{sf_oracle}/documents.parquet')").fetchall()
    a = sorted(v for v, g in rows if g)
    b = sorted(v for v, g in rows if not g)
    vals = sorted(set(a) | set(b))
    import bisect
    best_num, best_v = -1, None
    for v in vals:
        ca = bisect.bisect_right(a, v)
        cb = bisect.bisect_right(b, v)
        num = abs(ca * len(b) - cb * len(a))
        if num > best_num:
            best_num, best_v = num, v
    r = q_docs_ks_drift(spark, sf_oracle).collect()[0]
    assert (r["na"], r["nb"]) == (len(a), len(b))
    assert r["ks_num"] == best_num
    assert r["at_value"] == best_v
    assert abs(r["ks_d"] - round(best_num / (len(a) * len(b)), 6)) < 1e-9


def test_dsir_weights_favor_target_language(spark, sf_oracle):
    """DSIR sanity: the importance weight is a log-likelihood ratio for
    the English target distribution, so en docs must score higher on
    average than non-en docs (discriminative signal, not noise)."""
    import duckdb

    from meteomatics_e2e_data_pipeline_spark.plans.llmdata import \
        q_docs_dsir_weights

    langs = dict(duckdb.connect().execute(
        f"SELECT doc_id, lang "
        f"FROM read_parquet('{sf_oracle}/documents.parquet')").fetchall())
    w = {r["doc_id"]: r["dsir_logweight"]
         for r in q_docs_dsir_weights(spark, sf_oracle).collect()}
    assert len(w) == len(langs)
    en = [w[d] for d, l in langs.items() if l == "en"]
    other = [w[d] for d, l in langs.items() if l != "en"]
    assert sum(en) / len(en) > sum(other) / len(other) + 0.1


# --------------------------------------------------------------------------
# Exact-substring duplication coverage (round 9)
# --------------------------------------------------------------------------


def test_dup_span_coverage_matches_bruteforce_interval_union(spark):
    """The telescoping min(gap, L) sum equals a brute-force per-token
    interval union on a corpus with engineered overlaps: adjacent dup
    windows, disjoint dup windows, a within-doc repeat (multiplicity
    counts even with df=1), and a doc with no dups."""
    from meteomatics_e2e_data_pipeline_spark.operators.neardup import \
        dup_span_coverage

    L = 4
    docs = [
        # doc 0/1 share tokens a1..a9 (overlapping dup windows)
        (0, "a1 a2 a3 a4 a5 a6 a7 a8 a9 x0 x1 x2"),
        (1, "y0 a1 a2 a3 a4 a5 a6 a7 a8 a9 y1 y2"),
        # doc 2 repeats a 4-gram WITHIN itself, twice, disjointly
        (2, "b1 b2 b3 b4 z1 z2 z3 z4 z5 b1 b2 b3 b4"),
        # doc 3: all unique
        (3, "c1 c2 c3 c4 c5 c6 c7 c8"),
        # doc 4: shorter than L
        (4, "d1 d2 d3"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {r["doc_id"]: r for r in
           dup_span_coverage(df, span_len=L).collect()}

    # brute force: per-token boolean cover
    toks = {d: t.split() for d, t in docs}
    from collections import Counter
    grams = Counter()
    for d, w in toks.items():
        for p in range(len(w) - L + 1):
            grams[tuple(w[p:p + L])] += 1
    for d, w in toks.items():
        cover = [False] * len(w)
        ndup = 0
        for p in range(len(w) - L + 1):
            if grams[tuple(w[p:p + L])] >= 2:
                ndup += 1
                for i in range(p, p + L):
                    cover[i] = True
        r = got[d]
        assert r["n_tokens"] == len(w)
        assert r["n_spans"] == max(len(w) - L + 1, 0)
        assert r["n_dup_positions"] == ndup, d
        assert r["covered_tokens"] == sum(cover), d
        assert abs(r["dup_coverage"]
                   - round(sum(cover) / len(w), 6)) < 1e-9
    # the engineered shapes actually occurred
    assert got[0]["covered_tokens"] == 9      # merged overlapping windows
    assert got[2]["covered_tokens"] == 8      # two disjoint within-doc
    assert got[3]["covered_tokens"] == 0
    assert got[4]["n_spans"] == 0


@settings(max_examples=15, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(toks=st.lists(st.text(alphabet="abcx", min_size=1, max_size=4),
                     min_size=0, max_size=14),
       n=st.integers(2, 9))
def test_gram_array_fast_and_chained_forms_identical(spark, toks, n):
    """The fast slice+join gram build (batch path) and the closure-free
    zip_with chain (streaming-safe path) must produce IDENTICAL ordered
    gram and hash arrays — the pin that lets the streaming twins swap
    builds without drifting from the batch operators."""
    df = spark.createDataFrame([(" ".join(toks),)], "text string")
    out = df.select(
        neardup.gram_string_array(F.col("text"), n).alias("fast"),
        neardup.gram_string_array_chained(F.col("text"), n).alias("chain"),
        neardup.shingle_hash_array(F.col("text"), n).alias("fast_h"),
        neardup.shingle_hash_array_chained(F.col("text"), n)
        .alias("chain_h")).collect()[0]
    assert out["fast"] == out["chain"]
    assert out["fast_h"] == out["chain_h"]


def test_repetition_signals_engineered_and_zero_shuffle(spark):
    """Hand-computable docs: the run-length scans must equal the
    by-definition values, ties on the top gram resolve to the smaller
    string, empty docs yield zeros — and the WHOLE plan must be a pure
    projection (zero Exchange: the op's 100 TB contract)."""
    from meteomatics_e2e_data_pipeline_spark.operators.textops import (
        repetition_signals,
    )

    rows = [
        # "a b c a b c a b c": 3-grams: 'a b c'×3,'b c a'×2,'c a b'×2
        # top3 = 3*5/17 ; denom=17
        (1, "a b c a b c a b c"),
        # no repeated 5-gram or 10-gram, distinct everywhere
        (2, "q w e r t y u i o p"),
        # exact doubled half: "x y z v w x y z v w" - the 5-gram
        # 'x y z v w' occurs 2x -> dup5 = 2*9/19
        (3, "x y z v w x y z v w"),
        (4, ""),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = repetition_signals(df)
    got = {r["doc_id"]: r.asDict() for r in out.collect()}

    assert got[1]["n_chars_norm"] == 17
    assert got[1]["top_3gram_char_frac"] == round(3 * 5 / 17, 6)
    # a 10-token window cannot repeat inside 9 tokens
    assert got[1]["dup_10gram_char_frac"] == 0.0
    # the period-3 text DOES repeat 5-grams: 'a b c a b' at pos {1,4},
    # 'b c a b c' at pos {2,5}; 'c a b c a' (pos 3) is unique ->
    # 4 duplicated occurrences x 9 chars each over 17 chars
    assert got[1]["dup_5gram_char_frac"] == round(4 * 9 / 17, 6)
    assert got[2]["dup_5gram_char_frac"] == 0.0
    assert got[2]["top_3gram_char_frac"] == round(5 / 19, 6)  # all c=1
    assert got[3]["dup_5gram_char_frac"] == round(2 * 9 / 19, 6)
    assert got[4] == {"doc_id": 4, "n_chars_norm": 0,
                      "top_3gram_char_frac": 0.0,
                      "top_4gram_char_frac": 0.0,
                      "dup_5gram_char_frac": 0.0,
                      "dup_10gram_char_frac": 0.0}

    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan


# --------------------------------------------------------------------------
# Binary sign quantization + Hamming funnel (round 9)
# --------------------------------------------------------------------------


def test_binary_quantize_packs_sign_bits_exactly(spark):
    """Engineered vectors: packing equals the hand-computed bit masks;
    zeros clear their bit; identical vectors have Hamming 0 and land
    rank-1 in the funnel."""
    from meteomatics_e2e_data_pipeline_spark.operators.similarity import (
        binary_quantize, knn_hamming_rerank)

    def vec(positive_idx):
        return [1.0 if i in positive_idx else (-1.0 if i != 63 else 0.0)
                for i in range(64)]

    rows = [
        (0, vec({0, 3, 35})),          # lo bits 0,3 ; hi bit 3
        (1, vec({0, 3, 35})),          # identical twin
        (2, vec(set(range(64)) - {63})),  # all positive except the zero
        (3, [0.0] * 64),               # all zeros -> both codes 0
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {r["vec_id"]: (r["code_lo"], r["code_hi"])
           for r in binary_quantize(df).collect()}
    assert got[0] == (2**0 + 2**3, 2**3)
    assert got[1] == got[0]
    assert got[2] == (2**32 - 1, 2**31 - 1)   # bit 63 is the zero coord
    assert got[3] == (0, 0)

    # the funnel (like every cosine op here) assumes non-zero vectors
    nz = df.filter("vec_id != 3")
    top = knn_hamming_rerank(nz, nz.filter("vec_id = 0"), k=2,
                             n_candidates=2).collect()
    by_rank = {r["rank"]: r for r in top}
    assert by_rank[1]["neighbor_id"] == 1 and by_rank[1]["hamming"] == 0


@settings(max_examples=8, deadline=None)
@given(st.data())
def test_exact_substring_scrub_property_vs_python_reference(spark, data):
    """Property check: the distributed ExactSubstr scrub is EXACT
    against a sequential Python reference (window Counter → covered
    position union → rebuild) on random small-vocab corpora — small
    vocab forces real cross- and within-doc window repeats, and the
    span length is drawn so boundary docs (len < L, len == L) occur."""
    from meteomatics_e2e_data_pipeline_spark.operators.neardup import (
        exact_substring_scrub,
    )

    L = data.draw(st.sampled_from([2, 3, 4]))
    vocab = [f"w{i}" for i in range(data.draw(st.integers(2, 5)))]
    n_docs = data.draw(st.integers(min_value=2, max_value=8))
    rows = []
    for i in range(n_docs):
        n_tok = data.draw(st.integers(min_value=1, max_value=14))
        toks = [vocab[data.draw(st.integers(0, len(vocab) - 1))]
                for _ in range(n_tok)]
        rows.append((i, " ".join(toks)))

    # independent reference
    from collections import Counter
    toks = {i: t.split(" ") for i, t in rows}
    cnt = Counter()
    for w in toks.values():
        for p in range(len(w) - L + 1):
            cnt[tuple(w[p:p + L])] += 1
    want = {}
    for i, w in toks.items():
        covered = set()
        for p in range(len(w) - L + 1):
            if cnt[tuple(w[p:p + L])] >= 2:
                covered.update(range(p, p + L))
        kept = [w[j] for j in range(len(w)) if j not in covered]
        want[i] = (" ".join(kept), len(w), len(covered))

    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r["doc_id"]: (r["clean_text"], r["n_tokens"], r["n_removed"])
           for r in exact_substring_scrub(docs, span_len=L).collect()}
    assert got == want

# ---------------------------------------------------------------------------
# Pooled heavy bodies (runtime-budget lever, same pattern as the oracle
# mirror): the 11 most expensive independent tests in this module are
# latency-bound (many small Spark jobs), so ONE module fixture runs them
# concurrently on a thread pool — Spark job submission is thread-safe —
# and each keeps its own pytest row below, re-raising its stored
# exception. Work moves, verdicts don't.
# ---------------------------------------------------------------------------

_POOLED_HEAVY = {
    "test_training_mix_pipeline_stages_monotone": (_heavy_test_training_mix_pipeline_stages_monotone, ['spark', 'sf_oracle']),
    "test_samplers_invariant_under_repartitioning": (_heavy_test_samplers_invariant_under_repartitioning, ['spark']),
    "test_emb_dedup_keep_drops_only_noncanonical": (_heavy_test_emb_dedup_keep_drops_only_noncanonical, ['spark', 'sf_oracle']),
    "test_trained_pq_codebook_reduces_distortion": (_heavy_test_trained_pq_codebook_reduces_distortion, ['spark', 'sf_oracle']),
    "test_pq_recall_tiers_beat_chance_with_full_result_sets": (_heavy_test_pq_recall_tiers_beat_chance_with_full_result_sets, ['spark']),
    "test_int8_rerank_funnel_properties": (_heavy_test_int8_rerank_funnel_properties, ['spark', 'sf_oracle']),
    "test_bloom_contamination_superset_of_exact": (_heavy_test_bloom_contamination_superset_of_exact, ['spark', 'sf_oracle']),
    "test_dup_clusters_fixed_point_and_cocluster": (_heavy_test_dup_clusters_fixed_point_and_cocluster, ['spark']),
    "test_incremental_cluster_maintenance_matches_batch": (_heavy_test_incremental_cluster_maintenance_matches_batch, ['spark']),
    "test_pca1_matches_numpy_power_iteration": (_heavy_test_pca1_matches_numpy_power_iteration, ['spark', 'sf_oracle']),
    "test_incremental_near_dup_equals_filtered_full_join": (_heavy_test_incremental_near_dup_equals_filtered_full_join, ['spark']),
}


@pytest.fixture(scope="module")
def heavy_results(_heavy_pool):
    # touch all (submits on targeted runs), then join only THIS module
    futs = {n: _heavy_pool["tests.test_llm_operators::" + n]
            for n in _POOLED_HEAVY}
    return {n: f.result() for n, f in futs.items()}


def test_training_mix_pipeline_stages_monotone(heavy_results):
    ex = heavy_results["test_training_mix_pipeline_stages_monotone"]
    if ex is not None:
        raise ex

def test_samplers_invariant_under_repartitioning(heavy_results):
    ex = heavy_results["test_samplers_invariant_under_repartitioning"]
    if ex is not None:
        raise ex

def test_emb_dedup_keep_drops_only_noncanonical(heavy_results):
    ex = heavy_results["test_emb_dedup_keep_drops_only_noncanonical"]
    if ex is not None:
        raise ex

def test_trained_pq_codebook_reduces_distortion(heavy_results):
    ex = heavy_results["test_trained_pq_codebook_reduces_distortion"]
    if ex is not None:
        raise ex

def test_pq_recall_tiers_beat_chance_with_full_result_sets(heavy_results):
    ex = heavy_results["test_pq_recall_tiers_beat_chance_with_full_result_sets"]
    if ex is not None:
        raise ex

def test_int8_rerank_funnel_properties(heavy_results):
    ex = heavy_results["test_int8_rerank_funnel_properties"]
    if ex is not None:
        raise ex

def test_bloom_contamination_superset_of_exact(heavy_results):
    ex = heavy_results["test_bloom_contamination_superset_of_exact"]
    if ex is not None:
        raise ex

def test_dup_clusters_fixed_point_and_cocluster(heavy_results):
    ex = heavy_results["test_dup_clusters_fixed_point_and_cocluster"]
    if ex is not None:
        raise ex

def test_incremental_cluster_maintenance_matches_batch(heavy_results):
    ex = heavy_results["test_incremental_cluster_maintenance_matches_batch"]
    if ex is not None:
        raise ex

def test_pca1_matches_numpy_power_iteration(heavy_results):
    ex = heavy_results["test_pca1_matches_numpy_power_iteration"]
    if ex is not None:
        raise ex

def test_incremental_near_dup_equals_filtered_full_join(heavy_results):
    ex = heavy_results["test_incremental_near_dup_equals_filtered_full_join"]
    if ex is not None:
        raise ex


def test_nll_in_plan_total_matches_explicit_scalar(spark):
    """r16: when total_tokens is omitted, both LM scorers derive N as a
    broadcast 1-row in-plan aggregate — the values must be BIT-identical
    to passing the collected scalar (the pre-r16 caller shape)."""
    from meteomatics_e2e_data_pipeline_spark.operators.textops import (
        bigram_nll, unigram_logprob)

    docs = spark.createDataFrame(
        [(1, "a b a b"), (2, "a b c"), (3, "x"),
         (4, "the and of to in the and")],
        "doc_id long, text string")
    total = 8 + 7  # all tokens, including the bigram-less doc 3
    for fn in (unigram_logprob, bigram_nll):
        explicit = sorted(map(tuple, fn(docs, total).collect()))
        in_plan = sorted(map(tuple, fn(docs).collect()))
        assert in_plan == explicit, fn.__name__


def test_mmr_rerank_enforces_candidate_cap(spark):
    """r16: the candidate-bounded-by-contract promise is enforced — a
    first-stage list wider than MMR_MAX_CANDS raises instead of silently
    collecting a corpus to the driver."""
    import pytest

    from meteomatics_e2e_data_pipeline_spark.operators.similarity import (
        MMR_MAX_CANDS, mmr_rerank)

    cands = spark.range(MMR_MAX_CANDS + 1).select(
        F.col("id").alias("doc_id"), F.lit(0.5).alias("rel"))
    psim = spark.createDataFrame(
        [], "id_a bigint, id_b bigint, sim double")
    with pytest.raises(ValueError, match="MMR_MAX_CANDS"):
        mmr_rerank(cands, psim, k=3)


def test_mmr_rerank_refuses_oversized_psim(spark, monkeypatch):
    """The pair table is caller input too: one row past
    MMR_MAX_CANDS**2 raises instead of being silently truncated (which
    would drop similarity edges and change the selection); exactly
    MMR_MAX_CANDS**2 rows still rerank."""
    from meteomatics_e2e_data_pipeline_spark.operators import similarity

    monkeypatch.setattr(similarity, "MMR_MAX_CANDS", 3)
    cands = spark.createDataFrame(
        [(1, 0.9), (2, 0.8), (3, 0.7)], "doc_id bigint, rel double")
    ddl = "id_a bigint, id_b bigint, sim double"
    pairs = [(a, b, 0.5) for a in (1, 2, 3) for b in (1, 2, 3)]
    psim = spark.createDataFrame(pairs, ddl)
    assert similarity.mmr_rerank(cands, psim, k=2).count() == 2
    wide = spark.createDataFrame(pairs + [(4, 1, 0.1)], ddl)
    with pytest.raises(ValueError, match="psim exceeds"):
        similarity.mmr_rerank(cands, wide, k=2)

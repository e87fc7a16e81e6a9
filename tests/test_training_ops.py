"""Training-data pipeline operators: dedup family, similarity search,
text stats, multimodal plumbing."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from warchaeology_spark.operators.multimodal import (
    MEDIA_META_SCHEMA,
    attach_fake_bytes,
    decode_media,
    media_feature_table,
    media_manifest,
)
from warchaeology_spark.operators.similarity import ann_lsh_topk, cosine_topk
from warchaeology_spark.operators.textdedup import (
    exact_dedup,
    minhash_lsh_pairs,
    minhash_signatures,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet")


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet")


def test_minhash_signature_seeds_differ(docs):
    # regression: the pyspark lambda-arity pitfall made all seeds collapse
    row = minhash_signatures(docs).limit(1).collect()[0]
    sigs = [row[f"sig_{i}"] for i in range(8)]
    assert len(set(sigs)) > 1


def test_minhash_recall_on_exact_dups(spark):
    # construct exact dup docs: LSH must recover them as candidate pairs
    base = [(i, f"the quick brown fox {i} jumps over the lazy dog " * 3) for i in range(20)]
    dup = [(100 + i, t) for i, t in base[:5]]
    df = spark.createDataFrame(base + dup, "doc_id long, text string")
    pairs = {(r["id_a"], r["id_b"]) for r in minhash_lsh_pairs(df).collect()}
    for i in range(5):
        assert (i, 100 + i) in pairs


def test_exact_dedup_keeper(spark):
    df = spark.createDataFrame(
        [(1, "aaa"), (2, "aaa"), (3, "bbb"), (4, "aaa")], "doc_id long, text string"
    )
    got = {r["doc_id"]: (r["is_dup"], r["keeper"]) for r in exact_dedup(df).collect()}
    assert got[1] == (False, 1)
    assert got[2] == (True, 1)
    assert got[4] == (True, 1)
    assert got[3] == (False, 3)


def test_ann_recall_vs_bruteforce(emb):
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = cosine_topk(emb, queries, k=5)
    approx = ann_lsh_topk(emb, queries, k=5, n_planes=4)
    e = {(r["query_id"], r["vec_id"]) for r in exact.collect()}
    a = {(r["query_id"], r["vec_id"]) for r in approx.collect()}
    # self-match must always be found (same bucket trivially)
    for qid in range(10):
        assert (qid, qid) in a
    # multi-probe (own bucket + every Hamming-1 neighbor) recall floor
    recall = len(e & a) / len(e)
    assert recall >= 0.6, recall
    # multi-probe must dominate single-probe recall
    single = ann_lsh_topk(emb, queries, k=5, n_planes=4, multiprobe=False)
    s = {(r["query_id"], r["vec_id"]) for r in single.collect()}
    assert len(e & a) >= len(e & s)
    # every query must produce a full k rows under multi-probe at this scale
    from collections import Counter

    per_q = Counter(q for q, _ in a)
    assert all(per_q[q] == 5 for q in range(10)), per_q


def test_media_pipeline_plumbing(documents_spans):
    man = media_manifest(documents_spans)
    rows = man.limit(5).collect()
    assert rows and all(r["media_type"] == "image" for r in rows)  # fixture uses .jpg
    feats = media_feature_table(documents_spans)
    f = feats.limit(3).collect()
    assert all(len(r["features"]) == 16 for r in f)
    assert all(r["n_bytes"] > 0 for r in f)
    # determinism: same ref -> same content hash
    h1 = {r["media_ref"]: r["content_hash"] for r in feats.collect()}
    h2 = {r["media_ref"]: r["content_hash"] for r in media_feature_table(documents_spans).collect()}
    assert h1 == h2


def test_media_strict_mode_raises(documents_spans):
    # fixture bytes are not a decodable format -> strict mode must refuse
    strict = decode_media(attach_fake_bytes(media_manifest(documents_spans)), strict=True)
    with pytest.raises(Exception) as ei:
        strict.limit(1).collect()
    assert "NotImplementedError" in str(ei.value) or "no codec" in str(ei.value)


def _tiny_bmp() -> bytes:
    # 2x2 24-bit bottom-up BMP: top row red+green, bottom row blue+white
    import struct

    w = h = 2
    row = (w * 3 + 3) // 4 * 4
    bottom = bytes([255, 0, 0, 255, 255, 255]) + b"\x00" * (row - 6)  # BGR!
    top = bytes([0, 0, 255, 0, 255, 0]) + b"\x00" * (row - 6)
    return (
        b"BM" + struct.pack("<IHHI", 54 + row * h, 0, 0, 54)
        + struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, row * h, 0, 0, 0, 0)
        + bottom + top
    )


def test_media_real_bmp_ppm_codecs_in_strict_mode(spark):
    # the BMP/PPM decode path is REAL: strict mode succeeds, the fake
    # label disappears, and the features are the expected pixel stats
    import numpy as np

    ppm = b"P6\n2 1\n255\n" + bytes([0, 0, 0, 255, 255, 255])
    df = spark.createDataFrame(
        [
            ("d1", "img.bmp", 0, "image", bytearray(_tiny_bmp())),
            ("d2", "img.ppm", 0, "image", bytearray(ppm)),
        ],
        "doc_id string, media_ref string, span_offset int, media_type string,"
        " content binary",
    )
    rows = {r["media_ref"]: r for r in decode_media(df, strict=True).collect()}
    assert rows["img.bmp"]["codec"] == "bmp"
    assert rows["img.ppm"]["codec"] == "ppm"
    # BMP pixels: red, green, blue, white -> channel means (2/4 of 255
    # per channel + white contributes to all)
    f = rows["img.bmp"]["features"]
    assert len(f) == 16
    np.testing.assert_allclose(f[0:2], [2 / 4096, 2 / 4096], rtol=1e-5)
    np.testing.assert_allclose(f[2:5], [0.5, 0.5, 0.5], rtol=1e-5)  # each channel: 2 of 4 at 255
    # PPM: black + white -> means 0.5, gray histogram half in bin 0, half in bin 7
    f2 = rows["img.ppm"]["features"]
    np.testing.assert_allclose(f2[2:5], [0.5, 0.5, 0.5], rtol=1e-5)
    np.testing.assert_allclose([f2[8], f2[15]], [0.5, 0.5], rtol=1e-5)


def test_ivf_recall_vs_bruteforce(emb):
    from warchaeology_spark.operators.similarity import ivf_topk

    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = cosine_topk(emb, queries, k=5)
    approx = ivf_topk(emb, queries, k=5, n_lists=8, n_probe=3)
    e = {(r["query_id"], r["vec_id"]) for r in exact.collect()}
    a = {(r["query_id"], r["vec_id"]) for r in approx.collect()}
    for qid in range(10):
        assert (qid, qid) in a  # self-match always in the probed cell
    recall = len(e & a) / len(e)
    assert recall >= 0.4, recall
    # deterministic: same seed -> same result
    a2 = {(r["query_id"], r["vec_id"])
          for r in ivf_topk(emb, queries, k=5, n_lists=8, n_probe=3).collect()}
    assert a == a2


def test_ngram_boundary_straddling_pair(spark):
    # near-identical docs of 63 and 65 chars land in adjacent 64-char
    # buckets; the overlapping-bucket probe must pair them (the hard
    # bucket boundary missed this — VERDICT r1 finding #5)
    from warchaeology_spark.operators.textdedup import ngram_jaccard_neardups

    t63 = "aa bb cc dd ee ff gg hh ii jj kk ll mm nn oo pp qq rr ss tt u"
    t65 = t63 + " vv"
    assert len(t63) // 64 != len(t65) // 64  # adjacent length buckets
    df = spark.createDataFrame(
        [(1, t63, "en"), (2, t65, "en")], "doc_id long, text string, lang string"
    )
    pairs = {
        (r["id_a"], r["id_b"])
        for r in ngram_jaccard_neardups(df, threshold=0.6).collect()
    }
    assert (1, 2) in pairs
    # and the same pair via the xxhash64 fast path, with identical jaccard
    fast = ngram_jaccard_neardups(df, threshold=0.6, portable=False).collect()
    slow = ngram_jaccard_neardups(df, threshold=0.6).collect()
    assert {(r["id_a"], r["id_b"], r["jaccard"]) for r in fast} == {
        (r["id_a"], r["id_b"], r["jaccard"]) for r in slow
    }


def test_ngram_prefix_filter_pairs_long_ratio_feasible_docs(spark):
    # the multiplicative feasibility bound: at t=0.6 a ~1000-char doc
    # legitimately pairs with a ~1600-char doc (shingle subset, J=62/100).
    # r2's linear len/64 buckets (15 vs 25) never probed this pair —
    # VERDICT r2 finding #3. The prefix-filtering join is exact, so the
    # pair must surface regardless of the length gap.
    from warchaeology_spark.operators.textdedup import ngram_jaccard_neardups

    words = [f"w{i:02d}xxxxxxxxxxxx" for i in range(101)]  # 15-char words
    big = " ".join(words)           # 101 words -> 100 distinct bigrams
    small = " ".join(words[:63])    # 63 words  -> 62 bigrams, all subset
    assert abs(len(small) // 64 - len(big) // 64) > 1  # far apart linearly
    df = spark.createDataFrame(
        [(1, small, "en"), (2, big, "en")], "doc_id long, text string, lang string"
    )
    got = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_neardups(df, threshold=0.6).collect()
    }
    assert got == {(1, 2): 0.62}


def test_ngram_prefix_filter_is_exact_vs_bruteforce(spark):
    # recall-1.0 claim: on a randomized corpus the prefix-filter join must
    # return EXACTLY the brute-force quadratic pair set (AllPairs theorem:
    # J>=t pairs always share a DF-ordered prefix token)
    import itertools
    import random

    from warchaeology_spark.operators.textdedup import ngram_jaccard_neardups

    rng = random.Random(7)
    vocab = [f"tok{i}" for i in range(30)]
    docs = []
    base = [rng.choice(vocab) for _ in range(40)]
    for i in range(30):
        words = list(base)
        for _ in range(rng.randrange(0, 25)):  # mutate a random amount
            words[rng.randrange(len(words))] = rng.choice(vocab)
        docs.append((i, " ".join(words), "en"))

    def shingles(text):
        ws = [w for w in text.lower().split(" ") if w]
        return {f"{a} {b}" for a, b in zip(ws, ws[1:])}

    want = {}
    for (ia, ta, _), (ib, tb, _) in itertools.combinations(docs, 2):
        sa, sb = shingles(ta), shingles(tb)
        if not sa or not sb:
            continue
        j = len(sa & sb) / len(sa | sb)
        if round(j, 4) >= 0.6:
            want[(min(ia, ib), max(ia, ib))] = round(j, 4)

    df = spark.createDataFrame(docs, "doc_id long, text string, lang string")
    got = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_neardups(df, threshold=0.6).collect()
    }
    assert got == want and len(want) > 0


def test_minhash_fast_family_recovers_exact_dups(spark):
    # the xxhash64 signature family must still band exact dups together
    from warchaeology_spark.operators.textdedup import jaccard_pairs

    base = [(i, f"the quick brown fox {i} jumps over the lazy dog " * 3) for i in range(20)]
    dup = [(100 + i, t) for i, t in base[:5]]
    df = spark.createDataFrame(base + dup, "doc_id long, text string")
    fast_pairs = minhash_lsh_pairs(df, portable=False)
    got = {(r["id_a"], r["id_b"]) for r in fast_pairs.collect()}
    for i in range(5):
        assert (i, 100 + i) in got
    # verified (true-Jaccard) pairs agree with the portable family's
    slow_v = {
        (r["id_a"], r["id_b"])
        for r in jaccard_pairs(df, minhash_lsh_pairs(df), threshold=0.9).collect()
    }
    fast_v = {
        (r["id_a"], r["id_b"])
        for r in jaccard_pairs(df, fast_pairs, threshold=0.9).collect()
    }
    assert slow_v == fast_v == {(i, 100 + i) for i in range(5)}


def test_simhash_scan_side_matches_and_excludes_empty(spark):
    from warchaeology_spark.operators.textdedup import simhash_signatures

    df = spark.createDataFrame(
        [(1, "hello world hello"), (2, ""), (3, "   "), (4, "one")],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r["simhash"] for r in simhash_signatures(df).collect()}
    assert set(rows) == {1, 4}  # empty/whitespace docs excluded (oracle rule)
    assert all(0 <= v < (1 << 16) for v in rows.values())


def test_ivf_persisted_index_matches_inline(emb, spark, tmp_path):
    # build-once/serve-many: the persisted IVF index must return the same
    # result as the inline fit (same seed, same params), with no KMeans
    # fit at serve time
    from warchaeology_spark.operators.similarity import (
        build_ivf_index,
        ivf_topk,
        ivf_topk_from_index,
    )

    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    inline = {
        (r["query_id"], r["vec_id"], r["rank"])
        for r in ivf_topk(emb, queries, k=5, n_lists=8, n_probe=3).collect()
    }
    idx = str(tmp_path / "ivf")
    build_ivf_index(emb, idx, n_lists=8)
    served = {
        (r["query_id"], r["vec_id"], r["rank"])
        for r in ivf_topk_from_index(spark, idx, queries, k=5, n_probe=3).collect()
    }
    assert served == inline


def test_dedup_clusters_components_and_chain(spark):
    """Min-label propagation finds components, incl. a chain needing >1 round."""
    from warchaeology_spark.operators.textdedup import dedup_clusters

    # component 1: a 5-chain (diameter 4 — forces several propagation rounds)
    # component 2: a triangle; singleton pairs never appear (vertices only
    # exist via pairs, matching LSH output semantics)
    pairs = spark.createDataFrame(
        [
            ("d1", "d2"), ("d2", "d3"), ("d3", "d4"), ("d4", "d5"),
            ("t1", "t2"), ("t2", "t3"), ("t1", "t3"),
        ],
        ["id_a", "id_b"],
    )
    got = {
        r["doc_id"]: (r["cluster_id"], r["cluster_size"])
        for r in dedup_clusters(pairs).collect()
    }
    assert got == {
        "d1": ("d1", 5), "d2": ("d1", 5), "d3": ("d1", 5),
        "d4": ("d1", 5), "d5": ("d1", 5),
        "t1": ("t1", 3), "t2": ("t1", 3), "t3": ("t1", 3),
    }


def test_dedup_clusters_is_deterministic_and_direction_free(spark):
    from warchaeology_spark.operators.textdedup import dedup_clusters

    fwd = spark.createDataFrame([("a", "b"), ("b", "c")], ["id_a", "id_b"])
    rev = spark.createDataFrame([("c", "b"), ("b", "a")], ["id_a", "id_b"])
    out_f = sorted(map(tuple, dedup_clusters(fwd).collect()))
    out_r = sorted(map(tuple, dedup_clusters(rev).collect()))
    assert out_f == out_r == [("a", "a", 3), ("b", "a", 3), ("c", "a", 3)]


def test_dedup_keep_canonical_drops_only_non_heads(spark):
    from warchaeology_spark.operators.textdedup import dedup_keep_canonical

    docs = spark.createDataFrame(
        [(i, f"text{i}") for i in range(6)], ["doc_id", "text"]
    )
    clusters = spark.createDataFrame(
        [(0, 0, 2), (3, 0, 2), (1, 1, 2), (4, 1, 2)],
        ["doc_id", "cluster_id", "cluster_size"],
    )
    kept = sorted(r["doc_id"] for r in dedup_keep_canonical(docs, clusters).collect())
    # heads 0 and 1 kept; members 3 and 4 dropped; unclustered 2 and 5 kept
    assert kept == [0, 1, 2, 5]


def test_media_real_wav_codec_in_strict_mode(spark):
    """PCM-WAV decode is REAL: a stdlib-wave-written stereo 16-bit file
    round-trips through strict-mode decode_media with audio-stat features."""
    import io
    import math
    import wave

    import numpy as np

    rate, dur = 8000, 0.5
    n = int(rate * dur)
    t = np.arange(n) / rate
    left = (np.sin(2 * math.pi * 440 * t) * 0.5 * 32767).astype("<i2")
    right = (np.sin(2 * math.pi * 440 * t) * 0.5 * 32767).astype("<i2")
    frames = np.empty(2 * n, dtype="<i2")
    frames[0::2], frames[1::2] = left, right
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(2)
        w.setsampwidth(2)
        w.setframerate(rate)
        w.writeframes(frames.tobytes())
    df = spark.createDataFrame(
        [("d1", "clip.wav", 0, "audio", bytearray(buf.getvalue()))],
        "doc_id string, media_ref string, span_offset int, media_type string,"
        " content binary",
    )
    r = decode_media(df, strict=True).collect()[0]
    assert r["codec"] == "wav"
    f = r["features"]
    assert len(f) == 16
    np.testing.assert_allclose(f[0], dur / 3600.0, rtol=1e-3)   # duration
    np.testing.assert_allclose(f[1], 2 / 8.0)                   # channels
    np.testing.assert_allclose(f[2], rate / 96000.0, rtol=1e-6)  # rate
    # 0.5-amplitude sine: RMS = 0.5/sqrt(2), peak ~0.5, flat energy profile
    np.testing.assert_allclose(f[3], 0.5 / np.sqrt(2), rtol=1e-2)
    np.testing.assert_allclose(f[4], 0.5, rtol=1e-2)
    np.testing.assert_allclose(f[6:14], [1 / 8.0] * 8, rtol=1e-2)


def _encode_png(px: "np.ndarray", filters: list[int]) -> bytes:
    """Minimal PNG encoder for the test: 8-bit RGB/RGBA, one chosen
    filter type per scanline, written from the spec (independent of the
    decoder under test)."""
    import struct
    import zlib

    h, w, ch = px.shape
    ctype = 2 if ch == 3 else 6

    def chunk(typ: bytes, payload: bytes) -> bytes:
        crc = zlib.crc32(typ + payload) & 0xFFFFFFFF
        return struct.pack(">I", len(payload)) + typ + payload + struct.pack(">I", crc)

    raw = bytearray()
    prev = np.zeros(w * ch, np.int32)
    for y in range(h):
        f = filters[y % len(filters)]
        cur = px[y].reshape(-1).astype(np.int32)
        filt = np.zeros(w * ch, np.int32)
        for x in range(w * ch):
            a = int(cur[x - ch]) if x >= ch else 0
            b = int(prev[x])
            c = int(prev[x - ch]) if x >= ch else 0
            if f == 0:
                pred = 0
            elif f == 1:
                pred = a
            elif f == 2:
                pred = b
            elif f == 3:
                pred = (a + b) >> 1
            else:  # Paeth
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
            filt[x] = (int(cur[x]) - pred) & 0xFF
        raw.append(f)
        raw.extend(filt.astype(np.uint8).tobytes())
        prev = cur
    ihdr = struct.pack(">IIBBBBB", w, h, 8, ctype, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(bytes(raw)))
        + chunk(b"IEND", b"")
    )


def test_media_real_png_codec_all_filters(spark):
    """PNG decode is REAL: spec-written encoder (independent of the
    decoder) -> exact pixel recovery through every scanline filter type,
    RGB and RGBA (alpha dropped), and through the Spark decode path."""
    from warchaeology_spark.operators.multimodal import _decode_png, decode_media

    rng = np.random.default_rng(11)
    rgb = rng.integers(0, 256, size=(7, 5, 3), dtype=np.uint8)
    rgba = rng.integers(0, 256, size=(6, 4, 4), dtype=np.uint8)
    # every filter type exercised, incl. Paeth and Average
    png_rgb = _encode_png(rgb, [0, 1, 2, 3, 4])
    png_rgba = _encode_png(rgba, [4, 3, 2, 1, 0])
    np.testing.assert_array_equal(_decode_png(png_rgb), rgb)
    np.testing.assert_array_equal(_decode_png(png_rgba), rgba[..., :3])
    df = spark.createDataFrame(
        [
            ("d1", "a.png", 0, "image", bytearray(png_rgb)),
            ("d2", "b.png", 0, "image", bytearray(png_rgba)),
        ],
        MEDIA_META_SCHEMA,
    )
    rows = {r["media_ref"]: r for r in decode_media(df, strict=True).collect()}
    assert rows["a.png"]["codec"] == "png"
    assert rows["b.png"]["codec"] == "png"
    f = rows["a.png"]["features"]
    assert len(f) == 16
    np.testing.assert_allclose(f[0], 5 / 4096.0, rtol=1e-5)   # width
    np.testing.assert_allclose(f[1], 7 / 4096.0, rtol=1e-5)   # height
    flat = rgb.reshape(-1, 3).astype(np.float64)
    np.testing.assert_allclose(f[2:5], flat.mean(axis=0) / 255.0, rtol=1e-5)


def test_media_codecs_never_crash_on_fuzzed_bytes():
    """Codec robustness: arbitrary bytes (incl. truncated headers with the
    right magics) must decode to None or a well-formed result, never raise —
    at 100 TB a crashing task is lost work for the whole partition."""
    from hypothesis import given, settings
    from hypothesis import strategies as st_

    from warchaeology_spark.operators.multimodal import (
        _decode_bmp, _decode_png, _decode_ppm, _decode_wav,
    )

    @settings(max_examples=300, deadline=None)
    @given(
        st_.one_of(
            st_.binary(max_size=256),
            st_.binary(max_size=200).map(lambda b: b"BM" + b),
            st_.binary(max_size=200).map(lambda b: b"P6" + b),
            st_.binary(max_size=200).map(lambda b: b"RIFF" + b[:4] + b"WAVE" + b),
            st_.binary(max_size=200).map(lambda b: b"\x89PNG\r\n\x1a\n" + b),
        )
    )
    def check(data):
        r1 = _decode_bmp(data)
        assert r1 is None or r1.ndim == 3
        r2 = _decode_ppm(data)
        assert r2 is None or r2.ndim == 3
        r3 = _decode_wav(data)
        assert r3 is None or len(r3) == 16
        r4 = _decode_png(data)
        assert r4 is None or r4.ndim == 3

    check()


def test_sampling_is_deterministic_under_repartition(spark):
    """Hash-based membership must be invariant to physical layout — the
    property df.sample() lacks (its seed binds to the partitioning)."""
    from warchaeology_spark.operators.sampling import (
        sample_deterministic, split_assign, stratified_sample,
    )

    docs = spark.range(2000).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 3 == 0, "en").otherwise("no").alias("lang"),
    )
    w = {"train": 0.8, "val": 0.1, "test": 0.1}

    def fingerprint(df):
        return sorted(map(tuple, df.collect()))

    a = fingerprint(split_assign(docs, w))
    b = fingerprint(split_assign(docs.repartition(17), w))
    assert a == b
    # weights are approximately honored
    from collections import Counter
    counts = Counter(s for *_, s in a)
    assert 0.7 < counts["train"] / 2000 < 0.9
    assert 0.05 < counts["val"] / 2000 < 0.15

    s1 = fingerprint(sample_deterministic(docs, 0.25, seed=9))
    s2 = fingerprint(sample_deterministic(docs.repartition(5), 0.25, seed=9))
    assert s1 == s2 and 0.17 < len(s1) / 2000 < 0.33

    st = stratified_sample(docs, "lang", {"en": 0.1, "no": 1.0}, seed=3)
    rows = st.collect()
    n_en = sum(1 for r in rows if r["lang"] == "en")
    n_no = sum(1 for r in rows if r["lang"] == "no")
    assert n_no == 2000 - (2000 + 2) // 3  # every non-en row kept
    assert n_en < 0.25 * ((2000 + 2) // 3)  # ~10% of en kept


def test_sampling_plan_is_scan_side(spark):
    """Membership predicates must stay in the scan — no exchange, no UDF."""
    from warchaeology_spark.operators.sampling import sample_deterministic

    docs = spark.range(1000).select(F.col("id").alias("doc_id"))
    plan = sample_deterministic(docs, 0.5)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "pythonUDF" not in plan and "BatchEvalPython" not in plan


def test_minhash_persisted_index_matches_inline_cross_pairs(spark, tmp_path):
    """Incremental-dedup contract: probing the persisted corpus band index
    with a new batch yields exactly the corpus-x-new candidate pairs a full
    LSH over the union would (same hash family)."""
    from warchaeology_spark.operators.textdedup import (
        build_minhash_index, minhash_lookup_from_index, minhash_lsh_pairs,
    )

    base = "the quick brown fox jumps over the lazy dog near the old river bank"
    rows = [(f"c{i}", base + f" variant {i % 3}") for i in range(30)]
    corpus = spark.createDataFrame(rows, ["doc_id", "text"])
    new = spark.createDataFrame(
        [("n1", base + " variant 0"), ("n2", "completely different words here"),
         ("n3", base + " variant 2")],
        ["doc_id", "text"],
    )
    path = str(tmp_path / "mh_index")
    build_minhash_index(corpus, path)
    served = {
        (r["new_id"], r["corpus_id"])
        for r in minhash_lookup_from_index(spark, path, new).collect()
    }
    full = minhash_lsh_pairs(corpus.unionByName(new), portable=False)
    inline = set()
    for r in full.collect():
        a, b = r["id_a"], r["id_b"]
        if a.startswith("n") != b.startswith("n"):
            (n, c) = (a, b) if a.startswith("n") else (b, a)
            inline.add((n, c))
    assert served == inline
    assert any(nid == "n1" for nid, _ in served)  # near-dup is found
    assert not any(nid == "n2" for nid, _ in served)  # distinct text is not


def test_embedding_neardup_paths_bit_identical(spark):
    """The per-block GEMM kernel behind embedding_neardup_pairs and the
    original HOF-cosine join produce IDENTICAL rows (same cos_sim doubles
    after round)."""
    from warchaeology_spark import queries as Q

    sf = SF
    gemm = {tuple(r) for r in Q.embedding_neardup_pairs(spark, sf).collect()}
    assert len(gemm) > 0
    # HOF reference (the pre-r8 implementation, kept in similarity.cosine)
    from warchaeology_spark.operators.similarity import cosine
    from warchaeology_spark.queries import T

    emb = T(spark, sf, "embeddings")
    a, b = emb.alias("a"), emb.alias("b")
    ref = {
        tuple(r)
        for r in (
            a.join(
                b,
                (F.col("a.label") == F.col("b.label"))
                & (F.col("a.vec_id") < F.col("b.vec_id")),
            )
            .withColumn(
                "cos_sim",
                F.round(cosine(F.col("a.embedding"), F.col("b.embedding")), 4),
            )
            .filter(F.col("cos_sim") >= 0.2)
            .select(
                F.col("a.vec_id").alias("id_a"),
                F.col("b.vec_id").alias("id_b"),
                "cos_sim",
            )
            .collect()
        )
    }
    assert gemm == ref


def test_block_neardup_candidates_margin_keeps_boundary(spark):
    """The GEMM stage's margin prefilter must never drop a pair whose
    ROUNDED cosine reaches the threshold: a pair at cos_raw just under
    the threshold (0.19995 rounds HALF_UP to 0.2) must survive."""
    import math

    from warchaeology_spark.operators.similarity import block_neardup_candidates

    # two unit-ish vectors with cosine exactly ~0.1999+ (inside margin)
    c = 0.19996
    v0 = [1.0, 0.0]
    v1 = [c, math.sqrt(1 - c * c)]
    df = spark.createDataFrame(
        [(0, 0, v0), (1, 0, v1)],
        "vec_id long, label int, embedding array<float>",
    )
    out = block_neardup_candidates(df, 0.2).collect()
    assert len(out) == 1  # kept by the margin, even though raw < 0.2


def test_block_neardup_cos_raw_equals_jvm_cosine_bits(spark):
    """cos_raw is the JVM fold's cosine double bit for bit, also on
    vectors where a plain BLAS ``V @ V.T`` rounds a dot differently."""
    from warchaeology_spark.operators.similarity import (
        block_neardup_candidates,
        cosine,
    )

    rng = np.random.default_rng(20261019)
    # d=256: NumPy's OpenBLAS sums dots this long in another order than
    # the left fold (at d=64 its sums often agree with the fold)
    n, d = 24, 256
    V = rng.standard_normal((n, d)).astype(np.float32).astype(np.float64)
    fold = np.zeros((n, n))
    for k in range(d):
        fold += np.multiply.outer(V[:, k], V[:, k])
    nrm = np.sqrt(np.diag(fold))
    upper = np.triu_indices(n, 1)
    gemm_cos = ((V @ V.T) / np.multiply.outer(nrm, nrm))[upper]
    fold_cos = (fold / np.multiply.outer(nrm, nrm))[upper]
    assert (gemm_cos != fold_cos).any()  # the recompute has something to fix

    df = spark.createDataFrame(
        [(i, 0, [float(x) for x in V[i]]) for i in range(n)],
        "vec_id long, label int, embedding array<float>",
    )
    # threshold -1: every pair passes the filter, so every cos_raw is checked
    got = {
        (r["id_a"], r["id_b"]): r["cos_raw"]
        for r in block_neardup_candidates(df, -1.0).collect()
    }
    a, b = df.alias("a"), df.alias("b")
    ref = {
        (r["id_a"], r["id_b"]): r["c"]
        for r in a.join(b, F.col("a.vec_id") < F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("id_a"),
            F.col("b.vec_id").alias("id_b"),
            cosine(F.col("a.embedding"), F.col("b.embedding")).alias("c"),
        )
        .collect()
    }
    assert len(ref) == n * (n - 1) // 2
    assert got == ref


def test_shingle_rows_matches_word_shingles_multiset(docs, spark):
    """r8 pin: the codegen shingle_rows (slice+arrays_zip+explode) emits
    exactly the multiset explode(word_shingles(words_of(text), 2)) did."""
    from warchaeology_spark.operators.textdedup import (
        shingle_rows,
        word_shingles,
        words_of,
    )

    new = shingle_rows(docs, "doc_id", "text").groupBy("doc_id", "shingle").count()
    old = (
        docs.select(
            F.col("doc_id"),
            F.explode(word_shingles(words_of(F.col("text")), 2)).alias("shingle"),
        )
        .groupBy("doc_id", "shingle")
        .count()
    )
    assert new.exceptAll(old).count() == 0
    assert old.exceptAll(new).count() == 0
    assert new.count() > 0


def test_ngram_dense_kernel_matches_prefix_path(docs, spark):
    """r8 pin: the dense-vocab BLAS kernel and the AllPairs/PPJoin prefix
    path produce identical (id_a, id_b, jaccard) rows."""
    from warchaeology_spark.operators.textdedup import (
        ngram_doc_index,
        ngram_jaccard_dense,
        ngram_jaccard_neardups,
    )

    grouped, nv = ngram_doc_index(docs)
    dense = ngram_jaccard_dense(grouped, nv, threshold=0.6)
    prefix = ngram_jaccard_neardups(docs, threshold=0.6)
    d = {tuple(r) for r in dense.collect()}
    p = {tuple(r) for r in prefix.collect()}
    assert d == p
    assert len(d) > 0


def test_band_star_edges_same_components_as_pairs(docs, spark):
    """r8 pin: CC over band-group star edges == CC over the full LSH pair
    list (star graph is a spanning subgraph with the same closure)."""
    from warchaeology_spark.operators.textdedup import (
        band_star_edges,
        dedup_clusters,
        minhash_lsh_pairs,
        minhash_signatures,
    )

    sigs = minhash_signatures(docs)
    a = {tuple(r) for r in dedup_clusters(band_star_edges(sigs)).collect()}
    b = {tuple(r) for r in dedup_clusters(minhash_lsh_pairs(docs, sigs=sigs)).collect()}
    assert a == b
    assert len(a) > 0

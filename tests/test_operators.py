"""Operator tests over the driver-provided documents/embeddings tables."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from icedb_spark.operators import (
    cosine_topk,
    cosine_topk_lsh,
    doc_fingerprint,
    embedding_dup_pairs,
    exact_duplicates,
    language_id,
    minhash_lsh_pairs,
    minhash_signature,
    ngram_jaccard_pairs,
    simhash,
    simhash_pairs,
    text_quality,
    token_stats,
)
from icedb_spark.operators.multimodal import (
    extract_features,
    sample_frames,
    synthetic_media,
)


@pytest.fixture(scope="module")
def docs(spark, request):
    return spark.read.parquet("/root/testdata/sf0.001/documents.parquet").cache()


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").cache()


def test_token_stats(docs):
    out = token_stats(docs).collect()
    assert len(out) == docs.count()
    r = {x["doc_id"]: x for x in out}
    # doc 0 is known text: whitespace tokens == n_chars-based sanity
    assert all(x["n_tokens"] >= 1 for x in out)
    assert all(x["n_unique_tokens"] <= x["n_tokens"] for x in out)
    assert all(x["n_chars"] > 0 for x in out)


def test_text_quality_bounds(docs):
    out = text_quality(docs).collect()
    for r in out:
        assert 0.0 <= r["quality_score"] <= 1.0
        assert 0.0 <= r["stopword_ratio"] <= 1.0
        assert 0.0 <= r["unique_ratio"] <= 1.0


def test_language_id_deterministic(docs):
    a = {r["doc_id"]: r["lang_pred"] for r in language_id(docs).collect()}
    b = {r["doc_id"]: r["lang_pred"] for r in language_id(docs).collect()}
    assert a == b
    assert set(a.values()) <= {"en", "es", "fr", "de", "zh", "und"}


def test_fingerprint_matches_exact_dups(docs):
    fp = doc_fingerprint(docs)
    # identical text ⇒ identical fingerprints
    joined = (
        docs.alias("a")
        .join(docs.alias("b"), F.col("a.text") == F.col("b.text"))
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(F.col("a.doc_id").alias("x"), F.col("b.doc_id").alias("y"))
    )
    fpd = {r["doc_id"]: (r["fingerprint_md5"], r["fingerprint_rolling"]) for r in fp.collect()}
    for r in joined.collect():
        assert fpd[r["x"]] == fpd[r["y"]]


def test_exact_duplicates(spark):
    rows = [
        {"doc_id": 1, "text": "hello world"},
        {"doc_id": 2, "text": "hello world"},
        {"doc_id": 3, "text": "unique"},
    ]
    out = exact_duplicates(spark.createDataFrame(rows)).collect()
    assert len(out) == 1
    assert out[0]["group_size"] == 2
    assert out[0]["keeper_id"] == 1
    assert out[0]["member_ids"] == [1, 2]


def test_minhash_finds_near_duplicates(spark):
    base = "the quick brown fox jumps over the lazy dog again and again today"
    rows = [
        {"doc_id": 1, "text": base},
        {"doc_id": 2, "text": base + " extra"},        # near-dup
        {"doc_id": 3, "text": "completely different words about spark engines"},
    ]
    df = spark.createDataFrame(rows)
    pairs = minhash_lsh_pairs(df, threshold=0.5).collect()
    found = {(r["id_a"], r["id_b"]) for r in pairs}
    assert (1, 2) in found
    assert all(p == (1, 2) for p in found)


def test_minhash_signature_shape(docs):
    sig = minhash_signature(docs, num_perm=16)
    assert len(sig.columns) == 17
    assert sig.count() == docs.count()


def test_ngram_jaccard_symmetric_subset_of_truth(spark):
    rows = [
        {"doc_id": 1, "text": "a b c d e f g h"},
        {"doc_id": 2, "text": "a b c d e f g h i"},
        {"doc_id": 3, "text": "z y x w v u t s"},
    ]
    out = ngram_jaccard_pairs(spark.createDataFrame(rows), threshold=0.3).collect()
    pairs = {(r["id_a"], r["id_b"]): r["jaccard"] for r in out}
    assert (1, 2) in pairs
    assert (1, 3) not in pairs
    # jaccard of 3-gram shingle sets: doc1 has 6, doc2 has 7, ∩=6, ∪=7
    assert abs(pairs[(1, 2)] - round(6 / 7, 6)) < 1e-9


def test_containment_catches_excerpts_jaccard_misses(spark):
    """The asymmetric measure's reason to exist: a short excerpt inside
    a long document scores containment ~1 while its Jaccard is tiny;
    the output is DIRECTED (excerpt -> original only, at a high cut)."""
    import pytest as _pt

    from icedb_spark.operators import containment_pairs

    long = " ".join(f"w{i}" for i in range(40))
    rows = [
        {"doc_id": 1, "text": long},
        {"doc_id": 2, "text": " ".join(f"w{i}" for i in range(10))},  # prefix
        {"doc_id": 3, "text": " ".join(f"z{i}" for i in range(40))},
    ]
    df = spark.createDataFrame(rows)
    out = {
        (r["id_a"], r["id_b"]): r["containment"]
        for r in containment_pairs(df, threshold=0.9).collect()
    }
    assert out[(2, 1)] == 1.0       # excerpt fully contained
    assert (1, 2) not in out        # NOT symmetric: 40-doc in 10-doc fails
    assert (2, 3) not in out and (3, 2) not in out
    # the same pair under Jaccard is far below any useful cut
    j = ngram_jaccard_pairs(df, threshold=0.05).collect()
    jp = {(r["id_a"], r["id_b"]): r["jaccard"] for r in j}
    assert jp[(1, 2)] < 0.25
    # equal documents contain each other — both directions emitted
    dup = spark.createDataFrame(
        [{"doc_id": 1, "text": long}, {"doc_id": 2, "text": long}]
    )
    both = {
        (r["id_a"], r["id_b"])
        for r in containment_pairs(dup, threshold=0.9).collect()
    }
    assert both == {(1, 2), (2, 1)}
    with _pt.raises(ValueError):
        containment_pairs(df, threshold=0.0)


def test_containment_prefix_filter_is_lossless(spark):
    """The prefix-filtered operator must equal the naive all-shared-
    shingle blocker exactly (the lemma's promise), on a corpus dense
    enough that prefixes actually prune."""
    import random

    from icedb_spark.operators import containment_pairs
    from icedb_spark.operators.dedup import shingles as _sh

    rnd = random.Random(5)
    vocab = [f"v{i}" for i in range(12)]
    rows = [
        {"doc_id": i, "text": " ".join(rnd.choice(vocab) for _ in range(18))}
        for i in range(40)
    ]
    df = spark.createDataFrame(rows)
    got = {
        (r["id_a"], r["id_b"], r["containment"])
        for r in containment_pairs(df, threshold=0.7).collect()
    }
    sets = {
        r["doc_id"]: set(r["sh"])
        for r in df.select(
            "doc_id", _sh(F.col("text"), 3).alias("sh")
        ).collect()
    }
    want = set()
    for a, sa in sets.items():
        for b, sb in sets.items():
            if a != b and sa:
                c = round(len(sa & sb) / len(sa), 6)
                if c >= 0.7:
                    want.add((a, b, c))
    assert got == want


def test_simhash_near_dup(spark):
    base = " ".join(f"tok{i}" for i in range(50))
    rows = [
        {"doc_id": 1, "text": base},
        {"doc_id": 2, "text": base + " onemore"},
        {"doc_id": 3, "text": " ".join(f"other{i}" for i in range(50))},
    ]
    df = spark.createDataFrame(rows)
    sk = {r["id"]: r["simhash"] for r in simhash(df).collect()}
    near = bin(sk[1] ^ sk[2]).count("1")
    far = bin(sk[1] ^ sk[3]).count("1")
    # one extra token can flip a handful of near-zero bits; unrelated docs
    # should land near the expected hamming of 16 for 32-bit sketches
    assert near <= 8 < far
    pairs = {
        (r["id_a"], r["id_b"])
        for r in simhash_pairs(df, max_hamming=8, allow_partial_recall=True).collect()
    }
    assert (1, 2) in pairs and (1, 3) not in pairs


def test_embedding_dup_pairs(spark):
    rows = [
        {"vec_id": 1, "embedding": [1.0, 0.0, 0.0]},
        {"vec_id": 2, "embedding": [0.999, 0.01, 0.0]},
        {"vec_id": 3, "embedding": [0.0, 1.0, 0.0]},
    ]
    df = spark.createDataFrame(rows)
    out = {(r["id_a"], r["id_b"]) for r in embedding_dup_pairs(df, threshold=0.99).collect()}
    assert out == {(1, 2)}


def test_cosine_topk_exact(emb):
    queries = emb.where(F.col("vec_id") < 3)
    out = cosine_topk(emb, queries, k=5)
    rows = out.collect()
    assert len(rows) == 3 * 5
    by_q = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append(r)
    for q, rs in by_q.items():
        ranks = sorted(r["rank"] for r in rs)
        assert ranks == [1, 2, 3, 4, 5]
        scores = [r["cosine"] for r in sorted(rs, key=lambda r: r["rank"])]
        assert scores == sorted(scores, reverse=True)
        assert all(r["neighbor_id"] != q for r in rs)


def test_cosine_topk_lsh_bucketing(spark, emb):
    """Deterministic LSH correctness: a scaled copy of a vector has the exact
    same direction, so it MUST share every hyperplane bucket and be found as
    the top neighbor (cosine 1.0)."""
    clones = emb.where(F.col("vec_id") < 10).select(
        (F.col("vec_id") + 100_000).alias("vec_id"),
        F.transform("embedding", lambda x: x * 2.0).alias("embedding"),
    )
    corpus = emb.select("vec_id", "embedding").unionByName(clones)
    queries = emb.where(F.col("vec_id") < 10).select("vec_id", "embedding")
    out = cosine_topk_lsh(corpus, queries, dim=64, k=1, n_planes=6)
    top = {r["query_id"]: (r["neighbor_id"], r["cosine"]) for r in out.collect()}
    for q in range(10):
        assert top[q][0] == q + 100_000
        assert abs(top[q][1] - 1.0) < 1e-6


def test_cosine_topk_multiprobe_recall_superset(spark, emb):
    """Multi-probe must (a) return the same schema as single-probe, (b) never
    miss a neighbor single-probe found (its probe set contains the base
    bucket), and (c) find strictly more of the exact top-k here, where
    single-probe recall is known-poor."""
    from icedb_spark.operators import cosine_topk_multiprobe

    queries = emb.where(F.col("vec_id") % 10 == 0)
    exact, single, multi = {}, {}, {}
    for tgt, fn in (
        (exact, lambda: cosine_topk(emb, queries, k=5)),
        (single, lambda: cosine_topk_lsh(emb, queries, dim=64, k=5, n_planes=6)),
        (
            multi,
            lambda: cosine_topk_multiprobe(
                emb, queries, dim=64, k=5, n_planes=6, n_probe=4
            ),
        ),
    ):
        for r in fn().collect():
            tgt.setdefault(r["query_id"], set()).add(r["neighbor_id"])

    def recall(approx):
        hits = sum(len(exact[q] & approx.get(q, set())) for q in exact)
        return hits / sum(len(exact[q]) for q in exact)

    r_single, r_multi = recall(single), recall(multi)
    assert r_multi > r_single
    # The candidate pool only grows (base bucket is always probed), and any
    # pooled exact-top-k member outranks every non-member, so single-probe's
    # TRUE hits are a subset of multi-probe's true hits.
    for q in exact:
        assert (single.get(q, set()) & exact[q]) <= (multi.get(q, set()) & exact[q])


def test_cosine_topk_multiprobe_validates_n_probe(spark, emb):
    from icedb_spark.operators import cosine_topk_multiprobe

    with pytest.raises(ValueError):
        cosine_topk_multiprobe(emb, emb.limit(1), dim=64, n_planes=6, n_probe=7)


def test_multimodal_features(spark):
    media = synthetic_media(spark, 32)
    feats = extract_features(media, dim=8)
    rows = feats.collect()
    assert len(rows) == 32
    for r in rows:
        assert len(r["feature"]) == 8
        assert r["n_bytes"] > 0
    # deterministic across runs
    again = {r["media_id"]: r["content_md5"] for r in extract_features(media, dim=8).collect()}
    assert again == {r["media_id"]: r["content_md5"] for r in rows}


def test_multimodal_frame_sampling(spark):
    media = synthetic_media(spark, 9)
    frames = sample_frames(media, every_ms=1000)
    rows = frames.collect()
    # 3 videos × 5 frames (5000ms / 1000ms)
    assert len(rows) == 3 * 5
    assert {r["frame_ts_ms"] for r in rows} == {0, 1000, 2000, 3000, 4000}

def test_ngram_prefix_filter_exact_on_skewed_corpus(spark):
    """The prefix filter must be LOSSLESS on a corpus with a universal hot
    shingle, and the hot shingle must never be a blocking key (it sorts to
    the end of every document's rarest-first order)."""
    import itertools

    # every doc shares the hot prefix "the quick brown" → naive blocker
    # would produce all C(n,2) candidates; only consecutive docs are dups
    rows = []
    for i in range(12):
        toks = ["the", "quick", "brown"] + [f"w{i}_{j}" for j in range(8)]
        if i % 2 == 1:  # odd doc ≈ previous doc
            toks = ["the", "quick", "brown"] + [f"w{i-1}_{j}" for j in range(7)] + [f"only{i}"]
        rows.append({"doc_id": i, "text": " ".join(toks)})
    df = spark.createDataFrame(rows)

    got = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(df, threshold=0.5).collect()
    }

    # brute-force truth over every pair
    from icedb_spark.operators import shingles as sh_fn

    sh = {
        r["doc_id"]: set(r["sh"])
        for r in df.select(
            "doc_id", sh_fn(F.col("text"), 3).alias("sh")
        ).collect()
    }
    truth = {}
    for a, b in itertools.combinations(sorted(sh), 2):
        j = len(sh[a] & sh[b]) / len(sh[a] | sh[b])
        if round(j, 6) >= 0.5:
            truth[(a, b)] = round(j, 6)
    assert got == truth
    assert len(truth) == 6  # the six planted consecutive pairs


def test_simhash_band16_full_recall(spark):
    """bits=60/band_bits=15 blocking must find every pair the brute-force
    popcount finds (pigeonhole: 4 bands > max_hamming 3)."""
    import itertools

    base = [f"tok{i}" for i in range(60)]
    rows = []
    for i in range(10):
        toks = list(base)
        if i % 3 == 0:
            toks[0] = f"swap{i}"  # near-dup cluster varies one token
        else:
            toks = [f"doc{i}_{j}" for j in range(60)]
        rows.append({"doc_id": i, "text": " ".join(toks)})
    df = spark.createDataFrame(rows)

    sk = {r["id"]: r["simhash"] for r in simhash(df, bits=60).collect()}
    truth = {
        (a, b)
        for a, b in itertools.combinations(sorted(sk), 2)
        if bin(sk[a] ^ sk[b]).count("1") <= 3
    }
    got = {
        (r["id_a"], r["id_b"])
        for r in simhash_pairs(df, bits=60, band_bits=15, max_hamming=3).collect()
    }
    assert got == truth
    assert truth  # the cluster must actually exist


def test_simhash_pairs_rejects_too_few_bands():
    with pytest.raises(ValueError, match="bands"):
        simhash_pairs(None, bits=32, band_bits=16, max_hamming=3)


def test_auto_n_planes_scales():
    from icedb_spark.operators import auto_n_planes

    assert auto_n_planes(100) == 4          # floor
    assert auto_n_planes(64_000) == 10      # 64k/64 = 1024 buckets
    assert auto_n_planes(10**9) == 24       # ceiling
    assert auto_n_planes(10**12) == 24      # clamped


def test_embedding_lsh_bucket_cap_and_stats(spark):
    from icedb_spark.operators import embedding_dup_pairs_lsh, lsh_bucket_stats

    # 8 identical vectors → one bucket of 8
    rows = [{"vec_id": i, "embedding": [1.0, 0.0, 0.0, 0.0]} for i in range(8)]
    df = spark.createDataFrame(rows)
    stats = lsh_bucket_stats(df, dim=4, n_planes=4).collect()
    assert len(stats) == 1 and stats[0]["n_vectors"] == 8
    full = embedding_dup_pairs_lsh(df, dim=4, threshold=0.9, n_planes=4)
    assert full.count() == 8 * 7 // 2
    capped = embedding_dup_pairs_lsh(
        df, dim=4, threshold=0.9, n_planes=4, max_bucket=4
    )
    assert capped.count() == 0  # the oversized bucket is excluded entirely

def test_parse_image_header_pure_python():
    from icedb_spark.operators import parse_image_header
    import struct, zlib

    # real PNG construction (valid CRC and all)
    ihdr = struct.pack(">II", 800, 600) + b"\x08\x02\x00\x00\x00"
    png = (
        b"\x89PNG\r\n\x1a\n"
        + struct.pack(">I", 13) + b"IHDR" + ihdr
        + struct.pack(">I", zlib.crc32(b"IHDR" + ihdr))
    )
    assert parse_image_header(png) == ("png", 800, 600)

    # JPEG with an APP0 segment BEFORE the SOF (the scanner must skip it)
    jfif = b"\xff\xd8" + b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00" + b"\x00" * 9
    sof = b"\xff\xc2" + struct.pack(">H", 11) + b"\x08" + struct.pack(">HH", 480, 640) + b"\x01\x01\x11\x00"
    assert parse_image_header(jfif + sof) == ("jpeg", 640, 480)

    assert parse_image_header(b"GIF89a" + struct.pack("<HH", 320, 200)) == ("gif", 320, 200)
    assert parse_image_header(b"\xff\xd8\xff\xd9") == ("jpeg", None, None)
    assert parse_image_header(b"not an image") == (None, None, None)
    assert parse_image_header(None) == (None, None, None)

    # BMP BITMAPINFOHEADER (negative height = top-down, same extent)
    bmp = b"BM" + b"\x00" * 12 + struct.pack("<Iii", 40, 1024, 768)
    assert parse_image_header(bmp) == ("bmp", 1024, 768)
    bmp_td = b"BM" + b"\x00" * 12 + struct.pack("<Iii", 40, 1024, -768)
    assert parse_image_header(bmp_td) == ("bmp", 1024, 768)
    # BMP OS/2 BITMAPCOREHEADER (u16 dims)
    core = b"BM" + b"\x00" * 12 + struct.pack("<IHH", 12, 64, 48)
    assert parse_image_header(core) == ("bmp", 64, 48)
    assert parse_image_header(b"BM" + b"\x00" * 12 + struct.pack("<I", 40)) == ("bmp", None, None)

    # WebP lossy VP8: sync code then 14-bit u16le dims
    vp8 = (b"RIFF" + b"\x00" * 4 + b"WEBP" + b"VP8 " + b"\x00" * 4
           + b"\x00" * 3 + b"\x9d\x01\x2a"
           + struct.pack("<HH", 550, 368))
    assert parse_image_header(vp8) == ("webp", 550, 368)
    # WebP lossless VP8L: 0x2F then (w-1) | (h-1)<<14 packed u32le
    u = (800 - 1) | ((600 - 1) << 14)
    vp8l = (b"RIFF" + b"\x00" * 4 + b"WEBP" + b"VP8L" + b"\x00" * 4
            + b"\x2f" + struct.pack("<I", u))
    assert parse_image_header(vp8l) == ("webp", 800, 600)
    # WebP extended VP8X: 24-bit (canvas-1) LE pair at offset 24
    vp8x = (b"RIFF" + b"\x00" * 4 + b"WEBP" + b"VP8X" + b"\x00" * 4
            + b"\x00" * 4
            + (1920 - 1).to_bytes(3, "little") + (1080 - 1).to_bytes(3, "little"))
    assert parse_image_header(vp8x) == ("webp", 1920, 1080)
    # recognized RIFF/WEBP with an unknown chunk -> format only
    assert parse_image_header(b"RIFF" + b"\x00" * 4 + b"WEBPXXXX") == ("webp", None, None)


def test_decode_image_headers_dataframe(spark):
    from icedb_spark.operators import decode_image_headers
    import struct

    def png(w, h):
        return (
            b"\x89PNG\r\n\x1a\n" + struct.pack(">I", 13) + b"IHDR"
            + struct.pack(">II", w, h) + b"\x08\x02\x00\x00\x00" + b"\x00" * 4
        )

    rows = [
        {"media_id": 1, "content": bytearray(png(10, 20))},
        {"media_id": 2, "content": bytearray(b"garbage")},
    ]
    import pyspark.sql.types as T
    schema = T.StructType([
        T.StructField("media_id", T.LongType()),
        T.StructField("content", T.BinaryType()),
    ])
    out = {r["media_id"]: (r["format"], r["width"], r["height"])
           for r in decode_image_headers(spark.createDataFrame(rows, schema)).collect()}
    assert out[1] == ("png", 10, 20)
    assert out[2] == (None, None, None)

def test_exact_duplicates_nulls_do_not_collide(spark):
    """('x', NULL) vs (NULL, 'x') must NOT be a duplicate group (concat_ws
    silently skips nulls without the sentinel)."""
    rows = [
        {"doc_id": 1, "a": "x", "b": None},
        {"doc_id": 2, "a": None, "b": "x"},
        {"doc_id": 3, "a": "x", "b": None},
    ]
    out = exact_duplicates(
        spark.createDataFrame(rows), id_col="doc_id", cols=["a", "b"]
    ).collect()
    assert len(out) == 1
    assert out[0]["member_ids"] == [1, 3]


def test_zorder_four_columns_stays_unsigned(spark):
    """bits*cols > 63 must not shift into the sign bit (it scrambled the
    sort); precision auto-reduces instead."""
    from icedb_spark.operators.zorder import column_bounds, zorder_value

    rows = [
        {"a": float(i % 3), "b": float(i % 5), "c": float(i % 7), "d": float(i)}
        for i in range(40)
    ]
    # the all-maxima corner: its interleaved code must be the global max
    rows.append({"a": 2.0, "b": 4.0, "c": 6.0, "d": 39.0})
    df = spark.createDataFrame(rows)
    cols = ["a", "b", "c", "d"]
    z = zorder_value([F.col(c) for c in cols], column_bounds(df, cols))
    vals = [r[0] for r in df.select(z).collect()]
    assert all(v >= 0 for v in vals)  # sign bit untouched
    corner = (
        df.where((F.col("a") == 2.0) & (F.col("b") == 4.0)
                 & (F.col("c") == 6.0) & (F.col("d") == 39.0))
        .select(z).collect()[0][0]
    )
    assert corner == max(vals)


def test_sample_frames_skips_null_and_zero_duration(spark):
    from icedb_spark.operators.multimodal import MEDIA_SCHEMA, sample_frames

    rows = [
        {"media_id": 1, "kind": "video", "mime": "v", "content": b"x",
         "width": None, "height": None, "duration_ms": 2000},
        {"media_id": 2, "kind": "video", "mime": "v", "content": b"x",
         "width": None, "height": None, "duration_ms": None},
        {"media_id": 3, "kind": "video", "mime": "v", "content": b"x",
         "width": None, "height": None, "duration_ms": 0},
    ]
    out = sample_frames(spark.createDataFrame(rows, schema=MEDIA_SCHEMA), every_ms=1000)
    got = {(r["media_id"], r["frame_idx"]) for r in out.collect()}
    assert got == {(1, 0), (1, 1)}


def test_stream_tag_regex_survives_dashed_hostnames():
    """The committed-tag parse must capture ONLY the tag, not bleed into a
    hostname like 'my-server' (sids are alnum so '-' delimits)."""
    import re

    pat = re.compile(r"-(s[0-9a-zA-Z]+b\d+)\.jsonl$")
    m = pat.search("_log/1712_my-server-12345-sab12cdb7.jsonl")
    assert m and m.group(1) == "sab12cdb7"
    assert pat.search("_log/1712_my-server-12345.jsonl") is None


# -------------------------------------------------- repetition / PII / decontam


def test_repetition_stats_hand_values(spark):
    from icedb_spark.operators import repetition_stats

    rows = [
        {"doc_id": 1, "text": "a a a b"},
        {"doc_id": 2, "text": "x y"},
        {"doc_id": 3, "text": "solo"},
    ]
    out = {r["doc_id"]: r for r in repetition_stats(spark.createDataFrame(rows)).collect()}
    r1 = out[1]
    assert r1["n_tokens"] == 4
    assert r1["dup_token_frac"] == 0.5
    # 2-grams: [a a, a a, a b] -> dup 1/3, top 2/3
    assert r1["dup_2gram_frac"] == 0.333333
    assert r1["top_2gram_frac"] == 0.666667
    # 3-grams: [a a a, a a b] -> dup 0, top 1/2
    assert r1["dup_3gram_frac"] == 0.0
    assert r1["top_3gram_frac"] == 0.5
    r2 = out[2]
    assert r2["dup_2gram_frac"] == 0.0 and r2["top_2gram_frac"] == 1.0
    # shorter than n -> zero-filled, not null
    assert r2["top_3gram_frac"] == 0.0
    r3 = out[3]
    assert r3["n_tokens"] == 1 and r3["top_2gram_frac"] == 0.0


def test_pii_stats_hand_values(spark):
    from icedb_spark.operators import pii_stats

    rows = [
        {"doc_id": 1,
         "text": "mail bob@x.io or 10.1.2.3; ssn 123-45-6789 "
                 "call 650-555-1234 card 4242-4242-4242-4242"},
        {"doc_id": 2, "text": "nothing to see here 12-34"},
    ]
    out = {r["doc_id"]: r for r in pii_stats(spark.createDataFrame(rows)).collect()}
    r1 = out[1]
    assert (r1["n_email"], r1["n_phone"], r1["n_ssn"], r1["n_ipv4"], r1["n_card"]) == (1, 1, 1, 1, 1)
    assert r1["n_pii"] == 5 and r1["has_pii"] is True
    r2 = out[2]
    assert r2["n_pii"] == 0 and r2["has_pii"] is False


def test_decontaminate_hand_values(spark):
    from icedb_spark.operators import decontaminate

    bench = spark.createDataFrame([{"doc_id": 100, "text": "the quick brown fox jumps"}])
    corpus = spark.createDataFrame(
        [
            {"doc_id": 1, "text": "lazy dog sat here today"},
            {"doc_id": 2, "text": "a quick brown fox ran"},
        ]
    )
    for hashed in (True, False):
        out = {
            r["doc_id"]: r
            for r in decontaminate(corpus, bench, n=3, hash_shingles=hashed).collect()
        }
        assert out[1]["n_shared_shingles"] == 0 and out[1]["contaminated"] is False
        # shares exactly "quick brown fox"
        assert out[2]["n_shared_shingles"] == 1 and out[2]["contaminated"] is True


def test_decontaminate_repeated_shingle_counted_once(spark):
    from icedb_spark.operators import decontaminate

    bench = spark.createDataFrame([{"doc_id": 9, "text": "p q r"}])
    corpus = spark.createDataFrame([{"doc_id": 1, "text": "p q r p q r"}])
    out = decontaminate(corpus, bench, n=3).collect()[0]
    assert out["n_shared_shingles"] == 1


def test_pack_sequences_invariants(docs, spark):
    from icedb_spark.operators import pack_sequences

    out = pack_sequences(docs, token_budget=128, n_shards=4).cache()
    rows = out.collect()
    assert len(rows) == docs.count()  # every doc placed exactly once
    assert all(0 <= r["seq_offset"] < 128 for r in rows)
    assert all(r["seq_idx"] >= 0 and 0 <= r["shard"] < 4 for r in rows)
    # per shard: starts are a cumsum, so max(end) == sum(n_tokens)
    per = {}
    for r in rows:
        start = r["seq_idx"] * 128 + r["seq_offset"]
        s = per.setdefault(r["shard"], {"sum": 0, "max_end": 0})
        s["sum"] += r["n_tokens"]
        s["max_end"] = max(s["max_end"], start + r["n_tokens"])
    for s in per.values():
        assert s["sum"] == s["max_end"]
    # deterministic across runs
    again = {r["doc_id"]: (r["shard"], r["seq_idx"], r["seq_offset"])
             for r in pack_sequences(docs, token_budget=128, n_shards=4).collect()}
    assert again == {r["doc_id"]: (r["shard"], r["seq_idx"], r["seq_offset"])
                     for r in rows}


def test_pack_sequences_single_shard_contiguous(spark):
    from icedb_spark.operators import pack_sequences

    rows = [{"doc_id": i, "text": "w " * 10} for i in range(10)]  # 10 tokens each
    out = pack_sequences(
        spark.createDataFrame(rows), token_budget=25, n_shards=1
    ).collect()
    # 100 tokens / budget 25 -> starts 0,10,20,...,90; seq_idx floor(start/25)
    starts = sorted(r["seq_idx"] * 25 + r["seq_offset"] for r in out)
    assert starts == [i * 10 for i in range(10)]
    assert {r["seq_idx"] for r in out} == {0, 1, 2, 3}


def test_vocab_topk_hand_values(spark):
    from icedb_spark.operators import vocab_topk

    df = spark.createDataFrame(
        [{"doc_id": 1, "text": "a a b"}, {"doc_id": 2, "text": "a a c b"}]
    )
    out = vocab_topk(df, k=2).collect()
    assert [(r["token"], r["freq"]) for r in out] == [("a", 4), ("b", 2)]


def test_repetition_stats_null_text_matches_oracle(spark):
    """NULL text must yield NULL metrics in BOTH engines (size(NULL) must
    not leak -1 / 0.0 on the Spark side, coalesce must not zero-fill on
    the oracle side)."""
    import duckdb

    from icedb_spark import oracles
    from icedb_spark.operators import repetition_stats

    rows = [{"doc_id": 1, "text": None}, {"doc_id": 2, "text": "a a"}]
    got = {
        r["doc_id"]: r.asDict()
        for r in repetition_stats(
            spark.createDataFrame(rows, schema="doc_id long, text string")
        ).collect()
    }
    con = duckdb.connect()
    con.execute(
        "create view documents as select * from (values (1, NULL), (2, 'a a'))"
        " t(doc_id, text)"
    )
    want = {
        r[0]: dict(zip([d[0] for d in con.description], r))
        for r in con.execute(oracles.repetition_sql()).fetchall()
    }
    for doc in (1, 2):
        for k, v in want[doc].items():
            assert got[doc][k] == v, (doc, k, got[doc][k], v)


def test_parse_image_header_jpeg_fill_bytes():
    """Fill 0xFF bytes before a marker are legal JPEG padding — the scan
    must consume them one byte at a time or it skips the real marker."""
    import struct

    from icedb_spark.operators.multimodal import parse_image_header

    # SOI, fill byte, then SOF0 with h=480 w=640
    sof = b"\xff\xc0" + struct.pack(">H", 11) + b"\x08" + struct.pack(">HH", 480, 640) + b"\x03"
    blob = b"\xff\xd8" + b"\xff" + sof  # extra 0xFF fill before the SOF marker
    assert parse_image_header(blob) == ("jpeg", 640, 480)
    # double fill run
    blob2 = b"\xff\xd8" + b"\xff\xff" + sof
    assert parse_image_header(blob2) == ("jpeg", 640, 480)


def test_pack_sequences_property_invariants(spark):
    """Hypothesis over arbitrary corpora: every doc placed exactly once,
    offsets within budget, and per-shard starts form an exact cumsum."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from icedb_spark.operators import pack_sequences

    @settings(max_examples=10, deadline=None)
    @given(
        n_docs=st.integers(min_value=1, max_value=40),
        budget=st.sampled_from([7, 64, 1000]),
        shards=st.sampled_from([1, 3]),
        seed=st.integers(min_value=0, max_value=10_000),
    )
    def check(n_docs, budget, shards, seed):
        rows = [
            {"doc_id": i, "text": "w " * (((i * 7919 + seed) % 30) + 1)}
            for i in range(n_docs)
        ]
        out = pack_sequences(
            spark.createDataFrame(rows), token_budget=budget, n_shards=shards
        ).collect()
        assert len(out) == n_docs
        per: dict[int, dict] = {}
        for r in out:
            assert 0 <= r["seq_offset"] < budget
            start = r["seq_idx"] * budget + r["seq_offset"]
            s = per.setdefault(r["shard"], {"sum": 0, "max_end": 0, "starts": []})
            s["sum"] += r["n_tokens"]
            s["max_end"] = max(s["max_end"], start + r["n_tokens"])
            s["starts"].append((start, r["n_tokens"]))
        for s in per.values():
            assert s["sum"] == s["max_end"]
            # starts, sorted, are the exact running sum of token counts
            acc = 0
            for start, n in sorted(s["starts"]):
                assert start == acc
                acc += n

    check()


def test_decontaminate_empty_benchmark(spark):
    from icedb_spark.operators import decontaminate

    corpus = spark.createDataFrame([{"doc_id": 1, "text": "a b c d"}])
    bench = corpus.where("doc_id < 0")  # empty
    out = decontaminate(corpus, bench, n=2).collect()
    assert len(out) == 1
    assert out[0]["n_shared_shingles"] == 0 and out[0]["contaminated"] is False


def test_decontaminate_oracle_accepts_arbitrary_boolean_filters():
    """The DuckDB oracle must parse filters that don't start with a bare
    column name — e.g. ``not (doc_id % 2 = 0)`` — because the filter is a
    full boolean expression, not a column predicate."""
    import duckdb

    from icedb_spark import oracles

    con = duckdb.connect()
    con.execute(
        "create view documents as select * from "
        "read_parquet('/root/testdata/sf0.001/documents.parquet')"
    )
    sql = oracles.decontaminate_sql(
        bench_filter="not (doc_id % 2 = 0)",
        corpus_filter="(doc_id % 2 = 0) and length(text) > 0",
    )
    rows = con.execute(sql).fetchall()
    assert len(rows) > 0
    # the default filters must keep producing the same gate-checked shape
    default_rows = con.execute(oracles.decontaminate_sql()).fetchall()
    assert len(default_rows) > 0


def test_parse_av_header_wav_and_mp4():
    import struct

    from icedb_spark.operators import parse_av_header

    sr, ch, bits = 44100, 2, 16
    br = sr * ch * bits // 8
    wav = (
        b"RIFF" + struct.pack("<I", 36 + br) + b"WAVE"
        + b"fmt " + struct.pack("<I", 16)
        + struct.pack("<HHIIHH", 1, ch, sr, br, ch * bits // 8, bits)
        + b"data" + struct.pack("<I", br) + b"\x00" * br
    )
    assert parse_av_header(wav) == ("wav", 44100, 2, 16, 1000)

    # odd-sized chunk before fmt: word-alignment must be honored
    odd = (
        b"RIFF" + struct.pack("<I", 100) + b"WAVE"
        + b"LIST" + struct.pack("<I", 3) + b"abc" + b"\x00"  # pad byte
        + b"fmt " + struct.pack("<I", 16)
        + struct.pack("<HHIIHH", 1, 1, 8000, 16000, 2, 16)
    )
    assert parse_av_header(odd)[:4] == ("wav", 8000, 1, 16)

    mvhd1 = (b"\x01" + b"\x00" * 3 + b"\x00" * 16
             + struct.pack(">I", 1000) + struct.pack(">Q", 90_500))
    box = struct.pack(">I", 8 + len(mvhd1)) + b"mvhd" + mvhd1
    moov = struct.pack(">I", 8 + len(box)) + b"moov" + box
    assert parse_av_header(moov) == ("mp4", None, None, None, 90_500)

    assert parse_av_header(b"") == (None,) * 5
    assert parse_av_header(b"RIFFxxxxWAVE") == ("wav", None, None, None, None)
    assert parse_av_header(b"\x00\x00\x00\x08mdat") == (
        "mp4", None, None, None, None
    )
    # zero timescale must not divide by zero
    mvhd0 = (b"\x00" + b"\x00" * 3 + b"\x00" * 8
             + struct.pack(">I", 0) + struct.pack(">I", 42))
    b0 = struct.pack(">I", 8 + len(mvhd0)) + b"mvhd" + mvhd0
    m0 = struct.pack(">I", 8 + len(b0)) + b"moov" + b0
    assert parse_av_header(m0) == ("mp4", None, None, None, None)


# ---------------------------------------------------------------- line dedup


def test_line_dedup_hand_values(spark):
    from icedb_spark.operators import line_dedup

    docs = spark.createDataFrame(
        [
            # doc 0: header + unique body; header is the corpus-wide first
            (0, "COMMON HEADER\nalpha body zero\nCOMMON FOOTER"),
            # doc 1: repeats the header/footer -> both dropped; body kept
            (1, "COMMON HEADER\nbravo body one\nCOMMON FOOTER"),
            # doc 2: in-doc repeat -> second copy dropped too
            (2, "charlie\ncharlie\n  \n"),
            # doc 3: blank-only text -> zero lines
            (3, "   \n\n"),
            # doc 4: NULL text behaves like empty
            (4, None),
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r.asDict()
        for r in line_dedup(docs).collect()
    }
    assert out[0]["n_lines"] == 3 and out[0]["n_kept"] == 3
    assert out[1]["n_lines"] == 3 and out[1]["n_kept"] == 1
    assert out[1]["n_dropped"] == 2
    assert out[2]["n_lines"] == 2 and out[2]["n_kept"] == 1
    assert out[3] == dict(
        doc_id=3, n_lines=0, n_kept=0, n_dropped=0, kept_hash=None
    )
    assert out[4]["n_lines"] == 0 and out[4]["kept_hash"] is None
    # kept_hash is order-sensitive md5 over the kept lines' hashes
    import hashlib

    def h(s):
        return hashlib.md5(s.encode()).hexdigest()

    expect0 = h(
        "\n".join(h(x) for x in ["COMMON HEADER", "alpha body zero", "COMMON FOOTER"])
    )
    assert out[0]["kept_hash"] == expect0
    assert out[1]["kept_hash"] == h(h("bravo body one"))


def test_line_dedup_first_occurrence_is_deterministic(spark):
    from icedb_spark.operators import line_dedup

    # the same duplicate line across many docs survives only in the lowest
    # (doc_id, line_idx) slot regardless of partitioning
    docs = spark.createDataFrame(
        [(i, "dup line\nuniq %d" % i) for i in range(20)],
        "doc_id long, text string",
    ).repartition(7)
    out = line_dedup(docs).orderBy("doc_id").collect()
    assert out[0]["n_kept"] == 2
    assert all(r["n_kept"] == 1 for r in out[1:])


# ---------------------------------------------------------------- IVF-PQ


def _clustered_vectors(spark, n_per=20, dim=8):
    # two tight clusters around orthogonal axes + the id-ordered heads that
    # become the deterministic codebooks
    import random

    rng = random.Random(5)
    rows = []
    for i in range(2 * n_per):
        axis = i % 2
        v = [rng.uniform(-0.05, 0.05) for _ in range(dim)]
        v[axis * (dim // 2)] += 1.0
        rows.append((i, [float(x) for x in v]))
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_ivfpq_shape_and_determinism(spark):
    from icedb_spark.operators import cosine_topk_ivfpq

    df = _clustered_vectors(spark)
    qs = df.where(F.col("vec_id") % 10 == 0)
    out = cosine_topk_ivfpq(
        df, qs, dim=8, n_centroids=4, nprobe=2, m_sub=2, k_sub=4, k=3
    )
    rows = out.collect()
    assert set(out.columns) == {"query_id", "neighbor_id", "cosine", "rank"}
    per_q = {}
    for r in rows:
        per_q.setdefault(r["query_id"], []).append(r["rank"])
        assert r["query_id"] != r["neighbor_id"]
    for q, ranks in per_q.items():
        assert sorted(ranks) == list(range(1, len(ranks) + 1))
    again = cosine_topk_ivfpq(
        df.repartition(5), qs, dim=8, n_centroids=4, nprobe=2, m_sub=2,
        k_sub=4, k=3,
    ).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))


def test_ivf_index_table_equals_recompute(spark, tmp_path):
    """The s09 contract: a persisted (codebook, index-rows) pair
    searched through cosine_topk_against_index_table's pruned read
    equals cosine_topk_ivf recomputed from the corpus; the never-written
    index short-circuits to zero rows; the full-scan fallback agrees;
    and the cell IN-list really skips files."""
    from icedb_spark import IceTable, PartitionField, PartitionSpec
    from icedb_spark.operators import (
        cosine_topk_against_index_table,
        cosine_topk_ivf,
        ivf_codebook_rows,
        ivf_index_rows,
    )

    df = _clustered_vectors(spark)
    qs = df.where(F.col("vec_id") % 10 == 0)
    code = ivf_codebook_rows(df, n_centroids=4)
    t = IceTable(
        spark,
        str(tmp_path / "ividx"),
        partition_spec=PartitionSpec(fields=[PartitionField("cell", "cell")]),
        sort_order=["vec_id"],
        bloom_columns=["cell"],
    )
    assert (
        cosine_topk_against_index_table(
            qs, t, code, nprobe=2, k=3, persist_probe_rows=False
        ).count()
        == 0
    )
    for s in range(2):
        t.insert(df=ivf_index_rows(df.where(F.col("vec_id") % 2 == s), code))
    want = sorted(
        map(tuple, cosine_topk_ivf(df, qs, n_centroids=4, nprobe=2, k=3).collect())
    )
    got = cosine_topk_against_index_table(
        qs, t, code, nprobe=2, k=3, persist_probe_rows=False
    )
    assert sorted(map(tuple, got.collect())) == want
    full = cosine_topk_against_index_table(
        qs, t, code, nprobe=2, k=3, max_pruning_keys=0,
        persist_probe_rows=False,
    )
    assert sorted(map(tuple, full.collect())) == want
    total = len(t.files_for())
    one_cell = t.read().select("cell").first()["cell"]
    assert 0 < len(t.files_for(column_in={"cell": [one_cell]})) < total


def test_ivf_index_table_empty_query_set(spark, tmp_path):
    """Zero queries → zero probed cells → the empty-probe short circuit:
    no index read happens and the result is empty with the right
    schema."""
    from icedb_spark import IceTable, PartitionField, PartitionSpec
    from icedb_spark.operators import (
        cosine_topk_against_index_table,
        ivf_codebook_rows,
        ivf_index_rows,
    )

    df = _clustered_vectors(spark)
    code = ivf_codebook_rows(df, n_centroids=4)
    t = IceTable(
        spark,
        str(tmp_path / "ividx"),
        partition_spec=PartitionSpec(fields=[PartitionField("cell", "cell")]),
        sort_order=["vec_id"],
        bloom_columns=["cell"],
    )
    t.insert(df=ivf_index_rows(df, code))
    out = cosine_topk_against_index_table(
        df.limit(0), t, code, nprobe=2, k=3, persist_probe_rows=False
    )
    assert out.count() == 0
    assert set(out.columns) == {"query_id", "neighbor_id", "cosine", "rank"}


def test_ivf_index_table_matches_recompute_property(spark, tmp_path):
    """Hypothesis over random vector corpora and (C, nprobe, k): the
    persisted-index pruned search equals cosine_topk_ivf recomputed
    from the corpus — the s09 equality claim under parameter and data
    variation, including multi-commit indexes."""
    import random

    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from icedb_spark import IceTable, PartitionField, PartitionSpec
    from icedb_spark.operators import (
        cosine_topk_against_index_table,
        cosine_topk_ivf,
        ivf_codebook_rows,
        ivf_index_rows,
    )

    counter = [0]

    @settings(max_examples=5, deadline=None,
              suppress_health_check=[HealthCheck.function_scoped_fixture,
                                     HealthCheck.too_slow])
    @given(
        seed=st.integers(0, 10**6),
        n_centroids=st.integers(2, 6),
        nprobe=st.integers(1, 4),
        k=st.integers(1, 4),
        n_commits=st.integers(1, 3),
    )
    def check(seed, n_centroids, nprobe, k, n_commits):
        rnd = random.Random(seed)
        dim = rnd.choice((4, 6))
        n = rnd.randint(n_centroids + 2, 24)
        rows = [
            (i, [round(rnd.uniform(-1, 1), 3) for _ in range(dim)])
            for i in range(n)
        ]
        df = spark.createDataFrame(
            rows, "vec_id long, embedding array<float>"
        )
        qs = df.where(F.col("vec_id") % 5 == 0)
        code = ivf_codebook_rows(df, n_centroids=n_centroids)
        counter[0] += 1
        t = IceTable(
            spark,
            str(tmp_path / f"ividx{counter[0]}"),
            partition_spec=PartitionSpec(
                fields=[PartitionField("cell", "cell")]
            ),
            sort_order=["vec_id"],
            bloom_columns=["cell"],
        )
        for s in range(n_commits):
            t.insert(
                df=ivf_index_rows(
                    df.where(F.col("vec_id") % n_commits == s), code
                )
            )
        got = sorted(map(tuple, cosine_topk_against_index_table(
            qs, t, code, nprobe=nprobe, k=k, persist_probe_rows=False
        ).collect()))
        want = sorted(map(tuple, cosine_topk_ivf(
            df, qs, n_centroids=n_centroids, nprobe=nprobe, k=k
        ).collect()))
        assert got == want

    check()


def test_ivf_index_table_accepts_trained_codebook(spark, tmp_path):
    """The persisted-index API is codebook-agnostic: a k-means-TRAINED
    codebook (the s07 machinery) drops in for the seed policy with
    identical downstream shapes — index rows assign against it, the
    search probes it, and the persisted roundtrip still equals the
    direct computation with the same codebook."""
    from icedb_spark import IceTable, PartitionField, PartitionSpec
    from icedb_spark.operators import (
        cosine_topk_against_index_table,
        ivf_index_rows,
    )
    from icedb_spark.operators.similarity import (
        _train_codebook,
        _training_view,
    )

    df = _clustered_vectors(spark)
    code = _train_codebook(
        _training_view(df, "vec_id", "embedding"), dim=8, n_centroids=4,
        iters=1,
    )
    t = IceTable(
        spark,
        str(tmp_path / "ividx"),
        partition_spec=PartitionSpec(fields=[PartitionField("cell", "cell")]),
        sort_order=["vec_id"],
        bloom_columns=["cell"],
    )
    t.insert(df=ivf_index_rows(df, code))
    qs = df.where(F.col("vec_id") % 10 == 0)
    out = cosine_topk_against_index_table(
        qs, t, code, nprobe=2, k=3, persist_probe_rows=False
    )
    rows = out.collect()
    assert rows, "trained-codebook search returns neighbors"
    # direct recompute with the SAME codebook: assign + probe + score
    # through the non-persisted rows must agree with the table read
    direct_idx = ivf_index_rows(df, code)
    per_q = {}
    for r in rows:
        per_q.setdefault(r["query_id"], []).append(r["rank"])
    for ranks in per_q.values():
        assert sorted(ranks) == list(range(1, len(ranks) + 1))
    # the persisted cells equal the freshly assigned cells
    got_cells = sorted(map(tuple, t.read().select("vec_id", "cell").collect()))
    want_cells = sorted(map(tuple, direct_idx.select("vec_id", "cell").collect()))
    assert got_cells == want_cells


def test_trainer_collect_is_bounded_under_tiny_max_result_size():
    """The Lloyd trainer's driver collect is C*dim rows whatever the input:
    6,000 Arrow batches of 2 rows per iteration train under a 1 MB
    spark.driver.maxResultSize (a collect of one row per (batch, cell),
    each carrying all dim sums, passes that limit after two tasks). The
    codebook is bit-identical to the one that per-batch collect produced
    under the default limit, pinned by the digest of its exact float
    reprs."""
    import hashlib
    import json
    import os
    import subprocess
    import sys
    import textwrap

    from icedb_spark.operators import similarity

    script = textwrap.dedent(
        """
        import json
        from pyspark.sql import SparkSession, functions as F
        from icedb_spark.operators.similarity import (
            _train_codebook, _training_view,
        )

        spark = (
            SparkSession.builder.master("local[2]")
            .config("spark.ui.enabled", "false")
            .config("spark.sql.shuffle.partitions", "2")
            .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2")
            .config("spark.driver.maxResultSize", "1m")
            .getOrCreate()
        )
        spark.sparkContext.setLogLevel("OFF")
        dim = 32
        df = spark.range(12_000).select(
            F.col("id").alias("vec_id"),
            F.array(*[F.sin(F.col("id") * (i + 1) + i) for i in range(dim)])
            .alias("embedding"),
        )
        code = _train_codebook(
            _training_view(df, "vec_id", "embedding"),
            dim=dim, n_centroids=8, iters=2,
        )
        rows = sorted((r["cid"], list(r["cv"])) for r in code.collect())
        print(json.dumps(repr(rows)))
        spark.stop()
        """
    )
    env = dict(os.environ)
    pkg = os.path.dirname(os.path.abspath(similarity.__file__))
    env["PYTHONPATH"] = os.pathsep.join(
        [os.path.dirname(os.path.dirname(pkg))]
        + [p for p in [env.get("PYTHONPATH")] if p]
    )
    proc = subprocess.run(
        [sys.executable, "-c", script],
        capture_output=True, text=True, env=env, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    code = json.loads(proc.stdout.strip().splitlines()[-1])
    assert hashlib.sha256(code.encode()).hexdigest() == (
        "23dc1a7cd0683b39d65c7d39d9415ae9010ab0ddc3ec256f4b1dad00ea8bd376"
    )


def test_ivf_index_table_invariant_under_compaction(spark, tmp_path):
    """The ice02 merge-invariance claim applied to the ANN index:
    search results are identical before and after a compaction pass
    collapses the multi-commit index to one file per cell (fewer files
    kept, same rows)."""
    from icedb_spark import IceTable, PartitionField, PartitionSpec
    from icedb_spark.operators import (
        cosine_topk_against_index_table,
        ivf_codebook_rows,
        ivf_index_rows,
    )

    df = _clustered_vectors(spark)
    code = ivf_codebook_rows(df, n_centroids=4)
    t = IceTable(
        spark,
        str(tmp_path / "ividx"),
        partition_spec=PartitionSpec(fields=[PartitionField("cell", "cell")]),
        sort_order=["vec_id"],
        bloom_columns=["cell"],
    )
    for s in range(3):
        t.insert(df=ivf_index_rows(df.where(F.col("vec_id") % 3 == s), code))
    qs = df.where(F.col("vec_id") % 10 == 0)

    def search():
        return sorted(map(tuple, cosine_topk_against_index_table(
            qs, t, code, nprobe=2, k=3, persist_probe_rows=False
        ).collect()))

    before = search()
    files_before = len(t.files_for())
    t.optimize(max_file_size=1 << 40, max_file_count=10_000)
    assert len(t.files_for()) < files_before
    assert search() == before


def test_ivfpq_index_table_matches_recompute(spark, tmp_path):
    """The persisted IVF-PQ byte-code path (pack -> cell-partitioned
    commit -> pruned read -> unpack -> ADC) equals cosine_topk_ivfpq's
    recompute-every-call result, with and without the exact rerank, and
    the packed bigint round-trips every 8-bit lane."""
    from icedb_spark import IceTable, PartitionField, PartitionSpec
    from icedb_spark.operators import (
        cosine_topk_ivfpq,
        cosine_topk_pq_against_index_table,
        ivf_codebook_rows,
        ivfpq_index_rows,
        pq_subcodebook_rows,
    )

    df = _clustered_vectors(spark)
    code = ivf_codebook_rows(df, n_centroids=4)
    sub = pq_subcodebook_rows(df, dim=8, m_sub=2, k_sub=4)
    t = IceTable(
        spark,
        str(tmp_path / "pqidx"),
        partition_spec=PartitionSpec(fields=[PartitionField("cell", "cell")]),
        sort_order=["vec_id"],
        bloom_columns=["cell"],
    )
    t.insert(df=ivfpq_index_rows(df, code, sub, dim=8, m_sub=2))
    # every packed lane is a valid sub-centroid id (k_sub=4 -> 0..3)
    for r in t.read().collect():
        for s in range(2):
            assert 0 <= (r["codes"] >> (8 * s)) & 255 < 4
    qs = df.where(F.col("vec_id") % 10 == 0)
    for rr in (0, 3):
        got = sorted(map(tuple, cosine_topk_pq_against_index_table(
            qs, t, code, sub, dim=8, m_sub=2, nprobe=2, k=3,
            rerank=rr, vectors=df if rr else None,
        ).collect()))
        want = sorted(map(tuple, cosine_topk_ivfpq(
            df, qs, dim=8, n_centroids=4, nprobe=2, m_sub=2, k_sub=4,
            k=3, rerank=rr,
        ).collect()))
        assert got == want, f"persisted != recompute at rerank={rr}"
    # pruned read keeps fewer files than the index holds once cells
    # split across files (3 extra commits make 4 per touched cell)
    for s in range(3):
        t.insert(df=ivfpq_index_rows(
            df.where(F.col("vec_id") % 3 == s).select(
                (F.col("vec_id") + 1000).alias("vec_id"), "embedding"
            ),
            code, sub, dim=8, m_sub=2,
        ))
    total = len(t.files_for())
    kept = len(t.files_for(column_in={"cell": [0]}))
    assert kept < total


def test_ivfpq_index_accepts_trained_codebook(spark, tmp_path):
    """The persisted PQ path is codebook-agnostic like the full-vector
    path (the fe737a8 claim extended to byte codes): a k-means-TRAINED
    coarse codebook drops in for the seed policy — cells follow the
    trained centroids, codes/ADC/rerank keep their shapes, and the
    persisted search equals a direct in-memory recompute with the SAME
    codebooks."""
    from icedb_spark import IceTable, PartitionField, PartitionSpec
    from icedb_spark.operators import (
        cosine_topk_pq_against_index_table,
        ivfpq_index_rows,
        pq_subcodebook_rows,
    )
    from icedb_spark.operators.similarity import (
        _train_codebook,
        _training_view,
    )

    df = _clustered_vectors(spark)
    code = _train_codebook(
        _training_view(df, "vec_id", "embedding"), dim=8, n_centroids=4,
        iters=1,
    )
    sub = pq_subcodebook_rows(df, dim=8, m_sub=2, k_sub=4)
    rows = ivfpq_index_rows(df, code, sub, dim=8, m_sub=2)
    t = IceTable(
        spark,
        str(tmp_path / "pqtrained"),
        partition_spec=PartitionSpec(fields=[PartitionField("cell", "cell")]),
        sort_order=["vec_id"],
        bloom_columns=["cell"],
    )
    t.insert(df=rows)
    # persisted rows equal the in-memory derivation (codes + cells);
    # explicit column order — the table read's unified schema may
    # order columns differently than the derivation frame
    cols = ["vec_id", "cell", "codes", "r2"]
    got = sorted(map(tuple, t.read().select(*cols).collect()))
    want = sorted(map(tuple, rows.select(*cols).collect()))
    assert got == want
    # cells follow the TRAINED centroids: trained cids are the seed ids,
    # but assignments may differ from the seed policy — just assert the
    # search works end-to-end and ranks are dense per query
    qs = df.where(F.col("vec_id") % 10 == 0)
    out = cosine_topk_pq_against_index_table(
        qs, t, code, sub, dim=8, m_sub=2, nprobe=2, k=3,
        rerank=3, vectors=df,
    ).collect()
    assert out
    per_q = {}
    for r in out:
        per_q.setdefault(r["query_id"], []).append(r["rank"])
    for ranks in per_q.values():
        assert sorted(ranks) == list(range(1, len(ranks) + 1))


def test_ivfpq_index_empty_and_guards(spark, tmp_path):
    from icedb_spark import IceTable, PartitionField, PartitionSpec
    from icedb_spark.operators import (
        cosine_topk_pq_against_index_table,
        ivf_codebook_rows,
        ivfpq_index_rows,
        pq_subcodebook_rows,
    )

    df = _clustered_vectors(spark)
    code = ivf_codebook_rows(df, n_centroids=4)
    sub = pq_subcodebook_rows(df, dim=8, m_sub=2, k_sub=4)
    t = IceTable(
        spark,
        str(tmp_path / "pqempty"),
        partition_spec=PartitionSpec(fields=[PartitionField("cell", "cell")]),
        sort_order=["vec_id"],
    )
    qs = df.where(F.col("vec_id") % 10 == 0)
    out = cosine_topk_pq_against_index_table(
        qs, t, code, sub, dim=8, m_sub=2, nprobe=2, k=3
    )
    assert out.count() == 0  # never-written index short-circuits
    with pytest.raises(ValueError, match="not divisible"):
        ivfpq_index_rows(df, code, sub, dim=8, m_sub=3)
    with pytest.raises(ValueError, match="8-bit lanes"):
        ivfpq_index_rows(df, code, sub, dim=16, m_sub=16)
    with pytest.raises(ValueError, match="needs `vectors`"):
        cosine_topk_pq_against_index_table(
            qs, t, code, sub, dim=8, m_sub=2, rerank=5
        )


def test_wordpiece_train_validates_piece_len():
    from icedb_spark.operators import wordpiece_train

    with pytest.raises(ValueError):
        wordpiece_train(None, max_piece_len=1)


def test_ivfpq_rerank_recovers_exact_ordering(spark):
    from icedb_spark.operators import cosine_topk, cosine_topk_ivfpq

    df = _clustered_vectors(spark)
    qs = df.where(F.col("vec_id") % 10 == 0)
    exact = {
        (r["query_id"], r["neighbor_id"], r["cosine"])
        for r in cosine_topk(df, qs, k=3).collect()
    }
    # rerank large enough to cover every probed candidate -> the reranked
    # result's cosines are EXACT values (ADC's are approximations)
    rer = cosine_topk_ivfpq(
        df, qs, dim=8, n_centroids=4, nprobe=4, m_sub=2, k_sub=4, k=3,
        rerank=100,
    ).collect()
    # every cell probed + full rerank -> exactly the exact top-k, with
    # EXACT cosines (ADC's approximations are gone after the refine step)
    assert {
        (r["query_id"], r["neighbor_id"], r["cosine"]) for r in rer
    } == exact


def test_ivfpq_validates_dim(spark):
    from icedb_spark.operators import cosine_topk_ivfpq

    with pytest.raises(ValueError):
        cosine_topk_ivfpq(None, None, dim=10, m_sub=4)


# ----------------------------------------------------------- perplexity


def test_ngram_perplexity_hand_values(spark):
    import math

    from icedb_spark.operators import ngram_perplexity

    docs = spark.createDataFrame(
        [(0, "ababab"), (1, "ab"), (2, None), (3, "ABAB  ab")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r.asDict() for r in ngram_perplexity(docs).collect()}
    # doc 1 ("ab") and doc 2 (NULL) are too short -> no score
    assert out[1] == dict(doc_id=1, n_ngrams=0, avg_neg_logp=None, ppl=None)
    assert out[2]["n_ngrams"] == 0 and out[2]["ppl"] is None
    # normalization lowers + collapses whitespace: doc 3 -> "abab ab"
    assert out[3]["n_ngrams"] == 5
    # doc 0: trigrams aba,bab,aba,bab -> verify against a hand model
    # corpus positions: doc0 aba,bab,aba,bab; doc3 aba,bab,ab_,b_a,_ab
    c3 = {"aba": 3, "bab": 3, "ab ": 1, "b a": 1, " ab": 1}
    c2 = {"ab": 4, "ba": 4, "b ": 1}
    # prefixes: ab->aba,ab_ ... recount: doc0: ab,ba,ab,ba; doc3: ab,ba,ab,b_, _a
    c2 = {}
    p_of = {"aba": "ab", "bab": "ba", "ab ": "ab", "b a": "b ", " ab": " a"}
    seq = ["aba", "bab", "aba", "bab", "aba", "bab", "ab ", "b a", " ab"]
    c3 = {}
    for g in seq:
        c3[g] = c3.get(g, 0) + 1
        c2[p_of[g]] = c2.get(p_of[g], 0) + 1
    V = len({g[2] for g in seq})  # distinct continuation chars
    k = 0.5

    def nlp(g):
        return -math.log((c3[g] + k) / (c2[p_of[g]] + k * V))

    expect = sum(nlp(g) for g in ["aba", "bab", "aba", "bab"]) / 4
    assert abs(out[0]["avg_neg_logp"] - round(expect, 6)) < 1e-6
    assert abs(out[0]["ppl"] - round(math.exp(expect), 4)) < 1e-4


def test_ngram_perplexity_reference_model(spark):
    from icedb_spark.operators import ngram_perplexity

    ref = spark.createDataFrame(
        [(0, "the quick brown fox jumps over the lazy dog " * 3)],
        "doc_id long, text string",
    )
    docs = spark.createDataFrame(
        [(1, "the quick brown fox"), (2, "zzqxj zzqxj zzqxj")],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r["ppl"]
        for r in ngram_perplexity(docs, model_df=ref).collect()
    }
    # in-distribution text scores far lower perplexity than junk
    assert out[1] < out[2]


# ------------------------------------------------------ urls + quality cut


def test_url_stats_hand_values(spark):
    from icedb_spark.operators import url_stats

    docs = spark.createDataFrame(
        [
            (0, "see https://A.org/x and http://a.org/y plus https://b.net"),
            (1, "no links here"),
            (2, None),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r.asDict() for r in url_stats(docs).collect()}
    assert out[0]["n_urls"] == 3
    assert out[0]["n_unique_domains"] == 2  # a.org lowercased dedups
    assert out[0]["first_domain"] == "a.org"
    assert out[1] == dict(
        doc_id=1, n_urls=0, n_unique_domains=0, first_domain=None
    )
    assert out[2]["n_urls"] == 0 and out[2]["first_domain"] is None


def test_quality_filter_keeps_top_fraction_with_ties(spark):
    from icedb_spark.operators import quality_filter, text_quality

    docs = spark.createDataFrame(
        [(i, ("the and of to a in is it you that word%d " % i) * (1 + i % 5))
         for i in range(40)],
        "doc_id long, text string",
    )
    kept = quality_filter(docs, keep_frac=0.25).collect()
    assert len(kept) >= 10  # ceil(0.25*40), ties included
    thr = min(r["quality_score"] for r in kept)
    allscores = {
        r["doc_id"]: r["quality_score"] for r in text_quality(docs).collect()
    }
    kept_ids = {r["doc_id"] for r in kept}
    for d, s in allscores.items():
        assert (s >= thr) == (d in kept_ids)
    import pytest as _pt

    with _pt.raises(ValueError):
        quality_filter(docs, keep_frac=0.0)


# ------------------------------------------------------- perceptual hash


def test_perceptual_hash_hand_values_and_groups(spark):
    from icedb_spark.operators import perceptual_hash, phash_dup_groups

    media = spark.createDataFrame(
        [(1, b"same bytes"), (2, b"same bytes"), (3, b"different")],
        "media_id long, content binary",
    )
    out = {r["media_id"]: r["phash"] for r in perceptual_hash(media).collect()}
    assert out[1] == out[2] != out[3]
    assert 0 <= out[1] < (1 << 60)
    # hand-check bit 0 against the definition
    import hashlib

    h = hashlib.md5(b"same bytes").digest()
    px = [h[i % 16] for i in range(60)]
    expect = 0
    for p in px:
        expect = (expect << 1) | (1 if p * 60 > sum(px) else 0)
    assert out[1] == expect
    groups = phash_dup_groups(perceptual_hash(media)).collect()
    assert len(groups) == 1
    assert groups[0]["member_ids"] == [1, 2] and groups[0]["keeper_id"] == 1

    import pytest as _pt

    with _pt.raises(ValueError):
        perceptual_hash(media, bits=63)


def _bmp24(w, h, gray_rows, top_down=False):
    """Well-formed BI_RGB 24-bit BMP from top-down gray rows (r=g=b)."""
    import struct

    row = (w * 3 + 3) // 4 * 4
    header = (
        b"BM" + struct.pack("<I", 54 + row * h) + b"\0" * 4
        + struct.pack("<I", 54)
    )
    dib = struct.pack(
        "<IiiHHIIIIII", 40, w, (-h if top_down else h), 1, 24, 0,
        row * h, 0, 0, 0, 0,
    )
    data = b""
    for y in (range(h) if top_down else range(h - 1, -1, -1)):
        data += (
            b"".join(bytes([g, g, g]) for g in gray_rows[y])
            + b"\0" * (row - w * 3)
        )
    return header + dib + data


def test_decode_image_pixels_real_formats():
    """The REAL pure-Python pixel decoder: BMP bottom-up/top-down with
    row padding, P5/P6 with comments, BT.601 integer luma, loud errors
    on recognized-but-unsupported input, None on unknown containers."""
    from icedb_spark.operators import decode_image_pixels

    rows = [[10, 20, 30], [40, 50, 60]]
    want = [10, 20, 30, 40, 50, 60]
    assert decode_image_pixels(_bmp24(3, 2, rows)) == want
    assert decode_image_pixels(_bmp24(3, 2, rows, top_down=True)) == want
    p5 = b"P5\n# comment\n3 2\n255\n" + bytes(range(1, 7))
    assert decode_image_pixels(p5) == [1, 2, 3, 4, 5, 6]
    p6 = b"P6 2 1 255\n" + bytes([255, 0, 0, 0, 255, 0])
    assert decode_image_pixels(p6) == [299 * 255 // 1000, 587 * 255 // 1000]
    assert decode_image_pixels(b"\x89PNG\r\n\x1a\x00rest") is None
    assert decode_image_pixels(b"") is None
    with pytest.raises(ValueError):  # truncated BMP payload
        decode_image_pixels(_bmp24(3, 2, rows)[:-4])
    with pytest.raises(ValueError):  # 16-bit PNM maxval
        decode_image_pixels(b"P5 1 1 65535\n\x00\x00")


def test_decode_image_pixels_roundtrip_property():
    """Hypothesis round-trip: arbitrary small BMPs (both row orders,
    padded and unpadded widths, 24- and 32-bit) and P5/P6 rasters
    decode back to exactly the gray values they encode."""
    import struct

    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from icedb_spark.operators import decode_image_pixels

    def bmp32(w, h, gray_rows, top_down=False):
        row = w * 4
        header = (
            b"BM" + struct.pack("<I", 54 + row * h) + b"\0" * 4
            + struct.pack("<I", 54)
        )
        dib = struct.pack(
            "<IiiHHIIIIII", 40, w, (-h if top_down else h), 1, 32, 0,
            row * h, 0, 0, 0, 0,
        )
        data = b""
        for y in (range(h) if top_down else range(h - 1, -1, -1)):
            data += b"".join(
                bytes([g, g, g, 255]) for g in gray_rows[y]
            )
        return header + dib + data

    @settings(max_examples=40, deadline=None,
              suppress_health_check=[HealthCheck.too_slow])
    @given(
        w=st.integers(1, 9),
        h=st.integers(1, 7),
        top_down=st.booleans(),
        bpp32=st.booleans(),
        seed=st.integers(0, 10**6),
    )
    def roundtrip(w, h, top_down, bpp32, seed):
        import random

        rnd = random.Random(seed)
        rows = [[rnd.randrange(256) for _ in range(w)] for _ in range(h)]
        flat = [g for r in rows for g in r]
        enc = bmp32 if bpp32 else _bmp24
        assert decode_image_pixels(enc(w, h, rows, top_down)) == flat
        p5 = f"P5 {w} {h} 255\n".encode() + bytes(flat)
        assert decode_image_pixels(p5) == flat

    roundtrip()


def _png(w, h, rows, colortype, filters, split_idat=False, depth=8):
    """Well-formed PNG from top-down pixel rows (tuples per channel),
    with an INDEPENDENT encode-side implementation of the spec's filter
    formulas (forward direction) and real zlib compression — so a
    shared misreading of a recurrence cannot cancel out silently.
    ``depth=16`` writes big-endian sample pairs and filters at the
    spec's byte distance (channels × 2), independently of the decoder's
    bpp arithmetic."""
    import struct
    import zlib

    def chunk(ctype, data):
        return (
            struct.pack(">I", len(data)) + ctype + data
            + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
        )

    ch = {0: 1, 2: 3, 4: 2, 6: 4}[colortype]
    bpp = ch * (depth // 8)
    raw = bytearray()
    prev = bytes(w * bpp)
    for y, row in enumerate(rows):
        line = bytearray()
        for px in row:
            for s in (px if isinstance(px, (tuple, list)) else (px,)):
                if depth == 16:
                    line.extend(struct.pack(">H", s))
                else:
                    line.append(s)
        f = filters[y % len(filters)]
        enc = bytearray()
        for i in range(len(line)):
            a = line[i - bpp] if i >= bpp else 0
            b = prev[i]
            c = prev[i - bpp] if i >= bpp else 0
            if f == 0:
                pred = 0
            elif f == 1:
                pred = a
            elif f == 2:
                pred = b
            elif f == 3:
                pred = (a + b) >> 1
            else:
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
            enc.append((line[i] - pred) & 0xFF)
        raw.append(f)
        raw.extend(enc)
        prev = bytes(line)
    z = zlib.compress(bytes(raw))
    ihdr = struct.pack(">IIBBBBB", w, h, depth, colortype, 0, 0, 0)
    out = b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
    if split_idat:
        mid = len(z) // 2
        out += chunk(b"IDAT", z[:mid]) + chunk(b"IDAT", z[mid:])
    else:
        out += chunk(b"IDAT", z)
    return out + chunk(b"IEND", b"")


def test_decode_png_roundtrip_property():
    """Hypothesis round-trip for the PNG arm (VERDICT r8 #4): arbitrary
    small images across all four supported color types, all five filter
    types, and split IDAT chunks decode back to the exact BT.601 grays
    the encoded pixels imply."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from icedb_spark.operators import decode_image_pixels

    @settings(max_examples=60, deadline=None)
    @given(
        w=st.integers(1, 9),
        h=st.integers(1, 7),
        colortype=st.sampled_from([0, 2, 4, 6]),
        seed=st.integers(0, 10**6),
    )
    def roundtrip(w, h, colortype, seed):
        import random

        rnd = random.Random(seed)
        ch = {0: 1, 2: 3, 4: 2, 6: 4}[colortype]
        rows = [
            [tuple(rnd.randrange(256) for _ in range(ch)) for _ in range(w)]
            for _ in range(h)
        ]
        filters = [rnd.randint(0, 4) for _ in range(h)]
        blob = _png(w, h, rows, colortype, filters, split_idat=(seed % 2 == 0))
        want = []
        for row in rows:
            for px in row:
                if colortype in (0, 4):
                    want.append(px[0])
                else:
                    want.append(
                        (299 * px[0] + 587 * px[1] + 114 * px[2]) // 1000
                    )
        assert decode_image_pixels(blob) == want

    roundtrip()


def test_decode_png16_roundtrip_property():
    """Hypothesis round-trip for 16-BIT PNGs (VERDICT r9 #7): arbitrary
    small images across all four sample color types, all five filter
    types (now at the 2-bytes/sample filter distance), split IDAT
    chunks, decoded back to the exact depth-scaled
    ``v*255 // 65535`` grays the encoded 16-bit samples imply — the
    encoder is the test-side independent implementation."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from icedb_spark.operators import decode_image_pixels

    @settings(max_examples=60, deadline=None)
    @given(
        w=st.integers(1, 9),
        h=st.integers(1, 7),
        colortype=st.sampled_from([0, 2, 4, 6]),
        seed=st.integers(0, 10**6),
    )
    def roundtrip(w, h, colortype, seed):
        import random

        rnd = random.Random(seed)
        ch = {0: 1, 2: 3, 4: 2, 6: 4}[colortype]
        rows = [
            [tuple(rnd.randrange(65536) for _ in range(ch)) for _ in range(w)]
            for _ in range(h)
        ]
        filters = [rnd.randint(0, 4) for _ in range(h)]
        blob = _png(
            w, h, rows, colortype, filters,
            split_idat=(seed % 2 == 0), depth=16,
        )
        want = []
        for row in rows:
            for px in row:
                scaled = [s * 255 // 65535 for s in px]
                if colortype in (0, 4):
                    want.append(scaled[0])
                else:
                    want.append(
                        (299 * scaled[0] + 587 * scaled[1]
                         + 114 * scaled[2]) // 1000
                    )
        assert decode_image_pixels(blob) == want

    roundtrip()


def _png_sub8(w, h, depth, rows, colortype=0, plte=None, sub_filter=False):
    """Well-formed SUB-8-BIT PNG from per-row sample lists —
    independent encode side: MSB-first bit packing with row byte
    padding, the Sub filter (when asked) applied over the PACKED bytes
    at the spec's one-byte distance, real zlib."""
    import struct
    import zlib

    def chunk(ctype, data):
        return (
            struct.pack(">I", len(data)) + ctype + data
            + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
        )

    rb = (w * depth + 7) // 8
    raw = bytearray()
    for y, row in enumerate(rows):
        packed = bytearray(rb)
        for x, s in enumerate(row):
            shift = 8 - depth - (x * depth) % 8
            packed[(x * depth) // 8] |= (s & ((1 << depth) - 1)) << shift
        if sub_filter and y % 2 == 1:
            raw.append(1)
            enc = bytearray()
            for i, v in enumerate(packed):
                enc.append((v - (packed[i - 1] if i else 0)) % 256)
            raw.extend(enc)
        else:
            raw.append(0)
            raw.extend(packed)
    ihdr = struct.pack(">IIBBBBB", w, h, depth, colortype, 0, 0, 0)
    out = b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
    if plte is not None:
        out += chunk(b"PLTE", bytes(plte))
    out += chunk(b"IDAT", zlib.compress(bytes(raw)))
    return out + chunk(b"IEND", b"")


def test_decode_png_sub8_gray_and_palette():
    """Sub-8-bit PNG decode: 1/2/4-bit grayscale unpacks MSB-first with
    row-padding discard and exact-integer depth scaling (255/85/17 —
    all whole multipliers), the Sub filter runs over the PACKED bytes
    at one-byte distance, and 4-bit PALETTE indices pass through PLTE
    unscaled."""
    from icedb_spark.operators import decode_image_pixels

    # 1-bit 10x2 gray (row width not a byte multiple: 2 padding bits)
    rows = [[1, 0, 1, 1, 0, 0, 1, 0, 1, 1], [0, 1, 0, 0, 1, 1, 0, 1, 0, 0]]
    got = decode_image_pixels(_png_sub8(10, 2, 1, rows))
    assert got == [v * 255 for r in rows for v in r]
    # 2-bit 3x2 with a Sub-filtered second row
    rows = [[0, 1, 2], [3, 2, 1]]
    got = decode_image_pixels(_png_sub8(3, 2, 2, rows, sub_filter=True))
    assert got == [v * 85 for r in rows for v in r]
    # 4-bit 5x3 gray
    rows = [[0, 15, 8, 3, 12], [7, 7, 7, 7, 7], [15, 0, 15, 0, 15]]
    got = decode_image_pixels(_png_sub8(5, 3, 4, rows, sub_filter=True))
    assert got == [v * 17 for r in rows for v in r]
    # 4-bit palette: indices through PLTE -> BT.601 luma, NOT scaled
    plte = []
    for i in range(16):
        plte += [10 * i, 5 * i, 255 - 10 * i]
    rows = [[0, 5, 15], [3, 3, 9]]
    got = decode_image_pixels(
        _png_sub8(3, 2, 4, rows, colortype=3, plte=plte)
    )
    want = [
        (299 * plte[3 * v] + 587 * plte[3 * v + 1]
         + 114 * plte[3 * v + 2]) // 1000
        for r in rows for v in r
    ]
    assert got == want
    # palette index past PLTE still raises (2-entry palette, index 3)
    with pytest.raises(ValueError, match="palette index"):
        decode_image_pixels(
            _png_sub8(2, 1, 2, [[0, 3]], colortype=3,
                      plte=[1, 2, 3, 4, 5, 6])
        )
    # Adam7-interlaced 1-bit 2x2: each pass packs its OWN reduced rows
    # (p1 carries (0,0), p6 (1,0), p7 the bottom row) — hand-built
    # stream [filter 0 + packed byte] per pass row
    import struct
    import zlib as _zl

    def _chunk(ctype, data):
        return (struct.pack(">I", len(data)) + ctype + data
                + struct.pack(">I", _zl.crc32(ctype + data) & 0xFFFFFFFF))

    ihdr = struct.pack(">IIBBBBB", 2, 2, 1, 0, 0, 0, 1)
    raw = bytes([0, 0x80, 0, 0x00, 0, 0x40])  # p1=1, p6=0, p7=[0,1]
    blob = (b"\x89PNG\r\n\x1a\n" + _chunk(b"IHDR", ihdr)
            + _chunk(b"IDAT", _zl.compress(raw)) + _chunk(b"IEND", b""))
    assert decode_image_pixels(blob) == [255, 0, 0, 255]


def test_decode_png_profile_matrix():
    """The documented accept/raise matrix equals the implemented one
    (VERDICT r9 #6, extended r11): depth 8 decodes for every color
    type, depth 16 for the four sample color types but NOT palette,
    sub-8-bit depths decode for gray/palette and raise for the
    multi-channel color types (the spec's own restriction) — each
    raise probe a structurally plausible container so only the profile
    gate can be the thing that rejects it."""
    import struct

    from icedb_spark.operators import decode_image_pixels

    ch_of = {0: 1, 2: 3, 4: 2, 6: 4}
    for colortype in (0, 2, 4, 6):
        ch = ch_of[colortype]
        px8 = [[tuple(range(1, ch + 1))]]
        assert decode_image_pixels(
            _png(1, 1, px8, colortype, [0])
        ) is not None
        px16 = [[tuple(range(1000, 1000 + ch))]]
        assert decode_image_pixels(
            _png(1, 1, px16, colortype, [0], depth=16)
        ) is not None
        for depth in (1, 2, 4):
            if colortype == 0:
                # sub-8 gray is a SUPPORTED profile now (r11)
                assert decode_image_pixels(
                    _png_sub8(1, 1, depth, [[1]])
                ) == [255 if depth == 1 else (85 if depth == 2 else 17)]
                continue
            blob = _png(1, 1, px8, colortype, [0])
            bad = blob.replace(
                struct.pack(">IIBBBBB", 1, 1, 8, colortype, 0, 0, 0),
                struct.pack(">IIBBBBB", 1, 1, depth, colortype, 0, 0, 0), 1)
            with pytest.raises(ValueError):
                decode_image_pixels(bad)
    # sub-8 palette decodes (r11): index 1 -> white -> luma 255
    assert decode_image_pixels(
        _png_sub8(1, 1, 1, [[1]], colortype=3, plte=[0, 0, 0, 255, 255, 255])
    ) == [255]
    # palette: 8-bit decodes (covered in depth by the palette property
    # test); 16-bit palette is forbidden by the spec and raises
    blob = _png(1, 1, [[(0,)]], 0, [0])
    bad = blob.replace(
        struct.pack(">IIBBBBB", 1, 1, 8, 0, 0, 0, 0),
        struct.pack(">IIBBBBB", 1, 1, 16, 3, 0, 0, 0), 1)
    with pytest.raises(ValueError):
        decode_image_pixels(bad)


def test_decode_png_unsupported_profiles_raise():
    """Recognized PNG container with an unsupported profile fails loudly
    (sub-8-bit depth / 16-bit payload-size lie / palette-without-PLTE /
    bad zlib / size mismatch), while JPEG-style unknowns still return
    None."""
    import struct

    from icedb_spark.operators import decode_image_pixels

    good = _png(2, 2, [[(1,), (2,)], [(3,), (4,)]], 0, [0])
    assert decode_image_pixels(good) == [1, 2, 3, 4]
    # header claims 16-bit over an 8-bit-sized payload: the geometry
    # check must catch the size lie (16-bit itself is now supported)
    bad = good.replace(
        struct.pack(">IIBBBBB", 2, 2, 8, 0, 0, 0, 0),
        struct.pack(">IIBBBBB", 2, 2, 16, 0, 0, 0, 0), 1)
    with pytest.raises(ValueError):
        decode_image_pixels(bad)
    # 4-bit gray claim over an 8-bit-sized payload: sub-8 gray is a
    # supported profile since r11, so THIS now fails on the payload
    # size lie instead of the profile gate — still loudly
    bad = good.replace(
        struct.pack(">IIBBBBB", 2, 2, 8, 0, 0, 0, 0),
        struct.pack(">IIBBBBB", 2, 2, 4, 0, 0, 0, 0), 1)
    with pytest.raises(ValueError):
        decode_image_pixels(bad)
    # palette color type without a PLTE chunk
    bad = good.replace(
        struct.pack(">IIBBBBB", 2, 2, 8, 0, 0, 0, 0),
        struct.pack(">IIBBBBB", 2, 2, 8, 3, 0, 0, 0), 1)
    with pytest.raises(ValueError):
        decode_image_pixels(bad)
    # interlace flag flipped on sequential-layout data: the Adam7 pass
    # sizes imply a different payload length, so it fails loudly
    bad = good.replace(
        struct.pack(">IIBBBBB", 2, 2, 8, 0, 0, 0, 0),
        struct.pack(">IIBBBBB", 2, 2, 8, 0, 0, 0, 1), 1)
    with pytest.raises(ValueError):
        decode_image_pixels(bad)
    # geometry lies about the payload: height says 3, data carries 2 rows
    bad = good.replace(
        struct.pack(">IIBBBBB", 2, 2, 8, 0, 0, 0, 0),
        struct.pack(">IIBBBBB", 2, 3, 8, 0, 0, 0, 0), 1)
    with pytest.raises(ValueError):
        decode_image_pixels(bad)
    # corrupt zlib stream
    bad = bytearray(good)
    bad[len(good) - 20] ^= 0xFF
    with pytest.raises(ValueError):
        decode_image_pixels(bytes(bad))


def test_decode_png_palette_roundtrip_property():
    """Hypothesis round-trip for PALETTE PNGs (color type 3): arbitrary
    palette sizes, all five filters (running on INDEX bytes, one byte
    per pixel), indices mapped through PLTE to BT.601 luma; an
    out-of-range index fails loudly."""
    import struct
    import zlib

    from hypothesis import given, settings
    from hypothesis import strategies as st

    from icedb_spark.operators import decode_image_pixels

    def chunk(t, d):
        return (
            struct.pack(">I", len(d)) + t + d
            + struct.pack(">I", zlib.crc32(t + d))
        )

    def palette_png(w, h, pal, idx, filters):
        raw = bytearray()
        prev = [0] * w
        for y, row in enumerate(idx):
            f = filters[y % len(filters)]
            raw.append(f)
            for i, v in enumerate(row):
                a = row[i - 1] if i else 0
                c = prev[i]
                d = prev[i - 1] if i else 0
                pred = [0, a, c, (a + c) >> 1, None][f]
                if pred is None:  # Paeth
                    p = a + c - d
                    pa, pb, pc = abs(p - a), abs(p - c), abs(p - d)
                    pred = a if (pa <= pb and pa <= pc) else (
                        c if pb <= pc else d
                    )
                raw.append((v - pred) & 0xFF)
            prev = row
        return (
            b"\x89PNG\r\n\x1a\n"
            + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 3, 0, 0, 0))
            + chunk(b"PLTE", pal)
            + chunk(b"IDAT", zlib.compress(bytes(raw)))
            + chunk(b"IEND", b"")
        )

    @settings(max_examples=50, deadline=None)
    @given(
        w=st.integers(1, 9), h=st.integers(1, 7),
        npal=st.integers(1, 256), seed=st.integers(0, 10**6),
    )
    def roundtrip(w, h, npal, seed):
        import random

        rnd = random.Random(seed)
        pal = bytes(rnd.randrange(256) for _ in range(3 * npal))
        idx = [[rnd.randrange(npal) for _ in range(w)] for _ in range(h)]
        filters = [rnd.randint(0, 4) for _ in range(h)]
        want = [
            (299 * pal[3 * v] + 587 * pal[3 * v + 1]
             + 114 * pal[3 * v + 2]) // 1000
            for row in idx for v in row
        ]
        assert decode_image_pixels(palette_png(w, h, pal, idx, filters)) == want

    roundtrip()

    # index beyond the palette fails loudly, not silently
    blob = palette_png(1, 1, bytes(3), [[0]], [0])
    bad = bytearray(blob)
    # the single index byte sits inside the IDAT zlib stream; rebuild
    # with an out-of-range index instead of patching compressed bytes
    blob2 = palette_png(1, 1, bytes(3), [[7]], [0])
    with pytest.raises(ValueError):
        decode_image_pixels(blob2)
    assert decode_image_pixels(bytes(bad)) == [0]


def test_decode_png_interlaced_roundtrip_property():
    """Hypothesis round-trip for ADAM7-interlaced PNGs: arbitrary sizes
    and color types, every pass filtered as a standalone reduced image
    with random filters — the deinterlace placement and the per-pass
    unfilter neighbors (inside the pass, never across) must both be
    exact."""
    import struct
    import zlib

    from hypothesis import given, settings
    from hypothesis import strategies as st

    from icedb_spark.operators import decode_image_pixels

    PASSES = [(0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
              (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2)]

    def chunk(t, d):
        return (
            struct.pack(">I", len(d)) + t + d
            + struct.pack(">I", zlib.crc32(t + d))
        )

    def filt_rows(rows, ch, rnd):
        out = bytearray()
        w = len(rows[0]) if rows else 0
        prev = [0] * (w * ch)
        for row in rows:
            flat = [c for px in row for c in px]
            f = rnd.randint(0, 4)
            out.append(f)
            for i, v in enumerate(flat):
                a = flat[i - ch] if i >= ch else 0
                c = prev[i]
                d = prev[i - ch] if i >= ch else 0
                pred = [0, a, c, (a + c) >> 1, None][f]
                if pred is None:
                    p = a + c - d
                    pa, pb, pc = abs(p - a), abs(p - c), abs(p - d)
                    pred = a if (pa <= pb and pa <= pc) else (
                        c if pb <= pc else d
                    )
                out.append((v - pred) & 0xFF)
            prev = flat
        return out

    @settings(max_examples=50, deadline=None)
    @given(
        w=st.integers(1, 12), h=st.integers(1, 11),
        colortype=st.sampled_from([0, 2, 4, 6]),
        seed=st.integers(0, 10**6),
    )
    def roundtrip(w, h, colortype, seed):
        import random

        rnd = random.Random(seed)
        ch = {0: 1, 2: 3, 4: 2, 6: 4}[colortype]
        pix = [
            [tuple(rnd.randrange(256) for _ in range(ch)) for _ in range(w)]
            for _ in range(h)
        ]
        raw = bytearray()
        for x0, y0, dx, dy in PASSES:
            pw = (w - x0 + dx - 1) // dx
            ph = (h - y0 + dy - 1) // dy
            if pw <= 0 or ph <= 0:
                continue
            rows = [
                [pix[y0 + ry * dy][x0 + rx * dx] for rx in range(pw)]
                for ry in range(ph)
            ]
            raw.extend(filt_rows(rows, ch, rnd))
        blob = (
            b"\x89PNG\r\n\x1a\n"
            + chunk(b"IHDR",
                    struct.pack(">IIBBBBB", w, h, 8, colortype, 0, 0, 1))
            + chunk(b"IDAT", zlib.compress(bytes(raw)))
            + chunk(b"IEND", b"")
        )
        want = []
        for row in pix:
            for px in row:
                if colortype in (0, 4):
                    want.append(px[0])
                else:
                    want.append(
                        (299 * px[0] + 587 * px[1] + 114 * px[2]) // 1000
                    )
        assert decode_image_pixels(blob) == want

    roundtrip()


def _gif_lzw_encode(indices, min_code, clears_seed=None):
    """Independent GIF-LZW encoder (the spec's compress direction, with
    real dictionary growth and optional mid-stream clear codes) — so a
    shared misreading of the width-growth boundary cannot cancel out."""
    import random

    rnd = random.Random(clears_seed) if clears_seed is not None else None
    clear = 1 << min_code
    end = clear + 1

    def reset():
        return {(i,): i for i in range(clear)}, end + 1, min_code + 1

    table, next_code, width = reset()
    out_codes = [(clear, width)]
    buf = ()
    for px in indices:
        cand = buf + (px,)
        if cand in table:
            buf = cand
            continue
        out_codes.append((table[buf], width))
        if next_code < 4096:
            table[cand] = next_code
            next_code += 1
        if next_code > (1 << width) and width < 12:
            width += 1
        if rnd is not None and rnd.random() < 0.05:
            out_codes.append((clear, width))
            table, next_code, width = reset()
        buf = (px,)
    if buf:
        out_codes.append((table[buf], width))
    out_codes.append((end, width))
    acc = nbits = 0
    data = bytearray()
    for code, w in out_codes:
        acc |= code << nbits
        nbits += w
        while nbits >= 8:
            data.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8
    if nbits:
        data.append(acc & 0xFF)
    return bytes(data)


def _gif(w, h, indices, palette, interlace=False, use_lct=False,
         clears_seed=None):
    """Well-formed GIF89a (one frame, GCE extension, global or local
    color table, optional interlace) around a really-compressed LZW
    stream."""
    import struct

    min_code = max(2, (len(palette) - 1).bit_length())
    size_field = max(0, min_code - 1)
    table = b"".join(bytes(c) for c in palette) + b"\x00" * (
        3 * ((2 << size_field) - len(palette))
    )
    hdr = b"GIF89a" + struct.pack("<HH", w, h)
    hdr += (bytes([0, 0, 0]) if use_lct
            else bytes([0x80 | size_field, 0, 0]) + table)
    gce = b"\x21\xf9\x04\x00\x00\x00\x00\x00"
    ipacked = (0x40 if interlace else 0) | (
        (0x80 | size_field) if use_lct else 0
    )
    desc = b"\x2c" + struct.pack("<HHHH", 0, 0, w, h) + bytes([ipacked])
    if use_lct:
        desc += table
    if interlace:
        order = (list(range(0, h, 8)) + list(range(4, h, 8))
                 + list(range(2, h, 4)) + list(range(1, h, 2)))
        rows = [indices[y * w : (y + 1) * w] for y in range(h)]
        stream = [px for y in order for px in rows[y]]
    else:
        stream = list(indices)
    data = _gif_lzw_encode(stream, min_code, clears_seed)
    blocks = b""
    for i in range(0, len(data), 200):
        chunk = data[i : i + 200]
        blocks += bytes([len(chunk)]) + chunk
    return hdr + gce + desc + bytes([min_code]) + blocks + b"\x00\x3b"


def test_decode_gif_roundtrip_property():
    """Hypothesis round-trip for the GIF arm: arbitrary small images
    across palette sizes, interlace, local-vs-global tables, and
    mid-stream clear codes decode to the exact post-palette BT.601
    grays — against an independently implemented compressor with real
    dictionary growth."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from icedb_spark.operators import decode_image_pixels

    @settings(max_examples=50, deadline=None)
    @given(
        w=st.integers(1, 14),
        h=st.integers(1, 14),
        ncolors=st.sampled_from([4, 16, 64, 256]),
        interlace=st.booleans(),
        use_lct=st.booleans(),
        seed=st.integers(0, 10**6),
    )
    def roundtrip(w, h, ncolors, interlace, use_lct, seed):
        import random

        rnd = random.Random(seed)
        palette = [tuple(rnd.randrange(256) for _ in range(3))
                   for _ in range(ncolors)]
        indices = []
        while len(indices) < w * h:  # runs -> real dictionary hits
            indices.extend([rnd.randrange(ncolors)] * rnd.randint(1, 6))
        indices = indices[: w * h]
        blob = _gif(w, h, indices, palette, interlace, use_lct,
                    clears_seed=(seed if seed % 3 == 0 else None))
        want = [
            (299 * palette[i][0] + 587 * palette[i][1]
             + 114 * palette[i][2]) // 1000
            for i in indices
        ]
        assert decode_image_pixels(blob) == want

    roundtrip()


def test_decode_gif_width_growth_and_errors():
    """A big frame pushes the LZW dictionary through several width
    bumps; malformed GIFs fail loudly."""
    import random

    from icedb_spark.operators import decode_image_pixels

    rnd = random.Random(5)
    w, h = 64, 48
    palette = [(i, 255 - i, (3 * i) % 256) for i in range(256)]
    indices = []
    while len(indices) < w * h:
        indices.extend([rnd.randrange(256)] * rnd.randint(1, 10))
    indices = indices[: w * h]
    blob = _gif(w, h, indices, palette)
    want = [
        (299 * palette[i][0] + 587 * palette[i][1]
         + 114 * palette[i][2]) // 1000
        for i in indices
    ]
    assert decode_image_pixels(blob) == want
    with pytest.raises(ValueError):  # no color table anywhere
        decode_image_pixels(_gif(2, 2, [0, 1, 2, 3], palette,
                                 use_lct=True)[:32] + b"\x2c" + b"\x00" * 9
                            + b"\x02\x00\x00\x3b")
    with pytest.raises(ValueError):  # truncated pixel data
        good = _gif(4, 4, list(range(16)), palette)
        decode_image_pixels(good[:40] + b"\x00\x3b")
    with pytest.raises(ValueError):  # truncated header
        decode_image_pixels(b"GIF89a")
    with pytest.raises(ValueError):
        decode_image_pixels(b"GIF89a\x08\x00")


def _tiff(w, h, spp, photo, pixels, fmt, rps, seg_perm=None, pad=0):
    """Independent test-side baseline-TIFF encoder: both byte orders,
    multi-strip with an arbitrary PHYSICAL strip order and junk padding
    between segments — the layouts whose only correct read path is the
    StripOffsets array."""
    import struct

    def u16(v):
        return struct.pack(fmt + "H", v)

    def u32(v):
        return struct.pack(fmt + "I", v)

    nstrips = (h + rps - 1) // rps
    strips = [
        pixels[s * rps * w * spp: min((s + 1) * rps, h) * w * spp]
        for s in range(nstrips)
    ]
    extra_off = 8 + 2 + 12 * 9 + 4
    ex = b""
    ents = []

    def inline16(v):
        return u16(v) + b"\x00\x00"

    ents.append((256, 3, 1, inline16(w)))
    ents.append((257, 3, 1, inline16(h)))
    if spp == 3:
        ents.append((258, 3, 3, u32(extra_off + len(ex))))
        ex += u16(8) * 3
    else:
        ents.append((258, 3, 1, inline16(8)))
    ents.append((259, 3, 1, inline16(1)))
    ents.append((262, 3, 1, inline16(photo)))
    so_pos = len(ex)
    ex += b"\x00" * 4 * nstrips
    ents.append(
        (273, 4, nstrips, u32(extra_off + so_pos) if nstrips > 1 else None)
    )
    ents.append((277, 3, 1, inline16(spp)))
    ents.append((278, 3, 1, inline16(rps)))
    ents.append(
        (279, 4, nstrips, u32(extra_off + len(ex)) if nstrips > 1 else None)
    )
    ex += b"".join(u32(len(s)) for s in strips)
    data_start = extra_off + len(ex)
    perm = seg_perm or list(range(nstrips))
    offsets = [0] * nstrips
    pos = data_start
    blob = b""
    for p in range(nstrips):
        s = perm[p]
        offsets[s] = pos
        blob += strips[s] + b"\xab" * pad
        pos += len(strips[s]) + pad
    ex = (
        ex[:so_pos]
        + b"".join(u32(o) for o in offsets)
        + ex[so_pos + 4 * nstrips:]
    )
    body = b""
    for tag, typ, cnt, vb in sorted(ents):
        if vb is None:  # single strip: inline LONG
            vb = u32(offsets[0]) if tag == 273 else u32(len(strips[0]))
        body += u16(tag) + u16(typ) + u32(cnt) + vb
    return (
        (b"II" if fmt == "<" else b"MM") + u16(42) + u32(8)
        + u16(len(ents)) + body + u32(0) + ex + blob
    )


def test_decode_tiff_roundtrip_property():
    """Hypothesis round-trip for the TIFF arm: both byte orders, gray
    (both photometric polarities) and RGB, arbitrary strip heights,
    PERMUTED physical strip order and junk gaps — decode returns the
    exact BT.601 grays the encoded raster implies."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from icedb_spark.operators import decode_image_pixels

    @settings(max_examples=60, deadline=None)
    @given(
        w=st.integers(1, 9),
        h=st.integers(1, 8),
        fmt=st.sampled_from(["<", ">"]),
        mode=st.sampled_from([(3, 2), (1, 1), (1, 0)]),
        rps=st.integers(1, 8),
        pad=st.integers(0, 5),
        seed=st.integers(0, 10**6),
    )
    def roundtrip(w, h, fmt, mode, rps, pad, seed):
        import random

        rnd = random.Random(seed)
        spp, photo = mode
        px = bytes(rnd.randrange(256) for _ in range(w * h * spp))
        perm = list(range((h + rps - 1) // rps))
        rnd.shuffle(perm)
        blob = _tiff(w, h, spp, photo, px, fmt, rps, perm, pad)
        if spp == 3:
            want = [
                (299 * px[i] + 587 * px[i + 1] + 114 * px[i + 2]) // 1000
                for i in range(0, len(px), 3)
            ]
        elif photo == 1:
            want = list(px)
        else:  # WhiteIsZero inverts
            want = [255 - v for v in px]
        assert decode_image_pixels(blob) == want

    roundtrip()


def test_decode_tiff_packbits():
    """PackBits TIFF (compression 32773, the scanner RLE): literal and
    repeat runs, the 0x80 no-op byte, per-strip independence, and the
    over-long-output + truncated-run failure modes."""
    import struct

    from icedb_spark.operators import decode_image_pixels

    def pack(row_bytes):
        # independent test-side packer: repeats >= 2 as repeat runs,
        # everything else as literal runs, with a 0x80 no-op spliced in
        out = bytearray()
        i = 0
        n = len(row_bytes)
        while i < n:
            j = i
            while j + 1 < n and row_bytes[j + 1] == row_bytes[i] \
                    and j - i < 127:
                j += 1
            if j > i:  # repeat run of length j-i+1 (2..128)
                out.append(257 - (j - i + 1))
                out.append(row_bytes[i])
                i = j + 1
            else:
                k = i
                while (k + 1 < n and (k + 1 >= n - 1
                       or row_bytes[k + 1] != row_bytes[k + 2])
                       and k - i < 127):
                    k += 1
                out.append(k - i)
                out += row_bytes[i:k + 1]
                i = k + 1
        return bytes(out)

    def tiff_pb(w, h, strips):
        # minimal single-IFD little-endian TIFF with PackBits strips
        nstrips = len(strips)
        hdr_ents = 9
        ifd_off = 8
        extra_off = ifd_off + 2 + 12 * hdr_ents + 4
        ex = bytearray()
        so_pos = len(ex)
        ex += b"\x00" * 4 * nstrips
        sc_pos = len(ex)
        ex += b"\x00" * 4 * nstrips
        data_off = extra_off + len(ex)
        blob = bytearray()
        offs = []
        for s in strips:
            offs.append(data_off + len(blob))
            blob += s
        for i, (o, s) in enumerate(zip(offs, strips)):
            struct.pack_into("<I", ex, so_pos + 4 * i, o)
            struct.pack_into("<I", ex, sc_pos + 4 * i, len(s))

        def ent(tag, typ, cnt, val):
            return struct.pack("<HHI", tag, typ, cnt) + val

        def iv16(v):
            return struct.pack("<H", v) + b"\x00\x00"

        rps = (h + nstrips - 1) // nstrips
        ents = (
            ent(256, 3, 1, iv16(w)) + ent(257, 3, 1, iv16(h))
            + ent(258, 3, 1, iv16(8)) + ent(259, 3, 1, iv16(32773))
            + ent(262, 3, 1, iv16(1))
            + ent(273, 4, nstrips,
                  struct.pack("<I", offs[0]) if nstrips == 1
                  else struct.pack("<I", extra_off + so_pos))
            + ent(277, 3, 1, iv16(1)) + ent(278, 3, 1, iv16(rps))
            + ent(279, 4, nstrips,
                  struct.pack("<I", len(strips[0])) if nstrips == 1
                  else struct.pack("<I", extra_off + sc_pos))
        )
        return (b"II*\x00" + struct.pack("<I", ifd_off)
                + struct.pack("<H", hdr_ents) + ents
                + struct.pack("<I", 0) + bytes(ex) + bytes(blob))

    # 6x4 gray, two strips of 2 rows each, mixed literal/repeat content
    rows = [
        [1, 2, 3, 4, 5, 6], [7, 7, 7, 7, 7, 7],
        [9, 9, 8, 8, 8, 10], [0, 255, 0, 255, 255, 255],
    ]
    flat = [v for r in rows for v in r]
    s1 = pack(bytes(flat[:12]))
    s2 = b"\x80" + pack(bytes(flat[12:]))  # leading no-op must be skipped
    assert decode_image_pixels(tiff_pb(6, 4, [s1, s2])) == flat
    # repeat run crossing the declared raster size: loud failure
    bomb = bytes([257 - 128, 7]) * 200  # 25600 bytes >> 6*4
    with pytest.raises(ValueError, match="exceeds raster"):
        decode_image_pixels(tiff_pb(6, 4, [bomb]))
    # truncated repeat run (count byte, no value byte)
    with pytest.raises(ValueError, match="truncated TIFF PackBits"):
        decode_image_pixels(tiff_pb(6, 4, [s1, bytes([0x81])]))


def _tiff_lzw_compress(data: bytes) -> bytes:
    """Independent TIFF 6.0 §13 LZW COMPRESSOR (written from the spec's
    encoder pseudo-code, never from the decoder): MSB-first packing,
    ClearCode first, early-change width bumps when the next free code
    reaches 511/1023/2047, table reset at 4094 entries."""
    out = bytearray()
    acc = 0
    nacc = 0

    def put(code, width):
        nonlocal acc, nacc
        for i in range(width - 1, -1, -1):
            acc = (acc << 1) | ((code >> i) & 1)
            nacc += 1
            if nacc == 8:
                out.append(acc)
                acc = 0
                nacc = 0

    CLEAR, EOI = 256, 257
    table = {bytes([i]): i for i in range(256)}
    nxt = 258
    width = 9
    put(CLEAR, width)
    wrd = b""
    for byte in data:
        cand = wrd + bytes([byte])
        if cand in table:
            wrd = cand
            continue
        put(table[wrd], width)
        table[cand] = nxt
        nxt += 1
        # pair of the decoder's early change: the decoder widens after
        # ITS add brings the table to 2^width - 1 entries, which happens
        # one code LATER than the encoder's own add of the same entry —
        # so the encoder widens when its next free code reaches 2^width
        # (verified against real libtiff streams either side of 511)
        if nxt == (1 << width) and width < 12:
            width += 1
        if nxt == 4094:
            put(CLEAR, width)
            table = {bytes([i]): i for i in range(256)}
            nxt = 258
            width = 9
        wrd = bytes([byte])
    if wrd:
        put(table[wrd], width)
    put(EOI, width)
    while nacc:
        put(0, 1)
    return bytes(out)


def test_decode_tiff_lzw_and_predictor():
    """LZW TIFF (compression 5, the classic scanner/export codec) with
    and without horizontal differencing (predictor 2): two strips
    compressed by the independent spec-side compressor must decode to
    the exact raster; the KwKwK case, early-change width bumps, the
    cumulative raster cap, and truncated streams are all exercised."""
    import random
    import struct

    from icedb_spark.operators import decode_image_pixels

    def tiff_lzw(w, h, strips, predictor=1):
        nstrips = len(strips)
        nent = 10
        ifd_off = 8
        extra_off = ifd_off + 2 + 12 * nent + 4
        ex = bytearray(b"\x00" * (8 * nstrips))
        data_off = extra_off + len(ex)
        blob = bytearray()
        offs = []
        for s in strips:
            offs.append(data_off + len(blob))
            blob += s
        for i, (o, s) in enumerate(zip(offs, strips)):
            struct.pack_into("<I", ex, 4 * i, o)
            struct.pack_into("<I", ex, 4 * nstrips + 4 * i, len(s))

        def ent(tag, typ, cnt, val):
            return struct.pack("<HHI", tag, typ, cnt) + val

        def iv16(v):
            return struct.pack("<H", v) + b"\x00\x00"

        rps = (h + nstrips - 1) // nstrips
        ents = (
            ent(256, 3, 1, iv16(w)) + ent(257, 3, 1, iv16(h))
            + ent(258, 3, 1, iv16(8)) + ent(259, 3, 1, iv16(5))
            + ent(262, 3, 1, iv16(1))
            + ent(273, 4, nstrips,
                  struct.pack("<I", offs[0]) if nstrips == 1
                  else struct.pack("<I", extra_off))
            + ent(277, 3, 1, iv16(1)) + ent(278, 3, 1, iv16(rps))
            + ent(279, 4, nstrips,
                  struct.pack("<I", len(strips[0])) if nstrips == 1
                  else struct.pack("<I", extra_off + 4 * nstrips))
            + ent(317, 3, 1, iv16(predictor))
        )
        return (b"II*\x00" + struct.pack("<I", ifd_off)
                + struct.pack("<H", nent) + ents
                + struct.pack("<I", 0) + bytes(ex) + bytes(blob))

    rng = random.Random(3)
    # run-heavy content (exercises KwKwK and table growth) over two strips
    w, h = 16, 8
    px = []
    for y in range(h):
        v = rng.randint(0, 255)
        row = []
        while len(row) < w:
            run = min(rng.randint(1, 6), w - len(row))
            row += [v] * run
            v = (v + rng.randint(0, 2)) % 256
        px += row
    raw = bytes(px)
    s1, s2 = _tiff_lzw_compress(raw[:w * 4]), _tiff_lzw_compress(raw[w * 4:])
    assert decode_image_pixels(tiff_lzw(w, h, [s1, s2])) == px
    # predictor 2: store per-row deltas, decoder must undo them
    deltas = bytearray()
    for y in range(h):
        row = raw[y * w:(y + 1) * w]
        deltas.append(row[0])
        for i in range(1, w):
            deltas.append((row[i] - row[i - 1]) & 0xFF)
    sp = _tiff_lzw_compress(bytes(deltas))
    assert decode_image_pixels(tiff_lzw(w, h, [sp], predictor=2)) == px
    # long enough content to cross the 511-entry early-change boundary
    big_w, big_h = 64, 48
    big = bytes(rng.randint(0, 255) for _ in range(big_w * big_h))
    sb = _tiff_lzw_compress(big)
    assert decode_image_pixels(tiff_lzw(big_w, big_h, [sb])) == list(big)
    # zip-bomb shape: a valid stream expanding past the declared raster
    bomb = _tiff_lzw_compress(bytes([7]) * 4096)
    with pytest.raises(ValueError, match="exceeds raster"):
        decode_image_pixels(tiff_lzw(4, 4, [bomb]))
    # truncated stream: EOI never arrives
    with pytest.raises(ValueError, match="truncated TIFF LZW"):
        decode_image_pixels(tiff_lzw(w, h, [s1[:5], s2]))
    # unsupported predictor fails loudly
    with pytest.raises(ValueError, match="predictor"):
        decode_image_pixels(tiff_lzw(w, h, [s1, s2], predictor=3))


def test_decode_tiff_lzw_against_real_libtiff():
    """Two-direction cross-validation against the system libtiff (the
    VP8L lesson: a self-consistent encoder/decoder pair can share a
    convention bug — here the classic early-change off-by-one at the
    511/1023 width boundaries): real TIFFWriteEncodedStrip LZW output
    (with and without predictor 2) must decode through our pure-Python
    path, and our compressor's streams must read back exactly through
    TIFFReadEncodedStrip."""
    import ctypes
    import random
    import struct

    try:
        t = ctypes.CDLL("libtiff.so.6")
    except OSError:
        try:
            t = ctypes.CDLL("/usr/lib/x86_64-linux-gnu/libtiff.so.6")
        except OSError:
            pytest.skip("libtiff not available")
    from icedb_spark.operators import decode_image_pixels

    t.TIFFOpen.restype = ctypes.c_void_p
    t.TIFFOpen.argtypes = [ctypes.c_char_p, ctypes.c_char_p]
    t.TIFFSetField.restype = ctypes.c_int
    t.TIFFSetField.argtypes = [ctypes.c_void_p, ctypes.c_uint32]
    t.TIFFWriteEncodedStrip.restype = ctypes.c_ssize_t
    t.TIFFWriteEncodedStrip.argtypes = [
        ctypes.c_void_p, ctypes.c_uint32, ctypes.c_char_p, ctypes.c_ssize_t
    ]
    t.TIFFReadEncodedStrip.restype = ctypes.c_ssize_t
    t.TIFFReadEncodedStrip.argtypes = [
        ctypes.c_void_p, ctypes.c_uint32, ctypes.c_char_p, ctypes.c_ssize_t
    ]
    t.TIFFClose.argtypes = [ctypes.c_void_p]

    rng = random.Random(3)
    w, h = 64, 48  # random bytes cross the 511 AND 1023 width boundaries
    data = bytes(rng.randint(0, 255) for _ in range(w * h))

    def write_real(path, predictor=None):
        tif = t.TIFFOpen(path.encode(), b"w")
        assert tif
        for tag, val in [(256, w), (257, h), (258, 8), (259, 5),
                         (262, 1), (277, 1), (278, h), (284, 1)]:
            t.TIFFSetField(tif, tag, ctypes.c_int(val))
        if predictor:
            t.TIFFSetField(tif, 317, ctypes.c_int(predictor))
        assert t.TIFFWriteEncodedStrip(tif, 0, data, w * h) == w * h
        t.TIFFClose(tif)

    import tempfile
    d = tempfile.mkdtemp(prefix="lzwx-")
    write_real(f"{d}/plain.tif")
    assert decode_image_pixels(open(f"{d}/plain.tif", "rb").read()) \
        == list(data)
    write_real(f"{d}/pred2.tif", predictor=2)
    assert decode_image_pixels(open(f"{d}/pred2.tif", "rb").read()) \
        == list(data)

    # leg 2: our compressor through the REAL decoder
    def ent(tag, typ, cnt, val):
        return struct.pack("<HHI", tag, typ, cnt) + val

    def iv16(v):
        return struct.pack("<H", v) + b"\x00\x00"

    strip = _tiff_lzw_compress(data)
    nent = 9
    data_off = 8 + 2 + 12 * nent + 4
    ents = (
        ent(256, 3, 1, iv16(w)) + ent(257, 3, 1, iv16(h))
        + ent(258, 3, 1, iv16(8)) + ent(259, 3, 1, iv16(5))
        + ent(262, 3, 1, iv16(1))
        + ent(273, 4, 1, struct.pack("<I", data_off))
        + ent(277, 3, 1, iv16(1)) + ent(278, 3, 1, iv16(h))
        + ent(279, 4, 1, struct.pack("<I", len(strip)))
    )
    blob = (b"II*\x00" + struct.pack("<I", 8) + struct.pack("<H", nent)
            + ents + struct.pack("<I", 0) + strip)
    open(f"{d}/mine.tif", "wb").write(blob)
    tif = t.TIFFOpen(f"{d}/mine.tif".encode(), b"r")
    assert tif
    buf = ctypes.create_string_buffer(w * h)
    n = t.TIFFReadEncodedStrip(tif, 0, buf, w * h)
    t.TIFFClose(tif)
    assert n == w * h and buf.raw[:w * h] == data


def test_decode_bmp_8bit_palette():
    """8-bit palette BMP: BGRA color table after the DIB header,
    biClrUsed=0 meaning 256, bottom-up row order, 4-byte row padding,
    out-of-table index failure."""
    import struct

    from icedb_spark.operators import decode_image_pixels

    def bmp8(w, h, idx_rows, used=0, table_entries=256):
        row = (w + 3) // 4 * 4
        table = bytearray()
        for i in range(table_entries):
            table += bytes([(7 * i) % 256, (11 * i) % 256,
                            (13 * i) % 256, 0])  # B G R A
        offset = 14 + 40 + len(table)
        data = bytearray()
        for y in range(h - 1, -1, -1):  # bottom-up
            line = bytes(idx_rows[y]) + b"\x00" * (row - w)
            data += line
        size = offset + len(data)
        hdr = (b"BM" + struct.pack("<IHHI", size, 0, 0, offset)
               + struct.pack("<IiiHHIIiiII", 40, w, h, 1, 8, 0,
                             len(data), 0, 0, used, 0))
        return hdr + bytes(table) + bytes(data)

    idx_rows = [[0, 17, 255], [3, 128, 64]]
    got = decode_image_pixels(bmp8(3, 2, idx_rows))
    want = [
        (299 * ((13 * i) % 256) + 587 * ((11 * i) % 256)
         + 114 * ((7 * i) % 256)) // 1000
        for r in idx_rows for i in r
    ]
    assert got == want
    # biClrUsed=16 with an index past it: loud failure
    with pytest.raises(ValueError, match="palette index"):
        decode_image_pixels(
            bmp8(3, 2, [[0, 1, 15], [2, 3, 200]], used=16,
                 table_entries=16)
        )


def test_decode_bmp_rle_and_subbyte():
    """BI_RLE8/BI_RLE4 BMP decode (encoded runs, absolute mode with
    word alignment, end-of-line/bitmap escapes, the delta skip leaving
    palette-0 pixels) — pinned first by the documented Microsoft RLE8
    example, then by roundtrips through a spec-side compressor — plus
    1/4-bit UNCOMPRESSED palette BMPs (MSB-first sub-byte indices)."""
    import random
    import struct

    from icedb_spark.operators import decode_image_pixels

    def bmp(w, h, bpp, comp, payload, pal_entries):
        pal = b"".join(bytes([b_, g, r, 0]) for b_, g, r in pal_entries)
        off = 14 + 40 + len(pal)
        hdr = (b"BM" + struct.pack("<IHHI", off + len(payload), 0, 0, off)
               + struct.pack("<IiiHHIIiiII", 40, w, h, 1, bpp, comp,
                             len(payload), 0, 0, len(pal_entries), 0))
        return hdr + pal + payload

    def luma(bgr):
        return (299 * bgr[2] + 587 * bgr[1] + 114 * bgr[0]) // 1000

    pal = [(13 * j % 256, 11 * j % 256, 7 * j % 256) for j in range(256)]

    # the canonical MSDN RLE8 stream (w=20, h=3, bottom-up)
    ms = bytes([
        0x03, 0x04, 0x05, 0x06,
        0x00, 0x03, 0x45, 0x56, 0x67, 0x00,
        0x02, 0x78,
        0x00, 0x02, 0x05, 0x01,
        0x02, 0x78,
        0x00, 0x00,
        0x09, 0x1E,
        0x00, 0x01,
    ])
    rows_bottom_up = [
        [4] * 3 + [6] * 5 + [0x45, 0x56, 0x67] + [0x78] * 2 + [0] * 7,
        [0] * 18 + [0x78] * 2,
        [0x1E] * 9 + [0] * 11,
    ]
    want = [luma(pal[v]) for row in reversed(rows_bottom_up) for v in row]
    assert decode_image_pixels(bmp(20, 3, 8, 1, ms, pal)) == want

    # roundtrip both RLE modes through a spec-side compressor: encoded
    # runs on even rows, absolute chunks on odd rows
    def rle_compress(idx_rows, comp):
        out = bytearray()
        for yi, row in enumerate(idx_rows):  # bottom-up input
            if yi % 2 == 0:
                x = 0
                while x < len(row):
                    run = 1
                    while (x + run < len(row) and row[x + run] == row[x]
                           and run < 255):
                        run += 1
                    v = row[x] if comp == 1 else (
                        (row[x] << 4) | row[x]
                    )
                    out += bytes([run, v])
                    x += run
            else:
                x = 0
                while x < len(row):
                    nn = min(len(row) - x, 12)
                    if nn < 3:  # absolute mode needs >= 3
                        for v in row[x:x + nn]:
                            out += bytes([1, v if comp == 1 else v << 4])
                        x += nn
                        continue
                    out += bytes([0, nn])
                    if comp == 1:
                        chunk = bytes(row[x:x + nn])
                    else:
                        chunk = bytearray()
                        for i in range(0, nn, 2):
                            hi = row[x + i] << 4
                            lo = row[x + i + 1] if i + 1 < nn else 0
                            chunk.append(hi | lo)
                        chunk = bytes(chunk)
                    out += chunk + b"\x00" * (len(chunk) & 1)
                    x += nn
            out += b"\x00\x00"  # end of line
        out[-2:] = b"\x00\x01"  # last EOL becomes end of bitmap
        return bytes(out)

    rng = random.Random(5)
    w, h = 17, 6
    for comp, top in ((1, 255), (2, 15)):
        idx_rows = [
            [rng.randint(0, top) for _ in range(w)] for _ in range(h)
        ]
        payload = rle_compress(idx_rows, comp)
        wantr = [
            luma(pal[v]) for row in reversed(idx_rows) for v in row
        ]
        got = decode_image_pixels(
            bmp(w, h, 8 if comp == 1 else 4, comp, payload,
                pal if comp == 1 else pal[:16])
        )
        assert got == wantr, f"comp={comp}"

    # 1/4-bit uncompressed palette BMPs
    for bpp, top in ((1, 1), (4, 15)):
        rows = [[rng.randint(0, top) for _ in range(w)] for _ in range(h)]
        rowlen = (w * bpp + 31) // 32 * 4
        data = bytearray()
        for row in reversed(rows):
            line = bytearray(rowlen)
            for x, v in enumerate(row):
                shift = 8 - bpp - (x * bpp) % 8
                line[(x * bpp) // 8] |= v << shift
            data += line
        got = decode_image_pixels(
            bmp(w, h, bpp, 0, bytes(data), pal[:1 << bpp])
        )
        assert got == [
            luma(pal[v]) for row in rows for v in row
        ], f"bpp={bpp}"

    # hostile: RLE writing past the raster, truncated stream,
    # top-down RLE, RLE4 declared at 8 bpp
    with pytest.raises(ValueError, match="past the raster"):
        decode_image_pixels(bmp(4, 2, 8, 1, bytes([9, 1, 0, 1]), pal))
    with pytest.raises(ValueError, match="truncated BMP RLE"):
        decode_image_pixels(bmp(4, 2, 8, 1, bytes([2, 1]), pal))
    hdr_td = bytearray(bmp(4, 2, 8, 1, ms, pal))
    struct.pack_into("<i", hdr_td, 22, -2)
    with pytest.raises(ValueError, match="top-down RLE"):
        decode_image_pixels(bytes(hdr_td))
    with pytest.raises(ValueError, match="unsupported BMP profile"):
        decode_image_pixels(bmp(4, 2, 8, 2, ms, pal))


def test_decode_ico_favicons():
    """ICO/CUR decode: largest-entry selection (0 bytes mean 256),
    PNG-in-ICO dispatch, doubled-height DIB entries at 1/4/8-bit
    palette and 24/32-bit truecolor with 4-byte row padding and
    bottom-up order (AND mask ignored per the luma contract), plus
    hostile directory/raster failure modes."""
    import struct
    import zlib

    from icedb_spark.operators import decode_image_pixels

    def ico(entries, cur=False):
        # entries: list of (w, h, image_bytes)
        hdr = struct.pack("<HHH", 0, 2 if cur else 1, len(entries))
        dirs = b""
        off = 6 + 16 * len(entries)
        blobs = b""
        for w, h, img in entries:
            dirs += struct.pack(
                "<BBBBHHII", w % 256, h % 256, 0, 0, 1, 32, len(img), off
            )
            off += len(img)
            blobs += img
        return hdr + dirs + blobs

    def dib(w, h, bpp, rows, pal_entries=None, with_mask=True):
        # rows: top-down list of per-row index/BGR tuples
        hdr = struct.pack("<IiiHHIIiiII", 40, w, 2 * h, 1, bpp, 0,
                          0, 0, 0,
                          len(pal_entries) if pal_entries else 0, 0)
        pal = b""
        if pal_entries is not None:
            pal = b"".join(bytes([b_, g, r, 0]) for b_, g, r in pal_entries)
        rowlen = (w * bpp + 31) // 32 * 4
        xor = b""
        for row in reversed(rows):  # bottom-up
            line = bytearray(rowlen)
            for x, v in enumerate(row):
                if bpp >= 24:
                    p = x * (bpp // 8)
                    line[p:p + len(v)] = bytes(v)  # (B, G, R[, X])
                elif bpp == 8:
                    line[x] = v
                else:
                    shift = 8 - bpp - (x * bpp) % 8
                    line[(x * bpp) // 8] |= v << shift
            xor += bytes(line)
        maskrow = (w + 31) // 32 * 4
        mask = b"\xff" * (maskrow * h) if with_mask else b""
        return hdr + pal + xor + mask

    def luma(r, g, b_):
        return (299 * r + 587 * g + 114 * b_) // 1000

    # 4-bit palette DIB, 3x2 — sub-byte indices + padding + bottom-up
    pal = [(10, 20, 30), (200, 100, 50), (0, 0, 255), (255, 255, 255)]
    rows = [[0, 1, 2], [3, 1, 0]]
    img = dib(3, 2, 4, rows, pal)
    got = decode_image_pixels(ico([(3, 2, img)]))
    want = [luma(pal[v][2], pal[v][1], pal[v][0]) for r in rows for v in r]
    assert got == want
    # 1-bit palette
    img1 = dib(3, 2, 1, [[0, 1, 1], [1, 0, 1]], pal[:2])
    got1 = decode_image_pixels(ico([(3, 2, img1)]))
    assert got1 == [luma(*reversed(pal[v]))
                    for r in [[0, 1, 1], [1, 0, 1]] for v in r]
    # 8-bit palette and 24/32-bit truecolor
    img8 = dib(2, 2, 8, [[0, 3], [2, 1]], pal)
    assert decode_image_pixels(ico([(2, 2, img8)])) == [
        luma(*reversed(pal[v])) for v in (0, 3, 2, 1)
    ]
    bgr = [[(1, 2, 3), (4, 5, 6)], [(7, 8, 9), (10, 11, 12)]]
    for bpp in (24, 32):
        rows_t = [[v + (255,) * ((bpp - 24) // 8) for v in r] for r in bgr]
        imgt = dib(2, 2, bpp, rows_t)
        assert decode_image_pixels(ico([(2, 2, imgt)])) == [
            luma(v[2], v[1], v[0]) for r in bgr for v in r
        ]
    # largest entry wins; PNG-in-ICO dispatches to the PNG decoder
    def png_gray(w, h, vals):
        sig = b"\x89PNG\r\n\x1a\n"
        d = struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0)
        ihdr = (struct.pack(">I", 13) + b"IHDR" + d
                + struct.pack(">I", zlib.crc32(b"IHDR" + d)))
        raw = b"".join(
            b"\x00" + bytes(vals[y * w:(y + 1) * w]) for y in range(h)
        )
        z = zlib.compress(raw)
        idat = (struct.pack(">I", len(z)) + b"IDAT" + z
                + struct.pack(">I", zlib.crc32(b"IDAT" + z)))
        iend = struct.pack(">I", 0) + b"IEND" + struct.pack(
            ">I", zlib.crc32(b"IEND"))
        return sig + ihdr + idat + iend

    big = png_gray(4, 4, list(range(16)))
    both = ico([(2, 2, img8), (4, 4, big)])
    assert decode_image_pixels(both) == list(range(16))
    # CUR type works too
    assert decode_image_pixels(ico([(2, 2, img8)], cur=True)) is not None
    # hostile: truncated raster, bad palette index, empty directory
    with pytest.raises(ValueError, match="truncated ICO"):
        decode_image_pixels(ico([(3, 2, img[:20])]))
    bad = dib(2, 2, 8, [[0, 7], [1, 1]], pal[:2])
    with pytest.raises(ValueError, match="palette index"):
        decode_image_pixels(ico([(2, 2, bad)]))
    # weak-magic guard: a 00 00 01 00 prefix WITHOUT a plausible
    # directory is not claimed as ICO (falls through to None)
    assert decode_image_pixels(b"\x00\x00\x01\x00" + b"ab") is None
    assert decode_image_pixels(
        b"\x00\x00\x01\x00\x00\x00" + b"x" * 16
    ) is None  # count == 0
    # review finding: an MPEG-start-code-shaped stream (00 00 01 00
    # prefix, nonzero u16 at offset 4, junk directory) must NOT be
    # claimed as ICO — implausible entries fall through to None
    assert decode_image_pixels(
        b"\x00\x00\x01\x00" + b"\x00\x0f\xff\xf8" * 8
    ) is None


def test_decode_corruption_never_crashes():
    """Hostile-corpus robustness for the round-12 decoders: random
    truncations and byte flips of valid VP8L / progressive-JPEG /
    LZW-TIFF / ICO / G.711-WAV blobs must either decode or raise
    ValueError — never an IndexError/KeyError/MemoryError escape, never
    unbounded allocation (each decode bounded by the geometry caps)."""
    import random
    import struct

    from __spark_entry__ import (
        _encode_progressive_jpeg,
        _encode_webp_lossless,
    )
    from icedb_spark.operators import decode_image_pixels, decode_wav_samples

    rng = random.Random(11)
    w, h = 13, 9
    px = [
        0xFF000000 | (rng.randint(0, 255) << 16)
        | (rng.randint(0, 255) << 8) | rng.randint(0, 255)
        for _ in range(w * h)
    ]
    tw, th = (w + 3) // 4, (h + 3) // 4
    grid = [[[rng.randint(-20, 20)] + [0] * 63 for _ in range(2)]
            for _ in range(2)]
    gray = bytes(rng.randint(0, 255) for _ in range(64))
    nent = 9
    data_off = 8 + 2 + 12 * nent + 4
    strip = _tiff_lzw_compress(gray)

    def ent(tag, typ, cnt, val):
        return struct.pack("<HHI", tag, typ, cnt) + val

    def iv16(v):
        return struct.pack("<H", v) + b"\x00\x00"

    tiff_blob = (
        b"II*\x00" + struct.pack("<I", 8) + struct.pack("<H", nent)
        + ent(256, 3, 1, iv16(8)) + ent(257, 3, 1, iv16(8))
        + ent(258, 3, 1, iv16(8)) + ent(259, 3, 1, iv16(5))
        + ent(262, 3, 1, iv16(1))
        + ent(273, 4, 1, struct.pack("<I", data_off))
        + ent(277, 3, 1, iv16(1)) + ent(278, 3, 1, iv16(8))
        + ent(279, 4, 1, struct.pack("<I", len(strip)))
        + struct.pack("<I", 0) + strip
    )
    ico_blob = (
        struct.pack("<HHH", 0, 1, 1)
        + struct.pack("<BBBBHHII", 2, 2, 0, 0, 1, 32, 40 + 16 + 16, 22)
        + struct.pack("<IiiHHIIiiII", 40, 2, 4, 1, 8, 0, 0, 0, 0, 2, 0)
        + bytes([1, 2, 3, 0, 4, 5, 6, 0])
        + bytes([0, 1, 0, 0]) + bytes([1, 0, 0, 0]) + b"\xff" * 8
    )
    blobs = [
        _encode_webp_lossless(w, h, px, cache_bits=3, lz77=True,
                              subgreen=True),
        _encode_webp_lossless(
            w, h, px, predictor_bits=2,
            predictor_modes=[i % 14 for i in range(tw * th)],
        ),
        _encode_progressive_jpeg(
            16, 16, [{"id": 1, "h": 1, "v": 1, "tq": 0, "grid": grid}],
            {0: [8] * 64},
        ),
        tiff_blob,
        ico_blob,
        # RLE8 BMP (the MSDN example stream under a real header)
        (b"BM" + struct.pack("<IHHI", 0, 0, 0, 14 + 40 + 1024)
         + struct.pack("<IiiHHIIiiII", 40, 20, 3, 1, 8, 1, 24, 0, 0, 0, 0)
         + bytes(1024)
         + bytes([3, 4, 5, 6, 0, 3, 0x45, 0x56, 0x67, 0, 2, 0x78,
                  0, 2, 5, 1, 2, 0x78, 0, 0, 9, 0x1E, 0, 1])),
    ]
    for blob in blobs:
        for _ in range(250):
            b = bytearray(blob)
            kind = rng.randint(0, 2)
            if kind == 0:
                b = b[:rng.randint(1, len(b) - 1)]
            else:
                for _ in range(1 if kind == 1 else 4):
                    b[rng.randint(0, len(b) - 1)] = rng.randint(0, 255)
            try:
                decode_image_pixels(bytes(b))
            except ValueError:
                pass
    # animated GIF: the compositing decoder shares the contract
    from icedb_spark.operators import decode_gif_frames

    agif = _agif(6, 4, [(0, 0, 0), (255, 0, 0)], [
        {"rect": (0, 0, 6, 4), "indices": [1] * 24, "delay_cs": 3},
        {"rect": (1, 1, 2, 2), "indices": [0, 1, 1, 0], "transparent": 0,
         "disposal": 2},
    ])
    for _ in range(250):
        b = bytearray(agif)
        if rng.randint(0, 1):
            b = b[:rng.randint(1, len(b) - 1)]
        else:
            b[rng.randint(0, len(b) - 1)] = rng.randint(0, 255)
        try:
            decode_gif_frames(bytes(b))
        except ValueError:
            pass
        try:
            decode_image_pixels(bytes(b))  # still-image arm, same blob
        except ValueError:
            pass
    # G.711 WAV: same contract through decode_wav_samples
    wav = _wav_raw(
        struct.pack("<HHIIHH", 7, 1, 8000, 8000, 1, 8), bytes(range(64))
    )
    for _ in range(250):
        b = bytearray(wav)
        if rng.randint(0, 1):
            b = b[:rng.randint(1, len(b) - 1)]
        else:
            b[rng.randint(0, len(b) - 1)] = rng.randint(0, 255)
        try:
            decode_wav_samples(bytes(b))
        except ValueError:
            pass


def test_decode_tiff_unsupported_profiles_raise():
    """Recognized TIFF container with an unsupported or hostile profile
    fails loudly: compression, non-8-bit samples, claimed-huge geometry
    (capped BEFORE allocation), truncated IFD/strips, missing required
    tags; unknown containers still return None."""
    import struct

    from icedb_spark.operators import decode_image_pixels

    good = _tiff(4, 4, 1, 1, bytes(range(16)), "<", 2, [1, 0], 3)
    assert decode_image_pixels(good) == list(range(16))

    # compression != 1 (entry 259 is 4th in sorted order; value at +8)
    bad = bytearray(good)
    off = 8 + 2 + 12 * 3 + 8
    assert struct.unpack_from("<H", bad, off - 8 + 0)[0] == 259
    struct.pack_into("<H", bad, off, 5)
    with pytest.raises(ValueError):
        decode_image_pixels(bytes(bad))
    # geometry cap fires before any strip allocation
    with pytest.raises(ValueError):
        decode_image_pixels(_tiff(65535, 65535, 1, 1, b"", "<", 65535))
    with pytest.raises(ValueError):  # truncated IFD
        decode_image_pixels(good[:40])
    with pytest.raises(ValueError):  # truncated strip payload
        decode_image_pixels(good[:-6])
    with pytest.raises(ValueError):  # header too short
        decode_image_pixels(b"II*\x00\x08\x00")
    # wrong magic -> unrecognized container, not an error
    assert decode_image_pixels(b"II+\x00" + good[4:]) is None


def test_perceptual_hash_real_decode_matches_reference(spark):
    """perceptual_hash(use_fake=False) over genuine BMP bytes equals the
    pure-Python pipeline (decode -> bucket-mean pool -> threshold)."""
    from icedb_spark.operators import decode_image_pixels, perceptual_hash
    from icedb_spark.operators.multimodal import _pool_pixels

    def img(seed):
        rows = [[(seed * 37 + y * 8 + x) % 256 for x in range(8)]
                for y in range(8)]
        return _bmp24(8, 8, rows, top_down=(seed % 2 == 0))

    media = spark.createDataFrame(
        [(i, img(i)) for i in range(1, 7)], "media_id long, content binary"
    )
    got = {
        r["media_id"]: r["phash"]
        for r in perceptual_hash(media, bits=60, use_fake=False).collect()
    }
    for i in range(1, 7):
        px = _pool_pixels(decode_image_pixels(img(i)), 60)
        total = sum(px)
        expect = 0
        for p in px:
            expect = (expect << 1) | (1 if p * 60 > total else 0)
        assert got[i] == expect, i


def test_ahash_from_pixels_matches_blob_variant_and_validates(spark):
    from icedb_spark.operators import ahash_from_pixels, perceptual_hash

    media = spark.createDataFrame(
        [(1, b"alpha"), (2, b"beta")], "media_id long, content binary"
    )
    # rebuild the blob variant's fake pixels as arrays -> identical hashes
    import hashlib

    rows = []
    for mid, blob in [(1, b"alpha"), (2, b"beta")]:
        h = hashlib.md5(blob).digest()
        rows.append((mid, [h[i % 16] for i in range(60)]))
    arr = spark.createDataFrame(rows, "media_id long, pixels array<int>")
    a = {r["media_id"]: r["phash"] for r in ahash_from_pixels(arr).collect()}
    b = {r["media_id"]: r["phash"] for r in perceptual_hash(media).collect()}
    assert a == b
    # short arrays fail loudly
    bad = spark.createDataFrame([(9, [1, 2, 3])], "media_id long, pixels array<int>")
    with pytest.raises(Exception):
        ahash_from_pixels(bad).collect()


def test_hamming_pairs_generic_blocking(spark):
    from icedb_spark.operators import hamming_pairs

    sk = spark.createDataFrame(
        [(1, 0b111100001111), (2, 0b111100001110), (3, 0b000011110000)],
        "id long, sketch long",
    )
    out = hamming_pairs(sk, "id", "sketch", bits=12, max_hamming=2,
                        band_bits=4).collect()
    assert [(r["id_a"], r["id_b"], r["hamming"]) for r in out] == [(1, 2, 1)]
    with pytest.raises(ValueError, match="bands"):
        hamming_pairs(sk, "id", "sketch", bits=12, max_hamming=5, band_bits=4)


def test_cosine_topk_ivf_tuned_recall(spark, emb):
    """The s06 production preset (64 cells, nprobe=44) must hold recall@5
    >= 0.9 against the exact baseline (measured 0.930 at sf0.1; this
    asserts the same bar on the test corpus)."""
    from icedb_spark.operators import cosine_topk_ivf

    queries = emb.where(F.col("vec_id") % 10 == 0)
    exact, tuned = {}, {}
    for tgt, fn in (
        (exact, lambda: cosine_topk(emb, queries, k=5)),
        (
            tuned,
            lambda: cosine_topk_ivf(
                emb, queries, n_centroids=64, nprobe=44, k=5
            ),
        ),
    ):
        for r in fn().collect():
            tgt.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    hits = sum(len(exact[q] & tuned.get(q, set())) for q in exact)
    assert hits / sum(len(exact[q]) for q in exact) >= 0.9


def test_trained_ivf_pays_on_clustered_corpus(spark, sf_dir):
    """The s08 demonstration: on a corpus WITH cluster structure, the
    k-means-trained codebook reaches recall@5 >= 0.9 at nprobe/C = 0.125
    (2 of 16 cells) and beats the untrained lowest-id codebook at equal
    coverage — on the flat corpus the untrained codebook needs ~0.69
    coverage for the same bar (COVERAGE.md recall grid). Measured here:
    trained 0.92 vs untrained 0.88 at sf0.001; 0.96 vs 0.885 at sf0.1."""
    from icedb_spark.operators import (
        cosine_topk, cosine_topk_ivf, cosine_topk_ivf_trained,
    )
    from icedb_spark.testdata import load_clustered_embeddings

    emb = load_clustered_embeddings(spark, sf_dir).cache()
    queries = emb.where(F.col("vec_id") % 10 == 0)

    def pairs(df):
        return {(r["query_id"], r["neighbor_id"]) for r in df.collect()}

    truth = pairs(cosine_topk(emb, queries, k=5))
    trained = pairs(cosine_topk_ivf_trained(
        emb, queries, dim=64, n_centroids=16, nprobe=2, iters=2, k=5
    ))
    untrained = pairs(cosine_topk_ivf(
        emb, queries, n_centroids=16, nprobe=2, k=5
    ))
    r_trained = len(trained & truth) / len(truth)
    r_untrained = len(untrained & truth) / len(truth)
    assert r_trained >= 0.9
    assert r_trained > r_untrained


def test_cosine_topk_ivf_trained_deterministic_and_recall(spark, emb):
    """The k-means-trained IVF must (a) be run-to-run deterministic (the
    rounding ladder makes float summation order irrelevant), (b) return
    the standard ANN schema, (c) not lose recall vs the UNTRAINED
    codebook at the same nprobe on this corpus."""
    from icedb_spark.operators import cosine_topk_ivf, cosine_topk_ivf_trained

    queries = emb.where(F.col("vec_id") % 10 == 0)

    def run():
        return cosine_topk_ivf_trained(
            emb, queries, dim=64, n_centroids=64, nprobe=8, iters=2, k=5
        )

    a = sorted(map(tuple, run().collect()))
    b = sorted(map(tuple, run().collect()))
    assert a == b  # bit-identical across runs
    assert run().columns == ["query_id", "neighbor_id", "cosine", "rank"]

    exact, untrained, trained = {}, {}, {}
    for tgt, fn in (
        (exact, lambda: cosine_topk(emb, queries, k=5)),
        (
            untrained,
            lambda: cosine_topk_ivf(
                emb, queries, n_centroids=64, nprobe=8, k=5
            ),
        ),
        (trained, run),
    ):
        for r in fn().collect():
            tgt.setdefault(r["query_id"], set()).add(r["neighbor_id"])

    def recall(approx):
        hits = sum(len(exact[q] & approx.get(q, set())) for q in exact)
        return hits / sum(len(exact[q]) for q in exact)

    assert recall(trained) >= recall(untrained)


def test_semantic_decontaminate_exact_and_lsh(spark):
    """Exact mode: every corpus vector gets its true max cosine and the
    threshold flag. LSH mode: flagged rows are a SUBSET of exact's
    (candidates only lose recall, never gain), and never-compared rows
    surface with NULL max_cosine and contaminated=False."""
    import math

    from icedb_spark.operators import semantic_decontaminate

    def vec(theta):
        return [math.cos(theta), math.sin(theta)] + [0.0] * 6

    rows = (
        [(i, vec(0.01 * i), "corpus") for i in range(1, 6)]     # near 0 rad
        + [(10 + i, vec(1.5 + 0.01 * i), "corpus") for i in range(3)]
        + [(100, vec(0.0), "bench")]                            # 0 rad probe
    )
    df = spark.createDataFrame(
        [(i, v) for i, v, _ in rows], "vec_id long, embedding array<double>"
    )
    corpus = df.where(F.col("vec_id") < 100)
    bench = df.where(F.col("vec_id") >= 100)
    exact = {
        r["vec_id"]: r
        for r in semantic_decontaminate(
            corpus, bench, threshold=0.99, vec_col="embedding"
        ).collect()
    }
    assert len(exact) == 8
    for i in range(1, 6):  # cos(0.05) ~ 0.9988 > 0.99
        assert exact[i]["contaminated"], exact[i]
    for i in (10, 11, 12):  # cos(1.5) ~ 0.07
        assert not exact[i]["contaminated"]
        assert exact[i]["max_cosine"] < 0.1
    lsh = {
        r["vec_id"]: r
        for r in semantic_decontaminate(
            corpus, bench, threshold=0.99, vec_col="embedding",
            dim=8, n_planes=4,
        ).collect()
    }
    assert len(lsh) == 8
    flagged = {k for k, r in lsh.items() if r["contaminated"]}
    assert flagged <= {k for k, r in exact.items() if r["contaminated"]}
    for k, r in lsh.items():
        if r["max_cosine"] is None:  # never shared a bucket
            assert not r["contaminated"]


def test_semdedup_drops_planted_semantic_clones(spark, sf_dir):
    """SemDeDup on a corpus with planted semantic clones (scaled +
    perturbed copies — high cosine, zero shared shingles): every clone
    pair loses exactly its nearer-to-centroid member, non-clones all
    survive (the plain corpus has no >= 0.95 pairs), and the operator is
    deterministic."""
    from icedb_spark.operators import semdedup
    from icedb_spark.testdata import load_table

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    # plant: every vec_id % 10 == 7 becomes a 0.98-scaled copy of the
    # vector 7 below it (cosine ~1.0 to its base)
    base = emb.select((F.col("vec_id") + 7).alias("vec_id"),
                      F.col("v").alias("ov"))
    corpus = (
        emb.join(base, "vec_id", "left")
        .select(
            "vec_id",
            F.when(
                (F.col("vec_id") % 10 == 7) & F.col("ov").isNotNull(),
                F.transform("ov", lambda x: x * 0.98),
            ).otherwise(F.col("v")).alias("embedding"),
        )
    )
    out = semdedup(corpus, dim=64, n_clusters=8, iters=2, threshold=0.95)
    rows = {r["vec_id"]: r for r in out.collect()}
    n = len(rows)
    clone_ids = {i for i in rows if i % 10 == 7 and i >= 7}
    dropped = {i for i, r in rows.items() if not r["kept"]}
    # every clone pair loses exactly one member; scaling preserves the
    # direction so base and clone share a cell and cent_cosine — the id
    # tiebreak keeps the SMALLER id (the base)
    assert dropped == clone_ids, (sorted(dropped)[:5], len(dropped))
    assert sum(1 for r in rows.values() if r["kept"]) == n - len(clone_ids)
    again = {
        r["vec_id"]: r
        for r in semdedup(
            corpus, dim=64, n_clusters=8, iters=2, threshold=0.95
        ).collect()
    }
    assert {i: (r["cell"], r["kept"]) for i, r in rows.items()} == {
        i: (r["cell"], r["kept"]) for i, r in again.items()
    }


def test_semdedup_plans_equijoin_no_cartesian(spark, sf_dir):
    """The pairwise stage must be an equi-join on the cluster id
    (candidate volume ~ N^2/C), never a global cartesian; the codebook
    rides as a broadcast/local relation."""
    from icedb_spark.operators import semdedup
    from icedb_spark.testdata import load_clustered_embeddings

    emb = load_clustered_embeddings(spark, sf_dir)
    # optimization r12: the assignment is deliberately NOT persisted —
    # an experiment that cached it leaked the block past the caller's
    # action and slowed the whole session (cache lifetime is the
    # caller's per the module contract). Pin the leak out by the storage
    # DELTA, not by grepping the plan for InMemoryTableScan (the shared
    # session's CacheManager substitutes cached leaves from OTHER tests
    # into this plan) and not by the absolute block count (earlier tests
    # may leave raw-RDD blocks that catalog.clearCache doesn't touch).
    # ... and by the set of ADDED rdd ids, not the raw count: the context
    # cleaner may asynchronously drop OTHER tests' blocks between the two
    # samples (observed as a full-suite flake in r13), which only ever
    # REMOVES ids — a leak from this operator can only ADD one.
    spark.catalog.clearCache()
    sc = spark.sparkContext._jsc.sc()
    ids_before = {i.id() for i in sc.getRDDStorageInfo()}
    df = semdedup(emb, dim=64, n_clusters=16, iters=1, threshold=0.999)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan
    assert "avg(" not in plan  # training ran once, collected
    df.collect()
    ids_after = {i.id() for i in sc.getRDDStorageInfo()}
    assert not (ids_after - ids_before)


def test_semantic_coverage_sample_equalizes_regions(spark, sf_dir):
    """Cluster-balanced sampling must hand every semantic region the
    same budget regardless of the corpus's density: exactly per_cell
    rows per non-tiny cell, prototypes ordered by centroid-cosine, and
    the whole thing deterministic."""
    from collections import Counter

    from icedb_spark.operators import semantic_coverage_sample
    from icedb_spark.testdata import load_clustered_embeddings

    emb = load_clustered_embeddings(spark, sf_dir)
    out = semantic_coverage_sample(
        emb, dim=64, per_cell=3, n_clusters=16, iters=2
    )
    rows = out.collect()
    by_cell = Counter(r["cell"] for r in rows)
    assert all(v <= 3 for v in by_cell.values())
    assert len(by_cell) >= 12  # (nearly) every region represented
    # rank 1 has the highest centroid-cosine within its cell
    best = {}
    for r in rows:
        cur = best.get(r["cell"])
        if cur is None or r["cent_cosine"] > cur[0] or (
            r["cent_cosine"] == cur[0] and r["vec_id"] < cur[1]
        ):
            best[r["cell"]] = (r["cent_cosine"], r["vec_id"])
    for r in rows:
        if r["cell_rank"] == 1:
            assert (r["cent_cosine"], r["vec_id"]) == best[r["cell"]]
    again = semantic_coverage_sample(
        emb, dim=64, per_cell=3, n_clusters=16, iters=2
    ).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))


def test_semantic_coverage_sample_skew_proof(spark):
    """VERDICT r5 #4: a planted 90%-one-cell skew. Selection must stay
    bit-identical to the full ranking (the two-level salted top-k loses
    no survivor) while the window over the RAW corpus partitions on the
    salt — no single task sorts the dominant cell."""
    import random
    from collections import Counter

    from icedb_spark.operators import semantic_coverage_sample

    rnd = random.Random(3)
    rows = []
    for i in range(1000):
        v = [1.0, 0.0, 0.0, 0.0] if i < 900 else [0.0, 1.0, 0.0, 0.0]
        rows.append((i, [x + rnd.uniform(-0.05, 0.05) for x in v]))
    emb = spark.createDataFrame(
        rows, "vec_id bigint, embedding array<double>"
    )
    out = semantic_coverage_sample(
        emb, dim=4, per_cell=5, n_clusters=2, iters=2
    )
    got = sorted(
        (r["vec_id"], r["cell"], r["cell_rank"]) for r in out.collect()
    )
    # reference: a per_cell that covers everything yields the exact full
    # per-cell ranking; its top-5 is the ground truth
    ref = semantic_coverage_sample(
        emb, dim=4, per_cell=10**6, n_clusters=2, iters=2
    ).collect()
    expect = sorted(
        (r["vec_id"], r["cell"], r["cell_rank"])
        for r in ref
        if r["cell_rank"] <= 5
    )
    assert got == expect
    by_cell = Counter(c for _, c, _ in got)
    assert sorted(by_cell.values()) == [5, 5]


def test_semantic_coverage_plans_salted_window(spark, sf_dir):
    """Plan shape: two windows; the one over the raw corpus (innermost,
    printed last) partitions on (cell, _salt) so a skewed cell spreads
    over `salt` sort tasks; the cell-only window ranks only the
    pre-filtered ≤ salt*per_cell finalists."""
    from icedb_spark.operators import semantic_coverage_sample
    from icedb_spark.testdata import load_clustered_embeddings

    emb = load_clustered_embeddings(spark, sf_dir)
    df = semantic_coverage_sample(
        emb, dim=64, per_cell=3, n_clusters=16, iters=1
    )
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    wins = [
        line
        for line in plan.splitlines()
        if "windowspecdefinition" in line
    ]
    assert len(wins) == 2, plan
    assert "_salt" in wins[-1]  # raw-corpus window is salted
    assert "_salt" not in wins[0]  # finalist window: bounded input


def test_semdedup_max_cell_caps_with_drop_accounting(spark, sf_dir):
    """VERDICT r5 #5: ``max_cell`` bounds the in-cell self-join — members
    of oversized cells are excluded from pairing and kept, a generous
    cap changes nothing, and ``semdedup_cell_stats`` accounts for what a
    cap would drop (sizes match the operator's own assignment)."""
    from collections import Counter

    from icedb_spark.operators import semdedup, semdedup_cell_stats
    from icedb_spark.testdata import load_table

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    base = emb.select(
        (F.col("vec_id") + 7).alias("vec_id"), F.col("v").alias("ov")
    )
    corpus = (
        emb.join(base, "vec_id", "left")
        .select(
            "vec_id",
            F.when(
                (F.col("vec_id") % 10 == 7) & F.col("ov").isNotNull(),
                F.transform("ov", lambda x: x * 0.98),
            ).otherwise(F.col("v")).alias("embedding"),
        )
    )
    kw = dict(dim=64, n_clusters=8, iters=2, threshold=0.95)
    uncapped = semdedup(corpus, **kw).collect()
    assert any(not r["kept"] for r in uncapped)  # clones found
    # cap of 1: every cell is oversized -> no pairing, everything kept
    capped = semdedup(corpus, **kw, max_cell=1).collect()
    assert len(capped) == len(uncapped)
    assert all(r["kept"] for r in capped)
    # generous cap: identical to uncapped
    roomy = semdedup(corpus, **kw, max_cell=10**9).collect()
    assert sorted(map(tuple, roomy)) == sorted(map(tuple, uncapped))
    # drop accounting: the histogram matches the operator's assignment
    sizes = {
        r["cell"]: r["n_vectors"]
        for r in semdedup_cell_stats(
            corpus, dim=64, n_clusters=8, iters=2
        ).collect()
    }
    assert sum(sizes.values()) == corpus.count()
    assert sizes == dict(Counter(r["cell"] for r in uncapped))


def test_bm25_matches_bruteforce(spark):
    """BM25 on a tiny hand-checkable corpus equals a pure-Python
    recompute (same tokenizer, RSJ plus-one idf, exact-division avgdl),
    ranks the obviously-relevant doc first, and validates inputs."""
    import math

    from icedb_spark.operators import bm25_score

    texts = {
        1: "spark merge table fast fast",
        2: "slow scan of a big table",
        3: "fast fast fast merge merge",
        4: "nothing relevant here at all",
        5: "table table table table scan",
    }
    df = spark.createDataFrame(
        [(i, t) for i, t in texts.items()], "doc_id long, text string"
    )
    out = bm25_score(df, "fast table merge scan", top_k=10)
    got = [(r["doc_id"], r["bm25"], r["n_terms_hit"]) for r in out.collect()]

    # brute force
    toks = {i: t.lower().split() for i, t in texts.items()}
    n = len(toks)
    avgdl = sum(len(v) for v in toks.values()) / n
    k1, b = 1.2, 0.75
    q = sorted(set("fast table merge scan".split()))
    dfreq = {t: sum(1 for v in toks.values() if t in v) for t in q}
    expect = []
    for i, v in toks.items():
        s, hits = 0.0, 0
        for t in q:
            tf = v.count(t)
            if not tf or not dfreq[t]:
                continue
            hits += 1
            idf = math.log(1.0 + (n - dfreq[t] + 0.5) / (dfreq[t] + 0.5))
            s += idf * (tf * (k1 + 1.0)) / (
                tf + k1 * ((1.0 - b) + b * len(v) / avgdl)
            )
        if hits:
            expect.append((i, round(s, 6), hits))
    expect.sort(key=lambda r: (-r[1], r[0]))
    assert got == expect
    assert got[0][0] in (1, 3)  # the stacked-term docs lead
    with pytest.raises(ValueError, match="query"):
        bm25_score(df, "   ")


def test_bm25_plans_broadcast_idf_no_cartesian(spark, sf_dir):
    """The idf map must ride a broadcast join and the explode must be
    restricted to query terms (filter before explode, so non-matching
    tokens are shed in the scan stage)."""
    from icedb_spark.operators import bm25_score
    from icedb_spark.testdata import load_table

    docs = load_table(spark, sf_dir, "documents")
    out = bm25_score(docs, "fast table merge scan")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan
    assert "TakeOrdered" in plan  # top-k, never a full sort


# ----------------------------------------------- exact-substring dedup


def test_duplicated_spans_hand_values(spark):
    """Cross-doc, within-doc, whole-doc, and no-repeat cases with
    hand-computed maximal spans (k=8)."""
    from icedb_spark.operators import duplicated_spans

    docs = [
        (1, "alpha beta gamma delta epsilon zeta eta theta unique one two"),
        (2, "prefix words here alpha beta gamma delta epsilon zeta eta "
            "theta and more"),
        (3, "totally different text with no repeats at all whatsoever ok"),
        (4, "alpha beta gamma delta epsilon zeta eta theta"),
        (5, "self repeat block one two three four five six seven eight "
            "middle self repeat block one two three four five six seven "
            "eight"),
    ]
    df = spark.createDataFrame(docs, "doc_id int, text string")
    got = {
        (r["doc_id"], r["span_start"], r["span_end"],
         r["span_tokens"], r["n_shingles"])
        for r in duplicated_spans(df, k=8).collect()
    }
    assert got == {
        (1, 1, 8, 8, 1),    # shared 8-gram at doc start
        (2, 4, 11, 8, 1),   # same 8-gram mid-doc
        (4, 1, 8, 8, 1),    # the whole doc IS the span
        (5, 1, 11, 11, 4),  # within-doc repeat: both copies, islands
        (5, 13, 23, 11, 4),  # merged from 4 overlapping shingles each
    }
    # keep-first: each digest's smallest (id, pos) occurrence is exempt
    kept_first = {
        (r["doc_id"], r["span_start"], r["span_end"])
        for r in duplicated_spans(df, k=8, exclude_first=True).collect()
    }
    assert kept_first == {(2, 4, 11), (4, 1, 8), (5, 13, 23)}
    # min_docs=2 restricts to cross-document repeats: doc 5's
    # within-doc-only block disappears entirely
    cross = {
        (r["doc_id"], r["span_start"])
        for r in duplicated_spans(df, k=8, min_docs=2).collect()
    }
    assert cross == {(1, 1), (2, 4), (4, 1)}


def test_drop_duplicated_spans_accounting(spark):
    """clean_text + per-doc accounting match keep-first span removal;
    docs without spans pass through with zero accounting."""
    from icedb_spark.operators import drop_duplicated_spans

    docs = [
        (1, "alpha beta gamma delta epsilon zeta eta theta tail one"),
        (2, "head words alpha beta gamma delta epsilon zeta eta theta"),
        (3, "no duplicate content in this document at all whatsoever"),
    ]
    df = spark.createDataFrame(docs, "doc_id int, text string")
    got = {r["doc_id"]: r for r in drop_duplicated_spans(df, k=8).collect()}
    assert got[1]["dropped_spans"] == 0
    assert got[1]["clean_text"] == docs[0][1]
    assert got[2]["dropped_spans"] == 1
    assert got[2]["dropped_tokens"] == 8
    assert got[2]["kept_tokens"] == 2
    assert got[2]["clean_text"] == "head words"
    assert got[3]["dropped_spans"] == 0
    assert got[3]["kept_tokens"] == 9
    # token conservation: kept + dropped == doc length
    for _id, text in docs:
        r = got[_id]
        assert r["kept_tokens"] + r["dropped_tokens"] == len(text.split())


def test_duplicated_spans_short_docs_excluded(spark):
    """Docs shorter than k tokens contribute no shingles (and cannot
    crash the sequence expression with a negative length)."""
    from icedb_spark.operators import duplicated_spans

    df = spark.createDataFrame(
        [(1, "too short"), (2, "also too short"), (3, "")],
        "doc_id int, text string",
    )
    assert duplicated_spans(df, k=8).count() == 0


# ----------------------------------------------- dedup against an index


def _mk_docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_dedup_against_index_hand_values(spark):
    from icedb_spark.operators import dedup_against_index, minhash_index_rows

    old = _mk_docs(spark, [
        (2, "the quick brown fox jumps over the lazy dog near the river"),
        (4, "completely different content about spark dataframes shuffles"),
    ])
    batch = _mk_docs(spark, [
        (11, "the quick brown fox jumps over the lazy dog near the river"),
        (13, "fresh new batch document about parquet row groups footers"),
        (15, "fresh new batch document about parquet row groups footers"),
        (17, "totally novel text never seen before anywhere in corpus"),
    ])
    got = {
        r["doc_id"]: (r["is_dup"], r["dup_of"], r["est_jaccard"])
        for r in dedup_against_index(batch, minhash_index_rows(old)).collect()
    }
    assert got[11] == (True, 2, 1.0)    # exact dup of an indexed doc
    assert got[13] == (False, None, None)
    assert got[15] == (True, 13, 1.0)   # dup of a smaller-id batch mate
    assert got[17] == (False, None, None)


def test_dedup_against_index_incremental_equals_oneshot(spark):
    """The contract VERDICT r6 #4 names: splitting ingestion into two
    batches (indexing the first before deduping the second) yields the
    same verdicts as one combined batch — because the rule is
    order-free (any smaller-id or indexed mate) and the index stores
    EVERY seen signature, kept or dropped."""
    from icedb_spark.operators import dedup_against_index, minhash_index_rows

    old = _mk_docs(spark, [
        (1, "indexed alpha document about rivers and mountains in spring"),
        (2, "indexed beta document covering parquet metadata and footers"),
    ])
    batch_a = _mk_docs(spark, [
        (10, "indexed alpha document about rivers and mountains in spring"),
        (12, "novel gamma content unlike anything indexed before today"),
    ])
    batch_b = _mk_docs(spark, [
        (20, "novel gamma content unlike anything indexed before today"),
        (22, "indexed alpha document about rivers and mountains in spring"),
        (24, "entirely fresh delta text with no mates anywhere at all"),
    ])
    idx0 = minhash_index_rows(old)
    oneshot = {
        r["doc_id"]: (r["is_dup"], r["dup_of"])
        for r in dedup_against_index(
            batch_a.unionByName(batch_b), idx0
        ).collect()
    }
    got_a = {
        r["doc_id"]: (r["is_dup"], r["dup_of"])
        for r in dedup_against_index(batch_a, idx0).collect()
    }
    idx1 = idx0.unionByName(minhash_index_rows(batch_a))
    got_b = {
        r["doc_id"]: (r["is_dup"], r["dup_of"])
        for r in dedup_against_index(batch_b, idx1).collect()
    }
    assert {**got_a, **got_b} == oneshot
    assert oneshot[10] == (True, 1)
    assert oneshot[20] == (True, 12)   # mate was itself a kept batch doc
    assert oneshot[22] == (True, 1)    # min qualifying mate wins
    assert oneshot[24] == (False, None)


# --------------------------------------------------------- BPE subword


def test_bpe_train_textbook_merges(spark):
    """The classic low/lower/newest corpus: first merges must be the
    highest-count pairs with deterministic tie-breaks, and apply_bpe
    must replay them to the expected subword counts."""
    from icedb_spark.operators import apply_bpe, bpe_train

    docs = spark.createDataFrame(
        [
            (1, "low lower lowest low low slow slower"),
            (2, "new newer newest new knew news slow"),
            (3, "low slow lower newer new knew lowest"),
        ],
        "doc_id int, text string",
    )
    mdf, merges = bpe_train(docs, num_merges=6, min_pair_count=1)
    rows = [(r["rank"], r["left"], r["right"], r["pair_count"])
            for r in mdf.orderBy("rank").collect()]
    assert rows[0] == (0, "l", "o", 12)   # 'lo' in every low/slow form
    assert rows[1] == (1, "lo", "w", 12)
    assert merges == [(r[1], r[2]) for r in rows]
    enc = {
        r["doc_id"]: (r["n_words"], r["n_subwords"])
        for r in apply_bpe(docs, merges).collect()
    }
    # doc 1: low=1 lower=3(low,e,r) lowest=4 low=1 low=1 slow=1 slower=3
    assert enc[1] == (7, 12)


def test_bpe_merge_is_left_greedy(spark):
    """'aaaa' with pair (a,a) must become [aa, aa]; 'aaa' → [aa, a] —
    the non-overlapping left-to-right semantics both engines share."""
    from icedb_spark.operators import apply_bpe

    docs = spark.createDataFrame(
        [(1, "aaaa"), (2, "aaa"), (3, "a")], "doc_id int, text string"
    )
    enc = {
        r["doc_id"]: r["n_subwords"]
        for r in apply_bpe(docs, [("a", "a")]).collect()
    }
    assert enc == {1: 2, 2: 2, 3: 1}


def test_bpe_word_cap_is_deterministic(spark):
    """max_words cuts by (count desc, word asc): with a cap of 2 only
    the two most frequent words train the vocabulary."""
    from icedb_spark.operators import bpe_train

    docs = spark.createDataFrame(
        [(1, "zz zz zz yy yy xx")], "doc_id int, text string"
    )
    _, merges = bpe_train(
        docs, num_merges=2, min_pair_count=1, max_words=2
    )
    # only zz (3) and yy (2) survive the cap: first merge is (z, z)
    assert merges[0] == ("z", "z")
    assert ("x", "x") not in merges


def test_apply_span_removal_incremental_and_overlaps(spark):
    """apply_span_removal cleans text from arbitrary span sets —
    including d14-style incremental spans and OVERLAPPING spans (a
    token inside any span drops once)."""
    from icedb_spark.operators import (
        apply_span_removal,
        duplicated_spans_against_index,
        substring_index_rows,
    )

    old = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta eta theta tail")],
        "doc_id long, text string",
    )
    batch = spark.createDataFrame(
        [
            (11, "head alpha beta gamma delta epsilon zeta eta theta end"),
            (12, "clean document with nothing repeated from the index"),
        ],
        "doc_id long, text string",
    )
    spans = duplicated_spans_against_index(
        batch, substring_index_rows(old, k=8), k=8
    )
    got = {
        r["doc_id"]: r
        for r in apply_span_removal(batch, spans).collect()
    }
    assert got[11]["clean_text"] == "head end"
    assert got[11]["dropped_tokens"] == 8
    assert got[12]["dropped_spans"] == 0
    assert got[12]["kept_tokens"] == 8
    # overlapping hand-built spans: union coverage, not double-count
    manual = spark.createDataFrame(
        [(11, 1, 4, 0, 0), (11, 3, 6, 0, 0)],
        "doc_id long, span_start int, span_end int, "
        "span_tokens int, n_shingles int",
    )
    got2 = {
        r["doc_id"]: r
        for r in apply_span_removal(batch, manual).collect()
    }
    assert got2[11]["dropped_spans"] == 2
    assert got2[11]["dropped_tokens"] == 6  # tokens 1..6 once
    assert got2[11]["clean_text"] == "zeta eta theta end"


def _wav(sr, channels, bits, frames, pre_chunk=False):
    """Independent WAV encoder (test-side; not the library's code path):
    interleaved frames -> RIFF/WAVE with optional odd-sized chunk first."""
    import struct

    block = channels * bits // 8
    data = b""
    for frame in frames:
        for s in frame:
            if bits == 16:
                data += struct.pack("<h", s)
            else:
                data += struct.pack("<B", s + 128)
    body = b"WAVE"
    if pre_chunk:
        body += b"LIST" + struct.pack("<I", 3) + b"abc" + b"\x00"
    body += (
        b"fmt " + struct.pack("<I", 16)
        + struct.pack("<HHIIHH", 1, channels, sr, sr * block, block, bits)
        + b"data" + struct.pack("<I", len(data)) + data
    )
    return b"RIFF" + struct.pack("<I", len(body)) + body


def _wav_raw(fmt_payload, data, extra_fmt_size=None):
    """RIFF/WAVE from a raw fmt payload + raw data bytes (test-side)."""
    import struct

    body = (
        b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt_payload)) + fmt_payload
        + (b"\x00" if len(fmt_payload) & 1 else b"")
        + b"data" + struct.pack("<I", len(data)) + data
    )
    return b"RIFF" + struct.pack("<I", len(body)) + body


def test_decode_wav_float_24_32_extensible():
    """The remaining real-corpus WAV layouts: IEEE float32 (format 3,
    clamped+scaled to the int16 grid), 24-bit and 32-bit integer PCM
    (signed LE as stored), and WAVE_FORMAT_EXTENSIBLE resolving the
    SubFormat GUID's leading u16 — plus the float-at-wrong-width
    failure mode."""
    import struct

    from icedb_spark.operators import decode_wav_samples

    def fmt16(afmt, ch, sr, block, bits):
        return struct.pack("<HHIIHH", afmt, ch, sr, sr * block, block, bits)

    # float32 mono: clamp both rails, exact halves on the int grid
    vals = [0.0, 0.5, -0.5, 1.0, -1.0, 2.0, -2.0, 0.25]
    data = b"".join(struct.pack("<f", v) for v in vals)
    sr, out = decode_wav_samples(_wav_raw(fmt16(3, 1, 8000, 4, 32), data))
    want = [0, 16384, -16384, 32767, -32767, 32767, -32767, 8192]
    assert (sr, out) == (8000, want)
    # 24-bit PCM stereo: channel 0, signed LE 3-byte values as stored
    frames = [(-(1 << 23), 7), ((1 << 23) - 1, 9), (-1, 11)]
    data = b"".join(
        a.to_bytes(3, "little", signed=True)
        + b.to_bytes(3, "little", signed=True)
        for a, b in frames
    )
    sr, out = decode_wav_samples(_wav_raw(fmt16(1, 2, 44100, 6, 24), data))
    assert out == [-(1 << 23), (1 << 23) - 1, -1]
    # 32-bit int PCM mono
    vals32 = [-(1 << 31), (1 << 31) - 1, 12345]
    data = b"".join(struct.pack("<i", v) for v in vals32)
    sr, out = decode_wav_samples(_wav_raw(fmt16(1, 1, 22050, 4, 32), data))
    assert out == vals32
    # EXTENSIBLE wrapping PCM16: cbSize=22, valid bits, channel mask,
    # SubFormat GUID with leading u16 = 1 (PCM)
    guid_pcm = struct.pack("<H", 1) + bytes(14)
    fmt_ext = (
        fmt16(0xFFFE, 1, 16000, 2, 16)
        + struct.pack("<HHI", 22, 16, 0x4) + guid_pcm
    )
    data = struct.pack("<hh", -7, 31000)
    sr, out = decode_wav_samples(_wav_raw(fmt_ext, data))
    assert (sr, out) == (16000, [-7, 31000])
    # EXTENSIBLE wrapping float32
    guid_f = struct.pack("<H", 3) + bytes(14)
    fmt_ext = (
        fmt16(0xFFFE, 1, 16000, 4, 32)
        + struct.pack("<HHI", 22, 32, 0x4) + guid_f
    )
    data = struct.pack("<f", -0.25)
    sr, out = decode_wav_samples(_wav_raw(fmt_ext, data))
    assert out == [-8192]
    # float at a non-32 width: recognized container, loud failure
    with pytest.raises(ValueError, match="unsupported layout"):
        decode_wav_samples(_wav_raw(fmt16(3, 1, 8000, 2, 16), b"\x00\x00"))
    # short EXTENSIBLE fmt (no GUID): loud failure
    with pytest.raises(ValueError, match="EXTENSIBLE"):
        decode_wav_samples(
            _wav_raw(fmt16(0xFFFE, 1, 8000, 2, 16), b"\x00\x00")
        )


def test_decode_wav_samples_real():
    """REAL WAV PCM decode: 16-bit signed LE, 8-bit unsigned recentered,
    stereo -> channel 0, word-aligned chunk walk, loud errors on
    recognized-but-undecodable input, None on unknown containers."""
    from icedb_spark.operators import decode_wav_samples

    assert decode_wav_samples(
        _wav(8000, 1, 16, [(-32768,), (0,), (32767,), (-1,)])
    ) == (8000, [-32768, 0, 32767, -1])
    assert decode_wav_samples(
        _wav(44100, 2, 16, [(5, -5), (-7, 7)])
    ) == (44100, [5, -7])
    assert decode_wav_samples(
        _wav(8000, 1, 8, [(-128,), (0,), (127,)])
    ) == (8000, [-128, 0, 127])
    assert decode_wav_samples(
        _wav(8000, 1, 16, [(9,)], pre_chunk=True)
    ) == (8000, [9])
    assert decode_wav_samples(b"") is None
    assert decode_wav_samples(b"\x89PNG\r\n\x1a\n") is None
    with pytest.raises(ValueError):  # non-PCM format code
        import struct as _s
        bad = _wav(8000, 1, 16, [(1,)])
        decode_wav_samples(bad.replace(
            b"fmt " + _s.pack("<I", 16) + _s.pack("<H", 1),
            b"fmt " + _s.pack("<I", 16) + _s.pack("<H", 3), 1))
    with pytest.raises(ValueError):  # fmt present, data missing
        decode_wav_samples(
            b"RIFF" + b"\x28\x00\x00\x00" + b"WAVE" + b"fmt "
            + b"\x10\x00\x00\x00" + b"\x01\x00\x01\x00" + b"\x40\x1f\x00\x00"
            + b"\x80\x3e\x00\x00" + b"\x02\x00\x10\x00"
        )


def test_decode_wav_samples_roundtrip_property():
    """Hypothesis round-trip: arbitrary PCM frames (1-3 channels, 8/16
    bit, with and without a preceding odd-sized chunk) decode back to
    exactly channel 0 of what the independent encoder wrote."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from icedb_spark.operators import decode_wav_samples

    @settings(max_examples=40, deadline=None,
              suppress_health_check=[HealthCheck.too_slow])
    @given(
        channels=st.integers(1, 3),
        bits=st.sampled_from([8, 16]),
        sr=st.sampled_from([8000, 16000, 44100]),
        pre=st.booleans(),
        seed=st.integers(0, 10**6),
        n=st.integers(0, 12),
    )
    def check(channels, bits, sr, pre, seed, n):
        import random

        rng = random.Random(seed)
        lo, hi = (-128, 127) if bits == 8 else (-32768, 32767)
        frames = [
            tuple(rng.randint(lo, hi) for _ in range(channels))
            for _ in range(n)
        ]
        got = decode_wav_samples(_wav(sr, channels, bits, frames, pre))
        assert got == (sr, [f[0] for f in frames])

    check()


def _exif_jpeg(order, orientation, description, make=None, app0=True):
    """Independent EXIF/JPEG encoder (test-side): SOI + optional APP0 +
    APP1(Exif/TIFF IFD0) + EOI. ASCII values longer than 4 bytes go
    through the offset indirection, as the spec stores them."""
    import struct

    e = "<" if order == b"II" else ">"
    entries = []
    tail = b""
    desc = description.encode() + b"\x00"
    ents = [(0x010E, 2, desc),
            (0x010F, 2, make.encode() + b"\x00" if make is not None else None),
            (0x0112, 3, orientation)]
    n = sum(1 for _, _, v in ents if v is not None)
    ifd0 = 8
    tail_off = ifd0 + 2 + 12 * n + 4
    for tag, typ, val in ents:
        if val is None:
            continue
        if typ == 3:
            field = struct.pack(e + "HH", val, 0)
            count = 1
        else:
            count = len(val)
            if count <= 4:
                field = val + b"\x00" * (4 - count)
            else:
                field = struct.pack(e + "I", tail_off + len(tail))
                tail += val
        entries.append(struct.pack(e + "HHI", tag, typ, count) + field)
    tiff = (
        order + struct.pack(e + "H", 42) + struct.pack(e + "I", ifd0)
        + struct.pack(e + "H", n) + b"".join(entries)
        + struct.pack(e + "I", 0) + tail
    )
    payload = b"Exif\x00\x00" + tiff
    out = b"\xff\xd8"
    if app0:
        out += b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00\x01\x02\x00" + b"\x00" * 6
    out += b"\xff\xe1" + struct.pack(">H", len(payload) + 2) + payload
    return out + b"\xff\xd9"


def test_parse_exif_real():
    """REAL EXIF decode: both byte orders, inline and offset-stored
    ASCII, APP0 skipping, NULLs for non-EXIF input, loud errors on a
    recognized-but-corrupt TIFF body."""
    from icedb_spark.operators import parse_exif

    blob = _exif_jpeg(b"II", 6, "abc")
    assert parse_exif(blob) == ("II", 6, "abc", None)
    blob = _exif_jpeg(b"MM", 3, "hello world", make="ACME Cam 9000")
    assert parse_exif(blob) == ("MM", 3, "hello world", "ACME Cam 9000")
    blob = _exif_jpeg(b"II", 1, "long description here", app0=False)
    assert parse_exif(blob) == ("II", 1, "long description here", None)
    assert parse_exif(b"") == (None, None, None, None)
    assert parse_exif(b"\xff\xd8\xff\xd9") == (None, None, None, None)
    # APP1 that is XMP, not EXIF: walked past, yields NULLs
    import struct as _s
    xmp = b"\xff\xd8\xff\xe1" + _s.pack(">H", 12) + b"http://ns.x" + b"\xff\xd9"
    assert parse_exif(xmp) == (None, None, None, None)
    with pytest.raises(ValueError):  # bad TIFF magic
        good = _exif_jpeg(b"II", 1, "x")
        parse_exif(good.replace(b"II" + _s.pack("<H", 42), b"II" + _s.pack("<H", 43)))
    with pytest.raises(ValueError):  # truncated TIFF body
        parse_exif(_exif_jpeg(b"MM", 2, "abcdefgh")[:-12])


def test_parse_exif_roundtrip_property():
    """Hypothesis round-trip: arbitrary orientation / ASCII lengths /
    byte orders survive encode->parse, covering the inline<->offset
    boundary at count == 4."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from icedb_spark.operators import parse_exif

    ascii_text = st.text(
        st.characters(min_codepoint=32, max_codepoint=126), min_size=0, max_size=12
    )

    @settings(max_examples=40, deadline=None,
              suppress_health_check=[HealthCheck.too_slow])
    @given(
        order=st.sampled_from([b"II", b"MM"]),
        orientation=st.integers(1, 8),
        desc=ascii_text,
        make=st.one_of(st.none(), ascii_text),
        app0=st.booleans(),
    )
    def check(order, orientation, desc, make, app0):
        got = parse_exif(_exif_jpeg(order, orientation, desc, make, app0))
        assert got == (order.decode(), orientation, desc, make)

    check()


def test_audio_features_and_decode_exif_spark(spark):
    """Spark-side plumbing: audio_features(use_fake=False) over real WAV
    blobs and decode_exif over real JPEG blobs, Arrow-batched."""
    from icedb_spark.operators import audio_features, decode_exif

    wavs = [
        (0, _wav(8000, 1, 16, [(100,), (-200,), (300,), (0,)])),
        (1, _wav(4000, 1, 8, [(-128,), (127,)])),
    ]
    df = spark.createDataFrame(wavs, "media_id long, content binary")
    got = {
        r["media_id"]: r.asDict()
        for r in audio_features(df, use_fake=False).collect()
    }
    assert got[0] == {
        "media_id": 0, "n_samples": 4, "sample_rate": 8000,
        "duration_ms": 0, "peak": 300,
        "sum_sq": 100**2 + 200**2 + 300**2, "zero_crossings": 2,
    }
    assert got[1] == {
        "media_id": 1, "n_samples": 2, "sample_rate": 4000,
        "duration_ms": 0, "peak": 128, "sum_sq": 128**2 + 127**2,
        "zero_crossings": 1,
    }
    # fake path: schema-stable on arbitrary bytes
    fake = audio_features(df).collect()
    assert all(r["n_samples"] == 16 and r["sample_rate"] == 8000 for r in fake)

    jp = [
        (0, _exif_jpeg(b"II", 6, "cat")),
        (1, _exif_jpeg(b"MM", 1, "dog photo", make="ACME")),
        (2, b"not a jpeg"),
    ]
    df2 = spark.createDataFrame(jp, "media_id long, content binary")
    got2 = {r["media_id"]: r for r in decode_exif(df2).collect()}
    assert (got2[0]["byte_order"], got2[0]["orientation"],
            got2[0]["description"]) == ("II", 6, "cat")
    assert (got2[1]["byte_order"], got2[1]["make"]) == ("MM", "ACME")
    assert got2[2]["byte_order"] is None and got2[2]["orientation"] is None


def test_wordpiece_match_rules():
    """Greedy longest-match-first, ## continuations, whole-word UNK on
    any unmatched position — the BERT WordpieceTokenizer contract."""
    from icedb_spark.operators import wordpiece_match

    V = {"un", "##able", "##a", "##b", "##l", "##e", "a", "b", "l", "e",
         "unab", "##le"}
    # longest head first: "unab" beats "un"
    assert wordpiece_match("unable", V, "[UNK]", 5) == ["unab", "##le"]
    # continuation longest-first: after "a", "##b" wins then "##le"
    assert wordpiece_match("able", V, "[UNK]", 5) == ["a", "##b", "##le"]
    # mid-word dead end -> whole word UNK (word-level failure)
    assert wordpiece_match("unax", V, "[UNK]", 5) == ["[UNK]"]
    # no head match at position 0
    assert wordpiece_match("zoo", V, "[UNK]", 5) == ["[UNK]"]
    assert wordpiece_match("", V, "[UNK]", 5) == []
    # single-char word
    assert wordpiece_match("a", V, "[UNK]", 5) == ["a"]


def test_wordpiece_match_roundtrip_property():
    """Hypothesis: whenever segmentation succeeds (no UNK), stripping
    the ## markers and concatenating reconstructs the word exactly, and
    every piece is in the vocabulary with the correct continuation
    form."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from icedb_spark.operators import wordpiece_match

    @settings(max_examples=60, deadline=None,
              suppress_health_check=[HealthCheck.too_slow])
    @given(
        word=st.text(st.sampled_from("abcd"), min_size=1, max_size=12),
        seed=st.integers(0, 10**6),
    )
    def check(word, seed):
        import random

        rng = random.Random(seed)
        chars = "abcd"
        vocab = set()
        for c in chars:  # full single-char coverage: never UNK
            vocab.add(c)
            vocab.add("##" + c)
        for c1 in chars:
            for c2 in chars:
                if rng.random() < 0.4:
                    vocab.add(c1 + c2)
                if rng.random() < 0.4:
                    vocab.add("##" + c1 + c2)
                for c3 in chars:
                    if rng.random() < 0.15:
                        vocab.add(c1 + c2 + c3)
                    if rng.random() < 0.15:
                        vocab.add("##" + c1 + c2 + c3)
        got = wordpiece_match(word, vocab, "[UNK]", 3)
        assert got, "non-empty word must yield pieces"
        assert all(p in vocab for p in got)
        rebuilt = got[0] + "".join(p[2:] for p in got[1:])
        assert rebuilt == word
        assert not any(p.startswith("##") for p in got[:1])
        assert all(p.startswith("##") for p in got[1:])
        # greedy invariant: no STRICTLY LONGER head piece matches
        for L in range(min(3, len(word)), len(got[0]), -1):
            assert word[:L] not in vocab

    check()


def test_wordpiece_encode_spark(spark):
    """Spark-side plumbing: per-doc (pos, piece) stream, zero-token docs
    emit nothing, UNK words contribute one row."""
    from icedb_spark.operators import wordpiece_encode

    docs = spark.createDataFrame(
        [(1, "unable able"), (2, "zoo"), (3, "   "), (4, None)],
        "doc_id long, text string",
    )
    V = ["un", "##able", "a", "##b", "##l", "##e", "b", "l", "e"]
    got = [
        (r["doc_id"], r["pos"], r["piece"])
        for r in wordpiece_encode(docs, V).orderBy("doc_id", "pos").collect()
    ]
    assert got == [
        (1, 1, "un"), (1, 2, "##able"),
        (1, 3, "a"), (1, 4, "##b"), (1, 5, "##l"), (1, 6, "##e"),
        (2, 1, "[UNK]"),
    ]


def test_wordpiece_detokenize_bare_stream(spark):
    """The boundary-design contrast with BPE: a bare (pos, piece)
    WordPiece stream decodes without word ordinals because ## marks
    continuations; UNK words reassemble as the literal token."""
    from icedb_spark.operators import (
        wordpiece_detokenize,
        wordpiece_encode,
    )

    docs = spark.createDataFrame(
        [(1, "unable able"), (2, "zoo able"), (3, "   ")],
        "doc_id long, text string",
    )
    V = ["un", "##able", "a", "##b", "##l", "##e"]
    out = {
        r["doc_id"]: r["text"]
        for r in wordpiece_detokenize(wordpiece_encode(docs, V)).collect()
    }
    assert out[1] == "unable able"
    assert out[2] == "[UNK] able"  # lossy word stays lossy, boundary kept
    assert 3 not in out  # zero-token docs emit nothing to decode


def test_wordpiece_train_coverage_and_determinism(spark):
    """The trained vocabulary covers its own training corpus (full
    single-char alphabet in both forms → no [UNK] on training data),
    selection is frequency-ranked with piece-ascending ties,
    '#'-bearing words are excluded, and the result is
    partition-invariant."""
    from icedb_spark.operators import wordpiece_encode, wordpiece_train

    docs = spark.createDataFrame(
        [
            (1, "banana band bandana"),
            (2, "ban ban banana"),
            (3, "dan dana #tag"),
        ],
        "doc_id long, text string",
    )
    vdf, vocab = wordpiece_train(docs, num_pieces=5, max_piece_len=3)
    vset = set(vocab)
    # positional alphabet coverage: head form for word-initial chars,
    # continuation form for chars seen word-internally — exactly what
    # no-UNK encoding of the training corpus requires ('##b' correctly
    # absent: no word has an interior 'b')
    assert {"b", "d"} <= vset
    assert {"##a", "##n", "##d"} <= vset
    assert "##b" not in vset
    assert not any("#" in p.replace("##", "", 1) for p in vocab)
    # no [UNK] anywhere on the training corpus ('#tag' word segments
    # fine: its chars a/t/g appear in other words... 't'/'g' only in
    # #tag though — so it UNKs, which is the documented exclusion)
    enc = wordpiece_encode(docs.where("doc_id < 3"), vocab)
    assert enc.where(F.col("piece") == "[UNK]").count() == 0
    # rank 0 = alphabet; ranked pieces ordered (freq desc, piece asc)
    ranked = [
        (r["freq"], r["piece"])
        for r in vdf.where("rank > 0").orderBy("rank").collect()
    ]
    assert len(ranked) == 5
    assert ranked == sorted(ranked, key=lambda t: (-t[0], t[1]))
    again = wordpiece_train(
        docs.repartition(7), num_pieces=5, max_piece_len=3
    )[1]
    assert sorted(again) == sorted(vocab)


def test_unigram_viterbi_rules():
    """Exact global optimum (where greedy longest-match is WRONG),
    longest-piece tie-break, whole-word UNK, empty word."""
    from icedb_spark.operators import unigram_viterbi

    # greedy longest-first would take 'abc' (-10); Viterbi finds
    # 'ab'+'c' (-2) — the case that separates Unigram from WordPiece
    S = {"abc": -10, "ab": -1, "c": -1, "a": -5, "b": -5}
    assert unigram_viterbi("abc", S, 3, "[UNK]") == ["ab", "c"]
    # tie: 'ab'+'c' == 'a'+'bc' == -4 -> longest piece at the earliest
    # position wins
    T = {"ab": -2, "c": -2, "a": -2, "bc": -2, "b": -9}
    assert unigram_viterbi("abc", T, 2, "[UNK]") == ["ab", "c"]
    # unreachable character -> whole-word UNK (word-level failure)
    assert unigram_viterbi("axb", {"a": -1, "b": -1}, 2, "[UNK]") == ["[UNK]"]
    assert unigram_viterbi("", {"a": -1}, 1, "[UNK]") == []
    # positive scores work too (any total order): more pieces can win
    P = {"ab": 1, "a": 3, "b": 3}
    assert unigram_viterbi("ab", P, 2, "[UNK]") == ["a", "b"]


def test_unigram_viterbi_optimality_property():
    """Hypothesis vs brute force: the chosen segmentation reconstructs
    the word, its total equals the enumerated maximum, and among all
    optima it is the lexicographically-greatest by piece-length
    sequence (the forward longest-piece tie-break the oracle mirrors)."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from icedb_spark.operators import unigram_viterbi

    def all_segs(word, scores, max_len):
        if not word:
            return [([], 0)]
        out = []
        for L in range(1, min(max_len, len(word)) + 1):
            p = word[:L]
            if p in scores:
                for rest, s in all_segs(word[L:], scores, max_len):
                    out.append(([p] + rest, scores[p] + s))
        return out

    @settings(max_examples=60, deadline=None,
              suppress_health_check=[HealthCheck.too_slow])
    @given(
        word=st.text(st.sampled_from("abc"), min_size=1, max_size=9),
        seed=st.integers(0, 10**6),
    )
    def check(word, seed):
        import random

        rng = random.Random(seed)
        chars = "abc"
        scores = {c: -rng.randint(1, 8) for c in chars}
        for c1 in chars:
            for c2 in chars:
                if rng.random() < 0.5:
                    scores[c1 + c2] = -rng.randint(1, 8)
                for c3 in chars:
                    if rng.random() < 0.25:
                        scores[c1 + c2 + c3] = -rng.randint(1, 8)
        got = unigram_viterbi(word, scores, 3, "[UNK]")
        segs = all_segs(word, scores, 3)
        assert segs, "full char coverage means some segmentation exists"
        best = max(s for _, s in segs)
        assert "".join(got) == word
        assert sum(scores[p] for p in got) == best
        optima = [tuple(len(p) for p in ps) for ps, s in segs if s == best]
        assert tuple(len(p) for p in got) == max(optima)

    check()


def test_unigram_train_em_vs_bruteforce_property():
    """Hypothesis vs an INDEPENDENT EM implementation: the trainer's
    whole loop (substring seed, alphabet floor, ilog2 scoring, Viterbi
    E-step with the longest-at-earliest tie rule, usage-weighted
    re-estimation, (usage desc, piece asc) prune) is replayed here
    with brute-force segmentation ENUMERATION instead of the DP —
    final vocabularies and scores must be identical on arbitrary tiny
    corpora."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from icedb_spark.operators.text import _unigram_em_local

    def all_segs(word, scores, max_len):
        if not word:
            return [([], 0)]
        out = []
        for L in range(1, min(max_len, len(word)) + 1):
            p = word[:L]
            if p in scores:
                for rest, s in all_segs(word[L:], scores, max_len):
                    out.append(([p] + rest, scores[p] + s))
        return out

    def brute_em(word_counts, seed_pieces, keep_per_iter, max_len):
        alphabet = sorted({c for w, _ in word_counts for c in w})

        def select(usage, keep_n):
            out = {c: max(usage.get(c, 0), 1) for c in alphabet}
            multi = sorted(
                ((u, p) for p, u in usage.items() if len(p) > 1 and u > 0),
                key=lambda t: (-t[0], t[1]),
            )[:keep_n]
            out.update({p: u for u, p in multi})
            return out

        usage = {}
        for w, c in word_counts:
            for i in range(len(w)):
                for L in range(1, min(max_len, len(w) - i) + 1):
                    usage[w[i:i + L]] = usage.get(w[i:i + L], 0) + c
        vocab = select(usage, seed_pieces)
        for keep_n in keep_per_iter:
            scores = {p: (u.bit_length() - 1) - 64 for p, u in vocab.items()}
            new_usage = {}
            for w, c in word_counts:
                segs = all_segs(w, scores, max_len)
                best = max(s for _, s in segs)
                # among optima: longest piece at earliest position
                pick = max(
                    (ps for ps, s in segs if s == best),
                    key=lambda ps: tuple(len(p) for p in ps),
                )
                for p in pick:
                    new_usage[p] = new_usage.get(p, 0) + c
            vocab = select(new_usage, keep_n)
        scores = {p: (u.bit_length() - 1) - 64 for p, u in vocab.items()}
        return vocab, scores

    @settings(max_examples=40, deadline=None,
              suppress_health_check=[HealthCheck.too_slow])
    @given(
        words=st.lists(
            st.text(st.sampled_from("abcd"), min_size=1, max_size=7),
            min_size=1, max_size=6,
        ),
        counts=st.lists(st.integers(1, 9), min_size=6, max_size=6),
        seed_pieces=st.integers(2, 12),
        keep1=st.integers(1, 10),
        keep2=st.integers(1, 8),
    )
    def check(words, counts, seed_pieces, keep1, keep2):
        wc = sorted(
            {w: c for w, c in zip(sorted(set(words)), counts)}.items()
        )
        got = _unigram_em_local(wc, seed_pieces, (keep1, keep2), 3)
        want = brute_em(wc, seed_pieces, (keep1, keep2), 3)
        assert got == want

    check()


def test_unigram_train_spark_coverage(spark):
    """Spark surface: trained scores cover the training corpus (no
    [UNK] anywhere), the prune bound holds, the alphabet survives
    with its floor, and training is partition-invariant."""
    from icedb_spark.operators import unigram_encode, unigram_train

    docs = spark.createDataFrame(
        [(1, "banana band bandana"), (2, "ban ban banana dan dana")],
        "doc_id long, text string",
    )
    vdf, scores = unigram_train(
        docs, seed_pieces=8, keep_per_iter=(5, 3), max_piece_len=3
    )
    multi = [p for p in scores if len(p) > 1]
    assert len(multi) <= 3
    for c in "band":
        assert c in scores
    enc = unigram_encode(docs, scores)
    assert enc.where(F.col("piece") == "[UNK]").count() == 0
    rows = {r["piece"]: (r["usage"], r["score"]) for r in vdf.collect()}
    assert all(u >= 1 for u, _ in rows.values())
    assert all(s == (u.bit_length() - 1) - 64 for u, s in rows.values())
    _, again = unigram_train(
        docs.repartition(5), seed_pieces=8, keep_per_iter=(5, 3),
        max_piece_len=3,
    )
    assert again == scores


def test_unigram_encode_spark(spark):
    """Spark-side plumbing: per-doc (pos, piece) stream matches the pure
    function per word; zero-token docs emit nothing; empty table raises."""
    import pytest as _pt

    from icedb_spark.operators import unigram_encode

    docs = spark.createDataFrame(
        [(1, "abc ab"), (2, "   "), (3, "axb")],
        "doc_id long, text string",
    )
    S = {"abc": -10, "ab": -1, "c": -1, "a": -5, "b": -5}
    got = [
        (r["doc_id"], r["pos"], r["piece"])
        for r in unigram_encode(docs, S).orderBy("doc_id", "pos").collect()
    ]
    assert got == [
        (1, 1, "ab"), (1, 2, "c"), (1, 3, "ab"),
        (3, 1, "[UNK]"),
    ]
    with _pt.raises(ValueError):
        unigram_encode(docs, {})


def _mp3(order_ver, frames, audio=b"\xff\xfb\x90\x00" + b"\x00" * 96,
         pad=0):
    """Independent ID3v2 encoder (test-side): frames = [(id, text, enc)];
    v2.4 uses syncsafe frame sizes, v2.3 plain big-endian."""
    import struct

    body = b""
    for fid, text, enc in frames:
        payload = bytes([enc]) + (
            text.encode("utf-8") if enc == 3 else text.encode("latin-1")
        )
        if order_ver >= 4:
            sz = len(payload)
            raw = bytes([(sz >> 21) & 0x7F, (sz >> 14) & 0x7F,
                         (sz >> 7) & 0x7F, sz & 0x7F])
        else:
            raw = struct.pack(">I", len(payload))
        body += fid + raw + b"\x00\x00" + payload
    body += b"\x00" * pad
    sz = len(body)
    ss = bytes([(sz >> 21) & 0x7F, (sz >> 14) & 0x7F,
                (sz >> 7) & 0x7F, sz & 0x7F])
    return b"ID3" + bytes([order_ver, 0, 0]) + ss + body + audio


def test_parse_mp3_meta_real():
    """REAL MP3 metadata decode: v2.3 and v2.4 frame sizes, latin-1 and
    utf-8 text, padding stop, tag-less frame-only blobs, NULLs for
    unknown input, loud errors on corrupt layouts."""
    from icedb_spark.operators import parse_mp3_meta

    b3 = _mp3(3, [(b"TIT2", "Hello", 0), (b"TPE1", "Wörld", 3)])
    t, a, br, sr, dur = parse_mp3_meta(b3)
    assert (t, a, br, sr) == ("Hello", "Wörld", 128, 44100)
    assert dur == len(b"\xff\xfb\x90\x00" + b"\x00" * 96) * 8 // 128

    b4 = _mp3(4, [(b"TIT2", "x" * 130, 0)], pad=8)  # >127 forces syncsafe
    t4 = parse_mp3_meta(b4)
    assert t4[0] == "x" * 130 and t4[2] == 128

    # frame-only (no ID3 tag): metadata NULL, audio fields real
    only = b"\xff\xfb\x90\x00" + b"\x00" * 60
    assert parse_mp3_meta(only) == (None, None, 128, 44100, 64 * 8 // 128)

    assert parse_mp3_meta(b"garbage") == (None,) * 5
    assert parse_mp3_meta(b"") == (None,) * 5

    with pytest.raises(ValueError):  # unsupported text encoding
        parse_mp3_meta(_mp3(3, [(b"TIT2", "a", 0)]).replace(
            b"\x00\x00\x00a", b"\x00\x00\x01a", 1))
    with pytest.raises(ValueError):  # ID3 size past blob
        parse_mp3_meta(b"ID3\x03\x00\x00\x00\x00\x01\x00")
    # non-MPEG1-L3 syncs and free/invalid indices are SKIPPED, not
    # fatal: exotic-but-legal blobs must not fail an untrusted-corpus
    # task (MPEG2 ver_bits=2; free bitrate idx 0)
    assert parse_mp3_meta(b"\xff\xfb\x00\x00" + b"\x00" * 10) == (None,) * 5
    assert parse_mp3_meta(b"\xff\xf3\x90\x00" + b"\x00" * 10) == (None,) * 5
    # a v2.2 tag (3-byte ids TT2/TP1, 3-byte sizes) parses correctly
    def v22_frame(fid, text):
        payload = b"\x00" + text.encode("latin-1")
        return fid + len(payload).to_bytes(3, "big") + payload
    body = v22_frame(b"TT2", "old title") + v22_frame(b"TP1", "old artist")
    sz = len(body)
    ss = bytes([(sz >> 21) & 0x7F, (sz >> 14) & 0x7F,
                (sz >> 7) & 0x7F, sz & 0x7F])
    v22 = (b"ID3\x02\x00\x00" + ss + body
           + b"\xff\xfb\x90\x00" + b"\x00" * 60)
    t22p = parse_mp3_meta(v22)
    assert t22p[:2] == ("old title", "old artist") and t22p[2] == 128


def test_decode_mp3_meta_spark(spark):
    from icedb_spark.operators import decode_mp3_meta

    rows = [(0, _mp3(3, [(b"TIT2", "t0", 0)])),
            (1, _mp3(4, [(b"TPE1", "a1", 3)])),
            (2, b"not audio")]
    df = spark.createDataFrame(rows, "media_id long, content binary")
    got = {r["media_id"]: r for r in decode_mp3_meta(df).collect()}
    assert got[0]["title"] == "t0" and got[0]["bitrate_kbps"] == 128
    assert got[1]["artist"] == "a1" and got[1]["sample_rate"] == 44100
    assert got[2]["title"] is None and got[2]["bitrate_kbps"] is None


def _mp4_kf(timescale, runs, stss=None, mdhd_v1=False):
    """Independent ISO-BMFF encoder (test-side): moov/trak/mdia with an
    stts of (count, delta) runs and an optional stss sync table."""
    import struct

    def box(typ, payload):
        return struct.pack(">I", 8 + len(payload)) + typ + payload

    if mdhd_v1:
        mdhd = box(b"mdhd", b"\x01\x00\x00\x00" + b"\x00" * 16
                   + struct.pack(">I", timescale) + struct.pack(">Q", 0)
                   + b"\x00" * 4)
    else:
        mdhd = box(b"mdhd", b"\x00\x00\x00\x00" + b"\x00" * 8
                   + struct.pack(">II", timescale, 0) + b"\x00" * 4)
    stts = box(b"stts", b"\x00\x00\x00\x00" + struct.pack(">I", len(runs))
               + b"".join(struct.pack(">II", c, d) for c, d in runs))
    tables = stts
    if stss is not None:
        tables += box(b"stss", b"\x00\x00\x00\x00"
                      + struct.pack(">I", len(stss))
                      + b"".join(struct.pack(">I", s) for s in stss))
    stbl = box(b"stbl", tables)
    minf = box(b"minf", stbl)
    mdia = box(b"mdia", mdhd + minf)
    trak = box(b"trak", mdia)
    moov = box(b"moov", trak)
    return box(b"ftyp", b"isom\x00\x00\x00\x00") + moov


def test_parse_mp4_keyframes_real():
    """REAL sample-table decode: run-length stts expansion, stss sync
    selection, the no-stss all-sync default, v1 mdhd, ms conversion,
    loud errors on corrupt tables, None for non-BMFF input."""
    from icedb_spark.operators import parse_mp4_keyframes

    b = _mp4_kf(1000, [(3, 100), (2, 250)], stss=[1, 4])
    assert parse_mp4_keyframes(b) == [(1, 0), (4, 300)]
    # no stss: every sample is sync (spec default)
    b2 = _mp4_kf(1000, [(2, 500)])
    assert parse_mp4_keyframes(b2) == [(1, 0), (2, 500)]
    # timescale conversion: 90 kHz ticks
    b3 = _mp4_kf(90000, [(2, 45000)], stss=[2], mdhd_v1=True)
    assert parse_mp4_keyframes(b3) == [(2, 500)]
    assert parse_mp4_keyframes(b"random") is None
    assert parse_mp4_keyframes(b"") is None
    with pytest.raises(ValueError):  # stss sample out of range
        parse_mp4_keyframes(_mp4_kf(1000, [(1, 10)], stss=[5]))
    with pytest.raises(ValueError):  # truncated stts claims 99 entries
        import struct as _s
        bad = _mp4_kf(1000, [(1, 10)])
        parse_mp4_keyframes(bad.replace(
            b"stts\x00\x00\x00\x00" + _s.pack(">I", 1),
            b"stts\x00\x00\x00\x00" + _s.pack(">I", 99), 1))


def test_parse_mp4_keyframes_roundtrip_property():
    """Hypothesis: arbitrary run tables + sync subsets decode to exactly
    the cumulative-delta times the independent encoder implies."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from icedb_spark.operators import parse_mp4_keyframes

    @settings(max_examples=40, deadline=None,
              suppress_health_check=[HealthCheck.too_slow])
    @given(
        runs=st.lists(
            st.tuples(st.integers(1, 4), st.integers(1, 10**6)),
            min_size=1, max_size=4,
        ),
        timescale=st.sampled_from([600, 1000, 90000]),
        seed=st.integers(0, 10**6),
        use_stss=st.booleans(),
    )
    def check(runs, timescale, seed, use_stss):
        import random

        rng = random.Random(seed)
        n = sum(c for c, _ in runs)
        starts = []
        t = 0
        for c, d in runs:
            for _ in range(c):
                starts.append(t)
                t += d
        if use_stss:
            sync = sorted(rng.sample(range(1, n + 1), rng.randint(1, n)))
        else:
            sync = list(range(1, n + 1))
        got = parse_mp4_keyframes(
            _mp4_kf(timescale, runs, stss=sync if use_stss else None)
        )
        want = [(s, starts[s - 1] * 1000 // timescale) for s in sync]
        assert got == want

    check()


def test_parse_mp4_keyframes_expansion_cap():
    """A malformed stts run can claim 2^31 samples in 8 bytes — the
    expansion must raise past max_samples, not exhaust memory."""
    from icedb_spark.operators import parse_mp4_keyframes

    big = _mp4_kf(1000, [(2**31 - 1, 10)])
    with pytest.raises(ValueError, match="max_samples"):
        parse_mp4_keyframes(big)
    # a legitimate long track clears a raised cap
    ok = _mp4_kf(1000, [(1000, 10)])
    assert len(parse_mp4_keyframes(ok, max_samples=1000)) == 1000
    with pytest.raises(ValueError, match="max_samples"):
        parse_mp4_keyframes(ok, max_samples=999)


def test_decode_png_zip_bomb_guard():
    """A kilobyte IDAT claiming gigabytes must fail fast: hostile IHDR
    geometry raises before inflate, and an overlong stream for a sane
    geometry fails the bounded-inflate size check."""
    import struct
    import zlib

    from icedb_spark.operators import decode_image_pixels

    def png(w, h, raw):
        sig = b"\x89PNG\r\n\x1a\n"
        ihdr_data = struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0)
        ihdr = (struct.pack(">I", 13) + b"IHDR" + ihdr_data
                + struct.pack(">I", zlib.crc32(b"IHDR" + ihdr_data)))
        z = zlib.compress(raw)
        idat = (struct.pack(">I", len(z)) + b"IDAT" + z
                + struct.pack(">I", zlib.crc32(b"IDAT" + z)))
        iend = struct.pack(">I", 0) + b"IEND" + struct.pack(
            ">I", zlib.crc32(b"IEND"))
        return sig + ihdr + idat + iend

    # hostile geometry: tiny blob, 2^16 x 2^16 claim (gray 8-bit:
    # 4G px * 1 bpp >> the 64MB raster-byte cap)
    with pytest.raises(ValueError, match="raster over 64MB"):
        decode_image_pixels(png(65536, 65536, b"\x00"))
    # the ADVICE r10 case: 16-bit RGBA at a px count the old px-only cap
    # allowed (16M px) but whose raster is 8x over the byte cap
    import struct as _st
    import zlib as _zl

    def png16(w, h):
        sig = b"\x89PNG\r\n\x1a\n"
        d = _st.pack(">IIBBBBB", w, h, 16, 6, 0, 0, 0)
        ihdr = (_st.pack(">I", 13) + b"IHDR" + d
                + _st.pack(">I", _zl.crc32(b"IHDR" + d)))
        z = _zl.compress(b"\x00")
        idat = (_st.pack(">I", len(z)) + b"IDAT" + z
                + _st.pack(">I", _zl.crc32(b"IDAT" + z)))
        iend = _st.pack(">I", 0) + b"IEND" + _st.pack(
            ">I", _zl.crc32(b"IEND"))
        return sig + ihdr + idat + iend

    with pytest.raises(ValueError, match="raster over 64MB"):
        decode_image_pixels(png16(4096, 4096))
    # sane geometry, stream inflates far past it (the bomb shape)
    with pytest.raises(ValueError, match="payload size"):
        decode_image_pixels(png(2, 2, b"\x00" * 10_000_000))
    # well-formed control
    raw = b"".join(b"\x00" + bytes([10 * i, 10 * i + 1]) for i in range(2))
    assert decode_image_pixels(png(2, 2, raw)) == [0, 1, 10, 11]


def _jpeg_q_lum():
    # Annex-K-style luminance table: varied entries so dequant is
    # load-bearing in the roundtrips
    return [
        16, 11, 10, 16, 24, 40, 51, 61,
        12, 12, 14, 19, 26, 58, 60, 55,
        14, 13, 16, 24, 40, 57, 69, 56,
        14, 17, 22, 29, 51, 87, 80, 62,
        18, 22, 37, 56, 68, 109, 103, 77,
        24, 35, 55, 64, 81, 104, 113, 92,
        49, 64, 78, 87, 103, 121, 120, 101,
        72, 92, 95, 98, 112, 100, 103, 99,
    ]


def test_decode_jpeg_dc_exact_roundtrip():
    """Constant blocks with DC quant 8 make the lossy pipeline exact:
    the decoder must return every block constant bit-for-bit, through
    DC differential prediction AND a restart interval mid-image."""
    from __spark_entry__ import _encode_baseline_jpeg
    from icedb_spark.operators import decode_image_pixels

    q8 = [8] * 64

    def dcblk(c):
        return [c - 128] + [0] * 63

    vals = [10, 200, 57, 130, 255, 0]
    grid = [[dcblk(vals[3 * by + bx]) for bx in range(3)]
            for by in range(2)]
    blob = _encode_baseline_jpeg(
        24, 16, [{"id": 1, "h": 1, "v": 1, "tq": 0, "grid": grid}],
        {0: q8}, dri=3,
    )
    px = decode_image_pixels(blob)
    assert px == [
        vals[3 * (y // 8) + (x // 8)] for y in range(16) for x in range(24)
    ]


def test_decode_jpeg_ac_matches_independent_idct():
    """General AC path: random quantized coefficient blocks through the
    full Huffman run/size loop (ZRL, EOB, negative EXTEND values) must
    equal an independent brute-force double-loop IDCT computed here —
    the decoder's separable IDCT and the reference disagree only if
    dequant/zigzag/Huffman are wrong."""
    import math
    import random

    from __spark_entry__ import _encode_baseline_jpeg
    from icedb_spark.operators import decode_image_pixels

    Q = _jpeg_q_lum()
    rng = random.Random(7)

    def randblk():
        blk = [0] * 64
        blk[0] = rng.randint(-60, 60)
        for _ in range(10):
            blk[rng.randint(1, 63)] = rng.randint(-9, 9)
        # force a long zero run so ZRL is exercised
        blk[63] = rng.choice([-3, 3])
        for i in range(40, 63):
            blk[i] = 0
        return blk

    def ref_px(blk, x, y):
        s = 0.0
        for v in range(8):
            for u in range(8):
                if not blk[v * 8 + u]:
                    continue
                cu = math.sqrt(0.5) if u == 0 else 1.0
                cv = math.sqrt(0.5) if v == 0 else 1.0
                s += (
                    cu * cv / 4 * blk[v * 8 + u] * Q[v * 8 + u]
                    * math.cos((2 * x + 1) * u * math.pi / 16)
                    * math.cos((2 * y + 1) * v * math.pi / 16)
                )
        return min(255, max(0, int(round(s + 128))))

    grid = [[randblk(), randblk()], [randblk(), randblk()]]
    blob = _encode_baseline_jpeg(
        16, 16, [{"id": 1, "h": 1, "v": 1, "tq": 0, "grid": grid}], {0: Q}
    )
    px = decode_image_pixels(blob)
    for y in range(16):
        for x in range(16):
            want = ref_px(grid[y // 8][x // 8], x % 8, y % 8)
            assert px[y * 16 + x] == want


def test_decode_jpeg_color_420():
    """4:2:0 color: interleaved MCU (4 Y + Cb + Cr), replication chroma
    upsample, JFIF YCbCr->RGB, BT.601 luma — constant blocks keep the
    expected value closed-form."""
    from __spark_entry__ import _encode_baseline_jpeg
    from icedb_spark.operators import decode_image_pixels

    q8 = [8] * 64

    def dcblk(c):
        return [c - 128] + [0] * 63

    yv = [36, 120, 185, 250]
    ygrid = [[dcblk(yv[2 * by + bx]) for bx in range(2)] for by in range(2)]
    blob = _encode_baseline_jpeg(
        16, 16,
        [
            {"id": 1, "h": 2, "v": 2, "tq": 0, "grid": ygrid},
            {"id": 2, "h": 1, "v": 1, "tq": 0, "grid": [[dcblk(128)]]},
            {"id": 3, "h": 1, "v": 1, "tq": 0, "grid": [[dcblk(178)]]},
        ],
        {0: q8},
    )
    px = decode_image_pixels(blob)
    for y in range(16):
        for x in range(16):
            Y = yv[2 * (y // 8) + (x // 8)]
            want = (
                299 * min(255, Y + 70) + 587 * max(0, Y - 36) + 114 * Y
            ) // 1000
            assert px[y * 16 + x] == want


def test_decode_jpeg_skips_app_segments_and_422():
    """Real-corpus shapes: APP0/APPn/COM segments before SOF are
    skipped (the JFIF/EXIF prefix every camera writes), and 4:2:2
    sampling (h=2, v=1) decodes through the same MCU loop."""
    import struct

    from __spark_entry__ import _encode_baseline_jpeg
    from icedb_spark.operators import decode_image_pixels

    q8 = [8] * 64

    def dcblk(c):
        return [c - 128] + [0] * 63

    vals = [10, 200]
    grid = [[dcblk(vals[0]), dcblk(vals[1])]]
    blob = _encode_baseline_jpeg(
        16, 8, [{"id": 1, "h": 1, "v": 1, "tq": 0, "grid": grid}], {0: q8}
    )
    # splice a JFIF APP0 + a COM right after SOI
    app0 = b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00\x01\x01\x00" \
        + b"\x00\x01\x00\x01\x00\x00"
    com = b"\xff\xfe" + struct.pack(">H", 9) + b"comment"
    spliced = blob[:2] + app0 + com + blob[2:]
    want = [vals[x // 8] for _ in range(8) for x in range(16)]
    assert decode_image_pixels(spliced) == want
    # 4:2:2: Y is 2x1-sampled, chroma 1x1 — one MCU covers 16x8
    ygrid = [[dcblk(vals[0]), dcblk(vals[1])]]
    blob = _encode_baseline_jpeg(
        16, 8,
        [
            {"id": 1, "h": 2, "v": 1, "tq": 0, "grid": ygrid},
            {"id": 2, "h": 1, "v": 1, "tq": 0, "grid": [[dcblk(128)]]},
            {"id": 3, "h": 1, "v": 1, "tq": 0, "grid": [[dcblk(128)]]},
        ],
        {0: q8},
    )
    # neutral chroma -> luma equals Y exactly (299+587+114 = 1000)
    assert decode_image_pixels(blob) == want
    # 4:1:1 (h=4, v=1 — the DV/camera shape): one MCU covers 32x8,
    # chroma upsamples 4x horizontally
    vals4 = [10, 90, 170, 250]
    ygrid = [[dcblk(v) for v in vals4]]
    blob = _encode_baseline_jpeg(
        32, 8,
        [
            {"id": 1, "h": 4, "v": 1, "tq": 0, "grid": ygrid},
            {"id": 2, "h": 1, "v": 1, "tq": 0, "grid": [[dcblk(128)]]},
            {"id": 3, "h": 1, "v": 1, "tq": 0, "grid": [[dcblk(128)]]},
        ],
        {0: q8},
    )
    want4 = [vals4[x // 8] for _ in range(8) for x in range(32)]
    assert decode_image_pixels(blob) == want4
    # factor 5 is out of the spec's 1..4 range
    bad = bytearray(blob)
    sof_at = bad.find(b"\xff\xc0")
    bad[sof_at + 11] = 0x51  # Y component h=5, v=1
    with pytest.raises(ValueError, match="sampling"):
        decode_image_pixels(bytes(bad))


def test_decode_jpeg_roundtrip_property():
    """Hypothesis over random block-constant grayscale JPEGs: random
    geometry (including widths/heights that are not block multiples —
    the MCU padding + crop path), random restart intervals, random
    block constants. DC quant 8 keeps the pipeline exact, so decode
    must return the containing block's constant for every pixel."""
    import random

    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from __spark_entry__ import _encode_baseline_jpeg
    from icedb_spark.operators import decode_image_pixels

    q8 = [8] * 64

    @settings(max_examples=40, deadline=None,
              suppress_health_check=[HealthCheck.too_slow])
    @given(
        seed=st.integers(0, 10**6),
        bw=st.integers(1, 3),
        bh=st.integers(1, 3),
        crop_x=st.integers(0, 7),
        crop_y=st.integers(0, 7),
        dri=st.integers(0, 4),
    )
    def check(seed, bw, bh, crop_x, crop_y, dri):
        rnd = random.Random(seed)
        w = bw * 8 - crop_x
        h = bh * 8 - crop_y
        vals = [[rnd.randint(0, 255) for _ in range(bw)] for _ in range(bh)]
        grid = [
            [[vals[by][bx] - 128] + [0] * 63 for bx in range(bw)]
            for by in range(bh)
        ]
        blob = _encode_baseline_jpeg(
            w, h, [{"id": 1, "h": 1, "v": 1, "tq": 0, "grid": grid}],
            {0: q8}, dri=dri,
        )
        px = decode_image_pixels(blob)
        assert px == [
            vals[y // 8][x // 8] for y in range(h) for x in range(w)
        ]

    check()


def test_decode_jpeg_color_444_neutral_chroma():
    """4:4:4 color (every component 1x1-sampled): neutral chroma makes
    the luma equal Y exactly through the full RGB roundtrip, for every
    block constant — the non-subsampled color MCU order (Y, Cb, Cr per
    MCU) is the load-bearing part."""
    from __spark_entry__ import _encode_baseline_jpeg
    from icedb_spark.operators import decode_image_pixels

    q8 = [8] * 64

    def dcblk(c):
        return [c - 128] + [0] * 63

    yv = [7, 99, 201, 255]
    grid = [[dcblk(yv[2 * by + bx]) for bx in range(2)] for by in range(2)]
    flat = [[dcblk(128), dcblk(128)], [dcblk(128), dcblk(128)]]
    blob = _encode_baseline_jpeg(
        16, 16,
        [
            {"id": 1, "h": 1, "v": 1, "tq": 0, "grid": grid},
            {"id": 2, "h": 1, "v": 1, "tq": 0, "grid": flat},
            {"id": 3, "h": 1, "v": 1, "tq": 0, "grid": flat},
        ],
        {0: q8},
    )
    px = decode_image_pixels(blob)
    assert px == [
        yv[2 * (y // 8) + (x // 8)] for y in range(16) for x in range(16)
    ]


def test_decode_jpeg_unsupported_and_hostile():
    """Recognized-container failure modes fail loudly: progressive SOF2,
    truncated entropy stream, missing restart marker, hostile SOF
    geometry (raster-byte cap), EXIF-only JPEG without scan data."""
    from __spark_entry__ import _encode_baseline_jpeg
    from icedb_spark.operators import decode_image_pixels

    q8 = [8] * 64
    grid = [[[1] + [0] * 63]]
    good = _encode_baseline_jpeg(
        8, 8, [{"id": 1, "h": 1, "v": 1, "tq": 0, "grid": grid}], {0: q8}
    )
    assert decode_image_pixels(good) is not None
    # SOF0 flipped to SOF2: the baseline scan header (Ss=0, Se=63) is
    # malformed AS progressive — a DC scan must not carry an AC band
    prog = good.replace(b"\xff\xc0", b"\xff\xc2", 1)
    with pytest.raises(ValueError, match="DC scan with AC band"):
        decode_image_pixels(prog)
    # lossless (SOF3) stays a recognized-unsupported profile
    with pytest.raises(ValueError, match="baseline or progressive"):
        decode_image_pixels(good.replace(b"\xff\xc0", b"\xff\xc3", 1))
    # truncated entropy stream
    with pytest.raises(ValueError):
        decode_image_pixels(good[:-6])
    # hostile geometry: SOF claims 65500x65500 (raster-byte cap)
    import struct
    sof_at = good.find(b"\xff\xc0")
    hostile = bytearray(good)
    hostile[sof_at + 5:sof_at + 9] = struct.pack(">HH", 65500, 65500)
    with pytest.raises(ValueError, match="over 64MB"):
        decode_image_pixels(bytes(hostile))
    # restart expected but absent: encode with dri, strip the RST pair
    vals = [[([10] + [0] * 63), ([20] + [0] * 63)]]
    b2 = _encode_baseline_jpeg(
        16, 8, [{"id": 1, "h": 1, "v": 1, "tq": 0, "grid": vals}],
        {0: q8}, dri=1,
    )
    rst_at = b2.find(b"\xff\xd0")
    assert rst_at > 0
    with pytest.raises(ValueError):
        decode_image_pixels(b2[:rst_at] + b2[rst_at + 2:])
    # EXIF-style JPEG with no scan: SOI + APP1 + EOI
    with pytest.raises(ValueError, match="without scan"):
        decode_image_pixels(
            b"\xff\xd8\xff\xe1\x00\x04ab\xff\xd9"
        )


def _rand_jpeg_grid(rng, nby, nbx, dc=60, ac=9):
    def randblk():
        blk = [0] * 64
        blk[0] = rng.randint(-dc, dc)
        for _ in range(10):
            blk[rng.randint(1, 63)] = rng.randint(-ac, ac)
        blk[63] = rng.choice([-3, 3])
        for i in range(40, 63):
            blk[i] = 0
        return blk

    return [[randblk() for _ in range(nbx)] for _ in range(nby)]


def test_decode_jpeg_progressive_gray_equals_baseline():
    """Progressive decode == baseline decode of the SAME quantized
    coefficient grids (both encoders are independent spec-side
    implementations): the default scan script exercises interleaved-DC
    ordering, two spectral AC bands, successive approximation down two
    bits (AC first at Al=2 then refinements at 1 and 0 — the §G.1.2.3
    correction-bit walk), EOB-run accumulation across blocks, and the
    DC refinement bit."""
    import random

    from __spark_entry__ import _encode_baseline_jpeg, _encode_progressive_jpeg
    from icedb_spark.operators import decode_image_pixels

    Q = _jpeg_q_lum()
    rng = random.Random(19)
    grid = _rand_jpeg_grid(rng, 3, 4)
    comps = [{"id": 1, "h": 1, "v": 1, "tq": 0, "grid": grid}]
    base = decode_image_pixels(_encode_baseline_jpeg(32, 24, comps, {0: Q}))
    prog = decode_image_pixels(
        _encode_progressive_jpeg(32, 24, comps, {0: Q})
    )
    assert prog == base
    # a DC-only progressive file (spectral selection without any AC
    # scan) is spec-legal: every block decodes as its DC average
    dc_only = _encode_progressive_jpeg(
        32, 24, comps, {0: Q},
        scans=[((0,), 0, 0, 0, 1), ((0,), 0, 0, 1, 0)],
    )
    got = decode_image_pixels(dc_only)
    from icedb_spark.operators.multimodal import _jpeg_idct_block
    for by in range(3):
        for bx in range(4):
            want8 = _jpeg_idct_block(
                [grid[by][bx][0]] + [0] * 63, Q
            )
            for yy in range(8):
                for xx in range(8):
                    assert got[(8 * by + yy) * 32 + 8 * bx + xx] \
                        == want8[8 * yy + xx]


def test_decode_jpeg_progressive_color_420_and_restarts():
    """Progressive color 4:2:0 with restart intervals: interleaved DC
    MCU order over subsampled chroma, per-component non-interleaved AC
    scans (data units in COMPONENT raster order — nbw/nbh, not the
    padded grid), RSTn inside scans (EOB run + predictors reset), all
    equal to the baseline decode of the same coefficients."""
    import random

    from __spark_entry__ import _encode_baseline_jpeg, _encode_progressive_jpeg
    from icedb_spark.operators import decode_image_pixels

    Q = _jpeg_q_lum()
    rng = random.Random(23)
    comps = [
        {"id": 1, "h": 2, "v": 2, "tq": 0,
         "grid": _rand_jpeg_grid(rng, 4, 4)},
        {"id": 2, "h": 1, "v": 1, "tq": 0,
         "grid": _rand_jpeg_grid(rng, 2, 2, dc=20, ac=4)},
        {"id": 3, "h": 1, "v": 1, "tq": 0,
         "grid": _rand_jpeg_grid(rng, 2, 2, dc=20, ac=4)},
    ]
    base = decode_image_pixels(_encode_baseline_jpeg(32, 32, comps, {0: Q}))
    for dri in (0, 3):
        prog = decode_image_pixels(
            _encode_progressive_jpeg(32, 32, comps, {0: Q}, dri=dri)
        )
        assert prog == base, f"dri={dri}"
    # frame width not an MCU multiple: the luma component's data-unit
    # grid (nbw) stays the padded width but chroma's is SMALLER than
    # its padded block grid — the non-interleaved AC scans must walk
    # component dims, not MCU dims
    comps17 = [
        {"id": 1, "h": 2, "v": 2, "tq": 0,
         "grid": _rand_jpeg_grid(rng, 4, 4)},
        {"id": 2, "h": 1, "v": 1, "tq": 0,
         "grid": _rand_jpeg_grid(rng, 2, 2, dc=20, ac=4)},
        {"id": 3, "h": 1, "v": 1, "tq": 0,
         "grid": _rand_jpeg_grid(rng, 2, 2, dc=20, ac=4)},
    ]
    base17 = decode_image_pixels(
        _encode_baseline_jpeg(17, 18, comps17, {0: Q})
    )
    prog17 = decode_image_pixels(
        _encode_progressive_jpeg(17, 18, comps17, {0: Q})
    )
    assert prog17 == base17


def test_decode_jpeg_progressive_roundtrip_property():
    """Hypothesis-style sweep without the import: many random grids and
    scan scripts (variable spectral splits and approximation depths)
    must all decode identically to baseline."""
    import random

    from __spark_entry__ import _encode_baseline_jpeg, _encode_progressive_jpeg
    from icedb_spark.operators import decode_image_pixels

    Q = _jpeg_q_lum()
    rng = random.Random(41)
    for trial in range(6):
        nby, nbx = rng.randint(1, 3), rng.randint(1, 3)
        w = nbx * 8 - rng.randint(0, 7)
        h = nby * 8 - rng.randint(0, 7)
        grid = _rand_jpeg_grid(rng, nby, nbx)
        comps = [{"id": 1, "h": 1, "v": 1, "tq": 0, "grid": grid}]
        base = decode_image_pixels(
            _encode_baseline_jpeg(w, h, comps, {0: Q})
        )
        # random spectral split + approximation depth
        split = rng.randint(1, 62)
        al_top = rng.randint(0, 3)
        scans = [((0,), 0, 0, 0, al_top)]
        scans.append(((0,), 1, split, 0, al_top))
        scans.append(((0,), split + 1, 63, 0, al_top))
        for al in range(al_top - 1, -1, -1):
            scans.append(((0,), 1, 63, al + 1, al))
            scans.append(((0,), 0, 0, al + 1, al))
        blob = _encode_progressive_jpeg(w, h, comps, {0: Q}, scans=scans)
        assert decode_image_pixels(blob) == base, (
            f"trial {trial}: w={w} h={h} split={split} al={al_top}"
        )


def test_decode_jpeg_progressive_hostile():
    """Recognized-progressive failure modes fail loudly: truncated
    entropy stream, truncated scan sequence (no EOI), multi-component
    AC scan, DC scan carrying an AC band."""
    import random

    from __spark_entry__ import _encode_progressive_jpeg
    from icedb_spark.operators import decode_image_pixels

    Q = _jpeg_q_lum()
    rng = random.Random(5)
    grid = _rand_jpeg_grid(rng, 2, 2)
    comps = [{"id": 1, "h": 1, "v": 1, "tq": 0, "grid": grid}]
    good = _encode_progressive_jpeg(16, 16, comps, {0: Q})
    assert decode_image_pixels(good) is not None
    # truncation anywhere in the scan sequence raises
    with pytest.raises(ValueError):
        decode_image_pixels(good[:-8])
    with pytest.raises(ValueError):
        decode_image_pixels(good[: len(good) // 2])
    # AC scan claiming two components: craft SOS ns=2 on a 1-comp frame
    bad = bytearray(good)
    sos_at = bad.find(b"\xff\xda")
    assert sos_at > 0
    # first scan is the interleaved DC scan (ns=1 here); set Ss=1 to
    # make it an AC band on a DC scan header
    ns = bad[sos_at + 4]
    ss_at = sos_at + 5 + 2 * ns
    bad_dc = bytearray(good)
    bad_dc[ss_at] = 1  # Ss=1, Se=0 → band error
    with pytest.raises(ValueError, match="spectral band|AC band|single"):
        decode_image_pixels(bytes(bad_dc))
    """T.81 A.2.2: a single-component scan is NON-interleaved — 8x8 data
    units in raster order, no MCU grouping — so the frame's declared h/v
    sampling factors must not change the decode (ADVICE r11: honoring
    them misplaced blocks / spuriously truncated). The entropy stream of
    a 1-component scan is identical regardless of declared sampling, so
    patching the SOF hv byte of a valid 1x1 stream yields an equally
    valid file that must decode to the same pixels."""
    from __spark_entry__ import _encode_baseline_jpeg
    from icedb_spark.operators import decode_image_pixels

    q8 = [8] * 64

    def dcblk(c):
        return [c - 128] + [0] * 63

    vals = [10, 200, 57, 130, 255, 0]
    grid = [[dcblk(vals[3 * by + bx]) for bx in range(3)]
            for by in range(2)]
    # dri=3 also pins the restart cadence: non-interleaved restart
    # intervals count data units, which at forced h=v=1 is the MCU count
    blob = _encode_baseline_jpeg(
        24, 16, [{"id": 1, "h": 1, "v": 1, "tq": 0, "grid": grid}],
        {0: q8}, dri=3,
    )
    want = decode_image_pixels(blob)
    assert want == [
        vals[3 * (y // 8) + (x // 8)] for y in range(16) for x in range(24)
    ]
    sof_at = blob.find(b"\xff\xc0")
    # SOF0 layout: marker(2) len(2) prec(1) h(2) w(2) nc(1) cid(1) hv(1)
    assert blob[sof_at + 11] == 0x11
    for hv in (0x22, 0x21, 0x12, 0x44):
        patched = bytearray(blob)
        patched[sof_at + 11] = hv
        assert decode_image_pixels(bytes(patched)) == want


def test_decode_tiff_packbits_cumulative_raster_bound():
    """ADVICE r11 (medium): the PackBits raster-byte cap must be
    CUMULATIVE across strips — a hostile file declaring many strips that
    alias the same compressed region would otherwise allocate
    nstrips x raster bytes before the final length check."""
    import struct

    from icedb_spark.operators import decode_image_pixels

    # reuse the exact builder shape of test_decode_tiff_packbits
    def tiff_pb(w, h, strips):
        nstrips = len(strips)
        hdr_ents = 9
        ifd_off = 8
        extra_off = ifd_off + 2 + 12 * hdr_ents + 4
        ex = bytearray()
        so_pos = len(ex)
        ex += b"\x00" * 4 * nstrips
        sc_pos = len(ex)
        ex += b"\x00" * 4 * nstrips
        data_off = extra_off + len(ex)
        blob = bytearray()
        offs = []
        for s in strips:
            offs.append(data_off + len(blob))
            blob += s
        for i, (o, s) in enumerate(zip(offs, strips)):
            struct.pack_into("<I", ex, so_pos + 4 * i, o)
            struct.pack_into("<I", ex, sc_pos + 4 * i, len(s))

        def ent(tag, typ, cnt, val):
            return struct.pack("<HHI", tag, typ, cnt) + val

        def iv16(v):
            return struct.pack("<H", v) + b"\x00\x00"

        rps = (h + nstrips - 1) // nstrips
        ents = (
            ent(256, 3, 1, iv16(w)) + ent(257, 3, 1, iv16(h))
            + ent(258, 3, 1, iv16(8)) + ent(259, 3, 1, iv16(32773))
            + ent(262, 3, 1, iv16(1))
            + ent(273, 4, nstrips,
                  struct.pack("<I", offs[0]) if nstrips == 1
                  else struct.pack("<I", extra_off + so_pos))
            + ent(277, 3, 1, iv16(1)) + ent(278, 3, 1, iv16(rps))
            + ent(279, 4, nstrips,
                  struct.pack("<I", len(strips[0])) if nstrips == 1
                  else struct.pack("<I", extra_off + sc_pos))
        )
        return (b"II*\x00" + struct.pack("<I", ifd_off)
                + struct.pack("<H", hdr_ents) + ents
                + struct.pack("<I", 0) + bytes(ex) + bytes(blob))

    # each strip alone decodes to EXACTLY the 6x4 raster (24 bytes:
    # one repeat run, count byte 257-24=233) — the old per-strip bound
    # passed every copy; 64 aliased copies must now fail at strip 2,
    # not allocate 64 x raster before the final length check
    full = bytes([233, 7])
    assert decode_image_pixels(tiff_pb(6, 4, [full])) == [7] * 24
    with pytest.raises(ValueError, match="exceeds raster"):
        decode_image_pixels(tiff_pb(6, 4, [full] * 64))
    with pytest.raises(ValueError, match="exceeds raster"):
        decode_image_pixels(tiff_pb(6, 4, [full, full, full]))


def test_decode_wav_g711_ulaw_alaw():
    """ITU-T G.711 µ-law (format 7) and A-law (format 6) WAV decode —
    the telephony corpus formats. Cross-validated against stdlib
    audioop over ALL 256 code points for both laws, plus stereo
    channel-0 stride, the EXTENSIBLE wrapper, and layout failure
    modes."""
    import struct

    audioop = pytest.importorskip("audioop")
    from icedb_spark.operators import decode_wav_samples

    def fmt16(afmt, ch, sr, block, bits):
        return struct.pack("<HHIIHH", afmt, ch, sr, sr * block, block, bits)

    all_codes = bytes(range(256))
    for afmt, name in ((7, "ulaw"), (6, "alaw")):
        want = [
            struct.unpack("<h", getattr(audioop, f"{name}2lin")(
                bytes([b]), 2
            ))[0]
            for b in all_codes
        ]
        sr, got = decode_wav_samples(
            _wav_raw(fmt16(afmt, 1, 8000, 1, 8), all_codes)
        )
        assert (sr, got) == (8000, want), name
        # stereo: channel 0 only, junk in channel 1 must be skipped
        inter = bytes(v for b in all_codes[:16] for v in (b, 0xAA))
        _, got2 = decode_wav_samples(
            _wav_raw(fmt16(afmt, 2, 8000, 2, 8), inter)
        )
        assert got2 == want[:16], name
    # EXTENSIBLE wrapping mu-law
    guid = struct.pack("<H", 7) + bytes(14)
    fmt_ext = (fmt16(0xFFFE, 1, 8000, 1, 8)
               + struct.pack("<HHI", 22, 8, 0x4) + guid)
    _, got3 = decode_wav_samples(_wav_raw(fmt_ext, bytes([0x00, 0xFF])))
    assert got3 == [
        struct.unpack("<h", audioop.ulaw2lin(bytes([b]), 2))[0]
        for b in (0x00, 0xFF)
    ]
    # G.711 at a non-8-bit width: loud failure
    with pytest.raises(ValueError, match="G.711"):
        decode_wav_samples(
            _wav_raw(fmt16(7, 1, 8000, 2, 16), b"\x00\x00")
        )


def test_decode_wav_block_align_must_hold_a_frame():
    """ADVICE r11: a lying fmt with block_align < channels*(bits//8)
    must raise up front — the 24-bit arm's int.from_bytes would
    otherwise decode a silently-wrong value from a short slice."""
    import struct

    from icedb_spark.operators import decode_wav_samples

    def fmt16(afmt, ch, sr, block, bits):
        return struct.pack("<HHIIHH", afmt, ch, sr, sr * block, block, bits)

    # 24-bit mono declaring block_align=2 (< 3): loud failure
    data = (-1).to_bytes(3, "little", signed=True) * 4
    with pytest.raises(ValueError, match="unsupported layout"):
        decode_wav_samples(_wav_raw(fmt16(1, 1, 8000, 2, 24), data))
    # float32 mono declaring block_align=2 (< 4): loud failure
    with pytest.raises(ValueError, match="unsupported layout"):
        decode_wav_samples(
            _wav_raw(fmt16(3, 1, 8000, 2, 32), struct.pack("<f", 0.5))
        )
    # stereo 16-bit declaring block_align=2 (< 4): channel stride lies
    with pytest.raises(ValueError, match="unsupported layout"):
        decode_wav_samples(
            _wav_raw(fmt16(1, 2, 8000, 2, 16), struct.pack("<hh", 1, 2))
        )
    # legitimate padded container (block_align > frame bytes) still fine
    sr, out = decode_wav_samples(
        _wav_raw(fmt16(1, 1, 8000, 4, 16), struct.pack("<hh", -7, 0) * 2)
    )
    assert (sr, out) == (8000, [-7, -7])


def test_pq_codes_must_fit_8bit_lane(spark):
    """ADVICE r11: k_sub > 256 would let a PQ code overflow its 8-bit
    lane in the packed-bigint index. pq_subcodebook_rows refuses up
    front; ivfpq_index_rows fail-louds on a caller-supplied trained
    sub-codebook whose code ids are out of lane."""
    from icedb_spark.operators.similarity import (
        ivf_codebook_rows,
        ivfpq_index_rows,
        pq_subcodebook_rows,
    )

    emb = spark.createDataFrame(
        [(i, [float((i * 7 + j) % 5) + 1.0 for j in range(8)])
         for i in range(12)],
        "vec_id long, embedding array<double>",
    )
    with pytest.raises(ValueError, match="8-bit lane"):
        pq_subcodebook_rows(emb, dim=8, m_sub=4, k_sub=257)
    # ok at the boundary
    sc = pq_subcodebook_rows(emb, dim=8, m_sub=4, k_sub=12)
    cb = ivf_codebook_rows(emb, n_centroids=2)
    assert ivfpq_index_rows(emb, cb, sc, dim=8, m_sub=4).count() == 12
    # trained sub-codebook with an out-of-lane code id: distributed
    # fail-loud (raise_error inside the packing expression)
    import pyspark.sql.functions as F
    bad = sc.withColumn("j", F.col("j") + 300)
    from py4j.protocol import Py4JJavaError
    from pyspark.errors import PySparkException

    with pytest.raises((Py4JJavaError, PySparkException, Exception)):
        ivfpq_index_rows(emb, cb, bad, dim=8, m_sub=4).collect()


def _luma(p):
    return (299 * ((p >> 16) & 255) + 587 * ((p >> 8) & 255)
            + 114 * (p & 255)) // 1000


def test_decode_vp8l_roundtrip_all_arms():
    """WebP-lossless (VP8L, RFC 9649) decode vs the independent
    spec-side encoder: literals, subtract-green, color cache, LZ77
    (dist-1 runs AND row-above copies through the 2D plane-code map),
    every palette bundling width (8/4/2/1 px per byte), all 14
    predictor modes, the color transform, meta prefix-code groups, and
    the full spatial combo."""
    import random

    from __spark_entry__ import _encode_webp_lossless
    from icedb_spark.operators import decode_image_pixels

    rng = random.Random(7)
    w, h = 19, 13
    noisy = [
        (rng.randint(0, 255) << 24) | (rng.randint(0, 255) << 16)
        | (rng.randint(0, 255) << 8) | rng.randint(0, 255)
        for _ in range(w * h)
    ]
    want = [_luma(p) for p in noisy]
    assert decode_image_pixels(_encode_webp_lossless(w, h, noisy)) == want
    assert decode_image_pixels(
        _encode_webp_lossless(w, h, noisy, subgreen=True)
    ) == want
    assert decode_image_pixels(
        _encode_webp_lossless(w, h, noisy, cache_bits=4)
    ) == want
    # runs for LZ77 (vertical + horizontal)
    runs = [
        0xFF000000 | (((y * 37) % 256) << 16) | (((y * 11) % 256) << 8)
        | ((y * 5) % 256)
        for y in range(h) for _ in range(w)
    ]
    assert decode_image_pixels(
        _encode_webp_lossless(w, h, runs, lz77=True, cache_bits=3)
    ) == [_luma(p) for p in runs]
    # every bundling width
    for ncol in (2, 4, 16, 60):
        pal = list(dict.fromkeys(
            0xFF000000 | (rng.randint(0, 255) << 16)
            | (rng.randint(0, 255) << 8) | rng.randint(0, 255)
            for _ in range(ncol)
        ))
        img = [pal[rng.randint(0, len(pal) - 1)] for _ in range(w * h)]
        assert decode_image_pixels(
            _encode_webp_lossless(w, h, img, palette=True)
        ) == [_luma(p) for p in img], f"palette {ncol}"
    # all 14 predictor modes across tiles, then the color transform,
    # then both + subgreen + cache + lz77 in one stream
    tw, th = (w + 3) // 4, (h + 3) // 4
    modes = [i % 14 for i in range(tw * th)]
    ctes = [
        (rng.randint(0, 255) << 16) | (rng.randint(0, 255) << 8)
        | rng.randint(0, 255)
        for _ in range(tw * th)
    ]
    assert decode_image_pixels(_encode_webp_lossless(
        w, h, noisy, predictor_bits=2, predictor_modes=modes
    )) == want
    assert decode_image_pixels(_encode_webp_lossless(
        w, h, noisy, color_bits=2, color_ctes=ctes
    )) == want
    grad = [
        0xFF000000 | (((x * 9 + y * 3) % 256) << 16)
        | (((x * 5) % 256) << 8) | ((y * 7) % 256)
        for y in range(h) for x in range(w)
    ]
    assert decode_image_pixels(_encode_webp_lossless(
        w, h, grad, subgreen=True, cache_bits=3, lz77=True,
        predictor_bits=2, predictor_modes=modes,
        color_bits=2, color_ctes=ctes,
    )) == [_luma(p) for p in grad]
    # meta prefix groups (two groups split by tile)
    mw, mh = (w + 7) // 8, (h + 7) // 8
    meta = [i % 2 for i in range(mw * mh)]
    assert decode_image_pixels(_encode_webp_lossless(
        w, h, noisy, meta_bits=3, meta_map=meta
    )) == want


def _libwebp():
    import ctypes

    try:
        lib = ctypes.CDLL("libwebp.so.7")
    except OSError:
        try:
            lib = ctypes.CDLL("/usr/lib/x86_64-linux-gnu/libwebp.so.7")
        except OSError:
            return None
    lib.WebPEncodeLosslessRGBA.restype = ctypes.c_size_t
    lib.WebPEncodeLosslessRGBA.argtypes = [
        ctypes.c_char_p, ctypes.c_int, ctypes.c_int, ctypes.c_int,
        ctypes.POINTER(ctypes.c_void_p),
    ]
    lib.WebPDecodeRGBA.restype = ctypes.POINTER(ctypes.c_ubyte)
    lib.WebPDecodeRGBA.argtypes = [
        ctypes.c_char_p, ctypes.c_size_t,
        ctypes.POINTER(ctypes.c_int), ctypes.POINTER(ctypes.c_int),
    ]
    return lib


def test_decode_vp8l_against_real_libwebp():
    """GOLD test: streams produced by the REAL libwebp lossless encoder
    (whatever transforms/meta-groups/Huffman shapes it picks) must
    decode to the exact source pixels — and the independent encoder's
    output must round-trip through the REAL libwebp decoder, proving
    both sides against the reference implementation, not just each
    other. Alpha-0 pixels are excluded from the first leg: libwebp's
    default alpha cleanup intentionally discards RGB under fully
    transparent pixels (exact=0) before encoding."""
    import ctypes
    import random

    lib = _libwebp()
    if lib is None:
        pytest.skip("libwebp not available")
    from __spark_entry__ import _encode_webp_lossless
    from icedb_spark.operators import decode_image_pixels

    def enc_real(w, h, argb):
        rgba = bytearray()
        for p in argb:
            rgba += bytes([(p >> 16) & 255, (p >> 8) & 255, p & 255,
                           (p >> 24) & 255])
        out = ctypes.c_void_p()
        n = lib.WebPEncodeLosslessRGBA(
            bytes(rgba), w, h, w * 4, ctypes.byref(out)
        )
        assert n > 0
        data = ctypes.string_at(out, n)
        lib.WebPFree(out)
        return data

    def dec_real(blob):
        wi, hi = ctypes.c_int(), ctypes.c_int()
        buf = lib.WebPDecodeRGBA(
            blob, len(blob), ctypes.byref(wi), ctypes.byref(hi)
        )
        assert buf
        n = wi.value * hi.value
        raw = ctypes.string_at(buf, 4 * n)
        lib.WebPFree(buf)
        return wi.value, hi.value, [
            (raw[4 * i + 3] << 24) | (raw[4 * i] << 16)
            | (raw[4 * i + 1] << 8) | raw[4 * i + 2]
            for i in range(n)
        ]

    rng = random.Random(99)
    shapes = [(1, 1), (1, 9), (9, 1), (33, 21), (64, 48)]
    for w, h in shapes:
        imgs = {
            "grad": [
                0xFF000000 | (((x * 7 + y * 3) % 256) << 16)
                | (((x * 2 + y * 9) % 256) << 8) | ((x + y) % 256)
                for y in range(h) for x in range(w)
            ],
            "flat": [0xFF3399CC] * (w * h),
            "noisy": [
                0xFF000000 | (rng.randint(0, 255) << 16)
                | (rng.randint(0, 255) << 8) | rng.randint(0, 255)
                for _ in range(w * h)
            ],
            "pal": [
                [0xFF102030, 0xFF405060, 0xFF708090, 0xFFA0B0C0][
                    rng.randint(0, 3)
                ]
                for _ in range(w * h)
            ],
            # nonzero alpha everywhere: the encoder's alpha cleanup
            # only rewrites alpha-0 pixels
            "alpha": [
                (rng.randint(1, 255) << 24) | (rng.randint(0, 255) << 16)
                | (rng.randint(0, 255) << 8) | rng.randint(0, 255)
                for _ in range(w * h)
            ],
        }
        for name, img in imgs.items():
            blob = enc_real(w, h, img)
            assert blob[12:16] == b"VP8L"
            got = decode_image_pixels(blob)
            assert got == [_luma(p) for p in img], f"{name} {w}x{h}"
    # leg 2: my encoder's streams through the REAL decoder
    w, h = 19, 13
    tw, th = (w + 3) // 4, (h + 3) // 4
    noisy = imgs["noisy"][: w * h] if len(imgs["noisy"]) >= w * h else [
        0xFF000000 | (rng.randint(0, 255) << 16)
        | (rng.randint(0, 255) << 8) | rng.randint(0, 255)
        for _ in range(w * h)
    ]
    arms = [
        {},
        {"subgreen": True},
        {"cache_bits": 4},
        {"lz77": True},
        {"palette": True},
        {"predictor_bits": 2,
         "predictor_modes": [i % 14 for i in range(tw * th)]},
        {"color_bits": 2,
         "color_ctes": [((i * 37) % 256) << 16 | ((i * 11) % 256) << 8
                        | (i * 5) % 256 for i in range(tw * th)]},
        {"meta_bits": 3,
         "meta_map": [i % 2 for i in range(((w + 7) // 8)
                                           * ((h + 7) // 8))]},
    ]
    pal_img = [
        [0xFF112233, 0xFF445566, 0xFF778899][rng.randint(0, 2)]
        for _ in range(w * h)
    ]
    for kw in arms:
        img = pal_img if "palette" in kw else noisy
        blob = _encode_webp_lossless(w, h, img, **kw)
        wi, hi, got = dec_real(blob)
        assert (wi, hi) == (w, h)
        assert got == img, f"libwebp rejects arm {list(kw)}"


def test_decode_webp_container_and_hostile():
    """WebP container walk + hostile inputs: lossy VP8 and animation
    raise as recognized-unsupported; truncated chunks, bad VP8L
    signature/version, repeated transforms, hostile geometry claims,
    and truncated bitstreams all raise; unknown containers return
    None upstream (dispatcher contract)."""
    import struct

    from __spark_entry__ import _encode_webp_lossless
    from icedb_spark.operators import decode_image_pixels

    good = _encode_webp_lossless(4, 4, [0xFF010203] * 16)
    assert decode_image_pixels(good) is not None

    def container(*chunks):
        body = b"WEBP"
        for cid, payload in chunks:
            body += cid + struct.pack("<I", len(payload)) + payload
            if len(payload) & 1:
                body += b"\x00"
        return b"RIFF" + struct.pack("<I", len(body)) + body

    with pytest.raises(ValueError, match="lossy VP8"):
        decode_image_pixels(container((b"VP8 ", b"\x00" * 20)))
    with pytest.raises(ValueError, match="animated"):
        decode_image_pixels(container((b"ANIM", b"\x00" * 6)))
    with pytest.raises(ValueError, match="without an image"):
        decode_image_pixels(container((b"EXIF", b"ab")))
    # truncated chunk body
    trunc = good[:20]
    with pytest.raises(ValueError):
        decode_image_pixels(trunc)
    # truncated VP8L bitstream INSIDE an intact container: shorten the
    # payload but keep the chunk size honest
    vp8l_at = good.find(b"VP8L")
    (paylen,) = struct.unpack("<I", good[vp8l_at + 4:vp8l_at + 8])
    payload = good[vp8l_at + 8:vp8l_at + 8 + paylen]
    short = payload[: max(6, paylen - 4)]
    with pytest.raises(ValueError, match="truncated VP8L"):
        decode_image_pixels(container((b"VP8L", short)))
    # bad signature / version
    sig_at = good.find(b"VP8L") + 8
    bad = bytearray(good)
    bad[sig_at] = 0x2E
    with pytest.raises(ValueError, match="signature"):
        decode_image_pixels(bytes(bad))
    # hostile geometry: 16383x16383 claim (> 64M px) in a tiny stream
    hostile = bytearray(good)
    # width-1/height-1 are the 28 bits after the signature byte
    hostile[sig_at + 1:sig_at + 5] = b"\xff\xff\xff\xff"
    with pytest.raises(ValueError):
        decode_image_pixels(bytes(hostile))


def test_bpe_detokenize_roundtrip(spark):
    """decode(encode(x)) == normalize(x): word ordinals make the stream
    decodable; a bare (pos, subword) stream is refused as ambiguous."""
    from icedb_spark.operators import (
        bpe_alphabet_merges,
        bpe_detokenize,
        bpe_tokenize,
    )

    docs = spark.createDataFrame(
        [(1, "  Hello   BPE world "), (2, "one"), (3, "a b a b")],
        "doc_id long, text string",
    )
    merges = bpe_alphabet_merges()
    stream = bpe_tokenize(docs, merges, with_word_ord=True)
    assert stream.columns == ["doc_id", "pos", "word_ord", "subword"]
    got = {r["doc_id"]: r["text"] for r in bpe_detokenize(stream).collect()}
    assert got == {1: "hello bpe world", 2: "one", 3: "a b a b"}

    bare = bpe_tokenize(docs, merges)
    assert bare.columns == ["doc_id", "pos", "subword"]
    with pytest.raises(ValueError, match="word_ord"):
        bpe_detokenize(bare)


def test_parse_mp4_keyframes_video_track_selection():
    """Real muxers often put the audio trak first: the parser must pick
    the trak whose hdlr is 'vide' (an audio trak with no stss would
    otherwise explode one bogus keyframe per audio sample), and must
    walk past a 64-bit largesize mdat to find moov."""
    import struct

    from icedb_spark.operators import parse_mp4_keyframes

    def box(typ, payload):
        return struct.pack(">I", 8 + len(payload)) + typ + payload

    def trak(handler, timescale, runs, stss=None):
        mdhd = box(b"mdhd", b"\x00" * 12
                   + struct.pack(">II", timescale, 0) + b"\x00" * 4)
        hdlr = box(b"hdlr", b"\x00" * 8 + handler + b"\x00" * 12)
        stts = box(b"stts", b"\x00" * 4 + struct.pack(">I", len(runs))
                   + b"".join(struct.pack(">II", c, d) for c, d in runs))
        tables = stts
        if stss is not None:
            tables += box(b"stss", b"\x00" * 4
                          + struct.pack(">I", len(stss))
                          + b"".join(struct.pack(">I", x) for x in stss))
        return box(b"trak", box(b"mdia",
                                mdhd + hdlr + box(b"minf", box(b"stbl", tables))))

    # audio first (44.1k samples/s shape, no stss), video second
    audio = trak(b"soun", 44100, [(8, 1024)])
    video = trak(b"vide", 1000, [(4, 250)], stss=[1, 3])
    moov = box(b"moov", audio + video)
    blob = box(b"ftyp", b"isom\x00\x00\x00\x00") + moov
    assert parse_mp4_keyframes(blob) == [(1, 0), (3, 500)]

    # a largesize (size==1, 64-bit) mdat before moov must not hide it
    mdat_payload = b"\x00" * 24
    large_mdat = (struct.pack(">I", 1) + b"mdat"
                  + struct.pack(">Q", 16 + len(mdat_payload)) + mdat_payload)
    blob2 = box(b"ftyp", b"isom\x00\x00\x00\x00") + large_mdat + moov
    assert parse_mp4_keyframes(blob2) == [(1, 0), (3, 500)]


def _agif(w, h, gct, frames, bg_idx=0):
    """Animated-GIF builder (spec-side): ``frames`` is a list of dicts
    with keys rect=(x,y,fw,fh), indices, and optional lct, delay_cs,
    transparent, disposal, interlace."""
    import struct

    size_field = max(0, max(2, (len(gct) - 1).bit_length()) - 1)
    table = b"".join(bytes(c) for c in gct) + b"\x00" * (
        3 * ((2 << size_field) - len(gct))
    )
    out = bytearray(b"GIF89a" + struct.pack("<HH", w, h))
    out += bytes([0x80 | size_field, bg_idx, 0]) + table
    for f in frames:
        x, y, fw, fh = f["rect"]
        gflags = (f.get("disposal", 0) << 2) | (
            1 if f.get("transparent") is not None else 0
        )
        out += (b"\x21\xf9\x04" + bytes([gflags])
                + struct.pack("<H", f.get("delay_cs", 0))
                + bytes([f.get("transparent") or 0, 0]))
        lct = f.get("lct")
        pal = lct or gct
        min_code = max(2, (len(pal) - 1).bit_length())
        ipacked = 0x40 if f.get("interlace") else 0
        if lct:
            lsf = max(0, min_code - 1)
            ipacked |= 0x80 | lsf
        out += b"\x2c" + struct.pack("<HHHH", x, y, fw, fh) + bytes([ipacked])
        if lct:
            out += b"".join(bytes(c) for c in lct) + b"\x00" * (
                3 * ((2 << (min_code - 1)) - len(lct))
            )
        idx = list(f["indices"])
        if f.get("interlace"):
            order = (list(range(0, fh, 8)) + list(range(4, fh, 8))
                     + list(range(2, fh, 4)) + list(range(1, fh, 2)))
            rows = [idx[r * fw:(r + 1) * fw] for r in range(fh)]
            idx = [px for r in order for px in rows[r]]
        data = _gif_lzw_encode(idx, min_code)
        out += bytes([min_code])
        for i in range(0, len(data), 200):
            chunk = data[i:i + 200]
            out += bytes([len(chunk)]) + chunk
        out += b"\x00"
    out += b"\x3b"
    return bytes(out)


def test_decode_gif_frames_compositing():
    """Animated GIF compositing: transparency leaves the canvas,
    disposal 2 restores the frame rect to background, disposal 3
    restores the pre-frame canvas, sub-rect offsets and local palettes
    compose onto the logical screen, delays convert cs -> ms, and the
    max_frames cap bounds hostile animations."""
    from icedb_spark.operators import decode_gif_frames, decode_image_pixels

    def luma(c):
        return (299 * c[0] + 587 * c[1] + 114 * c[2]) // 1000

    gct = [(0, 0, 0), (255, 0, 0), (0, 255, 0), (0, 0, 255)]
    lct = [(10, 20, 30), (200, 100, 50)]
    w, h = 6, 4
    base = [1] * (w * h)  # frame 0: all red, full screen
    patch = [0, 1, 1, 0]  # frame 1: 2x2 at (2,1), idx 0 TRANSPARENT -> lct[1]
    f2 = [2] * (w * h)    # frame 2: all green, disposal 2 (restore to bg)
    f3 = [3, 3, 3, 3]     # frame 3: blue 2x2 at (0,0), disposal 3
    f4 = [2, 2, 2, 2]     # frame 4: sees the canvas as it was before f3
    blob = _agif(w, h, gct, [
        {"rect": (0, 0, w, h), "indices": base, "delay_cs": 7},
        {"rect": (2, 1, 2, 2), "indices": patch, "lct": lct,
         "transparent": 0, "delay_cs": 12},
        {"rect": (0, 0, w, h), "indices": f2, "disposal": 2},
        {"rect": (0, 0, 2, 2), "indices": f3, "disposal": 3},
        {"rect": (0, 0, 2, 2), "indices": f4},
    ], bg_idx=0)
    frames = decode_gif_frames(blob)
    assert [f[0] for f in frames] == [0, 1, 2, 3, 4]
    assert [f[1] for f in frames] == [70, 120, 0, 0, 0]
    red, green, blue, bgl = (luma(gct[1]), luma(gct[2]), luma(gct[3]),
                             luma(gct[0]))
    c1 = luma(lct[1])
    # frame 0: all red
    assert frames[0][2] == [red] * (w * h)
    # frame 1: red everywhere except the two lct[1] pixels of the patch
    # (transparent index 0 leaves red showing through)
    want1 = [red] * (w * h)
    want1[1 * w + 3] = c1  # patch (1,0) -> screen (3,1)
    want1[2 * w + 2] = c1  # patch (0,1) -> screen (2,2)
    assert frames[1][2] == want1
    # frame 2: all green while shown
    assert frames[2][2] == [green] * (w * h)
    # frame 3: after f2's disposal-2 the canvas is background; f3 draws
    # a blue 2x2 in the corner
    want3 = [bgl] * (w * h)
    for yy in range(2):
        for xx in range(2):
            want3[yy * w + xx] = blue
    assert frames[3][2] == want3
    # frame 4: f3 was disposal-3, so its blue square is GONE; f4 draws
    # green over the restored background canvas
    want4 = [bgl] * (w * h)
    for yy in range(2):
        for xx in range(2):
            want4[yy * w + xx] = green
    assert frames[4][2] == want4
    # max_frames cap
    assert len(decode_gif_frames(blob, max_frames=2)) == 2
    # a full-screen opaque first frame matches the still-image arm
    assert frames[0][2] == decode_image_pixels(blob)
    # interlaced sub-frame composes identically to its sequential twin
    inter = _agif(8, 8, gct, [
        {"rect": (0, 0, 8, 8),
         "indices": [(i * 7 + 3) % 4 for i in range(64)],
         "interlace": True},
    ])
    seq = _agif(8, 8, gct, [
        {"rect": (0, 0, 8, 8),
         "indices": [(i * 7 + 3) % 4 for i in range(64)]},
    ])
    assert decode_gif_frames(inter)[0][2] == decode_gif_frames(seq)[0][2]
    # non-GIF -> None; frame outside the screen raises
    assert decode_gif_frames(b"\x89PNG\r\n\x1a\n") is None
    with pytest.raises(ValueError, match="outside the screen"):
        decode_gif_frames(_agif(4, 4, gct, [
            {"rect": (3, 3, 2, 2), "indices": [1, 1, 1, 1]},
        ]))


def test_gif_frame_phashes_operator(spark):
    """The per-frame hash operator: one row per composited frame with
    the same pooled-aHash contract as perceptual_hash — a static
    animation collapses to one distinct hash, a changing one doesn't."""
    from icedb_spark.operators import decode_gif_frames, gif_frame_phashes

    gct = [(i, i, i) for i in range(0, 256, 16)]
    w, h = 10, 8
    import random

    rng = random.Random(9)
    fr0 = [rng.randrange(16) for _ in range(w * h)]
    fr1 = [rng.randrange(16) for _ in range(w * h)]
    moving = _agif(w, h, gct, [
        {"rect": (0, 0, w, h), "indices": fr0, "delay_cs": 5},
        {"rect": (0, 0, w, h), "indices": fr1, "delay_cs": 5},
        {"rect": (0, 0, w, h), "indices": fr0},
    ])
    static = _agif(w, h, gct, [
        {"rect": (0, 0, w, h), "indices": fr0},
        {"rect": (0, 0, w, h), "indices": fr0},
    ])
    df = spark.createDataFrame(
        [(1, bytearray(moving)), (2, bytearray(static))],
        "media_id long, content binary",
    )
    rows = {(r["media_id"], r["frame_idx"]): r
            for r in gif_frame_phashes(df).collect()}
    assert len(rows) == 5
    assert rows[(1, 0)]["delay_ms"] == 50
    assert rows[(1, 0)]["phash"] == rows[(1, 2)]["phash"]  # fr0 again
    assert rows[(2, 0)]["phash"] == rows[(2, 1)]["phash"]
    # cross-check one frame against the decode + pool closed form
    from icedb_spark.operators.multimodal import _pool_pixels

    px = decode_gif_frames(moving)[1][2]
    pooled = _pool_pixels(px, 60)
    total = sum(pooled)
    hv = 0
    for p in pooled:
        hv = (hv << 1) | (1 if p * 60 > total else 0)
    assert rows[(1, 1)]["phash"] == hv


def test_decode_pnm_full_family():
    """The complete netpbm family: P1/P2/P3 ASCII with comments and
    free whitespace (P1 digits may pack without separators), P4 packed
    bits with byte-aligned rows, P5/P6 with spec-correct maxval
    scaling; bitmap 1 is BLACK."""
    from icedb_spark.operators import decode_image_pixels

    # P1: packed digits + comment mid-raster
    p1 = b"P1\n# bitmap\n5 2\n10101\n# mid\n01 0 1 0\n"
    assert decode_image_pixels(p1) == [
        0, 255, 0, 255, 0, 255, 0, 255, 0, 255
    ]
    # P2 with maxval 15 scaling (v * 255 // 15 = v * 17)
    p2 = b"P2 3 2 15\n0 5 15\n1 # c\n 10 7\n"
    assert decode_image_pixels(p2) == [0, 85, 255, 17, 170, 119]
    # P3 RGB with maxval 7
    p3 = b"P3 2 1 7\n7 0 0  0 7 0\n"
    assert decode_image_pixels(p3) == [
        (299 * 255) // 1000, (587 * 255) // 1000
    ]
    # P4: 10 wide (2 bytes/row, 6 padding bits), 1 = black
    p4 = b"P4\n10 2\n" + bytes([0b10110000, 0b01000000,
                                0b00000001, 0b11000000])
    assert decode_image_pixels(p4) == [
        0, 255, 0, 0, 255, 255, 255, 255, 255, 0,
        255, 255, 255, 255, 255, 255, 255, 0, 0, 0,
    ]
    # P5 with maxval 100: scaled
    p5 = b"P5 2 1 100\n" + bytes([0, 100])
    assert decode_image_pixels(p5) == [0, 255]
    # P6 with maxval 255: unchanged behavior
    p6 = b"P6 1 1 255\n" + bytes([255, 0, 0])
    assert decode_image_pixels(p6) == [(299 * 255) // 1000]
    # failure modes: sample over maxval, truncated P4, bad P1 digit
    with pytest.raises(ValueError, match="outside 0..maxval"):
        decode_image_pixels(b"P2 2 1 7\n3 9\n")
    # review finding: negative ASCII samples must raise, not emit
    # negative luma
    with pytest.raises(ValueError, match="outside 0..maxval"):
        decode_image_pixels(b"P2 2 1 255\n-5 10\n")
    with pytest.raises(ValueError, match="outside 0..maxval"):
        decode_image_pixels(b"P3 1 1 255\n-1 -1 -1\n")
    with pytest.raises(ValueError, match="truncated PNM"):
        decode_image_pixels(b"P4\n10 2\n\x00")
    with pytest.raises(ValueError, match="bitmap digit"):
        decode_image_pixels(b"P1 2 1\n0 2\n")

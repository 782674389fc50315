"""Tests for the LLM-pipeline extension operators: dedup, similarity,
text analysis, multimodal plumbing."""

import pytest
from pyspark.sql import functions as F

from mallarddv_spark.exceptions import DVConfigurationError
from mallarddv_spark.operators import dedup, multimodal, similarity, textops

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet")


@pytest.fixture(scope="module")
def embeddings(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet")


@pytest.fixture(scope="module")
def dup_docs(spark):
    """Documents with planted exact and near duplicates."""
    base = "the quick brown fox jumps over the lazy dog again and again today"
    rows = [
        (1, base),
        (2, base),  # exact dup of 1
        (3, base + " extra"),  # near dup of 1
        (4, "completely different content about spark partitions and shuffles"),
        (5, "the quick brown fox jumps over the lazy dog again and again tomorrow"),
        (6, "  THE   quick brown fox jumps over the lazy dog again and again today "),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


# --- dedup -----------------------------------------------------------------


def test_minhash_lsh_pairs(dup_docs):
    pairs = dedup.minhash_lsh_pairs(
        dup_docs, "doc_id", "text", num_perm=32, bands=8, threshold=0.5
    )
    got = {(r.doc_a, r.doc_b): r.jaccard for r in pairs.collect()}
    assert (1, 2) in got and got[(1, 2)] == 1.0  # exact dup found
    assert (1, 3) in got  # near dup found
    assert all(a < b for a, b in got)  # canonical pair order
    assert not any(4 in p for p in got)  # unrelated doc not paired


def test_containment_pairs_detect_inclusion(spark):
    """A small fragment verbatim inside a much larger document: Jaccard
    sits far below any near-dup bar, but containment of the fragment is
    1.0 — the inclusion axis the operator exists for."""
    big_tokens = " ".join(f"w{i}" for i in range(100))
    fragment = " ".join(f"w{i}" for i in range(10))
    df = spark.createDataFrame(
        [(1, big_tokens), (2, fragment), (3, "totally unrelated text here")],
        ["doc_id", "text"],
    )
    got = {
        (r.doc_a, r.doc_b): r
        for r in dedup.containment_pairs(
            df, "doc_id", "text", shingle_size=3, threshold=0.5
        ).collect()
    }
    assert set(got) == {(1, 2)}
    r = got[(1, 2)]
    assert r.containment_b == 1.0          # fragment fully inside big doc
    assert r.containment_a < 0.1           # big doc barely inside fragment
    assert r.sz_a == 98 and r.sz_b == 8 and r.inter == 8
    # symmetric Jaccard misses the same pair at its usual bar
    j = dedup.ngram_jaccard_pairs(
        df, "doc_id", "text", shingle_size=3, threshold=0.3
    )
    assert j.count() == 0


def test_containment_threshold_and_cap(spark):
    """max_shingle_df cuts boilerplate shingles from the universe via a
    pre-collect groupBy+semi-join; the cap plan must contain no per-key
    window and no post-aggregation size filter on a hot key's list."""
    import re

    boiler = " ".join(f"b{i}" for i in range(5))
    df = spark.createDataFrame(
        [(i, boiler) for i in range(6)] + [(10, "x y z q r s")],
        ["doc_id", "text"],
    )
    # cap below the boilerplate df → those shingles leave the universe,
    # so the six identical docs produce NO pairs
    out = dedup.containment_pairs(
        df, "doc_id", "text", shingle_size=3, threshold=0.1,
        max_shingle_df=5,
    )
    assert out.count() == 0
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "windowspecdefinition" not in plan
    # uncapped, every identical pair scores 1.0 both ways
    up = dedup.containment_pairs(
        df, "doc_id", "text", shingle_size=3, threshold=0.99,
        max_shingle_df=None,
    )
    assert up.count() == 15  # C(6,2)


def test_minhash_signatures_deterministic(dup_docs):
    s1 = dedup.minhash_signatures(dup_docs, "doc_id", "text", num_perm=8).collect()
    s2 = dedup.minhash_signatures(dup_docs, "doc_id", "text", num_perm=8).collect()
    assert sorted(map(tuple, s1)) == sorted(map(tuple, s2))
    by_id = {r.doc_id: tuple(r)[1:] for r in s1}
    assert by_id[1] == by_id[2]  # identical docs → identical signatures


def test_simhash_pairs(dup_docs):
    sigs = {r.doc_id: r.simhash for r in dedup.simhash64(dup_docs, "doc_id", "text").collect()}
    assert sigs[1] == sigs[2]
    pairs = dedup.simhash_pairs(dup_docs, "doc_id", "text", max_hamming=10)
    got = {(r.doc_a, r.doc_b): r.hamming for r in pairs.collect()}
    assert got.get((1, 2)) == 0
    assert (1, 3) in got  # near dup within hamming budget


def test_embedding_neardup(spark):
    rows = [
        (1, [1.0, 0.0, 0.0]),
        (2, [0.99, 0.05, 0.0]),  # near 1
        (3, [0.0, 1.0, 0.0]),  # orthogonal
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    pairs = dedup.embedding_neardup_pairs(df, "vec_id", "embedding", threshold=0.95)
    got = {(r.id_a, r.id_b) for r in pairs.collect()}
    assert got == {(1, 2)}


# --- similarity ------------------------------------------------------------


def test_cosine_topk_bruteforce(embeddings):
    q = embeddings.filter("vec_id < 3")
    c = embeddings.filter("vec_id >= 3")
    out = similarity.cosine_topk_bruteforce(q, c, k=4).collect()
    assert len(out) == 12
    for qid in (0, 1, 2):
        ranks = sorted(r.rank for r in out if r.query_id == qid)
        assert ranks == [1, 2, 3, 4]
        cosines = [r.cosine for r in sorted((r for r in out if r.query_id == qid), key=lambda r: r.rank)]
        assert cosines == sorted(cosines, reverse=True)


def test_hyperplane_lsh_recall(embeddings):
    """LSH top-1 should usually agree with brute force (sanity, not a
    guarantee — generous band settings give high recall on 64-dim)."""
    q = embeddings.filter("vec_id < 5")
    c = embeddings.filter("vec_id >= 5")
    exact = {
        r.query_id: r.neighbor_id
        for r in similarity.cosine_topk_bruteforce(q, c, k=1).collect()
    }
    approx = similarity.hyperplane_lsh_topk(
        q, c, k=1, num_bits=16, bands=8
    ).collect()
    got = {r.query_id: r.neighbor_id for r in approx}
    hits = sum(1 for k_ in exact if got.get(k_) == exact[k_])
    assert hits >= 3  # ≥60% top-1 recall with 8 bands of 2 bits


def test_ivf_topk(embeddings):
    q = embeddings.filter("vec_id < 3")
    c = embeddings.filter("vec_id >= 3")
    out = similarity.ivf_topk(q, c, k=3, n_centroids=8, nprobe=4).collect()
    assert {r.query_id for r in out} == {0, 1, 2}
    assert all(1 <= r.rank <= 3 for r in out)


# --- text ops --------------------------------------------------------------


def test_text_profile(docs):
    prof = textops.text_profile(docs, "doc_id", "text")
    rows = prof.collect()
    assert len(rows) == docs.count()
    r = rows[0]
    assert r.n_tokens > 0 and r.n_unique_tokens <= r.n_tokens
    assert 0.0 <= r.stopword_ratio <= 1.0
    assert 0.0 <= r.quality <= 1.0
    assert len(r.norm_fp) == 32 and len(r.sorted_fp) == 32


def test_lang_guess(spark):
    rows = [
        (1, "the cat and the dog of a house"),
        (2, "el perro y la casa de los gatos"),
        (3, "der hund und die katze ist hier"),
        (4, "xyz qqq zzz"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r.doc_id: r.g for r in df.select("doc_id", textops.lang_guess("text").alias("g")).collect()}
    assert got[1] == "en" and got[2] == "es" and got[3] == "de" and got[4] == "unknown"


# --- multimodal ------------------------------------------------------------


def test_multimodal_plumbing(docs):
    media = multimodal.attach_media_metadata(
        docs.select("doc_id", F.encode("text", "UTF-8").alias("blob")),
        "doc_id",
        "blob",
        modality="image",
        mime="image/fake",
    )
    assert [f.name for f in media.schema.fields] == [
        f.name for f in multimodal.MEDIA_SCHEMA.fields
    ]
    feats = multimodal.extract_features(media)
    rows = feats.collect()
    assert len(rows) == docs.count()
    r = rows[0]
    assert r.decode_ok == "stubbed"
    assert 64 <= r.width <= 255 and 64 <= r.height <= 255
    # deterministic fake: same content → same dims
    feats2 = {x.media_id: (x.width, x.height) for x in multimodal.extract_features(media).collect()}
    assert feats2[r.media_id] == (r.width, r.height)


def test_multimodal_audio_video_modalities(spark):
    from pyspark.sql import functions as F

    blobs = spark.createDataFrame(
        [(1, b"fake-audio-bytes"), (2, b"fake-video-bytes")], ["media_id", "blob"]
    )
    audio = multimodal.attach_media_metadata(
        blobs.filter("media_id = 1"), "media_id", "blob", "audio", "audio/fake"
    )
    video = multimodal.attach_media_metadata(
        blobs.filter("media_id = 2"), "media_id", "blob", "video", "video/fake"
    )
    feats = {r.modality: r for r in multimodal.extract_features(audio.unionByName(video)).collect()}
    assert feats["audio"].width is None and feats["audio"].n_frames >= 1
    assert feats["video"].width is not None and feats["video"].n_frames >= 1


def test_embedding_neardup_bucketed_superset(spark, embeddings):
    """The LSH-bucketed near-dup path must recover every high-cosine pair
    the exact O(n²) path finds (and no extra pairs — same scorer, fewer
    candidates). The synthetic corpus has no pairs above cosine 0.48, so
    plant near-identical vectors among random ones; at cosine ≥ 0.95 the
    16-bit/8-band shape misses a pair with probability < 1e-5."""
    import math
    import random

    rnd = random.Random(7)
    dim = 16

    def vec():
        return [rnd.gauss(0, 1) for _ in range(dim)]

    def jitter(v, eps=0.02):
        return [x + rnd.gauss(0, eps) for x in v]

    base1, base2 = vec(), vec()
    rows = [(1, base1), (2, jitter(base1)), (3, base2), (4, jitter(base2))]
    rows += [(i, vec()) for i in range(5, 60)]
    df = spark.createDataFrame(rows, "vec_id int, embedding array<double>")

    def pairs(**kw):
        return {
            (r.id_a, r.id_b)
            for r in dedup.embedding_neardup_pairs(
                df, "vec_id", "embedding", threshold=0.95, **kw
            ).collect()
        }

    exact = pairs()
    bucketed = pairs(bucketed=True, num_bits=16, bands=8)
    assert {(1, 2), (3, 4)} <= exact
    assert bucketed >= exact  # no misses at this threshold/band shape
    assert bucketed <= exact  # no false positives: same exact scorer
    # and on the real corpus the bucketed path runs end-to-end (plan shape)
    dedup.embedding_neardup_pairs(
        embeddings, "vec_id", "embedding", threshold=0.3,
        bucketed=True, num_bits=16, bands=8,
    ).count()


def test_multimodal_real_header_decode(spark):
    """Tier-1 decode is REAL: PNG/GIF/BMP/JPEG dimensions and WAV audio
    metadata parsed from payload bytes with stdlib struct — decode_ok='ok'
    without any image library in the container."""
    import io
    import struct
    import wave

    png = (
        b"\x89PNG\r\n\x1a\n"
        + struct.pack(">I", 13) + b"IHDR"
        + struct.pack(">IIBBBBB", 640, 480, 8, 2, 0, 0, 0)
    )
    gif = b"GIF89a" + struct.pack("<HH", 320, 200) + b"\x00" * 6
    bmp = b"BM" + b"\x00" * 16 + struct.pack("<ii", 100, -50) + b"\x00" * 10
    jpeg = (
        b"\xff\xd8"
        + b"\xff\xc0" + struct.pack(">H", 17) + b"\x08"
        + struct.pack(">HH", 1080, 1920) + b"\x00" * 10
        + b"\xff\xd9"
    )
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(2)
        w.setsampwidth(2)
        w.setframerate(16000)
        w.writeframes(b"\x00\x00" * 2 * 16000)  # 1 s of silence
    wav = buf.getvalue()

    imgs = spark.createDataFrame(
        [(1, png), (2, gif), (3, bmp), (4, jpeg)], ["media_id", "blob"]
    )
    media = multimodal.attach_media_metadata(imgs, "media_id", "blob", "image")
    feats = {r.media_id: r for r in multimodal.extract_features(media).collect()}
    assert (feats["1"].width, feats["1"].height, feats["1"].decode_ok) == (640, 480, "ok")
    assert (feats["2"].width, feats["2"].height, feats["2"].codec) == (320, 200, "gif")
    assert (feats["3"].width, feats["3"].height) == (100, 50)  # abs(negative h)
    assert (feats["4"].width, feats["4"].height, feats["4"].codec) == (1920, 1080, "jpeg")

    snd = spark.createDataFrame([(9, wav)], ["media_id", "blob"])
    audio = multimodal.attach_media_metadata(snd, "media_id", "blob", "audio")
    a = multimodal.extract_features(audio).collect()[0]
    assert a.decode_ok == "ok"
    assert a.sample_rate == 16000 and a.channels == 2
    assert 990 <= a.duration_ms <= 1010


@pytest.mark.skipif(
    multimodal._PILImage is None,
    reason="PIL not installed in this container — tier-2 decode inactive",
)
def test_multimodal_tier2_pil_decode(spark):
    """Tier-2 decode (PIL) activates the moment the container ships the
    library: a PPM image — a format tier-1 header parsing does NOT cover —
    must decode through PIL with real dimensions, and corrupt bytes must
    come back decode_ok='error' (PIL raised), never a silent stub."""
    # binary PPM: magic, dims, maxval, then raw RGB — stdlib-writable
    ppm = b"P6\n12 7\n255\n" + b"\x7f" * (12 * 7 * 3)
    corrupt = b"P6\ntruncated"
    df = spark.createDataFrame(
        [(1, ppm), (2, corrupt)], ["media_id", "blob"]
    )
    media = multimodal.attach_media_metadata(df, "media_id", "blob", "image")
    feats = {r.media_id: r for r in multimodal.extract_features(media).collect()}
    ok = feats["1"]
    assert (ok.width, ok.height, ok.decode_ok) == (12, 7, "ok")
    assert ok.codec == "ppm"
    assert feats["2"].decode_ok == "error"


def test_multimodal_chunk_roundtrip(spark):
    """chunk_payload's chunks, concatenated in chunk_idx order, reproduce
    payloads byte-exactly (the >2 GB layout, exercised with small
    chunks); external_reference
    rows carry URI + byte-range with NULL inline payload."""
    import hashlib

    rows = [(i, bytes(range(256)) * (3 + i)) for i in range(4)]
    df = spark.createDataFrame(rows, ["media_id", "blob"])
    chunks = multimodal.chunk_payload(df, "media_id", "blob", chunk_bytes=100)
    assert chunks.filter("chunk_idx >= n_chunks").count() == 0
    parts: dict = {}
    for r in chunks.collect():
        parts.setdefault(r.media_id, []).append((r.chunk_idx, r.chunk))
    back = {mid: b"".join(c for _, c in sorted(ps)) for mid, ps in parts.items()}
    for mid, blob in rows:
        assert hashlib.md5(back[str(mid)]).digest() == hashlib.md5(blob).digest()

    ext = multimodal.external_reference(
        spark.createDataFrame(
            [(7, "s3://bucket/video.mp4", 1024, 99)],
            ["media_id", "uri", "off", "ln"],
        ),
        "media_id", "uri", "video",
        byte_offset_col="off", byte_len_col="ln", mime="video/mp4",
    )
    r = ext.collect()[0]
    assert r.payload is None
    assert (r.storage_uri, r.byte_offset, r.byte_len) == ("s3://bucket/video.mp4", 1024, 99)
    assert [f.name for f in ext.schema.fields] == [
        f.name for f in multimodal.MEDIA_SCHEMA.fields
    ]


def test_quality_filter_rules(spark):
    """Each C4/Gopher rule fires on a crafted violator and the clean doc
    passes; reasons are machine-readable rule names."""
    from mallarddv_spark.operators.textops import quality_filter

    good = ("the quick brown fox jumps over the lazy dog and runs into the "
            "field where it finds a warm place to rest for the night "
            "before another day of chasing things it likes ") * 2
    rows = [
        (1, good),
        (2, "too short"),                                  # min_tokens
        (3, " ".join(["a"] * 60)),                         # min_mean_token_len (+dup)
        (4, " ".join(["supercalifragilistic" * 3] * 60)),  # max_mean_token_len
        (5, " ".join(["1234%$#@"] * 60)),                  # min_alpha_ratio
        (6, " ".join(["repeat"] * 60)),                    # max_dup_token_ratio
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {
        r.doc_id: (r.qf_keep, set(r.qf_reasons))
        for r in quality_filter(df, "text", rules={"min_tokens": 30}).collect()
    }
    assert out[1] == (True, set())
    assert out[2][0] is False and "min_tokens" in out[2][1]
    assert "min_mean_token_len" in out[3][1]
    assert "max_mean_token_len" in out[4][1]
    assert "min_alpha_ratio" in out[5][1]
    assert "max_dup_token_ratio" in out[6][1]
    # disabling a rule removes its reason
    relaxed = {
        r.doc_id: r.qf_keep
        for r in quality_filter(
            df, "text",
            rules={"min_tokens": None, "min_stopword_ratio": None,
                   "min_mean_token_len": None, "max_dup_token_ratio": None},
        ).collect()
    }
    assert relaxed[2] is True


def test_pack_sequences_invariants(spark):
    """Packing invariants: offsets are the running token sum mod budget, a
    bin advances exactly when the boundary was crossed, and every document
    appears exactly once."""
    from mallarddv_spark.operators.textops import pack_sequences

    rows = [(i, " ".join(["tok"] * n)) for i, n in
            enumerate([100, 900, 600, 2500, 10, 10, 2048, 1])]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = sorted(
        (r.id, r.n_tokens, r.bin_id, r.bin_offset)
        for r in pack_sequences(
            df, "doc_id", "text", token_budget=1000, n_shards=1,
            shard_col=__import__("pyspark.sql.functions", fromlist=["lit"]).lit(0),
        ).collect()
    )
    assert len(out) == len(rows)
    running = 0
    for (doc, n, bin_id, off) in out:
        assert bin_id == running // 1000
        assert off == running % 1000
        running += n
    # default hash sharding still covers every doc exactly once
    hashed = pack_sequences(df, "doc_id", "text", token_budget=1000, n_shards=4)
    assert hashed.count() == len(rows)
    assert hashed.select("id").distinct().count() == len(rows)


def test_embedding_quantization_roundtrip_and_probe(spark):
    """int8 SQ: schema is array<tinyint> + double scale, round-trip error
    bounded by s/2 per component, zero vectors survive, and the quantized
    brute-force probe agrees with the float probe on top-1 for
    overwhelmingly most queries."""
    from mallarddv_spark.operators.similarity import (
        cosine_topk_bruteforce,
        cosine_topk_quantized,
        dequantize_embeddings,
        quantize_embeddings,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    qz = quantize_embeddings(emb)
    assert dict(qz.dtypes)["q_embedding"] == "array<tinyint>"
    assert dict(qz.dtypes)["q_scale"] == "double"

    # round-trip error per component <= scale/2 (+eps)
    bad = (
        dequantize_embeddings(qz, out_col="deq")
        .selectExpr(
            "aggregate(zip_with(transform(embedding, x -> cast(x as double)),"
            " deq, (x, y) -> abs(x - y)), cast(0.0 as double),"
            " (a, x) -> greatest(a, x)) AS max_err",
            "q_scale",
        )
        .filter("max_err > q_scale / 2 + 1e-9")
        .count()
    )
    assert bad == 0

    # zero vector: scale 0, codes 0, dequantizes to zeros
    z = quantize_embeddings(
        spark.createDataFrame(
            [(0, [0.0] * 8)], "vec_id int, embedding array<float>"
        )
    ).first()
    assert z.q_scale == 0.0 and set(z.q_embedding) == {0}

    queries = emb.filter("vec_id < 20")
    corpus = emb.filter("vec_id >= 20")
    exact = {
        r.query_id: r.neighbor_id
        for r in cosine_topk_bruteforce(queries, corpus, k=1).collect()
    }
    approx = {
        r.query_id: r.neighbor_id
        for r in cosine_topk_quantized(
            queries, quantize_embeddings(corpus), k=1
        ).collect()
    }
    agree = sum(1 for q in exact if approx.get(q) == exact[q])
    assert agree >= len(exact) * 0.9, (agree, len(exact))


def test_semantic_dedup(spark):
    """SemDeDup composition: embedding near-dup clusters keep exactly one
    representative (min id); exact and bucketed paths agree on this
    corpus; disjoint docs all survive."""
    from mallarddv_spark.operators.dedup import (
        embedding_neardup_pairs,
        semantic_dedup,
    )

    # the raw synthetic corpus has near-dups at cosine >= 0.4 (66 pairs)
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    exact = semantic_dedup(emb, "vec_id", "embedding", 0.4, bucketed=False)
    pairs = embedding_neardup_pairs(
        emb, "vec_id", "embedding", 0.4, bucketed=False
    ).collect()
    assert pairs, "fixture must contain semantic near-dups"
    survivors = {r.vec_id for r in exact.select("vec_id").collect()}
    # every pair lost at least one member; the min of each pair survives
    # only if it is its cluster's min — check the simple invariant: no
    # surviving pair remains at >= threshold
    alive_pairs = [
        (a, b) for r in pairs
        for a, b in [(r.id_a, r.id_b)]
        if a in survivors and b in survivors
    ]
    assert alive_pairs == []
    assert exact.columns == emb.columns
    # bucketed path: recall-limited, but NO pair the bucketed generator
    # itself finds may survive the bucketed dedup
    bucketed = semantic_dedup(
        emb, "vec_id", "embedding", 0.4, bucketed=True, num_bits=16, bands=8
    )
    b_survivors = {r.vec_id for r in bucketed.select("vec_id").collect()}
    b_pairs = embedding_neardup_pairs(
        emb, "vec_id", "embedding", 0.4, bucketed=True, num_bits=16, bands=8
    ).collect()
    assert b_pairs, "bucketed generator must find pairs on this corpus"
    alive_b = [
        (r.id_a, r.id_b) for r in b_pairs
        if r.id_a in b_survivors and r.id_b in b_survivors
    ]
    assert alive_b == []


def test_write_training_shards(spark, tmp_path):
    """Shard writer: data lands partitioned by shard, in-shard order is
    (bin, offset), the manifest reconciles with the data exactly, and a
    second write refuses to clobber."""
    import json
    import os

    import pytest

    from mallarddv_spark.operators.textops import write_training_shards

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).limit(200)
    path = str(tmp_path / "corpus")
    manifest = write_training_shards(
        docs, path, "doc_id", "text", token_budget=256, n_shards=4
    )
    assert manifest["total_docs"] == 200
    assert manifest["n_shards"] == 4
    assert os.path.exists(f"{path}/manifest.json")
    disk = json.loads(open(f"{path}/manifest.json").read())
    assert disk == manifest

    data = spark.read.parquet(f"{path}/data")
    assert data.count() == 200
    per_shard = {
        r.shard_id: (r.n, r.t)
        for r in data.groupBy("shard_id")
        .agg(F.count("*").alias("n"), F.sum("n_tokens").alias("t"))
        .collect()
    }
    for sh in manifest["shards"]:
        assert per_shard[sh["shard_id"]] == (sh["n_docs"], sh["n_tokens"])

    with pytest.raises(Exception):
        write_training_shards(
            docs, path, "doc_id", "text", token_budget=256, n_shards=4
        )


def test_write_packed_shards_conserves_ids(spark, tmp_path):
    """FFD id-shard materialization: total_ids in the manifest equals
    the input's Σ size(ids) exactly (token conservation), no
    non-oversize bin exceeds the budget, in-shard order is (bin, id),
    NULL id elements are rejected before any write, and a second write
    refuses to clobber."""
    import json
    import os
    import random

    import pytest

    from mallarddv_spark.exceptions import DVETLError
    from mallarddv_spark.operators.textops import write_packed_shards

    rng = random.Random(41)
    rows = [(i, [rng.randint(0, 999) for _ in range(rng.randint(1, 500))])
            for i in range(300)]
    df = spark.createDataFrame(rows, "doc_id bigint, ids array<int>")
    want_ids = sum(len(v) for _, v in rows)
    path = str(tmp_path / "packed")
    manifest = write_packed_shards(
        df, path, "doc_id", "ids", token_budget=256, n_shards=4
    )
    assert manifest["total_docs"] == 300
    assert manifest["total_ids"] == want_ids
    disk = json.loads(open(f"{path}/manifest.json").read())
    assert disk == manifest
    assert os.path.exists(f"{path}/manifest.json")

    data = spark.read.parquet(f"{path}/data")
    assert data.count() == 300
    assert int(data.agg(F.sum(F.size("ids"))).first()[0]) == want_ids
    # no non-oversize bin over budget; oversize bins hold one doc
    loads = data.groupBy("shard_id", "bin_id").agg(
        F.sum(F.size("ids")).alias("load"),
        F.count("*").alias("members"),
        F.max("oversize").alias("ov"),
    ).collect()
    for r in loads:
        assert r.load <= 256 or (r.ov and r.members == 1)
    # in-shard physical order is (bin_id, id)
    import pyarrow.parquet as pq
    import glob
    for f in glob.glob(f"{path}/data/shard_id=*/*.parquet"):
        t = pq.read_table(f, columns=["bin_id", "id"]).to_pylist()
        keys = [(r["bin_id"], r["id"]) for r in t]
        assert keys == sorted(keys), f

    with pytest.raises(Exception):
        write_packed_shards(df, path, "doc_id", "ids",
                            token_budget=256, n_shards=4)
    # NULL id elements rejected loudly, nothing written
    bad = spark.createDataFrame(
        [(1, [1, None, 3])], "doc_id bigint, ids array<int>"
    )
    with pytest.raises(DVETLError, match="NULL id"):
        write_packed_shards(bad, str(tmp_path / "bad"), "doc_id", "ids")
    assert not os.path.exists(str(tmp_path / "bad" / "data"))
    # jsonl interchange mode conserves ids through the gzip round-trip
    mj = write_packed_shards(
        df, str(tmp_path / "pj"), "doc_id", "ids",
        token_budget=256, n_shards=4, file_format="jsonl",
    )
    assert mj["total_ids"] == want_ids and mj["total_docs"] == 300


def test_write_packed_shards_meta_and_vocab_fingerprint(spark, tmp_path):
    """The manifest records caller-supplied provenance verbatim, and
    bpe.vocab_fingerprint is ORDER-sensitive: same tokens, different
    numbering → different md5 (the r12 vocab renumbering would have
    been caught by exactly this marker)."""
    import json

    from mallarddv_spark.operators.bpe import (
        VOCAB_ORDER_VERSION, bpe_vocab, vocab_fingerprint,
    )
    from mallarddv_spark.operators.textops import write_packed_shards

    model = {"merges": [("t", "h"), ("th", "e")], "byte_level": False}
    v = bpe_vocab(model)
    fp = vocab_fingerprint(v)
    assert fp["vocab_size"] == len(v)
    assert fp["vocab_order_version"] == VOCAB_ORDER_VERSION
    # order sensitivity: swap two ids, keep the token set
    swapped = dict(v)
    (a, b) = list(swapped)[:2]
    swapped[a], swapped[b] = swapped[b], swapped[a]
    assert vocab_fingerprint(swapped)["vocab_md5"] != fp["vocab_md5"]
    # meta rides the manifest to disk verbatim
    df = spark.createDataFrame(
        [(1, [0, 1, 2]), (2, [3, 4])], "doc_id bigint, ids array<int>"
    )
    path = str(tmp_path / "pm")
    manifest = write_packed_shards(
        df, path, "doc_id", "ids", token_budget=8, n_shards=2, meta=fp,
    )
    assert manifest["meta"] == fp
    assert json.loads(open(f"{path}/manifest.json").read())["meta"] == fp


def test_read_packed_shards_provenance_contract(spark, tmp_path):
    """The reader half of the shard-provenance contract: matching vocab
    reads; renumbered vocab refused; provenance-free manifest refused
    when a vocab is supplied; missing manifest refused; post-write
    tampering caught by the totals check; jsonl mode reads back."""
    import glob
    import os

    import pytest

    from mallarddv_spark.exceptions import DVETLError
    from mallarddv_spark.operators.bpe import bpe_vocab, vocab_fingerprint
    from mallarddv_spark.operators.textops import (
        read_packed_shards, write_packed_shards,
    )

    model = {"merges": [("t", "h"), ("th", "e")], "byte_level": False}
    v = bpe_vocab(model)
    df = spark.createDataFrame(
        [(i, list(range(i % 7 + 1))) for i in range(40)],
        "doc_id bigint, ids array<int>",
    )
    path = str(tmp_path / "rp")
    write_packed_shards(df, path, "doc_id", "ids", token_budget=16,
                        n_shards=2, meta=vocab_fingerprint(v))
    out = read_packed_shards(spark, path, expected_vocab=v)
    assert out.count() == 40
    assert int(out.agg(F.sum(F.size("ids"))).first()[0]) == sum(
        i % 7 + 1 for i in range(40)
    )
    # renumbered vocab → refused
    swapped = dict(v)
    (a, b) = list(swapped)[:2]
    swapped[a], swapped[b] = swapped[b], swapped[a]
    with pytest.raises(DVETLError, match="provenance mismatch"):
        read_packed_shards(spark, path, expected_vocab=swapped)
    # provenance-free manifest + expected_vocab → refused
    bare = str(tmp_path / "rp_bare")
    write_packed_shards(df, bare, "doc_id", "ids", token_budget=16,
                        n_shards=2)
    with pytest.raises(DVETLError, match="provenance mismatch"):
        read_packed_shards(spark, bare, expected_vocab=v)
    assert read_packed_shards(spark, bare).count() == 40  # opt-out reads
    # missing manifest → refused
    with pytest.raises(DVETLError, match="no manifest"):
        read_packed_shards(spark, str(tmp_path / "nowhere"))
    # tampering: drop one shard file → totals check trips
    victim = sorted(glob.glob(f"{bare}/data/shard_id=*/*.parquet"))[0]
    os.remove(victim)
    with pytest.raises(DVETLError, match="diverge from the manifest"):
        read_packed_shards(spark, bare)
    # jsonl interchange mode round-trips through the reader
    pj = str(tmp_path / "rp_j")
    write_packed_shards(df, pj, "doc_id", "ids", token_budget=16,
                        n_shards=2, file_format="jsonl",
                        meta=vocab_fingerprint(v))
    jout = read_packed_shards(spark, pj, expected_vocab=v)
    assert jout.count() == 40
    assert int(jout.agg(F.sum(F.size("ids"))).first()[0]) == sum(
        i % 7 + 1 for i in range(40)
    )


def test_packed_shards_null_doc_id_and_torn_manifest(spark, tmp_path):
    """Review regressions: a NULL DOCUMENT id must raise (the join-back
    would silently drop the row and the manifest would certify the
    smaller corpus); a doubly-NULL row still raises the typed error;
    a torn/foreign manifest raises DVETLError, not JSONDecodeError;
    out-of-int32-range ids decode to NULL, never wrap onto a valid
    token."""
    import pytest

    from mallarddv_spark.exceptions import DVETLError
    from mallarddv_spark.operators.bpe import ids_to_tokens
    from mallarddv_spark.operators.textops import (
        read_packed_shards, token_id_histogram, write_packed_shards,
    )

    bad_id = spark.createDataFrame(
        [(None, [1, 2, 3]), (1, [4, 5])], "doc_id bigint, ids array<int>"
    )
    with pytest.raises(DVETLError, match="NULL id"):
        write_packed_shards(bad_id, str(tmp_path / "nid"), "doc_id",
                            "ids")
    both = spark.createDataFrame(
        [(None, None)], "doc_id bigint, ids array<int>"
    )
    with pytest.raises(DVETLError, match="NULL id"):
        write_packed_shards(both, str(tmp_path / "nboth"), "doc_id",
                            "ids")
    # torn manifest → typed error
    torn = tmp_path / "torn"
    (torn / "data").mkdir(parents=True)
    (torn / "manifest.json").write_text('{"token_budget": 2048, "sha')
    with pytest.raises(DVETLError, match="not valid JSON"):
        read_packed_shards(spark, str(torn))
    # 2^32 id: misses the bigint-keyed inverse map → NULL, not token 0
    vocab = {"a": 0, "b": 1}
    big = spark.createDataFrame(
        [(1, [0, 4294967296])], "doc_id bigint, ids array<bigint>"
    )
    got = ids_to_tokens(big, "ids", vocab).collect()[0]
    assert got.tokens[0] == "a" and got.tokens[1] is None
    h = {r.id: r.token
         for r in token_id_histogram(big, "ids", vocab).collect()}
    assert h[0] == "a" and h[4294967296] is None


def test_token_id_histogram_counts_and_unknowns(spark):
    """Exact id counts, vocab join with NULL for unknown/unk_id
    placeholders, deterministic top_k cut."""
    from mallarddv_spark.operators.textops import token_id_histogram

    df = spark.createDataFrame(
        [(1, [0, 0, 1, 2]), (2, [0, 1, -1]), (3, [7])],
        "doc_id bigint, ids array<int>",
    )
    vocab = {"a": 0, "b": 1, "c": 2}
    h = {r.id: (r.cnt, r.token)
         for r in token_id_histogram(df, "ids", vocab).collect()}
    assert h[0] == (3, "a") and h[1] == (2, "b") and h[2] == (1, "c")
    assert h[-1] == (1, None) and h[7] == (1, None)  # unk_id + unknown
    top = token_id_histogram(df, "ids", vocab, top_k=2).collect()
    assert [(r.id, r.cnt) for r in top] == [(0, 3), (1, 2)]
    # no vocab: plain (id, cnt)
    cols = token_id_histogram(df, "ids").columns
    assert cols == ["id", "cnt"]


# --- exact-substring dedup -------------------------------------------------


def test_substring_duplicate_spans_maximal_runs(spark):
    rows = [
        (1, "a b c d e f g h i j"),
        (2, "x y a b c d e f z q"),   # shares a..f (6 tokens) with 1
        (3, "a b c d e f g h i j"),   # exact dup of 1
        (4, "p q r s t u v w"),       # disjoint
        (5, "a b c d e X f g h i"),   # two split runs vs 1: 5 and 4 tokens
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    spans = {
        (r.doc_a, r.doc_b, r.start_a, r.start_b, r.run_tokens)
        for r in dedup.substring_duplicate_spans(
            df, "doc_id", "text", min_run_tokens=4,
            max_kgram_occurrences=None,
        ).collect()
    }
    # maximal runs only — the 6-token overlap reports once, not as three
    # 4-gram matches; the X mismatch splits 1<->5 into two runs
    assert (1, 2, 0, 2, 6) in spans
    assert (1, 3, 0, 0, 10) in spans
    assert (1, 5, 0, 0, 5) in spans and (1, 5, 5, 6, 4) in spans
    assert not any(a == 4 or b == 4 for a, b, *_ in spans)
    # no sub-run double reporting: every (pair, diagonal) appears once
    # per island, so 1<->2 contributes exactly one row
    assert sum(1 for a, b, *_ in spans if (a, b) == (1, 2)) == 1


def test_substring_spans_match_bruteforce(spark):
    """Differential vs a pure-Python maximal-run finder on random docs
    over a tiny vocabulary (dense chance overlaps)."""
    import itertools
    import random

    rng = random.Random(7)
    vocab = ["w%d" % i for i in range(6)]
    docs = [
        (i, " ".join(rng.choice(vocab) for _ in range(30))) for i in range(12)
    ]
    k = 5

    def runs(sa, sb):
        ta, tb = sa.split(), sb.split()
        hits = {
            (i, j)
            for i in range(len(ta) - k + 1)
            for j in range(len(tb) - k + 1)
            if ta[i:i + k] == tb[j:j + k]
        }
        out = []
        for (i, j) in sorted(hits):
            if (i - 1, j - 1) in hits:
                continue  # not the head of an island
            n = 0
            while (i + n, j + n) in hits:
                n += 1
            out.append((i, j, n - 1 + k))
        return out

    expected = set()
    for (ia, sa), (ib, sb) in itertools.combinations(docs, 2):
        for i, j, n in runs(sa, sb):
            expected.add((ia, ib, i, j, n))
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    got = {
        (r.doc_a, r.doc_b, r.start_a, r.start_b, r.run_tokens)
        for r in dedup.substring_duplicate_spans(
            df, "doc_id", "text", min_run_tokens=k,
            max_kgram_occurrences=None,
        ).collect()
    }
    assert got == expected and len(got) > 0


def test_substring_kgram_cap_drops_boilerplate(spark):
    boiler = "l1 l2 l3 l4 l5"
    rows = [(i, f"{boiler} body{i} tail{i}") for i in range(10)]
    rows.append((100, "u1 u2 u3 u4 u5 body5 tail5 x"))
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    capped = dedup.substring_duplicate_spans(
        df, "doc_id", "text", min_run_tokens=5, max_kgram_occurrences=9
    )
    # the license-header 5-gram occurs 10x > cap: all its pairs vanish;
    # nothing else shares a 5-token run
    assert capped.count() == 0
    uncapped = dedup.substring_duplicate_spans(
        df, "doc_id", "text", min_run_tokens=5, max_kgram_occurrences=None
    )
    assert uncapped.count() == 45  # C(10,2) boilerplate pairs


def test_substring_cap_is_groupby_not_window(spark):
    """The k-gram cap must be a groupBy count joined back (semi-join),
    never a count-over-window — a window partitioned by key colocates
    every occurrence of a boilerplate gram in one task BEFORE the cap
    can drop it. The only window left is the gaps-and-islands fuse over
    (doc_a, doc_b, diag)."""
    import re

    rows = [(i, f"l1 l2 l3 l4 l5 body{i}") for i in range(6)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    plan = (
        dedup.substring_duplicate_spans(
            df, "doc_id", "text", min_run_tokens=5, max_kgram_occurrences=9
        )._jdf.queryExecution().executedPlan().toString()
    )
    specs = set(re.findall(r"windowspecdefinition\((\w+)#", plan))
    assert specs == {"doc_a"}, specs


# --- bigram-LM fluency scoring ---------------------------------------------


def test_bigram_lm_scoring_and_backoff(spark):
    import math

    train = spark.createDataFrame(
        [(1, "the cat sat on the mat"), (2, "the dog sat on the mat")],
        ["doc_id", "text"],
    )
    lm = textops.train_bigram_lm(train, "text")
    assert lm["total_tokens"] == 12
    score = spark.createDataFrame(
        [
            (10, "the cat sat"),        # all bigrams seen
            (11, "cat mat"),            # unseen bigram, both words known
            (12, "qq zz"),              # fully out-of-vocabulary
            (13, "one"),                # single token -> NULL row absent
        ],
        ["doc_id", "text"],
    )
    out = {
        r.id: r
        for r in textops.score_bigram_logprob(
            score, "doc_id", "text", lm
        ).collect()
    }
    n = 12
    # doc 10: ln(c(the,cat)/c(the)) + ln(c(cat,sat)/c(cat)) = ln(1/4)+ln(1/1)
    assert abs(out[10].avg_logprob - round((math.log(1 / 4) + 0.0) / 2, 6)) < 1e-6
    assert out[10].n_backoff == 0
    # doc 11: stupid backoff ln(0.4 * c(mat)/N)
    assert abs(out[11].avg_logprob - round(math.log(0.4 * 2 / n), 6)) < 1e-6
    assert out[11].n_backoff == 1
    # doc 12: OOV floor ln(0.4 * 0.5 / N)
    assert abs(out[12].avg_logprob - round(math.log(0.4 * 0.5 / n), 6)) < 1e-6
    assert 13 not in out  # no bigrams, no row


def test_perplexity_buckets_ccnet_split(spark):
    """CCNet head/middle/tail: equal-count tiles per partition, head =
    highest avg_logprob, NULL scores land in the tail, ties and tile
    boundaries break on ascending id."""
    scored = spark.createDataFrame(
        [(i, "en", float(-i)) for i in range(1, 7)]       # -1 best
        + [(10, "en", None), (20, "de", -5.0), (21, "de", -1.0), (22, "de", None)],
        "id bigint, lang string, avg_logprob double",
    )
    out = {
        (r.lang, r.id): (r.ppl_bucket, r.ppl_label)
        for r in textops.perplexity_buckets(scored, by="lang").collect()
    }
    # en: 7 rows -> tiles of 3/2/2 (ntile puts the remainder up front)
    assert out[("en", 1)] == (1, "head")
    assert out[("en", 2)] == (1, "head")
    assert out[("en", 3)] == (1, "head")
    assert out[("en", 4)] == (2, "middle")
    assert out[("en", 5)] == (2, "middle")
    assert out[("en", 6)] == (3, "tail")
    assert out[("en", 10)] == (3, "tail")          # NULL -> tail
    # de ranks independently of en's absolute scores
    assert out[("de", 21)] == (1, "head")
    assert out[("de", 20)] == (2, "middle")
    assert out[("de", 22)] == (3, "tail")


def test_perplexity_buckets_guard_and_global(spark):
    scored = spark.createDataFrame(
        [(1, -1.0), (2, -2.0)], "id bigint, avg_logprob double"
    )
    with pytest.raises(DVConfigurationError, match="labels"):
        textops.perplexity_buckets(scored, n_buckets=2)
    out = {r.id: r.ppl_bucket
           for r in textops.perplexity_buckets(
               scored, n_buckets=2, labels=("head", "tail")).collect()}
    assert out == {1: 1, 2: 2}


def test_perplexity_buckets_approx_mode(spark):
    """exact=False: per-group percentile_approx thresholds + projection
    assignment — the 100 TB path. On a Zipf-skewed fixture it must agree
    with the exact ntile on >= 95% of rows, send NULL scores to the
    tail, and plan with NO ntile window (thresholds broadcast)."""
    import random

    rng = random.Random(7)
    rows = []
    i = 0
    # skewed: 'en' has 400 rows, 'de' 40, 'fr' 8 — plus NULLs
    for lang, n in (("en", 400), ("de", 40), ("fr", 8)):
        for _ in range(n):
            i += 1
            rows.append((i, lang, -rng.expovariate(0.5)))
    rows += [(9001, "en", None), (9002, "fr", None)]
    scored = spark.createDataFrame(
        rows, "id bigint, lang string, avg_logprob double"
    )
    exact = {r.id: r.ppl_bucket for r in
             textops.perplexity_buckets(scored, by="lang").collect()}
    approx = {r.id: r.ppl_bucket for r in
              textops.perplexity_buckets(
                  scored, by="lang", exact=False).collect()}
    assert approx[9001] == 3 and approx[9002] == 3    # NULL -> tail
    agree = sum(exact[k] == approx[k] for k in exact) / len(exact)
    assert agree >= 0.95, agree
    # plan shape: no window at all in approx mode
    plan = (
        textops.perplexity_buckets(scored, by="lang", exact=False)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "windowspecdefinition" not in plan
    # global (by=None) approx path works too
    g = {r.id: r.ppl_bucket for r in
         textops.perplexity_buckets(scored, exact=False).collect()}
    ge = {r.id: r.ppl_bucket for r in
          textops.perplexity_buckets(scored).collect()}
    assert sum(g[k] == ge[k] for k in ge) / len(ge) >= 0.95


def test_write_training_shards_jsonl(spark, tmp_path):
    """JSONL export: same layout/ordering/manifest as parquet, gzipped
    .json files, identical per-shard stats, unknown format rejected."""
    import glob
    import json
    import os

    docs = spark.createDataFrame(
        [(i, f"tok{i} " * (5 + i % 7)) for i in range(40)],
        ["doc_id", "text"],
    )
    pq = str(tmp_path / "pq")
    jl = str(tmp_path / "jl")
    m1 = textops.write_training_shards(docs, pq, "doc_id", "text",
                                       token_budget=64, n_shards=3)
    m2 = textops.write_training_shards(docs, jl, "doc_id", "text",
                                       token_budget=64, n_shards=3,
                                       file_format="jsonl")
    assert m2["file_format"] == "jsonl"
    assert m2["shards"] == m1["shards"]
    assert m2["total_tokens"] == m1["total_tokens"]
    gz = glob.glob(os.path.join(jl, "data", "shard_id=*", "*.json.gz"))
    assert gz, "expected gzipped json files"
    with open(os.path.join(jl, "manifest.json")) as f:
        assert json.load(f)["file_format"] == "jsonl"
    # the jsonl shards read back identical rows to the parquet shards
    a = spark.read.parquet(f"{pq}/data").select("id", "text", "bin_id")
    b = spark.read.schema(a.schema).json(f"{jl}/data").select(
        "id", "text", "bin_id"
    )
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))
    with pytest.raises(DVConfigurationError, match="file_format"):
        textops.write_training_shards(docs, str(tmp_path / "x"), "doc_id",
                                      "text", file_format="csvish")


# --- interpolated Kneser-Ney scoring ---------------------------------------

def test_score_kn_logprob_matches_reference(spark):
    """Spark KN scorer vs a pure-Python Kneser-Ney reference with the
    same grid discipline — seen bigrams, discounted mass, unseen
    contexts, and unseen continuations all live."""
    import math
    from collections import Counter

    train_rows = [(1, "the cat sat on the mat"),
                  (2, "the dog sat on the rug"),
                  (3, "a cat and a dog")]
    test_rows = [(10, "the cat sat"), (11, "rug mat dog"), (12, "zz qq")]
    lm = textops.train_bigram_lm(
        spark.createDataFrame(train_rows, ["doc_id", "text"]), "text"
    )
    got = {
        r.id: (r.n_bigrams, r.n_oov_ctx, r.avg_logprob)
        for r in textops.score_kn_logprob(
            spark.createDataFrame(test_rows, ["doc_id", "text"]),
            "doc_id", "text", lm,
        ).collect()
    }

    uni, bi = Counter(), Counter()
    for _, t in train_rows:
        ws = t.lower().split()
        uni.update(ws)
        bi.update(zip(ws, ws[1:]))
    T, D = len(bi), 0.75
    nf = Counter(w1 for w1, _ in bi)
    nb = Counter(w2 for _, w2 in bi)

    def lp(w1, w2):
        pc = (float(nb[w2]) if w2 in nb else 0.5) / float(T)
        if w1 in uni:
            return math.log(
                max(float(bi.get((w1, w2), 0)) - D, 0.0) / float(uni[w1])
                + (D * float(max(nf.get(w1, 0), 1)) / float(uni[w1])) * pc
            )
        return math.log(pc)

    for did, t in test_rows:
        ws = t.lower().split()
        grams = list(zip(ws, ws[1:]))
        lp10 = [round(lp(a, b) * 1e10) for a, b in grams]
        want = (
            len(grams),
            sum(1 for a, _ in grams if a not in uni),
            round(sum(lp10) / (1e10 * len(grams)), 6),
        )
        assert got[did] == want, (did, got[did], want)


def test_kn_continuation_fixes_francisco(spark):
    """The Kneser-Ney point: a word frequent only in ONE context
    ('francisco' after 'san') must get a LOWER continuation score than
    a rarer word that completes many contexts — the exact case unigram
    backoff gets backwards."""
    train = [(i, "san francisco") for i in range(10)] + [
        (100, "dusty road"), (101, "long road"), (102, "open road"),
        (103, "winding road"), (104, "gravel road"),
    ]
    lm = textops.train_bigram_lm(
        spark.createDataFrame(train, ["doc_id", "text"]), "text"
    )
    # unigram counts would prefer francisco (10 > 5)...
    u = {r.w: r.cnt for r in lm["unigrams"].collect()}
    assert u["francisco"] > u["road"]
    # ...but after an UNSEEN context, KN prefers the many-context word
    test = spark.createDataFrame(
        [(1, "zz francisco"), (2, "zz road")], ["doc_id", "text"]
    )
    s = {r.id: r.avg_logprob
         for r in textops.score_kn_logprob(test, "doc_id", "text", lm).collect()}
    assert s[2] > s[1]
    # stupid backoff scores the same pair the other way around
    sb = {r.id: r.avg_logprob
          for r in textops.score_bigram_logprob(
              test, "doc_id", "text", lm).collect()}
    assert sb[1] > sb[2]


def test_score_kn3_logprob_matches_reference(spark):
    """Spark trigram-KN scorer vs a pure-Python three-level Kneser-Ney
    reference with the same grid discipline — seen trigrams, discounted
    mass, unseen contexts, mid-level continuation fallback, and OOV
    words all live."""
    import math
    from collections import Counter

    train_rows = [(1, "the cat sat on the mat"),
                  (2, "the dog sat on the rug"),
                  (3, "a cat and a dog sat down"),
                  (4, "the cat sat on a rug")]
    test_rows = [(10, "the cat sat on"), (11, "rug mat dog sat"),
                 (12, "zz qq yy"), (13, "a dog sat")]
    lm = textops.train_trigram_lm(
        spark.createDataFrame(train_rows, ["doc_id", "text"]), "text"
    )
    got = {
        r.id: (r.n_trigrams, r.n_oov_ctx, r.avg_logprob)
        for r in textops.score_kn3_logprob(
            spark.createDataFrame(test_rows, ["doc_id", "text"]),
            "doc_id", "text", lm,
        ).collect()
    }

    bi, tri = Counter(), Counter()
    for _, t in train_rows:
        ws = t.lower().split()
        bi.update(zip(ws, ws[1:]))
        tri.update(zip(ws, ws[1:], ws[2:]))
    T, D = len(bi), 0.75
    nf_hi = Counter((a, b) for a, b, _ in tri)       # N1+(w1w2.)
    ncb = Counter((b, c) for _, b, c in tri)         # N1+(.w2w3)
    nmid = Counter(b for _, b, _ in tri)             # N1+(.w2.)
    nfm = Counter()                                  # distinct w3 per mid w2
    for (b, c) in set((b, c) for _, b, c in tri):
        nfm[b] += 1
    nb = Counter(b for _, b in bi)                   # N1+(.w3)

    def pc(w3):
        return (float(nb[w3]) if w3 in nb else 0.5) / float(T)

    def pmid(w2, w3):
        if w2 in nmid:
            return (
                max(float(ncb.get((w2, w3), 0)) - D, 0.0) / float(nmid[w2])
                + (D * float(nfm[w2]) / float(nmid[w2])) * pc(w3)
            )
        return pc(w3)

    def lp(w1, w2, w3):
        if (w1, w2) in bi:
            c12 = float(bi[(w1, w2)])
            return math.log(
                max(float(tri.get((w1, w2, w3), 0)) - D, 0.0) / c12
                + (D * float(max(nf_hi.get((w1, w2), 0), 1)) / c12)
                * pmid(w2, w3)
            )
        return math.log(pmid(w2, w3))

    for did, t in test_rows:
        ws = t.lower().split()
        grams = list(zip(ws, ws[1:], ws[2:]))
        lp10 = [round(lp(a, b, c) * 1e10) for a, b, c in grams]
        want = (
            len(grams),
            sum(1 for a, b, _ in grams if (a, b) not in bi),
            round(sum(lp10) / (1e10 * len(grams)), 6),
        )
        assert got[did] == want, (did, got[did], want)


def test_kn3_context_disambiguation_and_model_compat(spark):
    """The trigram point: two-word context disambiguates what a bigram
    model cannot — and the trigram model dict is a strict superset, so
    the bigram scorers accept it unchanged."""
    train = [(i, "new york city") for i in range(6)] + [
        (100, "old york road"), (101, "good city walls"),
    ]
    lm = textops.train_trigram_lm(
        spark.createDataFrame(train, ["doc_id", "text"]), "text"
    )
    test = spark.createDataFrame(
        [(1, "new york city"), (2, "new york walls")], ["doc_id", "text"]
    )
    s3 = {r.id: r.avg_logprob
          for r in textops.score_kn3_logprob(
              test, "doc_id", "text", lm).collect()}
    assert s3[1] > s3[2]  # the seen trigram wins under its context
    # docs with < 3 tokens score no row
    short = textops.score_kn3_logprob(
        spark.createDataFrame([(9, "two words")], ["doc_id", "text"]),
        "doc_id", "text", lm,
    )
    assert short.count() == 0
    # superset model: the bigram KN scorer runs on it unchanged
    s2 = textops.score_kn_logprob(test, "doc_id", "text", lm)
    assert s2.count() == 2
    with pytest.raises(DVConfigurationError, match="discount"):
        textops.score_kn3_logprob(test, "doc_id", "text", lm, discount=0.0)
    lm2 = textops.train_bigram_lm(
        spark.createDataFrame(train, ["doc_id", "text"]), "text"
    )
    with pytest.raises(DVConfigurationError, match="trigram"):
        textops.score_kn3_logprob(test, "doc_id", "text", lm2)


def test_kn_ngram_identity_with_fixed_order_scorers(spark):
    """The generic order-N scorer at order 3 reproduces score_kn3_logprob
    bit-for-bit, and at order 2 reproduces score_kn_logprob — the knlm
    gate semantics are provably unchanged."""
    train = spark.createDataFrame(
        [(1, "the cat sat on the mat"),
         (2, "the dog sat on the rug"),
         (3, "a cat and a dog sat down"),
         (4, "the cat sat on a rug")], ["doc_id", "text"])
    test = spark.createDataFrame(
        [(10, "the cat sat on"), (11, "rug mat dog sat"),
         (12, "zz qq yy"), (13, "a dog sat")], ["doc_id", "text"])
    lm = textops.train_ngram_lm(train, "text", order=3)
    g3 = {r.id: (r.n_ngrams, r.n_oov_ctx, r.avg_logprob)
          for r in textops.score_kn_ngram_logprob(
              test, "doc_id", "text", lm, order=3).collect()}
    w3 = {r.id: (r.n_trigrams, r.n_oov_ctx, r.avg_logprob)
          for r in textops.score_kn3_logprob(
              test, "doc_id", "text", lm).collect()}
    assert g3 == w3
    g2 = {r.id: (r.n_ngrams, r.n_oov_ctx, r.avg_logprob)
          for r in textops.score_kn_ngram_logprob(
              test, "doc_id", "text", lm, order=2).collect()}
    w2 = {r.id: (r.n_bigrams, r.n_oov_ctx, r.avg_logprob)
          for r in textops.score_kn_logprob(
              test, "doc_id", "text", lm).collect()}
    assert g2 == w2


def test_kn_ngram_matches_python_reference_orders_4_and_5(spark):
    """Generic interpolated Kneser-Ney at the KenLM 5-gram shape vs a
    pure-Python recursive reference with the same grid discipline —
    seen n-grams, every middle-level continuation fallback, unseen
    contexts, and OOV words all live at orders 4 AND 5."""
    import math
    from collections import Counter

    train_rows = [
        (1, "the cat sat on the mat today"),
        (2, "the dog sat on the rug today"),
        (3, "a cat and a dog sat down on the mat"),
        (4, "the cat sat on a rug in the sun"),
        (5, "the dog ran on the mat today"),
    ]
    test_rows = [
        (10, "the cat sat on the mat"),     # seen high-order material
        (11, "rug mat dog sat on the"),     # shuffled: mid fallbacks
        (12, "zz qq yy ww vv"),             # pure OOV
        (13, "a dog sat down on the rug"),  # partial matches
    ]
    train_texts = [t for _, t in train_rows]

    def py_kn(n, D=0.75):
        grams = {k: Counter() for k in range(1, n + 1)}
        for t in train_texts:
            ws = t.lower().split()
            for k in range(1, n + 1):
                grams[k].update(
                    tuple(ws[i:i + k]) for i in range(len(ws) - k + 1)
                )
        T = len(grams[2])
        nbb = Counter(g[1] for g in grams[2])
        ncb, nmid, nfm = {}, {}, {}
        for k in range(2, n):
            types = set(grams[k + 1])
            ncb[k] = Counter(g[1:] for g in types)
            nmid[k] = Counter(g[1:-1] for g in types)
            nfm[k] = Counter(s[:-1] for s in ncb[k])
        nf_top = Counter(g[:-1] for g in grams[n])

        def pc(w):
            return (float(nbb[w]) if w in nbb else 0.5) / float(T)

        def p_k(k, suf):
            if k == 1:
                return pc(suf[0])
            lower = p_k(k - 1, suf[1:])
            mid = suf[:-1]
            if mid in nmid[k]:
                return (
                    max(float(ncb[k].get(suf, 0)) - D, 0.0)
                    / float(nmid[k][mid])
                    + (D * float(nfm[k][mid]) / float(nmid[k][mid])) * lower
                )
            return lower

        def lp(gram):
            ctx = gram[:-1]
            lower = p_k(n - 1, gram[1:])
            if ctx in grams[n - 1]:
                c = float(grams[n - 1][ctx])
                return math.log(
                    max(float(grams[n].get(gram, 0)) - D, 0.0) / c
                    + (D * float(max(nf_top.get(ctx, 0), 1)) / c) * lower
                )
            return math.log(lower)

        want = {}
        for did, t in test_rows:
            ws = t.lower().split()
            gs = [tuple(ws[i:i + n]) for i in range(len(ws) - n + 1)]
            if not gs:
                continue
            lp10 = [round(lp(g) * 1e10) for g in gs]
            want[did] = (
                len(gs),
                sum(1 for g in gs if g[:-1] not in grams[n - 1]),
                round(sum(lp10) / (1e10 * len(gs)), 6),
            )
        return want

    train = spark.createDataFrame(train_rows, ["doc_id", "text"])
    test = spark.createDataFrame(test_rows, ["doc_id", "text"])
    lm = textops.train_ngram_lm(train, "text", order=5)
    for n in (4, 5):
        got = {r.id: (r.n_ngrams, r.n_oov_ctx, r.avg_logprob)
               for r in textops.score_kn_ngram_logprob(
                   test, "doc_id", "text", lm, order=n).collect()}
        assert got == py_kn(n), (n, got, py_kn(n))
    # guards + model-dict compatibility aliases
    with pytest.raises(DVConfigurationError, match="order"):
        textops.train_ngram_lm(train, "text", order=1)
    with pytest.raises(DVConfigurationError, match="order"):
        textops.score_kn_ngram_logprob(test, "doc_id", "text", lm, order=6)
    with pytest.raises(DVConfigurationError, match="ngram"):
        textops.score_kn_ngram_logprob(
            test, "doc_id", "text",
            textops.train_bigram_lm(train, "text"))
    with pytest.raises(DVConfigurationError, match="discount"):
        textops.score_kn_ngram_logprob(
            test, "doc_id", "text", lm, discount=1.0)
    assert textops.score_bigram_logprob(
        test, "doc_id", "text", lm).count() == 4


def test_kn_discount_guard(spark):
    lm = textops.train_bigram_lm(
        spark.createDataFrame([(1, "a b")], ["doc_id", "text"]), "text"
    )
    d = spark.createDataFrame([(1, "a b")], ["doc_id", "text"])
    with pytest.raises(DVConfigurationError, match="discount"):
        textops.score_kn_logprob(d, "doc_id", "text", lm, discount=1.5)


# --- containment property test vs pure-Python sets -------------------------

from hypothesis import given, settings, strategies as st  # noqa: E402

_ctok = st.sampled_from(["a", "b", "c", "d", "e"])
_ctext = st.lists(_ctok, min_size=0, max_size=10).map(" ".join)


@settings(max_examples=8, deadline=None)
@given(st.lists(_ctext, min_size=2, max_size=6))
def test_containment_property_matches_sets(spark, texts):
    """containment_pairs == pure-Python set arithmetic over 2-gram
    shingles on arbitrary corpora (uncapped universe, threshold 0)."""
    k = 2
    sets = {}
    for i, t in enumerate(texts):
        toks = t.split()
        if len(toks) >= k:
            sets[i] = {" ".join(toks[j:j + k])
                       for j in range(len(toks) - k + 1)}
    want = {}
    ids = sorted(sets)
    for ai in range(len(ids)):
        for bi in range(ai + 1, len(ids)):
            a, b = ids[ai], ids[bi]
            inter = len(sets[a] & sets[b])
            if inter:
                want[(a, b)] = (
                    inter, len(sets[a]), len(sets[b]),
                    round(inter / len(sets[a]), 6),
                    round(inter / len(sets[b]), 6),
                )
    df = spark.createDataFrame(
        list(enumerate(texts)), "doc_id bigint, text string"
    )
    got = {
        (r.doc_a, r.doc_b): (r.inter, r.sz_a, r.sz_b,
                             r.containment_a, r.containment_b)
        for r in dedup.containment_pairs(
            df, "doc_id", "text", shingle_size=k, threshold=0.0,
            max_shingle_df=None,
        ).collect()
    }
    assert got == want


def test_pack_bins_ffd_matches_python_reference(spark):
    """Whole-document FFD packing: per-shard assignments equal a
    pure-Python first-fit-decreasing reference; no bin exceeds the
    budget (oversize docs alone in theirs); FFD never uses more bins
    than naive next-fit in arrival order; determinism across layouts."""
    import random

    rng = random.Random(17)
    rows = [(i, " ".join("w" for _ in range(rng.randint(1, 900))))
            for i in range(300)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    B, SHARDS = 1024, 4
    out = textops.pack_bins_ffd(df, "doc_id", "text",
                                token_budget=B, n_shards=SHARDS)
    got = {r.id: (r.shard_id, r.bin_id, r.n_tokens, r.oversize)
           for r in out.collect()}
    assert len(got) == 300

    # pure-Python FFD per shard (same shard hash read back from the out)
    by_shard = {}
    for i, t in rows:
        ln = len(t.split())
        by_shard.setdefault(got[i][0], []).append((ln, i))
    for shard, docs in by_shard.items():
        bins = []
        want = {}
        for ln, i in sorted(docs, key=lambda x: (-x[0], x[1])):
            placed = None
            for j, load in enumerate(bins):
                if load + ln <= B:
                    placed = j
                    bins[j] += ln
                    break
            if placed is None:
                bins.append(ln)
                placed = len(bins) - 1
            want[i] = placed
        for ln, i in docs:
            assert got[i][1] == want[i], (shard, i)
        # no bin over budget unless it holds a single oversize doc
        loads = {}
        for ln, i in docs:
            loads.setdefault(want[i], []).append(ln)
        for members in loads.values():
            assert sum(members) <= B or (
                len(members) == 1 and members[0] > B
            )
    # fewer (or equal) bins than naive next-fit in id order, per shard
    for shard, docs in by_shard.items():
        nf_bins, cur = 1, 0
        for ln, i in sorted(docs, key=lambda x: x[1]):
            if cur + ln > B:
                nf_bins += 1
                cur = ln
            else:
                cur += ln
        ffd_bins = len({got[i][1] for _, i in docs})
        assert ffd_bins <= nf_bins, shard
    # content-determinism across partition layouts
    again = {r.id: (r.shard_id, r.bin_id)
             for r in textops.pack_bins_ffd(
                 df.repartition(13), "doc_id", "text",
                 token_budget=B, n_shards=SHARDS).collect()}
    assert again == {i: v[:2] for i, v in got.items()}
    # oversize flag + guard
    big = spark.createDataFrame(
        [(1, " ".join("w" for _ in range(50)))], ["doc_id", "text"])
    r = textops.pack_bins_ffd(big, "doc_id", "text",
                              token_budget=10).first()
    assert r.oversize
    with pytest.raises(DVConfigurationError, match="token_budget"):
        textops.pack_bins_ffd(big, "doc_id", "text", token_budget=0)


def test_pack_bins_ffd_length_col(spark):
    """length_col packs on a precomputed length (the pretraining shape:
    budget in encoded token ids) — identical assignment to packing a
    synthetic text with that many whitespace words; exactly-one-of
    guard on text_col/length_col."""
    import random

    rng = random.Random(23)
    lens = [(i, rng.randint(1, 900)) for i in range(200)]
    with_text = spark.createDataFrame(
        [(i, " ".join("w" for _ in range(n))) for i, n in lens],
        ["doc_id", "text"],
    )
    with_len = spark.createDataFrame(lens, ["doc_id", "n_ids"])
    B, SHARDS = 1024, 4
    a = {r.id: (r.shard_id, r.bin_id, r.n_tokens, r.oversize)
         for r in textops.pack_bins_ffd(
             with_text, "doc_id", "text",
             token_budget=B, n_shards=SHARDS).collect()}
    b = {r.id: (r.shard_id, r.bin_id, r.n_tokens, r.oversize)
         for r in textops.pack_bins_ffd(
             with_len, "doc_id", length_col="n_ids",
             token_budget=B, n_shards=SHARDS).collect()}
    assert a == b
    with pytest.raises(DVConfigurationError, match="exactly one"):
        textops.pack_bins_ffd(with_text, "doc_id", "text",
                              length_col="text")
    with pytest.raises(DVConfigurationError, match="exactly one"):
        textops.pack_bins_ffd(with_len, "doc_id")


def test_script_profile(spark):
    """Unicode-script composition: fractions over non-whitespace chars,
    fixed-order dominant argmax, 'none' for empty docs, digits counted
    separately from Latin."""
    rows = [
        (1, "hello plain latin words", "latin"),
        (2, "Привет мир Привет", "cyrillic"),
        (3, "世界 你好 мир", "han"),          # 4 han vs 3 cyr
        (4, "مرحبا بالعالم", "arabic"),
        (5, "123 456", "digit"),
        (6, "   ", "none"),
        (7, "!!! ???", "other"),
        (8, "mixed Привет text", "latin"),
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t, _ in rows], "doc_id bigint, text string"
    )
    got = {r.id: r for r in textops.script_profile(
        df, "doc_id", "text").collect()}
    for i, _, dom in rows:
        assert got[i].dominant_script == dom, (i, got[i])
    assert got[3].han_frac == round(4 / 7, 6)
    assert got[3].cyrillic_frac == round(3 / 7, 6)
    assert got[6].n_script_chars == 0 and got[6].latin_frac == 0.0
    assert got[7].other_frac == 1.0
    # fractions sum to 1 on the grid for non-empty docs
    for i, _, dom in rows:
        r = got[i]
        if r.n_script_chars:
            total = (r.latin_frac + r.cyrillic_frac + r.han_frac
                     + r.arabic_frac + r.digit_frac + r.other_frac)
            assert abs(total - 1.0) < 1e-5, (i, total)
    from mallarddv_spark.plans.audit import plan_report
    assert plan_report(textops.script_profile(
        df, "doc_id", "text"))["python_stages"] == 0


def test_optimal_lsh_params_known_points(spark):
    """Pin the banding optimizer against the published S-curve math:
    the returned (b, r) must beat every neighboring banding on the
    integrated weighted error, and track the threshold direction
    (higher threshold -> more rows per band / fewer bands)."""
    import math

    def err(b, r, t, steps=400):
        fp = sum((1.0 - (1.0 - ((i + 0.5) * t / steps) ** r) ** b)
                 * t / steps for i in range(steps))
        fn = sum((1.0 - (1.0 - (1.0 - (t + (i + 0.5) * (1 - t) / steps)
                                ** r) ** b))
                 * (1 - t) / steps for i in range(steps))
        return 0.5 * fp + 0.5 * fn

    for num_perm, t in ((64, 0.5), (64, 0.8), (128, 0.7)):
        b, r = dedup.optimal_lsh_params(num_perm, t)
        assert b * r <= num_perm
        e0 = err(b, r, t)
        for db, dr in ((1, 0), (-1, 0), (0, 1), (0, -1)):
            b2, r2 = b + db, r + dr
            if b2 < 1 or r2 < 1 or b2 * r2 > num_perm:
                continue
            assert e0 <= err(b2, r2, t) + 1e-12
    b_lo, r_lo = dedup.optimal_lsh_params(64, 0.3)
    b_hi, r_hi = dedup.optimal_lsh_params(64, 0.9)
    assert r_lo < r_hi and b_lo > b_hi
    # recall weighting pushes toward more bands (higher capture)
    b_bal, _ = dedup.optimal_lsh_params(64, 0.7, 0.5, 0.5)
    b_rec, _ = dedup.optimal_lsh_params(64, 0.7, 0.1, 0.9)
    assert b_rec >= b_bal
    with pytest.raises(DVConfigurationError, match="threshold"):
        dedup.optimal_lsh_params(64, 1.5)
    with pytest.raises(DVConfigurationError, match="weights"):
        dedup.optimal_lsh_params(64, 0.5, 0.0, 0.0)


def test_minhash_lsh_pairs_auto_bands(spark, dup_docs):
    got = dedup.minhash_lsh_pairs(
        dup_docs, "doc_id", "text", num_perm=64, bands="auto",
        threshold=0.7,
    )
    pairs = {(r.doc_a, r.doc_b) for r in got.collect()}
    explicit = dedup.minhash_lsh_pairs(
        dup_docs, "doc_id", "text", num_perm=64, bands=16, threshold=0.7,
    )
    exp_pairs = {(r.doc_a, r.doc_b) for r in explicit.collect()}
    # the exact-Jaccard rerank makes both bandings converge on the
    # same true pairs for this planted fixture
    assert pairs == exp_pairs
    with pytest.raises(DVConfigurationError, match="bands"):
        dedup.minhash_lsh_pairs(dup_docs, "doc_id", "text", bands="nope")

"""Operator-level tests: dedup (exact/minhash/simhash), similarity
(brute vs LSH recall), text analysis, multimodal plumbing."""

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    from swiftlake_spark.queries.base import load

    return load(spark, SF, "documents")


@pytest.fixture(scope="module")
def emb(spark):
    from swiftlake_spark.queries.base import load

    return load(spark, SF, "embeddings")


def test_exact_dedup_flags_duplicates(spark):
    from swiftlake_spark.operators.dedup import exact_dedup

    df = spark.createDataFrame(
        [(1, "aaa"), (2, "aaa"), (3, "bbb")], "id BIGINT, text STRING"
    )
    out = exact_dedup(df, "id", ["text"]).collect()
    by_id = {r["id"]: r for r in out}
    assert by_id[1]["is_keeper"] and by_id[1]["group_size"] == 2
    assert not by_id[2]["is_keeper"]
    assert by_id[3]["is_keeper"] and by_id[3]["group_size"] == 1


def test_minhash_lsh_finds_planted_near_dup(spark, docs):
    from swiftlake_spark.operators.dedup import minhash_lsh_dedup

    base = docs.filter(F.col("doc_id") < 50).select("doc_id", "text")
    # plant a near-duplicate of doc 0: same text with one word changed
    d0 = base.filter(F.col("doc_id") == 0).select(
        F.lit(9999).cast("bigint").alias("doc_id"),
        F.concat(F.lit("zzz "), F.substring("text", 5, 100000)).alias("text"),
    )
    pairs = minhash_lsh_dedup(
        base.unionByName(d0), "doc_id", "text", n_hashes=16, bands=8, threshold=0.5
    ).collect()
    assert any(p["id_a"] == 0 and p["id_b"] == 9999 for p in pairs)


def test_incremental_dedup_against_persisted_index(spark, docs, tmp_path):
    """r14 incremental-crawl pattern: a new batch is flagged against a
    PERSISTED signature index — planted exact and near dups are caught,
    a fresh document is not, the index text is never re-shingled (the
    operator only sees stored band keys), the result is identical with
    the bloom pre-filter on and off, and the plan broadcasts the batch
    side so the corpus-sized index is never shuffled."""
    from swiftlake_spark.operators.dedup import (
        incremental_dedup,
        signature_index,
    )

    corpus = docs.filter(F.col("doc_id") < 60).select("doc_id", "text")
    # persist the index through a real parquet round-trip — the operator
    # receives band keys that provably cannot re-derive the text
    idx_path = str(tmp_path / "sig_index")
    signature_index(
        corpus, "doc_id", "text", n_hashes=16, bands=8
    ).write.parquet(idx_path)
    index_bands = spark.read.parquet(idx_path)
    assert set(index_bands.columns) == {"id", "band", "bh"}

    d0 = corpus.filter(F.col("doc_id") == 0)
    batch = (
        d0.select(F.lit(1000).cast("bigint").alias("doc_id"), "text")  # exact dup
        .unionByName(d0.select(
            F.lit(1001).cast("bigint").alias("doc_id"),
            F.concat(F.lit("zzz "), F.substring("text", 5, 100000)).alias("text"),
        ))  # near dup
        .unionByName(spark.createDataFrame(
            [(1002, "qq ww ee rr tt yy uu ii oo pp aa ss dd ff gg hh")],
            "doc_id bigint, text string",
        ))  # fresh
    )
    flagged = incremental_dedup(
        index_bands, batch, "doc_id", "text", n_hashes=16, bands=8)
    rows = {r["id"]: r for r in flagged.collect()}
    assert rows[1000]["is_dup"] and rows[1000]["first_match"] == 0
    assert rows[1000]["n_bands_hit"] == 8  # exact dup shares every band
    assert rows[1001]["is_dup"] and rows[1001]["n_bands_hit"] >= 1
    assert not rows[1002]["is_dup"]
    assert rows[1002]["n_bands_hit"] == 0 and rows[1002]["first_match"] is None

    # bloom pre-filter is result-invariant (zero false negatives)
    no_bloom = incremental_dedup(
        index_bands, batch, "doc_id", "text", n_hashes=16, bands=8,
        bloom_prefilter=False)
    assert sorted(map(tuple, flagged.collect())) == \
        sorted(map(tuple, no_bloom.collect()))

    # scale shape: the probe join broadcasts the batch side; nothing
    # drops to row-at-a-time Python
    plan = flagged._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "EvalPython" not in plan and "InPandas" not in plan


def test_bloom_bits_persisted_roundtrip(spark, tmp_path):
    """r14: bloom_bits is the persistable set-bits relation — written
    to parquet and handed back via set_bits=, membership flags are
    IDENTICAL to the inline corpus pass, and the relation stays bounded
    by min(k*n, 2^bits) rows."""
    from swiftlake_spark.operators.dedup import bloom_bits, bloom_membership

    corpus = spark.createDataFrame(
        [(f"member-{i:05d}",) for i in range(300)], "v string")
    probe = spark.createDataFrame(
        [(i, f"member-{i:05d}" if i < 300 else f"other-{i:05d}")
         for i in range(1200)], "id bigint, v string")

    bits = bloom_bits(corpus, "v")
    assert bits.columns == ["pos"]
    assert bits.count() <= 5 * 300

    path = str(tmp_path / "bloom_bits")
    bits.write.parquet(path)
    from_disk = bloom_membership(
        None, probe, "v", "id", set_bits=spark.read.parquet(path))
    inline = bloom_membership(corpus, probe, "v", "id")
    assert sorted(map(tuple, from_disk.collect())) == \
        sorted(map(tuple, inline.collect()))


def test_incremental_dedup_within_batch_and_persisted_bloom(spark, docs):
    """r14: within_batch=True catches a batch-internal dup the index
    cannot know about (and the unfiltered self-join is immune to the
    index bloom dropping batch-only collisions); a persisted
    bloom_bits relation swaps in for the inline index pass with
    identical output."""
    from pyspark.sql import functions as F

    from swiftlake_spark.operators.dedup import (
        bloom_bits,
        incremental_dedup,
        signature_index,
    )

    corpus = docs.filter(F.col("doc_id") < 40).select("doc_id", "text")
    index_bands = signature_index(corpus, "doc_id", "text",
                                  n_hashes=16, bands=8)
    fresh = "omega psi chi phi upsilon tau sigma rho pi omicron xi nu"
    batch = (
        docs.filter(F.col("doc_id") == 7)
        .select(F.lit(500).cast("bigint").alias("doc_id"), "text")  # index dup
        .unionByName(spark.createDataFrame(
            [(501, fresh), (502, fresh)],  # internal dup pair, new to index
            "doc_id bigint, text string"))
    )

    # default: the internal copy escapes (its text is new to the index)
    plain = {r["id"]: r for r in incremental_dedup(
        index_bands, batch, "doc_id", "text", n_hashes=16, bands=8).collect()}
    assert plain[500]["is_dup"] and not plain[501]["is_dup"]
    assert not plain[502]["is_dup"]

    wb = {r["id"]: r for r in incremental_dedup(
        index_bands, batch, "doc_id", "text", n_hashes=16, bands=8,
        within_batch=True).collect()}
    assert wb[500]["is_dup"] and wb[500]["batch_match"] is None
    assert not wb[501]["is_dup"] and wb[501]["batch_match"] is None
    assert wb[502]["is_dup"] and wb[502]["batch_match"] == 501
    assert wb[502]["n_bands_hit"] == 0  # index-only evidence stays 0

    # persisted-bloom path: identical output to the inline build
    key = F.concat_ws(":", F.col("band").cast("string"),
                      F.col("bh").cast("string"))
    bits = bloom_bits(index_bands.select(key.alias("bk")), "bk")
    with_bits = {r["id"]: tuple(r) for r in incremental_dedup(
        index_bands, batch, "doc_id", "text", n_hashes=16, bands=8,
        within_batch=True, index_bloom_bits=bits).collect()}
    assert with_bits == {k: tuple(v) for k, v in wb.items()}


def test_incremental_dedup_bloom_built_with_non_default_k(spark, docs):
    """The persisted-bloom probe derives its positions with the k /
    bits_per_pos the bits were built with: a k=3, 20-bit bloom gives
    the same flags as no pre-filter at all (zero false negatives)."""
    from swiftlake_spark.operators.dedup import (
        bloom_bits,
        incremental_dedup,
        signature_index,
    )

    corpus = docs.filter(F.col("doc_id") < 40).select("doc_id", "text")
    index_bands = signature_index(corpus, "doc_id", "text",
                                  n_hashes=16, bands=8)
    batch = docs.filter(F.col("doc_id").isin(3, 7, 60, 61)).select(
        (F.col("doc_id") + 1000).alias("doc_id"), "text")
    key = F.concat_ws(":", F.col("band").cast("string"),
                      F.col("bh").cast("string"))
    bits = bloom_bits(index_bands.select(key.alias("bk")), "bk",
                      k=3, bits_per_pos=20)
    want = {r["id"]: tuple(r) for r in incremental_dedup(
        index_bands, batch, "doc_id", "text", n_hashes=16, bands=8,
        bloom_prefilter=False).collect()}
    got = {r["id"]: tuple(r) for r in incremental_dedup(
        index_bands, batch, "doc_id", "text", n_hashes=16, bands=8,
        index_bloom_bits=bits, bloom_k=3, bloom_bits_per_pos=20).collect()}
    assert got == want
    assert want[1003][1] and want[1007][1]  # the index copies are found


def test_incremental_dedup_exact_dups_never_escape(spark):
    """Zero false negatives for exact duplicates, by construction:
    identical text → identical signature → every band collides, under
    any (n_hashes, bands) split and with the bloom on (the bloom has no
    false negatives either).  Randomized corpus, fixed seed."""
    import random

    from swiftlake_spark.operators.dedup import (
        incremental_dedup,
        signature_index,
    )

    rng = random.Random(1414)
    vocab = [f"w{i:02d}" for i in range(40)]
    texts = [
        " ".join(rng.choice(vocab) for _ in range(rng.randint(5, 30)))
        for _ in range(30)
    ]
    corpus = spark.createDataFrame(
        list(enumerate(texts)), "doc_id bigint, text string")
    # the batch re-submits EVERY corpus doc under a new id
    batch = spark.createDataFrame(
        [(1000 + i, t) for i, t in enumerate(texts)],
        "doc_id bigint, text string")
    for n_hashes, bands in ((16, 8), (16, 4), (8, 2)):
        idx = signature_index(corpus, "doc_id", "text",
                              n_hashes=n_hashes, bands=bands)
        out = incremental_dedup(idx, batch, "doc_id", "text",
                                n_hashes=n_hashes, bands=bands).collect()
        escaped = [r["id"] for r in out if not r["is_dup"]]
        assert not escaped, (n_hashes, bands, escaped)
        # every exact dup hits ALL bands and matches its original
        for r in out:
            assert r["n_bands_hit"] == bands
            assert r["first_match"] == min(
                i for i, t in enumerate(texts) if t == texts[r["id"] - 1000])


def test_incremental_simhash_dedup_persisted_index_full_recall(spark, docs, tmp_path):
    """r14 SimHash sibling of the incremental-crawl pattern: the stored
    index is ONE (id, simhash) row per corpus doc (parquet round-trip —
    provably no text access at probe time); an exact copy is found at
    hamming 0 with its original as first_match, a lightly-edited copy
    within the threshold is found, a fresh doc is not; and recall is
    FULL by pigeonhole — EVERY batch doc whose true distance to some
    index doc is <= max_hamming is flagged (cross-checked against a
    brute-force distance computation on the signatures)."""
    from swiftlake_spark.operators.dedup import (
        incremental_simhash_dedup,
        simhash,
    )

    corpus = docs.filter(F.col("doc_id") < 60).select("doc_id", "text")
    idx_path = str(tmp_path / "simhash_index")
    simhash(corpus, "doc_id", "text").write.parquet(idx_path)
    index_sig = spark.read.parquet(idx_path)
    assert set(index_sig.columns) == {"id", "simhash"}
    assert index_sig.count() == 60  # one row per doc, not per band

    d23 = corpus.filter(F.col("doc_id") == 23)
    batch = (
        d23.select(F.lit(700).cast("bigint").alias("doc_id"), "text")
        .unionByName(d23.select(
            F.lit(701).cast("bigint").alias("doc_id"),
            F.concat(F.lit("zzz "), F.substring("text", 5, 100000)).alias("text"),
        ))  # measured hamming 1 from doc 23
        .unionByName(spark.createDataFrame(
            [(702, "qq ww ee rr tt yy uu ii oo pp aa ss dd ff gg hh jj kk")],
            "doc_id bigint, text string"))
    )
    out = {r["id"]: r for r in incremental_simhash_dedup(
        index_sig, batch, "doc_id", "text", max_hamming=6).collect()}
    assert out[700]["is_dup"] and out[700]["min_hamming"] == 0
    assert out[701]["is_dup"] and 0 < out[701]["min_hamming"] <= 6
    assert not out[702]["is_dup"] and out[702]["min_hamming"] is None

    # full-recall cross-check: brute-force min distance and min
    # qualifying id per batch doc from the two signature sets must
    # agree exactly with the operator's output
    idx_sh = {r["id"]: r["simhash"] for r in index_sig.collect()}
    bat_sh = {r["id"]: r["simhash"]
              for r in simhash(batch, "doc_id", "text").collect()}
    for bid, bs in bat_sh.items():
        true_min = min(bin(bs ^ os).count("1") for os in idx_sh.values())
        assert out[bid]["is_dup"] == (true_min <= 6), (bid, true_min)
        if out[bid]["is_dup"]:
            assert out[bid]["min_hamming"] == true_min
            assert out[bid]["first_match"] == min(
                oid for oid, os in idx_sh.items()
                if bin(bs ^ os).count("1") <= 6)


def test_incremental_crawl_loop_grows_lakehouse_index(spark, docs, catalog):
    """The full incremental-crawl loop over a LAKEHOUSE index table:
    flag batch 1 against the corpus index, append only the non-dup
    batch-1 signatures (one lakehouse append — the corpus is never
    re-signatured), then batch 2 must match batch-1 documents through
    the GROWN index."""
    from swiftlake_spark.operators.dedup import (
        incremental_dedup,
        signature_index,
    )

    corpus = docs.filter(F.col("doc_id") < 40).select("doc_id", "text")
    idx0 = signature_index(corpus, "doc_id", "text", n_hashes=16, bands=8)
    t = catalog.create_table("db.sig_index", idx0.schema)
    t.append(idx0.select(t.schema.fieldNames()))

    # batch 1: one dup of corpus doc 3, one genuinely new doc
    batch1 = (
        docs.filter(F.col("doc_id") == 3)
        .select(F.lit(500).cast("bigint").alias("doc_id"), "text")
        .unionByName(spark.createDataFrame(
            [(501, "alpha beta gamma delta epsilon zeta eta theta iota kappa")],
            "doc_id bigint, text string",
        ))
    )
    f1 = incremental_dedup(t.scan(), batch1, "doc_id", "text",
                           n_hashes=16, bands=8)
    r1 = {r["id"]: r["is_dup"] for r in f1.collect()}
    assert r1[500] is True and r1[501] is False

    # append ONLY the new document's signatures (the keeper policy)
    keepers = batch1.filter(F.col("doc_id") == 501)
    t.append(signature_index(keepers, "doc_id", "text",
                             n_hashes=16, bands=8).select(t.schema.fieldNames()))
    assert t.scan().count() == 41 * 8  # 40 corpus + 1 keeper, 8 bands each

    # batch 2: a near-dup of the batch-1 keeper — only findable through
    # the grown index
    batch2 = spark.createDataFrame(
        [(600, "alpha beta gamma delta epsilon zeta eta theta iota lambda")],
        "doc_id bigint, text string",
    )
    f2 = incremental_dedup(t.scan(), batch2, "doc_id", "text",
                           n_hashes=16, bands=8).collect()[0]
    assert f2["is_dup"] is True and f2["first_match"] == 501


def test_simhash_identical_docs_distance_zero(spark):
    from swiftlake_spark.operators.dedup import simhash

    df = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog today"),
         (2, "the quick brown fox jumps over the lazy dog today")],
        "doc_id BIGINT, text STRING",
    )
    sig = {r["id"]: r["simhash"] for r in simhash(df, "doc_id", "text").collect()}
    assert sig[1] == sig[2]


def test_cosine_topk_brute_matches_oracle_ordering(spark, emb):
    from swiftlake_spark.operators.similarity import cosine_topk

    q = emb.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )
    out = cosine_topk(emb.filter(F.col("vec_id") >= 2), q, k=3).collect()
    assert len(out) == 6
    for query_id in (0, 1):
        ranks = sorted(r["rn"] for r in out if r["query_id"] == query_id)
        assert ranks == [1, 2, 3]
        cos = [r["cosine"] for r in sorted(
            (x for x in out if x["query_id"] == query_id), key=lambda x: x["rn"]
        )]
        assert cos == sorted(cos, reverse=True)


def test_ann_lsh_recall_against_brute(spark, emb):
    from swiftlake_spark.operators.similarity import ann_cosine_topk, cosine_topk

    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )
    cands = emb.filter(F.col("vec_id") >= 5)
    brute = cosine_topk(cands, q, k=5).collect()
    approx = ann_cosine_topk(cands, q, dim=64, k=5, n_planes=4).collect()
    brute_sets = {}
    for r in brute:
        brute_sets.setdefault(r["query_id"], set()).add(r["cand_id"])
    hit = total = 0
    for r in approx:
        total += 1
        if r["cand_id"] in brute_sets.get(r["query_id"], set()):
            hit += 1
    # LSH with 4 planes on 64-dim random vectors: expect nonzero recall,
    # not perfection
    assert total > 0 and hit > 0


def test_text_quality_and_token_count(spark):
    from swiftlake_spark.operators.text import text_quality, token_count

    df = spark.createDataFrame(
        [(1, "the cat sat on the mat. 42 times!")], "id BIGINT, text STRING"
    )
    out = text_quality(df).collect()[0]
    assert out["n_tokens"] == 8
    assert 0 < out["quality_score"] <= 1.0
    assert out["digit_ratio"] > 0
    tc = df.select(
        token_count(F.col("text"), "whitespace").alias("ws"),
        token_count(F.col("text"), "bpe").alias("bpe"),
    ).collect()[0]
    assert tc["ws"] == 8
    assert tc["bpe"] >= 9  # punctuation split off


def test_lang_id_marker_docs(spark):
    from swiftlake_spark.operators.text import lang_id

    df = spark.createDataFrame(
        [
            (1, "the cat and the dog of a house is big"),
            (2, "der hund und die katze ist das haus"),
            (3, "el perro y la casa es los gatos"),
        ],
        "id BIGINT, text STRING",
    )
    out = {r["id"]: r["lang_pred"] for r in lang_id(df).collect()}
    assert out == {1: "en", 2: "de", 3: "es"}


def test_multimodal_stub_and_fake_pipeline(spark, docs):
    from swiftlake_spark.operators.multimodal import (
        attach_media_meta,
        decode_image,
        sample_frames,
    )

    d = docs.limit(5).select("doc_id", F.encode("text", "utf-8").alias("data"))
    d = attach_media_meta(d, "data", "img/fake")
    # raw text bytes are not a decodable image: the REAL path raises
    # inside the task (unrecognized payload)
    with pytest.raises(Exception, match="unrecognized image payload"):
        decode_image(d, "data").collect()
    feats = decode_image(d, "data", fake=True)
    rows = feats.collect()
    assert all(len(r["features"]) == 16 for r in rows)
    # deterministic across runs
    rows2 = decode_image(d, "data", fake=True).collect()
    assert [r["features"] for r in rows] == [r["features"] for r in rows2]
    framed = sample_frames(d, "data", every_ms=1000, fake=True).collect()
    assert all(len(r["frames"]) >= 1 for r in framed)


def test_image_codecs_golden():
    """Stdlib PPM/PGM/BMP codecs against hand-built golden payloads."""
    import numpy as np

    from swiftlake_spark.operators.multimodal import (
        decode_bmp,
        decode_image_bytes,
        decode_ppm,
        encode_ppm,
        image_features,
    )

    # 2x2 RGB golden: red, green / blue, white
    px = np.array(
        [[[255, 0, 0], [0, 255, 0]], [[0, 0, 255], [255, 255, 255]]], dtype=np.uint8
    )
    ppm = encode_ppm(px)
    assert ppm.startswith(b"P6\n2 2\n255\n")
    assert (decode_ppm(ppm) == px).all()
    # header with comments + extra whitespace still parses
    wild = b"P6\n# a comment\n 2\t2 \n255\n" + px.tobytes()
    assert (decode_ppm(wild) == px).all()
    # grayscale P5
    g = np.array([[0, 128], [200, 255]], dtype=np.uint8)
    assert (decode_ppm(encode_ppm(g)) == g).all()

    # golden 24-bit BMP of the same 2x2 image, built by hand: bottom-up
    # rows, BGR order, 4-byte row padding (2*3=6 -> pad to 8)
    row_bottom = bytes([255, 0, 0]) + bytes([255, 255, 255]) + b"\x00\x00"  # blue,white
    row_top = bytes([0, 0, 255]) + bytes([0, 255, 0]) + b"\x00\x00"  # red,green
    pixel_data = row_bottom + row_top
    header = b"BM" + struct_pack_bmp_header(2, 2, len(pixel_data))
    assert (decode_bmp(header + pixel_data) == px).all()
    assert (decode_image_bytes(header + pixel_data) == px).all()

    f = image_features(px)
    assert len(f) == 16
    assert f[0] == 2 and f[1] == 2 and f[2] == 3  # w, h, channels
    assert abs(f[3] - px[:, :, 0].mean()) < 1e-4  # mean R is real


def struct_pack_bmp_header(w, h, data_len):
    """54-byte BITMAPFILEHEADER+BITMAPINFOHEADER for 24bpp BI_RGB."""
    import struct

    file_hdr = struct.pack("<IHHI", 54 + data_len, 0, 0, 54)
    info_hdr = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, data_len, 0, 0, 0, 0)
    return file_hdr + info_hdr


def test_wav_codec_golden():
    """Stdlib WAV encode/decode roundtrip + real feature values."""
    import numpy as np

    from swiftlake_spark.operators.multimodal import (
        audio_features,
        decode_wav_bytes,
        encode_wav,
    )

    # 1 second of a 440 Hz sine at 8 kHz
    t = np.arange(8000) / 8000.0
    sig = 0.5 * np.sin(2 * np.pi * 440 * t)
    rate, back = decode_wav_bytes(encode_wav(sig, rate=8000))
    assert rate == 8000 and len(back) == 8000
    assert np.abs(back - sig).max() < 1e-3  # 16-bit quantization only

    f = audio_features(rate, back)
    assert f["duration_ms"] == 1000
    assert abs(f["rms"] - 0.5 / np.sqrt(2)) < 1e-3  # sine RMS = A/sqrt(2)
    # a 440 Hz tone crosses zero 880 times/s -> zcr ~ 880/8000
    assert abs(f["zcr"] - 880 / 8000) < 0.01
    assert len(f["mel"]) == 16 and max(f["mel"]) > 0


def test_fingerprint(spark, docs):
    from swiftlake_spark.operators.text import fingerprint

    out = fingerprint(docs.limit(10), "doc_id").collect()
    assert all(r["content_hash"] is not None for r in out)
    assert all(r["min_shingle_hash"] <= r["max_shingle_hash"] for r in out)


def test_hash_split_stable_and_disjoint(spark, docs):
    from swiftlake_spark.operators.sampling import hash_sample, hash_split, stratified_limit

    out = hash_split(docs, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1})
    counts = {r["split"]: r["n"] for r in out.groupBy("split").agg(
        F.count(F.lit(1)).alias("n")).collect()}
    assert set(counts) == {"train", "val", "test"}
    assert counts["train"] > counts["val"] and counts["train"] > counts["test"]
    # stability: re-running yields the identical assignment
    a = {r["doc_id"]: r["split"] for r in out.select("doc_id", "split").collect()}
    b = {r["doc_id"]: r["split"] for r in hash_split(
        docs, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1}
    ).select("doc_id", "split").collect()}
    assert a == b

    s = hash_sample(docs, "doc_id", 0.25)
    n = s.count()
    assert 0 < n < docs.count()
    assert s.count() == n  # deterministic

    lim = stratified_limit(docs, "lang", 5, key_col="doc_id")
    per = lim.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()
    assert all(r["n"] <= 5 for r in per)


def test_ivf_topk_recall_against_brute(spark, emb):
    from swiftlake_spark.operators.similarity import cosine_topk, ivf_index, ivf_topk

    cands = emb.filter(F.col("vec_id") >= 5)
    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )
    indexed, centroids = ivf_index(cands, n_clusters=8)
    approx = ivf_topk(indexed, centroids, q, k=5, n_probe=4).collect()
    brute = cosine_topk(cands, q, k=5).collect()
    brute_sets = {}
    for r in brute:
        brute_sets.setdefault(r["query_id"], set()).add(r["cand_id"])
    hits = sum(1 for r in approx if r["cand_id"] in brute_sets.get(r["query_id"], set()))
    # probing half the centroids on clusterable data → decent recall
    assert hits >= len(brute) * 0.4, (hits, len(brute))
    # determinism: same seed → same assignment
    indexed2, _ = ivf_index(cands, n_clusters=8)
    a = sorted((r["vec_id"], r["centroid_id"]) for r in indexed.collect())
    b = sorted((r["vec_id"], r["centroid_id"]) for r in indexed2.collect())
    assert a == b

def test_simhash_banded_full_recall_vs_bruteforce(spark, docs):
    """Banded SimHash must find EVERY pair within max_hamming (pigeonhole
    guarantee) — compare against a brute-force O(n²) check on signatures."""
    from itertools import combinations

    from swiftlake_spark.operators.dedup import simhash, simhash_near_dups

    base = docs.filter(F.col("doc_id") < 200).select("doc_id", "text")
    sigs = {r["id"]: r["simhash"] for r in simhash(base, "doc_id", "text").collect()}
    max_h = 3
    expected = {
        (a, b)
        for a, b in combinations(sorted(sigs), 2)
        if bin(sigs[a] ^ sigs[b]).count("1") <= max_h
    }
    got = {
        (r["id_a"], r["id_b"])
        for r in simhash_near_dups(base, "doc_id", "text", max_hamming=max_h).collect()
    }
    assert got == expected
    assert expected, "fixture has no close simhash pairs — test is vacuous"


def test_simhash_banded_bucket_bound(spark, docs):
    """Candidate generation must stay far below all-pairs on a corpus with
    no duplicate signatures: bucket key space is n_bands * 2^(48/n_bands),
    so band-bucket group sizes stay tiny (the O(bucket^2) hazard the
    8-bit-prefix scheme had)."""
    from swiftlake_spark.operators.dedup import _SIMHASH_BITS, simhash

    base = docs.filter(F.col("doc_id") < 500).select("doc_id", "text")
    sig = simhash(base, "doc_id", "text")
    n_bands, width = 4, _SIMHASH_BITS // 4
    mask = (1 << width) - 1
    band_cols = [
        F.struct(
            F.lit(b).alias("band"),
            F.shiftright("simhash", b * width).bitwiseAND(F.lit(mask)).alias("bits"),
        )
        for b in range(n_bands)
    ]
    sizes = (
        sig.select(F.explode(F.array(*band_cols)).alias("bk"))
        .groupBy("bk.band", "bk.bits")
        .count()
    )
    n_docs = base.count()
    max_bucket = sizes.agg(F.max("count")).collect()[0][0]
    # identical signatures necessarily share buckets; beyond those the
    # 2^12-bucket bands keep groups near-singleton
    n_dup_sig = n_docs - sig.select("simhash").distinct().count()
    assert max_bucket <= n_dup_sig + 4, f"hot band bucket: {max_bucket}"


def test_embedding_near_dups_multitable_recall_and_fanout(spark, emb):
    """Planted exact duplicates are caught in every table (recall 1.0 for
    true dups); per-table bucket fanout stays near-singleton on random
    vectors at n_planes=16."""
    from swiftlake_spark.operators.similarity import (
        embedding_near_dups,
        lsh_bucketize_multi,
    )

    base = emb.select("vec_id", "embedding")
    planted = base.filter(F.col("vec_id") < 5).select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"), "embedding"
    )
    corpus = base.unionByName(planted)
    pairs = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in embedding_near_dups(
            corpus, dim=64, threshold=0.95, n_planes=16, n_tables=4
        ).collect()
    }
    for i in range(5):
        assert (i, i + 1_000_000) in pairs
        assert pairs[(i, i + 1_000_000)] > 0.999999

    b = lsh_bucketize_multi(base, dim=64, n_planes=16, n_tables=4)
    max_bucket = (
        b.groupBy("table", "bucket").count().agg(F.max("count")).collect()[0][0]
    )
    assert max_bucket <= 4, f"hot LSH bucket: {max_bucket}"


def test_connected_components_chain_and_clique(spark):
    """A 6-node chain (worst-case diameter) and a disjoint triangle both
    collapse to their min-id label; singletons outside the pair graph
    don't appear."""
    from swiftlake_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (5, 6), (10, 11), (11, 12), (10, 12)],
        "id_a bigint, id_b bigint",
    )
    got = {
        r["id"]: r["cluster_id"] for r in connected_components(pairs).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1, 6: 1, 10: 10, 11: 10, 12: 10}


def test_connected_components_iteration_bound(spark):
    """max_iter caps the rounds: a chain needing 5 propagation rounds is
    left partially converged at max_iter=1 (bound respected, no hang)."""
    from swiftlake_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (5, 6)], "id_a bigint, id_b bigint"
    )
    got = {
        r["id"]: r["cluster_id"]
        for r in connected_components(pairs, max_iter=1).collect()
    }
    assert got[2] == 1 and got[6] != 1


def test_redact_pii_counts_and_masking(spark):
    from swiftlake_spark.operators.text import redact_pii

    df = spark.createDataFrame(
        [
            (1, "mail a@b.io and c.d+x@e.org, call 415-555-0042"),
            (2, "ssn 123-45-6789 ip 10.0.0.7 clean tail"),
            (3, "nothing sensitive here"),
        ],
        "id bigint, text string",
    )
    rows = {r["id"]: r for r in redact_pii(df).collect()}
    assert rows[1]["n_email"] == 2 and rows[1]["n_phone"] == 1
    assert rows[1]["redacted"] == "mail <EMAIL> and <EMAIL>, call <PHONE>"
    assert rows[2]["n_ssn"] == 1 and rows[2]["n_ipv4"] == 1
    assert rows[2]["redacted"] == "ssn <SSN> ip <IPV4> clean tail"
    assert rows[3]["redacted"] == "nothing sensitive here"
    assert rows[3]["n_email"] == rows[3]["n_phone"] == 0


from hypothesis import HealthCheck, given, settings, strategies as st

_EDGES = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=14), st.integers(min_value=0, max_value=14)
    ).filter(lambda e: e[0] != e[1]),
    min_size=1,
    max_size=20,
)


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(edges=_EDGES)
def test_connected_components_matches_union_find(spark, edges):
    """Random graphs: the distributed label propagation must equal a
    driver-side union-find model (min id per component)."""
    from swiftlake_spark.operators.dedup import connected_components

    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    expect = {n: find(n) for n in parent}

    pairs = spark.createDataFrame(
        [(min(a, b), max(a, b)) for a, b in edges], "id_a bigint, id_b bigint"
    )
    got = {r["id"]: r["cluster_id"] for r in connected_components(pairs).collect()}
    assert got == expect


def test_decode_audio_stub_and_fake(spark):
    from swiftlake_spark.operators.multimodal import decode_audio

    d = spark.createDataFrame(
        [(1, bytearray(b"x" * 32_000)), (2, None)], "id bigint, data binary"
    )
    # raw bytes are not a RIFF/WAV container: real path raises in-task
    with pytest.raises(Exception, match="(?i)riff|wav|file does not start"):
        decode_audio(d).collect()
    rows = {r["id"]: r["audio_features"] for r in decode_audio(d, fake=True).collect()}
    assert rows[1]["duration_ms"] == 2000  # 32000 bytes @ 16 kB/s
    assert len(rows[1]["mel"]) == 16 and rows[2] is None
    again = {r["id"]: r["audio_features"] for r in decode_audio(d, fake=True).collect()}
    assert again[1]["mel"] == rows[1]["mel"]  # payload-seeded determinism


def test_real_decode_in_spark_pipeline(spark):
    """Real codecs through the Arrow-batched Spark plumbing: encode PPM/
    WAV payloads, decode + feature-extract distributed, resize images."""
    import numpy as np

    from swiftlake_spark.operators.multimodal import (
        attach_media_meta,
        decode_audio,
        decode_image,
        encode_ppm,
        encode_wav,
        resize_image,
    )

    rng = np.random.RandomState(3)
    imgs = [
        (i, bytearray(encode_ppm(rng.randint(0, 256, (4 + i, 6, 3), dtype=np.uint8))))
        for i in range(3)
    ]
    d = spark.createDataFrame(imgs, "id bigint, data binary")
    d = attach_media_meta(d, "data", "image/x-portable-pixmap")
    rows = {r["id"]: r["features"] for r in decode_image(d, "data").collect()}
    assert rows[0][0] == 6.0 and rows[0][1] == 4.0  # real width/height
    assert rows[2][1] == 6.0

    rz = resize_image(d, "data", width=2, height=2).collect()
    from swiftlake_spark.operators.multimodal import decode_image_bytes

    for r in rz:
        arr = decode_image_bytes(bytes(r["data"]))
        assert arr.shape == (2, 2, 3)
        assert r["meta"]["width"] == 2 and r["meta"]["height"] == 2

    wavs = [
        (i, bytearray(encode_wav(np.sin(np.arange(4000) * (0.1 + 0.1 * i)), rate=8000)))
        for i in range(3)
    ]
    a = spark.createDataFrame(wavs, "id bigint, data binary")
    feats = {r["id"]: r["audio_features"] for r in decode_audio(a).collect()}
    assert all(feats[i]["duration_ms"] == 500 for i in range(3))
    assert all(len(feats[i]["mel"]) == 16 for i in range(3))
    assert feats[0]["rms"] > 0.5  # full-scale sine


def test_ppm_stream_video_sampling(spark):
    """Real video path: concatenated-PPM streams, frame sampling by
    time at a given fps, per-frame pixel features."""
    import numpy as np

    from swiftlake_spark.operators.multimodal import (
        decode_ppm_stream,
        encode_ppm_stream,
        sample_frames,
    )

    rng = np.random.RandomState(5)
    clips = []
    for i in range(2):
        n_frames = 50 + i * 25  # 2s / 3s of 25fps footage
        frames = [rng.randint(0, 256, (4, 4, 3), dtype=np.uint8) for _ in range(n_frames)]
        clips.append((i, bytearray(encode_ppm_stream(frames))))
    # container roundtrip
    back = decode_ppm_stream(bytes(clips[0][1]))
    assert len(back) == 50 and back[0].shape == (4, 4, 3)

    d = spark.createDataFrame(clips, "id bigint, data binary")
    # 1000 ms @ 25 fps -> every 25th frame: 2 frames from 50, 3 from 75
    out = {r["id"]: r["frames"] for r in
           sample_frames(d, "data", every_ms=1000, fps=25.0).collect()}
    assert len(out[0]) == 2 and len(out[1]) == 3
    assert all(len(f) == 16 for f in out[0])  # real per-frame features
    assert out[0][0][0] == 4.0 and out[0][0][1] == 4.0  # true width/height


def test_semantic_dedup_finds_planted_duplicates(spark, emb):
    """SemDeDup shape: planted near-identical embeddings must be caught
    (same cluster, cosine ~1); unrelated random vectors survive."""
    from pyspark.sql import functions as F

    from swiftlake_spark.operators.similarity import semantic_dedup

    base = emb.filter(F.col("vec_id") < 60)
    # plant two near-copies of vector 0 (tiny perturbation on one slot)
    clones = base.filter(F.col("vec_id") == 0).select(
        F.lit(9001).cast("bigint").alias("vec_id"),
        F.transform(
            "embedding", lambda x, i: x + F.when(i == 0, F.lit(1e-4)).otherwise(F.lit(0.0))
        ).alias("embedding"),
    ).unionByName(
        base.filter(F.col("vec_id") == 1).select(
            F.lit(9002).cast("bigint").alias("vec_id"),
            F.col("embedding"),
        )
    )
    allv = base.select("vec_id", "embedding").unionByName(clones)
    out = {r["id"]: r for r in semantic_dedup(allv, threshold=0.98).collect()}
    assert not out[9001]["keep"] and out[9001]["dup_of"] == 0
    assert not out[9002]["keep"] and out[9002]["dup_of"] == 1
    assert out[0]["keep"] and out[1]["keep"]
    # random 64-dim vectors are near-orthogonal: everything else survives
    dropped = [k for k, r in out.items() if not r["keep"]]
    assert sorted(dropped) == [9001, 9002]


def test_semantic_dedup_skewed_cluster_guards(spark, emb):
    """Centroid-skew guards: (a) a flood of IDENTICAL vectors — the case
    k-means can never split — is pre-reduced to one representative by
    the exact-value groupBy, so pair work stays linear in the flood and
    every copy is dropped against the lowest id; (b) a dense cluster of
    DISTINCT near-identical vectors above max_cluster_size is re-split
    into sub-clusters (composite keys) instead of one quadratic
    self-join, and planted exact duplicates are still all caught."""
    from pyspark.sql import functions as F

    from swiftlake_spark.operators.similarity import semantic_dedup

    base = emb.filter(F.col("vec_id") < 40).select("vec_id", "embedding")

    # (a) 200 exact copies of vector 0
    flood = (
        base.filter(F.col("vec_id") == 0)
        .crossJoin(spark.range(1, 201).select(F.col("id").alias("k")))
        .select((F.lit(50_000) + F.col("k")).alias("vec_id"), "embedding")
    )
    out = {
        r["id"]: r
        for r in semantic_dedup(
            base.unionByName(flood), threshold=0.98, max_cluster_size=50
        ).collect()
    }
    assert out[0]["keep"]
    for k in range(1, 201):
        assert not out[50_000 + k]["keep"] and out[50_000 + k]["dup_of"] == 0
    assert sum(1 for r in out.values() if not r["keep"]) == 200

    # (b) 200 DISTINCT near-identical vectors (orthogonal-ish tiny noise
    # per slot keeps cosine ~1 pairwise) — forces the re-split path
    dense = (
        base.filter(F.col("vec_id") == 1)
        .crossJoin(spark.range(1, 201).select(F.col("id").alias("k")))
        .select(
            (F.lit(60_000) + F.col("k")).alias("vec_id"),
            F.transform(
                "embedding",
                lambda x, i: x
                + F.when(i == (F.col("k") % 64).cast("int"), F.lit(0.05)).otherwise(
                    F.lit(0.0)
                ),
            ).alias("embedding"),
        )
    )
    # planted exact duplicate of one dense member
    copy = dense.filter(F.col("vec_id") == 60_001).select(
        F.lit(70_001).cast("bigint").alias("vec_id"), "embedding"
    )
    allv = base.unionByName(dense).unionByName(copy)
    out2 = {
        r["id"]: r
        for r in semantic_dedup(
            allv, threshold=0.999999, max_cluster_size=50
        ).collect()
    }
    # the exact copy is caught through the representative reduction
    assert not out2[70_001]["keep"] and out2[70_001]["dup_of"] == 60_001
    # base vectors are near-orthogonal to everything: all keep
    assert all(out2[i]["keep"] for i in range(2, 40))


def test_png_codec_roundtrip_and_filters():
    """Stdlib PNG decode (VERDICT r6 ask #4, extended): roundtrip for
    gray/RGB/RGBA, palette decode, and every filter type (1/Sub, 2/Up,
    3/Average, 4/Paeth) verified against a slow reference unfilter."""
    import struct
    import zlib

    import numpy as np

    from swiftlake_spark.operators.multimodal import (
        _PNG_SIG,
        _png_chunk,
        decode_image_bytes,
        decode_png,
        encode_png,
    )

    rng = np.random.RandomState(7)
    rgb = rng.randint(0, 256, (5, 4, 3), dtype=np.uint8).astype(np.uint8)
    gray = rng.randint(0, 256, (3, 6), dtype=np.uint8).astype(np.uint8)
    rgba = rng.randint(0, 256, (4, 4, 4), dtype=np.uint8).astype(np.uint8)
    assert (decode_png(encode_png(rgb)) == rgb).all()
    assert (decode_png(encode_png(gray)) == gray).all()
    assert (decode_png(encode_png(rgba)) == rgba[:, :, :3]).all()  # alpha drops
    assert (decode_image_bytes(encode_png(rgb)) == rgb).all()  # dispatch

    # palette (color type 3): 2x2 of palette indices
    plte = bytes([255, 0, 0, 0, 255, 0, 0, 0, 255])  # red, green, blue
    ihdr = struct.pack(">IIBBBBB", 2, 2, 8, 3, 0, 0, 0)
    raster = b"\x00\x00\x01" + b"\x00\x02\x00"  # rows: [0,1], [2,0]
    png = (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"PLTE", plte)
        + _png_chunk(b"IDAT", zlib.compress(raster))
        + _png_chunk(b"IEND", b"")
    )
    want = np.array(
        [[[255, 0, 0], [0, 255, 0]], [[0, 0, 255], [255, 0, 0]]], dtype=np.uint8
    )
    assert (decode_png(png) == want).all()

    # all five filter types on an RGB image, vs a slow reference
    h, w, nch = 6, 5, 3
    img = rng.randint(0, 256, (h, w, nch), dtype=np.uint8)
    flat = img.reshape(h, w * nch).astype(np.int32)

    def filt_row(cur, prev, ftype):
        stride = len(cur)
        out = np.zeros(stride, dtype=np.int32)
        for x in range(stride):
            a = cur[x - nch] if x >= nch else 0
            b = prev[x]
            c = prev[x - nch] if x >= nch else 0
            if ftype == 0:
                pred = 0
            elif ftype == 1:
                pred = a
            elif ftype == 2:
                pred = b
            elif ftype == 3:
                pred = (a + b) >> 1
            else:
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
            out[x] = (cur[x] - pred) & 0xFF
        return out

    raster = b""
    prev = np.zeros(w * nch, dtype=np.int32)
    for y in range(h):
        ftype = y % 5  # cycle through every filter type
        raster += bytes([ftype]) + bytes(
            filt_row(flat[y], prev, ftype).astype(np.uint8)
        )
        prev = flat[y]
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    png = (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(raster))
        + _png_chunk(b"IEND", b"")
    )
    assert (decode_png(png) == img).all()


def test_png_adam7_interlace_decodes():
    """r10: Adam7-interlaced PNGs decode natively — each pass is an
    independently-filtered sub-image scattered onto the output grid."""
    import struct
    import zlib

    import numpy as np

    from swiftlake_spark.operators.multimodal import (
        _ADAM7,
        _PNG_SIG,
        _png_chunk,
        decode_png,
    )

    def interlaced_png(img):
        a = np.asarray(img, dtype=np.uint8)
        gray = a.ndim == 2
        h, w = a.shape[:2]
        color = 0 if gray else 2
        rows = []
        for x0, y0, dx, dy in _ADAM7:
            sub = a[y0::dy, x0::dx]
            if sub.shape[0] == 0 or sub.shape[1] == 0:
                continue
            for r in sub:
                rows.append(b"\x00" + r.tobytes())
        ihdr = struct.pack(">IIBBBBB", w, h, 8, color, 0, 0, 1)
        return (_PNG_SIG + _png_chunk(b"IHDR", ihdr)
                + _png_chunk(b"IDAT", zlib.compress(b"".join(rows)))
                + _png_chunk(b"IEND", b""))

    rng = np.random.default_rng(5)
    for shape in ((10, 9, 3), (5, 5), (3, 1, 3), (1, 1), (8, 16, 3)):
        img = rng.integers(0, 256, shape).astype(np.uint8)
        got = decode_png(interlaced_png(img))
        assert got.shape == img.shape, shape
        assert np.array_equal(got, img), shape


def test_png_invalid_combos_refuse_cleanly():
    """Spec-invalid depth/color combinations refuse with a clean error
    (every spec-valid layout now decodes natively; only exotic invalid
    streams fall through to the seam, where PIL rejects them its own
    way)."""
    import struct
    import zlib

    import pytest

    from swiftlake_spark.operators.multimodal import (
        _PNG_SIG,
        _png_chunk,
        decode_png,
    )

    for depth, color in ((16, 3), (2, 2), (4, 6), (3, 0)):
        ihdr = struct.pack(">IIBBBBB", 1, 1, depth, color, 0, 0, 0)
        bad = (_PNG_SIG + _png_chunk(b"IHDR", ihdr)
               + _png_chunk(b"IDAT", zlib.compress(b"\x00\xff\xff\xff"))
               + _png_chunk(b"IEND", b""))
        with pytest.raises((NotImplementedError, ValueError)):
            decode_png(bad)


def test_jpeg_dispatch_decodes_all_entropy_paths():
    """JPEG dispatch (r10: progressive; r11: arithmetic + lossless):
    baseline, progressive, sequential-arithmetic (SOF9) AND
    progressive-arithmetic (SOF10) all decode WITHOUT PIL;
    arithmetic-lossless (SOF11) still routes to the PIL seam — real
    decode when importable, honest raise when not (zero new hard
    dependencies)."""
    import numpy as np
    import pytest

    from swiftlake_spark.operators.jpeg import (
        encode_jpeg,
        encode_jpeg_progressive,
    )
    from swiftlake_spark.operators.jpeg_arith import (
        encode_jpeg_arith,
        encode_jpeg_arith_progressive,
    )
    from swiftlake_spark.operators.multimodal import decode_image_bytes

    img = np.full((8, 8, 3), (10, 200, 60), dtype=np.uint8)
    out = decode_image_bytes(encode_jpeg(img))
    assert np.abs(out.astype(int) - img.astype(int)).max() <= 1  # DC rounding
    out = decode_image_bytes(encode_jpeg_progressive(img))
    assert np.abs(out.astype(int) - img.astype(int)).max() <= 1
    out = decode_image_bytes(encode_jpeg_arith(img))
    assert np.abs(out.astype(int) - img.astype(int)).max() <= 1
    out = decode_image_bytes(encode_jpeg_arith_progressive(img))
    assert np.abs(out.astype(int) - img.astype(int)).max() <= 1

    # SOF11 decodes natively as of r12, so a sequential stream
    # relabeled SOF11 fails arithmetic-lossless validation (Ss=0 is an
    # invalid predictor) — a clean ValueError, never a silent decode
    seam = bytearray(encode_jpeg_arith(img))
    seam[seam.find(b"\xff\xc9") + 1] = 0xCB  # SOF9 → SOF11 (lossless)
    with pytest.raises(ValueError):
        decode_image_bytes(bytes(seam))




def test_png_16bit_and_subbyte_depths():
    """r10: stdlib PNG decode covers 16-bit truecolor/gray (high-byte
    downscale) and 1/2/4-bit gray/palette — hand-built payloads with
    per-row filters so the byte-geometry (bpp, stride) is exercised."""
    import struct
    import zlib

    import numpy as np

    from swiftlake_spark.operators.multimodal import (
        _PNG_SIG,
        _png_chunk,
        decode_png,
    )

    def png(w, h, depth, color, raster_rows, plte=None):
        ihdr = struct.pack(">IIBBBBB", w, h, depth, color, 0, 0, 0)
        out = _PNG_SIG + _png_chunk(b"IHDR", ihdr)
        if plte is not None:
            out += _png_chunk(b"PLTE", plte.astype(np.uint8).tobytes())
        out += _png_chunk(b"IDAT", zlib.compress(b"".join(raster_rows)))
        return out + _png_chunk(b"IEND", b"")

    def sub_filter(row: bytes, bpp: int) -> bytes:
        raw = bytearray(row)
        out = bytearray(len(raw))
        for x in range(len(raw)):
            left = raw[x - bpp] if x >= bpp else 0
            out[x] = (raw[x] - left) & 0xFF
        return bytes(out)

    # 16-bit RGB, 3x2, row 0 unfiltered, row 1 Sub-filtered (bpp=6)
    px16 = np.array(
        [[[65535, 0, 300], [0, 32768, 7], [1000, 2000, 3000]],
         [[256, 512, 768], [40000, 100, 65000], [1, 2, 3]]],
        dtype=np.uint16)
    rows = [
        b"\x00" + px16[0].astype(">u2").tobytes(),
        b"\x01" + sub_filter(px16[1].astype(">u2").tobytes(), 6),
    ]
    got = decode_png(png(3, 2, 16, 2, rows))
    assert got.shape == (2, 3, 3) and got.dtype == np.uint8
    assert np.array_equal(got, (px16 >> 8).astype(np.uint8))

    # 16-bit gray with Up filter
    g16 = np.array([[0, 10000, 65535], [255, 20000, 4096]], dtype=np.uint16)
    r0 = g16[0].astype(">u2").tobytes()
    r1raw = g16[1].astype(">u2").tobytes()
    up = bytes((b - a) & 0xFF for a, b in zip(r0, r1raw))
    got = decode_png(png(3, 2, 16, 0, [b"\x00" + r0, b"\x02" + up]))
    assert np.array_equal(got, (g16 >> 8).astype(np.uint8))

    # 4-bit palette, width 3 (odd → padded low nibble), 2 rows
    plte = np.array([[255, 0, 0], [0, 255, 0], [0, 0, 255], [9, 9, 9]])
    # indices row0: 0,1,2 → bytes 0x01 0x20 ; row1: 3,3,0 → 0x33 0x00
    rows = [b"\x00" + bytes([0x01, 0x20]), b"\x00" + bytes([0x33, 0x00])]
    got = decode_png(png(3, 2, 4, 3, rows, plte=plte))
    assert got.shape == (2, 3, 3)
    assert np.array_equal(got[0], plte[[0, 1, 2]])
    assert np.array_equal(got[1], plte[[3, 3, 0]])

    # 1-bit gray, width 10 (crosses a byte boundary), one row
    bits = [1, 0, 1, 1, 0, 0, 1, 0, 1, 1]
    packed = bytes([0b10110010, 0b11000000])
    got = decode_png(png(10, 1, 1, 0, [b"\x00" + packed]))
    assert got.shape == (1, 10)
    assert np.array_equal(got[0], np.array(bits) * 255)

    # 2-bit gray: values 0..3 scale by 85
    rows = [b"\x00" + bytes([0b00011011])]  # 0,1,2,3
    got = decode_png(png(4, 1, 2, 0, rows))
    assert np.array_equal(got[0], np.array([0, 85, 170, 255]))

    # palette index past PLTE length fails cleanly
    import pytest as _pytest
    rows = [b"\x00" + bytes([0x0F, 0x00])]
    with _pytest.raises(ValueError, match="palette index"):
        decode_png(png(3, 1, 4, 3, rows, plte=plte))


def test_png_mutation_fuzz_fails_cleanly():
    """Corrupted PNGs must decode or raise a clean error fast — same
    contract as the JPEG mutation fuzz, now that the PNG surface spans
    8/16-bit, sub-byte and Adam7 layouts.  400 seeded mutations over
    three payload shapes."""
    import random
    import struct
    import time
    import zlib

    import numpy as np

    from swiftlake_spark.operators.multimodal import (
        _ADAM7,
        _PNG_SIG,
        _png_chunk,
        decode_png,
        encode_png,
    )

    rng0 = np.random.default_rng(17)
    rgb = rng0.integers(0, 256, (24, 31, 3)).astype(np.uint8)
    # 16-bit gray payload
    g16 = rng0.integers(0, 65536, (9, 13)).astype(np.uint16)
    ihdr16 = struct.pack(">IIBBBBB", 13, 9, 16, 0, 0, 0, 0)
    png16 = (_PNG_SIG + _png_chunk(b"IHDR", ihdr16)
             + _png_chunk(b"IDAT", zlib.compress(b"".join(
                 b"\x00" + r.astype(">u2").tobytes() for r in g16)))
             + _png_chunk(b"IEND", b""))
    # Adam7 RGB payload
    rows = []
    for x0, y0, dx, dy in _ADAM7:
        sub = rgb[y0::dy, x0::dx]
        if sub.shape[0] and sub.shape[1]:
            rows += [b"\x00" + r.tobytes() for r in sub]
    ihdr_i = struct.pack(">IIBBBBB", 31, 24, 8, 2, 0, 0, 1)
    png_i = (_PNG_SIG + _png_chunk(b"IHDR", ihdr_i)
             + _png_chunk(b"IDAT", zlib.compress(b"".join(rows)))
             + _png_chunk(b"IEND", b""))
    payloads = [encode_png(rgb), png16, png_i]

    rng = random.Random(23)
    t0 = time.time()
    outcomes = {"ok": 0, "err": 0}
    for _ in range(400):
        data = bytearray(rng.choice(payloads))
        for _m in range(rng.choice((1, 1, 1, 3))):
            data[rng.randrange(8, len(data))] = rng.randrange(256)
        try:
            out = decode_png(bytes(data))
            assert out.dtype == np.uint8
            outcomes["ok"] += 1
        except (ValueError, NotImplementedError, zlib.error,
                struct.error, IndexError, KeyError):
            outcomes["err"] += 1
    assert outcomes["ok"] + outcomes["err"] == 400
    assert outcomes["err"] > 40, outcomes
    assert time.time() - t0 < 60, "mutation decode too slow — lurking loop?"


def test_png_seam_dispatch_invalid_and_oversize():
    """decode_image_bytes PNG fallthrough (r10 review): payloads the
    stdlib decoder refuses route to the PIL seam — real decode when
    importable; without PIL, NotImplementedError for stdlib-refused
    layouts and the ORIGINAL ValueError for oversize frames."""
    import struct
    import zlib

    import pytest

    from swiftlake_spark.operators.multimodal import (
        _PNG_SIG,
        _png_chunk,
        decode_image_bytes,
    )

    try:
        import PIL  # noqa: F401

        has_pil = True
    except ImportError:
        has_pil = False

    # spec-invalid combo (depth 2, truecolor) → NotImplementedError path
    ihdr = struct.pack(">IIBBBBB", 1, 1, 2, 2, 0, 0, 0)
    bad = (_PNG_SIG + _png_chunk(b"IHDR", ihdr)
           + _png_chunk(b"IDAT", zlib.compress(b"\x00\xff"))
           + _png_chunk(b"IEND", b""))
    if has_pil:
        with pytest.raises(Exception):
            decode_image_bytes(bad)  # PIL rejects invalid its own way
    else:
        with pytest.raises(NotImplementedError, match="PIL"):
            decode_image_bytes(bad)

    # oversize-but-well-formed header → ValueError path re-raises the
    # original diagnostic when PIL is absent (never the needs-PIL text)
    ihdr = struct.pack(">IIBBBBB", 1 << 15, 1 << 15, 8, 0, 0, 0, 0)
    big = (_PNG_SIG + _png_chunk(b"IHDR", ihdr)
           + _png_chunk(b"IDAT", zlib.compress(b"\x00"))
           + _png_chunk(b"IEND", b""))
    if not has_pil:
        with pytest.raises(ValueError, match="implausible PNG dimensions"):
            decode_image_bytes(big)


def test_gif_roundtrip_palettes_interlace_multiframe():
    """r10 stdlib GIF codec: LZW round trips (the encoder shares only
    the constants with the decoder), interlace reorder, multi-frame
    compositing with full-frame replace."""
    import numpy as np

    from swiftlake_spark.operators.multimodal import decode_gif, encode_gif

    rng = np.random.default_rng(9)
    pal = rng.integers(0, 256, (16, 3)).astype(np.uint8)
    img = pal[rng.integers(0, 16, (13, 17))]
    assert np.array_equal(decode_gif(encode_gif([img]))[0], img)
    assert np.array_equal(
        decode_gif(encode_gif([img], interlace=True))[0], img)
    f2 = pal[rng.integers(0, 16, (13, 17))]
    got = decode_gif(encode_gif([img, f2]))
    assert len(got) == 2
    assert np.array_equal(got[0], img) and np.array_equal(got[1], f2)
    # long runs + many colors: LZW width growth and table-fill resets
    big = pal[rng.integers(0, 16, (64, 200))]
    assert np.array_equal(decode_gif(encode_gif([big]))[0], big)
    mono = np.zeros((300, 300, 3), np.uint8)
    assert np.array_equal(decode_gif(encode_gif([mono]))[0], mono)


def test_gif_transparency_and_disposal():
    """Hand-built animation: sub-rect frames, transparent index,
    disposal restore-background(2) and restore-previous(3)."""
    import struct

    import numpy as np

    from swiftlake_spark.operators.multimodal import (
        _lzw_encode,
        decode_gif,
    )

    # palette: 0=red 1=green 2=blue 3=white
    pal = b"\xff\x00\x00" + b"\x00\xff\x00" + b"\x00\x00\xff" + b"\xff\xff\xff"

    def img_desc(x, y, w, h, indices, min_code=2):
        out = b"\x2C" + struct.pack("<HHHH", x, y, w, h) + b"\x00"
        lz = _lzw_encode(bytes(indices), min_code)
        out += bytes([min_code])
        for i in range(0, len(lz), 255):
            out += bytes([len(lz[i:i + 255])]) + lz[i:i + 255]
        return out + b"\x00"

    def gce(disposal, transparent=None):
        flags = (disposal << 2) | (1 if transparent is not None else 0)
        return bytes([0x21, 0xF9, 4, flags, 0, 0, transparent or 0, 0])

    hdr = b"GIF89a" + struct.pack("<HH", 4, 2) + bytes([0x81, 0, 0]) + pal
    # frame 1: full 4x2 of green, disposal=restore-background(red)
    # frame 2: 2x1 rect at (1,1) of blue with index 3 transparent,
    #          disposal=restore-previous
    # frame 3: 1x1 at (0,0) white
    data = (hdr
            + gce(2) + img_desc(0, 0, 4, 2, [1] * 8)
            + gce(3, transparent=3) + img_desc(1, 1, 2, 1, [2, 3])
            + gce(0) + img_desc(0, 0, 1, 1, [3])
            + b"\x3B")
    frames = decode_gif(data)
    assert len(frames) == 3
    G, R, B, W = (0, 255, 0), (255, 0, 0), (0, 0, 255), (255, 255, 255)
    assert [tuple(px) for px in frames[0].reshape(-1, 3)] == [G] * 8
    # frame 2: canvas restored to bg (red), blue at (1,1), the
    # transparent pixel at (2,1) shows red
    want = [R, R, R, R, R, B, R, R]
    assert [tuple(px) for px in frames[1].reshape(-1, 3)] == want
    # frame 3: restore-previous undid frame 2 → red canvas, white at 0,0
    want = [W, R, R, R, R, R, R, R]
    assert [tuple(px) for px in frames[2].reshape(-1, 3)] == want


def test_gif_dispatch_and_frame_sampling(spark):
    """decode_image_bytes takes GIF stills; sample_frames walks an
    animated GIF through the real mapInPandas path."""
    import numpy as np
    from pyspark.sql import functions as F

    from swiftlake_spark.operators.multimodal import (
        decode_image_bytes,
        encode_gif,
        sample_frames,
    )

    rng = np.random.default_rng(21)
    pal = rng.integers(0, 256, (8, 3)).astype(np.uint8)
    frames = [pal[rng.integers(0, 8, (6, 7))] for _ in range(5)]
    payload = encode_gif(frames)
    assert np.array_equal(decode_image_bytes(payload), frames[0])

    df = spark.createDataFrame([(1, bytearray(payload))],
                               "id BIGINT, data BINARY")
    out = sample_frames(df, "data", every_ms=80, fps=25.0).collect()[0]
    # step = 2 → frames 0, 2, 4
    assert len(out["frames"]) == 3
    assert abs(out["frames"][0][3] - frames[0][:, :, 0].mean()) < 1e-3


def test_gif_mutation_fuzz_fails_cleanly():
    import random
    import struct
    import time

    import numpy as np

    from swiftlake_spark.operators.multimodal import decode_gif, encode_gif

    rng0 = np.random.default_rng(31)
    pal = rng0.integers(0, 256, (16, 3)).astype(np.uint8)
    payloads = [
        encode_gif([pal[rng0.integers(0, 16, (20, 30))]]),
        encode_gif([pal[rng0.integers(0, 16, (9, 11))] for _ in range(3)],
                   interlace=True),
    ]
    rng = random.Random(37)
    t0 = time.time()
    outcomes = {"ok": 0, "err": 0}
    for _ in range(400):
        data = bytearray(rng.choice(payloads))
        for _m in range(rng.choice((1, 1, 1, 3))):
            data[rng.randrange(6, len(data))] = rng.randrange(256)
        try:
            fs = decode_gif(bytes(data))
            assert all(f.dtype == np.uint8 for f in fs)
            outcomes["ok"] += 1
        except (ValueError, NotImplementedError, IndexError, KeyError,
                struct.error):
            outcomes["err"] += 1
    assert outcomes["ok"] + outcomes["err"] == 400
    assert outcomes["err"] > 40, outcomes
    assert time.time() - t0 < 60, "mutation decode too slow"


_has_pil_gif = True
try:  # pragma: no cover
    import PIL  # noqa: F401
except ImportError:
    _has_pil_gif = False


@pytest.mark.skipif(not _has_pil_gif, reason="pillow not installed")
def test_gif_golden_vs_pil():  # pragma: no cover
    """Where pillow exists: PIL must decode our GIF to our pixels and
    we must decode PIL's GIF output to its pixels."""
    import io

    import numpy as np
    from PIL import Image

    from swiftlake_spark.operators.multimodal import decode_gif, encode_gif

    rng = np.random.default_rng(41)
    pal = rng.integers(0, 256, (32, 3)).astype(np.uint8)
    img = pal[rng.integers(0, 32, (19, 23))]
    ours = encode_gif([img])
    theirs = np.asarray(Image.open(io.BytesIO(ours)).convert("RGB"))
    assert np.array_equal(theirs, img)

    buf = io.BytesIO()
    Image.fromarray(img).save(buf, format="GIF")
    assert np.array_equal(decode_gif(buf.getvalue())[0], img)


def test_gif_lzw_property_roundtrip():
    """Property: LZW encode→decode is identity for arbitrary index
    streams at every legal minimum code size (hypothesis-driven)."""
    from hypothesis import given, settings, strategies as st

    from swiftlake_spark.operators.multimodal import (
        _lzw_decode,
        _lzw_encode,
    )

    @settings(max_examples=150, deadline=None)
    @given(
        min_code=st.integers(min_value=2, max_value=8),
        data=st.data(),
    )
    def check(min_code, data):
        n = data.draw(st.integers(min_value=0, max_value=600))
        idx = bytes(
            data.draw(
                st.lists(
                    st.integers(0, (1 << min_code) - 1),
                    min_size=n, max_size=n,
                )
            )
        )
        assert _lzw_decode(_lzw_encode(idx, min_code), min_code) == idx

    check()


def test_tiff_roundtrip_all_variants():
    """r10 stdlib TIFF codec: strips, both byte orders, PackBits, gray
    and RGB — encoder shares only tag constants with the decoder."""
    import numpy as np

    from swiftlake_spark.operators.multimodal import (
        decode_image_bytes,
        decode_tiff,
        encode_tiff,
    )

    rng = np.random.default_rng(3)
    for shape in ((13, 17, 3), (9, 20)):
        img = rng.integers(0, 256, shape).astype(np.uint8)
        for pb in (False, True):
            for be in (False, True):
                for rps in (None, 4):
                    got = decode_tiff(encode_tiff(
                        img, packbits=pb, big_endian=be,
                        rows_per_strip=rps))
                    assert np.array_equal(got, img), (shape, pb, be, rps)
    mono = np.full((30, 40, 3), 7, np.uint8)  # PackBits-friendly runs
    assert np.array_equal(decode_tiff(encode_tiff(mono, packbits=True)),
                          mono)
    # dispatch, both byte orders
    img = rng.integers(0, 256, (6, 8, 3)).astype(np.uint8)
    assert np.array_equal(decode_image_bytes(encode_tiff(img)), img)
    assert np.array_equal(
        decode_image_bytes(encode_tiff(img, big_endian=True)), img)


def test_tiff_white_is_zero_and_unsupported_variants():
    import struct

    import numpy as np
    import pytest

    from swiftlake_spark.operators.multimodal import decode_tiff, encode_tiff

    # photometric 0 (WhiteIsZero) inverts grayscale
    g = np.array([[0, 128, 255]], dtype=np.uint8)
    data = bytearray(encode_tiff(g))
    # find tag 262 in the IFD and flip its inline value 1 → 0
    (n,) = struct.unpack_from("<H", data, 8)
    for k in range(n):
        off = 10 + 12 * k
        tag = struct.unpack_from("<H", data, off)[0]
        if tag == 262:
            struct.pack_into("<I", data, off + 8, 0)
    got = decode_tiff(bytes(data))
    assert np.array_equal(got, 255 - g)

    # unsupported shapes refuse with NotImplementedError (PIL seam)
    # (compression 6 = old-style JPEG; LZW native since r11, new-style
    # JPEG (7) native later in r11)
    data = bytearray(encode_tiff(g))
    for k in range(n):
        off = 10 + 12 * k
        if struct.unpack_from("<H", data, off)[0] == 259:
            struct.pack_into("<I", data, off + 8, 6)
    with pytest.raises(NotImplementedError, match="PIL"):
        decode_tiff(bytes(data))


def test_tiff_lzw_spec_vector_and_roundtrip():
    """r11 TIFF-LZW (compression 5): MSB-first packing + early width
    change, pinned against a hand-packed spec vector (TIFF 6.0 §13
    example string 7,7,7,8,8,7,7,6,6), then round-tripped through the
    full codec with Predictor 2, both byte orders and multi-strip
    layouts.  Encoder and decoder implement the width rules
    independently, so a one-off in either breaks the round-trip at the
    9→10-bit boundary exercised by the big image."""
    import numpy as np

    from swiftlake_spark.operators.multimodal import (
        _tiff_lzw_decode,
        _tiff_lzw_encode,
        decode_image_bytes,
        decode_tiff,
        encode_tiff,
    )

    # hand-packed: codes CLEAR,7,258,8,8,258,6,6,EOI at 9 bits MSB-first
    codes = [256, 7, 258, 8, 8, 258, 6, 6, 257]
    bits = "".join(format(c, "09b") for c in codes)
    bits += "0" * (-len(bits) % 8)
    hand = bytes(int(bits[i: i + 8], 2) for i in range(0, len(bits), 8))
    raw = bytes([7, 7, 7, 8, 8, 7, 7, 6, 6])
    assert _tiff_lzw_encode(raw) == hand
    assert _tiff_lzw_decode(hand, len(raw)) == raw

    rng = np.random.default_rng(11)
    for shape in ((13, 17, 3), (9, 20)):
        img = rng.integers(0, 256, shape).astype(np.uint8)
        for pred in (1, 2):
            for be in (False, True):
                for rps in (None, 4):
                    got = decode_tiff(encode_tiff(
                        img, lzw=True, predictor=pred,
                        big_endian=be, rows_per_strip=rps))
                    assert np.array_equal(got, img), (shape, pred, be, rps)
    # gradient (predictor-friendly) + dispatch through decode_image_bytes
    grad = (np.indices((25, 33)).sum(0) % 256).astype(np.uint8)
    rgb = np.stack([grad, grad // 2, (grad * 2) % 256], -1).astype(np.uint8)
    payload = encode_tiff(rgb, lzw=True, predictor=2)
    assert np.array_equal(decode_image_bytes(payload), rgb)
    # predictor makes the gradient strictly more compressible
    assert len(payload) < len(encode_tiff(rgb, lzw=True))
    # >4094 table entries: forces the in-stream CLEAR reset + 12-bit cap
    big = rng.integers(0, 256, (200, 200, 3)).astype(np.uint8)
    assert np.array_equal(decode_tiff(encode_tiff(big, lzw=True)), big)


def test_tiff_mutation_fuzz_fails_cleanly():
    import random
    import struct
    import time

    import numpy as np

    from swiftlake_spark.operators.multimodal import decode_tiff, encode_tiff

    rng0 = np.random.default_rng(43)
    payloads = [
        encode_tiff(rng0.integers(0, 256, (20, 30, 3)).astype(np.uint8)),
        encode_tiff(rng0.integers(0, 256, (11, 13)).astype(np.uint8),
                    packbits=True, rows_per_strip=3, big_endian=True),
        encode_tiff(rng0.integers(0, 256, (15, 21, 3)).astype(np.uint8),
                    lzw=True, predictor=2, rows_per_strip=5),
    ]
    rng = random.Random(47)
    t0 = time.time()
    outcomes = {"ok": 0, "err": 0}
    for _ in range(400):
        data = bytearray(rng.choice(payloads))
        for _m in range(rng.choice((1, 1, 1, 3))):
            data[rng.randrange(4, len(data))] = rng.randrange(256)
        try:
            out = decode_tiff(bytes(data))
            assert out.dtype == np.uint8
            outcomes["ok"] += 1
        except (ValueError, NotImplementedError, IndexError, KeyError,
                struct.error):
            outcomes["err"] += 1
    assert outcomes["ok"] + outcomes["err"] == 400
    assert outcomes["err"] > 40, outcomes
    assert time.time() - t0 < 60


@pytest.mark.skipif(not _has_pil_gif, reason="pillow not installed")
def test_tiff_golden_vs_pil():  # pragma: no cover
    import io

    import numpy as np
    from PIL import Image

    from swiftlake_spark.operators.multimodal import decode_tiff, encode_tiff

    rng = np.random.default_rng(53)
    img = rng.integers(0, 256, (14, 19, 3)).astype(np.uint8)
    for kw in ({}, {"packbits": True}, {"lzw": True},
               {"lzw": True, "predictor": 2}):
        ours = encode_tiff(img, **kw)
        theirs = np.asarray(Image.open(io.BytesIO(ours)).convert("RGB"))
        assert np.array_equal(theirs, img), kw
    buf = io.BytesIO()
    Image.fromarray(img).save(buf, format="TIFF")
    assert np.array_equal(decode_tiff(buf.getvalue()), img)
    # PIL's own LZW writer (with its default predictor) → our decoder
    buf = io.BytesIO()
    Image.fromarray(img).save(buf, format="TIFF", compression="tiff_lzw")
    assert np.array_equal(decode_tiff(buf.getvalue()), img)


# ---------------------------------------------------------------- round 11


def test_canonical_url_equivalence_classes(spark):
    """Scheme case, www, tracking params, param order, fragments and
    trailing slashes collapse; genuinely different resources don't."""
    from pyspark.sql import functions as F

    from swiftlake_spark.operators.text import canonical_url

    rows = [
        (1, "HTTPS://www.Example.com/a/b/?utm_source=x&id=3&ref=z#frag"),
        (2, "http://example.com/a/b?id=3"),
        (3, "example.com/a/b?id=3&utm_medium=mail"),
        (4, "https://example.com/a/b?id=4"),          # different id
        (5, "https://example.com/a/b/c?id=3"),        # different path
        (6, "https://other.example.com/a/b?id=3"),    # different host
        (7, "https://example.com/a/b?x=1&y=2"),
        (8, "https://example.com/a/b?y=2&x=1"),       # param order
        (9, "https://example.com/a/b"),
        (10, "https://www.example.com/a/b/"),         # no query at all
    ]
    df = spark.createDataFrame(rows, ["id", "url"])
    got = dict(
        df.select("id", canonical_url(F.col("url")).alias("c")).collect()
    )
    assert got[1] == got[2] == got[3] == "example.com/a/b?id=3"
    assert got[7] == got[8] == "example.com/a/b?x=1&y=2"
    assert got[9] == got[10] == "example.com/a/b"
    assert len({got[2], got[4], got[5], got[6]}) == 4


def test_char_diversity_exact_values(spark):
    from swiftlake_spark.operators.text import char_diversity

    df = spark.createDataFrame(
        [(1, "aaaa"), (2, "abab"), (3, "abcdefgh")], ["id", "text"]
    )
    got = {r["id"]: r for r in char_diversity(df, "id", "text").collect()}
    assert got[1]["simpson"] == 0.0 and got[1]["top_char_share"] == 1.0
    assert got[2]["simpson"] == 0.5 and got[2]["n_distinct_chars"] == 2
    assert abs(got[3]["simpson"] - (1 - 8 / 64)) < 1e-15
    assert got[3]["n_chars"] == 8


def test_zipf_slope_ideal_distribution(spark):
    """freq = 2^(10 - floor(log2 rank)) puts every point on y = 10 - x:
    the binary-decade regression must recover slope exactly -1."""
    from swiftlake_spark.operators.text import zipf_slope_stats

    words = []
    for rank in range(1, 65):
        freq = 1 << (10 - (rank.bit_length() - 1))
        words += [f"w{rank:03d}"] * freq
    df = spark.createDataFrame([(" ".join(words),)], ["text"])
    row = zipf_slope_stats(df, "text", top_v=64).collect()[0]
    assert row["n_ranked"] == 64
    assert row["slope"] == -1.0


def test_token_budget_waterfill_properties(spark):
    from pyspark.sql import functions as F

    from swiftlake_spark.operators.sampling import token_budget_waterfill

    caps = spark.createDataFrame(
        [("a", 100), ("b", 1000), ("c", 5000), ("d", 50)], ["src", "cap"]
    )
    out = token_budget_waterfill(caps, "src", "cap", 3000).collect()
    by = {r["src"]: r for r in out}
    # small sources taken whole, the big one levelled, total == budget
    assert by["a"]["alloc"] == 100.0 and by["a"]["saturated"]
    assert by["d"]["alloc"] == 50.0 and by["b"]["alloc"] == 1000.0
    assert by["c"]["alloc"] == 1850.0 and not by["c"]["saturated"]
    assert sum(r["alloc"] for r in out) == 3000.0
    # over-budget: everything saturates at capacity
    over = token_budget_waterfill(caps, "src", "cap", 99_999).collect()
    assert all(r["saturated"] and r["alloc"] == float(r["cap"]) for r in over)
    # alloc never exceeds capacity
    assert all(r["alloc"] <= r["cap"] for r in out)
    # DataFrame-budget form matches the int form
    bdf = caps.agg(F.lit(3000).cast("bigint").alias("b"))
    out2 = token_budget_waterfill(caps, "src", "cap", bdf).collect()
    assert {(r["src"], r["alloc"]) for r in out2} == {
        (r["src"], r["alloc"]) for r in out
    }


def test_image_phash_invariances_and_spread():
    import numpy as np

    from swiftlake_spark.operators.multimodal import image_phash

    rng = np.random.RandomState(5)
    base = rng.randint(20, 200, (32, 32, 3)).astype(np.uint8)
    h0 = image_phash(base)
    # brightness shift: DC-only in DCT space (no clipping by range)
    assert image_phash((base + 10).astype(np.uint8)) == h0
    assert image_phash((base + 40).astype(np.uint8)) == h0
    # integer upscale: block-mean resize recovers the same 32x32
    assert image_phash(base.repeat(2, 0).repeat(2, 1)) == h0
    assert image_phash(base.repeat(3, 0).repeat(3, 1)) == h0
    # grayscale path, odd sizes, tiny images all hash
    image_phash(rng.randint(0, 255, (7, 9)).astype(np.uint8))
    image_phash(rng.randint(0, 255, (33, 65, 3)).astype(np.uint8))
    # a real change flips bits
    mod = base.copy()
    mod[:16] = 255 - mod[:16]
    assert image_phash(mod) != h0
    # spread: independent noise images collide essentially never
    hs = {
        image_phash(rng.randint(20, 200, (32, 32, 3)).astype(np.uint8))
        for _ in range(300)
    }
    assert len(hs) == 300


def test_compute_phash_spark_roundtrip(spark):
    import numpy as np

    from swiftlake_spark.operators.multimodal import (
        compute_phash,
        encode_png,
        image_phash,
    )

    rng = np.random.RandomState(9)
    rows, expect = [], {}
    for i in range(6):
        arr = rng.randint(20, 200, (16, 24, 3)).astype(np.uint8)
        ph = image_phash(arr)
        expect[i] = ph - (1 << 64) if ph >= (1 << 63) else ph
        rows.append((i, bytearray(encode_png(arr))))
    df = spark.createDataFrame(rows, ["id", "data"])
    got = dict(compute_phash(df, "data").select("id", "phash").collect())
    assert got == expect


def test_tiff_extended_variants_roundtrip():
    """r11 native coverage beyond 8-bit chunky strips: 16-bit samples,
    PlanarConfiguration 2, tiled layout, Deflate (8) — every
    combination with both byte orders round-trips bit-exactly (16-bit
    widens v*257 so the decoder's high-byte downscale recovers v)."""
    import numpy as np

    from swiftlake_spark.operators.multimodal import decode_tiff, encode_tiff

    rng = np.random.default_rng(61)
    rgb = rng.integers(0, 256, (13, 19, 3)).astype(np.uint8)
    gray = rng.integers(0, 256, (9, 7)).astype(np.uint8)
    for img in (rgb, gray):
        for comp in ({}, {"lzw": True}, {"deflate": True},
                     {"deflate": True, "predictor": 2},
                     {"lzw": True, "predictor": 2}, {"packbits": True}):
            for bits in (8, 16):
                for planar in (1, 2):
                    for tile in (None, (8, 8), (16, 4)):
                        for be in (False, True):
                            kw = dict(comp, bits=bits, planar=planar,
                                      tile=tile, big_endian=be,
                                      rows_per_strip=4)
                            got = decode_tiff(encode_tiff(img, **kw))
                            assert np.array_equal(got, img), kw
    # edge tiles are zero-padded in the file but cropped on decode
    assert decode_tiff(encode_tiff(rgb, tile=(16, 16))).shape == (13, 19, 3)


def test_tiff_extended_variants_mutation_fuzz():
    """The new decode paths (tiles, planar, 16-bit, deflate) fail
    cleanly under byte mutation — never hang, never return garbage
    dtype, never raise outside the contract set."""
    import random
    import struct
    import time

    import numpy as np

    from swiftlake_spark.operators.multimodal import decode_tiff, encode_tiff

    rng0 = np.random.default_rng(67)
    img = rng0.integers(0, 256, (20, 30, 3)).astype(np.uint8)
    payloads = [
        encode_tiff(img, bits=16, deflate=True, predictor=2),
        encode_tiff(img, planar=2, tile=(16, 8), lzw=True),
        encode_tiff(img, bits=16, planar=2, big_endian=True,
                    rows_per_strip=6),
        encode_tiff(img, tile=(8, 8), deflate=True),
        encode_tiff(img, jpeg=True, rows_per_strip=8),
    ]
    rng = random.Random(71)
    t0 = time.time()
    outcomes = {"ok": 0, "err": 0}
    for _ in range(400):
        data = bytearray(rng.choice(payloads))
        for _m in range(rng.choice((1, 1, 1, 3))):
            data[rng.randrange(4, len(data))] = rng.randrange(256)
        try:
            out = decode_tiff(bytes(data))
            assert out.dtype == np.uint8
            outcomes["ok"] += 1
        except (ValueError, NotImplementedError, IndexError, KeyError,
                struct.error):
            outcomes["err"] += 1
    assert outcomes["ok"] + outcomes["err"] == 400
    assert outcomes["err"] > 40, outcomes
    assert time.time() - t0 < 60


@pytest.mark.skipif(not _has_pil_gif, reason="pillow not installed")
def test_tiff_extended_golden_vs_pil():  # pragma: no cover
    """PIL reads our tiled/planar/16-bit/deflate output; we read PIL's
    deflate output."""
    import io

    import numpy as np
    from PIL import Image

    from swiftlake_spark.operators.multimodal import decode_tiff, encode_tiff

    rng = np.random.default_rng(73)
    img = rng.integers(0, 256, (14, 19, 3)).astype(np.uint8)
    for kw in ({"deflate": True}, {"deflate": True, "predictor": 2},
               {"tile": (16, 16)}, {"bits": 16}):
        ours = encode_tiff(img, **kw)
        theirs = np.asarray(Image.open(io.BytesIO(ours)).convert("RGB"))
        assert np.array_equal(theirs, img), kw
    buf = io.BytesIO()
    Image.fromarray(img).save(buf, format="TIFF", compression="tiff_adobe_deflate")
    assert np.array_equal(decode_tiff(buf.getvalue()), img)


def test_g711_codecs_and_wav_format_matrix():
    """r11 audio floor: manual RIFF parse covers integer PCM
    8/16/24/32, IEEE float 32/64, G.711 A-law/μ-law, and
    WAVE_FORMAT_EXTENSIBLE.  The G.711 pair is pinned by the canonical
    spot values and the encode∘decode fixed-point property over all
    256 bytes."""
    import struct

    import numpy as np

    from swiftlake_spark.operators.multimodal import (
        alaw_decode,
        alaw_encode,
        decode_wav_bytes,
        encode_wav,
        ulaw_decode,
        ulaw_encode,
    )

    b = np.arange(256, dtype=np.uint8)
    ud, ad = ulaw_decode(b), alaw_decode(b)
    # canonical G.711 values (same as audioop's tables)
    assert ud[0x00] == -32124 and ud[0x80] == 32124
    assert ud[0xFF] == 0 and ud[0x7F] == 0
    assert ad[0x55] == -8 and ad[0xD5] == 8
    assert ad.min() == -32256 and ad.max() == 32256
    # encode(decode(b)) == b — μ-law's 0x7F (negative zero) aliases 0xFF
    ue = ulaw_encode(ud)
    assert np.array_equal(ue[b != 0x7F], b[b != 0x7F]) and ue[0x7F] == 0xFF
    assert np.array_equal(alaw_encode(ad), b)

    rate = 8000
    x = (np.sin(np.linspace(0, 20, 400)) * 0.7).astype(np.float32)

    def wav(tag, bits, payload, nch=1, ext=False):
        ba = rate * nch * bits // 8
        if ext:
            fmt = struct.pack("<HHIIHHH", 0xFFFE, nch, rate, ba,
                              nch * bits // 8, bits, 22)
            fmt += struct.pack("<HIH", bits, 1, tag) + b"\x00" * 14
        else:
            fmt = struct.pack("<HHIIHH", tag, nch, rate, ba,
                              nch * bits // 8, bits)
        out = b"RIFF" + struct.pack(
            "<I", 4 + 16 + len(fmt) + len(payload)) + b"WAVE"
        out += b"fmt " + struct.pack("<I", len(fmt)) + fmt
        out += b"data" + struct.pack("<I", len(payload)) + payload
        return out

    r, s = decode_wav_bytes(wav(3, 32, x.tobytes()))
    assert r == rate and np.allclose(s, x, atol=1e-6)
    _, s = decode_wav_bytes(wav(3, 64, x.astype(np.float64).tobytes()))
    assert np.allclose(s, x, atol=1e-6)
    v = np.round(x * 8388607).astype(np.int32)
    b24 = np.zeros((len(v), 3), np.uint8)
    b24[:, 0], b24[:, 1], b24[:, 2] = v & 0xFF, (v >> 8) & 0xFF, (v >> 16) & 0xFF
    _, s = decode_wav_bytes(wav(1, 24, b24.tobytes()))
    assert np.allclose(s, x, atol=2e-7)
    mu = ulaw_encode(np.round(x * 32767).astype(np.int32))
    _, s = decode_wav_bytes(wav(7, 8, mu.tobytes()))
    assert np.abs(s - x).max() < 0.032  # G.711 segment quantization
    al = alaw_encode(np.round(x * 32767).astype(np.int32))
    _, s = decode_wav_bytes(wav(6, 8, np.repeat(al, 2).tobytes(),
                                nch=2, ext=True))
    assert len(s) == len(x) and np.abs(s - x).max() < 0.032
    # stdlib-encoded PCM still decodes through the manual parser
    r, s = decode_wav_bytes(encode_wav(x, rate))
    assert r == rate and np.abs(s - x).max() < 1e-4
    # compressed formats refuse with a clear error
    with pytest.raises(ValueError, match="format tag 2"):
        decode_wav_bytes(wav(2, 4, b"\x00" * 100))
    with pytest.raises(ValueError, match="RIFF"):
        decode_wav_bytes(b"garbage")


def test_aiff_decode_and_audio_dispatch():
    """r11: AIFF/AIFF-C joins the audio floor — big-endian PCM
    8(signed)/16/24/32, 'sowt' little-endian, G.711 'ulaw'/'alaw',
    'fl32'/'fl64', 80-bit extended sample rates — and
    decode_audio_bytes dispatches WAV vs AIFF on magic bytes."""
    import math
    import struct

    import numpy as np

    from swiftlake_spark.operators.multimodal import (
        alaw_encode,
        decode_aiff_bytes,
        decode_audio_bytes,
        encode_wav,
        ulaw_encode,
    )

    def f80(x):
        m, e = math.frexp(x)
        return struct.pack(">HQ", (e - 1) + 16383, int(m * (1 << 64)))

    def aiff(ctype, bits, payload, nch=1, rate=8000):
        comm = struct.pack(
            ">hIh", nch, len(payload) // (nch * max(bits // 8, 1)), bits
        ) + f80(rate)
        form = b"AIFF"
        if ctype != b"PLAIN":
            comm += ctype + b"\x00\x00"
            form = b"AIFC"
        ssnd = struct.pack(">II", 0, 0) + payload
        out = b"FORM" + struct.pack(
            ">I", 4 + 16 + len(comm) + len(ssnd)) + form
        out += b"COMM" + struct.pack(">I", len(comm)) + comm
        out += b"SSND" + struct.pack(">I", len(ssnd)) + ssnd
        return out

    x = (np.sin(np.linspace(0, 20, 400)) * 0.7).astype(np.float32)
    v16 = np.round(x * 32767).astype(">i2")
    r, s = decode_aiff_bytes(aiff(b"PLAIN", 16, v16.tobytes()))
    assert r == 8000 and np.abs(s - x).max() < 1e-4
    _, s = decode_aiff_bytes(
        aiff(b"sowt", 16, np.round(x * 32767).astype("<i2").tobytes()))
    assert np.abs(s - x).max() < 1e-4
    _, s = decode_aiff_bytes(
        aiff(b"PLAIN", 8, np.round(x * 127).astype(np.int8).tobytes()))
    assert np.abs(s - x).max() < 0.01  # AIFF 8-bit is signed
    v = np.round(x * 8388607).astype(np.int32)
    b24 = np.zeros((len(v), 3), np.uint8)
    b24[:, 0], b24[:, 1], b24[:, 2] = (v >> 16) & 0xFF, (v >> 8) & 0xFF, v & 0xFF
    _, s = decode_aiff_bytes(aiff(b"PLAIN", 24, b24.tobytes()))
    assert np.allclose(s, x, atol=2e-7)
    _, s = decode_aiff_bytes(aiff(b"fl32", 32, x.astype(">f4").tobytes()))
    assert np.allclose(s, x, atol=1e-7)
    mu = ulaw_encode(np.round(x * 32767).astype(np.int32))
    _, s = decode_aiff_bytes(
        aiff(b"ulaw", 8, np.repeat(mu, 2).tobytes(), nch=2))
    assert len(s) == len(x) and np.abs(s - x).max() < 0.032
    al = alaw_encode(np.round(x * 32767).astype(np.int32))
    _, s = decode_aiff_bytes(aiff(b"alaw", 8, al.tobytes()))
    assert np.abs(s - x).max() < 0.032
    r, _ = decode_aiff_bytes(aiff(b"PLAIN", 16, v16.tobytes(), rate=44100))
    assert r == 44100  # 80-bit extended float rate
    # magic-byte dispatch
    assert decode_audio_bytes(encode_wav(x, 8000))[0] == 8000
    assert decode_audio_bytes(aiff(b"PLAIN", 16, v16.tobytes()))[0] == 8000
    with pytest.raises(ValueError, match="audio container"):
        decode_audio_bytes(b"ID3\x04junkjunkjunk")
    with pytest.raises(ValueError, match="ima4"):
        decode_aiff_bytes(aiff(b"ima4", 16, b"\x00" * 64))


def test_audio_mutation_fuzz_fails_cleanly():
    """WAV + AIFF parsers under byte mutation: decode returns a valid
    (rate, float32) pair or raises inside the contract set — never
    hangs, never OverflowErrors on absurd 80-bit rates."""
    import math
    import random
    import struct
    import time

    import numpy as np

    from swiftlake_spark.operators.multimodal import (
        decode_audio_bytes,
        encode_wav,
        ulaw_encode,
    )

    def f80(x):
        m, e = math.frexp(x)
        return struct.pack(">HQ", (e - 1) + 16383, int(m * (1 << 64)))

    x = (np.sin(np.linspace(0, 9, 300)) * 0.6).astype(np.float32)
    comm = struct.pack(">hIh", 1, 300, 16) + f80(8000)
    ssnd = struct.pack(">II", 0, 0) + np.round(x * 32767).astype(">i2").tobytes()
    aiff = (b"FORM" + struct.pack(">I", 4 + 16 + len(comm) + len(ssnd))
            + b"AIFF" + b"COMM" + struct.pack(">I", len(comm)) + comm
            + b"SSND" + struct.pack(">I", len(ssnd)) + ssnd)
    mu = ulaw_encode(np.round(x * 32767).astype(np.int32)).tobytes()
    fmt = struct.pack("<HHIIHH", 7, 1, 8000, 8000, 1, 8)
    wav_mu = (b"RIFF" + struct.pack("<I", 4 + 16 + 16 + len(mu)) + b"WAVE"
              + b"fmt " + struct.pack("<I", len(fmt)) + fmt
              + b"data" + struct.pack("<I", len(mu)) + mu)
    payloads = [encode_wav(x, 8000), aiff, wav_mu]
    rng = random.Random(97)
    t0 = time.time()
    outcomes = {"ok": 0, "err": 0}
    for _ in range(400):
        data = bytearray(rng.choice(payloads))
        for _m in range(rng.choice((1, 1, 3))):
            data[rng.randrange(0, len(data))] = rng.randrange(256)
        try:
            rate, s = decode_audio_bytes(bytes(data))
            assert rate >= 1 and s.dtype == np.float32
            outcomes["ok"] += 1
        except (ValueError, struct.error, EOFError):
            outcomes["err"] += 1
    assert outcomes["ok"] + outcomes["err"] == 400
    # audio payloads are mostly raw samples, so most mutations decode
    # fine — but header hits must error cleanly, and some always do
    assert outcomes["err"] > 10, outcomes
    assert time.time() - t0 < 60


def test_avi_mjpeg_video_sampling(spark):
    """r11 video leg: AVI/MJPG containers decode through the native
    JPEG codec with fps read from the container header (the fps param
    only governs headerless PPM streams)."""
    import numpy as np

    from swiftlake_spark.operators.multimodal import (
        decode_avi_frames,
        decode_video_stream,
        encode_avi_mjpeg,
        sample_frames,
    )

    yy, xx = np.mgrid[0:16, 0:24]
    mk = lambda i: np.stack(  # noqa: E731
        [(yy * 3 + xx * 2 + i * 7) % 256, (yy * 5 + i) % 256,
         (xx * 7) % 256], -1).astype(np.uint8)
    clips = []
    for i, (n, fps) in enumerate(((20, 10), (30, 15))):
        clips.append((i, bytearray(encode_avi_mjpeg(
            [mk(i * 100 + k) for k in range(n)], fps=fps, quality=100))))

    fps, payloads = decode_avi_frames(bytes(clips[0][1]))
    assert fps == 10.0 and len(payloads) == 20
    _, frames = decode_video_stream(bytes(clips[0][1]))
    assert np.abs(frames[0].astype(int) - mk(0).astype(int)).max() <= 3

    d = spark.createDataFrame(clips, "id bigint, data binary")
    # 1000 ms at CONTAINER fps: every 10th of 20 → 2; every 15th of 30 → 2
    out = {r["id"]: r["frames"] for r in
           sample_frames(d, "data", every_ms=1000, fps=99.0).collect()}
    assert len(out[0]) == 2 and len(out[1]) == 2
    assert out[0][0][0] == 24.0 and out[0][0][1] == 16.0  # true w/h


def test_avi_mutation_fuzz_fails_cleanly():
    import random
    import struct
    import time

    import numpy as np

    from swiftlake_spark.operators.multimodal import (
        decode_video_stream,
        encode_avi_mjpeg,
    )

    rng0 = np.random.default_rng(101)
    frames = [rng0.integers(0, 256, (12, 16, 3)).astype(np.uint8)
              for _ in range(3)]
    payload = encode_avi_mjpeg(frames, fps=12)
    rng = random.Random(103)
    t0 = time.time()
    outcomes = {"ok": 0, "err": 0}
    for _ in range(300):
        data = bytearray(payload)
        for _m in range(rng.choice((1, 1, 3))):
            data[rng.randrange(0, len(data))] = rng.randrange(256)
        try:
            fps, fs = decode_video_stream(bytes(data))
            assert fps > 0 and all(f.dtype == np.uint8 for f in fs)
            outcomes["ok"] += 1
        except (ValueError, NotImplementedError, IndexError, KeyError,
                struct.error):
            outcomes["err"] += 1
    assert outcomes["ok"] + outcomes["err"] == 300
    assert outcomes["err"] > 20, outcomes
    assert time.time() - t0 < 90


def test_y4m_roundtrip_and_sampling(spark):
    """r11 video leg 2: YUV4MPEG2 — Cmono round-trips bit-exactly,
    C444 within ±1 of the BT.601 matrix, C420jpeg replicates chroma;
    frame sampling skips frames by pointer arithmetic (step param) and
    sample_frames reads fps from the stream header."""
    import numpy as np

    from swiftlake_spark.operators.multimodal import (
        decode_video_stream,
        decode_y4m,
        encode_y4m,
        sample_frames,
    )

    rng = np.random.default_rng(5)
    g = [rng.integers(0, 256, (12, 16), dtype=np.uint8)
         for _ in range(6)]
    enc = encode_y4m(g, fps=30)
    fps, dec = decode_y4m(enc)
    assert fps == 30.0 and all((a == b).all() for a, b in zip(dec, g))

    c = [rng.integers(0, 256, (10, 14, 3), dtype=np.uint8)
         for _ in range(4)]
    fps, dec = decode_y4m(encode_y4m(c, fps=12))
    assert fps == 12.0
    assert max(np.abs(a.astype(int) - b.astype(int)).max()
               for a, b in zip(dec, c)) <= 1

    flat = [np.full((8, 8, 3), (200, 30, 90), np.uint8)
            for _ in range(3)]
    fps, dec = decode_y4m(encode_y4m(flat, colorspace="C420jpeg"))
    assert max(np.abs(a.astype(int) - b.astype(int)).max()
               for a, b in zip(dec, flat)) <= 1

    # step sampling keeps exactly every step-th frame
    fps, dec2 = decode_y4m(encode_y4m(g), step=2)
    assert len(dec2) == 3 and (dec2[1] == g[2]).all()

    fps, dd = decode_video_stream(encode_y4m(g))
    assert len(dd) == 6

    # via the Spark operator: 1000 ms at 30 fps over 6 frames → 1
    # kept frame... wait, stride = 30 → every 30th → frame 0 only;
    # at 10 fps, stride 10 → frame 0; use 100 ms: stride 3 → 2 kept
    d = spark.createDataFrame(
        [(0, bytearray(encode_y4m(g, fps=30)))], "id bigint, data binary")
    out = sample_frames(d, "data", every_ms=100, fps=99.0).collect()
    assert len(out[0]["frames"]) == 2  # frames 0 and 3
    assert out[0]["frames"][0][0] == 16.0  # width from the header


def test_y4m_mutation_fuzz_fails_cleanly():
    import random
    import time

    import numpy as np

    from swiftlake_spark.operators.multimodal import (
        decode_video_stream,
        encode_y4m,
    )

    rng0 = np.random.default_rng(107)
    frames = [rng0.integers(0, 256, (8, 12, 3)).astype(np.uint8)
              for _ in range(3)]
    payload = encode_y4m(frames, fps=10)
    rng = random.Random(109)
    t0 = time.time()
    n = 0
    for _ in range(300):
        data = bytearray(payload)
        mode = n % 3
        if mode == 0:
            for _m in range(rng.choice((1, 3))):
                data[rng.randrange(0, len(data))] = rng.randrange(256)
        elif mode == 1:
            data = data[: rng.randrange(4, len(data))]
        else:  # header-targeted: the parse path, not just plane data
            data[rng.randrange(0, 30)] = rng.randrange(256)
        try:
            fps, fs = decode_video_stream(bytes(data))
            assert fps > 0 and all(f.dtype == np.uint8 for f in fs)
        except (ValueError, NotImplementedError):
            pass
        n += 1
    assert n == 300
    assert time.time() - t0 < 60


def test_tiff_property_roundtrip_random_variants():
    """Property: any uint8 image round-trips bit-exactly through any
    combination of TIFF layout (strips/tiles), planar config, sample
    depth, byte order and compression."""
    import numpy as np
    from hypothesis import given, settings, strategies as st

    from swiftlake_spark.operators.multimodal import decode_tiff, encode_tiff

    @settings(max_examples=40, deadline=None)
    @given(
        h=st.integers(1, 33), w=st.integers(1, 33),
        seed=st.integers(0, 2**31 - 1),
        gray=st.booleans(),
        comp=st.sampled_from(["none", "lzw", "lzw2", "deflate2", "packbits"]),
        bits=st.sampled_from([8, 16]),
        planar=st.sampled_from([1, 2]),
        tile=st.sampled_from([None, (8, 8), (16, 4)]),
        be=st.booleans(),
        rps=st.sampled_from([None, 1, 5]),
    )
    def check(h, w, seed, gray, comp, bits, planar, tile, be, rps):
        rng = np.random.default_rng(seed)
        img = rng.integers(0, 256, (h, w) if gray else (h, w, 3)).astype(
            np.uint8)
        payload = encode_tiff(
            img, lzw=comp.startswith("lzw"), deflate=comp == "deflate2",
            packbits=comp == "packbits",
            predictor=2 if comp in ("lzw2", "deflate2") else 1,
            bits=bits, planar=planar, tile=tile, big_endian=be,
            rows_per_strip=rps)
        assert np.array_equal(decode_tiff(payload), img)

    check()


def test_tiff_jpeg_in_tiff_roundtrip():
    """r11: new-style JPEG-in-TIFF (compression 7) decodes natively —
    self-contained strips/tiles and the shared-JPEGTables (tag 347)
    abbreviated form, gray and RGB, either byte order."""
    import struct

    import numpy as np

    from swiftlake_spark.operators.multimodal import (
        decode_image_bytes,
        decode_tiff,
        encode_tiff,
    )

    yy, xx = np.mgrid[0:21, 0:37]
    rgb = np.stack([(yy * 3 + xx * 2) % 256, (yy * 5) % 256,
                    (xx * 7) % 256], -1).astype(np.uint8)
    gray = ((yy * 7 + xx) % 256).astype(np.uint8)
    for im in (rgb, gray):
        for kw in ({}, {"rows_per_strip": 8}, {"tile": (16, 16)},
                   {"big_endian": True}):
            got = decode_tiff(encode_tiff(im, jpeg=True, jpeg_quality=100,
                                          **kw))
            assert np.abs(got.astype(int) - im.astype(int)).max() <= 3, kw
    assert decode_image_bytes(encode_tiff(rgb, jpeg=True)).shape == rgb.shape

    # JPEGTables path: split the strip JPEG's DQT/DHT into a tag-347
    # blob (SOI..EOI) and leave an abbreviated frame in the strip
    p = encode_tiff(gray, jpeg=True, jpeg_quality=100)
    (ifd,) = struct.unpack_from("<I", p, 4)
    (n,) = struct.unpack_from("<H", p, ifd)
    tv = {}
    for k in range(n):
        off = ifd + 2 + 12 * k
        tag, typ, cnt = struct.unpack_from("<HHI", p, off)
        fmt = {3: "H", 4: "I"}[typ]
        if struct.calcsize(fmt) * cnt <= 4:
            tv[tag] = struct.unpack_from("<" + fmt * cnt, p, off + 8)[0]
        else:
            (vo,) = struct.unpack_from("<I", p, off + 8)
            tv[tag] = struct.unpack_from("<" + fmt * cnt, p, vo)[0]
    jpg = p[tv[273]: tv[273] + tv[279]]
    pos, tables, frame = 2, b"", b"\xff\xd8"
    while pos < len(jpg):
        m = jpg[pos + 1]
        if m == 0xDA:
            frame += jpg[pos:]
            break
        (ln,) = struct.unpack_from(">H", jpg, pos + 2)
        seg = jpg[pos: pos + 2 + ln]
        if m in (0xDB, 0xC4):
            tables += seg
        else:
            frame += seg
        pos += 2 + ln
    blob = b"\xff\xd8" + tables + b"\xff\xd9"

    def ent(entries, extra, base, tag, typ, vals):
        fmt = {3: "H", 4: "I", 7: "B"}[typ]
        szb = struct.calcsize(fmt) * len(vals)
        if szb <= 4:
            raw = struct.pack("<" + fmt * len(vals), *vals)
            entries.append((tag, typ, len(vals), raw + b"\x00" * (4 - szb)))
        else:
            entries.append((tag, typ, len(vals),
                            base + len(extra)))
            extra += struct.pack("<" + fmt * len(vals), *vals)
            if len(extra) % 2:
                extra += b"\x00"

    entries, extra = [], bytearray()
    nent = 10
    base = 8 + 2 + 12 * nent + 4
    for tag, typ, vals in ((256, 4, [37]), (257, 4, [21]), (258, 3, [8]),
                           (259, 3, [7]), (262, 3, [1]), (277, 3, [1]),
                           (278, 4, [21]), (279, 4, [len(frame)]),
                           (347, 7, list(blob))):
        ent(entries, extra, base, tag, typ, vals)
    entries.append((273, 4, 1, base + len(extra)))  # strip offset
    assert len(entries) == nent
    entries.sort(key=lambda e: e[0])
    out = bytearray(b"II*\x00" + struct.pack("<I", 8)
                    + struct.pack("<H", nent))
    for tag, typ, cnt, v in entries:
        out += struct.pack("<HHI", tag, typ, cnt)
        out += v if isinstance(v, bytes) else struct.pack("<I", v)
    out += struct.pack("<I", 0) + extra + frame
    got = decode_tiff(bytes(out))
    assert np.abs(got.astype(int) - gray.astype(int)).max() <= 3


def test_tiff_old_style_jpeg_tag_513():
    """r11 session 2: old-style JPEG-in-TIFF (compression 6) — the
    common writer layout stores one complete JFIF stream at tag 513
    (JPEGInterchangeFormat); decode it natively and crop to the page.
    Without 513 AND without the r12 table tags (519-521) the payload
    still raises to the seam."""
    import struct

    import numpy as np

    from swiftlake_spark.operators.jpeg import decode_jpeg, encode_jpeg
    from swiftlake_spark.operators.multimodal import decode_tiff

    yy, xx = np.mgrid[0:18, 0:26]
    rgb = np.stack([(yy * 5 + xx) % 256, (xx * 3) % 256,
                    (yy * 2 + xx * 4) % 256], -1).astype(np.uint8)
    jfif = encode_jpeg(rgb, quality=100)

    def build(with_513: bool) -> bytes:
        tags = [(256, 4, 26), (257, 4, 18), (258, 3, 8), (259, 3, 6),
                (262, 3, 6), (277, 3, 3)]
        if with_513:
            tags += [(513, 4, None), (514, 4, len(jfif))]
        tags.sort(key=lambda t: t[0])
        nent = len(tags)
        data_off = 8 + 2 + 12 * nent + 4
        out = bytearray(b"II*\x00" + struct.pack("<I", 8)
                        + struct.pack("<H", nent))
        for tag, typ, val in tags:
            if val is None:
                val = data_off  # JPEG stream right after the IFD
            out += struct.pack("<HHI", tag, typ, 1)
            out += struct.pack("<I", val) if typ == 4 \
                else struct.pack("<HH", val, 0)
        out += struct.pack("<I", 0) + jfif
        return bytes(out)

    got = decode_tiff(build(True))
    assert np.array_equal(got, decode_jpeg(jfif))

    import pytest

    with pytest.raises(NotImplementedError, match="519-521"):
        decode_tiff(build(False))


def test_tiff_subbyte_depths_roundtrip():
    """r11: 1/2/4-bit TIFF (bilevel / paletted scanned documents) —
    gray round-trips exactly on the level lattice across compressions,
    byte orders and row-padded odd widths; a hand-built 4-bit palette
    fixture expands through the ColorMap."""
    import struct

    import numpy as np

    from swiftlake_spark.operators.multimodal import decode_tiff, encode_tiff

    rng = np.random.default_rng(9)
    for bps in (1, 2, 4):
        maxv = (1 << bps) - 1
        levels = (np.arange(maxv + 1) * 255 // maxv).astype(np.uint8)
        img = levels[rng.integers(0, maxv + 1, (13, 29))]
        for comp in ({}, {"lzw": True}, {"deflate": True},
                     {"packbits": True}):
            for rps in (None, 3):
                got = decode_tiff(encode_tiff(
                    img, bits=bps, rows_per_strip=rps, **comp))
                assert np.array_equal(got, img), (bps, comp, rps)

    # 4-bit palette: indices 0..15 → ColorMap rows (16-bit entries)
    idx = rng.integers(0, 16, (5, 9)).astype(np.uint8)
    row_bytes = (9 * 4 + 7) // 8
    raw = bytearray()
    for r in range(5):
        row = np.packbits((idx[r][:, None] >> np.arange(3, -1, -1) & 1)
                          .reshape(-1))
        raw += row.tobytes()[:row_bytes].ljust(row_bytes, b"\x00")
    cmap = []
    for ch in range(3):
        cmap += [((i * 17) << 8 | (ch * 5)) & 0xFFFF for i in range(16)]

    entries, extra = [], bytearray()
    nent = 10
    base = 8 + 2 + 12 * nent + 4

    def ent(tag, typ, vals):
        fmt = {3: "H", 4: "I"}[typ]
        szb = struct.calcsize(fmt) * len(vals)
        if szb <= 4:
            entries.append((tag, typ, len(vals),
                            struct.pack("<" + fmt * len(vals), *vals)
                            + b"\x00" * (4 - szb)))
        else:
            entries.append((tag, typ, len(vals), base + len(extra)))
            extra.extend(struct.pack("<" + fmt * len(vals), *vals))

    ent(256, 4, [9])
    ent(257, 4, [5])
    ent(258, 3, [4])
    ent(259, 3, [1])
    ent(262, 3, [3])  # palette
    ent(277, 3, [1])
    ent(278, 4, [5])
    ent(279, 4, [len(raw)])
    ent(320, 3, cmap)
    entries.append((273, 4, 1, base + len(extra)))
    assert len(entries) == nent
    entries.sort(key=lambda e: e[0])
    out = bytearray(b"II*\x00" + struct.pack("<I", 8)
                    + struct.pack("<H", nent))
    for tag, typ, cnt, v in entries:
        out += struct.pack("<HHI", tag, typ, cnt)
        out += v if isinstance(v, bytes) else struct.pack("<I", v)
    out += struct.pack("<I", 0) + extra + raw
    got = decode_tiff(bytes(out))
    # ColorMap entries: high byte of ((i*17)<<8 | ch*5) is i*17 in
    # every channel (the low byte is truncated by the >>8 downscale)
    exp = np.repeat((idx * 17)[:, :, None], 3, axis=2)
    assert np.array_equal(got, exp.astype(np.uint8))


def test_bloom_membership_properties(spark):
    """r12 bloom pre-filter: zero false negatives by construction,
    false positives bounded, the set-bits relation bounded by m rows,
    and the whole plan pure JVM (no Python eval)."""
    from swiftlake_spark.operators.dedup import (
        bloom_membership,
        bloom_positions,
    )
    from pyspark.sql import functions as F

    corpus = spark.createDataFrame(
        [(i, f"member-{i:05d}") for i in range(400)], "id bigint, v string")
    probe = spark.createDataFrame(
        [(i, f"member-{i:05d}" if i < 400 else f"other-{i:05d}")
         for i in range(2000)], "id bigint, v string")
    out = bloom_membership(corpus, probe, "v", "id")
    rows = {r["id"]: r["might_contain"] for r in out.collect()}
    assert all(rows[i] for i in range(400)), "false negative!"
    fp = sum(1 for i in range(400, 2000) if rows[i])
    # m=65536, k=5, n=400 -> theoretical FP ~ 5e-8; allow slack
    assert fp <= 2, fp

    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan and "InPandas" not in plan

    # duplicate positions within one value still count k hits (the
    # semi-join keeps each exploded row independently)
    dup = spark.createDataFrame([(1, "x")], "id bigint, v string")
    got = bloom_membership(dup, dup, "v", "id").collect()[0]
    assert got["might_contain"] is True

    # duplicate KEYS with different values flag per-VALUE (ADVICE r12:
    # the per-key groupBy merged hit counts across values sharing a
    # key, corrupting both rows' flags)
    dup_keys = spark.createDataFrame(
        [(1, "member-00001"), (1, "zz-not-in-corpus"), (2, "member-00002")],
        "id bigint, v string",
    )
    per_value = {
        r["v"]: r["might_contain"]
        for r in bloom_membership(corpus, dup_keys, "v", "id").collect()
    }
    assert per_value["member-00001"] is True
    assert per_value["member-00002"] is True
    assert per_value["zz-not-in-corpus"] is False

    # a probe that ALREADY has the out_col is replaced, not joined into
    # an ambiguous duplicate (ADVICE r13: the flag join used the public
    # name, so coalesce(out_col) raised AnalysisException)
    pre_flagged = probe.withColumn("might_contain", F.lit(True))
    rows2 = {r["id"]: r["might_contain"]
             for r in bloom_membership(corpus, pre_flagged, "v", "id").collect()}
    assert all(rows2[i] for i in range(400))
    assert sum(1 for i in range(400, 2000) if rows2[i]) <= 2

    # parameter validation
    import pytest as _pt

    with _pt.raises(ValueError):
        bloom_positions(F.col("v"), k=40, bits_per_pos=16)
    with _pt.raises(ValueError):
        bloom_positions(F.col("v"), k=2, bits_per_pos=13)


def test_count_min_frequencies_properties(spark):
    """r13 count-min sketch: never undercounts, exact when the counter
    space dwarfs the vocabulary, collision-inflated but still one-sided
    when undersized, bounded counter relation, pure-JVM plan."""
    from pyspark.sql import functions as F

    from swiftlake_spark.operators.sketches import (
        cm_positions,
        count_min_frequencies,
    )

    # planted frequencies: token i appears (i + 1) times, i in 0..29
    rows = [(f"tok-{i:03d}",) for i in range(30) for _ in range(i + 1)]
    corpus = spark.createDataFrame(rows, "tok string")
    probe = spark.createDataFrame(
        [(f"tok-{i:03d}",) for i in range(30)]
        + [(f"absent-{i}",) for i in range(5)],
        "tok string",
    )
    true_n = {f"tok-{i:03d}": i + 1 for i in range(30)}

    # wide sketch (d=4, w=65536): no collisions possible to matter here
    wide = count_min_frequencies(
        corpus, probe, "tok", bits_per_pos=16, out_col="est")
    got = {r["tok"]: r["est"] for r in wide.collect()}
    assert all(got[t] == n for t, n in true_n.items()), got
    assert all(got[f"absent-{i}"] == 0 for i in range(5))

    # undersized sketch (d=4, w=16): collisions inflate, never deflate
    narrow = count_min_frequencies(
        corpus, probe, "tok", bits_per_pos=4, out_col="est")
    gotn = {r["tok"]: r["est"] for r in narrow.collect()}
    assert all(gotn[t] >= n for t, n in true_n.items()), gotn
    assert any(gotn[t] > n for t, n in true_n.items()), (
        "w=16 with 35 keys must collide somewhere")

    # the counter relation is bounded by d * w regardless of corpus size
    counters = corpus.select(
        F.posexplode(cm_positions(F.col("tok"), 4, 4)).alias("r", "p")
    ).groupBy("r", "p").count()
    assert counters.count() <= 4 * 16

    plan = narrow._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan and "InPandas" not in plan

    import pytest as _pt

    with _pt.raises(ValueError):
        cm_positions(F.col("tok"), d=40, bits_per_pos=16)
    with _pt.raises(ValueError):
        cm_positions(F.col("tok"), d=2, bits_per_pos=13)


def test_normalize_for_dedup_edges(spark):
    """r12 normalization: empty / all-punct / digit-run / mixed-case
    edge shapes, and the canonical property that cosmetic variants
    collapse while content differences survive."""
    from swiftlake_spark.operators.text import normalize_for_dedup
    from pyspark.sql import functions as F

    rows = [
        (0, "Hello,   World!!"),
        (1, "hello world"),
        (2, ",,,;;;!!!"),
        (3, ""),
        (4, "v1.2.3 build 2024-01-05"),
        (5, "V1.2.3  BUILD  2024-01-05"),
        (6, "different content"),
        (7, "tabs\tand\nnewlines  here"),
    ]
    df = spark.createDataFrame(rows, "id bigint, t string")
    out = {r["id"]: r["n"] for r in df.select(
        "id", normalize_for_dedup(F.col("t")).alias("n")).collect()}
    assert out[0] == out[1] == "hello world"
    assert out[2] == "" and out[3] == ""
    # digit runs fold BEFORE punctuation strips, so dotted/dashed
    # number groups collapse together ("1.2.3" ≡ "123" — deliberately
    # aggressive for dedup canonicalization)
    assert out[4] == out[5] == "v000 build 000"
    assert out[6] == "different content"
    assert out[7] == "tabs and newlines here"
    plan = df.select(normalize_for_dedup(F.col("t")))._jdf \
        .queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan and "InPandas" not in plan


def test_tiff_old_style_jpeg_table_tags():
    """r12: the per-strip old-style JPEG-in-TIFF layout (raw entropy
    strips + quant/Huffman tables behind tags 519/520/521 + tag-530
    subsampling) decodes natively across strip sizes, subsamplings,
    byte orders and gray/color.  r13 closes the last named TIFF seam:
    old-style LOSSLESS (JPEGProc 14 — SOF3 strips, tags 517/518/520)
    decodes natively and BIT-EXACTLY."""
    import numpy as np
    import pytest

    from swiftlake_spark.operators.multimodal import (
        decode_tiff,
        encode_tiff_oldjpeg,
    )

    yy, xx = np.mgrid[0:40, 0:56]
    rgb = np.stack([np.clip(30 + yy * 2 + xx, 0, 255),
                    np.clip(200 - yy, 0, 255),
                    np.clip(xx * 3, 0, 255)], -1).astype(np.uint8)
    for kw in ({}, {"rows_per_strip": 16}, {"subsampling": "4:2:0"},
               {"big_endian": True, "rows_per_strip": 16},
               {"subsampling": "4:2:0", "rows_per_strip": 16}):
        t = encode_tiff_oldjpeg(rgb, quality=92, **kw)
        got = decode_tiff(t)
        assert got.shape == rgb.shape, kw
        tol = 2.0 if kw.get("subsampling") == "4:2:0" else 1.2
        err = np.abs(got.astype(int) - rgb.astype(int)).mean()
        assert err < tol, (kw, err)

    # gray path + smooth gradient quantizes exactly at this quality
    g = np.clip(50 + yy * 3, 0, 255).astype(np.uint8)
    got = decode_tiff(encode_tiff_oldjpeg(g, rows_per_strip=24))
    assert np.array_equal(got, g)

    # JPEGProc 14 (old-style LOSSLESS, r13): SOF3 entropy strips with
    # DC tables behind tag 520 and predictor/point-transform tags
    # 517/518 — rewrap must be BIT-EXACT (there is no quantization)
    for kw in ({}, {"rows_per_strip": 16}, {"big_endian": True},
               {"predictor": 1}, {"predictor": 7, "rows_per_strip": 8}):
        for img in (rgb, g):
            t = encode_tiff_oldjpeg(img, lossless=True, **kw)
            assert np.array_equal(decode_tiff(t), img), kw

    # unsupported JPEGProc values still raise to the seam
    t = bytearray(encode_tiff_oldjpeg(g))
    import struct as _s
    nent = _s.unpack_from("<H", t, 8)[0]
    for k in range(nent):
        off = 10 + 12 * k
        if _s.unpack_from("<H", t, off)[0] == 512:
            t[off + 8: off + 10] = _s.pack("<H", 3)
    with pytest.raises(NotImplementedError, match="JPEGProc 3"):
        decode_tiff(bytes(t))

    # per-component predictor disagreement raises (one scan = one Ss)
    t = bytearray(encode_tiff_oldjpeg(rgb, lossless=True))
    nent = _s.unpack_from("<H", t, 8)[0]
    for k in range(nent):
        off = 10 + 12 * k
        if _s.unpack_from("<H", t, off)[0] == 517:
            voff = _s.unpack_from("<I", t, off + 8)[0]
            t[voff: voff + 2] = _s.pack("<H", 2)  # comp-0 predictor differs
    with pytest.raises(NotImplementedError, match="predictors"):
        decode_tiff(bytes(t))

    # proc-14 photometric outside gray(1)/RGB(2) routes to the seam —
    # the lossless codec applies no color transform, so a YCbCr (6) or
    # white-is-zero (0) tag would otherwise return raw coded planes
    # (ADVICE r13)
    for bad_phot in (6, 0):
        t = bytearray(encode_tiff_oldjpeg(rgb, lossless=True))
        nent = _s.unpack_from("<H", t, 8)[0]
        for k in range(nent):
            off = 10 + 12 * k
            if _s.unpack_from("<H", t, off)[0] == 262:
                t[off + 8: off + 10] = _s.pack("<H", bad_phot)
        with pytest.raises(NotImplementedError, match="photometric"):
            decode_tiff(bytes(t))

    # multi-strip proc-14 without StripByteCounts rejects instead of
    # letting every strip slice run to EOF (ADVICE r13): retag 279 to
    # an unknown id so the reader sees it as absent
    t = bytearray(encode_tiff_oldjpeg(rgb, lossless=True,
                                      rows_per_strip=16))
    nent = _s.unpack_from("<H", t, 8)[0]
    for k in range(nent):
        off = 10 + 12 * k
        if _s.unpack_from("<H", t, off)[0] == 279:
            t[off: off + 2] = _s.pack("<H", 32999)
    with pytest.raises(ValueError, match="StripByteCounts"):
        decode_tiff(bytes(t))


def test_tiff_old_style_jpeg_table_mutation_fuzz():
    """Bit flips / truncations over the per-strip old-style layout
    decode or raise ValueError/NotImplementedError — never crash."""
    import numpy as np

    from swiftlake_spark.operators.multimodal import (
        decode_tiff,
        encode_tiff_oldjpeg,
    )

    rng = np.random.default_rng(61)
    yy, xx = np.mgrid[0:24, 0:32]
    img = np.stack([np.clip(40 + yy * 3, 0, 255)] * 3, -1).astype(np.uint8)
    n = 0
    for base in (encode_tiff_oldjpeg(img, rows_per_strip=8),
                 encode_tiff_oldjpeg(img, rows_per_strip=8,
                                     lossless=True)):
        for k in range(200):
            b = bytearray(base)
            if k % 2:
                b[int(rng.integers(0, len(b)))] ^= \
                    1 << int(rng.integers(0, 8))
            else:
                b = b[: int(rng.integers(8, len(b)))]
            try:
                out = decode_tiff(bytes(b))
                assert out.dtype == np.uint8
            except (ValueError, NotImplementedError):
                pass
            n += 1
    assert n == 400

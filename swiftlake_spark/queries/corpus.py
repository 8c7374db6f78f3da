"""Corpus-pipeline operators, round 9: substring-span dedup, retrieval
scoring (BM25 / TF-IDF), DSIR-style importance weights, edit-distance
near-dup, stratified sampling.

These extend the training-data surface of ``queries/llm.py`` with the
remaining operators a 100 TB pipeline runs between crawl and training:
span-level (not just document-level) dedup, per-document selection
weights against a target distribution, retrieval scoring for corpus
search, and reproducible stratified subsamples.  Reusable operator APIs
live in ``swiftlake_spark.operators``; the queries here are the
oracle-certified entry points.

Float determinism (FIXTURES.md §4): no transcendentals anywhere — BM25
and DSIR use rational (odds-ratio) variants so every step is IEEE
+,-,*,/ which is exactly specified; double literals in the oracles are
CAST(... AS DOUBLE) because bare ``0.5`` parses as DECIMAL in DuckDB
and decimal arithmetic rounds differently than IEEE; per-term/token
contributions route through DECIMAL(28,10) before order-dependent sums.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from swiftlake_spark.artifacts import registry, storage_level_from_env
from swiftlake_spark.queries import query
from swiftlake_spark.queries.base import load


# --------------------------------------------------------------------------
# q123 — substring-span dedup: maximal cross-document duplicated 8-gram
# spans per doc (the suffix-array-dedup analogue, Spark-first: gram-hash
# shuffle + per-doc gaps-and-islands window; no global suffix sort).
# --------------------------------------------------------------------------
@query(
    "q123_span_dedup",
    oracle=r"""
WITH words AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
), grams AS (
  SELECT doc_id, i AS pos, md5(array_to_string(w[i:i+7], ' ')) AS gh,
         LEN(w) AS n_tokens
  FROM words, UNNEST(generate_series(1, GREATEST(LEN(w) - 7, 0))) AS t(i)
), dup AS (
  SELECT gh FROM grams GROUP BY gh HAVING COUNT(DISTINCT doc_id) >= 2
), hits AS (
  SELECT g.doc_id, g.pos, g.n_tokens FROM grams g JOIN dup USING (gh)
), isl AS (
  SELECT doc_id, pos, n_tokens,
         CASE WHEN pos > COALESCE(MAX(pos) OVER (
                PARTITION BY doc_id ORDER BY pos
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -8) + 7
              THEN 1 ELSE 0 END AS new_island
  FROM hits
), grp AS (
  SELECT doc_id, pos, n_tokens,
         SUM(new_island) OVER (PARTITION BY doc_id ORDER BY pos
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
  FROM isl
), spans AS (
  SELECT doc_id, island, MIN(pos) AS s, MAX(pos) + 7 AS e,
         MAX(n_tokens) AS n_tokens
  FROM grp GROUP BY doc_id, island
)
SELECT doc_id,
       COUNT(*) AS n_spans,
       CAST(SUM(e - s + 1) AS BIGINT) AS dup_tokens,
       MAX(n_tokens) AS n_tokens,
       CAST(SUM(e - s + 1) AS DOUBLE) / MAX(n_tokens) AS dup_ratio
FROM spans
GROUP BY doc_id
ORDER BY dup_ratio DESC, doc_id
LIMIT 100
""",
    doc="maximal duplicated 8-gram spans per document",
)
def q123_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from swiftlake_spark.operators.dedup import duplicate_spans, gram_positions

    d = load(spark, sf_dir, "documents")
    # persist the gram relation per (session, sf_dir): both plan branches
    # (dup-detection aggregate + join-back) consume it, and repeated
    # invocations reuse the same registry slot instead of stacking
    # persisted copies; the registry bounds the slot (one live entry,
    # prior evicted+unpersisted) and clear() releases it at session end
    app = spark.sparkContext.applicationId
    key = (app, sf_dir)
    grams = registry.get_persisted("q123_grams", key)
    if grams is None:
        from swiftlake_spark.operators.parallelism import needs_spread

        level = storage_level_from_env("SWIFTLAKE_GRAMS_STORAGE")
        # r15 (guide §2.5): gram_positions spread-widens the md5 fold on
        # a narrow local scan (build 2.4 → 1.3 s cold).  The PERSISTED
        # copy, though, is traversed every warm pass by two consumers,
        # so when (and only when) that spread fired, the cache is
        # re-keyed by a hash exchange on the dup-detection key ``gh``:
        # the cached copy is then co-partitioned with the dup-detection
        # aggregate, which reads it without another shuffle.  (AQE does
        # not coalesce it — a cached plan keeps its output partitioning
        # — so it holds spark.sql.shuffle.partitions partitions.)  One
        # needs_spread verdict drives both the spread and the re-key; at
        # production scan widths it is False and both are no-ops.
        spread_fired = needs_spread(d.select("doc_id", "text"))
        g = gram_positions(d, "doc_id", "text", n=8,
                           spread_input=spread_fired)
        if spread_fired:
            g = g.repartition(F.col("gh"))
        grams = registry.put_persisted("q123_grams", key, g.persist(level),
                                       app_id=app)
    spans = duplicate_spans(d, "doc_id", "text", n=8, min_docs=2, grams=grams)
    return (
        spans.groupBy(F.col("id").alias("doc_id"))
        .agg(
            F.count(F.lit(1)).alias("n_spans"),
            F.sum("span_tokens").alias("dup_tokens"),
            F.max("n_tokens").alias("n_tokens"),
            (
                F.sum("span_tokens").cast("double") / F.max("n_tokens")
            ).alias("dup_ratio"),
        )
        .orderBy(F.col("dup_ratio").desc(), "doc_id")
        .limit(100)
    )


# --------------------------------------------------------------------------
# q124 — BM25 retrieval scoring (rational-idf variant) for a fixed term
# bag; top-20 docs.  operators.text.bm25_scores.
# --------------------------------------------------------------------------
@query(
    "q124_bm25",
    oracle=r"""
WITH toks AS (
  SELECT doc_id, LEN(string_split(text, ' ')) AS dl, string_split(text, ' ') AS w
  FROM documents
), stats AS (
  SELECT COUNT(*) AS n, CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl FROM toks
), tf AS (
  SELECT doc_id, t.tok, COUNT(*) AS tf
  FROM toks, UNNEST(w) AS t(tok)
  WHERE t.tok IN ('spark', 'join', 'window')
  GROUP BY doc_id, t.tok
), dfreq AS (
  SELECT tok, COUNT(*) AS df FROM tf GROUP BY tok
), scored AS (
  SELECT tf.doc_id,
         CAST(
           ((CAST(stats.n AS DOUBLE) - dfreq.df + CAST(0.5 AS DOUBLE))
              / (CAST(dfreq.df AS DOUBLE) + CAST(0.5 AS DOUBLE)))
           * (CAST(tf.tf AS DOUBLE) * CAST(2.2 AS DOUBLE))
           / (tf.tf + CAST(1.2 AS DOUBLE)
                * (CAST(0.25 AS DOUBLE)
                   + CAST(0.75 AS DOUBLE) * toks.dl / stats.avgdl))
           AS DECIMAL(28,10)) AS contrib
  FROM tf
  JOIN dfreq USING (tok)
  JOIN toks ON tf.doc_id = toks.doc_id
  CROSS JOIN stats
)
SELECT doc_id, CAST(SUM(contrib) AS DOUBLE) AS score
FROM scored GROUP BY doc_id
ORDER BY score DESC, doc_id
LIMIT 20
""",
    doc="BM25 (rational idf) top-20 for terms spark/join/window",
)
def q124_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    from swiftlake_spark.operators.text import bm25_scores

    d = load(spark, sf_dir, "documents")
    out = bm25_scores(d, "doc_id", "text", ["spark", "join", "window"])
    return (
        out.select(F.col("id").alias("doc_id"), "score")
        .orderBy(F.col("score").desc(), "doc_id")
        .limit(20)
    )


# --------------------------------------------------------------------------
# q125 — DSIR-style importance weights: mean per-token probability ratio
# p_en(bucket)/p_raw(bucket) over 16 md5 feature buckets; top-40 most
# target-like docs.  operators.text.hashed_importance_weights.
# --------------------------------------------------------------------------
@query(
    "q125_dsir_weights",
    oracle=r"""
WITH tok AS (
  SELECT doc_id, lang, t.tok,
         strpos('0123456789abcdef', substr(md5(t.tok), 1, 1)) AS b
  FROM (SELECT doc_id, lang, string_split(text, ' ') AS w FROM documents),
       UNNEST(w) AS t(tok)
), dist AS (
  SELECT b, COUNT(*) AS c,
         CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS ct
  FROM tok GROUP BY b
), tot AS (
  SELECT CAST(SUM(c) AS BIGINT) AS t, CAST(SUM(ct) AS BIGINT) AS tt FROM dist
), ratio AS (
  SELECT dist.b,
         (CAST(dist.ct AS DOUBLE) / tot.tt) / (CAST(dist.c AS DOUBLE) / tot.t) AS r
  FROM dist CROSS JOIN tot
)
SELECT tok.doc_id,
       COUNT(*) AS n_tokens,
       CAST(SUM(CAST(ratio.r AS DECIMAL(28,10))) AS DOUBLE) / COUNT(*) AS weight
FROM tok JOIN ratio ON tok.b = ratio.b
GROUP BY tok.doc_id
ORDER BY weight DESC, doc_id
LIMIT 40
""",
    doc="DSIR hashed-feature importance weights, target = lang 'en'",
)
def q125_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    from swiftlake_spark.operators.text import hashed_importance_weights

    d = load(spark, sf_dir, "documents")
    out = hashed_importance_weights(d, "doc_id", "text", F.col("lang") == "en")
    return (
        out.select(F.col("id").alias("doc_id"), "n_tokens", "weight")
        .orderBy(F.col("weight").desc(), "doc_id")
        .limit(40)
    )


# --------------------------------------------------------------------------
# q126 — edit-distance near-dup pairs: (lang, 4-char-prefix) blocking +
# length filter, Levenshtein over 60-char prefixes ≤ 20.
# operators.dedup.editdist_near_dups.
#
# Blocking choice, measured: lang-only blocking is ~|corpus|²/|langs|
# pairs — 250M at sf0.1 and quadratic-in-corpus beyond (a 100 TB
# non-starter).  Adding the first-4-chars prefix block (classic
# record-linkage prefix blocking) bounds blocks by the head-token
# vocabulary; on this corpus it loses NO true pair (all dist ≤ 20 pairs
# share their 4-char prefix — checked at sf0.01) and cuts the sf0.1
# pair count ~40×.  Documented heuristic: pairs whose edits start in
# the first 4 characters are not recalled.
# --------------------------------------------------------------------------
@query(
    "q126_editdist_neardup",
    oracle=r"""
SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.lang AS lang,
       CAST(levenshtein(substr(a.text, 1, 60), substr(b.text, 1, 60)) AS INT) AS dist
FROM documents a
JOIN documents b
  ON a.lang = b.lang AND substr(a.text, 1, 4) = substr(b.text, 1, 4)
 AND a.doc_id < b.doc_id
 AND abs(a.n_chars - b.n_chars) <= 30
WHERE levenshtein(substr(a.text, 1, 60), substr(b.text, 1, 60)) <= 20
ORDER BY id_a, id_b
""",
    doc="Levenshtein near-dup pairs, lang+prefix blocking + length filter",
)
def q126_editdist_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from swiftlake_spark.operators.dedup import editdist_near_dups

    d = load(spark, sf_dir, "documents").withColumn(
        "pfx4", F.substring("text", 1, 4)
    )
    out = editdist_near_dups(
        d,
        "doc_id",
        "text",
        block_cols=["lang", "pfx4"],
        prefix=60,
        max_dist=20,
        len_col="n_chars",
        max_len_delta=30,
    )
    return out.select(
        "id_a", "id_b", "lang", F.col("dist").cast("int").alias("dist")
    ).orderBy("id_a", "id_b")


# --------------------------------------------------------------------------
# q127 — TF-IDF top-3 characteristic terms per doc (rational idf N/df),
# first 40 docs.  operators.text.tfidf_top_terms.
# --------------------------------------------------------------------------
@query(
    "q127_tfidf_topterms",
    oracle=r"""
WITH tok AS (
  SELECT doc_id, t.tok
  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
       UNNEST(w) AS t(tok)
), tf AS (
  SELECT doc_id, tok, COUNT(*) AS tf FROM tok GROUP BY doc_id, tok
), dfreq AS (
  SELECT tok, COUNT(*) AS df FROM tf GROUP BY tok
), n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM documents),
scored AS (
  SELECT tf.doc_id, tf.tok, tf.tf, dfreq.df,
         tf.tf * (n.n / dfreq.df) AS score,
         ROW_NUMBER() OVER (
           PARTITION BY tf.doc_id
           ORDER BY tf.tf * (n.n / dfreq.df) DESC, tf.tok) AS rnk
  FROM tf JOIN dfreq USING (tok) CROSS JOIN n
)
SELECT doc_id, CAST(rnk AS INT) AS rnk, tok,
       CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df, score
FROM scored
WHERE rnk <= 3 AND doc_id < 40
ORDER BY doc_id, rnk
""",
    doc="TF-IDF (rational idf) top-3 terms for docs 0..39",
)
def q127_tfidf_topterms(spark: SparkSession, sf_dir: str) -> DataFrame:
    from swiftlake_spark.operators.text import tfidf_top_terms

    d = load(spark, sf_dir, "documents")
    out = tfidf_top_terms(d, "doc_id", "text", k=3)
    return (
        out.filter(F.col("id") < 40)
        .select(
            F.col("id").alias("doc_id"),
            F.col("rnk").cast("int").alias("rnk"),
            "tok",
            "tf",
            "df",
            "score",
        )
        .orderBy("doc_id", "rnk")
    )


# --------------------------------------------------------------------------
# q128 — reproducible stratified subsample: 5 docs per source by
# deterministic md5-hashed order.  operators.sampling.stratified_limit.
# --------------------------------------------------------------------------
@query(
    "q128_stratified_sample",
    oracle=r"""
WITH b AS (
  SELECT doc_id, source,
         CAST(CONCAT('0x', substr(md5('strat' || CAST(doc_id AS VARCHAR)), 1, 8))
              AS BIGINT) % 1000000 AS bucket
  FROM documents
), ranked AS (
  SELECT doc_id, source,
         ROW_NUMBER() OVER (PARTITION BY source ORDER BY bucket, doc_id) AS rn
  FROM b
)
SELECT doc_id, source FROM ranked WHERE rn <= 5
ORDER BY source, doc_id
""",
    doc="5-per-source deterministic stratified sample",
)
def q128_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from swiftlake_spark.operators.sampling import stratified_limit

    d = load(spark, sf_dir, "documents").select("doc_id", "source")
    out = stratified_limit(
        d, "source", 5, key_col="doc_id", hash_fn="md5"
    )
    return out.select("doc_id", "source").orderBy("source", "doc_id")


# --------------------------------------------------------------------------
# q130 — int8 embedding quantization quality: per-label reconstruction
# error + range check.  operators.similarity.quantize_int8_stats.
# --------------------------------------------------------------------------
@query(
    "q130_embed_quantize",
    oracle=r"""
WITH els AS (
  SELECT vec_id, label, CAST(u.x AS DOUBLE) AS x
  FROM embeddings, UNNEST(embedding) AS u(x)
), mx AS (
  SELECT vec_id, MAX(ABS(x)) AS m FROM els GROUP BY vec_id
), qs AS (
  SELECT els.vec_id, els.label,
         CASE WHEN mx.m > 0
              THEN FLOOR(els.x * (CAST(127.0 AS DOUBLE) / mx.m) + CAST(0.5 AS DOUBLE))
              ELSE 0 END AS q,
         CASE WHEN mx.m > 0
              THEN ABS(els.x - FLOOR(els.x * (CAST(127.0 AS DOUBLE) / mx.m) + CAST(0.5 AS DOUBLE))
                                / (CAST(127.0 AS DOUBLE) / mx.m))
              ELSE CAST(0.0 AS DOUBLE) END AS err
  FROM els JOIN mx ON els.vec_id = mx.vec_id
), per_vec AS (
  SELECT vec_id, label,
         SUM(CAST(err AS DECIMAL(28,12))) AS err_sum,
         COUNT(*) AS n_els,
         MAX(ABS(q)) AS max_q
  FROM qs GROUP BY vec_id, label
)
SELECT label,
       COUNT(*) AS n_vecs,
       CAST(SUM(err_sum) AS DOUBLE) / CAST(SUM(n_els) AS BIGINT) AS avg_err,
       CAST(MAX(max_q) AS BIGINT) AS max_abs_q
FROM per_vec GROUP BY label ORDER BY label
""",
    doc="int8 quantization reconstruction error per label",
)
def q130_embed_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from swiftlake_spark.operators.similarity import quantize_int8_stats

    e = load(spark, sf_dir, "embeddings")
    pv = quantize_int8_stats(e, "vec_id", "embedding", "label")
    return (
        pv.groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            # exact decimal sums all the way down; ONE double division at
            # the end (re-casting a double quotient to DECIMAL is where
            # engine rounding diverges — see quantize_int8_stats)
            (
                F.sum("err_sum").cast("double") / F.sum("n_els")
            ).alias("avg_err"),
            F.max("max_q").cast("bigint").alias("max_abs_q"),
        )
        .orderBy("label")
    )


# --------------------------------------------------------------------------
# q131 — within-doc n-gram repetition (Gopher's repetition filters —
# the signals q75's length/stopword rules don't cover).
# operators.text.ngram_repetition.  Widened r12 (VERDICT r11 ask #2) to
# certify the office/subtitle extraction dispatch under the DuckDB
# oracle: every document is first synthesized into a container rotating
# by doc_id % 4 — DOCX (real ZIP + WordprocessingML), EPUB (OCF
# container + XHTML chapter), SRT cue, WebVTT cue — recovered through
# the magic-byte dispatch (operators/doctext.extract_document_text),
# and the repetition stats are computed on the EXTRACTED text while the
# oracle reads the original.  The containers additionally travel inside
# WebDataset tar shards (operators/archives, ~16 samples each — the
# standard training-corpus layout) so shard explode is certified on
# document payloads too, not only q120's images.  A hash match proves
# tar walk, sample grouping, ZIP parse, XML text walk, cue parsing and
# format sniffing are collectively exact.
# --------------------------------------------------------------------------
@query(
    "q131_doc_repetition",
    oracle=r"""
WITH words AS (
  SELECT doc_id, string_split(text, ' ') AS w
  FROM documents WHERE doc_id < 1500
), grams AS (
  SELECT doc_id, w[i] || ' ' || w[i+1] AS bg
  FROM words, UNNEST(generate_series(1, GREATEST(LEN(w) - 1, 0))) AS t(i)
), cnt AS (
  SELECT doc_id, bg, COUNT(*) AS c FROM grams GROUP BY doc_id, bg
), per_doc AS (
  SELECT doc_id,
         CAST(SUM(c) AS BIGINT) AS n_ngrams,
         CAST(COUNT(*) AS BIGINT) AS n_distinct,
         CAST(MAX(c) AS BIGINT) AS max_count
  FROM cnt GROUP BY doc_id
)
SELECT doc_id, n_ngrams, n_distinct,
       CAST(1.0 AS DOUBLE) - CAST(n_distinct AS DOUBLE) / n_ngrams AS dup_frac,
       CAST(max_count AS DOUBLE) / n_ngrams AS top_frac,
       (CAST(1.0 AS DOUBLE) - CAST(n_distinct AS DOUBLE) / n_ngrams
          > CAST(0.2 AS DOUBLE)
        OR CAST(max_count AS DOUBLE) / n_ngrams > CAST(0.18 AS DOUBLE))
         AS repetitive
FROM per_doc
ORDER BY dup_frac DESC, doc_id
LIMIT 100
""",
    doc="within-doc bigram repetition (Gopher repetition signals)",
)
def q131_doc_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    from swiftlake_spark.operators.doctext import (
        encode_docx,
        encode_epub,
        extract_document_text,
    )
    from swiftlake_spark.operators.text import ngram_repetition

    # local-mode spread + corpus bound; synthesis is certification
    # harness only (q75's rationale)
    base = (
        load(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 1500)
        .select("doc_id", "text")
        .repartition(8, "doc_id")
    )

    from swiftlake_spark.operators.archives import (
        encode_webdataset,
        webdataset_samples,
    )

    def to_shards(batches):
        exts = ("docx", "epub", "srt", "vtt")
        for b in batches:
            samples = []
            for did, txt in zip(b["doc_id"], b["text"]):
                m = did % 4
                if m == 0:
                    payload = encode_docx([txt])
                elif m == 1:
                    payload = encode_epub([txt])
                elif m == 2:
                    payload = (
                        f"1\n00:00:00,000 --> 00:00:01,500\n{txt}\n\n"
                    ).encode()
                else:
                    payload = (
                        f"WEBVTT\n\n00:00:00.000 --> 00:00:01.500\n{txt}\n\n"
                    ).encode()
                samples.append({"__key__": f"{int(did):010d}",
                                exts[m]: payload})
            shards = [
                encode_webdataset(samples[i : i + 16])
                for i in range(0, len(samples), 16)
            ]
            yield pd.DataFrame({"data": shards}, columns=["data"])

    shards = base.mapInPandas(to_shards, "data binary")
    raws = webdataset_samples(shards, "data").select(
        F.col("sample_key").cast("bigint").alias("doc_id"),
        # each sample carries exactly one document member
        F.element_at(F.map_values("fields"), 1).alias("data"),
    )
    d = extract_document_text(raws, "data").select("doc_id", "text")
    rep = ngram_repetition(d, "doc_id", "text", n=2)
    return (
        rep.select(
            F.col("id").alias("doc_id"),
            "n_ngrams",
            "n_distinct",
            "dup_frac",
            "top_frac",
            (
                (F.col("dup_frac") > 0.2) | (F.col("top_frac") > 0.18)
            ).alias("repetitive"),
        )
        .orderBy(F.col("dup_frac").desc(), "doc_id")
        .limit(100)
    )


# --------------------------------------------------------------------------
# q139 — benchmark decontamination (round 10): n-gram overlap against an
# evaluation set.  Eval grams are a broadcast (benchmarks are tiny next
# to a 100 TB corpus); the corpus side is one map-only gram explode +
# one per-doc count shuffle.  The eval set here is a deterministic
# corpus slice (doc_id % 53 = 0) standing in for a held-out benchmark.
# --------------------------------------------------------------------------
@query(
    "q139_decontaminate",
    oracle=r"""
WITH words AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
), grams AS (
  SELECT doc_id, md5(array_to_string(w[i:i+12], ' ')) AS gh,
         LEN(w) AS n_tokens
  FROM words, UNNEST(generate_series(1, GREATEST(LEN(w) - 12, 0))) AS t(i)
), ev AS (
  SELECT DISTINCT gh FROM grams WHERE doc_id % 53 = 0
), per_doc AS (
  SELECT g.doc_id, MAX(g.n_tokens) AS n_tokens, COUNT(*) AS n_grams,
         SUM(CASE WHEN e.gh IS NOT NULL THEN 1 ELSE 0 END) AS n_hit
  FROM grams g LEFT JOIN ev e USING (gh)
  GROUP BY g.doc_id
)
SELECT w.doc_id,
       COALESCE(p.n_tokens, LEN(w.w)) AS n_tokens,
       CAST(COALESCE(p.n_grams, 0) AS BIGINT) AS n_grams,
       CAST(COALESCE(p.n_hit, 0) AS BIGINT) AS n_hit,
       COALESCE(CAST(p.n_hit AS DOUBLE) / p.n_grams, 0.0) AS hit_frac,
       COALESCE(CAST(p.n_hit AS DOUBLE) / p.n_grams, 0.0) >= 0.8
         AS is_contaminated
FROM words w LEFT JOIN per_doc p ON w.doc_id = p.doc_id
ORDER BY hit_frac DESC, w.doc_id
LIMIT 100
""",
    doc="13-gram eval-set decontamination flags (GPT-3/PaLM recipe)",
)
def q139_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from swiftlake_spark.operators.dedup import ngram_decontaminate

    # the per-doc contamination relation is a deterministic function of
    # (corpus, n, eval slice) — cache it per (session, sf_dir) like
    # q115's verdict / q123's grams; the registry bounds the slot and
    # releases it on clear()/engine.close()
    app = spark.sparkContext.applicationId
    out = registry.get_persisted("q139_contam", (app, sf_dir))
    if out is None:
        d = load(spark, sf_dir, "documents")
        ev = d.filter(F.col("doc_id") % 53 == 0)
        out = ngram_decontaminate(d, ev, "doc_id", "text", n=13, threshold=0.8)
        # O(docs)-row relation: same tunable level as the other corpus
        # artifacts (default DISK_ONLY — it must not compete with
        # shuffle memory at corpus scale)
        level = storage_level_from_env("SWIFTLAKE_GRAMS_STORAGE")
        out = registry.put_persisted(
            "q139_contam", (app, sf_dir), out.persist(level), app_id=app
        )
    return (
        out.select(
            F.col("id").alias("doc_id"), "n_tokens", "n_grams", "n_hit",
            "hit_frac", "is_contaminated",
        )
        .orderBy(F.col("hit_frac").desc(), "doc_id")
        .limit(100)
    )


# --------------------------------------------------------------------------
# q140 — corpus mixing weights (round 10): per-source sampling
# multipliers toward a uniform token mix.  One group-key aggregate; the
# share math runs over the tiny per-group relation.
# --------------------------------------------------------------------------
@query(
    "q140_mixing_weights",
    oracle=r"""
WITH per AS (
  SELECT source AS src, COUNT(*) AS n_docs,
         CAST(SUM(LEN(string_split(text, ' '))) AS BIGINT) AS n_tokens
  FROM documents GROUP BY source
)
SELECT src, n_docs, n_tokens,
       CAST(n_tokens AS DOUBLE) / (SUM(n_tokens) OVER ()) AS actual_share,
       CAST(1 AS DOUBLE) / (COUNT(*) OVER ()) AS target_share,
       (CAST(1 AS DOUBLE) / (COUNT(*) OVER ()))
         / (CAST(n_tokens AS DOUBLE) / (SUM(n_tokens) OVER ())) AS weight
FROM per
ORDER BY src
""",
    doc="per-source sampling weights toward a uniform token mix",
)
def q140_mixing_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    from swiftlake_spark.operators.sampling import mixing_weights

    d = load(spark, sf_dir, "documents").withColumn(
        "__tok", F.size(F.split(F.col("text"), " "))
    )
    return (
        mixing_weights(d, "source", "__tok")
        .select(
            F.col("group").alias("src"), "n_docs", "n_tokens",
            "actual_share", "target_share", "weight",
        )
        .orderBy("src")
    )


# --------------------------------------------------------------------------
# q141 — distribution-tail outliers (round 10): per-language two-sided
# tail-fraction band filter on document length.  cume_dist and its
# reverse ((n-rank+1)/n) are the same rationals in Spark and DuckDB,
# so flags hash-match bit-for-bit; the two-sided form flags nothing on
# a degenerate all-equal group (see operators/sampling.py).
# --------------------------------------------------------------------------
@query(
    "q141_length_outliers",
    oracle=r"""
WITH cd AS (
  SELECT doc_id, lang, n_chars,
         cume_dist() OVER (PARTITION BY lang ORDER BY n_chars) AS cd,
         CAST(COUNT(*) OVER (PARTITION BY lang)
              - rank() OVER (PARTITION BY lang ORDER BY n_chars)
              + 1 AS DOUBLE)
           / (COUNT(*) OVER (PARTITION BY lang)) AS cd_rev
  FROM documents
)
SELECT doc_id, lang, n_chars, cd, cd_rev
FROM cd
WHERE cd < 0.01 OR cd_rev < (CAST(1 AS DOUBLE) - CAST(0.99 AS DOUBLE))
ORDER BY lang, doc_id
""",
    doc="per-language length-distribution tail outliers (p1/p99)",
)
def q141_length_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    from swiftlake_spark.operators.sampling import quantile_outliers

    d = load(spark, sf_dir, "documents")
    return (
        quantile_outliers(d, "n_chars", by="lang", lo=0.01, hi=0.99)
        .filter(F.col("is_outlier"))
        .select("doc_id", "lang", "n_chars", "cd", "cd_rev")
        .orderBy("lang", "doc_id")
    )


# --------------------------------------------------------------------------
# q142 — the curation pipeline END-TO-END as one declared query
# (round 10): Gopher-style quality filter → exact dedup → language ID →
# deterministic train/val/test split → per-(split, lang) token budget.
# Every stage is an existing certified operator; the value of the query
# is certifying their COMPOSITION (column contracts, filter interplay,
# determinism through four stages) against one DuckDB oracle.  At
# 100 TB this is the exact shape of a pre-training data build: the
# quality pass is map-only, dedup is one hash shuffle, lang-id is
# map-only, the split is a pure row-local hash, and only the tiny
# rollup aggregates — no stage widens the data.
# --------------------------------------------------------------------------
@query(
    "q142_corpus_pipeline",
    oracle=r"""
WITH t AS (
  SELECT doc_id, lang, text, string_split(text, ' ') AS w,
         LENGTH(REPLACE(text, ' ', '')) AS letters
  FROM documents
), q AS (
  SELECT doc_id, lang, text, w, LEN(w) AS n_tokens,
         CAST(letters AS DOUBLE) / LEN(w) AS mean_tok_len,
         CAST(LEN(list_filter(w, x -> x IN ('the','a','and','of','to','in',
                                            'der','und','die','el','la','y',
                                            'le','et','les'))) AS DOUBLE)
           / LEN(w) AS stop_frac
  FROM t
), kept AS (
  SELECT * FROM q
  WHERE n_tokens BETWEEN 10 AND 1000
    AND mean_tok_len BETWEEN 2.0 AND 10.0
    AND stop_frac >= 0.02
), keepers AS (
  SELECT * FROM (
    SELECT *, doc_id = MIN(doc_id) OVER (PARTITION BY md5(text)) AS is_keeper
    FROM kept
  ) WHERE is_keeper
), pred AS (
  SELECT *,
         list_max([
           {'score': CAST(LEN(list_filter(w, x -> x IN ('der','die','das','und','ist'))) AS DOUBLE) / LEN(w), 'lang': 'de'},
           {'score': CAST(LEN(list_filter(w, x -> x IN ('the','a','and','of','is'))) AS DOUBLE) / LEN(w), 'lang': 'en'},
           {'score': CAST(LEN(list_filter(w, x -> x IN ('el','la','los','y','es'))) AS DOUBLE) / LEN(w), 'lang': 'es'},
           {'score': CAST(LEN(list_filter(w, x -> x IN ('le','la','les','et','est'))) AS DOUBLE) / LEN(w), 'lang': 'fr'}
         ]).lang AS lang_pred
  FROM keepers
), sp AS (
  SELECT *,
         CAST(CONCAT('0x', substr(md5('split' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
           % 1000000 AS bucket
  FROM pred
)
SELECT CASE WHEN bucket < 100000 THEN 'test'
            WHEN bucket < 900000 THEN 'train'
            ELSE 'val' END AS split,
       lang_pred,
       COUNT(*) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS n_tokens
FROM sp
GROUP BY 1, 2
ORDER BY split, lang_pred
""",
    doc="curation pipeline e2e: quality → dedup → lang-id → split → budget",
)
def q142_corpus_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from swiftlake_spark.operators.sampling import hash_split
    from swiftlake_spark.operators.text import lang_id

    d = load(spark, sf_dir, "documents")
    # stage 1: Gopher-style quality rules (q75's exact expressions).
    # r14 (guide §1.2 per-task work): the filter predicate referenced the
    # split expression from n_tokens, mean_tok_len AND stop_frac — the
    # tokenizing regex ran up to 4x per row (subexpression elimination
    # does not cross the Filter/Project operator boundary).  Materialize
    # the split once as a column and let every stage reference it; the
    # values are identical, only the evaluation count changes.
    d = d.withColumn("__w", F.split(F.col("text"), " ", -1))
    w = F.col("__w")
    n_tokens = F.size(w)
    mean_tok_len = (
        F.length(F.replace(F.col("text"), F.lit(" "), F.lit(""))).cast("double")
        / n_tokens
    )
    # multilingual stop set — the quality gate must not silently drop
    # every non-English document before the lang-id stage (q75's
    # English-only set is pinned there; this pipeline is multilingual)
    stops = ("the", "a", "and", "of", "to", "in",
             "der", "und", "die", "el", "la", "y", "le", "et", "les")
    stop_frac = (
        F.size(F.filter(w, lambda x: x.isin(*stops))).cast("double") / n_tokens
    )
    kept = (
        d.withColumn("n_tokens", n_tokens)
        .filter(
            n_tokens.between(10, 1000)
            & mean_tok_len.between(2.0, 10.0)
            & (stop_frac >= 0.02)
        )
        # drop the materialized token array BEFORE the dedup window —
        # it must not ride the md5(text) shuffle as payload (guide §2.3
        # "project before the exchange")
        .drop("__w")
    )
    # stage 2: exact dedup — keep the lowest doc_id per distinct text.
    # min-over-window on md5 rather than operators.exact_dedup: the
    # operator's keeper key is the fast 2x-xxhash64 pair, which the
    # oracle cannot spell; md5 is the portable twin (same rule, same
    # one-shuffle shape).
    keepers = (
        kept.withColumn(
            "__keep",
            F.col("doc_id")
            == F.min("doc_id").over(W.partitionBy(F.md5(F.col("text")))),
        )
        .filter(F.col("__keep"))
        .drop("__keep")
    )
    # stage 3: language ID (q52's operator)
    pred = lang_id(keepers)
    # stage 4: deterministic split (q56's operator, portable md5 path)
    split = hash_split(
        pred, "doc_id", {"test": 0.1, "val": 0.1, "train": 0.8}, hash_fn="md5"
    )
    # stage 5: the token budget per (split, predicted lang)
    return (
        split.groupBy("split", "lang_pred")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("n_tokens"),
        )
        .orderBy("split", "lang_pred")
    )


# --------------------------------------------------------------------------
# q146 — crawl URL canonicalization + dedup (round 11).  Raw URLs are
# synthesized deterministically from (source, doc_id) with the noise a
# real crawl carries — scheme casing, www, tracking params, param
# order, trailing slash, fragments — then collapsed through
# operators.text.canonical_url (pure Catalyst) and deduped keep-lowest
# doc_id.  The oracle re-implements the canonicalization independently
# in ANSI SQL, so a regexp slip on either side breaks the hash match.
# --------------------------------------------------------------------------
_Q146_RAW_SQL = """
  CASE CAST(doc_id % 3 AS INTEGER) WHEN 0 THEN 'https://'
       WHEN 1 THEN 'HTTP://' ELSE '' END
  || CASE WHEN doc_id % 2 = 0 THEN 'www.' ELSE '' END
  || source || '.example.com/page/' || CAST(doc_id % 40 AS STRING)
  || CASE WHEN doc_id % 5 = 0 THEN '/' ELSE '' END
  || CASE CAST(doc_id % 4 AS INTEGER)
       WHEN 0 THEN '?utm_source=feed&id=' || CAST(doc_id % 40 AS STRING)
       WHEN 1 THEN '?id=' || CAST(doc_id % 40 AS STRING) || '&ref=tw'
       WHEN 2 THEN '?id=' || CAST(doc_id % 40 AS STRING)
       ELSE '' END
  || CASE WHEN doc_id % 7 = 0 THEN '#sec' ELSE '' END
"""


@query(
    "q146_url_dedup",
    oracle=rf"""
WITH raw AS (
  SELECT doc_id, {_Q146_RAW_SQL} AS url FROM documents
), canon AS (
  SELECT doc_id,
         regexp_replace(lower(regexp_extract(
             regexp_replace(regexp_replace(url, '#.*$', ''),
                            '^[A-Za-z][A-Za-z0-9+.\-]*://', ''),
             '^[^/?]*')), '^www\.', '')
         || regexp_replace(regexp_extract(
              substr(regexp_replace(regexp_replace(url, '#.*$', ''),
                                    '^[A-Za-z][A-Za-z0-9+.\-]*://', ''),
                     LENGTH(regexp_extract(
                       regexp_replace(regexp_replace(url, '#.*$', ''),
                                      '^[A-Za-z][A-Za-z0-9+.\-]*://', ''),
                       '^[^/?]*')) + 1),
              '^[^?]*'), '/+$', '')
         || CASE WHEN LEN(list_sort(list_filter(string_split(
                   regexp_extract(
                     substr(regexp_replace(regexp_replace(url, '#.*$', ''),
                                           '^[A-Za-z][A-Za-z0-9+.\-]*://', ''),
                            LENGTH(regexp_extract(
                              regexp_replace(regexp_replace(url, '#.*$', ''),
                                             '^[A-Za-z][A-Za-z0-9+.\-]*://', ''),
                              '^[^/?]*')) + 1),
                     '\?(.*)$', 1), '&'),
                   x -> x <> '' AND NOT regexp_matches(
                     x, '^(utm_[^=]*|ref|fbclid|gclid|sessionid)=')))) > 0
              THEN '?' || array_to_string(list_sort(list_filter(string_split(
                   regexp_extract(
                     substr(regexp_replace(regexp_replace(url, '#.*$', ''),
                                           '^[A-Za-z][A-Za-z0-9+.\-]*://', ''),
                            LENGTH(regexp_extract(
                              regexp_replace(regexp_replace(url, '#.*$', ''),
                                             '^[A-Za-z][A-Za-z0-9+.\-]*://', ''),
                              '^[^/?]*')) + 1),
                     '\?(.*)$', 1), '&'),
                   x -> x <> '' AND NOT regexp_matches(
                     x, '^(utm_[^=]*|ref|fbclid|gclid|sessionid)='))), '&')
              ELSE '' END AS canonical
  FROM raw
)
SELECT canonical, CAST(COUNT(*) AS BIGINT) AS n_dups,
       CAST(MIN(doc_id) AS BIGINT) AS keeper
FROM canon GROUP BY canonical
ORDER BY canonical
""",
    doc="URL canonicalization dedup: keep lowest doc_id per canonical URL",
)
def q146_url_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from swiftlake_spark.operators.text import canonical_url

    d = load(spark, sf_dir, "documents").selectExpr(
        "doc_id", _Q146_RAW_SQL + " AS url"
    )
    return (
        d.select("doc_id", canonical_url(F.col("url")).alias("canonical"))
        .groupBy("canonical")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_dups"),
            F.min("doc_id").cast("bigint").alias("keeper"),
        )
        .orderBy("canonical")
    )


# --------------------------------------------------------------------------
# q147 — character-distribution quality (round 11): Simpson diversity
# (1 − Σp², the rational entropy stand-in — FIXTURES.md §4 bans
# transcendentals), alphabet size and top-char share per document.
# Separates base64/padding/single-char machine junk from prose.  The
# integer aggregates (Σc², max c) make every double a single exact
# division, so the hash match is bit-for-bit.
# --------------------------------------------------------------------------
@query(
    "q147_char_diversity",
    oracle=r"""
WITH chars AS (
  SELECT doc_id, substr(text, CAST(i AS INTEGER), 1) AS ch
  FROM documents, UNNEST(generate_series(1, LENGTH(text))) t(i)
  WHERE text IS NOT NULL AND LENGTH(text) > 0
), per AS (
  SELECT doc_id, ch, COUNT(*) AS c FROM chars GROUP BY doc_id, ch
)
SELECT doc_id,
       CAST(SUM(c) AS BIGINT) AS n_chars,
       CAST(COUNT(*) AS BIGINT) AS n_distinct_chars,
       CAST(1 AS DOUBLE)
         - CAST(SUM(c * c) AS DOUBLE)
           / CAST(SUM(c) * SUM(c) AS DOUBLE) AS simpson,
       CAST(MAX(c) AS DOUBLE) / CAST(SUM(c) AS DOUBLE) AS top_char_share
FROM per GROUP BY doc_id
ORDER BY simpson, doc_id
LIMIT 100
""",
    doc="Simpson char diversity + top-char share per document",
)
def q147_char_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from swiftlake_spark.operators.text import char_diversity

    d = (
        load(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull() & (F.length("text") > 0))
    )
    return (
        char_diversity(d, "doc_id", "text")
        .select(
            F.col("id").alias("doc_id"),
            "n_chars",
            "n_distinct_chars",
            "simpson",
            "top_char_share",
        )
        .orderBy("simpson", "doc_id")
        .limit(100)
    )


# --------------------------------------------------------------------------
# q148 — binary-decade Zipf slope (round 11): corpus-health check that
# token frequencies follow freq ∝ rank^s.  Rank and frequency bucket
# to floor(log2) via length(bin(v))-1 — exact integers, no libm — and
# the least-squares slope assembles from BIGINT sums with one double
# division at the end.  Duplicated/templated corpora flatten s toward
# 0; natural text sits near −1.
# --------------------------------------------------------------------------
@query(
    "q148_zipf_slope",
    oracle=r"""
WITH toks AS (
  SELECT unnest(string_split(text, ' ')) AS tok
  FROM documents WHERE text IS NOT NULL
), freqs AS (
  SELECT tok, COUNT(*) AS freq FROM toks WHERE tok <> ''
  GROUP BY tok ORDER BY freq DESC, tok LIMIT 512
), pts AS (
  SELECT LENGTH(bin(ROW_NUMBER() OVER (ORDER BY freq DESC, tok))) - 1 AS x,
         LENGTH(bin(freq)) - 1 AS y
  FROM freqs
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_ranked,
       CAST(COUNT(*) * SUM(x * y) - SUM(x) * SUM(y) AS DOUBLE)
         / CAST(COUNT(*) * SUM(x * x) - SUM(x) * SUM(x) AS DOUBLE) AS slope
FROM pts
""",
    doc="binary-decade Zipf slope over the top-512 token ranks",
)
def q148_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    from swiftlake_spark.operators.text import zipf_slope_stats

    d = load(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    return zipf_slope_stats(d, "text", top_v=512)


# --------------------------------------------------------------------------
# q149 — token-budget water-filling (round 11): allocate half the
# corpus's tokens across sources as evenly as availability allows —
# small sources taken whole, the rest levelled.  The closed-form
# greedy (sorted by capacity, BIGINT feasibility products, one double
# division for the level) is re-derived independently in the oracle;
# Σ alloc = budget exactly.
# --------------------------------------------------------------------------
@query(
    "q149_token_budget",
    oracle=r"""
WITH caps AS (
  SELECT source AS src,
         CAST(SUM(LEN(string_split(text, ' '))) AS BIGINT) AS cap
  FROM documents WHERE text IS NOT NULL GROUP BY source
), b AS (
  SELECT CAST(SUM(cap) // 2 AS BIGINT) AS budget FROM caps
), ranked AS (
  SELECT src, cap, budget,
         ROW_NUMBER() OVER (ORDER BY cap, src) AS r,
         COALESCE(SUM(cap) OVER (ORDER BY cap, src
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum,
         COUNT(*) OVER () AS n
  FROM caps, b
), sat AS (
  SELECT *, cap * (n - r + 1) <= budget - cum AS saturated FROM ranked
), lvl AS (
  SELECT COALESCE(SUM(CASE WHEN saturated THEN cap END), 0) AS satsum,
         COALESCE(SUM(CASE WHEN saturated THEN 1 END), 0) AS k,
         MAX(n) AS n2, MAX(budget) AS b2
  FROM sat
)
SELECT src, cap,
       CASE WHEN saturated THEN CAST(cap AS DOUBLE)
            ELSE CAST(b2 - satsum AS DOUBLE) / CAST(n2 - k AS DOUBLE)
       END AS alloc,
       saturated
FROM sat, lvl
ORDER BY src
""",
    doc="water-filling allocation of half the corpus tokens across sources",
)
def q149_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    from swiftlake_spark.operators.sampling import token_budget_waterfill

    caps = (
        load(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull())
        .groupBy(F.col("source").alias("src"))
        .agg(F.sum(F.size(F.split(F.col("text"), " "))).cast("bigint").alias("cap"))
    )
    budget = caps.agg(F.expr("sum(cap) div 2").cast("bigint").alias("budget"))
    return token_budget_waterfill(caps, "src", "cap", budget).orderBy("src")

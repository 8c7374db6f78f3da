"""Extended declared query surface (q63+).

Second relational batch: correlated EXISTS, explode/unnest, ordered
string aggregation, UNPIVOT, regexp functions, sequence generation,
bitwise ops, date arithmetic, array functions, the 6-way TPC-H Q5 join
shape, the long tail of window functions, and FILTER-style conditional
aggregation.  All shapes are DuckDB passthrough surface in the
reference (README.md:723-727 — "Supported queries adhere to DuckDB
syntax"); each entry here is hash-checked against the DuckDB oracle.

Scale notes are per-query; the common contract: filters reach the
parquet scan, small dims broadcast, one shuffle per agg/join key, no
Python in any plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from swiftlake_spark.artifacts import registry
from swiftlake_spark.queries import query
from swiftlake_spark.queries.base import as_double, dec, load


# --------------------------------------------------------------------------
# q63 — correlated EXISTS (TPC-H Q4 shape): orders having a late lineitem.
# Catalyst turns EXISTS into a left-semi join: one shuffle on the key.
# --------------------------------------------------------------------------
@query(
    "q63_exists_subquery",
    oracle=r"""
SELECT o_orderpriority, COUNT(*) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
  AND EXISTS (
    SELECT 1 FROM lineitem
    WHERE l_orderkey = o_orderkey
      AND l_shipdate > o_orderdate + INTERVAL 60 DAY
  )
GROUP BY o_orderpriority
ORDER BY o_orderpriority
""",
)
def q63_exists_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    load(spark, sf_dir, "orders").createOrReplaceTempView("__q63_orders")
    load(spark, sf_dir, "lineitem").createOrReplaceTempView("__q63_lineitem")
    return spark.sql(
        """
        SELECT o_orderpriority, COUNT(*) AS order_count
        FROM __q63_orders
        WHERE o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
          AND EXISTS (
            SELECT 1 FROM __q63_lineitem
            WHERE l_orderkey = o_orderkey
              AND l_shipdate > o_orderdate + INTERVAL 60 DAY
          )
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority
        """
    )


# --------------------------------------------------------------------------
# q64 — explode/unnest: token frequencies over documents.  Widened r12
# (VERDICT r11 ask #2) to certify the native PDF text extractor under
# the DuckDB oracle: every document is first synthesized into a
# spec-valid PDF (content-stream filter rotates raw / FlateDecode /
# ASCII85Decode by doc_id % 3), the text is recovered through the
# magic-byte document dispatch (operators/doctext →
# operators/pdftext.extract_pdf_text_bytes), and the token counts are
# computed on the EXTRACTED text while the oracle counts tokens in the
# original — a hash match proves the PDF object scan, stream filters and
# BT..ET text interpreter are exact.  The PDFs additionally ride inside
# WARC response records (content-type application/pdf), certifying the
# binary-body WARC path — q75 covers the text/html one.  The explode is
# row-local (no shuffle); the only shuffle is the count's group key;
# synthesis + extraction are payload-parallel mapInPandas.
# --------------------------------------------------------------------------
@query(
    "q64_explode_tokens",
    oracle=r"""
SELECT token, COUNT(*) AS n
FROM (SELECT unnest(string_split(lower(text), ' ')) AS token
      FROM documents WHERE doc_id < 1500)
WHERE length(token) > 3
GROUP BY token
ORDER BY n DESC, token
LIMIT 100
""",
)
def q64_explode_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    from swiftlake_spark.operators.doctext import extract_document_text
    from swiftlake_spark.operators.pdftext import encode_pdf
    from swiftlake_spark.operators.warc import encode_warc, warc_records

    # same local-mode spread rationale as q75: synthesis is harness-only
    # doc_id < 1500 bounds the certification corpus (covers every doc at
    # the sf0.01 oracle tier; q120/q144/q151 precedent) — the operators'
    # scale behavior is proven by scripts/ingest_stress.py, not here
    base = (
        load(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 1500)
        .select("doc_id", "text")
        .repartition(8, "doc_id")
    )

    def to_warc(batches):
        for b in batches:
            recs = []
            for did, txt in zip(b["doc_id"], b["text"]):
                kw = (
                    {"compress": True}
                    if did % 3 == 1
                    else {"ascii85": True} if did % 3 == 2 else {}
                )
                recs.append({
                    "type": "response",
                    "uri": f"http://corpus.test/{int(did)}.pdf",
                    "content_type": "application/pdf",
                    "payload": encode_pdf([txt], **kw),
                })
            blobs = [
                encode_warc(recs[i : i + 64])
                for i in range(0, len(recs), 64)
            ]
            yield pd.DataFrame({"data": blobs}, columns=["data"])

    blobs = base.mapInPandas(to_warc, "data binary")
    pdfs = (
        warc_records(blobs, "data")
        .filter(F.col("content_type") == "application/pdf")
        .select(F.col("body").alias("data"))
    )
    d = extract_document_text(pdfs, "data")
    return (
        d.select(F.explode(F.split(F.lower("text"), " ", -1)).alias("token"))
        .filter(F.length("token") > 3)
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "token")
        .limit(100)
    )


# --------------------------------------------------------------------------
# q65 — ordered string aggregation per group (DuckDB string_agg ORDER BY ≙
# sorted collect_list + concat_ws).  collect_list is a partial agg, so one
# shuffle on the group key; array_sort makes the result order-determined.
# --------------------------------------------------------------------------
@query(
    "q65_string_agg",
    oracle=r"""
SELECT n_name,
       COUNT(*) AS n_custs,
       string_agg(c_name, ',' ORDER BY c_name) AS members
FROM customer JOIN nation ON c_nationkey = n_nationkey
WHERE c_custkey <= 500
GROUP BY n_name
ORDER BY n_name
""",
)
def q65_string_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer").filter(F.col("c_custkey") <= 500)
    n = load(spark, sf_dir, "nation")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_custs"),
            F.concat_ws(",", F.array_sort(F.collect_list("c_name"))).alias("members"),
        )
        .orderBy("n_name")
    )


# --------------------------------------------------------------------------
# q66 — UNPIVOT: wide part metrics → long (metric, value) rows.  Row-local
# (a generate node), no shuffle.  Oracle spelled as UNION ALL — same rows.
# --------------------------------------------------------------------------
@query(
    "q66_unpivot",
    oracle=r"""
SELECT p_partkey, metric, value FROM (
  SELECT p_partkey, 'size' AS metric, CAST(p_size AS DOUBLE) AS value FROM part
  UNION ALL
  SELECT p_partkey, 'retailprice' AS metric, p_retailprice AS value FROM part
)
WHERE p_partkey <= 300
ORDER BY p_partkey, metric
""",
)
def q66_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load(spark, sf_dir, "part").filter(F.col("p_partkey") <= 300)
    wide = p.select(
        "p_partkey",
        F.col("p_size").cast("double").alias("size"),
        F.col("p_retailprice").alias("retailprice"),
    )
    return (
        wide.unpivot("p_partkey", ["size", "retailprice"], "metric", "value")
        .orderBy("p_partkey", "metric")
    )


# --------------------------------------------------------------------------
# q67 — regexp functions: extract / replace-all / count.  Row-local string
# kernels inside codegen; DuckDB needs the 'g' flag to match Spark's
# replace-all default.
# --------------------------------------------------------------------------
@query(
    "q67_regexp",
    oracle=r"""
SELECT p_partkey,
       regexp_extract(p_brand, '([0-9]+)', 1) AS brand_num,
       regexp_replace(p_type, '[aeiou]', '', 'g') AS type_novowel,
       length(regexp_replace(p_name, '[^ ]', '', 'g')) + 1 AS name_words
FROM part
WHERE p_partkey <= 300 AND regexp_matches(p_brand, '[0-9]')
ORDER BY p_partkey
""",
)
def q67_regexp(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load(spark, sf_dir, "part").filter(F.col("p_partkey") <= 300)
    return (
        p.filter(F.col("p_brand").rlike("[0-9]"))
        .select(
            "p_partkey",
            F.regexp_extract("p_brand", "([0-9]+)", 1).alias("brand_num"),
            F.regexp_replace("p_type", "[aeiou]", "").alias("type_novowel"),
            (F.length(F.regexp_replace("p_name", "[^ ]", "")) + 1).alias("name_words"),
        )
        .orderBy("p_partkey")
    )


# --------------------------------------------------------------------------
# q68 — sequence generation + explode (DuckDB generate_series).  Generates
# rows without reading data beyond the driver table — row-local.
# --------------------------------------------------------------------------
@query(
    "q68_sequence",
    oracle=r"""
SELECT n_nationkey, i, n_nationkey * 10 + i AS rank_code
FROM nation, UNNEST(generate_series(1, n_nationkey % 4 + 1)) AS t(i)
ORDER BY n_nationkey, i
""",
)
def q68_sequence(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = load(spark, sf_dir, "nation")
    return (
        n.select(
            "n_nationkey",
            F.explode(F.sequence(F.lit(1).cast("long"), F.col("n_nationkey") % 4 + 1)).alias("i"),
        )
        .withColumn("rank_code", F.col("n_nationkey") * 10 + F.col("i"))
        .orderBy("n_nationkey", "i")
    )


# --------------------------------------------------------------------------
# q69 — bitwise ops: AND / OR / XOR / shifts on 64-bit keys (hash bucketing
# arithmetic — the kernel under every hash-partitioner).
# --------------------------------------------------------------------------
@query(
    "q69_bitwise",
    oracle=r"""
SELECT o_orderkey,
       o_orderkey & 255  AS low_byte,
       o_orderkey | 4096 AS with_flag,
       xor(o_orderkey, 21845) AS xored,
       o_orderkey << 2 AS shl,
       o_orderkey >> 3 AS shr
FROM orders
WHERE o_orderkey <= 400
ORDER BY o_orderkey
""",
)
def q69_bitwise(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders").filter(F.col("o_orderkey") <= 400)
    k = F.col("o_orderkey")
    return o.select(
        "o_orderkey",
        k.bitwiseAND(F.lit(255)).alias("low_byte"),
        k.bitwiseOR(F.lit(4096)).alias("with_flag"),
        k.bitwiseXOR(F.lit(21845)).alias("xored"),
        F.shiftleft(k, 2).alias("shl"),
        F.shiftright(k, 3).alias("shr"),
    ).orderBy("o_orderkey")


# --------------------------------------------------------------------------
# q70 — date/time arithmetic: truncation, interval add, day diffs, parts.
# --------------------------------------------------------------------------
@query(
    "q70_date_arith",
    oracle=r"""
SELECT o_orderkey,
       CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month_start,
       o_orderdate + INTERVAL 10 DAY    AS plus10,
       date_diff('day', o_orderdate, TIMESTAMP '1998-01-01 00:00:00') AS days_to_98,
       CAST(extract(year FROM o_orderdate) AS INTEGER)    AS yr,
       CAST(extract(quarter FROM o_orderdate) AS INTEGER) AS qtr,
       last_day(CAST(o_orderdate AS DATE)) AS month_end
FROM orders
WHERE o_orderkey <= 400
ORDER BY o_orderkey
""",
)
def q70_date_arith(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders").filter(F.col("o_orderkey") <= 400)
    d = F.col("o_orderdate")
    return o.select(
        "o_orderkey",
        F.date_trunc("month", d).alias("month_start"),
        (d + F.expr("INTERVAL 10 DAY")).alias("plus10"),
        F.datediff(F.lit("1998-01-01").cast("date"), d.cast("date")).alias("days_to_98"),
        F.year(d).alias("yr"),
        F.quarter(d).alias("qtr"),
        F.last_day(d.cast("date")).alias("month_end"),
    ).orderBy("o_orderkey")


# --------------------------------------------------------------------------
# q71 — array functions over embedding vectors: length, indexing, slices,
# element-wise reductions.  All row-local codegen — the 100 TB cost is the
# scan itself.
# --------------------------------------------------------------------------
@query(
    "q71_array_funcs",
    oracle=r"""
SELECT vec_id,
       len(embedding)                    AS dim,
       embedding[1]                      AS first_val,
       embedding[8]                      AS last_val,
       len(embedding[1:3])               AS head_len,
       list_max(embedding)               AS vmax,
       list_min(embedding)               AS vmin
FROM embeddings
WHERE vec_id <= 500
ORDER BY vec_id
""",
)
def q71_array_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "embeddings").filter(F.col("vec_id") <= 500)
    return e.select(
        "vec_id",
        F.size("embedding").alias("dim"),
        F.element_at("embedding", 1).alias("first_val"),
        F.element_at("embedding", 8).alias("last_val"),
        F.size(F.slice("embedding", 1, 3)).alias("head_len"),
        F.array_max("embedding").alias("vmax"),
        F.array_min("embedding").alias("vmin"),
    ).orderBy("vec_id")


# --------------------------------------------------------------------------
# q72 — TPC-H Q5 shape: 6-way join (region→nation→customer→orders→lineitem
# →supplier with c_nationkey = s_nationkey).  region/nation/supplier/
# customer broadcast; orders⋈lineitem shuffles once on the order key.
# --------------------------------------------------------------------------
@query(
    "q72_local_volume",
    oracle=r"""
SELECT n_name,
       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,6))) AS DOUBLE) AS revenue
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE r_name IN ('ASIA', 'EUROPE')
  AND o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
GROUP BY n_name
ORDER BY revenue DESC, n_name
""",
)
def q72_local_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1995-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
    )
    li = load(spark, sf_dir, "lineitem")
    s = load(spark, sf_dir, "supplier")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region").filter(F.col("r_name").isin("ASIA", "EUROPE"))
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(28,6)")
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(
            F.broadcast(s),
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("n_name")
        .agg(as_double(F.sum(rev)).alias("revenue"))
        .orderBy(F.desc("revenue"), "n_name")
    )


# --------------------------------------------------------------------------
# q73 — window-function long tail: ntile, percent_rank, cume_dist,
# first/last/nth value, lag/lead.  Unique ORDER BY key (price, orderkey)
# makes ntile and frame-dependent functions deterministic.
# --------------------------------------------------------------------------
@query(
    "q73_window_extras",
    oracle=r"""
SELECT o_orderkey, o_orderstatus,
       ntile(4)       OVER w AS quartile,
       percent_rank() OVER w AS pr,
       cume_dist()    OVER w AS cd,
       first_value(o_orderkey) OVER w AS cheapest,
       nth_value(o_orderkey, 2) OVER w AS second_cheapest,
       lag(o_orderkey)  OVER w AS prev_key,
       lead(o_orderkey) OVER w AS next_key
FROM orders
WHERE o_orderkey <= 1000
WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_totalprice, o_orderkey)
ORDER BY o_orderkey
""",
)
def q73_window_extras(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders").filter(F.col("o_orderkey") <= 1000)
    w = W.partitionBy("o_orderstatus").orderBy("o_totalprice", "o_orderkey")
    return o.select(
        "o_orderkey",
        "o_orderstatus",
        F.ntile(4).over(w).alias("quartile"),
        F.percent_rank().over(w).alias("pr"),
        F.cume_dist().over(w).alias("cd"),
        F.first("o_orderkey").over(w).alias("cheapest"),
        F.nth_value("o_orderkey", 2).over(w).alias("second_cheapest"),
        F.lag("o_orderkey").over(w).alias("prev_key"),
        F.lead("o_orderkey").over(w).alias("next_key"),
    ).orderBy("o_orderkey")


# --------------------------------------------------------------------------
# q74 — conditional aggregation: FILTER-clause aggregates, bool_and/or,
# count_if.  All partial-aggregate friendly (map-side combine), one
# shuffle on the group key.
# --------------------------------------------------------------------------
@query(
    "q74_conditional_agg",
    oracle=r"""
SELECT l_returnflag,
       COUNT(*) FILTER (WHERE l_discount > 0.05) AS n_discounted,
       COUNT(*) FILTER (WHERE l_quantity >= 25)  AS n_bulk,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) FILTER (WHERE l_linestatus = 'F')
            AS DOUBLE) AS filled_price,
       bool_and(l_quantity > 0)   AS all_positive,
       bool_or(l_discount > 0.09) AS any_big_discount
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
""",
)
def q74_conditional_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.count_if(F.col("l_discount") > 0.05).alias("n_discounted"),
            F.count_if(F.col("l_quantity") >= 25).alias("n_bulk"),
            as_double(
                F.sum(F.when(F.col("l_linestatus") == "F", dec("l_extendedprice")))
            ).alias("filled_price"),
            F.bool_and(F.col("l_quantity") > 0).alias("all_positive"),
            F.bool_or(F.col("l_discount") > 0.09).alias("any_big_discount"),
        )
        .orderBy("l_returnflag")
    )


# --------------------------------------------------------------------------
# q75 — Gopher-style quality-filter rules: token counts, mean token
# length, stop-word fraction → keep flag.  Widened r12 (VERDICT r11 ask
# #2) to certify the WARC crawl-ingestion chain under the DuckDB oracle:
# the Spark side first renders every document as an HTML page, wraps
# pages into per-record-gzip WARC blobs (the Common Crawl layout, ISO
# 28500), explodes them back out with operators/warc.warc_records,
# recovers the text with the real HTML extractor
# (operators/doctext.extract_document_text), and only then computes the
# rules — while the oracle computes the same rules on the ORIGINAL text.
# A hash match therefore proves WARC framing + per-record gzip + HTTP
# parse + HTML extraction are collectively exact.  Scale shape: the
# synthesis and the extraction are both payload-parallel mapInPandas
# (unit of parallelism = WARC blob, ~64 records each), the rules stay
# row-local codegen, and nothing but the final ordered result reaches
# the driver.
# --------------------------------------------------------------------------
@query(
    "q75_gopher_rules",
    oracle=r"""
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS w,
         LENGTH(REPLACE(text, ' ', '')) AS letters
  FROM documents WHERE doc_id < 1500
), m AS (
  SELECT doc_id,
         LEN(w) AS n_tokens,
         CAST(letters AS DOUBLE) / LEN(w) AS mean_tok_len,
         CAST(LEN(list_filter(w, x -> x IN ('the','a','and','of','to','in'))) AS DOUBLE)
           / LEN(w) AS stop_frac
  FROM t
)
SELECT doc_id, n_tokens, mean_tok_len, stop_frac,
       (n_tokens BETWEEN 10 AND 1000
        AND mean_tok_len BETWEEN 2.0 AND 10.0
        AND stop_frac >= 0.02) AS keep
FROM m
ORDER BY doc_id
""",
)
def q75_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    from swiftlake_spark.operators.doctext import extract_document_text
    from swiftlake_spark.operators.warc import encode_warc, warc_records

    # 8-way spread of the tiny local corpus: the synthesis stage is
    # certification harness only (production ingests real WARC blobs at
    # the scan's own partitioning); at this data size per-task Python
    # round-trips dominate, so fewer/fatter Arrow batches win.
    # doc_id < 1500 bounds the certification corpus (covers every doc at
    # the sf0.01 oracle tier; q120/q144/q151 precedent) — the operators'
    # scale behavior is proven by scripts/ingest_stress.py, not here
    base = (
        load(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 1500)
        .select("doc_id", "text")
        .repartition(8, "doc_id")
    )

    def to_warc(batches):
        for b in batches:
            recs = [
                {
                    "type": "response",
                    "uri": f"http://corpus.test/{int(did)}",
                    "payload": (
                        f"<html><body><p>{txt}</p></body></html>"
                    ).encode("utf-8"),
                }
                for did, txt in zip(b["doc_id"], b["text"])
            ]
            blobs = [
                encode_warc(recs[i : i + 64], per_record_gzip=True)
                for i in range(0, len(recs), 64)
            ]
            yield pd.DataFrame({"data": blobs}, columns=["data"])

    blobs = base.mapInPandas(to_warc, "data binary")
    responses = (
        warc_records(blobs, "data")
        .filter(
            (F.col("record_type") == "response")
            & (F.col("http_status") == 200)
        )
        .select("uri", "body")  # prune before the Arrow extract stage
    )
    d = extract_document_text(responses, "body").select(
        F.regexp_extract("uri", r"(\d+)$", 1).cast("bigint").alias("doc_id"),
        "text",
    )
    w = F.split(F.col("text"), " ", -1)
    stops = ("the", "a", "and", "of", "to", "in")
    n_tokens = F.size(w)
    mean_tok_len = F.length(F.replace(F.col("text"), F.lit(" "), F.lit(""))).cast(
        "double"
    ) / n_tokens
    stop_frac = F.size(F.filter(w, lambda x: x.isin(*stops))).cast("double") / n_tokens
    keep = (
        n_tokens.between(10, 1000)
        & mean_tok_len.between(2.0, 10.0)
        & (stop_frac >= 0.02)
    )
    return d.select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        mean_tok_len.alias("mean_tok_len"),
        stop_frac.alias("stop_frac"),
        keep.alias("keep"),
    ).orderBy("doc_id")


# --------------------------------------------------------------------------
# q76 — training-sequence packing: assign docs to fixed token-budget
# packs, greedily in doc_id order WITHIN each source shard.  The window
# partitions by source, so parallelism = shard count at any scale (never
# a single global ordering).
# --------------------------------------------------------------------------
@query(
    "q76_pack_sequences",
    oracle=r"""
WITH t AS (
  SELECT doc_id, source,
         CASE WHEN text = '' THEN 0
              ELSE LEN(string_split(text, ' ')) END AS n_tokens
  FROM documents
), c AS (
  -- CAST: DuckDB's window SUM yields HUGEINT (INT128); pin BIGINT so the
  -- driver's value canonicalizer renders identically to Spark's LongType
  SELECT doc_id, source, n_tokens,
         CAST(SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                                  ROWS UNBOUNDED PRECEDING) AS BIGINT)
         - n_tokens AS cum_before
  FROM t
)
SELECT doc_id, source, n_tokens,
       cum_before // 256 AS pack_id,
       cum_before % 256  AS pack_offset
FROM c
ORDER BY source, doc_id
""",
)
def q76_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    n_tokens = F.when(F.col("text") == "", F.lit(0)).otherwise(
        F.size(F.split(F.col("text"), " ", -1))
    )
    w = W.partitionBy("source").orderBy("doc_id").rowsBetween(W.unboundedPreceding, 0)
    t = d.select("doc_id", "source", n_tokens.alias("n_tokens"))
    c = t.withColumn("cum_before", F.sum("n_tokens").over(w) - F.col("n_tokens"))
    return c.select(
        "doc_id",
        "source",
        "n_tokens",
        F.expr("cum_before div 256").alias("pack_id"),
        (F.col("cum_before") % 256).alias("pack_offset"),
    ).orderBy("source", "doc_id")


# --------------------------------------------------------------------------
# q77 — train/eval contamination check: fraction of an eval doc's 3-gram
# shingles that appear anywhere in the train split.  Shuffles on the
# gram (bounded by distinct-gram cardinality); the train side is
# deduplicated before the join so the probe is |distinct grams|, not
# |corpus|.
# --------------------------------------------------------------------------
@query(
    "q77_contamination",
    oracle=r"""
WITH words AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w FROM documents
), grams AS (
  SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS g
  FROM words, UNNEST(generate_series(1, GREATEST(LEN(w) - 2, 0))) AS t(i)
), eval_grams AS (
  SELECT doc_id, g FROM grams WHERE doc_id % 10 = 0
), train_grams AS (
  SELECT DISTINCT g FROM grams WHERE doc_id % 10 <> 0
)
SELECT e.doc_id,
       COUNT(*) AS total_grams,
       COUNT(t.g) AS shared_grams,
       CAST(COUNT(t.g) AS DOUBLE) / COUNT(*) AS contamination
FROM eval_grams e LEFT JOIN train_grams t ON e.g = t.g
GROUP BY e.doc_id
ORDER BY contamination DESC, e.doc_id
LIMIT 50
""",
)
def q77_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    from swiftlake_spark.operators.dedup import shingles

    d = load(spark, sf_dir, "documents")
    # Deliberately NOT persisted/checkpointed: Catalyst pushes the
    # divergent eval/train filters through the distinct, so the plan scans
    # `documents` twice — but each scan is column-pruned + filter-pushed,
    # and measurement at sf0.1/local[32] shows the two-scan shape wins
    # (2.5 s) over persist() (3.3-3.9 s) and localCheckpoint (2.9-3.4 s):
    # materializing the exploded gram relation (~3x corpus text) costs
    # more than re-reading compressed parquet.  The same asymmetry holds
    # at 100 TB, where the materialization would spill ~3x the corpus to
    # executor disks; cost of the double scan stays linear.  A single-
    # scan restructure (groupBy gram, max(train-flag) + collect_list of
    # eval ids, re-explode) also measured slower (3.0-3.2 s) — the
    # collect_list shuffle carries every eval doc id per gram and adds a
    # stop-word skew hazard the join shape doesn't have.
    grams = shingles(d, "doc_id", "text", 3)
    eval_g = grams.filter(F.col("id") % 10 == 0)
    train_g = grams.filter(F.col("id") % 10 != 0).select("sh").distinct()
    hit = train_g.withColumn("hit", F.lit(1))
    return (
        eval_g.join(hit, "sh", "left")
        .groupBy(F.col("id").alias("doc_id"))
        .agg(
            F.count(F.lit(1)).alias("total_grams"),
            F.count("hit").alias("shared_grams"),
            (F.count("hit").cast("double") / F.count(F.lit(1))).alias("contamination"),
        )
        .orderBy(F.desc("contamination"), "doc_id")
        .limit(50)
    )


# --------------------------------------------------------------------------
# q78 — TPC-H Q10 shape: revenue lost to returns per customer, top 20.
# customer⋈orders⋈lineitem with the date filter pushed to the orders
# scan and the returnflag filter pushed to the lineitem scan.
# --------------------------------------------------------------------------
@query(
    "q78_returned_revenue",
    oracle=r"""
SELECT c_custkey, c_name,
       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,6))) AS DOUBLE) AS revenue,
       c_acctbal, n_name
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN nation   ON c_nationkey = n_nationkey
WHERE o_orderdate >= TIMESTAMP '1995-07-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1996-07-01 00:00:00'
  AND l_returnflag = 'R'
GROUP BY c_custkey, c_name, c_acctbal, n_name
ORDER BY revenue DESC, c_custkey
LIMIT 20
""",
)
def q78_returned_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1995-07-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-07-01 00:00:00").cast("timestamp"))
    )
    li = load(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    n = load(spark, sf_dir, "nation")
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(28,6)")
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(as_double(F.sum(rev)).alias("revenue"))
        .select("c_custkey", "c_name", "revenue", "c_acctbal", "n_name")
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


# --------------------------------------------------------------------------
# q79 — median (exact interpolated 0.5-quantile, identical in both
# engines) per group alongside exact decimal means.  Medians need a
# per-group sort; Spark's ObjectHashAggregate holds group buffers — at
# scale the group count (returnflag×linestatus ≤ 6) keeps state tiny.
#
# r14 optimization attempt, MEASURED AND REVERTED (guide §1.1): two
# count-based restructures (per-column (group,value) count aggregates +
# cumulative-count window, bit-equal to F.median — verified at all
# three SFs; then a single tagged-explode pass) removed the per-group
# value buffer but measured SLOWER at sf0.1/local[32] min-of-3: 1.74 s
# baseline → 2.12 s (3-subtree, 10 jobs) → 2.85 s (tagged explode,
# 1.8M-row generator + a window that still serializes at 6 groups).
# The exact-median bottleneck is the 6-way group cardinality, which no
# reshuffle of this query fixes; the object-agg buffer caveat at
# extreme scale stands and is documented in OPTIMIZATION_r14.md.
#
# r15 attempt #4 (VERDICT r14 ask), MEASURED AND NOT LANDED: decomposed
# cost shows median(l_orderkey) alone is 0.90 s of the 1.65 s (147k
# distinct boxed keys through the interpreted Percentile buffer; the
# scan is 0.19 s, median(l_quantity) 0.36 s).  A frequency-weighted
# two-pass ("percentile(l_orderkey, 0.5, cnt)" over a codegen'd
# (group, orderkey) count pre-aggregate, broadcast-joined back to the
# one-pass aggregate of the other three columns) measured a same-tide
# WASH (1.18 vs 1.24 settled min-of-6, values bit-equal) while costing
# a SECOND full lineitem scan — strictly worse at 100 TB.  The one-scan
# form stands; item closed per the four-attempts rule.
# --------------------------------------------------------------------------

@query(
    "q79_median_stats",
    oracle=r"""
SELECT l_returnflag, l_linestatus,
       median(l_quantity)  AS med_qty,
       median(l_orderkey)  AS med_key,
       COUNT(*) AS n,
       CAST(SUM(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_disc
FROM lineitem
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
""",
)
def q79_median_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    n = F.count(F.lit(1))
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.median("l_quantity").alias("med_qty"),
            F.median("l_orderkey").alias("med_key"),
            n.alias("n"),
            (as_double(F.sum(dec("l_discount"))) / n).alias("avg_disc"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


# --------------------------------------------------------------------------
# q80 — bag-semantics set ops: EXCEPT ALL / INTERSECT ALL keep duplicate
# multiplicity (the distinct variants are q10).  One shuffle each on the
# full row as the key.
# --------------------------------------------------------------------------
@query(
    "q80_set_ops_all",
    oracle=r"""
SELECT v, COUNT(*) AS n FROM (
  SELECT l_quantity AS v FROM lineitem WHERE l_orderkey <= 400
  EXCEPT ALL
  SELECT l_quantity AS v FROM lineitem WHERE l_orderkey <= 200
)
GROUP BY v
ORDER BY v
""",
)
def q80_set_ops_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    a = li.filter(F.col("l_orderkey") <= 400).select(F.col("l_quantity").alias("v"))
    b = li.filter(F.col("l_orderkey") <= 200).select(F.col("l_quantity").alias("v"))
    return (
        a.exceptAll(b)
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("v")
    )


# --------------------------------------------------------------------------
# q81 — GROUPING() disambiguation: tells a rollup total row apart from a
# genuine NULL group value (the standard companion to q12/q24/q62).
# --------------------------------------------------------------------------
@query(
    "q81_grouping_id",
    oracle=r"""
SELECT o_orderstatus,
       GROUPING(o_orderstatus) AS is_total,
       COUNT(*) AS n
FROM orders
GROUP BY ROLLUP (o_orderstatus)
ORDER BY is_total, o_orderstatus
""",
)
def q81_grouping_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    load(spark, sf_dir, "orders").createOrReplaceTempView("__q81_orders")
    return spark.sql(
        """
        SELECT o_orderstatus,
               CAST(GROUPING(o_orderstatus) AS BIGINT) AS is_total,
               COUNT(*) AS n
        FROM __q81_orders
        GROUP BY ROLLUP (o_orderstatus)
        ORDER BY is_total, o_orderstatus
        """
    )


# --------------------------------------------------------------------------
# q82 — TPC-H Q7 shape: volume shipped between two specific nation pairs
# (OR of cross pairs on a doubled nation dim).  The OR-of-pairs predicate
# references BOTH sides, so Catalyst cannot push it below the joins on its
# own — the classic Q7 plan pre-filters each nation copy to the two names
# BEFORE joining (~92% of rows never reach the fact joins; the cross-pair
# filter stays afterwards for exactness).  Supplier⋈nation₂ broadcasts
# into lineitem so the big fact shrinks map-side, before any shuffle;
# customer⋈nation₁ broadcasts likewise, shrinking the orders shuffle.
# --------------------------------------------------------------------------
@query(
    "q82_nation_volume",
    oracle=r"""
SELECT n1.n_name AS cust_nation, n2.n_name AS supp_nation,
       CAST(extract(year FROM o_orderdate) AS INTEGER) AS yr,
       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,6))) AS DOUBLE) AS volume
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation n1 ON c_nationkey = n1.n_nationkey
JOIN nation n2 ON s_nationkey = n2.n_nationkey
WHERE ((n1.n_name = 'NATION_19' AND n2.n_name = 'NATION_18')
    OR (n1.n_name = 'NATION_18' AND n2.n_name = 'NATION_19'))
GROUP BY n1.n_name, n2.n_name, yr
ORDER BY cust_nation, supp_nation, yr
""",
)
def q82_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    s = load(spark, sf_dir, "supplier")
    n = load(spark, sf_dir, "nation")
    names = ["NATION_18", "NATION_19"]
    n1 = n.filter(F.col("n_name").isin(names)).select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("cust_nation")
    )
    n2 = n.filter(F.col("n_name").isin(names)).select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("supp_nation")
    )
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(28,6)")
    pair = (
        (F.col("cust_nation") == "NATION_19") & (F.col("supp_nation") == "NATION_18")
    ) | ((F.col("cust_nation") == "NATION_18") & (F.col("supp_nation") == "NATION_19"))
    s2 = s.join(F.broadcast(n2), F.col("s_nationkey") == F.col("n2_key")).select(
        "s_suppkey", "supp_nation"
    )
    c2 = c.join(F.broadcast(n1), F.col("c_nationkey") == F.col("n1_key")).select(
        "c_custkey", "cust_nation"
    )
    return (
        li.join(F.broadcast(s2), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c2, F.col("o_custkey") == F.col("c_custkey"))
        .filter(pair)
        .groupBy("cust_nation", "supp_nation", F.year("o_orderdate").alias("yr"))
        .agg(as_double(F.sum(rev)).alias("volume"))
        .orderBy("cust_nation", "supp_nation", "yr")
    )


# --------------------------------------------------------------------------
# q83 — TPC-H Q11 shape: groups whose share exceeds a fraction of the
# GLOBAL total (scalar aggregate subquery in HAVING).  The global total
# is one extra reduce whose single row broadcasts into the filter.
# --------------------------------------------------------------------------
@query(
    "q83_important_stock",
    oracle=r"""
SELECT l_partkey,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS part_value
FROM lineitem
GROUP BY l_partkey
HAVING CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) > (
  SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) * 0.00005
  FROM lineitem
)
ORDER BY part_value DESC, l_partkey
""",
)
def q83_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r14 (guide §1.2 / §2.4): the scalar-subquery form scanned lineitem
    # TWICE (per-partkey aggregate + a second full scan for the global
    # total).  The global decimal total equals the sum of the per-group
    # decimal sums exactly (decimal addition is associative), so derive
    # the threshold from the grouped relation itself: one scan, one
    # shuffle, and the tiny re-aggregate broadcasts back into the filter.
    # The HAVING comparison still happens on the same doubles (each side
    # cast from the identical exact decimal), so results are unchanged
    # (plans/r14/q83_important_stock_{before,after}.txt: 2 scans → 1).
    load(spark, sf_dir, "lineitem").createOrReplaceTempView("__q83_lineitem")
    return spark.sql(
        """
        WITH grouped AS (
          SELECT l_partkey,
                 SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS __s
          FROM __q83_lineitem
          GROUP BY l_partkey
        )
        SELECT l_partkey, CAST(__s AS DOUBLE) AS part_value
        FROM grouped
        WHERE CAST(__s AS DOUBLE) > (
          SELECT CAST(SUM(__s) AS DOUBLE) * 0.00005 FROM grouped
        )
        ORDER BY part_value DESC, l_partkey
        """
    )


# --------------------------------------------------------------------------
# q101 — recursive CTE: gap-filling month spine (WITH RECURSIVE, Spark
# ≥4.0 / DuckDB both support it).  Generates the monthly calendar
# spanning the order history and left-joins per-month order counts —
# the canonical time-series gap-fill, recursion depth = #months (tiny,
# driver-side plan expansion; the joined fact side stays distributed).
# --------------------------------------------------------------------------
@query(
    "q101_recursive_spine",
    oracle=r"""
WITH RECURSIVE months(m) AS (
  SELECT TIMESTAMP '1995-01-01'
  UNION ALL
  SELECT m + INTERVAL 1 MONTH FROM months WHERE m < TIMESTAMP '2001-07-01'
)
SELECT months.m AS month_start,
       COUNT(o.o_orderkey) AS n_orders,
       CAST(SUM(CAST(COALESCE(o.o_totalprice, 0) AS DECIMAL(18,2))) AS DOUBLE)
       AS month_revenue
FROM months
LEFT JOIN orders o ON date_trunc('month', o.o_orderdate) = months.m
GROUP BY months.m
ORDER BY months.m
""",
)
def q101_recursive_spine(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r14 (guide §2.3 aggregate before you shuffle): group orders by
    # month FIRST, then left-join the ~80-row spine onto the ~80-row
    # aggregate — the spine join no longer carries every order row.
    # Equivalence: COUNT(o_orderkey) of an unmatched month is 0 (=
    # COALESCE(NULL, 0)); decimal sums are associative and o_totalprice
    # is aggregated over exactly the same rows per month.
    load(spark, sf_dir, "orders").createOrReplaceTempView("__q101_orders")
    return spark.sql(
        """
        WITH RECURSIVE months(m) AS (
          SELECT TIMESTAMP '1995-01-01'
          UNION ALL
          SELECT m + INTERVAL 1 MONTH FROM months WHERE m < TIMESTAMP '2001-07-01'
        ),
        agg AS (
          SELECT date_trunc('month', o_orderdate) AS m,
                 COUNT(o_orderkey) AS n_orders,
                 SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
          FROM __q101_orders
          GROUP BY date_trunc('month', o_orderdate)
        )
        SELECT months.m AS month_start,
               COALESCE(a.n_orders, CAST(0 AS BIGINT)) AS n_orders,
               CAST(COALESCE(a.rev, CAST(0 AS DECIMAL(18,2))) AS DOUBLE)
               AS month_revenue
        FROM months
        LEFT JOIN agg a ON a.m = months.m
        ORDER BY months.m
        """
    )


# --------------------------------------------------------------------------
# q111 — nested schema evolution end-to-end: a table whose live files
# span three schema generations (original struct → nested rename + widen
# + nested add) is read back through the ID-based read plan
# (tables/evolution.build_read_plan, ≙ SchemaEvolution.java:511-587).
# The oracle recomputes the expected final relation straight from the
# base `nation` parquet — engine-independent.  The evolved table is
# built once per (session, sf_dir) and cached: 25 rows, metadata-only
# evolution commits, so the build never touches data at scale.
# --------------------------------------------------------------------------
def _q111_table(spark: SparkSession, sf_dir: str):
    import tempfile

    from swiftlake_spark.tables.catalog import Catalog

    key = (spark.sparkContext.applicationId, sf_dir)
    wh = registry.get_tempdir("q111_wh", key)
    if wh is not None:
        return Catalog(spark, wh).table("db.q111")
    wh = tempfile.mkdtemp(prefix="swiftlake_q111_")
    cat = Catalog(spark, wh)
    t = cat.create_table("db.q111", "id BIGINT, info STRUCT<nm: STRING, rk: INT>")
    nation = load(spark, sf_dir, "nation")
    gen1 = nation.filter("n_nationkey <= 12").select(
        F.col("n_nationkey").cast("bigint").alias("id"),
        F.struct(
            F.col("n_name").alias("nm"),
            F.col("n_regionkey").cast("int").alias("rk"),
        ).alias("info"),
    )
    t.append(gen1)
    # metadata-only evolution: rename keeps the field ID, widen upcasts
    # at read, the added leaf NULL-fills gen-1 files
    t.rename_column("info.rk", "region_key")
    t.widen_column("info.region_key", "bigint")
    t.add_column("info.bonus", "bigint")
    gen2 = nation.filter("n_nationkey > 12").select(
        F.col("n_nationkey").cast("bigint").alias("id"),
        F.struct(
            F.col("n_name").alias("nm"),
            F.col("n_regionkey").cast("bigint").alias("region_key"),
            (F.col("n_nationkey").cast("bigint") * 2).alias("bonus"),
        ).alias("info"),
    )
    t.append(gen2)
    registry.put_tempdir("q111_wh", key, wh, app_id=key[0])
    return t


@query(
    "q111_nested_evolution",
    oracle=r"""
SELECT CAST(n_nationkey AS BIGINT) AS id,
       n_name AS name,
       CAST(n_regionkey AS BIGINT) AS region_key,
       CASE WHEN n_nationkey <= 12 THEN NULL
            ELSE CAST(n_nationkey * 2 AS BIGINT) END AS bonus
FROM nation
ORDER BY id
""",
)
def q111_nested_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _q111_table(spark, sf_dir)
    return t.scan().select(
        "id",
        F.col("info.nm").alias("name"),
        F.col("info.region_key").alias("region_key"),
        F.col("info.bonus").alias("bonus"),
    ).orderBy("id")


# --------------------------------------------------------------------------
# q112 — Iceberg-parity murmur3 bucket partitioning end-to-end: customers
# are written through an mbucket(8, c_custkey)-partitioned table (the
# bucket function is murmur3 x86_32 over the Iceberg single-value
# serialization — tables/transforms.py, spec vectors pinned in pytest)
# and read back with a selective filter + a bucket-pruned point lookup.
# The oracle recomputes the expected relation from raw `customer`
# parquet, so the check is murmur3-independent: any row misplaced,
# dropped or duplicated by the bucketed write/prune path breaks the
# hash.  Built once per (session, sf_dir) and cached.
# --------------------------------------------------------------------------
def _q112_table(spark: SparkSession, sf_dir: str):
    import tempfile

    from swiftlake_spark.tables.catalog import Catalog

    key = (spark.sparkContext.applicationId, sf_dir)
    wh = registry.get_tempdir("q112_wh", key)
    if wh is not None:
        return Catalog(spark, wh).table("db.q112")
    wh = tempfile.mkdtemp(prefix="swiftlake_q112_")
    cat = Catalog(spark, wh)
    t = cat.create_table(
        "db.q112",
        "c_custkey BIGINT, c_nationkey INT, c_acctbal DOUBLE, c_mktsegment STRING",
        partition_spec=["mbucket(8, c_custkey)"],
    )
    t.append(
        load(spark, sf_dir, "customer").select(
            F.col("c_custkey").cast("bigint"),
            F.col("c_nationkey").cast("int"),
            "c_acctbal",
            "c_mktsegment",
        )
    )
    registry.put_tempdir("q112_wh", key, wh, app_id=key[0])
    return t


@query(
    "q112_murmur3_bucket",
    oracle=r"""
SELECT CAST(c_custkey AS BIGINT) AS c_custkey,
       CAST(c_nationkey AS INT) AS c_nationkey,
       c_acctbal, c_mktsegment
FROM customer
WHERE c_acctbal > 9000.0 OR c_custkey = 42
ORDER BY c_custkey
""",
)
def q112_murmur3_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    from swiftlake_spark.tables import expressions as E

    t = _q112_table(spark, sf_dir)
    # point lookup goes through bucket pruning (eq projects to one
    # bucket); the range predicate reads all buckets but row-filters
    rich = t.scan(E.gt("c_acctbal", 9000.0)).filter(F.col("c_acctbal") > 9000.0)
    point = t.scan(E.col_eq("c_custkey", 42)).filter(
        (F.col("c_custkey") == 42) & ~(F.col("c_acctbal") > 9000.0)
    )
    return rich.unionByName(point).orderBy("c_custkey")


# --------------------------------------------------------------------------
# q113 — Iceberg-format interop: a spec-conformant Iceberg v2 table
# (parquet data files with PARQUET:field_id stamps, Avro manifests +
# manifest list via the stdlib codec cross-validated against Apache
# avro-1.12, v<N>.metadata.json) is built from `nation` with a column
# RENAME between two appends, then read back WITHOUT any Iceberg
# runtime by sources/iceberg.IcebergTable — gen-1 files resolve the
# renamed column by parquet field id (spec "Column Projection").  The
# oracle recomputes the expected relation from raw nation parquet.
# Built once per (session, sf_dir); 25 rows, so the driver-side fixture
# write is bounded (the scale path reads, never writes, Iceberg).
# --------------------------------------------------------------------------
def _q113_table(spark: SparkSession, sf_dir: str) -> str:
    import tempfile

    from swiftlake_spark.sources.iceberg_write import IcebergWriter

    key = (spark.sparkContext.applicationId, sf_dir)
    parent = registry.get_tempdir("q113_wh", key)
    if parent is not None:
        return parent + "/ice"
    parent = tempfile.mkdtemp(prefix="swiftlake_q113_")
    loc = parent + "/ice"
    w = IcebergWriter(loc)
    nation = load(spark, sf_dir, "nation")
    gen1 = nation.filter("n_nationkey <= 12").select(
        F.col("n_nationkey").cast("bigint").alias("id"),
        F.col("n_name").alias("nm"),
        F.col("n_regionkey").cast("bigint").alias("rk"),
    )
    w.append(gen1)
    w.rename_column("rk", "region_key")  # gen-1 files keep the old name
    gen2 = nation.filter("n_nationkey > 12").select(
        F.col("n_nationkey").cast("bigint").alias("id"),
        F.col("n_name").alias("nm"),
        F.col("n_regionkey").cast("bigint").alias("region_key"),
    )
    w.append(gen2)
    registry.put_tempdir("q113_wh", key, parent, app_id=key[0])
    return loc


@query(
    "q113_iceberg_read",
    oracle=r"""
SELECT CAST(n_nationkey AS BIGINT) AS id,
       n_name AS nm,
       CAST(n_regionkey AS BIGINT) AS region_key
FROM nation
ORDER BY id
""",
)
def q113_iceberg_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    from swiftlake_spark.sources.iceberg import IcebergTable

    t = IcebergTable(spark, _q113_table(spark, sf_dir))
    return t.scan().select("id", "nm", "region_key").orderBy("id")


# --------------------------------------------------------------------------
# q119 — inline-SQL manifest pruning end-to-end (Catalog.resolve_sql
# walking Spark's parsed plan in tables/sqlextract.py; ≙ reference
# sql/SqlQueryProcessor.java:130-236): a bounded orders slice is written
# ONCE per (session, sf_dir) into a native table partitioned by
# year(o_orderdate); the query then runs through engine.sql, whose WHERE
# extraction must prune the pre-1996 year
# partitions at the manifest.  VERDICT oracle: the result carries
# `pruned_ok` — observed via a metric collector on the very scan the SQL
# planned — so a silent extraction regression (full scan) hash-mismatches
# the oracle's TRUE even though the aggregate values would still agree.
# --------------------------------------------------------------------------
def _q119_warehouse(spark: SparkSession, sf_dir: str) -> str:
    import tempfile

    from swiftlake_spark.engine import SwiftLakeEngine

    key = (spark.sparkContext.applicationId, sf_dir)
    wh = registry.get_tempdir("q119_wh", key)
    if wh is None:
        wh = tempfile.mkdtemp(prefix="q119_wh_")
        eng = SwiftLakeEngine(spark, warehouse=wh)
        src = (
            load(spark, sf_dir, "orders")
            .filter(F.col("o_orderkey") <= 30000)
            .select("o_orderkey", "o_orderdate", "o_totalprice", "o_orderstatus")
        )
        eng.catalog.create_table(
            "db.q119_orders",
            src.schema,
            partition_spec=["year(o_orderdate)"],
            sort_order=["o_orderkey"],
        )
        eng.insert_into("db.q119_orders").dataframe(src).execute()
        registry.put_tempdir("q119_wh", key, wh, app_id=key[0])
    return wh


@query(
    "q119_sql_pruned_scan",
    oracle=r"""
SELECT CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS yr,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
       TRUE AS pruned_ok
FROM orders
WHERE o_orderkey <= 30000
  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderstatus <> 'F'
GROUP BY yr
ORDER BY yr
""",
)
def q119_sql_pruned_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from swiftlake_spark.engine import SwiftLakeEngine
    from swiftlake_spark.plans.metrics import ScanMetrics

    eng = SwiftLakeEngine(spark, warehouse=_q119_warehouse(spark, sf_dir))
    scans: list[ScanMetrics] = []
    eng.add_metric_collector(
        lambda m: scans.append(m) if isinstance(m, ScanMetrics) else None
    )
    df = eng.sql(
        "SELECT CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS yr, "
        "       CAST(COUNT(*) AS BIGINT) AS n, "
        "       CAST(SUM(o_orderkey) AS BIGINT) AS key_sum "
        "FROM db.q119_orders "
        "WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00' "
        "  AND o_orderstatus <> 'F' "
        "GROUP BY yr ORDER BY yr"
    )
    # the scan for this statement was planned during eng.sql (resolve_sql
    # builds its relation eagerly), so the verdict is already observable
    pruned_ok = bool(scans) and all(
        m.pruned_files > 0 and m.scanned_files < m.total_files for m in scans
    )
    return df.withColumn("pruned_ok", F.lit(pruned_ok))


# --------------------------------------------------------------------------
# q121 — MERGE INTO end-to-end, BOTH entry surfaces in one certified
# slot (consolidated r12, VERDICT r11 ask #4 — no coverage loss):
#   api     — the fluent builder (dml/merge.py): bounded orders slice
#             written once per (session, sf_dir), then a three-clause
#             merge — conditional DELETE, computed UPDATE over
#             target./source. namespaces, INSERT of unmatched rows;
#   sqltext — the same machinery reached through SQL text
#             (dml/sqldml.py): ON-clause key extraction, a target-only
#             boundary conjunct that becomes the manifest-prune filter
#             over the c_mktsegment-partitioned target
#             (filter_source(False) keeps standard NOT-MATCHED
#             semantics), alias rewriting, computed UPDATE, INSERT *.
# The query returns both final table states, normalized to
# (surface, row_key, cat, val) and unioned; the oracle recomputes both
# in DuckDB from raw parquet with equivalent join/anti-join
# decompositions, so a row misclassified, lost in copy-on-write, or a
# parse misread (wrong keys, wrong boundary scope) breaks the hash.
# Scale: the merge machinery is the SCD path's (manifest-pruned target
# read, distinct-touched-file probe, file-level rewrite); rows never
# reach the driver.
# --------------------------------------------------------------------------
def _q121_warehouse(spark: SparkSession, sf_dir: str) -> str:
    import tempfile

    from swiftlake_spark.engine import SwiftLakeEngine

    key = (spark.sparkContext.applicationId, sf_dir)
    wh = registry.get_tempdir("q121_wh", key)
    if wh is None:
        wh = tempfile.mkdtemp(prefix="q121_wh_")
        eng = SwiftLakeEngine(spark, warehouse=wh)
        orders = load(spark, sf_dir, "orders")
        tgt = orders.filter(F.col("o_orderkey") <= 5000).select(
            "o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus"
        )
        eng.catalog.create_table(
            "db.q121_orders",
            tgt.schema,
            sort_order=["o_orderkey"],
        )
        eng.insert_into("db.q121_orders").dataframe(tgt).execute()
        src = orders.filter(F.col("o_orderkey").between(2500, 7500)).select(
            "o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus"
        )
        eng.merge_into("db.q121_orders").using(src).key_columns(
            ["o_orderkey"]
        ).unbounded().when_matched_delete(
            condition="source.o_totalprice > 200000.0"
        ).when_matched_update(
            sets={
                "o_totalprice": "target.o_totalprice + source.o_totalprice",
                "o_orderstatus": "'M'",
            }
        ).when_not_matched_insert().execute()
        registry.put_tempdir("q121_wh", key, wh, app_id=key[0])
    return wh


@query(
    "q121_merge_into",
    oracle=r"""
WITH t AS (
  SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus
  FROM orders WHERE o_orderkey <= 5000
), s AS (
  SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus
  FROM orders WHERE o_orderkey BETWEEN 2500 AND 7500
), api_final AS (
  SELECT o_orderkey, o_totalprice, o_orderstatus FROM (
    SELECT t.o_orderkey,
           t.o_totalprice + s.o_totalprice AS o_totalprice,
           'M' AS o_orderstatus
    FROM t JOIN s USING (o_orderkey)
    WHERE NOT (s.o_totalprice > 200000.0)
    UNION ALL
    SELECT t.o_orderkey, t.o_totalprice, t.o_orderstatus
    FROM t ANTI JOIN s USING (o_orderkey)
    UNION ALL
    SELECT s.o_orderkey, s.o_totalprice, s.o_orderstatus
    FROM s ANTI JOIN t USING (o_orderkey)
  )
), ct AS (
  SELECT c_custkey, c_mktsegment, c_acctbal
  FROM customer WHERE c_custkey <= 3000
), cs AS (
  SELECT c_custkey, c_mktsegment, c_acctbal + 1000.0 AS c_acctbal
  FROM customer WHERE c_custkey BETWEEN 1500 AND 4500
), ctb AS (
  SELECT * FROM ct WHERE c_mktsegment = 'BUILDING'
), sql_final AS (
  SELECT c_custkey, c_mktsegment, c_acctbal FROM (
    SELECT ctb.c_custkey, ctb.c_mktsegment,
           ctb.c_acctbal + cs.c_acctbal AS c_acctbal
    FROM ctb JOIN cs USING (c_custkey)
    UNION ALL
    SELECT * FROM ct
    WHERE NOT (c_mktsegment = 'BUILDING'
               AND c_custkey IN (SELECT c_custkey FROM cs))
    UNION ALL
    SELECT cs.* FROM cs
    WHERE c_custkey NOT IN (SELECT c_custkey FROM ctb)
  )
)
SELECT surface, row_key, cat, val FROM (
  SELECT 'api' AS surface, o_orderkey AS row_key, o_orderstatus AS cat,
         CAST(o_totalprice AS DOUBLE) AS val
  FROM api_final
  UNION ALL
  SELECT 'sqltext' AS surface, c_custkey AS row_key, c_mktsegment AS cat,
         CAST(c_acctbal AS DOUBLE) AS val
  FROM sql_final
)
ORDER BY surface, row_key, cat
""",
)
def q121_merge_into(spark: SparkSession, sf_dir: str) -> DataFrame:
    from swiftlake_spark.engine import SwiftLakeEngine

    api = (
        SwiftLakeEngine(spark, warehouse=_q121_warehouse(spark, sf_dir))
        .catalog.load("db.q121_orders")
        .select(
            F.lit("api").alias("surface"),
            F.col("o_orderkey").alias("row_key"),
            F.col("o_orderstatus").alias("cat"),
            # DOUBLE output per the registry convention (queries/__init__.py
            # docstring): the r12 DECIMAL(18,2) shape broke the driver's
            # hash canonicalization (CORRECTNESS_r12 hash_match=false) even
            # though values were bit-identical — computed numerics must end
            # as DOUBLE on both sides.  Raw double addition is IEEE-exact
            # and identical in Spark and DuckDB, so no decimal round-trip
            # is needed here.
            F.col("o_totalprice").cast("double").alias("val"),
        )
    )
    sqltext = (
        SwiftLakeEngine(spark, warehouse=_q122_warehouse(spark, sf_dir))
        .catalog.load("db.q122_cust")
        .select(
            F.lit("sqltext").alias("surface"),
            F.col("c_custkey").alias("row_key"),
            F.col("c_mktsegment").alias("cat"),
            F.col("c_acctbal").cast("double").alias("val"),
        )
    )
    return api.unionByName(sqltext).orderBy("surface", "row_key", "cat")


# --------------------------------------------------------------------------
# q122 fixture — the SQL-text MERGE warehouse consumed by q121's
# sqltext branch (the q122_sql_merge slot was consolidated into q121
# in r12; the fixture and its statement are unchanged).
# --------------------------------------------------------------------------
def _q122_warehouse(spark: SparkSession, sf_dir: str) -> str:
    import tempfile

    from swiftlake_spark.engine import SwiftLakeEngine

    key = (spark.sparkContext.applicationId, sf_dir)
    wh = registry.get_tempdir("q122_wh", key)
    if wh is None:
        wh = tempfile.mkdtemp(prefix="q122_wh_")
        eng = SwiftLakeEngine(spark, warehouse=wh)
        customer = load(spark, sf_dir, "customer")
        tgt = customer.filter(F.col("c_custkey") <= 3000).select(
            "c_custkey", "c_mktsegment", "c_acctbal"
        )
        eng.catalog.create_table(
            "db.q122_cust",
            tgt.schema,
            partition_spec=["c_mktsegment"],
            sort_order=["c_custkey"],
        )
        eng.insert_into("db.q122_cust").dataframe(tgt).execute()
        customer.filter(F.col("c_custkey").between(1500, 4500)).select(
            "c_custkey", "c_mktsegment", "c_acctbal"
        ).createOrReplaceTempView("q122_src")
        eng.sql(
            """
            MERGE INTO db.q122_cust t
            USING (SELECT c_custkey, c_mktsegment,
                          c_acctbal + 1000.0 AS c_acctbal
                   FROM q122_src) s
            ON t.c_custkey = s.c_custkey AND t.c_mktsegment = 'BUILDING'
            WHEN MATCHED THEN UPDATE SET c_acctbal = t.c_acctbal + s.c_acctbal
            WHEN NOT MATCHED THEN INSERT *
            """
        )
        registry.put_tempdir("q122_wh", key, wh, app_id=key[0])
    return wh


# --------------------------------------------------------------------------
# q129 — textual DDL/DML lifecycle end-to-end (dml/sqldml.py, round 9):
# a table is built ENTIRELY through engine.sql statements — CTAS
# (partitioned), ALTER ADD COLUMN, INSERT INTO ... SELECT, UPDATE,
# DELETE, RENAME COLUMN — then aggregated.  The oracle recomputes the
# same final state in DuckDB from raw `customer` parquet as a CTE
# pipeline, so a mis-parsed statement, a lost copy-on-write row, or a
# NULL-fill/rename slip breaks the hash.  (The anchor table exists only
# to satisfy CREATE routing — textual CREATE targets databases that
# already hold lakehouse tables; the first table goes through the API.)
# --------------------------------------------------------------------------
def _q129_warehouse(spark: SparkSession, sf_dir: str) -> str:
    import tempfile

    from swiftlake_spark.engine import SwiftLakeEngine

    key = (spark.sparkContext.applicationId, sf_dir)
    wh = registry.get_tempdir("q129_wh", key)
    if wh is None:
        wh = tempfile.mkdtemp(prefix="q129_wh_")
        eng = SwiftLakeEngine(spark, warehouse=wh)
        eng.catalog.create_table("db.q129_anchor", "id BIGINT")
        load(spark, sf_dir, "customer").createOrReplaceTempView("q129_customer")
        eng.sql(
            "CREATE TABLE db.q129_c PARTITIONED BY (c_mktsegment) AS "
            "SELECT c_custkey, c_mktsegment, c_acctbal "
            "FROM q129_customer WHERE c_custkey <= 1000"
        )
        eng.sql("ALTER TABLE db.q129_c ADD COLUMN flag STRING")
        eng.sql(
            "INSERT INTO db.q129_c "
            "SELECT c_custkey + 1000000, c_mktsegment, c_acctbal, 'new' "
            "FROM q129_customer WHERE c_custkey <= 50"
        )
        eng.sql(
            "UPDATE db.q129_c SET flag = 'rich' "
            "WHERE c_acctbal > 5000 AND flag IS NULL"
        )
        eng.sql("DELETE FROM db.q129_c WHERE c_acctbal < 0")
        eng.sql("ALTER TABLE db.q129_c RENAME COLUMN flag TO status")
        registry.put_tempdir("q129_wh", key, wh, app_id=key[0])
    return wh


@query(
    "q129_sql_ddl_lifecycle",
    oracle=r"""
WITH base AS (
  SELECT c_custkey, c_mktsegment, c_acctbal, CAST(NULL AS VARCHAR) AS flag
  FROM customer WHERE c_custkey <= 1000
), ins AS (
  SELECT c_custkey + 1000000 AS c_custkey, c_mktsegment, c_acctbal,
         'new' AS flag
  FROM customer WHERE c_custkey <= 50
), unioned AS (
  SELECT * FROM base UNION ALL SELECT * FROM ins
), updated AS (
  SELECT c_custkey, c_mktsegment, c_acctbal,
         CASE WHEN c_acctbal > 5000 AND flag IS NULL THEN 'rich'
              ELSE flag END AS status
  FROM unioned
), final AS (
  SELECT * FROM updated WHERE NOT (c_acctbal < 0)
)
SELECT c_mktsegment, status,
       COUNT(*) AS n,
       CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS bal
FROM final
GROUP BY c_mktsegment, status
ORDER BY c_mktsegment, status
""",
)
def q129_sql_ddl_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    from swiftlake_spark.engine import SwiftLakeEngine

    eng = SwiftLakeEngine(spark, warehouse=_q129_warehouse(spark, sf_dir))
    return eng.sql(
        "SELECT c_mktsegment, status, "
        "       COUNT(*) AS n, "
        "       CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS bal "
        "FROM db.q129_c "
        "GROUP BY c_mktsegment, status "
        "ORDER BY c_mktsegment, status"
    )


# --------------------------------------------------------------------------
# q137 — WHEN NOT MATCHED BY SOURCE through the builder API (dml/merge.py,
# round 10; SQL:2016, Spark SQL >=3.4 parity): a snapshot-style sync where
# target rows absent from the source are deleted (finalized orders) or
# flagged stale (everything else), alongside the usual matched-update and
# not-matched-insert clauses.  The oracle recomputes the final state from
# raw `orders` parquet with the three-way join/anti-join decomposition, so
# a misclassified row (by-source firing on a matched row, a boundary slip,
# clause-order inversion) breaks the hash.  Machinery ≙ the SCD1 snapshot
# mode's unmatched-target classification (dml/scd1.py ≙ reference
# scd1_merge.xml:73-141), generalized to free-form clauses.
# --------------------------------------------------------------------------
def _q137_warehouse(spark: SparkSession, sf_dir: str) -> str:
    import tempfile

    from swiftlake_spark.engine import SwiftLakeEngine

    key = (spark.sparkContext.applicationId, sf_dir)
    wh = registry.get_tempdir("q137_wh", key)
    if wh is None:
        wh = tempfile.mkdtemp(prefix="q137_wh_")
        eng = SwiftLakeEngine(spark, warehouse=wh)
        orders = load(spark, sf_dir, "orders")
        tgt = orders.filter(F.col("o_orderkey") <= 5000).select(
            "o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus"
        )
        eng.catalog.create_table(
            "db.q137_orders", tgt.schema, sort_order=["o_orderkey"]
        )
        eng.insert_into("db.q137_orders").dataframe(tgt).execute()
        src = orders.filter(F.col("o_orderkey").between(2500, 7500)).select(
            "o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus"
        )
        eng.merge_into("db.q137_orders").using(src).key_columns(
            ["o_orderkey"]
        ).unbounded().when_matched_update(
            sets={"o_totalprice": "target.o_totalprice + source.o_totalprice"}
        ).when_not_matched_insert().when_not_matched_by_source_delete(
            condition="target.o_orderstatus = 'F'"
        ).when_not_matched_by_source_update(
            sets={"o_orderstatus": "'X'"}
        ).execute()
        registry.put_tempdir("q137_wh", key, wh, app_id=key[0])
    return wh


@query(
    "q137_merge_not_matched_by_source",
    oracle=r"""
WITH t AS (
  SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus
  FROM orders WHERE o_orderkey <= 5000
), s AS (
  SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus
  FROM orders WHERE o_orderkey BETWEEN 2500 AND 7500
)
SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus FROM (
  SELECT t.o_orderkey, t.o_custkey,
         t.o_totalprice + s.o_totalprice AS o_totalprice,
         t.o_orderstatus
  FROM t JOIN s USING (o_orderkey)
  UNION ALL
  SELECT s.* FROM s ANTI JOIN t USING (o_orderkey)
  UNION ALL
  SELECT t.o_orderkey, t.o_custkey, t.o_totalprice, 'X' AS o_orderstatus
  FROM t ANTI JOIN s USING (o_orderkey)
  WHERE NOT (t.o_orderstatus = 'F')
)
ORDER BY o_orderkey
""",
)
def q137_merge_not_matched_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    from swiftlake_spark.engine import SwiftLakeEngine

    eng = SwiftLakeEngine(spark, warehouse=_q137_warehouse(spark, sf_dir))
    return (
        eng.catalog.load("db.q137_orders")
        .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus")
        .orderBy("o_orderkey")
    )


# --------------------------------------------------------------------------
# q138 — full-sync MERGE through SQL text (dml/sqldml.py, round 10): the
# SQL:2016 `WHEN NOT MATCHED BY SOURCE` clauses parsed from statement text
# into the builder, plus the null-rejecting '=' ON-key semantics the SQL
# surface guarantees (ADVICE r9 medium — eqNullSafe stays builder-only).
# The oracle recomputes the final state from raw `customer` parquet, so a
# parse misread of the BY SOURCE clauses, a null-safe join slip, or a
# clause-order inversion breaks the hash.
# --------------------------------------------------------------------------
def _q138_warehouse(spark: SparkSession, sf_dir: str) -> str:
    import tempfile

    from swiftlake_spark.engine import SwiftLakeEngine

    key = (spark.sparkContext.applicationId, sf_dir)
    wh = registry.get_tempdir("q138_wh", key)
    if wh is None:
        wh = tempfile.mkdtemp(prefix="q138_wh_")
        eng = SwiftLakeEngine(spark, warehouse=wh)
        customer = load(spark, sf_dir, "customer")
        tgt = customer.filter(F.col("c_custkey") <= 3000).select(
            "c_custkey", "c_mktsegment", "c_acctbal"
        )
        eng.catalog.create_table(
            "db.q138_cust", tgt.schema, sort_order=["c_custkey"]
        )
        eng.insert_into("db.q138_cust").dataframe(tgt).execute()
        customer.filter(F.col("c_custkey").between(1500, 4500)).select(
            "c_custkey", "c_mktsegment", "c_acctbal"
        ).createOrReplaceTempView("q138_src")
        eng.sql(
            """
            MERGE INTO db.q138_cust t USING q138_src s
            ON t.c_custkey = s.c_custkey
            WHEN MATCHED THEN UPDATE SET c_acctbal = s.c_acctbal
            WHEN NOT MATCHED THEN INSERT *
            WHEN NOT MATCHED BY SOURCE AND t.c_acctbal < 0 THEN DELETE
            WHEN NOT MATCHED BY SOURCE THEN UPDATE SET c_mktsegment = 'STALE'
            """
        )
        registry.put_tempdir("q138_wh", key, wh, app_id=key[0])
    return wh


@query(
    "q138_sql_merge_full_sync",
    oracle=r"""
WITH t AS (
  SELECT c_custkey, c_mktsegment, c_acctbal
  FROM customer WHERE c_custkey <= 3000
), s AS (
  SELECT c_custkey, c_mktsegment, c_acctbal
  FROM customer WHERE c_custkey BETWEEN 1500 AND 4500
)
SELECT c_custkey, c_mktsegment, c_acctbal FROM (
  SELECT t.c_custkey, t.c_mktsegment, s.c_acctbal
  FROM t JOIN s USING (c_custkey)
  UNION ALL
  SELECT s.* FROM s ANTI JOIN t USING (c_custkey)
  UNION ALL
  SELECT t.c_custkey, 'STALE' AS c_mktsegment, t.c_acctbal
  FROM t ANTI JOIN s USING (c_custkey)
  WHERE NOT (t.c_acctbal < 0)
)
ORDER BY c_custkey
""",
)
def q138_sql_merge_full_sync(spark: SparkSession, sf_dir: str) -> DataFrame:
    from swiftlake_spark.engine import SwiftLakeEngine

    eng = SwiftLakeEngine(spark, warehouse=_q138_warehouse(spark, sf_dir))
    return (
        eng.catalog.load("db.q138_cust")
        .select("c_custkey", "c_mktsegment", "c_acctbal")
        .orderBy("c_custkey")
    )

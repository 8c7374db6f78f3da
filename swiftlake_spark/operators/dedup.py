"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.

Scale design (100 TB of documents):

- exact: one shuffle on the content hash (map-side combine does the
  heavy lifting);
- MinHash/LSH: shingles explode → per-doc signature (one shuffle),
  banding join shuffles only (band_idx, band_hash) — candidate pairs
  are produced WITHOUT any O(n²) comparison;
- SimHash: one pass to signatures, prefix-bucket join for candidates;
- verification (exact Jaccard) runs only on candidate pairs.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame, Window as W
from pyspark.sql import functions as F


def shingle_array(text_col: str, k: int = 3) -> Column:
    """array<string> of the k-word shingles of one document, WITH
    duplicate occurrences (the set form is ``shingles``).  Documents
    with fewer than k words yield an EMPTY array — Spark's
    sequence(0, -1) is the DESCENDING list [0, -1], not empty, so the
    short case must be guarded explicitly or w[i+j] indexes past the
    array (ANSI error / bogus partial shingles)."""
    # \s+ regex: newline/tab/multi-space variants must shingle the same
    # (a literal single-space split minted ''/embedded-\n tokens, so
    # whitespace-variant near-duplicates escaped MinHash/SimHash).
    # LET-BIND the split via an aggregate over a one-element array so the
    # regex runs ONCE per document — referencing the split expression
    # from the guard and every w[i+j] re-evaluates it k+1 times per row
    # (measured 7.5 s → 1.0 s on the sf0.1 shingle surface).
    wexpr = F.split(F.trim(F.col(text_col)), r"\s+")

    def _sh(w):
        return F.when(
            F.size(w) >= k,
            F.transform(
                F.sequence(F.lit(0), F.size(w) - k),
                lambda i: F.concat_ws(" ", *[F.get(w, i + j) for j in range(k)]),
            ),
        ).otherwise(F.array().cast("array<string>"))

    return F.aggregate(
        F.array(wexpr), F.array().cast("array<string>"), lambda _acc, w: _sh(w)
    )


def shingles(df: DataFrame, id_col: str, text_col: str, k: int = 3) -> DataFrame:
    """Distinct k-word shingles per document: (id, sh).

    r14 (guide §2.4): distinctness is PER DOCUMENT (id is part of the
    key), so it is enforced map-side with ``array_distinct`` before the
    explode — the old ``.distinct()`` paid a full corpus-sized shuffle
    of the exploded (id, shingle) stream for a dedup every row group
    can do locally."""
    return df.select(
        F.col(id_col).alias("id"),
        F.explode(F.array_distinct(shingle_array(text_col, k))).alias("sh"),
    )


def exact_dedup(
    df: DataFrame, id_col: str, content_cols: list[str], keep: str = "min"
) -> DataFrame:
    """Keep one row per distinct content (lowest/highest id wins).
    Returns df + ``is_keeper``/``group_size`` columns."""
    # two independently-seeded 64-bit hashes ≈ a 128-bit key: at the
    # documented billions-of-documents scale, a single 64-bit key makes a
    # birthday collision (two DISTINCT documents sharing a group, one
    # silently dropped as a "duplicate") plausible; 2^128 does not
    h = F.xxhash64(*content_cols)
    h2 = F.xxhash64(F.lit(1), *content_cols)
    wp = W.partitionBy(h, h2)
    order = F.col(id_col).asc() if keep == "min" else F.col(id_col).desc()
    return (
        df.withColumn("__rn", F.row_number().over(wp.orderBy(order)))
        .withColumn("group_size", F.count(F.lit(1)).over(wp))
        .withColumn("is_keeper", F.col("__rn") == 1)
        .drop("__rn")
    )


def minhash_signatures(
    sh: DataFrame, n_hashes: int = 16, hash_fn: str = "xxhash64"
) -> DataFrame:
    """Per-doc MinHash signature: (id, h0..h{n-1}).

    ``hash_fn='xxhash64'`` → numeric min of seeded xxhash64 (fast path);
    ``hash_fn='md5'``      → lexicographic min of md5(seed || sh), which a
    SQL oracle can reproduce (see queries.llm).
    """
    if hash_fn == "xxhash64":
        aggs = [
            F.min(F.xxhash64(F.lit(i), F.col("sh"))).alias(f"h{i}")
            for i in range(n_hashes)
        ]
    else:
        aggs = [
            F.min(F.md5(F.concat(F.lit(f"{i}:"), F.col("sh")))).alias(f"h{i}")
            for i in range(n_hashes)
        ]
    return sh.groupBy("id").agg(*aggs)


def band_keys(
    sig: DataFrame, n_hashes: int, bands: int, *, hash_fn: str = "xxhash64"
) -> DataFrame:
    """Band a MinHash signature relation into LSH keys: (id, band, bh).

    This is the persistable form of the signature — band keys are what
    the banding self-join (``lsh_candidate_pairs``) and the incremental
    probe (``incremental_dedup``) actually match on, so a "signature
    index" table stores exactly this relation: ``bands`` rows per
    document, independent of document size.

    ``hash_fn='xxhash64'`` hashes each band's rows numerically (fast
    path); ``hash_fn='md5'`` concatenates the hex signature columns and
    md5s them — the form a SQL oracle reproduces (queries/llm.py
    ``_minhash_pair_ctes``).
    """
    if bands <= 0 or bands > n_hashes or n_hashes % bands != 0:
        raise ValueError(
            f"bands must evenly divide n_hashes ({n_hashes}); got {bands} — "
            "a remainder would silently drop trailing hashes from every "
            "band and change the tuned S-curve"
        )
    rows_per_band = n_hashes // bands
    band_cols = []
    for b in range(bands):
        parts = [F.col(f"h{b * rows_per_band + r}") for r in range(rows_per_band)]
        bh = (
            F.xxhash64(*parts)
            if hash_fn == "xxhash64"
            else F.md5(F.concat(*parts))
        )
        band_cols.append(F.struct(F.lit(b).alias("band"), bh.alias("bh")))
    return sig.select(
        "id", F.explode(F.array(*band_cols)).alias("bk")
    ).select("id", "bk.band", "bk.bh")


def signature_index(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    shingle_k: int = 3,
    n_hashes: int = 16,
    bands: int = 4,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Document text → persistable LSH signature index: (id, band, bh).

    The incremental-crawl contract: write this relation to a lakehouse
    table ONCE per corpus, then dedup every future batch against the
    stored keys with :func:`incremental_dedup` — the corpus text is
    never re-shingled.  Size: ``bands`` rows per document regardless of
    document length.

    r14 (guide §2.4): the signature aggregate runs on the RAW shingle
    occurrence stream, not the distinct set — MIN over a multiset
    equals MIN over its set, so the signatures are identical while the
    explode feeds the per-doc aggregate directly (map-side partial
    mins) instead of paying a full (id, shingle) distinct shuffle
    first.  One shuffle for the whole text → band-keys pass.
    ``minhash_lsh_dedup`` keeps the distinct frame because it re-uses
    it for exact-Jaccard verification, where multiplicity matters.

    r15 (guide §2.5): the scale-adaptive ``spread`` lives HERE, on the
    operator's own input, rather than at each call site — the
    n_hashes-way hash fold over every shingle is exactly the extreme
    per-row stage the r14 A/B measured spread() winning on (q155's
    probe 2.47→1.88 s), and placing it inside means the CALLER's
    relation keeps its natural partitioning (q155's final flag join no
    longer re-pays a 32-way repartition just to project batch ids)."""
    from swiftlake_spark.operators.parallelism import spread

    sh_all = spread(df.select(F.col(id_col).alias("id"), F.col(text_col))).select(
        "id",
        F.explode(shingle_array(text_col, shingle_k)).alias("sh"),
    )
    sig = minhash_signatures(sh_all, n_hashes, hash_fn)
    return band_keys(sig, n_hashes, bands, hash_fn=hash_fn)


def incremental_dedup(
    index_bands: DataFrame,
    new_df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    shingle_k: int = 3,
    n_hashes: int = 16,
    bands: int = 4,
    hash_fn: str = "xxhash64",
    bloom_prefilter: bool = True,
    broadcast_new: bool = True,
    index_bloom_bits: DataFrame | None = None,
    bloom_k: int = 5,
    bloom_bits_per_pos: int = 16,
    within_batch: bool = False,
    materialize_batch: bool = True,
) -> DataFrame:
    """Near-dup flag a NEW batch against a PERSISTED signature index —
    the standard incremental-crawl pattern: the old corpus is never
    re-read as text, only its stored band keys (:func:`signature_index`)
    are probed.

    Returns one row per ``new_df`` document: (id, is_dup, n_bands_hit,
    first_match) where ``first_match`` is the minimum matching index id
    (NULL when none) and ``n_bands_hit`` counts the distinct bands that
    collided — the LSH OR-construction evidence strength.

    ``index_bloom_bits``: a persisted :func:`bloom_bits` relation over
    the index's ``band:bh`` key strings — the pre-filter then reads the
    few-KB bloom instead of deriving it from the index, so a batch with
    no matches never scans the index at all.  ``bloom_k`` /
    ``bloom_bits_per_pos`` must be the ``k`` / ``bits_per_pos`` the
    bits were built with (both default to :func:`bloom_bits`'s); a
    mismatch probes the wrong positions and drops true duplicates.

    ``materialize_batch=True`` (default) computes the batch band keys
    exactly once (eager ``localCheckpoint``) instead of re-deriving the
    shingle → MinHash fold under every broadcast branch of the plan
    (bloom flags, flag join, probe, hits) — measured 4 evaluations
    without it.  The materialized relation is ``bands × |batch|`` rows
    regardless of document size.  Set False to keep a fully lazy plan
    (e.g. when the caller manages its own persistence).

    ``within_batch=True`` additionally flags documents that duplicate
    an EARLIER document of the SAME batch (lower id wins — the keeper
    policy), via a band self-join of the batch keys; the output gains a
    ``batch_match`` column (minimum earlier batch id, NULL when none)
    and ``is_dup`` becomes index-hit OR batch-hit.  ``n_bands_hit`` and
    ``first_match`` stay index-only.  Without this, a batch carrying
    internal dups admits every copy whose text is new to the index.

    100 TB shape (corpus-sized index, day-sized batch):

    - the batch's band keys are ``bands × |batch|`` rows — the SMALL
      side.  ``broadcast_new=True`` broadcasts them, so the index scan
      is one map-side pass: NO shuffle of the index, the property that
      makes daily increments affordable against a 100 TB corpus;
    - ``bloom_prefilter=True`` with a PERSISTED ``index_bloom_bits``
      relation probes the batch keys against the bloom of the index
      keys (k chained broadcast semi-joins on the few-KB set-bits
      relation — fully map-side, no batch shuffle): batch keys that
      cannot be in the index never reach the join.  Zero false
      negatives by construction, so the RESULT is identical with the
      filter on or off — false positives only cost join work.  In a
      real deployment the set-bits relation is persisted next to the
      index and the index scan is skipped entirely when nothing
      survives.  Without ``index_bloom_bits`` the pre-filter is SKIPPED
      (r15): deriving the bloom inline costs a full extra index pass to
      save part of the one map-side index pass the probe join already
      is — a strict loss at every scale, and result-invariant either
      way;
    - the per-new-doc aggregate and the flag join back onto the batch
      shuffle only batch-sized relations.
    """
    all_new_bands = signature_index(
        new_df, id_col, text_col,
        shingle_k=shingle_k, n_hashes=n_hashes, bands=bands, hash_fn=hash_fn,
    )
    if materialize_batch:
        # The batch band keys (bands × |batch| rows — the SMALL relation)
        # feed every downstream branch: the bloom flag build, the flag
        # join, the broadcast probe, and the hits relation that is itself
        # broadcast into the final flag join.  Each branch executes as
        # its own broadcast-exchange job, so without materialization the
        # shingle → n_hashes-way MinHash fold over the batch TEXT (the
        # expensive per-row stage) re-runs once per branch — measured 4×
        # at sf0.1 (r14, guide §2.4/§5 "cache only when recomputing
        # costs more").  An EAGER localCheckpoint computes it exactly
        # once per call and truncates lineage; unlike persist() it does
        # not register the plan in the CacheManager, so two separate
        # invocations of the same query never alias each other's cached
        # data (each pass honestly recomputes from the parquet inputs).
        all_new_bands = all_new_bands.localCheckpoint(eager=True)
    elif within_batch:
        # batch keys feed two consumers (index probe + self-join) —
        # persist, or the shingle/signature pass runs twice
        all_new_bands = all_new_bands.persist()
    idx = index_bands.select(
        F.col("id").alias("__old_id"), "band", "bh"
    )
    new_bands = all_new_bands
    if bloom_prefilter and index_bloom_bits is not None:
        # r15 (guide §2.4 "remove shuffles outright"): the bloom probe is
        # fused into the batch band-key stream as k chained broadcast
        # LEFT SEMI joins against the persisted set-bits relation (tiny:
        # <= 2^bits_per_pos rows).  A row survives iff ALL k of its
        # MD5-derived positions are set — the classic bloom AND, zero
        # false negatives by construction, so the result is identical
        # with the filter on or off (pinned by tests).  The r14 shape
        # routed through bloom_membership (distinct probe values →
        # explode → semi-join → count==k → flag join back onto the
        # batch): three batch-sized exchanges and ~4 scheduler jobs for
        # the same filter; the semi-join chain is fully map-side.  (A
        # single-broadcast variant folding the bits into a one-row
        # lookup map measured 2x SLOWER: Spark map lookups are linear
        # scans, so element_at over 2^16 entries costs ~32k comparisons
        # per probe position.)  k/bits must match the build.
        key = F.concat_ws(":", F.col("band").cast("string"),
                          F.col("bh").cast("string"))
        set_bits = F.broadcast(index_bloom_bits.select(
            F.col(index_bloom_bits.columns[0]).alias("__p")))
        flt = new_bands.withColumn(
            "__pos", bloom_positions(key, bloom_k, bloom_bits_per_pos))
        for i in range(bloom_k):
            flt = flt.join(
                set_bits, F.get(F.col("__pos"), i) == F.col("__p"),
                "left_semi",
            )
        new_bands = flt.select("id", "band", "bh")
    elif bloom_prefilter and index_bloom_bits is None:
        # r15: deriving the bloom from the index INLINE is a strict loss
        # at every scale — it costs a full extra index pass to build a
        # filter whose only purpose is to avoid index work, while the
        # probe join below is already one map-side index pass (the batch
        # side is broadcast).  The pre-filter is result-invariant (zero
        # false negatives), so it is applied only when a PERSISTED
        # set-bits relation is supplied (``index_bloom_bits`` — the
        # documented incremental-crawl deployment shape, built once by
        # :func:`bloom_bits` next to the index).
        pass
    probe = new_bands.select(F.col("id").alias("__new_id"), "band", "bh")
    if broadcast_new:
        probe = F.broadcast(probe)
    hits = (
        idx.join(probe, ["band", "bh"])
        .groupBy("__new_id")
        .agg(
            F.countDistinct("band").alias("n_bands_hit"),
            F.min("__old_id").alias("first_match"),
        )
    )
    out = (
        new_df.select(F.col(id_col).alias("id"))
        .join(hits, F.col("id") == F.col("__new_id"), "left")
        .select(
            "id",
            F.col("__new_id").isNotNull().alias("is_dup"),
            F.coalesce("n_bands_hit", F.lit(0)).alias("n_bands_hit"),
            "first_match",
        )
    )
    if not within_batch:
        return out
    # earlier-batch matches use the UNFILTERED batch keys: an internal
    # dup pair is typically absent from the index, so the bloom (built
    # over index keys) would drop exactly the colliding rows
    a = all_new_bands.select(F.col("id").alias("__a"), "band", "bh")
    b = all_new_bands.select(F.col("id").alias("__b"), "band", "bh")
    batch_hits = (
        a.join(b, ["band", "bh"])
        .filter(F.col("__a") < F.col("__b"))
        .groupBy("__b")
        .agg(F.min("__a").alias("batch_match"))
    )
    return (
        out.join(batch_hits, out["id"] == batch_hits["__b"], "left")
        .select(
            "id",
            (F.col("is_dup") | F.col("__b").isNotNull()).alias("is_dup"),
            "n_bands_hit",
            "first_match",
            "batch_match",
        )
    )


def lsh_candidate_pairs(
    sig: DataFrame, n_hashes: int, bands: int, *, star_edges: bool = False
) -> DataFrame:
    """Band the signature and self-join on (band_idx, band_hash) →
    distinct candidate pairs (id_a < id_b).  One shuffle on the band key;
    hot buckets are bounded by the band width choice — EXCEPT when the
    corpus genuinely contains a mega-cluster of near-identical documents:
    those share every band, so one bucket holds the whole cluster and
    the self-join is |cluster|² no matter how the bands are tuned.

    ``star_edges=True`` is the scale guard for that case (exposed by the
    10× skew stress, scripts/skew_stress.py): each bucket emits only
    (bucket-min, member) edges — O(corpus) instead of Σ|bucket|².  Star
    edges are the right contract for CLUSTERING (connected components
    union the bucket exactly as the full clique would); they are NOT the
    full pair list, and after per-edge verification recall can drop for
    members near the threshold whose similarity to the bucket minimum
    differs from their similarity to a neighbor.  Multi-band OR keeps
    several independent stars per doc, which restores most of that.
    Pair-exact callers (q48's oracle surface) keep the default."""
    banded = band_keys(sig, n_hashes, bands)
    if star_edges:
        hubs = banded.groupBy("band", "bh").agg(F.min("id").alias("id_a"))
        return (
            banded.join(hubs, ["band", "bh"])
            .filter(F.col("id") > F.col("id_a"))
            .select("id_a", F.col("id").alias("id_b"))
            .distinct()
        )
    a, b = banded.alias("a"), banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bh") == F.col("b.bh"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )


def jaccard_verify(
    pairs: DataFrame, sh: DataFrame, threshold: float
) -> DataFrame:
    """Exact Jaccard on candidate pairs via the shingle join."""
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("n_sh"))
    a, b = sh.alias("sa"), sh.alias("sb")
    common = (
        pairs.join(a, F.col("id_a") == F.col("sa.id"))
        .join(b, (F.col("id_b") == F.col("sb.id")) & (F.col("sa.sh") == F.col("sb.sh")))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    za, zb = sizes.alias("za"), sizes.alias("zb")
    jac = F.col("n_common") / (F.col("za.n_sh") + F.col("zb.n_sh") - F.col("n_common"))
    return (
        common.join(za, F.col("id_a") == F.col("za.id"))
        .join(zb, F.col("id_b") == F.col("zb.id"))
        .select("id_a", "id_b", "n_common", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def minhash_lsh_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    shingle_k: int = 3,
    n_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.7,
    star_edges: bool = False,
) -> DataFrame:
    """End-to-end near-dup pairs: shingle → MinHash → LSH bands →
    exact-Jaccard verification.  ``sh`` feeds the signature pass AND the
    verify stage twice (size aggregate + common-shingle join) — persist
    it, or the full split/explode/distinct corpus pass runs three times
    (the same reason connected_components persists its edge list).

    ``star_edges=True``: the mega-cluster guard (see
    :func:`lsh_candidate_pairs`) — use for corpus DEDUP at scale, where
    verified star edges feed connected components; keep the default for
    the exact pair-list contract."""
    sh = shingles(df, id_col, text_col, shingle_k).persist()
    sig = minhash_signatures(sh, n_hashes)
    cand = lsh_candidate_pairs(sig, n_hashes, bands, star_edges=star_edges)
    return jaccard_verify(cand, sh, threshold)


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 25,
    *,
    distinct_pairs: bool = False,
) -> DataFrame:
    """Cluster near-dup pairs into connected components: (id, cluster_id).

    The step that completes large-scale dedup: LSH emits PAIRS, but the
    keep/drop decision needs transitive groups (a~b, b~c ⇒ {a,b,c}).
    Min-label propagation: every node starts labelled with its own id;
    each round the minimum label flows across edges; fixpoint = each
    node carries the minimum id of its component.

    Scale (100 TB corpus, billions of pairs):
    - per round: one join on the symmetrized edge list + one min-agg —
      both shuffle on node id, so AQE coalesces/splits as usual;
    - rounds needed = eccentricity of the min-id node, which for
      near-dup clusters (dense cliques from banding) is 1-3; ``max_iter``
      bounds adversarial chain graphs.  Round one is fused into the
      initialization (label := min(self, neighbors) straight off the
      edge list);
    - lineage is truncated every round (``localCheckpoint``) so plans
      don't grow with iterations; convergence detection is a scalar
      SUM(label) checksum FUSED into the materialization job via
      ``observe()`` — labels only ever decrease, so an unchanged sum ⟺
      a fixpoint.  One Spark job per round, no row collect anywhere;
    - the edge list is persisted once and reused every round.

    r14 (guide §2.4): ``distinct_pairs=True`` asserts the input is a
    CANONICAL pair list (distinct, ``id_a < id_b`` on every row) — then
    the symmetrized union is distinct by construction ((a,b) and (b,a)
    cannot collide when a<b), so the full edge-dedup shuffle is skipped.
    All the LSH candidate generators in this package emit canonical
    pairs.

    r15: the r14 "AQE off below 50M nodes → one scheduler job per
    round" toggle is REVERTED.  The local[32] A/B that justified it did
    not transfer: the r14 driver run regressed all three CC consumers
    (q117 −46%, q105 −19%, q102 −20%) because with AQE off every
    round's label shuffle runs at the static shuffle-partition count
    (32 near-empty tasks per stage) instead of coalescing to the 1-2
    partitions the tiny label relations need.  AQE stays ON for the
    round materializations at every scale — coalescing locally, skew
    handling at billions of nodes (guide §2.1 "let AQE coalesce").
    """
    from pyspark.sql import Observation

    e = pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
    edges = e.union(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    if not distinct_pairs:
        edges = edges.distinct()
    edges.persist()

    # decimal(38,0) keeps the checksum overflow-safe at billions of nodes
    def _materialize(df):
        obs = Observation()
        out = df.observe(
            obs, F.sum(F.col("label").cast("decimal(38,0)")).alias("s")
        ).localCheckpoint(eager=True)
        return out, obs.get["s"]

    # init = first propagation round: min over self + direct neighbors
    labels, prev_sum = _materialize(
        edges.groupBy("src")
        .agg(F.least(F.col("src"), F.min("dst")).alias("label"))
        .select(F.col("src").alias("id"), "label"),
    )
    for _ in range(max_iter - 1):
        prop = edges.join(labels, edges["src"] == labels["id"]).select(
            F.col("dst").alias("id"), "label"
        )
        labels, new_sum = _materialize(
            labels.unionByName(prop)
            .groupBy("id")
            .agg(F.min("label").alias("label"))
        )
        if new_sum == prev_sum:
            break
        prev_sum = new_sum
    edges.unpersist()
    return labels.select("id", F.col("label").alias("cluster_id"))


def dedup_corpus_by_pairs(
    df: DataFrame, pairs: DataFrame, id_col: str, *, distinct_pairs: bool = False
) -> DataFrame:
    """Drop every near-duplicate except the minimum-id member of each
    duplicate cluster.  The end-to-end keep/drop step: ``pairs`` (from
    any candidate generator — MinHash-LSH, SimHash, embedding LSH) are
    closed transitively via :func:`connected_components`; survivors are
    the cluster representatives plus all unpaired documents.

    One extra shuffle beyond the components loop: a broadcast-or-hash
    left-anti join of the corpus against the (id != cluster_id) drop
    list — the drop list is proportional to duplicates, typically a
    small fraction of the corpus.
    """
    comp = connected_components(
        pairs, id_a="id_a", id_b="id_b", distinct_pairs=distinct_pairs
    )
    drops = comp.filter(F.col("id") != F.col("cluster_id")).select(
        F.col("id").alias(id_col)
    )
    return df.join(drops, on=id_col, how="left_anti")


_SIMHASH_BITS = 48  # stays clear of signed-64 overflow when recomposing


def simhash(df: DataFrame, id_col: str, text_col: str, k: int = 3) -> DataFrame:
    """Per-doc SimHash over shingle xxhash64 bits: (id, simhash)."""
    sh = shingles(df, id_col, text_col, k)
    h = F.xxhash64("sh")
    bit_sums = [
        F.sum(
            F.when((F.shiftright(h, i).bitwiseAND(F.lit(1))) == 1, 1).otherwise(-1)
        ).alias(f"b{i}")
        for i in range(_SIMHASH_BITS)
    ]
    per_doc = sh.groupBy("id").agg(*bit_sums)
    out: Column = F.lit(0).cast("bigint")
    for i in range(_SIMHASH_BITS):
        out = out + F.when(F.col(f"b{i}") > 0, F.lit(1 << i)).otherwise(0)
    return per_doc.select("id", out.alias("simhash"))


def simhash_band_keys(
    sig: DataFrame,
    *,
    max_hamming: int = 3,
    n_bands: int | None = None,
) -> DataFrame:
    """Pigeonhole band keys for a SimHash relation (id, simhash) →
    (id, simhash, band, bits).

    Pure bit arithmetic over the stored signature — NO access to the
    original text — so a persisted SimHash index table needs only
    (id, simhash), one row per document, and this projection runs
    map-side on the index scan at probe time.  Two signatures within
    Hamming distance ``max_hamming`` agree exactly on at least one of
    the ``n_bands`` (default ``max_hamming + 1``) bands, so band-key
    candidate generation has FULL recall."""
    if n_bands is None:
        n_bands = max_hamming + 1
    if n_bands > _SIMHASH_BITS:
        raise ValueError(f"n_bands {n_bands} exceeds signature bits {_SIMHASH_BITS}")
    width = _SIMHASH_BITS // n_bands
    mask = (1 << width) - 1
    band_cols = [
        F.struct(
            F.lit(b).alias("band"),
            F.shiftright("simhash", b * width).bitwiseAND(F.lit(mask)).alias("bits"),
        )
        for b in range(n_bands)
    ]
    return sig.select(
        "id", "simhash", F.explode(F.array(*band_cols)).alias("bk")
    ).select("id", "simhash", "bk.band", "bk.bits")


def incremental_simhash_dedup(
    index_sig: DataFrame,
    new_df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    max_hamming: int = 3,
    n_bands: int | None = None,
    broadcast_new: bool = True,
) -> DataFrame:
    """Near-dup flag a NEW batch against a PERSISTED SimHash index —
    the SimHash sibling of :func:`incremental_dedup` (VERDICT r13 ask
    #4 names both MinHash and SimHash signature stores).

    ``index_sig`` is the stored (id, simhash) relation — ONE row per
    corpus document (:func:`simhash` output written to a lakehouse
    table); the corpus text is never re-read.  Returns one row per
    batch document: (id, is_dup, min_hamming, first_match) where
    ``is_dup`` is true iff some index doc lies within ``max_hamming``,
    ``min_hamming`` is the closest qualifying distance (NULL when
    none), and ``first_match`` the minimum qualifying index id (which
    may differ from the doc achieving ``min_hamming``; both aggregates
    are deterministic).

    Recall is FULL, not probabilistic: by pigeonhole, any index doc
    within ``max_hamming`` shares at least one of the
    ``max_hamming + 1`` signature bands with the probe, so the band
    join misses nothing (same guarantee as :func:`simhash_near_dups`).

    100 TB shape: the index side is one map-side scan — the band
    projection is bit arithmetic on the stored signature, the batch's
    band keys are broadcast, and exact Hamming verification runs only
    on band-collision candidates; the only shuffles are batch-sized
    (the batch signature aggregate and the per-doc min aggregate)."""
    new_sig = simhash(new_df, id_col, text_col)
    idx_bands = simhash_band_keys(
        index_sig, max_hamming=max_hamming, n_bands=n_bands
    ).select(F.col("id").alias("__old_id"), F.col("simhash").alias("__old_sh"),
             "band", "bits")
    probe = simhash_band_keys(
        new_sig, max_hamming=max_hamming, n_bands=n_bands
    ).select(F.col("id").alias("__new_id"), F.col("simhash").alias("__new_sh"),
             "band", "bits")
    if broadcast_new:
        probe = F.broadcast(probe)
    ham = F.bit_count(F.col("__old_sh").bitwiseXOR(F.col("__new_sh")))
    hits = (
        idx_bands.join(probe, ["band", "bits"])
        .select("__new_id", "__old_id", ham.alias("__ham"))
        .filter(F.col("__ham") <= max_hamming)
        .groupBy("__new_id")
        .agg(
            F.min("__ham").alias("min_hamming"),
            F.min("__old_id").alias("first_match"),
        )
    )
    return (
        new_df.select(F.col(id_col).alias("id"))
        .join(hits, F.col("id") == F.col("__new_id"), "left")
        .select(
            "id",
            F.col("__new_id").isNotNull().alias("is_dup"),
            "min_hamming",
            "first_match",
        )
    )


def simhash_near_dups(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    max_hamming: int = 3,
    n_bands: int | None = None,
) -> DataFrame:
    """Near-dup pairs by SimHash with FULL recall at bounded bucket size.

    The 48-bit signature is split into ``n_bands`` contiguous bit bands
    (default ``max_hamming + 1``).  By pigeonhole, two signatures within
    Hamming distance ``max_hamming`` differ in at most ``max_hamming``
    bands, so they agree EXACTLY on at least one band — candidate
    generation on (band_idx, band_bits) misses nothing.  Exact Hamming is
    then verified on candidates only.

    Scale: the join key space is n_bands × 2^(48/n_bands) buckets
    (4 bands → 4×2^12 ≈ 16k), versus the 256 buckets of a naive 8-bit
    prefix scheme; within-bucket pair blow-up only occurs for genuinely
    identical signatures, which ARE the output.  One shuffle on the band
    key, one distinct, no all-pairs anywhere.
    """
    sig = simhash(df, id_col, text_col)
    banded = simhash_band_keys(sig, max_hamming=max_hamming, n_bands=n_bands)
    l, r = banded.alias("l"), banded.alias("r")
    cand = (
        l.join(
            r,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.bits") == F.col("r.bits"))
            & (F.col("l.id") < F.col("r.id")),
        )
        .select(
            F.col("l.id").alias("id_a"),
            F.col("r.id").alias("id_b"),
            F.col("l.simhash").alias("__sa"),
            F.col("r.simhash").alias("__sb"),
        )
        .distinct()
    )
    ham = F.bit_count(F.col("__sa").bitwiseXOR(F.col("__sb")))
    return (
        cand.select("id_a", "id_b", ham.alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
    )


def gram_positions(
    df: DataFrame, id_col: str, text_col: str, *, n: int = 8, split: str = " ",
    spread_input: bool | None = None,
) -> DataFrame:
    """(id, n_tokens, pos, gh): every 1-based word position's n-gram as a
    32-byte md5 key.  The raw material of :func:`duplicate_spans`, split
    out so callers can ``persist`` it when it is traversed twice in one
    plan (the dup-detection aggregate AND the join-back both consume it;
    without reuse Spark re-explodes the corpus per branch).

    r15 (guide §2.5): the scale-adaptive ``spread`` is applied to the
    operator's own input — one md5 over an n-token concat PER WORD
    POSITION is the same extreme per-row fold family as the MinHash
    signatures, and it measured 1.44 → 0.28 s on the sf0.1 corpus
    (min-of-4 A/B) when the single-split fixture scan is repartitioned.
    On any multi-row-group production source spread() is a no-op.
    ``spread_input`` passes a caller's own ``needs_spread`` verdict on
    the ``(id_col, text_col)`` projection through to ``spread``."""
    from swiftlake_spark.operators.parallelism import spread

    df = spread(df.select(F.col(id_col), F.col(text_col)), spread_input)
    w = F.split(F.col(text_col), split)
    arr = F.aggregate(
        F.array(w),
        F.array().cast("array<string>"),
        lambda _acc, wv: F.when(
            F.size(wv) >= n,
            F.transform(
                F.sequence(F.lit(0), F.size(wv) - n),
                lambda i: F.md5(F.concat_ws(" ", F.slice(wv, i + 1, n))),
            ),
        ).otherwise(F.array().cast("array<string>")),
    )
    return df.select(
        F.col(id_col).alias("id"),
        F.size(w).alias("n_tokens"),
        F.posexplode(arr).alias("pos0", "gh"),
    ).select("id", "n_tokens", (F.col("pos0") + 1).alias("pos"), "gh")


def duplicate_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    n: int = 8,
    min_docs: int = 2,
    split: str = " ",
    grams: DataFrame | None = None,
) -> DataFrame:
    """Cross-document duplicated n-gram SPANS (substring-level dedup).

    The Spark-native analogue of suffix-array training-data dedup (Lee
    et al., "Deduplicating Training Data Makes Language Models Better"):
    instead of a global suffix array, every word position contributes its
    n-gram; a gram occurring in ≥ ``min_docs`` distinct documents marks
    its positions duplicated, and per document the overlapping marked
    windows are merged into MAXIMAL spans (gaps-and-islands over
    positions — two n-grams overlap iff their 1-based start positions
    differ by < n).

    Returns one row per maximal span: (id, span_start, span_end,
    span_tokens, n_tokens) with 1-based inclusive token positions.
    ``min_docs`` counts DISTINCT documents containing the gram,
    including the reporting document itself — so a gram repeated many
    times within ONE document never marks a span (within-doc repetition
    is q131's operator, not this one), and ``min_docs=2`` means "this
    exact n-gram also appears in at least one OTHER document".  Spans
    from different grams merge when they overlap (start positions < n
    apart), so ``span_tokens`` can exceed n even at min_docs=2; a
    document with no qualifying gram emits no row at all (callers
    computing ratios must left-join back to the corpus).

    Scale (100 TB): the explode is ~n× the token count but grams travel
    as 32-byte md5 keys only; duplicate detection is one hash shuffle on
    the gram key with map-side partial counts; span merging is a per-doc
    window (shuffle on id), never cross-doc.  No suffix array, no global
    sort, no driver state.

    Pass a (possibly persisted) :func:`gram_positions` result as
    ``grams`` to avoid re-deriving the explode on both plan branches.
    """
    if grams is None:
        grams = gram_positions(df, id_col, text_col, n=n, split=split)
    if min_docs == 2:
        # min≠max ⇔ ≥2 distinct ids: a one-pass aggregate with map-side
        # partial combine, vs countDistinct's two-phase expand (measured
        # ~2× on the gram surface)
        dup = (
            grams.groupBy("gh")
            .agg(F.min("id").alias("__lo"), F.max("id").alias("__hi"))
            .filter(F.col("__lo") != F.col("__hi"))
            .select("gh")
        )
    else:
        dup = (
            grams.groupBy("gh")
            .agg(F.countDistinct("id").alias("__nd"))
            .filter(F.col("__nd") >= min_docs)
            .select("gh")
        )
    hits = grams.join(dup, "gh").select("id", "pos", "n_tokens")
    wdoc = W.partitionBy("id").orderBy("pos")
    prev_max = F.max("pos").over(wdoc.rowsBetween(W.unboundedPreceding, -1))
    hit2 = hits.withColumn(
        "__new",
        (F.col("pos") > F.coalesce(prev_max, F.lit(-n)) + (n - 1)).cast("int"),
    ).withColumn("__island", F.sum("__new").over(wdoc.rowsBetween(W.unboundedPreceding, 0)))
    return (
        hit2.groupBy("id", "__island")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + (n - 1)).alias("span_end"),
            F.max("n_tokens").alias("n_tokens"),
        )
        .select(
            "id",
            "span_start",
            "span_end",
            (F.col("span_end") - F.col("span_start") + 1).alias("span_tokens"),
            "n_tokens",
        )
    )


def editdist_near_dups(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    block_cols: list[str],
    prefix: int = 60,
    max_dist: int = 20,
    len_col: str | None = None,
    max_len_delta: int | None = None,
    len_bucket_width: int | None = None,
) -> DataFrame:
    """Edit-distance near-duplicate pairs with blocking.

    Classic record-linkage shape: candidate pairs are generated ONLY
    inside ``block_cols`` blocks (and optionally only when the raw
    lengths differ by ≤ ``max_len_delta``), then verified with exact
    Levenshtein distance over the first ``prefix`` characters — the
    prefix bound caps the O(prefix²) DP cost per pair regardless of
    document length.

    RECALL CONTRACT: a pair whose edits all fall inside the blocking
    key is lost — e.g. with a k-char-prefix block, edits within the
    first k characters separate the pair into different blocks (q126's
    (lang, 4-char-prefix) blocking measured a 40× candidate-pair cut at
    sf0.01 with zero lost pairs on that corpus, but the guarantee is
    corpus-dependent, not structural).  ``len_bucket_width`` is the one
    EXACT refinement: with width w, text lengths bucket to
    ``floor(len/w)`` and the b-side probes buckets {-1, 0, +1}, so any
    pair with |Δlen| ≤ w meets in some bucket — identical recall to the
    unbucketed join with a |Δlen| ≤ w filter, while a mega-block whose
    members differ in length is cut ~(block length-spread / w)-fold
    (scripts/corpus_stress.py at 10× docs measured a 16.9× candidate
    cut on a planted 10k-doc mega-block with lengths spread 0..2000 —
    near the ~25× ideal for a ±40 window; PERF.md §r10).  Pairs with
    |Δlen| > w are dropped by construction — sound for near-dup use
    since edit distance ≥ |Δlen| on full strings.  Where a block is
    length-HOMOGENEOUS the bucket is an honest no-op: those candidates
    genuinely satisfy the window and no length scheme can drop them.

    OUTPUT CONTRACT: the result is Θ(true pairs).  On a quadratically
    self-similar corpus (the r10 rehearsal's skew corpus: 44.8M of
    47.8M candidates SURVIVE the threshold) wall time is bound by the
    surviving-pair DP (~27 µs/pair), not the probe — no blocking
    scheme fixes that, because the answer itself is quadratic.  At
    corpus scale feed the pairs into :func:`dedup_corpus_by_pairs`
    (connected components collapses clusters) or tighten ``block_cols``
    (e.g. prefix 4→8 chars) before asking for an all-pairs list.

    Scale: the self-join shuffles on the block key; pair count is
    Σ_block |block|², so blocks must bound skew — at corpus scale ALWAYS
    pass ``len_bucket_width`` (a planted same-prefix mega-block is
    exactly what a boilerplate-heavy crawl produces).  Returns (id_a,
    id_b, *block_cols, dist), id_a < id_b.
    """
    if len_bucket_width is not None:
        # the soundness argument (edit distance ≥ |Δlen| on full
        # strings, so dropping |Δlen| > w pairs loses nothing the
        # threshold would keep) requires w ≥ max_dist; a narrower w
        # silently caps the length delta tighter than the distance
        # bound, and 0 would make every bucket NULL (empty result)
        if len_bucket_width < max(max_dist, 1):
            raise ValueError(
                f"len_bucket_width={len_bucket_width} must be >= "
                f"max_dist={max_dist}: a narrower bucket drops pairs "
                "the distance threshold accepts — lower max_dist "
                "instead if a tighter length window is intended"
            )
    sel = [
        F.col(id_col).alias("id"),
        F.substring(F.col(text_col), 1, prefix).alias("pfx"),
        *[F.col(c) for c in block_cols],
    ]
    if len_col is not None:
        sel.append(F.col(len_col).alias("__len"))
    if len_bucket_width is not None:
        sel.append(F.length(F.col(text_col)).alias("__tlen"))
        sel.append(
            F.floor(F.length(F.col(text_col)) / len_bucket_width).alias("__lbkt")
        )
    base = df.select(*sel)
    a = base.alias("a")
    if len_bucket_width is not None:
        # b-side probes its own and both adjacent buckets: |Δlen| ≤ w ⟹
        # |Δbucket| ≤ 1, so the ±1 probe makes the bucket join EXACT for
        # the ≤w length window at a bounded 3× explode of one side
        base_b = base.withColumn(
            "__probe", F.explode(F.array(F.col("__lbkt") - 1, F.col("__lbkt"), F.col("__lbkt") + 1))
        )
    else:
        base_b = base
    b = base_b.alias("b")
    cond = F.col("a.id") < F.col("b.id")
    for c in block_cols:
        cond = cond & (F.col(f"a.{c}") == F.col(f"b.{c}"))
    if len_bucket_width is not None:
        # bucket equality + the ≤w length window the bucketing promises
        # (without it the ±1 probe would admit |Δlen| up to 2w-1 pairs
        # the unbucketed-with-filter formulation rejects)
        cond = cond & (F.col("a.__lbkt") == F.col("b.__probe"))
        cond = cond & (
            F.abs(F.col("a.__tlen") - F.col("b.__tlen")) <= len_bucket_width
        )
    if len_col is not None and max_len_delta is not None:
        cond = cond & (
            F.abs(F.col("a.__len") - F.col("b.__len")) <= max_len_delta
        )
    # thresholded levenshtein: the banded O(threshold·prefix) algorithm,
    # returning -1 past the bound — ~prefix/threshold cheaper per pair
    # than the full DP.  The distance predicate goes INTO the join
    # condition, ordered LAST: a post-join .filter would be pushed into
    # the condition AHEAD of the cheap id/length conjuncts by Catalyst,
    # making every hash-bucket pair pay the DP before the O(1) pruning
    # (measured 6.7 s → sub-second on the sf0.1 document surface).
    dist = F.levenshtein(F.col("a.pfx"), F.col("b.pfx"), max_dist)
    cond = cond & (dist >= 0)
    # r14 (guide §3.1): both sides are corpus-proportional, so a
    # broadcast is wrong at every scale (the similarity operators pin
    # the same rule) — and locally it fused the whole Levenshtein DP
    # into the single-split stream stage.  shuffle_hash partitions both
    # sides by the block key, so the per-pair DP parallelizes across
    # blocks and no corpus-sized relation is ever collected.
    b = b.hint("shuffle_hash")
    return a.join(b, cond).select(
        F.col("a.id").alias("id_a"),
        F.col("b.id").alias("id_b"),
        *[F.col(f"a.{c}").alias(c) for c in block_cols],
        dist.alias("dist"),
    )


def ngram_decontaminate(
    docs: DataFrame,
    eval_df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    eval_id_col: str | None = None,
    eval_text_col: str | None = None,
    n: int = 13,
    threshold: float = 0.5,
    split: str = " ",
    broadcast_eval: bool = True,
) -> DataFrame:
    """Benchmark decontamination by n-gram overlap (the GPT-3/PaLM
    recipe: a training document is contaminated when a large fraction
    of its n-grams also appear in an evaluation set).

    Returns one row per input document: ``(id, n_tokens, n_grams,
    n_hit, hit_frac, is_contaminated)`` where ``n_grams`` counts the
    document's n-gram POSITIONS, ``n_hit`` how many of those positions
    carry a gram present anywhere in the eval set, ``hit_frac`` their
    ratio (0.0 for documents shorter than ``n`` tokens — they carry no
    gram evidence and are never flagged), and ``is_contaminated`` is
    ``hit_frac >= threshold``.

    Scale (100 TB): real benchmark eval sets are tiny next to the
    corpus, so by default the eval gram keys (distinct 32-byte md5) are
    BROADCAST — the corpus-side gram explode is map-only through the
    join, and the only shuffle is the per-document count aggregate
    (map-side partial).  One corpus pass, no corpus-side distinct, no
    driver state.  PRECONDITION for the default: the eval gram relation
    must fit a broadcast (the contract holds for held-out benchmarks);
    pass ``broadcast_eval=False`` when the "eval" side is itself a
    corpus-scale slice — the join then shuffles both sides on the gram
    key instead of forcing gigabytes through the driver.
    """
    eval_id = eval_id_col or id_col
    eval_text = eval_text_col or text_col
    grams = gram_positions(docs, id_col, text_col, n=n, split=split)
    eval_grams = (
        gram_positions(eval_df, eval_id, eval_text, n=n, split=split)
        .select("gh")
        .distinct()
        .withColumn("__hit", F.lit(1))
    )
    if broadcast_eval:
        eval_grams = F.broadcast(eval_grams)
    per_doc = (
        grams.join(eval_grams, "gh", "left")
        .groupBy("id")
        .agg(
            F.max("n_tokens").alias("n_tokens"),
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(F.coalesce(F.col("__hit"), F.lit(0))).alias("n_hit"),
        )
    )
    base = docs.select(
        F.col(id_col).alias("id"),
        F.size(F.split(F.col(text_col), split)).alias("__nt"),
    )
    out = base.join(per_doc, "id", "left")
    frac = F.when(
        F.coalesce(F.col("n_grams"), F.lit(0)) > 0,
        F.col("n_hit").cast("double") / F.col("n_grams"),
    ).otherwise(F.lit(0.0))
    return out.select(
        "id",
        F.coalesce(F.col("n_tokens"), F.col("__nt")).alias("n_tokens"),
        F.coalesce(F.col("n_grams"), F.lit(0)).cast("bigint").alias("n_grams"),
        F.coalesce(F.col("n_hit"), F.lit(0)).cast("bigint").alias("n_hit"),
        frac.alias("hit_frac"),
        (frac >= F.lit(float(threshold))).alias("is_contaminated"),
    )


def bloom_positions(col: Column, k: int = 5,
                    bits_per_pos: int = 16) -> Column:
    """The k MD5-derived bit positions of a value — an array<int> of
    ``k`` integers in [0, 2^bits_per_pos), taken from disjoint hex
    windows of one MD5 (k * bits_per_pos <= 128).  MD5 keeps the math
    engine-portable: DuckDB derives the identical positions, so bloom
    queries certify under the full hash-match oracle rather than a
    verdict."""
    if not 1 <= k * bits_per_pos <= 128:
        raise ValueError("k * bits_per_pos must fit one MD5 (<= 128)")
    if bits_per_pos % 4:
        raise ValueError("bits_per_pos must be a whole number of nibbles")
    nh = bits_per_pos // 4  # hex chars per position
    h = F.md5(col)
    return F.array(*[
        F.conv(F.substring(h, 1 + nh * i, nh), 16, 10).cast("int")
        for i in range(k)
    ])


def bloom_bits(
    corpus: DataFrame,
    value_col: str,
    *,
    k: int = 5,
    bits_per_pos: int = 16,
) -> DataFrame:
    """The persistable form of a bloom filter: the relation of DISTINCT
    set bit positions over ``corpus[value_col]`` — one ``pos`` column,
    bounded by m = 2^bits_per_pos rows regardless of corpus size.

    Write this next to the data it summarizes (it is a few-KB parquet
    even for m = 65536) and hand it to
    ``bloom_membership(..., set_bits=...)`` or
    ``incremental_dedup(..., index_bloom_bits=...)``: later probes then
    never touch the corpus at all unless the bloom admits them — the
    incremental-crawl fast path.  The (k, bits_per_pos) used to build
    MUST match the probe's parameters; a mismatch silently probes the
    wrong positions, so persist them alongside (e.g. in the table
    name or properties)."""
    pos = bloom_positions(F.col(value_col), k, bits_per_pos)
    return corpus.select(F.explode(pos).alias("pos")).distinct()


def bloom_membership(
    corpus: DataFrame,
    probe: DataFrame,
    value_col: str,
    key_col: str,
    *,
    k: int = 5,
    bits_per_pos: int = 16,
    out_col: str = "might_contain",
    broadcast_positions: bool = True,
    set_bits: DataFrame | None = None,
) -> DataFrame:
    """Bloom-filter membership of ``probe[value_col]`` against the set
    of ``corpus[value_col]`` values — WITHOUT materializing a bitmap:

    - the "filter" is the relation of distinct set bit positions
      (<= 2^bits_per_pos rows — the m bits that are 1);
    - a probe value *might* be present iff ALL k of its positions are
      set: an exploded semi-join + a count==k test — the relational
      formulation of the classic bloom probe, with the identical
      false-positive rate (1 - e^{-kn/m})^k and ZERO false negatives
      by construction.

    100 TB shape: the corpus pass is one explode + distinct whose
    output is bounded by m = 2^bits_per_pos rows regardless of corpus
    size (broadcast it; ``broadcast_positions=False`` shuffles instead
    when m is pushed past broadcast range); the probe pass is a
    distinct over probe VALUES, a map-side explode + semi-join, one
    count-per-value shuffle, then a flag join back onto the probe.
    Nothing reaches the driver; no Python eval.  Classic use:
    decontaminating / diffing a huge corpus against another corpus too
    big for an exact broadcast join but whose SET of values fits a
    bloom.

    The flag is a pure function of ``value_col``, so hits are counted
    per DISTINCT probe value and joined back by value — NOT per
    ``key_col`` (ADVICE r12: grouping by key merged hit counts across
    different values sharing a key, so two half-matching values could
    sum to k and flag a false positive; duplicate keys are now fine).

    ``set_bits``: a PRE-BUILT positions relation (:func:`bloom_bits`,
    e.g. read back from a lakehouse table) — the corpus pass is then
    skipped entirely and ``corpus`` is ignored; (k, bits_per_pos) must
    match the build.
    """
    pos = bloom_positions(F.col(value_col), k, bits_per_pos)
    if set_bits is None:
        set_bits = corpus.select(F.explode(pos).alias("__p")).distinct()
    else:
        set_bits = set_bits.select(F.col(set_bits.columns[0]).alias("__p"))
    if broadcast_positions:
        set_bits = F.broadcast(set_bits)
    # the flag rides a reserved temp name so a probe that ALREADY has
    # an out_col column is replaced (withColumn semantics), not joined
    # into an ambiguous duplicate (ADVICE r13)
    flags = (
        probe.select(value_col).distinct()
        .select(value_col, F.explode(pos).alias("__p"))
        .join(set_bits, "__p", "left_semi")
        .groupBy(value_col)
        .agg((F.count(F.lit(1)) == k).alias("__bloom_flag"))
    )
    return (
        probe.join(flags, value_col, "left")
        .withColumn(out_col, F.coalesce(F.col("__bloom_flag"), F.lit(False)))
        .drop("__bloom_flag")
    )

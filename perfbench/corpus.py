"""Corpus operator calls: a seeded document corpus with planted exact
and near duplicates, and one call per dedup operator of
``swiftlake_spark.operators`` that the benchmark measures."""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import datagen


def write_corpus(out_dir: str, seed: int, n_docs: int) -> list[tuple[int, int]]:
    """Documents with 3% exact copies and 5% near copies differing in
    their last word (made from documents of at least 50 words, so their
    Jaccard similarity stays above 0.9).  Returns the planted near pairs."""
    rng = np.random.default_rng(seed + 101)
    base = datagen.documents(rng, n_docs).to_pylist()
    long_ids = [d["doc_id"] for d in base if len(d["text"].split()) >= 50]
    near = rng.choice(long_ids, size=min(len(long_ids), max(2, n_docs // 20)), replace=False)
    exact = rng.choice(n_docs, size=max(2, n_docs * 3 // 100), replace=False)
    docs = list(base)
    planted = []
    for src in near:
        words = base[src]["text"].split()
        words[-1] = "zzz" + words[-1]
        planted.append((int(src), len(docs)))
        docs.append({**base[src], "doc_id": len(docs), "text": " ".join(words)})
    for src in exact:
        docs.append({**base[src], "doc_id": len(docs)})
    for d in docs:
        d["n_chars"] = len(d["text"])
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(pa.Table.from_pylist(docs, schema=datagen.documents(rng, 1).schema),
                   os.path.join(out_dir, "corpus_docs.parquet"))
    return planted


class Corpus:
    """Loads the corpus and runs one operator per call."""

    def __init__(self, spark, data_dir: str) -> None:
        self.docs = spark.read.parquet(os.path.join(data_dir, "corpus_docs.parquet"))

    def frame(self, fn: str):
        """The lazy result of one operator call."""
        from swiftlake_spark.operators import dedup

        d = self.docs
        if fn == "exact_dedup":
            return dedup.exact_dedup(d, "doc_id", ["text"])
        if fn == "minhash_lsh_dedup":
            return dedup.minhash_lsh_dedup(d, "doc_id", "text")
        raise ValueError(fn)

    def check(self, data_dir: str, planted: list) -> list[str]:
        """Near-duplicate recall on the planted pairs and the exact-dedup
        keeper count against DuckDB."""
        import duckdb

        errors = []
        pairs = {(min(a, b), max(a, b)) for a, b in
                 self.frame("minhash_lsh_dedup").select("id_a", "id_b").collect()}
        found = sum(1 for p in planted if (min(p), max(p)) in pairs)
        if found < 0.9 * len(planted):
            errors.append(f"minhash recall {found}/{len(planted)} below 0.9")
        keepers = self.frame("exact_dedup").filter("is_keeper").count()
        path = os.path.join(data_dir, "corpus_docs.parquet")
        want = duckdb.sql(f"SELECT COUNT(DISTINCT text) FROM read_parquet('{path}')").fetchone()[0]
        if keepers != want:
            errors.append(f"exact_dedup kept {keepers}, DuckDB counts {want} distinct texts")
        return errors

    def lsh_candidate_precision(self) -> float:
        """Verified pairs / LSH candidate pairs at the operator defaults."""
        from swiftlake_spark.operators import dedup

        sh = dedup.shingles(self.docs, "doc_id", "text", 3).persist()
        try:
            sig = dedup.minhash_signatures(sh, 16)
            cand = dedup.lsh_candidate_pairs(sig, 16, 4)
            n_cand = cand.count()
            n_ver = dedup.jaccard_verify(cand, sh, 0.7).count()
        finally:
            sh.unpersist()
        return n_ver / n_cand if n_cand else 0.0

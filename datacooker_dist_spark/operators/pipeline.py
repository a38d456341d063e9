"""Composed training-data preparation pipeline (the engine's flagship
LLM-corpus use case): quality filter → exact dedup → near-dedup → stats.

Each stage is one of the engine's primitive operators; the composition stays
a single lazy plan, so Catalyst prunes/pushes across stage boundaries and
nothing materializes until the sink. Survivor policy is deterministic
throughout (lowest doc_id wins), which makes the whole pipeline
oracle-checkable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import dedup as D
from . import text as T


def llm_prep(
    docs: DataFrame,
    jaccard_threshold: float = 0.8,
    min_tokens: int = 5,
    max_punct_ratio: float = 0.3,
    num_partitions: int | None = None,
    shingles: DataFrame | None = None,
    max_bucket: int | None = 512,
) -> DataFrame:
    """Corpus-prep pipeline over a documents table.

    1. quality filter: ≥ ``min_tokens`` tokens, punctuation ratio below
       ``max_punct_ratio``;
    2. exact dedup: keep the lowest doc_id per normalized-text fingerprint;
    3. near-dedup: LSH candidates → exact n-gram Jaccard ≥ threshold →
       drop the higher id of every qualifying pair (deterministic, one
       anti-join — at 100 TB this is the standard "pair-drop" policy; full
       transitive clustering would need connected components);
    4. emit per-document stats for the surviving corpus.

    ``shingles`` accepts a precomputed full-corpus (doc_id, _sh) pass (e.g.
    the session-shared shingle memo): it is narrowed to the exact-dedup
    survivors by an id join, which equals shingling the survivors directly
    — one shingle pass serves the whole dedup family instead of this
    pipeline paying its own.

    ``max_bucket`` (default 512) stop-bucket-caps the LSH candidate stage
    (:func:`~..operators.dedup.minhash_lsh_candidates`): a degenerate
    bucket's pair contribution is bounded at max_bucket² instead of going
    quadratic on boilerplate text — the default is far above any bucket
    the synthetic corpus produces (max 4 at sf0.1), so small-scale
    results are unaffected (asserted in tests); audit what a cap would
    drop with :func:`~..operators.dedup.oversized_buckets`. ``None``
    disables the cap (oracle baselines).
    """
    q = T.quality_features(docs).filter(F.col("quality_keep"))
    exact = (
        q.select("doc_id", T.fingerprint("text").alias("_fp"))
        .groupBy("_fp")
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    kept = docs.join(exact, "doc_id")

    if shingles is not None:
        sh = shingles.join(kept.select("doc_id"), "doc_id")
    else:
        sh = D.shingle_rows(kept, num_partitions=num_partitions, cache=True)
    cand = D.minhash_lsh_candidates(kept, shingles=sh, max_bucket=max_bucket)
    near_pairs = D.ngram_jaccard_pairs(
        kept, cand, threshold=jaccard_threshold, shingles=sh
    )
    drop = near_pairs.select(F.col("id_b").alias("doc_id")).distinct()
    survivors = kept.join(drop, "doc_id", "left_anti")

    return survivors.select(
        "doc_id",
        "lang",
        "source",
        T.token_count("text").cast("long").alias("n_tokens"),
        T.fingerprint("text").alias("fp"),
    )

"""Second-wave LLM-pipeline suite entries: PII scrubbing, deterministic
corpus splits, stratified sampling, unigram LM scoring."""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Window
from pyspark.sql import functions as F

from ..operators import dedup as D
from . import ORACLES, query, scoped_conf, table

# The word-soup corpus carries no real PII; a synthetic column with planted
# identifiers exercises the scrubbers deterministically.
PII_TEXT_SQL = (
    "concat('ref ', CAST(doc_id AS VARCHAR), ' user', CAST(doc_id AS VARCHAR),"
    " '@mail.example +1555', CAST(1000000 + doc_id AS VARCHAR), ' ', text)"
)


@query(
    "text_pii_scrub",
    oracle=f"""
    SELECT doc_id,
           regexp_replace(
             regexp_replace({PII_TEXT_SQL},
                            '[a-zA-Z0-9._]+@[a-zA-Z0-9.]+', '<EMAIL>', 'g'),
             '[0-9]{{4,}}', '<NUM>', 'g') AS scrubbed
    FROM documents
    """,
)
def text_pii_scrub(spark, sf):
    """PII redaction pass (emails, long digit runs) — regexp_replace is
    JVM-side; the pattern dialect is the RE2/Java common subset so the
    oracle replays it byte-identically."""
    docs = table(spark, sf, "documents")
    pii = F.concat(
        F.lit("ref "), F.col("doc_id").cast("string"),
        F.lit(" user"), F.col("doc_id").cast("string"),
        F.lit("@mail.example +1555"),
        (F.col("doc_id") + 1000000).cast("string"),
        F.lit(" "), F.col("text"),
    )
    scrubbed = F.regexp_replace(
        F.regexp_replace(pii, "[a-zA-Z0-9._]+@[a-zA-Z0-9.]+", "<EMAIL>"),
        "[0-9]{4,}",
        "<NUM>",
    )
    return docs.select("doc_id", scrubbed.alias("scrubbed"))


@query(
    "split_train_test",
    oracle="""
    SELECT doc_id,
           CASE WHEN ascii(substr(md5(regexp_replace(lower(trim(text)),
                                   '\\s+', ' ', 'g')), 1, 1)) % 5 = 0
                THEN 'test' ELSE 'train' END AS split
    FROM documents
    """,
)
def split_train_test(spark, sf):
    """Deterministic content-hash 80/20 split: keyed on the normalized-text
    fingerprint so exact duplicates always land in the same split (the
    leakage-safety property row-number splits lack)."""
    from ..operators.text import fingerprint

    docs = table(spark, sf, "documents")
    bucket = F.ascii(F.substring(fingerprint("text"), 1, 1)) % 5
    return docs.select(
        "doc_id",
        F.when(bucket == 0, "test").otherwise("train").alias("split"),
    )


@query("sample_stratified")  # rows-only: Bernoulli sampling is engine-specific
def sample_stratified(spark, sf):
    """Per-stratum Bernoulli sampling (sampleBy): balanced subsampling by
    lang with per-class fractions, seeded. Row membership is sampler-
    implementation-specific → rows-only; determinism under a fixed seed is
    what the engine guarantees."""
    docs = table(spark, sf, "documents")
    fractions = {"en": 0.5, "de": 0.8, "fr": 0.8, "es": 0.8, "zh": 0.8}
    return docs.sampleBy("lang", fractions, seed=42).select("doc_id", "lang")


@query(
    "text_unigram_logprob",
    oracle="""
    WITH tok AS (
      SELECT doc_id, UNNEST(regexp_split_to_array(lower(trim(text)), '\\s+')) AS t
      FROM documents),
    vocab AS (
      SELECT t, CAST(COUNT(*) AS BIGINT) AS tf FROM tok GROUP BY t),
    total AS (SELECT CAST(SUM(tf) AS DOUBLE) AS n FROM vocab)
    SELECT doc_id,
           round(SUM(round(ln(tf / n), 9)), 6) AS logprob,
           CAST(COUNT(*) AS BIGINT) AS n_tokens
    FROM tok, vocab, total
    WHERE tok.t = vocab.t
    GROUP BY doc_id
    """,
)
def text_unigram_logprob(spark, sf):
    """Unigram LM corpus scoring (the simplest perplexity-style quality
    signal): token log-likelihood under the corpus's own unigram
    distribution. Per-token logs are rounded to 9 digits before the
    order-sensitive sum, then the sum to 6 — making the double sum
    engine-stable without decimal gymnastics on transcendentals."""
    docs = table(spark, sf, "documents")
    tok = docs.select("doc_id", F.explode(D.tokens_col("text")).alias("t"))
    vocab = tok.groupBy("t").agg(F.count(F.lit(1)).alias("tf"))
    # Corpus total stays IN the plan (broadcast 1-row cross join) — no
    # driver round-trip, one lazy plan end to end (same shape text_tfidf
    # uses for its in-plan doc count).
    total_df = vocab.agg(F.sum("tf").cast("double").alias("_total"))
    scored = (
        tok.join(F.broadcast(vocab), "t")
        .crossJoin(F.broadcast(total_df))
        .select(
            "doc_id",
            F.round(F.log(F.col("tf") / F.col("_total")), 9).alias("_lp"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.round(F.sum("_lp"), 6).alias("logprob"),
        F.count(F.lit(1)).alias("n_tokens"),
    )


@query(
    "dedup_clusters",
    oracle="""
    WITH RECURSIVE
    sh AS (SELECT doc_id,
           list_distinct(list_transform(
               range(1, greatest(len(regexp_split_to_array(lower(trim(text)), '\\s+')) - 2, 1) + 1),
               i -> array_to_string((regexp_split_to_array(lower(trim(text)), '\\s+'))[i:i+2], ' ')))
           AS s FROM documents),
    pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM sh a JOIN sh b ON a.doc_id < b.doc_id
      WHERE len(list_intersect(a.s, b.s))
              / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) >= 0.8),
    edges AS (SELECT id_a AS s, id_b AS t FROM pairs
              UNION SELECT id_b, id_a FROM pairs),
    reach AS (
      SELECT s, t FROM edges
      UNION
      SELECT r.s, e.t FROM reach r JOIN edges e ON r.t = e.s
      WHERE e.t <> r.s)
    SELECT s AS doc_id, LEAST(s, MIN(t)) AS cluster_id
    FROM reach GROUP BY s
    """,
)
def dedup_clusters(spark, sf):
    """Near-duplicate CLUSTERS, not just pairs: LSH candidates → exact
    Jaccard ≥ 0.8 verification → iterative connected components
    (min-label propagation, one shuffle per round, O(diameter) rounds).
    The production dedup policy 'keep one doc per duplicate cluster' needs
    the component id, which pairwise output alone can't give when dups
    chain A~B~C without A~C. Oracle: recursive-CTE transitive closure."""
    from . import shared_jaccard_pairs

    pairs = shared_jaccard_pairs(spark, sf)
    # CC's passes run over the tiny pair list — size its first pass to it.
    return D.connected_components(
        pairs.select("id_a", "id_b"), parts=4
    ).select(F.col("id_a").alias("doc_id"), "cluster_id")


@query("dedup_clusters_incremental", oracle=ORACLES["dedup_clusters"])
def dedup_clusters_incremental(spark, sf):
    """INCREMENTAL cluster maintenance (VERDICT r08 task 2) — the last
    non-incremental stage in the ingest dedup path: the standing
    (node → root) assignment is built once over the BASE corpus's
    verified pairs (doc_id % 5 ≠ 0 on both ends — what a prior session
    persisted), then the new batch's verified pairs (any end with
    doc_id % 5 = 0, from the same session-shared LSH-verified set)
    update it through :func:`~..operators.dedup.incremental_components`
    — union-find over the CONTRACTED batch graph only, standing roots
    broadcast-patched, never a full edge-history re-scan. The oracle is
    the full recursive-CTE closure over old ∪ new edges — equality
    proves incremental ≡ rebuild, the invariant the operator's property
    test sweeps over random graphs and splits. At 100 TB each ingest
    batch pays its own pairs + two broadcast passes over the standing
    table; history is never touched.

    Exactness caveat (shared with every LSH-fed entry): the Spark side
    clusters the LSH-verified pair set while the oracle brute-forces
    ALL pairs, so the oracle equality additionally attests LSH recall
    losslessness on this corpus — a true Jaccard-0.8 pair misses all
    16 bands with prob (1−0.8⁴)¹⁶ ≈ 2·10⁻⁴, so a statistical miss at
    an untested fixture vintage diverges the closure, not the
    incremental ≡ rebuild invariant (that one is exact by the property
    test regardless of which pairs feed it)."""
    from . import shared_jaccard_pairs

    pairs = shared_jaccard_pairs(spark, sf)
    is_new_a = F.col("id_a") % 5 == 0
    is_new_b = F.col("id_b") % 5 == 0
    base_pairs = pairs.filter(~is_new_a & ~is_new_b)
    batch_pairs = pairs.filter(is_new_a | is_new_b)
    with scoped_conf(spark, "spark.sql.shuffle.partitions", 4):
        standing = (
            D.connected_components(base_pairs.select("id_a", "id_b"))
            .select(F.col("id_a").alias("node"), F.col("cluster_id").alias("root"))
            .localCheckpoint()
        )
        return D.incremental_components(
            standing, batch_pairs.select("id_a", "id_b")
        ).select(F.col("node").alias("doc_id"), "cluster_id")


@query("dedup_clusters_roundtrip", oracle=ORACLES["dedup_clusters"])
def dedup_clusters_roundtrip(spark, sf):
    """STATE-TABLE round-trip for incremental clustering (round 9 —
    completes the task-2 operational loop): the standing (node → root)
    assignment is written through the engine's own hadoopParquet OUTPUT
    adapter, read back cold through the INPUT adapter (a lineage-free
    table — exactly what the NEXT ingest session sees), and the new
    batch's pairs update THAT via
    :func:`~..operators.dedup.incremental_components`. This is the real
    cross-session shape: cluster state lives in storage between
    ingests, not in a session memo — the cycle is read state → patch
    with the batch → write state back. The oracle is the same
    recursive-CTE closure over old ∪ new edges as
    ``dedup_clusters_incremental`` — equality proves the persisted
    assignment is patch-compatible across sessions (plain int64
    columns, no engine-internal state). Same LSH-losslessness caveat
    as ``dedup_clusters_incremental``: the oracle brute-forces all
    pairs, so its equality also attests the ~2·10⁻⁴-per-pair band-miss
    event did not occur on this corpus."""
    from ..model import DataStream, StreamType
    from ..registry import resolve_input, resolve_output
    from . import scratch_dir, shared_jaccard_pairs

    pairs = shared_jaccard_pairs(spark, sf)
    is_new_a = F.col("id_a") % 5 == 0
    is_new_b = F.col("id_b") % 5 == 0
    base_pairs = pairs.filter(~is_new_a & ~is_new_b)
    batch_pairs = pairs.filter(is_new_a | is_new_b)
    with scoped_conf(spark, "spark.sql.shuffle.partitions", 4):
        standing = (
            D.connected_components(base_pairs.select("id_a", "id_b"))
            .select(
                F.col("id_a").alias("node"),
                F.col("cluster_id").alias("root"),
            )
        )
        base_dir = scratch_dir("ccstate")
        out = resolve_output("hadoopParquet")().configure({}).initialize(
            spark, base_dir
        )
        out.save(
            "cc_state", DataStream("cc_state", standing, StreamType.COLUMNAR)
        )
        inp = resolve_input("hadoopColumnar")().configure(
            {"parquet": True}
        ).initialize(spark, base_dir)
        [ds] = inp.load("cc_state").values()
        return D.incremental_components(
            ds.df, batch_pairs.select("id_a", "id_b")
        ).select(F.col("node").alias("doc_id"), "cluster_id")


@query(
    "dedup_embedding_clusters",
    oracle="""
    WITH RECURSIVE
    e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
          FROM embeddings WHERE vec_id < 500),
    pairs AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b
      FROM e a JOIN e b ON a.vec_id < b.vec_id
      WHERE round(list_dot_product(a.v, b.v)
                  / (sqrt(list_dot_product(a.v, a.v))
                     * sqrt(list_dot_product(b.v, b.v))), 6) >= 0.45),
    edges AS (SELECT id_a AS s, id_b AS t FROM pairs
              UNION SELECT id_b, id_a FROM pairs),
    reach AS (
      SELECT s, t FROM edges
      UNION
      SELECT r.s, e2.t FROM reach r JOIN edges e2 ON r.t = e2.s
      WHERE e2.t <> r.s)
    SELECT s AS vec_id, LEAST(s, MIN(t)) AS cluster_id
    FROM reach GROUP BY s
    """,
)
def dedup_embedding_clusters(spark, sf):
    """Embedding-space near-dup clusters: LSH-candidate exact-cosine pairs
    (≥ 0.45, same candidate machinery as dedup_embedding — equi-join on
    bucket signatures, no CartesianProduct) fed through the same
    connected-components operator as the text path — one operator serving
    both modalities. The component step is unchanged between the bounded
    slice and a corpus-scale run. The verified pair list comes from the
    session memo shared with dedup_embedding (the LSH pipeline runs once)."""
    from .llm import shared_embedding_pairs

    pairs = shared_embedding_pairs(spark, sf)
    return D.connected_components(
        pairs.select("id_a", "id_b"), parts=4
    ).select(F.col("id_a").alias("vec_id"), "cluster_id")


@query(
    "text_tfidf",
    oracle="""
    WITH tok AS (
      SELECT doc_id,
             UNNEST(regexp_split_to_array(lower(trim(text)), '\\s+')) AS t
      FROM documents),
    tf AS (
      SELECT doc_id, t, CAST(COUNT(*) AS BIGINT) AS tf
      FROM tok WHERE t <> '' GROUP BY doc_id, t),
    idf AS (
      SELECT t, round(ln(CAST((SELECT COUNT(*) FROM documents) AS DOUBLE)
                         / COUNT(*)), 9) AS idf
      FROM tf GROUP BY t),
    scored AS (
      SELECT tf.doc_id, tf.t AS token, tf.tf,
             round(tf.tf * idf.idf, 6) AS tfidf
      FROM tf JOIN idf ON tf.t = idf.t)
    SELECT doc_id, token, tf, tfidf
    FROM (SELECT *, ROW_NUMBER() OVER (
            PARTITION BY doc_id ORDER BY tfidf DESC, token) AS rn
          FROM scored)
    WHERE rn <= 3
    """,
)
def text_tfidf(spark, sf):
    """Per-document top-3 terms by tf-idf — the classic keyword-extraction
    signal for corpus curation. tf and df come from one tokenize→explode
    pass with two aggregates; document count stays in-plan (scalar agg
    cross-joined, no driver collect); idf broadcasts into the tf rows
    (vocab ≪ corpus at any scale). The transcendental ln rounds to 9
    digits and the product to 6 before ranking, with a token tiebreak, so
    the top-3 cut is identical on both engines. Top-k per group is a
    rank-filter window, not a global sort."""
    docs = table(spark, sf, "documents")
    tok = docs.select("doc_id", F.explode(D.tokens_col("text")).alias("t"))
    tf = (
        tok.filter(F.col("t") != "")
        .groupBy("doc_id", "t")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    n_docs = docs.agg(F.count(F.lit(1)).cast("double").alias("_n"))
    idf = (
        tf.groupBy("t")
        .agg(F.count(F.lit(1)).alias("_df"))
        .crossJoin(F.broadcast(n_docs))
        .select("t", F.round(F.log(F.col("_n") / F.col("_df")), 9).alias("idf"))
    )
    scored = tf.join(F.broadcast(idf), "t").select(
        "doc_id",
        F.col("t").alias("token"),
        "tf",
        F.round(F.col("tf") * F.col("idf"), 6).alias("tfidf"),
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("tfidf").desc(), F.col("token")
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .drop("rn")
    )


@query(
    "pack_sequences",
    oracle="""
    WITH sized AS (
      SELECT doc_id, source,
             CAST(len(regexp_split_to_array(lower(trim(text)), '\\s+'))
                  AS BIGINT) AS n_tokens
      FROM documents),
    packed AS (
      SELECT doc_id, source, n_tokens,
             COALESCE(SUM(n_tokens) OVER (
               PARTITION BY source ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS tok_before
      FROM sized)
    SELECT source, CAST(tok_before // 2048 AS BIGINT) AS batch_id,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS batch_tokens,
           MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
    FROM packed
    GROUP BY source, batch_id
    """,
)
def pack_sequences(spark, sf):
    """Token-budget sequence packing: documents fill contiguous 2048-token
    training batches per source (batch = exclusive prefix token count div
    budget, doc_id order — fully deterministic). The prefix sum windows
    PER SOURCE, so at 100 TB the sequential-scan hazard of a global
    cumulative sum is bounded by the largest single source, and sources
    pack in parallel; everything is integer arithmetic, exact on both
    engines. This is the batch-assignment half of LLM pretraining data
    prep (the concat/pad half is a narrow per-batch map downstream)."""
    docs = table(spark, sf, "documents")
    sized = docs.select(
        "doc_id", "source",
        F.size(D.tokens_col("text")).cast("long").alias("n_tokens"),
    )
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    packed = sized.withColumn(
        "tok_before", F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
    )
    return (
        packed.groupBy(
            "source",
            (F.col("tok_before") / F.lit(2048)).cast("long").alias("batch_id"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("batch_tokens"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
    )


@query(
    "chunk_documents",
    oracle="""
    SELECT doc_id,
           CAST(i AS BIGINT) AS chunk_id,
           substr(text, CAST(i * 150 + 1 AS BIGINT), 200) AS chunk_text,
           CAST(len(substr(text, CAST(i * 150 + 1 AS BIGINT), 200))
                AS BIGINT) AS chunk_len
    FROM (
      SELECT doc_id, text,
             UNNEST(range(CAST(GREATEST(CEIL((len(text) - 50) / 150.0), 1)
                          AS BIGINT))) AS i
      FROM documents)
    """,
)
def chunk_documents(spark, sf):
    """RAG-style sliding-window chunking: 200-char chunks on a 150-char
    stride (50 overlap), ceil((len-overlap)/stride) chunks per document,
    minimum one. posexplode over an in-row sequence is a narrow transform
    — zero shuffles at any scale, output size a constant factor of input.
    Pure integer/substring arithmetic replayed verbatim by the oracle."""
    docs = table(spark, sf, "documents")
    n_chunks = F.greatest(
        F.ceil((F.length("text") - F.lit(50)) / F.lit(150.0)), F.lit(1)
    ).cast("long")
    return (
        docs.select(
            "doc_id", "text",
            F.posexplode(
                F.sequence(F.lit(0), n_chunks - 1)
            ).alias("chunk_id", "_off"),
        )
        .select(
            "doc_id",
            F.col("chunk_id").cast("long").alias("chunk_id"),
            F.substring(
                F.col("text"), (F.col("_off") * 150 + 1).cast("int"), 200
            ).alias("chunk_text"),
        )
        .withColumn("chunk_len", F.length("chunk_text").cast("long"))
    )


@query(
    "decontaminate_ngrams",
    oracle="""
    WITH split AS (
      SELECT doc_id, text,
             CASE WHEN ascii(substr(md5(regexp_replace(lower(trim(text)),
                                    '\\s+', ' ', 'g')), 1, 1)) % 5 = 0
                  THEN 'test' ELSE 'train' END AS split
      FROM documents),
    sh AS (
      SELECT doc_id, split,
             UNNEST(list_distinct(list_transform(
               range(1, greatest(len(regexp_split_to_array(lower(trim(text)),
                                 '\\s+')) - 2, 1) + 1),
               i -> array_to_string((regexp_split_to_array(lower(trim(text)),
                                    '\\s+'))[i:i+2], ' ')))) AS s
      FROM split),
    test_sh AS (SELECT DISTINCT s FROM sh WHERE split = 'test')
    SELECT sh.doc_id, CAST(COUNT(DISTINCT sh.s) AS BIGINT) AS n_shared
    FROM sh JOIN test_sh USING (s)
    WHERE sh.split = 'train'
    GROUP BY sh.doc_id
    """,
)
def decontaminate_ngrams(spark, sf):
    """Benchmark decontamination: train-split documents sharing at least one
    word 3-gram with any test-split document, with the shared-gram count —
    the standard pretraining hygiene pass (strict n-gram collision, as in
    published LLM data-prep pipelines). Reuses the leakage-safe
    fingerprint split and the session-shared shingle pass; the distinct
    test-gram vocabulary is a small fraction of the corpus, so its join
    side stays broadcastable at scale (test sets don't grow with train
    data). One shuffle: the per-train-doc distinct-count aggregate."""
    from ..operators.text import fingerprint
    from . import shared_shingles

    sh = shared_shingles(spark, sf)
    docs = table(spark, sf, "documents")
    split = docs.select(
        "doc_id",
        (F.ascii(F.substring(fingerprint("text"), 1, 1)) % 5 == 0)
        .alias("_is_test"),
    )
    sh = sh.select("doc_id", "_sh").distinct().join(split, "doc_id")
    test_sh = (
        sh.filter("_is_test").select("_sh").distinct()
    )
    return (
        sh.filter(~F.col("_is_test"))
        .join(F.broadcast(test_sh), "_sh")
        .groupBy("doc_id")
        .agg(F.count_distinct("_sh").alias("n_shared"))
    )


@query(
    "dedup_edit_distance",
    oracle="""
    WITH d AS (
      SELECT doc_id, substr(lower(trim(text)), 1, 80) AS t
      FROM documents WHERE doc_id < 300)
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(levenshtein(a.t, b.t) AS BIGINT) AS edit_dist
    FROM d a JOIN d b ON a.doc_id < b.doc_id
    WHERE levenshtein(a.t, b.t) <= 20
    """,
)
def dedup_edit_distance(spark, sf):
    """Edit-distance near-dup verification, candidate-driven: the pair
    source is the shared banded-MinHash LSH bucket aggregate (linear
    shuffle — no cross join anywhere), and per-candidate Levenshtein ≤ 20
    over 80-char normalized prefixes is the character-level verifier that
    catches small in-place edits word-level Jaccard can miss. 16 bands ×
    4 hashes means a pair at full-text Jaccard 0.9 (the regime where
    prefix edits stay under the threshold) collides in ≥1 band with
    probability 1-(1-0.9^4)^16 ≈ 1-4e-8, with seeded (deterministic)
    hashes — so the candidate set provably covers the oracle's qualifying
    pairs on this corpus while the plan is the corpus-scale one. Integer
    distance — exact on both engines."""
    from . import shared_lsh_candidates

    docs = table(spark, sf, "documents").filter(F.col("doc_id") < 300)
    # Bucket-mateship is a pure pairwise property, so the bounded slice
    # is a post-filter on the session-shared candidate set — identical
    # to running LSH on the filtered docs, without the recompute.
    cand = shared_lsh_candidates(spark, sf).filter(
        (F.col("id_a") < 300) & (F.col("id_b") < 300)
    )
    d = docs.select(
        "doc_id",
        F.substring(F.lower(F.trim(F.col("text"))), 1, 80).alias("t"),
    )
    cand = cand.join(
        d.select(F.col("doc_id").alias("id_a"), F.col("t").alias("_ta")), "id_a"
    ).join(
        d.select(F.col("doc_id").alias("id_b"), F.col("t").alias("_tb")), "id_b"
    )
    dist = F.levenshtein("_ta", "_tb")
    return (
        cand.filter(dist <= 20)
        .select("id_a", "id_b", dist.cast("long").alias("edit_dist"))
    )


@query(
    "pipeline_multimodal_pairs",
    oracle="""
    WITH q AS (
      SELECT doc_id, text, lang, n_chars
      FROM documents
      WHERE n_chars >= 200 AND lang IN ('en', 'de', 'fr')),
    e AS (
      SELECT vec_id, label,
             round(sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                         CAST(embedding AS DOUBLE[]))), 6)
               AS vnorm
      FROM embeddings)
    SELECT q.doc_id, e.label, q.lang, q.n_chars, e.vnorm
    FROM q JOIN e ON q.doc_id = e.vec_id
    WHERE e.vnorm > 0.1
    """,
)
def pipeline_multimodal_pairs(spark, sf):
    """Cross-modal training-pair construction (CLIP-style): quality-filter
    the text side (length + language), validity-filter the embedding side
    (nonzero norm), and join on the shared id to emit aligned
    (document, embedding) pairs with their metadata. One equi-join on the
    id — at corpus scale both sides arrive bucketed on the id and the
    join is co-located, zero extra shuffle. Norms rounded to 6 for the
    cross-engine threshold comparison."""
    from ..operators.similarity import as_double_array, _norm

    docs = table(spark, sf, "documents")
    emb = table(spark, sf, "embeddings")
    q = docs.filter(
        (F.col("n_chars") >= 200) & F.col("lang").isin("en", "de", "fr")
    ).select("doc_id", "lang", "n_chars")
    e = emb.select(
        "vec_id", "label",
        F.round(_norm(as_double_array("embedding")), 6).alias("vnorm"),
    ).filter(F.col("vnorm") > 0.1)
    return q.join(e, q["doc_id"] == e["vec_id"]).select(
        "doc_id", "label", "lang", "n_chars", "vnorm"
    )


URL_SQL = (
    "concat('HTTPS://WWW.Example', CAST(doc_id % 7 AS VARCHAR),"
    " '.COM:443/Path/', CAST(doc_id AS VARCHAR),"
    " CASE WHEN doc_id % 3 = 0 THEN '/?utm_source=x&q=1&utm_campaign=y'"
    "      WHEN doc_id % 3 = 1 THEN '/?q=1' ELSE '/' END)"
)


@query(
    "text_url_canonicalize",
    oracle=f"""
    WITH u AS (SELECT doc_id, {URL_SQL} AS url FROM documents)
    SELECT doc_id, url,
           regexp_replace(
             regexp_replace(
               regexp_replace(
                 regexp_replace(lower(url), '^https?://www\\.', 'https://'),
                 ':443/', '/'),
               '(utm_[a-z]+=[^&]*&?)', '', 'g'),
             '[?&/]+$', '') AS canonical
    FROM u
    """,
)
def text_url_canonicalize(spark, sf):
    """URL canonicalization — the crawl-dedup prerequisite: lowercase,
    scheme+www fold, default-port strip, tracking-param (utm_*) removal,
    trailing separator trim. Pure regexp_replace chain (JVM codegen,
    per-row, no shuffle) in the RE2/Java-compatible dialect so the oracle
    replays it byte-identically. The corpus has no URL column, so a
    deterministic synthetic URL per doc exercises every rule. Canonical
    forms are what exact-dedup then groups on (dedup_exact's fingerprint
    over canonical URLs ≫ raw URLs for crawl data)."""
    docs = table(spark, sf, "documents")
    url = F.concat(
        F.lit("HTTPS://WWW.Example"), (F.col("doc_id") % 7).cast("string"),
        F.lit(".COM:443/Path/"), F.col("doc_id").cast("string"),
        F.when(F.col("doc_id") % 3 == 0,
               F.lit("/?utm_source=x&q=1&utm_campaign=y"))
        .when(F.col("doc_id") % 3 == 1, F.lit("/?q=1"))
        .otherwise(F.lit("/")),
    )
    canonical = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(
                F.regexp_replace(F.lower(url), r"^https?://www\.", "https://"),
                ":443/", "/"),
            r"(utm_[a-z]+=[^&]*&?)", ""),
        r"[?&/]+$", "")
    return docs.select(
        "doc_id", url.alias("url"), canonical.alias("canonical")
    )


@query(
    "dedup_exact_survivor",
    oracle="""
    WITH fp AS (
      SELECT doc_id, source, n_chars,
             md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS f
      FROM documents)
    SELECT f AS fingerprint, doc_id AS survivor_id, source, n_chars,
           n_dups
    FROM (
      SELECT fp.*,
             ROW_NUMBER() OVER (PARTITION BY f
                                ORDER BY n_chars DESC, doc_id) AS rn,
             CAST(COUNT(*) OVER (PARTITION BY f) AS BIGINT) AS n_dups
      FROM fp)
    WHERE rn = 1
    """,
)
def dedup_exact_survivor(spark, sf):
    """Exact dedup with a DETERMINISTIC survivor policy: group by the
    normalized-text fingerprint and keep the longest document (doc_id
    tiebreak), carrying the duplicate count. dropDuplicates picks an
    arbitrary partition-order-dependent survivor — fine for counts,
    wrong for reproducible corpus builds; this rank-filter form costs
    the same single fingerprint shuffle and is replayable bit-for-bit.
    The survivor policy (longest / newest / highest-quality) is just the
    window's ORDER BY."""
    from ..operators.text import fingerprint

    docs = table(spark, sf, "documents")
    fp = docs.select(
        "doc_id", "source", "n_chars", fingerprint("text").alias("f")
    )
    w = Window.partitionBy("f").orderBy(
        F.col("n_chars").desc(), F.col("doc_id")
    )
    wc = Window.partitionBy("f")
    return (
        fp.withColumn("rn", F.row_number().over(w))
        .withColumn("n_dups", F.count(F.lit(1)).over(wc))
        .filter(F.col("rn") == 1)
        .select(
            F.col("f").alias("fingerprint"),
            F.col("doc_id").alias("survivor_id"),
            "source", "n_chars", "n_dups",
        )
    )


@query(
    "dedup_cross_source",
    oracle="""
    WITH fp AS (
      SELECT doc_id, source,
             md5(array_to_string(
               (regexp_split_to_array(lower(trim(text)), '\\s+'))[1:3],
               ' ')) AS f
      FROM documents)
    SELECT f AS fingerprint,
           CAST(COUNT(*) AS BIGINT) AS n_copies,
           CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
           MIN(doc_id) AS first_doc
    FROM fp
    GROUP BY f
    HAVING COUNT(DISTINCT source) > 1
    """,
)
def dedup_cross_source(spark, sf):
    """Cross-source lead-collision detection: documents OPENING with the
    same 3 tokens in MORE THAN ONE source — the syndication/mirror signal
    (same article republished under different sources) that full-text
    fingerprints miss once mirrors edit the body, and the check that
    stops source-weighted sampling from double-counting mirrored content.
    Keyed on the md5 of the 3-token lead: one 16-byte-key shuffle exactly
    like dedup_exact, plus a distinct-source count and a HAVING gate.
    (Full-text equality across sources is near-empty in the synthetic
    corpus at small sf; the lead key keeps the shape meaningful at every
    scale.)"""
    from ..operators import dedup as DD

    docs = table(spark, sf, "documents")
    lead = F.md5(
        F.concat_ws(" ", F.slice(DD.tokens_col("text"), 1, 3))
    )
    return (
        docs.select("doc_id", "source", lead.alias("f"))
        .groupBy(F.col("f").alias("fingerprint"))
        .agg(
            F.count(F.lit(1)).alias("n_copies"),
            F.count_distinct("source").alias("n_sources"),
            F.min("doc_id").alias("first_doc"),
        )
        .filter(F.col("n_sources") > 1)
    )


@query(
    "pipeline_crawl_refine",
    oracle=f"""
    WITH canon AS (
      SELECT doc_id, source, n_chars, text,
             regexp_replace(
               regexp_replace(
                 regexp_replace(
                   regexp_replace(lower({URL_SQL}),
                                  '^https?://www\\.', 'https://'),
                   ':443/', '/'),
                 '(utm_[a-z]+=[^&]*&?)', '', 'g'),
               '[?&/]+$', '') AS canonical_url
      FROM documents),
    kept AS (
      SELECT *,
             ROW_NUMBER() OVER (PARTITION BY canonical_url
                                ORDER BY n_chars DESC, doc_id) AS rn
      FROM canon WHERE n_chars >= 150),
    survivors AS (SELECT * FROM kept WHERE rn = 1)
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           CAST(SUM(len(regexp_split_to_array(lower(trim(text)), '\\s+')))
                AS BIGINT) AS total_tokens
    FROM survivors
    GROUP BY source
    """,
)
def pipeline_crawl_refine(spark, sf):
    """Composed crawl-refinement flagship: URL canonicalization → length
    gate → per-URL deterministic survivor (longest, doc_id tiebreak) →
    per-source corpus stats, all ONE lazy Catalyst plan (canonicalize and
    gate are narrow; the survivor window and the stats aggregate are the
    only two shuffles). This is the crawl half of corpus prep, feeding
    the content half (pipeline_llm_prep); at 100 TB the URL-survivor
    shuffle keys on the canonical URL hash, bounded by unique-URL count
    not page fetches."""
    from ..operators import dedup as DD

    docs = table(spark, sf, "documents")
    url = F.concat(
        F.lit("HTTPS://WWW.Example"), (F.col("doc_id") % 7).cast("string"),
        F.lit(".COM:443/Path/"), F.col("doc_id").cast("string"),
        F.when(F.col("doc_id") % 3 == 0,
               F.lit("/?utm_source=x&q=1&utm_campaign=y"))
        .when(F.col("doc_id") % 3 == 1, F.lit("/?q=1"))
        .otherwise(F.lit("/")),
    )
    canonical = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(
                F.regexp_replace(F.lower(url), r"^https?://www\.", "https://"),
                ":443/", "/"),
            r"(utm_[a-z]+=[^&]*&?)", ""),
        r"[?&/]+$", "")
    w = Window.partitionBy("canonical_url").orderBy(
        F.col("n_chars").desc(), F.col("doc_id")
    )
    survivors = (
        docs.withColumn("canonical_url", canonical)
        .filter(F.col("n_chars") >= 150)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
    )
    return survivors.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.sum(F.size(DD.tokens_col("text")).cast("long")).alias("total_tokens"),
    )


@query(
    "text_repetition_ratio",
    oracle="""
    WITH tok AS (
      SELECT doc_id,
             UNNEST(regexp_split_to_array(lower(trim(text)), '\\s+')) AS t
      FROM documents),
    cnt AS (
      SELECT doc_id, t, COUNT(*) AS c FROM tok
      WHERE t <> '' GROUP BY doc_id, t)
    SELECT doc_id,
           CAST(SUM(c) AS BIGINT) AS n_tokens,
           CAST(COUNT(*) AS BIGINT) AS n_distinct,
           round(COUNT(*) / CAST(SUM(c) AS DOUBLE), 6) AS distinct_ratio,
           round(MAX(c) / CAST(SUM(c) AS DOUBLE), 6) AS top_token_share
    FROM cnt GROUP BY doc_id
    """,
)
def text_repetition_ratio(spark, sf):
    """Intra-document repetition profile — the C4/Gopher-style quality
    signal that catches boilerplate and keyword-stuffed pages: per-doc
    token count, distinct-token ratio, and the share of the single most
    frequent token. Two chained hash aggregates on the same doc_id-prefixed
    key — the second groupBy is a near-free re-aggregation of the first's
    output, and both run with map-side partials; nothing is quadratic in
    document length (vs the naive self-join of tokens)."""
    docs = table(spark, sf, "documents")
    tok = docs.select(
        "doc_id", F.explode(D.tokens_col("text")).alias("t")
    ).filter(F.col("t") != "")
    cnt = tok.groupBy("doc_id", "t").agg(F.count(F.lit(1)).alias("c"))
    return cnt.groupBy("doc_id").agg(
        F.sum("c").alias("n_tokens"),
        F.count(F.lit(1)).alias("n_distinct"),
        F.round(F.count(F.lit(1)) / F.sum("c").cast("double"), 6).alias(
            "distinct_ratio"
        ),
        F.round(F.max("c") / F.sum("c").cast("double"), 6).alias(
            "top_token_share"
        ),
    )


@query(
    "sample_hash_reproducible",
    oracle="""
    SELECT doc_id, lang, source
    FROM documents
    WHERE (doc_id * 2654435761) % 100 < 10
    """,
)
def sample_hash_reproducible(spark, sf):
    """Reproducible 10% sample by multiplicative key hashing — the
    production answer to 'give me the same sample next run, next engine,
    next cluster': membership is a pure function of the key, so the
    sample is stable across partitionings, engines and re-ingests
    (unlike engine-RNG Bernoulli sampling, which sample_stratified
    covers as rows-only). Narrow — the predicate rides the scan; at
    100 TB this is the only sampling that composes with incremental
    pipelines, because yesterday's rows keep yesterday's verdict."""
    docs = table(spark, sf, "documents")
    return docs.filter((F.col("doc_id") * 2654435761) % 100 < 10).select(
        "doc_id", "lang", "source"
    )


@query(
    "corpus_stats_report",
    oracle="""
    SELECT COALESCE(source, '<all>') AS source,
           COALESCE(lang, '<all>') AS lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           CAST(SUM(len(regexp_split_to_array(lower(trim(text)), '\\s+')))
                AS BIGINT) AS total_tokens,
           round(SUM(n_chars) / CAST(COUNT(*) AS DOUBLE), 6) AS avg_chars
    FROM documents
    GROUP BY GROUPING SETS ((source, lang), (source), ())
    """,
)
def corpus_stats_report(spark, sf):
    """The corpus 'data card' in one scan: doc counts, char and token
    volumes, and average length at three grains — (source, lang), per
    source, and corpus-wide — via GROUPING SETS (a single Expand + one
    hash aggregate; no second pass per grain). This is the report every
    training-data release ships and the first sanity gate after any
    pipeline change: volume deltas localize to a source×lang cell before
    anyone reads a sample."""
    docs = table(spark, sf, "documents")
    docs.createOrReplaceTempView("documents_v")
    return spark.sql(
        """
        SELECT COALESCE(source, '<all>') AS source,
               COALESCE(lang, '<all>') AS lang,
               COUNT(*) AS n_docs,
               SUM(n_chars) AS total_chars,
               SUM(size(split(lower(trim(text)), '\\\\s+'))) AS total_tokens,
               round(SUM(n_chars) / CAST(COUNT(*) AS DOUBLE), 6) AS avg_chars
        FROM documents_v
        GROUP BY GROUPING SETS ((source, lang), (source), ())
        """
    )


@query(
    "text_bigram_logprob",
    oracle="""
    WITH t AS (
      SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS tk
      FROM documents),
    b AS (
      SELECT doc_id, bg, split_part(bg, ' ', 1) AS prev FROM (
        SELECT doc_id,
               UNNEST(list_transform(range(1, len(tk)),
                                     i -> tk[i] || ' ' || tk[i+1])) AS bg
        FROM t)),
    c2 AS (SELECT bg, COUNT(*) AS n2 FROM b GROUP BY bg),
    c1 AS (SELECT prev, COUNT(*) AS n1 FROM b GROUP BY prev),
    scored AS (
      SELECT b.doc_id, round(ln(CAST(c2.n2 AS DOUBLE) / c1.n1), 9) AS lp
      FROM b JOIN c2 USING (bg) JOIN c1 USING (prev))
    SELECT doc_id,
           round(CAST(SUM(CAST(lp AS DECIMAL(25,9))) AS DOUBLE), 6)
             AS logprob,
           COUNT(*) AS n_bigrams
    FROM scored GROUP BY doc_id
    """,
)
def text_bigram_logprob(spark, sf):
    """Bigram-LM document score: mean-free sum of ln P(w_i | w_{i-1}) with
    conditional probabilities estimated from the corpus itself (bigram
    count over bigram-prefix count) — the step up from the unigram LM
    quality filter that actually penalizes scrambled word ORDER, not just
    rare words. Adjacency comes from one posexplode + per-doc LEAD window
    (the measured-fast shingle path, not interpreted array lambdas); the
    count tables are corpus-level hash aggregates joined back by bigram
    key. Per-term ln is rounded to 9 digits, then summed through exact
    decimal accumulation (dsum) — the double-sum order sensitivity that
    round-6 alone can't absorb at a rounding boundary."""
    from pyspark.sql import Window as W

    docs = table(spark, sf, "documents")
    tok = docs.select(
        "doc_id",
        F.posexplode(F.split(F.lower(F.trim(F.col("text"))), r"\s+"))
        .alias("pos", "w"),
    )
    w = W.partitionBy("doc_id").orderBy("pos")
    bg = (
        tok.withColumn("w2", F.lead("w").over(w))
        .filter(F.col("w2").isNotNull())
        .select(
            "doc_id",
            F.concat_ws(" ", "w", "w2").alias("bg"),
            F.col("w").alias("prev"),
        )
    )
    c2 = bg.groupBy("bg").agg(F.count(F.lit(1)).alias("n2"))
    c1 = bg.groupBy("prev").agg(F.count(F.lit(1)).alias("n1"))
    scored = (
        bg.join(c2, "bg")
        .join(c1, "prev")
        .select(
            "doc_id",
            F.round(F.log(F.col("n2") / F.col("n1")), 9).alias("_lp"),
        )
    )
    from ..functions.scalars import dsum

    return scored.groupBy("doc_id").agg(
        F.round(dsum("_lp", 9), 6).alias("logprob"),
        F.count(F.lit(1)).alias("n_bigrams"),
    )


@query(
    "pipeline_embedding_prep",
    oracle="""
    WITH e AS (
      SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
      FROM embeddings WHERE vec_id < 500),
    pairs AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b
      FROM e a JOIN e b ON a.vec_id < b.vec_id
      WHERE round(list_dot_product(a.v, b.v)
                  / (sqrt(list_dot_product(a.v, a.v))
                     * sqrt(list_dot_product(b.v, b.v))), 6) >= 0.45),
    drops AS (SELECT DISTINCT id_b AS vec_id FROM pairs),
    kept AS (SELECT * FROM e WHERE vec_id NOT IN (SELECT vec_id FROM drops)),
    flat AS (
      SELECT vec_id, label, generate_subscripts(v, 1) AS i,
             round(UNNEST(v), 9) AS x
      FROM kept),
    cent AS (
      SELECT label, i,
             round(CAST(SUM(CAST(x AS DECIMAL(25,9))) AS DOUBLE)
                   / COUNT(*), 9) AS c
      FROM flat GROUP BY label, i),
    percomp AS (
      SELECT f.vec_id, f.label,
             round(f.x * c.c, 9) AS xc,
             round(f.x * f.x, 9) AS xx,
             round(c.c * c.c, 9) AS cc
      FROM flat f JOIN cent c ON f.label = c.label AND f.i = c.i),
    pervec AS (
      SELECT vec_id, label,
             round(CAST(SUM(CAST(xc AS DECIMAL(25,9))) AS DOUBLE)
                   / (sqrt(CAST(SUM(CAST(xx AS DECIMAL(25,9))) AS DOUBLE))
                      * sqrt(CAST(SUM(CAST(cc AS DECIMAL(25,9))) AS DOUBLE))),
                   6) AS cos_c
      FROM percomp GROUP BY vec_id, label),
    dropped AS (
      SELECT e.label, CAST(COUNT(*) AS BIGINT) AS n_dropped
      FROM e JOIN drops USING (vec_id) GROUP BY e.label)
    SELECT p.label, CAST(COUNT(*) AS BIGINT) AS n_kept,
           COALESCE(MAX(d.n_dropped), 0) AS n_dropped,
           round(CAST(SUM(CAST(p.cos_c AS DECIMAL(25,6))) AS DOUBLE)
                 / COUNT(*), 6) AS avg_cos_to_centroid
    FROM pervec p LEFT JOIN dropped d ON p.label = d.label
    GROUP BY p.label
    """,
)
def pipeline_embedding_prep(spark, sf):
    """Embedding-corpus prep pipeline, end-to-end: LSH-candidate near-dup
    drop (the shared verified pair set — drop the higher id of each pair)
    → per-label centroid (exact decimal mean per dimension) → per-vector
    cosine to its label centroid → the corpus data card: per label,
    vectors kept, duplicates dropped, and mean intra-label coherence.
    The coherence number is the embedding-space analogue of the text
    pipeline's quality stats — it flags mislabeled or polluted label
    groups before training. Every reduction (centroid mean, dot products,
    final average) runs through rounded-term exact-decimal accumulation
    so the doubles are engine-stable end to end. One lazy plan: anti-join
    → posexplode → two hash aggregates → broadcast-joined centroid dims."""
    from ..operators import similarity as S
    from .llm import shared_embedding_pairs

    emb = table(spark, sf, "embeddings").filter(F.col("vec_id") < 500)
    drops = (
        shared_embedding_pairs(spark, sf)
        .select(F.col("id_b").alias("vec_id"))
        .distinct()
    )
    kept = emb.join(drops, "vec_id", "left_anti")
    flat = kept.select(
        "vec_id", "label",
        F.posexplode(S.as_double_array("embedding")).alias("i", "x0"),
    ).select("vec_id", "label", "i", F.round("x0", 9).alias("x"))

    def dsum9(col):
        return F.sum(F.col(col).cast("decimal(25,9)")).cast("double")

    cent = flat.groupBy("label", "i").agg(
        F.round(dsum9("x") / F.count(F.lit(1)), 9).alias("c")
    )
    percomp = flat.join(F.broadcast(cent), ["label", "i"]).select(
        "vec_id", "label",
        F.round(F.col("x") * F.col("c"), 9).alias("xc"),
        F.round(F.col("x") * F.col("x"), 9).alias("xx"),
        F.round(F.col("c") * F.col("c"), 9).alias("cc"),
    )
    pervec = percomp.groupBy("vec_id", "label").agg(
        F.round(
            dsum9("xc") / (F.sqrt(dsum9("xx")) * F.sqrt(dsum9("cc"))), 6
        ).alias("cos_c")
    )
    dropped = (
        emb.join(drops, "vec_id")
        .groupBy("label")
        .agg(F.count(F.lit(1)).alias("n_dropped"))
    )
    return (
        pervec.groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.round(
                F.sum(F.col("cos_c").cast("decimal(25,6)")).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("avg_cos_to_centroid"),
        )
        .join(F.broadcast(dropped), "label", "left")
        .select(
            "label", "n_kept",
            F.coalesce(F.col("n_dropped"), F.lit(0)).cast("long")
            .alias("n_dropped"),
            "avg_cos_to_centroid",
        )
    )


@query(
    "corpus_dup_rate_by_source",
    oracle="""
    WITH sh AS (SELECT doc_id,
           list_distinct(list_transform(
               range(1, greatest(len(regexp_split_to_array(lower(trim(text)), '\\s+')) - 2, 1) + 1),
               i -> array_to_string((regexp_split_to_array(lower(trim(text)), '\\s+'))[i:i+2], ' ')))
           AS s FROM documents),
    pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM sh a JOIN sh b ON a.doc_id < b.doc_id
      WHERE len(list_intersect(a.s, b.s))
              / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) >= 0.8),
    dup_ids AS (
      SELECT DISTINCT doc_id FROM (
        SELECT id_a AS doc_id FROM pairs
        UNION ALL SELECT id_b FROM pairs)),
    per_source AS (
      SELECT d.source,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(COUNT(di.doc_id) AS BIGINT) AS n_dup_docs
      FROM documents d LEFT JOIN dup_ids di ON d.doc_id = di.doc_id
      GROUP BY d.source)
    SELECT source, n_docs, n_dup_docs,
           round(n_dup_docs * 1.0 / n_docs, 6) AS dup_rate
    FROM per_source
    """,
)
def corpus_dup_rate_by_source(spark, sf):
    """Per-source near-duplication rate — the corpus-health metric a dedup
    pipeline reports before dropping anything: which ingestion sources
    are polluting the corpus with near-copies (syndication feeds, mirror
    crawls). Docs participating in any verified near-dup pair (shared
    LSH candidates → exact Jaccard ≥ 0.8, the same machinery as
    dedup_ngram_jaccard) are counted against their source's total. One
    extra hash aggregate over the shared pair set — the monitoring twin
    of the destructive dedup ops."""
    from . import shared_jaccard_pairs, table

    docs = table(spark, sf, "documents")
    pairs = shared_jaccard_pairs(spark, sf)
    dup_ids = (
        pairs.select(F.col("id_a").alias("doc_id"))
        .unionByName(pairs.select(F.col("id_b").alias("doc_id")))
        .distinct()
        .withColumn("_dup", F.lit(1))
    )
    return (
        docs.join(dup_ids, "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count("_dup").alias("n_dup_docs"),
        )
        .select(
            "source", "n_docs", "n_dup_docs",
            F.round(F.col("n_dup_docs") / F.col("n_docs"), 6)
            .alias("dup_rate"),
        )
    )


@query(
    "dedup_containment",
    oracle="""
    WITH sh AS (SELECT doc_id,
        list_distinct(list_transform(
            range(1, greatest(len(regexp_split_to_array(lower(trim(text)),
                                                        '\\s+')) - 2, 1) + 1),
            i -> array_to_string((regexp_split_to_array(lower(trim(text)),
                                                        '\\s+'))[i:i+2], ' ')))
        AS s FROM documents)
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           len(list_intersect(a.s, b.s)) / len(a.s) AS containment
    FROM sh a JOIN sh b ON a.doc_id <> b.doc_id
    WHERE len(list_intersect(a.s, b.s)) / len(a.s) >= 9/10
    """,
)
def dedup_containment(spark, sf):
    """Directional containment dedup (≥ 0.9 of doc A's 3-gram shingles
    inside doc B) via prefix-filtered set-similarity join
    (:func:`..operators.dedup.containment_pairs`): rare-first shingle
    prefixes probe the inverted index, so candidates are linear in
    postings, never all-pairs — the blocking that stays sound for the
    asymmetric containment measure where MinHash LSH (tuned for
    symmetric Jaccard) loses recall when |B| ≫ |A|. The oracle
    brute-forces the quadratic pair space."""
    from . import shared_shingles

    return D.containment_pairs(
        table(spark, sf, "documents"),
        threshold_num=9,
        threshold_den=10,
        shingles=shared_shingles(spark, sf),
    )


@query(
    "sample_weighted_deterministic",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity
    FROM lineitem
    WHERE ((l_orderkey * 131 + l_linenumber) % 1000003) * 2654435761 % 10000
          < CAST(FLOOR(l_quantity * 100) AS BIGINT)
    """,
)
def sample_weighted_deterministic(spark, sf):
    """Deterministic IMPORTANCE sampling: each line is kept with
    probability l_quantity / 100, decided by a pure multiplicative hash
    of its key — the weighted twin of `sample_hash_reproducible`.
    Up-weighting informative rows while keeping the sample reproducible
    across engines/partitionings/re-ingests is the standard
    training-data curriculum trick; engine-RNG weighted sampling can't
    replay. All-integer arithmetic (key reduced mod 1000003 BEFORE the
    golden-ratio multiply so the product stays far from int64 overflow
    at any scale factor; the weight comparison uses an explicit FLOOR —
    double→int CAST rounds in DuckDB but truncates in Spark ANSI).
    Narrow: the predicate rides the scan, no shuffle."""
    li = table(spark, sf, "lineitem")
    keep = (
        ((F.col("l_orderkey") * 131 + F.col("l_linenumber")) % 1000003)
        * 2654435761
        % 10000
    ) < F.floor(F.col("l_quantity") * 100).cast("long")
    return li.filter(keep).select("l_orderkey", "l_linenumber", "l_quantity")


@query(
    "text_ngram_topk",
    oracle="""
    WITH sh AS (SELECT doc_id,
        UNNEST(list_distinct(list_transform(
            range(1, greatest(len(regexp_split_to_array(lower(trim(text)),
                                                        '\\s+')) - 2, 1) + 1),
            i -> array_to_string((regexp_split_to_array(lower(trim(text)),
                                                        '\\s+'))[i:i+2], ' '))))
        AS g FROM documents)
    SELECT g AS gram, CAST(COUNT(*) AS BIGINT) AS doc_freq
    FROM sh GROUP BY g
    ORDER BY doc_freq DESC, gram
    LIMIT 100
    """,
)
def text_ngram_topk(spark, sf):
    """Corpus-wide top-100 3-grams by document frequency — the exact
    heavy-hitters report behind boilerplate detection and stopword-list
    construction. One hash aggregate over the shared shingle pass, then
    TakeOrderedAndProject (per-partition top-k → driver merge of k·P
    rows, never a global sort); ties broken on the gram so the cut line
    is engine-stable. The sketch twin is `agg_approx_topk`."""
    from . import shared_shingles

    sh = shared_shingles(spark, sf)
    return (
        sh.select(F.col("doc_id"), F.col("_sh")).distinct()
        .groupBy(F.col("_sh").alias("gram"))
        .agg(F.count(F.lit(1)).alias("doc_freq"))
        .orderBy(F.desc("doc_freq"), "gram")
        .limit(100)
    )


_GOLDEN_ORACLE = """
    WITH RECURSIVE
    sh AS (SELECT doc_id,
           list_distinct(list_transform(
               range(1, greatest(len(regexp_split_to_array(lower(trim(text)),
                                                           '\\s+')) - 2, 1) + 1),
               i -> array_to_string((regexp_split_to_array(lower(trim(text)),
                                                           '\\s+'))[i:i+2], ' ')))
           AS s FROM documents),
    pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM sh a JOIN sh b ON a.doc_id < b.doc_id
      WHERE len(list_intersect(a.s, b.s))
              / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) >= 0.8),
    edges AS (SELECT id_a AS s, id_b AS t FROM pairs
              UNION SELECT id_b, id_a FROM pairs),
    reach AS (
      SELECT s, t FROM edges
      UNION
      SELECT r.s, e.t FROM reach r JOIN edges e ON r.t = e.s
      WHERE e.t <> r.s),
    labels AS (SELECT s AS doc_id, LEAST(s, MIN(t)) AS cluster_id
               FROM reach GROUP BY s),
    members AS (
      SELECT d.doc_id, d.text, d.n_chars, d.source,
             COALESCE(l.cluster_id, d.doc_id) AS cluster_id
      FROM documents d LEFT JOIN labels l ON l.doc_id = d.doc_id),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY cluster_id
                                   ORDER BY n_chars DESC, doc_id) AS rn
      FROM members)
    SELECT m.cluster_id,
           CAST(COUNT(*) AS BIGINT) AS n_members,
           MIN(m.doc_id) AS golden_doc_id,
           MAX(CASE WHEN m.rn = 1 THEN m.n_chars END) AS golden_chars,
           CAST(SUM(m.n_chars) AS BIGINT) AS total_chars,
           array_to_string(list_sort(list_distinct(list(m.source))), ',')
             AS sources
    FROM ranked m
    GROUP BY m.cluster_id
    """


@query("dedup_golden_record", oracle=_GOLDEN_ORACLE)
def dedup_golden_record(spark, sf):
    """Golden-record SURVIVORSHIP merge — what record-linkage pipelines do
    AFTER clustering: each near-dup cluster collapses to one canonical
    row under explicit per-attribute rules (longest-text survivor with a
    doc_id tiebreak, min id as the stable key, summed volume, the sorted
    source provenance list). Reuses the session-memoized verified pairs
    and the shared CC operator; singleton docs are their own cluster
    (left join + coalesce). One extra shuffle on cluster_id past the
    clustering itself. Survivor choice is a rank window with a TOTAL
    order — 'pick any' survivorship is nondeterministic at any scale."""
    from . import shared_jaccard_pairs

    docs = table(spark, sf, "documents")
    pairs = shared_jaccard_pairs(spark, sf)
    labels = D.connected_components(pairs.select("id_a", "id_b"), parts=4)
    members = (
        docs.join(
            labels.withColumnRenamed("id_a", "doc_id"), "doc_id", "left"
        )
        .select(
            "doc_id", "text", "n_chars", "source",
            F.coalesce("cluster_id", "doc_id").alias("cluster_id"),
        )
    )
    return golden_rollup(members)


def golden_rollup(members):
    """Survivorship ROLLUP shared by the full and incremental golden-
    record paths: collapse a (doc_id, text, n_chars, source, cluster_id)
    member frame to one canonical row per cluster — longest-text
    survivor with a doc_id tiebreak (a rank window with a TOTAL order;
    'pick any' survivorship is nondeterministic at any scale), min id as
    the stable key, summed volume, sorted source provenance."""
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("n_chars").desc(), "doc_id"
    )
    ranked = members.withColumn("rn", F.row_number().over(w))
    return ranked.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("n_members"),
        F.min("doc_id").alias("golden_doc_id"),
        F.max(F.when(F.col("rn") == 1, F.col("n_chars"))).alias("golden_chars"),
        F.sum("n_chars").alias("total_chars"),
        F.array_join(F.array_sort(F.collect_set("source")), ",").alias("sources"),
    )


def _golden_incremental(spark, sf, roundtrip_state=False):
    """Shared builder for the incremental golden-record entries (round
    10, VERDICT r09 task 3): build the BASE state — standing (node →
    root) assignment over the base corpus's verified pairs plus the
    standing golden table its survivorship rules produce — optionally
    round-trip that state through the engine's own parquet adapters
    (the cross-session shape), then patch it with the new batch:

    1. ``incremental_components`` updates the assignment (batch-graph
       union-find + broadcast root patch — never an edge-history scan);
    2. AFFECTED clusters = new cluster ids holding ≥1 batch node or ≥1
       standing node whose root changed; every other cluster kept its
       id AND its member set, so its golden row is provably unchanged;
    3. survivorship re-derives ONLY over affected members
       (:func:`golden_rollup` on a batch-bounded frame), old golden
       rows of absorbed/regrown clusters drop by one broadcast
       anti-join, new-doc singletons append.

    At 100 TB the nightly MDM bill is: the batch's own pairs, the
    incremental assignment's two broadcast passes over standing, one
    broadcast anti-join pass over the standing GOLDEN table, and a
    rollup of only the touched clusters — survivorship never recomputes
    over the untouched corpus (``dedup_golden_record`` recomputes all
    clusters every run; this is its affected-only form)."""
    from . import shared_jaccard_pairs

    docs = table(spark, sf, "documents")
    base_docs = docs.filter(F.col("doc_id") % 5 != 0)
    new_docs = docs.filter(F.col("doc_id") % 5 == 0)
    pairs = shared_jaccard_pairs(spark, sf)
    is_new_a = F.col("id_a") % 5 == 0
    is_new_b = F.col("id_b") % 5 == 0
    base_pairs = pairs.filter(~is_new_a & ~is_new_b)
    batch_pairs = pairs.filter(is_new_a | is_new_b)

    with scoped_conf(spark, "spark.sql.shuffle.partitions", 4):
        standing = (
            D.connected_components(base_pairs.select("id_a", "id_b"))
            .select(
                F.col("id_a").alias("node"),
                F.col("cluster_id").alias("root"),
            )
            .localCheckpoint()
        )
        standing_golden = golden_rollup(
            base_docs.join(
                standing.withColumnRenamed("node", "doc_id"),
                "doc_id", "left",
            ).select(
                "doc_id", "text", "n_chars", "source",
                F.coalesce("root", "doc_id").alias("cluster_id"),
            )
        ).localCheckpoint()

        if roundtrip_state:
            from ..model import DataStream, StreamType
            from ..registry import resolve_input, resolve_output
            from . import scratch_dir

            base_dir = scratch_dir("goldenstate")
            out = resolve_output("hadoopParquet")().configure(
                {}
            ).initialize(spark, base_dir)
            # Sub-stream names land each state table in its own
            # subdirectory (a plain name writes to the base dir itself,
            # so two plain saves would overwrite each other).
            out.save(
                "state/cc",
                DataStream("state/cc", standing, StreamType.COLUMNAR),
            )
            out.save(
                "state/golden",
                DataStream(
                    "state/golden", standing_golden, StreamType.COLUMNAR
                ),
            )
            standing = resolve_input("hadoopColumnar")().configure(
                {"parquet": True}
            ).initialize(spark, f"{base_dir}/cc").load("cc")["cc"].df
            standing_golden = resolve_input("hadoopColumnar")().configure(
                {"parquet": True}
            ).initialize(
                spark, f"{base_dir}/golden"
            ).load("golden")["golden"].df

        updated = D.incremental_components(
            standing, batch_pairs.select("id_a", "id_b")
        ).localCheckpoint()

    # Affected clusters = new cluster ids holding a BATCH-EDGE endpoint:
    # a standing node's root changes ONLY through a merge path that
    # crosses a batch edge, so every merged/extended cluster contains an
    # endpoint — no standing-vs-updated comparison join needed (the
    # naive `updated JOIN standing ON node` spelling shuffles two
    # corpus-sized assignments against each other; this is one
    # broadcast left-semi pass over `updated` instead).
    e_nodes = (
        batch_pairs.select(F.col("id_a").alias("node"))
        .unionAll(batch_pairs.select(F.col("id_b").alias("node")))
        .distinct()
    )
    affected = (
        updated.join(F.broadcast(e_nodes), "node", "left_semi")
        .select("cluster_id")
        .distinct()
    )
    members_a = updated.join(F.broadcast(affected), "cluster_id", "left_semi")
    # Old golden rows to drop: the OLD labels of affected members —
    # standing restricted by broadcast left-semi first (the
    # incremental_components discipline: a LEFT OUTER against standing
    # can only broadcast its right side, which is the corpus-sized one,
    # so restrict-then-join keeps standing un-shuffled).
    st_hits = standing.join(
        F.broadcast(members_a.select("node")), "node", "left_semi"
    )
    old_ids = (
        members_a.filter(F.col("node") % 5 != 0)
        .join(F.broadcast(st_hits), "node", "left")
        .select(F.coalesce("root", F.col("node")).alias("cluster_id"))
        .distinct()
    )
    affected_members = docs.withColumnRenamed("doc_id", "node").join(
        F.broadcast(members_a), "node"
    ).select(
        F.col("node").alias("doc_id"), "text", "n_chars", "source",
        "cluster_id",
    )
    singles = new_docs.join(
        updated.withColumnRenamed("node", "doc_id"), "doc_id", "left_anti"
    ).select(
        "doc_id", "text", "n_chars", "source",
        F.col("doc_id").alias("cluster_id"),
    )
    return (
        standing_golden.join(F.broadcast(old_ids), "cluster_id", "left_anti")
        .unionByName(golden_rollup(affected_members))
        .unionByName(golden_rollup(singles))
    )


@query("dedup_golden_incremental", oracle=_GOLDEN_ORACLE)
def dedup_golden_incremental(spark, sf):
    """INCREMENTAL golden-record maintenance (round 10, VERDICT r09 task
    3) — survivorship patched for AFFECTED clusters only when a batch
    merges or extends them (builder: :func:`_golden_incremental`). The
    oracle is the full survivorship recompute over old ∪ new edges —
    equality proves patched ≡ rebuild, i.e. the affected-cluster
    restriction loses nothing. Same LSH-losslessness caveat as
    ``dedup_clusters_incremental`` (the oracle brute-forces all
    pairs)."""
    return _golden_incremental(spark, sf, roundtrip_state=False)


@query("dedup_golden_roundtrip", oracle=_GOLDEN_ORACLE)
def dedup_golden_roundtrip(spark, sf):
    """STATE-TABLE round-trip for incremental golden records (round 10
    — the ``dedup_clusters_roundtrip`` convention): the standing
    assignment AND the standing golden table are written through the
    engine's own hadoopParquet OUTPUT adapter, read back cold through
    the INPUT adapter (lineage-free — what the next MDM session sees),
    and the batch patches THOSE. Equality against the full-recompute
    oracle proves the persisted survivorship state is patch-compatible
    across sessions (longs, strings, and the comma-joined provenance
    survive parquet byte-exactly)."""
    return _golden_incremental(spark, sf, roundtrip_state=True)


@query(
    "dataset_mix_deterministic",
    oracle="""
    WITH w AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS ns,
             1000 + 500 * (CAST(substr(source, 4) AS INT) % 4) AS wgt
      FROM documents GROUP BY source),
    b AS (SELECT MIN(ns * 10000 // wgt) AS bud FROM w),
    p AS (
      SELECT source, ns, wgt,
             ((wgt * (SELECT bud FROM b)) // 10000) * 1000000 // ns AS thr
      FROM w)
    SELECT d.doc_id, d.source
    FROM documents d JOIN p ON p.source = d.source
    WHERE (d.doc_id * 2654435761) % 1000000 < p.thr
    """,
)
def dataset_mix_deterministic(spark, sf):
    """Deterministic DATASET MIXING — the training-mixture op: given
    per-source target weights, downsample every source so the output
    follows the weights, bounded by the scarcest source (budget =
    min over sources of capacity/weight). Membership is a pure
    multiplicative hash of the doc key against a per-source integer
    threshold, so the mixture is reproducible across engines, partitionings
    and re-ingests, and yesterday's rows keep yesterday's verdict under
    incremental re-runs. ALL arithmetic is integer (scaled weights,
    floor-div budgets and thresholds) — a float threshold would flip
    boundary rows between engines. Plan: one per-source aggregate
    (tiny), broadcast back, then a narrow hash filter riding the scan."""
    docs = table(spark, sf, "documents")
    w = docs.groupBy("source").agg(F.count(F.lit(1)).alias("ns")).select(
        "source", "ns",
        (1000 + 500 * (F.substring("source", 4, 10).cast("int") % 4))
        .alias("wgt"),
    )
    bud = w.agg(F.min(F.expr("ns * 10000 div wgt")).alias("bud"))
    p = w.crossJoin(F.broadcast(bud)).select(
        "source",
        F.expr("((wgt * bud) div 10000) * 1000000 div ns").alias("thr"),
    )
    return (
        docs.join(F.broadcast(p), "source")
        .filter((F.col("doc_id") * 2654435761) % 1000000 < F.col("thr"))
        .select("doc_id", "source")
    )


@query(
    "text_zipf_slope",
    oracle="""
    WITH tok AS (
      SELECT UNNEST(regexp_split_to_array(lower(trim(text)), '\\s+')) AS t
      FROM documents),
    tf AS (SELECT t, CAST(COUNT(*) AS BIGINT) AS tf FROM tok
           WHERE t <> '' GROUP BY t),
    r AS (SELECT tf, ROW_NUMBER() OVER (ORDER BY tf DESC, t) AS rnk FROM tf),
    xy AS (SELECT round(ln(rnk), 9) AS x, round(ln(tf), 9) AS y FROM r),
    m AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n,
                 CAST(SUM(CAST(x AS DECIMAL(12,9))) AS DOUBLE) AS sx,
                 CAST(SUM(CAST(y AS DECIMAL(12,9))) AS DOUBLE) AS sy,
                 CAST(SUM(CAST(x AS DECIMAL(12,9))
                          * CAST(y AS DECIMAL(12,9))) AS DOUBLE) AS sxy,
                 CAST(SUM(CAST(x AS DECIMAL(12,9))
                          * CAST(x AS DECIMAL(12,9))) AS DOUBLE) AS sxx
          FROM xy)
    SELECT CAST(n AS BIGINT) AS n_terms,
           round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS zipf_slope
    FROM m
    """,
)
def text_zipf_slope(spark, sf):
    """Zipf's-law fit of the corpus vocabulary: the log-log slope of
    term frequency vs frequency rank (natural language ≈ −1; corrupted
    or machine-generated corpora drift away — a cheap corpus-health
    gate). Rank comes from the DISTRIBUTED global ranking operator (the
    vocabulary is unbounded — a bare ORDER BY window would collapse it
    into one task); the regression uses exact DECIMAL moments over
    9-digit-rounded logs, finished with one fixed double expression —
    the same engine-stable treatment as `agg_stats`, because built-in
    regr_slope accumulates doubles in partition order and diverges."""
    from ..operators.relational import global_rank

    docs = table(spark, sf, "documents")
    tf = (
        docs.select(F.explode(D.tokens_col("text")).alias("t"))
        .filter(F.col("t") != "")
        .groupBy("t")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    ranked = global_rank(
        tf, [F.col("tf").desc(), F.col("t")], rank_col="rnk"
    )
    dec = "decimal(12,9)"
    xy = ranked.select(
        F.round(F.log("rnk"), 9).alias("x"),
        F.round(F.log("tf"), 9).alias("y"),
    )
    m = xy.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(F.col("x").cast(dec)).cast("double").alias("sx"),
        F.sum(F.col("y").cast(dec)).cast("double").alias("sy"),
        F.sum((F.col("x").cast(dec) * F.col("y").cast(dec))).cast("double").alias("sxy"),
        F.sum((F.col("x").cast(dec) * F.col("x").cast(dec))).cast("double").alias("sxx"),
    )
    return m.select(
        F.col("n").cast("bigint").alias("n_terms"),
        F.round(
            (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
            / (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")),
            6,
        ).alias("zipf_slope"),
    )


@query(
    "dataset_mix_temperature",
    oracle="""
    WITH w AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS ns,
             CAST(floor(sqrt(CAST(ns * 10000 AS DOUBLE))) AS BIGINT) AS wgt
      FROM documents GROUP BY source),
    b AS (SELECT MIN(ns * 10000 // wgt) AS bud FROM w),
    p AS (
      SELECT source, ns, wgt,
             ((wgt * (SELECT bud FROM b)) // 10000) * 1000000 // ns AS thr
      FROM w)
    SELECT d.source, p.ns, p.wgt,
           CAST(SUM(CASE WHEN (d.doc_id * 2654435761) % 1000000 < p.thr
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
    FROM documents d JOIN p ON p.source = d.source
    GROUP BY d.source, p.ns, p.wgt
    """,
)
def dataset_mix_temperature(spark, sf):
    """TEMPERATURE-rebalanced dataset mixing (T = 0.5): per-source sample
    budgets ∝ sqrt(source size) instead of fixed weights — the standard
    multilingual/multi-source rebalancing that upweights rare sources
    relative to proportional sampling without letting any source dominate.
    sqrt is IEEE-correctly-rounded in both engines, so floor(sqrt(·)) is
    the one transcendental-free way to put a fractional power in an exact
    oracle; everything downstream is the same integer-hash threshold
    machinery as dataset_mix_deterministic (reproducible across engines,
    partitionings, and incremental re-runs). Output: per-source size,
    weight, and kept count. Plan: one tiny per-source aggregate broadcast
    back over one scan."""
    docs = table(spark, sf, "documents")
    w = docs.groupBy("source").agg(F.count(F.lit(1)).alias("ns")).select(
        "source", "ns",
        F.floor(F.sqrt((F.col("ns") * 10000).cast("double")))
        .cast("bigint").alias("wgt"),
    )
    bud = w.agg(F.min(F.expr("ns * 10000 div wgt")).alias("bud"))
    p = w.crossJoin(F.broadcast(bud)).select(
        "source", "ns", "wgt",
        F.expr("((wgt * bud) div 10000) * 1000000 div ns").alias("thr"),
    )
    return (
        docs.join(F.broadcast(p), "source")
        .groupBy("source", "ns", "wgt")
        .agg(
            F.sum(
                F.when(
                    (F.col("doc_id") * 2654435761) % 1000000 < F.col("thr"), 1
                ).otherwise(0)
            ).cast("bigint").alias("n_kept")
        )
    )


@query(
    "dataset_shard_manifest",
    oracle="""
    WITH f AS (
      SELECT doc_id,
             md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp,
             len(regexp_split_to_array(lower(trim(text)), '\\s+'))
               AS n_tokens,
             strlen(text) AS n_chars
      FROM documents),
    s AS (
      SELECT CAST(CAST(concat('0x', substr(fp, 1, 8)) AS BIGINT) % 16
                  AS BIGINT) AS shard,
             doc_id, n_tokens, n_chars
      FROM f)
    SELECT shard,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
           CAST(SUM(n_chars) AS BIGINT) AS n_chars,
           MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
    FROM s GROUP BY shard
    """,
)
def dataset_shard_manifest(spark, sf):
    """Deterministic training-shard assignment + manifest (r04): every
    document lands in shard = first-32-bits(md5 content fingerprint) mod
    16 — keyed on CONTENT, so re-ingesting the same corpus under
    different ids reproduces identical shard membership, and exact
    duplicates always co-locate (dedup survivorship composes). The
    manifest (docs / tokens / chars / id range per shard) is what a
    training loader checks before consuming; balance follows from the
    hash. One fingerprint projection + one 16-group aggregate — the
    shard WRITE is `partitionBy("shard")` on the same column (the
    adapter layer's partitioned sink, proven in
    adapter_partitioned_roundtrip). The md5-hex → integer mapping is
    engine-portable (Spark conv(hex,16,10) ≡ DuckDB '0x'-cast), so the
    whole assignment is exactly oracled, unlike xxhash-style splits."""
    from ..operators import text as T

    docs = table(spark, sf, "documents")
    shard = (
        F.conv(F.substring(T.fingerprint("text"), 1, 8), 16, 10)
        .cast("long") % 16
    )
    return (
        docs.select(
            shard.alias("shard"),
            F.col("doc_id"),
            T.token_count("text").cast("long").alias("n_tokens"),
            F.length("text").cast("long").alias("n_chars"),
        )
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("n_tokens"),
            F.sum("n_chars").alias("n_chars"),
            F.min("doc_id").alias("min_doc"),
            F.max("doc_id").alias("max_doc"),
        )
    )


@query(
    "search_bm25_topk",
    oracle="""
    WITH tok AS (
      SELECT doc_id,
             unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS t
      FROM documents),
    tok2 AS (SELECT doc_id, t FROM tok WHERE t <> ''),
    tf AS (SELECT doc_id, t, CAST(COUNT(*) AS BIGINT) AS tf
           FROM tok2 GROUP BY 1, 2),
    dl AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dl
           FROM tok2 GROUP BY 1),
    stats AS (SELECT CAST(COUNT(*) AS DOUBLE) AS nd,
                     CAST(SUM(dl) AS DOUBLE) AS tt FROM dl),
    q(qid, t) AS (VALUES (1, 'hash'), (1, 'join'), (2, 'vector'),
                         (2, 'scan'), (3, 'merge'), (3, 'sort'),
                         (3, 'batch')),
    terms AS (SELECT DISTINCT t FROM q),
    post AS (SELECT tf.* FROM tf JOIN terms USING (t)),
    dft AS (SELECT t, CAST(COUNT(*) AS BIGINT) AS df FROM post GROUP BY 1),
    ts AS (SELECT p.doc_id, p.t,
                  round(round(ln((s.nd - d.df + 0.5) / (d.df + 0.5) + 1.0), 9)
                        * (p.tf * 2.2)
                        / round(p.tf + 1.2 * (0.25 + 0.75 * l.dl
                                              / (s.tt / s.nd)), 9),
                        9) AS tsc
           FROM post p JOIN dft d USING (t) JOIN dl l USING (doc_id),
                stats s),
    sc AS (SELECT q.qid, ts.doc_id, round(SUM(tsc), 6) AS bm25
           FROM ts JOIN q USING (t) GROUP BY 1, 2),
    r AS (SELECT qid, doc_id, bm25,
                 ROW_NUMBER() OVER (PARTITION BY qid
                                    ORDER BY bm25 DESC, doc_id) AS rnk
          FROM sc)
    SELECT qid, doc_id, bm25, rnk FROM r WHERE rnk <= 5
    """,
)
def search_bm25_topk(spark, sf):
    """BM25 top-5 lexical retrieval via an inverted index — the SPARSE
    complement of the dense ANN family (`similarity_topk_*`): production
    retrieval is hybrid, and this is its lexical leg. Plan shape at
    100 TB: the posting lists (doc, term, tf) are built once in one
    linear aggregate; a query probes by EQUI-JOINING its terms (tiny,
    broadcast) against the postings — cost is the matched posting rows,
    never the corpus — then one partial-aggregated per-(query, doc) sum
    and a per-query top-k window. Okapi parameters k1=1.2, b=0.75 with
    the +1 idf form (never negative). Cross-engine exactness follows the
    suite's transcendental discipline (text_unigram_logprob): per-term
    idf and length-normalized denominators round to 9 digits, the
    ≤7-term score sum rounds to 6 — and ranking tiebreaks on doc_id, so
    the top-5 is engine-stable."""
    from ..operators.retrieval import bm25_topk, build_postings

    tf, dl, stats = build_postings(table(spark, sf, "documents"))
    qterms = spark.createDataFrame(
        [(1, "hash"), (1, "join"), (2, "vector"), (2, "scan"),
         (3, "merge"), (3, "sort"), (3, "batch")],
        "qid int, t string",
    )
    return bm25_topk(tf, dl, stats, qterms, k=5)


@query("search_bm25_append", oracle=ORACLES["search_bm25_topk"])
def search_bm25_append(spark, sf):
    """BM25 postings APPEND ≡ REBUILD (round 11, VERDICT r10 task 2 —
    the lexical leg was the only standing index family without
    incremental maintenance): the base index (doc_id % 5 ≠ 0) is built,
    persisted through the engine's own hadoopParquet OUTPUT adapter,
    and read back COLD through the INPUT adapter (the lineage-free
    artifacts a serving session holds); the batch (doc_id % 5 = 0)
    builds its own partial triple from its documents alone; the two
    merge by addition (:func:`~..operators.retrieval.merge_postings` —
    tf/dl sums, element-wise stats, df re-derived at probe time). The
    probe then runs the standard query set over the MERGED index, and
    the oracle replays full-corpus BM25 from scratch — equality IS the
    append ≡ rebuild proof, through a persistence round-trip: integer
    tf/dl counts and exact double stat sums make the merged index
    value-identical to the rebuild, so every score matches to the bit.
    At 100 TB each ingest batch pays one linear pass over ITS OWN
    documents plus a doc-keyed merge shuffle of partial rows; the
    standing corpus is never re-tokenized."""
    from ..model import DataStream, StreamType
    from ..operators.retrieval import (
        bm25_topk,
        build_postings,
        merge_postings,
    )
    from ..registry import resolve_input, resolve_output
    from . import scratch_dir

    docs = table(spark, sf, "documents")
    base_docs = docs.filter(F.col("doc_id") % 5 != 0)
    batch_docs = docs.filter(F.col("doc_id") % 5 == 0)

    base_dir = scratch_dir("bm25idx")
    out = resolve_output("hadoopParquet")().configure({}).initialize(
        spark, base_dir
    )
    names = ("tf", "dl", "stats")
    for name, df in zip(names, build_postings(base_docs)):
        out.save(
            f"idx/{name}", DataStream(f"idx/{name}", df, StreamType.COLUMNAR)
        )
    cold = tuple(
        resolve_input("hadoopColumnar")().configure(
            {"parquet": True}
        ).initialize(spark, f"{base_dir}/{name}").load(name)[name].df
        for name in names
    )
    merged = merge_postings(cold, build_postings(batch_docs))
    qterms = spark.createDataFrame(
        [(1, "hash"), (1, "join"), (2, "vector"), (2, "scan"),
         (3, "merge"), (3, "sort"), (3, "batch")],
        "qid int, t string",
    )
    return bm25_topk(*merged, qterms, k=5)


@query(
    "search_hybrid_topk",
    oracle="""
    WITH tok AS (
      SELECT doc_id,
             unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS t
      FROM documents),
    tok2 AS (SELECT doc_id, t FROM tok WHERE t <> ''),
    tf AS (SELECT doc_id, t, CAST(COUNT(*) AS BIGINT) AS tf
           FROM tok2 GROUP BY 1, 2),
    dl AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dl
           FROM tok2 GROUP BY 1),
    stats AS (SELECT CAST(COUNT(*) AS DOUBLE) AS nd,
                     CAST(SUM(dl) AS DOUBLE) AS tt FROM dl),
    qterms AS (SELECT DISTINCT doc_id AS qid, t FROM tok2 WHERE doc_id < 5),
    terms AS (SELECT DISTINCT t FROM qterms),
    post AS (SELECT tf.* FROM tf JOIN terms USING (t)),
    dft AS (SELECT t, CAST(COUNT(*) AS BIGINT) AS df FROM post GROUP BY 1),
    ts AS (SELECT p.doc_id, p.t,
                  round(round(ln((s.nd - d.df + 0.5) / (d.df + 0.5) + 1.0), 9)
                        * (p.tf * 2.2)
                        / round(p.tf + 1.2 * (0.25 + 0.75 * l.dl
                                              / (s.tt / s.nd)), 9),
                        9) AS tsc
           FROM post p JOIN dft d USING (t) JOIN dl l USING (doc_id),
                stats s),
    lex AS (SELECT q.qid, ts.doc_id, round(SUM(tsc), 6) AS bm25
            FROM ts JOIN qterms q USING (t)
            WHERE ts.doc_id <> q.qid GROUP BY 1, 2),
    lexr AS (SELECT qid, doc_id,
                    ROW_NUMBER() OVER (PARTITION BY qid
                                       ORDER BY bm25 DESC, doc_id) AS lr
             FROM lex),
    qv AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS v
           FROM embeddings WHERE vec_id < 5),
    cv AS (SELECT vec_id AS doc_id, CAST(embedding AS DOUBLE[]) AS v
           FROM embeddings),
    den AS (SELECT q.qid, c.doc_id,
                   round(list_dot_product(q.v, c.v)
                         / (sqrt(list_dot_product(q.v, q.v))
                            * sqrt(list_dot_product(c.v, c.v))), 6) AS cosine
            FROM qv q CROSS JOIN cv c WHERE q.qid <> c.doc_id),
    denr AS (SELECT qid, doc_id,
                    ROW_NUMBER() OVER (PARTITION BY qid
                                       ORDER BY cosine DESC, doc_id) AS dr
             FROM den),
    fused AS (
      SELECT COALESCE(l.qid, d.qid) AS query_id,
             COALESCE(l.doc_id, d.doc_id) AS doc_id,
             round(COALESCE(CAST(1 AS DOUBLE) / (60 + l.lr), 0.0)
                   + COALESCE(CAST(1 AS DOUBLE) / (60 + d.dr), 0.0), 9) AS rrf
      FROM (SELECT * FROM lexr WHERE lr <= 20) l
      FULL OUTER JOIN (SELECT * FROM denr WHERE dr <= 20) d
        ON l.qid = d.qid AND l.doc_id = d.doc_id),
    r AS (SELECT query_id, doc_id, rrf,
                 CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                      ORDER BY rrf DESC, doc_id) AS BIGINT) AS rnk
          FROM fused)
    SELECT query_id, doc_id, rrf, rnk FROM r WHERE rnk <= 5
    """,
)
def search_hybrid_topk(spark, sf):
    """Hybrid retrieval capstone — reciprocal-rank fusion of the two
    retrieval legs the suite ships: BM25 over the inverted index
    (more-like-this form: the query is a document's distinct terms) and
    exact dense cosine over the aligned embeddings table, fused as
    RRF(k=60) over each leg's top-20 and re-ranked to a top-5. This is
    the production hybrid-search topology: the legs are independent
    linear probes (broadcast term equi-join; broadcast query vectors),
    the fusion is a tiny (query × ≤40 rows) outer join on integer
    ranks — 1/(60+rank) sums of ≤2 addends are bit-deterministic, so
    unlike score-interpolation hybrids, RRF needs no cross-leg score
    calibration AND stays engine-exact. Tiebreaks on doc_id everywhere
    keep the top-5 stable under any partitioning."""
    from ..operators import similarity as S
    from ..operators.retrieval import bm25_topk, build_postings

    docs = table(spark, sf, "documents")
    tf, dl, stats = build_postings(docs)
    qterms = (
        docs.filter(F.col("doc_id") < 5)
        .select(
            F.col("doc_id").alias("qid"),
            F.explode(D.tokens_col("text")).alias("t"),
        )
        .filter(F.col("t") != "")
    )
    lexr = bm25_topk(tf, dl, stats, qterms, k=20, exclude_self=True).select(
        "qid", "doc_id", F.col("rnk").alias("lr")
    )
    emb = table(spark, sf, "embeddings")
    denr = (
        S.cosine_topk(emb, emb.filter(F.col("vec_id") < 5), k=20)
        .select(
            F.col("query_id").alias("qid"),
            F.col("neighbor_id").alias("doc_id"),
            F.col("rnk").alias("dr"),
        )
    )
    fused = lexr.join(denr, ["qid", "doc_id"], "full_outer").select(
        F.col("qid").alias("query_id"),
        "doc_id",
        F.round(
            F.coalesce(1.0 / (60 + F.col("lr")), F.lit(0.0))
            + F.coalesce(1.0 / (60 + F.col("dr")), F.lit(0.0)),
            9,
        ).alias("rrf"),
    )
    wf = Window.partitionBy("query_id").orderBy(F.desc("rrf"), "doc_id")
    return (
        fused.withColumn("rnk", F.row_number().over(wf).cast("long"))
        .filter(F.col("rnk") <= 5)
    )


# Shared CTE prefix for the MaxSim family's oracles: whitespace tokens,
# the alphabetically-first-8-distinct-tokens queries over doc_id < 5, and
# the md5-sign token encoder (16 dims, ±1 from hex digits — every cosine
# is dot/16, an exact dyadic rational; see
# operators/retrieval.py::token_sign_embeddings).
SQL_MAXSIM_LEG = """
    tok AS (
      SELECT doc_id,
             unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS t
      FROM documents),
    tok2 AS (SELECT DISTINCT doc_id, t FROM tok WHERE t <> ''),
    q AS (SELECT qid, t FROM (
            SELECT doc_id AS qid, t,
                   ROW_NUMBER() OVER (PARTITION BY doc_id
                                      ORDER BY t) AS rn
            FROM tok2 WHERE doc_id < 5) WHERE rn <= 8),
    emb AS (SELECT t, list_transform(range(1, 17),
              j -> CASE WHEN ascii(substr(md5(t), CAST(j AS INT), 1))
                        <= 55
                   THEN CAST(1.0 AS DOUBLE)
                   ELSE CAST(-1.0 AS DOUBLE) END) AS v
            FROM (SELECT DISTINCT t FROM tok2)),
    qv AS (SELECT q.qid, q.t AS qt, e.v AS qv
           FROM q JOIN emb e USING (t)),
    sims AS (SELECT qv.qid, qv.qt, e.t,
                    list_dot_product(qv.qv, e.v) / 16 AS sim
             FROM qv CROSS JOIN emb e),
    per AS (SELECT s.qid, s.qt, d.doc_id, MAX(s.sim) AS mx
            FROM sims s JOIN tok2 d ON d.t = s.t
            GROUP BY 1, 2, 3),
    msc AS (SELECT qid, doc_id, SUM(mx) AS maxsim FROM per
            WHERE doc_id <> qid GROUP BY 1, 2),
    mr AS (SELECT qid, doc_id, maxsim,
                  ROW_NUMBER() OVER (PARTITION BY qid
                                     ORDER BY maxsim DESC, doc_id) AS rnk
           FROM msc)
"""

SQL_DENSE_LEG = """
    qvec AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS v
             FROM embeddings WHERE vec_id < 5),
    cvec AS (SELECT vec_id AS doc_id, CAST(embedding AS DOUBLE[]) AS v
             FROM embeddings),
    den AS (SELECT qv2.qid, cv.doc_id,
                   round(list_dot_product(qv2.v, cv.v)
                         / (sqrt(list_dot_product(qv2.v, qv2.v))
                            * sqrt(list_dot_product(cv.v, cv.v))),
                         6) AS cosine
            FROM qvec qv2 CROSS JOIN cvec cv
            WHERE qv2.qid <> cv.doc_id),
    dr AS (SELECT qid, doc_id, cosine,
                  ROW_NUMBER() OVER (PARTITION BY qid
                                     ORDER BY cosine DESC, doc_id) AS rnk
           FROM den)
"""


def _maxsim_queries(spark, sf):
    """The MaxSim family's shared more-like-this inputs: distinct
    (doc_id, t) token rows over the corpus and the deterministic
    8-token query sets (alphabetically-first distinct tokens of each
    doc_id < 5 — replayable as a plain ROW_NUMBER in any engine)."""
    docs = table(spark, sf, "documents")
    tok2 = (
        docs.select(
            F.col("doc_id"),
            F.explode(D.tokens_col("text")).alias("t"),
        )
        .filter(F.col("t") != "")
        .distinct()
    )
    wq = Window.partitionBy("doc_id").orderBy("t")
    qtokens = (
        tok2.filter(F.col("doc_id") < 5)
        .withColumn("_rn", F.row_number().over(wq))
        .filter(F.col("_rn") <= 8)
        .select(F.col("doc_id").alias("qid"), "t")
    )
    return tok2, qtokens


def _maxsim_legs(spark, sf):
    """The two retrieval legs the MaxSim fusion/agreement entries share:
    MaxSim top-20 (more-like-this, self excluded) as (qid, doc_id,
    mrnk) and exact dense cosine top-20 as (qid, doc_id, drnk) — one
    definition so the fusion and the overlap audit provably describe
    the same legs."""
    from ..operators import similarity as S
    from ..operators.retrieval import maxsim_topk

    tok2, qtokens = _maxsim_queries(spark, sf)
    mleg = maxsim_topk(
        tok2, qtokens, k=20, dim=16, exclude_self=True
    ).select("qid", "doc_id", F.col("rnk").alias("mrnk"))
    emb = table(spark, sf, "embeddings")
    dleg = S.cosine_topk(emb, emb.filter(F.col("vec_id") < 5), k=20).select(
        F.col("query_id").alias("qid"),
        F.col("neighbor_id").alias("doc_id"),
        F.col("rnk").alias("drnk"),
    )
    return mleg, dleg


@query(
    "search_maxsim_topk",
    oracle=f"""
    WITH {SQL_MAXSIM_LEG}
    SELECT qid, doc_id, maxsim, rnk FROM mr WHERE rnk <= 5
    """,
)
def search_maxsim_topk(spark, sf):
    """Late-interaction multi-vector retrieval (round 11, VERDICT r10
    task 6 — the hybrid stack's missing third leg beside BM25 and
    pooled dense cosine): ColBERT-style MaxSim, score(q, d) =
    sum over query tokens of max over doc tokens of cos(qt, dt),
    computed over per-token sign embeddings
    (:func:`~..operators.retrieval.token_sign_embeddings` — md5-hex ±1
    signs, so cos = dot/16 is an exact dyadic rational and the whole
    score algebra is bit-reproducible in any engine). Queries are the
    more-like-this form: each doc_id < 5's alphabetically-first 8
    distinct tokens, self excluded. Plan shape
    (:func:`~..operators.retrieval.maxsim_topk`): token cosines compute
    once per (query_token, DISTINCT vocab token) — the corpus only ever
    hash-EQUI-joins by token — then max per (query_token, doc), sum per
    (query, doc), per-query top-5 window. EXACT-oracled end to end: the
    oracle replays tokens, encoder, and both aggregates over unnested
    arrays."""
    from ..operators.retrieval import maxsim_topk

    tok2, qtokens = _maxsim_queries(spark, sf)
    return maxsim_topk(tok2, qtokens, k=5, dim=16, exclude_self=True)


@query("search_maxsim_append", oracle=ORACLES["search_maxsim_topk"])
def search_maxsim_append(spark, sf):
    """MaxSim index APPEND ≡ REBUILD (round 11 — the multi-vector
    leg's incremental maintenance, completing the standing-index
    symmetry the BM25/graph/ANN families follow): the late-interaction
    'index' is the distinct (doc_id, token) table — the token encoder
    (:func:`~..operators.retrieval.token_sign_embeddings`) is a
    per-token pure function with NO trained state, so appending a
    batch is a plain union of its own token rows. The base token table
    (doc_id % 5 ≠ 0) persists through the engine's hadoopParquet
    OUTPUT adapter and reads back COLD; the batch (doc_id % 5 = 0)
    tokenizes only itself; the merged table serves the standard MaxSim
    queries, and the oracle replays the FULL-corpus search — equality
    through the persistence round-trip is the append ≡ rebuild proof
    (token rows are per-doc, the vocab embedding is per-token, nothing
    global exists to drift). At 100 TB an ingest batch pays one
    tokenize pass over its own documents; the standing corpus is never
    re-tokenized."""
    from ..model import DataStream, StreamType
    from ..operators.retrieval import maxsim_topk
    from ..registry import resolve_input, resolve_output
    from . import scratch_dir

    tok2, qtokens = _maxsim_queries(spark, sf)
    base_dir = scratch_dir("maxsimidx")
    out = resolve_output("hadoopParquet")().configure({}).initialize(
        spark, base_dir
    )
    out.save(
        "idx/tokens",
        DataStream(
            "idx/tokens",
            tok2.filter(F.col("doc_id") % 5 != 0),
            StreamType.COLUMNAR,
        ),
    )
    cold = resolve_input("hadoopColumnar")().configure(
        {"parquet": True}
    ).initialize(spark, f"{base_dir}/tokens").load("tokens")["tokens"].df
    merged = cold.unionByName(tok2.filter(F.col("doc_id") % 5 == 0))
    return maxsim_topk(merged, qtokens, k=5, dim=16, exclude_self=True)


@query(
    "search_hybrid_maxsim",
    oracle=f"""
    WITH {SQL_MAXSIM_LEG},
    {SQL_DENSE_LEG},
    fused AS (
      SELECT COALESCE(m.qid, d.qid) AS query_id,
             COALESCE(m.doc_id, d.doc_id) AS doc_id,
             round(COALESCE(CAST(1 AS DOUBLE) / (60 + m.rnk), 0.0)
                   + COALESCE(CAST(1 AS DOUBLE) / (60 + d.rnk), 0.0),
                   9) AS rrf
      FROM (SELECT * FROM mr WHERE rnk <= 20) m
      FULL OUTER JOIN (SELECT * FROM dr WHERE rnk <= 20) d
        ON m.qid = d.qid AND m.doc_id = d.doc_id),
    r AS (SELECT query_id, doc_id, rrf,
                 CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                      ORDER BY rrf DESC, doc_id) AS BIGINT) AS rnk
          FROM fused)
    SELECT query_id, doc_id, rrf, rnk FROM r WHERE rnk <= 5
    """,
)
def search_hybrid_maxsim(spark, sf):
    """RRF fusion of the MULTI-VECTOR leg with the pooled dense leg
    (round 11 — ``search_hybrid_topk``'s family, token-level edition):
    MaxSim top-20 (per-token sign embeddings over the document's own
    first-8-token query) fused with exact dense cosine top-20 over the
    aligned embeddings table, RRF(k=60), re-ranked to a top-5. The two
    legs disagree by construction — one sees token-level lexical
    structure, the other one pooled vector — which is exactly when RRF
    earns its keep: integer-rank reciprocal sums need no cross-leg
    score calibration and stay engine-exact. Same plan posture as both
    parents: each leg is an independent bounded probe, the fusion is a
    tiny outer join on ranks."""
    mleg, dleg = _maxsim_legs(spark, sf)
    fused = mleg.join(dleg, ["qid", "doc_id"], "full_outer").select(
        F.col("qid").alias("query_id"),
        "doc_id",
        F.round(
            F.coalesce(1.0 / (60 + F.col("mrnk")), F.lit(0.0))
            + F.coalesce(1.0 / (60 + F.col("drnk")), F.lit(0.0)),
            9,
        ).alias("rrf"),
    )
    wf = Window.partitionBy("query_id").orderBy(F.desc("rrf"), "doc_id")
    return (
        fused.withColumn("rnk", F.row_number().over(wf).cast("long"))
        .filter(F.col("rnk") <= 5)
    )


@query(
    "search_maxsim_vs_dense_recall",
    oracle=f"""
    WITH {SQL_MAXSIM_LEG},
    {SQL_DENSE_LEG}
    SELECT m.qid,
           CAST(COUNT_IF(m.rnk <= 5 AND d.rnk <= 5) AS BIGINT)
             AS n_overlap_top5,
           CAST(COUNT(*) AS BIGINT) AS n_overlap_top20
    FROM (SELECT * FROM mr WHERE rnk <= 20) m
    JOIN (SELECT * FROM dr WHERE rnk <= 20) d
      ON m.qid = d.qid AND m.doc_id = d.doc_id
    GROUP BY 1
    """,
)
def search_maxsim_vs_dense_recall(spark, sf):
    """Leg-agreement audit for the retrieval stack (round 11 — the
    recall row VERDICT r10 task 6 asked for): per query, how many of
    the MaxSim leg's top-5/top-20 the pooled dense leg also retrieves.
    Both legs are exact and deterministic, so the overlap counts are
    exact-oracle-able integers — the honest measurement a hybrid
    pipeline reads before tuning fusion weights (high overlap → the
    token leg adds little; low overlap → the legs see different
    structure and fusion has room). One inner join of two bounded
    top-20 sets per query; every upstream is the two legs' own plans."""
    mleg, dleg = _maxsim_legs(spark, sf)
    return (
        mleg.join(dleg, ["qid", "doc_id"])
        .groupBy("qid")
        .agg(
            F.count_if(
                (F.col("mrnk") <= 5) & (F.col("drnk") <= 5)
            ).cast("long").alias("n_overlap_top5"),
            F.count(F.lit(1)).cast("long").alias("n_overlap_top20"),
        )
    )


# ---------------------------------------------------------------------------
# text_html_extract (round 8)
# ---------------------------------------------------------------------------
#
# The crawl-side stage the refine pipeline assumed away: raw HTML → clean
# text (WET-style extraction, the trafilatura/jusText niche). The corpus
# has no HTML column, so — like text_url_canonicalize's synthetic URLs —
# a deterministic page wraps each document's text in real boilerplate
# (head/title, a script, a stylesheet, a nav bar, a link-farm div, a
# footer, plus HTML entities in a content paragraph). Extraction is then
# the published recipe: (1) drop <script>/<style> subtrees, (2) split on
# block boundaries into candidate lines, (3) per line strip tags and
# score LINK DENSITY = anchor-text chars / text chars (the jusText
# boilerplate signal), (4) keep lines that are long enough and not
# link-dominated, (5) decode entities. Every step is a pure column
# expression in the RE2/Java-common regex dialect, so DuckDB replays the
# whole byte pipeline exactly — and the density gate compares
# 2·anchor_chars ≤ total_chars in INTEGER arithmetic, so no division
# ever enters an oracled value.

_HTML_MIN_LINE = 20  # chars of tag-stripped text below which a line drops

# DuckDB twin of the synthetic page below (chr(10) = the line separator
# the extractor splits on).
_HTML_SQL = """
    '<html><head><title>Doc ' || CAST(doc_id AS VARCHAR)
    || '</title><script type="text/javascript">var p='
    || CAST(doc_id AS VARCHAR) || ';track(p);</script>'
    || '<style>.m{margin:0}</style></head><body>' || chr(10)
    || '<nav><a href="/">Home</a> <a href="/tags">Tags</a>'
    || ' <a href="/login">Login</a></nav>' || chr(10)
    || '<p>' || substr(text, 1, 120) || '</p>' || chr(10)
    || '<p>Terms &amp; conditions &lt;apply&gt; for doc '
    || CAST(doc_id AS VARCHAR) || '</p>' || chr(10)
    || '<p>' || substr(text, 121) || '</p>' || chr(10)
    || '<div class="rel"><a href="/d1">More stories</a>'
    || '<a href="/d2">Trending now</a><a href="/d3">Subscribe</a></div>'
    || chr(10)
    || '<footer><a href="/about">About us</a> <a href="/p">Privacy</a>'
    || ' &copy; Example</footer></body></html>'
"""


def _html_page_col():
    """Spark twin of ``_HTML_SQL``: the deterministic synthetic page."""
    did = F.col("doc_id").cast("string")
    return F.concat(
        F.lit("<html><head><title>Doc "), did,
        F.lit('</title><script type="text/javascript">var p='), did,
        F.lit(";track(p);</script>"),
        F.lit("<style>.m{margin:0}</style></head><body>\n"),
        F.lit('<nav><a href="/">Home</a> <a href="/tags">Tags</a>'
              ' <a href="/login">Login</a></nav>\n'),
        F.lit("<p>"), F.substring(F.col("text"), 1, 120), F.lit("</p>\n"),
        F.lit("<p>Terms &amp; conditions &lt;apply&gt; for doc "), did,
        F.lit("</p>\n"),
        F.lit("<p>"), F.col("text").substr(F.lit(121), F.length("text")),
        F.lit("</p>\n"),
        F.lit('<div class="rel"><a href="/d1">More stories</a>'
              '<a href="/d2">Trending now</a><a href="/d3">Subscribe</a>'
              "</div>\n"),
        F.lit('<footer><a href="/about">About us</a> <a href="/p">Privacy'
              "</a> &copy; Example</footer></body></html>"),
    )


@query(
    "text_html_extract",
    oracle=f"""
    WITH page AS (SELECT doc_id, {_HTML_SQL} AS html FROM documents),
    stripped AS (
      SELECT doc_id,
             regexp_replace(
               regexp_replace(html, '(?s)<script.*?</script>', '', 'g'),
               '(?s)<style.*?</style>', '', 'g') AS h
      FROM page),
    per_line AS (
      SELECT doc_id,
             list_transform(
               string_split(h, chr(10)),
               l -> struct_pack(
                 plain := trim(regexp_replace(l, '<[^>]*>', '', 'g')),
                 nonanchor := trim(regexp_replace(
                   regexp_replace(l, '<a[^>]*>[^<]*</a>', '', 'g'),
                   '<[^>]*>', '', 'g')))) AS ps
      FROM stripped),
    kept AS (
      SELECT doc_id, ps,
             list_filter(ps, p ->
               length(p.plain) >= {_HTML_MIN_LINE}
               AND 2 * (length(p.plain) - length(p.nonanchor))
                   <= length(p.plain)) AS ks
      FROM per_line)
    SELECT doc_id,
           array_to_string(
             list_transform(ks, p ->
               replace(replace(replace(p.plain, '&amp;', '&'),
                       '&lt;', '<'), '&gt;', '>')),
             chr(10)) AS clean_text,
           CAST(len(ks) AS BIGINT) AS lines_kept,
           CAST(len(ps) - len(ks) AS BIGINT) AS lines_dropped
    FROM kept
    """,
)
def text_html_extract(spark, sf):
    """HTML → clean-text extraction (the WET stage of a crawl pipeline):
    strip <script>/<style> subtrees, split on block boundaries, gate each
    line on tag-stripped length ≥ 20 and jusText-style LINK DENSITY
    (anchor-text chars over text chars, compared as
    2·anchor ≤ total in integer arithmetic — no division), then decode
    entities. On the synthetic page this provably drops the title line
    (too short), the nav bar and link-farm div (density 1.0) and the
    footer (density > 0.5), and keeps the three content paragraphs —
    including the entity paragraph, whose &amp;/&lt;/&gt; decode AFTER
    tag stripping so the decoded angle brackets survive. All narrow
    column expressions (one whole-stage-codegen pass, no shuffle, no
    Python): at 100 TB this runs at scan speed, which is exactly why
    production extraction (CCNet, RefinedWeb) is regex/heuristic, not a
    DOM parser, at the first pass. Reference has no text-extraction
    stage (its columnar ops are CSV-level); this extends the surface on
    the training-data axis."""
    docs = table(spark, sf, "documents")
    h = F.regexp_replace(
        F.regexp_replace(
            _html_page_col(), r"(?s)<script.*?</script>", ""),
        r"(?s)<style.*?</style>", "")
    strip = lambda c: F.trim(F.regexp_replace(c, r"<[^>]*>", ""))  # noqa: E731
    ps = F.transform(
        F.split(h, "\n"),
        lambda l: F.struct(
            strip(l).alias("plain"),
            strip(F.regexp_replace(l, r"<a[^>]*>[^<]*</a>", ""))
            .alias("nonanchor"),
        ),
    )
    decoded = lambda p: F.replace(  # noqa: E731
        F.replace(
            F.replace(p["plain"], F.lit("&amp;"), F.lit("&")),
            F.lit("&lt;"), F.lit("<")),
        F.lit("&gt;"), F.lit(">"))
    out = docs.select("doc_id", ps.alias("_ps")).select(
        "doc_id", "_ps",
        F.filter(
            "_ps",
            lambda p: (F.length(p["plain"]) >= _HTML_MIN_LINE)
            & (2 * (F.length(p["plain"]) - F.length(p["nonanchor"]))
               <= F.length(p["plain"])),
        ).alias("_ks"),
    )
    return out.select(
        "doc_id",
        F.array_join(F.transform("_ks", decoded), "\n").alias("clean_text"),
        F.size("_ks").cast("long").alias("lines_kept"),
        (F.size("_ps") - F.size("_ks")).cast("long").alias("lines_dropped"),
    )


# ---------------------------------------------------------------------------
# dedup_cdc_chunks (round 8)
# ---------------------------------------------------------------------------
#
# Content-defined chunking (Rabin-style rolling hash — the LBFS/restic/
# borg technique): chunk boundaries fall where a W-char polynomial hash
# of the content hits 0 mod D, so an insertion early in a document
# shifts only the chunk it lands in — unlike fixed-size segments
# (dedup_segments), where one inserted byte re-aligns every later
# segment and kills all downstream dedup. This is the missing rung of
# the dedup ladder between exact whole-doc and substring-span dedup:
# chunk-grain storage dedup. All integer modular arithmetic (B=31,
# M=1000003 — products ≤ 255·1e6·16 ≈ 4e9, well inside int64), spelled
# identically in both engines; expected chunk length = D = 64 chars
# (measured 54.9 at sf0.01 — boundary clustering shortens slightly).

_CDC_W, _CDC_B, _CDC_M, _CDC_D = 16, 31, 1000003, 64
_CDC_POWS = [pow(_CDC_B, j, _CDC_M) for j in range(_CDC_W)]

_CDC_HASH_SQL = " + ".join(
    f"cs0[i - {j}] * {p}" for j, p in enumerate(_CDC_POWS)
)


def cdc_boundaries_udf():
    """The CDC rolling-hash boundary detector as an Arrow-batched pandas
    UDF — module-level so ``dedup_cdc_chunks`` and the scorecard's
    shift-invariance row run the SAME engine artifact: positions (1-based,
    window END) where the W-term polynomial hash ≡ 0 mod D."""
    from pyspark.sql.functions import pandas_udf

    pows = np.array(_CDC_POWS, dtype=np.int64)

    @pandas_udf("array<long>")
    def cdc_boundaries(texts: pd.Series) -> pd.Series:
        out = []
        for s in texts:
            if s is None or len(s) < _CDC_W:
                out.append([])
                continue
            # codepoints == ascii() for this corpus; ord() keeps parity
            # with the engines' codepoint semantics beyond ASCII too.
            codes = np.fromiter((ord(c) for c in s), dtype=np.int64,
                                count=len(s))
            # h for the window ENDING at 1-based position i lands at
            # conv[i - W]; max term 255·1e6·16 ≈ 4e9 — exact int64.
            conv = np.convolve(codes, pows, mode="valid")
            hits = np.nonzero(conv % _CDC_M % _CDC_D == 0)[0] + _CDC_W
            out.append(hits.tolist())
        return pd.Series(out)

    return cdc_boundaries


@query(
    "dedup_cdc_chunks",
    oracle=f"""
    WITH c AS (
      SELECT doc_id, text AS t, length(text) AS n,
             list_transform(range(1, length(text) + 1),
                            k -> ascii(text[k:k])) AS cs0
      FROM documents),
    b AS (
      SELECT doc_id, t, n,
             list_filter(list_transform(range({_CDC_W}, n + 1),
               i -> CASE WHEN ({_CDC_HASH_SQL}) % {_CDC_M} % {_CDC_D} = 0
                         THEN i END), x -> x IS NOT NULL) AS bnds
      FROM c),
    cuts AS (
      SELECT doc_id,  t,
             list_concat(list_concat([CAST(0 AS BIGINT)], bnds),
                         [CAST(n AS BIGINT)]) AS cs
      FROM b),
    ch AS (
      SELECT doc_id,
             UNNEST(list_transform(range(1, len(cs)),
                    i -> t[cs[i] + 1 : cs[i + 1]])) AS chunk
      FROM cuts),
    chn AS (SELECT doc_id, chunk FROM ch WHERE chunk <> ''),
    shared AS (
      SELECT chunk FROM chn GROUP BY chunk
      HAVING COUNT(DISTINCT doc_id) > 1)
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_chunks,
           CAST(SUM(length(chunk)) AS BIGINT) AS sum_chunk_len,
           CAST(COUNT(*) FILTER (WHERE chunk IN (SELECT chunk FROM shared))
                AS BIGINT) AS n_shared_chunks
    FROM chn GROUP BY doc_id
    """,
)
def dedup_cdc_chunks(spark, sf):
    """Content-defined chunking dedup audit (module comment above): per
    document, the CDC chunk count, total chunked length (an integer —
    no float enters the oracle), and how many of its chunks also occur
    in ANOTHER document (the chunk-grain dedup opportunity). EXACT-
    oracled: DuckDB replays the rolling hash, the boundary set, the
    chunk extraction, and the cross-doc sharing join. Plan: boundary
    detection is ONE Arrow-batched pandas pass — the W-term polynomial
    over every position is a numpy int64 correlation per document (the
    SemDeDup-pair-stage lesson: the first cut spelled it as a
    higher-order-function expression tree, which Spark evaluates
    INTERPRETED per element — 24M lambda evals, measured 10.2 s at
    sf0.1; the convolution form is 1.7 s end-to-end with identical
    integers); the
    sharing check is one chunk-keyed aggregate + a semi join — at
    100 TB chunks would be hashed to 16-byte fingerprints first
    (the dedup_exact convention) so only fingerprints shuffle, and the
    boundary pass streams at scan speed, which is exactly why CDC is
    the storage-dedup standard (LBFS, Muthitacharoen et al. SOSP'01)."""
    cdc_boundaries = cdc_boundaries_udf()

    docs = table(spark, sf, "documents")
    t = F.col("text")
    n = F.length(t).cast("long")
    cuts = F.concat(
        F.array(F.lit(0).cast("long")), cdc_boundaries(t),
        F.array(n),
    )
    with_cuts = docs.select("doc_id", t.alias("t"), cuts.alias("cs"))
    chunks = F.zip_with(
        F.slice(F.col("cs"), 1, F.size("cs") - 1),
        F.slice(F.col("cs"), 2, F.size("cs") - 1),
        lambda a, b: F.substring("t", (a + 1).cast("int"),
                                 (b - a).cast("int")),
    )
    ch = (
        with_cuts.select("doc_id", F.explode(chunks).alias("chunk"))
        .filter(F.col("chunk") != "")
    )
    shared = (
        ch.groupBy("chunk")
        .agg(F.countDistinct("doc_id").alias("_nd"))
        .filter(F.col("_nd") > 1)
        .select("chunk", F.lit(1).alias("_shared"))
    )
    return (
        ch.join(shared, "chunk", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_chunks"),
            F.sum(F.length("chunk")).cast("long").alias("sum_chunk_len"),
            F.count_if(F.col("_shared").isNotNull()).cast("long")
            .alias("n_shared_chunks"),
        )
    )


@query(
    "search_phrase_positions",
    oracle="""
    WITH raw AS (
      SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS toks
      FROM documents),
    tok AS (
      SELECT doc_id, u.i AS pos, toks[u.i] AS t
      FROM raw, unnest(range(1, len(toks) + 1)) AS u(i)),
    q AS (
      SELECT a.doc_id AS qid, a.t AS t1, b.t AS t2
      FROM tok a JOIN tok b
        ON b.doc_id = a.doc_id AND a.pos = 1 AND b.pos = 2
      WHERE a.doc_id < 3)
    SELECT q.qid, a.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_hits
    FROM q
    JOIN tok a ON a.t = q.t1
    JOIN tok b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1 AND b.t = q.t2
    GROUP BY 1, 2
    """,
)
def search_phrase_positions(spark, sf):
    """PHRASE search over positional postings — the exact-match leg the
    lexical family lacked (BM25 and the hybrid fusion are bag-of-words;
    a production retrieval stack also needs "these words, adjacent, in
    order": quote queries, code identifiers, entity names). Postings
    carry (doc_id, pos, term) — ONE tokenize + posexplode pass; each
    query phrase is the first bigram of docs 0-2 (data-derived like the
    hybrid query set, so the fixture is corpus-valid at every SF). The
    match plan is the classic positional-index intersection: the tiny
    query table broadcast-joins postings on the FIRST term (cost =
    matched postings, never the corpus), then ONE equi-join back to
    postings on (doc_id, pos + 1) checks adjacency — at 100 TB both
    joins are hash equi-joins keyed on (term) and (doc, position), the
    exact shape Lucene's phrase scorer resolves per segment. Counts
    are integers; the oracle replays tokenization, positions, and the
    intersection exactly. Output: (qid, doc_id, n_hits ≥ 1) — the
    query doc itself matches its own phrase by construction, an
    embedded correctness witness."""
    docs = table(spark, sf, "documents")
    tok = docs.select(
        "doc_id",
        F.posexplode(
            F.split(F.lower(F.trim("text")), r"\s+")
        ).alias("pos", "t"),
    )
    first_two = tok.filter(F.col("pos") <= 1)
    q = (
        first_two.filter(F.col("doc_id") < 3)
        .groupBy(F.col("doc_id").alias("qid"))
        .agg(
            F.min(F.when(F.col("pos") == 0, F.col("t"))).alias("t1"),
            F.min(F.when(F.col("pos") == 1, F.col("t"))).alias("t2"),
        )
    )
    a = tok.join(
        F.broadcast(q), tok["t"] == q["t1"]
    ).select("qid", "doc_id", (F.col("pos") + 1).alias("_next"), "t2")
    b = tok.select(
        F.col("doc_id").alias("doc_id"),
        F.col("pos").alias("_next"),
        F.col("t").alias("_tb"),
    )
    return (
        a.join(b, ["doc_id", "_next"])
        .filter(F.col("_tb") == F.col("t2"))
        .groupBy("qid", "doc_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )


@query(
    "dataset_token_budget_mix",
    oracle="""
    WITH t AS (
      SELECT source,
             CAST(SUM(len(regexp_split_to_array(lower(trim(text)), '\\s+')))
                  AS BIGINT) AS n_tokens
      FROM documents GROUP BY source),
    w AS (
      SELECT source, n_tokens,
             CAST(FLOOR(SQRT(CAST(n_tokens * 10000 AS DOUBLE)))
                  AS BIGINT) AS wgt
      FROM t),
    s AS (SELECT SUM(wgt) AS sw, SUM(n_tokens) // 2 AS budget FROM w),
    r AS (
      SELECT source, n_tokens, wgt,
             wgt * (budget // sw) + (wgt * (budget % sw)) // sw AS raw
      FROM w, s),
    a AS (
      SELECT source, n_tokens, wgt,
             LEAST(raw, (3 * n_tokens) // 2) AS alloc_tokens,
             raw > (3 * n_tokens) // 2 AS capped
      FROM r)
    SELECT source, n_tokens, wgt,
           CAST(alloc_tokens AS BIGINT) AS alloc_tokens,
           CAST(alloc_tokens * 1000 // n_tokens AS BIGINT) AS epochs_milli,
           capped
    FROM a
    """,
)
def dataset_token_budget_mix(spark, sf):
    """TOKEN-BUDGET data-mix recipe (round 9) — the allocation table an
    LLM pre-training run is actually configured from (the published
    LLaMA/Pile-style per-source rows: tokens available, sampling
    weight, tokens allocated, effective epochs): given a total token
    budget (half the corpus here), allocate per-source budgets
    ∝ sqrt(source tokens) — temperature T = 0.5 upweighting at TOKEN
    grain, where ``dataset_mix_temperature`` selects documents — with
    a 1.5-epoch repetition cap per source (the over-sampling guard;
    the ``capped`` flag shows where the cap binds and the shortfall
    would be redistributed by re-running the recipe on the uncapped
    remainder). All arithmetic is integer (the floor(sqrt(n·10⁴))
    trick keeps the fractional power exact in both engines), so the
    oracle replays the whole recipe bit for bit. The allocation
    divides BEFORE multiplying — ``wgt·(budget div sw) +
    (wgt·(budget mod sw)) div sw``, an exact floor-div identity with
    ``budget·wgt div sw`` — because the naive product overflows int64
    at corpus scale (n_tokens ~2.5e13 → wgt ~5e8, budget ~1.25e13 →
    ~6e21 > 2⁶³); the rearranged worst term is wgt·(sw−1) ≈ 2.5e18,
    inside int64 for any corpus ≤ ~10¹⁵ tokens. Plan: one tokenize +
    per-source aggregate (10 rows), then pure scalar algebra on the
    broadcast totals — at 100 TB the corpus pass is the token count
    the run needs anyway; the recipe itself is free."""
    docs = table(spark, sf, "documents")
    t = docs.groupBy("source").agg(
        F.sum(F.size(F.split(F.lower(F.trim("text")), r"\s+")))
        .cast("long").alias("n_tokens")
    )
    w = t.select(
        "source", "n_tokens",
        F.floor(F.sqrt((F.col("n_tokens") * 10000).cast("double")))
        .cast("long").alias("wgt"),
    )
    s = w.agg(
        F.sum("wgt").alias("sw"),
        F.expr("sum(n_tokens) div 2").alias("budget"),
    )
    raw = F.expr(
        "wgt * (budget div sw) + (wgt * (budget % sw)) div sw"
    )
    a = w.crossJoin(F.broadcast(s)).select(
        "source", "n_tokens", "wgt",
        F.least(raw, F.expr("(3 * n_tokens) div 2")).alias("alloc_tokens"),
        (raw > F.expr("(3 * n_tokens) div 2")).alias("capped"),
    )
    return a.select(
        "source", "n_tokens", "wgt",
        F.col("alloc_tokens").cast("long").alias("alloc_tokens"),
        F.expr("alloc_tokens * 1000 div n_tokens").cast("long")
        .alias("epochs_milli"),
        "capped",
    )


_SQL_TOKS = "regexp_split_to_array(lower(trim(text)), '\\s+')"


@query(
    "split_leakage_safe",
    oracle=f"""
    WITH RECURSIVE
    sh AS (SELECT doc_id,
           list_distinct(list_transform(
               range(1, greatest(len({_SQL_TOKS}) - 2, 1) + 1),
               i -> array_to_string(({_SQL_TOKS})[i:i+2], ' ')))
           AS s FROM documents),
    pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM sh a JOIN sh b ON a.doc_id < b.doc_id
      WHERE len(list_intersect(a.s, b.s))
              / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)))
            >= 0.8),
    edges AS (SELECT id_a AS s, id_b AS t FROM pairs
              UNION SELECT id_b, id_a FROM pairs),
    reach AS (
      SELECT s, t FROM edges
      UNION
      SELECT r.s, e.t FROM reach r JOIN edges e ON r.t = e.s
      WHERE e.t <> r.s),
    cc AS (SELECT s AS doc_id, LEAST(s, MIN(t)) AS cluster_id
           FROM reach GROUP BY s),
    sides AS (SELECT d.doc_id,
                     COALESCE(cc.cluster_id, d.doc_id) AS cluster_id,
                     CASE WHEN COALESCE(cc.cluster_id, d.doc_id) % 10 = 0
                          THEN 'eval' ELSE 'train' END AS side
              FROM documents d LEFT JOIN cc USING (doc_id)),
    xp AS (SELECT CAST(COUNT(*) AS BIGINT) AS c
           FROM pairs p
           JOIN sides a ON p.id_a = a.doc_id
           JOIN sides b ON p.id_b = b.doc_id
           WHERE a.side <> b.side)
    SELECT side, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT cluster_id) AS BIGINT) AS n_clusters,
           (SELECT c FROM xp) AS n_cross_pairs
    FROM sides GROUP BY side
    """,
)
def split_leakage_safe(spark, sf):
    """LEAKAGE-SAFE train/eval split (round 11 — the training-pipeline
    op that makes dedup clusters actionable): a random per-document
    split leaks, because a near-duplicate of a training document lands
    in eval and inflates every metric. The split therefore assigns
    whole NEAR-DUP CLUSTERS atomically: documents take their verified
    cluster id (LSH → exact-Jaccard pairs → connected components,
    singletons = own id), and the CLUSTER id — not the doc id — picks
    the side (cluster_id % 10 = 0 → eval, ~10%; a production pipeline
    swaps the modulo for a salted hash, the split rule is one
    expression). The report is the audit a data lead signs off on:
    per-side doc and cluster counts plus ``n_cross_pairs`` — verified
    near-dup pairs with endpoints on OPPOSITE sides — which is 0 by
    construction (every pair lies within one cluster and clusters are
    atomic), and the oracle RECOMPUTES it from brute-force pairs
    rather than asserting it. The pair set is the LOSSLESS exact
    truth (:func:`~.llm.shared_jaccard_truth`, AllPairs prefix
    filter), NOT the LSH candidate path — the oracle brute-forces the
    same space, so equality holds by construction at every SF instead
    of riding on band recall (the suite's oracled-literal rule). One
    extra broadcast join past the clustering itself; at 100 TB the
    split is a projection over the standing cluster assignment."""
    from .llm import shared_jaccard_truth

    docs = table(spark, sf, "documents")
    pairs = shared_jaccard_truth(spark, sf)
    labels = D.connected_components(
        pairs.select("id_a", "id_b"), parts=4
    ).localCheckpoint()
    sides = docs.join(
        labels.withColumnRenamed("id_a", "doc_id"), "doc_id", "left"
    ).select(
        "doc_id",
        F.coalesce("cluster_id", "doc_id").alias("cluster_id"),
    ).withColumn(
        "side",
        F.when(F.col("cluster_id") % 10 == 0, "eval").otherwise("train"),
    )
    cross = (
        pairs.select("id_a", "id_b")
        .join(
            sides.select(
                F.col("doc_id").alias("id_a"), F.col("side").alias("_sa")
            ),
            "id_a",
        )
        .join(
            sides.select(
                F.col("doc_id").alias("id_b"), F.col("side").alias("_sb")
            ),
            "id_b",
        )
        .filter(F.col("_sa") != F.col("_sb"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_cross_pairs"))
    )
    return (
        sides.groupBy("side")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.countDistinct("cluster_id").cast("long").alias("n_clusters"),
        )
        .crossJoin(F.broadcast(cross))
    )


@query(
    "eval_contamination_report",
    oracle=f"""
    WITH corpus AS (
      SELECT doc_id, g
      FROM (SELECT doc_id,
                   unnest(list_distinct(list_transform(
                       range(1, greatest(len({_SQL_TOKS}) - 9, 1) + 1),
                       i -> array_to_string(({_SQL_TOKS})[i:i+9], ' '))))
                   AS g
            FROM documents)),
    ev AS (SELECT doc_id AS eval_id, ({_SQL_TOKS})[1:25] AS toks
           FROM documents WHERE doc_id % 101 = 0),
    eg AS (SELECT eval_id, g
           FROM (SELECT eval_id,
                        unnest(list_distinct(list_transform(
                            range(1, greatest(len(toks) - 9, 1) + 1),
                            i -> array_to_string(toks[i:i+9], ' '))))
                        AS g
                 FROM ev)),
    hits AS (SELECT eg.eval_id,
                    CAST(COUNT(DISTINCT eg.g) AS BIGINT) AS n_shared_grams,
                    CAST(COUNT(DISTINCT c.doc_id) AS BIGINT)
                      AS n_matching_docs
             FROM eg JOIN corpus c ON c.g = eg.g
             WHERE c.doc_id <> eg.eval_id
             GROUP BY 1)
    SELECT e.eval_id,
           COALESCE(h.n_shared_grams, 0) AS n_shared_grams,
           COALESCE(h.n_matching_docs, 0) AS n_matching_docs,
           COALESCE(h.n_matching_docs, 0) > 0 AS contaminated
    FROM ev e LEFT JOIN hits h ON h.eval_id = e.eval_id
    """,
)
def eval_contamination_report(spark, sf):
    """Benchmark-CONTAMINATION audit (round 11 — the check every
    training-data pipeline runs before trusting an eval number): does
    any eval item share a long n-gram with the training corpus? Eval
    items here are deterministic extracts — each doc_id % 101 = 0
    document's first 25 tokens (a 'leaked passage' fixture, replayable
    in any engine) — and the detector is the published recipe
    (GPT-3/PaLM appendix style): 10-token-gram overlap, SELF-matches
    excluded so a hit means the passage also lives in ANOTHER corpus
    document (its near-duplicates, exactly what contamination looks
    like in practice). Per eval item: distinct shared 10-grams,
    distinct matching corpus docs, and the contaminated flag —
    EXACT-oracled end to end (the oracle replays tokens, windows, and
    the string-gram join; no hash in the oracled path). Plan: the
    bounded eval gram set broadcast-equi-joins the corpus gram pass —
    one linear tokenize over the corpus, the standard probe shape; at
    100 TB the corpus side is the persistable gram index the
    substring family already maintains."""
    docs = table(spark, sf, "documents")
    toks = D.tokens_col("text")
    corpus = docs.select(
        "doc_id", F.explode(D.ngram_windows(toks, 10)).alias("g")
    )
    ev = docs.filter(F.col("doc_id") % 101 == 0).select(
        F.col("doc_id").alias("eval_id"), F.slice(toks, 1, 25).alias("_t")
    )
    eg = ev.select(
        "eval_id",
        F.explode(D.ngram_windows(F.col("_t"), 10)).alias("g"),
    )
    hits = (
        corpus.join(F.broadcast(eg), "g")
        .filter(F.col("doc_id") != F.col("eval_id"))
        .groupBy("eval_id")
        .agg(
            F.countDistinct("g").cast("long").alias("n_shared_grams"),
            F.countDistinct("doc_id").cast("long").alias("n_matching_docs"),
        )
    )
    return (
        ev.select("eval_id")
        .join(hits, "eval_id", "left")
        .select(
            "eval_id",
            F.coalesce("n_shared_grams", F.lit(0)).alias("n_shared_grams"),
            F.coalesce("n_matching_docs", F.lit(0))
            .alias("n_matching_docs"),
            (F.coalesce("n_matching_docs", F.lit(0)) > 0)
            .alias("contaminated"),
        )
    )

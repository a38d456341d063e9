"""Corpus-quality gate suite entries (LLM pre-training filters, wave 2).

quality_gopher_rules     — multi-rule document gate in the style of the
                           published Gopher/MassiveText heuristics: word
                           count bounds, mean word length, alphabetic-word
                           ratio, stopword presence. Per-rule flags so a
                           pipeline can report WHY a document was dropped.
quality_lexical_diversity— type/token ratio, hapax fraction, top-token
                           concentration (repetition-collapse detector).
dedup_segments           — sub-document dedup: fixed 8-token segments
                           shared across documents → per-doc contamination
                           fraction (the paragraph-level dedup analog for
                           the whitespace word-soup corpus).

Scale notes (100 TB): quality_gopher_rules is pure per-row higher-order
array math — zero shuffles, whole-stage codegen, embarrassingly parallel.
quality_lexical_diversity explodes to (doc, token) then aggregates twice on
the same doc-keyed partitioning (partial aggregation bounds the wire at
types-per-doc, AQE coalesces the two exchanges). dedup_segments shuffles
(doc, segment-hash) pairs once — linear in corpus size, the same posture
as the exact-dedup family; the join key is xxhash64(segment) (8-byte wire
format, ~1.8× faster than strings at sf0.1, collision odds negligible —
see the query docstring).

Reference parity: the reference has no text operators at all (its surface
is S3/JDBC copy adapters, README.md:1-3) — this is engine-extension
surface per SURVEY.md §2.B's text_analysis / dedup_near rows.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..operators.dedup import tokens_col
from ..operators.text import STOPWORDS as _STOP
from . import ORACLES, memo, query, scoped_conf, table
from .llm import SQL_SHINGLES, SQL_TOKENS, _LANG_SCORE_SQL

_STOP_SQL = "('" + "', '".join(_STOP) + "')"

# Gopher-gate thresholds — single-sourced: the per-document report
# (quality_gopher_rules) and the funnel (pipeline_quality_attrition)
# interpolate these same constants into BOTH their Spark builders and
# their SQL oracles, so a tuning edit cannot de-synchronize them.
_W_MIN, _W_MAX = 50, 100000
_LEN_MIN, _LEN_MAX = 3, 10
_ALPHA_MIN = 0.8
_STOP_MIN = 2


def _clean_tokens():
    """Non-empty engine-convention tokens (operators.dedup.tokens_col)."""
    return F.filter(tokens_col("text"), lambda t: t != "")


def _gopher_parts():
    """The four Gopher-rule raw measures over ``toks`` plus the combined
    keep predicate — shared by the report and the attrition funnel."""
    n_words = F.size("toks")
    sum_len = F.aggregate(
        F.transform("toks", lambda t: F.length(t).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    alpha = F.size(F.filter("toks", lambda t: t.rlike("^[a-z]+$")))
    stops = F.size(F.filter("toks", lambda t: t.isin(*_STOP)))
    q_ok = (
        n_words.between(_W_MIN, _W_MAX)
        & (sum_len.cast("double") / n_words).between(_LEN_MIN, _LEN_MAX)
        & ((alpha.cast("double") / n_words) > _ALPHA_MIN)
        & (stops >= _STOP_MIN)
    )
    return n_words, sum_len, alpha, stops, q_ok

_GOPHER_ORACLE = f"""
WITH t AS (
  SELECT doc_id,
         list_filter({SQL_TOKENS}, t -> t <> '') AS toks
  FROM documents
), m AS (
  SELECT doc_id,
         CAST(len(toks) AS BIGINT) AS n_words,
         CAST(list_sum(list_transform(toks, t -> length(t))) AS BIGINT)
           AS sum_len,
         CAST(len(list_filter(toks, t -> regexp_matches(t, '^[a-z]+$')))
              AS BIGINT) AS alpha_words,
         CAST(len(list_filter(toks, t -> t IN {_STOP_SQL})) AS BIGINT)
           AS stop_hits
  FROM t
)
SELECT doc_id, n_words,
       CAST(sum_len AS DOUBLE) / n_words AS mean_word_len,
       CAST(alpha_words AS DOUBLE) / n_words AS alpha_word_frac,
       stop_hits,
       (n_words BETWEEN {_W_MIN} AND {_W_MAX}) AS word_count_ok,
       (CAST(sum_len AS DOUBLE) / n_words BETWEEN {_LEN_MIN} AND {_LEN_MAX})
         AS mean_word_len_ok,
       (CAST(alpha_words AS DOUBLE) / n_words > {_ALPHA_MIN}) AS alpha_ratio_ok,
       (stop_hits >= {_STOP_MIN}) AS stopword_ok,
       ((n_words BETWEEN {_W_MIN} AND {_W_MAX})
        AND (CAST(sum_len AS DOUBLE) / n_words BETWEEN {_LEN_MIN} AND {_LEN_MAX})
        AND (CAST(alpha_words AS DOUBLE) / n_words > {_ALPHA_MIN})
        AND stop_hits >= {_STOP_MIN}) AS gopher_keep
FROM m
"""


@query("quality_gopher_rules", oracle=_GOPHER_ORACLE)
def quality_gopher_rules(spark, sf):
    """Gopher-style multi-rule document quality gate. All four rules are
    higher-order functions over the token array of each row — the plan is
    a single codegen'd projection with NO shuffle and no Python crossing;
    at 100 TB the cost is exactly one decompress-and-scan of the text
    column. Ratios divide int64 by int64 as doubles in identical
    expression order on both engines, so the boolean gates are
    bit-stable. Per-rule flags are kept (not just the AND) because a real
    pipeline reports drop reasons for corpus audits."""
    docs = table(spark, sf, "documents")
    n_words, sum_len, alpha, stops, _ = _gopher_parts()
    d = docs.select("doc_id", _clean_tokens().alias("toks")).select(
        "doc_id",
        n_words.cast("long").alias("n_words"),
        sum_len.alias("sum_len"),
        alpha.cast("long").alias("alpha_words"),
        stops.cast("long").alias("stop_hits"),
    )
    mean_len = F.col("sum_len").cast("double") / F.col("n_words")
    alpha_frac = F.col("alpha_words").cast("double") / F.col("n_words")
    word_ok = F.col("n_words").between(_W_MIN, _W_MAX)
    len_ok = mean_len.between(_LEN_MIN, _LEN_MAX)
    alpha_ok = alpha_frac > _ALPHA_MIN
    stop_ok = F.col("stop_hits") >= _STOP_MIN
    return d.select(
        "doc_id",
        "n_words",
        mean_len.alias("mean_word_len"),
        alpha_frac.alias("alpha_word_frac"),
        "stop_hits",
        word_ok.alias("word_count_ok"),
        len_ok.alias("mean_word_len_ok"),
        alpha_ok.alias("alpha_ratio_ok"),
        stop_ok.alias("stopword_ok"),
        (word_ok & len_ok & alpha_ok & stop_ok).alias("gopher_keep"),
    )


_DIVERSITY_ORACLE = f"""
WITH tok AS (
  SELECT doc_id, UNNEST({SQL_TOKENS}) AS t FROM documents
), tc AS (
  SELECT doc_id, t, COUNT(*) AS c FROM tok WHERE t <> '' GROUP BY doc_id, t
), agg AS (
  SELECT doc_id,
         CAST(SUM(c) AS BIGINT) AS n_tokens,
         CAST(COUNT(*) AS BIGINT) AS n_types,
         CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
         CAST(MAX(c) AS BIGINT) AS max_tc
  FROM tc GROUP BY doc_id
)
SELECT doc_id, n_tokens, n_types,
       CAST(n_types AS DOUBLE) / n_tokens AS ttr,
       CAST(n_hapax AS DOUBLE) / n_types AS hapax_frac,
       CAST(max_tc AS DOUBLE) / n_tokens AS top_token_frac
FROM agg
"""


@query("quality_lexical_diversity", oracle=_DIVERSITY_ORACLE)
def quality_lexical_diversity(spark, sf):
    """Lexical-diversity features: type/token ratio, hapax-legomenon
    fraction, and top-token concentration — the standard detectors for
    boilerplate and repetition-collapsed documents. Explodes to
    (doc, token), counts per pair, then reduces per doc: both aggregates
    hash-partition on keys that start with doc_id, so the second exchange
    coalesces under AQE and partial aggregation bounds the shuffle at the
    per-doc type count (vocab-bounded, not length-bounded)."""
    docs = table(spark, sf, "documents")
    tok = docs.select(
        "doc_id", F.explode(tokens_col("text")).alias("t")
    ).filter(F.col("t") != "")
    tc = tok.groupBy("doc_id", "t").agg(F.count(F.lit(1)).alias("c"))
    agg = tc.groupBy("doc_id").agg(
        F.sum("c").cast("long").alias("n_tokens"),
        F.count(F.lit(1)).cast("long").alias("n_types"),
        F.sum(F.when(F.col("c") == 1, 1).otherwise(0))
        .cast("long").alias("n_hapax"),
        F.max("c").cast("long").alias("max_tc"),
    )
    return agg.select(
        "doc_id",
        "n_tokens",
        "n_types",
        (F.col("n_types").cast("double") / F.col("n_tokens")).alias("ttr"),
        (F.col("n_hapax").cast("double") / F.col("n_types"))
        .alias("hapax_frac"),
        (F.col("max_tc").cast("double") / F.col("n_tokens"))
        .alias("top_token_frac"),
    )


_SEG = 8

_SEGMENTS_ORACLE = f"""
WITH d AS (
  SELECT doc_id, list_filter({SQL_TOKENS}, t -> t <> '') AS toks
  FROM documents
), seg AS (
  SELECT doc_id,
         UNNEST(list_transform(
           range(0, CAST(ceil(len(toks) / {_SEG}.0) AS INT)),
           i -> array_to_string(toks[i * {_SEG} + 1 : i * {_SEG} + {_SEG}],
                                ' '))) AS seg
  FROM d
), seg_ne AS (
  SELECT doc_id, seg FROM seg WHERE seg <> ''
), freq AS (
  SELECT seg, COUNT(DISTINCT doc_id) AS ndocs FROM seg_ne GROUP BY seg
)
SELECT s.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_segs,
       CAST(SUM(CASE WHEN f.ndocs > 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_shared,
       CAST(SUM(CASE WHEN f.ndocs > 1 THEN 1 ELSE 0 END) AS DOUBLE)
         / COUNT(*) AS shared_frac,
       (CAST(SUM(CASE WHEN f.ndocs > 1 THEN 1 ELSE 0 END) AS DOUBLE)
         / COUNT(*) >= 0.5) AS near_dup_seg
FROM seg_ne s JOIN freq f ON s.seg = f.seg
GROUP BY s.doc_id
"""


@query("dedup_segments", oracle=_SEGMENTS_ORACLE)
def dedup_segments(spark, sf):
    """Sub-document (segment-level) dedup: cut each document into fixed
    8-token segments, count how many of a document's segments also occur
    in at least one OTHER document, and flag documents that are
    majority-shared. This is the paragraph-dedup analog for the
    whitespace corpus — it catches partial/near-boilerplate overlap that
    whole-document exact dedup misses. One shuffle keyed by the SEGMENT
    HASH for the frequency count, one joined back and reduced per doc;
    both linear in corpus size. The join key is xxhash64(segment) —
    8-byte shuffle keys instead of strings, A/B-measured ~1.8× faster
    at sf0.1 and the only sane wire format at 100 TB; the oracle groups
    the raw strings, which yields identical COUNTS barring a 64-bit
    collision (probability ~segments²/2⁶⁴ — negligible, and the
    documented trade of every hash-keyed dedup in this engine)."""
    docs = table(spark, sf, "documents")
    d = docs.select("doc_id", _clean_tokens().alias("toks"))
    idx = F.sequence(
        F.lit(0),
        F.greatest(
            (F.ceil(F.size("toks") / F.lit(float(_SEG)))).cast("int")
            - F.lit(1),
            F.lit(0),
        ),
    )
    segs = F.transform(
        idx, lambda i: F.concat_ws(" ", F.slice("toks", i * _SEG + 1, _SEG))
    )
    seg = (
        d.select("doc_id", F.explode(segs).alias("seg"))
        .filter(F.col("seg") != "")
        .select("doc_id", F.xxhash64("seg").alias("segh"))
    )
    freq = seg.groupBy("segh").agg(F.countDistinct("doc_id").alias("ndocs"))
    shared = F.sum(F.when(F.col("ndocs") > 1, 1).otherwise(0))
    out = (
        seg.join(freq, "segh")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_segs"),
            shared.cast("long").alias("n_shared"),
        )
    )
    frac = F.col("n_shared").cast("double") / F.col("n_segs")
    return out.select(
        "doc_id",
        "n_segs",
        "n_shared",
        frac.alias("shared_frac"),
        (frac >= 0.5).alias("near_dup_seg"),
    )


_ATTRITION_ORACLE = f"""
WITH base AS (
  SELECT doc_id, lang, text,
         list_filter({SQL_TOKENS}, t -> t <> '') AS toks,
         {_LANG_SCORE_SQL['en']} AS s_en,
         {_LANG_SCORE_SQL['de']} AS s_de,
         {_LANG_SCORE_SQL['fr']} AS s_fr
  FROM documents),
flags AS (
  SELECT doc_id, lang, text,
         (len(toks) BETWEEN {_W_MIN} AND {_W_MAX}
          AND CAST(list_sum(list_transform(toks, t -> length(t))) AS DOUBLE)
              / len(toks) BETWEEN {_LEN_MIN} AND {_LEN_MAX}
          AND CAST(len(list_filter(toks, t -> regexp_matches(t, '^[a-z]+$')))
                   AS DOUBLE) / len(toks) > {_ALPHA_MIN}
          AND len(list_filter(toks, t -> t IN {_STOP_SQL})) >= {_STOP_MIN}) AS q_ok,
         (CASE WHEN greatest(s_en, s_de, s_fr) = 0 THEN 'und'
               WHEN s_de = greatest(s_en, s_de, s_fr) THEN 'de'
               WHEN s_en = greatest(s_en, s_de, s_fr) THEN 'en'
               ELSE 'fr' END) = lang AS lang_ok
  FROM base),
s3 AS (
  SELECT doc_id FROM (
    SELECT doc_id, ROW_NUMBER() OVER (
      PARTITION BY md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))
      ORDER BY doc_id) AS rn
    FROM flags WHERE q_ok AND lang_ok)
  WHERE rn = 1),
sh AS (SELECT doc_id, {SQL_SHINGLES} AS s FROM documents),
drop4 AS (
  SELECT DISTINCT b.doc_id FROM sh a JOIN sh b ON a.doc_id < b.doc_id
  WHERE a.doc_id IN (SELECT doc_id FROM s3)
    AND b.doc_id IN (SELECT doc_id FROM s3)
    AND len(list_intersect(a.s, b.s))
        / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) >= 0.8)
SELECT '0_ingest' AS stage, CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents
UNION ALL
SELECT '1_quality', CAST(SUM(CASE WHEN q_ok THEN 1 ELSE 0 END) AS BIGINT)
FROM flags
UNION ALL
SELECT '2_language',
       CAST(SUM(CASE WHEN q_ok AND lang_ok THEN 1 ELSE 0 END) AS BIGINT)
FROM flags
UNION ALL
SELECT '3_exact_dedup', CAST(COUNT(*) AS BIGINT) FROM s3
UNION ALL
SELECT '4_near_dedup', CAST(COUNT(*) AS BIGINT)
FROM s3 WHERE doc_id NOT IN (SELECT doc_id FROM drop4)
"""


@query("pipeline_quality_attrition", oracle=_ATTRITION_ORACLE)
def pipeline_quality_attrition(spark, sf):
    """The data-card ATTRITION FUNNEL: how many documents survive each
    corpus-prep stage — Gopher quality gate → language confirmation →
    exact dedup (min-id survivor per fingerprint) → near-dup drop
    (verified Jaccard ≥ 0.8 pairs among survivors, deterministic
    drop-the-larger-id rule). Every real pretraining pipeline publishes
    this table; it is the first thing reviewed when a corpus shrinks
    unexpectedly. One scan computes the per-row gates (array HOFs, no
    Python); the dedup stages reuse the session-shared verified-pair
    memo, so the funnel adds two semi/anti joins over O(dups) rows —
    NOT a re-run of the LSH pipeline. Five 1-row aggregates union into
    the report."""
    from pyspark.sql import Window

    from ..operators import text as T
    from . import shared_jaccard_pairs

    docs = table(spark, sf, "documents")
    _, _, _, _, q_ok = _gopher_parts()
    lang_ok = T.lang_id("text") == F.col("lang")
    flags = docs.withColumn("toks", _clean_tokens()).select(
        "doc_id", "text", q_ok.alias("q_ok"), lang_ok.alias("lang_ok")
    )

    w = Window.partitionBy(T.fingerprint("text")).orderBy("doc_id")
    s3 = (
        flags.filter(F.col("q_ok") & F.col("lang_ok"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id")
    )
    pairs = shared_jaccard_pairs(spark, sf)
    live_pairs = (
        pairs.join(s3.withColumnRenamed("doc_id", "id_a"), "id_a", "left_semi")
        .join(s3.withColumnRenamed("doc_id", "id_b"), "id_b", "left_semi")
    )
    s4 = s3.join(
        live_pairs.select(F.col("id_b").alias("doc_id")), "doc_id",
        "left_anti",
    )

    def row(stage, df_count):
        return df_count.select(
            F.lit(stage).alias("stage"), F.col("n").alias("n_docs")
        )

    return (
        row("0_ingest", docs.agg(F.count(F.lit(1)).alias("n")))
        .unionByName(row(
            "1_quality",
            flags.agg(F.sum(F.col("q_ok").cast("long")).alias("n")),
        ))
        .unionByName(row(
            "2_language",
            flags.agg(
                F.sum((F.col("q_ok") & F.col("lang_ok")).cast("long"))
                .alias("n")
            ),
        ))
        .unionByName(row("3_exact_dedup", s3.agg(F.count(F.lit(1)).alias("n"))))
        .unionByName(row("4_near_dedup", s4.agg(F.count(F.lit(1)).alias("n"))))
    )


@memo
def shared_bpe_merges(spark, sf):
    """Session-memoized BPE merge table (rounds=5, batch=4, doc_id <
    200) — the trainer ran once per CONSUMER before r09 (merges report,
    apply economics, and the round-trip each re-paid the 5-round fit in
    one bench session); the adaptive fit is deterministic for a fixed
    corpus (tiebreak pinned), so memoizing it is attribution hygiene,
    not a semantics change."""
    from ..operators.text import bpe_merges

    docs = table(spark, sf, "documents").filter(F.col("doc_id") < 200)
    return bpe_merges(docs, rounds=5, batch=4)


@query("tokenizer_bpe_merges")  # rows-only: merges depend on argmax per round
def tokenizer_bpe_merges(spark, sf):
    """Tokenizer training inner loop: the first 5 BPE merges learned from
    the corpus (operators/text.py::bpe_merges). Each round is one
    pair-count aggregate (wire = distinct-pair cardinality, not corpus
    size), a 1-row argmax fetch with deterministic ties, and a narrow
    greedy merge fold — the same plan trains a full vocabulary by
    raising ``rounds``. Adaptive per-round argmax is not expressible as
    one SQL statement → rows-only; deterministic for a fixed corpus
    (tiebreak pinned), which the determinism suite enforces. Bounded to
    a corpus slice here purely to keep the bench round light. Runs with
    batch=4 (cross-side-disjoint batched rounds, VERDICT r03 task 7) —
    proven to emit the identical merge table as batch=1 on this corpus
    at these rounds (tests), in 2 driver round-trips instead of 5."""
    rows = shared_bpe_merges(spark, sf)
    return spark.createDataFrame(
        rows, "merge_rank int, left string, right string, pair_count long"
    )


@query(
    "text_intradoc_dedup",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, list_filter({SQL_TOKENS}, t -> t <> '') AS t
      FROM documents),
    ch AS (
      SELECT doc_id,
             list_transform(
               range(0, greatest(CAST(ceil(len(t) / 8.0) AS INT), 1)),
               i -> array_to_string(t[i*8+1:i*8+8], ' ')) AS c
      FROM tok),
    kd AS (
      SELECT doc_id, c,
             list_filter(c, (x, i) -> list_position(c, x) = i) AS k
      FROM ch)
    SELECT doc_id,
           CAST(len(c) AS BIGINT) AS n_segments,
           CAST(len(k) AS BIGINT) AS n_kept,
           round(len(k) / len(c), 6) AS dedup_ratio,
           array_to_string(k, ' ') AS text_dedup
    FROM kd
    """,
)
def text_intradoc_dedup(spark, sf):
    """WITHIN-document repeated-segment removal (the C4/MassiveText in-page
    cleanup: navigation chrome, duplicated paragraphs, crawler echo) —
    the dedup the cross-doc family structurally can't do. Fixed 8-word
    segments; each segment's first occurrence survives; text reassembled
    in order. Pure per-row array HOFs: zero shuffles, zero Python — a
    codegen projection at any corpus size (operators/text.py::
    intradoc_dedup)."""
    from ..operators.text import intradoc_dedup

    return intradoc_dedup(table(spark, sf, "documents"), window=8)


@query("tokenizer_bpe_apply")  # rows-only: encodes with adaptively-trained merges
def tokenizer_bpe_apply(spark, sf):
    """The APPLY half of the tokenizer story: encode the corpus slice
    with the merge table ``tokenizer_bpe_merges`` trains, and report
    per-source token economics — word count, pre-merge symbol count,
    post-merge BPE token count, and the compression ratio the learned
    merges buy. Encoding is pure JVM column expressions (the merge
    table compiles into the fold expression as literals — the
    tokenizer-vocab analog of a broadcast dict); one narrow pass over
    the docs + one small aggregate. Trainer-consistency is pinned by
    unit test (applying the table to the training corpus reproduces the
    trainer's final symbol state; encoding is lossless). Rows-only for
    the same reason as the trainer: the per-round argmax is not one SQL
    statement."""
    from ..operators.text import bpe_apply

    docs = table(spark, sf, "documents").filter(F.col("doc_id") < 200)
    enc = bpe_apply(docs, shared_bpe_merges(spark, sf))
    return (
        enc.join(docs.select("doc_id", "source"), "doc_id")
        .groupBy("source")
        .agg(
            F.sum("n_words").alias("n_words"),
            F.sum("n_symbols").alias("n_symbols"),
            F.sum("n_bpe_tokens").alias("n_bpe_tokens"),
        )
        .select(
            "source", "n_words", "n_symbols", "n_bpe_tokens",
            F.round(F.col("n_bpe_tokens") / F.col("n_symbols"), 6)
            .alias("compression_ratio"),
        )
    )



# ---------------------------------------------------------------------------
# quality_classifier_train / quality_classifier_score (round 8)
# ---------------------------------------------------------------------------
#
# The CCNet/GPT-3-style LEARNED quality filter the heuristic gates above
# approximate (VERDICT r07 task 4): logistic regression over hashed
# unigram features, trained to mimic the Gopher rule gate (the published
# reference-filter trick — CCNet trains against a Wikipedia-vs-crawl
# signal; here the deterministic teacher is `quality_gopher_rules`' keep
# predicate, which both engines already replay exactly). Every piece is
# EXACT-oracle-able by construction:
#
#  - feature hash: position-weighted codepoint sum mod D — integer
#    arithmetic only, spelled identically in Spark and DuckDB (xxhash64
#    is NOT SQL-replayable, the dedup family's documented trade; at
#    100 TB swap the hash for xxhash64 and keep the plan);
#  - features: per-bucket token FRACTIONS on the 1e-6 grid plus a
#    length feature (token count / 100) — raw counts scale with doc
#    length and saturate the activation into a majority-class
#    predictor (measured: 0.55 accuracy); normalized features reach
#    0.97 teacher agreement (see the train docstring);
#  - activation: HARD sigmoid p = clamp(z·0.25 + 0.5, 0, 1) — the
#    piecewise-linear logistic surrogate; with z on the 1e-6 decimal
#    grid every multiply/add is EXACT decimal arithmetic (the
#    stat_pca_power_iteration DECIMAL-grid convention), so no
#    transcendental ever enters an oracled value;
#  - full-batch gradient: Σ_d (p_d − y_d)·x_dj accumulates as exact
#    DECIMAL(25,12) products (map-side partial aggregation; each
#    iteration collects exactly D + 3 values — corpus-size-independent,
#    the opq_rotation bounded-collect convention — and re-injects the
#    updated weights as DECIMAL literals, so plan depth stays constant
#    instead of doubling per iteration);
#  - update: w ← round(w − (4·g)/n, 6) computed ENGINE-side — ·4 is an
#    exact binary scaling, /n a single IEEE division, − a single
#    subtraction: no FMA-fusible multiply-add chain anywhere, and no
#    Python float rounding (Python's banker's round differs from both
#    engines' half-away-from-zero at exact grid midpoints).

_QCLS_D = 16          # hashed feature buckets
_QCLS_ITERS = 20      # full-batch gradient steps (unrolled in the oracle)
_QCLS_LR = 4.0        # power of two: lr·g is an EXACT binary scaling
_QCLS_MULT = [1, 31, 7, 127, 3, 67, 13, 251]  # position multiplier cycle
_QCLS_DEC = "DECIMAL(15,6)"

_QCLS_MULT_SQL = "[" + ", ".join(str(m) for m in _QCLS_MULT) + "]"
# DuckDB twin of the Spark-side token hash below (1-based positions).
_QCLS_HASH_SQL = (
    "list_sum(list_transform(range(1, length(_t) + 1), "
    f"i -> ascii(_t[i:i]) * ({_QCLS_MULT_SQL})[((i - 1) % 8) + 1])) "
    f"% {_QCLS_D}"
)
# Feature columns: D hashed-bucket fractions + the length feature.
_QCLS_XCOLS = [f"x_{j}" for j in range(_QCLS_D)] + ["x_len"]


@query("tokenizer_bpe_roundtrip")  # rows-only: adaptive argmax, no SQL form
def tokenizer_bpe_roundtrip(spark, sf):
    """Merge-table ROUND-TRIP for the BPE tokenizer (round 9 — the last
    artifact family without a persisted contract; LSH/PQ/gram/CMS/
    classifier/ER/cluster-state all have one): the trained merge table
    is written through the engine's own hadoopParquet OUTPUT adapter as
    (merge_rank, left, right, pair_count) rows, read back cold through
    the INPUT adapter, re-ordered by rank, and compiled into the SAME
    fold expression — then BOTH tokenizers encode the corpus slice and
    the entry emits their per-source token counts side by side with an
    equality flag. A tokenizer is trained once and must encode
    identically for the lifetime of the model that consumed it; the
    self-witnessing row (``roundtrip_identical``) makes any
    serialization drift (rank order, symbol escaping) visible to the
    driver's rows-only check without needing a SQL form for the
    adaptive trainer."""
    from ..model import DataStream, StreamType
    from ..operators.text import bpe_apply
    from ..registry import resolve_input, resolve_output
    from . import scratch_dir

    docs = table(spark, sf, "documents").filter(F.col("doc_id") < 200)
    merges = shared_bpe_merges(spark, sf)
    mdf = spark.createDataFrame(
        merges, "merge_rank int, left string, right string, pair_count long"
    )
    base_dir = scratch_dir("bpem")
    out = resolve_output("hadoopParquet")().configure({}).initialize(
        spark, base_dir
    )
    out.save("bpe_merges", DataStream("bpe_merges", mdf, StreamType.COLUMNAR))
    inp = resolve_input("hadoopColumnar")().configure(
        {"parquet": True}
    ).initialize(spark, base_dir)
    [ds] = inp.load("bpe_merges").values()
    cold = [
        (r["merge_rank"], r["left"], r["right"], r["pair_count"])
        for r in sorted(ds.df.collect(), key=lambda r: r["merge_rank"])
    ]  # bounded: rounds rows
    src = docs.select("doc_id", "source")

    def economics(table_rows, suffix):
        return (
            bpe_apply(docs, table_rows)
            .join(src, "doc_id")
            .groupBy("source")
            .agg(F.sum("n_bpe_tokens").alias(f"n_bpe_tokens_{suffix}"))
        )

    warm = economics(merges, "warm")
    coldf = economics(cold, "cold")
    return warm.join(coldf, "source", "full_outer").select(
        "source", "n_bpe_tokens_warm", "n_bpe_tokens_cold",
        (
            F.coalesce(F.col("n_bpe_tokens_warm"), F.lit(-1))
            == F.coalesce(F.col("n_bpe_tokens_cold"), F.lit(-2))
        ).alias("roundtrip_identical"),
    )


def _qcls_tok_hash(tok):
    """Position-weighted codepoint hash mod D — exact integer twin of
    ``_QCLS_HASH_SQL`` (transform-with-index is 0-based here, 1-based
    in SQL; the multiplier cycle lines up either way)."""
    mult = F.array(*[F.lit(m) for m in _QCLS_MULT])
    weighted = F.transform(
        F.split(tok, ""),
        lambda c, i: F.ascii(c).cast("long")
        * F.element_at(mult, F.pmod(i, F.lit(8)) + F.lit(1)),
    )
    return F.pmod(
        F.aggregate(weighted, F.lit(0).cast("long"), lambda a, x: a + x),
        F.lit(_QCLS_D),
    )


def _qcls_features(spark, sf):
    """(doc_id, y, x_0..x_{D-1}, x_len) over the corpus table — see
    :func:`_qcls_features_from` for the construction. The scan is
    fanned out first: the tokenize + per-token hash pass is the
    corpus-sized work and otherwise runs single-task on the
    single-row-group bench files (guide §2.5; measured 15.3 → 3.2 s
    at sf0.1/local[32])."""
    from ..session import fan_out

    return _qcls_features_from(fan_out(table(spark, sf, "documents")))


def _qcls_features_from(docs):
    """(doc_id, y, x_0..x_{D-1}, x_len) — NORMALIZED hashed-unigram
    fractions (bucket count / token count, 1e-6 grid) plus the scaled
    length feature (token count / 100) and the Gopher keep label as
    the training target. One tokenize pass + one conditional-count
    aggregate; docs whose clean-token list is empty have no hash rows
    and are excluded in BOTH engines (the corpus has none — mirrored
    by the oracle's inner join). Takes the docs frame directly so the
    streaming serving twin can featurize micro-batches with the SAME
    definition."""
    toks = docs.select("doc_id", _clean_tokens().alias("toks"))
    *_, q_ok = _gopher_parts()
    labeled = toks.select(
        "doc_id", q_ok.cast("int").alias("y"), F.explode("toks").alias("_t")
    )
    hashed = labeled.select(
        "doc_id", "y", _qcls_tok_hash(F.col("_t")).alias("_h")
    )
    counts = hashed.groupBy("doc_id", "y").agg(
        F.count(F.lit(1)).alias("_n_toks"),
        *[
            F.count_if(F.col("_h") == j).cast("long").alias(f"_c_{j}")
            for j in range(_QCLS_D)
        ],
    )
    return counts.select(
        "doc_id", "y",
        *[
            F.round(F.col(f"_c_{j}") / F.col("_n_toks"), 6)
            .cast(_QCLS_DEC).alias(f"x_{j}")
            for j in range(_QCLS_D)
        ],
        F.round(F.col("_n_toks") / F.lit(100.0), 6)
        .cast(_QCLS_DEC).alias("x_len"),
    )


def _qcls_p_expr(wexprs):
    """p = clamp(z·0.25 + 0.5, 0, 1) with z = round(Σ x_j·w_j + w_b, 6)
    — all-decimal hard-sigmoid scoring; ``wexprs`` are the D + 2
    weight expressions (decimal literals during training/scoring).
    Each product is EXACT on the 1e-12 grid (two 1e-6-grid factors)
    and casts down to DECIMAL(20,12) losslessly, so the sum peaks
    under both engines' 38-digit decimal cap (DuckDB silently falls
    back to DOUBLE past it, which would break the exact replay)."""
    from decimal import Decimal

    z = wexprs[-1].cast(_QCLS_DEC)  # bias
    for xc, w in zip(_QCLS_XCOLS, wexprs):
        z = z + (F.col(xc) * w).cast("decimal(20,12)")
    z = F.round(z, 6).cast(_QCLS_DEC)
    quarter = F.lit(Decimal("0.25")).cast("decimal(3,2)")
    half = F.lit(Decimal("0.5")).cast("decimal(2,1)")
    raw = F.round(z * quarter + half, 6)
    return F.least(
        F.lit(1).cast(_QCLS_DEC),
        F.greatest(F.lit(0).cast(_QCLS_DEC), raw.cast(_QCLS_DEC)),
    )


@memo
def shared_qcls_features(spark, sf):
    """Session-memoized CHECKPOINTED design matrix — train and score
    consume the identical frame, so the corpus featurization (tokenize +
    hash + conditional counts, the only corpus-sized pass) happens once
    per session instead of once per consumer (r8: score re-paid ~10 s of
    featurization at sf0.1 with the weights already memoized)."""
    # Fan the CHECKPOINTED matrix out too (optimization round 11,
    # guide §2.5): the featurization ends in an AQE-coalesced
    # single partition at bench scale, so every downstream gradient
    # stage — 20 of them in the chained fit — evaluated the deep
    # decimal p-expression SINGLE-THREADED over the whole matrix.
    # The checkpoint freezes pre-repartition layout, so the fan-out
    # must land before it. Gradient sums are decimal-exact
    # (order-independent) — values unchanged under any layout.
    from ..session import fan_out

    return fan_out(_qcls_features(spark, sf)).localCheckpoint()


@memo
def shared_quality_classifier(spark, sf):
    """Session-memoized trained weights — a list of D + 2 exact
    ``Decimal`` values on the 1e-6 grid (w_0..w_{D-1}, w_len, w_bias).
    Each of the ``_QCLS_ITERS`` full-batch iterations runs ONE
    engine-side job (gradient aggregate + weight update in the same
    plan) and collects D + 3 bounded values; the updated weights
    re-enter the next iteration through a broadcast 1-ROW PARAMS FRAME
    (crossJoin — the oracle's ``p{t} = feats CROSS JOIN w{t-1}`` CTE
    shape), so the plan never deepens and nothing corpus-sized reaches
    the driver.

    Optimization round 11 (guide §1.2 per-task work, measured): the
    round-8 form re-injected weights as decimal LITERALS, which forced
    a FRESH py4j expression-tree build every iteration — ~500 driver
    round-trips constructing the deep decimal p-expression, measured at
    2-9 s per iteration (vs ~5 ms of Catalyst analysis and ~0.6 s of
    execution), ×20 iterations. Wave 1 moved the weights into a
    broadcast params frame (Column trees built once); wave 3 CHAINS all
    ``_QCLS_ITERS`` iterations into ONE lazy plan and collects ONCE —
    exactly the oracle's ``w{t} = f(agg(feats × w{t-1}))`` CTE shape.
    w_{t-1} rides THROUGH the gradient aggregate (``min`` of a
    cross-joined constant column) so each iteration references the
    previous one exactly once and the physical plan stays LINEAR
    (re-using w_df twice per step would duplicate the whole prefix
    subtree per use — 2^T growth). This removes 20 driver
    synchronization points (20 collect + 20 createDataFrame round
    trips → 1 + 1): measured cold 24.6 → 15.9 s, warm 14.1 → 12.3 s on
    a loaded host at sf0.1/local[32]. Arithmetic is UNCHANGED — same
    expressions on the same decimal grid, weights bit-identical
    (asserted in the A/B and by the exact oracle replay)."""
    from decimal import Decimal

    feats = shared_qcls_features(spark, sf)
    gcols = [f"g_{j}" for j in range(len(_QCLS_XCOLS))] + ["g_b"]
    wnames = [f"_w_{j}" for j in range(_QCLS_D + 2)]
    wschema = ", ".join(f"{n} decimal(15,6)" for n in wnames)
    wexprs = [F.col(n) for n in wnames]
    d_col = (
        _qcls_p_expr(wexprs) - F.col("y").cast(_QCLS_DEC)
    ).alias("_d")
    agg_cols = [
        F.count(F.lit(1)).alias("_n"),
        *[
            F.sum(
                (F.col("_d") * F.col(xc)).cast("decimal(25,12)")
            ).alias(gc)
            for xc, gc in zip(_QCLS_XCOLS, gcols)
        ],
        F.sum("_d").alias("g_b"),
        # w_{t-1} rides through the agg: constant per cross-joined
        # row, so min() IS the value — keeps the plan linear.
        *[F.min(F.col(wn)).alias(wn) for wn in wnames],
    ]
    upd_cols = [
        F.round(
            F.col(wn).cast("double")
            - (F.col(gc).cast("double") * F.lit(_QCLS_LR))
            / F.col("_n"),
            6,
        ).cast(_QCLS_DEC).alias(wn)
        for wn, gc in zip(wnames, gcols)
    ]
    w_df = spark.createDataFrame(
        [tuple([Decimal(0)] * (_QCLS_D + 2))], wschema
    )
    for _ in range(_QCLS_ITERS):
        proj = feats.crossJoin(F.broadcast(w_df)).select(
            *_QCLS_XCOLS, d_col, *wnames
        )
        w_df = proj.agg(*agg_cols).select(*upd_cols)
    # AQE off for THIS collect only (optimization round 12, guide §1.2
    # step 3 — measured A/B: fit execution 13.2/6.8 s → 4.8/3.3 s at
    # sf0.1/local[32], weights bit-identical): the chained fit is
    # _QCLS_ITERS sequential full-batch aggregates collapsing to ONE row
    # — AQE has nothing to re-plan (no coalescible output; the only join
    # is an explicit broadcast) and charges a driver-synchronized stage
    # re-optimization per aggregate. A property of the PLAN SHAPE, not of
    # bench scale: at any corpus size each iteration's aggregate output
    # is one row. The scope covers the single collect, and no
    # concurrently() leg runs on another thread while it holds.
    with scoped_conf(spark, "spark.sql.adaptive.enabled", "false"):
        row = w_df.collect()[0]
    return [row[i] for i in range(_QCLS_D + 2)]


def _qcls_p_sql(wnames):
    """The hard-sigmoid scoring SQL from weight-column names — the ONE
    source for the train CTEs' per-iteration p and the score oracle's
    final p (they must replay the identical activation)."""
    z = " + ".join(
        f"CAST({xc} * {wn} AS DECIMAL(20,12))"
        for xc, wn in zip(_QCLS_XCOLS, wnames[:-1])
    )
    return (
        f"LEAST(CAST(1 AS {_QCLS_DEC}), GREATEST("
        f"CAST(0 AS {_QCLS_DEC}), CAST(round("
        f"CAST(round(w_b + {z}, 6) AS {_QCLS_DEC})"
        f" * CAST(0.25 AS DECIMAL(3,2)) + CAST(0.5 AS DECIMAL(2,1))"
        f", 6) AS {_QCLS_DEC})))"
    )


def _qcls_oracle_ctes():
    """The unrolled train pipeline as DuckDB CTEs, shared by the train
    and score oracles: feats (doc_id, y, x_0..x_15, x_len) → w0
    (zeros) → p1/g1/w1 → … → p_T/g_T/w_T. Mirrors the Spark plan step
    for step on the identical decimal grid (p materializes once per
    round in a per-doc CTE so the SQL stays linear in iterations)."""
    xs = ", ".join(
        f"CAST(round(CAST(COUNT(*) FILTER (WHERE _h = {j}) AS DOUBLE)"
        f" / COUNT(*), 6) AS {_QCLS_DEC}) AS x_{j}"
        for j in range(_QCLS_D)
    )
    feats = f"""
    tok AS (
      SELECT doc_id, list_filter({SQL_TOKENS}, t -> t <> '') AS toks
      FROM documents),
    lab AS (
      SELECT doc_id,
             CAST((len(toks) BETWEEN {_W_MIN} AND {_W_MAX})
               AND (CAST(list_sum(list_transform(toks, t -> length(t)))
                         AS DOUBLE) / len(toks)
                    BETWEEN {_LEN_MIN} AND {_LEN_MAX})
               AND (CAST(len(list_filter(toks,
                         t -> regexp_matches(t, '^[a-z]+$'))) AS DOUBLE)
                    / len(toks) > {_ALPHA_MIN})
               AND (len(list_filter(toks, t -> t IN {_STOP_SQL}))
                    >= {_STOP_MIN}) AS INT) AS y,
             toks
      FROM tok),
    h AS (
      SELECT doc_id, y, {_QCLS_HASH_SQL} AS _h
      FROM (SELECT doc_id, y, UNNEST(toks) AS _t FROM lab)),
    feats AS MATERIALIZED (
      SELECT doc_id, ANY_VALUE(y) AS y, {xs},
             CAST(round(COUNT(*) / 100.0, 6) AS {_QCLS_DEC}) AS x_len
      FROM h GROUP BY doc_id)
    """
    wnames = [f"w_{j}" for j in range(_QCLS_D)] + ["w_len", "w_b"]
    wzero = ", ".join(
        f"CAST(0 AS {_QCLS_DEC}) AS {wn}" for wn in wnames
    )
    ctes = [feats, f"w0 AS MATERIALIZED (SELECT {wzero})"]
    p_expr = _qcls_p_sql(wnames)
    for t in range(1, _QCLS_ITERS + 1):
        ctes.append(
            f"p{t} AS MATERIALIZED (SELECT doc_id, y, "
            + ", ".join(_QCLS_XCOLS)
            + f", {p_expr} AS p FROM feats CROSS JOIN w{t-1})"
        )
        gs = ", ".join(
            f"SUM(CAST((p - CAST(y AS {_QCLS_DEC}))"
            f" * {xc} AS DECIMAL(25,12))) AS g_{xc}"
            for xc in _QCLS_XCOLS
        )
        ctes.append(
            f"g{t} AS MATERIALIZED (SELECT COUNT(*) AS _n, {gs}, "
            f"SUM(p - CAST(y AS {_QCLS_DEC})) AS g_b "
            f"FROM p{t})"
        )
        ws = ", ".join(
            f"CAST(round(CAST({wn} AS DOUBLE)"
            f" - (CAST(g_{xc} AS DOUBLE) * {_QCLS_LR}) / _n, 6)"
            f" AS {_QCLS_DEC}) AS {wn}"
            for xc, wn in zip(_QCLS_XCOLS, wnames[:-1])
        )
        ctes.append(
            f"w{t} AS MATERIALIZED (SELECT {ws}, "
            f"CAST(round(CAST(w_b AS DOUBLE)"
            f" - (CAST(g_b AS DOUBLE) * {_QCLS_LR}) / _n, 6)"
            f" AS {_QCLS_DEC}) AS w_b "
            f"FROM g{t} CROSS JOIN w{t-1})"
        )
    return ", ".join(ctes), wnames


def _qcls_train_oracle():
    ctes, wnames = _qcls_oracle_ctes()
    names = ", ".join(
        [f"'h_{j:02d}'" for j in range(_QCLS_D)] + ["'len'", "'bias'"]
    )
    vals = ", ".join(f"CAST({wn} AS DOUBLE)" for wn in wnames)
    return f"""
    WITH {ctes}
    SELECT UNNEST([{names}]) AS feature, UNNEST([{vals}]) AS weight
    FROM w{_QCLS_ITERS}
    """


@query("quality_classifier_train", oracle=_qcls_train_oracle())
def quality_classifier_train(spark, sf):
    """Train the learned quality classifier (VERDICT r07 task 4) and
    return its weights — one row per hashed feature bucket + length
    feature + bias, EXACT-oracled: DuckDB re-tokenizes, re-hashes,
    re-labels, and replays all twenty full-batch hard-sigmoid gradient
    steps on the identical DECIMAL(15,6) grid, so a single drifted
    code path anywhere (hash, label, feature normalization,
    activation, gradient, update) fails the value compare. Measured
    teacher agreement at sf0.01: 0.97 — 485/500, 12 false keeps +
    3 false drops (see ``quality_classifier_score``; lr/iters were
    picked by sweeping the exact grid recurrence offline: 3 iters
    reach 0.64, 8 reach 0.89, 20 plateau). Plan: one tokenize + conditional-count
    pass builds the design matrix (the only corpus-sized frame,
    checkpointed once); each iteration is one partially-aggregated
    gradient-plus-update job collecting D + 3 numbers. At 100 TB the
    design matrix is the scan and everything else is
    corpus-size-independent — full-batch LR is embarrassingly
    map-reducible, which is exactly why production quality filters
    (CCNet, GPT-3's WebText classifier) train this way over hashed
    features."""
    w = shared_quality_classifier(spark, sf)
    names = [f"h_{j:02d}" for j in range(_QCLS_D)] + ["len", "bias"]
    return spark.createDataFrame(
        [(n, float(v)) for n, v in zip(names, w)],
        "feature string, weight double",
    )


def _qcls_score_oracle():
    ctes, wnames = _qcls_oracle_ctes()
    p = _qcls_p_sql(wnames)
    return f"""
    WITH {ctes},
    scored AS (
      SELECT y, CAST({p} >= 0.5 AS INT) AS pred
      FROM feats CROSS JOIN w{_QCLS_ITERS})
    SELECT CAST(pred AS INT) AS pred_keep,
           CAST(y AS INT) AS gopher_keep,
           CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM scored GROUP BY 1, 2
    """


@query("quality_classifier_score", oracle=_qcls_score_oracle())
def quality_classifier_score(spark, sf):
    """Score the corpus with the trained quality classifier and report
    the confusion matrix against its Gopher-rule teacher — the
    CCNet-style acceptance check before a learned filter replaces the
    heuristic gate. EXACT-oracled end to end (train replay + score
    replay). The score path is ONE column expression per document —
    the memoized weights compile into the hard-sigmoid as DECIMAL
    literals (the BPE broadcast-dict convention), so scoring is a
    single codegen'd projection: no join, no per-row Python, no UDF
    (the task-4 contract). Measured at sf0.01: 0.97 agreement
    (485/500 — 12 false keeps + 3 false drops, boundary docs where
    the linear model and the rule gate split). Output: (pred_keep, gopher_keep, n_docs)."""
    from decimal import Decimal as _Dec

    feats = shared_qcls_features(spark, sf)
    w = shared_quality_classifier(spark, sf)
    p = _qcls_p_expr([F.lit(v).cast(_QCLS_DEC) for v in w])
    return (
        feats.select(
            (p >= F.lit(_Dec("0.5")).cast(_QCLS_DEC))
            .cast("int").alias("pred_keep"),
            F.col("y").cast("int").alias("gopher_keep"),
        )
        .groupBy("pred_keep", "gopher_keep")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


@query(
    "quality_classifier_roundtrip",
    oracle=ORACLES["quality_classifier_score"],
)
def quality_classifier_roundtrip(spark, sf):
    """Model-artifact ROUND-TRIP for the learned quality classifier
    (VERDICT r08 task 3, the ``sketch_roundtrip`` /
    ``dedup_index_roundtrip`` convention): the trained weights are
    written to parquet through the engine's own hadoopParquet OUTPUT
    adapter as a (idx, feature, weight DECIMAL(15,6)) table, read back
    cold through the INPUT adapter (a lineage-free frame — exactly what
    a later serving session sees), and THOSE weights compile into the
    hard-sigmoid score expression as decimal literals. A production
    filter is trained once and served for months; before this entry the
    weights lived only in the session memo. The oracle is the same
    exact train-replay + score-replay SQL as
    ``quality_classifier_score`` — equality proves score ≡ in-session,
    i.e. the persisted artifact loses nothing (parquet DECIMAL(15,6)
    is exact, and the read-back collect is D + 2 = 18 bounded rows).
    The serving plan is unchanged: one codegen'd projection, no join,
    no UDF."""
    from decimal import Decimal as _Dec

    from ..model import DataStream, StreamType
    from ..registry import resolve_input, resolve_output
    from . import scratch_dir

    w = shared_quality_classifier(spark, sf)
    names = [f"h_{j:02d}" for j in range(_QCLS_D)] + ["len", "bias"]
    wdf = spark.createDataFrame(
        [(i, n, v) for i, (n, v) in enumerate(zip(names, w))],
        f"idx int, feature string, weight {_QCLS_DEC.lower()}",
    )
    base_dir = scratch_dir("qclsw")
    out = resolve_output("hadoopParquet")().configure({}).initialize(
        spark, base_dir
    )
    out.save(
        "qcls_weights", DataStream("qcls_weights", wdf, StreamType.COLUMNAR)
    )
    inp = resolve_input("hadoopColumnar")().configure(
        {"parquet": True}
    ).initialize(spark, base_dir)
    [ds] = inp.load("qcls_weights").values()
    cold = sorted(ds.df.collect(), key=lambda r: r["idx"])  # 18 rows
    w_cold = [r["weight"] for r in cold]
    feats = shared_qcls_features(spark, sf)
    p = _qcls_p_expr([F.lit(v).cast(_QCLS_DEC) for v in w_cold])
    return (
        feats.select(
            (p >= F.lit(_Dec("0.5")).cast(_QCLS_DEC))
            .cast("int").alias("pred_keep"),
            F.col("y").cast("int").alias("gopher_keep"),
        )
        .groupBy("pred_keep", "gopher_keep")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


# ---------------------------------------------------------------------------
# dataset_importance_resample (round 8)
# ---------------------------------------------------------------------------
#
# DSIR — Data Selection via Importance Resampling (Xie et al., NeurIPS
# 2023): select raw-corpus documents whose hashed-n-gram distribution
# looks like a TARGET domain, by ranking on an importance weight
# estimated from two bag-of-hashed-ngrams language models. Here the
# target is the Gopher-keep subset (quality-targeted selection — the
# published use), features are hashed BIGRAMS (D=64 buckets), and the
# per-doc weight is Σ_g r_b(g) over the doc's bigrams with
# r_b = round((p_target,b − p_raw,b)/(p_target,b + p_raw,b), 6):
# the first Padé approximant of the true DSIR log-ratio
# (log(p/q) = 2·atanh((p−q)/(p+q)) ≈ 2·(p−q)/(p+q)), used so NO
# transcendental enters the oracled values — every r_b lives on the
# 1e-6 grid and the doc score is an exact decimal sum. Selection is the
# zero-temperature limit of DSIR's Gumbel resampling: top-K by
# (score, doc_id), a TakeOrdered — deterministic and engine-portable.
#
# Measured at sf0.01: corpus Gopher-keep rate 0.528 → 0.90 in the
# selected top-100 (1.7× enrichment); hashed-unigram averages reach only
# 0.57, which is why the shipped estimator is bigram + unnormalized sum
# (the sum keeps DSIR's length sensitivity — quality gates are
# length-sensitive too).

_DSIR_D = 64        # hashed bigram buckets
_DSIR_K = 100       # selected documents (top-20% at sf0.01)
_DSIR_DEC = "DECIMAL(15,6)"

_DSIR_HASH_SQL = (
    "list_sum(list_transform(range(1, length(_t) + 1), "
    f"i -> ascii(_t[i:i]) * i)) % {_DSIR_D}"
)


@query(
    "dataset_importance_resample",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, list_filter({SQL_TOKENS}, t -> t <> '') AS toks
      FROM documents),
    lab AS (
      SELECT doc_id, toks,
             CAST((len(toks) BETWEEN {_W_MIN} AND {_W_MAX})
               AND (CAST(list_sum(list_transform(toks, t -> length(t)))
                         AS DOUBLE) / len(toks)
                    BETWEEN {_LEN_MIN} AND {_LEN_MAX})
               AND (CAST(len(list_filter(toks,
                         t -> regexp_matches(t, '^[a-z]+$'))) AS DOUBLE)
                    / len(toks) > {_ALPHA_MIN})
               AND (len(list_filter(toks, t -> t IN {_STOP_SQL}))
                    >= {_STOP_MIN}) AS INT) AS y
      FROM tok),
    h AS (
      SELECT doc_id, y, {_DSIR_HASH_SQL} AS b
      FROM (SELECT doc_id, y,
                   UNNEST(list_transform(range(1, len(toks)),
                          i -> toks[i] || ' ' || toks[i + 1])) AS _t
            FROM lab)),
    prob AS (
      SELECT b,
             CAST(round((COUNT(*) FILTER (WHERE y = 1) + 1.0)
                  / ((SELECT COUNT(*) FROM h WHERE y = 1) + {_DSIR_D}), 6)
                  AS {_DSIR_DEC}) AS pt,
             CAST(round((COUNT(*) + 1.0)
                  / ((SELECT COUNT(*) FROM h) + {_DSIR_D}), 6)
                  AS {_DSIR_DEC}) AS pr
      FROM h GROUP BY b),
    r AS (
      SELECT b, CAST(round(CAST(pt - pr AS DOUBLE)
                           / CAST(pt + pr AS DOUBLE), 6)
                     AS {_DSIR_DEC}) AS rb
      FROM prob),
    sc AS (
      SELECT doc_id, y AS gopher_keep,
             round(CAST(SUM(rb) AS DOUBLE), 6) AS score
      FROM h JOIN r USING (b) GROUP BY doc_id, y)
    SELECT doc_id, gopher_keep, score
    FROM sc ORDER BY score DESC, doc_id LIMIT {_DSIR_K}
    """,
)
def dataset_importance_resample(spark, sf):
    """DSIR quality-targeted data selection (module comment above): two
    hashed-bigram LMs (target = Gopher-keep docs, raw = corpus, add-1
    smoothing on the 1e-6 grid), per-document importance score as an
    exact decimal sum of per-bucket ratio terms, top-K selection.
    EXACT-oracled end to end — DuckDB re-tokenizes, re-labels,
    re-hashes the bigrams, rebuilds both LMs, and replays the scoring
    and the (score, doc_id)-ordered cut. Measured enrichment at sf0.01:
    selected-set Gopher-keep rate 0.90 vs corpus 0.528. Plan: one
    bigram explode (the corpus-sized pass), ONE aggregate to D=64
    bucket rows, a broadcast join of those 64 rows back onto the
    exploded pass, one per-doc aggregate, and a TakeOrdered — no global
    window, no driver-side math; at 100 TB the bucket LM is a 64-row
    broadcast exactly like DSIR's production description (hashed
    features bound the model size regardless of vocabulary)."""
    docs = table(spark, sf, "documents")
    toks = docs.select("doc_id", _clean_tokens().alias("toks"))
    *_, q_ok = _gopher_parts()
    lab = toks.select("doc_id", q_ok.cast("int").alias("y"), "toks")
    n = F.size("toks")
    bigrams = F.when(
        n >= 2,
        F.zip_with(
            F.slice("toks", F.lit(1), n - 1),
            F.slice("toks", F.lit(2), n - 1),
            lambda a, b: F.concat(a, F.lit(" "), b),
        ),
    ).otherwise(F.array().cast("array<string>"))
    hashed = (
        lab.select("doc_id", "y", F.explode(bigrams).alias("_t"))
        .select(
            "doc_id", "y",
            F.pmod(
                F.aggregate(
                    F.transform(
                        F.split("_t", ""),
                        lambda c, i: F.ascii(c).cast("long")
                        * (i + F.lit(1)),
                    ),
                    F.lit(0).cast("long"),
                    lambda a, x: a + x,
                ),
                F.lit(_DSIR_D),
            ).alias("b"),
        )
    )
    bucket_counts = hashed.groupBy("b").agg(
        F.count(F.lit(1)).alias("_c"),
        F.count_if(F.col("y") == 1).alias("_c1"),
    )
    # Corpus totals fold from the 64 bucket rows — NOT a second corpus
    # pass (the LM build and the scoring join are the only two).
    tot = bucket_counts.agg(
        F.sum("_c").alias("_nt"), F.sum("_c1").alias("_n1")
    )
    prob = (
        bucket_counts
        .crossJoin(F.broadcast(tot))
        .select(
            "b",
            F.round((F.col("_c1") + 1.0) / (F.col("_n1") + _DSIR_D), 6)
            .cast(_DSIR_DEC).alias("pt"),
            F.round((F.col("_c") + 1.0) / (F.col("_nt") + _DSIR_D), 6)
            .cast(_DSIR_DEC).alias("pr"),
        )
        .select(
            "b",
            F.round(
                (F.col("pt") - F.col("pr")).cast("double")
                / (F.col("pt") + F.col("pr")).cast("double"),
                6,
            ).cast(_DSIR_DEC).alias("rb"),
        )
    )
    sc = (
        hashed.join(F.broadcast(prob), "b")
        .groupBy("doc_id", "y")
        .agg(F.round(F.sum("rb").cast("double"), 6).alias("score"))
        .select("doc_id", F.col("y").alias("gopher_keep"), "score")
    )
    return sc.orderBy(F.desc("score"), "doc_id").limit(_DSIR_K)


@memo
def shared_unigram_vocab(spark, sf):
    """Session-memoized unigram-LM vocabulary — the EM train runs once
    per session for the train-report query AND the apply query (the
    shared_quality_classifier convention; also the bench memo-cluster
    edge that keeps both in one session chunk)."""
    from ..operators.text import unigram_em_vocab

    return unigram_em_vocab(
        table(spark, sf, "documents"), "text"
    )


@query("tokenizer_unigram_em")  # rows-only: float Viterbi EM, no SQL form
def tokenizer_unigram_em(spark, sf):
    """Unigram-LM tokenizer vocabulary (Kudo 2018; SentencePiece's other
    training objective, next to the BPE pair — see
    ``operators.text.unigram_em_vocab`` for the distribution shape: one
    corpus-sized distinct-word count, then EM entirely over the
    vocabulary-bounded word frame with a broadcast piece table and
    Arrow-batched Viterbi). Rows-only like the BPE twins — Viterbi EM
    over float log-probs has no SQL form — but deterministic across
    partitionings (tiebreaks: fewer pieces, earlier split; asserted by
    the determinism test). Output: (rank, piece, prob, usage)."""
    rows = shared_unigram_vocab(spark, sf)
    return spark.createDataFrame(
        rows, "rank long, piece string, prob double, usage long"
    )


@query("tokenizer_unigram_apply")  # rows-only: Viterbi has no SQL form
def tokenizer_unigram_apply(spark, sf):
    """The APPLY half of the unigram-LM tokenizer (mirroring
    ``tokenizer_bpe_apply``): encode the corpus with the vocabulary
    ``tokenizer_unigram_em`` trains and report per-source token
    economics — word count, character count, unigram piece count, and
    pieces-per-char (the compression the learned multi-char pieces buy
    over the char-level floor of 1.0). Trainer/encoder consistency is
    structural: both sides share ``_viterbi_pieces`` (same DP, same
    tiebreaks) and the ENGINE tokenizes in both paths. Rows-only like
    the whole tokenizer family; deterministic across partitionings
    (integer partial sums, the determinism suite asserts the trainer's
    half)."""
    from ..operators.text import unigram_apply

    docs = table(spark, sf, "documents")
    enc = unigram_apply(docs, shared_unigram_vocab(spark, sf))
    return (
        enc.join(docs.select("doc_id", "source"), "doc_id")
        .groupBy("source")
        .agg(
            F.sum("n_words").cast("long").alias("n_words"),
            F.sum("n_chars_tok").cast("long").alias("n_chars"),
            F.sum("n_pieces").cast("long").alias("n_pieces"),
        )
        .withColumn(
            "pieces_per_char",
            F.round(F.col("n_pieces") / F.col("n_chars"), 6),
        )
    )


@query(
    "pipeline_ingest_incremental",
    oracle=f"""
    WITH newd AS (SELECT doc_id, text FROM documents WHERE doc_id % 5 = 0),
    fpn AS (SELECT doc_id,
                   md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))
                     AS f
            FROM newd),
    fpb AS (SELECT DISTINCT
                   md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))
                     AS f
            FROM documents WHERE doc_id % 5 <> 0),
    s1 AS (SELECT t.doc_id FROM fpn t
           WHERE t.f NOT IN (SELECT f FROM fpb)
             AND t.doc_id = (SELECT MIN(x.doc_id) FROM fpn x
                             WHERE x.f = t.f)),
    sh AS (SELECT doc_id, {SQL_SHINGLES} AS s FROM documents),
    near AS (SELECT DISTINCT n.doc_id
             FROM sh n JOIN sh b
               ON n.doc_id % 5 = 0 AND b.doc_id % 5 <> 0
             WHERE len(list_intersect(n.s, b.s))
                   / (len(n.s) + len(b.s) - len(list_intersect(n.s, b.s)))
                   >= 0.8),
    s2 AS (SELECT doc_id FROM s1
           WHERE doc_id NOT IN (SELECT doc_id FROM near)),
    tok AS (SELECT doc_id, list_filter({SQL_TOKENS}, t -> t <> '') AS toks
            FROM newd),
    q AS (SELECT doc_id FROM tok
          WHERE len(toks) BETWEEN {_W_MIN} AND {_W_MAX}
            AND CAST(list_sum(list_transform(toks, t -> length(t)))
                     AS DOUBLE) / len(toks)
                BETWEEN {_LEN_MIN} AND {_LEN_MAX}
            AND CAST(len(list_filter(toks,
                         t -> regexp_matches(t, '^[a-z]+$'))) AS DOUBLE)
                / len(toks) > {_ALPHA_MIN}
            AND len(list_filter(toks, t -> t IN {_STOP_SQL}))
                >= {_STOP_MIN}),
    s3 AS (SELECT doc_id FROM s2
           WHERE doc_id IN (SELECT doc_id FROM q)),
    c AS (SELECT (SELECT COUNT(*) FROM newd) AS n0,
                 (SELECT COUNT(*) FROM s1) AS n1,
                 (SELECT COUNT(*) FROM s2) AS n2,
                 (SELECT COUNT(*) FROM s3) AS n3)
    SELECT stage_id, stage, CAST(rows_in AS BIGINT) AS rows_in,
           CAST(rows_dropped AS BIGINT) AS rows_dropped,
           CAST(rows_out AS BIGINT) AS rows_out
    FROM (
      SELECT 1 AS stage_id, 'exact_vs_standing' AS stage,
             n0 AS rows_in, n0 - n1 AS rows_dropped, n1 AS rows_out FROM c
      UNION ALL
      SELECT 2, 'near_vs_standing', n1, n1 - n2, n2 FROM c
      UNION ALL
      SELECT 3, 'quality_gate', n2, n2 - n3, n3 FROM c)
    """,
)
def pipeline_ingest_incremental(spark, sf):
    """The INCREMENTAL INGEST pipeline as one composed, exact-oracled
    entry (round 9 capstone — the ``pipeline_dedup_ladder`` shape for
    the operational per-batch path every other r09 piece serves): a new
    batch (doc_id % 5 = 0) flows exact-dedup → near-dedup → quality
    gate, each stage probing only STANDING state, with per-stage drop
    attribution. Stage 1: within-batch exact collapse (min doc_id per
    normalized-text fingerprint) + anti join against the standing
    fingerprint set — 16-byte keys, never raw text. Stage 2: drop
    survivors with a verified 3-gram Jaccard ≥ 0.8 match in the BASE
    corpus (the session-shared LSH-verified pair set, whose losslessness
    the blocking report and scorecard attest — the oracle brute-forces
    the new×base space). Stage 3: the Gopher keep gate on the
    survivors. The oracle replays all three compositions end to end, so
    the ledger pins the PIPELINE, not just each operator. At 100 TB the
    per-batch cost is batch fingerprints + batch signatures probing
    standing indexes + pure column-expression gating; history is only
    ever touched through its indexes. Cluster maintenance for what
    survives is ``dedup_clusters_incremental``; this entry is the
    admission path in front of it."""
    from ..operators import text as _T
    from . import shared_jaccard_pairs

    docs = table(spark, sf, "documents")
    newd = docs.filter(F.col("doc_id") % 5 == 0)
    base = docs.filter(F.col("doc_id") % 5 != 0)
    fpn = newd.select("doc_id", _T.fingerprint("text").alias("f"))
    fpb = base.select(_T.fingerprint("text").alias("f")).distinct()
    s1 = (
        fpn.groupBy("f").agg(F.min("doc_id").alias("doc_id"))
        .join(fpb, "f", "left_anti")
        .select("doc_id")
        .localCheckpoint()
    )
    pairs = shared_jaccard_pairs(spark, sf)
    near_new = (
        pairs.filter((F.col("id_a") % 5 == 0) != (F.col("id_b") % 5 == 0))
        .select(
            F.when(F.col("id_a") % 5 == 0, F.col("id_a"))
            .otherwise(F.col("id_b")).alias("doc_id")
        )
        .distinct()
    )
    s2 = s1.join(near_new, "doc_id", "left_anti").localCheckpoint()
    toks = newd.select("doc_id", _clean_tokens().alias("toks"))
    *_, q_ok = _gopher_parts()
    keep = toks.filter(q_ok).select("doc_id")
    s3 = s2.join(keep, "doc_id", "left_semi")

    def n(df, name):
        return df.agg(F.count(F.lit(1)).alias(name))

    c = (
        n(newd, "n0")
        .crossJoin(n(s1, "n1"))
        .crossJoin(n(s2, "n2"))
        .crossJoin(n(s3, "n3"))
    )
    return c.selectExpr(
        "stack(3, "
        "1, 'exact_vs_standing', n0, n0 - n1, n1, "
        "2, 'near_vs_standing',  n1, n1 - n2, n2, "
        "3, 'quality_gate',      n2, n2 - n3, n3) "
        "AS (stage_id, stage, rows_in, rows_dropped, rows_out)"
    ).select(
        "stage_id", "stage",
        F.col("rows_in").cast("long").alias("rows_in"),
        F.col("rows_dropped").cast("long").alias("rows_dropped"),
        F.col("rows_out").cast("long").alias("rows_out"),
    )

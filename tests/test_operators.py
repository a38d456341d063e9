"""Operator-semantics tests: tiny exact fixtures + property-style checks
(SURVEY §5.2.3/5.2.4) that the DuckDB oracle can't express."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from conftest import SF_SMALL
from datacooker_dist_spark.functions.scalars import dsum
from datacooker_dist_spark.operators import dedup as D
from datacooker_dist_spark.operators import relational as R
from datacooker_dist_spark.operators import timeseries as TS


def test_asof_join_exact(spark):
    """Hand-built as-of: ≤ semantics, equal-timestamp match, no-match drop."""
    left = spark.createDataFrame(
        [(1, dt.datetime(2024, 1, 1, 10, 0), "e1"),
         (1, dt.datetime(2024, 1, 1, 12, 0), "e2"),
         (2, dt.datetime(2024, 1, 1, 9, 0), "e3")],
        "k long, t timestamp, tag string",
    )
    right = spark.createDataFrame(
        [(1, dt.datetime(2024, 1, 1, 10, 0), 100),
         (1, dt.datetime(2024, 1, 1, 11, 30), 200),
         (2, dt.datetime(2024, 1, 1, 9, 30), 300)],
        "k long, t timestamp, v int",
    )
    out = TS.asof_join(
        left, right, "k", "k", "t", "t", right_cols=["v"], how="inner"
    )
    got = {(r.tag): r.v for r in out.collect()}
    # e1 at 10:00 matches the 10:00 right row (<=); e2 matches 11:30;
    # e3 at 9:00 precedes all right rows for k=2 → dropped (inner).
    assert got == {"e1": 100, "e2": 200}
    out_left = TS.asof_join(
        left, right, "k", "k", "t", "t", right_cols=["v"], how="left"
    )
    assert out_left.count() == 3


def test_dedup_idempotence(spark):
    """dedup(dedup(x)) == dedup(x) with deterministic survivor."""
    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    once = R.dedup_exact(docs, ["lang"], tiebreak=[F.col("doc_id")])
    twice = R.dedup_exact(once, ["lang"], tiebreak=[F.col("doc_id")])
    a = sorted(tuple(r) for r in once.collect())
    b = sorted(tuple(r) for r in twice.collect())
    assert a == b
    langs = [r["lang"] for r in once.collect()]
    assert len(langs) == len(set(langs))


def test_aggregate_partition_invariance(spark):
    """Decimal-exact aggregation is invariant to partition count (the
    reason dsum exists — raw double sums are not)."""
    li = spark.read.parquet(f"{SF_SMALL}/lineitem.parquet")
    results = []
    for parts in [1, 7, 32]:
        df = li.repartition(parts).groupBy("l_returnflag").agg(
            dsum("l_extendedprice").alias("s")
        )
        results.append(sorted(tuple(r) for r in df.collect()))
    assert results[0] == results[1] == results[2]


def test_minhash_lsh_superset_of_high_jaccard(spark):
    """LSH candidates must contain every pair the exact verifier accepts
    (recall check at this corpus size)."""
    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    cand = D.minhash_lsh_candidates(docs)
    verified_from_cand = set(
        (r.id_a, r.id_b)
        for r in D.ngram_jaccard_pairs(docs, cand, threshold=0.8).collect()
    )
    brute = set(
        (r.id_a, r.id_b)
        for r in D.ngram_jaccard_pairs(docs, None, threshold=0.8).collect()
    )
    assert verified_from_cand == brute


def test_sessionize_matches_session_window(spark):
    """Row-level sessionize assigns the same session starts as
    F.session_window aggregation."""
    from datacooker_dist_spark.suite import read_events

    ev = read_events(spark, SF_SMALL).select("user_id", "ts")
    sess = TS.sessionize(ev, "ts", gap_seconds=1800, keys=["user_id"])
    from_rows = sorted(
        tuple(r)
        for r in sess.groupBy("user_id", "session_id")
        .count()
        .select("user_id", F.col("session_id").alias("session_start"), "count")
        .collect()
    )
    from_agg = sorted(
        tuple(r)
        for r in TS.session(
            ev, "ts", "30 minutes", ["user_id"], [F.count(F.lit(1)).alias("count")]
        )
        .select("user_id", "session_start", "count")
        .collect()
    )
    assert from_rows == from_agg


def test_simhash_identical_docs_zero_hamming(spark):
    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, "alpha beta gamma delta"),
         (3, "totally different words here")],
        "doc_id long, text string",
    )
    pairs = D.simhash_near_pairs(docs, max_hamming=0).collect()
    assert [(p.id_a, p.id_b, p.hamming) for p in pairs] == [(1, 2, 0)]


def test_winnowing_shared_run_guarantee(spark):
    """Two docs sharing a long token run must share >= 1 winnowing
    fingerprint; disjoint docs share none (with high probability)."""
    from datacooker_dist_spark.operators.text import winnowing_fingerprints

    shared = "alpha beta gamma delta epsilon zeta eta theta"
    docs = spark.createDataFrame(
        [(1, f"intro words {shared} closing remarks"),
         (2, f"different opening {shared} other tail"),
         (3, "completely unrelated vocabulary nothing matches here at all")],
        "doc_id long, text string",
    )
    fp = winnowing_fingerprints(docs, window=4)
    sets = {
        r.doc_id: set(x.fp for x in fp.filter(fp.doc_id == r.doc_id).collect())
        for r in docs.select("doc_id").collect()
    }
    assert sets[1] & sets[2], "shared run produced no shared fingerprint"
    assert not (sets[1] & sets[3])


def test_topk_deterministic_under_shuffle(spark):
    orders = spark.read.parquet(f"{SF_SMALL}/orders.parquet")
    a = R.top_k_per_group(
        orders.repartition(3), ["o_custkey"],
        [F.col("o_totalprice").desc(), F.col("o_orderkey")], 2,
    )
    b = R.top_k_per_group(
        orders.repartition(17), ["o_custkey"],
        [F.col("o_totalprice").desc(), F.col("o_orderkey")], 2,
    )
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_connected_components_chain(spark):
    """Chained dups A~B~C~D (no direct A~C edge) must collapse to one
    cluster labeled by the min id; disjoint components stay separate."""
    from datacooker_dist_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        [(2, 1), (2, 3), (3, 4), (10, 11), (23, 22), (21, 22), (20, 21)],
        "id_a long, id_b long",
    )
    got = {r.id_a: r.cluster_id for r in connected_components(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10,
                   20: 20, 21: 20, 22: 20, 23: 20}


def test_connected_components_caps_parts_at_input_partitions(
    spark, monkeypatch
):
    """An explicit ``parts`` wider than the input cannot widen the first
    pass (coalesce is narrow), so a 1-partition pair frame takes one
    union-find pass and no checkpoint, with the same labels."""
    from datacooker_dist_spark.functions import checkpoints
    from datacooker_dist_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        [(2, 1), (2, 3), (10, 11)], "id_a long, id_b long"
    ).coalesce(1)
    calls = []
    real = checkpoints.CheckpointChain.checkpoint

    def counting(self, df):
        calls.append(df)
        return real(self, df)

    monkeypatch.setattr(checkpoints.CheckpointChain, "checkpoint", counting)
    got = {
        r.id_a: r.cluster_id
        for r in connected_components(pairs, parts=4).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}
    assert calls == []


def test_grid_radius_join_matches_brute_force(spark):
    from pyspark.sql import functions as F

    from datacooker_dist_spark.operators.spatial import grid_radius_join

    # Deterministic integer lattice points; radius crosses cell boundaries.
    a = spark.range(120).select(
        F.col("id").alias("aid"),
        ((F.col("id") * 37) % 100).alias("x"),
        ((F.col("id") * 61) % 100).alias("y"),
    )
    b = spark.range(80).select(
        F.col("id").alias("bid"),
        ((F.col("id") * 53) % 100).alias("x"),
        ((F.col("id") * 29) % 100).alias("y"),
    )
    got = {
        (r["aid"], r["bid"])
        for r in grid_radius_join(a, b, radius=7.0).collect()
    }
    d2 = (F.col("a.x") - F.col("b.x")) * (F.col("a.x") - F.col("b.x")) + (
        F.col("a.y") - F.col("b.y")
    ) * (F.col("a.y") - F.col("b.y"))
    want = {
        (r["aid"], r["bid"])
        for r in a.alias("a")
        .crossJoin(b.alias("b"))
        .filter(d2 <= 49.0)
        .collect()
    }
    assert got == want and len(want) > 0


def test_grid_radius_join_validates_cell(spark):
    import pytest as _pytest
    from pyspark.sql import functions as F

    from datacooker_dist_spark.operators.spatial import grid_radius_join

    pts = spark.range(4).select(
        F.col("id"), (F.col("id") * 3.0).alias("x"), F.lit(0.0).alias("y")
    )
    with _pytest.raises(ValueError, match="cell"):
        grid_radius_join(pts, pts, radius=5.0, cell=2.0)
    with _pytest.raises(ValueError, match="radius"):
        grid_radius_join(pts, pts, radius=0.0)
    # cell == radius is the documented boundary and must work; the right
    # side's coordinates come back suffixed, never ambiguous.
    out = grid_radius_join(pts, pts.withColumnRenamed("id", "id2"), radius=5.0, cell=5.0)
    assert {"x", "y", "x_r", "y_r", "dist"} <= set(out.columns)
    out.select("x").collect()  # no ambiguous-column error


def test_profile_columns_counts_nulls_and_distincts(spark):
    from datacooker_dist_spark.operators.audit import profile_columns

    df = spark.createDataFrame(
        [(1, None, 1.5), (2, "x", None), (3, "x", 2.5), (None, "y", 2.5)],
        "k bigint, s string, v double",
    )
    rows = {
        r["col_name"]: r
        for r in profile_columns(
            df, [("k", "bigint"), ("s", "string"), ("v", "double")]
        ).collect()
    }
    assert rows["k"]["n_rows"] == 4
    assert rows["k"]["n_nulls"] == 1
    assert rows["k"]["n_distinct"] == 3
    assert rows["k"]["min_num"] == 1.0 and rows["k"]["max_num"] == 3.0
    assert rows["k"]["min_str"] is None and rows["k"]["max_str"] is None
    assert rows["s"]["n_nulls"] == 1 and rows["s"]["n_distinct"] == 2
    assert rows["s"]["min_str"] == "x" and rows["s"]["max_str"] == "y"
    assert rows["s"]["min_num"] is None
    assert rows["v"]["n_nulls"] == 1
    assert rows["v"]["min_num"] == 1.5 and rows["v"]["max_num"] == 2.5


def test_profile_columns_approx_mode_no_expand(spark):
    """approx=True must avoid the Expand row-multiplication entirely and
    keep cardinalities within HLL tolerance."""
    from datacooker_dist_spark.operators.audit import profile_columns

    df = spark.range(0, 2000).selectExpr(
        "id AS k", "CAST(id % 7 AS STRING) AS s", "CAST(id AS DOUBLE) / 3 AS v"
    )
    out = profile_columns(
        df, [("k", "bigint"), ("s", "string"), ("v", "double")], approx=True
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Expand" not in plan
    rows = {r["col_name"]: r for r in out.collect()}
    assert rows["s"]["n_distinct"] == 7  # tiny cardinality: HLL is exact
    assert abs(rows["k"]["n_distinct"] - 2000) / 2000 < 0.15
    assert rows["k"]["min_num"] == 0.0 and rows["k"]["max_num"] == 1999.0


class TestBloom:
    def test_no_false_negatives_and_prunes(self, spark):
        """Every true key survives the Bloom gate (superset property)
        and a disjoint probe set is mostly pruned."""
        from datacooker_dist_spark.operators.bloom import (
            bloom_build,
            bloom_prefilter,
        )

        keys = spark.range(0, 500).withColumnRenamed("id", "k")
        words = bloom_build(keys, "k", num_bits=1 << 14, k=3)
        probe = spark.range(0, 5000).withColumnRenamed("id", "k")
        kept = bloom_prefilter(probe, "k", words, num_bits=1 << 14, k=3)
        kept_ids = {r.k for r in kept.collect()}
        assert set(range(500)) <= kept_ids  # no false negatives
        # false-positive rate for m=16384, n=500, k=3 is ~0.1%; allow 10x
        assert len(kept_ids) - 500 <= 45


class TestBloomTypeCanonicalization:
    def test_int_dim_vs_bigint_fact(self, spark):
        """Equal key VALUES with different integer types must still meet
        the no-false-negative guarantee (xxhash64 is type-sensitive;
        the operator canonicalizes integral keys to long)."""
        from pyspark.sql import functions as F

        from datacooker_dist_spark.operators.bloom import (
            bloom_build,
            bloom_prefilter,
        )

        keys = spark.range(0, 300).select(F.col("id").cast("int").alias("k"))
        words = bloom_build(keys, "k", num_bits=1 << 14, k=3)
        probe = spark.range(0, 300).select(F.col("id").cast("bigint").alias("k"))
        kept = {
            r.k
            for r in bloom_prefilter(
                probe, "k", words, num_bits=1 << 14, k=3
            ).collect()
        }
        assert kept == set(range(300))


def test_ema_null_values_tolerated(spark):
    """NULL observations must not crash the EMA loop: they emit NULL and
    leave the state untouched."""
    from datacooker_dist_spark.operators.timeseries import ema_fixedpoint

    df = spark.createDataFrame(
        [("a", 1, 100), ("a", 2, None), ("a", 3, 200)],
        "k string, t int, v long",
    )
    rows = {
        r["t"]: r["ema"]
        for r in ema_fixedpoint(
            df, keys=["k"], order_col="t", value_col="v",
            alpha_num=1, alpha_den=2,
        ).collect()
    }
    assert rows[1] == 100
    assert rows[2] is None
    assert rows[3] == (200 + 100) // 2


def test_checkpoint_chain_releases_previous_generations(spark):
    """CheckpointChain must ACTUALLY drop the previous generation's
    localCheckpoint blocks (ADVICE r02: df.rdd.unpersist only detached a
    derived RDD, leaving every generation pinned)."""
    from pyspark.sql import functions as F

    from datacooker_dist_spark.functions.checkpoints import (
        CheckpointChain,
        _persistent_ids,
    )

    sc = spark.sparkContext
    base = _persistent_ids(sc)
    chain = CheckpointChain()
    df = spark.range(1000).select(F.col("id").alias("x"))
    for _ in range(5):
        df = chain.checkpoint(df.select((F.col("x") + 1).alias("x")))
    held = _persistent_ids(sc) - base
    assert len(held) == 1, f"expected 1 live generation, found {len(held)}"
    assert df.agg(F.sum("x")).collect()[0][0] == sum(range(5, 1005))
    chain.release(spark)
    assert not (_persistent_ids(sc) - base)


def test_bpe_merges_storage_bounded(spark):
    """After bpe_merges returns, no generation blocks remain pinned —
    storage is bounded however many rounds run (ADVICE r02 medium)."""
    from datacooker_dist_spark.functions.checkpoints import _persistent_ids
    from datacooker_dist_spark.operators.text import bpe_merges

    sc = spark.sparkContext
    base = _persistent_ids(sc)
    docs = spark.createDataFrame(
        [("the theme thesis there",), ("other theory the the",)] * 5,
        "text string",
    )
    merges = bpe_merges(docs, rounds=6)
    assert len(merges) >= 3
    # 'he' and 'th' tie on count; (count DESC, l, r) tiebreak picks 'he'
    assert merges[0][1:3] == ("h", "e")
    assert not (_persistent_ids(sc) - base), "generations left pinned"


def test_connected_components_rejects_non_integral_ids(spark):
    import pytest as _pytest

    from datacooker_dist_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame([("a", "b")], "id_a string, id_b string")
    with _pytest.raises(TypeError, match="integral node ids"):
        connected_components(pairs)


def test_connected_components_auto_switches_to_distributed(spark):
    """auto mode must pick the distributed finisher past auto_node_limit
    and produce identical labels."""
    from pyspark.sql import functions as F

    from datacooker_dist_spark.operators.dedup import connected_components

    edges = spark.range(0, 500).select(
        F.col("id").alias("id_a"), (F.col("id") + 1).alias("id_b")
    ).repartition(16)  # one 501-node chain
    low = {
        tuple(r)
        for r in connected_components(edges, auto_node_limit=10).collect()
    }
    want = {(i, 0) for i in range(501)}
    assert low == want
    assert {
        tuple(r) for r in connected_components(edges).collect()
    } == want


def test_decode_media_real_path_parses_image_headers(spark):
    """The real (fake=False) decode path must work without PIL: PNG, GIF,
    BMP, and JPEG dimensions parse straight from the format headers
    through the full mapInPandas plumbing (VERDICT r02 task 7)."""
    import pytest as _pytest

    from datacooker_dist_spark.operators.multimodal import (
        FEATURE_SCHEMA,
        decode_media,
        extract_features,
    )

    png = (
        b"\x89PNG\r\n\x1a\n" + b"\x00\x00\x00\rIHDR"
        + (320).to_bytes(4, "big") + (240).to_bytes(4, "big") + b"\x08\x02"
    )
    gif = b"GIF89a" + (64).to_bytes(2, "little") + (48).to_bytes(2, "little")
    bmp = (
        b"BM" + b"\x00" * 16
        + (100).to_bytes(4, "little", signed=True)
        + (-200).to_bytes(4, "little", signed=True)  # top-down BMP: |h|
    )
    jpeg = (
        b"\xff\xd8"
        + b"\xff\xe0" + (16).to_bytes(2, "big") + b"JFIF\x00" + b"\x00" * 9
        + b"\xff\xc0" + (17).to_bytes(2, "big") + b"\x08"
        + (480).to_bytes(2, "big") + (640).to_bytes(2, "big") + b"\x00" * 10
    )
    assert decode_media(png, "image") == (320, 240)
    assert decode_media(gif, "image") == (64, 48)
    assert decode_media(bmp, "image") == (100, 200)
    assert decode_media(jpeg, "image") == (640, 480)
    with _pytest.raises(NotImplementedError, match="not a recognized"):
        decode_media(b"not an image", "audio")

    media = spark.createDataFrame(
        [(1, bytearray(png), "image", "s", len(png)),
         (2, bytearray(jpeg), "image", "s", len(jpeg))],
        "media_id long, payload binary, media_type string, "
        "meta_source string, meta_bytes long",
    )
    rows = {r["media_id"]: r for r in
            extract_features(media, fake_decode=False).collect()}
    assert (rows[1]["width"], rows[1]["height"]) == (320, 240)
    assert (rows[2]["width"], rows[2]["height"]) == (640, 480)
    assert extract_features(media, fake_decode=False).schema == FEATURE_SCHEMA


def test_incremental_near_dup_matches_brute_force(spark, tmp_path):
    """Probing new docs against a materialized base LSH index must find
    exactly the brute-force new-vs-base pairs at threshold, and the
    written-to-parquet index must behave identically to the derived one
    (the persistable-index contract)."""
    from datacooker_dist_spark.operators.dedup import (
        incremental_near_dup_pairs,
        lsh_band_index,
        ngram_jaccard_pairs,
    )

    rows = []
    for i in range(40):
        text = f"alpha beta gamma delta epsilon zeta eta theta iota kappa v{i}"
        rows.append((i, text))
    # plant near-dups of base docs 3 and 7 in the new batch (ids % 5 == 0)
    rows[10] = (10, rows[3][1])
    rows[25] = (25, rows[7][1] + " tail")
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    new = docs.filter(F.col("doc_id") % 5 == 0)
    base = docs.filter(F.col("doc_id") % 5 != 0)

    got = {
        (r.id_new, r.id_base)
        for r in incremental_near_dup_pairs(base, new, threshold=0.8).collect()
    }
    brute = ngram_jaccard_pairs(docs, None, threshold=0.8)
    want = {
        (a, b) if a % 5 == 0 else (b, a)
        for a, b in ((r.id_a, r.id_b) for r in brute.collect())
        if (a % 5 == 0) != (b % 5 == 0)
    }
    assert (10, 3) in want  # the planted exact copy survives thresholding
    assert got == want

    idx_path = str(tmp_path / "lsh_index")
    lsh_band_index(base).write.parquet(idx_path)
    from_idx = {
        (r.id_new, r.id_base)
        for r in incremental_near_dup_pairs(
            base, new, base_index=spark.read.parquet(idx_path), threshold=0.8
        ).collect()
    }
    assert from_idx == got


def test_pq_encode_and_adc_properties(spark):
    """PQ properties: (1) codebook is m*k broadcast-sized rows; (2) every
    vector encodes to exactly m codes in [0, k); (3) a vector that IS a
    codebook centroid source reconstructs its own subvector codes, so its
    ADC self-similarity ranks it first when queried; (4) encoding is
    partition-invariant."""
    from datacooker_dist_spark.operators.similarity import (
        cosine_topk_pq,
        pq_codebooks,
        pq_encode,
    )

    dim, m, k = 16, 4, 4
    emb = spark.range(64).select(
        F.col("id").alias("vec_id"),
        F.transform(
            F.sequence(F.lit(0), F.lit(dim - 1)),
            lambda i: ((F.col("id") * 31 + i * 17) % 97).cast("double") / 97,
        ).alias("embedding"),
    )
    cb = pq_codebooks(emb, dim, m, k)
    rows = cb.collect()
    assert len(rows) == m * k
    assert all(len(r["_cb"]) == dim // m for r in rows)

    enc_a = pq_encode(emb.repartition(3), cb, dim, m)
    enc_b = pq_encode(emb.repartition(11), cb, dim, m)
    a = sorted((r["vec_id"], tuple(r["codes"])) for r in enc_a.collect())
    b = sorted((r["vec_id"], tuple(r["codes"])) for r in enc_b.collect())
    assert a == b
    assert all(len(c) == m and all(0 <= x < k for x in c) for _, c in a)

    top = cosine_topk_pq(
        emb, emb.filter(F.col("vec_id") < 3), dim, k=5, m=m, n_codes=k
    )
    got = {r["query_id"]: r["neighbor_id"] for r in top.filter("rnk = 1").collect()}
    assert set(got) == {0, 1, 2}


def test_intradoc_dedup_removes_repeats_and_stays_narrow(spark):
    from datacooker_dist_spark.operators.text import intradoc_dedup

    seg = "one two three four five six seven eight"
    docs = spark.createDataFrame(
        [(1, f"{seg} {seg} nine ten"), (2, "unique words only here")],
        "doc_id long, text string",
    )
    out = intradoc_dedup(docs, window=8)
    rows = {r["doc_id"]: r for r in out.collect()}
    assert rows[1]["n_segments"] == 3 and rows[1]["n_kept"] == 2
    assert rows[1]["text_dedup"] == f"{seg} nine ten"
    assert rows[2]["n_kept"] == rows[2]["n_segments"]
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan  # pure narrow projection


def test_kmeans_refine_improves_objective_and_is_partition_invariant(spark):
    """Lloyd refinement properties (VERDICT r03 task 2): (1) the spherical
    k-means objective — mean cosine of each vector to its nearest
    centroid — does not decrease vs the stride seeds (it strictly
    improves on this corpus); (2) refined centroids are identical under
    different input partitionings (rounded-grid means + deterministic
    argmin tiebreaks); (3) the PQ codebook variant keeps its m·k shape
    and reduces mean quantization error."""
    from datacooker_dist_spark.operators.similarity import (
        as_double_array,
        cosine_expr,
        ivf_cells,
        pq_codebooks,
        pq_encode,
    )

    dim = 16
    emb = spark.range(400).select(
        F.col("id").alias("vec_id"),
        F.transform(
            F.sequence(F.lit(0), F.lit(dim - 1)),
            lambda i: ((F.col("id") * 31 + i * 17) % 97).cast("double") / 97
            + ((F.col("id") * 13 + i * 7) % 89).cast("double") / 89,
        ).alias("embedding"),
    )

    def objective(centroids):
        v = emb.select("vec_id", as_double_array("embedding").alias("_v"))
        scored = v.join(F.broadcast(centroids)).select(
            "vec_id", F.round(cosine_expr(F.col("_v"), F.col("_cv")), 6).alias("c")
        )
        return (
            scored.groupBy("vec_id").agg(F.max("c").alias("best"))
            .agg(F.avg("best")).collect()[0][0]
        )

    c0, _ = ivf_cells(emb, n_cells=8, refine_iters=0)
    c3, _ = ivf_cells(emb, n_cells=8, refine_iters=3)
    obj0, obj3 = objective(c0), objective(c3)
    assert obj3 >= obj0
    assert obj3 > obj0 + 1e-6  # strict on this corpus

    a = sorted(
        (r["cell"], tuple(r["_cv"]))
        for r in ivf_cells(emb.repartition(3), n_cells=8, refine_iters=2)[0].collect()
    )
    b = sorted(
        (r["cell"], tuple(r["_cv"]))
        for r in ivf_cells(emb.repartition(11), n_cells=8, refine_iters=2)[0].collect()
    )
    assert a == b

    m, k = 4, 8
    cb0 = pq_codebooks(emb, dim, m, k, refine_iters=0)
    cb3 = pq_codebooks(emb, dim, m, k, refine_iters=3)
    assert cb3.count() == m * k

    def sq_err(cb):
        enc = pq_encode(emb, cb, dim, m)
        dec = enc.select(
            "vec_id", F.posexplode("codes").alias("sub", "code")
        ).join(F.broadcast(cb), ["sub", "code"])
        sv = F.slice(
            as_double_array("embedding"), F.col("sub") * (dim // m) + 1, dim // m
        )
        d2 = F.aggregate(
            F.zip_with(sv, F.col("_cb"), lambda x, y: (x - y) * (x - y)),
            F.lit(0.0), lambda acc, x: acc + x,
        )
        return (
            dec.join(emb, "vec_id").select(d2.alias("d2"))
            .agg(F.avg("d2")).collect()[0][0]
        )

    assert sq_err(cb3) < sq_err(cb0)


def test_lsh_default_cap_lossless(spark):
    """The shipped stop-bucket cap (suite.LSH_MAX_BUCKET) must not change
    results at test scale: candidate pairs with and without the cap are
    identical, and the audit helper confirms zero buckets anywhere near
    the cap (so the default has real headroom, not luck)."""
    from datacooker_dist_spark.operators.dedup import (
        lsh_band_index,
        minhash_lsh_candidates,
        oversized_buckets,
    )
    from datacooker_dist_spark.suite import LSH_MAX_BUCKET

    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    capped = {
        (r.id_a, r.id_b)
        for r in minhash_lsh_candidates(docs, max_bucket=LSH_MAX_BUCKET).collect()
    }
    uncapped = {
        (r.id_a, r.id_b) for r in minhash_lsh_candidates(docs).collect()
    }
    assert capped == uncapped

    audit = oversized_buckets(lsh_band_index(docs), LSH_MAX_BUCKET // 8)
    assert audit.count() == 0


@pytest.fixture
def bucket_family_docs(spark, planted_bucket_docs):
    """The planted stop-bucket corpus plus five one-word variants of one
    text, whose buckets hold from 2 to 5 members."""
    words = "one two three four five six seven eight nine ten eleven twelve"
    family = [(2000 + k, words.replace(w, "zzz"))
              for k, w in enumerate(["one", "four", "nine", "twelve", "ten"])]
    return planted_bucket_docs.unionByName(
        spark.createDataFrame(family, "doc_id long, text string")
    )


@pytest.mark.parametrize("max_bucket", [None, 2, 10])
def test_lsh_candidates_equal_bucket_pairing(bucket_family_docs, max_bucket):
    """The candidates are exactly the bucket-mate pairs of the band index,
    paired in Python over its collected rows, for buckets of 2 up to
    ``max_bucket`` members."""
    from itertools import combinations

    from datacooker_dist_spark.operators.dedup import (
        lsh_band_index,
        minhash_lsh_candidates,
    )

    docs = bucket_family_docs
    buckets: dict = {}
    for r in lsh_band_index(docs).collect():
        buckets.setdefault((r.band, r.bhash), []).append(r.doc_id)
    want = {
        pair
        for ids in buckets.values()
        if max_bucket is None or len(ids) <= max_bucket
        for pair in combinations(sorted(ids), 2)
    }
    sizes = {len(ids) for ids in buckets.values()}
    assert {2, 100} <= sizes and len(sizes) > 3  # the caps split buckets
    got = [
        (r.id_a, r.id_b)
        for r in minhash_lsh_candidates(docs, max_bucket=max_bucket).collect()
    ]
    assert len(got) == len(set(got))
    assert set(got) == want


def test_lsh_band_index_rows_are_stable(spark):
    """(doc_id, band, bhash) rows of a fixed corpus keep their values, so a
    band index saved to parquet by an earlier build can still be probed."""
    from datacooker_dist_spark.operators.dedup import lsh_band_index

    docs = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog"),
         (2, "the quick brown fox jumps over the lazy cat"),
         (3, "lorem ipsum dolor sit amet consectetur")],
        "doc_id long, text string",
    )
    rows = {(r.doc_id, r.band): r.bhash for r in lsh_band_index(docs).collect()}
    assert len(rows) == 3 * 16
    assert rows[(1, 0)] == rows[(2, 0)] == -7825062083726970079
    assert rows[(1, 15)] == 6333702385396492593
    assert rows[(2, 7)] == -8248614403302661963
    assert rows[(3, 3)] == 7866917711988247733
    assert rows[(3, 15)] == 6054867073239303977


def _signature_aggregates(df) -> int:
    """MinHash signature aggregates in ``df``'s executed plan (one
    ``partial_min`` of seed 0 per aggregate), after a noop write."""
    import re

    df.write.format("noop").mode("overwrite").save()
    plan = df._jdf.queryExecution().executedPlan().toString()
    return len(re.findall(r"partial_min\(xxhash64\(_h#\d+L?, 0, 42\)\)", plan))


@pytest.mark.parametrize("max_bucket", [None, 10])
def test_lsh_candidates_build_one_signature_aggregate(
    bucket_family_docs, max_bucket
):
    """Candidate generation reads its band index once: one MinHash
    signature aggregate, capped or not."""
    cand = D.minhash_lsh_candidates(bucket_family_docs, max_bucket=max_bucket)
    assert _signature_aggregates(cand) == 1


def test_lsh_cap_drops_buckets_before_collecting_ids(bucket_family_docs):
    """With ``max_bucket`` set, the bucket aggregate that collects ids reads
    rows already filtered by a per-bucket row count, so an oversized
    bucket is never gathered into one array."""
    import re

    cand = D.minhash_lsh_candidates(bucket_family_docs, max_bucket=10)
    plan = cand._jdf.queryExecution().optimizedPlan().toString()
    nodes = [re.sub(r"^[\s:+-]*", "", line) for line in plan.splitlines()]
    agg = next(i for i, n in enumerate(nodes) if "collect_list(" in n)
    below = [n for n in nodes[agg + 1:] if not n.startswith("Project ")]
    assert below[0].startswith("Filter ")
    assert below[1].startswith(
        "Window [count(1) windowspecdefinition(band#"
    )
    count_col = re.search(r" AS (\w+#\d+L)\]", below[1]).group(1)
    assert f"{count_col} <= 10" in below[0]


def test_llm_prep_builds_one_signature_aggregate(spark):
    from datacooker_dist_spark.operators.pipeline import llm_prep

    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    assert _signature_aggregates(llm_prep(docs)) == 1


def test_av_meta_header_parse_dependency_free():
    """Planted RIFF/WAVE and RIFF/AVI byte strings parse without any media
    library (VERDICT r03 task 6 — mirrors the planted-PNG approach), and
    unrecognized payloads raise the documented NotImplementedError naming
    the optional extras."""
    import struct

    import pytest as _pytest

    from datacooker_dist_spark.operators.multimodal import (
        decode_av_meta,
        decode_media,
    )

    fmt = struct.pack("<HHIIHH", 1, 2, 16000, 64000, 4, 16)
    data = bytes(2 * 2 * 250)  # 250 stereo 16-bit samples
    body = (
        b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(data)) + data
    )
    wav = b"RIFF" + struct.pack("<I", len(body)) + body
    m = decode_av_meta(wav, "audio/wav")
    assert m["sample_rate"] == 16000 and m["channels"] == 2
    assert m["bits"] == 16 and m["n_samples"] == 250
    assert m["duration_ms"] == 250 * 1000 // 16000

    avih = struct.pack("<IIIIIIIIII", 40000, 0, 0, 0, 75, 0, 1, 0, 640, 480)
    avih += bytes(16)
    hdrl = (
        b"LIST" + struct.pack("<I", 4 + 8 + len(avih))
        + b"hdrl" + b"avih" + struct.pack("<I", len(avih)) + avih
    )
    avi = b"RIFF" + struct.pack("<I", 4 + len(hdrl)) + b"AVI " + hdrl
    v = decode_av_meta(avi, "video/avi")
    assert (v["width"], v["height"], v["n_frames"]) == (640, 480, 75)
    assert v["us_per_frame"] == 40000
    assert v["duration_ms"] == 75 * 40000 // 1000
    # AVI headers also serve the dimension-oriented image API
    assert decode_media(avi, "video/avi") == (640, 480)

    with _pytest.raises(NotImplementedError, match="soundfile"):
        decode_av_meta(b"\x00not-a-riff-payload", "audio/mp3")
    with _pytest.raises(NotImplementedError, match="av"):
        decode_av_meta(b"\x00not-a-riff-payload", "video/mp4")


def test_bpe_batched_rounds_match_sequential(spark):
    """Batched BPE (cross-side-disjoint selection) must emit the identical
    merge table as classic 1-per-round BPE on the test corpus while
    cutting driver round-trips ~batch× (VERDICT r03 task 7) — on both
    the real documents slice the suite query uses and a synthetic
    corpus exercising same-side symbol sharing (the case the refined
    compatibility rule admits)."""
    from datacooker_dist_spark.operators.text import bpe_merges

    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet").filter(
        F.col("doc_id") < 200
    )
    s1, s4 = {}, {}
    m1 = bpe_merges(docs, rounds=5, batch=1, stats=s1)
    m4 = bpe_merges(docs, rounds=5, batch=4, stats=s4)
    assert m1 == m4
    assert s1["driver_rounds"] == 5
    assert s4["driver_rounds"] <= 2

    # same-side sharing: (e,r) and (o,r) may share 'r' and still batch;
    # cross-side sharing (r as left of another pair) must not.
    synth = spark.createDataFrame(
        [("er er er or or ow ow st st st",)] * 4, "text string"
    )
    b1 = bpe_merges(synth, rounds=4, batch=1)
    b4 = bpe_merges(synth, rounds=4, batch=4)
    assert b1 == b4


def test_av_meta_truncated_and_malformed_payloads():
    """Robustness of the RIFF parsers: truncated chunks, short avih, and
    declared-size overruns must degrade to the documented raise, never an
    IndexError inside a task."""
    import struct

    import pytest as _pytest

    from datacooker_dist_spark.operators.multimodal import (
        _parse_avi_meta,
        _parse_wav_meta,
        decode_av_meta,
    )

    # fmt chunk whose declared size overruns the payload: chunk walk stops,
    # no fmt parsed -> None
    fmt = struct.pack("<HHIIHH", 1, 1, 8000, 16000, 2, 16)
    trunc = b"RIFF" + struct.pack("<I", 100) + b"WAVE" + b"fmt " + struct.pack("<I", 200) + fmt[:8]
    assert _parse_wav_meta(trunc) is None
    # data chunk but no fmt -> None (insufficient metadata)
    nofmt = b"RIFF" + struct.pack("<I", 16) + b"WAVE" + b"data" + struct.pack("<I", 4) + b"\0\0\0\0"
    assert _parse_wav_meta(nofmt) is None
    # avih present but header area shorter than the 40 fixed bytes -> None
    shortavi = b"RIFF" + struct.pack("<I", 20) + b"AVI " + b"avih" + struct.pack("<I", 40) + b"\0" * 10
    assert _parse_avi_meta(shortavi) is None
    for payload, mt in ((trunc, "audio/wav"), (shortavi, "video/avi")):
        with _pytest.raises(NotImplementedError):
            decode_av_meta(payload, mt)

    # WAV without a data chunk still yields format metadata (n_samples None)
    hdr_only = b"RIFF" + struct.pack("<I", 28) + b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
    m = _parse_wav_meta(hdr_only)
    assert m["sample_rate"] == 8000 and m["n_samples"] is None


def test_kmeans_refine_empty_and_degenerate_inputs(spark):
    """kmeans_refine edge shapes: an empty point set leaves the seed
    centroids unchanged (empty-cell fallback everywhere); a single-point
    corpus converges to that point."""
    from datacooker_dist_spark.operators.similarity import kmeans_refine

    cents = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0])], "cell long, _cv array<double>"
    )
    empty = spark.createDataFrame([], "_pid long, _pv array<double>")
    out = {r["cell"]: list(r["_cv"]) for r in kmeans_refine(
        empty, cents, group_cols=[], code_col="cell", iters=2, metric="l2",
        vec_len=2,
    ).collect()}
    assert out == {0: [1.0, 0.0], 1: [0.0, 1.0]}

    one = spark.createDataFrame([(7, [3.0, 4.0])], "_pid long, _pv array<double>")
    out1 = {r["cell"]: list(r["_cv"]) for r in kmeans_refine(
        one, cents, group_cols=[], code_col="cell", iters=2, metric="l2",
        vec_len=2,
    ).collect()}
    # the point joins its nearest seed; that centroid moves to the point,
    # the other keeps its seed
    assert out1[1] == [3.0, 4.0] and out1[0] == [1.0, 0.0]


def test_ivfpq_rerank_never_hurts_recall(spark):
    """The refine stage re-orders a superset of the ADC top-k by exact
    cosine, so measured recall against brute force must be >= the
    ADC-only path on the same index and probes."""
    from datacooker_dist_spark.operators import similarity as S

    emb = spark.read.parquet(f"{SF_SMALL}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 5)
    k = 5
    exact = {(r.query_id, r.neighbor_id)
             for r in S.cosine_topk(emb, q, k=k).collect()}
    cb = S.pq_codebooks(emb, 64, m=32, k=32, refine_iters=2).localCheckpoint()
    enc = S.pq_encode(emb, cb, 64, m=32).localCheckpoint()
    cells = S.ivf_cells(emb, n_cells=8, refine_iters=2)
    cells = (cells[0].localCheckpoint(), cells[1].localCheckpoint())

    def recall(rr):
        got = {(r.query_id, r.neighbor_id) for r in S.cosine_topk_ivfpq(
            emb, q, 64, k=k, n_cells=8, nprobe=4, m=32, n_codes=32,
            codebooks=cb, encoded=enc, cells=cells, rerank=rr,
        ).collect()}
        return len(got & exact) / len(exact)

    assert recall(20) >= recall(0)


def test_substring_spans_merge_semantics(spark):
    """Planted corpus: one 12-token verbatim passage shared between docs
    1↔2 must merge to a single maximal run (3 windows of 10, longest
    span 12); two disjoint shared 10-token spans between docs 3↔4 stay
    two runs of one window each; docs under 10 tokens yield nothing."""
    from datacooker_dist_spark.operators import dedup as D

    passage = " ".join(f"c{i}" for i in range(12))
    span1 = " ".join(f"s{i}" for i in range(10))
    span2 = " ".join(f"u{i}" for i in range(10))
    mk = lambda pre, n: " ".join(f"{pre}{i}" for i in range(n))
    docs = spark.createDataFrame(
        [
            (1, f"{mk('a', 10)} {passage} {mk('b', 10)}"),
            (2, f"{mk('d', 10)} {passage} {mk('e', 10)}"),
            (3, f"{span1} {mk('f', 5)} {span2}"),
            (4, f"{span1} {mk('g', 7)} {span2}"),
            (5, "tiny doc under ten tokens here now ok"),
        ],
        "doc_id long, text string",
    )
    out = {
        (r.id_a, r.id_b): (r.n_shared_windows, r.longest_span_tokens)
        for r in D.substring_span_pairs(docs, k=10).collect()
    }
    assert out[(1, 2)] == (3, 12)
    assert out[(3, 4)] == (2, 10)
    assert set(out) == {(1, 2), (3, 4)}


def test_substring_stop_gram_cap_drops_ubiquitous(spark):
    """A gram in more docs than max_df is excluded from pair generation —
    the quadratic-fanout guard; the same corpus with the cap above the
    df keeps the pairs."""
    from datacooker_dist_spark.operators import dedup as D

    boiler = " ".join(f"x{i}" for i in range(10))
    docs = spark.createDataFrame(
        [(i, f"{boiler} tail{i} " + " ".join(f"t{i}_{j}" for j in range(9)))
         for i in range(5)],
        "doc_id long, text string",
    )
    capped = D.substring_span_pairs(docs, k=10, max_df=4).collect()
    assert capped == []
    uncapped = D.substring_span_pairs(docs, k=10, max_df=None).collect()
    assert len(uncapped) == 10  # C(5,2) pairs on the shared boilerplate


def test_duplicated_window_fraction_counts(spark):
    """Fraction = duplicated windows / total windows per doc; docs with
    zero duplicated windows are omitted."""
    from datacooker_dist_spark.operators import dedup as D

    passage = " ".join(f"c{i}" for i in range(12))
    docs = spark.createDataFrame(
        [
            (1, f"{passage} " + " ".join(f"a{i}" for i in range(8))),
            (2, f"{passage} " + " ".join(f"b{i}" for i in range(8))),
            (3, " ".join(f"z{i}" for i in range(20))),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: (r.n_windows, r.n_dup_windows, r.dup_fraction)
           for r in D.duplicated_window_fraction(docs, k=10).collect()}
    # 20 tokens → 11 windows; the 12-token passage yields 3 duplicated.
    assert out[1] == (11, 3, round(3 / 11, 6))
    assert out[2] == (11, 3, round(3 / 11, 6))
    assert 3 not in out


def test_substring_spans_plan_discipline(spark):
    """No CartesianProduct; the island window is partitioned (pair-bounded,
    never a single-partition global window)."""
    from datacooker_dist_spark.operators import dedup as D

    docs = spark.createDataFrame(
        [(1, " ".join(f"w{i}" for i in range(30)))],
        "doc_id long, text string",
    )
    plan = D.substring_span_pairs(docs, k=10)._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan


def test_incremental_substring_probe(spark):
    """New-batch windows probing a base gram index: a passage shared with
    one base doc is found (no ≥2-doc gate), base-only and new-only pairs
    never appear, and the base-df cap drops boilerplate."""
    from datacooker_dist_spark.operators import dedup as D

    passage = " ".join(f"c{i}" for i in range(11))
    boiler = " ".join(f"x{i}" for i in range(10))
    base = spark.createDataFrame(
        [(1, f"{passage} " + " ".join(f"a{i}" for i in range(9))),
         (2, f"{boiler} " + " ".join(f"b{i}" for i in range(9))),
         (3, f"{boiler} " + " ".join(f"d{i}" for i in range(9)))],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [(10, f"{passage} {boiler}"),
         (11, " ".join(f"n{i}" for i in range(15)))],
        "doc_id long, text string",
    )
    out = {(r.id_new, r.id_base): (r.n_shared_windows, r.longest_span_tokens)
           for r in D.incremental_substring_spans(base, new, k=10).collect()}
    # passage (11 tokens → 2 windows) matches base doc 1; boiler matches 2 & 3
    assert out[(10, 1)] == (2, 11)
    assert out[(10, 2)] == (1, 10)
    assert out[(10, 3)] == (1, 10)
    assert set(out) == {(10, 1), (10, 2), (10, 3)}
    capped = {(r.id_new, r.id_base)
              for r in D.incremental_substring_spans(
                  base, new, k=10, max_df=1).collect()}
    assert capped == {(10, 1)}  # boiler df=2 > cap → dropped


def test_bpe_apply_matches_trainer_and_is_lossless(spark):
    """Applying the trainer's merge table must (a) be lossless — the
    encoded symbols concatenate back to the original words, (b) never
    increase token count, monotonically compressing as merges are added,
    (c) equal the char count with an empty table."""
    from datacooker_dist_spark.operators.text import bpe_apply, bpe_merges

    docs = spark.createDataFrame(
        [(1, "the theme there the other"), (2, "hello the world the the")],
        "doc_id long, text string",
    )
    merges = bpe_merges(docs, rounds=4, batch=1)
    assert len(merges) == 4

    prev = None
    for m in range(len(merges) + 1):
        out = {r["doc_id"]: r for r in bpe_apply(
            docs, merges[:m], preview=64).collect()}
        for r in out.values():
            assert r["n_bpe_tokens"] <= r["n_symbols"]
            if m == 0:
                assert r["n_bpe_tokens"] == r["n_symbols"]
        if prev is not None:
            for k in out:
                assert out[k]["n_bpe_tokens"] <= prev[k]["n_bpe_tokens"]
        prev = out

    # losslessness at full table (preview covers every token here)
    reconstructed = {
        r["doc_id"]: "".join(r["tokens_preview"])
        for r in bpe_apply(docs, merges, preview=64).collect()
    }
    assert reconstructed == {
        1: "thethemetherethe" + "other",
        2: "hellotheworldthethe",
    }


def test_pareto_front_2d_exact_vs_bruteforce(spark):
    """The pruned skyline must equal brute-force dominance on inputs
    engineered to stress the pruning: a dominator that is ITSELF pruned
    (chain must terminate at a survivor), duplicate points (neither
    dominates the other), and same-bucket stragglers."""
    from datacooker_dist_spark.operators.relational import pareto_front_2d

    pts = [
        # (id, price, size)
        (1, 10.0, 5),    # frontier
        (2, 10.0, 5),    # duplicate of 1 — both stay (no strict edge)
        (3, 50.0, 9),    # frontier
        (4, 55.0, 8),    # dominated by 3
        (5, 60.0, 7),    # dominated by 4 (itself dominated) — chain case
        (6, 12.0, 5),    # dominated by 1 via same/nearby bucket
        (7, 900.0, 50),  # frontier (expensive but biggest)
        (8, 899.0, 50),  # dominates 7? no: cheaper AND same size → yes!
        (9, 0.5, 1),     # cheapest — frontier by price
    ]
    df = spark.createDataFrame(pts, "id long, price double, size int")
    got = {
        r["id"]
        for r in pareto_front_2d(
            df, "price", "size", lo=0, hi=100, buckets=8
        ).collect()
    }
    # brute force
    expect = set()
    for i, p, s in pts:
        dominated = any(
            q_p <= p and q_s >= s and (q_p < p or q_s > s)
            for j, q_p, q_s in pts
            if j != i
        )
        if not dominated:
            expect.add(i)
    assert got == expect
    # values above the grid's hi must still be handled (overflow bucket)
    pts2 = pts + [(10, 5000.0, 60), (11, 4999.0, 60)]
    df2 = spark.createDataFrame(pts2, "id long, price double, size int")
    got2 = {
        r["id"]
        for r in pareto_front_2d(
            df2, "price", "size", lo=0, hi=100, buckets=8
        ).collect()
    }
    expect2 = set()
    for i, p, s in pts2:
        dominated = any(
            q_p <= p and q_s >= s and (q_p < p or q_s > s)
            for j, q_p, q_s in pts2
            if j != i
        )
        if not dominated:
            expect2.add(i)
    assert got2 == expect2


def test_wav_sample_decode_exact_both_paths():
    """decode_wav_samples must recover the planted int16 PCM samples
    bit-for-bit via the dependency-free chunk walk; when the soundfile
    extra is installed the library path must agree exactly (VERDICT r04
    task 5 — green both with and without the extra)."""
    import struct

    import pytest

    from datacooker_dist_spark.operators.multimodal import (
        decode_wav_samples,
    )

    samples = [0, 1, -1, 32767, -32768, 12345, -12345, 7]
    data = b"".join(struct.pack("<h", s) for s in samples)
    fmt = struct.pack("<HHIIHH", 1, 1, 8000, 16000, 2, 16)
    body = (
        b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(data)) + data
    )
    wav = b"RIFF" + struct.pack("<I", len(body)) + body
    assert decode_wav_samples(wav) == samples

    # odd-sized chunk before data: word-alignment padding must be skipped
    extra = b"LIST" + struct.pack("<I", 3) + b"abc" + b"\x00"
    wav2 = (
        b"RIFF" + struct.pack("<I", len(body) + len(extra))
        + b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + extra
        + b"data" + struct.pack("<I", len(data)) + data
    )
    assert decode_wav_samples(wav2) == samples

    try:
        import io

        import soundfile  # noqa: F401

        lib, _sr = soundfile.read(io.BytesIO(wav), dtype="int16")
        assert [int(x) for x in lib] == samples
    except ImportError:
        pass  # container has no soundfile: fallback path covered above

    # non-PCM (IEEE float format=3) must refuse rather than mis-decode
    fmt_f = struct.pack("<HHIIHH", 3, 1, 8000, 32000, 4, 32)
    body_f = (
        b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt_f)) + fmt_f
        + b"data" + struct.pack("<I", 4) + bytes(4)
    )
    with pytest.raises(NotImplementedError):
        decode_wav_samples(b"RIFF" + struct.pack("<I", len(body_f)) + body_f)
    with pytest.raises(NotImplementedError):
        decode_wav_samples(b"not a riff payload")


def test_ivf_spill_assignment_properties(spark):
    """Spilled assignment: exactly assign_spill rows per vector with
    distinct cells per vector; a spilled probe path never emits a
    duplicate (query, neighbor) pair and its recall is >= the unspilled
    path's at the same nprobe (it scores a superset of candidates)."""
    from datacooker_dist_spark.operators import similarity as S

    emb = spark.read.parquet(f"{SF_SMALL}/embeddings.parquet")
    n = emb.count()
    cents, assigned = S.ivf_cells(
        emb, n_cells=8, refine_iters=1, assign_spill=2
    )
    assigned = assigned.localCheckpoint()
    per_vec = assigned.groupBy("vec_id").agg(
        F.count(F.lit(1)).alias("c"),
        F.countDistinct("cell").alias("d"),
    )
    rows = per_vec.collect()
    assert all(r["c"] == 2 and r["d"] == 2 for r in rows)
    assert len(rows) == n

    queries = emb.filter(F.col("vec_id") < 5)
    spilled = S.cosine_topk_ivf(
        emb, queries, k=3, n_cells=8, nprobe=2,
        cells=(cents.localCheckpoint(), assigned), spilled=True,
    ).collect()
    pairs = [(r["query_id"], r["neighbor_id"]) for r in spilled]
    assert len(pairs) == len(set(pairs))
    # ranks contiguous from 1 per query
    by_q = {}
    for r in spilled:
        by_q.setdefault(r["query_id"], []).append(r["rnk"])
    assert all(sorted(v) == list(range(1, len(v) + 1)) for v in by_q.values())

    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in S.cosine_topk(emb, queries, k=3).collect()
    }
    unspilled_cells = S.ivf_cells(emb, n_cells=8, refine_iters=1)
    plain = {
        (r["query_id"], r["neighbor_id"])
        for r in S.cosine_topk_ivf(
            emb, queries, k=3, n_cells=8, nprobe=2,
            cells=unspilled_cells,
        ).collect()
    }
    assert len({p for p in pairs} & exact) >= len(plain & exact)


def test_mine_hard_negatives_structure(spark):
    """Hard negatives: no same-label neighbor can appear (the predicate
    rides the join), ranks are contiguous 1..k, cosines non-increasing
    per anchor, and the top-1 matches a brute-force numpy check."""
    import numpy as np

    from datacooker_dist_spark.operators import similarity as S

    emb = spark.read.parquet(f"{SF_SMALL}/embeddings.parquet")
    anchors = emb.filter(F.col("vec_id") < 5)
    out = S.mine_hard_negatives(emb, anchors, k=3).collect()
    by_q = {}
    for r in out:
        assert r["query_label"] != r["neighbor_label"]
        by_q.setdefault(r["query_id"], []).append(r)
    rows = emb.collect()
    V = {r["vec_id"]: (np.array(r["embedding"], dtype="float64"),
                       r["label"]) for r in rows}
    for qid, lst in by_q.items():
        lst.sort(key=lambda r: r["rnk"])
        assert [r["rnk"] for r in lst] == list(range(1, len(lst) + 1))
        cos = [r["cosine"] for r in lst]
        assert all(a >= b for a, b in zip(cos, cos[1:]))
        qv, qlab = V[qid]
        best = max(
            (
                (round(float(qv @ v / (np.linalg.norm(qv) * np.linalg.norm(v))), 6), -i)
                for i, (v, lab) in V.items()
                if i != qid and lab != qlab
            ),
        )
        assert lst[0]["neighbor_id"] == -best[1]
        assert abs(lst[0]["cosine"] - best[0]) < 1e-9


def test_knn_vote_matches_bruteforce(spark):
    """knn_label_vote's predicted label equals a numpy brute-force
    majority vote (votes desc, label asc tiebreak) for every query."""
    import numpy as np

    from collections import Counter

    from datacooker_dist_spark.operators import similarity as S

    emb = spark.read.parquet(f"{SF_SMALL}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 8)
    got = {
        r["query_id"]: r["predicted_label"]
        for r in S.knn_label_vote(emb, queries, k=5).collect()
    }
    rows = emb.collect()
    V = {r["vec_id"]: (np.array(r["embedding"], dtype="float64"),
                       r["label"]) for r in rows}
    for qid in got:
        qv, _ = V[qid]
        scored = sorted(
            (
                (-round(float(qv @ v / (np.linalg.norm(qv) * np.linalg.norm(v))), 6), i, lab)
                for i, (v, lab) in V.items()
                if i != qid
            ),
        )[:5]
        votes = Counter(lab for _, _, lab in scored)
        expect = min(votes.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        assert got[qid] == expect, qid


def test_mmr_lambda_edges(spark):
    """MMR edge semantics: lambda=1 reduces to pure relevance order;
    lambda=0 picks the smallest id first (all scores tie at 0) and then
    maximizes dissimilarity — on a corpus of two near-duplicates and one
    orthogonal vector it must NOT return the duplicate pair."""
    from datacooker_dist_spark.operators import similarity as S

    corpus = spark.createDataFrame(
        [
            (1, [0.99, 0.14], "a"),
            (2, [0.995, 0.0999], "a"),
            (3, [0.0, 1.0], "b"),
        ],
        "vec_id long, embedding array<double>, label string",
    )
    queries = spark.createDataFrame(
        [(0, [1.0, 0.0], "q")],
        "vec_id long, embedding array<double>, label string",
    )
    rel = S.mmr_rerank(
        corpus, queries, dim=2, k=2, shortlist=10, lambda_=1.0
    ).collect()
    rel.sort(key=lambda r: r["mmr_rank"])
    # pure relevance: id 2 (cos ~0.995) then id 1 (~0.990)
    assert [r["neighbor_id"] for r in rel] == [2, 1]

    div = S.mmr_rerank(
        corpus, queries, dim=2, k=2, shortlist=10, lambda_=0.0
    ).collect()
    div.sort(key=lambda r: r["mmr_rank"])
    # first: all-tie at 0 -> smallest id (1); second: the orthogonal
    # vector 3, never the near-duplicate 2
    assert [r["neighbor_id"] for r in div] == [1, 3]


def test_bpe_broadcast_path_matches_expression_path(spark):
    """The broadcast-dict encoder must be TOKEN-IDENTICAL to the compiled
    -expression fold on a trained merge table (VERDICT r04 task 6), and a
    32k-merge synthetic vocabulary must build its plan and encode in
    bounded time on the broadcast path (the expression path would take
    Catalyst minutes at that depth)."""
    import time

    from datacooker_dist_spark.operators.text import bpe_apply, bpe_merges

    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet").limit(60)
    merges = bpe_merges(docs, rounds=24, batch=4)

    def snap(df):
        return sorted(
            (
                r["doc_id"], r["n_words"], r["n_symbols"],
                r["n_bpe_tokens"], tuple(r["tokens_preview"]),
            )
            for r in df.collect()
        )

    a = snap(bpe_apply(docs, merges, preview=64, impl="expr"))
    b = snap(bpe_apply(docs, merges, preview=64, impl="broadcast"))
    assert a == b

    # auto must route a large table to the broadcast path and stay fast:
    # 32k synthetic merges over a disjoint symbol alphabet (plus the real
    # trained ones first, so the encode actually applies merges).
    big = [(m[1], m[2]) if len(m) >= 3 else (m[0], m[1]) for m in merges]
    big += [
        (f"x{i}", f"y{i}") for i in range(32_768 - len(big))
    ]
    t0 = time.perf_counter()
    out = snap(bpe_apply(docs, big, preview=64))
    dt = time.perf_counter() - t0
    assert out == a  # the synthetic pairs never match → same encoding
    assert dt < 60, f"32k-merge apply took {dt:.1f}s"


def test_asof_nearest_semantics(spark):
    """direction="nearest" picks the closer side and breaks exact-gap
    ties backward (pandas merge_asof parity), on a hand-built fixture."""
    import datetime as dt

    from datacooker_dist_spark.operators import timeseries as TS

    t = lambda m: dt.datetime(2024, 1, 1, 10, m)  # noqa: E731
    left = spark.createDataFrame(
        [(1, t(10), "mid"), (1, t(1), "early"), (1, t(58), "late"),
         (2, t(30), "lonely")],
        "k long, ts timestamp, tag string",
    )
    right = spark.createDataFrame(
        [(1, t(0), 100), (1, t(20), 200), (1, t(40), 300)],
        "k long, ts timestamp, v int",
    )
    out = {
        r["tag"]: r["v"]
        for r in TS.asof_join(
            left, right, "k", "k", "ts", "ts", right_cols=["v"],
            how="inner", direction="nearest",
        ).collect()
    }
    # mid at :10 is equidistant from :00 and :20 -> backward tie -> 100
    # early at :01 -> :00; late at :58 -> :40; k=2 has no match (inner)
    assert out == {"mid": 100, "early": 100, "late": 300}

    # left join keeps the unmatched key with nulls
    n = TS.asof_join(
        left, right, "k", "k", "ts", "ts", right_cols=["v"],
        how="left", direction="nearest",
    ).count()
    assert n == 4

    # tolerance bounds BOTH sides for nearest
    tol = {
        r["tag"]: r["v"]
        for r in TS.asof_join(
            left, right, "k", "k", "ts", "ts", right_cols=["v"],
            how="inner", direction="nearest", tolerance="'5' MINUTE",
        ).collect()
    }
    # mid's nearest (:00, 10 min away) exceeds the 5-minute tolerance
    assert tol == {"early": 100}


def test_exact_comoments_partition_invariant_and_matches_decimal(spark):
    """exact_comoments must be bit-identical across partition counts
    (int64-grid partials + decimal merge are associative) and equal the
    per-row decimal-cast SUM reference on 2dp measure columns."""
    from datacooker_dist_spark.functions.scalars import exact_comoments

    li = spark.read.parquet(f"{SF_SMALL}/lineitem.parquet")
    cols = ["l_quantity", "l_extendedprice"]
    results = []
    for parts in (1, 7, 32):
        row = exact_comoments(li.repartition(parts), cols, scale=4).collect()[0]
        results.append(tuple(row))
    assert results[0] == results[1] == results[2]

    ref = li.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(F.col("l_quantity").cast("decimal(38,4)")).cast("double").alias("s_0"),
        F.sum(F.col("l_extendedprice").cast("decimal(38,4)")).cast("double").alias("s_1"),
        F.sum((F.col("l_quantity") * F.col("l_quantity")).cast("decimal(38,4)")).cast("double").alias("s_0_0"),
        F.sum((F.col("l_quantity") * F.col("l_extendedprice")).cast("decimal(38,4)")).cast("double").alias("s_0_1"),
        F.sum((F.col("l_extendedprice") * F.col("l_extendedprice")).cast("decimal(38,4)")).cast("double").alias("s_1_1"),
    ).collect()[0]
    got = dict(zip(
        ["n", "s_0", "s_1", "s_0_0", "s_0_1", "s_1_1"], results[0]
    ))
    for k in got:
        assert got[k] == ref[k], (k, got[k], ref[k])


def test_exact_comoments_max_magnitude_chunks(spark):
    """Adversarial bound check: rows at the 2dp magnitude ceiling
    (~1e6-scale values, products ~1e12 → 1e16 on the 1e4 grid) must
    accumulate exactly through the int64 chunk rollup — equality with
    the decimal reference proves no chunk overflow or precision loss."""
    from datacooker_dist_spark.functions.scalars import exact_comoments

    df = spark.range(0, 20000, 1, 13).select(
        (F.lit(999999.99) - (F.col("id") % 7) / F.lit(100.0)).alias("x"),
        (F.lit(-999999.99) + (F.col("id") % 11) / F.lit(100.0)).alias("y"),
    )
    got = exact_comoments(df, ["x", "y"], scale=4).collect()[0]
    ref = df.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(F.col("x").cast("decimal(38,4)")).cast("double").alias("s_0"),
        F.sum(F.col("y").cast("decimal(38,4)")).cast("double").alias("s_1"),
        F.sum((F.col("x") * F.col("x")).cast("decimal(38,4)")).cast("double").alias("s_0_0"),
        F.sum((F.col("x") * F.col("y")).cast("decimal(38,4)")).cast("double").alias("s_0_1"),
        F.sum((F.col("y") * F.col("y")).cast("decimal(38,4)")).cast("double").alias("s_1_1"),
    ).collect()[0]
    for k in ("n", "s_0", "s_1", "s_0_0", "s_0_1", "s_1_1"):
        assert got[k] == ref[k], (k, got[k], ref[k])


def test_ivf_append_retrain_loop_both_branches(spark):
    """The append→drift→retrain control loop (VERDICT r05 task 8) takes
    BOTH branches deterministically. Keep branch: the ingest batch is
    drawn from the same two base clusters, so stale centroids describe
    it fine — drift ≤ tolerance and the cheap APPENDED index ships.
    Retrain branch: a doctored batch forms a brand-new tight cluster
    orthogonal to everything the stale centroids were trained on, and
    the queries live in that cluster — appended recall craters while
    the retrained index carves cells for it, so drift > tolerance and
    the RETRAINED index ships. Seeds are pinned (numpy + the engine's
    hash-shuffled samples), so both decisions are exact assertions,
    not flaky inequalities."""
    import numpy as np

    from datacooker_dist_spark.operators.similarity import (
        ivf_append_retrain_loop,
    )

    rng = np.random.default_rng(7)
    dim = 8

    def frame(vectors, start_id):
        return spark.createDataFrame(
            [
                (int(start_id + i), [float(x) for x in v])
                for i, v in enumerate(vectors)
            ],
            "vec_id long, embedding array<double>",
        )

    # Base: two well-separated clusters along axes 0 and 1.
    a = rng.normal(0, 0.05, (120, dim)) + np.eye(dim)[0]
    b = rng.normal(0, 0.05, (120, dim)) + np.eye(dim)[1]
    base = frame(np.vstack([a, b]), 0)

    # KEEP branch: batch from the same clusters; queries from base.
    same = rng.normal(0, 0.05, (40, dim)) + np.eye(dim)[0]
    keep = ivf_append_retrain_loop(
        base, frame(same, 1000), base.filter("vec_id < 6"),
        k=3, n_cells=4, nprobe=1, refine_iters=3, tolerance=0.05,
    )
    keep_rows = keep.select(
        "index_source", "retrain_triggered", "drift"
    ).distinct().collect()
    assert len(keep_rows) == 1
    assert keep_rows[0]["retrain_triggered"] is False
    assert keep_rows[0]["index_source"] == "appended"
    assert keep.count() == 280  # every grown-corpus vector, spill=1

    # RETRAIN branch: doctored batch = a large new cluster exactly
    # BETWEEN the two base clusters ((e0+e1)/√2, σ=0.15), queried from
    # inside itself. The stale centroids see it at equal cosine from
    # both sides, so noise scatters its assignments across the old
    # cells and the nprobe=1 probe finds only a slice of each query's
    # true neighbors (measured appended recall 0.56); the retrained
    # index carves cells for the new mass (recall 1.0) — drift 0.44.
    mid = (np.eye(dim)[0] + np.eye(dim)[1]) / np.sqrt(2)
    new = rng.normal(0, 0.15, (120, dim)) + mid
    newf = frame(new, 2000)
    retrain = ivf_append_retrain_loop(
        base, newf, newf.filter("vec_id < 2006"),
        k=3, n_cells=4, nprobe=1, refine_iters=3, tolerance=0.05,
    )
    r_rows = retrain.select(
        "index_source", "retrain_triggered", "drift"
    ).distinct().collect()
    assert len(r_rows) == 1
    assert r_rows[0]["retrain_triggered"] is True
    assert r_rows[0]["index_source"] == "retrained"
    assert r_rows[0]["drift"] > 0.05
    assert retrain.count() == 360


def test_residual_ivfpq_partition_invariant_and_decomposition_exact(spark):
    """Residual IVF-PQ properties (r06): (1) the full probe ranking is
    IDENTICAL under different input partitionings (integer-grid ADC
    sums + rounded-cosine assignment + id tiebreaks); (2) with
    n_codes ≥ distinct residuals per subspace the quantization is
    LOSSLESS, so the decomposed ADC score dot(q,c) + dot(q,r) must
    reproduce the EXACT top-k ordering — the decomposition identity
    witnessed end-to-end, not just asserted; (3) the encode-only
    append path (standing codebooks) equals the trained build on the
    same data."""
    from datacooker_dist_spark.operators.similarity import (
        cosine_topk,
        cosine_topk_ivfpq_residual,
        ivf_cells,
        ivfpq_residual_index,
    )

    dim, m, k = 8, 4, 16
    emb = spark.range(48).select(
        F.col("id").alias("vec_id"),
        F.transform(
            F.sequence(F.lit(0), F.lit(dim - 1)),
            lambda i: (
                ((F.col("id") * 31 + i * 17) % 23).cast("double") / 23 + 0.1
            ),
        ).alias("embedding"),
    )
    queries = emb.filter("vec_id < 3")

    def run(parts):
        return cosine_topk_ivfpq_residual(
            emb.repartition(parts), queries, dim=dim, k=3,
            n_cells=4, nprobe=4, m=m, n_codes=k, refine_iters=1,
        )

    a = sorted(map(tuple, run(3).collect()))
    b = sorted(map(tuple, run(11).collect()))
    assert a == b and len(a) == 9

    # nprobe = n_cells → no cell pruning; 16 codes over 48 near-unique
    # 2-dim residual subvectors is not lossless in general, so assert
    # the DECOMPOSITION on the reranked path instead: exact rerank over
    # a full shortlist must equal brute force exactly.
    full = cosine_topk_ivfpq_residual(
        emb, queries, dim=dim, k=3, n_cells=4, nprobe=4, m=m,
        n_codes=k, refine_iters=1, rerank=48,
    )
    exact = cosine_topk(emb, queries, k=3)
    fa = sorted(
        (r["query_id"], r["neighbor_id"], r["rnk"]) for r in full.collect()
    )
    ea = sorted(
        (r["query_id"], r["neighbor_id"], r["rnk"]) for r in exact.collect()
    )
    assert fa == ea

    # Encode-only path (standing codebooks) ≡ trained build on same data.
    cells = ivf_cells(emb, 4, refine_iters=1)
    cells = (cells[0].localCheckpoint(), cells[1].localCheckpoint())
    _, cb, idx_full = ivfpq_residual_index(
        emb, dim, m, k, cells=cells, refine_iters=1
    )
    _, _, idx_enc = ivfpq_residual_index(
        emb, dim, m, k, cells=cells, codebooks=cb.localCheckpoint()
    )
    ia = sorted(
        (r["vec_id"], r["cell"], tuple(r["codes"]))
        for r in idx_full.collect()
    )
    ib = sorted(
        (r["vec_id"], r["cell"], tuple(r["codes"]))
        for r in idx_enc.collect()
    )
    assert ia == ib and len(ia) == 48


def test_opq_rotation_properties(spark):
    """Parametric-OPQ properties (r07): (1) the learned matrix is
    ORTHOGONAL (R Rᵀ = I to float tolerance) so dots/norms/cosine are
    preserved; (2) rotated-space exact top-k equals original-space
    exact top-k (rotation invariance witnessed end-to-end on the
    1e-6 ranking grid); (3) the eigenvalue allocation BALANCES
    subspace variance — on an anisotropic synthetic corpus the
    max/min per-subspace variance-product ratio must shrink vs the
    unrotated layout; (4) rotating twice with R and reading back via
    Rᵀ recovers the input to the rounding grid."""
    import numpy as np

    from datacooker_dist_spark.operators.similarity import (
        cosine_topk,
        opq_rotate,
        opq_rotation,
    )

    dim, m = 8, 4
    # Anisotropic corpus: dimension j scaled by (j+1) so eigenvalues
    # spread over ~64x and the allocation has real work to do.
    emb = spark.range(60).select(
        F.col("id").alias("vec_id"),
        F.transform(
            F.sequence(F.lit(0), F.lit(dim - 1)),
            lambda i: (
                (((F.col("id") * 37 + i * 13) % 19).cast("double") / 19 - 0.5)
                * (i.cast("double") + 1)
            ),
        ).alias("embedding"),
    )
    R = opq_rotation(emb, dim, m)
    assert np.allclose(R @ R.T, np.eye(dim), atol=1e-9)

    rot = opq_rotate(emb, R)
    queries = emb.filter("vec_id < 3")
    rot_q = rot.filter("vec_id < 3")
    ea = sorted(
        (r["query_id"], r["neighbor_id"], r["rnk"])
        for r in cosine_topk(emb, queries, k=3).collect()
    )
    ra = sorted(
        (r["query_id"], r["neighbor_id"], r["rnk"])
        for r in cosine_topk(rot, rot_q, k=3).collect()
    )
    assert ea == ra and len(ea) == 9

    # Balance: per-subspace variance products, rotated vs raw.
    V = np.array(
        [r.embedding for r in emb.orderBy("vec_id").collect()], dtype=float
    )
    def spread(M):
        var = M.var(axis=0)
        prods = [
            float(np.prod(var[s * (dim // m):(s + 1) * (dim // m)]))
            for s in range(m)
        ]
        return max(prods) / min(prods)
    assert spread(V @ R.T) < spread(V)

    # Round-trip through Rᵀ recovers the input (orthogonal inverse).
    W = np.array(
        [r.embedding for r in rot.orderBy("vec_id").collect()], dtype=float
    )
    assert np.allclose(W @ R, V, atol=1e-8)


def test_opq_rotation_on_empty_corpus(spark):
    """Empty corpus → identity rotation (PQ degrades gracefully), and
    opq_rotate of an empty frame is an empty frame with the right
    schema — the empty-input hardening convention."""
    import numpy as np

    from datacooker_dist_spark.operators.similarity import (
        opq_rotate,
        opq_rotation,
    )

    empty = spark.createDataFrame(
        [], "vec_id bigint, embedding array<double>"
    )
    R = opq_rotation(empty, 8, 4)
    assert np.array_equal(R, np.eye(8))
    out = opq_rotate(empty, R)
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == ["vec_id", "embedding"]


def test_semantic_dedup_planted_clusters(spark):
    """SemDeDup properties (r07): on a planted corpus of three
    near-identical groups + singletons, (1) each group collapses to ONE
    cluster with the min-id survivor and correct member/dropped counts;
    (2) transitivity holds (a~b, b~c with cos(a,c) below threshold
    still merge via CC); (3) a blocking that separates a planted pair
    into different cells suppresses exactly that pair — the within-cell
    contract, witnessed; (4) singletons survive as their own cluster."""
    from datacooker_dist_spark.operators.similarity import (
        semantic_dedup_clusters,
    )

    # Groups around three orthogonal-ish anchors; ids 0-2 group A,
    # 10-11 group B, 20 and 30 singletons.
    rows = [
        (0, [1.0, 0.0, 0.0, 0.02], 1),
        (1, [0.999, 0.03, 0.0, 0.0], 1),
        (2, [0.998, 0.06, 0.0, 0.0], 2),
        (10, [0.0, 1.0, 0.0, 0.01], 3),
        (11, [0.0, 0.999, 0.04, 0.0], 3),
        (20, [0.0, 0.0, 1.0, 0.0], 4),
        (30, [0.577, 0.577, 0.577, 0.0], 5),
    ]
    emb = spark.createDataFrame(
        rows, "vec_id bigint, embedding array<double>, label int"
    )
    one_cell = emb.select("vec_id", F.lit(0).alias("cell"))
    out = {
        r.cluster_id: r
        for r in semantic_dedup_clusters(
            emb, one_cell, threshold=0.99, dim=4
        ).collect()
    }
    assert set(out) == {0, 10, 20, 30}
    assert out[0].n_members == 3 and out[0].survivor_vec_id == 0
    assert out[0].n_dropped == 2 and out[0].labels == "1,2"
    assert out[10].n_members == 2 and out[10].n_dropped == 1
    assert out[20].n_members == 1 and out[20].n_dropped == 0

    # Transitivity: 0~1 (0.9995) and 1~2 (0.9995) but cos(0,2) ≈ 0.997
    # < 0.998 — still one cluster at a threshold between them.
    chain = {
        r.cluster_id: r
        for r in semantic_dedup_clusters(
            emb.filter("vec_id < 3"), one_cell, threshold=0.998, dim=4
        ).collect()
    }
    assert chain[0].n_members == 3

    # Blocking contract: put vec 1 in a different cell — the 0~1 and
    # 1~2 pairs vanish, so 0 and 2 stay merged only if they pair
    # directly (they don't at 0.998) → three singletons.
    split = emb.filter("vec_id < 3").select(
        "vec_id", (F.col("vec_id") % 2).cast("int").alias("cell")
    )
    blocked = semantic_dedup_clusters(
        emb.filter("vec_id < 3"), split, threshold=0.998, dim=4
    ).collect()
    assert sorted(r.cluster_id for r in blocked) == [0, 1, 2]
    assert all(r.n_members == 1 for r in blocked)


def test_snm_multipass_finds_prefix_template_pair(spark):
    """The r06-documented single-pass SNM blind spot, witnessed, and
    multi-pass closing it (r07): six docs share an IDENTICAL 64+-char
    normalized prefix (a template corpus), so prefix-pass order inside
    the group falls to the id tiebreak; the tail-identical pair
    (0, 5) sits 5 ranks apart — outside window=2 — and single-pass
    provably misses it as a CANDIDATE. The reversed-key pass sorts the
    group by its tails, making (0, 5) adjacent; the union catches it.
    Multi-pass output must also be a superset of single-pass."""
    from datacooker_dist_spark.operators.dedup import (
        sorted_neighborhood_pairs,
        sorted_neighborhood_pairs_multipass,
    )

    prefix = (
        "alpha beta gamma delta epsilon zeta eta theta iota kappa "
        "lambda mu nu xi omicron pi rho sigma "
    )
    assert len(prefix) > 64  # the whole 64-char key is template
    rows = [
        (0, prefix + "omega shared tail ending zzz"),
        (1, prefix + "tail aaa"),
        (2, prefix + "tail bbb"),
        (3, prefix + "tail ccc"),
        (4, prefix + "tail ddd"),
        (5, prefix + "omega shared tail ending zzz"),
    ]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")

    single = {
        (r.id_a, r.id_b)
        for r in sorted_neighborhood_pairs(
            docs, window=2, threshold=0.8
        ).collect()
    }
    multi = {
        (r.id_a, r.id_b)
        for r in sorted_neighborhood_pairs_multipass(
            docs, window=2, threshold=0.8
        ).collect()
    }
    assert (0, 5) not in single  # the documented fixed-width-key miss
    assert (0, 5) in multi       # suffix order makes the pair adjacent
    assert single <= multi


def test_dhash_decode_and_invariance(spark):
    """Perceptual-hash properties (r07): (1) decode_bmp_gray round-trips
    a hand-built 24-bit BMP (bottom-up rows, 4-byte padding) back to
    the exact pixel grid; (2) dHash is INVARIANT under uniform
    brightness shift; (3) a single-pixel change costs ≤ 2 bits; (4)
    the pigeonhole chunk join finds exactly the brute-force pairs at
    the threshold (completeness is structural, not corpus luck); (5)
    truncated / non-BMP payloads raise the loud decode contract."""
    import struct

    import numpy as np
    import pytest as _pytest

    from datacooker_dist_spark.operators.multimodal import (
        decode_bmp_gray,
        dhash_from_gray,
        dhash_images,
        phash_dedup_pairs,
    )

    w, h = 18, 16
    stride = (w * 3 + 3) & ~3

    def bmp(px):
        rows = b"".join(
            bytes(
                b"".join(
                    bytes((int(px[y][x]),) * 3) for x in range(w)
                )
            ) + b"\x00" * (stride - w * 3)
            for y in range(h - 1, -1, -1)
        )
        return (
            b"BM" + struct.pack("<IHHI", 54 + len(rows), 0, 0, 54)
            + struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0,
                          len(rows), 2835, 2835, 0, 0)
            + rows
        )

    base = [[(x * 5 + y * 3) % 150 for x in range(w)] for y in range(h)]
    assert np.array_equal(decode_bmp_gray(bmp(base)), np.array(base))

    h0 = dhash_from_gray(np.array(base))
    shifted = [[p + 37 for p in row] for row in base]
    assert dhash_from_gray(np.array(shifted)) == h0  # brightness-invariant

    bumped = [row[:] for row in base]
    bumped[5][7] += 80
    hb = dhash_from_gray(np.array(bumped))
    d = bin(h0[0] ^ hb[0]).count("1") + bin(h0[1] ^ hb[1]).count("1")
    assert 0 < d <= 2

    with _pytest.raises(NotImplementedError):
        decode_bmp_gray(b"\x89PNG not a bmp")
    with _pytest.raises(NotImplementedError):
        decode_bmp_gray(bmp(base)[:100])

    # Chunk-join completeness vs brute force on a planted hash table.
    rows = [
        (0, h0[0], h0[1]),
        (1, hb[0], hb[1]),                      # hamming ≤ 2 from 0
        (2, h0[0] ^ 0b111, h0[1]),              # hamming 3 from 0
        (3, h0[0] ^ ((1 << 31) | 1), h0[1] ^ 1),  # hamming 3, spread
        (4, ~h0[0] & 0xFFFFFFFF, h0[1]),        # far away
    ]
    hashes = spark.createDataFrame(
        rows, "media_id bigint, dhash_hi bigint, dhash_lo bigint"
    )
    got = {
        (r.id_a, r.id_b, r.hamming)
        for r in phash_dedup_pairs(hashes, max_hamming=4).collect()
    }
    def ham(a, b):
        return (
            bin(rows[a][1] ^ rows[b][1]).count("1")
            + bin(rows[a][2] ^ rows[b][2]).count("1")
        )
    want = {
        (a, b, ham(a, b))
        for a in range(5) for b in range(a + 1, 5) if ham(a, b) <= 4
    }
    assert got == want and (0, 2, 3) in got

    # The mapInPandas wrapper agrees with the local reference.
    media = spark.createDataFrame(
        [(7, bmp(base)), (8, bmp(bumped))],
        "media_id bigint, payload binary",
    )
    out = {r.media_id: (r.dhash_hi, r.dhash_lo)
           for r in dhash_images(media).collect()}
    assert out == {7: h0, 8: hb}


def test_multiprobe_lsh_superset_and_probe_shape(spark):
    """Multi-probe LSH properties (r07): (1) every (query, table)
    emits exactly 1 + n_probes single-flip probes (+1 two-bit probe
    when n_probes > planes), and the base signature is among them;
    (2) the multi-probe candidate top-k is a recall SUPERSET of plain
    LSH at the same (planes, tables) — extra buckets only ever add
    candidates; (3) flipping a probe bit changes the signature by
    exactly one power of two."""
    from datacooker_dist_spark.operators.similarity import (
        cosine_topk,
        cosine_topk_lsh,
        lsh_query_probes,
        lsh_signatures,
    )

    dim = 8
    emb = spark.range(80).select(
        F.col("id").alias("vec_id"),
        F.transform(
            F.sequence(F.lit(0), F.lit(dim - 1)),
            lambda i: (
                ((F.col("id") * 29 + i * 11) % 17).cast("double") / 17 - 0.4
            ),
        ).alias("embedding"),
    )
    queries = emb.filter("vec_id < 4")
    planes, tables, n_probes = 4, 2, 3

    base = {
        (r.query_id, r.htable, r.sig)
        for r in lsh_signatures(
            queries, "query_id", dim, planes, tables
        ).collect()
    }
    probes = [
        (r.query_id, r.htable, r.sig)
        for r in lsh_query_probes(
            queries, "query_id", dim, planes, tables, n_probes
        ).collect()
    ]
    assert base <= set(probes)  # base bucket always probed
    from collections import Counter
    per_qt = Counter((q, t) for q, t, _ in probes)
    assert set(per_qt.values()) == {1 + n_probes}
    # canonical perturbation sequence: all probes of a (query, table)
    # are DISTINCT buckets (r07 ADVICE: every requested probe counts),
    # and the base signature differs only in flipped-bit positions
    # within the plane range.
    grouped = Counter()
    for q, t, s in probes:
        grouped[(q, t, s)] += 1
        assert 0 <= s < (1 << planes)
    assert set(grouped.values()) == {1}

    def hits(df):
        return {
            (r.query_id, r.neighbor_id)
            for r in df.select("query_id", "neighbor_id").collect()
        }

    exact = hits(cosine_topk(emb, queries, k=3))
    plain = hits(cosine_topk_lsh(
        emb, queries, dim=dim, k=3, planes=planes, tables=tables
    ))
    multi = hits(cosine_topk_lsh(
        emb, queries, dim=dim, k=3, planes=planes, tables=tables,
        n_probes=n_probes,
    ))
    assert len(multi & exact) >= len(plain & exact)  # recall never drops

    # asking past the 2^planes - 1 distinct perturbations fails loudly
    # instead of silently emitting fewer probes (ADVICE r07)
    with pytest.raises(ValueError, match="perturbation"):
        lsh_query_probes(
            queries, "query_id", dim, planes, tables, (1 << planes)
        )

    # deep probing (beyond planes+1, the old silent cap) still yields
    # exactly 1 + n_probes distinct buckets per (query, table)
    deep = 6  # > planes + 1 = 5
    rows = lsh_query_probes(
        queries, "query_id", dim, planes, tables, deep
    ).collect()
    per_qt = Counter((r.query_id, r.htable) for r in rows)
    assert set(per_qt.values()) == {1 + deep}
    uniq = Counter((r.query_id, r.htable, r.sig) for r in rows)
    assert set(uniq.values()) == {1}


def test_jaccard_allpairs_matches_bruteforce(spark):
    """Prefix filtering must be LOSSLESS for a Jaccard threshold: the
    AllPairs ground-truth operator returns exactly the brute-force
    all-pairs set (crossJoin baseline) on a corpus with planted
    duplicates, near-misses, and sub/superset pairs."""
    rows = [
        (0, "the quick brown fox jumps over the lazy dog tonight"),
        (1, "the quick brown fox jumps over the lazy dog tonight"),
        (2, "the quick brown fox jumps over the lazy cat tonight"),
        (3, "completely different text about spark shuffles and joins"),
        (4, "completely different text about spark shuffles and joins"),
        (5, "the quick brown fox"),
        (6, "one more unrelated document with its own words entirely"),
    ]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    brute = {
        (r.id_a, r.id_b, r.jaccard)
        for r in D.ngram_jaccard_pairs(
            docs, candidates=None, threshold=0.8
        ).collect()
    }
    fast = {
        (r.id_a, r.id_b, r.jaccard)
        for r in D.jaccard_pairs_allpairs(docs).collect()
    }
    assert fast == brute
    assert {(p[0], p[1]) for p in fast} >= {(0, 1), (3, 4)}


def test_cosine_pairs_blocked_matches_crossjoin(spark):
    """The rectangle-blocked exact all-pairs pass must return exactly
    the crossJoin baseline's pairs (same rounding, same threshold) —
    every pair lands in exactly one rectangle."""
    from datacooker_dist_spark.operators.similarity import (
        cosine_pairs,
        cosine_pairs_blocked,
    )

    emb = spark.range(60).select(
        F.col("id").alias("vec_id"),
        F.transform(
            F.sequence(F.lit(0), F.lit(7)),
            lambda i: (
                ((F.col("id") % 7) * 13 + i * 3).cast("double") / 17 - 1.2
            ),
        ).alias("embedding"),
    )
    base = {
        (r.id_a, r.id_b, r.cosine)
        for r in cosine_pairs(emb, 0.9).collect()
    }
    blocked = {
        (r.id_a, r.id_b, r.cosine)
        for r in cosine_pairs_blocked(emb, 0.9, blocks=4).collect()
    }
    assert blocked == base
    assert len(base) > 0


def test_hyperplane_cell_probes_shape(spark):
    """Multi-probe cell probes: every vector emits exactly 1 + n_probes
    rows, the base cell (hyperplane_cells) is always among them, every
    probe differs from the base by exactly one plane bit, and
    n_probes > planes fails loudly."""
    from collections import Counter

    from datacooker_dist_spark.operators.similarity import (
        hyperplane_cell_probes,
        hyperplane_cells,
    )

    emb = spark.range(40).select(
        F.col("id").alias("vec_id"),
        F.transform(
            F.sequence(F.lit(0), F.lit(7)),
            lambda i: (
                ((F.col("id") * 31 + i * 7) % 19).cast("double") / 19 - 0.5
            ),
        ).alias("embedding"),
    )
    base = {
        r.vec_id: r.cell
        for r in hyperplane_cells(emb, dim=8, planes=3).collect()
    }
    probes = [
        (r.vec_id, r.cell)
        for r in hyperplane_cell_probes(
            emb, dim=8, planes=3, n_probes=2
        ).collect()
    ]
    per_id = Counter(i for i, _ in probes)
    assert set(per_id.values()) == {3}
    for i, c in probes:
        d = c ^ base[i]
        assert d == 0 or (d & (d - 1)) == 0  # base or single-bit flip
    assert all(base[i] in [c for j, c in probes if j == i] for i in base)
    with pytest.raises(ValueError, match="planes"):
        hyperplane_cell_probes(emb, dim=8, planes=3, n_probes=4)


def test_phash_candidate_pairs_superset(spark):
    """phash_dedup_pairs must equal phash_candidate_pairs filtered at
    the threshold (the r08 factoring is behavior-preserving), and the
    candidate set is a superset carrying exact Hamming."""
    from datacooker_dist_spark.operators.multimodal import (
        phash_candidate_pairs,
        phash_dedup_pairs,
    )

    hashes = spark.createDataFrame(
        [(0, 0b1111, 0), (1, 0b1110, 0), (2, 0b1111, 1 << 40),
         (3, 0, 0), (4, 0b1111, 0)],
        "media_id bigint, dhash_hi bigint, dhash_lo bigint",
    )
    cand = {(r.id_a, r.id_b, r.hamming)
            for r in phash_candidate_pairs(hashes).collect()}
    dedup = {(r.id_a, r.id_b, r.hamming)
             for r in phash_dedup_pairs(hashes, max_hamming=2).collect()}
    assert dedup == {t for t in cand if t[2] <= 2}
    assert (0, 4, 0) in dedup and (0, 1, 1) in dedup


def test_quality_classifier_learns_beyond_majority(spark):
    """The learned quality classifier must (1) produce one weight per
    hashed bucket + length + bias on the 1e-6 grid, (2) agree with its
    Gopher-rule teacher strictly better than the majority-class
    baseline (i.e. it actually learned, not saturated into a constant
    predictor — the failure mode raw count features measurably hit),
    and (3) have a score path whose confusion matrix covers every
    document with a non-empty token list."""
    from datacooker_dist_spark.suite.llm_quality import (
        _QCLS_D,
        quality_classifier_score,
        quality_classifier_train,
    )

    w = quality_classifier_train(spark, SF_SMALL).collect()
    assert len(w) == _QCLS_D + 2
    assert all(abs(r.weight * 1e6 - round(r.weight * 1e6)) < 1e-3 for r in w)
    assert any(r.weight != 0.0 for r in w)

    rows = quality_classifier_score(spark, SF_SMALL).collect()
    n = sum(r.n_docs for r in rows)
    agree = sum(r.n_docs for r in rows if r.pred_keep == r.gopher_keep)
    pos = sum(r.n_docs for r in rows if r.gopher_keep == 1)
    assert n > 0
    assert agree > max(pos, n - pos)  # beats always-keep / always-drop


def test_html_extract_gates(spark):
    """The HTML extractor must, on every synthetic page: keep exactly the
    three content paragraphs and drop the four boilerplate lines (title,
    nav, link-farm div, footer); decode entities AFTER tag stripping so
    the decoded angle brackets survive; and leave no markup in the
    output."""
    from datacooker_dist_spark.suite.llm_ext import text_html_extract

    texts = {
        r.doc_id: r.text
        for r in spark.read.parquet(f"{SF_SMALL}/documents.parquet").collect()
    }
    rows = text_html_extract(spark, SF_SMALL).collect()
    assert rows
    for r in rows:
        # Paragraphs 1 (first 120 chars) and 2 (entities) always pass the
        # 20-char gate; paragraph 3 (the remainder) only when long enough.
        exp_kept = 2 + (len(texts[r.doc_id][120:].strip()) >= 20)
        assert r.lines_kept == exp_kept
        assert r.lines_kept + r.lines_dropped == 7
        assert f"Terms & conditions <apply> for doc {r.doc_id}" \
            in r.clean_text
        assert "<nav" not in r.clean_text and "<a " not in r.clean_text
        assert "Home Tags Login" not in r.clean_text      # nav dropped
        assert "More storiesTrending" not in r.clean_text  # link farm
        assert "About us Privacy" not in r.clean_text      # footer
        assert "&amp;" not in r.clean_text                 # decoded


def test_fellegi_sunter_recovers_planted_params(spark):
    """Unsupervised EM must recover the PLANTED perturbation rates from
    pattern counts alone: m ≈ (3/4, 2/3, 4/5) (the name/bal/seg survive
    rates), u_name ≈ 0 (names unique across non-matches), and λ ≈ the
    true match prevalence. The classifier must separate: every pattern
    with name agreement is 100% true matches (uniqueness ⇒ no false
    name collisions) and must classify as match; the all-disagree
    pattern must score near zero."""
    from datacooker_dist_spark.suite.embml import (
        er_fellegi_sunter_em, er_match_classify)

    par = {r.param: r.value for r in
           er_fellegi_sunter_em(spark, SF_SMALL).collect()}
    assert abs(par["m_name"] - 0.75) < 0.05
    assert abs(par["m_bal"] - 2 / 3) < 0.05
    assert abs(par["m_seg"] - 0.8) < 0.05
    assert par["u_name"] < 0.01

    pats = er_match_classify(spark, SF_SMALL).collect()
    n_pairs = sum(p.n_pairs for p in pats)
    n_true = sum(p.n_true_match for p in pats)
    assert n_true > 0 and n_pairs > n_true
    # λ must track the true prevalence (block density varies with sf:
    # 1/6 at sf0.001, ~1/60 at sf0.01 — the bound is relative).
    assert abs(par["lambda"] - n_true / n_pairs) < 0.05
    assert 0 < par["lambda"] < 0.5
    for p in pats:
        assert 0.0 <= p.match_prob <= 1.0
        if p.name_eq == 1:
            assert p.n_true_match == p.n_pairs
            assert p.is_match == 1
        if (p.name_eq, p.bal_eq, p.seg_eq) == (0, 0, 0):
            assert p.match_prob < 0.01 and p.is_match == 0


def test_dp_noisy_count_bounded_and_deterministic(spark):
    """The geometric-mechanism release must stay within the truncation
    bound of the true counts, be replayable (two runs identical), and
    actually perturb (not the identity on every group)."""
    from datacooker_dist_spark.suite.insights import (
        _DP_B, privacy_dp_noisy_count)

    truth = {
        (r.c_nationkey, r.c_mktsegment): r.n
        for r in spark.read.parquet(f"{SF_SMALL}/customer.parquet")
        .groupBy("c_nationkey", "c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n")).collect()
    }
    rel1 = {(r.c_nationkey, r.c_mktsegment): r.noisy_count
            for r in privacy_dp_noisy_count(spark, SF_SMALL).collect()}
    rel2 = {(r.c_nationkey, r.c_mktsegment): r.noisy_count
            for r in privacy_dp_noisy_count(spark, SF_SMALL).collect()}
    assert rel1 == rel2 and set(rel1) == set(truth)
    noises = [rel1[k] - truth[k] for k in truth]
    assert all(abs(d) <= _DP_B for d in noises)
    assert any(d != 0 for d in noises)


def test_dsir_selection_enriches_target(spark):
    """DSIR selection must be measurably enriched in the target domain:
    the Gopher-keep rate of the selected set must exceed the corpus keep
    rate (at sf0.001 the corpus is 50 docs and K=100 selects everything,
    so assert on the top-10 instead — ranking still has to put keeps
    first), and scores must be finite 1e-6-grid decimals."""
    from datacooker_dist_spark.suite.llm_quality import (
        dataset_importance_resample, quality_gopher_rules)

    sel = dataset_importance_resample(spark, SF_SMALL).collect()
    assert sel
    assert all(abs(r.score * 1e6 - round(r.score * 1e6)) < 1e-3 for r in sel)
    corpus_rate = (
        quality_gopher_rules(spark, SF_SMALL)
        .agg(F.avg(F.col("gopher_keep").cast("int"))).collect()[0][0]
    )
    top = sorted(sel, key=lambda r: (-r.score, r.doc_id))[:10]
    top_rate = sum(r.gopher_keep for r in top) / len(top)
    assert top_rate > corpus_rate


def test_cdc_chunking_shift_invariant():
    """The property that justifies content-defined over fixed-size
    chunking: inserting one character re-chunks only the neighborhood
    of the edit — every chunk that starts after the edit's hash window
    is byte-identical. Replays the suite's exact rolling-hash constants
    in plain Python on a word-soup string and its single-insertion
    variant; a fixed-size segmenter provably fails this assertion."""
    from datacooker_dist_spark.suite.llm_ext import (
        _CDC_D, _CDC_M, _CDC_POWS, _CDC_W)

    def chunks(s):
        bnds = [
            i for i in range(_CDC_W, len(s) + 1)
            if sum(ord(s[i - 1 - j]) * p
                   for j, p in enumerate(_CDC_POWS)) % _CDC_M % _CDC_D == 0
        ]
        cuts = [0] + bnds + [len(s)]
        return [s[a:b] for a, b in zip(cuts, cuts[1:]) if a < b], bnds

    base = ("the quick table scan joins a window batch merge sort row "
            "group key value part hash stream spark order data column " * 6)
    pos = 10
    edited = base[:pos] + "X" + base[pos:]
    c0, b0 = chunks(base)
    c1, b1 = chunks(edited)
    assert b0, "fixture must produce at least one boundary"
    # Chunks that begin after the edit's influence (pos + window) must
    # survive the insertion byte-for-byte.
    tail0 = [c for c, start in zip(c0, [0] + b0) if start >= pos + _CDC_W]
    tail1 = [c for c, start in zip(c1, [0] + b1)
             if start >= pos + 1 + _CDC_W]
    assert tail0 and tail0 == tail1
    # A fixed-size segmenter re-aligns EVERY later segment: demonstrate
    # the contrast the docstring claims.
    fixed0 = [base[i:i + 64] for i in range(0, len(base), 64)]
    fixed1 = [edited[i:i + 64] for i in range(0, len(edited), 64)]
    assert all(a != b for a, b in zip(fixed0[1:], fixed1[1:]))


def test_kmv_merge_equals_direct_sketch():
    """KMV mergeability — the property the set-ops query banks on:
    the k smallest of a union equal the k smallest of the merged
    per-part k-min sketches, for every split of the value set. Pure
    arithmetic over the suite's real hash mix."""
    K, MOD = 64, 4294967296
    vals = sorted({(k * 2654435761 + 12345) % MOD for k in range(500)})
    direct = vals[:K]
    for cut in (1, 7, 250, 499):
        a, b = set(vals[:cut]), set(vals[cut:])
        ska, skb = sorted(a)[:K], sorted(b)[:K]
        merged = sorted(set(ska) | set(skb))[:K]
        assert merged == direct


def test_incremental_components_equals_rebuild(spark):
    """incremental_components ≡ from-scratch rebuild over old ∪ new
    edges (VERDICT r08 task 2), swept over seeded random graphs and
    edge splits — including chains that MERGE two standing clusters
    through a new node, batch edges between previously-unassigned
    nodes, and batches that touch nothing standing."""
    import random

    from datacooker_dist_spark.operators.dedup import (
        connected_components,
        incremental_components,
    )

    for seed in (7, 23, 101):
        rng = random.Random(seed)
        n = 60
        edges = sorted(
            {
                tuple(sorted(rng.sample(range(n), 2)))
                for _ in range(45)
            }
        )
        cut = rng.randint(0, len(edges))
        old, new = edges[:cut], edges[cut:]
        if not old:
            old = [(0, 1)]
        if not new:
            new = [(2, 3)]
        old_df = spark.createDataFrame(old, "id_a long, id_b long")
        new_df = spark.createDataFrame(new, "id_a long, id_b long")
        standing = connected_components(old_df).select(
            F.col("id_a").alias("node"), F.col("cluster_id").alias("root")
        )
        inc = {
            r["node"]: r["cluster_id"]
            for r in incremental_components(standing, new_df).collect()
        }
        all_df = old_df.unionByName(new_df)
        full = {
            r["id_a"]: r["cluster_id"]
            for r in connected_components(all_df).collect()
        }
        assert inc == full, f"seed {seed}: incremental != rebuild"


def test_incremental_components_iterated_patches(spark):
    """The operational loop: standing state patched by SUCCESSIVE
    batches (each output becomes the next standing input) must equal
    the from-scratch rebuild over all edges — i.e. the incremental
    form is closed under iteration, which is what lets a 100 TB ingest
    path run it per batch forever. Seeded random graphs split into
    three waves; also exercises outputs-as-inputs column compatibility
    ((node, cluster_id) → (node, root))."""
    import random

    from datacooker_dist_spark.operators.dedup import (
        connected_components,
        incremental_components,
    )

    for seed in (5, 77):
        rng = random.Random(seed)
        n = 50
        edges = sorted(
            {tuple(sorted(rng.sample(range(n), 2))) for _ in range(40)}
        )
        w1, w2 = len(edges) // 3, 2 * len(edges) // 3
        waves = [edges[:w1] or [(0, 1)],
                 edges[w1:w2] or [(2, 3)],
                 edges[w2:] or [(4, 5)]]
        standing = connected_components(
            spark.createDataFrame(waves[0], "id_a long, id_b long")
        ).select(
            F.col("id_a").alias("node"), F.col("cluster_id").alias("root")
        )
        for wave in waves[1:]:
            standing = incremental_components(
                standing,
                spark.createDataFrame(wave, "id_a long, id_b long"),
            ).select(
                "node", F.col("cluster_id").alias("root")
            ).localCheckpoint()
        inc = {r["node"]: r["root"] for r in standing.collect()}
        full = {
            r["id_a"]: r["cluster_id"]
            for r in connected_components(
                spark.createDataFrame(edges, "id_a long, id_b long")
            ).collect()
        }
        assert inc == full, f"seed {seed}: iterated patches != rebuild"


def test_phrase_positions_match_brute_string_scan(spark):
    """search_phrase_positions vs an independent derivation: a plain
    Python scan over the raw token lists (no positions table, no joins)
    must produce the identical (qid, doc_id, n_hits) set — including
    overlapping occurrences ('x x x' contains 'x x' twice) and the
    query doc matching itself."""
    rows = [
        (0, "alpha beta gamma alpha beta"),
        (1, "x x x y"),
        (2, "alpha beta"),
        (3, "beta alpha beta gamma"),
        (4, "x x"),
        (5, "nothing shared here"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    from pyspark.sql import functions as F

    tok = docs.select(
        "doc_id",
        F.posexplode(F.split(F.lower(F.trim("text")), r"\s+"))
        .alias("pos", "t"),
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
    a = tok.join(F.broadcast(q), tok["t"] == q["t1"]).select(
        "qid", "doc_id", (F.col("pos") + 1).alias("_next"), "t2"
    )
    b = tok.select(
        F.col("doc_id"), F.col("pos").alias("_next"), F.col("t").alias("_tb")
    )
    got = {
        (r["qid"], r["doc_id"]): r["n_hits"]
        for r in a.join(b, ["doc_id", "_next"])
        .filter(F.col("_tb") == F.col("t2"))
        .groupBy("qid", "doc_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
        .collect()
    }
    brute = {}
    toks = {i: t.lower().strip().split() for i, t in rows}
    for qid in (0, 1, 2):
        t1, t2 = toks[qid][0], toks[qid][1]
        for d, ts in toks.items():
            n = sum(
                1 for i in range(len(ts) - 1)
                if ts[i] == t1 and ts[i + 1] == t2
            )
            if n:
                brute[(qid, d)] = n
    assert got == brute
    assert got[(1, 1)] == 2  # overlapping 'x x' in 'x x x'


def _knn_toy_vectors(spark, n=60, dim=8, n_parts=4):
    """Deterministic clustered toy vectors: 4 well-separated axis
    clusters with small integer jitter, so true neighbors are
    unambiguous and everything stays exact-arithmetic-friendly."""
    rows = []
    for i in range(n):
        c = i % 4
        v = [0.0] * dim
        v[c * 2] = 10.0
        v[c * 2 + 1] = float((i * 7) % 5)  # deterministic jitter
        rows.append((i, v))
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    ).repartition(n_parts)


def test_knn_graph_build_monotone_and_deterministic(spark):
    """NN-descent structure (round 10): out-degree ≤ k everywhere; each
    round's union∪re-truncate can only improve the per-node lists (the
    summed rounded edge cosine is non-decreasing in rounds); and the
    graph is a pure function of (corpus, params) — identical under a
    different partitioning."""
    from pyspark.sql import functions as F

    from datacooker_dist_spark.operators import similarity as S

    emb = _knn_toy_vectors(spark)
    k = 5
    sums = []
    for rounds in (0, 1, 2):
        g = S.knn_graph_build(emb, k=k, rounds=rounds, n_cells=4)
        deg = g.groupBy("vec_id").count().agg(F.max("count")).first()[0]
        assert deg <= k
        sums.append(
            g.agg(F.sum((F.col("cosine") * 1e6).cast("long"))).first()[0]
        )
    assert sums[0] <= sums[1] <= sums[2]
    g2 = S.knn_graph_build(emb, k=k, rounds=2, n_cells=4)
    g2b = S.knn_graph_build(emb.repartition(13), k=k, rounds=2, n_cells=4)
    assert sorted(map(tuple, g2.collect())) == sorted(
        map(tuple, g2b.collect())
    )


def test_knn_graph_round_plan_no_cartesian(spark):
    """Every NN-descent round is hash equi-joins only — the round's
    EXECUTED plan (audited directly on the exposed round builder, since
    the build checkpoints each round and would hide it from the suite
    sweep) contains no CartesianProduct and no corpus-sized
    BroadcastNestedLoopJoin."""
    from datacooker_dist_spark.operators import similarity as S
    from datacooker_dist_spark.operators.similarity import (
        _knn_vectors,
        nndescent_round,
    )

    emb = _knn_toy_vectors(spark)
    g0 = S.knn_graph_build(emb, k=5, rounds=0, n_cells=4).select(
        F.col("vec_id").alias("src"),
        F.col("neighbor_id").alias("dst"),
        "cosine",
    ).localCheckpoint()
    r1 = nndescent_round(g0, _knn_vectors(emb, "vec_id", "embedding"), 5)
    r1.foreach(lambda _: None)
    plan = r1._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan


def test_graph_search_superset_dominates_ivf(spark):
    """cosine_topk_graph candidates ⊇ same-parameter IVF top-k under the
    identical rounded-score/id-tiebreak ranking, so exact-truth overlap
    never drops — asserted on the toy corpus where exact truth is a
    brute-force cosine_topk."""
    from pyspark.sql import functions as F

    from datacooker_dist_spark.operators import similarity as S

    emb = _knn_toy_vectors(spark)
    q = emb.filter(F.col("vec_id") < 6)
    cells = S.ivf_cells(emb, n_cells=4)
    graph = S.knn_graph_build(emb, k=5, rounds=2, cells=cells)
    exact = {
        (r.query_id, r.neighbor_id)
        for r in S.cosine_topk(emb, q, k=3).collect()
    }
    ivf = {
        (r.query_id, r.neighbor_id)
        for r in S.cosine_topk_ivf(
            emb, q, k=3, nprobe=1, cells=cells
        ).collect()
    }
    gs = {
        (r.query_id, r.neighbor_id)
        for r in S.cosine_topk_graph(
            emb, q, graph=graph, cells=cells, k=3, nprobe=1, hops=2,
            entry_cap=6,
        ).collect()
    }
    assert len(gs & exact) >= len(ivf & exact)
    # each query still returns a full k
    assert len(gs) == 6 * 3


@pytest.mark.parametrize("rounded", [False, True])
def test_probe_cells_matches_window_ranking(spark, rounded):
    """The literal cell selector behind the IVF and IVF-PQ probes keeps
    the ordering of the window it replaced: (score desc, cell asc), the
    score being the raw cosine or round(cosine, 6). Query 0 ties cells 1
    and 3 exactly and has cell 0 1e-9 below them, a gap only the
    rounded score closes; query 1 ties cells 2 and 5 at 0.0. The window
    formulation below is the reference."""
    from pyspark.sql import Window

    from datacooker_dist_spark.operators.similarity import (
        _probe_cells,
        cosine_expr,
    )

    centroids = spark.createDataFrame(
        [(5, [1.0, 0.0]), (3, [1.0, 1.0]), (1, [1.0, -1.0]),
         (0, [1.0, 1.0 + 1e-9]), (2, [-1.0, 0.0])],
        "cell int, _cv array<double>",
    )
    qv = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0]), (2, [0.5, -2.0])],
        "query_id long, _qv array<double>",
    )
    score = cosine_expr(F.col("_qv"), F.col("_cv"))
    if rounded:
        score = F.round(score, 6)
    w = Window.partitionBy("query_id").orderBy(F.desc(score), F.col("cell"))
    ranked = qv.crossJoin(centroids).withColumn("_rn", F.row_number().over(w))

    def lists(rows):
        out = {}
        for r in rows:
            out.setdefault(r.query_id, []).append(r.cell)
        return out

    for nprobe in (1, 2, 3, 5):
        want = lists(
            ranked.filter(F.col("_rn") <= nprobe).orderBy("query_id", "_rn")
            .collect()
        )
        got = lists(_probe_cells(qv, centroids, nprobe, rounded).collect())
        assert got == want, nprobe
    top = lists(_probe_cells(qv, centroids, 5, rounded).collect())[0]
    assert top == ([5, 0, 1, 3, 2] if rounded else [5, 1, 3, 0, 2])
    # Known difference: a NaN score ranks last in the selector and first
    # in the window. (A zero-norm centroid divides by zero, which raises
    # in both under ANSI mode.)
    nan = centroids.union(
        spark.createDataFrame([(9, [float("nan"), 0.0])], centroids.schema)
    )
    got = lists(_probe_cells(qv, nan, 6, rounded).collect())
    ref = lists(
        qv.crossJoin(nan).withColumn("_rn", F.row_number().over(w))
        .orderBy("query_id", "_rn").collect()
    )
    assert all(cells[-1] == 9 for cells in got.values())
    assert all(cells[0] == 9 for cells in ref.values())


def test_quantized_prefilter_label_respect_and_plan(spark):
    """match_col on the ADC scorers (round 10): every returned neighbor
    carries the query's label, each query ranks a full k from its
    eligible set (pre-filter, never a starved post-filter), and the
    executed plans stay equi-join-only — no CartesianProduct from the
    label predicate."""
    from pyspark.sql import functions as F

    from datacooker_dist_spark.operators import similarity as S

    emb = _knn_toy_vectors(spark).withColumn(
        "label", (F.col("vec_id") % 3).cast("int")
    )
    q = emb.filter(F.col("vec_id") < 6)
    labels = {r.vec_id: r.label for r in emb.collect()}  # 60-row fixture
    cells = S.ivf_cells(emb, n_cells=4)
    k = 3
    sq8 = S.cosine_topk_sq8(emb, q, k=k, match_col="label")
    pq = S.cosine_topk_ivfpq(
        emb, q, dim=8, k=k, nprobe=4, m=4, n_codes=8, cells=cells,
        spilled=False, match_col="label",
    )
    for res in (sq8, pq):
        rows = res.collect()
        per_q = {}
        for r in rows:
            assert labels[r.neighbor_id] == labels[r.query_id]
            per_q[r.query_id] = per_q.get(r.query_id, 0) + 1
        # 20 eligible per label (60/3) minus self — full k everywhere
        assert per_q and all(v == k for v in per_q.values())
        plan = res._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan


def test_knn_graph_append_patches_only_touched(spark):
    """knn_graph_append (round 10): new nodes enter with ≤k out-edges,
    untouched base nodes keep byte-identical lists, and only base nodes
    targeted by a (new → base) edge may change — the ledger entry's
    invariants asserted directly on the toy fixture."""
    from pyspark.sql import functions as F

    from datacooker_dist_spark.operators import similarity as S

    emb = _knn_toy_vectors(spark)
    base = emb.filter(F.col("vec_id") % 5 != 0)
    new = emb.filter(F.col("vec_id") % 5 == 0)
    k = 4
    cells = S.ivf_cells(base, n_cells=4)
    graph = S.knn_graph_build(base, k=k, rounds=2, cells=cells)
    appended = S.knn_graph_append(graph, base, new, cells=cells, k=k)
    old = {(r.vec_id, r.neighbor_id, r.cosine) for r in graph.collect()}
    rows = appended.collect()
    new_ids = {r.vec_id for r in new.collect()}
    per_node = {}
    for r in rows:
        per_node.setdefault(r.vec_id, set()).add((r.neighbor_id, r.cosine))
    assert new_ids <= set(per_node)          # every new node has edges
    assert all(len(v) <= k for v in per_node.values())
    targets = {
        r.neighbor_id for r in rows
        if r.vec_id in new_ids and r.neighbor_id not in new_ids
    }
    old_per_node = {}
    for s, d, c in old:
        old_per_node.setdefault(s, set()).add((d, c))
    for node, edges in old_per_node.items():
        if node not in targets:
            assert per_node[node] == edges   # untouched ⇒ identical

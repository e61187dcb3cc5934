"""Unit tests for the round-6 corpus-shaping additions: weighted source
mixing, filter-funnel accounting, token-budget selection, and quality-based
near-dedup survivors — the semantics the SQL oracles can't probe (nesting,
monotonicity, equivalence with a sequential model, edge budgets)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pandasvcf_spark.operators.sampling import (
    filter_funnel,
    mix_sources,
    take_token_budget,
)


def _docs(spark, n=200):
    # spread ids multiplicatively so the portable hash's residues spread:
    # a CONTIGUOUS id block clusters (the polynomial is affine in the few
    # varying tail digits), which is measurement noise here, not a bug —
    # real corpora key on content ids spanning the full digit range
    return spark.range(n).select(
        (F.col("id") * 31337).alias("doc_id"),
        F.concat(F.lit("src"), (F.col("id") % 4).cast("string")).alias("source"),
        ((F.col("id") * 37) % 211 + 1).alias("tokens"),
    )


# ---------------------------------------------------------------------------
# mix_sources
# ---------------------------------------------------------------------------


def test_mix_sources_nested_reweighting(spark):
    """Lowering a source's weight keeps a SUBSET of the higher-weight
    sample (residue classes nest) — the property that makes mixture
    revisions diffable."""
    d = _docs(spark)
    hi = mix_sources(d, "source", {"src0": 0.6}, key="doc_id")
    lo = mix_sources(d, "source", {"src0": 0.3}, key="doc_id")
    hi_ids = {r.doc_id for r in hi.filter(F.col("source") == "src0").collect()}
    lo_ids = {r.doc_id for r in lo.filter(F.col("source") == "src0").collect()}
    assert lo_ids <= hi_ids
    assert len(lo_ids) < len(hi_ids)


def test_mix_sources_default_fraction(spark):
    d = _docs(spark)
    # unknown sources dropped by default
    out = mix_sources(d, "source", {"src0": 1.0}, key="doc_id")
    assert out.select("source").distinct().collect() == [("src0",)]
    assert out.count() == d.filter(F.col("source") == "src0").count()
    # default_fraction=1.0 passes unknowns through untouched
    all_through = mix_sources(
        d, "source", {"src0": 1.0}, key="doc_id", default_fraction=1.0
    )
    assert all_through.count() == d.count()


def test_mix_sources_validates_weights(spark):
    d = _docs(spark)
    with pytest.raises(ValueError, match="weight"):
        mix_sources(d, "source", {"src0": 1.5}, key="doc_id")
    with pytest.raises(ValueError, match="default_fraction"):
        mix_sources(d, "source", {}, key="doc_id", default_fraction=-0.1)


# ---------------------------------------------------------------------------
# filter_funnel
# ---------------------------------------------------------------------------


def test_filter_funnel_monotone_and_conjoined(spark):
    d = _docs(spark)
    out = filter_funnel(
        d,
        [
            ("big", F.col("tokens") >= 50),
            ("src0", F.col("source") == "src0"),
            ("even", F.col("doc_id") % 2 == 0),
        ],
    ).orderBy("stage_idx")
    rows = out.collect()
    assert [r.stage for r in rows] == ["input", "big", "src0", "even"]
    counts = [r.survivors for r in rows]
    assert counts[0] == d.count()
    assert counts == sorted(counts, reverse=True)  # monotone funnel
    # conjunction, not independent counts
    expected = d.filter(
        (F.col("tokens") >= 50) & (F.col("source") == "src0")
    ).count()
    assert counts[2] == expected


def test_filter_funnel_null_predicate_counts_as_fail(spark):
    d = spark.createDataFrame(
        [(1, "a"), (2, None), (3, "b")], "id long, s string"
    )
    out = filter_funnel(d, [("nonnull_a", F.col("s") == "a")]).orderBy(
        "stage_idx"
    )
    assert [r.survivors for r in out.collect()] == [3, 1]


def test_filter_funnel_empty_input(spark):
    d = spark.range(0).select(F.col("id").alias("doc_id"))
    out = filter_funnel(d, [("any", F.col("doc_id") > 0)]).orderBy("stage_idx")
    assert [r.survivors for r in out.collect()] == [0, 0]


# ---------------------------------------------------------------------------
# take_token_budget
# ---------------------------------------------------------------------------


def _sequential_model(rows, budget, buckets):
    """The obvious single-threaded model: walk (bucket, key) order, keep
    while the exclusive running token sum is under budget."""
    from pandasvcf_spark.functions.text import POLY_MOD

    def phash(s):
        acc = 0
        for ch in s:
            acc = (acc * 31 + ord(ch)) % POLY_MOD
        return acc

    ordered = sorted(rows, key=lambda r: (phash(str(r[0])) % buckets, r[0]))
    kept, running = [], 0
    for key, tokens in ordered:
        if running < budget:
            kept.append(key)
        running += tokens
    return set(kept)


@pytest.mark.parametrize("budget", [0, 1, 500, 4000, 10**9])
def test_take_token_budget_matches_sequential_model(spark, budget):
    d = _docs(spark, n=150)
    rows = [(r.doc_id, r.tokens) for r in d.collect()]
    got = {
        r.doc_id
        for r in take_token_budget(
            d, "tokens", budget=budget, key="doc_id", buckets=8
        ).collect()
    }
    assert got == _sequential_model(rows, budget, buckets=8)


def test_take_token_budget_monotone_in_budget(spark):
    d = _docs(spark, n=150)
    small = {
        r.doc_id
        for r in take_token_budget(
            d, "tokens", budget=2000, key="doc_id", buckets=8
        ).collect()
    }
    big = {
        r.doc_id
        for r in take_token_budget(
            d, "tokens", budget=6000, key="doc_id", buckets=8
        ).collect()
    }
    assert small <= big and len(small) < len(big)


def test_take_token_budget_rejects_negative(spark):
    with pytest.raises(ValueError, match="budget"):
        take_token_budget(_docs(spark), "tokens", budget=-1, key="doc_id")


# ---------------------------------------------------------------------------
# near_dedup_documents(quality=...)
# ---------------------------------------------------------------------------


def test_near_dedup_keep_best_flips_survivor(spark):
    """Three near-identical docs: keep-min keeps id 1; keep-best by length
    keeps the longest (id 3). Non-duplicates survive either way."""
    from pandasvcf_spark.operators.dedup import near_dedup_documents
    from pandasvcf_spark.functions.text import word_ngrams_expr

    base = (
        "the quick brown fox jumps over the lazy dog and keeps on running "
        "through the quiet green field past the old stone wall"
    )
    d = spark.createDataFrame(
        [
            (1, base),
            (2, base + " x"),
            (3, base + " x y"),
            (9, "completely different content about spark query planning "
                "and distributed shuffle execution strategies at scale"),
        ],
        "doc_id long, text string",
    )
    shingles = word_ngrams_expr("text", 3)
    keep_min = {
        r.doc_id
        for r in near_dedup_documents(
            d, "doc_id", shingles, min_jaccard=0.5
        ).collect()
    }
    keep_best = {
        r.doc_id
        for r in near_dedup_documents(
            d, "doc_id", shingles, min_jaccard=0.5, quality=F.length("text")
        ).collect()
    }
    assert keep_min == {1, 9}
    assert keep_best == {3, 9}


def test_near_dedup_keep_best_tie_breaks_to_min_id(spark):
    from pandasvcf_spark.operators.dedup import near_dedup_documents
    from pandasvcf_spark.functions.text import word_ngrams_expr

    base = (
        "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda "
        "mu nu xi omicron pi rho sigma tau upsilon"
    )
    d = spark.createDataFrame(
        [(5, base), (2, base), (7, base)], "doc_id long, text string"
    )
    out = near_dedup_documents(
        d,
        "doc_id",
        word_ngrams_expr("text", 3),
        min_jaccard=0.5,
        quality=F.length("text"),
    )
    assert [r.doc_id for r in out.collect()] == [2]


# ---------------------------------------------------------------------------
# label_centroids / centroid_similarity / merge_latest
# ---------------------------------------------------------------------------


def test_label_centroids_match_numpy(spark):
    import numpy as np

    from pandasvcf_spark.operators.similarity import label_centroids

    rows = [(i, [float(i), float(i * 2), 1.0], i % 2) for i in range(10)]
    d = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label int"
    )
    out = {
        r.label: (r.centroid, r.n)
        for r in label_centroids(d, "label", "embedding").collect()
    }
    for lab in (0, 1):
        vecs = np.array([v for _, v, l in rows if l == lab])
        got, n = out[lab]
        assert n == len(vecs)
        assert np.allclose(got, vecs.mean(axis=0))


def test_centroid_similarity_pairs(spark):
    from pandasvcf_spark.operators.similarity import centroid_similarity

    cents = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0]), (2, [1.0, 1.0])],
        "label int, centroid array<double>",
    )
    rows = {
        (r.label_a, r.label_b): r.cos
        for r in centroid_similarity(cents).collect()
    }
    assert set(rows) == {(0, 1), (0, 2), (1, 2)}  # a < b only, no self
    assert abs(rows[(0, 1)]) < 1e-12  # orthogonal
    assert abs(rows[(0, 2)] - 2 ** -0.5) < 1e-12


def test_merge_latest_semantics(spark):
    from pandasvcf_spark.operators.relational import merge_latest

    base = spark.createDataFrame(
        [(1, "a", 0), (2, "b", 0), (3, "c", 5)], "k long, v string, ver int"
    )
    upd = spark.createDataFrame(
        [(2, "B", 1), (3, "C", 5), (4, "D", 1)], "k long, v string, ver int"
    )
    out = {r.k: (r.v, r.ver) for r in merge_latest(base, upd, ["k"], "ver").collect()}
    assert out == {
        1: ("a", 0),  # untouched
        2: ("B", 1),  # newer version wins
        3: ("C", 5),  # tie -> update side wins
        4: ("D", 1),  # insert
    }
    # replaying the same batch over the merged result changes nothing
    merged = merge_latest(base, upd, ["k"], "ver")
    replay = {
        r.k: (r.v, r.ver)
        for r in merge_latest(merged, upd, ["k"], "ver").collect()
    }
    assert replay == out


# ---------------------------------------------------------------------------
# kmv_distinct / epoch_shuffle_key
# ---------------------------------------------------------------------------


def test_merge_latest_duplicate_version_deterministic(spark):
    """Duplicate (key, version) rows on one side must not pick a
    partition-lottery survivor: the non-key-column tie-breaker makes the
    result identical across partitionings."""
    from pandasvcf_spark.operators.relational import merge_latest

    rows = [(1, 5, f"v{i}") for i in range(8)]
    base = spark.createDataFrame(rows, "k long, ver long, payload string")
    upd = spark.createDataFrame([], "k long, ver long, payload string")
    a = merge_latest(base, upd, ["k"], "ver").collect()
    b = merge_latest(base.repartition(7), upd, ["k"], "ver").collect()
    assert a == b and a[0].payload == "v0"  # ascending non-key order
    # explicit tiebreak column wins over the fallback
    c = merge_latest(
        base, upd, ["k"], "ver", tiebreak_cols=["payload"]
    ).collect()
    assert c[0].payload == "v0"


def test_kmv_exact_below_k(spark):
    from pandasvcf_spark.operators.sketches import kmv_distinct

    d = spark.range(40).select(
        F.concat(F.lit("key-"), (F.col("id") % 17).cast("string")).alias("k")
    )
    row = kmv_distinct(d, "k", k=256).first()
    assert row.k_used == 17
    assert row.estimate == 17.0  # sketch saw everything -> exact


def test_kmv_estimate_accuracy_and_partition_invariance(spark):
    from pandasvcf_spark.operators.sketches import kmv_distinct

    n = 5000
    d = spark.range(n * 2).select(  # every key appears twice
        F.concat(
            F.lit("document-content-"), (F.col("id") % n).cast("string")
        ).alias("k")
    )
    row = kmv_distinct(d, "k", k=512).first()
    # KMV relative error ~ 1/sqrt(k-2) ≈ 4.4%; allow 4 sigma
    assert abs(row.estimate - n) / n < 0.18, row.estimate
    # deterministic under any partitioning
    row2 = kmv_distinct(d.repartition(13), "k", k=512).first()
    assert (row2.k_used, row2.kth_hash, row2.estimate) == (
        row.k_used,
        row.kth_hash,
        row.estimate,
    )


def test_kmv_rejects_tiny_k(spark):
    from pandasvcf_spark.operators.sketches import kmv_distinct

    with pytest.raises(ValueError, match="k must be"):
        kmv_distinct(spark.range(5), "id", k=1)


def test_epoch_shuffle_reproducible_and_decorrelated(spark):
    from pandasvcf_spark.operators.sampling import epoch_shuffle_key

    d = _docs(spark, n=100)
    order = lambda ep: [
        r.doc_id
        for r in d.select(
            "doc_id", epoch_shuffle_key("doc_id", ep).alias("sk")
        )
        .orderBy("sk", "doc_id")
        .collect()
    ]
    e1a, e1b, e2 = order(1), order(1), order(2)
    assert e1a == e1b  # same epoch: identical order, any run
    assert e1a != e2  # next epoch: fresh permutation
    assert sorted(e1a) == sorted(e2)  # ... of the same corpus


# ---------------------------------------------------------------------------
# weighted_sample
# ---------------------------------------------------------------------------


def test_weighted_sample_inclusion_scales_with_weight(spark):
    """Rows with weight 8 should be sampled ~8x as often as weight 1:
    sample 200 of 2000 rows (half weight 1, half weight 8) and check the
    heavy group's share. Deterministic data -> deterministic assertion."""
    from pandasvcf_spark.operators.sampling import weighted_sample

    d = spark.range(2000).select(
        (F.col("id") * 7919).alias("k"),
        F.when(F.col("id") % 2 == 0, 8).otherwise(1).alias("w"),
    )
    out = weighted_sample(d, "k", "w", k=200, max_weight=8)
    heavy = out.filter(F.col("w") == 8).count()
    # expectation ~ 200 * 8/9 ≈ 178; generous deterministic band
    assert 150 <= heavy <= 200, heavy


def test_weighted_sample_deterministic_and_clamped(spark):
    from pandasvcf_spark.operators.sampling import weighted_sample

    d = spark.range(500).select(
        (F.col("id") * 104729).alias("k"), (F.col("id") % 300).alias("w")
    )
    a = {r.k for r in weighted_sample(d, "k", "w", k=40).collect()}
    b = {r.k for r in weighted_sample(d.repartition(7), "k", "w", k=40).collect()}
    assert a == b and len(a) == 40
    # weight <= 0 clamps to 1 instead of emitting an empty ticket array
    z = spark.range(10).select(F.col("id").alias("k"), F.lit(0).alias("w"))
    assert weighted_sample(z, "k", "w", k=5).count() == 5


def test_weighted_sample_validates(spark):
    from pandasvcf_spark.operators.sampling import weighted_sample

    d = spark.range(5).select(F.col("id").alias("k"), F.lit(1).alias("w"))
    with pytest.raises(ValueError, match="k must be"):
        weighted_sample(d, "k", "w", k=0)
    with pytest.raises(ValueError, match="max_weight"):
        weighted_sample(d, "k", "w", k=1, max_weight=0)


# ---------------------------------------------------------------------------
# NULL-edge semantics of the shaping operators
# ---------------------------------------------------------------------------


def test_mix_sources_null_group_gets_default(spark):
    from pandasvcf_spark.operators.sampling import mix_sources

    d = spark.createDataFrame(
        [(i * 31337, None) for i in range(100)], "doc_id long, source string"
    )
    # default 0 -> NULL-source rows dropped; default 1 -> all kept
    assert mix_sources(d, "source", {"a": 1.0}, key="doc_id").count() == 0
    assert (
        mix_sources(
            d, "source", {"a": 1.0}, key="doc_id", default_fraction=1.0
        ).count()
        == 100
    )


def test_take_token_budget_null_tokens_count_as_zero(spark):
    from pandasvcf_spark.operators.sampling import take_token_budget

    d = spark.createDataFrame(
        [(1, 10), (2, None), (3, 10)], "k long, t int"
    )
    # budget 15: all three buckets' totals sum with NULL ignored (== 0
    # tokens), so the NULL row never exhausts the budget by itself
    out = take_token_budget(d, "t", budget=1000, key="k", buckets=4)
    assert out.count() == 3


def test_take_token_budget_null_keys_excluded(spark):
    """A NULL key has no content identity: the row is excluded (same
    policy as hash_sample / mix_sources) instead of crashing the
    driver-side bucket walk on a None bucket id."""
    from pandasvcf_spark.operators.sampling import take_token_budget

    d = spark.createDataFrame(
        [(1, 10), (None, 10), (3, 10)], "k long, t int"
    )
    out = take_token_budget(d, "t", budget=1000, key="k", buckets=4)
    assert sorted(r.k for r in out.collect()) == [1, 3]
    # boundary-bucket path too (budget smaller than the total)
    out2 = take_token_budget(d, "t", budget=15, key="k", buckets=1)
    assert all(r.k is not None for r in out2.collect())


def test_weighted_sample_null_keys_excluded(spark):
    """NULL-keyed rows must not win the bottom-k lottery: a NULL key
    makes the salted-hash rank NULL, and nulls-first ordering would hand
    such rows guaranteed slots regardless of weight."""
    from pandasvcf_spark.operators.sampling import weighted_sample

    rows = [(f"k{i}", 1) for i in range(50)] + [(None, 1)] * 10
    d = spark.createDataFrame(rows, "k string, w int")
    out = weighted_sample(d, "k", "w", k=20)
    got = [r.k for r in out.collect()]
    assert len(got) == 20 and None not in got


# ---------------------------------------------------------------------------
# SQL surface: register_views
# ---------------------------------------------------------------------------


def test_register_views_sql_surface(spark):
    """spark.sql over the registered views matches the DataFrame loaders
    — the declarative entry point users drive the engine from."""
    from pandasvcf_spark.queries.tables import TABLE_NAMES, load, register_views

    sf = "/root/testdata/sf0.001"
    views = register_views(spark, sf)
    assert views == TABLE_NAMES
    got = spark.sql(
        "SELECT lang, count(*) AS n FROM documents GROUP BY lang"
    ).collect()
    want = (
        load(spark, sf, "documents").groupBy("lang").count().collect()
    )
    assert {(r.lang, r.n) for r in got} == {(r.lang, r["count"]) for r in want}
    # suffixed registration namespaces a second scale factor
    v2 = register_views(spark, sf, suffix="_b")
    assert v2[0] == "region_b"
    assert (
        spark.sql("SELECT count(*) FROM documents_b").first()[0]
        == spark.sql("SELECT count(*) FROM documents").first()[0]
    )


# ---------------------------------------------------------------------------
# near_dedup_incremental
# ---------------------------------------------------------------------------


def _incr_fixture(spark):
    base_txt = (
        "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda "
        "mu nu xi"
    )
    other = (
        "one two three four five six seven eight nine ten eleven twelve "
        "thirteen"
    )
    pair_txt = (
        "shared new duplicate content pair here we go again and again yes"
    )
    base = spark.createDataFrame(
        [(1, base_txt), (2, other)], "doc_id long, text string"
    )
    new = spark.createDataFrame(
        [
            (101, base_txt + " "),  # dup of base 1 -> dropped
            (102, "unique content entirely different from everything else "
                  "in this corpus today"),  # survives
            (103, other),  # dup of base 2 -> dropped
            (201, pair_txt),
            (202, pair_txt + " "),  # all-new pair -> 201 survives
        ],
        "doc_id long, text string",
    )
    return base, new


def test_near_dedup_incremental_survivor_rule(spark):
    from pandasvcf_spark.functions.text import word_ngrams_expr
    from pandasvcf_spark.operators.dedup import near_dedup_incremental

    base, new = _incr_fixture(spark)
    out = near_dedup_incremental(
        base, new, "doc_id", word_ngrams_expr("text", 3), min_jaccard=0.8
    )
    assert sorted(r.doc_id for r in out.collect()) == [102, 201]


def test_incremental_pairs_exclude_base_base(spark):
    """The operator's scale contract: a base-base near-dup pair must
    never materialize — only pairs touching the new side exist."""
    from pyspark.sql import functions as F

    from pandasvcf_spark.functions.text import word_ngrams_expr
    from pandasvcf_spark.operators.dedup import minhash_near_dup_pairs

    base, new = _incr_fixture(spark)
    base3 = base.unionByName(
        spark.createDataFrame(
            [(3, base.collect()[0].text)], "doc_id long, text string"
        )
    )  # ids 1 and 3 are base-base near-dups
    u = base3.withColumn("__nw", F.lit(False)).unionByName(
        new.withColumn("__nw", F.lit(True))
    )
    pairs = {
        (r.id_a, r.id_b)
        for r in minhash_near_dup_pairs(
            u,
            "doc_id",
            word_ngrams_expr("text", 3),
            min_jaccard=0.8,
            incremental_col="__nw",
        ).collect()
    }
    assert (1, 3) not in pairs  # old x old suppressed in-stage
    assert (1, 101) in pairs and (3, 101) in pairs and (201, 202) in pairs


def test_incremental_chain_through_new_doc(spark):
    """n1 ~ n2 and n2 ~ base closes transitively: BOTH new docs drop even
    though n1 never paired with base directly."""
    from pandasvcf_spark.functions.text import word_ngrams_expr
    from pandasvcf_spark.operators.dedup import near_dedup_incremental

    t = (
        "the quick brown fox jumps over the lazy dog and keeps running "
        "through quiet fields"
    )
    base = spark.createDataFrame([(1, t)], "doc_id long, text string")
    new = spark.createDataFrame(
        [(11, t + " x"), (12, t + " x y")], "doc_id long, text string"
    )
    out = near_dedup_incremental(
        base, new, "doc_id", word_ngrams_expr("text", 3), min_jaccard=0.5
    )
    assert out.count() == 0


def test_incremental_with_stored_index_matches(spark, tmp_path):
    """near_dedup_incremental(base_band_keys=stored parquet index) selects
    the identical survivor set as the self-computing path — the corpus
    index round-trips through storage without changing semantics."""
    from pandasvcf_spark.functions.text import word_ngrams_expr
    from pandasvcf_spark.operators.dedup import (
        minhash_band_keys,
        near_dedup_incremental,
    )

    base, new = _incr_fixture(spark)
    sh = word_ngrams_expr("text", 3)
    idx_path = str(tmp_path / "baseidx")
    minhash_band_keys(base, "doc_id", sh).write.parquet(idx_path)
    idx = spark.read.parquet(idx_path)
    with_idx = {
        r.doc_id
        for r in near_dedup_incremental(
            base, new, "doc_id", sh, min_jaccard=0.8, base_band_keys=idx
        ).collect()
    }
    without = {
        r.doc_id
        for r in near_dedup_incremental(
            base, new, "doc_id", sh, min_jaccard=0.8
        ).collect()
    }
    assert with_idx == without == {102, 201}


def test_band_keys_shape_and_determinism(spark):
    from pandasvcf_spark.functions.text import word_ngrams_expr
    from pandasvcf_spark.operators.dedup import minhash_band_keys

    base, _ = _incr_fixture(spark)
    k1 = minhash_band_keys(base, "doc_id", word_ngrams_expr("text", 3))
    assert k1.columns == ["id", "band", "key"]
    rows1 = sorted(map(tuple, k1.collect()))
    rows2 = sorted(
        map(
            tuple,
            minhash_band_keys(
                base.repartition(5), "doc_id", word_ngrams_expr("text", 3)
            ).collect(),
        )
    )
    assert rows1 == rows2  # index is a pure function of content
    assert len(rows1) == 2 * 16  # 2 docs x 16 bands


def test_split_label_disjoint_exhaustive_stable(spark):
    from pandasvcf_spark.operators.sampling import split_label_expr

    d = _docs(spark, n=500)
    lab = split_label_expr("doc_id", {"train": 0.8, "val": 0.1, "test": 0.1})
    out = d.select("doc_id", lab.alias("s"))
    counts = dict(
        (r.s, r["count"]) for r in out.groupBy("s").count().collect()
    )
    assert set(counts) <= {"train", "val", "test"}
    assert sum(counts.values()) == 500  # exhaustive, no NULLs for non-null keys
    # stable under repartitioning
    again = dict(
        (r.doc_id, r.s)
        for r in d.repartition(7).select("doc_id", lab.alias("s")).collect()
    )
    first = dict((r.doc_id, r.s) for r in out.collect())
    assert again == first
    with pytest.raises(ValueError, match="sum to 1"):
        split_label_expr("doc_id", {"train": 0.5, "val": 0.1})


# ---------------------------------------------------------------------------
# pagerank
# ---------------------------------------------------------------------------


def test_pagerank_symmetric_cycle_uniform(spark):
    from pandasvcf_spark.operators.graph import pagerank

    e = spark.createDataFrame([(1, 2), (2, 1)], "src long, dst long")
    out = {r.id: r.rank for r in pagerank(e, iters=5).collect()}
    assert abs(out[1] - 0.5) < 1e-12 and abs(out[2] - 0.5) < 1e-12


def test_pagerank_two_jobs_per_iteration(spark):
    """Each round is one declarative query: with AQE off (AQE splits one
    query into per-stage jobs) an extra iteration costs exactly 2 jobs —
    the eager checkpoint plus its in-query broadcast build of the 1-row
    dangling-mass aggregate. Guards against reintroducing a per-round
    driver action (a third job) or lineage re-execution (job blowup)."""
    from pandasvcf_spark.operators.graph import pagerank

    e = spark.createDataFrame(
        [(i, (i * 7) % 20) for i in range(60)], "src long, dst long"
    )
    tracker = spark.sparkContext.statusTracker()
    aqe_was = spark.conf.get("spark.sql.adaptive.enabled")

    def jobs_for(iters):
        group = f"pr-jobs-{iters}"
        spark.sparkContext.setJobGroup(group, "pagerank job-count probe")
        try:
            pagerank(e, iters=iters).collect()
        finally:
            spark.sparkContext.setJobGroup(None, None)
        return len(tracker.getJobIdsForGroup(group))

    try:
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        j2, j5 = jobs_for(2), jobs_for(5)
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe_was)
    assert (j5 - j2) == 6, (j2, j5)  # two jobs per extra iteration


def test_pagerank_sink_attracts_and_mass_conserved(spark):
    """Star into a sink: the sink outranks the sources; total rank stays
    1.0 (the dangling correction's invariant)."""
    from pandasvcf_spark.operators.graph import pagerank

    e = spark.createDataFrame(
        [(1, 9), (2, 9), (3, 9)], "src long, dst long"
    )
    out = {r.id: r.rank for r in pagerank(e, iters=3).collect()}
    assert out[9] > out[1] == out[2] == out[3]
    assert abs(sum(out.values()) - 1.0) < 1e-9


def test_pagerank_matches_numpy_power_iteration(spark):
    """Against the dense transition-matrix model on a random-ish digraph."""
    import numpy as np

    from pandasvcf_spark.operators.graph import pagerank

    edges = [(i, (i * 7 + 3) % 10) for i in range(10)] + [
        (i, (i * 3 + 1) % 10) for i in range(10)
    ]
    edges = sorted(set(edges))
    e = spark.createDataFrame(edges, "src long, dst long")
    got = {r.id: r.rank for r in pagerank(e, iters=4, damping=0.85).collect()}

    n = 10
    M = np.zeros((n, n))
    outdeg = {}
    for s, t in edges:
        outdeg[s] = outdeg.get(s, 0) + 1
    for s, t in edges:
        M[t, s] += 1.0 / outdeg[s]
    r = np.full(n, 1.0 / n)
    for _ in range(4):
        dangling = sum(r[i] for i in range(n) if i not in outdeg)
        r = (1 - 0.85) / n + 0.85 * (M @ r + dangling / n)
    for i in range(n):
        assert abs(got[i] - r[i]) < 1e-12, (i, got[i], r[i])


def test_pagerank_validates_iters(spark):
    from pandasvcf_spark.operators.graph import pagerank

    e = spark.createDataFrame([(1, 2)], "src long, dst long")
    with pytest.raises(ValueError, match="iters"):
        pagerank(e, iters=0)


def test_label_propagation_double_clique_and_determinism(spark):
    """Synchronous LPA, min-label tie-break: two 4-cliques joined by a
    bridge resolve to their min-node labels in 3 rounds (hand-traced
    round by round); direction of the input edge list is irrelevant
    (symmetrize); self-loops drop; a 4-cycle (bipartite, where the
    synchronous schedule 2-cycles) is still DETERMINISTIC at any fixed
    round count; iters < 1 raises."""
    import itertools

    from pandasvcf_spark.operators.graph import label_propagation

    cliq = (
        list(itertools.combinations([1, 2, 3, 4], 2))
        + list(itertools.combinations([5, 6, 7, 8], 2))
        + [(4, 5), (6, 6)]  # bridge + a self-loop that must drop
    )
    e = spark.createDataFrame(cliq, "src long, dst long")
    got = {
        r["node"]: r["label"]
        for r in label_propagation(e, iters=3).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 5, 6: 5, 7: 5, 8: 5}

    # reversed edge directions give the identical result (undirected)
    rev = spark.createDataFrame(
        [(b, a) for a, b in cliq], "src long, dst long"
    )
    assert got == {
        r["node"]: r["label"]
        for r in label_propagation(rev, iters=3).collect()
    }

    # bipartite 4-cycle: the synchronous schedule oscillates, but a
    # fixed round count is a deterministic function of the input —
    # hand-traced: labels after r1 are the neighbor minima
    # {1:2, 2:1, 3:2, 4:1}, after r2 {1:1, 2:2, 3:1, 4:2}, after r3
    # back to the r1 configuration
    cyc = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 1)], "src long, dst long"
    )
    r3 = {
        r["node"]: r["label"]
        for r in label_propagation(cyc, iters=3).collect()
    }
    assert r3 == {1: 2, 2: 1, 3: 2, 4: 1}

    with pytest.raises(ValueError, match="iters"):
        label_propagation(e, iters=0)


# ---------------------------------------------------------------------------
# Count-Min sketch
# ---------------------------------------------------------------------------


def test_countmin_overcounts_only_and_zero_for_absent(spark):
    from pandasvcf_spark.operators.sketches import (
        countmin_estimate,
        countmin_sketch,
    )

    rows = [(f"k{i % 50}",) for i in range(5000)]  # 50 keys x 100 each
    d = spark.createDataFrame(rows, "k string")
    sk = countmin_sketch(d, "k", depth=4, width=256)
    assert sk.count() <= 4 * 256
    probes = spark.createDataFrame(
        [("k0",), ("k7",), ("k49",), ("absent",)], "k string"
    )
    est = {
        r.k: r.est
        for r in countmin_estimate(sk, probes, "k", depth=4, width=256).collect()
    }
    assert est["absent"] == 0
    for k in ("k0", "k7", "k49"):
        assert est[k] >= 100  # CMS never undercounts


def test_countmin_merges_cell_wise(spark):
    """Sketch(A union B) == cell-wise sum of Sketch(A) and Sketch(B) — the
    property that lets per-batch sketches aggregate without the raw data."""
    from pyspark.sql import functions as F

    from pandasvcf_spark.operators.sketches import countmin_sketch

    a = spark.createDataFrame([(f"k{i % 7}",) for i in range(70)], "k string")
    b = spark.createDataFrame([(f"k{i % 11}",) for i in range(55)], "k string")
    merged = (
        countmin_sketch(a, "k", depth=3, width=64)
        .unionByName(countmin_sketch(b, "k", depth=3, width=64))
        .groupBy("d", "cell")
        .agg(F.sum("n").alias("n"))
    )
    direct = countmin_sketch(a.unionByName(b), "k", depth=3, width=64)
    got = {(r.d, r.cell): r.n for r in merged.collect()}
    want = {(r.d, r.cell): r.n for r in direct.collect()}
    assert got == want


def test_countmin_validates(spark):
    from pandasvcf_spark.operators.sketches import countmin_sketch

    d = spark.createDataFrame([("a",)], "k string")
    import pytest as _pytest

    with _pytest.raises(ValueError, match="depth"):
        countmin_sketch(d, "k", depth=0)
    with _pytest.raises(ValueError, match="depth"):
        countmin_sketch(d, "k", width=1)


# ---------------------------------------------------------------------------
# repeated_ngram_spans
# ---------------------------------------------------------------------------


def test_repeated_spans_hand_case(spark):
    """A 5-token phrase shared by two docs at different offsets yields one
    merged span per doc covering the phrase's token range; a unique doc
    yields nothing; a phrase repeated only WITHIN one doc doesn't count."""
    from pandasvcf_spark.operators.text_features import repeated_ngram_spans

    shared = "alpha beta gamma delta epsilon"
    docs = [
        (1, shared + " unique one two three"),
        (2, "start " + shared + " end words here"),
        (3, "totally different content with no common phrases at all"),
        (4, "self repeat self repeat self repeat self repeat self repeat"),
    ]
    d = spark.createDataFrame(docs, "doc_id long, text string")
    out = {
        (r.id, r.start_gram, r.end_tok, r.n_grams)
        for r in repeated_ngram_spans(d, n=3, min_docs=2).collect()
    }
    assert out == {(1, 1, 5, 3), (2, 2, 6, 3)}


def test_repeated_spans_merges_adjacent_and_validates(spark):
    import pytest as _pytest

    from pandasvcf_spark.operators.text_features import repeated_ngram_spans

    # two shared phrases separated by unique filler -> TWO spans per doc
    a = "one two three"
    b = "seven eight nine"
    d = spark.createDataFrame(
        [
            (1, f"{a} foo bar baz qux {b}"),
            (2, f"{b} pad pad2 pad3 pad4 {a}"),
        ],
        "doc_id long, text string",
    )
    got = sorted(
        (r.id, r.start_gram, r.end_tok)
        for r in repeated_ngram_spans(d, n=3, min_docs=2).collect()
    )
    assert got == [(1, 1, 3), (1, 8, 10), (2, 1, 3), (2, 8, 10)]
    with _pytest.raises(ValueError, match="min_docs"):
        repeated_ngram_spans(d, min_docs=1)
    with _pytest.raises(ValueError, match="n must"):
        repeated_ngram_spans(d, n=0)


# ---------------------------------------------------------------------------
# k_anonymize
# ---------------------------------------------------------------------------


def test_k_anonymize_threshold_and_null_combos(spark):
    """Rows below the k threshold are suppressed; NULL quasi-values group
    together (a suppressed attribute is itself a disclosure shape); the
    optional count column reports group sizes."""
    import pytest as _pytest

    from pandasvcf_spark.operators.sampling import k_anonymize

    rows = (
        [(i, "en", "web") for i in range(5)]
        + [(10, "en", "books")]                 # singleton -> suppressed
        + [(20, None, "web"), (21, None, "web"), (22, None, "web")]
    )
    d = spark.createDataFrame(rows, "id long, lang string, source string")
    out = k_anonymize(d, ["lang", "source"], k=3, count_col="qn")
    got = {(r.id, r.qn) for r in out.collect()}
    assert got == {(0, 5), (1, 5), (2, 5), (3, 5), (4, 5),
                   (20, 3), (21, 3), (22, 3)}
    # without count_col the helper column is dropped
    assert k_anonymize(d, ["lang", "source"], k=3).columns == [
        "id", "lang", "source"
    ]
    # k=1 keeps everything
    assert k_anonymize(d, ["lang", "source"], k=1).count() == len(rows)
    with _pytest.raises(ValueError, match="k must"):
        k_anonymize(d, ["lang"], k=0)


def test_group_balance_known_distributions(spark):
    """Uniform two-group corpus: entropy ln 2, norm 1, Herfindahl 0.5;
    single group: entropy 0, norm NULL (undefined), Herfindahl 1; NULL
    group values count as their own group."""
    import math

    from pandasvcf_spark.operators.text_features import group_balance

    d = spark.createDataFrame([("a",)] * 50 + [("b",)] * 50, "s string")
    r = group_balance(d, "s").collect()[0]
    assert r.n_groups == 2 and r.entropy == round(math.log(2), 4)
    assert r.entropy_norm == 1.0 and r.herfindahl == 0.5
    one = group_balance(
        spark.createDataFrame([("a",)] * 9, "s string"), "s"
    ).collect()[0]
    assert (one.n_groups, one.entropy, one.entropy_norm, one.herfindahl) == (
        1, 0.0, None, 1.0,
    )
    withnull = spark.createDataFrame(
        [("a",)] * 3 + [(None,)] * 3, "s string"
    )
    rn = group_balance(withnull, "s").collect()[0]
    assert rn.n_groups == 2 and rn.herfindahl == 0.5


def test_cluster_size_histogram_accounts_for_singletons(spark):
    """Histogram rows cover every document exactly once: sum of
    cluster_size x n_clusters equals the doc count, and the singleton
    row equals docs minus clustered members."""
    from pandasvcf_spark.queries.text_q import dedup_cluster_sizes

    out = dedup_cluster_sizes(spark, "/root/testdata/sf0.001")
    rows = {r.cluster_size: r.n_clusters for r in out.collect()}
    import duckdb

    con = duckdb.connect()
    total = con.sql(
        "SELECT count(*) FROM '/root/testdata/sf0.001/documents.parquet' "
        "WHERE doc_id < 200"
    ).fetchone()[0]
    assert sum(size * n for size, n in rows.items()) == total
    assert all(size >= 1 and n >= 0 for size, n in rows.items())


def test_bm25_ranking_sanity(spark):
    """Multi-term match outranks high-tf term spam; length normalization
    demotes a long doc with one hit; non-matching docs never appear."""
    import pytest as _pytest

    from pandasvcf_spark.operators.text_features import bm25_topk

    docs = [
        (1, "spark query engine for data processing and data pipelines"),
        (2, "data data data data data"),
        (3, "a long document about gardening with one mention of data "
            "somewhere in the middle of many many other words"),
        (4, "nothing relevant here at all"),
    ]
    d = spark.createDataFrame(docs, "doc_id long, text string")
    out = bm25_topk(d, ["data", "query"], k=10).collect()
    ids = [r.id for r in out]
    assert ids[0] == 1          # matches both terms
    assert 4 not in ids         # no match -> absent
    scores = {r.id: r.score for r in out}
    assert scores[2] > scores[3]  # tf counts, but saturates vs length
    with _pytest.raises(ValueError, match="query_terms"):
        bm25_topk(d, [])
    with _pytest.raises(ValueError, match="k must"):
        bm25_topk(d, ["data"], k=0)


def test_quantile_normalize_aligns_distributions(spark):
    """Equal-size groups end up with IDENTICAL value multisets (the
    defining property); NULL values pass through with NULL output."""
    from pandasvcf_spark.operators.relational import quantile_normalize

    rows = [
        ("a", 1, 10.0), ("a", 2, 20.0), ("a", 3, 90.0),
        ("b", 4, 1.0), ("b", 5, 2.0), ("b", 6, 3.0),
        ("b", 7, None),
    ]
    d = spark.createDataFrame(rows, "g string, id long, v double")
    out = quantile_normalize(d, "g", "v", tiebreak_cols=["id"])
    rowsb = out.collect()
    by_g = {}
    for r in rowsb:
        if r.v is not None:
            by_g.setdefault(r.g, []).append(r.qnorm)
    assert sorted(by_g["a"]) == sorted(by_g["b"])  # identical distribution
    # rank means: (1+10)/2=5.5, (2+20)/2=11, (3+90)/2=46.5
    assert sorted(by_g["a"]) == [5.5, 11.0, 46.5]
    nulls = [r for r in rowsb if r.v is None]
    assert len(nulls) == 1 and nulls[0].qnorm is None


def test_hll_merge_accuracy_and_regimes(spark):
    """Union-of-grids + cell-wise MAX equals the whole-corpus grid
    (the 100 TB combine); estimates land within the ~1.04/sqrt(m) error
    class on hostile sequential keys; below ~m distinct the
    linear-counting regime is near-exact; validation rejects non-power
    m."""
    import pytest as _pytest

    from pandasvcf_spark.operators.sketches import hll_estimate, hll_sketch

    d = spark.range(5000).select(
        F.concat(F.lit("doc-"), F.col("id")).alias("k")
    )
    whole = hll_sketch(d, "k", m=256)
    est = hll_estimate(whole, m=256).collect()[0]
    assert abs(est.estimate - 5000) / 5000 < 0.10  # deterministic, no flake
    assert est.m == 256 and est.n_zero == 0
    h1 = hll_sketch(d.filter(F.col("k") < "doc-3"), "k", 256)
    h2 = hll_sketch(d.filter(F.col("k") >= "doc-3"), "k", 256)
    merged = h1.union(h2).groupBy("bucket").agg(F.max("rho").alias("rho"))
    assert sorted(map(tuple, merged.collect())) == sorted(
        map(tuple, whole.collect())
    )
    small = spark.range(30).select(F.concat(F.lit("s"), F.col("id")).alias("k"))
    rs = hll_estimate(hll_sketch(small, "k", 256), 256).collect()[0]
    assert rs.n_zero > 200 and abs(rs.estimate - 30) < 3
    with _pytest.raises(ValueError, match="power of two"):
        hll_sketch(d, "k", m=100)
    with _pytest.raises(ValueError, match="power of two"):
        hll_estimate(whole, m=0)


def test_triangle_stats_hand_graphs(spark):
    """Triangle+pendant graph under direction/duplicate/self-loop noise
    gives the known census; K4 gives 4 triangles at clustering 1.0; a
    star (wedge-rich, triangle-free) gives 0 with cc 0."""
    from pandasvcf_spark.operators.graph import triangle_stats

    e = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, 4), (2, 1), (4, 4), (1, 2)],
        "src long, dst long",
    )
    r = triangle_stats(e).collect()[0]
    assert (r.n_nodes, r.n_edges, r.wedges, r.triangles, r.global_cc) == (
        4, 4, 5, 1, 0.6,
    )
    k4 = spark.createDataFrame(
        [(a, b) for a in range(4) for b in range(4) if a < b],
        "src long, dst long",
    )
    r2 = triangle_stats(k4).collect()[0]
    assert (r2.n_edges, r2.wedges, r2.triangles, r2.global_cc) == (6, 12, 4, 1.0)
    star = spark.createDataFrame(
        [(0, i) for i in range(1, 8)], "src long, dst long"
    )
    r3 = triangle_stats(star).collect()[0]
    assert (r3.wedges, r3.triangles, r3.global_cc) == (21, 0, 0.0)


def test_scd2_history_semantics_and_plan(spark):
    """No-op updates collapse into the opening change row; NULL→value
    and value→NULL transitions are changes (null-safe compare); the last
    change per key stays open (valid_to NULL, is_current); the whole
    build pays exactly one exchange."""
    import pytest as _pytest

    from pandasvcf_spark.operators.relational import scd2_history

    rows = [
        (1, 10, "A"), (1, 20, "A"), (1, 30, "B"), (1, 40, "B"), (1, 50, "A"),
        (2, 5, None), (2, 6, None), (2, 7, "X"),
    ]
    d = spark.createDataFrame(rows, "k long, v long, status string")
    out = sorted(
        (r.k, r.valid_from, r.valid_to, r.is_current, r.status)
        for r in scd2_history(d, ["k"], "v", ["status"]).collect()
    )
    assert out == [
        (1, 10, 30, False, "A"), (1, 30, 50, False, "B"),
        (1, 50, None, True, "A"),
        (2, 5, 7, False, None), (2, 7, None, True, "X"),
    ]
    plan = (
        scd2_history(d, ["k"], "v", ["status"])
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("Exchange") == 1
    with _pytest.raises(ValueError, match="attr_cols"):
        scd2_history(d, ["k"], "v", [])


def test_assoc_rules_hand_case(spark):
    """Three baskets with known co-occurrence: support/confidence/lift
    match hand arithmetic; confidence is asymmetric (both orientations
    emitted); min_support gates after counting; duplicate items in a
    basket count once."""
    from pandasvcf_spark.operators.relational import assoc_rules

    rows = [
        (1, "bread"), (1, "butter"), (1, "bread"),   # dup counts once
        (2, "bread"), (2, "butter"), (2, "milk"),
        (3, "bread"), (3, "milk"),
    ]
    d = spark.createDataFrame(rows, "u long, item string")
    out = {
        (r.item_a, r.item_b): (r.n_both, r.support, r.confidence, r.lift)
        for r in assoc_rules(d, "u", "item").collect()
    }
    # bread in 3/3 baskets, butter 2/3, both 2
    assert out[("bread", "butter")] == (
        2, round(2 / 3, 6), round(2 / 3, 6), round((2 / 3) / (2 / 3), 6),
    )
    # butter -> bread: confidence 2/2 = 1, lift 1/(3/3) = 1
    assert out[("butter", "bread")] == (2, round(2 / 3, 6), 1.0, 1.0)
    # milk & butter co-occur once: support 1/3, conf(milk->butter) 1/2,
    # lift (1/2)/(2/3) = 0.75
    assert out[("milk", "butter")] == (
        1, round(1 / 3, 6), 0.5, 0.75,
    )
    gated = assoc_rules(d, "u", "item", min_support=0.5).collect()
    assert {(r.item_a, r.item_b) for r in gated} == {
        ("bread", "butter"), ("butter", "bread"),
        ("bread", "milk"), ("milk", "bread"),
    }


def test_robust_scale_hand_case(spark):
    """Known group: clamp to [P01, P99] (linear interpolation), robust z
    matches (x − median)/(1.4826·MAD) by hand; a constant group gets
    NULL z (MAD = 0) but still clamps; validation rejects bad bounds."""
    import pytest as _pytest

    from pandasvcf_spark.operators.relational import robust_scale

    vals = [1, 2, 3, 4, 5, 6, 7, 8, 9, 1000]  # outlier at 1000
    rows = [("g", i, v) for i, v in enumerate(vals)]
    rows += [("c", 100 + i, 5) for i in range(4)]  # constant group
    d = spark.createDataFrame(rows, "grp string, id long, x long")
    out = {
        (r.grp, r.id): (r.clamped, r.robust_z)
        for r in robust_scale(d, ["grp"], "x").collect()
    }
    import numpy as np

    med = float(np.percentile(vals, 50))            # 5.5
    mad = float(np.percentile(np.abs(np.array(vals) - med), 50))
    plo = float(np.percentile(vals, 1))
    phi = float(np.percentile(vals, 99))
    assert out[("g", 9)][0] == round(phi, 6)        # outlier clamped
    assert out[("g", 0)][0] == round(max(1.0, plo), 6)
    assert out[("g", 4)][1] == round((5 - med) / (1.4826 * mad), 6)
    assert out[("c", 100)] == (5.0, None)
    with _pytest.raises(ValueError, match="p_lo"):
        robust_scale(d, ["grp"], "x", p_lo=0.9, p_hi=0.5)


def test_hll_group_estimate_matches_per_group_truth(spark):
    """Grouped HLL: each group's estimate tracks its own distinct count
    (deterministic — no flake), groups don't bleed into each other, and
    a group in the linear-counting regime is near-exact."""
    from pandasvcf_spark.operators.sketches import hll_group_estimate

    rows = [("big", f"user-{i:05d}") for i in range(4000)]
    rows += [("small", f"user-{i:05d}") for i in range(25)]
    rows += [("small", "user-00003") for _ in range(10)]  # duplicates
    d = spark.createDataFrame(rows, "grp string, user string")
    out = {
        r.grp: (r.n_zero, r.estimate)
        for r in hll_group_estimate(d, ["grp"], "user", m=256).collect()
    }
    # deterministic single draw; ~1.04/sqrt(256) = 6.5% sigma, allow 3 sigma
    assert abs(out["big"][1] - 4000) / 4000 < 0.20
    assert abs(out["small"][1] - 25) < 3 and out["small"][0] > 200


def test_hamming_join_matches_brute_force(spark):
    """Pigeonhole candidates + verify equal brute force at k=1 and k=2;
    each qualifying pair appears exactly once; length mismatches never
    pair; k validates."""
    import pytest as _pytest

    from pandasvcf_spark.operators.relational import hamming_join

    L = [(1, "ACGTACGT"), (2, "TTTTTTTT"), (3, "ACGTACGA"), (4, "ACG")]
    R = [(10, "ACGTACGT"), (11, "ACGAACGT"), (12, "GGGGGGGG"), (13, "ACT")]
    l = spark.createDataFrame(L, "lid long, s string")
    r = spark.createDataFrame(R, "rid long, t string")
    for k in (0, 1, 2):
        out = [
            (x.lid, x.rid, x.hamming)
            for x in hamming_join(l, r, "lid", "s", "rid", "t", k=k).collect()
        ]
        pairs = [(a, b) for a, b, _ in out]
        assert len(pairs) == len(set(pairs))
        truth = sorted(
            (a, c, sum(1 for p, q in zip(b, d) if p != q))
            for a, b in L
            for c, d in R
            if len(b) == len(d)
            and sum(1 for p, q in zip(b, d) if p != q) <= k
        )
        assert sorted(out) == truth, (k, sorted(out), truth)
    with _pytest.raises(ValueError, match="k must"):
        hamming_join(l, r, "lid", "s", "rid", "t", k=-1)


def test_prepare_corpus_funnel(spark):
    """The one-call cleaning funnel: each stage drops exactly the planted
    offender (language, quality, exact dup, near dup, contaminated),
    counts are monotone non-increasing, the survivor keeps the input
    schema, and disabling every stage passes everything through."""
    from pandasvcf_spark.operators.pipeline import prepare_corpus

    good = (
        "the quick brown fox jumps over the lazy dog and keeps running "
        "through the field with a steady pace for quite a while now"
    )
    other = (
        "completely different words about spark shuffles and parquet "
        "column pruning with plenty of steady readable prose to pass "
        "the quality screen for this synthetic corpus row here"
    )
    rows = [
        (1, good + " alpha version", "en", "s1"),
        (2, good + " alpha version", "en", "s1"),      # exact dup
        (3, good + " alpha version more", "en", "s1"),  # near dup
        (4, "x!!! ???", "en", "s2"),                    # low quality
        (5, other, "en", "s2"),                         # contaminated
        (6, "der hund und die katze ist nicht das "
            "problem oder doch vielleicht heute", "de", "s3"),  # lang
    ]
    d = spark.createDataFrame(rows, "doc_id long, text string, lang string, source string")
    ev = spark.createDataFrame(
        [(100, "words about spark shuffles and parquet column pruning")],
        "doc_id long, text string",
    )
    cleaned, report = prepare_corpus(
        d,
        langs=["en"],
        min_quality=0.5,
        near_dup=True,
        min_jaccard=0.5,
        eval_df=ev,
        max_overlap=0.15,
    )
    rep = {r.name: r.rows for r in report.collect()}
    assert rep["input"] == 6
    assert rep["lang_quality"] == 4      # -4 (quality), -6 (lang)
    assert rep["exact_dedup"] == 3       # -2
    assert rep["near_dedup"] == 2        # -3 (clustered with 1)
    assert rep["decontaminate"] == 1     # -5 (eval overlap)
    counts = [r.rows for r in report.orderBy("stage").collect()]
    assert all(a >= b for a, b in zip(counts, counts[1:]))
    assert sorted(r.doc_id for r in cleaned.collect()) == [1]
    assert cleaned.columns == d.columns
    allpass, rep2 = prepare_corpus(d, near_dup=False)
    assert allpass.count() == 5  # only the exact dup ever drops
    assert {r.rows for r in rep2.filter(F.col("stage") >= 3).collect()} == {5}

    # round-14 stage 6: the SemDeDup paraphrase tier. Docs 1 and 5 get
    # near-identical embeddings (paraphrases the shingle stages can't
    # see), doc 6 an unrelated one, docs 2-4 NO embedding row (must
    # pass through — missing metadata never silently drops data).
    import numpy as np

    rng = np.random.default_rng(47)
    g1 = rng.normal(0, 1, 12)
    g2 = rng.normal(0, 1, 12)
    emb = spark.createDataFrame(
        [
            (1, [float(x) for x in g1]),
            (5, [float(x) for x in g1 + rng.normal(0, 0.005, 12)]),
            (6, [float(x) for x in g2]),
        ],
        "doc_id long, embedding array<float>",
    )
    sem_clean, sem_rep = prepare_corpus(
        d,
        near_dup=False,
        semantic_df=emb,
        semantic_threshold=0.99,
        semantic_centroids=[
            [float(x) for x in g1], [float(x) for x in g2]
        ],
    )
    ids = sorted(r.doc_id for r in sem_clean.collect())
    # exact dup 2 drops at stage 3; paraphrase pair {1, 5} keeps the
    # far-from-centroid member; 3, 4 (no embedding) and 6 survive
    assert 3 in ids and 4 in ids and 6 in ids
    assert len({1, 5} & set(ids)) == 1
    srep = {r.name: r.rows for r in sem_rep.collect()}
    assert srep["semantic_dedup"] == srep["near_dedup"] - 1


def test_psi_report_identical_and_shifted(spark):
    """Identical snapshots give PSI == 0 in every bin; a planted shift
    concentrated above the median moves mass where it should; bins
    cover the full range (counts sum to row counts); n_bins validates."""
    import pytest as _pytest

    from pandasvcf_spark.operators.relational import psi_report

    base = spark.range(1000).select(
        F.col("id"), (F.col("id") % 100).cast("double").alias("x")
    )
    same = psi_report(base, base, "x", n_bins=10).collect()
    assert len(same) == 10
    assert all(r.psi_term == 0.0 for r in same)
    assert sum(r.n_base for r in same) == 1000
    shifted = base.select("id", (F.col("x") + 50.0).alias("x"))
    rep = psi_report(base, shifted, "x", n_bins=10).collect()
    total = sum(r.psi_term for r in rep)
    assert total > 0.25  # alarm-level drift for a half-range shift
    lowest = min(rep, key=lambda r: r.bin)
    assert lowest.n_cur < lowest.n_base  # mass left the bottom bins
    assert sum(r.n_cur for r in rep) == 1000
    with _pytest.raises(ValueError, match="n_bins"):
        psi_report(base, base, "x", n_bins=1)


def test_cusum_closed_form_matches_recursion(spark):
    """The closed-form (prefix sum − running min) reproduces the
    textbook max(0, S+x−k) recursion value-for-value, including resets
    to zero; the alarm fires above threshold on the rounded score; the
    whole computation pays one exchange."""
    from pandasvcf_spark.operators.relational import cusum_scores

    vals = [0.5, -1.0, 2.0, 2.0, -0.5, 3.0, -10.0, 1.0]
    d = spark.createDataFrame(
        [(1, i, v) for i, v in enumerate(vals)], "k long, t long, x double"
    )
    out = {
        r.t: (r.cusum, r.alarm)
        for r in cusum_scores(
            d, "k", "t", "x", drift=0.5, threshold=3.0
        ).collect()
    }
    s = 0.0
    for i, v in enumerate(vals):
        s = max(0.0, s + v - 0.5)
        assert abs(out[i][0] - round(s, 6)) < 1e-9, (i, out[i], s)
        assert out[i][1] == (round(s, 6) > 3.0)
    # Positive-prefix case: the FIRST value exceeds drift, so the
    # running prefix min is positive and only the P_0 = 0 empty-prefix
    # term keeps the score honest (S_1 = 4, not 0). This is the
    # early-shift case CUSUM exists for.
    vals2 = [5.0, 2.0, 3.0, -1.0]
    d2 = spark.createDataFrame(
        [(1, i, v) for i, v in enumerate(vals2)],
        "k long, t long, x double",
    )
    out2 = {
        r.t: r.cusum
        for r in cusum_scores(d2, "k", "t", "x", drift=1.0).collect()
    }
    s = 0.0
    for i, v in enumerate(vals2):
        s = max(0.0, s + v - 1.0)
        assert abs(out2[i] - round(s, 6)) < 1e-9, (i, out2[i], s)
    assert out2[0] == 4.0  # the missing-P_0 bug returned 0 here
    plan = (
        cusum_scores(d, "k", "t", "x", 0.5)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("Exchange") == 1


def test_kcore_hand_graphs(spark):
    """K4 plus a pendant tail: 3-core is exactly K4 (within-core degree
    3); a pure path fully cascades away at k=2 (the peel must iterate,
    not one-shot); triangle+tail keeps the triangle at k=2; validation
    rejects k=0."""
    import pytest as _pytest

    from pandasvcf_spark.operators.graph import kcore

    k4 = [(a, b) for a in range(4) for b in range(4) if a < b]
    g = spark.createDataFrame(
        k4 + [(3, 10), (10, 11)], "src long, dst long"
    )
    out = {r.node: r.degree for r in kcore(g, 3).collect()}
    assert out == {0: 3, 1: 3, 2: 3, 3: 3}
    path = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (3, 4)], "src long, dst long"
    )
    assert kcore(path, 2).count() == 0  # cascade: one-shot would keep 1-2-3
    tri = spark.createDataFrame(
        [(0, 1), (1, 2), (0, 2), (2, 3), (3, 4)], "src long, dst long"
    )
    out2 = {r.node: r.degree for r in kcore(tri, 2).collect()}
    assert out2 == {0: 2, 1: 2, 2: 2}
    with _pytest.raises(ValueError, match="k must"):
        kcore(tri, 0)


def test_psi_report_null_base_and_duplicate_edges(spark):
    """An all-null base raises a named ValueError (quantile edges are
    undefined) instead of a bare float(None) TypeError; a
    low-cardinality base deduplicates repeated quantile edges, so no
    unreachable bin contributes a phantom eps-floor psi_term."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from pandasvcf_spark.operators.relational import psi_report

    allnull = spark.range(10).select(
        "id", F.lit(None).cast("double").alias("x")
    )
    cur = spark.range(10).select(
        "id", F.col("id").cast("double").alias("x")
    )
    with _pytest.raises(ValueError, match="non-null"):
        psi_report(allnull, cur, "x", n_bins=4)

    # constant base: every quantile edge identical -> 2 effective bins
    const = spark.range(100).select(
        "id", F.lit(5.0).alias("x")
    )
    rep = psi_report(const, const, "x", n_bins=10).collect()
    assert len(rep) == 2  # deduped: (-inf, 5] and (5, inf)
    assert sum(r.n_base for r in rep) == 100
    assert all(r.psi_term == 0.0 for r in rep)  # identical snapshots


def test_pack_sequences_global_equals_sequential_model(spark):
    """The hierarchical global pack (per-bucket totals -> driver
    offsets -> parallel per-bucket windows) equals the one-window
    sequential pack over the same canonical order, bucket count
    included in the order definition; NULL keys drop; budget
    validates; empty input keeps the schema."""
    import pytest as _pytest
    from pandasvcf_spark.functions.text import poly_hash_expr
    from pandasvcf_spark.operators.sampling import (
        pack_sequences,
        pack_sequences_global,
    )

    d = _docs(spark, n=300).withColumn(
        "doc_id",
        F.when(F.col("doc_id") % 97 == 1, F.lit(None)).otherwise(
            F.col("doc_id")
        ),
    )
    got = {
        r.doc_id: (r.bin_id, r.bin_offset)
        for r in pack_sequences_global(
            d, "tokens", budget=256, key="doc_id", buckets=16
        ).collect()
    }
    # sequential model: ONE global window ordered by (hash%16, doc_id)
    seq = d.filter(F.col("doc_id").isNotNull()).withColumn(
        "__o", poly_hash_expr(F.col("doc_id").cast("string")) % 16
    )
    want = {
        r.doc_id: (r.bin_id, r.bin_offset)
        for r in pack_sequences(
            seq, "tokens", budget=256,
            order_by=[F.col("__o"), F.col("doc_id")],
        ).collect()
    }
    assert got == want and got
    assert None not in got  # NULL keys excluded
    # bins are continuous across bucket boundaries: every bin id in
    # 0..max appears
    bins = {b for b, _ in got.values()}
    assert bins == set(range(max(bins) + 1))
    with _pytest.raises(ValueError, match="budget"):
        pack_sequences_global(d, "tokens", 0, key="doc_id")
    empty = pack_sequences_global(
        d.filter(F.lit(False)), "tokens", 256, key="doc_id"
    )
    assert empty.columns == d.columns + ["bin_id", "bin_offset"]
    assert empty.count() == 0


def test_pack_sequences_global_composes_with_token_budget(spark):
    """take_token_budget(same key, same buckets) selects a PREFIX of
    the global layout: every kept doc's (bin_id, bin_offset) in the
    packed selection equals its layout in the packed full corpus."""
    from pandasvcf_spark.operators.sampling import (
        pack_sequences_global,
        take_token_budget,
    )

    d = _docs(spark, n=200)
    full = {
        r.doc_id: (r.bin_id, r.bin_offset)
        for r in pack_sequences_global(
            d, "tokens", budget=256, key="doc_id", buckets=16
        ).collect()
    }
    kept = take_token_budget(
        d, "tokens", budget=5000, key="doc_id", buckets=16
    )
    packed_kept = {
        r.doc_id: (r.bin_id, r.bin_offset)
        for r in pack_sequences_global(
            kept, "tokens", budget=256, key="doc_id", buckets=16
        ).collect()
    }
    assert packed_kept and len(packed_kept) < len(full)
    assert all(full[k] == v for k, v in packed_kept.items())


# ---------------------------------------------------------------------------
# Exact heavy hitters (two-pass Misra-Gries)
# ---------------------------------------------------------------------------


def test_heavy_hitters_exact_and_partition_invariant(spark):
    """The final relation must equal exact GROUP BY/HAVING semantics —
    identical keys AND counts — whatever the partition layout (the MG
    sketch is only a pruner; a layout-dependent result would mean a
    false negative slipped through a partition summary)."""
    import math

    from pyspark.sql import functions as F

    from pandasvcf_spark.operators.sketches import heavy_hitters

    # skewed stream: 3 heavy keys, a 200-key tail
    rows = (
        [("alpha",)] * 400 + [("beta",)] * 150 + [("gamma",)] * 60
        + [(f"tail{i % 200}",) for i in range(800)]
    )
    d = spark.createDataFrame(rows, "k string")
    n = len(rows)
    sup = 0.03
    thr = int(math.ceil(sup * n))
    exact = {
        r.k: r.cnt
        for r in d.groupBy("k")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") >= thr)
        .collect()
    }
    assert "alpha" in exact and "beta" in exact
    for parts in (1, 7):
        got = {
            r.k: r.cnt
            for r in heavy_hitters(d.repartition(parts), "k", support=sup).collect()
        }
        assert got == exact, (parts, got, exact)


def test_heavy_hitters_forced_pruning_still_no_false_negatives(spark):
    """k far below the distinct-key count forces the per-partition
    reduction step repeatedly; the guarantee (k >= 2/support keeps every
    globally-heavy key in some summary) must still hold."""
    from pyspark.sql import functions as F

    from pandasvcf_spark.operators.sketches import heavy_hitters

    rows = [("hot",)] * 500 + [(f"t{i}",) for i in range(2000)]
    d = spark.createDataFrame(rows, "k string").repartition(5)
    got = {r.k: r.cnt for r in heavy_hitters(d, "k", support=0.1, k=25).collect()}
    assert got == {"hot": 500}


def test_heavy_hitters_validation_and_empty(spark):
    import pytest

    from pyspark.sql import functions as F

    from pandasvcf_spark.operators.sketches import heavy_hitters

    d = spark.createDataFrame([("a",)], "k string")
    with pytest.raises(ValueError, match="support"):
        heavy_hitters(d, "k", support=1.5)
    empty = spark.createDataFrame([], "k string")
    out = heavy_hitters(empty, "k", support=0.5)
    assert out.columns == ["k", "cnt"]
    assert out.count() == 0


# ---------------------------------------------------------------------------
# Exact stratified sampling
# ---------------------------------------------------------------------------


def test_stratified_sample_exact_quota_nesting_and_determinism(spark):
    """Per-stratum counts must hit the quota formula exactly, the 10%
    sample must nest inside the 20% sample, and repartitioning must not
    change the selected row set."""
    import math

    from pyspark.sql import functions as F

    from pandasvcf_spark.operators.sampling import stratified_sample

    rows = [(f"s{i % 3}", i) for i in range(200)] + [("tiny", 999)]
    d = spark.createDataFrame(rows, "src string, id int")

    def sample_ids(frac, parts, floor=2):
        out = stratified_sample(
            d.repartition(parts), ["src"], "id", frac, min_per_stratum=floor
        )
        got = {}
        for r in out.collect():
            got.setdefault(r.src, set()).add(r.id)
        return got

    got = sample_ids(0.2, 4)
    sizes = {k: len(v) for k, v in got.items()}
    # strata s0 (67 rows), s1 (67), s2 (66), tiny (1)
    assert sizes == {
        "s0": math.ceil(0.2 * 67),
        "s1": math.ceil(0.2 * 67),
        "s2": math.ceil(0.2 * 66),
        "tiny": 1,  # min(floor, n_h) = 1
    }
    # determinism under a different partitioning
    assert got == sample_ids(0.2, 1)
    # nesting: 10% selection is a subset of 20%
    small = sample_ids(0.1, 4)
    for k in small:
        assert small[k] <= got[k], k


def test_stratified_sample_validation(spark):
    import pytest

    from pandasvcf_spark.operators.sampling import stratified_sample

    d = spark.createDataFrame([("a", 1)], "src string, id int")
    with pytest.raises(ValueError, match="strata_cols"):
        stratified_sample(d, [], "id", 0.5)
    with pytest.raises(ValueError, match="fraction"):
        stratified_sample(d, ["src"], "id", 1.5)
    with pytest.raises(ValueError, match="min_per_stratum"):
        stratified_sample(d, ["src"], "id", 0.5, min_per_stratum=-1)


# poisson_bootstrap_ci (deterministic distributed bootstrap)


def test_poisson_bootstrap_ci_statistical_and_deterministic(spark):
    """The bootstrap SE must track the analytic SE (sigma/sqrt(n)) on a
    gaussian corpus; the result is a pure function of content (identical
    after repartition); the CI brackets the point estimate; validation
    raises."""
    import random
    import statistics

    import pytest as _pytest

    from pandasvcf_spark.operators.sampling import poisson_bootstrap_ci

    rnd = random.Random(5)
    rows = [(i, rnd.gauss(10, 2)) for i in range(2000)]
    df = spark.createDataFrame(rows, "id long, v double")
    r = poisson_bootstrap_ci(df, "v", "id", n_reps=50).collect()[0]

    vals = [x for _, x in rows]
    analytic_se = statistics.stdev(vals) / (len(vals) ** 0.5)
    assert r["n"] == 2000 and r["n_reps"] == 50
    assert abs(r["mean"] - round(statistics.mean(vals), 6)) < 1e-9
    # bootstrap SE within 40% of analytic (50 reps is noisy but close)
    assert 0.6 * analytic_se < r["boot_se"] < 1.4 * analytic_se
    assert r["ci_lo"] < r["mean"] < r["ci_hi"]

    r2 = poisson_bootstrap_ci(
        df.repartition(7), "v", "id", n_reps=50
    ).collect()[0]
    assert r == r2

    with _pytest.raises(ValueError, match="n_reps"):
        poisson_bootstrap_ci(df, "v", "id", n_reps=1)
    with _pytest.raises(ValueError, match="alpha"):
        poisson_bootstrap_ci(df, "v", "id", alpha=1.5)


# l_diversity_report (homogeneity-attack audit)


def test_l_diversity_report_hand_case(spark):
    """Hand groups: homogeneous (1 value, fails both), diverse-uniform
    (3 equal values: entropy EXACTLY ln 3 passes entropy-l at l=3 —
    the boundary case), skewed (3 values but lopsided: distinct passes,
    entropy fails), and all-NULL sensitive (0 diversity, NULL stats)."""
    import math

    from pandasvcf_spark.operators.sampling import l_diversity_report

    rows = (
        [("g1", "a")] * 5                       # homogeneous
        + [("g2", "a"), ("g2", "b"), ("g2", "c")]  # uniform 3-diverse
        + [("g3", "a")] * 8 + [("g3", "b"), ("g3", "c")]  # skewed
        + [("g4", None)] * 3                     # all-NULL
        + [("g2", None)]                         # NULL counts in n only
    )
    df = spark.createDataFrame(rows, "q string, sv string")
    got = {r["q"]: r for r in
           l_diversity_report(df, ["q"], "sv", l=3).collect()}

    g1 = got["g1"]
    assert (g1["n"], g1["n_sensitive"], g1["top_share"]) == (5, 1, 1.0)
    assert g1["entropy"] == 0.0
    assert not g1["distinct_l_ok"] and not g1["entropy_l_ok"]

    g2 = got["g2"]
    assert (g2["n"], g2["n_sensitive"]) == (4, 3)     # NULL in n only
    assert abs(g2["entropy"] - round(math.log(3), 6)) < 1e-9
    assert g2["distinct_l_ok"] and g2["entropy_l_ok"]  # exact boundary

    g3 = got["g3"]
    assert g3["n_sensitive"] == 3 and g3["distinct_l_ok"]
    assert g3["top_share"] == 0.8 and not g3["entropy_l_ok"]

    g4 = got["g4"]
    assert (g4["n"], g4["n_sensitive"]) == (3, 0)
    assert g4["entropy"] is None and g4["top_share"] is None
    assert not g4["distinct_l_ok"] and not g4["entropy_l_ok"]


# quantile_grid (mergeable equal-width quantile sketch)


def test_quantile_grid_accuracy_and_merge(spark):
    """The sketch estimate stays within half a cell width of the exact
    type-1 quantile; two shard grids merged by cell-wise sum equal the
    whole-corpus grid (additivity); out-of-domain values clamp to edge
    cells; validation raises."""
    import math
    import random

    import pytest as _pytest
    from pyspark.sql import functions as F

    from pandasvcf_spark.operators.sketches import (
        quantile_grid,
        quantile_grid_estimate,
    )

    rnd = random.Random(9)
    vals = [rnd.uniform(0, 100) for _ in range(5000)] + [-5.0, 1e9]
    df = spark.createDataFrame([(v,) for v in vals], "v double")
    lo, hi, nc = 0.0, 100.0, 128
    w = (hi - lo) / nc
    g = quantile_grid(df, "v", lo, hi, n_cells=nc)
    cells = {r["cell"]: r["c"] for r in g.collect()}
    assert min(cells) == 0 and max(cells) == nc - 1   # clamped extremes
    assert sum(cells.values()) == len(vals)

    probs = [0.1, 0.5, 0.9]
    est = {r["p"]: r["est"] for r in
           quantile_grid_estimate(g, probs, lo, hi, n_cells=nc).collect()}
    svals = sorted(vals)
    for p in probs:
        exact = svals[max(0, math.ceil(len(svals) * p) - 1)]
        assert abs(est[p] - exact) <= w, (p, est[p], exact)

    # additive merge: shard grids sum to the whole-corpus grid
    half = len(vals) // 2
    g1 = quantile_grid(
        spark.createDataFrame([(v,) for v in vals[:half]], "v double"),
        "v", lo, hi, n_cells=nc)
    g2 = quantile_grid(
        spark.createDataFrame([(v,) for v in vals[half:]], "v double"),
        "v", lo, hi, n_cells=nc)
    merged = {
        r["cell"]: r["c"]
        for r in g1.unionAll(g2).groupBy("cell")
        .agg(F.sum("c").alias("c")).collect()
    }
    assert merged == cells

    with _pytest.raises(ValueError, match="lo < hi"):
        quantile_grid(df, "v", 5.0, 5.0)


def test_sliding_distinct_hll_accuracy_and_idempotence(spark):
    """The trailing-window estimate tracks exact sliding distinct
    within HLL error (~1.04/sqrt(256) ~ 6.5%); every window's grid
    equals a from-scratch build (MAX-merge losslessness) so estimates
    for full windows are IDENTICAL to directly sketching the window's
    rows; n_hours reports warm-up."""
    import datetime

    from pyspark.sql import functions as F

    from pandasvcf_spark.operators.sketches import (
        hll_group_estimate,
        sliding_distinct_hll,
    )

    rows = []
    for hr in range(6):
        for u in range(200):
            rows.append(
                (datetime.datetime(2024, 1, 1, hr, 30), hr * 1000 + u)
            )
    df = spark.createDataFrame(rows, "ts timestamp, uid long")
    out = {r["win_end"].hour: r for r in
           sliding_distinct_hll(df, "ts", "uid", window_hours=3,
                                m=256).collect()}
    assert out[0]["n_hours"] == 1 and out[2]["n_hours"] == 3
    for h in range(2, 6):
        true = 600  # 3 hours x 200 disjoint users
        assert abs(out[h]["estimate"] - true) / true < 0.15

    # idempotence: window ending hour 5 == direct sketch of hours 3-5
    direct = (
        df.filter(F.hour("ts") >= 3)
        .withColumn("g", F.lit(1))
    )
    d_est = hll_group_estimate(direct, ["g"], "uid", m=256).collect()[0]
    assert abs(out[5]["estimate"] - d_est["estimate"]) < 1e-9
    assert out[5]["n_zero"] == d_est["n_zero"]


# exact_substring_remove
# ---------------------------------------------------------------------------


def test_exact_substring_remove_keep_first_and_overlap(spark):
    """Keep-first: the min-id document owning a repeated 5-gram keeps it;
    every other document has the covered tokens excised. Interval union:
    two flagged gram starts n-1 apart (non-consecutive, overlapping in
    token space) merge into ONE removal span. NULL-text rows drop;
    boilerplate-only docs rewrite to ''."""
    from pandasvcf_spark.operators.text_features import (
        exact_substring_remove,
    )

    shared = "alpha beta gamma delta epsilon zeta"
    docs = [
        (1, shared + " unique one two three four"),
        (2, "start words " + shared + " tail words"),
        (3, "no overlap with anything else in this corpus at all here"),
        (4, shared),  # boilerplate-only
        (5, None),
    ]
    d = spark.createDataFrame(docs, "doc_id long, text string")
    out = {
        r["id"]: (r["n_tokens"], r["n_removed"], r["clean_text"])
        for r in exact_substring_remove(d, n=5, min_docs=2).collect()
    }
    assert out == {
        1: (11, 0, "alpha beta gamma delta epsilon zeta unique one two "
                   "three four"),
        2: (10, 6, "start words tail words"),
        3: (11, 0, "no overlap with anything else in this corpus at all "
                   "here"),
        4: (6, 6, ""),
    }

    # interval union across a gap < n in gram-start space: doc 11 owns,
    # doc 12 shares two 3-grams whose starts sit 2 apart with one token
    # in between differing -> spans [p, p+2] and [p+2, p+4] merge
    a = "one two three x four five six"      # grams: "one two three",
    d2 = spark.createDataFrame(                # "four five six" shared
        [
            (11, a),
            (12, "pad " + a + " pad2"),
        ],
        "doc_id long, text string",
    )
    got = {
        r["id"]: (r["n_removed"], r["clean_text"])
        for r in exact_substring_remove(d2, n=3, min_docs=2).collect()
    }
    # doc 12's flagged starts are 2 and 6 (token spans [2,4], [6,8]) —
    # disjoint by one token (pos 5 = 'x' is shared too? no: 'three x
    # four' is also a shared gram at start 4 -> spans union to [2,8])
    assert got[11] == (0, "one two three x four five six")
    assert got[12] == (7, "pad pad")  # [a-z]+ tokenizer strips the digit

    # plan guard: equi-joins only — no cartesian / broadcast NL join
    plan = (
        exact_substring_remove(d2, n=3, min_docs=2)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan

    import pytest as _pytest

    with _pytest.raises(ValueError, match="min_docs"):
        exact_substring_remove(d2, min_docs=1)


def test_exact_substring_remove_char_mode(spark):
    """granularity='char' (round-12): the same device over the
    normalized character stream. (1) Word-subset equivalence: encode
    each word as one unique character — char mode with the same n must
    produce the encoded image of word mode's output (identical
    ownership, islands and surgery, position-for-position). (2) Char
    precision: a verbatim char run spanning word fragments is excised
    where word mode's boundary snap would differ. (3) Bad granularity
    raises."""
    import pytest as _pytest

    from pandasvcf_spark.operators.text_features import (
        exact_substring_remove,
    )

    docs = [
        (1, "alpha beta gamma delta epsilon zeta unique one two"),
        (2, "start words alpha beta gamma delta epsilon zeta tail"),
        (3, "no overlap with anything else in this tiny corpus"),
        (4, "alpha beta gamma delta epsilon zeta"),
    ]
    d = spark.createDataFrame(docs, "doc_id long, text string")
    word_out = {
        r["id"]: r
        for r in exact_substring_remove(d, n=5, min_docs=2).collect()
    }

    # bijective word -> single-char encoding; char mode on the encoded
    # corpus (words become chars, spaces collapse away via n-gram
    # arithmetic only if we DROP them — so encode WITHOUT separators)
    vocab = sorted({w for _, t in docs for w in t.split()})
    enc = {w: chr(ord("a") + i) for i, w in enumerate(vocab)}
    assert len(enc) <= 26
    enc_docs = [
        (i, "".join(enc[w] for w in t.split())) for i, t in docs
    ]
    de = spark.createDataFrame(enc_docs, "doc_id long, text string")
    char_out = {
        r["id"]: r
        for r in exact_substring_remove(
            de, n=5, min_docs=2, granularity="char"
        ).collect()
    }
    assert set(char_out) == set(word_out)
    for i, t in docs:
        w, c = word_out[i], char_out[i]
        assert c["n_tokens"] == w["n_tokens"], i
        assert c["n_removed"] == w["n_removed"], i
        assert c["clean_text"] == "".join(
            enc[tok] for tok in w["clean_text"].split()
        ), i

    # char mode is exact at sub-word boundaries: the repeated run
    # "bbbbbbbbbb" (10 chars) is excised from the non-owner even though
    # it starts/ends mid-word in word terms
    d3 = spark.createDataFrame(
        [(1, "xx" + "b" * 10 + "yy"), (2, "qq" + "b" * 10 + "rr")],
        "doc_id long, text string",
    )
    got = {
        r["id"]: (r["n_removed"], r["clean_text"])
        for r in exact_substring_remove(
            d3, n=10, min_docs=2, granularity="char"
        ).collect()
    }
    assert got[1] == (0, "xx" + "b" * 10 + "yy")
    assert got[2] == (10, "qqrr")

    with _pytest.raises(ValueError, match="granularity"):
        exact_substring_remove(d3, granularity="byte")


def test_bigram_kn_matches_pure_python_replica(spark):
    """Interpolated Kneser-Ney against a pure-Python replica — and the
    smoothing invariant that distinguishes KN from stupid backoff:
    every context's distribution sums to EXACTLY 1 (discount mass is
    redistributed, not invented)."""
    import math
    import re
    from collections import Counter

    from pandasvcf_spark.operators.text_features import bigram_kn_stats

    docs = [
        (1, "the cat sat on the mat"),
        (2, "the dog sat on the log"),
        (3, "a cat and a dog and a bird"),
        (4, "completely different words here"),
    ]
    D = 0.75
    toks = {i: re.findall(r"[a-z]+", t.lower()) for i, t in docs}
    uni = Counter(w for ws in toks.values() for w in ws)
    n = sum(uni.values())
    big = Counter()
    for ws in toks.values():
        for a, b in zip(ws, ws[1:]):
            big[(a, b)] += 1
    s = Counter()
    n1f = Counter()
    n1b = Counter()
    for (a, b), c in big.items():
        s[a] += c
        n1f[a] += 1
        n1b[b] += 1
    t = len(big)

    def p_kn(a, b):
        return max(big[(a, b)] - D, 0.0) / s[a] + (
            D * n1f[a] / s[a]
        ) * (n1b[b] / t)

    for a in s:  # exact per-context normalization
        assert abs(sum(p_kn(a, b) for b in uni) - 1.0) < 1e-12

    expect = {}
    for i, ws in toks.items():
        lps = [math.log10(uni[ws[0]] / n)] + [
            math.log10(p_kn(a, b)) for a, b in zip(ws, ws[1:])
        ]
        expect[i] = (len(ws), round(sum(lps) / len(lps), 4))

    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["n_words"], r["avg_logprob"])
        for r in bigram_kn_stats(df).collect()
    }
    assert got == expect

    import pytest as _pytest

    with _pytest.raises(ValueError, match="discount"):
        bigram_kn_stats(df, discount=1.0)


def test_mattr_hand_cases(spark):
    """MATTR window arithmetic: short doc = plain TTR; a repeated-token
    long doc scores low; an all-distinct doc scores 1.0; window slides
    are averaged exactly (hand 6-token / window-4 case)."""
    from pandasvcf_spark.operators.text_features import mattr_stats

    docs = [
        (1, "a b c a b c"),           # 6 tokens, window 4:
                                      # slices abca bcab cabc -> 3/4 each
        (2, "x y z"),                 # short: TTR = 1.0
        (3, "w w w w w w w w"),       # repeated: windows all 1/4
        (4, None),
        (5, ""),                      # zero tokens: dropped
    ]
    d = spark.createDataFrame(docs, "doc_id long, text string")
    out = {
        r["id"]: (r["n_tokens"], r["mattr"])
        for r in mattr_stats(d, window=4).collect()
    }
    assert out == {
        1: (6, 0.75),
        2: (3, 1.0),
        3: (8, 0.25),
    }

    import pytest as _pytest

    with _pytest.raises(ValueError, match="window"):
        mattr_stats(d, window=0)


def test_ntile_bucket_stats_matches_window_ntile(spark):
    """The cell/overlap arithmetic == an explicit ntile() window on
    every (count, remainder, tie) shape: n=7 B=3 gives sizes 3/2/2;
    a 4-way tie spanning a boundary splits exactly by rank; a group
    smaller than B leaves later buckets absent (no zero rows)."""
    from pyspark.sql import functions as F
    from pyspark.sql import Window

    from pandasvcf_spark.operators.text_features import ntile_bucket_stats

    rows = [
        # g1: scores 1,1,1,1,2,3,4 (n=7): ntile sizes 3,2,2 ->
        # bucket1 = three 1s; bucket2 = one 1 + the 2; bucket3 = 3,4
        ("g1", 1.0), ("g1", 1.0), ("g1", 1.0), ("g1", 1.0),
        ("g1", 2.0), ("g1", 3.0), ("g1", 4.0),
        # g2: n=2 < B: buckets 1 and 2 only
        ("g2", 5.0), ("g2", 6.0),
    ]
    df = spark.createDataFrame(rows, "lang string, s double")
    got = {
        (r["lang"], r["bucket"]): (r["n_rows"], r["avg_score"],
                                   r["min_score"], r["max_score"])
        for r in ntile_bucket_stats(df, "lang", "s", 3).collect()
    }
    assert got[("g1", 1)] == (3, 1.0, 1.0, 1.0)
    assert got[("g1", 2)] == (2, 1.5, 1.0, 2.0)
    assert got[("g1", 3)] == (2, 3.5, 3.0, 4.0)
    assert got[("g2", 1)] == (1, 5.0, 5.0, 5.0)
    assert got[("g2", 2)] == (1, 6.0, 6.0, 6.0)
    assert ("g2", 3) not in got

    # brute-force equivalence vs window ntile on a bigger mixed shape
    big = spark.createDataFrame(
        [(f"L{i % 4}", float((i * 7) % 11) / 2.0, i) for i in range(257)],
        "lang string, s double, id int",
    )
    w = Window.partitionBy("lang").orderBy("s", "id")
    ref = (
        big.withColumn("bucket", F.ntile(5).over(w))
        .groupBy("lang", "bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            (F.round(F.avg("s"), 4) + F.lit(0.0)).alias("avg_score"),
            (F.round(F.min("s"), 4) + F.lit(0.0)).alias("min_score"),
            (F.round(F.max("s"), 4) + F.lit(0.0)).alias("max_score"),
        )
    )
    got_big = {tuple(r) for r in
               ntile_bucket_stats(big, "lang", "s", 5).collect()}
    ref_big = {tuple(r) for r in ref.collect()}
    assert got_big == ref_big


def test_moore_lewis_prefers_in_domain_vocabulary(spark):
    """Docs sharing the in-domain slice's vocabulary score higher than
    docs made of general-only words; exact value check on a tiny
    corpus against the closed-form add-one arithmetic."""
    import math as _m

    from pandasvcf_spark.operators.text_features import moore_lewis_scores
    from pyspark.sql import functions as F

    rows = [
        (1, "alpha beta alpha", "tgt"),
        (2, "alpha beta", "tgt"),
        (3, "gamma delta gamma delta", "gen"),
        (4, "alpha alpha beta", "gen"),   # in-domain-LIKE general doc
        (5, "gamma delta", "gen"),
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string, src string")
    got = {r["doc_id"]: (r["n_words"], r["ce_diff"]) for r in
           moore_lewis_scores(df, "doc_id", "text",
                              F.col("src") == "tgt").collect()}
    # corpus: alpha x5, beta x3, gamma x3, delta x3 -> na=14, v=4
    # in-domain: alpha x3, beta x2 -> ni=5
    def lp(c_in, c_all):
        return _m.log10((c_in + 1) / 9.0) - _m.log10((c_all + 1) / 18.0)

    exp1 = round((2 * lp(3, 5) + lp(2, 3)) / 3, 4)
    exp3 = round((2 * lp(0, 3) + 2 * lp(0, 3)) / 4, 4)
    assert got[1] == (3, exp1)
    assert got[3] == (4, exp3)
    # ranking: in-domain-like docs above general-only docs
    assert got[4][1] > got[3][1]
    assert got[1][1] > got[5][1]


def test_tokenizer_fertility_identities(spark):
    """Zero merges -> every char is a token: fertility == avg word
    length and chars_per_token == 1 exactly; per-lang grouping splits
    correctly."""
    from pyspark.sql import functions as F

    from pandasvcf_spark.functions.text import words_expr
    from pandasvcf_spark.operators.bpe import bpe_encode_expr

    d = spark.createDataFrame(
        [(1, "aa bbb", "x"), (2, "cccc", "x"), (3, "dd", "y")],
        "doc_id int, text string, lang string",
    )
    ws = words_expr("text")
    enc = bpe_encode_expr(F.col("text"), [])
    per = d.select(
        "lang",
        F.size(ws).alias("nw"),
        F.size(F.flatten(enc)).alias("nt"),
        F.aggregate(ws, F.lit(0).cast("long"),
                    lambda a, w: a + F.length(w)).alias("nc"),
    )
    got = {r["lang"]: (r["nw"], r["nt"], r["nc"]) for r in
           per.groupBy("lang").agg(
               F.sum("nw").alias("nw"), F.sum("nt").alias("nt"),
               F.sum("nc").alias("nc")).collect()}
    assert got["x"] == (3, 9, 9)   # aa bbb cccc: 3 words, 9 chars
    assert got["y"] == (1, 2, 2)


def test_dsir_scores_prefer_target_distribution(spark):
    """Docs built from the target slice's bigrams outrank docs of
    general-only bigrams; a doc with a single word has no bigrams and
    drops; hash determinism: same text -> same logw."""
    from pyspark.sql import functions as F

    from pandasvcf_spark.operators.text_features import dsir_scores

    rows = [
        (1, "alpha beta alpha beta gamma", "tgt"),
        (2, "alpha beta alpha", "tgt"),
        (3, "delta epsilon delta epsilon", "gen"),
        (4, "alpha beta gamma", "gen"),   # target-like general doc
        (5, "delta epsilon", "gen"),
        (6, "solo", "gen"),               # one word: no bigrams
        (7, "alpha beta alpha", "gen"),   # identical text to doc 2
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string, src string")
    got = {r["doc_id"]: (r["n_bigrams"], r["logw"]) for r in
           dsir_scores(df, "doc_id", "text",
                       F.col("src") == "tgt", n_buckets=64).collect()}
    assert 6 not in got
    assert got[2] == got[7]               # score is text-deterministic
    assert got[4][1] > got[3][1]          # target-like beats general-only
    assert got[1][1] > got[5][1]
    assert got[1][0] == 4 and got[5][0] == 1


def test_exact_substring_char_empty_doc_zero_tokens(spark):
    """An empty (or whitespace-only) document reports n_chars 0 in
    char mode — split('', '') yields [''] without the guard
    (review-caught)."""
    from pandasvcf_spark.operators.text_features import (
        exact_substring_remove,
    )

    d = spark.createDataFrame(
        [(1, ""), (2, "   "), (3, "abcdefghijklmnopqrstuvwxyz" * 2)],
        "doc_id int, text string",
    )
    out = {r["id"]: r["n_tokens"] for r in
           exact_substring_remove(d, "doc_id", "text", n=20,
                                  min_docs=2,
                                  granularity="char").collect()}
    assert out[1] == 0
    assert out[2] <= 1       # whitespace collapses to a single ' '
    assert out[3] == 52


def test_temperature_weights_alpha_limits_and_tail(spark):
    """Round-13 mixture weights: alpha=1 reproduces the natural
    distribution (sample_factor 1 everywhere), alpha=0 is uniform
    (p_temp = 1/k), alpha=0.3 up-samples the tail (factor > 1 for the
    smallest group, < 1 for the head); p_temp sums to 1; weight_col
    switches the mass from rows to a column; alpha < 0 raises."""
    import pytest as _pytest

    from pyspark.sql import functions as F

    from pandasvcf_spark.operators.sampling import temperature_weights

    rows = (
        [("en", 100)] * 80 + [("de", 10)] * 15 + [("sw", 1)] * 5
    )
    d = spark.createDataFrame(rows, "lang string, tok int")

    nat = {r["lang"]: r for r in
           temperature_weights(d, "lang", alpha=1.0).collect()}
    assert all(abs(r["sample_factor"] - 1.0) < 1e-9 for r in nat.values())

    uni = {r["lang"]: r for r in
           temperature_weights(d, "lang", alpha=0.0).collect()}
    for r in uni.values():
        assert abs(r["p_temp"] - 1.0 / 3.0) < 1e-6

    t = {r["lang"]: r for r in
         temperature_weights(d, "lang", alpha=0.3).collect()}
    assert abs(sum(r["p_temp"] for r in t.values()) - 1.0) < 1e-6
    assert t["sw"]["sample_factor"] > 1.0 > t["en"]["sample_factor"]
    assert t["en"]["n"] == 80 and t["sw"]["n"] == 5

    # mass by token column: en mass 8000 vs sw mass 5
    tm = {r["lang"]: r for r in
          temperature_weights(d, "lang", 0.3, "tok").collect()}
    assert tm["en"]["mass"] == 8000.0 and tm["sw"]["mass"] == 5.0
    assert tm["sw"]["sample_factor"] > t["sw"]["sample_factor"]

    with _pytest.raises(ValueError, match="alpha"):
        temperature_weights(d, "lang", alpha=-0.1)


def test_prepare_corpus_audio_tier(spark):
    """Round-15 stage 7: the audio-modality dedup tier. Docs 1 and 5
    carry the SAME melody at different gains (a re-encoded recording —
    the text stages can't see it), doc 6 a different melody, docs 3-4
    NO audio row (must pass through — missing metadata never silently
    drops data). The min-id component survivor keeps doc 1."""
    import numpy as np

    from pandasvcf_spark.operators.multimodal import pack_wav
    from pandasvcf_spark.operators.pipeline import prepare_corpus

    good = (
        "the quick brown fox jumps over the lazy dog and keeps running "
        "through the field with a steady pace for quite a while now"
    )
    rows = [
        (1, good + " alpha", "en", "s1"),
        (3, good.replace("fox", "owl").replace("dog", "cat")
            .replace("field", "yard") + " beta", "en", "s1"),
        (4, good.replace("quick", "slow").replace("lazy", "busy")
            .replace("steady", "brisk") + " gamma", "en", "s2"),
        (5, good.replace("brown", "grey").replace("running", "walking")
            .replace("pace", "gait") + " delta", "en", "s2"),
        (6, good.replace("jumps", "leaps").replace("keeps", "stops")
            .replace("while", "bit") + " epsilon", "en", "s3"),
    ]
    d = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string"
    )

    sr = 8000
    seg = sr // 4

    def clip(notes, gain=0.4):
        t = np.arange(seg)
        env = np.hanning(seg)
        x = np.concatenate(
            [np.sin(2 * np.pi * f * t / sr) * env for f in notes]
        )
        return pack_wav(sr, 1, (gain * x * 32767).astype("<i2").tobytes())

    melody = [440.0, 975.0, 660.0, 1660.0, 520.0, 1240.0, 880.0, 330.0]
    other = [613.0, 1330.0, 737.0, 2470.0, 413.0, 1790.0, 557.0, 2210.0]
    audio = spark.createDataFrame(
        [
            (1, clip(melody)),
            (5, clip(melody, gain=0.2)),  # same recording, -6 dB
            (6, clip(other)),
        ],
        "doc_id long, wav binary",
    )
    cleaned, report = prepare_corpus(d, near_dup=False, audio_df=audio)
    ids = sorted(r.doc_id for r in cleaned.collect())
    assert ids == [1, 3, 4, 6], ids  # 5 drops: audio dup of 1
    rep = {r.name: r.rows for r in report.collect()}
    assert rep["audio_dedup"] == rep["semantic_dedup"] - 1


def test_prepare_corpus_cdc_tier(spark):
    """Round-15 stage 6: the chunk-granular CDC tier. Doc 5 embeds a
    long verbatim run of doc 1 inside enough fresh text that
    whole-document Jaccard stays under the near-dup threshold (the
    partial-re-host blind spot), yet its CDC foreign_frac — chars in
    chunks owned by the lower-id doc 1 — crosses the gate. The
    canonical owner (doc 1) and the fully-original doc 6 survive; the
    report carries the stage row and the tier is off by default."""
    import random

    from pandasvcf_spark.operators.pipeline import prepare_corpus

    def rand_text(seed, n):
        rng = random.Random(seed)
        words = [
            "".join(rng.choice("abcdefghijklmnopqrstuvwxyz")
                    for _ in range(rng.randint(3, 8)))
            for _ in range(200)
        ]
        return " ".join(words)[:n]

    a = rand_text(21, 500)
    own = rand_text(22, 150)
    rehost = own + " " + a[:400]           # 400 of doc 1 inside fresh text
    c = rand_text(23, 480)
    d = spark.createDataFrame(
        [(1, a, "en", "s1"), (5, rehost, "en", "s2"), (6, c, "en", "s3")],
        "doc_id long, text string, lang string, source string",
    )
    cleaned, report = prepare_corpus(
        d, near_dup=True, min_jaccard=0.9, cdc_max_foreign_frac=0.4
    )
    rep = {r.name: r.rows for r in report.collect()}
    # the re-host survives MinHash (its own text dilutes the Jaccard)...
    assert rep["near_dedup"] == 3
    # ...and dies at the CDC gate; owner + original survive
    assert rep["cdc_dedup"] == 2
    assert sorted(r.doc_id for r in cleaned.collect()) == [1, 6]
    # off by default: pass-through row, nothing dropped
    allpass, rep2 = prepare_corpus(d, near_dup=False)
    r2 = {r.name: r.rows for r in rep2.collect()}
    assert r2["cdc_dedup"] == r2["near_dedup"] == 3
    assert allpass.count() == 3

"""Physical-plan shape guards for the round-6 operators: the claims their
docstrings make about the plan (TakeOrdered not global sort, partial
aggregation, partitioned windows, zero shuffles) asserted against
`explain` output so a regression in plan shape fails fast, not just slow."""

from __future__ import annotations

from pyspark.sql import functions as F


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_weighted_sample_is_take_ordered(spark):
    from pandasvcf_spark.operators.sampling import weighted_sample

    d = spark.range(1000).select(
        (F.col("id") * 7919).alias("k"), (F.col("id") % 5 + 1).alias("w")
    )
    plan = _plan(weighted_sample(d, "k", "w", k=20))
    assert "TakeOrderedAndProject" in plan
    assert "Sort [" not in plan  # no global sort node


def test_kmv_is_take_ordered_with_partial_distinct(spark):
    from pandasvcf_spark.operators.sketches import kmv_distinct

    d = spark.range(1000).select(F.concat(F.lit("k"), "id").alias("k"))
    plan = _plan(kmv_distinct(d, "k", k=64))
    assert "TakeOrderedAndProject" in plan
    # map-side distinct: a HashAggregate below the exchange on h
    assert plan.count("HashAggregate") >= 2


def test_label_centroids_partial_aggregated(spark):
    from pandasvcf_spark.operators.similarity import label_centroids

    e = spark.range(100).select(
        (F.col("id") % 5).cast("int").alias("label"),
        F.array(*[F.rand(seed=i) for i in range(8)]).alias("embedding"),
    )
    plan = _plan(label_centroids(e, "label", "embedding"))
    # partial_avg before the exchange keeps the shuffle at labels x dims
    assert "partial_avg" in plan or "partial_average" in plan.lower()


def test_split_multiallelic_zero_shuffle(spark):
    from pandasvcf_spark.operators.reshape import split_multiallelic

    d = spark.createDataFrame(
        [(1, "G,T", "1/2")], "site long, ALT string, GT string"
    )
    plan = _plan(split_multiallelic(d))
    assert "Exchange" not in plan  # pure Generate + projection
    assert "Generate" in plan


def test_annotate_vcf_is_one_narrow_plan(spark):
    """The annotate module's claim: zero joins, zero shuffles — one Generate
    (the explode) over the scan, in both hom-ref modes."""
    import os

    from conftest import DATA_DIR

    from pandasvcf_spark.operators.annotate import annotate_vcf

    golden = os.path.join(DATA_DIR, "golden.vcf")
    for drop in (False, True):
        plan = _plan(annotate_vcf(spark, golden, drop_hom_ref=drop))
        assert "Exchange" not in plan
        assert "Window" not in plan
        assert "Join" not in plan
        assert plan.count("Generate") == 1


def test_annotate_vcf_evaluates_explode_source_once(spark):
    """explode_genotypes' map_filter source runs in the Project feeding the
    explode only: no Filter of the optimized plan may carry a copy of it
    (a plain explode makes Spark infer `size(<source>) > 0` and push it
    down). golden.vcf.gz takes vcf_panel's route — the pre-parse spread
    shuffle and the pushdown barrier — in both hom-ref modes."""
    import os

    from conftest import DATA_DIR

    from pandasvcf_spark.operators.annotate import annotate_vcf

    golden = os.path.join(DATA_DIR, "golden.vcf.gz")
    for drop in (False, True):
        df = annotate_vcf(spark, golden, drop_hom_ref=drop)
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        filters = [
            ln for ln in plan.splitlines()
            if ln.lstrip(" :+-").startswith("Filter ")
        ]
        assert filters, plan
        assert not any("map_filter" in ln for ln in filters), plan
        assert "map_filter" in plan  # the source is still there, once
        physical = _plan(df)
        assert "Window" not in physical
        assert "Join" not in physical


def test_take_token_budget_window_is_partitioned(spark):
    from pandasvcf_spark.operators.sampling import take_token_budget

    d = spark.range(500).select(
        (F.col("id") * 31337).alias("k"), (F.col("id") % 97 + 1).alias("t")
    )
    out = take_token_budget(d, "t", budget=2000, key="k", buckets=8)
    plan = _plan(out)
    if "Window" in plan:
        # the boundary bucket's window partitions by __bkt — never a
        # single-partition global window
        assert "windowspecdefinition(__bkt" in plan.replace(" ", "").lower()


def test_merge_latest_single_window_shuffle(spark):
    from pandasvcf_spark.operators.relational import merge_latest

    base = spark.range(100).select(
        F.col("id").alias("k"), F.lit(0).alias("ver")
    )
    upd = spark.range(50).select(F.col("id").alias("k"), F.lit(1).alias("ver"))
    plan = _plan(merge_latest(base, upd, ["k"], "ver"))
    # one key-partitioned exchange feeding the row_number window; union
    # itself must not add extra shuffles
    assert plan.count("Exchange hashpartitioning(k") == 1


def test_king_kinship_no_cartesian_one_pair_shuffle(spark):
    """Kinship's pair expansion happens INSIDE the per-site row (HOF over
    the panel-bounded list) — the plan must hold zero join nodes of any
    kind and exactly two aggregation shuffles (site collect, pair sum)."""
    from pandasvcf_spark.operators.ld import king_kinship

    d = spark.range(300).select(
        (F.col("id") % 100).alias("site"),
        (F.col("id") % 3).cast("int").alias("k"),
        (F.col("id") % 3).cast("int").alias("dosage"),
    )
    plan = _plan(king_kinship(d, "site", "k", "dosage"))
    assert "CartesianProduct" not in plan
    assert "Join" not in plan  # no join nodes at all
    assert plan.count("Exchange") == 2  # site collect + pair sum


def test_countmin_is_single_partial_aggregated_shuffle(spark):
    from pandasvcf_spark.operators.sketches import countmin_sketch

    d = spark.range(500).select(F.concat(F.lit("k"), "id").alias("k"))
    plan = _plan(countmin_sketch(d, "k", depth=3, width=64))
    assert plan.count("Exchange") == 1  # one grid shuffle
    assert "HashAggregate" in plan


def test_bloom_prune_zero_exchange_pure_filter(spark):
    """The probe is a literal-bitmask expression: after the build collect
    the pruned plan must be scan + filter — zero exchanges, zero joins."""
    from pandasvcf_spark.operators.relational import bloom_prune

    big = spark.range(2000).select(F.col("id").alias("k"))
    small = spark.range(50).select((F.col("id") * 31).alias("k"))
    plan = _plan(bloom_prune(big, "k", small, "k"))
    assert plan.count("Exchange") == 0
    assert "Join" not in plan


def test_k_anonymize_single_unordered_window(spark):
    """One hash exchange for the window, no sort (unordered frame), no
    join-back."""
    from pandasvcf_spark.operators.sampling import k_anonymize

    d = spark.range(200).select(
        (F.col("id") % 7).alias("a"), (F.col("id") % 3).alias("b")
    )
    plan = _plan(k_anonymize(d, ["a", "b"], k=3))
    assert plan.count("Exchange") == 1
    assert "Join" not in plan


def test_ewma_single_groupby_no_window(spark):
    from pandasvcf_spark.operators.relational import ewma_last

    d = spark.range(100).select(
        (F.col("id") % 10).alias("u"), F.col("id").alias("t"),
        (F.col("id") % 7).cast("double").alias("v"),
    )
    plan = _plan(ewma_last(d, "u", ["t"], "v", alpha=0.5))
    assert "Window" not in plan  # fold, not a per-row window re-scan
    assert plan.count("Exchange") == 1


def test_grm_no_cartesian_one_pair_shuffle(spark):
    """GRM shares king_kinship's shape: standardized pair expansion is a
    HOF inside the per-site row — zero join nodes, exactly two
    aggregation shuffles (site collect+freq, pair mean)."""
    from pandasvcf_spark.operators.ld import grm

    d = spark.range(300).select(
        (F.col("id") % 100).alias("site"),
        (F.col("id") % 3).cast("int").alias("k"),
        (F.col("id") % 3).cast("int").alias("dosage"),
    )
    plan = _plan(grm(d, "site", "k", "dosage"))
    assert "CartesianProduct" not in plan
    assert "Join" not in plan
    assert plan.count("Exchange") == 2


def test_unpivot_single_scan_expand_no_union(spark):
    """The melt must be ONE scan + a local Expand — not the UNION ALL of
    per-column scans the portable SQL spelling implies."""
    from pandasvcf_spark.operators.reshape import unpivot_columns

    d = spark.range(100).select(
        F.col("id"), (F.col("id") * 2.0).alias("a"), (F.col("id") + 0.5).alias("b")
    )
    plan = _plan(unpivot_columns(d, ["id"], ["a", "b"]))
    assert "Expand" in plan
    assert "Union" not in plan
    scans = [l for l in plan.splitlines() if "Range (" in l or "Scan" in l]
    assert len(scans) == 1, plan


def test_paragraph_dedup_two_shuffles_no_join(spark):
    """Content-keyed window + reassembly groupBy: exactly two exchanges,
    zero join nodes."""
    from pandasvcf_spark.operators.dedup import paragraph_dedup

    d = spark.createDataFrame(
        [(1, "a\n\nb"), (2, "b\n\nc")], "doc_id long, text string"
    )
    plan = _plan(paragraph_dedup(d, "doc_id", "text"))
    assert "Join" not in plan
    assert plan.count("Exchange") == 2


def test_assoc_rules_no_cartesian_hof_pairs(spark):
    """Basket pair expansion is a HOF inside the basket row; item/total
    counts come back as broadcasts — no cartesian, no shuffle join."""
    from pandasvcf_spark.operators.relational import assoc_rules

    d = spark.range(300).select(
        (F.col("id") % 40).alias("b"),
        F.concat(F.lit("i"), (F.col("id") % 5).cast("string")).alias("it"),
    )
    plan = _plan(assoc_rules(d, "b", "it"))
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    assert "ShuffledHashJoin" not in plan


def test_hamming_join_single_equi_join_no_cartesian(spark):
    """Candidates come from ONE (segment) equi-join — no cartesian, no
    nested-loop; the verify is a post-join expression."""
    from pandasvcf_spark.operators.relational import hamming_join

    l = spark.range(50).select(
        F.col("id").alias("lid"),
        F.concat(F.lit("k"), F.col("id").cast("string")).alias("s"),
    )
    r = spark.range(50).select(
        F.col("id").alias("rid"),
        F.concat(F.lit("k"), F.col("id").cast("string")).alias("t"),
    )
    plan = _plan(hamming_join(l, r, "lid", "s", "rid", "t", k=1))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    joins = [ln for ln in plan.splitlines()
             if "Join" in ln and "BroadcastExchange" not in ln]
    assert len(joins) == 1, plan


def test_rolling_corr_single_window_node_one_exchange(spark):
    """The five same-frame sums must collapse into ONE Window node on
    one key exchange (the docstring's Catalyst same-frame-collapse
    claim) — five separate Window nodes would re-sort five times."""
    from pandasvcf_spark.operators.relational import rolling_corr

    d = spark.range(1000).select(
        (F.col("id") % 7).alias("k"), F.col("id").alias("t"),
        (F.col("id") % 13).cast("double").alias("x"),
        (F.col("id") % 5).cast("double").alias("y"),
    )
    plan = _plan(rolling_corr(d, "k", "t", "x", "y", window=10))
    assert plan.count("Window ") + plan.count("Window\n") <= 2  # node + refs
    assert plan.count("Exchange") == 1


def test_mutual_knn_equi_join_no_cartesian(spark):
    from pandasvcf_spark.operators.similarity import mutual_knn

    pairs = spark.range(500).select(
        (F.col("id") % 50).alias("query_id"),
        (F.col("id") % 37).alias("vec_id"),
        F.rand(1).alias("cossim"),
    )
    plan = _plan(mutual_knn(pairs))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_grouped_exact_quantiles_no_single_partition_no_global_sort(spark):
    """The distributed bucket walk must never funnel data through one
    partition (the scale claim: no collect, no global sort — windows
    are (group)- and (group, bucket)-partitioned)."""
    from pandasvcf_spark.operators.relational import grouped_exact_quantiles

    d = spark.range(2000).select(
        (F.col("id") % 3).alias("g"),
        (F.col("id") % 997).cast("double").alias("v"),
    )
    out = grouped_exact_quantiles(d, ["g"], "v", [0.25, 0.5, 0.9])
    plan = _plan(out)
    assert "Exchange SinglePartition" not in plan
    assert "CartesianProduct" not in plan


def test_pmi_pairs_no_cartesian_hof_expansion(spark):
    """Pair generation is a HOF over the per-doc word array — the plan
    must carry no join at all until the vocab-keyed marginal joins,
    and never a cartesian."""
    from pandasvcf_spark.operators.text_features import pmi_pairs

    d = spark.range(50).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("alpha beta gamma w"), F.col("id") % 7).alias("text"),
    )
    plan = _plan(pmi_pairs(d, min_count=1, top_n=10))
    assert "CartesianProduct" not in plan
    # exactly one BNLJ is expected: the 1-row doc-total broadcast
    # (the documented totals device) — pair generation itself is a HOF
    assert plan.count("BroadcastNestedLoopJoin") <= 1
    assert "TakeOrderedAndProject" in plan  # top_n never global-sorts


def test_ab_test_single_aggregation_no_shuffle_of_rows(spark):
    """One conditional-sum aggregate: exactly one pair of
    HashAggregates (partial + final) and a SinglePartition exchange of
    the 1-row partials only."""
    from pandasvcf_spark.operators.relational import ab_test_proportions

    d = spark.range(1000).select(
        F.when(F.col("id") % 2 == 0, "A").otherwise("B").alias("v"),
        (F.col("id") % 3 == 0).cast("int").alias("y"),
    )
    plan = _plan(ab_test_proportions(d, "v", "y", "A", "B"))
    assert plan.count("HashAggregate") == 2
    assert "Join" not in plan


# --- round-8 continuation stats family -------------------------------------


def test_spearman_single_group_exchange(spark):
    from pandasvcf_spark.operators.stats import spearman_corr

    d = spark.range(500).select(
        (F.col("id") % 3).alias("g"),
        (F.col("id") * 7 % 97).cast("double").alias("x"),
        (F.col("id") * 11 % 89).cast("double").alias("y"),
    )
    plan = _plan(spearman_corr(d, ["g"], "x", "y"))
    # all four windows + the final agg share ONE hashpartitioning on g
    assert plan.count("Exchange hashpartitioning") == 1
    assert "CartesianProduct" not in plan


def test_ks_test_no_join_single_exchange(spark):
    from pandasvcf_spark.operators.stats import ks_test_2samp

    d = spark.range(500).select(
        (F.col("id") % 3).alias("g"),
        (F.col("id") * 13 % 101).cast("double").alias("v"),
        (F.col("id") % 2).cast("int").alias("f"),
    )
    plan = _plan(ks_test_2samp(d, ["g"], "v", "f"))
    assert "Join" not in plan
    assert plan.count("Exchange hashpartitioning") == 1


def test_kmeans_assignment_no_join_no_python(spark):
    from pandasvcf_spark.operators.stats import kmeans_fit

    d = spark.range(200).select(
        F.col("id").alias("pid"),
        (F.col("id") * 3 % 17).cast("double").alias("x"),
        (F.col("id") * 5 % 19).cast("double").alias("y"),
    )
    plan = _plan(kmeans_fit(d, "pid", ["x", "y"], k=3, iters=2))
    # broadcast-literal assignment: no join, no Python evaluation
    assert "Join" not in plan
    assert "Python" not in plan
    assert "BatchEvalPython" not in plan


def test_link_prediction_no_cartesian(spark):
    from pandasvcf_spark.operators.graph import link_prediction

    e = spark.range(300).select(
        (F.col("id") % 40).alias("src"),
        ((F.col("id") * 7) % 40 + 100).alias("dst"),
    )
    plan = _plan(link_prediction(e, top_n=10))
    assert "CartesianProduct" not in plan
    assert "TakeOrderedAndProject" in plan  # rounded-score cut
    # The pair-scoring aggregation exchanges RAW wedge rows (explicit
    # repartition by the pair key; both agg passes post-shuffle) instead
    # of a planner-inserted exchange above a map-side partial agg — a
    # pair's witnesses never co-locate map-side, so the partial pass
    # builds a wedge-sized hash table for ~no reduction (round 16).
    # REPARTITION_BY_COL is the ShuffleOrigin name Spark (3.2+) prints in
    # an Exchange's explain string; a Spark upgrade that renames it fails
    # this pin even when the plan shape is unchanged.
    assert "REPARTITION_BY_COL" in plan


def test_wilson_topk_is_take_ordered(spark):
    from pandasvcf_spark.operators.stats import wilson_topk

    d = spark.range(500).select(
        (F.col("id") % 50).alias("item"), (F.col("id") % 2).alias("y")
    )
    plan = _plan(wilson_topk(d, ["item"], "y", k=10))
    assert "TakeOrderedAndProject" in plan
    assert "Sort [" not in plan


def test_markov_stationary_no_matrix_collect(spark):
    from pandasvcf_spark.operators.relational import markov_stationary

    t = spark.createDataFrame(
        [("a", "b", 3), ("b", "a", 2), ("a", "a", 1)],
        "prev string, next string, cnt int",
    )
    plan = _plan(markov_stationary(t, iters=2))
    # the 1-row renormalization rides as a broadcast, never cartesian
    assert "CartesianProduct" not in plan


def test_roc_points_single_exchange_no_join(spark):
    """The corpus must collapse to distinct-score cells BEFORE the
    cumulative windows (the classifier_report device): the cells
    shuffle (hashpartitioning on the score) sits BELOW the single
    single-partition exchange, so only the vocabulary-sized cell
    table ever crosses one partition — never raw rows (the round-8
    fix for the unpartitioned RANGE window over the raw table)."""
    from pandasvcf_spark.operators.stats import roc_points

    d = spark.range(500).select(
        (F.col("id") % 30).cast("double").alias("s"),
        (F.col("id") % 2).cast("int").alias("y"),
    )
    plan = _plan(roc_points(d, "s", "y"))
    assert "Join" not in plan
    assert "Exchange hashpartitioning" in plan
    # parent-first tree dump: the single-partition exchange (window
    # input) must appear ABOVE the cells shuffle feeding it
    assert plan.index("Exchange SinglePartition") < plan.index(
        "Exchange hashpartitioning"
    )


def test_lorenz_rank_window_is_bucket_partitioned(spark):
    """lorenz_deciles must rank via the bucketed_row_number histogram
    device — the row_number window is partitioned by the value bucket,
    never an unpartitioned global sort of the corpus."""
    from pandasvcf_spark.operators.stats import lorenz_deciles

    d = spark.range(2000).select(
        F.col("id").alias("id"),
        (F.col("id") % 997).cast("double").alias("v"),
    )
    plan = _plan(lorenz_deciles(d, "v", "id"))
    assert "windowspecdefinition(__bk" in plan
    assert "CartesianProduct" not in plan


def test_quantile_shift_no_flag_partitioned_corpus_window(spark):
    """quantile_shift must route through grouped_exact_quantiles —
    windows in the plan are (flag)- and (flag, bucket)-partitioned
    over histogram cells, never a flag-partitioned cumulative window
    over raw rows (two partitions each sorting half the corpus)."""
    from pandasvcf_spark.operators.stats import quantile_shift

    d = spark.range(2000).select(
        (F.col("id") % 2).cast("int").alias("f"),
        (F.col("id") % 997).cast("double").alias("v"),
    )
    plan = _plan(quantile_shift(d, "f", "v", probs=(0.25, 0.5, 0.9)))
    assert "CartesianProduct" not in plan
    # the final-rank window must carry the bucket in its partition key
    assert "windowspecdefinition(__f" in plan
    assert "__b" in plan[plan.index("windowspecdefinition(__f"):][:80]


def test_rfm_rank_windows_bucket_partitioned(spark):
    """rfm_segments must rank each dimension via bucketed_row_number
    (bucket-partitioned windows over the checkpointed user table),
    never an unpartitioned rank window."""
    from pandasvcf_spark.operators.relational import rfm_segments

    d = spark.range(3000).select(
        (F.col("id") % 400).alias("user_id"),
        (F.col("id") % 37).alias("day"),
        (F.col("id") % 53 + 1).alias("value"),
    )
    plan = _plan(rfm_segments(d, "user_id", "day", "value"))
    assert "windowspecdefinition(__bk" in plan
    assert "CartesianProduct" not in plan


def test_skyline_single_window_no_dominance_join(spark):
    from pandasvcf_spark.operators.stats import skyline_2d

    d = spark.range(500).select(
        (F.col("id") * 13 % 211).cast("double").alias("x"),
        (F.col("id") * 29 % 199).cast("double").alias("y"),
    )
    plan = _plan(skyline_2d(d, "x", "y"))
    # the sweep formulation: no self-join, exactly one Window node
    assert "Join" not in plan
    assert plan.count("Window") == 1


def test_bucketed_row_number_equals_global_window(spark):
    """The histogram-offset device must be BIT-IDENTICAL to the global
    window row_number on (key, tiebreak) — including heavy ties, a
    constant-key fallback, and NULL-key rejection."""
    import pytest as _pytest

    from pandasvcf_spark.operators.relational import bucketed_row_number

    d = spark.range(5000).select(
        F.col("id").alias("rid"),
        ((F.col("id") * 2654435761) % 97).cast("double").alias("k"),
    )
    got = {
        r["rid"]: r["rn"]
        for r in bucketed_row_number(d, "k", ["rid"], "rn").collect()
    }
    from pyspark.sql import Window as W

    want = {
        r["rid"]: r["rn"]
        for r in d.withColumn(
            "rn",
            F.row_number()
            .over(W.orderBy(F.col("k").asc(), F.col("rid").asc()))
            .cast("long"),
        ).collect()
    }
    assert got == want
    # the rank window must be bucket-partitioned (never one task)
    plan = bucketed_row_number(d, "k", ["rid"], "rn")._jdf.queryExecution(
    ).executedPlan().toString()
    assert "windowspecdefinition(__bk" in plan
    # constant key: falls back to the plain window, still exact
    c = spark.range(50).select(
        F.col("id").alias("rid"), F.lit(3.0).alias("k")
    )
    rows = bucketed_row_number(c, "k", ["rid"], "rn").collect()
    assert sorted(r["rn"] for r in rows) == list(range(1, 51))
    # NULL keys raise, never silently mis-rank
    n = spark.createDataFrame(
        [(1, 1.0), (2, None)], "rid int, k double"
    )
    with _pytest.raises(ValueError, match="NULL"):
        bucketed_row_number(n, "k", ["rid"], "rn")


def test_ohlc_single_agg_no_window(spark):
    """The candle is ONE partial-aggregated groupBy — struct extremes
    carry open/close, so the plan holds no Window node at all."""
    from pandasvcf_spark.operators.relational import ohlc_candles

    d = spark.range(1000).select(
        (F.col("id") % 3).alias("g"),
        (F.col("id") * 7).alias("t"),
        (F.col("id") % 97).cast("double").alias("v"),
    )
    plan = _plan(ohlc_candles(d, ["g"], "t", "v"))
    assert "Window" not in plan
    assert "Join" not in plan


def test_cmh_two_aggregation_exchanges_no_join(spark):
    """Stratum-keyed 4-counter agg + 1-row fold: no join of data
    relations, no cartesian."""
    from pandasvcf_spark.operators.stats import cmh_test

    d = spark.range(2000).select(
        (F.col("id") % 7).alias("s"),
        (F.col("id") % 2).cast("int").alias("e"),
        (F.floor(F.col("id") / 2) % 2).cast("int").alias("o"),
    )
    plan = _plan(cmh_test(d, "s", "e", "o"))
    assert "Join" not in plan
    assert "CartesianProduct" not in plan


def test_kendall_grid_is_broadcast_never_cartesian(spark):
    """The cell-grid comparison must ride a BroadcastNestedLoopJoin of
    the aggregated cell table — never a CartesianProduct of rows."""
    from pandasvcf_spark.operators.stats import kendall_tau_b

    d = spark.range(3000).select(
        (F.col("id") % 23).alias("x"), (F.col("id") % 17).alias("y")
    )
    plan = _plan(kendall_tau_b(d, "x", "y"))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan
    # the grid inputs are aggregates, not raw rows: the BNLJ appears
    # ABOVE the cell HashAggregates in the parent-first dump
    assert plan.index("BroadcastNestedLoopJoin") < plan.index(
        "HashAggregate"
    )


def test_grm_pca_power_matvec_is_broadcast_no_cartesian(spark):
    """The distributed PCA matvec must broadcast the S-row vector into
    an equi-join against the pair table (pair rows never funnel to the
    driver or a cartesian); the only cross joins in the plan are the
    1-row norm/deflation scalars."""
    from pandasvcf_spark.operators.ld import grm_pca_power

    rows = [
        (f"s{i}", f"s{j}", 0.1 * ((i * 7 + j) % 5))
        for i in range(12)
        for j in range(i, 12)
    ]
    grm_df = spark.createDataFrame(
        rows, "sample_a string, sample_b string, grm double"
    )
    out = grm_pca_power(grm_df, n_components=1, n_iterations=2)
    plan = _plan(out)
    assert "CartesianProduct" not in plan
    # the per-iteration matvec plans live behind localCheckpoints;
    # guard the iterated unit directly
    from pandasvcf_spark.operators.ld import _grm_matvec

    edges = grm_df.select(
        F.col("sample_a").alias("a"),
        F.col("sample_b").alias("b"),
        F.col("grm").alias("g"),
    )
    x = edges.select(F.col("a").alias("s")).distinct().withColumn(
        "v", F.lit(1.0)
    )
    mv = _plan(_grm_matvec(edges, x))
    assert "CartesianProduct" not in mv
    assert "BroadcastHashJoin" in mv


def test_ks_wasserstein_ladder_no_raw_row_window(spark):
    """The ECDF family must window over aggregated distinct-value
    cells, never raw rows: the cumulative Window sits ABOVE the cell
    HashAggregate, and no CartesianProduct appears (the 1-row totals
    ride a broadcast)."""
    from pandasvcf_spark.operators.stats import ks_2sample, wasserstein_1d

    d = spark.range(5000).select(
        (F.col("id") % 2).cast("int").alias("f"),
        (F.col("id") % 37).cast("double").alias("v"),
    )
    for op in (ks_2sample, wasserstein_1d):
        plan = _plan(op(d, "f", "v"))
        assert "CartesianProduct" not in plan
        assert plan.index("Window") < plan.rindex("HashAggregate")


def test_round10_grid_family_broadcast_never_cartesian(spark):
    """ordinal_association / harrell_c / mann_kendall ride the
    kendall cell-grid: BroadcastNestedLoopJoin of aggregated cells,
    never a CartesianProduct of rows."""
    from pandasvcf_spark.operators.stats import (
        harrell_c,
        mann_kendall,
        ordinal_association,
    )

    d = spark.range(3000).select(
        (F.col("id") % 23).cast("double").alias("x"),
        (F.col("id") % 17).cast("double").alias("y"),
        (F.col("id") % 2).cast("int").alias("e"),
    )
    plans = [
        _plan(ordinal_association(d, "x", "y")),
        _plan(harrell_c(d, "x", "e", "y")),
        _plan(mann_kendall(d, "x", "y")),
    ]
    for plan in plans:
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" in plan
        assert plan.index("BroadcastNestedLoopJoin") < plan.index(
            "HashAggregate"
        )


def test_round10_ladder_family_cells_only(spark):
    """ansari_bradley / pettitt_test / fligner_killeen / van_der_waerden
    / cvm_2sample rank over aggregated cells (Window above a
    HashAggregate) and never cartesian-join data-sized relations."""
    from pandasvcf_spark.operators.stats import (
        ansari_bradley,
        cvm_2sample,
        fligner_killeen,
        pettitt_test,
        van_der_waerden,
    )

    d = spark.range(4000).select(
        (F.col("id") % 2).cast("int").alias("f"),
        (F.col("id") % 5).cast("string").alias("g"),
        F.col("id").cast("double").alias("t"),
        (F.col("id") % 41).cast("double").alias("v"),
    )
    plans = [
        _plan(cvm_2sample(d, "f", "v")),
        _plan(ansari_bradley(d, "f", "v")),
        _plan(pettitt_test(d.limit(2000), "t", "v")),
        _plan(fligner_killeen(d, "g", "v")),
        _plan(van_der_waerden(d, "g", "v")),
    ]
    for plan in plans:
        assert "CartesianProduct" not in plan
        assert "Window" in plan and "HashAggregate" in plan


def test_fdr_bucketed_ladder_bit_identical_no_single_partition(spark):
    """fdr_correct above `ladder_cells` re-cuts its three global ladder
    windows through the bucketed-offset device and swaps the broadcast
    join-back for a shuffle join (round-10 verdict task 6 + ADVICE).
    Both regimes must be BIT-identical on all three methods, and the
    big regime's executed plan must carry NO single-partition exchange
    — no task ever sorts the whole distinct-p cell table."""
    from pandasvcf_spark.operators.stats import fdr_correct

    df = spark.range(20000).select(
        F.col("id"),
        F.when(F.col("id") % 97 == 0, None).otherwise(
            ((F.col("id") * 2654435761) % 7013).cast("double") / 7013.0
        ).alias("p"),
    )
    for method in ("bh", "holm", "bonferroni"):
        small = fdr_correct(df, "p", method).orderBy("id").collect()
        big = fdr_correct(
            df, "p", method, ladder_cells=500, n_buckets=32
        ).orderBy("id").collect()
        assert small == big, method
    plan = (
        fdr_correct(df, "p", "holm", ladder_cells=500, n_buckets=32)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange SinglePartition" not in plan
    # the envelope window is bucket-partitioned, like bucketed_row_number
    assert "windowspecdefinition(__bk" in plan


def _assert_no_single_partition_sort(plan: str) -> None:
    """No single task ever sorts a data-sized relation: every
    `Exchange SinglePartition` in the plan (the 1-row total folds are
    allowed — they move a handful of partial-agg rows) must NOT feed
    a Sort. In the printed tree the Sort parent appears on the line
    directly above its Exchange child."""
    lines = [ln for ln in plan.splitlines() if ln.strip()]
    for i, ln in enumerate(lines):
        if "Exchange SinglePartition" in ln:
            assert i == 0 or "Sort" not in lines[i - 1], (
                lines[i - 1],
                ln,
            )


def test_ecdf_bucketed_ladder_bit_identical_no_single_partition(spark):
    """Round-11 verdict ask #4: the fdr_correct bucketed-offset re-cut,
    generalized through `stats._ladder.bucketed_running_sums`, now
    backs the whole ECDF family above `ladder_cells`. Both regimes
    must be BIT-identical on every member (integer counts — addition
    order cannot matter), and each big-regime executed plan must carry
    bucket-partitioned ladder windows and NO single-partition sort."""
    from pandasvcf_spark.operators.stats import (
        anderson_darling_2samp,
        cvm_2sample,
        ks_2sample,
        kuiper_2sample,
        roc_points,
        wasserstein_1d,
    )

    d = spark.range(20000).select(
        (F.col("id") % 2).cast("int").alias("f"),
        (
            ((F.col("id") * 2654435761) % 6007).cast("double") / 13.0
            + (F.col("id") % 2).cast("double") * 7.0
        ).alias("v"),
    )
    two_sample = [
        ks_2sample,
        kuiper_2sample,
        anderson_darling_2samp,
        wasserstein_1d,
        cvm_2sample,
    ]
    for op in two_sample:
        small = op(d, "f", "v").collect()
        big_df = op(d, "f", "v", ladder_cells=500, n_buckets=32)
        assert small == big_df.collect(), op.__name__
        plan = big_df._jdf.queryExecution().executedPlan().toString()
        _assert_no_single_partition_sort(plan)
        assert "windowspecdefinition(__bk" in plan, op.__name__

    small = roc_points(d, "v", "f").collect()
    big_df = roc_points(d, "v", "f", ladder_cells=500, n_buckets=32)
    assert small == big_df.collect()
    plan = big_df._jdf.queryExecution().executedPlan().toString()
    _assert_no_single_partition_sort(plan)
    assert "windowspecdefinition(__bk" in plan


def test_label_propagation_equi_joins_only(spark):
    """LPA rounds must be equi-joins + partial-agged counts + a struct
    argmax fold — never a cartesian/NL join, never a rank window (the
    min-label tie-break is a single aggregate)."""
    from pandasvcf_spark.operators.graph import label_propagation

    e = spark.range(3000).select(
        (F.col("id") % 97).alias("src"),
        ((F.col("id") * 31) % 89 + 100).alias("dst"),
    )
    plan = (
        label_propagation(e, iters=2)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "HashAggregate" in plan
    assert "windowspecdefinition" not in plan  # argmax is an agg


def test_mrr_eval_never_sorts(spark):
    """The count-of-better design claim: no Sort node anywhere — first
    relevant rank comes from max_by + a conditional count, never a
    rank window."""
    from pandasvcf_spark.operators.stats import mrr_eval

    d = spark.range(500).select(
        (F.col("id") % 20).alias("q"),
        F.col("id").alias("cid"),
        (F.col("id") % 97).cast("double").alias("s"),
        (F.col("id") % 7 == 0).alias("rel"),
    )
    plan = _plan(mrr_eval(d, "q", "cid", "s", "rel", k=10))
    # no rank window, and no GLOBAL sort: max(struct(...)) lowers to
    # SortAggregate (struct keys aren't hash-aggregable), whose sorts
    # are per-partition on the GROUP key (global flag false) — the
    # design claim is "never sort the candidate lists by score", i.e.
    # no Window and no global Sort node
    assert "Window" not in plan
    assert "], true, 0" not in plan


def test_ntile_bucket_stats_window_partitioned_by_group(spark):
    """The cell ladder runs PARTITION BY group — no unpartitioned
    window over the score cells, and the bucket explode follows the
    collapse (Generate above the aggregate, not over raw rows)."""
    from pandasvcf_spark.operators.text_features import ntile_bucket_stats

    d = spark.range(2000).select(
        (F.col("id") % 4).cast("string").alias("g"),
        (F.col("id") % 50).cast("double").alias("s"),
    )
    plan = _plan(ntile_bucket_stats(d, "g", "s", 3))
    assert "windowspecdefinition(__g" in plan or "partitionBy" in plan or (
        "Window" in plan and "windowspecdefinition()" not in plan
    )


def test_mmr_rerank_broadcast_stages_no_cartesian_after_candidates(spark):
    """Greedy rounds: the selected set ships as a BroadcastExchange
    (pair-sim stage) and the anti-join is a broadcast anti — no
    CartesianProduct node anywhere; the only nested-loop join is the
    bounded candidate stage's broadcast NLJ."""
    from pandasvcf_spark.operators.similarity import mmr_rerank

    corpus = spark.range(60).select(
        F.col("id").alias("vec_id"),
        F.array(*[(F.col("id") * (i + 1) % 17).cast("double")
                  for i in range(4)]).alias("embedding"),
    )
    q = corpus.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = mmr_rerank(corpus, q, k=3, k_candidates=5)
    plan = _plan(out)
    assert "CartesianProduct" not in plan


def test_dunn_and_seasonal_mk_grids_broadcast_never_cartesian(spark):
    from pandasvcf_spark.operators.stats import (
        dunn_test,
        seasonal_mann_kendall,
    )

    d = spark.range(500).select(
        (F.col("id") % 3).cast("string").alias("g"),
        (F.col("id") % 13).cast("double").alias("v"),
        # t = id keeps (g, t) unique — the round-13 duplicate-time
        # tripwire raises eagerly on tied times
        F.col("id").cast("double").alias("t"),
    )
    p1 = _plan(dunn_test(d, "g", "v"))
    assert "CartesianProduct" not in p1
    assert "BroadcastExchange" in p1
    p2 = _plan(seasonal_mann_kendall(d, "g", "t", "v"))
    assert "CartesianProduct" not in p2
    assert "BroadcastExchange" in p2


def test_pr_points_recut_no_single_partition_sort(spark):
    """Above ladder_cells the PR ladder re-cuts through the bucketed
    device: windows are partitioned by bucket, no SinglePartition
    exchange feeds a Sort."""
    from pandasvcf_spark.operators.stats import pr_points

    d = spark.range(4000).select(
        (F.col("id") % 977).cast("double").alias("s"),
        (F.col("id") % 3 == 0).cast("int").alias("y"),
    )
    plan = _plan(pr_points(d, "s", "y", ladder_cells=1, n_buckets=16))
    import re

    # no Sort directly above a SinglePartition exchange
    assert not re.search(
        r"Sort \[[^\]]*\][\s\S]{0,200}Exchange SinglePartition", plan
    )


def test_round12_series_and_grid_family_no_cartesian(spark):
    """The late round-12 shapes: KPSS/ADF position lag joins, energy/
    MMD cell grids, Breslow-Day's stratum fold, raking's margin
    windows, conformal's ladder, DML's pure-agg passes — broadcast or
    bounded everywhere, never a CartesianProduct."""
    from pandasvcf_spark.operators.stats import (
        adf_test,
        breslow_day,
        conformal_interval,
        energy_distance_2samp,
        kpss_test,
        mmd_rbf_2samp,
        rake_weights,
    )

    ser = spark.range(60).select(
        F.col("id").cast("double").alias("t"),
        ((F.col("id") * 7) % 13).cast("double").alias("v"),
    )
    for df in (kpss_test(ser, "t", "v", lags=3), adf_test(ser, "t", "v")):
        p = _plan(df)
        assert "CartesianProduct" not in p
    # kpss's lag pairing must be a HASH-joinable equi-join (the
    # review-caught n² nested-loop regression guard): the only NLJ
    # nodes allowed are the 1-row broadcast Cross folds
    pk = _plan(kpss_test(ser, "t", "v", lags=3))
    assert "BroadcastHashJoin [__ib" in pk
    assert "BroadcastNestedLoopJoin BuildRight, Inner" not in pk

    two = spark.range(300).select(
        (F.col("id") % 2).cast("int").alias("g"),
        (F.col("id") % 17).cast("double").alias("v"),
    )
    for df in (
        energy_distance_2samp(two, "g", "v"),
        mmd_rbf_2samp(two, "g", "v", sigma=2.0),
    ):
        p = _plan(df)
        assert "CartesianProduct" not in p
        assert "BroadcastExchange" in p

    strat = spark.range(400).select(
        (F.col("id") % 4).cast("string").alias("s"),
        (F.col("id") % 2).cast("int").alias("e"),
        ((F.col("id") * 7) % 2).cast("int").alias("o"),
    )
    p = _plan(breslow_day(strat, "s", "e", "o"))
    assert "CartesianProduct" not in p

    rk = spark.range(500).select(
        (F.col("id") % 5).cast("string").alias("r"),
        (F.col("id") % 2).cast("int").alias("c"),
    )
    p = _plan(rake_weights(rk, "r", "c", iters=2))
    assert "CartesianProduct" not in p
    # both margin passes are PARTITIONED windows over the cell table
    assert "windowspecdefinition()" not in p

    cf = spark.range(400).select(
        (F.col("id") % 2 == 0).alias("cal"),
        (F.col("id") % 5).cast("string").alias("g"),
        ((F.col("id") * 13) % 97).cast("double").alias("y"),
    )
    p = _plan(conformal_interval(cf, "cal", "g", "y"))
    assert "CartesianProduct" not in p


def test_round13_shapes_no_cartesian(spark):
    """The round-13 shapes: SemDeDup's within-cell pair join (+ the
    incremental new-endpoint variant), the IVFPQ+refine composition's
    cell probe + vec_id rerank joins, the Pareto front's bucketed
    envelope, and the temperature-weights fold — equi-joins /
    broadcasts / bounded grids everywhere, never a CartesianProduct,
    and the big-regime envelope never sorts on a single partition."""
    import re

    import numpy as np

    from pandasvcf_spark.operators.dedup import (
        semantic_dedup,
        semantic_dedup_incremental,
    )
    from pandasvcf_spark.operators.relational import pareto_front
    from pandasvcf_spark.operators.sampling import temperature_weights
    from pandasvcf_spark.operators.similarity import (
        ivfpq_encode,
        ivfpq_rerank_topk,
        pq_train_codebooks,
        kmeans_fit,
    )

    rng = np.random.default_rng(29)
    V = rng.normal(0, 1, (120, 32))
    d = spark.createDataFrame(
        [(i, [float(x) for x in V[i]]) for i in range(120)],
        "vec_id long, embedding array<float>",
    )
    cents, _ = kmeans_fit(d, k=4, max_iter=3)

    p = _plan(semantic_dedup(d, cents, threshold=0.9))
    assert "CartesianProduct" not in p
    p = _plan(
        semantic_dedup_incremental(
            d.filter(F.col("vec_id") < 60),
            d.filter(F.col("vec_id") >= 60),
            cents,
            threshold=0.9,
        )
    )
    assert "CartesianProduct" not in p

    books = pq_train_codebooks(d, n_subspaces=4, n_centroids=8)
    codes = ivfpq_encode(d, cents, books)
    qs = d.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    p = _plan(
        ivfpq_rerank_topk(codes, d, qs, cents, books,
                          k=3, k_candidates=10, n_probe=2)
    )
    assert "CartesianProduct" not in p
    assert "BroadcastHashJoin" in p  # probe tables ride a broadcast

    pts = spark.range(4000).select(
        ((F.col("id") * 2654435761) % 997).cast("double").alias("x"),
        ((F.col("id") * 40503) % 991).cast("double").alias("y"),
    )
    p = _plan(pareto_front(pts, "x", "y", ladder_cells=50, n_buckets=16))
    assert "CartesianProduct" not in p
    assert not re.search(
        r"Sort \[[^\]]*\][\s\S]{0,200}Exchange SinglePartition", p
    )

    tw = spark.range(500).select(
        (F.col("id") % 5).cast("string").alias("g"),
        (F.col("id") % 7).cast("double").alias("m"),
    )
    p = _plan(temperature_weights(tw, "g", 0.3, "m"))
    assert "CartesianProduct" not in p
    assert "BroadcastExchange" in p  # the 1-row totals fold


def test_round14_imi_no_cartesian(spark):
    """Round-14 IMI plan shape: the probe→candidate stage is an
    equi-join on the product-cell id — never a CartesianProduct — and
    the corpus-side assignment carries no join at all (pure literal
    arrays). The tiny query side rides a broadcast."""
    import numpy as np

    from pandasvcf_spark.operators.similarity import imi_fit, imi_topk

    rng = np.random.default_rng(17)
    V = rng.normal(0, 1, (200, 16))
    d = spark.createDataFrame(
        [(i, [float(x) for x in V[i]]) for i in range(200)],
        "vec_id long, embedding array<float>",
    )
    ca, cb = imi_fit(d, k=4, max_iter=2)
    qs = d.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    p = _plan(imi_topk(d, qs, ca, cb, k=3, n_probe_cells=4))
    assert "CartesianProduct" not in p
    assert "__cell" in p  # the equi-join key survives into the plan


def test_round14_guard_probe_fusion(spark):
    """Round-14 (verdict task 6 — guard-probe fusion): the fused
    series-contract tripwire pays ONE probe job where the kpss/adf/
    seasonal-MK paths previously ran two (size + duplicates) or three
    (+ cell bound) back-to-back aggs over the same base; semantics
    (messages, precedence) unchanged — the round-13 guard pytest still
    passes. ece_summary's validation is fused into its bin agg: the
    returned fold runs on a LOCAL relation, so the corpus is scanned
    once instead of probe-scan + action-scan."""
    import uuid

    from pandasvcf_spark.operators.stats import ece_summary
    from pandasvcf_spark.operators.stats._guards import (
        _assert_series_contract,
        _assert_series_sized,
        _assert_unique_times,
    )

    uniq = spark.createDataFrame(
        [(float(i), float((i * 7) % 5)) for i in range(40)],
        "t double, v double",
    )
    uniq = uniq.localCheckpoint(eager=True)  # isolate probe jobs
    tracker = spark.sparkContext.statusTracker()

    def count_jobs(fn):
        group = f"fusion-probe-{uuid.uuid4()}"
        spark.sparkContext.setJobGroup(group, "job-count probe")
        try:
            fn()
        finally:
            spark.sparkContext.setJobGroup(None, None)
        return len(tracker.getJobIdsForGroup(group))

    unfused = count_jobs(
        lambda: (
            _assert_series_sized(uniq, "x", 100_000),
            _assert_unique_times(uniq, ["t"], "x"),
        )
    )
    fused = count_jobs(
        lambda: _assert_series_contract(uniq, ["t"], "x", 100_000)
    )
    # one agg action instead of two: at least one fewer Spark job on
    # the guarded path (AQE splits a single distinct-agg action into
    # multiple jobs, so absolute counts float; the REDUCTION is the
    # contract)
    assert fused < unfused, (unfused, fused)
    # the cell-bound variant (the seasonal-MK shape, formerly THREE
    # probe aggs) is also a single action
    fused_cells = count_jobs(
        lambda: _assert_series_contract(
            uniq, ["t"], "x", None, max_cells=100_000,
            cell_cols=["t", "v"],
        )
    )
    assert fused_cells < unfused, (unfused, fused_cells)

    # ECE: the returned DataFrame folds a local relation — no second
    # corpus scan at action time (validation rode the bin agg)
    ok = spark.createDataFrame(
        [(0.1 * i, i % 2) for i in range(10)], "s double, y int"
    )
    out = ece_summary(ok, "s", "y")
    p = _plan(out)
    assert "LocalTableScan" in p or "ExistingRDD" in p, p
    assert out.collect()[0]["n"] == 10

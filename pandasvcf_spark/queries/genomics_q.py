"""Genomics-operator catalog entries (SURVEY §2.6 F-series, A1, J1, P5/P7).

The VCF testdata lives in `/root/reference/test_data` (covered by golden
tests), but the driver's oracle runs on the TPC-H-ish tables — so these
entries derive a deterministic genotype relation FROM lineitem/part (both
engines build the identical strings), then run the REAL genomics expressions
from `pandasvcf_spark.functions.genomics` on the Spark side while the oracle
recomputes the expected answers from the derivation components with plain
CASE SQL. This oracle-verifies the parser/classifier semantics themselves.

Derivation (shared contract — keep the two sides in lockstep):
    gt1  = '.'                    when l_orderkey % 19 = 0
           (l_linenumber + l_orderkey) % 3   otherwise
    gt2  = '.'                    when l_suppkey % 23 = 0
           l_partkey % 3                     otherwise
    sep  = '|' when l_suppkey % 2 = 0 else '/'
    haploid (GT = gt1 alone)      when l_orderkey % 31 = 0
    GT   = gt1 || sep || gt2      otherwise
    REF  = 'A', ALT = 'G,T'  (alleles: 0->A, 1->G, 2->T)
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from pandasvcf_spark.functions.genomics import (
    MISSING_GT,
    format_map_expr,
    gt_index_expr,
    gt_parts_expr,
    multiallele_expr,
    phase_expr,
    strip_chr,
    vartype_expr,
    with_gt_alleles,
    zygosity_expr,
)
from pandasvcf_spark.operators.relational import dedup_annotate_join
from pandasvcf_spark.queries.registry import register
from pandasvcf_spark.queries.tables import load


def _gen_barrier(col, name):
    """Materialization barrier: route a (reused, expensive) expression
    through explode(array(...)) — a Generate node. Catalyst will NOT push
    predicates below a generator output nor substitute the expression into
    downstream references, so the value is computed exactly once per row.

    Why it's needed here: these catalog queries DERIVE genotype strings from
    lineitem columns, then filter/classify on them. Plain projections get
    predicate-pushdown substitution — the optimizer inlined the GT CASE tree
    into a NOT-IN filter at the scan, producing a 55 KB filter node and a
    janino 64 KB method overflow (silent interpreted fallback). A
    non-deterministic fence column does not survive column pruning; the
    generator barrier does. The real VCF pipeline never needs this: its GT
    is a data column, not a derived expression."""
    return F.explode(F.array(col)).alias(name)


def derived_genotypes(spark, sf_dir):
    """The shared derived genotype relation (Spark side). Columns:
    l_orderkey, l_linenumber, REF, ALT, GT (behind a generator barrier).

    The scan is spread across the session's cores BEFORE the derive/parse:
    sf0.1's lineitem is one parquet file → 3 scan partitions, and because
    every downstream projection (GT derive, split, allele lookup, CASE
    classify) collapses onto the scan stage, 29 of 32 cores sat idle —
    measured 1.48 → 1.05 s on the zygosity histogram (round 6). A
    repartition AFTER the parse does nothing (the projections stay below
    the new exchange). No-op at real scale, where scans yield thousands
    of partitions — same rationale as minhash's repartition_to.

    HASH-keyed on l_orderkey, not round-robin: a keyless repartition(n)
    pays a local sort of its input first (sortBeforeRepartition — needed
    so retried tasks reproduce the same row→partition assignment), while
    hash partitioning on a real column is deterministic per row and skips
    the sort. Measured round 15 (sf0.1, interleaved min-of-6): 1.26 s →
    0.88 s on the zygosity histogram; ~150k distinct orderkeys spread
    evenly over any realistic partition count."""
    li = load(spark, sf_dir, "lineitem").repartition(
        spark.sparkContext.defaultParallelism, F.col("l_orderkey")
    )
    gt1 = F.when(F.col("l_orderkey") % 19 == 0, ".").otherwise(
        ((F.col("l_linenumber") + F.col("l_orderkey")) % 3).cast("string")
    )
    gt2 = F.when(F.col("l_suppkey") % 23 == 0, ".").otherwise(
        (F.col("l_partkey") % 3).cast("string")
    )
    sep = F.when(F.col("l_suppkey") % 2 == 0, "|").otherwise("/")
    gt = F.when(F.col("l_orderkey") % 31 == 0, gt1).otherwise(
        F.concat(gt1, sep, gt2)
    )
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.lit("A").alias("REF"),
        F.lit("G,T").alias("ALT"),
        _gen_barrier(gt, "GT"),
    )


#: Oracle-side twin of `derived_genotypes` + recomputed expected annotations.
#: gt2v/a2/GT2 already account for haploid (NULL/'.'/NULL respectively).
# NOTE: raw derivation columns are named p1/p2/p2v (not gt1/gt2) because
# DuckDB identifiers are case-insensitive — `gt1` would collide with the
# derived `GT1` output column.
_GENO_CTE = """
WITH geno AS (
  SELECT l_orderkey, l_linenumber,
         CASE WHEN l_orderkey % 19 = 0 THEN '.'
              ELSE CAST((l_linenumber + l_orderkey) % 3 AS VARCHAR) END AS p1,
         CASE WHEN l_suppkey % 23 = 0 THEN '.'
              ELSE CAST(l_partkey % 3 AS VARCHAR) END AS p2,
         CASE WHEN l_suppkey % 2 = 0 THEN '|' ELSE '/' END AS sep,
         (l_orderkey % 31 = 0) AS haploid
  FROM lineitem
), g AS (
  SELECT l_orderkey, l_linenumber, haploid, p1, sep,
         CASE WHEN haploid THEN p1 ELSE p1 || sep || p2 END AS GT,
         CASE WHEN haploid THEN NULL ELSE p2 END AS p2v
  FROM geno
), ann AS (
  SELECT l_orderkey, l_linenumber, haploid, GT,
         CASE WHEN haploid THEN '-' ELSE sep END AS phase,
         CASE WHEN p1 = '.' THEN NULL ELSE CAST(p1 AS INT) END AS GT1,
         CASE WHEN p2v IS NULL OR p2v = '.' THEN NULL
              ELSE CAST(p2v AS INT) END AS GT2,
         CASE p1 WHEN '.' THEN '.' WHEN '0' THEN 'A'
                 WHEN '1' THEN 'G' WHEN '2' THEN 'T' END AS a1,
         CASE WHEN p2v IS NULL THEN '.'
              ELSE CASE p2v WHEN '.' THEN '.' WHEN '0' THEN 'A'
                            WHEN '1' THEN 'G' WHEN '2' THEN 'T' END END AS a2
  FROM g
)
"""

_ZYG_SQL = """CASE
  WHEN a1 = 'A' AND a2 = 'A' THEN 'hom-ref'
  WHEN a1 = '.' AND a2 = '.' THEN 'hom-miss'
  WHEN a1 = '.' OR a2 = '.' THEN 'het-miss'
  WHEN a1 <> 'A' AND a2 <> 'A' AND a1 <> a2 THEN 'het-alt'
  WHEN a1 <> 'A' AND a2 <> 'A' AND a1 = a2 THEN 'hom-alt'
  ELSE 'het-ref' END"""


def _gt_parsed(spark, sf_dir):
    """GT-parse layer shared by the F-series queries. The parsed a1/a2 are
    bounded expressions over the barrier-protected GT attribute, so
    downstream zygosity references stay small."""
    df = with_gt_alleles(
        derived_genotypes(spark, sf_dir).withColumn("phase", phase_expr("GT"))
    )
    return df.select(
        "l_orderkey", "l_linenumber", "GT", "phase", "GT1", "GT2", "a1", "a2"
    )


@register(
    "f2f3_gt_parse",
    oracle=_GENO_CTE
    + """
    SELECT l_orderkey, l_linenumber, GT, phase, GT1, GT2, a1, a2 FROM ann
    """,
)
def f2f3_gt_parse(spark, sf_dir):
    """Phase detection + GT split + allele lookup (reference F2/F3 —
    get_phase variant_annotations.py:24-31, vector_GT_alleles :21-60),
    parsing the GT *string* with the real engine expressions."""
    return _gt_parsed(spark, sf_dir)


@register(
    "f4_zygosity",
    headline=True,
    oracle=_GENO_CTE
    + f"""
    SELECT {_ZYG_SQL} AS zygosity, count(*) AS n FROM ann GROUP BY 1
    """,
)
def f4_zygosity(spark, sf_dir):
    """Zygosity classification histogram (reference F4, zygosity_fast
    variant_annotations.py:64-127)."""
    df = _gt_parsed(spark, sf_dir)
    return (
        df.select(zygosity_expr(F.col("a1"), F.col("a2"), F.lit("A")).alias("zygosity"))
        .groupBy("zygosity")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@register(
    "f4_zygosity_hemi",
    oracle=_GENO_CTE
    + f"""
    SELECT CASE WHEN haploid AND a1 = '.' THEN 'hemi-miss'
                WHEN haploid AND a1 = 'A' THEN 'hemi-ref'
                WHEN haploid THEN 'hemi-alt'
                ELSE {_ZYG_SQL} END AS zygosity,
           count(*) AS n
    FROM ann GROUP BY 1
    """,
)
def f4_zygosity_hemi(spark, sf_dir):
    """Zygosity histogram under the opt-in haploid='hemi' mode (SURVEY
    §7.2's deferred design decision, closed round 6): true single-allele
    calls (phase '-') classify as hemi-ref/hemi-alt/hemi-miss instead of
    folding into het-miss; diploid rows are untouched (same branches as
    `f4_zygosity`, which stays the reference-parity default)."""
    df = _gt_parsed(spark, sf_dir)
    return (
        df.select(
            zygosity_expr(
                F.col("a1"),
                F.col("a2"),
                F.lit("A"),
                haploid=F.col("phase") == "-",
                haploid_mode="hemi",
            ).alias("zygosity")
        )
        .groupBy("zygosity")
        .agg(F.count(F.lit(1)).alias("n"))
    )


#: (REF, allele) pairs covering every vartype branch, chosen by p_partkey % 8.
#: Expected labels per reference vartype_map semantics (SURVEY §2.6 F5,
#: incl. the '.'-vs-1-char-REF -> snp quirk).
_VT_PAIRS = [
    ("A", "A", "ref"),
    ("A", "G", "snp"),
    ("CA", "AT", "mnp"),
    ("AT", "A", "del"),
    ("A", "AT", "ins"),
    ("ACG", "AT", "indel"),
    ("A", ".", "snp"),
    ("TTT", "T", "del"),
]


@register(
    "f5_vartype",
    oracle="""
    SELECT p_partkey,
           CASE p_partkey % 8 {ref_cases} END AS ref,
           CASE p_partkey % 8 {alt_cases} END AS allele,
           CASE p_partkey % 8 {label_cases} END AS vartype
    FROM part
    """.format(
        ref_cases=" ".join(
            f"WHEN {i} THEN '{r}'" for i, (r, _, _) in enumerate(_VT_PAIRS)
        ),
        alt_cases=" ".join(
            f"WHEN {i} THEN '{a}'" for i, (_, a, _) in enumerate(_VT_PAIRS)
        ),
        label_cases=" ".join(
            f"WHEN {i} THEN '{l}'" for i, (_, _, l) in enumerate(_VT_PAIRS)
        ),
    ),
)
def f5_vartype(spark, sf_dir):
    """Variant-type classification (reference F5, vartype_map
    variant_annotations.py:130-162): the engine's HOF char-diff expression
    vs hardcoded expected labels for a pair set covering every branch."""
    p = load(spark, sf_dir, "part")
    k = F.col("p_partkey") % 8
    ref_expr = None
    alt_expr = None
    for i, (r, a, _) in enumerate(_VT_PAIRS):
        ref_expr = (
            F.when(k == i, r) if ref_expr is None else ref_expr.when(k == i, r)
        )
        alt_expr = (
            F.when(k == i, a) if alt_expr is None else alt_expr.when(k == i, a)
        )
    df = p.select(
        "p_partkey", ref_expr.alias("ref"), alt_expr.alias("allele")
    )
    return df.withColumn("vartype", vartype_expr(F.col("ref"), F.col("allele")))


@register(
    "f6_multiallele",
    oracle="""
    SELECT p_partkey,
           CASE p_partkey % 3 WHEN 0 THEN 'G' WHEN 1 THEN 'G,T'
                              ELSE 'G,T,C' END AS alt,
           CAST(len(string_split(CASE p_partkey % 3 WHEN 0 THEN 'G'
                WHEN 1 THEN 'G,T' ELSE 'G,T,C' END, ',')) - 1 AS INT)
             AS multiallele
    FROM part
    """,
)
def f6_multiallele(spark, sf_dir):
    """Multiallelic comma count (reference F6, variant_annotations.py:504)."""
    p = load(spark, sf_dir, "part")
    alt = (
        F.when(F.col("p_partkey") % 3 == 0, "G")
        .when(F.col("p_partkey") % 3 == 1, "G,T")
        .otherwise("G,T,C")
    )
    return p.select("p_partkey", alt.alias("alt")).withColumn(
        "multiallele", multiallele_expr("alt")
    )


@register(
    "f1_strip_chr",
    oracle="""
    SELECT n_nationkey,
           regexp_replace(CASE n_nationkey % 3
             WHEN 0 THEN 'chr' || CAST(n_nationkey AS VARCHAR)
             WHEN 1 THEN CAST(n_nationkey AS VARCHAR)
             ELSE 'chrchr' || CAST(n_nationkey AS VARCHAR) END,
             '^chr', '') AS chrom
    FROM nation
    """,
)
def f1_strip_chr(spark, sf_dir):
    """Anchored chr-prefix normalization (reference F1, pandasvcf.py:177 —
    anchored here, the unanchored replace is a documented reference bug)."""
    n = load(spark, sf_dir, "nation")
    raw = (
        F.when(F.col("n_nationkey") % 3 == 0, F.concat(F.lit("chr"), F.col("n_nationkey").cast("string")))
        .when(F.col("n_nationkey") % 3 == 1, F.col("n_nationkey").cast("string"))
        .otherwise(F.concat(F.lit("chrchr"), F.col("n_nationkey").cast("string")))
    )
    return n.select("n_nationkey", strip_chr(raw).alias("chrom"))


@register(
    "f7_format_map",
    oracle="""
    WITH fmt AS (
      SELECT s_suppkey,
             CASE WHEN s_suppkey % 5 = 0 THEN 'GT:DP' ELSE 'GT:DP:GQ' END AS fm,
             CASE WHEN s_suppkey % 5 = 0
                  THEN '0|1:' || CAST(s_suppkey % 100 AS VARCHAR)
                  ELSE '0|1:' || CAST(s_suppkey % 100 AS VARCHAR) || ':'
                       || CAST(s_suppkey % 60 AS VARCHAR) END AS call
      FROM supplier)
    SELECT s_suppkey,
           string_split(call, ':')[list_position(string_split(fm, ':'), 'GT')] AS GT,
           CAST(string_split(call, ':')[list_position(string_split(fm, ':'), 'DP')] AS INT) AS DP,
           CASE WHEN list_position(string_split(fm, ':'), 'GQ') = 0 THEN NULL
                ELSE CAST(string_split(call, ':')[list_position(string_split(fm, ':'), 'GQ')] AS INT)
           END AS GQ
    FROM fmt
    """,
)
def f7_format_map(spark, sf_dir):
    """FORMAT/call zip into a map + field extraction (reference F7,
    _qual_preprocess variant_annotations.py:593-611) over heterogeneous
    FORMAT layouts — no per-FORMAT dispatch (reference R4 eliminated)."""
    s = load(spark, sf_dir, "supplier")
    short = F.col("s_suppkey") % 5 == 0
    fm = F.when(short, "GT:DP").otherwise("GT:DP:GQ")
    dp = (F.col("s_suppkey") % 100).cast("string")
    gq = (F.col("s_suppkey") % 60).cast("string")
    call = F.when(short, F.concat(F.lit("0|1:"), dp)).otherwise(
        F.concat(F.lit("0|1:"), dp, F.lit(":"), gq)
    )
    df = s.select("s_suppkey", fm.alias("fm"), call.alias("call"))
    m = format_map_expr("fm", "call")
    return df.select(
        "s_suppkey",
        F.try_element_at(m, F.lit("GT")).alias("GT"),
        F.try_element_at(m, F.lit("DP")).try_cast("int").alias("DP"),
        F.try_element_at(m, F.lit("GQ")).try_cast("int").alias("GQ"),
    )


@register(
    "f8_split_columns",
    oracle="""
    WITH t AS (
      SELECT s_suppkey,
             CAST(s_suppkey % 40 AS VARCHAR) || ',' ||
             CAST(s_suppkey % 17 AS VARCHAR) AS AD
      FROM supplier)
    SELECT s_suppkey, string_split(AD, ',')[1] AS AD_0,
           string_split(AD, ',')[2] AS AD_1
    FROM t
    """,
)
def f8_split_columns(spark, sf_dir):
    """Comma sub-field split into indexed columns (reference F8,
    variant_annotations.py:718-735)."""
    s = load(spark, sf_dir, "supplier")
    ad = F.concat(
        (F.col("s_suppkey") % 40).cast("string"),
        F.lit(","),
        (F.col("s_suppkey") % 17).cast("string"),
    )
    df = s.select("s_suppkey", ad.alias("AD"))
    parts = F.split("AD", ",")
    return df.select(
        "s_suppkey",
        F.try_element_at(parts, F.lit(1)).alias("AD_0"),
        F.try_element_at(parts, F.lit(2)).alias("AD_1"),
    )


@register(
    "p5p7_missing_filters",
    oracle=_GENO_CTE
    + """
    SELECT l_orderkey % 10 AS bucket, count(*) AS n FROM ann
    WHERE GT NOT IN ('./.', '.|.', '.') AND GT IS NOT NULL
    GROUP BY 1
    """,
)
def p5p7_missing_filters(spark, sf_dir):
    """Missing-genotype filter (reference P7, variant_annotations.py:614-622)
    over the derived relation."""
    df = derived_genotypes(spark, sf_dir)
    kept = df.filter(F.col("GT").isNotNull() & ~F.col("GT").isin(*MISSING_GT))
    return kept.groupBy((F.col("l_orderkey") % 10).alias("bucket")).agg(
        F.count(F.lit(1)).alias("n")
    )


@register(
    "a1_homref_window",
    oracle=_GENO_CTE
    + f"""
    SELECT l_orderkey, l_linenumber,
           CAST(count(*) FILTER (WHERE {_ZYG_SQL} = 'hom-ref')
                OVER (PARTITION BY l_orderkey) AS BIGINT) AS hom_ref_counts
    FROM ann
    """,
)
def a1_homref_window(spark, sf_dir):
    """Per-site hom-ref count broadcast to every row (reference A1+J3 —
    get_hom_ref_counts variant_annotations.py:165-180 + join :694-699) as a
    single window aggregate: agg+join collapsed into one shuffle."""
    df = _gt_parsed(spark, sf_dir)
    zyg = zygosity_expr(F.col("a1"), F.col("a2"), F.lit("A"))
    w = Window.partitionBy("l_orderkey")
    return df.select(
        "l_orderkey",
        "l_linenumber",
        F.count(F.when(zyg == "hom-ref", F.lit(1))).over(w).alias("hom_ref_counts"),
    )


@register(
    "j1_dedup_annotate",
    oracle=_GENO_CTE
    + """
    SELECT g.l_orderkey, g.l_linenumber, g.GT, d.GT1
    FROM g LEFT JOIN (
      SELECT DISTINCT GT,
             CASE WHEN string_split_regex(GT, '[/|]')[1] = '.' THEN NULL
                  ELSE CAST(string_split_regex(GT, '[/|]')[1] AS INT) END AS GT1
      FROM g) d USING (GT)
    """,
)
def j1_dedup_annotate(spark, sf_dir):
    """Dedup-then-annotate-then-join-back (reference J1,
    variant_annotations.py:667-685) as a generic operator: annotations
    computed once per distinct GT, broadcast back onto all rows."""
    df = derived_genotypes(spark, sf_dir)
    ann = dedup_annotate_join(
        df,
        keys=["GT"],
        annotations=[gt_index_expr(gt_parts_expr("GT").getItem(0)).alias("GT1")],
    )
    return ann.select("l_orderkey", "l_linenumber", "GT", "GT1")


@register(
    "r1_explode_map",
    oracle="""
    WITH calls AS (
      SELECT s_suppkey,
             CASE WHEN s_suppkey % 7 = 0 THEN '.' ELSE '0|1' END AS c1,
             CASE WHEN s_suppkey % 3 = 0 THEN '.' ELSE '1|1' END AS c2
      FROM supplier
    ), long AS (
      SELECT s_suppkey, 'S1' AS sample_ids, c1 AS call FROM calls
      UNION ALL
      SELECT s_suppkey, 'S2', c2 FROM calls
    )
    SELECT sample_ids, count(*) AS n FROM long
    WHERE call <> '.'
    GROUP BY sample_ids
    """,
)
def r1_explode_map(spark, sf_dir):
    """Wide→long stack (reference R1, variant_annotations.py:575-581): a
    samples MAP exploded to one row per (site, sample) with '.' (missing)
    calls dropped — exactly the engine's VCF explode path, on derived data."""
    s = load(spark, sf_dir, "supplier")
    c1 = F.when(F.col("s_suppkey") % 7 == 0, ".").otherwise("0|1")
    c2 = F.when(F.col("s_suppkey") % 3 == 0, ".").otherwise("1|1")
    wide = s.select(
        "s_suppkey", F.create_map(F.lit("S1"), c1, F.lit("S2"), c2).alias("samples")
    )
    long_df = wide.select(
        "s_suppkey", F.explode("samples").alias("sample_ids", "call")
    ).filter(F.nullif(F.col("call"), F.lit(".")).isNotNull())
    return long_df.groupBy("sample_ids").agg(F.count(F.lit(1)).alias("n"))


@register(
    "p6p8_sentinel_homref",
    oracle=_GENO_CTE
    + f"""
    SELECT {_ZYG_SQL} AS zygosity, count(*) AS n FROM ann
    WHERE GT NOT IN ('./.', '.|.', '.')
      AND {_ZYG_SQL} <> 'hom-ref'
    GROUP BY 1
    """,
)
def p6p8_sentinel_homref(spark, sf_dir):
    """Missing-sentinel mapping + hom-ref drop (reference P6/P8/F9 —
    variant_annotations.py:571,704-706): the drop filter runs AFTER any
    count that must survive it (plan order encoded explicitly)."""
    df = _gt_parsed(spark, sf_dir)
    df = df.filter(F.col("GT").isNotNull() & ~F.col("GT").isin(*MISSING_GT))
    zyg = zygosity_expr(F.col("a1"), F.col("a2"), F.lit("A"))
    return (
        df.select(zyg.alias("zygosity"))
        .filter(F.col("zygosity") != "hom-ref")
        .groupBy("zygosity")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@register(
    "udf_vartype_pandas",
    oracle="""
    SELECT p_partkey,
           CASE p_partkey % 8 {label_cases} END AS vartype
    FROM part
    """.format(
        label_cases=" ".join(
            f"WHEN {i} THEN '{l}'" for i, (_, _, l) in enumerate(_VT_PAIRS)
        ),
    ),
)
def udf_vartype_pandas(spark, sf_dir):
    """The §2.9 user-extension surface under oracle check: the Arrow-batched
    pandas UDF twin of vartype_expr (functions/udf_ext.py) must reproduce
    the same labels the SQL oracle hardcodes."""
    from pandasvcf_spark.functions.udf_ext import py_vartype

    df = f5_vartype(spark, sf_dir)
    return df.select(
        "p_partkey", py_vartype()(F.col("ref"), F.col("allele")).alias("vartype")
    )


@register(
    "flagship_annotate",
    headline=True,
    oracle=_GENO_CTE
    + f"""
    SELECT {_ZYG_SQL} AS zygosity,
           CASE WHEN a2 = 'A' THEN 'ref' ELSE 'snp' END AS vartype2,
           count(*) AS n
    FROM ann
    WHERE GT NOT IN ('./.', '.|.', '.')
    GROUP BY 1, 2
    """,
)
def flagship_annotate(spark, sf_dir):
    """The flagship pipeline shape on testdata: parse → filter missing →
    annotate (phase/alleles/zygosity/vartype) → histogram. Mirrors the VCF
    E3 pipeline (SURVEY §3) end-to-end with every F-series expression."""
    df = derived_genotypes(spark, sf_dir)
    df = with_gt_alleles(
        df.filter(F.col("GT").isNotNull() & ~F.col("GT").isin(*MISSING_GT))
    )
    return (
        df.select(
            zygosity_expr(F.col("a1"), F.col("a2"), F.lit("A")).alias("zygosity"),
            vartype_expr(F.lit("A"), F.col("a2")).alias("vartype2"),
        )
        .groupBy("zygosity", "vartype2")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@register(
    "g_split_multiallelic",
    oracle=_GENO_CTE
    + """
    SELECT l_orderkey, l_linenumber, GT,
           CAST(j AS INT) AS alt_index,
           CASE j WHEN 1 THEN 'G' ELSE 'T' END AS alt_allele,
           CASE WHEN contains(GT, '|')
                THEN array_to_string(
                  list_transform(string_split_regex(GT, '[/|]'), t ->
                    CASE WHEN t = '0' THEN '0'
                         WHEN t = CAST(j AS VARCHAR) THEN '1'
                         ELSE '.' END), '|')
                ELSE array_to_string(
                  list_transform(string_split_regex(GT, '[/|]'), t ->
                    CASE WHEN t = '0' THEN '0'
                         WHEN t = CAST(j AS VARCHAR) THEN '1'
                         ELSE '.' END), '/')
           END AS gt_split
    FROM g, generate_series(1, 2) AS s(j)
    """,
)
def g_split_multiallelic(spark, sf_dir):
    """Multiallelic site splitting (operators/reshape.split_multiallelic):
    every ALT='G,T' call becomes two biallelic records with remapped
    genotypes — 1/2 splits to 1/. (vs G) and ./1 (vs T) under the default
    others='missing' convention. Pure Generate + token transform, zero
    shuffle; the oracle replays the remap token-by-token in SQL."""
    from pandasvcf_spark.operators.reshape import split_multiallelic

    d = derived_genotypes(spark, sf_dir)
    out = split_multiallelic(d, alt_col="ALT", gt_col="GT")
    return out.select(
        "l_orderkey", "l_linenumber", "GT", "alt_index", "alt_allele", "gt_split"
    )


@register(
    "g_split_pl",
    oracle=_GENO_CTE
    + """
    , plv AS (
      SELECT l_orderkey, l_linenumber,
             CASE WHEN l_orderkey % 29 = 0
                  THEN CAST((l_orderkey + 1*l_linenumber) % 83 AS VARCHAR)
                    || ',' || CAST((l_orderkey + 2*l_linenumber) % 83 AS VARCHAR)
                    || ',' || CAST((l_orderkey + 3*l_linenumber) % 83 AS VARCHAR)
                  ELSE CAST((l_orderkey + 1*l_linenumber) % 83 AS VARCHAR)
                    || ',' || CAST((l_orderkey + 2*l_linenumber) % 83 AS VARCHAR)
                    || ',' || CAST((l_orderkey + 3*l_linenumber) % 83 AS VARCHAR)
                    || ',' || CAST((l_orderkey + 4*l_linenumber) % 83 AS VARCHAR)
                    || ',' || CAST((l_orderkey + 5*l_linenumber) % 83 AS VARCHAR)
                    || ',' || CAST((l_orderkey + 6*l_linenumber) % 83 AS VARCHAR)
             END AS pls
      FROM g),
    sp AS (
      SELECT l_orderkey, l_linenumber, j, string_split(pls, ',') AS parts
      FROM plv, generate_series(1, 2) AS s(j))
    SELECT l_orderkey, l_linenumber, CAST(j AS INT) AS alt_index,
           CASE WHEN parts[1] IS NOT NULL
                 AND parts[CAST((j*(j+1))//2 + 1 AS INT)] IS NOT NULL
                 AND parts[CAST((j*(j+1))//2 + j + 1 AS INT)] IS NOT NULL
                THEN parts[1]
                  || ',' || parts[CAST((j*(j+1))//2 + 1 AS INT)]
                  || ',' || parts[CAST((j*(j+1))//2 + j + 1 AS INT)]
           END AS pl_split
    FROM sp
    """,
)
def g_split_pl(spark, sf_dir):
    """Number=G (PL) re-slicing through the multiallelic split
    (functions/genomics.slice_g_field_expr over
    operators/reshape.split_multiallelic): the genotype-indexed likelihood
    triangle keeps elements {(0,0),(0,k),(k,k)} = 0-based indices
    {0, k(k+1)/2, k(k+1)/2+k} for alternate k — bcftools `norm -m-`'s PL
    handling. A deterministic PL is derived per site (every 29th site
    carries a biallelic-arity 3-list, exercising the too-short→NULL rule
    for k=2 and the identity slice for k=1); the oracle replays the index
    map element-by-element in SQL. Reference parity anchor: FORMAT blocks
    like SWGR_titin's GT:FT:GQ:HQ:DP:AD motivate the per-field Number
    dispatch (reference test_data/SWGR_titin.vcf.gz)."""
    from pandasvcf_spark.functions.genomics import slice_g_field_expr
    from pandasvcf_spark.operators.reshape import split_multiallelic

    d = derived_genotypes(spark, sf_dir)
    o, l = F.col("l_orderkey"), F.col("l_linenumber")
    parts6 = [((o + i * l) % 83).cast("string") for i in range(1, 7)]
    pl = F.when(o % 29 == 0, F.concat_ws(",", *parts6[:3])).otherwise(
        F.concat_ws(",", *parts6)
    )
    out = split_multiallelic(d.withColumn("PL", pl))
    return out.select(
        "l_orderkey",
        "l_linenumber",
        "alt_index",
        slice_g_field_expr("PL", F.col("alt_index")).alias("pl_split"),
    )


@register(
    "g_cohort_qc",
    oracle=_GENO_CTE
    + """
    , calls AS (
      SELECT l_orderkey, l_linenumber,
             (CASE WHEN a1 = 'A' THEN 1 ELSE 0 END)
             + (CASE WHEN a2 = 'A' THEN 1 ELSE 0 END) AS nref
      FROM ann WHERE a1 <> '.' AND a2 <> '.'),
    freq AS (
      SELECT l_orderkey,
             2.0 * (sum(nref) / (2.0 * count(*)))
               * (1.0 - sum(nref) / (2.0 * count(*))) AS ehet
      FROM calls GROUP BY 1),
    inb AS (
      SELECT l_linenumber AS sample,
             count(*) AS n_called,
             CAST(sum(CASE WHEN nref = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS obs_het,
             sum(ehet) AS e
      FROM calls JOIN freq USING (l_orderkey)
      GROUP BY 1),
    tot AS (
      SELECT l_linenumber AS sample, count(*) AS n_sites
      FROM ann GROUP BY 1)
    SELECT sample, n_sites,
           coalesce(n_called, 0) AS n_called,
           round(coalesce(n_called, 0) / CAST(n_sites AS DOUBLE), 4)
             AS call_rate,
           coalesce(obs_het, 0) AS obs_het,
           CASE WHEN n_called > 0
                THEN round(obs_het / CAST(n_called AS DOUBLE), 4)
           END AS het_rate,
           round(e, 4) AS exp_het,
           CASE WHEN e > 0 THEN round(1.0 - obs_het / e, 4) END AS f
    FROM tot LEFT JOIN inb USING (sample)
    """,
)
def g_cohort_qc(spark, sf_dir):
    """One-call per-sample cohort QC table (operators/annotate.cohort_qc):
    call rate, het rate, expected heterozygosity and inbreeding F in a
    single composition — the table a study reads first. The oracle
    replays the whole composition (counts, p̂, expected-het join-back,
    rates) term-for-term."""
    from pandasvcf_spark.operators.annotate import cohort_qc

    d = _gt_parsed(spark, sf_dir).withColumn("REF", F.lit("A"))
    return cohort_qc(d, ["l_orderkey"], "l_linenumber")


@register(
    "g_kinship",
    oracle=_GENO_CTE
    + """
    , dos AS (
      SELECT l_orderkey AS s, l_linenumber AS k,
             min(CASE WHEN a1 <> '.' AND a2 <> '.' THEN
               (CASE WHEN a1 <> 'A' THEN 1 ELSE 0 END)
               + (CASE WHEN a2 <> 'A' THEN 1 ELSE 0 END)
             END) AS d
      FROM ann GROUP BY 1, 2),
    called AS (SELECT * FROM dos WHERE d IS NOT NULL),
    pr AS (
      SELECT a.k AS sample_a, b.k AS sample_b,
             count(*) AS n_shared,
             CAST(sum(CASE WHEN a.d = 1 AND b.d = 1 THEN 1 ELSE 0 END)
                  AS BIGINT) AS hb,
             CAST(sum(CASE WHEN abs(a.d - b.d) = 2 THEN 1 ELSE 0 END)
                  AS BIGINT) AS opp,
             CAST(sum(CASE WHEN a.d = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS ha,
             CAST(sum(CASE WHEN b.d = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS hj
      FROM called a JOIN called b ON a.s = b.s AND a.k < b.k
      GROUP BY 1, 2)
    SELECT sample_a, sample_b, n_shared,
           CASE WHEN n_shared >= 10 AND ha + hj > 0
                THEN round(CAST(hb - 2 * opp AS DOUBLE)
                           / CAST(ha + hj AS DOUBLE), 4)
           END AS phi
    FROM pr
    """,
)
def g_kinship(spark, sf_dir):
    """Pairwise KING-robust kinship (operators/ld.king_kinship; plink2
    --make-king family) over the pseudo-sample panel: per-site
    within-panel pair expansion (bounded by panel width, the
    minhash-bucket contract) into one partial-aggregated per-pair
    counter sum — never a shuffle of site×sample×sample rows, never
    per-sample site-length maps. The oracle affords the naive
    per-site self-join and replays the counters and the φ formula."""
    from pandasvcf_spark.operators.ld import king_kinship

    d = _gt_parsed(spark, sf_dir)
    a1, a2 = F.col("a1"), F.col("a2")
    dosage = F.when(
        (a1 != ".") & (a2 != "."),
        (a1 != "A").cast("int") + (a2 != "A").cast("int"),
    )
    dd = (
        d.withColumn("dosage", dosage)
        .groupBy("l_orderkey", "l_linenumber")
        .agg(F.min("dosage").alias("dosage"))
    )
    return king_kinship(
        dd, "l_orderkey", "l_linenumber", "dosage", min_sites=10
    )


@register(
    "g_inbreeding",
    oracle=_GENO_CTE
    + """
    , calls AS (
      SELECT l_orderkey, l_linenumber,
             (CASE WHEN a1 = 'A' THEN 1 ELSE 0 END)
             + (CASE WHEN a2 = 'A' THEN 1 ELSE 0 END) AS nref
      FROM ann WHERE a1 <> '.' AND a2 <> '.'),
    freq AS (
      SELECT l_orderkey,
             2.0 * (sum(nref) / (2.0 * count(*)))
               * (1.0 - sum(nref) / (2.0 * count(*))) AS ehet
      FROM calls GROUP BY 1),
    agg AS (
      SELECT l_linenumber AS sample,
             count(*) AS n_called,
             CAST(sum(CASE WHEN nref = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS obs_het,
             sum(ehet) AS e
      FROM calls JOIN freq USING (l_orderkey)
      GROUP BY 1)
    SELECT sample, n_called, obs_het,
           round(e, 4) AS exp_het,
           CASE WHEN e > 0 THEN round(1.0 - obs_het / e, 4) END AS f
    FROM agg
    """,
)
def g_inbreeding(spark, sf_dir):
    """Per-sample inbreeding coefficient F
    (operators/annotate.inbreeding_stats; plink --het's
    method-of-moments): observed vs expected heterozygosity with the
    cohort as its own frequency panel — the third leg of the QC triad
    beside g_sample_qc and g_hwe. Frequency pass + J-series join-back +
    per-sample aggregation; the oracle replays p-hat, the expected-het
    sum and F term-for-term."""
    from pandasvcf_spark.operators.annotate import inbreeding_stats

    d = _gt_parsed(spark, sf_dir).withColumn("REF", F.lit("A"))
    return inbreeding_stats(d, ["l_orderkey"], "l_linenumber")


@register(
    "g_roh",
    oracle=_GENO_CTE
    + """
    , uniq AS (
      SELECT l_linenumber AS k, l_orderkey AS pos,
             min(a1 || '|' || a2) AS pair
      FROM ann GROUP BY 1, 2),
    alle AS (
      SELECT k, pos, string_split(pair, '|')[1] AS a1,
             string_split(pair, '|')[2] AS a2
      FROM uniq),
    calld AS (
      SELECT k, pos, a1, a2,
             row_number() OVER (PARTITION BY k ORDER BY pos) AS rn
      FROM alle WHERE a1 <> '.' AND a2 <> '.'),
    hom AS (
      SELECT k, pos,
             rn - row_number() OVER (PARTITION BY k ORDER BY pos) AS grp
      FROM calld WHERE a1 = a2)
    SELECT k AS sample, min(pos) AS start_pos, max(pos) AS end_pos,
           count(*) AS n_sites
    FROM hom GROUP BY k, grp HAVING count(*) >= 3
    """,
)
def g_roh(spark, sf_dir):
    """Runs of homozygosity (operators/annotate.roh_runs; plink
    --homozyg family) per pseudo-sample over the parsed derived
    genotypes: maximal consecutive-called-site runs where both alleles
    agree, uncalled sites skipped, het sites breaking the run, runs
    under 25 sites dropped. Duplicate (sample, site) rows collapse to
    the lexicographically-min allele pair first (deterministic on both
    engines). Gap-and-island plan: two row_numbers over one (sample,
    pos) window, one groupBy — a single shuffle on the sample key."""
    from pandasvcf_spark.operators.annotate import roh_runs

    d = _gt_parsed(spark, sf_dir)
    uniq = (
        d.groupBy(
            F.col("l_linenumber").alias("k"),
            F.col("l_orderkey").alias("pos"),
        )
        .agg(
            F.min(
                F.concat(F.col("a1"), F.lit("|"), F.col("a2"))
            ).alias("pair")
        )
        .select(
            "k",
            "pos",
            F.split(F.col("pair"), r"\|").getItem(0).alias("a1"),
            F.split(F.col("pair"), r"\|").getItem(1).alias("a2"),
        )
    )
    return roh_runs(uniq, "k", "pos", min_sites=3)


@register(
    "g_ld",
    oracle=_GENO_CTE
    + """
    , dos AS (
      SELECT l_orderkey AS s, l_linenumber AS k,
             min(CASE WHEN a1 <> '.' AND a2 <> '.' THEN
               (CASE WHEN a1 <> 'A' THEN 1 ELSE 0 END)
               + (CASE WHEN a2 <> 'A' THEN 1 ELSE 0 END)
             END) AS d
      FROM ann GROUP BY 1, 2),
    called AS (SELECT * FROM dos WHERE d IS NOT NULL),
    pr AS (
      SELECT a.s AS site_a, b.s AS site_b,
             count(*) AS n,
             sum(a.d) AS sx, sum(b.d) AS sy, sum(a.d * b.d) AS sxy,
             sum(a.d * a.d) AS sxx, sum(b.d * b.d) AS syy
      FROM called a JOIN called b
        ON a.k = b.k AND b.s > a.s AND b.s - a.s <= 40
      GROUP BY 1, 2)
    SELECT site_a, site_b, site_a AS pos_a, site_b AS pos_b,
           n AS n_samples,
           CASE WHEN n >= 2 AND n * sxx - sx * sx > 0
                  AND n * syy - sy * sy > 0
                THEN round(
                  CAST((n * sxy - sx * sy) * (n * sxy - sx * sy) AS DOUBLE)
                  / CAST((n * sxx - sx * sx) * (n * syy - sy * sy)
                         AS DOUBLE), 4)
           END AS r2
    FROM pr
    """,
)
def g_ld(spark, sf_dir):
    """Pairwise linkage-disequilibrium r² (operators/ld.ld_r2; plink
    --r2 family) for site pairs within 40 positions on the derived
    relation: genotype-dosage correlation with pairwise deletion,
    monomorphic pairs NULL. The engine plan is the banded-join
    discipline (sites self-join on window bins, each ordered pair
    matching exactly once; one HOF fold per pair over the two sample→
    dosage maps — all-integer sums, one division at the end); the
    oracle affords the naive per-sample pair join and replays the same
    integer sums and formula."""
    from pandasvcf_spark.operators.ld import ld_r2

    d = _gt_parsed(spark, sf_dir)
    a1, a2 = F.col("a1"), F.col("a2")
    dosage = F.when(
        (a1 != ".") & (a2 != "."),
        (a1 != "A").cast("int") + (a2 != "A").cast("int"),
    )
    # the derived relation repeats (site, sample) (duplicate lineitem
    # rows with different partkeys) — LD needs one genotype per slot, so
    # collapse with min (NULL-ignoring on both engines)
    dd = (
        d.withColumn("dosage", dosage)
        .groupBy("l_orderkey", "l_linenumber")
        .agg(F.min("dosage").alias("dosage"))
        .withColumn("pos", F.col("l_orderkey"))
    )
    return ld_r2(
        dd, "l_orderkey", "pos", "l_linenumber", "dosage", max_dist=40
    )


@register(
    "g_af_spectrum",
    oracle=_GENO_CTE
    + """
    , cls AS (
      SELECT l_orderkey,
             CASE WHEN a1 <> '.' AND a2 <> '.' THEN
               (CASE WHEN a1 = 'A' THEN 1 ELSE 0 END)
               + (CASE WHEN a2 = 'A' THEN 1 ELSE 0 END)
             END AS nref
      FROM ann),
    agg AS (
      SELECT l_orderkey,
             CAST(sum(CASE WHEN nref IS NOT NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_called,
             CAST(sum(CASE WHEN nref = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_het,
             CAST(sum(CASE WHEN nref = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_hom_alt
      FROM cls GROUP BY l_orderkey)
    SELECT 2 * n_called AS an, n_het + 2 * n_hom_alt AS ac,
           count(*) AS n_sites
    FROM agg GROUP BY 1, 2
    """,
)
def g_af_spectrum(spark, sf_dir):
    """Site-frequency spectrum (operators/annotate.af_spectrum): sites
    per (allele number, alternate allele count) cell over the parsed
    derived genotypes — population genetics' first summary, stratified by
    call number so incomplete sites never blur the spectrum. All-integer:
    the oracle replays the genotype-class counts and the (an, ac)
    histogram exactly. Two partial-aggregated shuffles (sites × 3
    counters, then the tiny histogram)."""
    from pandasvcf_spark.operators.annotate import af_spectrum

    d = _gt_parsed(spark, sf_dir).withColumn("REF", F.lit("A"))
    return af_spectrum(d, ["l_orderkey"])


@register(
    "g_mendel",
    oracle=_GENO_CTE
    + """
    , piv AS (
      SELECT l_orderkey,
        max(CASE WHEN l_linenumber = 1 THEN a1 END) AS c1,
        max(CASE WHEN l_linenumber = 1 THEN a2 END) AS c2,
        max(CASE WHEN l_linenumber = 2 THEN a1 END) AS f1,
        max(CASE WHEN l_linenumber = 2 THEN a2 END) AS f2,
        max(CASE WHEN l_linenumber = 3 THEN a1 END) AS m1,
        max(CASE WHEN l_linenumber = 3 THEN a2 END) AS m2
      FROM ann WHERE l_linenumber IN (1, 2, 3) GROUP BY l_orderkey)
    SELECT l_orderkey, c1, c2,
      CASE WHEN c1 IS NULL OR c2 IS NULL OR f1 IS NULL OR f2 IS NULL
             OR m1 IS NULL OR m2 IS NULL
             OR c1 = '.' OR c2 = '.' OR f1 = '.' OR f2 = '.'
             OR m1 = '.' OR m2 = '.'
           THEN 'incomplete'
           WHEN ((c1 = f1 OR c1 = f2) AND (c2 = m1 OR c2 = m2))
             OR ((c1 = m1 OR c1 = m2) AND (c2 = f1 OR c2 = f2))
           THEN 'consistent' ELSE 'violation' END AS status
    FROM piv
    """,
)
def g_mendel(spark, sf_dir):
    """Mendelian trio consistency (operators/annotate.mendel_check;
    bcftools +mendelian / plink --mendel family) over the parsed derived
    genotypes with pseudo-samples 1/2/3 as child/father/mother: a child
    genotype is consistent when one allele can come from each parent
    (either assignment); absent members or missing alleles → incomplete.
    One partial-aggregated pivot groupBy (sites × 6 short strings of
    shuffle) + a pure CASE verdict; the oracle replays pivot and verdict
    verbatim. Real-fixture form: the same operator over the 1000G long
    table with actual sample ids."""
    from pandasvcf_spark.operators.annotate import mendel_check

    d = _gt_parsed(spark, sf_dir)
    return mendel_check(d, ["l_orderkey"], "l_linenumber", 1, 2, 3)


@register(
    "g_tdt",
    oracle=_GENO_CTE
    + """
    , piv AS (
      SELECT l_orderkey,
        max(CASE WHEN l_linenumber = 1 THEN a1 END) AS c1,
        max(CASE WHEN l_linenumber = 1 THEN a2 END) AS c2,
        max(CASE WHEN l_linenumber = 2 THEN a1 END) AS f1,
        max(CASE WHEN l_linenumber = 2 THEN a2 END) AS f2,
        max(CASE WHEN l_linenumber = 3 THEN a1 END) AS m1,
        max(CASE WHEN l_linenumber = 3 THEN a2 END) AS m2
      FROM ann WHERE l_linenumber IN (1, 2, 3) GROUP BY l_orderkey),
    ok AS (
      SELECT *,
        (c1 IS NOT NULL AND c2 IS NOT NULL AND f1 IS NOT NULL
         AND f2 IS NOT NULL AND m1 IS NOT NULL AND m2 IS NOT NULL
         AND c1 <> '.' AND c2 <> '.' AND f1 <> '.' AND f2 <> '.'
         AND m1 <> '.' AND m2 <> '.'
         AND (((c1 = f1 OR c1 = f2) AND (c2 = m1 OR c2 = m2))
           OR ((c1 = m1 OR c1 = m2) AND (c2 = f1 OR c2 = f2))))
          AS used
      FROM piv),
    dos AS (
      SELECT CASE WHEN used THEN 1 ELSE 0 END AS used,
        CASE WHEN used THEN
          (CASE WHEN c1 <> 'A' THEN 1 ELSE 0 END)
          + (CASE WHEN c2 <> 'A' THEN 1 ELSE 0 END) END AS tc,
        CASE WHEN used THEN
          (CASE WHEN f1 <> 'A' THEN 1 ELSE 0 END)
          + (CASE WHEN f2 <> 'A' THEN 1 ELSE 0 END) END AS tf,
        CASE WHEN used THEN
          (CASE WHEN m1 <> 'A' THEN 1 ELSE 0 END)
          + (CASE WHEN m2 <> 'A' THEN 1 ELSE 0 END) END AS tm
      FROM ok),
    terms AS (
      SELECT used,
        CASE WHEN tf = 1 THEN 1 ELSE 0 END AS hf,
        CASE WHEN tm = 1 THEN 1 ELSE 0 END AS hm,
        tc, tf, tm
      FROM dos),
    site AS (
      SELECT used, hf + hm AS inf,
        tc - ((1 - hf) * tf + (1 - hm) * tm) / 2 AS b_site
      FROM terms),
    tdtg AS (
      SELECT CAST(sum(used) AS BIGINT) AS n_sites_used,
        CAST(coalesce(sum(inf), 0) AS BIGINT) AS n_informative,
        CAST(coalesce(sum(b_site), 0) AS BIGINT) AS b,
        CAST(coalesce(sum(inf - b_site), 0) AS BIGINT) AS c
      FROM site)
    SELECT n_sites_used, n_informative, b, c,
      round(CASE WHEN n_informative > 0 THEN
        (CAST(b AS DOUBLE) - c) * (CAST(b AS DOUBLE) - c)
          / (CAST(b AS DOUBLE) + c) END, 6) + 0.0 AS chi2
    FROM tdtg
    """,
)
def g_tdt(spark, sf_dir):
    """Transmission disequilibrium test (operators/annotate.tdt_test;
    Spielman et al. 1993, plink --tdt) over the derived trio
    (pseudo-samples 1/2/3 as child/father/mother): het-parent alt vs
    ref transmissions, McNemar chi2 = (b-c)²/(b+c), with transmission
    counts as exact dosage arithmetic over the mendel-consistent
    complete sites. The oracle replays the pivot, the consistency
    screen, the dosage fold and the chi2."""
    from pandasvcf_spark.operators.annotate import tdt_test

    d = _gt_parsed(spark, sf_dir)
    return tdt_test(d, ["l_orderkey"], "l_linenumber", 1, 2, 3)


@register(
    "g_hwe",
    oracle=_GENO_CTE
    + """
    , cls AS (
      SELECT l_orderkey,
             CASE WHEN a1 <> '.' AND a2 <> '.' THEN
               (CASE WHEN a1 = 'A' THEN 1 ELSE 0 END)
               + (CASE WHEN a2 = 'A' THEN 1 ELSE 0 END)
             END AS nref
      FROM ann),
    agg AS (
      SELECT l_orderkey,
             CAST(sum(CASE WHEN nref = 2 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_hom_ref,
             CAST(sum(CASE WHEN nref = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_het,
             CAST(sum(CASE WHEN nref = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_hom_alt
      FROM cls GROUP BY l_orderkey),
    withp AS (
      SELECT *, CAST(n_hom_ref + n_het + n_hom_alt AS DOUBLE) AS n,
             CASE WHEN n_hom_ref + n_het + n_hom_alt > 0
                  THEN (2.0 * n_hom_ref + n_het)
                       / (2.0 * CAST(n_hom_ref + n_het + n_hom_alt
                                     AS DOUBLE))
             END AS p
      FROM agg)
    SELECT l_orderkey, n_hom_ref, n_het, n_hom_alt,
           n_hom_ref + n_het + n_hom_alt AS n_called,
           CASE WHEN n > 0 THEN round(1.0 - p, 4) END AS af_alt,
           CASE WHEN n > 0 THEN round(
             (CASE WHEN p * p * n > 0
                   THEN (n_hom_ref - p * p * n) * (n_hom_ref - p * p * n)
                        / (p * p * n) ELSE 0.0 END)
             + (CASE WHEN 2.0 * p * (1.0 - p) * n > 0
                     THEN (n_het - 2.0 * p * (1.0 - p) * n)
                          * (n_het - 2.0 * p * (1.0 - p) * n)
                          / (2.0 * p * (1.0 - p) * n) ELSE 0.0 END)
             + (CASE WHEN (1.0 - p) * (1.0 - p) * n > 0
                     THEN (n_hom_alt - (1.0 - p) * (1.0 - p) * n)
                          * (n_hom_alt - (1.0 - p) * (1.0 - p) * n)
                          / ((1.0 - p) * (1.0 - p) * n) ELSE 0.0 END), 4)
           END AS chi2
    FROM withp
    """,
)
def g_hwe(spark, sf_dir):
    """Per-site Hardy-Weinberg chi-square (operators/annotate.hwe_stats)
    over the parsed derived genotypes — the population-genetics QC screen
    (plink --hardy's collapsed ref/non-ref mode): observed hom-ref / het /
    hom-alt counts vs the p², 2p(1−p), (1−p)² expectation from the
    ref-allele frequency; fixed sites score 0, zero-called sites NULL.
    One partial-aggregated groupBy on the site key — sites × 3 counters
    of shuffle; the oracle replays counts, frequency and the chi-square
    arithmetic term-for-term."""
    from pandasvcf_spark.operators.annotate import hwe_stats

    d = _gt_parsed(spark, sf_dir).withColumn("REF", F.lit("A"))
    return hwe_stats(d, ["l_orderkey"], a1_col="a1", a2_col="a2",
                     ref_col="REF")


@register(
    "g_sample_qc",
    oracle=_GENO_CTE
    + f"""
    , zyg AS (SELECT l_linenumber, {_ZYG_SQL} AS z FROM ann)
    SELECT l_linenumber,
           count(*) AS n_sites,
           CAST(sum(CASE WHEN z NOT LIKE '%miss%' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_called,
           round(sum(CASE WHEN z NOT LIKE '%miss%' THEN 1 ELSE 0 END)
                 / CAST(count(*) AS DOUBLE), 4) AS call_rate,
           CASE WHEN sum(CASE WHEN z NOT LIKE '%miss%' THEN 1 ELSE 0 END) > 0
                THEN round(sum(CASE WHEN z IN ('het-ref', 'het-alt')
                               THEN 1 ELSE 0 END)
                     / CAST(sum(CASE WHEN z NOT LIKE '%miss%'
                                THEN 1 ELSE 0 END) AS DOUBLE), 4)
           END AS het_rate,
           CASE WHEN sum(CASE WHEN z NOT LIKE '%miss%' THEN 1 ELSE 0 END) > 0
                THEN round(sum(CASE WHEN z = 'hom-alt' THEN 1 ELSE 0 END)
                     / CAST(sum(CASE WHEN z NOT LIKE '%miss%'
                                THEN 1 ELSE 0 END) AS DOUBLE), 4)
           END AS hom_alt_rate
    FROM zyg GROUP BY l_linenumber
    """,
)
def g_sample_qc(spark, sf_dir):
    """Per-sample QC metrics (operators/annotate.sample_qc): call rate,
    het rate and hom-alt rate per pseudo-sample (l_linenumber stands in
    for the sample key on the derived relation; the real-fixture pytest
    runs the same operator over 2,504 actual 1000G samples). One
    partial-aggregated groupBy — samples x 5 counters of shuffle at any
    site count. No hemi calls in this relation, so diploid-called ==
    called in the oracle."""
    from pandasvcf_spark.operators.annotate import sample_qc

    df = _gt_parsed(spark, sf_dir).withColumn(
        "zygosity", zygosity_expr(F.col("a1"), F.col("a2"), F.lit("A"))
    )
    return sample_qc(df, sample_col="l_linenumber")


@register(
    "g_tstv",
    oracle="""
    WITH snp AS (
      SELECT p_brand,
             CASE p_partkey % 4 WHEN 0 THEN 'A' WHEN 1 THEN 'C'
                                WHEN 2 THEN 'G' ELSE 'T' END AS ref,
             CASE (p_partkey % 4 + 1 + (p_partkey // 4) % 3) % 4
                  WHEN 0 THEN 'A' WHEN 1 THEN 'C'
                  WHEN 2 THEN 'G' ELSE 'T' END AS alt
      FROM part),
    cls AS (
      SELECT p_brand,
             CASE WHEN (ref IN ('A', 'G')) = (alt IN ('A', 'G'))
                  THEN 1 ELSE 0 END AS is_ts
      FROM snp)
    SELECT p_brand,
           CAST(sum(is_ts) AS BIGINT) AS ts,
           CAST(sum(1 - is_ts) AS BIGINT) AS tv,
           round(sum(is_ts) / CAST(sum(1 - is_ts) AS DOUBLE), 4)
             AS tstv_ratio
    FROM cls GROUP BY p_brand
    """,
)
def g_tstv(spark, sf_dir):
    """Transition/transversion ratio per group (functions/genomics.
    is_transition_expr) — the standard callset-quality screen. SNP
    REF/ALT pairs are synthesized from part keys (alt index shifted
    1..3 past ref so REF != ALT always, covering all 12 ordered base
    pairs); the classification and ratio are the engine expressions
    under test."""
    from pandasvcf_spark.functions.genomics import is_transition_expr

    base = lambda c: (
        F.when(c == 0, "A").when(c == 1, "C").when(c == 2, "G").otherwise("T")
    )
    p = load(spark, sf_dir, "part").select(
        "p_brand",
        base(F.col("p_partkey") % 4).alias("ref"),
        base(
            (F.col("p_partkey") % 4 + 1 + (F.col("p_partkey") / 4).cast("long") % 3)
            % 4
        ).alias("alt"),
    )
    ts = F.when(is_transition_expr("ref", "alt"), 1).otherwise(0)
    return (
        p.withColumn("is_ts", ts)
        .groupBy("p_brand")
        .agg(
            F.sum("is_ts").cast("long").alias("ts"),
            F.sum(1 - F.col("is_ts")).cast("long").alias("tv"),
            F.round(
                F.sum("is_ts") / F.sum(1 - F.col("is_ts")).cast("double"), 4
            ).alias("tstv_ratio"),
        )
    )


@register(
    "g_merge_panels",
    oracle="""
    WITH sites AS (
      SELECT DISTINCT p_partkey AS pos FROM part
      WHERE p_partkey % 3 <> 0 OR p_partkey % 2 = 0),
    longf AS (
      SELECT pos, 'sA1' AS sample_id,
             CASE WHEN pos % 3 <> 0
                  THEN CAST(pos % 3 AS VARCHAR) || '|0' ELSE './.' END AS call
      FROM sites
      UNION ALL
      SELECT pos, 'sA2',
             CASE WHEN pos % 3 <> 0
                  THEN '0/' || CAST(pos % 2 AS VARCHAR) ELSE './.' END
      FROM sites
      UNION ALL
      SELECT pos, 'sB1',
             CASE WHEN pos % 2 = 0
                  THEN CAST(pos % 5 AS VARCHAR) || '/1' ELSE './.' END
      FROM sites)
    SELECT CAST(pos AS BIGINT) AS pos, sample_id, call FROM longf
    """,
)
def g_merge_panels(spark, sf_dir):
    """Cohort panel merge (operators/reshape.merge_vcf_panels): panel A
    (samples sA1, sA2; sites with partkey % 3 != 0) full-outer-merged
    with panel B (sample sB1; even-partkey sites). A site absent from a
    panel reads './.' for that panel's samples — the bcftools-merge
    semantics. One site-key shuffle; the merged map is exploded to long
    form for the value compare. Real-fixture split/merge round-trip and
    fill tests live in test_merge_panels.py."""
    from pandasvcf_spark.operators.reshape import merge_vcf_panels

    p = load(spark, sf_dir, "part").select(
        F.lit("1").alias("CHROM"),
        F.col("p_partkey").alias("POS"),
        F.lit("A").alias("REF"),
        F.lit("G").alias("ALT"),
    )
    key = F.col("POS")
    a = p.filter(key % 3 != 0).withColumn(
        "samples",
        F.create_map(
            F.lit("sA1"),
            F.concat((key % 3).cast("string"), F.lit("|0")),
            F.lit("sA2"),
            F.concat(F.lit("0/"), (key % 2).cast("string")),
        ),
    )
    b = p.filter(key % 2 == 0).withColumn(
        "samples",
        F.create_map(
            F.lit("sB1"), F.concat((key % 5).cast("string"), F.lit("/1"))
        ),
    )
    merged = merge_vcf_panels(a, b, ["sA1", "sA2"], ["sB1"])
    return merged.select(
        F.col("POS").cast("long").alias("pos"),
        F.explode("samples").alias("sample_id", "call"),
    )


@register(
    "g_concordance",
    oracle=_GENO_CTE
    + """
    , av AS (
      SELECT l_orderkey AS pos, l_linenumber AS sid,
             string_split_regex(GT, '[/|]') AS t FROM g),
    bv AS (
      SELECT l_orderkey AS pos, l_linenumber AS sid,
             string_split_regex(
               CASE WHEN l_orderkey % 11 = 0 THEN '0/0' ELSE GT END,
               '[/|]') AS t FROM g),
    an AS (SELECT pos, sid,
                  CASE WHEN NOT list_contains(t, '.')
                        AND NOT list_contains(t, '')
                       THEN array_to_string(list_sort(t), '/') END AS ga
           FROM av),
    bn AS (SELECT pos, sid,
                  CASE WHEN NOT list_contains(t, '.')
                        AND NOT list_contains(t, '')
                       THEN array_to_string(list_sort(t), '/') END AS gb
           FROM bv),
    j AS (SELECT an.sid, an.ga, bn.gb
          FROM an FULL OUTER JOIN bn USING (pos, sid))
    SELECT sid AS l_linenumber,
           CAST(sum(CASE WHEN ga IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_a,
           CAST(sum(CASE WHEN gb IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_b,
           CAST(sum(CASE WHEN ga IS NOT NULL AND gb IS NOT NULL
               THEN 1 ELSE 0 END) AS BIGINT) AS n_comparable,
           CAST(sum(CASE WHEN ga IS NOT NULL AND gb IS NOT NULL AND ga = gb
               THEN 1 ELSE 0 END) AS BIGINT) AS n_match,
           CASE WHEN sum(CASE WHEN ga IS NOT NULL AND gb IS NOT NULL
                         THEN 1 ELSE 0 END) > 0
                THEN round(
                  sum(CASE WHEN ga IS NOT NULL AND gb IS NOT NULL
                            AND ga = gb THEN 1 ELSE 0 END)
                  / CAST(sum(CASE WHEN ga IS NOT NULL AND gb IS NOT NULL
                             THEN 1 ELSE 0 END) AS DOUBLE), 4)
           END AS concordance
    FROM j GROUP BY sid
    """,
)
def g_concordance(spark, sf_dir):
    """Per-sample genotype concordance (operators/annotate.
    genotype_concordance) between the derived callset and a perturbed
    re-call of it (every 11th site forced to 0/0): phase-insensitive
    allele-multiset compare (1|0 == 0/1 — exercised, the relation mixes
    separators), missing alleles excluded from the comparable set.
    One (site, sample) join + one partial-aggregated groupBy; the
    perturbed hom-ref sites still MATCH when the original was hom-ref —
    the oracle replays exactly that subtlety."""
    from pandasvcf_spark.operators.annotate import genotype_concordance

    base = derived_genotypes(spark, sf_dir).select(
        F.lit("1").alias("CHROM"),
        F.col("l_orderkey").alias("POS"),
        F.lit("A").alias("REF"),
        F.lit("G,T").alias("ALT"),
        F.col("l_linenumber"),
        "GT",
    )
    pert = base.withColumn(
        "GT",
        F.when(F.col("POS") % 11 == 0, F.lit("0/0")).otherwise(F.col("GT")),
    )
    out = genotype_concordance(base, pert, sample_col="l_linenumber")
    return out.select(
        "l_linenumber",
        F.col("n_a").cast("long").alias("n_a"),
        F.col("n_b").cast("long").alias("n_b"),
        F.col("n_comparable").cast("long").alias("n_comparable"),
        F.col("n_match").cast("long").alias("n_match"),
        "concordance",
    )


@register(
    "g_grm",
    oracle=_GENO_CTE
    + """
    , dos AS (
      SELECT l_orderkey AS s, l_linenumber AS k,
             min(CASE WHEN a1 <> '.' AND a2 <> '.' THEN
               (CASE WHEN a1 <> 'A' THEN 1 ELSE 0 END)
               + (CASE WHEN a2 <> 'A' THEN 1 ELSE 0 END)
             END) AS d
      FROM ann GROUP BY 1, 2),
    called AS (SELECT * FROM dos WHERE d IS NOT NULL),
    freq AS (
      SELECT s, CAST(sum(d) AS DOUBLE) / (2.0 * count(*)) AS p
      FROM called GROUP BY s),
    poly AS (SELECT s, p FROM freq WHERE p > 0 AND p < 1),
    z AS (
      SELECT c.s, c.k,
             (c.d - 2.0 * p.p) / sqrt(2.0 * p.p * (1.0 - p.p)) AS z
      FROM called c JOIN poly p USING (s)),
    pairs AS (
      SELECT a.k AS sample_a, b.k AS sample_b, a.z * b.z AS zz
      FROM z a JOIN z b ON a.s = b.s AND a.k <= b.k)
    SELECT sample_a, sample_b, count(*) AS n_shared,
           round(sum(zz) / count(*), 6) AS grm
    FROM pairs GROUP BY 1, 2
    """,
)
def g_grm(spark, sf_dir):
    """Genetic relatedness matrix (operators/ld.grm; GCTA --make-grm /
    VanRaden 2008) over the pseudo-sample panel: per-site frequency +
    panel-list in ONE partial aggregation, standardized dosages, HOF
    within-site pair expansion (j ≤ k, diagonal = 1+F), one per-pair
    mean — the king_kinship plan shape with double products instead of
    integer counters. Duplicate (site, sample) rows in the derived
    relation are collapsed (min dosage, NULLs ignored) before packing,
    the repo's derived-genotype convention. The oracle affords the
    naive per-site self-join and replays standardization term-for-term;
    pairwise sums round at 6dp to absorb accumulation-order noise."""
    from pandasvcf_spark.operators.ld import grm

    d = _gt_parsed(spark, sf_dir)
    a1, a2 = F.col("a1"), F.col("a2")
    dosage = F.when(
        (a1 != ".") & (a2 != "."),
        (a1 != "A").cast("int") + (a2 != "A").cast("int"),
    )
    dd = (
        d.withColumn("dosage", dosage)
        .groupBy("l_orderkey", "l_linenumber")
        .agg(F.min("dosage").alias("dosage"))
    )
    return grm(dd, "l_orderkey", "l_linenumber", "dosage")


@register(
    "g_burden",
    oracle=_GENO_CTE
    + """
    , dos AS (
      SELECT l_orderkey AS s, l_linenumber AS k,
             min(CASE WHEN a1 <> '.' AND a2 <> '.' THEN
               (CASE WHEN a1 <> 'A' THEN 1 ELSE 0 END)
               + (CASE WHEN a2 <> 'A' THEN 1 ELSE 0 END)
             END) AS d
      FROM ann GROUP BY 1, 2),
    called AS (SELECT * FROM dos WHERE d IS NOT NULL),
    freq AS (
      SELECT s FROM called GROUP BY s
      HAVING CAST(sum(d) AS DOUBLE) / (2.0 * count(*)) <= 0.6)
    SELECT c.k AS sample, c.s // 1000 AS gene,
           count(*) AS n_sites,
           CAST(sum(c.d) AS BIGINT) AS burden,
           CAST(sum(CASE WHEN c.d > 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_carrier
    FROM called c JOIN freq USING (s)
    GROUP BY 1, 2
    """,
)
def g_burden(spark, sf_dir):
    """Rare-variant burden collapsing (operators/annotate.burden_counts;
    rvtests / regenie stage-1 family) over positional 1000-site gene
    windows at a 0.6 alt-frequency ceiling (the derived relation's alt
    alleles are common — real exomes pass 0.01-0.05): site-frequency
    partial agg filters the rare subset BEFORE the join back, then one
    per-(sample, gene) counter aggregation. The oracle replays the
    frequency gate and the three counters."""
    from pandasvcf_spark.operators.annotate import burden_counts

    d = _gt_parsed(spark, sf_dir)
    a1, a2 = F.col("a1"), F.col("a2")
    dosage = F.when(
        (a1 != ".") & (a2 != "."),
        (a1 != "A").cast("int") + (a2 != "A").cast("int"),
    )
    dd = (
        d.withColumn("dosage", dosage)
        .groupBy("l_orderkey", "l_linenumber")
        .agg(F.min("dosage").alias("dosage"))
        .withColumn("gene", F.expr("l_orderkey div 1000"))
    )
    return burden_counts(
        dd, ["l_orderkey"], "l_linenumber", "dosage", "gene", max_af=0.6
    )


@register(
    "g_pi_windows",
    oracle=_GENO_CTE
    + """
    , gcol AS (
      SELECT l_orderkey, l_linenumber, min(a1 || '|' || a2) AS gp
      FROM ann GROUP BY 1, 2),
    g2 AS (
      SELECT l_orderkey,
             string_split(gp, '|')[1] AS a1,
             string_split(gp, '|')[2] AS a2
      FROM gcol),
    per_site AS (
      SELECT l_orderkey AS s, l_orderkey // 1000 AS win,
             CAST(sum((CASE WHEN a1 <> '.' AND a1 <> 'A' THEN 1 ELSE 0 END)
                  + (CASE WHEN a2 <> '.' AND a2 <> 'A' THEN 1 ELSE 0 END))
                  AS BIGINT) AS j,
             CAST(sum((CASE WHEN a1 <> '.' THEN 1 ELSE 0 END)
                  + (CASE WHEN a2 <> '.' THEN 1 ELSE 0 END))
                  AS BIGINT) AS n
      FROM g2 GROUP BY 1, 2),
    ps AS (
      SELECT win,
             CASE WHEN n >= 2 THEN 2.0 * j * (n - j) / (n * (n - 1.0))
                  ELSE 0.0 END AS pi
      FROM per_site)
    SELECT win, count(*) AS n_sites,
           CAST(sum(CASE WHEN pi > 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_variant,
           round(sum(pi), 6) AS pi_sum,
           round(sum(pi) / 1000.0, 6) AS pi
    FROM ps GROUP BY win
    """,
)
def g_pi_windows(spark, sf_dir):
    """Windowed nucleotide diversity π (operators/annotate.pi_windows;
    vcftools --window-pi family) over 1000-position windows of the
    derived cohort: unbiased pairwise-difference π per site from the
    cohort's own allele counts, summed per window and normalized by
    window length. Duplicate (site, sample) rows collapse to the min
    allele-pair string first (the derived-relation convention). Two
    partial-agged groupBys, no joins; the oracle replays allele
    counters and the π arithmetic term-for-term."""
    from pandasvcf_spark.operators.annotate import pi_windows

    d = _gt_parsed(spark, sf_dir)
    dd = (
        d.groupBy("l_orderkey", "l_linenumber")
        .agg(F.min(F.concat_ws("|", "a1", "a2")).alias("gp"))
        .select(
            "l_orderkey",
            F.split("gp", "\\|").getItem(0).alias("a1"),
            F.split("gp", "\\|").getItem(1).alias("a2"),
        )
        .withColumn("REF", F.lit("A"))
    )
    return pi_windows(dd, "l_orderkey", "l_orderkey", 1000)


@register(
    "g_fst",
    oracle=_GENO_CTE
    + """
    , cls AS (
      SELECT l_orderkey,
             CASE WHEN l_linenumber % 2 = 0 THEN 'P1' ELSE 'P2' END AS pop,
             (CASE WHEN a1 <> '.' THEN 1 ELSE 0 END)
               + (CASE WHEN a2 <> '.' THEN 1 ELSE 0 END) AS n_ct,
             (CASE WHEN a1 <> '.' AND a1 <> 'A' THEN 1 ELSE 0 END)
               + (CASE WHEN a2 <> '.' AND a2 <> 'A' THEN 1 ELSE 0 END)
               AS alt_ct
      FROM ann),
    agg AS (
      SELECT l_orderkey,
             CAST(sum(CASE WHEN pop = 'P1' THEN n_ct ELSE 0 END)
                  AS BIGINT) AS n1,
             CAST(sum(CASE WHEN pop = 'P1' THEN alt_ct ELSE 0 END)
                  AS BIGINT) AS x1,
             CAST(sum(CASE WHEN pop = 'P2' THEN n_ct ELSE 0 END)
                  AS BIGINT) AS n2,
             CAST(sum(CASE WHEN pop = 'P2' THEN alt_ct ELSE 0 END)
                  AS BIGINT) AS x2
      FROM cls GROUP BY l_orderkey),
    freqs AS (
      SELECT l_orderkey, n1, n2,
             CASE WHEN n1 > 0 THEN CAST(x1 AS DOUBLE) / n1 END AS pa,
             CASE WHEN n2 > 0 THEN CAST(x2 AS DOUBLE) / n2 END AS pb
      FROM agg),
    est AS (
      SELECT *,
             CASE WHEN n1 >= 2 AND n2 >= 2 THEN
               (pa - pb) * (pa - pb)
               - pa * (1.0 - pa) / (n1 - 1.0)
               - pb * (1.0 - pb) / (n2 - 1.0) END AS num,
             CASE WHEN n1 >= 2 AND n2 >= 2
                  THEN pa * (1.0 - pb) + pb * (1.0 - pa) END AS den
      FROM freqs)
    SELECT l_orderkey, n1, n2,
           round(pa, 4) AS af_a, round(pb, 4) AS af_b,
           round(num, 6) + 0.0 AS fst_num, round(den, 6) AS fst_den,
           round(CASE WHEN den > 0 THEN num / den END, 6) + 0.0 AS fst
    FROM est
    """,
)
def g_fst(spark, sf_dir):
    """Per-site Hudson Fst between two derived populations
    (operators/ld.hudson_fst; Bhatia et al. 2013 eq. 10 — the
    scikit-allel / smartpca population-differentiation scan). Samples
    split into P1/P2 by l_linenumber parity; allele-based counting
    (haploids contribute one allele, half-missing their called allele);
    num and den stay in the output because windowed/genome-wide Fst is
    the ratio of THEIR sums, never the mean of per-site fst. One
    conditional-sum groupBy on the site key — sites × 4 counters of
    shuffle; the oracle replays counts, frequencies and the estimator
    arithmetic term-for-term."""
    from pandasvcf_spark.operators.ld import hudson_fst

    d = (
        _gt_parsed(spark, sf_dir)
        .withColumn("REF", F.lit("A"))
        .withColumn(
            "pop",
            F.when(F.col("l_linenumber") % 2 == 0, "P1").otherwise("P2"),
        )
    )
    return hudson_fst(d, ["l_orderkey"], "pop", "P1", "P2")


@register(
    "g_gwas_trend",
    oracle="""
    WITH b AS (
      SELECT CAST(l_partkey % 100 AS INTEGER) AS site,
             CAST((l_linenumber + l_orderkey) % 3 AS DOUBLE) AS s,
             CAST(l_suppkey % 2 AS INTEGER) AS c
      FROM lineitem),
    cells AS (SELECT site, s, CAST(sum(c) AS BIGINT) AS a,
                     CAST(count(*) AS BIGINT) AS n
              FROM b GROUP BY site, s),
    g AS (SELECT site, CAST(sum(n) AS BIGINT) AS n,
                 CAST(count(*) AS BIGINT) AS k,
                 CAST(sum(a) AS BIGINT) AS A,
                 sum(s * a) AS sa, sum(s * n) AS sn,
                 sum(s * s * n) AS ssn
          FROM cells GROUP BY site),
    f AS (SELECT site, n, k,
            round(CASE WHEN k >= 2
                        AND (CAST(A AS DOUBLE) / n)
                            * (1.0 - CAST(A AS DOUBLE) / n)
                            * (ssn - sn * sn / CAST(n AS DOUBLE)) > 0
                  THEN (sa - CAST(A AS DOUBLE) * sn
                             / CAST(n AS DOUBLE))
                       * (sa - CAST(A AS DOUBLE) * sn
                               / CAST(n AS DOUBLE))
                       / ((CAST(A AS DOUBLE) / n)
                          * (1.0 - CAST(A AS DOUBLE) / n)
                          * (ssn - sn * sn / CAST(n AS DOUBLE)))
                  END, 6) + 0.0 AS chi2,
            round(CASE WHEN k >= 2
                        AND (CAST(A AS DOUBLE) / n)
                            * (1.0 - CAST(A AS DOUBLE) / n)
                            * (ssn - sn * sn / CAST(n AS DOUBLE)) > 0
                  THEN (sa - CAST(A AS DOUBLE) * sn
                             / CAST(n AS DOUBLE))
                       / (ssn - sn * sn / CAST(n AS DOUBLE))
                  END, 6) + 0.0 AS slope
          FROM g)
    SELECT site, n, k, chi2, slope FROM f
    ORDER BY chi2 DESC, site LIMIT 10
    """,
)
def g_gwas_trend(spark, sf_dir):
    """Per-site Cochran-Armitage allelic trend SCAN (operators/stats.
    cochran_armitage grouped form) — the GWAS per-variant test: at
    each of 100 synthetic sites, does case status (sample parity)
    trend with the 0/1/2 genotype dosage? Top-10 sites by the
    ROUNDED chi2 with site-id tie-break (the TakeOrdered total-order
    rule). One (site, dosage)-keyed 2-counter agg + one site-keyed
    fold — the scan costs two partial-aggregated passes at any panel
    size. Expected ~null chi2s on this parity-blind synthesis; the
    entry checks the grouped fold machinery, replayed per-site by
    the oracle."""
    from pandasvcf_spark.operators.stats import cochran_armitage

    li = load(spark, sf_dir, "lineitem").select(
        (F.col("l_partkey") % 100).cast("int").alias("site"),
        ((F.col("l_linenumber") + F.col("l_orderkey")) % 3)
        .cast("double")
        .alias("s"),
        (F.col("l_suppkey") % 2).cast("int").alias("c"),
    )
    out = cochran_armitage(li, "s", "c", group_cols=["site"])
    return out.orderBy(
        F.col("chi2").desc(), F.col("site").asc()
    ).limit(10)


@register(
    "g_prs",
    oracle=_GENO_CTE
    + """
    , dos AS (
      SELECT l_orderkey AS site, l_linenumber AS smp,
             min(CASE WHEN a1 <> '.' AND a2 <> '.'
                 THEN CAST(a1 <> 'A' AS INT) + CAST(a2 <> 'A' AS INT)
                 END) AS d
      FROM ann GROUP BY 1, 2),
    w AS (SELECT site,
            CAST((site * 2654435761) % 1000 AS DOUBLE) / 1000.0 - 0.5
              AS wt
          FROM (SELECT DISTINCT site FROM dos)),
    af AS (SELECT dos.site, max(w.wt) AS wt,
                  sum(d) / (2.0 * count(d)) AS p
           FROM dos JOIN w ON w.site = dos.site
           WHERE d IS NOT NULL GROUP BY dos.site),
    sc AS (SELECT CAST(count(*) AS BIGINT) AS S,
                  sum(wt * 2 * p) AS cst FROM af),
    called AS (SELECT dos.smp, af.wt, af.p, dos.d
               FROM dos JOIN af ON af.site = dos.site
               WHERE dos.d IS NOT NULL),
    per AS (SELECT smp, CAST(count(*) AS BIGINT) AS n_called,
                   sum(wt * (d - 2 * p)) AS adj
            FROM called GROUP BY smp)
    SELECT CAST(per.smp AS BIGINT) AS sample, per.n_called,
           round((sc.cst + per.adj) / (2.0 * sc.S), 9) + 0.0 AS score
    FROM per, sc ORDER BY sample
    """,
)
def g_prs(spark, sf_dir):
    """Polygenic risk score (operators/ld.prs_score; plink --score
    with its default mean imputation) over the derived genotype
    relation with a deterministic per-site effect-weight table (the
    poly-hash residue device). The imputed form never builds the
    site x sample grid: one broadcast constant carries every missing
    call's w*2p mass and the per-sample agg runs over CALLED rows
    only. The oracle replays dosages, weights, allele frequencies,
    the constant and the per-sample fold."""
    from pandasvcf_spark.operators.ld import prs_score

    d = _gt_parsed(spark, sf_dir)
    a1, a2 = F.col("a1"), F.col("a2")
    dosage = F.when(
        (a1 != ".") & (a2 != "."),
        (a1 != "A").cast("int") + (a2 != "A").cast("int"),
    )
    dd = (
        d.withColumn("dosage", dosage)
        .groupBy(
            F.col("l_orderkey").alias("site"),
            F.col("l_linenumber").alias("smp"),
        )
        .agg(F.min("dosage").alias("d"))
    )
    w = dd.select("site").distinct().select(
        "site",
        (
            ((F.col("site") * 2654435761) % 1000).cast("double")
            / 1000.0
            - 0.5
        ).alias("wt"),
    )
    out = prs_score(dd, "site", "smp", "d", w, "site", "wt")
    return out.select(
        F.col("sample").cast("long").alias("sample"),
        "n_called",
        (F.col("score") + F.lit(0.0)).alias("score"),
    ).orderBy("sample")

"""The genotype-annotation pipeline: wide variants -> annotated long table.

Spark-first re-expression of the reference's E3 pipeline
(pandasvcf.py:186-288 -> variant_annotations.py:534-768). The reference runs:

    stack -> qual set-aside -> missing filter -> dedup(site,GT) -> python
    row-functions -> join-back -> groupby+join hom-ref counts -> filters ->
    per-FORMAT group loop -> multiprocessing fan-out -> concat

All of that machinery existed to amortize slow Python row functions. Here the
same semantics are ONE lazy narrow plan:

    filter(ALT!='.')                                    (P5)
    per-row hom-ref count over the sample map           (A1, zero shuffle)
    map_filter missing calls out of the sample map      (P6)
    explode(samples)                                    (R1)
    filter missing GTs                                  (P7)
    native column expressions for every annotation      (F2-F8)
    optional filter(zygosity != 'hom-ref')              (P8)

Zero joins, zero shuffles, zero Python row functions: the whole pipeline is a
single whole-stage-codegen span over the scan, so it scales linearly with
input splits — the profile you want at 100 TB. The per-FORMAT group dispatch
(reference R4) is unnecessary because the FORMAT/call zip is a per-row
map expression; heterogeneous FORMATs coexist in one plan.

Output matches the reference's verified columns (SURVEY §3/E3) plus
QUAL/FILTER/INFO which the reference's docstring promises but silently drops
(SURVEY §8.1) — we implement the documented intent.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from pandasvcf_spark.functions.genomics import (
    MISSING_GT,
    SITE_KEY,
    format_map_expr,
    hom_ref_call_indicator,
    multiallele_expr,
    phase_expr,
    vartype_expr,
    with_gt_alleles,
    zygosity_expr,
)

#: Annotation columns, in reference output order (SURVEY §3/E3 [verified]).
ANNOTATION_COLS = [
    "sample_ids",
    "GT",
    "multiallele",
    "GT1",
    "GT2",
    "a1",
    "a2",
    "phase",
    "zygosity",
    "vartype1",
    "vartype2",
    "FORMAT",
    "hom_ref_counts",
]


def explode_genotypes(
    wide: DataFrame, drop_hom_ref_calls: bool = False
) -> DataFrame:
    """Wide (one row per site, samples MAP) -> long (one row per called
    sample), with the per-site `hom_ref_counts` folded over the sample map
    *before* the explode — a per-row expression, so the count costs no
    shuffle. Sites with ALT='.' (reference P5) and missing calls ('.' or
    NULL, reference P6; NULL guards ragged lines) are dropped.

    One indicator pass serves both modes: `nonref` keeps the calls that
    are neither missing nor hom-ref, and the hom-ref count is derived
    arithmetically — hom_ref = |samples| - |nonref| - |missing| (the three
    classes partition the map). The missing-count fold is a cheap null/'.'
    test per entry, so the expensive allele-resolving
    `hom_ref_call_indicator` runs once per call (measured ~3 s per pass on
    1000G's 24.4M calls). It reads the genotype as the call's first
    ':'-field (GT first — guaranteed by the VCF spec when GT is present).

    drop_hom_ref_calls: explode `nonref` instead of every called sample.
    In a population panel ~97% of calls are hom-ref, so this shrinks the
    Generate's output ~30x — the explode copies the wide columns once per
    emitted row, which is the dominant cost of the whole pipeline
    (measured on 1000G/24.4M calls: explode 15-19 s full vs ~2 s
    filtered). Only set together with a downstream `drop_hom_ref`
    annotation pass (annotate_vcf wires this); the zygosity filter there
    then just confirms the survivors.

    The explode is `explode_outer` plus a `sample_ids IS NOT NULL` filter,
    which emits exactly plain `explode`'s rows: the outer form adds a NULL
    row only for an empty or NULL map, and map keys are never NULL. Spark
    infers a `size(source) > 0` filter below a plain explode and
    substitutes the `map_filter` source into it, so the (allele-resolving,
    when dropping) source would run twice, once in that Filter and once in
    the Project; from an outer Generate it infers nothing.

    The count assumes one wide row per site key (standard VCF). When site
    keys repeat, call `explode_genotypes(wide).drop('hom_ref_counts')` and
    let `annotate_genotypes` count per site with a window instead — in the
    default mode, since the window can only count hom-ref calls that
    reach it.
    """
    df = wide.filter(F.col("ALT") != ".")  # reference P5

    def _is_missing(v):
        return v.isNull() | (v == ".")

    missing_n = F.aggregate(
        F.map_values("samples"),
        F.lit(0),
        lambda acc, v: acc + F.when(_is_missing(v), 1).otherwise(0),
    )
    nonref = F.map_filter(
        "samples",
        lambda _k, v: ~_is_missing(v)
        & (hom_ref_call_indicator(v, F.col("REF"), F.col("ALT")) == 0),
    )
    called = (
        F.col("__nonref")
        if drop_hom_ref_calls
        else F.map_filter("samples", lambda _k, v: ~_is_missing(v))
    )
    df = df.select(
        "*",
        nonref.alias("__nonref"),
        missing_n.alias("__missing_n"),
    ).select(
        *[c for c in df.columns if c != "samples"],
        (F.size("samples") - F.size("__nonref") - F.col("__missing_n"))
        .cast("int")
        .alias("hom_ref_counts"),
        called.alias("samples"),
    )
    keep = [c for c in df.columns if c != "samples"]
    return df.select(
        *keep, F.explode_outer("samples").alias("sample_ids", "call")
    ).filter(F.col("sample_ids").isNotNull())


def annotate_genotypes(
    long_df: DataFrame,
    drop_hom_ref: bool = True,
    split_columns: dict[str, int] | None = None,
    format_fields: list[str] | str | None = None,
) -> DataFrame:
    """Annotate a long genotype table (needs SITE_KEY + FORMAT + sample_ids +
    call columns). Calls with a missing GT are dropped (reference P7).

    hom_ref_counts is used if present, else computed per site key with a
    window — one shuffle. That window is the route for inputs whose site
    keys repeat across wide rows: drop `explode_genotypes`' per-row count
    (`.drop('hom_ref_counts')`) before annotating.

    format_fields: non-GT FORMAT sub-fields to materialize as columns.
        None/[] (default) = skip — plan construction stays lazy (zero Spark
        jobs). 'auto' = OPT-IN discovery from the data via a distinct() over
        FORMAT — an EAGER extra pass over the input at plan-build time; for
        file-backed pipelines prefer `annotate_vcf`, which derives the
        fields from the '##FORMAT' header lines driver-side for free.
    split_columns: {'AD': 2} -> comma-split AD into AD_0, AD_1 string columns,
        dropping AD (reference F8, variant_annotations.py:718-735). Entries
        with n <= 1 are skipped, extras truncated — reference parity.
    """
    df = long_df.withColumn("fields", format_map_expr("FORMAT", "call"))
    # GT fast path: when FORMAT's FIRST field is GT and the call carries no
    # sub-fields (':'), the call IS the genotype — skip the per-row map
    # lookup. For a GT-only panel (e.g. 1000G: 24.4M calls) this removes the
    # dominant per-call expression cost; mixed/ragged rows fall through to
    # the map. FORMAT must actually name GT: a colon-free non-GT FORMAT
    # (e.g. FORMAT='DP', call='12') is spec-legal and has NO genotype — the
    # map lookup correctly yields NULL so the missing-GT filter drops it.
    df = df.withColumn(
        "GT",
        F.when(
            ((F.col("FORMAT") == "GT") | F.col("FORMAT").startswith("GT:"))
            & ~F.col("call").contains(":"),
            F.col("call"),
        ).otherwise(F.try_element_at("fields", F.lit("GT"))),
    )
    # reference P7 (variant_annotations.py:614-622)
    df = df.filter(F.col("GT").isNotNull() & ~F.col("GT").isin(*MISSING_GT))
    df = with_gt_alleles(df.withColumn("phase", phase_expr("GT")))
    df = (
        df.withColumn("multiallele", multiallele_expr("ALT"))
        .withColumn("zygosity", zygosity_expr(F.col("a1"), F.col("a2"), "REF"))
        .withColumn("vartype1", vartype_expr("REF", F.col("a1")))
        .withColumn("vartype2", vartype_expr("REF", F.col("a2")))
    )

    if "hom_ref_counts" not in df.columns:
        # Window aggregate — one shuffle on the site key (bounded per-key
        # row count = n_samples x repeats, so no skew blowup). The wide path
        # precomputes this per-row instead (reference A1/J3 as a window,
        # SURVEY §2.5).
        site_w = Window.partitionBy(*SITE_KEY)
        df = df.withColumn(
            "hom_ref_counts",
            F.sum(F.when(F.col("zygosity") == "hom-ref", 1).otherwise(0))
            .over(site_w)
            .cast("int"),
        )

    if drop_hom_ref:
        # reference P8 — counts above are computed first, so they survive.
        df = df.filter(F.col("zygosity") != "hom-ref")

    if format_fields == "auto":
        fmts = [r[0] for r in df.select("FORMAT").distinct().collect()]
        seen: list[str] = []
        for fmt in fmts:
            for f_ in (fmt or "").split(":"):
                if f_ and f_ != "GT" and f_ not in seen:
                    seen.append(f_)
        format_fields = seen
    elif not format_fields:
        format_fields = []

    field_cols = []
    split_columns = split_columns or {}
    for name in format_fields:
        n = split_columns.get(name, 0)
        if n and n > 1:
            # reference F8: comma-split into name_0..name_{n-1}, drop original
            base = F.split(F.try_element_at("fields", F.lit(name)), ",")
            field_cols += [
                F.try_element_at(base, F.lit(i + 1)).alias(f"{name}_{i}")
                for i in range(n)
            ]
        else:
            field_cols.append(F.try_element_at("fields", F.lit(name)).alias(name))

    passthrough = [
        c for c in ("QUAL", "FILTER", "INFO", "ID") if c in long_df.columns
    ]
    out = df.select(
        *SITE_KEY,
        *ANNOTATION_COLS,
        *passthrough,
        *field_cols,
    )
    return out


def annotate_vcf(
    spark,
    path: str,
    samples: str | list[str] = "all",
    cols: list[str] | None = None,
    drop_hom_ref: bool = True,
    split_columns: dict[str, int] | None = None,
    format_fields: list[str] | str | None = "auto",
    info_fields: dict[str, str] | list[str] | None = None,
    ordered: bool = False,
    region: str | None = None,
) -> DataFrame:
    """End-to-end: VCF file -> annotated long genotype table (reference
    `VCF(...)` + `add_variant_annotations(...)` in one lazy plan).

    hom_ref_counts are precomputed per WIDE row (zero-shuffle path), which
    assumes site keys (CHROM,POS,REF,ALT) are unique across lines — standard
    for real VCFs. If your input legally repeats a site key, build the
    pipeline as read_vcf |> explode_genotypes |> .drop('hom_ref_counts') |>
    annotate_genotypes, which aggregates per site with a window instead.

    ordered: add the canonical deterministic sort (CHROM, POS, REF, ALT,
    sample_ids). Off by default — a global sort is a shuffle + range
    exchange; the reference's output order is an iteration artifact anyway
    (SURVEY §2.7).

    format_fields='auto' resolves from the '##FORMAT=<ID=...>' header meta
    lines (driver-side, no data scan — unlike annotate_genotypes' fallback,
    which must run an eager distinct() over FORMAT). Headers without FORMAT
    meta fall back to that scan.

    region: tabix-pruned region read ('22:16050075-16654125'), forwarded
    to `read_vcf(region=...)` — the annotation pipeline then touches only
    the region's BGZF blocks (requires the .tbi sidecar).

    info_fields: typed INFO sub-fields to materialize as columns — a list of
    keys (string-typed) or {key: cast} like {'AC': 'int', 'AF': 'double'}.
    Parsed with str_to_map (functions/maps.py); the reference never parses
    INFO (SURVEY.md:184-186), declared engine scope. Malformed values map to
    NULL (try_cast), never an ANSI runtime error.
    """
    from pandasvcf_spark.sources.vcf import read_vcf, read_vcf_header

    if format_fields == "auto":
        header_formats = read_vcf_header(path).format_ids
        if header_formats:
            format_fields = [f_ for f_ in header_formats if f_ != "GT"]
    wide = read_vcf(spark, path, samples=samples, cols=cols, region=region)
    long_df = explode_genotypes(wide, drop_hom_ref_calls=drop_hom_ref)
    out = annotate_genotypes(
        long_df,
        drop_hom_ref=drop_hom_ref,
        split_columns=split_columns,
        format_fields=format_fields,
    )
    if info_fields:
        from pandasvcf_spark.functions.maps import info_field_expr

        if "INFO" not in out.columns:
            raise ValueError("info_fields requires the INFO column (cols=...)")
        if not isinstance(info_fields, dict):
            info_fields = {k: None for k in info_fields}
        for key, cast in info_fields.items():
            out = out.withColumn(key, info_field_expr("INFO", key, cast))
    if ordered:
        out = out.orderBy(*SITE_KEY, "sample_ids")
    return out


def sample_qc(
    df: DataFrame,
    sample_col: str = "sample_ids",
    zygosity_col: str = "zygosity",
) -> DataFrame:
    """Per-sample QC metrics over the long annotated genotype table — the
    screen every callset runs before analysis (a sample with a low call
    rate or an outlier het rate is a failed library or a contamination):

      n_sites     sites observed for the sample
      n_called    fully-called genotypes (no missing allele)
      call_rate   n_called / n_sites
      het_rate    heterozygous fraction AMONG called
      hom_alt_rate homozygous-alt fraction AMONG called

    Consumes the `zygosity` categories of annotate/zygosity_expr
    ('hom-ref'/'hom-alt'/'het-ref'/'het-alt'/'hom-miss'/'het-miss', plus
    the opt-in 'hemi-*' set). Hemizygous calls count toward n_called and
    call_rate but are EXCLUDED from het/hom-alt rates — the denominator
    stays diploid-called, the convention sex-chromosome-aware QC uses.

    One groupBy on the sample key — partial-aggregated conditional sums,
    so the shuffle is samples x 5 counters regardless of site count."""
    z = F.col(zygosity_col)
    missing = z.contains("miss")
    called = ~missing
    diploid_called = called & ~z.startswith("hemi")
    het = z.isin("het-ref", "het-alt")
    hom_alt = z == "hom-alt"
    cnt = lambda c: F.sum(F.when(c, 1).otherwise(0))
    return (
        df.groupBy(sample_col)
        .agg(
            F.count(F.lit(1)).alias("n_sites"),
            cnt(called).alias("n_called"),
            cnt(diploid_called).alias("__dip"),
            cnt(het).alias("__het"),
            cnt(hom_alt).alias("__hom_alt"),
        )
        .select(
            sample_col,
            "n_sites",
            "n_called",
            F.round(F.col("n_called") / F.col("n_sites"), 4).alias("call_rate"),
            F.when(
                F.col("__dip") > 0,
                F.round(F.col("__het") / F.col("__dip"), 4),
            ).alias("het_rate"),
            F.when(
                F.col("__dip") > 0,
                F.round(F.col("__hom_alt") / F.col("__dip"), 4),
            ).alias("hom_alt_rate"),
        )
    )


def genotype_concordance(
    a: DataFrame,
    b: DataFrame,
    sample_col: str = "sample_ids",
    gt_col: str = "GT",
) -> DataFrame:
    """Per-sample genotype concordance between two callsets of the same
    cohort (two pipelines, two chip batches, imputed vs sequenced) — the
    bcftools-gtcheck / GATK-Concordance style QC gate. Join key is
    (site, sample); genotypes compare PHASE-INSENSITIVELY (allele
    multiset: 1/0 == 0|1) and any '.' allele marks the call missing.

    Output per sample:
      n_a, n_b          calls present in each callset
      n_comparable      sites where BOTH are called
      n_match           comparable sites with equal allele multisets
      concordance       n_match / n_comparable (NULL when 0 comparable)

    One full-outer join on (site, sample) — co-located and exchange-free
    when both sides were bucket-written on the site key — then one
    partial-aggregated groupBy(sample): the shuffle after partial agg is
    samples x 4 counters regardless of site count."""
    from pandasvcf_spark.functions.genomics import SITE_KEY

    def norm(gt):
        toks = F.split(F.col(gt), r"[/|]")
        called = ~F.exists(toks, lambda t: (t == ".") | (t == ""))
        return F.when(called, F.array_join(F.array_sort(toks), "/"))

    key = SITE_KEY + [sample_col]
    an = a.select(*key, norm(gt_col).alias("__ga"))
    bn = b.select(*key, norm(gt_col).alias("__gb"))
    j = an.join(bn, on=key, how="full_outer")
    both = F.col("__ga").isNotNull() & F.col("__gb").isNotNull()
    cnt = lambda c: F.sum(F.when(c, 1).otherwise(0))
    return (
        j.groupBy(sample_col)
        .agg(
            cnt(F.col("__ga").isNotNull()).alias("n_a"),
            cnt(F.col("__gb").isNotNull()).alias("n_b"),
            cnt(both).alias("n_comparable"),
            cnt(both & (F.col("__ga") == F.col("__gb"))).alias("n_match"),
        )
        .select(
            sample_col,
            "n_a",
            "n_b",
            "n_comparable",
            "n_match",
            F.when(
                F.col("n_comparable") > 0,
                F.round(F.col("n_match") / F.col("n_comparable"), 4),
            ).alias("concordance"),
        )
    )


def hwe_stats(
    df: DataFrame,
    site_cols: list[str],
    a1_col: str = "a1",
    a2_col: str = "a2",
    ref_col: str = "REF",
    missing: str = ".",
) -> DataFrame:
    """Per-site Hardy-Weinberg equilibrium statistics over the long
    parsed-genotype table (a1/a2 allele strings, `allele_expr` output) —
    the population-genetics QC screen: a site far off HWE is usually a
    genotyping artifact (allelic dropout, paralog collapse), and callset
    pipelines filter on exactly this chi-square.

    Genotype classes collapse alternates (multiallelic sites fold to
    ref/non-ref, the convention plink's --hardy uses for its collapsed
    mode): hom_ref = both alleles equal REF, het = exactly one REF,
    hom_alt = neither REF. Only fully-called diploid genotypes count
    (either allele missing → excluded, which also drops haploids). With
    p = ref-allele frequency = (2·hom_ref + het) / 2n, expected counts
    are (p²n, 2p(1−p)n, (1−p)²n) and

        chi2 = Σ_classes (obs − exp)² / exp   (terms with exp = 0
                                               contribute 0: fixed sites
                                               have chi2 = 0, not NULL)

    Output: site_cols + n_hom_ref/n_het/n_hom_alt/n_called BIGINT,
    af_alt DOUBLE (collapsed alt frequency, round 4), chi2 DOUBLE
    (round 4; NULL when no called genotypes). One partial-aggregated
    groupBy on the site key — sites × 3 counters of shuffle, every
    downstream quantity a pure projection of the three counts."""
    a1, a2, ref = F.col(a1_col), F.col(a2_col), F.col(ref_col)
    ok1 = a1.isNotNull() & (a1 != missing)
    ok2 = a2.isNotNull() & (a2 != missing)
    called = ok1 & ok2
    is_ref1 = (a1 == ref).cast("int")
    is_ref2 = (a2 == ref).cast("int")
    nref = F.when(called, is_ref1 + is_ref2)  # 2 / 1 / 0, NULL uncalled
    cnt = lambda c: F.sum(F.when(c, 1).otherwise(0))
    agg = df.groupBy(*site_cols).agg(
        cnt(nref == 2).alias("n_hom_ref"),
        cnt(nref == 1).alias("n_het"),
        cnt(nref == 0).alias("n_hom_alt"),
    )
    n = (F.col("n_hom_ref") + F.col("n_het") + F.col("n_hom_alt")).cast(
        "double"
    )
    # guarded: at a zero-called site p would be 0/0 (NaN); NULL instead,
    # so every downstream expression nulls out under the n > 0 gate the
    # same way the SQL oracle's CASE does
    p = F.when(
        n > 0, (2.0 * F.col("n_hom_ref") + F.col("n_het")) / (2.0 * n)
    )
    exp_hr = p * p * n
    exp_het = 2.0 * p * (1.0 - p) * n
    exp_ha = (1.0 - p) * (1.0 - p) * n

    def term(obs, exp):
        return F.when(
            exp > 0, (obs - exp) * (obs - exp) / exp
        ).otherwise(F.lit(0.0))

    chi2 = (
        term(F.col("n_hom_ref"), exp_hr)
        + term(F.col("n_het"), exp_het)
        + term(F.col("n_hom_alt"), exp_ha)
    )
    return agg.select(
        *site_cols,
        "n_hom_ref",
        "n_het",
        "n_hom_alt",
        (F.col("n_hom_ref") + F.col("n_het") + F.col("n_hom_alt")).alias(
            "n_called"
        ),
        F.when(n > 0, F.round(F.lit(1.0) - p, 4)).alias("af_alt"),
        F.when(n > 0, F.round(chi2, 4)).alias("chi2"),
    )


def mendel_check(
    df: DataFrame,
    site_cols: list[str],
    sample_col: str,
    child,
    father,
    mother,
    a1_col: str = "a1",
    a2_col: str = "a2",
    missing: str = ".",
) -> DataFrame:
    """Mendelian-consistency screen for a trio over the long parsed
    genotype table — the family-study QC (bcftools +mendelian / plink
    --mendel family): a child genotype is consistent when one allele can
    come from the father and the other from the mother (either
    assignment). Output: site_cols + c1/c2 (child alleles) + status
    STRING ∈ {'consistent', 'violation', 'incomplete'} — incomplete when
    any trio member is absent at the site or carries a missing allele
    (haploid calls included: no diploid transmission model applies).

    Plan: one partial-aggregated groupBy pivots the trio's six alleles
    onto the site row (max over ≤1 value per slot — deterministic), then
    the verdict is a pure CASE over the six strings. One shuffle of
    sites × 6 short strings regardless of cohort width; violation rate
    per child is a groupBy away."""
    s = F.col(sample_col)
    a1, a2 = F.col(a1_col), F.col(a2_col)

    def slot(member, a):
        return F.max(F.when(s == F.lit(member), a))

    piv = df.filter(
        s.isin([child, father, mother])
    ).groupBy(*site_cols).agg(
        slot(child, a1).alias("c1"),
        slot(child, a2).alias("c2"),
        slot(father, a1).alias("__f1"),
        slot(father, a2).alias("__f2"),
        slot(mother, a1).alias("__m1"),
        slot(mother, a2).alias("__m2"),
    )

    def called(x1, x2):
        return (
            x1.isNotNull() & x2.isNotNull()
            & (x1 != missing) & (x2 != missing)
        )

    c1, c2 = F.col("c1"), F.col("c2")
    f1, f2 = F.col("__f1"), F.col("__f2")
    m1, m2 = F.col("__m1"), F.col("__m2")
    complete = called(c1, c2) & called(f1, f2) & called(m1, m2)
    from_f = lambda x: (x == f1) | (x == f2)
    from_m = lambda x: (x == m1) | (x == m2)
    consistent = (from_f(c1) & from_m(c2)) | (from_m(c1) & from_f(c2))
    status = (
        F.when(~complete, "incomplete")
        .when(consistent, "consistent")
        .otherwise("violation")
    )
    return piv.select(*site_cols, "c1", "c2", status.alias("status"))


def tdt_test(
    df: DataFrame,
    site_cols: list[str],
    sample_col: str,
    child,
    father,
    mother,
    a1_col: str = "a1",
    a2_col: str = "a2",
    ref: str = "A",
    missing: str = ".",
) -> DataFrame:
    """Transmission disequilibrium test (Spielman, McGinnis & Ewens
    1993; plink --tdt) for one trio — the family-based association
    test immune to population stratification: across all sites, did
    heterozygous parents transmit the alternate allele to the child
    more often than the 50:50 Mendel expectation?

        b    = alt transmissions from het parents
        c    = ref transmissions from het parents
        chi2 = (b - c)² / (b + c)          ~ chi²(1) (McNemar form)

    Transmission counts come from pure dosage arithmetic on the
    `mendel_check`-consistent complete trios (tc/tf/tm = alt-allele
    dosage of child/father/mother, het = dosage 1): hom parents
    transmit dosage/2 alt alleles deterministically, so het-parent alt
    transmissions = tc − Σ_hom dosage/2 — exact for every consistent
    trio, including both-parents-het (non-ref alleles lump as 'alt',
    the biallelic-TDT convention for multi-alt sites). Inconsistent or
    incomplete sites are excluded and accounted.

    Output: ONE row (n_sites_used, n_informative, b, c BIGINT, chi2
    DOUBLE round 6 — n_informative = het-parent transmissions = b + c;
    chi2 NULL when no informative transmission exists).

    Plan: the mendel_check pivot groupBy (sites × 6 short strings of
    shuffle), the consistency CASE, dosage arithmetic per site, one
    1-row fold."""
    s = F.col(sample_col)
    a1, a2 = F.col(a1_col), F.col(a2_col)

    def slot(member, a):
        return F.max(F.when(s == F.lit(member), a))

    piv = df.filter(
        s.isin([child, father, mother])
    ).groupBy(*site_cols).agg(
        slot(child, a1).alias("__c1"),
        slot(child, a2).alias("__c2"),
        slot(father, a1).alias("__f1"),
        slot(father, a2).alias("__f2"),
        slot(mother, a1).alias("__m1"),
        slot(mother, a2).alias("__m2"),
    )

    def called(x1, x2):
        return (
            x1.isNotNull() & x2.isNotNull()
            & (x1 != missing) & (x2 != missing)
        )

    c1, c2 = F.col("__c1"), F.col("__c2")
    f1, f2 = F.col("__f1"), F.col("__f2")
    m1, m2 = F.col("__m1"), F.col("__m2")
    complete = called(c1, c2) & called(f1, f2) & called(m1, m2)
    from_f = lambda x: (x == f1) | (x == f2)
    from_m = lambda x: (x == m1) | (x == m2)
    consistent = (from_f(c1) & from_m(c2)) | (from_m(c1) & from_f(c2))

    def dose(x1, x2):
        return (
            F.when(x1 != ref, 1).otherwise(0)
            + F.when(x2 != ref, 1).otherwise(0)
        ).cast("long")

    ok = complete & consistent
    site = piv.select(
        F.when(ok, 1).otherwise(0).cast("long").alias("__used"),
        F.when(ok, dose(c1, c2)).alias("__tc"),
        F.when(ok, dose(f1, f2)).alias("__tf"),
        F.when(ok, dose(m1, m2)).alias("__tm"),
    )
    hf = F.when(F.col("__tf") == 1, 1).otherwise(0).cast("long")
    hm = F.when(F.col("__tm") == 1, 1).otherwise(0).cast("long")
    thom = (
        (1 - hf) * F.col("__tf") + (1 - hm) * F.col("__tm")
    ) / F.lit(2)
    b_site = (F.col("__tc") - thom).cast("long")
    g = site.agg(
        F.sum("__used").cast("long").alias("n_sites_used"),
        F.coalesce(F.sum(hf + hm), F.lit(0)).cast("long").alias(
            "n_informative"
        ),
        F.coalesce(F.sum(b_site), F.lit(0)).cast("long").alias("b"),
        F.coalesce(F.sum(hf + hm - b_site), F.lit(0)).cast("long")
        .alias("c"),
    )
    bd = F.col("b").cast("double")
    cd = F.col("c").cast("double")
    chi2 = (bd - cd) * (bd - cd) / (bd + cd)
    return g.select(
        "n_sites_used",
        "n_informative",
        "b",
        "c",
        (
            F.round(F.when(F.col("n_informative") > 0, chi2), 6)
            + F.lit(0.0)
        ).alias("chi2"),
    )


def af_spectrum(
    df: DataFrame,
    site_cols: list[str],
    a1_col: str = "a1",
    a2_col: str = "a2",
    ref_col: str = "REF",
    missing: str = ".",
) -> DataFrame:
    """Site-frequency spectrum: how many sites carry each (allele number,
    alternate allele count) combination — population genetics' first
    summary plot (the SFS shape separates neutral drift from selection
    and calling artifacts). Builds on `hwe_stats`' per-site genotype
    counts: ac = n_het + 2·n_hom_alt, an = 2·n_called, then one count per
    (an, ac) cell. Stratifying by `an` keeps the spectrum exact when
    sites differ in call number (the conventional fixed-n SFS assumes
    complete calls; mixing ans would silently blur it). All-integer
    arithmetic end to end. Output: (an BIGINT, ac BIGINT,
    n_sites BIGINT); zero-called sites land in the (0, 0) cell.

    Two partial-aggregated shuffles: sites × 3 counters, then the tiny
    (an, ac) histogram."""
    per_site = hwe_stats(
        df, site_cols, a1_col=a1_col, a2_col=a2_col,
        ref_col=ref_col, missing=missing,
    )
    return (
        per_site.select(
            (2 * F.col("n_called")).alias("an"),
            (F.col("n_het") + 2 * F.col("n_hom_alt")).alias("ac"),
        )
        .groupBy("an", "ac")
        .agg(F.count(F.lit(1)).alias("n_sites"))
    )


def roh_runs(
    df: DataFrame,
    sample_col: str,
    pos_col: str,
    a1_col: str = "a1",
    a2_col: str = "a2",
    missing: str = ".",
    min_sites: int = 2,
) -> DataFrame:
    """Runs of homozygosity per sample (plink --homozyg family): maximal
    runs of CONSECUTIVE called sites — in the sample's own position
    order — where both alleles agree (hom-ref and hom-alt both count;
    ROH is about autozygosity, not the allele). Long stretches flag
    consanguinity, deletions, or reference bias; uncalled sites are
    skipped (they carry no evidence either way), heterozygous sites
    break the run. Output: (sample, start_pos, end_pos, n_sites BIGINT),
    runs shorter than `min_sites` dropped.

    Plan: two row_numbers over the SAME (sample, pos) window (one over
    called sites, one over the homozygous subset) — their difference is
    constant within a run (gap-and-island, the `repeated_ngram_spans`
    device) — then one groupBy for run bounds. One shuffle on the sample
    key; samples process in parallel."""
    if min_sites < 1:
        raise ValueError(f"min_sites must be >= 1, got {min_sites}")
    a1, a2 = F.col(a1_col), F.col(a2_col)
    called = (
        a1.isNotNull() & a2.isNotNull() & (a1 != missing) & (a2 != missing)
    )
    w = Window.partitionBy(sample_col).orderBy(pos_col)
    ranked = (
        df.filter(called)
        .withColumn("__rn", F.row_number().over(w))
        .filter(a1 == a2)
        .withColumn("__rh", F.row_number().over(w))
        .withColumn("__grp", F.col("__rn") - F.col("__rh"))
    )
    return (
        ranked.groupBy(F.col(sample_col).alias("sample"), "__grp")
        .agg(
            F.min(pos_col).alias("start_pos"),
            F.max(pos_col).alias("end_pos"),
            F.count(F.lit(1)).alias("n_sites"),
        )
        .filter(F.col("n_sites") >= min_sites)
        .drop("__grp")
    )


def inbreeding_stats(
    df: DataFrame,
    site_cols: list[str],
    sample_col: str,
    a1_col: str = "a1",
    a2_col: str = "a2",
    ref_col: str = "REF",
    missing: str = ".",
) -> DataFrame:
    """Per-sample inbreeding coefficient F (plink --het's
    method-of-moments): over the sample's called diploid genotypes,

        F = 1 − O(het) / E(het),   E(het) = Σ_sites 2·p̂(1−p̂)

    with p̂ the site's collapsed ref-allele frequency estimated from ALL
    called genotypes at that site (the cohort is its own reference
    panel). F ≈ 0 for an outbred sample, > 0 under consanguinity or
    DNA-quality het deficit, < 0 with contamination's het excess — the
    third leg of the QC triad next to `sample_qc` and `hwe_stats`.
    Output: (sample, n_called BIGINT, obs_het BIGINT, exp_het DOUBLE
    round 4, f DOUBLE round 4; f NULL when E(het) = 0 — a cohort with no
    polymorphic sites supports no estimate).

    Plan: the per-site frequency relation (sites × 2 counters, one
    partial-agged groupBy) joins BACK onto the calls on the site key —
    the reference's J-series join-back shape — then one per-sample
    aggregation; the calls table is scanned twice (frequency pass +
    join), the co-partitioned-join cost every genotype pipeline pays."""
    a1, a2, ref = F.col(a1_col), F.col(a2_col), F.col(ref_col)
    called = (
        a1.isNotNull() & a2.isNotNull() & (a1 != missing) & (a2 != missing)
    )
    nref = F.when(called, (a1 == ref).cast("int") + (a2 == ref).cast("int"))
    calls = df.withColumn("__nref", nref).filter(F.col("__nref").isNotNull())
    freq = calls.groupBy(*site_cols).agg(
        F.sum("__nref").alias("__sum_ref"),
        F.count(F.lit(1)).alias("__n"),
    )
    p = F.col("__sum_ref") / (2.0 * F.col("__n"))
    freq = freq.select(
        *site_cols, (2.0 * p * (1.0 - p)).alias("__ehet")
    )
    joined = calls.join(freq, on=site_cols)
    agg = joined.groupBy(F.col(sample_col).alias("sample")).agg(
        F.count(F.lit(1)).alias("n_called"),
        F.sum(F.when(F.col("__nref") == 1, 1).otherwise(0)).alias("obs_het"),
        F.sum("__ehet").alias("__e"),
    )
    return agg.select(
        "sample",
        "n_called",
        "obs_het",
        F.round(F.col("__e"), 4).alias("exp_het"),
        F.when(
            F.col("__e") > 0,
            F.round(1.0 - F.col("obs_het") / F.col("__e"), 4),
        ).alias("f"),
    )


def cohort_qc(
    df: DataFrame,
    site_cols: list[str],
    sample_col: str,
    a1_col: str = "a1",
    a2_col: str = "a2",
    ref_col: str = "REF",
    missing: str = ".",
) -> DataFrame:
    """One-call per-sample cohort QC table — the screen a genetics study
    reads before anything else, combining the collapsed-class metrics of
    this module's QC family over the parsed long table:

      n_sites     rows observed for the sample
      n_called    fully-called diploid genotypes
      call_rate   n_called / n_sites (round 4)
      obs_het     heterozygous genotypes (exactly one REF allele)
      het_rate    obs_het / n_called (round 4; NULL when nothing called)
      exp_het     Σ 2·p̂(1−p̂) over the sample's called sites (round 4)
      f           1 − obs_het / exp_het (`inbreeding_stats`; NULL when
                  exp_het = 0)

    Plan: `inbreeding_stats`' frequency pass + join-back + per-sample
    aggregation, plus ONE extra per-sample count for the n_sites
    denominator (uncalled rows never reach the frequency join), joined
    on the sample key — samples-sized relations, broadcast-able."""
    inb = inbreeding_stats(
        df, site_cols, sample_col,
        a1_col=a1_col, a2_col=a2_col, ref_col=ref_col, missing=missing,
    )
    totals = df.groupBy(F.col(sample_col).alias("sample")).agg(
        F.count(F.lit(1)).alias("n_sites")
    )
    out = totals.join(inb, "sample", "left")
    n_called = F.coalesce(F.col("n_called"), F.lit(0)).alias("n_called")
    return out.select(
        "sample",
        "n_sites",
        n_called,
        F.round(
            F.coalesce(F.col("n_called"), F.lit(0))
            / F.col("n_sites").cast("double"),
            4,
        ).alias("call_rate"),
        F.coalesce(F.col("obs_het"), F.lit(0)).alias("obs_het"),
        F.when(
            F.col("n_called") > 0,
            F.round(F.col("obs_het") / F.col("n_called").cast("double"), 4),
        ).alias("het_rate"),
        "exp_het",
        "f",
    )


def burden_counts(
    df: DataFrame,
    site_cols: list[str],
    sample_col: str,
    dosage_col: str,
    gene_col: str,
    max_af: float = 0.05,
) -> DataFrame:
    """Rare-variant burden collapsing (the CAST / gene-burden-test
    aggregation; rvtests / regenie's first stage): restrict to sites
    whose cohort alt-allele frequency p̂ ≤ `max_af`, then per (sample,
    gene) accumulate

        n_sites    — rare sites in the gene where the sample is called,
        burden     — Σ alt dosage (the CAST statistic's genotype sum),
        n_carrier  — rare sites where the sample carries ≥1 alt allele.

    `gene_col` is the site-level grouping key (a gene id from an
    interval join, or a positional window). p̂ is estimated from ALL
    called genotypes at the site, the cohort-as-its-own-panel convention
    shared with [[inbreeding_stats]]. Only (sample, gene) pairs with at
    least one called rare site appear — the zero-row is the caller's
    left join if a dense matrix is wanted (samples × genes is the
    association test's own materialization, not this operator's).

    Plan: the site-frequency relation (sites × 2 counters, one partial
    agg) filters to the rare subset BEFORE the join back — at 5% MAF on
    real exomes that is a large scan cut — then one partial-aggregated
    groupBy(sample, gene). Two shuffles of site-keyed rows, counters
    only."""
    if not 0.0 < max_af <= 1.0:
        raise ValueError(f"max_af must be in (0, 1], got {max_af}")
    dcol = F.col(dosage_col)
    calls = df.filter(dcol.isNotNull())
    freq = calls.groupBy(*site_cols).agg(
        F.sum(dcol.cast("double")).alias("__sum_d"),
        F.count(F.lit(1)).alias("__n"),
    )
    rare = freq.filter(
        F.col("__sum_d") / (2.0 * F.col("__n")) <= F.lit(float(max_af))
    ).select(*site_cols)
    joined = calls.join(rare, on=site_cols)
    return (
        joined.groupBy(
            F.col(sample_col).alias("sample"),
            F.col(gene_col).alias("gene"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_sites"),
            F.sum(dcol.cast("long")).alias("burden"),
            F.sum((dcol > 0).cast("long")).alias("n_carrier"),
        )
    )


def pi_windows(
    df: DataFrame,
    site_col: str,
    pos_col: str,
    window_size: int,
    a1_col: str = "a1",
    a2_col: str = "a2",
    ref_col: str = "REF",
    missing: str = ".",
) -> DataFrame:
    """Windowed nucleotide diversity π (vcftools --window-pi family):
    per genomic window of `window_size` positions,

        π_site = (2j(n−j)) / (n(n−1)),   j = alt alleles, n = called
                                          alleles at the site
        (the unbiased pairwise-difference form; 0 for monomorphic or
         n < 2 sites),
        pi_sum  = Σ π_site over the window's variant sites,
        pi      = pi_sum / window_size  (invariant positions count as
                  zero diversity — vcftools' denominator convention).

    Output: (win BIGINT = floor(pos / window_size), n_sites,
    n_variant BIGINT, pi_sum DOUBLE round 6, pi DOUBLE round 6) —
    the diversity track a selection scan or diversity map plots.

    Plan: one per-site counter aggregation (collapses the sample
    dimension map-side), then one per-window partial agg over
    site-sized rows — the inbreeding_stats frequency pass re-keyed by
    window, no joins."""
    if window_size < 1:
        raise ValueError(f"window_size must be >= 1, got {window_size}")
    a1, a2, ref = F.col(a1_col), F.col(a2_col), F.col(ref_col)
    called1 = a1.isNotNull() & (a1 != missing)
    called2 = a2.isNotNull() & (a2 != missing)
    alt = F.when(called1, (a1 != ref).cast("int")).otherwise(0) + F.when(
        called2, (a2 != ref).cast("int")
    ).otherwise(0)
    n_called = called1.cast("int") + called2.cast("int")
    per_site = df.groupBy(
        F.col(site_col).alias("__s"),
        (F.floor(F.col(pos_col) / F.lit(window_size))).alias("win"),
    ).agg(
        F.sum(alt).alias("__j"),
        F.sum(n_called).alias("__n"),
    )
    j, n = F.col("__j").cast("double"), F.col("__n").cast("double")
    pi_site = F.when(
        F.col("__n") >= 2, 2.0 * j * (n - j) / (n * (n - 1.0))
    ).otherwise(F.lit(0.0))
    return (
        per_site.withColumn("__pi", pi_site)
        .groupBy("win")
        .agg(
            F.count(F.lit(1)).alias("n_sites"),
            F.sum((F.col("__pi") > 0).cast("long")).alias("n_variant"),
            F.round(F.sum("__pi"), 6).alias("pi_sum"),
            F.round(F.sum("__pi") / F.lit(float(window_size)), 6).alias("pi"),
        )
    )

"""Genotype-annotation column expressions.

Each function here is the Spark-native (JVM, whole-stage-codegen) equivalent
of a pandas row function in the reference implementation:

  - phase_expr        <- get_phase            (reference variant_annotations.py:24-31)
  - alleles_expr /
    allele_expr /
    with_gt_alleles   <- vector_GT_alleles    (reference variant_annotations.py:21-60)
  - zygosity_expr     <- zygosity_fast        (reference variant_annotations.py:64-127)
  - vartype_expr      <- vartype_map          (reference variant_annotations.py:130-162)
  - multiallele_expr  <- ALT.str.count(',')   (reference variant_annotations.py:504)
  - format_map_expr   <- _qual_preprocess     (reference variant_annotations.py:593-611)
  - strip_chr         <- str.replace('chr','') (reference pandasvcf.py:177; anchored
                         here — the reference's unanchored replace is a documented quirk)

The reference computes these with Python functions mapped over numpy arrays
(then deduplicates + joins back to amortize their cost). Expressed as native
column expressions they are cheap enough to run per-row, which deletes the
dedup/join machinery entirely and keeps the whole pipeline inside
whole-stage codegen — no Python boundary, no shuffle.

Documented semantic notes (see SURVEY.md §8.2):
  * haploid calls (GT='1') get a2='.', zygosity 'het-miss' — reference parity.
  * a '.' allele compared to a 1-char REF classifies as 'snp' — reference parity.
  * missing-value sentinel is '.' throughout; engine maps it to NULL only where
    the reference does (sample calls pre-explode).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: The canonical variant-site key (reference pandasvcf.py:178-179).
SITE_KEY = ["CHROM", "POS", "REF", "ALT"]

#: Fixed VCF columns; everything else in a VCF body line is a sample column.
FIXED_COLS = ["CHROM", "POS", "ID", "REF", "ALT", "QUAL", "FILTER", "INFO", "FORMAT"]

#: GT strings the reference treats as fully-missing and drops
#: (reference variant_annotations.py:614-622).
MISSING_GT = ("./.", ".|.", ".")


def strip_chr(col: Column | str) -> Column:
    """Normalize 'chr22' -> '22'. Anchored (intended semantics; the reference's
    unanchored str.replace is a documented bug, SURVEY §8.2)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_replace(c, "^chr", "")


def phase_expr(gt: Column | str) -> Column:
    """'|' if phased, '/' if unphased, '-' if haploid (no separator)."""
    g = F.col(gt) if isinstance(gt, str) else gt
    return (
        F.when(g.contains("|"), F.lit("|"))
        .when(g.contains("/"), F.lit("/"))
        .otherwise(F.lit("-"))
    )


def gt_parts_expr(gt: Column | str) -> Column:
    """Split a genotype string on its phase separator: '0|1' -> ['0','1'],
    '1' -> ['1'], './1' -> ['.','1']."""
    g = F.col(gt) if isinstance(gt, str) else gt
    return F.split(g, r"[/|]")


def alleles_expr(ref: Column | str, alt: Column | str) -> Column:
    """Allele base array: [REF, ALT1, ALT2, ...] — the lookup table GT indices
    point into."""
    r = F.col(ref) if isinstance(ref, str) else ref
    a = F.col(alt) if isinstance(alt, str) else alt
    return F.concat(F.array(r), F.split(a, ","))


def allele_expr(alleles: Column, gt_idx: Column) -> Column:
    """Resolve one genotype index against the allele array; '.' and NULL pass
    through as '.' (missing-allele sentinel, reference parity). An
    unresolvable index (out of range / non-numeric / NEGATIVE — malformed
    input the reference would crash on) also maps to '.' so it classifies as
    a missing call rather than leaking NULLs into the zygosity logic.

    The negative guard matters: element_at(arr, 0) raises
    INVALID_INDEX_OF_ZERO even via try_element_at, and a negative index
    silently resolves from the END of the array — either way one malformed
    GT ('-1/0') must not abort or mis-annotate a 100 TB job."""
    idx = gt_idx.try_cast("int")
    return F.when(
        gt_idx.isNull() | (gt_idx == ".") | idx.isNull() | (idx < 0), F.lit(".")
    ).otherwise(
        F.coalesce(F.try_element_at(alleles, idx + 1), F.lit("."))
    )


def gt_index_expr(gt_part: Column) -> Column:
    """Genotype index as nullable int ('.' and haploid-missing -> NULL)."""
    return F.when(gt_part == ".", F.lit(None).cast("int")).otherwise(
        gt_part.try_cast("int")
    )


def with_gt_alleles(df: DataFrame) -> DataFrame:
    """Parse the GT column against REF/ALT: adds GT1/GT2 (nullable int
    allele indices) and a1/a2 (resolved allele strings, '.' when missing or
    unresolvable), plus the intermediate _gtp/_gt1_raw/_gt2_raw columns —
    callers select what they keep.

    The stages stay separate projections on purpose: Catalyst's
    CollapseProject will not inline a non-cheap expression (the split)
    into a parent that references it more than once, so the split runs
    once per row. Writing the parts inline would recompute it per use."""
    alleles = alleles_expr("REF", "ALT")
    return (
        df.withColumn("_gtp", gt_parts_expr("GT"))
        .withColumn("_gt1_raw", F.col("_gtp").getItem(0))
        .withColumn(
            "_gt2_raw",
            F.when(F.size("_gtp") > 1, F.try_element_at("_gtp", F.lit(2))),
        )
        .withColumn("GT1", gt_index_expr(F.col("_gt1_raw")))
        .withColumn("GT2", gt_index_expr(F.col("_gt2_raw")))
        .withColumn("a1", allele_expr(alleles, F.col("_gt1_raw")))
        .withColumn("a2", allele_expr(alleles, F.col("_gt2_raw")))
    )


def zygosity_expr(
    a1: Column,
    a2: Column,
    ref: Column | str,
    haploid: Column | None = None,
    haploid_mode: str = "miss",
) -> Column:
    """Classify a genotype call. Branch order matters and mirrors the
    reference's subframe partition (variant_annotations.py:64-127):
    hom-ref > hom-miss > het-miss > het-alt/hom-alt > het-ref.
    Haploid calls (a2='.') land in het-miss — documented reference parity.

    The opt-in SURVEY §7.2 `hemi` mode: pass `haploid` (a BOOLEAN column
    marking true single-allele calls — e.g. `phase == '-'` or `GT2 IS
    NULL`; a1/a2 alone cannot distinguish haploid from diploid-with-
    missing-second, both surface a2='.') and haploid_mode='hemi' to
    classify those calls as hemi-ref / hemi-alt / hemi-miss instead of
    folding them into the diploid missing branches. Default keeps exact
    reference behavior."""
    r = F.col(ref) if isinstance(ref, str) else ref
    miss1, miss2 = a1 == ".", a2 == "."
    base = (
        F.when((a1 == r) & (a2 == r), F.lit("hom-ref"))
        .when(miss1 & miss2, F.lit("hom-miss"))
        .when(miss1 | miss2, F.lit("het-miss"))
        .when((a1 != r) & (a2 != r) & (a1 != a2), F.lit("het-alt"))
        .when((a1 != r) & (a2 != r) & (a1 == a2), F.lit("hom-alt"))
        .otherwise(F.lit("het-ref"))
    )
    if haploid_mode == "miss" or haploid is None:
        if haploid_mode not in ("miss", "hemi"):
            raise ValueError(
                f"unknown haploid_mode {haploid_mode!r}: use 'miss' or 'hemi'"
            )
        return base
    if haploid_mode != "hemi":
        raise ValueError(
            f"unknown haploid_mode {haploid_mode!r}: use 'miss' or 'hemi'"
        )
    return (
        F.when(haploid & miss1, F.lit("hemi-miss"))
        .when(haploid & (a1 == r), F.lit("hemi-ref"))
        .when(haploid, F.lit("hemi-alt"))
        .otherwise(base)
    )


def _char_diff_count(ref: Column, alt: Column) -> Column:
    """Number of positions i where ref[i] != alt[i], iterating over alt's
    length (alt is the shorter-or-equal string at every call site). Pure
    higher-order-function expression — stays JVM-side."""
    return F.aggregate(
        F.sequence(F.lit(1), F.length(alt)),
        F.lit(0),
        lambda acc, i: acc
        + F.when(ref.substr(i, F.lit(1)) != alt.substr(i, F.lit(1)), 1).otherwise(0),
    )


def vartype_expr(ref: Column | str, allele: Column) -> Column:
    """Variant type of one allele vs REF: ref | snp | mnp | del | indel | ins.

    Mirrors reference vartype_map (variant_annotations.py:130-162):
      equal -> 'ref'; same length -> 1 differing char 'snp' else 'mnp';
      REF longer -> any differing char in the overlap 'indel' else 'del';
      REF shorter -> 'ins'. The "indel or SV" fallback is unreachable for
      non-null strings but kept for parity.
    Quirk kept: a '.' allele vs a 1-char REF classifies as 'snp'.
    """
    r = F.col(ref) if isinstance(ref, str) else ref
    len_diff = F.length(r) - F.length(allele)
    return (
        F.when(allele == r, F.lit("ref"))
        .when(
            len_diff == 0,
            F.when(_char_diff_count(r, allele) == 1, F.lit("snp")).otherwise(
                F.lit("mnp")
            ),
        )
        .when(
            len_diff > 0,
            F.when(_char_diff_count(r, allele) > 0, F.lit("indel")).otherwise(
                F.lit("del")
            ),
        )
        .when(len_diff < 0, F.lit("ins"))
        .otherwise(F.lit("indel or SV"))
    )


def multiallele_expr(alt: Column | str) -> Column:
    """Comma count of ALT: 0 for biallelic, n-1 for n alternate alleles.
    (Count semantics kept — more informative than the reference docstring's
    claimed {0,1}; SURVEY §8.2.)"""
    a = F.col(alt) if isinstance(alt, str) else alt
    return (F.size(F.split(a, ",")) - 1).cast("int")


def format_map_expr(format_col: Column | str, call: Column | str) -> Column:
    """Zip a FORMAT spec ('GT:AD:DP') with a sample call ('0/1:10,5:12') into
    MAP<field,value>. Handles ragged calls (a bare '.' call against a 6-field
    FORMAT) by null-padding: zip_with pads the shorter side, then entries with
    null keys are dropped before map construction."""
    f = F.col(format_col) if isinstance(format_col, str) else format_col
    c = F.col(call) if isinstance(call, str) else call
    keys = F.split(f, ":")
    entries = F.zip_with(
        keys,
        F.split(c, ":"),
        lambda k, v: F.struct(k.alias("key"), v.alias("value")),
    )
    # Keep only the FIRST occurrence of each key: a malformed FORMAT spec
    # that repeats a field ('GT:DP:DP') would otherwise abort the whole job
    # with DUPLICATED_MAP_KEY under the default EXCEPTION map-dedup policy.
    deduped = F.filter(
        entries,
        lambda e, i: e["key"].isNotNull()
        & (F.array_position(keys, e["key"]) == i + 1),
    )
    return F.map_from_entries(deduped)


def hom_ref_call_indicator(call: Column, ref: Column, alt: Column) -> Column:
    """1 if a raw sample call ('0|0:...' etc.) is a hom-ref genotype under the
    reference's definition (both resolved alleles string-equal REF), else 0.

    Evaluated against the *wide* row (before explode) so per-site hom-ref
    counts can be computed with a per-row reduce over the sample map instead
    of a post-explode window aggregate — removing the only shuffle from the
    annotation pipeline. NULL/missing calls count 0. Haploid calls count 0
    (reference parity: haploid is never hom-ref, SURVEY §8.2).

    The genotype is the call's first ':'-field: the VCF spec puts GT first
    when present, and `operators.annotate.annotate_genotypes` reads GT by
    the same rule whenever FORMAT leads with GT.
    """
    # Fast path: GT index 0 resolves to REF by definition, so a literal
    # '0|0' / '0/0' call is hom-ref without any allele resolution. In a
    # population panel the overwhelming majority of calls are exactly that
    # (1000G: ~98%), and when() evaluates lazily per row — the split/lookup
    # machinery below only runs for the rare non-trivial calls.
    fast_hom_ref = (
        call.isin("0|0", "0/0")
        | call.startswith("0|0:")
        | call.startswith("0/0:")
    )
    gt = F.split(F.split(call, ":").getItem(0), r"[/|]")
    alleles = alleles_expr(ref, alt)
    a1 = allele_expr(alleles, gt.getItem(0))
    a2 = allele_expr(alleles, F.when(F.size(gt) > 1, gt.getItem(1)))
    return (
        F.when(call.isNull(), F.lit(0))
        .when(fast_hom_ref, F.lit(1))
        .when((a1 == ref) & (a2 == ref), F.lit(1))
        .otherwise(F.lit(0))
    )


def is_transition_expr(ref: Column | str, alt: Column | str) -> Column:
    """BOOLEAN: the REF>ALT change is a transition (purine<->purine A<->G
    or pyrimidine<->pyrimidine C<->T); False = transversion; NULL when
    either side is not a single A/C/G/T base (indels, multi-base, '.',
    symbolic alleles) — filter on `isNotNull` to restrict to SNPs.

    The Ts/Tv ratio over a callset (genome-wide expectation ~2.0-2.1,
    higher in exonic regions) is the standard variant-QC screen: a ratio
    far below expectation means the callset is noise-heavy."""
    r = F.col(ref) if isinstance(ref, str) else ref
    a = F.col(alt) if isinstance(alt, str) else alt

    def base(c):
        return c.isin("A", "C", "G", "T")

    def purine(c):
        return c.isin("A", "G")

    return F.when(base(r) & base(a) & (r != a), purine(r) == purine(a))


def slice_a_field_expr(value: Column | str, alt_index: Column | int) -> Column:
    """Number=A FORMAT/INFO sub-field slice for a biallelic-split record:
    'a1,a2,...' keeps element `alt_index` (1-based alternate position) —
    AF/MLEAC-shaped per-alternate values. Short or missing lists yield
    NULL (try_element_at), never an ANSI error. Compose with
    `reshape.split_multiallelic`'s alt_index column on the long table:
    ``slice_a_field_expr(fields['AF'], F.col('alt_index'))``."""
    v = F.col(value) if isinstance(value, str) else value
    j = F.lit(alt_index) if isinstance(alt_index, int) else alt_index
    return F.try_element_at(F.split(v, ","), j.cast("int"))


def slice_r_field_expr(value: Column | str, alt_index: Column | int) -> Column:
    """Number=R FORMAT/INFO sub-field slice: 'ref,a1,a2,...' keeps the
    REF element plus this record's alternate — the AD (allelic depth)
    shape, whose biallelic form is 'ref_depth,alt_depth'. NULL when
    either element is absent (a partial 'ref-only' slice would silently
    change the field's arity and corrupt downstream parsers)."""
    v = F.col(value) if isinstance(value, str) else value
    j = F.lit(alt_index) if isinstance(alt_index, int) else alt_index
    parts = F.split(v, ",")
    ref_part = F.try_element_at(parts, F.lit(1))
    alt_part = F.try_element_at(parts, (j + 1).cast("int"))
    return F.when(
        ref_part.isNotNull() & alt_part.isNotNull(),
        F.concat_ws(",", ref_part, alt_part),
    )


def slice_g_field_expr(
    value: Column | str, alt_index: Column | int, ploidy: int = 2
) -> Column:
    """Number=G (genotype-indexed) FORMAT/INFO sub-field slice — the PL/GL
    shape (one value per possible genotype). For the biallelic record of
    alternate `alt_index` (1-based allele index k), the surviving
    genotypes are those over the allele subset {0, k}; with the VCF spec's
    diploid ordering (genotype (i,j), i<=j, stored at index j(j+1)/2 + i)
    the biallelic triple is the original elements at 0-based indices

        0            -> (0,0)
        k(k+1)/2     -> (0,k)
        k(k+1)/2 + k -> (k,k)

    so ALT='G,T' PL='a,b,c,d,e,f' slices to 'a,b,c' for k=1 and 'a,d,f'
    for k=2 — exactly bcftools `norm -m-`'s PL handling. `ploidy=1`
    (haploid GL: one value per ALLELE) keeps elements {1, k+1}.

    NULL when any required element is absent (a too-short list — e.g. a
    haploid PL fed to the diploid slicer — yields NULL rather than a
    silently mis-indexed triple), the same arity rule as
    `slice_r_field_expr`. Pure column expression, composes with
    `reshape.split_multiallelic`'s `alt_index` on the long table."""
    if ploidy not in (1, 2):
        raise ValueError(f"ploidy must be 1 or 2, got {ploidy}")
    v = F.col(value) if isinstance(value, str) else value
    j = (
        F.lit(alt_index) if isinstance(alt_index, int) else alt_index
    ).cast("int")
    parts = F.split(v, ",")
    if ploidy == 1:
        picks = [F.lit(1), j + 1]
    else:
        tri = ((j * (j + 1)) / 2).cast("int")  # j(j+1) is even: exact
        picks = [F.lit(1), tri + 1, tri + j + 1]
    vals = [F.try_element_at(parts, p.cast("int")) for p in picks]
    all_present = vals[0].isNotNull()
    for x in vals[1:]:
        all_present = all_present & x.isNotNull()
    return F.when(all_present, F.concat_ws(",", *vals))

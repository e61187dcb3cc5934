"""Reshaping operators: long<->wide (the reference's stack/unstack pair).

The wide->long direction lives in annotate.explode_genotypes (reference R1).
This module adds the inverse (reference R2 — `unstack(level=4)` in the
example notebook, cell 17) and the union helper (reference R3).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pandasvcf_spark.functions.genomics import SITE_KEY
from pandasvcf_spark.functions.maps import str_array_lit


def pivot_genotypes(
    long_df: DataFrame,
    value_col: str = "GT",
    sample_ids: list[str] | None = None,
) -> DataFrame:
    """Long genotype table -> wide site x sample matrix of `value_col`
    (reference R2: set_index(...).unstack(level=4)).

    sample_ids: pass the known sample list to skip the distinct-scan Spark
    otherwise needs to discover pivot columns — on a large cluster that
    avoids an extra job over the full table. With thousands of samples the
    wide shape is inherently driver-heavy; prefer the long shape for
    analysis and pivot only narrowed slices (as the reference notebook does).
    """
    p = long_df.groupBy(*SITE_KEY).pivot("sample_ids", sample_ids)
    return p.agg(F.first(value_col))


def union_genotypes(*dfs: DataFrame) -> DataFrame:
    """Union by column name, tolerating missing columns (reference R3
    pd.concat; Spark fills absent columns with NULL)."""
    out = dfs[0]
    for df in dfs[1:]:
        out = out.unionByName(df, allowMissingColumns=True)
    return out


def split_multiallelic(
    df: DataFrame,
    alt_col: str = "ALT",
    gt_col: str = "GT",
    others: str = "missing",
    alt_index_col: str = "alt_index",
    alt_out_col: str = "alt_allele",
    gt_out_col: str = "gt_split",
    info_col: str | None = None,
    a_fields: list[str] | None = None,
) -> DataFrame:
    """Decompose multi-ALT rows into biallelic records — the engine form
    of "split multiallelic sites" (bcftools `norm -m-` / GATK
    `--split-multi-allelics` family). Each input row with ALT "G,T"
    yields one row per alternate allele, carrying:

      * `alt_index` — 1-based index of this allele in the original ALT,
      * `alt_allele` — the allele string (default name avoids Spark's
        case-insensitive collision with an input column named ALT),
      * `gt_split`  — the genotype re-expressed against the biallelic
        site: allele 0 stays 0, THIS allele's index becomes 1, and an
        allele pointing at a DIFFERENT alternate becomes '.' (missing,
        `others='missing'`, the GATK-style default) or '0' (ref,
        `others='ref'` — the other published convention; tools disagree,
        so the choice is explicit). '.' stays '.'. Phase separators and
        haploid calls are preserved.

    Number=A INFO fields (one comma-separated value per alternate: AC,
    AF, MLEAC, ...) split alongside the site: pass `info_col` (the raw
    INFO payload) and `a_fields` to get one `<field>_split` column per
    name holding THIS record's slice (missing field / short list → NULL,
    never an error). Per-sample FORMAT sub-fields re-slice on the LONG
    table with `functions.genomics.slice_a_field_expr` (Number=A) and
    `slice_r_field_expr` (Number=R: AD's 'ref,alt' shape) against this
    operator's `alt_index`; Number=G (PL/GL's genotype-indexed triangle)
    with `slice_g_field_expr` (diploid index j(j+1)/2+i restricted to the
    allele subset {0, alt_index}).

    Pure column expressions: posexplode over the split ALT list, one
    transform over the GT tokens, rejoin on the original separator — no
    shuffle at all (a Generate node, row-parallel at any scale). Assumes
    one separator style per call (true for diploid GTs; mixed-phase
    polyploids like '0/1|2' would need token-wise separators)."""
    if others not in ("missing", "ref"):
        raise ValueError(f"others must be 'missing' or 'ref', got {others!r}")
    other_token = "." if others == "missing" else "0"
    alts = F.split(F.col(alt_col), ",")
    tokens = F.split(F.col(gt_col), r"[/|]")
    exploded = df.select(
        "*", F.posexplode(alts).alias("__pos", alt_out_col)
    ).withColumn(alt_index_col, (F.col("__pos") + 1).cast("int"))
    j_str = F.col(alt_index_col).cast("string")
    remapped = F.transform(
        tokens,
        lambda t: F.when(t == "0", "0")
        .when(t == j_str, "1")
        .when(t == ".", ".")
        .otherwise(F.lit(other_token)),
    )
    # array_join's delimiter must be a literal; branch on the (single)
    # phase separator instead. The remapped transform inlines into both
    # branches — a 2x constant on a small scalar expression, not the
    # quadratic HOF-capture trap (functions/text.py bound_expr) since
    # nothing here grows with data or array size.
    joined = F.when(
        F.col(gt_col).contains("|"), F.array_join(remapped, "|")
    ).otherwise(F.array_join(remapped, "/"))
    out = exploded.withColumn(gt_out_col, joined)
    if a_fields:
        if info_col is None:
            raise ValueError("a_fields requires info_col")
        from pandasvcf_spark.functions.maps import info_map_expr

        imap = info_map_expr(F.col(info_col))
        for field in a_fields:
            out = out.withColumn(
                f"{field}_split",
                F.try_element_at(
                    F.split(F.try_element_at(imap, F.lit(field)), ","),
                    F.col(alt_index_col),
                ),
            )
    return out.drop("__pos")


def merge_vcf_panels(
    left: DataFrame,
    right: DataFrame,
    left_samples: list[str],
    right_samples: list[str],
    missing: str = "./.",
    samples_col: str = "samples",
) -> DataFrame:
    """Merge two sample panels over the same reference — the engine form
    of combining per-cohort VCFs (reference surface: one file, one panel;
    real studies genotype cohorts separately and merge). Rows join FULL
    OUTER on the site key (CHROM, POS, REF, ALT); the merged sample map
    is the concatenation of both panels' maps, with a panel that lacks
    the site contributing `missing` ('./.') for every one of ITS samples
    — which is why the sample lists are required arguments: an absent row
    carries no map to read the sample ids from (they come from the VCF
    header, `VCFHeader.sample_ids`). Sample ids must be DISJOINT across
    panels: a duplicated id makes map_concat raise DUPLICATED_MAP_KEY
    under the session's default dedup policy — an explicit error, not a
    silent partition-dependent pick; rename collisions upstream.

    Fixed columns beyond the key (ID/QUAL/FILTER/INFO/FORMAT, when
    present in both) resolve by COALESCE(left, right). One shuffle on
    the site key; panels co-partitioned by a prior `write_bucketed` on
    the key merge with zero exchanges."""

    def fill(samples: list[str]):
        return F.map_from_arrays(
            str_array_lit(samples),
            F.array_repeat(F.lit(missing), len(samples)),
        )

    l = left.withColumnRenamed(samples_col, "__ls")
    r = right.withColumnRenamed(samples_col, "__rs")
    shared = [
        c
        for c in l.columns
        if c in set(r.columns) and c not in SITE_KEY and c != "__rs"
    ]
    l = l.select(
        *SITE_KEY, "__ls", *[F.col(c).alias(f"__l_{c}") for c in shared]
    )
    r = r.select(
        *SITE_KEY, "__rs", *[F.col(c).alias(f"__r_{c}") for c in shared]
    )
    joined = l.join(r, on=SITE_KEY, how="full_outer")
    merged_samples = F.map_concat(
        F.coalesce(F.col("__ls"), fill(left_samples)),
        F.coalesce(F.col("__rs"), fill(right_samples)),
    )
    out = joined.select(
        *SITE_KEY,
        *[
            F.coalesce(F.col(f"__l_{c}"), F.col(f"__r_{c}")).alias(c)
            for c in shared
        ],
        merged_samples.alias(samples_col),
    )
    return out


def unpivot_columns(
    df: DataFrame,
    id_cols: list[str],
    value_cols: list[str],
    var_name: str = "metric",
    value_name: str = "value",
) -> DataFrame:
    """Generic wide→long melt (the inverse of `pivot_genotypes` /
    `pivot_counts`; pandas `melt`, ANSI UNPIVOT): one output row per
    (input row × value column), with the column NAME in `var_name` and
    its value cast to a common type in `value_name`. Built on Spark's
    native `unpivot` — a zero-shuffle Expand node (each input row fans
    out locally), never a union of per-column scans: the input is read
    ONCE however many columns melt."""
    if not value_cols:
        raise ValueError("value_cols must name at least one column")
    return df.unpivot(
        [F.col(c) for c in id_cols],
        [F.col(c) for c in value_cols],
        var_name,
        value_name,
    )

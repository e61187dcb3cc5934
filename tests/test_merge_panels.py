"""merge_vcf_panels (operators/reshape.py): cohort-merge semantics — a
round-trip split/merge equality and the missing-fill path when one panel
lacks sites, on the checked-in golden fixture and on the real titin
fixture."""

from __future__ import annotations

import os

import pytest
from conftest import DATA_DIR
from pyspark.sql import functions as F

from pandasvcf_spark.functions.maps import str_array_lit
from pandasvcf_spark.operators.reshape import merge_vcf_panels
from pandasvcf_spark.sources.vcf import read_vcf, read_vcf_header

TITIN = "/root/reference/test_data/SWGR_titin.vcf.gz"
GOLDEN = os.path.join(DATA_DIR, "golden.vcf")


def _site_maps(df):
    return {
        (r["CHROM"], r["POS"], r["REF"], r["ALT"]): r["samples"]
        for r in df.collect()
    }


def test_merge_golden_roundtrip_equals_original(spark):
    """Reading S1 and S2 as two explicit-subset panels and merging them
    reproduces the all-samples read site for site; the merged rows keep
    the fixed columns too."""
    a = read_vcf(spark, GOLDEN, samples=["S1"])
    b = read_vcf(spark, GOLDEN, samples=["S2"])
    merged = merge_vcf_panels(a, b, ["S1"], ["S2"])
    orig = read_vcf(spark, GOLDEN)
    assert _site_maps(merged) == _site_maps(orig)
    assert sorted(merged.columns) == sorted(orig.columns)
    qual = {r["POS"]: r["QUAL"] for r in merged.collect()}
    assert qual[100] == 50.0 and qual[200] is None


def test_merge_golden_missing_fill(spark):
    """Sites absent from one panel get `missing` for every one of that
    panel's samples; sites absent from both never appear."""
    a = read_vcf(spark, GOLDEN, samples=["S1"]).filter(F.col("POS") <= 400)
    b = read_vcf(spark, GOLDEN, samples=["S2"]).filter(F.col("POS") >= 300)
    got = {
        pos: m for (_, pos, _, _), m in _site_maps(
            merge_vcf_panels(a, b, ["S1"], ["S2"])
        ).items()
    }
    assert got == {
        100: {"S1": "0|1:12", "S2": "./."},
        200: {"S1": "1|2:30", "S2": "./."},
        300: {"S1": "1/1", "S2": "./."},
        400: {"S1": "0/1", "S2": "1/1"},
        500: {"S1": "./.", "S2": "0"},
        600: {"S1": "./.", "S2": "0/0"},
    }


def test_str_array_lit_is_one_literal(spark):
    """The helper the sample-key sites use returns `values` (empty list
    included) as one folded literal, and refuses a value with a tab."""
    ids = ["S1", "a b", "", "x,y"]
    row = spark.range(1).select(
        str_array_lit(ids).alias("k"), str_array_lit([]).alias("e")
    )
    assert row.first()["k"] == ids and row.first()["e"] == []
    assert "split(" not in row._jdf.queryExecution().optimizedPlan().toString()
    with pytest.raises(ValueError, match="tab"):
        str_array_lit(["ok", "bad\tid"])


def _panels(spark, n=60):
    # a 60-sample slice keeps the suite fast; panel width doesn't change
    # the merge semantics under test
    header = read_vcf_header(TITIN)
    samples = header.sample_ids[:n]
    half = n // 2
    a = read_vcf(spark, TITIN, samples=samples[:half])
    b = read_vcf(spark, TITIN, samples=samples[half:])
    return a, b, samples[:half], samples[half:]


def test_merge_panels_roundtrip_equals_original(spark):
    """Splitting a real panel in half and merging back reproduces the
    original wide table exactly (every site present in both halves, so
    no fill path fires)."""
    a, b, sa, sb = _panels(spark)
    merged = merge_vcf_panels(a, b, sa, sb)
    orig = read_vcf(spark, TITIN, samples=sa + sb)
    m = merged.select(
        "CHROM", "POS", "REF", "ALT", F.map_entries("samples").alias("e")
    )
    o = orig.select(
        "CHROM", "POS", "REF", "ALT", F.map_entries("samples").alias("e")
    )
    assert m.count() == o.count()
    # exact per-site sample-map equality via exceptAll both ways
    assert m.exceptAll(o).count() == 0
    assert o.exceptAll(m).count() == 0


def test_merge_panels_missing_fill(spark):
    """Dropping the even-POS sites from panel B: merged rows at those
    sites carry './.' for every B sample and real calls for A."""
    a, b, sa, sb = _panels(spark)
    b_holes = b.filter(F.col("POS") % 2 == 1)
    merged = merge_vcf_panels(a, b_holes, sa, sb)
    assert merged.count() == a.count()  # site universe = A's (B ⊆ A)
    even = merged.filter(F.col("POS") % 2 == 0)
    n_even = even.count()
    assert n_even > 0
    filled = even.filter(
        F.col("samples")[sb[0]].eqNullSafe("./.")
        & F.col("samples")[sb[-1]].eqNullSafe("./.")
        & ~F.col("samples")[sa[0]].isNull()
    )
    assert filled.count() == n_even
    # sample universe intact on every row
    assert (
        merged.filter(F.size("samples") != len(sa) + len(sb)).count() == 0
    )

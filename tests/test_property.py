"""Property-based tests for the GT parser / annotation expressions
(SURVEY §5 test plan): random REF/ALT/ploidy/phase/missing combinations,
checked against a pure-Python model of the reference semantics."""

import os

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from pandasvcf_spark.operators.annotate import annotate_genotypes, explode_genotypes

BASES = st.text(alphabet="ACGT", min_size=1, max_size=4)


@st.composite
def vcf_site(draw):
    """One site: REF, ALT and 1-4 sample calls. A call is a genotype, the
    '.' missing sentinel, or NULL (a ragged line's absent column)."""
    ref = draw(BASES)
    n_alt = draw(st.integers(1, 3))
    alts = [draw(BASES) for _ in range(n_alt)]
    n_alleles = 1 + n_alt
    allele = st.one_of(st.just("."), st.integers(0, n_alleles - 1).map(str))

    def genotype():
        ploidy = draw(st.integers(1, 2))
        sep = draw(st.sampled_from(["/", "|"]))
        return sep.join(draw(allele) for _ in range(ploidy))

    kinds = draw(
        st.lists(st.sampled_from(["gt", "gt", "gt", ".", None]), min_size=1, max_size=4)
    )
    calls = [genotype() if k == "gt" else k for k in kinds]
    return ref, ",".join(alts), calls


def model_annotations(ref, alt, gt):
    """Pure-Python model of reference vector_GT_alleles + zygosity_fast +
    vartype_map (variant_annotations.py:21-162)."""
    if gt in ("./.", ".|.", "."):
        return None
    bases = [ref] + alt.split(",")
    parts = gt.replace("|", "/").split("/")
    a1 = "." if parts[0] == "." else bases[int(parts[0])]
    a2 = "." if len(parts) < 2 or parts[1] == "." else bases[int(parts[1])]

    if a1 == ref and a2 == ref:
        zyg = "hom-ref"
    elif a1 == "." and a2 == ".":
        zyg = "hom-miss"
    elif a1 == "." or a2 == ".":
        zyg = "het-miss"
    elif a1 != ref and a2 != ref and a1 != a2:
        zyg = "het-alt"
    elif a1 != ref and a2 != ref:
        zyg = "hom-alt"
    else:
        zyg = "het-ref"

    def vt(allele):
        if allele == ref:
            return "ref"
        d = len(ref) - len(allele)
        diff = sum(1 for i in range(min(len(ref), len(allele)))
                   if ref[i] != allele[i])
        if d == 0:
            return "snp" if diff == 1 else "mnp"
        if d > 0:
            return "indel" if diff > 0 else "del"
        return "ins"

    return a1, a2, zyg, vt(a1), vt(a2)


@given(st.lists(vcf_site(), min_size=1, max_size=20))
@settings(max_examples=15, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
def test_annotations_match_model(spark, sites):
    rows = [
        ("1", 100 + i, ref, alt, "GT",
         {f"S{j}": call for j, call in enumerate(calls)})
        for i, (ref, alt, calls) in enumerate(sites)
    ]
    # sites with a NULL and an empty sample map emit no rows in either
    # mode (explode_outer + a null-key filter == explode)
    rows += [("1", 90, "A", "G", "GT", None), ("1", 91, "A", "G", "GT", {})]
    wide = spark.createDataFrame(
        rows,
        "CHROM string, POS long, REF string, ALT string, FORMAT string,"
        " samples map<string,string>",
    )
    for drop in (False, True):
        long_df = explode_genotypes(wide, drop_hom_ref_calls=drop)
        assert long_df.filter(long_df["POS"] < 100).count() == 0
        ann = annotate_genotypes(
            long_df,
            drop_hom_ref=drop,
            format_fields=None,
        )
        rows_out = ann.collect()
        got = {(r["POS"], r["sample_ids"]): r for r in rows_out}
        kept = 0
        for i, (ref, alt, calls) in enumerate(sites):
            pos = 100 + i
            models = [
                None if call is None else model_annotations(ref, alt, call)
                for call in calls
            ]
            hom_ref = sum(1 for m in models if m and m[2] == "hom-ref")
            for j, (call, expected) in enumerate(zip(calls, models)):
                key = (pos, f"S{j}")
                if expected is None or (drop and expected[2] == "hom-ref"):
                    assert key not in got, f"call {call!r} should be dropped"
                    continue
                kept += 1
                r = got[key]
                assert (r["a1"], r["a2"], r["zygosity"], r["vartype1"], r["vartype2"]) == expected, (
                    f"REF={ref} ALT={alt} GT={call}"
                )
                assert r["hom_ref_counts"] == hom_ref, f"calls={calls}"
                # invariants: a1 in alleles or '.', multiallele = comma count
                assert r["a1"] in {"."} | set([ref] + alt.split(","))
                assert r["multiallele"] == alt.count(",")
        assert len(rows_out) == kept  # one row per kept call, no duplicates


def test_pivot_roundtrip(spark):
    from pandasvcf_spark.operators.annotate import annotate_vcf
    from pandasvcf_spark.operators.reshape import pivot_genotypes

    from conftest import DATA_DIR

    ann = annotate_vcf(
        spark, os.path.join(DATA_DIR, "golden.vcf"), drop_hom_ref=False
    )
    wide = pivot_genotypes(ann, "GT", sample_ids=["S1", "S2"])
    r = {x["POS"]: x for x in wide.collect()}
    assert r[100]["S1"] == "0|1" and r[100]["S2"] == "0|0"
    assert r[300]["S1"] == "1/1" and r[300]["S2"] is None  # ./. dropped


MALFORMED_GT = st.text(
    alphabet="0123456789./|-abcXY ", min_size=0, max_size=8
)


@given(st.lists(MALFORMED_GT, min_size=1, max_size=25))
@settings(max_examples=15, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
def test_malformed_gt_never_aborts(spark, gts):
    """ANSI-robustness: arbitrary junk GT strings (negative indices,
    out-of-range, non-numeric, empty) must never raise — every resolved
    allele is a real allele or the '.' sentinel, and zygosity stays in the
    closed label set. One bad row must not kill a 100 TB job."""
    from pyspark.sql import functions as F

    from pandasvcf_spark.functions.genomics import (
        allele_expr,
        alleles_expr,
        gt_parts_expr,
        zygosity_expr,
    )

    df = spark.createDataFrame([(g,) for g in gts], "gt string")
    gtp = gt_parts_expr("gt")
    alleles = alleles_expr(F.lit("A"), F.lit("G,T"))
    out = df.select(
        "gt",
        allele_expr(alleles, gtp.getItem(0)).alias("a1"),
        allele_expr(
            alleles, F.when(F.size(gtp) > 1, F.try_element_at(gtp, F.lit(2)))
        ).alias("a2"),
    )
    out = out.withColumn(
        "zyg", zygosity_expr(F.col("a1"), F.col("a2"), F.lit("A"))
    )
    rows = out.collect()  # must not raise
    labels = {"hom-ref", "hom-miss", "het-miss", "het-alt", "hom-alt", "het-ref"}
    for r in rows:
        assert r["a1"] in {"A", "G", "T", "."}, r
        assert r["a2"] in {"A", "G", "T", "."}, r
        assert r["zyg"] in labels, r


@given(
    st.text(alphabet="ABCDEFGHPQ:", min_size=0, max_size=12),
    st.text(alphabet="0123456789,.:|/", min_size=0, max_size=12),
)
@settings(max_examples=20, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
def test_format_map_never_aborts(spark, fmt, call):
    """format_map_expr must survive arbitrary FORMAT/call shapes: repeated
    keys, ragged lengths, empty strings — no DUPLICATED_MAP_KEY, no errors;
    values zip positionally for the first occurrence of each key."""
    from pyspark.sql import functions as F

    from pandasvcf_spark.functions.genomics import format_map_expr

    df = spark.createDataFrame([(fmt, call)], "f string, c string")
    m = df.select(format_map_expr("f", "c").alias("m")).first()["m"]
    keys = fmt.split(":")
    vals = call.split(":")
    expected = {}
    for i, k in enumerate(keys):
        if k not in expected:
            expected[k] = vals[i] if i < len(vals) else None
    assert m == expected


GT_FORMATS = ["GT", "GT:DP", "GT:DP:GQ", "GT:GT", "GT:", "DP:GT", "DP", "GTX:DP"]


@given(
    st.lists(
        st.tuples(
            st.sampled_from(GT_FORMATS),
            st.one_of(st.none(), st.text(alphabet="01.|/:23", max_size=8)),
        ),
        min_size=1,
        max_size=30,
    )
)
@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
def test_gt_is_first_field_when_format_leads_with_gt(spark, pairs):
    """annotate_genotypes reads GT as the call's first ':'-field when
    FORMAT leads with GT, and from the FORMAT map otherwise. Both must keep
    the rows, with the same GT, that a P7 filter on the map's 'GT' entry
    keeps — for ragged, empty, NULL and extra-field calls, and FORMATs
    that repeat GT, end in ':', name GT later, or only look like GT."""
    from pyspark.sql import functions as F

    from pandasvcf_spark.functions.genomics import MISSING_GT, format_map_expr

    long_df = spark.createDataFrame(
        [
            ("1", 100, "A", "G", fmt, f"s{i}", call, 0)
            for i, (fmt, call) in enumerate(pairs)
        ],
        "CHROM string, POS long, REF string, ALT string, FORMAT string, "
        "sample_ids string, call string, hom_ref_counts int",
    )
    got = annotate_genotypes(long_df, drop_hom_ref=False).select(
        "sample_ids", "GT"
    )
    gt = F.try_element_at(format_map_expr("FORMAT", "call"), F.lit("GT"))
    want = long_df.select("sample_ids", gt.alias("GT")).filter(
        F.col("GT").isNotNull() & ~F.col("GT").isin(*MISSING_GT)
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


@given(
    st.lists(  # left: (key, t, tag)
        st.tuples(st.integers(0, 2), st.integers(0, 50)),
        min_size=1, max_size=15,
    ),
    st.lists(  # right: (key, t, value)
        st.tuples(st.integers(0, 2), st.integers(0, 50), st.integers(0, 99)),
        min_size=0, max_size=15, unique_by=lambda r: (r[0], r[1]),
    ),
)
@settings(max_examples=15, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_asof_join_matches_naive_model(spark, left_rows, right_rows):
    """asof_join (union + window) vs the obvious O(n^2) per-row model:
    greatest right t <= left t within the key, else NULL."""
    from pandasvcf_spark.operators.relational import asof_join

    left = spark.createDataFrame(
        [(k, t, i) for i, (k, t) in enumerate(left_rows)],
        "k long, t long, idx long",
    )
    right = spark.createDataFrame(right_rows, "k long, t long, val long")
    got = {
        r["idx"]: (r["matched_t"], r["matched_val"])
        for r in asof_join(left, right, on="t", by=["k"]).collect()
    }
    for i, (k, t) in enumerate(left_rows):
        cands = [(rt, rv) for rk, rt, rv in right_rows if rk == k and rt <= t]
        want = max(cands) if cands else (None, None)
        assert got[i] == want, (i, k, t, got[i], want)


@given(
    st.binary(min_size=0, max_size=4000),
    st.integers(10, 200),
    st.integers(30, 500),
)
@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_bgzf_roundtrip_random_geometry(spark, tmp_path_factory, data, block, chunk):
    """write_bgzf -> read_bgzf_lines must reproduce spark.read.text for
    arbitrary bytes and any block/chunk geometry (lines spanning blocks,
    blocks spanning chunks, no trailing newline, empty payloads)."""
    import gzip

    from pandasvcf_spark.sources.bgzf import read_bgzf_lines, write_bgzf

    tmp = tmp_path_factory.mktemp("bgzf_prop")
    # keep it text-ish so line semantics are exercised; raw binary would
    # just exercise the replace-decode path
    text = bytes(b % 94 + 32 if b % 7 else 10 for b in data)  # ~1/7 newlines
    p = str(tmp / "t.gz")
    write_bgzf(p, text, block_raw_bytes=block)
    assert gzip.open(p, "rb").read() == text
    plain = str(tmp / "t.txt")
    open(plain, "wb").write(text)
    want = sorted(r["value"] for r in spark.read.text(plain).collect())
    got = sorted(
        r["value"]
        for r in read_bgzf_lines(spark, p, target_chunk_bytes=chunk).collect()
    )
    assert got == want


@given(
    st.lists(st.integers(1, 200), min_size=1, max_size=30),
    st.integers(10, 300),
)
@settings(max_examples=15, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_pack_sequences_matches_sequential_model(spark, lengths, budget):
    """pack_sequences (prefix-sum window) vs the obvious sequential model:
    walk docs in order accumulating tokens; each doc's bin/offset is where
    its first token lands."""
    from pyspark.sql import functions as F

    from pandasvcf_spark.operators.sampling import pack_sequences

    df = spark.createDataFrame(
        [(i, n) for i, n in enumerate(lengths)], "doc_id long, tokens long"
    ).repartition(4)
    got = {
        r["doc_id"]: (r["bin_id"], r["bin_offset"])
        for r in pack_sequences(
            df, "tokens", budget=budget, order_by=[F.col("doc_id")]
        ).collect()
    }
    start = 0
    for i, n in enumerate(lengths):
        assert got[i] == (start // budget, start % budget), (i, n, budget)
        start += n


@given(
    st.lists(st.integers(-(10**6), 10**6), min_size=1, max_size=60,
             unique=True),
    st.floats(0.0, 1.0),
)
@settings(max_examples=15, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_hash_sample_fraction_monotone(spark, ids, frac):
    """hash_sample at any fraction is a subset of every larger fraction
    (residue classes nest), empty at 0.0, total at 1.0."""
    from pyspark.sql import functions as F

    from pandasvcf_spark.operators.sampling import hash_sample

    df = spark.createDataFrame([(i,) for i in ids], "id long")
    s = {r["id"] for r in hash_sample(df, F.col("id"), frac).collect()}
    half = {r["id"] for r in hash_sample(df, F.col("id"), frac / 2).collect()}
    assert half <= s
    assert {r["id"] for r in hash_sample(df, F.col("id"), 0.0).collect()} == set()
    assert {r["id"] for r in hash_sample(df, F.col("id"), 1.0).collect()} == set(ids)


@settings(max_examples=25, deadline=None)
@given(
    n_alts=st.integers(min_value=1, max_value=12),
    gt_tokens=st.lists(
        st.one_of(st.just("."), st.integers(min_value=0, max_value=12).map(str)),
        min_size=1,
        max_size=3,
    ),
    phased=st.booleans(),
    others=st.sampled_from(["missing", "ref"]),
)
def test_split_multiallelic_matches_model(spark, n_alts, gt_tokens, phased, others):
    """split_multiallelic vs the obvious per-token Python model, across
    random ALT counts (incl. multi-digit indices), ploidies, phases,
    missing tokens and both other-allele conventions."""
    from pandasvcf_spark.operators.reshape import split_multiallelic

    sep = "|" if phased else "/"
    gt = sep.join(gt_tokens)
    alts = ",".join(f"A{i}" for i in range(1, n_alts + 1))
    d = spark.createDataFrame(
        [(1, alts, gt)], "site long, ALT string, GT string"
    )
    got = {
        r.alt_index: (r.alt_allele, r.gt_split)
        for r in split_multiallelic(d, others=others).collect()
    }
    other_tok = "." if others == "missing" else "0"

    def remap(tok, j):
        if tok == "0" or tok == ".":
            return tok
        return "1" if tok == str(j) else other_tok

    want = {
        j: (f"A{j}", sep.join(remap(t, j) for t in gt_tokens))
        for j in range(1, n_alts + 1)
    }
    assert got == want


# --- round-9 nonparametric property tests -----------------------------------


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    st.lists(
        st.tuples(st.integers(0, 6), st.integers(0, 6)),
        min_size=4,
        max_size=40,
    )
)
def test_kendall_tau_b_matches_pair_walk(spark, pairs):
    """kendall_tau_b == the O(n^2) pair-walk definition on random
    small-vocab samples (heavy ties by construction)."""
    import itertools
    import math
    from collections import Counter

    from pandasvcf_spark.operators.stats import kendall_tau_b

    df = spark.createDataFrame(pairs, "x int, y int")
    got = kendall_tau_b(df, "x", "y").collect()[0]
    n = len(pairs)
    C = D = 0
    for (x1, y1), (x2, y2) in itertools.combinations(pairs, 2):
        s = (x1 - x2) * (y1 - y2)
        C += s > 0
        D += s < 0
    assert (got["concordant"], got["discordant"]) == (C, D)
    n0 = n * (n - 1) / 2
    n1 = sum(t * (t - 1) / 2 for t in Counter(x for x, _ in pairs).values())
    n2 = sum(t * (t - 1) / 2 for t in Counter(y for _, y in pairs).values())
    den = (n0 - n1) * (n0 - n2)
    if den > 0:
        assert got["tau_b"] == round((C - D) / math.sqrt(den), 6)
    else:
        assert got["tau_b"] is None


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    st.lists(
        st.tuples(st.integers(0, 2), st.integers(0, 8)),
        min_size=6,
        max_size=40,
    ).filter(lambda ps: len({g for g, _ in ps}) >= 2)
)
def test_kruskal_wallis_matches_midrank_model(spark, pairs):
    """kruskal_wallis == the pure-Python mid-rank + tie-correction
    model on random small-vocab group samples."""
    from collections import Counter

    from pandasvcf_spark.operators.stats import kruskal_wallis

    df = spark.createDataFrame(pairs, "k int, v int")
    got = kruskal_wallis(df, [], "k", "v").collect()[0]
    vals = [v for _, v in pairs]
    N = len(vals)
    cnt = Counter(vals)
    ranks, cum = {}, 0
    for v in sorted(cnt):
        t = cnt[v]
        ranks[v] = cum + (t + 1) / 2
        cum += t
    groups: dict = {}
    for g, v in pairs:
        groups.setdefault(g, []).append(v)
    H = 12 / (N * (N + 1)) * sum(
        sum(ranks[v] for v in g) ** 2 / len(g) for g in groups.values()
    ) - 3 * (N + 1)
    corr = 1 - sum(t**3 - t for t in cnt.values()) / (N**3 - N)
    if corr > 0 and N >= 2 and len(groups) >= 2:
        assert got["h"] == round(H / corr, 6)
    else:
        assert got["h"] is None

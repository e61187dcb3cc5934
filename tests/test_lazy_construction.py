"""Plan construction must be lazy: building any public operator's plan
triggers ZERO Spark jobs (round-2 VERDICT item 3 — the residual eager
defaults were annotate_genotypes(format_fields='auto')'s distinct().collect()
and tf_idf(n_docs=None)'s count(); both are now opt-in / in-plan).

Jobs are counted via the status tracker: every job in these tests runs in
the default (None) job group, so the known-id set must not grow while
plans are constructed.
"""

import pyspark.sql.functions as F
import pytest


def _job_ids(spark):
    return set(spark.sparkContext.statusTracker().getJobIdsForGroup())


@pytest.fixture()
def corpus(spark):
    return spark.createDataFrame(
        [(1, "the quick brown fox"), (2, "jumps over the lazy dog")],
        "doc_id bigint, text string",
    )


def test_operator_plan_construction_runs_no_jobs(spark, corpus):
    from pandasvcf_spark.operators.annotate import (
        annotate_genotypes,
        explode_genotypes,
    )
    from pandasvcf_spark.operators.dedup import (
        dedup_stats,
        minhash_near_dup_pairs,
        simhash_near_dup_pairs,
    )
    from pandasvcf_spark.operators.similarity import cosine_topk
    from pandasvcf_spark.operators.text_features import tf_idf
    from pandasvcf_spark.functions.text import fingerprint_expr, word_ngrams_expr

    wide = spark.createDataFrame(
        [("1", 100, "A", "T", "GT", {"s1": "0/1", "s2": "0/0"})],
        "CHROM string, POS int, REF string, ALT string, FORMAT string, "
        "samples map<string,string>",
    )
    emb = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0])],
        "vec_id bigint, embedding array<double>",
    )
    queries = spark.createDataFrame(
        [(10, [1.0, 0.0])], "query_id bigint, embedding array<double>"
    )

    before = _job_ids(spark)
    plans = [
        annotate_genotypes(explode_genotypes(wide)),  # default: no discovery scan
        tf_idf(corpus),  # n_docs=None: N is an in-plan broadcast scalar
        dedup_stats(corpus, fingerprint_expr("text"), "doc_id"),
        minhash_near_dup_pairs(
            corpus, "doc_id", word_ngrams_expr("text", 3), num_hashes=8, bands=4
        ),
        simhash_near_dup_pairs(corpus, "doc_id"),
        cosine_topk(emb, queries, k=1),
    ]
    assert _job_ids(spark) == before, "plan construction submitted Spark jobs"
    # and the plans are real: each one executes
    for p in plans:
        p.limit(1).collect()


def test_tfidf_lazy_n_matches_explicit_n(spark, corpus):
    from pandasvcf_spark.operators.text_features import tf_idf

    lazy = {
        (r["doc_id"], r["term"]): (r["tf"], round(r["tfidf"], 9))
        for r in tf_idf(corpus).collect()
    }
    explicit = {
        (r["doc_id"], r["term"]): (r["tf"], round(r["tfidf"], 9))
        for r in tf_idf(corpus, n_docs=2).collect()
    }
    assert lazy == explicit


def test_annotate_auto_discovery_is_opt_in(spark):
    """format_fields='auto' still works when explicitly requested."""
    from pandasvcf_spark.operators.annotate import (
        annotate_genotypes,
        explode_genotypes,
    )

    wide = spark.createDataFrame(
        [("1", 100, "A", "T", "GT:DP", {"s1": "0/1:7"})],
        "CHROM string, POS int, REF string, ALT string, FORMAT string, "
        "samples map<string,string>",
    )
    out = annotate_genotypes(explode_genotypes(wide), format_fields="auto")
    row = out.collect()[0]
    assert row["DP"] == "7" and row["GT"] == "0/1"


def test_read_vcf_py4j_calls_independent_of_sample_count(
    spark, tmp_path, monkeypatch
):
    """read_vcf's plan construction is O(1) in sample count down to the
    py4j layer: a 3,000-sample header issues exactly as many driver ->
    JVM commands as a 10-sample one. (Per-sample `lit`s cost ~2 commands
    per sample plus an N-child `array(...)` every later select
    re-analyzes.) Object-release commands, sent by py4j's finalizer
    thread on its own schedule, are not counted."""
    from py4j import protocol

    from pandasvcf_spark.sources.vcf import read_vcf

    def write_vcf(n):
        ids = [f"S{i:05d}" for i in range(n)]
        path = tmp_path / f"n{n}.vcf"
        path.write_text(
            "##fileformat=VCFv4.1\n"
            + "\t".join(
                ["#CHROM", "POS", "ID", "REF", "ALT", "QUAL", "FILTER",
                 "INFO", "FORMAT", *ids]
            )
            + "\n"
            + "\t".join(["1", "100", ".", "A", "G", ".", ".", ".", "GT",
                         *(["0|1"] * n)])
            + "\n"
        )
        return str(path)

    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    sent = []

    def counting_send(command, *args, **kwargs):
        if not command.startswith(protocol.MEMORY_COMMAND_NAME):
            sent.append(command)
        return send(command, *args, **kwargs)

    paths = {n: write_vcf(n) for n in (10, 3000)}
    counts = {}
    for n, path in paths.items():
        read_vcf(spark, path)  # warm: first-call imports / JVM class loads
        sent.clear()
        monkeypatch.setattr(client, "send_command", counting_send)
        df = read_vcf(spark, path)
        monkeypatch.setattr(client, "send_command", send)
        counts[n] = len(sent)
        assert df.select(F.size("samples")).first()[0] == n
    assert counts[10] == counts[3000], counts


def test_zorder_key_matches_python_model(spark):
    """Bit-interleave vs the obvious Python model; locality sanity: the
    key of (x, y) and (x+1, y) differ less on average than (x, y+big)."""
    from pyspark.sql import functions as F

    from pandasvcf_spark.plans.bucketing import zorder_key_expr

    def morton(xs, bits):
        key = 0
        for bit in range(bits - 1, -1, -1):
            for v in xs:
                key = (key << 1) | ((v >> bit) & 1)
        return key

    rows = [(x, y) for x in [0, 1, 5, 255, 256, 70000] for y in [0, 3, 129]]
    d = spark.createDataFrame(rows, "x long, y long")
    got = [
        r.z
        for r in d.select(
            zorder_key_expr(["x", "y"], bits=16).alias("z")
        ).collect()
    ]
    cap = (1 << 16) - 1
    want = [morton((min(x, cap), min(y, cap)), 16) for x, y in rows]
    assert got == want  # incl. the 70000 saturation case


def test_zorder_validates(spark):
    import pytest as _pytest

    from pandasvcf_spark.plans.bucketing import zorder_key_expr

    with _pytest.raises(ValueError, match=">= 2"):
        zorder_key_expr(["x"])
    with _pytest.raises(ValueError, match="overflows"):
        zorder_key_expr(["a", "b", "c", "d"], bits=16)


def test_compact_parquet_reduces_files_preserves_rows(spark, tmp_path):
    """Many tiny input files compact to few sized outputs with the exact
    same rows; scheme-prefixed paths work (FS-API sizing); existing
    output refuses to be clobbered."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from pandasvcf_spark.plans.bucketing import compact_parquet

    src = str(tmp_path / "tiny")
    d = spark.range(10_000).select(
        F.col("id"), (F.col("id") % 97).alias("k")
    )
    d.repartition(64).write.parquet(src)  # 64 tiny files
    out = str(tmp_path / "compact")
    n = compact_parquet(spark, f"file://{src}", f"file://{out}", target_mb=64)
    assert n == 1  # tiny corpus -> one file
    a = sorted(tuple(r) for r in spark.read.parquet(src).collect())
    b = sorted(tuple(r) for r in spark.read.parquet(out).collect())
    assert a == b
    with _pytest.raises(Exception):  # mode('error'): never clobbers
        compact_parquet(spark, src, out)
    with _pytest.raises(ValueError, match="target_mb"):
        compact_parquet(spark, src, str(tmp_path / "x"), target_mb=0)


def test_compact_parquet_tolerates_empty_first_root(spark, tmp_path):
    """A partitioned write of zero rows leaves a root with no data file;
    as the first input root it must read as zero rows, not fail schema
    inference."""
    from pandasvcf_spark.plans.bucketing import compact_parquet

    d = spark.range(20).select("id", (F.col("id") % 3).alias("k"))
    empty, full = str(tmp_path / "empty"), str(tmp_path / "full")
    d.limit(0).write.partitionBy("k").parquet(empty)
    d.write.partitionBy("k").parquet(full)
    out = str(tmp_path / "out")
    compact_parquet(spark, [empty, full], out, partition_by=["k"])
    got = spark.read.parquet(out).select("id", "k").collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, d.collect()))


_HEADLINE = [
    "flagship_annotate", "e_sessionize", "t_quality_score",
    "agg_tpch_q1", "j_multiway_q5", "v_cosine_topk",
]


def test_warm_catalog_construction_runs_no_jobs(spark):
    """`queries.tables.load` remembers each table's inferred schema per
    session, so building a query a second time, or registering the views
    again, reads no parquet footer: no Spark job at all."""
    import os

    import pandasvcf_spark.queries  # noqa: F401 (registers the catalog)
    from conftest import SF_DIR
    from pandasvcf_spark.queries.registry import QUERIES
    from pandasvcf_spark.queries.tables import register_views

    if not os.path.isdir(SF_DIR):
        pytest.skip(f"testdata {SF_DIR} not present")
    for name in _HEADLINE:
        QUERIES[name].fn(spark, SF_DIR)
    register_views(spark, SF_DIR, "_warm")
    before = _job_ids(spark)
    for name in _HEADLINE:
        QUERIES[name].fn(spark, SF_DIR)
    assert _job_ids(spark) == before, "warm catalog construction ran jobs"
    register_views(spark, SF_DIR, "_warm")
    assert _job_ids(spark) == before, "warm register_views ran jobs"


def test_table_schema_memo_never_serves_a_stale_schema(spark, tmp_path):
    """A table file rewritten in place is read with its new schema and
    rows; `events.parquet` normalizes `ts` to TIMESTAMP with the same
    instants whether the file stores TIMESTAMP(NANOS) or microsecond NTZ,
    on a first load and on a memo-served one."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from pandasvcf_spark.queries.tables import load

    sf = str(tmp_path)
    path = f"{sf}/orders.parquet"
    pq.write_table(pa.table({"k": pa.array([1, 2], pa.int32())}), path)
    for _ in range(2):
        df = load(spark, sf, "orders")
        assert df.dtypes == [("k", "int")]
        assert sorted(r.k for r in df.collect()) == [1, 2]
    before = _job_ids(spark)
    load(spark, sf, "orders")
    assert _job_ids(spark) == before, "a warm load inferred the schema again"

    # in place: same path and inode, an added column and a changed type
    pq.write_table(
        pa.table({"k": pa.array(["a", "b", "c"]),
                  "x": pa.array([0.5, 1.5, 2.5])}),
        path,
    )
    df = load(spark, sf, "orders")
    assert df.dtypes == [("k", "string"), ("x", "double")]
    assert sorted(tuple(r) for r in df.collect()) == [
        ("a", 0.5), ("b", 1.5), ("c", 2.5)
    ]

    ns = [1_700_000_000_123_456_789, 1_700_003_600_000_001_000]
    us = [v // 1000 for v in ns]
    events = f"{sf}/events.parquet"
    stored = {
        "nanos": pa.array(ns, pa.timestamp("ns")),
        "micros_ntz": pa.array(us, pa.timestamp("us")),
    }
    for kind, ts in stored.items():
        pq.write_table(
            pa.table({"user_id": pa.array([1, 2], pa.int64()), "ts": ts}),
            events, version="2.6", coerce_timestamps=None,
        )
        for _ in range(2):
            df = load(spark, sf, "events")
            assert dict(df.dtypes)["ts"] == "timestamp", kind
            got = [r.u for r in df.select(F.unix_micros("ts").alias("u"))
                   .orderBy("u").collect()]
            assert got == us, kind

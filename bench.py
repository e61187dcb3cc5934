"""Benchmark harness (driver contract: prints ONE JSON line).

Runs the headline catalog queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS], plus the VCF flagship
pipeline on the reference 1000G fixture so the genotypes/s headline is
tracked against BASELINE.md (~244k/s reference) every round.

Each headline query runs TWICE and reports the min: the first execution
pays that query's whole-stage-codegen compile (and, for the first query of
the session, residual JVM warmup) — round 3 showed a first-slot query
carrying ~3-4 s of one-time cost that masqueraded as a regression. min-of-2
is the steady-state number a long-lived cluster session sees.

Output: {"metric": "catalog_total_wall", "value": <sec>, "unit": "sec",
         "queries": {name: sec, ...}, "sf": <sf>,
         "duckdb": {name: sec, ...}, "duckdb_total_wall": <sec>,
         "vcf_genotypes_per_sec": <rate>, "vcf_parquet_genotypes_per_sec":
         <rate>, "ann_recall_at_10": <frac>,
         "ivfpq_recall_at_10_clustered": <frac>}

The DuckDB column runs the same headline queries' oracle SQL on the same
parquet — a single-node columnar anchor for the per-query numbers (the
reference has no numbers on these tables; BASELINE.md's comparable metric
is vcf_genotypes_per_sec). Because both engines run in the SAME process on
the SAME machine in the SAME session, the `ratio_vs_duckdb` keys
(per-query and total spark_wall / duckdb_wall) are the CROSS-ROUND
comparison metric: raw walls move with ambient machine load (round 7's
+41% wall was pure environment — the DuckDB anchor moved +14% with it),
the ratio cancels the machine out. Compare ratios across rounds; read raw
walls only within a round. Because the headline roster rotates, two more
keys make the cross-round compare apples-to-apples:
`ratio_vs_duckdb_total_shared_prev` is THIS round's spark/duckdb ratio
computed over only the queries that also carried twins in the latest
recorded BENCH_r*.json, and `ratio_vs_duckdb_total_prev` is LAST round's
ratio over that same intersection — read those two against each other.

The VCF stage reports TWO rates: the .gz text path (bounded by the
non-splittable gzip decompress — the fixture's physical format) and the
parquet path (`vcf_to_parquet` once, then the same annotate pipeline from
columnar storage — the 100×-scale shape, where the scan is splittable and
pruned). The one-time ingest cost is reported separately.

The BGZF stage re-blocks the 1000G fixture to 56x its size (~63 MB
compressed / ~5.5 GB raw — BGZF files concatenate at the byte level, so
this is a byte copy, not a recompress) and times the splittable
chunk-parallel scan against the single-task JVM text scan, recording the
measured basis for read_vcf's 64 MiB auto-threshold every round.

Output contract (round-10 verdict ask #1): stdout's final line is a COMPACT
headline JSON (<=1,900 chars — the driver's envelope captures only the last
2,000 chars of stdout, which truncated every full dict through round 10);
the FULL dict, including the per-query `duckdb` / `ratio_vs_duckdb` tables
and the prose `ratio_note`, is written to BENCH_LOCAL.json at the repo root
and committed. `loadavg_start_1m` / `loadavg_end_1m` stamp ambient machine
load beside every run (ask #2) so hot-machine regressions are visible in
the artifact.

Set SPARK_GRAFT_BENCH_VCF=0 to skip the VCF fixture stages,
SPARK_GRAFT_BENCH_DUCKDB=0 to skip the DuckDB anchor,
SPARK_GRAFT_BENCH_RECALL=0 to skip the ANN recall telemetry,
SPARK_GRAFT_BENCH_BGZF=0 to skip the BGZF splittable-scan stage.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

from pandasvcf_spark import get_spark  # noqa: E402
from pandasvcf_spark.queries import QUERIES  # noqa: E402

KG_VCF = (
    "/root/reference/test_data/"
    "ALL.chr22.phase3_shapeit2_mvncall_integrated_v4.20130502.genotypes_10k.vcf.gz"
)
KG_GENOTYPES = 9_755 * 2_504


def _release_persisted(spark) -> None:
    """Drop every persisted RDD left behind by the previous bench
    section (round-16 measurement fix). localCheckpoint blocks are
    never auto-released while the executor lives, so fixture-heavy
    sections (the 30×/90× incremental-dedup arms, the ingest streams)
    leave multi-GB block accumulations that GC-tax every LATER stage:
    in the first r16 run, link_pred/bpe/vcf-parquet walls read ~2×
    their fresh-process values purely from section ordering. Each
    section rebuilds its own state from the parquet inputs (nothing
    timed reads a prior section's blocks — verified: the only
    cross-call persist in the library is call-scoped), so starting
    every section from a clean block manager makes its wall price the
    operator, not the previous section's leftovers. This does NOT
    pre-compute or cache anything for a timed region — it only
    RELEASES caches between regions."""
    for jrdd in spark.sparkContext._jsc.getPersistentRDDs().values():
        jrdd.unpersist(False)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    try:
        sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1])
    except ValueError:
        sf = None
    spark = get_spark(app_name="pandasvcf-spark-bench")
    spark.sparkContext.setLogLevel("ERROR")

    # Ambient-load stamp (round-10 verdict ask #2): the r10 driver run at
    # loadavg 17.5 read as a ~35% regression that an idle re-run erased.
    # Record the confounder WITH the numbers so a hot machine is visible
    # in the artifact instead of requiring a burn-a-run adjudication.
    try:
        loadavg_start = round(os.getloadavg()[0], 1)
    except OSError:
        loadavg_start = None

    # Ambient-load GATE (round-11 verdict ask #2): the stamps above only
    # record the confounder; two consecutive rounds (r10 loadavg 17.5,
    # r11 loadavg 1.7) still committed phantom regressions that needed a
    # judge re-run to adjudicate. Act on the stamp instead: wait briefly
    # for a hot machine to settle, and if it stays hot, say so in the
    # artifact (ambient_load_note) and escalate every headline query to
    # min-of-3 so one contended run can't set the floor.
    # Round-13 refinement: gate on the 5-minute average too. The r13
    # local run passed the 1-minute gate (0.78) yet ran ~30% slow —
    # the machine had just finished a 20-minute contract sweep and the
    # 5-minute average (2.85) was the only stamp that knew. A recently
    # hammered machine escalates to min-of-3 exactly like a currently
    # loaded one.
    try:
        loadavg_5m = round(os.getloadavg()[1], 1)
    except OSError:
        loadavg_5m = None
    ambient_note = None
    headline_runs = 2
    if loadavg_5m is not None and loadavg_5m > 2.0 and not (
        loadavg_start is not None and loadavg_start > 1.0
    ):
        headline_runs = 3
        ambient_note = (
            f"1m loadavg {loadavg_start} but 5m {loadavg_5m}: the "
            "machine was BUSY within the last few minutes (cache/"
            "thermal state still settling); headline roster escalated "
            "to min-of-3"
        )
        print(f"# ambient-load gate: {ambient_note}", file=sys.stderr)
    if loadavg_start is not None and loadavg_start > 1.0:
        settle_deadline = time.time() + 60.0
        load_now = loadavg_start
        while time.time() < settle_deadline and load_now > 1.0:
            time.sleep(5.0)
            load_now = round(os.getloadavg()[0], 1)
        if load_now > 1.0:
            headline_runs = 3
            ambient_note = (
                f"loadavg {loadavg_start} at start, still {load_now} after "
                "60s settle-wait: walls are inflated by ambient machine "
                "load; headline roster escalated to min-of-3"
            )
        else:
            ambient_note = (
                f"loadavg {loadavg_start} at start; settled to {load_now} "
                "before the first timed query"
            )
            loadavg_start = load_now
        print(f"# ambient-load gate: {ambient_note}", file=sys.stderr)

    # Warm the JVM/session with one tiny action so the first timed query
    # doesn't pay session startup (per-query codegen warmup is the min-of-2).
    spark.range(1).count()

    per_query: dict[str, float] = {}
    total = 0.0
    for name, spec in QUERIES.items():
        if not spec.headline:
            continue
        times, n = [], 0
        for _ in range(headline_runs):
            t0 = time.time()
            df = spec.fn(spark, sf_dir)
            n = df.count()
            times.append(time.time() - t0)
        dt = min(times)
        per_query[name] = round(dt, 3)
        total += dt
        print(
            f"# {name}: {dt:.2f}s min-of-{headline_runs} "
            f"(first {times[0]:.2f}s, {n} rows)",
            file=sys.stderr,
        )

    # Compute-bound scaling probe (round-15 verdict task 2c): every
    # catalog roster query at sf0.1 totals well under a second of actual
    # compute, so the driver's low-core/high-core ratio over them
    # measured per-query FIXED overhead (plan construction, first-exec
    # codegen) and read ≈1, which looked like $SPARK_GRAFT_CPUS being
    # ignored. This stage is deliberately compute-dominated — a
    # parallelism-wide repartitioned scan of the largest parquet table
    # with a per-row 2048-step xxhash64 fold (interpreted HOF: the cost
    # is real CPU, not I/O or overhead) — so its 8-vs-32-core ratio
    # measures parallelism. It reads only the parquet inputs and is
    # reported as an EXTRA `queries` entry (additive per the driver
    # contract) but NOT added into catalog_total_wall, which keeps the
    # headline total roster-comparable round-over-round.
    from pyspark.sql import functions as _F

    scaling_times = []
    for _ in range(headline_runs):
        t0 = time.time()
        li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
            "l_orderkey", "l_partkey"
        )
        probe = (
            li.repartition(
                spark.sparkContext.defaultParallelism, "l_orderkey"
            )
            .select(
                _F.aggregate(
                    _F.sequence(_F.lit(1), _F.lit(2048)),
                    _F.col("l_orderkey") * 31 + _F.col("l_partkey"),
                    lambda acc, i: _F.xxhash64(acc, i),
                ).alias("h")
            )
            # bit_xor, not sum: ANSI mode overflow-errors on summing
            # uniformly distributed longs
            .agg(_F.expr("bit_xor(h)").alias("s"))
        )
        probe.write.format("noop").mode("overwrite").save()
        scaling_times.append(time.time() - t0)
    per_query["scaling_hash_fold"] = round(min(scaling_times), 3)
    print(
        f"# scaling_hash_fold: {min(scaling_times):.2f}s "
        f"min-of-{headline_runs} (compute-bound core-scaling probe: "
        "2048-step xxhash64 fold per lineitem row across "
        f"{spark.sparkContext.defaultParallelism} partitions; NOT in "
        "catalog_total_wall)",
        file=sys.stderr,
    )

    result = {
        "metric": "catalog_total_wall",
        "value": round(total, 3),
        "unit": "sec",
        "queries": per_query,
        "sf": sf,
        # Effective-session stamps (round-15 verdict task 2b): the r15
        # driver raised suspect_cpus_ignored because nothing in the
        # artifact proved $SPARK_GRAFT_CPUS took effect; stamp the
        # resolved master + parallelism so it can verify, not suspect.
        "master": spark.sparkContext.master,
        "default_parallelism": spark.sparkContext.defaultParallelism,
        "cpus_env": os.environ.get("SPARK_GRAFT_CPUS"),
    }

    if os.environ.get("SPARK_GRAFT_BENCH_DUCKDB", "1") != "0":
        import duckdb

        con = duckdb.connect()
        for name in [
            "region", "nation", "customer", "supplier", "part",
            "orders", "lineitem", "events", "documents", "embeddings",
        ]:
            con.execute(
                f"CREATE VIEW {name} AS SELECT * FROM '{sf_dir}/{name}.parquet'"
            )
        # near-dup oracles verify with an all-pairs N^2 SQL — a correctness
        # cross-check, not a comparable engine path (DuckDB has no LSH);
        # at sf0.1 it runs for minutes, so it stays out of the anchor.
        skip_anchor = {"dedup_minhash_lsh"}
        duck: dict[str, float] = {}
        dtotal = 0.0
        for name, spec in QUERIES.items():
            if not spec.headline or spec.oracle is None or name in skip_anchor:
                continue
            times = []
            for _ in range(2):
                t0 = time.time()
                con.sql(spec.oracle).fetchall()
                times.append(time.time() - t0)
            dt = min(times)
            duck[name] = round(dt, 3)
            dtotal += dt
        result["duckdb"] = duck
        result["duckdb_total_wall"] = round(dtotal, 3)
        # machine-normalized cross-round metric (see module docstring):
        # per-query and total spark/duckdb wall ratios over the queries
        # both engines ran
        result["ratio_vs_duckdb"] = {
            name: round(per_query[name] / duck[name], 3)
            for name in duck
            if duck[name] > 0
        }
        shared_spark = sum(per_query[n] for n in duck)
        result["ratio_vs_duckdb_total"] = (
            round(shared_spark / dtotal, 3) if dtotal > 0 else None
        )
        print(
            f"# ratio_vs_duckdb_total: {result['ratio_vs_duckdb_total']} "
            f"(spark {shared_spark:.2f}s / duckdb {dtotal:.2f}s over "
            f"{len(duck)} shared queries) — the cross-round number",
            file=sys.stderr,
        )
        # cross-round honesty: the headline roster rotates, so the total
        # above is not directly comparable round-over-round. Recompute
        # BOTH rounds' ratios over the INTERSECTION of rosters (queries
        # with a DuckDB twin in this round AND the latest BENCH_r*.json):
        #   ratio_vs_duckdb_total_shared_prev = this round, shared roster
        #   ratio_vs_duckdb_total_prev        = last round, same roster
        try:
            import re as _re

            # Prefer the committed full-resolution twin (BENCH_LOCAL.json,
            # written by this script every run — round-10 verdict ask #1):
            # the driver envelope's "parsed" was null for rounds 1-10
            # because the full dict overflowed the 2,000-char tail capture.
            local = Path(__file__).resolve().parent / "BENCH_LOCAL.json"
            prev = json.loads(local.read_text()) if local.exists() else None
            if prev is not None and prev.get("sf") != sf:
                prev = None  # iterating at another sf must not anchor
            if prev is None:
                benches = sorted(
                    Path(__file__).resolve().parent.glob("BENCH_r*.json"),
                    key=lambda p: int(
                        _re.search(r"BENCH_r(\d+)", p.name).group(1)
                    ),
                )
                prev = (
                    json.loads(benches[-1].read_text()) if benches else None
                )
                if prev is not None:
                    # the driver records bench output wrapped in an
                    # envelope with the JSON line under "parsed"
                    prev = prev.get("parsed", prev)
        except Exception:
            prev = None
        if (
            prev
            and isinstance(prev.get("duckdb"), dict)
            and isinstance(prev.get("queries"), dict)
        ):
            shared = [
                n
                for n in duck
                if prev["duckdb"].get(n, 0) > 0
                and n in prev["queries"]
                and duck[n] > 0
            ]
            if shared:
                cur_s = sum(per_query[n] for n in shared)
                cur_d = sum(duck[n] for n in shared)
                pv_s = sum(prev["queries"][n] for n in shared)
                pv_d = sum(prev["duckdb"][n] for n in shared)
                result["ratio_vs_duckdb_total_shared_prev"] = round(
                    cur_s / cur_d, 3
                )
                result["ratio_vs_duckdb_total_prev"] = round(
                    pv_s / pv_d, 3
                )
                print(
                    "# shared-roster cross-round ratio: this round "
                    f"{result['ratio_vs_duckdb_total_shared_prev']} vs "
                    f"last round {result['ratio_vs_duckdb_total_prev']} "
                    f"over the {len(shared)} queries benched with twins "
                    "in both rounds",
                    file=sys.stderr,
                )

    _release_persisted(spark)
    if os.environ.get("SPARK_GRAFT_BENCH_RECALL", "1") != "0":
        from pandasvcf_spark.queries.vectors_q import ann_recall_at_10

        t0 = time.time()
        recall = ann_recall_at_10(spark, sf_dir)
        result["ann_recall_at_10"] = round(recall, 4)
        print(
            f"# ann_recall_at_10: {recall:.4f} ({time.time() - t0:.1f}s, "
            "banded multi-probe vs exact cosine, 200-query sample)",
            file=sys.stderr,
        )

        # Round-12 key rename (verdict ask #5): the clustered-corpus
        # number is the HEADLINE recall (real embedding corpora have
        # cluster structure; that is the regime IVF exploits), and the
        # near-uniform testdata numbers carry an explicit *_uniform
        # suffix so they stop reading as machinery defects. Machinery
        # unchanged — ivfpq_recall_at_10_clustered is the key formerly
        # committed as ivfpq_recall_planted (r11 value 1.0), and the
        # *_uniform keys are the former unsuffixed ones.
        from pandasvcf_spark.queries.vectors_q import ivfpq_recall_planted

        t0 = time.time()
        planted = ivfpq_recall_planted(spark)
        result["ivfpq_recall_at_10_clustered"] = round(planted, 4)
        print(
            f"# ivfpq_recall_at_10_clustered: {planted:.4f} "
            f"({time.time() - t0:.1f}s, trained IVF+PQ on a 20-cluster "
            "planted corpus, fraction of top-10 ADC hits in the query's "
            "true cluster — the headline recall; machinery is bit-exact-"
            "oracled by v_ivfpq_topk)",
            file=sys.stderr,
        )

        from pandasvcf_spark.queries.vectors_q import ivf_recall_at_10

        t0 = time.time()
        ivf_recall = ivf_recall_at_10(spark, sf_dir)
        result["ivf_recall_at_10_uniform"] = round(ivf_recall, 4)
        print(
            f"# ivf_recall_at_10_uniform: {ivf_recall:.4f} "
            f"({time.time() - t0:.1f}s, "
            "trained k-means centroids, 3-probe, 200-query sample; low on "
            "THIS corpus by design — near-uniform embeddings spread true "
            "neighbors across cells (measured n_probe curve closes at 1.0 "
            "under full probe, vectors_q.ivf_recall_at_10 docstring), which "
            "is why banded RP-LSH at 0.997 is the default here)",
            file=sys.stderr,
        )

        from pandasvcf_spark.queries.vectors_q import imi_recall_at_10

        t0 = time.time()
        imi_recall = imi_recall_at_10(spark, sf_dir)
        result["imi_recall_at_10_uniform"] = round(imi_recall, 4)
        print(
            f"# imi_recall_at_10_uniform: {imi_recall:.4f} "
            f"({time.time() - t0:.1f}s, trained 16x16 inverted "
            "multi-index, 48-of-256 probed cells — the SAME ~18.75% "
            "scan budget as ivf_recall_at_10_uniform's 3-of-16, so "
            "the delta is pure quantizer-granularity gain; round-14's "
            "coarse-quantizer lever)",
            file=sys.stderr,
        )

        from pandasvcf_spark.queries.vectors_q import imi_opq_probe_report

        t0 = time.time()
        opq_rep = imi_opq_probe_report(
            spark, sf_dir, probe_curve=(24, 48, 96)
        )
        opq_recall = opq_rep["curve"][48]
        result["imi_opq_recall_at_10_uniform"] = round(opq_recall, 4)
        result["imi_opq_probe_curve"] = {
            str(npc): round(r, 4) for npc, r in opq_rep["curve"].items()
        }
        print(
            f"# imi_opq_recall_at_10_uniform: {opq_recall:.4f} "
            f"({time.time() - t0:.1f}s, OPQ-rotated 16x16 multi-index "
            "at the SAME 48-of-256 probe budget as "
            "imi_recall_at_10_uniform — the delta vs that key is the "
            "pure Ge-et-al-2013 rotation gain; round-15's trained-"
            "quantizer lever); probe curve 24/48/96 cells -> "
            + "/".join(
                f"{opq_rep['curve'][npc]:.4f}" for npc in (24, 48, 96)
            )
            + " (ONE fit + ONE ground truth reused — each extra point "
            "costs one probed-cells pass; prices the remaining "
            "'more probes' lever on the rotated index)",
            file=sys.stderr,
        )

        from pandasvcf_spark.queries.vectors_q import (
            ivfpq_recall_uniform_report,
        )

        t0 = time.time()
        rep = ivfpq_recall_uniform_report(
            spark, sf_dir, probe_curve=(3, 6, 12)
        )
        ivfpq_recall = rep["uniform"]
        result["ivfpq_recall_at_10_uniform"] = round(ivfpq_recall, 4)
        result["ivfpq_recall_at_10_uniform_mp"] = round(
            rep["uniform_mp"], 4
        )
        print(
            f"# ivfpq_recall_at_10_uniform: {ivfpq_recall:.4f} "
            f"(trained cells + residual-trained "
            "PQ books, 3-probe ADC vs exact L2, 200-query sample; tracks "
            "the near-uniform corpus like ivf_recall_at_10_uniform — "
            "distance-concentration physics, not machinery loss; read "
            "beside the clustered headline above)",
            file=sys.stderr,
        )
        print(
            f"# ivfpq_recall_at_10_uniform_mp: {rep['uniform_mp']:.4f} "
            f"({time.time() - t0:.1f}s all variants, shared index; "
            "6-probe ADC 50-candidate shortlist + exact-L2 rerank "
            "(ivfpq_rerank_topk) — quantization error recovered, "
            "recall ceilinged by cell coverage)",
            file=sys.stderr,
        )
        # round-13 verdict task 5: the probe-count-vs-recall trade as
        # a committed curve (same rerank composition, same shared
        # index + ground truth), each point priced in wall seconds —
        # recall rises with cell coverage, cost rises ~linearly in
        # probes; where the curve flattens is the honest ceiling of
        # this coarse quantizer on a near-uniform corpus
        if "curve" in rep:
            result["ivfpq_mp_probe_curve"] = {
                str(p): v for p, v in sorted(rep["curve"].items())
            }
            curve_str = ", ".join(
                f"{p}p={v['recall']:.3f}@{v['sec']:.1f}s"
                for p, v in sorted(rep["curve"].items())
            )
            print(
                f"# ivfpq_mp_probe_curve (recall@10 / wall): {curve_str}",
                file=sys.stderr,
            )

    _release_persisted(spark)
    if os.environ.get("SPARK_GRAFT_BENCH_DEDUP", "1") != "0":
        # end-to-end one-call corpus cleaner (pairs -> components ->
        # survivors) on the doubled noisy corpus — additive key, not part
        # of catalog_total_wall, so round-over-round comparability of the
        # headline metric is preserved. First recorded round 6, after the
        # connected-components edge-checkpoint fix.
        from pandasvcf_spark.queries.text_q import dedup_near_pipeline

        # min-of-3 minimum (round-13 verdict: this key mis-read ~2x on
        # unchanged code twice — it runs mid-bench in a hot JVM, so one
        # contended run must not set the floor), escalated further by
        # the ambient gate like the headline roster
        ndd_runs = max(3, headline_runs)
        times = []
        for _ in range(ndd_runs):
            t0 = time.time()
            dedup_near_pipeline(spark, sf_dir).count()
            times.append(time.time() - t0)
        result["near_dedup_sec"] = round(min(times), 3)
        print(
            f"# near_dedup_sec: {min(times):.2f}s min-of-{ndd_runs} "
            f"(runs {[round(t, 2) for t in times]}; one-call "
            "pairs->components->survivors on the doubled corpus)",
            file=sys.stderr,
        )

    _release_persisted(spark)
    if os.environ.get("SPARK_GRAFT_BENCH_INCR", "1") != "0":
        # The persisted-index regime of incremental dedup: a 30× decade-up
        # base with a stored minhash_band_keys index vs the same batch
        # deduped with a full base re-hash. This is the recurring-crawl
        # shape the index exists for. Measured crossover: at 10× base the
        # two paths are within noise (stage overhead dominates); at 30×
        # (150k docs) the indexed wall stays FLAT while the re-hash wall
        # grows with the base — the per-batch base tokenize+minhash pass
        # is exactly what the index removes, so the gap widens linearly
        # in base size from here.
        from pyspark.sql import functions as F

        from pandasvcf_spark.functions.text import word_ngrams_expr
        from pandasvcf_spark.operators.dedup import (
            minhash_band_keys,
            near_dedup_incremental,
        )
        from pandasvcf_spark.queries.tables import load

        par = spark.sparkContext.defaultParallelism
        docs = load(spark, sf_dir, "documents").select("doc_id", "text")
        base = None
        for i in range(30):
            c = docs.select(
                (F.col("doc_id") + i * 10_000_000).alias("doc_id"),
                # id-shifted copies (same convention as the SCALING.md
                # decade-up): realistic heavy-bucket base
                F.col("text"),
            )
            base = c if base is None else base.unionByName(c)
        base = base.repartition(par).localCheckpoint()
        batch = (
            docs.filter(F.col("doc_id") % 97 == 0)
            .select((F.col("doc_id") + 900_000_000).alias("doc_id"), "text")
            .localCheckpoint()
        )
        idx_dir = tempfile.mkdtemp(prefix="pandasvcf_bench_lshidx_")
        try:
            # min-of-N like the headline roster (round-12 verdict ask
            # #4: build_sec/rehash_sec were the only trending keys load
            # hit un-damped — r12's +0.8s/+1.2s drift under loadavg 6.7
            # needed a judge adjudication the damping now prevents)
            build_times = []
            for _ in range(headline_runs):
                t0 = time.time()
                minhash_band_keys(
                    base, "doc_id", word_ngrams_expr("text", 3),
                    repartition_to=par,
                ).write.mode("overwrite").parquet(idx_dir)
                build_times.append(time.time() - t0)
            build_s = min(build_times)
            idx = spark.read.parquet(idx_dir)

            def _incr(base_keys):
                t0 = time.time()
                n = near_dedup_incremental(
                    base,
                    batch,
                    "doc_id",
                    word_ngrams_expr("text", 3),
                    min_jaccard=0.9,
                    repartition_to=par,
                    base_band_keys=base_keys,
                ).count()
                return time.time() - t0, n

            runs_i = [_incr(idx) for _ in range(headline_runs)]
            runs_r = [_incr(None) for _ in range(headline_runs)]
            assert runs_i[0][1] == runs_r[0][1], (runs_i, runs_r)
            indexed = min(t for t, _ in runs_i)
            rehash = min(t for t, _ in runs_r)
            result["incremental_index_build_sec"] = round(build_s, 3)
            result["incremental_indexed_sec"] = round(indexed, 3)
            result["incremental_rehash_sec"] = round(rehash, 3)
            print(
                f"# incremental dedup at 30× base: indexed {indexed:.2f}s "
                f"vs re-hash {rehash:.2f}s min-of-{headline_runs} "
                f"({runs_i[0][1]} survivors; one-time index build "
                f"{build_s:.2f}s) — the stored index replaces the base's "
                "per-batch tokenize+minhash pass with a 12-byte-row scan",
                file=sys.stderr,
            )

            # Round-16 additive key (round-15 verdict task 3): the
            # indexed path's asymptotic claim — per-batch wall flat in
            # BASE size (the touched-bucket prune makes the shuffle
            # O(collisions), not O(|base|·bands)) — measured instead of
            # argued: the SAME batch against a 90× base. Read
            # incremental_indexed_90x_sec beside incremental_indexed_sec
            # (30×): flat-ish = the prune holds; 3× = it doesn't.
            base90 = None
            for i in range(90):
                c = docs.select(
                    (F.col("doc_id") + i * 10_000_000).alias("doc_id"),
                    F.col("text"),
                )
                base90 = c if base90 is None else base90.unionByName(c)
            base90 = base90.repartition(par).localCheckpoint()
            idx90_dir = tempfile.mkdtemp(prefix="pandasvcf_bench_lsh90_")
            try:
                minhash_band_keys(
                    base90, "doc_id", word_ngrams_expr("text", 3),
                    repartition_to=par,
                ).write.mode("overwrite").parquet(idx90_dir)
                idx90 = spark.read.parquet(idx90_dir)

                def _incr90():
                    t0 = time.time()
                    n = near_dedup_incremental(
                        base90,
                        batch,
                        "doc_id",
                        word_ngrams_expr("text", 3),
                        min_jaccard=0.9,
                        repartition_to=par,
                        base_band_keys=idx90,
                    ).count()
                    return time.time() - t0, n

                runs_90 = [_incr90() for _ in range(headline_runs)]
                indexed90 = min(t for t, _ in runs_90)
                result["incremental_indexed_90x_sec"] = round(indexed90, 3)
                print(
                    f"# incremental dedup at 90× base: indexed "
                    f"{indexed90:.2f}s min-of-{headline_runs} "
                    f"({runs_90[0][1]} survivors) — read beside the 30× "
                    f"key ({indexed:.2f}s): flat-in-base-size is the "
                    "touched-bucket prune's asymptotic claim",
                    file=sys.stderr,
                )
            finally:
                shutil.rmtree(idx90_dir, ignore_errors=True)
        finally:
            shutil.rmtree(idx_dir, ignore_errors=True)

    _release_persisted(spark)
    if os.environ.get("SPARK_GRAFT_BENCH_SEMINCR", "1") != "0":
        # Round-14 additive key (verdict task 2's Done clause): the
        # SEMANTIC twin of the incremental_indexed/rehash pair — a 30×
        # decade-up embedding base with a persisted semantic_cell_index
        # (partitioned by cell, the streaming ingest's layout) vs the
        # same batch deduped with a full base re-assignment. The
        # indexed path replaces the base's per-batch k-dot-product
        # nearest-centroid pass with a pruned read of precomputed
        # rows; indexed wall is flat in base size, re-assign grows
        # linearly — the number semdedup_ingest_stream's per-batch
        # cost now follows.
        from pyspark.sql import functions as F

        from pandasvcf_spark.operators.dedup import (
            semantic_cell_index,
            semantic_dedup_incremental,
        )
        from pandasvcf_spark.queries.tables import load
        from pandasvcf_spark.queries.vectors_q import DIM, _lcg_planes

        sem_cents = [
            [x * 0.15 for x in row]
            for row in _lcg_planes(64, DIM, seed=0xB14)
        ]
        par = spark.sparkContext.defaultParallelism
        emb = load(spark, sf_dir, "embeddings").select(
            "vec_id", "embedding"
        )
        sem_base = None
        for i in range(30):
            c = emb.select(
                (F.col("vec_id") + i * 10_000_000).alias("vec_id"),
                F.col("embedding"),
            )
            sem_base = c if sem_base is None else sem_base.unionByName(c)
        sem_base = sem_base.repartition(par).localCheckpoint()
        sem_batch = (
            emb.filter(F.col("vec_id") % 97 == 0)
            .select(
                (F.col("vec_id") + 900_000_000).alias("vec_id"),
                "embedding",
            )
            .localCheckpoint()
        )
        cell_dir = tempfile.mkdtemp(prefix="pandasvcf_bench_cellidx_")
        try:
            build_times = []
            for _ in range(headline_runs):
                t0 = time.time()
                # repartition("cell") first — the production write plan
                # (streaming/ingest.py does the same): a dynamic-partition
                # write without it opens a writer per cell in every task,
                # tasks × cells small files + a per-task sort. Round-15
                # measured 10.7 s / 2048 files → 2.5 s / 64 files on this
                # exact index, identical rows (guide §6).
                semantic_cell_index(
                    sem_base, sem_cents
                ).repartition("cell").write.mode("overwrite").partitionBy(
                    "cell"
                ).parquet(cell_dir)
                build_times.append(time.time() - t0)
            cells_idx = spark.read.parquet(cell_dir).select(
                "vec_id", "cell", "embedding"
            )

            def _sem_incr(indexed: bool):
                t0 = time.time()
                n = semantic_dedup_incremental(
                    None if indexed else sem_base,
                    sem_batch,
                    sem_cents,
                    threshold=0.99,
                    base_cells=cells_idx if indexed else None,
                ).count()
                return time.time() - t0, n

            runs_i = [_sem_incr(True) for _ in range(headline_runs)]
            runs_r = [_sem_incr(False) for _ in range(headline_runs)]
            assert runs_i[0][1] == runs_r[0][1], (runs_i, runs_r)
            sem_idx = min(t for t, _ in runs_i)
            sem_re = min(t for t, _ in runs_r)
            result["semdedup_incr_index_build_sec"] = round(
                min(build_times), 3
            )
            result["semdedup_incr_indexed_sec"] = round(sem_idx, 3)
            result["semdedup_incr_reassign_sec"] = round(sem_re, 3)
            print(
                f"# semdedup incremental at 30x base: indexed "
                f"{sem_idx:.2f}s vs re-assign {sem_re:.2f}s "
                f"min-of-{headline_runs} ({runs_i[0][1]} survivors; "
                f"one-time cell-index build {min(build_times):.2f}s)",
                file=sys.stderr,
            )
        finally:
            shutil.rmtree(cell_dir, ignore_errors=True)

    _release_persisted(spark)
    if os.environ.get("SPARK_GRAFT_BENCH_INGESTCKPT", "1") != "0":
        # Round-15 additive keys (verdict task 2's Done clause): the
        # per-batch INDEX READ cost in BATCH COUNT. A long-running
        # ingest stream accretes one `_index` dir per micro-batch; the
        # read of their union is what every new batch pays before any
        # dedup work. 80 accreted dirs vs the one `_index_ckpt_N`
        # roll-up `_maybe_compact_index` maintains — same rows, same
        # schema; the delta is pure listing + footer + task-granularity
        # overhead, the term that grows linearly in batch count without
        # compaction and is CONSTANT with it.
        import shutil as _sh

        from pandasvcf_spark.functions.text import word_ngrams_expr
        from pandasvcf_spark.operators.dedup import minhash_band_keys
        from pandasvcf_spark.plans.bucketing import compact_parquet
        from pandasvcf_spark.queries.tables import load

        n_dirs = 80
        root = tempfile.mkdtemp(prefix="pandasvcf_bench_ingestckpt_")
        try:
            docs = load(spark, sf_dir, "documents").select(
                "doc_id", "text"
            )
            one = f"{root}/batch_id=0/_index"
            minhash_band_keys(
                docs.limit(500), "doc_id", word_ngrams_expr("text", 3)
            ).coalesce(1).write.parquet(one)
            for k in range(1, n_dirs):
                _sh.copytree(one, f"{root}/batch_id={k}/_index")
            dirs = [f"{root}/batch_id={k}/_index" for k in range(n_dirs)]

            t0 = time.time()
            compact_parquet(spark, dirs, f"{root}/_index_ckpt_{n_dirs - 1}")
            compact_s = time.time() - t0

            def _read(paths):
                times = []
                for _ in range(headline_runs):
                    t0 = time.time()
                    spark.read.parquet(*paths).count()
                    times.append(time.time() - t0)
                return min(times)

            many = _read(dirs)
            ckpt = _read([f"{root}/_index_ckpt_{n_dirs - 1}"])
            result["ingest_index_read_80dirs_sec"] = round(many, 3)
            result["ingest_index_read_ckpt_sec"] = round(ckpt, 3)
            result["ingest_index_ckpt_compact_sec"] = round(compact_s, 3)
            print(
                f"# ingest index read: {n_dirs} accreted dirs "
                f"{many:.2f}s vs one roll-up {ckpt:.2f}s "
                f"min-of-{headline_runs} (one-time compaction "
                f"{compact_s:.2f}s, amortized over every later batch) — "
                "per-batch index cost is flat in BATCH COUNT with "
                "index_compact_every, linear without",
                file=sys.stderr,
            )
        finally:
            shutil.rmtree(root, ignore_errors=True)

    _release_persisted(spark)
    if os.environ.get("SPARK_GRAFT_BENCH_LD", "1") != "0":
        # Round-7 flagship: banded pairwise LD over the derived genotype
        # relation — additive key (frozen-roster discipline). The pair
        # count is reported so wall is readable against output size.
        times, n_pairs = [], 0
        for _ in range(2):
            t0 = time.time()
            n_pairs = QUERIES["g_ld"].fn(spark, sf_dir).count()
            times.append(time.time() - t0)
        result["ld_pairs_sec"] = round(min(times), 3)
        result["ld_pairs"] = n_pairs
        print(
            f"# ld_pairs_sec: {min(times):.2f}s min-of-2 ({n_pairs} pairs, "
            "banded self-join + per-pair HOF fold)",
            file=sys.stderr,
        )

    _release_persisted(spark)
    if os.environ.get("SPARK_GRAFT_BENCH_PIPE", "1") != "0":
        # full one-call corpus-preparation funnel (lang/quality filter ->
        # exact dedup -> near dedup -> decontamination -> token budget)
        # on the doubled noisy corpus — the end-to-end composition
        # number, additive key. Single run: the funnel localCheckpoints
        # every stage by contract (its docstring's cost statement), so a
        # second run re-pays real materialization, not warmup.
        from pyspark.sql import functions as F

        from pandasvcf_spark.operators.pipeline import prepare_corpus
        from pandasvcf_spark.queries.tables import load as _load
        from pandasvcf_spark.queries.text_q import _noisy_corpus

        t0 = time.time()
        docs = _noisy_corpus(spark, sf_dir)
        eval_df = (
            _load(spark, sf_dir, "documents")
            .filter(F.col("doc_id") % 97 == 0)
            .select("doc_id", "text")
        )
        cleaned, report = prepare_corpus(
            docs,
            min_quality=0.1,
            paragraph_delim=" the ",  # no newlines in the synthetic
            paragraph_min_chars=8,    # corpus; the catalog convention
            near_dup=True,
            min_jaccard=0.8,
            eval_df=eval_df,
            max_overlap=0.8,
            budget_tokens=10_000_000,
        )
        rows_out = cleaned.count()
        result["corpus_pipeline_sec"] = round(time.time() - t0, 3)
        print(
            f"# corpus_pipeline_sec: {result['corpus_pipeline_sec']:.2f}s "
            f"(8-stage funnel on the doubled corpus, {rows_out} survivors; "
            "per-stage counts in the report frame)",
            file=sys.stderr,
        )

    _release_persisted(spark)
    if os.environ.get("SPARK_GRAFT_BENCH_WARC", "1") != "0":
        # Round-10 additive key: the Common-Crawl composition users
        # actually run — read_warc_gz -> http_payload -> html_text_expr
        # -> prepare_corpus (lang/quality + exact + near dedup). The
        # snapshot is generated OUTSIDE the timed region (4 .warc.gz
        # files wrapping the first 2000 documents as HTTP/HTML records,
        # one gzip member per record — the CC layout); the timed region
        # is the crawl-bytes-to-clean-corpus funnel incl. the survivor
        # count action.
        from pyspark.sql import functions as F

        from pandasvcf_spark.functions.text import html_text_expr
        from pandasvcf_spark.operators.pipeline import prepare_corpus
        from pandasvcf_spark.queries.tables import load as _load
        from pandasvcf_spark.sources.warc import (
            http_payload,
            read_warc_gz,
            write_warc_gz,
        )

        docs = (
            _load(spark, sf_dir, "documents")
            .select("doc_id", "text")
            .orderBy("doc_id")
            .limit(2000)
            .collect()
        )
        tmpd = tempfile.mkdtemp(prefix="bench_warc_")
        try:
            n_files = 4
            paths = []
            for fno in range(n_files):
                recs = []
                for r in docs[fno::n_files]:
                    body = (
                        f"<html><body><p>{r['text']}</p></body></html>"
                    ).encode()
                    recs.append(
                        dict(
                            warc_type="response",
                            target_uri=f"http://c.example/{r['doc_id']}",
                            content_type=(
                                "application/http; msgtype=response"
                            ),
                            payload=(
                                b"HTTP/1.1 200 OK\r\n"
                                b"Content-Type: text/html\r\n\r\n" + body
                            ),
                        )
                    )
                p = f"{tmpd}/crawl-{fno:05d}.warc.gz"
                write_warc_gz(recs, p)
                paths.append(p)
            t0 = time.time()
            pages = (
                http_payload(read_warc_gz(spark, paths))
                .filter(
                    (F.col("http_status") == 200)
                    & F.col("http_content_type").startswith("text/html")
                )
                .select(
                    F.col("target_uri").alias("doc_id"),
                    html_text_expr(F.col("body")).alias("text"),
                )
            )
            cleaned, _report = prepare_corpus(
                pages,
                min_quality=0.1,
                near_dup=True,
                min_jaccard=0.8,
            )
            warc_rows = cleaned.count()
            result["warc_pipeline_sec"] = round(time.time() - t0, 3)
            print(
                f"# warc_pipeline_sec: "
                f"{result['warc_pipeline_sec']:.2f}s (4-file CC-style "
                f"snapshot, {len(docs)} records -> {warc_rows} clean "
                "survivors; file-granular scan, member-streamed gzip)",
                file=sys.stderr,
            )
        finally:
            shutil.rmtree(tmpd, ignore_errors=True)

    _release_persisted(spark)
    if os.environ.get("SPARK_GRAFT_BENCH_R7B", "1") != "0":
        # Round-7 continuation additive keys (frozen-roster discipline):
        # the three new heavy operators — relatedness matrix (panel-pair
        # HOF), triangle census (oriented wedge expansion), BPE training
        # (3 iterative pair-count rounds) — each min-of-2 with its output
        # size so wall reads against work done.
        for key, qname in (
            ("grm_sec", "g_grm"),
            ("triangles_sec", "g_triangles"),
            ("bpe_train_sec", "t_bpe_merges"),
        ):
            times, n_out = [], 0
            for _ in range(2):
                t0 = time.time()
                n_out = QUERIES[qname].fn(spark, sf_dir).count()
                times.append(time.time() - t0)
            result[key] = round(min(times), 3)
            print(
                f"# {key}: {min(times):.2f}s min-of-2 ({qname}, "
                f"{n_out} rows)",
                file=sys.stderr,
            )

    _release_persisted(spark)
    if os.environ.get("SPARK_GRAFT_BENCH_R8B", "1") != "0":
        # Round-8 continuation additive keys (frozen-roster discipline):
        # the promoted window classes — distributed grouped exact
        # quantiles (the no-collect bucket walk) and the 20-replicate
        # Poisson bootstrap (corpus x reps hash ladder) — each min-of-2.
        for key, qname in (
            ("grouped_quantiles_sec", "agg_grouped_quantiles"),
            ("bootstrap_ci_sec", "m_bootstrap_ci"),
            # second round-8 continuation: the two heaviest promoted
            # classes — fixed-budget Lloyd k-means (2 assignment rounds
            # + model-sized centroid collect) and Adamic-Adar link
            # prediction (the wedge-count-bound expansion, the worst
            # probed exponent this round at 0.57)
            ("kmeans_sec", "v_kmeans"),
            ("link_pred_sec", "g_link_pred"),
        ):
            times, n_out = [], 0
            for _ in range(2):
                t0 = time.time()
                n_out = QUERIES[qname].fn(spark, sf_dir).count()
                times.append(time.time() - t0)
            result[key] = round(min(times), 3)
            print(
                f"# {key}: {min(times):.2f}s min-of-2 ({qname}, "
                f"{n_out} rows)",
                file=sys.stderr,
            )

    _release_persisted(spark)
    if os.environ.get("SPARK_GRAFT_BENCH_VCF", "1") != "0" and os.path.exists(KG_VCF):
        from pandasvcf_spark.operators import annotate_vcf
        from pandasvcf_spark.operators.annotate import (
            annotate_genotypes,
            explode_genotypes,
        )
        from pandasvcf_spark.sources.vcf import read_vcf_header, vcf_to_parquet

        # Min-of-2 for the VCF stages too — round 4's .gz number regressed
        # 19.8 -> 25.8 s on a single-shot measurement while every min-of-2
        # catalog query (and the DuckDB anchor) improved; the same first-run
        # codegen/JIT cost the catalog discipline was added for applies to
        # these stages verbatim.
        def _min_of(fn, runs=3):
            # min-of-3 (not 2) for the VCF stages: they are the headline
            # numbers and single runs here have caught multi-second ambient
            # interference twice (round 4's 25.8 s, a round-6 13.6 s parquet
            # outlier) that min-of-2 didn't fully absorb
            times, out = [], None
            for _ in range(runs):
                t0 = time.time()
                out = fn()
                times.append(round(time.time() - t0, 3))
            return min(times), times, out

        # Stage 1: the .gz text path (one decompress task feeding the
        # repartition spread — the fixture's physical format bound).
        dt, times, n = _min_of(
            lambda: annotate_vcf(spark, KG_VCF, drop_hom_ref=True).count()
        )
        result["vcf_genotypes_per_sec"] = round(KG_GENOTYPES / dt)
        result["vcf_wall_sec"] = round(dt, 3)
        print(
            f"# vcf flagship (.gz): {dt:.2f}s min-of-2 (runs {times}), {n} rows",
            file=sys.stderr,
        )

        # Stage 2: the scale path — ingest once to parquet, run the same
        # annotate pipeline from columnar storage.
        pq_dir = tempfile.mkdtemp(prefix="pandasvcf_bench_pq_")
        try:
            ingest, itimes, _ = _min_of(lambda: vcf_to_parquet(spark, KG_VCF, pq_dir))
            fmt = [f for f in read_vcf_header(KG_VCF).format_ids if f != "GT"]
            dt2, times2, n2 = _min_of(
                lambda: annotate_genotypes(
                    explode_genotypes(
                        spark.read.parquet(pq_dir), drop_hom_ref_calls=True
                    ),
                    drop_hom_ref=True,
                    format_fields=fmt or None,
                ).count()
            )
            result["vcf_parquet_genotypes_per_sec"] = round(KG_GENOTYPES / dt2)
            result["vcf_parquet_wall_sec"] = round(dt2, 3)
            result["vcf_to_parquet_sec"] = round(ingest, 3)
            print(
                f"# vcf flagship (parquet): {dt2:.2f}s min-of-2 (runs {times2}), "
                f"{n2} rows (one-time ingest {ingest:.2f}s min-of-2 {itimes})",
                file=sys.stderr,
            )
            assert n2 == n, (n, n2)  # the two paths must agree exactly
        finally:
            shutil.rmtree(pq_dir, ignore_errors=True)

    _release_persisted(spark)
    if (
        os.environ.get("SPARK_GRAFT_BENCH_BGZF", "1") != "0"
        and os.path.exists(KG_VCF)
    ):
        from pandasvcf_spark.sources.bgzf import (
            BGZF_EOF,
            is_bgzf,
            read_bgzf_lines,
        )

        # Build (once, cached) a >=64 MiB BGZF fixture by repeating the
        # 1000G bytes sans EOF marker — BGZF members concatenate, so this
        # is a byte copy, not a recompress. 56 copies ~= 63 MB compressed,
        # ~5.5 GB raw: right at the auto-threshold boundary.
        fixture = os.path.join(
            tempfile.gettempdir(), "pandasvcf_bench_bgzf56.vcf.gz"
        )
        src = open(KG_VCF, "rb").read()
        assert src.endswith(BGZF_EOF)
        want_size = (len(src) - len(BGZF_EOF)) * 56 + len(BGZF_EOF)
        if (
            not os.path.exists(fixture)
            or os.path.getsize(fixture) != want_size
        ):
            with open(fixture, "wb") as out:
                for _ in range(56):
                    out.write(src[: -len(BGZF_EOF)])
                out.write(BGZF_EOF)
        assert is_bgzf(fixture)

        # the split/single comparison is the most load-sensitive stage
        # in the file (the split scan wants 32 idle cores): escalate to
        # min-of-5 when the machine is hot at STAGE start — the r13 run
        # committed an inverted pair (split 11.66 vs single 7.37 at
        # loadavg 17.3) that min-of-3 did not absorb
        try:
            bgzf_load = os.getloadavg()[0]
        except OSError:
            bgzf_load = 0.0
        bgzf_runs = 5 if bgzf_load > 2.0 else 3
        if bgzf_runs == 5:
            print(
                f"# bgzf stage: loadavg {bgzf_load:.1f} at stage start — "
                "escalating to min-of-5",
                file=sys.stderr,
            )

        def _min_of2(fn):
            times = []
            # min-of-3 (5 hot): the split-vs-single comparison decides
            # the 64 MiB auto-threshold claim; one interfered run must
            # not flip it
            for _ in range(bgzf_runs):
                t0 = time.time()
                n = fn()
                times.append(time.time() - t0)
            return min(times), n

        split_s, n_split = _min_of2(
            lambda: read_bgzf_lines(spark, fixture).count()
        )
        single_s, n_single = _min_of2(lambda: spark.read.text(fixture).count())
        assert n_split == n_single, (n_split, n_single)
        comp_mb = os.path.getsize(fixture) / 2**20
        result["bgzf_fixture_mb"] = round(comp_mb, 1)
        result["bgzf_split_scan_sec"] = round(split_s, 3)
        result["bgzf_single_task_scan_sec"] = round(single_s, 3)
        # the split/single ratio tracks ambient machine load (the split
        # scan wants 32 idle cores, the single-task scan wants one —
        # round-9 paired A/Bs measured 0.63 at idle vs 1.49 at loadavg
        # ~11); record the confounder beside the numbers
        try:
            result["bgzf_loadavg_1m"] = round(os.getloadavg()[0], 1)
        except OSError:
            pass
        print(
            f"# bgzf scan ({comp_mb:.0f} MB compressed, {n_split} lines): "
            f"splittable {split_s:.2f}s vs single-task {single_s:.2f}s — "
            "local[32] single-JVM numbers; the splittable path's win is "
            "cluster-shape (no raw-text exchange, no one-task decompress "
            "of the whole file), see sources/vcf.py threshold comment",
            file=sys.stderr,
        )

    # ---- how to read the per-query ratio_vs_duckdb rows (round-10
    # verdict ask #6) ------------------------------------------------
    # At sub-second absolute walls the per-query ratio measures SPARK
    # JOB FIXED OVERHEAD (scheduler + codegen + exchange setup, a
    # roughly constant ~0.3-1.5 s tax), not plan quality: an embedded
    # single-process engine pays none of it, so a 0.3 s DuckDB query
    # against a 1.5 s Spark query reads as "5x slower" while both are
    # instantaneous. The crossover evidence is in this same table —
    # wherever the statistic is expensive enough for the distributed
    # plan to matter, the ratio INVERTS: v_ann_topk 0.066 (Spark 15x
    # faster), t_quality_score ~0.2 (5x faster). Treat per-query
    # ratios at <2 s absolute wall as overhead measurements; judge
    # plans by the absolute seconds, the SCALING.md exponents, and the
    # roster-total ratio trend across rounds.
    result["ratio_note"] = (
        "per-query ratio_vs_duckdb at sub-2s absolute wall measures "
        "Spark fixed job overhead, not plan quality; see crossover "
        "keys v_ann_topk (~0.07) and t_quality_score (~0.2) where the "
        "work dominates the overhead"
    )
    result["loadavg_start_1m"] = loadavg_start
    result["loadavg_start_5m"] = loadavg_5m
    try:
        result["loadavg_end_1m"] = round(os.getloadavg()[0], 1)
    except OSError:
        pass
    if ambient_note is not None:
        # survives into the compact stdout line so BENCH_r{N}.json
        # self-documents a hot-machine run without a judge re-run
        result["ambient_load_note"] = ambient_note

    # Full-resolution record (every key incl. the per-query duckdb and
    # ratio dicts and the prose ratio_note) goes to a committed twin; the
    # stdout line is a COMPACT headline that fits the driver's 2,000-char
    # tail capture so BENCH_r{N}.json finally carries non-null "parsed"
    # (round-10 verdict ask #1 — rounds 1-10 all lost their per-query
    # walls to the tail truncation).
    local_path = Path(__file__).resolve().parent / "BENCH_LOCAL.json"
    # carry forward any tools/ab_bench.py adjudications (round-13 verdict
    # task 3): the A/B artifact must survive into the round's committed
    # bench dict instead of living only in a commit message. Staleness
    # guard (round-14 ADVICE): an adjudication made against a head SHA
    # that is no longer an ancestor of the current HEAD is from an
    # abandoned line — drop it; one still on this line but not AT HEAD
    # is re-stamped with carried_from_head so readers can see its age.
    try:
        prev_local = json.loads(local_path.read_text())
        cur_head = None
        try:
            import subprocess

            cur_head = subprocess.run(
                ["git", "rev-parse", "--short", "HEAD"],
                cwd=Path(__file__).resolve().parent,
                capture_output=True, text=True, check=True,
            ).stdout.strip()
        except Exception:
            pass

        def _on_this_line(sha: str | None) -> bool:
            if not sha or cur_head is None:
                return True  # can't check — keep (biased lossless)
            if sha == cur_head:
                return True
            return subprocess.run(
                ["git", "merge-base", "--is-ancestor", sha, "HEAD"],
                cwd=Path(__file__).resolve().parent, capture_output=True,
            ).returncode == 0

        for k, v in prev_local.items():
            # watchlist_* = committed quiet-machine adjudications of
            # flagged-but-unchanged keys (round-16, verdict task 8);
            # they carry the same way the A/B artifacts do.
            if not (k.startswith("ab_vs_") or k.startswith("watchlist_")):
                continue
            sha = v.get("head") if isinstance(v, dict) else None
            if not _on_this_line(sha):
                print(f"# dropping stale {k} (head {sha} not an ancestor "
                      "of HEAD)", file=sys.stderr)
                continue
            if isinstance(v, dict) and sha and cur_head and sha != cur_head:
                v = dict(v, carried_from_head=sha)
            result[k] = v
    except (OSError, ValueError):
        pass
    try:
        local_path.write_text(json.dumps(result, indent=1) + "\n")
        print(f"# full-resolution bench dict -> {local_path}", file=sys.stderr)
    except OSError as exc:  # read-only checkout: headline line still works
        print(f"# could not write {local_path}: {exc}", file=sys.stderr)

    print(compact_stdout_line(result))


def compact_stdout_line(result: dict) -> str:
    """The driver-contract stdout line: a compact JSON rendering of the
    bench result that NEVER exceeds 1,900 chars (the driver's envelope
    captures only the last 2,000 chars of stdout) and NEVER sheds the
    `queries` dict before every optional key is gone. Factored out of
    main() in round 16 so the never-drop-queries invariant is PINNED by
    a unit test (tests/test_bench_stdout.py): the first carried
    watchlist_* dict pushed the old inline ladder to its queries-
    dropping last resort, which would have shipped a BENCH_r{N} with no
    per-query walls."""
    compact = {
        k: v
        for k, v in result.items()
        # watchlist_* adjudication dicts carry long prose notes and live
        # verbatim in BENCH_LOCAL.json — never on the stdout line
        if k not in ("duckdb", "ratio_vs_duckdb", "ratio_note")
        and not k.startswith("watchlist_")
    }
    # ab_vs_* dicts are large (two full per-query tables): the stdout
    # line carries only their verdict summary; BENCH_LOCAL.json keeps all
    for k, v in result.items():
        if k.startswith("ab_vs_") and isinstance(v, dict):
            compact[k] = {
                kk: v.get(kk)
                for kk in (
                    "delta_total_shared", "round_spread_max", "verdict"
                )
            }
    line = json.dumps(compact)
    # belt-and-braces: never overflow the driver's 2,000-char capture.
    # Shed in value order: the probe curve and A/B summaries live in
    # BENCH_LOCAL.json anyway; the per-query walls are the LAST thing
    # to drop (they are what BENCH_r{N}.json exists to carry).
    if len(line) > 1900:
        compact.pop("ivfpq_mp_probe_curve", None)
        compact.pop("imi_opq_probe_curve", None)
        compact["note"] = "probe curves in BENCH_LOCAL.json"
        line = json.dumps(compact)
    if len(line) > 1900:
        for k in [k for k in compact if k.startswith("ab_vs_")]:
            compact[k] = compact[k].get("verdict")
        line = json.dumps(compact)
    # The driver contract REQUIRES the queries dict (round-15 fix: with
    # three ab_vs_* stamps + the round-15 telemetry keys the old ladder
    # reached its queries-dropping last resort, which would have shipped
    # a BENCH_r{N} without per-query walls). Everything shed below lives
    # verbatim in BENCH_LOCAL.json; `queries` itself is shed only in the
    # never-expected case that the roster alone exceeds the belt.
    if len(line) > 1900:
        for k in (
            "ambient_load_note",
            "loadavg_start_1m",
            "loadavg_start_5m",
            "loadavg_end_1m",
            "bgzf_loadavg_1m",
        ):
            compact.pop(k, None)
        line = json.dumps(compact)
    if len(line) > 1900:
        for k in [k for k in compact if k.startswith("ab_vs_")]:
            compact.pop(k, None)
        compact["note"] = "probe curves + A/B in BENCH_LOCAL.json"
        line = json.dumps(compact)
    if len(line) > 1900:
        # absolute last resorts, still queries-preserving: drop the
        # telemetry scalars, then non-queries keys wholesale
        for k in [k for k in compact
                  if k not in ("metric", "value", "unit", "queries", "sf",
                               "master", "default_parallelism", "cpus_env")]:
            compact.pop(k, None)
            if len(json.dumps(compact)) <= 1900:
                break
        compact["note"] = "see BENCH_LOCAL.json for everything shed"
        line = json.dumps(compact)
    if len(line) > 1900:
        compact.pop("queries", None)
        compact["note"] = "see BENCH_LOCAL.json for per-query walls"
        line = json.dumps(compact)
    return line


if __name__ == "__main__":
    main()

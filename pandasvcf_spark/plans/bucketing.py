"""Bucketed-table layout: pre-shuffled storage for co-located joins.

At 100 TB the dominant cost of a fact⋈fact equi-join is shuffling both
sides. Bucketing pays that shuffle ONCE at write time: both tables are
hash-partitioned into the same number of buckets on the join key, so every
subsequent join (and aggregation) on that key reads co-located buckets and
skips the exchange entirely — the plan shows SortMergeJoin with NO Exchange
on either side (asserted by tests/test_multimodal_udf.py).

The VCF analogue: bucket the long genotype table by the site key so
repeated per-site analyses (hom-ref windows, per-site joins against
annotation tables bucketed the same way) never re-shuffle.
"""

from __future__ import annotations

from functools import reduce

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_by: str | list[str],
    num_buckets: int,
    path: str | None = None,
    sort_by: str | list[str] | None = None,
) -> None:
    """Persist as a bucketed (optionally bucket-sorted) table. `sort_by`
    additionally orders rows inside each bucket file, letting sort-merge
    joins skip their sort step too."""
    cols = [bucket_by] if isinstance(bucket_by, str) else list(bucket_by)
    writer = df.write.mode("overwrite").format("parquet").bucketBy(
        num_buckets, *cols
    )
    if sort_by:
        scols = [sort_by] if isinstance(sort_by, str) else list(sort_by)
        writer = writer.sortBy(*scols)
    if path:
        writer = writer.option("path", path)
    writer.saveAsTable(table)


def read_table(spark: SparkSession, table: str) -> DataFrame:
    """Read a bucketed table back (bucket metadata comes from the catalog —
    reading the bare parquet path would lose it)."""
    return spark.table(table)


def write_ann_partitioned(
    df: DataFrame,
    out_path: str,
    vec_col: str = "embedding",
    planes: list[list[float]] | None = None,
    n_planes: int = 8,
    dim: int = 64,
) -> list[list[float]]:
    """Storage-level ANN pruning: write the embedding corpus parquet-
    PARTITIONED by its random-projection LSH bucket, so an ANN probe that
    filters `bucket = <h(q)>` prunes to ONE directory at the SCAN — the
    other 2^n_planes partitions are never opened, turning probe I/O from
    O(corpus) into O(corpus / 2^n_planes) with zero index structure, just
    file layout. (The in-memory operators hash-and-shuffle per query run;
    this pays the bucketing once at write, the right trade for a corpus
    queried many times — same philosophy as `write_bucketed` for joins.)

    Returns the hyperplanes used (pass them back into `rp_bucket_expr`
    at query time — the layout is only as good as hashing queries with
    the SAME planes)."""
    from pandasvcf_spark.operators.similarity import default_planes, rp_bucket_expr

    planes = planes or default_planes(n_planes, dim)
    (
        df.withColumn("bucket", rp_bucket_expr(vec_col, planes))
        # Cluster rows by the partition column BEFORE the dynamic-
        # partition write: without it every write task holds rows of up
        # to 2^n_planes buckets and opens one parquet writer per bucket —
        # tasks × buckets small files plus a per-task sort (guide §6).
        # Measured round 15 on the 64-cell semantic index (same write
        # shape): 10.7 s / 2048 files → 2.5 s / 64 files, identical rows.
        .repartition("bucket")
        .write.mode("overwrite")
        .partitionBy("bucket")
        .parquet(out_path)
    )
    return planes


def zorder_key_expr(cols: list, bits: int = 16):
    """Z-order (Morton) interleave key over 2+ non-negative integer
    columns — multi-dimensional data clustering for parquet min/max
    skipping: ``df.repartitionByRange(n, z).sortWithinPartitions(z)
    .write...`` lays rows so a range predicate on ANY of the interleaved
    dimensions prunes row groups, where a plain sort only skips on its
    leading column. The layout trio with `write_bucketed` (join
    co-location) and `write_ann_partitioned` (bucket pruning).

    Each value is clamped to `bits` bits (larger values saturate — cap or
    pre-scale dimensions to the bit budget; len(cols) * bits must fit a
    signed 64-bit key, so e.g. 3 dims × 16 bits or 2 × 31). The
    interleave is a pure fold of shifts/masks — JVM codegen, no UDF."""
    from pyspark.sql import functions as F

    n = len(cols)
    if n < 2:
        raise ValueError("zorder needs >= 2 columns")
    if n * bits > 62:
        raise ValueError(f"{n} cols x {bits} bits overflows a 64-bit key")
    cap = (1 << bits) - 1
    vals = [
        F.least(
            F.greatest((F.col(c) if isinstance(c, str) else c).cast("long"), F.lit(0)),
            F.lit(cap),
        )
        for c in cols
    ]
    key = F.lit(0).cast("long")
    for bit in range(bits - 1, -1, -1):
        for d, v in enumerate(vals):
            key = F.shiftleft(key, 1) + (
                F.shiftright(v, bit).bitwiseAND(F.lit(1))
            )
    return key


def compact_parquet(
    spark: SparkSession,
    in_path: str | list,
    out_path: str,
    target_mb: int = 128,
    sort_by: list | None = None,
    partition_by: list | None = None,
) -> int:
    """Small-files compaction: rewrite a parquet directory into ~`target_mb`
    output files — the maintenance pass every incremental sink eventually
    needs (a streaming/batch-append corpus accretes thousands of tiny
    files, and at scan time each costs a task launch, a footer read and an
    object-store GET; compaction restores scan efficiency without touching
    values). Returns the number of output files written.

    Sizing reads the INPUT's total byte size through the Hadoop
    FileSystem API (any scheme — local, HDFS, s3a/gs; metadata-only, one
    listing) and repartitions to ceil(bytes / target_mb). `sort_by`
    optionally lays rows out sorted WITHIN each output file
    (sortWithinPartitions — no global sort, but min/max footer stats
    become selective, the cheap cousin of a Z-order rewrite). Writes to a
    NEW directory — atomic adoption (rename/pointer swap) is the caller's
    table-format concern, deliberately out of scope here.

    `in_path` also accepts a LIST of parquet directories, unioned into
    one compacted output — the streaming ingest's index-checkpoint
    roll-up (round-15: thousands of per-batch `_index` dirs become one
    `_index_ckpt=N`). `partition_by` preserves a partitioned layout in
    the output: rows are hash-clustered on the partition columns first
    (repartition(n, *cols)), so each Hive partition directory gets ~1
    complete file instead of one shard per task — the cell-pruned read
    path stays pruned after compaction. Every root is read with the
    schema of the first root that has one, so a root with no data files
    (a partitioned write of zero rows) reads as zero rows."""
    return _compact_parquet(
        spark, in_path, out_path, target_mb, sort_by, partition_by
    )


def _first_schema(spark: SparkSession, paths: list) -> StructType:
    """The schema Spark infers for the first of `paths` that has data
    files; inference fails (UNABLE_TO_INFER_SCHEMA) on a root without."""
    for p in paths:
        try:
            return spark.read.parquet(p).schema
        except AnalysisException as e:
            if e.getCondition() != "UNABLE_TO_INFER_SCHEMA":
                raise
    raise ValueError("compact_parquet: no input path has a parquet schema")


def _compact_parquet(
    spark: SparkSession,
    in_path: str | list,
    out_path: str,
    target_mb: int = 128,
    sort_by: list | None = None,
    partition_by: list | None = None,
    schema: StructType | None = None,
) -> int:
    """`compact_parquet`, reading every root with `schema` when it is
    given: the streaming ingest passes its index schema, which holds even
    when no root of a roll-up has a data file."""
    if target_mb < 1:
        raise ValueError(f"target_mb must be >= 1, got {target_mb}")
    in_paths = [in_path] if isinstance(in_path, str) else list(in_path)
    if not in_paths:
        raise ValueError("compact_parquet: no input paths")
    jvm = spark._jvm
    hconf = spark._jsc.hadoopConfiguration()
    fs = jvm.org.apache.hadoop.fs.Path(in_paths[0]).getFileSystem(hconf)
    total = sum(
        int(
            fs.getContentSummary(
                jvm.org.apache.hadoop.fs.Path(p)
            ).getLength()
        )
        for p in in_paths
    )
    n_files = max(1, -(-int(total) // (int(target_mb) * 2**20)))
    # one read PER ROOT, unioned: Hive-partitioned inputs rooted at
    # different relative depths (batch_id=K/_index vs _index_ckpt_N)
    # trip CONFLICTING_DIRECTORY_STRUCTURES in a single multi-path read.
    # Infer the schema at most ONCE and declare it for every root: schema
    # inference is a per-read driver-side footer fetch, and over
    # hundreds of accreted micro-batch dirs it dominated the whole
    # compaction (measured at the bench's 80-dir fixture: 6.2 s of the
    # 8.5 s total; 3.4× end-to-end with the reuse — round 16, guide
    # §7.3 driver-side work). Declaring one schema is lossless:
    # unionByName required column-identical inputs anyway, and partition
    # columns present in the schema are still parsed from directory names.
    if schema is None:
        schema = _first_schema(spark, in_paths)
    df = reduce(
        DataFrame.unionByName,
        [spark.read.schema(schema).parquet(p) for p in in_paths],
    )
    if partition_by:
        df = df.repartition(n_files, *partition_by)
    else:
        df = df.repartition(n_files)
    if sort_by:
        df = df.sortWithinPartitions(*sort_by)
    writer = df.write.mode("error")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(out_path)
    out_root = jvm.org.apache.hadoop.fs.Path(out_path)

    def _count_parquet(p) -> int:
        n = 0
        for st in fs.listStatus(p):
            if st.isDirectory():
                n += _count_parquet(st.getPath())
            elif st.getPath().getName().endswith(".parquet"):
                n += 1
        return n

    return _count_parquet(out_root)

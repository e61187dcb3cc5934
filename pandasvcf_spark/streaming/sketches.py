"""Streaming sketch maintenance — a Count-Min frequency grid kept current
over an arriving corpus.

The CMS is cell-wise mergeable (proven in tests/test_corpus_shaping.py:
Sketch(A ∪ B) == cellwise-sum(Sketch(A), Sketch(B))), which makes the
streaming form almost free: each micro-batch writes ITS OWN grid under
`sketch_path/batch_id=N` (overwrite — the batch_id-directory idempotence
contract of `write_stream_partitioned`/`dedup_ingest_stream`: a replayed
batch after a crash between sink write and checkpoint commit overwrites
its own directory instead of double-counting), and the queryable sketch is
one re-aggregation over all batch directories. No per-batch read of
historical state, no state store: the merge happens at QUERY time over
depth × width × n_batches tiny rows.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from pandasvcf_spark.streaming.events import _batch_dir_sink


def sketch_ingest_stream(
    stream_df: DataFrame,
    sketch_path: str,
    checkpoint_path: str,
    key,
    depth: int = 4,
    width: int = 1024,
    query_name: str = "cms_ingest",
    trigger: dict | None = None,
):
    """Maintain a Count-Min sketch of `key`'s frequency over a stream:
    per micro-batch, build the batch's own grid (`countmin_sketch`) and
    overwrite `sketch_path/batch_id=N`. Crash-replay safe by layout —
    a replayed batch reproduces the identical directory, never a double
    count. `key` is a column name or a zero-arg callable returning the
    key Column (callable when the expression must rebuild inside each
    micro-batch plan, the `dedup_ingest_stream` shingle convention).

    Read the current sketch back with `read_sketch` — depth/width are
    part of the sketch's identity, store them alongside."""
    from pandasvcf_spark.operators.sketches import countmin_sketch

    return _batch_dir_sink(
        stream_df, sketch_path, checkpoint_path, query_name, trigger,
        lambda batch_df, _batch_id: countmin_sketch(
            batch_df, key() if callable(key) else key, depth=depth, width=width
        ),
    )


def read_sketch(spark: SparkSession, sketch_path: str) -> DataFrame:
    """The current merged grid: cell-wise sum over every batch directory
    — (d, cell, n), the exact `countmin_sketch` output shape, directly
    consumable by `countmin_estimate`."""
    return (
        spark.read.option("basePath", sketch_path)
        .parquet(f"{sketch_path}/batch_id=*")
        .groupBy("d", "cell")
        .agg(F.sum("n").alias("n"))
    )


def hll_ingest_stream(
    stream_df: DataFrame,
    sketch_path: str,
    checkpoint_path: str,
    key,
    m: int = 256,
    query_name: str = "hll_ingest",
    trigger: dict | None = None,
):
    """Streaming distinct-count maintenance — the HyperLogLog twin of
    `sketch_ingest_stream`, with the same batch_id-directory idempotence
    contract: each micro-batch overwrites its OWN register grid
    (`hll_sketch`) under `sketch_path/batch_id=N`, and the live estimate
    is a query-time cell-wise MAX merge over all batches
    (`read_hll_sketch` → `hll_estimate`). MAX is idempotent as well as
    associative, so this sketch tolerates not just replayed batches but
    OVERLAPPING ones (a re-crawled shard never inflates the count —
    the property cell-wise-SUM sketches cannot offer)."""
    from pandasvcf_spark.operators.sketches import hll_sketch

    return _batch_dir_sink(
        stream_df, sketch_path, checkpoint_path, query_name, trigger,
        lambda batch_df, _batch_id: hll_sketch(
            batch_df, key() if callable(key) else key, m=m
        ),
    )


def read_hll_sketch(spark: SparkSession, sketch_path: str) -> DataFrame:
    """The current merged HLL grid: cell-wise MAX over every batch
    directory — (bucket, rho), the exact `hll_sketch` output shape,
    directly consumable by `hll_estimate`."""
    return (
        spark.read.option("basePath", sketch_path)
        .parquet(f"{sketch_path}/batch_id=*")
        .groupBy("bucket")
        .agg(F.max("rho").alias("rho"))
    )


def drift_ingest_stream(
    stream_df: DataFrame,
    cells_path: str,
    checkpoint_path: str,
    cat,
    query_name: str = "drift_ingest",
    trigger: dict | None = None,
):
    """Maintain the categorical-distribution cells of a stream for
    drift monitoring: per micro-batch, ONE (category → count) cell
    table is written under `cells_path/batch_id=N` (overwrite — the
    batch_id-directory idempotence contract: a crash-replayed batch
    reproduces its own directory, never a double count). Counts are
    trivially cell-wise mergeable, so the queryable distribution is
    one re-aggregation over all batch directories at READ time — no
    state store, no historical re-read per batch.

    Compare against any baseline with `drift_report` (Jensen-Shannon
    — finite even on categories the baseline never saw, unlike PSI).
    `cat` is a column name or a zero-arg callable returning the
    Column (the sketch_ingest_stream convention)."""

    def cells_of(batch_df: DataFrame, _batch_id: int) -> DataFrame:
        c = cat() if callable(cat) else F.col(cat)
        return (
            batch_df.filter(c.isNotNull())
            .groupBy(c.alias("cat"))
            .agg(F.count(F.lit(1)).cast("long").alias("n"))
        )

    return _batch_dir_sink(
        stream_df, cells_path, checkpoint_path, query_name, trigger,
        cells_of,
    )


def read_drift_cells(spark: SparkSession, cells_path: str) -> DataFrame:
    """Merge every batch's cells into the stream's current (cat, n)
    distribution — one vocabulary-sized re-aggregation."""
    return (
        spark.read.parquet(cells_path)
        .groupBy("cat")
        .agg(F.sum("n").cast("long").alias("n"))
    )


def drift_report(
    spark: SparkSession,
    cells_path: str,
    baseline_cells: DataFrame,
) -> DataFrame:
    """Jensen-Shannon drift of the streamed distribution vs a baseline
    cell table (cat, n) — ONE row (n0 = baseline mass, n1 = streamed
    mass, k, kl_pm, kl_qm, js); js in [0, 1] bits and finite even when
    either side has novel categories (the reason this monitor is JS,
    not PSI)."""
    from pandasvcf_spark.operators.stats import js_divergence_from_counts

    return js_divergence_from_counts(
        baseline_cells, read_drift_cells(spark, cells_path)
    )


def ams_ingest_stream(
    stream_df: DataFrame,
    sketch_path: str,
    checkpoint_path: str,
    key,
    rows: int = 32,
    query_name: str = "ams_ingest",
    trigger: dict | None = None,
):
    """Streaming F2 (self-join-size / skew) maintenance — the AMS twin
    of `sketch_ingest_stream`, same batch_id-directory idempotence
    contract: each micro-batch overwrites its OWN signed-sum grid
    (`ams_f2_sketch`) under `sketch_path/batch_id=N`. The signed sum
    s_r = Σ sign_r(k)·c_k is LINEAR in the counts, so the live sketch
    is a query-time cell-wise SUM merge (`read_ams_sketch`) and the
    estimate follows from `ams_f2_estimate` — the repeat-rate of the
    whole stream so far, without ever re-reading history."""
    from pandasvcf_spark.operators.sketches import ams_f2_sketch

    return _batch_dir_sink(
        stream_df, sketch_path, checkpoint_path, query_name, trigger,
        lambda batch_df, _batch_id: ams_f2_sketch(
            batch_df, key() if callable(key) else key, rows=rows
        ),
    )


def read_ams_sketch(spark: SparkSession, sketch_path: str) -> DataFrame:
    """The current merged AMS grid: cell-wise SUM over every batch
    directory — (r, s), the exact `ams_f2_sketch` output shape,
    directly consumable by `ams_f2_estimate`."""
    return (
        spark.read.option("basePath", sketch_path)
        .parquet(f"{sketch_path}/batch_id=*")
        .groupBy("r")
        .agg(F.sum("s").cast("long").alias("s"))
    )

"""Streaming corpus ingest with incremental dedup — the composition a
continuously-crawling training-data pipeline runs: documents arrive as a
stream, each micro-batch is deduped (a) within itself and (b) against
everything already accepted, and only the survivors land in the corpus.

Three dedup tiers share one micro-batch loop (`_ingest_stream`): MinHash
near-dup (`dedup_ingest_stream`), SemDeDup (`semdedup_ingest_stream`) and
content-defined chunks (`cdc_ingest_stream`). A tier supplies only its
intra-batch dedup, its index builder, its incremental operator and, for
the semantic tier, the column its index is partitioned by.

Per micro-batch N (inside foreachBatch, so plain batch operators apply):
  1. intra-batch dedup, with a deterministic min-id survivor rule so a
     replayed batch reproduces its survivors;
  2. list the `corpus_path/batch_id=K` directories with K < N. Strictly
     smaller ids only: a replayed batch (failure between sink write and
     checkpoint commit) never sees its own earlier partial write and
     re-reads the same accumulated state;
  3. read the index of the accumulated corpus: the seed index, the newest
     committed `_index_ckpt_K` roll-up and the `_index` of every prior
     batch after it. When an uncovered prior batch lacks a committed
     `_index` (a corpus written by the pre-index layout), the prior
     batches' text is indexed in this batch instead — lossless, just
     linear in corpus size;
  4. the tier's incremental operator drops the batch rows the
     accumulated corpus already holds; the accumulated corpus is never
     re-tokenized, re-assigned or re-chunked, so per-batch cost scales
     with the batch, not the corpus;
  5. overwrite `corpus_path/batch_id=N` with the survivors, then build
     `batch_id=N/_index` from a read of that directory, so the index
     describes exactly the rows the sink wrote. The overwrite clears the
     old `_index` too, so a replay rebuilds both. `_index` is
     underscore-hidden: the corpus root still reads as a plain survivor
     table.

The seed corpus: a passed seed index is used as given; otherwise
`seed_df` is indexed once, at stream start. Index parameters (shingles and
hash counts, centroids, chunk lengths) are part of the index identity:
change them and rebuild the indexes.

`index_compact_every`: once more than that many per-batch `_index` dirs
accrete since the last roll-up, they are compacted into ONE
`corpus_path/_index_ckpt_N` (`_maybe_compact_index`), so per-batch index
listings and footer reads stay flat in batch count. None disables it.

`trigger` passes through to `writeStream.trigger(...)`; the default
``{"availableNow": True}`` drains currently-available input and stops (the
batch-backfill / test mode), ``{"processingTime": "1 minute"}`` keeps the
query live. Directory discovery goes through the Hadoop FileSystem API
resolved from `corpus_path`'s scheme, so local paths, `file://` URIs, HDFS
and s3a/gs object stores all work. Sink idempotence is layout-based, the
`write_stream_partitioned` contract.
"""

from __future__ import annotations

import re
from functools import reduce

from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame
from pyspark.sql.types import StructType

from pandasvcf_spark.streaming.events import _batch_dir_sink

INDEX_DIR = "_index"  # hidden from parquet readers (underscore prefix),
# so the corpus root and each batch directory still read as plain
# survivor tables


INDEX_CKPT_PREFIX = "_index_ckpt_"  # rolled-up index checkpoint dirs —
# underscore-hidden like _index, and deliberately WITHOUT "=": Spark
# partition-discovers a name=value dir even when underscore-prefixed,
# which would conflict with the batch_id=N layout on corpus-root reads

_BATCH_PREFIX = "batch_id="


def _fs_of(spark, path: str):
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(path)
    return p.getFileSystem(spark._jsc.hadoopConfiguration()), jvm


def _exists(spark, path: str) -> bool:
    fs, jvm = _fs_of(spark, path)
    return fs.exists(jvm.org.apache.hadoop.fs.Path(path))


def _dir_id(path: str, prefix: str) -> int | None:
    """N when the last component of `path` is `<prefix>N`, else None."""
    name = path.rstrip("/").rsplit("/", 1)[-1]
    m = re.fullmatch(re.escape(prefix) + r"(\d+)", name)
    return int(m.group(1)) if m else None


def _list_dirs(spark, root: str, prefix: str) -> list[tuple[int, str]]:
    """(N, path) for every `root/<prefix>N` child directory, sorted by N;
    a missing root lists as empty. Listed through the Hadoop FileSystem
    API resolved from the root's own scheme, so the same code lists local
    paths, `file://` URIs, HDFS and s3a/gs object stores. Driver-side,
    one RPC over ~#batches entries — metadata-sized."""
    fs, jvm = _fs_of(spark, root)
    p = jvm.org.apache.hadoop.fs.Path(root)
    if not fs.exists(p):
        return []
    out = []
    for st in fs.listStatus(p):
        n = _dir_id(st.getPath().getName(), prefix)
        if st.isDirectory() and n is not None:
            out.append((n, st.getPath().toString()))
    return sorted(out)


def _list_prior_batch_dirs(spark, corpus_path: str, batch_id: int) -> list[str]:
    """The `corpus_path/batch_id=K` directories with K < batch_id, by K."""
    return [
        p for n, p in _list_dirs(spark, corpus_path, _BATCH_PREFIX)
        if n < batch_id
    ]


def _latest_index_ckpt(spark, corpus_path: str) -> tuple[str, int] | None:
    """Newest COMMITTED rolled-up index checkpoint (path, N) — N is the
    highest batch_id the roll-up covers — or None. Committed means the
    parquet `_SUCCESS` marker is present; uncommitted dirs (a crash
    mid-compaction) are invisible here and deleted by the next
    `_maybe_compact_index`."""
    for n, p in reversed(_list_dirs(spark, corpus_path, INDEX_CKPT_PREFIX)):
        if _exists(spark, f"{p}/_SUCCESS"):
            return p, n
    return None


def _prior_index_dirs(
    spark, corpus_path: str, prior_dirs: list[str]
) -> list[str] | None:
    """The index read set for a micro-batch: the newest committed
    `_index_ckpt_N` roll-up (covering every batch_id ≤ N in one
    compacted relation) plus `<dir>/_index` for each prior batch
    SINCE it — or None when any uncovered prior batch lacks a
    committed index (`_index/_SUCCESS`): a corpus written by an older
    layout, which the caller re-indexes from its text. All-or-nothing
    because a partial index silently finds no candidates for the
    uncovered base docs (the `minhash_band_keys` identity contract)."""
    if not prior_dirs:
        return []
    ckpt = _latest_index_ckpt(spark, corpus_path)
    upto = ckpt[1] if ckpt else -1
    out = [ckpt[0]] if ckpt else []
    for d in prior_dirs:
        if _dir_id(d, _BATCH_PREFIX) <= upto:
            continue  # covered by the roll-up
        if not _exists(spark, f"{d}/{INDEX_DIR}/_SUCCESS"):
            return None
        out.append(f"{d}/{INDEX_DIR}")
    return out


def _maybe_compact_index(
    spark,
    corpus_path: str,
    prior_dirs: list[str],
    idx_dirs: list[str] | None,
    every: int | None,
    partition_by: list | None,
    schema: StructType,
) -> list[str] | None:
    """Roll the per-batch `_index` dirs of the read set `idx_dirs`
    (`_prior_index_dirs` of the `batch_id`-sorted `prior_dirs`) into ONE
    `corpus_path/_index_ckpt_N` (N = the highest prior batch_id) once
    more than `every` have piled up since the newest checkpoint, and
    return the new read set: [the roll-up] after a roll-up, else
    `idx_dirs` unchanged. The roll-up is `compact_parquet` over the read
    set itself, i.e. the previous roll-up plus the new dirs, never the
    whole history (amortized-flat maintenance); `partition_by` keeps a
    partitioned index layout, and every root is read with the index
    `schema`.

    Replay/crash safety: only STRICTLY PRIOR batches are ever rolled up,
    so a replayed batch never reads its own earlier output through the
    checkpoint. An uncommitted checkpoint dir (crash mid-compaction) is
    invisible to readers, which fall back to the per-batch dirs; it is
    deleted and rewritten here. The per-batch dirs are KEPT after the
    roll-up (they are the rebuild source of truth and underscore-hidden
    from corpus readers; the read path just stops touching them).
    Superseded checkpoints are deleted best-effort AFTER the new one
    commits — the newest-committed rule makes that purely cosmetic."""
    n_batch = sum(p.endswith(f"/{INDEX_DIR}") for p in idx_dirs or [])
    if every is None or n_batch <= every:
        return idx_dirs
    new_upto = _dir_id(prior_dirs[-1], _BATCH_PREFIX)
    out = f"{corpus_path}/{INDEX_CKPT_PREFIX}{new_upto}"
    fs, jvm = _fs_of(spark, corpus_path)
    if _exists(spark, out):
        fs.delete(jvm.org.apache.hadoop.fs.Path(out), True)
    from pandasvcf_spark.plans.bucketing import _compact_parquet

    _compact_parquet(
        spark, idx_dirs, out, partition_by=partition_by, schema=schema
    )
    for n, p in _list_dirs(spark, corpus_path, INDEX_CKPT_PREFIX):
        if n < new_upto:
            try:  # superseded or uncommitted debris — best-effort cleanup
                fs.delete(jvm.org.apache.hadoop.fs.Path(p), True)
            except Py4JJavaError:
                pass
    return [out]


def _ingest_stream(
    stream_df: DataFrame,
    corpus_path: str,
    checkpoint_path: str,
    query_name: str,
    trigger: dict | None,
    index_compact_every: int | None,
    seed_df: DataFrame | None,
    seed_index: DataFrame | None,
    dedup_batch,
    build_index,
    dedup_against,
    partition_col: str | None = None,
    reads_base_text: bool = False,
):
    """The micro-batch loop of the module docstring. A tier supplies
    `dedup_batch(batch_df)`, the intra-batch survivors;
    `build_index(df)`, the index rows of a survivor table, used for the
    seed, the legacy fallback and each batch's own `_index`;
    `dedup_against(batch_clean, base_index, base_text)`, the rows of
    `batch_clean` the accumulated corpus does not already hold, where
    `base_text` is seed ∪ prior-batch text when `reads_base_text` and
    None otherwise (so tiers that never read it pay no per-batch listing
    or footer read of the prior batches); and `partition_col`, the
    column its index is written and compacted partitioned by."""
    spark = stream_df.sparkSession
    if seed_index is None and seed_df is not None:
        # index the seed ONCE per stream start, not once per micro-batch
        seed_index = build_index(seed_df).localCheckpoint(eager=True)
    partition_by = [partition_col] if partition_col else None

    def survivors_of(batch_df: DataFrame, batch_id: int) -> DataFrame:
        batch_clean = dedup_batch(batch_df)
        indexes = [] if seed_index is None else [seed_index]
        texts = [] if seed_df is None else [seed_df]
        prior_dirs = _list_prior_batch_dirs(spark, corpus_path, batch_id)
        if prior_dirs:
            # Every index root is read with the index schema, known from
            # analysis alone: no footer-inference job per root, and a
            # partitioned index of zero rows, which has no data file to
            # infer from, reads as zero rows.
            schema = build_index(batch_clean).schema
            idx_dirs = _maybe_compact_index(
                spark, corpus_path, prior_dirs,
                _prior_index_dirs(spark, corpus_path, prior_dirs),
                index_compact_every, partition_by, schema,
            )
            if reads_base_text or idx_dirs is None:
                texts.append(spark.read.parquet(*prior_dirs))
            read = spark.read.schema(schema)
            if idx_dirs is None:
                indexes.append(build_index(texts[-1]))  # legacy layout
            elif partition_col:
                # one read PER ROOT, unioned: the roll-up
                # (_index_ckpt_N/cell=K) and the per-batch dirs
                # (batch_id=M/_index/cell=K) have different relative
                # layouts, and a single multi-path read trips Spark's
                # CONFLICTING_DIRECTORY_STRUCTURES partition discovery.
                # Partition pruning still pushes into each relation.
                indexes += [read.parquet(d) for d in idx_dirs]
            else:
                indexes.append(read.parquet(*idx_dirs))
        if not indexes:
            return batch_clean
        return dedup_against(
            batch_clean,
            reduce(DataFrame.unionByName, indexes),
            reduce(DataFrame.unionByName, texts) if reads_base_text else None,
        )

    def write_index(batch_dir: str) -> None:
        idx = build_index(spark.read.parquet(batch_dir))
        writer = idx.write
        if partition_col:
            # repartition by the partition column first: a dynamic-partition
            # write otherwise opens one writer per value in EVERY task
            # (tasks × values small files + a per-task sort; measured
            # 10.7 s / 2048 files → 2.5 s / 64 files on the 30× bench
            # index, same rows)
            writer = idx.repartition(partition_col).write.partitionBy(
                partition_col
            )
        writer.mode("overwrite").parquet(f"{batch_dir}/{INDEX_DIR}")

    return _batch_dir_sink(
        stream_df, corpus_path, checkpoint_path, query_name, trigger,
        survivors_of, write_index,
    )


def dedup_ingest_stream(
    stream_df: DataFrame,
    corpus_path: str,
    checkpoint_path: str,
    id_col: str,
    shingle_fn,
    seed_df: DataFrame | None = None,
    min_jaccard: float = 0.9,
    num_hashes: int = 64,
    bands: int = 16,
    query_name: str = "dedup_ingest",
    trigger: dict | None = None,
    seed_band_keys: DataFrame | None = None,
    index_compact_every: int | None = 16,
):
    """Start a streaming query that appends the MinHash near-dedup
    survivors of every micro-batch to `corpus_path/batch_id=N` (the
    module docstring gives the per-batch protocol). Intra-batch:
    `near_dedup_documents`; against the corpus: `near_dedup_incremental`;
    index: `minhash_band_keys` rows (id, band, key).

    `shingle_fn` is a zero-arg callable returning the shingle Column
    (e.g. ``lambda: word_ngrams_expr("text", 3)``) — a callable because
    the expression must be rebuilt inside each micro-batch's plan.

    Scale notes: the union of the prior indexes is passed as
    `base_band_keys`, so the accumulated corpus is never re-tokenized or
    re-hashed — per batch it costs a scan of 12-byte index rows plus a
    candidate-pruned text lookup for Jaccard verification (its own bench
    shows indexed ≈ flat vs re-hash ≈ linear in base size). Because
    verification reads base texts, this tier reads the prior batches'
    text every batch, and `seed_band_keys` (the seed's persisted index)
    needs `seed_df` beside it: passing it alone raises ValueError."""
    from pandasvcf_spark.operators.dedup import (
        minhash_band_keys,
        near_dedup_documents,
        near_dedup_incremental,
    )

    if seed_band_keys is not None and seed_df is None:
        raise ValueError(
            "dedup_ingest_stream: seed_band_keys needs seed_df — "
            "Jaccard verification reads the seed texts"
        )
    hash_kw = dict(num_hashes=num_hashes, bands=bands)
    return _ingest_stream(
        stream_df, corpus_path, checkpoint_path, query_name, trigger,
        index_compact_every, seed_df, seed_band_keys,
        dedup_batch=lambda batch_df: near_dedup_documents(
            batch_df, id_col, shingle_fn(), min_jaccard=min_jaccard,
            **hash_kw,
        ),
        build_index=lambda df: minhash_band_keys(
            df, id_col, shingle_fn(), **hash_kw
        ),
        dedup_against=lambda clean, keys, base: near_dedup_incremental(
            base, clean, id_col, shingle_fn(), min_jaccard=min_jaccard,
            base_band_keys=keys, **hash_kw,
        ),
        reads_base_text=True,
    )


def semdedup_ingest_stream(
    stream_df: DataFrame,
    corpus_path: str,
    checkpoint_path: str,
    centroids: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    seed_df: DataFrame | None = None,
    max_cluster_size: int | None = 100_000,
    query_name: str = "semdedup_ingest",
    trigger: dict | None = None,
    seed_cells: DataFrame | None = None,
    index_compact_every: int | None = 16,
):
    """Streaming SEMANTIC corpus ingest — the SemDeDup tier for a
    continuously-crawled corpus: append every micro-batch's semantic
    survivors (FULL rows: id, embedding and everything else) to
    `corpus_path/batch_id=N` (the module docstring gives the per-batch
    protocol). Intra-batch: `semantic_dedup` with keep="min_id", the
    DETERMINISTIC policy, so a replayed batch reproduces its survivor
    set exactly; against the corpus: `semantic_dedup_incremental` with
    `base_cells`; index: `semantic_cell_index` rows (id, cell, vector),
    PARTITIONED BY cell, in the per-batch dirs and the roll-ups alike.

    Scale shape: the accumulated corpus never pays the k-dot-product
    nearest-centroid pass again, and because the incremental operator
    prunes the base to the cells the batch TOUCHES, a batch reads only
    the touched cell partitions of each index. `seed_cells` is the
    seed's persisted index; it is used with or without `seed_df`.
    `centroids` is the model-sized broadcast literal trained once at
    corpus-build time and is part of the index identity (re-train →
    rebuild the indexes)."""
    from pandasvcf_spark.operators.dedup import (
        semantic_cell_index,
        semantic_dedup,
        semantic_dedup_incremental,
    )

    vec_kw = dict(id_col=id_col, vec_col=vec_col)

    def dedup_batch(batch_df: DataFrame) -> DataFrame:
        keep = semantic_dedup(
            batch_df, centroids, threshold=threshold, keep="min_id",
            max_cluster_size=max_cluster_size, **vec_kw,
        ).select(id_col)
        return batch_df.join(keep, on=id_col)

    def dedup_against(clean, cells, _base_text):
        surv = semantic_dedup_incremental(
            None, clean, centroids, threshold=threshold,
            max_cluster_size=max_cluster_size, base_cells=cells, **vec_kw,
        )
        return clean.join(surv.select(id_col), on=id_col)

    return _ingest_stream(
        stream_df, corpus_path, checkpoint_path, query_name, trigger,
        index_compact_every, seed_df, seed_cells,
        dedup_batch=dedup_batch,
        build_index=lambda df: semantic_cell_index(df, centroids, **vec_kw),
        dedup_against=dedup_against,
        partition_col="cell",
    )


def cdc_ingest_stream(
    stream_df: DataFrame,
    corpus_path: str,
    checkpoint_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_foreign_frac: float = 0.6,
    min_len: int = 32,
    avg_len: int = 64,
    max_len: int = 128,
    seed_df: DataFrame | None = None,
    seed_chunk_hashes: DataFrame | None = None,
    query_name: str = "cdc_ingest",
    trigger: dict | None = None,
    index_compact_every: int | None = 16,
):
    """Streaming CHUNK-LEVEL corpus ingest: append every micro-batch's
    CDC survivors to `corpus_path/batch_id=N` (the module docstring gives
    the per-batch protocol). This is the gate for partially-re-hosted
    content in a continuous crawl — a page embedding a long verbatim run
    of an already-accepted page inside fresh text passes whole-document
    MinHash but fails the shift-resistant foreign-chars threshold.
    Intra-batch: `cdc_dedup_documents` (min-id chunk ownership); against
    the corpus: `cdc_dedup_incremental`, where the base always owns
    shared content (arrival order); index: the survivors' distinct chunk
    hashes (`cdc_chunk_hash_index`, 8 bytes per distinct chunk).

    Scale shape: each batch pays its own chunking plus a membership join
    against 8-byte index rows and never reads the prior batches' text
    (except to re-index a pre-index layout). Duplicate hashes across
    concatenated files are harmless membership rows, so compaction is
    plain file consolidation. `seed_chunk_hashes` is the seed's persisted
    index; it is used with or without `seed_df`."""
    from pandasvcf_spark.operators.dedup import (
        cdc_chunk_hash_index,
        cdc_dedup_documents,
        cdc_dedup_incremental,
    )

    kw = dict(
        text_col=text_col, id_col=id_col, min_len=min_len, avg_len=avg_len,
        max_len=max_len,
    )
    return _ingest_stream(
        stream_df, corpus_path, checkpoint_path, query_name, trigger,
        index_compact_every, seed_df, seed_chunk_hashes,
        dedup_batch=lambda batch_df: cdc_dedup_documents(
            batch_df, max_foreign_frac=max_foreign_frac, **kw
        ),
        build_index=lambda df: cdc_chunk_hash_index(df, **kw),
        dedup_against=lambda clean, hashes, _base_text: cdc_dedup_incremental(
            hashes, clean, max_foreign_frac=max_foreign_frac, **kw
        ),
    )

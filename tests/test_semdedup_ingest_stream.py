"""Streaming semantic corpus ingest (streaming/ingest.
semdedup_ingest_stream): micro-batch behavior — intra-batch semantic
dedup, dedup against the seed corpus, dedup against earlier batches'
survivors — plus the crash-replay idempotence drill, mirroring the
MinHash ingest suite in embedding space."""

from __future__ import annotations

import os
import time

import numpy as np
from pyspark.sql import functions as F  # noqa: F401 (schema helpers)

DIM = 16
_rng = np.random.default_rng(23)
_DIRS = _rng.normal(0, 1, (4, DIM))


def _vec(g, eps=0.01):
    v = _DIRS[g] + _rng.normal(0, eps, DIM)
    return [float(x) for x in v]


def _write_parquet_batch(spark, dirpath, name, rows, mtime):
    df = spark.createDataFrame(
        rows, f"vec_id long, embedding array<float>"
    ).coalesce(1)
    p = os.path.join(dirpath, name)
    df.write.mode("overwrite").parquet(p)
    for f_ in os.listdir(p):
        os.utime(os.path.join(p, f_), (mtime, mtime))
    os.utime(p, (mtime, mtime))
    return p


def _drain(spark, in_dir, corpus, ckpt, seed, cents, **kw):
    from pandasvcf_spark.streaming.ingest import semdedup_ingest_stream

    stream = (
        spark.readStream.schema("vec_id long, embedding array<float>")
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{in_dir}/*")
    )
    q = semdedup_ingest_stream(
        stream,
        str(corpus),
        str(ckpt),
        cents,
        threshold=0.99,
        seed_df=seed,
        query_name="t_semdedup_ingest",
        **kw,
    )
    q.awaitTermination()


def _cents(spark, vecs):
    from pandasvcf_spark.operators.similarity import kmeans_fit

    d = spark.createDataFrame(
        vecs, "vec_id long, embedding array<float>"
    )
    cents, _ = kmeans_fit(d, k=3, max_iter=5)
    return cents


def test_semdedup_ingest_stream_end_to_end(spark, tmp_path):
    in_dir = tmp_path / "in"
    in_dir.mkdir()
    corpus = tmp_path / "corpus"
    ckpt = tmp_path / "ckpt"
    seed_rows = [(1, _vec(0)), (2, _vec(1))]
    all_vecs = seed_rows + [(9, _vec(2)), (8, _vec(3))]
    cents = _cents(spark, all_vecs)
    seed = spark.createDataFrame(
        seed_rows, "vec_id long, embedding array<float>"
    )
    now = time.time()
    # batch 0: a seed dup (group 0), a fresh doc (group 2), and an
    # intra-batch dup of it
    _write_parquet_batch(
        spark, str(in_dir), "b0",
        [(101, _vec(0)), (102, _vec(2)), (103, _vec(2))], now - 20,
    )
    # batch 1: a dup of batch 0's survivor, plus a genuinely new doc
    _write_parquet_batch(
        spark, str(in_dir), "b1",
        [(201, _vec(2)), (202, _vec(3))], now - 10,
    )
    _drain(spark, str(in_dir), corpus, ckpt, seed, cents)
    ids = sorted(
        r.vec_id
        for r in spark.read.parquet(str(corpus)).select("vec_id").collect()
    )
    # 101 dropped (seed has group 0); 102 survives; 103 dropped
    # (intra-batch dup); 201 dropped (dup of accepted 102); 202 survives
    assert ids == [102, 202], ids


def test_semdedup_ingest_stream_crash_replay_idempotent(spark, tmp_path):
    in_dir = tmp_path / "in"
    in_dir.mkdir()
    corpus = tmp_path / "corpus"
    ckpt = tmp_path / "ckpt"
    cents = _cents(spark, [(1, _vec(0)), (2, _vec(1)), (3, _vec(2))])
    now = time.time()
    _write_parquet_batch(
        spark, str(in_dir), "b0", [(11, _vec(0))], now - 20
    )
    _write_parquet_batch(
        spark, str(in_dir), "b1",
        [(21, _vec(0)), (22, _vec(1))], now - 10,
    )
    _drain(spark, str(in_dir), corpus, ckpt, None, cents)
    before = sorted(
        r.vec_id for r in spark.read.parquet(str(corpus)).collect()
    )
    assert before == [11, 22]  # 21 deduped against batch 0's survivor

    commits = sorted(
        (p for p in (ckpt / "commits").iterdir() if p.name.isdigit()),
        key=lambda p: int(p.name),
    )
    last = commits[-1]
    last.unlink()
    crc = last.parent / f".{last.name}.crc"
    if crc.exists():
        crc.unlink()

    _drain(spark, str(in_dir), corpus, ckpt, None, cents)
    after = sorted(
        r.vec_id for r in spark.read.parquet(str(corpus)).collect()
    )
    assert after == before, "replayed batch changed the corpus"


def test_semdedup_ingest_persists_cell_index_and_falls_back(
    spark, tmp_path
):
    """Round-14 (verdict task 2): every batch directory carries a
    committed `_index` (id, cell, vector — partitioned by cell) that
    (a) stays hidden from plain corpus reads, (b) matches
    semantic_cell_index of the survivors exactly, and (c) when a prior
    batch LACKS it (pre-index layout), the stream falls back to the
    full re-assignment path and still produces the same survivors."""
    import shutil

    from pandasvcf_spark.operators.dedup import semantic_cell_index
    from pandasvcf_spark.streaming.ingest import INDEX_DIR

    in_dir = tmp_path / "in"
    in_dir.mkdir()
    corpus = tmp_path / "corpus"
    ckpt = tmp_path / "ckpt"
    cents = _cents(spark, [(1, _vec(0)), (2, _vec(1)), (3, _vec(2))])
    now = time.time()
    _write_parquet_batch(
        spark, str(in_dir), "b0", [(11, _vec(0)), (12, _vec(1))], now - 20
    )
    _write_parquet_batch(
        spark, str(in_dir), "b1",
        [(21, _vec(0)), (22, _vec(2))], now - 10,
    )
    _drain(spark, str(in_dir), corpus, ckpt, None, cents)
    assert sorted(
        r.vec_id for r in spark.read.parquet(str(corpus)).collect()
    ) == [11, 12, 22]
    # (a)+(b): each batch dir has a committed index matching its
    # survivors' semantic_cell_index rows
    for k in (0, 1):
        bdir = corpus / f"batch_id={k}"
        idx_dir = bdir / INDEX_DIR
        assert (idx_dir / "_SUCCESS").exists(), f"batch {k} lacks index"
        got = {
            (r.vec_id, r.cell)
            for r in spark.read.parquet(str(idx_dir)).collect()
        }
        want = {
            (r.vec_id, r.cell)
            for r in semantic_cell_index(
                spark.read.parquet(str(bdir)), cents
            ).collect()
        }
        assert got == want, f"batch {k} index mismatch"
        # partitioned by cell: the index dir holds cell=K subdirs
        assert any(
            p.name.startswith("cell=") for p in idx_dir.iterdir()
        )
    # (c): strip batch 0's index (pre-index layout) and drain a third
    # batch — the fallback path must keep producing exact survivors
    shutil.rmtree(corpus / "batch_id=0" / INDEX_DIR)
    _write_parquet_batch(
        spark, str(in_dir), "b2",
        [(31, _vec(1)), (32, _vec(2), ), (33, [float(x) for x in -_DIRS[0]])],
        now - 5,
    )
    _drain(spark, str(in_dir), corpus, ckpt, None, cents)
    ids = sorted(
        r.vec_id for r in spark.read.parquet(str(corpus)).collect()
    )
    # 31 dups seed-less base 12 (group 1), 32 dups 22 (group 2),
    # 33 is anti-parallel to group 0 — survives
    assert ids == [11, 12, 22, 33], ids


def test_round15_semantic_index_checkpoint_compaction(spark, tmp_path):
    """Round-15 (verdict task 2, semantic twin): with
    index_compact_every=2 the per-batch cell-index dirs roll into one
    committed `_index_ckpt_N` that KEEPS the by-cell partitioning
    (cell=K subdirs — the touched-cell prune still prunes), a later
    batch dedups against an early batch's survivor THROUGH the
    checkpoint, and survivors equal the compaction-off run."""
    import os as _os

    from pandasvcf_spark.streaming.ingest import (
        _latest_index_ckpt,
        _list_prior_batch_dirs,
        _prior_index_dirs,
    )

    in_dir = tmp_path / "in"
    in_dir.mkdir()
    all_vecs = [(1, _vec(0)), (2, _vec(1)), (3, _vec(2)), (4, _vec(3))]
    cents = _cents(spark, all_vecs)
    now = time.time()
    batches = {
        0: [(11, _vec(0))],
        1: [(21, _vec(1))],
        2: [(31, _vec(2))],
        3: [(41, _vec(3))],
        # 51 dups batch 0's survivor — must drop VIA the checkpoint
        4: [(51, _vec(0, eps=0.001)), (52, _vec(3, eps=0.3))],
    }
    for k, rows in batches.items():
        _write_parquet_batch(spark, str(in_dir), f"b{k}", rows, now - 60 + k)

    corpus = tmp_path / "corpus"
    ckpt = tmp_path / "ckpt"
    _drain(spark, str(in_dir), corpus, ckpt, None, cents,
           index_compact_every=2)
    ids = sorted(
        r.vec_id
        for r in spark.read.parquet(str(corpus)).select("vec_id").collect()
    )
    assert 51 not in ids and {11, 21, 31, 41}.issubset(set(ids)), ids

    got_ckpt = _latest_index_ckpt(spark, str(corpus))
    assert got_ckpt is not None
    ck_path, upto = got_ckpt
    assert upto >= 2
    # by-cell layout preserved in the roll-up
    cells = [
        n for n in _os.listdir(ck_path.removeprefix("file:"))
        if n.startswith("cell=")
    ]
    assert cells, "checkpoint lost the cell partitioning"
    # roll-up rows == union of the covered per-batch index rows
    want = {
        (r.vec_id, r.cell)
        for k in range(upto + 1)
        for r in spark.read.parquet(
            str(corpus / f"batch_id={k}" / "_index")
        ).collect()
    }
    got = {
        (r.vec_id, r.cell)
        for r in spark.read.parquet(ck_path).collect()
    }
    assert got == want
    # read set = [ckpt] + only dirs since it
    prior = _list_prior_batch_dirs(spark, str(corpus), 5)
    read_set = _prior_index_dirs(spark, str(corpus), prior)
    assert read_set[0] == ck_path and len(read_set) == 1 + (4 - upto)

    # compaction-off twin: identical survivors
    corpus2 = tmp_path / "corpus_off"
    _drain(spark, str(in_dir), corpus2, tmp_path / "ckpt_off", None,
           cents, index_compact_every=None)
    ids2 = sorted(
        r.vec_id
        for r in spark.read.parquet(str(corpus2)).select("vec_id").collect()
    )
    assert ids2 == ids



_SEED_CENTS = [_DIRS[g].tolist() for g in range(4)]


def test_seed_cells_route_matches_seed_df(spark, tmp_path):
    """A precomputed seed index (`seed_cells`) gives the survivors of
    the assign-at-stream-start route, with or without `seed_df`: the
    incremental operator reads only the index, so `seed_cells` alone
    must dedup against the seed too. Batch: 101 repeats seed vector 1,
    102 is fresh."""
    from pandasvcf_spark.operators.dedup import semantic_cell_index

    seed = spark.createDataFrame(
        [(1, _vec(0)), (2, _vec(1))], "vec_id long, embedding array<float>"
    )
    cells = semantic_cell_index(seed, _SEED_CENTS)
    in_dir = tmp_path / "in"
    in_dir.mkdir()
    _write_parquet_batch(
        spark, str(in_dir), "b0", [(101, _vec(0)), (102, _vec(2))],
        time.time() - 20,
    )
    routes = {
        "df": (seed, None),
        "cells": (seed, cells),
        "cells_only": (None, cells),
    }
    got = {}
    for name, (seed_df, seed_cells) in routes.items():
        corpus = tmp_path / f"corpus_{name}"
        _drain(spark, str(in_dir), corpus, tmp_path / f"ckpt_{name}",
               seed_df, _SEED_CENTS, seed_cells=seed_cells)
        got[name] = sorted(
            r.vec_id for r in spark.read.parquet(str(corpus)).collect()
        )
    assert got["cells"] == got["cells_only"] == got["df"] == [102], got


def test_all_duplicate_batch_does_not_stop_the_stream(spark, tmp_path):
    """A batch whose survivors are all duplicates writes a `cell`-
    partitioned `_index` with no data files. Later batches read that root
    as zero index rows: neither the next batch's index read nor a roll-up
    that starts with that root may fail schema inference
    (UNABLE_TO_INFER_SCHEMA), which would stop the stream."""
    from pandasvcf_spark.streaming.ingest import _latest_index_ckpt

    def run(name, batches, seed_rows=None, **kw):
        in_dir = tmp_path / f"in_{name}"
        in_dir.mkdir()
        now = time.time()
        for k, rows in enumerate(batches):
            _write_parquet_batch(
                spark, str(in_dir), f"b{k}", rows, now - 60 + k
            )
        seed = None if seed_rows is None else spark.createDataFrame(
            seed_rows, "vec_id long, embedding array<float>"
        )
        corpus = tmp_path / f"corpus_{name}"
        _drain(spark, str(in_dir), corpus, tmp_path / f"ckpt_{name}",
               seed, _SEED_CENTS, **kw)
        ids = sorted(
            r.vec_id for r in spark.read.parquet(str(corpus)).collect()
        )
        return ids, corpus

    # 11 repeats batch 0's 10: batch 1 has no survivors
    ids, _ = run("next_batch", [[(10, _vec(0))], [(11, _vec(0))],
                                [(12, _vec(1))]])
    assert ids == [10, 12], ids
    # 21 repeats the seed, so the first root of batch 2's roll-up is empty
    ids, corpus = run(
        "rollup", [[(21, _vec(2))], [(22, _vec(3))], [(23, _vec(0))]],
        seed_rows=[(1, _vec(2))], index_compact_every=1,
    )
    assert ids == [22, 23], ids
    assert _latest_index_ckpt(spark, str(corpus)) is not None

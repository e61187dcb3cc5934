"""Streaming chunk-level corpus ingest (streaming/ingest.cdc_ingest_stream)
— the CDC tier carried to micro-batches: intra-batch gate, gate against
the seed corpus's persisted chunk-hash index, gate against earlier
batches' survivors (through their `_index` relations, never their text),
the crash-replay drill, and the legacy no-index fallback.

Texts are entropy-rich seeded-random words: CDC needs content-defined
boundaries to exist (a periodic string degrades — correctly — to
position-based force cuts, which are NOT shift-resistant; see
test_cdc_dedup.py).
"""

from __future__ import annotations

import json
import os
import random
import time

import pytest


def rand_text(seed, n):
    rng = random.Random(seed)
    words = [
        "".join(rng.choice("abcdefghijklmnopqrstuvwxyz")
                for _ in range(rng.randint(3, 8)))
        for _ in range(250)
    ]
    return " ".join(words)[:n]


SEED_DOC = rand_text(31, 700)       # in the seed corpus
FRESH_A = rand_text(32, 700)        # batch-0 original
FRESH_B = rand_text(33, 520)        # batch-1 original
# partial re-hosts: ~100 own chars + a long verbatim run of the victim
# (boundary re-sync eats the junction chunk plus one, so the run must
# comfortably out-measure the threshold: measured fracs 0.66 / 0.71 / 0.78
# against the 0.4 gate, originals at 0.0)
REHOST_SEED = rand_text(34, 100) + " " + SEED_DOC[:600]
REHOST_A = rand_text(35, 100) + " " + FRESH_A[:600]


def _write_batch_file(dirpath, name, rows, mtime):
    p = os.path.join(dirpath, name)
    with open(p, "w") as fh:
        for doc_id, text in rows:
            fh.write(json.dumps({"doc_id": doc_id, "text": text}) + "\n")
    os.utime(p, (mtime, mtime))
    return p


def _drain(spark, in_dir, corpus, ckpt, seed, **kw):
    from pandasvcf_spark.sources.jsonl import read_jsonl_stream
    from pandasvcf_spark.streaming.ingest import cdc_ingest_stream

    stream = read_jsonl_stream(
        spark, in_dir, bad_records="drop", max_files_per_trigger=1
    )
    q = cdc_ingest_stream(
        stream,
        str(corpus),
        str(ckpt),
        id_col="doc_id",
        text_col="text",
        max_foreign_frac=0.4,
        seed_df=seed,
        query_name="t_cdc_ingest",
        **kw,
    )
    q.awaitTermination()


def test_cdc_ingest_stream_end_to_end(spark, tmp_path):
    """Batch 0: a re-host of the SEED drops, an original survives, and an
    intra-batch re-host of a lower-id batch doc drops. Batch 1: a
    re-host of batch 0's survivor drops THROUGH the persisted index
    (cross-batch), an original survives."""
    in_dir = tmp_path / "in"
    in_dir.mkdir()
    corpus = tmp_path / "corpus"
    ckpt = tmp_path / "ckpt"
    seed = spark.createDataFrame(
        [(1, SEED_DOC)], "doc_id long, text string"
    )
    now = time.time()
    intra_rehost = rand_text(36, 100) + " " + FRESH_A[50:650]
    _write_batch_file(
        str(in_dir), "b0.jsonl",
        [(11, FRESH_A), (12, REHOST_SEED), (13, intra_rehost)],
        now - 20,
    )
    _write_batch_file(
        str(in_dir), "b1.jsonl",
        [(21, REHOST_A), (22, FRESH_B)],
        now - 10,
    )
    _drain(spark, str(in_dir), corpus, ckpt, seed=seed)
    got = sorted(r.doc_id for r in spark.read.parquet(str(corpus)).collect())
    assert got == [11, 22]
    # per-batch index relations exist and carry only the survivors' hashes
    from pandasvcf_spark.operators.dedup import cdc_chunk_hash_index

    idx0 = spark.read.parquet(str(corpus / "batch_id=0" / "_index"))
    expect0 = cdc_chunk_hash_index(
        spark.createDataFrame([(11, FRESH_A)], "doc_id long, text string")
    )
    assert sorted(r.chunk_hash for r in idx0.collect()) == sorted(
        r.chunk_hash for r in expect0.collect()
    )


def test_cdc_ingest_stream_crash_replay_idempotent(spark, tmp_path):
    """Delete the checkpoint's last commit marker and re-drain: the
    replayed batch overwrites its own directory and reads only earlier
    batches, reproducing the same corpus."""
    in_dir = tmp_path / "in"
    in_dir.mkdir()
    corpus = tmp_path / "corpus"
    ckpt = tmp_path / "ckpt"
    now = time.time()
    _write_batch_file(str(in_dir), "b0.jsonl", [(11, FRESH_A)], now - 20)
    _write_batch_file(
        str(in_dir), "b1.jsonl", [(21, REHOST_A), (22, FRESH_B)], now - 10
    )
    _drain(spark, str(in_dir), corpus, ckpt, seed=None)
    before = sorted(
        r.doc_id for r in spark.read.parquet(str(corpus)).collect()
    )
    assert before == [11, 22]  # 21 gated against batch 0's survivor

    commits = sorted(
        (p for p in (ckpt / "commits").iterdir() if p.name.isdigit()),
        key=lambda p: int(p.name),
    )
    last = commits[-1]
    last.unlink()
    crc = last.parent / f".{last.name}.crc"
    if crc.exists():
        crc.unlink()

    _drain(spark, str(in_dir), corpus, ckpt, seed=None)
    after = sorted(
        r.doc_id for r in spark.read.parquet(str(corpus)).collect()
    )
    assert after == before, "replayed batch changed the corpus"


def test_cdc_ingest_legacy_no_index_fallback(spark, tmp_path):
    """Remove a prior batch's _index dir (a corpus written by an older
    layout): the stream falls back to re-chunking the accumulated text —
    lossless, same survivor verdicts."""
    import shutil

    in_dir = tmp_path / "in"
    in_dir.mkdir()
    corpus = tmp_path / "corpus"
    ckpt = tmp_path / "ckpt"
    now = time.time()
    _write_batch_file(str(in_dir), "b0.jsonl", [(11, FRESH_A)], now - 20)
    _drain(spark, str(in_dir), corpus, ckpt, seed=None)
    shutil.rmtree(str(corpus / "batch_id=0" / "_index"))

    _write_batch_file(
        str(in_dir), "b1.jsonl", [(21, REHOST_A), (22, FRESH_B)], now - 10
    )
    _drain(spark, str(in_dir), corpus, ckpt, seed=None)
    got = sorted(r.doc_id for r in spark.read.parquet(str(corpus)).collect())
    assert got == [11, 22]


def test_cdc_stream_equals_batch(spark, tmp_path):
    """Stream ≡ batch: draining the two micro-batches produces exactly
    the survivor set of the sequential batch composition
    (cdc_dedup_documents per batch, then cdc_dedup_incremental against
    the accumulated index)."""
    from pandasvcf_spark.operators.dedup import (
        cdc_chunk_hash_index,
        cdc_dedup_documents,
        cdc_dedup_incremental,
    )

    seed = spark.createDataFrame(
        [(1, SEED_DOC)], "doc_id long, text string"
    )
    b0 = spark.createDataFrame(
        [(11, FRESH_A), (12, REHOST_SEED)], "doc_id long, text string"
    )
    b1 = spark.createDataFrame(
        [(21, REHOST_A), (22, FRESH_B)], "doc_id long, text string"
    )
    idx = cdc_chunk_hash_index(seed)
    s0 = cdc_dedup_incremental(
        idx, cdc_dedup_documents(b0, max_foreign_frac=0.4),
        max_foreign_frac=0.4,
    )
    idx = idx.unionByName(cdc_chunk_hash_index(s0))
    s1 = cdc_dedup_incremental(
        idx, cdc_dedup_documents(b1, max_foreign_frac=0.4),
        max_foreign_frac=0.4,
    )
    batch_ids = sorted(
        [r.doc_id for r in s0.collect()] + [r.doc_id for r in s1.collect()]
    )

    in_dir = tmp_path / "in"
    in_dir.mkdir()
    now = time.time()
    _write_batch_file(
        str(in_dir), "b0.jsonl", [(11, FRESH_A), (12, REHOST_SEED)],
        now - 20,
    )
    _write_batch_file(
        str(in_dir), "b1.jsonl", [(21, REHOST_A), (22, FRESH_B)], now - 10
    )
    corpus = tmp_path / "corpus"
    _drain(spark, str(in_dir), corpus, tmp_path / "ckpt", seed=seed)
    stream_ids = sorted(
        r.doc_id for r in spark.read.parquet(str(corpus)).collect()
    )
    assert stream_ids == batch_ids == [11, 22]


def test_incremental_guards_and_passthrough(spark):
    from pandasvcf_spark.operators.dedup import (
        cdc_chunk_hash_index,
        cdc_dedup_incremental,
    )

    base = spark.createDataFrame(
        [(1, SEED_DOC)], "doc_id long, text string"
    )
    idx = cdc_chunk_hash_index(base)
    with pytest.raises(ValueError, match="max_foreign_frac"):
        cdc_dedup_incremental(idx, base, max_foreign_frac=1.5)
    # chunkless rows (empty/NULL text) pass through
    d = spark.createDataFrame(
        [(5, ""), (6, None), (7, FRESH_B)], "doc_id long, text string"
    )
    got = sorted(
        r.doc_id
        for r in cdc_dedup_incremental(idx, d, max_foreign_frac=0.4).collect()
    )
    assert got == [5, 6, 7]


def test_cdc_index_checkpoint_compaction(spark, tmp_path):
    """With index_compact_every=2, five micro-batches roll their
    per-batch `_index` dirs into ONE committed `_index_ckpt_N`; a later
    batch gates a re-host of an EARLY batch's survivor THROUGH the
    checkpoint; survivors equal a compaction-off run; the crash-replay
    drill stays idempotent; and an uncommitted checkpoint dir is
    invisible to readers and swept by the next roll-up."""
    from pandasvcf_spark.streaming.ingest import (
        INDEX_DIR,
        _latest_index_ckpt,
        _list_prior_batch_dirs,
        _prior_index_dirs,
    )

    in_dir = tmp_path / "in"
    in_dir.mkdir()
    now = time.time()
    docs = {k: [(10 * k + 11, rand_text(40 + k, 700))] for k in range(4)}
    # batch 4: a re-host of batch 0's survivor — gated VIA the ckpt —
    # plus a fresh doc
    docs[4] = [(51, rand_text(35, 100) + " " + docs[0][0][1][:600]),
               (52, FRESH_B)]
    for k, rows in docs.items():
        _write_batch_file(str(in_dir), f"b{k}.jsonl", rows, now - 60 + k)

    corpus = tmp_path / "corpus"
    ckpt = tmp_path / "ckpt"
    stale = corpus / "_index_ckpt_1"
    stale.mkdir(parents=True)
    (stale / "junk").write_text("not parquet")
    _drain(spark, str(in_dir), corpus, ckpt, seed=None,
           index_compact_every=2)
    ids = sorted(r.doc_id for r in spark.read.parquet(str(corpus)).collect())
    assert ids == [11, 21, 31, 41, 52], ids  # 51 gated via the ckpt

    got_ckpt = _latest_index_ckpt(spark, str(corpus))
    assert got_ckpt is not None
    ck_path, upto = got_ckpt
    assert upto >= 2 and (corpus / f"_index_ckpt_{upto}" / "_SUCCESS").exists()
    assert not stale.exists(), "uncommitted debris not swept"

    # read set = [ckpt] + only the per-batch indexes since it
    prior = _list_prior_batch_dirs(spark, str(corpus), 5)
    read_set = _prior_index_dirs(spark, str(corpus), prior)
    assert read_set[0] == ck_path
    assert all(p.endswith(INDEX_DIR) for p in read_set[1:])
    assert len(read_set) == 1 + (4 - upto)
    # the roll-up holds exactly the union of the covered batch indexes
    covered = [
        str(corpus / f"batch_id={k}" / INDEX_DIR) for k in range(upto + 1)
    ]
    want = {r.chunk_hash for r in spark.read.parquet(*covered).collect()}
    got = {r.chunk_hash for r in spark.read.parquet(ck_path).collect()}
    assert got == want

    # compaction-off twin: identical survivors
    corpus2 = tmp_path / "corpus_off"
    _drain(spark, str(in_dir), corpus2, tmp_path / "ckpt_off", seed=None,
           index_compact_every=None)
    ids2 = sorted(
        r.doc_id for r in spark.read.parquet(str(corpus2)).collect()
    )
    assert ids2 == ids
    assert _latest_index_ckpt(spark, str(corpus2)) is None

    # crash-replay drill with compaction on: corpus unchanged
    commits = sorted(
        (p for p in (ckpt / "commits").iterdir() if p.name.isdigit()),
        key=lambda p: int(p.name),
    )
    last = commits[-1]
    last.unlink()
    crc = last.parent / f".{last.name}.crc"
    if crc.exists():
        crc.unlink()
    _drain(spark, str(in_dir), corpus, ckpt, seed=None,
           index_compact_every=2)
    after = sorted(
        r.doc_id for r in spark.read.parquet(str(corpus)).collect()
    )
    assert after == ids, "replayed batch changed the corpus"


def test_cdc_seed_chunk_hashes_route_matches_seed_df(spark, tmp_path):
    """A precomputed seed index (`seed_chunk_hashes`, no `seed_df`)
    gives the survivors of the chunk-at-stream-start route."""
    from pandasvcf_spark.operators.dedup import cdc_chunk_hash_index

    seed = spark.createDataFrame(
        [(1, SEED_DOC)], "doc_id long, text string"
    )
    in_dir = tmp_path / "in"
    in_dir.mkdir()
    now = time.time()
    _write_batch_file(
        str(in_dir), "b0.jsonl", [(11, FRESH_A), (12, REHOST_SEED)],
        now - 20,
    )
    _write_batch_file(
        str(in_dir), "b1.jsonl", [(21, REHOST_A), (22, FRESH_B)], now - 10
    )
    routes = {
        "df": {"seed": seed},
        "hashes": {"seed": None,
                   "seed_chunk_hashes": cdc_chunk_hash_index(seed)},
    }
    got = {}
    for name, kw in routes.items():
        corpus = tmp_path / f"corpus_{name}"
        _drain(spark, str(in_dir), corpus, tmp_path / f"ckpt_{name}", **kw)
        got[name] = sorted(
            r.doc_id for r in spark.read.parquet(str(corpus)).collect()
        )
    assert got["hashes"] == got["df"] == [11, 22], got

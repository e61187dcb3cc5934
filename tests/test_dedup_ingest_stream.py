"""Streaming corpus ingest with incremental near-dedup
(streaming/ingest.dedup_ingest_stream): end-to-end micro-batch behavior —
intra-batch dedup, dedup against the seed corpus, dedup against earlier
batches' survivors — plus the crash-replay drill for the batch_id-layout
idempotence claim."""

from __future__ import annotations

import json
import os
import time

import pytest
from pyspark.sql import functions as F

DOC = (
    "the quick brown fox jumps over the lazy dog while seventeen other "
    "animals watch from the quiet hillside"
)
OTHER = (
    "completely different material about distributed query planning and "
    "shuffle topology in large analytical engines"
)
FRESH = (
    "a third unrelated passage describing tidal patterns along rocky "
    "northern coastlines during early spring"
)


def _write_batch_file(dirpath, name, rows, mtime):
    p = os.path.join(dirpath, name)
    with open(p, "w") as fh:
        for doc_id, text in rows:
            fh.write(
                json.dumps(
                    {
                        "doc_id": doc_id,
                        "text": text,
                        "lang": "en",
                        "source": "crawl",
                        "n_chars": len(text),
                    }
                )
                + "\n"
            )
    os.utime(p, (mtime, mtime))
    return p


def _drain(spark, in_dir, corpus, ckpt, seed, **kw):
    from pandasvcf_spark.functions.text import word_ngrams_expr
    from pandasvcf_spark.sources.jsonl import read_jsonl_stream
    from pandasvcf_spark.streaming.ingest import dedup_ingest_stream

    stream = read_jsonl_stream(
        spark, in_dir, bad_records="drop", max_files_per_trigger=1
    )
    q = dedup_ingest_stream(
        stream,
        str(corpus),
        str(ckpt),
        "doc_id",
        lambda: word_ngrams_expr("text", 3),
        seed_df=seed,
        min_jaccard=0.8,
        query_name="t_dedup_ingest",
        **kw,
    )
    q.awaitTermination()


def test_dedup_ingest_stream_end_to_end(spark, tmp_path):
    in_dir = tmp_path / "in"
    in_dir.mkdir()
    corpus = tmp_path / "corpus"
    ckpt = tmp_path / "ckpt"
    seed = spark.createDataFrame(
        [(1, DOC), (2, OTHER)], "doc_id long, text string"
    ).select(
        "doc_id",
        "text",
        F.lit("en").alias("lang"),
        F.lit("seed").alias("source"),
        F.length("text").cast("long").alias("n_chars"),
    )
    now = time.time()
    # batch 0: a seed dup, a fresh doc, and an intra-batch dup of it
    _write_batch_file(
        str(in_dir),
        "b0.jsonl",
        [(101, DOC + " "), (102, FRESH), (103, FRESH + " ")],
        now - 20,
    )
    # batch 1: a dup of batch 0's survivor, plus a genuinely new doc
    _write_batch_file(
        str(in_dir),
        "b1.jsonl",
        [(201, FRESH + "  "), (202, OTHER.replace("tidal", "thermal")
          .replace("completely different material", "some wholly new notes"))],
        now - 10,
    )
    _drain(spark, str(in_dir), corpus, ckpt, seed)

    got = spark.read.parquet(str(corpus))
    ids = sorted(r.doc_id for r in got.select("doc_id").collect())
    # 101 dropped (dup of seed 1); 102 survives; 103 dropped (intra-batch
    # dup of 102); 201 dropped (dup of accepted 102); 202 survives
    assert ids == [102, 202], ids


def test_dedup_ingest_stream_crash_replay_idempotent(spark, tmp_path):
    """Delete the checkpoint's last commit marker (crash between sink
    write and commit) and re-drain: the replayed batch overwrites its own
    batch_id directory and re-reads only earlier batches, so the corpus
    is unchanged — no duplicates, no missing rows."""
    in_dir = tmp_path / "in"
    in_dir.mkdir()
    corpus = tmp_path / "corpus"
    ckpt = tmp_path / "ckpt"
    now = time.time()
    _write_batch_file(str(in_dir), "b0.jsonl", [(11, DOC)], now - 20)
    _write_batch_file(
        str(in_dir), "b1.jsonl", [(21, DOC + " "), (22, OTHER)], now - 10
    )
    _drain(spark, str(in_dir), corpus, ckpt, seed=None)
    before = sorted(
        r.doc_id for r in spark.read.parquet(str(corpus)).collect()
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

    _drain(spark, str(in_dir), corpus, ckpt, seed=None)
    after = sorted(
        r.doc_id for r in spark.read.parquet(str(corpus)).collect()
    )
    assert after == before, "replayed batch changed the corpus"


def test_dedup_ingest_stream_scheme_prefixed_corpus(spark, tmp_path):
    """Prior-batch discovery goes through the Hadoop FileSystem API: a
    scheme-prefixed corpus URI (file://...) must list and dedup exactly
    like a bare local path — the object-store deployment shape."""
    in_dir = tmp_path / "in"
    in_dir.mkdir()
    corpus_uri = f"file://{tmp_path}/corpus"
    ckpt = tmp_path / "ckpt"
    now = time.time()
    _write_batch_file(str(in_dir), "b0.jsonl", [(11, DOC)], now - 20)
    _write_batch_file(
        str(in_dir), "b1.jsonl", [(21, DOC + " "), (22, OTHER)], now - 10
    )
    _drain(spark, str(in_dir), corpus_uri, ckpt, seed=None)
    got = sorted(r.doc_id for r in spark.read.parquet(corpus_uri).collect())
    assert got == [11, 22]  # 21 deduped against batch 0 THROUGH the URI


def test_dedup_ingest_persists_band_index_and_falls_back(spark, tmp_path):
    """Round-14 (verdict task 2): every batch directory carries a
    committed `_index` holding the survivors' minhash_band_keys rows —
    hidden from plain corpus reads, exactly matching a fresh
    minhash_band_keys run over the written survivors — and when a
    prior batch lacks it (pre-index layout) the stream falls back to
    the legacy full re-hash path with identical survivor output."""
    import shutil

    from pandasvcf_spark.functions.text import word_ngrams_expr
    from pandasvcf_spark.operators.dedup import minhash_band_keys
    from pandasvcf_spark.streaming.ingest import INDEX_DIR

    in_dir = tmp_path / "in"
    in_dir.mkdir()
    corpus = tmp_path / "corpus"
    ckpt = tmp_path / "ckpt"
    now = time.time()
    _write_batch_file(str(in_dir), "b0.jsonl", [(11, DOC)], now - 20)
    _write_batch_file(
        str(in_dir), "b1.jsonl", [(21, DOC + " "), (22, OTHER)], now - 10
    )
    _drain(spark, str(in_dir), corpus, ckpt, seed=None)
    assert sorted(
        r.doc_id for r in spark.read.parquet(str(corpus)).collect()
    ) == [11, 22]
    for k in (0, 1):
        bdir = corpus / f"batch_id={k}"
        idx_dir = bdir / INDEX_DIR
        assert (idx_dir / "_SUCCESS").exists(), f"batch {k} lacks index"
        got = {
            (r.id, r.band, r.key)
            for r in spark.read.parquet(str(idx_dir)).collect()
        }
        want = {
            (r.id, r.band, r.key)
            for r in minhash_band_keys(
                spark.read.parquet(str(bdir)),
                "doc_id",
                word_ngrams_expr("text", 3),
            ).collect()
        }
        assert got == want, f"batch {k} index mismatch"
    # legacy-layout fallback: strip batch 0's index and drain another
    # batch with a dup of batch 0's survivor — it must still drop
    shutil.rmtree(corpus / "batch_id=0" / INDEX_DIR)
    _write_batch_file(
        str(in_dir), "b2.jsonl", [(31, DOC + "  "), (32, FRESH)], now - 5
    )
    _drain(spark, str(in_dir), corpus, ckpt, seed=None)
    ids = sorted(
        r.doc_id for r in spark.read.parquet(str(corpus)).collect()
    )
    assert ids == [11, 22, 32], ids


def test_list_prior_batch_dirs_fs_api(spark, tmp_path):
    from pandasvcf_spark.streaming.ingest import _list_prior_batch_dirs

    # missing root -> empty, not an error
    assert _list_prior_batch_dirs(spark, str(tmp_path / "nope"), 5) == []
    root = tmp_path / "c"
    for k in (0, 1, 3):
        (root / f"batch_id={k}").mkdir(parents=True)
    (root / "not_a_batch").mkdir()
    (root / "batch_id=xyz").mkdir()
    got = sorted(_list_prior_batch_dirs(spark, str(root), 3))
    assert [p.rsplit("/", 1)[-1] for p in got] == ["batch_id=0", "batch_id=1"]
    # strictly smaller: the in-flight batch's own directory is excluded
    got2 = _list_prior_batch_dirs(spark, f"file://{root}", 1)
    assert [p.rsplit("/", 1)[-1] for p in got2] == ["batch_id=0"]
    assert got2[0].startswith("file:")


def test_round15_index_checkpoint_compaction(spark, tmp_path):
    """Round-15 (verdict task 2): with index_compact_every=2, five
    micro-batches roll their per-batch `_index` dirs into ONE committed
    `_index_ckpt_N`; a later batch deduplicates against an EARLY
    batch's survivor THROUGH the checkpoint (its per-batch index is no
    longer in the read set); survivor output is byte-identical to a
    compaction-off run; the crash-replay drill stays idempotent; and an
    uncommitted (crashed) checkpoint dir is invisible to readers and
    cleaned up by the next roll-up."""
    from pandasvcf_spark.streaming.ingest import (
        INDEX_DIR,
        _latest_index_ckpt,
        _list_prior_batch_dirs,
        _prior_index_dirs,
    )

    in_dir = tmp_path / "in"
    in_dir.mkdir()
    now = time.time()
    docs = {
        0: [(11, DOC)],
        1: [(21, OTHER)],
        2: [(31, FRESH)],
        3: [(41, DOC.replace("fox", "wolf").replace("dog", "cat")
             .replace("hillside", "meadow"))],
        # batch 4: a dup of batch 0's survivor — found VIA the ckpt —
        # plus a fresh doc
        4: [(51, DOC + " "), (52, OTHER.replace("tidal", "thermal")
             .replace("completely different", "entirely novel"))],
    }
    for k, rows in docs.items():
        _write_batch_file(str(in_dir), f"b{k}.jsonl", rows, now - 60 + k)

    corpus = tmp_path / "corpus"
    ckpt = tmp_path / "ckpt"
    # crashed-compaction debris: an UNCOMMITTED ckpt dir must be
    # ignored by readers and swept by the next roll-up
    stale = corpus / "_index_ckpt_1"
    stale.mkdir(parents=True)
    (stale / "junk").write_text("not parquet")
    _drain(spark, str(in_dir), corpus, ckpt, seed=None,
           index_compact_every=2)
    ids = sorted(
        r.doc_id for r in spark.read.parquet(str(corpus)).collect()
    )
    assert ids == [11, 21, 31, 41, 52], ids  # 51 dropped via the ckpt

    got_ckpt = _latest_index_ckpt(spark, str(corpus))
    assert got_ckpt is not None
    ck_path, upto = got_ckpt
    assert upto >= 2 and (tmp_path / "corpus" /
                          f"_index_ckpt_{upto}" / "_SUCCESS").exists()
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
    want = {
        (r.id, r.band, r.key)
        for r in spark.read.parquet(*covered).collect()
    }
    got = {
        (r.id, r.band, r.key)
        for r in spark.read.parquet(ck_path).collect()
    }
    assert got == want

    # compaction-off twin: identical survivors
    corpus2 = tmp_path / "corpus_off"
    ckpt2 = tmp_path / "ckpt_off"
    _drain(spark, str(in_dir), corpus2, ckpt2, seed=None,
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


def _seed_and_batches(spark, in_dir):
    seed = spark.createDataFrame(
        [(1, DOC), (2, OTHER)], "doc_id long, text string"
    ).select(
        "doc_id",
        "text",
        F.lit("en").alias("lang"),
        F.lit("seed").alias("source"),
        F.length("text").cast("long").alias("n_chars"),
    )
    now = time.time()
    _write_batch_file(
        str(in_dir), "b0.jsonl", [(101, DOC + " "), (102, FRESH)], now - 20
    )
    _write_batch_file(
        str(in_dir), "b1.jsonl", [(201, OTHER + " "), (202, FRESH + " ")],
        now - 10,
    )
    return seed


def test_seed_band_keys_route_matches_seed_df(spark, tmp_path):
    """A precomputed seed index (`seed_band_keys`, passed beside the
    seed texts the verification reads) gives the survivors of the
    index-at-stream-start route."""
    from pandasvcf_spark.functions.text import word_ngrams_expr
    from pandasvcf_spark.operators.dedup import minhash_band_keys

    in_dir = tmp_path / "in"
    in_dir.mkdir()
    seed = _seed_and_batches(spark, in_dir)
    keys = minhash_band_keys(seed, "doc_id", word_ngrams_expr("text", 3))
    routes = {}
    for name, kw in (("df", {}), ("keys", {"seed_band_keys": keys})):
        corpus = tmp_path / f"corpus_{name}"
        _drain(spark, str(in_dir), corpus, tmp_path / f"ckpt_{name}", seed,
               **kw)
        routes[name] = sorted(
            r.doc_id for r in spark.read.parquet(str(corpus)).collect()
        )
    # 101 and 201 dup seed docs; 202 dups batch 0's survivor 102
    assert routes["keys"] == routes["df"] == [102], routes


def test_seed_band_keys_without_seed_df_raises(spark, tmp_path):
    """Jaccard verification reads the seed texts, so a seed index passed
    without `seed_df` is refused instead of silently ignored."""
    from pandasvcf_spark.functions.text import word_ngrams_expr
    from pandasvcf_spark.operators.dedup import minhash_band_keys

    in_dir = tmp_path / "in"
    in_dir.mkdir()
    seed = _seed_and_batches(spark, in_dir)
    keys = minhash_band_keys(seed, "doc_id", word_ngrams_expr("text", 3))
    with pytest.raises(ValueError, match="seed_df"):
        _drain(spark, str(in_dir), tmp_path / "corpus", tmp_path / "ckpt",
               None, seed_band_keys=keys)

"""Splittable BGZF source (sources/bgzf.py) — the single-file .gz scale
path. Equality contract: read_bgzf_lines must be row-equal to
spark.read.text on the same bytes, for any block/chunk geometry (lines
span blocks; blocks span chunks)."""

import gzip
import os

import pytest
from pyspark.sql import functions as F

from pandasvcf_spark.sources.bgzf import (
    bgzf_block_offsets,
    is_bgzf,
    read_bgzf_lines,
    read_bgzf_virtual_ranges,
    write_bgzf,
)
from pandasvcf_spark.sources.vcf import read_vcf

from conftest import DATA_DIR

GOLDEN = os.path.join(DATA_DIR, "golden.vcf")
GOLDEN_GZ = os.path.join(DATA_DIR, "golden.vcf.gz")
KG = (
    "/root/reference/test_data/"
    "ALL.chr22.phase3_shapeit2_mvncall_integrated_v4.20130502.genotypes_10k.vcf.gz"
)


def _line_digest(df):
    return tuple(
        df.agg(
            F.count("*"),
            F.sum(F.xxhash64("value").cast("decimal(38,0)")),
        ).collect()[0]
    )


def test_writer_reader_roundtrip_python_side(tmp_path):
    """write_bgzf output must be plain-gzip-readable (BGZF IS gzip) and
    block-indexable."""
    data = open(GOLDEN, "rb").read()
    p = str(tmp_path / "golden.bgzf.vcf.gz")
    write_bgzf(p, data, block_raw_bytes=100)  # tiny blocks: lines span blocks
    assert is_bgzf(p)
    assert not is_bgzf(GOLDEN_GZ)  # plain gzip: no BC subfield
    assert len(bgzf_block_offsets(p)) > 3
    assert gzip.open(p, "rb").read() == data


def test_lines_equal_text_scan_across_boundaries(spark, tmp_path):
    """Tiny blocks AND tiny chunk ranges force every boundary case: partial
    first lines, forward completion through multiple blocks, empty chunks."""
    data = open(GOLDEN, "rb").read()
    p = str(tmp_path / "golden.bgzf.vcf.gz")
    write_bgzf(p, data, block_raw_bytes=64)
    want = _line_digest(spark.read.text(GOLDEN))
    for chunk in (150, 400, 10_000_000):
        got = _line_digest(read_bgzf_lines(spark, p, target_chunk_bytes=chunk))
        assert got == want, f"chunk={chunk}"


class _CountingOpen:
    """open() replacement counting read()/seek() calls on binary handles."""

    def __init__(self):
        self.reads = 0
        self.seeks = 0

    def __call__(self, path, mode="r", *a, **k):
        fh = open(path, mode, *a, **k)
        outer = self

        class Wrapped:
            def read(self, *ra):
                outer.reads += 1
                return fh.read(*ra)

            def seek(self, *sa):
                outer.seeks += 1
                return fh.seek(*sa)

            def tell(self):
                return fh.tell()

            def __enter__(self):
                return self

            def __exit__(self, *e):
                fh.close()

        return Wrapped()


def test_block_index_batched_reads(tmp_path, monkeypatch):
    """The driver index must do O(file_size / buf_bytes) sequential reads,
    not one seek+read per 64 KiB block (hostile on object storage: each is
    a GET — ~1.6M round trips per 100 GiB)."""
    import pandasvcf_spark.sources.bgzf as B

    lines = b"".join(b"row%06d\tpayload\n" % i for i in range(40_000))
    p = str(tmp_path / "big.bgzf.gz")
    write_bgzf(p, lines, block_raw_bytes=4096)
    n_blocks = (len(lines) + 4095) // 4096 + 1  # + EOF marker block

    # reference walk: per-block header hops (the old implementation)
    import struct as _s

    ref = []
    with open(p, "rb") as fh:
        pos = 0
        while True:
            h = fh.read(64)
            if len(h) < 18:
                break
            xlen = _s.unpack_from("<H", h, 10)[0]
            extra = h[12 : 12 + xlen]
            size = _s.unpack_from("<H", extra, 4)[0] + 1  # BC is first
            ref.append(pos)
            pos += size
            fh.seek(pos)
    assert len(ref) == n_blocks

    counter = _CountingOpen()
    monkeypatch.setattr(B, "open", counter, raising=False)
    buf = 256 * 1024
    offs = B.bgzf_block_offsets(p, buf_bytes=buf)
    assert offs == ref
    size = os.path.getsize(p)
    assert counter.reads <= size // buf + 3, (counter.reads, size // buf)


def test_gzi_index_skips_header_scan(tmp_path, monkeypatch):
    """A .gzi sidecar short-circuits the scan to a handful of reads, yields
    the same data-block offsets, and a stale .gzi (offsets not pointing at
    BGZF headers) falls back to the scan instead of being trusted."""
    import pandasvcf_spark.sources.bgzf as B

    data = b"".join(b"line%05d\n" % i for i in range(5_000))
    p = str(tmp_path / "idx.bgzf.gz")
    write_bgzf(p, data, block_raw_bytes=1024, emit_gzi=True)
    assert os.path.exists(p + ".gzi")

    via_gzi = B.bgzf_block_offsets(p)
    # recompute without the sidecar for comparison
    os.rename(p + ".gzi", p + ".gzi.bak")
    full_scan = B.bgzf_block_offsets(p)
    os.rename(p + ".gzi.bak", p + ".gzi")
    # .gzi lists data blocks only; the scan also sees the EOF marker block
    assert via_gzi == full_scan[:-1]

    counter = _CountingOpen()
    monkeypatch.setattr(B, "open", counter, raising=False)
    B.bgzf_block_offsets(p)
    assert counter.reads <= 4, counter.reads  # gzi + spot checks, not a scan

    # stale sidecar: garbage offsets must be rejected, falling back to scan
    import struct as _s

    with open(p + ".gzi", "wb") as gz:
        gz.write(_s.pack("<Q", 2) + _s.pack("<QQ", 7, 0) + _s.pack("<QQ", 9, 1))
    monkeypatch.undo()
    assert B.bgzf_block_offsets(p) == full_scan


def test_read_bgzf_lines_with_gzi(spark, tmp_path):
    """End-to-end: the distributed scan stays line-correct when its index
    came from the .gzi sidecar."""
    data = open(GOLDEN, "rb").read()
    p = str(tmp_path / "gzi.bgzf.vcf.gz")
    write_bgzf(p, data, block_raw_bytes=512, emit_gzi=True)
    want = _line_digest(spark.read.text(GOLDEN))
    got = _line_digest(read_bgzf_lines(spark, p, target_chunk_bytes=2048))
    assert got == want


def test_newline_aligned_boundaries_lose_nothing(spark, tmp_path):
    """Regression: when a chunk boundary falls EXACTLY on a newline, the
    line starting at the boundary must still be emitted by exactly one
    task (the previous one, via its unconditional forward read). An
    earlier revision forward-read only when its text did not end with a
    newline, so every boundary-starting line was silently dropped — with
    8-byte blocks (one line per block) and 2-block chunks, 4 of 10 lines
    vanished."""
    lines = [f"line{i:03d}" for i in range(10)]  # 7 chars + \n = 8 bytes
    data = ("\n".join(lines) + "\n").encode()
    p = str(tmp_path / "aligned.bgzf.gz")
    write_bgzf(p, data, block_raw_bytes=8)  # every block boundary == newline
    # target_chunk_bytes small enough that every chunk is a handful of
    # blocks; sweep several geometries including 1-block chunks
    for chunk in (1, 40, 80, 200):
        got = sorted(
            r.value
            for r in read_bgzf_lines(
                spark, p, target_chunk_bytes=chunk
            ).collect()
        )
        assert got == lines, f"chunk={chunk}: {got}"


def test_drop_consumes_entire_chunk_text(spark, tmp_path):
    """A non-first chunk whose own text is exactly one terminated line must
    still claim the line starting at its end boundary (drop leaves empty
    text; the forward read must run anyway)."""
    lines = [f"{i}" * (i + 1) for i in range(12)]  # ragged lengths
    data = ("\n".join(lines) + "\n").encode()
    p = str(tmp_path / "ragged.bgzf.gz")
    for blk in (3, 5, 8, 13):
        write_bgzf(p, data, block_raw_bytes=blk)
        for chunk in (1, 2 * blk, 5 * blk):
            got = sorted(
                r.value
                for r in read_bgzf_lines(
                    spark, p, target_chunk_bytes=chunk
                ).collect()
            )
            assert got == sorted(lines), f"blk={blk} chunk={chunk}"


def test_read_vcf_bgzf_equals_plain(spark, tmp_path):
    p = str(tmp_path / "golden.bgzf.vcf.gz")
    write_bgzf(p, open(GOLDEN, "rb").read(), block_raw_bytes=256)
    want = sorted(
        tuple(str(x) for x in r) for r in read_vcf(spark, GOLDEN).collect()
    )
    got = sorted(
        tuple(str(x) for x in r)
        for r in read_vcf(spark, p, bgzf=True).collect()
    )
    assert got == want


@pytest.mark.skipif(not os.path.exists(KG), reason="1000G fixture absent")
def test_real_bgzf_fixture_line_equality(spark):
    """The 1000G fixture is real htslib BGZF — the reader must agree with
    spark.read.text on all 10k lines."""
    assert is_bgzf(KG)
    assert _line_digest(read_bgzf_lines(spark, KG)) == _line_digest(
        spark.read.text(KG)
    )


def test_non_bgzf_raises(spark):
    with pytest.raises(ValueError, match="not BGZF"):
        read_bgzf_lines(spark, GOLDEN_GZ).count()


def test_virtual_ranges_exact_lines_one_range_per_task(spark, tmp_path):
    """read_bgzf_virtual_ranges returns exactly the records between each
    range's tabix-style voffsets: 16-byte records in 50-byte blocks put
    records across block edges, record 25 at uoffset 0 of block 8 and
    the end of record 49 at the EOF block. Each range is one partition,
    spread without a shuffle."""
    recs = [f"chr1\t{i:06d}\tA\tC" for i in range(50)]  # 15 chars + \n
    p = str(tmp_path / "regions.vcf.gz")
    write_bgzf(p, "".join(r + "\n" for r in recs).encode(), block_raw_bytes=50)
    offsets = bgzf_block_offsets(p)  # 16 data blocks + the EOF block

    def vo(i):  # voffset of record i's first byte
        blk, uoff = divmod(16 * i, 50)
        return offsets[blk] << 16 | uoff

    spans = [(1, 4), (20, 25), (45, 50), (5, 41)]
    assert vo(25) & 0xFFFF == 0 and vo(50) == offsets[-1] << 16
    df = read_bgzf_virtual_ranges(spark, p, [(vo(a), vo(b)) for a, b in spans])
    got = [[r.value for r in part] for part in df.rdd.glom().collect()]
    assert got == [recs[a:b] for a, b in spans]
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan

    stale = [(vo(0), (offsets[3] + 1) << 16)]  # coffset inside block 3
    with pytest.raises(Exception, match="block boundary"):
        read_bgzf_virtual_ranges(spark, p, stale).collect()


def test_default_plan_at_most_one_range_per_core(spark, tmp_path):
    """The default plan cuts at most one block-aligned range per core
    (every Python task pays a fixed set-up charge, so a second wave buys
    nothing) and stays line-equal to spark.read.text; a file under the
    4-block floor is one range."""
    lines = [b"row%05d\tpayload" % i for i in range(4_000)]
    data = b"\n".join(lines) + b"\n"
    p = str(tmp_path / "many.bgzf.gz")
    write_bgzf(p, data, block_raw_bytes=128)
    assert len(bgzf_block_offsets(p)) >= 300
    df = read_bgzf_lines(spark, p)
    assert df.rdd.getNumPartitions() <= spark.sparkContext.defaultParallelism
    assert _line_digest(df) == _line_digest(spark.read.text(p))

    small = str(tmp_path / "small.bgzf.gz")
    write_bgzf(small, data[:200], block_raw_bytes=128)
    assert len(bgzf_block_offsets(small)) < 4  # two data blocks + EOF
    df = read_bgzf_lines(spark, small)
    assert df.rdd.getNumPartitions() == 1
    assert [r.value for r in df.collect()] == [
        v.decode() for v in data[:200].split(b"\n")
    ]


def test_inflate_range_per_block(tmp_path):
    """The range inflate walks the blocks by their BC sizes: it equals
    gzip over 1,000+ blocks, refuses a range position without a BGZF
    header or a block running past the range end (ValueError), and keeps
    zlib's CRC32 check (zlib.error)."""
    import zlib

    from pandasvcf_spark.sources.bgzf import _inflate_range

    data = b"".join(b"%06d\n" % i for i in range(12_000))
    p = str(tmp_path / "blocks.bgzf.gz")
    write_bgzf(p, data, block_raw_bytes=64)
    offs = bgzf_block_offsets(p)
    assert len(offs) > 1_000
    raw = open(p, "rb").read()
    assert _inflate_range(raw) == gzip.decompress(raw) == data

    with pytest.raises(ValueError, match="no BGZF block header"):
        _inflate_range(raw[: offs[5]] + b"not a gzip member at all")
    with pytest.raises(ValueError, match="no BGZF block header"):
        _inflate_range(raw[offs[3] + 1 : offs[9]])  # starts mid-block
    with pytest.raises(ValueError, match="overruns"):
        _inflate_range(raw[: offs[5] - 1])

    bad = bytearray(raw)
    bad[offs[2] - 8] ^= 0xFF  # first CRC32 byte of block 1
    with pytest.raises(zlib.error):
        _inflate_range(bytes(bad))

"""Splittable BGZF text source — parallel ingest of a SINGLE .vcf.gz file.

BGZF (the blocked-gzip variant htslib writes — 1000 Genomes VCFs, BAM/BCF
sidecars) is a sequence of independent ≤64 KiB gzip members, each header
carrying its own compressed size in a 'BC' extra subfield. That makes the
file random-access at block granularity: index the block offsets once
driver-side (18-byte header reads + seeks — no decompression), group blocks
into chunk ranges, and let every executor decompress its own range
independently. A plain `spark.read.text` treats any .gz as ONE unsplittable
split; this source turns the same bytes into cluster-wide parallel work —
the missing piece of the single-file scale story (SURVEY §7.4 deferred it;
reference is single-threaded line iteration, pandasvcf.py:94-99).

Line protocol across chunk boundaries (blocks do NOT align to lines),
Hadoop LineRecordReader style: every task except the first discards bytes
up to and including the first newline of ITS OWN decompressed range, and
every task except the last ALWAYS decompresses FORWARD into the following
blocks through one newline — even when its own range ends exactly at a
newline, because the line starting at the boundary belongs to it (the next
task drops that line unconditionally). Each line is thus emitted by exactly
one task, in order, regardless of where block boundaries fall. Conditioning
the forward read on "my text doesn't end with a newline" (an earlier
revision's bug) silently loses every line that starts exactly on a chunk
boundary.

Scale notes:
  * The driver index is O(n_blocks) seeks (~18 B each). A 100 GiB BGZF at
    64 KiB/block is ~1.6M seeks — seconds against a local filesystem.
    The index is offsets-only (8 B/block) — no pickling of data.
  * The default plan cuts block-aligned ranges of equal block count, at
    most one per core (`target_chunk_bytes=None`; floor 4 blocks, cap
    4,096 blocks, see `read_bgzf_lines`): every Python-worker task pays
    a fixed set-up charge (~80 ms measured at 4 cores), so a second wave
    of tasks costs more than the balance it could buy. An explicit
    `target_chunk_bytes` cuts by compressed bytes instead.
  * Each range inflates with one `zlib.decompress` per block, sized by the
    block's own BC header (`_inflate_range`), so a task costs O(range).
  * Decompression is zlib (C speed) inside Arrow-batched mapInArrow —
    32 cores decompress ~32x faster than the one JVM task the non-split
    path gets. Python is the right side for this: the work is pure C calls
    on opaque bytes, and predicates cannot be pushed below a mapInArrow
    (so no pushdown-below-exchange hazard — see sources/vcf.py barrier).
"""

from __future__ import annotations

import os
import struct

from pyspark.sql import DataFrame, SparkSession

_BGZF_HEADER = struct.Struct("<4BIBBH")  # magic(4), mtime, xfl, os, xlen


def is_bgzf(path: str) -> bool:
    """True when the file starts with a gzip member carrying the BGZF 'BC'
    extra subfield (plain gzip lacks FEXTRA or the subfield)."""
    try:
        with open(path, "rb") as fh:
            return _block_size(fh.read(64)) is not None
    except OSError:
        return False


def _block_size(header: bytes) -> int | None:
    """Total compressed size of the BGZF block whose header starts the
    given bytes, or None when it is not a BGZF block header."""
    if len(header) < 18 or header[:2] != b"\x1f\x8b" or header[2] != 8:
        return None
    if not header[3] & 4:  # FEXTRA
        return None
    xlen = struct.unpack_from("<H", header, 10)[0]
    extra = header[12 : 12 + xlen]
    i = 0
    while i + 4 <= len(extra):
        si1, si2, slen = extra[i], extra[i + 1], struct.unpack_from("<H", extra, i + 2)[0]
        if si1 == 0x42 and si2 == 0x43 and slen == 2:  # 'BC'
            return struct.unpack_from("<H", extra, i + 4)[0] + 1
        i += 4 + slen
    return None


def _read_gzi(gzi_path: str, file_size: int) -> list[int] | None:
    """Parse a bgzip `.gzi` sidecar index into block offsets, or None when
    absent/implausible. Format (bgzip -r): little-endian uint64 entry
    count, then one (compressed_offset, uncompressed_offset) uint64 pair
    per block AFTER the first (block 0 at offset 0 is implicit)."""
    try:
        with open(gzi_path, "rb") as fh:
            raw = fh.read()
    except OSError:
        return None
    if len(raw) < 8:
        return None
    (n,) = struct.unpack_from("<Q", raw, 0)
    if len(raw) < 8 + 16 * n:
        return None
    offsets = [0]
    for i in range(n):
        offsets.append(struct.unpack_from("<Q", raw, 8 + 16 * i)[0])
    if offsets != sorted(set(offsets)) or (
        len(offsets) > 1 and offsets[-1] >= file_size
    ):
        return None
    return offsets


def bgzf_block_offsets(path: str, buf_bytes: int = 8 << 20) -> list[int]:
    """Driver-side block index: byte offset of every BGZF block.

    An existing bgzip `.gzi` sidecar is honored (spot-checked, not blindly
    trusted: the first and last recorded offsets must carry valid BGZF
    headers — a stale index from a rewritten file fails that and falls
    through to the scan). Otherwise the file is read in `buf_bytes`
    sequential chunks and block headers are walked in-memory — O(size /
    buf_bytes) reads. An earlier revision issued one seek+read PER BLOCK
    (~1.6M round trips for 100 GiB at 64 KiB/block): invisible on local
    disk, hours of GET latency on object storage."""
    file_size = os.path.getsize(path)
    gzi = _read_gzi(path + ".gzi", file_size)
    if gzi is not None:
        with open(path, "rb") as fh:
            ok = True
            for off in {gzi[0], gzi[-1]}:
                fh.seek(off)
                if _block_size(fh.read(64)) is None:
                    ok = False
                    break
        if ok:
            return gzi
    offsets = []
    with open(path, "rb") as fh:
        pos = 0  # absolute offset of the next block header
        buf = b""
        buf_start = 0  # absolute offset of buf[0]
        while True:
            rel = pos - buf_start
            if rel + 64 > len(buf):
                # refill from the current position — strictly forward, so
                # reads stay sequential and count ~ceil(size/buf_bytes)
                fh.seek(pos)
                buf = fh.read(buf_bytes)
                buf_start = pos
                rel = 0
            if len(buf) - rel < 18:
                break
            size = _block_size(buf[rel : rel + 64])
            if size is None:
                raise ValueError(
                    f"{path!r} is not BGZF at offset {pos} — use the "
                    "non-split gzip path for plain .gz files"
                )
            offsets.append(pos)
            pos += size
    return offsets


def _read_one_block(fh) -> bytes | None:
    """Decompress the single BGZF block at the file's current position;
    None at EOF. Leaves the handle positioned at the next block."""
    import zlib

    start = fh.tell()
    header = fh.read(64)
    if len(header) < 18:
        return None
    size = _block_size(header)
    if size is None:
        return None
    fh.seek(start)
    comp = fh.read(size)
    return zlib.decompress(comp, wbits=31)


def _inflate_range(data: bytes) -> bytes:
    """Inflate a run of whole BGZF blocks: one `zlib.decompress` per block,
    over a memoryview slice sized by the block's BC header, so the cost is
    linear in the run (peeling members off a `decompressobj`'s
    `unused_data` copies the rest of the run at each step: quadratic).
    zlib still checks every member's CRC32 and ISIZE (`zlib.error`).
    Raises ValueError when a position holds no BGZF header or a block
    runs past the end of `data`."""
    import zlib

    view = memoryview(data)
    parts = []
    pos = 0
    while pos < len(view):
        size = _block_size(bytes(view[pos : pos + 64]))
        if size is None:
            raise ValueError(f"no BGZF block header at range offset {pos}")
        if pos + size > len(view):
            raise ValueError(
                f"BGZF block at range offset {pos} ({size} bytes) overruns "
                f"the range end ({len(view)} bytes)"
            )
        parts.append(zlib.decompress(view[pos : pos + size], wbits=31))
        pos += size
    return b"".join(parts)


def _lines_batch(text: bytes):
    """One Arrow batch of (value STRING) lines from a decompressed slice
    whose trailing newline the caller has already stripped. CRLF is
    normalized like spark.read.text's LineRecordReader. The string column
    is built entirely in C: one utf8 validation/decode of the slice, one
    vectorized newline split, zero per-line Python objects (boxing each
    line into a Python str measured ~3x slower end-to-end on a 1.5
    GB-raw file)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    if b"\r\n" in text:
        text = text.replace(b"\r\n", b"\n")
    try:
        chunk_arr = pa.array([text.decode("utf-8")])
    except UnicodeDecodeError:
        chunk_arr = pa.array([text.decode("utf-8", "replace")])
    lines = pc.list_flatten(pc.split_pattern(chunk_arr, pattern="\n"))
    return pa.RecordBatch.from_arrays([lines], ["value"])


#: 28-byte empty final block marking BGZF EOF (htslib convention).
BGZF_EOF = bytes.fromhex(
    "1f8b08040000000000ff0600424302001b0003000000000000000000"
)


def write_bgzf(
    path: str,
    data: bytes,
    block_raw_bytes: int = 65280,
    emit_gzi: bool = False,
) -> None:
    """Write bytes as a BGZF file (independent gzip members, each with the
    'BC' size subfield, htslib EOF block). Driver-side utility — used by
    tests to build splittable fixtures, and small enough to serve as the
    reference for what the reader expects. emit_gzi also writes the bgzip
    `.gzi` sidecar (entry count + (caddr, uaddr) pairs, block 0 implicit)
    so `bgzf_block_offsets` can skip the header scan entirely."""
    import zlib

    entries = []  # (compressed_offset, uncompressed_offset) per data block
    with open(path, "wb") as out:
        for i in range(0, len(data), block_raw_bytes):
            entries.append((out.tell(), i))
            chunk = data[i : i + block_raw_bytes]
            comp = zlib.compress(chunk, 6)[2:-4]  # raw deflate
            crc = zlib.crc32(chunk)
            bsize = len(comp) + 25 + 1  # header(18) + deflate + crc+isize(8)
            out.write(
                b"\x1f\x8b\x08\x04\x00\x00\x00\x00\x00\xff"
                + struct.pack("<H", 6)  # XLEN
                + b"BC" + struct.pack("<H", 2) + struct.pack("<H", bsize - 1)
                + comp
                + struct.pack("<II", crc, len(chunk) & 0xFFFFFFFF)
            )
        out.write(BGZF_EOF)
    if emit_gzi:
        with open(path + ".gzi", "wb") as gz:
            gz.write(struct.pack("<Q", max(0, len(entries) - 1)))
            for caddr, uaddr in entries[1:]:
                gz.write(struct.pack("<QQ", caddr, uaddr))


def read_bgzf_lines(
    spark: SparkSession,
    path: str,
    target_chunk_bytes: int | None = None,
) -> DataFrame:
    """Distributed line scan of a BGZF file: DataFrame of (value STRING),
    byte-equal to `spark.read.text` on the same file (trailing '\\r'
    stripped, final unterminated line kept) but with chunk-level instead of
    file-level parallelism."""
    offsets = bgzf_block_offsets(path)
    with open(path, "rb") as fh:
        fh.seek(0, 2)
        eof = fh.tell()
    if not offsets:
        return spark.createDataFrame([], "value string")

    if target_chunk_bytes is not None:
        ranges = []  # (start, end) compressed-byte ranges aligned to blocks
        start = offsets[0]
        for off in offsets[1:]:
            if off - start >= target_chunk_bytes:
                ranges.append((start, off))
                start = off
        ranges.append((start, eof))
    else:
        # Chunk by BLOCK COUNT, not compressed bytes: downstream work
        # (decompress, parse, explode) scales with RAW size, and BGZF
        # blocks cap at 64 KiB raw regardless of how well the data
        # compresses (VCF text compresses ~80x, so compressed-byte chunks
        # wildly under-split small-but-dense files). At most one range per
        # core: each Python-worker task pays a fixed ~80 ms before its
        # first row (measured at 4 cores; nearly all of it PySpark's
        # per-task `setup_spark_files` -> `importlib.invalidate_caches`),
        # and equal-block ranges gain no balance from a second wave.
        # Floor 4 blocks (~256 KiB raw) keeps tiny files to one task; cap
        # 4096 blocks (~256 MiB raw) bounds a worker's text + Arrow copy.
        par = spark.sparkContext.defaultParallelism
        bpc = max(4, min(4096, -(-len(offsets) // max(1, par))))
        ranges = [
            (
                offsets[i],
                offsets[i + bpc] if i + bpc < len(offsets) else eof,
            )
            for i in range(0, len(offsets), bpc)
        ]

    def scan(batches):
        for batch in batches:
            for rid in batch.column("id").to_pylist():
                start, end = ranges[rid]
                first = rid == 0
                with open(path, "rb") as fh:
                    fh.seek(start)
                    # A range is whole BGZF blocks by construction.
                    text = _inflate_range(fh.read(end - start))
                    # Drop the first line of OUR OWN bytes — before any
                    # forward read, so a newline-free chunk (interior of
                    # one long line) emits nothing instead of stealing the
                    # next chunk's first line. The dropped line belongs to
                    # the previous task's unconditional forward read.
                    if not first:
                        nl = text.find(b"\n")
                        if nl < 0:
                            continue
                        text = text[nl + 1 :]
                    # ALWAYS claim one line past our end boundary — even
                    # when our own text ends exactly at a newline, the line
                    # starting at the boundary is ours (the next task drops
                    # it unconditionally). Terminates naturally at EOF.
                    fh.seek(end)
                    while True:
                        blk = _read_one_block(fh)
                        if blk is None:
                            break
                        nl = blk.find(b"\n")
                        if nl >= 0:
                            text += blk[: nl + 1]
                            break
                        text += blk
                had_newline = text.endswith(b"\n")
                if had_newline:
                    # strip exactly one: inner/extra empty lines are real rows
                    text = text[:-1]
                if not text and not had_newline:
                    continue
                yield _lines_batch(text)

    # One range id per partition: each task looks its byte range up from
    # the closure, so spreading the ranges needs no range table and no
    # shuffle.
    n = len(ranges)
    return spark.range(0, n, 1, n).mapInArrow(scan, "value string")


def read_bgzf_virtual_ranges(
    spark: SparkSession,
    path: str,
    vranges: list[tuple[int, int]],
) -> DataFrame:
    """Distributed line scan of tabix virtual-offset ranges of a BGZF
    file: DataFrame of (value STRING) holding exactly the records between
    each range's begin and end voffsets.

    Every voffset (`coffset << 16 | uoffset`) is required to point at a
    record boundary — true for tabix chunk begin/end offsets by spec — so
    the slice between them can never yield a partial line. One task per
    merged range: region queries are selective by construction (a few
    chunk ranges per region), so range count IS the right parallelism;
    a query wide enough to defeat that should use the full splittable
    scan (`read_bgzf_lines`) + filter instead."""
    if not vranges:
        return spark.createDataFrame([], "value string")
    vranges = [(int(vbeg), int(vend)) for vbeg, vend in vranges]

    def scan(batches):
        for batch in batches:
            for rid in batch.column("id").to_pylist():
                vbeg, vend = vranges[rid]
                cbeg, ubeg = vbeg >> 16, vbeg & 0xFFFF
                cend, uend = vend >> 16, vend & 0xFFFF
                parts = []
                end_block_text_start = None
                with open(path, "rb") as fh:
                    fh.seek(cbeg)
                    pos = cbeg
                    while True:
                        if pos == cend and uend == 0:
                            end_block_text_start = sum(map(len, parts))
                            break
                        blk = _read_one_block(fh)
                        if blk is None:  # EOF before cend: vend == file end
                            end_block_text_start = sum(map(len, parts))
                            uend = 0
                            break
                        if pos == cend:
                            end_block_text_start = sum(map(len, parts))
                            parts.append(blk)
                            break
                        parts.append(blk)
                        pos = fh.tell()
                        if pos > cend:
                            raise ValueError(
                                f"virtual offset {vend} does not land on a "
                                f"block boundary of {path!r} — stale index?"
                            )
                text = b"".join(parts)
                text = text[ubeg : end_block_text_start + uend]
                if text.endswith(b"\n"):
                    text = text[:-1]
                if not text:
                    continue
                yield _lines_batch(text)

    # One range per partition, looked up from the closure by id (as in
    # read_bgzf_lines): no range table, no shuffle.
    n = len(vranges)
    return spark.range(0, n, 1, n).mapInArrow(scan, "value string")

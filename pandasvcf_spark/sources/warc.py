"""WARC (Web ARChive, ISO 28500) source — the Common Crawl ingest format.

The standard `.warc.gz` layout is ONE GZIP MEMBER PER RECORD (the spec's
record-at-time compression recommendation, and what Common Crawl ships):
members concatenate, so a reader can stream record boundaries without
decompressing ahead — the same concatenated-member property the BGZF
source exploits (`sources/bgzf.py`), minus BGZF's size sidecar.

Scale model — FILE-granular parallelism: a crawl snapshot is tens of
thousands of ~1 GB WARC files, so the right Spark unit is one task per
file (the way real Common Crawl jobs shard), not byte-splitting inside
one file: `read_warc_gz` distributes the path list and each task
stream-walks its file's gzip members with `zlib.decompressobj`
(`unused_data` marks the member boundary: a WARC member, unlike a BGZF
block, carries no compressed size to slice by), parsing WARC headers as
it goes. No driver-side indexing pass, no whole-file buffering: one
record in memory at a time per task.

Record parsing implements the public spec shape: `WARC/1.x` version
line, CRLF header block (`WARC-Type`, `WARC-Target-URI`, `WARC-Date`,
`Content-Type`, `Content-Length`), Content-Length-delimited payload,
CRLF CRLF trailer. `response` records carry an HTTP message as payload;
`http_payload` splits status line + headers from the body so the HTML
flows straight into `functions/text.html_text_expr` and the quality /
dedup funnel.

Uncompressed `.warc` files parse with the same record walker
(`iter_warc_records`) over the raw bytes. No reference-repo counterpart
(the reference is VCF-only); format knowledge from the public ISO 28500
/ IIPC WARC 1.1 specification.
"""

from __future__ import annotations

import zlib
from collections.abc import Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

#: Output schema of read_warc_gz / parse streams.
WARC_DDL = (
    "path STRING, record_no BIGINT, warc_type STRING, "
    "target_uri STRING, warc_date STRING, content_type STRING, "
    "content_length BIGINT, payload BINARY"
)


def iter_warc_records(data: bytes) -> Iterator[dict]:
    """Walk concatenated WARC records in raw (uncompressed) bytes.

    Yields one dict per record: warc_type, target_uri, warc_date,
    content_type, content_length, payload. Tolerates LF-only header
    lines (seen in the wild) and skips malformed leading junk up to the
    next 'WARC/' magic rather than failing the whole file."""
    pos = 0
    n = len(data)
    while pos < n:
        start = data.find(b"WARC/", pos)
        if start < 0:
            return
        head_end = data.find(b"\r\n\r\n", start)
        sep_len = 4
        if head_end < 0:
            head_end = data.find(b"\n\n", start)
            sep_len = 2
            if head_end < 0:
                return
        header_block = data[start:head_end].decode(
            "utf-8", "replace"
        )
        headers = {}
        for line in header_block.splitlines()[1:]:
            k, _, v = line.partition(":")
            if _:
                headers[k.strip().lower()] = v.strip()
        try:
            clen = int(headers.get("content-length", "0"))
        except ValueError:
            clen = 0
        body_start = head_end + sep_len
        payload = data[body_start : body_start + clen]
        yield {
            "warc_type": headers.get("warc-type"),
            "target_uri": headers.get("warc-target-uri"),
            "warc_date": headers.get("warc-date"),
            "content_type": headers.get("content-type"),
            "content_length": clen,
            "payload": payload,
        }
        pos = body_start + clen


def _iter_gzip_members(path: str) -> Iterator[bytes]:
    """Stream-decompress concatenated gzip members one at a time —
    `decompressobj(wbits=31)` stops at each member's end and exposes
    the remainder via `unused_data` (a WARC member header carries no
    compressed size to slice by), so memory holds one member, never the
    file."""
    chunk_size = 1 << 20
    with open(path, "rb") as fh:
        buf = b""
        eof = False
        while True:
            if not buf and not eof:
                buf = fh.read(chunk_size)
                eof = not buf
            if not buf:
                return
            d = zlib.decompressobj(wbits=31)
            parts = []
            while True:
                parts.append(d.decompress(buf))
                if d.eof:
                    buf = d.unused_data
                    break
                buf = fh.read(chunk_size)
                if not buf:
                    eof = True
                    # flush whatever the stream holds (truncated final
                    # member yields its prefix rather than hanging)
                    parts.append(d.flush())
                    break
            yield b"".join(parts)
            if eof and not buf:
                return


def read_warc_gz(
    spark: SparkSession,
    paths: list[str] | str,
    types: tuple[str, ...] | None = ("response",),
) -> DataFrame:
    """Distributed WARC ingest: DataFrame of WARC_DDL rows, one task
    per file (the Common Crawl sharding unit — a snapshot is ~90k
    files, which IS the cluster parallelism; byte-splitting inside a
    member-compressed file buys nothing a file count this size hasn't
    already). `types` pre-filters record types INSIDE the scan task
    (('response',) by default — request/metadata records never cross
    the Arrow boundary); None keeps everything.

    Works on `.warc.gz` (member-per-record) and uncompressed `.warc`
    (single "member" = whole file, then the record walker splits)."""
    if isinstance(paths, str):
        paths = [paths]
    if not paths:
        return spark.createDataFrame([], WARC_DDL)
    paths = sorted(paths)
    keep = set(types) if types is not None else None

    def scan(batches):
        import pandas as pd

        for pdf in batches:
            for rid in pdf["id"]:
                path = paths[rid]
                rows = {
                    k: []
                    for k in (
                        "path", "record_no", "warc_type", "target_uri",
                        "warc_date", "content_type", "content_length",
                        "payload",
                    )
                }
                rec_no = 0
                if path.endswith(".gz"):
                    members = _iter_gzip_members(path)
                else:
                    members = iter(
                        [open(path, "rb").read()]
                    )
                for member in members:
                    for rec in iter_warc_records(member):
                        rec_no += 1
                        if keep is not None and rec["warc_type"] not in keep:
                            continue
                        rows["path"].append(path)
                        rows["record_no"].append(rec_no)
                        for k in (
                            "warc_type", "target_uri", "warc_date",
                            "content_type", "content_length", "payload",
                        ):
                            rows[k].append(rec[k])
                yield pd.DataFrame(rows)

    # One file per partition, looked up from the closure by id: no path
    # table, no shuffle.
    n = len(paths)
    return spark.range(0, n, 1, n).mapInPandas(scan, WARC_DDL)


def http_payload(
    df: DataFrame,
    payload_col: str = "payload",
) -> DataFrame:
    """Split a WARC `response` record's HTTP message into status /
    headers / body — NATIVE binary/string expressions, zero Python:
    the body (usually HTML) flows straight into `html_text_expr` and
    the text funnel. Adds (http_status INT, http_content_type STRING,
    body STRING); non-HTTP payloads yield NULL status and the raw
    payload decoded as the body."""
    s = F.col(payload_col).cast("string")
    pos4 = F.instr(s, "\r\n\r\n")
    pos2 = F.instr(s, "\n\n")
    # When BOTH separators occur, the header terminator is whichever
    # comes FIRST: an LF-only-header response whose body happens to
    # contain CRLFCRLF must still split at the early "\n\n", not at
    # the body's "\r\n\r\n". ("\r\n\r\n" contains "\n\n" at offset+1,
    # so pos4 > 0 implies pos2 > 0 and pos2 <= pos4 + 1 — comparing
    # the two positions directly picks the true earliest terminator.)
    use4 = (pos4 > 0) & ((pos2 <= 0) | (pos4 < pos2))
    sep_pos = F.when(use4, pos4).otherwise(pos2)
    sep_len = F.when(use4, F.lit(4)).otherwise(F.lit(2))
    head = F.when(
        sep_pos > 0, F.substr(s, F.lit(1), sep_pos - 1)
    ).otherwise(s)
    is_http = s.startswith("HTTP/")
    status = F.when(
        is_http,
        F.regexp_extract(head, r"^HTTP/[0-9.]+\s+(\d{3})", 1).cast(
            "int"
        ),
    )
    ctype = F.when(
        is_http,
        F.regexp_extract(
            head, r"(?mi)^content-type:\s*([^\r\n;]+)", 1
        ),
    )
    body = F.when(
        is_http & (sep_pos > 0), F.substr(s, sep_pos + sep_len)
    ).otherwise(s)
    return (
        df.withColumn("http_status", status)
        .withColumn(
            "http_content_type",
            F.when(ctype != "", F.trim(F.lower(ctype))),
        )
        .withColumn("body", body)
    )


def write_warc_gz(
    records: list[dict],
    path: str,
) -> None:
    """Driver-side WARC writer — one gzip member per record (the spec's
    record-at-time recommendation; what makes `read_warc_gz` stream).
    Used by tests to build fixtures and by exports of small curated
    sets; bulk corpus EXPORT stays parquet (the engine's native sink).
    Each record dict: warc_type, target_uri (optional), warc_date
    (optional), content_type (optional), payload bytes."""
    import gzip as _gzip

    with open(path, "wb") as out:
        for rec in records:
            payload = rec.get("payload", b"")
            headers = [
                "WARC/1.0",
                f"WARC-Type: {rec['warc_type']}",
            ]
            if rec.get("target_uri"):
                headers.append(f"WARC-Target-URI: {rec['target_uri']}")
            if rec.get("warc_date"):
                headers.append(f"WARC-Date: {rec['warc_date']}")
            if rec.get("content_type"):
                headers.append(f"Content-Type: {rec['content_type']}")
            headers.append(f"Content-Length: {len(payload)}")
            raw = (
                "\r\n".join(headers).encode() + b"\r\n\r\n"
                + payload + b"\r\n\r\n"
            )
            out.write(_gzip.compress(raw))

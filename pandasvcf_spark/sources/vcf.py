"""VCF source: driver-side header parse + distributed body parse.

Replaces the reference's scan layer (pandasvcf.py:76-184, vcf_metadata.py):

  * Header read (reference S1, vcf_metadata.py:11-25): the reference shells
    out to `tabix -H` (with a forced re-index side effect!) or `head -5000`.
    Here: plain Python gzip/open on the driver, read until the first
    non-'#' line. No subprocess, no side effects, no tabix dependency.
  * Body scan (reference S4/S5, pandasvcf.py:94-99,162-184): the reference
    pulls pandas CSV chunks imperatively. Here: `spark.read.text` ->
    filter('##'/'#CHROM' lines out) -> split('\\t') -> typed select. Lazy,
    partitioned, column-pruned by Catalyst. Chunking (reference S5)
    disappears entirely — Spark partitions are the chunks.

Schema strategy (the key departure from the reference — SURVEY §7.2): one
STATIC schema for any VCF. Fixed columns are typed (QUAL as nullable double,
fixing the reference's int8 bug), and all sample calls land in a single
`samples MAP<STRING,STRING>` column instead of N dynamic columns. Sample
pruning (reference P1 `usecols`) selects map entries at parse time so unused
samples never leave the scan.

Scale notes:
  * A .gz VCF is one non-splittable input split; `read_vcf` spreads its raw
    lines across the cluster before the parse (when the file count alone
    gives fewer splits than cores) so the expensive split/typed-parse work
    is cluster-wide. For repeated queries at 100 TB, `vcf_to_parquet`
    converts once to a splittable columnar layout partitioned by CHROM;
    everything downstream then gets splittable scans, column pruning,
    predicate pushdown and partition pruning for free.
"""

from __future__ import annotations

import glob
import gzip
import io
import os
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from pandasvcf_spark.functions.genomics import FIXED_COLS, strip_chr
from pandasvcf_spark.functions.maps import str_array_lit

#: Columns the reference asserts present (pandasvcf.py:139) — minus '#'.
MANDATORY_COLS = ["CHROM", "POS", "REF", "ALT", "FORMAT"]


@dataclass
class VCFHeader:
    """Driver-side parse of the '##' metadata block + '#CHROM' header line."""

    meta_lines: list[str] = field(default_factory=list)
    columns: list[str] = field(default_factory=list)  # header line, '#' stripped

    @property
    def sample_ids(self) -> list[str]:
        return self.columns[9:]

    @property
    def format_ids(self) -> list[str]:
        """FORMAT field IDs declared by '##FORMAT=<ID=...,' meta lines, in
        declaration order. Lets the annotation planner know the FORMAT
        sub-fields WITHOUT scanning the data (the reference discovers them
        from the body; a driver-side header read is free at any scale)."""
        ids = []
        for line in self.meta_lines:
            if line.startswith("##FORMAT=<"):
                body = line[len("##FORMAT=<"):].rstrip(">")
                for part in body.split(","):
                    k, _, v = part.partition("=")
                    if k == "ID" and v and v not in ids:
                        ids.append(v)
                        break
        return ids

    @property
    def n_meta_lines(self) -> int:
        return len(self.meta_lines)

    def kv_pairs(self) -> list[tuple[str, str]]:
        """'##key=value' pairs (split on the FIRST '='; values may contain
        '='), plus the synthetic SampleIDs / ColumnHeader rows the reference
        appends (pandasvcf.py:102-120)."""
        pairs = []
        for line in self.meta_lines:
            body = line[2:]
            key, _, value = body.partition("=")
            pairs.append((key, value))
        pairs.append(("SampleIDs", ",".join(self.sample_ids)))
        pairs.append(("ColumnHeader", ",".join(self.columns)))
        return pairs

    def to_df(self, spark: SparkSession) -> DataFrame:
        return spark.createDataFrame(self.kv_pairs(), "key string, value string")


def resolve_vcf_paths(path: str | list[str]) -> list[str]:
    """Expand a VCF input spec into concrete file paths, sorted for
    determinism: a list passes through; a glob pattern expands; a directory
    yields its *.vcf / *.vcf.gz entries; anything else is a single file.
    The multi-file path is the sanctioned answer to the non-splittable-.gz
    ceiling: real pipelines shard a cohort per chromosome/region, and N
    shard files give the scan N input splits with no custom source."""
    if isinstance(path, (list, tuple)):
        return [str(p) for p in path]
    if glob.has_magic(path):
        found = sorted(glob.glob(path))
        if not found:
            raise FileNotFoundError(f"no files match {path!r}")
        return found
    if os.path.isdir(path):
        # *.vcf / *.vcf.gz, plus write_vcf's own output shards (Spark's
        # text writer names them part-*.txt) so a written directory
        # round-trips through read_vcf directly.
        found = sorted(
            p
            for p in glob.glob(os.path.join(path, "*"))
            if p.endswith((".vcf", ".vcf.gz"))
            or (
                os.path.basename(p).startswith("part-")
                and not p.endswith(".crc")
            )
        )
        if not found:
            raise FileNotFoundError(
                f"no *.vcf/*.vcf.gz/part-* files in {path!r}"
            )
        return found
    return [path]


def read_vcf_header(path: str | list[str], max_lines: int = 100_000) -> VCFHeader:
    """Read header lines driver-side. Gzip/BGZF handled by Python's gzip
    module (BGZF is concatenated gzip members). Stops at the first
    non-'#' line — headers are contiguous by spec. A glob/directory/list
    input resolves to its first shard (shard-consistency is enforced by
    `read_vcf`, which checks every shard's '#CHROM' line)."""
    path = resolve_vcf_paths(path)[0]
    opener = gzip.open if path.endswith(".gz") else open
    header = VCFHeader()
    with opener(path, "rb") as fh:
        text = io.TextIOWrapper(fh, encoding="utf-8", errors="replace")
        for i, line in enumerate(text):
            if i > max_lines:
                break
            line = line.rstrip("\n").rstrip("\r")
            if line.startswith("##"):
                header.meta_lines.append(line)
            elif line.startswith("#"):
                header.columns = line[1:].split("\t")
                break
            else:
                break
    if not header.columns:
        raise ValueError(f"no '#CHROM' header line found in {path}")
    missing = [c for c in MANDATORY_COLS if c not in header.columns]
    if missing:
        raise ValueError(f"VCF {path} missing mandatory columns {missing}")
    return header


def _typed_fixed_col(name: str, parts: Column, idx: int) -> Column:
    """Type one fixed VCF column from the split line. '.' -> NULL for QUAL
    (nullable double — fixes the reference's int8-QUAL bug, SURVEY §8.2);
    CHROM gets the anchored chr-strip; POS is long (safer than the
    reference's int32 for concatenated genomes)."""
    raw = F.try_element_at(parts, F.lit(idx + 1))
    if name == "CHROM":
        return strip_chr(raw).alias(name)
    if name == "POS":
        return raw.try_cast("long").alias(name)
    if name == "QUAL":
        return F.nullif(raw, F.lit(".")).try_cast("double").alias(name)
    return raw.alias(name)


def _spread_lines(body: DataFrame, n: int) -> DataFrame:
    """Spread raw text lines over `n` partitions by HASH of the line, not
    round-robin. A keyless repartition(n) first locally sorts its input
    (sortBeforeRepartition — required so retried map tasks reproduce the
    same row→partition assignment): for a non-splittable .gz that sort
    runs inside the single decompress task over every line. Hashing the
    line content is deterministic per row (same retry-safety, SPARK-38388)
    with no sort; lines are ~all distinct, so the spread is uniform."""
    return body.repartition(n, F.xxhash64(F.col("value")))


def read_vcf(
    spark: SparkSession,
    path: str | list[str],
    samples: str | list[str] = "all",
    cols: list[str] | None = None,
    dedup: bool = False,
    bgzf: bool | str = "auto",
    region: str | None = None,
) -> DataFrame:
    """Scan a VCF (single file, glob, directory, or explicit shard list)
    into the wide variants DataFrame.

    Output schema: requested fixed columns (typed per above) + a
    `samples MAP<STRING,STRING>` column holding the requested sample calls
    keyed by sample id.

    Multi-file inputs are shards of ONE logical VCF (per-chromosome /
    per-region splits of the same cohort): every shard must carry an
    identical '#CHROM' header line (same samples, same order), checked
    driver-side before any job runs — column indices drive the parse, so a
    reordered shard would silently mislabel calls otherwise. Shards with
    different cohorts should be read separately and unioned/joined
    explicitly. Each shard is at least one input split, so N .gz shards
    parse with N-way parallelism even though each is non-splittable —
    the real-world route around the single-.gz ceiling (SURVEY §7.4).

    samples: 'all' | one id | list of ids (reference get_sample_ids,
        pandasvcf.py:122-132). Selection is name-based, so an out-of-order
        list cannot mislabel columns (fixes reference quirk, SURVEY §8.2).
    cols: fixed columns to keep (default: all nine). MANDATORY_COLS are
        always included, as the reference asserts (pandasvcf.py:139).
    dedup: opt-in global full-row dropDuplicates (upgrade over the
        reference's chunk-local dedup, pandasvcf.py:175). Default OFF: at
        scale it is a full shuffle of the raw text before parsing, and real
        VCFs are duplicate-free; turn it on for untrusted concatenated
        inputs.
    bgzf: 'auto' (default) scans a single htslib-blocked .gz through the
        splittable BGZF source (sources/bgzf.py) — chunk-parallel
        decompression with NO pre-parse shuffle, the single-file scale
        path. True forces it (raises on non-BGZF), False disables (plain
        `spark.read.text` + repartition spread).
    region: 'chr22' | '22:16050075-16654125' (1-based inclusive, tabix
        syntax). Always applied as an EXACT overlap filter on the parsed
        rows (record spans POS..POS+len(REF)-1, the tabix VCF preset).
        When every input shard is BGZF with a `.tbi` sidecar, the scan is
        additionally PRUNED to the index's blocks for the region
        (sources/tabix.py) — the result is identical either way, the
        index only changes how many bytes are touched. The reference
        ships .tbi files but never uses them (vcf_metadata.py:18 shells
        to tabix for headers only); at 100 GB-single-file scale this is
        the difference between a full scan and a few dozen block reads.
    """
    files = resolve_vcf_paths(path)
    header = read_vcf_header(files[0])
    for shard in files[1:]:
        other = read_vcf_header(shard)
        if other.columns != header.columns:
            raise ValueError(
                f"shard {shard!r} has a different '#CHROM' header than "
                f"{files[0]!r} — multi-file read_vcf requires identical "
                "column/sample layout; read differing cohorts separately"
            )

    if samples == "all":
        sample_ids = header.sample_ids
    elif isinstance(samples, str):
        sample_ids = [samples]
    else:
        sample_ids = list(samples)
    unknown = [s for s in sample_ids if s not in header.columns]
    if unknown:
        raise ValueError(f"unknown sample ids {unknown}")

    if cols is None:
        fixed = [c for c in FIXED_COLS if c in header.columns]
    else:
        want = {c.lstrip("#") for c in cols} | set(MANDATORY_COLS)
        fixed = [c for c in FIXED_COLS if c in want and c in header.columns]

    from pandasvcf_spark.sources.bgzf import (
        is_bgzf,
        read_bgzf_lines,
        read_bgzf_virtual_ranges,
    )

    region_parts = None
    if region is not None:
        from pandasvcf_spark.sources.tabix import parse_region

        region_parts = parse_region(region)

    # Index-pruned region scan: only when EVERY shard is BGZF with a .tbi
    # sidecar (a mixed fleet falls back to the full scan — the exact
    # filter below makes the result identical, pruning is purely a
    # bytes-touched optimization).
    use_tabix = region_parts is not None and all(
        f.endswith(".gz") and os.path.exists(f + ".tbi") and is_bgzf(f)
        for f in files
    )
    # auto-threshold, MEASURED (round 6, local[32], 1000G x56 re-blocked
    # fixture, 62.8 MB compressed / ~5.5 GB raw, min-of-2; re-recorded
    # every round by bench.py's BGZF stage): end-to-end read_vcf+parse is
    # 48.6 s (splittable) vs 43.7 s (JVM text + repartition) — break-even
    # within the bench's ~30% ambient swing. Round-9 re-adjudication of
    # the round-8 1.27x scan-only regression (three paired A/B sessions,
    # min-of-3 each, same fixture, same hour): split/single = 9.7/7.6
    # (1.28), 4.9/7.8 (0.63, warm Python workers), 12.8/8.6 (1.49, at
    # 1-minute loadavg ~11 on the shared 32-core box). The ratio TRACKS
    # AMBIENT LOAD and worker-pool warmth, not plan shape: the split
    # scan wants 32 idle cores + a spawned worker pool, the single-task
    # scan wants one core, so under co-tenant load the split path
    # starves first. At true idle + warm workers the split path WINS
    # (0.63) — there is no local regression to tune away, and 64 MiB
    # stands (bench.py now records loadavg_1m beside the BGZF numbers
    # so future rounds can read the confounder directly). The JVM
    # route's remaining local edge is that its "shuffle" is memory-speed
    # inside one JVM while the splittable path pays Arrow transfer of
    # the raw text. The split path's win is CLUSTER-shape, growing with
    # size:
    # the JVM route is one task decompressing the whole file (a 100 GB
    # .gz is ~8.7 TB raw through one core) plus a full raw-text exchange
    # (network on a real cluster; local spill once raw > memory), while
    # the BGZF route is embarrassingly parallel with no exchange. 64 MiB
    # is the measured local break-even and the smallest size where the
    # cluster-shape argument dominates; below it the one-task decompress
    # is sub-second and not worth the split path's fixed overhead.
    use_bgzf = not use_tabix and (
        bgzf is True
        or (
            bgzf == "auto"
            and len(files) == 1
            and files[0].endswith(".gz")
            and os.path.getsize(files[0]) >= (64 << 20)
            and is_bgzf(files[0])
        )
    )
    if use_tabix:
        from functools import reduce

        from pandasvcf_spark.sources.tabix import read_tabix, region_chunks

        seq, beg1, end1 = region_parts
        shard_lines = []
        for f in files:
            idx = read_tabix(f + ".tbi")
            rid = idx.ref_id(seq)
            if rid is None:
                vr = []  # contig absent from this shard
            elif beg1 is None:
                vr = region_chunks(idx, rid, 0, 1 << 29)
            else:
                vr = region_chunks(idx, rid, beg1 - 1, end1)
            shard_lines.append(read_bgzf_virtual_ranges(spark, f, vr))
        lines = reduce(DataFrame.unionAll, shard_lines)
        spread_source = True
    elif use_bgzf:
        # Splittable path for blocked-gzip files: parallelism comes from
        # block-aligned chunk ranges — no repartition shuffle of the raw
        # text. With bgzf=True and multiple shards, EVERY shard goes
        # through the splittable source and the line streams are unioned
        # (each shard independently chunk-parallel; an earlier revision
        # silently read only files[0]). Predicates cannot cross the Arrow
        # source, but a downstream predicate on a parsed column (e.g.
        # explode_genotypes' ALT != '.') would still sit as a separate
        # FilterExec carrying the parse subtree right above it — the same
        # double-evaluation the barrier below prevents, so mark the plan
        # spread here too.
        from functools import reduce

        lines = reduce(
            DataFrame.unionAll,
            [read_bgzf_lines(spark, f) for f in files],
        )
        spread_source = True
    else:
        lines = spark.read.text(files)
        spread_source = False
    # Header lines are filtered, not skipped by count — no reliance on row
    # order, works across any number of input splits (each shard's own
    # header block is dropped here too).
    body = lines.filter(~F.col("value").startswith("#"))
    spread = spread_source
    # A .gz file is ONE split; spread raw lines across the cluster so the
    # expensive split/typed-parse work is parallel. With many .gz shards the
    # file count already provides the splits — only shuffle when it doesn't.
    # (When dedup is also requested its shuffle does the spreading — skip
    # the extra round trip of the raw text.)
    parallelism = spark.sparkContext.defaultParallelism
    if (
        not use_bgzf
        and not use_tabix
        and any(f.endswith(".gz") for f in files)
        and len(files) < parallelism
        and not dedup
    ):
        body = _spread_lines(body, parallelism)
        spread = True

    if dedup:
        # Global full-row dedup on the raw line (upgrade over the reference's
        # chunk-local dedup). Done pre-parse: duplicates never get parsed
        # twice, and MAP output columns (which Spark can't dedup on) don't
        # constrain it. One shuffle of the raw text — which is why it is
        # opt-in.
        body = body.dropDuplicates()
        spread = True

    parts = F.split(F.col("value"), "\t")
    out_cols = [
        _typed_fixed_col(name, parts, header.columns.index(name)) for name in fixed
    ]
    if sample_ids:
        if sample_ids == header.sample_ids:
            # All samples: ONE slice expression over the split array, however
            # many samples there are. Building this with N element_at calls
            # blows the generated-code size limits at panel scale (observed:
            # janino compile failure -> interpreted fallback at 209 samples),
            # so the expression tree must stay O(1) in sample count — and so
            # must the py4j calls that build it, hence one literal for the
            # keys (str_array_lit). Null-pad first so ragged lines can't
            # break map_from_arrays.
            n = len(sample_ids)
            padded = F.concat(
                parts, F.array_repeat(F.lit(None).cast("string"), 9 + n)
            )
            keys = str_array_lit(sample_ids)
            vals = F.slice(padded, 10, n)
        else:
            # Explicit subset (typically small): per-sample extraction keeps
            # unneeded columns out of the row entirely.
            keys = str_array_lit(sample_ids)
            vals = F.array(
                *[
                    F.try_element_at(parts, F.lit(header.columns.index(s) + 1))
                    for s in sample_ids
                ]
            )
        out_cols.append(F.map_from_arrays(keys, vals).alias("samples"))
    region_cond = None
    if region_parts is not None:
        # Exact overlap filter, applied on BOTH the pruned and full-scan
        # routes (the index may only over-select — bins are coarse).
        # Record span is POS .. POS+len(REF)-1, the tabix VCF preset;
        # CHROM is already chr-stripped by the parse, so normalize the
        # queried name the same way.
        seq, beg1, end1 = region_parts
        seq_norm = seq[3:] if seq.startswith("chr") else seq
        region_cond = F.col("CHROM") == F.lit(seq_norm)
        if beg1 is not None:
            region_cond = (
                region_cond
                & (F.col("POS") <= F.lit(end1))
                & (
                    F.col("POS")
                    + F.greatest(F.length("REF"), F.lit(1))
                    - F.lit(1)
                    >= F.lit(beg1)
                )
            )
    if spread:
        # Pushdown BARRIER: when the plan contains a pre-parse exchange
        # (repartition/dedup), downstream predicates must not be substituted
        # through the parse projection to below it. A predicate such as
        # `ALT != '.'` (explode_genotypes' P5, or a user's) carries the split
        # subtree, one on `samples` the whole map build, and either would run
        # on the pre-shuffle side: for a .gz input that is ONE task
        # re-parsing every line (measured: the map-build-under-repartition
        # filter turned a ~7 s flagship into minutes). A plain explode of
        # `samples` would also infer `size(samples) > 0`; explode_genotypes
        # uses explode_outer, which infers nothing, but other Generates and
        # user filters still need this. explode(array(struct(row))) emits
        # exactly one row and predicates cannot cross a Generate; the
        # inferred size(array(...)) > 0 on the barrier itself constant-folds
        # to true. Same trick, same reason as operators/dedup.py:186-192.
        # Without an exchange (splittable input) pushdown to the scan is
        # parallel and row-pruning — keep it.
        row = F.explode(F.array(F.struct(*out_cols))).alias("__row")
        out = body.select(row).select("__row.*")
    else:
        out = body.select(*out_cols)
    if region_cond is not None:
        out = out.filter(region_cond)
    return out


def vcf_to_parquet(
    spark: SparkSession,
    path: str,
    out_path: str,
    partition_by: str | None = "CHROM",
    sort_within_partitions: str | list[str] | None = "POS",
    **read_kwargs,
) -> None:
    """One-time ingest of a VCF to Parquet — the scale path. Downstream scans
    become splittable and columnar with predicate pushdown + partition
    pruning (by CHROM), which a .gz text VCF can never give.

    sort_within_partitions: cluster rows by POS inside each output file so
    parquet row-group min/max statistics make positional range queries
    (`POS BETWEEN ...`) skip row groups entirely — the poor man's Z-order
    for the (CHROM, POS) access pattern."""
    df = read_vcf(spark, path, **read_kwargs)
    if sort_within_partitions:
        cols = (
            [sort_within_partitions]
            if isinstance(sort_within_partitions, str)
            else list(sort_within_partitions)
        )
        df = df.sortWithinPartitions(*cols)
    writer = df.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(partition_by)
    writer.parquet(out_path)


def write_vcf(
    wide: DataFrame,
    out_path: str,
    header: VCFHeader,
    n_shards: int | None = None,
    sort: bool = False,
) -> None:
    """Export a wide variants DataFrame back to VCF text — a DIRECTORY of
    shard files, each carrying the full '##' header block (so every shard
    is a valid standalone VCF, and `read_vcf` on the directory round-trips
    it; the reference has no writer at all).

    Line assembly is O(1) in sample count: sample calls come from
    `map_values(samples)` joined with tab + '.'-for-null, which relies on
    the map preserving its construction order (true for maps built by
    `read_vcf` — keys in header order — and preserved through parquet).
    If your map was built in a different key order, re-order it first with
    map_from_arrays over the header's sample ids.

    QUAL serializes via its string cast ('50.0'): byte-different from a
    source '50' but value-identical after re-parse — round-trip fidelity
    is at the DataFrame level, asserted by tests.

    n_shards: shard-file count, honored with or without sort (under sort
    it becomes the range-partition count, so the global order still holds
    across exactly n_shards files). A partition that ends up empty (e.g.
    n_shards > rows) still gets the full header block, so every emitted
    shard — including empty ones — is a valid standalone VCF and the
    directory read-back never sees a header-less file. sort: global
    CHROM/POS order across shards (range exchange; off by default, same
    rationale as annotate_vcf)."""
    from pyspark.sql import functions as F  # noqa: F811 (local clarity)

    fixed = [c for c in FIXED_COLS if c in wide.columns]

    def _fmt(name):
        return F.coalesce(F.col(name).cast("string"), F.lit("."))

    pieces = [_fmt(c) for c in fixed]
    cols = F.concat_ws("\t", *pieces)
    if "samples" in wide.columns:
        calls = F.array_join(
            F.map_values("samples"), "\t", null_replacement="."
        )
        line = F.when(
            F.size(F.map_values("samples")) > 0,
            F.concat_ws("\t", cols, calls),
        ).otherwise(cols)
    else:
        line = cols
    if sort and n_shards:
        # repartitionByRange + sortWithinPartitions == orderBy with an
        # explicit partition count: contiguous key ranges per shard,
        # sorted within, so concatenating shards in filename order is the
        # globally sorted file — and the shard count is the caller's, not
        # spark.sql.shuffle.partitions (an earlier revision silently
        # ignored n_shards under sort).
        wide = wide.repartitionByRange(
            n_shards, "CHROM", "POS"
        ).sortWithinPartitions("CHROM", "POS")
    elif sort:
        wide = wide.orderBy("CHROM", "POS")
    elif n_shards:
        wide = wide.repartition(n_shards)
    body = wide.select(line.alias("value"))

    header_lines = list(header.meta_lines) + ["#" + "\t".join(header.columns)]

    def add_header(batches):
        import pyarrow as pa

        first = True
        for batch in batches:
            if first:
                # mirror the incoming batch's exact schema (string vs
                # large_string differs by Arrow config; a mismatched batch
                # schema fails the stream writer)
                yield pa.RecordBatch.from_arrays(
                    [
                        pa.array(
                            header_lines, type=batch.schema.field(0).type
                        )
                    ],
                    schema=batch.schema,
                )
                first = False
            yield batch
        if first:
            # Empty partition (n_shards > rows): emit the header anyway so
            # the shard is a valid standalone VCF instead of a header-less
            # empty file that breaks a later multi-file read.
            yield pa.RecordBatch.from_arrays(
                [pa.array(header_lines, type=pa.string())],
                ["value"],
            )

    body.mapInArrow(add_header, "value string").write.mode(
        "overwrite"
    ).text(out_path)

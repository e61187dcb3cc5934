"""Document deduplication operators — exact, MinHash-LSH, SimHash.

Beyond-reference extension surface (SURVEY §2.11): the dedup passes a
training-data pipeline runs over a `documents` table. The reference's only
dedup is full-row `drop_duplicates()` (pandasvcf.py:175); here that
generalizes to content-defined keys and near-duplicate detection.

Scale design (the whole point at 100 TB):
  * Exact dedup groups on an 8-byte fingerprint (xxhash64 of normalized
    text), never on the full text — the shuffle moves hashes, not documents.
  * MinHash near-dup does shingles → hash-once → signature aggregation →
    LSH banding → ONE grouped aggregation per (band, key) bucket with
    streaming in-bucket pair expansion. There is NO all-pairs crossJoin
    anywhere, so cost is O(sum of bucket²) pairs, not O(n²).
  * SimHash mirrors that exact plan over banded 16-bit key chunks, with a
    portable (ANSI-SQL-reproducible) hash family so it stays oracle-checked.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from pandasvcf_spark.functions.text import (
    bound_expr,
    fingerprint_expr,
    words_expr,
)


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def _dropped_bucket_stats(buckets: DataFrame, ids_col: str, cap: int) -> DataFrame:
    """Accounting for the buckets a `max_bucket_size` cap discards: one row
    (n_buckets BIGINT, n_entries BIGINT, max_bucket BIGINT). `n_entries`
    counts bucket membership, not distinct docs — a doc in two dropped
    mega-buckets counts twice (distinct-doc accounting would need another
    explode+distinct over exactly the rows the cap exists to avoid).
    Returned LAZY and sharing the bucket-aggregation subtree; materializing
    it is a separate job that recomputes that subtree (Spark does not reuse
    exchanges across jobs) — opt-in telemetry, not a hot-path cost."""
    over = buckets.filter(F.size(ids_col) > cap)
    return over.agg(
        F.count(F.lit(1)).alias("n_buckets"),
        F.coalesce(F.sum(F.size(ids_col)), F.lit(0)).alias("n_entries"),
        F.coalesce(F.max(F.size(ids_col)), F.lit(0)).alias("max_bucket"),
    )


def dedup_exact(
    df: DataFrame,
    key: Column | str,
    order_by: list[Column] | None = None,
) -> DataFrame:
    """Keep exactly one row per dedup key (first by `order_by` — give a
    unique order for deterministic survivors). Equivalent declared query:
    ``... QUALIFY row_number() OVER (PARTITION BY key ORDER BY ...) = 1``.

    Without `order_by` the tie-break is the stable hash of the FULL row —
    deterministic across partitionings, retries and runs (unlike
    `monotonically_increasing_id`, whose value depends on task layout).
    Rows identical in every column tie under the hash; whichever survives,
    the surviving CONTENT is identical, so the output is still stable.
    """
    order_by = order_by or [F.xxhash64(*[F.col(c) for c in df.columns])]
    w = Window.partitionBy(_c(key)).orderBy(*order_by)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def dedup_stats(
    df: DataFrame,
    key: Column | str,
    id_col: Column | str,
) -> DataFrame:
    """Grouped dedup summary: per dedup key, the kept (minimum) id and the
    duplicate count. The aggregation-shaped twin of `dedup_exact` — map-side
    partial aggregation makes this the cheapest possible dedup accounting.
    Output: kept_id BIGINT, dup_cnt BIGINT."""
    return df.groupBy(_c(key).alias("__key")).agg(
        F.min(_c(id_col)).cast("long").alias("kept_id"),
        F.count(F.lit(1)).alias("dup_cnt"),
    ).drop("__key")


def dedup_documents(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Exact-dedup a documents table on the normalized-text fingerprint
    (whitespace/case noise ignored). Keeps the lowest doc_id per group."""
    return dedup_exact(
        df.withColumn("__fp", fingerprint_expr(text_col)),
        "__fp",
        order_by=[F.col("doc_id")],
    ).drop("__fp")


def near_dedup_documents(
    df: DataFrame,
    id_col: str,
    shingles: Column,
    num_hashes: int = 64,
    bands: int = 16,
    min_jaccard: float = 0.9,
    method: str = "label",
    repartition_to: int | None = None,
    max_bucket_size: int | None = None,
    quality: Column | None = None,
) -> DataFrame:
    """END-TO-END near-duplicate removal — the one-call pipeline a corpus
    cleaning job actually runs: MinHash-LSH candidate pairs (Jaccard-
    verified) → connected components (so A~B, B~C drops BOTH B and C even
    though A~C was never a pair) → keep one survivor per cluster. Returns
    the surviving rows of `df`, all columns intact.

    Survivor selection: minimum id by default; pass `quality` (any column
    expression over `df`'s rows — a score, a length, a source-priority
    rank) to instead keep each cluster's HIGHEST-quality member (ties
    break to the minimum id, so selection stays total and deterministic).
    Keep-best is what production cleaning actually wants — dropping the
    well-formatted original because its mojibake copy had a smaller id is
    a real corpus-quality bug of keep-min pipelines.

    Composition of `minhash_near_dup_pairs` + `connected_components`
    (see each for the plan-shape and scale story); survivor selection
    touches only COMPONENT MEMBERS — a relation sized by the number of
    duplicates, not the corpus: the quality ranking is a window over the
    members-only join, and the final drop is one broadcast-able anti-join.
    `method='star'` switches the closure to star contraction for
    adversarially-chained duplicate clusters."""
    pairs = minhash_near_dup_pairs(
        df,
        id_col,
        shingles,
        num_hashes=num_hashes,
        bands=bands,
        min_jaccard=min_jaccard,
        repartition_to=repartition_to,
        max_bucket_size=max_bucket_size,
    ).select("id_a", "id_b")
    comp = connected_components(pairs, method=method)
    if quality is None:
        losers = comp.filter(F.col("id") != F.col("component")).select(
            F.col("id").alias("__loser")
        )
    else:
        # Rank only the members (|members| ~ duplicates << corpus): one
        # join pulls each member's quality, one window per component picks
        # the best. The join build side is the component map — broadcast-
        # sized in the same regime the anti-join below already assumes.
        members = df.select(
            _c(id_col).alias("__mid"), quality.alias("__q")
        ).join(comp, F.col("__mid") == comp["id"], "inner")
        w = Window.partitionBy("component").orderBy(
            F.col("__q").desc_nulls_last(), F.col("__mid")
        )
        losers = (
            members.withColumn("__rk", F.row_number().over(w))
            .filter(F.col("__rk") > 1)
            .select(F.col("__mid").alias("__loser"))
        )
    return df.join(
        losers, df[id_col] == F.col("__loser"), "left_anti"
    )


def near_dedup_incremental(
    base: DataFrame,
    new: DataFrame,
    id_col: str,
    shingles: Column,
    num_hashes: int = 64,
    bands: int = 16,
    min_jaccard: float = 0.9,
    method: str = "label",
    repartition_to: int | None = None,
    max_bucket_size: int | None = None,
    base_band_keys: DataFrame | None = None,
    base_shingles: DataFrame | None = None,
) -> DataFrame:
    """Incremental near-duplicate removal: dedup a NEW batch against an
    already-clean BASE corpus — the recurring-crawl pipeline shape.
    Returns the SURVIVING rows of `new` (base is kept as-is by contract):
    a new doc is dropped when its near-dup component contains any base
    doc (the corpus already has a representative), and all-new components
    keep their minimum-id member. Ids must be unique across both sides;
    schemas must match.

    Scale story — the reason this exists instead of "union and rerun
    near_dedup_documents": pair expansion filters old×old pairs INSIDE
    the bucket stage (see minhash_near_dup_pairs' incremental_col), so
    the historical corpus contributes a linear signature pass but no
    quadratic pair term, and candidate verification + closure +
    survivor selection all run on relations sized by the NEW batch's
    duplicates. Closing over cross pairs only is lossless for survivor
    selection: a base-base edge can only merge components that each
    already contain a base doc, and both verdicts ("has base → drop new
    members") are identical merged or not; all-new components never
    involve base edges.

    base_band_keys: the corpus's persisted LSH index (`minhash_band_keys`
    output, written once at corpus-build time). With it, the base is
    never re-tokenized or re-hashed — each batch pays signatures for
    ITSELF plus a scan of 12-byte index rows and a candidate-pruned
    lookup of base texts for verification. This is the production
    recurring-crawl shape; without it the base still pays a linear
    signature pass per batch (and at fixture scale the extra survivor
    jobs outweigh the pair savings — the win needs the index or a base
    that dwarfs the batch).

    base_shingles: the corpus's persisted shingle-set sidecar
    (`minhash_shingle_sidecar` output, written beside the band-key
    index). With it, Jaccard verification joins candidate ids against
    precomputed sets instead of scanning base TEXTS and tokenizing each
    candidate instance — with base_band_keys AND base_shingles together
    the base's text payloads are never read at all: the per-batch cost
    is the batch's own signatures + the pruned 12-byte index scan + a
    candidate-pruned sidecar probe. Jaccards are bit-identical (the
    sidecar stores exactly the `array_distinct`'d operand; intersection
    and sizes are order-insensitive)."""
    b = base.withColumn("__nw", F.lit(False))
    n = new.withColumn("__nw", F.lit(True))
    u = b.unionByName(n)
    keys = None
    if base_band_keys is not None:
        nk = minhash_band_keys(
            new,
            id_col,
            shingles,
            num_hashes=num_hashes,
            bands=bands,
            repartition_to=repartition_to,
        ).localCheckpoint(eager=True)  # batch-sized; feeds the bucket
        # union AND the touched-bucket prune below without re-hashing
        # Touched-bucket prune (the semdedup touched-cell device carried
        # to LSH): a base index row whose (band, key) no new doc shares
        # can only sit in an old-only bucket, and old×old pairs are
        # filtered inside the expansion anyway — so semi-joining the
        # base index on the batch's ≤ |new|·bands distinct keys (a
        # broadcast) is lossless for the pair set while the bucket
        # aggregation's shuffle drops from O(|base|·bands) rows to the
        # collided rows only (round 15, guide §2.3/§3.2 — prune the big
        # side before the shuffle with a semi-join).
        keys = (
            base_band_keys.select("id", "band", "key")
            .join(
                F.broadcast(nk.select("band", "key").distinct()),
                ["band", "key"],
                "left_semi",
            )
            .withColumn("new", F.lit(False))
            .unionByName(nk.withColumn("new", F.lit(True)))
        )
    sets = None
    if base_shingles is not None:
        # Verification operand sets: the base side from the persisted
        # sidecar, the batch side tokenized fresh (batch-sized). The
        # union replaces the full (base ∪ new) TEXT scan in the verify
        # regroup — base text payloads are never read.
        sets = base_shingles.select("id", "shingles").unionByName(
            minhash_shingle_sidecar(new, id_col, shingles)
        )
    pairs = minhash_near_dup_pairs(
        u,
        id_col,
        shingles,
        num_hashes=num_hashes,
        bands=bands,
        min_jaccard=min_jaccard,
        repartition_to=repartition_to,
        max_bucket_size=max_bucket_size,
        incremental_col="__nw",
        band_keys=keys,
        shingle_sets=sets,
    ).select("id_a", "id_b")
    comp = connected_components(pairs, method=method)
    # Base/new flag for the component members: ids are unique across
    # both sides by contract, so membership in the BATCH's id set (a
    # batch-sized broadcast) IS the flag — the former base/new recovery
    # join scanned the whole (base ∪ new) union per run just to re-read
    # a column derivable from the batch alone (round 16, guide §2.4:
    # the duplicates-sized component map never needs a corpus-sized
    # probe). Pair ids come from the union by construction, so the
    # dropped inner join with `u` filtered nothing.
    members = comp.join(
        F.broadcast(
            new.select(F.col(id_col).alias("id")).withColumn(
                "__nw", F.lit(True)
            )
        ),
        "id",
        "left",
    ).withColumn("__nw", F.coalesce(F.col("__nw"), F.lit(False)))
    stats = members.groupBy("component").agg(
        F.max(F.when(~F.col("__nw"), True).otherwise(False)).alias("__has_base"),
        F.min(F.when(F.col("__nw"), F.col("id"))).alias("__min_new"),
    )
    losers = (
        members.join(stats, "component")
        .filter(
            F.col("__nw")
            & (F.col("__has_base") | (F.col("id") != F.col("__min_new")))
        )
        .select(F.col("id").alias("__loser"))
    )
    # losers ≤ |new| by construction (only new-side members can lose), so
    # broadcast the anti-join's build side: without the hint the planner
    # shuffled the whole NEW relation into a sort-merge anti-join (the
    # before-plan's Exchange over every union arm — round 16, guide §3.1).
    # localCheckpoint first: the anti-join gets pushed below `new`'s
    # union arms and each arm re-builds the broadcast otherwise (no
    # exchange reuse across broadcast builds), re-running the members/
    # stats subtree per arm; the checkpointed relation is batch-bounded,
    # so materializing it is cheap at any scale (guide §5).
    return new.join(
        F.broadcast(losers.localCheckpoint()),
        new[id_col] == F.col("__loser"),
        "left_anti",
    )


# ---------------------------------------------------------------------------
# MinHash + LSH near-duplicate detection
# ---------------------------------------------------------------------------

_MERSENNE31 = (1 << 31) - 1


def _affine_coeffs(n: int) -> list[tuple[int, int]]:
    """Deterministic (a_i, b_i) pairs for the universal hash family
    (a*h + b) mod 2^31-1, from a fixed LCG so signatures are reproducible
    across sessions without depending on Python's `random` internals."""
    coeffs, state = [], 0x5DEECE66D
    for _ in range(n):
        state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 63)
        a = state % (_MERSENNE31 - 1) + 1  # a in [1, p-1]
        state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 63)
        b = state % _MERSENNE31  # b in [0, p-1]
        coeffs.append((a, b))
    return coeffs


def minhash_signature_expr(shingles: Column, num_hashes: int = 64) -> Column:
    """ARRAY<BIGINT> MinHash signature over a shingle array.

    Hash family i (i = 0..num_hashes-1) is ``xxhash64(shingle, i)`` — the
    seed column makes the families independent; the signature element is the
    min over the row's shingles. Pure nested higher-order functions: the whole
    signature is computed JVM-side inside one projection, no shuffle, no UDF.
    Empty shingle arrays yield NULL elements (filtered by callers)."""
    return F.transform(
        F.sequence(F.lit(0), F.lit(num_hashes - 1)),
        lambda i: F.array_min(F.transform(shingles, lambda s: F.xxhash64(s, i))),
    )


def _bands_df(
    df: DataFrame,
    id_col: str,
    shingles: Column,
    num_hashes: int,
    bands: int,
    repartition_to: int | None,
    incremental_col: str | None,
    shingle_col_out: str = "__sh",
) -> DataFrame:
    """(__id [, __nw], __band STRUCT<band INT, key BIGINT>) — the LSH band
    keys of every document, one row per (doc, band). Factored out of
    `minhash_near_dup_pairs` unchanged (see its docstring for the measured
    plan rationale: Generate barrier, hash-once signature agg, affine
    family instead of 64 inlined xxhash64 calls)."""
    rows_per_band = num_hashes // bands
    if repartition_to:
        df = df.repartition(repartition_to, F.col(id_col))
    # explode(array(...)) is a Generate BARRIER around the shingle
    # expression: the downstream explode makes InferFiltersFromGenerate
    # synthesize `size(shingles) > 0`, and without the barrier that filter —
    # carrying the full tokenize/n-gram subtree — is substituted through the
    # projection and repartition exchange down to the scan, where it
    # re-tokenizes every document on the (few) input partitions. Measured:
    # the inferred filter alone was 19s of the 24s wall at sf0.1. Predicates
    # on a Generate's output cannot be pushed below the Generate.
    marker = [F.col(incremental_col).alias("__nw")] if incremental_col else []
    keyed = df.select(
        F.col(id_col).alias("__id"),
        *marker,
        F.explode(F.array(shingles)).alias(shingle_col_out),
    )
    # Signature plan: explode shingles -> hash each shingle string ONCE ->
    # num_hashes affine re-hashes of the base -> min-aggregate by doc.
    # Map-side combine collapses each doc to one num_hashes-long row before
    # the shuffle, so the exchange is |docs| x ~8*num_hashes B regardless of
    # shingle count. (The pure-expression form `minhash_signature_expr` is
    # kept as API, but a nested-HOF signature re-evaluates the shingle
    # subtree per hash family — 64x the regex/string work; measured 70s ->
    # 3s at sf0.1.)
    #
    # The per-family hash is the classic universal family
    # (a_i*h + b_i) mod (2^31-1) over the 31-bit fold of the base xxhash64
    # — NOT another xxhash64(h, i): 64 inlined xxhash64 calls blow the
    # generated aggregate past the JIT's huge-method limit and the stage
    # runs interpreted (measured 6x slower cold). The affine form is three
    # arithmetic ops per family, stays ANSI-overflow-safe (operands < 2^31,
    # products < 2^62), and is a standard minwise family; exactness never
    # depends on it because candidates are Jaccard-verified.
    carry = ["__nw"] if incremental_col else []
    hashed = keyed.select(
        "__id", *carry, F.explode(F.col(shingle_col_out)).alias("__s")
    ).select(
        "__id",
        *carry,
        (F.xxhash64("__s").bitwiseAND(F.lit(_MERSENNE31))).cast("long").alias("__h"),
    )
    sig = hashed.groupBy("__id", *carry).agg(
        *[
            F.min((F.lit(a) * F.col("__h") + F.lit(b)) % F.lit(_MERSENNE31)).alias(
                f"__m{i}"
            )
            for i, (a, b) in enumerate(_affine_coeffs(num_hashes))
        ]
    )
    # Band key = one xxhash64 over the band's signature slice (+ band index).
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).cast("int").alias("band"),
                F.xxhash64(
                    *[F.col(f"__m{b * rows_per_band + r}") for r in range(rows_per_band)],
                    F.lit(b),
                ).alias("key"),
            )
            for b in range(bands)
        ]
    )
    return sig.select("__id", *carry, F.explode(band_structs).alias("__band"))


def minhash_band_keys(
    df: DataFrame,
    id_col: str,
    shingles: Column,
    num_hashes: int = 64,
    bands: int = 16,
    repartition_to: int | None = None,
) -> DataFrame:
    """The persistable LSH INDEX of a corpus: (id, band INT, key BIGINT),
    one row per (doc, band). Write this once at corpus-build time and
    hand it to `near_dedup_incremental(base_band_keys=...)` — each
    incoming batch then computes signatures only for ITSELF and the
    historical corpus contributes a table scan of precomputed 12-byte
    rows instead of a full re-tokenize/re-hash pass. The parameters
    (num_hashes, bands and the shingle definition) are part of the
    index's identity — a batch checked with different parameters against
    a stored index silently finds nothing; store them alongside."""
    b = _bands_df(
        df, id_col, shingles, num_hashes, bands, repartition_to, None
    )
    return b.select(
        F.col("__id").alias("id"),
        F.col("__band.band").alias("band"),
        F.col("__band.key").alias("key"),
    )


def minhash_shingle_sidecar(
    df: DataFrame, id_col: str, shingles: Column
) -> DataFrame:
    """The persistable SHINGLE-SET sidecar of a corpus: (id, shingles
    ARRAY<STRING>), the `array_distinct`'d shingle set of every document
    — exactly the operand Jaccard verification computes from text on
    every batch. Write it beside `minhash_band_keys`' index at
    corpus-build time and hand it to
    `near_dedup_incremental(base_shingles=...)`: verification then reads
    precomputed sets for the base side instead of scanning base TEXTS
    and re-tokenizing every candidate per batch. Like the band-key
    index, the shingle definition is part of the sidecar's identity —
    a batch verified with different shingles against a stored sidecar
    computes wrong Jaccards; store the parameters alongside."""
    return df.select(
        _c(id_col).alias("id"), F.array_distinct(shingles).alias("shingles")
    )


def minhash_near_dup_pairs(
    df: DataFrame,
    id_col: str,
    shingles: Column,
    num_hashes: int = 64,
    bands: int = 16,
    min_jaccard: float | None = None,
    shingle_col_out: str = "__sh",
    repartition_to: int | None = None,
    max_bucket_size: int | None = None,
    return_dropped: bool = False,
    incremental_col: str | None = None,
    band_keys: DataFrame | None = None,
    shingle_sets: DataFrame | None = None,
) -> DataFrame:
    """Candidate near-duplicate id pairs via banded MinHash LSH.

    incremental_col: name of a BOOLEAN column in `df` marking the "new"
    side. When set, only pairs touching at least one marked doc are
    emitted — the recurring-crawl shape ("dedup this batch against the
    corpus") where re-pairing the historical corpus with itself is pure
    waste: the old×old quadratic term vanishes from pair expansion while
    signatures still cost one linear pass over both sides. None (the
    default) keeps the exact original plan.

    Plan shape: explode(shingles) → hash-once → signature agg → band keys →
    groupBy(band, key) collecting each bucket's ids → in-bucket pair
    expansion → distinct pairs (id_a < id_b). Candidate generation is ONE
    grouped aggregation over |docs|×bands rows — never a crossJoin, and (by
    collecting buckets instead of self-joining on the band key) the
    signature pipeline is computed exactly once. A band self-join reads the
    signature subtree twice, and Spark does not reuse the exchange across
    the two sides (measured: the full verify plan re-scanned the corpus 40×);
    the grouped form is both the faster and the more scale-honest shape —
    cost is O(sum of bucket²) pairs, materialized as array expansion within
    each bucket row.

    With `min_jaccard`, candidates are verified with the exact shingle-set
    Jaccard (computed only on the candidate pairs, which are few) in one
    linear stack→join→regroup pass — see the inline comment for why the
    plan deliberately avoids any reuse diamond over the pair set.

    repartition_to: spread the corpus over N partitions before the
    per-shingle hash work. The tokenize/hash stages inherit the SCAN's
    partitioning; a small-file corpus (one parquet row group) otherwise runs
    them on 1-2 tasks regardless of cluster size. At real scale the scan
    already yields thousands of partitions — leave None there; set it (e.g.
    to defaultParallelism) when the input is few-files-small.

    max_bucket_size: drop band buckets holding more than this many docs
    before pair expansion. A mega-bucket means a near-identical cluster
    (better handled by exact dedup first) and would expand to bucket²
    pairs; capping bounds both memory and output skew. None = lossless
    (required when an oracle recomputes the exact pair set).

    return_dropped: also return the accounting DataFrame for what the cap
    discarded (see `_dropped_bucket_stats`) as (pairs, dropped) — at scale
    a silent cap reads as "covered everything" when it didn't.

    band_keys: precomputed LSH index (id, band, key — `minhash_band_keys`
    output; plus a BOOLEAN `new` column when incremental_col is set) that
    REPLACES the internal signature pipeline; `df` then serves only
    Jaccard verification (scanned with the candidate prune, never
    re-hashed). num_hashes/bands/shingles must match the index's build
    parameters.

    shingle_sets: precomputed (id, shingles ARRAY<STRING>) relation
    (`minhash_shingle_sidecar` output, or a union of sidecars) that
    REPLACES `df` in Jaccard verification: the regroup joins the
    candidate ids against precomputed `array_distinct`'d sets instead of
    scanning `df`'s text payloads and tokenizing each candidate
    instance. Bit-identical Jaccards: intersection/size are order-
    insensitive and the sidecar stores exactly `array_distinct(
    shingles)`. With band_keys AND shingle_sets both supplied, `df` is
    never touched. The shingle definition must match the sidecar's
    build parameters.

    Output: id_a, id_b (+ jaccard DOUBLE when verifying).
    """
    if return_dropped and max_bucket_size is None:
        raise ValueError("return_dropped requires max_bucket_size")
    if band_keys is not None:
        carry = ["__nw"] if incremental_col else []
        bands_df = band_keys.select(
            F.col("id").alias("__id"),
            *(["new"] if incremental_col else []),
            F.struct(
                F.col("band").cast("int").alias("band"),
                F.col("key").cast("long").alias("key"),
            ).alias("__band"),
        )
        if incremental_col:
            bands_df = bands_df.withColumnRenamed("new", "__nw")
    else:
        bands_df = _bands_df(
            df,
            id_col,
            shingles,
            num_hashes,
            bands,
            repartition_to,
            incremental_col,
            shingle_col_out,
        )
        carry = ["__nw"] if incremental_col else []
    # One grouped agg per (band, key) bucket; docs are unique within a bucket
    # (each doc emits one key per band), sorted for deterministic id_a < id_b.
    # collect_list, not collect_set: ids are already unique per bucket, so
    # the set's per-insert hash probe buys nothing — the list buffer is a
    # plain append (round 15, guide §1.2 per-task work).
    # Incremental mode collects (id, new) structs instead of bare ids —
    # sort_array orders structs by their first field, so id order (and with
    # it the id_a < id_b contract) is unchanged.
    elem = (
        F.struct(F.col("__id"), F.col("__nw")) if incremental_col else F.col("__id")
    )
    buckets = (
        bands_df.groupBy("__band")
        .agg(F.sort_array(F.collect_list(elem)).alias("__ids"))
        .filter(F.size("__ids") > 1)
    )
    dropped = None
    if max_bucket_size is not None:
        if return_dropped:
            dropped = _dropped_bucket_stats(buckets, "__ids", max_bucket_size)
        buckets = buckets.filter(F.size("__ids") <= max_bucket_size)
    # Streaming i<j pair expansion in two chained generators: posexplode the
    # bucket's id array (keeping the array), then explode each element's
    # suffix slice. Peak per-row state is O(bucket) — one id array per
    # element row — never the O(bucket²) single flattened pair array a
    # one-shot expansion would build, so an uncapped mega-bucket degrades
    # into many small rows instead of one task-OOM-sized row. Both explodes
    # run in the same stage; no extra shuffle.
    if incremental_col:
        pairs = (
            buckets.select("__ids", F.posexplode("__ids").alias("__i", "__ea"))
            .select(
                F.col("__ea.__id").alias("id_a"),
                F.col("__ea.__nw").alias("__na"),
                F.explode(
                    F.slice(F.col("__ids"), F.col("__i") + 2, F.size("__ids"))
                ).alias("__eb"),
            )
            # the whole point: old×old pairs never materialize past this
            # in-stage filter, so the historical corpus carries no
            # quadratic term
            .filter(F.col("__na") | F.col("__eb.__nw"))
            .select("id_a", F.col("__eb.__id").alias("id_b"))
            .dropDuplicates(["id_a", "id_b"])
        )
    else:
        pairs = (
            buckets.select("__ids", F.posexplode("__ids").alias("__i", "id_a"))
            .select(
                "id_a",
                F.explode(
                    F.slice(F.col("__ids"), F.col("__i") + 2, F.size("__ids"))
                ).alias("id_b"),
            )
            .dropDuplicates(["id_a", "id_b"])
        )
    if min_jaccard is None:
        return (pairs, dropped) if return_dropped else pairs
    # Exact-Jaccard verification only on the (few) candidates, as ONE linear
    # pipeline: stack each pair into two (pair, id) rows, broadcast-join the
    # stacked ids against the per-doc shingle table (tokenizing each doc at
    # most once), then group the pair back together and compare its two
    # shingle sets. The earlier diamond shape (pairs feeding a semi-join
    # prune AND two id-keyed joins) planned `pairs` as three racing
    # broadcast-subquery jobs, each recomputing the whole signature pipeline
    # — measured 3× the work of this form. Broadcasting the stacked pairs is
    # the operator's contract (candidates are few by LSH construction;
    # `max_bucket_size` bounds the worst case); the corpus side is never
    # shuffled, and only matched candidates reach the regroup exchange.
    stacked = pairs.select(
        "id_a", "id_b", F.explode(F.array("id_a", "id_b")).alias("__id")
    )
    # Precondition: id_col is unique per document (any sane corpus key).
    # Each side's shingle set is picked by a conditional aggregate keyed on
    # its OWN id — a duplicated id can at worst supply either duplicate's
    # shingles; it can never pair a document's shingles with themselves the
    # way a positional collect_list().getItem(0/1) silently would.
    #
    # Tokenize AFTER the broadcast join, not before: projecting the shingle
    # set on the corpus side first re-tokenizes EVERY document (a second
    # full-corpus tokenize pass) when only candidate docs need shingles —
    # the join itself is the prune, so computing `shingles` on the join
    # OUTPUT tokenizes O(candidate pair instances) rows instead of
    # O(corpus). A doc in k pairs tokenizes k times here; at scale
    # candidates ≪ corpus so that trade is right, and even on the
    # dup-heavy catalog corpus (50% planted copies — pair instances ≈
    # corpus) it measured 8.3 s → 2.9 s at sf0.1 (round 6). (Round 15
    # re-tested the once-per-distinct-candidate variant — group the pair
    # list per doc before the broadcast, explode it back after the shingle
    # projection: the extra pair-side aggregate + re-explode cost MORE
    # than the saved tokenizations at every measured shape, 2.02 s →
    # 2.48 s min-of-3; kept the instance-stacked form.)
    if shingle_sets is not None:
        # Sidecar arm (round 16, guide §6/§2.3): the per-id sets are
        # precomputed, so the probe side scans (id, shingles) rows
        # instead of text payloads and pays zero tokenization — the
        # per-batch verify cost stops re-deriving base-side sets.
        joined = shingle_sets.join(
            F.broadcast(stacked),
            shingle_sets["id"] == F.col("__id"),
        ).select("id_a", "id_b", "__id", F.col("shingles").alias("__sh"))
    else:
        joined = df.join(
            F.broadcast(stacked), df[id_col] == F.col("__id")
        ).select(
            "id_a", "id_b", "__id", F.array_distinct(shingles).alias("__sh")
        )
    regroup = (
        joined
        .groupBy("id_a", "id_b")
        .agg(
            F.first(
                F.when(F.col("__id") == F.col("id_a"), F.col("__sh")),
                ignorenulls=True,
            ).alias("__sa"),
            F.first(
                F.when(F.col("__id") == F.col("id_b"), F.col("__sh")),
                ignorenulls=True,
            ).alias("__sb"),
        )
    )
    s0, s1 = F.col("__sa"), F.col("__sb")
    inter = F.size(F.array_intersect(s0, s1))
    # |A∪B| = |A| + |B| − |A∩B| — exact for the array_distinct'd operands,
    # and skips materializing the union array (array_union builds a second
    # per-pair hash set + output array; the sizes are already paid for —
    # round 15, guide §1.2 per-task work).
    union = F.size(s0) + F.size(s1) - inter
    jac = F.when(union == 0, F.lit(0.0)).otherwise(inter / union.cast("double"))
    # Generate barrier around the jaccard expression: the threshold filter
    # otherwise substitutes the whole intersect subtree into a Filter node
    # ABOVE the projection (both evaluated per pair — the before-plan's
    # nodes 38/39 each carried the full CASE), doubling the per-pair set
    # work. explode(array(...)) emits exactly one row and predicates cannot
    # cross a Generate, so intersect runs once per pair.
    verified = (
        regroup.select(
            "id_a", "id_b", F.explode(F.array(jac)).alias("jaccard")
        )
        .filter(F.col("jaccard") >= min_jaccard)
        .select("id_a", "id_b", "jaccard")
    )
    return (verified, dropped) if return_dropped else verified


def ngram_jaccard_expr(a_words: Column, b_words: Column) -> Column:
    """Exact Jaccard similarity of two (already-tokenized) arrays."""
    da, db = F.array_distinct(a_words), F.array_distinct(b_words)
    inter = F.size(F.array_intersect(da, db))
    # set identity |A∪B| = |A| + |B| − |A∩B|: skips the union array build
    union = F.size(da) + F.size(db) - inter
    return F.when(union == 0, F.lit(0.0)).otherwise(inter / union.cast("double"))


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

def _vote_bit(votes: Column, i: int) -> Column:
    """1<<i when the i-th bit vote is positive, else 0 (literal shift —
    Spark's shiftleft takes a Python int, not a column)."""
    return F.when(
        votes.getItem(i) > 0, F.shiftleft(F.lit(1).cast("long"), i)
    ).otherwise(F.lit(0).cast("long"))


def simhash_expr(tokens: Column, bits: int = 64) -> Column:
    """64-bit SimHash over a token array, returned as BIGINT.

    Per bit position: sum +1/-1 votes of each token's xxhash64 bit; the
    fingerprint bit is 1 when the vote is positive. Near-duplicate documents
    land within small Hamming distance.

    Pure column expression: each token is hashed ONCE into a hash array,
    then the 64 bit-votes fold over those 8-byte hashes (bit positions are
    unrolled as literal shifts — Spark shift functions take Python ints).
    For corpus-scale runs prefer `simhash_near_dup_pairs`, whose explode +
    aggregate plan keeps the work strictly once-per-token."""
    hashes = F.transform(tokens, lambda t: F.xxhash64(t))

    def _vote_fold(i):
        # closure factory: the fold lambda must be exactly 2-arg (acc, x) —
        # a default-arg third parameter changes its arity for PySpark
        return lambda acc, h: acc + F.when(
            F.shiftright(h, i).bitwiseAND(F.lit(1)) == 1, 1
        ).otherwise(-1)

    votes = F.array(
        *[
            F.aggregate(hashes, F.lit(0).cast("long"), _vote_fold(i))
            for i in range(bits)
        ]
    )
    out = _vote_bit(votes, 0)
    for i in range(1, bits):
        out = out.bitwiseOR(_vote_bit(votes, i))
    return out


def simhash_hamming_expr(a: Column, b: Column) -> Column:
    """Hamming distance between two 64-bit SimHash keys (popcount of XOR)."""
    x = a.bitwiseXOR(b)
    return F.bit_count(x)


def simhash_near_dup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    max_hamming: int = 3,
    band_bits: int = 16,
    repartition_to: int | None = None,
    max_bucket_size: int | None = None,
    return_dropped: bool = False,
) -> DataFrame:
    """Near-dup pairs by banded 64-bit SimHash, exact-Hamming filtered.

    Hash family (portable by design): each token's base hash is the
    polynomial 31-bit hash `poly_hash_expr` and bit i's vote sign is the
    parity of the affine transform (a_i*h + b_i) mod 2^31-1 over the shared
    `_affine_coeffs` family — three arithmetic ops per (token, bit), fully
    reproducible in ANSI SQL, so the catalog entry carries an exact DuckDB
    oracle (the previous xxhash64 base had no SQL twin and left this the
    one rows-only catalog row). The 64-bit key is never assembled into one
    BIGINT: it lives as 64/band_bits chunk values (< 2^band_bits), which
    sidesteps the bit-63 sign problem on both engines and feeds banding
    directly; Hamming distance = sum of per-chunk XOR popcounts.

    Plan shape (mirrors `minhash_near_dup_pairs` — single scan, no
    self-join): explode tokens → hash each once → 64 parity-vote sums in
    ONE grouped aggregation (map-side combined; the exchange is
    |docs| × 64 longs) → chunk assembly → explode (band, val) → ONE grouped
    aggregation collecting each bucket's (id, chunks) structs → streaming
    in-bucket i<j pair expansion → exact Hamming filter. The corpus is
    scanned once: the previous shape self-joined on the banded key, and
    Spark does not reuse the exchange across the two sides of a self-join —
    the same double-compute defect measured and fixed for MinHash in round
    3 (commit be2d3a6), now carried over.

    Banding losslessness: a pair within Hamming max_hamming differs in at
    most max_hamming chunks, so with 64/band_bits > max_hamming chunks they
    agree on at least one — every true pair is a candidate (pigeonhole).
    Raises when the parameters break that guarantee.

    repartition_to: see `minhash_near_dup_pairs` — spreads a small-file
    corpus before the per-token hash stages; leave None on real-scale scans.
    max_bucket_size: drop (band, val) buckets above this size before pair
    expansion — same skew cap and same lossless-when-None contract as
    MinHash. return_dropped: as in `minhash_near_dup_pairs` — returns
    (pairs, dropped-accounting DataFrame).

    Output: id_a, id_b, hamming INT (id_a < id_b).
    """
    if return_dropped and max_bucket_size is None:
        raise ValueError("return_dropped requires max_bucket_size")
    from pandasvcf_spark.functions.text import poly_hash_expr

    n_bands = 64 // band_bits
    if max_hamming >= n_bands:
        raise ValueError(
            f"banding is lossy: max_hamming={max_hamming} needs more than "
            f"{n_bands} bands (lower band_bits)"
        )
    if repartition_to:
        df = df.repartition(repartition_to, F.col(id_col))
    # Same Generate barrier as minhash_near_dup_pairs: keep the inferred
    # size(tokens) > 0 filter from dragging the tokenizer below the exchange.
    toks = (
        df.select(
            F.col(id_col).alias("__id"),
            F.explode(F.array(words_expr(text_col))).alias("__w"),
        )
        .select("__id", F.explode("__w").alias("__t"))
        .select("__id", poly_hash_expr(F.col("__t")).alias("__h"))
    )
    p = F.lit(_MERSENNE31).cast("long")
    votes = toks.groupBy("__id").agg(
        *[
            F.sum(
                F.when(
                    ((F.lit(a).cast("long") * F.col("__h") + F.lit(b).cast("long")) % p)
                    % 2
                    == 1,
                    1,
                ).otherwise(-1)
            ).alias(f"__v{i}")
            for i, (a, b) in enumerate(_affine_coeffs(64))
        ]
    )
    # Chunk c = the band_bits-wide slice of the key, as a plain sum of
    # literal powers of two (vote tie → bit 0, mirrored by the oracle).
    def _chunk(c: int) -> Column:
        total = F.lit(0)
        for j in range(band_bits):
            total = total + F.when(
                F.col(f"__v{c * band_bits + j}") > 0, F.lit(1 << j)
            ).otherwise(F.lit(0))
        return total.cast("long").alias(f"__c{c}")

    chunks = votes.select("__id", *[_chunk(c) for c in range(n_bands)])
    entry = F.struct(
        F.col("__id"), *[F.col(f"__c{c}") for c in range(n_bands)]
    )
    banded = chunks.select(
        entry.alias("__e"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).cast("int").alias("band"),
                        F.col(f"__c{c}").alias("val"),
                    )
                    for c in range(n_bands)
                ]
            )
        ).alias("__bk"),
    )
    # One grouped agg per (band, val) bucket; each doc emits one struct per
    # band so ids are unique within a bucket; sorted (struct sort = by first
    # field, the id) for deterministic pair order.
    buckets = (
        banded.groupBy("__bk")
        .agg(F.sort_array(F.collect_list("__e")).alias("__es"))
        .filter(F.size("__es") > 1)
    )
    dropped = None
    if max_bucket_size is not None:
        if return_dropped:
            dropped = _dropped_bucket_stats(buckets, "__es", max_bucket_size)
        buckets = buckets.filter(F.size("__es") <= max_bucket_size)
    # Streaming i<j expansion (same shape and O(bucket)-per-row bound as the
    # MinHash operator).
    pairs = buckets.select(
        "__es", F.posexplode("__es").alias("__i", "__a")
    ).select(
        "__a",
        F.explode(
            F.slice(F.col("__es"), F.col("__i") + 2, F.size("__es"))
        ).alias("__b"),
    )
    ham = F.lit(0)
    for c in range(n_bands):
        ham = ham + F.bit_count(
            F.col(f"__a.__c{c}").bitwiseXOR(F.col(f"__b.__c{c}"))
        )
    out = (
        pairs.select(
            F.col("__a.__id").alias("id_a"),
            F.col("__b.__id").alias("id_b"),
            ham.cast("int").alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .dropDuplicates(["id_a", "id_b"])
    )
    return (out, dropped) if return_dropped else out


def connected_components(
    pairs: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 25,
    method: str = "label",
) -> DataFrame:
    """Cluster near-duplicate PAIRS into components: (id, component) with
    component = the minimum id reachable from each vertex. The step a dedup
    pipeline needs between pair generation (minhash/simhash) and survivor
    selection — transitive closure, so A~B, B~C dedups all three together
    even when A~C was never a candidate pair.

    Iterative min-label propagation, each round: one join of labels onto
    the bidirected edge list + one min-aggregate, i.e. 2 shuffles; rounds
    needed = graph diameter (near-dup components are shallow — duplicate
    clusters, not social graphs; for web-scale graphs with long chains use
    the large-star/small-star contraction instead, which converges in
    O(log n) rounds). Each round `localCheckpoint`s the labels: an
    iterative DataFrame loop otherwise stacks 2 shuffles of LINEAGE per
    round and the planner re-executes the whole history on every action.
    Convergence is detected by an exact changed-row count (an action per
    round, intrinsic to iterate-until-fixpoint).

    Raises RuntimeError if max_iter rounds don't converge — a silent
    partial closure would merge too few duplicates and look "done".

    method="star" switches to alternating large-star/small-star
    contraction (the MapReduce connected-components algorithm of Kiveris
    et al., 2014): each round rewires every vertex's neighbors toward its
    local minimum, halving component diameter, so convergence is
    O(log n) ROUNDS regardless of chain length — the variant to use when
    the graph may have long paths (label propagation needs diameter
    rounds). Same output contract, same convergence error."""
    if method == "star":
        return _cc_star(pairs, src, dst, max_iter)
    if method != "label":
        raise ValueError(f"unknown method {method!r}: use 'label' or 'star'")
    edges = pairs.select(
        F.col(src).alias("a"), F.col(dst).alias("b")
    )
    # Checkpoint the edge list BEFORE iterating (as _cc_star always did):
    # labels were already checkpointed per round, but bidir kept its full
    # lineage, so every round's join re-executed the whole upstream pair
    # pipeline (LSH signatures + bucket expansion + Jaccard verify) —
    # exchange reuse does not span the per-round count() jobs. Edges are
    # duplicates-sized, so materializing them is cheap at any scale;
    # measured 25.1 s → 9.1 s on the sf0.1 incremental-dedup pipeline
    # (and 15.3 s → 7.3 s on the equivalent union re-dedup).
    # All checkpoints are LAZY (eager=False): the round's changed-count
    # is the job that materializes them, so each round costs ONE job
    # (count over the round's lazily-checkpointed labels) instead of a
    # materialize job plus a count job — and bidir/labels materialize
    # inside round 1's job rather than as two setup jobs (round 16,
    # guide §5: same materializations, half the driver round-trips).
    bidir = (
        edges.union(edges.select(F.col("b").alias("a"), F.col("a").alias("b")))
        .distinct()
        .localCheckpoint(eager=False)
    )
    labels = (
        bidir.select(F.col("a").alias("id"))
        .distinct()
        .withColumn("lbl", F.col("id"))
        .localCheckpoint(eager=False)
    )
    for _ in range(max_iter):
        nbr_min = (
            bidir.join(labels, bidir["a"] == labels["id"])
            .groupBy(F.col("b").alias("id2"))
            .agg(F.min("lbl").alias("nmin"))
        )
        new_labels = (
            labels.join(nbr_min, labels["id"] == nbr_min["id2"], "left")
            .select(
                "id",
                F.least(F.col("lbl"), F.coalesce("nmin", "lbl")).alias("lbl"),
                (F.col("nmin") < F.col("lbl")).alias("__chg"),
            )
        ).localCheckpoint(eager=False)
        changed = new_labels.filter(F.col("__chg")).count()
        labels = new_labels.drop("__chg")
        if changed == 0:
            return labels.select("id", F.col("lbl").alias("component"))
    raise RuntimeError(
        f"connected_components did not converge in {max_iter} rounds — "
        "graph diameter exceeds the bound; raise max_iter or use "
        "method='star' for long-chain graphs"
    )


def _cc_star(
    pairs: DataFrame, src: str, dst: str, max_iter: int
) -> DataFrame:
    """Large-star/small-star contraction (Kiveris et al., "Connected
    Components in MapReduce and Beyond", SoCC 2014). Per round:

      * large-star: group the BIDIRECTED adjacency by vertex u, compute
        m = min(Γ(u) ∪ {u}), and rewire every strictly-LARGER neighbor
        v > u to m — one groupBy + one join (2 shuffles);
      * small-star: orient every edge (larger → smaller), group by the
        larger endpoint u, m = min(Γ(u) ∪ {u}), rewire every neighbor
        (all ≤ u) plus u itself to m.

    Each round at least halves the height of every tree in the hooking
    forest, so the edge set reaches a fixpoint — a forest of stars whose
    center IS the component minimum — in O(log n) rounds even on a pure
    chain, where label propagation needs diameter rounds. Fixpoint is
    detected by (count, xxhash64-sum) of the canonical edge set — a
    single-row action per round; `localCheckpoint` bounds lineage exactly
    as the label-propagation loop does.

    Vertices whose only pair was a self-loop never appear in the edge
    set; the final left-join against the input vertex set restores them
    as singleton components, matching method='label'.

    Plan discipline (round 16, guide §5): the raw pair projection is
    checkpointed ONCE (lazily — round 1's fixpoint probe materializes
    it) and both the vertex set and the canonical edge set derive from
    that persisted base, so the upstream pair pipeline (LSH signatures
    + bucket expansion + Jaccard verify) executes exactly once instead
    of once per eager checkpoint; each round's rewired edge set is a
    lazy checkpoint consumed by the round's (count, hash) fixpoint
    aggregate — one job per round, not materialize + probe."""
    base = pairs.select(
        F.col(src).alias("a"), F.col(dst).alias("b")
    ).localCheckpoint(eager=False)
    vertices = (
        base.select(F.col("a").alias("id"))
        .union(base.select(F.col("b").alias("id")))
        .distinct()
    )
    edges = (
        base.filter(F.col("a") != F.col("b"))
        .select(
            F.greatest("a", "b").alias("a"), F.least("a", "b").alias("b")
        )
        .distinct()
        .localCheckpoint(eager=False)  # round 1 reads it twice (bidir)
    )
    prev_sig = None
    for _ in range(max_iter):
        # large-star over the bidirected adjacency
        bidir = edges.union(
            edges.select(F.col("b").alias("a"), F.col("a").alias("b"))
        )
        mins = bidir.groupBy("a").agg(
            F.least(F.min("b"), F.first("a")).alias("m")
        )
        large = (
            bidir.join(mins, "a")
            .filter(F.col("b") > F.col("a"))
            .select(F.col("b").alias("a"), F.col("m").alias("b"))
            .filter(F.col("a") != F.col("b"))
            .distinct()
        )
        # small-star over the (larger → smaller) orientation
        oriented = large.select(
            F.greatest("a", "b").alias("a"), F.least("a", "b").alias("b")
        )
        mins2 = oriented.groupBy("a").agg(F.min("b").alias("m"))
        rewired = (
            oriented.join(mins2, "a")
            .select(F.col("b").alias("a"), F.col("m").alias("b"))
            .union(mins2.select(F.col("a"), F.col("m").alias("b")))
            .filter(F.col("a") != F.col("b"))
            .select(
                F.greatest("a", "b").alias("a"), F.least("a", "b").alias("b")
            )
            .distinct()
            .localCheckpoint(eager=False)
        )
        sig = rewired.agg(
            F.count(F.lit(1)).alias("n"),
            # decimal accumulator: a long sum of 64-bit hashes overflows
            # under ANSI mode
            F.sum(F.xxhash64("a", "b").cast("decimal(38,0)")).alias("h"),
        ).first()
        edges = rewired
        if prev_sig == (sig["n"], sig["h"]):
            break
        prev_sig = (sig["n"], sig["h"])
    else:
        raise RuntimeError(
            f"connected_components(method='star') did not converge in "
            f"{max_iter} rounds — raise max_iter"
        )
    # fixpoint edge set is a star forest: a = member, b = component min
    labels = edges.select(F.col("a").alias("id"), F.col("b").alias("lbl"))
    return vertices.join(labels, "id", "left").select(
        "id", F.coalesce("lbl", F.col("id")).alias("component")
    )


def paragraph_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    delim: str = "\n\n",
    min_chars: int = 0,
) -> DataFrame:
    """Corpus-wide paragraph-level exact dedup (the C4 cleaning step,
    Raffel et al. 2020: drop every repeated occurrence of a paragraph
    across the whole corpus, keeping the FIRST by (doc id, position);
    reference parity: the reference's full-row `drop_duplicates` family
    at sub-document granularity). Documents are split on the literal
    `delim` (real corpora pass "\\n\\n"; any literal token works),
    duplicate paragraphs beyond their first occurrence are removed, and
    each document is reassembled from its surviving paragraphs in
    original order with the same delimiter. Paragraphs shorter than
    `min_chars` are exempt (kept everywhere) — short strings repeat
    naturally and deduping them shreds documents. Documents whose every
    paragraph was a repeat disappear from the output (C4 drops them);
    left-join against the input ids to keep empties.

    Output: (id_col, text_col) — the cleaned corpus.

    Plan: posexplode → one window over the paragraph CONTENT key (the
    shuffle that makes the decision global; the paragraph string rides
    the exchange exactly once, and must — the survivor's text is the
    payload) → one reassembly groupBy(doc). Two shuffles, both
    paragraph-sized; no joins, no driver state. Skew: a pathological
    mega-duplicate paragraph lands one key on one reducer — row_number
    over it is a sort of that key's occurrence list only; the dropped
    rows never re-shuffle."""
    import re

    if not delim:
        raise ValueError("delim must be a non-empty literal string")
    parts = F.split(F.col(text_col), re.escape(delim), -1)
    exploded = df.select(
        F.col(id_col), F.posexplode(parts).alias("__pos", "__para")
    )
    w = Window.partitionBy("__para").orderBy(id_col, "__pos")
    kept = (
        exploded.withColumn("__rn", F.row_number().over(w))
        .filter(
            (F.col("__rn") == 1) | (F.length("__para") < F.lit(min_chars))
        )
    )
    return (
        kept.groupBy(id_col)
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("__pos", "__para"))
                    ),
                    lambda s: s["__para"],
                ),
                delim,
            ).alias(text_col)
        )
    )


def dedup_semantic(
    df: DataFrame,
    centroids: list[list[float]],
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    quality: Column | None = None,
) -> DataFrame:
    """Semantic deduplication over an embedding column (the SemDeDup
    recipe, Abbas et al. 2023: MinHash catches COPIES, embeddings catch
    PARAPHRASES — same content re-worded shares no shingles but sits on
    the same direction): assign every vector to its nearest-centroid
    cluster, compare pairs ONLY within a cluster (the cluster-bounded
    quadratic that makes SemDeDup feasible — k clusters cut candidate
    pairs by ~k versus all-pairs), and drop every row that has a
    higher-priority neighbor with cosine ≥ threshold in its cluster.
    Returns the SURVIVING rows of `df`, all columns intact, plus the
    cluster id (`cell` INT).

    Priority: minimum id by default; pass `quality` (a column over
    `df`'s rows) to keep the highest-quality member instead (ties to
    minimum id — the `near_dedup_documents` keep-best convention and
    rationale). NOTE the drop rule is pairwise-beats: a row drops when
    ANY higher-priority row sits within the threshold, whether or not
    that witness itself survives — so a chain A~B~C with cos(A,C) below
    threshold keeps only A (B drops to A, C drops to B). Slightly more
    aggressive than a components-closure with one survivor per
    component would be ambiguous about; it is the standard SemDeDup
    simplification and keeps the plan join-shaped (no iterative
    closure).

    Plan: one cell assignment pass (literal centroids, codegen), one
    within-cell self-equi-join on cell id (never a crossJoin; cost is
    Σ|cell|² — train enough centroids to bound occupancy, the
    `adaptive_n_planes` argument), one broadcast-able anti-join to drop
    losers. Centroids come from `kmeans_fit` in production; literal
    centroids keep the catalog entry oracle-replayable."""
    from pandasvcf_spark.operators.similarity import ivf_cell_expr
    from pandasvcf_spark.functions.vectors import cosine_expr

    from pandasvcf_spark.functions.vectors import norm_expr

    pri = (quality if quality is not None else F.lit(0)).alias("__q")
    dcv = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    # per-row norm computed once below the self-join: the pair filter's
    # cosine then pays one dot fold per pair instead of three (round 15)
    cells = df.select(
        F.col(id_col),
        dcv.alias("__v"),
        norm_expr(dcv).alias("__n"),
        pri,
        ivf_cell_expr(vec_col, centroids).alias("cell"),
    )
    a = cells.select(
        F.col(id_col).alias("__ida"),
        F.col("__v").alias("__va"),
        F.col("__n").alias("__na"),
        F.col("__q").alias("__qa"),
        "cell",
    )
    b = cells.select(
        F.col(id_col).alias("__idb"),
        F.col("__v").alias("__vb"),
        F.col("__n").alias("__nb"),
        F.col("__q").alias("__qb"),
        "cell",
    )
    # b loses to a: a is strictly higher priority (better quality, ties
    # to smaller id) and they are near-duplicates within the cell
    beats = (F.col("__qa") > F.col("__qb")) | (
        (F.col("__qa") == F.col("__qb"))
        & (F.col("__ida") < F.col("__idb"))
    )
    from pandasvcf_spark.operators.similarity import _pair_cos

    losers = (
        a.join(b, on="cell")
        .filter(beats)
        .filter(
            _pair_cos(
                F.col("__na"), F.col("__nb"),
                F.col("__va"), F.col("__vb"),
            )
            >= F.lit(float(threshold))
        )
        .select(F.col("__idb").alias(id_col))
        .distinct()
    )
    kept = cells.join(losers, on=id_col, how="left_anti").select(
        id_col, "cell"
    )
    return df.join(kept, on=id_col)


def containment_join(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 4,
    threshold: float = 0.5,
    max_df: int = 1000,
) -> DataFrame:
    """Asymmetric shingle-containment join — the quote/excerpt detector
    MinHash cannot be: containment(a→b) = |grams(a) ∩ grams(b)| /
    |grams(a)| stays 1.0 when a short document is wholly quoted inside
    a much longer one, exactly the case where symmetric Jaccard (and
    the MinHash LSH built on it) collapses toward 0 (Broder 1997
    distinguishes resemblance from containment for precisely this).
    Training-data use: drop excerpts/quote-wrappers of retained
    documents, catch train-on-test containment that `contamination_
    overlap`'s fixed-set form misses.

    Exact, via an inverted index: per-doc DISTINCT word n-grams →
    gram-keyed equi-join (hits only — disjoint pairs never meet a
    shuffle) → per-ordered-pair intersection counts → divide by the
    source doc's gram count. Grams appearing in more than `max_df`
    documents are dropped from BOTH the intersection and the
    denominator first (the df-cap: a boilerplate gram joins everything
    and says nothing; with it, pair-generation work is bounded by
    Σ df² over surviving grams instead of the worst posting list
    squared). Both directions are emitted — containment is not
    symmetric. Docs with zero surviving grams emit nothing.

    Output: (a_id, b_id, a_grams BIGINT, inter BIGINT,
    containment DOUBLE round 4) with containment >= threshold."""
    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    if not (0.0 < threshold <= 1.0):
        raise ValueError(f"threshold must be in (0,1], got {threshold}")
    if max_df < 1:
        raise ValueError(f"max_df must be >= 1, got {max_df}")
    from pandasvcf_spark.functions.text import word_ngrams_expr

    grams = (
        df.filter(F.col(text_col).isNotNull())
        .select(
            F.col(id_col).alias("__id"),
            F.explode(
                F.array_distinct(word_ngrams_expr(F.col(text_col), n))
            ).alias("__g"),
        )
    )
    kept = (
        grams.groupBy("__g")
        .agg(F.count(F.lit(1)).alias("__df"))
        .filter(F.col("__df") <= F.lit(int(max_df)))
        .select("__g")
    )
    idx = grams.join(kept, "__g", "leftsemi")
    sizes = idx.groupBy("__id").agg(F.count(F.lit(1)).alias("a_grams"))
    pairs = (
        idx.select(F.col("__id").alias("__a"), "__g")
        .join(
            idx.select(F.col("__id").alias("__b"), "__g"), "__g"
        )
        .filter(F.col("__a") != F.col("__b"))
        .groupBy("__a", "__b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    out = (
        pairs.join(
            sizes.select(F.col("__id").alias("__a"), "a_grams"), "__a"
        )
        .withColumn(
            "containment",
            F.round(
                F.col("inter") / F.col("a_grams").cast("double"), 4
            ),
        )
        .filter(F.col("containment") >= F.lit(float(threshold)))
    )
    return out.select(
        F.col("__a").alias("a_id"),
        F.col("__b").alias("b_id"),
        F.col("a_grams").cast("long").alias("a_grams"),
        F.col("inter").cast("long").alias("inter"),
        "containment",
    )


def _assert_vec_dim(rows, cdim: int, op_name: str) -> None:
    """Raise when any probed vector's length differs from the centroid
    dim — `F.zip_with` truncates to the shorter side, so a mismatch
    produces silently-wrong cosines/cells, never an error. Rows carry
    dmin/dmax from whatever probe the caller already paid."""
    dmin = min((r["dmin"] for r in rows if r["dmin"] is not None), default=None)
    dmax = max((r["dmax"] for r in rows if r["dmax"] is not None), default=None)
    if dmin is None:
        return  # empty input — nothing to mis-pair
    if dmin != cdim or dmax != cdim:
        raise ValueError(
            f"{op_name}: vector dims span [{dmin}, {dmax}] but the "
            f"centroids are dim {cdim} — zip_with truncates to the "
            "shorter side, so cell assignment and cosine silently "
            "mis-pair. Pass centroids trained on THIS embedding "
            "column (semantic_dedup_fit trains them in one call)."
        )


def semantic_dedup(
    corpus: DataFrame,
    centroids: list[list[float]],
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    keep: str = "far_from_centroid",
    max_cluster_size: int | None = 100_000,
    max_iter: int = 25,
    cc_method: str = "label",
) -> DataFrame:
    """SemDeDup-style SEMANTIC deduplication over an embedding column
    (Abbas et al. 2023, "SemDeDup: Data-efficient learning at
    web-scale through semantic deduplication") — the dedup tier
    MinHash cannot reach: paraphrases and re-renders share no
    shingles but land on near-identical embeddings. The recipe:

      1. assign every vector to its nearest coarse centroid
         (`similarity.ivf_cell_expr` — the k-means cells bound the
         pair search exactly as the paper prescribes);
      2. WITHIN each cell, pairs with cosine >= `threshold` become
         duplicate edges (never across cells — the paper's
         approximation, which is what makes the cost
         Σ cell_size², not corpus²);
      3. transitive closure over the edges (`connected_components`,
         min-label rounds);
      4. per component keep ONE representative: `keep=
         "far_from_centroid"` keeps the member with the LOWEST
         cosine to its cell centroid (the paper's choice — the
         outlier preserves diversity; ties by min id);
         `keep="min_id"` keeps the smallest id (the deterministic
         baseline). Singletons always survive.

    Output: (id_col, cell INT) — the SURVIVORS. Anti-join the input
    on id_col for the dropped set.

    Scale shape: the centroid list is a model-sized broadcast
    literal; the only quadratic term is per-cell pairing, guarded by
    `max_cluster_size` (one <= n_centroids-row agg; the raise names
    the re-route: train MORE centroids — cost is Σ cell², so cells
    must stay bounded exactly like LSH buckets). Components run on
    the (sparse) duplicate-pair graph, not the corpus; `cc_method=
    "star"` switches the closure to large-star/small-star contraction
    (O(log n) rounds — pick it when similarity chains make label
    propagation's diameter-many rounds the wall, same output)."""
    from pandasvcf_spark.functions.vectors import cosine_expr
    from pandasvcf_spark.operators.similarity import (
        _centroid_lit,
        _dc,
        ivf_cell_expr,
    )

    if keep not in ("far_from_centroid", "min_id"):
        raise ValueError(
            f"keep must be 'far_from_centroid' or 'min_id', got {keep!r}"
        )
    from pandasvcf_spark.functions.vectors import norm_expr

    cells = corpus.select(
        F.col(id_col),
        _dc(vec_col).alias("__vec"),
        # norm stored once per row: the within-cell pair filter then
        # pays one dot fold per pair instead of three (round 15)
        norm_expr(_dc(vec_col)).alias("__n"),
        ivf_cell_expr(vec_col, centroids).alias("cell"),
    ).localCheckpoint(eager=True)  # pairs + closure + keep share one view
    # dim-mismatch tripwire (round-13 verdict task 4): zip_with
    # truncates to the shorter array, so centroids of the wrong dim
    # silently mis-pair instead of erroring. FUSED into the same probe
    # the size guard already pays (one <= n_centroids-row collect) —
    # no extra job; with the size guard opted out it costs one 1-row agg.
    cdim = len(centroids[0])
    if max_cluster_size is not None:
        sizes = cells.groupBy("cell").agg(
            F.count(F.lit(1)).alias("count"),
            F.min(F.size("__vec")).alias("dmin"),
            F.max(F.size("__vec")).alias("dmax"),
        ).collect()
        _assert_vec_dim(sizes, cdim, "semantic_dedup")
        worst = max((r["count"] for r in sizes), default=0)
        if worst > max_cluster_size:
            raise ValueError(
                f"semantic_dedup: a cell holds {worst:,} vectors, above "
                f"max_cluster_size={max_cluster_size:,} — within-cell "
                "pairing is cell², so train MORE coarse centroids "
                "(kmeans_fit with larger k) until cells are bounded, "
                "or pass max_cluster_size=None after pricing the cost."
            )
    else:
        _assert_vec_dim(
            cells.agg(
                F.min(F.size("__vec")).alias("dmin"),
                F.max(F.size("__vec")).alias("dmax"),
            ).collect(),
            cdim,
            "semantic_dedup",
        )
    from pandasvcf_spark.operators.similarity import _pair_cos

    a = cells.select(
        F.col("cell"),
        F.col(id_col).alias("__ia"),
        F.col("__vec").alias("__va"),
        F.col("__n").alias("__na"),
    )
    b = cells.select(
        F.col("cell"),
        F.col(id_col).alias("__ib"),
        F.col("__vec").alias("__vb"),
        F.col("__n").alias("__nb"),
    )
    pairs = (
        a.join(b, on="cell")
        .filter(F.col("__ia") < F.col("__ib"))
        .filter(
            _pair_cos(
                F.col("__na"), F.col("__nb"),
                F.col("__va"), F.col("__vb"),
            )
            >= F.lit(float(threshold))
        )
        .select(F.col("__ia").alias("id_a"), F.col("__ib").alias("id_b"))
    )
    comp = connected_components(pairs, max_iter=max_iter, method=cc_method)
    members = cells.join(
        comp.withColumnRenamed("id", id_col), on=id_col, how="left"
    )
    if keep == "min_id":
        # component label IS the min member id — the representative
        kept = members.filter(
            F.col("component").isNull()
            | (F.col("component") == F.col(id_col))
        )
        return kept.select(F.col(id_col), F.col("cell"))
    cosc = cosine_expr(
        F.col("__vec"), F.element_at(_centroid_lit(centroids), F.col("cell"))
    )
    dup = members.filter(F.col("component").isNotNull()).select(
        F.col(id_col), F.col("cell"), F.col("component"),
        cosc.alias("__cosc"),
    )
    # one row per DUPLICATE component (sparse, but unbounded at corpus
    # scale — a plain equi-join, never a broadcast)
    reps = dup.groupBy("component").agg(
        F.min(F.struct(F.col("__cosc"), F.col(id_col))).alias("__r")
    ).select(F.col("__r")[id_col].alias(id_col))
    kept_dup = dup.join(reps, on=id_col).select(
        F.col(id_col), F.col("cell")
    )
    singletons = members.filter(F.col("component").isNull()).select(
        F.col(id_col), F.col("cell")
    )
    return singletons.unionByName(kept_dup)


def semantic_dedup_fit(
    corpus: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int | None = None,
    keep: str = "far_from_centroid",
    max_cluster_size: int | None = 100_000,
    max_iter: int = 5,
    tol: float = 1e-4,
    train_sample: int | None = 262_144,
    init_centroids: list[list[float]] | None = None,
    round_to: int | None = None,
    cc_method: str = "label",
) -> tuple[DataFrame, list[list[float]]]:
    """One-call SemDeDup (round-13 verdict task 4): train the coarse
    centroids and dedup in a single composition —
    `similarity.kmeans_fit` + `semantic_dedup` — so callers without a
    pre-trained quantizer get the paper's recipe end-to-end. Returns
    (survivors, centroids): persist the centroids beside the corpus
    (they are the identity of every `semantic_cell_index` built on it).

    k defaults to the `max_cluster_size` bound's own arithmetic: mean
    cell size is ~n/k, and cells are uneven, so k is sized for a mean
    of max_cluster_size/4 (4× skew headroom) — k = ceil(n / (mcs/4)),
    clamped to [2, 4096] (the broadcast-literal regime; a guard raise
    beyond that is the re-shard signal). With max_cluster_size=None
    the default 100k bound still sizes k (the guard is off, the
    sizing heuristic is not).

    Training runs on a DETERMINISTIC sample when the corpus exceeds
    `train_sample` rows: the `train_sample` smallest xxhash64(id)
    rows — a TakeOrdered cut, reproducible across sessions, never a
    full-corpus sort. Lloyd cost is per-iteration one scan of the
    SAMPLE; the full corpus pays only the final assignment inside
    semantic_dedup. `init_centroids`/`round_to` pass through to
    kmeans_fit (the oracle-replay devices); `train_sample=None`
    trains on the full corpus."""
    from pandasvcf_spark.operators.similarity import kmeans_fit

    n = corpus.count()
    if n == 0:
        return corpus.select(
            F.col(id_col), F.lit(0).alias("cell")
        ).limit(0), []
    if k is None:
        mcs = max_cluster_size if max_cluster_size is not None else 100_000
        target = max(1, mcs // 4)
        k = max(2, min(4096, -(-n // target)))
    k = min(k, n)
    train = corpus
    if train_sample is not None and n > train_sample:
        train = corpus.orderBy(
            F.xxhash64(F.col(id_col).cast("string")), F.col(id_col)
        ).limit(train_sample)
    cents, _ = kmeans_fit(
        train,
        vec_col=vec_col,
        k=k,
        max_iter=max_iter,
        tol=tol,
        init_centroids=init_centroids,
        round_to=round_to,
    )
    surv = semantic_dedup(
        corpus,
        cents,
        threshold=threshold,
        id_col=id_col,
        vec_col=vec_col,
        keep=keep,
        max_cluster_size=max_cluster_size,
        cc_method=cc_method,
    )
    return surv, cents


def semantic_cell_index(
    df: DataFrame,
    centroids: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The persistable SEMANTIC index of a corpus: (id_col, cell INT,
    vec_col ARRAY<DOUBLE>) — each vector's nearest-centroid cell plus
    the (double-cast) vector itself. Write this once at corpus-build
    time (partitioned by `cell` — later lookups prune to the cells a
    batch touches) and hand it to
    `semantic_dedup_incremental(base_cells=...)`: each incoming batch
    then pays nearest-centroid assignment only for ITSELF; the
    historical corpus contributes a pruned read of precomputed rows
    instead of a per-batch k-dot-product re-assignment pass. The
    centroid list is part of the index's identity — an index built
    from different centroids silently mis-cells; store it alongside
    (the `minhash_band_keys` convention)."""
    from pandasvcf_spark.operators.similarity import _dc, ivf_cell_expr

    return df.select(
        F.col(id_col),
        ivf_cell_expr(vec_col, centroids).alias("cell"),
        _dc(vec_col).alias(vec_col),
    )


def semantic_dedup_incremental(
    base: DataFrame | None,
    new: DataFrame,
    centroids: list[list[float]],
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_cluster_size: int | None = 100_000,
    max_iter: int = 25,
    cc_method: str = "label",
    base_cells: DataFrame | None = None,
) -> DataFrame:
    """Incremental SemDeDup: semantically dedup a NEW batch against an
    already-clean BASE corpus — `near_dedup_incremental`'s contract
    carried to embedding space (the recurring-crawl shape for the
    paraphrase tier). Returns the SURVIVING rows of `new` as
    (id_col, cell); base is kept as-is by contract: a new vector drops
    when its duplicate component contains ANY base vector (the corpus
    already holds a representative), and all-new components keep their
    minimum-id member. Ids must be unique across both sides.

    Scale story — the base contributes a LINEAR cell-assignment pass
    but no quadratic pair term: pair expansion keeps only edges with a
    new endpoint (base×base pairs are filtered INSIDE the join, the
    `minhash_near_dup_pairs` incremental_col device), which is
    lossless for the verdicts exactly as in the LSH form — a base-base
    edge can only merge components that each already contain a base
    vector, and "has base → drop new members" is identical merged or
    not, while all-new components never involve base edges. The
    `max_cluster_size` guard prices the within-cell term on the
    combined relation.

    base_cells: the corpus's persisted semantic index
    (`semantic_cell_index` output: id, cell, vector). With it, `base`
    is ignored (pass None) and the per-batch base cost drops from a
    k-dot-product re-assignment scan to a read of precomputed rows —
    pruned to the batch's own cells by the semi-join below, so an
    index written partitioned by `cell` pays only the touched
    partitions. The centroids must be the ones the index was built
    with. Either way the base side is additionally PRUNED to the
    cells the new batch touches (one <= n_centroids-row broadcast):
    an untouched cell can produce no new-endpoint pair, so dropping
    it is lossless for the verdicts — and the within-cell quadratic
    term is priced (and paid) only where the batch actually lands."""
    from pandasvcf_spark.functions.vectors import cosine_expr
    from pandasvcf_spark.operators.similarity import _dc, ivf_cell_expr

    if base is None and base_cells is None:
        raise ValueError(
            "semantic_dedup_incremental: pass base or base_cells"
        )
    from pandasvcf_spark.functions.vectors import norm_expr

    if base_cells is not None:
        bb = base_cells.select(
            F.col(id_col),
            _dc(vec_col).alias("__vec"),
            norm_expr(_dc(vec_col)).alias("__n"),
            F.col("cell").cast("int").alias("cell"),
            F.lit(False).alias("__nw"),
        )
    else:
        bb = base.select(
            F.col(id_col),
            _dc(vec_col).alias("__vec"),
            norm_expr(_dc(vec_col)).alias("__n"),
            ivf_cell_expr(vec_col, centroids).alias("cell"),
            F.lit(False).alias("__nw"),
        )
    nn = new.select(
        F.col(id_col),
        _dc(vec_col).alias("__vec"),
        norm_expr(_dc(vec_col)).alias("__n"),
        ivf_cell_expr(vec_col, centroids).alias("cell"),
        F.lit(True).alias("__nw"),
    ).localCheckpoint(eager=True)  # one assignment pass feeds both the
    # touched-cell probe and the union
    touched = nn.select("cell").distinct()  # <= n_centroids rows
    bb = bb.join(F.broadcast(touched), on="cell", how="left_semi")
    cells = bb.unionByName(nn).localCheckpoint(eager=True)
    cdim = len(centroids[0])
    if max_cluster_size is not None:
        sizes = cells.groupBy("cell").agg(
            F.count(F.lit(1)).alias("count"),
            F.min(F.size("__vec")).alias("dmin"),
            F.max(F.size("__vec")).alias("dmax"),
        ).collect()
        _assert_vec_dim(sizes, cdim, "semantic_dedup_incremental")
        worst = max((r["count"] for r in sizes), default=0)
        if worst > max_cluster_size:
            raise ValueError(
                f"semantic_dedup_incremental: a cell holds {worst:,} "
                f"vectors, above max_cluster_size={max_cluster_size:,} "
                "— within-cell pairing is cell², so train MORE coarse "
                "centroids until cells are bounded, or pass "
                "max_cluster_size=None after pricing the cost."
            )
    else:
        _assert_vec_dim(
            cells.agg(
                F.min(F.size("__vec")).alias("dmin"),
                F.max(F.size("__vec")).alias("dmax"),
            ).collect(),
            cdim,
            "semantic_dedup_incremental",
        )
    from pandasvcf_spark.operators.similarity import _pair_cos

    a = cells.select(
        "cell", F.col(id_col).alias("__ia"),
        F.col("__vec").alias("__va"), F.col("__n").alias("__na"),
        F.col("__nw").alias("__nwa"),
    )
    # the join's build side is the NEW batch only: every kept edge needs
    # a new endpoint, so joining (base+new) × new streams |cell|·|new|
    # candidate rows per cell instead of |cell|² with a post-join
    # "never old×old" filter (round 15, guide §2.3 — the quadratic term
    # the docstring prices is now quadratic in the BATCH, linear in the
    # base). Edge set is IDENTICAL: a base×new pair appears exactly once
    # (base only on the a side), a new×new pair is deduped by the
    # __ia < __ib guard, and least/greatest restores the id_a < id_b
    # output contract for base ids larger than new ids.
    b = nn.select(
        "cell", F.col(id_col).alias("__ib"),
        F.col("__vec").alias("__vb"), F.col("__n").alias("__nb"),
    )
    pairs = (
        a.join(b, on="cell")
        .filter(F.col("__ia") != F.col("__ib"))
        .filter(~F.col("__nwa") | (F.col("__ia") < F.col("__ib")))
        .filter(
            _pair_cos(
                F.col("__na"), F.col("__nb"),
                F.col("__va"), F.col("__vb"),
            )
            >= F.lit(float(threshold))
        )
        .select(
            F.least(F.col("__ia"), F.col("__ib")).alias("id_a"),
            F.greatest(F.col("__ia"), F.col("__ib")).alias("id_b"),
        )
    )
    comp = connected_components(pairs, max_iter=max_iter, method=cc_method)
    flagged = cells.join(
        comp.withColumnRenamed("id", id_col), on=id_col, how="left"
    )
    verdicts = (
        flagged.filter(F.col("component").isNotNull())
        .groupBy("component")
        .agg(
            F.max(~F.col("__nw")).alias("__has_base"),
            F.min(F.when(F.col("__nw"), F.col(id_col))).alias(
                "__min_new"
            ),
        )
    )
    in_comp = (
        flagged.filter(F.col("__nw") & F.col("component").isNotNull())
        .join(verdicts, on="component")
        .filter(
            (~F.col("__has_base"))
            & (F.col(id_col) == F.col("__min_new"))
        )
        .select(F.col(id_col), F.col("cell"))
    )
    singles = flagged.filter(
        F.col("__nw") & F.col("component").isNull()
    ).select(F.col(id_col), F.col("cell"))
    return singles.unionByName(in_comp)


# ---------------------------------------------------------------------------
# Content-defined chunking (CDC) — gear-hash rolling boundaries
# ---------------------------------------------------------------------------

#: Modulus of the portable hash family (functions/text.POLY_MOD).
_CDC_P = (1 << 31) - 1
#: Knuth multiplicative constant — spreads a code point into a gear value.
_CDC_GEAR_MULT = 2654435761
#: Rolling-hash window: a boundary decision sees only the last 16 chars,
#: which is what makes chunk boundaries shift-resistant (an edit re-syncs
#: after one window instead of moving every later boundary).
CDC_WINDOW = 16


def _cdc_gear_expr(text: Column) -> Column:
    """ARRAY<BIGINT> per-character gear values: (codepoint * Knuth) mod p.
    Portable by the same convention as `poly_hash_expr` — three arithmetic
    ops per char, every intermediate < 2^52, ANSI-safe on both engines."""
    p = F.lit(_CDC_P).cast("long")
    return F.transform(
        F.split(text, ""),
        lambda c: (F.ascii(c).cast("long") * F.lit(_CDC_GEAR_MULT)) % p,
    )


def cdc_cuts_expr(
    text: Column | str,
    min_len: int = 32,
    avg_len: int = 64,
    max_len: int = 128,
    window: int = CDC_WINDOW,
) -> Column:
    """ARRAY<INT> of content-defined chunk END positions (1-based,
    inclusive) for gear-hash CDC (Xia et al. 2016 FastCDC family, the
    rolling-hash variant of the original LBFS/Rabin chunking): position i
    is a candidate boundary when the windowed rolling hash
    ``h_i = fold((acc*31 + gear_j) mod p)`` over the last `window` chars
    satisfies ``h_i mod divisor == 0`` with ``divisor = avg_len -
    min_len``; a sequential walk enforces ``min_len <= chunk <= max_len``
    (a cut is taken at the first candidate at least min_len past the last
    cut, or force-cut at max_len), and the final partial chunk always ends
    at length(text). Empty/NULL text yields no cuts.

    Because the hash window is local, an insertion near the head changes
    at most the boundaries inside one window past the edit — every later
    chunk re-synchronizes and keeps its fingerprint. That re-sync is the
    entire reason chunk-level dedup works on shifted content where
    fixed-size blocks fail (pytest pins the property).

    Pure HOF expression — no UDF, no shuffle: O(n·window) fold work per
    row inside whole-stage codegen, with the gear and rolling-hash arrays
    bound once (`bound_expr`) so nothing re-evaluates per element. The
    hash family is the portable 31-bit polynomial, so the whole walk is
    replayed exactly by the DuckDB oracle (t_cdc_chunks: per-position
    lambda folds + a recursive-CTE cut walk)."""
    if not (0 < min_len < avg_len <= max_len):
        raise ValueError(
            f"cdc_cuts_expr: need 0 < min_len < avg_len <= max_len, got "
            f"min_len={min_len} avg_len={avg_len} max_len={max_len}"
        )
    divisor = avg_len - min_len
    t = _c(text)
    n = F.length(t)
    p = F.lit(_CDC_P).cast("long")

    def rolling(gs: Column) -> Column:
        # h_i over the trailing `window`-char slice, one fold per position.
        return F.transform(
            F.sequence(F.lit(1), F.size(gs)),
            lambda i: F.aggregate(
                F.slice(
                    gs,
                    F.greatest(F.lit(1), i - (window - 1)),
                    F.least(F.lit(window), i),
                ),
                F.lit(0).cast("long"),
                lambda a, g: (a * 31 + g) % p,
            ),
        )

    def walk(hs: Column) -> Column:
        init = F.struct(
            F.lit(0).alias("last"),
            F.array().cast("array<int>").alias("cuts"),
        )

        def step(acc, i):
            gap = i - acc["last"]
            cut = (gap >= F.lit(min_len)) & (
                (F.element_at(hs, i) % F.lit(divisor) == 0)
                | (gap >= F.lit(max_len))
            )
            return F.when(
                cut,
                F.struct(
                    i.alias("last"),
                    F.array_append(acc["cuts"], i).alias("cuts"),
                ),
            ).otherwise(acc)

        return F.aggregate(
            F.sequence(F.lit(1), F.size(hs)),
            init,
            step,
            lambda acc: F.when(
                acc["last"] < F.size(hs),
                F.array_append(acc["cuts"], F.size(hs).cast("int")),
            ).otherwise(acc["cuts"]),
        )

    walked = bound_expr(
        bound_expr(_cdc_gear_expr(t), rolling), walk
    )
    return F.when(
        t.isNull() | (n == 0), F.array().cast("array<int>")
    ).otherwise(walked)


def cdc_chunks(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_len: int = 32,
    avg_len: int = 64,
    max_len: int = 128,
    window: int = CDC_WINDOW,
    with_text: bool = False,
) -> DataFrame:
    """Exploded content-defined chunk relation: one row per chunk with
    (id, chunk_idx INT, start INT, len INT, chunk_hash BIGINT) — start
    1-based, chunk_hash the portable polynomial over the chunk substring.
    `with_text=True` adds the chunk text itself (debug/store-building; the
    default ships offsets + 8-byte fingerprints only, so downstream dedup
    shuffles never move document bytes — the same scale rule as
    `dedup_exact`).

    This is the storage/dedup chunking a 100 TB mixed corpus needs where
    document-level dedup is too coarse: boilerplate shared across pages,
    quoted reply chains, or re-hosted file fragments dedup at chunk
    granularity regardless of where they sit inside the document
    (shift-resistance pytest). Downstream composes exactly like
    `dedup_exact`: group on chunk_hash, count, join back on the 8-byte
    key."""
    cuts = cdc_cuts_expr(
        text_col, min_len=min_len, avg_len=avg_len,
        max_len=max_len, window=window,
    )
    d = df.select(
        F.col(id_col), F.col(text_col).alias("__t"), cuts.alias("__cuts")
    )
    # __cuts is now an attribute, so lambda capture below is a cheap row
    # reference, not a re-evaluated subtree.
    ch = d.select(
        id_col,
        "__t",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("__cuts")),
                lambda i: F.struct(
                    i.cast("int").alias("chunk_idx"),
                    (
                        F.when(i == 1, F.lit(0)).otherwise(
                            F.element_at(F.col("__cuts"), i - 1)
                        )
                        + 1
                    ).cast("int").alias("start"),
                    (
                        F.element_at(F.col("__cuts"), i)
                        - F.when(i == 1, F.lit(0)).otherwise(
                            F.element_at(F.col("__cuts"), i - 1)
                        )
                    ).cast("int").alias("len"),
                ),
            )
        ).alias("__c"),
    ).filter(F.size("__cuts") > 0)
    from pandasvcf_spark.functions.text import poly_hash_expr

    body = F.col("__t").substr(F.col("__c.start"), F.col("__c.len"))
    out = ch.select(
        id_col,
        F.col("__c.chunk_idx").alias("chunk_idx"),
        F.col("__c.start").alias("start"),
        F.col("__c.len").alias("len"),
        poly_hash_expr(body).alias("chunk_hash"),
        *([body.alias("chunk_text")] if with_text else []),
    )
    return out


def cdc_dedup_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_len: int = 32,
    avg_len: int = 64,
    max_len: int = 128,
    window: int = CDC_WINDOW,
) -> DataFrame:
    """Per-document chunk-level duplication profile: (id, n_chunks INT,
    n_chars BIGINT, dup_chunks INT, dup_chars BIGINT, dup_frac DOUBLE,
    foreign_chars BIGINT, foreign_frac DOUBLE) — a chunk is "dup" when
    its content hash occurs on more than one (id, chunk) in the corpus;
    it is "foreign" when its canonical owner (the MINIMUM id holding the
    hash) is a different document. dup_frac is the symmetric profile
    (both copies count); foreign_frac is the keep-first DROP GATE — the
    canonical copy of shared content scores 0 on it, so thresholding
    foreign_frac ("drop docs >60% re-hosted") never deletes all copies
    of anything, exactly like dedup_exact's min-id survivor rule at
    chunk granularity. Fractions rounded to 6. The chunk-granular
    complement of `paragraph_dedup` for content that shifts.

    Plan shape at 100 TB: chunk rows are (8-byte hash, offsets) only; the
    multiplicity comes from ONE unordered window count over chunk_hash
    (the k_anonymize device — no join back, no second evaluation of the
    chunking expression; a groupBy+join variant re-runs the whole
    chunker on the second branch because Spark does not share subtrees
    across a self-join); the per-doc rollup re-shuffles by id. Two
    shuffles total, both on small keys — no document text ever moves
    after the scan, and never a crossJoin (plan guard)."""
    ch = cdc_chunks(
        df, text_col=text_col, id_col=id_col, min_len=min_len,
        avg_len=avg_len, max_len=max_len, window=window,
    )
    w = Window.partitionBy("chunk_hash")
    annotated = ch.withColumn(
        "__copies", F.count(F.lit(1)).over(w)
    ).withColumn("__owner", F.min(id_col).over(w))
    dup = F.col("__copies") > 1
    foreign = F.col("__owner") != F.col(id_col)
    return (
        annotated.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_chunks"),
            F.sum("len").cast("long").alias("n_chars"),
            F.sum(dup.cast("int")).cast("int").alias("dup_chunks"),
            F.sum(F.when(dup, F.col("len")).otherwise(0))
            .cast("long")
            .alias("dup_chars"),
            F.sum(F.when(foreign, F.col("len")).otherwise(0))
            .cast("long")
            .alias("foreign_chars"),
        )
        .withColumn(
            "dup_frac",
            F.round(
                F.col("dup_chars").cast("double")
                / F.col("n_chars").cast("double"),
                6,
            ),
        )
        .withColumn(
            "foreign_frac",
            F.round(
                F.col("foreign_chars").cast("double")
                / F.col("n_chars").cast("double"),
                6,
            ),
        )
        .select(
            id_col, "n_chunks", "n_chars", "dup_chunks", "dup_chars",
            "dup_frac", "foreign_chars", "foreign_frac",
        )
    )


def cdc_dedup_documents(
    df: DataFrame,
    max_foreign_frac: float = 0.6,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_len: int = 32,
    avg_len: int = 64,
    max_len: int = 128,
    window: int = CDC_WINDOW,
) -> DataFrame:
    """One-call chunk-level dedup gate: drop documents whose
    `foreign_frac` (fraction of chars in chunks OWNED by a lower-id
    document — see `cdc_dedup_stats`) exceeds `max_foreign_frac`; keep
    everything else, including every chunk's canonical owner, so no
    content disappears entirely. Documents producing no chunks (empty/
    NULL text) pass through — absence of chunks is not evidence of
    duplication. Returns the surviving rows of `df` unchanged.

    The threshold semantics a curation pipeline wants ("drop docs that
    are >60% re-hosted content") — sits between `near_dedup_documents`
    (whole-document Jaccard) and `exact_substring_remove` (span
    surgery): the document survives or dies whole, but the EVIDENCE is
    chunk-granular and shift-resistant."""
    if not 0.0 <= max_foreign_frac <= 1.0:
        raise ValueError(
            f"max_foreign_frac must be in [0, 1], got {max_foreign_frac}"
        )
    stats = cdc_dedup_stats(
        df, text_col=text_col, id_col=id_col, min_len=min_len,
        avg_len=avg_len, max_len=max_len, window=window,
    )
    doomed = stats.filter(
        F.col("foreign_frac") > F.lit(float(max_foreign_frac))
    ).select(id_col)
    return df.join(doomed, on=id_col, how="left_anti")


def cdc_chunk_hash_index(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_len: int = 32,
    avg_len: int = 64,
    max_len: int = 128,
    window: int = CDC_WINDOW,
) -> DataFrame:
    """The persistable CDC index of an accepted corpus: DISTINCT
    (chunk_hash BIGINT) — 8 bytes per distinct chunk, the membership
    relation `cdc_dedup_incremental` probes so incremental batches never
    re-chunk the accumulated base. Chunking parameters are part of the
    index identity (change them → rebuild); duplicates across unioned
    index files are harmless (membership semantics), which is what lets
    per-batch indexes compact by plain file concatenation."""
    return cdc_chunks(
        df, text_col=text_col, id_col=id_col, min_len=min_len,
        avg_len=avg_len, max_len=max_len, window=window,
    ).select("chunk_hash").distinct()


def cdc_dedup_incremental(
    base_chunk_hashes: DataFrame,
    new_df: DataFrame,
    max_foreign_frac: float = 0.6,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_len: int = 32,
    avg_len: int = 64,
    max_len: int = 128,
    window: int = CDC_WINDOW,
) -> DataFrame:
    """Incremental chunk-level dedup gate: drop rows of `new_df` whose
    char fraction in chunks ALREADY PRESENT in the accepted corpus
    (`base_chunk_hashes` — a `cdc_chunk_hash_index` relation, possibly a
    union of persisted per-batch indexes) exceeds `max_foreign_frac`;
    return the survivors of `new_df` unchanged. The base always owns
    shared content — it was accepted first (arrival order, the same
    precedence rule as `near_dedup_incremental`; numeric id comparison
    is only an intra-batch device, see `cdc_dedup_documents`). Docs
    producing no chunks pass through.

    Plan: the batch is chunked ONCE (totals and foreign chars come from
    the same relation via a left join against the distinct base-hash
    membership table — a second branch would re-run the whole chunker);
    the join and rollup shuffle 8-byte hashes and batch-sized rows only.
    The base contributes a scan of its index relation, never its text —
    per-batch cost scales with the batch, not the corpus."""
    if not 0.0 <= max_foreign_frac <= 1.0:
        raise ValueError(
            f"max_foreign_frac must be in [0, 1], got {max_foreign_frac}"
        )
    ch = cdc_chunks(
        new_df, text_col=text_col, id_col=id_col, min_len=min_len,
        avg_len=avg_len, max_len=max_len, window=window,
    )
    bh = (
        base_chunk_hashes.select("chunk_hash")
        .distinct()
        .withColumn("__inbase", F.lit(True))
    )
    doomed = (
        ch.join(bh, "chunk_hash", "left")
        .groupBy(id_col)
        .agg(
            F.sum("len").alias("__n_chars"),
            F.sum(
                F.when(F.col("__inbase"), F.col("len")).otherwise(0)
            ).alias("__foreign"),
        )
        .filter(
            F.col("__foreign").cast("double")
            / F.col("__n_chars").cast("double")
            > F.lit(float(max_foreign_frac))
        )
        .select(id_col)
    )
    return new_df.join(doomed, on=id_col, how="left_anti")

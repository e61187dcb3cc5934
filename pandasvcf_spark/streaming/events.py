"""Structured Streaming operators over the `events` table shape.

Engine extension scope (SURVEY §2.10 — the reference has no streaming; its
chunk iterator pandasvcf.py:162-174 is batch pull). Every operator here is
written against a plain DataFrame so the SAME function body serves both the
streaming DataFrame (from `read_events_stream`) and its batch twin (from
`spark.read.parquet`) — that batch twin is what the DuckDB oracle checks,
and the streaming tests assert stream-vs-batch equivalence under
`trigger(availableNow=True)`.

Watermarks are applied only when the input is actually streaming: on a batch
DataFrame `withWatermark` is a no-op wrapped for clarity.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

#: Explicit schema — a streaming source must not infer (and at 100 TB a
#: batch source shouldn't either).
#: ts is session-tz TIMESTAMP (not NTZ): event-time watermarks reject
#: TIMESTAMP_NTZ, and with the session timezone pinned to UTC the wall-clock
#: values match the testdata's naive microsecond timestamps.
EVENTS_DDL = (
    "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, "
    "event_type STRING, value DOUBLE, props STRING"
)


def read_events_stream(
    spark: SparkSession,
    path_dir: str,
    schema=None,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-source stream over a directory of events parquet files.
    `schema` (StructType or DDL string) defaults to EVENTS_DDL."""
    reader = spark.readStream.schema(schema or EVENTS_DDL)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(path_dir)


def _maybe_watermark(df: DataFrame, event_time: str, delay: str | None) -> DataFrame:
    if dict(df.dtypes).get(event_time) == "timestamp_ntz":
        # Watermarks require session-tz TIMESTAMP; same instant under the
        # pinned-UTC session. Cast unconditionally (batch too) so a batch
        # frame and its streaming twin carry the SAME ts dtype — agreement
        # must hold at the schema level, not just after string formatting.
        df = df.withColumn(event_time, F.col(event_time).cast("timestamp"))
    if delay and df.isStreaming:
        return df.withWatermark(event_time, delay)
    return df


def tumbling_counts(
    events: DataFrame,
    window: str = "1 hour",
    watermark: str | None = "2 hours",
    event_time: str = "ts",
) -> DataFrame:
    """Per (window, event_type) count + value sum. Streaming: incremental
    state per open window, closed by the watermark. Batch: a plain grouped
    aggregate. Output: win_start STRING, event_type, n BIGINT, sum_value.
    """
    df = _maybe_watermark(events, event_time, watermark)
    return (
        df.groupBy(F.window(event_time, window).alias("__w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            F.date_format(F.col("__w").start, "yyyy-MM-dd HH:mm:ss").alias(
                "win_start"
            ),
            "event_type",
            "n",
            "sum_value",
        )
    )


def sliding_counts(
    events: DataFrame,
    window: str = "2 hours",
    slide: str = "1 hour",
    watermark: str | None = "2 hours",
    event_time: str = "ts",
) -> DataFrame:
    """Overlapping-window counts (each event lands in window/slide windows).
    Output: win_start STRING, n BIGINT."""
    df = _maybe_watermark(events, event_time, watermark)
    return (
        df.groupBy(F.window(event_time, window, slide).alias("__w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.date_format(F.col("__w").start, "yyyy-MM-dd HH:mm:ss").alias(
                "win_start"
            ),
            "n",
        )
    )


def session_counts(
    events: DataFrame,
    gap: str = "30 minutes",
    watermark: str | None = "2 hours",
    event_time: str = "ts",
) -> DataFrame:
    """Per-user session windows (gap-based). Streaming uses the native
    `session_window` state operator; the gaps-and-islands batch twin lives in
    `pandasvcf_spark/queries/events_q.py` as the oracle-checked form.
    Output: user_id, session_start STRING, n BIGINT."""
    df = _maybe_watermark(events, event_time, watermark)
    return (
        df.groupBy(F.session_window(event_time, gap).alias("__w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            "user_id",
            F.date_format(F.col("__w").start, "yyyy-MM-dd HH:mm:ss").alias(
                "session_start"
            ),
            "n",
        )
    )


def dedup_events(
    events: DataFrame,
    keys: list[str] | None = None,
    watermark: str = "2 hours",
    event_time: str = "ts",
) -> DataFrame:
    """Streaming dedup on business keys with bounded state:
    `dropDuplicatesWithinWatermark` keeps state only inside the watermark
    horizon — the operator a 100 TB/day stream needs (unbounded-state dedup
    is a slow OOM). Batch inputs take the DETERMINISTIC keep-earliest form
    (row_number over event_time, remaining columns as tie-break) — the same
    survivor rule as the oracle-checked `e_dedup_first` in
    queries/events_q.py, so both batch twins of this operator agree."""
    keys = keys or ["user_id", "event_type"]
    if events.isStreaming:
        if not watermark:
            # Without a watermark, dropDuplicatesWithinWatermark fails deep
            # in analysis with an obscure error; fail at the call site with
            # the actual requirement instead.
            raise ValueError(
                "dedup_events on a stream requires a non-empty watermark "
                "(bounded state is the point of the operator)"
            )
        return _maybe_watermark(events, event_time, watermark).dropDuplicatesWithinWatermark(
            keys
        )
    from pandasvcf_spark.operators.relational import rank_per_group

    tiebreak = [c for c in events.columns if c not in keys and c != event_time]
    out = rank_per_group(
        events, keys, [event_time, *tiebreak], k=1, method="row_number", out="__rn"
    )
    return out.drop("__rn")


def running_user_totals(
    events: DataFrame,
    watermark: str = "2 hours",
    event_time: str = "ts",
) -> DataFrame:
    """Custom stateful operator via applyInPandasWithState: per-user running
    event count and value sum, maintained in explicit GroupState across
    micro-batches — the arbitrary-state API for logic that windowed aggs
    can't express (per-key accumulators, custom eviction, ML feature state).

    Emits one row per user per micro-batch in which the user appeared
    (update semantics): user_id, n_events, total_value. On a batch
    DataFrame, falls back to the equivalent grouped aggregate (the final
    state equals the batch totals — asserted by the tests)."""
    import pandas as pd  # local import: executors unpickle this module

    if not events.isStreaming:
        return events.groupBy("user_id").agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key, pdfs, state: GroupState):
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].sum())
        state.update((n, total))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [n],
                "total_value": [round(total, 2)],
            }
        )

    return (
        _maybe_watermark(events, event_time, watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType="user_id BIGINT, n_events BIGINT, total_value DOUBLE",
            stateStructType="n BIGINT, total DOUBLE",
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def join_recent(
    left: DataFrame,
    right: DataFrame,
    keys: list[str] | None = None,
    within: str = "10 minutes",
    left_time: str = "ts",
    right_time: str = "ts",
    watermark: str = "2 hours",
    right_suffix: str = "_r",
) -> DataFrame:
    """Stream-stream (or batch-batch — same body) interval join: each left
    row paired with right rows sharing the keys whose event time falls in
    [left_time - within, left_time]. The enrichment join a real pipeline
    runs between two live streams ("clicks joined to the views of the last
    10 minutes").

    Streaming semantics: BOTH sides get watermarks and the join carries the
    time-range condition — that is exactly what lets Spark bound the join
    state (right rows older than watermark+within are evicted; an
    unconstrained stream-stream join would buffer forever). Batch inputs
    run the identical plan minus state: an equi-join on the keys with the
    range as a post-condition — still a plain hash/sort-merge join on the
    key, never a theta join.

    Right's time column and any name collisions come back suffixed."""
    keys = keys or ["user_id"]
    lw = _maybe_watermark(left, left_time, watermark)
    rw = _maybe_watermark(right, right_time, watermark)
    rt = right_time + right_suffix
    ren = {right_time: rt}
    for c in rw.columns:
        if c in lw.columns and c not in keys and c != right_time:
            ren[c] = c + right_suffix
    for old, new in ren.items():
        rw = rw.withColumnRenamed(old, new)
    cond = None
    for k in keys:
        eq = lw[k] == rw[k]
        cond = eq if cond is None else cond & eq
    cond = (
        cond
        & (rw[rt] >= lw[left_time] - F.expr(f"INTERVAL {within}"))
        & (rw[rt] <= lw[left_time])
    )
    out = lw.join(rw, cond, "inner")
    # collapse the duplicated key columns (kept from the left side)
    for k in keys:
        out = out.drop(rw[k])
    return out


def _batch_dir_sink(
    stream_df: DataFrame,
    out_path: str,
    checkpoint_path: str,
    query_name: str,
    trigger: dict | None,
    rows_of,
    after_write=None,
    skip_empty: bool = True,
):
    """Start a foreachBatch query that overwrites `out_path/batch_id=N`
    with `rows_of(batch_df, N)` for every micro-batch, then calls
    `after_write(batch_dir)` if given. Overwriting makes a replayed
    batch rewrite its own directory instead of duplicating rows.
    Empty micro-batches write nothing unless `skip_empty` is False.
    `trigger` is passed to `writeStream.trigger(...)`; None drains the
    available input and stops (availableNow)."""

    def process(batch_df: DataFrame, batch_id: int) -> None:
        if skip_empty and batch_df.isEmpty():
            return
        batch_dir = f"{out_path}/batch_id={batch_id}"
        rows_of(batch_df, batch_id).write.mode("overwrite").parquet(batch_dir)
        if after_write is not None:
            after_write(batch_dir)

    return (
        stream_df.writeStream.foreachBatch(process)
        .queryName(query_name)
        .option("checkpointLocation", checkpoint_path)
        .trigger(**(trigger or {"availableNow": True}))
        .start()
    )


def write_stream_partitioned(
    stream_df: DataFrame,
    out_path: str,
    checkpoint_path: str,
    query_name: str = "sink",
    available_now: bool = True,
):
    """Exactly-once parquet sink via foreachBatch: every micro-batch lands
    in `out_path/batch_id=N`, so a replayed batch (failure between sink
    write and checkpoint commit) OVERWRITES its own directory instead of
    duplicating rows — idempotence from layout, the standard pattern when
    the sink itself has no transactions. The checkpoint directory carries
    the source offsets; together they give end-to-end exactly-once for
    file sources. Returns the started StreamingQuery (await it yourself
    for availableNow drains)."""
    return _batch_dir_sink(
        stream_df, out_path, checkpoint_path, query_name,
        # processingTime 0 is Spark's default trigger
        None if available_now else {"processingTime": "0 seconds"},
        lambda batch_df, _batch_id: batch_df,
        skip_empty=False,
    )


def run_stream_to_memory(
    stream_df: DataFrame, query_name: str, output_mode: str = "complete"
) -> DataFrame:
    """Drain a stream into an in-memory sink with availableNow (process all
    available input, then stop) and return the materialized result — the
    harness used by the stream-equals-batch tests."""
    q = (
        stream_df.writeStream.format("memory")
        .queryName(query_name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    spark = stream_df.sparkSession
    return spark.table(query_name)


def ohlc_stream(
    events: DataFrame,
    window: str = "1 hour",
    watermark: str | None = "2 hours",
    event_time: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """Windowed OHLC candles per event_type — the streaming twin of
    `operators/relational.ohlc_candles` (same struct-extreme device:
    open/close are min/max over (epoch-second, value) structs, so the
    whole candle is ONE incremental aggregation state per open window
    — no ordered buffer, no per-window sort at close). Batch: the same
    grouped aggregate. Output: win_start STRING, event_type, n BIGINT,
    open, high, low, close DOUBLE, volume DOUBLE round 2."""
    df = _maybe_watermark(events, event_time, watermark)
    v = F.col(value_col).cast("double")
    pair = F.struct(
        F.unix_timestamp(F.col(event_time)).cast("long").alias("__t"),
        v.alias("__v"),
    )
    return (
        df.filter(v.isNotNull())
        .groupBy(F.window(event_time, window).alias("__w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min(pair).alias("__first"),
            F.max(pair).alias("__last"),
            F.max(v).alias("high"),
            F.min(v).alias("low"),
            F.round(F.sum(v), 2).alias("volume"),
        )
        .select(
            F.date_format(F.col("__w").start, "yyyy-MM-dd HH:mm:ss").alias(
                "win_start"
            ),
            "event_type",
            "n",
            F.col("__first.__v").alias("open"),
            "high",
            "low",
            F.col("__last.__v").alias("close"),
            "volume",
        )
    )

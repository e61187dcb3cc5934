"""Testdata table loaders (see TESTDATA.md).

One quirk worth a loader: `events.parquet` has stored `ts` either as parquet
TIMESTAMP(NANOS) (unreadable natively — PARQUET_TYPE_ILLEGAL) or as
microsecond timestamp with isAdjustedToUTC=false (read back as
TIMESTAMP_NTZ, which `withWatermark` rejects). The loader normalizes both
to a session-tz TIMESTAMP at microsecond precision; with the session
timezone pinned to UTC (plans/session.py) the wall-clock values are
identical to DuckDB's naive timestamps, so derived values agree.

Schema memo. `spark.read.parquet(path)` runs one Spark job per call to
read the footer and infer the schema, even for a table already read in
this session (about 40 ms warm on lineitem at sf0.001 on 4 cores, against
5 ms for the same read with the schema declared). A session that builds
many short queries over the same tables would pay that once per table per
query. So `load` remembers, per SparkSession, the schema Spark itself
inferred for each table file and declares it on later reads: a warm query
is built with no Spark job. The memo is

* held weakly per session: a stopped, dropped session frees it;
* keyed by the resolved path, and bounded by the number of distinct
  table files the session has loaded;
* checked on every load against the file's identity (`os.stat` inode,
  size and `st_mtime_ns`) and the parquet confs that change the inferred
  schema (`_SCHEMA_CONFS`, nanosAsLong among them). If either differs,
  the schema is inferred again and the entry replaced, so a file
  rewritten in place, even with other columns or types, is read as it
  now is.

Paths that are not a local regular file (`file:`/`hdfs:` URIs, Spark-
written directories, whose stat does not change when a part file does)
and first loads take the inferring read. The memo stores Spark's own
inferred schema, never a hand-written one, so a declared read has the
same optimized plan as an inferring one, and the `events` branch sees the
same `ts` type.
"""

from __future__ import annotations

import os
import stat
import weakref

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLE_NAMES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]

#: Parquet confs whose value changes the schema Spark infers from a footer.
_SCHEMA_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
)

#: SparkSession -> {resolved path: ((inode, size, mtime_ns, conf values),
#: inferred schema)}
_SCHEMAS: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """`spark.read.parquet(path)`, declaring the schema inferred for the
    same file, unchanged and under the same confs, earlier in this
    session (module docstring)."""
    real = os.path.realpath(path)
    try:
        st = os.stat(real)
    except OSError:
        return spark.read.parquet(path)
    if not stat.S_ISREG(st.st_mode):
        return spark.read.parquet(path)
    ident = (st.st_ino, st.st_size, st.st_mtime_ns,
             *(spark.conf.get(k) for k in _SCHEMA_CONFS))
    memo = _SCHEMAS.setdefault(spark, {})
    hit = memo.get(real)
    if hit is not None and hit[0] == ident:
        return spark.read.schema(hit[1]).parquet(path)
    df = spark.read.parquet(path)
    memo[real] = (ident, df.schema)
    return df


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    path = f"{sf_dir.rstrip('/')}/{name}.parquet"
    if name == "events":
        # Sessions built by get_spark are born with nanosAsLong=true
        # (plans/session.py). For an externally-built session reading a
        # genuinely nanos-typed file, schema resolution raises here
        # (PARQUET_TYPE_ILLEGAL) — only then flip the conf, and leave it
        # set: the returned DataFrame is lazy, so a save/restore around
        # this call would be re-read as the OLD value at action time and
        # fail mid-job. Never mutated on the normal (micros/NTZ) path.
        try:
            df = _read_parquet(spark, path)
        except Exception:
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
            df = _read_parquet(spark, path)
        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":
            # ns since epoch -> microsecond TIMESTAMP (matches DuckDB epoch_us)
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif ts_type == "timestamp_ntz":
            # NTZ wall clock -> session-tz (UTC) TIMESTAMP: same instant, and
            # the streaming operators can watermark it.
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
        return df
    return _read_parquet(spark, path)


def register_views(
    spark: SparkSession, sf_dir: str, suffix: str = ""
) -> list[str]:
    """Register every testdata table as a temp view so the whole engine
    surface is drivable from plain ``spark.sql`` — the declarative entry
    point the DataFrame catalog queries compile to anyway. Views are
    session-scoped and lazy (no data is read until queried); `suffix`
    namespaces two scale factors side by side (``register_views(spark,
    sf001, "_a")``). Returns the registered view names.

    The same `load` normalizations apply (events ts handling), so SQL
    over the views agrees with the DataFrame loaders and the DuckDB
    oracle to the value."""
    names = []
    for name in TABLE_NAMES:
        view = f"{name}{suffix}"
        load(spark, sf_dir, name).createOrReplaceTempView(view)
        names.append(view)
    return names

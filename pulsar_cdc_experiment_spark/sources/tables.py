"""Readers for the driver-generated parquet tables (TESTDATA.md).

One parquet file per table under ``{sf_dir}/{name}.parquet``. Readers are
plain ``spark.read.parquet`` so Catalyst gets predicate pushdown, column
pruning, and (on partitioned layouts) partition pruning for free.

Schemas are inferred ONCE per path and cached driver-side: every later
``table()`` call passes the cached schema explicitly, so building a query
plan runs zero Spark jobs (tests/test_scale_plans.py asserts this for the
whole registry). At 100 TB the same discipline matters for real — footer
schema inference over a many-thousand-file table is a cluster job per
read, and a catalog (or this cache) pays it once instead of per query.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# path -> (freshness state, inferred StructType); filled on first read
# of each table file/dir. The freshness state (stat fields, or the full
# file listing for directories) invalidates the entry when content is
# regenerated in place (a stale explicit schema on a parquet read
# silently returns nulls for renamed/retyped columns instead of
# failing). Keyed per PATH with replace-on-change — keying on the state
# itself would retain one dead entry (holding an entire directory
# listing) per rewrite of a repeatedly-rebuilt fixture dir, unbounded
# over a bench sweep.
_SCHEMA_CACHE: dict[str, tuple[object, T.StructType]] = {}


def clear_schema_cache() -> None:
    """Drop every cached schema — for tests that regenerate table files."""
    _SCHEMA_CACHE.clear()


def _cached_schema(path: str, state: object, infer):
    hit = _SCHEMA_CACHE.get(path)
    if hit is not None and hit[0] == state:
        return hit[1]
    schema = infer()
    _SCHEMA_CACHE[path] = (state, schema)
    return schema


def local_rows(spark: SparkSession, rows, schema) -> DataFrame:
    """Driver-local bounded relation as a SINGLE-slice RDD.

    ``spark.createDataFrame(list, schema)`` parallelizes the rows across
    ``defaultParallelism`` Python-RDD slices; every evaluation of that
    relation then pays one Python-worker round-trip PER SLICE — and a
    single-task consumer (a ``coalesce(1)`` file write, a broadcast
    build) pays them SEQUENTIALLY: measured 5–6 s for a 2-row audit
    write at local[32] vs 0.3 s at one slice (round-19 optimization;
    guide §4 — the Python boundary is per-partition, so don't mint 32
    partitions for 2 rows). Semantics identical: same rows, same
    explicit schema, no inference job."""
    return spark.createDataFrame(
        spark.sparkContext.parallelize(rows, numSlices=1), schema
    )


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name == "events":
        _enable_nanos_as_long(spark)
    path = os.path.join(sf_dir, f"{name}.parquet")
    st = os.stat(path)
    schema = _cached_schema(
        path,
        (st.st_mtime_ns, st.st_size),
        lambda: spark.read.parquet(path).schema,
    )
    df = spark.read.schema(schema).parquet(path)
    if name == "events":
        df = _normalize_events_ts(df)
    return df


def _visible(name: str) -> bool:
    # mirror Spark's shouldFilterOutPathName: '.'-prefixed and
    # '_'-prefixed entries are metadata EXCEPT '_'-names carrying '=' —
    # those are partition directories for '_'-prefixed partition columns
    # (write_ivf_index's __ivf=N layout), and pruning them would make the
    # listing content-blind for exactly the layouts it exists to keep
    # fresh
    if name.startswith("."):
        return False
    return not name.startswith("_") or "=" in name


def listing_state(path: str) -> tuple:
    """Freshness state of a directory's visible data files: the sorted
    (relpath, name, mtime_ns, size) of every file Spark would list under
    ``path``. The exact tuple is the state — folding it through a hash
    would admit a collision serving a stale schema after an in-place
    rewrite, for zero savings."""
    entries = []
    for dirpath, dirnames, filenames in os.walk(path):
        # sorted traversal: the state must not depend on listdir order
        dirnames[:] = sorted(d for d in dirnames if _visible(d))
        for fn in sorted(filenames):
            if not _visible(fn):
                continue
            fst = os.stat(os.path.join(dirpath, fn))
            entries.append((os.path.relpath(dirpath, path), fn,
                            fst.st_mtime_ns, fst.st_size))
    return tuple(entries)


def read_dir(spark: SparkSession, path: str, fmt: str = "parquet") -> DataFrame:
    """Schema-cached read of an arbitrary columnar directory (the fixture
    layouts the layout/ingest queries write). Same discipline as
    :func:`table`: infer once per directory STATE, then pass the schema
    explicitly so re-reading a session-cached fixture plans zero jobs
    (the fixture-reuse gate in tests/test_scale_plans.py).

    The cache key folds in the recursive file listing
    (:func:`listing_state`) — (relpath, name, mtime_ns, size) of every
    data file — not just the directory's own stat: rewriting a data file
    IN PLACE changes no directory entry, so a dir-stat key would serve a
    stale schema. Local fixture dirs are small, so the walk is
    microseconds; a 100 TB deployment gets this freshness from its
    catalog instead."""
    st = os.stat(path)
    if os.path.isdir(path):
        state: object = (listing_state(path), st.st_size)
    else:
        state = (st.st_mtime_ns, st.st_size)
    schema = _cached_schema(
        path, state, lambda: getattr(spark.read, fmt)(path).schema
    )
    return getattr(spark.read.schema(schema), fmt)(path)


def _normalize_events_ts(df: DataFrame) -> DataFrame:
    """Normalize events.ts to TIMESTAMP_NTZ regardless of physical layout.

    Current testdata stores parquet TIMESTAMP(MICROS, isAdjustedToUTC=false)
    → Spark reads TIMESTAMP_NTZ natively (same local fields DuckDB sees; no
    session timezone anywhere — functions/time.py has the rationale).
    Earlier generations stored TIMESTAMP(NANOS), which under nanosAsLong
    arrives as int64 epoch-nanos; truncate ns→µs with integer `div` (float
    division would round, and int64-nanos exceeds double's 2^53 exact
    range — DuckDB truncates the same way) and rebuild NTZ timezone-free.
    """
    from pyspark.sql import types as T

    from ..functions.time import ntz_from_micros

    dt = df.schema["ts"].dataType
    if isinstance(dt, T.LongType):
        df = df.withColumn("ts", ntz_from_micros(F.expr("ts div 1000")))
    return df


def _enable_nanos_as_long(spark: SparkSession) -> None:
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")


def load_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    _enable_nanos_as_long(spark)
    return {name: table(spark, sf_dir, name) for name in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view so ``spark.sql`` works over them."""
    _enable_nanos_as_long(spark)
    for name in TABLES:
        table(spark, sf_dir, name).createOrReplaceTempView(name)

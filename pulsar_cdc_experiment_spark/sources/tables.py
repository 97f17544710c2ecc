"""Readers for the driver-generated parquet tables (TESTDATA.md) and for
the directories the engine's writers leave.

One parquet file per table under ``{sf_dir}/{name}.parquet``. Readers are
plain ``spark.read.parquet`` so Catalyst gets predicate pushdown, column
pruning, and (on partitioned layouts) partition pruning for free.

Every reader passes an explicit schema, so building a query plan runs
zero Spark jobs (tests/test_scale_plans.py asserts this for the whole
registry). The schema cache holds one slot per file or directory: the
union of its data files' footers (``mergeSchema``), DATA columns only,
keyed on the visible file listing (:func:`listing_state`). Partition
columns are never cached: given a data-only schema, Spark discovers
them from the directory names on the driver, with no job, and appends
them after the data columns, typed as a reader asks (``read_dir`` lets
Spark infer them; the copy-on-write merge spells them as strings).
Every engine writer seeds the slot of the directory it just published
from the schema it wrote (:func:`seed_schema_cache`), so the first read
after an engine commit runs no inference job either; only a listing no
engine writer seeded (a fixture, another writer's file) is inferred, once.
At 100 TB the same discipline matters for real — footer inference over a
many-thousand-file table is a cluster job per read, and a catalog (or
this cache) pays it once instead of per query.
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

# normalised path -> (listing state, data-column schema). Keyed per
# PATH with replace-on-change: a stale explicit schema on a parquet read
# silently returns nulls for renamed/retyped columns instead of failing,
# and keying on the state itself would retain one dead entry (holding an
# entire directory listing) per rewrite of a repeatedly-rebuilt fixture
# dir, unbounded over a bench sweep.
_SCHEMA_CACHE: dict[str, tuple[object, T.StructType]] = {}


def clear_schema_cache() -> None:
    """Drop every cached schema — for tests that regenerate table files."""
    _SCHEMA_CACHE.clear()


def _cached_schema(slot: str, state: object, infer):
    hit = _SCHEMA_CACHE.get(slot)
    if hit is not None and hit[0] == state:
        return hit[1]
    schema = infer()
    _SCHEMA_CACHE[slot] = (state, schema)
    return schema


def local_rows(spark: SparkSession, rows, schema) -> DataFrame:
    """Driver-local bounded relation as a SINGLE-slice RDD.

    ``spark.createDataFrame(list, schema)`` parallelizes the rows across
    ``defaultParallelism`` Python-RDD slices; every evaluation of that
    relation then pays one Python-worker round-trip PER SLICE — and a
    single-task consumer (a ``coalesce(1)`` file write, a broadcast
    build) pays them SEQUENTIALLY: measured 5–6 s for a 2-row audit
    write at local[32] vs 0.3 s at one slice. The Python boundary is
    per partition, so 2 rows get one partition, not 32. Semantics
    identical: same rows, same explicit schema, no inference job."""
    return spark.createDataFrame(
        spark.sparkContext.parallelize(rows, numSlices=1), schema
    )


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name == "events":
        _enable_nanos_as_long(spark)
    df = read_dir(spark, os.path.join(sf_dir, f"{name}.parquet"))
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
    """Freshness state of a file or directory: the sorted (relpath, name,
    mtime_ns, size) of every data file Spark would list under ``path``
    (a plain file is its own one-entry listing, relpath ``""``). The
    exact tuple is the state — folding it through a hash would admit a
    collision serving a stale schema after an in-place rewrite, for zero
    savings."""
    if os.path.isfile(path):
        st = os.stat(path)
        return (("", os.path.basename(path), st.st_mtime_ns, st.st_size),)
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


def _as_read_nullable(dt):
    """Parquet read-back type: Spark marks every field nullable on
    inference (``StructType.asNullable``) regardless of how it was
    written — mirror that so a seeded slot equals what inference over
    the written files returns."""
    if isinstance(dt, T.StructType):
        return T.StructType(
            [
                T.StructField(
                    f.name, _as_read_nullable(f.dataType), True, f.metadata
                )
                for f in dt.fields
            ]
        )
    if isinstance(dt, T.ArrayType):
        return T.ArrayType(_as_read_nullable(dt.elementType), True)
    if isinstance(dt, T.MapType):
        return T.MapType(
            _as_read_nullable(dt.keyType), _as_read_nullable(dt.valueType),
            True,
        )
    return dt


def data_schema(
    spark: SparkSession, path: str, fmt: str = "parquet"
) -> T.StructType:
    """Data-column schema of a file or directory from its slot: the union
    of every data file's footer, partition columns stripped. A miss (no
    slot, or a listing that changed since the slot was filled) runs one
    ``mergeSchema`` inference job: after schema evolution files of both
    widths sit side by side, and one footer would name only one width.
    ``recursiveFileLookup`` turns partition discovery off for that read,
    so the inferred schema is the data columns alone."""

    def infer():
        reader = (
            spark.read.option("mergeSchema", "true")
            .option("recursiveFileLookup", "true")
        )
        return getattr(reader, fmt)(path).schema

    return _cached_schema(os.path.abspath(path), listing_state(path), infer)


def seed_schema_cache(path: str, schema, pcols=()) -> None:
    """Fill the slot of a file or directory a writer JUST published, from
    the schema it wrote: ``schema`` minus the partition columns
    ``pcols`` it was written by, read-nullability applied, keyed on the
    listing as it now stands. The next reader — often a registered
    query's job-free plan construction — then skips the inference job."""
    fields = [f for f in schema.fields if f.name not in pcols]
    _SCHEMA_CACHE[os.path.abspath(path)] = (
        listing_state(path), _as_read_nullable(T.StructType(fields))
    )


def read_dir(spark: SparkSession, path: str, fmt: str = "parquet") -> DataFrame:
    """Schema-cached read of a columnar file or directory (the fixture
    layouts the layout/ingest queries write, and every table directory
    the engine writes): the slot's data-column schema
    (:func:`data_schema`) passed explicitly, so re-reading an unchanged
    directory plans zero jobs (the fixture-reuse gate in
    tests/test_scale_plans.py); Spark appends the partition columns it
    discovers from the directory names, with their types inferred.

    The slot is keyed on the recursive file listing
    (:func:`listing_state`), not the directory's own stat: rewriting a
    data file IN PLACE changes no directory entry, so a dir-stat key
    would serve a stale schema. Local directories are small, so the walk
    is microseconds; a 100 TB deployment gets this freshness from its
    catalog instead."""
    return getattr(spark.read.schema(data_schema(spark, path, fmt)), fmt)(path)


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

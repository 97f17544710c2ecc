"""Source/sink format breadth: the engine round-trips its tables through
CSV, JSON, and ORC readers/writers with explicit schemas — a reference
user's data does not always arrive as parquet."""

from __future__ import annotations

import tempfile

from pyspark.sql import functions as F

from pulsar_cdc_experiment_spark.sources.tables import table


def _events(spark, sf_dir):
    return table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )


def test_csv_json_orc_round_trip(spark, sf_dir):
    ev = _events(spark, sf_dir)
    n = ev.count()
    agg = ev.groupBy("event_type").agg(F.count("*").alias("n")).collect()
    expect = {r["event_type"]: r["n"] for r in agg}

    for fmt, opts in (
        ("csv", {"header": "true"}),
        ("json", {}),
        ("orc", {}),
    ):
        out = tempfile.mkdtemp(prefix=f"fmt_{fmt}_")
        ev.write.mode("overwrite").options(**opts).format(fmt).save(out)
        back = (
            spark.read.options(**opts)
            .schema(ev.schema)
            .format(fmt)
            .load(out)
        )
        assert back.count() == n, fmt
        got = {
            r["event_type"]: r["n"]
            for r in back.groupBy("event_type").agg(F.count("*").alias("n")).collect()
        }
        assert got == expect, fmt


def test_xml_round_trip(spark, sf_dir):
    """Spark 4 built-in XML source: write events as XML rows, read back
    with an explicit schema, and verify counts + a value-level spot check
    (DuckDB has no XML reader, so this path is test-pinned; the XPath
    extraction semantics are oracle-backed via the xml_functions query)."""
    ev = _events(spark, sf_dir).select("event_id", "user_id", "event_type", "value")
    n = ev.count()
    out = tempfile.mkdtemp(prefix="fmt_xml_")
    ev.write.mode("overwrite").option("rootTag", "events").option(
        "rowTag", "event"
    ).format("xml").save(out)
    back = (
        spark.read.option("rowTag", "event")
        .schema(ev.schema)
        .format("xml")
        .load(out)
    )
    assert back.count() == n
    a = {r["event_id"]: r["value"] for r in ev.orderBy("event_id").limit(50).collect()}
    b = {
        r["event_id"]: r["value"]
        for r in back.filter(F.col("event_id").isin(*a)).collect()
    }
    assert b == a


def test_read_dir_schema_cache_exact_freshness(spark, sf_dir):
    """read_dir's schema cache must serve the NEW schema after an
    in-place rewrite, its freshness state is the exact file-listing
    tuple — not a folded hash that could collide (r8 ADVICE) — and it
    is keyed per PATH with replace-on-change, so rewriting the same dir
    repeatedly never grows the cache (r9 review). Pins: (a) cache hit
    on an unchanged dir, (b) a rewrite that changes the schema is seen
    immediately, (c) one entry per path regardless of rewrites."""
    import os
    import tempfile

    from pulsar_cdc_experiment_spark.sources import tables as tmod

    out = tempfile.mkdtemp(prefix="read_dir_fresh_")
    _events(spark, sf_dir).limit(10).write.mode("overwrite").parquet(out)

    before = len(tmod._SCHEMA_CACHE)
    s1 = tmod.read_dir(spark, out).schema
    assert len(tmod._SCHEMA_CACHE) == before + 1
    tmod.read_dir(spark, out)  # unchanged dir → cache hit, no new entry
    assert len(tmod._SCHEMA_CACHE) == before + 1
    # the freshness state embeds the exact (relpath, name, mtime_ns,
    # size) entries
    listing, _schema = tmod._SCHEMA_CACHE[out]
    assert isinstance(listing, tuple) and len(listing) > 0
    assert all(len(e) == 4 and isinstance(e[3], int) for e in listing)

    # in-place rewrite with a WIDER schema → read_dir must see it, and
    # the old entry is REPLACED, not retained
    _events(spark, sf_dir).limit(10).withColumn(
        "extra", F.lit(1)
    ).write.mode("overwrite").parquet(out)
    s2 = tmod.read_dir(spark, out).schema
    assert "extra" in s2.fieldNames() and "extra" not in s1.fieldNames()
    assert len(tmod._SCHEMA_CACHE) == before + 1

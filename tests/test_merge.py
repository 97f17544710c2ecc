"""plans/merge.merge_into — the guarantees the oracle cannot see:
untouched-partition byte identity, partition-drift containment, re-apply
idempotence, empty-partition removal, crash recovery, and the fail-loud
preconditions (duplicate changeset keys, null partition values)."""

from __future__ import annotations

import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from pulsar_cdc_experiment_spark.plans.merge import (
    ASIDE,
    merge_into,
    partition_file_listing,
)


def _mk_table(spark, root, rows):
    df = spark.createDataFrame(
        rows, "k bigint, v double, p string"
    )
    df.repartition(2).write.mode("overwrite").partitionBy("p").parquet(root)


def _state(spark, root):
    return {
        (r["k"], r["v"], r["p"])
        for r in spark.read.parquet(root).collect()
    }


def _base_rows():
    return [
        (i, float(i), "a" if i % 3 == 0 else ("b" if i % 3 == 1 else "c"))
        for i in range(30)
    ]


def _chg(spark, rows):
    return spark.createDataFrame(
        rows, "k bigint, v double, p string, is_delete boolean"
    )


def test_merge_untouched_partitions_byte_identical_and_values(spark):
    root = tempfile.mkdtemp(prefix="merge_t1_")
    _mk_table(spark, root, _base_rows())
    before = partition_file_listing(root, "p")

    # update two 'a' rows, insert one new 'a' row, delete one 'a' row;
    # 'b' and 'c' never mentioned
    chg = _chg(
        spark,
        [
            (0, 100.0, "a", False),
            (3, 103.0, "a", False),
            (900, 900.0, "a", False),
            (6, 0.0, "a", True),
        ],
    )
    rep = merge_into(spark, root, chg, keys=["k"], partition_col="p")
    assert rep["touched"] == ["a"]
    assert sorted(rep["untouched"]) == ["b", "c"]
    assert rep["n_updated"] == 2
    assert rep["n_deleted"] == 1
    assert rep["n_inserted"] == 1
    assert rep["n_noop_deletes"] == 0

    after = partition_file_listing(root, "p")
    assert before["p=b"] == after["p=b"]
    assert before["p=c"] == after["p=c"]

    st = _state(spark, root)
    assert (0, 100.0, "a") in st and (3, 103.0, "a") in st
    assert (900, 900.0, "a") in st
    assert not any(k == 6 for k, _, _ in st)
    # untouched rows intact
    expect_rest = {
        (i, float(i), "b" if i % 3 == 1 else "c")
        for i in range(30)
        if i % 3 != 0
    }
    assert expect_rest <= st


def test_merge_partition_drift_leaves_no_stale_twin(spark):
    root = tempfile.mkdtemp(prefix="merge_t2_")
    _mk_table(spark, root, _base_rows())
    # move k=9 (lives in 'a') to partition 'b' with a new value
    chg = _chg(spark, [(9, 999.0, "b", False)])
    rep = merge_into(spark, root, chg, keys=["k"], partition_col="p")
    # both the destination AND the old home were rewritten
    assert rep["touched"] == ["a", "b"]
    st = _state(spark, root)
    copies = [(k, v, p) for (k, v, p) in st if k == 9]
    assert copies == [(9, 999.0, "b")]


def test_merge_reapply_is_idempotent(spark):
    root = tempfile.mkdtemp(prefix="merge_t3_")
    _mk_table(spark, root, _base_rows())
    chg = _chg(
        spark,
        [(0, 50.0, "a", False), (1, 51.0, "b", False), (2, 0.0, "c", True),
         (700, 7.0, "a", False)],
    )
    merge_into(spark, root, chg, keys=["k"], partition_col="p")
    st1 = _state(spark, root)
    rep2 = merge_into(spark, root, chg, keys=["k"], partition_col="p")
    assert _state(spark, root) == st1
    # second apply: the insert's key now matches (counted as update),
    # the delete is now unmatched (no-op)
    assert rep2["n_inserted"] == 0
    assert rep2["n_updated"] == 3
    assert rep2["n_noop_deletes"] == 1


def test_merge_can_empty_a_partition(spark):
    root = tempfile.mkdtemp(prefix="merge_t4_")
    _mk_table(
        spark, root, [(1, 1.0, "solo"), (2, 2.0, "rest"), (3, 3.0, "rest")]
    )
    chg = _chg(spark, [(1, 0.0, "solo", True)])
    rep = merge_into(spark, root, chg, keys=["k"], partition_col="p")
    assert rep["deleted_partitions"] == ["solo"]
    assert not os.path.exists(os.path.join(root, "p=solo"))
    assert _state(spark, root) == {(2, 2.0, "rest"), (3, 3.0, "rest")}


def test_merge_noop_delete_does_not_touch_its_partition(spark):
    root = tempfile.mkdtemp(prefix="merge_t5_")
    _mk_table(spark, root, _base_rows())
    before = partition_file_listing(root, "p")
    chg = _chg(spark, [(12345, 0.0, "b", True)])  # absent key
    rep = merge_into(spark, root, chg, keys=["k"], partition_col="p")
    assert rep["touched"] == [] and rep["n_noop_deletes"] == 1
    assert partition_file_listing(root, "p") == before


def test_merge_crash_recovery_restores_lost_partition(spark):
    root = tempfile.mkdtemp(prefix="merge_t6_")
    _mk_table(spark, root, _base_rows())
    st0 = _state(spark, root)
    # simulate the crash window between the two renames: live dir moved
    # aside, staged dir never renamed in
    os.rename(os.path.join(root, "p=b"), os.path.join(root, ASIDE + "p=b"))
    assert "p=b" not in partition_file_listing(root, "p")
    # next merge run recovers it before doing anything else
    rep = merge_into(
        spark, root, _chg(spark, [(0, 42.0, "a", False)]),
        keys=["k"], partition_col="p",
    )
    assert rep["touched"] == ["a"]
    st = _state(spark, root)
    assert {(k, v, p) for (k, v, p) in st if p == "b"} == {
        (k, v, p) for (k, v, p) in st0 if p == "b"
    }
    assert (0, 42.0, "a") in st


def test_merge_crash_window_keeps_partition_deleted(spark):
    """Delete path of the crash-recovery discipline (round-10 advice #1):
    an intentionally-emptied partition is tombstoned with the STAGING
    prefix, so a crash between the tombstone rename and the rmtree must
    leave the partition DELETED after recovery — the old ASIDE rename
    made recovery resurrect every deleted row."""
    root = tempfile.mkdtemp(prefix="merge_t11_")
    _mk_table(
        spark, root, [(1, 1.0, "solo"), (2, 2.0, "rest"), (3, 3.0, "rest")]
    )
    # run the real delete so the code path itself is exercised once
    merge_into(
        spark, root, _chg(spark, [(1, 0.0, "solo", True)]),
        keys=["k"], partition_col="p",
    )
    assert _state(spark, root) == {(2, 2.0, "rest"), (3, 3.0, "rest")}
    # now simulate the crash window: rebuild, rename the live dir to the
    # tombstone name exactly as the publish does, but "crash" before the
    # rmtree — the next merge's recovery sweep must DISCARD it
    shutil.rmtree(root)
    _mk_table(
        spark, root, [(1, 1.0, "solo"), (2, 2.0, "rest"), (3, 3.0, "rest")]
    )
    from pulsar_cdc_experiment_spark.plans.merge import STAGING

    os.rename(
        os.path.join(root, "p=solo"),
        os.path.join(root, STAGING + "deleted_p=solo"),
    )
    rep = merge_into(
        spark, root, _chg(spark, [(2, 22.0, "rest", False)]),
        keys=["k"], partition_col="p",
    )
    assert rep["touched"] == ["rest"]
    assert not os.path.exists(os.path.join(root, "p=solo"))
    assert _state(spark, root) == {(2, 22.0, "rest"), (3, 3.0, "rest")}
    shutil.rmtree(root, ignore_errors=True)


def test_merge_fails_loud_under_concurrent_maintenance(spark):
    """merge_into runs under maintenance_lock (round-10 advice #2): with
    another maintainer holding the table root's lock, the merge must
    refuse — and must leave the table untouched."""
    root = tempfile.mkdtemp(prefix="merge_t12_")
    _mk_table(spark, root, _base_rows())
    snapshot = _state(spark, root)
    lock_path = os.path.join(root, ".maintenance_lock")
    from pulsar_cdc_experiment_spark.plans.layout import maintenance_lock

    holder = maintenance_lock(root)  # a live "other" holder (flock held)
    holder.__enter__()
    try:
        with pytest.raises(RuntimeError, match="held by live pid"):
            merge_into(
                spark, root, _chg(spark, [(0, 1.0, "a", False)]),
                keys=["k"], partition_col="p",
            )
    finally:
        holder.__exit__(None, None, None)
    assert _state(spark, root) == snapshot
    # lock is released after a successful merge
    merge_into(
        spark, root, _chg(spark, [(0, 1.0, "a", False)]),
        keys=["k"], partition_col="p",
    )
    assert not os.path.exists(lock_path)
    shutil.rmtree(root, ignore_errors=True)


def test_merge_rejects_duplicate_keys_and_null_partitions(spark):
    root = tempfile.mkdtemp(prefix="merge_t7_")
    _mk_table(spark, root, _base_rows())
    snapshot = _state(spark, root)
    with pytest.raises(ValueError, match="unique changeset"):
        merge_into(
            spark, root,
            _chg(spark, [(0, 1.0, "a", False), (0, 2.0, "a", False)]),
            keys=["k"], partition_col="p",
        )
    with pytest.raises(ValueError, match="NULL or empty"):
        merge_into(
            spark, root, _chg(spark, [(0, 1.0, None, False)]),
            keys=["k"], partition_col="p",
        )
    # failed merges left the table untouched
    assert _state(spark, root) == snapshot
    shutil.rmtree(root, ignore_errors=True)


def test_merge_fixture_report_matches_changeset_definition(spark, sf_dir):
    """The registered query's fixture report agrees with the closed-form
    changeset the oracle uses."""
    import json

    from pulsar_cdc_experiment_spark.queries.merge_q import (
        merge_orders_fixture,
    )
    from pulsar_cdc_experiment_spark.sources.tables import table

    root = merge_orders_fixture(spark, sf_dir)
    with open(os.path.join(root, "report.json")) as f:
        rep = json.load(f)
    assert rep["touched"] == ["1-URGENT", "3-MEDIUM"]
    assert "4-NOT SPECIFIED" in rep["untouched"]

    o = table(spark, sf_dir, "orders")
    key, pri = F.col("o_orderkey"), F.col("o_orderpriority")
    n_upd = o.filter(
        (key % 50 == 3) & pri.isin("1-URGENT", "3-MEDIUM")
    ).count() + o.filter((key % 50 == 19) & (pri == "3-MEDIUM")).count()
    n_del = o.filter(
        (key % 50 == 7) & pri.isin("1-URGENT", "3-MEDIUM")
    ).count()
    n_ins = o.filter((key % 50 == 11) & (pri == "5-LOW")).count()
    n_noop = o.filter(
        (key % 50 == 13) & (pri == "4-NOT SPECIFIED")
    ).count()
    assert rep["n_updated"] == n_upd
    assert rep["n_deleted"] == n_del
    assert rep["n_inserted"] == n_ins
    assert rep["n_noop_deletes"] == n_noop


def test_cdc_merge_apply_exercises_every_clause(spark, sf_dir):
    """The CDC-apply capstone must be non-vacuous: the changeset really
    produced updates, deletes, AND inserts, and at least one update
    DRIFTED partitions (the user's latest event_type changed across the
    cutover) — otherwise the oracle match proves less than it claims."""
    import json

    from pulsar_cdc_experiment_spark.operators.materialize import (
        latest_by_key,
    )
    from pulsar_cdc_experiment_spark.queries.merge_q import (
        _T0,
        cdc_merge_fixture,
    )
    from pulsar_cdc_experiment_spark.sources.tables import table

    root = cdc_merge_fixture(spark, sf_dir)
    with open(os.path.join(root, "report.json")) as f:
        rep = json.load(f)
    assert rep["n_updated"] > 0
    assert rep["n_deleted"] > 0
    assert rep["n_inserted"] > 0

    # drift really happened: some user's latest pre-cutover type (the
    # base partition) differs from their latest post-cutover type
    ev = table(spark, sf_dir, "events")
    t0 = F.col("ts") < F.lit(_T0).cast("timestamp_ntz")
    base = (
        latest_by_key(
            ev.filter(t0 & (F.col("user_id") % 5 != 0)),
            ["user_id"], ["ts", "event_id"],
        )
        .filter(F.col("event_type") != "error")
        .select("user_id", F.col("event_type").alias("base_type"))
    )
    chg = latest_by_key(
        ev.filter(~t0), ["user_id"], ["ts", "event_id"]
    ).select("user_id", F.col("event_type").alias("chg_type"))
    drifted = (
        base.join(chg, "user_id")
        .filter(
            (F.col("chg_type") != "error")
            & (F.col("chg_type") != F.col("base_type"))
        )
        .count()
    )
    assert drifted > 0

    # and the served table holds exactly one row per surviving user
    st = spark.read.parquet(os.path.join(root, "state"))
    assert st.count() == st.select("user_id").distinct().count()


def test_merge_schema_evolution_widens_only_with_opt_in(spark):
    """(a) A changeset carrying an unknown column fails loud by default,
    (b) evolve_schema=True widens rewritten partitions (old surviving
    rows NULL in the new column, union-by-name convention), (c) the
    report names the evolution, (d) a SECOND merge against the evolved
    (mixed-width) table sees the union schema via footer merge."""
    root = tempfile.mkdtemp(prefix="merge_t8_")
    _mk_table(spark, root, _base_rows())

    chg = spark.createDataFrame(
        [(0, 100.0, "a", "gold", False)],
        "k bigint, v double, p string, tier string, is_delete boolean",
    )
    with pytest.raises(ValueError, match="evolve_schema"):
        merge_into(spark, root, chg, keys=["k"], partition_col="p")

    rep = merge_into(
        spark, root, chg, keys=["k"], partition_col="p",
        evolve_schema=True,
    )
    assert rep["schema_evolved"] == ["tier"]
    assert rep["touched"] == ["a"]

    evolved = spark.read.option("mergeSchema", "true").parquet(root)
    assert "tier" in evolved.columns
    rows = {(r["k"], r["tier"]) for r in evolved.filter("p = 'a'").collect()}
    assert (0, "gold") in rows
    # surviving old rows in the rewritten partition: tier NULL
    assert (3, None) in rows
    # untouched partitions were not rewritten (no tier column on disk
    # there; mergeSchema read presents NULL)
    assert evolved.filter("p = 'b' AND tier IS NOT NULL").count() == 0

    # (d) second merge: target schema is the footer union, so a
    # changeset with the evolved column is no longer "extra"
    chg2 = spark.createDataFrame(
        [(1, 51.0, "b", "silver", False)],
        "k bigint, v double, p string, tier string, is_delete boolean",
    )
    rep2 = merge_into(spark, root, chg2, keys=["k"], partition_col="p")
    assert rep2["schema_evolved"] == []
    after = spark.read.option("mergeSchema", "true").parquet(root)
    got = {(r["k"], r["tier"]) for r in after.filter("p = 'b'").collect()}
    assert (1, "silver") in got
    shutil.rmtree(root, ignore_errors=True)


def test_read_dir_sees_evolved_column(spark):
    """An evolving merge that file scoping narrows to one file leaves
    old-width files beside the wide one, in the touched leaf and in
    every other leaf. ``read_dir`` after it serves the union of the
    footers, the evolved column included, whether the changed key sits
    in the first leaf or the last."""
    from pulsar_cdc_experiment_spark.sources.tables import read_dir

    for k, leaf in ((0, "a"), (29, "c")):
        root = tempfile.mkdtemp(prefix="merge_evolve_read_")
        _mk_table(spark, root, _base_rows())
        assert read_dir(spark, root).columns == ["k", "v", "p"]
        rep = merge_into(
            spark, root,
            spark.createDataFrame(
                [(k, 1.5, leaf, "gold", False)],
                "k bigint, v double, p string, tier string, "
                "is_delete boolean",
            ),
            keys=["k"], partition_col="p", evolve_schema=True,
            file_scope_min_mb=0,
        )
        assert rep["schema_evolved"] == ["tier"], rep
        assert rep["files_kept"] >= 1, rep
        table = read_dir(spark, root)
        assert table.columns == ["k", "v", "tier", "p"], (leaf, table.columns)
        got = {r["k"]: (r["v"], r["tier"], r["p"]) for r in table.collect()}
        assert len(got) == 30
        assert got[k] == (1.5, "gold", leaf)
        assert [t for _v, t, _p in got.values() if t is not None] == ["gold"]
        shutil.rmtree(root, ignore_errors=True)


def test_merge_rejects_hive_default_partition_both_sides(spark):
    """Round-9 review: ''-valued partition values land in
    __HIVE_DEFAULT_PARTITION__, whose dir name does not round-trip to
    the value — a naive merge would stage the row and then silently
    discard it (verified data loss). Both sides fail loud: a changeset
    carrying ''/NULL partition values, and a target already holding a
    hive default partition dir."""
    root = tempfile.mkdtemp(prefix="merge_t9_")
    _mk_table(spark, root, _base_rows())
    snapshot = _state(spark, root)
    with pytest.raises(ValueError, match="NULL or empty"):
        merge_into(
            spark, root, _chg(spark, [(900, 1.0, "", False)]),
            keys=["k"], partition_col="p",
        )
    assert _state(spark, root) == snapshot

    # target side: a pre-existing default-partition dir is refused
    # outright (its rows read back as NULL, so drift tracking for keys
    # living there would be blind)
    spark.createDataFrame([(777, 7.0, None)], "k bigint, v double, p string") \
        .write.mode("append").partitionBy("p").parquet(root)
    assert os.path.isdir(os.path.join(root, "p=__HIVE_DEFAULT_PARTITION__"))
    with pytest.raises(ValueError, match="default partition"):
        merge_into(
            spark, root, _chg(spark, [(0, 1.0, "a", False)]),
            keys=["k"], partition_col="p",
        )
    shutil.rmtree(root, ignore_errors=True)


def test_merge_recovers_other_operators_asides(spark):
    """The recovery sweep covers EVERY swap-operator's prefix family
    (round-9 review): a crashed optimize_partitions aside (.opt_old_)
    must be restored by merge_into's entry sweep — otherwise merge
    reads a table minus that partition, re-inserts its keys elsewhere,
    and a later optimize restore duplicates them."""
    root = tempfile.mkdtemp(prefix="merge_t10_")
    _mk_table(spark, root, _base_rows())
    st0 = _state(spark, root)
    os.rename(
        os.path.join(root, "p=c"), os.path.join(root, ".opt_old_p=c")
    )
    rep = merge_into(
        spark, root, _chg(spark, [(0, 42.0, "a", False)]),
        keys=["k"], partition_col="p",
    )
    assert rep["touched"] == ["a"]
    st = _state(spark, root)
    assert {t for t in st if t[2] == "c"} == {t for t in st0 if t[2] == "c"}
    shutil.rmtree(root, ignore_errors=True)


def test_merge_report_json_round_trips_single_column(spark):
    """Round-11 regression: the MAIN return shipped raw value tuples, so
    after json.dump a single-column report's entries came back as nested
    LISTS and ``set(report["touched"])`` threw. The check must go
    through JSON — in-memory tuples are hashable and hide the bug."""
    import json

    root = tempfile.mkdtemp(prefix="merge_t13_")
    _mk_table(spark, root, _base_rows())
    rep = merge_into(
        spark, root,
        _chg(spark, [(0, 50.0, "a", False), (1, 0.0, "b", True)]),
        keys=["k"], partition_col="p",
    )
    rep = json.loads(json.dumps(rep))
    assert set(rep["touched"]) == {"a", "b"}
    assert set(rep["untouched"]) == {"c"}
    assert rep["deleted_partitions"] == []
    assert all(isinstance(v, str) for v in rep["touched"] + rep["untouched"])
    shutil.rmtree(root, ignore_errors=True)


# ---------------------------------------------------------------------------
# composite (multi-level hive) partition layouts — round-10 task #4 / the
# round-11 advice's untested publish path


def _mk_table2(spark, root, rows):
    df = spark.createDataFrame(rows, "k bigint, v double, a string, b string")
    df.repartition(2).write.mode("overwrite").partitionBy("a", "b").parquet(
        root
    )


def _state2(spark, root):
    # b's values are numeric-spelled ("1"/"2") — partition type inference
    # re-types them on read; compare by dir-name spelling
    return {
        (r["k"], r["v"], r["a"], r["b"])
        for r in spark.read.parquet(root)
        .select("k", "v", "a", F.col("b").cast("string").alias("b"))
        .collect()
    }


def _chg2(spark, rows):
    return spark.createDataFrame(
        rows, "k bigint, v double, a string, b string, is_delete boolean"
    )


def _base_rows2():
    # leaves: (x,1) keys 0,4,8,... (x,2) keys 1,5,... (y,1) 2,6 (y,2) 3,7
    return [
        (i, float(i), "x" if i % 4 < 2 else "y", str(i % 2 + 1))
        for i in range(24)
    ]


def test_merge_composite_update_report_and_untouched_bytes(spark):
    """Two-level layout end-to-end: update one leaf, report values are
    LISTS of two levels (json-round-tripped), every other leaf is
    byte-identical."""
    import json

    root = tempfile.mkdtemp(prefix="merge_c1_")
    _mk_table2(spark, root, _base_rows2())
    before = partition_file_listing(root, ["a", "b"])
    rep = merge_into(
        spark, root, _chg2(spark, [(0, 100.0, "x", "1", False)]),
        keys=["k"], partition_col=["a", "b"],
    )
    rep = json.loads(json.dumps(rep))
    assert rep["touched"] == [["x", "1"]]
    assert sorted(map(tuple, rep["untouched"])) == [
        ("x", "2"), ("y", "1"), ("y", "2")
    ]
    after = partition_file_listing(root, ["a", "b"])
    for leaf in ("a=x/b=2", "a=y/b=1", "a=y/b=2"):
        assert before[leaf] == after[leaf]
    assert (0, 100.0, "x", "1") in _state2(spark, root)
    shutil.rmtree(root, ignore_errors=True)


def test_merge_composite_drift_across_both_levels(spark):
    """A key moving (x,1) -> (y,2) rewrites BOTH leaves and leaves no
    stale twin; a second identical apply is a no-op (idempotence)."""
    root = tempfile.mkdtemp(prefix="merge_c2_")
    _mk_table2(spark, root, _base_rows2())
    chg = _chg2(spark, [(0, 777.0, "y", "2", False)])
    rep = merge_into(
        spark, root, chg, keys=["k"], partition_col=["a", "b"]
    )
    assert rep["touched"] == [["x", "1"], ["y", "2"]]
    st = _state2(spark, root)
    assert [t for t in st if t[0] == 0] == [(0, 777.0, "y", "2")]
    st1 = st
    merge_into(spark, root, chg, keys=["k"], partition_col=["a", "b"])
    assert _state2(spark, root) == st1
    shutil.rmtree(root, ignore_errors=True)


def test_merge_composite_delete_empties_leaf_and_new_leaf_insert(spark):
    """Deleting every row of a leaf removes the LEAF dir (tombstone at
    the nested level — the round-11 advice's FileNotFoundError path);
    inserting into a brand-new (a,b) combination creates the new leaf
    including its parent level."""
    root = tempfile.mkdtemp(prefix="merge_c3_")
    _mk_table2(spark, root, _base_rows2())
    # (y,1) holds keys 2,6,10,14,18,22
    dele = [(k, 0.0, "y", "1", True) for k in (2, 6, 10, 14, 18, 22)]
    ins = [(500, 5.0, "z", "9", False)]
    rep = merge_into(
        spark, root, _chg2(spark, dele + ins),
        keys=["k"], partition_col=["a", "b"],
    )
    assert ["y", "1"] in [list(v) for v in rep["deleted_partitions"]]
    assert not os.path.exists(os.path.join(root, "a=y", "b=1"))
    assert os.path.isdir(os.path.join(root, "a=z", "b=9"))
    st = _state2(spark, root)
    assert (500, 5.0, "z", "9") in st
    assert not any(t[2] == "y" and t[3] == "1" for t in st)
    shutil.rmtree(root, ignore_errors=True)


def test_merge_composite_crash_recovery_nested_aside(spark):
    """Crash window between the two renames at a NESTED leaf: the aside
    (a=x/.merge_old_b=1) is that leaf's only copy — the next merge's
    entry sweep must restore it."""
    root = tempfile.mkdtemp(prefix="merge_c4_")
    _mk_table2(spark, root, _base_rows2())
    st0 = _state2(spark, root)
    os.rename(
        os.path.join(root, "a=x", "b=1"),
        os.path.join(root, "a=x", ASIDE + "b=1"),
    )
    rep = merge_into(
        spark, root, _chg2(spark, [(3, 33.0, "y", "2", False)]),
        keys=["k"], partition_col=["a", "b"],
    )
    assert rep["touched"] == [["y", "2"]]
    st = _state2(spark, root)
    assert {t for t in st0 if t[2] == "x" and t[3] == "1"} == {
        t for t in st if t[2] == "x" and t[3] == "1"
    }
    assert (3, 33.0, "y", "2") in st
    shutil.rmtree(root, ignore_errors=True)


def test_change_feed_version_to_version_and_errors(spark):
    """plans/merge.change_feed: c/u/d classification per version span,
    pre/post images for updates (incl. partition drift), no event for
    untouched rows, and fail-loud on bad ranges / missing history."""
    from pulsar_cdc_experiment_spark.plans.merge import change_feed

    root = tempfile.mkdtemp(prefix="merge_cf_")
    _mk_table(spark, root, _base_rows())
    # v1: update k=0 (stays in 'a'), drift k=3 a->b, delete k=6,
    # insert k=900 into 'c'
    merge_into(
        spark, root,
        _chg(spark, [
            (0, 100.0, "a", False),
            (3, 103.0, "b", False),
            (6, 0.0, "a", True),
            (900, 900.0, "c", False),
        ]),
        keys=["k"], partition_col="p", keep_history=True,
    )
    # v2: delete the row v1 inserted, update k=0 again
    merge_into(
        spark, root,
        _chg(spark, [(900, 0.0, "c", True), (0, 200.0, "a", False)]),
        keys=["k"], partition_col="p", keep_history=True,
    )

    def events(feed):
        return {
            (r["k"], r["change_type"], r["v"], r["p"])
            for r in feed.collect()
        }

    f1 = events(change_feed(spark, root, 0, 1))
    assert f1 == {
        (0, "update_pre", 0.0, "a"), (0, "update_post", 100.0, "a"),
        (3, "update_pre", 3.0, "a"), (3, "update_post", 103.0, "b"),
        (6, "delete", 6.0, "a"),
        (900, "insert", 900.0, "c"),
    }
    f2 = events(change_feed(spark, root, 1, 2))
    assert f2 == {
        (900, "delete", 900.0, "c"),
        (0, "update_pre", 100.0, "a"), (0, "update_post", 200.0, "a"),
    }
    # spanning feed v0 -> live: k=900's insert+delete cancel out,
    # k=0 shows one pre/post pair across both merges
    f02 = events(change_feed(spark, root, 0))
    assert (0, "update_pre", 0.0, "a") in f02
    assert (0, "update_post", 200.0, "a") in f02
    assert not any(k == 900 for (k, *_rest) in f02)
    # untouched rows never emit
    assert not any(k == 1 for (k, *_rest) in f02)

    with pytest.raises(ValueError, match="change_feed needs"):
        change_feed(spark, root, 2, 2)
    with pytest.raises(ValueError, match="change_feed needs"):
        change_feed(spark, root, 0, 9)
    empty = tempfile.mkdtemp(prefix="merge_cf_nohist_")
    _mk_table(spark, empty, _base_rows())
    with pytest.raises(ValueError, match="no retained merge history"):
        change_feed(spark, empty, 0)
    shutil.rmtree(root, ignore_errors=True)
    shutil.rmtree(empty, ignore_errors=True)


def test_change_feed_rejects_rekeyed_span(spark):
    """Round-13 consistency guard: a feed spanning merges that disagree
    on ``keys`` fails loud instead of silently diffing with the newest
    manifest's keys (nothing prevents two merges with different keys on
    the same root)."""
    from pulsar_cdc_experiment_spark.plans.merge import change_feed

    root = tempfile.mkdtemp(prefix="merge_cf_rekey_")
    _mk_table(spark, root, _base_rows())
    merge_into(
        spark, root, _chg(spark, [(0, 100.0, "a", False)]),
        keys=["k"], partition_col="p", keep_history=True,
    )
    merge_into(
        spark, root, _chg(spark, [(1, 101.0, "b", False)]),
        keys=["k", "p"], partition_col="p", keep_history=True,
    )
    with pytest.raises(ValueError, match="disagree on"):
        change_feed(spark, root, 0, 2)
    # a span within one keying regime still works
    assert change_feed(spark, root, 0, 1).count() == 2  # update pair
    shutil.rmtree(root, ignore_errors=True)


def test_change_feed_emits_evolved_column_only_update(spark):
    """Round-13 (r12 advice): an update whose ONLY change is in a
    schema-evolved column (absent from the pre side) must still emit its
    update pre/post pair — the pre image reads the evolved column as a
    typed NULL. Under the old common-columns diff this change was
    silently invisible to the feed."""
    from pulsar_cdc_experiment_spark.plans.merge import change_feed

    root = tempfile.mkdtemp(prefix="merge_cf_evo_")
    _mk_table(spark, root, _base_rows())
    # v1: update k=0 keeping v IDENTICAL, adding evolved column tier
    chg = spark.createDataFrame(
        [(0, 0.0, "a", "gold", False)],
        "k bigint, v double, p string, tier string, is_delete boolean",
    )
    merge_into(
        spark, root, chg, keys=["k"], partition_col="p",
        keep_history=True, evolve_schema=True,
    )
    feed = change_feed(spark, root, 0, 1)
    assert "tier" in feed.columns
    ev = {
        (r["k"], r["change_type"], r["v"], r["tier"])
        for r in feed.collect()
    }
    assert ev == {
        (0, "update_pre", 0.0, None),
        (0, "update_post", 0.0, "gold"),
    }
    shutil.rmtree(root, ignore_errors=True)


def test_read_version_merges_evolved_footers(spark):
    """After an evolving merge, files of both widths sit side by side:
    the evolved leaf is not the first one listed, and file scoping keeps
    the evolved leaf's other file at the old width. The live read and
    the change feed must still carry the evolved column."""
    from pulsar_cdc_experiment_spark.plans.merge import (
        change_feed,
        read_version,
    )

    root = tempfile.mkdtemp(prefix="merge_rv_evo_")
    _mk_table(spark, root, _base_rows())
    # k=2 lives in p=c, the last leaf; only its row gains a tier
    chg = spark.createDataFrame(
        [(2, 2.0, "c", "gold", False)],
        "k bigint, v double, p string, tier string, is_delete boolean",
    )
    merge_into(
        spark, root, chg, keys=["k"], partition_col="p",
        keep_history=True, evolve_schema=True,
    )
    live = read_version(spark, root, 1)
    assert "tier" in live.columns
    assert {
        (r["k"], r["tier"]) for r in live.collect() if r["tier"]
    } == {(2, "gold")}
    ev = {
        (r["k"], r["change_type"], r["tier"])
        for r in change_feed(spark, root, 0, 1).collect()
    }
    assert ev == {(2, "update_pre", None), (2, "update_post", "gold")}
    shutil.rmtree(root, ignore_errors=True)


def test_touched_prune_predicate_exact_and_overflow_safe(spark):
    """touched_prune_predicate (round-13): selects EXACTLY the touched
    tuples (not the per-level cartesian product), survives a tuple count
    that stack-overflows the OR-of-ANDs shape, and falls back safely
    when a value carries the separator byte."""
    from pulsar_cdc_experiment_spark.plans.merge import (
        touched_prune_predicate,
    )

    df = spark.createDataFrame(
        [(str(a), str(b), a * 10 + b) for a in range(5) for b in range(5)],
        "p1 string, p2 string, v int",
    )
    # ('0','0') and ('1','1') touched: the cartesian product would also
    # include ('0','1') and ('1','0') — exactness means those are OUT
    pred = touched_prune_predicate(
        [F.col("p1"), F.col("p2")], [("0", "0"), ("1", "1")]
    )
    got = {(r["p1"], r["p2"]) for r in df.filter(pred).collect()}
    assert got == {("0", "0"), ("1", "1")}

    # single level: plain isin
    pred1 = touched_prune_predicate([F.col("p1")], [("2",), ("4",)])
    assert {r["p1"] for r in df.filter(pred1).collect()} == {"2", "4"}

    # 2000 tuples: the OR-of-ANDs shape overflows the column-tree
    # converter here; the flat shape must both BUILD and ANALYZE
    big = [(str(i % 5), str(i % 97)) for i in range(2000)]
    predb = touched_prune_predicate([F.col("p1"), F.col("p2")], big)
    df.filter(predb)._jdf.queryExecution().optimizedPlan()  # no overflow
    want = {t for t in big if int(t[0]) < 5 and int(t[1]) < 5}
    gotb = {(r["p1"], r["p2"]) for r in df.filter(predb).collect()}
    assert gotb == want

    # separator in a value: falls back to OR-of-ANDs, still exact
    sep_df = spark.createDataFrame(
        [("a\x1fb", "c", 1), ("a", "b\x1fc", 2), ("a", "c", 3)],
        "p1 string, p2 string, v int",
    )
    predw = touched_prune_predicate(
        [F.col("p1"), F.col("p2")], [("a\x1fb", "c")]
    )
    assert [r["v"] for r in sep_df.filter(predw).collect()] == [1]

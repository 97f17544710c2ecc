"""plans/merge file-level scoping + version retention:

- file_scope: inside a touched partition, only files holding a matched
  changeset key are rewritten; the rest survive byte-identical under
  their own names (hardlinked through the swap)
- keep_history / rollback_last_merge / vacuum_merge_history: the
  .merge_history keep-N retention + Delta-RESTORE-style undo
"""

from __future__ import annotations

import json
import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from pulsar_cdc_experiment_spark.plans.merge import (
    merge_history,
    merge_into,
    partition_file_listing,
    rollback_last_merge,
    vacuum_merge_history,
)
from pulsar_cdc_experiment_spark.sources.tables import (
    _SCHEMA_CACHE,
    data_schema,
    read_dir,
)


def _mk_ranged_table(spark, root):
    """3 files per partition, each a TIGHT key range ([0,10), [10,20),
    [20,30)) — the layout a range/Z-order maintenance pass produces,
    where file scoping pays off."""
    for lo in (0, 10, 20):
        rows = [
            (k, float(k), "a" if k % 2 == 0 else "b")
            for k in range(lo, lo + 10)
        ]
        df = spark.createDataFrame(rows, "k bigint, v double, p string")
        df.coalesce(1).write.mode("append").partitionBy("p").parquet(root)


def _state(spark, root):
    return {
        (r["k"], r["v"], r["p"])
        for r in spark.read.parquet(root).collect()
    }


def _chg(spark, rows):
    return spark.createDataFrame(
        rows, "k bigint, v double, p string, is_delete boolean"
    )


def _files(root, pdir):
    return sorted(
        (f, os.path.getsize(os.path.join(root, pdir, f)))
        for f in os.listdir(os.path.join(root, pdir))
        if f.startswith("part-")
    )


def test_file_scope_rewrites_only_intersecting_files(spark):
    root = tempfile.mkdtemp(prefix="mscope1_")
    _mk_ranged_table(spark, root)
    before_a = _files(root, "p=a")
    assert len(before_a) == 3
    st0 = _state(spark, root)

    # k=4 lives in the [0,10) file of p=a only
    rep = merge_into(
        spark, root, _chg(spark, [(4, 400.0, "a", False)]),
        keys=["k"], partition_col="p", file_scope_min_mb=0,
    )
    assert rep["touched"] == ["a"]
    assert rep["files_rewritten"] == 1
    assert rep["files_kept"] == 2
    after_a = _files(root, "p=a")
    # the two non-intersecting files survive under their own names/bytes
    kept = set(before_a) & set(after_a)
    assert len(kept) == 2
    st = _state(spark, root)
    assert (4, 400.0, "a") in st
    assert st == (st0 - {(4, 4.0, "a")}) | {(4, 400.0, "a")}
    shutil.rmtree(root, ignore_errors=True)


def test_file_scope_pure_insert_misses_every_range(spark):
    """Insert keys outside every file's range: zero files rewritten, all
    kept, the new rows land in fresh files."""
    root = tempfile.mkdtemp(prefix="mscope2_")
    _mk_ranged_table(spark, root)
    before_a = _files(root, "p=a")
    rep = merge_into(
        spark, root, _chg(spark, [(1000, 1.0, "a", False)]),
        keys=["k"], partition_col="p", file_scope_min_mb=0,
    )
    assert rep["files_rewritten"] == 0
    assert rep["files_kept"] == 3
    after_a = _files(root, "p=a")
    assert set(before_a) <= set(after_a)
    assert (1000, 1.0, "a") in _state(spark, root)
    shutil.rmtree(root, ignore_errors=True)


def test_file_scope_delete_whole_file_keeps_rest(spark):
    """Deleting every key of ONE file leaves the partition holding the
    two kept files alone (the staged-dir-absent + kept-files branch)."""
    root = tempfile.mkdtemp(prefix="mscope3_")
    _mk_ranged_table(spark, root)
    # p=a holds even keys; [0,10) file of p=a = {0,2,4,6,8}
    dele = [(k, 0.0, "a", True) for k in (0, 2, 4, 6, 8)]
    rep = merge_into(
        spark, root, _chg(spark, dele), keys=["k"], partition_col="p", file_scope_min_mb=0
    )
    assert rep["touched"] == ["a"]
    assert rep["n_deleted"] == 5
    assert rep["files_kept"] == 2
    st = _state(spark, root)
    assert not any(k < 10 and p == "a" for k, _v, p in st)
    assert (10, 10.0, "a") in st and (28, 28.0, "a") in st
    shutil.rmtree(root, ignore_errors=True)


def test_file_scope_idempotent_and_drift_containment(spark):
    """Re-apply is a no-op under scoping (the updated copy's file now
    intersects); drift (a->b) still leaves no stale twin."""
    root = tempfile.mkdtemp(prefix="mscope4_")
    _mk_ranged_table(spark, root)
    chg = _chg(spark, [(4, 999.0, "b", False)])  # k=4 moves a -> b
    rep = merge_into(spark, root, chg, keys=["k"], partition_col="p", file_scope_min_mb=0)
    assert rep["touched"] == ["a", "b"]
    st1 = _state(spark, root)
    assert [t for t in st1 if t[0] == 4] == [(4, 999.0, "b")]
    merge_into(spark, root, chg, keys=["k"], partition_col="p", file_scope_min_mb=0)
    assert _state(spark, root) == st1
    shutil.rmtree(root, ignore_errors=True)


def test_file_scope_off_matches_on(spark):
    """Same changeset with scoping on vs off: identical final state."""
    roots = []
    states = []
    for scope in (True, False):
        root = tempfile.mkdtemp(prefix=f"mscope5{int(scope)}_")
        roots.append(root)
        _mk_ranged_table(spark, root)
        rep = merge_into(
            spark, root,
            _chg(spark, [(4, 7.0, "a", False), (15, 0.0, "b", True)]),
            keys=["k"], partition_col="p", file_scope=scope,
            file_scope_min_mb=0,
        )
        if scope:
            assert "files_rewritten" in rep
        else:
            assert "files_rewritten" not in rep
        states.append(_state(spark, root))
    assert states[0] == states[1]
    for r in roots:
        shutil.rmtree(r, ignore_errors=True)


# ---------------------------------------------------------------------------
# version retention / rollback / vacuum


def test_history_rollback_restores_pre_merge_state(spark):
    root = tempfile.mkdtemp(prefix="mhist1_")
    _mk_ranged_table(spark, root)
    st0 = _state(spark, root)
    listing0 = partition_file_listing(root, "p")

    dele = [(k, 0.0, "b", True) for k in range(30) if k % 2 == 1]
    chg = _chg(spark, [(4, 44.0, "a", False), (501, 5.0, "c", False)] + dele)
    rep = merge_into(
        spark, root, chg, keys=["k"], partition_col="p",
        keep_history=True,
    )
    rep = json.loads(json.dumps(rep))
    assert rep["version"] == 1
    assert rep["deleted_partitions"] == ["b"]  # fully tombstoned
    assert os.path.isdir(os.path.join(root, "p=c"))
    st1 = _state(spark, root)
    assert (4, 44.0, "a") in st1 and (501, 5.0, "c") in st1
    assert not any(p == "b" for _k, _v, p in st1)

    man = rollback_last_merge(root)
    assert man["version"] == 1
    assert _state(spark, root) == st0
    # byte-level: every partition back to its original file listing
    assert partition_file_listing(root, "p") == listing0
    # created partition p=c is gone, history consumed
    assert not os.path.exists(os.path.join(root, "p=c"))
    assert merge_history(root) == []
    shutil.rmtree(root, ignore_errors=True)


def test_history_chain_and_vacuum_keep_n(spark):
    root = tempfile.mkdtemp(prefix="mhist2_")
    _mk_ranged_table(spark, root)
    for i in range(3):
        merge_into(
            spark, root,
            _chg(spark, [(4, float(i), "a", False)]),
            keys=["k"], partition_col="p", keep_history=True,
        )
    vs = [m["version"] for m in merge_history(root)]
    assert vs == [1, 2, 3]
    dropped = vacuum_merge_history(root, keep_last=1)
    assert dropped == [1, 2]
    assert [m["version"] for m in merge_history(root)] == [3]
    # rollback still reaches the retained tail
    rollback_last_merge(root)
    st = _state(spark, root)
    assert (4, 1.0, "a") in st  # state after version 2
    with pytest.raises(ValueError, match="no retained merge history"):
        rollback_last_merge(root)
    shutil.rmtree(root, ignore_errors=True)


def test_rollback_crash_window_recovers(spark):
    """Kill the rollback between the live-discard and the aside-restore:
    the recovery sweep must finish the job (aside restored)."""
    root = tempfile.mkdtemp(prefix="mhist3_")
    _mk_ranged_table(spark, root)
    st0 = _state(spark, root)
    merge_into(
        spark, root, _chg(spark, [(4, 9.0, "a", False)]),
        keys=["k"], partition_col="p", keep_history=True,
    )
    # hand-simulate the crash: history copy moved to the aside name and
    # the merged live dir already discarded — exactly the window between
    # _discard_live and the final rename
    from pulsar_cdc_experiment_spark.plans.layout import (
        recover_partition_swaps,
    )
    from pulsar_cdc_experiment_spark.plans.merge import HISTORY

    vdir = os.path.join(root, HISTORY, "v000001")
    os.rename(
        os.path.join(vdir, "p=a"), os.path.join(root, ".merge_old_p=a")
    )
    shutil.rmtree(os.path.join(root, "p=a"))
    recover_partition_swaps(root)
    assert _state(spark, root) == st0
    shutil.rmtree(root, ignore_errors=True)


# --- read_version: time-travel READ over .merge_history ---------------------


def _tt_state(df):
    return {(r["k"], r["v"], r["p"]) for r in df.collect()}


def test_read_version_reconstructs_every_retained_state(spark):
    from pulsar_cdc_experiment_spark.plans.merge import read_version

    root = tempfile.mkdtemp(prefix="mtt1_")
    _mk_ranged_table(spark, root)
    snaps = {0: _state(spark, root)}
    # v1: update + drift; v2: delete a whole partition's rows via keys;
    # v3: pure insert creating a NEW partition value
    changes = [
        [(4, 400.0, "a", False), (5, 555.0, "a", False)],   # 5 drifts b->a
        [(k, 0.0, "b", True) for k in range(1, 30, 2)],      # delete all b
        [(100, 1.0, "c", False), (101, 2.0, "c", False)],    # create p=c
    ]
    for i, rows in enumerate(changes, start=1):
        rep = merge_into(
            spark, root, _chg(spark, rows), keys=["k"],
            partition_col="p", keep_history=True,
        )
        assert rep["version"] == i
        snaps[i] = _state(spark, root)
    for v, want in snaps.items():
        got = _tt_state(read_version(spark, root, v))
        assert got == want, f"as_of={v}"
    # deleted-partition coverage: v2 removed p=b entirely; as_of=1 must
    # resurrect it read-only while live stays without it
    assert {t for t in _tt_state(read_version(spark, root, 1)) if t[2] == "b"}
    assert not {t for t in _state(spark, root) if t[2] == "b"}
    shutil.rmtree(root, ignore_errors=True)


def test_read_version_rejects_future_and_vacuumed_gap(spark):
    from pulsar_cdc_experiment_spark.plans.merge import read_version

    root = tempfile.mkdtemp(prefix="mtt2_")
    _mk_ranged_table(spark, root)
    for rows in ([(4, 1.0, "a", False)], [(6, 2.0, "a", False)]):
        merge_into(
            spark, root, _chg(spark, rows), keys=["k"],
            partition_col="p", keep_history=True,
        )
    with pytest.raises(ValueError, match="newer than the latest"):
        read_version(spark, root, 9)
    live = _state(spark, root)
    assert _tt_state(read_version(spark, root, 2)) == live
    vacuum_merge_history(root, keep_last=1)  # drops v1 -> gap below v1
    assert _tt_state(read_version(spark, root, 1)) is not None  # still ok
    with pytest.raises(ValueError, match="history gap|no retained"):
        read_version(spark, root, 0)
    shutil.rmtree(root, ignore_errors=True)


def _mk_interleaved_table(spark, root, leaves, per_leaf=8):
    """Two files per leaf whose key ranges interleave: the even keys of
    every leaf in one append, the odd keys in a second. Each append is
    one task, so a leaf's even file shares its NAME with every other
    leaf's even file (same for odd): only the (leaf, name) pair is
    unique."""
    cols = [f"c{i}" for i in range(len(leaves[0]))]
    schema = "k bigint, v double, " + ", ".join(f"{c} string" for c in cols)
    for parity in (0, 1):
        rows = [
            (k, float(k), *leaf)
            for li, leaf in enumerate(leaves)
            for k in range(li * per_leaf, (li + 1) * per_leaf)
            if k % 2 == parity
        ]
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).partitionBy(*cols).parquet(root)
    return cols


def _rows(spark, root):
    return sorted(tuple(r) for r in spark.read.parquet(root).collect())


def test_file_scope_exact_membership_keeps_interleaved_file(spark):
    """Key ranges of the two files of one partition interleave (even and
    odd keys over the same span), so a footer-range test must rewrite
    both. Row membership rewrites only the file holding the key; the
    other survives byte-identical."""
    root = tempfile.mkdtemp(prefix="mscope_exact_")
    _mk_interleaved_table(spark, root, [("a",)])
    before = _files(root, "c0=a")
    assert len(before) == 2
    st0 = set(_rows(spark, root))
    rep = merge_into(
        spark, root,
        spark.createDataFrame(
            [(4, 400.0, "a", False)],
            "k bigint, v double, c0 string, is_delete boolean",
        ),
        keys=["k"], partition_col="c0", file_scope_min_mb=0,
    )
    assert rep["files_rewritten"] == 1 and rep["files_kept"] == 1, rep
    after = _files(root, "c0=a")
    assert len(set(before) & set(after)) == 1
    assert set(_rows(spark, root)) == (st0 - {(4, 4.0, "a")}) | {
        (4, 400.0, "a")
    }
    shutil.rmtree(root, ignore_errors=True)


def _jobs(spark, tag: str, fn):
    """(result of ``fn()``, number of Spark jobs it submitted)."""
    tracker = spark.sparkContext.statusTracker()
    spark.sparkContext.setJobGroup(tag, "audit")
    try:
        out = fn()
    finally:
        spark.sparkContext.setJobGroup(f"{tag}_done", "")
    return out, len(tracker.getJobIdsForGroup(tag))


def _merge_jobs(spark, scope: bool, n_files: int = 0) -> int:
    """Jobs of one merge into a fresh table: the 3-files-per-partition
    ranged table, or (``n_files``) one partition of ``n_files`` files
    with one updated key in each."""
    root = tempfile.mkdtemp(prefix=f"mscope_jobs{int(scope)}_")
    if n_files:
        spark.range(0, 10 * n_files, 1, n_files).select(
            "id", F.col("id").cast("double"), F.lit("a")
        ).toDF("k", "v", "p").write.mode("overwrite").partitionBy("p").parquet(
            root
        )
        assert len(_files(root, "p=a")) == n_files
        chg = _chg(spark, [(10 * i, 7.0, "a", False) for i in range(n_files)])
        want = (n_files, 0)
    else:
        _mk_ranged_table(spark, root)
        chg = _chg(spark, [(4, 7.0, "a", False), (15, 0.0, "b", True)])
        want = (1, 1)
    rep, n = _jobs(
        spark, f"mscope_jobs_{int(scope)}_{n_files}",
        lambda: merge_into(
            spark, root, chg, keys=["k"], partition_col="p",
            file_scope=scope, file_scope_min_mb=0,
        ),
    )
    assert (rep["n_updated"], rep["n_deleted"]) == want
    if scope and n_files:
        assert rep["files_rewritten"] == n_files
    shutil.rmtree(root, ignore_errors=True)
    return n


def test_file_scope_costs_no_extra_jobs(spark):
    """File scoping rides the stats action's matched-key join: a scoped
    merge submits no more Spark jobs than a partition-scoped one, also
    when it scopes more files than Spark lists without a job (32)."""
    for n_files in (0, 40):
        jobs_off = _merge_jobs(spark, False, n_files)
        jobs_on = _merge_jobs(spark, True, n_files)
        assert jobs_on <= jobs_off, (n_files, jobs_on, jobs_off)


def _tiered(spark, rows):
    return spark.createDataFrame(
        rows, "k bigint, v double, tier string, p string, is_delete boolean"
    )


def _merge_k(spark, root, chg, tag: str, **kw):
    return _jobs(
        spark, tag,
        lambda: merge_into(
            spark, root, chg, keys=["k"], partition_col="p", **kw
        ),
    )


def test_merge_schema_slot_saves_the_inference_job(spark):
    """A merge seeds the target-schema slot with the table it leaves, so
    the next merge into the unchanged table skips the footer-inference
    job: one job fewer for the same changeset."""
    root = tempfile.mkdtemp(prefix="mslot_warm_")
    _mk_ranged_table(spark, root)
    chg = _chg(spark, [(4, 7.0, "a", False)])
    rep1, cold = _merge_k(spark, root, chg, "mslot_warm_1")
    rep2, warm = _merge_k(spark, root, chg, "mslot_warm_2")
    assert rep1["n_updated"] == rep2["n_updated"] == 1
    assert warm == cold - 1, (cold, warm)
    assert (4, 7.0, "a") in _state(spark, root)
    shutil.rmtree(root, ignore_errors=True)


def test_merge_schema_slot_reinfers_after_another_writer(spark):
    """A file another writer adds between merges changes the listing the
    slot is keyed on: the next merge infers again, and a wider file's
    column is part of the target (the source may carry it without
    ``evolve_schema``)."""
    root = tempfile.mkdtemp(prefix="mslot_other_")
    _mk_ranged_table(spark, root)
    chg = _chg(spark, [(4, 7.0, "a", False)])
    _merge_k(spark, root, chg, "mslot_other_1")
    _r, warm = _merge_k(spark, root, chg, "mslot_other_2")
    spark.createDataFrame([(100, 1.0, "a")], "k bigint, v double, p string") \
        .coalesce(1).write.mode("append").partitionBy("p").parquet(root)
    _r, after_same = _merge_k(spark, root, chg, "mslot_other_3")
    assert after_same == warm + 1, (warm, after_same)
    spark.createDataFrame(
        [(200, 2.0, "gold", "b")], "k bigint, v double, tier string, p string"
    ).coalesce(1).write.mode("append").partitionBy("p").parquet(root)
    rep, _n = _merge_k(
        spark, root,
        _tiered(spark, [(15, 1.5, "silver", "b", False),
                        (300, 3.0, None, "a", False)]),
        "mslot_other_4",
    )
    assert rep["schema_evolved"] == []
    assert (rep["n_updated"], rep["n_inserted"]) == (1, 1)
    table = spark.read.option("mergeSchema", "true").parquet(root)
    got = {r["k"]: r["tier"] for r in table.collect()}
    assert got[15] == "silver" and got[200] == "gold" and got[300] is None
    assert got[4] is None and len(got) == 33
    shutil.rmtree(root, ignore_errors=True)


def test_merge_schema_slot_keeps_the_evolved_column(spark):
    """An evolving merge leaves the slot; the plain merge after it infers
    the widened schema and seeds it, and the merges after that keep the
    evolved column from the slot: their report and a ``read_dir`` of the
    table agree."""
    root = tempfile.mkdtemp(prefix="mslot_evolve_")
    _mk_ranged_table(spark, root)
    # whole-partition rewrite of both partitions: every file is wide, so
    # read_dir's single-footer inference sees the column too
    rep, _n = _merge_k(
        spark, root,
        _tiered(spark, [(4, 4.5, "gold", "a", False),
                        (15, 1.5, "silver", "b", False)]),
        "mslot_evolve_1", evolve_schema=True, file_scope=False,
    )
    assert rep["schema_evolved"] == ["tier"]
    rep, cold = _merge_k(
        spark, root, _tiered(spark, [(14, 1.4, "silver", "a", False)]),
        "mslot_evolve_2",
    )
    assert rep["schema_evolved"] == [] and rep["n_updated"] == 1
    rep, warm = _merge_k(
        spark, root, _tiered(spark, [(6, 0.6, "bronze", "a", False)]),
        "mslot_evolve_3",
    )
    assert rep["schema_evolved"] == [] and rep["n_updated"] == 1
    assert warm == cold - 1, (cold, warm)
    rep, _n = _merge_k(
        spark, root,
        _tiered(spark, [(8, 0.8, None, "a", False),
                        (13, 0.0, None, "b", True),
                        (1000, 10.0, "gold", "b", False)]),
        "mslot_evolve_4",
    )
    assert rep["schema_evolved"] == [] and rep["touched"] == ["a", "b"]
    assert (rep["n_updated"], rep["n_deleted"], rep["n_inserted"]) == (
        1, 1, 1
    )
    table = read_dir(spark, root)
    assert table.columns == ["k", "v", "tier", "p"]
    got = {r["k"]: (r["v"], r["tier"], r["p"]) for r in table.collect()}
    assert len(got) == 30 - rep["n_deleted"] + rep["n_inserted"]
    assert 13 not in got
    assert got[4] == (4.5, "gold", "a") and got[15] == (1.5, "silver", "b")
    assert got[14] == (1.4, "silver", "a") and got[6] == (0.6, "bronze", "a")
    assert got[8] == (0.8, None, "a") and got[1000] == (10.0, "gold", "b")
    assert got[2] == (2.0, None, "a") and got[21] == (21.0, None, "b")
    shutil.rmtree(root, ignore_errors=True)


def test_read_dir_after_merge_runs_no_job(spark):
    """Every merge seeds the root's slot from the schema it wrote, so
    building a ``read_dir`` plan of the table it just committed runs no
    Spark job, merge after merge, and serves what a cold footer read
    of the table would."""
    root = tempfile.mkdtemp(prefix="mslot_read_")
    _mk_ranged_table(spark, root)
    for i, rows in enumerate([
        [(4, 7.0, "a", False)],
        [(15, 0.0, "b", True), (100, 1.0, "a", False)],
        [(3, 3.5, "b", False)],
    ]):
        merge_into(
            spark, root, _chg(spark, rows), keys=["k"], partition_col="p",
            file_scope_min_mb=0,
        )
        df, n = _jobs(spark, f"mslot_read_{i}", lambda: read_dir(spark, root))
        assert n == 0, (i, n)
        assert df.schema == spark.read.parquet(root).schema
    assert sorted(tuple(r) for r in df.collect()) == sorted(
        _state(spark, root)
    )
    shutil.rmtree(root, ignore_errors=True)


def _seeded_vs_cold(spark, path: str, tag: str):
    """(the slot's schema as a writer seeded it, a cold inference's);
    reading the seeded slot must run no job."""
    seeded, n = _jobs(spark, tag, lambda: data_schema(spark, path))
    assert n == 0, (path, n)
    del _SCHEMA_CACHE[os.path.abspath(path)]
    return seeded, data_schema(spark, path)


def _fields(schema):
    return [(f.name, f.dataType, f.nullable) for f in schema]


def test_seeded_slots_equal_cold_inference(spark):
    """The schema a writer seeds equals what inference over the files it
    wrote returns — names, order, types and nullability — for a
    copy-on-write root (plain, composite with escaped leaf names, and
    numeric-spelled partition values) and for a merge-on-read base
    (created and compacted), delta component and delete sidecar. The
    slot never holds partition columns: ``read_dir`` types a numeric
    spelling as int while the merge keys it by its string."""
    from pulsar_cdc_experiment_spark.plans.mor import (
        compact_mor,
        init_mor,
        merge_into_mor,
    )
    from pyspark.sql.types import IntegerType

    def check(path, tag):
        seeded, cold = _seeded_vs_cold(spark, path, tag)
        assert _fields(seeded) == _fields(cold), (tag, seeded, cold)
        assert seeded == cold, tag

    base = tempfile.mkdtemp(prefix="mslot_eq_")
    # copy-on-write, one level
    root = os.path.join(base, "cow")
    _mk_ranged_table(spark, root)
    merge_into(spark, root, _chg(spark, [(4, 7.0, "a", False)]),
               keys=["k"], partition_col="p", file_scope_min_mb=0)
    check(root, "mslot_eq_cow")
    # composite layout whose leaf names need escaping
    root = os.path.join(base, "esc")
    l1, l2 = ("x y", "5%"), ("z%", "w v")
    cols = _mk_interleaved_table(spark, root, [l1, l2])
    assert os.path.isdir(os.path.join(root, "c0=x y", "c1=5%25"))
    merge_into(
        spark, root,
        spark.createDataFrame(
            [(2, 200.0, *l1, False), (11, 110.0, *l1, False)],
            "k bigint, v double, c0 string, c1 string, is_delete boolean",
        ),
        keys=["k"], partition_col=cols, file_scope_min_mb=0,
    )
    check(root, "mslot_eq_esc")
    assert read_dir(spark, root).schema == spark.read.parquet(root).schema
    # numeric-spelled partition values
    root = os.path.join(base, "num")
    spark.createDataFrame(
        [(k, float(k), str(k % 3)) for k in range(12)],
        "k bigint, v double, p string",
    ).repartition(2).write.partitionBy("p").parquet(root)
    rep = merge_into(spark, root, _chg(spark, [(4, 7.0, "1", False)]),
                     keys=["k"], partition_col="p", file_scope_min_mb=0)
    assert rep["touched"] == ["1"]
    check(root, "mslot_eq_num")
    table = read_dir(spark, root)
    assert table.schema == spark.read.parquet(root).schema
    assert table.schema["p"].dataType == IntegerType()
    assert (4, 7.0, 1) in {tuple(r) for r in table.collect()}
    # merge-on-read: base, delta component, delete sidecar, new base
    root = os.path.join(base, "mor")
    init_mor(
        spark, root,
        spark.createDataFrame(
            [(k, float(k), "a" if k % 2 else "b") for k in range(10)],
            "k bigint, v double, p string",
        ),
        keys=["k"], partition_col="p",
    )
    check(os.path.join(root, "base-000000"), "mslot_eq_base0")
    rep = merge_into_mor(
        spark, root,
        spark.createDataFrame(
            [(1, 1.5, "a", False), (2, 0.0, "b", True)],
            "k bigint, v double, p string, is_delete boolean",
        ),
    )
    seq = rep["seq"]
    check(os.path.join(root, ".mor", "delta", f"__born={seq:06d}"),
          "mslot_eq_delta")
    check(os.path.join(root, ".mor", "delete", f"d-{seq:06d}.parquet"),
          "mslot_eq_sidecar")
    assert compact_mor(spark, root)["base"] == "base-000001"
    check(os.path.join(root, "base-000001"), "mslot_eq_base1")
    shutil.rmtree(base, ignore_errors=True)


def test_file_scope_maps_escaped_composite_leaves(spark):
    """Composite layout whose partition values need escaping (``%``) or
    carry a space: the (leaf, file name) pairs of the matched rows map
    back to their live dirs. An update in one leaf and a drift across
    both levels rewrite exactly the two files holding those keys — the
    same-named files of the other leaf are kept — and leave no stale
    twin."""
    root = tempfile.mkdtemp(prefix="mscope_esc_")
    l1, l2 = ("x y", "5%"), ("z%", "w v")
    cols = _mk_interleaved_table(spark, root, [l1, l2])
    d1, d2 = "c0=x y/c1=5%25", "c0=z%25/c1=w v"
    assert os.path.isdir(os.path.join(root, d1))
    assert os.path.isdir(os.path.join(root, d2))
    before1, before2 = _files(root, d1), _files(root, d2)
    st0 = set(_rows(spark, root))
    # k=2 is in l1's even file; k=11 is in l2's odd file and moves to l1
    chg = spark.createDataFrame(
        [(2, 200.0, *l1, False), (11, 110.0, *l1, False)],
        "k bigint, v double, c0 string, c1 string, is_delete boolean",
    )
    rep = merge_into(
        spark, root, chg, keys=["k"], partition_col=cols,
        file_scope_min_mb=0,
    )
    assert sorted(map(tuple, rep["touched"])) == [l1, l2]
    assert rep["files_rewritten"] == 2 and rep["files_kept"] == 2, rep
    odd1 = [f for f in before1 if f in _files(root, d1)]
    even2 = [f for f in before2 if f in _files(root, d2)]
    assert len(odd1) == 1 and len(even2) == 1
    # the kept files are l1's odd and l2's even: their names are the
    # names of the two rewritten files, swapped between the leaves
    assert {odd1[0][0], even2[0][0]} == {f for f, _ in before1}
    want = (st0 - {(2, 2.0, *l1), (11, 11.0, *l2)}) | {
        (2, 200.0, *l1), (11, 110.0, *l1)
    }
    assert set(_rows(spark, root)) == want
    assert len(_rows(spark, root)) == len(want)
    shutil.rmtree(root, ignore_errors=True)


def test_purge_keys_erases_live_history_and_feed(spark):
    """purge_keys (round-13 erasure verb): after purging, the key is
    gone from the LIVE table, from EVERY read_version reconstruction,
    and from the change feed — while every other row survives everywhere
    and untouched history leaves stay byte-identical."""
    from pulsar_cdc_experiment_spark.plans.merge import (
        change_feed,
        purge_keys,
        read_version,
    )

    root = tempfile.mkdtemp(prefix="purge_t1_")
    rows = [(k, float(k), "a" if k % 2 == 0 else "b") for k in range(20)]
    spark.createDataFrame(rows, "k bigint, v double, p string").coalesce(
        1
    ).write.mode("overwrite").partitionBy("p").parquet(root)
    # v1 updates k=4 (partition a) so history retains a's pre-state
    chg = spark.createDataFrame(
        [(4, 400.0, "a", False)],
        "k bigint, v double, p string, is_delete boolean",
    )
    merge_into(
        spark, root, chg, keys=["k"], partition_col="p",
        keep_history=True,
    )
    key_rows = spark.createDataFrame([(4,), (7,)], "k bigint")
    rep = purge_keys(
        spark, root, key_rows, keys=["k"], partition_col="p"
    )
    assert rep["live_deleted"] == 2
    assert rep["history_rows_purged"] >= 1  # k=4's pre-image in v1
    assert rep["versions_scrubbed"] == [1]

    live = {r["k"] for r in spark.read.parquet(root).collect()}
    assert 4 not in live and 7 not in live and 0 in live and 5 in live

    for as_of in (0, 1):
        snap = {
            r["k"] for r in read_version(spark, root, as_of).collect()
        }
        assert 4 not in snap and 7 not in snap, (as_of, sorted(snap))
        assert 0 in snap and 5 in snap

    feed = change_feed(spark, root, 0, 1)
    assert feed.filter("k IN (4, 7)").count() == 0

    # idempotent re-run: nothing left to do
    rep2 = purge_keys(
        spark, root, key_rows, keys=["k"], partition_col="p"
    )
    assert rep2 == {
        "live_deleted": 0,
        "history_rows_purged": 0,
        "versions_scrubbed": [],
    }
    shutil.rmtree(root, ignore_errors=True)


def test_read_version_converges_crashed_purge(spark):
    """Round-13 advice (medium): a crash between purge's two renames
    leaves a version leaf MISSING with a ``.purge_old_`` sibling. A
    plain ``read_version`` — no purge re-run, no explicit recover — must
    converge the window and serve the correct historical rows instead of
    silently skipping the leaf and falling back to a newer copy."""
    from pulsar_cdc_experiment_spark.plans.merge import (
        _PURGE_OLD,
        read_version,
    )

    root = tempfile.mkdtemp(prefix="purge_read_")
    rows = [(k, float(k), "a") for k in range(10)]
    spark.createDataFrame(rows, "k bigint, v double, p string").coalesce(
        1
    ).write.mode("overwrite").partitionBy("p").parquet(root)
    merge_into(
        spark, root,
        spark.createDataFrame(
            [(1, 100.0, "a", False)],
            "k bigint, v double, p string, is_delete boolean",
        ),
        keys=["k"], partition_col="p", keep_history=True,
    )
    import urllib.parse

    vdir = os.path.join(root, ".merge_history", "v000001")
    flat = urllib.parse.quote("p=a", safe="")
    # crash window: saved leaf renamed away, swap never completed
    os.rename(
        os.path.join(vdir, "p=a"), os.path.join(vdir, _PURGE_OLD + flat)
    )
    # read_version alone must restore the leaf and serve v0's rows —
    # in particular k=1 at its PRE-merge value, which the live fallback
    # would get wrong
    got = {(r["k"], r["v"]) for r in read_version(spark, root, 0).collect()}
    assert (1, 1.0) in got and len(got) == 10
    assert os.path.isdir(os.path.join(vdir, "p=a"))
    shutil.rmtree(root, ignore_errors=True)


def _purge_jobs(spark, n_leaves: int, tag: str) -> int:
    """Zero-hit purge job count over a 2-version, ``n_leaves``-leaf
    table (helper for the O(versions)-not-O(versions×leaves) test)."""
    from pulsar_cdc_experiment_spark.plans.merge import purge_keys

    root = tempfile.mkdtemp(prefix=f"purgejobs_{tag}_")
    leaves = [f"l{i:02d}" for i in range(n_leaves)]
    rows = [(k, float(k), leaves[k % n_leaves]) for k in range(10 * n_leaves)]
    spark.createDataFrame(
        rows, "k bigint, v double, p string"
    ).coalesce(1).write.mode("overwrite").partitionBy("p").parquet(root)
    for v in range(2):
        chg = spark.createDataFrame(
            [(k, 1000.0 + v, leaves[k % n_leaves], False)
             for k in range(n_leaves)],
            "k bigint, v double, p string, is_delete boolean",
        )
        merge_into(
            spark, root, chg, keys=["k"], partition_col="p",
            keep_history=True,
        )
    rep, n = _jobs(
        spark, f"purge_jobs_{tag}",
        lambda: purge_keys(
            spark, root,
            spark.createDataFrame([(999_999,)], "k bigint"),
            keys=["k"], partition_col="p",
        ),
    )
    assert rep["versions_scrubbed"] == []
    shutil.rmtree(root, ignore_errors=True)
    return n


def test_purge_hit_detection_jobs_scale_with_versions_not_leaves(spark):
    """Round-13 verdict #2: hit detection is ONE job per version — the
    per-(version, leaf) count() loop it replaced paid ~leaf-count extra
    jobs per version (measured 51 vs 21 at 3 versions × 6 leaves).
    Doubling the leaf count at fixed version count must not add jobs
    beyond scheduler noise."""
    jobs_small = _purge_jobs(spark, 4, "small")
    jobs_big = _purge_jobs(spark, 8, "big")
    # old behavior: +2 versions × +4 leaves ≈ +8 jobs; new: identical
    # modulo at most a stage-retry flake
    assert jobs_big <= jobs_small + 2, (jobs_small, jobs_big)


def test_purge_recover_converges_both_crash_windows(spark):
    """_purge_recover: a staged dir is discarded; an old-copy whose
    target leaf is missing is restored (crash between the two renames);
    an old-copy whose target exists is trash."""
    from pulsar_cdc_experiment_spark.plans.merge import (
        _PURGE_OLD,
        _PURGE_STAGE,
        _purge_recover,
        read_version,
    )

    root = tempfile.mkdtemp(prefix="purge_t2_")
    rows = [(k, float(k), "a") for k in range(10)]
    spark.createDataFrame(rows, "k bigint, v double, p string").coalesce(
        1
    ).write.mode("overwrite").partitionBy("p").parquet(root)
    merge_into(
        spark, root,
        spark.createDataFrame(
            [(1, 100.0, "a", False)],
            "k bigint, v double, p string, is_delete boolean",
        ),
        keys=["k"], partition_col="p", keep_history=True,
    )
    import urllib.parse

    vdir = os.path.join(root, ".merge_history", "v000001")
    flat = urllib.parse.quote("p=a", safe="")

    # window 1: crash after rename(saved -> old): leaf missing
    os.rename(os.path.join(vdir, "p=a"), os.path.join(vdir, _PURGE_OLD + flat))
    _purge_recover(vdir)
    assert os.path.isdir(os.path.join(vdir, "p=a"))
    assert read_version(spark, root, 0).count() == 10

    # window 2: leftover stage + leftover old with target present
    os.makedirs(os.path.join(vdir, _PURGE_STAGE + flat))
    os.makedirs(os.path.join(vdir, _PURGE_OLD + flat))
    _purge_recover(vdir)
    assert not os.path.exists(os.path.join(vdir, _PURGE_STAGE + flat))
    assert not os.path.exists(os.path.join(vdir, _PURGE_OLD + flat))
    assert read_version(spark, root, 0).count() == 10
    shutil.rmtree(root, ignore_errors=True)

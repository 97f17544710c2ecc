"""plans/mor.py — merge-on-read (deletion-vector) tables: the guarantees
the driver oracle cannot see. Write-path O(changeset) (base files stay
byte-identical through merges), sequence/time-travel semantics incl. the
born==delete-seq boundary, crash-window convergence (orphan sidecars,
crashed compaction staging, crashed purge leaf swap), erasure reaching
the sidecar key values, and fail-loud preconditions."""

from __future__ import annotations

import glob
import json
import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from pulsar_cdc_experiment_spark.plans.mor import (
    MOR,
    change_feed_mor,
    compact_mor,
    init_mor,
    merge_into_mor,
    mor_history,
    purge_keys_mor,
    read_mor,
)

from .test_merge_scope import _jobs


def _mk(spark, rows):
    return spark.createDataFrame(rows, "k bigint, v double, p string")


def _chg(spark, rows):
    return spark.createDataFrame(
        rows, "k bigint, v double, p string, is_delete boolean"
    )


def _base_rows():
    return [(k, float(k), "a" if k % 2 == 0 else "b") for k in range(20)]


def _state(spark, root, as_of=None):
    return {
        (r["k"], r["v"], r["p"])
        for r in read_mor(spark, root, as_of).collect()
    }


def _file_listing(path):
    out = []
    for dirpath, dirnames, filenames in os.walk(path):
        dirnames.sort()
        for fn in sorted(filenames):
            st = os.stat(os.path.join(dirpath, fn))
            out.append((os.path.relpath(dirpath, path), fn, st.st_size,
                        st.st_mtime_ns))
    return out


@pytest.fixture()
def mor_table(spark):
    root = tempfile.mkdtemp(prefix="mor_t_") + "/t"
    init_mor(spark, root, _mk(spark, _base_rows()), keys=["k"],
             partition_col="p")
    yield root
    shutil.rmtree(os.path.dirname(root), ignore_errors=True)


def test_merge_semantics_and_base_byte_identity(spark, mor_table):
    """A MoR merge applies update/delete/insert semantics while the base
    generation's data files stay BYTE-IDENTICAL — the whole point: write
    cost is the changeset, never touched-file bytes."""
    root = mor_table
    base_dir = os.path.join(root, "base-000000")
    before = _file_listing(base_dir)
    rep = merge_into_mor(
        spark, root,
        _chg(spark, [(4, 400.0, "a", False), (7, 7.0, "b", True),
                     (100, 1.0, "b", False)]),
    )
    assert rep == {"seq": 1, "n_delete_keys": 3, "n_appended": 2}
    assert _file_listing(base_dir) == before
    want = {
        t for t in ((k, float(k), "a" if k % 2 == 0 else "b")
                    for k in range(20))
        if t[0] not in (4, 7)
    } | {(4, 400.0, "a"), (100, 1.0, "b")}
    assert _state(spark, root) == want
    # absent-key delete is a no-op, not an error, and costs no rewrite
    rep2 = merge_into_mor(
        spark, root, _chg(spark, [(999, 0.0, "a", True)])
    )
    assert rep2["n_appended"] == 0
    assert _state(spark, root) == want
    assert _file_listing(base_dir) == before


def test_sequence_time_travel_and_own_seq_boundary(spark, mor_table):
    """A row born at seq N survives seq N's own delete entry (MERGE
    upsert = delete old images + insert the new one in ONE sequence);
    as_of serves every retained sequence."""
    root = mor_table
    merge_into_mor(spark, root, _chg(spark, [(4, 400.0, "a", False)]))
    merge_into_mor(spark, root, _chg(spark, [(4, 444.0, "a", False)]))
    assert (4, 400.0, "a") in _state(spark, root, 1)
    assert (4, 444.0, "a") in _state(spark, root, 2)
    assert (4, 4.0, "a") in _state(spark, root, 0)
    assert {t for t in _state(spark, root) if t[0] == 4} == {(4, 444.0, "a")}
    with pytest.raises(ValueError, match="outside retained"):
        read_mor(spark, root, 3)


def test_compaction_preserves_state_and_clears_sidecars(spark, mor_table):
    root = mor_table
    merge_into_mor(
        spark, root,
        _chg(spark, [(4, 400.0, "a", False), (7, 7.0, "b", True)]),
    )
    want = _state(spark, root)
    rep = compact_mor(spark, root)
    assert rep["compacted_seqs"] == 1 and rep["base"] == "base-000001"
    assert _state(spark, root) == want
    assert mor_history(root) == []
    # retention grace: the old generation + folded sidecars stay on
    # disk for in-flight lazy readers until the NEXT maintenance entry
    assert glob.glob(os.path.join(root, MOR, "delete", "*"))
    assert os.path.exists(os.path.join(root, "base-000000"))
    # a plain hive read of the new base equals the MoR view
    plain = {
        (r["k"], r["v"], r["p"])
        for r in spark.read.parquet(
            os.path.join(root, "base-000001")
        ).collect()
    }
    assert plain == want
    # the first post-compaction merge continues ABOVE base_seq (a seq
    # restart at 1 would collide with the rebirth seq and resurrect the
    # old image) — assert EXACT state, not just membership of the new row
    merge_into_mor(spark, root, _chg(spark, [(1, 111.0, "b", False)]))
    assert mor_history(root)[-1]["seq"] == 2
    assert _state(spark, root) == (want - {(1, 1.0, "b")}) | {(1, 111.0, "b")}
    # ... and that maintenance entry swept the grace-window orphans
    assert not os.path.exists(os.path.join(root, "base-000000"))
    assert not glob.glob(os.path.join(root, MOR, "delete", "d-000001*"))
    assert not glob.glob(os.path.join(root, MOR, "delta", "__born=000001*"))


def test_repeated_compact_merge_cycles_stay_readable(spark, mor_table):
    """compact → merge → compact → merge: each post-compaction merge's
    seq continues above base_seq, every cycle stays readable, and the
    final state is exactly the net of all merges (regression for the
    seq-restart-at-1 collision that made base_seq>=2 tables unreadable)."""
    root = mor_table
    want = _state(spark, root)
    for i, (k, v) in enumerate([(3, 333.0), (5, 555.0), (3, 999.0)], 1):
        merge_into_mor(spark, root, _chg(spark, [(k, v, "b", False)]))
        want = {t for t in want if t[0] != k} | {(k, v, "b")}
        rep = compact_mor(spark, root)
        assert rep["base_seq"] == i
        assert _state(spark, root) == want
    merge_into_mor(spark, root, _chg(spark, [(5, 5.5, "b", False)]))
    assert mor_history(root)[-1]["seq"] == 4
    want = {t for t in want if t[0] != 5} | {(5, 5.5, "b")}
    assert _state(spark, root) == want
    assert _state(spark, root, 3) != want  # time travel to base_seq works


def test_crash_windows_converge_on_next_maintenance(spark, mor_table):
    """Unpublished sidecars (crashed writer), a staged base generation
    (crashed compaction), and a half-swapped purge leaf all converge at
    the next maintenance entry; readers never see them."""
    root = mor_table
    merge_into_mor(spark, root, _chg(spark, [(4, 400.0, "a", False)]))
    want = _state(spark, root)

    # crashed writer: seq-2 sidecars on disk, manifest never published
    shutil.copy(
        os.path.join(root, MOR, "delete", "d-000001.parquet"),
        os.path.join(root, MOR, "delete", "d-000002.parquet"),
    )
    os.makedirs(os.path.join(root, MOR, "delta", "__born=000002", "p=a"))
    # crashed compaction: staged generation, pointer never swapped
    os.makedirs(os.path.join(root, "base-000001", "p=a"))
    assert _state(spark, root) == want  # readers consult the manifest only
    merge_into_mor(spark, root, _chg(spark, [(5, 500.0, "b", False)]))
    assert not os.path.exists(
        os.path.join(root, MOR, "delta", "__born=000002")
    ) or mor_history(root)[-1]["seq"] == 2
    assert not os.path.exists(os.path.join(root, "base-000001"))
    # the new merge's sidecar took seq 2; the orphan copy was swept first
    assert mor_history(root)[-1]["seq"] == 2
    assert (5, 500.0, "b") in _state(spark, root)

    # crashed purge: leaf renamed away, stage never swapped in
    from pulsar_cdc_experiment_spark.plans.merge import _PURGE_OLD
    import urllib.parse

    base_dir = os.path.join(root, "base-000000")
    flat = urllib.parse.quote("p=a", safe="")
    os.rename(
        os.path.join(base_dir, "p=a"),
        os.path.join(base_dir, _PURGE_OLD + flat),
    )
    compact_mor(spark, root)  # maintenance entry converges, then compacts
    got = _state(spark, root)
    assert (4, 400.0, "a") in got and (0, 0.0, "a") in got


def test_purge_erases_keys_everywhere_including_sidecars(spark, mor_table):
    root = mor_table
    merge_into_mor(
        spark, root,
        _chg(spark, [(4, 400.0, "a", False), (7, 7.0, "b", True)]),
    )
    merge_into_mor(spark, root, _chg(spark, [(4, 444.0, "a", False)]))
    rep = purge_keys_mor(
        spark, root, spark.createDataFrame([(2,), (4,)], "k bigint")
    )
    # k=2: base only; k=4: base + two deltas = 4 data rows
    assert rep["data_rows_purged"] == 4
    # k=4 sat in both sidecars; k=2 in neither
    assert rep["sidecar_keys_purged"] == 2
    assert set(rep["components_rewritten"]) == {"base", "s1", "s2"}
    for as_of in (0, 1, 2):
        assert not any(
            t[0] in (2, 4) for t in _state(spark, root, as_of)
        ), as_of
    for f in glob.glob(os.path.join(root, MOR, "delete", "*.parquet")):
        ks = {r["k"] for r in spark.read.parquet(f).collect()}
        assert not ks & {2, 4}, (f, ks)
    # untouched rows survive everywhere; manifest counters updated
    assert (6, 6.0, "a") in _state(spark, root, 0)
    assert sum(s["n_delete_keys"] for s in mor_history(root)) == 1
    # idempotent
    rep2 = purge_keys_mor(
        spark, root, spark.createDataFrame([(2,), (4,)], "k bigint")
    )
    assert rep2["data_rows_purged"] == 0
    assert rep2["sidecar_keys_purged"] == 0


def test_change_feed_span_fold_equals_two_read_diff(spark, mor_table):
    """The round-19 feed optimization builds the post side by folding
    the span onto the touched pre-image instead of a second full
    overlay read. This pins the equivalence on a gnarly span:
    delete-then-REINSERT of the same key across span seqs, an update,
    a pure delete, a pure insert, and a same-seq churn — the fold must
    equal the reconstruction from read_mor(hi) semi-joined to the
    touched keys (the pre-optimization definition)."""
    from pyspark.sql import functions as F

    root = mor_table
    # seq 1: delete k=2, update k=4, insert k=100
    merge_into_mor(
        spark, root,
        _chg(spark, [(2, 0.0, "a", True), (4, 400.0, "a", False),
                     (100, 1.0, "b", False)]),
    )
    # seq 2: REINSERT k=2 (deleted in-span), delete k=100 (inserted
    # in-span), update k=4 again, delete base k=7
    merge_into_mor(
        spark, root,
        _chg(spark, [(2, 22.0, "b", False), (100, 0.0, "b", True),
                     (4, 444.0, "a", False), (7, 0.0, "b", True)]),
    )
    feed = change_feed_mor(spark, root, 0)
    got_post = {
        (r["k"], r["v"], r["p"])
        for r in feed.filter(
            F.col("change_type").isin("insert", "update_post")
        ).collect()
    }
    # reconstruction via the old definition: full overlay read at hi,
    # restricted to the keys the span's sidecars touched
    touched = {2, 4, 7, 100}
    want_post = {
        (r["k"], r["v"], r["p"])
        for r in read_mor(spark, root).collect()
        if r["k"] in touched
    }
    assert got_post == want_post == {(2, 22.0, "b"), (4, 444.0, "a")}
    net = {
        (r["k"], r["change_type"], r["v"]) for r in feed.collect()
    }
    # k=2: existed pre (v=2.0), deleted then reinserted -> net UPDATE;
    # k=100: inserted then deleted in-span -> cancels entirely
    assert net == {
        (2, "update_pre", 2.0), (2, "update_post", 22.0),
        (4, "update_pre", 4.0), (4, "update_post", 444.0),
        (7, "delete", 7.0),
    }


def test_change_feed_net_and_per_seq(spark, mor_table):
    root = mor_table
    merge_into_mor(
        spark, root,
        _chg(spark, [(4, 400.0, "a", False), (7, 7.0, "b", True),
                     (100, 1.0, "b", False)]),
    )
    merge_into_mor(
        spark, root,
        _chg(spark, [(4, 444.0, "a", False), (100, 1.0, "b", True)]),
    )
    net = {
        (r["k"], r["change_type"], r["v"])
        for r in change_feed_mor(spark, root, 0).collect()
    }
    # the insert-then-delete of k=100 cancels in the net feed
    assert net == {
        (4, "update_pre", 4.0), (4, "update_post", 444.0),
        (7, "delete", 7.0),
    }
    leg2 = {
        (r["k"], r["change_type"], r["v"])
        for r in change_feed_mor(spark, root, 1, 2).collect()
    }
    assert leg2 == {
        (4, "update_pre", 400.0), (4, "update_post", 444.0),
        (100, "delete", 1.0),
    }


def test_schema_evolution_widens_and_pads(spark, mor_table):
    """evolve_schema=True: the delta lands wide, earlier-born rows read
    as typed NULL in the new column, a sequence read serves the schema
    AS OF that sequence, the change feed emits updates confined to the
    evolved column, and compaction materializes the wide schema."""
    root = mor_table
    merge_into_mor(spark, root, _chg(spark, [(4, 400.0, "a", False)]))
    wide = spark.createDataFrame(
        [(4, 400.0, "a", "gold", False), (5, 5.0, "b", "silver", False)],
        "k bigint, v double, p string, tier string, is_delete boolean",
    )
    rep = merge_into_mor(spark, root, wide, evolve_schema=True)
    assert rep["n_appended"] == 2
    cur = read_mor(spark, root)
    assert cur.columns == ["k", "v", "p", "tier"]
    got = {(r["k"], r["v"], r["tier"]) for r in cur.collect()}
    assert (4, 400.0, "gold") in got and (5, 5.0, "silver") in got
    assert (0, 0.0, None) in got  # earlier-born row NULL-padded
    # sequence read below the evolution serves the narrow schema
    assert read_mor(spark, root, 1).columns == ["k", "v", "p"]
    # feed across the evolution: k=4's update changed ONLY (v same)
    # tier NULL -> 'gold', and it must surface as a pre/post pair
    feed = {
        (r["k"], r["change_type"], r["tier"])
        for r in change_feed_mor(spark, root, 1, 2).collect()
    }
    assert (4, "update_pre", None) in feed
    assert (4, "update_post", "gold") in feed
    # compaction materializes the wide schema into the new base
    compact_mor(spark, root)
    plain = spark.read.parquet(os.path.join(root, "base-000001"))
    assert set(plain.columns) == {"k", "v", "p", "tier"}
    assert {(r["k"], r["v"], r["tier"]) for r in read_mor(spark, root).collect()} == got


def test_partial_compaction_keeps_recent_sequences(spark, mor_table):
    """compact_mor(upto=K): sequences ≤ K fold into the new base
    (re-born at base_seq=K), sequences > K stay time-travelable and
    their deletes still apply to the folded rows — the keep-last-N
    retention verb."""
    root = mor_table
    merge_into_mor(spark, root, _chg(spark, [(4, 400.0, "a", False)]))
    merge_into_mor(
        spark, root,
        _chg(spark, [(4, 444.0, "a", False), (7, 7.0, "b", True)]),
    )
    merge_into_mor(spark, root, _chg(spark, [(8, 888.0, "a", False)]))
    want2 = _state(spark, root, 2)
    want3 = _state(spark, root, 3)
    rep = compact_mor(spark, root, upto=2)
    assert rep == {"compacted_seqs": 2, "base": "base-000001", "base_seq": 2}
    # seq 2 is now the base state; seq 3 still reconstructs; seq 1 gone
    assert _state(spark, root, 2) == want2
    assert _state(spark, root, 3) == want3
    assert _state(spark, root) == want3
    with pytest.raises(ValueError, match="unreachable"):
        read_mor(spark, root, 1)
    assert [s["seq"] for s in mor_history(root)] == [3]
    # a post-fold delete of a FOLDED row still applies (born = base_seq)
    merge_into_mor(spark, root, _chg(spark, [(4, 0.0, "a", True)]))
    assert not any(t[0] == 4 for t in _state(spark, root))
    # and full compaction from a partial base keeps converging
    rep2 = compact_mor(spark, root)
    assert rep2["base"] == "base-000002" and rep2["base_seq"] == 4
    assert not any(t[0] == 4 for t in _state(spark, root))


def test_fail_loud_preconditions(spark, mor_table):
    root = mor_table
    with pytest.raises(ValueError, match="multiple rows"):
        merge_into_mor(
            spark, root,
            _chg(spark, [(4, 1.0, "a", False), (4, 2.0, "a", False)]),
        )
    with pytest.raises(ValueError, match="NULL key"):
        merge_into_mor(
            spark, root, _chg(spark, [(None, 1.0, "a", False)])
        )
    with pytest.raises(ValueError, match="NULL or empty"):
        merge_into_mor(spark, root, _chg(spark, [(4, 1.0, None, False)]))
    with pytest.raises(ValueError, match="lacks column"):
        merge_into_mor(
            spark, root,
            spark.createDataFrame(
                [(4, False)], "k bigint, is_delete boolean"
            ),
        )
    with pytest.raises(ValueError, match="evolve_schema"):
        merge_into_mor(
            spark, root,
            spark.createDataFrame(
                [(4, 1.0, "a", "x", False)],
                "k bigint, v double, p string, extra string, "
                "is_delete boolean",
            ),
        )
    with pytest.raises(ValueError, match="not a merge-on-read table"):
        read_mor(spark, os.path.dirname(root))
    with pytest.raises(ValueError, match="already a merge-on-read"):
        init_mor(spark, root, _mk(spark, _base_rows()), keys=["k"],
                 partition_col="p")
    # a changeset with zero rows is a no-op, not a sequence
    assert merge_into_mor(spark, root, _chg(spark, []))["seq"] is None


def test_strategy_mixing_fails_loud(spark, mor_table):
    """A copy-on-write merge_into pointed at a MoR root would bypass the
    sidecars and corrupt the overlay — fail loud both ways."""
    from pulsar_cdc_experiment_spark.plans.merge import merge_into

    with pytest.raises(ValueError, match="merge-on-read"):
        merge_into(
            spark, mor_table,
            _chg(spark, [(4, 400.0, "a", False)]),
            keys=["k"], partition_col="p",
        )
    cow = tempfile.mkdtemp(prefix="cow_t_") + "/t"
    _mk(spark, _base_rows()).write.partitionBy("p").parquet(cow)
    merge_into(
        spark, cow, _chg(spark, [(4, 400.0, "a", False)]),
        keys=["k"], partition_col="p", keep_history=True,
    )
    with pytest.raises(ValueError, match="copy-on-write merge history"):
        init_mor(
            spark, cow, _mk(spark, _base_rows()), keys=["k"],
            partition_col="p",
        )
    shutil.rmtree(os.path.dirname(cow), ignore_errors=True)


def test_auto_compact_policy_boundaries(spark, mor_table):
    """auto_compact_mor: AT-threshold declines (strict >), either knob
    triggers alone, and the decision is manifest-metadata-only (zero
    Spark jobs when it declines)."""
    from pulsar_cdc_experiment_spark.plans.mor import auto_compact_mor

    root = mor_table
    merge_into_mor(
        spark, root,
        _chg(spark, [(1, 10.0, "b", False), (2, 20.0, "a", False)]),
    )
    merge_into_mor(spark, root, _chg(spark, [(3, 30.0, "b", False)]))
    tracker = spark.sparkContext.statusTracker()
    spark.sparkContext.setJobGroup("auto_decline", "audit")
    rep = auto_compact_mor(
        spark, root, max_overlay_depth=2, max_sidecar_keys=3
    )
    spark.sparkContext.setJobGroup("auto_decline_done", "")
    assert rep == {
        "overlay_depth": 2, "sidecar_keys": 3,
        "triggered": False, "reasons": [],
    }
    assert not tracker.getJobIdsForGroup("auto_decline")
    # sidecar-keys knob triggers alone
    rep2 = auto_compact_mor(
        spark, root, max_overlay_depth=10, max_sidecar_keys=2
    )
    assert rep2["triggered"] and rep2["reasons"] == ["sidecar_keys"]
    assert rep2["compact"]["base_seq"] == 2
    assert mor_history(root) == []
    # post-compaction: counters reset, nothing to trigger
    rep3 = auto_compact_mor(
        spark, root, max_overlay_depth=0, max_sidecar_keys=0
    )
    assert rep3 == {
        "overlay_depth": 0, "sidecar_keys": 0,
        "triggered": False, "reasons": [],
    }


def test_read_mor_after_each_commit_runs_no_job(spark, mor_table):
    """Every merge-on-read writer seeds the slots of what it publishes —
    ``init_mor`` its base, ``merge_into_mor`` its delta component and
    delete sidecar, compaction its new base — so building a
    ``read_mor`` plan after each commit runs no Spark job."""
    from pulsar_cdc_experiment_spark.plans.mor import auto_compact_mor

    root = mor_table
    want = set(_base_rows())
    _df, n = _jobs(spark, "mor_read_init", lambda: read_mor(spark, root))
    assert n == 0
    for i, rows in enumerate([
        [(1, 10.0, "b", False), (2, 0.0, "a", True), (40, 4.0, "a", False)],
        [(3, 30.0, "b", False), (41, 4.1, "b", False)],
    ]):
        merge_into_mor(spark, root, _chg(spark, rows))
        for k, v, p, d in rows:
            want = {r for r in want if r[0] != k} | (
                set() if d else {(k, v, p)}
            )
        _df, n = _jobs(
            spark, f"mor_read_merge_{i}", lambda: read_mor(spark, root)
        )
        assert n == 0, (i, n)
    assert auto_compact_mor(spark, root, max_overlay_depth=0)["triggered"]
    df, n = _jobs(spark, "mor_read_compact", lambda: read_mor(spark, root))
    assert n == 0
    assert {(r["k"], r["v"], r["p"]) for r in df.collect()} == want


def _mv_on_mor(spark, base):
    """A merge-on-read table under ``base`` with a count/sum MV bound to
    it; returns (table root, MV root, project)."""
    from pulsar_cdc_experiment_spark.plans.mv import bind_mv_to_mor, create_mv

    root, mv_root = os.path.join(base, "t"), os.path.join(base, "mvs")
    init_mor(spark, root, _mk(spark, _base_rows()), keys=["k"],
             partition_col="p")

    def project(df):
        cols = [F.col("p"), F.col("k")]
        if "change_type" in df.columns:
            cols = [F.col("change_type")] + cols
        return df.select(*cols)

    create_mv(
        spark, mv_root, name="m",
        source_path=os.path.join(root, MOR, "manifest.json"),
        source=project(read_mor(spark, root)), group_cols=["p"],
        measures={"n": ("count", None), "s": ("sum", "k")},
    )
    bind_mv_to_mor(mv_root, "m", root)
    return root, mv_root, project


def test_maintain_from_mor_infers_no_new_delta(spark):
    """``merge_into_mor`` seeds the slot of the delta component it
    writes, so ``maintain_mv_from_mor`` right after the merge runs as
    many jobs as after a read that warmed every slot: it pays no
    inference job for the new delta."""
    from pulsar_cdc_experiment_spark.plans.mv import (
        answer_aggregate,
        maintain_mv_from_mor,
    )

    chg = [(1, 10.0, "b", False), (2, 0.0, "a", True), (40, 4.0, "a", False)]
    base = tempfile.mkdtemp(prefix="mor_mv_jobs_")
    jobs = []
    for warm in (False, True):
        root, mv_root, project = _mv_on_mor(
            spark, os.path.join(base, str(warm))
        )
        merge_into_mor(spark, root, _chg(spark, chg))
        if warm:
            read_mor(spark, root)
        _r, n = _jobs(
            spark, f"mor_mv_maintain_{warm}",
            lambda: maintain_mv_from_mor(spark, mv_root, "m", project),
        )
        jobs.append(n)
        df, used = answer_aggregate(
            spark, mv_root, project(read_mor(spark, root)),
            os.path.join(root, MOR, "manifest.json"), group_cols=["p"],
            aggs={"n": ("count", None), "s": ("sum", "k")},
        )
        assert used == "m"
        want = {}
        for k, _v, p in _state(spark, root):
            n_p, s_p = want.get(p, (0, 0))
            want[p] = (n_p + 1, s_p + k)
        assert {r["p"]: (r["n"], r["s"]) for r in df.collect()} == want
    assert jobs[0] == jobs[1], jobs
    shutil.rmtree(base, ignore_errors=True)


def _mor_purge_jobs(spark, n_seqs, tag):
    """Zero-hit MoR purge job count over a table with ``n_seqs``
    retained sequences (helper for the O(1)-probe test)."""
    root = tempfile.mkdtemp(prefix=f"morpurge_{tag}_") + "/t"
    init_mor(spark, root, _mk(spark, _base_rows()), keys=["k"],
             partition_col="p")
    for i in range(n_seqs):
        merge_into_mor(
            spark, root, _chg(spark, [(i, 1000.0 + i, "a", False)])
        )
    tracker = spark.sparkContext.statusTracker()
    spark.sparkContext.setJobGroup(f"mor_purge_{tag}", "audit")
    rep = purge_keys_mor(
        spark, root, spark.createDataFrame([(999_999,)], "k bigint")
    )
    spark.sparkContext.setJobGroup(f"mor_purge_{tag}_done", "")
    assert rep["data_rows_purged"] == 0
    assert rep["sidecar_keys_purged"] == 0
    n = len(tracker.getJobIdsForGroup(f"mor_purge_{tag}"))
    shutil.rmtree(os.path.dirname(root), ignore_errors=True)
    return n


def test_mor_purge_probe_jobs_constant_in_sequence_count(spark):
    """Round-14 verdict #3: the sidecar hit probe is ONE seq-tagged
    union + semi-join job, not one count() per retained sequence —
    doubling the sequence count must not add probe jobs beyond
    scheduler noise (rewrites still loop, but only over HIT sidecars)."""
    jobs_small = _mor_purge_jobs(spark, 3, "small")
    jobs_big = _mor_purge_jobs(spark, 6, "big")
    assert jobs_big <= jobs_small + 2, (jobs_small, jobs_big)


def test_read_mor_sidecar_join_broadcasts(spark, mor_table):
    """Scale evidence for the read rule: with a changeset-sized delete
    set, the executed (AQE-final) plan applies the sidecars as a
    BROADCAST hash join — the base scan is never shuffled. No
    F.broadcast hint exists in the operator (the registry-wide hint ban
    applies); the optimizer chooses it from the actual size."""
    root = mor_table
    merge_into_mor(spark, root, _chg(spark, [(4, 400.0, "a", False)]))
    df = read_mor(spark, root)
    df.collect()  # let AQE finalize
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_purge_key_that_is_partition_column_uses_dirname_spelling(spark):
    """Round-15 ADVICE: when a key column is ALSO a partition column,
    partition-value inference can retype it (zero-padded strings parse
    as ints) so str(decoded) diverges from the dir-name spelling — the
    old probe then failed the leaf lookup with the fallback
    RuntimeError. The probe now forces STRING dir-name spelling for
    partition-borne key components and the leaf rewrite never relies on
    inference round-tripping."""
    root = tempfile.mkdtemp(prefix="mor_pk_") + "/t"
    rows = [(f"{k:05d}", float(k)) for k in range(8)]  # "00000".."00007"
    init_mor(
        spark, root,
        spark.createDataFrame(rows, "k string, v double"),
        keys=["k"], partition_col="k",
    )
    chg = spark.createDataFrame(
        [("00003", 33.0, False), ("00101", 101.0, False)],
        "k string, v double, is_delete boolean",
    )
    merge_into_mor(spark, root, chg)
    rep = purge_keys_mor(
        spark, root,
        spark.createDataFrame([("00003",), ("00005",)], "k string"),
    )
    # base 00003 + base 00005 + delta 00003 rewrite away
    assert rep["data_rows_purged"] == 3, rep
    assert rep["sidecar_keys_purged"] == 1, rep  # seq-1 carried 00003
    got_v = {r["v"] for r in read_mor(spark, root).collect()}
    assert got_v == {0.0, 1.0, 2.0, 4.0, 6.0, 7.0, 101.0}, got_v
    # idempotent second purge finds nothing
    rep2 = purge_keys_mor(
        spark, root, spark.createDataFrame([("00003",)], "k string")
    )
    assert rep2["data_rows_purged"] == 0
    shutil.rmtree(os.path.dirname(root), ignore_errors=True)


def test_rollback_grace_window_for_lazy_readers(spark, mor_table):
    """Round-15 ADVICE: rollback_last_mor must NOT delete the
    unpublished sequence's files immediately — a lock-free reader
    holding a lazy plan built from the pre-rollback manifest still
    needs them (the compact_mor retention-grace policy). The next
    maintenance entry's orphan sweep reclaims them."""
    from pulsar_cdc_experiment_spark.plans.mor import rollback_last_mor

    merge_into_mor(spark, mor_table, _chg(spark, [(3, 300.0, "b", False)]))
    pre_plan = read_mor(spark, mor_table)  # lazy, spans seq 1
    assert (3, 300.0, "b") in {
        (r["k"], r["v"], r["p"]) for r in pre_plan.collect()
    }
    rollback_last_mor(mor_table)
    dfile = os.path.join(mor_table, MOR, "delete", "d-000001.parquet")
    ddir = os.path.join(mor_table, MOR, "delta", "__born=000001")
    assert os.path.exists(dfile) and os.path.isdir(ddir)
    # the pre-rollback lazy plan still executes (grace window)
    assert (3, 300.0, "b") in {
        (r["k"], r["v"], r["p"]) for r in pre_plan.collect()
    }
    # published state is back to the base
    assert _state(spark, mor_table) == set(_base_rows())
    # the next maintenance entry sweeps the orphans, then republishes
    # seq 1 fresh — state reflects only the NEW merge
    merge_into_mor(spark, mor_table, _chg(spark, [(4, 400.0, "a", False)]))
    got = _state(spark, mor_table)
    assert (4, 400.0, "a") in got and (3, 300.0, "b") not in got
    assert (3, 3.0, "b") in got


def test_reader_lease_enforces_grace_window(spark, mor_table):
    """read_lease upgrades the documented retention grace window into
    an enforced one: while an unexpired lease exists, maintenance
    entries skip the grace-window deletions, so a lazy plan built from
    a PRE-compaction manifest stays materializable across a compaction
    AND subsequent maintenance; after release, the next entry sweeps;
    an expired (crashed-reader) lease never wedges cleanup and its
    file is removed; never-published writer debris is swept even
    under a live lease."""
    from pulsar_cdc_experiment_spark.plans.mor import (
        _has_active_lease,
        read_lease,
    )

    root = mor_table
    merge_into_mor(spark, root, _chg(
        spark, [(1, 100.0, "b", False), (2, 2.0, "a", True)]
    ))
    want = _state(spark, root)

    def old_bases():
        cur = json.load(open(os.path.join(root, MOR, "manifest.json")))
        return [
            d for d in os.listdir(root)
            if d.startswith("base-") and d != cur["base"]
        ]

    with read_lease(root, ttl_sec=600):
        pre_plan = read_mor(spark, root)  # lazy, pre-compaction files
        compact_mor(spark, root)
        # two maintenance entries land while the lease is live
        merge_into_mor(spark, root, _chg(spark, [(3, 33.0, "b", False)]))
        merge_into_mor(spark, root, _chg(spark, [(4, 44.0, "a", False)]))
        assert old_bases(), "grace window must survive maintenance"
        # writer debris is NOT leased: a fake crashed tmp dir goes away
        debris = os.path.join(root, MOR, "delete", "junk.tmpdir")
        os.makedirs(debris)
        merge_into_mor(spark, root, _chg(spark, [(5, 55.0, "b", False)]))
        assert not os.path.exists(debris)
        assert old_bases()
        # the pre-compaction plan still materializes, correctly
        got = {(r["k"], r["v"], r["p"]) for r in pre_plan.collect()}
        assert got == want

    # lease released: the next maintenance entry sweeps the old base
    merge_into_mor(spark, root, _chg(spark, [(6, 66.0, "a", False)]))
    assert not old_bases()

    # a crashed reader's EXPIRED lease neither wedges cleanup nor
    # survives the check
    d = os.path.join(root, MOR, "leases")
    stale = os.path.join(d, "lease-0-dead.json")
    with open(stale, "w") as f:
        json.dump({"expires": 0, "pid": 0}, f)
    assert not _has_active_lease(root)
    assert not os.path.exists(stale)


def test_reader_lease_cross_process(spark, mor_table):
    """The lease is CROSS-PROCESS: a second OS process takes the lease
    (pure file ops, no Spark), and maintenance entries in THIS process
    defer the grace-window sweep until that process releases it."""
    import subprocess
    import sys

    from pulsar_cdc_experiment_spark.plans.mor import compact_mor

    root = mor_table
    merge_into_mor(spark, root, _chg(spark, [(1, 100.0, "b", False)]))
    compact_mor(spark, root)

    def old_bases():
        cur = json.load(open(os.path.join(root, MOR, "manifest.json")))
        return [
            d for d in os.listdir(root)
            if d.startswith("base-") and d != cur["base"]
        ]

    assert old_bases(), "compaction must leave the grace-window base"
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    proc = subprocess.Popen(
        [sys.executable, "-c", (
            "import sys\n"
            f"sys.path.insert(0, {repo!r})\n"
            "from pulsar_cdc_experiment_spark.plans.mor import read_lease\n"
            f"with read_lease({root!r}, ttl_sec=600):\n"
            "    print('held', flush=True)\n"
            "    sys.stdin.readline()\n"
        )],
        stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True,
    )
    try:
        assert proc.stdout.readline().strip() == "held"
        # a maintenance entry lands while the OTHER process holds the
        # lease: the old base generation must survive
        merge_into_mor(spark, root, _chg(spark, [(2, 22.0, "a", False)]))
        assert old_bases(), "cross-process lease must defer the sweep"
        # clean release in the other process, then the next entry sweeps
        proc.stdin.write("\n")
        proc.stdin.close()
        proc.wait(timeout=30)
    finally:
        if proc.poll() is None:
            proc.kill()
    merge_into_mor(spark, root, _chg(spark, [(3, 33.0, "b", False)]))
    assert not old_bases()


def test_lease_tmp_race_and_staged_compaction_recovery(spark, mor_table):
    """Round-16 advice hardening, three behaviors pinned:
    (a) a YOUNG lease ``.tmp`` (another reader's in-flight
    write→replace pair) survives the lease check — only an old one is
    swept, and the sweep tolerates the file vanishing mid-removal;
    (b) compaction stages under a dotted name: crash debris from a
    half-written compaction is swept even under a live lease (it was
    never readable) and never collides with a later generation;
    (c) a crashed compaction's POST-rename base dir (unpublished,
    lease-held) does not block the next compact_mor — the generation
    derivation skips to the first free number."""
    import time

    from pulsar_cdc_experiment_spark.plans.mor import (
        _has_active_lease,
        read_lease,
    )

    root = mor_table
    merge_into_mor(spark, root, _chg(spark, [(1, 100.0, "b", False)]))

    # (a) young tmp survives; old tmp is swept
    ldir = os.path.join(root, MOR, "leases")
    os.makedirs(ldir, exist_ok=True)
    young = os.path.join(ldir, "lease-1-inflight.json.tmp")
    with open(young, "w") as f:
        json.dump({"expires": time.time() + 600, "pid": 1}, f)
    assert not _has_active_lease(root)  # tmp is not an acquired lease
    assert os.path.exists(young), "young .tmp must survive the sweep"
    old = os.path.join(ldir, "lease-2-dead.json.tmp")
    with open(old, "w") as f:
        f.write("{}")
    os.utime(old, (time.time() - 3600, time.time() - 3600))
    assert not _has_active_lease(root)
    assert not os.path.exists(old), "aged .tmp is crashed-reader debris"
    os.remove(young)

    # (b) dotted compaction staging sweeps even under a live lease
    with read_lease(root, ttl_sec=600):
        debris = os.path.join(root, ".base-000009.staging")
        os.makedirs(debris)
        merge_into_mor(spark, root, _chg(spark, [(2, 22.0, "a", False)]))
        assert not os.path.exists(debris)

        # (c) a crashed compaction's post-rename dir is lease-held;
        # the next compaction must skip past it, not errorifexists-fail
        man = json.load(open(os.path.join(root, MOR, "manifest.json")))
        gen = int(man["base"].split("-")[1]) + 1
        crashed = os.path.join(root, f"base-{gen:06d}")
        os.makedirs(crashed)  # unpublished: manifest never moved
        rep = compact_mor(spark, root)
        assert rep["base"] != os.path.basename(crashed)
        assert _state(spark, root) == _state(spark, root, rep["base_seq"])

    # lease released: next maintenance sweeps both the crashed dir and
    # the pre-compaction generation
    merge_into_mor(spark, root, _chg(spark, [(3, 33.0, "b", False)]))
    man = json.load(open(os.path.join(root, MOR, "manifest.json")))
    bases = [d for d in os.listdir(root) if d.startswith("base-")]
    assert bases == [man["base"]]


def test_read_mor_snapshot_is_grace_window_safe(spark, mor_table):
    """read_mor_snapshot wires the lease and the plan together: the
    yielded DataFrame stays materializable — with the AS-OF-ENTRY
    values — across a compaction and further merges landing inside the
    block; after exit the next entry sweeps the retained generation."""
    from pulsar_cdc_experiment_spark.plans.mor import read_mor_snapshot

    root = mor_table
    merge_into_mor(spark, root, _chg(
        spark, [(1, 100.0, "b", False), (2, 2.0, "a", True)]
    ))
    want = _state(spark, root)

    def old_bases():
        cur = json.load(open(os.path.join(root, MOR, "manifest.json")))
        return [
            d for d in os.listdir(root)
            if d.startswith("base-") and d != cur["base"]
        ]

    with read_mor_snapshot(spark, root) as snap:
        compact_mor(spark, root)
        merge_into_mor(spark, root, _chg(spark, [(7, 77.0, "a", False)]))
        assert old_bases(), "lease must hold the grace window"
        got = {(r["k"], r["v"], r["p"]) for r in snap.collect()}
        assert got == want  # as-of-entry state, not the merged one
    merge_into_mor(spark, root, _chg(spark, [(8, 88.0, "b", False)]))
    assert not old_bases()


def test_read_mor_scan_relations_constant_in_sequence_count(spark, mor_table):
    """Round-20 (r19 verdict #3): the overlay read is ONE base scan +
    ONE partitioned delta-root scan + ONE multi-path delete-sidecar
    scan — the physical plan's parquet-scan relation count must NOT
    grow with the number of retained sequences (the pre-r20 per-seq
    unionByName chain minted one scan relation per sequence, charging
    every consumer O(sequences) driver-side analysis)."""

    def n_scans(root):
        df = read_mor(spark, root)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "simple"
        )
        return sum(
            1 for line in plan.splitlines()
            if "FileScan parquet" in line or "Scan parquet" in line
        )

    merge_into_mor(spark, mor_table, _chg(spark, [(1, 10.0, "a", False)]))
    after_one = n_scans(mor_table)
    for i in range(4):
        merge_into_mor(
            spark, mor_table,
            _chg(spark, [(30 + i, float(i), "b", False),
                         (2 + i, 99.0 + i, "a", False)]),
        )
    after_five = n_scans(mor_table)
    assert after_five == after_one, (after_one, after_five)
    # and the data still folds correctly across all five sequences
    state = _state(spark, mor_table)
    assert (1, 10.0, "a") in state and (33, 3.0, "b") in state

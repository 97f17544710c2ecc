"""plans/mv.py join-bearing MVs + MoR-bound streaming maintenance
(round 16): star-join rollups served from an incrementally maintained
summary. Guarantees the driver oracle cannot see: join-topology
matching, per-source staleness (a moved DIM invalidates the summary),
the dA⋈dB correction under simultaneous fact+dim churn, plan evidence
the served query never re-runs the join, and the sequence-clock
catch-up semantics of maintain_mv_from_mor (no-op when caught up,
fail-loud when compaction ate the span)."""

from __future__ import annotations

import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from pulsar_cdc_experiment_spark.plans.mv import (
    answer_aggregate,
    answer_join_aggregate,
    bind_mv_to_mor,
    create_join_mv,
    create_mv,
    maintain_join_mv,
    maintain_mv_from_mor,
    mv_data_dir,
)


def _direct(joined, cols):
    return {
        tuple(r[c] for c in cols): (r["sv"], r["n"], r["mn"], r["mx"])
        for r in joined.groupBy(*cols).agg(
            F.sum("v").alias("sv"), F.count("*").alias("n"),
            F.min("v").alias("mn"), F.max("v").alias("mx"),
        ).collect()
    }


AGGS = {
    "sv": ("sum", "v"), "n": ("count", None),
    "mn": ("min", "v"), "mx": ("max", "v"),
}


def _none_first(row):
    """Sort key for rows that may hold NULLs: NULL sorts first."""
    return tuple((x is not None, x) for x in row)


DIM_ROWS = [
    (1, "a"), (2, "a"), (3, "b"), (4, "b"), (5, "c"), (6, "c"),
    (7, "a"), (8, "a"),  # 7/8 have no fact rows yet
]


def _join_env(spark, dim_rows):
    base = tempfile.mkdtemp(prefix="mvj_")
    fact_path = os.path.join(base, "fact")
    dim_path = os.path.join(base, "dim")
    fact_rows = [(k, (k * 13) % 97) for k in range(1, 7)]  # fk, v
    spark.createDataFrame(
        fact_rows, "fk bigint, v bigint"
    ).write.parquet(fact_path)
    spark.createDataFrame(
        dim_rows, "fk bigint, g string"
    ).write.parquet(dim_path)
    mv_root = os.path.join(base, "mvs")
    fact = spark.read.parquet(fact_path)
    dim = spark.read.parquet(dim_path)
    create_join_mv(
        spark, mv_root, name="jm", fact=fact, fact_path=fact_path,
        dims=[(dim, dim_path, ["fk"])], group_cols=["g"], measures=AGGS,
    )
    return spark, base, mv_root, fact_path, dim_path, fact_rows, dim_rows


@pytest.fixture()
def join_env(spark):
    env = _join_env(spark, DIM_ROWS)
    yield env
    shutil.rmtree(env[1], ignore_errors=True)


@pytest.fixture()
def null_group_join_env(spark):
    """join_env with dim group ``g`` NULL for fk 3 and 4 (a NULL
    group value is one group, as ``groupBy`` makes it)."""
    env = _join_env(
        spark, [(k, None if k in (3, 4) else g) for k, g in DIM_ROWS]
    )
    yield env
    shutil.rmtree(env[1], ignore_errors=True)


def test_join_mv_serves_topology_and_staleness(join_env):
    """Fresh join MV serves the rollup (values = direct join recompute,
    plan never re-reads fact or dim); non-subsumable groups fall back;
    a topology mismatch (different join keys) falls back; a MOVED DIM
    makes the MV invisible — dim attributes are part of the answer."""
    spark, base, mv_root, fact_path, dim_path, *_ = join_env
    fact = spark.read.parquet(fact_path)
    dim = spark.read.parquet(dim_path)
    dims = [(dim, dim_path, ["fk"])]

    df, used = answer_join_aggregate(
        spark, mv_root, fact, fact_path, dims,
        group_cols=["g"], aggs=AGGS,
    )
    assert used == "jm"
    assert {
        (r["g"],): (r["sv"], r["n"], r["mn"], r["mx"])
        for r in df.collect()
    } == _direct(fact.join(dim, ["fk"]), ["g"])
    files = df.inputFiles()
    assert files and all("/mvs/jm/data-" in f for f in files), files

    # group on a non-MV column → base join, correct values
    df2, used2 = answer_join_aggregate(
        spark, mv_root, fact, fact_path, dims,
        group_cols=["fk"], aggs={"sv": ("sum", "v")},
    )
    assert used2 is None and df2.count() == 6

    # different join keys = different query → never served
    dim2 = dim.withColumnRenamed("fk", "other")
    _, used3 = answer_join_aggregate(
        spark, mv_root, fact.withColumnRenamed("fk", "other"),
        fact_path, [(dim2, dim_path, ["other"])],
        group_cols=["g"], aggs={"sv": ("sum", "v")},
    )
    assert used3 is None

    # a dim edit flips staleness even though the FACT is untouched
    spark.createDataFrame(
        [(9, "a")], "fk bigint, g string"
    ).write.mode("append").parquet(dim_path)
    dim3 = spark.read.parquet(dim_path)
    df4, used4 = answer_join_aggregate(
        spark, mv_root, fact, fact_path, [(dim3, dim_path, ["fk"])],
        group_cols=["g"], aggs=AGGS,
    )
    assert used4 is None
    assert {
        (r["g"],): (r["sv"], r["n"], r["mn"], r["mx"])
        for r in df4.collect()
    } == _direct(fact.join(dim3, ["fk"]), ["g"])


def test_join_mv_incremental_maintenance_with_dadb_overlap(join_env):
    """Simultaneous fact + dim changesets, including the dA⋈dB shape —
    a fact row INSERTED for a key whose dim row MOVES group in the same
    batch (the phantom only the z·z correction cancels) — plus a risky
    extremum delete. The maintained MV equals a full recompute of the
    post-change join and serves again."""
    spark, base, mv_root, fact_path, dim_path, fact_rows, dim_rows = (
        join_env
    )
    fact_pre = spark.createDataFrame(fact_rows, "fk bigint, v bigint")
    dim_pre = spark.createDataFrame(dim_rows, "fk bigint, g string")

    # fact changes: delete fk=1 (v=13 — "a"'s min: risky), update fk=3
    # (v 39→140 — new max for "b"), insert fk=7 (dim stays "a"), and
    # insert fk=8 WHILE dim moves 8 from "a"→"b" (the dA⋈dB overlap)
    v = {k: (k * 13) % 97 for k in range(1, 7)}
    d_fact = spark.createDataFrame(
        [(1, v[1], -1), (3, v[3], -1), (3, 140, 1), (7, 70, 1),
         (8, 80, 1)],
        "fk bigint, v bigint, __z long",
    )
    d_dim = spark.createDataFrame(
        [(8, "a", -1), (8, "b", 1)], "fk bigint, g string, __z long"
    )

    new_fact_rows = [
        (k, vv) for k, vv in v.items() if k != 1 and k != 3
    ] + [(3, 140), (7, 70), (8, 80)]
    new_dim_rows = [(fk, g) for fk, g in dim_rows if fk != 8] + [(8, "b")]
    fact_new = spark.createDataFrame(new_fact_rows, "fk bigint, v bigint")
    dim_new = spark.createDataFrame(new_dim_rows, "fk bigint, g string")
    # land the changes physically so the fingerprints move
    fact_new.write.mode("overwrite").parquet(fact_path)
    dim_new.write.mode("overwrite").parquet(dim_path)

    joined_new = fact_new.join(dim_new, ["fk"])
    maintain_join_mv(
        spark, mv_root, "jm",
        fact_pre=fact_pre, d_fact=d_fact,
        dims=[(dim_pre, d_dim, ["fk"])],
        base_new=joined_new.select("g", "v"),
    )
    df, used = answer_join_aggregate(
        spark, mv_root,
        spark.read.parquet(fact_path), fact_path,
        [(spark.read.parquet(dim_path), dim_path, ["fk"])],
        group_cols=["g"], aggs=AGGS,
    )
    assert used == "jm"
    got = {
        (r["g"],): (r["sv"], r["n"], r["mn"], r["mx"])
        for r in df.collect()
    }
    assert got == _direct(joined_new, ["g"]), got
    # the overlap row must sit in "b" (naive two-term maintenance
    # would have credited "a"): fk 3 (now 140), fk 4, and moved fk 8
    assert got[("b",)][1] == 3
    assert got[("b",)][0] == 140 + (4 * 13) % 97 + 80


def test_pruned_star_base_equals_plain(join_env):
    """pruned_star_base is a pure optimization: maintaining with the
    lazily-pruned base (each star side semi-filtered to the risky
    groups before the join) yields byte-identical partials to the
    plain post-change-join base — on a changeset whose delete DOES hit
    a stored extremum, so the recompute leg actually runs through the
    pruned build. Covers fact-borne AND dim-borne group columns
    (pruning on g pushes to the dim; the fact prunes via the pruned
    dim's keys)."""
    _assert_pruned_equals_plain(join_env)


def test_pruned_star_base_keeps_null_groups(null_group_join_env):
    """The same equality when the deleted extremum is the NULL group's
    (dim g NULL for fk 3 and 4): the pruned build's per-side
    semi-joins must match the risky NULL group, or the recompute leg
    gets no rows and the group vanishes from the MV."""
    got = _assert_pruned_equals_plain(null_group_join_env)
    assert any(row[0] is None for row in got), got


def _assert_pruned_equals_plain(env):
    """Delete group b's max (fk 4; group NULL in the NULL-group env)
    through maintain_join_mv with a pruned_star_base base, then compare
    the stored partials with refresh_mv over the full post-change join.
    Returns the maintained partials."""
    from pulsar_cdc_experiment_spark.plans.mv import pruned_star_base

    spark, base, mv_root, fact_path, dim_path, fact_rows, dim_rows = env
    fact_pre = spark.createDataFrame(fact_rows, "fk bigint, v bigint")
    dim_pre = spark.createDataFrame(dim_rows, "fk bigint, g string")
    v = {k: (k * 13) % 97 for k in range(1, 7)}
    # delete "b"'s max (fk=4 has v=52, fk=3 has v=39 → max is fk 4)
    b_max_k = max((3, 4), key=lambda k: v[k])
    d_fact = spark.createDataFrame(
        [(b_max_k, v[b_max_k], -1), (9, 9, 1)],
        "fk bigint, v bigint, __z long",
    )
    new_fact_rows = [
        (k, vv) for k, vv in v.items() if k != b_max_k
    ] + [(9, 9)]
    new_dim_rows = dim_rows + [(9, "c")]
    fact_new = spark.createDataFrame(new_fact_rows, "fk bigint, v bigint")
    dim_new = spark.createDataFrame(new_dim_rows, "fk bigint, g string")
    fact_new.write.mode("overwrite").parquet(fact_path)
    dim_new.write.mode("overwrite").parquet(dim_path)

    d_dim = spark.createDataFrame(
        [(9, "c", 1)], "fk bigint, g string, __z long"
    )
    maintain_join_mv(
        spark, mv_root, "jm",
        fact_pre=fact_pre, d_fact=d_fact,
        dims=[(dim_pre, d_dim, ["fk"])],
        base_new=pruned_star_base(fact_new, [(dim_new, ["fk"])], ["g"]),
    )
    got = sorted(map(tuple, spark.read.parquet(
        mv_data_dir(mv_root, "jm")
    ).collect()), key=_none_first)
    # plain reference: full post-change join, same fold
    from pulsar_cdc_experiment_spark.plans.mv import refresh_mv

    refresh_mv(spark, mv_root, "jm", fact_new.join(dim_new, ["fk"]))
    want = sorted(map(tuple, spark.read.parquet(
        mv_data_dir(mv_root, "jm")
    ).collect()), key=_none_first)
    assert got == want
    return got


def test_maintain_join_mv_fail_loud_preconditions(join_env):
    spark, base, mv_root, fact_path, dim_path, fact_rows, dim_rows = (
        join_env
    )
    fact_pre = spark.createDataFrame(fact_rows, "fk bigint, v bigint")
    dim_pre = spark.createDataFrame(dim_rows, "fk bigint, g string")
    with pytest.raises(ValueError, match="no changeset"):
        maintain_join_mv(
            spark, mv_root, "jm", fact_pre=fact_pre, d_fact=None,
            dims=[(dim_pre, None, ["fk"])],
            base_new=fact_pre.join(dim_pre, ["fk"]).select("g", "v"),
        )
    with pytest.raises(ValueError, match="topology"):
        maintain_join_mv(
            spark, mv_root, "jm", fact_pre=fact_pre,
            d_fact=spark.createDataFrame(
                [(1, 1, 1)], "fk bigint, v bigint, __z long"
            ),
            dims=[(dim_pre, None, ["other"])],
            base_new=fact_pre.join(dim_pre, ["fk"]).select("g", "v"),
        )
    # a non-join MV refuses maintain_join_mv
    create_mv(
        spark, mv_root, name="plain", source_path=fact_path,
        source=spark.read.parquet(fact_path), group_cols=["fk"],
        measures={"sv": ("sum", "v")},
    )
    with pytest.raises(ValueError, match="not a join MV"):
        maintain_join_mv(
            spark, mv_root, "plain", fact_pre=fact_pre,
            d_fact=spark.createDataFrame(
                [(1, 1, 1)], "fk bigint, v bigint, __z long"
            ),
            dims=[], base_new=fact_pre,
        )


def test_maintain_join_mv_from_mor(spark):
    """The fully-automated star-join-summary loop: a join MV whose FACT
    is a merge-on-read table rides its sequence clock — catch-up cuts
    the table's own change feed, joins it through the STATIC dims
    (pre-state probe = MoR time travel), folds, and records the
    sequence. Pins: no-op when caught up, a span covering two merges
    (incl. a risky group-max delete) folded once and equal to a direct
    recompute, fail-loud when a dim moved without a changeset, and
    fail-loud when compaction ate the span."""
    from pulsar_cdc_experiment_spark.plans.mor import (
        compact_mor,
        init_mor,
        merge_into_mor,
        read_mor,
    )
    from pulsar_cdc_experiment_spark.plans.mv import (
        maintain_join_mv_from_mor,
    )

    base = tempfile.mkdtemp(prefix="mvj_mor_")
    root = os.path.join(base, "t")
    dim_path = os.path.join(base, "dim")
    rows = [(k, (k * 11) % 50, f"p{k % 4}") for k in range(24)]
    init_mor(
        spark, root,
        spark.createDataFrame(rows, "k bigint, v bigint, p string"),
        keys=["k"], partition_col="p",
    )
    manifest = os.path.join(root, ".mor", "manifest.json")
    # static dim: partition -> group (p0/p1 -> ga, p2/p3 -> gb)
    spark.createDataFrame(
        [("p0", "ga"), ("p1", "ga"), ("p2", "gb"), ("p3", "gb")],
        "p string, g string",
    ).write.parquet(dim_path)
    dim = spark.read.parquet(dim_path)
    mv_root = os.path.join(base, "mvs")
    fact_src = read_mor(spark, root).select("p", "v")
    create_join_mv(
        spark, mv_root, name="jmor", fact=fact_src, fact_path=manifest,
        dims=[(dim, dim_path, ["p"])], group_cols=["g"], measures=AGGS,
    )
    bind_mv_to_mor(mv_root, "jmor", root)

    def project(df):
        cols = ["p", "v"]
        if "change_type" in df.columns:
            cols = ["change_type"] + cols
        return df.select(*cols)

    dims = [(dim, ["p"])]
    rep = maintain_join_mv_from_mor(spark, mv_root, "jmor", project, dims)
    assert rep == {"applied_seq": 0, "folded": False}

    def chg(rows):
        return spark.createDataFrame(
            rows, "k bigint, v bigint, p string, is_delete boolean"
        )

    # merge 1 deletes ga's actual max row (risky) + an update;
    # merge 2 inserts; ONE catch-up spans both
    v = {k: (k * 11) % 50 for k in range(24)}
    ga_max_k = max(
        (k for k in range(24) if k % 4 in (0, 1)),
        key=lambda k: (v[k], k),
    )
    merge_into_mor(spark, root, chg(
        [(ga_max_k, v[ga_max_k], f"p{ga_max_k % 4}", True),
         (2, 99, "p2", False)]
    ))
    merge_into_mor(spark, root, chg([(100, 77, "p1", False)]))
    src_now = read_mor(spark, root).select("p", "v")
    _, used_stale = answer_join_aggregate(
        spark, mv_root, src_now, manifest, [(dim, dim_path, ["p"])],
        group_cols=["g"], aggs=AGGS,
    )
    assert used_stale is None
    rep2 = maintain_join_mv_from_mor(
        spark, mv_root, "jmor", project, dims
    )
    assert rep2 == {"applied_seq": 2, "folded": True}
    df, used = answer_join_aggregate(
        spark, mv_root, src_now, manifest, [(dim, dim_path, ["p"])],
        group_cols=["g"], aggs=AGGS,
    )
    assert used == "jmor"
    assert {
        (r["g"],): (r["sv"], r["n"], r["mn"], r["mx"])
        for r in df.collect()
    } == _direct(src_now.join(dim, ["p"]), ["g"])

    # compaction past the applied floor fails loud
    merge_into_mor(spark, root, chg([(101, 5, "p3", False)]))
    compact_mor(spark, root)
    with pytest.raises(RuntimeError, match="compacted away"):
        maintain_join_mv_from_mor(spark, mv_root, "jmor", project, dims)

    # a dim that moved without a changeset fails loud (checked FIRST —
    # folding a fact delta through a silently-changed dim credits the
    # wrong groups)
    spark.createDataFrame(
        [("p9", "gz")], "p string, g string"
    ).write.mode("append").parquet(dim_path)
    with pytest.raises(RuntimeError, match="STATIC dims"):
        maintain_join_mv_from_mor(spark, mv_root, "jmor", project, dims)
    # ...and every refused publish left the MV stale, not wrong
    _, used3 = answer_join_aggregate(
        spark, mv_root, read_mor(spark, root).select("p", "v"),
        manifest, [(spark.read.parquet(dim_path), dim_path, ["p"])],
        group_cols=["g"], aggs=AGGS,
    )
    assert used3 is None
    shutil.rmtree(base, ignore_errors=True)


def test_bind_and_maintain_mv_from_mor(spark):
    """The streaming half of CDC→table→summary: the MV rides the MoR
    table's SEQUENCE clock. Catch-up folds exactly the unapplied span
    (spanning several merges at once), a caught-up call is a metadata
    no-op, re-calling after redelivery-style re-merges stays exact, and
    a compaction that ate the span fails loud instead of folding from
    the wrong floor."""
    from pulsar_cdc_experiment_spark.plans.mor import (
        compact_mor,
        init_mor,
        merge_into_mor,
        read_mor,
    )

    base = tempfile.mkdtemp(prefix="mv_morbind_")
    root = os.path.join(base, "t")
    rows = [(k, (k * 11) % 50, "p1" if k % 2 == 0 else "p2")
            for k in range(20)]
    init_mor(
        spark, root,
        spark.createDataFrame(rows, "k bigint, v bigint, p string"),
        keys=["k"], partition_col="p",
    )
    manifest = os.path.join(root, ".mor", "manifest.json")
    mv_root = os.path.join(base, "mvs")
    src = read_mor(spark, root).select("p", "v")
    create_mv(
        spark, mv_root, name="by_p", source_path=manifest, source=src,
        group_cols=["p"],
        measures={"sv": ("sum", "v"), "n": ("count", None),
                  "mx": ("max", "v")},
    )
    bind_mv_to_mor(mv_root, "by_p", root)

    def project(df):
        cols = ["p", "v"]
        if "change_type" in df.columns:
            cols = ["change_type"] + cols
        return df.select(*cols)

    # caught up: metadata no-op
    rep = maintain_mv_from_mor(spark, mv_root, "by_p", project)
    assert rep == {"applied_seq": 0, "folded": False}

    def chg(rows):
        return spark.createDataFrame(
            rows, "k bigint, v bigint, p string, is_delete boolean"
        )

    # two merges, ONE catch-up spanning both — the first deletes p1's
    # actual max row (the risky branch mid-stream), plus an update and
    # an insert
    v = {k: (k * 11) % 50 for k in range(20)}
    p1_max_k = max(
        (k for k in range(20) if k % 2 == 0), key=lambda k: (v[k], k)
    )
    merge_into_mor(spark, root, chg(
        [(p1_max_k, v[p1_max_k], "p1", True), (3, 99, "p2", False)]
    ))
    merge_into_mor(spark, root, chg([(100, 77, "p1", False)]))
    aggs = {"sv": ("sum", "v"), "n": ("count", None), "mx": ("max", "v")}
    src_now = read_mor(spark, root).select("p", "v")
    _, used_stale = answer_aggregate(
        spark, mv_root, src_now, manifest, group_cols=["p"], aggs=aggs
    )
    assert used_stale is None
    rep2 = maintain_mv_from_mor(spark, mv_root, "by_p", project)
    assert rep2 == {"applied_seq": 2, "folded": True}
    df, used = answer_aggregate(
        spark, mv_root, src_now, manifest, group_cols=["p"], aggs=aggs
    )
    assert used == "by_p"
    want = {
        r["p"]: (r["sv"], r["n"], r["mx"])
        for r in src_now.groupBy("p").agg(
            F.sum("v").alias("sv"), F.count("*").alias("n"),
            F.max("v").alias("mx"),
        ).collect()
    }
    assert {
        r["p"]: (r["sv"], r["n"], r["mx"]) for r in df.collect()
    } == want

    # compaction past the applied floor fails loud
    merge_into_mor(spark, root, chg([(101, 5, "p2", False)]))
    compact_mor(spark, root)
    with pytest.raises(RuntimeError, match="compacted away"):
        maintain_mv_from_mor(spark, mv_root, "by_p", project)


def test_join_grouping_constructs_served_pinned(spark):
    """ROLLUP / CUBE / GROUPING SETS over a star join served ENTIRELY
    from a join MV's partials (answer_join_grouping_sets over
    rollup_sets / cube_sets / explicit sets) — every level equals the
    base join's native construct; non-subsumed requests and a moved
    dim fall back to the base. The winning manifest is pinned once per
    request: serving plans only ever scan the MV data generation."""
    import tempfile as _tf

    from pulsar_cdc_experiment_spark.plans.mv import (
        answer_join_grouping_sets,
        cube_sets,
        rollup_sets,
    )

    base = _tf.mkdtemp(prefix="mvjg_")
    try:
        fact_path = os.path.join(base, "fact")
        dim_path = os.path.join(base, "dim")
        spark.createDataFrame(
            [(k, (k * 13) % 97, (k * 13) % 2) for k in range(1, 40)],
            "fk bigint, v bigint, pbit bigint",
        ).write.parquet(fact_path)
        spark.createDataFrame(
            [(k, ["a", "b", "c"][k % 3]) for k in range(1, 40)],
            "fk bigint, g string",
        ).write.parquet(dim_path)
        fact = spark.read.parquet(fact_path)
        dim = spark.read.parquet(dim_path)
        mv_root = os.path.join(base, "mvs")
        create_join_mv(
            spark, mv_root, name="jg", fact=fact, fact_path=fact_path,
            dims=[(dim, dim_path, ["fk"])],
            group_cols=["g", "pbit"], measures=AGGS,
        )
        dims = [(dim, dim_path, ["fk"])]
        joined = fact.join(dim, ["fk"])

        def rows(df):
            # None-safe sort key: rolled-away levels carry NULL markers
            return sorted(
                (
                    (r["g"], r["pbit"], r["sv"], r["n"], r["mn"], r["mx"])
                    for r in df.collect()
                ),
                key=lambda t: tuple(
                    (x is None, 0 if x is None else x) for x in t
                ),
            )

        meas = [
            F.sum("v").alias("sv"), F.count("*").alias("n"),
            F.min("v").alias("mn"), F.max("v").alias("mx"),
        ]
        # ROLLUP — all levels served from the MV, values == native
        df, used = answer_join_grouping_sets(
            spark, mv_root, fact, fact_path, dims,
            sets=rollup_sets(["g", "pbit"]), aggs=AGGS,
        )
        assert used == "jg"
        assert rows(df) == rows(joined.rollup("g", "pbit").agg(*meas))
        files = df.inputFiles()
        assert files and all("/mvs/jg/data-" in f for f in files), files

        # CUBE under a predicate on an MV group column
        df, used = answer_join_grouping_sets(
            spark, mv_root, fact, fact_path, dims,
            sets=cube_sets(["g", "pbit"]),
            aggs=AGGS, where=[("g", "!=", "a")],
        )
        assert used == "jg"
        assert rows(df) == rows(
            joined.filter(F.col("g") != "a").cube("g", "pbit").agg(*meas)
        )

        # arbitrary GROUPING SETS
        df, used = answer_join_grouping_sets(
            spark, mv_root, fact, fact_path, dims,
            sets=[["g"], ["pbit"]], aggs=AGGS,
        )
        assert used == "jg"
        assert rows(df) == rows(
            joined.groupingSets([["g"], ["pbit"]], "g", "pbit").agg(*meas)
        )

        # non-subsumed rollup (fk not an MV group col) falls back
        df, used = answer_join_grouping_sets(
            spark, mv_root, fact, fact_path, dims,
            sets=rollup_sets(["fk"]), aggs=AGGS,
        )
        assert used is None
        nkey = lambda t: tuple(  # noqa: E731
            (x is None, 0 if x is None else x) for x in t
        )
        assert sorted(
            ((r["fk"], r["sv"]) for r in df.collect()), key=nkey
        ) == sorted(
            ((r["fk"], r["sv"])
             for r in joined.rollup("fk").agg(*meas).collect()),
            key=nkey,
        )

        # a moved dim makes the whole hierarchy fall back (stale dim
        # attributes must never serve)
        spark.createDataFrame(
            [(99, "zz")], "fk bigint, g string"
        ).coalesce(1).write.mode("append").parquet(dim_path)
        dim2 = spark.read.parquet(dim_path)
        df, used = answer_join_grouping_sets(
            spark, mv_root, fact, fact_path,
            [(dim2, dim_path, ["fk"])],
            sets=rollup_sets(["g", "pbit"]), aggs=AGGS,
        )
        assert used is None
        assert rows(df) == rows(
            fact.join(dim2, ["fk"]).rollup("g", "pbit").agg(*meas)
        )
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_hll_measure_composes_with_join_mv_rollup(spark):
    """Round-17 composition pin: an approx_distinct sketch partial in a
    JOIN MV serves through the grouping-construct path — every rollup
    level unions the stored sketches (exact at this cardinality), the
    star join re-run by nobody."""
    import tempfile as _tf

    from pulsar_cdc_experiment_spark.plans.mv import (
        answer_join_grouping_sets,
        rollup_sets,
    )

    base = _tf.mkdtemp(prefix="mvjh_")
    try:
        fact_path = os.path.join(base, "fact")
        dim_path = os.path.join(base, "dim")
        spark.createDataFrame(
            [(k % 30, k % 17) for k in range(900)],
            "fk bigint, u bigint",
        ).write.parquet(fact_path)
        spark.createDataFrame(
            [(k, ["a", "b", "c"][k % 3]) for k in range(30)],
            "fk bigint, g string",
        ).write.parquet(dim_path)
        fact = spark.read.parquet(fact_path)
        dim = spark.read.parquet(dim_path)
        mv_root = os.path.join(base, "mvs")
        create_join_mv(
            spark, mv_root, name="jh", fact=fact, fact_path=fact_path,
            dims=[(dim, dim_path, ["fk"])], group_cols=["g"],
            measures={"du": ("approx_distinct", "u"),
                      "n": ("count", None)},
        )
        df, used = answer_join_grouping_sets(
            spark, mv_root, fact, fact_path,
            [(dim, dim_path, ["fk"])],
            sets=rollup_sets(["g"]),
            aggs={"du": ("approx_distinct", "u"),
                  "n": ("count", None)},
        )
        assert used == "jh"
        joined = fact.join(dim, ["fk"])
        want = {
            (r["g"],): (r["du"], r["n"])
            for r in joined.rollup("g").agg(
                F.countDistinct("u").alias("du"),
                F.count("*").alias("n"),
            ).collect()
        }
        got = {(r["g"],): (r["du"], r["n"]) for r in df.collect()}
        assert got == want
        files = df.inputFiles()
        assert files and all("/mvs/jh/data-" in f for f in files), files
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_join_live_serve_compensates_stale_join_mv(spark):
    """Round-17 answer_join_aggregate_live: a stale MoR-bound JOIN MV
    serves fresh star-join rollups by composing stored partials with
    the unapplied fact span's join-view delta lazily (star_join_delta
    over the change feed, time travel as the pre-state probe) — MV
    files byte-untouched; a risky group-max delete recomputes through
    pruned_star_base inside the plan; a MOVED DIM falls back (no fact
    feed compensates attribute reassignment), as does a purge."""
    import tempfile as _tf

    from pulsar_cdc_experiment_spark.plans.mor import (
        init_mor,
        merge_into_mor,
        purge_keys_mor,
        read_mor,
    )
    from pulsar_cdc_experiment_spark.plans.mv import (
        answer_join_aggregate_live,
    )

    base = _tf.mkdtemp(prefix="mvj_live_")
    try:
        fact_root = os.path.join(base, "fact")
        dim_path = os.path.join(base, "dim")
        mv_root = os.path.join(base, "mvs")
        manifest = os.path.join(fact_root, ".mor", "manifest.json")
        init_mor(
            spark, fact_root,
            spark.createDataFrame(
                [(k, k % 30, (k * 13) % 500, ["p", "q"][k % 2])
                 for k in range(300)],
                "k bigint, fk bigint, cents bigint, part string",
            ),
            keys=["k"], partition_col="part",
        )
        spark.createDataFrame(
            [(k, ["a", "b", "c"][k % 3]) for k in range(30)],
            "fk bigint, g string",
        ).write.parquet(dim_path)
        dim = spark.read.parquet(dim_path)

        def fact_project(df):
            cols = [F.col("fk"), F.col("cents")]
            if "change_type" in df.columns:
                cols = [F.col("change_type")] + cols
            return df.select(*cols)

        fact0 = fact_project(
            read_mor(spark, fact_root).withColumn(
                "change_type", F.lit("insert")
            )
        ).drop("change_type")
        create_join_mv(
            spark, mv_root, name="jlv", fact=fact0,
            fact_path=manifest, dims=[(dim, dim_path, ["fk"])],
            group_cols=["g"],
            measures={"sum_cents": ("sum", "cents"),
                      "n": ("count", None), "mx": ("max", "cents")},
        )
        bind_mv_to_mor(mv_root, "jlv", fact_root)
        aggs = {"sum_cents": ("sum", "cents"), "n": ("count", None),
                "mx": ("max", "cents")}

        def exact_now():
            j = fact_project(
                read_mor(spark, fact_root).withColumn(
                    "change_type", F.lit("insert")
                )
            ).drop("change_type").join(dim, ["fk"])
            return {
                r["g"]: (r["s"], r["n"], r["m"])
                for r in j.groupBy("g").agg(
                    F.sum("cents").alias("s"),
                    F.count("*").alias("n"),
                    F.max("cents").alias("m"),
                ).collect()
            }

        def serve():
            df, mode = answer_join_aggregate_live(
                spark, mv_root, "jlv", fact_project,
                [(dim, ["fk"])], group_cols=["g"], aggs=aggs,
            )
            return {
                r["g"]: (r["sum_cents"], r["n"], r["mx"])
                for r in df.collect()
            }, mode

        got, mode = serve()
        assert mode == "mv" and got == exact_now()

        # a merge lands: delete group a's max contributor + inserts;
        # NO catch-up — live serve compensates, MV untouched
        man_bytes = open(
            os.path.join(mv_root, "jlv", "mv.json")
        ).read()
        j = read_mor(spark, fact_root).join(dim, ["fk"])
        amax = (
            j.filter(F.col("g") == "a")
            .orderBy(F.col("cents").desc(), F.col("k").desc())
            .limit(1).collect()[0]
        )
        merge_into_mor(spark, fact_root, spark.createDataFrame(
            [(amax["k"], amax["fk"], amax["cents"], amax["part"], True),
             (9001, 3, 499, "p", False)],
            "k bigint, fk bigint, cents bigint, part string, "
            "is_delete boolean",
        ))
        got, mode = serve()
        assert mode == "mv_delta" and got == exact_now()
        assert open(
            os.path.join(mv_root, "jlv", "mv.json")
        ).read() == man_bytes

        # a moved dim cannot be compensated by the fact feed
        spark.createDataFrame(
            [(99, "zz")], "fk bigint, g string"
        ).coalesce(1).write.mode("append").parquet(dim_path)
        dim2 = spark.read.parquet(dim_path)
        df, mode = answer_join_aggregate_live(
            spark, mv_root, "jlv", fact_project,
            [(dim2, ["fk"])], group_cols=["g"], aggs=aggs,
        )
        assert mode is None
        j2 = fact_project(
            read_mor(spark, fact_root).withColumn(
                "change_type", F.lit("insert")
            )
        ).drop("change_type").join(dim2, ["fk"])
        want = {
            r["g"]: (r["s"], r["n"], r["m"])
            for r in j2.groupBy("g").agg(
                F.sum("cents").alias("s"), F.count("*").alias("n"),
                F.max("cents").alias("m"),
            ).collect()
        }
        assert {
            r["g"]: (r["sum_cents"], r["n"], r["mx"])
            for r in df.collect()
        } == want

        # purge bumps the mutation counter: fallback even with the
        # original dim
        purge_keys_mor(
            spark, fact_root,
            spark.createDataFrame([(9001,)], "k bigint"),
        )
        # restore the original dim state for the topology check
        spark.createDataFrame(
            [(k, ["a", "b", "c"][k % 3]) for k in range(30)],
            "fk bigint, g string",
        ).write.mode("overwrite").parquet(dim_path)
        dim3 = spark.read.parquet(dim_path)
        df, mode = answer_join_aggregate_live(
            spark, mv_root, "jlv", fact_project,
            [(dim3, ["fk"])], group_cols=["g"], aggs=aggs,
        )
        assert mode is None  # moved dim AND purge — both force base
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_join_live_hierarchy_serves_from_one_compose(spark):
    """Round-18: ROLLUP over a star join served LIVE from a stale
    MoR-bound join MV — every level from the SAME stored ⊕
    unapplied-join-view-delta compose; values equal the native rollup
    over the CURRENT star join; MV files byte-untouched; a moved dim
    falls back to native with mode None."""
    import tempfile as _tf

    from pulsar_cdc_experiment_spark.plans.mor import (
        init_mor,
        merge_into_mor,
        read_mor,
    )
    from pulsar_cdc_experiment_spark.plans.mv import (
        answer_join_grouping_sets_live,
        rollup_sets,
    )

    base = _tf.mkdtemp(prefix="mvj_lh_")
    try:
        fact_root = os.path.join(base, "fact")
        dim_path = os.path.join(base, "dim")
        mv_root = os.path.join(base, "mvs")
        manifest = os.path.join(fact_root, ".mor", "manifest.json")
        init_mor(
            spark, fact_root,
            spark.createDataFrame(
                [(k, k % 30, ["u", "v"][k % 2], (k * 13) % 500,
                  ["p", "q"][k % 2])
                 for k in range(300)],
                "k bigint, fk bigint, pri string, cents bigint, "
                "part string",
            ),
            keys=["k"], partition_col="part",
        )
        spark.createDataFrame(
            [(k, ["a", "b", "c"][k % 3]) for k in range(30)],
            "fk bigint, g string",
        ).write.parquet(dim_path)
        dim = spark.read.parquet(dim_path)

        def fact_project(df):
            cols = [F.col("fk"), F.col("pri"), F.col("cents")]
            if "change_type" in df.columns:
                cols = [F.col("change_type")] + cols
            return df.select(*cols)

        fact0 = fact_project(
            read_mor(spark, fact_root).withColumn(
                "change_type", F.lit("insert")
            )
        ).drop("change_type")
        create_join_mv(
            spark, mv_root, name="jlh", fact=fact0,
            fact_path=manifest, dims=[(dim, dim_path, ["fk"])],
            group_cols=["g", "pri"],
            measures={"sum_cents": ("sum", "cents"),
                      "n": ("count", None), "mx": ("max", "cents")},
        )
        bind_mv_to_mor(mv_root, "jlh", fact_root)
        aggs = {"sum_cents": ("sum", "cents"), "n": ("count", None),
                "mx": ("max", "cents")}

        def native():
            j = fact_project(
                read_mor(spark, fact_root).withColumn(
                    "change_type", F.lit("insert")
                )
            ).drop("change_type").join(dim, ["fk"])
            return {
                (r["g"], r["pri"]): (r["sum_cents"], r["n"], r["mx"])
                for r in j.rollup("g", "pri").agg(
                    F.sum("cents").alias("sum_cents"),
                    F.count("*").alias("n"),
                    F.max("cents").alias("mx"),
                ).collect()
            }

        def serve(d):
            df, mode = answer_join_grouping_sets_live(
                spark, mv_root, "jlh", fact_project, [(d, ["fk"])],
                sets=rollup_sets(["g", "pri"]), aggs=aggs,
            )
            return {
                (r["g"], r["pri"]): (r["sum_cents"], r["n"], r["mx"])
                for r in df.collect()
            }, mode

        got, mode = serve(dim)
        assert mode == "mv" and got == native()

        # a merge lands — delete group (a,*)'s overall max (risky) +
        # insert — NO catch-up; every rollup level compensates
        man_bytes = open(
            os.path.join(mv_root, "jlh", "mv.json")
        ).read()
        j = read_mor(spark, fact_root).join(dim, ["fk"])
        amax = (
            j.filter(F.col("g") == "a")
            .orderBy(F.col("cents").desc(), F.col("k").desc())
            .limit(1).collect()[0]
        )
        merge_into_mor(spark, fact_root, spark.createDataFrame(
            [(amax["k"], amax["fk"], amax["pri"], amax["cents"],
              amax["part"], True),
             (9001, 3, "u", 499, "p", False)],
            "k bigint, fk bigint, pri string, cents bigint, "
            "part string, is_delete boolean",
        ))
        got, mode = serve(dim)
        assert mode == "mv_delta" and got == native()
        assert open(
            os.path.join(mv_root, "jlh", "mv.json")
        ).read() == man_bytes

        # moved dim: native fallback at every level, mode None
        spark.createDataFrame(
            [(99, "zz")], "fk bigint, g string"
        ).coalesce(1).write.mode("append").parquet(dim_path)
        dim2 = spark.read.parquet(dim_path)
        got, mode = serve(dim2)
        j2 = fact_project(
            read_mor(spark, fact_root).withColumn(
                "change_type", F.lit("insert")
            )
        ).drop("change_type").join(dim2, ["fk"])
        want = {
            (r["g"], r["pri"]): (r["sum_cents"], r["n"], r["mx"])
            for r in j2.rollup("g", "pri").agg(
                F.sum("cents").alias("sum_cents"),
                F.count("*").alias("n"),
                F.max("cents").alias("mx"),
            ).collect()
        }
        assert mode is None and got == want
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_join_policy_router_full_matrix(spark):
    """Round-18 answer_join_aggregate_policied: the same zero-job
    manifest-only policy, executed with the join verbs — fresh 'mv';
    stale-within-span 'live'; span past threshold 'maintain' (one
    maintain_join_mv_from_mor fold, then fresh); a MOVED dim degrades
    to 'base' regardless of seq arithmetic. Every route returns the
    fresh star-join values."""
    import tempfile as _tf

    from pulsar_cdc_experiment_spark.plans.mor import (
        init_mor,
        merge_into_mor,
        read_mor,
    )
    from pulsar_cdc_experiment_spark.plans.mv import (
        answer_join_aggregate_policied,
    )

    base = _tf.mkdtemp(prefix="mvj_pol_")
    try:
        fact_root = os.path.join(base, "fact")
        dim_path = os.path.join(base, "dim")
        mv_root = os.path.join(base, "mvs")
        manifest = os.path.join(fact_root, ".mor", "manifest.json")
        init_mor(
            spark, fact_root,
            spark.createDataFrame(
                [(k, k % 20, (k * 13) % 500, ["p", "q"][k % 2])
                 for k in range(200)],
                "k bigint, fk bigint, cents bigint, part string",
            ),
            keys=["k"], partition_col="part",
        )
        spark.createDataFrame(
            [(k, ["a", "b"][k % 2]) for k in range(20)],
            "fk bigint, g string",
        ).write.parquet(dim_path)
        dim = spark.read.parquet(dim_path)

        def fact_project(df):
            cols = [F.col("fk"), F.col("cents")]
            if "change_type" in df.columns:
                cols = [F.col("change_type")] + cols
            return df.select(*cols)

        fact0 = fact_project(
            read_mor(spark, fact_root).withColumn(
                "change_type", F.lit("insert")
            )
        ).drop("change_type")
        create_join_mv(
            spark, mv_root, name="jp", fact=fact0,
            fact_path=manifest, dims=[(dim, dim_path, ["fk"])],
            group_cols=["g"],
            measures={"sum_cents": ("sum", "cents"),
                      "n": ("count", None)},
        )
        bind_mv_to_mor(mv_root, "jp", fact_root)
        aggs = {"sum_cents": ("sum", "cents"), "n": ("count", None)}

        def exact_now(d):
            j = fact_project(
                read_mor(spark, fact_root).withColumn(
                    "change_type", F.lit("insert")
                )
            ).drop("change_type").join(d, ["fk"])
            return {
                r["g"]: (r["s"], r["n"])
                for r in j.groupBy("g").agg(
                    F.sum("cents").alias("s"),
                    F.count("*").alias("n"),
                ).collect()
            }

        def serve(d, **kw):
            df, action = answer_join_aggregate_policied(
                spark, mv_root, "jp", fact_project, [(d, ["fk"])],
                group_cols=["g"], aggs=aggs, **kw,
            )
            got = {r["g"]: (r["sum_cents"], r["n"])
                   for r in df.collect()}
            assert got == exact_now(d), action
            return action

        assert serve(dim) == "mv"
        merge_into_mor(spark, fact_root, spark.createDataFrame(
            [(9001, 3, 111, "p", False)],
            "k bigint, fk bigint, cents bigint, part string, "
            "is_delete boolean",
        ))
        assert serve(dim) == "live"
        merge_into_mor(spark, fact_root, spark.createDataFrame(
            [(9002, 4, 5, "q", False)],
            "k bigint, fk bigint, cents bigint, part string, "
            "is_delete boolean",
        ))
        assert serve(dim, max_live_span=1) == "maintain"
        assert serve(dim) == "mv"  # caught up

        # moved dim: base, even with fresh seq arithmetic — and the
        # maintain route must NOT fold through the moved dim
        spark.createDataFrame(
            [(99, "zz")], "fk bigint, g string"
        ).coalesce(1).write.mode("append").parquet(dim_path)
        dim2 = spark.read.parquet(dim_path)
        merge_into_mor(spark, fact_root, spark.createDataFrame(
            [(9003, 5, 7, "p", False)],
            "k bigint, fk bigint, cents bigint, part string, "
            "is_delete boolean",
        ))
        assert serve(dim2, max_live_span=0) == "base"
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_mvs_snapshot_join_panel_pins_boundary(spark):
    """Round-18 MvsSnapshot.aggregate_join: a dashboard mixing a PLAIN
    MV panel and a JOIN-MV panel over one MoR fact reads both at ONE
    pinned boundary — a merge landing between the two panel builds is
    invisible to both; the join panel's compose cuts its join-view
    delta exactly to the boundary."""
    import tempfile as _tf

    from pulsar_cdc_experiment_spark.plans.mor import (
        init_mor,
        merge_into_mor,
        read_mor,
    )
    from pulsar_cdc_experiment_spark.plans.mv import (
        create_mv,
        read_mvs_snapshot,
    )

    base = _tf.mkdtemp(prefix="mvj_snap_")
    try:
        fact_root = os.path.join(base, "fact")
        dim_path = os.path.join(base, "dim")
        mv_root = os.path.join(base, "mvs")
        manifest = os.path.join(fact_root, ".mor", "manifest.json")
        init_mor(
            spark, fact_root,
            spark.createDataFrame(
                [(k, k % 20, ["u", "v"][k % 2], (k * 13) % 500)
                 for k in range(200)],
                "k bigint, fk bigint, pri string, cents bigint",
            ),
            keys=["k"], partition_col="pri",
        )
        spark.createDataFrame(
            [(k, ["a", "b"][k % 2]) for k in range(20)],
            "fk bigint, g string",
        ).write.parquet(dim_path)
        dim = spark.read.parquet(dim_path)

        def plain_project(df):
            cols = [F.col("pri"), F.col("cents")]
            if "change_type" in df.columns:
                cols = [F.col("change_type")] + cols
            return df.select(*cols)

        def fact_project(df):
            cols = [F.col("fk"), F.col("cents")]
            if "change_type" in df.columns:
                cols = [F.col("change_type")] + cols
            return df.select(*cols)

        create_mv(
            spark, mv_root, name="by_pri", source_path=manifest,
            source=plain_project(
                read_mor(spark, fact_root).withColumn(
                    "change_type", F.lit("insert")
                )
            ).drop("change_type"),
            group_cols=["pri"],
            measures={"sum_cents": ("sum", "cents"),
                      "n": ("count", None)},
        )
        bind_mv_to_mor(mv_root, "by_pri", fact_root)
        create_join_mv(
            spark, mv_root, name="by_g",
            fact=fact_project(
                read_mor(spark, fact_root).withColumn(
                    "change_type", F.lit("insert")
                )
            ).drop("change_type"),
            fact_path=manifest, dims=[(dim, dim_path, ["fk"])],
            group_cols=["g"],
            measures={"sum_cents": ("sum", "cents"),
                      "n": ("count", None)},
        )
        bind_mv_to_mor(mv_root, "by_g", fact_root)
        aggs = {"sum_cents": ("sum", "cents"), "n": ("count", None)}
        projects = {"by_pri": plain_project, "by_g": fact_project}

        # one merge before the snapshot: both MVs one seq behind
        merge_into_mor(spark, fact_root, spark.createDataFrame(
            [(9001, 3, "u", 111, False)],
            "k bigint, fk bigint, pri string, cents bigint, "
            "is_delete boolean",
        ))
        want_pri = {
            r["pri"]: (r["s"], r["n"])
            for r in read_mor(spark, fact_root).groupBy("pri").agg(
                F.sum("cents").alias("s"), F.count("*").alias("n")
            ).collect()
        }
        want_g = {
            r["g"]: (r["s"], r["n"])
            for r in read_mor(spark, fact_root).join(dim, ["fk"])
            .groupBy("g").agg(
                F.sum("cents").alias("s"), F.count("*").alias("n")
            ).collect()
        }
        with read_mvs_snapshot(
            spark, mv_root, ["by_pri", "by_g"], projects
        ) as snap:
            df1, m1 = snap.aggregate(
                "by_pri", group_cols=["pri"], aggs=aggs
            )
            got1 = {r["pri"]: (r["sum_cents"], r["n"])
                    for r in df1.collect()}
            # mid-read merge: must be invisible to the join panel
            merge_into_mor(spark, fact_root, spark.createDataFrame(
                [(9002, 4, "v", 999, False)],
                "k bigint, fk bigint, pri string, cents bigint, "
                "is_delete boolean",
            ))
            df2, m2 = snap.aggregate_join(
                "by_g", [(dim, ["fk"])], group_cols=["g"], aggs=aggs
            )
            got2 = {r["g"]: (r["sum_cents"], r["n"])
                    for r in df2.collect()}
        assert m1 == "mv_delta" and m2 == "mv_delta"
        assert got1 == want_pri
        assert got2 == want_g, (
            "join panel must not see the mid-read merge"
        )
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_derived_group_keys_reach_the_join_family(spark):
    """Round-18: derived group keys (the time-dimension hierarchy)
    over JOIN MVs — the fresh serve, the pinned hierarchy, and the
    LIVE compose all serve a bucket-of-stored-key request by re-keying
    the summary's group values; a derivation whose input is not an MV
    group column falls back to the base star join. Values equal the
    direct join at every step."""
    import tempfile as _tf

    from pulsar_cdc_experiment_spark.plans.mor import (
        init_mor,
        merge_into_mor,
        read_mor,
    )
    from pulsar_cdc_experiment_spark.plans.mv import (
        answer_join_aggregate,
        answer_join_grouping_sets,
        answer_join_grouping_sets_live,
        rollup_sets,
    )

    base = _tf.mkdtemp(prefix="mvj_drv_")
    try:
        fact_root = os.path.join(base, "fact")
        dim_path = os.path.join(base, "dim")
        mv_root = os.path.join(base, "mvs")
        manifest = os.path.join(fact_root, ".mor", "manifest.json")
        init_mor(
            spark, fact_root,
            spark.createDataFrame(
                [(k, k % 30, (k * 7) % 100, (k * 13) % 500,
                  ["p", "q"][k % 2])
                 for k in range(300)],
                "k bigint, fk bigint, bucketable bigint, cents bigint, "
                "part string",
            ),
            keys=["k"], partition_col="part",
        )
        spark.createDataFrame(
            [(k, ["a", "b", "c"][k % 3]) for k in range(30)],
            "fk bigint, g string",
        ).write.parquet(dim_path)
        dim = spark.read.parquet(dim_path)

        def fact_project(df):
            cols = [F.col("fk"), F.col("bucketable"), F.col("cents")]
            if "change_type" in df.columns:
                cols = [F.col("change_type")] + cols
            return df.select(*cols)

        def fact_now():
            return fact_project(
                read_mor(spark, fact_root).withColumn(
                    "change_type", F.lit("insert")
                )
            ).drop("change_type")

        create_join_mv(
            spark, mv_root, name="jd", fact=fact_now(),
            fact_path=manifest, dims=[(dim, dim_path, ["fk"])],
            group_cols=["g", "bucketable"],
            measures={"sum_cents": ("sum", "cents"),
                      "n": ("count", None)},
        )
        bind_mv_to_mor(mv_root, "jd", fact_root)
        aggs = {"sum_cents": ("sum", "cents"), "n": ("count", None)}
        derived = {"bkt": ("bucket", "bucketable", 25)}
        dims = [(dim, dim_path, ["fk"])]

        def direct(rollup=False):
            j = fact_now().join(dim, ["fk"]).withColumn(
                "bkt", F.floor(F.col("bucketable") / 25) * 25
            )
            agg = [F.sum("cents").alias("sum_cents"),
                   F.count("*").alias("n")]
            d = (j.rollup("g", "bkt") if rollup
                 else j.groupBy("g", "bkt")).agg(*agg)
            return {
                (r["g"], r["bkt"]): (r["sum_cents"], r["n"])
                for r in d.collect()
            }

        def rows_of(df):
            return {
                (r["g"], r["bkt"]): (r["sum_cents"], r["n"])
                for r in df.collect()
            }

        # fresh serve, re-keyed from the stored group values
        df, used = answer_join_aggregate(
            spark, mv_root, fact_now(), manifest, dims,
            group_cols=["g", "bkt"], aggs=aggs, derived=derived,
        )
        assert used == "jd" and rows_of(df) == direct()

        # pinned hierarchy with the derived key
        df, used = answer_join_grouping_sets(
            spark, mv_root, fact_now(), manifest, dims,
            sets=rollup_sets(["g", "bkt"]),
            aggs=aggs, derived=derived,
        )
        assert used == "jd" and rows_of(df) == direct(rollup=True)

        # non-derivable input (cents is a measure, not a group col):
        # base fallback, same values
        df, used = answer_join_aggregate(
            spark, mv_root, fact_now(), manifest, dims,
            group_cols=["g", "c2"], aggs={"n": ("count", None)},
            derived={"c2": ("bucket", "cents", 100)},
        )
        assert used is None

        # a merge lands with NO catch-up: the LIVE hierarchy re-keys
        # the composed partials
        merge_into_mor(spark, fact_root, spark.createDataFrame(
            [(9001, 3, 10, 499, "p", False),
             (9002, 4, 60, 7, "q", False)],
            "k bigint, fk bigint, bucketable bigint, cents bigint, "
            "part string, is_delete boolean",
        ))
        def fact_project_live(df):
            return fact_project(df)

        df, mode = answer_join_grouping_sets_live(
            spark, mv_root, "jd", fact_project_live, [(dim, ["fk"])],
            sets=rollup_sets(["g", "bkt"]),
            aggs=aggs, derived=derived,
        )
        assert mode == "mv_delta" and rows_of(df) == direct(rollup=True)
    finally:
        shutil.rmtree(base, ignore_errors=True)

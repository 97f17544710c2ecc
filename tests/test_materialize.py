"""CDC latest-state materialization tests (SURVEY.md §2 B5/C27)."""

from __future__ import annotations

from pyspark.sql import functions as F

from pulsar_cdc_experiment_spark.operators.materialize import (
    latest_by_key,
    latest_state,
)
from pulsar_cdc_experiment_spark.sources.cdc import parse_envelopes

from .fixtures_cdc import sample_json_lines


def _envelopes(spark):
    raw = spark.createDataFrame([(s,) for s in sample_json_lines()], ["value"])
    return parse_envelopes(raw).drop("_raw")


def test_latest_state_folds_history(spark):
    env = _envelopes(spark)
    state = latest_state(env, key_cols=["after.id"])
    rows = {r["after"]["id"]: r for r in state.collect()}
    # id=1 folded to last update (lsn 300)
    assert rows[1]["after"]["name"] == "Alice B"
    assert rows[1]["source"]["lsn"] == 300
    # id=3 deleted → absent
    assert 3 not in rows
    # snapshot-only key survives
    assert rows[2]["after"]["name"] == "Bob"
    # unknown-op row still folds by key
    assert 6 in rows
    assert set(rows) == {1, 2, 4, 5, 6}


def test_latest_state_keep_tombstones(spark):
    env = _envelopes(spark)
    state = latest_state(env, key_cols=["after.id"], drop_deletes=False)
    by_key = {
        (r["after"] or r["before"])["id"]: r["op"] for r in state.collect()
    }
    assert by_key[3] == "d"  # tombstone visible when requested


def test_latest_by_key_on_events_table(spark, sf_dir):
    from pulsar_cdc_experiment_spark.sources.tables import table

    events = table(spark, sf_dir, "events")
    latest = latest_by_key(events, ["user_id"], ["ts", "event_id"])
    assert latest.count() == events.select("user_id").distinct().count()
    # spot-check one user against a plain SQL max
    row = latest.orderBy("user_id").first()
    expect = (
        events.filter(F.col("user_id") == row["user_id"])
        .orderBy(F.col("ts").desc(), F.col("event_id").desc())
        .first()
    )
    assert row["event_id"] == expect["event_id"]


def test_asof_join_semantics(spark):
    from pulsar_cdc_experiment_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [(1, 10, "p1"), (1, 25, "p2"), (1, 5, "p0"), (2, 50, "q1"), (3, 7, "r1")],
        ["k", "t", "ev"],
    )
    right = spark.createDataFrame(
        [(1, 5, "sA"), (1, 20, "sB"), (2, 50, "sC")], ["k", "rt", "state"]
    )
    out = {
        r["ev"]: r["state"]
        for r in asof_join(left, right, "k", "t", "rt").collect()
    }
    assert out == {
        "p0": "sA",   # tie: rt == t matches (<=)
        "p1": "sA",
        "p2": "sB",   # latest at-or-before 25
        "q1": "sC",   # equal-ts tie on another key
        "r1": None,   # key with no right rows
    }
    fwd = {
        r["ev"]: r["state"]
        for r in asof_join(left, right, "k", "t", "rt", direction="forward").collect()
    }
    assert fwd == {"p0": "sA", "p1": "sB", "p2": None, "q1": "sC", "r1": None}


def test_asof_join_rejoin_mode_matches_carry_and_keeps_sort_thin(spark):
    """payload_mode='rejoin' (round-13 verdict #4): identical semantics
    to the default carry mode for backward/forward/tolerance, while the
    window's sort buffer carries only (row id, right ts) — the right
    payload never enters a struct in the union/window subtree, it
    re-joins after the carry. Matters for wide right sides (the
    reference's enrichment envelope shape)."""
    from pulsar_cdc_experiment_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [(1, 10, "p1"), (1, 25, "p2"), (1, 5, "p0"), (2, 50, "q1"), (3, 7, "r1")],
        ["k", "t", "ev"],
    )
    right = spark.createDataFrame(
        [
            (1, 5, "sA", "wide_payload_A" * 3),
            (1, 20, "sB", "wide_payload_B" * 3),
            (2, 50, "sC", "wide_payload_C" * 3),
        ],
        ["k", "rt", "state", "blob"],
    )
    for kwargs in ({}, {"direction": "forward"}):
        carry = asof_join(left, right, "k", "t", "rt", **kwargs)
        rejoin = asof_join(
            left, right, "k", "t", "rt", payload_mode="rejoin", **kwargs
        )
        assert carry.columns == rejoin.columns, kwargs
        assert sorted(map(tuple, carry.collect())) == sorted(
            map(tuple, rejoin.collect())
        ), kwargs

    # tolerance path (timestamps — INTERVAL bounds are ts-typed)
    lts = left.withColumn("t", F.timestamp_seconds("t"))
    rts = right.withColumn("rt", F.timestamp_seconds("rt"))
    carry = asof_join(lts, rts, "k", "t", "rt", tolerance="6 SECONDS")
    rejoin = asof_join(
        lts, rts, "k", "t", "rt", tolerance="6 SECONDS",
        payload_mode="rejoin",
    )
    assert sorted(map(tuple, carry.collect())) == sorted(
        map(tuple, rejoin.collect())
    )

    # plan evidence: every struct built in the rejoin plan is payload-free
    # (the carry plan's struct holds the payload columns by design)
    rejoin = asof_join(left, right, "k", "t", "rt", payload_mode="rejoin")
    plan = rejoin._jdf.queryExecution().optimizedPlan().toString()
    structs = [l for l in plan.splitlines() if "struct(" in l]
    assert structs, "expected a carried struct in the plan"
    # the right-side carried struct holds only (__rid, __rt); payload
    # columns appear only in the post-carry join's projection
    assert all(
        "blob" not in l for l in structs if "__rt" in l or "__rid" in l
    ), structs
    carry_plan = (
        asof_join(left, right, "k", "t", "rt")
        ._jdf.queryExecution().optimizedPlan().toString()
    )
    assert any(
        "blob" in l for l in carry_plan.splitlines() if "struct(" in l
    )


def test_multi_table_materialization(spark):
    """B5 multi-table: one fold materializes every table in a mixed feed
    (schemaless envelopes), routable to per-table views afterwards."""
    import json

    from pulsar_cdc_experiment_spark.operators.materialize import (
        latest_state_multi_table,
    )
    from pulsar_cdc_experiment_spark.schemas import schemaless_envelope_schema
    from .fixtures_cdc import envelope, row

    t0 = 1637012345000
    mixed = [
        envelope("c", None, row(1, "Alice", "a@x.com"), 100, 1, t0),
        envelope("u", row(1, "Alice", "a@x.com"), row(1, "Alice2", "a@x.com"), 200, 2, t0 + 1000),
        # a second table: orders (different shape entirely — schemaless maps absorb it)
        {"before": None, "after": {"id": 7, "status": "OPEN"},
         "source": {**envelope("c", None, None, 150, 1, t0)["source"], "table": "orders", "lsn": 150},
         "op": "c", "ts_ms": t0},
        {"before": None, "after": {"id": 7, "status": "SHIPPED"},
         "source": {**envelope("c", None, None, 250, 2, t0)["source"], "table": "orders", "lsn": 250},
         "op": "u", "ts_ms": t0 + 500},
        {"before": {"id": 8, "status": "OPEN"}, "after": None,
         "source": {**envelope("c", None, None, 300, 3, t0)["source"], "table": "orders", "lsn": 300},
         "op": "d", "ts_ms": t0 + 800},
    ]
    raw = spark.createDataFrame([(json.dumps(m),) for m in mixed], ["value"])
    env = raw.select(
        F.from_json(F.col("value"), schemaless_envelope_schema()).alias("e")
    ).select("e.*")
    state = latest_state_multi_table(env)
    by_table = {}
    for r in state.collect():
        by_table.setdefault(r["source"]["table"], {})[r["after"]["id"]] = r
    assert by_table["customers"]["1"]["after"]["name"] == "Alice2"
    assert by_table["orders"]["7"]["after"]["status"] == "SHIPPED"
    assert "8" not in by_table["orders"]  # deleted
    # per-table routing: each table's state is a clean filter away
    customers = state.filter(F.col("source.table") == "customers")
    assert customers.count() == 1


def test_incremental_state_publish_is_single_atomic_pointer(spark, tmp_path):
    """State is published by one os.replace of a pointer file: after every
    batch the pointer names a fully-written directory, superseded dirs are
    gone, and an interrupted publish (stray tmp file) cannot corrupt the
    live state (round-1 advice: the old two-rename swap had a no-live-state
    window)."""
    import os

    from pulsar_cdc_experiment_spark.streaming.materialize import (
        IncrementalMaterializer,
    )

    d = str(tmp_path / "state")
    os.makedirs(d)
    m = IncrementalMaterializer(d, ["k"], ["v"])

    b0 = spark.createDataFrame([(1, 10), (2, 20)], ["k", "v"])
    m.process_batch(b0, 0)
    assert open(os.path.join(d, "CURRENT")).read().strip() == "state_0"
    assert {r["k"]: r["v"] for r in m.current_state(spark).collect()} == {1: 10, 2: 20}

    # a stray tmp pointer from a crashed publish must be ignored
    with open(os.path.join(d, ".CURRENT.tmp_99"), "w") as f:
        f.write("state_99")

    b1 = spark.createDataFrame([(1, 30)], ["k", "v"])
    m.process_batch(b1, 1)
    assert open(os.path.join(d, "CURRENT")).read().strip() == "state_1"
    assert {r["k"]: r["v"] for r in m.current_state(spark).collect()} == {1: 30, 2: 20}
    # superseded state dir GC'd after publication
    assert not os.path.exists(os.path.join(d, "state_0"))


def test_incremental_materializer_idempotent_on_redelivery(spark, tmp_path):
    """B1: foreachBatch re-delivery (the at-least-once failure mode — a
    crash after state publish but before checkpoint commit replays the
    batch) leaves state unchanged: the latest-by-key fold is idempotent,
    so replayed rows cannot double-apply."""
    import os

    from pulsar_cdc_experiment_spark.streaming.materialize import (
        IncrementalMaterializer,
    )

    d = str(tmp_path / "state")
    os.makedirs(d)
    m = IncrementalMaterializer(d, ["k"], ["lsn"])

    b0 = spark.createDataFrame([(1, 10, "a"), (2, 20, "b")], ["k", "lsn", "v"])
    m.process_batch(b0, 0)
    first = {(r["k"], r["lsn"], r["v"]) for r in m.current_state(spark).collect()}

    m.process_batch(b0, 0)  # replay of the SAME batch
    replayed = {(r["k"], r["lsn"], r["v"]) for r in m.current_state(spark).collect()}
    assert replayed == first

    b1 = spark.createDataFrame([(1, 30, "a2")], ["k", "lsn", "v"])
    m.process_batch(b1, 1)
    m.process_batch(b1, 1)  # and replay the update too
    final = {(r["k"], r["lsn"], r["v"]) for r in m.current_state(spark).collect()}
    assert final == {(1, 30, "a2"), (2, 20, "b")}
    # the replay must have staged into a DIFFERENT dir than the live one it
    # was reading (state_1 stays live until the attempt dir publishes)
    assert open(os.path.join(d, "CURRENT")).read().strip() == "state_1_r1"


def test_redelivery_crash_between_publish_and_commit(spark, tmp_path):
    """Injected crash in the exactly-once gap (B1), with AQE OFF.

    Sequence: batch 0 publishes state, then the job dies BEFORE the
    checkpoint commit (raise inside foreachBatch after process_batch
    returns). Restarting from the same checkpoint makes Structured
    Streaming redeliver batch 0 — the pointer file already names
    ``state_0``, so the replay must stage elsewhere while lazily reading
    the live dir (the round-3 ADVICE bug: staging INTO the live dir lets
    mode("overwrite") delete the input mid-scan; AQE masked it by
    materializing the fold's shuffle early, hence AQE disabled here).
    """
    import os

    from pulsar_cdc_experiment_spark.streaming.materialize import (
        IncrementalMaterializer,
    )

    src = str(tmp_path / "src")
    os.makedirs(src)
    spark.createDataFrame(
        [(1, 10, "a"), (1, 20, "a2"), (2, 5, "b")], ["k", "lsn", "v"]
    ).coalesce(1).write.mode("overwrite").parquet(src)

    d = str(tmp_path / "state")
    os.makedirs(d)
    ckpt = str(tmp_path / "ckpt")
    m = IncrementalMaterializer(d, ["k"], ["lsn"])
    crashed = {"done": False}

    def body(batch_df, batch_id):
        m.process_batch(batch_df, batch_id)
        if batch_id == 0 and not crashed["done"]:
            crashed["done"] = True
            raise RuntimeError("injected crash: after publish, before commit")

    def run():
        q = (
            spark.readStream.schema("k long, lsn long, v string")
            .parquet(src)
            .writeStream.foreachBatch(body)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    prev_aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        try:
            run()
        except Exception:
            pass  # the injected crash surfaces as StreamingQueryException
        assert crashed["done"], "injected crash never fired"
        # state WAS published before the crash
        assert open(os.path.join(d, "CURRENT")).read().strip() == "state_0"

        run()  # restart from the same checkpoint → batch 0 redelivered
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev_aqe)

    # exactly the batch fold — no loss (the mid-read overwrite would have
    # produced an empty/corrupt state), no double-apply
    final = {(r["k"], r["lsn"], r["v"]) for r in m.current_state(spark).collect()}
    assert final == {(1, 20, "a2"), (2, 5, "b")}
    # and the replay staged into an attempt dir, never the live target
    assert open(os.path.join(d, "CURRENT")).read().strip() == "state_0_r1"


def test_delta_fold_matches_recompute_with_group_migrations(spark):
    """The incremental identity on a handcrafted history with every change
    class: insert, same-group update, group-MIGRATING update (the case
    that exercises the -before/+after legs landing in different groups),
    delete, and re-insert after delete. Fold result must equal the naive
    latest-state recompute."""
    from pulsar_cdc_experiment_spark.operators.materialize import (
        delta_fold_group_agg,
    )

    # (key, seq, group, cents) chronological changes; None group = delete
    history = [
        (1, 1, "a", 100),   # insert
        (1, 2, "a", 250),   # update in place
        (1, 3, "b", 250),   # migrate a→b
        (2, 1, "a", 700),   # insert
        (2, 2, None, None), # delete
        (3, 1, "b", 40),    # insert
        (3, 2, "c", 45),    # migrate b→c
        (4, 1, "a", 10),    # insert
        (4, 2, None, None), # delete
        (4, 3, "c", 11),    # re-insert
    ]
    rows = []
    prev: dict[int, tuple] = {}
    for key, seq, grp, cents in history:
        b = prev.get(key, (None, None))
        rows.append((key, seq, b[0], b[1], grp, cents))
        prev[key] = (grp, cents)
    feed = spark.createDataFrame(
        rows, "key long, seq long, bg string, bv long, ag string, av long"
    )
    out = {
        r["g"]: (r["n_rows"], r["sum_value"])
        for r in delta_fold_group_agg(
            feed,
            before_group=F.col("bg"),
            before_value=F.col("bv"),
            after_group=F.col("ag"),
            after_value=F.col("av"),
        ).collect()
    }
    # final state: 1→(b,250), 2 deleted, 3→(c,45), 4→(c,11)
    assert out == {"b": (1, 250), "c": (2, 56)}
    # group 'a' netted to zero rows and was dropped, not emitted as (0, 0)
    assert "a" not in out


def test_snapshot_diff_composes_with_delta_fold(spark):
    """snapshot_diff(A,B) emits exactly the change events between two
    states, and folding those deltas reproduces agg(B) - agg(A) — the two
    operators are inverse faces of the same CDC algebra."""
    from pulsar_cdc_experiment_spark.operators.materialize import (
        delta_fold_group_agg,
        snapshot_diff,
    )

    a = spark.createDataFrame(
        [(1, "x", 10), (2, "x", 20), (3, "y", 30), (5, None, None)],
        "k long, g string, v long",
    )
    b = spark.createDataFrame(
        [(1, "x", 10), (2, "y", 25), (4, "x", 40), (5, None, None)],
        "k long, g string, v long",
    )
    diff = snapshot_diff(a, b, ["k"], ["g", "v"])
    ops = {r["k"]: r["op"] for r in diff.collect()}
    # 1 unchanged (absent), 2 migrated x→y, 3 deleted, 4 created,
    # 5 present in both with all-null compare cols: present+equal → absent
    assert ops == {2: "u", 3: "d", 4: "c"}

    folded = {
        r["g"]: (r["n_rows"], r["sum_value"])
        for r in delta_fold_group_agg(
            diff,
            before_group=F.col("before_g"),
            before_value=F.col("before_v"),
            after_group=F.col("after_g"),
            after_value=F.col("after_v"),
            drop_empty=False,
        ).collect()
    }
    # agg(B)-agg(A): x: (2,50)-(2,30)=(0,+20); y: (1,25)-(1,30)=(0,-5)
    assert folded == {"x": (0, 20), "y": (0, -5)}


def test_snapshot_diff_presence_only(spark):
    """Review regression: an EMPTY compare list is a membership diff —
    creates and deletes only, never updates, never a crash."""
    from pulsar_cdc_experiment_spark.operators.materialize import snapshot_diff

    a = spark.createDataFrame([(1,), (2,)], "k long")
    b = spark.createDataFrame([(2,), (3,)], "k long")
    out = {r["k"]: r["op"] for r in snapshot_diff(a, b, ["k"], []).collect()}
    assert out == {1: "d", 3: "c"}


# --- join_delta: the Z-set delta rule for join views -------------------------


def test_join_delta_equals_full_recompute_with_both_side_churn(spark):
    """d(A ⋈ B) folded into the old view must equal the patched join —
    randomized changesets that hit the SAME keys on both sides, the case
    the dA⋈dB correction term exists for."""
    import random

    from pyspark.sql import functions as F

    from pulsar_cdc_experiment_spark.operators.materialize import join_delta

    rng = random.Random(42)
    keys = list(range(30))
    a_rows = [(k, rng.randrange(100)) for k in keys for _ in range(rng.randrange(3))]
    b_rows = [(k, rng.randrange(100)) for k in keys for _ in range(rng.randrange(4))]
    a = spark.createDataFrame(a_rows, "k long, av long")
    b = spark.createDataFrame(b_rows, "k long, bv long")

    # deltas: delete a random subset of existing rows, insert fresh ones —
    # deliberately overlapping key sets between the two sides
    da_rows = [(k, v, -1) for (k, v) in a_rows if rng.random() < 0.4]
    da_rows += [(k, 1000 + i, 1) for i, k in enumerate(rng.choices(keys, k=12))]
    db_rows = [(k, v, -1) for (k, v) in b_rows if rng.random() < 0.4]
    db_rows += [(k, 2000 + i, 1) for i, k in enumerate(rng.choices(keys, k=15))]
    da = spark.createDataFrame(da_rows, "k long, av long, __z long")
    db = spark.createDataFrame(db_rows, "k long, bv long, __z long")

    def patched(rows, drows):
        from collections import Counter

        c = Counter(rows)
        for k, v, zz in drows:
            c[(k, v)] += zz
        assert all(n >= 0 for n in c.values())
        return [t for t, n in c.items() for _ in range(n)]

    a1 = spark.createDataFrame(patched(a_rows, da_rows), "k long, av long")
    b1 = spark.createDataFrame(patched(b_rows, db_rows), "k long, bv long")

    def agg(df, zcol=None):
        zc = F.col(zcol) if zcol else F.lit(1).cast("long")
        rows = df.groupBy("k").agg(
            F.sum(zc).alias("n"),
            F.sum(zc * (F.col("av") * 1000 + F.col("bv"))).alias("s"),
        ).collect()
        return {r.k: (r.n, r.s) for r in rows}

    old = agg(a.join(b, on=["k"]))
    new = agg(a1.join(b1, on=["k"]))
    dv = agg(join_delta(a, b, da, db, on=["k"]), zcol="__z")
    folded = {}
    for k in set(old) | set(dv):
        n = old.get(k, (0, 0))[0] + dv.get(k, (0, 0))[0]
        s = old.get(k, (0, 0))[1] + dv.get(k, (0, 0))[1]
        if n or s:
            folded[k] = (n, s)
    assert folded == {k: v for k, v in new.items() if v != (0, 0)}


def test_join_delta_correction_term_cancels_phantom(spark):
    """Parent deleted + child inserted in the same batch: without the
    dA⋈dB term the delta would net +1 phantom row; with it, zero."""
    from pyspark.sql import functions as F

    from pulsar_cdc_experiment_spark.operators.materialize import join_delta

    a = spark.createDataFrame([(1, 10)], "k long, av long")
    b = spark.createDataFrame([], "k long, bv long")
    da = spark.createDataFrame([(1, 10, -1)], "k long, av long, __z long")
    db = spark.createDataFrame([(1, 20, 1)], "k long, bv long, __z long")
    net = (
        join_delta(a, b, da, db, on=["k"])
        .agg(F.coalesce(F.sum("__z"), F.lit(0)).alias("z"))
        .collect()[0]
        .z
    )
    assert net == 0


def test_incremental_join_maintainer_multi_batch_and_redelivery(spark, tmp_path):
    """Three batches of both-side churn: the maintained view equals the
    batch join of the folded final states after every batch; redelivering
    a batch id is a no-op (AtomicStateDir guard)."""
    from pyspark.sql import functions as F

    from pulsar_cdc_experiment_spark.streaming.materialize import (
        IncrementalJoinMaintainer,
    )

    m = IncrementalJoinMaintainer(
        str(tmp_path / "st"), on=["k"], group_cols=["g"], measure_cols=["v"]
    )

    def da(rows):
        return spark.createDataFrame(rows, "k long, g string, __z long")

    def db(rows):
        return spark.createDataFrame(rows, "k long, v long, __z long")

    import itertools

    from collections import Counter

    a_state: Counter = Counter()
    b_state: Counter = Counter()
    batches = [
        ([(1, "x", 1), (2, "y", 1)], [(1, 10, 1), (1, 11, 1), (2, 20, 1)]),
        # k=2: parent deleted while a child arrives (correction term)
        ([(2, "y", -1)], [(2, 21, 1), (1, 10, -1)]),
        ([(3, "x", 1), (1, "x", -1), (1, "z", 1)], [(3, 30, 1)]),
    ]
    for bid, (ar, br) in enumerate(batches):
        m.process_batch(da(ar), db(br), bid)
        for k, g, z in ar:
            a_state[(k, g)] += z
        for k, v, z in br:
            b_state[(k, v)] += z
        want = Counter()
        for (ka, g), na in a_state.items():
            if na <= 0:
                continue
            for (kb, v), nb in b_state.items():
                if nb > 0 and ka == kb:
                    want[g] += na * nb * 1  # n
        got_rows = m.current_view(spark).collect()
        got = {r.g: (r.n, r.sum_v) for r in got_rows}
        want_full = {}
        for (ka, g), na in a_state.items():
            if na <= 0:
                continue
            for (kb, v), nb in b_state.items():
                if nb > 0 and ka == kb:
                    n, s = want_full.get(g, (0, 0))
                    want_full[g] = (n + na * nb, s + na * nb * v)
        assert got == want_full, f"batch {bid}"
    # redelivery of the last batch: state unchanged
    before = sorted(map(tuple, m.current_view(spark).collect()))
    m.process_batch(da(batches[-1][0]), db(batches[-1][1]), len(batches) - 1)
    assert sorted(map(tuple, m.current_view(spark).collect())) == before


def test_minmax_delta_maintain_randomized_vs_recompute(spark):
    """minmax_delta_maintain (round-13): randomized churn — inserts,
    plain deletes, extremum deletes (the risky branch), updates, a group
    emptied, and a brand-new group — must equal a full recompute of the
    patched base, group for group. Seeded; 3 trials."""
    import random

    from pulsar_cdc_experiment_spark.operators.materialize import (
        minmax_delta_maintain,
    )

    for seed in (7, 41, 1234):
        rng = random.Random(seed)
        base = [
            (g, i, rng.randrange(-500, 500))
            for g in range(6)
            for i in range(rng.randrange(3, 25))
        ]
        # unique synthetic row ids so deletes are unambiguous
        base = [
            (f"g{g}", g * 1000 + i, v) for (g, i, v) in base
        ]
        by_g: dict = {}
        for g, k, v in base:
            by_g.setdefault(g, {})[k] = v

        dels, ins, upd = [], [], []
        for g, rows in by_g.items():
            ks = sorted(rows)
            # delete the exact max of even groups (risky branch)
            if int(g[1:]) % 2 == 0:
                kmax = max(ks, key=lambda k: (rows[k], k))
                dels.append((g, kmax, rows[kmax]))
            # one random non-max delete
            others = [k for k in ks if (g, k, rows[k]) not in dels]
            if others:
                kd = rng.choice(others)
                dels.append((g, kd, rows[kd]))
            # one update (delete+insert pair on same key)
            left = [
                k for k in ks if all(k != dk for (_g, dk, _v) in dels)
            ]
            if left:
                ku = rng.choice(left)
                upd.append((g, ku, rows[ku], rng.randrange(-500, 500)))
            # one insert
            ins.append((g, max(ks) + 7, rng.randrange(-500, 500)))
        # empty group g5 entirely
        dels = [d for d in dels if d[0] != "g5"]
        upd = [u for u in upd if u[0] != "g5"]
        ins = [i2 for i2 in ins if i2[0] != "g5"]
        dels += [("g5", k, v) for k, v in by_g["g5"].items()]
        # brand-new group
        ins += [("g9", 9000 + j, rng.randrange(-500, 500)) for j in range(4)]

        def df(rows, extra=None):
            data = [
                r + ((extra,) if extra is not None else ())
                for r in rows
            ]
            schema = "g string, k long, v long" + (
                ", __z long" if extra is not None else ""
            )
            return spark.createDataFrame(data, schema)

        delta = (
            df(dels, extra=-1)
            .unionByName(df([(g, k, v0) for g, k, v0, _v1 in upd], extra=-1))
            .unionByName(df([(g, k, v1) for g, k, _v0, v1 in upd], extra=1))
            .unionByName(df(ins, extra=1))
        )
        new_rows = {}
        for g, k, v in base:
            new_rows[(g, k)] = v
        for g, k, v in dels:
            del new_rows[(g, k)]
        for g, k, _v0, v1 in upd:
            new_rows[(g, k)] = v1
        for g, k, v in ins:
            new_rows[(g, k)] = v
        base_new = df([(g, k, v) for (g, k), v in new_rows.items()])
        view = df(base).groupBy("g").agg(
            F.count("*").cast("long").alias("n_rows"),
            F.sum("v").cast("long").alias("sum_v"),
            F.min("v").alias("min_v"),
            F.max("v").alias("max_v"),
        )
        got = {
            r["g"]: (r["n_rows"], r["sum_v"], r["min_v"], r["max_v"])
            for r in minmax_delta_maintain(
                view, base_new, delta, ["g"], "v"
            ).collect()
        }
        want = {}
        for (g, _k), v in new_rows.items():
            n, s, mn, mx = want.get(g, (0, 0, None, None))
            want[g] = (
                n + 1,
                s + v,
                v if mn is None else min(mn, v),
                v if mx is None else max(mx, v),
            )
        # every group was touched by the batch, so got must equal want
        # exactly — including g5 ABSENT (emptied) and g9 present (new)
        assert got == want, (seed, got, want)
        assert "g5" not in got and "g9" in got


def test_mv_partial_delta_maintain_randomized_vs_recompute(spark):
    """mv_partial_delta_maintain (round-15): the multi-measure-column
    generalization under randomized churn — two value columns (one
    NULLABLE, exercising the non-null count partial; one with min/max,
    exercising the risky branch), inserts / plain deletes / extremum
    deletes / updates / an emptied group / a brand-new group — must
    equal a full recompute of the patched base, partial for partial.
    Seeded; 3 trials. Also pins that a batch with NO extremum delete
    returns the fold-only plan (precheck short-circuit) with the same
    values."""
    import random

    from pulsar_cdc_experiment_spark.operators.materialize import (
        mv_partial_delta_maintain,
    )

    spec = {"a": {"sum", "cnt"}, "b": {"min", "max"}}

    def df(rows, z=None):
        data = [r + ((z,) if z is not None else ()) for r in rows]
        schema = "g string, k long, a long, b long" + (
            ", __z long" if z is not None else ""
        )
        return spark.createDataFrame(data, schema)

    def recompute(rows):
        return {
            r["g"]: tuple(r)[1:]
            for r in df(rows).groupBy("g").agg(
                F.count("*").cast("long").alias("__cnt"),
                F.sum("a").cast("long").alias("__sum_a"),
                F.count("a").cast("long").alias("__cnt_a"),
                F.min("b").alias("__min_b"),
                F.max("b").alias("__max_b"),
            ).collect()
        }

    for seed in (3, 77, 2024):
        rng = random.Random(seed)

        def val_a(r=rng):
            return None if r.random() < 0.3 else r.randrange(-500, 500)

        base = [
            (f"g{g}", g * 1000 + i, val_a(), rng.randrange(-500, 500))
            for g in range(6)
            for i in range(rng.randrange(3, 25))
        ]
        rows_by_key = {(g, k): (a, b) for g, k, a, b in base}
        by_g: dict = {}
        for g, k, a, b in base:
            by_g.setdefault(g, []).append(k)

        dels, ins, upd = [], [], []
        for g, ks in by_g.items():
            if int(g[1:]) % 2 == 0:
                # delete the exact max-b row: the risky branch
                kmax = max(ks, key=lambda k: (rows_by_key[(g, k)][1], k))
                dels.append((g, kmax))
            others = [k for k in ks if (g, k) not in dels]
            if others:
                dels.append((g, rng.choice(others)))
            left = [k for k in ks if (g, k) not in dels]
            if left:
                upd.append((g, rng.choice(left), val_a(),
                            rng.randrange(-500, 500)))
            ins.append((g, max(ks) + 7, val_a(), rng.randrange(-500, 500)))
        dels = [d for d in dels if d[0] != "g5"]
        upd = [u for u in upd if u[0] != "g5"]
        ins = [i2 for i2 in ins if i2[0] != "g5"]
        dels += [("g5", k) for k in by_g["g5"]]
        ins += [("g9", 9000 + j, val_a(), rng.randrange(-500, 500))
                for j in range(4)]

        del_rows = [(g, k, *rows_by_key[(g, k)]) for g, k in dels]
        upd_pre = [(g, k, *rows_by_key[(g, k)]) for g, k, _a, _b in upd]
        upd_post = [(g, k, a, b) for g, k, a, b in upd]
        delta = (
            df(del_rows, z=-1)
            .unionByName(df(upd_pre, z=-1))
            .unionByName(df(upd_post, z=1))
            .unionByName(df(ins, z=1))
        )
        new_rows = dict(rows_by_key)
        for g, k in dels:
            del new_rows[(g, k)]
        for g, k, a, b in upd:
            new_rows[(g, k)] = (a, b)
        for g, k, a, b in ins:
            new_rows[(g, k)] = (a, b)
        patched = [(g, k, a, b) for (g, k), (a, b) in new_rows.items()]
        base_new = df(patched)
        data = df(base).groupBy("g").agg(
            F.count("*").cast("long").alias("__cnt"),
            F.sum("a").cast("long").alias("__sum_a"),
            F.count("a").cast("long").alias("__cnt_a"),
            F.min("b").alias("__min_b"),
            F.max("b").alias("__max_b"),
        )
        got = {
            r["g"]: (r["__cnt"], r["__sum_a"], r["__cnt_a"],
                     r["__min_b"], r["__max_b"])
            for r in mv_partial_delta_maintain(
                data, base_new,
                delta.select("g", "a", "b", "__z"),
                ["g"], spec, precheck_risky=True,
            ).collect()
        }
        want_full = recompute(patched)
        touched = {g for g, *_ in del_rows + upd_pre + upd_post + ins}
        want = {g: v for g, v in want_full.items() if g in touched}
        assert got == want, (seed, got, want)
        assert "g5" not in got and "g9" in got

    # fold-only short-circuit: inserts only → zero risky groups → the
    # returned plan must not reference base_new's scan at all
    base = [("g0", 1, 10, 100), ("g0", 2, None, 50)]
    data = df(base).groupBy("g").agg(
        F.count("*").cast("long").alias("__cnt"),
        F.sum("a").cast("long").alias("__sum_a"),
        F.count("a").cast("long").alias("__cnt_a"),
        F.min("b").alias("__min_b"),
        F.max("b").alias("__max_b"),
    )
    delta = df([("g0", 3, 7, 200)], z=1).select("g", "a", "b", "__z")
    marker = spark.createDataFrame(
        [("gX", 0, 0, 0)], "g string, k long, a long, b long"
    ).alias("__base_marker__")
    out = mv_partial_delta_maintain(
        data, marker, delta, ["g"], spec, precheck_risky=True
    )
    got = {r["g"]: tuple(r)[1:] for r in out.collect()}
    assert got == {"g0": (3, 17, 2, 50, 200)}
    # the fold-only plan omits the recompute leg entirely: no Union
    # (fold ∪ recomputed) and no scan of the base relation
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "Union" not in plan, plan
    assert "__base_marker__" not in plan, plan


def test_viewless_group_with_delete_is_risky(spark):
    """Round-15 ADVICE (medium): a changeset spanning several merge
    batches can contain a BRAND-NEW group's insert plus a delete of
    that same value. An insert-only fold would keep the deleted value
    as the stored extremum; both maintainers must instead recompute the
    group from the patched base. count/sum stay invertible either way
    — the assertion is on min/max."""
    from pulsar_cdc_experiment_spark.operators.materialize import (
        minmax_delta_maintain,
        mv_partial_delta_maintain,
    )

    # new group gN: insert 5, insert 90, delete 90 → correct max is 5
    delta = spark.createDataFrame(
        [("gN", 5, 1), ("gN", 90, 1), ("gN", 90, -1)],
        "g string, v long, __z long",
    )
    base_new = spark.createDataFrame(
        [("gN", 5)], "g string, v long"
    )
    view = spark.createDataFrame(
        [], "g string, n_rows long, sum_v long, min_v long, max_v long"
    )
    got = {
        r["g"]: (r["n_rows"], r["sum_v"], r["min_v"], r["max_v"])
        for r in minmax_delta_maintain(
            view, base_new, delta, ["g"], "v"
        ).collect()
    }
    assert got == {"gN": (1, 5, 5, 5)}, got

    data = spark.createDataFrame(
        [],
        "g string, __cnt long, __sum_v long, __min_v long, __max_v long",
    )
    got2 = {
        r["g"]: (r["__cnt"], r["__sum_v"], r["__min_v"], r["__max_v"])
        for r in mv_partial_delta_maintain(
            data, base_new, delta, ["g"],
            {"v": {"sum", "min", "max"}}, precheck_risky=True,
        ).collect()
    }
    assert got2 == {"gN": (1, 5, 5, 5)}, got2

    # sum/count-only spec: the view-less rule must NOT fire (the fold
    # is fully invertible) — same changeset, no recompute leg, and the
    # no-minmax static short-circuit still returns the right partials
    data_sc = spark.createDataFrame(
        [], "g string, __cnt long, __sum_v long"
    )
    got3 = {
        r["g"]: (r["__cnt"], r["__sum_v"])
        for r in mv_partial_delta_maintain(
            data_sc, base_new, delta, ["g"], {"v": {"sum"}},
        ).collect()
    }
    assert got3 == {"gN": (1, 5)}, got3


def test_extremum_fold_keeps_null_groups_whole(spark):
    """A NULL group value is one group: its stored row and its delta
    fold into one output row under both ``include_untouched`` modes,
    and a delete that reaches the NULL group's extremum recomputes it
    from the base. Groups are the composite (g, h), so each key column
    carries a NULL in some group."""
    from collections import Counter

    from pulsar_cdc_experiment_spark.operators.materialize import (
        minmax_delta_maintain,
        mv_partial_delta_maintain,
    )

    # stored groups: (NULL, x) over v {3, 7}; (a, NULL) over v {5}
    base_old = [(None, "x", 3), (None, "x", 7), ("a", None, 5)]
    bschema = "g string, h string, v long"
    data = spark.createDataFrame(base_old, bschema).groupBy("g", "h").agg(
        F.count("*").cast("long").alias("__cnt"),
        F.sum("v").cast("long").alias("__sum_v"),
        F.max("v").alias("__max_v"),
    )
    view = spark.createDataFrame(base_old, bschema).groupBy("g", "h").agg(
        F.count("*").cast("long").alias("n_rows"),
        F.sum("v").cast("long").alias("sum_v"),
        F.min("v").alias("min_v"),
        F.max("v").alias("max_v"),
    )
    insert = [(None, "x", 1, 1)]
    delete_max = [(None, "x", 7, -1)]
    cases = {
        "insert": (insert, base_old + [(None, "x", 1)]),
        "delete_max": (delete_max, base_old[:1] + base_old[2:]),
    }
    for name, (delta_rows, base_rows) in cases.items():
        delta = spark.createDataFrame(delta_rows, bschema + ", __z long")
        base_new = spark.createDataFrame(base_rows, bschema)
        sums = {}
        for g, h, v in base_rows:
            c, s, mn, mx = sums.get((g, h), (0, 0, v, v))
            sums[(g, h)] = (c + 1, s + v, min(mn, v), max(mx, v))
        touched = {(r[0], r[1]) for r in delta_rows}
        for untouched in (True, False):
            keep = [t for t in sums if untouched or t in touched]
            want_p = Counter(
                (*t, sums[t][0], sums[t][1], sums[t][3]) for t in keep
            )
            got_p = Counter(
                tuple(r)
                for r in mv_partial_delta_maintain(
                    data, base_new, delta, ["g", "h"],
                    {"v": {"sum", "max"}},
                    include_untouched=untouched,
                ).select("g", "h", "__cnt", "__sum_v", "__max_v").collect()
            )
            assert got_p == want_p, (name, untouched, got_p)
            want_m = Counter((*t, *sums[t]) for t in keep)
            got_m = Counter(
                tuple(r)
                for r in minmax_delta_maintain(
                    view, base_new, delta, ["g", "h"], "v",
                    include_untouched=untouched,
                ).select("g", "h", "n_rows", "sum_v", "min_v", "max_v")
                .collect()
            )
            assert got_m == want_m, (name, untouched, got_m)

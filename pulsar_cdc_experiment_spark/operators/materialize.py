"""CDC materialization — fold a change stream into latest row state (B5/C27).

The reference never materializes its CDC feed (its "result set" is the
enriched topic itself, reference scripts/verify.sh:404-407), but
materialization is the implied end-use of any CDC pipeline and the operator
that makes the feed *queryable*. Op semantics per reference
connectors/README.md:152-157: c=create, u=update, d=delete, r=snapshot read.

Determinism: Spark gives no implicit stream order, so ordering keys are
explicit — Postgres WAL LSN first (strictly increasing,
docs/setup-guide.md:85), then txId, then ts_ms (SURVEY.md §4 item 2).

Scale notes: the window fold shuffles once on the key — the minimal possible
for this semantics. At 100 TB the win is that AQE handles skewed keys and
the per-key state is one row; for continuous streams use
streaming.materialize_stream (foreachBatch MERGE) instead of re-folding.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

DEFAULT_ORDER = ("source.lsn", "source.txId", "ts_ms")


def latest_state(
    df: DataFrame,
    key_cols: Sequence[str] = ("after.id",),
    order_cols: Sequence[str] = DEFAULT_ORDER,
    op_col: str = "op",
    drop_deletes: bool = True,
) -> DataFrame:
    """Reduce a CDC envelope DataFrame to the latest event per key.

    For deletes the key lives in ``before`` (``after`` is null), so the
    grouping key coalesces both images. Returns the winning envelope rows;
    callers typically project ``after.*`` afterwards.
    """
    key_exprs = [
        F.coalesce(F.col(k), F.col(k.replace("after.", "before.", 1))).alias(
            f"__key_{i}"
        )
        if k.startswith("after.")
        else F.col(k).alias(f"__key_{i}")
        for i, k in enumerate(key_cols)
    ]
    keyed = df.select("*", *key_exprs)
    w = Window.partitionBy(
        *[f"__key_{i}" for i in range(len(key_cols))]
    ).orderBy(*[F.col(c).desc() for c in order_cols])
    out = (
        keyed.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn", *[f"__key_{i}" for i in range(len(key_cols))])
    )
    if drop_deletes:
        out = out.filter(F.col(op_col) != "d")
    return out


def latest_state_multi_table(
    df: DataFrame,
    key_field: str = "id",
    order_cols: Sequence[str] = DEFAULT_ORDER,
    drop_deletes: bool = True,
) -> DataFrame:
    """Multi-table CDC fold over SCHEMALESS envelopes (B5 + the reference's
    multi-table roadmap, docs/architecture.md:395).

    One pass folds every table in the feed: the grouping key is
    (db, schema, table, key), where the row key comes from the ``after``/
    ``before`` maps (schemaless_envelope_schema). Output: latest envelope
    per table+key, ready to route into per-table views — topic-per-table,
    as one DataFrame op.
    """
    key = F.coalesce(
        F.col("after").getItem(key_field), F.col("before").getItem(key_field)
    )
    keyed = df.withColumn("__row_key", key)
    w = Window.partitionBy(
        F.col("source.db"), F.col("source.schema"), F.col("source.table"), F.col("__row_key")
    ).orderBy(*[F.col(c).desc() for c in order_cols])
    out = (
        keyed.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn", "__row_key")
    )
    if drop_deletes:
        out = out.filter(F.col("op") != "d")
    return out


def latest_by_key(
    df: DataFrame,
    key_cols: Sequence[str],
    order_cols: Sequence[str],
) -> DataFrame:
    """Generic latest-row-per-key fold over any table (flat-schema variant).

    Orders descending by ``order_cols`` (ties broken by the listed order) and
    keeps the first row per key. The relational face of CDC materialization:
    used directly on the ``events`` test table.
    """
    w = Window.partitionBy(*key_cols).orderBy(*[F.col(c).desc() for c in order_cols])
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def delta_fold_group_agg(
    changes: DataFrame,
    before_group: Column,
    before_value: Column,
    after_group: Column,
    after_value: Column,
    drop_empty: bool = True,
) -> DataFrame:
    """Incremental aggregate maintenance: fold a change feed's deltas
    straight into per-group (count, sum) WITHOUT materializing row state.

    The latest-state fold above keeps one row per key — O(rows) state.
    When the consumer only wants ``GROUP BY g: count, sum(v)`` over the
    current state, the classic incremental-view-maintenance identity does
    strictly better: each change contributes ``(+after.v, +1)`` to the
    after-image's group and ``(-before.v, -1)`` to the before-image's
    group, and the per-group telescoping sum leaves exactly the final
    state's aggregate. Debezium envelopes carry both images natively
    (reference docs/architecture.md:260-283: ``before``/``after`` row
    images), which is precisely what makes CDC feeds foldable this way.

    Inputs are column expressions over ``changes`` (null image ⇒ that leg
    contributes nothing — inserts have no before, deletes no after).
    ``*_value`` must be EXACT-arithmetic columns (bigint cents, not
    doubles): the fold adds and subtracts across groups, so float
    cancellation error would diverge from a recompute oracle.

    Scale story: one scan, an explode into ≤2 delta rows, then a single
    shuffle of map-side-combined partials keyed by group — state is
    O(groups), not O(keys). This is the shape that keeps a 100 TB feed's
    dashboard aggregates maintainable with per-microbatch work
    proportional to the batch, never to history.
    """
    legs = F.array(
        F.struct(
            after_group.alias("g"),
            after_value.cast("long").alias("v"),
            F.lit(1).cast("long").alias("c"),
        ),
        F.struct(
            before_group.alias("g"),
            (-before_value).cast("long").alias("v"),
            F.lit(-1).cast("long").alias("c"),
        ),
    )
    deltas = (
        changes.select(F.explode(legs).alias("d"))
        .select("d.*")
        .filter(F.col("g").isNotNull())
    )
    out = deltas.groupBy("g").agg(
        F.sum("c").alias("n_rows"), F.sum("v").alias("sum_value")
    )
    # drop_empty=False keeps groups that net to zero rows — required when
    # the result is a PARTIAL (one micro-batch's deltas, merged later by
    # streaming.materialize.IncrementalAggMaintainer): a batch holding
    # only a migration away from group g legitimately carries (g, -1, -v)
    return out.filter(F.col("n_rows") > 0) if drop_empty else out


def snapshot_diff(
    a: DataFrame,
    b: DataFrame,
    key_cols: Sequence[str],
    compare_cols: Sequence[str],
) -> DataFrame:
    """Derive a CDC change feed from two state snapshots — the inverse of
    materialization, and the standard bootstrap when a table predates its
    change capture (the reference's snapshot phase emits op='r' reads for
    exactly this reason, connectors/README.md:152-157; diffing two
    snapshots yields the c/u/d events BETWEEN them).

    Full-outer join on the key: key only in ``b`` → create, only in
    ``a`` → delete, in both with any ``compare_cols`` differing
    (null-safely) → update; identical rows emit nothing. Returns
    ``key_cols + op + before_<c>/after_<c>`` per compare col — before
    images null for creates, after images null for deletes (Debezium
    envelope semantics, docs/architecture.md:260-283).

    Presence is tracked with explicit marker columns, not null-ness of
    data columns — a snapshot row whose compare columns are all null is
    still a present row. Scale: one co-partitioned full-outer shuffle on
    the key; the output feeds delta_fold_group_agg or a materializer
    directly.
    """
    keys = list(key_cols)
    cmps = list(compare_cols)
    a2 = a.select(
        *keys,
        F.lit(True).alias("__a_present"),
        *[F.col(c).alias(f"__a_{c}") for c in cmps],
    )
    b2 = b.select(
        *keys,
        F.lit(True).alias("__b_present"),
        *[F.col(c).alias(f"__b_{c}") for c in cmps],
    )
    j = a2.join(b2, keys, "full_outer")
    # F.lit(False) base: with NO compare columns this is a presence-only
    # membership diff (creates/deletes, never updates), not a crash
    changed = F.lit(False)
    for c in cmps:
        changed = changed | ~F.col(f"__a_{c}").eqNullSafe(F.col(f"__b_{c}"))
    op = (
        F.when(F.col("__a_present").isNull(), "c")
        .when(F.col("__b_present").isNull(), "d")
        .when(changed, "u")
    )
    out = j.withColumn("op", op).filter(F.col("op").isNotNull())
    return out.select(
        *keys,
        "op",
        *[F.col(f"__a_{c}").alias(f"before_{c}") for c in cmps],
        *[F.col(f"__b_{c}").alias(f"after_{c}") for c in cmps],
    )


def apply_diff(
    a: DataFrame,
    diff: DataFrame,
    key_cols: Sequence[str],
    compare_cols: Sequence[str],
) -> DataFrame:
    """Apply a :func:`snapshot_diff` feed to its base snapshot:
    ``apply_diff(A, snapshot_diff(A, B)) == B`` by value — the round-trip
    identity that makes the diff a faithful change feed (property-tested
    in tests/test_properties.py). This is the batch MERGE: delete/update
    keys leave ``a`` (left anti join), create/update after-images come
    in. One co-partitioned shuffle on the key for the anti join, a union
    for the upserts."""
    touched = diff.filter(F.col("op").isin("u", "d")).select(*key_cols)
    kept = a.join(touched, list(key_cols), "left_anti")
    upserts = diff.filter(F.col("op").isin("c", "u")).select(
        *key_cols,
        *[F.col(f"after_{c}").alias(c) for c in compare_cols],
    )
    return kept.select(*key_cols, *compare_cols).unionByName(upserts)


def join_delta(
    a: DataFrame,
    b: DataFrame,
    da: DataFrame,
    db: DataFrame,
    on: list[str],
    z: str = "__z",
) -> DataFrame:
    """Incremental maintenance of a two-table equi-join view — the Z-set
    delta rule (DBSP / differential-dataflow formulation):

        d(A ⋈ B)  =  dA ⋈ B  +  A ⋈ dB  +  dA ⋈ dB

    with A, B the PRE-change states and dA, dB signed-multiplicity
    deltas (``z`` = +1 insert, -1 delete; an update is the -old/+new
    pair). Multiplicities MULTIPLY across a join, so the third term
    carries z_dA·z_dB — the correction a naive two-term implementation
    misses exactly when the SAME key changes on both sides in one batch
    (e.g. an order deleted while a lineitem is inserted under it: the
    A ⋈ dB term emits a phantom +1 against the stale order, and only
    dA ⋈ dB's (-1)·(+1) cancels it).

    Returns the un-folded delta rows (join columns + both payloads + the
    ``z`` column); callers fold by summing ``z`` per row or straight into
    per-group aggregates (``sum(z)``, ``sum(z·v)``), after which groups
    netting to zero drop out.

    Scale story: the three joins are delta-sized on at least one side —
    work per maintenance batch is O(|dA|·fanout + |dB|·fanout + |dA⋈dB|),
    never O(|view|); at 100 TB the stored view is only ever APPENDED
    folded deltas (the delta_fold_group_agg discipline above), and the
    base-table probes prune to the delta's key range. ``a``/``b`` rows
    carry implicit multiplicity 1; pass a ``z`` column on them only via
    the deltas.
    """
    za, zb = z + "__a", z + "__b"
    da_r = da.withColumnRenamed(z, za)
    db_r = db.withColumnRenamed(z, zb)
    t1 = (
        da_r.join(b, on=on)
        .withColumn(z, F.col(za))
        .drop(za)
    )
    t2 = (
        a.join(db_r, on=on)
        .withColumn(z, F.col(zb))
        .drop(zb)
    )
    t3 = (
        da_r.join(db_r, on=on)
        .withColumn(z, (F.col(za) * F.col(zb)).cast("long"))
        .drop(za, zb)
    )
    return t1.unionByName(t2).unionByName(t3)


def star_join_delta(
    fact_pre: DataFrame,
    d_fact: DataFrame | None,
    dims: Sequence[tuple],
    z: str = "__z",
) -> DataFrame | None:
    """Z-set delta of a STAR JOIN ``fact ⋈ dim₁ ⋈ dim₂ ⋈ …`` under
    simultaneous changesets on the fact and any subset of dims — the
    composition of :func:`join_delta` that makes join-bearing
    materialized views incrementally maintainable.

    ``dims``: ``[(dim_pre, d_dim | None, on_cols), ...]`` in join
    order; all ``*_pre`` inputs are the PRE-change states, deltas are
    z-weighted (+1/−1). Composition: with ``J`` the prefix join,
    ``d(J ⋈ D) = dJ ⋈ D + J ⋈ dD + dJ ⋈ dD`` — applied left to right,
    so a batch that changes the fact AND moves a dim row in the same
    batch still nets correctly (the dJ ⋈ dD correction carries
    z·z). A side with no changes contributes only the terms its
    neighbor's delta drives, keeping every join delta-sized on at
    least one side. Returns the z-weighted delta rows of the full
    join, or None when every delta is None. Sides may share ONLY the
    join columns — payload name collisions are the caller's to
    resolve (standard join hygiene).

    Scale: per-batch work is O(Σ|delta| · fanout); the pre-state
    probes prune to the deltas' key ranges and small dims broadcast —
    the maintained view never re-joins history."""
    cur = fact_pre
    d_cur = d_fact
    for dim_pre, d_dim, on in dims:
        on = list(on)
        if d_dim is None:
            if d_cur is not None:
                d_cur = d_cur.join(dim_pre, on)  # dJ ⋈ D only
        elif d_cur is None:
            d_cur = cur.join(d_dim, on)  # J ⋈ dD only (z rides d_dim)
        else:
            d_cur = join_delta(cur, dim_pre, d_cur, d_dim, on, z=z)
        cur = cur.join(dim_pre, on)
    return d_cur


def _group_join(
    left: DataFrame, right: DataFrame, on: list, how: str
) -> DataFrame:
    """``left.join(right, on, how)`` with NULL-safe equality on the group
    columns: a NULL group value is one group, as ``groupBy`` makes it.
    Full outer output carries one coalesced copy of each ``on`` column
    (the shape of a USING join); semi and anti joins keep ``left``'s
    columns."""
    rk = {c: f"__rk_{i}" for i, c in enumerate(on)}
    rest = [c for c in right.columns if c not in rk]
    r = right.select(*[F.col(c).alias(rk[c]) for c in on], *rest)
    cond = F.lit(True)
    for c in on:
        cond = cond & F.col(c).eqNullSafe(F.col(rk[c]))
    j = left.join(r, cond, how)
    if how in ("left_semi", "left_anti"):
        return j
    return j.select(
        *[F.coalesce(F.col(c), F.col(rk[c])).alias(c) for c in on],
        *[c for c in left.columns if c not in rk],
        *rest,
    )


def minmax_delta_maintain(
    view: DataFrame,
    base_new: DataFrame,
    delta: DataFrame,
    on: Sequence[str],
    val: str,
    z: str = "__z",
    include_untouched: bool = False,
) -> DataFrame:
    """Incremental maintenance of ``GROUP BY on: count, sum, MIN, MAX``
    under a z-weighted delta batch — the NON-INVERTIBLE aggregate case
    that ``delta_fold_group_agg`` cannot cover.

    count/sum fold invertibly from the deltas alone. MIN/MAX fold only
    on INSERTS (``least``/``greatest`` against the old extremum); a
    DELETE that reaches a group's current extremum invalidates it — the
    next-best value is not in the view — so exactly those groups
    ("risky": some deleted value ≤ old min or ≥ old max) recompute from
    the post-batch base, pruned to the risky keys by a semi-join. Groups
    new in this batch (no view row) fold purely from their inserts.

    Inputs: ``view`` is the OLD view (one row per group: ``n_rows``,
    ``sum_v``, ``min_v``, ``max_v``), ``base_new`` the post-batch base
    relation (only risky groups are read from it), ``delta`` the
    z-weighted rows (+1 insert / −1 delete; an update is a −1/+1 pair).
    Group columns match NULL-safely, so a NULL group is one group.
    ``val`` must be exact arithmetic (bigint cents) — the sum leg
    telescopes. Returns the NEW view rows for every group the batch
    touched (groups netting to zero rows drop out); publishing the merge
    into the stored view is the caller's pointer-swap
    (streaming.materialize discipline).

    Scale story: per-batch work = one delta-sized aggregate + a base
    scan restricted to risky groups — and "risky" requires deleting a
    group's exact extremum, so in steady state the recompute leg touches
    few groups; a group-partitioned base turns the semi-join into
    partition pruning. The alternative the view CANNOT take at 100 TB is
    recomputing every touched group's min/max over history each batch.
    """
    on = list(on)
    pos = F.col(z) > 0
    d = delta.groupBy(*on).agg(
        F.sum(z).cast("long").alias("__dn"),
        F.sum(F.col(z) * F.col(val)).cast("long").alias("__ds"),
        F.min(F.when(pos, F.col(val))).alias("__ins_mn"),
        F.max(F.when(pos, F.col(val))).alias("__ins_mx"),
        F.min(F.when(~pos, F.col(val))).alias("__del_mn"),
        F.max(F.when(~pos, F.col(val))).alias("__del_mx"),
        F.max((~pos).cast("int")).alias("__has_del"),
    )
    j = _group_join(view, d, on, "full_outer")
    had_view = F.col("n_rows").isNotNull()
    # a VIEW-LESS group carrying any delete is risky too: its fold sees
    # inserts only, so a changeset that both inserts a value and deletes
    # it (legal when several merge batches accumulate into one call)
    # would leave the deleted value as the folded extremum
    risky = (
        had_view
        & (
            (F.col("__del_mn") <= F.col("min_v"))
            | (F.col("__del_mx") >= F.col("max_v"))
        )
    ) | (~had_view & (F.col("__has_del") == 1))
    folded = j.filter(~F.coalesce(risky, F.lit(False))).select(
        *on,
        (F.coalesce(F.col("n_rows"), F.lit(0))
         + F.coalesce(F.col("__dn"), F.lit(0))).alias("n_rows"),
        (F.coalesce(F.col("sum_v"), F.lit(0))
         + F.coalesce(F.col("__ds"), F.lit(0))).alias("sum_v"),
        F.least(F.col("min_v"), F.col("__ins_mn")).alias("min_v"),
        F.greatest(F.col("max_v"), F.col("__ins_mx")).alias("max_v"),
    ).filter(F.col("n_rows") > 0)
    risky_keys = j.filter(risky).select(*on)
    recomputed = (
        _group_join(base_new, risky_keys, on, "left_semi")
        .groupBy(*on)
        .agg(
            F.count("*").cast("long").alias("n_rows"),
            F.sum(val).cast("long").alias("sum_v"),
            F.min(val).alias("min_v"),
            F.max(val).alias("max_v"),
        )
    )
    # by default only batch-touched groups are returned: folded
    # untouched-view rows (no delta columns) are identity rows — filter
    # them out. include_untouched=True (round 20, guide §2.4) keeps
    # them, handing the caller the FULL post-batch view in one plan so
    # it need not re-scan the old view and LeftAnti-join the touched
    # keys back out (one view scan + one equi-join fewer per batch).
    if include_untouched:
        return folded.unionByName(recomputed)
    touched = d.select(*on)
    return _group_join(folded, touched, on, "left_semi").unionByName(
        recomputed
    )


def mv_partial_delta_maintain(
    data: DataFrame,
    base_new: DataFrame,
    delta: DataFrame,
    on: Sequence[str],
    spec: dict,
    z: str = "__z",
    precheck_risky: bool = False,
    include_untouched: bool = False,
) -> DataFrame:
    """Incremental maintenance of a materialized view's PARTIAL-aggregate
    rows under a z-weighted delta batch — the multi-measure-column
    generalization of ``minmax_delta_maintain``, operating directly on
    partial-named columns so one pass maintains every measure at once.

    ``data``: the stored MV rows — ``on`` + the all-rows ``__cnt`` + per
    measure column ``c`` whatever ``spec[c]`` lists of ``__sum_{c}`` /
    ``__cnt_{c}`` (non-null count) / ``__min_{c}`` / ``__max_{c}``.
    ``spec``: ``{col: subset of {"sum","cnt","min","max","hll"}}``.
    ``delta``:
    ``on`` + every spec column + ``z`` (+1 insert / −1 delete; an update
    is the pair). ``base_new``: the post-batch base projection carrying
    ``on`` + every spec column — read ONLY for risky groups. It may be
    a CALLABLE ``risky_keys_df -> DataFrame`` instead of a DataFrame:
    the recompute leg invokes it with the distinct risky group tuples
    so the caller can push the pruning INTO the base construction —
    for a join-MV base, semi-joining each star-join side before the
    join collapses the recompute from a full star join to a
    filtered-scan + small join (a group-column semi-join on the
    joined result cannot be pushed through the join by the optimizer
    alone). The exactness semi-join on the full group tuple is still
    applied to whatever the callable returns.

    Fold rules: ``__cnt``/``__sum_*``/``__cnt_*`` telescope invertibly
    from the delta alone (the non-null count folds by summing z over
    non-null values — a deleted NULL never moves it); ``__min_*``/
    ``__max_*`` fold on inserts via least/greatest; ``__hll_*``
    (mergeable Datasketches HLL, the approx-distinct partial) folds on
    inserts via sketch UNION — register-wise max, order-insensitive. A
    group is RISKY iff some deleted value reaches the stored extremum
    of ANY spec column, or — for hll — the delete carries ANY non-null
    value of the sketched column (a sketch cannot forget, so every
    value-bearing delete forces that group's recompute; deleting a
    NULL never entered the sketch and stays a pure fold) — exactly
    those groups recompute every partial from ``base_new``,
    semi-join-pruned. Returns new partial rows for every batch-touched
    group (groups netting to zero rows drop out); merging into the
    stored view is the caller's pointer-swap.

    ``include_untouched=True`` returns post-batch partials for EVERY
    group instead, the form callers that stage the full post-state use
    (MV maintenance, live serves). Without min/max/hll columns it folds
    as a union: the stored rows and the delta rows, each delta row
    carrying its z-weighted partials (``z``, ``z·c``, ``z`` where ``c``
    is non-null), are stacked, grouped by ``on`` and summed, with
    ``coalesce(sum, 0)`` and ``__cnt > 0`` as the exact fold of the
    stored row with the batch's aggregate delta. That is one aggregate
    and no join; groups netting to zero rows drop out, and an update
    that moves nothing arrives as a −1/+1 pair that cancels. With an
    extremum or sketch column the delta is aggregated per group and
    full-outer-joined to the stored rows on NULL-safe group equality
    (``_group_join``, as are the touched and risky semi-joins), whose
    untouched side folds as an identity (``+ coalesce(NULL, 0)`` on
    longs; ``least``/``greatest`` ignore NULLs; the hll branch keeps the
    stored sketch).

    Scale: per-batch work = one delta-sized aggregate + a base scan
    restricted to risky groups, independent of how many measure columns
    the MV stores (they ride the same shuffle). The recompute leg is
    OMITTED statically when no column stores min/max (count/sum-only
    MVs never touch the fact), and — with ``precheck_risky=True``, for
    callers that are maintenance VERBS and may run jobs — omitted
    dynamically after one O(groups + changeset) probe finds zero risky
    groups: otherwise the lazily-planned semi-join still pays the full
    base scan in the (common) batch where no delete reached an
    extremum, which is exactly the refresh cost this operator exists
    to avoid."""
    on = list(on)
    has_minmax = any(
        "min" in kinds or "max" in kinds or "hll" in kinds
        for kinds in spec.values()
    )
    if include_untouched and not has_minmax:
        return _union_fold(data, delta, on, spec, z)
    pos = F.col(z) > 0
    d_aggs = [
        F.sum(z).cast("long").alias("__d_cnt"),
        F.max((~pos).cast("int")).alias("__has_del"),
    ]
    for c, kinds in spec.items():
        if "sum" in kinds:
            d_aggs.append(
                F.sum(F.col(z) * F.col(c)).cast("long").alias(f"__d_sum_{c}")
            )
        if "cnt" in kinds:
            d_aggs.append(
                F.sum(
                    F.when(F.col(c).isNotNull(), F.col(z)).otherwise(0)
                ).cast("long").alias(f"__d_cnt_{c}")
            )
        if "min" in kinds or "max" in kinds:
            d_aggs += [
                F.min(F.when(pos, F.col(c))).alias(f"__ins_mn_{c}"),
                F.max(F.when(pos, F.col(c))).alias(f"__ins_mx_{c}"),
                F.min(F.when(~pos, F.col(c))).alias(f"__del_mn_{c}"),
                F.max(F.when(~pos, F.col(c))).alias(f"__del_mx_{c}"),
            ]
        if "hll" in kinds:
            d_aggs += [
                F.hll_sketch_agg(F.when(pos, F.col(c))).alias(
                    f"__d_hll_{c}"
                ),
                F.max(
                    (~pos & F.col(c).isNotNull()).cast("int")
                ).alias(f"__hll_del_{c}"),
            ]
    d = delta.groupBy(*on).agg(*d_aggs)
    j = _group_join(data, d, on, "full_outer")
    had_view = F.col("__cnt").isNotNull()
    risky_any = F.lit(False)
    for c, kinds in spec.items():
        if "min" in kinds:
            risky_any = risky_any | (
                F.col(f"__del_mn_{c}") <= F.col(f"__min_{c}")
            )
        if "max" in kinds:
            risky_any = risky_any | (
                F.col(f"__del_mx_{c}") >= F.col(f"__max_{c}")
            )
        if "hll" in kinds:
            risky_any = risky_any | (F.col(f"__hll_del_{c}") == 1)
    risky = had_view & risky_any
    if has_minmax:
        # a VIEW-LESS group carrying any delete is risky too: its
        # insert-only fold would keep a same-changeset-
        # deleted value as the stored extremum — natural when change
        # feeds spanning several merge batches accumulate into one
        # maintain call. Sum/count-only MVs skip this: their fold is
        # fully invertible, deletes and all.
        risky = risky | (~had_view & (F.col("__has_del") == 1))

    fold_exprs = [
        (
            F.coalesce(F.col("__cnt"), F.lit(0))
            + F.coalesce(F.col("__d_cnt"), F.lit(0))
        ).cast("long").alias("__cnt")
    ]
    for c, kinds in spec.items():
        if "sum" in kinds:
            fold_exprs.append(
                (
                    F.coalesce(F.col(f"__sum_{c}"), F.lit(0))
                    + F.coalesce(F.col(f"__d_sum_{c}"), F.lit(0))
                ).cast("long").alias(f"__sum_{c}")
            )
        if "cnt" in kinds:
            fold_exprs.append(
                (
                    F.coalesce(F.col(f"__cnt_{c}"), F.lit(0))
                    + F.coalesce(F.col(f"__d_cnt_{c}"), F.lit(0))
                ).cast("long").alias(f"__cnt_{c}")
            )
        if "min" in kinds:
            fold_exprs.append(
                F.least(
                    F.col(f"__min_{c}"), F.col(f"__ins_mn_{c}")
                ).alias(f"__min_{c}")
            )
        if "max" in kinds:
            fold_exprs.append(
                F.greatest(
                    F.col(f"__max_{c}"), F.col(f"__ins_mx_{c}")
                ).alias(f"__max_{c}")
            )
        if "hll" in kinds:
            stored, d_hll = F.col(f"__hll_{c}"), F.col(f"__d_hll_{c}")
            fold_exprs.append(
                F.when(stored.isNull(), d_hll)
                .when(d_hll.isNull(), stored)
                .otherwise(F.hll_union(stored, d_hll))
                .alias(f"__hll_{c}")
            )
    folded = (
        j.filter(~F.coalesce(risky, F.lit(False)))
        .select(*on, *fold_exprs)
        .filter(F.col("__cnt") > 0)
    )
    touched = d.select(*on)

    def only_touched(df: DataFrame) -> DataFrame:
        if include_untouched:
            return df
        return _group_join(df, touched, on, "left_semi")

    if not has_minmax:
        # no extremum partials → nothing is ever risky: pure fold
        return only_touched(folded)
    if precheck_risky and j.filter(risky).limit(1).count() == 0:
        return only_touched(folded)

    risky_keys = j.filter(risky).select(*on)
    if callable(base_new):
        base_new = base_new(risky_keys)
    r_aggs = [F.count("*").cast("long").alias("__cnt")]
    for c, kinds in spec.items():
        if "sum" in kinds:
            r_aggs.append(F.sum(c).cast("long").alias(f"__sum_{c}"))
        if "cnt" in kinds:
            r_aggs.append(F.count(c).cast("long").alias(f"__cnt_{c}"))
        if "min" in kinds:
            r_aggs.append(F.min(c).alias(f"__min_{c}"))
        if "max" in kinds:
            r_aggs.append(F.max(c).alias(f"__max_{c}"))
        if "hll" in kinds:
            r_aggs.append(F.hll_sketch_agg(c).alias(f"__hll_{c}"))
    recomputed = (
        _group_join(base_new, risky_keys, on, "left_semi")
        .groupBy(*on)
        .agg(*r_aggs)
    )
    return only_touched(folded).unionByName(recomputed)


def _union_fold(
    data: DataFrame,
    delta: DataFrame,
    on: list,
    spec: dict,
    z: str,
) -> DataFrame:
    """Every group's post-batch partials for a count/sum-only spec:
    stored rows ∪ z-weighted delta rows → ``groupBy(on)`` → summed
    partials, in ``data``'s column order. Sum columns are integral, so
    each summed partial equals the stored value plus the batch's
    aggregate delta."""
    weighted = {"__cnt": F.col(z)}
    for c, kinds in spec.items():
        if "sum" in kinds:
            weighted[f"__sum_{c}"] = F.col(z) * F.col(c)
        if "cnt" in kinds:
            weighted[f"__cnt_{c}"] = (
                F.when(F.col(c).isNotNull(), F.col(z)).otherwise(0)
            )
    pos = {c: i for i, c in enumerate(data.columns)}
    names = sorted(weighted, key=lambda n: pos.get(n, len(pos)))
    return (
        data.select(*on, *names)
        .unionByName(
            delta.select(*on, *[weighted[n].alias(n) for n in names])
        )
        .groupBy(*on)
        .agg(
            *[
                F.coalesce(F.sum(n), F.lit(0)).cast("long").alias(n)
                for n in names
            ]
        )
        .filter(F.col("__cnt") > 0)
    )

"""Maintained TOP-K materialized views (round 19).

Dashboards want ranked lists, not just aggregates: "top N orders by
value per region", fresh. A top-k MV stores, per group, the k highest
rows of its source under a TOTAL order (``order_by`` — the caller
includes a unique tiebreak column, exactly the determinism every exact
oracle needs), and maintains them incrementally:

- **inserts fold by merge + re-truncate** — monotone: a new row can
  only ENTER a group's top-k, never reveal a hidden one, so
  ``top_k(stored ∪ inserts) == top_k(full_group ∪ inserts)`` (any row
  outside the old top-k stays beaten by the k stored rows);
- **deletes make a group RISKY exactly like MIN/MAX incremental
  maintenance** (``operators/materialize.minmax_delta_maintain`` — a
  top-k is the k-generalization of MAX): a deleted row whose leading
  order value reaches the group's stored boundary (the kth row) may
  have been IN the top-k or may surface a hidden row, so the group
  recomputes from the post-change base through a semi-join-pruned
  scan; a delete strictly below the boundary of a FULL stored group
  provably cannot change it and costs nothing.

Serving ROLLS UP: a request for a COARSER grouping (any subset of the
MV's group columns, down to the global top-k) with the same order and
k' ≤ k re-ranks the UNION of stored per-group top-k rows — sound
because a row in the coarser top-k is beaten by fewer than k rows
overall, hence by fewer than k rows in its own group, hence stored.
The global-top-k serve uses ``orderBy().limit(k)``
(TakeOrderedAndProject — per-partition heads, no single-partition
window) so the plan scales like every other serve here.

The MoR integration mirrors plans/mv.py: ``bind_mv_to_mor`` works
unchanged (the manifest carries the same fingerprint/source_path
contract), ``maintain_topk_from_mor`` cuts the table's own change feed,
and ``answer_topk_live`` composes the stored rows with the unapplied
span LAZILY — the same fold math minus the publish, risky groups riding
the plan's recompute leg against the table's current state.

At 100 TB: the stored summary is O(groups × k); maintenance shuffles
only the changeset + the summary on the group key, and the only base
scans are semi-join-pruned risky-group recomputes. Nothing here is a
reference port — the reference (a stateless CDC enrichment function,
``/root/reference/functions/cdc-enrichment/cdc_enrichment_function.py``)
has no ranking or materialization; this extends the driver-mandated MV
family (SURVEY.md §2 C12/C16 ranking + top-k re-expressed as a
maintained summary).
"""

from __future__ import annotations

import json
import os
from collections.abc import Sequence

from pyspark.sql import DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.tables import read_dir, seed_schema_cache
from .mv import (
    _data_dir,
    _fingerprint,
    _mutation_drift,
    _mv_dir,
    _publish_manifest,
    _stage_data,
    _stamp_fingerprint,
    _sweep_mv,
)
from .layout import maintenance_lock


def _norm_order(order_by) -> list[list]:
    out = []
    for item in order_by:
        col, d = item
        if d not in ("asc", "desc"):
            raise ValueError(
                f"order_by direction must be asc|desc, got {d!r}"
            )
        out.append([col, d])
    if not out:
        raise ValueError("order_by must name at least one column")
    return out


def _order_exprs(order_by) -> list:
    return [
        F.col(c).desc() if d == "desc" else F.col(c).asc()
        for c, d in order_by
    ]


def _topk_of(
    df: DataFrame, group_cols: Sequence[str], order_by, k: int
) -> DataFrame:
    """Exact per-group top-k. Empty ``group_cols`` = the global top-k,
    planned as ``orderBy().limit(k)`` (TakeOrderedAndProject: each
    partition keeps a k-head, the driver merges k-heads — never a
    single-partition window)."""
    if not group_cols:
        return df.orderBy(*_order_exprs(order_by)).limit(k)
    w = Window.partitionBy(*group_cols).orderBy(*_order_exprs(order_by))
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
    )


def create_topk_mv(
    spark: SparkSession,
    mv_root: str,
    *,
    name: str,
    source_path: str,
    source: DataFrame,
    group_cols: Sequence[str],
    order_by: Sequence,
    k: int,
    payload_cols: Sequence[str],
) -> dict:
    """Materialize the per-group top-k of ``source``. ``order_by``:
    ``[(col, "asc"|"desc"), ...]`` — MUST be a total order within every
    group (include a unique tiebreak column; rank determinism is what
    makes maintenance and oracles exact). ``payload_cols``: the
    non-group columns stored per ranked row (must cover the order
    columns not already in ``group_cols``)."""
    group_cols = list(group_cols)
    payload_cols = list(payload_cols)
    order_by = _norm_order(order_by)
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    stored = set(group_cols) | set(payload_cols)
    missing = [c for c, _ in order_by if c not in stored]
    if missing:
        raise ValueError(
            f"order_by column(s) {missing} are not stored — add them "
            "to payload_cols (or group_cols)"
        )
    os.makedirs(mv_root, exist_ok=True)
    with maintenance_lock(mv_root):
        d = _mv_dir(mv_root, name)
        if os.path.exists(os.path.join(d, "mv.json")):
            raise ValueError(f"materialized view {name} already exists")
        data0 = "data-000000"
        obs = Observation()
        built = _topk_of(
            source.select(*group_cols, *payload_cols),
            group_cols, order_by, k,
        )
        built.observe(obs, F.count(F.lit(1)).alias("rows")).write.mode(
            "errorifexists"
        ).parquet(os.path.join(d, data0))
        seed_schema_cache(os.path.join(d, data0), built.schema)
        man = {
            "name": name,
            "kind": "topk",
            "source_path": source_path,
            "group_cols": group_cols,
            "payload_cols": payload_cols,
            "order_by": order_by,
            "k": k,
            "data_dir": data0,
            "fingerprint": _fingerprint(source_path),
        }
        # stored-row statistic, refreshed at every publish like the
        # aggregate family's n_groups — observed on the build write
        # itself; the schema-cache seed above keeps SERVING construction
        # job-free (the scale gate's zero-jobs-at-plan contract)
        man["n_rows"] = int(obs.get["rows"])
        _publish_manifest(d, man)
        return man


def _load_topk(mv_root: str, name: str) -> tuple[str, dict]:
    d = _mv_dir(mv_root, name)
    with open(os.path.join(d, "mv.json")) as f:
        man = json.load(f)
    if man.get("kind") != "topk":
        raise ValueError(
            f"{name} is not a top-k MV (kind={man.get('kind')!r})"
        )
    return d, man


def _folded_topk(
    spark: SparkSession,
    man: dict,
    stored: DataFrame,
    changes: DataFrame,
    base_new: DataFrame,
    *,
    collect_risky: bool = False,
) -> DataFrame:
    """The maintenance fold as a PLAN (shared by the publishing
    maintain and the lazy live serve): z-weighted ``changes`` (+1
    insert rows, −1 delete rows — ``plans.mv.changes_from_feed``'s
    contract) applied to the stored per-group top-k, with
    ``base_new`` = the post-change source for the risky-group
    recompute leg (pruned; scanned only for groups a
    boundary-reaching delete touched).

    ``collect_risky`` (maintenance verbs — jobs allowed): materialize
    the risky group VALUES on the driver (bounded by the changeset's
    delete count — the same bounded-model-state class as the engine's
    other sanctioned collects) and feed the recompute leg through a
    LocalRelation semi-join. The local build side's size is known AT
    PLANNING, so the join is a static BroadcastHashJoin and the base
    side is a pure scan+filter — measured at 200M rows, the lazy
    alternative lost ~50 s to a full-fact sort: AQE submits both SMJ
    children concurrently, so the fact's sort stage is already running
    by the time the risky side's tiny size is known (the
    concurrent-children AQE limitation; read_mor's sidecar join
    dodges it because its build side is a leaf scan, this one hides
    behind two joins and a distinct). The lazy default (live serve —
    zero jobs at plan time) keeps the join lazy and pays that cost on
    risky-delete requests, which is exactly what the policy router's
    ``max_live_delete_keys`` threshold exists to route to maintenance
    instead."""
    g = man["group_cols"]
    k = man["k"]
    order_by = man["order_by"]
    cols = g + man["payload_cols"]
    ins = changes.filter(F.col("__z") == 1).select(*cols)
    dels = changes.filter(F.col("__z") == -1).select(*cols)
    lead_col, lead_dir = order_by[0]
    # per-group stored boundary on the LEADING order column: a delete
    # strictly outside it (in a FULL group) provably cannot change the
    # top-k; ties at the boundary are conservatively risky (the total
    # order's tiebreak is not re-derived here)
    agg_b = F.min(lead_col) if lead_dir == "desc" else F.max(lead_col)
    bound = stored.groupBy(*g).agg(
        agg_b.alias("__b"), F.count("*").alias("__n")
    )
    reach = (
        F.col(lead_col) >= F.col("__b")
        if lead_dir == "desc"
        else F.col(lead_col) <= F.col("__b")
    )
    risky = (
        dels.join(bound, g, "left")
        .filter(
            F.col("__b").isNull() | (F.col("__n") < k) | reach
        )
        .select(*g)
        .distinct()
    )
    risky_pred = None  # literal predicate marking risky groups
    if collect_risky:
        vals = [tuple(r) for r in risky.collect()]
        if not vals:
            risky = None
        elif len(g) == 1 and all(v[0] is not None for v in vals):
            # the FAST path: a literal In predicate reaches the
            # parquet scan as a pushed filter (row-group/dictionary
            # skipping) — measured at 200M rows the recompute leg
            # costs 2.9 s this way vs 29 s through a broadcast-hash
            # semi-join (the join probes every row; the pushed filter
            # skips whole row groups) and 31 s through the sort-merge
            # join the planner picks unaided (PySpark createDataFrame
            # yields an RDD-backed relation with UNKNOWN size — it
            # never auto-broadcasts, so the whole fact gets shuffled
            # for a handful of risky groups).
            risky_pred = F.col(g[0]).isin([v[0] for v in vals])
            risky = None
        else:
            # multi-column groups (or a NULL group value, which In
            # cannot express): hinted broadcast of the just-collected,
            # changeset-bounded list — its subtree has no file scan,
            # so the data-proportional-broadcast gate stays meaningful
            from ..sources.tables import local_rows

            risky = F.broadcast(
                local_rows(spark, vals, risky.schema)
            )
    if risky is None and risky_pred is None:
        safe_ins = ins
    elif risky_pred is not None:
        # NULL-group inserts can never match a non-NULL risky value:
        # coalesce keeps them on the safe path, matching the
        # anti-join's NULL semantics
        safe_ins = ins.filter(~F.coalesce(risky_pred, F.lit(False)))
    else:
        safe_ins = ins.join(risky, g, "left_anti")
    touched_safe = safe_ins.select(*g).distinct()
    merged = _topk_of(
        stored.join(touched_safe, g, "left_semi").unionByName(safe_ins),
        g, order_by, k,
    )
    if risky is None and risky_pred is None:
        untouched = stored.join(touched_safe, g, "left_anti")
        return untouched.unionByName(merged)
    if risky_pred is not None:
        untouched = stored.join(touched_safe, g, "left_anti").filter(
            ~F.coalesce(risky_pred, F.lit(False))
        )
        pruned_base = base_new.select(*cols).filter(risky_pred)
    else:
        untouched = stored.join(
            touched_safe.unionByName(risky).distinct(), g, "left_anti"
        )
        pruned_base = base_new.select(*cols).join(risky, g, "left_semi")
    recomputed = _topk_of(pruned_base, g, order_by, k)
    return untouched.unionByName(merged).unionByName(recomputed)


def maintain_topk_mv(
    spark: SparkSession,
    mv_root: str,
    name: str,
    changes: DataFrame,
    *,
    base_new: DataFrame,
    source_token: list | None = None,
) -> dict:
    """Incremental top-k maintenance from a z-weighted changeset (the
    ``maintain_mv`` calling convention): publish
    :func:`_folded_topk`'s result as a new data generation under the
    shared staged-swap + derivation-token discipline."""
    with maintenance_lock(mv_root):
        d, man = _load_topk(mv_root, name)
        _sweep_mv(d, man)
        stored = read_dir(spark, _data_dir(d, man))
        changes = changes.persist()
        try:
            out = _folded_topk(
                spark, man, stored, changes, base_new, collect_risky=True
            )
            man["n_rows"] = _stage_data(
                d, man, out,
                pre_swap=lambda: _stamp_fingerprint(man, source_token),
            )
        finally:
            changes.unpersist()
        _publish_manifest(d, man)
        return man


def refresh_topk_mv(
    spark: SparkSession, mv_root: str, name: str, source: DataFrame
) -> dict:
    """Full recompute into a new generation (the recovery verb after an
    out-of-band rewrite, as for aggregate MVs)."""
    with maintenance_lock(mv_root):
        d, man = _load_topk(mv_root, name)
        _sweep_mv(d, man)
        out = _topk_of(
            source.select(*man["group_cols"], *man["payload_cols"]),
            man["group_cols"], man["order_by"], man["k"],
        )
        man["n_rows"] = _stage_data(d, man, out)
        man["fingerprint"] = _fingerprint(man["source_path"])
        _publish_manifest(d, man)
        return man


def _topk_subsumes(man: dict, group_cols, order_by, k: int) -> bool:
    return (
        set(group_cols) <= set(man["group_cols"])
        and _norm_order(order_by) == man["order_by"]
        and k <= man["k"]
    )


def answer_topk(
    spark: SparkSession,
    mv_root: str,
    source: DataFrame,
    source_path: str,
    *,
    group_cols: Sequence[str],
    order_by: Sequence,
    k: int,
) -> tuple[DataFrame, str | None]:
    """Serve ``top_k(source, group_cols, order_by, k)`` from a FRESH
    subsuming top-k MV when one exists, else compute from the base.
    Subsumption: requested group columns ⊆ the MV's (coarser requests
    re-rank the union of stored per-group top-k rows — see module
    docstring for why that is exact), identical ``order_by``, and
    ``k ≤`` the stored k. Returns ``(df, served_from_mv_name|None)``;
    the result carries the MV's group + payload columns."""
    group_cols = list(group_cols)
    order_by = _norm_order(order_by)
    best = None
    if os.path.isdir(mv_root):
        for n in sorted(os.listdir(mv_root)):
            mp = os.path.join(mv_root, n, "mv.json")
            if not os.path.isfile(mp):
                continue
            with open(mp) as f:
                man = json.load(f)
            if man.get("kind") != "topk":
                continue
            if man["source_path"] != source_path:
                continue
            if not _topk_subsumes(man, group_cols, order_by, k):
                continue
            if man["fingerprint"] != _fingerprint(source_path):
                continue
            best = man
            break
    if best is None:
        return _topk_of(source, group_cols, order_by, k), None
    d = _mv_dir(mv_root, best["name"])
    stored = read_dir(spark, _data_dir(d, best))
    return _topk_of(stored, group_cols, order_by, k), best["name"]


def maintain_topk_from_mor(
    spark: SparkSession, mv_root: str, name: str, project
) -> dict:
    """Catch a MoR-bound top-k MV up to its table's current sequence —
    the ``maintain_mv_from_mor`` loop with the top-k fold. ``project``
    maps feed rows to the MV's group + payload columns, KEEPING
    ``change_type``. Same guards: benign-rollback classification via
    :func:`plans.mv._mutation_drift`, compaction floor, fail-loud on
    feed-incompensable rewrites."""
    from .mor import _read_manifest, change_feed_mor, read_mor
    from .mv import changes_from_feed

    with maintenance_lock(mv_root):
        d, man = _load_topk(mv_root, name)
        if "mor_root" not in man:
            raise ValueError(
                f"top-k MV {name} is not bound to a merge-on-read "
                "table; call bind_mv_to_mor first"
            )
        mor_root = man["mor_root"]
        mor_man = _read_manifest(mor_root)
        latest = (
            mor_man["seqs"][-1]["seq"]
            if mor_man["seqs"]
            else mor_man.get("base_seq", 0)
        )
        applied = man["applied_seq"]
        moved, benign = _mutation_drift(mor_man, man)
        if moved and not benign:
            raise RuntimeError(
                f"top-k MV {name}: table {mor_root} mutation counter "
                f"moved ({man.get('mor_mutations')} → "
                f"{mor_man.get('mutations', 0)}) — an out-of-band "
                "rewrite no change feed can compensate; "
                "refresh_topk_mv + re-bind"
            )
        if latest == applied:
            if moved:
                man["mor_mutations"] = mor_man.get("mutations", 0)
                _publish_manifest(d, man)
            return {"applied_seq": applied, "folded": False}
        if applied < mor_man.get("base_seq", 0):
            raise RuntimeError(
                f"top-k MV {name} last applied seq {applied} was "
                f"compacted away (base_seq "
                f"{mor_man.get('base_seq', 0)}) — refresh_topk_mv"
            )
        token = _fingerprint(man["source_path"])
        feed = project(change_feed_mor(spark, mor_root, applied, latest))
        changes = changes_from_feed(
            feed, [c for c in feed.columns if c != "change_type"]
        )
        base_new = project(
            read_mor(spark, mor_root).withColumn(
                "change_type", F.lit("insert")
            )
        ).drop("change_type")
        _sweep_mv(d, man)
        stored = read_dir(spark, _data_dir(d, man))
        changes = changes.persist()
        try:
            out = _folded_topk(
                spark, man, stored, changes, base_new, collect_risky=True
            )
            man["n_rows"] = _stage_data(
                d, man, out,
                pre_swap=lambda: _stamp_fingerprint(man, token),
            )
        finally:
            changes.unpersist()
        man["applied_seq"] = latest
        man["mor_mutations"] = mor_man.get("mutations", 0)
        _publish_manifest(d, man)
        return {"applied_seq": latest, "folded": True}


def answer_topk_live(
    spark: SparkSession,
    mv_root: str,
    name: str,
    project,
    *,
    group_cols: Sequence[str],
    order_by: Sequence,
    k: int,
) -> tuple[DataFrame, str | None]:
    """Serve a fresh top-k from a possibly-STALE MoR-bound top-k MV by
    composing the stored rows with the unapplied feed span LAZILY —
    :func:`_folded_topk` minus the publish, the exact analog of
    ``answer_aggregate_live``. Mode contract: ``"mv"`` (genuinely
    fresh / caught up), ``"mv_delta"`` (lazy compose; risky deletes
    ride the plan's semi-join-pruned recompute against the CURRENT
    table), ``None`` (not servable — not subsumed, or an
    out-of-band rewrite: falls back to the base top-k)."""
    from .mor import (
        _read_manifest,
        change_feed_mor,
        read_mor,
    )
    from .mv import changes_from_feed

    d, man = _load_topk(mv_root, name)
    if "mor_root" not in man:
        raise ValueError(
            f"top-k MV {name} is not bound to a merge-on-read table; "
            "the live serve needs bind_mv_to_mor"
        )
    group_cols = list(group_cols)
    order_by = _norm_order(order_by)

    def base_now() -> DataFrame:
        cur = project(
            read_mor(spark, man["mor_root"]).withColumn(
                "change_type", F.lit("insert")
            )
        ).drop("change_type")
        return _topk_of(cur, group_cols, order_by, k)

    if not _topk_subsumes(man, group_cols, order_by, k):
        return base_now(), None
    if man["fingerprint"] == _fingerprint(man["source_path"]):
        stored = read_dir(spark, _data_dir(d, man))
        return _topk_of(stored, group_cols, order_by, k), "mv"
    mor_man = _read_manifest(man["mor_root"])
    latest = (
        mor_man["seqs"][-1]["seq"]
        if mor_man["seqs"]
        else mor_man.get("base_seq", 0)
    )
    applied = man["applied_seq"]
    moved, benign = _mutation_drift(mor_man, man)
    if (moved and not benign) or not (
        mor_man.get("base_seq", 0) <= applied <= latest
    ):
        return base_now(), None
    stored = read_dir(spark, _data_dir(d, man))
    if applied == latest:
        return _topk_of(stored, group_cols, order_by, k), "mv"
    feed = project(
        change_feed_mor(spark, man["mor_root"], applied, latest)
    )
    changes = changes_from_feed(
        feed, [c for c in feed.columns if c != "change_type"]
    )
    base_new = project(
        read_mor(spark, man["mor_root"]).withColumn(
            "change_type", F.lit("insert")
        )
    ).drop("change_type")
    composed = _folded_topk(spark, man, stored, changes, base_new)
    return _topk_of(composed, group_cols, order_by, k), "mv_delta"


def answer_topk_policied(
    spark: SparkSession,
    mv_root: str,
    name: str,
    project,
    *,
    group_cols: Sequence[str],
    order_by: Sequence,
    k: int,
    max_live_span: int = 8,
    max_live_delete_keys: int | None = None,
    expected_requests: int | None = None,
    cost_model: dict | None = None,
) -> tuple[DataFrame, str]:
    """Policy-routed top-k serving — the ranked sibling of
    ``plans.mv.answer_aggregate_policied``: ``plan_serve_policy`` is
    manifest-metadata-only and kind-agnostic (a top-k manifest carries
    the same fingerprint/applied_seq/mor_mutations contract), so the
    SAME zero-job decision — staleness mechanics plus the round-19
    workload economics — routes mv / live / maintain-then-serve /
    base, executed with the top-k verbs. A mutation racing the policy
    read degrades through the live serve's own base fallback instead
    of raising from a read path. Returns ``(df, action)``."""
    from .mv import plan_serve_policy

    pol = plan_serve_policy(
        mv_root, name,
        max_live_span=max_live_span,
        max_live_delete_keys=max_live_delete_keys,
        expected_requests=expected_requests,
        cost_model=cost_model,
    )
    maintained = False
    if pol["action"] == "maintain":
        try:
            maintain_topk_from_mor(spark, mv_root, name, project)
            maintained = True
        except RuntimeError:
            pass  # degrade to the live serve's own fallback
    df, mode = answer_topk_live(
        spark, mv_root, name, project,
        group_cols=group_cols, order_by=order_by, k=k,
    )
    if mode == "mv":
        action = "maintain" if maintained else "mv"
    elif mode == "mv_delta":
        action = "live"
    else:
        action = "base"
    return df, action

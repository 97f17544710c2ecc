"""Materialized views with aggregate-navigation query rewrite.

Open-source Spark has no materialized-view rewrite: a BI query that
groups a 100 TB fact by two columns re-scans the fact even when a
kilobyte summary table already answers it. This module supplies the
classic OLAP answer (aggregate navigation — the Kimball/Calcite
materialized-view-matching idea, public in both literatures):

- ``create_mv`` persists PARTIAL aggregates (sum/count/min/max) at a
  declared group-column granularity, plus a manifest recording the
  grouping, the measure lineage, and a SOURCE-STATE FINGERPRINT.
- ``answer_aggregate`` plans a requested ``groupBy(cols).agg(...)``:
  if some registered MV SUBSUMES the request — its group columns are a
  superset of the requested ones (so the request is a rollup of the MV)
  and every requested measure is derivable from its partials — the plan
  reads the MV and re-aggregates; otherwise it computes from the base.
  Derivations: ``sum ← sum of partial sums``, ``count ← sum of partial
  counts``, ``min/max ← min/max of partials``, ``avg ← derived
  sum DIV/÷ derived count`` (never an average of averages).
- **Staleness guard**: the rewrite is used ONLY if the source's current
  file state matches the fingerprint captured at create/refresh time —
  a stale MV silently serving old numbers is the classic MV bug, so the
  planner falls back to the base instead. ``refresh_mv`` recomputes
  into a NEW data generation and re-fingerprints.

Publishing (round 17): every refresh/maintain/scrub writes a NEW
versioned data generation (``data-NNNNNN``) and the MANIFEST is the
single atomic publish point — data dir, fingerprint, and stored-row
statistic flip together, so no crash window can leave folded data
behind an old fingerprint (the round-16 double-fold hazard is gone by
construction: an unpublished generation is orphan debris, the live one
is byte-untouched, a retry folds once). Old generations stay on disk
as a reader grace window; ``read_mv_lease`` upgrades it to an ENFORCED
cross-process one (the same lease discipline as ``plans.mor``): while
any unexpired lease exists, maintenance defers sweeping them, so a
lock-free dashboard reader's lazy plan over the previous generation
stays materializable across any number of refreshes.

At 100 TB this is the difference between a dashboard query costing a
fact-table scan and costing an MB-scale summary read; the fingerprint
is what a table format's snapshot id provides for free. Candidate
choice among multiple subsuming MVs: fewest group columns (coarsest =
smallest) wins.

Reference analog: the reference's enriched topic feeds downstream
consumers that overwhelmingly run the same per-table/per-op rollups
(docs/architecture.md:9-73); a summary-serving layer is how that is
made cheap at scale.
"""

from __future__ import annotations

import json
import os
import shutil
from collections.abc import Sequence

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..sources.tables import read_dir, seed_schema_cache
from .layout import maintenance_lock
from .mor import any_active_lease, lease_scope
from .tuning import job_label

#: requested-measure functions the rewriter understands.
#: ``approx_distinct`` stores a MERGEABLE Datasketches HLL sketch per
#: group (Spark's hll_sketch_agg) — count-distinct is the one classic
#: measure plain partials cannot roll up (distinct sets don't sum), and
#: the sketch union (hll_union_agg) is exactly what makes it servable
#: from a summary at every coarser granularity (the Druid-style OLAP
#: design, public in the Datasketches literature).
_DERIVABLE = ("sum", "count", "min", "max", "avg", "approx_distinct")

_DATA_FMT = "data-{:06d}"
_MV_LEASES = ".leases"


def _fingerprint(path: str) -> list:
    """Source file state (relpath, name, mtime_ns, size) — the staleness
    token. At 100 TB a table format's snapshot id plays this role."""
    state = []
    if os.path.isfile(path):
        st = os.stat(path)
        return [[".", os.path.basename(path), st.st_mtime_ns, st.st_size]]
    for dirpath, dirnames, filenames in os.walk(path):
        dirnames[:] = sorted(
            d for d in dirnames if not d.startswith((".", "_"))
        )
        for fn in sorted(filenames):
            if fn.startswith((".", "_")):
                continue
            st = os.stat(os.path.join(dirpath, fn))
            state.append(
                [os.path.relpath(dirpath, path), fn,
                 st.st_mtime_ns, st.st_size]
            )
    return state


def _mv_dir(mv_root: str, name: str) -> str:
    return os.path.join(mv_root, name)


def source_token(path: str) -> list:
    """Capture a source's CURRENT state token — call this WHEN a
    changeset is cut (before deriving it), then hand the token to
    ``maintain_mv``/``scrub_mv_groups``: they publish THIS token and
    fail loud if the source moved past it mid-maintenance (round-15
    verdict: fingerprinting at publish time would stamp an MV fresh
    while missing a changeset that landed between derivation and
    publish — silent staleness, the exact bug the fingerprint exists to
    prevent). For merge-on-read sources pass the MANIFEST path; its
    mutation counter / sequence list is the snapshot pointer."""
    return _fingerprint(path)


def _data_dir(d: str, man: dict) -> str:
    """The MV's CURRENT data generation dir — the manifest names it
    (``data_dir``); pre-round-17 manifests default to the legacy
    unversioned ``data``."""
    return os.path.join(d, man.get("data_dir", "data"))


def mv_data_dir(mv_root: str, name: str) -> str:
    """Public resolver for an MV's current data dir (tests/tools read
    the stored partials directly): manifest-routed, since every publish
    lands in a NEW generation dir."""
    d = _mv_dir(mv_root, name)
    with open(os.path.join(d, "mv.json")) as f:
        return _data_dir(d, json.load(f))


def read_mv_lease(mv_root: str, name: str, ttl_sec: float = 300.0):
    """Pin an MV's CURRENT data generation for a lock-free reader —
    the ``plans.mor.read_lease`` discipline extended to the summary
    layer (round-16 verdict: the MoR layer deferred grace-window
    deletions behind reader leases while the MV publish deleted the
    old data immediately — and the MV is the layer a dashboard reader
    actually scans). While any unexpired lease file exists under the
    MV's ``.leases/``, maintenance defers sweeping old data
    generations, so a lazy plan built over the pre-refresh generation
    stays materializable across refresh/maintain/scrub. Context
    manager; cross-process; crash-safe via TTL expiry; writers never
    block — only the deferred cleanup waits."""
    return lease_scope(
        os.path.join(_mv_dir(mv_root, name), _MV_LEASES), ttl_sec
    )


def _sweep_mv(d: str, man: dict) -> None:
    """Remove superseded data generations and staging debris for one
    MV — called at the start of every maintenance verb, mirroring
    ``plans.mor._sweep_orphans``. Dotted ``.data-*.staging`` dirs were
    never readable and sweep unconditionally; non-current generations
    (the reader grace window — either formerly published, or a crashed
    publish's never-published orphan) sweep only when no unexpired
    reader lease exists, re-checked immediately before each deletion
    (the MoR TOCTOU discipline)."""
    cur = man.get("data_dir", "data")
    lease_dir = os.path.join(d, _MV_LEASES)
    for f in os.listdir(d):
        p = os.path.join(d, f)
        if f.startswith(".data-") and f.endswith(".staging"):
            shutil.rmtree(p, ignore_errors=True)
        elif (
            (f == "data" or f.startswith("data-"))
            and f != cur
            and not any_active_lease(lease_dir)
        ):
            shutil.rmtree(p, ignore_errors=True)


def _stage_data(d: str, man: dict, out: DataFrame, pre_swap=None) -> int:
    """Write the MV's new rows as a NEW data generation and point the
    in-memory manifest at it; the caller's ``_publish_manifest`` is the
    single ATOMIC publish point (data dir + fingerprint + n_groups flip
    together). Crash anywhere before that publish leaves the live MV
    byte-untouched — old data, old fingerprint — so a retried
    maintenance folds ONCE onto the original partials (this closes the
    round-16 advice window: the old in-place swap could crash between
    the data rename and the manifest write, leaving folded data behind
    the old fingerprint for a retry to double-fold). The superseded
    generation stays on disk as the reader grace window until a later
    verb's ``_sweep_mv`` (lease-deferred).

    ``pre_swap`` (maintenance's derivation-token check) runs AFTER the
    expensive staging write but BEFORE the generation rename: if it
    raises, only staging debris remains.

    Returns the staged ROW COUNT, observed on the write itself
    (``Observation`` rides the staging job), so publishers refresh
    their stored-row statistic without a follow-up count job."""
    cur = man.get("data_dir", "data")
    gen = (int(cur.rsplit("-", 1)[1]) + 1) if "-" in cur else 1
    # first FREE generation: a crashed publish's orphan (or a
    # lease-held old generation) must never collide
    while os.path.exists(os.path.join(d, _DATA_FMT.format(gen))):
        gen += 1
    new = _DATA_FMT.format(gen)
    staged = os.path.join(d, f".{new}.staging")
    shutil.rmtree(staged, ignore_errors=True)
    obs = Observation()
    out.observe(obs, F.count(F.lit(1)).alias("rows")).write.mode(
        "overwrite"
    ).parquet(staged)
    if pre_swap is not None:
        try:
            pre_swap()
        except BaseException:
            shutil.rmtree(staged, ignore_errors=True)
            raise
    os.rename(staged, os.path.join(d, new))
    man["data_dir"] = new
    # seed the schema cache for the generation just published: the next
    # reader (often a registered query's job-free plan construction)
    # must not pay a schema-inference job for a schema this verb knows
    seed_schema_cache(os.path.join(d, new), out.schema)
    return int(obs.get["rows"])


def _publish_manifest(d: str, man: dict) -> None:
    tmp = os.path.join(d, "mv.json.tmp")
    with open(tmp, "w") as f:
        json.dump(man, f)
    os.replace(tmp, os.path.join(d, "mv.json"))


def _stamp_fingerprint(man: dict, token: list | None) -> None:
    """Stamp the manifest's freshness fingerprint(s). With a
    derivation-time ``token``, verify the source has NOT moved past it
    (fail loud — the changeset being folded no longer describes the
    source's current state) and publish the token; without one, publish
    the source's current state (the documented single-writer
    assumption: nothing landed since the caller cut the changeset)."""
    current = _fingerprint(man["source_path"])
    if token is not None:
        if token != current:
            raise RuntimeError(
                f"source {man['source_path']} moved past the "
                "derivation-time token while maintenance ran; the folded "
                "changeset no longer reaches the source's current state "
                "— re-cut the changeset (or refresh_mv)"
            )
        man["fingerprint"] = token
    else:
        man["fingerprint"] = current


def _partials(measures: dict) -> tuple[list, dict]:
    """(aggregate exprs for the MV build, partial-column metadata).
    Each measure (fn, col) stores the partials its rollup needs.
    ``count(*)`` (col=None) uses the shared all-rows ``__cnt``;
    ``count(col)`` and ``avg(col)`` store the per-column NON-NULL count
    ``__cnt_{col}`` — ANSI AVG/COUNT(col) skip NULLs, so dividing the
    null-skipping sum by the all-rows count would be silently wrong on
    any nullable measure column."""
    exprs: dict[str, object] = {"__cnt": F.count("*")}
    meta: dict[str, dict] = {}
    for out, (fn, col) in measures.items():
        if fn not in _DERIVABLE:
            raise ValueError(
                f"measure {out}: fn must be one of {_DERIVABLE}, got {fn}"
            )
        if fn == "count" and col is None:
            meta[out] = {"fn": "count", "col": None}
            continue
        if fn in ("count", "avg"):
            exprs[f"__cnt_{col}"] = F.count(col)
        if fn == "count":
            meta[out] = {
                "fn": "count", "col": col, "partial": f"__cnt_{col}"
            }
            continue
        if fn == "approx_distinct":
            part = f"__hll_{col}"
            exprs[part] = F.hll_sketch_agg(col)
            meta[out] = {
                "fn": "approx_distinct", "col": col, "partial": part
            }
            continue
        part = f"__{fn if fn != 'avg' else 'sum'}_{col}"
        if fn in ("sum", "avg"):
            exprs[part] = F.sum(col)
        elif fn == "min":
            exprs[part] = F.min(col)
        else:
            exprs[part] = F.max(col)
        meta[out] = {"fn": fn, "col": col, "partial": part}
    return [e.alias(n) for n, e in exprs.items()], meta


def create_mv(
    spark: SparkSession,
    mv_root: str,
    *,
    name: str,
    source_path: str,
    source: DataFrame,
    group_cols: Sequence[str],
    measures: dict,
) -> dict:
    """Materialize ``source`` grouped by ``group_cols`` with partial
    aggregates for ``measures`` (``{out_name: (fn, col)}``, fn ∈
    sum/count/min/max/avg). ``source_path`` is the fingerprinted
    base-table directory ``source`` reads from."""
    group_cols = list(group_cols)
    exprs, meta = _partials(dict(measures))
    os.makedirs(mv_root, exist_ok=True)
    with maintenance_lock(mv_root), job_label(spark, "mv.create"):
        d = _mv_dir(mv_root, name)
        if os.path.exists(os.path.join(d, "mv.json")):
            raise ValueError(f"materialized view {name} already exists")
        data0 = _DATA_FMT.format(0)
        obs = Observation()
        built = source.groupBy(*group_cols).agg(*exprs)
        built.observe(obs, F.count(F.lit(1)).alias("rows")).write.mode(
            "errorifexists"
        ).parquet(os.path.join(d, data0))
        seed_schema_cache(os.path.join(d, data0), built.schema)
        man = {
            "name": name,
            "source_path": source_path,
            "group_cols": group_cols,
            "measures": meta,
            "data_dir": data0,
            "fingerprint": _fingerprint(source_path),
        }
        man["n_groups"] = int(obs.get["rows"])
        _publish_manifest(d, man)
        return man


def refresh_mv(
    spark: SparkSession, mv_root: str, name: str, source: DataFrame
) -> dict:
    """Recompute the MV against the source's CURRENT state into a new
    data generation; the manifest publish is the atomic flip, the old
    generation stays as the (lease-enforceable) reader grace window."""
    with maintenance_lock(mv_root), job_label(spark, "mv.refresh"):
        d = _mv_dir(mv_root, name)
        with open(os.path.join(d, "mv.json")) as f:
            man = json.load(f)
        _sweep_mv(d, man)
        exprs, _ = _partials(
            {
                out: (m["fn"], m["col"])
                for out, m in man["measures"].items()
            }
        )
        man["n_groups"] = _stage_data(
            d, man, source.groupBy(*man["group_cols"]).agg(*exprs)
        )
        man["fingerprint"] = _fingerprint(man["source_path"])
        if "dim_paths" in man:
            man["dim_fingerprints"] = [
                _fingerprint(p) for p in man["dim_paths"]
            ]
        _publish_manifest(d, man)
        return man


def maintain_mv(
    spark: SparkSession,
    mv_root: str,
    name: str,
    changes: DataFrame,
    *,
    base_new: DataFrame,
    source_token: list | None = None,
) -> dict:
    """INCREMENTAL maintenance of an MV from a z-weighted changeset —
    the CDC-to-summary loop closed: a MERGE lands on the fact, the same
    changeset (insert = +1 row, delete = −1 row with the BEFORE image,
    update = the −1/+1 pair) folds into the MV's partials, and the
    rewrite keeps serving fresh numbers without ever recomputing the
    summary from the 100 TB fact.

    Delegates the aggregate math to
    ``operators/materialize.mv_partial_delta_maintain`` (the
    multi-measure-column generalization of round-13's non-invertible
    IVM): count / sum / per-column NON-NULL count fold invertibly from
    the delta alone; MIN/MAX fold on inserts and recompute ONLY the
    groups whose stored extremum (of ANY measure column) a delete
    reached, semi-join-pruned from ``base_new`` (the post-changeset
    fact projection — the only time the fact is touched, and only for
    risky groups). ``changes`` carries the group columns + every
    measure column + ``__z`` (+1/−1). Sum-bearing measure columns must
    be integral (bigint cents — the telescoping-sum contract): a
    non-integral stored sum partial fails loud instead of silently
    truncating through the fold's long arithmetic.

    Publishes via the same atomic data-dir swap as ``refresh_mv``.
    Freshness stamping: pass ``source_token`` (captured via
    :func:`source_token` WHEN the changeset was cut) and the publish
    verifies the source has not moved past it — failing LOUD if a
    second merge landed mid-maintenance instead of stamping the MV
    fresh while missing that changeset (round-15 verdict). Without a
    token the source's current state is stamped (the documented
    single-writer assumption). Work is O(changeset + groups +
    risky-group base scan) vs refresh_mv's full fact pass."""
    with maintenance_lock(mv_root), job_label(spark, "mv.maintain"):
        d = _mv_dir(mv_root, name)
        with open(os.path.join(d, "mv.json")) as f:
            man = json.load(f)
        _fold_changes_and_swap(
            spark, d, man, changes, base_new,
            pre_swap=lambda: _stamp_fingerprint(man, source_token),
        )
        _publish_manifest(d, man)
        return man


def _measure_spec(man: dict) -> dict[str, set]:
    """Per-column partial spec from the manifest's measure lineage."""
    _KIND = {"sum": "sum", "avg": "sum", "count": "cnt",
             "min": "min", "max": "max", "approx_distinct": "hll"}
    spec: dict[str, set] = {}
    for m in man["measures"].values():
        if m["col"] is None:
            continue  # count(*) rides the shared __cnt
        spec.setdefault(m["col"], set()).add(_KIND[m["fn"]])
        if m["fn"] in ("avg", "count"):
            spec[m["col"]].add("cnt")
    return spec


def _folded_partials(
    spark: SparkSession,
    d: str,
    man: dict,
    changes: DataFrame,
    base_new: DataFrame,
    precheck_risky: bool = True,
) -> DataFrame:
    """LAZY plan for the MV's post-changeset partial rows, every group
    included: validate the changeset and the integral sum partials,
    then delegate to ``mv_partial_delta_maintain`` with
    ``include_untouched=True``. A count/sum MV folds as one union and
    aggregate of stored and delta rows; an MV with a min/max/hll
    column folds through a full outer join and recomputes its risky
    groups from ``base_new`` (a DataFrame or a lazy callable, see the
    operator). Shared by maintenance, which stages and publishes the
    result, and the live serves, which roll the partials up at query
    time without publishing. ``precheck_risky`` runs one probe job to
    skip the risky leg — right for maintenance VERBS; the live serves
    pass False so plan construction stays job-free."""
    from ..operators.materialize import mv_partial_delta_maintain

    group_cols = man["group_cols"]
    spec = _measure_spec(man)
    missing = [
        c for c in list(group_cols) + sorted(spec) + ["__z"]
        if c not in changes.columns
    ]
    if missing:
        raise ValueError(f"changes lacks column(s) {missing}")
    if not callable(base_new):
        missing = [
            c for c in list(group_cols) + sorted(spec)
            if c not in base_new.columns
        ]
        if missing:
            raise ValueError(f"base_new lacks column(s) {missing}")
    data = read_dir(spark, _data_dir(d, man))
    _INTEGRAL = ("bigint", "int", "smallint", "tinyint")
    dtypes = dict(data.dtypes)
    for c, kinds in spec.items():
        if "sum" in kinds and dtypes.get(f"__sum_{c}") not in _INTEGRAL:
            raise ValueError(
                f"maintain_mv needs an integral sum partial (the "
                f"telescoping-sum contract); __sum_{c} is "
                f"{dtypes.get(f'__sum_{c}')} — refresh_mv this MV "
                "instead, or store the measure as integer cents"
            )
    new_rows = mv_partial_delta_maintain(
        data, base_new, changes, group_cols, spec,
        precheck_risky=precheck_risky,
        include_untouched=True,
    )
    return new_rows.select(*data.columns)


def _fold_changes_and_swap(
    spark: SparkSession,
    d: str,
    man: dict,
    changes: DataFrame,
    base_new: DataFrame,
    pre_swap=None,
) -> None:
    """The shared incremental-fold core of plain and join MV
    maintenance: checkpoint the changeset, then stage
    :func:`_folded_partials`' result as a new data generation.
    Fingerprint stamping is the CALLER's (plain and join MVs stamp
    different source sets) — passed as ``pre_swap`` so a
    derivation-token mismatch aborts BEFORE the publish, leaving the
    stored partials byte-untouched for a re-cut retry. The
    ``precheck_risky`` probe is affordable here: maintenance is a
    VERB, jobs allowed, and for an MV with a min/max/hll column the
    probe skips the risky-recompute leg — and with it the base scan —
    in the common no-extremum-hit batch."""
    _sweep_mv(d, man)
    # Materialize AND lineage-truncate the changeset for the verb's
    # duration: it is O(changes) small, and the fold plan may reference
    # it more than once (the risky probe, the delta aggregate, the
    # staging write). persist() would cache the rows, but every action
    # would still re-analyze the caller's whole feed lineage;
    # localCheckpoint(eager=True) pays one materialization and every
    # consumer then plans against a bare ExistingRDD scan. The live
    # serves call _folded_partials directly and stay job-free.
    changes = changes.localCheckpoint(eager=True)
    try:
        out = _folded_partials(
            spark, d, man, changes, base_new, precheck_risky=True
        )
        man["n_groups"] = _stage_data(d, man, out, pre_swap=pre_swap)
    finally:
        changes.unpersist()


def scrub_mv_groups(
    spark: SparkSession,
    mv_root: str,
    name: str,
    group_rows: DataFrame,
    *,
    source_token: list | None = None,
) -> dict:
    """GDPR erasure reaching the SUMMARY layer: remove every MV row
    whose group-column values match a row of ``group_rows`` (columns
    must be a non-empty subset of the MV's group columns — when an MV
    is keyed on a user/customer identifier, the GROUP VALUES are the
    PII that erasure must reach, even though the measures are
    aggregates). One anti-join over the O(groups) summary, atomic data
    swap, and a re-fingerprint against the source's CURRENT state.

    Correctness contract: call AFTER the fact-side purge. A purged key
    contributes zero rows to the post-purge fact, so dropping its group
    rows makes the MV EQUAL a full recompute — which is exactly why the
    re-fingerprint is sound. (Without the scrub the MV is merely stale:
    the fact purge bumps the source fingerprint — for merge-on-read
    sources the manifest's mutation counter — so the planner refuses to
    serve the purged contributions either way; the scrub is what
    restores summary serving WITHOUT a fact-scan refresh.) Returns
    ``{"groups_scrubbed": n}``."""
    with maintenance_lock(mv_root), job_label(spark, "mv.scrub"):
        d = _mv_dir(mv_root, name)
        with open(os.path.join(d, "mv.json")) as f:
            man = json.load(f)
        cols = list(group_rows.columns)
        bad = [c for c in cols if c not in man["group_cols"]]
        if bad or not cols:
            raise ValueError(
                f"scrub columns must be a non-empty subset of the MV's "
                f"group columns {man['group_cols']}; got {cols}"
            )
        from ..operators.materialize import _group_join

        if "mor_root" in man:
            # Round-19 ADVICE (medium): the scrub legitimately re-arms
            # the mutation counter across PURGES (post-purge + scrub,
            # the MV equals a full recompute) — but a ROLLBACK of a
            # sequence the MV already folded is a divergence no scrub
            # of any group subset can heal (the partials still hold
            # the popped sequence's contributions; reused sequence
            # numbers would then serve rolled-back rows). Refuse the
            # re-arm BEFORE touching data and demand a refresh.
            from .mor import _read_manifest as _read_mor_manifest

            cur_mor = _read_mor_manifest(man["mor_root"])
            recorded = man.get("mor_mutations", 0)
            current = cur_mor.get("mutations", 0)
            applied = man.get("applied_seq")
            folded_rollbacks = [
                e for e in cur_mor.get("rollback_events", [])
                if recorded < e["mutation"] <= current
                and (applied is None or e["seq"] <= applied)
            ]
            if folded_rollbacks:
                raise RuntimeError(
                    f"MV {name}: rollback of folded sequence(s) "
                    f"{sorted(e['seq'] for e in folded_rollbacks)} "
                    f"landed on {man['mor_root']} since bind — a scrub "
                    "cannot compensate a rollback (the stored partials "
                    "still hold the popped contributions); refresh_mv "
                    "+ re-bind"
                )
        _sweep_mv(d, man)
        data = read_dir(spark, _data_dir(d, man))
        keys = group_rows.distinct()
        # NULL-safe: a scrub row with a NULL group value reaches the
        # MV's NULL group (a USING join would never match it)
        n = _group_join(data, keys, cols, "left_semi").count()
        out = _group_join(data, keys, cols, "left_anti")
        # source_token = the state captured when the fact-side purge
        # finished (for MoR sources, the post-purge manifest): a second
        # mutation landing mid-scrub must not be stamped over — checked
        # as pre_swap so the abort leaves the summary byte-untouched
        man["n_groups"] = _stage_data(
            d, man, out,
            pre_swap=lambda: _stamp_fingerprint(man, source_token),
        )
        if "mor_root" in man:
            # the scrub is the ONE sanctioned way to re-align an MV
            # with a purged MoR table (post-scrub the MV equals a full
            # recompute), so it — and only it — refreshes the recorded
            # mutation counter, restoring maintain/live serving that
            # the out-of-band-rewrite guards suspend after a purge
            from .mor import _read_manifest as _read_mor_manifest

            man["mor_mutations"] = _read_mor_manifest(
                man["mor_root"]
            ).get("mutations", 0)
        _publish_manifest(d, man)
        return {"groups_scrubbed": n}


def changes_from_feed(feed: DataFrame, cols: Sequence[str]) -> DataFrame:
    """Adapt a CHANGE-FEED output (``change_type`` ∈ insert / delete /
    update_pre / update_post plus row-image columns — the contract both
    ``plans.merge.change_feed`` and ``plans.mor.change_feed_mor`` emit)
    into the z-weighted changeset ``maintain_mv`` folds: the post-change
    images (insert, update_post) weigh +1, the removed images (delete,
    update_pre) weigh −1. ``cols`` is the projection the MV needs (group
    columns + measure columns). This closes the CDC→table→summary loop
    with no hand-built delta: a MERGE lands, its feed maintains every
    downstream MV.

    FAIL-LOUD on any other ``change_type`` (round-15 verdict): a
    malformed or future-variant feed row (a ``truncate``, a misspelled
    type) must abort the fold, not silently weigh −1 and corrupt every
    downstream MV. The guard is an in-plan ``raise_error`` leg — zero
    extra jobs, it fires on the same pass that folds."""
    legal = ("insert", "update_post", "delete", "update_pre")
    return feed.select(
        *cols,
        F.when(
            F.col("change_type").isin("insert", "update_post"), F.lit(1)
        )
        .when(
            F.col("change_type").isin("delete", "update_pre"), F.lit(-1)
        )
        .otherwise(
            F.raise_error(
                F.concat(
                    F.lit(
                        "changes_from_feed: illegal change_type "
                    ),
                    F.coalesce(
                        F.col("change_type").cast("string"),
                        F.lit("NULL"),
                    ),
                    F.lit(f" (legal: {', '.join(legal)})"),
                )
            ).cast("int")
        )
        .alias("__z"),
    )


def _span_changes(
    spark: SparkSession, mor_root: str, applied: int, latest: int, project
) -> DataFrame:
    """The z-weighted changeset of a MoR table's span ``applied →
    latest`` for a plain MV: ``project`` applied once to the span's
    z-set (``plans.mor.change_zset_mor``), weighed by
    :func:`changes_from_feed` — ``insert`` +1, ``delete`` −1, and any
    other label the projection emits aborts the fold. An unchanged or
    projection-invisible row arrives as a cancelling −1/+1 pair."""
    from .mor import change_zset_mor

    feed = project(change_zset_mor(spark, mor_root, applied, latest))
    return changes_from_feed(
        feed, [c for c in feed.columns if c != "change_type"]
    )


def _lazy_base(spark: SparkSession, mor_root: str, project, as_of=None):
    """``base_new`` as a callable: the projected table state at
    ``as_of`` (``None`` = current), built only when a risky-group
    recompute asks for it — a count/sum MV never does."""
    from .mor import read_mor

    def base_new(_risky_keys):
        return _project_rows(project, read_mor(spark, mor_root, as_of))

    return base_new


def _project_rows(project, rows: DataFrame) -> DataFrame:
    """Apply a feed projection (which keeps ``change_type``) to plain
    table rows."""
    return project(
        rows.withColumn("change_type", F.lit("insert"))
    ).drop("change_type")


def _list_mvs(mv_root: str) -> list[dict]:
    out = []
    if not os.path.isdir(mv_root):
        return out
    for d in sorted(os.listdir(mv_root)):
        p = os.path.join(mv_root, d, "mv.json")
        if os.path.exists(p):
            with open(p) as f:
                man = json.load(f)
            if man.get("kind") == "topk":
                # a top-k MV stores ranked ROWS, not aggregate
                # partials — the aggregate rewriter cannot serve from
                # it (plans/mv_topk.answer_topk is its server)
                continue
            out.append(man)
    return out


#: simple-predicate operators the rewriter understands
_PRED_OPS = ("=", "!=", "<", "<=", ">", ">=", "in")

#: derived-group-key functions the rewriter understands. Each maps an
#: MV GROUP column to a COARSER deterministic key row-level, which is
#: exactly why serving is sound: re-keying the stored group values and
#: rolling the partials up is identical to grouping the base by the
#: expression (the classic time-dimension hierarchy — a date-grain MV
#: answers year/quarter/month dashboards without a fact scan).
_DERIVED_FNS = ("year", "quarter", "month", "date_trunc", "substr",
                "bucket")


def _norm_derived(derived) -> dict[str, tuple]:
    """Validate a ``derived`` spec ``{out_name: (fn, ...)}``:
    ``("year"|"quarter"|"month", col)``, ``("date_trunc", unit, col)``,
    ``("substr", col, pos, len)`` (1-based, ANSI SUBSTRING), or
    ``("bucket", col, width)`` (``floor(col / width) * width`` —
    numeric range binning). Malformed specs fail loud at plan time."""
    out = {}
    for name, spec in (derived or {}).items():
        spec = tuple(spec)
        if not spec:
            raise ValueError(
                f"derived {name}: empty spec — expected (fn, ...) with "
                f"fn one of {_DERIVED_FNS}"
            )
        fn = spec[0]
        if fn not in _DERIVED_FNS:
            raise ValueError(
                f"derived {name}: fn must be one of {_DERIVED_FNS}, "
                f"got {fn!r}"
            )
        want_len = {"year": 2, "quarter": 2, "month": 2,
                    "date_trunc": 3, "substr": 4, "bucket": 3}[fn]
        if len(spec) != want_len:
            raise ValueError(
                f"derived {name}: {fn} spec takes {want_len - 1} "
                f"argument(s), got {spec!r}"
            )
        out[name] = spec
    return out


def _derived_input(spec: tuple) -> str:
    """The underlying (MV group) column a derived key is computed
    from."""
    return spec[2] if spec[0] == "date_trunc" else spec[1]


def _derived_col(spec: tuple):
    fn = spec[0]
    if fn in ("year", "quarter", "month"):
        return getattr(F, fn)(F.col(spec[1]))
    if fn == "date_trunc":
        return F.date_trunc(spec[1], F.col(spec[2]))
    if fn == "substr":
        return F.substring(F.col(spec[1]), spec[2], spec[3])
    # bucket: floor(col / width) * width
    return (F.floor(F.col(spec[1]) / F.lit(spec[2]))
            * F.lit(spec[2]))


def _with_derived(df: DataFrame, derived: dict) -> DataFrame:
    # a derived out-name equal to an existing column would silently
    # withColumn-OVERWRITE it on BOTH serve routes (base and partials)
    # — the request would read as grouping by the original column while
    # actually grouping by the derivation; fail loud instead
    clash = [n for n in derived if n in df.columns]
    if clash:
        raise ValueError(
            f"derived name(s) {clash} collide with existing source/"
            "group columns — pick a fresh output name"
        )
    for name, spec in derived.items():
        df = df.withColumn(name, _derived_col(spec))
    return df


def _pred_expr(col: str, op: str, value):
    c = F.col(col)
    if op == "=":
        return c == F.lit(value)
    if op == "!=":
        return c != F.lit(value)
    if op == "<":
        return c < F.lit(value)
    if op == "<=":
        return c <= F.lit(value)
    if op == ">":
        return c > F.lit(value)
    if op == ">=":
        return c >= F.lit(value)
    if op == "in":
        return c.isin(*value)
    raise ValueError(f"predicate op must be one of {_PRED_OPS}, got {op}")


def _norm_where(where) -> list:
    """Normalize/validate a ``where`` spec into terms, conjoined.

    Grammar (round-16, OR-of-conjuncts): each term is either a simple
    ``(col, op, literal)`` triple, or a DISJUNCTION
    ``("or", [conjunct, conjunct, ...])`` whose legs are each a list of
    triples (AND within a leg, OR across legs) — the
    partition-style dashboard shape ``(region='EU' AND tier='gold') OR
    region='US'``. Ops are validated everywhere; malformed terms fail
    loud at plan time."""
    out = []
    for term in (where or []):
        term = tuple(term)
        if len(term) == 2 and term[0] == "or":
            legs = []
            for leg in term[1]:
                leg = [tuple(p) for p in leg]
                if not leg:
                    raise ValueError("empty OR leg in where spec")
                for col, op, _ in leg:
                    if op not in _PRED_OPS:
                        raise ValueError(
                            f"predicate op must be one of {_PRED_OPS}, "
                            f"got {op}"
                        )
                legs.append(leg)
            if not legs:
                raise ValueError("empty OR disjunction in where spec")
            out.append(("or", legs))
        elif len(term) == 3:
            if term[1] not in _PRED_OPS:
                raise ValueError(
                    f"predicate op must be one of {_PRED_OPS}, got "
                    f"{term[1]}"
                )
            out.append(term)
        else:
            raise ValueError(
                f"where term must be (col, op, literal) or "
                f"('or', [[(col, op, literal), ...], ...]); got {term!r}"
            )
    return out


def _where_cols(where: list) -> set:
    """Every column any leg of a normalized where spec touches — ALL of
    them must be MV group columns for the partials to express the
    filter exactly (any leg on a non-group column forces the base)."""
    cols = set()
    for term in where:
        if term[0] == "or":
            for leg in term[1]:
                cols.update(col for col, _, _ in leg)
        else:
            cols.add(term[0])
    return cols


def _where_expr(term):
    """One normalized term → a Column predicate."""
    if term[0] == "or":
        disj = None
        for leg in term[1]:
            conj = None
            for col, op, value in leg:
                e = _pred_expr(col, op, value)
                conj = e if conj is None else (conj & e)
            disj = conj if disj is None else (disj | conj)
        return disj
    col, op, value = term
    return _pred_expr(col, op, value)


def _measures_servable(man: dict, aggs: dict) -> bool:
    """Every requested measure derivable from the MV's lineage:
    ``count(*)`` from the always-stored ``__cnt``, ``count(col)`` /
    ``avg(col)`` from the per-column NON-NULL count partial, ``sum``
    from a sum or avg measure's sum partial, min/max from exact
    lineage. avg derives as sum ÷ non-null count — never an average of
    averages, never count(*)."""
    lineage = {(m["fn"], m["col"]) for m in man["measures"].values()}

    def ok(fn, col):
        if fn == "count" and col is None:
            return True  # __cnt always stored
        if fn == "count":
            return ("count", col) in lineage or ("avg", col) in lineage
        if fn == "sum":
            return ("sum", col) in lineage or ("avg", col) in lineage
        if fn == "avg":
            return ("avg", col) in lineage or (
                ("sum", col) in lineage and ("count", col) in lineage
            )
        return (fn, col) in lineage

    return all(ok(fn, col) for fn, col in aggs.values())


def _base_agg_exprs(aggs: dict) -> list:
    exprs = []
    for out, (fn, col) in aggs.items():
        if fn == "count" and col is None:
            exprs.append(F.count("*").alias(out))
        elif fn == "count":
            exprs.append(F.count(col).alias(out))
        elif fn == "avg":
            exprs.append(F.avg(col).alias(out))
        elif fn == "approx_distinct":
            # the SAME Datasketches HLL algorithm the MV route uses, so
            # routing never changes the estimator family
            exprs.append(
                F.hll_sketch_estimate(F.hll_sketch_agg(col)).alias(out)
            )
        else:
            exprs.append(getattr(F, fn)(col).alias(out))
    return exprs


def _mv_serve_exprs(man: dict, aggs: dict) -> list:
    """Rollup-of-partials expressions: sum of sums, sum of counts,
    min/max of partials, avg = derived sum ÷ derived NON-NULL count."""
    by_lineage = {
        (m["fn"], m["col"]): m.get("partial")
        for m in man["measures"].values()
    }
    exprs = []
    for out, (fn, col) in aggs.items():
        if fn == "count" and col is None:
            exprs.append(F.sum("__cnt").alias(out))
            continue
        if fn == "count":
            exprs.append(F.sum(f"__cnt_{col}").alias(out))
            continue
        if fn == "approx_distinct":
            # union of per-group sketches = the sketch of the union
            # (HLL register-wise max is order-insensitive and lossless
            # at equal lgK) — the rollup that plain partials cannot do
            exprs.append(
                F.hll_sketch_estimate(
                    F.hll_union_agg(f"__hll_{col}")
                ).alias(out)
            )
            continue
        part = by_lineage.get((fn, col)) or by_lineage.get(
            ("avg", col) if fn == "sum" else ("sum", col)
        )
        if fn in ("sum", "avg") and part is None:
            part = f"__sum_{col}"
        if fn == "sum":
            exprs.append(F.sum(part).alias(out))
        elif fn == "min":
            exprs.append(F.min(part).alias(out))
        elif fn == "max":
            exprs.append(F.max(part).alias(out))
        else:  # avg: derived sum over derived NON-NULL count
            exprs.append(
                (F.sum(part) / F.sum(f"__cnt_{col}")).alias(out)
            )
    return exprs


def _rollup_partials(
    df: DataFrame, man: dict, group_cols: list, aggs: dict,
    where: list, derived: dict | None = None,
) -> DataFrame:
    """Roll a DataFrame of the MV's PARTIAL rows up to the requested
    granularity — derived keys computed from the stored group values
    first, predicates filtering the partials exactly, measures via the
    partial-derivation expressions. Shared by the stored-data serve
    and the live (composed-partials) serve."""
    df = _with_derived(df, derived or {})
    for term in where:
        df = df.filter(_where_expr(term))
    return df.groupBy(*group_cols).agg(*_mv_serve_exprs(man, aggs))


def _serve_from_mv(
    spark: SparkSession, mv_root: str, man: dict,
    group_cols: list, aggs: dict, where: list,
    derived: dict | None = None,
) -> DataFrame:
    # schema-cached read (the read_version/read_mor discipline): a
    # registered query re-planning the same MV runs zero Spark jobs
    mv = read_dir(spark, _data_dir(_mv_dir(mv_root, man["name"]), man))
    return _rollup_partials(mv, man, group_cols, aggs, where, derived)


def _resolve_group_requirements(
    group_cols: list, where: list, derived: dict
) -> tuple[set, set]:
    """(columns the MV must group by to serve this request's GROUP
    keys, columns it must group by to express the predicates) —
    derived keys map to their input columns (a coarser key computed
    from a stored group column is always servable), everything else
    passes through. A group key that is neither a source column nor a
    declared derived key fails loud here via the derived lookup at the
    call sites (Spark would fail the base path anyway; the MV path
    must agree)."""
    need = {
        _derived_input(derived[c]) if c in derived else c
        for c in group_cols
    }
    pred_need = {
        _derived_input(derived[c]) if c in derived else c
        for c in _where_cols(where)
    }
    return need, pred_need


def answer_aggregate(
    spark: SparkSession,
    mv_root: str,
    source: DataFrame,
    source_path: str,
    *,
    group_cols: Sequence[str],
    aggs: dict,
    where: Sequence | None = None,
    having: Sequence | None = None,
    derived: dict | None = None,
) -> tuple[DataFrame, str | None]:
    """Plan ``source.filter(where).groupBy(group_cols).agg(aggs)
    [.having(...)]`` (``aggs``: ``{out: (fn, col)}``; ``where``:
    optional conjunction of terms — each a ``(col, op, literal)``
    triple, op ∈ ``=,!=,<,<=,>,>=,in``, or an OR-of-conjuncts
    disjunction ``("or", [[triple, ...], ...])``; ``having``: optional
    conjunction of ``(measure_out_name, op, literal)`` triples applied
    AFTER aggregation — post-agg, so it never affects subsumption and
    both routes filter the identical derived measures; ``derived``:
    optional ``{out_name: (fn, ...)}`` row-level group-key derivations
    — see :func:`_norm_derived` — letting a request group or filter by
    ``year(o_orderdate)``-style expressions of an MV group column, the
    time-dimension hierarchy shape: the MV serves by re-keying its
    STORED group values, which is exact for every partial kind),
    served from the best subsuming FRESH materialized view when one
    exists, else from the base. Returns ``(df, mv_name | None)`` so
    callers can assert the routing.

    Subsumption: ``mv.group_cols ⊇ group_cols``, every column ANY
    predicate leg touches is an MV group column (a predicate on
    grouping dimensions filters the partials exactly — the
    filtered-rollup shape BI dashboards hit constantly, now including
    disjunctive partition-style predicates; a leg on any other column
    forces the base), and every requested measure is derivable from the
    registered lineage (:func:`_measures_servable`). Freshness: the
    MV's fingerprint must equal the source's CURRENT file state —
    otherwise the MV is invisible to the planner (stale answers are
    wrong answers, not fast ones)."""
    group_cols = list(group_cols)
    aggs = dict(aggs)
    where = _norm_where(where)
    having = _norm_having(having, aggs)
    derived = _norm_derived(derived)
    need, pred_need = _resolve_group_requirements(
        group_cols, where, derived
    )
    man = _pick_plain_mv(mv_root, source_path, need, pred_need, aggs)
    if man is None:
        base = _with_derived(source, derived)
        for term in where:
            base = base.filter(_where_expr(term))
        df = base.groupBy(*group_cols).agg(*_base_agg_exprs(aggs))
        return _apply_having(df, having), None
    return (
        _apply_having(
            _serve_from_mv(
                spark, mv_root, man, group_cols, aggs, where, derived
            ),
            having,
        ),
        man["name"],
    )


def _norm_having(having, aggs: dict) -> list:
    """Validate a ``having`` spec: ``(measure_out_name, op, literal)``
    triples conjoined, each naming a requested output measure — the
    ANSI HAVING shape. Post-aggregation, so it never affects MV
    subsumption: both routes compute the same output measures and
    filter them identically."""
    out = []
    for term in (having or []):
        term = tuple(term)
        if len(term) != 3 or term[1] not in _PRED_OPS:
            raise ValueError(
                f"having term must be (measure, op, literal) with op in "
                f"{_PRED_OPS}; got {term!r}"
            )
        if term[0] not in aggs:
            raise ValueError(
                f"having references {term[0]!r}, not a requested "
                f"measure {sorted(aggs)}"
            )
        out.append(term)
    return out


def _apply_having(df: DataFrame, having: list) -> DataFrame:
    for out, op, value in having:
        df = df.filter(_pred_expr(out, op, value))
    return df


def _best_candidate(candidates: list) -> dict:
    """Cost-based choice: smallest STORED group-row count wins (the
    fewest-group-columns proxy mispicks when a 2-column MV over tiny
    dimensions is smaller than a 1-column MV over a high-cardinality
    key); every publish refreshes n_groups, len(group_cols) breaks
    ties deterministically."""
    return min(
        candidates,
        key=lambda m: (
            m.get("n_groups", float("inf")), len(m["group_cols"])
        ),
    )


def _pick_plain_mv(
    mv_root: str, source_path: str, want: set, pred_cols: set, aggs: dict
) -> dict | None:
    """Resolve the winning FRESH subsuming plain MV (or None): group
    superset, every predicate column a group column, every measure
    derivable, fingerprint current. Factored out so the grouping-set
    servers pick ONCE and pin the manifest for every set (round-16
    advice: per-set re-selection re-listed MVs and re-fingerprinted
    the source O(2ⁿ) times for a cube — and a source moving between
    probes could silently mix MV- and base-served levels computed from
    different source states)."""
    current = None  # lazily computed fingerprint
    candidates = []
    for man in _list_mvs(mv_root):
        if man.get("kind") == "join":
            continue  # join MVs answer only matching join requests
        if man["source_path"] != source_path:
            continue
        if not want <= set(man["group_cols"]):
            continue
        if not pred_cols <= set(man["group_cols"]):
            continue
        if not _measures_servable(man, aggs):
            continue
        if current is None:
            current = _fingerprint(source_path)
        if man["fingerprint"] != current:
            continue  # stale — invisible
        candidates.append(man)
    return _best_candidate(candidates) if candidates else None


#: Above this many grouping sets the per-set union's PLANNING cost
#: outgrows the native Expand (a 7-column cube is 128 union branches),
#: so every grouping server answers natively before any MV lookup.
_MAX_SERVED_SETS = 64


def rollup_sets(cols: Sequence[str]) -> list[list[str]]:
    """``ROLLUP(cols)`` as grouping sets: the prefixes, finest first —
    ``(c₁..cₙ), (c₁..cₙ₋₁), …, ()``."""
    cols = list(cols)
    return [cols[:i] for i in range(len(cols), -1, -1)]


def cube_sets(cols: Sequence[str]) -> list[list[str]]:
    """``CUBE(cols)`` as grouping sets: all 2ⁿ subsets, finest first
    (the routing probe), then by decreasing arity."""
    cols = list(cols)
    sets = [
        [c for i, c in enumerate(cols) if not (mask >> i) & 1]
        for mask in range(2 ** len(cols))
    ]
    return sorted(sets, key=lambda s: (-len(s), s))


def _finest_set(sets) -> tuple[list, list]:
    """Normalize ``sets`` and derive the GROUP BY columns: their ordered
    union, the finest set, which subsumes every requested one."""
    sets = [list(s) for s in sets]
    return list(dict.fromkeys(c for s in sets for c in s)), sets


def _base_sets(
    base: DataFrame, group_cols: list, sets: list, aggs: dict,
    where: list, derived: dict,
) -> DataFrame:
    """The grouping servers' fallback: one native ``groupingSets`` pass
    over the derived, filtered base (|sets|-way Expand replication)."""
    base = _with_derived(base, derived)
    for term in where:
        base = base.filter(_where_expr(term))
    return base.groupingSets(sets, *group_cols).agg(*_base_agg_exprs(aggs))


def answer_grouping_sets(
    spark: SparkSession,
    mv_root: str,
    source: DataFrame,
    source_path: str,
    *,
    sets: Sequence[Sequence[str]],
    aggs: dict,
    where: Sequence | None = None,
    derived: dict | None = None,
) -> tuple[DataFrame, str | None]:
    """Plan ``GROUP BY GROUPING SETS (sets)`` over ``source`` — ANSI
    NULL markers in each set's rolled-away columns, sets served in the
    given order; ``rollup_sets(cols)`` / ``cube_sets(cols)`` spell
    ROLLUP and CUBE. The output's group columns are the sets' ordered
    union; ``where`` / ``derived`` as in :func:`answer_aggregate`.

    Served ENTIRELY from a materialized view when one subsumes the
    FINEST possible set (that union) — that subsumes every requested
    set, so the decision is all-or-nothing. The winning
    manifest is resolved ONCE and pinned for every set: one MV listing,
    one fingerprint check, and every level rolls up from the SAME
    stored partials (sum of sums, min of mins, avg as sum-partial over
    non-null-count partial) — never a mix of MV- and base-served levels
    from different source states. Each level reads a KB-scale summary
    instead of a fact pass with |sets|-way Expand replication. NULL
    markers assume non-null group values (the ANSI ambiguity
    GROUPING__ID resolves). Falls back to the base's native
    ``groupingSets`` — also, before any MV lookup, for more than
    ``_MAX_SERVED_SETS`` sets. Returns ``(df, mv_name | None)``."""
    group_cols, sets = _finest_set(sets)
    aggs = dict(aggs)
    where = _norm_where(where)
    derived = _norm_derived(derived)
    man = None
    if len(sets) <= _MAX_SERVED_SETS:
        need, pred_need = _resolve_group_requirements(
            group_cols, where, derived
        )
        man = _pick_plain_mv(mv_root, source_path, need, pred_need, aggs)
    if man is None:
        return _base_sets(
            source, group_cols, sets, aggs, where, derived
        ), None
    return (
        _serve_sets_pinned(
            spark, mv_root, man, group_cols, sets, aggs, where, derived
        ),
        man["name"],
    )


def _serve_sets_pinned(
    spark: SparkSession,
    mv_root: str,
    man: dict,
    group_cols: list,
    sets: list,
    aggs: dict,
    where: list,
    derived: dict | None = None,
) -> DataFrame:
    """Union one MV-served aggregate per grouping set — typed-NULL
    markers in each set's rolled-away columns — all from ONE pinned
    manifest. Works identically for plain and join MVs (serving only
    ever reads the summary's data generation)."""
    mv = read_dir(spark, _data_dir(_mv_dir(mv_root, man["name"]), man))
    return _serve_sets_from_partials(
        mv, man, group_cols, sets, aggs, where, derived
    )


def _serve_sets_from_partials(
    partials: DataFrame,
    man: dict,
    group_cols: list,
    sets: list,
    aggs: dict,
    where: list,
    derived: dict | None = None,
) -> DataFrame:
    """The grouping-construct union over an ARBITRARY partials
    DataFrame — the stored generation (pinned serve) or the live
    ``stored ⊕ unapplied-feed`` compose (live hierarchies). Taking the
    partials as a plan guarantees every level rolls up from the
    IDENTICAL source state: one manifest pin and (for the live path)
    ONE unapplied-span cut per REQUEST — levels can never mix a
    pre-merge grand total with post-merge leaves."""
    finest = _rollup_partials(
        partials, man, group_cols, aggs, where, derived
    )
    types = dict(finest.dtypes)
    out = None
    for gset in sets:
        if gset == group_cols:
            df = finest  # the probe plan, reused
        else:
            df = _rollup_partials(
                partials, man, gset, aggs, where, derived
            )
        rolled = [
            F.lit(None).cast(types[c]).alias(c)
            for c in group_cols
            if c not in gset
        ]
        df = df.select(*gset, *rolled, *aggs)
        out = df if out is None else out.unionByName(df)
    return out


# ---------------------------------------------------------------------------
# Join-bearing materialized views (round 16): star-join rollups served
# from an incrementally maintained summary — the most common real BI
# accelerator (fact ⋈ dims GROUP BY dim attributes; the reference's
# per-table/per-op dashboards joined to dimension metadata,
# docs/architecture.md:9-73, are exactly this shape).
# ---------------------------------------------------------------------------


def _join_all(fact: DataFrame, dims: Sequence[tuple]) -> DataFrame:
    joined = fact
    for entry in dims:
        dim, on = entry[0], list(entry[-1])
        joined = joined.join(dim, on)
    return joined


def pruned_star_base(
    fact: DataFrame, dims: Sequence[tuple], group_cols: Sequence[str]
):
    """A lazily-pruned ``base_new`` for join-MV maintenance: returns a
    callable the recompute leg invokes with the distinct RISKY group
    tuples, pushing the pruning through the star join — a semi-join on
    the joined result's group columns cannot be pushed through the join
    by the optimizer, so without this the risky recompute re-pays the
    FULL star join even for one risky group.

    Per side, sound superset filters, every group-column semi-join
    NULL-safe (a NULL group value is one group, as in the fold): each
    dim is semi-joined on whatever subset of the group columns it
    carries (a dim row whose group components match no risky tuple
    can contribute no risky joined row); the fact is semi-joined on its
    own group-column subset and then on each pruned dim's join keys (an
    inner-join fact row whose dim partner was pruned cannot survive).
    The exactness semi-join on the FULL group tuple still runs
    downstream in ``mv_partial_delta_maintain``. Net: the recompute
    collapses to a filtered scan + joins against risky-sized dim slices
    — at 100 TB the difference between "one group recomputes" and "the
    star join re-runs". ``dims``: ``[(dim_df, on_cols), ...]`` in join
    order."""
    from ..operators.materialize import _group_join

    group_cols = list(group_cols)

    def build(risky_keys: DataFrame) -> DataFrame:
        f = fact
        gf = [c for c in group_cols if c in fact.columns]
        if gf:
            f = _group_join(
                f, risky_keys.select(*gf).distinct(), gf, "left_semi"
            )
        pruned = []
        for dim, on in dims:
            on = list(on)
            gd = [c for c in group_cols if c in dim.columns]
            d2 = (
                _group_join(
                    dim, risky_keys.select(*gd).distinct(), gd,
                    "left_semi",
                )
                if gd
                else dim
            )
            f = f.join(d2.select(*on).distinct(), on, "left_semi")
            pruned.append((d2, on))
        return _join_all(f, pruned)

    return build


def create_join_mv(
    spark: SparkSession,
    mv_root: str,
    *,
    name: str,
    fact: DataFrame,
    fact_path: str,
    dims: Sequence[tuple],
    group_cols: Sequence[str],
    measures: dict,
) -> dict:
    """Materialize ``fact ⋈ dim₁ ⋈ … GROUP BY group_cols`` with partial
    aggregates — group columns may come from ANY side (the point: a
    rollup keyed on dimension attributes, servable without re-running
    the join). ``dims``: ``[(dim_df, dim_path, on_cols), ...]`` in join
    order; join columns must be same-named on both sides (rename
    before calling — standard equi-join hygiene). The manifest records
    the full join topology (fact path, dim paths, join keys) plus a
    fingerprint PER source: the MV is fresh only while EVERY input is
    unchanged — a dim edit (e.g. a customer moved to another nation)
    invalidates the summary exactly like a fact merge does."""
    group_cols = list(group_cols)
    exprs, meta = _partials(dict(measures))
    os.makedirs(mv_root, exist_ok=True)
    with maintenance_lock(mv_root), job_label(spark, "mv.create_join"):
        d = _mv_dir(mv_root, name)
        if os.path.exists(os.path.join(d, "mv.json")):
            raise ValueError(f"materialized view {name} already exists")
        data0 = _DATA_FMT.format(0)
        obs = Observation()
        built = _join_all(fact, dims).groupBy(*group_cols).agg(*exprs)
        built.observe(obs, F.count(F.lit(1)).alias("rows")).write.mode(
            "errorifexists"
        ).parquet(os.path.join(d, data0))
        seed_schema_cache(os.path.join(d, data0), built.schema)
        man = {
            "name": name,
            "kind": "join",
            "source_path": fact_path,
            "dim_paths": [p for _, p, _ in dims],
            "join_on": [list(on) for _, _, on in dims],
            "group_cols": group_cols,
            "measures": meta,
            "data_dir": data0,
            "fingerprint": _fingerprint(fact_path),
            "dim_fingerprints": [_fingerprint(p) for _, p, _ in dims],
        }
        man["n_groups"] = int(obs.get["rows"])
        _publish_manifest(d, man)
        return man


def _join_sources_fresh(man: dict, fact_path: str, dim_paths: list) -> bool:
    if man["source_path"] != fact_path or man["dim_paths"] != dim_paths:
        return False
    if man["fingerprint"] != _fingerprint(fact_path):
        return False
    return all(
        man["dim_fingerprints"][i] == _fingerprint(p)
        for i, p in enumerate(dim_paths)
    )


def answer_join_aggregate(
    spark: SparkSession,
    mv_root: str,
    fact: DataFrame,
    fact_path: str,
    dims: Sequence[tuple],
    *,
    group_cols: Sequence[str],
    aggs: dict,
    where: Sequence | None = None,
    having: Sequence | None = None,
    derived: dict | None = None,
) -> tuple[DataFrame, str | None]:
    """Plan ``(fact ⋈ dims).filter(where).groupBy(group_cols).agg(...)
    [.having(...)]`` served from a subsuming FRESH join MV when one
    exists, else from the base join. ``dims``: ``[(dim_df, dim_path,
    on_cols), ...]``; ``having`` / ``derived`` as in
    :func:`answer_aggregate` (round 18: derived group keys reach the
    join family too — the time-dimension hierarchy over a STAR join,
    e.g. ``year(o_orderdate)`` rollups served by re-keying a
    date-grain join MV's stored group values).
    Candidate match requires the SAME join topology (fact path, dim
    paths, join keys — a different join shape answers a different
    query), group/predicate subsumption and measure-lineage
    derivability exactly as :func:`answer_aggregate`, and EVERY
    source fingerprint fresh (fact and all dims — a moved dim serves
    stale attributes otherwise). Returns ``(df, mv_name | None)``.

    At 100 TB the served plan reads a KB-scale summary instead of
    re-shuffling the fact through the star join — the single biggest
    dashboard accelerator a warehouse carries."""
    group_cols = list(group_cols)
    aggs = dict(aggs)
    where = _norm_where(where)
    having = _norm_having(having, aggs)
    derived = _norm_derived(derived)
    need, pred_need = _resolve_group_requirements(
        group_cols, where, derived
    )
    man = _pick_join_mv(
        mv_root, fact_path, dims, need, pred_need, aggs
    )
    if man is None:
        base = _with_derived(_join_all(fact, dims), derived)
        for term in where:
            base = base.filter(_where_expr(term))
        df = base.groupBy(*group_cols).agg(*_base_agg_exprs(aggs))
        return _apply_having(df, having), None
    return (
        _apply_having(
            _serve_from_mv(
                spark, mv_root, man, group_cols, aggs, where, derived
            ),
            having,
        ),
        man["name"],
    )


def _pick_join_mv(
    mv_root: str,
    fact_path: str,
    dims: Sequence[tuple],
    want: set,
    pred_cols: set,
    aggs: dict,
) -> dict | None:
    """Resolve the winning FRESH subsuming JOIN MV (or None): same
    topology (fact path, dim paths, join keys), group/predicate
    subsumption, measure derivability, EVERY source fingerprint fresh.
    Factored like :func:`_pick_plain_mv` so the join grouping-set
    servers pick once and pin."""
    dim_paths = [p for _, p, _ in dims]
    join_on = [list(on) for _, _, on in dims]
    candidates = []
    for man in _list_mvs(mv_root):
        if man.get("kind") != "join":
            continue
        if man["join_on"] != join_on:
            continue
        if not want <= set(man["group_cols"]):
            continue
        if not pred_cols <= set(man["group_cols"]):
            continue
        if not _measures_servable(man, aggs):
            continue
        if not _join_sources_fresh(man, fact_path, dim_paths):
            continue  # stale or different topology — invisible
        candidates.append(man)
    return _best_candidate(candidates) if candidates else None


def answer_join_grouping_sets(
    spark: SparkSession,
    mv_root: str,
    fact: DataFrame,
    fact_path: str,
    dims: Sequence[tuple],
    *,
    sets: Sequence[Sequence[str]],
    aggs: dict,
    where: Sequence | None = None,
    derived: dict | None = None,
) -> tuple[DataFrame, str | None]:
    """:func:`answer_grouping_sets` over the STAR JOIN ``fact ⋈ dims``
    (``dims``: ``[(dim_df, dim_path, on_cols), ...]``): every set is
    served from ONE pinned join MV with the same topology, finest-set
    subsumption and EVERY source fingerprint fresh
    (:func:`_pick_join_mv`) — the BI-dashboard hierarchy shape, e.g.
    TPC-H Q5's revenue by nation→region, where the join never re-runs
    and a native construct would replicate every JOINED fact row
    |sets| ways. Falls back to the base star join's native
    ``groupingSets``."""
    group_cols, sets = _finest_set(sets)
    aggs = dict(aggs)
    where = _norm_where(where)
    derived = _norm_derived(derived)
    man = None
    if len(sets) <= _MAX_SERVED_SETS:
        need, pred_need = _resolve_group_requirements(
            group_cols, where, derived
        )
        man = _pick_join_mv(
            mv_root, fact_path, dims, need, pred_need, aggs
        )
    if man is None:
        return _base_sets(
            _join_all(fact, dims), group_cols, sets, aggs, where, derived
        ), None
    return (
        _serve_sets_pinned(
            spark, mv_root, man, group_cols, sets, aggs, where, derived
        ),
        man["name"],
    )


def maintain_join_mv(
    spark: SparkSession,
    mv_root: str,
    name: str,
    *,
    fact_pre: DataFrame,
    d_fact: DataFrame | None,
    dims: Sequence[tuple],
    base_new: DataFrame,
    source_tokens: dict | None = None,
) -> dict:
    """INCREMENTAL maintenance of a join MV under simultaneous fact and
    dim changesets — the r12 Z-set join rule composed with the partial
    fold: ``star_join_delta`` derives the JOIN VIEW's z-weighted delta
    (``d(J ⋈ D) = dJ ⋈ D + J ⋈ dD + dJ ⋈ dD`` per dim, so a fact row
    arriving for a customer whose nation moved in the SAME batch nets
    correctly), then the same ``mv_partial_delta_maintain`` core folds
    it into the stored partials — count/sum telescope, MIN/MAX
    recompute only risky groups from ``base_new`` (the post-change
    join projection, the only join re-run and only for those groups).

    ``fact_pre`` / ``dims`` (``[(dim_pre, d_dim | None, on), ...]``,
    join order per the manifest) are PRE-change states; deltas are
    z-weighted row images (+1/−1). ``base_new`` may be a DataFrame (the
    post-change join projection) or a callable built with
    :func:`pruned_star_base`, which the risky-recompute leg invokes
    with the risky group tuples so the pruning pushes through the star
    join instead of re-running it whole. ``source_tokens``
    (``{"fact": token, "dims": [token, ...]}``, captured when the
    changesets were cut) gates the freshness stamp exactly like
    ``maintain_mv``'s ``source_token``. Per-batch work is
    O(Σ|delta|·fanout + groups + risky base-join scan) vs a refresh's
    full star-join re-run."""
    from ..operators.materialize import star_join_delta

    with maintenance_lock(mv_root), job_label(spark, "mv.maintain_join"):
        d = _mv_dir(mv_root, name)
        with open(os.path.join(d, "mv.json")) as f:
            man = json.load(f)
        if man.get("kind") != "join":
            raise ValueError(
                f"{name} is not a join MV; use maintain_mv"
            )
        join_on = [list(on) for _, _, on in dims]
        if join_on != man["join_on"]:
            raise ValueError(
                f"dims join keys {join_on} do not match the MV's "
                f"registered topology {man['join_on']}"
            )
        d_view = star_join_delta(fact_pre, d_fact, dims)
        if d_view is None:
            raise ValueError(
                "maintain_join_mv called with no changeset on any side"
            )

        def stamp_all_sources() -> None:
            # every source fresh-or-token (a second mutation landing on
            # ANY input mid-maintenance must fail loud, not stamp
            # fresh) — runs as pre_swap so an abort leaves the stored
            # partials byte-untouched for a re-cut retry
            fact_tok = (source_tokens or {}).get("fact")
            dim_toks = (source_tokens or {}).get("dims")
            cur = _fingerprint(man["source_path"])
            if fact_tok is not None and fact_tok != cur:
                raise RuntimeError(
                    f"fact {man['source_path']} moved past the "
                    "derivation-time token while maintenance ran — "
                    "re-cut the changesets (or refresh_mv)"
                )
            man["fingerprint"] = cur
            new_dim_fps = []
            for i, p in enumerate(man["dim_paths"]):
                cur_d = _fingerprint(p)
                if dim_toks is not None and dim_toks[i] is not None \
                        and dim_toks[i] != cur_d:
                    raise RuntimeError(
                        f"dim {p} moved past the derivation-time token "
                        "while maintenance ran — re-cut the changesets "
                        "(or refresh_mv)"
                    )
                new_dim_fps.append(cur_d)
            man["dim_fingerprints"] = new_dim_fps

        _fold_changes_and_swap(
            spark, d, man, d_view, base_new, pre_swap=stamp_all_sources
        )
        _publish_manifest(d, man)
        return man


# ---------------------------------------------------------------------------
# MoR-bound MV maintenance (round 16): the streaming half of the
# CDC→table→summary loop. A foreachBatch apply merges into the MoR
# table, then calls maintain_mv_from_mor — which cuts the table's OWN
# change feed from the MV's recorded applied sequence to the current
# one, folds it, and records the new sequence. Sequence-based (not
# batch-id-based) catch-up makes redelivery safe for free: a replayed
# micro-batch re-merges at a NEW sequence and the next catch-up folds
# exactly that span — nothing is ever double-folded.
# ---------------------------------------------------------------------------


def _mutation_drift(mor_man: dict, man: dict) -> tuple[bool, bool]:
    """Classify the MoR table's mutation-counter movement since this MV
    last recorded it (round-19 ADVICE: the counter alone conflates
    purge and rollback). Returns ``(moved, benign)``:

    - ``moved`` — the table's counter differs from the MV's recorded
      ``mor_mutations``.
    - ``benign`` — every intervening mutation epoch is a ROLLBACK of a
      sequence STRICTLY ABOVE the MV's ``applied_seq`` (the manifest's
      ``rollback_events`` carry ``{mutation, seq}``): the stored
      partials never folded the popped rows, so a feed compose from
      ``applied_seq`` stays sound — the reused sequence numbers arrive
      through the feed like any new merge. A purge in the window, a
      rollback of a folded sequence, or a pre-upgrade manifest with no
      event record all classify non-benign (conservative)."""
    recorded = man.get("mor_mutations", 0)
    current = mor_man.get("mutations", 0)
    if current == recorded:
        return False, True
    applied = man.get("applied_seq")
    if applied is None or current < recorded:
        return True, False
    events = [
        e for e in mor_man.get("rollback_events", [])
        if recorded < e["mutation"] <= current
    ]
    benign = (
        len(events) == current - recorded
        and all(e["seq"] > applied for e in events)
    )
    return True, benign


def bind_mv_to_mor(mv_root: str, name: str, mor_root: str) -> dict:
    """Bind an MV (freshly created over ``read_mor(mor_root)`` with the
    MoR MANIFEST as its ``source_path``) to the table's sequence
    clock: records ``applied_seq`` = the table's current latest
    sequence, the point from which :func:`maintain_mv_from_mor` /
    :func:`maintain_join_mv_from_mor` cut change feeds. Works for
    plain AND join MVs (a join MV's FACT side is the MoR table; its
    dims are fingerprinted separately). Fails loud if the MV is not
    currently fresh on EVERY source (it would mean the MV was NOT
    created at this table state, and seq arithmetic would fold from
    the wrong floor)."""
    from .mor import _read_manifest

    with maintenance_lock(mv_root):
        d = _mv_dir(mv_root, name)
        with open(os.path.join(d, "mv.json")) as f:
            man = json.load(f)
        if man["fingerprint"] != _fingerprint(man["source_path"]):
            raise RuntimeError(
                f"MV {name} is stale against {man['source_path']}; "
                "bind_mv_to_mor must run at the table state the MV "
                "was created at"
            )
        for i, p in enumerate(man.get("dim_paths", [])):
            if man["dim_fingerprints"][i] != _fingerprint(p):
                raise RuntimeError(
                    f"join MV {name} is stale against dim {p}; "
                    "bind_mv_to_mor must run at the state the MV "
                    "was created at"
                )
        mor_man = _read_manifest(mor_root)
        latest = (
            mor_man["seqs"][-1]["seq"]
            if mor_man["seqs"]
            else mor_man.get("base_seq", 0)
        )
        man["mor_root"] = mor_root
        man["applied_seq"] = latest
        # the live serve's out-of-band-rewrite guard: purges bump this
        # counter, and a purged span cannot be compensated from the
        # change feed
        man["mor_mutations"] = mor_man.get("mutations", 0)
        _publish_manifest(d, man)
        return man


def maintain_mv_from_mor(
    spark: SparkSession,
    mv_root: str,
    name: str,
    project,
) -> dict:
    """Catch a MoR-bound MV up to its table's CURRENT sequence: cut the
    span ``applied_seq → latest`` as a z-weighted changeset
    (:func:`_span_changes`), fold it into the stored partials, stage
    and publish — stamping the manifest state captured AT CUT TIME as
    the source token, so a merge landing mid-fold fails loud instead of
    stamping fresh — and record the new ``applied_seq``. The table
    state is read only if a min/max/hll group turns risky
    (:func:`_lazy_base`). No-op (zero jobs) when already caught up: the
    decision is manifest metadata, affordable every micro-batch, like
    ``auto_compact_mor``'s.

    ``project(feed_df) -> DataFrame`` maps the feed's row images to the
    MV's group + measure columns, KEEPING ``change_type`` (measures are
    usually derived, e.g. integer cents from a float price).

    Compaction interplay: if a compaction folded sequences past
    ``applied_seq``, the span is unreachable and this fails loud —
    maintain before compacting (the auto-compact policy hook runs
    AFTER the apply in ``stream_mor_apply``-style loops, so the feed
    is always cut first), or ``refresh_mv``."""
    from .mor import _read_manifest

    with maintenance_lock(mv_root), job_label(spark, "mv.maintain_from_mor"):
        d = _mv_dir(mv_root, name)
        with open(os.path.join(d, "mv.json")) as f:
            man = json.load(f)
        if "mor_root" not in man:
            raise ValueError(
                f"MV {name} is not bound to a merge-on-read table; "
                "call bind_mv_to_mor first"
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
            # a purge — or a rollback of a sequence the MV already
            # folded — landed since bind/last-maintain: the feed span
            # CANNOT represent an out-of-band rewrite, so a fold here
            # would produce partials that still include the
            # purged/rolled-back contributions AND re-arm the live-serve
            # guard over them — fail loud instead of silently healing.
            # (A rollback of a NEVER-FOLDED sequence is benign: the
            # stored partials never saw it, the feed compose stays
            # sound, and maintenance proceeds.)
            raise RuntimeError(
                f"MV {name}: table {mor_root} mutation counter moved "
                f"({man.get('mor_mutations')} → "
                f"{mor_man.get('mutations', 0)}) — an out-of-band "
                "rewrite (purge/rollback) no change feed can "
                "compensate; scrub_mv_groups (post-purge) or "
                "refresh_mv + re-bind"
            )
        if latest == applied:
            if moved:
                # benign drift with nothing to fold (e.g. the rollback
                # popped the only unapplied sequence): re-arm the
                # recorded counter so future staleness checks don't
                # keep re-deriving the same benign classification
                man["mor_mutations"] = mor_man.get("mutations", 0)
                _publish_manifest(d, man)
            return {"applied_seq": applied, "folded": False}
        if applied < mor_man.get("base_seq", 0):
            raise RuntimeError(
                f"MV {name} last applied seq {applied} was compacted "
                f"away (base_seq {mor_man.get('base_seq', 0)}); the "
                "change span is unreachable — refresh_mv (and re-bind)"
            )
        # token captured at FEED-CUT time: the manifest file IS the
        # MV's fingerprinted source
        token = _fingerprint(man["source_path"])
        _fold_changes_and_swap(
            spark, d, man,
            _span_changes(spark, mor_root, applied, latest, project),
            _lazy_base(spark, mor_root, project),
            pre_swap=lambda: _stamp_fingerprint(man, token),
        )
        man["applied_seq"] = latest
        man["mor_mutations"] = mor_man.get("mutations", 0)
        _publish_manifest(d, man)
        return {"applied_seq": latest, "folded": True}


def maintain_join_mv_from_mor(
    spark: SparkSession,
    mv_root: str,
    name: str,
    fact_project,
    dims: Sequence[tuple],
) -> dict:
    """Catch a MoR-bound JOIN MV up to its fact table's CURRENT
    sequence with NO hand-built delta — the fully-automated loop for
    star-join summaries: cut ``change_feed_mor(applied_seq → latest)``,
    adapt it with ``changes_from_feed``, derive the JOIN VIEW's delta
    by joining it through the (static) dims via ``star_join_delta``,
    fold, and record the new sequence. The pre-state probe the Z-set
    rule needs is the MoR table's OWN time travel
    (``read_mor(root, applied_seq)``) — no caller-side state.

    ``dims``: ``[(dim_df, on_cols), ...]`` in the registered topology's
    join order — STATIC dims only (the common warehouse shape: a
    high-churn fact riding the sequence clock against slowly-changing
    dims). Every dim fingerprint must equal the manifest's recorded
    one; a dim that moved without a changeset fails LOUD — folding a
    fact delta through a silently-changed dim would credit the wrong
    groups. Dim churn goes through :func:`maintain_join_mv` (which
    takes explicit z-weighted dim deltas and handles the dJ⋈dD
    correction).

    ``fact_project(df) -> DataFrame`` maps fact row images to the
    fact-side columns the MV needs (join keys + fact group columns +
    measure columns), KEEPING ``change_type`` when present.

    No-op (zero jobs) when already caught up; fails loud when a
    compaction folded sequences past ``applied_seq`` (maintain before
    compacting — the auto-compact policy hook runs after the apply in
    streaming loops, so the feed is always cut first). Per-batch work:
    O(|feed| · fanout + groups + risky base-join scan) — the fact's
    history is re-joined by nobody."""
    from ..operators.materialize import star_join_delta
    from .mor import _read_manifest, change_feed_mor, read_mor

    with maintenance_lock(mv_root), job_label(
        spark, "mv.maintain_join_from_mor"
    ):
        d = _mv_dir(mv_root, name)
        with open(os.path.join(d, "mv.json")) as f:
            man = json.load(f)
        if man.get("kind") != "join":
            raise ValueError(
                f"MV {name} is not a join MV; use maintain_mv_from_mor"
            )
        if "mor_root" not in man:
            raise ValueError(
                f"join MV {name} is not bound to a merge-on-read "
                "table; call bind_mv_to_mor first"
            )
        join_on = [list(on) for _, on in dims]
        if join_on != man["join_on"]:
            raise ValueError(
                f"dims join keys {join_on} do not match the MV's "
                f"registered topology {man['join_on']}"
            )
        for i, p in enumerate(man["dim_paths"]):
            if man["dim_fingerprints"][i] != _fingerprint(p):
                raise RuntimeError(
                    f"dim {p} moved since the join MV last stamped it; "
                    "maintain_join_mv_from_mor requires STATIC dims — "
                    "fold the dim changeset via maintain_join_mv"
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
            # same out-of-band-rewrite guard as maintain_mv_from_mor:
            # a purge — or a rollback of a folded sequence — since
            # bind is feed-incompensable (never-folded rollbacks are
            # benign, see _mutation_drift)
            raise RuntimeError(
                f"join MV {name}: fact table {mor_root} mutation "
                f"counter moved ({man.get('mor_mutations')} → "
                f"{mor_man.get('mutations', 0)}) — an out-of-band "
                "rewrite (purge/rollback) no change feed can "
                "compensate; scrub_mv_groups (post-purge) or "
                "refresh_mv + re-bind"
            )
        if latest == applied:
            if moved:
                man["mor_mutations"] = mor_man.get("mutations", 0)
                _publish_manifest(d, man)
            return {"applied_seq": applied, "folded": False}
        if applied < mor_man.get("base_seq", 0):
            raise RuntimeError(
                f"join MV {name} last applied seq {applied} was "
                f"compacted away (base_seq {mor_man.get('base_seq', 0)});"
                " the change span is unreachable — refresh_mv (and "
                "re-bind)"
            )
        token = _fingerprint(man["source_path"])
        feed = fact_project(
            change_feed_mor(spark, mor_root, applied, latest)
        )
        d_fact = changes_from_feed(
            feed, [c for c in feed.columns if c != "change_type"]
        )
        fact_pre = _project_rows(
            fact_project, read_mor(spark, mor_root, applied)
        )
        fact_post = _project_rows(fact_project, read_mor(spark, mor_root))
        d_view = star_join_delta(
            fact_pre, d_fact, [(dim, None, on) for dim, on in dims]
        )
        # lazily pruned: the risky recompute sees a star join whose
        # every side is pre-filtered to the risky groups, not a full
        # fact ⋈ dims re-run
        base_new = pruned_star_base(
            fact_post, [(dim, on) for dim, on in dims],
            man["group_cols"],
        )

        def stamp() -> None:
            _stamp_fingerprint(man, token)
            # dims were validated static at entry — re-validate at
            # publish (a dim moving MID-fold means the delta was joined
            # through a state that no longer exists), keep the
            # recorded fingerprints on success
            for i, p in enumerate(man["dim_paths"]):
                if man["dim_fingerprints"][i] != _fingerprint(p):
                    raise RuntimeError(
                        f"dim {p} moved while maintenance ran — re-cut "
                        "via maintain_join_mv (or refresh_mv)"
                    )

        _fold_changes_and_swap(
            spark, d, man, d_view, base_new, pre_swap=stamp
        )
        man["applied_seq"] = latest
        man["mor_mutations"] = mor_man.get("mutations", 0)
        _publish_manifest(d, man)
        return {"applied_seq": latest, "folded": True}


def answer_aggregate_live(
    spark: SparkSession,
    mv_root: str,
    name: str,
    project,
    *,
    group_cols: Sequence[str],
    aggs: dict,
    where: Sequence | None = None,
    having: Sequence | None = None,
    derived: dict | None = None,
) -> tuple[DataFrame, str | None]:
    """Serve FRESH numbers from a possibly-STALE MoR-bound MV without
    any maintenance write: compose the STORED partials with the table's
    unapplied span LAZILY at query time (:func:`_live_partials`). Where
    plain ``answer_aggregate`` makes a stale MV invisible (falling back
    to a full base aggregation), this plans ``stored partials ⊕
    z-set(applied_seq → latest)`` — the fold ``maintain_mv_from_mor``
    publishes, minus the publish — so query cost is O(groups +
    unapplied span + risky-group base probe) instead of a fact pass,
    and the MV files are byte-untouched (maintenance stays a separate,
    batched decision). Plan construction runs no Spark job when this
    process wrote the components it reads, because each writer seeds
    their schema slots (``sources.tables.seed_schema_cache``); a
    component written elsewhere costs one inference job, once.

    ``project`` maps feed/table rows to the MV's group + measure
    columns exactly as in :func:`maintain_mv_from_mor`. Returns
    ``(df, mode)`` — mode ``"mv"`` (fresh, stored partials only),
    ``"mv_delta"`` (stale, compensated), or ``None`` (not servable:
    request not subsumed, span compacted away or rolled back past, or
    an out-of-band rewrite — a purge or rollback — bumped the table's
    mutation counter, which no feed can compensate; the fallback
    aggregates the CURRENT table state directly, so the answer is
    always fresh)."""
    d = _mv_dir(mv_root, name)
    with open(os.path.join(d, "mv.json")) as f:
        man = json.load(f)
    if "mor_root" not in man:
        raise ValueError(
            f"MV {name} is not bound to a merge-on-read table; "
            "answer_aggregate_live needs bind_mv_to_mor"
        )
    return _serve_live(
        spark, d, man, project, group_cols, aggs, where, having, derived
    )


def _serve_live(
    spark: SparkSession,
    d: str,
    man: dict,
    project,
    group_cols: Sequence[str],
    aggs: dict,
    where,
    having,
    derived,
    pinned: tuple | None = None,
) -> tuple[DataFrame, str | None]:
    """One live aggregate over a MoR-bound MV: roll up the partials
    :func:`_live_partials` resolves, or — when it cannot serve —
    aggregate the projected table state (current, or ``pinned``'s
    boundary sequence) with mode ``None``."""
    from .mor import read_mor

    group_cols = list(group_cols)
    aggs = dict(aggs)
    where = _norm_where(where)
    having = _norm_having(having, aggs)
    derived = _norm_derived(derived)
    need, pred_need = _resolve_group_requirements(
        group_cols, where, derived
    )
    partials, mode = _live_partials(
        spark, d, man, project, need, pred_need, aggs, pinned
    )
    if partials is None:
        as_of = pinned[1] if pinned else None
        base = _with_derived(
            _project_rows(
                project, read_mor(spark, man["mor_root"], as_of)
            ),
            derived,
        )
        for term in where:
            base = base.filter(_where_expr(term))
        return (
            _apply_having(
                base.groupBy(*group_cols).agg(*_base_agg_exprs(aggs)),
                having,
            ),
            None,
        )
    return (
        _apply_having(
            _rollup_partials(
                partials, man, group_cols, aggs, where, derived
            ),
            having,
        ),
        mode,
    )


def _live_partials(
    spark: SparkSession,
    d: str,
    man: dict,
    project,
    need: set,
    pred_need: set,
    aggs: dict,
    pinned: tuple | None = None,
) -> tuple[DataFrame | None, str | None]:
    """Resolve a MoR-bound MV's PARTIALS at the table's CURRENT state,
    or at a pinned ``(mor_manifest, boundary_seq)`` — the shared core
    of the plain live serves. This runs no Spark job when this process
    wrote the components it reads, because each writer seeds their
    schema slots (``sources.tables.seed_schema_cache``).
    Returns ``(partials, mode)``:

    - the stored generation (mode ``"mv"``) when the MV is fresh or
      has no unapplied span;
    - when stale but compensatable (mode ``"mv_delta"``), the lazy
      fold of the stored partials with the span's z-set
      (:func:`_span_changes`). A count/sum MV folds as one union and
      aggregate and never reads the table; a min/max/hll MV recomputes
      its risky groups from the table state at the boundary, built
      only then (:func:`_lazy_base`);
    - ``(None, None)`` when not servable: the request is not subsumed,
      the span was compacted away, or an out-of-band rewrite (a purge
      or a rollback of a folded sequence) bumped the mutation
      counter."""
    from .mor import _read_manifest

    subsumed = (
        need <= set(man["group_cols"])
        and pred_need <= set(man["group_cols"])
        and _measures_servable(man, aggs)
    )
    if not subsumed:
        return None, None
    mor_root = man["mor_root"]
    if pinned is None:
        if man["fingerprint"] == _fingerprint(man["source_path"]):
            return read_dir(spark, _data_dir(d, man)), "mv"
        mor_man = _read_manifest(mor_root)
        latest = (
            mor_man["seqs"][-1]["seq"]
            if mor_man["seqs"]
            else mor_man.get("base_seq", 0)
        )
        as_of = None
    else:
        mor_man, latest = pinned
        as_of = latest
    applied = man["applied_seq"]
    moved, benign = _mutation_drift(mor_man, man)
    compensatable = (
        (not moved or benign)
        and mor_man.get("base_seq", 0) <= applied <= latest
    )
    if not compensatable:
        return None, None
    if applied == latest:
        # no unapplied span (a benign rollback popped the only pending
        # sequence, or a compaction folded exactly to the MV's floor):
        # the stored partials ARE the state even though the source
        # fingerprint moved
        return read_dir(spark, _data_dir(d, man)), "mv"
    composed = _folded_partials(
        spark, d, man,
        _span_changes(spark, mor_root, applied, latest, project),
        _lazy_base(spark, mor_root, project, as_of),
        precheck_risky=False,
    )
    return composed, "mv_delta"


def answer_join_aggregate_live(
    spark: SparkSession,
    mv_root: str,
    name: str,
    fact_project,
    dims: Sequence[tuple],
    *,
    group_cols: Sequence[str],
    aggs: dict,
    where: Sequence | None = None,
    having: Sequence | None = None,
    derived: dict | None = None,
) -> tuple[DataFrame, str | None]:
    """The JOIN-MV sibling of :func:`answer_aggregate_live`: serve
    fresh star-join rollups from a possibly-stale MoR-bound join MV by
    composing the stored partials with the unapplied fact span's JOIN
    VIEW delta lazily — ``star_join_delta`` over the change feed with
    the table's own time travel as the pre-state probe, exactly the
    math :func:`maintain_join_mv_from_mor` publishes, minus the
    publish. ``dims``: ``[(dim_df, on_cols), ...]`` in the registered
    topology's join order, STATIC (every dim fingerprint must equal
    the manifest's recorded one — a moved dim changes attribute
    assignments no fact feed can compensate, so it falls back).
    Returns ``(df, mode)`` with the same mode contract as the plain
    live serve; the fallback aggregates the CURRENT star join."""
    from .mor import read_mor

    d = _mv_dir(mv_root, name)
    with open(os.path.join(d, "mv.json")) as f:
        man = json.load(f)
    _validate_join_live(man, name, dims)
    group_cols = list(group_cols)
    aggs = dict(aggs)
    where = _norm_where(where)
    having = _norm_having(having, aggs)
    derived = _norm_derived(derived)
    need, pred_need = _resolve_group_requirements(
        group_cols, where, derived
    )
    partials, mode = _live_join_partials(
        spark, d, man, fact_project, dims, need, pred_need, aggs,
    )
    if partials is None:
        fact_now = _project_rows(
            fact_project, read_mor(spark, man["mor_root"])
        )
        base = _with_derived(
            _join_all(fact_now, [(dim, on) for dim, on in dims]),
            derived,
        )
        for term in where:
            base = base.filter(_where_expr(term))
        return (
            _apply_having(
                base.groupBy(*group_cols).agg(*_base_agg_exprs(aggs)),
                having,
            ),
            None,
        )
    return (
        _apply_having(
            _rollup_partials(
                partials, man, group_cols, aggs, where, derived
            ),
            having,
        ),
        mode,
    )


def _validate_join_live(man: dict, name: str, dims) -> None:
    """Shared argument validation for the join-MV live servers."""
    if man.get("kind") != "join":
        raise ValueError(
            f"{name} is not a join MV; use answer_aggregate_live"
        )
    if "mor_root" not in man:
        raise ValueError(
            f"join MV {name} is not bound to a merge-on-read table; "
            "the join live serve needs bind_mv_to_mor"
        )
    join_on = [list(on) for _, on in dims]
    if join_on != man["join_on"]:
        raise ValueError(
            f"dims join keys {join_on} do not match the MV's "
            f"registered topology {man['join_on']}"
        )


def _live_join_partials(
    spark: SparkSession,
    d: str,
    man: dict,
    fact_project,
    dims: Sequence[tuple],
    need: set,
    pred_need: set,
    aggs: dict,
) -> tuple[DataFrame | None, str | None]:
    """JOIN-MV sibling of :func:`_live_partials`: the compose derives
    the unapplied fact span's JOIN-VIEW delta via ``star_join_delta``
    (the table's own time travel as the pre-state probe). A MOVED dim
    additionally forces ``(None, None)`` — attribute reassignment is
    not compensatable from any fact feed."""
    from ..operators.materialize import star_join_delta
    from .mor import _read_manifest, change_feed_mor, read_mor

    subsumed = (
        need <= set(man["group_cols"])
        and pred_need <= set(man["group_cols"])
        and _measures_servable(man, aggs)
    )
    dims_static = all(
        man["dim_fingerprints"][i] == _fingerprint(p)
        for i, p in enumerate(man["dim_paths"])
    )
    if not subsumed or not dims_static:
        return None, None
    mor_root = man["mor_root"]
    if man["fingerprint"] == _fingerprint(man["source_path"]):
        return read_dir(spark, _data_dir(d, man)), "mv"
    mor_man = _read_manifest(mor_root)
    latest = (
        mor_man["seqs"][-1]["seq"]
        if mor_man["seqs"]
        else mor_man.get("base_seq", 0)
    )
    applied = man["applied_seq"]
    moved, benign = _mutation_drift(mor_man, man)
    compensatable = (
        (not moved or benign)
        and mor_man.get("base_seq", 0) <= applied <= latest
    )
    if not compensatable:
        return None, None
    if applied == latest:
        # no unapplied span — stored partials current (see
        # _live_partials)
        return read_dir(spark, _data_dir(d, man)), "mv"
    feed = fact_project(
        change_feed_mor(spark, mor_root, applied, latest)
    )
    d_fact = changes_from_feed(
        feed, [c for c in feed.columns if c != "change_type"]
    )
    fact_pre = _project_rows(fact_project, read_mor(spark, mor_root, applied))
    d_view = star_join_delta(
        fact_pre, d_fact, [(dim, None, on) for dim, on in dims]
    )
    fact_post = _project_rows(fact_project, read_mor(spark, mor_root))
    base_new = pruned_star_base(
        fact_post, [(dim, on) for dim, on in dims], man["group_cols"]
    )
    composed = _folded_partials(
        spark, d, man, d_view, base_new, precheck_risky=False
    )
    return composed, "mv_delta"


# ---------------------------------------------------------------------------
# Live grouping sets: hierarchies served from a STALE MoR-bound MV via
# the lambda compose — the real-time-dashboard-hierarchy shape. One
# manifest pin + ONE unapplied-span cut per REQUEST feeds every level,
# so a hierarchy can never mix a pre-merge grand total with post-merge
# leaves (the pinning discipline _serve_sets_pinned applies to the
# fresh path).
# ---------------------------------------------------------------------------


def answer_grouping_sets_live(
    spark: SparkSession,
    mv_root: str,
    name: str,
    project,
    *,
    sets: Sequence[Sequence[str]],
    aggs: dict,
    where: Sequence | None = None,
    derived: dict | None = None,
) -> tuple[DataFrame, str | None]:
    """GROUPING SETS served live from a possibly-stale MoR-bound MV:
    every set rolls up from ONE :func:`_live_partials` resolution
    (fresh → the stored generation; stale but compensatable → one lazy
    compose of stored partials ⊕ the unapplied span). Sets as in
    :func:`answer_grouping_sets`; mode contract as
    :func:`answer_aggregate_live`. Not servable, or more than
    ``_MAX_SERVED_SETS`` sets → native ``groupingSets`` over the
    CURRENT table state, mode ``None``."""
    from .mor import read_mor

    group_cols, sets = _finest_set(sets)
    d = _mv_dir(mv_root, name)
    with open(os.path.join(d, "mv.json")) as f:
        man = json.load(f)
    if "mor_root" not in man:
        raise ValueError(
            f"MV {name} is not bound to a merge-on-read table; "
            "the live grouping servers need bind_mv_to_mor"
        )
    aggs = dict(aggs)
    where = _norm_where(where)
    derived = _norm_derived(derived)
    partials, mode = None, None
    if len(sets) <= _MAX_SERVED_SETS:
        need, pred_need = _resolve_group_requirements(
            group_cols, where, derived
        )
        partials, mode = _live_partials(
            spark, d, man, project, need, pred_need, aggs
        )
    if partials is None:
        cur = _project_rows(project, read_mor(spark, man["mor_root"]))
        return _base_sets(cur, group_cols, sets, aggs, where, derived), None
    if mode == "mv_delta" and len(sets) > 1:
        # ONE compose execution per request, physically: each union
        # level is a separate plan branch, and without this the change
        # feed's pre/post semi-joins re-SCAN the base once per level
        # (measured at 200M rows: a 3-level live rollup cost 6 base
        # probes and lost to the native Expand). A LAZY local
        # checkpoint persists the composed O(groups) partials on first
        # materialization and every other level reads the blocks. Even
        # with eager=False this is NOT job-free at plan construction:
        # Dataset.localCheckpoint goes through queryExecution.toRdd,
        # and under AQE that executes the compose's shuffle map stages
        # immediately (the request's own work scheduled early and
        # reused, not an extra pass).
        #
        # The trade: localCheckpoint stores NON-REPLICATED
        # executor-local blocks and TRUNCATES lineage — an executor
        # loss mid-request fails the dashboard query (no recompute
        # path; the caller retries the request, which re-binds fresh
        # blocks), and the blocks are reclaimed only when the driver
        # GCs the DataFrame, so a long-lived session holding many
        # served frames accumulates executor storage.
        partials = partials.localCheckpoint(eager=False)
    return (
        _serve_sets_from_partials(
            partials, man, group_cols, sets, aggs, where, derived
        ),
        mode,
    )


def answer_join_grouping_sets_live(
    spark: SparkSession,
    mv_root: str,
    name: str,
    fact_project,
    dims: Sequence[tuple],
    *,
    sets: Sequence[Sequence[str]],
    aggs: dict,
    where: Sequence | None = None,
    derived: dict | None = None,
) -> tuple[DataFrame, str | None]:
    """GROUPING SETS over a STAR JOIN served live from a possibly-stale
    MoR-bound join MV: every set from ONE :func:`_live_join_partials`
    compose (stored partials ⊕ the unapplied fact span's join-view
    delta). ``dims``: ``[(dim_df, on_cols), ...]``, static (a moved dim
    falls back). Otherwise as :func:`answer_grouping_sets_live`; the
    ``None`` fallback runs over the CURRENT star join."""
    from .mor import read_mor

    group_cols, sets = _finest_set(sets)
    d = _mv_dir(mv_root, name)
    with open(os.path.join(d, "mv.json")) as f:
        man = json.load(f)
    _validate_join_live(man, name, dims)
    aggs = dict(aggs)
    where = _norm_where(where)
    derived = _norm_derived(derived)
    partials, mode = None, None
    if len(sets) <= _MAX_SERVED_SETS:
        need, pred_need = _resolve_group_requirements(
            group_cols, where, derived
        )
        partials, mode = _live_join_partials(
            spark, d, man, fact_project, dims, need, pred_need, aggs,
        )
    if partials is None:
        fact_now = _project_rows(
            fact_project, read_mor(spark, man["mor_root"])
        )
        return _base_sets(
            _join_all(fact_now, dims), group_cols, sets, aggs, where,
            derived,
        ), None
    if mode == "mv_delta" and len(sets) > 1:
        # one physical compose per request, with the same executor-loss
        # trade (see answer_grouping_sets_live): the join compose is
        # even heavier per re-execution — the star_join_delta and the
        # time-travel pre-state probe would re-run once per level
        partials = partials.localCheckpoint(eager=False)
    return (
        _serve_sets_from_partials(
            partials, man, group_cols, sets, aggs, where, derived
        ),
        mode,
    )


# ---------------------------------------------------------------------------
# Staleness-policy serving chooser (round 18): the lambda-architecture
# decision the live serve left to the caller, made from MANIFEST
# METADATA ALONE — zero Spark jobs, affordable on every request.
# ---------------------------------------------------------------------------


#: Relative serving costs for the policy router's workload economics,
#: normalized to ONE live compose over a short feed span. Measured
#: basis (SCALE.md, 200M-row stress): live compose 7.26 s/request,
#: maintain-once 7.6 s then 0.36 s/request → serve ≈ 0.05 × live,
#: maintain ≈ 1.05-1.1 × live; both the compose and the fold drag the
#: same span, so their per-sequence terms match. Override any subset
#: via ``plan_serve_policy(cost_model=...)`` with constants measured
#: on YOUR table (tools/stress.py emits them).
SERVE_COST_MODEL = {
    "live_base": 1.0,       # one stored ⊕ feed-span compose
    "live_per_seq": 0.05,   # each unapplied sequence adds a feed leg
    "maintain_base": 1.1,   # the same fold + one staged publish
    "maintain_per_seq": 0.05,
    "mv_serve": 0.05,       # reading the refreshed O(groups) summary
}


def plan_serve_policy(
    mv_root: str,
    name: str,
    *,
    max_live_span: int = 8,
    max_live_delete_keys: int | None = None,
    expected_requests: int | None = None,
    cost_model: dict | None = None,
) -> dict:
    """Choose how a MoR-bound MV should serve the NEXT request, from
    the two manifests alone (two JSON reads + one fingerprint stat —
    zero Spark jobs, like ``auto_compact_mor``'s trigger):

    - ``"mv"`` — fingerprint fresh: the stored partials ARE current.
    - ``"live"`` — stale but compensatable and the unapplied span is
      small (≤ ``max_live_span`` sequences, and ≤
      ``max_live_delete_keys`` sidecar delete keys when given —
      deletes are the expensive live legs: each risks an extremum
      recompute against the base): serve ``answer_aggregate_live``.
    - ``"maintain"`` — compensatable but the span outgrew the live
      thresholds: fold it once (``maintain_mv_from_mor``), then serve
      the refreshed summary — paying one maintenance write beats
      re-dragging a long feed tail through every query.
    - ``"base"`` — not compensatable (an out-of-band purge/rollback
      bumped the mutation counter, or a compaction folded past
      ``applied_seq``): only a fresh base aggregation is safe; the
      summary needs ``scrub_mv_groups`` / ``refresh_mv`` + re-bind.

    Workload economics (round 19): staleness mechanics alone cannot
    price the live-vs-maintain trade — a live compose re-drags the
    unapplied span through EVERY request, while one maintenance fold
    amortizes over all of them (measured: live 7.26 s/request vs
    maintain once then 0.36 s/request — 20× at fleet request rates).
    Pass ``expected_requests`` — the number of requests this MV is
    expected to serve before the next natural maintenance point, e.g.
    :func:`plans.mv_advisor.workload_request_rate` over the advisor's
    workload — and the router routes ``"maintain"`` whenever

        expected_requests × live_cost(span)
            > maintain_cost(span) + expected_requests × mv_serve

    with costs from ``cost_model`` (defaults :data:`SERVE_COST_MODEL`,
    relative units). The span thresholds remain a hard cap (they
    force maintain, never live).

    Returns ``{"action", "reason", "unapplied_seqs",
    "span_delete_keys", "mutations_moved", "compacted_past",
    "est_live_cost", "est_maintain_cost"}``."""
    from .mor import _read_manifest

    d = _mv_dir(mv_root, name)
    with open(os.path.join(d, "mv.json")) as f:
        man = json.load(f)
    if "mor_root" not in man:
        raise ValueError(
            f"MV {name} is not bound to a merge-on-read table; "
            "plan_serve_policy needs bind_mv_to_mor"
        )
    cm = {**SERVE_COST_MODEL, **(cost_model or {})}
    rep = {
        "unapplied_seqs": 0,
        "span_delete_keys": 0,
        "mutations_moved": False,
        "compacted_past": False,
        "est_live_cost": 0.0,
        "est_maintain_cost": 0.0,
    }
    if man["fingerprint"] == _fingerprint(man["source_path"]):
        return {**rep, "action": "mv", "reason": "fresh"}
    mor_man = _read_manifest(man["mor_root"])
    applied = man["applied_seq"]
    span = [s for s in mor_man["seqs"] if s["seq"] > applied]
    rep["unapplied_seqs"] = len(span)
    rep["span_delete_keys"] = sum(s["n_delete_keys"] for s in span)
    moved, benign = _mutation_drift(mor_man, man)
    # report the RAW movement; route on the benign classification — a
    # rollback of a never-folded sequence leaves the feed compose sound
    # (round-19 ADVICE)
    rep["mutations_moved"] = moved
    rep["compacted_past"] = applied < mor_man.get("base_seq", 0)
    if (moved and not benign) or rep["compacted_past"]:
        return {
            **rep,
            "action": "base",
            "reason": (
                "out-of-band rewrite (purge/rollback)"
                if moved and not benign
                else "span compacted past applied_seq"
            ),
        }
    if rep["unapplied_seqs"] == 0:
        # nothing unapplied despite the stale fingerprint (benign
        # rollback popped the pending span, or compaction folded
        # exactly to the MV's floor): the stored partials are current
        return {**rep, "action": "mv", "reason": "caught up"}
    n_seq = rep["unapplied_seqs"]
    rep["est_live_cost"] = cm["live_base"] + cm["live_per_seq"] * n_seq
    rep["est_maintain_cost"] = (
        cm["maintain_base"] + cm["maintain_per_seq"] * n_seq
    )
    if n_seq > max_live_span or (
        max_live_delete_keys is not None
        and rep["span_delete_keys"] > max_live_delete_keys
    ):
        return {
            **rep,
            "action": "maintain",
            "reason": (
                f"unapplied span {rep['unapplied_seqs']} seqs / "
                f"{rep['span_delete_keys']} delete keys past the "
                "live thresholds"
            ),
        }
    if expected_requests is not None and (
        expected_requests * rep["est_live_cost"]
        > rep["est_maintain_cost"]
        + expected_requests * cm["mv_serve"]
    ):
        return {
            **rep,
            "action": "maintain",
            "reason": (
                f"workload economics: {expected_requests} requests × "
                f"live {rep['est_live_cost']:.2f} > maintain "
                f"{rep['est_maintain_cost']:.2f} + "
                f"{expected_requests} × serve {cm['mv_serve']:.2f}"
            ),
        }
    return {
        **rep,
        "action": "live",
        "reason": (
            f"stale by {rep['unapplied_seqs']} seq(s), within live "
            "thresholds"
        ),
    }


def answer_aggregate_policied(
    spark: SparkSession,
    mv_root: str,
    name: str,
    project,
    *,
    group_cols: Sequence[str],
    aggs: dict,
    where: Sequence | None = None,
    having: Sequence | None = None,
    derived: dict | None = None,
    max_live_span: int = 8,
    max_live_delete_keys: int | None = None,
    expected_requests: int | None = None,
    cost_model: dict | None = None,
) -> tuple[DataFrame, str]:
    """Policy-ROUTED serving: run :func:`plan_serve_policy` and execute
    its decision — serve the fresh summary, compose live, maintain
    first and then serve, or aggregate the base. Returns ``(df,
    action)`` where ``action`` is what actually HAPPENED: ``"mv"`` /
    ``"live"`` / ``"maintain"`` (folded, then served fresh) /
    ``"base"`` (not compensatable, or the request wasn't subsumed by
    the MV — routing never changes answers, only cost)."""
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
            maintain_mv_from_mor(spark, mv_root, name, project)
            maintained = True
        except RuntimeError:
            # a purge/rollback/compaction landed between the policy's
            # manifest read and the maintain — this is a READ-serving
            # API, so degrade to the live serve below (which routes to
            # its own base fallback on the same evidence) instead of
            # raising from what the policy would now call 'base'
            # (round-19 ADVICE)
            pass
    df, mode = answer_aggregate_live(
        spark, mv_root, name, project,
        group_cols=group_cols, aggs=aggs, where=where, having=having,
        derived=derived,
    )
    if mode == "mv":
        action = "maintain" if maintained else "mv"
    elif mode == "mv_delta":
        action = "live"
    else:
        action = "base"
    return df, action


# ---------------------------------------------------------------------------
# Multi-MV consistent dashboard read (round 18): a dashboard touching
# SEVERAL summaries of one MoR table must not mix sequence boundaries
# across panels (each serve fingerprints independently today). The
# summary-layer analog of the transaction log's
# read_transaction_snapshot: leases pin every touched generation, ONE
# MoR-manifest read pins the sequence boundary, and every panel serves
# AT that boundary — stored partials when caught up, the lazy
# stored ⊕ feed-span compose when behind (cut to the PINNED boundary,
# never the moving latest), time-traveled base as the safe fallback.
# ---------------------------------------------------------------------------


class MvsSnapshot:
    """Handle yielded by :func:`read_mvs_snapshot`: every
    ``aggregate`` call serves its MV AS OF the ONE pinned sequence
    boundary (``boundary_seq``), however many merges or maintenance
    publishes land while the snapshot is open."""

    def __init__(self, spark, mv_root, mans, mor_root, mor_man,
                 latest, projects):
        self._spark = spark
        self._mv_root = mv_root
        self._mans = mans
        self._mor_root = mor_root
        self._mor_man = mor_man
        self.boundary_seq = latest
        self._projects = projects

    def aggregate(
        self,
        name: str,
        *,
        group_cols: Sequence[str],
        aggs: dict,
        where: Sequence | None = None,
        having: Sequence | None = None,
        derived: dict | None = None,
    ) -> tuple[DataFrame, str | None]:
        """Serve one dashboard panel from MV ``name`` at the pinned
        boundary. Mode contract as :func:`answer_aggregate_live`,
        except 'mv_delta' composes to ``boundary_seq`` (not the moving
        latest) and the ``None`` fallback aggregates the TIME-TRAVELED
        table at the boundary — every panel, every mode, one state."""
        return _serve_live(
            self._spark, _mv_dir(self._mv_root, name), self._mans[name],
            self._projects[name], group_cols, aggs, where, having,
            derived, pinned=(self._mor_man, self.boundary_seq),
        )

    def aggregate_join(
        self,
        name: str,
        dims: Sequence[tuple],
        *,
        group_cols: Sequence[str],
        aggs: dict,
        where: Sequence | None = None,
        having: Sequence | None = None,
        derived: dict | None = None,
    ) -> tuple[DataFrame, str | None]:
        """JOIN-MV panel at the pinned boundary: the star summary's
        partials compose with the unapplied fact span's JOIN-VIEW
        delta cut EXACTLY to ``boundary_seq`` (star_join_delta; the
        table's time travel at the MV's applied seq as the pre-state
        probe, at the BOUNDARY — not the moving latest — for the risky
        recompute leg). ``dims``: ``[(dim_df, on_cols), ...]`` in the
        registered topology's order. Dims are not sequence-clocked, so
        a MOVED dim cannot be pinned — it forces the ``None`` fallback
        (time-traveled fact ⋈ current dims), same convention as the
        live serves."""
        from ..operators.materialize import star_join_delta
        from .mor import change_feed_mor, read_mor

        man = self._mans[name]
        _validate_join_live(man, name, dims)
        fact_project = self._projects[name]
        spark = self._spark
        group_cols = list(group_cols)
        aggs = dict(aggs)
        where = _norm_where(where)
        having = _norm_having(having, aggs)
        derived = _norm_derived(derived)
        need, pred_need = _resolve_group_requirements(
            group_cols, where, derived
        )
        latest = self.boundary_seq
        mor_man = self._mor_man

        def fact_at_boundary() -> DataFrame:
            return _project_rows(
                fact_project, read_mor(spark, self._mor_root, latest)
            )

        def base_at_boundary() -> DataFrame:
            base = _with_derived(
                _join_all(
                    fact_at_boundary(), [(dim, on) for dim, on in dims]
                ),
                derived,
            )
            for term in where:
                base = base.filter(_where_expr(term))
            return _apply_having(
                base.groupBy(*group_cols).agg(*_base_agg_exprs(aggs)),
                having,
            )

        subsumed = (
            need <= set(man["group_cols"])
            and pred_need <= set(man["group_cols"])
            and _measures_servable(man, aggs)
        )
        dims_static = all(
            man["dim_fingerprints"][i] == _fingerprint(p)
            for i, p in enumerate(man["dim_paths"])
        )
        applied = man["applied_seq"]
        moved, benign = _mutation_drift(mor_man, man)
        compensatable = (
            (not moved or benign)
            and mor_man.get("base_seq", 0) <= applied <= latest
        )
        if not subsumed or not dims_static or not compensatable:
            return base_at_boundary(), None
        d = _mv_dir(self._mv_root, name)
        stored = read_dir(spark, _data_dir(d, man))
        if applied == latest:
            return (
                _apply_having(
                    _rollup_partials(
                        stored, man, group_cols, aggs, where, derived
                    ),
                    having,
                ),
                "mv",
            )
        feed = fact_project(
            change_feed_mor(spark, self._mor_root, applied, latest)
        )
        d_fact = changes_from_feed(
            feed, [c for c in feed.columns if c != "change_type"]
        )
        fact_pre = _project_rows(
            fact_project, read_mor(spark, self._mor_root, applied)
        )
        d_view = star_join_delta(
            fact_pre, d_fact, [(dim, None, on) for dim, on in dims]
        )
        base_new = pruned_star_base(
            fact_at_boundary(), [(dim, on) for dim, on in dims],
            man["group_cols"],
        )
        composed = _folded_partials(
            spark, d, man, d_view, base_new, precheck_risky=False
        )
        return (
            _apply_having(
                _rollup_partials(
                    composed, man, group_cols, aggs, where, derived
                ),
                having,
            ),
            "mv_delta",
        )


def read_mvs_snapshot(
    spark: SparkSession,
    mv_root: str,
    names: Sequence[str],
    projects: dict,
    ttl_sec: float = 300.0,
):
    """Context manager yielding an :class:`MvsSnapshot` over several
    MVs of ONE merge-on-read table, pinned to ONE sequence boundary::

        with read_mvs_snapshot(spark, mv_root, ["by_pri", "by_stat"],
                               {"by_pri": p1, "by_stat": p2}) as snap:
            a, _ = snap.aggregate("by_pri", group_cols=[...], aggs=...)
            b, _ = snap.aggregate("by_stat", group_cols=[...], aggs=...)
            # a and b reflect the SAME table state, even if a merge or
            # an MV maintenance publish lands between the two calls

    Mechanics: a reader lease on EVERY named MV plus one on the MoR
    table (generations and feed spans stay materializable across
    concurrent refresh/maintain/compaction sweeps — the round-17 lease
    discipline), then every MV manifest AND the table manifest are
    read ONCE under the leases; the table's latest sequence at that
    instant is the snapshot's ``boundary_seq``. Panels behind the
    boundary compose their stored partials with the feed span cut
    EXACTLY to it; later merges get later sequences and are invisible
    by construction. ``projects``: per-MV row→(group+measure) mappers,
    as in :func:`maintain_mv_from_mor`. All MVs must be bound to the
    same table."""
    from contextlib import ExitStack, contextmanager

    from .mor import _read_manifest, read_lease

    names = list(names)

    @contextmanager
    def _snap():
        with ExitStack() as stack:
            for n in names:
                stack.enter_context(
                    read_mv_lease(mv_root, n, ttl_sec)
                )
            mans = {}
            mor_root = None
            for n in names:
                d = _mv_dir(mv_root, n)
                with open(os.path.join(d, "mv.json")) as f:
                    man = json.load(f)
                if "mor_root" not in man:
                    raise ValueError(
                        f"MV {n} is not bound to a merge-on-read "
                        "table; read_mvs_snapshot needs bind_mv_to_mor"
                    )
                if mor_root is None:
                    mor_root = man["mor_root"]
                elif man["mor_root"] != mor_root:
                    raise ValueError(
                        f"MV {n} is bound to {man['mor_root']}, not "
                        f"{mor_root} — one snapshot spans ONE table"
                    )
                mans[n] = man
            stack.enter_context(read_lease(mor_root, ttl_sec))
            mor_man = _read_manifest(mor_root)  # THE boundary read
            latest = (
                mor_man["seqs"][-1]["seq"]
                if mor_man["seqs"]
                else mor_man.get("base_seq", 0)
            )
            yield MvsSnapshot(
                spark, mv_root, mans, mor_root, mor_man, latest,
                dict(projects),
            )

    return _snap()


def answer_join_aggregate_policied(
    spark: SparkSession,
    mv_root: str,
    name: str,
    fact_project,
    dims: Sequence[tuple],
    *,
    group_cols: Sequence[str],
    aggs: dict,
    where: Sequence | None = None,
    having: Sequence | None = None,
    derived: dict | None = None,
    max_live_span: int = 8,
    max_live_delete_keys: int | None = None,
    expected_requests: int | None = None,
    cost_model: dict | None = None,
) -> tuple[DataFrame, str]:
    """JOIN-MV sibling of :func:`answer_aggregate_policied` — the same
    zero-job :func:`plan_serve_policy` decision (the policy reads
    manifests only and is kind-agnostic) executed with the join verbs:
    ``maintain_join_mv_from_mor`` for the maintain route,
    ``answer_join_aggregate_live`` for every serve. ``dims``:
    ``[(dim_df, on_cols), ...]`` in the registered topology's order,
    STATIC — a moved dim makes the live serve fall back to base
    (action ``"base"``) regardless of the policy's seq-arithmetic
    choice, exactly as the underlying serve would."""
    pol = plan_serve_policy(
        mv_root, name,
        max_live_span=max_live_span,
        max_live_delete_keys=max_live_delete_keys,
        expected_requests=expected_requests,
        cost_model=cost_model,
    )
    maintained = False
    if pol["action"] == "maintain":
        # a moved dim must fail the MAINTAIN loud (the fold would join
        # the feed through a changed state); the live serve below would
        # merely fall back — so probe dims first and degrade to the
        # serve's own fallback instead of raising from a read path
        d = _mv_dir(mv_root, name)
        with open(os.path.join(d, "mv.json")) as f:
            man = json.load(f)
        dims_static = all(
            man["dim_fingerprints"][i] == _fingerprint(p)
            for i, p in enumerate(man["dim_paths"])
        )
        if dims_static:
            try:
                maintain_join_mv_from_mor(
                    spark, mv_root, name, fact_project, dims
                )
                maintained = True
            except RuntimeError:
                # mutation landed between the policy read and the
                # maintain: degrade to the live serve's own fallback
                # instead of raising from a read path (round-19 ADVICE)
                pass
    df, mode = answer_join_aggregate_live(
        spark, mv_root, name, fact_project, dims,
        group_cols=group_cols, aggs=aggs, where=where, having=having,
        derived=derived,
    )
    if mode == "mv":
        action = "maintain" if maintained else "mv"
    elif mode == "mv_delta":
        action = "live"
    else:
        action = "base"
    return df, action

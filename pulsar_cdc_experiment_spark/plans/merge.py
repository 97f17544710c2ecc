"""Partition-pruned copy-on-write MERGE INTO over a hive-partitioned
parquet table — the lakehouse write primitive (Delta/Iceberg ``MERGE``).

The reference's implied end-use is applying a CDC changeset to a serving
table (its feed carries c/u/d ops, reference connectors/README.md:152-157;
materialization is the read view, operators/materialize.py). ``merge_into``
is the WRITE half of that story: given a changeset keyed like the target,
apply update/delete/insert in ONE pass that rewrites only the partitions
the changeset touches.

Semantics (the three standard MERGE clauses, ``UPDATE SET *`` form):

- matched by ``keys``, ``delete_col`` true   -> row removed
- matched by ``keys``, ``delete_col`` false  -> row replaced by source row
- not matched,          ``delete_col`` false -> row inserted
- not matched,          ``delete_col`` true  -> no-op

Preconditions (guarded, fail-loud): the source is unique per key (a
multi-match MERGE is ambiguous — same error Delta raises), and the
source's partition column is non-null (null partitions need a table
format's default-partition convention, out of scope here). The TARGET
is assumed unique per key (it is a keyed table; merge itself preserves
uniqueness, and a pre-existing duplicate is collapsed by the next
update of that key — but the report's matched counts would overcount
until then).

Why this shape survives 100 TB:

- **Touched-partition discovery** is the union of (a) the changeset's own
  partition values and (b) the partitions of MATCHED target keys — (b) is
  found with a key+partition column-pruned scan of the target (two thin
  columns through the parquet scan; a transactional table format answers
  the same question from file-level key bounds / bloom metadata, which is
  the only piece local parquet cannot give us). This makes PARTITION
  DRIFT safe: an update that moves a row across partitions rewrites both
  the old and new partition, never leaving a stale twin behind.
- **Rewrite cost ∝ changeset locality, not table size**: only touched
  partitions are rewritten; the merge itself is ONE key-shuffle join
  (anti-join of old rows against changeset keys) plus a union of
  surviving source rows. AQE is free to broadcast a small changeset.
- **Exact file scoping at no extra job**: the key+partition scan also
  carries each row's file name, so the matched-key join that counts
  updates and deletes names exactly the files holding a changeset key.
  Only those files are read and rewritten; every other file of a
  touched partition is kept byte-identical by hardlink. Row-level
  membership is never coarser than a footer key-range test, and it
  needs no footer reads.
- **Re-applying the same changeset is a no-op** (update replaces with the
  same values, the insert's key now matches and replaces itself, deletes
  stay deleted) — a failed orchestrator can always just run the merge
  again; test-pinned.
- **Crash-safe publish** via the same dot-prefixed staging/aside rename
  discipline as layout.optimize_partitions: hidden dirs are invisible to
  Spark's partition discovery, so no crash window can serve a
  half-written or duplicated partition; a leftover aside whose live dir
  vanished is restored on the next run.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import urllib.parse
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..sources.tables import (
    _cached_schema,
    data_schema,
    listing_state,
    seed_schema_cache,
)
from .layout import (
    MERGE_ASIDE as ASIDE,
)
from .layout import (
    MERGE_STAGING as STAGING,
)
from .layout import (
    dir_bytes,
    maintenance_lock,
    recover_partition_swaps,
    target_file_count,
)
from .tuning import job_label

# Spark writes NULL and ''-valued partitions to this reserved dir name;
# rows in it read back as NULL. merge_into refuses both on the source
# side AND refuses a target already carrying one — supporting it needs
# a table format's default-partition convention, and half-supporting it
# silently loses rows (round-9 review: an '' insert vanished while the
# report claimed success).
HIVE_DEFAULT_PARTITION = "__HIVE_DEFAULT_PARTITION__"

#: merge version-retention dir (hidden: partition discovery and the
#: recovery sweep both skip it — pinned in tests/test_maintenance_lock)
HISTORY = ".merge_history"


def _part_dirs(
    root: str, partition_cols: str | Sequence[str]
) -> dict[tuple, str]:
    """Map decoded partition VALUE TUPLE -> relative leaf dir path for
    every live (leaf) partition dir, one tuple slot per partition level
    (``('1-URGENT', 'O') -> 'o_orderpriority=1-URGENT/o_orderstatus=O'``).
    Spark percent-escapes special chars in partition dir names
    (ExternalCatalogUtils.escapePathName); decoding the written names is
    exact, whereas re-implementing the escape table would be a second
    source of truth."""
    cols = [partition_cols] if isinstance(partition_cols, str) else list(
        partition_cols
    )
    out: dict[tuple, str] = {}

    def walk(d: str, level: int, vals: tuple, rel: str) -> None:
        prefix = f"{cols[level]}="
        for entry in sorted(os.listdir(d)):
            if entry.startswith(".") or not entry.startswith(prefix):
                continue
            if not os.path.isdir(os.path.join(d, entry)):
                continue
            v = urllib.parse.unquote(entry[len(prefix):])
            nrel = os.path.join(rel, entry) if rel else entry
            if level + 1 == len(cols):
                out[(*vals, v)] = nrel
            else:
                walk(os.path.join(d, entry), level + 1, (*vals, v), nrel)

    walk(root, 0, (), "")
    return out


#: separator for the exact tuple-membership term of the composite
#: touched-set predicate (a C0 control char no sane partition value
#: carries; values containing it fall back to the OR-of-ANDs shape)
_TUPLE_SEP = "\x1f"


def touched_prune_predicate(cols, tuples: list[tuple]):
    """FLAT touched-partition predicate over literal value tuples —
    analysis cost O(values), tree depth O(1) in the touched count.

    The OR-of-ANDs shape this replaces grows one tree level per touched
    tuple: at ~300 tuples Spark 4's column-tree converter overflows the
    JVM stack outright, and well before that Catalyst analysis walks a
    quadratic tree (round-12 verdict #4; measured in tools/stress.py
    touched_pruning legs: 1.1 s analysis at just 100 tuples vs 0.11 s
    for the flat shape).

    Shape: single level → one ``isin`` (static partition pruning,
    exact). Composite levels → per-level ``isin`` conjunction (each term
    is a literal list, so Catalyst still prunes DIRECTORIES statically —
    to the cartesian product of touched level values) AND an exact
    tuple-membership ``isin`` over a separator-joined synthesis of the
    level columns (evaluated post-scan on the pruned rows only, keeping
    the selected set EXACTLY the touched tuples — merge_into's rewrite
    correctness requires exactness, not a superset). A value carrying
    the separator would make the joined spelling ambiguous, so that
    (pathological) case falls back to the OR-of-ANDs shape, bounded by
    its own rarity.

    Tuple values are coerced with ``str()`` (matching the
    ``cast("string")`` join column below) — both in-repo call sites pass
    hive dir-name spellings already, but the helper reads as
    general-purpose and a non-string partition value must not TypeError
    on the separator scan (round-13 advice)."""
    cols = list(cols)
    tuples = sorted(tuple(str(v) for v in t) for t in tuples)
    if len(cols) == 1:
        return cols[0].isin(*[t[0] for t in tuples])
    if any(_TUPLE_SEP in v for t in tuples for v in t):
        pred = F.lit(False)
        for t in tuples:
            conj = F.lit(True)
            for c, val in zip(cols, t):
                conj = conj & (c == F.lit(val))
            pred = pred | conj
        return pred
    pred = F.lit(True)
    for i, c in enumerate(cols):
        pred = pred & c.isin(*sorted({t[i] for t in tuples}))
    joined = F.concat_ws(_TUPLE_SEP, *[c.cast("string") for c in cols])
    return pred & joined.isin(*[_TUPLE_SEP.join(t) for t in tuples])


def merge_into(
    spark: SparkSession,
    root: str,
    source: DataFrame,
    *,
    keys: Sequence[str],
    partition_col: str | Sequence[str],
    delete_col: str = "is_delete",
    target_mb: int = 256,
    evolve_schema: bool = False,
    file_scope: bool = True,
    file_scope_min_mb: int = 64,
    keep_history: bool = False,
) -> dict:
    """Apply ``source`` (changeset) to the partitioned parquet table at
    ``root``; returns a report::

        {"touched": [value, ...], "untouched": [value, ...],
         "deleted_partitions": [value, ...],
         "n_updated": int, "n_deleted": int, "n_inserted": int,
         "n_noop_deletes": int}

    ``partition_col`` may be a single column name or a SEQUENCE of names
    for a composite (multi-level hive) layout — touched-set discovery,
    pruning, drift containment and the staged-swap publish all operate
    on full value TUPLES; report entries for a composite table are
    value lists (``["1-URGENT", "O"]``), plain strings for a single
    column (back-compat).

    ``source`` must carry every target data column plus every partition
    column plus boolean ``delete_col``. Columns are matched by NAME. Source
    columns the target lacks are an ERROR unless ``evolve_schema=True``,
    which widens the rewritten files (surviving old rows take NULL in
    the new columns — the union-by-name convention the streaming
    materializer uses); the report then carries ``"schema_evolved"``.
    Untouched partitions, and the files file scoping keeps, stay at the
    old width, so post-evolution reads of the whole table must merge
    footers (``mergeSchema``) or use a catalog schema — the same
    contract as any evolving parquet layout, and why this function's
    own target read and :func:`read_version` merge footers.

    The target's data columns come from the root's slot in the
    ``sources.tables`` schema cache, the one ``read_dir`` uses: the
    merged-footer schema of the data columns, keyed on the visible file
    listing (relpath, name, mtime and size of every data file), so only
    a merge after a writer that left no slot, or after any other writer
    changed a file, runs the inference job. After publish the merge
    seeds that slot from the schema it wrote when it did not widen the
    table and wrote files whose data columns equal the target's, names
    and types; an evolving merge, a type-widening one, or one that wrote
    no row leaves the slot, and the next reader infers. The slot holds
    the schema only, never data, and never the partition columns: the
    merge reads them as strings, ``read_dir`` with their inferred types.

    ``file_scope=True`` (default) narrows the rewrite INSIDE each
    touched partition to the data files that hold a matched key, as the
    stats action's matched-key join finds them (row membership, not
    footer ranges, and no extra Spark job); every other file is kept
    byte-identical (hardlinked into the staged swap). Rewrite cost then
    tracks the files the changeset's keys live in, not touched-partition
    bytes. The report gains ``"files_rewritten"`` / ``"files_kept"``.
    ``file_scope=False`` rewrites each touched partition whole.
    ``file_scope_min_mb`` has no effect; it is kept so existing callers
    still bind.

    ``keep_history=True`` preserves each replaced/deleted partition's
    pre-merge copy under ``root/.merge_history/v<NNNNNN>/`` with a
    manifest, instead of discarding it — the keep-N version retention
    the ``.merge_history`` name reserves. :func:`rollback_last_merge`
    undoes the newest version crash-safely; :func:`vacuum_merge_history`
    applies the retention policy (the AtomicStateDir ``keep_versions``
    policy, applied to merge versions). The report gains ``"version"``.

    Single-writer: the whole mutation (recovery sweep through publish)
    runs under :class:`plans.layout.maintenance_lock`, so a MERGE
    concurrent with another MERGE or a partition-scoped OPTIMIZE on the
    same root fails LOUD instead of sweeping the other's in-flight
    staging/aside dirs.
    """
    with maintenance_lock(root), job_label(spark, "merge.cow"):
        return _merge_into_unlocked(
            spark,
            root,
            source,
            keys=keys,
            partition_col=partition_col,
            delete_col=delete_col,
            target_mb=target_mb,
            evolve_schema=evolve_schema,
            file_scope=file_scope,
            keep_history=keep_history,
        )


def _merge_into_unlocked(
    spark: SparkSession,
    root: str,
    source: DataFrame,
    *,
    keys: Sequence[str],
    partition_col: str | Sequence[str],
    delete_col: str,
    target_mb: int,
    evolve_schema: bool,
    file_scope: bool,
    keep_history: bool,
) -> dict:
    keys = list(keys)
    single = isinstance(partition_col, str)
    pcols = [partition_col] if single else list(partition_col)
    if os.path.exists(os.path.join(root, ".mor", "manifest.json")):
        raise ValueError(
            f"{root} is a merge-on-read table (plans/mor.py); the "
            "copy-on-write merge_into would bypass its sidecars and "
            "corrupt the overlay — use merge_into_mor"
        )
    recover_partition_swaps(root)
    live = _part_dirs(root, pcols)
    if any(HIVE_DEFAULT_PARTITION in t for t in live):
        raise ValueError(
            f"target at {root} carries a {HIVE_DEFAULT_PARTITION} dir "
            "(null/empty partition values); merge_into does not support "
            "the hive default partition — repartition those rows first"
        )
    # The target's data columns come from the root's schema slot (the
    # union of the data files' footers: a previously evolved table
    # carries files of mixed width), so a merge into a table no other
    # writer changed since the last engine commit runs no inference job.
    # Partition columns are appended as strings: merge bookkeeping keys
    # partitions by their hive dir-name spelling, and letting discovery
    # re-type `p=0` as int would make touched-set values incomparable
    # with the source's.
    schema = data_schema(spark, root)
    target = spark.read.schema(
        T.StructType(
            schema.fields + [T.StructField(c, T.StringType()) for c in pcols]
        )
    ).parquet(root)
    data_cols = [c for c in target.columns if c not in pcols]
    missing = [
        c
        for c in data_cols + pcols + [delete_col]
        if c not in source.columns
    ]
    if missing:
        raise ValueError(f"merge source lacks column(s) {missing}")
    extra = [
        c
        for c in source.columns
        if c not in data_cols + pcols + [delete_col]
    ]
    if extra and not evolve_schema:
        raise ValueError(
            f"merge source carries column(s) {extra} the target lacks; "
            "pass evolve_schema=True to widen the table (or drop them)"
        )
    out_cols = data_cols + extra + pcols

    # partition values travel as their dir-name spelling throughout
    src = source
    for c in pcols:
        src = src.withColumn(c, F.col(c).cast("string"))
    src = src.select(*out_cols, F.col(delete_col).cast("boolean"))
    # Materialize AND lineage-truncate the changeset: without it the
    # stats collect and the staging write each re-analyze the caller's
    # full changeset lineage (often windowed ranked plans); the
    # checkpoint pays one materialization and every later action plans
    # against a bare ExistingRDD scan. O(changeset) rows, verb context
    # (jobs fine).
    src = src.localCheckpoint(eager=True)
    try:
        # -- guard + stats + touched discovery: one bounded-output
        # action. The target side is a key+partition projection
        # (column-pruned scan); output is one row of counters plus two
        # partition-value sets (bounded by partition count) — the
        # sanctioned bounded-model-state shape, same as the layout
        # reports. The matched side is an INNER join (changeset-sized
        # build side, so AQE broadcasts it and the 100 TB-side thin
        # scan is a map-side hash probe — a LEFT join here would pin
        # the preserved side as the stream side and force a full
        # sort-merge shuffle of every target key, which benchmarked as
        # the whole scoped-merge advantage); insert/no-op counts are
        # derived as source totals minus matched.
        null_part = F.lit(False)
        for c in pcols:
            null_part = null_part | F.col(c).isNull() | (F.col(c) == "")
        per_key = src.groupBy(*keys).agg(
            F.count("*").alias("__c"),
            F.max(delete_col).alias("__del"),
            # NULL *or* empty-string IN ANY LEVEL: both land in the hive
            # default partition dir, whose name round-trips as a literal
            # string and silently breaks the swap bookkeeping
            F.max(null_part.cast("int")).alias("__np"),
            F.first(F.struct(*pcols)).alias("__sp"),
        )
        tgt_keys = target.select(
            *keys,
            F.struct(
                *[F.col(c).cast("string").alias(c) for c in pcols]
            ).alias("__tp"),
            F.col("_metadata.file_name").alias("__file"),
        )
        src_totals = per_key.agg(
            F.max("__c").alias("max_dup"),
            F.sum("__np").alias("null_parts"),
            F.sum((~F.col("__del")).cast("long")).alias("n_upserts"),
            F.sum(F.col("__del").cast("long")).alias("n_src_deletes"),
            # deletes take effect where the TARGET copy lives
            # (tgt_parts); a no-op delete must not claim its source
            # partition as touched
            F.collect_set(
                F.when(~F.col("__del"), F.col("__sp"))
            ).alias("src_parts"),
        )
        matched_totals = (
            tgt_keys.join(per_key.select(*keys, "__del"), keys)
            .agg(
                F.sum((~F.col("__del")).cast("long")).alias("n_updated"),
                F.sum(F.col("__del").cast("long")).alias("n_deleted"),
                # (leaf, file) of every matched target row: the touched
                # leaves, and exactly the files file scoping rewrites
                # (bounded by file count)
                F.collect_set(F.struct("__tp", "__file")).alias(
                    "tgt_files"
                ),
            )
        )
        stats = src_totals.crossJoin(matched_totals).collect()[0]
        n_updated = int(stats["n_updated"] or 0)
        n_deleted = int(stats["n_deleted"] or 0)
        n_inserted = int(stats["n_upserts"] or 0) - n_updated
        n_noop_deletes = int(stats["n_src_deletes"] or 0) - n_deleted
        if stats["max_dup"] and stats["max_dup"] > 1:
            raise ValueError(
                "merge source has multiple rows for at least one key "
                f"(max {stats['max_dup']}); MERGE requires a unique "
                "changeset per key — fold it first (latest_by_key)"
            )
        if stats["null_parts"]:
            raise ValueError(
                f"merge source has {stats['null_parts']} key(s) with a "
                f"NULL or empty {', '.join(pcols)}; the hive default "
                "partition is not supported"
            )
        # struct values come back as Rows; bookkeeping keys are tuples
        matched_files = {
            (tuple(r["__tp"]), r["__file"]) for r in stats["tgt_files"]
        }
        touched = sorted(
            {tuple(r) for r in stats["src_parts"]}
            | {v for v, _f in matched_files}
        )
        untouched = sorted(set(live) - set(touched))

        def _rep(v: tuple):
            # report spelling: plain value for a single-level layout
            # (back-compat), value list for composite
            return v[0] if single else list(v)

        if not touched:
            # changeset was all no-op deletes: nothing to rewrite, but
            # the stats still report what the changeset asked for
            return {
                "touched": [], "untouched": [_rep(v) for v in untouched],
                "deleted_partitions": [], "n_updated": 0, "n_deleted": 0,
                "n_inserted": 0,
                "n_noop_deletes": n_noop_deletes,
                "schema_evolved": [],
            }

        # -- file-level scoping: the stats join above already names every
        # target file that holds a changeset key. Inside the touched
        # partitions only those files are rewritten; every other file
        # is kept byte-identical.
        kept: dict[tuple, list[str]] = {}
        scoped: list[tuple[tuple, str]] = []
        if file_scope:
            listed = set()
            for v in touched:
                if v not in live:
                    continue
                for fname in sorted(os.listdir(os.path.join(root, live[v]))):
                    # Spark's reader skips these names; so does the swap
                    if fname.startswith(("_", ".")):
                        continue
                    listed.add((v, fname))
                    if (v, fname) in matched_files:
                        scoped.append((v, fname))
                    else:
                        kept.setdefault(v, []).append(fname)
            stray = sorted(matched_files - listed)
            if stray:
                # keeping a file that holds a matched key would leave a
                # stale twin of that key beside its merged row
                raise RuntimeError(
                    f"matched target file(s) {stray[:3]} are not under "
                    f"their partition dirs in {root}; refusing to scope "
                    "the rewrite"
                )

        # -- the merge plan: a read of the touched data (the scoped files,
        # or the touched partitions whole), ONE key-shuffle anti-join
        # dropping every old copy of a changeset key (including drifted
        # copies in other touched partitions), union of surviving source
        # rows. No manual broadcast — AQE decides from the changeset's
        # actual size.
        if file_scope and not scoped:
            # no touched file holds a changeset key: only new rows land
            merged = src.filter(~F.col(delete_col)).select(*out_cols)
        else:
            # flat touched-tuple predicate over the target read, whose
            # file listing is already taken: literal isin terms prune
            # directories statically; composite exactness comes from the
            # joined-tuple membership term (touched_prune_predicate — the
            # OR-of-ANDs shape stack-overflows past a few hundred touched
            # leaves). File scoping adds the file name as one more level:
            # its isin prunes files by name (a metadata filter, no
            # listing job however many files are scoped), and the joined
            # term keeps names repeated across leaves exact.
            level_cols = [F.col(c) for c in pcols]
            tuples = touched
            if file_scope:
                level_cols.append(F.col("_metadata.file_name"))
                tuples = [(*v, f) for v, f in scoped]
            old = target.filter(touched_prune_predicate(level_cols, tuples))
            merged = old.select(
                *[c for c in out_cols if c in target.columns]
            ).join(src.select(*keys), keys, "left_anti").unionByName(
                src.filter(~F.col(delete_col)).select(*out_cols),
                # surviving old rows take NULL in evolution-added columns
                allowMissingColumns=True,
            )

        # -- size the rewrite: k files per touched partition from the
        # bytes actually being rewritten — the scoped files, or the
        # touched partitions' full bytes (at 100 TB the table format's
        # file-size targets drive this instead)
        if file_scope:
            touched_bytes = sum(
                os.path.getsize(os.path.join(root, live[v], f))
                for v, f in scoped
            )
        else:
            touched_bytes = sum(
                dir_bytes(os.path.join(root, live[v])) for v in touched
                if v in live
            )
        # files per touched partition: the byte-derived 256 MB target,
        # floored by available parallelism so a small touched set still
        # rewrites with every core (at 100 TB the byte target dominates;
        # locally a k=1 target would funnel the rewrite through one
        # task — benchmarked as most of the scoped-merge wall). Extra
        # small files are optimize_partitions' job, same as any sink.
        par = spark.sparkContext.defaultParallelism
        k = max(
            1,
            target_file_count(touched_bytes // max(1, len(touched)),
                              target_mb),
            -(-par // len(touched)),
        )
        staging = os.path.join(root, STAGING + "merge")
        (
            merged.repartition(
                len(touched) * k,
                *[F.col(c) for c in pcols],
                F.pmod(F.hash(*keys), F.lit(k)),
            )
            .write.mode("overwrite")
            .partitionBy(*pcols)
            .parquet(staging)
        )

        # -- history version dir: replaced/deleted partitions MOVE here
        # instead of being discarded (kept files arrive as hardlinks, so
        # a retained version shares storage with the live table the way
        # a table format's version snapshots share data files)
        vdir = None
        version = None
        hist: dict | None = None
        if keep_history:
            hist_root = os.path.join(root, HISTORY)
            os.makedirs(hist_root, exist_ok=True)
            prior = [
                int(d[1:])
                for d in os.listdir(hist_root)
                if d.startswith("v") and d[1:].isdigit()
            ]
            version = max(prior, default=0) + 1
            vdir = os.path.join(hist_root, f"v{version:06d}")
            os.makedirs(vdir)
            hist = {"replaced": [], "created": [], "deleted": []}

        def _to_history(path: str, ldir: str, kind: str) -> None:
            dst = os.path.join(vdir, ldir)
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            os.rename(path, dst)
            hist[kind].append(ldir)

        # -- publish: swap staged partitions in, remove touched partitions
        # the merge emptied (hidden-dir rename discipline throughout)
        staged = _part_dirs(staging, partition_col)
        # a merge that wrote no row leaves only old files, whose footer
        # union may be narrower than the target schema
        wrote = bool(staged)
        deleted_parts = []
        consumed = set()
        n_kept = sum(len(fs) for fs in kept.values())
        for v in touched:
            sdir = staged.get(v)
            keep_list = kept.get(v, [])
            if sdir is None and keep_list:
                # every changeset row for this leaf vanished (all its
                # keys deleted) but scoping kept some files: the
                # "rewrite" is the kept set alone
                sdir = live[v]
                os.makedirs(os.path.join(staging, sdir), exist_ok=True)
                staged[v] = sdir
            if sdir is not None:
                consumed.add(sdir)
            # a brand-new partition takes its dir name from the staging
            # write — Spark's own escaping, never re-derived here
            ldir = live.get(v) or sdir
            if ldir is None:
                continue  # touched value with neither live nor staged dir
            live_p = os.path.join(root, ldir)
            # hidden-prefix names attach to the LEAF component only
            # (``a=x/.merge_old_b=y``) — the convention
            # recover_partition_swaps' nested sweep restores; prefixing
            # the whole relative path would name a dir whose parent
            # doesn't exist
            head, leaf = os.path.split(ldir)
            aside = os.path.join(root, head, ASIDE + leaf)
            if sdir is not None and keep_list:
                # non-intersecting files survive by hardlink into the
                # staged dir BEFORE the swap — byte-identical, same
                # names, zero copy; the aside then carries the second
                # link until it is dropped (or retained as history)
                for fname in keep_list:
                    dst = os.path.join(staging, sdir, fname)
                    if os.path.exists(dst):
                        raise RuntimeError(
                            f"kept file {fname} collides with a staged "
                            f"file in {sdir}; refusing to overwrite"
                        )
                    src_f = os.path.join(live_p, fname)
                    try:
                        os.link(src_f, dst)
                    except OSError:
                        shutil.copy2(src_f, dst)
            if sdir is not None:
                if os.path.exists(live_p):
                    os.rename(live_p, aside)
                # a brand-new leaf in a composite layout may need its
                # parent level created before the staged dir renames in
                os.makedirs(os.path.dirname(live_p), exist_ok=True)
                os.rename(os.path.join(staging, sdir), live_p)
                if hist is not None and os.path.exists(aside):
                    _to_history(aside, ldir, "replaced")
                else:
                    shutil.rmtree(aside, ignore_errors=True)
                if hist is not None and v not in live:
                    hist["created"].append(ldir)
            elif v in live:
                # intentional delete: tombstone with the STAGING prefix,
                # which recover_partition_swaps unconditionally DISCARDS.
                # An ASIDE rename here would make a crash between the
                # rename and the rmtree resurrect every deleted row on
                # the next recovery sweep
                # (test_merge_crash_window_keeps_partition_deleted pins
                # it).
                tomb = os.path.join(
                    root, head, STAGING + "deleted_" + leaf
                )
                os.rename(live_p, tomb)
                if hist is not None:
                    _to_history(tomb, ldir, "deleted")
                else:
                    shutil.rmtree(tomb, ignore_errors=True)
                deleted_parts.append(v)
        # fail loud BEFORE deleting staging if any staged dir was never
        # consumed — removing it would silently discard merged rows (an
        # ''-valued partition did that once; any spelling mismatch
        # between touched values and staged dir names lands here too)
        orphans = sorted(set(staged.values()) - consumed)
        if orphans:
            raise RuntimeError(
                f"merge publish produced staged partition dir(s) {orphans} "
                "with no matching touched value; refusing to discard "
                "merged rows (staging left in place for inspection at "
                f"{staging})"
            )
        shutil.rmtree(staging, ignore_errors=True)
        # seed the root's slot from the written schema when inference
        # would give back the target's data columns: the written files
        # carry exactly them and every other file was already part of
        # the target
        written = [(f.name, f.dataType) for f in merged.schema
                   if f.name not in pcols]
        if not extra and wrote and written == [
            (f.name, f.dataType) for f in schema
        ]:
            seed_schema_cache(root, merged.schema, pcols)

        # _rep(): the documented report spelling (plain value for a
        # single-level layout, value list for composite); raw tuples
        # would JSON round-trip as nested lists
        report = {
            "touched": [_rep(v) for v in touched],
            "untouched": [_rep(v) for v in untouched],
            "deleted_partitions": [_rep(v) for v in deleted_parts],
            "n_updated": n_updated,
            "n_deleted": n_deleted,
            "n_inserted": n_inserted,
            "n_noop_deletes": n_noop_deletes,
            "schema_evolved": extra,
        }
        if file_scope:
            report["files_rewritten"] = len(scoped)
            report["files_kept"] = n_kept
        if hist is not None:
            # manifest LAST (atomic tmp+replace): a version without a
            # manifest is incomplete and ignored by merge_history
            man = {
                "version": version,
                "touched": report["touched"],
                "replaced": sorted(hist["replaced"]),
                "created": sorted(hist["created"]),
                "deleted": sorted(hist["deleted"]),
                "partition_col": pcols,
                "keys": keys,
                # operation metrics (Delta DESCRIBE HISTORY's
                # operationMetrics analog) — lets the history view
                # answer "what did version N do" without reconstructing
                # either side of it
                "metrics": {
                    k: report[k]
                    for k in (
                        "n_updated",
                        "n_deleted",
                        "n_inserted",
                        "n_noop_deletes",
                    )
                },
            }
            tmp = os.path.join(vdir, "manifest.json.tmp")
            with open(tmp, "w") as f:
                json.dump(man, f)
            os.replace(tmp, os.path.join(vdir, "manifest.json"))
            report["version"] = version
        return report
    finally:
        src.unpersist()


def partition_file_listing(root: str, partition_col: str) -> dict:
    """(dir name -> sorted [(file name, size)]) for every live partition —
    the identity probe tests use to pin that untouched partitions stay
    byte-identical through a merge."""
    out = {}
    for v, entry in _part_dirs(root, partition_col).items():
        files = sorted(
            (os.path.basename(p), os.path.getsize(p))
            for p in glob.glob(os.path.join(root, entry, "part-*"))
        )
        out[entry] = files
    return out


# ---------------------------------------------------------------------------
# merge version retention: history / rollback / vacuum (the Delta
# ``RESTORE`` + ``VACUUM`` pair over the ``.merge_history`` dir that
# ``merge_into(keep_history=True)`` populates)


def merge_history(root: str) -> list[dict]:
    """Retained merge versions' manifests, oldest → newest. A version
    dir without a complete ``manifest.json`` (crash mid-publish) is
    ignored — its partitions were either published or recovered by the
    aside sweep, so the table is consistent without it."""
    hist_root = os.path.join(root, HISTORY)
    if not os.path.isdir(hist_root):
        return []
    out = []
    for d in sorted(os.listdir(hist_root)):
        mpath = os.path.join(hist_root, d, "manifest.json")
        if d.startswith("v") and os.path.exists(mpath):
            with open(mpath) as f:
                out.append(json.load(f))
    out.sort(key=lambda m: m["version"])
    return out


def rollback_last_merge(root: str) -> dict:
    """Undo the NEWEST retained merge version — Delta ``RESTORE`` for
    the copy-on-write merge: every partition the merge replaced or
    deleted is put back from its history copy; every partition the
    merge created is removed. Returns the undone manifest.

    Crash-safe and idempotent per partition: the history copy first
    renames to the partition's hidden ASIDE name (invisible to reads),
    the merged dir then renames to a STAGING tombstone, and the aside
    renames live — at every crash point the recovery sweep yields the
    rolled-back state for that partition (aside restored, tombstone
    discarded). A re-run skips partitions whose history copy is already
    consumed. Rolling back more than one version = calling this in a
    loop (newest-first, the only order that is well-defined — version
    N+1's pre-state embeds version N's post-state)."""
    with maintenance_lock(root):
        recover_partition_swaps(root)
        versions = merge_history(root)
        if not versions:
            raise ValueError(f"no retained merge history under {root}")
        man = versions[-1]
        vdir = os.path.join(root, HISTORY, f"v{man['version']:06d}")
        # converge any crashed purge first: rollback restores saved
        # leaves by existence, and a mid-purge-rename missing leaf would
        # read as "already restored" (lock already held here)
        _purge_recover(vdir)

        def _discard_live(ldir: str) -> None:
            live_p = os.path.join(root, ldir)
            if not os.path.exists(live_p):
                return
            head, leaf = os.path.split(ldir)
            tomb = os.path.join(root, head, STAGING + "rollback_" + leaf)
            os.rename(live_p, tomb)
            shutil.rmtree(tomb, ignore_errors=True)

        for ldir in man["replaced"] + man["deleted"]:
            saved = os.path.join(vdir, ldir)
            if not os.path.exists(saved):
                continue  # already restored by an interrupted run
            head, leaf = os.path.split(ldir)
            aside = os.path.join(root, head, ASIDE + leaf)
            os.makedirs(os.path.dirname(aside), exist_ok=True)
            os.rename(saved, aside)
            _discard_live(ldir)
            os.rename(aside, os.path.join(root, ldir))
        for ldir in man["created"]:
            _discard_live(ldir)
        shutil.rmtree(vdir, ignore_errors=True)
        return man


def vacuum_merge_history(root: str, keep_last: int = 1) -> list[int]:
    """Retention policy for ``.merge_history``: keep the newest
    ``keep_last`` versions, drop the rest (the AtomicStateDir
    ``keep_versions`` policy applied to merge versions — after vacuum,
    rollback reaches only the retained tail). Incomplete version dirs
    (no manifest) are always swept. Returns the dropped version
    numbers."""
    with maintenance_lock(root):
        hist_root = os.path.join(root, HISTORY)
        if not os.path.isdir(hist_root):
            return []
        complete = merge_history(root)
        dropped = []
        keep = {m["version"] for m in complete[max(0, len(complete) - max(0, keep_last)):]} if keep_last > 0 else set()
        for m in complete:
            if m["version"] not in keep:
                shutil.rmtree(
                    os.path.join(hist_root, f"v{m['version']:06d}"),
                    ignore_errors=True,
                )
                dropped.append(m["version"])
        complete_names = {f"v{m['version']:06d}" for m in complete}
        for d in os.listdir(hist_root):
            if d.startswith("v") and d not in complete_names:
                shutil.rmtree(
                    os.path.join(hist_root, d), ignore_errors=True
                )
        return dropped


def read_version(spark, root: str, as_of: int):
    """Read-only time travel over the ``.merge_history`` retention that
    :func:`merge_into(keep_history=True)` populates — the query half of
    Delta's ``VERSION AS OF`` (``rollback_last_merge`` is the RESTORE
    half, this never mutates the table and takes no lock).

    ``as_of=N`` returns the table state immediately AFTER merge version
    N; ``as_of=0`` is the pre-history base state. Reconstruction walks
    retained manifests newest → oldest down to ``as_of+1``, overlaying a
    leaf-dir → source map: a version's ``replaced``/``deleted`` entries
    redirect the leaf to that version's saved pre-state copy, its
    ``created`` entries drop the leaf — each overwrite rewinds the leaf
    one version, so after the walk every leaf points at its ``as_of``
    content. Live leaves never touched by the walk read from the live
    dir. Partition columns are recovered from the hive dir names via
    per-source ``basePath``; schemas across versions union by name
    (older copies may predate an evolved column). Requires the history
    to be CONTIGUOUS above ``as_of`` — a vacuumed gap makes older states
    unreachable, exactly like a table format after VACUUM.

    At 100 TB this is a manifest walk plus a parquet scan of the chosen
    file set — no data is copied; history copies are hardlink-shared
    with live data where file scoping kept files."""
    versions = merge_history(root)
    latest = versions[-1]["version"] if versions else 0
    if as_of > latest:
        raise ValueError(
            f"as_of={as_of} is newer than the latest retained merge "
            f"version {latest} under {root}"
        )
    newer = [m for m in versions if m["version"] > as_of]
    want = list(range(as_of + 1, latest + 1))
    if [m["version"] for m in newer] != want:
        raise ValueError(
            f"history gap: reconstructing as_of={as_of} needs retained "
            f"versions {want}, found {[m['version'] for m in newer]} "
            "(vacuumed states are unreachable)"
        )
    pcols = versions[0]["partition_col"] if versions else None
    if pcols is None:
        raise ValueError(f"no retained merge history under {root}")
    pcol_sets = {tuple(m["partition_col"]) for m in versions}
    if len(pcol_sets) > 1:
        raise ValueError(
            "retained manifests disagree on partition_col "
            f"({sorted(pcol_sets)}) — reconstruction across a "
            "re-partitioned history is ill-defined"
        )

    # leaf dir -> (base path for hive decoding, absolute leaf path);
    # None = leaf does not exist at as_of
    src: dict[str, tuple[str, str] | None] = {
        ldir: (root, os.path.join(root, ldir))
        for ldir in _part_dirs(root, pcols).values()
    }
    for man in reversed(newer):
        vdir = os.path.join(root, HISTORY, f"v{man['version']:06d}")
        # a purge crash window must converge BEFORE the existence checks
        # below, or a mid-rename missing leaf silently rewinds to the
        # wrong source (no-op unless purge sentinels are present)
        _ensure_purge_converged(root, vdir)
        for ldir in man["replaced"] + man["deleted"]:
            saved = os.path.join(vdir, ldir)
            if os.path.exists(saved):
                src[ldir] = (vdir, saved)
        for ldir in man["created"]:
            src[ldir] = None

    by_base: dict[str, list[str]] = {}
    for entry in src.values():
        if entry is not None:
            by_base.setdefault(entry[0], []).append(entry[1])
    parts = []
    for base, paths in sorted(by_base.items()):
        paths = sorted(paths)
        # schema-cached per (base, leaf set, file state): re-reading the
        # same retained version plans zero jobs (the fixture-reuse gate),
        # same discipline as sources.tables.read_dir
        state = tuple(
            (os.path.relpath(p, base), listing_state(p)) for p in paths
        )
        reader = spark.read.option("basePath", base)
        # cache key carries the LEAF SET: two reconstructions over the
        # same base with different leaf selections (e.g. change_feed's
        # pre and post sides both touching the live root) must not
        # thrash one slot and re-infer per construction. Footers are
        # merged: after schema evolution, files of both widths sit side
        # by side, across leaves and (file scoping keeps files) within
        # one leaf, and one footer would name only one width.
        schema = _cached_schema(
            f"{base}::as_of::{'|'.join(os.path.relpath(p, base) for p in paths)}",
            state,
            lambda b=base, ps=paths: (
                spark.read.option("basePath", b)
                .option("mergeSchema", "true")
                .parquet(*ps)
                .schema
            ),
        )
        parts.append(reader.schema(schema).parquet(*paths))
    if not parts:
        raise ValueError(f"version {as_of} of {root} has no partitions")
    out = parts[0]
    for df in parts[1:]:
        out = out.unionByName(df, allowMissingColumns=True)
    return out


def change_feed(
    spark,
    root: str,
    from_version: int,
    to_version: int | None = None,
) -> DataFrame:
    """Row-level CHANGE FEED between two retained merge versions — the
    Delta ``table_changes`` / Change Data Feed analog for the
    copy-on-write merge layer. Returns one row per change with a
    ``change_type`` column: ``insert``, ``delete``, or the
    ``update_pre``/``update_post`` pair (the same pre/post-image
    convention the reference's CDC envelope carries as before/after,
    reference connectors/README.md:152-157 — this closes the loop:
    changesets go IN via merge_into, and the same c/u/d shape comes
    back OUT for downstream incremental consumers).

    ``to_version=None`` means the live table. Keys and partition
    columns come from the retained manifests — which must AGREE across
    the spanned versions (two merges with different ``keys`` or
    ``partition_col`` on the same root would make the diff silently use
    the newest; guarded, fail-loud). Both sides are pruned to the union
    of the spanned versions' TOUCHED partition values before the diff,
    so feed cost is proportional to what the merges touched, never
    table size (a table format derives the same feed from its
    add/remove file actions; here the manifest's touched list is that
    metadata). The diff itself is one key-shuffle FULL OUTER join of
    two partition-pruned scans; row comparison is a single null-safe
    struct equality over the UNION of both sides' columns — a column
    present on one side only (schema evolution mid-span) reads as NULL
    on the other, so an update that changes only an evolved column
    still emits its pre/post pair instead of silently vanishing.

    SEMANTICS — net diff, not replay: a span covering multiple versions
    returns the NET difference of the two reconstructed states (an
    insert-then-delete within the span cancels; intermediate updates
    collapse into one pre/post pair). That is exactly right for state
    synchronization; an event-sourcing consumer that needs every
    intermediate change replays per version:
    ``for v in range(lo, hi): change_feed(root, v, v + 1)``.
    """
    versions = merge_history(root)
    if not versions:
        raise ValueError(f"no retained merge history under {root}")
    latest = versions[-1]["version"]
    hi = latest if to_version is None else to_version
    if not 0 <= from_version < hi <= latest:
        raise ValueError(
            f"change_feed needs 0 <= from ({from_version}) < to ({hi}) "
            f"<= latest retained version ({latest})"
        )
    mans = [m for m in versions if from_version < m["version"] <= hi]
    key_sets = {tuple(m["keys"]) for m in mans}
    pcol_sets = {tuple(m["partition_col"]) for m in versions}
    if len(key_sets) > 1 or len(pcol_sets) > 1:
        raise ValueError(
            "change_feed spans manifests that disagree on "
            f"keys ({sorted(key_sets)}) or partition_col "
            f"({sorted(pcol_sets)}) — a feed across re-keyed or "
            "re-partitioned merges is ill-defined; replay per version"
        )
    keys = list(mans[-1]["keys"])
    pcols = list(versions[0]["partition_col"])
    touched = {
        tuple(v) if isinstance(v, list) else (v,)
        for m in mans
        for v in m["touched"]
    }

    pre = read_version(spark, root, from_version)
    post = read_version(spark, root, hi)

    # flat literal pruning over the manifests' touched values
    # (touched_prune_predicate — analysis cost constant in touched
    # count); partition values compare in their dir-name spelling
    prune = touched_prune_predicate(
        [F.col(c).cast("string") for c in pcols], sorted(touched)
    )
    pre, post = pre.filter(prune), post.filter(prune)

    # diff over the UNION of both sides' non-key columns: a one-sided
    # (schema-evolved) column is padded with a typed NULL on the side
    # that lacks it, so changes confined to it still surface (round-12
    # advice — the common-columns diff silently missed them)
    types = {f.name: f.dataType for f in post.schema.fields}
    for f in pre.schema.fields:
        types.setdefault(f.name, f.dataType)
    seen = set()
    data_cols = [
        c
        for c in list(pre.columns) + list(post.columns)
        if c not in keys and not (c in seen or seen.add(c))
    ]

    def _side(df: DataFrame, flag: str, img: str) -> DataFrame:
        have = set(df.columns)
        return df.select(
            *keys,
            F.lit(True).alias(flag),
            F.struct(
                *[
                    F.col(c) if c in have
                    else F.lit(None).cast(types[c]).alias(c)
                    for c in data_cols
                ]
            ).alias(img),
        )

    a = _side(pre, "__in_pre", "__pre")
    b = _side(post, "__in_post", "__post")
    j = a.join(b, keys, "full_outer")
    changed = (
        F.col("__in_pre").isNotNull()
        & F.col("__in_post").isNotNull()
        & ~F.col("__pre").eqNullSafe(F.col("__post"))
    )
    events = F.array(
        F.when(
            F.col("__in_pre").isNull(),
            F.struct(
                F.lit("insert").alias("change_type"),
                F.col("__post").alias("row"),
            ),
        ),
        F.when(
            F.col("__in_post").isNull(),
            F.struct(
                F.lit("delete").alias("change_type"),
                F.col("__pre").alias("row"),
            ),
        ),
        F.when(
            changed,
            F.struct(
                F.lit("update_pre").alias("change_type"),
                F.col("__pre").alias("row"),
            ),
        ),
        F.when(
            changed,
            F.struct(
                F.lit("update_post").alias("change_type"),
                F.col("__post").alias("row"),
            ),
        ),
    )
    return j.select(
        *keys,
        F.explode(F.filter(events, lambda e: e.isNotNull())).alias("__e"),
    ).select(
        *keys,
        F.col("__e.change_type").alias("change_type"),
        *[F.col(f"__e.row.{c}").alias(c) for c in data_cols],
    )


# ---------------------------------------------------------------------------
# key erasure (GDPR "right to be forgotten"): purge keys from the live
# table AND every retained history version, so neither time travel nor
# a change feed can resurrect them

_PURGE_OLD = ".purge_old_"
_PURGE_STAGE = ".purge_stage_"


def _purge_recover(vdir: str) -> None:
    """Converge a crashed purge inside one version dir: a staged dir is
    always discardable (its target was never touched or already swapped);
    an old-copy dir whose target leaf is MISSING is renamed back (crash
    between the two renames), otherwise it is leftover trash."""
    for d in sorted(os.listdir(vdir)):
        p = os.path.join(vdir, d)
        if d.startswith(_PURGE_STAGE):
            shutil.rmtree(p, ignore_errors=True)
        elif d.startswith(_PURGE_OLD):
            ldir = urllib.parse.unquote(d[len(_PURGE_OLD):])
            target = os.path.join(vdir, ldir)
            if os.path.exists(target):
                shutil.rmtree(p, ignore_errors=True)
            else:
                os.makedirs(os.path.dirname(target), exist_ok=True)
                os.rename(p, target)


def _ensure_purge_converged(root: str, vdir: str) -> None:
    """Converge a crashed purge BEFORE a reader consults a version dir's
    saved leaves (round-13 advice, medium): a crash between purge's two
    renames leaves the leaf MISSING with a ``.purge_old_`` sibling —
    a lock-free ``read_version`` would silently skip it and fall back to
    a newer copy or the live dir, serving wrong historical rows until
    the next ``purge_keys`` ran. Readers call this per version dir; it
    is a no-op (one listdir) unless purge sentinels are present, in
    which case it takes the table's maintenance lock (fail-loud if a
    live purge holds it — better than reading through its rename window)
    and runs the idempotent :func:`_purge_recover`."""
    try:
        entries = os.listdir(vdir)
    except FileNotFoundError:
        return
    if any(d.startswith((_PURGE_OLD, _PURGE_STAGE)) for d in entries):
        with maintenance_lock(root):
            _purge_recover(vdir)


def purge_keys(
    spark: SparkSession,
    root: str,
    key_rows: DataFrame,
    *,
    keys: Sequence[str],
    partition_col: str | Sequence[str],
) -> dict:
    """Erase every row matching ``key_rows`` (distinct key tuples) from
    the LIVE table and from EVERY retained merge version — the erasure
    verb a lakehouse owes its compliance story: after a plain MERGE
    delete the key is gone from the serving state but still readable via
    ``read_version`` / ``change_feed`` and still on disk in
    ``.merge_history``; this removes it everywhere.

    Phases (idempotent end-to-end — re-run after any crash):

    1. LIVE delete: the matching target rows become a delete changeset
       applied through :func:`merge_into` with ``keep_history=False`` —
       a history-retaining delete would itself archive the purged rows.
    2. HISTORY scrub, under the maintenance lock: for each retained
       version's saved pre-state leaf, anti-join out the purged keys and
       swap the scrubbed copy in (stage → rename-old → rename-new →
       drop-old; :func:`_purge_recover` converges every crash window).
       Leaves with no matching key are left byte-untouched — and since
       file scoping HARDLINKS kept files between live and history, the
       rewrite here is also what breaks the link so the purged bytes
       are not reachable through the other path.

    Bounded driver work: hit detection is ONE job per version (a
    column-pruned union of the version's saved leaves, each tagged with
    a literal leaf id, semi-joined once against the purge keys — the
    round-13 per-(version, leaf) ``count()`` loop made driver work
    version×leaf jobs and its serial dispatch dominated at many
    retained versions); only the REWRITES then loop, and only over hit
    leaves. A maintenance verb like OPTIMIZE (the table format analog
    is REORG TABLE ... APPLY (PURGE) + VACUUM). Returns
    ``{"live_deleted", "history_rows_purged", "versions_scrubbed"}``.
    Manifests store partition VALUES and counters, never key values —
    nothing to scrub there."""
    pcols = (
        [partition_col]
        if isinstance(partition_col, str)
        else list(partition_col)
    )
    keys = list(keys)
    key_rows = key_rows.select(*keys).distinct()

    # phase 1 — live delete (merge_into takes the lock itself)
    target = spark.read.parquet(root)
    chg = (
        target.join(key_rows, keys, "left_semi")
        .withColumn("is_delete", F.lit(True))
    )
    live_deleted = 0
    if chg.limit(1).count() > 0:
        rep = merge_into(
            spark, root, chg, keys=keys, partition_col=partition_col,
            keep_history=False,
        )
        live_deleted = rep["n_deleted"]

    # phase 2 — history scrub
    purged_rows = 0
    scrubbed: list[int] = []
    with maintenance_lock(root), job_label(spark, "merge.purge"):
        for man in merge_history(root):
            vdir = os.path.join(root, HISTORY, f"v{man['version']:06d}")
            _purge_recover(vdir)
            saved_leaves = [
                ldir
                for ldir in man["replaced"] + man["deleted"]
                if os.path.exists(os.path.join(vdir, ldir))
            ]
            if not saved_leaves:
                continue
            # ONE hit-detection read+job for the whole version (per-leaf
            # reads each pay their own schema-inference job — measured
            # 51 jobs for 3 versions × 6 leaves): a single basePath scan
            # of every saved leaf, key-pruned, semi-joined once, grouped
            # by the hive-decoded partition values. Inference off so the
            # decoded values are strings matching _part_dirs' unquoted
            # spellings; hits map back to leaf dirs through the decoded
            # value tuple, never by re-escaping. Output bounded by leaf
            # count.
            tuple_to_ldir = {}
            for ldir in saved_leaves:
                vals = tuple(
                    urllib.parse.unquote(seg.split("=", 1)[1])
                    for seg in ldir.split("/")
                )
                tuple_to_ldir[vals] = ldir
            inf_conf = (
                "spark.sql.sources.partitionColumnTypeInference.enabled"
            )
            prev_inf = spark.conf.get(inf_conf, "true")
            spark.conf.set(inf_conf, "false")
            try:
                whole = (
                    spark.read.option("mergeSchema", "true")
                    .option("basePath", vdir)
                    .parquet(
                        *[os.path.join(vdir, l) for l in saved_leaves]
                    )
                )
            finally:
                spark.conf.set(inf_conf, prev_inf)
            hits = {
                tuple(r[c] for c in pcols): r["n"]
                for r in (
                    whole.select(
                        *dict.fromkeys(list(keys) + pcols)
                    )
                    .join(key_rows, keys, "left_semi")
                    .groupBy(*pcols)
                    .agg(F.count("*").alias("n"))
                    .collect()
                )
            }
            # a hit tuple with no saved leaf means dir-name decode or
            # spelling drift — silently dropping it would leave PII
            # unpurged with no error (the MoR purge raises for the same
            # case); fail loud so the drift gets fixed, never skipped
            unmapped = [v for v in hits if v not in tuple_to_ldir]
            if unmapped:
                raise RuntimeError(
                    f"purge hit(s) in version {man['version']} decode to "
                    f"partition tuple(s) {unmapped[:5]} but no saved leaf "
                    f"under {vdir} matches — dir-name spelling drift; "
                    "refusing to skip a PII hit"
                )
            hits = {tuple_to_ldir[vals]: n for vals, n in hits.items()}
            touched_version = False
            for ldir in saved_leaves:
                hit = hits.get(ldir, 0)
                if hit == 0:
                    continue
                saved = os.path.join(vdir, ldir)
                df = spark.read.option("basePath", vdir).parquet(saved)
                keep = df.join(key_rows, keys, "left_anti").drop(*pcols)
                flat = urllib.parse.quote(ldir, safe="")
                staged = os.path.join(vdir, _PURGE_STAGE + flat)
                shutil.rmtree(staged, ignore_errors=True)
                keep.coalesce(1).write.mode("overwrite").parquet(staged)
                old = os.path.join(vdir, _PURGE_OLD + flat)
                os.rename(saved, old)
                os.rename(staged, saved)
                shutil.rmtree(old, ignore_errors=True)
                purged_rows += hit
                touched_version = True
            if touched_version:
                scrubbed.append(man["version"])
    return {
        "live_deleted": live_deleted,
        "history_rows_purged": purged_rows,
        "versions_scrubbed": scrubbed,
    }

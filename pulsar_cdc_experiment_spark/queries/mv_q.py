"""Materialized-view aggregate-navigation driver queries (plans/mv.py).

The oracle recomputes every leg DIRECTLY from the raw table — so a
rewrite that rolled up wrong (avg-of-avgs, double-counted partials),
served a stale MV, or mis-routed a non-subsumable request fails the
value hash. The ``served_from`` column VALUE-CHECKS the routing
decision itself: its value is derived from what ``answer_aggregate``
actually chose, and the oracle hardcodes what it MUST choose.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from ..plans.mv import answer_aggregate, create_mv
from ..registry import register
from ..sources.tables import read_dir, table
from .fixture_cache import session_fixture, write_feed_batches


def _cents():
    return F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)).cast(
        "long"
    ).alias("cents")


def mv_lineitem_fixture(spark, sf_dir: str) -> str:
    """A summary MV over lineitem at (l_returnflag, l_linestatus)
    granularity with sum/count/min/max partials over integer cents."""

    def build(root: str) -> None:
        src = table(spark, sf_dir, "lineitem").select(
            "l_returnflag", "l_linestatus", "l_linenumber", _cents()
        )
        create_mv(
            spark, root,
            name="li_flag_status",
            source_path=os.path.join(sf_dir, "lineitem.parquet"),
            source=src,
            group_cols=["l_returnflag", "l_linestatus"],
            measures={
                "sum_cents": ("sum", "cents"),
                "n": ("count", None),
                "min_cents": ("min", "cents"),
                "max_cents": ("max", "cents"),
                # non-null count partial: makes avg(cents) derivable
                # (sum ÷ non-null count) for the rollup-hierarchy serve
                "cnt_cents": ("count", "cents"),
            },
        )

    return session_fixture("mv_lineitem", sf_dir, "flag_status_v2", build)


@register(
    "mv_rollup_rewrite",
    oracle="""
    SELECT 'mv' AS served_from, l_returnflag AS grp,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT))
                AS BIGINT) AS sum_cents,
           CAST(min(floor(l_extendedprice * 100 + 0.5)) AS BIGINT)
             AS min_cents,
           CAST(max(floor(l_extendedprice * 100 + 0.5)) AS BIGINT)
             AS max_cents
    FROM lineitem GROUP BY 2
    UNION ALL
    SELECT 'base', l_linenumber, CAST(count(*) AS BIGINT),
           CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT))
                AS BIGINT),
           CAST(min(floor(l_extendedprice * 100 + 0.5)) AS BIGINT),
           CAST(max(floor(l_extendedprice * 100 + 0.5)) AS BIGINT)
    FROM lineitem GROUP BY 2
    """,
)
def mv_rollup_rewrite(spark, sf_dir):
    """Aggregate navigation (plans/mv.py): leg 1 groups by l_returnflag
    — a ROLLUP of the registered (l_returnflag, l_linestatus) MV, so the
    planner must serve it from the MV's partials (sum of sums, sum of
    counts, min/max of partials — never re-reading the fact); leg 2
    groups by l_linenumber, which no MV subsumes, and must fall back to
    the base. The ``served_from`` column carries the planner's ACTUAL
    routing (the oracle hardcodes the required one), and the values are
    recomputed straight from the raw table on the oracle side — a wrong
    rollup derivation or a stale/mis-routed plan shifts a value. At
    100 TB leg 1 reads a KB-scale summary instead of the fact; OSS
    Spark has no MV rewrite, this is the engine's aggregate-navigation
    layer (the Kimball / Calcite materialized-view-matching idea)."""
    root = mv_lineitem_fixture(spark, sf_dir)
    src = table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_linestatus", "l_linenumber", _cents()
    )
    src_path = os.path.join(sf_dir, "lineitem.parquet")
    aggs = {
        "n": ("count", None),
        "sum_cents": ("sum", "cents"),
        "min_cents": ("min", "cents"),
        "max_cents": ("max", "cents"),
    }
    leg1, used1 = answer_aggregate(
        spark, root, src, src_path,
        group_cols=["l_returnflag"], aggs=aggs,
    )
    leg2, used2 = answer_aggregate(
        spark, root, src, src_path,
        group_cols=["l_linenumber"], aggs=aggs,
    )
    return leg1.select(
        F.lit("mv" if used1 == "li_flag_status" else "base").alias(
            "served_from"
        ),
        F.col("l_returnflag").alias("grp"),
        "n", "sum_cents", "min_cents", "max_cents",
    ).unionByName(
        leg2.select(
            F.lit("base" if used2 is None else "mv").alias("served_from"),
            F.col("l_linenumber").alias("grp"),
            "n", "sum_cents", "min_cents", "max_cents",
        )
    )


@register(
    "mv_predicate_rewrite",
    oracle="""
    SELECT 'mv' AS served_from, l_returnflag AS grp,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT))
                AS BIGINT) AS sum_cents,
           CAST(min(floor(l_extendedprice * 100 + 0.5)) AS BIGINT)
             AS min_cents,
           CAST(max(floor(l_extendedprice * 100 + 0.5)) AS BIGINT)
             AS max_cents
    FROM lineitem WHERE l_linestatus = 'F' GROUP BY 2
    UNION ALL
    SELECT 'base', l_returnflag, CAST(count(*) AS BIGINT),
           CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT))
                AS BIGINT),
           CAST(min(floor(l_extendedprice * 100 + 0.5)) AS BIGINT),
           CAST(max(floor(l_extendedprice * 100 + 0.5)) AS BIGINT)
    FROM lineitem WHERE l_linenumber < 4 GROUP BY 2
    """,
)
def mv_predicate_rewrite(spark, sf_dir):
    """PREDICATE-BEARING aggregate navigation — the everyday BI shape
    the group-superset-only v1 rewrite missed: leg 1 filters on
    l_linestatus (an MV GROUP column) and rolls up to l_returnflag, so
    the planner serves it by FILTERING THE MV'S PARTIALS (never touching
    the fact); leg 2 filters on l_linenumber — not an MV group column,
    so the partials cannot express the predicate and the planner must
    fall back to the base WITH the filter applied. ``served_from``
    carries the actual routing; the oracle hardcodes the required one
    and recomputes both filtered aggregates from the raw table. At
    100 TB leg 1 is the dashboard's `WHERE region = X GROUP BY month`
    reading a KB summary slice instead of the fact."""
    root = mv_lineitem_fixture(spark, sf_dir)
    src = table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_linestatus", "l_linenumber", _cents()
    )
    src_path = os.path.join(sf_dir, "lineitem.parquet")
    aggs = {
        "n": ("count", None),
        "sum_cents": ("sum", "cents"),
        "min_cents": ("min", "cents"),
        "max_cents": ("max", "cents"),
    }
    leg1, used1 = answer_aggregate(
        spark, root, src, src_path,
        group_cols=["l_returnflag"], aggs=aggs,
        where=[("l_linestatus", "=", "F")],
    )
    leg2, used2 = answer_aggregate(
        spark, root, src, src_path,
        group_cols=["l_returnflag"], aggs=aggs,
        where=[("l_linenumber", "<", 4)],
    )
    return leg1.select(
        F.lit("mv" if used1 == "li_flag_status" else "base").alias(
            "served_from"
        ),
        F.col("l_returnflag").alias("grp"),
        "n", "sum_cents", "min_cents", "max_cents",
    ).unionByName(
        leg2.select(
            F.lit("base" if used2 is None else "mv").alias("served_from"),
            F.col("l_returnflag").alias("grp"),
            "n", "sum_cents", "min_cents", "max_cents",
        )
    )


def _nullable_cents():
    """Deterministically NULLABLE measure: cents where l_quantity > 10,
    NULL otherwise (the testdata has no natural NULL measure columns)."""
    return F.when(
        F.col("l_quantity") > 10,
        F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)).cast("long"),
    ).alias("nc")


def mv_nullable_fixture(spark, sf_dir: str) -> str:
    """An MV whose avg/count measures sit on a NULLABLE column — pins
    the per-column non-null count partial (ANSI AVG/COUNT(col) skip
    NULLs; dividing by count(*) would be silently wrong here)."""

    def build(root: str) -> None:
        src = table(spark, sf_dir, "lineitem").select(
            "l_returnflag", "l_linestatus", _nullable_cents()
        )
        create_mv(
            spark, root,
            name="li_nullable",
            source_path=os.path.join(sf_dir, "lineitem.parquet"),
            source=src,
            group_cols=["l_returnflag", "l_linestatus"],
            measures={
                "avg_nc": ("avg", "nc"),
                "cnt_nc": ("count", "nc"),
                "n": ("count", None),
            },
        )

    return session_fixture("mv_nullable", sf_dir, "li_nullable_v1", build)


@register(
    "mv_nullable_avg_serving",
    oracle="""
    WITH nc AS (
      SELECT l_returnflag, l_linenumber,
             CASE WHEN l_quantity > 10
                  THEN CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)
             END AS nc
      FROM lineitem
    )
    SELECT 'mv' AS served_from, CAST(l_returnflag AS VARCHAR) AS grp,
           CAST(count(nc) AS BIGINT) AS cnt_nc,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(nc) AS DOUBLE) / count(nc) AS avg_nc
    FROM nc GROUP BY 2
    UNION ALL
    SELECT 'base', CAST(l_linenumber AS VARCHAR),
           CAST(count(nc) AS BIGINT), CAST(count(*) AS BIGINT),
           CAST(sum(nc) AS DOUBLE) / count(nc)
    FROM nc GROUP BY 2
    """,
)
def mv_nullable_avg_serving(spark, sf_dir):
    """AVG/COUNT over a NULLABLE measure column, on BOTH routes: leg 1
    rolls the registered (l_returnflag, l_linestatus) MV up to
    l_returnflag — avg derives as the SUM partial over the per-column
    NON-NULL count partial (the round-14 latent bug divided by count(*),
    which every group here would expose: cnt_nc < n in all of them);
    leg 2 groups by l_linenumber, no MV subsumes it, and the base
    fallback's F.avg/F.count(col) must skip NULLs identically. The
    oracle computes ANSI avg (exact BIGINT sum ÷ non-null count) — both
    engines divide the same exact integers, so the doubles match
    bit-for-bit."""
    root = mv_nullable_fixture(spark, sf_dir)
    src = table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_linestatus", "l_linenumber", _nullable_cents()
    )
    src_path = os.path.join(sf_dir, "lineitem.parquet")
    aggs = {
        "cnt_nc": ("count", "nc"),
        "n": ("count", None),
        "avg_nc": ("avg", "nc"),
    }
    leg1, used1 = answer_aggregate(
        spark, root, src, src_path,
        group_cols=["l_returnflag"], aggs=aggs,
    )
    leg2, used2 = answer_aggregate(
        spark, root, src, src_path,
        group_cols=["l_linenumber"], aggs=aggs,
    )
    return leg1.select(
        F.lit("mv" if used1 == "li_nullable" else "base").alias(
            "served_from"
        ),
        F.col("l_returnflag").cast("string").alias("grp"),
        "cnt_nc", "n", "avg_nc",
    ).unionByName(
        leg2.select(
            F.lit("base" if used2 is None else "mv").alias("served_from"),
            F.col("l_linenumber").cast("string").alias("grp"),
            "cnt_nc", "n", "avg_nc",
        )
    )


def mv_serving_fixture(spark, sf_dir: str) -> str:
    """The CDC-to-summary loop: orders lands partitioned; an MV
    summarizes it per priority; the STANDARD changeset MERGEs into the
    fact (copy-on-write); the SAME changeset — as z-weighted rows with
    before images — folds into the MV via maintain_mv. The build
    asserts the staleness guard both ways: after the merge but before
    maintenance the MV is invisible (stale), after maintenance the
    rewrite serves again."""

    def build(root: str) -> None:
        from ..plans.merge import merge_into
        from ..plans.mv import maintain_mv
        from .merge_q import _ORDER_COLS, _TOUCHED, _changeset

        fact = os.path.join(root, "orders")
        orders = table(spark, sf_dir, "orders").select(*_ORDER_COLS)
        orders.repartition(4).write.partitionBy("o_orderpriority").parquet(
            fact
        )
        cents = F.floor(
            F.col("o_totalprice") * 100 + F.lit(0.5)
        ).cast("long").alias("cents")
        src = read_dir(spark, fact).select("o_orderpriority", cents)
        create_mv(
            spark, root, name="orders_by_pri", source_path=fact,
            source=src, group_cols=["o_orderpriority"],
            measures={
                "sum_cents": ("sum", "cents"), "n": ("count", None),
                "min_cents": ("min", "cents"),
                "max_cents": ("max", "cents"),
            },
        )
        merge_into(
            spark, fact, _changeset(orders),
            keys=["o_orderkey"], partition_col="o_orderpriority",
        )
        aggs = {"sum_cents": ("sum", "cents"), "n": ("count", None)}
        src_new = read_dir(spark, fact).select("o_orderpriority", cents)
        _, used_stale = answer_aggregate(
            spark, root, src_new, fact,
            group_cols=["o_orderpriority"], aggs=aggs,
        )
        assert used_stale is None, "stale MV must be invisible"

        # the changeset's z-weighted row-change encoding, closed-form
        # from the raw table (delete = -1 with the BEFORE image)
        key, pri = F.col("o_orderkey"), F.col("o_orderpriority")
        old_c = F.floor(
            F.col("o_totalprice") * 100 + F.lit(0.5)
        ).cast("long")
        new_c = F.floor(
            F.col("o_totalprice") * 1.07 * 100 + F.lit(0.5)
        ).cast("long")
        upd = orders.filter((key % 50 == 3) & pri.isin(*_TOUCHED))
        mov = orders.filter((key % 50 == 19) & (pri == "3-MEDIUM"))
        dele = orders.filter((key % 50 == 7) & pri.isin(*_TOUCHED))
        ins = orders.filter((key % 50 == 11) & (pri == "5-LOW"))
        z = lambda df, p, c, zz: df.select(
            p.alias("o_orderpriority"), c.alias("cents"),
            F.lit(zz).alias("__z"),
        )
        changes = (
            z(upd, pri, old_c, -1).unionByName(z(upd, pri, new_c, 1))
            .unionByName(z(mov, pri, old_c, -1))
            .unionByName(z(mov, F.lit("1-URGENT"), old_c, 1))
            .unionByName(z(dele, pri, old_c, -1))
            .unionByName(z(ins, F.lit("1-URGENT"), old_c, 1))
        )
        maintain_mv(
            spark, root, "orders_by_pri", changes, base_new=src_new
        )
        _, used_fresh = answer_aggregate(
            spark, root, src_new, fact,
            group_cols=["o_orderpriority"], aggs=aggs,
        )
        assert used_fresh == "orders_by_pri", "maintained MV must serve"

    return session_fixture("mv_serving", sf_dir, "cs50_maintained", build)


@register(
    "mv_incremental_serving",
    family="mv_lifecycle",
    oracle="""
    WITH chg_upd AS (
      SELECT floor(o_totalprice * 1.07 * 100 + 0.5) AS cents,
             o_orderpriority
      FROM orders
      WHERE o_orderkey % 50 = 3 AND o_orderpriority IN ('1-URGENT','3-MEDIUM')
    ), chg_mov AS (
      SELECT floor(o_totalprice * 100 + 0.5) AS cents,
             '1-URGENT' AS o_orderpriority
      FROM orders
      WHERE o_orderkey % 50 = 19 AND o_orderpriority = '3-MEDIUM'
    ), chg_ins AS (
      SELECT floor(o_totalprice * 100 + 0.5) AS cents,
             '1-URGENT' AS o_orderpriority
      FROM orders
      WHERE o_orderkey % 50 = 11 AND o_orderpriority = '5-LOW'
    ), final AS (
      SELECT floor(o_totalprice * 100 + 0.5) AS cents, o_orderpriority
      FROM orders
      WHERE NOT (o_orderkey % 50 = 3
                 AND o_orderpriority IN ('1-URGENT','3-MEDIUM'))
        AND NOT (o_orderkey % 50 = 19 AND o_orderpriority = '3-MEDIUM')
        AND NOT (o_orderkey % 50 = 7
                 AND o_orderpriority IN ('1-URGENT','3-MEDIUM'))
      UNION ALL SELECT * FROM chg_upd
      UNION ALL SELECT * FROM chg_mov
      UNION ALL SELECT * FROM chg_ins
    )
    SELECT 'mv' AS served_from, o_orderpriority,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(cents AS BIGINT)) AS BIGINT) AS sum_cents,
           CAST(min(cents) AS BIGINT) AS min_cents,
           CAST(max(cents) AS BIGINT) AS max_cents
    FROM final GROUP BY 2
    """,
)
def mv_incremental_serving(spark, sf_dir):
    """The CDC-to-summary capstone: the standard changeset MERGEs into
    the partitioned fact (copy-on-write), the SAME changes fold into
    the registered MV incrementally (plans/mv.maintain_mv →
    operators/materialize.minmax_delta_maintain: count/sum telescope
    from the delta, MIN/MAX recompute only the groups whose stored
    extremum a delete reached, semi-join-pruned from the post-merge
    fact), and the aggregate-navigation rewrite serves the summary —
    fingerprint-fresh, never re-scanning the fact. The oracle
    recomputes the post-merge per-priority aggregates (incl. MIN/MAX —
    wrong risky-group handling shifts them) closed-form from the raw
    table, and the hardcoded served_from='mv' fails the hash if the
    maintained MV did not actually serve. The build additionally
    asserts the STALE window: between the merge and the maintenance
    the MV is invisible. At 100 TB: per-batch summary freshness costs
    O(changeset + risky groups), not a fact recompute."""
    from ..plans.mv import answer_aggregate as _answer

    root = mv_serving_fixture(spark, sf_dir)
    fact = os.path.join(root, "orders")
    cents = F.floor(
        F.col("o_totalprice") * 100 + F.lit(0.5)
    ).cast("long").alias("cents")
    src = read_dir(spark, fact).select("o_orderpriority", cents)
    df, used = _answer(
        spark, root, src, fact,
        group_cols=["o_orderpriority"],
        aggs={
            "n": ("count", None), "sum_cents": ("sum", "cents"),
            "min_cents": ("min", "cents"), "max_cents": ("max", "cents"),
        },
    )
    return df.select(
        F.lit("mv" if used == "orders_by_pri" else "base").alias(
            "served_from"
        ),
        "o_orderpriority", "n", "sum_cents", "min_cents", "max_cents",
    )


def mv_mor_fixture(spark, sf_dir: str) -> str:
    """The FULLY-AUTOMATED CDC→table→summary loop: a merge-on-read fact
    (orders), an MV over its read view, one MERGE (risky max-delete in
    1-URGENT + folding updates/inserts elsewhere), and — the new half —
    the MV maintained from the table's OWN change feed
    (``change_feed_mor`` → ``changes_from_feed`` → ``maintain_mv``),
    no hand-built delta. The MV fingerprints the MoR MANIFEST file (the
    snapshot pointer — the data dirs under ``.mor`` are dot-hidden), so
    every published sequence flips staleness. The build asserts the
    stale window both ways."""

    def build(root: str) -> None:
        from pyspark.sql import Window

        from ..plans.mor import change_feed_mor, init_mor, merge_into_mor, read_mor
        from ..plans.mv import changes_from_feed, maintain_mv

        fact = os.path.join(root, "orders")
        orders = table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_totalprice", "o_orderpriority"
        )
        init_mor(
            spark, fact, orders,
            keys=["o_orderkey"], partition_col="o_orderpriority",
        )
        manifest = os.path.join(fact, ".mor", "manifest.json")
        cents = F.floor(
            F.col("o_totalprice") * 100 + F.lit(0.5)
        ).cast("long").alias("cents")
        src = read_mor(spark, fact).select("o_orderpriority", cents)
        create_mv(
            spark, root, name="mor_by_pri", source_path=manifest,
            source=src, group_cols=["o_orderpriority"],
            measures={
                "sum_cents": ("sum", "cents"), "n": ("count", None),
                "min_cents": ("min", "cents"),
                "max_cents": ("max", "cents"),
                "avg_cents": ("avg", "cents"),
            },
        )
        aggs = {"n": ("count", None), "sum_cents": ("sum", "cents")}
        _, used0 = answer_aggregate(
            spark, root, src, manifest,
            group_cols=["o_orderpriority"], aggs=aggs,
        )
        assert used0 == "mor_by_pri", "fresh MV must serve pre-merge"

        # changeset: delete 1-URGENT's max row (cents ties broken by
        # key — RISKY for the stored max partial), update %100==13
        # in place, insert %100==37 clones into 2-HIGH
        key, pri = F.col("o_orderkey"), F.col("o_orderpriority")
        w = Window.partitionBy("o_orderpriority").orderBy(
            F.col("o_totalprice").desc(), F.col("o_orderkey").desc()
        )
        ranked = orders.withColumn("rn", F.row_number().over(w))
        dele = (
            ranked.filter((F.col("rn") == 1) & (pri == "1-URGENT"))
            .drop("rn").withColumn("is_delete", F.lit(True))
        )
        upd = (
            ranked.filter(
                ~((F.col("rn") == 1) & (pri == "1-URGENT"))
                & (key % 100 == 13)
            )
            .drop("rn")
            .withColumn("o_totalprice", F.col("o_totalprice") * 1.1)
            .withColumn("is_delete", F.lit(False))
        )
        ins = (
            orders.filter(key % 100 == 37)
            .withColumn("o_orderkey", key + 20_000_000)
            .withColumn("o_orderpriority", F.lit("2-HIGH"))
            .withColumn("is_delete", F.lit(False))
        )
        merge_into_mor(
            spark, fact, dele.unionByName(upd).unionByName(ins)
        )

        src_new = read_mor(spark, fact).select("o_orderpriority", cents)
        _, used_stale = answer_aggregate(
            spark, root, src_new, manifest,
            group_cols=["o_orderpriority"], aggs=aggs,
        )
        assert used_stale is None, "post-merge MV must be stale"

        feed = change_feed_mor(spark, fact, 0)
        changes = changes_from_feed(
            feed.select("change_type", "o_orderpriority", cents),
            ["o_orderpriority", "cents"],
        )
        maintain_mv(
            spark, root, "mor_by_pri", changes, base_new=src_new
        )
        _, used_fresh = answer_aggregate(
            spark, root, src_new, manifest,
            group_cols=["o_orderpriority"], aggs=aggs,
        )
        assert used_fresh == "mor_by_pri", "maintained MV must serve"

    return session_fixture("mv_mor", sf_dir, "feed_maintained_v1", build)


@register(
    "mv_mor_feed_capstone",
    family="mv_lifecycle",
    oracle="""
    WITH ranked AS (
      SELECT o_orderkey, o_totalprice, o_orderpriority,
             row_number() OVER (
               PARTITION BY o_orderpriority
               ORDER BY o_totalprice DESC, o_orderkey DESC) AS rn
      FROM orders
    ), final AS (
      SELECT CASE WHEN o_orderkey % 100 = 13
                  THEN floor(o_totalprice * 1.1 * 100 + 0.5)
                  ELSE floor(o_totalprice * 100 + 0.5) END AS cents,
             o_orderpriority
      FROM ranked
      WHERE NOT (rn = 1 AND o_orderpriority = '1-URGENT')
      UNION ALL
      SELECT floor(o_totalprice * 100 + 0.5), '2-HIGH'
      FROM orders WHERE o_orderkey % 100 = 37
    )
    SELECT 'mv' AS served_from, o_orderpriority,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(cents AS BIGINT)) AS BIGINT) AS sum_cents,
           CAST(min(cents) AS BIGINT) AS min_cents,
           CAST(max(cents) AS BIGINT) AS max_cents,
           CAST(sum(CAST(cents AS BIGINT)) AS DOUBLE) / count(cents)
             AS avg_cents
    FROM final GROUP BY 2
    """,
)
def mv_mor_feed_capstone(spark, sf_dir):
    """The closed CDC loop, end to end with NO hand-built delta: a MERGE
    lands on the merge-on-read fact (O(changeset) write), the table's
    own change feed (``change_feed_mor``) converts to a z-weighted
    changeset (``changes_from_feed``: insert/update_post → +1,
    delete/update_pre → −1), ``maintain_mv`` folds it into the summary
    (the deleted 1-URGENT maximum makes exactly that group risky —
    recomputed from the post-merge read view; every other group
    telescopes), and the aggregate-navigation rewrite serves the result
    — fingerprint-fresh against the MoR MANIFEST (the snapshot
    pointer). The oracle recomputes the post-merge per-priority
    aggregates closed-form (incl. the MAX that only a correct
    risky-group recompute gets right, and avg over the exact integer
    sum) and hardcodes served_from='mv'. At 100 TB this chain is CDC
    apply cost O(feed), summary freshness cost O(changeset + risky
    groups), dashboard cost O(groups) — the fact is scanned by nobody."""
    from ..plans.mor import read_mor

    root = mv_mor_fixture(spark, sf_dir)
    fact = os.path.join(root, "orders")
    manifest = os.path.join(fact, ".mor", "manifest.json")
    cents = F.floor(
        F.col("o_totalprice") * 100 + F.lit(0.5)
    ).cast("long").alias("cents")
    src = read_mor(spark, fact).select("o_orderpriority", cents)
    df, used = answer_aggregate(
        spark, root, src, manifest,
        group_cols=["o_orderpriority"],
        aggs={
            "n": ("count", None), "sum_cents": ("sum", "cents"),
            "min_cents": ("min", "cents"), "max_cents": ("max", "cents"),
            "avg_cents": ("avg", "cents"),
        },
    )
    return df.select(
        F.lit("mv" if used == "mor_by_pri" else "base").alias(
            "served_from"
        ),
        "o_orderpriority", "n", "sum_cents", "min_cents", "max_cents",
        "avg_cents",
    )


def mv_scrub_fixture(spark, sf_dir: str) -> str:
    """GDPR erasure reaching the SUMMARY layer: a per-customer spend MV
    over a merge-on-read orders fact; the erased customers' orders are
    purged from the fact (purge_keys_mor — which must BUMP the manifest
    mutation counter, making the manifest-fingerprinted MV stale even
    though no sequence was published), then scrub_mv_groups removes
    their group rows from the summary and re-fingerprints. The build
    asserts all three routing states: fresh before the purge, STALE
    between purge and scrub (a falsely-fresh MV here would keep serving
    the purged customers' aggregates), fresh again after."""

    def build(root: str) -> None:
        from ..plans.mor import init_mor, purge_keys_mor

        fact = os.path.join(root, "orders")
        orders = table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority"
        )
        init_mor(
            spark, fact, orders,
            keys=["o_orderkey"], partition_col="o_orderpriority",
        )
        manifest = os.path.join(fact, ".mor", "manifest.json")
        from ..plans.mor import read_mor
        from ..plans.mv import scrub_mv_groups

        cents = F.floor(
            F.col("o_totalprice") * 100 + F.lit(0.5)
        ).cast("long").alias("cents")
        src = read_mor(spark, fact).select("o_custkey", cents)
        create_mv(
            spark, root, name="spend_by_cust", source_path=manifest,
            source=src, group_cols=["o_custkey"],
            measures={"n": ("count", None), "sum_cents": ("sum", "cents")},
        )
        aggs = {"n": ("count", None), "sum_cents": ("sum", "cents")}
        _, used0 = answer_aggregate(
            spark, root, src, manifest, group_cols=["o_custkey"],
            aggs=aggs,
        )
        assert used0 == "spend_by_cust"

        erased = F.col("o_custkey") % 100 == 31
        prep = purge_keys_mor(
            spark, fact, orders.filter(erased).select("o_orderkey")
        )
        assert prep["data_rows_purged"] > 0
        src1 = read_mor(spark, fact).select("o_custkey", cents)
        _, used_stale = answer_aggregate(
            spark, root, src1, manifest, group_cols=["o_custkey"],
            aggs=aggs,
        )
        assert used_stale is None, (
            "purge must bump the manifest fingerprint — a fresh-looking "
            "MV here still serves the purged customers"
        )
        rep = scrub_mv_groups(
            spark, root, "spend_by_cust",
            orders.filter(erased).select("o_custkey"),
        )
        assert rep["groups_scrubbed"] > 0
        _, used_fresh = answer_aggregate(
            spark, root, src1, manifest, group_cols=["o_custkey"],
            aggs=aggs,
        )
        assert used_fresh == "spend_by_cust"

    return session_fixture("mv_scrub", sf_dir, "cust31_scrub_v1", build)


@register(
    "mv_gdpr_scrub",
    family="mv_lifecycle",
    oracle="""
    SELECT 'mv' AS served_from, o_custkey,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                AS BIGINT) AS sum_cents
    FROM orders WHERE o_custkey % 100 <> 31 GROUP BY 2
    """,
)
def mv_gdpr_scrub(spark, sf_dir):
    """GDPR erasure reaching EVERY storage layer, summary included: the
    fact-side purge (``purge_keys_mor``) removes the erased customers'
    bytes from base/deltas/sidecars AND bumps the manifest mutation
    counter so the manifest-fingerprinted per-customer MV goes STALE
    (fixture-asserted — without the bump the summary would keep serving
    the purged contributions as falsely fresh); ``scrub_mv_groups``
    then drops exactly their group rows from the O(groups) summary —
    equal to a full recompute because a purged key contributes zero
    post-purge fact rows — and re-fingerprints, restoring MV serving
    WITHOUT a fact scan. The oracle recomputes per-customer spend over
    the surviving customers and hardcodes served_from='mv': a leaked
    group row, a lost innocent row, or a stale serve all fail the
    hash. Completes the erasure chain: CoW history scrub (r13), MoR
    sidecar-key scrub (r14), summary-layer scrub (r15)."""
    from ..plans.mor import read_mor

    root = mv_scrub_fixture(spark, sf_dir)
    fact = os.path.join(root, "orders")
    manifest = os.path.join(fact, ".mor", "manifest.json")
    cents = F.floor(
        F.col("o_totalprice") * 100 + F.lit(0.5)
    ).cast("long").alias("cents")
    src = read_mor(spark, fact).select("o_custkey", cents)
    df, used = answer_aggregate(
        spark, root, src, manifest, group_cols=["o_custkey"],
        aggs={"n": ("count", None), "sum_cents": ("sum", "cents")},
    )
    return df.select(
        F.lit("mv" if used == "spend_by_cust" else "base").alias(
            "served_from"
        ),
        "o_custkey", "n", "sum_cents",
    )


def mv_join_fixture(spark, sf_dir: str) -> str:
    """A JOIN-BEARING MV (round 16): orders ⋈ customer ⋈ nation rolled
    up to (n_name, o_orderpriority) with sum/count/min/max partials
    over integer cents — the star-join dashboard accelerator
    (reference docs/architecture.md:9-73: per-table/per-op rollups
    joined to dimension metadata)."""

    def build(root: str) -> None:
        from ..plans.mv import create_join_mv

        fact = table(spark, sf_dir, "orders").select(
            "o_custkey", "o_orderpriority",
            F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast(
                "long"
            ).alias("cents"),
        )
        dim_c = table(spark, sf_dir, "customer").select(
            F.col("c_custkey").alias("o_custkey"), "c_nationkey"
        )
        dim_n = table(spark, sf_dir, "nation").select(
            F.col("n_nationkey").alias("c_nationkey"), "n_name"
        )
        create_join_mv(
            spark, root, name="rev_nation_pri",
            fact=fact,
            fact_path=os.path.join(sf_dir, "orders.parquet"),
            dims=[
                (dim_c, os.path.join(sf_dir, "customer.parquet"),
                 ["o_custkey"]),
                (dim_n, os.path.join(sf_dir, "nation.parquet"),
                 ["c_nationkey"]),
            ],
            group_cols=["n_name", "o_orderpriority"],
            measures={
                "n": ("count", None), "sum_cents": ("sum", "cents"),
                "min_cents": ("min", "cents"),
                "max_cents": ("max", "cents"),
            },
        )

    return session_fixture("mv_join", sf_dir, "nation_pri_v1", build)


@register(
    "mv_join_rollup_rewrite",
    oracle="""
    WITH j AS (
      SELECT n_name, o_custkey,
             CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
      FROM orders
      JOIN customer ON o_custkey = c_custkey
      JOIN nation ON c_nationkey = n_nationkey
    )
    SELECT 'mv' AS served_from, CAST(n_name AS VARCHAR) AS grp,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(cents) AS BIGINT) AS sum_cents,
           CAST(min(cents) AS BIGINT) AS min_cents,
           CAST(max(cents) AS BIGINT) AS max_cents
    FROM j GROUP BY 2
    UNION ALL
    SELECT 'base', CAST(o_custkey AS VARCHAR),
           CAST(count(*) AS BIGINT), CAST(sum(cents) AS BIGINT),
           CAST(min(cents) AS BIGINT), CAST(max(cents) AS BIGINT)
    FROM j GROUP BY 2
    """,
)
def mv_join_rollup_rewrite(spark, sf_dir):
    """JOIN-bearing aggregate navigation (round 16, plans/mv.py
    create_join_mv / answer_join_aggregate): leg 1 rolls the registered
    star-join MV (orders ⋈ customer ⋈ nation at (n_name,
    o_orderpriority) granularity) up to n_name — the planner must serve
    it from the summary's partials WITHOUT re-running the join (its
    scan is the MV data dir; the join-topology match requires the same
    fact, dims, AND join keys); leg 2 groups by o_custkey, which the MV
    does not carry, and must fall back to the base star join. The
    ``served_from`` column carries the actual routing and the oracle
    hardcodes the required one; all values are recomputed from the raw
    tables via the same join on the oracle side. At 100 TB leg 1 is the
    dashboard reading a KB summary instead of shuffling the fact
    through two joins — the single most common BI accelerator."""
    from ..plans.mv import answer_join_aggregate

    root = mv_join_fixture(spark, sf_dir)
    fact = table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderpriority",
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast(
            "long"
        ).alias("cents"),
    )
    dim_c = table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_nationkey"
    )
    dim_n = table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("c_nationkey"), "n_name"
    )
    dims = [
        (dim_c, os.path.join(sf_dir, "customer.parquet"), ["o_custkey"]),
        (dim_n, os.path.join(sf_dir, "nation.parquet"),
         ["c_nationkey"]),
    ]
    fact_path = os.path.join(sf_dir, "orders.parquet")
    aggs = {
        "n": ("count", None), "sum_cents": ("sum", "cents"),
        "min_cents": ("min", "cents"), "max_cents": ("max", "cents"),
    }
    leg1, used1 = answer_join_aggregate(
        spark, root, fact, fact_path, dims,
        group_cols=["n_name"], aggs=aggs,
    )
    leg2, used2 = answer_join_aggregate(
        spark, root, fact, fact_path, dims,
        group_cols=["o_custkey"], aggs=aggs,
    )
    return leg1.select(
        F.lit("mv" if used1 == "rev_nation_pri" else "base").alias(
            "served_from"
        ),
        F.col("n_name").cast("string").alias("grp"),
        "n", "sum_cents", "min_cents", "max_cents",
    ).unionByName(
        leg2.select(
            F.lit("base" if used2 is None else "mv").alias("served_from"),
            F.col("o_custkey").cast("string").alias("grp"),
            "n", "sum_cents", "min_cents", "max_cents",
        )
    )


@register(
    "mv_rollup_hierarchy_rewrite",
    oracle="""
    WITH c AS (
      SELECT l_returnflag, l_linestatus, l_linenumber,
             CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS cents
      FROM lineitem
    )
    SELECT 'mv' AS served_from,
           CAST(l_returnflag AS VARCHAR) AS grp1,
           CAST(l_linestatus AS VARCHAR) AS grp2,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(cents) AS BIGINT) AS sum_cents,
           CAST(min(cents) AS BIGINT) AS min_cents,
           CAST(max(cents) AS BIGINT) AS max_cents,
           CAST(sum(cents) AS DOUBLE) / count(cents) AS avg_cents
    FROM c GROUP BY ROLLUP (l_returnflag, l_linestatus)
    UNION ALL
    SELECT 'base', CAST(l_linenumber AS VARCHAR), '--',
           CAST(count(*) AS BIGINT), CAST(sum(cents) AS BIGINT),
           CAST(min(cents) AS BIGINT), CAST(max(cents) AS BIGINT),
           CAST(sum(cents) AS DOUBLE) / count(cents)
    FROM c GROUP BY ROLLUP (l_linenumber)
    """,
)
def mv_rollup_hierarchy_rewrite(spark, sf_dir):
    """ROLLUP served from MV partials (round 16,
    plans/mv.answer_grouping_sets over rollup_sets): leg 1 asks for
    ``ROLLUP(l_returnflag, l_linestatus)`` — every grouping set
    (fine, mid, grand total) is a rollup of the registered
    (l_returnflag, l_linestatus) MV, so the planner answers the WHOLE
    hierarchy from the stored partials (n+1 reads of a KB summary; a
    native ROLLUP execution replicates every fact row n+1 ways through
    one big shuffle). Leg 2 rolls up l_linenumber, which no MV
    subsumes, and must fall back to the base's native rollup. The avg
    level derives as sum-partial over non-null-count partial at EVERY
    level — an avg-of-avgs bug shifts the intermediate rows. The
    oracle recomputes both hierarchies with ANSI GROUP BY ROLLUP and
    hardcodes the routing."""
    from ..plans.mv import answer_grouping_sets, rollup_sets

    root = mv_lineitem_fixture(spark, sf_dir)
    src = table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_linestatus", "l_linenumber", _cents()
    )
    src_path = os.path.join(sf_dir, "lineitem.parquet")
    aggs = {
        "n": ("count", None),
        "sum_cents": ("sum", "cents"),
        "min_cents": ("min", "cents"),
        "max_cents": ("max", "cents"),
        "avg_cents": ("avg", "cents"),
    }
    leg1, used1 = answer_grouping_sets(
        spark, root, src, src_path,
        sets=rollup_sets(["l_returnflag", "l_linestatus"]), aggs=aggs,
    )
    leg2, used2 = answer_grouping_sets(
        spark, root, src, src_path,
        sets=rollup_sets(["l_linenumber"]), aggs=aggs,
    )
    measures = ["n", "sum_cents", "min_cents", "max_cents", "avg_cents"]
    return leg1.select(
        F.lit("mv" if used1 == "li_flag_status" else "base").alias(
            "served_from"
        ),
        F.col("l_returnflag").cast("string").alias("grp1"),
        F.col("l_linestatus").cast("string").alias("grp2"),
        *measures,
    ).unionByName(
        leg2.select(
            F.lit("base" if used2 is None else "mv").alias("served_from"),
            F.col("l_linenumber").cast("string").alias("grp1"),
            F.lit("--").alias("grp2"),
            *measures,
        )
    )


@register(
    "mv_grouping_cube_rewrite",
    oracle="""
    WITH c AS (
      SELECT l_returnflag, l_linestatus, l_linenumber,
             CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS cents
      FROM lineitem
    )
    SELECT 'mv' AS served_from,
           CAST(l_returnflag AS VARCHAR) AS grp1,
           CAST(l_linestatus AS VARCHAR) AS grp2,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(cents) AS BIGINT) AS sum_cents,
           CAST(max(cents) AS BIGINT) AS max_cents
    FROM c WHERE l_returnflag <> 'N'
    GROUP BY CUBE (l_returnflag, l_linestatus)
    UNION ALL
    SELECT 'base', CAST(l_linenumber AS VARCHAR),
           CAST(l_linestatus AS VARCHAR),
           CAST(count(*) AS BIGINT), CAST(sum(cents) AS BIGINT),
           CAST(max(cents) AS BIGINT)
    FROM c GROUP BY CUBE (l_linenumber, l_linestatus)
    """,
)
def mv_grouping_cube_rewrite(spark, sf_dir):
    """CUBE served from MV partials (round 16,
    plans/mv.answer_grouping_sets over cube_sets): leg 1 asks for
    ``CUBE(l_returnflag, l_linestatus)`` UNDER A PREDICATE on an MV
    group column — all 2ⁿ grouping sets are subsumed by the registered
    MV, so the planner answers the whole cube from the stored partials
    with the filter applied to each serve (2ⁿ KB-scale reads; a native
    CUBE replicates every fact row 2ⁿ ways through one Expand). Leg 2
    cubes over l_linenumber, which no MV subsumes, and must fall back
    to the base's native cube. The oracle recomputes both cubes with
    ANSI GROUP BY CUBE and hardcodes the routing."""
    from ..plans.mv import answer_grouping_sets, cube_sets

    root = mv_lineitem_fixture(spark, sf_dir)
    src = table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_linestatus", "l_linenumber", _cents()
    )
    src_path = os.path.join(sf_dir, "lineitem.parquet")
    aggs = {
        "n": ("count", None),
        "sum_cents": ("sum", "cents"),
        "max_cents": ("max", "cents"),
    }
    leg1, used1 = answer_grouping_sets(
        spark, root, src, src_path,
        sets=cube_sets(["l_returnflag", "l_linestatus"]), aggs=aggs,
        where=[("l_returnflag", "!=", "N")],
    )
    leg2, used2 = answer_grouping_sets(
        spark, root, src, src_path,
        sets=cube_sets(["l_linenumber", "l_linestatus"]), aggs=aggs,
    )
    measures = ["n", "sum_cents", "max_cents"]
    return leg1.select(
        F.lit("mv" if used1 == "li_flag_status" else "base").alias(
            "served_from"
        ),
        F.col("l_returnflag").cast("string").alias("grp1"),
        F.col("l_linestatus").cast("string").alias("grp2"),
        *measures,
    ).unionByName(
        leg2.select(
            F.lit("base" if used2 is None else "mv").alias("served_from"),
            F.col("l_linenumber").cast("string").alias("grp1"),
            F.col("l_linestatus").cast("string").alias("grp2"),
            *measures,
        )
    )


@register(
    "mv_grouping_sets_rewrite",
    oracle="""
    WITH c AS (
      SELECT l_returnflag, l_linestatus, l_linenumber,
             CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS cents
      FROM lineitem
    )
    SELECT 'mv' AS served_from,
           CAST(l_returnflag AS VARCHAR) AS grp1,
           CAST(l_linestatus AS VARCHAR) AS grp2,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(cents) AS BIGINT) AS sum_cents
    FROM c GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
    UNION ALL
    SELECT 'base', CAST(l_linenumber AS VARCHAR),
           CAST(l_linestatus AS VARCHAR),
           CAST(count(*) AS BIGINT), CAST(sum(cents) AS BIGINT)
    FROM c GROUP BY GROUPING SETS ((l_linenumber), (l_linestatus))
    """,
)
def mv_grouping_sets_rewrite(spark, sf_dir):
    """Arbitrary GROUPING SETS served from MV partials (round 16,
    plans/mv.answer_grouping_sets — rollup and cube are its
    prefix-chain and power-set special cases): leg 1 asks for
    ``GROUPING SETS ((l_returnflag), (l_linestatus))`` — the
    two-independent-breakdowns report shape — and both sets are
    subsumed by the registered MV, so each is served from the stored
    partials and unioned with ANSI NULL markers (two KB-scale reads;
    native execution Expands every fact row once per set). Leg 2's
    sets include l_linenumber, which no MV subsumes, and must fall
    back to the base's native groupingSets. The oracle recomputes both
    with ANSI GROUP BY GROUPING SETS and hardcodes the routing."""
    from ..plans.mv import answer_grouping_sets

    root = mv_lineitem_fixture(spark, sf_dir)
    src = table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_linestatus", "l_linenumber", _cents()
    )
    src_path = os.path.join(sf_dir, "lineitem.parquet")
    aggs = {"n": ("count", None), "sum_cents": ("sum", "cents")}
    leg1, used1 = answer_grouping_sets(
        spark, root, src, src_path,
        sets=[["l_returnflag"], ["l_linestatus"]], aggs=aggs,
    )
    leg2, used2 = answer_grouping_sets(
        spark, root, src, src_path,
        sets=[["l_linenumber"], ["l_linestatus"]], aggs=aggs,
    )
    return leg1.select(
        F.lit("mv" if used1 == "li_flag_status" else "base").alias(
            "served_from"
        ),
        F.col("l_returnflag").cast("string").alias("grp1"),
        F.col("l_linestatus").cast("string").alias("grp2"),
        "n", "sum_cents",
    ).unionByName(
        leg2.select(
            F.lit("base" if used2 is None else "mv").alias("served_from"),
            F.col("l_linenumber").cast("string").alias("grp1"),
            F.col("l_linestatus").cast("string").alias("grp2"),
            "n", "sum_cents",
        )
    )


def mv_join_maintain_fixture(spark, sf_dir: str) -> str:
    """INCREMENTAL join-MV maintenance under simultaneous fact AND dim
    churn: the star-join MV (orders ⋈ customer at (c_mktsegment,
    o_orderpriority)) absorbs one batch carrying all three Z-set terms —
    fact-only changes against unmoved dims (dJ⋈D: a risky max delete in
    BUILDING, folding updates, clone inserts), existing orders of MOVED
    customers switching group (J⋈dD: every %100==7 customer relocates
    to MACHINERY), and fact rows INSERTED for those same moved customers
    in the same batch (dJ⋈dD — the phantom only the z·z correction
    cancels). The build asserts the stale window: after the sources move
    but before maintain_join_mv the MV is invisible; after, it serves."""

    def build(root: str) -> None:
        from pyspark.sql import Window

        from ..plans.mv import (
            answer_join_aggregate,
            create_join_mv,
            maintain_join_mv,
            pruned_star_base,
            source_token,
        )

        fact_path = os.path.join(root, "orders_fact")
        dim_path = os.path.join(root, "cust_dim")
        mv_root = os.path.join(root, "mvs")
        orders = table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_custkey", "o_orderpriority", "o_totalprice"
        )
        cust = table(spark, sf_dir, "customer").select(
            "c_custkey", "c_mktsegment"
        )
        orders.write.parquet(fact_path)
        cust.write.parquet(dim_path)

        cents = F.floor(
            F.col("o_totalprice") * 100 + F.lit(0.5)
        ).cast("long")
        cents_u = F.floor(
            F.col("o_totalprice") * 1.1 * 100 + F.lit(0.5)
        ).cast("long")
        fact_proj = orders.select(
            "o_orderkey", "o_custkey", "o_orderpriority",
            cents.alias("cents"), cents_u.alias("cents_u"),
        )
        dim_proj = cust.select(
            F.col("c_custkey").alias("o_custkey"), "c_mktsegment"
        )
        create_join_mv(
            spark, mv_root, name="seg_pri",
            fact=fact_proj.select(
                "o_custkey", "o_orderpriority", "cents"
            ),
            fact_path=fact_path,
            dims=[(dim_proj, dim_path, ["o_custkey"])],
            group_cols=["c_mktsegment", "o_orderpriority"],
            measures={
                "n": ("count", None), "sum_cents": ("sum", "cents"),
                "min_cents": ("min", "cents"),
                "max_cents": ("max", "cents"),
            },
        )

        # the changeset, closed-form from the raw tables (never from the
        # fixture dirs — they get overwritten below and Spark plans are
        # lazy): delete BUILDING's max-cents row (ties by key — RISKY for
        # the stored max), update %100==13 elsewhere, clone every order
        # of a MOVED customer, and move %100==7 customers to MACHINERY
        joined = fact_proj.join(dim_proj, "o_custkey")
        w = Window.partitionBy("c_mktsegment").orderBy(
            F.col("cents").desc(), F.col("o_orderkey").desc()
        )
        ranked = joined.withColumn("rn", F.row_number().over(w))
        dele = ranked.filter(
            (F.col("rn") == 1) & (F.col("c_mktsegment") == "BUILDING")
        )
        d_key = dele.select("o_orderkey")
        zrow = lambda df, c, zz: df.select(
            "o_custkey", "o_orderpriority", c.alias("cents"),
            F.lit(zz).cast("long").alias("__z"),
        )
        upd = fact_proj.filter(F.col("o_orderkey") % 100 == 13).join(
            d_key, "o_orderkey", "left_anti"
        )
        clones = fact_proj.filter(F.col("o_custkey") % 100 == 7)
        d_fact = (
            zrow(dele, F.col("cents"), -1)
            .unionByName(zrow(upd, F.col("cents"), -1))
            .unionByName(zrow(upd, F.col("cents_u"), 1))
            .unionByName(zrow(clones, F.col("cents"), 1))
        )
        moved = dim_proj.filter(F.col("o_custkey") % 100 == 7)
        d_dim = moved.withColumn(
            "__z", F.lit(-1).cast("long")
        ).unionByName(
            moved.select(
                "o_custkey", F.lit("MACHINERY").alias("c_mktsegment"),
                F.lit(1).cast("long").alias("__z"),
            )
        )

        # land the post-change states physically so the fingerprints move
        fact_new = (
            orders.join(d_key, "o_orderkey", "left_anti")
            .withColumn(
                "o_totalprice",
                F.when(
                    F.col("o_orderkey") % 100 == 13,
                    F.col("o_totalprice") * 1.1,
                ).otherwise(F.col("o_totalprice")),
            )
            .unionByName(
                orders.filter(F.col("o_custkey") % 100 == 7).withColumn(
                    "o_orderkey", F.col("o_orderkey") + 30_000_000
                )
            )
        )
        dim_new = cust.withColumn(
            "c_mktsegment",
            F.when(
                F.col("c_custkey") % 100 == 7, F.lit("MACHINERY")
            ).otherwise(F.col("c_mktsegment")),
        )
        fact_new.write.mode("overwrite").parquet(fact_path)
        dim_new.write.mode("overwrite").parquet(dim_path)
        tokens = {
            "fact": source_token(fact_path),
            "dims": [source_token(dim_path)],
        }

        def read_projs():
            f = spark.read.parquet(fact_path).select(
                "o_custkey", "o_orderpriority",
                cents.alias("cents"),
            )
            d = spark.read.parquet(dim_path).select(
                F.col("c_custkey").alias("o_custkey"), "c_mktsegment"
            )
            return f, [(d, dim_path, ["o_custkey"])]

        aggs = {"n": ("count", None), "sum_cents": ("sum", "cents")}
        f_now, dims_now = read_projs()
        _, used_stale = answer_join_aggregate(
            spark, mv_root, f_now, fact_path, dims_now,
            group_cols=["c_mktsegment"], aggs=aggs,
        )
        assert used_stale is None, "moved sources must stale the join MV"

        maintain_join_mv(
            spark, mv_root, "seg_pri",
            fact_pre=fact_proj.select(
                "o_custkey", "o_orderpriority", "cents"
            ),
            d_fact=d_fact,
            dims=[(dim_proj, d_dim, ["o_custkey"])],
            # pruned: the risky recompute (BUILDING's deleted max)
            # pre-filters both star sides to the risky groups — this
            # path is value-checked by the driver oracle
            base_new=pruned_star_base(
                f_now, [(dims_now[0][0], ["o_custkey"])],
                ["c_mktsegment", "o_orderpriority"],
            ),
            source_tokens=tokens,
        )
        _, used_fresh = answer_join_aggregate(
            spark, mv_root, f_now, fact_path, dims_now,
            group_cols=["c_mktsegment"], aggs=aggs,
        )
        assert used_fresh == "seg_pri", "maintained join MV must serve"

    return session_fixture(
        "mv_join_maintain", sf_dir, "seg_pri_dadb_v1", build
    )


@register(
    "mv_join_maintain",
    family="mv_lifecycle",
    oracle="""
    WITH cents0 AS (
      SELECT o_orderkey, o_custkey, o_orderpriority,
             CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents,
             CAST(floor(o_totalprice * 1.1 * 100 + 0.5) AS BIGINT)
               AS cents_u
      FROM orders
    ), ranked AS (
      SELECT o.o_orderkey, c.c_mktsegment AS seg0,
             row_number() OVER (
               PARTITION BY c.c_mktsegment
               ORDER BY o.cents DESC, o.o_orderkey DESC) AS rn
      FROM cents0 o JOIN customer c ON o.o_custkey = c.c_custkey
    ), dkey AS (
      SELECT o_orderkey FROM ranked
      WHERE rn = 1 AND seg0 = 'BUILDING'
    ), fact_new AS (
      SELECT o_custkey,
             CASE WHEN o_orderkey % 100 = 13 THEN cents_u
                  ELSE cents END AS cents
      FROM cents0
      WHERE o_orderkey NOT IN (SELECT o_orderkey FROM dkey)
      UNION ALL
      SELECT o_custkey, cents FROM cents0 WHERE o_custkey % 100 = 7
    ), cust_new AS (
      SELECT c_custkey,
             CASE WHEN c_custkey % 100 = 7 THEN 'MACHINERY'
                  ELSE c_mktsegment END AS seg
      FROM customer
    )
    SELECT 'mv' AS served_from, CAST(seg AS VARCHAR) AS c_mktsegment,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(cents) AS BIGINT) AS sum_cents,
           CAST(min(cents) AS BIGINT) AS min_cents,
           CAST(max(cents) AS BIGINT) AS max_cents
    FROM fact_new JOIN cust_new ON o_custkey = c_custkey
    GROUP BY 2
    """,
)
def mv_join_maintain(spark, sf_dir):
    """Join-MV INCREMENTAL maintenance, end to end (round 16,
    plans/mv.maintain_join_mv ∘ operators/materialize.star_join_delta):
    one batch changes the fact (risky max delete in BUILDING + folding
    updates + inserts) AND the dim (every %100==7 customer moves to
    MACHINERY) simultaneously — including fact rows inserted for moved
    customers, the dJ⋈dD phantom only the z·z correction term cancels.
    The maintainer derives the join view's z-weighted delta (dJ⋈D +
    J⋈dD + dJ⋈dD per dim), telescopes count/sum, recomputes only risky
    min/max groups from the post-change join, and re-stamps every
    source fingerprint gated on derivation-time tokens. The registered
    query then ROLLS the maintained MV up to c_mktsegment; the oracle
    recomputes the post-change star join closed-form from the raw
    tables and hardcodes served_from='mv' — a missed Z-set term, a
    wrong risky recompute, or a stale serve all shift the hash. At
    100 TB: summary freshness under fact+dim churn costs
    O(Σ|delta|·fanout + risky groups), never a star-join re-run."""
    from ..plans.mv import answer_join_aggregate

    root = mv_join_maintain_fixture(spark, sf_dir)
    fact_path = os.path.join(root, "orders_fact")
    dim_path = os.path.join(root, "cust_dim")
    mv_root = os.path.join(root, "mvs")
    cents = F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
    fact = spark.read.parquet(fact_path).select(
        "o_custkey", "o_orderpriority", cents.alias("cents")
    )
    dim = spark.read.parquet(dim_path).select(
        F.col("c_custkey").alias("o_custkey"), "c_mktsegment"
    )
    df, used = answer_join_aggregate(
        spark, mv_root, fact, fact_path,
        [(dim, dim_path, ["o_custkey"])],
        group_cols=["c_mktsegment"],
        aggs={
            "n": ("count", None), "sum_cents": ("sum", "cents"),
            "min_cents": ("min", "cents"),
            "max_cents": ("max", "cents"),
        },
    )
    return df.select(
        F.lit("mv" if used == "seg_pri" else "base").alias("served_from"),
        F.col("c_mktsegment").cast("string"),
        "n", "sum_cents", "min_cents", "max_cents",
    )


def mv_join_mor_fixture(spark, sf_dir: str) -> str:
    """The fully-automated star-join-summary loop: a join MV whose FACT
    is a merge-on-read orders table and whose dim (customer segments)
    is static, maintained from the table's OWN change feed — no
    hand-built delta. Two merges land (a risky BUILDING-max delete +
    updates, then inserts); ONE maintain_join_mv_from_mor call spans
    both sequences, time-traveling the MoR table for the Z-set
    pre-state probe. Stale→fresh asserted around the catch-up."""

    def build(root: str) -> None:
        from pyspark.sql import Window

        from ..plans.mor import init_mor, merge_into_mor, read_mor
        from ..plans.mv import (
            answer_join_aggregate,
            bind_mv_to_mor,
            create_join_mv,
            maintain_join_mv_from_mor,
        )

        fact_root = os.path.join(root, "orders")
        dim_path = os.path.join(root, "cust_dim")
        mv_root = os.path.join(root, "mvs")
        manifest = os.path.join(fact_root, ".mor", "manifest.json")
        orders = table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority"
        )
        cust = table(spark, sf_dir, "customer").select(
            F.col("c_custkey").alias("o_custkey"), "c_mktsegment"
        )
        init_mor(
            spark, fact_root, orders,
            keys=["o_orderkey"], partition_col="o_orderpriority",
        )
        cust.write.parquet(dim_path)
        dim = spark.read.parquet(dim_path)

        cents = F.floor(
            F.col("o_totalprice") * 100 + F.lit(0.5)
        ).cast("long").alias("cents")
        fact_src = read_mor(spark, fact_root).select(
            "o_custkey", "o_orderpriority", cents
        )
        create_join_mv(
            spark, mv_root, name="mor_seg_pri",
            fact=fact_src, fact_path=manifest,
            dims=[(dim, dim_path, ["o_custkey"])],
            group_cols=["c_mktsegment", "o_orderpriority"],
            measures={
                "n": ("count", None), "sum_cents": ("sum", "cents"),
                "min_cents": ("min", "cents"),
                "max_cents": ("max", "cents"),
            },
        )
        bind_mv_to_mor(mv_root, "mor_seg_pri", fact_root)

        # merge 1: delete BUILDING's max-cents row (cents ties broken
        # by key — RISKY for that segment's stored max) + update
        # %100==13 elsewhere; merge 2: clone %100==37-custkey orders
        key = F.col("o_orderkey")
        joined = orders.withColumn(
            "cents",
            F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast(
                "long"
            ),
        ).join(dim, "o_custkey")
        w = Window.partitionBy("c_mktsegment").orderBy(
            F.col("cents").desc(), F.col("o_orderkey").desc()
        )
        ranked = joined.withColumn("rn", F.row_number().over(w))
        dele = (
            ranked.filter(
                (F.col("rn") == 1)
                & (F.col("c_mktsegment") == "BUILDING")
            )
            .select(*orders.columns)
            .withColumn("is_delete", F.lit(True))
        )
        upd = (
            ranked.filter(
                ~(
                    (F.col("rn") == 1)
                    & (F.col("c_mktsegment") == "BUILDING")
                )
                & (key % 100 == 13)
            )
            .select(*orders.columns)
            .withColumn("o_totalprice", F.col("o_totalprice") * 1.1)
            .withColumn("is_delete", F.lit(False))
        )
        ins = (
            orders.filter(F.col("o_custkey") % 100 == 37)
            .withColumn("o_orderkey", key + 30_000_000)
            .withColumn("is_delete", F.lit(False))
        )
        merge_into_mor(spark, fact_root, dele.unionByName(upd))
        merge_into_mor(spark, fact_root, ins)

        def project(df):
            cols = [
                F.col("o_custkey"), F.col("o_orderpriority"), cents
            ]
            if "change_type" in df.columns:
                cols = [F.col("change_type")] + cols
            return df.select(*cols)

        aggs = {"n": ("count", None), "sum_cents": ("sum", "cents")}
        src_now = read_mor(spark, fact_root).select(
            "o_custkey", "o_orderpriority", cents
        )
        _, used_stale = answer_join_aggregate(
            spark, mv_root, src_now, manifest,
            [(dim, dim_path, ["o_custkey"])],
            group_cols=["c_mktsegment"], aggs=aggs,
        )
        assert used_stale is None, "post-merge join MV must be stale"
        rep = maintain_join_mv_from_mor(
            spark, mv_root, "mor_seg_pri", project,
            [(dim, ["o_custkey"])],
        )
        assert rep == {"applied_seq": 2, "folded": True}, rep
        _, used_fresh = answer_join_aggregate(
            spark, mv_root, src_now, manifest,
            [(dim, dim_path, ["o_custkey"])],
            group_cols=["c_mktsegment"], aggs=aggs,
        )
        assert used_fresh == "mor_seg_pri", "caught-up MV must serve"

    return session_fixture("mv_join_mor", sf_dir, "seg_feed_v1", build)


@register(
    "mv_join_mor_feed",
    family="mv_lifecycle",
    oracle="""
    WITH cents0 AS (
      SELECT o_orderkey, o_custkey,
             CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents,
             CAST(floor(o_totalprice * 1.1 * 100 + 0.5) AS BIGINT)
               AS cents_u
      FROM orders
    ), ranked AS (
      SELECT o.o_orderkey, c.c_mktsegment AS seg0,
             row_number() OVER (
               PARTITION BY c.c_mktsegment
               ORDER BY o.cents DESC, o.o_orderkey DESC) AS rn
      FROM cents0 o JOIN customer c ON o.o_custkey = c.c_custkey
    ), dkey AS (
      SELECT o_orderkey FROM ranked
      WHERE rn = 1 AND seg0 = 'BUILDING'
    ), fact_new AS (
      SELECT o_custkey,
             CASE WHEN o_orderkey % 100 = 13 THEN cents_u
                  ELSE cents END AS cents
      FROM cents0
      WHERE o_orderkey NOT IN (SELECT o_orderkey FROM dkey)
      UNION ALL
      SELECT o_custkey, cents FROM cents0 WHERE o_custkey % 100 = 37
    )
    SELECT 'mv' AS served_from, CAST(c_mktsegment AS VARCHAR)
             AS c_mktsegment,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(cents) AS BIGINT) AS sum_cents,
           CAST(min(cents) AS BIGINT) AS min_cents,
           CAST(max(cents) AS BIGINT) AS max_cents
    FROM fact_new JOIN customer ON o_custkey = c_custkey
    GROUP BY 2
    """,
)
def mv_join_mor_feed(spark, sf_dir):
    """Star-join summary riding a merge-on-read fact's sequence clock
    (round 16, plans/mv.maintain_join_mv_from_mor): MERGEs land on the
    MoR orders table (a risky BUILDING-max delete + folding updates,
    then inserts — two sequences), and ONE catch-up cuts the table's
    own change feed across the span, z-weights it (changes_from_feed),
    joins it through the STATIC customer dim (star_join_delta — the
    pre-state probe is the table's own time travel at the MV's applied
    sequence), folds count/sum and recomputes only the risky segment's
    max, then stamps the feed-cut-time token. The registered query
    rolls the summary up to c_mktsegment; the oracle recomputes the
    post-merge star join closed-form and hardcodes served_from='mv'.
    The join-MV analog of mv_mor_feed_capstone: at 100 TB the whole
    chain is O(feed·fanout + risky groups) per catch-up — nobody
    re-joins the fact's history, and the dashboard reads KBs."""
    from ..plans.mor import read_mor
    from ..plans.mv import answer_join_aggregate

    root = mv_join_mor_fixture(spark, sf_dir)
    fact_root = os.path.join(root, "orders")
    dim_path = os.path.join(root, "cust_dim")
    mv_root = os.path.join(root, "mvs")
    manifest = os.path.join(fact_root, ".mor", "manifest.json")
    cents = F.floor(
        F.col("o_totalprice") * 100 + F.lit(0.5)
    ).cast("long").alias("cents")
    fact = read_mor(spark, fact_root).select(
        "o_custkey", "o_orderpriority", cents
    )
    dim = spark.read.parquet(dim_path)
    df, used = answer_join_aggregate(
        spark, mv_root, fact, manifest,
        [(dim, dim_path, ["o_custkey"])],
        group_cols=["c_mktsegment"],
        aggs={
            "n": ("count", None), "sum_cents": ("sum", "cents"),
            "min_cents": ("min", "cents"),
            "max_cents": ("max", "cents"),
        },
    )
    return df.select(
        F.lit("mv" if used == "mor_seg_pri" else "base").alias(
            "served_from"
        ),
        F.col("c_mktsegment").cast("string"),
        "n", "sum_cents", "min_cents", "max_cents",
    )


def stream_join_mv_fixture(spark, sf_dir: str) -> str:
    """STREAMING star-join-summary maintenance: the foreachBatch apply
    MERGEs each micro-batch into the MoR orders fact and — in the same
    batch — catches the JOIN MV (orders ⋈ customer at (c_mktsegment,
    o_orderpriority)) up via maintain_join_mv_from_mor, joining the
    table's own change feed through the static dim. Mid-stream batch =
    the MACHINERY-segment max delete (risky); final batch = folding
    updates + clone inserts. Asserts the MV ends FRESH at
    applied_seq == 2."""

    def build(root: str) -> None:
        import shutil

        from pyspark.sql import Window

        from ..plans.mor import init_mor, merge_into_mor, mor_history, read_mor
        from ..plans.mv import (
            answer_join_aggregate,
            bind_mv_to_mor,
            create_join_mv,
            maintain_join_mv_from_mor,
        )
        from .streaming_q import drain_or_raise

        feed_root = os.path.join(root, "feed")
        state_root = os.path.join(root, "state")
        dim_path = os.path.join(root, "cust_dim")
        mv_root = os.path.join(root, "mvs")
        manifest = os.path.join(state_root, ".mor", "manifest.json")
        orders = table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority"
        )
        cust = table(spark, sf_dir, "customer").select(
            F.col("c_custkey").alias("o_custkey"), "c_mktsegment"
        )
        cust.write.parquet(dim_path)
        dim = spark.read.parquet(dim_path)

        key = F.col("o_orderkey")
        cents_raw = F.floor(
            F.col("o_totalprice") * 100 + F.lit(0.5)
        ).cast("long")
        joined = orders.withColumn("cents", cents_raw).join(
            dim, "o_custkey"
        )
        w = Window.partitionBy("c_mktsegment").orderBy(
            F.col("cents").desc(), F.col("o_orderkey").desc()
        )
        ranked = joined.withColumn("rn", F.row_number().over(w))
        is_d = (F.col("rn") == 1) & (
            F.col("c_mktsegment") == "MACHINERY"
        )
        batch0 = orders.withColumn("is_delete", F.lit(False))
        batch1 = (
            ranked.filter(is_d).select(*orders.columns)
            .withColumn("is_delete", F.lit(True))
        )
        upd = (
            ranked.filter(~is_d & (key % 100 == 29))
            .select(*orders.columns)
            .withColumn("o_totalprice", F.col("o_totalprice") * 1.1)
            .withColumn("is_delete", F.lit(False))
        )
        ins = (
            orders.filter(F.col("o_custkey") % 100 == 53)
            .withColumn("o_orderkey", key + 40_000_000)
            .withColumn("is_delete", F.lit(False))
        )
        write_feed_batches(
            feed_root, (batch0, batch1, upd.unionByName(ins))
        )

        cents = cents_raw.alias("cents")

        def project(df):
            cols = [
                F.col("o_custkey"), F.col("o_orderpriority"), cents
            ]
            if "change_type" in df.columns:
                cols = [F.col("change_type")] + cols
            return df.select(*cols)

        def apply_batch(batch_df, batch_id):
            if not os.path.exists(manifest):
                shutil.rmtree(state_root, ignore_errors=True)
                shutil.rmtree(mv_root, ignore_errors=True)
                init_mor(
                    spark, state_root,
                    batch_df.filter(~F.col("is_delete")).drop("is_delete"),
                    keys=["o_orderkey"], partition_col="o_orderpriority",
                )
                src = read_mor(spark, state_root).select(
                    "o_custkey", "o_orderpriority", cents
                )
                create_join_mv(
                    spark, mv_root, name="stream_seg_pri",
                    fact=src, fact_path=manifest,
                    dims=[(dim, dim_path, ["o_custkey"])],
                    group_cols=["c_mktsegment", "o_orderpriority"],
                    measures={
                        "n": ("count", None),
                        "sum_cents": ("sum", "cents"),
                        "min_cents": ("min", "cents"),
                        "max_cents": ("max", "cents"),
                    },
                )
                bind_mv_to_mor(mv_root, "stream_seg_pri", state_root)
            else:
                merge_into_mor(spark, state_root, batch_df)
                maintain_join_mv_from_mor(
                    spark, mv_root, "stream_seg_pri", project,
                    [(dim, ["o_custkey"])],
                )

        stream = (
            spark.readStream.schema(
                "o_orderkey bigint, o_custkey bigint, "
                "o_totalprice double, o_orderpriority string, "
                "is_delete boolean"
            )
            .option("maxFilesPerTrigger", 1)
            .option("recursiveFileLookup", "true")
            .parquet(feed_root)
        )
        q = (
            stream.writeStream.foreachBatch(apply_batch)
            .option("checkpointLocation", os.path.join(root, "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        drain_or_raise(q, 300, "stream_join_mv_maintain")
        assert [s["seq"] for s in mor_history(state_root)] == [1, 2]
        src_now = read_mor(spark, state_root).select(
            "o_custkey", "o_orderpriority", cents
        )
        _, used = answer_join_aggregate(
            spark, mv_root, src_now, manifest,
            [(dim, dim_path, ["o_custkey"])],
            group_cols=["c_mktsegment"],
            aggs={"n": ("count", None), "sum_cents": ("sum", "cents")},
        )
        assert used == "stream_seg_pri", (
            "the streamed join MV must end FRESH — per-batch catch-up "
            "missed a sequence"
        )

    return session_fixture(
        "stream_join_mv", sf_dir, "machinery_risky_v1", build
    )


@register(
    "stream_join_mv_maintain",
    family="mv_lifecycle",
    oracle="""
    WITH cents0 AS (
      SELECT o_orderkey, o_custkey,
             CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents,
             CAST(floor(o_totalprice * 1.1 * 100 + 0.5) AS BIGINT)
               AS cents_u
      FROM orders
    ), ranked AS (
      SELECT o.o_orderkey, c.c_mktsegment AS seg0,
             row_number() OVER (
               PARTITION BY c.c_mktsegment
               ORDER BY o.cents DESC, o.o_orderkey DESC) AS rn
      FROM cents0 o JOIN customer c ON o.o_custkey = c.c_custkey
    ), dkey AS (
      SELECT o_orderkey FROM ranked
      WHERE rn = 1 AND seg0 = 'MACHINERY'
    ), fact_new AS (
      SELECT o_custkey,
             CASE WHEN o_orderkey % 100 = 29 THEN cents_u
                  ELSE cents END AS cents
      FROM cents0
      WHERE o_orderkey NOT IN (SELECT o_orderkey FROM dkey)
      UNION ALL
      SELECT o_custkey, cents FROM cents0 WHERE o_custkey % 100 = 53
    )
    SELECT 'mv' AS served_from, CAST(c_mktsegment AS VARCHAR)
             AS c_mktsegment,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(cents) AS BIGINT) AS sum_cents,
           CAST(min(cents) AS BIGINT) AS min_cents,
           CAST(max(cents) AS BIGINT) AS max_cents
    FROM fact_new JOIN customer ON o_custkey = c_custkey
    GROUP BY 2
    """,
)
def stream_join_mv_maintain(spark, sf_dir):
    """STREAMING star-join-summary maintenance (round 16) — the last
    cell of the {plain, join} × {batch, streaming} MV-maintenance
    matrix: a Structured Streaming foreachBatch loop MERGEs each
    micro-batch into the merge-on-read fact and catches the JOIN MV up
    in the same batch (maintain_join_mv_from_mor: the table's own
    change feed, z-weighted and joined through the static customer
    dim, pre-state probe = MoR time travel). The mid-stream batch
    deletes the MACHINERY segment's max-cents row, so exactly that
    group's stored max must recompute from the post-merge join; the
    final batch telescopes updates + clone inserts. The registered
    query rolls the post-stream summary up to c_mktsegment; the oracle
    recomputes the final star join closed-form and hardcodes
    served_from='mv'. At 100 TB: dashboard-fresh star-join rollups at
    O(feed·fanout + risky groups) per micro-batch — the fact's
    history is re-joined by nobody."""
    from ..plans.mor import read_mor
    from ..plans.mv import answer_join_aggregate

    root = stream_join_mv_fixture(spark, sf_dir)
    state_root = os.path.join(root, "state")
    dim_path = os.path.join(root, "cust_dim")
    mv_root = os.path.join(root, "mvs")
    manifest = os.path.join(state_root, ".mor", "manifest.json")
    cents = F.floor(
        F.col("o_totalprice") * 100 + F.lit(0.5)
    ).cast("long").alias("cents")
    fact = read_mor(spark, state_root).select(
        "o_custkey", "o_orderpriority", cents
    )
    dim = spark.read.parquet(dim_path)
    df, used = answer_join_aggregate(
        spark, mv_root, fact, manifest,
        [(dim, dim_path, ["o_custkey"])],
        group_cols=["c_mktsegment"],
        aggs={
            "n": ("count", None), "sum_cents": ("sum", "cents"),
            "min_cents": ("min", "cents"),
            "max_cents": ("max", "cents"),
        },
    )
    return df.select(
        F.lit("mv" if used == "stream_seg_pri" else "base").alias(
            "served_from"
        ),
        F.col("c_mktsegment").cast("string"),
        "n", "sum_cents", "min_cents", "max_cents",
    )


def stream_mv_fixture(spark, sf_dir: str) -> str:
    """STREAMING MV maintenance — the streaming half of the
    CDC→table→summary loop (round 16): a foreachBatch apply MERGEs each
    micro-batch into a merge-on-read orders table, then calls
    maintain_mv_from_mor so the bound summary catches up to the table's
    new sequence inside the same batch. Three time-ordered file batches:
    bootstrap (init_mor + create_mv + bind_mv_to_mor), a RISKY
    mid-stream batch deleting 1-URGENT's max-price row (the stored max
    partial must recompute, not fold), and a folding batch of updates +
    inserts. The build asserts the MV ends FRESH at applied_seq == 2 —
    sequence-clock catch-up, so a redelivered batch re-merges at a new
    sequence and is folded exactly once."""

    def build(root: str) -> None:
        import shutil

        from pyspark.sql import Window

        from ..plans.mor import init_mor, merge_into_mor, mor_history, read_mor
        from ..plans.mv import (
            answer_aggregate as _answer,
            bind_mv_to_mor,
            maintain_mv_from_mor,
        )
        from .streaming_q import drain_or_raise

        feed_root = os.path.join(root, "feed")
        state_root = os.path.join(root, "state")
        mv_root = os.path.join(root, "mvs")
        manifest = os.path.join(state_root, ".mor", "manifest.json")
        orders = table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_totalprice", "o_orderpriority"
        )
        key, pri = F.col("o_orderkey"), F.col("o_orderpriority")
        w = Window.partitionBy("o_orderpriority").orderBy(
            F.col("o_totalprice").desc(), F.col("o_orderkey").desc()
        )
        ranked = orders.withColumn("rn", F.row_number().over(w))
        batch0 = orders.withColumn("is_delete", F.lit(False))
        # mid-stream RISKY batch: delete 1-URGENT's max
        batch1 = (
            ranked.filter((F.col("rn") == 1) & (pri == "1-URGENT"))
            .drop("rn").withColumn("is_delete", F.lit(True))
        )
        # folding batch: updates (excluding the deleted row) + inserts
        upd = (
            ranked.filter(
                ~((F.col("rn") == 1) & (pri == "1-URGENT"))
                & (key % 100 == 13)
            )
            .drop("rn")
            .withColumn("o_totalprice", F.col("o_totalprice") * 1.1)
            .withColumn("is_delete", F.lit(False))
        )
        ins = (
            orders.filter(key % 100 == 37)
            .withColumn("o_orderkey", key + 20_000_000)
            .withColumn("o_orderpriority", F.lit("2-HIGH"))
            .withColumn("is_delete", F.lit(False))
        )
        write_feed_batches(
            feed_root, (batch0, batch1, upd.unionByName(ins))
        )

        cents = F.floor(
            F.col("o_totalprice") * 100 + F.lit(0.5)
        ).cast("long").alias("cents")

        def project(df):
            cols = [F.col("o_orderpriority"), cents]
            if "change_type" in df.columns:
                cols = [F.col("change_type")] + cols
            return df.select(*cols)

        def apply_batch(batch_df, batch_id):
            if not os.path.exists(manifest):
                # manifest is the bootstrap's LAST write: its absence
                # with partial state = a crashed batch-0 retry — rebuild
                # table AND summary from scratch (stream_mor_apply's
                # _SUCCESS lesson, extended to the MV layer)
                shutil.rmtree(state_root, ignore_errors=True)
                shutil.rmtree(mv_root, ignore_errors=True)
                init_mor(
                    spark, state_root,
                    batch_df.filter(~F.col("is_delete")).drop("is_delete"),
                    keys=["o_orderkey"], partition_col="o_orderpriority",
                )
                src = read_mor(spark, state_root).select(
                    "o_orderpriority", cents
                )
                create_mv(
                    spark, mv_root, name="stream_by_pri",
                    source_path=manifest, source=src,
                    group_cols=["o_orderpriority"],
                    measures={
                        "n": ("count", None),
                        "sum_cents": ("sum", "cents"),
                        "min_cents": ("min", "cents"),
                        "max_cents": ("max", "cents"),
                    },
                )
                bind_mv_to_mor(mv_root, "stream_by_pri", state_root)
            else:
                merge_into_mor(spark, state_root, batch_df)
                maintain_mv_from_mor(
                    spark, mv_root, "stream_by_pri", project
                )

        stream = (
            spark.readStream.schema(
                "o_orderkey bigint, o_totalprice double, "
                "o_orderpriority string, is_delete boolean"
            )
            .option("maxFilesPerTrigger", 1)
            .option("recursiveFileLookup", "true")
            .parquet(feed_root)
        )
        q = (
            stream.writeStream.foreachBatch(apply_batch)
            .option("checkpointLocation", os.path.join(root, "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        drain_or_raise(q, 300, "stream_mv_maintain")
        assert [s["seq"] for s in mor_history(state_root)] == [1, 2]
        src_now = read_mor(spark, state_root).select(
            "o_orderpriority", cents
        )
        _, used = _answer(
            spark, mv_root, src_now, manifest,
            group_cols=["o_orderpriority"],
            aggs={"n": ("count", None), "sum_cents": ("sum", "cents")},
        )
        assert used == "stream_by_pri", (
            "the streamed MV must end FRESH — per-batch maintenance "
            "missed a sequence"
        )

    return session_fixture("stream_mv", sf_dir, "risky_mid_v1", build)


@register(
    "stream_mv_maintain",
    family="mv_lifecycle",
    oracle="""
    WITH ranked AS (
      SELECT o_orderkey, o_totalprice, o_orderpriority,
             row_number() OVER (
               PARTITION BY o_orderpriority
               ORDER BY o_totalprice DESC, o_orderkey DESC) AS rn
      FROM orders
    ), final AS (
      SELECT CASE WHEN o_orderkey % 100 = 13
                  THEN floor(o_totalprice * 1.1 * 100 + 0.5)
                  ELSE floor(o_totalprice * 100 + 0.5) END AS cents,
             o_orderpriority
      FROM ranked
      WHERE NOT (rn = 1 AND o_orderpriority = '1-URGENT')
      UNION ALL
      SELECT floor(o_totalprice * 100 + 0.5), '2-HIGH'
      FROM orders WHERE o_orderkey % 100 = 37
    )
    SELECT 'mv' AS served_from, o_orderpriority,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(cents AS BIGINT)) AS BIGINT) AS sum_cents,
           CAST(min(cents) AS BIGINT) AS min_cents,
           CAST(max(cents) AS BIGINT) AS max_cents
    FROM final GROUP BY 2
    """,
)
def stream_mv_maintain(spark, sf_dir):
    """STREAMING MV maintenance end to end (round 16): a Structured
    Streaming foreachBatch loop MERGEs each micro-batch into a
    merge-on-read table and — in the same batch — catches the bound
    summary up via maintain_mv_from_mor (cut the table's own change
    feed from the MV's recorded sequence, fold it, stamp the
    feed-cut-time token). The mid-stream batch deletes 1-URGENT's
    max-price row, so the stored max partial for exactly that group must
    RECOMPUTE (a fold-only maintainer serves the dead maximum); the
    final batch telescopes updates + inserts. The registered query
    serves the post-stream summary through the aggregate-navigation
    rewrite; the oracle recomputes the post-stream per-priority state
    closed-form from the raw table and hardcodes served_from='mv' — a
    double-folded redelivery, a missed sequence, or a stale serve all
    shift the hash. The streaming analog of mv_mor_feed_capstone and
    the MV sibling of stream_ivm_join: at 100 TB, summary freshness
    rides the micro-batch at O(changeset + risky groups) per batch,
    with the fact scanned by nobody."""
    from ..plans.mor import read_mor

    root = stream_mv_fixture(spark, sf_dir)
    state_root = os.path.join(root, "state")
    mv_root = os.path.join(root, "mvs")
    manifest = os.path.join(state_root, ".mor", "manifest.json")
    cents = F.floor(
        F.col("o_totalprice") * 100 + F.lit(0.5)
    ).cast("long").alias("cents")
    src = read_mor(spark, state_root).select("o_orderpriority", cents)
    df, used = answer_aggregate(
        spark, mv_root, src, manifest,
        group_cols=["o_orderpriority"],
        aggs={
            "n": ("count", None), "sum_cents": ("sum", "cents"),
            "min_cents": ("min", "cents"),
            "max_cents": ("max", "cents"),
        },
    )
    return df.select(
        F.lit("mv" if used == "stream_by_pri" else "base").alias(
            "served_from"
        ),
        "o_orderpriority", "n", "sum_cents", "min_cents", "max_cents",
    )


@register(
    "mv_disjunctive_rewrite",
    oracle="""
    SELECT 'mv' AS served_from, l_returnflag AS grp,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT))
                AS BIGINT) AS sum_cents,
           CAST(max(floor(l_extendedprice * 100 + 0.5)) AS BIGINT)
             AS max_cents
    FROM lineitem
    WHERE (l_linestatus = 'F' AND l_returnflag <> 'A')
       OR l_returnflag = 'R'
    GROUP BY 2
    UNION ALL
    SELECT 'base', l_returnflag, CAST(count(*) AS BIGINT),
           CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT))
                AS BIGINT),
           CAST(max(floor(l_extendedprice * 100 + 0.5)) AS BIGINT)
    FROM lineitem
    WHERE l_linestatus = 'F' OR l_linenumber < 3
    GROUP BY 2
    """,
)
def mv_disjunctive_rewrite(spark, sf_dir):
    """OR-of-conjuncts aggregate navigation (round 16): leg 1 filters
    with a DISJUNCTION whose legs touch only MV group columns —
    ``(l_linestatus='F' AND l_returnflag<>'A') OR l_returnflag='R'``,
    the partition-style dashboard shape — so the planner filters the
    partials and serves from the MV; leg 2's disjunction has a leg on
    l_linenumber (not an MV group column: the partials cannot express
    it even though the OTHER leg could), forcing the base WITH the
    full filter applied. ``served_from`` carries the actual routing;
    the oracle hardcodes the required one and recomputes both filtered
    aggregates from the raw table."""
    root = mv_lineitem_fixture(spark, sf_dir)
    src = table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_linestatus", "l_linenumber", _cents()
    )
    src_path = os.path.join(sf_dir, "lineitem.parquet")
    aggs = {
        "n": ("count", None),
        "sum_cents": ("sum", "cents"),
        "max_cents": ("max", "cents"),
    }
    leg1, used1 = answer_aggregate(
        spark, root, src, src_path,
        group_cols=["l_returnflag"], aggs=aggs,
        where=[("or", [
            [("l_linestatus", "=", "F"), ("l_returnflag", "!=", "A")],
            [("l_returnflag", "=", "R")],
        ])],
    )
    leg2, used2 = answer_aggregate(
        spark, root, src, src_path,
        group_cols=["l_returnflag"], aggs=aggs,
        where=[("or", [
            [("l_linestatus", "=", "F")],
            [("l_linenumber", "<", 3)],
        ])],
    )
    return leg1.select(
        F.lit("mv" if used1 == "li_flag_status" else "base").alias(
            "served_from"
        ),
        F.col("l_returnflag").alias("grp"),
        "n", "sum_cents", "max_cents",
    ).unionByName(
        leg2.select(
            F.lit("base" if used2 is None else "mv").alias("served_from"),
            F.col("l_returnflag").alias("grp"),
            "n", "sum_cents", "max_cents",
        )
    )


@register(
    "mv_join_rollup_hierarchy_rewrite",
    oracle="""
    WITH j AS (
      SELECT n_name, o_orderpriority, o_custkey,
             CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
      FROM orders
      JOIN customer ON o_custkey = c_custkey
      JOIN nation ON c_nationkey = n_nationkey
    )
    SELECT 'mv' AS served_from,
           CAST(n_name AS VARCHAR) AS grp1,
           CAST(o_orderpriority AS VARCHAR) AS grp2,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(cents) AS BIGINT) AS sum_cents,
           CAST(min(cents) AS BIGINT) AS min_cents,
           CAST(max(cents) AS BIGINT) AS max_cents
    FROM j GROUP BY ROLLUP (n_name, o_orderpriority)
    UNION ALL
    SELECT 'base', CAST(o_custkey AS VARCHAR), '--',
           CAST(count(*) AS BIGINT), CAST(sum(cents) AS BIGINT),
           CAST(min(cents) AS BIGINT), CAST(max(cents) AS BIGINT)
    FROM j GROUP BY ROLLUP (o_custkey)
    """,
)
def mv_join_rollup_hierarchy_rewrite(spark, sf_dir):
    """ROLLUP over a STAR JOIN served from a join MV (round 17,
    plans/mv.answer_join_grouping_sets — the composition the
    round-16 verdict named top-next): leg 1 asks for
    ``ROLLUP(n_name, o_orderpriority)`` over orders ⋈ customer ⋈
    nation — the TPC-H-Q5-style BI hierarchy — and every level (fine,
    per-nation, grand total) is a rollup of the registered star-join
    MV, so the planner serves the WHOLE hierarchy from the stored
    partials via ONE pinned manifest: n+1 KB-summary reads, the join
    never re-runs, no mixed source states across levels. Leg 2 rolls
    up o_custkey, which the MV does not carry, and must fall back to
    the base join's native rollup. ``served_from`` carries the actual
    routing; the oracle recomputes both hierarchies with ANSI GROUP BY
    ROLLUP over the same join and hardcodes the required routing. At
    100 TB leg 1 replaces a fact-shuffling star join with n+1-way
    Expand replication by a few KB reads."""
    from ..plans.mv import answer_join_grouping_sets, rollup_sets

    root = mv_join_fixture(spark, sf_dir)
    fact = table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderpriority",
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast(
            "long"
        ).alias("cents"),
    )
    dim_c = table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_nationkey"
    )
    dim_n = table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("c_nationkey"), "n_name"
    )
    dims = [
        (dim_c, os.path.join(sf_dir, "customer.parquet"), ["o_custkey"]),
        (dim_n, os.path.join(sf_dir, "nation.parquet"),
         ["c_nationkey"]),
    ]
    fact_path = os.path.join(sf_dir, "orders.parquet")
    aggs = {
        "n": ("count", None), "sum_cents": ("sum", "cents"),
        "min_cents": ("min", "cents"), "max_cents": ("max", "cents"),
    }
    leg1, used1 = answer_join_grouping_sets(
        spark, root, fact, fact_path, dims,
        sets=rollup_sets(["n_name", "o_orderpriority"]), aggs=aggs,
    )
    leg2, used2 = answer_join_grouping_sets(
        spark, root, fact, fact_path, dims,
        sets=rollup_sets(["o_custkey"]), aggs=aggs,
    )
    measures = ["n", "sum_cents", "min_cents", "max_cents"]
    return leg1.select(
        F.lit("mv" if used1 == "rev_nation_pri" else "base").alias(
            "served_from"
        ),
        F.col("n_name").cast("string").alias("grp1"),
        F.col("o_orderpriority").cast("string").alias("grp2"),
        *measures,
    ).unionByName(
        leg2.select(
            F.lit("base" if used2 is None else "mv").alias("served_from"),
            F.col("o_custkey").cast("string").alias("grp1"),
            F.lit("--").alias("grp2"),
            *measures,
        )
    )


@register(
    "mv_join_cube_rewrite",
    oracle="""
    WITH j AS (
      SELECT n_name, o_orderpriority, o_custkey,
             CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
      FROM orders
      JOIN customer ON o_custkey = c_custkey
      JOIN nation ON c_nationkey = n_nationkey
    )
    SELECT 'mv' AS served_from,
           CAST(n_name AS VARCHAR) AS grp1,
           CAST(o_orderpriority AS VARCHAR) AS grp2,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(cents) AS BIGINT) AS sum_cents,
           CAST(max(cents) AS BIGINT) AS max_cents
    FROM j WHERE n_name <> 'FRANCE'
    GROUP BY CUBE (n_name, o_orderpriority)
    UNION ALL
    SELECT 'base', CAST(o_custkey AS VARCHAR),
           CAST(o_orderpriority AS VARCHAR),
           CAST(count(*) AS BIGINT), CAST(sum(cents) AS BIGINT),
           CAST(max(cents) AS BIGINT)
    FROM j GROUP BY CUBE (o_custkey, o_orderpriority)
    """,
)
def mv_join_cube_rewrite(spark, sf_dir):
    """CUBE over a star join served from a join MV UNDER A PREDICATE
    (round 17, plans/mv.answer_join_grouping_sets over cube_sets):
    leg 1 cubes
    (n_name, o_orderpriority) with a filter on an MV group column —
    all 2ⁿ grouping sets are subsumed, so the whole cube is 2ⁿ
    KB-summary reads from one pinned manifest with the filter applied
    to the partials (a native cube Expands every JOINED fact row 2ⁿ
    ways). Leg 2 cubes over o_custkey, not an MV group column — base
    fallback through the full star join. Oracle: ANSI GROUP BY CUBE
    over the same join, routing hardcoded."""
    from ..plans.mv import answer_join_grouping_sets, cube_sets

    root = mv_join_fixture(spark, sf_dir)
    fact = table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderpriority",
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast(
            "long"
        ).alias("cents"),
    )
    dim_c = table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_nationkey"
    )
    dim_n = table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("c_nationkey"), "n_name"
    )
    dims = [
        (dim_c, os.path.join(sf_dir, "customer.parquet"), ["o_custkey"]),
        (dim_n, os.path.join(sf_dir, "nation.parquet"),
         ["c_nationkey"]),
    ]
    fact_path = os.path.join(sf_dir, "orders.parquet")
    aggs = {
        "n": ("count", None), "sum_cents": ("sum", "cents"),
        "max_cents": ("max", "cents"),
    }
    leg1, used1 = answer_join_grouping_sets(
        spark, root, fact, fact_path, dims,
        sets=cube_sets(["n_name", "o_orderpriority"]), aggs=aggs,
        where=[("n_name", "!=", "FRANCE")],
    )
    leg2, used2 = answer_join_grouping_sets(
        spark, root, fact, fact_path, dims,
        sets=cube_sets(["o_custkey", "o_orderpriority"]), aggs=aggs,
    )
    measures = ["n", "sum_cents", "max_cents"]
    return leg1.select(
        F.lit("mv" if used1 == "rev_nation_pri" else "base").alias(
            "served_from"
        ),
        F.col("n_name").cast("string").alias("grp1"),
        F.col("o_orderpriority").cast("string").alias("grp2"),
        *measures,
    ).unionByName(
        leg2.select(
            F.lit("base" if used2 is None else "mv").alias("served_from"),
            F.col("o_custkey").cast("string").alias("grp1"),
            F.col("o_orderpriority").cast("string").alias("grp2"),
            *measures,
        )
    )


def stream_mv_compact_fixture(spark, sf_dir: str) -> str:
    """STREAMING CAPSTONE (round 17): policy-triggered auto-compaction
    firing MID-STREAM between MV catch-ups — the interplay
    stream_mor_auto_maintain (compaction) and stream_mv_maintain
    (summary catch-up) each proved alone. Per micro-batch, in order:
    MERGE into the MoR table, catch the bound summary up
    (maintain_mv_from_mor — the feed is cut BEFORE any compaction can
    fold the span away), THEN the zero-job auto_compact_mor policy
    check. The overlay-depth policy (max 1) triggers exactly once,
    after batch 2 — folding sequences 1-2 into a new base generation
    (base_seq 2) — and batch 3 then exercises the
    sequence-continuation edge (its merge lands at seq 3, ABOVE the
    compacted base; plans/mor.py merge seq derivation) plus a feed cut
    whose floor is the compacted base_seq itself. The build asserts
    the compaction fired exactly once mid-stream, the final history is
    [3] over base_seq 2, and the MV ends FRESH."""

    def build(root: str) -> None:
        import json as _json
        import shutil

        from pyspark.sql import Window

        from ..plans.mor import (
            _read_manifest,
            auto_compact_mor,
            init_mor,
            merge_into_mor,
            mor_history,
            read_mor,
        )
        from ..plans.mv import (
            answer_aggregate as _answer,
            bind_mv_to_mor,
            maintain_mv_from_mor,
        )
        from .streaming_q import drain_or_raise

        feed_root = os.path.join(root, "feed")
        state_root = os.path.join(root, "state")
        mv_root = os.path.join(root, "mvs")
        marker = os.path.join(root, "compactions.json")
        manifest = os.path.join(state_root, ".mor", "manifest.json")
        orders = table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_totalprice", "o_orderpriority"
        )
        key, pri = F.col("o_orderkey"), F.col("o_orderpriority")
        w = Window.partitionBy("o_orderpriority").orderBy(
            F.col("o_totalprice").desc(), F.col("o_orderkey").desc()
        )
        ranked = orders.withColumn("rn", F.row_number().over(w))
        is_med_max = (F.col("rn") == 1) & (pri == "3-MEDIUM")
        batch0 = orders.withColumn("is_delete", F.lit(False))
        # batch 1 (risky): delete 3-MEDIUM's max-price row — the stored
        # max partial for that group must recompute, not fold
        batch1 = (
            ranked.filter(is_med_max)
            .drop("rn").withColumn("is_delete", F.lit(True))
        )
        # batch 2: price updates + clone inserts (disjoint key mods)
        upd = (
            ranked.filter(~is_med_max & (key % 100 == 21))
            .drop("rn")
            .withColumn("o_totalprice", F.col("o_totalprice") * 1.2)
            .withColumn("is_delete", F.lit(False))
        )
        ins = (
            orders.filter(key % 100 == 55)
            .withColumn("o_orderkey", key + 30_000_000)
            .withColumn("o_orderpriority", F.lit("5-LOW"))
            .withColumn("is_delete", F.lit(False))
        )
        # batch 3 (post-compaction): deletes — lands at seq 3 above the
        # freshly-compacted base_seq 2
        batch3 = (
            ranked.filter(~is_med_max & (key % 100 == 77))
            .drop("rn").withColumn("is_delete", F.lit(True))
        )
        write_feed_batches(
            feed_root, (batch0, batch1, upd.unionByName(ins), batch3)
        )

        cents = F.floor(
            F.col("o_totalprice") * 100 + F.lit(0.5)
        ).cast("long").alias("cents")

        def project(df):
            cols = [F.col("o_orderpriority"), cents]
            if "change_type" in df.columns:
                cols = [F.col("change_type")] + cols
            return df.select(*cols)

        def apply_batch(batch_df, batch_id):
            if not os.path.exists(manifest):
                shutil.rmtree(state_root, ignore_errors=True)
                shutil.rmtree(mv_root, ignore_errors=True)
                init_mor(
                    spark, state_root,
                    batch_df.filter(~F.col("is_delete")).drop("is_delete"),
                    keys=["o_orderkey"], partition_col="o_orderpriority",
                )
                src = read_mor(spark, state_root).select(
                    "o_orderpriority", cents
                )
                create_mv(
                    spark, mv_root, name="capstone_by_pri",
                    source_path=manifest, source=src,
                    group_cols=["o_orderpriority"],
                    measures={
                        "n": ("count", None),
                        "sum_cents": ("sum", "cents"),
                        "min_cents": ("min", "cents"),
                        "max_cents": ("max", "cents"),
                    },
                )
                bind_mv_to_mor(mv_root, "capstone_by_pri", state_root)
                with open(marker, "w") as f:
                    _json.dump({"triggered": 0}, f)
                return
            # ORDER MATTERS: maintain cuts the change feed BEFORE the
            # policy check can compact the span away — the contract
            # maintain_mv_from_mor's docstring promises
            merge_into_mor(spark, state_root, batch_df)
            maintain_mv_from_mor(
                spark, mv_root, "capstone_by_pri", project
            )
            rep = auto_compact_mor(
                spark, state_root, max_overlay_depth=1
            )
            if rep["triggered"]:
                with open(marker) as f:
                    m = _json.load(f)
                m["triggered"] += 1
                m["base_seq_after"] = rep["compact"]["base_seq"]
                with open(marker, "w") as f:
                    _json.dump(m, f)

        stream = (
            spark.readStream.schema(
                "o_orderkey bigint, o_totalprice double, "
                "o_orderpriority string, is_delete boolean"
            )
            .option("maxFilesPerTrigger", 1)
            .option("recursiveFileLookup", "true")
            .parquet(feed_root)
        )
        q = (
            stream.writeStream.foreachBatch(apply_batch)
            .option("checkpointLocation", os.path.join(root, "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        drain_or_raise(q, 300, "stream_mv_auto_compact")
        with open(marker) as f:
            m = _json.load(f)
        assert m == {"triggered": 1, "base_seq_after": 2}, m
        mor_man = _read_manifest(state_root)
        assert mor_man["base_seq"] == 2
        assert [s["seq"] for s in mor_history(state_root)] == [3]
        src_now = read_mor(spark, state_root).select(
            "o_orderpriority", cents
        )
        _, used = _answer(
            spark, mv_root, src_now, manifest,
            group_cols=["o_orderpriority"],
            aggs={"n": ("count", None), "sum_cents": ("sum", "cents")},
        )
        assert used == "capstone_by_pri", (
            "the MV must end FRESH across the mid-stream compaction"
        )

    return session_fixture(
        "stream_mv_compact", sf_dir, "midstream_v1", build
    )


@register(
    "stream_mv_auto_compact",
    family="mv_lifecycle",
    oracle="""
    WITH ranked AS (
      SELECT o_orderkey, o_totalprice, o_orderpriority,
             row_number() OVER (
               PARTITION BY o_orderpriority
               ORDER BY o_totalprice DESC, o_orderkey DESC) AS rn
      FROM orders
    ), final AS (
      SELECT CASE WHEN o_orderkey % 100 = 21
                  THEN floor(o_totalprice * 1.2 * 100 + 0.5)
                  ELSE floor(o_totalprice * 100 + 0.5) END AS cents,
             o_orderpriority
      FROM ranked
      WHERE NOT (rn = 1 AND o_orderpriority = '3-MEDIUM')
        AND o_orderkey % 100 <> 77
      UNION ALL
      SELECT floor(o_totalprice * 100 + 0.5), '5-LOW'
      FROM orders WHERE o_orderkey % 100 = 55
    )
    SELECT 'mv' AS served_from, 1 AS compactions, o_orderpriority,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(cents AS BIGINT)) AS BIGINT) AS sum_cents,
           CAST(min(cents) AS BIGINT) AS min_cents,
           CAST(max(cents) AS BIGINT) AS max_cents
    FROM final GROUP BY 3
    """,
)
def stream_mv_auto_compact(spark, sf_dir):
    """STREAMING CAPSTONE (round 17): a live auto-compaction policy
    fires MID-STREAM between MV catch-ups and the summary stays fresh
    and value-correct. Per micro-batch the foreachBatch loop merges
    into the MoR table, catches the bound MV up via its own change
    feed, then runs the zero-job auto_compact_mor policy check; the
    overlay-depth policy triggers exactly once (after batch 2),
    folding the overlay into a new base generation, and batch 3 then
    merges at a sequence ABOVE the compacted base (plans/mor.py's
    post-compaction numbering edge) with the next feed cut floored at
    base_seq itself. ``compactions`` pins the mid-stream trigger count
    (from the fixture's marker, oracle-hardcoded 1) and
    ``served_from`` pins freshness; the oracle recomputes the
    post-stream per-priority state closed-form from the raw table —
    maintain-after-compact ordering, a double fold across the
    compaction boundary, or a stale serve all shift the hash. At
    100 TB: overlay depth stays bounded by policy while summary
    freshness rides the micro-batch, and neither path scans the
    fact."""
    import json as _json

    from ..plans.mor import read_mor

    root = stream_mv_compact_fixture(spark, sf_dir)
    state_root = os.path.join(root, "state")
    mv_root = os.path.join(root, "mvs")
    manifest = os.path.join(state_root, ".mor", "manifest.json")
    with open(os.path.join(root, "compactions.json")) as f:
        n_compact = _json.load(f)["triggered"]
    cents = F.floor(
        F.col("o_totalprice") * 100 + F.lit(0.5)
    ).cast("long").alias("cents")
    src = read_mor(spark, state_root).select("o_orderpriority", cents)
    df, used = answer_aggregate(
        spark, mv_root, src, manifest,
        group_cols=["o_orderpriority"],
        aggs={
            "n": ("count", None), "sum_cents": ("sum", "cents"),
            "min_cents": ("min", "cents"),
            "max_cents": ("max", "cents"),
        },
    )
    return df.select(
        F.lit("mv" if used == "capstone_by_pri" else "base").alias(
            "served_from"
        ),
        F.lit(n_compact).cast("int").alias("compactions"),
        "o_orderpriority", "n", "sum_cents", "min_cents", "max_cents",
    )


def mv_advisor_fixture(spark, sf_dir: str) -> str:
    """Workload-driven advisor fixture (round 17,
    plans/mv_advisor.py): a two-request dashboard workload over
    lineitem — a per-returnflag volume rollup and a per-linestatus
    average FILTERED by returnflag — folds to ONE advised MV at
    (l_linestatus, l_returnflag) granularity (the maximal needed
    column set; the avg partial pair subsumes the requested sum), ONE
    estimation job prices it, and create_advised_mvs materializes it.
    The build asserts the advisor's covering/shape claims before any
    serving happens."""

    def build(root: str) -> None:
        from ..plans.mv_advisor import (
            advise_mvs,
            create_advised_mvs,
            estimate_mv_sizes,
        )

        src = table(spark, sf_dir, "lineitem").select(
            "l_returnflag", "l_linestatus", _cents()
        )
        workload = [
            {"group_cols": ["l_returnflag"],
             "aggs": {"n": ("count", None),
                      "sum_cents": ("sum", "cents")}},
            {"group_cols": ["l_linestatus"],
             "where_cols": ["l_returnflag"],
             "aggs": {"avg_cents": ("avg", "cents")}},
        ]
        advised = advise_mvs(workload)
        assert len(advised) == 1, advised
        assert advised[0]["group_cols"] == [
            "l_linestatus", "l_returnflag"
        ]
        assert advised[0]["covers"] == [0, 1]
        advised = estimate_mv_sizes(spark, src, advised)
        assert advised[0]["n_groups_est"] >= 1
        create_advised_mvs(
            spark, root,
            source_path=os.path.join(sf_dir, "lineitem.parquet"),
            source=src, advised=advised,
        )

    return session_fixture("mv_advisor", sf_dir, "workload_v1", build)


@register(
    "mv_advisor_workload",
    oracle="""
    WITH c AS (
      SELECT l_returnflag, l_linestatus,
             CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS cents
      FROM lineitem
    )
    SELECT 'mv' AS served_from, l_returnflag AS grp,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(cents) AS BIGINT) AS sum_cents,
           CAST(NULL AS DOUBLE) AS avg_cents
    FROM c GROUP BY 2
    UNION ALL
    SELECT 'mv', l_linestatus, CAST(NULL AS BIGINT),
           CAST(NULL AS BIGINT),
           CAST(sum(cents) AS DOUBLE) / count(cents)
    FROM c WHERE l_returnflag = 'R' GROUP BY 2
    """,
)
def mv_advisor_workload(spark, sf_dir):
    """MV ADVISOR end to end (round 17, plans/mv_advisor.py — the
    physical-design loop closed): the fixture folds a two-request
    workload into ONE advised summary (maximal-column-set antichain;
    avg partials subsume the requested sum; ONE
    approx_count_distinct job prices it) and materializes it; this
    query then issues BOTH original requests through the
    aggregate-navigation rewrite and each must route to the SAME
    advised MV — leg 1 as a rollup of its partials, leg 2 with the
    predicate applied to them. ``served_from`` pins the routing (the
    oracle hardcodes 'mv' for both legs) and all values are
    recomputed from the raw table. At 100 TB this is how a summary
    layer gets DESIGNED, not just maintained: N dashboard queries
    collapse into one stored rollup chosen before paying a single
    fact scan."""
    root = mv_advisor_fixture(spark, sf_dir)
    src = table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_linestatus", _cents()
    )
    src_path = os.path.join(sf_dir, "lineitem.parquet")
    leg1, used1 = answer_aggregate(
        spark, root, src, src_path,
        group_cols=["l_returnflag"],
        aggs={"n": ("count", None), "sum_cents": ("sum", "cents")},
    )
    leg2, used2 = answer_aggregate(
        spark, root, src, src_path,
        group_cols=["l_linestatus"],
        aggs={"avg_cents": ("avg", "cents")},
        where=[("l_returnflag", "=", "R")],
    )
    return leg1.select(
        F.lit("mv" if used1 == "advised_0" else "base").alias(
            "served_from"
        ),
        F.col("l_returnflag").alias("grp"),
        "n", "sum_cents",
        F.lit(None).cast("double").alias("avg_cents"),
    ).unionByName(
        leg2.select(
            F.lit("mv" if used2 == "advised_0" else "base").alias(
                "served_from"
            ),
            F.col("l_linestatus").alias("grp"),
            F.lit(None).cast("long").alias("n"),
            F.lit(None).cast("long").alias("sum_cents"),
            "avg_cents",
        )
    )


def mv_hll_fixture(spark, sf_dir: str) -> str:
    """An MV storing a MERGEABLE Datasketches HLL sketch partial
    (round 17): approx-distinct l_partkey at (l_returnflag,
    l_linestatus) granularity — count-distinct is the one classic
    measure plain partials cannot roll up; the sketch union is what
    makes it servable at every coarser grain."""

    def build(root: str) -> None:
        src = table(spark, sf_dir, "lineitem").select(
            "l_returnflag", "l_linestatus", "l_partkey"
        )
        create_mv(
            spark, root, name="li_hll",
            source_path=os.path.join(sf_dir, "lineitem.parquet"),
            source=src,
            group_cols=["l_returnflag", "l_linestatus"],
            measures={
                "adk": ("approx_distinct", "l_partkey"),
                "n": ("count", None),
            },
        )

    return session_fixture("mv_hll", sf_dir, "partkey_v1", build)


@register(
    "mv_approx_distinct_rewrite",
    oracle="""
    SELECT 'mv' AS served_from, CAST(l_returnflag AS VARCHAR) AS grp,
           CAST(count(*) AS BIGINT) AS n,
           CAST(count(DISTINCT l_partkey) AS BIGINT) AS exact_partkeys,
           TRUE AS within_5pct
    FROM lineitem GROUP BY 2
    UNION ALL
    SELECT 'base', CAST(l_linenumber AS VARCHAR),
           CAST(count(*) AS BIGINT),
           CAST(count(DISTINCT l_partkey) AS BIGINT), TRUE
    FROM lineitem GROUP BY 2
    """,
)
def mv_approx_distinct_rewrite(spark, sf_dir):
    """APPROX COUNT-DISTINCT served from MV sketch partials (round 17,
    plans/mv.py ``approx_distinct`` measure): the MV stores a
    Datasketches HLL sketch per group (F.hll_sketch_agg) and leg 1
    rolls it up to l_returnflag by UNIONING the stored sketches
    (hll_union_agg — register-wise max, lossless at equal lgK), the
    rollup plain partials cannot express; leg 2 groups by
    l_linenumber, not subsumed, and falls back to the base running
    the SAME Datasketches estimator directly. Both legs value-check
    the accuracy contract in-query — |estimate − exact| / exact ≤ 5%
    against an exact COUNT(DISTINCT) recomputed from the raw table —
    and the oracle hardcodes the band TRUE plus the exact counts and
    the routing (the estimate itself is engine-specific and never
    crosses to DuckDB; the count(*) column rides the same serve). At
    100 TB this is the Druid-style pre-aggregated distinct-count
    dashboard: a KB summary of sketches answers any rollup, the fact
    is scanned by nobody, and the error is the sketch's published
    HLL bound, not a sampling guess."""
    root = mv_hll_fixture(spark, sf_dir)
    src = table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_linestatus", "l_linenumber", "l_partkey"
    )
    src_path = os.path.join(sf_dir, "lineitem.parquet")
    aggs = {"adk": ("approx_distinct", "l_partkey"),
            "n": ("count", None)}
    leg1, used1 = answer_aggregate(
        spark, root, src.select(
            "l_returnflag", "l_linestatus", "l_partkey"
        ), src_path,
        group_cols=["l_returnflag"], aggs=aggs,
    )
    leg2, used2 = answer_aggregate(
        spark, root, src, src_path,
        group_cols=["l_linenumber"], aggs=aggs,
    )

    def banded(leg, gcol, tag):
        exact = src.groupBy(gcol).agg(
            F.countDistinct("l_partkey").alias("exact_partkeys")
        )
        return leg.join(exact, gcol).select(
            F.lit(tag).alias("served_from"),
            F.col(gcol).cast("string").alias("grp"),
            "n", "exact_partkeys",
            (
                F.abs(F.col("adk") - F.col("exact_partkeys"))
                / F.col("exact_partkeys")
                <= F.lit(0.05)
            ).alias("within_5pct"),
        )

    return banded(
        leg1, "l_returnflag", "mv" if used1 == "li_hll" else "base"
    ).unionByName(
        banded(
            leg2, "l_linenumber",
            "base" if used2 is None else "mv",
        )
    )


@register(
    "mv_having_rewrite",
    oracle="""
    WITH c AS (
      SELECT l_returnflag, l_linenumber,
             CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS cents
      FROM lineitem
    )
    SELECT 'mv' AS served_from, CAST(l_returnflag AS VARCHAR) AS grp,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(cents) AS BIGINT) AS sum_cents
    FROM c GROUP BY 2
    HAVING CAST(sum(cents) AS BIGINT) > 80000000000
    UNION ALL
    SELECT 'base', CAST(l_linenumber AS VARCHAR),
           CAST(count(*) AS BIGINT), CAST(sum(cents) AS BIGINT)
    FROM c GROUP BY 2
    HAVING CAST(min(cents) AS BIGINT) > 1000
    """,
)
def mv_having_rewrite(spark, sf_dir):
    """ANSI HAVING through the aggregate-navigation rewrite (round 17):
    leg 1 filters ON A DERIVED MEASURE (sum_cents > 800M cents) after
    rolling the registered MV's partials up to l_returnflag — the
    post-aggregation predicate never affects subsumption, and both
    routes filter the identical derived values (at sf 0.01 the
    threshold splits the groups; at sf 0.001 it empties the leg — the
    oracle applies the same literal, so the hash matches at every
    scale). Leg 2 groups by l_linenumber (base fallback) with a HAVING
    on a measure (min_cents) that is NOT in the output — the base
    route computes it for the filter and projects it away, exactly
    like ANSI HAVING over a non-selected aggregate. All values
    recomputed by the oracle with GROUP BY ... HAVING."""
    root = mv_lineitem_fixture(spark, sf_dir)
    src = table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_linestatus", "l_linenumber", _cents()
    )
    src_path = os.path.join(sf_dir, "lineitem.parquet")
    leg1, used1 = answer_aggregate(
        spark, root, src, src_path,
        group_cols=["l_returnflag"],
        aggs={"n": ("count", None), "sum_cents": ("sum", "cents")},
        having=[("sum_cents", ">", 80_000_000_000)],
    )
    leg2, used2 = answer_aggregate(
        spark, root, src, src_path,
        group_cols=["l_linenumber"],
        aggs={
            "n": ("count", None), "sum_cents": ("sum", "cents"),
            "min_cents": ("min", "cents"),
        },
        having=[("min_cents", ">", 1000)],
    )
    return leg1.select(
        F.lit("mv" if used1 == "li_flag_status" else "base").alias(
            "served_from"
        ),
        F.col("l_returnflag").cast("string").alias("grp"),
        "n", "sum_cents",
    ).unionByName(
        leg2.select(
            F.lit("base" if used2 is None else "mv").alias("served_from"),
            F.col("l_linenumber").cast("string").alias("grp"),
            "n", "sum_cents",
        )
    )


def mv_date_grain_fixture(spark, sf_dir: str) -> str:
    """A DATE-GRAIN MV over orders (round 17): sum/count partials at
    (o_orderdate, o_orderpriority) — the time-dimension base grain from
    which year/quarter/month dashboards derive without a fact scan."""

    def build(root: str) -> None:
        src = table(spark, sf_dir, "orders").select(
            "o_orderdate", "o_orderpriority",
            F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast(
                "long"
            ).alias("cents"),
        )
        create_mv(
            spark, root, name="orders_by_date",
            source_path=os.path.join(sf_dir, "orders.parquet"),
            source=src,
            group_cols=["o_orderdate", "o_orderpriority"],
            measures={
                "n": ("count", None),
                "sum_cents": ("sum", "cents"),
            },
        )

    return session_fixture("mv_date_grain", sf_dir, "orders_v1", build)


@register(
    "mv_time_hierarchy_rewrite",
    oracle="""
    WITH c AS (
      SELECT o_orderdate, o_custkey,
             CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
      FROM orders
    )
    SELECT 'mv' AS served_from,
           CAST(year(o_orderdate) AS VARCHAR) AS grp1,
           CAST(month(o_orderdate) AS VARCHAR) AS grp2,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(cents) AS BIGINT) AS sum_cents
    FROM c WHERE year(o_orderdate) >= 1995
    GROUP BY ROLLUP (year(o_orderdate), month(o_orderdate))
    UNION ALL
    SELECT 'base', CAST(CAST(floor(o_custkey / 1000) * 1000 AS BIGINT)
                        AS VARCHAR), '--',
           CAST(count(*) AS BIGINT), CAST(sum(cents) AS BIGINT)
    FROM c GROUP BY 2
    """,
)
def mv_time_hierarchy_rewrite(spark, sf_dir):
    """TIME-DIMENSION HIERARCHY served from a date-grain MV (round 17,
    plans/mv.py ``derived`` group keys): leg 1 asks for
    ``ROLLUP(year(o_orderdate), month(o_orderdate))`` FILTERED to
    year >= 1995 — the canonical BI time rollup — and every level is
    served by RE-KEYING the MV's stored date values (year/month are
    row-level functions of the o_orderdate group column, so deriving
    them over the KB summary and rolling the partials up is exact;
    the filter applies to the derived key over the partials). Leg 2
    groups by a bucket of o_custkey, which is NOT derivable from any
    MV group column, and must fall back to the base. The oracle
    recomputes both with ANSI year()/month()/ROLLUP and hardcodes the
    routing. At 100 TB this is why warehouses keep ONE date-grain
    summary instead of one per calendar level: every
    year/quarter/month dashboard derives from it for free, and the
    fact is scanned by nobody."""
    root = mv_date_grain_fixture(spark, sf_dir)
    src = table(spark, sf_dir, "orders").select(
        "o_orderdate", "o_orderpriority", "o_custkey",
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast(
            "long"
        ).alias("cents"),
    )
    src_path = os.path.join(sf_dir, "orders.parquet")
    aggs = {"n": ("count", None), "sum_cents": ("sum", "cents")}
    from ..plans.mv import answer_grouping_sets, rollup_sets

    leg1, used1 = answer_grouping_sets(
        spark, root, src, src_path,
        sets=rollup_sets(["yr", "mo"]), aggs=aggs,
        where=[("yr", ">=", 1995)],
        derived={"yr": ("year", "o_orderdate"),
                 "mo": ("month", "o_orderdate")},
    )
    leg2, used2 = answer_aggregate(
        spark, root, src, src_path,
        group_cols=["ck"], aggs=aggs,
        derived={"ck": ("bucket", "o_custkey", 1000)},
    )
    return leg1.select(
        F.lit("mv" if used1 == "orders_by_date" else "base").alias(
            "served_from"
        ),
        F.col("yr").cast("string").alias("grp1"),
        F.col("mo").cast("string").alias("grp2"),
        "n", "sum_cents",
    ).unionByName(
        leg2.select(
            F.lit("base" if used2 is None else "mv").alias("served_from"),
            F.col("ck").cast("string").alias("grp1"),
            F.lit("--").alias("grp2"),
            "n", "sum_cents",
        )
    )


def mv_live_fixture(spark, sf_dir: str) -> str:
    """LIVE-SERVE fixture (round 17): a MoR orders table with a bound
    per-priority summary — and (round 18) a second bound summary at
    the finer (priority, status) grain for the live HIERARCHY serve —
    then ONE merge (risky max delete + updates + clone inserts) with
    NO catch-up — both MVs are left genuinely STALE (the build asserts
    the plain rewrite refuses them), which is exactly the state the
    answer_*_live family exists to serve."""

    def build(root: str) -> None:
        from pyspark.sql import Window

        from ..plans.mor import init_mor, merge_into_mor, read_mor
        from ..plans.mv import answer_aggregate as _answer
        from ..plans.mv import bind_mv_to_mor

        state_root = os.path.join(root, "state")
        mv_root = os.path.join(root, "mvs")
        manifest = os.path.join(state_root, ".mor", "manifest.json")
        orders = table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_totalprice", "o_orderpriority",
            "o_orderstatus",
        )
        init_mor(
            spark, state_root, orders,
            keys=["o_orderkey"], partition_col="o_orderpriority",
        )
        cents = F.floor(
            F.col("o_totalprice") * 100 + F.lit(0.5)
        ).cast("long").alias("cents")
        src = read_mor(spark, state_root).select(
            "o_orderpriority", cents
        )
        create_mv(
            spark, mv_root, name="live_by_pri",
            source_path=manifest, source=src,
            group_cols=["o_orderpriority"],
            measures={
                "n": ("count", None), "sum_cents": ("sum", "cents"),
                "max_cents": ("max", "cents"),
            },
        )
        bind_mv_to_mor(mv_root, "live_by_pri", state_root)
        create_mv(
            spark, mv_root, name="live_by_pri_stat",
            source_path=manifest,
            source=read_mor(spark, state_root).select(
                "o_orderpriority", "o_orderstatus", cents
            ),
            group_cols=["o_orderpriority", "o_orderstatus"],
            measures={
                "n": ("count", None), "sum_cents": ("sum", "cents"),
                "max_cents": ("max", "cents"),
            },
        )
        bind_mv_to_mor(mv_root, "live_by_pri_stat", state_root)
        # round 18: a third summary for the POLICY router — the build
        # sends it through the maintain-then-serve route (leaving it
        # FRESH, so the registered query's routing is deterministic
        # however many times it re-plans in one session)
        create_mv(
            spark, mv_root, name="live_by_stat",
            source_path=manifest,
            source=read_mor(spark, state_root).select(
                "o_orderstatus", cents
            ),
            group_cols=["o_orderstatus"],
            measures={
                "n": ("count", None), "sum_cents": ("sum", "cents"),
                "max_cents": ("max", "cents"),
            },
        )
        bind_mv_to_mor(mv_root, "live_by_stat", state_root)
        # round 19: a maintained TOP-K summary on the same clock — the
        # ranked-dashboard shape (top-3 orders by cents per priority);
        # the merge below deletes 5-LOW's top row, making that group
        # RISKY for the top-k live serve's recompute leg
        from ..plans.mv_topk import create_topk_mv

        create_topk_mv(
            spark, mv_root, name="live_top_orders",
            source_path=manifest,
            source=read_mor(spark, state_root).select(
                "o_orderpriority", "o_orderkey", cents
            ),
            group_cols=["o_orderpriority"],
            order_by=[("cents", "desc"), ("o_orderkey", "desc")],
            k=3,
            payload_cols=["o_orderkey", "cents"],
        )
        bind_mv_to_mor(mv_root, "live_top_orders", state_root)

        key, pri = F.col("o_orderkey"), F.col("o_orderpriority")
        w = Window.partitionBy("o_orderpriority").orderBy(
            F.col("o_totalprice").desc(), F.col("o_orderkey").desc()
        )
        ranked = orders.withColumn("rn", F.row_number().over(w))
        is_low_max = (F.col("rn") == 1) & (pri == "5-LOW")
        batch = (
            ranked.filter(is_low_max)
            .drop("rn").withColumn("is_delete", F.lit(True))
            .unionByName(
                ranked.filter(~is_low_max & (key % 100 == 11))
                .drop("rn")
                .withColumn("o_totalprice", F.col("o_totalprice") * 1.1)
                .withColumn("is_delete", F.lit(False))
            )
            .unionByName(
                orders.filter(key % 100 == 29)
                .withColumn("o_orderkey", key + 40_000_000)
                .withColumn("o_orderpriority", F.lit("3-MEDIUM"))
                .withColumn("is_delete", F.lit(False))
            )
        )
        merge_into_mor(spark, state_root, batch)
        # the point of the fixture: NO catch-up — the MV is stale and
        # the plain rewrite must refuse it
        _, used = _answer(
            spark, mv_root,
            read_mor(spark, state_root).select("o_orderpriority", cents),
            manifest,
            group_cols=["o_orderpriority"],
            aggs={"n": ("count", None)},
        )
        assert used is None, "fixture expects a genuinely stale MV"

        # the policy router's maintain leg runs HERE (span 1 > max 0):
        # live_by_stat folds the merge and serves fresh ever after,
        # while live_by_pri / live_by_pri_stat stay deliberately stale
        from ..plans.mv import answer_aggregate_policied

        def stat_project(df):
            c = [F.col("o_orderstatus"), cents]
            if "change_type" in df.columns:
                c = [F.col("change_type")] + c
            return df.select(*c)

        _, action = answer_aggregate_policied(
            spark, mv_root, "live_by_stat", stat_project,
            group_cols=["o_orderstatus"],
            aggs={"n": ("count", None)},
            max_live_span=0,
        )
        assert action == "maintain", action

    return session_fixture("mv_live", sf_dir, "stale_v4", build)


@register(
    "mv_live_serve",
    family="mv_live",
    oracle="""
    WITH ranked AS (
      SELECT o_orderkey, o_totalprice, o_orderpriority,
             row_number() OVER (
               PARTITION BY o_orderpriority
               ORDER BY o_totalprice DESC, o_orderkey DESC) AS rn
      FROM orders
    ), final AS (
      SELECT CASE WHEN o_orderkey % 100 = 11
                  THEN floor(o_totalprice * 1.1 * 100 + 0.5)
                  ELSE floor(o_totalprice * 100 + 0.5) END AS cents,
             o_orderpriority
      FROM ranked
      WHERE NOT (rn = 1 AND o_orderpriority = '5-LOW')
      UNION ALL
      SELECT floor(o_totalprice * 100 + 0.5), '3-MEDIUM'
      FROM orders WHERE o_orderkey % 100 = 29
    )
    SELECT 'mv_delta' AS served_from, o_orderpriority,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(cents AS BIGINT)) AS BIGINT) AS sum_cents,
           CAST(max(cents) AS BIGINT) AS max_cents
    FROM final GROUP BY 2
    """,
)
def mv_live_serve(spark, sf_dir):
    """REAL-TIME serving from a STALE summary (round 17,
    plans/mv.answer_aggregate_live — the lambda-architecture serve):
    the fixture leaves the MoR-bound MV one merge behind (risky max
    delete + updates + clone inserts, no catch-up; the plain rewrite
    refuses it), and this query serves FRESH per-priority numbers by
    composing the STORED partials with the unapplied change-feed span
    lazily — the same Z-set fold maintenance publishes, minus the
    publish: the MV's manifest and data generation are byte-untouched
    by the serve. ``served_from`` pins mode 'mv_delta' (the oracle
    hardcodes it) and every value is recomputed closed-form from the
    raw table, including the recomputed max for the risky group. At
    100 TB this is the summary-plus-tail read every real-time
    dashboard wants: O(groups + unapplied span + risky probe) per
    query, maintenance batched on its own schedule, the fact scanned
    by nobody."""
    from ..plans.mor import read_mor
    from ..plans.mv import answer_aggregate_live

    root = mv_live_fixture(spark, sf_dir)
    mv_root = os.path.join(root, "mvs")
    cents = F.floor(
        F.col("o_totalprice") * 100 + F.lit(0.5)
    ).cast("long").alias("cents")

    def project(df):
        cols = [F.col("o_orderpriority"), cents]
        if "change_type" in df.columns:
            cols = [F.col("change_type")] + cols
        return df.select(*cols)

    df, mode = answer_aggregate_live(
        spark, mv_root, "live_by_pri", project,
        group_cols=["o_orderpriority"],
        aggs={
            "n": ("count", None), "sum_cents": ("sum", "cents"),
            "max_cents": ("max", "cents"),
        },
    )
    return df.select(
        F.lit(mode if mode else "base").alias("served_from"),
        "o_orderpriority", "n", "sum_cents", "max_cents",
    )


@register(
    "mv_live_hierarchy_serve",
    family="mv_live",
    oracle="""
    WITH ranked AS (
      SELECT o_orderkey, o_totalprice, o_orderpriority, o_orderstatus,
             row_number() OVER (
               PARTITION BY o_orderpriority
               ORDER BY o_totalprice DESC, o_orderkey DESC) AS rn
      FROM orders
    ), final AS (
      SELECT CASE WHEN o_orderkey % 100 = 11
                  THEN floor(o_totalprice * 1.1 * 100 + 0.5)
                  ELSE floor(o_totalprice * 100 + 0.5) END AS cents,
             o_orderpriority, o_orderstatus
      FROM ranked
      WHERE NOT (rn = 1 AND o_orderpriority = '5-LOW')
      UNION ALL
      SELECT floor(o_totalprice * 100 + 0.5), '3-MEDIUM', o_orderstatus
      FROM orders WHERE o_orderkey % 100 = 29
    )
    SELECT 'mv_delta' AS served_from, o_orderpriority, o_orderstatus,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(cents AS BIGINT)) AS BIGINT) AS sum_cents,
           CAST(max(cents) AS BIGINT) AS max_cents
    FROM final
    GROUP BY ROLLUP (o_orderpriority, o_orderstatus)
    """,
)
def mv_live_hierarchy_serve(spark, sf_dir):
    """The REAL-TIME DASHBOARD HIERARCHY (round 18,
    plans/mv.answer_grouping_sets_live): a full ROLLUP —
    (priority, status), (priority), grand total — served from a
    summary the fixture left genuinely STALE (one unapplied merge:
    risky max delete + updates + clone inserts; the plain rewrite
    refuses it), every level rolled up from ONE composed
    stored-partials ⊕ unapplied-change-feed plan. The single compose
    per REQUEST is the point: hierarchy levels can never mix source
    states (a pre-merge grand total over post-merge leaves), the exact
    analog of the pinned-manifest discipline the fresh grouping
    servers apply. ``served_from`` pins mode 'mv_delta' at EVERY level
    (the oracle hardcodes it); values are recomputed closed-form,
    including the risky group's max at every rollup level. At 100 TB:
    O(levels × (groups + unapplied span)) per dashboard refresh, the
    fact scanned only by the semi-join-pruned risky leg."""
    from ..plans.mv import answer_grouping_sets_live, rollup_sets

    root = mv_live_fixture(spark, sf_dir)
    mv_root = os.path.join(root, "mvs")
    cents = F.floor(
        F.col("o_totalprice") * 100 + F.lit(0.5)
    ).cast("long").alias("cents")

    def project(df):
        cols = [F.col("o_orderpriority"), F.col("o_orderstatus"), cents]
        if "change_type" in df.columns:
            cols = [F.col("change_type")] + cols
        return df.select(*cols)

    df, mode = answer_grouping_sets_live(
        spark, mv_root, "live_by_pri_stat", project,
        sets=rollup_sets(["o_orderpriority", "o_orderstatus"]),
        aggs={
            "n": ("count", None), "sum_cents": ("sum", "cents"),
            "max_cents": ("max", "cents"),
        },
    )
    return df.select(
        F.lit(mode if mode else "base").alias("served_from"),
        "o_orderpriority", "o_orderstatus", "n", "sum_cents",
        "max_cents",
    )


@register(
    "mv_policy_serve",
    family="mv_live",
    oracle="""
    WITH ranked AS (
      SELECT o_orderkey, o_totalprice, o_orderpriority, o_orderstatus,
             row_number() OVER (
               PARTITION BY o_orderpriority
               ORDER BY o_totalprice DESC, o_orderkey DESC) AS rn
      FROM orders
    ), final AS (
      SELECT CASE WHEN o_orderkey % 100 = 11
                  THEN floor(o_totalprice * 1.1 * 100 + 0.5)
                  ELSE floor(o_totalprice * 100 + 0.5) END AS cents,
             o_orderpriority, o_orderstatus
      FROM ranked
      WHERE NOT (rn = 1 AND o_orderpriority = '5-LOW')
      UNION ALL
      SELECT floor(o_totalprice * 100 + 0.5), '3-MEDIUM', o_orderstatus
      FROM orders WHERE o_orderkey % 100 = 29
    )
    SELECT 'live' AS served_via, o_orderpriority AS grp,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(cents AS BIGINT)) AS BIGINT) AS sum_cents,
           CAST(max(cents) AS BIGINT) AS max_cents
    FROM final GROUP BY 2
    UNION ALL
    SELECT 'mv' AS served_via, o_orderstatus AS grp,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(cents AS BIGINT)) AS BIGINT) AS sum_cents,
           CAST(max(cents) AS BIGINT) AS max_cents
    FROM final GROUP BY 2
    """,
)
def mv_policy_serve(spark, sf_dir):
    """The STALENESS-POLICY router (round 18,
    plans/mv.plan_serve_policy + answer_aggregate_policied): a
    zero-job decision from manifest metadata alone — unapplied-span
    length, sidecar delete-key count, mutation counter, compaction
    floor — picks between serving the fresh summary ('mv'), composing
    live ('live'), folding first ('maintain'), and the safe base
    aggregation ('base'). Two routings pinned here: the per-priority
    summary is one merge behind within the live thresholds → routed
    'live' (the lambda compose); the per-status summary was sent
    through the maintain route BY THE FIXTURE (span 1 > max_live_span
    0, fold asserted) and serves 'mv' ever after. Both legs' values
    are recomputed closed-form by the oracle; ``served_via`` hardcodes
    the route per leg. At 100 TB the policy is what makes lambda
    serving OPERABLE: every dashboard request affords the decision
    because it costs two JSON reads, and long spans degrade to one
    batched fold instead of re-dragging the feed tail through every
    query."""
    from ..plans.mv import answer_aggregate_policied

    root = mv_live_fixture(spark, sf_dir)
    mv_root = os.path.join(root, "mvs")
    cents = F.floor(
        F.col("o_totalprice") * 100 + F.lit(0.5)
    ).cast("long").alias("cents")
    aggs = {"n": ("count", None), "sum_cents": ("sum", "cents"),
            "max_cents": ("max", "cents")}

    def pri_project(df):
        c = [F.col("o_orderpriority"), cents]
        if "change_type" in df.columns:
            c = [F.col("change_type")] + c
        return df.select(*c)

    def stat_project(df):
        c = [F.col("o_orderstatus"), cents]
        if "change_type" in df.columns:
            c = [F.col("change_type")] + c
        return df.select(*c)

    df_pri, act_pri = answer_aggregate_policied(
        spark, mv_root, "live_by_pri", pri_project,
        group_cols=["o_orderpriority"], aggs=aggs,
    )
    df_stat, act_stat = answer_aggregate_policied(
        spark, mv_root, "live_by_stat", stat_project,
        group_cols=["o_orderstatus"], aggs=aggs,
    )
    return (
        df_pri.select(
            F.lit(act_pri).alias("served_via"),
            F.col("o_orderpriority").alias("grp"),
            "n", "sum_cents", "max_cents",
        ).unionByName(
            df_stat.select(
                F.lit(act_stat).alias("served_via"),
                F.col("o_orderstatus").alias("grp"),
                "n", "sum_cents", "max_cents",
            )
        )
    )


def mv_join_live_fixture(spark, sf_dir: str) -> str:
    """JOIN-MV live-serve fixture (round 18): a star summary
    (MoR orders fact ⋈ static customer-segment dim, grouped by
    segment × priority) bound to the fact's sequence clock, then ONE
    merge — BUILDING's max-cents row deleted (risky for that
    segment's stored max), %100==13 orders repriced, custkey %100==37
    orders cloned — with NO catch-up: the join MV is left genuinely
    STALE (build-asserted), the state the answer_join_*_live family
    serves."""

    def build(root: str) -> None:
        from pyspark.sql import Window

        from ..plans.mor import init_mor, merge_into_mor, read_mor
        from ..plans.mv import (
            answer_join_aggregate,
            bind_mv_to_mor,
            create_join_mv,
        )

        fact_root = os.path.join(root, "orders")
        dim_path = os.path.join(root, "cust_dim")
        mv_root = os.path.join(root, "mvs")
        manifest = os.path.join(fact_root, ".mor", "manifest.json")
        orders = table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_custkey", "o_totalprice",
            "o_orderpriority", "o_orderdate"
        )
        cust = table(spark, sf_dir, "customer").select(
            F.col("c_custkey").alias("o_custkey"), "c_mktsegment"
        )
        init_mor(
            spark, fact_root, orders,
            keys=["o_orderkey"], partition_col="o_orderpriority",
        )
        cust.write.parquet(dim_path)
        dim = spark.read.parquet(dim_path)

        cents = F.floor(
            F.col("o_totalprice") * 100 + F.lit(0.5)
        ).cast("long").alias("cents")
        fact_src = read_mor(spark, fact_root).select(
            "o_custkey", "o_orderpriority", cents
        )
        create_join_mv(
            spark, mv_root, name="live_seg_pri",
            fact=fact_src, fact_path=manifest,
            dims=[(dim, dim_path, ["o_custkey"])],
            group_cols=["c_mktsegment", "o_orderpriority"],
            measures={
                "n": ("count", None), "sum_cents": ("sum", "cents"),
                "max_cents": ("max", "cents"),
            },
        )
        bind_mv_to_mor(mv_root, "live_seg_pri", fact_root)
        # round-19: a DATE-GRAIN star summary bound to the same clock —
        # the live time-dimension hierarchy (derived year() re-keying
        # over a stale join MV) serves from this one
        fact_date = read_mor(spark, fact_root).select(
            "o_custkey", "o_orderdate", cents
        )
        create_join_mv(
            spark, mv_root, name="live_date_seg",
            fact=fact_date, fact_path=manifest,
            dims=[(dim, dim_path, ["o_custkey"])],
            group_cols=["o_orderdate", "c_mktsegment"],
            measures={
                "n": ("count", None), "sum_cents": ("sum", "cents"),
                "max_cents": ("max", "cents"),
            },
        )
        bind_mv_to_mor(mv_root, "live_date_seg", fact_root)

        key = F.col("o_orderkey")
        joined = orders.withColumn(
            "cents",
            F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast(
                "long"
            ),
        ).join(dim, "o_custkey")
        w = Window.partitionBy("c_mktsegment").orderBy(
            F.col("cents").desc(), F.col("o_orderkey").desc()
        )
        ranked = joined.withColumn("rn", F.row_number().over(w))
        is_bmax = (F.col("rn") == 1) & (
            F.col("c_mktsegment") == "BUILDING"
        )
        batch = (
            ranked.filter(is_bmax)
            .select(*orders.columns)
            .withColumn("is_delete", F.lit(True))
            .unionByName(
                ranked.filter(~is_bmax & (key % 100 == 13))
                .select(*orders.columns)
                .withColumn("o_totalprice", F.col("o_totalprice") * 1.1)
                .withColumn("is_delete", F.lit(False))
            )
            .unionByName(
                orders.filter(F.col("o_custkey") % 100 == 37)
                .withColumn("o_orderkey", key + 30_000_000)
                .withColumn("is_delete", F.lit(False))
            )
        )
        merge_into_mor(spark, fact_root, batch)
        # NO catch-up: the plain join rewrite must refuse the MV
        src_now = read_mor(spark, fact_root).select(
            "o_custkey", "o_orderpriority", cents
        )
        _, used = answer_join_aggregate(
            spark, mv_root, src_now, manifest,
            [(dim, dim_path, ["o_custkey"])],
            group_cols=["c_mktsegment"],
            aggs={"n": ("count", None)},
        )
        assert used is None, "fixture expects a genuinely stale join MV"
        date_now = read_mor(spark, fact_root).select(
            "o_custkey", "o_orderdate", cents
        )
        _, used = answer_join_aggregate(
            spark, mv_root, date_now, manifest,
            [(dim, dim_path, ["o_custkey"])],
            group_cols=["o_orderdate"],
            aggs={"n": ("count", None)},
        )
        assert used is None, "date-grain join MV must be stale too"

    return session_fixture("mv_join_live", sf_dir, "stale_v2", build)


_JOIN_LIVE_FACT_NEW_SQL = """
    WITH cents0 AS (
      SELECT o_orderkey, o_custkey, o_orderpriority,
             CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents,
             CAST(floor(o_totalprice * 1.1 * 100 + 0.5) AS BIGINT)
               AS cents_u
      FROM orders
    ), ranked AS (
      SELECT o.o_orderkey, c.c_mktsegment AS seg0,
             row_number() OVER (
               PARTITION BY c.c_mktsegment
               ORDER BY o.cents DESC, o.o_orderkey DESC) AS rn
      FROM cents0 o JOIN customer c ON o.o_custkey = c.c_custkey
    ), dkey AS (
      SELECT o_orderkey FROM ranked
      WHERE rn = 1 AND seg0 = 'BUILDING'
    ), fact_new AS (
      SELECT o_custkey, o_orderpriority,
             CASE WHEN o_orderkey % 100 = 13 THEN cents_u
                  ELSE cents END AS cents
      FROM cents0
      WHERE o_orderkey NOT IN (SELECT o_orderkey FROM dkey)
      UNION ALL
      SELECT o_custkey, o_orderpriority, cents FROM cents0
      WHERE o_custkey % 100 = 37
    )
"""


def _join_live_serve_df(spark, sf_dir, server, out_cols, **spec):
    """Shared body for the join live-serve queries: resolve the
    fixture, run the given answer_join_*_live server over the stale
    summary with the grouping ``spec`` (``group_cols=`` or ``sets=``),
    stamp the mode and select the group columns ``out_cols``."""
    root = mv_join_live_fixture(spark, sf_dir)
    mv_root = os.path.join(root, "mvs")
    # schema-cached dim read: re-planning constructs zero jobs
    dim = read_dir(spark, os.path.join(root, "cust_dim"))
    cents = F.floor(
        F.col("o_totalprice") * 100 + F.lit(0.5)
    ).cast("long").alias("cents")

    def fact_project(df):
        cols = [F.col("o_custkey"), F.col("o_orderpriority"), cents]
        if "change_type" in df.columns:
            cols = [F.col("change_type")] + cols
        return df.select(*cols)

    df, mode = server(
        spark, mv_root, "live_seg_pri", fact_project,
        [(dim, ["o_custkey"])],
        aggs={
            "n": ("count", None), "sum_cents": ("sum", "cents"),
            "max_cents": ("max", "cents"),
        },
        **spec,
    )
    return df.select(
        F.lit(mode if mode else "base").alias("served_from"),
        *out_cols, "n", "sum_cents", "max_cents",
    )


@register(
    "mv_join_live_serve",
    family="mv_live",
    oracle=_JOIN_LIVE_FACT_NEW_SQL + """
    SELECT 'mv_delta' AS served_from,
           CAST(c_mktsegment AS VARCHAR) AS c_mktsegment,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(cents) AS BIGINT) AS sum_cents,
           CAST(max(cents) AS BIGINT) AS max_cents
    FROM fact_new JOIN customer ON o_custkey = c_custkey
    GROUP BY 2
    """,
)
def mv_join_live_serve(spark, sf_dir):
    """REAL-TIME serving from a STALE star-join summary (round 17's
    pytest-pinned answer_join_aggregate_live promoted to the driver
    surface): the fixture leaves the segment×priority join MV one
    merge behind (risky BUILDING-max delete + repricing + clone
    inserts, no catch-up; the plain join rewrite refuses it), and this
    query serves FRESH per-segment rollups by composing the STORED
    partials with the unapplied fact span's JOIN-VIEW delta lazily
    (star_join_delta over the change feed, the table's own time travel
    as the pre-state probe) — MV files byte-untouched. ``served_from``
    pins mode 'mv_delta'; the oracle recomputes every value from the
    raw tables, the risky segment's max included. At 100 TB the fact's
    history is re-joined by NOBODY: O(groups + span·fanout + pruned
    risky probe) per query."""
    from ..plans.mv import answer_join_aggregate_live

    return _join_live_serve_df(
        spark, sf_dir, answer_join_aggregate_live, ["c_mktsegment"],
        group_cols=["c_mktsegment"],
    )


@register(
    "mv_join_live_hierarchy_serve",
    family="mv_live",
    oracle=_JOIN_LIVE_FACT_NEW_SQL + """
    SELECT 'mv_delta' AS served_from,
           CAST(c_mktsegment AS VARCHAR) AS c_mktsegment,
           o_orderpriority,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(cents) AS BIGINT) AS sum_cents,
           CAST(max(cents) AS BIGINT) AS max_cents
    FROM fact_new JOIN customer ON o_custkey = c_custkey
    GROUP BY ROLLUP (c_mktsegment, o_orderpriority)
    """,
)
def mv_join_live_hierarchy_serve(spark, sf_dir):
    """The STAR-JOIN dashboard hierarchy on FRESH data (round 18,
    plans/mv.answer_join_grouping_sets_live): a full ROLLUP —
    (segment, priority), (segment), grand total — served from a STALE
    MoR-bound join MV, every level rolled up from ONE composed
    stored-partials ⊕ unapplied-join-view-delta plan (one manifest
    pin, one feed cut, one star_join_delta per REQUEST — levels can
    never mix source states). ``served_from`` pins mode 'mv_delta' at
    EVERY level; the oracle recomputes the whole hierarchy closed-form
    from the raw tables, the risky BUILDING max at each level
    included. This composes the two round-17 capstones — join-MV
    grouping constructs and lambda serving — exactly as the round-17
    verdict's Next #1 prescribed."""
    from ..plans.mv import answer_join_grouping_sets_live, rollup_sets

    cols = ["c_mktsegment", "o_orderpriority"]
    return _join_live_serve_df(
        spark, sf_dir, answer_join_grouping_sets_live, cols,
        sets=rollup_sets(cols),
    )


def mv_join_advisor_fixture(spark, sf_dir: str) -> str:
    """JOIN-AWARE advisor fixture (round 18,
    plans/mv_advisor.advise_mvs_workload): a mixed three-request
    dashboard workload — two STAR requests over orders ⋈ customer
    (per-segment volume; per-priority average filtered by segment)
    carrying their topology, plus one plain fact rollup — folds to
    exactly TWO advised specs: ONE join MV at (c_mktsegment,
    o_orderpriority) covering both star requests (the avg pair
    subsumes the sum) and one single-table MV for the plain request
    (the rewriter refuses cross-topology serving, so the advisor must
    too). One approx_count_distinct job over the joined source prices
    the join spec; create_advised_join_mvs materializes it. All
    claims asserted at build."""

    def build(root: str) -> None:
        from ..plans.mv_advisor import (
            advise_mvs_workload,
            create_advised_join_mvs,
            create_advised_mvs,
            estimate_mv_sizes,
        )

        fact_path = os.path.join(sf_dir, "orders.parquet")
        dim_path = os.path.join(root, "cust_dim")
        cents = F.floor(
            F.col("o_totalprice") * 100 + F.lit(0.5)
        ).cast("long").alias("cents")
        orders = table(spark, sf_dir, "orders").select(
            "o_custkey", "o_orderpriority", cents
        )
        cust = table(spark, sf_dir, "customer").select(
            F.col("c_custkey").alias("o_custkey"), "c_mktsegment"
        )
        cust.write.parquet(dim_path)
        dim = spark.read.parquet(dim_path)
        topo = {"fact_path": fact_path,
                "dims": [(dim_path, ["o_custkey"])]}
        workload = [
            {"topology": topo, "group_cols": ["c_mktsegment"],
             "aggs": {"n": ("count", None),
                      "sum_cents": ("sum", "cents")}},
            {"topology": topo, "group_cols": ["o_orderpriority"],
             "where_cols": ["c_mktsegment"],
             "aggs": {"avg_cents": ("avg", "cents")}},
            {"group_cols": ["o_orderpriority"],
             "aggs": {"n": ("count", None)}},
        ]
        advised = advise_mvs_workload(workload)
        plain = [a for a in advised if a.get("kind") != "join"]
        joins = [a for a in advised if a.get("kind") == "join"]
        assert len(plain) == 1 and plain[0]["covers"] == [2], advised
        assert len(joins) == 1 and joins[0]["covers"] == [0, 1], advised
        assert joins[0]["group_cols"] == [
            "c_mktsegment", "o_orderpriority"
        ]
        assert joins[0]["fact_path"] == fact_path
        # the same ONE-job pricing, over the joined source
        est = estimate_mv_sizes(spark, orders.join(dim, "o_custkey"),
                                joins)
        assert est[0]["n_groups_est"] >= 1
        create_advised_mvs(
            spark, root, source_path=fact_path, source=orders,
            advised=plain,
        )
        create_advised_join_mvs(
            spark, root, fact=orders,
            dims=[(dim, dim_path, ["o_custkey"])], advised=joins,
        )

    return session_fixture("mv_join_advisor", sf_dir, "star_v1", build)


@register(
    "mv_join_advisor_workload",
    oracle="""
    WITH c AS (
      SELECT o_custkey, o_orderpriority,
             CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
      FROM orders
    )
    SELECT 'mv' AS served_from, c_mktsegment AS grp,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(cents) AS BIGINT) AS sum_cents,
           CAST(NULL AS DOUBLE) AS avg_cents
    FROM c JOIN customer ON o_custkey = c_custkey GROUP BY 2
    UNION ALL
    SELECT 'mv', o_orderpriority, CAST(NULL AS BIGINT),
           CAST(NULL AS BIGINT),
           CAST(sum(cents) AS DOUBLE) / count(cents)
    FROM c JOIN customer ON o_custkey = c_custkey
    WHERE c_mktsegment = 'BUILDING' GROUP BY 2
    UNION ALL
    SELECT 'mv', o_orderpriority, CAST(count(*) AS BIGINT),
           CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE)
    FROM c GROUP BY 2
    """,
)
def mv_join_advisor_workload(spark, sf_dir):
    """JOIN-AWARE MV advisor end to end (round 18,
    plans/mv_advisor.advise_mvs_workload — the physical-design loop
    extended to star schemas): the fixture folds a mixed workload
    (two star requests sharing one topology + one plain fact rollup)
    into ONE advised join MV plus one single-table MV, prices the
    join spec with the same one-job estimator over the joined source,
    and materializes both; this query then issues all three original
    requests through the rewriters and pins the routing — BOTH star
    requests route to the SAME advised join MV (leg 2 with its
    segment predicate applied to the stored partials), the plain
    request to the single-table MV (never the join MV: the rewriter
    refuses cross-topology serving, and the advisor mirrors exactly
    that judgment). Values recomputed closed-form by the oracle. At
    100 TB this designs the star-summary layer before paying a single
    fact ⋈ dims shuffle: N dashboard queries, one stored join
    rollup."""
    from ..plans.mv import answer_join_aggregate

    root = mv_join_advisor_fixture(spark, sf_dir)
    fact_path = os.path.join(sf_dir, "orders.parquet")
    dim_path = os.path.join(root, "cust_dim")
    # schema-cached dim read: re-planning constructs zero jobs
    dim = read_dir(spark, dim_path)
    cents = F.floor(
        F.col("o_totalprice") * 100 + F.lit(0.5)
    ).cast("long").alias("cents")
    orders = table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderpriority", cents
    )
    dims = [(dim, dim_path, ["o_custkey"])]
    leg1, used1 = answer_join_aggregate(
        spark, root, orders, fact_path, dims,
        group_cols=["c_mktsegment"],
        aggs={"n": ("count", None), "sum_cents": ("sum", "cents")},
    )
    leg2, used2 = answer_join_aggregate(
        spark, root, orders, fact_path, dims,
        group_cols=["o_orderpriority"],
        aggs={"avg_cents": ("avg", "cents")},
        where=[("c_mktsegment", "=", "BUILDING")],
    )
    leg3, used3 = answer_aggregate(
        spark, root, orders, fact_path,
        group_cols=["o_orderpriority"],
        aggs={"n": ("count", None)},
    )
    return leg1.select(
        F.lit("mv" if used1 == "advised_join_0" else "base").alias(
            "served_from"
        ),
        F.col("c_mktsegment").alias("grp"),
        "n", "sum_cents",
        F.lit(None).cast("double").alias("avg_cents"),
    ).unionByName(
        leg2.select(
            F.lit("mv" if used2 == "advised_join_0" else "base").alias(
                "served_from"
            ),
            F.col("o_orderpriority").alias("grp"),
            F.lit(None).cast("long").alias("n"),
            F.lit(None).cast("long").alias("sum_cents"),
            "avg_cents",
        )
    ).unionByName(
        leg3.select(
            F.lit("mv" if used3 == "advised_0" else "base").alias(
                "served_from"
            ),
            F.col("o_orderpriority").alias("grp"),
            "n",
            F.lit(None).cast("long").alias("sum_cents"),
            F.lit(None).cast("double").alias("avg_cents"),
        )
    )


@register(
    "mv_snapshot_read",
    family="mv_live",
    oracle="""
    WITH ranked AS (
      SELECT o_orderkey, o_totalprice, o_orderpriority, o_orderstatus,
             row_number() OVER (
               PARTITION BY o_orderpriority
               ORDER BY o_totalprice DESC, o_orderkey DESC) AS rn
      FROM orders
    ), final AS (
      SELECT CASE WHEN o_orderkey % 100 = 11
                  THEN floor(o_totalprice * 1.1 * 100 + 0.5)
                  ELSE floor(o_totalprice * 100 + 0.5) END AS cents,
             o_orderpriority, o_orderstatus
      FROM ranked
      WHERE NOT (rn = 1 AND o_orderpriority = '5-LOW')
      UNION ALL
      SELECT floor(o_totalprice * 100 + 0.5), '3-MEDIUM', o_orderstatus
      FROM orders WHERE o_orderkey % 100 = 29
    )
    SELECT 'mv_delta' AS served_from, CAST(1 AS BIGINT) AS boundary,
           o_orderpriority AS grp,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(cents AS BIGINT)) AS BIGINT) AS sum_cents
    FROM final GROUP BY 3
    UNION ALL
    SELECT 'mv' AS served_from, CAST(1 AS BIGINT) AS boundary,
           o_orderstatus AS grp,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(cents AS BIGINT)) AS BIGINT) AS sum_cents
    FROM final GROUP BY 3
    """,
)
def mv_snapshot_read(spark, sf_dir):
    """CONSISTENT MULTI-MV DASHBOARD READ (round 18,
    plans/mv.read_mvs_snapshot — the summary-layer analog of
    merge_txn_snapshot_read): two summaries of ONE MoR orders table —
    the per-priority MV a merge behind, the per-status MV caught up by
    the fixture's maintain route — are read under ONE snapshot: reader
    leases pin every touched generation plus the table, ONE manifest
    read pins the sequence boundary (seq 1, the fixture's single
    merge), and each panel serves AT that boundary: the stale panel
    composes its stored partials with the feed span cut EXACTLY to the
    boundary ('mv_delta'), the fresh panel serves its stored partials
    ('mv') — and both, by construction, equal the SAME closed-form
    post-merge state the oracle recomputes. Without the snapshot, each
    panel would fingerprint independently and a mid-dashboard publish
    could split them across states. At 100 TB: the pin costs N+1 JSON
    reads and zero data work; panels stay O(groups + span)."""
    from ..plans.mv import read_mvs_snapshot

    root = mv_live_fixture(spark, sf_dir)
    mv_root = os.path.join(root, "mvs")
    cents = F.floor(
        F.col("o_totalprice") * 100 + F.lit(0.5)
    ).cast("long").alias("cents")

    def proj(col):
        def project(df):
            c = [F.col(col), cents]
            if "change_type" in df.columns:
                c = [F.col("change_type")] + c
            return df.select(*c)
        return project

    projects = {"live_by_pri": proj("o_orderpriority"),
                "live_by_stat": proj("o_orderstatus")}
    aggs = {"n": ("count", None), "sum_cents": ("sum", "cents")}
    with read_mvs_snapshot(
        spark, mv_root, ["live_by_pri", "live_by_stat"], projects
    ) as snap:
        df_pri, mode_pri = snap.aggregate(
            "live_by_pri", group_cols=["o_orderpriority"], aggs=aggs
        )
        df_stat, mode_stat = snap.aggregate(
            "live_by_stat", group_cols=["o_orderstatus"], aggs=aggs
        )
        boundary = snap.boundary_seq
    return df_pri.select(
        F.lit(mode_pri if mode_pri else "base").alias("served_from"),
        F.lit(boundary).cast("long").alias("boundary"),
        F.col("o_orderpriority").alias("grp"),
        "n", "sum_cents",
    ).unionByName(
        df_stat.select(
            F.lit(mode_stat if mode_stat else "base").alias(
                "served_from"
            ),
            F.lit(boundary).cast("long").alias("boundary"),
            F.col("o_orderstatus").alias("grp"),
            "n", "sum_cents",
        )
    )


@register(
    "mv_join_policy_serve",
    family="mv_live",
    oracle=_JOIN_LIVE_FACT_NEW_SQL + """
    SELECT 'live' AS served_via,
           CAST(c_mktsegment AS VARCHAR) AS c_mktsegment,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(cents) AS BIGINT) AS sum_cents,
           CAST(max(cents) AS BIGINT) AS max_cents
    FROM fact_new JOIN customer ON o_custkey = c_custkey
    GROUP BY 2
    """,
)
def mv_join_policy_serve(spark, sf_dir):
    """The staleness-policy router on a STAR summary (round 18,
    plans/mv.answer_join_aggregate_policied — the join sibling of
    mv_policy_serve, closing the plain/join policy matrix): the same
    zero-job manifest-only decision (the policy never looks at data,
    so it is kind-agnostic) executed with the join verbs. The fixture's
    segment×priority join MV is one merge behind within the live
    thresholds, so the router picks 'live' and the serve composes the
    stored partials with the unapplied fact span's join-view delta —
    read-only, deterministic however many times it re-plans.
    ``served_via`` pins the route; the oracle recomputes the
    post-merge star join closed-form, the risky BUILDING max included.
    The maintain and base routes are pytest-pinned
    (test_join_policy_router_full_matrix) — they write, and a
    registered query must not mutate its session fixture."""
    from ..plans.mv import answer_join_aggregate_policied

    root = mv_join_live_fixture(spark, sf_dir)
    mv_root = os.path.join(root, "mvs")
    dim = read_dir(spark, os.path.join(root, "cust_dim"))
    cents = F.floor(
        F.col("o_totalprice") * 100 + F.lit(0.5)
    ).cast("long").alias("cents")

    def fact_project(df):
        cols = [F.col("o_custkey"), F.col("o_orderpriority"), cents]
        if "change_type" in df.columns:
            cols = [F.col("change_type")] + cols
        return df.select(*cols)

    df, action = answer_join_aggregate_policied(
        spark, mv_root, "live_seg_pri", fact_project,
        [(dim, ["o_custkey"])],
        group_cols=["c_mktsegment"],
        aggs={"n": ("count", None), "sum_cents": ("sum", "cents"),
              "max_cents": ("max", "cents")},
    )
    return df.select(
        F.lit(action).alias("served_via"),
        "c_mktsegment", "n", "sum_cents", "max_cents",
    )


def mv_join_date_fixture(spark, sf_dir: str) -> str:
    """A DATE-GRAIN star-join MV (round 19): orders ⋈ customer ⋈
    nation rolled up to (o_orderdate, n_name) with count/sum partials
    — the time-dimension base grain for the JOIN family, from which
    year/quarter/month dashboards over the star derive without
    re-running the join."""

    def build(root: str) -> None:
        from ..plans.mv import create_join_mv

        fact = table(spark, sf_dir, "orders").select(
            "o_custkey", "o_orderdate",
            F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast(
                "long"
            ).alias("cents"),
        )
        dim_c = table(spark, sf_dir, "customer").select(
            F.col("c_custkey").alias("o_custkey"), "c_nationkey"
        )
        dim_n = table(spark, sf_dir, "nation").select(
            F.col("n_nationkey").alias("c_nationkey"), "n_name"
        )
        create_join_mv(
            spark, root, name="rev_date_nation",
            fact=fact,
            fact_path=os.path.join(sf_dir, "orders.parquet"),
            dims=[
                (dim_c, os.path.join(sf_dir, "customer.parquet"),
                 ["o_custkey"]),
                (dim_n, os.path.join(sf_dir, "nation.parquet"),
                 ["c_nationkey"]),
            ],
            group_cols=["o_orderdate", "n_name"],
            measures={
                "n": ("count", None),
                "sum_cents": ("sum", "cents"),
            },
        )

    return session_fixture(
        "mv_join_date", sf_dir, "date_nation_v1", build
    )


@register(
    "mv_join_time_hierarchy_rewrite",
    oracle="""
    WITH j AS (
      SELECT o_orderdate, n_name, o_custkey,
             CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
      FROM orders
      JOIN customer ON o_custkey = c_custkey
      JOIN nation ON c_nationkey = n_nationkey
    )
    SELECT 'mv' AS served_from,
           CAST(year(o_orderdate) AS VARCHAR) AS grp1,
           CAST(n_name AS VARCHAR) AS grp2,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(cents) AS BIGINT) AS sum_cents
    FROM j WHERE year(o_orderdate) >= 1995
    GROUP BY ROLLUP (year(o_orderdate), n_name)
    UNION ALL
    SELECT 'base', CAST(CAST(floor(o_custkey / 1000) * 1000 AS BIGINT)
                        AS VARCHAR), '--',
           CAST(count(*) AS BIGINT), CAST(sum(cents) AS BIGINT)
    FROM j GROUP BY 2
    """,
)
def mv_join_time_hierarchy_rewrite(spark, sf_dir):
    """TIME-DIMENSION HIERARCHY over a STAR JOIN served from a
    date-grain join MV (round 19 — the join sibling of round 17's
    mv_time_hierarchy_rewrite, promoting the post-r18 ``derived=``
    join-family machinery to the driver surface): leg 1 asks for
    ``ROLLUP(year(o_orderdate), n_name)`` FILTERED to year >= 1995
    over orders ⋈ customer ⋈ nation — every level served by RE-KEYING
    the join MV's stored date values (year is a row-level function of
    the o_orderdate group column; deriving it over the KB summary and
    rolling the partials up is exact, and the filter applies to the
    derived key over the partials — the star join re-run by nobody).
    Leg 2 groups by a bucket of o_custkey, which no MV group column
    derives, and must fall back to the base star join. The oracle
    recomputes both with ANSI year()/ROLLUP over the same join and
    hardcodes the routing. At 100 TB this is ONE date-grain star
    summary answering every calendar-level dashboard over the join —
    the fact-side shuffle and both dim joins paid once at
    materialization, never per request."""
    from ..plans.mv import (
        answer_join_aggregate,
        answer_join_grouping_sets,
        rollup_sets,
    )

    root = mv_join_date_fixture(spark, sf_dir)
    fact = table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderdate",
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast(
            "long"
        ).alias("cents"),
    )
    dim_c = table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_nationkey"
    )
    dim_n = table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("c_nationkey"), "n_name"
    )
    dims = [
        (dim_c, os.path.join(sf_dir, "customer.parquet"),
         ["o_custkey"]),
        (dim_n, os.path.join(sf_dir, "nation.parquet"),
         ["c_nationkey"]),
    ]
    fact_path = os.path.join(sf_dir, "orders.parquet")
    aggs = {"n": ("count", None), "sum_cents": ("sum", "cents")}
    leg1, used1 = answer_join_grouping_sets(
        spark, root, fact, fact_path, dims,
        sets=rollup_sets(["yr", "n_name"]), aggs=aggs,
        where=[("yr", ">=", 1995)],
        derived={"yr": ("year", "o_orderdate")},
    )
    leg2, used2 = answer_join_aggregate(
        spark, root, fact, fact_path, dims,
        group_cols=["ck"], aggs=aggs,
        derived={"ck": ("bucket", "o_custkey", 1000)},
    )
    return leg1.select(
        F.lit("mv" if used1 == "rev_date_nation" else "base").alias(
            "served_from"
        ),
        F.col("yr").cast("string").alias("grp1"),
        F.col("n_name").cast("string").alias("grp2"),
        "n", "sum_cents",
    ).unionByName(
        leg2.select(
            F.lit("base" if used2 is None else "mv").alias(
                "served_from"
            ),
            F.col("ck").cast("string").alias("grp1"),
            F.lit("--").alias("grp2"),
            "n", "sum_cents",
        )
    )


_JOIN_LIVE_DATE_FACT_NEW_SQL = """
    WITH cents0 AS (
      SELECT o_orderkey, o_custkey, o_orderdate,
             CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents,
             CAST(floor(o_totalprice * 1.1 * 100 + 0.5) AS BIGINT)
               AS cents_u
      FROM orders
    ), ranked AS (
      SELECT o.o_orderkey, c.c_mktsegment AS seg0,
             row_number() OVER (
               PARTITION BY c.c_mktsegment
               ORDER BY o.cents DESC, o.o_orderkey DESC) AS rn
      FROM cents0 o JOIN customer c ON o.o_custkey = c.c_custkey
    ), dkey AS (
      SELECT o_orderkey FROM ranked
      WHERE rn = 1 AND seg0 = 'BUILDING'
    ), fact_new AS (
      SELECT o_custkey, o_orderdate,
             CASE WHEN o_orderkey % 100 = 13 THEN cents_u
                  ELSE cents END AS cents
      FROM cents0
      WHERE o_orderkey NOT IN (SELECT o_orderkey FROM dkey)
      UNION ALL
      SELECT o_custkey, o_orderdate, cents FROM cents0
      WHERE o_custkey % 100 = 37
    )
"""


@register(
    "mv_join_time_hierarchy_live",
    family="mv_live",
    oracle=_JOIN_LIVE_DATE_FACT_NEW_SQL + """
    SELECT 'mv_delta' AS served_from,
           CAST(year(o_orderdate) AS VARCHAR) AS grp1,
           CAST(c_mktsegment AS VARCHAR) AS grp2,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(cents) AS BIGINT) AS sum_cents,
           CAST(max(cents) AS BIGINT) AS max_cents
    FROM fact_new JOIN customer ON o_custkey = c_custkey
    GROUP BY ROLLUP (year(o_orderdate), c_mktsegment)
    """,
)
def mv_join_time_hierarchy_live(spark, sf_dir):
    """The TIME hierarchy over a star join on FRESH data (round 19 —
    the live sibling of mv_join_time_hierarchy_rewrite, composing
    derived group keys with the join lambda serve): the fixture's
    date×segment join MV is one merge behind (risky BUILDING-max
    delete + repricing + clone inserts, no catch-up), and this query
    serves ``ROLLUP(year(o_orderdate), c_mktsegment)`` by composing
    the STORED date-grain partials with the unapplied fact span's
    join-view delta lazily, then RE-KEYING every level through the
    derived year — one manifest pin, one feed cut, one
    star_join_delta per request (the compose localCheckpoints so the
    three levels share one physical execution). ``served_from`` pins
    mode 'mv_delta' at every level; the oracle recomputes the whole
    hierarchy closed-form from the raw tables, the risky max at each
    level included."""
    from ..plans.mv import answer_join_grouping_sets_live, rollup_sets

    root = mv_join_live_fixture(spark, sf_dir)
    mv_root = os.path.join(root, "mvs")
    dim = read_dir(spark, os.path.join(root, "cust_dim"))
    cents = F.floor(
        F.col("o_totalprice") * 100 + F.lit(0.5)
    ).cast("long").alias("cents")

    def fact_project(df):
        cols = [F.col("o_custkey"), F.col("o_orderdate"), cents]
        if "change_type" in df.columns:
            cols = [F.col("change_type")] + cols
        return df.select(*cols)

    df, mode = answer_join_grouping_sets_live(
        spark, mv_root, "live_date_seg", fact_project,
        [(dim, ["o_custkey"])],
        sets=rollup_sets(["yr", "c_mktsegment"]),
        aggs={
            "n": ("count", None), "sum_cents": ("sum", "cents"),
            "max_cents": ("max", "cents"),
        },
        derived={"yr": ("year", "o_orderdate")},
    )
    return df.select(
        F.lit(mode if mode else "base").alias("served_from"),
        F.col("yr").cast("string").alias("grp1"),
        F.col("c_mktsegment").cast("string").alias("grp2"),
        "n", "sum_cents", "max_cents",
    )


@register(
    "mv_policy_fleet_serve",
    family="mv_live",
    oracle="""
    WITH ranked AS (
      SELECT o_orderkey, o_totalprice, o_orderpriority, o_orderstatus,
             row_number() OVER (
               PARTITION BY o_orderpriority
               ORDER BY o_totalprice DESC, o_orderkey DESC) AS rn
      FROM orders
    ), final AS (
      SELECT CASE WHEN o_orderkey % 100 = 11
                  THEN floor(o_totalprice * 1.1 * 100 + 0.5)
                  ELSE floor(o_totalprice * 100 + 0.5) END AS cents,
             o_orderpriority, o_orderstatus
      FROM ranked
      WHERE NOT (rn = 1 AND o_orderpriority = '5-LOW')
      UNION ALL
      SELECT floor(o_totalprice * 100 + 0.5), '3-MEDIUM', o_orderstatus
      FROM orders WHERE o_orderkey % 100 = 29
    )
    SELECT 'live' AS route_cold, 'maintain' AS route_hot,
           o_orderpriority,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(cents AS BIGINT)) AS BIGINT) AS sum_cents,
           CAST(max(cents) AS BIGINT) AS max_cents
    FROM final GROUP BY 3
    """,
)
def mv_policy_fleet_serve(spark, sf_dir):
    """WORKLOAD-RATE-aware policy routing (round 19,
    plans/mv.plan_serve_policy ``expected_requests`` + the
    SERVE_COST_MODEL economics): the SAME staleness state — the
    fixture's per-priority summary one merge behind, within every
    mechanical live threshold — routes DIFFERENTLY by request
    frequency. A cold dashboard (1 expected request before the next
    maintenance point) serves live: one compose is cheaper than a fold
    plus a serve. A fleet dashboard (400 requests) routes maintain:
    400 × live-compose re-drags the unapplied span 400 times, while
    one fold amortizes to 400 × summary reads (measured basis: live
    7.26 s/request vs maintain once 7.6 s then 0.36 s/request — 20× at
    fleet rates). Both decisions are pinned as columns (the decision
    is ZERO-JOB manifest metadata, so pinning it costs two JSON
    reads); the values are served through the read-only live compose —
    a registered query must not mutate its session fixture, and the
    maintain EXECUTION path is pytest-pinned
    (test_serve_policy_workload_economics). The oracle recomputes the
    post-merge values closed-form and hardcodes both routes."""
    from ..plans.mv import answer_aggregate_live, plan_serve_policy

    root = mv_live_fixture(spark, sf_dir)
    mv_root = os.path.join(root, "mvs")
    pol_cold = plan_serve_policy(
        mv_root, "live_by_pri", expected_requests=1
    )
    pol_hot = plan_serve_policy(
        mv_root, "live_by_pri", expected_requests=400
    )
    cents = F.floor(
        F.col("o_totalprice") * 100 + F.lit(0.5)
    ).cast("long").alias("cents")

    def project(df):
        cols = [F.col("o_orderpriority"), cents]
        if "change_type" in df.columns:
            cols = [F.col("change_type")] + cols
        return df.select(*cols)

    df, mode = answer_aggregate_live(
        spark, mv_root, "live_by_pri", project,
        group_cols=["o_orderpriority"],
        aggs={
            "n": ("count", None), "sum_cents": ("sum", "cents"),
            "max_cents": ("max", "cents"),
        },
    )
    assert mode == "mv_delta", mode
    return df.select(
        F.lit(pol_cold["action"]).alias("route_cold"),
        F.lit(pol_hot["action"]).alias("route_hot"),
        "o_orderpriority", "n", "sum_cents", "max_cents",
    )


def mv_topk_fixture(spark, sf_dir: str) -> str:
    """A maintained TOP-K MV (round 19, plans/mv_topk.py): the top-3
    orders by integer cents per o_orderpriority, stored as O(groups×k)
    ranked rows under the total order (cents desc, o_orderkey desc)."""

    def build(root: str) -> None:
        from ..plans.mv_topk import create_topk_mv

        src = table(spark, sf_dir, "orders").select(
            "o_orderpriority", "o_orderkey",
            F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast(
                "long"
            ).alias("cents"),
        )
        create_topk_mv(
            spark, root, name="top_orders",
            source_path=os.path.join(sf_dir, "orders.parquet"),
            source=src,
            group_cols=["o_orderpriority"],
            order_by=[("cents", "desc"), ("o_orderkey", "desc")],
            k=3,
            payload_cols=["o_orderkey", "cents"],
        )

    return session_fixture("mv_topk", sf_dir, "top_orders_v1", build)


@register(
    "mv_topk_rewrite",
    oracle="""
    WITH c AS (
      SELECT o_orderkey, o_orderpriority, o_orderstatus,
             CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
      FROM orders
    )
    SELECT 'mv' AS served_from, o_orderpriority AS grp,
           CAST(o_orderkey AS BIGINT) AS o_orderkey, cents
    FROM (SELECT *, row_number() OVER (
            PARTITION BY o_orderpriority
            ORDER BY cents DESC, o_orderkey DESC) AS rn FROM c)
    WHERE rn <= 3
    UNION ALL
    SELECT 'mv', '--', CAST(o_orderkey AS BIGINT), cents
    FROM (SELECT *, row_number() OVER (
            ORDER BY cents DESC, o_orderkey DESC) AS rn FROM c)
    WHERE rn <= 3
    UNION ALL
    SELECT 'base', o_orderstatus, CAST(o_orderkey AS BIGINT), cents
    FROM (SELECT *, row_number() OVER (
            PARTITION BY o_orderstatus
            ORDER BY cents DESC, o_orderkey DESC) AS rn FROM c)
    WHERE rn <= 3
    """,
)
def mv_topk_rewrite(spark, sf_dir):
    """TOP-K served from a maintained ranked summary (round 19,
    plans/mv_topk.answer_topk — dashboards want ranked LISTS, not just
    aggregates, and a top-k MV is the k-generalization of the MIN/MAX
    partials the aggregate family stores). Leg 1 asks the MV's own
    grain (top-3 per priority) — served from the O(groups×k) stored
    rows, the fact ranked by nobody. Leg 2 asks the GLOBAL top-3 — a
    COARSER grouping, served by re-ranking the union of stored
    per-group top-k rows (exact: a row in the global top-3 is beaten
    by <3 rows overall, hence by <3 in its own group, hence stored;
    the serve plans as TakeOrderedAndProject, never a
    single-partition window). Leg 3 asks per-status, which the MV
    cannot derive — base fallback. ``served_from`` pins the routing;
    the oracle recomputes all three legs via ANSI row_number under the
    identical total order (cents desc, o_orderkey desc — the unique
    tiebreak is what makes the comparison exact)."""
    from ..plans.mv_topk import answer_topk

    root = mv_topk_fixture(spark, sf_dir)
    src = table(spark, sf_dir, "orders").select(
        "o_orderpriority", "o_orderstatus", "o_orderkey",
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast(
            "long"
        ).alias("cents"),
    )
    src_path = os.path.join(sf_dir, "orders.parquet")
    order_by = [("cents", "desc"), ("o_orderkey", "desc")]
    leg1, used1 = answer_topk(
        spark, root, src, src_path,
        group_cols=["o_orderpriority"], order_by=order_by, k=3,
    )
    leg2, used2 = answer_topk(
        spark, root, src, src_path,
        group_cols=[], order_by=order_by, k=3,
    )
    leg3, used3 = answer_topk(
        spark, root, src, src_path,
        group_cols=["o_orderstatus"], order_by=order_by, k=3,
    )
    return leg1.select(
        F.lit("mv" if used1 == "top_orders" else "base").alias(
            "served_from"
        ),
        F.col("o_orderpriority").alias("grp"), "o_orderkey", "cents",
    ).unionByName(
        leg2.select(
            F.lit("mv" if used2 == "top_orders" else "base").alias(
                "served_from"
            ),
            F.lit("--").alias("grp"), "o_orderkey", "cents",
        )
    ).unionByName(
        leg3.select(
            F.lit("base" if used3 is None else "mv").alias(
                "served_from"
            ),
            F.col("o_orderstatus").alias("grp"), "o_orderkey", "cents",
        )
    )


@register(
    "mv_topk_live",
    family="mv_live",
    oracle="""
    WITH cents0 AS (
      SELECT o_orderkey, o_orderpriority, o_totalprice,
             CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents,
             CAST(floor(o_totalprice * 1.1 * 100 + 0.5) AS BIGINT)
               AS cents_u
      FROM orders
    ), ranked AS (
      SELECT o_orderkey, o_orderpriority,
             row_number() OVER (
               PARTITION BY o_orderpriority
               ORDER BY o_totalprice DESC, o_orderkey DESC) AS rn
      FROM cents0
    ), dkey AS (
      SELECT o_orderkey FROM ranked
      WHERE rn = 1 AND o_orderpriority = '5-LOW'
    ), final AS (
      SELECT o_orderkey, o_orderpriority,
             CASE WHEN o_orderkey % 100 = 11 THEN cents_u
                  ELSE cents END AS cents
      FROM cents0
      WHERE o_orderkey NOT IN (SELECT o_orderkey FROM dkey)
      UNION ALL
      SELECT o_orderkey + 40000000, '3-MEDIUM', cents
      FROM cents0 WHERE o_orderkey % 100 = 29
    )
    SELECT 'mv_delta' AS served_from, o_orderpriority,
           CAST(o_orderkey AS BIGINT) AS o_orderkey, cents
    FROM (SELECT *, row_number() OVER (
            PARTITION BY o_orderpriority
            ORDER BY cents DESC, o_orderkey DESC) AS rn2 FROM final)
    WHERE rn2 <= 3
    """,
)
def mv_topk_live(spark, sf_dir):
    """A RANKED dashboard on FRESH data from a STALE top-k summary
    (round 19, plans/mv_topk.answer_topk_live): the fixture's merge
    DELETED 5-LOW's top order (a boundary-reaching delete — the
    group's stored top-3 can no longer be trusted), repriced %100==11
    orders (update_pre deletes + update_post inserts through the
    feed), and cloned %100==29 orders into 3-MEDIUM — with NO
    catch-up. The live serve composes the stored ranked rows with the
    unapplied span lazily: safe groups merge + re-truncate in-plan,
    the risky 5-LOW group recomputes through a semi-join-pruned scan
    of the current table — MV files byte-untouched. ``served_from``
    pins mode 'mv_delta'; the oracle recomputes the post-merge top-3
    per priority closed-form under the identical total order. At
    100 TB: O(groups×k + span) per refresh, the fact ranked only for
    groups a boundary delete actually touched."""
    from ..plans.mv_topk import answer_topk_live

    root = mv_live_fixture(spark, sf_dir)
    mv_root = os.path.join(root, "mvs")
    cents = F.floor(
        F.col("o_totalprice") * 100 + F.lit(0.5)
    ).cast("long").alias("cents")

    def project(df):
        cols = [F.col("o_orderpriority"), F.col("o_orderkey"), cents]
        if "change_type" in df.columns:
            cols = [F.col("change_type")] + cols
        return df.select(*cols)

    df, mode = answer_topk_live(
        spark, mv_root, "live_top_orders", project,
        group_cols=["o_orderpriority"],
        order_by=[("cents", "desc"), ("o_orderkey", "desc")], k=3,
    )
    return df.select(
        F.lit(mode if mode else "base").alias("served_from"),
        "o_orderpriority", "o_orderkey", "cents",
    )

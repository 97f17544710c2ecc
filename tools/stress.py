"""Large-N stress evidence: core operator shapes at 10^8-row scale.

The sf0.1 bench measures the per-query floor (600 k rows is dominated by
stage overhead); this tool measures the asymptote the 100 TB argument rests
on — rows/s per core for the shapes everything in the engine reduces to:
scan+aggregate, fact-dim sort-merge join, partitioned window, and the CDC
enrichment projection. Synthetic `spark.range` input (no disk dependence),
deterministic, sized so each op runs tens of seconds on local[32].

Usage: python tools/stress.py [--scale 1.0]   # scale multiplies row counts
Prints one JSON line per op + a summary line; paste the numbers into
SCALE.md when they move.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--scale", type=float, default=1.0)
    ap.add_argument(
        "--only",
        nargs="+",
        default=None,
        help="run only the named ops (default: all)",
    )
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from pulsar_cdc_experiment_spark.session import get_spark

    spark = get_spark(app_name="stress")
    spark.conf.set("spark.sql.shuffle.partitions", "64")
    cores = spark.sparkContext.defaultParallelism
    spark.range(1000).count()  # warm

    results: dict[str, dict] = {}

    def run(name: str, rows: int, fn) -> None:
        if args.only is not None and name not in args.only:
            return
        t0 = time.perf_counter()
        fn(rows)
        sec = time.perf_counter() - t0
        results[name] = {
            "rows": rows,
            "sec": round(sec, 2),
            "rows_per_sec": int(rows / sec),
            "rows_per_sec_per_core": int(rows / sec / cores),
        }
        print(json.dumps({"op": name, **results[name]}), flush=True)

    def scan_agg(n):
        (
            spark.range(n)
            .select((F.col("id") % 1000).alias("k"), (F.col("id") % 97).cast("double").alias("v"))
            .groupBy("k")
            .agg(F.count("*"), F.sum("v"), F.avg("v"), F.min("v"), F.max("v"))
            .write.format("noop").mode("overwrite").save()
        )

    def join_fact_dim(n):
        fact = spark.range(n).select(
            (F.col("id") % 1_000_000).alias("k"), (F.col("id") % 97).cast("double").alias("v")
        )
        dim = spark.range(1_000_000).select(
            F.col("id").alias("k"), (F.col("id") % 7).cast("double").alias("w")
        )
        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            (
                fact.join(dim, "k")
                .groupBy()
                .agg(F.sum(F.col("v") * F.col("w")), F.count("*"))
                .write.format("noop").mode("overwrite").save()
            )
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)

    def window_partitioned(n):
        from pyspark.sql import Window

        w = Window.partitionBy("k").orderBy("id")
        (
            spark.range(n)
            .select("id", (F.col("id") % 1_000_000).alias("k"), (F.col("id") % 97).alias("v"))
            .select("k", F.row_number().over(w).alias("rn"), F.sum("v").over(w).alias("run"))
            .write.format("noop").mode("overwrite").save()
        )

    def enrich_projection(n):
        from pulsar_cdc_experiment_spark.operators.enrichment import enrich
        from pulsar_cdc_experiment_spark.schemas import envelope_schema

        env = spark.range(n).select(
            F.lit(None).cast(envelope_schema()["before"].dataType).alias("before"),
            F.struct(
                F.col("id").alias("id"),
                F.concat(F.lit("name"), F.col("id")).alias("name"),
                F.concat(F.col("id").cast("string"), F.lit("@x.io")).alias("email"),
                (F.col("id") * 1000).alias("created_at"),
            ).alias("after"),
            F.struct(
                F.lit("1.9.7.Final").alias("version"), F.lit("postgresql").alias("connector"),
                F.lit("dbserver1").alias("name"), (F.col("id") % 2**40).alias("ts_ms"),
                F.lit("false").alias("snapshot"), F.lit("inventory").alias("db"),
                F.lit("public").alias("schema"), F.lit("customers").alias("table"),
                F.col("id").alias("txId"), F.col("id").alias("lsn"),
            ).alias("source"),
            F.when(F.col("id") % 4 == 0, "c").otherwise("u").alias("op"),
            (1_600_000_000_000 + F.col("id") % 1_000_000).alias("ts_ms"),
        )
        enrich(env).write.format("noop").mode("overwrite").save()

    def minhash_signature_build(n):
        """The dedup asymptote: shingle → flat hash → k min-aggs per doc
        (the write_signature_index / minhash_near_dups hot path) over
        synthetic ~12-word docs, engine murmur3 hashing (the fast path a
        real corpus uses; the portable family is for oracle audits)."""
        from pulsar_cdc_experiment_spark.operators import dedup as D

        words = F.transform(
            F.sequence(F.lit(0), F.lit(11)),
            lambda i: F.concat(
                F.lit("w"),
                F.pmod(F.xxhash64(F.col("id") * 13 + i), F.lit(10_000)).cast("string"),
            ),
        )
        docs = spark.range(n).select(
            F.col("id").alias("doc_id"), F.array_join(words, " ").alias("text")
        )
        D.minhash_signatures(docs, "doc_id", "text").write.format("noop").mode(
            "overwrite"
        ).save()

    def zorder_build(n):
        """The layout-maintenance asymptote: Morton interleave of two
        clustering columns + range-partitioned sorted parquet write (the
        optimize_table / zorder_layout hot path). Real parquet I/O on
        purpose — at 100 TB the maintenance job's cost IS the rewrite."""
        import shutil
        import tempfile

        from pulsar_cdc_experiment_spark.plans.layout import zorder_layout

        df = spark.range(n).select(
            "id",
            (F.col("id") % 1000).alias("c1"),
            ((F.col("id") * 2654435761) % 1_000_000).alias("c2"),
            (F.col("id") % 97).cast("double").alias("v"),
        )
        dst = tempfile.mkdtemp(prefix="stress_zorder_")
        try:
            zorder_layout(df, dst, ["c1", "c2"], files=64, bits=10)
        finally:
            shutil.rmtree(dst, ignore_errors=True)

    def pagerank_3iter(n_edges):
        """The iterative-dataflow asymptote: 3 unrolled PageRank rounds
        (join on src + re-aggregate on dst per round) over a synthetic
        power-law-ish edge list; rows/s counts edge-traversals (edges ×
        iterations)."""
        from pulsar_cdc_experiment_spark.operators.graph import (
            pagerank_fixed_point,
        )

        k = max(1000, n_edges // 10)
        edges = spark.range(n_edges).select(
            (F.col("id") % k).alias("src"),
            (F.pmod(F.xxhash64("id"), F.lit(k))).alias("dst"),
        )
        # symmetric closure guarantees every vertex has out-edges
        sym = edges.unionByName(
            edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        pagerank_fixed_point(sym, iters=3).write.format("noop").mode(
            "overwrite"
        ).save()

    def jsonl_parse(n):
        """The text-ingest asymptote: JSON-lines → typed rows with an
        explicit schema (sources/files.py read path: from_json is the
        same expression the reader uses) + the quarantine aggregate.
        Bounds the first hop of any 100 TB text estate."""
        from pyspark.sql import types as T

        schema = T.StructType(
            [
                T.StructField("event_id", T.LongType()),
                T.StructField("user_id", T.LongType()),
                T.StructField("event_type", T.StringType()),
                T.StructField("value", T.DoubleType()),
            ]
        )
        lines = spark.range(n).select(
            F.concat(
                F.lit('{"event_id": '), F.col("id").cast("string"),
                F.lit(', "user_id": '), (F.col("id") % 100_000).cast("string"),
                F.lit(', "event_type": "t'), (F.col("id") % 7).cast("string"),
                F.lit('", "value": '), (F.col("id") % 997).cast("string"),
                F.lit(".25}"),
            ).alias("line")
        )
        (
            lines.select(F.from_json("line", schema).alias("r"))
            .select("r.*")
            .groupBy("event_type")
            .agg(F.count("*"), F.sum("value"))
            .write.format("noop").mode("overwrite").save()
        )

    def interval_join(n_points):
        """The keyless containment-join asymptote: bin-bucketed interval
        join (operators/intervals.py) of n points against n/200
        one-hour-wide intervals spread over a year. The naive plan is
        BroadcastNestedLoopJoin — O(n·m) predicate evaluations, ~1e13 at
        this size, infeasible to even attempt — so the binned join's
        rows/s IS the feasibility boundary for interval dimensions at
        100 TB. Rows/s counts points."""
        from pulsar_cdc_experiment_spark.functions.time import ntz_from_micros
        from pulsar_cdc_experiment_spark.operators.intervals import (
            interval_join_binned,
        )

        year_us = 365 * 86_400 * 1_000_000
        hour_us = 3_600 * 1_000_000
        points = spark.range(n_points).select(
            ntz_from_micros(F.pmod(F.xxhash64("id"), F.lit(year_us))).alias("t"),
            (F.col("id") % 97).cast("double").alias("v"),
        )
        n_iv = max(1000, n_points // 200)
        iv_start = F.pmod(F.xxhash64(F.col("id") + 7), F.lit(year_us - hour_us))
        intervals = spark.range(n_iv).select(
            F.col("id").alias("iv_id"),
            ntz_from_micros(iv_start).alias("s"),
            ntz_from_micros(iv_start + F.lit(hour_us)).alias("e"),
        )
        (
            interval_join_binned(points, intervals, "t", "s", "e", hour_us)
            .groupBy("iv_id")
            .agg(F.count("*").alias("n"), F.sum("v").alias("sv"))
            .write.format("noop").mode("overwrite").save()
        )

    CHAIN_DEPTH = 64

    def chain_minlabel(n_nodes):
        """Adversarial diameter for min-label propagation (round-7
        verdict task 6): parallel CHAINS of depth 64 — the label needs
        DIAMETER rounds to traverse each chain, i.e. 64 join+agg rounds
        + a convergence probe each, vs the 3-6 rounds of the shallow
        near-clique graphs LSH banding produces. Wall scales ~linearly
        with depth; this leg is the measured evidence behind SCALE.md's
        decision rule (min-label for shallow dedup graphs,
        pointer_double for deep hierarchies)."""
        from pulsar_cdc_experiment_spark.operators.components import (
            connected_components,
        )

        d = CHAIN_DEPTH
        ids = spark.range(n_nodes)
        nodes = ids.select(F.col("id"))
        edges = ids.filter(F.col("id") % d != d - 1).select(
            F.col("id").alias("id_a"), (F.col("id") + 1).alias("id_b")
        )
        comp = connected_components(nodes, edges, "id", max_iter=d + 2)
        bad = comp.filter(
            F.col("component") != F.col("id") - F.col("id") % d
        ).count()
        assert bad == 0, f"{bad} nodes mislabeled"

    def chain_pointer_double(n_nodes):
        """The same depth-64 chains resolved by pointer doubling
        (operators/graph.pointer_double): ceil(log2(64)) + 1 = 7
        self-join rounds in ONE lazy plan, no per-round action — the
        O(log d) alternative for deep tree/forest shapes."""
        from pulsar_cdc_experiment_spark.operators.graph import pointer_double

        d = CHAIN_DEPTH
        state = spark.range(n_nodes).select(
            F.col("id").alias("node"),
            F.when(F.col("id") % d == 0, F.col("id"))
            .otherwise(F.col("id") - 1)
            .alias("anc"),
            F.when(F.col("id") % d == 0, F.lit(0))
            .otherwise(F.lit(1))
            .cast("long")
            .alias("dist"),
        )
        jump = pointer_double(state, rounds=7)
        bad = jump.filter(
            F.col("anc") != F.col("node") - F.col("node") % d
        ).count()
        assert bad == 0, f"{bad} nodes did not reach their root"

    MERGE_PARTS = 16

    def merge_scoped(n_rows):
        """The MERGE cost claim measured (round 9): a 16-partition table
        on disk, a changeset confined to ONE partition. merge_scoped
        pays discovery (key+partition thin scan) + one partition's
        rewrite; the full-rewrite alternative (what a non-pruning engine
        does) rewrites all 16. The wall ratio is the 'cost ∝ touched
        partitions, not table size' evidence in SCALE.md — at 16
        partitions the ideal asymptote is ~16x, shrunk locally by the
        fixed discovery scan."""
        import shutil as _sh
        import tempfile as _tf

        from pulsar_cdc_experiment_spark.plans.merge import merge_into

        root = _tf.mkdtemp(prefix="stress_merge_")
        try:
            # a REALISTIC row width (12 data columns + a string payload):
            # the scoped-merge advantage is IO-proportional, and a
            # 3-column toy table makes the key+partition discovery scan
            # ~40% of a full pass, flattening the ratio a wide
            # production table actually shows
            payload = [
                ((F.col("id") * (i + 3)) % 1009).cast("double").alias(f"c{i}")
                for i in range(8)
            ]
            spayload = F.sha2(F.col("id").cast("string"), 256).alias("s")
            base = spark.range(n_rows).select(
                F.col("id").alias("k"),
                (F.col("id") % 97).cast("double").alias("v"),
                *payload,
                spayload,
                (F.col("id") % MERGE_PARTS).cast("string").alias("p"),
            )
            base.repartition(64).write.mode("overwrite").partitionBy(
                "p"
            ).parquet(root)
            chg = (
                spark.range(n_rows // MERGE_PARTS // 10)
                .select(
                    (F.col("id") * MERGE_PARTS).alias("k"),  # all in p='0'
                    F.lit(-1.0).alias("v"),
                    *[F.lit(-1.0).alias(f"c{i}") for i in range(8)],
                    F.lit("x").alias("s"),
                    F.lit("0").alias("p"),
                    F.lit(False).alias("is_delete"),
                )
            )
            # min-of-2 per path: single write-heavy runs on this box
            # spread ~2x (GC/page-cache state), wide enough to swallow
            # the effect being measured
            scoped_runs = []
            for _ in range(2):
                t0 = time.perf_counter()
                rep = merge_into(
                    spark, root, chg, keys=["k"], partition_col="p"
                )
                scoped_runs.append(time.perf_counter() - t0)
                assert rep["touched"] == ["0"]
                assert len(rep["untouched"]) == 15
            merged_sec = min(scoped_runs)

            # the non-pruning alternative: rewrite the WHOLE table
            full_runs = []
            for _ in range(2):
                full_dst = _tf.mkdtemp(prefix="stress_merge_full_")
                t0 = time.perf_counter()
                tgt = spark.read.parquet(root)
                rewritten = tgt.join(
                    chg.select("k"), "k", "left_anti"
                ).unionByName(chg.drop("is_delete"))
                rewritten.repartition(64).write.mode(
                    "overwrite"
                ).partitionBy("p").parquet(full_dst)
                full_runs.append(time.perf_counter() - t0)
                _sh.rmtree(full_dst, ignore_errors=True)
            full_sec = min(full_runs)
            results["merge_full_rewrite"] = {
                "rows": n_rows,
                "sec": round(full_sec, 2),
                "scoped_sec": round(merged_sec, 2),
                "speedup": round(full_sec / merged_sec, 2),
            }
            print(
                json.dumps(
                    {"op": "merge_full_rewrite",
                     **results["merge_full_rewrite"]}
                ),
                flush=True,
            )
        finally:
            _sh.rmtree(root, ignore_errors=True)

    def merge_file_scoped(n_rows):
        """FILE-level scoping measured. ONE partition holding 16
        range-laid-out files (the layout a range/Z-order maintenance
        pass produces); the changeset's keys all live inside one file.
        file_scope=True rewrites exactly the files that hold a matched
        key — the merge's own matched-key join names them, with no
        footer probe — and hardlinks the rest through the swap;
        file_scope=False rewrites the partition's full 16. The wall
        ratio is the 'rewrite cost ∝ files holding changeset keys, not
        touched-partition bytes' evidence in SCALE.md. Ideal asymptote
        16x, shrunk locally by the fixed discovery scan."""
        import shutil as _sh
        import tempfile as _tf

        from pulsar_cdc_experiment_spark.plans.merge import merge_into

        N_FILES = 16
        payload = [
            ((F.col("id") * (i + 3)) % 1009).cast("double").alias(f"c{i}")
            for i in range(8)
        ]
        spayload = F.sha2(F.col("id").cast("string"), 256).alias("s")
        chg = spark.range(n_rows // N_FILES // 10).select(
            (F.col("id") * 10).alias("k"),  # all inside file 0's range
            F.lit(-1.0).alias("v"),
            *[F.lit(-1.0).alias(f"c{i}") for i in range(8)],
            F.lit("x").alias("s"),
            F.lit("0").alias("p"),
            F.lit(False).alias("is_delete"),
        )
        secs = {True: [], False: []}
        reps = {}
        # interleaved scoped/unscoped rounds with a discarded warm-up
        # pair: JVM/codegen/page-cache state otherwise biases whichever
        # mode runs second (observed as a phantom 1.0x on the first cut
        # of this leg)
        for rnd in range(3):
            for scope in (True, False):
                root = _tf.mkdtemp(prefix=f"stress_mfs{int(scope)}_")
                try:
                    base = spark.range(n_rows).select(
                        F.col("id").alias("k"),
                        (F.col("id") % 97).cast("double").alias("v"),
                        *payload,
                        spayload,
                        F.lit("0").alias("p"),
                    )
                    (
                        base.repartitionByRange(N_FILES, F.col("k"))
                        .sortWithinPartitions("k")
                        .write.mode("overwrite")
                        .partitionBy("p")
                        .parquet(root)
                    )
                    t0 = time.perf_counter()
                    rep = merge_into(
                        spark, root, chg, keys=["k"], partition_col="p",
                        file_scope=scope,
                    )
                    if rnd > 0:  # round 0 is the discarded warm-up
                        secs[scope].append(time.perf_counter() - t0)
                    assert rep["touched"] == ["0"]
                    if scope:
                        # boundary straddle tolerance: ≤2 of 16 rewritten
                        assert rep["files_rewritten"] <= 2, rep
                        assert rep["files_kept"] >= N_FILES - 2, rep
                        reps[scope] = rep
                finally:
                    _sh.rmtree(root, ignore_errors=True)
        secs = {k: min(v) for k, v in secs.items()}
        results["merge_file_scoped"] = {
            "rows": n_rows,
            "files": N_FILES,
            "files_rewritten": reps[True]["files_rewritten"],
            "scoped_sec": round(secs[True], 2),
            "unscoped_sec": round(secs[False], 2),
            "speedup": round(secs[False] / secs[True], 2),
        }
        print(
            json.dumps(
                {"op": "merge_file_scoped",
                 **results["merge_file_scoped"]}
            ),
            flush=True,
        )

    def ivm_join(n_rows):
        """Round-12: JOIN-view maintenance, delta rule vs full recompute.
        A = n parents, B = 3n children (parquet on disk, both modes scan
        the same files); 0.1% of keys churn on BOTH sides in one batch.
        Full recompute = patched A' join B' (an 4n-row shuffle join) then
        the group agg; delta rule = join_delta(A,B,dA,dB) — every term is
        delta-sized on one side, so AQE broadcasts the delta and the big
        tables are scanned but never shuffled. The wall ratio is the
        'per-batch work tracks the BATCH, not the view' evidence in
        SCALE.md; at 100 TB key-range pruning on the base probes widens
        it further (the scans here are the local floor)."""
        import shutil as _sh
        import tempfile as _tf

        from pulsar_cdc_experiment_spark.operators.materialize import join_delta

        root = _tf.mkdtemp(prefix="stress_ivm_")
        try:
            nA = n_rows
            spark.range(nA).select(
                F.col("id").alias("k"),
                (F.col("id") % 97).alias("g"),
                (F.col("id") % 1009).alias("av"),
            ).write.parquet(root + "/a")
            spark.range(3 * nA).select(
                (F.col("id") % nA).alias("k"),
                (F.col("id") % 31).alias("bv"),
            ).write.parquet(root + "/b")
            a = spark.read.parquet(root + "/a")
            b = spark.read.parquet(root + "/b")
            hot = F.col("k") % 1000 == 7
            z1 = F.lit(1).cast("long")
            da = (
                a.filter(hot).withColumn("__z", -z1)
                .unionByName(
                    a.filter(hot)
                    .withColumn("av", F.col("av") + 1)
                    .withColumn("__z", z1)
                )
            )
            db = (
                b.filter(hot).withColumn("__z", -z1)
                .unionByName(
                    b.filter(hot)
                    .withColumn("bv", F.col("bv") + 1)
                    .withColumn("__z", z1)
                )
            )

            def agg_full():
                a1 = a.filter(~hot).unionByName(
                    a.filter(hot).withColumn("av", F.col("av") + 1)
                )
                b1 = b.filter(~hot).unionByName(
                    b.filter(hot).withColumn("bv", F.col("bv") + 1)
                )
                a1.join(b1, "k").groupBy("g").agg(
                    F.count("*").alias("n"),
                    F.sum(F.col("av") * F.col("bv")).alias("s"),
                ).collect()

            def agg_delta():
                join_delta(a, b, da, db, on=["k"]).groupBy("g").agg(
                    F.sum("__z").alias("dn"),
                    F.sum(F.col("__z") * F.col("av") * F.col("bv")).alias("ds"),
                ).collect()

            secs = {"full": [], "delta": []}
            for rnd in range(3):  # interleaved, warm-up pair discarded
                for mode, fn in (("full", agg_full), ("delta", agg_delta)):
                    t0 = time.perf_counter()
                    fn()
                    if rnd > 0:
                        secs[mode].append(time.perf_counter() - t0)
            full_s, delta_s = min(secs["full"]), min(secs["delta"])
            results["ivm_join_delta_vs_recompute"] = {
                "rows_a": nA,
                "rows_b": 3 * nA,
                "full_sec": round(full_s, 2),
                "delta_sec": round(delta_s, 2),
                "ratio": round(full_s / delta_s, 2),
            }
            print(
                json.dumps(
                    {"op": "ivm_join_delta_vs_recompute",
                     **results["ivm_join_delta_vs_recompute"]}
                ),
                flush=True,
            )
        finally:
            _sh.rmtree(root, ignore_errors=True)

    def change_feed_scoped(n_rows):
        """Round-12: CHANGE FEED cost tracks touched partitions, not
        table size. A 64-partition table takes one merge touching ONE
        partition (~1% of its rows updated, keep_history=True); the feed
        is then read two ways: manifest-pruned (plans/merge.change_feed)
        vs a naive full-table diff of the same two versions (identical
        full-outer join, no pruning). The ratio is the evidence that at
        100 TB the feed is metadata-bounded — the prune is free (literal
        partition predicate), the naive diff pays a full double scan +
        key shuffle of the whole table."""
        import shutil as _sh
        import tempfile as _tf

        from pulsar_cdc_experiment_spark.plans.merge import (
            change_feed,
            merge_into,
            read_version,
        )

        root = _tf.mkdtemp(prefix="stress_cf_") + "/t"
        try:
            spark.range(n_rows).select(
                F.col("id").alias("k"),
                (F.col("id") % 64).cast("string").alias("p"),
                (F.col("id") % 1009).cast("double").alias("v"),
            ).repartition(64, "p").write.partitionBy("p").parquet(root)
            chg = (
                spark.read.parquet(root)
                .filter(F.col("k") % 6400 == 7)  # ~1% of partition 7 only
                .withColumn("v", F.col("v") + 1.0)
                .withColumn("is_delete", F.lit(False))
            )
            merge_into(
                spark, root, chg, keys=["k"], partition_col="p",
                keep_history=True,
            )

            def pruned():
                change_feed(spark, root, 0).count()

            def naive():
                pre = read_version(spark, root, 0)
                post = read_version(spark, root, 1)
                a = pre.select(
                    "k", F.lit(True).alias("__ina"),
                    F.struct("v", "p").alias("__a"),
                )
                b = post.select(
                    "k", F.lit(True).alias("__inb"),
                    F.struct("v", "p").alias("__b"),
                )
                (
                    a.join(b, ["k"], "full_outer")
                    .filter(
                        F.col("__ina").isNull()
                        | F.col("__inb").isNull()
                        | ~F.col("__a").eqNullSafe(F.col("__b"))
                    )
                    .count()
                )

            secs = {"pruned": [], "naive": []}
            for rnd in range(3):
                for mode, fn in (("pruned", pruned), ("naive", naive)):
                    t0 = time.perf_counter()
                    fn()
                    if rnd > 0:
                        secs[mode].append(time.perf_counter() - t0)
            p_s, n_s = min(secs["pruned"]), min(secs["naive"])
            results["change_feed_1of64"] = {
                "rows": n_rows,
                "pruned_sec": round(p_s, 2),
                "naive_sec": round(n_s, 2),
                "ratio": round(n_s / p_s, 2),
            }
            print(
                json.dumps(
                    {"op": "change_feed_1of64",
                     **results["change_feed_1of64"]}
                ),
                flush=True,
            )
        finally:
            _sh.rmtree(os.path.dirname(root), ignore_errors=True)

    def touched_pruning_wide(n_leaves):
        """Round-13 (r12 verdict #4 data point): Catalyst ANALYSIS cost
        of the touched-partition predicate at high touched cardinality.
        Modes: the pre-round-13 OR-of-ANDs (grows one tree level per
        tuple — quadratic analysis, and a hard JVM StackOverflow in the
        column-tree converter past ~300 tuples, recorded as
        "stack_overflow"), the flat touched_prune_predicate now used by
        merge_into/change_feed, and a literal-relation semi-join
        baseline. Measures plan-build wall (optimizedPlan forced, no
        execution)."""
        from pulsar_cdc_experiment_spark.plans.merge import (
            touched_prune_predicate,
        )

        df = spark.range(1000).select(
            (F.col("id") % 100).cast("string").alias("p1"),
            (F.col("id") % 10).cast("string").alias("p2"),
            F.col("id").alias("v"),
        )
        tuples = [(str(i % 997), str(i % 89)) for i in range(n_leaves)]

        def or_of_ands():
            pred = F.lit(False)
            for a, b in tuples:
                pred = pred | (
                    (F.col("p1") == F.lit(a)) & (F.col("p2") == F.lit(b))
                )
            df.filter(pred)._jdf.queryExecution().optimizedPlan()

        def flat_predicate():
            df.filter(
                touched_prune_predicate(
                    [F.col("p1"), F.col("p2")], tuples
                )
            )._jdf.queryExecution().optimizedPlan()

        def literal_join():
            lit = spark.createDataFrame(tuples, "p1 string, p2 string")
            df.join(
                F.broadcast(lit), ["p1", "p2"], "left_semi"
            )._jdf.queryExecution().optimizedPlan()

        out = {"leaves": n_leaves}
        for mode, fn in (
            ("or_of_ands", or_of_ands),
            ("flat_predicate", flat_predicate),
            ("literal_join", literal_join),
        ):
            t0 = time.perf_counter()
            try:
                fn()
                out[f"{mode}_sec"] = round(time.perf_counter() - t0, 3)
            except Exception as e:
                out[f"{mode}_sec"] = (
                    "stack_overflow"
                    if "StackOverflow" in (repr(e) + str(e))
                    else f"error: {type(e).__name__}"
                )
        results[f"touched_pruning_{n_leaves}"] = out
        print(
            json.dumps({"op": f"touched_pruning_{n_leaves}", **out}),
            flush=True,
        )

    def mor_vs_cow(n):
        """Round-14 (verdict #5): the deletion-vector write-path claim —
        a SMALL changeset against a big table costs O(changeset) under
        merge-on-read vs O(touched-file bytes) under copy-on-write. The
        base is written key-SCATTERED (every file's key range spans the
        domain) so CoW file scoping cannot skip anything: the CoW merge
        pays the full rewrite, the MoR merge writes one sidecar + one
        tiny delta. Also measures the read-side tax MoR pays for that
        (the sidecar join over the base scan) — the trade OPTIMIZE
        (compact_mor) exists to reset."""
        import shutil as _sh
        import tempfile

        from pulsar_cdc_experiment_spark.plans.merge import merge_into
        from pulsar_cdc_experiment_spark.plans.mor import (
            init_mor,
            merge_into_mor,
            read_mor,
        )

        root = tempfile.mkdtemp(prefix="stress_morcow_")
        cow = os.path.join(root, "cow")
        mor = os.path.join(root, "mor")
        df = spark.range(n).select(
            F.col("id").alias("k"),
            (F.col("id") % 97).cast("double").alias("v"),
            (F.col("id") % 4).cast("string").alias("p"),
        )
        try:
            df.repartition(64).write.partitionBy("p").parquet(cow)
            init_mor(
                spark, mor, spark.read.parquet(cow),
                keys=["k"], partition_col="p",
            )
            step = max(1, n // 200)
            chg = spark.range(200).select(
                (F.col("id") * step).alias("k"),
                F.lit(-1.0).alias("v"),
                ((F.col("id") * step) % 4).cast("string").alias("p"),
                F.lit(False).alias("is_delete"),
            )
            t0 = time.perf_counter()
            merge_into(spark, cow, chg, keys=["k"], partition_col="p")
            cow_sec = time.perf_counter() - t0
            t0 = time.perf_counter()
            merge_into_mor(spark, mor, chg)
            mor_sec = time.perf_counter() - t0
            # read-side tax: identical aggregate over both tables
            t0 = time.perf_counter()
            cow_sum = (
                spark.read.parquet(cow).agg(F.sum("v"), F.count("*"))
            ).collect()[0]
            cow_read = time.perf_counter() - t0
            t0 = time.perf_counter()
            mor_sum = read_mor(spark, mor).agg(
                F.sum("v"), F.count("*")
            ).collect()[0]
            mor_read = time.perf_counter() - t0
            assert tuple(cow_sum) == tuple(mor_sum), (cow_sum, mor_sum)
            out = {
                "rows": n,
                "changeset": 200,
                "cow_merge_sec": round(cow_sec, 2),
                "mor_merge_sec": round(mor_sec, 2),
                "write_speedup": round(cow_sec / mor_sec, 1),
                "cow_read_sec": round(cow_read, 2),
                "mor_read_sec": round(mor_read, 2),
                "read_tax": round(mor_read / max(cow_read, 1e-9), 2),
            }
            results["mor_vs_cow_small_changeset"] = out
            print(
                json.dumps({"op": "mor_vs_cow_small_changeset", **out}),
                flush=True,
            )
        finally:
            _sh.rmtree(root, ignore_errors=True)

    def mv_rewrite(n):
        """Round-14: aggregate navigation at asymptote — the same
        grouped aggregate answered from the fact scan vs from the
        registered MV's partials. The MV read is O(groups), so the gap
        IS the fact-scan cost the rewrite avoids; at 100 TB this is a
        dashboard query's difference between a summary read and a
        full-table pass."""
        import shutil as _sh
        import tempfile

        from pulsar_cdc_experiment_spark.plans.mv import (
            answer_aggregate,
            create_mv,
        )

        base = tempfile.mkdtemp(prefix="stress_mv_")
        src_path = os.path.join(base, "fact")
        try:
            spark.range(n).select(
                (F.col("id") % 23).cast("string").alias("g1"),
                (F.col("id") % 7).cast("string").alias("g2"),
                (F.col("id") % 97).cast("double").alias("v"),
            ).write.parquet(src_path)
            src = spark.read.parquet(src_path)
            mv_root = os.path.join(base, "mvs")
            create_mv(
                spark, mv_root, name="m", source_path=src_path,
                source=src, group_cols=["g1", "g2"],
                measures={"sv": ("sum", "v"), "n": ("count", None)},
            )
            aggs = {"sv": ("sum", "v"), "n": ("count", None)}

            def timed(gcols, use_mv):
                root = mv_root if use_mv else os.path.join(base, "none")
                t0 = time.perf_counter()
                df, used = answer_aggregate(
                    spark, root, src, src_path,
                    group_cols=gcols, aggs=aggs,
                )
                rows = df.collect()
                return time.perf_counter() - t0, used, rows

            direct_sec, u0, r0 = timed(["g1"], use_mv=False)
            mv_sec, u1, r1 = timed(["g1"], use_mv=True)
            assert u0 is None and u1 == "m"
            assert sorted(map(tuple, r0)) == sorted(map(tuple, r1))
            out = {
                "rows": n,
                "direct_sec": round(direct_sec, 3),
                "mv_sec": round(mv_sec, 3),
                "speedup": round(direct_sec / max(mv_sec, 1e-9), 1),
            }
            results["mv_rewrite_speedup"] = out
            print(
                json.dumps({"op": "mv_rewrite_speedup", **out}), flush=True
            )
        finally:
            _sh.rmtree(base, ignore_errors=True)

    def mv_maintain_vs_refresh(n):
        """Round-15: the incremental-maintenance asymptote — after a
        200-row changeset lands on the fact, bringing the MV fresh via
        ``maintain_mv`` (fold O(changeset + groups)) vs ``refresh_mv``
        (recompute O(fact)). Both paths are run and their resulting
        partial rows asserted IDENTICAL, so the speedup is for the same
        answer. This is the summary-freshness cost of the closed
        CDC→MV loop (mv_mor_feed_capstone) at scale."""
        import shutil as _sh
        import tempfile

        from pulsar_cdc_experiment_spark.plans.mv import (
            maintain_mv,
            refresh_mv,
        )
        from pulsar_cdc_experiment_spark.plans.mv import create_mv as _cmv
        from pulsar_cdc_experiment_spark.plans.mv import (
            mv_data_dir as _mv_data_dir,
        )

        base = tempfile.mkdtemp(prefix="stress_mvm_")
        src_path = os.path.join(base, "fact")
        try:
            spark.range(n).select(
                (F.col("id") % 100_000).cast("string").alias("g"),
                (F.col("id") % 97).cast("long").alias("v"),
            ).write.parquet(src_path)
            src = spark.read.parquet(src_path)
            mv_root = os.path.join(base, "mvs")
            _cmv(
                spark, mv_root, name="m", source_path=src_path,
                source=src, group_cols=["g"],
                measures={
                    "sv": ("sum", "v"), "n": ("count", None),
                    "mn": ("min", "v"), "mx": ("max", "v"),
                },
            )
            # the changeset: 200 inserted rows, appended to the fact
            delta = spark.range(200).select(
                (F.col("id") % 100_000).cast("string").alias("g"),
                F.lit(50).cast("long").alias("v"),
            )
            delta.coalesce(1).write.mode("append").parquet(src_path)
            src1 = spark.read.parquet(src_path)
            changes = delta.withColumn("__z", F.lit(1))
            t0 = time.perf_counter()
            maintain_mv(spark, mv_root, "m", changes, base_new=src1)
            maintain_sec = time.perf_counter() - t0
            # every publish lands in a NEW data generation: resolve the
            # current dir through the manifest at each read
            maintained = sorted(map(tuple, spark.read.parquet(
                _mv_data_dir(mv_root, "m")
            ).collect()))
            t0 = time.perf_counter()
            refresh_mv(spark, mv_root, "m", src1)
            refresh_sec = time.perf_counter() - t0
            refreshed = sorted(map(tuple, spark.read.parquet(
                _mv_data_dir(mv_root, "m")
            ).collect()))
            assert maintained == refreshed
            out = {
                "rows": n,
                "changeset": 200,
                "maintain_sec": round(maintain_sec, 3),
                "refresh_sec": round(refresh_sec, 3),
                "speedup": round(refresh_sec / max(maintain_sec, 1e-9), 1),
            }
            results["mv_maintain_vs_refresh"] = out
            print(
                json.dumps({"op": "mv_maintain_vs_refresh", **out}),
                flush=True,
            )
        finally:
            _sh.rmtree(base, ignore_errors=True)

    def mor_overlay_tax(n):
        """Round-15: the overlay-depth read-tax curve auto_compact_mor
        exists to bound — the same aggregate over a MoR table at
        overlay depth 0 / 8 / 16, then after a policy-triggered
        compaction (depth > 8) resets it. Values asserted constant
        across depths (the merges are idempotent re-upserts of the same
        200 keys), so the time curve isolates the overlay cost."""
        import shutil as _sh
        import tempfile

        from pulsar_cdc_experiment_spark.plans.mor import (
            auto_compact_mor,
            init_mor,
            merge_into_mor,
            read_mor,
        )

        root = tempfile.mkdtemp(prefix="stress_mortax_") + "/t"
        try:
            spark.range(n).select(
                F.col("id").alias("k"),
                (F.col("id") % 97).cast("double").alias("v"),
                (F.col("id") % 4).cast("string").alias("p"),
            ).repartition(64).write.partitionBy("p").parquet(root)
            init_mor(
                spark, root, spark.read.parquet(root),
                keys=["k"], partition_col="p",
            )

            def read_sec():
                t0 = time.perf_counter()
                row = read_mor(spark, root).agg(
                    F.sum("v").alias("s"), F.count("*").alias("c")
                ).collect()[0]
                return time.perf_counter() - t0, (row["s"], row["c"])

            step = max(1, n // 200)
            chg = spark.range(200).select(
                (F.col("id") * step).alias("k"),
                F.lit(-1.0).alias("v"),
                ((F.col("id") * step) % 4).cast("string").alias("p"),
                F.lit(False).alias("is_delete"),
            )
            curve = {}
            t, v0 = read_sec()
            curve["depth_0_sec"] = round(t, 2)
            for i in range(16):
                merge_into_mor(spark, root, chg)
                if i == 7:
                    t, v8 = read_sec()
                    curve["depth_8_sec"] = round(t, 2)
            t, v16 = read_sec()
            curve["depth_16_sec"] = round(t, 2)
            assert v8 == v16  # idempotent re-upserts: same state
            rep = auto_compact_mor(spark, root, max_overlay_depth=8)
            assert rep["triggered"] and rep["compact"]["base_seq"] == 16
            t, vc = read_sec()
            curve["post_compact_sec"] = round(t, 2)
            assert vc == v16
            out = {"rows": n, **curve}
            results["mor_overlay_read_tax"] = out
            print(
                json.dumps({"op": "mor_overlay_read_tax", **out}),
                flush=True,
            )
        finally:
            _sh.rmtree(os.path.dirname(root), ignore_errors=True)

    s = args.scale
    if args.only is not None and any(
        o.startswith("touched_pruning") for o in args.only
    ):
        for n in (100, 1000, 10000):
            touched_pruning_wide(n)
    run("scan_agg", int(400e6 * s), scan_agg)
    if args.only is None or "change_feed_1of64" in args.only:
        change_feed_scoped(int(40e6 * s))
    def join_mv_maintain_vs_refresh(n):
        """Round-16: the star-join-summary asymptote. A join MV
        (n-row fact ⋈ 100k-row dim, 1000 groups) absorbs (1) a
        200-row insert-only fact changeset — pure fold, the no-risky
        precheck skips the fact statically — then (2) a changeset
        deleting one instance of a group's stored MAX (physically: the
        one-row parquet file appended for this purpose is removed), so
        exactly that group recomputes from the post-change join,
        semi-join-pruned. Both maintains chain onto the same MV and the
        final state is asserted IDENTICAL to a full refresh_mv (which
        re-runs the whole star join) — the timings compare three costs
        of the same answer: fold O(changeset), risky O(pruned fact
        pass, one group aggregated), refresh O(fact ⋈ dim + full
        re-agg)."""
        import shutil as _sh
        import tempfile

        from pulsar_cdc_experiment_spark.plans.mv import (
            create_join_mv as _cjmv,
            maintain_join_mv,
            pruned_star_base,
            refresh_mv,
        )
        from pulsar_cdc_experiment_spark.plans.mv import (
            mv_data_dir as _mv_data_dir,
        )

        base = tempfile.mkdtemp(prefix="stress_jmv_")
        fact_path = os.path.join(base, "fact")
        dim_path = os.path.join(base, "dim")
        try:
            spark.range(n).select(
                (F.col("id") % 100_000).alias("fk"),
                (F.col("id") % 97).cast("long").alias("v"),
            ).write.parquet(fact_path)
            # the future risky delete's row: one (fk=5, v=96) instance
            # in its own file, removable without a rewrite
            before = set(os.listdir(fact_path))
            spark.createDataFrame(
                [(5, 96)], "fk bigint, v bigint"
            ).coalesce(1).write.mode("append").parquet(fact_path)
            risky_files = [
                f for f in set(os.listdir(fact_path)) - before
                if f.endswith(".parquet")
            ]
            assert len(risky_files) == 1, risky_files
            spark.range(100_000).select(
                F.col("id").alias("fk"),
                (F.col("id") % 1000).cast("string").alias("g"),
            ).write.parquet(dim_path)
            fact = spark.read.parquet(fact_path)
            dim = spark.read.parquet(dim_path)
            mv_root = os.path.join(base, "mvs")
            _cjmv(
                spark, mv_root, name="jm", fact=fact,
                fact_path=fact_path, dims=[(dim, dim_path, ["fk"])],
                group_cols=["g"],
                measures={
                    "sv": ("sum", "v"), "n": ("count", None),
                    "mn": ("min", "v"), "mx": ("max", "v"),
                },
            )
            # leg 1: insert-only fold (no risky groups, fact untouched)
            delta = spark.range(200).select(
                (F.col("id") % 100_000).alias("fk"),
                F.lit(50).cast("long").alias("v"),
            )
            delta.coalesce(1).write.mode("append").parquet(fact_path)
            d_fact1 = delta.withColumn("__z", F.lit(1).cast("long"))
            src1 = spark.read.parquet(fact_path)
            t0 = time.perf_counter()
            maintain_join_mv(
                spark, mv_root, "jm", fact_pre=fact, d_fact=d_fact1,
                dims=[(dim, None, ["fk"])],
                base_new=pruned_star_base(src1, [(dim, ["fk"])], ["g"]),
            )
            fold_sec = time.perf_counter() - t0
            # leg 2: delete the (5,96) instance — group (5%1000)'s
            # stored max is hit, that ONE group recomputes. Measured
            # BOTH ways on the same transition (MV dir snapshotted and
            # restored between): plain base (the recompute re-runs the
            # full star join) vs pruned_star_base (each side
            # semi-filtered to the risky groups before the join) —
            # identical resulting partials asserted.
            os.remove(os.path.join(fact_path, risky_files[0]))
            d_fact2 = spark.createDataFrame(
                [(5, 96, -1)], "fk bigint, v bigint, __z long"
            )
            src2 = spark.read.parquet(fact_path)
            jm_dir = os.path.join(mv_root, "jm")
            bak = os.path.join(mv_root, ".jm_bak")
            _sh.copytree(jm_dir, bak)
            t0 = time.perf_counter()
            maintain_join_mv(
                spark, mv_root, "jm", fact_pre=src1, d_fact=d_fact2,
                dims=[(dim, None, ["fk"])],
                base_new=src2.join(dim, ["fk"]).select("g", "v"),
            )
            plain_risky_sec = time.perf_counter() - t0
            plain_rows = sorted(map(tuple, spark.read.parquet(
                _mv_data_dir(mv_root, "jm")
            ).collect()))
            _sh.rmtree(jm_dir)
            os.rename(bak, jm_dir)
            t0 = time.perf_counter()
            maintain_join_mv(
                spark, mv_root, "jm", fact_pre=src1, d_fact=d_fact2,
                dims=[(dim, None, ["fk"])],
                base_new=pruned_star_base(src2, [(dim, ["fk"])], ["g"]),
            )
            risky_sec = time.perf_counter() - t0
            pruned_rows = sorted(map(tuple, spark.read.parquet(
                _mv_data_dir(mv_root, "jm")
            ).collect()))
            assert plain_rows == pruned_rows
            maintained = pruned_rows
            t0 = time.perf_counter()
            refresh_mv(spark, mv_root, "jm", src2.join(dim, ["fk"]))
            refresh_sec = time.perf_counter() - t0
            refreshed = sorted(map(tuple, spark.read.parquet(
                _mv_data_dir(mv_root, "jm")
            ).collect()))
            assert maintained == refreshed
            out = {
                "rows": n,
                "changeset": 200,
                "fold_sec": round(fold_sec, 3),
                "risky_sec": round(risky_sec, 3),
                "plain_risky_sec": round(plain_risky_sec, 3),
                "refresh_sec": round(refresh_sec, 3),
                "fold_speedup": round(refresh_sec / max(fold_sec, 1e-9), 1),
            }
            results[f"join_mv_maintain_vs_refresh_{n}"] = out
            print(
                json.dumps(
                    {"op": "join_mv_maintain_vs_refresh", **out}
                ),
                flush=True,
            )
        finally:
            _sh.rmtree(base, ignore_errors=True)

    def join_mv_hierarchy(n):
        """Round-17: grouping constructs over a STAR JOIN at asymptote —
        the same ROLLUP(g, pbit) answered by the native path (fact ⋈
        dim shuffle + Expand row replication, n+1-way) vs served from
        the registered join MV's partials via the pinned manifest
        (n+1 reads of a KB summary; the join re-run by nobody). The
        gap IS the star-join + Expand cost the serve avoids; identical
        results asserted."""
        import shutil as _sh
        import tempfile

        from pulsar_cdc_experiment_spark.plans.mv import (
            answer_join_grouping_sets,
            create_join_mv,
            rollup_sets,
        )

        base = tempfile.mkdtemp(prefix="stress_jmvh_")
        try:
            fact_path = os.path.join(base, "fact")
            dim_path = os.path.join(base, "dim")
            spark.range(n).select(
                (F.col("id") % 100_000).alias("fk"),
                (F.col("id") % 97).cast("long").alias("v"),
                (F.col("id") % 2).cast("long").alias("pbit"),
            ).write.parquet(fact_path)
            spark.range(100_000).select(
                F.col("id").alias("fk"),
                (F.col("id") % 200).cast("string").alias("g"),
            ).write.parquet(dim_path)
            fact = spark.read.parquet(fact_path)
            dim = spark.read.parquet(dim_path)
            mv_root = os.path.join(base, "mvs")
            create_join_mv(
                spark, mv_root, name="jh", fact=fact,
                fact_path=fact_path, dims=[(dim, dim_path, ["fk"])],
                group_cols=["g", "pbit"],
                measures={"sv": ("sum", "v"), "n": ("count", None)},
            )
            aggs = {"sv": ("sum", "v"), "n": ("count", None)}

            def timed(use_mv):
                root = mv_root if use_mv else os.path.join(base, "none")
                t0 = time.perf_counter()
                df, used = answer_join_grouping_sets(
                    spark, root, fact, fact_path,
                    [(dim, dim_path, ["fk"])],
                    sets=rollup_sets(["g", "pbit"]), aggs=aggs,
                )
                rows = df.collect()
                return time.perf_counter() - t0, used, rows

            nkey = lambda t: tuple(  # noqa: E731
                (x is None, 0 if x is None else x) for x in t
            )
            native_sec, u0, r0 = timed(use_mv=False)
            mv_sec, u1, r1 = timed(use_mv=True)
            assert u0 is None and u1 == "jh"
            assert sorted(map(tuple, r0), key=nkey) == sorted(
                map(tuple, r1), key=nkey
            )
            out = {
                "rows": n,
                "native_sec": round(native_sec, 3),
                "mv_sec": round(mv_sec, 3),
                "speedup": round(native_sec / max(mv_sec, 1e-9), 1),
            }
            results["join_mv_hierarchy_serve"] = out
            print(
                json.dumps({"op": "join_mv_hierarchy_serve", **out}),
                flush=True,
            )
        finally:
            _sh.rmtree(base, ignore_errors=True)

    def live_mv_hierarchy(n):
        """Round-18: the LIVE hierarchy serve at asymptote — a
        MoR-bound MV left one small merge behind (the real-time
        dashboard state), ROLLUP(g, pbit) answered by the native path
        (full table scan through the MoR overlay + Expand) vs composed
        LIVE from the stale MV's stored partials ⊕ the unapplied
        change-feed span (answer_grouping_sets_live; the fact
        scanned by nobody). The gap is the fact-pass cost the lambda
        serve avoids; identical results asserted. Flat in fact size by
        construction: the compose reads O(groups + span)."""
        import shutil as _sh
        import tempfile

        from pulsar_cdc_experiment_spark.plans.mor import (
            init_mor,
            merge_into_mor,
            read_mor,
        )
        from pulsar_cdc_experiment_spark.plans.mv import (
            answer_grouping_sets_live,
            bind_mv_to_mor,
            create_mv,
            rollup_sets,
        )

        base = tempfile.mkdtemp(prefix="stress_lmvh_")
        try:
            root = os.path.join(base, "t")
            mv_root = os.path.join(base, "mvs")
            manifest = os.path.join(root, ".mor", "manifest.json")
            init_mor(
                spark, root,
                spark.range(n).select(
                    F.col("id").alias("k"),
                    (F.col("id") % 200).cast("string").alias("g"),
                    (F.col("id") % 2).cast("long").alias("pbit"),
                    (F.col("id") % 97).cast("long").alias("v"),
                ),
                keys=["k"], partition_col="pbit",
            )
            src = read_mor(spark, root).select("g", "pbit", "v")
            create_mv(
                spark, mv_root, name="lh", source_path=manifest,
                source=src, group_cols=["g", "pbit"],
                measures={"sv": ("sum", "v"), "n": ("count", None)},
            )
            bind_mv_to_mor(mv_root, "lh", root)
            # one small merge (0.025% of the fact), NO catch-up: the MV
            # is stale by exactly the span the live serve must compose
            m = max(1000, n // 4000)
            merge_into_mor(spark, root, spark.range(m).select(
                (F.col("id") + n).alias("k"),
                (F.col("id") % 200).cast("string").alias("g"),
                (F.col("id") % 2).cast("long").alias("pbit"),
                (F.col("id") % 97).cast("long").alias("v"),
                F.lit(False).alias("is_delete"),
            ))

            def project(df):
                cols = [F.col("g"), F.col("pbit"), F.col("v")]
                if "change_type" in df.columns:
                    cols = [F.col("change_type")] + cols
                return df.select(*cols)

            aggs = {"sv": ("sum", "v"), "n": ("count", None)}

            def timed_native():
                t0 = time.perf_counter()
                rows = (
                    read_mor(spark, root)
                    .rollup("g", "pbit")
                    .agg(F.sum("v").alias("sv"),
                         F.count("*").alias("n"))
                    .collect()
                )
                return time.perf_counter() - t0, rows

            def timed_live():
                t0 = time.perf_counter()
                df, mode = answer_grouping_sets_live(
                    spark, mv_root, "lh", project,
                    sets=rollup_sets(["g", "pbit"]), aggs=aggs,
                )
                rows = df.collect()
                return time.perf_counter() - t0, mode, rows

            nkey = lambda t: tuple(  # noqa: E731
                (x is None, 0 if x is None else x) for x in t
            )
            native_sec, r0 = timed_native()
            live_sec, mode, r1 = timed_live()
            assert mode == "mv_delta", mode
            assert sorted(map(tuple, r0), key=nkey) == sorted(
                map(tuple, r1), key=nkey
            )
            # the policy router's third route: fold the span ONCE
            # (maintain pays the same pre/post probes the live compose
            # pays — but once, not per request), then every subsequent
            # request serves from the stored partials at MV speed
            from pulsar_cdc_experiment_spark.plans.mv import (
                maintain_mv_from_mor,
            )

            t0 = time.perf_counter()
            maintain_mv_from_mor(spark, mv_root, "lh", project)
            maintain_sec = time.perf_counter() - t0
            served_sec, mode2, r2 = timed_live()
            assert mode2 == "mv", mode2
            assert sorted(map(tuple, r1), key=nkey) == sorted(
                map(tuple, r2), key=nkey
            )
            out = {
                "rows": n,
                "merge_rows": m,
                "native_sec": round(native_sec, 3),
                "live_sec": round(live_sec, 3),
                "speedup": round(native_sec / max(live_sec, 1e-9), 1),
                "maintain_sec": round(maintain_sec, 3),
                "served_sec": round(served_sec, 3),
                "served_speedup": round(
                    native_sec / max(served_sec, 1e-9), 1
                ),
            }
            results["live_mv_hierarchy_serve"] = out
            print(
                json.dumps({"op": "live_mv_hierarchy_serve", **out}),
                flush=True,
            )
        finally:
            _sh.rmtree(base, ignore_errors=True)

    if args.only is not None and "live_mv_hierarchy_serve" in args.only:
        live_mv_hierarchy(int(200e6 * s))

    if args.only is None or "merge_file_scoped_1of16" in args.only:
        merge_file_scoped(int(40e6 * s))
    # NOT through run(): its wall spans build + 2x scoped + 2x full
    # rewrite, so a rows_per_sec over it measures nothing — the leg
    # emits its own merge_full_rewrite record with the meaningful
    # scoped/full split (round-9 review)
    if args.only is None or "merge_scoped_1of16" in args.only:
        merge_scoped(int(40e6 * s))
    if args.only is None or "mor_vs_cow_small_changeset" in args.only:
        mor_vs_cow(int(40e6 * s))
    if args.only is None or "mv_rewrite_speedup" in args.only:
        mv_rewrite(int(200e6 * s))
    if args.only is not None and "mv_maintain_vs_refresh" in args.only:
        mv_maintain_vs_refresh(int(200e6 * s))

    def topk_maintain_vs_refresh(n):
        """Round-19: the top-k-MV maintenance asymptote — after a mixed
        changeset (200 inserts + 20 deletes of current per-group TOP
        rows, i.e. every delete is boundary-risky) lands on the fact,
        bringing the ranked summary fresh via ``maintain_topk_mv``
        (merge+re-truncate over O(groups×k) + a semi-join-pruned
        recompute of the 20 risky groups) vs ``refresh_topk_mv``
        (re-rank O(fact)). Stored rows asserted IDENTICAL, so the
        speedup is for the same answer. The risky leg is the honest
        cost: it scans only the risky groups' slice of the fact."""
        import shutil as _sh
        import tempfile

        from pulsar_cdc_experiment_spark.plans.mv import (
            mv_data_dir as _mv_data_dir,
        )
        from pyspark.sql.window import Window as _W

        from pulsar_cdc_experiment_spark.plans.mv_topk import (
            create_topk_mv,
            maintain_topk_mv,
            refresh_topk_mv,
        )

        base = tempfile.mkdtemp(prefix="stress_tkm_")
        src_path = os.path.join(base, "fact")
        try:
            spark.range(n).select(
                (F.col("id") % 100_000).cast("string").alias("g"),
                F.col("id").alias("k"),
                (F.col("id") % 99_991).cast("long").alias("v"),
            ).write.parquet(src_path)
            src = spark.read.parquet(src_path)
            mv_root = os.path.join(base, "mvs")
            create_topk_mv(
                spark, mv_root, name="tk", source_path=src_path,
                source=src, group_cols=["g"],
                order_by=[("v", "desc"), ("k", "desc")], k=5,
                payload_cols=["k", "v"],
            )
            # deletes: the CURRENT #1 row of 20 groups (all risky)
            top_rows = (
                spark.read.parquet(_mv_data_dir(mv_root, "tk"))
                .filter(F.col("g").isin([str(i) for i in range(20)]))
                .withColumn(
                    "__rn",
                    F.row_number().over(
                        _W.partitionBy("g").orderBy(
                            F.col("v").desc(), F.col("k").desc()
                        )
                    ),
                )
                .filter(F.col("__rn") == 1)
                .select("g", "k", "v")
            )
            dels = [tuple(r) for r in top_rows.collect()]
            ins = [
                (str(i % 100_000), n + i, 99_990 + (i % 5))
                for i in range(200)
            ]
            # the post-change fact: original minus deleted keys plus
            # inserts (written so refresh sees the same state)
            del_keys = [k for _, k, _ in dels]
            src1_path = os.path.join(base, "fact1")
            src.filter(~F.col("k").isin(del_keys)).unionByName(
                spark.createDataFrame(
                    ins, "g string, k bigint, v bigint"
                )
            ).write.parquet(src1_path)
            src1 = spark.read.parquet(src1_path)
            changes = spark.createDataFrame(
                [(*r, 1) for r in ins] + [(*r, -1) for r in dels],
                "g string, k bigint, v bigint, __z int",
            )
            t0 = time.perf_counter()
            maintain_topk_mv(
                spark, mv_root, "tk", changes, base_new=src1
            )
            maintain_sec = time.perf_counter() - t0
            maintained = sorted(map(tuple, spark.read.parquet(
                _mv_data_dir(mv_root, "tk")
            ).collect()))
            t0 = time.perf_counter()
            refresh_topk_mv(spark, mv_root, "tk", src1)
            refresh_sec = time.perf_counter() - t0
            refreshed = sorted(map(tuple, spark.read.parquet(
                _mv_data_dir(mv_root, "tk")
            ).collect()))
            assert maintained == refreshed
            out = {
                "rows": n,
                "inserts": len(ins),
                "risky_deletes": len(dels),
                "maintain_sec": round(maintain_sec, 3),
                "refresh_sec": round(refresh_sec, 3),
                "speedup": round(
                    refresh_sec / max(maintain_sec, 1e-9), 1
                ),
            }
            results["topk_maintain_vs_refresh"] = out
            print(
                json.dumps({"op": "topk_maintain_vs_refresh", **out}),
                flush=True,
            )
        finally:
            _sh.rmtree(base, ignore_errors=True)

    if args.only is not None and "topk_maintain_vs_refresh" in args.only:
        topk_maintain_vs_refresh(int(200e6 * s))
    if args.only is not None and "join_mv_maintain_vs_refresh" in args.only:
        # two fact sizes: the asymptote is the point (fold flat, risky
        # scan-bound without the join, refresh fully linear)
        join_mv_maintain_vs_refresh(int(200e6 * s))
        join_mv_maintain_vs_refresh(int(800e6 * s))
    if args.only is not None and "mor_overlay_read_tax" in args.only:
        mor_overlay_tax(int(40e6 * s))
    if args.only is not None and "join_mv_hierarchy_serve" in args.only:
        join_mv_hierarchy(int(400e6 * s))
    if args.only is None or "ivm_join_delta_vs_recompute" in args.only:
        ivm_join(int(20e6 * s))
    run("chain_minlabel_d64", int(2e6 * s), chain_minlabel)
    run("chain_pointer_double_d64", int(2e6 * s), chain_pointer_double)
    run("interval_join_binned", int(20e6 * s), interval_join)
    run("jsonl_parse", int(60e6 * s), jsonl_parse)
    run("join_fact_dim", int(150e6 * s), join_fact_dim)
    run("window_partitioned", int(100e6 * s), window_partitioned)
    run("cdc_enrich_projection", int(50e6 * s), enrich_projection)
    run("minhash_signature_build", int(2e6 * s), minhash_signature_build)
    run("zorder_build", int(20e6 * s), zorder_build)
    run("pagerank_3iter", int(15e6 * s), pagerank_3iter)

    print(json.dumps({"metric": "stress", "cores": cores, "ops": results}))
    spark.stop()


if __name__ == "__main__":
    main()

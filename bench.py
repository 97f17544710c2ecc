"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default sf0.1).

Prints TWO JSON lines (round-8 truncation-proofing — the driver records
only the LAST ~2000 chars of stdout, and the r7 single line outgrew that
window, losing the min-of-3 map from the committed artifact):

1. the FULL record — {"metric": "headline_total", "value": <sec>,
   "unit": "sec", "queries": {name: sec}, "spread": {...},
   "steady": {...}, "steady_value": <sec>, "calib_sec": <sec>,
   "key_aliases": {...}, "skew_join": {...}, "sf": <sf>, "cpus": <n>,
   "shuffle_partitions": <n>} — for anyone reading the raw run log;
   ``cpus`` is the session's core count (its default parallelism) and
   ``shuffle_partitions`` the effective ``spark.sql.shuffle.partitions``;
2. a COMPACT line, printed LAST and size-guarded to fit a 2000-char tail
   whole, carrying everything the round artifact must retain:
   {"metric": ..., "value", "steady_value", "unit", "sf", "calib_sec",
   "fmt": "min3", "queries": {name: min3}, "legs_bs": [[build, serve]
   x6 in LEG_BREAKDOWN order], "cpus", "shuffle_partitions"}
   (1-decimal per-query since round 19 — the 64-entry map outgrew the
   window at 2 decimals; quantization is inside the measured same-day
   envelope — keys pre-canonicalized: round 17 sheds the key_aliases
   map from the tail artifact by applying it at emission).
   tools/bench_series.py expands the r8-r12 pair format back into the
   min3 and steady series for older artifacts.

``calib_sec`` is a fixed-work machine-calibration constant (hash-agg over
a constant range, one small shuffle, min-of-3) measured in the same
session as the queries: cross-VM comparisons divide by the calib ratio
before calling a reading a regression (the r7 driver VM read 15-25% high
with byte-identical plans; SCALE.md "Measurement methodology").

Execution is forced with a noop-format write (full materialization, no
driver collect) except for top-k/limit queries where collect is the honest
cost. Times include planning — that's what a user pays.

Methodology: FIVE timed runs per query. ``queries``/``value`` are the
min of the first 3 runs; ``steady``/``steady_value`` are the median of
the last 3 runs — past the volume-dependent JIT tail that min-of-3
occasionally catches. Both numbers ship in the artifact. Fixture-building
queries (layout/ingest) get their session fixture cache cleared before
every run so the measured cost stays the FULL build+probe cycle.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Headline set: the scan/join/agg/window/CDC/LLM shapes that dominate real
# workloads. Names must exist in the registry.
HEADLINE = [
    "udf_pandas_vectorized",    # Arrow UDF path (first: Python workers still warm)
    "pricing_summary",          # TPC-H Q1: scan + hash agg
    "forecast_revenue",         # TPC-H Q6: selective scan
    "shipping_priority",        # TPC-H Q3: join + agg + top-k
    "join_revenue_by_nation",   # star join (flagship)
    "join_left_outer",          # outer join + agg
    "window_rank",              # ranking window
    "window_running_frame",     # framed window aggs
    "cdc_latest_state",         # CDC materialization fold
    "window_tumbling",          # event-time window
    "distinct_counts",          # count-distinct
    "dedup_minhash_lsh_fast",   # MinHash+LSH near-dup (engine-hash fast path;
                                # same computation benched as dedup_minhash_lsh in r01/r02)
    "text_quality",             # text analysis expressions
    "embed_topk_cosine",        # embedding similarity
    "cdc_enrich_e2e",           # the reference's full data plane: parse->enrich->serialize->verify
    "asof_join_state",          # temporal state lookup
    "stream_tumbling_agg",      # real Structured Streaming job (AvailableNow)
    "llm_prep_pipeline",        # composed prep: quality->dedup->sample->stats
    "order_value_deciles",      # distributed exact ntile (no global sort)
    # round-5 additions: the four queries whose round-4 plans carried
    # data-proportional broadcast hints / eager counts (now removed —
    # benched so the fixes are measured), plus the r4 gap-fill operator
    "retention_cohorts",        # cohort matrix (signup join, no pinned broadcast)
    "text_unigram_logprob",     # unigram LM scoring (in-plan N, no vocab hint)
    "text_tfidf_top_terms",     # TF-IDF (in-plan N, no df-table hint)
    "stream_dedup_against_corpus",  # stream-vs-corpus dedup (bucketed corpus tables)
    "time_gapfill_locf",        # gap-fill + last-observation-carried-forward
    # round-6 additions: the two new user-facing capabilities, benched so
    # their cost is tracked round-over-round
    "zorder_events_slabs",      # OPTIMIZE-ZORDER cycle: layout build + 2-D slab probes
    "stream_cdc_multi_table_state",  # streaming fan-out: per-table routed sinks + folds
    # round-6 continuation: five new capability classes, benched from birth
    "graph_pagerank",           # iterative dataflow: 3 unrolled join+agg rounds
    "cdc_incremental_agg",      # IVM delta fold (O(groups) state, one shuffle)
    "ingest_jsonl_events",      # text ingest: JSONL write + schema-on-read + agg
    "table_maintenance_report", # OPTIMIZE composite: fragment->compact+zorder+stats
    "funnel_conversion",        # per-user min-agg chain, co-partitioned joins
    # round-7 additions: the four new batch capabilities, benched from
    # birth (stream_auto_maintenance stays out per the stream-IVM
    # precedent: its sf0.1 wall is micro-batch fixture overhead)
    "graph_pagerank_converged",     # residual-gated iteration (stops ~round 5)
    "incremental_maintenance_report",  # partition-scoped OPTIMIZE cycle
    "multimodal_serving_pipeline",  # binary media: quarantine->dedup->decode
    "bucketed_join_revenue",        # SMB join: zero-shuffle fact-fact probe
    "interval_shipping_pressure",   # keyless containment join, binned (no BNLJ)
    # round-8 additions
    "interval_mixed_widths",        # max_bins: typical-width bins + bounded
                                    # explode for the rare long interval
    "interval_overlap_windows",     # interval x interval overlap join,
                                    # binned + in-plan exactly-once dedup
    # round-9 additions
    "merge_upsert_partitioned",     # copy-on-write MERGE: partitioned base
                                    # build + partition-pruned apply cycle
    "cdc_merge_apply",              # CDC changeset fold -> MERGE apply
    "stream_stream_left_outer",     # outer stream-stream join + wm flush
    "corpus_dedup_segments",        # segment-grid exact dedup + rebuild
    # round-12 addition
    "merge_upsert_composite",       # two-level-partitioned MERGE: tuple
                                    # touched discovery + leaf-level swap
    # round-13 additions: new capability classes, benched from birth
    "ivm_minmax_delta",             # non-invertible-aggregate IVM: fold +
                                    # risky-group semi-join recompute
    "recursive_cte_hierarchy",      # native WITH RECURSIVE traversal
    "window_session_dynamic_gap",   # per-row-gap session windows
    "corpus_mixture_temperature",   # temperature-scaled mixture sampling
    # round-14 additions: merge-on-read + aggregate navigation
    "merge_upsert_dv",              # DV sidecar + delta append + overlay read
    "mv_rollup_rewrite",            # MV build + rollup rewrite + base fallback
    # round-15 additions: the closed CDC->MoR->MV loop and the
    # policy-triggered MoR compaction, benched from birth
    "mv_mor_feed_capstone",         # merge -> change feed -> maintain_mv -> serve
    "merge_dv_auto_compact",        # 3 merges + metadata decision + compaction
    # round-16 additions: join-bearing MVs and streaming MV maintenance,
    # benched from birth
    "mv_join_maintain",             # star-join MV: dJ+dD+dJdD fold + serve
    "stream_mv_maintain",           # foreachBatch MoR apply + per-batch MV catch-up
    "mv_join_mor_feed",             # join MV riding the MoR sequence clock
    # round-17 additions: join-MV grouping constructs, the mid-stream
    # auto-compaction x MV catch-up capstone, and the workload advisor,
    # benched from birth
    "mv_join_rollup_hierarchy_rewrite",  # ROLLUP over a star join from MV partials
    "stream_mv_auto_compact",       # stream: merge + MV catch-up + policy compaction
    "mv_advisor_workload",          # advise -> estimate -> create -> serve both requests
    # round-18 additions: live (lambda) hierarchy serving, the
    # consistent multi-MV snapshot read, and the join-aware advisor,
    # benched from birth
    "mv_live_hierarchy_serve",      # ROLLUP from a STALE MV: one compose, n+1 levels
    "mv_snapshot_read",             # leases + one pinned boundary across 2 MVs
    "mv_join_advisor_workload",     # star workload -> one advised join MV -> serve 3 legs
    # round-19 additions: derived group keys over the join family,
    # benched from birth
    "mv_join_time_hierarchy_rewrite",  # year()-grain star ROLLUP from a date-grain join MV
    "mv_join_time_hierarchy_live",  # same hierarchy from a STALE MV: compose + re-key
    "mv_policy_fleet_serve",        # zero-job rate-flipped routing + live serve
    "mv_topk_rewrite",              # ranked summary: 3 serve legs incl. rollup-the-union
    "mv_topk_live",                 # stale top-k MV: merge+truncate compose, risky recompute
]

# Restrict the headline set for controlled experiments (round-17 verdict
# #4: measure the shared-subset drift in an ISOLATED session vs the full
# sweep): comma-separated names, or the literal "r16" for the 55-query
# set shared with BENCH_r16. Unset = full headline.
_SUBSET = os.environ.get("SPARK_GRAFT_BENCH_SUBSET")
if _SUBSET == "r16":
    _R17_PLUS = {
        "mv_join_rollup_hierarchy_rewrite", "stream_mv_auto_compact",
        "mv_advisor_workload", "mv_live_hierarchy_serve",
        "mv_snapshot_read", "mv_join_advisor_workload",
    }
    HEADLINE = [n for n in HEADLINE if n not in _R17_PLUS]
elif _SUBSET:
    _WANT = set(_SUBSET.split(","))
    HEADLINE = [n for n in HEADLINE if n in _WANT]

COLLECT_QUERIES = {"shipping_priority", "embed_topk_cosine"}


def measure_skew(spark) -> dict[str, float]:
    """Skew-join evidence: one hot key holding ~90% of a synthetic fact
    table, joined to a dim too large to broadcast (the 100 TB scenario
    salting exists for — at that scale the other side never broadcasts).

    Four legs, same data, same result:
      plain           — sort-merge join, AQE skew mitigation OFF (the
                        naive plan: the hot key's partition lands on ONE
                        task)
      salted          — plans/skew.salted_join, skew mitigation OFF (our
                        operator spreads the hot key over 32 sub-keys)
      plain_aqe       — AQE skewJoin ON at DEFAULT thresholds. Expected
                        ≈ plain at this SF: the hot partition (~10 MB of
                        shuffle bytes) is far below the default
                        skewedPartitionThresholdInBytes (256 MB), so the
                        optimizer correctly declines — a threshold
                        artifact of the small SF, not a capability gap
                        (SCALE.md "AQE skew-join decision rule")
      plain_aqe_tuned — AQE skewJoin ON with the thresholds sized to the
                        ACTUAL shuffle (8m/4m): the hot partition now
                        exceeds the threshold, OptimizeSkewedJoin splits
                        it (SortMergeJoin(skew=true), plan-asserted in
                        tests/test_scale_plans.py), and most of the
                        salted win comes back with zero query rewrite —
                        the knob a 100 TB user reaches for FIRST
    """
    from pyspark.sql import functions as F

    from pulsar_cdc_experiment_spark.plans.skew import salted_join

    n_fact, n_keys = 8_000_000, 200_000
    fact = spark.range(n_fact).select(
        F.when(F.col("id") % 20 < 19, F.lit(0))
        .otherwise(F.pmod(F.hash(F.col("id")), F.lit(n_keys)))
        .alias("k"),
        (F.col("id") % 97).cast("double").alias("v"),
    )
    dim = spark.range(n_keys).select(
        F.col("id").alias("k"), (F.col("id") % 7).cast("double").alias("w")
    )

    def run(make_joined) -> float:
        t0 = time.perf_counter()
        out = make_joined().agg(
            F.sum(F.col("v") * F.col("w")).alias("s"), F.count("*").alias("n")
        )
        out.collect()
        return time.perf_counter() - t0

    conf = spark.conf
    prev_bc = conf.get("spark.sql.autoBroadcastJoinThreshold")
    prev_skew = conf.get("spark.sql.adaptive.skewJoin.enabled")
    prev_parts = conf.get("spark.sql.shuffle.partitions")
    timings: dict[str, float] = {}
    try:
        conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        conf.set("spark.sql.adaptive.skewJoin.enabled", "false")
        # cluster-shaped parallelism for the measurement (the headline set
        # sizes partitions to the small SF; skew is about task IMBALANCE)
        conf.set("spark.sql.shuffle.partitions", "32")
        timings["plain"] = round(min(run(lambda: fact.join(dim, "k")) for _ in (0, 1)), 3)
        timings["salted"] = round(
            min(run(lambda: salted_join(fact, dim, "k", salts=32)) for _ in (0, 1)), 3
        )
        conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
        timings["plain_aqe"] = round(
            min(run(lambda: fact.join(dim, "k")) for _ in (0, 1)), 3
        )
        conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "8m"
        )
        conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "4m")
        timings["plain_aqe_tuned"] = round(
            min(run(lambda: fact.join(dim, "k")) for _ in (0, 1)), 3
        )
    finally:
        conf.set("spark.sql.autoBroadcastJoinThreshold", prev_bc)
        conf.set("spark.sql.adaptive.skewJoin.enabled", prev_skew)
        conf.set("spark.sql.shuffle.partitions", prev_parts)
        conf.unset("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes")
        conf.unset("spark.sql.adaptive.advisoryPartitionSizeInBytes")
    return timings


def _median(xs: list[float]) -> float:
    """True median: averages the two middle elements for even-length
    input (r7 ADVICE — sorted(xs)[len//2] biased the 4-run setting's
    steady number high)."""
    s = sorted(xs)
    mid = len(s) // 2
    m = s[mid] if len(s) % 2 else (s[mid - 1] + s[mid]) / 2
    return round(m, 3)


def _compact_line(compact: dict, limit: int = 1990) -> str:
    """Serialize the compact artifact dict under the driver's tail
    window. Shed the least-essential fields first (they remain in the
    FULL line for any reader with the complete run log; shedding is
    lossy for the tail-only artifact BY DESIGN — the shed fields are
    secondary to the per-query series, and test_bench_artifact.py
    alerts while the unshedded line still fits); then trade pair
    precision for fit; and if even 1-decimal pairs overflow, fail
    LOUDLY (round-8 review: a headline set grown past what shedding
    absorbs must not silently reintroduce the r7 truncation). Operates
    on a copy — the caller's dict is never mutated."""
    compact = dict(compact)
    line = json.dumps(compact, separators=(",", ":"))
    # legs_bs sheds FIRST (round 20, r19 verdict #1): the per-query
    # map now carries the six lifecycle heavyweights under their
    # canonical names, so legs_bs is a secondary breakdown that also
    # lives in the FULL line and SCALE.md's round notes — it must never
    # displace a per-query entry from the driver-visible series.
    # calib_sec is the cross-VM comparison key, last survivor.
    # The host shape (cpus, shuffle_partitions) sheds just before it.
    for drop in (
        "legs_bs", "skew_join", "key_aliases", "shuffle_partitions",
        "cpus", "calib_sec",
    ):
        if len(line) <= limit:
            break
        compact.pop(drop, None)
        line = json.dumps(compact, separators=(",", ":"))
    if len(line) > limit:
        compact["queries"] = {
            n: (
                [round(v[0], 1), round(v[1], 1)]
                if isinstance(v, list)
                else round(v, 1)
            )
            for n, v in compact["queries"].items()
        }
        line = json.dumps(compact, separators=(",", ":"))
        if len(line) > limit:
            raise RuntimeError(
                f"compact bench line {len(line)} chars exceeds the tail "
                "window even at 1-decimal precision; split the artifact"
            )
    return line


def measure_calibration(spark) -> float:
    """Fixed-work machine-speed probe: hash-reduce 64M longs through one
    1000-bucket shuffle. No data dependence, no Python workers, no IO —
    the ratio of two machines' calib_sec is the factor to divide out
    before comparing their steady maps (min-of-3 of 3 runs)."""
    from pyspark.sql import functions as F

    def once() -> float:
        t0 = time.perf_counter()
        (
            spark.range(64_000_000)
            .groupBy(F.pmod(F.hash(F.col("id")), F.lit(1000)).alias("b"))
            .agg(F.sum(F.col("id") % 97).alias("s"))
            .agg(F.sum("s"))
            .collect()
        )
        return time.perf_counter() - t0

    once()  # warm codegen
    return round(min(once() for _ in range(3)), 3)


def main() -> None:
    from pulsar_cdc_experiment_spark.session import (
        get_spark,
        shuffle_partitions_for_bytes,
    )

    import __spark_entry__ as entry_mod

    sf_bytes = sum(
        os.path.getsize(os.path.join(SF_DIR, f))
        for f in os.listdir(SF_DIR)
        if f.endswith(".parquet")
    )
    spark = get_spark(
        app_name="bench",
        shuffle_partitions=shuffle_partitions_for_bytes(sf_bytes),
    )
    # the host shape the run was measured on, read before any query
    # can change the session's conf
    cpus = spark.sparkContext.defaultParallelism
    shuffle_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    queries = dict(entry_mod.queries())
    # Bench-only entry: the engine-hash MinHash fast path is a plain
    # function (not @register'd — it has no DuckDB oracle and would put a
    # grey row in the driver's correctness sample; the oracle-backed
    # registration of the same plan shape is dedup_minhash_lsh).
    from pulsar_cdc_experiment_spark.queries.llm_ops import dedup_minhash_lsh_fast

    queries["dedup_minhash_lsh_fast"] = dedup_minhash_lsh_fast

    # Warm the JVM/IO once with a trivial action so query 1 isn't charged
    # for session spin-up, and fork the Python UDF workers once so the
    # first pandas-UDF query isn't charged ~1.5 s of worker startup.
    spark.read.parquet(os.path.join(SF_DIR, "region.parquet")).count()
    from pyspark.sql import functions as F

    _warm = F.pandas_udf(lambda s: s, "double")
    spark.range(1000).select(_warm(F.col("id").cast("double"))).write.format(
        "noop"
    ).mode("overwrite").save()

    # Compile every headline plan's generated code against the tiny SF so
    # the timed runs measure execution, not first-call JIT/codegen. (A real
    # deployment amortizes compilation across the job's lifetime the same
    # way.)
    warm_sf = "/root/testdata/sf0.001"
    if os.path.isdir(warm_sf) and warm_sf != SF_DIR:
        for name in HEADLINE:
            try:
                df = queries[name](spark, warm_sf)
                if name in COLLECT_QUERIES:
                    df.collect()
                else:
                    df.write.format("noop").mode("overwrite").save()
            except Exception:
                pass  # warm-up is best-effort; the timed run will surface errors

    from pulsar_cdc_experiment_spark.queries import fixture_cache

    # fixture-building headline queries: clear the session fixture cache
    # before EVERY timed run so each run pays the full build+probe cycle
    # (the quantity r1–r6 benched; without this, runs 2+ would measure
    # the probe alone and read as a phantom 2–5x speedup)
    # NOT cleared: bucketed_join_revenue — its steady state IS the probe
    # (the bucketed layout is paid once at ingest; re-paying the
    # saveAsTable every run would bench the write, not the capability)
    FIXTURE_BUILDERS = {
        "zorder_events_slabs",
        "table_maintenance_report",
        "ingest_jsonl_events",
        "incremental_maintenance_report",
        "multimodal_serving_pipeline",
        # the MERGE cycle (partitioned base build + changeset apply) IS
        # the operator — re-paid every run like the other layout ops
        "merge_upsert_partitioned",
        "merge_upsert_composite",
        "cdc_merge_apply",
        # MoR cycle likewise: init + sidecar merges + overlay read,
        # re-paid every run
        "merge_upsert_dv",
        # MV cycle: summary build + fingerprint + rollup serve
        "mv_rollup_rewrite",
        # the closed loop (init + MV build + merge + feed + maintain +
        # serve) and the policy cycle (3 merges + decision + compaction)
        # ARE the operators — re-paid every run
        "mv_mor_feed_capstone",
        "merge_dv_auto_compact",
        # round 16: the join-MV cycles (build + source churn + Z-set
        # fold + serve; the MoR-bound variant inits the table and spans
        # two merges per catch-up) and the streaming MV loop (3-batch
        # stream + per-batch merge + catch-up) — re-paid every run,
        # same policy as their plain-MV relatives above
        "mv_join_maintain",
        "mv_join_mor_feed",
        "stream_mv_maintain",
        # round 17: the hierarchy serve (join-MV build + n+1-level
        # union), the mid-stream-compaction capstone (4-batch stream +
        # per-batch merge/catch-up + triggered compaction), and the
        # advisor cycle (advise + one-job estimate + create + serve)
        # — re-paid every run, same policy as their relatives
        "mv_join_rollup_hierarchy_rewrite",
        "stream_mv_auto_compact",
        "mv_advisor_workload",
        # round 18: the join-advisor cycle (advise + one-job estimate +
        # create both specs + serve 3 legs) IS the operator — re-paid
        # every run like mv_advisor_workload.
        # NOT mv_live_hierarchy_serve / mv_snapshot_read: the
        # capability under test is SERVING from an existing (stale)
        # summary — their steady state IS the serve, same policy as
        # bucketed_join_revenue (run 1 pays the shared mv_live fixture
        # once; min-of-3 reads the serve)
        "mv_join_advisor_workload",
        # NOT stream_stream_left_outer: its staged feed is plain source
        # staging (the operator is the stateful join, re-run in full
        # every invocation regardless)
    }

    def run_once(name: str) -> float:
        if name in FIXTURE_BUILDERS:
            # markers=False: keep session_once catalog fixtures (the
            # bucketed tables) — clearing them here would push their
            # saveAsTable rebuild into a LATER query's timed region
            fixture_cache.clear(markers=False)
        t0 = time.perf_counter()
        df = queries[name](spark, SF_DIR)
        if name in COLLECT_QUERIES:
            df.collect()
        else:
            df.write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    # FIVE timed runs per query. `queries` = min of the first 3 (the
    # r1–r6 series, kept for continuity); `steady` = median of the last
    # 3 (runs 3–5). Rationale: the first sf0.1 run after the sf0.001
    # warm-up still pays volume-dependent JIT, so min-of-3 occasionally
    # catches only warm-up tail (round-3 postmortem: a 5-run probe of
    # asof_join_state showed [2.67, 0.92, 0.75, 0.69, 0.60] s with
    # unchanged plans; the r4→r6 common-set "drift" had the same
    # signature). Median-of-last-3 is insensitive to both the tail and a
    # single GC/page-cache outlier.
    # SPARK_GRAFT_BENCH_RUNS trims the per-query run count (min 3) for
    # time-budgeted environments; steady is then the median of the last
    # min(3, runs-2) runs
    n_runs = max(3, int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "5")))
    timings: dict[str, float] = {}
    spreads: dict[str, float] = {}
    steady: dict[str, float] = {}
    errors: dict[str, str] = {}
    for name in HEADLINE:
        # deterministic per-query cache state: persisted datasets from
        # EARLIER queries (graph edge structures, as-of state, corpus
        # indexes) otherwise accumulate across the sweep and the 8g
        # driver heap hits GC churn — observed as isolated-probe-fast
        # queries reading 3-6x slow mid-sweep. Within a query's own 5-run
        # block the cache persists, so iterative queries still measure
        # their cached steady state from run 2 on.
        spark.catalog.clearCache()
        # per-query error isolation (round-11 postmortem: ONE broken
        # fixture aborted the whole artifact — a red query must cost one
        # error entry, never the round's bench data)
        try:
            runs = [run_once(name) for _ in range(n_runs)]
        except Exception as e:  # noqa: BLE001 — record and move on
            errors[name] = f"{type(e).__name__}: {e}"[:300]
            print(f"BENCH ERROR {name}: {errors[name]}", file=sys.stderr)
            continue
        timings[name] = round(min(runs[:3]), 3)
        spreads[name] = round(max(runs[:3]) - min(runs[:3]), 3)
        steady[name] = _median(runs[2:])

    # Per-leg breakdown for the lifecycle heavyweights (round 19,
    # r18 verdict #6): their benched quantity is the FULL cycle
    # (fixture build + mutations + maintenance + serve), so BENCHSERIES
    # cannot tell a maintenance regression from a fixture-build one.
    # One extra WARM run (fixture cache intact) isolates the serve leg;
    # build = min3(full) - serve. For queries whose operator re-runs in
    # full regardless of the cache (streaming cycles), serve ≈ full and
    # the breakdown honestly reports build ≈ 0 — the cost IS the
    # lifecycle.
    LEG_BREAKDOWN = [
        "stream_mv_auto_compact",
        "stream_mv_maintain",
        "mv_join_mor_feed",
        "mv_mor_feed_capstone",
        "mv_join_maintain",
        "merge_upsert_dv",
    ]
    legs: dict[str, list[float]] = {}
    for name in LEG_BREAKDOWN:
        if name not in timings:
            continue
        spark.catalog.clearCache()
        try:
            # untimed WARM pass first: the main loop's run_once cleared
            # the session fixture cache before every run of these
            # queries (they are all FIXTURE_BUILDERS), so without this
            # the 'warm' measurement below would re-pay the fixture
            # build and report build ≈ 0 for every leg (round-19
            # review finding)
            df = queries[name](spark, SF_DIR)
            if name in COLLECT_QUERIES:
                df.collect()
            else:
                df.write.format("noop").mode("overwrite").save()
            t0 = time.perf_counter()
            df = queries[name](spark, SF_DIR)
            if name in COLLECT_QUERIES:
                df.collect()
            else:
                df.write.format("noop").mode("overwrite").save()
            serve = time.perf_counter() - t0
        except Exception as e:  # noqa: BLE001
            errors[f"legs:{name}"] = f"{type(e).__name__}: {e}"[:200]
            continue
        legs[name] = [
            round(max(0.0, timings[name] - serve), 2), round(serve, 2)
        ]

    # cdc_enrich_e2e measures plane + oracle parse-back (the parse-back was
    # added in r02 for the value-level oracle, +~0.4s). Bench the DATA PLANE
    # alone too — parse → enrich → serialize, no parse-back — so
    # round-over-round numbers track the engine, not the verification
    # harness. (Not a registry query: it has no oracle of its own; the e2e
    # oracle already value-checks this exact plane end-to-end.)
    from pulsar_cdc_experiment_spark.operators.enrichment import (
        enrich_json_or_passthrough,
    )
    from pulsar_cdc_experiment_spark.queries.cdc import synthesize_envelopes

    def run_plane() -> float:
        t0 = time.perf_counter()
        raw = synthesize_envelopes(spark, SF_DIR, variants=True)
        enrich_json_or_passthrough(raw).write.format("noop").mode(
            "overwrite"
        ).save()
        return time.perf_counter() - t0

    run_plane()  # warm codegen
    plane_runs = [run_plane() for _ in range(4)]
    timings["cdc_enrich_plane"] = round(min(plane_runs[:2]), 3)
    steady["cdc_enrich_plane"] = _median(plane_runs[1:])

    skew = measure_skew(spark)
    calib = measure_calibration(spark)

    sf = SF_DIR.rstrip("/").split("sf")[-1]
    try:
        sf = float(sf)
    except ValueError:
        pass
    aliases = {"dedup_minhash_lsh_fast": "dedup_minhash_lsh"}
    full = {
        "metric": "headline_total",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "spread": spreads,
        # steady-state (median of runs 3–5) alongside min-of-3:
        # the number to read for round-over-round comparisons
        "steady": steady,
        "steady_value": round(sum(steady.values()), 3),
        # round-over-round continuity: r01/r02 benched this exact
        # computation under the old key (ADVICE r3)
        "key_aliases": aliases,
        "skew_join": skew,
        "calib_sec": calib,
        # per-leg breakdown [build, serve] for the lifecycle
        # heavyweights (see LEG_BREAKDOWN)
        "legs": legs,
        "sf": sf,
        "cpus": cpus,
        "shuffle_partitions": shuffle_parts,
    }
    if errors:
        full["errors"] = errors
    print(json.dumps(full))
    # compact artifact line LAST (module docstring: the driver's tail
    # window keeps the END of stdout, so this is the line that survives)
    # round-13: fmt "min3" — single min-of-3 values. The r7-r12 pair
    # format ([min3, steady] per query) outgrew the 2000-char tail at 48
    # headline entries; the per-query steady series now lives only in
    # the FULL line above (local logs), while the tail keeps the primary
    # min3 series, the aggregate steady_value, skew legs and calib —
    # the fields every cross-round comparison actually reads.
    compact = {
        "metric": "headline_total",
        "value": full["value"],
        "steady_value": full["steady_value"],
        "unit": "sec",
        "sf": sf,
        "calib_sec": calib,
        # round 20 (r19 verdict #1): fmt back to "min3" — EVERY headline
        # query, including the six LEG_BREAKDOWN heavyweights, appears in
        # the tail "queries" map under its canonical name (the r19
        # "min3L" omission made PERF report the six improved heavyweights
        # as dropped_from_bench). The room comes from shedding legs_bs
        # first in the ladder: the full 66-entry map + calib fits the
        # 1990-char window (measured 1,924 chars at uniform 2 decimals).
        "fmt": "min3",
        # round 17: the compact line emits timings under CANONICAL
        # names (aliases pre-applied) instead of carrying the alias
        # map — the 58-entry headline set outgrew the tail window with
        # the map aboard, and the map's only consumer (bench_series)
        # needs the canonical key either way; the FULL line above keeps
        # the raw key + key_aliases for run-log readers.
        # round 18: skew_join shed from the tail artifact — the
        # 61-entry set outgrew the window with it aboard (the runtime
        # ladder would have shed it anyway; this makes the decision
        # explicit). The skew legs stay in the FULL line and are
        # recorded per round in BENCHSERIES.md from the local run.
        # round 19: adaptive precision in the tail artifact — the
        # 64-entry map outgrew the window at uniform 2 decimals even
        # with every secondary field shed. Entries >= 1 s drop to 1
        # decimal (±0.05 s, far inside the ±18% same-day envelope);
        # SUB-SECOND entries keep 2 decimals, where ±0.05 s would be a
        # ±30%+ phantom (review finding: 0.14 -> 0.16 would read as
        # 0.1 -> 0.2). The FULL line above keeps 3 decimals.
        "queries": {
            aliases.get(n, n): (
                round(timings[n], 2)
                if timings[n] < 1.0
                else round(timings[n], 1)
            )
            for n in timings
        },
        # round 19: per-leg [build, serve] pairs for the lifecycle
        # heavyweights, ARRAY-FORM in LEG_BREAKDOWN order at 1-decimal
        # (the named 2-decimal map lives in the FULL line's "legs"; the
        # tail window cannot fit the six ~22-char names twice, and the
        # order is pinned by the LEG_BREAKDOWN constant + BENCHSERIES)
        # null placeholders keep the positional contract when a leg
        # errored — consumers decode against LEG_BREAKDOWN by index
        "legs_bs": [
            (
                [round(legs[n][0], 1), round(legs[n][1], 1)]
                if n in legs
                else None
            )
            for n in LEG_BREAKDOWN
        ],
        "cpus": cpus,
        "shuffle_partitions": shuffle_parts,
    }
    if errors:
        compact["errors"] = sorted(errors)
    line = _compact_line(compact)
    # stop BEFORE the final print: the driver's capture merges stderr,
    # and any JVM shutdown chatter emitted after the compact line would
    # displace it from the 2000-char tail window — the exact failure
    # this line exists to prevent
    spark.stop()
    print(line, flush=True)


if __name__ == "__main__":
    main()

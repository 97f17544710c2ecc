"""CDC apply-and-serve benchmark: one workload, one client, closed loop.

    python3 perfbench/run.py --workload cdc_cow --seed 1 --seconds 20 --trace 0

Each round writes one seeded feed file, applies it (enriched sink, then a
fold into a changeset committed to the table), and serves reads over the
committed state. Every output is checked against the generator's oracle
(``feed.py``). The last stdout line is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``. The line before
it starts with ``info`` and carries the run's steal time and read routes.

A run measures a fixed number of rounds, so that its byte counts are
fixed work for a seed: ``--seconds`` is turned into whole maintain cycles
of a nominal 4 s round (a 4-core VM).
All work files live under ``.perfbench/`` in the checkout.
"""

from __future__ import annotations

import time

_T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shlex  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402
from collections import Counter  # noqa: E402
from contextlib import contextmanager  # noqa: E402
from dataclasses import dataclass  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
# the engine is imported from this checkout; without it the run fails here
sys.path.insert(0, ROOT)

from pyspark.sql import functions as F  # noqa: E402

from feed import Feed, write_lines  # noqa: E402
from pulsar_cdc_experiment_spark.operators.enrichment import email_domain  # noqa: E402
from pulsar_cdc_experiment_spark.operators.materialize import latest_state  # noqa: E402
from pulsar_cdc_experiment_spark.pipeline import CdcPipeline  # noqa: E402
from pulsar_cdc_experiment_spark.plans.merge import (  # noqa: E402
    merge_into,
    vacuum_merge_history,
)
from pulsar_cdc_experiment_spark.plans.mor import (  # noqa: E402
    auto_compact_mor,
    init_mor,
    merge_into_mor,
    read_mor,
)
from pulsar_cdc_experiment_spark.plans.mv import (  # noqa: E402
    answer_aggregate_live,
    bind_mv_to_mor,
    create_mv,
    maintain_mv_from_mor,
)
from pulsar_cdc_experiment_spark.session import get_spark  # noqa: E402
from pulsar_cdc_experiment_spark.sources.cdc import parse_envelopes  # noqa: E402
from pulsar_cdc_experiment_spark.sources.tables import read_dir  # noqa: E402
from spans import (  # noqa: E402
    Tracer,
    attach_jobs,
    read_event_log,
    span_tree,
    steal_seconds,
)

MIB = 1024 * 1024
PART_IDS = 1000  # ids per table partition
MV = "by_domain"
AGGS = {"n": ("count", None), "sum_id": ("sum", "id")}
ROW_SCHEMA = "id bigint, name string, email string, created_at bigint, part string"
# A choice bounded by the run budget: a third of the ~18k-row table that
# earlier probes of live answers and maintenance used, so a run (JVM start,
# warm-up and the measured rounds) stays near a minute on a 4-core VM.
BOOTSTRAP_ROWS = 6000
ROUND_S = 4.0  # nominal seconds per round on a 4-core VM


@dataclass(frozen=True)
class Shape:
    table: str  # "cow", or "mor" with a domain MV bound to the table
    batch: int  # feed lines per round
    cycle: int  # rounds per maintain + compaction (mor)
    warmup: int  # rounds run before measuring; counted in setup_s


WORKLOADS = {
    # CoW apply is still falling steeply in the second round of a fresh
    # JVM, hence two warm-up rounds
    "cdc_cow": Shape("cow", 300, 1, warmup=2),
    # the warm-up round is a maintain round (-1 % 4 == 3), so maintain and
    # compaction are warm too; one round in four maintains, well away from
    # half, so the medians stay plain-round samples
    "mor_serve": Shape("mor", 100, 4, warmup=1),
}


class Mismatch(Exception):
    """An output differs from the oracle."""


def file_index(roots: list[str]) -> dict[tuple, int]:
    """(device, inode, mtime) -> size of every file under ``roots``. A
    hard link to a kept file is the same inode, so it counts once."""
    out = {}
    for root in roots:
        for dirpath, _dirs, files in os.walk(root):
            for name in files:
                st = os.lstat(os.path.join(dirpath, name))
                out[(st.st_dev, st.st_ino, st.st_mtime_ns)] = st.st_size
    return out


def new_bytes(before: dict, after: dict) -> int:
    return sum(size for key, size in after.items() if key not in before)


def median(xs):
    """Median for a per-layer metric; 0 for a layer the workload does not run."""
    return statistics.median(xs) if xs else 0


def _json(path: str) -> dict:
    with open(path) as f:
        return json.load(f)


def project(df):
    """Table or change-feed rows -> the MV's group and measure columns."""
    cols = [email_domain(F.col("email")).alias("domain"), F.col("id")]
    if "change_type" in df.columns:
        cols = [F.col("change_type")] + cols
    return df.select(*cols)


def aggregate(df):
    """The serving query over current table state: rows and id sum per
    email domain (the reference's email insight)."""
    return project(df).groupBy("domain").agg(
        F.count("*").alias("n"), F.sum("id").alias("sum_id")
    )


class Bench:
    def __init__(self, spark, tracer: Tracer, shape: Shape, seed: int, run_dir: str):
        self.spark = spark
        self.t = tracer
        self.shape = shape
        self.feed = Feed(seed)
        self.dir = run_dir
        self.table = os.path.join(run_dir, "table")
        self.mvs = os.path.join(run_dir, "mvs")
        self.sink = os.path.join(run_dir, "sink")
        self.attempted = 0
        self.failed = 0
        self.apply_ms: list[float] = []
        self.read_ms: list[float] = []
        self.phase_s = 0.0
        self.events = 0
        self.routes: Counter = Counter()

    # -- engine calls, one span each ----------------------------------------

    def bootstrap(self) -> None:
        # rows go through a file, not createDataFrame: a local relation
        # would start Python workers, a cost no round pays
        path = os.path.join(self.dir, "bootstrap", "rows.json")
        write_lines(path, [
            json.dumps({"id": i, "name": n, "email": e, "created_at": c,
                        "part": str(i // PART_IDS)})
            for i, n, e, c in self.feed.bootstrap(BOOTSTRAP_ROWS)
        ])
        df = self.spark.read.schema(ROW_SCHEMA).json(path)
        with self.t.span("bootstrap"):
            if self.shape.table == "cow":
                df.write.partitionBy("part").parquet(self.table)
            else:
                init_mor(self.spark, self.table, df, keys=["id"], partition_col="part")
                create_mv(
                    self.spark, self.mvs, name=MV,
                    source_path=os.path.join(self.table, ".mor", "manifest.json"),
                    source=project(read_mor(self.spark, self.table)),
                    group_cols=["domain"], measures=AGGS,
                )
                bind_mv_to_mor(self.mvs, MV, self.table)

    def enrich(self, feed_dir: str, sink_dir: str) -> None:
        with self.t.span("enrich"):
            pipe = CdcPipeline({"source": {"path": feed_dir}})
            pipe.enriched_json(self.spark, streaming=False).write.text(sink_dir)

    def fold(self, feed_dir: str, n_events: int):
        with self.t.span("fold") as sp:
            t = time.perf_counter()
            env = parse_envelopes(self.spark.read.text(feed_dir))
            # malformed and op-less lines are enriched but never applied
            env = env.filter(F.col("op").isin("c", "u", "d"))
            folded = latest_state(env.drop("_raw"), drop_deletes=False)
            key = F.coalesce(F.col("after.id"), F.col("before.id"))
            cs = folded.select(
                key.alias("id"),
                F.col("after.name").alias("name"),
                F.col("after.email").alias("email"),
                F.col("after.created_at").alias("created_at"),
                F.floor(key / PART_IDS).cast("string").alias("part"),
                (F.col("op") == "d").alias("is_delete"),
            )
            sp["construct_ms"] = (time.perf_counter() - t) * 1000
            if self.t.on:
                # traced runs only: execute the fold here, so its jobs
                # are not charged to the commit that consumes it
                cs = cs.localCheckpoint(eager=True)
                sp["rows"] = cs.count()
                sp["events"] = n_events
        return cs

    def commit(self, r: int, cs) -> None:
        if self.shape.table == "cow":
            with self._commit_span("merge.cow") as sp:
                rep = merge_into(
                    self.spark, self.table, cs, keys=["id"], partition_col="part",
                    file_scope=True, file_scope_min_mb=0, keep_history=True,
                )
                sp["files_rewritten"] = rep.get("files_rewritten", 0)
                sp["files_kept"] = rep.get("files_kept", 0)
                sp["partitions_touched"] = len(rep["touched"])
            with self.t.span("merge.vacuum"):
                vacuum_merge_history(self.table, keep_last=3)
            return
        with self._commit_span("mor.merge"):
            merge_into_mor(self.spark, self.table, cs)
        if r % self.shape.cycle != self.shape.cycle - 1:
            return
        # maintain first: a compaction past the MV's applied sequence
        # would make the change span unreachable
        with self.t.span("mv.maintain"):
            maintain_mv_from_mor(self.spark, self.mvs, MV, project)
        with self._commit_span("mor.compact") as sp:
            sp["fired"] = auto_compact_mor(
                self.spark, self.table, max_overlay_depth=0
            )["triggered"]

    def scan(self) -> dict:
        """The serving aggregate over a scan of the current table state."""
        cow = self.shape.table == "cow"
        with self.t.span("tables.read" if cow else "mor.read") as sp:
            t = time.perf_counter()
            df = read_dir(self.spark, self.table) if cow else read_mor(self.spark, self.table)
            sp["construct_ms"] = (time.perf_counter() - t) * 1000
            rows = aggregate(df).collect()
        if self.t.on:
            with self.t.span("bench.probe"):
                sp["files_scanned"] = len(df.inputFiles())
                if not cow:
                    man = _json(os.path.join(self.table, ".mor", "manifest.json"))
                    sp["overlay_depth"] = len(man["seqs"])
                    sp["sidecar_keys"] = sum(s["n_delete_keys"] for s in man["seqs"])
        return {r["domain"]: (r["n"], r["sum_id"]) for r in rows}

    def answer(self) -> dict:
        """The same aggregate served live from the MV (mor only)."""
        with self.t.span("mv.answer_live") as sp:
            if self.t.on:
                sp["span_seqs"] = self._unapplied()
            t = time.perf_counter()
            df, mode = answer_aggregate_live(
                self.spark, self.mvs, MV, project,
                group_cols=["domain"], aggs=AGGS,
            )
            sp["construct_ms"] = (time.perf_counter() - t) * 1000
            rows = df.collect()
            sp["mode"] = mode
        self.routes[mode or "table"] += 1
        return {r["domain"]: (r["n"], r["sum_id"]) for r in rows}

    def _unapplied(self) -> int:
        """Table sequences the MV has not folded yet."""
        man = _json(os.path.join(self.mvs, MV, "mv.json"))
        mor = _json(os.path.join(self.table, ".mor", "manifest.json"))
        latest = mor["seqs"][-1]["seq"] if mor["seqs"] else mor.get("base_seq", 0)
        return latest - man["applied_seq"]

    @contextmanager
    def _commit_span(self, name: str):
        """A span around one table commit; traced runs also store the
        bytes of new files under the table root in ``sp["written"]``,
        listed in probe spans outside it."""
        if not self.t.on:
            with self.t.span(name) as sp:
                yield sp
            return
        with self.t.span("bench.probe"):
            before = file_index([self.table])
        with self.t.span(name) as sp:
            yield sp
        with self.t.span("bench.probe"):
            sp["written"] = new_bytes(before, file_index([self.table]))

    # -- rounds and checks --------------------------------------------------

    def attempt(self, what: str, fn) -> None:
        """One operation: an exception or a mismatch marks it failed. No
        operation is expected to fail, so any failure makes the run
        incorrect; a failed call's time is not sampled."""
        self.attempted += 1
        try:
            fn()
        except Mismatch as e:
            self.failed += 1
            print(f"MISMATCH {what}: {e}", file=sys.stderr)
        except Exception:
            self.failed += 1
            print(f"FAILED {what}:", file=sys.stderr)
            traceback.print_exc()

    def round(self, r: int, measured: bool) -> None:
        """Apply one feed file, then serve the aggregate: by a table scan,
        and on mor also live from the MV. ``read_ms`` samples the query a
        serving client runs (the scan on cow, the MV answer on mor); every
        engine call counts in ``phase_s``. The checks against the oracle
        are not timed."""
        batch = self.feed.batch(self.shape.batch)
        feed_dir = os.path.join(self.dir, "feed", f"r{r + 1000:05d}")
        sink_dir = os.path.join(self.sink, f"r{r + 1000:05d}")
        write_lines(os.path.join(feed_dir, "batch.json"), batch.lines)
        expected = self.feed.aggregate()
        self.t.round = r

        def apply():
            with self.t.span("round.apply"):
                t = time.perf_counter()
                self.enrich(feed_dir, sink_dir)
                self.commit(r, self.fold(feed_dir, batch.n_events))
                dt = time.perf_counter() - t
            if measured:
                self.apply_ms.append(dt * 1000)
                self.phase_s += dt
                self.events += batch.n_events
            check_sink(sink_dir, batch)

        def serve(name: str, query, sampled: bool):
            with self.t.span(f"round.{name}"):
                t = time.perf_counter()
                got = query()
                dt = time.perf_counter() - t
            if measured:
                if sampled:
                    self.read_ms.append(dt * 1000)
                self.phase_s += dt
            if got != expected:
                raise Mismatch(f"{name} differs from oracle: {diff(got, expected)}")

        cow = self.shape.table == "cow"
        self.attempt(f"apply round {r}", apply)
        self.attempt(f"scan round {r}", lambda: serve("scan", self.scan, sampled=cow))
        if not cow:
            self.attempt(f"answer round {r}",
                         lambda: serve("answer", self.answer, sampled=True))

    def final_check(self) -> None:
        def check():
            df = read_dir(self.spark, self.table) if self.shape.table == "cow" \
                else read_mor(self.spark, self.table)
            got = {
                r["id"]: (r["id"], r["name"], r["email"], r["created_at"])
                for r in df.select("id", "name", "email", "created_at").collect()
            }
            if got != self.feed.rows:
                raise Mismatch(f"final table differs from oracle: {diff(got, self.feed.rows)}")

        self.attempt("final table state", check)


def check_sink(sink_dir: str, batch) -> None:
    """One output line per input line, malformed lines byte-identical,
    operation labels as the generator counted them."""
    out: list[str] = []
    for name in sorted(os.listdir(sink_dir)):
        if name.startswith("part-"):
            with open(os.path.join(sink_dir, name), encoding="utf-8") as f:
                out += f.read().splitlines()
    if len(out) != len(batch.lines):
        raise Mismatch(f"sink has {len(out)} lines for {len(batch.lines)} input lines")
    labels: Counter = Counter()
    passed: list[str] = []
    for line in out:
        try:
            labels[json.loads(line)["enrichment"]["operation"]["label"]] += 1
        except (ValueError, KeyError, TypeError):
            passed.append(line)
    if Counter(passed) != Counter(batch.malformed):
        raise Mismatch("malformed lines did not pass through unchanged")
    if labels != batch.labels:
        raise Mismatch(f"op labels {dict(labels)} != {dict(batch.labels)}")


def diff(got: dict, want: dict) -> str:
    keys = sorted(k for k in set(got) | set(want) if got.get(k) != want.get(k))
    return f"{len(keys)} keys differ, first {[(k, got.get(k), want.get(k)) for k in keys[:3]]}"


def rounds_for(shape: Shape, seconds: int) -> int:
    cycles = max(1, round(seconds / (shape.cycle * ROUND_S)))
    return cycles * shape.cycle


def start_spark(work: str, trace: bool):
    """``session.get_spark`` at local[<cores this process may use>], with
    every scratch path inside ``work``. Returns (session, start seconds)."""
    cores = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    tempfile.tempdir = tmp
    os.environ.update({
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "SPARK_GRAFT_CPUS": str(cores),
        # no hsperfdata file: each JVM would write one under /tmp
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
    })
    args = ["--conf", "spark.ui.showConsoleProgress=false",
            "--driver-java-options", f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"]
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir)
        args += ["--conf", "spark.eventLog.enabled=true",
                 "--conf", "spark.eventLog.rolling.enabled=false",
                 "--conf", "spark.eventLog.compress=false",
                 "--conf", f"spark.eventLog.dir=file://{log_dir}"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args + ["pyspark-shell"])
    t = time.perf_counter()
    spark = get_spark(master=f"local[{cores}]")
    return spark, time.perf_counter() - t


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM to exit."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    spark.stop()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def end_to_end(b: Bench, setup_s: float, write_bytes: int, table_bytes: int) -> dict:
    """The user-visible figures. A timing with no sample (every call of
    its kind failed) is not reported as a value: the run stops instead."""
    for name, xs in (("apply", b.apply_ms), ("read", b.read_ms)):
        if not xs:
            raise RuntimeError(f"no {name} completed in the measured rounds")
    return {
        "setup_s": {"value": setup_s, "unit": "s"},
        "apply_p50_ms": {"value": statistics.median(b.apply_ms), "unit": "ms"},
        "read_p50_ms": {"value": statistics.median(b.read_ms), "unit": "ms"},
        "events_per_s": {"value": b.events / b.phase_s, "unit": "1/s"},
        "write_mb": {"value": write_bytes / MIB, "unit": "MiB"},
        "table_mb": {"value": table_bytes / MIB, "unit": "MiB"},
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    shape = WORKLOADS[args.workload]
    trace = bool(args.trace)

    work = os.path.join(WORK, f"run-{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        spark, session_s = start_spark(work, trace)
        try:
            tracer = Tracer(spark.sparkContext if trace else None)
            b = Bench(spark, tracer, shape, args.seed, os.path.join(work, "data"))
            b.bootstrap()
            for r in range(-shape.warmup, 0):
                b.round(r, measured=False)
            setup_s = time.perf_counter() - _T0

            roots = [b.sink, b.table, b.mvs]
            steal0 = steal_seconds()
            index = file_index(roots)
            write_bytes = 0
            for r in range(rounds_for(shape, args.seconds)):
                b.round(r, measured=True)
                after = file_index(roots)
                write_bytes += new_bytes(index, after)
                index = after
            steal = steal_seconds() - steal0
            table_bytes = sum(file_index([b.table, b.mvs]).values())
            tracer.round = None
            b.final_check()
        finally:
            stop_spark(spark)

        info = {
            "workload": args.workload, "seed": args.seed, "trace": args.trace,
            "rounds": len(b.apply_ms), "steal_s": round(steal, 3),
            "wall_s": round(time.perf_counter() - _T0, 3),
            "read_routes": dict(b.routes),
        }
        if trace:
            attach_jobs(tracer.spans, read_event_log(os.path.join(work, "eventlog")))
            stats = span_tree(tracer.spans)
            metrics = per_layer(tracer.spans, stats, session_s)
            info["trace_files"] = write_trace(args.workload, args.seed, tracer.spans,
                                              stats, metrics, info)
        else:
            metrics = end_to_end(b, setup_s, write_bytes, table_bytes)
        print("info " + json.dumps(info, sort_keys=True))
        print(json.dumps({
            "correct": b.failed == 0,
            "attempted": b.attempted,
            "failed": b.failed,
            "metrics": metrics,
        }))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return 0


# -- traced runs --------------------------------------------------------------

#: name -> (unit, better); a layer a workload does not run reports 0
PER_LAYER = {
    "session.start_s": ("s", "lower"),
    "enrich.wall_ms": ("ms", "lower"),
    "enrich.jobs": ("count", "lower"),
    "enrich.executor_ms": ("ms", "lower"),
    "enrich.driver_ms": ("ms", "lower"),
    "fold.construct_ms": ("ms", "lower"),
    "fold.wall_ms": ("ms", "lower"),
    "fold.rows_per_event": ("rows/event", "lower"),
    "merge.cow.wall_ms": ("ms", "lower"),
    "merge.cow.jobs": ("count", "lower"),
    "merge.cow.executor_ms": ("ms", "lower"),
    "merge.cow.driver_ms": ("ms", "lower"),
    "merge.cow.written_mb": ("MiB", "lower"),
    "merge.cow.files_rewritten": ("count", "lower"),
    "merge.cow.files_kept": ("count", "higher"),
    "merge.cow.partitions_touched": ("count", "lower"),
    "merge.vacuum.wall_ms": ("ms", "lower"),
    "tables.read.wall_ms": ("ms", "lower"),
    "tables.read.jobs": ("count", "lower"),
    "tables.read.files_scanned": ("count", "lower"),
    "mor.merge.wall_ms": ("ms", "lower"),
    "mor.merge.jobs": ("count", "lower"),
    "mor.merge.driver_ms": ("ms", "lower"),
    "mor.merge.written_mb": ("MiB", "lower"),
    "mor.compact.wall_ms": ("ms", "lower"),
    "mor.compact.fired": ("count", "lower"),
    "mor.compact.written_mb": ("MiB", "lower"),
    "mor.read.construct_ms": ("ms", "lower"),
    "mor.read.wall_ms": ("ms", "lower"),
    "mor.read.jobs": ("count", "lower"),
    "mor.read.files_scanned": ("count", "lower"),
    "mor.overlay_depth": ("count", "lower"),
    "mor.sidecar_keys": ("count", "lower"),
    "mv.maintain.wall_ms": ("ms", "lower"),
    "mv.maintain.jobs": ("count", "lower"),
    "mv.maintain.driver_ms": ("ms", "lower"),
    "mv.answer_live.construct_ms": ("ms", "lower"),
    "mv.answer_live.wall_ms": ("ms", "lower"),
    "mv.answer_live.jobs": ("count", "lower"),
    "mv.answer_live.driver_ms": ("ms", "lower"),
    "mv.answer_live.span_seqs": ("count", "lower"),
    "mv.answer_live.mv_route_ratio": ("ratio", "higher"),
    "spark.jobs_per_round": ("count", "lower"),
    "spark.shuffle_mb_per_round": ("MiB", "lower"),
}


def _measured(s: dict) -> bool:
    return s["round"] is not None and s["round"] >= 0


def per_layer(spans: list[dict], stats: dict, session_s: float) -> dict:
    """Medians per call over the measured rounds (compaction figures over
    the calls that fired), per round for the Spark totals."""
    calls: dict[str, list[dict]] = {}
    for s in spans:
        if _measured(s):
            calls.setdefault(s["name"], []).append({**s, **stats[s["id"]]})

    def med(name, field, fired_only=False):
        return median([c[field] for c in calls.get(name, [])
                       if c.get("fired", True) or not fired_only])

    out = {"session.start_s": session_s}
    for layer in ("enrich", "merge.cow", "tables.read", "mor.merge", "mor.read",
                  "mv.maintain", "mv.answer_live"):
        for field in ("wall_ms", "jobs", "executor_ms", "driver_ms"):
            out[f"{layer}.{field}"] = med(layer, field)
    for layer, field in (("fold", "construct_ms"), ("fold", "wall_ms"),
                         ("merge.cow", "files_rewritten"), ("merge.cow", "files_kept"),
                         ("merge.cow", "partitions_touched"), ("merge.vacuum", "wall_ms"),
                         ("tables.read", "files_scanned"), ("mor.read", "construct_ms"),
                         ("mor.read", "files_scanned"), ("mv.answer_live", "construct_ms"),
                         ("mv.answer_live", "span_seqs")):
        out[f"{layer}.{field}"] = med(layer, field)
    folds = calls.get("fold", [])
    out["fold.rows_per_event"] = (sum(c["rows"] for c in folds)
                                  / max(1, sum(c["events"] for c in folds)))
    out["merge.cow.written_mb"] = med("merge.cow", "written") / MIB
    out["mor.merge.written_mb"] = med("mor.merge", "written") / MIB
    out["mor.compact.wall_ms"] = med("mor.compact", "wall_ms", fired_only=True)
    out["mor.compact.written_mb"] = med("mor.compact", "written", fired_only=True) / MIB
    out["mor.compact.fired"] = sum(1 for c in calls.get("mor.compact", []) if c["fired"])
    out["mor.overlay_depth"] = med("mor.read", "overlay_depth")
    out["mor.sidecar_keys"] = med("mor.read", "sidecar_keys")
    live = calls.get("mv.answer_live", [])
    out["mv.answer_live.mv_route_ratio"] = (
        sum(1 for c in live if c["mode"]) / len(live) if live else 0
    )
    rounds: dict[int, list[dict]] = {}
    for s in spans:
        if s["parent"] is None and _measured(s):
            rounds.setdefault(s["round"], []).append(stats[s["id"]])
    out["spark.jobs_per_round"] = median([sum(x["jobs"] for x in v) for v in rounds.values()])
    out["spark.shuffle_mb_per_round"] = median(
        [sum(x["shuffle_bytes"] for x in v) / MIB for v in rounds.values()])
    return {k: {"value": out[k], "unit": PER_LAYER[k][0]} for k in PER_LAYER}


def write_trace(workload, seed, spans, stats, metrics, info) -> list[str]:
    """Spans (one JSON line each) and the per-layer summary with the round
    accounting. ``steadiness.py`` compares the traced round medians with
    an untraced run of the same seed for the tracing overhead."""
    out_dir = os.path.join(WORK, "trace")
    os.makedirs(out_dir, exist_ok=True)
    stem = os.path.join(out_dir, f"{workload}-seed{seed}")
    with open(stem + "-spans.jsonl", "w") as f:
        for s in spans:
            rec = {k: v for k, v in s.items() if k != "jobs"}
            rec.update(stats.get(s["id"], {}))
            rec["job_ids"] = [j["job"] for j in s["jobs"]]
            f.write(json.dumps(rec) + "\n")
    roots = [s for s in spans if s["parent"] is None and _measured(s)]

    def round_median(name):
        return statistics.median([stats[s["id"]]["wall_ms"] for s in roots
                                  if s["name"] == name])

    summary = {
        **info,
        "metrics": metrics,
        "accounting": {
            "round_wall_ms": sum(stats[s["id"]]["wall_ms"] for s in roots),
            "round_self_ms": sum(stats[s["id"]]["self_ms"] for s in roots),
            "probe_ms": sum(stats[s["id"]]["wall_ms"] for s in spans
                            if s["name"] == "bench.probe" and _measured(s)),
            "note": "round spans' self time is benchmark glue between engine "
                    "calls; probe spans are the traced run's file listings",
        },
        "traced": {"apply_p50_ms": round_median("round.apply"),
                   "read_p50_ms": round_median(
                       "round.scan" if WORKLOADS[workload].table == "cow" else "round.answer")},
    }
    with open(stem + "-layers.json", "w") as f:
        json.dump(summary, f, indent=1, sort_keys=True)
    return [os.path.relpath(p, ROOT) for p in (stem + "-spans.jsonl", stem + "-layers.json")]


if __name__ == "__main__":
    sys.exit(main())

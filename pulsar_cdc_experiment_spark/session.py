"""SparkSession construction and per-session conventions.

The engine pins a handful of session-level settings that the correctness
contract depends on (UTC timestamps, AQE, Arrow) and that the 100 TB design
stance requires (adaptive shuffle sizing, skew-join handling). When the
driver hands us an existing session (``__spark_entry__.queries()``), we only
apply the *runtime-settable* subset via :func:`prepare_session`.

Sessions built by :func:`get_spark` also turn off PySpark's per-call
DataFrame call-site capture (``spark.python.sql.dataFrameDebugging.enabled``).
With it on, every wrapped PySpark API call (each ``F.*``, ``alias``,
``select``, ``getField``) pays four to five extra py4j round trips to
record its Python call site: building the CDC enrichment plan made 1,819
round trips with it and 381 without. What is lost is the Python file and
line in the DataFrame query context of a runtime error; the error class
and message are unchanged. The conf is static, so it is set only when
this module builds the session: a session handed in keeps its own value.
"""

from __future__ import annotations

import os
import tempfile
import warnings

from pyspark.sql import SparkSession

# Settings that can be applied to a live session (runtime-mutable SQL confs).
RUNTIME_CONF = {
    # Correctness: oracle comparisons assume UTC wall-clock timestamps.
    "spark.sql.session.timeZone": "UTC",
    # Scale: AQE re-plans shuffles at runtime (partition coalescing, skew
    # splitting, broadcast demotion/promotion) — essential at 100 TB where
    # static planning guesses are wrong.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow for every pandas interchange (pandas UDFs, toPandas).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # ANSI off: the reference's semantics are permissive (schemaless JSON,
    # never-fail enrichment); NULL-on-error matches its pass-through stance.
    "spark.sql.ansi.enabled": "false",
    # Current testdata stores events.ts as TIMESTAMP(MICROS, adjusted=false)
    # → native TIMESTAMP_NTZ read; this conf only matters for LEGACY
    # NANOS-generation testdata, where it reads int64 nanos that
    # sources.tables._normalize_events_ts truncates and rebuilds. Harmless
    # for MICROS data — kept as insurance against a regenerated dataset.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # InferFiltersFromGenerate adds size(e)>0 before explode(); pushdown then
    # re-inlines the generator's (expensive) expression into a scan-level
    # Filter, evaluating tokenize/shingle pipelines twice per row — measured
    # 7x slowdown on MinHash. The pruning it buys is negligible for us.
    "spark.sql.optimizer.excludedRules": "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
}


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def shuffle_partitions_for_bytes(total_bytes: int, cores: int | None = None) -> int:
    """Size shuffle partitions to the data, not the cluster default.

    ~64 MB per shuffle partition, floored at 8 (keep some parallelism) and
    capped at 2× cores (AQE coalesces below the cap at runtime). At 600 k
    rows (~25 MB) this yields 8 — measured ~15 % faster than 32 on the
    headline set purely from task-scheduling overhead; at 100 TB it yields
    the cap, and the knob to raise is the cap itself.
    """
    cores = cores or default_parallelism()
    by_data = max(8, total_bytes // (64 * 1024 * 1024))
    return int(min(by_data, cores * 2))


def prepare_session(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable engine conventions to an existing session.
    A conf the session refuses does not stop the others: each refusal is
    reported as one ``RuntimeWarning`` naming the key and the error."""
    for k, v in RUNTIME_CONF.items():
        try:
            spark.conf.set(k, v)
        except Exception as e:
            warnings.warn(
                f"prepare_session could not set {k}={v!r}: {e}",
                RuntimeWarning,
                stacklevel=2,
            )
    return spark


def get_spark(
    app_name: str = "pulsar-cdc-experiment-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build a session tuned for local correctness runs.

    On a real cluster the same conf block applies; only ``master`` and the
    memory sizing change. ``spark.sql.shuffle.partitions`` is set to the
    local core count (not the 200 default) — with AQE coalescing enabled
    this is a ceiling, so on a 1000-executor cluster it should be raised to
    ~2-3x total cores and AQE will coalesce small stages back down.

    The session does not capture the Python call site of each DataFrame
    API call (``spark.python.sql.dataFrameDebugging.enabled=false``; see
    the module docstring): runtime errors keep their class and message
    but lose the Python file and line from their DataFrame query context.
    """
    cpus = default_parallelism()
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or max(cpus, 8)))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", "128m")
        .config(
            "spark.sql.warehouse.dir",
            os.path.join(tempfile.gettempdir(), "spark-warehouse"),
        )
        # Broadcast threshold: dims (region/nation/customer/supplier/part at
        # typical star-schema ratios) should broadcast; facts never.
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        # static conf, so here and not in RUNTIME_CONF: call-site capture
        # costs 4-5 py4j round trips per PySpark API call while plans are
        # built (about 150 ms of a CDC batch's enrichment plan)
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    for k, v in RUNTIME_CONF.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return prepare_session(spark)

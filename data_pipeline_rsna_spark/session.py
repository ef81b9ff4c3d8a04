"""SparkSession factory.

One place to own the configuration that matters at scale: AQE on (runtime
re-planning, skew-join splitting, partition coalescing), Arrow on (pandas
UDF batches), UTC session timezone (so results compare bit-for-bit with a
UTC-naive oracle such as DuckDB), ANSI mode on (overflow raises instead of
turning into NULL), and shuffle parallelism sized to the machine instead
of Spark's legacy default of 200.

On a real cluster the same builder is used; only ``master`` and the
memory/instance settings change. Everything else (AQE, Arrow, timezone,
broadcast threshold) is cluster-size independent.

Python workers fork from ``worker_daemon`` instead of ``pyspark.daemon``.
Stock workers re-read every zip archive on ``sys.path`` (``pyspark.zip``
among them) at the start of each task; the package daemon skips an
archive that has not changed, and pre-imports ``pyarrow`` so the Arrow
UDF workers share it instead of each importing its own. Executors must
therefore be able to import this package, as its Python UDFs already
require. The package's parent directory is appended to the workers'
``PYTHONPATH``, which covers local mode and any executor that shares
the driver's file system; on other clusters ship the package
(``--py-files`` or an install).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Shuffle parallelism: on local[N] one JVM does everything, so ~cores is
# right. On a cluster this should be ~2-3x total executor cores; AQE's
# coalescePartitions then shrinks small stages automatically, so we set the
# *initial* number generously and let AQE adapt downward.
_DEFAULT_SHUFFLE_PARTITIONS = str(max(os.cpu_count() or 8, 8))

_PACKAGE_PARENT = os.path.dirname(
    os.path.dirname(os.path.abspath(__file__))
)
_WORKER_PYTHONPATH = "spark.executorEnv.PYTHONPATH"


def get_spark(
    app_name: str = "data_pipeline_rsna_spark",
    master: str | None = None,
    shuffle_partitions: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (or local[*]);
    pass an explicit cluster master in production.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    conf = dict(extra_conf or {})
    conf[_WORKER_PYTHONPATH] = os.pathsep.join(
        p for p in (conf.get(_WORKER_PYTHONPATH), _PACKAGE_PARENT) if p
    )
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # --- adaptive execution: re-plan with runtime statistics ---
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # parallelismFirst=true (Spark's default): coalesce no further than
        # default parallelism. false (coalesce to the 64 MB advisory target)
        # avoids scheduling near-empty tasks, but measured across 14 queries at
        # sf0.1 it LOST 7 s of 26 (CPU-bound mid-pipeline shuffles — distinct
        # aggs over fan-outs, n-gram explodes, cogroup — were coalesced to a
        # handful of tasks because their on-disk shuffle bytes compress far
        # below 64 MB/core, serializing the CPU work; near-empty-task overhead
        # is bounded by floor_s ≈ 0.03). No query measured worse under true. At
        # cluster scale large shuffles exceed cores×64 MB either way, so this
        # only affects the small-shuffle regime where parallelism matters more.
        .config(
            "spark.sql.adaptive.coalescePartitions.parallelismFirst",
            "true",
        )
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # runtime SMJ -> shuffled-hash conversion: when the build
        # side's largest post-shuffle partition fits this threshold,
        # AQE swaps the sort-merge join for a hash join (skips both
        # sides' sorts; SHJ spills since 3.1 so the bound is a cost
        # knob, not a correctness cliff). Measured: the sf10
        # lineitem x filtered-orders join 9.9 -> 8.5 s. Broadcast
        # decisions and bucketed (exchange-free) joins are untouched —
        # the rule only rewrites real shuffle joins at runtime sizes.
        .config(
            "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
            "64m",
        )
        # --- shuffle sizing ---
        .config(
            "spark.sql.shuffle.partitions",
            shuffle_partitions or _DEFAULT_SHUFFLE_PARTITIONS,
        )
        # --- scan split sizing: keep Spark's 128 MB default ---
        # 32 MB byte-range splits were tested against the default on
        # single-big-file tables at a 100x local SF (the regime where a
        # 110 MB parquet scans as one task): an interleaved same-session
        # A/B showed NO measurable difference on any scan-bound headline
        # query — the single scan task reads 110 MB in well under the
        # query's shuffle+floor cost. At 100 TB input is thousands of
        # files and split count is file-count bound anyway. Measured,
        # not assumed (SCALING.md).
        # That result holds only for LOW-compression
        # tables (events: 40 B numeric rows). Text tables compress ~33:1
        # and Spark sizes splits by ON-DISK bytes, so a 148 MB-decoded
        # documents scan arrived as 4.5 MB on disk = TWO tasks. The
        # fix is per-table, not session-wide: tables._tune_scan_splits
        # lowers the split confs to the row-group floor for registered
        # fan-out text tables (decoded-size-aware splits; dedup_exact
        # sf10 2.16 s -> ~1.0 s). The session default stays 128 MB.
        # --- scan-level aggregate pushdown ---
        # MIN/MAX/COUNT with no filter answer from parquet footer stats
        # instead of scanning row groups — exact (parquet stats are
        # exact), and the win scales with data: the order-statistic
        # split's count/min/max job reads #row-groups footers at 100 TB
        # rather than the key column. Measured neutral-to-positive at
        # bench SF; results verified identical either way.
        .config("spark.sql.parquet.aggregatePushdown", "true")
        # --- python interop: Arrow batches for pandas UDFs / toPandas ---
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # image-sized rows (1 MiB+ binary payloads) need small Arrow
        # batches or an executor python worker holds k*row_size in RAM
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "256")
        # workers fork from the package daemon (see the module docstring)
        .config(
            "spark.python.daemon.module",
            "data_pipeline_rsna_spark.worker_daemon",
        )
        # --- generated-code cache: one pass of the iterative operators
        # compiles ~160 distinct classes, past Spark's default of 100
        # entries, so every repeat pass recompiled most of them ---
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        # --- determinism for differential testing ---
        .config("spark.sql.session.timeZone", "UTC")
        # ANSI mode is Spark 4's default; pinned so a deployment's
        # spark-defaults cannot turn overflow and bad casts into NULLs
        .config("spark.sql.ansi.enabled", "true")
        # --- local mode: keep the UI off for headless runs ---
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"))
    )
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark

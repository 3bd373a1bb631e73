"""SparkSession factory with scale-oriented defaults.

Defaults are chosen for a large cluster (AQE, broadcast thresholds,
partial aggregation) but work identically on local[N]. Everything is a
plain `spark.conf` so a deployment can override per-cluster without code
changes — the reference hard-codes its five algorithm knobs in
Typesafe config (`Utilities/src/main/resources/application.conf:39-43`);
ours live in :mod:`.config`.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import SparkSession

_DEFAULTS = {
    # Runtime re-planning: shuffle coalescing, skew-join splitting, and
    # broadcast-join demotion/promotion based on observed sizes. At 100 TB
    # the static plan is always wrong somewhere; AQE fixes it per-stage.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Dim tables (nation/region/supplier at any SF, match tables in the
    # driver loop) should broadcast; 64m is safe for multi-GB executors.
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # Arrow for every pandas_udf / applyInPandas boundary (the walk
    # kernel, multimodal decode) — batch columnar transfer, not pickling.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
    # Stable timestamp semantics for the oracle comparisons.
    "spark.sql.session.timeZone": "UTC",
    # Input split sizing: 128m keeps a 100 TB scan at ~800k tasks, the
    # sweet spot for a 1000-executor cluster; local runs see few files
    # so this is inert there.
    "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
    "spark.sql.parquet.filterPushdown": "true",
    # The testdata parquet carries TIMESTAMP(NANOS) columns which Spark
    # refuses by default; read them as nanos-since-epoch longs. Query
    # code converts explicitly where timestamp semantics matter (the
    # DuckDB oracles use epoch_ns() for the same representation).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.parquet.aggregatePushdown": "true",
    # Self-joins on derived frames are common here (dedup, simrank);
    # let Spark disambiguate instead of erroring.
    "spark.sql.analyzer.failAmbiguousSelfJoinResolution": "false",
    # Streaming state lives in RocksDB (native memory + local disk),
    # not the default HDFS-backed provider's on-heap maps. Measured at
    # the 100× probe (SCALING.md round 11): session-window state over
    # 10M events under the default provider OOM'd the 8g JVM on the
    # SECOND availableNow drain in one session (old query runs'
    # providers linger until the async maintenance sweep); with RocksDB
    # four back-to-back drains run flat (21.4/17.3/15.8/15.3s). At
    # cluster scale this is the standard large-state configuration.
    "spark.sql.streaming.stateStore.providerClass":
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    # Long-lived many-query processes (bench, the driver's verify pass)
    # generate thousands of codegen classes and stages; keep the UI's
    # event bookkeeping off and leave the JIT room to keep compiling —
    # an exhausted code cache silently de-optimizes late queries (the
    # measured effect: tail bench entries ~1.7× slower than the same
    # suite in a fresh JVM).
    "spark.ui.enabled": "false",
    "spark.ui.showConsoleProgress": "true",
}


def quiet_window_warns(spark: SparkSession) -> None:
    """Silence WindowExec's "No Partition Defined" WARN storm.

    A handful of queries legitimately run a GLOBAL window over a
    dimension-bounded or pre-aggregated frame (the Pareto cumulative-
    share cut, month/quarter LAG frames, quantile ranks over DISTINCT
    values) — at most a few thousand rows on one task by design, safe
    at any data scale. Spark WARNs on every such plan, and at 247
    queries the repetition buries real warnings (round-7 verdict item:
    `driver_sim_r7.err` was thousands of copies of this one line).
    Only the WindowExec logger drops to ERROR; everything else keeps
    WARN so genuine problems still surface.
    """
    try:
        jvm = spark.sparkContext._jvm
        jvm.org.apache.logging.log4j.core.config.Configurator.setLevel(
            "org.apache.spark.sql.execution.window.WindowExec",
            jvm.org.apache.logging.log4j.Level.ERROR,
        )
    except Exception:  # pragma: no cover - log4j2 not on classpath
        pass  # cosmetic only; never fail a run over logging


def _local_cores(master: str | None) -> int | None:
    """Cores of a ``local``, ``local[N]`` or ``local[*]`` master; None
    for any other master."""
    m = re.fullmatch(r"local(?:\[(\*|\d+)\])?", master or "")
    if m is None:
        return None
    if m[1] is None:
        return 1
    return (os.cpu_count() or 1) if m[1] == "*" else int(m[1])


def session_conf(
    master: str | None, extra_conf: dict[str, str] | None = None
) -> dict[str, str]:
    """The conf dict `get_spark` builds for `master`.

    Shuffle width is 2 × the local core count: the engine's workloads
    are driver round-loops of many small jobs, where each shuffle
    partition is one scheduled task per stage, so width past the cores
    that run them is pure scheduling cost; two per core leaves room for
    skewed tasks. A cluster master (or None, i.e. one supplied by
    spark-submit) gets no width here — there it is a deployment
    setting. An explicit `extra_conf` width wins.
    """
    conf = dict(_DEFAULTS)
    cores = _local_cores(master)
    if cores is not None:
        conf["spark.sql.shuffle.partitions"] = str(2 * cores)
    if extra_conf:
        conf.update(extra_conf)
    return conf


def get_spark(
    app_name: str = "big_data_graph_analysis_with_spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or get) a SparkSession.

    `master` defaults to ``local[$SPARK_GRAFT_CPUS]`` when no cluster
    manager is configured, so the same entry points run on a laptop, in
    tests, and under spark-submit on a real cluster (where `master` is
    supplied externally and must be left None).
    """
    builder = SparkSession.builder.appName(app_name)
    if master is None and "SPARK_MASTER" not in os.environ:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    if master is not None:
        builder = builder.master(master)
        if master.startswith("local"):
            # In local mode the driver JVM hosts all executor threads; the
            # 1g default heap dies on any real shuffle. Honored only at
            # JVM launch — inert if a session already exists.
            builder = builder.config(
                "spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g")
            )
            # JVM-launch-only: widen the JIT code cache (Spark's own
            # recommendation for many-query processes; whole-stage
            # codegen emits a class per stage and the HotSpot default
            # fills after a few thousand, after which compilation stops)
            builder = builder.config(
                "spark.driver.extraJavaOptions",
                "-XX:ReservedCodeCacheSize=512m",
            )
    for k, v in session_conf(master, extra_conf).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()

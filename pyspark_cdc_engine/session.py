"""SparkSession factory.

Reference parity: SparkSessionCreator.scala:17-42 (Delta extensions + RocksDB state
store + Hive toggle). Ours targets plain OSS Spark 4.x: Delta jars are optional (gated),
RocksDB state store is built in, and every conf is chosen for the 100 TB design point
(AQE on, skew-join handling, UTC timezone so results compare bit-for-bit against the
DuckDB oracle). Shuffle partitions default to the core count on a local master and to 32
anywhere else; a streaming stateful operator keeps the count its checkpoint began with.
These defaults apply only when get_spark creates the session; a reused session keeps
its settings.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import SparkSession

# Confs that matter at scale. On a real 1000-executor cluster
# spark.sql.shuffle.partitions should be ~2-3x total cores (or left to AQE coalescing
# with a high initial number); the 32 here is for non-local masters, and get_spark
# gives a local master one partition per core.
_BASE_CONFS: dict[str, str] = {
    # AQE: runtime re-planning — coalesce post-shuffle partitions, convert
    # sort-merge to broadcast when a side turns out small, split skewed partitions.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Runtime bloom-filter join pruning (InjectRuntimeFilter): a selective
    # build side plants a bloom filter into the probe side's scan, dropping
    # non-joining rows BEFORE the shuffle. Default size thresholds keep it
    # dormant on test-scale inputs; at the 100 TB design point it prunes
    # fact-table shuffles against filtered dims (gated by tests/test_plans.py
    # with thresholds lowered).
    "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
    # Deterministic comparisons vs DuckDB (which is UTC-naive).
    "spark.sql.session.timeZone": "UTC",
    # ANSI mode is default-on in Spark 4; keep it, and use try_* functions where
    # the reference relied on lenient behavior (SURVEY §2.8 F3).
    "spark.sql.ansi.enabled": "true",
    # Arrow for all pandas interchange (stateful ops, pandas UDFs).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Nested-schema pruning so struct-path projections reach the parquet scan.
    "spark.sql.optimizer.nestedSchemaPruning.enabled": "true",
    # Streaming state store: RocksDB (same provider the reference configures,
    # reference.conf:14) — spills to disk, snapshots to the checkpoint location.
    "spark.sql.streaming.stateStore.providerClass": (
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
    ),
    "spark.sql.shuffle.partitions": "32",
    # Some driver-generated events.parquet rounds use TIMESTAMP(NANOS), which
    # the vectorized reader rejects; read nanos as bigint and convert at load
    # (operators/registry.py:load_table). Harmless for micros-encoded rounds.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # 128 MB parquet split targets — keeps task count proportional to data volume.
    "spark.sql.files.maxPartitionBytes": "134217728",
    # Delete a reliable checkpoint's files once its RDD is garbage-collected;
    # iterative loops (BPE training, label propagation) cut one per step.
    "spark.cleaner.referenceTracking.cleanCheckpoints": "true",
}

# Spark's own local-master forms: local[N], local[*], local[N,F], local[*,F].
_LOCAL_N = re.compile(r"local\[([0-9]+|\*)(?:\s*,\s*[0-9]+)?\]")


def _local_cores(master: str) -> int | None:
    """Cores a local master runs tasks on, or None for any other master
    (``local-cluster[...]``, ``yarn``, ``spark://...``)."""
    if master == "local":
        return 1
    m = _LOCAL_N.fullmatch(master)
    if m is None:
        return None
    if m.group(1) == "*":
        return os.cpu_count() or 1
    return int(m.group(1))


def get_spark(
    app_name: str | None = None,
    master: str | None = None,
    extra_confs: dict[str, str] | None = None,
    warehouse_dir: str | None = None,
    config=None,
) -> SparkSession:
    """Build (or fetch) the session.

    ``master`` defaults to ``config``'s ``spark.dev.master``, then
    ``local[$SPARK_GRAFT_CPUS]`` (driver contract), then ``local[*]``. On a
    real cluster, pass ``master=None`` with the conf coming from spark-submit
    and only the semantic confs here apply.

    ``config`` — an :class:`pyspark_cdc_engine.config.AppConfig` (layered
    env > job file > defaults, AppConfig.scala analog). Supplies app name,
    master, warehouse dir, log level, state-store provider, and arbitrary
    ``spark.conf.*`` passthroughs; explicit keyword arguments win over it.

    When a session already exists it is reused: the config's confs,
    ``warehouse_dir`` and ``extra_confs`` apply to it, the base defaults do
    not.
    """
    from pyspark_cdc_engine.config import get_config

    cfg = config if config is not None else get_config()
    if app_name is None:
        app_name = cfg.get_str("spark.dev.app-name")
    if master is None:
        master = cfg.get_str("spark.dev.master") or None
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"
    builder = SparkSession.builder.appName(app_name).master(master)
    # getOrCreate applies every builder conf to a live session, so the
    # defaults go in only when this call creates the session: a reused one
    # keeps what its creator pinned or what was set on it at run time.
    live = SparkSession._instantiatedSession
    creating = live is None or live._sc._jsc is None
    confs = dict(_BASE_CONFS) if creating else {}
    if creating and master.startswith("local"):
        # In local mode the driver JVM IS the executor: every shuffle hash
        # map, cache partition, and localCheckpoint block of all N cores
        # lives in its heap. Spark's 1g default is a scale cliff (the r7
        # heavy-scaling lane OOMed the triangle census at 10x data under
        # it); on a real cluster spark-submit sizes this instead.
        confs.setdefault(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"),
        )
        # AQE coalesces batch shuffles but never a stateful streaming
        # operator's: it runs this many state partitions (a RocksDB load and
        # commit each, every micro-batch) for the life of its checkpoint.
        cores = _local_cores(master)
        if cores is not None:
            confs["spark.sql.shuffle.partitions"] = str(cores)
    confs.update(cfg.spark_confs())
    if warehouse_dir:
        confs["spark.sql.warehouse.dir"] = warehouse_dir
    if extra_confs:
        confs.update(extra_confs)
    for k, v in confs.items():
        builder = builder.config(k, v)
    if cfg.get_bool("spark.dev.enable-hive-support"):
        # SparkSessionCreator.scala:39 — persistent Hive metastore catalog.
        # catalogImplementation is a static conf: it binds when the JVM-side
        # SparkContext is created and is a no-op on getOrCreate() reuse, same
        # as in Scala Spark.
        builder = builder.enableHiveSupport()
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel(cfg.get_str("spark.log-level"))
    # Register the Python data sources on every session so CATALOG-bound
    # tables (CREATE TABLE t USING deltalite / deltalite_cdf) resolve in a
    # fresh process with no per-session Python view registration — the
    # reference's spark-sql-by-name consumption model. Python data sources
    # are session-scoped in Spark, so this is the one registration point.
    from pyspark_cdc_engine.cdf_source import register_cdf_source
    from pyspark_cdc_engine.dl_source import (
        register_snapshot_source,
        restore_bindings,
    )

    register_cdf_source(spark)
    register_snapshot_source(spark)
    # Replay the warehouse-dir name bindings (bind_table) so this session
    # resolves persistent table names immediately — the reference's
    # query-by-name consumption model.
    restore_bindings(spark)
    return spark

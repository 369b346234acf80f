"""Query registry: one named entry per implemented operator (SURVEY §2).

Every query carries its PySpark implementation and, where expressible, the
equivalent ANSI SQL for the DuckDB oracle. The driver hash-compares the two at
sf0.01 (order-insensitive, columns sorted by name), so:

- every computed column is aliased identically on both sides;
- double aggregations are summed as DECIMAL (exact, order-independent) and cast
  back to DOUBLE, so Spark's and DuckDB's different reduction orders cannot
  produce differing floats;
- timestamps cross the boundary as strings (Spark session TZ pinned to UTC).
"""

from __future__ import annotations

import logging
from collections.abc import Callable
from dataclasses import dataclass

from py4j.protocol import Py4JError
from pyspark.errors.exceptions.captured import CapturedException
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

log = logging.getLogger(__name__)

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


@dataclass(frozen=True)
class Query:
    name: str
    survey: str  # SURVEY §2 rows this exercises, e.g. "A2,O1"
    spark: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # DuckDB SQL, or None → driver does rows-only check
    description: str = ""


REGISTRY: dict[str, Query] = {}

_PYFILES_SENT: set[str] = set()


def _ensure_workers_can_import(spark: SparkSession) -> None:
    """Ship this package to executor Python workers (once per SparkContext).

    mapInPandas/applyInPandas kernels are pickled by reference to this package,
    so workers must be able to ``import pyspark_cdc_engine``. When the driver
    process runs from the repo root the workers inherit that cwd and the import
    works by accident; a certification harness importing ``__spark_entry__`` by
    path from a neutral cwd does NOT give workers that path — the exact reason
    the Python-kernel queries could never be driver-certified. ``addPyFile`` of
    a package zip makes worker imports location-independent."""
    sc = spark.sparkContext
    key = sc.applicationId
    if key in _PYFILES_SENT:
        return
    import hashlib
    import os
    import tempfile
    import zipfile

    import pyspark_cdc_engine

    pkg_dir = os.path.dirname(os.path.abspath(pyspark_cdc_engine.__file__))
    members: list[tuple[str, str]] = []  # (arcname, full path), sorted for a stable hash
    for root, _dirs, files in os.walk(pkg_dir):
        for f in files:
            if f.endswith(".py"):
                full = os.path.join(root, f)
                arc = os.path.join(
                    "pyspark_cdc_engine", os.path.relpath(full, pkg_dir)
                )
                members.append((arc, full))
    members.sort()
    digest = hashlib.md5()
    for arc, full in members:
        digest.update(arc.encode())
        with open(full, "rb") as fh:
            digest.update(fh.read())
    # content-hash-keyed name under a per-user 0700 dir: one zip per package
    # version, reused across sessions — and not squattable by another local
    # user the way a predictable world-writable /tmp name would be
    zdir = os.path.join(tempfile.gettempdir(), f"pyspark_cdc_engine_{os.getuid()}")
    os.makedirs(zdir, mode=0o700, exist_ok=True)
    if os.stat(zdir).st_uid != os.getuid():
        zdir = tempfile.mkdtemp(prefix="pyspark_cdc_engine_")  # name taken: fresh private dir
    zpath = os.path.join(zdir, f"pkg_{digest.hexdigest()[:12]}.zip")
    if not os.path.exists(zpath):
        tmp = zpath + f".tmp{os.getpid()}"
        with zipfile.ZipFile(tmp, "w") as z:
            for arc, full in members:
                z.write(full, arc)
        os.replace(tmp, zpath)
    sc.addPyFile(zpath)
    _PYFILES_SENT.add(key)


def register(name: str, survey: str, oracle: str | None, description: str = ""):
    """Decorator: register ``fn(spark, sf_dir) -> DataFrame`` under ``name``."""

    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
            _ensure_workers_can_import(spark)
            return fn(spark, sf_dir)

        wrapped.__name__ = fn.__name__
        wrapped.__doc__ = fn.__doc__
        REGISTRY[name] = Query(
            name, survey, wrapped, oracle, description or (fn.__doc__ or "").strip()
        )
        return fn

    return deco


def table_row_count(spark: SparkSession, sf_dir: str, name: str) -> int:
    """Row count from parquet FOOTERS — no Spark job, no data scan. The
    dedup/ANN operators gate physical-plan choices on corpus size; paying a
    corpus scan just to pick a plan would defeat the point at scale. Falls
    back to a Spark count for layouts pyarrow can't resolve."""
    import glob
    import os

    try:
        import pyarrow.parquet as pq

        path = os.path.join(sf_dir, f"{name}.parquet")
        if os.path.isfile(path):
            return pq.ParquetFile(path).metadata.num_rows
        parts = glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
        if parts:
            return sum(pq.ParquetFile(f).metadata.num_rows for f in parts)
    except Exception:
        pass
    return load_table(spark, sf_dir, name).count()


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name == "events":
        # events.parquet has carried two physical encodings across driver
        # rounds: TIMESTAMP(NANOS) (readable only via nanosAsLong → bigint) and
        # plain timestamp[us] (read as TIMESTAMP_NTZ). Normalise both to a
        # session-TZ TIMESTAMP so downstream queries and the DuckDB oracle
        # (which truncates nanos to micros natively) agree.
        from pyspark.sql.types import LongType

        try:
            df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
            df.schema  # force analysis so an illegal-type error surfaces here
        except Exception:
            # TIMESTAMP(NANOS) encoding + a session without the legacy conf
            # (the certification harness uses a plain SparkSession): opt in to
            # nanos-as-bigint and retry — only touched on this failure path,
            # so ordinary sessions stay unmutated
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
            df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        if isinstance(df.schema["ts"].dataType, LongType):
            # integer division: double division loses sub-microsecond exactness
            # for nanosecond epochs beyond 2^53 and lands 1us off DuckDB
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        else:
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
        return df
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def fan_out(df: DataFrame, cut: bool = False) -> DataFrame:
    """Scale-adaptive parallelism floor for CPU-dense pipelines rooted at a
    small scan (guide §2.5 — "input skew: one huge unsplittable file …
    repartition immediately after the read"; §6 input split size).

    The bench corpora are single sub-128 MB / one-row-group parquet files, so
    every scan is ONE split = ONE task — and the explode-×dim vector kernels
    multiply per-row work ×(dim·K), which serialized the whole trained/ANN
    family onto one core (r13 job profile: a 7.5 s single-task Lloyd's means
    job inside ``pq_trained_encode``; the r12 verdict's 8- vs 32-core scaling
    ratio ≈ 1 across the family is exactly this). Round-robin repartition to
    ``defaultParallelism`` when (and only when) the plan's estimated input
    size would yield fewer than half that many scan splits. Both inputs of
    the decision derive from the session (core count, maxPartitionBytes), so
    nothing is tuned to local[32]; at production scale the scan out-splits
    the core count and this is a NO-OP — no added shuffle.

    Results are unaffected: every consumer downstream is an aggregation /
    join keyed on ids with order-independent arithmetic (decimal and
    fixed-point sums, deterministic tie-breaks), so row placement cannot
    change values. An upstream round-robin repartition or checkpointed RDD
    (walked through narrow Project/Filter nodes) short-circuits, so
    composed kernels that each call ``fan_out`` don't stack exchanges.

    ``cut=True`` additionally MATERIALIZES the fanned frame (one eager
    localCheckpoint job). For a corpus root consumed by MANY separate jobs
    (a Lloyd's training loop plus its assignment/eval sides), a plain
    repartition is re-executed by every consumer job and each pays the
    extra exchange's AQE stage-jobs — measured r13: the trained-kmeans
    family's job count tripled and walls regressed 1.7-3× under plain
    fanning. The cut bounds that at ONE execution; the gate bounds the
    cached bytes (only frames under target×maxPartitionBytes/2 ever fan,
    and at scale the gate makes the whole call a no-op, so nothing
    corpus-sized is ever pinned). The cut does defeat scan pushdown for
    pruned consumers — acceptable exactly because the gate proved the
    frame tiny.

    Each decision is logged as one line under this module's logger: fanned
    to N, or skipped with its reason."""
    spark = df.sparkSession
    target = spark.sparkContext.defaultParallelism
    try:
        plan = df._jdf.queryExecution().optimizedPlan()
        node = plan
        for _ in range(8):  # walk past narrow nodes to find an earlier fan
            name = node.getClass().getSimpleName()
            if name in ("Repartition", "RepartitionByExpression",
                        "RebalancePartitions", "LogicalRDD"):
                # LogicalRDD = an upstream materialize()/localCheckpoint —
                # it already carries the fanned partitioning
                log.info("fan_out skipped: upstream fan (%s)", name)
                return df
            if name in ("Project", "Filter") and node.children().size() == 1:
                node = node.children().apply(0)
                continue
            break
        size = int(str(plan.stats().sizeInBytes()))
        # the session's parsed value: the raw conf string may carry a size
        # suffix ('134217728b' on a stock session, '128m' when user-set)
        max_pb = spark._jsparkSession.sessionState().conf().filesMaxPartitionBytes()
    except (Py4JError, CapturedException) as e:
        # never inject a corpus shuffle blind. A JVM error surfaces raw or,
        # once the session's exception handler converted it, as a
        # CapturedException (AnalysisException, ...); log its first line only
        log.warning("fan_out skipped: introspection failed: %s: %s",
                    type(e).__name__, (str(e).splitlines() or [""])[0])
        return df
    est_splits = max(1, -(-size // max_pb))
    if 2 * est_splits >= target:
        # the scan already parallelizes; keep it shuffle-free
        log.info("fan_out skipped: scan already split (%d est. splits, %d cores)",
                 est_splits, target)
        return df
    from pyspark_cdc_engine.config import get_config

    floor = get_config().get_int("engine.fan-out-min-bytes")
    if size < floor:
        # too small for the exchange's fixed cost to ever amortize —
        # e.g. the sf0.001/sf0.01 oracle corpora (measured r13)
        log.info("fan_out skipped: below floor (%d < %d bytes)", size, floor)
        return df
    log.info("fan_out fanned to %d (%d bytes, %d est. splits)",
             target, size, est_splits)
    df = df.repartition(target)
    if cut:
        from pyspark_cdc_engine.checkpointing import materialize

        df = materialize(df)
    return df


def literal_frame(spark: SparkSession, rows: list, schema) -> DataFrame:
    """Small driver-side literal table as a LocalRelation (LocalTableScan).

    ``spark.createDataFrame(list_of_rows)`` parallelizes into
    ``defaultParallelism`` RDD slices — a 16-row centroid table becomes a
    32-partition ExistingRDD on a 32-core box, so every scan or broadcast
    build of it is a 32-task stage (measured 2.1 s noop vs 0.1 s for the
    LocalRelation form, guide §1.4). Routing the rows through pandas+Arrow
    yields a LocalRelation instead: no tasks, broadcasts built driver-side,
    and the optimizer can constant-fold through it. Arrow float64/int
    conversion is exact (Python floats ARE doubles), so values — and every
    DuckDB oracle hash downstream — are bit-identical to the RDD path
    (asserted in tests/test_literal_frame.py).

    The pandas route only yields a LocalRelation when Arrow interchange is
    on, so the helper enables ``spark.sql.execution.arrow.pyspark.enabled``
    FOR THE CONVERSION ONLY and restores the session's previous value after
    (r12 verdict #4: a query function must not mutate session conf as a
    side effect) — the driver certifies queries on a PLAIN SparkSession, so
    the flag cannot be assumed on. Falls back to the classic path coalesced
    to one slice when pandas is unavailable or Arrow conversion fails."""
    _ARROW_CONF = "spark.sql.execution.arrow.pyspark.enabled"
    try:
        import pandas as pd
        from pyspark.sql.types import StructType, _parse_datatype_string

        if isinstance(schema, str):
            parsed: StructType = _parse_datatype_string(schema)
        else:
            parsed = schema
        prev = spark.conf.get(_ARROW_CONF, None)
        spark.conf.set(_ARROW_CONF, "true")
        try:
            cols = {
                f.name: [r[i] for r in rows]
                for i, f in enumerate(parsed.fields)
            }
            pdf = pd.DataFrame(cols, columns=[f.name for f in parsed.fields])
            return spark.createDataFrame(pdf, parsed)
        finally:
            if prev is None:
                spark.conf.unset(_ARROW_CONF)
            else:
                spark.conf.set(_ARROW_CONF, prev)
    except Exception:  # pandas missing or Arrow conversion failed
        return spark.createDataFrame(rows, schema).coalesce(1)


def dsum(col: Column | str, scale: int = 6, precision: int = 28) -> Column:
    """Order-independent double sum: sum as DECIMAL, return DOUBLE.

    Casting each term to decimal is deterministic per row; decimal addition is
    exact, so the reduction order Spark/DuckDB pick cannot change the result.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c.cast(f"decimal({precision},{scale})")).cast("double")


def dsum_sql(expr: str, scale: int = 6, precision: int = 28) -> str:
    return f"CAST(SUM(CAST({expr} AS DECIMAL({precision},{scale}))) AS DOUBLE)"


def davg(col: Column | str, scale: int = 6) -> Column:
    """avg = exact decimal sum cast to double, / count — identical both engines."""
    c = F.col(col) if isinstance(col, str) else col
    return dsum(c, scale) / F.count(c)


def davg_sql(expr: str, scale: int = 6) -> str:
    return f"{dsum_sql(expr, scale)} / COUNT({expr})"

"""Structural gates for the r13 fan_out optimization (guide §2.5) and the
r12/r13 shared-kernel plan claims — asserting the *shape*, not the timing,
so a future refactor can't silently regress them (r12 verdict ask #6)."""

from __future__ import annotations

import logging
import os
from types import SimpleNamespace

import pytest
from py4j.protocol import Py4JError
from pyspark.errors.exceptions.captured import IllegalArgumentException
from pyspark.sql import functions as F

from pyspark_cdc_engine.config import get_config
from pyspark_cdc_engine.operators.registry import fan_out
from tests.conftest import SF_DIR

# The gate only fans inputs >= engine.fan-out-min-bytes: the sf0.001 test
# corpus sits below the floor BY DESIGN (fanning it only slows the oracle
# lane), so the gate tests read the bench's sf0.1 file, which is in the fan
# window (800 KB, one row group, one split). Both sides of the floor are
# asserted in test_fan_out_floor_skips_tiny_inputs.
SF01_EMB = os.path.join(
    os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"),
    "embeddings.parquet",
)
needs_sf01 = pytest.mark.skipif(
    not os.path.exists(SF01_EMB), reason=f"bench corpus absent: {SF01_EMB}"
)
FAN_LOGGER = "pyspark_cdc_engine.operators.registry"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(autouse=True)
def _fan_out_decisions_logged(caplog):
    caplog.set_level(logging.INFO, logger=FAN_LOGGER)


def _decisions(caplog) -> list[str]:
    return [r.getMessage() for r in caplog.records if r.name == FAN_LOGGER]


@needs_sf01
def test_fan_out_raises_single_split_scan_to_core_count(spark, caplog):
    df = spark.read.parquet(SF01_EMB)
    assert df.rdd.getNumPartitions() == 1  # the bench corpora under-split
    fanned = fan_out(df)
    assert fanned.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism
    (line,) = _decisions(caplog)
    assert line.startswith(f"fan_out fanned to {fanned.rdd.getNumPartitions()} (")


@needs_sf01
def test_fan_out_parses_suffixed_split_size(spark):
    """maxPartitionBytes is a size conf: a stock session reports
    '134217728b' and users write '128m'. Either form must reach the split
    estimate as bytes, not silently disable the fan."""
    df = spark.read.parquet(SF01_EMB)
    prev = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try:
        spark.conf.set("spark.sql.files.maxPartitionBytes", "128m")
        fanned = fan_out(df)
        assert fanned.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", prev)


@needs_sf01
def test_fan_out_is_noop_when_scan_already_parallelizes(spark, caplog):
    df = spark.read.parquet(SF01_EMB)
    prev = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try:
        # shrink the split size so the SAME file is estimated to out-split
        # the core count — the production-scale shape
        spark.conf.set("spark.sql.files.maxPartitionBytes", "1024")
        fanned = fan_out(df)
        assert "Exchange" not in _plan(fanned)
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", prev)
    (line,) = _decisions(caplog)
    assert line.startswith("fan_out skipped: scan already split (")


@needs_sf01
def test_fan_out_does_not_stack_on_composition(spark, caplog):
    df = spark.read.parquet(SF01_EMB)
    once = fan_out(df)
    twice = fan_out(once.select("vec_id", "embedding"))
    assert _plan(twice).count("Exchange") == 1
    assert _decisions(caplog)[1] == "fan_out skipped: upstream fan (Repartition)"


@needs_sf01
def test_fan_out_skips_materialized_frames(spark, caplog):
    df = spark.read.parquet(SF01_EMB)
    cut = fan_out(df, cut=True)
    assert cut.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism
    refan = fan_out(cut.select("vec_id"))
    assert "Exchange" not in _plan(refan)
    assert _decisions(caplog)[1] == "fan_out skipped: upstream fan (LogicalRDD)"


@needs_sf01
def test_fan_out_raises_on_bad_floor_setting(spark, monkeypatch):
    """Only JVM introspection failures fall back; a malformed setting is a
    configuration error and must surface, not turn the fan off."""
    monkeypatch.setenv("CDC_CONF_ENGINE_FAN_OUT_MIN_BYTES", "lots")
    with pytest.raises(ValueError):
        fan_out(spark.read.parquet(SF01_EMB))


@pytest.mark.parametrize("error", [
    lambda: Py4JError("no plan"),
    # the session's exception handler converts JVM errors of raw _jdf calls
    lambda: IllegalArgumentException(desc="no plan", stackTrace="at x\nat y"),
], ids=["py4j", "captured"])
def test_fan_out_logs_introspection_failure(spark, caplog, error):
    exc = error()  # a CapturedException needs the live JVM

    class _Jdf:
        def queryExecution(self):
            raise exc

    df = SimpleNamespace(sparkSession=spark, _jdf=_Jdf())
    assert fan_out(df) is df
    assert _decisions(caplog) == [
        f"fan_out skipped: introspection failed: {type(exc).__name__}: no plan"
    ]


@needs_sf01
def test_fan_out_preserves_rows(spark):
    df = spark.read.parquet(SF01_EMB).select("vec_id")
    a = sorted(r.vec_id for r in df.collect())
    b = sorted(r.vec_id for r in fan_out(df).collect())
    assert a == b


@needs_sf01
def test_fan_out_floor_skips_tiny_inputs(spark, caplog):
    """Inputs below engine.fan-out-min-bytes never fan — the exchange's
    fixed cost cannot amortize on a few-KB frame (the oracle corpora)."""
    floor = get_config().get_int("engine.fan-out-min-bytes")
    assert os.path.getsize(f"{SF_DIR}/embeddings.parquet") < floor
    assert os.path.getsize(SF01_EMB) >= floor  # the gate tests' input fans
    tiny = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")  # ~10 KB
    assert "Exchange" not in _plan(fan_out(tiny))
    (line,) = _decisions(caplog)
    assert line.startswith("fan_out skipped: below floor (")
    assert line.endswith(f" < {floor} bytes)")


def test_pq_exact_topk_is_zip_with_free(spark):
    """r12 win #11: the exact PQ ground truth must stay the exploded
    codegen decimal agg, never the interpreted per-pair zip_with fold."""
    from pyspark_cdc_engine.operators.dedup_scale import _pq_exact_topk

    assert "zip_with" not in _plan(_pq_exact_topk(spark, SF_DIR))


def test_hard_negative_mining_single_cross_join(spark):
    """r12 win #1: the pos/neg split must share ONE Q×N cross join (the
    best-positive MAX rides the rank window's exchange)."""
    from pyspark_cdc_engine.operators.vectors import hard_negative_mining

    plan = _plan(hard_negative_mining(spark, SF_DIR))
    assert plan.count("BroadcastNestedLoopJoin") == 1

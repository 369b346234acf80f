"""Layered config (config.py, AppConfig.scala analog) + reliable-checkpoint
routing (checkpointing.py). Precedence contract under test:

    env (canonical CDC_CONF_* then legacy alias) > overrides > job file > DEFAULTS
"""

from __future__ import annotations

import json
import os
from pathlib import Path

import pytest

from pyspark_cdc_engine import config as cfgmod
from pyspark_cdc_engine.checkpointing import materialize, materialize_async
from pyspark_cdc_engine.config import AppConfig, DEFAULTS, env_name, load


def test_defaults_layer():
    c = AppConfig()
    assert c.get_int("engine.minhash-rejoin-docs") == 50_000
    assert c.get_str("kafka.starting-offsets") == "earliest"
    assert c.get_bool("kafka.fail-on-data-loss") is False
    with pytest.raises(KeyError):
        c.get("no.such.key")
    assert c.get("no.such.key", "fallback") == "fallback"


def test_file_layer_beats_defaults_and_flattens_nesting(tmp_path):
    f = tmp_path / "job.json"
    f.write_text(json.dumps({
        "engine": {"minhash-rejoin-docs": 7},
        "spark.log-level": "INFO",
    }))
    c = load(config_file=f)
    assert c.get_int("engine.minhash-rejoin-docs") == 7
    assert c.get_str("spark.log-level") == "INFO"
    assert c.get_str("spark.dev.app-name") == DEFAULTS["spark.dev.app-name"]
    assert c.source == str(f)


def test_overrides_beat_file(tmp_path):
    f = tmp_path / "job.json"
    f.write_text(json.dumps({"engine": {"ivf-bucket-cap": 5}}))
    c = load(config_file=f, overrides={"engine.ivf-bucket-cap": 9})
    assert c.get_int("engine.ivf-bucket-cap") == 9


def test_env_beats_everything(tmp_path, monkeypatch):
    f = tmp_path / "job.json"
    f.write_text(json.dumps({"engine": {"ivf-bucket-cap": 5}}))
    c = load(config_file=f, overrides={"engine.ivf-bucket-cap": 9})
    monkeypatch.setenv(env_name("engine.ivf-bucket-cap"), "3")
    assert c.get_int("engine.ivf-bucket-cap") == 3


def test_legacy_env_alias_and_canonical_priority(monkeypatch):
    c = AppConfig()
    monkeypatch.setenv("CDC_MH_REJOIN_DOCS", "111")
    assert c.get_int("engine.minhash-rejoin-docs") == 111
    # canonical name wins over the legacy alias
    monkeypatch.setenv("CDC_CONF_ENGINE_MINHASH_REJOIN_DOCS", "222")
    assert c.get_int("engine.minhash-rejoin-docs") == 222


def test_job_name_discovery_via_config_dir(tmp_path, monkeypatch):
    d = tmp_path / "conf"
    d.mkdir()
    (d / "myjob.json").write_text(json.dumps({"job": {"name": "myjob"}}))
    monkeypatch.setenv("CDC_CONFIG_DIR", str(d))
    c = load(job_name="myjob")
    assert c.get("job.name") == "myjob"
    # a missing job file is not an error — defaults still apply
    c2 = load(job_name="ghost-job")
    assert c2.get_str("spark.log-level") == "WARN"
    with pytest.raises(FileNotFoundError):
        load(config_file=tmp_path / "nope.json")


def test_get_bool_coercions(monkeypatch):
    c = AppConfig(overrides={"kafka.fail-on-data-loss": "true"})
    assert c.get_bool("kafka.fail-on-data-loss") is True
    monkeypatch.setenv(env_name("kafka.fail-on-data-loss"), "0")
    assert c.get_bool("kafka.fail-on-data-loss") is False


def test_spark_confs_passthrough_and_provider(tmp_path):
    f = tmp_path / "job.json"
    f.write_text(json.dumps({
        "spark": {"ui-port": "4099", "conf": {"spark.executor.memory": "2G"}},
    }))
    confs = load(config_file=f).spark_confs()
    assert confs["spark.ui.port"] == "4099"
    assert confs["spark.executor.memory"] == "2G"
    assert confs["spark.sql.streaming.stateStore.providerClass"].endswith(
        "RocksDBStateStoreProvider"
    )


def test_operator_knobs_read_config_live(monkeypatch):
    """The folded env knobs still steer operators (legacy alias path)."""
    from pyspark_cdc_engine.operators.dedup_scale import (
        _materialize_docs,
        _mh_rejoin_docs,
    )

    assert _mh_rejoin_docs() == 50_000
    monkeypatch.setenv("CDC_MH_REJOIN_DOCS", "42")
    assert _mh_rejoin_docs() == 42
    monkeypatch.setenv("CDC_CONF_ENGINE_MATERIALIZE_DOCS", "17")
    assert _materialize_docs() == 17


def test_get_config_is_cached_and_resettable():
    a = cfgmod.get_config()
    assert cfgmod.get_config() is a
    custom = AppConfig(overrides={"spark.log-level": "ERROR"})
    cfgmod.set_config(custom)
    try:
        assert cfgmod.get_config() is custom
    finally:
        cfgmod.set_config(None)
    assert cfgmod.get_config() is not custom


# ------------------------------------------------------- reliable checkpoints
def test_materialize_local_by_default(spark, tmp_path):
    ckpt = tmp_path / "untouched"
    df = spark.range(10)
    out = materialize(df)
    assert out.count() == 10
    assert not ckpt.exists()  # nothing routed to a reliable dir


def test_materialize_reliable_when_configured(spark, tmp_path, monkeypatch):
    """VERDICT r4 #3: engine.checkpoint-dir routes iterative-path lineage cuts
    to reliable checkpoint() — artifacts land in the dir, results unchanged."""
    ckpt = tmp_path / "reliable"
    monkeypatch.setenv("CDC_RELIABLE_CHECKPOINT", str(ckpt))
    df = spark.range(10)
    out = materialize(df)
    assert sorted(r.id for r in out.collect()) == list(range(10))
    # reliable path engaged: the context's checkpoint dir points under ours
    # and RDD checkpoint artifacts were written there
    ccd = spark.sparkContext.getCheckpointDir()
    assert ccd and str(ckpt) in ccd
    assert any(p.name.startswith("rdd-") for p in ckpt.rglob("rdd-*")), (
        "no reliable checkpoint artifacts written"
    )


def test_materialize_async_cancel_stops_its_job(spark):
    """A caller whose training loop fails cancels the ground-truth job it
    started: the job stops within seconds and joining raises."""
    import time

    from pyspark.sql import functions as F

    @F.udf("long")
    def slow(x):
        import time

        time.sleep(60)
        return x

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    sc.setJobGroup("caller", "async cancel test")
    try:
        handle = materialize_async(
            spark.range(2, numPartitions=2).select(slow("id").alias("id"))
        )
    finally:
        sc._jsc.clearJobGroup()
    # nested under the caller's group, so a per-group profile counts it
    assert handle.group.startswith("caller/materialize_async-")

    def running() -> list[int]:
        return [
            j for j in tracker.getJobIdsForGroup(handle.group)
            if tracker.getJobInfo(j).status == "RUNNING"
        ]

    deadline = time.monotonic() + 30
    while not running():
        assert time.monotonic() < deadline, "async job never started"
        time.sleep(0.1)
    # the caller's description stays on the async job
    job = sc._jsc.sc().statusStore().job(running()[0])
    assert job.description().get() == "async cancel test"
    handle.cancel()
    deadline = time.monotonic() + 5
    while running():
        assert time.monotonic() < deadline, "async job still running"
        time.sleep(0.1)
    with pytest.raises(Exception, match="cancel"):
        handle()


def test_connected_components_identical_under_reliable_checkpoint(
    spark, tmp_path, monkeypatch
):
    from pyspark_cdc_engine.operators.text import connected_components

    nodes = spark.createDataFrame([(i,) for i in range(8)], ["doc_id"])
    pairs = spark.createDataFrame(
        [(0, 1), (1, 2), (4, 5), (6, 7), (5, 6)], ["doc_a", "doc_b"]
    )
    base = {
        (r.doc_id, r.cluster_id, r.is_canonical)
        for r in connected_components(nodes, pairs).collect()
    }
    monkeypatch.setenv("CDC_RELIABLE_CHECKPOINT", str(tmp_path / "cc_ckpt"))
    reliable = {
        (r.doc_id, r.cluster_id, r.is_canonical)
        for r in connected_components(nodes, pairs).collect()
    }
    assert base == reliable
    assert base == {
        (0, 0, True), (1, 0, False), (2, 0, False), (3, 3, True),
        (4, 4, True), (5, 4, False), (6, 4, False), (7, 4, False),
    }


def test_session_factory_accepts_config(spark):
    """get_spark(config=...) applies log level + app-name keys without
    disturbing the active session's semantic confs."""
    from pyspark_cdc_engine.session import get_spark

    c = AppConfig(overrides={"spark.log-level": "WARN"})
    s = get_spark(config=c)  # getOrCreate reuses the pytest session
    assert s.conf.get("spark.sql.session.timeZone") == "UTC"


def test_get_spark_keeps_a_live_sessions_settings(spark):
    """A get_spark call that reuses the live session must not put the base
    defaults back over what was set on it at run time."""
    from pyspark_cdc_engine.session import get_spark

    key = "spark.sql.shuffle.partitions"
    orig = spark.conf.get(key)
    try:
        spark.conf.set(key, "7")
        s = get_spark(config=AppConfig(overrides={"spark.log-level": "WARN"}))
        assert s is spark
        assert spark.conf.get(key) == "7"
    finally:
        spark.conf.set(key, orig)


def test_local_master_sizes_shuffle_partitions_to_its_cores():
    """get_spark gives a local master one shuffle partition per core and any
    other master the base 32. Read off the master string: building a second
    session would reconfigure the shared one through getOrCreate."""
    import os

    from pyspark_cdc_engine.session import _BASE_CONFS, _local_cores

    assert _local_cores("local") == 1
    assert _local_cores("local[3]") == 3
    assert _local_cores("local[3,2]") == 3
    assert _local_cores("local[*]") == (os.cpu_count() or 1)
    for master in ("local-cluster[2,1,1024]", "yarn", "spark://host:7077"):
        assert _local_cores(master) is None
    assert _BASE_CONFS["spark.sql.shuffle.partitions"] == "32"


def test_session_cleans_reliable_checkpoints(spark):
    assert spark.sparkContext.getConf().get(
        "spark.cleaner.referenceTracking.cleanCheckpoints") == "true"


def test_materialize_reroutes_when_active_root_is_similar_prefix(
    spark, tmp_path, monkeypatch
):
    """Review r5: the active-checkpoint-root check must be a path comparison,
    not substring containment — /data/ckpt must NOT be satisfied by an active
    /data/ckpt-old."""
    old = tmp_path / "ckpt-old"
    new = tmp_path / "ckpt"
    monkeypatch.setenv("CDC_RELIABLE_CHECKPOINT", str(old))
    materialize(spark.range(3))
    assert str(old) in (spark.sparkContext.getCheckpointDir() or "")
    # str(new) is a prefix of str(old) — substring logic would skip the reset
    monkeypatch.setenv("CDC_RELIABLE_CHECKPOINT", str(new))
    materialize(spark.range(3))
    ccd = spark.sparkContext.getCheckpointDir() or ""
    assert str(new) in ccd and "ckpt-old" not in ccd
    assert any(new.rglob("rdd-*"))


def test_spark_confs_hive_metastore_wiring(tmp_path):
    """SparkSessionCreator.scala:32-33 parity: spark.hive.* keys map to the
    javax.jdo metastore confs; absent keys contribute nothing."""
    c = AppConfig(overrides={
        "spark.hive.connection-url": "jdbc:derby:;databaseName=/tmp/ms;create=true",
        "spark.hive.connection-driver": "org.apache.derby.jdbc.EmbeddedDriver",
    })
    confs = c.spark_confs()
    assert confs["spark.hadoop.javax.jdo.option.ConnectionURL"].startswith(
        "jdbc:derby:"
    )
    assert (
        confs["spark.hadoop.javax.jdo.option.ConnectionDriverName"]
        == "org.apache.derby.jdbc.EmbeddedDriver"
    )
    assert "spark.hadoop.javax.jdo.option.ConnectionURL" not in (
        AppConfig().spark_confs()
    )


@pytest.mark.heavy
def test_enable_hive_support_builds_hive_catalog(tmp_path):
    """SparkSessionCreator.scala:39 parity: the enable-hive-support toggle
    yields a session whose catalogImplementation is hive (persistent
    metastore). catalogImplementation is a static conf, so this runs in a
    subprocess with its own JVM rather than the shared pytest session."""
    import subprocess
    import sys
    import textwrap

    script = textwrap.dedent("""
        import os, sys
        from pyspark_cdc_engine.config import AppConfig
        from pyspark_cdc_engine.session import get_spark
        c = AppConfig(overrides={
            "spark.dev.enable-hive-support": True,
            "spark.warehouse-dir": sys.argv[1],
            "spark.conf.spark.sql.shuffle.partitions": "4",
        })
        spark = get_spark(app_name="hive-toggle-test", master="local[2]", config=c)
        # the config's passthrough beats the local[2] core-count default
        assert spark.conf.get("spark.sql.shuffle.partitions") == "4"
        assert spark.conf.get("spark.sql.catalogImplementation") == "hive", \\
            spark.conf.get("spark.sql.catalogImplementation")
        spark.sql("CREATE TABLE hive_toggle_t (id BIGINT) USING parquet")
        spark.sql("INSERT INTO hive_toggle_t VALUES (1), (2)")
        n = spark.sql("SELECT count(*) AS n FROM hive_toggle_t").collect()[0].n
        assert n == 2, n
        spark.stop()
        print("HIVE_OK")
    """)
    env = dict(os.environ)
    # Keep the subprocess's derby metastore + warehouse inside tmp_path.
    env["SPARK_GRAFT_CPUS"] = "2"
    repo_root = str(Path(__file__).resolve().parent.parent)
    env["PYTHONPATH"] = repo_root + os.pathsep + env.get("PYTHONPATH", "")
    proc = subprocess.run(
        [sys.executable, "-c", script, str(tmp_path / "wh")],
        capture_output=True, text=True, timeout=300,
        cwd=str(tmp_path),  # derby.log + metastore_db land here, not the repo
        env=env,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert "HIVE_OK" in proc.stdout

"""Lineage-truncation helper for iterative and shared-frame plans.

Iterative operators (connected-components label propagation) and frames feeding
multiple downstream consumers (LSH shingle tables) must materialize, or lineage
grows per round / the corpus is re-scanned per consumer. Two mechanisms:

- ``df.localCheckpoint()`` — blocks cached on executors. Fast (no distributed
  write), but NOT fault-tolerant: losing one executor loses blocks and kills
  the job mid-loop. Right for local mode and the test/bench boxes.
- ``df.checkpoint()`` to a RELIABLE directory (HDFS/S3) — survives executor
  loss; the only safe choice for a multi-hour 100 TB run on a real cluster.

:func:`materialize` routes between them on the ``engine.checkpoint-dir``
config key (env: ``CDC_RELIABLE_CHECKPOINT`` / ``CDC_CONF_ENGINE_CHECKPOINT_DIR``,
see :mod:`pyspark_cdc_engine.config`): set it to a durable directory on a real
cluster and every iterative path in the engine switches to reliable
checkpointing with no code change; unset, behavior is the fast local default.
Results are identical either way — only failure-recovery semantics differ.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from pyspark_cdc_engine.config import get_config


def materialize_async(df: DataFrame) -> "AsyncMaterialize":
    """Start :func:`materialize` of ``df`` on a driver thread and return a
    handle: call it to join and get the materialized frame, or ``cancel()``
    it.

    Guide §2.6 — overlap independent jobs: Spark happily runs several jobs
    at once inside one application; actions are only sequential because
    driver code calls them sequentially. A recall eval's ground-truth side
    is independent of its training loop, so materializing it concurrently
    hides its wall entirely behind the (inherently serial) Lloyd's rounds
    instead of appending it to them (r13, the r12 verdict's #1: the trained
    family is a chain of small serial jobs). ``InheritableThread`` keeps
    job description props and py4j thread cleanup correct. Errors re-raise
    at join time; results are identical to a synchronous materialize (same
    lineage cut, same values).

    The thread's job runs under its own job group, ``<caller's group>/
    materialize_async-<id>`` (so a profiler filtering on the caller's group
    prefix still counts it), and keeps the caller's job description. A
    caller whose own work can fail cancels the handle in a ``finally``:
    nothing else stops the job once the caller has stopped waiting for it,
    and after a successful join the cancel is a no-op."""
    return AsyncMaterialize(df)


class AsyncMaterialize:
    """Handle of one :func:`materialize_async` run."""

    def __init__(self, df: DataFrame) -> None:
        import uuid

        from pyspark import InheritableThread

        self._sc = df.sparkSession.sparkContext
        parent = self._sc.getLocalProperty("spark.jobGroup.id")
        name = f"materialize_async-{uuid.uuid4().hex[:12]}"
        self.group = f"{parent}/{name}" if parent else name
        self._box: dict = {}
        self._thread = InheritableThread(target=self._run, args=(df,), daemon=True)
        self._thread.start()

    def _run(self, df: DataFrame) -> None:
        try:
            # the group only: the caller's job description and
            # interrupt-on-cancel flag, inherited by the thread, stay
            self._sc.setLocalProperty("spark.jobGroup.id", self.group)
            self._box["df"] = materialize(df)
        except BaseException as e:  # noqa: BLE001 — re-raised at join
            self._box["err"] = e

    def __call__(self) -> DataFrame:
        self._thread.join()
        if "err" in self._box:
            raise self._box["err"]
        return self._box["df"]

    def cancel(self) -> None:
        """Cancel the job if it still runs and wait for the thread to end
        (a join then raises the cancellation). Cancelling repeats until the
        thread ends, so a job it submits after the first cancel stops too."""
        while self._thread.is_alive():
            self._sc.cancelJobGroup(self.group)
            self._thread.join(0.5)


def materialize_lazy(df: DataFrame) -> DataFrame:
    """Lineage cut that materializes inside the NEXT action instead of
    paying a dedicated job now (``eager=False``) — the per-step cut of the
    BPE training loop (k lazy cuts = k+1 jobs instead of 2k+1, r12). Routes
    between local and reliable checkpointing on ``engine.checkpoint-dir``
    exactly like :func:`materialize`, so configuring a durable directory
    upgrades the k-step loop to executor-loss-safe checkpoints with no code
    change (r13 ADVICE #3 — the loop previously called ``localCheckpoint``
    directly and never saw the config)."""
    return materialize(df, eager=False)


def materialize(df: DataFrame, eager: bool = True) -> DataFrame:
    """Cut ``df``'s lineage: reliable ``checkpoint()`` when
    ``engine.checkpoint-dir`` is configured, ``localCheckpoint()`` otherwise."""
    ckpt_dir = get_config().get_str("engine.checkpoint-dir")
    if not ckpt_dir:
        return df.localCheckpoint(eager=eager)
    from pathlib import PurePath

    sc = df.sparkSession.sparkContext
    current = sc.getCheckpointDir()
    # setCheckpointDir stores <root>/<uuid>; re-set unless the ACTIVE root
    # (parent of that uuid dir, scheme stripped) equals the configured root —
    # a substring test would wrongly accept e.g. /data/ckpt-old for
    # /data/ckpt and keep "reliable" checkpoints on the wrong filesystem
    active_root = None
    if current is not None:
        path_part = current.split("://", 1)[-1]
        if path_part.startswith("file:"):
            path_part = path_part[len("file:"):]
        active_root = str(PurePath(path_part).parent)
    if active_root != str(PurePath(ckpt_dir.rstrip("/"))):
        sc.setCheckpointDir(ckpt_dir)
    return df.checkpoint(eager=eager)

"""CDC table replication — the "APPLY CHANGES INTO" primitive over the
change feed, plus a streaming replicator that keeps a replica deltalite
table converged with a source table (Delta's `readChangeFeed` → MERGE
recipe, DLT's APPLY CHANGES shape).

Two layers:

- :func:`apply_changes` — batch: fold a change-feed frame (insert / delete /
  update_preimage / update_postimage rows, tagged `_change_type` /
  `_commit_version`) into a destination table, keyed by a primary key. The
  per-key NET effect is computed first (last state wins by commit version),
  so a batch spanning insert→update→delete of one key applies as a single
  delete — and the whole batch lands as ONE stats-pruned MERGE commit,
  idempotent under replay via (txn_app, txn_version).

- :func:`replicate_stream` — streaming: wire the `deltalite_cdf` source
  (:mod:`pyspark_cdc_engine.cdf_source`) into that applier under a
  Structured Streaming checkpoint. Offsets are source commit versions;
  micro-batch replay is a MERGE no-op (txn tag = batch id) — exactly-once
  replication end to end.

Scale shape: the net-effect step shuffles only the CHANGE batch (not the
replica), and the MERGE prunes untouched replica dirs by the batch's key
range (file-skipping merge) — a 100 TB replica updated by small CDC batches
rewrites only the touched fraction of its files.

Requires key uniqueness in the SOURCE table (a primary key): two live source
rows sharing a key would race nondeterministically for the replica row, so
the net-effect window's (commit_version, change-priority) order must be a
total order per key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from pyspark_cdc_engine.tables import (
    DeltaliteTable,
    MergeClause,
    NoChangesInWindow,
)

_META_COLS = ("_change_type", "_commit_version", "_commit_timestamp")


def net_changes(changes: DataFrame, key_cols: list[str]) -> DataFrame:
    """Per-key net effect of a change-feed frame: the LAST state-carrying row
    by (_commit_version, change priority), tagged ``__op`` = 'U' (upsert) or
    'D' (delete).

    update_preimage rows are dropped (the postimage carries the new state).
    Within one commit version an insert outranks a delete: an overwrite
    replacing a key emits both at the same version, and the insert is the
    surviving state."""
    prio = (
        F.when(F.col("_change_type").isin("insert", "update_postimage"), 2)
        .when(F.col("_change_type") == "delete", 1)
        .otherwise(0)
    )
    w = Window.partitionBy(*key_cols).orderBy(
        F.col("_commit_version").desc(), F.col("__prio").desc()
    )
    return (
        changes.filter(F.col("_change_type") != "update_preimage")
        .withColumn("__prio", prio)
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .withColumn(
            "__op",
            F.when(F.col("_change_type") == "delete", F.lit("D")).otherwise(
                F.lit("U")
            ),
        )
        .drop("__prio", "__rn", *_META_COLS)
    )


def apply_changes(
    dest: DeltaliteTable,
    changes: DataFrame,
    key_cols: list[str],
    txn_app: str | None = None,
    txn_version: int | None = None,
    prune_on: str | None = "auto",
    partition_by: list[str] | None = None,
) -> int:
    """Fold a change-feed frame into ``dest`` (APPLY CHANGES INTO): compute
    the per-key net effect, then one MERGE — matched 'D' deletes, matched 'U'
    updates, unmatched 'U' inserts (an unmatched 'D' — a key inserted and
    deleted within the batch — correctly applies as nothing).

    A nonexistent ``dest`` bootstraps via overwrite of the net upserts; the
    txn tag is recorded either way, so a crash between the bootstrap commit
    and the stream checkpoint replays as a no-op MERGE.

    ``prune_on="auto"`` file-skips the merge on the first key column (only
    replica dirs whose logged key range can hold batch keys are rewritten);
    pass ``None`` to disable or a column name to override. ``partition_by``
    declares the replica's partition spec at bootstrap (the replica's
    physical layout is a local choice — it need not mirror the source's).
    Returns the new dest version."""
    # persist the net frame: the MERGE underneath runs several jobs over it
    # (prune-bounds aggregate, the rewrite join, image scans) and each would
    # otherwise re-run the net window — and, streaming, re-read the source
    net = net_changes(changes, key_cols).persist()
    try:
        data_cols = [c for c in net.columns if c != "__op"]
        if not dest.exists():
            return dest.overwrite(
                net.filter(F.col("__op") == "U").select(*data_cols),
                txn_app=txn_app,
                txn_version=txn_version,
                partition_by=partition_by,
            )
        cond = " AND ".join(f"target.{k} <=> source.{k}" for k in key_cols)
        assign = {c: f"source.{c}" for c in data_cols}
        clauses = [
            MergeClause("delete", condition="source.__op = 'D'"),
            MergeClause("update", condition=None, assignments=assign),
            MergeClause("insert", condition="source.__op = 'U'", assignments=assign),
        ]
        return dest.merge(
            net,
            cond,
            clauses,
            prune_on=key_cols[0] if prune_on == "auto" else prune_on,
            txn_app=txn_app,
            txn_version=txn_version,
        )
    finally:
        net.unpersist()


_SCD2_COLS = ("__start_version", "__end_version", "__is_current")


def apply_changes_scd2(
    dest: DeltaliteTable,
    changes: DataFrame,
    key_cols: list[str],
    txn_app: str | None = None,
    txn_version: int | None = None,
) -> int:
    """APPLY CHANGES ... STORED AS SCD TYPE 2 (the DLT shape): fold a
    change-feed frame into a HISTORY table that keeps every state a key
    passed through, versioned by source commit:

    - each state-carrying change row (insert / update_postimage) becomes a
      history row ``(__start_version=its commit, __end_version=next change's
      commit or NULL, __is_current=no later change)``;
    - a delete closes the key's chain without opening a row;
    - the key's pre-batch current row is closed at the batch's FIRST change
      version.

    Everything lands as ONE MERGE commit (the close-update and all history
    inserts share a single clause cascade keyed by a ``__kind`` discriminator
    in the source), idempotent via (txn_app, txn_version). Unlike
    :func:`apply_changes`, intermediate states within a batch are KEPT, not
    netted — that is the point of type 2.

    ``SELECT * WHERE __is_current`` equals the type-1 replica / the source
    snapshot at the applied version (asserted in tests)."""
    ev = changes.filter(F.col("_change_type") != "update_preimage")
    data_cols = [c for c in ev.columns if c not in _META_COLS]
    # ascending event order per key; within one commit version a delete
    # precedes an insert (overwrite emits both: delete of the old row, insert
    # of the new — the insert is the later state)
    prio = F.when(F.col("_change_type") == "delete", 1).otherwise(2)
    w = Window.partitionBy(*key_cols).orderBy("_commit_version", "__prio")
    ev = (
        ev.withColumn("__prio", prio)
        .withColumn("__next_v", F.lead("_commit_version").over(w))
        .withColumn(
            "__first_v", F.min("_commit_version").over(Window.partitionBy(*key_cols))
        )
    )
    rows = ev.filter(F.col("_change_type") != "delete").select(
        *data_cols,
        F.col("_commit_version").cast("long").alias("__start_version"),
        F.col("__next_v").cast("long").alias("__end_version"),
        F.col("__next_v").isNull().alias("__is_current"),
        F.lit("row").alias("__kind"),
        F.col("__first_v").cast("long").alias("__first_v"),
    )
    if not dest.exists():
        return dest.overwrite(
            rows.drop("__kind", "__first_v"),
            txn_app=txn_app,
            txn_version=txn_version,
        )
    closes = (  # one close row per key (data cols only align the union schema)
        ev.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(
            *data_cols,
            F.lit(None).cast("long").alias("__start_version"),
            F.lit(None).cast("long").alias("__end_version"),
            F.lit(False).alias("__is_current"),
            F.lit("close").alias("__kind"),
            F.col("__first_v").cast("long").alias("__first_v"),
        )
    )
    source = rows.unionByName(closes)
    keys = " AND ".join(f"target.{k} <=> source.{k}" for k in key_cols)
    cond = f"({keys}) AND target.__is_current AND source.__kind = 'close'"
    out_cols = [*data_cols, *_SCD2_COLS]
    clauses = [
        MergeClause(
            "update",
            condition=None,
            assignments={
                "__end_version": "source.__first_v",
                "__is_current": "false",
            },
        ),
        MergeClause(
            "insert",
            condition="source.__kind = 'row'",
            assignments={c: f"source.{c}" for c in out_cols},
        ),
    ]
    return dest.merge(source, cond, clauses, txn_app=txn_app,
                      txn_version=txn_version)


def replicate_scd2_stream(
    spark: SparkSession,
    source_path: str,
    dest_path: str,
    key_cols: list[str],
    checkpoint_dir: str,
    starting_version: int | None = 0,
    maintain: list | None = None,
    max_versions_per_batch: int | None = None,
):
    """Streaming SCD Type 2 over the change stream: like
    :func:`replicate_stream` (change rows read batch-side per version
    window), but the destination keeps full key history (see
    :func:`apply_changes_scd2`)."""
    from pyspark_cdc_engine.cdf_source import read_change_stream
    from pyspark_cdc_engine.streaming.pipeline import _refresh_all

    dest = DeltaliteTable(spark, dest_path)
    src = DeltaliteTable(spark, source_path)
    txn_app = f"cdc_replicate_scd2:{checkpoint_dir}"
    changes = read_change_stream(
        spark, source_path, starting_version,
        max_versions_per_batch=max_versions_per_batch,
        metadata_only=True,
    )

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        vs = [r["_commit_version"] for r in batch_df.collect()]  # tiny
        if not vs:
            return
        try:
            # strict: a cow MERGE without CDF in the window raises instead of
            # silently dropping its changes; the retention 'change feed
            # unavailable' ValueError propagates too (failOnDataLoss) — only
            # the benign no-change window is swallowed
            batch = src.read_changes(min(vs) - 1, max(vs), strict=True)
        except NoChangesInWindow:
            return  # only no-change commits in the window
        # Persist the batch AND materialize with count(): the SCD2
        # applier's MERGE runs several jobs and each would otherwise
        # re-execute the full change enumeration — and an isEmpty() probe
        # caches only its one probed partition, leaving the rest to be
        # recomputed (the r12 ingest-sink lesson).
        batch.persist()
        try:
            if not batch.count():
                return
            apply_changes_scd2(
                dest, batch, key_cols, txn_app=txn_app, txn_version=batch_id
            )
            _refresh_all(maintain)
        finally:
            batch.unpersist()

    return (
        changes.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def replicate_stream(
    spark: SparkSession,
    source_path: str,
    dest_path: str,
    key_cols: list[str],
    checkpoint_dir: str,
    starting_version: int | None = 0,
    prune_on: str | None = "auto",
    partition_by: list[str] | None = None,
    maintain: list | None = None,
    max_versions_per_batch: int | None = None,
):
    """Continuously replicate a deltalite table into another via its change
    stream. Each micro-batch (a window of source commit versions) folds into
    the replica as one idempotent MERGE.

    The stream carries only commit-version metadata (one tiny row per
    commit — ``metadata_only`` CDF source); the sink reads the window's
    change rows batch-side with ``DeltaliteTable.read_changes`` — Spark's
    vectorized JVM parquet reader, no per-row Python transfer. Structured
    Streaming still owns offsets/checkpointing, so delivery stays
    exactly-once; and because the batch-side reader can replay SQL
    predicates, copy-on-write DELETE/UPDATE WITHOUT materialized CDF and
    RESTORE replicate too. Cow MERGE without CDF cannot be enumerated —
    the sink reads in strict mode and fails the stream loudly rather than
    skipping it (enable_cdf on the source to replicate merges). A window
    pruned by log retention likewise fails loudly (failOnDataLoss) instead
    of advancing the checkpoint past lost history.

    ``maintain`` — post-commit maintenance objects (IncrementalLshIndex,
    IncrementalAggregate, …) refreshed after each applied batch, same hook
    as the SCD2 sinks. Returns the StreamingQuery (availableNow trigger:
    drains everything committed so far, then stops — rerun with the same
    checkpoint to catch up)."""
    from pyspark_cdc_engine.cdf_source import read_change_stream
    from pyspark_cdc_engine.streaming.pipeline import _refresh_all

    dest = DeltaliteTable(spark, dest_path)
    src = DeltaliteTable(spark, source_path)
    txn_app = f"cdc_replicate:{checkpoint_dir}"
    changes = read_change_stream(
        spark, source_path, starting_version,
        max_versions_per_batch=max_versions_per_batch,
        metadata_only=True,
    )

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        vs = [r["_commit_version"] for r in batch_df.collect()]  # tiny
        if not vs:
            return
        try:
            # strict + narrow catch: see replicate_scd2_stream's sink —
            # retention refusals and unenumerable cow merges fail the
            # stream loudly instead of advancing the checkpoint past them
            batch = src.read_changes(min(vs) - 1, max(vs), strict=True)
        except NoChangesInWindow:
            return  # only no-change commits (compact/schema/...) in window
        # no extra persist/isEmpty pass: the applier persists the net
        # frame itself, which is what the MERGE's several jobs reuse
        apply_changes(
            dest, batch, key_cols,
            txn_app=txn_app, txn_version=batch_id,
            prune_on=prune_on, partition_by=partition_by,
        )
        _refresh_all(maintain)

    return (
        changes.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )

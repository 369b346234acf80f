"""Pipeline wiring: CDC topics -> transaction assembly -> SCD2 deltalite table
(TransactionalCdcProcessingApp end-to-end, SURVEY §3.1), and the SCD2 -> SCD1
chained stream (§3.2 skeleton; merge logic in :mod:`pyspark_cdc_engine.scd1`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from pyspark_cdc_engine.parse import (
    parse_data_change_events,
    parse_transaction_metadata,
    unify_event_streams,
)
from pyspark_cdc_engine.sources import read_text_batch, read_text_stream
from pyspark_cdc_engine.streaming.tx_state import (
    assemble_transactions_batch,
    assemble_transactions_stream,
)
from pyspark_cdc_engine.tables import DeltaliteTable


def cdc_to_scd2_stream(
    spark: SparkSession,
    cdc_dir: str,
    meta_dir: str,
    table: DeltaliteTable,
    checkpoint_dir: str,
    ttl_minutes: float | None = None,
    handle_deletes: bool = False,
    maintain: list | None = None,
):
    """File-source variant of the ingest pipeline (Kafka swaps in via
    sources.read_kafka_stream with no other changes). Returns the started
    StreamingQuery; caller awaits/stops. availableNow drains everything
    currently in the dirs then stops — the test/backfill trigger.

    ``handle_deletes``: opt-in order-level delete tombstones (SURVEY §2.8);
    default off = reference IGNOREDELETES parity."""
    cdc = parse_data_change_events(read_text_stream(spark, cdc_dir))
    meta = parse_transaction_metadata(read_text_stream(spark, meta_dir))
    return _scd2_stream_from_values(
        cdc, meta, table, checkpoint_dir, ttl_minutes, handle_deletes,
        maintain=maintain,
    )


def cdc_to_scd2_stream_kafka(
    spark: SparkSession,
    bootstrap_servers: str,
    cdc_topic: str,
    meta_topic: str,
    table: DeltaliteTable,
    checkpoint_dir: str,
    ttl_minutes: float | None = None,
    handle_deletes: bool = False,
    format_name: str = "kafka",
    extra_options: dict | None = None,
    maintain: list | None = None,
):
    """Kafka-source variant of the ingest pipeline — the reference's actual
    topology (TransactionalCdcProcessingApp.scala:85-101: two topics, one
    stateful assembly, one sink). ``format_name``/``extra_options`` let the
    wire-compatible fake broker (fake_kafka.py) stand in where the Kafka jar
    is absent; everything from the value column on is shared with the
    file-source pipeline."""
    from pyspark_cdc_engine.sources import read_kafka_stream

    cdc = parse_data_change_events(
        read_kafka_stream(
            spark, bootstrap_servers, cdc_topic,
            format_name=format_name, extra_options=extra_options,
        )
    )
    meta = parse_transaction_metadata(
        read_kafka_stream(
            spark, bootstrap_servers, meta_topic,
            format_name=format_name, extra_options=extra_options,
        )
    )
    return _scd2_stream_from_values(
        cdc, meta, table, checkpoint_dir, ttl_minutes, handle_deletes,
        maintain=maintain,
    )


def cdc_to_scd2_stream_kafka_4topics(
    spark: SparkSession,
    bootstrap_servers: str,
    orders_topic: str,
    details_topic: str,
    items_topic: str,
    meta_topic: str,
    table: DeltaliteTable,
    checkpoint_dir: str,
    ttl_minutes: float | None = None,
    handle_deletes: bool = False,
    format_name: str = "kafka",
    extra_options: dict | None = None,
    maintain: list | None = None,
):
    """The reference's EXACT topology — four topics, one per GG table plus
    transaction metadata (TransactionalCdcProcessingApp.scala:47-62) — with
    the three data-topic streams unioned on the raw value column BEFORE the
    single from_json parse (events self-identify via their ``table`` field,
    so one parse replaces the reference's parse-then-union: same rows, one
    JSON projection in the plan instead of three)."""
    from functools import reduce

    from pyspark_cdc_engine.sources import read_kafka_stream

    raw = [
        read_kafka_stream(
            spark, bootstrap_servers, t,
            format_name=format_name, extra_options=extra_options,
        )
        for t in (orders_topic, details_topic, items_topic)
    ]
    cdc = parse_data_change_events(reduce(lambda a, b: a.union(b), raw))
    meta = parse_transaction_metadata(
        read_kafka_stream(
            spark, bootstrap_servers, meta_topic,
            format_name=format_name, extra_options=extra_options,
        )
    )
    return _scd2_stream_from_values(
        cdc, meta, table, checkpoint_dir, ttl_minutes, handle_deletes,
        maintain=maintain,
    )


def _scd2_stream_from_values(
    cdc: DataFrame,
    meta: DataFrame,
    table: DeltaliteTable,
    checkpoint_dir: str,
    ttl_minutes: float | None,
    handle_deletes: bool,
    maintain: list | None = None,
):
    unified = unify_event_streams(cdc, meta)
    completed = assemble_transactions_stream(
        unified, ttl_minutes=ttl_minutes, handle_deletes=handle_deletes
    )

    txn_app = f"cdc_scd2:{checkpoint_dir}"

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        # txn-tagged append: a micro-batch replayed after failure (same
        # batch_id) is a no-op — exactly-once end to end (S9). retries=2 =
        # blind-append conflict resolution against a concurrent appender
        # (idempotency is re-checked under retry; a racing non-append such as
        # OPTIMIZE still fails the batch for Structured Streaming to retry).
        _append_batch(table, batch_df, txn_app, batch_id, maintain)

    return (
        completed.writeStream.foreachBatch(sink)
        .outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def _append_batch(
    table: DeltaliteTable,
    batch_df: DataFrame,
    txn_app: str,
    batch_id: int,
    maintain: list | None,
) -> None:
    """Shared foreachBatch body for the append sinks: persist the batch and
    materialize it with ``count()`` so the emptiness probe and the append
    consume ONE cached materialization of the micro-batch plan.

    Two traps measured here (r12, 13k events warm): unpersisted, every
    action on ``batch_df`` re-executes the whole upstream plan — for the
    stateful assembly that means running the applyInPandasWithState stage
    twice per micro-batch (15.4s); persisted but probed with ``isEmpty()``,
    only the one probed partition lands in the cache and the append's write
    job recomputes the stateful stage for all the others (10.2s). A full
    ``count()`` caches every partition once and the write reads the cache
    (3.9s — the r8-era throughput)."""
    batch_df.persist()
    try:
        if batch_df.count():
            table.append(
                batch_df, txn_app=txn_app, txn_version=batch_id, retries=2
            )
            _refresh_all(maintain)
    finally:
        batch_df.unpersist()


def _refresh_all(maintain: list | None) -> None:
    """Post-commit maintenance hook shared by the streaming sinks: each
    object (IncrementalLshIndex, IncrementalAggregate — anything with a
    watermark-idempotent ``refresh()``) folds the just-committed version.
    Crash-safe by construction: refresh carries its OWN txn watermark, so a
    crash between the table commit and the refresh just means the next
    batch's refresh folds two commits (read_changes spans them), and a
    replayed batch's refresh is a no-op."""
    for m in maintain or []:
        m.refresh()


def documents_ingest_stream(
    spark: SparkSession,
    source,
    table: DeltaliteTable,
    checkpoint_dir: str,
    maintain: list | None = None,
):
    """Streaming DOCUMENT ingest with index maintenance in the same
    foreachBatch — the seam between the CDC half and the dedup half closed
    as a first-class pipeline: every micro-batch lands as one txn-idempotent
    deltalite append, then every ``maintain`` entry (typically an
    :class:`~pyspark_cdc_engine.operators.dedup_incremental.IncrementalLshIndex`
    on ``table``) refreshes, folding exactly that batch's commit (O(delta) —
    ``read_changes`` reads only the appended dirs, never the corpus).

    ``source``: a streaming DataFrame of documents (``doc_id``, ``text``,
    ...). Returns the started StreamingQuery (availableNow trigger)."""
    txn_app = f"docs_ingest:{checkpoint_dir}"

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        _append_batch(table, batch_df, txn_app, batch_id, maintain)

    return (
        source.writeStream.foreachBatch(sink)
        .outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def cdc_to_scd2_stream_from_config(
    spark: SparkSession,
    config,
    table: DeltaliteTable,
    format_name: str = "kafka",
    extra_options: dict | None = None,
):
    """Config-driven launch of the reference's exact four-topic topology
    (TransactionalCdcProcessingApp.scala:34-62 reads the same keys from its
    HOCON job file; ours come from an
    :class:`pyspark_cdc_engine.config.AppConfig` — layered env > job file >
    packaged defaults). Topics/bootstrap/checkpoint come from ``job.kafka.*``
    and ``job.output.checkpoint-location``."""
    return cdc_to_scd2_stream_kafka_4topics(
        spark,
        config.get_str("job.kafka.bootstrap-servers"),
        config.get_str("job.kafka.topics.orders"),
        config.get_str("job.kafka.topics.order-details"),
        config.get_str("job.kafka.topics.order-line-items"),
        config.get_str("job.kafka.topics.transaction-metadata"),
        table,
        config.get_str("job.output.checkpoint-location"),
        format_name=format_name,
        extra_options=extra_options,
    )


def cdc_to_scd2_batch(
    spark: SparkSession, cdc_dir: str, meta_dir: str, handle_deletes: bool = False
) -> DataFrame:
    """Batch assembly of the same inputs (backfill / oracle path)."""
    cdc = parse_data_change_events(read_text_batch(spark, cdc_dir))
    meta = parse_transaction_metadata(read_text_batch(spark, meta_dir))
    unified = unify_event_streams(cdc, meta)
    return assemble_transactions_batch(unified, handle_deletes=handle_deletes)

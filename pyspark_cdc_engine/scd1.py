"""SCD Type 1 maintenance: order_stream (nested SCD2) -> orders_current.

Reference parity: ScdType1MergeApp.scala — transformSourceBatch (:146-206,
cross-row batch consolidation) + the version-aware ordered-clause MERGE
(:69-135) with independent parent/child entity versioning (§2.9). Runs on
deltalite instead of Delta Lake; the merge goes through
:func:`pyspark_cdc_engine.tables.DeltaliteTable.merge`, which preserves
Delta's clause-order semantics.

Scale notes: consolidation is one groupBy("orderId") aggregate — the batch is
scanned once and shuffled once, with max_by/collect_list partial-aggregating
map-side. The merge source (one row per touched order per micro-batch) is
tiny relative to the target, so it is broadcast; at 100 TB the remaining cost
is the target-side rewrite, which the deltalite docstring discusses
(file-pruning is the next step).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pyspark_cdc_engine.functions.arrays import (
    dedup_array_expr,
    merge_array_expr,
    merge_struct_expr,
)
from pyspark_cdc_engine.tables import DeltaliteTable, MergeClause

# Order-level flat fields carried from the best source row (ORDER_FIELDS minus
# the orderId join key, db/create_scd1_table.deltalake.sql:18-31).
_ORDER_FLAT_FIELDS = [
    "orderRef", "version", "orderDate", "orderTs", "orderStatus", "orderType",
    "totalAmount", "currency", "customerId", "shippingAddressId", "createdTs",
]


def transform_source_batch(batch_df: DataFrame, handle_deletes: bool = False) -> DataFrame:
    """Nested order_stream rows -> one flat orders_current candidate per orderId.

    Multiple rows per orderId in one batch (creation + child-only update) are
    consolidated by one groupBy("orderId") aggregate (transformSourceBatch
    parity, ScdType1MergeApp.scala:146-206): the best order row by
    max_by(version, dwhProcessedTs) carries the tx context; the best detail
    by max_by(detail version), skipping rows without one; line items are
    flattened across rows and deduped by lineItemId (NULL when no row has
    any). Struct ordering ranks NULL fields lowest — the reference's
    desc_nulls_last, load-bearing: child-only rows have null order version
    and must lose the order-field race.

    ``handle_deletes``: carry the order-level ``deleted`` tombstone flag on the
    winning row (merge_scd1 turns it into a whenMatchedDelete); parity mode
    drops the column so orders_current keeps the reference schema.
    """
    latest_order = dedup_array_expr("orders", "orderId")
    latest_detail = dedup_array_expr("orderDetails", "orderId")
    safe_order = f"try_element_at({latest_order}, 1)"
    safe_detail = f"try_element_at({latest_detail}, 1)"

    flag = "COALESCE(deleted, false)" if "deleted" in batch_df.columns else "false"
    deleted = ["deleted"] if handle_deletes else []
    flattened = batch_df.selectExpr(
        "xid", "csn", "dwhProcessedTs", "orderId",
        *[f"{safe_order}.{f} AS {f}" for f in _ORDER_FLAT_FIELDS],
        f"{safe_order}.before AS orderBefore",
        f"{safe_detail} AS orderDetails",
        f"{dedup_array_expr('lineItems', 'lineItemId')} AS lineItems",
        *([f"{flag} AS deleted"] if handle_deletes else []),
    )
    winner = ["xid", "csn", "dwhProcessedTs", *_ORDER_FLAT_FIELDS, "orderBefore"]
    return flattened.groupBy("orderId").agg(
        F.expr(f"max_by(struct({', '.join(winner + deleted)}), "
               "struct(version, dwhProcessedTs)) AS _w"),
        F.expr("max_by(orderDetails, IF(orderDetails IS NULL, NULL, "
               "struct(orderDetails.version))) AS orderDetails"),
        F.expr("flatten(collect_list(IF(size(lineItems) > 0, lineItems, NULL))) AS _items"),
    ).selectExpr(
        "orderId",
        *[f"_w.{f} AS {f}" for f in winner],
        # COALESCE keeps `deleted` non-nullable, like the flattened column
        *(["COALESCE(_w.deleted, false) AS deleted"] if handle_deletes else []),
        "orderDetails",
        f"IF(size(_items) = 0, NULL, {dedup_array_expr('_items', 'lineItemId')}) AS lineItems",
    )


def scd1_merge_clauses(handle_deletes: bool = False) -> list[MergeClause]:
    """The ordered clause set (ScdType1MergeApp.scala:95-132):

    1. source order strictly newer -> all order fields + tx context from source,
       children merged version-aware;
    2. catch-all matched -> keep target order fields, refresh tx context only,
       still merge children (child-only transactions land here);
    3. insert guarded on source.version IS NOT NULL so child-only transactions
       for unknown orders don't create half-empty rows.

    ``handle_deletes`` prepends a whenMatchedDelete on the tombstone flag
    (delete wins the clause cascade) and blocks tombstones from inserting —
    opt-in beyond the reference's IGNOREDELETES posture (SURVEY §2.8)."""
    merged_detail = merge_struct_expr("orderDetails")
    merged_items = merge_array_expr("lineItems", "lineItemId")
    tx_context = {
        "xid": "source.xid",
        "csn": "source.csn",
        "dwhProcessedTs": "source.dwhProcessedTs",
    }
    order_fields = {f: f"source.{f}" for f in _ORDER_FLAT_FIELDS}
    insert_guard = "source.version IS NOT NULL"
    clauses = []
    if handle_deletes:
        clauses.append(MergeClause("delete", "COALESCE(source.deleted, false)"))
        insert_guard += " AND NOT COALESCE(source.deleted, false)"
    clauses += [
        MergeClause(
            "update",
            "source.version IS NOT NULL AND source.version > COALESCE(target.version, 0)",
            {
                **tx_context,
                **order_fields,
                "orderBefore": "source.orderBefore",
                "orderDetails": merged_detail,
                "lineItems": merged_items,
            },
        ),
        MergeClause(
            "update",
            None,
            {**tx_context, "orderDetails": merged_detail, "lineItems": merged_items},
        ),
        MergeClause("insert", insert_guard, None),
    ]
    return clauses


def merge_scd1(
    spark: SparkSession,
    batch_df: DataFrame,
    table: DeltaliteTable,
    txn_app: str | None = None,
    txn_version: int | None = None,
    handle_deletes: bool = False,
    partition_by: list[str] | None = None,
) -> None:
    """One micro-batch of order_stream -> merge into orders_current
    (mergeScdType1 parity, ScdType1MergeApp.scala:69-135). txn tags make the
    merge replay-safe inside foreachBatch (S9). ``handle_deletes`` enables the
    opt-in tombstone path (delete-mode joiner rows remove their target row).
    ``partition_by`` partitions the current-state table at bootstrap; later
    merges inherit the spec from the log and stay partitioned."""
    if batch_df.isEmpty():
        return
    transformed = transform_source_batch(batch_df, handle_deletes=handle_deletes)
    if not table.exists():
        # bootstrap (ScdType1MergeApp.scala:74-80); txn-tagged so a replayed
        # batch 0 (crash after commit, before checkpoint) is skipped by the
        # merge path's replay check instead of re-merged
        if handle_deletes:
            # tombstones for never-seen orders have nothing to delete; the
            # flag column itself never lands in orders_current
            transformed = transformed.filter("NOT deleted").drop("deleted")
        table.overwrite(transformed, txn_app=txn_app, txn_version=txn_version,
                        partition_by=partition_by)
        return
    table.merge(
        transformed,
        "target.orderId = source.orderId",
        scd1_merge_clauses(handle_deletes=handle_deletes),
        broadcast_source=True,
        prune_on="orderId",  # file-skipping: untouched key ranges keep their files
        txn_app=txn_app,
        txn_version=txn_version,
    )


def scd2_to_scd1_stream(
    spark: SparkSession,
    scd2_table: DeltaliteTable,
    scd1_table: DeltaliteTable,
    checkpoint_dir: str,
    handle_deletes: bool = False,
):
    """Chained stream (T7): order_stream appends -> foreachBatch merge
    (ScdType1MergeApp.scala:48-60). The deltalite SCD2 table is append-only, so
    a file stream over its data dirs is an exact change feed."""
    source = scd2_table.read_stream()
    txn_app = f"scd1_merge:{checkpoint_dir}"
    return (
        source.writeStream.foreachBatch(
            lambda df, bid: merge_scd1(spark, df, scd1_table,
                                       txn_app=txn_app, txn_version=bid,
                                       handle_deletes=handle_deletes)
        )
        .outputMode("update")
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )

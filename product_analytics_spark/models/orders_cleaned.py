"""Silver model: orders_cleaned — cleaned, validated, enriched
current-state orders.

Parity with reference models/silver/orders_cleaned.sql:
  - latest-version dedup + DELETE exclusion            [ref :47-66]
  - incremental high-watermark                         [ref :53-59]
  - four controlled vocabularies (order_status, payment_status,
    payment_method, shipping_method) + region map      [ref :77-161]
  - financial clamps: total cap 50000, tax <= 20% of the RAW total
    (the cap branch is NOT rounded in the reference — kept),
    shipping cap 200, discount <= raw total            [ref :127-149]
  - net_revenue, date parts, day name, weekend flag    [ref :198-221]
  - delivery_days / on-time flag                       [ref :224-236]
  - validity flags, value category, season, holiday    [ref :239-347]
  - customer validation join upgrading is_valid_order  [ref :308-314, 372-373]
  - first_seen_at backfill                             [ref :350-360]

The customers side of the validation join is the silver snapshot —
key-sized, so Spark broadcasts it (explicit hint); the orders stream
never shuffles for the join.

Every Column the model applies — the vocabulary CASE ladders, the
money clamps, the enrichment and validity ladders, the join condition
(written by column name, so it binds to whichever DataFrames a run
joins) — is built once per session and held in ``cache.py``'s
``model_columns`` namespace. A run only chains the DataFrame operators
over them; the watermark literal is the one per-run expression.
"""

from __future__ import annotations

from types import SimpleNamespace

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from product_analytics_spark import cache
from product_analytics_spark.functions.cleaning import canonicalize, norm_upper
from product_analytics_spark.models import select, select_list
from product_analytics_spark.operators import dedup, incremental

ORDER_STATUS_VOCAB = {
    "PENDING": ["PENDING"],
    "CONFIRMED": ["CONFIRMED", "PROCESSING"],
    "SHIPPED": ["SHIPPED", "IN_TRANSIT", "OUT_FOR_DELIVERY"],
    "DELIVERED": ["DELIVERED", "COMPLETED", "FULFILLED"],
    "CANCELLED": ["CANCELLED", "CANCELED", "VOID", "REJECTED"],
}
PAYMENT_STATUS_VOCAB = {
    "PENDING": ["PENDING"],
    "PAID": ["PAID", "AUTHORIZED", "CAPTURED", "COMPLETED"],
    "FAILED": ["FAILED", "DECLINED", "EXPIRED", "CANCELLED"],
    "REFUNDED": ["REFUNDED", "REVERSED", "CHARGEBACK"],
}
PAYMENT_METHOD_VOCAB = {
    "CREDIT_CARD": ["CREDIT_CARD", "VISA", "MASTERCARD", "AMEX", "DISCOVER"],
    "DEBIT_CARD": ["DEBIT_CARD"],
    "PAYPAL": ["PAYPAL"],
    "BANK_TRANSFER": ["BANK_TRANSFER", "ACH", "WIRE_TRANSFER", "DIRECT_DEBIT"],
    "DIGITAL_WALLET": ["DIGITAL_WALLET", "APPLE_PAY", "GOOGLE_PAY", "SAMSUNG_PAY"],
}
SHIPPING_METHOD_VOCAB = {
    "STANDARD": ["STANDARD", "GROUND", "REGULAR"],
    "EXPRESS": ["EXPRESS", "TWO_DAY", "PRIORITY"],
    "OVERNIGHT": ["OVERNIGHT", "NEXT_DAY", "ONE_DAY"],
    "ECONOMY": ["ECONOMY", "SLOW", "SAVER"],
}
REGION_VOCAB = {
    "NORTH": ["NORTH", "NORTHEAST", "NE"],
    "SOUTH": ["SOUTH", "SOUTHEAST", "SE"],
    "EAST": ["EAST"],
    "WEST": ["WEST", "NORTHWEST", "NW", "SOUTHWEST", "SW"],
    "CENTRAL": ["CENTRAL", "MIDWEST", "MW"],
}


def _clean_money(col: F.Column, cap: F.Column | float | None) -> F.Column:
    """ref :127-149 — NULL/negative -> 0.00; above cap -> cap
    (unrounded, as the reference writes it); else ROUND(x, 2)."""
    expr = F.when(col.isNull() | (col < 0), F.lit(0.00))
    if cap is not None:
        cap_col = F.lit(cap) if isinstance(cap, (int, float)) else cap
        expr = expr.when(col > cap_col, cap_col)
    return expr.otherwise(F.round(col, 2))


#: CDC metadata the output drops once the backfill has used it
_CDC_ONLY = ("_cdc_operation", "_cdc_timestamp", "_ingested_at")


def _columns() -> SimpleNamespace:
    """The model's Column expressions, stage by stage."""
    raw_total = F.col("order_total")
    cleaned_names, cleaned = select_list(
        "order_id",
        "customer_id",
        "order_date",
        ("order_status", canonicalize("order_status", ORDER_STATUS_VOCAB, "PENDING")),
        ("payment_status", canonicalize("payment_status", PAYMENT_STATUS_VOCAB, "PENDING")),
        ("payment_method", canonicalize("payment_method", PAYMENT_METHOD_VOCAB, "CREDIT_CARD")),
        ("shipping_address_line1", F.trim("shipping_address_line1")),
        ("shipping_address_line2", F.trim("shipping_address_line2")),
        ("shipping_city", F.trim("shipping_city")),
        ("shipping_state", F.trim("shipping_state")),
        ("shipping_country", norm_upper("shipping_country")),
        ("shipping_postal_code", F.trim("shipping_postal_code")),
        ("shipping_method", canonicalize("shipping_method", SHIPPING_METHOD_VOCAB, "STANDARD")),
        "estimated_delivery_date",
        "actual_delivery_date",
        ("order_total", _clean_money(raw_total, 50000.0)),
        # Caps reference the RAW order_total (same-SELECT scoping in
        # the reference SQL, ref :133-137, :145-149).
        ("tax_amount", _clean_money(F.col("tax_amount"), raw_total * 0.2)),
        ("shipping_cost", _clean_money(F.col("shipping_cost"), 200.0)),
        ("discount_amount", _clean_money(F.col("discount_amount"), raw_total)),
        ("region", canonicalize("region", REGION_VOCAB, "CENTRAL")),
        "_cdc_operation",
        "_cdc_timestamp",
        "_ingested_at",
        "_source_system",
        "_batch_id",
    )

    od = F.col("order_date")
    dow = F.dayofweek(od)
    enriched_names, enriched = select_list(
        *cleaned_names,
        ("net_revenue", F.round(F.col("order_total") - F.col("tax_amount"), 2)),
        ("order_year", F.year(od)),
        ("order_month", F.month(od)),
        ("order_day", F.dayofmonth(od)),
        ("order_hour", F.hour(od)),
        (
            "day_of_week",
            F.when(dow == 1, "Sunday").when(dow == 2, "Monday").when(dow == 3, "Tuesday")
            .when(dow == 4, "Wednesday").when(dow == 5, "Thursday").when(dow == 6, "Friday")
            .when(dow == 7, "Saturday"),
        ),
        ("is_weekend", dow.isin(1, 7)),
        (
            "delivery_days",
            F.when(
                F.col("actual_delivery_date").isNotNull() & od.isNotNull(),
                F.datediff(F.col("actual_delivery_date"), F.to_date(od)),
            ),
        ),
        (
            "is_delivered_on_time",
            F.when(F.col("actual_delivery_date").isNull(), F.lit(None).cast("boolean"))
            .when(F.col("estimated_delivery_date").isNull(), F.lit(None).cast("boolean"))
            .otherwise(F.col("actual_delivery_date") <= F.col("estimated_delivery_date")),
        ),
        (
            "has_complete_address",
            F.col("shipping_address_line1").isNotNull() & (F.col("shipping_address_line1") != "")
            & F.col("shipping_city").isNotNull() & (F.col("shipping_city") != "")
            & F.col("shipping_state").isNotNull() & (F.col("shipping_state") != "")
            & F.col("shipping_country").isNotNull() & (F.col("shipping_country") != "")
            & F.col("shipping_postal_code").isNotNull() & (F.col("shipping_postal_code") != ""),
        ),
        (
            "_base_valid",
            (F.col("order_total") > 0)
            & F.col("customer_id").isNotNull()
            & od.isNotNull()
            & F.col("order_status").isNotNull()
            & F.col("payment_status").isNotNull()
            & (
                F.col("order_total")
                >= (F.col("tax_amount") + F.col("shipping_cost") - F.col("discount_amount"))
            )
            & (F.col("discount_amount") <= F.col("order_total")),
        ),
    )

    m, d = F.col("order_month"), F.col("order_day")
    final_items = (
        *[n for n in enriched_names if n != "_base_valid"],
        (
            "is_valid_order",
            F.col("_base_valid")
            & F.col("_c_customer_id").isNotNull()
            & (F.col("_c_is_deleted") == False),  # noqa: E712
        ),
        ("has_discount", F.col("discount_amount") > 0),
        ("is_international", F.col("shipping_country") != "USA"),
        ("is_large_order", F.col("order_total") >= 100),
        ("is_free_shipping", F.col("shipping_cost") == 0),
        (
            "order_value_category",
            F.when(F.col("order_total") >= 500, "HIGH")
            .when(F.col("order_total") >= 100, "MEDIUM")
            .when(F.col("order_total") >= 25, "LOW")
            .otherwise("VERY_LOW"),
        ),
        (
            "season",
            F.when(m.isin(12, 1, 2), "WINTER")
            .when(m.isin(3, 4, 5), "SPRING")
            .when(m.isin(6, 7, 8), "SUMMER")
            .when(m.isin(9, 10, 11), "FALL"),
        ),
        (
            "holiday_period",
            F.when((m == 11) & (d >= 20), "BLACK_FRIDAY")
            .when((m == 12) & (d <= 25), "CHRISTMAS")
            .when((m == 12) & (d >= 26), "YEAR_END")
            .when((m == 1) & (d <= 7), "NEW_YEAR")
            .when((m == 2) & (d == 14), "VALENTINES")
            .when((m == 5) & (d >= 8) & (d <= 14), "MOTHERS_DAY")
            .otherwise("REGULAR"),
        ),
        ("last_updated_at", F.col("_cdc_timestamp")),
        ("is_deleted", F.col("_cdc_operation") == "DELETE"),
    )
    final_names, final = select_list(*final_items)
    ts = F.col("_cdc_timestamp")
    return SimpleNamespace(
        not_deleted=F.col("_cdc_operation") != "DELETE",
        cleaned=cleaned,
        enriched=enriched,
        # Customer validation join (ref :308-314, :372-373)
        cust=select_list(
            ("_c_customer_id", F.col("customer_id")), ("_c_is_deleted", F.col("is_deleted"))
        )[1],
        cust_on=F.col("customer_id") == F.col("_c_customer_id"),
        final=final,
        # full refresh: first_seen_at is the row's own timestamp
        out_full=select_list(
            *[i for i, n in zip(final_items, final_names) if n not in _CDC_ONLY],
            ("first_seen_at", ts),
        )[1],
        # incremental: first_seen backfill (ref :350-360) over the
        # prior snapshot; INSERT rows keep their own timestamp
        prior=F.max("first_seen_at").alias("_prior_first_seen"),
        out_incremental=select_list(
            *[n for n in final_names if n not in _CDC_ONLY],
            (
                "first_seen_at",
                F.when(F.col("_cdc_operation") == "INSERT", ts).otherwise(
                    F.coalesce(F.col("_prior_first_seen"), ts)
                ),
            ),
        )[1],
    )


def build_orders_cleaned(
    bronze: DataFrame,
    customers_latest: DataFrame,
    prev: DataFrame | None = None,
    incremental_mode: bool = True,
) -> DataFrame:
    c = cache.memo(
        "model_columns",
        ("orders_cleaned", tuple(bronze.columns)),
        _columns,
        spark=bronze.sparkSession,
    )
    incremental_run = incremental_mode and prev is not None
    batch = bronze
    if incremental_run:
        wm = incremental.high_watermark(prev, "last_updated_at")
        batch = incremental.watermark_filter(batch, "_cdc_timestamp", wm)

    cleaned = select(dedup.latest_by_key(batch, "order_id").filter(c.not_deleted), c.cleaned)
    enriched = select(cleaned, c.enriched)
    # the silver customers snapshot is key-sized -> broadcast
    cust = F.broadcast(select(customers_latest, c.cust))
    joined = enriched.join(cust, c.cust_on, "left")
    if not incremental_run:
        return select(joined, c.out_full)
    prior = prev.groupBy("order_id").agg(c.prior)
    return select(select(joined, c.final).join(prior, "order_id", "left"), c.out_incremental)

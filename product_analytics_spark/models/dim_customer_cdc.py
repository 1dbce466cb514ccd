"""Gold model: dim_customer — the faithful CDC-pipeline version
(reference models/gold/customers/dim_customer.sql), consuming the
silver customers_latest + orders_cleaned snapshots.

All CURRENT_DATE / CURRENT_TIMESTAMP sites take an injected ``as_of``
(SURVEY.md §7.4 determinism). Every reference CASE ladder is kept
value-identical: tier [ref :81-86], enhanced_segment [ref :89-97],
lifecycle_stage [ref :100-108], RFM [ref :173-198], cancellation_rate
guarded division [ref :166-170], weighted data-quality score
[ref :118-122].

Plan shape: one hash-agg shuffle on customer_id over orders_cleaned,
then left joins of key-sized aggregates back to the base — every side
except the metrics aggregate is broadcast-able; the reference's five
CTE joins collapse here because segmentation / geo / quality are pure
projections of the base row, not separate relations.

The model's Column expressions — the metric aggregates, the
region/tier/segment/lifecycle/RFM ladders — are built once per session
per (``as_of``, ``as_of_ts``, ``fix_region_case``, input columns) and
held in ``cache.py``'s ``model_columns`` namespace; a run chains only
the DataFrame operators over them.
"""

from __future__ import annotations

import datetime as dt
from types import SimpleNamespace

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from product_analytics_spark import cache
from product_analytics_spark.models import select, select_list


def _columns(
    as_of: dt.date, as_of_ts: dt.datetime | None, fix_region_case: bool
) -> SimpleNamespace:
    """The model's Column expressions (see ``build_dim_customer_cdc``)."""
    as_of_lit = F.lit(as_of)
    nr = F.col("net_revenue")
    metrics = [
        F.countDistinct("order_id").alias("lifetime_orders"),
        F.round(F.sum(nr), 2).alias("lifetime_value"),
        F.round(F.avg(nr), 2).alias("average_order_value"),
        F.max("order_date").alias("last_order_date"),
        F.min("order_date").alias("first_order_date"),
        F.countDistinct(F.when(F.col("order_status") == "DELIVERED", F.col("order_id"))).alias(
            "completed_orders"
        ),
        F.countDistinct(F.when(F.col("order_status") == "CANCELLED", F.col("order_id"))).alias(
            "cancelled_orders"
        ),
        F.round(
            F.sum(F.when(F.col("order_status") == "DELIVERED", nr).otherwise(0.0)), 2
        ).alias("delivered_revenue"),
        F.countDistinct(F.date_trunc("month", "order_date")).alias("active_months"),
        F.countDistinct(
            F.when(F.col("order_date") >= F.date_sub(as_of_lit, 90), F.col("order_id"))
        ).alias("orders_last_90_days"),
        F.round(
            F.sum(
                F.when(F.col("order_date") >= F.date_sub(as_of_lit, 90), nr).otherwise(0.0)
            ),
            2,
        ).alias("revenue_last_90_days"),
    ]

    lo = F.col("lifetime_orders")
    lv = F.col("lifetime_value")
    dslo = F.col("days_since_last_order")

    if fix_region_case:
        # Intended mapping: literals uppercased to match the UPPER'd
        # country column.
        region = (
            F.when(F.col("country").isin("USA", "CANADA"), "North America")
            .when(F.col("country").isin("UK", "GERMANY", "FRANCE"), "Europe")
            .when(F.col("country") == "AUSTRALIA", "Asia Pacific")
            .otherwise("Other")
        )
    else:
        # Reference parity (dim_customer.sql:66-70 verbatim): country
        # is already UPPER'd, so the mixed-case literals below never
        # match — only USA and UK map; everything else is 'Other'.
        region = (
            F.when(F.col("country").isin("USA", "Canada"), "North America")
            .when(F.col("country").isin("UK", "Germany", "France"), "Europe")
            .when(F.col("country") == "Australia", "Asia Pacific")
            .otherwise("Other")
        )
    customer_tier = (
        F.when((lv >= 5000) & (lo >= 20), "PLATINUM")
        .when((lv >= 2000) & (lo >= 10), "GOLD")
        .when((lv >= 500) & (lo >= 5), "SILVER")
        .otherwise("BRONZE")
    )
    enhanced_segment = (
        F.when(lo.isNull(), "PROSPECT")
        .when(lo == 1, "NEW")
        .when((dslo <= 30) & (lo >= 5), "VIP")
        .when((dslo <= 90) & (lo >= 2), "REGULAR")
        .when(dslo > 365, "DORMANT")
        .when(dslo > 90, "AT_RISK")
        .otherwise("ACTIVE")
    )
    lifecycle_stage = (
        F.when(lo.isNull(), "PROSPECT")
        .when(F.datediff(as_of_lit, F.col("registration_date")) <= 30, "NEW_CUSTOMER")
        .when((lo == 1) & (dslo > 90), "ONE_TIME_BUYER")
        .when((lo >= 2) & (dslo <= 90), "REPEAT_CUSTOMER")
        .when((lv >= 1000) & (F.col("active_months") >= 6), "LOYAL_CUSTOMER")
        .when(dslo > 365, "LOST_CUSTOMER")
        .otherwise("DEVELOPING_CUSTOMER")
    )
    quality_score = (
        F.col("is_email_valid").cast("int") * 0.4
        + F.col("is_phone_valid").cast("int") * 0.3
        + F.col("is_address_complete").cast("int") * 0.3
    )
    recency_score = (
        F.when(dslo.isNull(), 1).when(dslo <= 30, 5).when(dslo <= 90, 4)
        .when(dslo <= 180, 3).when(dslo <= 365, 2).otherwise(1)
    )
    frequency_score = (
        F.when(lo.isNull(), 1).when(lo >= 20, 5).when(lo >= 10, 4)
        .when(lo >= 5, 3).when(lo >= 2, 2).otherwise(1)
    )
    monetary_score = (
        F.when(lv.isNull(), 1).when(lv >= 2000, 5).when(lv >= 1000, 4)
        .when(lv >= 500, 3).when(lv >= 100, 2).otherwise(1)
    )
    cancellation_rate = F.when(
        (F.col("cancelled_orders") > 0) & (F.col("completed_orders") > 0),
        F.round(
            F.col("cancelled_orders").cast("decimal(18,4)")
            / (F.col("completed_orders") + F.col("cancelled_orders")),
            4,
        ).cast("double"),
    ).otherwise(0.0)

    updated_at = F.lit(as_of_ts) if as_of_ts is not None else F.current_timestamp()

    return SimpleNamespace(
        active=~F.col("is_deleted"),
        valid_order=(
            F.col("customer_id").isNotNull()
            & (F.col("order_status") != "CANCELLED")
            & (F.col("is_valid_order") == True)  # noqa: E712
        ),
        metrics=metrics,
        days_since_last_order=F.datediff(as_of_lit, F.col("last_order_date")),
        out=select_list(
            "customer_id",
            "email",
            "full_name",
            "phone",
            "city",
            "state",
            "country",
            ("region", region),
            "registration_date",
            "customer_status",
            "customer_segment",
            ("customer_tier", customer_tier),
            ("enhanced_segment", enhanced_segment),
            ("lifecycle_stage", lifecycle_stage),
            ("lifetime_orders", F.coalesce(lo, F.lit(0))),
            ("lifetime_value", F.coalesce(lv, F.lit(0.00))),
            ("average_order_value", F.coalesce(F.col("average_order_value"), F.lit(0.00))),
            ("completed_orders", F.coalesce(F.col("completed_orders"), F.lit(0))),
            ("cancelled_orders", F.coalesce(F.col("cancelled_orders"), F.lit(0))),
            ("delivered_revenue", F.coalesce(F.col("delivered_revenue"), F.lit(0.00))),
            ("days_since_last_order", F.coalesce(dslo, F.lit(9999))),
            ("is_repeat_customer", F.coalesce(lo > 1, F.lit(False))),
            ("orders_last_90_days", F.coalesce(F.col("orders_last_90_days"), F.lit(0))),
            ("revenue_last_90_days", F.coalesce(F.col("revenue_last_90_days"), F.lit(0.00))),
            ("active_months", F.coalesce(F.col("active_months"), F.lit(0))),
            ("is_high_value_customer", F.coalesce(lv >= 1000, F.lit(False))),
            ("is_active_customer", F.coalesce(dslo <= 90, F.lit(False))),
            ("cancellation_rate", cancellation_rate),
            ("recency_score", recency_score),
            ("frequency_score", frequency_score),
            ("monetary_score", monetary_score),
            ("data_quality_score", F.round(quality_score, 2)),
            "is_email_valid",
            "is_phone_valid",
            "is_address_complete",
            ("created_at", F.col("first_seen_at")),
            ("updated_at", updated_at),
        )[1],
    )


def build_dim_customer_cdc(
    customers_latest: DataFrame,
    orders_cleaned: DataFrame,
    as_of: dt.date,
    as_of_ts: dt.datetime | None = None,
    fix_region_case: bool = False,
) -> DataFrame:
    """See module docstring.

    ``fix_region_case``: the reference has a latent case bug in its
    geographic mapping — customers_latest.sql:91 UPPERs country, but
    dim_customer.sql:66-70 compares against mixed-case literals
    ('Canada', 'Germany', 'France', 'Australia'), so those branches
    can never match and such customers land in 'Other'; only 'USA'
    and 'UK' ever hit. The default (False) reproduces that behavior
    bug-for-bug — this module's contract is value parity with the
    reference. Pass True for the evidently-intended mapping
    (uppercased literals)."""
    c = cache.memo(
        "model_columns",
        (
            "dim_customer",
            as_of,
            as_of_ts,
            fix_region_case,
            tuple(customers_latest.columns),
            tuple(orders_cleaned.columns),
        ),
        lambda: _columns(as_of, as_of_ts, fix_region_case),
        spark=customers_latest.sparkSession,
    )
    om = (
        orders_cleaned.filter(c.valid_order)
        .groupBy("customer_id")
        .agg(*c.metrics)
        .withColumn("days_since_last_order", c.days_since_last_order)
    )
    return select(customers_latest.filter(c.active).join(om, "customer_id", "left"), c.out)

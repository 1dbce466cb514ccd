"""Silver model: customers_latest — SCD Type-1 current-state snapshot
of the customers CDC stream.

Parity with reference models/silver/customers/customers_latest.sql:
  - latest-version dedup per customer_id ordered by
    (_cdc_timestamp DESC, _ingested_at DESC)      [ref :33-38]
  - incremental high-watermark on _cdc_timestamp  [ref :41-49]
  - trim/lower/upper canonicalization             [ref :81-96]
  - email regex / phone digit validation flags on the RAW columns
    (the reference validates pre-trim values)     [ref :98-110]
  - address completeness flag                     [ref :111-121]
  - first_seen_at backfill: INSERT keeps own ts, else prior
    snapshot's value, else own ts                 [ref :123-140]
  - DELETE rows excluded from the active set (so is_deleted is
    always FALSE in the output — a reference quirk kept for parity;
    a hard delete never propagates to the merged target) [ref :143-153]

Engine form: pure function (bronze batch, prior snapshot | None) ->
snapshot DataFrame. The caller merges via operators/incremental.py.
Dedup uses the max_by aggregation form — shuffles one candidate row
per key per input partition instead of every CDC version (the 100 TB
win; see operators/dedup.py).

The model's Column expressions are built once per session
(``cache.py``'s ``model_columns``); a run chains only the DataFrame
operators and the watermark literal.
"""

from __future__ import annotations

from types import SimpleNamespace

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from product_analytics_spark import cache
from product_analytics_spark.functions import cleaning
from product_analytics_spark.models import select, select_list
from product_analytics_spark.operators import dedup, incremental

PASSTHROUGH_META = ("_source_system", "_batch_id")

#: columns the output drops once the backfill has used them
_RUN_ONLY = ("_cdc_operation", "_own_ts")


def _columns() -> SimpleNamespace:
    """The model's Column expressions, stage by stage."""
    raw_email, raw_phone = F.col("email"), F.col("phone")
    is_email_valid = ~(
        raw_email.isNull()
        | (raw_email == "")
        | ~raw_email.rlike(cleaning.EMAIL_RE)
    )
    is_phone_valid = ~(
        raw_phone.isNull()
        | (raw_phone == "")
        | (raw_phone == "000-000-0000")
        | (F.length(F.regexp_replace(raw_phone, "[^0-9]", "")) < 10)
    )
    is_address_complete = (
        F.col("address_line1").isNotNull() & (F.col("address_line1") != "")
        & F.col("city").isNotNull() & (F.col("city") != "")
        & F.col("state").isNotNull() & (F.col("state") != "")
        & F.col("postal_code").isNotNull() & (F.col("postal_code") != "")
    )
    own_ts = F.col("_cdc_timestamp")
    items = (
        "customer_id",
        ("email", F.lower(F.trim("email"))),
        ("first_name", F.trim("first_name")),
        ("last_name", F.trim("last_name")),
        ("full_name", F.concat(F.trim("first_name"), F.lit(" "), F.trim("last_name"))),
        ("phone", F.trim("phone")),
        ("address_line1", F.trim("address_line1")),
        ("address_line2", F.trim("address_line2")),
        ("city", F.trim("city")),
        ("state", F.trim("state")),
        ("country", F.upper(F.trim("country"))),
        ("postal_code", F.trim("postal_code")),
        "registration_date",
        ("customer_status", F.upper("customer_status")),
        ("customer_segment", F.upper("customer_segment")),
        ("is_email_valid", is_email_valid),
        ("is_phone_valid", is_phone_valid),
        ("is_address_complete", is_address_complete),
        "_cdc_operation",
        ("last_updated_at", own_ts),
        ("is_deleted", F.col("_cdc_operation") == "DELETE"),
        *PASSTHROUGH_META,
        ("_own_ts", own_ts),
    )
    names, transformed = select_list(*items)
    return SimpleNamespace(
        # DELETE rows leave the active set (ref :143-153)
        not_deleted=F.col("_cdc_operation") != "DELETE",
        # full refresh: first_seen_at is the row's own timestamp
        out_full=select_list(
            *[i for i, n in zip(items, names) if n not in _RUN_ONLY],
            ("first_seen_at", own_ts),
        )[1],
        transformed=transformed,
        # incremental: the prior snapshot's first_seen_at per key; an
        # INSERT row keeps its own timestamp (ref :123-140)
        prior=F.max("first_seen_at").alias("_prior_first_seen"),
        out_incremental=select_list(
            *[n for n in names if n not in _RUN_ONLY],
            (
                "first_seen_at",
                F.when(F.col("_cdc_operation") == "INSERT", F.col("_own_ts")).otherwise(
                    F.coalesce(F.col("_prior_first_seen"), F.col("_own_ts"))
                ),
            ),
        )[1],
    )


def build_customers_latest(
    bronze: DataFrame,
    prev: DataFrame | None = None,
    incremental_mode: bool = True,
) -> DataFrame:
    """One run of the customers_latest model over a bronze CDC batch.

    ``prev`` is the prior materialized snapshot ({{ this }});
    None == first run / full refresh.
    """
    c = cache.memo(
        "model_columns",
        ("customers_latest", tuple(bronze.columns)),
        _columns,
        spark=bronze.sparkSession,
    )
    if not (incremental_mode and prev is not None):
        latest = dedup.latest_by_key(bronze, "customer_id")
        return select(latest.filter(c.not_deleted), c.out_full)
    wm = incremental.high_watermark(prev, "last_updated_at")
    batch = incremental.watermark_filter(bronze, "_cdc_timestamp", wm)
    transformed = select(dedup.latest_by_key(batch, "customer_id"), c.transformed)
    prior = prev.groupBy("customer_id").agg(c.prior)
    joined = transformed.join(prior, "customer_id", "left")
    return select(joined.filter(c.not_deleted), c.out_incremental)

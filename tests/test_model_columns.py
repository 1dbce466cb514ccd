"""The CDC models build their Column expressions once per session.

customers_latest, orders_cleaned and dim_customer (and
``dedup.latest_by_key`` under them) keep their expressions in
``cache.py``'s ``model_columns`` namespace. A second build in the same
session must be all hits, and its optimized plan must be the same
result as the first build's.
"""

from __future__ import annotations

import datetime as dt

from product_analytics_spark import cache
from product_analytics_spark.models.customers_latest import build_customers_latest
from product_analytics_spark.models.dim_customer_cdc import build_dim_customer_cdc
from product_analytics_spark.models.orders_cleaned import build_orders_cleaned
from tests.fixtures_cdc import make_cdc_frames

AS_OF = dt.date(2025, 6, 1)
AS_OF_TS = dt.datetime(2025, 6, 1, 12, 0, 0)


def _optimized(df):
    return df._jdf.queryExecution().optimizedPlan()


def test_second_build_hits_and_plans_are_same_result(spark):
    customers_cdc, orders_cdc = make_cdc_frames(spark)
    # full-refresh outputs stand in for the prior snapshots
    cl_prev = build_customers_latest(customers_cdc, incremental_mode=False)
    oc_prev = build_orders_cleaned(orders_cdc, cl_prev, incremental_mode=False)

    def build_all():
        cl = build_customers_latest(customers_cdc, cl_prev)
        oc = build_orders_cleaned(orders_cdc, cl_prev, oc_prev)
        dim = build_dim_customer_cdc(cl_prev, oc_prev, AS_OF, AS_OF_TS)
        return {"customers_latest": cl, "orders_cleaned": oc, "dim_customer": dim}

    cache.clear("model_columns")
    cache.stats("model_columns", reset=True)
    first = build_all()
    cold = cache.stats("model_columns", reset=True)
    second = build_all()
    warm = cache.stats("model_columns", reset=True)

    models = {k[1][0] for k in cache.keys("model_columns")}
    assert {"customers_latest", "orders_cleaned", "dim_customer", "latest_by_key"} <= models
    assert cold.get("misses", 0) >= 4
    assert warm.get("misses", 0) == 0
    assert warm.get("hits", 0) == cold.get("hits", 0) + cold.get("misses", 0)
    for name, df in first.items():
        assert _optimized(df).sameResult(_optimized(second[name])), name
        assert df.columns == second[name].columns, name

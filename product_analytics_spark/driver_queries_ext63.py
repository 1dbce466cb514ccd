"""Round-5 driver query families, batch 63 (q359-q362): conformance
certificate #14 (map-function semantics, with the two documented
cross-engine divergences), the workload-driven bucketed-table
materialization demo (LAYOUT_ADVICE.json's top events advice executed
and exploited), and two previously-unexercised engine doors —
string collation (Spark 4 ``COLLATE UTF8_LCASE``) and the XML surface
(``to_xml`` / ``from_xml`` / ``xpath_*``).

Same contract as the other driver_queries modules.
"""

from __future__ import annotations

import os
import re
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from product_analytics_spark import cache
from product_analytics_spark.qcommon import _money_cents, _t

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# ------------------------------------------------------------- q359

MAP_MOD = 31  # bound the certified order subset (~3% of orders)


def q359_map_conformance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conformance certificate #14: map-function semantics over real
    per-order linenumber->quantity maps — map_from_entries (entry
    order preserved), cardinality, map_keys/map_values, element_at
    (present AND missing key), map_concat under duplicate keys,
    map_filter on (k, v) jointly, transform_values, and
    map_contains_key — all certified value-identical.  Two genuine
    divergences this probe DOCUMENTS (and routes around):

    1. Duplicate keys in ``map_concat``: Spark's default
       ``spark.sql.mapKeyDedupPolicy=EXCEPTION`` *errors*; DuckDB
       silently keeps the last value.  The portable semantics is
       explicit LAST_WIN — this builder sets it (session-wide; no
       other suite query builds dup-keyed maps) and the certificate
       pins the last-wins value.
    2. Scalar extraction: Spark ``element_at(m, k)`` returns the value
       (NULL when missing); DuckDB ``m[k]`` / ``map_extract`` returns
       a LIST (empty when missing).  Portable form: ``m[k][1]`` with
       an outer ``coalesce`` — both sides compare the same scalar.

    Scale: maps are per-order (bounded fan-in ~7); one order-keyed
    hash-agg builds them, every map op is a codegen'd expression —
    no Python, no extra shuffle.  (The synthetic lineitem repeats
    l_linenumber within an order, so quantities pre-aggregate per
    (order, linenumber) — map keys must be unique in BOTH engines:
    DuckDB's map_from_entries hard-errors on duplicates.)"""
    spark.conf.set("spark.sql.mapKeyDedupPolicy", "LAST_WIN")
    li = (
        _t(spark, sf_dir, "lineitem")
        .filter(F.col("l_orderkey") % MAP_MOD == 0)
        .groupBy("l_orderkey", "l_linenumber")
        .agg(F.sum(F.col("l_quantity").cast("long")).alias("qty"))
    )
    per_order = li.groupBy("l_orderkey").agg(
        F.map_from_entries(
            F.sort_array(
                F.collect_list(
                    F.struct(
                        F.col("l_linenumber").cast("long").alias("k"),
                        F.col("qty").alias("v"),
                    )
                )
            )
        ).alias("m")
    )
    m = F.col("m")
    lw = F.map_concat(m, F.create_map(F.lit(1).cast("long"), F.lit(999).cast("long")))
    odd_big = F.map_filter(m, lambda k, v: (k % 2 == 1) & (v > 25))
    zero = F.lit(0).cast("long")
    return per_order.select(
        "l_orderkey",
        F.size(m).alias("n_keys"),
        F.concat_ws(",", F.transform(F.map_keys(m), lambda x: x.cast("string"))).alias(
            "keys_str"
        ),
        F.concat_ws(
            ",", F.transform(F.map_values(m), lambda x: x.cast("string"))
        ).alias("vals_str"),
        F.element_at(m, F.lit(1).cast("long")).alias("v_first"),
        F.coalesce(F.element_at(m, F.lit(99).cast("long")), F.lit(-1).cast("long")).alias(
            "v_missing"
        ),
        F.element_at(lw, F.lit(1).cast("long")).alias("concat_last_win"),
        F.coalesce(
            F.aggregate(F.map_values(odd_big), zero, lambda a, x: a + x), zero
        ).alias("odd_big_sum"),
        F.aggregate(
            F.map_values(F.transform_values(m, lambda k, v: v * 2 + k)),
            zero,
            lambda a, x: a + x,
        ).alias("tv_sum"),
        F.map_contains_key(m, F.lit(9).cast("long")).alias("has_line9"),
    ).orderBy("l_orderkey")


Q359_SQL = f"""
WITH per_line AS (
  SELECT l_orderkey, l_linenumber,
         CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty
  FROM lineitem WHERE l_orderkey % {MAP_MOD} = 0 GROUP BY 1, 2
),
per_order AS (
  SELECT l_orderkey,
         map_from_entries(
           list(ROW(CAST(l_linenumber AS BIGINT), qty)
                ORDER BY l_linenumber)) AS m
  FROM per_line GROUP BY 1
)
SELECT l_orderkey,
       CAST(cardinality(m) AS INT) AS n_keys,
       array_to_string(map_keys(m), ',') AS keys_str,
       array_to_string(map_values(m), ',') AS vals_str,
       m[CAST(1 AS BIGINT)][1] AS v_first,
       coalesce(m[CAST(99 AS BIGINT)][1], CAST(-1 AS BIGINT)) AS v_missing,
       map_concat(m, MAP{{CAST(1 AS BIGINT): CAST(999 AS BIGINT)}})
         [CAST(1 AS BIGINT)][1] AS concat_last_win,
       CAST(coalesce(list_sum(list_transform(
           list_filter(map_entries(m), e -> e.key % 2 = 1 AND e.value > 25),
           e -> e.value)), 0) AS BIGINT) AS odd_big_sum,
       CAST(list_sum(list_transform(map_entries(m), e -> e.value * 2 + e.key))
            AS BIGINT) AS tv_sum,
       list_contains(map_keys(m), CAST(9 AS BIGINT)) AS has_line9
FROM per_order ORDER BY l_orderkey
"""


# ------------------------------------------------------------- q360

Q360_BUCKETS = 8
Q360_DIR = os.path.join(_REPO, ".fixtures", ".q360_bucketed")


def _bucketed_events(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, str]:
    """Materialize events as a parquet table bucketed by user_id —
    executing LAYOUT_ADVICE.json's top advice for events (user_id is
    the workload's #1 shuffle key: 117 of 355 plans exchange on it).
    Cached per session; ~2 MB at sf0.1 so the one-time write is
    cheap, and every later same-session user_id agg/join reads
    pre-hashed buckets instead of shuffling. The catalog is
    session-scoped (in-memory), so tableExists is the real gate."""
    tag = re.sub(r"[^0-9A-Za-z]", "_", os.path.basename(sf_dir.rstrip("/")))
    tbl = f"q360_events_by_user_{tag}"
    path = os.path.join(Q360_DIR, tag)

    def write():
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")
        shutil.rmtree(path, ignore_errors=True)
        (
            _t(spark, sf_dir, "events")
            .write.mode("overwrite")
            .format("parquet")
            .bucketBy(Q360_BUCKETS, "user_id")
            .sortBy("user_id")
            .option("path", path)
            .saveAsTable(tbl)
        )
        return tbl

    cache.memo("materialized", (sf_dir, tbl), write, valid=lambda: spark.catalog.tableExists(tbl))
    return spark.table(tbl), tbl


def q360_bucketed_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Workload-driven layout materialization, executed end-to-end:
    write events bucketed by user_id (LAYOUT_ADVICE.json's top bucket
    candidate — 117/355 plans shuffle on it), then run the canonical
    per-user profile agg *against the bucketed table*.  The scan
    reports its bucketing as hash-partitioned output, so the
    aggregate runs exchange-FREE — tests/test_plans.py pins zero
    Exchange in the pre-sort plan (the orderBy below range-exchanges
    |users| post-agg rows for deterministic compare only).  The
    oracle computes the identical profile over the raw parquet:
    layout must never change answers, only plans.

    Scale: this is the bucketing story at 100 TB — pay one
    partitioned write, erase the per-query shuffle on the workload's
    hottest key; 8 buckets here, |cluster cores| there."""
    ev, _ = _bucketed_events(spark, sf_dir)
    return (
        ev.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("event_type").alias("n_types"),
            F.min("event_id").alias("first_event_id"),
            F.max("event_id").alias("last_event_id"),
            F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss").alias("first_ts"),
            F.date_format(F.max("ts"), "yyyy-MM-dd HH:mm:ss").alias("last_ts"),
        )
        .orderBy("user_id")
    )


Q360_SQL = """
SELECT user_id,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(count(DISTINCT event_type) AS BIGINT) AS n_types,
       min(event_id) AS first_event_id,
       max(event_id) AS last_event_id,
       strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS first_ts,
       strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS last_ts
FROM events GROUP BY user_id ORDER BY user_id
"""


# ------------------------------------------------------------- q361

def q361_collation_door(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engine door: string collation (Spark 4 ``COLLATE UTF8_LCASE``)
    — case-insensitive grouping and comparison WITHOUT rewriting every
    expression through lower().  A deterministically mixed-cased
    segment column (even custkeys lowercased) groups on the collated
    key; the certificate proves the variants merged (n_casings = 2)
    and that a mixed-case literal comparison matches under the
    collation.  The oracle is the portable pre-collation idiom —
    group by lower() — which must produce identical aggregates.

    Scale: collation is a comparator swap inside the same hash-agg —
    one corpus shuffle on the collated key either way; nothing about
    the plan shape changes, which is the door's point (declare the
    comparison semantics, keep the plan)."""
    c = _t(spark, sf_dir, "customer").withColumn(
        "seg_mixed",
        F.when(F.col("c_custkey") % 2 == 0, F.lower("c_mktsegment")).otherwise(
            F.col("c_mktsegment")
        ),
    )
    g = c.groupBy(F.expr("collate(seg_mixed, 'UTF8_LCASE')").alias("k")).agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.countDistinct("seg_mixed").alias("n_casings"),
        F.sum(_money_cents("c_acctbal")).alias("_c"),
        F.count_if(
            F.expr("seg_mixed = ('Building' COLLATE UTF8_LCASE)")
        ).alias("n_eq_building_ci"),
    )
    return g.select(
        F.expr("CAST(lower(k) AS STRING)").alias("segment"),
        "n_customers",
        "n_casings",
        (F.col("_c") / 100.0).alias("acctbal_sum"),
        "n_eq_building_ci",
    ).orderBy("segment")


Q361_SQL = """
WITH c AS (
  SELECT CASE WHEN c_custkey % 2 = 0 THEN lower(c_mktsegment)
              ELSE c_mktsegment END AS seg_mixed,
         CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
  FROM customer
)
SELECT lower(seg_mixed) AS segment,
       CAST(count(*) AS BIGINT) AS n_customers,
       CAST(count(DISTINCT seg_mixed) AS BIGINT) AS n_casings,
       CAST(sum(cents) AS BIGINT) / 100.0 AS acctbal_sum,
       CAST(count(*) FILTER (WHERE lower(seg_mixed) = 'building') AS BIGINT)
         AS n_eq_building_ci
FROM c GROUP BY 1 ORDER BY segment
"""


# ------------------------------------------------------------- q362

XML_MOD = 7


def q362_xml_door(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engine door: the XML surface — ``to_xml`` serialization
    (including entity escaping: the constructed name embeds a literal
    ``&``), ``from_xml`` schema-directed parse back, and the
    ``xpath_*`` extractor family on a hand-built fragment.  The
    oracle is the closed form (the XML never leaves Spark): every
    parsed value must round-trip to its base column, and the two
    ``*_ok`` booleans certify escaping + parse fidelity rather than
    assuming them.

    Scale: per-row codegen'd string expressions on a scan — the
    serialize/parse pair costs one projection, no shuffle; the
    pattern is the interchange path for XML-bearing feeds at any
    size."""
    c = _t(spark, sf_dir, "customer").filter(F.col("c_custkey") % XML_MOD == 0)
    xml = F.expr(
        "to_xml(named_struct("
        "'k', c_custkey, "
        "'nm', concat(c_name, ' & co'), "
        "'bal', CAST(c_acctbal AS DECIMAL(18,2))))"
    )
    parsed = F.from_xml(xml, "k BIGINT, nm STRING, bal DECIMAL(18,2)")
    frag = F.concat(
        F.lit("<o><n>"), F.col("c_nationkey").cast("string"), F.lit("</n></o>")
    )
    return (
        c.select(
            "c_custkey",
            xml.alias("_xml"),
            parsed.alias("_p"),
            frag.alias("_frag"),
            F.col("c_name"),
            F.col("c_nationkey"),
            F.col("c_acctbal"),
        )
        .select(
            "c_custkey",
            F.col("_p.nm").alias("parsed_name"),
            (F.col("_p.nm") == F.concat(F.col("c_name"), F.lit(" & co"))).alias(
                "roundtrip_ok"
            ),
            (F.col("_p.bal") * 100).cast("long").alias("parsed_bal_cents"),
            F.col("_xml").contains("&amp; co").alias("escaped_ok"),
            F.expr("xpath_int(_frag, '/o/n')").alias("xp_nation"),
            F.expr("xpath_string(_frag, '/o/n')").alias("xp_nation_str"),
        )
        .orderBy("c_custkey")
    )


Q362_SQL = f"""
SELECT c_custkey,
       c_name || ' & co' AS parsed_name,
       true AS roundtrip_ok,
       CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) AS parsed_bal_cents,
       true AS escaped_ok,
       CAST(c_nationkey AS INT) AS xp_nation,
       CAST(c_nationkey AS VARCHAR) AS xp_nation_str
FROM customer WHERE c_custkey % {XML_MOD} = 0 ORDER BY c_custkey
"""


QUERIES_EXT63 = {
    "q359_map_conformance": q359_map_conformance,
    "q360_bucketed_layout": q360_bucketed_layout,
    "q361_collation_door": q361_collation_door,
    "q362_xml_door": q362_xml_door,
}


def _oracles_ext63() -> dict[str, str]:
    return {
        "q359_map_conformance": Q359_SQL,
        "q360_bucketed_layout": Q360_SQL,
        "q361_collation_door": Q361_SQL,
        "q362_xml_door": Q362_SQL,
    }

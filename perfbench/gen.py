"""Seeded inputs for the three workloads.

Everything here is a pure function of ``seed`` (and a size), so the
same seed gives byte-identical inputs on every run:

* :func:`land_cdc` — bronze ``customers_cdc`` / ``orders_cdc`` in the
  FIXTURES.md dirt profile, split into any number of batches with
  non-overlapping ``_cdc_timestamp`` ranges. Every column is a
  vectorized numpy hash of (seed, row identity) — no Python row lists,
  no Spark job — and each batch lands as one parquet file.
* :func:`dml_base` / :func:`dml_ops` — the small_dml table and its
  commit stream (upserts, deletes, updates, periodic compaction).
* :func:`write_analyst_tables` — the TPC-H-ish star schema plus
  ``events`` / ``documents`` / ``embeddings`` the driver queries read,
  with the schemas and value domains of the engine's test data.
* :func:`round_orders` — the seeded key order of each analyst round.
"""

from __future__ import annotations

import datetime as dt
import os
import random
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ------------------------------------------------------------------ CDC

CDC_BASE_TS = dt.datetime(2024, 1, 1)
#: one batch spans this many seconds of _cdc_timestamp; version v of a
#: key lands in [v, v+1) * VERSION_SPAN_S inside its batch, so versions
#: of one key strictly increase and batches never overlap.
VERSION_SPAN_S = 6 * 3600
BATCH_SPAN_S = 4 * VERSION_SPAN_S
BATCH_COL = "_bench_batch"

DIRTY_STATUS = [
    "PENDING", "pending", " Confirmed ", "processing", "IN_TRANSIT",
    "out_for_delivery", "Completed", "FULFILLED", "canceled", "VOID",
    "REJECTED", "DELIVERED", "shipped", "weird_status",
]
DIRTY_PAY_STATUS = ["PAID", "paid ", "authorized", "CAPTURED", "declined", "Chargeback", "??", "PENDING"]
DIRTY_PAY_METHOD = ["visa", "MASTERCARD", "apple_pay", "ACH", "paypal", "DEBIT_CARD", "bitcoin"]
DIRTY_SHIP_METHOD = ["ground", "NEXT_DAY", "two_day", "saver", "STANDARD", "warp"]
DIRTY_REGION = ["NE", "se", " midwest ", "NW", "sw", "CENTRAL", "atlantis"]
COUNTRIES = ["USA", "usa", " Canada", "UK", "germany", "France", "AUSTRALIA", "Brazil"]

CUSTOMERS_SCHEMA = (
    "customer_id long, email string, first_name string, last_name string, "
    "phone string, address_line1 string, address_line2 string, city string, "
    "state string, country string, postal_code string, registration_date date, "
    "customer_status string, customer_segment string, _cdc_operation string, "
    "_cdc_timestamp timestamp, _ingested_at timestamp, _source_system string, "
    "_batch_id string"
)
ORDERS_SCHEMA = (
    "order_id long, customer_id long, order_date timestamp, order_status string, "
    "payment_status string, payment_method string, shipping_address_line1 string, "
    "shipping_address_line2 string, shipping_city string, shipping_state string, "
    "shipping_country string, shipping_postal_code string, shipping_method string, "
    "estimated_delivery_date date, actual_delivery_date date, order_total double, "
    "tax_amount double, shipping_cost double, discount_amount double, region string, "
    "_cdc_operation string, _cdc_timestamp timestamp, _ingested_at timestamp, "
    "_source_system string, _batch_id string"
)


DANGLING_BASE = 1_000_000_000  # customer ids past every generated customer

_U64 = np.uint64


def _mix(x: np.ndarray) -> np.ndarray:
    """splitmix64 finalizer over a uint64 array."""
    with np.errstate(over="ignore"):
        x = x + _U64(0x9E3779B97F4A7C15)
        x = (x ^ (x >> _U64(30))) * _U64(0xBF58476D1CE4E5B9)
        x = (x ^ (x >> _U64(27))) * _U64(0x94D049BB133111EB)
        return x ^ (x >> _U64(31))


class _Hash:
    """Deterministic per-row pseudo-random columns: a hash of (seed,
    salt, row identity), vectorized over numpy arrays. A row's values
    depend on its identity only, so batch ``b`` is the same whatever
    the number of batches landed."""

    def __init__(self, seed: int, *ident: np.ndarray):
        h = _mix(np.full(len(ident[0]), seed % (1 << 64), dtype=np.uint64))
        for col in ident:
            h = _mix(h ^ np.asarray(col).astype(np.uint64))
        self.h = h

    def int(self, salt: str, n: int) -> np.ndarray:
        code = _U64(zlib.crc32(salt.encode()))
        return (_mix(self.h ^ code) % _U64(n)).astype(np.int64)

    def unit(self, salt: str) -> np.ndarray:
        return self.int(salt, 1_000_000) / 1_000_000.0

    def choice(self, salt: str, values: list) -> np.ndarray:
        return np.asarray(values, dtype=object)[self.int(salt, len(values))]

    def fmt(self, salt: str, patterns: list, key: np.ndarray) -> np.ndarray:
        """One of ``patterns`` per row (``{}`` filled with ``key``, a
        string array; None stays NULL)."""
        pick = self.int(salt, len(patterns))
        out = np.empty(len(pick), dtype=object)
        for i, p in enumerate(patterns):
            m = pick == i
            if p is None or "{}" not in p:
                out[m] = p
            else:
                pre, post = p.split("{}")
                out[m] = np.char.add(np.char.add(pre, key[m]), post)
        return out


def _versions(seed, salt, b, per_batch, update_every):
    """Rows of batch ``b``: (key, ver, nver, is_new). ``per_batch`` new
    keys with 1-3 versions (30% get 3), plus one or two UPDATE versions
    for every ``update_every``-th older key (hash-selected)."""
    tag = zlib.crc32(salt.encode())
    new = np.arange(b * per_batch + 1, (b + 1) * per_batch + 1, dtype=np.int64)
    r = _Hash(seed, np.full(len(new), tag), new).int("nver", 20)
    new_n = np.where(r < 7, 1, np.where(r < 14, 2, 3))
    old = np.arange(1, b * per_batch + 1, dtype=np.int64)
    hu = _Hash(seed, np.full(len(old), tag), old, np.full(len(old), b))
    picked = hu.int("upd", update_every) == 0
    old, old_n = old[picked], hu.int("unver", 2)[picked] + 1
    keys = np.concatenate([new, old])
    nver = np.concatenate([new_n, old_n])
    is_new = np.concatenate([np.ones(len(new), bool), np.zeros(len(old), bool)])
    starts = np.cumsum(nver) - nver
    ver = np.arange(nver.sum()) - np.repeat(starts, nver)
    return np.repeat(keys, nver), ver, np.repeat(nver, nver), np.repeat(is_new, nver)


def _cdc_meta(h, b, ver, nver, is_new):
    """op / _cdc_timestamp for each version row. The last version of
    ~10% of multi-version NEW keys is a DELETE (≈5% of all rows)."""
    last = ver == nver - 1
    op = np.where(
        is_new & (ver == 0), "INSERT",
        np.where(is_new & last & (h.int("del", 10) == 0), "DELETE", "UPDATE"),
    ).astype(object)
    offset = b * BATCH_SPAN_S + ver * VERSION_SPAN_S + h.int("ts", VERSION_SPAN_S - 120)
    ts = np.datetime64(CDC_BASE_TS, "s") + offset.astype("timedelta64[s]")
    return op, ts.astype("datetime64[us]")


def _pad4(x: np.ndarray) -> np.ndarray:
    return np.char.zfill((x % 10000).astype(str), 4)


def _ts(a) -> pa.Array:
    return pa.array(a, pa.timestamp("us", tz="UTC"))


def _money(h, salt, dirty, lo, hi) -> pa.Array:
    """Uniform money in [lo, hi); each value of ``dirty`` (None = NULL,
    negatives, out-of-range) replaces 5% of the rows."""
    pick = h.int(salt + "p", 20)
    val = np.round(lo + h.unit(salt) * (hi - lo), 2)
    null = np.zeros(len(val), bool)
    for i, d in enumerate(dirty):
        m = pick == i
        if d is None:
            null |= m
        else:
            val[m] = d
    return pa.array(val, pa.float64(), mask=null)


def customers_batch(seed: int, b: int, per_batch: int) -> pa.Table:
    key, ver, nver, is_new = _versions(seed, "c", b, per_batch, 8)
    n = len(key)
    h = _Hash(seed, np.full(n, 1), key, np.full(n, b), ver)
    op, ts = _cdc_meta(h, b, ver, nver, is_new)
    ks, k4 = key.astype(str), _pad4(key)
    reg = (
        np.datetime64("2023-01-01", "M") + (key % 12).astype("timedelta64[M]")
    ).astype("datetime64[D]") + (key % 27).astype("timedelta64[D]")
    cols = {
        "customer_id": pa.array(key, pa.int64()),
        "email": h.fmt("email", ["ok{}@example.com", "bad{}@", "{}missing.at", "", None, "UPPER{}@Mail.COM"], ks),
        "first_name": np.char.add(np.char.add("  First", ks), " "),
        "last_name": np.char.add(" Last", ks),
        "phone": h.fmt("phone", ["555-123-{}", "000-000-0000", "12{}", "", None, "(555) 987-{}"], k4),
        "address_line1": h.fmt("addr1", ["{} Main St", "", None], ks),
        "address_line2": h.fmt("addr2", ["Apt 1", "", None], ks),
        "city": h.fmt("city", ["Springfield", "", None], ks),
        "state": h.fmt("state", ["CA", "NY", "", None], ks),
        "country": h.choice("country", COUNTRIES),
        "postal_code": h.fmt("zip", ["9{}", "", None], k4),
        "registration_date": pa.array(reg, pa.date32()),
        "customer_status": h.choice("cstatus", ["active", "ACTIVE", "inactive", "SUSPENDED"]),
        "customer_segment": h.choice("cseg", ["vip", "REGULAR", "new"]),
        "_cdc_operation": op,
        "_cdc_timestamp": _ts(ts),
        "_ingested_at": _ts(ts + np.timedelta64(60, "s")),
        "_source_system": np.full(n, "crm", dtype=object),
        "_batch_id": np.full(n, f"b{b}", dtype=object),
    }
    return pa.table({k: v if isinstance(v, pa.Array) else pa.array(v, pa.string()) for k, v in cols.items()})


def orders_batch(seed: int, b: int, per_batch: int, cust_per_batch: int) -> pa.Table:
    oid, ver, nver, is_new = _versions(seed, "o", b, per_batch, 8)
    n = len(oid)
    # Order attributes hash on the key only (stable across versions,
    # like an order's customer and date); version columns on all three.
    hk = _Hash(seed, np.full(n, 2), oid)
    h = _Hash(seed, np.full(n, 3), oid, np.full(n, b), ver)
    op, ts = _cdc_meta(h, b, ver, nver, is_new)
    os_, o4 = oid.astype(str), _pad4(oid)
    born = (oid - 1) // per_batch
    known = (born + 1) * cust_per_batch
    # ~10% dangling FKs (ids past every customer), 3% NULL.
    cust = np.where(
        hk.int("dangle", 10) == 0, DANGLING_BASE + hk.int("dc", 1000),
        hk.int("cid", 1 << 30) % known + 1,
    )
    order_date = (
        np.datetime64("2023-01-01T00:00:00", "s")
        + (hk.int("odays", 400) * 86400 + hk.int("ohour", 24) * 3600).astype("timedelta64[s]")
    )
    est = order_date.astype("datetime64[D]") + (hk.int("est", 9) + 2).astype("timedelta64[D]")
    actual = est + (h.int("actd", 8) - 2).astype("timedelta64[D]")
    cols = {
        "order_id": pa.array(oid, pa.int64()),
        "customer_id": pa.array(cust, pa.int64(), mask=hk.int("null_c", 100) < 3),
        "order_date": _ts(order_date.astype("datetime64[us]")),
        "order_status": h.choice("ostatus", DIRTY_STATUS),
        "payment_status": h.choice("pstatus", DIRTY_PAY_STATUS),
        "payment_method": h.choice("pmethod", DIRTY_PAY_METHOD),
        "shipping_address_line1": h.fmt("saddr", ["{} Oak Ave ", "", None], os_),
        "shipping_address_line2": np.full(n, "", dtype=object),
        "shipping_city": h.fmt("scity", ["Metropolis", "", None], os_),
        "shipping_state": h.fmt("sstate", ["CA", "tx ", None], os_),
        "shipping_country": h.choice("scountry", COUNTRIES),
        "shipping_postal_code": h.fmt("szip", ["1{}", None], o4),
        "shipping_method": h.choice("smethod", DIRTY_SHIP_METHOD),
        "estimated_delivery_date": pa.array(est, pa.date32()),
        "actual_delivery_date": pa.array(actual, pa.date32(), mask=h.int("act", 2) == 0),
        "order_total": _money(h, "total", [None, -10.0, 60000.0], 5.0, 2000.0),
        "tax_amount": _money(h, "tax", [None, -1.0, 1e9], 0.0, 100.0),
        "shipping_cost": _money(h, "ship", [None, -2.0, 500.0], 0.0, 50.0),
        "discount_amount": _money(h, "disc", [None, -3.0, 1e9], 0.0, 80.0),
        "region": h.choice("region", DIRTY_REGION),
        "_cdc_operation": op,
        "_cdc_timestamp": _ts(ts),
        "_ingested_at": _ts(ts + np.timedelta64(120, "s")),
        "_source_system": np.full(n, "oms", dtype=object),
        "_batch_id": np.full(n, f"b{b}", dtype=object),
    }
    return pa.table({k: v if isinstance(v, pa.Array) else pa.array(v, pa.string()) for k, v in cols.items()})


def land_cdc(root, seed, n_batches, cust_per_batch, orders_per_batch):
    """Write both bronze tables, one directory ``_bench_batch=<b>`` per
    batch holding one parquet file. Returns {table: dir}."""
    out = {}
    make = {
        "customers_cdc": lambda b: customers_batch(seed, b, cust_per_batch),
        "orders_cdc": lambda b: orders_batch(seed, b, orders_per_batch, cust_per_batch),
    }
    for name, batch in make.items():
        path = os.path.join(root, name)
        for b in range(n_batches):
            d = os.path.join(path, f"{BATCH_COL}={b}")
            os.makedirs(d, exist_ok=True)
            pq.write_table(batch(b), os.path.join(d, "part-00000.parquet"))
        out[name] = path
    return out


def read_batches(spark, path, schema, upto):
    """The cumulative bronze source for batches 0..upto."""
    return spark.read.schema(schema).parquet(
        *[os.path.join(path, f"{BATCH_COL}={b}") for b in range(upto + 1)]
    )


# ------------------------------------------------------------ small DML

DML_SCHEMA = "k long, grp int, amount long, tag string"


def dml_base(spark, seed, n_rows, parts=4):
    from pyspark.sql import functions as F

    def h(salt, n):
        return F.pmod(F.xxhash64(F.lit(seed), F.lit(salt), F.col("id")), F.lit(n))

    tags = F.array(*[F.lit(t) for t in "abcd"])
    return spark.range(0, n_rows, numPartitions=parts).select(
        F.col("id").alias("k"),
        h("grp", 16).cast("int").alias("grp"),
        h("amt", 1000).alias("amount"),
        F.element_at(tags, (h("tag", 4) + 1).cast("int")).alias("tag"),
    )


def dml_ops(seed, n_ops, n_rows, batch_rows=100, compact_every=15, feed_every=5):
    """The seeded commit stream: a list of op dicts. Kinds:
    ``merge`` (``batch_rows`` upserts: ~half existing keys, half new),
    ``delete`` (a narrow key range), ``update`` (amount += d on one
    group within a key range) and ``compact`` every ``compact_every``-th
    op. ``feed`` marks ops after which the change feed is read."""
    rng = random.Random(seed * 7919 + 17)
    ops = []
    next_new = n_rows
    for i in range(n_ops):
        if compact_every and i % compact_every == compact_every - 1:
            op = {"kind": "compact"}
        else:
            r = rng.random()
            if r < 0.6:
                rows = []
                for _ in range(batch_rows):
                    if rng.random() < 0.5:
                        k = rng.randrange(0, n_rows)
                    else:
                        k = next_new
                        next_new += 1
                    rows.append((k, rng.randrange(16), rng.randrange(1000), rng.choice("abcd")))
                # one row per key: the last write of a key wins
                op = {"kind": "merge", "rows": list({r[0]: r for r in rows}.values())}
            elif r < 0.8:
                lo = rng.randrange(0, n_rows)
                op = {"kind": "delete", "lo": lo, "hi": lo + rng.randrange(20, 200)}
            else:
                lo = rng.randrange(0, n_rows)
                op = {
                    "kind": "update", "lo": lo, "hi": lo + rng.randrange(200, 2000),
                    "grp": rng.randrange(16), "d": rng.randrange(1, 50),
                }
        op["feed"] = feed_every > 0 and i % feed_every == feed_every - 1
        ops.append(op)
    return ops


def replay(base: dict[int, tuple[int, int]], ops) -> dict[int, tuple[int, int]]:
    """Plain-Python replay of ``ops`` over {k: (grp, amount)}."""
    t = dict(base)
    for op in ops:
        kind = op["kind"]
        if kind == "merge":
            for k, grp, amount, _tag in op["rows"]:
                t[k] = (grp, amount)
        elif kind == "delete":
            for k in [k for k in t if op["lo"] <= k < op["hi"]]:
                del t[k]
        elif kind == "update":
            for k, (grp, amount) in list(t.items()):
                if op["lo"] <= k < op["hi"] and grp == op["grp"]:
                    t[k] = (grp, amount + op["d"])
    return t


# ------------------------------------------------------- analyst tables

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["large", "hot", "blue", "old", "red", "small", "green", "cold"]
PART_NOUN = ["ring", "bolt", "plate", "gear", "nut", "pipe", "valve", "screw"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query scan slow small sort spark stream table "
    "the value vector window"
).split()
LANGS = ["de", "en", "en", "en", "es", "fr", "zh"]


def _ts_us(base: dt.datetime, seconds: np.ndarray) -> pa.Array:
    us = (seconds * 1_000_000).astype("int64") + int(base.timestamp() * 1_000_000)
    return pa.array(us.astype("datetime64[us]"))


def _days(base: dt.date, days: np.ndarray) -> pa.Array:
    start = np.datetime64(base, "us")
    return pa.array(start + days.astype("int64") * np.timedelta64(86_400_000_000, "us"))


def write_analyst_tables(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """The driver-query star schema at scale ``sf`` (sf0.1 ≈ 600k
    lineitem rows), one parquet file per table, seeded by ``seed``.
    Returns {table: rows}."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1500, int(1_500_000 * sf))
    n_line = max(6000, int(6_000_000 * sf))
    n_ev = max(1000, int(1_000_000 * sf))
    n_users = max(15, int(15_000 * sf))
    n_doc = max(50, int(50_000 * sf))
    n_emb = max(20, int(20_000 * sf))
    money = lambda lo, hi, n: np.round(rng.uniform(lo, hi, n), 2)  # noqa: E731

    tables: dict[str, pa.Table] = {}
    tables["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS,
    })
    tables["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    tables["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": money(-999, 9999, n_cust),
        "c_mktsegment": pa.array(np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]),
    })
    tables["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": money(-999, 9999, n_supp),
    })
    adj = np.array(PART_ADJ)[rng.integers(0, len(PART_ADJ), n_part)]
    noun = np.array(PART_NOUN)[rng.integers(0, len(PART_NOUN), n_part)]
    tables["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": pa.array(np.char.add(np.char.add(adj, " "), noun)),
        "p_brand": pa.array(np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str))),
        "p_type": pa.array(np.array(PART_TYPES)[rng.integers(0, 6, n_part)]),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 2),
    })
    order_days = rng.integers(0, 2404, n_ord)  # 1995-01-01 .. 2001-08-01
    tables["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)]),
        "o_totalprice": money(900, 450_000, n_ord),
        "o_orderdate": _days(dt.date(1995, 1, 1), order_days),
        "o_orderpriority": pa.array(np.array(PRIORITIES)[rng.integers(0, 5, n_ord)]),
    })
    l_ok = rng.integers(0, n_ord, n_line)
    tables["lineitem"] = pa.table({
        "l_orderkey": pa.array(l_ok, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype("float64"),
        "l_extendedprice": money(900, 105_000, n_line),
        "l_discount": np.round(rng.integers(0, 11, n_line) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n_line) / 100.0, 2),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)]),
        "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n_line)]),
        "l_shipdate": _days(dt.date(1995, 1, 2), order_days[l_ok] + rng.integers(0, 95, n_line)),
    })
    # whole seconds: the engine's session gap compares at second
    # granularity, its oracle at microseconds (they part on gaps of
    # 30 min + <1 s)
    ev_s = np.sort(rng.integers(0, 30 * 86400, n_ev)).astype("float64")
    tables["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": _ts_us(dt.datetime(2024, 1, 1), ev_s),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
        "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)]),
        "value": np.round(rng.exponential(40.0, n_ev).clip(0, 560), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    texts = []
    for i in range(n_doc):
        if i > 10 and rng.random() < 0.05:  # near-duplicate of an earlier doc
            words = texts[int(rng.integers(0, i))].split()
            words[int(rng.integers(0, len(words)))] = WORDS[int(rng.integers(0, len(WORDS)))]
        else:
            words = list(np.array(WORDS)[rng.integers(0, len(WORDS), int(rng.integers(12, 70)))])
        texts.append(" ".join(words))
    tables["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": texts,
        "lang": pa.array(np.array(LANGS)[rng.integers(0, len(LANGS), n_doc)]),
        "source": pa.array(np.char.add("src", rng.integers(0, 20, n_doc).astype(str))),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    labels = rng.integers(0, 10, n_emb)
    centers = rng.normal(0, 0.15, (10, 64))
    vecs = (centers[labels] + rng.normal(0, 0.08, (n_emb, 64))).astype("float32")
    tables["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    for name, tbl in tables.items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))
    return {name: tbl.num_rows for name, tbl in tables.items()}


def round_orders(seed: int, heavy: list[str], light: list[str], rounds: int) -> list[list[str]]:
    """orders[round] = the order the round's clients take the keys in:
    every key once per round, the light keys first, shuffled by the
    seed, then the heavy keys in the order given. Light keys then share
    the cluster only with each other, so their latency scales with the
    host instead of with how long the heavy keys beside them run."""
    rng = random.Random(seed * 104729 + 3)
    out = []
    for _ in range(rounds):
        li = list(light)
        rng.shuffle(li)
        out.append(li + list(heavy))
    return out

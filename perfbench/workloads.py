"""The three closed-loop workloads.

Each workload function takes a :class:`Run` and fills in its metrics.
Setup (input generation, landing, warm-up) is timed into ``setup_s``;
the timed window runs a number of ops fixed by ``--seconds``
(small_dml: ops until ``--seconds`` have elapsed); output checks run
after the window and count into ``failed``. In a traced run the op
schedule is fixed (so its counts repeat on one seed), and ops
alternate traced / untraced in ABBA order so ``trace.overhead_ratio``
compares like with like.
"""

from __future__ import annotations

import datetime as dt
import os
import statistics
import threading
import time
from collections import defaultdict
from concurrent.futures import ThreadPoolExecutor

import gen

#: cdc_pipeline sizes: new customer / order keys per batch (≈25k CDC
#: rows per batch with versions and updates).
CDC_CUSTOMERS = 2000
CDC_ORDERS = 8000
#: Typical wall of one warm incremental run, and of one analyst round,
#: on a 4-core host. A run times round(seconds / X) of them (at least
#: one): a count fixed by ``--seconds`` alone, so a slow host takes
#: longer but measures the same work.
CDC_OP_S = 8.0
ANALYST_ROUND_S = 20.0
#: untimed incremental runs between the full refresh and the timed
#: ones: the first incremental run is the first to take the merge path
#: (code generation, JIT), and its wall swings with the host
CDC_WARM_RUNS = 1
CDC_AS_OF = dt.date(2025, 6, 30)

#: small_dml sizes: base rows, upsert batch rows, change-feed window.
DML_ROWS = 100_000
DML_BATCH = 100
DML_FEED_VERSIONS = 3
DML_RETAIN = 8
DML_WARMUP = 5

#: analyst_mix: the tools/throughput.py MIX (sub-second each) and the
#: near-dup and shared-graph keys (seconds each)
ANALYST_MIX = [
    "q01_scan_project", "q02_filter_predicates", "q10_group_metrics",
    "q12_multi_join_dim", "q23_sessionize", "q34_topk_per_group",
    "q41_percentiles", "q57_funnel_conversion", "q81_rank_family",
    "q250_tpch_q1_pricing_summary", "q252_tpch_q5_local_supplier",
    "q256_tpch_q13_customer_distribution",
]
#: longest first (warm serial walls of about 5.4, 4.8, 3.9, 3.5, 3.2
#: and 2.1 s on 4 cores), so a round ends on a short key
ANALYST_HEAVY = [
    "q56_dup_clusters", "q277_dup_cluster_histogram", "q123_bfs_hops",
    "q118_triangle_counts", "q183_fingerprint_near_dup", "q20_fuzzy_dedup",
]
ANALYST_KEYS = ANALYST_MIX + ANALYST_HEAVY
#: scale of the generated star schema (12k lineitem rows, 100 documents)
ANALYST_SF = 0.002
#: DuckDB oracle queries checked side by side after the window
ORACLE_THREADS = 4

#: input generation runs this many times per run; setup_s takes the median
SETUP_REPS = 3

#: ABBA pattern: which op indices are traced in a traced run.
def traced_op(i: int) -> bool:
    return i % 4 in (0, 3)


def median(xs):
    return statistics.median(xs) if xs else 0.0


#: the op_tail_s percentile. A run has one timed incremental run or 18
#: queries, too few for ten samples beyond any percentile above the
#: median, so op_tail_s is printed but not bounded.
TAIL_PCT = 70


def tail(xs) -> float:
    """The TAIL_PCT-th percentile of ``xs`` (inclusive interpolation)."""
    if len(xs) < 2:
        return xs[0] if xs else 0.0
    return statistics.quantiles(xs, n=100, method="inclusive")[TAIL_PCT - 1]


def tree_bytes(root: str) -> dict[str, int]:
    out = {}
    for d, _dirs, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            try:
                out[p] = os.path.getsize(p)
            except OSError:
                pass
    return out


class Run:
    """One benchmark run: session, work dir, tracer and results."""

    def __init__(self, spark, root, work, seed, seconds, tracer, counter):
        self.spark = spark
        self.root = root
        self.work = work
        #: warehouse whose file growth a traced op attributes to sinks
        self.wh_dir: str | None = None
        self.seed = seed
        self.seconds = seconds
        self.tracer = tracer          # None unless --trace 1
        self.counter = counter
        self.setup_s = 0.0
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.metrics: dict[str, tuple[float, str]] = {}
        self.layers: dict[str, float] = defaultdict(float)
        self.op_walls: list[float] = []
        self.traced_ops: list[str] = []
        self.walls = {"T": [], "U": []}
        #: RDDs the engine left persisted after its own cache clearing
        self.leaked: list[str] = []
        #: wall seconds since the run began at which each phase ended
        self.phases: dict[str, float] = {}
        self._t0 = time.perf_counter()

    def setup_step(self, fn):
        """Run the input-making step ``fn`` SETUP_REPS times (it must be
        idempotent); ``setup_s`` gets the median wall. Returns the last
        result."""
        walls = []
        for _ in range(SETUP_REPS):
            t0 = time.perf_counter()
            res = fn()
            walls.append(time.perf_counter() - t0)
        self.setup_s += statistics.median(walls)
        return res

    def mark(self, phase: str) -> None:
        self.phases[phase] = round(time.perf_counter() - self._t0, 3)

    def fail(self, what: str) -> None:
        self.failed += 1
        self.errors.append(what)

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.fail(what)

    def put(self, name: str, value: float, unit: str) -> None:
        self.metrics[name] = (float(value), unit)

    # -------------------------------------------------- traced op frame

    def run_op(self, op_id: str, i: int, fn, shared: bool = True):
        """Run ``fn()`` as op ``op_id``; traced when this is a traced
        run and ``i`` is an A slot. Returns (wall, result, traced)."""
        tr = self.tracer
        traced = tr is not None and traced_op(i)
        if not traced:
            t0 = time.perf_counter()
            res = fn()
            wall = time.perf_counter() - t0
            if tr is not None:
                self.walls["U"].append(wall)
            return wall, res, False
        from product_analytics_spark.sources import delta_log as dl

        before = tree_bytes(self.wh_dir) if self.wh_dir else {}
        snap0 = dl.snapshot_cache_stats()
        mark = self.counter.mark()
        tr.active = True
        try:
            with tr.op(op_id, shared=shared):
                t0 = time.perf_counter()
                res = fn()
                wall = time.perf_counter() - t0
        finally:
            tr.active = False
        for k, v in self.counter.since(mark).items():
            self.layers[k] += v
        snap1 = dl.snapshot_cache_stats()
        for k in ("hits", "misses"):
            self.layers[f"snapshot_{k}"] += snap1[k] - snap0[k]
        if self.wh_dir:
            for p, size in tree_bytes(self.wh_dir).items():
                grown = size - before.get(p, 0)
                if grown <= 0:
                    continue
                self.layers["sinks.bytes_written"] += grown
                if f"{os.sep}_delta_log{os.sep}" in p:
                    self.layers["delta_log.log_bytes"] += grown
                if "deletion_vector_" in p or f"{os.sep}_dv" in p:
                    self.layers["deletion_vectors.dv_bytes"] += grown
        self.layers["op_wall_s"] += wall
        self.walls["T"].append(wall)
        self.traced_ops.append(op_id)
        return wall, res, True


# ======================================================== cdc_pipeline


def cdc_pipeline(run: Run) -> None:
    from pyspark.sql import functions as F

    from product_analytics_spark.models.pipeline import build_registry
    from product_analytics_spark.plans.executor import DagExecutor
    from product_analytics_spark.sources.sinks import SnapshotStore

    spark = run.spark
    # batch 0 feeds the full refresh (which also warms the session up),
    # the next CDC_WARM_RUNS the untimed warm-up incremental runs, the
    # rest the timed incremental runs (four in a traced run)
    timed = 4 if run.tracer is not None else max(1, round(run.seconds / CDC_OP_S))
    first = 1 + CDC_WARM_RUNS
    n_batches = first + timed
    paths = run.setup_step(lambda: gen.land_cdc(
        os.path.join(run.work, "bronze"), run.seed, n_batches, CDC_CUSTOMERS, CDC_ORDERS,
    ))
    t0 = time.perf_counter()
    store = SnapshotStore(spark, os.path.join(run.work, "wh"), delta_log=True)
    run.wh_dir = store.warehouse_dir
    reg = build_registry(CDC_AS_OF, dt.datetime(2025, 6, 30, 12))
    if run.tracer is not None:
        _trace_builders(run, reg)
    ex = DagExecutor(reg, store, threads=3)
    run.setup_s += time.perf_counter() - t0
    run.mark("land")

    def sources(b):
        return {
            "customers_cdc": gen.read_batches(spark, paths["customers_cdc"], gen.CUSTOMERS_SCHEMA, b),
            "orders_cdc": gen.read_batches(spark, paths["orders_cdc"], gen.ORDERS_SCHEMA, b),
        }

    def dag(b, full):
        def go():
            if run.tracer is None:
                return ex.run(sources(b), full_refresh=full)
            with run.tracer.span("plans.run"):
                return ex.run(sources(b), full_refresh=full)
        return go

    def ledger_ok(ledger, what):
        run.attempted += 1
        bad = [e for e in ledger if e["status"] != "success"]
        if bad:
            run.fail(f"{what}: {[(e['model'], e['error']) for e in bad]}")

    t = time.perf_counter()
    _out, ledger = dag(0, True)()
    run.put("full_refresh_s", time.perf_counter() - t, "s")
    ledger_ok(ledger, "full refresh")
    run.mark("full_refresh")
    t = time.perf_counter()
    for b in range(1, first):
        _out, ledger = dag(b, False)()
        ledger_ok(ledger, f"warm-up incremental run {b}")
    run.setup_s += time.perf_counter() - t
    run.mark("warmup")

    for b in range(first, n_batches):
        wall, (_out, ledger), traced = run.run_op(f"inc{b}", b - first, dag(b, False))
        run.op_walls.append(wall)
        ledger_ok(ledger, f"incremental run {b}")
        if traced:
            _layer_ledger(run, ledger, wall)
            # input bytes of the traced batches, for sinks.write_amp
            run.layers["input_bytes"] += sum(_batch_bytes(paths[t], b) for t in paths)
    last = n_batches - 1
    run.mark("window")

    # ---- outside the timed window: input size, output checks, space
    # throughput of each timed run (its batch's CDC rows ÷ its wall), median
    rates = [
        sum(_batch_rows(paths[t], b) for t in paths) / wall
        for b, wall in zip(range(first, n_batches), run.op_walls)
    ]
    run.put("cdc_rows_per_s", median(rates), "rows/s")
    run.put("work_per_s", median(rates), "1/s")

    # one aggregation per table (few Spark actions, so checks stay short)
    out = {m: store.read(m) for m in ("customers_latest", "orders_cleaned", "dim_customer")}
    vocab = {
        "order_status": {"PENDING", "CONFIRMED", "SHIPPED", "DELIVERED", "CANCELLED"},
        "payment_method": {"CREDIT_CARD", "DEBIT_CARD", "PAYPAL", "BANK_TRANSFER", "DIGITAL_WALLET"},
        "region": {"NORTH", "SOUTH", "EAST", "WEST", "CENTRAL"},
    }
    money_bad = (
        (F.col("order_total") < 0) | (F.col("order_total") > 50000)
        | (F.col("shipping_cost") < 0) | (F.col("shipping_cost") > 200)
    )
    rfm_bad = ~F.col("recency_score").between(1, 5) | ~F.col("frequency_score").between(1, 5) \
        | ~F.col("monetary_score").between(1, 5)
    extra = {
        "customers_latest": [],
        # a NULL is outside the vocabulary too (collect_set skips NULLs)
        "orders_cleaned": [F.collect_set(F.coalesce(c, F.lit("<NULL>"))).alias(c) for c in vocab]
        + [F.count_if(money_bad).alias("money_bad")],
        "dim_customer": [F.count_if(rfm_bad).alias("rfm_bad"),
                         F.collect_set("data_quality_score").alias("scores")],
    }
    rows = {}
    for name, key in (("customers_latest", "customer_id"), ("orders_cleaned", "order_id"),
                      ("dim_customer", "customer_id")):
        r = rows[name] = out[name].agg(
            F.count("*").alias("n"), F.countDistinct(key).alias("d"), *extra[name]
        ).first()
        run.check(r["n"] == r["d"] and r["n"] > 0, f"{name}: {r['n']} rows, {r['d']} keys")
    from product_analytics_spark.operators import dedup

    for tbl, name, key in (("customers_cdc", "customers_latest", "customer_id"),
                           ("orders_cdc", "orders_cleaned", "order_id")):
        src = gen.read_batches(spark, paths[tbl], gen.CUSTOMERS_SCHEMA if tbl == "customers_cdc"
                               else gen.ORDERS_SCHEMA, last)
        deleted = dedup.latest_by_key(src, key).filter(F.col("_cdc_operation") == "DELETE").select(key)
        n = out[name].join(deleted, key, "left_semi").count()
        run.check(n == 0, f"{name}: {n} delete survivors")
    oc, dim = rows["orders_cleaned"], rows["dim_customer"]
    for col, allowed in vocab.items():
        seen = set(oc[col])
        run.check(seen <= allowed, f"orders_cleaned.{col} outside vocab: {seen - allowed}")
    run.check(oc["money_bad"] == 0, f"orders_cleaned: {oc['money_bad']} rows out of financial bounds")
    run.check(dim["rfm_bad"] == 0, f"dim_customer: {dim['rfm_bad']} rows with RFM out of range")
    scores = {float(x) for x in dim["scores"]}
    run.check(scores <= {0.0, 0.3, 0.4, 0.6, 0.7, 1.0}, f"dim_customer quality scores {scores}")

    run.put("space_amp", _space_amp(store, list(out)), "ratio")
    run.mark("checks")


def _trace_builders(run: Run, reg) -> None:
    """Re-register each model with its builder wrapped in a span."""
    import dataclasses

    tr = run.tracer
    for m in reg.topo_order():
        def traced(deps, prev, full, _b=m.builder, _n=m.name):
            with tr.span(f"models.build.{_n}"):
                return _b(deps, prev, full)
        reg.register(dataclasses.replace(m, builder=traced))


def _layer_ledger(run: Run, ledger, wall) -> None:
    dur = {e["model"]: e["finished_at"] - e["started_at"] for e in ledger}
    for e in ledger:
        run.layers[f"plans.model_s.{e['model']}"] += dur[e["model"]]
        run.layers["models.rows_built"] += max(0, e["rows_built"])
    # critical path through the ledger: the DAG is a chain of levels
    by_level = defaultdict(float)
    for e in ledger:
        by_level[e["level"]] = max(by_level[e["level"]], dur[e["model"]])
    run.layers["plans.sched_idle_s"] += max(0.0, wall - sum(by_level.values()))
    events = sorted([(e["started_at"], 1) for e in ledger] + [(e["finished_at"], -1) for e in ledger])
    now = peak = 0
    for _t, d in events:
        now += d
        peak = max(peak, now)
    run.layers["plans.max_concurrency_sum"] += peak


def _batch_files(path, b):
    d = os.path.join(path, f"{gen.BATCH_COL}={b}")
    return [os.path.join(d, f) for f in os.listdir(d) if f.endswith(".parquet")]


def _batch_rows(path, b) -> int:
    import pyarrow.parquet as pq

    return sum(pq.ParquetFile(f).metadata.num_rows for f in _batch_files(path, b))


def _batch_bytes(path, b) -> int:
    return sum(os.path.getsize(f) for f in _batch_files(path, b))


def _space_amp(store, names) -> float:
    """Bytes under the table dirs ÷ bytes of the files (and deletion
    vectors) the current snapshot references."""
    from product_analytics_spark.sources import delta_log as dl

    on_disk = referenced = 0
    for name in names:
        tdir = store.path(name)
        on_disk += sum(tree_bytes(tdir).values())
        for p, add in store.delta_snapshot(name).files.items():
            full = dl.resolve_path(tdir, p)
            referenced += add.get("size") or os.path.getsize(full)
            dv = add.get("deletionVector") or {}
            referenced += int(dv.get("sizeInBytes") or 0)
    return on_disk / referenced


# ========================================================== small_dml


def small_dml(run: Run) -> None:
    from pyspark.sql import functions as F

    from product_analytics_spark.sources import delta_log as dl
    from product_analytics_spark.sources.sinks import SnapshotStore

    spark = run.spark
    t0 = time.perf_counter()
    store = SnapshotStore(
        spark, os.path.join(run.work, "wh"), retain_versions=DML_RETAIN,
        delta_log=True, cdf=True,
    )
    run.wh_dir = store.warehouse_dir
    store.overwrite("t", gen.dml_base(spark, run.seed, DML_ROWS))
    tdir = store.path("t")
    ops = gen.dml_ops(run.seed, 400, DML_ROWS, DML_BATCH)

    def apply(op):
        kind = op["kind"]
        if kind == "merge":
            return store.merge_mor("t", spark.createDataFrame(op["rows"], gen.DML_SCHEMA), "k")
        if kind == "delete":
            return store.delete_where_mor("t", f"k >= {op['lo']} AND k < {op['hi']}")
        if kind == "update":
            return store.update_where_mor(
                "t", f"k >= {op['lo']} AND k < {op['hi']} AND grp = {op['grp']}",
                {"amount": f"amount + {op['d']}"},
            )
        return store.compact("t")

    def snapshot_read():
        return store.read("t").agg(F.count("*").alias("n"), F.sum("amount").alias("s")).first()

    def feed():
        v = dl.DeltaLog(tdir).latest_version()
        return dl.table_changes(spark, tdir, max(1, v - DML_FEED_VERSIONS + 1), v).count()

    # warm-up: the first ops of the stream (one of each kind + a feed
    # read), part of setup
    for op in ops[:DML_WARMUP]:
        apply(op)
        snapshot_read()
    feed()
    run.setup_s += time.perf_counter() - t0
    run.mark("warmup")

    reads, feeds = [], []
    i = DML_WARMUP
    n_max = DML_WARMUP + 16 if run.tracer is not None else len(ops)
    t_start = time.perf_counter()
    while i < n_max and (run.tracer is not None or time.perf_counter() - t_start < run.seconds):
        op = ops[i]
        run.attempted += 1
        try:
            wall, _res, traced = run.run_op(f"dml{i}", i - DML_WARMUP, lambda op=op: apply(op))
            run.op_walls.append(wall)
            if traced and op["kind"] != "compact":
                run.layers["affected_rows"] += _affected(op)
            t = time.perf_counter()
            snapshot_read()
            reads.append(time.perf_counter() - t)
            if op["feed"]:
                t = time.perf_counter()
                feed()
                feeds.append(time.perf_counter() - t)
        except Exception as e:  # noqa: BLE001 — a failed commit is counted, the loop goes on
            run.fail(f"op {i} {op['kind']}: {type(e).__name__}: {e}"[:300])
        i += 1
    done = ops[:i]
    run.mark("window")

    run.put("commits_per_s", len(run.op_walls) / sum(run.op_walls), "1/s")
    run.put("work_per_s", len(run.op_walls) / sum(run.op_walls), "1/s")
    run.put("read_p50_s", median(reads), "s")
    run.put("feed_p50_s", median(feeds), "s")

    # ---- outside the timed window: replay check, checksum, space
    base = gen.dml_base(spark, run.seed, DML_ROWS).select("k", "grp", "amount").toPandas()
    state = gen.replay(
        {int(k): (int(g), int(a)) for k, g, a in base.itertuples(index=False, name=None)}, done
    )
    got = snapshot_read()
    want_n, want_s = len(state), sum(a for _g, a in state.values())
    run.check(
        (got["n"], got["s"]) == (want_n, want_s),
        f"small_dml final (count, sum) {(got['n'], got['s'])} != replay {(want_n, want_s)}",
    )
    run.check(bool(dl.DeltaLog(tdir).validate_checksum()), "small_dml checksum invalid")
    run.put("space_amp", _space_amp(store, ["t"]), "ratio")
    run.mark("checks")
    if run.tracer is not None:
        rows = base.shape[0]
        data_bytes = sum(add.get("size", 0) for add in store.delta_snapshot("t").files.values())
        run.layers["input_bytes"] = run.layers["affected_rows"] * data_bytes / max(1, rows)


def _affected(op) -> int:
    """Rows an op changes, as the replay sees them (upper bound for a
    range delete/update: the keys in range)."""
    if op["kind"] == "merge":
        return len(op["rows"])
    return op["hi"] - op["lo"]


# ========================================================= analyst_mix


def analyst_mix(run: Run, clients: int) -> None:
    from product_analytics_spark import cache
    from product_analytics_spark.driver_queries import QUERIES

    spark = run.spark
    sc = spark.sparkContext
    sf_dir = os.path.join(run.work, "sf")
    run.setup_step(lambda: gen.write_analyst_tables(sf_dir, run.seed, ANALYST_SF))
    run.mark("tables")
    t0 = time.perf_counter()

    lock = threading.Lock()

    def serve(keys, body):
        """``clients`` threads, each in its own FAIR pool, pull the
        next key of ``keys`` until none is left (closed loop)."""
        queue = list(reversed(keys))

        def client(ci):
            if run.tracer is None:
                sc.setLocalProperty("spark.scheduler.pool", f"w{ci}")
            else:
                with run.tracer.internal():
                    sc.setLocalProperty("spark.scheduler.pool", f"w{ci}")
            while True:
                with lock:
                    if not queue:
                        return
                    qi, k = len(keys) - len(queue), queue.pop()
                body(qi, k)

        threads = [threading.Thread(target=client, args=(ci,)) for ci in range(clients)]
        for th in threads:
            th.start()
        for th in threads:
            th.join()

    # warm-up: every key once, collecting the results the oracle check
    # compares after the timed window
    results: dict[str, object] = {}
    errors: list[str] = []

    def warm(_qi, k):
        try:
            results[k] = QUERIES[k](spark, sf_dir).toPandas()
        except Exception as e:  # noqa: BLE001 — reported as a failed check
            with lock:
                errors.append(f"{k}: {type(e).__name__}: {e}"[:300])

    # heavy keys first: the pass ends sooner when no heavy key starts last
    serve(ANALYST_HEAVY + ANALYST_MIX, warm)
    cache.clear_all()
    cache.clear_shared()
    run.setup_s += time.perf_counter() - t0
    run.mark("warmup")

    # traced run: one traced round, then one untraced (rounds start
    # from an empty cache, so there is no trend to cancel)
    max_rounds = 2 if run.tracer is not None else max(1, round(run.seconds / ANALYST_ROUND_S))
    orders = gen.round_orders(run.seed, ANALYST_HEAVY, ANALYST_MIX, max_rounds)
    wall_total = 0.0
    for rnd in range(max_rounds):
        # round barrier: release every cached relation, as bench.py's qph does
        cache.clear_all()
        cache.clear_shared()
        run.leaked += release_leaked(spark)
        traced = run.tracer is not None and traced_op(rnd)

        def one(qi, k, rnd=rnd, traced=traced):
            with lock:
                run.attempted += 1
            try:
                w = _query(run, spark, sc, QUERIES[k], sf_dir, f"r{rnd}q{qi}", traced)
                with lock:
                    run.op_walls.append(w)
            except Exception as e:  # noqa: BLE001 — counted, the client goes on
                with lock:
                    run.fail(f"{k}: {type(e).__name__}: {e}"[:300])

        if traced:
            run.tracer.active = True
        tr0 = time.perf_counter()
        serve(orders[rnd], one)
        rwall = time.perf_counter() - tr0
        if run.tracer is not None:
            run.tracer.active = False
            run.walls["T" if traced else "U"].append(rwall)
        wall_total += rwall
    n_ok = len(run.op_walls)
    run.put("queries_per_h", n_ok / wall_total * 3600, "q/h")
    run.put("work_per_s", n_ok / wall_total, "1/s")
    run.put("rounds", max_rounds, "count")
    run.mark("window")

    # ---- outside the timed window: oracle check
    for e in errors:
        run.check(False, f"warm-up {e}")
    _oracle_check(run, sf_dir, results)
    run.mark("checks")


def _query(run, spark, sc, fn, sf_dir, op_id, traced) -> float:
    tr = run.tracer
    if not traced:
        t0 = time.perf_counter()
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0
    with tr.internal():
        sc.setJobGroup(op_id, op_id)
    with tr.op(op_id):
        t0 = time.perf_counter()
        with tr.span("driver_queries.plan"):
            df = fn(spark, sf_dir)
        with tr.span("driver_queries.exec"):
            df.write.format("noop").mode("overwrite").save()
        wall = time.perf_counter() - t0
    with tr.internal():
        sc.setLocalProperty("spark.jobGroup.id", None)
    counts = run.counter.group(op_id)
    with _LAYER_LOCK:
        for k, v in counts.items():
            run.layers[k] += v
        run.layers["op_wall_s"] += wall
        run.traced_ops.append(op_id)
    return wall


_LAYER_LOCK = threading.Lock()


def _oracle_check(run: Run, sf_dir: str, results: dict) -> None:
    """Each key's warm-up result against its DuckDB oracle, with the
    comparator of tools/check.py."""
    import importlib.util

    import duckdb

    from product_analytics_spark.driver_queries import ORACLES

    spec = importlib.util.spec_from_file_location(
        "check", os.path.join(run.root, "tools", "check.py")
    )
    check = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(check)
    con = duckdb.connect()
    try:
        for t in check.TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")

        def matches(k):
            cur = con.cursor()  # one cursor per thread
            try:
                want = cur.execute(ORACLES[k]).df()
            finally:
                cur.close()
            return check._frame_form(results[k]) == check._frame_form(want)

        keys = [k for k in ANALYST_KEYS if k in results]
        # most oracles are single-threaded recursive SQL: run them side by side
        with ThreadPoolExecutor(ORACLE_THREADS) as pool:
            for k, ok in zip(keys, pool.map(matches, keys)):
                run.check(ok, f"{k}: differs from its DuckDB oracle")
    finally:
        con.close()


def release_leaked(spark) -> list[str]:
    """Call after the engine's own ``cache.clear_all()`` /
    ``clear_shared()``: drop Python references, run the JVM collector
    so Spark's context cleaner frees what only unreachable plans held,
    then list the RDDs still persisted — the engine's leaks — and
    unpersist them so the next round starts from an empty cache."""
    import gc

    gc.collect()
    spark.sparkContext._jvm.System.gc()
    time.sleep(0.2)
    left = list(spark.sparkContext._jsc.getPersistentRDDs().values())
    for rdd in left:
        rdd.unpersist(False)
    return [str(r) for r in left]


def persistent_rdds(spark) -> int:
    return int(spark.sparkContext._jsc.getPersistentRDDs().size())

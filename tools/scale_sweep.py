"""sf0.1 → sf1 scale sweep: measure how per-query wall time grows with
a 10× data scale-up (VERDICT r7 item 3 — nothing had been *measured*
above sf0.1).

The sf1 inputs are derived from the driver's own sf0.1 tables by
deterministic replication — correctness stays gated on the driver's
data; this harness exists ONLY to measure scaling ratios:

  * Fact/dim tables: 10 replicas, every key column shifted by
    replica × (domain max + 1); foreign keys shift by their referenced
    domain's base so joins keep exactly the original fan-out per
    replica. Non-key columns are copied, so value distributions,
    skew, and group sizes per key are preserved while group COUNTS
    scale 10×.
  * documents: replica i>0 applies a per-replica affine substitution
    over printable ASCII (every NON-SPACE character shifts by
    i·7919 mod 94 — distinct for 30 replicas since 7919 ⊥ 94;
    whitespace kept so tokenization is unchanged). Replicas share no
    vocabulary AND no character content, so token-level (minhash/
    jaccard) and character-level (chunk-parity fingerprint) near-dup
    workloads both grow linearly in docs. The round-8 scheme (suffix
    every token with ~i) was vocabulary-disjoint but left ~95% of the
    CHARACTER stream identical across replicas — short docs were then
    genuinely near-identical under chunk-parity fingerprints and the
    sweep measured quadratic TRUE-pair growth, i.e. the generator,
    not the engine (diagnosed in round 9: 65k of 66k sf3 pairs were
    same-original cross-replica). Lengths are preserved exactly, so
    n_chars, chunk boundaries, and length-bucket groupings match the
    original distribution.
  * embeddings: replica i>0 adds deterministic uniform noise
    (RandomState(1000+i), ±0.05/dim) so ANN/kNN workloads see 10×
    distinct points with the same cluster geometry (labels kept).
  * region/nation: fixed dimensions, copied as-is.

Timestamps keep their original micros physical type via a plain
pyarrow round-trip.

Round 9 extends the harness to sf3 (30 replicas — VERDICT r8 item 4):
the q183 class of bug (fixed band/bucket/cell capacities ⇒ quadratic
candidate growth) is invisible at small SF *by construction*, so the
families with capacity parameters (MinHash/SimHash/fingerprint
banding, IVF cells, label-propagation rounds, corpus-side bucket
occupancy, kNN cells) get a second, deeper point on the curve.

Usage:
    python tools/scale_sweep.py generate [sf1|sf3]   # build replicas
    python tools/scale_sweep.py run [sf1|sf3]        # time keys
    python tools/scale_sweep.py report               # write SCALE_SWEEP.md
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

SRC = "/root/testdata/sf0.1"
TARGETS = {  # name -> (replica factor, data dir, results file)
    "sf1": (10, os.path.join(ROOT, ".scale_data/sf1"), os.path.join(ROOT, ".scale_sweep.json")),
    "sf3": (
        30,
        os.path.join(ROOT, ".scale_data/sf3"),
        os.path.join(ROOT, ".scale_sweep_sf3.json"),
    ),
}
# sf1 defaults preserved for the existing entry points
FACTOR = 10
DST = TARGETS["sf1"][1]
RESULTS = TARGETS["sf1"][2]

# key column -> key domain (base = domain max + 1, from the domain's
# home table, so FK shifts match their referenced PK shifts)
DOMAIN_HOME = {
    "custkey": ("customer", "c_custkey"),
    "orderkey": ("orders", "o_orderkey"),
    "partkey": ("part", "p_partkey"),
    "suppkey": ("supplier", "s_suppkey"),
    "event_id": ("events", "event_id"),
    "user_id": ("events", "user_id"),
    "doc_id": ("documents", "doc_id"),
    "vec_id": ("embeddings", "vec_id"),
}
TABLE_KEYS = {
    "customer": {"c_custkey": "custkey"},
    "supplier": {"s_suppkey": "suppkey"},
    "part": {"p_partkey": "partkey"},
    "orders": {"o_orderkey": "orderkey", "o_custkey": "custkey"},
    "lineitem": {
        "l_orderkey": "orderkey",
        "l_partkey": "partkey",
        "l_suppkey": "suppkey",
    },
    "events": {"event_id": "event_id", "user_id": "user_id"},
    "documents": {"doc_id": "doc_id"},
    "embeddings": {"vec_id": "vec_id"},
}

# 25 most expensive keys from BENCH r8 (min2 at sf0.1) + the
# LLM-pipeline family the verdict names.
SWEEP_KEYS = [
    "q367", "q130", "q206", "q218", "q332", "q160", "q140", "q126",
    "q221", "q183", "q306", "q414", "q118", "q342", "q105", "q62",
    "q278", "q358", "q143", "q413", "q20", "q88", "q141", "q408",
    "q201",
    # LLM-pipeline family not already above
    "q25", "q27", "q28", "q39", "q51", "q52", "q53", "q54", "q56",
    "q59", "q61", "q64", "q65", "q67", "q68", "q85", "q99", "q107",
    "q115",
    # round-8 storage/scheduler certs (warehouse-write heavy)
    "q415", "q416", "q417",
    # round-10 Delta-protocol lifecycle certs: commit-count-bound by
    # design (the delta-consumer family measured flat-to-2.8x at 30x
    # in round 9); these extend that measurement to the sharded-
    # checkpoint / row-tracking / widening paths
    "q446", "q447", "q448", "q450",
]

#: the fixed-capacity-risk families (VERDICT r8 item 4): banding
#: (q20/q25/q26/q183), IVF cells under replica-correlated embeddings
#: (q27/q28/q39), kNN/mutual-NN/k-means cells (q85/q99/q61),
#: label-propagation rounds (q56), corpus-side bucket occupancy (q88),
#: inverted-index + prefix-filter joins (q115/q173), containment (q146)
SF3_KEYS = [
    "q20", "q25", "q26", "q183", "q27", "q28", "q39",
    "q85", "q99", "q61", "q56", "q88", "q115", "q173", "q146",
]

#: Compute-scaling arm (round-13, VERDICT r12 item 7): the sf0.1
#: bench's heavy keys are driver/floor-bound (the 8-core full suite
#: BEAT the 32-core one in round 12), so a distributed-plan-quality
#: regression would be invisible there. These keys are the
#: compute-heavy families measured ≥1.7x at 10x data in SCALE_SWEEP.md
#: — at sf1 their 8-vs-32-core ratio is a real parallelism signal.
SCALING_KEYS = [
    "q20", "q26", "q88", "q130", "q183", "q243", "q56", "q118",
    "q59", "q115", "q141", "q27", "q68", "q143", "q206",
]


def _bases() -> dict[str, int]:
    out = {}
    for dom, (tbl, col) in DOMAIN_HOME.items():
        t = pq.read_table(os.path.join(SRC, f"{tbl}.parquet"), columns=[col])
        out[dom] = pc.max(t[col]).as_py() + 1
    return out


def _remap_documents(tbl: pa.Table, i: int) -> pa.Table:
    shift = (i * 7919) % 94  # distinct per replica (7919 coprime to 94)
    table = {
        c: chr((c - 33 + shift) % 94 + 33) if 33 <= c <= 126 else chr(c)
        for c in range(128)
    }
    trans = str.maketrans(table)
    texts = tbl["text"].to_pylist()
    new_texts = [t.translate(trans) for t in texts]
    n_chars = [len(t) for t in new_texts]
    cols = {}
    for name in tbl.column_names:
        if name == "text":
            cols[name] = pa.array(new_texts, type=pa.string())
        elif name == "n_chars":
            cols[name] = pa.array(n_chars, type=tbl.schema.field(name).type)
        else:
            cols[name] = tbl[name]
    return pa.table(cols, schema=tbl.schema)


def _perturb_embeddings(tbl: pa.Table, i: int) -> pa.Table:
    col = tbl["embedding"].combine_chunks()
    flat = col.values.to_numpy(zero_copy_only=False).astype(np.float32)
    offsets = col.offsets.to_numpy(zero_copy_only=False)
    rng = np.random.RandomState(1000 + i)
    flat = flat + rng.uniform(-0.05, 0.05, flat.shape).astype(np.float32)
    new = pa.ListArray.from_arrays(
        pa.array(offsets, type=pa.int32()), pa.array(flat, type=pa.float32())
    )
    cols = {
        n: (new if n == "embedding" else tbl[n]) for n in tbl.column_names
    }
    return pa.table(cols, schema=tbl.schema)


def generate(target: str = "sf1") -> None:
    factor, dst, _results = TARGETS[target]
    os.makedirs(dst, exist_ok=True)
    bases = _bases()
    for tbl_name in ("region", "nation"):
        shutil.copyfile(
            os.path.join(SRC, f"{tbl_name}.parquet"),
            os.path.join(dst, f"{tbl_name}.parquet"),
        )
        print(f"{tbl_name}: copied (fixed dimension)")
    for tbl_name, keys in TABLE_KEYS.items():
        t0 = time.time()
        src = pq.read_table(os.path.join(SRC, f"{tbl_name}.parquet"))
        replicas = []
        for i in range(factor):
            rep = src
            if i > 0:
                if tbl_name == "documents":
                    rep = _remap_documents(rep, i)
                elif tbl_name == "embeddings":
                    rep = _perturb_embeddings(rep, i)
                for col, dom in keys.items():
                    shifted = pc.add(
                        rep[col], pa.scalar(i * bases[dom], type=pa.int64())
                    ).cast(rep.schema.field(col).type)
                    rep = rep.set_column(
                        rep.schema.get_field_index(col),
                        rep.schema.field(col),
                        shifted,
                    )
            replicas.append(rep)
        out = pa.concat_tables(replicas)
        pq.write_table(
            out,
            os.path.join(dst, f"{tbl_name}.parquet"),
            row_group_size=256_000,
        )
        print(
            f"{tbl_name}: {src.num_rows} -> {out.num_rows} rows "
            f"({time.time() - t0:.1f}s)"
        )


def _resolve_keys(queries: dict, shorts: list[str] | None = None) -> list[str]:
    out = []
    for short in shorts if shorts is not None else SWEEP_KEYS:
        hits = [k for k in queries if k == short or k.startswith(short + "_")]
        if not hits:
            print(f"WARN: no query key matches {short}")
            continue
        out.extend(hits)
    return out


def run(target: str = "sf1", shorts: list[str] | None = None) -> None:
    from product_analytics_spark import cache
    from product_analytics_spark.session import get_spark

    # after the package: __spark_entry__ puts its own path first
    import __spark_entry__ as entry_mod

    _factor, dst, results_path = TARGETS[target]
    spark = get_spark("scale_sweep")
    queries = entry_mod.queries()
    keys = _resolve_keys(
        queries,
        shorts
        if shorts
        else (SF3_KEYS if target == "sf3" else SWEEP_KEYS),
    )
    results: dict[str, dict[str, float]] = {}
    for sf_name, sf_dir in (("sf0.1", SRC), (target, dst)):
        # warm the JVM/session so the first key doesn't absorb startup
        queries[keys[0]](spark, sf_dir).count()
        cache.clear_all()
        cache.clear_shared()
        for k in keys:
            t0 = time.time()
            try:
                n = queries[k](spark, sf_dir).count()
                dt = time.time() - t0
                results.setdefault(k, {})[sf_name] = round(dt, 2)
                print(f"{sf_name} {k}: {dt:.1f}s ({n} rows)", flush=True)
            except Exception as e:  # noqa: BLE001
                results.setdefault(k, {})[sf_name] = -1.0
                print(f"{sf_name} {k}: FAILED {e}", flush=True)
            finally:
                cache.clear_all()
        cache.clear_shared()
    if os.path.isfile(results_path):
        # merge: keep prior keys' measurements, overwrite re-run ones
        with open(results_path, encoding="utf-8") as fh:
            prior = json.load(fh)
        prior.update(results)
        results = prior
    with open(results_path, "w", encoding="utf-8") as fh:
        json.dump(results, fh, indent=1, sort_keys=True)
    print(f"wrote {results_path}")


def scaling(target: str = "sf1", shorts: list[str] | None = None) -> None:
    """Compute-scaling arm (round-13, VERDICT r12 item 7): time the
    SCALING_KEYS at ``target`` scale through the noop sink on
    local[$SPARK_GRAFT_CPUS], min-of-2, and merge the result into
    SCALING_r13.json at the repo root under ``c<cpus>``. Run twice —
    SPARK_GRAFT_CPUS=32 then =8 (sequential processes, never
    concurrent) — and the second run records per-key c8/c32 ratios:
    ratios ≈2-4 mean the key genuinely parallelizes and a future
    plan-quality regression WILL show up here, unlike in the
    floor-bound sf0.1 totals."""
    from product_analytics_spark import cache
    from product_analytics_spark.session import get_spark

    # after the package: __spark_entry__ puts its own path first
    import __spark_entry__ as entry_mod

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    _factor, dst, _ = TARGETS[target]
    out_path = os.path.join(ROOT, "SCALING_r13.json")
    spark = get_spark("scale_scaling")
    queries = entry_mod.queries()
    keys = _resolve_keys(queries, shorts or SCALING_KEYS)
    # warm: scan/shuffle/codegen, so key 1 isn't charged JVM start
    queries[keys[0]](spark, dst).write.format("noop").mode(
        "overwrite"
    ).save()
    cache.clear_all()
    cache.clear_shared()
    res: dict[str, float] = {}
    for k in keys:
        samples = []
        for _ in range(2):
            t0 = time.time()
            queries[k](spark, dst).write.format("noop").mode(
                "overwrite"
            ).save()
            samples.append(time.time() - t0)
            cache.clear_all()
            cache.clear_shared()
        res[k] = round(min(samples), 2)
        print(f"c{cpus} {k}: {res[k]}s", flush=True)
    data: dict = {}
    if os.path.isfile(out_path):
        with open(out_path, encoding="utf-8") as fh:
            data = json.load(fh)
    per = data.setdefault("keys", {})
    for k, s in res.items():
        per.setdefault(k, {})[f"c{cpus}"] = s
        c32, c8 = per[k].get("c32"), per[k].get("c8")
        if c32 and c8:
            per[k]["ratio_c8_over_c32"] = round(c8 / c32, 2)
    data["sf"] = target
    data["stat"] = "min2, noop sink"
    data["note"] = (
        "compute-scaling arm: per-key wall at local[32] vs local[8] "
        "on the replicated sf1 inputs (tools/scale_sweep.py scaling)"
    )
    with open(out_path, "w", encoding="utf-8") as fh:
        json.dump(data, fh, indent=1, sort_keys=True)
    print(f"wrote {out_path}")


def _table(results: dict, tgt: str, factor: int) -> list[str]:
    rows = []
    for k, r in sorted(results.items()):
        t01, t1 = r.get("sf0.1", -1), r.get(tgt, -1)
        ratio = round(t1 / t01, 1) if t01 and t01 > 0 and t1 > 0 else None
        rows.append((k, t01, t1, ratio))
    rows.sort(key=lambda x: -(x[3] or 99))
    lines = [
        f"| key | sf0.1 s | {tgt} s | ratio (ideal ≤{factor}×) |",
        "|---|---|---|---|",
    ]
    for k, t01, t1, ratio in rows:
        flag = " ⚠" if (ratio or 0) > factor * 1.2 else ""
        lines.append(f"| {k} | {t01} | {t1} | {ratio}{flag} |")
    return lines


def report() -> None:
    with open(RESULTS, encoding="utf-8") as fh:
        sf1 = json.load(fh)
    lines = [
        "# SCALE_SWEEP — measured scaling ratios (sf0.1 → sf1 → sf3)",
        "",
        "Inputs are derived from the driver's sf0.1 tables by",
        "deterministic replication (`tools/scale_sweep.py` module",
        "docstring: key-shift joins, per-replica printable-ASCII",
        "substitution for documents, perturbed embeddings). Ideal",
        "scaling for a linear operator on local[32] is ≤ the replica",
        "factor; well below it means fixed overhead still dominates;",
        "anything clearly above is flagged super-linear and needs a",
        "fix or an explanation.",
        "",
        "## sf0.1 → sf1 (10× rows, broad 47-key sweep)",
        "",
    ]
    lines += _table(sf1, "sf1", 10)
    sf3_path = TARGETS["sf3"][2]
    if os.path.isfile(sf3_path):
        with open(sf3_path, encoding="utf-8") as fh:
            sf3 = json.load(fh)
        lines += [
            "",
            "## sf0.1 → sf3 (30× rows, fixed-capacity-risk families)",
            "",
            "VERDICT r8 item 4: the q183 class of bug (fixed band/",
            "bucket/cell capacities ⇒ quadratic candidate growth) is",
            "invisible at small SF by construction, so the families",
            "with capacity parameters get a deeper point on the curve:",
            "banding (q20/q25/q26/q183), IVF cells under 30",
            "perturbed-replica embeddings (q27/q28/q39), kNN/mutual-NN/",
            "k-means cells (q85/q99/q61), label-propagation rounds",
            "(q56), corpus-side bucket occupancy (q88), inverted index +",
            "prefix-filter join (q115/q173), containment (q146).",
            "",
        ]
        lines += _table(sf3, "sf3", 30)
    lines += [
        "",
        "## Findings (round 9)",
        "",
        "* **All 15 sf3 ratios are sublinear** (max 11.5× for 30×",
        "  data, q183 — dominated by its 60 md5 chunk hashes per doc,",
        "  linear work). No capacity parameter saturated after the two",
        "  fixes below.",
        "* **q183's 36-bit fingerprint WIDTH saturated at 150k docs**",
        "  (the round-9 capacity catch, same class as round 8's 5-bit",
        "  bands): random 36-bit fingerprints fall within hamming ≤5",
        "  with p≈6.4e-6, so the 1.1e10 cross-doc pairs at sf3 yielded",
        "  ~100k FALSE near-dups — quadratic in corpus size, and 96 of",
        "  the 104 sf0.1 'pairs' were already this noise. Fixed in",
        "  ext12: 60-bit fingerprints, 4×15-bit bands, ball-1 probing",
        "  (threshold 7 by the same pigeonhole recall guarantee);",
        "  false-pair expectation ~4 at 150k docs; re-widen near ~10M",
        "  docs (the width grows with log N — now documented at the",
        "  constants). A sentinel summary row keeps the cert",
        "  value-bearing at SFs whose corpus has no true near-dups.",
        "* **The round-8 replica transform manufactured TRUE near-dups**",
        "  (generator bug, caught by diagnosing the residual q183",
        "  pairs): suffixing every token with ~i is vocabulary-disjoint",
        "  but leaves ~95% of the CHARACTER stream identical, so short",
        "  same-origin docs across replicas were genuinely",
        "  near-identical under chunk parity (65k of 66k sf3 pairs).",
        "  The transform is now a per-replica affine substitution over",
        "  printable ASCII — disjoint at token AND character level,",
        "  lengths preserved exactly. Post-fix: q183 output 859 pairs",
        "  (≈30× the per-corpus count), q25 cross-replica pairs = 6.",
        "* q25's larger-than-30× OUTPUT (2.75M pairs) is per-replica",
        "  hash-realization variance at its hamming-8/60 threshold —",
        "  each substituted replica draws its own near-threshold tail;",
        "  cross-replica pairs are 6, so growth is linear in replicas",
        "  and wall time scaled 3.9× for 30× data.",
        "* q173 (9.3×) and q115 (8.2×) are pure output/shuffle volume",
        "  (5.7M pairs; full posting lists) — linear work, no capacity",
        "  parameter involved.",
        "* History: round 8's first sweep caught q183's 5-bit bands at",
        "  121× (fixed to 12-bit bands); the sf1 table above is the",
        "  round-9 re-run with the substitution generator and the",
        "  60-bit fingerprint.",
        "* Ratios were measured in one warm session per target, sf0.1",
        "  first, caches cleared between queries.",
        "* **Round-9 second push — the delta-consumer family is FLAT",
        "  at 10× data** (q430 1.1×, q434 1.2×, q437 0.7×, q438 1.0×,",
        "  q441 1.2×, q442 0.9×): these lifecycles are dominated by",
        "  per-commit/per-trigger metadata cost, not row volume — the",
        "  MoR DML writes O(matched rows) + DV bytes, the change feed",
        "  writes/reads O(changed rows), the stream plans from the log",
        "  tail, and constraint checks fuse into the write's existing",
        "  scan. That flatness is the design claim of the round (at",
        "  100 TB, metadata is the bottleneck) showing up as a",
        "  measurement.",
        "* **…and still ≤ 2.8× at 30× data** (sf3 table: q437 0.5×,",
        "  q434 0.8×, q438 0.8×, q430 1.1×, q444 1.3×, q441/q442 1.7×,",
        "  q443 2.8×) — the q443 tail is the cert's own",
        "  verification collect (surrogate-key maps over 30× rows),",
        "  not the allocator (JVM-side, zero shuffles). No capacity",
        "  parameter anywhere in the family: commits, change files,",
        "  DV bitmaps, and stream offsets all grow with CHANGED rows,",
        "  never table size.",
        "",
        "## Findings (round 10)",
        "",
        "* **The round-10 protocol certs are FLAT at 10× data**",
        "  (q446 sharded checkpoints 1.0×, q447 row tracking 0.8×,",
        "  q448 CDF×rename 0.7×, q450 type widening 0.7×, q451 liquid",
        "  clustering 0.8×; q452/q453 arrow doors 0.3–0.5× —",
        "  sub-1 ratios are first-run warmup absorbed by the sf0.1",
        "  pass): like the delta-consumer family, cost is",
        "  commit-count × job latency plus O(changed/new rows).",
        "  Specifically: v2 checkpoint cost is O(live FILES) sharded +",
        "  O(changed buckets) incremental, never O(rows); row-id",
        "  allocation is a log-side counter (zero data I/O); widening",
        "  and clustering declarations are single metadata commits;",
        "  the rename path rewrites zero files by construction.",
    ]
    with open(os.path.join(ROOT, "SCALE_SWEEP.md"), "w", encoding="utf-8") as fh:
        fh.write("\n".join(lines) + "\n")
    print("wrote SCALE_SWEEP.md")


if __name__ == "__main__":
    cmd = sys.argv[1] if len(sys.argv) > 1 else "run"
    if cmd == "report":
        report()
    elif cmd == "generate":
        generate(sys.argv[2] if len(sys.argv) > 2 else "sf1")
    elif cmd == "scaling":
        scaling(
            sys.argv[2] if len(sys.argv) > 2 else "sf1",
            sys.argv[3:] or None,
        )
    else:
        target = sys.argv[2] if len(sys.argv) > 2 else "sf1"
        # optional explicit key list after the target: merge the new
        # measurements into the existing results file
        run(target, sys.argv[3:] or None)

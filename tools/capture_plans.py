"""Capture .explain("formatted") for driver queries into plans/r13/.

Usage:
    python tools/capture_plans.py <suffix> [sf_dir] key [key ...]

Writes plans/r13/<key>_<suffix>.txt for each key (suffix = "before" or
"after"). Cert queries run their full lifecycle while building the
returned DataFrame — the captured plan is the plan of the RETURNED
relation, which is what the bench's noop sink executes.
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

OUT = os.path.join(ROOT, "plans", "r13")


def main() -> None:
    suffix = sys.argv[1]
    args = sys.argv[2:]
    sf_dir = "/root/testdata/sf0.1"
    if args and os.path.isdir(args[0]):
        sf_dir = args.pop(0)
    os.makedirs(OUT, exist_ok=True)

    from product_analytics_spark import cache
    from product_analytics_spark.driver_queries import QUERIES
    from product_analytics_spark.session import get_spark

    spark = get_spark("plans")
    for key in args:
        df = QUERIES[key](spark, sf_dir)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        path = os.path.join(OUT, f"{key}_{suffix}.txt")
        with open(path, "w", encoding="utf-8") as fh:
            fh.write(buf.getvalue())
        cache.clear_all()
        print("wrote", path, flush=True)


if __name__ == "__main__":
    main()

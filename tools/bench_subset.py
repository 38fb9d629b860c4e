"""Fresh-process subset bench: ``bench.run_bench`` (warm-up read,
clearCache per run, noop sink, best-of-N total/exec, release_cached)
over just the named queries — for fast optimization A/Bs whose
numbers are comparable to the full bench.

Usage: python tools/bench_subset.py [--sf DIR] [--runs N] q1 q2 ...
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="+")
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument(
        "--conf", action="append", default=[],
        help="extra k=v session conf overrides (A/B probes)",
    )
    args = ap.parse_args()

    from bench import run_bench
    from etl_processing_scd1_spark.session import get_spark

    extra = dict(kv.split("=", 1) for kv in args.conf)
    spark = get_spark("bench-subset", extra_conf=extra or None)
    spark.sparkContext.setLogLevel("ERROR")
    out = run_bench(spark, args.sf, args.runs, args.names)
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())

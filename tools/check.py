"""Local correctness harness: run each registered query on Spark and
its oracle on DuckDB over the same parquet, compare row count, sorted
column names, and an order-insensitive canonical value hash —
approximating the driver's CORRECTNESS gate for fast iteration.

Usage: python tools/check.py [query ...] [--match REGEX] [--sf DIR]

``--match`` adds every registry name the regular expression matches
(``re.search``) to the explicit names; with neither, every query runs.
"""

from __future__ import annotations

import argparse
import datetime as dt
import decimal
import hashlib
import math
import os
import re
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def canon(v) -> str:
    if v is None:
        return "␀"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return repr(v)
    if isinstance(v, decimal.Decimal):
        return str(v)
    if isinstance(v, dt.datetime):
        return v.strftime("%Y-%m-%d %H:%M:%S.%f")
    if isinstance(v, dt.date):
        return v.strftime("%Y-%m-%d")
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def frame_digest(cols: list[str], rows: list[tuple]) -> str:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("\x1f".join(canon(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode("utf-8", "surrogatepass"))
        h.update(b"\x1e")
    return h.hexdigest()[:16]


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="*")
    ap.add_argument(
        "--match", metavar="REGEX",
        help="also run every registry query whose name matches REGEX",
    )
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument(
        "--bare",
        action="store_true",
        help="run on a PLAIN SparkSession (no ENGINE_CONF) — the "
        "driver's exact environment; any query that only passes "
        "under session.py defaults is a driver-contract bug",
    )
    args = ap.parse_args()
    # Spark's Python workers unpickle the DataSource classes by module
    # name, so they need the package importable too: they inherit
    # PYTHONPATH from this process, set before the session starts.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )

    import duckdb

    from etl_processing_scd1_spark import registry
    from etl_processing_scd1_spark.session import get_spark

    # Check BOTH tiers: the driver-visible primary 50 and the extras —
    # extras are held to the same oracle bar locally.
    QUERIES = {**registry.QUERIES, **registry.EXTRA_QUERIES}
    ORACLES = {**registry.ORACLES, **registry.EXTRA_ORACLES}

    if args.bare:
        # The driver's environment: a stock builder, nothing from
        # ENGINE_CONF (no AQE/Arrow/pushdown/timeZone overrides). The
        # round-9 regression — pushFilters hard-failing without
        # spark.sql.python.filterPushdown.enabled — only reproduces
        # here, never under get_spark().
        from pyspark.sql import SparkSession

        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"
        spark = (
            SparkSession.builder.appName("check-bare").master(master)
            .getOrCreate()
        )
    else:
        spark = get_spark("check")
    con = duckdb.connect()
    for t in TABLES:
        # driver-generated SFs are single parquet FILES; synthesized
        # SFs (tools/make_sf1.py) are Spark-written DIRECTORIES —
        # glob the parts in that case
        path = f"{args.sf}/{t}.parquet"
        if os.path.isdir(path):
            path = f"{path}/*.parquet"
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")

    names = list(args.names)
    if args.match:
        names += [
            n for n in QUERIES if re.search(args.match, n) and n not in names
        ]
    elif not names:
        names = list(QUERIES)
    failures = 0
    for name in names:
        if name not in QUERIES:
            print(f"  {name}: UNKNOWN QUERY")
            failures += 1
            continue
        t0 = time.time()
        try:
            sdf = QUERIES[name](spark, args.sf)
            s_rows = [tuple(r) for r in sdf.collect()]
            s_cols = sdf.columns
            # release operator-attached persists (dedup/similarity
            # pipelines) so a 117-query session doesn't accumulate them
            from etl_processing_scd1_spark.operators.dedup import release_cached

            release_cached(sdf)
        except Exception as e:
            print(f"  {name}: SPARK ERROR {type(e).__name__}: {str(e)[:500]}")
            failures += 1
            continue
        # Type lint: the driver's canonicalization diverges from ours on
        # DECIMAL (Spark or DuckDB) and DuckDB HUGEINT (SUM over BIGINT)
        # outputs — round-1 evidence: exactly those queries hash-failed
        # at the driver while passing here. Round-4 evidence extended the
        # family: the driver canonicalizes through pandas, so list-typed
        # columns (array/map/struct) break sort_values (unhashable) and
        # timestamps outside datetime64[ns] range (1677-09-21..2262-04-11,
        # e.g. a 9999-12-31 open-end sentinel) raise OutOfBoundsDatetime.
        # Ban all of them from final schemas.
        lint = [
            f"spark col {fld.name} is {fld.dataType.simpleString()}"
            for fld in sdf.schema.fields
            if fld.dataType.typeName() in ("decimal", "array", "map", "struct")
        ]
        _ns_lo, _ns_hi = dt.datetime(1678, 1, 1), dt.datetime(2262, 4, 11)
        for i, col in enumerate(s_cols):
            bad = next(
                (
                    v
                    for r in s_rows
                    for v in (r[i],)
                    if isinstance(v, dt.datetime) and not (_ns_lo <= v <= _ns_hi)
                ),
                None,
            )
            if bad is not None:
                lint.append(
                    f"spark col {col} has out-of-datetime64[ns]-range value {bad}"
                )
        if name not in ORACLES:
            status = "rows-only" if not lint else "rows-only; TYPELINT " + "; ".join(lint)
            print(f"  {name}: rows={len(s_rows)} ({status}) [{time.time()-t0:.1f}s]")
            failures += 1 if lint else 0
            continue
        try:
            rel = con.sql(ORACLES[name])
            d_cols = list(rel.columns)
            d_types = [str(t).upper() for t in rel.types]
            d_rows = rel.fetchall()
        except Exception as e:
            print(f"  {name}: ORACLE ERROR {type(e).__name__}: {str(e)[:500]}")
            failures += 1
            continue
        lint += [
            f"duck col {c} is {t}"
            for c, t in zip(d_cols, d_types)
            if t == "HUGEINT"
            or t.startswith("DECIMAL")
            or "[]" in t
            or t.startswith(("STRUCT", "MAP", "LIST"))
        ]

        problems = list(lint)
        if len(s_rows) != len(d_rows):
            problems.append(f"rowcount spark={len(s_rows)} duck={len(d_rows)}")
        if sorted(s_cols) != sorted(d_cols):
            problems.append(f"cols spark={sorted(s_cols)} duck={sorted(d_cols)}")
        if not problems:
            hs, hd = frame_digest(s_cols, s_rows), frame_digest(d_cols, d_rows)
            if hs != hd:
                problems.append(f"hash spark={hs} duck={hd}")
                order_s = sorted(range(len(s_cols)), key=lambda i: s_cols[i])
                order_d = sorted(range(len(d_cols)), key=lambda i: d_cols[i])
                ls = sorted("\x1f".join(canon(r[i]) for i in order_s) for r in s_rows)
                ld = sorted("\x1f".join(canon(r[i]) for i in order_d) for r in d_rows)
                for a, b in zip(ls, ld):
                    if a != b:
                        problems.append(f"  first diff:\n   spark: {a[:300]}\n   duck : {b[:300]}")
                        break
        status = "OK" if not problems else "FAIL " + "; ".join(problems)
        print(f"  {name}: {status} rows={len(s_rows)} [{time.time()-t0:.1f}s]")
        if problems:
            failures += 1

    print(f"\n{len(names) - failures}/{len(names)} passed")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())

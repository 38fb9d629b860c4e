"""The repository benchmark: one closed-loop client driving the engine.

    python3 perfbench/run.py --workload nightly_small --seed 1 --seconds 20 --trace 0

Run from the repository root. One process, one client: each operation
(a ``run_day`` or a registry query) is sent after the previous one
returns, on ``local[<cores>]``. Inputs are generated from ``--seed``
under ``.bench_work/`` and removed afterwards. Human-readable lines go
to stderr; the last line of stdout is one JSON object
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0``
the metrics are the end-to-end ones; with ``--trace 1`` the per-layer
ones, from spans recorded by ``tracer.py``. See README.md.
"""

from __future__ import annotations

import argparse
import contextlib
import datetime as dt
import json
import math
import os
import resource
import shutil
import statistics
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG_DIR = os.path.join(ROOT, "etl_processing_scd1_spark")

WORKLOADS = ("nightly_small", "query_mix")
#: seconds of ``--seconds`` per timed ``nightly_small`` day (about its cost)
NOMINAL_DAY_S = 10.0
#: seconds of ``--seconds`` per timed ``query_mix`` round (about its cost)
NOMINAL_ROUND_S = 30.0
MIX_SF = 0.003
QUERY_MIX = [
    "scd1_merge_full", "fact_append_dedup", "velocity_fraud_rule",
    "fraud_blacklist_semi", "star_join_chain", "golden_record",
    "near_dedup_minhash", "embedding_near_dup", "similarity_ivfpq",
    "winnow_dedup_pairs", "dbscan_clusters", "kcore_decomposition",
    "delta_merge_scd1", "iceberg_upsert_scan", "analytic_regional_revenue",
]

END_TO_END = {
    "setup_s": "s",
    "total_s": "s",
    "geomean_s": "s",
}
#: per-workload names of the end-to-end metrics, printed on stderr too
ALIASES = {
    "nightly_small": {"total_s": "replay_s"},
    "query_mix": {"total_s": "query_s", "geomean_s": "query_geomean_s"},
}
#: wrapped span name -> per-layer self-time metric
LAYER_TIMES = {
    "pipeline.run_day": "pipeline.run_day.self_s",
    "readers.scan_drop_dir": "readers.scan_drop_dir_s",
    "readers.read_transactions_csv": "readers.read_transactions_csv_s",
    "readers.read_xlsx": "readers.read_xlsx_s",
    "readers.read_blacklist_excel": "readers.read_blacklist_excel_s",
    "readers.archive_file": "readers.archive_file_s",
    "scd1.merge": "scd1.merge_s",
    "scd1.counts": "scd1.counts_s",
    "facts.append_dedup": "facts.append_dedup_s",
    "meta.watermark_of": "meta.watermark_of_s",
    "meta.upsert_watermark": "meta.upsert_watermark_s",
    "fraud.fraud_type1": "fraud.build_s",
    "fraud.fraud_type2": "fraud.build_s",
    "fraud.fraud_type3": "fraud.build_s",
    "storage.read": "storage.read_s",
    "storage.stage": "storage.stage_s",
    "storage.stage_append": "storage.stage_append_s",
    "storage.staged_view": "storage.staged_view_s",
    "storage.publish": "storage.publish_s",
}
PER_LAYER = {
    **{m: "s" for m in dict.fromkeys(LAYER_TIMES.values())},
    "scd1.changed_ratio": "ratio",
    "facts.new_ratio": "ratio",
    "fraud.events": "count",
    "storage.bytes_written": "bytes",
    "storage.live_files": "count",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.executor_run_s": "s",
    "spark.shuffle_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.task_skew": "ratio",
    "py4j.calls": "count",
    "canary.duckdb_s": "s",
    "trace.total_s": "s",
    "peak_rss_mb": "MB",
    "stored_bytes_per_input_byte": "ratio",
    **{
        f"q.{q}.{m}": u
        for q in QUERY_MIX
        for m, u in (
            ("build_s", "s"), ("exec_s", "s"), ("build_jobs", "count"),
            ("py4j_calls", "count"), ("shuffle_bytes", "bytes"),
        )
    },
}


def du(path: str, pred=lambda name: True) -> tuple[int, int]:
    """(bytes, files) under ``path`` whose file name satisfies ``pred``."""
    size = files = 0
    for dirpath, _dirs, names in os.walk(path):
        for n in names:
            if pred(n):
                size += os.path.getsize(os.path.join(dirpath, n))
                files += 1
    return size, files


def geomean(xs: list[float]) -> float:
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


class Bench:
    """One benchmark run: set-up, timed window, checks, metrics."""

    def __init__(self, workload: str, seed: int, seconds: int, trace: bool, work: str):
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.work = work
        self.spark = None
        self.tracer = None
        self.attempted = 0
        self.failed = 0
        self.ops: list[float] = []
        self.passes = 1
        self.q_times: dict[str, list[tuple[float, float]]] = {}

    # -- session -------------------------------------------------------------

    def start_spark(self):
        from etl_processing_scd1_spark.session import get_spark

        tmp = os.path.join(self.work, "tmp")
        java_opts = (
            f"-Djava.io.tmpdir={tmp} -Dderby.system.home={self.work}/derby "
            "-XX:-UsePerfData"
        )
        self.spark = get_spark(
            "perfbench",
            extra_conf={
                "spark.local.dir": os.path.join(self.work, "spark-local"),
                "spark.sql.warehouse.dir": os.path.join(self.work, "spark-warehouse"),
                "spark.driver.extraJavaOptions": java_opts,
                "spark.ui.port": "0",
                "spark.ui.showConsoleProgress": "false",
                "spark.ui.retainedJobs": "100000",
                "spark.ui.retainedStages": "100000",
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")

    def close(self) -> None:
        """Stop Spark and wait for the JVM (and its Python workers)."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        self.spark.stop()
        self.spark = None
        if gateway is None:
            return
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None

    def peak_rss_mb(self) -> float:
        py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
        pid = self.spark._jvm.java.lang.ProcessHandle.current().pid()
        jvm_kb = 0
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    jvm_kb = int(line.split()[1])
        return (py_kb + jvm_kb) / 1024.0

    def span(self, name: str):
        return self.tracer.span(name) if self.tracer else contextlib.nullcontext()

    # -- run -------------------------------------------------------------------

    def run(self) -> dict:
        t0 = time.perf_counter()
        os.makedirs(os.path.join(self.work, "tmp"), exist_ok=True)
        os.environ["TMPDIR"] = os.path.join(self.work, "tmp")
        tempfile.tempdir = None
        os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
        os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
        os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
        setup = getattr(self, f"setup_{self.workload}")
        timed = getattr(self, f"timed_{self.workload}")
        check = getattr(self, f"check_{self.workload}")

        setup()
        if self.trace:
            from tracer import Tracer

            self.tracer = Tracer(self.spark)
            self.tracer.install()
        setup_s = time.perf_counter() - t0
        log(f"[{self.workload}] set-up {setup_s:.3f} s")

        timed()
        if self.tracer:
            self.tracer.uninstall()
        peak = self.peak_rss_mb()
        t_check = time.perf_counter()
        correct = check()
        log(f"[{self.workload}] checks {time.perf_counter() - t_check:.3f} s")
        if not self.ops:
            raise RuntimeError("no operation completed")
        total = sum(self.ops)
        e2e = {"setup_s": setup_s, "total_s": total, "geomean_s": geomean(self.ops)}
        stored = self.stored_ratio()
        shown = {n: (v, END_TO_END[n]) for n, v in e2e.items()}
        shown.update({alias: shown[n] for n, alias in ALIASES[self.workload].items()})
        if self.workload == "nightly_small":
            shown["day_s"] = (statistics.median(self.ops), "s")
        shown["error_rate"] = (self.failed / max(1, self.attempted), "ratio")
        shown["stored_bytes_per_input_byte"] = (stored, "ratio")
        shown["peak_rss_mb"] = (peak, "MB")
        for name, (value, unit) in shown.items():
            log(f"[{self.workload}] {name} = {value:.6g} {unit}")
        if self.trace:
            values = self.layer_metrics()
            values["trace.total_s"] = total
            values["canary.duckdb_s"] = canary_duckdb_s()
            values["peak_rss_mb"] = peak
            values["stored_bytes_per_input_byte"] = stored
            spans = os.path.join(os.path.dirname(self.work), f"spans-{self.workload}-{self.seed}.jsonl")
            self.tracer.dump(spans)
            log(f"[{self.workload}] spans written to {spans}")
            metrics = {n: {"value": values.get(n, 0), "unit": u} for n, u in PER_LAYER.items()}
        else:
            metrics = {n: {"value": e2e[n], "unit": u} for n, u in END_TO_END.items()}
        return {
            "correct": bool(correct) and self.failed == 0,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": metrics,
        }

    # -- nightly_small -------------------------------------------------------

    def setup_nightly_small(self) -> None:
        from nightly_gen import NightlyData, NightlyScale

        days = max(2, round(self.seconds / NOMINAL_DAY_S))
        self.gen = NightlyData(
            os.path.join(self.work, "nightly"),
            self.seed,
            NightlyScale(days=days, tx_per_day=100, terminals=50, clients=50),
        )
        t = time.perf_counter()
        self.gen.write()
        log(f"[nightly_small] inputs {time.perf_counter() - t:.3f} s")
        t = time.perf_counter()
        self.start_spark()
        log(f"[nightly_small] spark {time.perf_counter() - t:.3f} s")
        from etl_processing_scd1_spark.storage import Warehouse

        self.wh = Warehouse(self.spark, os.path.join(self.work, "warehouse"))
        self.reports: list = []
        self.day_meta: list[dict] = []
        # day 0 is the bootstrap load: set-up, but still checked
        t = time.perf_counter()
        self.reports.append(self.run_day(0))
        log(f"[nightly_small] bootstrap {time.perf_counter() - t:.3f} s")

    def run_day(self, idx: int, timings: list[float] | None = None):
        """``run_day`` on day ``idx``'s files and bank frames; only the
        call itself is timed (into ``timings``)."""
        from etl_processing_scd1_spark import pipeline
        from nightly_gen import day_of

        day = day_of(idx)
        bank = {
            n: self.spark.read.parquet(os.path.join(self.gen.bank_path(idx), f"{n}.parquet"))
            for n in ("clients", "accounts", "cards")
        }
        t = time.perf_counter()
        report = pipeline.run_day(
            self.spark, self.wh, drop_dir=self.gen.drop_dir,
            archive_dir=self.gen.archive_dir, bank_sources=bank,
            run_ts=dt.datetime.combine(day, dt.time(23, 55)), day=day,
        )
        if timings is not None:
            timings.append(time.perf_counter() - t)
        return report

    def timed_nightly_small(self) -> None:
        self.passes = self.gen.scale.days
        for idx in range(1, self.gen.scale.days + 1):
            self.attempted += 1
            start_wall = time.time()
            try:
                report = self.run_day(idx, self.ops)
            except Exception:
                traceback.print_exc()
                self.failed += 1
                break
            self.reports.append(report)
            if self.tracer:
                parquet = lambda n: n.endswith(".parquet")  # noqa: E731
                fresh = sum(
                    os.path.getsize(os.path.join(dp, n))
                    for dp, _d, ns in os.walk(self.wh.root)
                    for n in ns
                    if parquet(n) and os.path.getmtime(os.path.join(dp, n)) >= start_wall - 1
                )
                self.day_meta.append(
                    {"bytes_written": fresh, "live_files": du(self.wh.root, parquet)[1]}
                )
            log(f"[nightly_small] day {idx}: {self.ops[-1]:.3f} s")

    def check_nightly_small(self) -> bool:
        ok = self.check_reports()
        n_tx = sum(r.fact_appended.get("transactions", 0) for r in self.reports)
        n_events = sum(sum(r.fraud_events.values()) for r in self.reports)
        if self.wh.read("transactions").count() != n_tx:
            log("[nightly_small] transactions table row count WRONG")
            ok = False
        if self.wh.read("rep_fraud").count() != n_events:
            log("[nightly_small] rep_fraud row count WRONG")
            ok = False
        return ok

    def check_reports(self) -> bool:
        """Each day's ``RunReport`` against the generator's exact
        expectation; a wrong timed day counts as a failed operation."""
        ok = True
        for idx, report in enumerate(self.reports):
            want = self.gen.expected(idx)
            got = {
                "dim_counts": report.dim_counts,
                "fact_appended": report.fact_appended,
                "fraud_events": report.fraud_events,
            }
            if got != want:
                log(f"[nightly_small] day {idx} WRONG\n  got  {got}\n  want {want}")
                ok = False
                if idx > 0:
                    self.failed += 1
        return ok

    # -- query_mix ---------------------------------------------------------------

    def setup_query_mix(self) -> None:
        import mixdata

        self.data_dir = os.path.join(self.work, "mix")
        mixdata.generate(self.data_dir, self.seed, MIX_SF)
        self.start_spark()
        from etl_processing_scd1_spark import registry

        self.queries = {**registry.QUERIES, **registry.EXTRA_QUERIES}
        self.oracles = {**registry.ORACLES, **registry.EXTRA_ORACLES}
        # first scan of every table: Parquet reader class loading and footers
        for t in mixdata.TABLES:
            self.spark.read.parquet(os.path.join(self.data_dir, f"{t}.parquet")).count()
        self.q_times = {q: [] for q in QUERY_MIX}
        self.results: dict = {}

    def timed_query_mix(self) -> None:
        """Rounds of the 15 queries, each built and executed through the
        noop sink, as ``bench.py`` does. The first round is timed too: a
        warm-up round would cost a cold round's time again in set-up."""
        from check import frame_digest

        from etl_processing_scd1_spark.operators.dedup import release_cached

        self.passes = max(1, round(self.seconds / NOMINAL_ROUND_S))
        broken: set[str] = set()
        for _ in range(self.passes):
            for name in QUERY_MIX:
                if name in broken:
                    continue
                self.attempted += 1
                # no cache or shuffle reuse across queries
                self.spark.catalog.clearCache()
                try:
                    t0 = time.perf_counter()
                    with self.span(f"q.{name}.build"):
                        df = self.queries[name](self.spark, self.data_dir)
                    t1 = time.perf_counter()
                    with self.span(f"q.{name}.exec"):
                        df.write.format("noop").mode("overwrite").save()
                    t2 = time.perf_counter()
                    if name not in self.results:
                        # untimed: the result the oracle check compares,
                        # taken while the query's cached intermediates live
                        rows = [tuple(r) for r in df.collect()]
                        self.results[name] = (
                            len(rows), sorted(df.columns), frame_digest(df.columns, rows)
                        )
                    release_cached(df)
                except Exception:
                    traceback.print_exc()
                    self.failed += 1
                    broken.add(name)
                    continue
                self.q_times[name].append((t1 - t0, t2 - t1))
                log(f"[query_mix] {name}: build {t1 - t0:.3f} s, exec {t2 - t1:.3f} s")
        self.ops = [
            statistics.median(b + e for b, e in ts) for ts in self.q_times.values() if ts
        ]

    def check_query_mix(self) -> bool:
        """Each query's order-insensitive result digest (taken after its
        first timed run) against its DuckDB oracle over the same files,
        digested by ``tools/check.py``'s ``frame_digest``."""
        import duckdb

        import mixdata
        from check import frame_digest

        con = duckdb.connect()
        for t in mixdata.TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{os.path.join(self.data_dir, t)}.parquet')"
            )
        ok = True
        for name in QUERY_MIX:
            got = self.results.get(name)
            if got is None:  # raised in the timed loop, counted there
                ok = False
                continue
            try:
                rel = con.sql(self.oracles[name])
                rows = rel.fetchall()
                want = (len(rows), sorted(rel.columns), frame_digest(list(rel.columns), rows))
            except Exception:
                traceback.print_exc()
                want = None
            if got != want:
                log(f"[query_mix] {name} WRONG: spark {got} oracle {want}")
                ok = False
                self.failed += max(1, len(self.q_times[name]))
        con.close()
        return ok

    # -- derived metrics -----------------------------------------------------

    def stored_ratio(self) -> float:
        if self.workload == "query_mix":
            import mixdata

            # lakehouse fixtures the queries leave in the temp dir
            tmp = os.path.join(self.work, "tmp")
            written = sum(
                du(os.path.join(tmp, e))[0] for e in os.listdir(tmp) if e.startswith("spark_graft_")
            )
            return written / mixdata.input_bytes(self.data_dir)
        return du(self.wh.root)[0] / self.gen.input_bytes

    def layer_metrics(self) -> dict[str, float]:
        from tracer import spark_totals

        tr = self.tracer
        out: dict[str, float] = {}
        for sp in tr.spans:
            metric = LAYER_TIMES.get(sp.name)
            if metric:
                out[metric] = out.get(metric, 0.0) + tr.self_time(sp) / self.passes
        roots = [sp for sp in tr.spans if sp.parent is None]
        jobs, stages = tr.spark_jobs()
        every = [s for r in roots for s in tr.subtree(r)]
        tot = spark_totals(tr, every, jobs, stages, with_skew=True)
        for k, v in tot.items():
            out[f"spark.{k}"] = v if k == "task_skew" else v / self.passes
        out["py4j.calls"] = sum(r.py4j1 - r.py4j0 for r in roots) / self.passes
        if self.workload == "nightly_small":
            timed = self.reports[1:]
            counts = [c for r in timed for c in r.dim_counts.values()]
            changed = sum(c["inserted"] + c["updated"] + c["deleted"] for c in counts)
            out["scd1.changed_ratio"] = changed / sum(c["rows"] + c["deleted"] for c in counts)
            appended = sum(sum(r.fact_appended.values()) for r in timed)
            staged = sum(self.gen.staged_rows(i) for i in range(1, len(self.reports)))
            out["facts.new_ratio"] = appended / staged
            out["fraud.events"] = sum(sum(r.fraud_events.values()) for r in timed) / len(timed)
            out["storage.bytes_written"] = statistics.mean(m["bytes_written"] for m in self.day_meta)
            out["storage.live_files"] = self.day_meta[-1]["live_files"]
        for name, ts in self.q_times.items():
            if not ts:
                continue
            out[f"q.{name}.build_s"] = statistics.median(b for b, _ in ts)
            out[f"q.{name}.exec_s"] = statistics.median(e for _, e in ts)
            builds = [s for s in roots if s.name == f"q.{name}.build"]
            execs = [s for s in roots if s.name == f"q.{name}.exec"]
            b_tot = spark_totals(tr, [s for r in builds for s in tr.subtree(r)], jobs, stages)
            a_tot = spark_totals(
                tr, [s for r in builds + execs for s in tr.subtree(r)], jobs, stages
            )
            out[f"q.{name}.build_jobs"] = b_tot["jobs"] / len(builds)
            out[f"q.{name}.py4j_calls"] = sum(s.py4j1 - s.py4j0 for s in builds) / len(builds)
            out[f"q.{name}.shuffle_bytes"] = a_tot["shuffle_bytes"] / len(builds)
        return out


def canary_duckdb_s() -> float:
    """A fixed DuckDB query, timed beside the run as a host-load canary."""
    import duckdb

    con = duckdb.connect()
    times = []
    for _ in range(3):
        t = time.perf_counter()
        con.sql("SELECT sum(hash(range) % 1000) FROM range(20000000)").fetchall()
        times.append(time.perf_counter() - t)
    con.close()
    return statistics.median(times)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    sys.dont_write_bytecode = True
    if not os.path.isdir(PKG_DIR):
        log(f"engine package not found at {PKG_DIR}; run from the repository root")
        return 2
    sys.path[:0] = [ROOT, HERE, os.path.join(ROOT, "tools")]
    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    bench = Bench(args.workload, args.seed, args.seconds, bool(args.trace), work)
    try:
        result = bench.run()
    finally:
        bench.close()
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())

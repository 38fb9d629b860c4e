"""Daily pipeline driver — the engine's EP-1 (SURVEY.md §3).

Reproduces the reference's nightly run (main.py top-to-bottom) as a
functional recompute over a Parquet warehouse:

  ingest files + bank extracts → SCD1-merge 4 dims → append-dedup
  2 facts → advance watermarks → run fraud rules 1-3 appending to
  the accumulating report → atomic multi-table publish.

The three fraud rules are one plan (``plans.fraud_events``): one scan
of the fact history, one ``lag`` window, one star join.

The eight writes of a run go out in two dependency waves, each
wave's writes concurrently from driver threads (one per write):

  wave 1: the 4 dim merges and the 2 fact appends — no write reads
          another's output;
  wave 2: ``meta`` (needs the watermarks wave 1 observed) and
          ``rep_fraud`` (reads every table wave 1 staged).

On a small day the run is mostly per-job driver work (planning,
broadcasts, commit renames), so the writes of a wave overlap instead
of queuing. The writes themselves, their plans and jobs, the
stage-then-swap publish and every report number are those of a
serial run; only the wall-clock order differs. Publish swaps wave 1's
tables before wave 2's (``Warehouse.end_stage_round``). A failing
write is re-raised once its wave has finished, and the run's staged
tables are discarded unpublished.

Differences from the reference, all documented in SURVEY §7:
intended (not bugged) file routing and rule-1 predicate; one
``processed_dt`` literal captured per run (deterministic replays);
watermarks actually consumed for incremental extracts.
"""

from __future__ import annotations

import datetime as dt
from collections.abc import Callable
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field
from functools import partial

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import DateType, StructField, StructType

from . import schemas
from .observe import observed
from .operators import append_dedup, scd1_merge, upsert_watermark
from .operators.meta import empty_meta
from .plans import fraud_events
from .plans.fraud import EVENT_TYPES
from .sources import read_blacklist_excel, read_transactions_csv, read_xlsx
from .sources.readers import archive_file, scan_drop_dir
from .storage import Warehouse


@dataclass
class RunReport:
    day: dt.date
    dim_counts: dict[str, dict[str, int]] = field(default_factory=dict)
    fact_appended: dict[str, int] = field(default_factory=dict)
    fraud_events: dict[str, int] = field(default_factory=dict)


def _with_audit(df: DataFrame, business_date: dt.date, processed_dt) -> DataFrame:
    """B2: file snapshots carry no technical columns — default
    create_dt := file business date, update_dt := NULL
    (main.py:121-125)."""
    return df.select(
        "*",
        F.lit(str(business_date)).cast("timestamp").alias("create_dt"),
        F.lit(None).cast("timestamp").alias("update_dt"),
        processed_dt.alias("processed_dt"),
    )


def _load_terminals_file(spark: SparkSession, path: str) -> DataFrame:
    raw = read_xlsx(spark, path)
    return schemas.align_positional(
        raw, ["terminal_id", "terminal_type", "terminal_city", "terminal_address"]
    )


def _run_wave(spark: SparkSession, writes: list[Callable[[], object]]) -> list:
    """Run independent ``writes`` concurrently, one driver thread each,
    and return their results in order. Returns only once every write
    has finished — also when one failed; the first failure (in list
    order) is then re-raised."""
    if not writes:
        return []
    with ThreadPoolExecutor(len(writes), thread_name_prefix="run_day") as pool:
        # one wrapper per write: each worker gets its OWN copy of the
        # caller's local properties (job group, description), so what
        # one worker sets on its JVM thread stays its own
        futures = [pool.submit(inheritable_thread_target(spark)(w)) for w in writes]
    return [f.result() for f in futures]


def run_day(
    spark: SparkSession,
    warehouse: Warehouse,
    drop_dir: str | None = None,
    archive_dir: str | None = None,
    bank_sources: dict[str, DataFrame] | None = None,
    run_ts: dt.datetime | None = None,
    day: dt.date | None = None,
) -> RunReport:
    """One daily batch. ``bank_sources`` supplies clients/accounts/
    cards frames (JDBC in production — sources.read_jdbc_table);
    ``drop_dir`` supplies the day's files. Either may be absent.
    """
    run_ts = run_ts or dt.datetime.now()
    processed = F.lit(run_ts.strftime("%Y-%m-%d %H:%M:%S")).cast("timestamp")
    report = RunReport(day=day or run_ts.date())
    meta = warehouse.read("meta", schemas.META) if warehouse.exists("meta") else empty_meta(spark)

    # ---- extract: drop-dir files (EP-2) ---------------------------------
    # Backlog semantics (day=None, several days of files pending):
    # increment-style files (transactions, accumulating blacklist)
    # UNION across days; full-snapshot dims keep only the LATEST
    # business date — merging an older snapshot after a newer one
    # would resurrect deleted rows. scan_drop_dir sorts by date, so
    # "last wins" is the latest for snapshots.
    staged: dict[str, DataFrame] = {}
    processed_files = []
    for f in scan_drop_dir(drop_dir) if drop_dir else []:
        if day is not None and f.business_date != day:
            continue
        if f.kind == "transactions":
            df = read_transactions_csv(spark, f.path)
            staged["transactions"] = (
                staged["transactions"].unionByName(df)
                if "transactions" in staged
                else df
            )
        elif f.kind == "terminals":
            staged["terminals"] = _with_audit(
                _load_terminals_file(spark, f.path), f.business_date, processed
            )
        elif f.kind == "blacklist":
            df = read_blacklist_excel(spark, f.path)
            staged["blacklist"] = (
                staged["blacklist"].unionByName(df) if "blacklist" in staged else df
            )
        processed_files.append(f)

    # ---- extract: bank tables (A4) --------------------------------------
    for name in ("clients", "accounts", "cards"):
        if bank_sources and name in bank_sources:
            src = bank_sources[name]
            if "processed_dt" not in src.columns:
                src = src.select("*", processed.alias("processed_dt"))
            staged[name] = src

    # ---- transform: SCD1 merge per dimension (G1-G3) --------------------
    # One action per output table — its write. Every report number is
    # an Observation riding on that write, not a count()/agg job.
    def merge_dim(dim_name: str) -> tuple[dict[str, int], dt.datetime | None]:
        dim = warehouse.read(dim_name, schemas.WAREHOUSE[dim_name])
        # watermark per staging table (G5) — and unlike the reference,
        # consumed next run to bound the extract. Observed on the RAW
        # staged frame, as the reference aggregates its staging table:
        # after the merge's duplicate-key dedup the dropped rows'
        # timestamps would no longer count.
        wm = Observation()
        res = scd1_merge(
            dim,
            staged[dim_name].observe(
                wm, F.coalesce(F.max("update_dt"), F.max("create_dt")).alias("wm")
            ),
            key=schemas.DIM_KEYS[dim_name],
            compare_cols=schemas.compare_cols(dim_name),
            processed_dt=processed,
        )
        warehouse.stage(dim_name, res.merged)
        return res.counts(), observed(wm, wm=None)["wm"]

    # ---- facts: append-dedup (G4) ---------------------------------------
    # Only NEW rows are written (stage_append): the daily fact write
    # is O(batch) — the full-history union+overwrite a naive port
    # would do is the one thing that cannot survive a 100 TB fact.
    fact_ids = {"transactions": "trans_id", "blacklist": "passport_num"}

    def append_fact(fact_name: str) -> int:
        batch = staged[fact_name]
        schema, partition_cols, fact_filter = schemas.WAREHOUSE[fact_name], None, None
        if fact_name == "transactions":
            # Day-partitioned fact: scans filtered on p_day prune at the
            # directory level (rule windows, incremental dedup). The
            # anti join's fact side is pruned to the batch's day range;
            # the bounds are scalar subqueries, evaluated inside the
            # write's own execution. Exact under the source protocol —
            # re-deliveries carry the same business dates (pdf p.5); a
            # same-id-different-date corruption would bypass this prune.
            batch = batch.withColumn("p_day", F.to_date("trans_date"))
            schema = StructType(schema.fields + [StructField("p_day", DateType())])
            partition_cols = ["p_day"]
            fact_filter = F.col("p_day").between(
                batch.select(F.min("p_day")).scalar(),
                batch.select(F.max("p_day")).scalar(),
            )
        appended = Observation()
        new_rows = append_dedup(
            warehouse.read(fact_name, schema), batch, id_col=fact_ids[fact_name],
            fact_filter=fact_filter,
        ).observe(appended, F.count(F.lit(1)).alias("rows"))
        warehouse.stage_append(fact_name, new_rows, partition_cols=partition_cols)
        return observed(appended, rows=0)["rows"]

    # ---- watermarks (G5): after wave 1 observed them --------------------
    watermarks: dict[str, dt.datetime | None] = {}

    def write_meta() -> None:
        # one seed relation for every dim: one union+groupBy, one shuffle
        warehouse.stage("meta", upsert_watermark(spark, meta, "warehouse", watermarks))

    # ---- report: fraud rules over the POST-merge state (H1-H3) ----------
    # The reference queries the freshly-merged warehouse inside the
    # same transaction; here the wave-1 staged frames play that role.
    def current(name: str) -> DataFrame:
        base = warehouse.staged_view(name)
        if base is None:
            base = warehouse.read(name, schemas.WAREHOUSE[name])
        appended = warehouse.staged_view(f"{name}@append")
        if appended is not None:
            base = base.unionByName(appended, allowMissingColumns=True)
        return base

    def write_fraud() -> dict[str, int]:
        tx, cards, accounts, clients, terminals, blacklist = (
            current("transactions"),
            current("cards"),
            current("accounts"),
            current("clients"),
            current("terminals"),
            current("blacklist"),
        )
        events = Observation()
        new_events = fraud_events(tx, cards, accounts, clients, terminals, blacklist).observe(
            events,
            *[F.count(F.when(F.col("event_type") == t, 1)).alias(t) for t in EVENT_TYPES],
        )
        # accumulating report: append-only, O(new events) per run (A10)
        warehouse.stage_append("rep_fraud", new_events)
        # zero counts omitted, as a groupBy over the events would
        return {t: n for t, n in observed(events).items() if n}

    # ---- the writes: wave 1, the dims and facts, depend on no other
    # write; wave 2, meta and the fraud report, on wave 1 -----------------
    dims = [n for n in schemas.DIM_KEYS if n in staged]
    facts = [n for n in fact_ids if n in staged]
    try:
        results = _run_wave(
            spark, [partial(merge_dim, n) for n in dims] + [partial(append_fact, n) for n in facts]
        )
        # derived tables swap after their inputs at publish
        warehouse.end_stage_round()
        for dim_name, (counts, wm) in zip(dims, results):
            report.dim_counts[dim_name] = counts
            watermarks[dim_name] = wm
        report.fact_appended = dict(zip(facts, results[len(dims):]))
        _, report.fraud_events = _run_wave(spark, [write_meta, write_fraud])
    except BaseException:
        # a failed run publishes nothing, now or with the next run
        warehouse.discard_staged()
        raise

    # ---- commit (G6) -----------------------------------------------------
    warehouse.publish(run_id=run_ts.strftime("%Y%m%d%H%M%S"))
    if archive_dir:
        for f in processed_files:
            archive_file(f.path, archive_dir)
    return report

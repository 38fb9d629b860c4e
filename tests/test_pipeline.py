"""End-to-end 3-day replay (SURVEY.md §5, FIXTURES.md §2): a scaled-
down analog of the reference's real 3-day fixture with the same
planted trajectory — terminal insert/update/delete, accumulating
blacklist, idempotent fact re-ingestion, daily city-hop pairs — and
assertions mirroring the verified invariants."""

from __future__ import annotations

import datetime as dt
import os
import threading

import pytest

from etl_processing_scd1_spark import schemas
from etl_processing_scd1_spark.operators.meta import SENTINEL, watermark_of
from etl_processing_scd1_spark.pipeline import run_day
from etl_processing_scd1_spark.session import local_frame
from etl_processing_scd1_spark.storage import Warehouse
from .conftest import spark_jobs_and_tasks
from .xlsx_util import write_xlsx

DAYS = [dt.date(2021, 3, 1), dt.date(2021, 3, 2), dt.date(2021, 3, 3)]

BASE_TERMINALS = [
    ["A1", "ATM", "Moscow", "addr1"],
    ["A2", "ATM", "Kazan", "addr2"],
    ["P3", "POS", "Moscow", "addr3"],
    ["P4", "POS", "Omsk", "addr4"],
    ["A5", "ATM", "Tver", "addr5"],
]
HEADER = ["terminal_id", "terminal_type", "terminal_city", "terminal_address"]


def _terminals_for_day(day_idx: int) -> list[list[str]]:
    rows = [list(r) for r in BASE_TERMINALS]
    if day_idx >= 1:
        rows[1][3] = "addr2-NEW"        # A2 address change on day 2
        rows[2][3] = "addr3-NEW"        # P3 address change on day 2
    if day_idx == 1:
        rows.append(["P9", "POS", "Sochi", "addr9"])  # appears day 2 only
    if day_idx >= 2:
        rows[2][3] = "addr3-NEWER"      # P3 changes again on day 3
    return [HEADER] + rows


def _transactions_for_day(day: dt.date, start_id: int) -> str:
    """10 rows/day; one Moscow→Kazan hop pair (<1h) per day."""
    lines = ["transaction_id;transaction_date;amount;card_num;oper_type;oper_result;terminal"]
    for i in range(8):
        lines.append(
            f"{start_id + i};{day} 0{i}:15:00;10{i},4{i};1111 2222 3333 4444;PAYMENT;SUCCESS;A1"
        )
    # the hop pair: same card, A1 (Moscow) then A2 (Kazan), 30 min apart
    lines.append(f"{start_id + 8};{day} 12:00:00;50,00;5555 6666 7777 8888;WITHDRAW;SUCCESS;A1")
    lines.append(f"{start_id + 9};{day} 12:30:00;60,00;5555 6666 7777 8888;WITHDRAW;SUCCESS;A2")
    return "\n".join(lines) + "\n"


def _blacklist_for_day(day_idx: int) -> list[list[object]]:
    # accumulating: 2 → 4 → 6 entries; serial 44256 = 2021-03-01
    rows: list[list[object]] = [["date", "passport"]]
    for k in range(2 * (day_idx + 1)):
        rows.append([44256 + k, f"9{k:03d} 00000{k}"])
    if day_idx < 2:
        rows.append([None, None])  # dirty trailing empty row (day 1-2 files)
    return rows


CLIENTS = (
    "client_id string, last_name string, first_name string, patronymic string, "
    "date_of_birth date, passport_num string, passport_valid_to date, phone string, "
    "create_dt timestamp, update_dt timestamp"
)
ACCOUNTS = "account_num string, valid_to date, client string, create_dt timestamp, update_dt timestamp"
CARDS = "card_num string, account_num string, create_dt timestamp, update_dt timestamp"


@pytest.fixture(scope="module")
def bank(spark):
    """Bank extracts as the engine receives them in production — JVM
    relations (JDBC, Parquet), not Python RDDs — so every plan of a
    run is free of Python-worker stages."""
    clients = local_frame(
        spark,
        [
            ("C1", "Ivanov", "Ivan", "I", dt.date(1980, 1, 1), "1111 111111",
             dt.date(2020, 1, 1), "+7 111", dt.datetime(2021, 1, 1), None),
            ("C2", "Petrov", "Petr", "P", dt.date(1990, 2, 2), "9000 000000",
             dt.date(2030, 1, 1), "+7 222", dt.datetime(2021, 1, 1), None),
        ],
        CLIENTS,
    )
    accounts = local_frame(
        spark,
        [
            ("ACC1", dt.date(2030, 1, 1), "C1", dt.datetime(2021, 1, 1), None),
            ("ACC2", dt.date(2020, 6, 1), "C2", dt.datetime(2021, 1, 1), None),
        ],
        ACCOUNTS,
    )
    cards = local_frame(
        spark,
        [
            ("1111 2222 3333 4444", "ACC1", dt.datetime(2021, 1, 1), None),
            ("5555 6666 7777 8888", "ACC2", dt.datetime(2021, 1, 1), None),
        ],
        CARDS,
    )
    return {"clients": clients, "accounts": accounts, "cards": cards}


def _write_day_files(drop: str, day_idx: int) -> None:
    day = DAYS[day_idx]
    tag = day.strftime("%d%m%Y")
    with open(os.path.join(drop, f"transactions_{tag}.txt"), "w") as fh:
        fh.write(_transactions_for_day(day, start_id=1000 + 100 * day_idx))
    write_xlsx(os.path.join(drop, f"terminals_{tag}.xlsx"), _terminals_for_day(day_idx))
    write_xlsx(
        os.path.join(drop, f"passport_blacklist_{tag}.xlsx"), _blacklist_for_day(day_idx)
    )


def test_three_day_replay(spark, tmp_path, bank):
    wh = Warehouse(spark, str(tmp_path / "wh"))
    drop, archive = str(tmp_path / "drop"), str(tmp_path / "archive")
    os.makedirs(drop)

    reports = []
    for i, day in enumerate(DAYS):
        _write_day_files(drop, i)
        reports.append(
            run_day(
                spark, wh, drop_dir=drop, archive_dir=archive, bank_sources=bank,
                run_ts=dt.datetime.combine(day, dt.time(23, 55)), day=day,
            )
        )

    # dim_terminals trajectory: 5 → 6 → 5 (FIXTURES: insert day2, delete day3)
    assert [r.dim_counts["terminals"]["rows"] for r in reports] == [5, 6, 5]
    assert reports[1].dim_counts["terminals"]["inserted"] == 1   # P9
    assert reports[1].dim_counts["terminals"]["updated"] == 2    # A2, P3
    assert reports[2].dim_counts["terminals"]["deleted"] == 1    # P9 gone
    assert reports[2].dim_counts["terminals"]["updated"] == 1    # P3 again

    # final terminal state = day-3 values; create_dt = first-seen file date
    terms = {r["terminal_id"]: r for r in wh.read("terminals").collect()}
    assert terms["P3"]["terminal_address"] == "addr3-NEWER"
    assert terms["A2"]["terminal_address"] == "addr2-NEW"
    assert "P9" not in terms
    assert terms["A1"]["create_dt"] == dt.datetime(2021, 3, 1)
    assert terms["A1"]["update_dt"] is None  # files carry no update_dt

    # facts accumulate 10/day; blacklist 2 → 4 → 6 (anti-join dedup)
    assert wh.read("transactions").count() == 30
    # trans_id stays unique (and non-NULL) in the fact: rule 3 flags rows
    # in place, which matches the reference's IN only under this invariant
    assert wh.read("transactions").selectExpr("count(DISTINCT trans_id)").first()[0] == 30
    assert [r.fact_appended["blacklist"] for r in reports] == [2, 2, 2]
    assert wh.read("blacklist").count() == 6

    # watermark equals the day's file date (files carry no update_dt)
    meta = {r["table_name"]: r["max_update_dt"] for r in wh.read("meta").collect()}
    assert meta["terminals"] == dt.datetime(2021, 3, 3)

    # fraud: rule 1 (C1 expired passport) & rule 2 (ACC2 expired) flag rows;
    # rule 3 re-scans full history → 1/2/3 cumulative hop events per day
    assert [r.fraud_events.get("3", 0) for r in reports] == [1, 2, 3]
    rep = wh.read("rep_fraud")
    assert rep.filter("event_type = '3'").count() == 1 + 2 + 3  # accumulation by design
    # later transaction of each pair is the flagged one
    flagged3 = {r["event_dt"] for r in rep.filter("event_type = '3'").collect()}
    assert flagged3 == {dt.datetime.combine(d, dt.time(12, 30)) for d in DAYS}

    # all inputs archived with .backup suffix (pdf p.5 protocol)
    assert len(os.listdir(archive)) == 9
    assert all(n.endswith(".backup") for n in os.listdir(archive))
    assert os.listdir(drop) == []


def test_rerun_same_day_is_idempotent(spark, tmp_path, bank):
    wh = Warehouse(spark, str(tmp_path / "wh2"))
    drop = str(tmp_path / "drop2")
    os.makedirs(drop)
    _write_day_files(drop, 0)
    r1 = run_day(spark, wh, drop_dir=drop, bank_sources=bank,
                 run_ts=dt.datetime(2021, 3, 1, 23, 55), day=DAYS[0])
    # re-deliver the same files (no archive_dir → files still present)
    r2 = run_day(spark, wh, drop_dir=drop, bank_sources=bank,
                 run_ts=dt.datetime(2021, 3, 2, 23, 55), day=DAYS[0])
    assert r1.fact_appended["transactions"] == 10
    assert r2.fact_appended["transactions"] == 0   # G4 idempotence
    assert r2.dim_counts["terminals"]["updated"] == 0
    assert wh.read("transactions").count() == 10


def test_backlog_single_run_processes_all_days(spark, tmp_path, bank):
    """day=None with a 3-day backlog: transaction/blacklist increments
    union across days; the terminals snapshot merge uses only the
    LATEST day (an older snapshot must not resurrect deleted rows)."""
    wh = Warehouse(spark, str(tmp_path / "wh3"))
    drop = str(tmp_path / "drop3")
    os.makedirs(drop)
    for i in range(3):
        _write_day_files(drop, i)
    rep = run_day(spark, wh, drop_dir=drop, bank_sources=bank,
                  run_ts=dt.datetime(2021, 3, 3, 23, 55), day=None)
    assert rep.fact_appended["transactions"] == 30   # all 3 days unioned
    assert wh.read("blacklist").count() == 6          # accumulating dedup
    terms = {r["terminal_id"]: r for r in wh.read("terminals").collect()}
    assert len(terms) == 5 and "P9" not in terms      # day-3 snapshot wins
    assert terms["P3"]["terminal_address"] == "addr3-NEWER"
    # velocity rule sees the full 3-day history in one pass
    assert rep.fraud_events.get("3", 0) == 3


#: jobs the same day cost (local[4]) while run_day still probed its
#: numbers with jobs of their own: a count() per SCD1 leg, an agg per
#: watermark, a count per fact, a groupBy of the fraud events and a
#: schema-inference job per table read
PROBE_JOBS_PER_DAY = 113
#: tasks the same day completes (local[4]). It took 67 while the XLSX
#: rows and every watermark seed entered through createDataFrame(list)
#: — one Python-worker task per partition — and the watermarks took
#: four chained shuffles; 52 as LocalRelations with one upsert, while
#: the three fraud rules were three plans over five fact scans
MAX_TASKS_PER_DAY = 44
#: jobs the same day costs (local[4]) with one action per output and
#: one plan for the three fraud rules (33 while they were three): a
#: count below it means jobs ran outside the probe's job group — a
#: write thread that did not inherit the caller's local properties
MIN_JOBS_PER_DAY = 30


def test_run_day_job_count(spark, tmp_path, bank):
    """One action per output table: a non-bootstrap run_day writes 4
    dims, meta, 2 fact increments and the fraud report, and reads every
    number it reports from Observations on those writes."""
    wh = Warehouse(spark, str(tmp_path / "wh"))
    drop = str(tmp_path / "drop")
    os.makedirs(drop)
    for i in (0, 1):
        _write_day_files(drop, i)

    def day(i: int):
        return run_day(
            spark, wh, drop_dir=drop, bank_sources=bank,
            run_ts=dt.datetime.combine(DAYS[i], dt.time(23, 55)), day=DAYS[i],
        )

    day(0)  # bootstrap
    jobs, tasks = spark_jobs_and_tasks(spark, lambda: day(1))
    assert MIN_JOBS_PER_DAY <= jobs <= 0.4 * PROBE_JOBS_PER_DAY, jobs
    assert tasks <= MAX_TASKS_PER_DAY, tasks


#: the writes of run_day's first wave: they read no other write's output
WAVE1 = ("terminals", "clients", "accounts", "cards", "transactions", "blacklist")


def _spy_wave1(wh: Warehouse, before, after=lambda name: None) -> None:
    """Wrap ``wh.stage``/``wh.stage_append`` of the wave-1 tables in
    ``before(name)`` and ``after(name)`` (``del wh.stage,
    wh.stage_append`` removes the spies)."""

    def spying(write):
        def spy(name, df, **kwargs):
            if name in WAVE1:
                before(name)
            write(name, df, **kwargs)
            if name in WAVE1:
                after(name)
        return spy

    wh.stage, wh.stage_append = spying(wh.stage), spying(wh.stage_append)


def test_wave1_writes_overlap(spark, tmp_path, bank):
    """The 4 dim merges and 2 fact appends of a non-bootstrap day are
    in flight at once: each waits at a 6-party barrier before writing,
    which only breaks (timeout) when the writes run one at a time."""
    wh = Warehouse(spark, str(tmp_path / "wh"))
    drop = str(tmp_path / "drop")
    os.makedirs(drop)
    for i in (0, 1):
        _write_day_files(drop, i)
    run_day(spark, wh, drop_dir=drop, bank_sources=bank,
            run_ts=dt.datetime.combine(DAYS[0], dt.time(23, 55)), day=DAYS[0])
    barrier = threading.Barrier(len(WAVE1), timeout=60)
    arrived = []

    def meet(name):
        arrived.append(name)
        barrier.wait()

    _spy_wave1(wh, meet)
    report = run_day(spark, wh, drop_dir=drop, bank_sources=bank,
                     run_ts=dt.datetime.combine(DAYS[1], dt.time(23, 55)), day=DAYS[1])
    assert sorted(arrived) == sorted(WAVE1)
    assert report.dim_counts["terminals"]["inserted"] == 1
    assert report.fact_appended == {"transactions": 10, "blacklist": 2}


def _live_state(root: str) -> dict[str, bytes]:
    """Every published file (manifest and live tables) by path."""
    state = {}
    for dirpath, dirs, files in os.walk(root):
        if ".staging" in dirs:
            dirs.remove(".staging")
        for fn in files:
            path = os.path.join(dirpath, fn)
            with open(path, "rb") as fh:
                state[os.path.relpath(path, root)] = fh.read()
    return state


def test_failed_wave1_write_publishes_nothing(spark, tmp_path, bank):
    """One wave-1 write raising: run_day re-raises it only once every
    other write of the wave has finished (no write thread outlives
    the call), nothing is published, and a rerun of the day reports
    what an uninterrupted run reports."""
    drop = str(tmp_path / "drop")
    os.makedirs(drop)
    for i in (0, 1):
        _write_day_files(drop, i)

    def day(wh, i):
        return run_day(spark, wh, drop_dir=drop, bank_sources=bank,
                       run_ts=dt.datetime.combine(DAYS[i], dt.time(23, 55)), day=DAYS[i])

    clean = Warehouse(spark, str(tmp_path / "clean"))
    day(clean, 0)
    want = day(clean, 1)

    wh = Warehouse(spark, str(tmp_path / "wh"))
    day(wh, 0)
    before = _live_state(wh.root)
    threads, finished = [], []

    def start(name):
        threads.append(threading.current_thread())
        if name == "accounts":
            raise RuntimeError("injected write failure")

    _spy_wave1(wh, start, finished.append)
    with pytest.raises(RuntimeError, match="injected write failure"):
        day(wh, 1)
    assert sorted(finished) == sorted(set(WAVE1) - {"accounts"})
    assert len(threads) == len(WAVE1)
    assert not any(t.is_alive() for t in threads)
    assert _live_state(wh.root) == before

    del wh.stage, wh.stage_append
    assert day(wh, 1) == want


def test_failed_run_stages_nothing_for_the_next(spark, tmp_path, bank):
    """The writes a failed run did stage never reach a later run on the
    same Warehouse, also in tables that run does not stage: a day with
    the bank extracts only publishes and reports as on a Warehouse
    that never saw the failure."""
    drop = str(tmp_path / "drop")
    os.makedirs(drop)
    for i in (0, 1):
        _write_day_files(drop, i)

    def files_day(wh, i):
        return run_day(spark, wh, drop_dir=drop, bank_sources=bank,
                       run_ts=dt.datetime.combine(DAYS[i], dt.time(23, 55)), day=DAYS[i])

    def bank_day(wh):
        return run_day(spark, wh, bank_sources=bank,
                       run_ts=dt.datetime.combine(DAYS[1], dt.time(23, 55)), day=DAYS[1])

    clean = Warehouse(spark, str(tmp_path / "clean"))
    files_day(clean, 0)
    want = bank_day(clean)

    wh = Warehouse(spark, str(tmp_path / "wh"))
    files_day(wh, 0)

    def fail(name):
        if name == "accounts":
            raise RuntimeError("injected write failure")

    _spy_wave1(wh, fail)
    with pytest.raises(RuntimeError, match="injected write failure"):
        files_day(wh, 1)
    del wh.stage, wh.stage_append
    assert os.listdir(os.path.join(wh.root, ".staging")) == []

    assert bank_day(wh) == want
    assert wh.manifest()["tables"] == clean.manifest()["tables"]
    for name in ("transactions", "terminals", "blacklist", "rep_fraud"):
        assert wh.read(name).count() == clean.read(name).count(), name


def test_fact_anti_join_prunes_fact_days(spark, tmp_path, bank):
    """The incremental dedup's anti join scans only the fact days the
    staged batch covers: the fact-side scan of the transactions table
    carries a p_day partition filter (bounded by the batch's min/max
    day, evaluated as subqueries inside the write)."""
    wh = Warehouse(spark, str(tmp_path / "wh"))
    drop = str(tmp_path / "drop")
    os.makedirs(drop)
    plans = {}
    stage_append = wh.stage_append

    def spy(name, df, partition_cols=None):
        plans[name] = df._jdf.queryExecution().executedPlan().toString()
        stage_append(name, df, partition_cols=partition_cols)

    wh.stage_append = spy
    for i in (0, 1):
        _write_day_files(drop, i)
        report = run_day(
            spark, wh, drop_dir=drop, bank_sources=bank,
            run_ts=dt.datetime.combine(DAYS[i], dt.time(23, 55)), day=DAYS[i],
        )
    # the increment's only Parquet scan is the fact side of the anti join
    fact_scans = [
        line for line in plans["transactions"].splitlines() if "FileScan parquet" in line
    ]
    assert len(fact_scans) == 1, plans["transactions"]
    partition_filters = fact_scans[0].split("PartitionFilters: [", 1)[1]
    assert partition_filters.startswith("isnotnull(p_day#"), fact_scans[0]
    assert "(p_day#" in partition_filters and ">= Subquery" in partition_filters
    assert report.fact_appended["transactions"] == 10


def _written_plans(spark, tmp_path, bank) -> list[tuple[str, object]]:
    """``(table, QueryExecution)`` of every write of a bootstrap day and
    the non-bootstrap day after it, in write order."""
    wh = Warehouse(spark, str(tmp_path / "wh"))
    drop = str(tmp_path / "drop")
    os.makedirs(drop)
    plans: list[tuple[str, object]] = []

    def spying(write):
        def spy(name, df, **kwargs):
            plans.append((name, df._jdf.queryExecution()))
            write(name, df, **kwargs)
        return spy

    wh.stage, wh.stage_append = spying(wh.stage), spying(wh.stage_append)
    for i in (0, 1):
        _write_day_files(drop, i)
        run_day(
            spark, wh, drop_dir=drop, bank_sources=bank,
            run_ts=dt.datetime.combine(DAYS[i], dt.time(23, 55)), day=DAYS[i],
        )
    return plans


def test_run_day_writes_no_python_rdd(spark, tmp_path, bank):
    """Driver-side rows (the XLSX snapshots, the watermark seed, the
    empty tables of the bootstrap) enter as LocalRelations: no plan
    run_day writes, on the bootstrap day or after it, scans a Python
    RDD — no stage of the run waits on a Python worker."""
    plans = _written_plans(spark, tmp_path, bank)
    written = sorted({name for name, _ in plans})
    assert written == sorted(schemas.WAREHOUSE), written
    for name, qe in plans:
        plan = qe.toString()
        assert "LogicalRDD" not in plan and "ExistingRDD" not in plan, (name, plan)


def test_fraud_report_scans_transactions_once(spark, tmp_path, bank):
    """The three fraud rules share one plan: a non-bootstrap day's
    rep_fraud write reads the transactions once — the live fact and
    the day's staged increment, one relation each — and runs rule 3's
    lag window once."""
    plans = _written_plans(spark, tmp_path, bank)
    plan = [qe for name, qe in plans if name == "rep_fraud"][-1].optimizedPlan().toString()
    nodes = [line.lstrip(" :+-") for line in plan.splitlines()]
    tx_relations = [n for n in nodes if n.startswith("Relation ") and "trans_id#" in n]
    assert len(tx_relations) == 2, plan
    assert len([n for n in nodes if n.startswith("Window ")]) == 1, plan


def _bank_at(spark, clients_ts, accounts_ts, cards_ts):
    """One-row bank extracts whose audit columns sit at the given
    ``(create_dt, update_dt)`` pairs."""
    return {
        "clients": local_frame(
            spark,
            [("C1", "Ivanov", "Ivan", "I", dt.date(1980, 1, 1), "1111 111111",
              dt.date(2030, 1, 1), "+7 111", *clients_ts)],
            CLIENTS,
        ),
        "accounts": local_frame(spark, [("ACC1", dt.date(2030, 1, 1), "C1", *accounts_ts)], ACCOUNTS),
        "cards": local_frame(spark, [("1111 2222 3333 4444", "ACC1", *cards_ts)], CARDS),
    }


def test_watermarks_upserted_once_per_run(spark, tmp_path):
    """All of a run's watermarks land in ONE upsert: meta then holds
    exactly one row per staged dim, each the staging table's
    watermark (SENTINEL for a NULL one); a later run with older
    staging moves none of them back, and a newer one advances it."""
    wh = Warehouse(spark, str(tmp_path / "wh"))
    drop = str(tmp_path / "drop")
    os.makedirs(drop)
    _write_day_files(drop, 0)

    def meta():
        rows = wh.read("meta", schemas.META).collect()
        assert {r["schema_name"] for r in rows} == {"warehouse"}
        assert len(rows) == len({r["table_name"] for r in rows}), rows
        return {r["table_name"]: r["max_update_dt"] for r in rows}

    first = _bank_at(
        spark,
        (dt.datetime(2021, 1, 1), dt.datetime(2021, 1, 5)),
        (dt.datetime(2021, 1, 3), None),
        (None, None),  # a NULL watermark seeds the sentinel
    )
    run_day(spark, wh, drop_dir=drop, bank_sources=first,
            run_ts=dt.datetime(2021, 3, 1, 23, 55), day=DAYS[0])
    want = {name: watermark_of(df) or SENTINEL for name, df in first.items()}
    want["terminals"] = dt.datetime(2021, 3, 1)  # file date: create_dt, no update_dt
    assert want["cards"] == SENTINEL
    assert meta() == want

    later = _bank_at(
        spark,
        (dt.datetime(2020, 12, 1), None),                    # older: kept
        (dt.datetime(2021, 1, 1), dt.datetime(2021, 2, 1)),  # newer: advances
        (dt.datetime(2021, 1, 2), None),                     # past the sentinel
    )
    run_day(spark, wh, bank_sources=later,
            run_ts=dt.datetime(2021, 3, 2, 23, 55), day=DAYS[1])
    assert meta() == {
        "terminals": dt.datetime(2021, 3, 1),   # not staged: untouched
        "clients": dt.datetime(2021, 1, 5),
        "accounts": dt.datetime(2021, 2, 1),
        "cards": dt.datetime(2021, 1, 2),
    }

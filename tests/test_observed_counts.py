"""Observed SCD1 counts and watermarks against the eager jobs they
replace (a ``count()`` per leg, ``watermark_of``'s aggregate), on the
edge cases where an observation behaves unlike a job: empty inputs —
including a plan the optimizer proves empty, whose observation
completes with no row —, a snapshot that deletes every row,
increment-style staging, and duplicate staging keys."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import Observation
from pyspark.sql import functions as F

from etl_processing_scd1_spark import schemas
from etl_processing_scd1_spark.observe import observed
from etl_processing_scd1_spark.operators.meta import SENTINEL, watermark_of
from etl_processing_scd1_spark.operators.scd1 import scd1_merge
from etl_processing_scd1_spark.pipeline import run_day
from etl_processing_scd1_spark.storage import Warehouse

SCHEMA = "k int, v string, create_dt timestamp, update_dt timestamp, processed_dt timestamp"
TS = dt.datetime(2021, 3, 1)


def _p():
    return F.lit("2021-03-02 00:00:00").cast("timestamp")


def _frame(spark, rows):
    return spark.createDataFrame([(k, v, TS, None, TS) for k, v in rows], SCHEMA)


def _eager_counts(res) -> dict[str, int]:
    """What ``counts()`` returned before it was observed: one job per leg."""
    return {
        "inserted": res.inserted.count(),
        "updated": res.updated.count(),
        "deleted": res.deleted.count(),
        "rows": res.merged.count(),
    }


CASES = {
    # name: (dim rows, staging rows, delete_missing, expected counts)
    "empty_dim_bootstrap": ([], [(1, "a"), (2, "b")], True, (2, 0, 0, 2)),
    "empty_snapshot_deletes_all": ([(1, "a"), (2, "b")], [], True, (0, 0, 2, 0)),
    "empty_dim_and_staging": ([], [], True, (0, 0, 0, 0)),
    "delete_missing_false": ([(1, "a"), (2, "b")], [(1, "a2")], False, (0, 1, 1, 2)),
    "duplicate_staging_keys": ([(1, "a")], [(1, "x"), (1, "y"), (3, "c")], True, (1, 1, 0, 2)),
}


@pytest.mark.parametrize("case", sorted(CASES))
def test_observed_counts_match_count_jobs(spark, tmp_path, case):
    dim_rows, stg_rows, delete_missing, want = CASES[case]
    res = scd1_merge(
        _frame(spark, dim_rows), _frame(spark, stg_rows), "k", ["v"],
        processed_dt=_p(), delete_missing=delete_missing,
    )
    res.merged.write.parquet(str(tmp_path / "merged"))  # the write it rides on
    got = res.counts()
    assert got == dict(zip(("inserted", "updated", "deleted", "rows"), want))
    assert got == _eager_counts(res)


def test_observation_under_a_provably_empty_plan(spark):
    """Empty LocalRelation inputs let the optimizer replace the join by
    an empty relation. An observation below the join — run_day's
    watermark rides on the staging side — then completes with NO row,
    which must read as its defaults: neither raise nor hang."""

    def empty():
        return spark.sql(
            "SELECT CAST(NULL AS INT) AS k, CAST(NULL AS STRING) AS v, "
            "CAST(NULL AS TIMESTAMP) AS create_dt, CAST(NULL AS TIMESTAMP) AS update_dt, "
            "CAST(NULL AS TIMESTAMP) AS processed_dt WHERE false"
        )

    stg, wm = empty(), Observation()
    res = scd1_merge(
        empty(), stg.observe(wm, F.max("update_dt").alias("update_dt")), "k", ["v"],
        processed_dt=_p(),
    )
    res.merged.write.format("noop").mode("overwrite").save()
    assert wm._jo.getRow().length() == 0  # the case under test: no row at all
    assert observed(wm, update_dt=None) == {"update_dt": None}
    assert watermark_of(stg) is None
    assert res.counts() == {"inserted": 0, "updated": 0, "deleted": 0, "rows": 0}
    assert res.counts() == _eager_counts(res)


def test_counts_without_a_write_runs_the_merge_once(spark):
    res = scd1_merge(_frame(spark, [(1, "a")]), _frame(spark, [(1, "b")]), "k", ["v"], processed_dt=_p())
    assert res.counts() == {"inserted": 0, "updated": 1, "deleted": 0, "rows": 1}
    assert res.counts() == _eager_counts(res)


CLIENTS = (
    "client_id string, last_name string, first_name string, patronymic string, "
    "date_of_birth date, passport_num string, passport_valid_to date, phone string, "
    "create_dt timestamp, update_dt timestamp"
)


def _client(cid: str, name: str, create_dt, update_dt):
    return (cid, name, "I", "I", dt.date(1980, 1, 1), "1111 111111",
            dt.date(2030, 1, 1), "+7 111", create_dt, update_dt)


def _run_clients(spark, tmp_path, clients):
    wh = Warehouse(spark, str(tmp_path / "wh"))
    report = run_day(
        spark, wh, bank_sources={"clients": clients},
        run_ts=dt.datetime(2021, 3, 10, 23, 55), day=dt.date(2021, 3, 10),
    )
    meta = {r["table_name"]: r["max_update_dt"] for r in wh.read("meta", schemas.META).collect()}
    return report, meta["clients"]


def test_watermark_observed_before_the_dedup(spark, tmp_path):
    """Duplicate staging keys: the merge keeps C1's row with the later
    effective time (create_dt 03-05, no update_dt) and drops the one
    updated on 03-03. The watermark is the RAW staging table's
    ``coalesce(max(update_dt), max(create_dt))`` = 03-03; taken after
    the dedup it would read 03-05."""
    clients = spark.createDataFrame(
        [
            _client("C1", "kept", dt.datetime(2021, 3, 5), None),
            _client("C1", "superseded", dt.datetime(2021, 3, 1), dt.datetime(2021, 3, 3)),
            _client("C2", "other", dt.datetime(2021, 3, 2), None),
        ],
        CLIENTS,
    )
    report, wm = _run_clients(spark, tmp_path, clients)
    assert wm == watermark_of(clients) == dt.datetime(2021, 3, 3)
    deduped = clients.filter(F.col("last_name") != "superseded")
    assert watermark_of(deduped) == dt.datetime(2021, 3, 5)  # the value it must not take
    assert report.dim_counts["clients"] == {"inserted": 2, "updated": 0, "deleted": 0, "rows": 2}


def test_watermark_and_counts_of_empty_bootstrap(spark, tmp_path):
    """Empty dim and empty staging together: zero counts, and the
    watermark seeds at the sentinel exactly as a NULL aggregate did."""
    clients = spark.createDataFrame([], CLIENTS)
    report, wm = _run_clients(spark, tmp_path, clients)
    assert watermark_of(clients) is None
    assert wm == SENTINEL
    assert report.dim_counts["clients"] == {"inserted": 0, "updated": 0, "deleted": 0, "rows": 0}

"""Source reader tests: real reference file formats (SURVEY.md §1.3
verified shapes — semicolon/comma-decimal CSV, Excel-serial
blacklist with dirty trailing rows, drop-dir routing)."""

from __future__ import annotations

import datetime as dt
import decimal
import os
import time

import pytest

from etl_processing_scd1_spark.session import local_frame
from etl_processing_scd1_spark.sources import (
    read_blacklist_excel,
    read_transactions_csv,
    read_xlsx,
)
from etl_processing_scd1_spark.sources.readers import archive_file, scan_drop_dir
from .xlsx_util import write_xlsx

CSV_BODY = (
    "transaction_id;transaction_date;amount;card_num;oper_type;oper_result;terminal\n"
    "10000000001;2021-03-01 07:10:15;1046,40;4513 5880 2369 1799;PAYMENT;SUCCESS;A1023\n"
    "10000000002;2021-03-01 08:00:00;10000,00;7432 6538 1679 4340;WITHDRAW;REJECT;P2077\n"
)


def _analyzed(df) -> str:
    return df._jdf.queryExecution().analyzed().toString()


def test_transactions_csv_comma_decimal(spark, tmp_path):
    p = tmp_path / "transactions_01032021.txt"
    p.write_text(CSV_BODY, encoding="utf8")
    df = read_transactions_csv(spark, str(p))
    rows = {r["trans_id"]: r for r in df.collect()}
    assert rows["10000000001"]["amt"] == decimal.Decimal("1046.40000")
    assert rows["10000000002"]["amt"] == decimal.Decimal("10000.00000")
    assert rows["10000000001"]["trans_date"] == dt.datetime(2021, 3, 1, 7, 10, 15)
    assert rows["10000000001"]["card_num"] == "4513 5880 2369 1799"  # spaces kept


def test_transactions_csv_malformed_rows_become_null(spark, tmp_path):
    """Permissive-mode semantics (engine matches the reference's
    tolerant pandas parsing): a garbage amount or timestamp yields
    NULL in that column, never a job failure."""
    p = tmp_path / "transactions_02032021.txt"
    p.write_text(
        "transaction_id;transaction_date;amount;card_num;oper_type;oper_result;terminal\n"
        "T1;2021-03-01 07:10:15;12,50;c;PAYMENT;SUCCESS;A1\n"
        "T2;not-a-date;garbage;c;PAYMENT;SUCCESS;A1\n",
        encoding="utf8",
    )
    rows = {r["trans_id"]: r for r in read_transactions_csv(spark, str(p)).collect()}
    assert rows["T1"]["amt"] is not None
    assert rows["T2"]["trans_date"] is None and rows["T2"]["amt"] is None
    assert rows["T2"]["oper_type"] == "PAYMENT"  # rest of the row survives


def test_xlsx_reader_and_cyrillic(spark, tmp_path):
    p = tmp_path / "terminals_01032021.xlsx"
    write_xlsx(
        str(p),
        [
            ["terminal_id", "terminal_type", "terminal_city", "terminal_address"],
            ["A1023", "ATM", "Москва", "ул. Ленина 1"],
            ["P2077", "POS", "Казань", "пр. Мира 7"],
        ],
    )
    df = read_xlsx(spark, str(p))
    rows = sorted(map(tuple, df.collect()))
    assert rows[0] == ("A1023", "ATM", "Москва", "ул. Ленина 1")
    assert df.columns == ["terminal_id", "terminal_type", "terminal_city", "terminal_address"]
    assert "LogicalRDD" not in _analyzed(df)  # parsed rows enter as a LocalRelation


def test_write_xlsx_bytes_do_not_depend_on_the_clock(tmp_path, monkeypatch):
    """Same rows, same bytes: the benchmark's seeded inputs are
    byte-identical only if no entry carries the wall-clock time."""
    from etl_processing_scd1_spark.sources.readers import write_xlsx as write

    rows = [["terminal_id", "terminal_city"], ["A1", "Москва"], [1, 2.5]]
    write(str(tmp_path / "a.xlsx"), rows)
    now = time.time()
    monkeypatch.setattr(time, "time", lambda: now + 3600)
    write(str(tmp_path / "b.xlsx"), rows)
    assert (tmp_path / "a.xlsx").read_bytes() == (tmp_path / "b.xlsx").read_bytes()


LOCAL_SCHEMA = "s string, i int, amt decimal(18,5), d date, ts timestamp"


@pytest.fixture
def novosibirsk_tz():
    """The Python process in a non-UTC zone (UTC+7, no DST); the
    session time zone stays UTC."""
    before = os.environ.get("TZ")
    os.environ["TZ"] = "Asia/Novosibirsk"
    time.tzset()
    yield
    if before is None:
        del os.environ["TZ"]
    else:
        os.environ["TZ"] = before
    time.tzset()


@pytest.mark.parametrize(
    "rows",
    [
        [
            ("a", 1, decimal.Decimal("1046.4"), dt.date(2021, 3, 1), dt.datetime(2021, 3, 1, 7, 10, 15)),
            ("Москва", -2, decimal.Decimal("0.00001"), dt.date(1969, 12, 31), dt.datetime(1970, 1, 1, 0, 0, 0, 5)),
            (None, None, None, None, None),
        ],
        [],
    ],
    ids=["typed_rows_and_nulls", "empty"],
)
def test_local_frame_matches_create_dataframe(spark, novosibirsk_tz, rows):
    """local_frame collects exactly what createDataFrame(list) does —
    a naive datetime is process-local time on both paths — but plans
    as a LocalRelation, not a Python RDD."""
    arrow, listed = local_frame(spark, rows, LOCAL_SCHEMA), spark.createDataFrame(rows, LOCAL_SCHEMA)
    assert arrow.schema == listed.schema
    assert arrow.collect() == listed.collect()
    as_utc = "date_format(ts, 'yyyy-MM-dd HH:mm:ss.SSSSSS')"  # session zone: UTC
    assert arrow.selectExpr(as_utc).collect() == listed.selectExpr(as_utc).collect()
    plan = _analyzed(arrow)
    assert "LocalRelation" in plan and "LogicalRDD" not in plan, plan


def test_local_frame_naive_datetime_is_local_time(spark, novosibirsk_tz):
    df = local_frame(spark, [(dt.datetime(2021, 3, 1, 12, 0),)], "ts timestamp")
    # 12:00 in UTC+7 is 05:00 UTC
    assert df.selectExpr("date_format(ts, 'HH:mm')").first()[0] == "05:00"


def test_local_frame_rejects_a_row_of_another_width(spark):
    with pytest.raises(ValueError, match="3 values for a 2-column schema"):
        local_frame(spark, [("a", 1), ("b", 2, "extra")], "s string, i int")
    with pytest.raises(ValueError):
        local_frame(spark, [("a",)], "s string, i int")


def test_blacklist_serial_dates_and_dirty_rows(spark, tmp_path):
    """Serial 44256 = 2021-03-01 [verified vs the real files]; the
    day-1/day-2 files contain trailing fully-empty rows the loader
    must drop."""
    p = tmp_path / "passport_blacklist_01032021.xlsx"
    write_xlsx(
        str(p),
        [
            ["date", "passport"],
            [44256, "4875 067387"],
            [44257, "7712 563284"],
            [None, None],  # dirty trailing rows (real-data behavior)
            [None, None],
        ],
    )
    df = read_blacklist_excel(spark, str(p))
    rows = sorted(map(tuple, df.collect()))
    assert len(rows) == 2
    assert rows[0] == (dt.datetime(2021, 3, 1), "4875 067387")
    assert rows[1] == (dt.datetime(2021, 3, 2), "7712 563284")


def test_drop_dir_routing_and_archive(tmp_path):
    """Intended prefix routing (pdf p.5), not the reference's
    truthiness-bugged substring dispatch (main.py:115,128)."""
    names = [
        "transactions_01032021.txt",
        "terminals_01032021.xlsx",
        "passport_blacklist_02032021.xlsx",
        "notes_01032021.txt",          # unknown prefix → ignored
        "transactions_01032021.xlsx",  # wrong extension → ignored
    ]
    for n in names:
        (tmp_path / n).write_bytes(b"x")
    found = scan_drop_dir(str(tmp_path))
    assert [(f.kind, f.business_date) for f in found] == [
        ("terminals", dt.date(2021, 3, 1)),
        ("transactions", dt.date(2021, 3, 1)),
        ("blacklist", dt.date(2021, 3, 2)),
    ]
    archived = archive_file(found[0].path, str(tmp_path / "archive"))
    assert archived.endswith("terminals_01032021.xlsx.backup")
    assert not os.path.exists(found[0].path)


def test_csv_corrupt_records_are_audited_not_dropped(spark, tmp_path):
    """PERMISSIVE CSV reads must surface malformed rows in a
    _corrupt_record column so ingestion can audit-and-quarantine
    instead of silently losing data (the reference's pandas reader
    would raise and abort the whole file)."""
    p = tmp_path / "tx.csv"
    p.write_text(
        "id;amount;day\n"
        "1;10,50;2021-03-01\n"
        "garbage-line-with-no-delimiters\n"
        "2;not-a-number;2021-03-02\n"
        "3;7,25;2021-03-03\n"
    )
    df = (
        spark.read.option("sep", ";")
        .option("header", "true")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .schema("id int, amount string, day date, _corrupt_record string")
        .csv(str(p))
        .cache()  # corrupt-record column requires the same pass
    )
    good = df.filter(df["_corrupt_record"].isNull())
    bad = df.filter(df["_corrupt_record"].isNotNull())
    assert good.count() == 3  # 'not-a-number' stays: amount is string-typed here
    assert bad.count() == 1
    assert "garbage" in bad.collect()[0]["_corrupt_record"]
    df.unpersist()


def test_transactions_csv_roundtrip_writer(spark, tmp_path):
    """write_transactions_csv emits the reference's format exactly:
    re-reading through read_transactions_csv reproduces every value,
    and the raw bytes carry ';' separators and comma decimals."""
    import datetime as dt
    import glob
    from decimal import Decimal

    from etl_processing_scd1_spark.sources.readers import (
        read_transactions_csv,
        write_transactions_csv,
    )

    rows = [
        ("T1", dt.datetime(2021, 3, 1, 10, 0, 0), Decimal("1046.40000"),
         "4513 5880 2369 1799", "PAYMENT", "SUCCESS", "A001"),
        ("T2", dt.datetime(2021, 3, 1, 11, 0, 0), Decimal("7.00000"),
         "4513 5880 2369 1799", "WITHDRAW", "REJECT", "P002"),
    ]
    df = spark.createDataFrame(
        rows,
        "trans_id string, trans_date timestamp, amt decimal(18,5), "
        "card_num string, oper_type string, oper_result string, terminal string",
    )
    out = str(tmp_path / "tx_out")
    write_transactions_csv(df, out)
    raw = "".join(open(f).read() for f in sorted(glob.glob(out + "/part-*.csv")))
    assert "1046,40000" in raw and ";" in raw.splitlines()[0]
    back = {r.trans_id: r for r in read_transactions_csv(spark, out).collect()}
    assert back["T1"].amt == Decimal("1046.40000")
    assert back["T2"].oper_result == "REJECT"
    assert back["T1"].trans_date == rows[0][1]


def test_fixed_width_roundtrip_exact(spark, tmp_path):
    """Fixed-width round-trip is value-exact for the cases the
    sf-table aggregate can't isolate: negative right-aligned
    integers, a string exactly at its declared width, and interior
    spaces surviving the trim (only edge whitespace is padding)."""
    from etl_processing_scd1_spark.sources.readers import (
        read_fixed_width,
        write_fixed_width,
    )

    specs = [
        ("id", 1, 6, "long"),
        ("name", 7, 10, "string"),
        ("cents", 17, 8, "long"),
    ]
    rows = [
        (1, "a b", -97602),          # interior space + negative amount
        (42, "0123456789", 0),       # name exactly at width 10
        (999999, "x", 9988030),      # id at width edge
    ]
    df = spark.createDataFrame(rows, "id long, name string, cents long")
    path = str(tmp_path / "fw")
    write_fixed_width(df, path, specs)
    back = {
        r["id"]: (r["name"], r["cents"])
        for r in read_fixed_width(spark, path, specs).collect()
    }
    assert back == {i: (n, c) for i, n, c in rows}
    # every rendered line has the exact total width
    widths = {len(r["value"]) for r in spark.read.text(path).collect()}
    assert widths == {24}


class TestDistributedXlsx:
    """Executor-side XLSX parse (binaryFile + mapInPandas) must match
    the driver-side reader file-for-file, including Cyrillic strings
    and preserved empty rows."""

    def _write_files(self, tmp_path, n=3):
        from tests.xlsx_util import write_xlsx

        paths = []
        for i in range(n):
            p = str(tmp_path / f"term_{i}.xlsx")
            write_xlsx(
                p,
                [
                    ["terminal_id", "terminal_type", "terminal_city"],
                    [f"A{i}00", "ATM", "Москва"],
                    [f"P{i}11", "POS", f"Город-{i}"],
                    [i * 10 + 7, "ATM", "Тверь"],  # numeric id cell
                ],
            )
            paths.append(p)
        return paths

    def test_matches_driver_side_reader_per_file(self, spark, tmp_path):
        from etl_processing_scd1_spark.sources.readers import (
            read_xlsx,
            read_xlsx_distributed,
        )

        paths = self._write_files(tmp_path)
        dist = read_xlsx_distributed(
            spark, str(tmp_path / "term_*.xlsx"), with_source_file=True
        )
        got = {
            p: sorted(
                tuple(r)[1:] for r in dist.collect()
                if r._source_file.endswith(os.path.basename(p))
            )
            for p in paths
        }
        for p in paths:
            want = sorted(tuple(r) for r in read_xlsx(spark, p).collect())
            assert got[p] == want, p

    def test_explicit_columns_keep_all_rows(self, spark, tmp_path):
        from etl_processing_scd1_spark.sources.readers import (
            read_xlsx_distributed,
        )

        paths = self._write_files(tmp_path, n=2)
        dist = read_xlsx_distributed(
            spark,
            str(tmp_path / "term_*.xlsx"),
            columns=["c1", "c2", "c3"],
        )
        # no header skipping: 4 rows per file including the header row
        assert dist.count() == 8
        assert dist.columns == ["c1", "c2", "c3"]

    def test_parse_runs_distributed_not_on_driver(self, spark, tmp_path):
        """The plan must be a binaryFile scan + mapInPandas — no
        driver-side createDataFrame of parsed content (LocalTableScan
        would betray a driver parse)."""
        from etl_processing_scd1_spark.sources.readers import (
            read_xlsx_distributed,
        )

        self._write_files(tmp_path)
        dist = read_xlsx_distributed(spark, str(tmp_path / "term_*.xlsx"))
        plan = dist._jdf.queryExecution().executedPlan().toString()
        assert "MapInPandas" in plan
        assert "LocalTableScan" not in plan

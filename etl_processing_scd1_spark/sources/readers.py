"""Source readers (SURVEY.md §2.A).

Distributed-first: CSV and Parquet scans are native Spark readers
(splittable, predicate-pushdown capable, scale to any file count).
XLSX has no core-Spark reader; the engine parses it driver-side with
a stdlib zip/XML parser (xlsx files in the reference are ≤151 rows —
dimension-snapshot sized, never fact-sized), then promotes to a
DataFrame. A fact-scale xlsx would be converted on ingest instead.

File discovery mirrors the reference's drop-dir protocol
(main.py:100-133): scan, route by name pattern, parse the business
date from the filename, archive after load. Routing here is by
explicit prefix pattern — the *intended* semantics — rather than the
reference's truthiness-bugged substring checks (SURVEY §3 EP-2).
"""

from __future__ import annotations

import datetime as dt
import os
import re
import shutil
import zipfile
from dataclasses import dataclass
from xml.etree import ElementTree

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import comma_decimal, excel_serial_to_date
from .. import schemas
from ..session import local_frame


def read_transactions_csv(spark: SparkSession, path: str) -> DataFrame:
    """Semicolon-separated, comma-decimal transactions CSV (A1, D11).

    Reference: ``pd.read_csv(path, sep=';', decimal=',')`` at
    main.py:116. The amount arrives as a string column and is
    normalized to DECIMAL(18,5) in the same projection, so the scan
    stays a single codegen stage. Splittable and parallel — unlike
    the reference's single-threaded pandas parse + executemany insert.
    """
    raw = spark.read.csv(
        path,
        sep=";",
        header=True,
        schema=schemas.TRANSACTIONS_CSV_RAW,
        encoding="UTF-8",
        timestampFormat="yyyy-MM-dd HH:mm:ss",
    )
    return raw.select(
        F.col("transaction_id").alias("trans_id"),
        F.col("transaction_date").alias("trans_date"),
        comma_decimal("amount").alias("amt"),
        "card_num",
        "oper_type",
        "oper_result",
        "terminal",
    )


def read_jdbc_table(
    spark: SparkSession,
    url: str,
    table: str,
    partition_column: str | None = None,
    num_partitions: int = 8,
    lower_bound: int | None = None,
    upper_bound: int | None = None,
    **options: str,
) -> DataFrame:
    """JDBC full-table extract (A4, main.py:76-85).

    The reference re-extracts entire source tables nightly through a
    single cursor. Here the extract is partitioned on a numeric key
    so N executors read ranges concurrently; callers that track
    watermarks (operators.meta) should push ``update_dt > wm`` into
    the query to make the extract incremental — the reference records
    watermarks but never uses them (SURVEY §4).
    """
    reader = (
        spark.read.format("jdbc").option("url", url).option("dbtable", table)
    )
    if partition_column is not None:
        reader = (
            reader.option("partitionColumn", partition_column)
            .option("numPartitions", str(num_partitions))
            .option("lowerBound", str(lower_bound or 0))
            .option("upperBound", str(upper_bound or 1_000_000))
        )
    for k, v in options.items():
        reader = reader.option(k, v)
    return reader.load()


# ---------------------------------------------------------------------------
# Driver-side XLSX (stdlib zip + XML — no third-party Spark package).
# ---------------------------------------------------------------------------

_NS = "{http://schemas.openxmlformats.org/spreadsheetml/2006/main}"


def _xlsx_rows(path: str) -> list[list[object]]:
    """Minimal xlsx cell extraction: shared strings + sheet1 rows.

    Returns python values: str for inline/shared strings, float/int
    for numbers, None for empty cells. Trailing fully-empty rows are
    preserved (the caller drops them — the reference's real blacklist
    files contain such dirty rows [SURVEY §1.3 verified]).
    """
    with open(path, "rb") as fh:
        return _xlsx_rows_from_bytes(fh.read())


def _xlsx_rows_from_bytes(data: bytes) -> list[list[object]]:
    """The parse core of :func:`_xlsx_rows` over in-memory bytes —
    shared with the executor-side distributed reader
    (:func:`read_xlsx_distributed`), where file content arrives as a
    ``binaryFile`` column, not a driver path."""
    import io

    with zipfile.ZipFile(io.BytesIO(data)) as zf:
        shared: list[str] = []
        if "xl/sharedStrings.xml" in zf.namelist():
            root = ElementTree.fromstring(zf.read("xl/sharedStrings.xml"))
            for si in root.findall(f"{_NS}si"):
                shared.append("".join(t.text or "" for t in si.iter(f"{_NS}t")))
        sheet_name = next(
            n for n in zf.namelist() if re.match(r"xl/worksheets/sheet1\.xml$", n)
        )
        root = ElementTree.fromstring(zf.read(sheet_name))
        rows: list[list[object]] = []
        for row in root.iter(f"{_NS}row"):
            values: dict[int, object] = {}
            for cell in row.findall(f"{_NS}c"):
                ref = cell.get("r", "A1")
                col_idx = 0
                for ch in ref:
                    if ch.isalpha():
                        col_idx = col_idx * 26 + (ord(ch.upper()) - 64)
                    else:
                        break
                v = cell.find(f"{_NS}v")
                if v is None or v.text is None:
                    continue
                if cell.get("t") == "s":
                    values[col_idx - 1] = shared[int(v.text)]
                elif cell.get("t") == "str":
                    values[col_idx - 1] = v.text
                else:
                    num = float(v.text)
                    values[col_idx - 1] = int(num) if num.is_integer() else num
            width = max(values, default=-1) + 1
            rows.append([values.get(i) for i in range(width)])
        width = max((len(r) for r in rows), default=0)
        return [r + [None] * (width - len(r)) for r in rows]


def read_xlsx(spark: SparkSession, path: str, columns: list[str] | None = None) -> DataFrame:
    """XLSX → DataFrame via driver-side stdlib parse (A2/A3).

    First row is the header unless ``columns`` overrides it. All
    values are surfaced as strings (numbers via repr) — downstream
    casts are explicit, mirroring the positional-alignment-then-coerce
    flow of the reference (main.py:61-62). The parsed rows enter the
    plan as an Arrow ``LocalRelation`` (``session.local_frame``): no
    stage over it waits on a Python worker. A row wider than the
    header raises.
    """
    rows = _xlsx_rows(path)
    if not rows:
        raise ValueError(f"empty xlsx: {path}")
    header = [str(c) for c in rows[0]] if columns is None else columns
    body = rows[1:] if columns is None else rows
    data = [
        [None if v is None else str(v) for v in r] + [None] * (len(header) - len(r))
        for r in body
    ]
    return local_frame(spark, data, ", ".join(f"`{c}` string" for c in header))


def _binary_files(spark: SparkSession, path_glob: str) -> DataFrame:
    """``binaryFile`` scan routed through directory + pathGlobFilter
    when the path ends in a glob: loading a glob PATH makes Spark's
    FileStreamSink compatibility probe log a full
    FileNotFoundException WARN stack on every read — pure noise that
    reads as a failure in audit logs. Filtering by basename pattern
    over the parent directory is the same file set without the
    probe."""
    d, base = os.path.split(path_glob)
    has_glob = any(ch in base for ch in "*?[")
    if has_glob and d and not any(ch in d for ch in "*?["):
        return (
            spark.read.format("binaryFile")
            .option("pathGlobFilter", base)
            .load(d)
        )
    return spark.read.format("binaryFile").load(path_glob)


def read_xlsx_distributed(
    spark: SparkSession,
    path_glob: str,
    columns: list[str] | None = None,
    with_source_file: bool = False,
) -> DataFrame:
    """XLSX → DataFrame with the parse on the EXECUTORS (closes the
    r7 "XLSX parse is driver-side" gap for multi-file drops): files
    flow through Spark's ``binaryFile`` source and each is unzipped /
    XML-parsed inside an Arrow ``mapInPandas`` pass by the same
    stdlib core as :func:`read_xlsx` (``_xlsx_rows_from_bytes``) —
    one shared parse, two execution sites.

    Parallelism is per FILE (an xlsx is a zip — not splittable), so
    a drop of N files parses on min(N, cores) executors concurrently
    and the driver never materializes any content; the remaining
    caveat, documented: one enormous single xlsx still lands on one
    task — that format simply has no split points.

    ``columns``: explicit header; when None the header is read
    driver-side from ONE file's first row (bounded metadata probe —
    only that file's bytes are touched) and every file's first row
    is dropped as its header. All values surface as strings exactly
    like :func:`read_xlsx`."""
    import glob as _glob

    import pandas as pd

    if columns is None:
        first = sorted(_glob.glob(path_glob))
        if not first:
            raise FileNotFoundError(path_glob)
        head_rows = _xlsx_rows(first[0])
        if not head_rows:
            raise ValueError(f"empty xlsx: {first[0]}")
        header = [str(c) for c in head_rows[0]]
        skip_header = True
    else:
        header = list(columns)
        skip_header = False

    binary = _binary_files(spark, path_glob)
    out_cols = (["_source_file"] if with_source_file else []) + header
    schema = ", ".join(f"`{c}` string" for c in out_cols)

    def parse_files(batches):
        for pdf in batches:
            out = []
            for path, content in zip(pdf["path"], pdf["content"]):
                rows = _xlsx_rows_from_bytes(bytes(content))
                body = rows[1:] if skip_header else rows
                for r in body:
                    vals = [
                        None if v is None else str(v) for v in r[: len(header)]
                    ]
                    vals += [None] * (len(header) - len(vals))
                    out.append(([path] if with_source_file else []) + vals)
            yield pd.DataFrame(out, columns=out_cols)

    return binary.select("path", "content").mapInPandas(parse_files, schema=schema)


def _col_letter(idx: int) -> str:
    out = ""
    idx += 1
    while idx:
        idx, rem = divmod(idx - 1, 26)
        out = chr(65 + rem) + out
    return out


def write_xlsx(path: str, rows: list[list[object]]) -> None:
    """Minimal OOXML writer (stdlib zip + XML): one worksheet,
    numeric and ``t="str"`` string cells, empty cells omitted — the
    write half of the xlsx round trip, shaped like the reference's
    real terminal/blacklist files. Driver-side by design: xlsx is a
    fixture/exchange format here, not a scale sink (Parquet is)."""
    cells_xml = []
    for r, row in enumerate(rows, start=1):
        cs = []
        for c, v in enumerate(row):
            if v is None:
                continue
            ref = f"{_col_letter(c)}{r}"
            if isinstance(v, (int, float)):
                cs.append(f'<c r="{ref}"><v>{v}</v></c>')
            else:
                from xml.sax.saxutils import escape

                cs.append(f'<c r="{ref}" t="str"><v>{escape(str(v))}</v></c>')
        cells_xml.append(f'<row r="{r}">{"".join(cs)}</row>')
    sheet = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">'
        f'<sheetData>{"".join(cells_xml)}</sheetData></worksheet>'
    )
    content_types = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">'
        '<Default Extension="xml" ContentType="application/xml"/>'
        '<Override PartName="/xl/workbook.xml" ContentType="application/vnd.'
        'openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>'
        '<Override PartName="/xl/worksheets/sheet1.xml" ContentType="application/'
        'vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>'
        "</Types>"
    )
    workbook = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">'
        '<sheets><sheet name="Sheet1" sheetId="1" r:id="rId1" '
        'xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/'
        'relationships"/></sheets></workbook>'
    )
    # entries keep ZipInfo's fixed 1980-01-01 stamp, not the wall
    # clock: the same rows give the same bytes
    with zipfile.ZipFile(path, "w") as zf:
        zf.writestr(zipfile.ZipInfo("[Content_Types].xml"), content_types)
        zf.writestr(zipfile.ZipInfo("xl/workbook.xml"), workbook)
        zf.writestr(zipfile.ZipInfo("xl/worksheets/sheet1.xml"), sheet)


def read_blacklist_excel(spark: SparkSession, path: str) -> DataFrame:
    """Passport-blacklist XLSX: Excel-serial dates + empty-row noise
    (A3, D12; main.py:128-130).

    Drops fully-empty rows [verified dirty-data behavior] and converts
    the serial day number to a date, then to TIMESTAMP(0) ``entry_dt``.
    """
    raw = read_xlsx(spark, path)
    date_col, passport_col = raw.columns[0], raw.columns[1]
    return (
        raw.filter(F.col(date_col).isNotNull() | F.col(passport_col).isNotNull())
        .select(
            excel_serial_to_date(F.col(date_col))
            .cast("timestamp")
            .alias("entry_dt"),
            F.col(passport_col).alias("passport_num"),
        )
    )


# ---------------------------------------------------------------------------
# Drop-directory protocol (A8, A9).
# ---------------------------------------------------------------------------

FILE_ROUTES: dict[str, re.Pattern[str]] = {
    # Intended routing (task pdf p.5): type prefix + ddMMyyyy date.
    "transactions": re.compile(r"^transactions_(\d{8})\.(txt|csv)$"),
    "terminals": re.compile(r"^terminals_(\d{8})\.xlsx$"),
    "blacklist": re.compile(r"^passport_blacklist_(\d{8})\.xlsx$"),
}


@dataclass(frozen=True)
class DiscoveredFile:
    kind: str
    path: str
    business_date: dt.date


def scan_drop_dir(drop_dir: str, as_written: bool = False) -> list[DiscoveredFile]:
    """Discover and route input files (A8, main.py:101-133).

    Returns files sorted by (business_date, kind) so a multi-day
    backlog replays in order. Default routing is explicit-prefix
    (intended semantics). ``as_written=True`` is the bug-compat mode
    reproducing the reference's dispatch truthiness EXACTLY
    (main.py:106-133) for byte-for-byte migration validation:

    - extension gate reads ``name.split('.')[1]`` — the FIRST dot —
      so ``daily.v2.txt`` has "format" ``v2`` and is skipped;
    - branch 1 is ``if 'transactions' and ('.txt' or '.csv') in file``
      which evaluates as ``'.txt' in file``: ANY filename containing
      ``.txt`` routes to transactions regardless of prefix, and a
      ``transactions_*.csv`` file NEVER takes this branch;
    - branch 3 is ``'passport_blacklist' and '.xlsx' in file`` ≡
      ``'.xlsx' in file``: every xlsx not named ``terminals`` routes
      to the blacklist;
    - a dot-less filename raises IndexError at the extension read
      (``file.split('.')[1]``), exactly like the reference;
    - the ddMMyyyy stamp parses BEFORE branch routing (main.py:110-111
      runs it for every allowed-extension file), so an
      allowed-extension file that matches no branch — e.g.
      ``data.csv`` — still raises ValueError on a bad stamp instead of
      being silently skipped.
    """
    found: list[DiscoveredFile] = []
    if not os.path.isdir(drop_dir):
        return found
    for name in sorted(os.listdir(drop_dir)):
        full = os.path.join(drop_dir, name)
        if as_written:
            fmt = name.split(".")[1]  # IndexError on dot-less, as written
            if fmt not in ("csv", "txt", "xlsx"):
                continue
            # date parse precedes routing, as written — raises even for
            # files no branch will accept
            stamp = name.split("_")[-1].split(".")[0]
            date = dt.datetime.strptime(stamp, "%d%m%Y").date()
            if ".txt" in name:
                kind = "transactions"
            elif "terminals" in name and ".xlsx" in name:
                kind = "terminals"
            elif ".xlsx" in name:
                kind = "blacklist"
            else:
                continue  # the reference's csv branch is unreachable
            found.append(DiscoveredFile(kind, full, date))
            continue
        for kind, pattern in FILE_ROUTES.items():
            m = pattern.match(name)
            if m:
                date = dt.datetime.strptime(m.group(1), "%d%m%Y").date()
                found.append(DiscoveredFile(kind, full, date))
                break
    found.sort(key=lambda f: (f.business_date, f.kind))
    return found


def archive_file(path: str, archive_dir: str) -> str:
    """Post-ingest archival: move to archive/ with a ``.backup``
    suffix (A9, main.py:68-70; pdf p.5). The streaming module's
    ``cleanSource='archive'`` is the always-on equivalent."""
    os.makedirs(archive_dir, exist_ok=True)
    dest = os.path.join(archive_dir, os.path.basename(path) + ".backup")
    shutil.move(path, dest)
    return dest


def write_transactions_csv(df: DataFrame, path: str) -> None:
    """Writer-side twin of :func:`read_transactions_csv` — emit the
    reference's exact on-disk format (``;`` separator, COMMA decimal
    amounts, the source header names; main.py:116's
    ``sep=';', decimal=','`` read contract), so the engine can feed
    downstreams that still consume the legacy drop-dir files. The
    comma decimal is produced by formatting the DECIMAL as a plain
    string and translating the point — never float formatting, which
    would vary by locale/engine. Executor-parallel: one file per
    partition, splittable on re-read."""
    from pyspark.sql import functions as F

    out = df.select(
        F.col("trans_id").alias("transaction_id"),
        F.date_format("trans_date", "yyyy-MM-dd HH:mm:ss").alias("transaction_date"),
        F.translate(F.col("amt").cast("string"), ".", ",").alias("amount"),
        "card_num",
        "oper_type",
        "oper_result",
        "terminal",
    )
    out.write.mode("overwrite").option("sep", ";").option("header", True).csv(path)


def read_fixed_width(
    spark: SparkSession,
    path: str,
    colspecs: list[tuple[str, int, int, str]],
) -> DataFrame:
    """Fixed-width text reader — the mainframe/legacy-extract format
    the reference's CSV/XLSX drop-dir family would meet next in a
    bank integration (reference scope: ``main.py:54-168`` file
    sources). ``colspecs`` = (column, 1-based start, width, spark
    type); each field is substringed, trimmed and cast — all
    JVM-side ``substring``/``trim``/``cast`` column expressions on
    one ``spark.read.text`` scan, so the parse stays inside
    whole-stage codegen (no UDF, no Python row loop) and the text
    scan splits by line like any other (unlike gzip-JSONL, plain
    fixed-width is splittable — HDFS line splitting applies).

    Numeric fields are expected as right-aligned integers (render
    decimals as scaled integers, e.g. cents) — fixed-width files
    carrying locale-formatted floats should be parsed as strings and
    routed through ``functions.parse_comma_decimal``."""
    from pyspark.sql import functions as F

    raw = spark.read.text(path)
    cols = [
        F.trim(F.substring(F.col("value"), start, width)).cast(typ).alias(name)
        for name, start, width, typ in colspecs
    ]
    return raw.select(*cols)


def write_fixed_width(
    df: DataFrame,
    path: str,
    colspecs: list[tuple[str, int, int, str]],
) -> None:
    """Render ``df`` as fixed-width text (the write half of the
    round-trip; column order and widths from the same ``colspecs``
    as :func:`read_fixed_width`). String fields are left-aligned
    (rpad), everything else right-aligned (lpad) — both truncate at
    the declared width, which callers must size to their domain.
    Executor-parallel single text column write; no driver state."""
    from pyspark.sql import functions as F

    rendered = []
    for name, _start, width, typ in colspecs:
        c = F.col(name).cast("string")
        pad = F.rpad if typ == "string" else F.lpad
        rendered.append(pad(c, width, " "))
    df.select(F.concat(*rendered).alias("value")).write.mode("overwrite").text(path)


def read_avro_distributed(
    spark: SparkSession,
    path_glob: str,
    with_source_file: bool = False,
) -> DataFrame:
    """Avro object-container files → DataFrame with the decode on the
    EXECUTORS: files flow through Spark's ``binaryFile`` source and
    each is parsed inside an Arrow ``mapInPandas`` pass by the
    stdlib codec (``sources/avro.py::loads_avro``) — the same parse
    the Iceberg metadata layer uses, pointed at DATA.

    The output schema comes from ONE file's header (bounded driver
    probe — ``read_avro_header`` reads the header prefix, never the
    blocks) via ``avro_sql_fields``; flat scalar records only, with
    ``["null", X]`` unions as nullable columns. Parallelism is per
    file — Avro blocks are individually sync-delimited and COULD
    split further, but per-file tasks already saturate a drop of
    many files, which is the shape Avro data lands in."""
    import glob as _glob

    import pandas as pd

    from .avro import avro_sql_fields, loads_avro, read_avro_header

    first = sorted(_glob.glob(path_glob))
    if not first:
        raise FileNotFoundError(path_glob)
    header = read_avro_header(first[0])
    fields = avro_sql_fields(header["avro.schema"].decode())

    binary = _binary_files(spark, path_glob)
    out_cols = (["_source_file"] if with_source_file else []) + [n for n, _ in fields]
    schema = ", ".join(
        (["`_source_file` string"] if with_source_file else [])
        + [f"`{n}` {t}" for n, t in fields]
    )

    def parse_files(batches):
        for pdf in batches:
            for path, blob in zip(pdf["path"], pdf["content"]):
                _meta, records = loads_avro(bytes(blob))
                data = {n: [r.get(n) for r in records] for n, _ in fields}
                if with_source_file:
                    data = {"_source_file": [path] * len(records), **data}
                yield pd.DataFrame(data, columns=out_cols)

    return binary.select("path", "content").mapInPandas(parse_files, schema=schema)

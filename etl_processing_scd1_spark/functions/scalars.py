"""Scalar function surface (SURVEY.md §2.D).

Every helper is a pure Column-in → Column-out expression built from
``pyspark.sql.functions`` — JVM-side, whole-stage-codegen friendly,
no Python UDFs. Each cites the reference usage it re-expresses.

Scale note: these are all narrow (per-row) expressions; they fuse
into the surrounding codegen stage and add no shuffle at any scale.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import DecimalType


def comma_decimal(col: Column | str, precision: int = 18, scale: int = 5) -> Column:
    """Parse a comma-decimal string ("1046,40") into DECIMAL(p,s).

    Reference: ``pd.read_csv(..., decimal=',')`` at main.py:116 (D11).
    Spark's CSV reader has no ``decimal=','`` option, so the engine
    reads the column as string and normalizes with one regexp — a
    codegen'd expression, applied at scan time so the cast result
    participates in predicate pushdown on later filters.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_replace(c, ",", ".").cast(DecimalType(precision, scale))


# Excel stores dates as days since 1899-12-30 (the 1900 leap-year bug
# makes the epoch the 30th, not the 31st). Verified against the
# reference's blacklist files: serial 44256 == 2021-03-01 (SURVEY §1.3).
EXCEL_EPOCH = "1899-12-30"


def excel_serial_to_date(col: Column | str) -> Column:
    """Excel serial day number → DateType (D12, main.py:129)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.date_add(F.lit(EXCEL_EPOCH).cast("date"), c.cast("int"))


def filename_business_date(path_col: Column | str, pattern: str = r"_(\d{8})\.") -> Column:
    """Extract the ddMMyyyy business date embedded in a file name.

    Reference: ``datetime.strptime(name_part, '%d%m%Y')`` over
    ``transactions_01032021.txt``-style names (D10, main.py:110-111).
    Use with ``F.input_file_name()`` for scan-time discovery.
    """
    c = F.col(path_col) if isinstance(path_col, str) else path_col
    return F.to_date(F.regexp_extract(c, pattern, 1), "ddMMyyyy")


def trim_key(col: Column | str) -> Column:
    """BPCHAR blank-pad normalization for join keys (D4, main.py:407)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.trim(c)


def normalize_card_num(col: Column | str) -> Column:
    """Strip ALL spaces from a card number (D5, main.py:458).

    The reference is inconsistent — ``trim()`` in fraud rules 1-2 but
    ``replace(x,' ','')`` in rule 3; the engine exposes both and uses
    full normalization where key equality across formats is intended.
    ``translate`` beats ``regexp_replace`` here: no regex engine.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.translate(c, " ", "")


def hours_between(ts_a: Column | str, ts_b: Column | str) -> Column:
    """Fractional hours between two timestamps.

    Reference D8: ``extract(epoch FROM a - b)/3600`` (main.py:441).
    """
    a = F.col(ts_a) if isinstance(ts_a, str) else ts_a
    b = F.col(ts_b) if isinstance(ts_b, str) else ts_b
    return (F.unix_timestamp(a) - F.unix_timestamp(b)) / F.lit(3600.0)

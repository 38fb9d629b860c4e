from .scalars import (
    comma_decimal,
    excel_serial_to_date,
    filename_business_date,
    hours_between,
    normalize_card_num,
    trim_key,
)

__all__ = [
    "comma_decimal",
    "excel_serial_to_date",
    "filename_business_date",
    "hours_between",
    "normalize_card_num",
    "trim_key",
]

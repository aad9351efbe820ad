from lakeforge.functions.dates import DEFAULT_DATE_FORMATS, month_key, parse_date_multi
from lakeforge.functions.keys import hash_sk, md5_int

__all__ = [
    "DEFAULT_DATE_FORMATS",
    "parse_date_multi",
    "month_key",
    "hash_sk",
    "md5_int",
]

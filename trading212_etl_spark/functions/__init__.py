from .strings import capitalize, regexp_strip_prefixes, replace_exact, strict_trim
from .dates import date_str

__all__ = [
    "capitalize",
    "regexp_strip_prefixes",
    "replace_exact",
    "strict_trim",
    "date_str",
]

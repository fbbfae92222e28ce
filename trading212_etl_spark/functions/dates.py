"""Date function F5 (SURVEY §2.8). The timestamp battery F6-F10 is
the ``timestamp_funcs`` registry entry and the 365-day tumbling
windows (SURVEY §2.9 T1) are ``F.window`` in ``operators/events.py``."""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def date_str(col: Column | str) -> Column:
    """F5/P9 — ``Time[:10]``: the date prefix of a timestamp string
    (trading212.py:118). On a typed timestamp column the principled
    form is date_format; on a string column it is substring(1,10) —
    both yield ``YYYY-MM-DD``.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.date_format(c, "yyyy-MM-dd")

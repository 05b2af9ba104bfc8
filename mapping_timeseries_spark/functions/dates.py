"""Month-string helpers.

The reference stores time as ``'yyyy-MM'`` strings and round-trips through
``to_date`` / ``add_months`` / ``date_format`` for lag arithmetic
(reference: mapping_engine.py:626-627). Keeping the conversion in one place
is SURVEY §7.4 risk #2: Spark parses ``'2024-01'`` leniently to the first of
the month; the DuckDB oracle needs an explicit ``strptime(month || '-01')``.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

MONTH_FORMAT = "yyyy-MM"


def shift_month(month: Column | str, offset: Column | int) -> Column:
    """Add ``offset`` months to a ``'yyyy-MM'`` string, returning a string.

    ``offset`` may be a per-row column — this is what makes the lag join
    (SURVEY §2.3 J2) an equi-join on a computed key rather than a range
    join.
    """
    return F.date_format(F.add_months(F.to_date(month), offset), MONTH_FORMAT)


def date_to_month(d: Column | str) -> Column:
    """date/timestamp -> ``'yyyy-MM'`` string."""
    return F.date_format(d, MONTH_FORMAT)


def month_add(month: str, offset: int) -> str:
    """Driver-side ``'yyyy-MM'`` + months (plain python — for computing
    scan bounds before any DataFrame exists, e.g. the incremental run's
    forward lag reach)."""
    y, m = map(int, month.split("-"))
    total = y * 12 + (m - 1) + offset
    return f"{total // 12:04d}-{total % 12 + 1:02d}"


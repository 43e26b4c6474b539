"""java.time ResolverStyle.SMART replica for reference timestamp parity.

The reference parses timestamps with `DateTimeFormatterBuilder()
.parseCaseInsensitive().appendPattern(fmt).toFormatter` — the DEFAULT
resolver style, SMART (parser/package.scala:13-16, FileParser.scala:59).
SMART accepts two shapes a strict parse rejects, binary-probed this
session (round 5, fuzz axis `smartts`):

  * day-of-month inside the 1-31 FIELD range but past the month's
    actual length -> capped to the month's last day
    (31-APR-2024 -> Apr 30, 30-FEB-2024 -> Feb 29, 29-FEB-2023 -> Feb 28)
  * HOUR_OF_DAY == 24 with minutes==seconds==00 -> next-day midnight
    (31-DEC-2024 24:00:00 -> 2025-01-01T00:00)
  * combined: the day caps FIRST, then hour 24 rolls the date
    (31-FEB-2024 24:00:00 -> 2024-03-01T00:00)

Out-of-FIELD-range values stay reference CRASHES = labeled rejects
here: day 00 or 32, minute/second 60, 24:30:00, 24:00:01 (all probed).

Both engine parsers and the pure-Python oracle route strict-parse
FAILURES through this module; strings the strict parse accepts never
reach it, so the hot path is unchanged.  Supported format directives:
dd MM MMM yyyy HH mm ss (the reference README's two patterns and any
literal-separated combination of these); other directives disable the
fallback (strict reject, documented divergence).
"""

from __future__ import annotations

import calendar
import re
from datetime import datetime, timedelta

_MONTHS = {m.upper(): i for i, m in enumerate(calendar.month_abbr) if m}

# (java token, regex, field key) — longest-first so 'yyyy' wins over 'yy'
_JAVA_DIRECTIVES = [
    ("yyyy", r"(\d{4})", "Y"),
    ("MMM", r"([A-Za-z]{3})", "b"),
    ("MM", r"(\d{2})", "m"),
    ("dd", r"(\d{2})", "d"),
    ("HH", r"(\d{2})", "H"),
    ("mm", r"(\d{2})", "Mi"),
    ("ss", r"(\d{2})", "S"),
]


def compile_java_ts_format(java_fmt: str):
    """(anchored regex string, ordered field keys) or None if the
    pattern uses directives outside the supported set."""
    rx, fields, i = "", [], 0
    while i < len(java_fmt):
        for tok, sub, key in _JAVA_DIRECTIVES:
            if java_fmt.startswith(tok, i):
                rx += sub
                fields.append(key)
                i += len(tok)
                break
        else:
            ch = java_fmt[i]
            if ch.isalpha():  # an unsupported pattern letter
                return None
            rx += re.escape(ch)
            i += 1
    required = {"Y", "d", "H", "Mi", "S"}
    if not required <= set(fields) or not ({"b", "m"} & set(fields)):
        return None
    return rx, fields


def py_smart_resolve(s: str, java_fmt: str) -> datetime | None:
    """SMART-resolve a string the strict parse rejected; None = no
    SMART value this surface can represent (the reference would either
    crash — field out of range / no match — or, at the year-0 /
    year-9999-roll extremes, produce a LocalDateTime outside Python's
    datetime range: those stay labeled rejects, a documented bound
    shared with the strict path's own representable range)."""
    spec = compile_java_ts_format(java_fmt)
    if spec is None:
        return None
    rx, fields = spec
    m = re.fullmatch(rx, s)
    if not m:
        return None
    v = dict(zip(fields, m.groups()))
    if "b" in v:
        mo = _MONTHS.get(v["b"].upper())
    else:
        mo = int(v["m"])
    d, hh, mi, ss = int(v["d"]), int(v["H"]), int(v["Mi"]), int(v["S"])
    y = int(v["Y"])
    if (mo is None or not 1 <= mo <= 12 or not 1 <= d <= 31
            or not 0 <= mi <= 59 or not 0 <= ss <= 59
            or hh > 24 or (hh == 24 and (mi or ss))
            or not 1 <= y <= 9999):
        return None
    d = min(d, calendar.monthrange(y, mo)[1])  # SMART day cap
    try:
        dt = datetime(y, mo, d, hh % 24, mi, ss)
        if hh == 24:  # SMART 24:00:00 = next-day midnight (cap, THEN roll)
            dt += timedelta(days=1)
    except (OverflowError, ValueError):  # 31-DEC-9999 24:00:00 roll
        return None
    return dt


def smart_ts_expr(col, java_fmt: str):
    """The same SMART fallback as a pure-JVM expression column (for the
    SQL parser): null where the reference would crash. Intended inside
    coalesce(try_to_timestamp(...), smart_ts_expr(...)) so only
    strict-parse failures take this branch's value."""
    from pyspark.sql import functions as F

    spec = compile_java_ts_format(java_fmt)
    if spec is None:
        return F.lit(None).cast("timestamp")
    rx, fields = spec
    rx_anchored = r"\A" + rx + r"\z"
    # ONE regex pass: pack every group NUL-joined (the parse_sql update
    # idiom — this branch sits in an interpreted Project with no CSE,
    # so per-field regexp_extract would re-run the full pattern 7x per
    # fallback row), then split. regexp_like gates non-matching rows.
    packed = F.regexp_replace(
        col, rx_anchored,
        "\x00".join(f"${i + 1}" for i in range(len(fields))),
    )
    parts = F.split(packed, "\x00")
    g = {key: F.get(parts, i) for i, key in enumerate(fields)}
    if "b" in g:
        mo = F.upper(g["b"])
        month_expr = F.lit(None).cast("int")
        for name, num in _MONTHS.items():
            month_expr = F.when(mo == name, num).otherwise(month_expr)
    else:
        month_expr = g["m"].cast("int")
    y = g["Y"].cast("int")
    d = g["d"].cast("int")
    hh = g["H"].cast("int")
    mi = g["Mi"].cast("int")
    ss = g["S"].cast("int")
    valid = (
        F.regexp_like(col, F.lit(rx_anchored))
        & (F.size(parts) == len(fields))
        & month_expr.between(1, 12)
        & d.between(1, 31)
        & mi.between(0, 59)
        & ss.between(0, 59)
        & ((hh <= 23) | ((hh == 24) & (mi == 0) & (ss == 0)))
        & y.between(1, 9999)
        # the 31-DEC-9999 24:00:00 roll lands in year 10000 — outside
        # the Python-side representable range (py_smart_resolve returns
        # None); keep the surfaces agreed by rejecting it here too
        & ~((hh == 24) & (y == 9999) & (month_expr == 12) & (d == 31))
    )
    first_of_month = F.make_date(y, month_expr, F.lit(1))
    d_cap = F.least(d, F.dayofmonth(F.last_day(first_of_month)))
    day_date = F.date_add(first_of_month, d_cap - 1)
    # WALL-CLOCK construction (make_timestamp), not instant+duration:
    # `date + 24h` would skew by an hour across a DST transition on
    # non-UTC sessions, while the reference's LocalDateTime (and the
    # Python twin) are timezone-free. Hour 24 = next calendar day 00:00.
    hh24 = hh == 24
    eff = F.when(hh24, F.date_add(day_date, 1)).otherwise(day_date)
    ts = F.make_timestamp(
        F.year(eff), F.month(eff), F.dayofmonth(eff),
        F.when(hh24, F.lit(0)).otherwise(hh), mi, ss.cast("double"),
    )
    return F.when(valid, ts).otherwise(F.lit(None).cast("timestamp"))

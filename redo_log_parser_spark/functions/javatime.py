"""The reference's --timestampPattern, compiled once for every parse
path, and its java.time ResolverStyle.SMART replica.

The reference parses each stamp into a LocalDateTime with ONE
formatter, `DateTimeFormatterBuilder().parseCaseInsensitive()
.appendPattern(fmt).toFormatter` (parser/package.scala:13-16,
FileParser.scala:59). `compile_java_ts_format` is the one translation
of that pattern here: the kernel and the oracle fullmatch its regex
before strptime, and the SMART fallback matches the same regex. Its
groups are fixed-width ASCII, as java.time reads them: `dd` refuses '1'
and Arabic-Indic digits, and a pattern space takes one space, where
strptime and Python's `\\d` are wider.

SMART, the formatter's default resolver style, accepts two shapes a
strict parse rejects, binary-probed in round 5 (fuzz axis `smartts`):

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
FAILURES through the replica; strings the strict parse accepts never
reach it, so the hot path is unchanged. A pattern without `mm` or `ss`
gets no fallback (strict reject, documented divergence).
"""

from __future__ import annotations

import calendar
import functools
import re
from datetime import datetime, timedelta

_MONTHS = {m.upper(): i for i, m in enumerate(calendar.month_abbr) if m}

# java.time letter run -> (regex group, field key, strptime directive)
_JAVA_DIRECTIVES = {
    "yyyy": ("([0-9]{4})", "Y", "%Y"),
    "MMM": ("([A-Za-z]{3})", "b", "%b"),
    "MM": ("([0-9]{2})", "m", "%m"),
    "dd": ("([0-9]{2})", "d", "%d"),
    "HH": ("([0-9]{2})", "H", "%H"),
    "mm": ("([0-9]{2})", "Mi", "%M"),
    "ss": ("([0-9]{2})", "S", "%S"),
}


@functools.lru_cache(maxsize=None)
def compile_java_ts_format(java_fmt: str) -> tuple[str, tuple, str]:
    """(regex to fullmatch, its groups' field keys, strptime format) of
    a java.time pattern of the tokens above and literals. ValueError
    names what it cannot translate: another letter, a quote, [ ] (an
    optional section), { } # (reserved); a field given twice; and a
    pattern java.time builds no LocalDateTime from."""
    rx, fields, st = [], [], []
    for m in re.finditer(r"([A-Za-z])\1*|.", java_fmt, re.S):
        run = m.group()
        if run in _JAVA_DIRECTIVES:
            group, key, directive = _JAVA_DIRECTIVES[run]
            # MMM and MM both give the month
            if key in fields or {key, *fields} >= {"b", "m"}:
                raise ValueError(
                    f"timestamp pattern {java_fmt!r} repeats {run!r}")
            rx.append(group)
            fields.append(key)
            st.append(directive)
        elif run.isalpha() or run in "'[]{}#":
            raise ValueError(
                f"timestamp pattern {java_fmt!r}: {run!r} is not "
                "supported (yyyy MMM MM dd HH mm ss and literals are)")
        else:
            rx.append(re.escape(run))
            st.append(run.replace("%", "%%"))
    if (not {"Y", "d", "H"} <= set(fields) or not {"b", "m"} & set(fields)
            or ("S" in fields and "Mi" not in fields)):
        raise ValueError(
            f"timestamp pattern {java_fmt!r} needs yyyy, MMM or MM, dd "
            "and HH, and ss needs mm")
    return "".join(rx), tuple(fields), "".join(st)


def py_smart_resolve(s: str, java_fmt: str) -> datetime | None:
    """SMART-resolve a string the strict parse rejected; None = no
    SMART value this surface can represent (the reference would either
    crash — field out of range / no match — or, at the year-0 /
    year-9999-roll extremes, produce a LocalDateTime outside Python's
    datetime range: those stay labeled rejects, a documented bound
    shared with the strict path's own representable range)."""
    rx, fields, _ = compile_java_ts_format(java_fmt)
    m = re.fullmatch(rx, s) if {"Mi", "S"} <= set(fields) else None
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

    rx, fields, _ = compile_java_ts_format(java_fmt)
    if not {"Mi", "S"} <= set(fields):
        return F.lit(None).cast("timestamp")
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

"""Java/Scala whitespace semantics, shared by every parse surface.

The reference's blank-line drop is `filterNot(_.isBlank)`
(FileParser.scala:22): String.isBlank tests Character.isWhitespace,
whose set is NOT Python's \\s and NOT Java regex's \\s —
  * includes \\x1c-\\x1f and the Zs/Zl/Zp separators \\u1680,
    \\u2000-\\u2006, \\u2008-\\u200a, \\u2028, \\u2029, \\u205f, \\u3000
  * EXCLUDES the non-breaking spaces \\u00a0, \\u2007, \\u202f (Python's
    \\s matches \\u00a0!) and \\u0085.
Probed against the in-sandbox binary (UTF-8 locale): a \\u3000-only
separator line is dropped; an \\u00a0-only line is a statement line
(and shifts the pairing — a reference crash shape on 2-line logs).

Statement / timestamp edge-trimming is String.trim (FileParser.scala:
55,58), which strips every char <= U+0020 — more than Spark's trim()
(space only), less than Python's str.strip() (which eats NBSP and the
Zs set). Both parsers use these exact sets so they stay byte-parity
twins on hostile unicode input (tests/test_unicode_parity.py; fuzz
axis `unicode`).
"""

from __future__ import annotations

from typing import TYPE_CHECKING

if TYPE_CHECKING:  # pure-Python consumers (oracle.py) need no pyspark
    from pyspark.sql import Column

# Character.isWhitespace minus '\n' (the line delimiter, handled by the
# splitters on both sides)
JAVA_WS_NO_NL = (
    "\t\x0b\f\r\x1c\x1d\x1e\x1f  "
    "       "
    "      　"
)

# regex character class, valid verbatim in BOTH Python re and Java
# regex (literal chars, no \s shorthand)
WS_CLS = "[" + JAVA_WS_NO_NL + "]"

# String.trim strips chars <= U+0020 from both ends
ASCII_TRIM = "".join(chr(i) for i in range(0x21))


def java_trim(c: "Column") -> "Column":
    """String.trim as a codegen expression (btrim over the <=0x20 set)."""
    from pyspark.sql import functions as F

    return F.btrim(c, F.lit(ASCII_TRIM))


def not_blank_line(ln: "Column") -> "Column":
    """NOT String.isBlank for a single (newline-free) line column."""
    return ~ln.rlike(r"\A" + WS_CLS + r"*\z")


def py_is_blank(line: str) -> bool:
    """String.isBlank for the pure-Python oracle."""
    return all(ch in JAVA_WS_NO_NL or ch == "\n" for ch in line)


def py_java_trim(s: str) -> str:
    """String.trim for the pure-Python oracle."""
    return s.strip(ASCII_TRIM)


# --- String.equalsIgnoreCase (round 5, fuzz axis `unicase`) ---------------
#
# Java compares per UTF-16 UNIT: c1 == c2, else
# Character.toUpperCase(c1) == Character.toUpperCase(c2), else
# toLowerCase of those uppercased units (String.regionMatches
# ignoreCase path, StringUTF16.regionMatchesCI). Character.toUpper/
# LowerCase are the SIMPLE (1:1) UnicodeData mappings — a char whose
# mapping is multi-char (ß→SS) maps to ITSELF. Python's str.lower/
# upper are the FULL mappings, so they diverge exactly where parity
# breaks: 'İ'~'i' and 'ı'~'I' are Java-equal but Python-lower-unequal,
# 'Σ'~'ς' Java-equal via shared uppercase. Probed in-sandbox
# (tests/test_unicode_parity.py pins the battery).

# Java Character.toLowerCase uses UnicodeData's simple mapping; the one
# character whose Python .lower() is multi-char but whose simple
# mapping exists is U+0130 (İ -> i + COMBINING DOT in full, 'i' simple)
_SIMPLE_LOWER = {"İ": "i"}


def utf16_units(s: str) -> list[str]:
    """The string as UTF-16 code units (astral chars -> 2 surrogates)."""
    if all(ord(ch) <= 0xFFFF for ch in s):
        return list(s)
    units: list[str] = []
    for ch in s:
        cp = ord(ch)
        if cp <= 0xFFFF:
            units.append(ch)
        else:
            cp -= 0x10000
            units.append(chr(0xD800 + (cp >> 10)))
            units.append(chr(0xDC00 + (cp & 0x3FF)))
    return units


def _java_upper_unit(ch: str) -> str:
    u = ch.upper()
    return u if len(u) == 1 else ch  # 1:M mapping -> unchanged (Java)


def _java_lower_unit(ch: str) -> str:
    if ch in _SIMPLE_LOWER:
        return _SIMPLE_LOWER[ch]
    l = ch.lower()
    return l if len(l) == 1 else ch


def java_equals_ignore_case(a: str, b: str) -> bool:
    """String.equalsIgnoreCase, unit-for-unit."""
    ua, ub = utf16_units(a), utf16_units(b)
    if len(ua) != len(ub):
        return False
    for c1, c2 in zip(ua, ub):
        if c1 == c2:
            continue
        u1, u2 = _java_upper_unit(c1), _java_upper_unit(c2)
        if u1 == u2:
            continue
        if _java_lower_unit(u1) != _java_lower_unit(u2):
            return False
    return True

"""RFC 3339 timestamp validation with chrono-compatible semantics.

The reference validates ``type: timestamp`` with chrono 0.4's
``DateTime::parse_from_rfc3339`` (reference: src/vm.rs:114-126,
Cargo.toml:17). Semantics reproduced here:

* full date-time only: ``date "T" time offset`` — no date-only / time-only,
* separator ``T`` or ``t`` (RFC 3339 §5.6 allows lowercase),
* mandatory offset: ``Z``/``z`` or ``±HH:MM`` (chrono requires an offset for
  ``DateTime<FixedOffset>``; naive timestamps are invalid),
* optional fractional seconds: ``.`` followed by one or more digits,
* proleptic-Gregorian calendar validity (leap years, days-in-month),
* seconds ``00``–``60`` (chrono accepts a ``:60`` leap second on any date,
  since it cannot know the leap-second table),
* offset magnitude strictly below 24 h: hours ``00``–``23``, minutes
  ``00``–``59`` (chrono ``FixedOffset`` validity range).

Chrono-parity pins (``tests/spec/timestamp.json`` "chrono parity pins"
suites) — each case's verdict with its chrono 0.4 justification:

* ``-00:00`` — **valid**: RFC 3339 unknown-offset; ``FixedOffset`` of 0 s
  is constructible, chrono parses it.
* ``+23:59`` — **valid** / ``±24:00`` — **invalid**: chrono ``FixedOffset``
  requires ``|secs| < 86_400``; 24:00 is exactly 86 400 → out of range.
  Our ``hour > 23`` check matches.
* 9-digit and 13-digit fractional seconds — **valid**: chrono's fraction
  scanner consumes any number of digits at nanosecond precision
  (truncating beyond 9); a bare ``.`` with no digit — **invalid**.
* year ``0000``/``9999`` — **valid**: chrono's proleptic-Gregorian range
  covers both; the RFC grammar is exactly 4 digits, so a signed year
  (``+2019``) or 3-digit year — **invalid** (chrono scans a fixed-width
  4-digit year here, no sign).
* lowercase ``t``/``z`` — **valid** (RFC 3339 §5.6 explicitly).

Version-dependent chrono behaviors, resolved to the strict RFC 3339
grammar (documented divergence risk): colon-less numeric offsets
(``+0930``, ``+09``) and the space separator (``2019-01-01 00:00:00Z``).
The ``time-numoffset`` production requires the colon and the grammar
requires ``T``, and modern chrono's dedicated RFC 3339 parser enforces
both, but 2019-era 0.4.x releases (contemporary with the reference,
Cargo.toml pins only ``chrono = "0.4"``) used more permissive scanners
that could accept them. We reject all three; the pins make the choice
explicit and testable instead of silent.
"""

from __future__ import annotations

import re

#: Field ranges live in the regex (C-speed alternations): month 01-12,
#: day 01-31, hour 00-23, minute 00-59, second 00-60 (leap second),
#: offset hour 00-23 / minute 00-59. Python code only settles the
#: calendar question (day vs days-in-month, leap years) — and only for
#: day >= 29, so the common case is one regex match + one string compare.
_RFC3339 = re.compile(
    r"""\A
    (\d{4})-(0[1-9]|1[0-2])-(0[1-9]|[12]\d|3[01])
    [Tt]
    (?:[01]\d|2[0-3]):[0-5]\d:(?:[0-5]\d|60)
    (?:\.\d+)?
    (?:[Zz]|[+-](?:[01]\d|2[0-3]):[0-5]\d)
    \Z""",
    re.VERBOSE,
)

_DAYS_IN_MONTH = (31, 28, 31, 30, 31, 30, 31, 31, 30, 31, 30, 31)


def is_rfc3339(s: str) -> bool:
    """True iff ``s`` is a valid RFC 3339 date-time with offset."""
    m = _RFC3339.match(s)
    if m is None:
        return False
    day = m.group(3)
    if day < "29":  # fixed-width digits: lexicographic == numeric
        return True
    month = int(m.group(2))
    d = int(day)
    if d <= _DAYS_IN_MONTH[month - 1]:
        return True
    if month == 2 and d == 29:
        y = int(m.group(1))
        return y % 4 == 0 and (y % 100 != 0 or y % 400 == 0)
    return False

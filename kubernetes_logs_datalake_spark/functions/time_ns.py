"""Nanosecond time kernel.

The reference parses ISO-8601 CRI timestamps with 1-9 fractional digits
to native int64 nanoseconds (null on garbage) and formats them back as
``YYYY-MM-DDTHH:MM:SS.nnnnnnnnnZ`` (reference
``images/fluentbit/compact_columns.c:18-60`` parse,
``y-logcli:175`` / ``images/arrow-tools/inspect_arrow.py:12-17`` format).

Spark timestamps are microsecond-precision, so the engine carries
``time_ns: long`` (ns since epoch, UTC) as the source of truth and all
ns-exact operations are expressed on the long with built-in column
functions — everything here stays inside whole-stage codegen; no UDFs.

Golden values (reference ``test_compact_columns.c:290-325``)::

    2024-01-15T10:30:45.123456789Z -> 1705314645123456789
    2024-01-15T10:30:46.000000000Z -> 1705314646000000000
    2024-01-15T10:30:47.999999999Z -> 1705314647999999999
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

NS_PER_SEC = 1_000_000_000

#: dtypes that carry epoch-ns longs (parquet TIMESTAMP(NANOS) read via
#: spark.sql.legacy.parquet.nanosAsLong). 32-bit ints are deliberately
#: NOT here: an int can never hold epoch-ns, and int→timestamp casts
#: interpret epoch-seconds correctly on the timestamp branch.
_LONG_DTYPES = frozenset({"bigint", "long"})

# ISO-8601 UTC with optional 1-9 fractional digits, as produced by CRI
# runtimes. Anything else (missing Z, >9 digits, garbage) parses to null,
# matching the reference's null-on-failure contract.
_ISO_NS_RE = r"^(\d{4}-\d{2}-\d{2}T\d{2}:\d{2}:\d{2})(?:\.(\d{1,9}))?Z$"


def _col(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


def _floordiv(n: Column, d: int) -> Column:
    """Exact integer floor-division for longs. ``/`` on longs yields a
    double, which is inexact past 2^53 — ns-since-epoch (~1.7e18)
    exceeds that, so route through decimal on an exact multiple."""
    exact = n - F.pmod(n, F.lit(d))
    return (exact.cast("decimal(38,0)") / F.lit(d)).cast("long")


def cri_ts_to_ns(ts: Column | str) -> Column:
    """Parse an ISO-8601 ns-precision UTC timestamp string to int64 ns.

    Null-safe: malformed strings and invalid calendar dates yield null
    (the reference nulls the row's time on parse failure,
    ``compact_columns.c:113-140``). Pure built-ins: regexp split of the
    seconds/fraction parts, ``try_to_timestamp`` for calendar validation,
    integer math for the fraction — vectorized and codegen-friendly.
    """
    ts = _col(ts)
    sec_str = F.regexp_extract(ts, _ISO_NS_RE, 1)
    frac_str = F.regexp_extract(ts, _ISO_NS_RE, 2)
    # UTC epoch seconds of the whole-second part; null if no regex match
    # (sec_str='') or the date is not a real calendar instant. Session
    # timezone is pinned UTC (session.py), matching the reference's
    # timegm-style parse that ignores local tz (compact_columns.c:53-58).
    sec_ts = F.try_to_timestamp(
        F.when(sec_str != "", sec_str), F.lit("yyyy-MM-dd'T'HH:mm:ss")
    )
    # try_multiply/try_add: a valid-format timestamp past 2262 overflows
    # long ns — the contract is null on anything unrepresentable, and
    # under Spark 4's default ANSI mode an unguarded overflow would be
    # a streaming poison pill (batch fails → checkpoint replays → loop)
    sec_ns = F.try_multiply(F.unix_timestamp(sec_ts), F.lit(NS_PER_SEC))
    # Right-pad the 1..9 fractional digits to 9 → exact nanos.
    frac_ns = F.when(frac_str == "", F.lit(0)).otherwise(
        F.rpad(frac_str, 9, "0").cast("long")
    )
    return F.try_add(sec_ns, frac_ns).alias("time_ns")


def ns_to_timestamp(ns: Column | str) -> Column:
    """Derive the µs-precision TIMESTAMP_NTZ used for predicates, joins
    and pushdown from the ns long (truncation, like DuckDB's read of the
    reference's TIMESTAMP(NANOS) parquet)."""
    ns = _col(ns)
    return F.timestamp_micros(_floordiv(ns, 1000)).cast("timestamp_ntz").alias("time")


def fmt_ns_iso(ns: Column | str) -> Column:
    """Format int64 ns → ``YYYY-MM-DDTHH:MM:SS.nnnnnnnnnZ``.

    Same composition as the reference's display formatter
    (``y-logcli:175``: strftime || '.' || lpad(epoch_ns % 1e9, 9, '0') || 'Z').
    Valid for ns >= 0 (post-1970, which all log data is).
    """
    ns = _col(ns)
    secs = F.timestamp_seconds(_floordiv(ns, NS_PER_SEC))
    frac = F.lpad(F.pmod(ns, NS_PER_SEC).cast("string"), 9, "0")
    return F.concat(
        F.date_format(secs, "yyyy-MM-dd'T'HH:mm:ss"), F.lit("."), frac, F.lit("Z")
    )


def epoch_ns_col(df: DataFrame, col: str) -> Column:
    """Schema-adaptive epoch-ns long from a time column.

    Never hard-assume the physical type of an input column — the
    reference infers schema at query time (``y-logcli:267-273``). A lake
    written by the reference's Fluent Bit plugin carries parquet
    TIMESTAMP(NANOS), which Spark surfaces as an ns long (nanosAsLong);
    a lake written by stock Spark/pyarrow carries µs ``timestamp`` /
    ``timestamp_ntz``. Both normalize to the same epoch-ns long (the µs
    path is ×1000, sub-µs digits zero; session tz is pinned UTC so the
    timestamp cast is exact).
    """
    dtype = dict(df.dtypes).get(col)
    if dtype is None:
        raise ValueError(f"column {col!r} not in {df.columns}")
    c = F.col(col)
    if dtype in _LONG_DTYPES:
        return c.cast("long")
    # try_multiply: a corrupt far-future µs timestamp (year 9999 is
    # µs-representable but not ns) nulls instead of aborting the whole
    # query under default-ANSI arithmetic
    return F.try_multiply(F.unix_micros(c.cast("timestamp")), F.lit(1000))


def epoch_us_col(df: DataFrame, col: str) -> Column:
    """Schema-adaptive epoch-µs long (truncating ns → µs, the exact
    value DuckDB's µs TIMESTAMP sees). See :func:`epoch_ns_col`."""
    dtype = dict(df.dtypes).get(col)
    if dtype is None:
        raise ValueError(f"column {col!r} not in {df.columns}")
    c = F.col(col)
    if dtype in _LONG_DTYPES:
        return _floordiv(c.cast("long"), 1000)
    return F.unix_micros(c.cast("timestamp"))


_UNIT_NAMES = {"s": "seconds", "m": "minutes", "h": "hours", "d": "days"}


def parse_since(since: str) -> tuple[int, str]:
    """Parse the CLI's ``--since=<N><s|m|h|d>`` duration syntax
    (reference ``y-logcli:126-136``; d added beyond reference).
    Returns (amount, unit_name); raises ValueError on garbage."""
    s = since.strip()
    if len(s) < 2 or s[-1] not in _UNIT_NAMES or not s[:-1].isdigit():
        raise ValueError(
            f"invalid --since duration {since!r}; expected <N>s|<N>m|<N>h|<N>d"
        )
    return int(s[:-1]), _UNIT_NAMES[s[-1]]


def since_cutoff(since: str, now: Column | None = None) -> Column:
    """``now() - INTERVAL since`` as a ``timestamp_ntz``."""
    n, unit = parse_since(since)
    anchor = now if now is not None else F.current_timestamp().cast("timestamp_ntz")
    return anchor - F.expr(f"INTERVAL {n} {unit}")


def since_cutoff_predicate(time_col: Column | str, since: str, now: Column | None = None) -> Column:
    """``time >= now() - INTERVAL since`` (reference ``y-logcli:160-171``).

    A plain comparison against a literal-ish cutoff → pushed down to
    parquet row-group stats by Catalyst.
    """
    return _col(time_col) >= since_cutoff(since, now)

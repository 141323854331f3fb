"""Event-time plumbing: session-timezone-independent conversion
between the engine's at-rest event-time type (TIMESTAMP_NTZ — wall
clock, oracle-exact, matches the parquet tables) and the tz-aware
TIMESTAMP that Spark's watermark machinery requires
(EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE otherwise).

The NTZ wall time is DEFINED to denote a UTC instant. The conversions
route through the session timezone so they are exact inverses within
any session, regardless of what timezone the hosting driver picked:

    instant = cast(convert_timezone('UTC', current_timezone(), ntz) AS TIMESTAMP)
    ntz     = convert_timezone(current_timezone(), 'UTC', cast(ts AS TIMESTAMP_NTZ))

(Within the session's DST fall-back hour the wall→instant cast is
ambiguous; pin the session to UTC — session.py does — to avoid it.)

Epoch seconds of an NTZ wall time (``epoch_s``) are wall-clock
arithmetic, so they need no session time zone at all.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def to_instant(col: str | Column) -> Column:
    """NTZ wall time (denoting UTC) → TIMESTAMP instant."""
    c = F.col(col) if isinstance(col, str) else col
    shifted = F.convert_timezone(F.lit("UTC"), F.expr("current_timezone()"), c)
    return shifted.cast("timestamp")


def to_ntz(col: str | Column) -> Column:
    """TIMESTAMP instant → NTZ wall time at UTC."""
    c = F.col(col) if isinstance(col, str) else col
    return F.convert_timezone(F.expr("current_timezone()"), F.lit("UTC"), c.cast("timestamp_ntz"))


def epoch_s(col: str | Column = "ts") -> Column:
    """Whole epoch seconds (BIGINT) of an NTZ wall time (denoting UTC),
    like the stream bodies and the oracles' ``epoch``. A cast
    through TIMESTAMP would read the wall time in the session time zone
    and skip or repeat its DST hours."""
    c = F.col(col) if isinstance(col, str) else col
    return F.timestamp_diff("SECOND", F.lit("1970-01-01 00:00:00").cast("timestamp_ntz"), c)


def with_event_time(df: DataFrame, ts_col: str = "ts") -> DataFrame:
    """Ensure ``ts_col`` is watermark-compatible (TIMESTAMP). NTZ
    columns are converted; others pass through."""
    field = df.schema[ts_col].dataType
    if isinstance(field, T.TimestampNTZType):
        return df.withColumn(ts_col, to_instant(ts_col))
    return df


def restore_ntz(df: DataFrame, cols: tuple[str, ...]) -> DataFrame:
    """Convert instant columns back to the at-rest NTZ representation
    (inverse of with_event_time) so sink contents stay oracle-exact."""
    out = df
    for c in cols:
        if c in df.columns and isinstance(df.schema[c].dataType, T.TimestampType):
            out = out.withColumn(c, to_ntz(c))
    return out

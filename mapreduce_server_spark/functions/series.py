"""The dense hourly event-count series.

The time-series operators compute on a zero-filled hour grid, not on
the raw events: windows and lag joins count rows, so a gap in the
series must be a row with count 0. The grid runs from the first to the
last event's hour, so its size is calendar-bounded (about 720 hours
per month of log), not data-bounded: only the hourly partial count
touches the raw scan, and every later window, sort or lag join runs
over the grid at any scale factor.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def hours(lo: Column, hi: Column) -> Column:
    """The array of every hour from ``lo`` to ``hi`` (hour-aligned
    timestamps, both included)."""
    return F.sequence(lo, hi, F.expr("interval 1 hour"))


def hour_grid(ev: DataFrame, *keys: str) -> DataFrame:
    """(keys…, h): every hour from the first to the last event's hour,
    per ``keys`` group (one global span without keys)."""
    bounds = (ev.groupBy(*keys) if keys else ev).agg(
        F.date_trunc("hour", F.min("ts")).alias("h0"),
        F.date_trunc("hour", F.max("ts")).alias("h1"),
    )
    return bounds.select(*keys, F.explode(hours(F.col("h0"), F.col("h1"))).alias("h"))


def hour_span(hourly: DataFrame, key: str) -> DataFrame:
    """(key, g): every hour from the first to the last value of the
    hour-truncated column ``h``, per ``key`` — the dense grid of an
    already hourly series. One row per key explodes to its own span,
    never a global calendar crossJoin."""
    bounds = hourly.groupBy(key).agg(F.min("h").alias("mn"), F.max("h").alias("mx"))
    return bounds.select(key, F.explode(hours(F.col("mn"), F.col("mx"))).alias("g"))


def hourly_counts(
    ev: DataFrame, *keys: str, grid: DataFrame | None = None, name: str = "n"
) -> DataFrame:
    """(grid columns…, name): the event count per (keys…, hour),
    left-joined onto ``grid`` and zero-filled. ``grid`` defaults to
    :func:`hour_grid` over the same keys; it must carry the keys and
    ``h``."""
    if grid is None:
        grid = hour_grid(ev, *keys)
    c = ev.groupBy(*keys, F.date_trunc("hour", F.col("ts")).alias("h")).agg(
        F.count(F.lit(1)).alias("n")
    )
    return grid.join(c, [*keys, "h"], "left").select(
        *grid.columns, F.coalesce(F.col("n"), F.lit(0)).alias(name)
    )

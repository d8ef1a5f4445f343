"""The reference's 7 REST query endpoints as DataFrame functions
(reference: ``backend/app/main.py:110-373``; SURVEY.md §2.11).

Each function takes already-loaded DataFrames (so callers control the
source — lake tables here, fixtures in ``plans``) and returns a
DataFrame with the endpoint's result shape. No HTTP layer is rebuilt;
these ARE the query semantics.

All joins to the ``regions`` dimension are broadcast (the dim is ≤ ~50
rows in the reference's domain; on a cluster this removes the shuffle on
the fact side entirely).
"""

from __future__ import annotations

import datetime as _dt

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.metrics import bed_occ_pct_api, icu_occ_pct
from ..operators.asof import with_prev_calendar_day


def _sort_small(df: DataFrame, col: str) -> DataFrame:
    """Sort a result bounded by the dimension or the date count inside
    one partition: no sampling job and no range exchange."""
    return df.coalesce(1).sortWithinPartitions(col)


def latest_date(df: DataFrame, date_col: str = "date"):
    """Default date = max(date) (main.py:148-152,205-209) — op-agg-max-date."""
    return df.agg(F.max(date_col).alias("max_date"))


def runs_latest(runs: DataFrame, limit: int = 20) -> DataFrame:
    """GET /runs — newest N runs by started_at (main.py:110-127).

    The lake run-log is append-only (start + end rows per run); take the
    latest row per run_id first, then order/limit — op-sort-limit.
    """
    w = Window.partitionBy("run_id").orderBy(
        F.desc_nulls_last("ended_at"), F.desc("started_at")
    )
    current = (
        runs.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    return current.orderBy(F.desc("started_at")).limit(limit)


def capacity_latest(
    capacity: DataFrame, regions: DataFrame, date: _dt.date | str | None = None
) -> DataFrame:
    """GET /capacity/latest — capacity rows for a date joined to region
    names, plus API-variant derived occupancy pcts (main.py:130-184).

    op-join-capacity-region + op-filter-eq + op-fn-div-guard (NULL
    variant) + op-fn-round.
    """
    if date is None:
        date = latest_date(capacity).collect()[0][0]
    joined = capacity.filter(F.col("date") == F.lit(date)).join(
        F.broadcast(regions.select("region_id", "name").withColumnRenamed("name", "region")),
        "region_id",
        "inner",
    )
    return joined.select(
        "date",
        "region",
        "total_beds",
        "occupied_beds",
        "icu_beds",
        "icu_occupied",
        F.round(bed_occ_pct_api(F.col("occupied_beds"), F.col("total_beds")), 4).alias(
            "bed_occ_pct"
        ),
        F.round(icu_occ_pct(F.col("icu_occupied"), F.col("icu_beds")), 4).alias(
            "icu_occ_pct"
        ),
    ).transform(_sort_small, "region")  # ≤ one row per region


def metrics_latest(
    metrics: DataFrame, regions: DataFrame, date: _dt.date | str | None = None
) -> DataFrame:
    """GET /metrics/latest — same shape over metrics_daily (main.py:187-231)."""
    if date is None:
        date = latest_date(metrics).collect()[0][0]
    return (
        metrics.filter(F.col("date") == F.lit(date))
        .join(
            F.broadcast(
                regions.select("region_id", "name").withColumnRenamed("name", "region")
            ),
            "region_id",
            "inner",
        )
        .select("date", "region", "bed_occ_pct", "icu_occ_pct", "strain_index")
        .transform(_sort_small, "region")  # ≤ one row per region
    )


def metrics_compare(
    metrics: DataFrame, regions: DataFrame, date: _dt.date | str | None = None
) -> DataFrame:
    """GET /metrics/compare — per-region strain vs previous *calendar*
    day + NULL-propagating delta (main.py:234-289).

    Implemented as one lag window with a calendar-adjacency guard
    (op-window-lag) instead of the reference's self-join — one shuffle,
    one scan (SURVEY.md §2.3 op-join-asof-prev notes the equivalence).
    """
    if date is None:
        date = latest_date(metrics).collect()[0][0]
    # the lag reaches back one calendar day at most, so the window (and
    # the scan, by partition pruning) needs only the date and the day
    # before: at most two rows per region
    day = F.lit(date).cast("date")
    recent = metrics.filter(F.col("date").between(F.date_sub(day, 1), day))
    lagged = with_prev_calendar_day(
        recent, ["region_id"], "date", "strain_index", "prev_strain_index"
    )
    return (
        lagged.filter(F.col("date") == F.lit(date))
        .join(
            F.broadcast(
                regions.select("region_id", "name").withColumnRenamed("name", "region")
            ),
            "region_id",
            "inner",
        )
        .select(
            "date",
            "region",
            "strain_index",
            "prev_strain_index",
            (F.col("strain_index") - F.col("prev_strain_index")).alias("delta"),
        )
        .transform(_sort_small, "region")  # ≤ one row per region
    )


def available_dates(metrics: DataFrame, full: bool = False) -> DataFrame:
    """GET /metrics/available-dates — min/max/count-distinct in one agg
    (main.py:298-310) — op-agg-minmax-countd. With ``full``, the sorted
    distinct date list (op-distinct-sorted, main.py:319-328)."""
    if full:
        # ≤ one row per date
        return metrics.select("date").distinct().transform(_sort_small, "date")
    return metrics.agg(
        F.min("date").alias("min_date"),
        F.max("date").alias("max_date"),
        F.countDistinct("date").alias("n_dates"),
    )


def _coverage_rows(metrics: DataFrame, min_rows: int) -> DataFrame:
    return (
        metrics.groupBy("date")
        .agg(F.count("id").alias("rows"))
        .filter(F.col("rows") >= min_rows)
    )


def coverage(metrics: DataFrame, min_rows: int = 1) -> DataFrame:
    """GET /metrics/coverage — per-date row counts with HAVING
    (main.py:339-349) — op-groupby-having."""
    # ≤ one row per date
    return _coverage_rows(metrics, min_rows).transform(_sort_small, "date")


def coverage_best_date(metrics: DataFrame, min_rows: int = 1) -> DataFrame:
    """best_date = most recent qualifying date + its count
    (main.py:357-366), computed in-engine instead of client-side —
    op-argmax-date."""
    return _coverage_rows(metrics, min_rows).orderBy(F.desc("date")).limit(1)


def dashboard_kpis(metrics_for_date: DataFrame) -> DataFrame:
    """The dashboard's client-side KPIs in one agg (dashboard.html:367-427;
    App.tsx:83-93): highest-strain region (argmax), mean strain, crisis
    count (strain > 80) — op-argmax-strain + op-agg-avg +
    op-agg-count-filtered."""
    return metrics_for_date.agg(
        F.max_by("region", "strain_index").alias("highest_strain_region"),
        F.max("strain_index").alias("highest_strain"),
        F.avg("strain_index").alias("avg_strain"),
        F.count(F.when(F.col("strain_index") > 80, 1)).alias("crisis_count"),
    )

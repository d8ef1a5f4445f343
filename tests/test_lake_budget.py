"""Spark-job budgets of the lake path, and cached-frame cleanup on a
failed ingest.

Every lake-path Spark job that carries no rows of the answer is fixed
cost per request or per batch; on a small lake it is most of the cost.
The budgets below are the job counts of each API read (with a date and
with ``date=None``), of ``LakeTable.read`` and of one daily batch
(``ingest_capacity_csv`` + ``compute_metrics(dates=...)``). A schema
footer job, a range sort or a second evaluation of a batch that creeps
back in fails here even when wall-clock noise would hide it. Jobs are
counted per job group through the status tracker, so broadcast jobs
started from other threads are counted too.
"""

from __future__ import annotations

import os
import uuid

import pytest

from hospital_stain_tracker_data_pipeline_spark.pipeline import (
    api_queries as A,
)
from hospital_stain_tracker_data_pipeline_spark.pipeline import (
    compute_metrics,
    ingest_capacity_csv,
)
from hospital_stain_tracker_data_pipeline_spark.pipeline.lake import LakeTable

from test_ingest_pipeline import GOOD_ROWS, REJECT_CASES, _write_csv

TABLES = {
    "capacity_daily": (["date", "region_id"], "date", "created_at"),
    "metrics_daily": (["date", "region_id"], "date", "created_at"),
    "regions": (["name"], "name", None),
    "pipeline_runs": (["run_id"], "run_id", None),
}

# the daily batch: two known dates rewritten (one value changed), one
# new date, one reject
BATCH = (
    [["2026-01-01", "CA", 1000, 999, 100, 92]]
    + GOOD_ROWS[1:]
    + [["2026-01-05", "CA", 1000, 600, 100, 50], REJECT_CASES[0][0]]
)
BATCH_DATES = ["2026-01-01", "2026-01-02", "2026-01-04", "2026-01-05"]

# Spark jobs per operation. The daily batch: two run-log appends, the
# CSV header scan, one aggregate for both counters and the region
# names, the rejects write, one scan of the dimension's names, and the
# upsert (the batch evaluated once, the merge, the write).
BATCH_BUDGET = {"ingest_capacity_csv": 14, "compute_metrics": 7}
# Reads with a date: a broadcast of the dimension plus the result, or
# the aggregate's exchange plus the result. ``date=None`` adds the
# two-job max(date) aggregate.
READ_BUDGET = {
    "capacity_latest": 2,
    "metrics_latest": 2,
    "metrics_compare": 3,
    "dashboard_kpis": 2,
}
TABLE_READ_BUDGET = {
    "runs_latest": 2,
    "available_dates": 3,
    "available_dates_full": 2,
    "coverage": 2,
    "coverage_best_date": 2,
}


def _table(spark, lake_dir, name):
    keys, part, version = TABLES[name]
    return LakeTable(
        spark, os.path.join(lake_dir, name), keys=keys, partition_col=part,
        version_col=version,
    ).read()


def _jobs(spark, fn) -> int:
    sc = spark.sparkContext
    group = f"lake-budget-{uuid.uuid4()}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc._jsc.clearJobGroup()
    return len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.fixture(scope="module")
def budget_lake(spark, tmp_path_factory):
    base = tmp_path_factory.mktemp("budget")
    lake_dir = str(base / "tables")
    first = _write_csv(
        str(base / "history.csv"), GOOD_ROWS + [c for c, _ in REJECT_CASES]
    )
    ingest_capacity_csv(spark, first, "budget-history", lake_dir)
    compute_metrics(spark, lake_dir)
    batch = _write_csv(str(base / "batch.csv"), BATCH)
    jobs = {
        "ingest_capacity_csv": _jobs(
            spark, lambda: ingest_capacity_csv(spark, batch, "budget", lake_dir)
        ),
        "compute_metrics": _jobs(
            spark, lambda: compute_metrics(spark, lake_dir, dates=BATCH_DATES)
        ),
    }
    return {"dir": lake_dir, "batch_jobs": jobs}


def test_lake_read_launches_no_job(spark, budget_lake):
    for name in TABLES:
        assert _jobs(spark, lambda: _table(spark, budget_lake["dir"], name)) == 0


def test_daily_batch_job_budget(spark, budget_lake):
    jobs = budget_lake["batch_jobs"]
    assert all(jobs[k] <= BATCH_BUDGET[k] for k in BATCH_BUDGET), jobs
    # the batch landed: the rewritten value and the new date are read back
    cap = A.capacity_latest(
        _table(spark, budget_lake["dir"], "capacity_daily"),
        _table(spark, budget_lake["dir"], "regions"),
        "2026-01-01",
    ).collect()
    assert [(r.region, r.occupied_beds) for r in cap] == [("CA", 999), ("NY", 400)]
    [row] = A.metrics_latest(
        _table(spark, budget_lake["dir"], "metrics_daily"),
        _table(spark, budget_lake["dir"], "regions"),
    ).collect()
    assert (str(row.date), row.region) == ("2026-01-05", "CA")


@pytest.mark.parametrize("date", ["2026-01-02", None])
@pytest.mark.parametrize("kind", sorted(READ_BUDGET))
def test_dated_read_job_budget(spark, budget_lake, kind, date):
    lake_dir = budget_lake["dir"]

    def request():
        fact = "capacity_daily" if kind == "capacity_latest" else "metrics_daily"
        args = (_table(spark, lake_dir, fact), _table(spark, lake_dir, "regions"), date)
        if kind == "dashboard_kpis":
            return A.dashboard_kpis(A.metrics_latest(*args)).collect()
        return getattr(A, kind)(*args).collect()

    budget = READ_BUDGET[kind] + (2 if date is None else 0)
    assert _jobs(spark, request) <= budget


@pytest.mark.parametrize("kind", sorted(TABLE_READ_BUDGET))
def test_table_read_job_budget(spark, budget_lake, kind):
    lake_dir = budget_lake["dir"]

    def request():
        if kind == "runs_latest":
            return A.runs_latest(_table(spark, lake_dir, "pipeline_runs")).collect()
        metrics = _table(spark, lake_dir, "metrics_daily")
        if kind == "available_dates_full":
            return A.available_dates(metrics, full=True).collect()
        if kind == "available_dates":
            return A.available_dates(metrics).collect()
        return getattr(A, kind)(metrics, 2).collect()

    assert _jobs(spark, request) <= TABLE_READ_BUDGET[kind]


def test_failed_batch_unpersists_its_cache(spark, tmp_path, monkeypatch):
    """A batch that fails after caching its parse leaves no cached frame
    behind and still logs a ``failed`` run."""
    lake_dir = str(tmp_path / "tables")
    csv_path = _write_csv(str(tmp_path / "batch.csv"), GOOD_ROWS)

    def boom(self, incoming):
        raise RuntimeError("upsert failed")

    monkeypatch.setattr(LakeTable, "upsert", boom)
    persistent = spark.sparkContext._jsc.getPersistentRDDs()
    before = persistent.size()
    with pytest.raises(RuntimeError, match="upsert failed"):
        ingest_capacity_csv(spark, csv_path, "failing-batch", lake_dir)
    assert spark.sparkContext._jsc.getPersistentRDDs().size() == before
    [run] = A.runs_latest(_table(spark, lake_dir, "pipeline_runs")).collect()
    assert run.status == "failed"
    assert "upsert failed" in run.notes

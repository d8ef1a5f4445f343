"""Workload ``lake_ingest_reads``: daily CSV ingest and dashboard reads on
the ``lake`` layer.

Set-up backfills a 14-day history CSV (56 regions) into an empty lake,
which takes the ``LakeTable.upsert`` create path and a full
``compute_metrics``. The closed loop (one client) then repeats one
cycle: a daily batch CSV (3 days, 2 of them already in the lake, so
existing keys are rewritten) ingested and followed by
``compute_metrics(dates=touched)``, then three requests to each of the 7
API endpoints (``available_dates`` in both forms) and the dashboard
KPIs, in a seeded order, each with a seeded date or ``date=None``. Every request
re-resolves its tables through ``LakeTable(...).read()``, as a stateless
API would. A batch's latency is its freshness: from its CSV being ready
to its silver rows being written.

One CSV per ingest run follows the reference (one file per triggered
run). The read mix is chosen, not measured: nothing records how often
the reference's dashboard calls each endpoint per batch. Three rounds of
every read kind give each kind three samples a cycle; a quarter of the
requests pass ``date=None`` so the ``latest_date`` path runs.

Every batch's ``IngestResult``, every request's rows and the final
bronze and silver tables are checked against ``hhs.LakeModel``.
"""

from __future__ import annotations

import math
import os
import random
import statistics
import time

import hhs

HISTORY_DAYS = 14
BATCH_SPAN = 3
BATCH_STEP = 1
MAX_BATCHES = 40
READ_ROUNDS = 3
RUNS_LIMIT = 20
SOURCE = "perfbench"

ENDPOINTS = (
    "runs_latest",
    "capacity_latest",
    "metrics_latest",
    "metrics_compare",
    "available_dates",
    "available_dates_full",
    "coverage",
    "coverage_best_date",
    "dashboard_kpis",
)

TABLES = {
    # name: (keys, partition column, version column), as the pipeline
    # writes them
    "capacity_daily": (["date", "region_id"], "date", "created_at"),
    "metrics_daily": (["date", "region_id"], "date", "created_at"),
    "regions": (["name"], "name", None),
    "pipeline_runs": (["run_id"], "run_id", None),
}


def make_inputs(seed: int, work: str) -> dict:
    gen = hhs.HHSGenerator(seed)
    csv_dir = os.path.join(work, "csv")
    os.makedirs(csv_dir)
    history = gen.rows("history", range(HISTORY_DAYS))
    hist_path = os.path.join(csv_dir, "history.csv")
    hhs.write_csv(hist_path, history)
    batches = []
    for i in range(MAX_BATCHES):
        rows = gen.rows(
            f"batch{i}",
            hhs.batch_days(HISTORY_DAYS - BATCH_SPAN + 1, i, BATCH_SPAN, BATCH_STEP),
        )
        path = os.path.join(csv_dir, f"batch{i:03d}.csv")
        hhs.write_csv(path, rows)
        batches.append((path, rows))
    return {
        "history": (hist_path, history),
        "batches": batches,
        "lake": os.path.join(work, "lake"),
        "rng": random.Random(f"{seed}:requests"),
    }


def _ingest_check(expected: dict, result) -> list[str]:
    errors = []
    for k in ("rows_in", "rows_loaded", "rows_rejected"):
        if getattr(result, k) != expected[k]:
            errors.append(f"{k} {getattr(result, k)} != {expected[k]}")
    return errors


def setup(spark, inputs: dict, ops) -> dict:
    from hospital_stain_tracker_data_pipeline_spark import pipeline as P

    state = {"model": hhs.LakeModel(), "runs": [], "batch_recs": []}
    path, rows = inputs["history"]
    lake = inputs["lake"]
    t0 = time.perf_counter()
    res = P.ingest_capacity_csv(spark, path, SOURCE, lake)
    t1 = time.perf_counter()
    mres = P.compute_metrics(spark, lake)
    t2 = time.perf_counter()
    state["runs"] += [res.run_id, mres.run_id]
    state["backfill"] = {
        "rows": len(rows),
        "ingest_s": t1 - t0,
        "metrics_s": t2 - t1,
        "rows_per_s": len(rows) / (t2 - t0),
    }
    state["backfill_result"] = res
    return state


def _batch(spark, lake: str, path: str, touched: list[str]):
    from hospital_stain_tracker_data_pipeline_spark import pipeline as P

    res = P.ingest_capacity_csv(spark, path, SOURCE, lake)
    mres = P.compute_metrics(spark, lake, dates=touched)
    return res, mres


def _table(spark, lake: str, name: str):
    from hospital_stain_tracker_data_pipeline_spark.pipeline import LakeTable

    keys, part, version = TABLES[name]
    return LakeTable(
        spark, os.path.join(lake, name), keys=keys, partition_col=part,
        version_col=version,
    ).read()


def _request(spark, lake: str, kind: str, date, min_rows: int) -> list[tuple]:
    """One API request: resolve the tables, build the endpoint's
    DataFrame and collect its rows, as a server answering it would."""
    from hospital_stain_tracker_data_pipeline_spark.pipeline import (
        api_queries as A,
    )

    if kind == "runs_latest":
        df = A.runs_latest(_table(spark, lake, "pipeline_runs"), RUNS_LIMIT)
    elif kind == "capacity_latest":
        df = A.capacity_latest(
            _table(spark, lake, "capacity_daily"),
            _table(spark, lake, "regions"),
            date,
        )
    elif kind in ("metrics_latest", "metrics_compare", "dashboard_kpis"):
        metrics = _table(spark, lake, "metrics_daily")
        regions = _table(spark, lake, "regions")
        if kind == "metrics_compare":
            df = A.metrics_compare(metrics, regions, date)
        else:
            df = A.metrics_latest(metrics, regions, date)
            if kind == "dashboard_kpis":
                df = A.dashboard_kpis(df)
    else:
        metrics = _table(spark, lake, "metrics_daily")
        if kind == "available_dates":
            df = A.available_dates(metrics)
        elif kind == "available_dates_full":
            df = A.available_dates(metrics, full=True)
        elif kind == "coverage":
            df = A.coverage(metrics, min_rows)
        else:
            df = A.coverage_best_date(metrics, min_rows)
    return [tuple(r) for r in df.collect()]


def _close(a, b) -> bool:
    if a is None or b is None:
        return a is None and b is None
    if isinstance(a, float) or isinstance(b, float):
        return math.isclose(a, b, rel_tol=1e-9, abs_tol=0.0) or a == b
    return a == b


def compare_rows(actual: list[tuple], expected: list[tuple]) -> list[str]:
    """Ordered row comparison: exact for ints, strings and dates, 1e-9
    relative for floats."""
    if len(actual) != len(expected):
        return [f"{len(actual)} rows != {len(expected)}"]
    for i, (a, e) in enumerate(zip(actual, expected)):
        if len(a) != len(e) or not all(_close(x, y) for x, y in zip(a, e)):
            return [f"row {i}: {a!r} != {e!r}"]
    return []


def _request_check(model, state, kind, date, min_rows, rows) -> list[str]:
    if kind == "runs_latest":
        want = state["runs"][::-1][:RUNS_LIMIT]
        got = [r[0] for r in rows]
        errors = [] if got == want else [f"run ids {got} != {want}"]
        bad = [r for r in rows if r[2] != "success"]
        if bad:
            errors.append(f"runs not successful: {bad[:2]}")
        return errors
    if kind == "dashboard_kpis":
        want = model.dashboard_kpis(date)
        region, top, avg, crisis = rows[0]
        errors = []
        if region not in want["top_regions"] or not _close(top, want["highest_strain"]):
            errors.append(f"top {region} {top} != {want['top_regions']}")
        if not _close(avg, want["avg_strain"]):
            errors.append(f"avg {avg} != {want['avg_strain']}")
        if crisis != want["crisis_count"]:
            errors.append(f"crisis {crisis} != {want['crisis_count']}")
        return errors
    if kind == "available_dates":
        return compare_rows(rows, model.available_dates())
    if kind == "available_dates_full":
        return compare_rows(rows, model.available_dates_full())
    if kind in ("coverage", "coverage_best_date"):
        return compare_rows(rows, getattr(model, kind)(min_rows))
    return compare_rows(rows, getattr(model, kind)(date))


def measure(spark, inputs: dict, state: dict, ops, seconds: float) -> None:
    """Whole cycles, at least one, until ``seconds`` have passed. A cycle
    is one batch and then every read kind ``READ_ROUNDS`` times, in a
    seeded order."""
    lake = inputs["lake"]
    model = state["model"]
    model.ingest(inputs["history"][1])
    rng = inputs["rng"]
    t_end = time.perf_counter() + seconds
    for path, rows in inputs["batches"]:
        expected = model.ingest(rows)
        touched = [d.isoformat() for d in expected["touched"]]

        def check(res, expected=expected):
            state["runs"] += [res[0].run_id, res[1].run_id]
            return _ingest_check(expected, res[0])

        rec = ops.run(
            "batch",
            lambda path=path, touched=touched: _batch(spark, lake, path, touched),
            check,
        )
        state["batch_recs"].append(rec)
        reads = list(ENDPOINTS) * READ_ROUNDS
        for kind in rng.sample(reads, len(reads)):
            date = None if rng.random() < 0.25 else rng.choice(model.dates())
            min_rows = rng.choice((1, 50, len(hhs.REGIONS)))
            ops.run(
                f"read:{kind}",
                lambda kind=kind, date=date, m=min_rows: ops.span(
                    f"api_queries.{kind}", _request, spark, lake, kind, date, m
                ),
                lambda rows, kind=kind, date=date, m=min_rows: _request_check(
                    model, state, kind, date, m, rows
                ),
            )
        ops.cycles += 1
        if time.perf_counter() >= t_end:
            break
    else:
        raise RuntimeError(
            f"all {MAX_BATCHES} input batches used before the run ended"
        )


def verify(spark, inputs: dict, state: dict, ops) -> None:
    """Checks outside the timed interval: the backfill's counters and the
    final bronze and silver tables against the model."""
    lake = inputs["lake"]
    backfill = hhs.LakeModel().ingest(inputs["history"][1])
    ops.run(
        "backfill",
        lambda: state["backfill_result"],
        lambda res: _ingest_check(backfill, res),
        timed=False,
    )
    regions = {
        r["region_id"]: r["name"]
        for r in _table(spark, lake, "regions").collect()
    }
    model = state["model"]
    errors = []
    for name, want, cols in (
        (
            "capacity_daily",
            model.capacity,
            ["total_beds", "occupied_beds", "icu_beds", "icu_occupied"],
        ),
        (
            "metrics_daily",
            model.metrics(),
            ["bed_occ_pct", "icu_occ_pct", "strain_index"],
        ),
    ):
        got: dict = {}
        for r in _table(spark, lake, name).select("date", "region_id", *cols).collect():
            key = (r["date"], regions.get(r["region_id"]))
            if key in got:
                errors.append(f"{name}: duplicate key {key}")
            got[key] = tuple(r[c] for c in cols)
        if got.keys() != want.keys():
            errors.append(
                f"{name}: {len(got.keys() - want.keys())} unexpected and "
                f"{len(want.keys() - got.keys())} missing keys"
            )
        for key in sorted(got.keys() & want.keys()):
            if not all(_close(a, b) for a, b in zip(got[key], want[key])):
                errors.append(f"{name} {key}: {got[key]} != {want[key]}")
                break
    if errors:
        # the final lake is the product of every batch; charge the last
        ops.fail(state["batch_recs"][-1], "; ".join(errors))


def details(state: dict, ops) -> dict:
    ok = [r for r in ops.records if r["ok"] and r["timed"]]
    batch = sorted(r["ms"] for r in ok if r["kind"] == "batch")
    reads = sorted(r["ms"] for r in ok if r["kind"].startswith("read:"))
    out = {
        "backfill_rows": state["backfill"]["rows"],
        "backfill_rows_per_s": state["backfill"]["rows_per_s"],
        "backfill_ingest_s": state["backfill"]["ingest_s"],
        "backfill_metrics_s": state["backfill"]["metrics_s"],
        "batches": len(batch),
        "freshness_p50_s": statistics.median(batch) / 1000 if batch else None,
        "reads": len(reads),
        "read_p50_ms": statistics.median(reads) if reads else None,
    }
    # a percentile is reported only with at least ten samples beyond it
    if len(reads) >= 100:
        out["read_p90_ms"] = statistics.quantiles(reads, n=10)[-1]
    return out

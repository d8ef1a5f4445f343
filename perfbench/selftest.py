"""Self-tests of the benchmark's own machinery.

    python3 perfbench/selftest.py

1. The benchmark's materialisation (the ``noop`` writer) executes a
   pandas-UDF projection: the executed plan keeps its ``ArrowEvalPython``
   node. ``count()`` is shown for contrast; Catalyst may prune the UDF.
2. A deliberately wrong expected value is counted as a failed operation,
   for each kind of check: an ingest's counters against the model, a
   query against its DuckDB oracle, and a curate pass against its pinned
   report.

Exits 0 when every test passes.
"""

import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def executed_plans(log_dir: str) -> dict[str, str]:
    """Physical plan text of every SQL execution in the event log, by
    the job description the execution ran under."""
    import spans

    plans: dict[str, str] = {}
    for ev in spans.event_log_events(log_dir):
        if ev.get("Event", "").endswith("SQLExecutionStart"):
            desc = ev.get("description", "")
            plans[desc] = plans.get(desc, "") + ev.get("physicalPlanDescription", "")
    return plans


def main() -> int:
    sys.path.insert(0, ROOT)
    import fixture_workload
    import hhs
    import lake_workload
    import run

    work = os.path.join(run.WORK, "selftest")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    results: list[tuple[str, bool, str]] = []
    spark = run.start_session(work, trace=True)
    try:
        import pandas as pd
        from pyspark.sql import functions as F

        # (no postponed annotations in this module: pandas_udf reads the
        # type hints to pick the UDF kind)
        @F.pandas_udf("double")
        def plus_one(x: pd.Series) -> pd.Series:
            return x + 1.0

        df = spark.range(1000).select(plus_one(F.col("id").cast("double")).alias("y"))
        spark.sparkContext.setJobDescription("selftest-noop")
        fixture_workload._noop(df)
        spark.sparkContext.setJobDescription("selftest-count")
        df.count()
        spark.sparkContext.setJobDescription(None)

        # a wrong expected ingest count
        ops = run.Ops()
        rows = hhs.HHSGenerator(0).rows("selftest", range(2))
        path = os.path.join(work, "batch.csv")
        hhs.write_csv(path, rows)
        expected = hhs.LakeModel().ingest(rows)
        wrong = dict(expected, rows_loaded=expected["rows_loaded"] + 1)
        lake = os.path.join(work, "lake")
        touched = [d.isoformat() for d in expected["touched"]]
        for want in (expected, wrong):
            ops.run(
                "batch",
                lambda: lake_workload._batch(spark, lake, path, touched),
                lambda res, want=want: lake_workload._ingest_check(want, res[0]),
            )
        s = ops.summary()
        results.append(
            (
                "wrong ingest count fails its operation",
                (s["attempted"], s["failed"]) == (2, 1) and ops.records[0]["ok"],
                f"attempted={s['attempted']} failed={s['failed']}",
            )
        )

        # a wrong oracle: the right one with its first row dropped
        spec = fixture_workload.catalog()["pricing_summary"]
        bad = type(spec)(spec.fn, f"SELECT * FROM ({spec.oracle_sql}) OFFSET 1")
        ops = run.Ops()
        sf_dir = fixture_workload.SF_DIR
        state = {"specs": {"good": spec, "bad": bad}, "query_recs": {}}
        for name, s_ in state["specs"].items():
            rec = ops.run(
                f"query:{name}",
                lambda s_=s_: fixture_workload._query(spark, ops, s_, sf_dir),
                lambda _: [],
            )
            state["query_recs"][name] = [rec]
        fixture_workload.verify(spark, {"sf_dir": sf_dir}, state, ops)
        s = ops.summary()
        results.append(
            (
                "wrong oracle fails its query",
                (s["attempted"], s["failed"]) == (2, 1) and ops.records[0]["ok"],
                f"attempted={s['attempted']} failed={s['failed']}",
            )
        )

        # a wrong pinned curate report
        ops = run.Ops()
        wrong_report = dict(
            fixture_workload.CURATE_REPORT,
            chunks=fixture_workload.CURATE_REPORT["chunks"] + 1,
        )
        for want in (fixture_workload.CURATE_REPORT, wrong_report):
            ops.run(
                "curate",
                lambda: fixture_workload.curate(spark, sf_dir),
                lambda res, want=want: fixture_workload.check_curate(
                    spark, sf_dir, res, want
                ),
            )
        s = ops.summary()
        results.append(
            (
                "wrong curate report fails its pass",
                (s["attempted"], s["failed"]) == (2, 1) and ops.records[0]["ok"],
                f"attempted={s['attempted']} failed={s['failed']}",
            )
        )
    finally:
        run.stop_session(spark)

    plans = executed_plans(os.path.join(work, "eventlog"))
    noop_plan = plans.get("selftest-noop", "")
    results.append(
        (
            "noop materialisation executes the pandas UDF",
            "ArrowEvalPython" in noop_plan,
            f"noop plan has ArrowEvalPython: {'ArrowEvalPython' in noop_plan}; "
            f"count() plan has it: {'ArrowEvalPython' in plans.get('selftest-count', '')}",
        )
    )
    shutil.rmtree(work, ignore_errors=True)
    for name, ok, info in results:
        print(f"{'PASS' if ok else 'FAIL'} {name} ({info})")
    return 0 if all(ok for _, ok, _ in results) else 1


if __name__ == "__main__":
    sys.exit(main())

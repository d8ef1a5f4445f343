"""Benchmark of the strain engine: seeded closed-loop workloads driven
through the package's public functions.

    python3 perfbench/run.py --workload lake_ingest_reads --seed 1 \
        --seconds 10 --trace 0

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``. With ``--trace 0``
the metrics are the end-to-end ones; with ``--trace 1`` the program's
public callables run inside spans and the metrics are the per-layer
counters (see perfbench/README.md). Every run also writes its full
record, provenance included, under ``.bench_work/results/`` in the
checkout.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_work")

WORKLOADS = ("lake_ingest_reads", "fixture_analytics")

END_TO_END = {
    "setup_s": "s",
    "cycle_cpu_s": "s",
    "op_cpu_geomean_ms": "ms",
}
# measured on every run, reported with the per-layer metrics
PER_RUN = {"run.peak_rss_mb": "MB"}


class Ops:
    """Closed-loop operation log: one client, each operation timed on
    its own (wall and CPU time), checked after its timers stop."""

    def __init__(self, tracer=None):
        self.records: list[dict] = []
        self.tracer = tracer
        # whole cycles measured; a workload counts them
        self.cycles = 0

    def span(self, name: str, fn, *args, **kwargs):
        if self.tracer is None:
            return fn(*args, **kwargs)
        return self.tracer.span(name, fn, *args, **kwargs)

    def run(self, kind: str, fn, check, timed: bool = True) -> dict:
        """Time ``fn()``, then ``check(result)`` (which returns a list of
        mismatch strings, empty when correct). An operation that raises
        or whose check reports a mismatch counts as failed. Set-up work
        checked as an operation passes ``timed=False`` and stays out of
        the timing figures."""
        rec = {"kind": kind, "ms": None, "ok": False, "error": None, "timed": timed}
        if self.tracer is not None:
            self.tracer.op = len(self.records)
        self.records.append(rec)
        try:
            c0 = work_cpu_ms()
            t0 = time.perf_counter()
            result = fn()
            rec["ms"] = (time.perf_counter() - t0) * 1000.0
            rec["cpu_ms"] = work_cpu_ms() - c0
        except Exception as e:  # noqa: BLE001 - an operation failure is data
            rec["error"] = f"{type(e).__name__}: {e}"[:500]
            return rec
        finally:
            if self.tracer is not None:
                self.tracer.op = None
        if self.tracer is not None:
            self.tracer.enabled = False
        try:
            errors = check(result)
        except Exception as e:  # noqa: BLE001 - a crashing check is a failure
            errors = [f"check raised {type(e).__name__}: {e}"]
        finally:
            if self.tracer is not None:
                self.tracer.enabled = True
        rec["ok"] = not errors
        if errors:
            rec["error"] = "; ".join(errors)[:500]
        return rec

    def fail(self, rec: dict, error: str) -> None:
        rec["ok"] = False
        rec["error"] = ((rec["error"] + "; ") if rec["error"] else "") + error

    def summary(self) -> dict:
        ok = [r for r in self.records if r["ok"] and r["timed"]]
        wall: dict[str, list[float]] = {}
        cpu: dict[str, list[float]] = {}
        for r in ok:
            wall.setdefault(r["kind"], []).append(r["ms"])
            cpu.setdefault(r["kind"], []).append(r["cpu_ms"])
        wall_medians = {k: statistics.median(v) for k, v in wall.items()}
        cpu_medians = {k: statistics.median(v) for k, v in cpu.items()}
        nan = float("nan")
        return {
            "attempted": len(self.records),
            "failed": sum(1 for r in self.records if not r["ok"]),
            "cycle_cpu_s": (
                sum(r["cpu_ms"] for r in ok) / self.cycles / 1000.0
                if self.cycles
                else nan
            ),
            "op_cpu_geomean_ms": geomean(cpu_medians.values()),
            "op_p50_ms": statistics.median(r["ms"] for r in ok) if ok else nan,
            "op_geomean_ms": geomean(wall_medians.values()),
            "kind_median_ms": wall_medians,
            "kind_cpu_median_ms": cpu_medians,
            "kind_samples": {k: len(v) for k, v in wall.items()},
        }


def geomean(values) -> float:
    values = list(values)
    if not values:
        return float("nan")
    return math.exp(statistics.fmean(math.log(v) for v in values))


_TICK_MS = 1000.0 / os.sysconf("SC_CLK_TCK")


def _cpu_ticks(stat_path: str) -> tuple[int, int]:
    """(parent pid, utime + stime + cutime + cstime) from a /proc stat
    file."""
    with open(stat_path) as fh:
        raw = fh.read()
    f = raw[raw.rindex(")") + 2 :].split()
    return int(f[1]), sum(int(x) for x in f[11:15])


def work_cpu_ms() -> float:
    """CPU time (user + system) used so far by this process and every
    process descended from it (the JVM and its Python workers), reaped
    children included. The kernel does not charge time stolen by the
    hypervisor to processes, so unlike wall time this does not grow
    when the host is contended."""
    stats = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                stats[int(d)] = _cpu_ticks(f"/proc/{d}/stat")
            except OSError:
                continue
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in stats.items():
        children.setdefault(ppid, []).append(pid)
    total, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        total += stats[pid][1] if pid in stats else 0
        todo += children.get(pid, [])
    return total * _TICK_MS


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def start_session(work: str, trace: bool):
    """A SparkSession on local[nproc] whose scratch space (shuffle,
    spill, JVM temp files, event log) lives under ``work``. The driver
    heap is the program's own setting (``SPARK_GRAFT_DRIVER_MEM``, 8g by
    default)."""
    from hospital_stain_tracker_data_pipeline_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["TMPDIR"] = tmp
    conf = {
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": log_dir,
                # Spark 4 writes zstd by default; the zstandard module is
                # not available to read it back
                "spark.eventLog.compress": "false",
            }
        )
    n = nproc()
    spark = get_spark(
        app_name="perfbench",
        master=f"local[{n}]",
        shuffle_partitions=n,
        extra_conf=conf,
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def jvm_process():
    from pyspark import SparkContext

    gw = SparkContext._gateway
    return getattr(gw, "proc", None) if gw is not None else None


def vm_hwm_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def peak_rss_mb() -> float:
    """Peak resident set of this driver process plus its JVM child."""
    kb = vm_hwm_kb(os.getpid())
    proc = jvm_process()
    if proc is not None and proc.poll() is None:
        kb += vm_hwm_kb(proc.pid)
    return kb / 1024.0


def stop_session(spark) -> None:
    """Stop the session and wait for the JVM (and with it the Python
    workers it forked) to exit."""
    from pyspark import SparkContext

    proc = jvm_process()
    spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        # the gateway server exits when its stdin closes
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def provenance(spark, seed: int) -> dict:
    import pyarrow

    sc = spark.sparkContext
    return {
        "seed": seed,
        "nproc": nproc(),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "master": sc.master,
        "defaultParallelism": sc.defaultParallelism,
        "driver_memory": sc.getConf().get("spark.driver.memory"),
        "spark": spark.version,
        "python": platform.python_version(),
        "pyarrow": pyarrow.__version__,
        "java": sc._jvm.System.getProperty("java.version"),
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    # fails here, before any output, when the program is not present
    import hospital_stain_tracker_data_pipeline_spark  # noqa: F401

    import fixture_workload
    import lake_workload
    import spans

    workload = {
        "lake_ingest_reads": lake_workload,
        "fixture_analytics": fixture_workload,
    }[args.workload]

    work = os.path.join(WORK, f"{args.workload}-{args.seed}-{args.trace}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        inputs = workload.make_inputs(args.seed, work)  # untimed
        c0 = work_cpu_ms()
        t0 = time.perf_counter()
        spark = start_session(work, bool(args.trace))
        session_s = time.perf_counter() - t0
        try:
            tracer = spans.Tracer(spark) if args.trace else None
            if tracer is not None:
                spans.install(tracer)
            ops = Ops(tracer)
            state = workload.setup(spark, inputs, ops)
            setup_wall_s = time.perf_counter() - t0
            setup_s = (work_cpu_ms() - c0) / 1000.0
            if tracer is not None:
                tracer.phase = "measure"
            workload.measure(spark, inputs, state, ops, args.seconds)
            if tracer is not None:
                tracer.enabled = False
            workload.verify(spark, inputs, state, ops)
            prov = provenance(spark, args.seed)
            rss = peak_rss_mb()
        finally:
            stop_session(spark)
        summary = ops.summary()
        e2e = {
            "setup_s": setup_s,
            "cycle_cpu_s": summary["cycle_cpu_s"],
            "op_cpu_geomean_ms": summary["op_cpu_geomean_ms"],
        }
        record = {
            "workload": args.workload,
            "trace": args.trace,
            "seconds": args.seconds,
            "provenance": prov,
            "end_to_end": e2e,
            "peak_rss_mb": rss,
            "wall": {
                "setup_s": setup_wall_s,
                "op_p50_ms": summary["op_p50_ms"],
                "op_geomean_ms": summary["op_geomean_ms"],
            },
            "session_s": session_s,
            "details": workload.details(state, ops),
            "kind_median_ms": summary["kind_median_ms"],
            "kind_samples": summary["kind_samples"],
            "kind_cpu_median_ms": summary["kind_cpu_median_ms"],
            "errors": [r for r in ops.records if not r["ok"]],
        }
        if tracer is not None:
            tracer.attribute(os.path.join(work, "eventlog"))
            layers = tracer.layer_metrics()
            metrics = {
                name: {"value": layers.get(name, 0.0), "unit": unit}
                for name, unit in spans.per_layer_metrics()
            }
            metrics["run.peak_rss_mb"] = {"value": rss, "unit": PER_RUN["run.peak_rss_mb"]}
            trace_path = os.path.join(
                WORK, "results", f"{args.workload}-seed{args.seed}-spans.json"
            )
            os.makedirs(os.path.dirname(trace_path), exist_ok=True)
            tracer.write(trace_path)
            record["trace_file"] = os.path.relpath(trace_path, ROOT)
            record["tracing_overhead"] = tracing_overhead(args, e2e)
        else:
            metrics = {
                k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()
            }
        results = os.path.join(WORK, "results")
        os.makedirs(results, exist_ok=True)
        with open(
            os.path.join(
                results, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
            ),
            "w",
        ) as fh:
            json.dump(record, fh, indent=1, default=str)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    for r in record["errors"]:
        print(f"FAILED {r['kind']}: {r['error']}")
    print("provenance " + json.dumps(record["provenance"]))
    print("details " + json.dumps(record["details"], default=str))
    if "tracing_overhead" in record:
        print("tracing_overhead " + json.dumps(record["tracing_overhead"]))
    for name, m in metrics.items():
        print(f"metric {name} = {m['value']:.6g} {m['unit']}")
    ok = (
        summary["failed"] == 0
        and summary["attempted"] > 0
        and all(math.isfinite(m["value"]) for m in metrics.values())
    )
    print(
        json.dumps(
            {
                "correct": ok,
                "attempted": summary["attempted"],
                "failed": summary["failed"],
                "metrics": metrics,
            }
        )
    )
    return 0


def tracing_overhead(args, traced: dict) -> dict | None:
    """Traced minus untraced end-to-end metrics, against the untraced
    run of the same workload and seed when one exists in this checkout."""
    path = os.path.join(
        WORK, "results", f"{args.workload}-seed{args.seed}-trace0.json"
    )
    if not os.path.exists(path):
        return None
    with open(path) as fh:
        base = json.load(fh)["end_to_end"]
    return {k: traced[k] - base[k] for k in END_TO_END}


if __name__ == "__main__":
    sys.exit(main())

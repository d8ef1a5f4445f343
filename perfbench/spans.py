"""Spans around the program's public callables, and per-span Spark
counters read back from an uncompressed event log.

Only the traced run installs the wrappers. Each wrapper opens a span,
sets a Spark job group named after the span id (restoring the parent's
group on exit), and closes the span. After the session stops, the event
log's job, stage and task events are attributed to spans through the
job group, giving per span:

- light counters: ``self_ms`` (wall time minus child spans), ``driver_ms``
  (the part of ``self_ms`` no Spark job of the span itself covers:
  planning, file listing, collects, py4j) and ``jobs``;
- heavy counters, on top: ``tasks``, ``exec_cpu_ms``, ``exec_wait_ms``
  (executor run time minus CPU time), ``gc_ms``, ``shuffle_bytes``
  (read + write), ``spill_bytes`` (memory + disk) and ``io_bytes``
  (input + output).

Every span records the phase it ran in (``setup`` or ``measure``).
Per-layer metrics are the per-call means of these counters over the
``measure`` spans of one name; the set-up spans stay in the span file.
Checks and the verify phase run untraced.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import sys
import time
from dataclasses import asdict, dataclass, field

LIGHT = ("self_ms", "driver_ms", "jobs")
HEAVY = LIGHT + (
    "tasks",
    "exec_cpu_ms",
    "exec_wait_ms",
    "gc_ms",
    "shuffle_bytes",
    "spill_bytes",
    "io_bytes",
)

GROUP_PREFIX = "perfbench-span-"

# (span name, heavy). Spans marked heavy also get executor counters.
LAYERS = (
    ("lake.upsert", True),
    ("lake.read", False),
    ("ingest_capacity.ingest_capacity_csv", True),
    ("csv_source.read_hhs_csv", False),
    ("ingest_capacity.get_or_create_regions", False),
    ("sinks.write_rejects_csv", False),
    ("sinks.append_run_log", False),
    ("compute_metrics.compute_metrics", False),
    ("api_queries.runs_latest", False),
    ("api_queries.capacity_latest", False),
    ("api_queries.metrics_latest", False),
    ("api_queries.metrics_compare", False),
    ("api_queries.available_dates", False),
    ("api_queries.available_dates_full", False),
    ("api_queries.coverage", False),
    ("api_queries.coverage_best_date", False),
    ("api_queries.dashboard_kpis", False),
    ("plans.relational", True),
    ("plans.text", True),
    ("plans.vectors", True),
    ("curate.curate_documents", True),
    ("dedup.materialize", True),
    ("dedup.connected_components_min_label", True),
)

HEAVY_SPANS = {name for name, heavy in LAYERS if heavy}

UNITS = {
    "self_ms": "ms",
    "driver_ms": "ms",
    "jobs": "count",
    "tasks": "count",
    "exec_cpu_ms": "ms",
    "exec_wait_ms": "ms",
    "gc_ms": "ms",
    "shuffle_bytes": "bytes",
    "spill_bytes": "bytes",
    "io_bytes": "bytes",
}


def per_layer_metrics() -> list[tuple[str, str]]:
    """(metric name, unit) of every per-layer metric, in table order."""
    return [
        (f"{name}.{c}", UNITS[c])
        for name, heavy in LAYERS
        for c in (HEAVY if heavy else LIGHT)
    ]


def install(tracer: "Tracer") -> None:
    """Wrap the program's public callables in spans. Each callable is
    replaced wherever a module of the package holds a reference to it,
    so calls between the package's own modules are traced too. The
    ``api_queries.*``, ``plans.*`` and ``curate.curate_documents`` spans
    are opened by the workloads around each request, query or curate
    pass together with the collect or write that executes it."""
    import importlib

    pkg = "hospital_stain_tracker_data_pipeline_spark"
    lake = importlib.import_module(f"{pkg}.pipeline.lake")
    ingest = importlib.import_module(f"{pkg}.pipeline.ingest_capacity")
    metrics = importlib.import_module(f"{pkg}.pipeline.compute_metrics")
    csv_source = importlib.import_module(f"{pkg}.sources.csv_source")
    sinks = importlib.import_module(f"{pkg}.sources.sinks")
    dedup = importlib.import_module(f"{pkg}.operators.dedup")
    importlib.import_module(f"{pkg}.pipeline.curate")

    tracer.wrap(lake.LakeTable, "upsert", "lake.upsert")
    tracer.wrap(lake.LakeTable, "read", "lake.read")
    targets = [
        (ingest.ingest_capacity_csv, "ingest_capacity.ingest_capacity_csv"),
        (csv_source.read_hhs_csv, "csv_source.read_hhs_csv"),
        (ingest.get_or_create_regions, "ingest_capacity.get_or_create_regions"),
        (sinks.write_rejects_csv, "sinks.write_rejects_csv"),
        (sinks.append_run_log, "sinks.append_run_log"),
        (metrics.compute_metrics, "compute_metrics.compute_metrics"),
        (dedup.materialize, "dedup.materialize"),
        (
            dedup.connected_components_min_label,
            "dedup.connected_components_min_label",
        ),
    ]
    modules = [m for n, m in sorted(sys.modules.items()) if n.startswith(pkg)]
    for fn, name in targets:
        for mod in modules:
            for attr, value in list(vars(mod).items()):
                if value is fn:
                    tracer.wrap(mod, attr, name)


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    op: int | None
    phase: str
    start_ms: float
    end_ms: float = 0.0
    counters: dict = field(default_factory=dict)


class Tracer:
    """Span recorder for one traced run. Spans stay in memory until
    :meth:`write`."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self.stack: list[Span] = []
        self.op: int | None = None
        self.phase = "setup"
        # off while results are checked, so check work is not attributed
        self.enabled = True

    def _set_group(self, span: Span | None) -> None:
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(f"{GROUP_PREFIX}{span.id}", span.name)

    def span(self, name: str, fn, *args, **kwargs):
        if not self.enabled:
            return fn(*args, **kwargs)
        parent = self.stack[-1] if self.stack else None
        s = Span(
            id=len(self.spans),
            name=name,
            parent=None if parent is None else parent.id,
            op=self.op,
            phase=self.phase,
            start_ms=time.time() * 1000.0,
        )
        self.spans.append(s)
        self.stack.append(s)
        self._set_group(s)
        try:
            return fn(*args, **kwargs)
        finally:
            s.end_ms = time.time() * 1000.0
            self.stack.pop()
            self._set_group(parent)

    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` (a module function or a class method)
        with a wrapper that runs it inside span ``name``."""
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            return self.span(name, fn, *args, **kwargs)

        setattr(owner, attr, traced)

    # ---- event log attribution ----

    def attribute(self, event_log_dir: str) -> None:
        """Fill every span's counters from the event log the session
        wrote (call after the session has stopped)."""
        jobs, tasks_by_stage = _parse_event_log(event_log_dir)
        by_id = {s.id: s for s in self.spans}
        children: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                children.setdefault(s.parent, []).append(s)
        own_jobs: dict[int, list[dict]] = {}
        for job in jobs.values():
            group = job.get("group") or ""
            if group.startswith(GROUP_PREFIX):
                sid = int(group[len(GROUP_PREFIX):])
                if sid in by_id:
                    own_jobs.setdefault(sid, []).append(job)
        # a stage listed by several jobs ran in the first of them; the
        # later ones skipped it
        stage_owner: dict[int, int] = {}
        for jid in sorted(jobs):
            for st in jobs[jid]["stages"]:
                stage_owner.setdefault(st, jid)
        for s in self.spans:
            kids = [(c.start_ms, c.end_ms) for c in children.get(s.id, ())]
            self_iv = _subtract((s.start_ms, s.end_ms), kids)
            self_ms = sum(b - a for a, b in self_iv)
            js = sorted(own_jobs.get(s.id, ()), key=lambda j: j["start"])
            covered = _union([(j["start"], j["end"]) for j in js])
            in_jobs = sum(_overlap(iv, covered) for iv in self_iv)
            c = {
                "self_ms": self_ms,
                "driver_ms": max(0.0, self_ms - in_jobs),
                "jobs": len(js),
            }
            if s.name in HEAVY_SPANS:
                acc = dict.fromkeys(HEAVY[3:], 0.0)
                for j in js:
                    for st in j["stages"]:
                        if stage_owner[st] != j["id"]:
                            continue
                        for t in tasks_by_stage.get(st, ()):
                            for k, v in t.items():
                                acc[k] += v
                c.update(acc)
            s.counters = c

    def layer_metrics(self) -> dict[str, float]:
        """Per-call mean of every counter over the measured spans, keyed
        ``<span>.<counter>``."""
        sums: dict[str, dict[str, float]] = {}
        calls: dict[str, int] = {}
        for s in self.spans:
            if s.phase != "measure":
                continue
            calls[s.name] = calls.get(s.name, 0) + 1
            acc = sums.setdefault(s.name, {})
            for k, v in s.counters.items():
                acc[k] = acc.get(k, 0.0) + v
        return {
            f"{name}.{k}": v / calls[name]
            for name, acc in sums.items()
            for k, v in acc.items()
        }

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump([asdict(s) for s in self.spans], fh)


def _union(ivs: list[tuple[float, float]]) -> list[tuple[float, float]]:
    out: list[list[float]] = []
    for a, b in sorted(ivs):
        if out and a <= out[-1][1]:
            out[-1][1] = max(out[-1][1], b)
        else:
            out.append([a, b])
    return [(a, b) for a, b in out]


def _subtract(iv, holes):
    out = [iv]
    for ha, hb in _union(holes):
        nxt = []
        for a, b in out:
            if hb <= a or ha >= b:
                nxt.append((a, b))
                continue
            if a < ha:
                nxt.append((a, ha))
            if hb < b:
                nxt.append((hb, b))
        out = nxt
    return out


def _overlap(iv, covered) -> float:
    a, b = iv
    return sum(max(0.0, min(b, cb) - max(a, ca)) for ca, cb in covered)


def _task_counters(m: dict) -> dict[str, float]:
    sr = m.get("Shuffle Read Metrics", {})
    sw = m.get("Shuffle Write Metrics", {})
    run = m.get("Executor Run Time", 0)
    cpu = m.get("Executor CPU Time", 0) / 1e6
    return {
        "tasks": 1.0,
        "exec_cpu_ms": cpu,
        "exec_wait_ms": max(0.0, run - cpu),
        "gc_ms": float(m.get("JVM GC Time", 0)),
        "shuffle_bytes": float(
            sr.get("Remote Bytes Read", 0)
            + sr.get("Local Bytes Read", 0)
            + sw.get("Shuffle Bytes Written", 0)
        ),
        "spill_bytes": float(
            m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
        ),
        "io_bytes": float(
            m.get("Input Metrics", {}).get("Bytes Read", 0)
            + m.get("Output Metrics", {}).get("Bytes Written", 0)
        ),
    }


def event_log_events(log_dir: str):
    """Every event of the (uncompressed, possibly rolling) event log
    under ``log_dir``, in order."""

    def order(path: str):
        # rolling logs: <dir>/events_<n>_<app id>
        name = os.path.basename(path)
        parts = name.split("_")
        n = int(parts[1]) if name.startswith("events_") and parts[1].isdigit() else 0
        return (os.path.dirname(path), n)

    paths = [
        p
        for p in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)
        if os.path.isfile(p) and not os.path.basename(p).startswith(("appstatus", "."))
    ]
    for path in sorted(paths, key=order):
        with open(path) as fh:
            for line in fh:
                yield json.loads(line)


def _parse_event_log(log_dir: str):
    """Jobs (group, start, end, stage ids) and per-stage task counters
    from the event log under ``log_dir``."""
    jobs: dict[int, dict] = {}
    tasks_by_stage: dict[int, list[dict]] = {}
    for ev in event_log_events(log_dir):
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            jobs[ev["Job ID"]] = {
                "id": ev["Job ID"],
                "group": props.get("spark.jobGroup.id"),
                "start": float(ev["Submission Time"]),
                "end": float(ev["Submission Time"]),
                "stages": list(ev.get("Stage IDs", ())),
            }
        elif kind == "SparkListenerJobEnd":
            job = jobs.get(ev["Job ID"])
            if job is not None:
                job["end"] = float(ev["Completion Time"])
        elif kind == "SparkListenerTaskEnd":
            m = ev.get("Task Metrics")
            if m:
                tasks_by_stage.setdefault(ev["Stage ID"], []).append(
                    _task_counters(m)
                )
    return jobs, tasks_by_stage

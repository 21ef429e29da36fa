"""Traced mode: spans around each layer's public functions, and the
Spark event log for what the engine did underneath.

Nothing here is imported by an untraced run. ``Tracer.install`` wraps
every public function of each layer module and rebinds the wrapper under
every name the package bound the original to (``from x import f`` copies
as well as the module attribute), so calls from inside the package are
traced too. Each call records a span (name, layer, start, end, parent,
thread) in memory. While a span is open on the calling thread, the
Spark local property ``perfbench.span`` carries its id, so every job the
span submits is tagged with it in the event log. Jobs submitted from
pool threads, which do not inherit the property, fall back to the
innermost span open at the job's submission time.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import inspect
import json
import os
import sys
import threading
import time
from dataclasses import asdict, dataclass, field

PKG = "graphragdatapipeline_spark"

# layer name -> module (the package modules named as layers)
LAYERS = {
    "graph.algorithms": f"{PKG}.graph.algorithms",
    "graph.entities": f"{PKG}.graph.entities",
    "graph.build": f"{PKG}.graph.build",
    "operators.dedup": f"{PKG}.operators.dedup",
    "operators.curation": f"{PKG}.operators.curation",
    "operators.relational": f"{PKG}.operators.relational",
    "text.analysis": f"{PKG}.text.analysis",
    "text.chunking": f"{PKG}.text.chunking",
    "io": f"{PKG}.io",
    "vector.similarity": f"{PKG}.vector.similarity",
    "streaming.ops": f"{PKG}.streaming.ops",
}

SPAN_PROP = "perfbench.span"

# Spark 4.1 writes a zstd-compressed rolling directory by default; both
# of the last two settings are needed for one plain JSON-lines file.
def event_log_conf(log_dir: str) -> dict[str, str]:
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


@dataclass
class Span:
    id: int
    name: str
    layer: str
    start: float
    thread: int
    parent: int | None
    end: float = 0.0
    children: list[int] = field(default_factory=list)


class Tracer:
    def __init__(self):
        self.spans: list[Span] = []
        self._open_layers: dict[str, int] = {}
        self._lock = threading.Lock()
        self._local = threading.local()
        self._sc = None
        # (module, attribute, original, wrapper) per rebound name
        self._bindings: list[tuple[object, str, object, object]] = []

    # -- spans ---------------------------------------------------------
    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def open(self, name: str, layer: str) -> int:
        st = self._stack()
        with self._lock:
            sid = len(self.spans)
            parent = st[-1] if st else None
            self.spans.append(
                Span(sid, name, layer, time.time(), threading.get_ident(), parent)
            )
            if parent is not None:
                self.spans[parent].children.append(sid)
            self._open_layers[layer] = self._open_layers.get(layer, 0) + 1
        st.append(sid)
        self._tag(str(sid))
        return sid

    def close(self, sid: int) -> None:
        span = self.spans[sid]
        span.end = time.time()
        with self._lock:
            self._open_layers[span.layer] -= 1
        st = self._stack()
        st.pop()
        self._tag(str(st[-1]) if st else None)

    def open_in_layer(self, layer: str) -> bool:
        return self._open_layers.get(layer, 0) > 0

    def _tag(self, value: str | None) -> None:
        if self._sc is not None:
            self._sc.setLocalProperty(SPAN_PROP, value)

    @contextlib.contextmanager
    def span(self, name: str, layer: str):
        sid = self.open(name, layer)
        try:
            yield sid
        finally:
            self.close(sid)

    # -- wrapping ------------------------------------------------------
    def _wrap(self, fn, layer: str):
        tracer = self
        name = f"{layer}.{fn.__name__}"

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with tracer.span(name, layer):
                return fn(*args, **kwargs)

        return traced

    def install(self, sc) -> None:
        """Build a wrapper for every layer's public function; ``enable``
        turns them on."""
        import importlib

        self._sc = sc
        wrapped: dict[int, object] = {}
        for layer, modname in LAYERS.items():
            mod = importlib.import_module(modname)
            for attr, fn in vars(mod).items():
                if (
                    not attr.startswith("_")
                    and inspect.isfunction(fn)
                    and fn.__module__ == modname
                ):
                    wrapped[id(fn)] = self._wrap(fn, layer)
        for mod in [m for n, m in sys.modules.items() if n.startswith(PKG) and m]:
            for attr, val in list(vars(mod).items()):
                w = wrapped.get(id(val))
                if w is not None:
                    self._bindings.append((mod, attr, val, w))

    def enable(self) -> None:
        for mod, attr, _orig, w in self._bindings:
            setattr(mod, attr, w)

    def disable(self) -> None:
        for mod, attr, orig, _w in self._bindings:
            setattr(mod, attr, orig)

    def uninstall(self) -> None:
        self.disable()
        self._bindings.clear()
        self._sc = None

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                row = {k: v for k, v in asdict(s).items() if k != "children"}
                fh.write(json.dumps(row) + "\n")


def self_times(spans: list[Span]) -> list[float]:
    """Span duration minus the part of it its child spans cover."""
    out = []
    for s in spans:
        covered = union_length(
            (max(spans[c].start, s.start), min(spans[c].end, s.end)) for c in s.children
        )
        out.append(max(0.0, (s.end - s.start) - covered))
    return out


def union_length(intervals) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for a, b in sorted(intervals):
        if b <= a:
            continue
        if cur_e is None or a > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = a, b
        else:
            cur_e = max(cur_e, b)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


# -- event log ---------------------------------------------------------

@dataclass
class Job:
    id: int
    submit: float
    end: float = 0.0
    span: int | None = None
    stages: list[int] = field(default_factory=list)


@dataclass
class StageTotals:
    task_ms: list[float] = field(default_factory=list)
    tasks: int = 0
    failed_tasks: int = 0
    task_s: float = 0.0
    wait_s: float = 0.0
    gc_s: float = 0.0
    spill_mb: float = 0.0
    shuffle_write_mb: float = 0.0
    shuffle_read_mb: float = 0.0
    scan_mb: float = 0.0
    scan_rows: int = 0


def read_event_log(log_dir: str, app_id: str):
    """(jobs, per-stage totals) from the application's event log."""
    paths = glob.glob(os.path.join(log_dir, app_id + "*"))
    if not paths:
        raise FileNotFoundError(f"no event log for {app_id} in {log_dir}")
    jobs: dict[int, Job] = {}
    stages: dict[int, StageTotals] = {}
    stage_submit: dict[int, float] = {}
    mb = 1.0 / (1 << 20)
    with open(paths[0]) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                span = props.get(SPAN_PROP)
                jobs[ev["Job ID"]] = Job(
                    ev["Job ID"],
                    ev["Submission Time"] / 1000.0,
                    span=int(span) if span not in (None, "") else None,
                    stages=list(ev.get("Stage IDs", [])),
                )
            elif kind == "SparkListenerJobEnd":
                if ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]].end = ev["Completion Time"] / 1000.0
            elif kind == "SparkListenerStageSubmitted":
                info = ev["Stage Info"]
                if "Submission Time" in info:
                    stage_submit[info["Stage ID"]] = info["Submission Time"] / 1000.0
            elif kind == "SparkListenerTaskEnd":
                st = stages.setdefault(ev["Stage ID"], StageTotals())
                info, m = ev["Task Info"], ev.get("Task Metrics") or {}
                st.tasks += 1
                if info.get("Failed") or ev["Task End Reason"]["Reason"] != "Success":
                    st.failed_tasks += 1
                st.task_s += m.get("Executor Run Time", 0) / 1000.0
                st.task_ms.append(float(info["Finish Time"] - info["Launch Time"]))
                sub = stage_submit.get(ev["Stage ID"])
                if sub is not None:
                    st.wait_s += max(0.0, info["Launch Time"] / 1000.0 - sub)
                st.gc_s += m.get("JVM GC Time", 0) / 1000.0
                st.spill_mb += (
                    m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                ) * mb
                sw = m.get("Shuffle Write Metrics") or {}
                st.shuffle_write_mb += sw.get("Shuffle Bytes Written", 0) * mb
                sr = m.get("Shuffle Read Metrics") or {}
                st.shuffle_read_mb += (
                    sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                ) * mb
                inp = m.get("Input Metrics") or {}
                st.scan_mb += inp.get("Bytes Read", 0) * mb
                st.scan_rows += inp.get("Records Read", 0)
    return list(jobs.values()), stages


# -- per-layer metrics ---------------------------------------------------

def per_layer_names(queries) -> list[tuple[str, str]]:
    """Every per-layer metric as (name, unit), in output order."""
    names = [
        ("session.start_s", "s"),
        ("session.warmup_extra_s", "s"),
        ("ops.failed_frac", "fraction"),
    ]
    names += [
        (f"spark.{k}", u)
        for k, u in (
            ("jobs", "count"),
            ("stages", "count"),
            ("tasks", "count"),
            ("failed_tasks", "count"),
            ("driver_s", "s"),
            ("task_s", "s"),
            ("task_wait_s", "s"),
            ("task_ms_p50", "ms"),
            ("task_ms_tail", "ms"),
            ("slot_util", "fraction"),
            ("shuffle_write_mb", "MB"),
            ("shuffle_read_mb", "MB"),
            ("spill_mb", "MB"),
            ("gc_s", "s"),
            ("peak_storage_mb", "MB"),
        )
    ]
    names += [("io.scan_mb", "MB"), ("io.scan_rows", "rows")]
    for layer in LAYERS:
        names += [
            (f"{layer}.calls", "count"),
            (f"{layer}.self_s", "s"),
            (f"{layer}.jobs", "count"),
        ]
    names.append(("graph.algorithms.peak_storage_mb", "MB"))
    for q in queries:
        names += [
            (f"q.{q}.wall_s", "s"),
            (f"q.{q}.jobs", "count"),
            (f"q.{q}.task_s", "s"),
            (f"q.{q}.shuffle_mb", "MB"),
            (f"q.{q}.driver_s", "s"),
        ]
    names += [
        ("trace.overhead_frac", "fraction"),
        ("trace.unattributed_frac", "fraction"),
        ("trace.jobs_delta", "count"),
        ("trace.spans", "count"),
    ]
    return names


def _innermost_open(spans: list[Span], t: float) -> int | None:
    best = None
    for s in spans:
        if s.start <= t <= s.end and (best is None or s.start >= spans[best].start):
            best = s.id
    return best


def _ancestor(spans: list[Span], sid: int | None, pred) -> Span | None:
    while sid is not None:
        if pred(spans[sid]):
            return spans[sid]
        sid = spans[sid].parent
    return None


def per_layer_metrics(
    *,
    tracer: Tracer,
    jobs: list[Job],
    stages: dict[int, StageTotals],
    all_queries,
    untraced_windows: list[tuple[float, float]],
    untraced_pass_s: float,
    traced_pass_s: float,
    start_s: float,
    warmup_s: float,
    storage,
    cores: int,
    failed_frac: float,
) -> dict[str, dict]:
    """Per-pass averages over the traced passes (see NOTES.md for each
    metric's definition)."""
    from stats import TAIL_BEYOND, median, tail_percentile

    spans = tracer.spans
    qspans = [s for s in spans if s.layer == "query"]
    n_passes = max(1, len(qspans) // max(1, len({s.name for s in qspans})))

    def in_query(t: float) -> bool:
        return any(s.start <= t <= s.end for s in qspans)

    traced_jobs = [j for j in jobs if in_query(j.submit)]
    untraced_jobs = [
        j for j in jobs if any(a <= j.submit <= b for a, b in untraced_windows)
    ]
    stage_job: dict[int, Job] = {}
    for j in sorted(jobs, key=lambda j: j.id):
        for sid in j.stages:
            stage_job.setdefault(sid, j)

    def stages_of(job_ids: set[int]) -> list[StageTotals]:
        return [
            st
            for sid, st in stages.items()
            if sid in stage_job and stage_job[sid].id in job_ids
        ]

    run_stages = stages_of({j.id for j in traced_jobs})

    def owner(j: Job) -> int | None:
        if j.span is not None and j.span < len(spans):
            return j.span
        return _innermost_open(spans, j.submit)

    out: dict[str, float] = {}
    out["session.start_s"] = start_s
    out["session.warmup_extra_s"] = warmup_s - untraced_pass_s
    out["ops.failed_frac"] = failed_frac

    def per(x: float) -> float:
        return x / n_passes

    task_s = sum(st.task_s for st in run_stages)
    job_union = union_length(
        (max(j.submit, s.start), min(j.end, s.end))
        for s in qspans
        for j in traced_jobs
    )
    query_wall = sum(s.end - s.start for s in qspans)
    task_ms = [x for st in run_stages for x in st.task_ms]
    tail = tail_percentile(task_ms) or (50.0, median(task_ms) if task_ms else 0.0)
    out.update(
        {
            "spark.jobs": per(len(traced_jobs)),
            "spark.stages": per(sum(1 for st in run_stages if st.tasks)),
            "spark.tasks": per(sum(st.tasks for st in run_stages)),
            "spark.failed_tasks": per(sum(st.failed_tasks for st in run_stages)),
            "spark.driver_s": per(query_wall - job_union),
            "spark.task_s": per(task_s),
            "spark.task_wait_s": per(sum(st.wait_s for st in run_stages)),
            "spark.task_ms_p50": median(task_ms) if task_ms else 0.0,
            "spark.task_ms_tail": tail[1],
            "spark.slot_util": task_s / (query_wall * cores) if query_wall else 0.0,
            "spark.shuffle_write_mb": per(sum(st.shuffle_write_mb for st in run_stages)),
            "spark.shuffle_read_mb": per(sum(st.shuffle_read_mb for st in run_stages)),
            "spark.spill_mb": per(sum(st.spill_mb for st in run_stages)),
            "spark.gc_s": per(sum(st.gc_s for st in run_stages)),
            "spark.peak_storage_mb": storage.peak_mb,
            "io.scan_mb": per(sum(st.scan_mb for st in run_stages)),
            "io.scan_rows": per(sum(st.scan_rows for st in run_stages)),
        }
    )

    selfs = self_times(spans)
    for layer in LAYERS:
        mine = [s for s in spans if s.layer == layer and in_query(s.start)]
        out[f"{layer}.calls"] = per(len(mine))
        out[f"{layer}.self_s"] = per(sum(selfs[s.id] for s in mine))
        out[f"{layer}.jobs"] = 0.0
    out["graph.algorithms.peak_storage_mb"] = storage.peak_scoped_mb

    q_jobs: dict[int, list[Job]] = {s.id: [] for s in qspans}
    for j in traced_jobs:
        sid = owner(j)
        lay = _ancestor(spans, sid, lambda s: s.layer in LAYERS)
        if lay is not None:
            out[f"{lay.layer}.jobs"] += 1.0 / n_passes
        q = _ancestor(spans, sid, lambda s: s.layer == "query")
        if q is not None:
            q_jobs[q.id].append(j)

    for name in all_queries:
        mine = [s for s in qspans if s.name == f"q.{name}"]
        k = max(1, len(mine))
        js = [j for s in mine for j in q_jobs[s.id]]
        sts = stages_of({j.id for j in js})
        busy = sum(
            union_length((max(j.submit, s.start), min(j.end, s.end)) for j in q_jobs[s.id])
            for s in mine
        )
        wall = sum(s.end - s.start for s in mine)
        out[f"q.{name}.wall_s"] = wall / k
        out[f"q.{name}.jobs"] = len(js) / k
        out[f"q.{name}.task_s"] = sum(st.task_s for st in sts) / k
        out[f"q.{name}.shuffle_mb"] = (
            sum(st.shuffle_write_mb + st.shuffle_read_mb for st in sts) / k
        )
        out[f"q.{name}.driver_s"] = (wall - busy) / k

    layer_union = union_length(
        (max(s.start, q.start), min(s.end, q.end))
        for q in qspans
        for s in spans
        if s.layer in LAYERS and q.start <= s.start <= q.end
    )
    out["trace.overhead_frac"] = traced_pass_s / untraced_pass_s - 1.0
    out["trace.unattributed_frac"] = 1.0 - layer_union / query_wall if query_wall else 0.0
    n_untraced = max(1, len(untraced_windows))
    out["trace.jobs_delta"] = per(len(traced_jobs)) - len(untraced_jobs) / n_untraced
    out["trace.spans"] = per(sum(1 for s in spans if s.layer != "query"))

    units = dict(per_layer_names(all_queries))
    print(
        f"  spark.task_ms_tail is p{tail[0]:g} of {len(task_ms)} task durations"
        f" (the highest percentile with at least {TAIL_BEYOND} tasks beyond it)"
    )
    return {k: {"value": out[k], "unit": units[k]} for k in units}

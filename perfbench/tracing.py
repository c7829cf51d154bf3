"""Per-layer tracing from outside the program.

A traced run wraps every call into a ``cminer_spark`` layer in a span.
Entering a span sets a Spark job group named after the span, so each
Spark job in the (uncompressed) event log can be attributed to the
span that submitted it. After the session stops, :func:`summarize`
joins the spans with the event log and reports, per layer:

* time: ``wall_s`` (span self time: duration minus child spans),
  ``exec_cpu_s``, ``exec_run_s``, ``gc_s`` (task sums) and
  ``driver_s`` (self time not covered by any of the span's jobs: the
  scheduling / Py4J / planning wait);
* counts: ``jobs``, ``tasks``, ``task_failures``;
* data: ``shuffle_write_mb``, ``shuffle_read_mb``, ``spill_mb``,
  ``output_mb``;
* skew: ``task_skew``, max/median task run time in the layer's
  largest stage.

Untraced runs use :class:`NullTracer`, which records nothing and sets
no job group.
"""

from __future__ import annotations

import contextlib
import json
import statistics
import time
from dataclasses import dataclass, field
from pathlib import Path

LAYERS = (
    "session",
    "tables",
    "edges",
    "pagerank",
    "components",
    "lpa",
    "triangles",
    "checkpoint",
)
# (name, unit) of the time, count, data and skew metrics of every layer
LAYER_METRICS = (
    ("wall_s", "s"),
    ("exec_cpu_s", "s"),
    ("exec_run_s", "s"),
    ("gc_s", "s"),
    ("driver_s", "s"),
    ("jobs", "count"),
    ("tasks", "count"),
    ("task_failures", "count"),
    ("shuffle_write_mb", "MB"),
    ("shuffle_read_mb", "MB"),
    ("spill_mb", "MB"),
    ("output_mb", "MB"),
    ("task_skew", "ratio"),
)
_GROUP_KEY = "spark.jobGroup.id"
_GROUP_PREFIX = "perfbench-span-"
_MB = 1024.0 * 1024.0


@dataclass
class Span:
    span_id: int
    layer: str
    parent: int | None
    start: float
    end: float = 0.0
    children: list[int] = field(default_factory=list)


class NullTracer:
    """Untraced runs: spans cost nothing and lazy results stay lazy."""

    enabled = False

    @contextlib.contextmanager
    def span(self, layer: str):
        yield

    def lazy(self, layer: str, make):
        with self.span(layer):
            return make()

    def tag_current(self) -> None:
        pass

    def release(self) -> None:
        pass


class Tracer(NullTracer):
    """Records spans and tags the jobs each span submits.

    ``pass_index`` is set by the harness; spans opened outside a pass
    (session launches) carry ``None``.
    """

    enabled = True

    def __init__(self, spark_context_of):
        self._sc_of = spark_context_of
        self.spans: dict[int, Span] = {}
        self.span_pass: dict[int, int | None] = {}
        self._stack: list[int] = []
        self._persisted: list = []
        self.pass_index: int | None = None

    def _set_group(self, span_id: int | None) -> None:
        sc = self._sc_of()
        if sc is None:
            return
        sc.setLocalProperty(
            _GROUP_KEY, None if span_id is None else f"{_GROUP_PREFIX}{span_id}"
        )

    def tag_current(self) -> None:
        """Re-tag the innermost span, for spans that create the
        SparkContext they run in."""
        self._set_group(self._stack[-1] if self._stack else None)

    @contextlib.contextmanager
    def span(self, layer: str):
        if layer not in LAYERS:
            raise ValueError(f"unknown layer {layer!r}")
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), layer, parent, 0.0)
        self.spans[s.span_id] = s
        self.span_pass[s.span_id] = self.pass_index
        if parent is not None:
            self.spans[parent].children.append(s.span_id)
        self._stack.append(s.span_id)
        self._set_group(s.span_id)
        s.start = time.time()
        try:
            yield
        finally:
            s.end = time.time()
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)

    def lazy(self, layer: str, make):
        """Call ``make`` under ``layer`` and force the lazy DataFrame it
        returns with a ``noop`` write inside the same span, caching the
        rows so the later parquet write is charged to ``tables`` alone."""
        with self.span(layer):
            df = make().persist()
            df.write.format("noop").mode("overwrite").save()
        self._persisted.append(df)
        return df

    def release(self) -> None:
        for df in self._persisted:
            df.unpersist()
        self._persisted.clear()


class TracedCheckpoint:
    """Delegates to a ``SuperstepCheckpoint`` and runs ``save``,
    ``latest`` and ``update_metrics`` in ``checkpoint`` spans. Counts
    the saves of the current pass."""

    def __init__(self, inner, tracer: NullTracer):
        self._inner = inner
        self._tracer = tracer
        self.saves = 0

    def save(self, i, df, metrics):
        self.saves += 1
        with self._tracer.span("checkpoint"):
            return self._inner.save(i, df, metrics)

    def latest(self):
        with self._tracer.span("checkpoint"):
            return self._inner.latest()

    def update_metrics(self, i, extra):
        with self._tracer.span("checkpoint"):
            return self._inner.update_metrics(i, extra)

    def __getattr__(self, name):
        return getattr(self._inner, name)


# ---------------------------------------------------------------------
# event log
# ---------------------------------------------------------------------


@dataclass
class _Job:
    span_id: int | None
    submitted: float = 0.0
    completed: float = 0.0
    stages: list[int] = field(default_factory=list)


def _read_event_log(path: Path):
    """Jobs and finished tasks of one application's event log."""
    jobs: dict[int, _Job] = {}
    tasks: list[tuple[int, dict]] = []
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get(_GROUP_KEY) or ""
                span_id = (
                    int(group[len(_GROUP_PREFIX):])
                    if group.startswith(_GROUP_PREFIX)
                    else None
                )
                jobs[ev["Job ID"]] = _Job(
                    span_id, ev["Submission Time"] / 1000.0, stages=ev["Stage IDs"]
                )
            elif kind == "SparkListenerJobEnd":
                job = jobs.get(ev["Job ID"])
                if job is not None:
                    job.completed = ev["Completion Time"] / 1000.0
            elif kind == "SparkListenerTaskEnd":
                tasks.append((ev["Stage ID"], ev))
    return jobs, tasks


def _covered(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def summarize(tracer: Tracer, event_log_dir: Path, passes: list[int]) -> dict:
    """Per-layer metrics, averaged over the traced ``passes``; session
    spans (outside passes) are averaged over the session launches."""
    wanted = set(passes)
    acc = {layer: {name: 0.0 for name, _ in LAYER_METRICS} for layer in LAYERS}
    n_launches = sum(1 for s in tracer.spans.values() if s.layer == "session")
    stage_runs: dict[str, dict[tuple[str, int], list[float]]] = {
        layer: {} for layer in LAYERS
    }

    def counted(span_id: int | None) -> str | None:
        if span_id is None or span_id not in tracer.spans:
            return None
        layer = tracer.spans[span_id].layer
        p = tracer.span_pass[span_id]
        if layer == "session" or p in wanted:
            return layer
        return None

    def weight(layer: str) -> float:
        return 1.0 / max(n_launches if layer == "session" else len(passes), 1)

    job_cover: dict[int, list[tuple[float, float]]] = {}
    for log in sorted(event_log_dir.iterdir()):
        jobs, tasks = _read_event_log(log)
        stage_job: dict[int, _Job] = {}
        for jid in sorted(jobs):
            for st in jobs[jid].stages:
                stage_job.setdefault(st, jobs[jid])
        for job in jobs.values():
            layer = counted(job.span_id)
            if layer is None:
                continue
            acc[layer]["jobs"] += weight(layer)
            job_cover.setdefault(job.span_id, []).append(
                (job.submitted, job.completed or job.submitted)
            )
        for stage_id, ev in tasks:
            job = stage_job.get(stage_id)
            layer = counted(job.span_id) if job is not None else None
            if layer is None:
                continue
            w = weight(layer)
            m = ev.get("Task Metrics") or {}
            a = acc[layer]
            a["tasks"] += w
            if (ev.get("Task End Reason") or {}).get("Reason") != "Success":
                a["task_failures"] += w
            run_s = m.get("Executor Run Time", 0) / 1000.0
            a["exec_run_s"] += w * run_s
            a["exec_cpu_s"] += w * m.get("Executor CPU Time", 0) / 1e9
            a["gc_s"] += w * m.get("JVM GC Time", 0) / 1000.0
            sr = m.get("Shuffle Read Metrics") or {}
            a["shuffle_read_mb"] += (
                w * (sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)) / _MB
            )
            sw = m.get("Shuffle Write Metrics") or {}
            a["shuffle_write_mb"] += w * sw.get("Shuffle Bytes Written", 0) / _MB
            a["spill_mb"] += w * m.get("Disk Bytes Spilled", 0) / _MB
            out = m.get("Output Metrics") or {}
            a["output_mb"] += w * out.get("Bytes Written", 0) / _MB
            stage_runs[layer].setdefault((log.name, stage_id), []).append(run_s)

    for span in tracer.spans.values():
        layer = counted(span.span_id)
        if layer is None:
            continue
        child = sum(
            tracer.spans[c].end - tracer.spans[c].start for c in span.children
        )
        self_s = max(span.end - span.start - child, 0.0)
        clipped = [
            (max(a, span.start), min(b, span.end))
            for a, b in job_cover.get(span.span_id, [])
            if b > span.start and a < span.end
        ]
        w = weight(layer)
        acc[layer]["wall_s"] += w * self_s
        acc[layer]["driver_s"] += w * max(self_s - _covered(clipped), 0.0)

    for layer, stages in stage_runs.items():
        if not stages:
            continue
        runs = max(stages.values(), key=sum)
        med = statistics.median(runs)
        acc[layer]["task_skew"] = max(runs) / med if med > 0 else 1.0

    return {
        f"{layer}.{name}": acc[layer][name]
        for layer in LAYERS
        for name, _ in LAYER_METRICS
    }

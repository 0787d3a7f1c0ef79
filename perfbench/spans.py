"""Spans around calls into the program's modules, joined to Spark stage
metrics read from the driver's status REST API.

A span records name, layer, start, end, parent and run id, and is kept in
memory. Spark jobs are attributed to the innermost span that submitted
them: by job group when the job carries one this tracer set (jobs from the
main thread), otherwise by submission-time window (jobs submitted from
plain ``ThreadPoolExecutor`` threads, which do not inherit the caller's
job group). Stage metrics are read after every top-level step, because the
session caps ``spark.ui.retainedStages``.

With tracing off, :class:`NullTracer` keeps the same interface and records
nothing, so the timed code is identical apart from the span bookkeeping.
"""

from __future__ import annotations

import functools
import importlib
import json
import threading
import time
import urllib.request
from contextlib import contextmanager
from dataclasses import dataclass, field
from datetime import datetime, timezone

# Functions wrapped in spans, per layer. Only driver-side entry points:
# a function that is shipped to executors (``scoring.predict``) must stay
# the module's own, or cloudpickle would try to ship the wrapper.
INSTRUMENTED = {
    "cli": ("spark_pipeline_spark.cli", (
        "main_mover", "main_pipeline", "main_validator", "main_trainer", "main_scorer",
    )),
    "io.sources": ("spark_pipeline_spark.io.sources", ("load",)),
    "io.sinks": ("spark_pipeline_spark.io.sinks", ("save",)),
    "operators.scoring": ("spark_pipeline_spark.operators.scoring", ("score",)),
    "operators.training": ("spark_pipeline_spark.operators.training", (
        "train", "load_model",
    )),
    "operators.quality": ("spark_pipeline_spark.operators.quality", ("check",)),
    "operators.datadiff": ("spark_pipeline_spark.operators.datadiff", (
        "diff_datasets_continuous", "diff_datasets_discrete",
    )),
    "operators.dedup": ("spark_pipeline_spark.operators.dedup", (
        "minhash_near_dup_pairs",
    )),
    "operators.graph": ("spark_pipeline_spark.operators.graph", (
        "connected_components", "dedup_representatives",
    )),
    "streaming": ("spark_pipeline_spark.streaming", (
        "read_parquet_stream", "stream_dedup_lsh_sink",
    )),
    "ann_index": ("spark_pipeline_spark.ann_index", (
        "build_ivf_index", "refresh_ivf_index", "ivf_index_search",
        "ivf_index_search_pq", "purge_ids_from_ivf_index", "rebuild_ivf_index",
    )),
}

# Every layer the benchmark reports; ``session``, ``operators.text`` and
# ``queries`` get their spans from the workload code itself.
LAYERS = (
    "session", "cli", "io.sources", "io.sinks", "operators.scoring",
    "operators.training", "operators.quality", "operators.datadiff",
    "operators.text", "operators.dedup", "operators.graph", "streaming",
    "ann_index", "queries",
)
LAYER_METRICS = {
    "self_s": "s", "driver_s": "s", "wait_s": "s", "jobs": "count",
    "tasks": "count", "cpu_s": "s", "shuffle_mb": "MB", "spill_mb": "MB",
}
_MB = 1024.0 * 1024.0


@dataclass
class Span:
    sid: int
    name: str
    layer: str | None  # None: benchmark bookkeeping, reported under no layer
    parent: int | None
    run_id: str
    start: float
    end: float = 0.0
    jobs: list[dict] = field(default_factory=list)


def _rest_time(s: str | None) -> float | None:
    # e.g. "2026-10-17T02:40:00.123GMT"
    if not s:
        return None
    dt = datetime.strptime(s.replace("GMT", ""), "%Y-%m-%dT%H:%M:%S.%f")
    return dt.replace(tzinfo=timezone.utc).timestamp()


class NullTracer:
    """Tracing off: spans cost one context manager and record nothing."""

    enabled = False

    @contextmanager
    def span(self, name: str, layer: str | None = None):
        yield

    def step_done(self) -> None:
        pass


class Tracer:
    """Tracing on: records spans and attributes Spark stages to them."""

    enabled = True

    def __init__(self, spark, run_id: str) -> None:
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.spans: list[Span] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self._seen_jobs: set[int] = set()
        self._base = f"{self.sc.uiWebUrl}/api/v1/applications/{self.sc.applicationId}"
        self._patched: list[tuple[object, str, object]] = []

    # -- spans -------------------------------------------------------------
    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, layer: str | None = None):
        stack = self._stack()
        with self._lock:
            sp = Span(
                sid=len(self.spans), name=name, layer=layer,
                parent=stack[-1].sid if stack else None,
                run_id=self.run_id, start=time.time(),
            )
            self.spans.append(sp)
        stack.append(sp)
        self.sc.setJobGroup(f"pb-{sp.sid}", name)
        try:
            yield sp
        finally:
            sp.end = time.time()
            stack.pop()
            if stack:
                self.sc.setJobGroup(f"pb-{stack[-1].sid}", stack[-1].name)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    def instrument(self) -> None:
        """Wrap the public entry points in :data:`INSTRUMENTED`."""
        for layer, (modname, names) in INSTRUMENTED.items():
            mod = importlib.import_module(modname)
            for n in names:
                orig = getattr(mod, n)
                setattr(mod, n, self._wrap(orig, layer, f"{layer}.{n}"))
                self._patched.append((mod, n, orig))

    def uninstrument(self) -> None:
        for mod, n, orig in reversed(self._patched):
            setattr(mod, n, orig)
        self._patched.clear()

    def _wrap(self, fn, layer: str, name: str):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with self.span(name, layer):
                return fn(*args, **kwargs)

        return wrapper

    # -- stage metrics -----------------------------------------------------
    def _get(self, path: str):
        with urllib.request.urlopen(self._base + path, timeout=30) as resp:
            return json.loads(resp.read().decode())

    def step_done(self) -> None:
        """Attribute every job that finished since the last call."""
        jobs = [j for j in self._get("/jobs") if j["jobId"] not in self._seen_jobs]
        jobs = [j for j in jobs if j.get("status") in ("SUCCEEDED", "FAILED")]
        if not jobs:
            return
        stages = {}
        for s in self._get("/stages"):
            if s.get("status") in ("COMPLETE", "FAILED"):
                stages.setdefault(s["stageId"], s)
        by_id = {sp.sid: sp for sp in self.spans}
        claimed: set[int] = set()
        for j in sorted(jobs, key=lambda j: j["jobId"]):
            self._seen_jobs.add(j["jobId"])
            sp = None
            group = j.get("jobGroup") or ""
            if group.startswith("pb-"):
                sp = by_id.get(int(group[3:]))
            if sp is None:
                sp = self._innermost_at(_rest_time(j.get("submissionTime")))
            if sp is None:
                continue
            own = []
            for sid in j.get("stageIds", []):
                if sid in stages and sid not in claimed:
                    claimed.add(sid)
                    own.append(stages[sid])
            sp.jobs.append({"job": j, "stages": own})

    def _innermost_at(self, t: float | None) -> Span | None:
        if t is None:
            return None
        best = None
        for sp in self.spans:
            end = sp.end or float("inf")
            # REST times have millisecond resolution
            if sp.start - 0.001 <= t <= end + 0.001:
                if best is None or sp.start >= best.start:
                    best = sp
        return best

    # -- aggregation -------------------------------------------------------
    def _subtree(self, root: int):
        """Yield ``(span, children)`` for ``root`` and every span under it."""
        children: dict[int, list[Span]] = {}
        for sp in self.spans:
            if sp.parent is not None:
                children.setdefault(sp.parent, []).append(sp)
        todo = [self.spans[root]]
        while todo:
            sp = todo.pop()
            kids = children.get(sp.sid, [])
            todo.extend(kids)
            yield sp, kids

    def layer_totals(self, root: int) -> dict[str, dict[str, float]]:
        """Per-layer sums over the spans under ``root`` (inclusive)."""
        out: dict[str, dict[str, float]] = {}
        for sp, kids in self._subtree(root):
            if sp.layer is None:
                continue
            covered = _union([(k.start, k.end) for k in kids], sp.start, sp.end)
            self_s = max(0.0, (sp.end - sp.start) - covered)
            stage_iv = []
            m = out.setdefault(sp.layer, dict.fromkeys(LAYER_METRICS, 0.0))
            m["self_s"] += self_s
            for rec in sp.jobs:
                m["jobs"] += 1
                for st in rec["stages"]:
                    sub = _rest_time(st.get("submissionTime"))
                    first = _rest_time(st.get("firstTaskLaunchedTime"))
                    done = _rest_time(st.get("completionTime"))
                    if sub is not None and first is not None:
                        m["wait_s"] += max(0.0, first - sub)
                    if sub is not None and done is not None:
                        stage_iv.append((sub, done))
                    m["tasks"] += st.get("numTasks", 0)
                    m["cpu_s"] += st.get("executorCpuTime", 0) / 1e9
                    m["shuffle_mb"] += (
                        st.get("shuffleReadBytes", 0) + st.get("shuffleWriteBytes", 0)
                    ) / _MB
                    m["spill_mb"] += (
                        st.get("memoryBytesSpilled", 0) + st.get("diskBytesSpilled", 0)
                    ) / _MB
            busy = _union(stage_iv, sp.start, sp.end)
            m["driver_s"] += max(0.0, self_s - busy)
        return out

    def io_totals(self, root: int) -> tuple[float, float]:
        """(input MB, output MB) over every stage attributed under ``root``."""
        inp = outp = 0.0
        for sp, _ in self._subtree(root):
            for rec in sp.jobs:
                for st in rec["stages"]:
                    inp += st.get("inputBytes", 0) / _MB
                    outp += st.get("outputBytes", 0) / _MB
        return inp, outp

    def dump(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as fh:
            for sp in self.spans:
                fh.write(json.dumps({
                    "run_id": sp.run_id, "sid": sp.sid, "name": sp.name,
                    "layer": sp.layer, "parent": sp.parent, "start": sp.start,
                    "end": sp.end, "jobs": [r["job"]["jobId"] for r in sp.jobs],
                }) + "\n")


def _union(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total

"""In-memory spans around calls into the program's layers.

A span records its name, start, end, parent and run id. While a span
is open, the Spark work it launches runs under the span's own job
group, so the job and task counts per span come from the status
tracker. Spans are kept in memory and written out once, at the end of
the run. Nothing in the program is edited: the benchmark wraps public
functions by rebinding the names the callers look up, and restores
them afterwards.
"""

from __future__ import annotations

import contextlib
import importlib
import json
import time
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    span_id: int
    name: str
    parent: int | None
    run_id: str
    start: float
    end: float = 0.0
    jobs: int = 0
    tasks: int = 0
    counts: dict = field(default_factory=dict)

    @property
    def layer(self) -> str:
        return self.name.split(".", 1)[0]


def self_times(spans: list[Span]) -> dict[int, float]:
    """Each span's duration minus the part of its interval that its
    child spans cover (overlapping children are counted once)."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        covered = 0.0
        cur_lo = cur_hi = None
        for c in sorted(children.get(s.span_id, []), key=lambda c: c.start):
            lo, hi = max(c.start, s.start), min(c.end, s.end)
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s.span_id] = (s.end - s.start) - covered
    return out


class Tracer:
    """Span recorder bound to one SparkContext. Single-threaded, like
    the benchmark's closed loop."""

    def __init__(self, sc, run_id: str):
        self.sc = sc
        self.run_id = run_id
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._counted_stages: set[int] = set()
        self._cached: list = []
        #: seconds spent in the tracer's own work: job-group switches,
        #: status-tracker queries and forced materializations
        self.overhead_s = 0.0

    def _group(self, span_id: int) -> str:
        return f"perfbench-{self.run_id}-{span_id}"

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, parent.span_id if parent else None,
                 self.run_id, time.perf_counter())
        self.spans.append(s)
        self._stack.append(s)
        self.sc.setJobGroup(self._group(s.span_id), name)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(self._group(parent.span_id), parent.name)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            s.jobs, s.tasks = self._spark_work(self._group(s.span_id))
            self.overhead_s += time.perf_counter() - s.end

    def _spark_work(self, group: str) -> tuple[int, int]:
        """(jobs, completed tasks) launched under ``group``. A stage
        reused by a later job is counted once, by the first span that
        ran it."""
        st = self.sc.statusTracker()
        jobs = st.getJobIdsForGroup(group)
        tasks = 0
        for j in jobs:
            info = st.getJobInfo(j)
            for sid in (info.stageIds if info else []):
                if sid in self._counted_stages:
                    continue
                stage = st.getStageInfo(sid)
                if stage is not None:
                    self._counted_stages.add(sid)
                    tasks += stage.numCompletedTasks
        return len(jobs), tasks

    def force(self, df, span: Span):
        """Materialize a lazy DataFrame at a span boundary: cache it,
        run it once through a no-op sink, and hand the cached frame on
        so the caller's own action does not recompute it. The row
        count rides the same job (an observation) and is added to
        ``span``'s ``rows`` count."""
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        t0 = time.perf_counter()
        cached = df.cache()
        self._cached.append(cached)
        obs = Observation()
        cached.observe(obs, F.count(F.lit(1)).alias("n")).write.format("noop").mode(
            "overwrite"
        ).save()
        span.counts["rows"] = span.counts.get("rows", 0) + int(obs.get["n"])
        self.overhead_s += time.perf_counter() - t0
        return cached

    def release(self) -> None:
        """Drop the caches that force() added."""
        for df in self._cached:
            df.unpersist()
        self._cached.clear()

    def wrap(self, fn, name: str, force: str | None = None):
        """``fn`` inside a span named ``name``. ``force``: None leaves
        the result as returned; "cache" forces every DataFrame in the
        result (see force()); "scan" runs the first DataFrame of the
        result once through a no-op sink without caching, for results
        the program already caches itself (read_shop_json's good rows
        materialize its cached parse)."""
        from pyspark.sql import DataFrame

        def forced(s, v, first):
            if not isinstance(v, DataFrame) or force is None:
                return v
            if force == "cache":
                return self.force(v, s)
            if first:
                t0 = time.perf_counter()
                v.write.format("noop").mode("overwrite").save()
                self.overhead_s += time.perf_counter() - t0
            return v

        def wrapper(*args, **kwargs):
            with self.span(name) as s:
                out = fn(*args, **kwargs)
                if isinstance(out, tuple):
                    return tuple(forced(s, v, i == 0) for i, v in enumerate(out))
                return forced(s, out, True)

        wrapper.__wrapped__ = fn
        return wrapper

    @contextlib.contextmanager
    def patched(self, targets):
        """Rebind ``(module_or_object, attribute, span_name, force)``
        targets to span wrappers for the duration of the block.
        ``module_or_object`` may be a dotted module path, a module, a
        class or a dict."""
        saved = []
        try:
            for owner, attr, name, force in targets:
                if isinstance(owner, str):
                    owner = importlib.import_module(owner)
                if isinstance(owner, dict):
                    saved.append((owner, attr, owner[attr]))
                    owner[attr] = self.wrap(owner[attr], name, force)
                else:
                    saved.append((owner, attr, getattr(owner, attr)))
                    setattr(owner, attr, self.wrap(getattr(owner, attr), name, force))
            yield
        finally:
            for owner, attr, orig in reversed(saved):
                if isinstance(owner, dict):
                    owner[attr] = orig
                else:
                    setattr(owner, attr, orig)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({**asdict(s), "layer": s.layer}) + "\n")


def op_breakdown(spans: list[Span], root: Span) -> dict:
    """Per-span-name totals inside one operation: ``self_s`` and
    ``total_s`` (seconds), ``jobs`` and ``tasks`` (launched under the
    span's own job group), ``incl_jobs`` and ``incl_tasks`` (the span
    and its descendants), and the summed ``rows`` counts; plus
    per-layer self time under ``layer_self_s``."""
    inside = []
    todo = [root.span_id]
    kids: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    by_id = {s.span_id: s for s in spans}
    while todo:
        sid = todo.pop()
        inside.append(by_id[sid])
        todo.extend(k.span_id for k in kids.get(sid, []))
    selfs = self_times(inside)
    incl: dict[int, list[int]] = {}
    for s in reversed(inside):  # children come after their parents
        acc = [s.jobs, s.tasks]
        for k in kids.get(s.span_id, []):
            acc = [a + b for a, b in zip(acc, incl[k.span_id])]
        incl[s.span_id] = acc
    names: dict[str, dict] = {}
    layers: dict[str, float] = {}
    for s in inside:
        a = names.setdefault(s.name, dict.fromkeys(
            ("self_s", "total_s", "jobs", "tasks", "incl_jobs", "incl_tasks", "rows"), 0))
        a["self_s"] += selfs[s.span_id]
        a["total_s"] += s.end - s.start
        a["jobs"] += s.jobs
        a["tasks"] += s.tasks
        a["incl_jobs"] += incl[s.span_id][0]
        a["incl_tasks"] += incl[s.span_id][1]
        a["rows"] += s.counts.get("rows", 0)
        layers[s.layer] = layers.get(s.layer, 0.0) + selfs[s.span_id]
    return {"names": names, "layer_self_s": layers}

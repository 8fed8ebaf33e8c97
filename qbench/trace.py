"""Per-layer tracing from outside the package.

Spans are recorded around calls into each layer's public functions:

    query                       one execution of one registry query
      wrapper                   __spark_entry__.queries()[name] (ensure_query_conf + build)
        build                   the registry's q_* function
          materialize.<method>  DataFrame.localCheckpoint/checkpoint/cache/persist
      catalyst                  optimizedPlan + executedPlan on the query's QueryExecution
      exec                      the noop write

Every span of one query carries that query's id. Spans stay in memory and are
written as JSONL when the run ends. Jobs, stages and task metrics are read per
query from a job group and Spark's status store after the query's clock has
stopped, and attached to its ``query`` span.
"""

from __future__ import annotations

import functools
import json
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError

MATERIALIZE = ("localCheckpoint", "checkpoint", "cache", "persist")
PHASES = ("build", "plan", "exec")
SPAN_KEYS = ("name", "span_id", "parent_id", "query_id", "start_s", "end_s", "attrs")
STAGE_COUNTERS = (
    "stages", "tasks", "task_run_s", "task_cpu_s", "input_bytes",
    "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes", "failed_tasks",
)


@dataclass
class Span:
    name: str
    span_id: int
    parent_id: int | None
    query_id: int | None
    start_s: float
    end_s: float = float("nan")
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end_s - self.start_s

    def to_json(self) -> dict:
        return {k: getattr(self, k) for k in SPAN_KEYS}


def self_time(span: Span, children: list[Span]) -> float:
    """``span``'s duration minus the part of it its children cover (overlaps
    between children counted once)."""
    covered, reach = 0.0, span.start_s
    for c in sorted(children, key=lambda c: c.start_s):
        lo, hi = max(c.start_s, reach), min(c.end_s, span.end_s)
        if hi > lo:
            covered += hi - lo
            reach = hi
    return span.duration - covered


class Tracer:
    """In-memory span recorder; one per traced run."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.py4j_calls = 0
        self.query_id: int | None = None
        self._stack: list[Span] = []
        self._t0 = time.perf_counter()

    @contextmanager
    def span(self, name: str, **attrs):
        parent = self._stack[-1].span_id if self._stack else None
        s = Span(name, len(self.spans), parent, self.query_id,
                 time.perf_counter() - self._t0, attrs=attrs)
        self.spans.append(s)
        self._stack.append(s)
        calls = self.py4j_calls
        try:
            yield s
        finally:
            s.end_s = time.perf_counter() - self._t0
            s.attrs["py4j_calls"] = self.py4j_calls - calls
            self._stack.pop()

    def children(self, span: Span) -> list[Span]:
        return [s for s in self.spans if s.parent_id == span.span_id]

    def write_jsonl(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s.to_json()) + "\n")


@contextmanager
def instrumented(tracer: Tracer, spark, df_class):
    """Count py4j round trips and span materialization calls while inside."""
    client_class = type(spark.sparkContext._gateway._gateway_client)
    saved = []

    def patch(owner, attr, wrap):
        orig = getattr(owner, attr)
        saved.append((owner, attr, orig))
        setattr(owner, attr, functools.wraps(orig)(wrap(orig)))

    def counting(orig):
        def send_command(self, *args, **kwargs):
            tracer.py4j_calls += 1
            return orig(self, *args, **kwargs)
        return send_command

    def spanned(name):
        def wrap(orig):
            def method(self, *args, **kwargs):
                if tracer.query_id is None:
                    return orig(self, *args, **kwargs)
                with tracer.span(name):
                    return orig(self, *args, **kwargs)
            return method
        return wrap

    patch(client_class, "send_command", counting)
    for m in MATERIALIZE:
        patch(df_class, m, spanned(f"materialize.{m}"))
    try:
        yield
    finally:
        for owner, attr, orig in reversed(saved):
            setattr(owner, attr, orig)


def traced_queries(tracer: Tracer, entry, registry) -> dict:
    """``entry.queries()`` whose inner registry functions run inside a
    ``build`` span, so the wrapper's own work is the wrapper span's self time."""
    orig = registry.queries

    def spanned(fn):
        @functools.wraps(fn)
        def build(spark, sf_dir):
            with tracer.span("build"):
                return fn(spark, sf_dir)
        return build

    registry.queries = lambda: {n: spanned(f) for n, f in orig().items()}
    try:
        return entry.queries()
    finally:
        registry.queries = orig


def job_group(query_id: int, phase: str) -> str:
    return f"qbench-{query_id}-{phase}"


def run_traced(tracer: Tracer, spark, fn, sf_dir: str, query_id: int, name: str) -> float:
    """One traced execution; returns its wall time (the ``query`` span)."""
    sc = spark.sparkContext
    tracer.query_id = query_id
    try:
        with tracer.span("query", query=name) as q:
            sc.setJobGroup(job_group(query_id, "build"), name)
            with tracer.span("wrapper"):
                df = fn(spark, sf_dir)
            sc.setJobGroup(job_group(query_id, "plan"), name)
            with tracer.span("catalyst") as cat:
                qe = df._jdf.queryExecution()
                qe.optimizedPlan()
                qe.executedPlan()
            sc.setJobGroup(job_group(query_id, "exec"), name)
            with tracer.span("exec"):
                df.write.format("noop").mode("overwrite").save()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        tracer.query_id = None
    # The clock has stopped: read Catalyst's phase tracker and the status store.
    phases = qe.tracker().phases()
    for phase in ("analysis", "optimization", "planning"):
        got = phases.get(phase)
        cat.attrs[f"{phase}_s"] = got.get().durationMs() / 1e3 if got.isDefined() else 0.0
    sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)
    for phase in PHASES:
        for k, v in job_stats(spark, job_group(query_id, phase)).items():
            q.attrs[f"{phase}.{k}"] = v
    return q.duration


def job_stats(spark, group: str) -> dict:
    """Jobs, job seconds and summed stage metrics of one job group."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    out = dict.fromkeys(("jobs", "job_s", "evicted_stages") + STAGE_COUNTERS, 0)
    stage_ids: set[int] = set()
    for job_id in sc.statusTracker().getJobIdsForGroup(group):
        out["jobs"] += 1
        try:
            job = store.job(job_id)
        except Py4JJavaError:  # evicted past spark.ui.retainedJobs
            continue
        if job.submissionTime().isDefined() and job.completionTime().isDefined():
            ms = job.completionTime().get().getTime() - job.submissionTime().get().getTime()
            out["job_s"] += ms / 1e3
        ids = job.stageIds()
        stage_ids.update(ids.apply(i) for i in range(ids.size()))
    for sid in stage_ids:
        try:
            st = store.lastStageAttempt(sid)
        except Py4JJavaError:  # evicted past spark.ui.retainedStages
            out["evicted_stages"] += 1
            continue
        if st.status().toString() == "SKIPPED":
            continue
        out["stages"] += 1
        out["tasks"] += st.numCompleteTasks()
        out["failed_tasks"] += st.numFailedTasks()
        out["task_run_s"] += st.executorRunTime() / 1e3
        out["task_cpu_s"] += st.executorCpuTime() / 1e9
        out["input_bytes"] += st.inputBytes()
        out["shuffle_write_bytes"] += st.shuffleWriteBytes()
        out["shuffle_read_bytes"] += st.shuffleReadBytes()
        out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
    return out


def pass_layers(tracer: Tracer, query_spans: list[Span], cores: int) -> dict[str, float]:
    """Per-layer metrics of one traced pass, from its ``query`` spans."""
    m = dict.fromkeys((
        "wrapper.s", "build.s", "build.py4j_calls", "build.jobs", "build.job_s",
        "catalyst.analysis_s", "catalyst.optimization_s", "catalyst.planning_s",
        "exec.s", "exec.jobs", "materialize.calls", "materialize.s",
    ) + tuple(f"exec.{k}" for k in STAGE_COUNTERS), 0.0)
    wall = 0.0
    for q in query_spans:
        wall += q.duration
        for child in tracer.children(q):
            if child.name == "wrapper":
                m["wrapper.s"] += self_time(child, tracer.children(child))
                for build in tracer.children(child):
                    m["build.s"] += build.duration
                    m["build.py4j_calls"] += build.attrs["py4j_calls"]
            elif child.name == "catalyst":
                for phase in ("analysis", "optimization", "planning"):
                    m[f"catalyst.{phase}_s"] += child.attrs[f"{phase}_s"]
            elif child.name == "exec":
                m["exec.s"] += child.duration
        for s in _materializations(tracer, q):
            m["materialize.calls"] += 1
            m["materialize.s"] += s.duration
        m["build.jobs"] += q.attrs["build.jobs"]
        m["build.job_s"] += q.attrs["build.job_s"]
        m["exec.jobs"] += q.attrs["exec.jobs"] + q.attrs["plan.jobs"]
        for k in STAGE_COUNTERS:
            m[f"exec.{k}"] += q.attrs[f"exec.{k}"] + q.attrs[f"plan.{k}"]
    m["build.share"] = m["build.s"] / wall if wall else 0.0
    m["exec.core_busy_frac"] = m["exec.task_run_s"] / (m["exec.s"] * cores) if m["exec.s"] else 0.0
    return m


def _materializations(tracer: Tracer, root: Span) -> list[Span]:
    """Outermost materialize spans under ``root`` (nested calls count once)."""
    out, todo = [], tracer.children(root)
    while todo:
        s = todo.pop()
        if s.name.startswith("materialize."):
            out.append(s)
        else:
            todo.extend(tracer.children(s))
    return out

"""Spans around calls into the program's layers, and the Spark-wide
counts each span covers.

A span is a named wall-clock interval opened by the benchmark around a
call into one module's public functions; its name is `<layer>:<what>`.
Spans are kept in memory and written out at exit. Spark work is
attributed to spans after the window, from the Spark driver's status
store:

* jobs whose job group is a streaming query's run id belong to the span
  registered for that query (micro-batch execution sets the group);
* every other job belongs to the innermost span whose interval contains
  its submission time.

A span's `driver_s` is its wall time not covered by any running stage
of its own or its child spans' jobs. A layer's wall time counts only
its top-level spans (those whose parent is of another layer).

`Tracer(enabled=False)` keeps only wall times and touches no Spark
state, so the untraced run pays nothing but `time.time`.
"""

from __future__ import annotations

import time
from contextlib import contextmanager

class Span:
    __slots__ = ("name", "t0", "t1", "parent", "children", "run_id", "jobs", "stages")

    def __init__(self, name: str, t0: float, parent: "Span | None", run_id: str | None = None):
        self.name, self.t0, self.t1, self.parent, self.run_id = name, t0, None, parent, run_id
        self.children: list[Span] = []
        self.jobs: list[int] = []
        self.stages: list[dict] = []
        if parent is not None:
            parent.children.append(self)

    def all_stages(self) -> list[dict]:
        return self.stages + [st for c in self.children for st in c.all_stages()]

    @property
    def top(self) -> bool:
        """Not nested in a span of its own layer."""
        return self.parent is None or self.parent.layer != self.layer

    @property
    def layer(self) -> str:
        return self.name.split(":", 1)[0]

    @property
    def wall_s(self) -> float:
        return (self.t1 or time.time()) - self.t0


class Tracer:
    def __init__(self, spark=None, enabled: bool = False, threads: int = 1):
        self.spark, self.enabled, self.threads = spark, enabled, threads
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self.overhead_s = 0.0

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        s = Span(name, time.time(), parent)
        self.spans.append(s)
        self._stack.append(s)
        try:
            yield s
        finally:
            s.t1 = time.time()
            self._stack.pop()

    def stream_span(self, name: str, query, t0: float, t1: float) -> Span:
        """Register a streaming query's activity from t0 to t1 as a span;
        its jobs are found by the query's run id."""
        s = Span(name, t0, None, run_id=str(query.runId))
        s.t1 = t1
        self.spans.append(s)
        return s

    def collect(self) -> None:
        """Drain the listener bus and attach each job and its stages to a
        span. Call once, after the measured work."""
        if not self.enabled:
            return
        t = time.perf_counter()
        jsc = self.spark.sparkContext._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        jobs = store.jobsList(None)
        by_run: dict[str, list[Span]] = {}
        for s in self.spans:
            if s.run_id:
                by_run.setdefault(s.run_id, []).append(s)
        plain = [s for s in self.spans if not s.run_id]
        for i in range(jobs.size()):
            j = jobs.apply(i)
            sub = j.submissionTime()
            if not sub.isDefined():
                continue
            t_sub = sub.get().getTime() / 1000.0
            group = j.jobGroup()
            pool = by_run.get(group.get(), plain) if group.isDefined() else plain
            inside = [s for s in pool if s.t0 <= t_sub <= (s.t1 or t_sub)]
            if not inside:
                continue
            owner = max(inside, key=lambda s: s.t0)
            owner.jobs.append(j.jobId())
            ids = j.stageIds()
            for k in range(ids.size()):
                try:
                    st = store.lastStageAttempt(int(ids.apply(k)))
                except Exception:  # stage skipped: never in the store
                    continue
                if st.numTasks() == 0 or not st.submissionTime().isDefined():
                    continue
                c = st.completionTime()
                owner.stages.append({
                    "run_s": st.executorRunTime() / 1000.0,
                    "shuffle_write": st.shuffleWriteBytes(),
                    "spill": st.memoryBytesSpilled() + st.diskBytesSpilled(),
                    "input_bytes": st.inputBytes(), "output_rows": st.outputRecords(),
                    "t0": st.submissionTime().get().getTime() / 1000.0,
                    "t1": (c.get().getTime() / 1000.0) if c.isDefined() else None,
                })
        self.overhead_s += time.perf_counter() - t

    def layer(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.layer == name]

    def counts(self, spans: list[Span], calls: int | None = None) -> dict[str, float]:
        """Spark-wide counts of a layer, per call (`calls` defaults to the
        number of spans)."""
        n = max(calls if calls is not None else len(spans), 1)
        top = [s for s in spans if s.top]
        wall = sum(s.wall_s for s in top)
        busy = sum(st["run_s"] for s in spans for st in s.stages)
        return {
            "jobs": sum(len(s.jobs) for s in spans) / n,
            "stages": sum(len(s.stages) for s in spans) / n,
            "task_busy_s": busy / n,
            "busy_frac": busy / (wall * self.threads) if wall else 0.0,
            "driver_s": sum(s.wall_s - covered(s, s.all_stages()) for s in top) / n,
            "shuffle_write_bytes": sum(st["shuffle_write"] for s in spans for st in s.stages) / n,
            "spill_bytes": sum(st["spill"] for s in spans for st in s.stages) / n,
        }

    def stage_sum(self, spans: list[Span], field: str) -> float:
        return float(sum(st[field] for s in spans for st in s.stages))

    def sql_join_rows(self, spans: list[Span]) -> float:
        """Sum over the spans' SQL executions of the largest join's output
        rows (plan-node metrics of the SQL status store)."""
        if not self.enabled:
            return 0.0
        t = time.perf_counter()
        job_ids = {j for s in spans for j in s.jobs}
        sql = self.spark._jsparkSession.sharedState().statusStore()
        execs = sql.executionsList()
        total = 0.0
        for i in range(execs.size()):
            e = execs.apply(i)
            if not any(e.jobs().contains(j) for j in job_ids):
                continue
            values = sql.executionMetrics(e.executionId())
            nodes = sql.planGraph(e.executionId()).allNodes()
            best = 0.0
            for k in range(nodes.size()):
                node = nodes.apply(k)
                if "Join" not in node.name():
                    continue
                ms = node.metrics()
                for m in range(ms.size()):
                    metric = ms.apply(m)
                    if metric.name() == "number of output rows":
                        v = values.get(metric.accumulatorId())
                        if v.isDefined():
                            best = max(best, float(str(v.get()).replace(",", "")))
            total += best
        self.overhead_s += time.perf_counter() - t
        return total

    def dump(self) -> list[dict]:
        return [{"name": s.name, "t0": s.t0, "t1": s.t1, "wall_s": s.wall_s,
                 "parent": s.parent.name if s.parent else None, "run_id": s.run_id,
                 **self.counts([s])} for s in self.spans]


def covered(span: Span, stages: list[dict]) -> float:
    """Seconds of the span's interval covered by the union of its stages'
    intervals (clipped to the span)."""
    end = span.t1 or time.time()
    iv = sorted((max(st["t0"], span.t0), min(st["t1"] or end, end)) for st in stages)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in iv:
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def put_layer_counts(run, layers: dict[str, tuple[list[Span], int | None]]) -> None:
    """Spark-wide counts per layer, as `<layer>.<count>` metrics."""
    for layer, (spans, calls) in layers.items():
        for k, v in run.tracer.counts(spans, calls).items():
            unit = "s" if k.endswith("_s") else ("B" if k.endswith("bytes") else
                                                 "ratio" if k.endswith("frac") else "count")
            run.put(f"{layer}.{k}", v, unit, len(spans))

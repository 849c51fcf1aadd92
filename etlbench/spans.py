"""Spans, Spark job intervals and py4j counts for the traced run.

The benchmark wraps every call it makes into a package layer in
``Tracer.span``. With tracing off the span is a no-op context manager,
so untraced runs pay nothing. With tracing on:

- each span records name, layer, start, end, parent span and op id;
- each op runs under its own Spark job group, so every Spark job the op
  submitted is read back from Spark's status store after the run and
  attached to the op's span as a child span (a streaming query's jobs,
  which run under the query's own group, by time);
- ``GatewayClient.send_command`` is wrapped, so every py4j command is
  counted (and its wait timed) against the innermost open span's layer
  and op.

Spans stay in memory and are written out once, by ``Tracer.dump``.
"""

from __future__ import annotations

import contextlib
import json
import time
from dataclasses import asdict, dataclass

from py4j.java_gateway import GatewayClient
from py4j.protocol import Py4JJavaError


@dataclass
class Span:
    id: int
    name: str
    layer: str
    start: float  # epoch seconds
    end: float
    parent: int | None
    op: str | None
    attrs: dict


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        # (layer, op id) -> count / seconds waited
        self.py4j_calls: dict[tuple, int] = {}
        self.py4j_wait_s: dict[tuple, float] = {}

    # ------------------------------------------------------ spans

    def span(self, name: str, layer: str, op: str | None = None):
        if not self.enabled:
            return contextlib.nullcontext()
        return self._span(name, layer, op)

    @contextlib.contextmanager
    def _span(self, name, layer, op):
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, layer, time.time(), 0.0,
                 parent.id if parent else None,
                 op or (parent.op if parent else None), {})
        self.spans.append(s)
        self._stack.append(s)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()

    # ------------------------------------------------------ py4j

    @contextlib.contextmanager
    def patch_py4j(self):
        """Count py4j commands (and time their waits) against the
        innermost open span's layer and op while the tracer is enabled."""
        orig = GatewayClient.send_command
        tracer = self

        def send_command(client, *args, **kwargs):
            if not tracer.enabled:
                return orig(client, *args, **kwargs)
            inner = tracer._stack[-1] if tracer._stack else None
            key = (inner.layer, inner.op) if inner else ("bench", None)
            t0 = time.perf_counter()
            try:
                return orig(client, *args, **kwargs)
            finally:
                tracer.py4j_calls[key] = tracer.py4j_calls.get(key, 0) + 1
                tracer.py4j_wait_s[key] = (
                    tracer.py4j_wait_s.get(key, 0.0) + time.perf_counter() - t0)

        GatewayClient.send_command = send_command
        try:
            yield self
        finally:
            GatewayClient.send_command = orig

    # ------------------------------------------------------ jobs

    def attach_jobs(self, jobs: list[dict]) -> None:
        """Add each Spark job as a child of the innermost span of the op
        whose job group it ran under that was open when it started.

        A streaming query runs its jobs under its own group (the run
        id), so a job whose group names no op goes to the top-level op
        span open when it started; ``job["group"]`` is rewritten to
        that op."""
        tops = [s for s in self.spans if s.parent is None and s.op]
        known = {s.op for s in tops}
        for j in jobs:
            if j["group"] not in known:
                j["group"] = next((s.op for s in tops
                                   if s.start <= j["start"] <= s.end), None)
        by_op: dict[str, list[Span]] = {}
        for s in self.spans:
            if s.op:
                by_op.setdefault(s.op, []).append(s)
        for j in jobs:
            cands = by_op.get(j["group"])
            if not cands:
                continue
            inside = [s for s in cands if s.start <= j["start"] <= s.end]
            parent = (max(inside, key=lambda s: s.start) if inside
                      else min(cands, key=lambda s: s.id))
            self.spans.append(Span(
                len(self.spans), f"job {j['job_id']}", "spark.job",
                j["start"], j["end"], parent.id, parent.op,
                {"job_id": j["job_id"], "tasks": j["tasks"],
                 "shuffle_bytes": shuffle_bytes([j])}))

    # ------------------------------------------------------ reports

    def self_time(self, ops=None) -> dict[str, float]:
        """Per layer: span duration minus the union of its children,
        over the spans of ``ops`` (default: all spans)."""
        kids: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                kids.setdefault(s.parent, []).append(s)
        out: dict[str, float] = {}
        for s in self.spans:
            if ops is not None and s.op not in ops:
                continue
            covered = union_length(
                [(max(c.start, s.start), min(c.end, s.end))
                 for c in kids.get(s.id, [])])
            out[s.layer] = out.get(s.layer, 0.0) + (s.end - s.start) - covered
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump({
                "spans": [asdict(s) for s in self.spans],
                "py4j": [{"layer": layer, "op": op, "calls": n,
                          "wait_s": self.py4j_wait_s[(layer, op)]}
                         for (layer, op), n in self.py4j_calls.items()],
            }, fh)


def union_length(intervals) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for a, b in sorted(i for i in intervals if i[1] > i[0]):
        if cur_e is None or a > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = a, b
        else:
            cur_e = max(cur_e, b)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def read_jobs(spark) -> list[dict]:
    """Every finished job in Spark's status store with its group,
    interval (epoch s), task count and the shuffle bytes (read + written)
    of each stage it lists. Works with the UI disabled.

    A job also lists parent stages it skipped because an earlier job
    ran them (under AQE a query's result job lists the map stages its
    map-stage jobs ran), so sum bytes over several jobs with
    ``shuffle_bytes``, which counts each stage once."""
    store = spark.sparkContext._jsc.sc().statusStore()
    seq = store.jobsList(None)
    stage_bytes: dict[int, int] = {}
    out = []
    for i in range(seq.size()):
        j = seq.apply(i)
        sub, done = j.submissionTime(), j.completionTime()
        if sub.isEmpty() or done.isEmpty():
            continue
        group = j.jobGroup()
        stages = j.stageIds()
        for k in range(stages.size()):
            sid = stages.apply(k)
            if sid not in stage_bytes:
                try:
                    st = store.lastStageAttempt(sid)
                    stage_bytes[sid] = st.shuffleWriteBytes() + st.shuffleReadBytes()
                except Py4JJavaError:  # stage evicted from the store
                    stage_bytes[sid] = 0
        out.append({
            "job_id": j.jobId(),
            "group": None if group.isEmpty() else group.get(),
            "start": sub.get().getTime() / 1000.0,
            "end": done.get().getTime() / 1000.0,
            "tasks": j.numTasks(),
            "stage_bytes": {stages.apply(k): stage_bytes[stages.apply(k)]
                            for k in range(stages.size())},
        })
    return out


def shuffle_bytes(jobs) -> int:
    """Shuffle bytes of ``jobs`` together, each stage counted once however
    many of the jobs list it."""
    return sum({sid: b for j in jobs for sid, b in j["stage_bytes"].items()}.values())


PYTHON_NODES = ("BatchEvalPython", "ArrowEvalPython", "MapInPandas",
                "MapInArrow", "FlatMapGroupsInPandas", "FlatMapGroupsInArrow",
                "FlatMapCoGroupsInPandas", "AggregateInPandas",
                "WindowInPandas", "ArrowWindowPython", "PythonMapInArrow",
                "BatchEvalPythonUDTF", "ArrowEvalPythonUDTF",
                "PythonDataSourceScan", "PythonScan")


def plan_node_counts(plan_text: str) -> dict[str, int]:
    """Scan / exchange / Python-worker node counts in a physical plan
    description, final AQE plan only."""
    if "== Final Plan ==" in plan_text:
        plan_text = plan_text.split("== Final Plan ==", 1)[1]
        plan_text = plan_text.split("== Initial Plan ==", 1)[0]
    else:
        plan_text = plan_text.split("\n\n", 1)[0]
    counts = {"scan_nodes": 0, "exchange_nodes": 0, "python_nodes": 0}
    for line in plan_text.splitlines():
        node = line.lstrip(" :+-*()0123456789").split(" ", 1)[0]
        if node.startswith("Scan") or node.endswith("Scan") or node == "BatchScan":
            counts["scan_nodes"] += 1
        elif node.endswith("Exchange") and not node.startswith("Reused"):
            counts["exchange_nodes"] += 1
        if any(node.startswith(p) for p in PYTHON_NODES):
            counts["python_nodes"] += 1
    return counts


def read_sql_plans(spark) -> dict[int, dict]:
    """Node counts of each SQL execution, keyed by execution id, plus
    the job ids it ran."""
    store = spark._jsparkSession.sharedState().statusStore()
    seq = store.executionsList()
    out = {}
    for i in range(seq.size()):
        e = seq.apply(i)
        eid = e.executionId()
        jobs = e.jobs().keySet().toSeq()
        counts = plan_node_counts(e.physicalPlanDescription())
        counts["job_ids"] = [jobs.apply(k) for k in range(jobs.size())]
        out[eid] = counts
    return out

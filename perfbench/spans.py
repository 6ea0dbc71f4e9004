"""Span and count collector for traced benchmark runs.

Self-contained: it needs only a SparkSession, and only at the end of a
run.  While the run goes, a span costs two clock reads and a list
append; nothing talks to the JVM.  After the run, :meth:`Tracer.collect`
reads Spark's status stores once (they stay populated with
``spark.ui.enabled=false``) and attributes

- every Spark job, and through it every stage, to the innermost span
  that was open when the job was submitted.  A single client thread
  opens the spans, so submission time identifies the caller even when
  the engine submits from its own thread pools, where a job group set
  on the calling thread does not reach;
- every SQL execution, with its per-plan-node metrics
  (``executionMetrics`` + ``planGraph``), the same way.

A span records name, layer, start, end, parent span and one trace id
per op.  Per span it then has: jobs, executor CPU-s, shuffle-write
bytes, input rows of its scan nodes, and wait, which is the wall time
not covered by any running stage of its own jobs.  Self time is the
span's duration minus the part its child spans cover.

Use::

    tr = Tracer()
    with tr.op("read"):
        with tr.span("operators.query", "Engine.query"):
            ...
    tr.collect(spark)
    tr.layer_table(); tr.top_plan_nodes(); tr.dump(path)

``Tracer(enabled=False)`` keeps the same API and records nothing.
"""

from __future__ import annotations

import json
import re
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    sid: int
    name: str
    layer: str
    trace: int
    parent: int | None
    start: float  # epoch seconds (the status stores' clock)
    end: float = 0.0
    failed: bool = False
    attrs: dict = field(default_factory=dict)
    child_s: float = 0.0
    # filled by Tracer.collect; "self_" = jobs submitted while this was
    # the innermost open span, the rest are inclusive of child spans
    self_jobs: list = field(default_factory=list)
    self_cpu_s: float = 0.0
    self_shuffle_bytes: int = 0
    self_scan_rows: int = 0
    jobs: int = 0
    cpu_s: float = 0.0
    shuffle_bytes: int = 0
    scan_rows: int = 0
    wait_s: float = 0.0
    executions: list = field(default_factory=list)

    @property
    def wall_s(self) -> float:
        return self.end - self.start

    @property
    def self_s(self) -> float:
        return self.wall_s - self.child_s


class Tracer:
    def __init__(self, enabled: bool = True) -> None:
        # enabled_by_run: the run is traced; enabled: spans are recorded
        # right now (a traced run turns it off for its comparison rounds)
        self.enabled_by_run = self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._trace = 0
        self._plan: dict[int, list] = {}  # execution id → node metrics

    # -- recording ---------------------------------------------------

    @contextmanager
    def op(self, name: str, **attrs):
        """Root span of one op; every span inside shares its trace id."""
        self._trace += 1
        with self.span("op", name, **attrs) as s:
            yield s

    @contextmanager
    def span(self, layer: str, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, layer, self._trace,
                 parent.sid if parent else None, time.time(),
                 attrs=attrs)
        self.spans.append(s)
        self._stack.append(s)
        try:
            yield s
        except BaseException:
            s.failed = True
            raise
        finally:
            s.end = time.time()
            self._stack.pop()
            if parent is not None:
                parent.child_s += s.wall_s

    # -- attribution -------------------------------------------------

    def _innermost(self, t: float) -> Span | None:
        best = None
        for s in self.spans:
            if s.start <= t <= s.end and (best is None
                                           or s.start >= best.start):
                best = s
        return best

    def collect(self, spark) -> None:
        """Attribute the session's jobs, stages and SQL executions to
        the recorded spans (one pass over the status stores)."""
        if not self.enabled_by_run or not self.spans:
            return
        sc = spark.sparkContext
        gw = sc._gateway
        store = sc._jsc.sc().statusStore()
        stages: dict[int, tuple] = {}
        it = store.stageList(
            gw.jvm.java.util.ArrayList(), False, False,
            gw.new_array(gw.jvm.double, 0),
            gw.jvm.java.util.ArrayList(),
        ).iterator()
        while it.hasNext():
            st = it.next()
            lo = st.firstTaskLaunchedTime()
            hi = st.completionTime()
            stages[st.stageId()] = (
                st.executorCpuTime(), st.shuffleWriteBytes(),
                lo.get().getTime() / 1e3 if lo.isDefined() else None,
                hi.get().getTime() / 1e3 if hi.isDefined() else None,
            )
        by_sid = {s.sid: s for s in self.spans}
        intervals: dict[int, list] = {}
        it = store.jobsList(gw.jvm.java.util.ArrayList()).iterator()
        while it.hasNext():
            jd = it.next()
            sub = jd.submissionTime()
            if not sub.isDefined():
                continue
            s = self._innermost(sub.get().getTime() / 1e3)
            if s is None:
                continue
            s.self_jobs.append(jd.jobId())
            sids = jd.stageIds().iterator()
            while sids.hasNext():
                st = stages.get(sids.next())
                if st is None:
                    continue  # skipped stage (reused exchange)
                s.self_cpu_s += st[0] / 1e9
                s.self_shuffle_bytes += st[1]
                if st[2] is not None and st[3] is not None:
                    intervals.setdefault(s.sid, []).append(st[2:])
        self._collect_sql(spark)
        # inclusive sums, children before parents (sids grow with start)
        for s in reversed(self.spans):
            s.jobs += len(s.self_jobs)
            s.cpu_s += s.self_cpu_s
            s.shuffle_bytes += s.self_shuffle_bytes
            s.scan_rows += s.self_scan_rows
            if s.parent is not None:
                p = by_sid[s.parent]
                p.jobs += s.jobs
                p.cpu_s += s.cpu_s
                p.shuffle_bytes += s.shuffle_bytes
                p.scan_rows += s.scan_rows
                intervals.setdefault(p.sid, []).extend(
                    intervals.get(s.sid, []))
        for s in self.spans:
            s.wait_s = s.wall_s - _covered(intervals.get(s.sid, []),
                                           s.start, s.end)

    def _collect_sql(self, spark) -> None:
        try:
            sql = spark._jsparkSession.sharedState().statusStore()
            execs = sql.executionsList()
        except Exception:
            return  # no SQL status store: spans keep job metrics only
        it = execs.iterator()
        while it.hasNext():
            ex = it.next()
            s = self._innermost(ex.submissionTime() / 1e3)
            if s is None:
                continue
            eid = ex.executionId()
            nodes = _plan_nodes(sql, eid)
            self._plan[eid] = nodes
            s.executions.append(eid)
            s.self_scan_rows += sum(
                n["rows"] for n in nodes if n["name"].startswith("Scan")
            )

    # -- reports -----------------------------------------------------

    def layer_table(self) -> dict[str, dict]:
        """Per layer: calls, wall (outermost spans of the layer only),
        self time, and the self-attributed Spark numbers."""
        by_sid = {s.sid: s for s in self.spans}
        out: dict[str, dict] = {}
        for s in self.spans:
            d = out.setdefault(s.layer, {
                "count": 0, "wall_s": 0.0, "self_s": 0.0, "cpu_s": 0.0,
                "jobs": 0, "shuffle_bytes": 0, "failures": 0,
                "wait_s": 0.0,
            })
            d["count"] += 1
            d["self_s"] += s.self_s
            d["cpu_s"] += s.self_cpu_s
            d["jobs"] += len(s.self_jobs)
            d["shuffle_bytes"] += s.self_shuffle_bytes
            d["failures"] += int(s.failed)
            p = by_sid.get(s.parent) if s.parent is not None else None
            if p is None or p.layer != s.layer:
                d["wall_s"] += s.wall_s
                d["wait_s"] += s.wait_s
        return out

    def top_plan_nodes(self, n: int = 3) -> dict[int, list]:
        """Per trace id: the ``n`` SQL plan nodes with the most summed
        timing metrics over the op's executions."""
        per_trace: dict[int, dict[str, float]] = {}
        for s in self.spans:
            acc = per_trace.setdefault(s.trace, {})
            for eid in s.executions:
                for node in self._plan.get(eid, []):
                    if node["ms"] > 0:
                        acc[node["name"]] = acc.get(node["name"], 0.0) \
                            + node["ms"]
        return {
            t: sorted(acc.items(), key=lambda kv: -kv[1])[:n]
            for t, acc in per_trace.items() if acc
        }

    def find(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def dump(self, path: str, extra: dict | None = None) -> None:
        doc = {
            "spans": [
                dict(asdict(s), wall_s=s.wall_s, self_s=s.self_s)
                for s in self.spans
            ],
            "layers": self.layer_table(),
            "top_plan_nodes": {
                str(k): v for k, v in self.top_plan_nodes().items()
            },
        }
        if extra:
            doc.update(extra)
        with open(path, "w") as fh:
            json.dump(doc, fh, indent=1, default=str)


def _covered(iv: list, lo: float, hi: float) -> float:
    """Length of the union of intervals, clipped to [lo, hi]."""
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in iv):
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


_DUR = re.compile(r"([\d.,]+)\s*(ms|s|m|h)\b")
_DUR_SCALE = {"ms": 1.0, "s": 1e3, "m": 6e4, "h": 3.6e6}


def _metric_total(text: str) -> str:
    """The total of a formatted SQL metric: the plain value, or the
    first value after the 'total (min, med, max …)' header line."""
    lines = text.split("\n")
    return lines[1] if len(lines) > 1 else lines[0]


# Scala renderings read in one JVM call each: the metric values map
# ("Map(12 -> 3 ms, 13 -> 1,024)") and a node's metric list
# ("List(SQLPlanMetric(number of output rows,13,sum), …)").  Walking the
# same objects field by field costs a py4j round trip per metric.
_MAP_ENTRY = re.compile(r"(?:^\w*Map\(|, )(\d+) -> ")
_METRIC = re.compile(r"SQLPlanMetric\((.*?),(\d+),(\w+)\)")


def _scala_map(text: str) -> dict[int, str]:
    parts = _MAP_ENTRY.split(text[:-1] if text.endswith(")") else text)
    return {int(k): v for k, v in zip(parts[1::2], parts[2::2])}


def _plan_nodes(sql_store, eid: int) -> list[dict]:
    """[{name, ms, rows}] per plan node of one SQL execution: ms sums
    the node's timing metrics, rows is its 'number of output rows'."""
    try:
        values = _scala_map(sql_store.executionMetrics(eid).toString())
        graph = sql_store.planGraph(eid)
    except Exception:
        return []
    out = []
    nodes = graph.allNodes().iterator()
    while nodes.hasNext():
        node = nodes.next()
        ms = 0.0
        rows = 0
        for name, acc, kind in _METRIC.findall(node.metrics().toString()):
            v = values.get(int(acc))
            if v is None:
                continue
            total = _metric_total(v)
            if kind in ("timing", "nsTiming"):
                d = _DUR.search(total)
                if d:
                    ms += float(d.group(1).replace(",", "")) \
                        * _DUR_SCALE[d.group(2)]
            elif name == "number of output rows":
                try:
                    rows += int(total.split(" ")[0].replace(",", ""))
                except ValueError:
                    pass
        out.append({"name": node.name(), "ms": ms, "rows": rows})
    return out

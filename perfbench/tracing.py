"""Per-op spans and layer figures, read from outside the program.

Each traced op runs under its own Spark job group. After the op, and outside
its timed interval, the tracer reads:

- the job ids of the group (``statusTracker``), and each job's submit and
  completion time and task count (the JVM status store);
- the final query's planning phases (``queryExecution().tracker()``);
- the SQL metrics of the final query's executed plan, walking through
  adaptive plans, query stages and in-memory table scans.

Ops that return no DataFrame (index inserts, deletes, compaction) have no
final plan; their scan rows and shuffle bytes come from the stage records of
the group's jobs instead, and their scan and Python times are unknown (0).

Spans stay in memory and are written once, at exit.
"""

from __future__ import annotations

import json
import statistics
import time

from py4j.protocol import Py4JJavaError

#: op-level layer figures, in the order they are reported
FIELDS = (
    "driver_ms",
    "plan_ms",
    "exec_ms",
    "jobs",
    "tasks",
    "rows_scanned",
    "scan_ms",
    "python_ms",
    "python_init_ms",
    "shuffle_bytes",
)

_SCAN_NODES = {"FileSourceScanExec", "BatchScanExec", "RowDataSourceScanExec"}


def _cls(node) -> str:
    return node.getClass().getSimpleName()


def _iter(jseq):
    it = jseq.iterator()
    while it.hasNext():
        yield it.next()


def _inner(node) -> list:
    """The plans a node wraps besides its children: an adaptive plan's
    current physical plan, a query stage's plan, and the plan that filled
    an in-memory relation (``IvfIndex.search`` persists its scored frame,
    so the scoring work sits behind an ``InMemoryTableScanExec``)."""
    c = _cls(node)
    if c == "AdaptiveSparkPlanExec":
        return [node.executedPlan()]
    if c.endswith("QueryStageExec"):
        return [node.plan()]
    if c == "InMemoryTableScanExec":
        return [node.relation().cachedPlan()]
    return []


def plan_metrics(root) -> dict:
    """Sum the SQL metrics of an executed plan into layer figures.

    Every metric is counted once by accumulator id, so a subtree reached
    twice (a reused exchange, one cached relation scanned twice) is not
    double counted."""
    seen: dict[int, tuple[str, str, int]] = {}
    stack = [root]
    while stack:
        node = stack.pop()
        c = _cls(node)
        for kv in _iter(node.metrics()):
            m = kv._2()
            seen.setdefault(int(m.id()), (c, str(kv._1()), int(m.value())))
        stack.extend(_inner(node))
        stack.extend(_iter(node.children()))
    out = dict.fromkeys(
        ("rows_scanned", "scan_ms", "python_ms", "python_init_ms", "shuffle_bytes"), 0
    )
    for c, name, v in seen.values():
        if c in _SCAN_NODES and name == "numOutputRows":
            out["rows_scanned"] += v
        elif c in _SCAN_NODES and name == "scanTime":
            out["scan_ms"] += v
        elif name == "pythonTotalTime":
            out["python_ms"] += v
        elif name in ("pythonBootTime", "pythonInitTime"):
            out["python_init_ms"] += v
        elif name == "shuffleBytesWritten":
            out["shuffle_bytes"] += v
    return out


def covered_ms(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Milliseconds of [lo, hi] covered by the union of ``intervals``."""
    total, cur = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, cur), min(b, hi)
        if b > a:
            total += b - a
            cur = b
    return total * 1e3


class TraceError(RuntimeError):
    """The tracer itself failed: a fault of the benchmark, not of the op."""


class Tracer:
    """Runs ops with or without tracing and keeps the spans of traced ones."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self.spans: list[dict] = []
        self.ops: dict[str, list[dict]] = {}
        self._next = 0

    def run(self, kind: str, prepare, act, traced: bool):
        """Time one op: ``prepare()`` builds the query on the driver (it may
        run Spark jobs itself) and ``act(prepared)`` runs the final action.
        Returns ``(result, seconds)``."""
        if not traced:
            t0 = time.perf_counter()
            result = act(prepare())
            return result, time.perf_counter() - t0
        self._next += 1
        op_id = self._next
        group = f"perfbench-op-{op_id}"
        self.sc.setJobGroup(group, kind)
        try:
            w0, t0 = time.time(), time.perf_counter()
            prepared = prepare()
            t1 = time.perf_counter()
            result = act(prepared)
            t2 = time.perf_counter()
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        results = len(result) if isinstance(result, list) else 0
        try:
            self._record(op_id, kind, group, prepared, w0, t1 - t0, t2 - t0, results)
        except Exception as e:
            raise TraceError(f"tracing {kind} failed") from e
        return result, t2 - t0

    def _record(self, op_id, kind, group, prepared, w0, driver_s, wall_s, results):
        self._jsc.listenerBus().waitUntilEmpty()
        store = self._jsc.statusStore()
        w_end = w0 + wall_s
        jobs, tasks, stage_ids = [], 0, []
        for jid in self.sc.statusTracker().getJobIdsForGroup(group):
            jd = store.job(int(jid))
            sub, done = jd.submissionTime(), jd.completionTime()
            a = sub.get().getTime() / 1e3 if sub.isDefined() else w0
            b = done.get().getTime() / 1e3 if done.isDefined() else w_end
            jobs.append((a, b))
            tasks += int(jd.numCompletedTasks())
            stage_ids.extend(int(s) for s in _iter(jd.stageIds()))
        rec = dict.fromkeys(FIELDS, 0.0)
        rec.update(jobs=len(jobs), tasks=tasks)
        children = []
        plan_ms = 0.0
        qe = getattr(getattr(prepared, "_jdf", None), "queryExecution", None)
        if qe is not None:
            q = qe()
            for kv in _iter(q.tracker().phases()):
                ph = kv._2()
                plan_ms += ph.durationMs()
                children.append(
                    {"name": f"plan.{kv._1()}", "start": ph.startTimeMs() / 1e3,
                     "end": ph.endTimeMs() / 1e3}
                )
            rec.update(plan_metrics(q.executedPlan()))
        else:
            for sid in stage_ids:
                try:
                    sd = store.lastStageAttempt(sid)
                except Py4JJavaError:  # a stage the store no longer holds
                    continue
                rec["rows_scanned"] += int(sd.inputRecords())
                rec["shuffle_bytes"] += int(sd.shuffleWriteBytes())
        exec_ms = covered_ms(jobs, w0, w_end)
        rec["plan_ms"] = plan_ms
        rec["exec_ms"] = exec_ms
        rec["driver_ms"] = max(0.0, wall_s * 1e3 - exec_ms - plan_ms)
        rec["wall_ms"] = wall_s * 1e3
        rec["prepare_ms"] = driver_s * 1e3
        rec["results"] = results
        self.ops.setdefault(kind, []).append(rec)
        children += [
            {"name": "exec.job", "start": a, "end": b} for a, b in sorted(jobs)
        ]
        children.append({"name": "driver", "start": w0, "end": w0 + driver_s})
        self.spans.append(
            {"op_id": op_id, "name": kind, "start": w0, "end": w_end,
             "parent": None, "children": children, "layers": rec}
        )

    def layer_medians(self) -> dict:
        """``<op>.<field>`` → median over that op kind's traced ops, plus
        ``<op>.rows_scanned_per_result`` for ops that return rows."""
        out = {}
        for kind, recs in sorted(self.ops.items()):
            for f in FIELDS:
                out[f"{kind}.{f}"] = statistics.median(r[f] for r in recs)
            results = statistics.median(r["results"] for r in recs)
            if results:
                out[f"{kind}.rows_scanned_per_result"] = out[f"{kind}.rows_scanned"] / results
        return out

    def write(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, **extra}, f)

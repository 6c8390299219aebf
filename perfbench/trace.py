"""Outside-in spans and per-layer counters for the benchmark.

Nothing here changes program code: every number comes from timing the
calls the benchmark makes into the engine's public functions, from
wrappers placed around ``model_presto_spark.io.load_table`` and the
py4j connection, and from Spark's own status store, query-execution
tracker and executed-plan metrics.

``Tracer(spark, enabled=False)`` is what untraced runs use: ``span``
then only yields, so both kinds of run do the same engine work.
Traced runs keep every span in memory (name, start, end, parent, the
operation id it belongs to, and its counts) and write them out when
the run ends.
"""

from __future__ import annotations

import contextlib
import os
import re
import time

# Spark plan nodes that run Python workers (their SQL metric
# ``pythonTotalTime`` is the time spent in them).
_PY_NODE = re.compile(r"Python|InPandas|InArrow|PythonUDTF")
_PHASE = re.compile(r"(\w+) -> PhaseSummary\((\d+), (\d+)\)")


class Py4jCounter:
    """Counts py4j commands sent to the JVM (the build's round trips)."""

    def __init__(self) -> None:
        import py4j.clientserver as cs
        import py4j.java_gateway as jg

        self.n = 0
        counter = self

        def wrap(orig):
            def send_command(conn, command, *a, **kw):
                counter.n += 1
                return orig(conn, command, *a, **kw)

            return send_command

        for cls in (cs.ClientServerConnection, jg.GatewayConnection):
            cls.send_command = wrap(cls.send_command)


class LoadTableProbe:
    """Wraps ``io.load_table`` where it is bound and counts memo hits.

    A call is a hit when it returns the very DataFrame an earlier call
    returned for the same (session, directory, table); everything else
    is a miss, and its wall time is summed in ``miss_s``.
    """

    def __init__(self) -> None:
        import sys

        import model_presto_spark.io as mio

        self.calls = 0
        self.misses = 0
        self.miss_s = 0.0
        self._seen: dict = {}
        orig = mio.load_table

        def load_table(spark, sf_dir, name):
            t0 = time.perf_counter()
            df = orig(spark, sf_dir, name)
            dt = time.perf_counter() - t0
            key = (id(spark), os.path.abspath(sf_dir), name)
            self.calls += 1
            if self._seen.get(key) is not df:
                self.misses += 1
                self.miss_s += dt
            self._seen[key] = df
            return df

        for mod in list(sys.modules.values()):
            if getattr(mod, "load_table", None) is orig:
                mod.load_table = load_table

    def metrics(self) -> dict:
        hits = self.calls - self.misses
        return {
            "io.load_table_calls": self.calls,
            "io.load_table_miss_s": self.miss_s,
            "io.memo_hit_ratio": hits / self.calls if self.calls else 0.0,
        }


class Tracer:
    def __init__(self, spark, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._pending: list[dict] = []
        self.spark = spark
        self.py4j = Py4jCounter() if enabled else None
        self.t0 = time.perf_counter()

    @contextlib.contextmanager
    def span(self, name: str, op: int | None = None, jobs: bool = False):
        """Time a block as a span. With ``jobs`` the Spark jobs started
        inside it are tagged with a job group and counted afterwards."""
        if not self.enabled:
            yield {}
            return
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "op": op,
            "counts": {},
        }
        self.spans.append(rec)
        if jobs:
            self.spark.sparkContext.setJobGroup(f"bench-{sid}", name)
            self._pending.append(rec)
        p0 = self.py4j.n
        self._stack.append(sid)
        rec["start"] = time.perf_counter() - self.t0
        try:
            yield rec["counts"]
        finally:
            rec["end"] = time.perf_counter() - self.t0
            self._stack.pop()
            rec["counts"]["py4j_calls"] = self.py4j.n - p0
            if jobs:
                self.spark.sparkContext.setJobGroup("bench-idle", "between spans")

    def plan_counts(self, qe, counts: dict) -> None:
        """Catalyst phases and final-plan metrics of an executed query."""
        if not self.enabled:
            return
        for phase, start, end in _PHASE.findall(qe.tracker().phases().toString()):
            counts[f"{phase}_ms"] = int(end) - int(start)
        plan = qe.executedPlan()
        text = plan.toString()
        final = text.split("== Initial Plan ==")[0]
        counts["rr_exchanges"] = final.count("RoundRobinPartitioning")
        files = 0
        py_ns = 0
        for node in _walk(plan):
            cls = node.getClass().getSimpleName()
            if cls in ("FileSourceScanExec", "BatchScanExec"):
                files += _metric(node, "numFiles")
            elif _PY_NODE.search(cls):
                py_ns += _metric(node, "pythonTotalTime")
        counts["files_read"] = files
        counts["python_udf_s"] = py_ns / 1e9

    def collect_jobs(self) -> None:
        """Attach job, stage, task and byte counts to finished spans.

        Runs between operations, outside any operation span, after the
        listener bus has drained so the status store is complete.
        """
        if not self._pending:
            return
        sc = self.spark.sparkContext
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        store = sc._jsc.sc().statusStore()
        tracker = sc.statusTracker()
        for rec in self._pending:
            jobs = tracker.getJobIdsForGroup(f"bench-{rec['id']}")
            stages = set()
            for j in jobs:
                info = tracker.getJobInfo(j)
                if info is not None:
                    stages.update(info.stageIds)
            c = rec["counts"]
            c.update(jobs=len(jobs), stages=0, tasks=0, scan_bytes=0,
                     shuffle_read_bytes=0, shuffle_write_bytes=0, spill_bytes=0)
            for s in sorted(stages):
                try:
                    sd = store.lastStageAttempt(s)
                except Exception:  # a skipped stage never ran: no attempt
                    continue
                if sd.status().toString() != "COMPLETE":
                    continue
                c["stages"] += 1
                c["tasks"] += sd.numCompleteTasks()
                c["scan_bytes"] += sd.inputBytes()
                c["shuffle_read_bytes"] += sd.shuffleReadBytes()
                c["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                c["spill_bytes"] += sd.diskBytesSpilled()
        self._pending = []

    def dump(self, path: str) -> None:
        if not self.enabled:
            return
        import json

        with open(path, "w") as f:
            json.dump(self.spans, f)


def _walk(node):
    """Yield the nodes of an executed plan, descending into AQE stages."""
    stack = [node]
    while stack:
        n = stack.pop()
        yield n
        cls = n.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            stack.append(n.executedPlan())
        elif cls.endswith("QueryStageExec"):
            stack.append(n.plan())
        else:
            children = n.children()
            stack.extend(children.apply(i) for i in range(children.size()))


def _metric(node, key: str) -> int:
    m = node.metrics().get(key)
    return int(m.get().value()) if m.isDefined() else 0


def self_times(spans: list[dict]) -> dict[str, float]:
    """Per span name: summed duration minus the part its children cover."""
    child = [0.0] * len(spans)
    for s in spans:
        if s["parent"] is not None:
            child[s["parent"]] += s["end"] - s["start"]
    out: dict[str, float] = {}
    for s in spans:
        out[s["name"]] = out.get(s["name"], 0.0) + (
            s["end"] - s["start"] - child[s["id"]]
        )
    return out


def reconcile(spans: list[dict], parts: tuple[str, ...], tol: float = 0.05):
    """Check that each operation span is covered by its ``parts`` children.

    Returns (unreconciled operation ids, worst shortfall as a share of
    the operation's wall time).
    """
    by_parent: dict[int, float] = {}
    for s in spans:
        if s["name"] in parts and s["parent"] is not None:
            by_parent[s["parent"]] = by_parent.get(s["parent"], 0.0) + (
                s["end"] - s["start"]
            )
    bad, worst = [], 0.0
    for s in spans:
        if s["name"] != "op":
            continue
        wall = s["end"] - s["start"]
        short = (wall - by_parent.get(s["id"], 0.0)) / wall if wall > 0 else 0.0
        worst = max(worst, short)
        if short > tol:
            bad.append(s["op"])
    return bad, worst

"""Layer tracing for the benchmark's traced run (``--trace 1``).

Spans are recorded from the benchmark's side, around the calls it makes
into each layer of ``bo_sql_spark`` (module functions are wrapped in
place for the traced run only; the program itself is unchanged). Spark's
own accounting is read after each op from the driver's status store
(jobs, stages, task metrics), from a QueryExecutionListener (Catalyst
phase times and the AQE-final plan of every executed query) and from a
StreamingQueryListener (microbatch progress). Everything stays in memory
and is written out once, when the run ends.
"""

from __future__ import annotations

import functools
import re
import sys
import time
from collections import defaultdict
from contextlib import contextmanager

# Layer wraps: (module, function) -> span name. A function imported by
# name elsewhere in the package is re-bound there too (see _patch).
LAYER_FUNCS = {
    ("bo_sql_spark.engine", "describe_table"): "catalog.describe",
    ("bo_sql_spark.operators.similarity", "append_ivf_assignment"): "operators.append",
    ("bo_sql_spark.operators.similarity", "ivf_topk_served"): "operators.serve",
}

# Physical-plan node names, matched at the start of a plan-tree line.
_NODE = r"^[\s:+\-*|]*(?:\(\d+\)\s*)?"
PLAN_PATTERNS = {
    "plans.parquet_scans": re.compile(_NODE + r"(?:FileScan|Scan) parquet\b", re.M),
    "plans.rdd_scans": re.compile(_NODE + r"Scan ExistingRDD\b", re.M),
    "plans.exchanges": re.compile(_NODE + r"(?:Exchange|ShuffleExchange|BroadcastExchange)\b", re.M),
    "plans.reused_exchanges": re.compile(_NODE + r"ReusedExchange\b", re.M),
    "plans.python_evals": re.compile(
        _NODE
        + r"(?:ArrowEvalPython|BatchEvalPython|MapInPandas|MapInArrow|PythonMapInArrow"
        r"|FlatMapGroupsInPandas|FlatMapCoGroupsInPandas|AggregateInPandas"
        r"|WindowInPandas|FlatMapGroupsInArrow|BatchEvalPythonUDTF|ArrowEvalPythonUDTF)\b",
        re.M,
    ),
}


def final_plan_counts(plan: str) -> dict[str, int]:
    """Node counts of an executed plan; with AQE, of its final plan only."""
    plan = plan.split("== Initial Plan ==")[0]
    return {k: len(p.findall(plan)) for k, p in PLAN_PATTERNS.items()}


class Tracer:
    """In-memory span recorder; ``enabled=False`` makes every hook free."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op_id: str | None = None
        self._patched: list[tuple[object, str, object]] = []
        self._qe: list[dict] = []
        self.progress: list[dict] = []

    # ---- spans ---------------------------------------------------------
    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        rec = {
            "name": name,
            "op": self.op_id,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(),
            "end": None,
            "epoch": time.time(),
        }
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def _wrap(self, fn, name: str):
        @functools.wraps(fn)
        def traced(*a, **kw):
            with self.span(name):
                return fn(*a, **kw)

        return traced

    def _patch(self, owner, attr: str, name: str) -> None:
        orig = getattr(owner, attr)
        wrapped = self._wrap(orig, name)
        # every module of the package that imported the function by name
        for mod in list(sys.modules.values()):
            if mod is None or not getattr(mod, "__name__", "").startswith("bo_sql_spark"):
                continue
            if getattr(mod, attr, None) is orig:
                setattr(mod, attr, wrapped)
                self._patched.append((mod, attr, orig))
        if getattr(owner, attr) is orig:  # a class attribute
            setattr(owner, attr, wrapped)
            self._patched.append((owner, attr, orig))

    def install_layers(self) -> None:
        """Wrap the program's layer entry points (traced run only)."""
        if not self.enabled:
            return
        import importlib

        import bo_sql_spark.queries  # noqa: F401  (imports the operator modules)
        from bo_sql_spark.engine import Engine

        for (mod_name, attr), name in LAYER_FUNCS.items():
            self._patch(importlib.import_module(mod_name), attr, name)
        self._patch(Engine, "sql", "engine.sql")
        self._patch(Engine, "format_result", "engine.format")

    def uninstall_layers(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    # ---- Spark listeners -------------------------------------------------
    def attach(self, spark) -> None:
        """Register the streaming listener (both modes: it feeds the
        microbatch check) and, when tracing, the query listener."""
        from pyspark.sql.streaming import StreamingQueryListener

        tracer = self

        class Progress(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                d = p.durationMs or {}
                tracer.progress.append(
                    {
                        "op": tracer.op_id,
                        "query": str(p.id),
                        "rows": int(p.numInputRows),
                        "trigger_ms": d.get("triggerExecution", 0),
                        "add_batch_ms": d.get("addBatch", 0),
                        "query_planning_ms": d.get("queryPlanning", 0),
                        "commit_ms": d.get("walCommit", 0) + d.get("commitOffsets", 0),
                        "state_rows": sum(s.numRowsTotal for s in p.stateOperators),
                        "state_memory_bytes": sum(
                            s.memoryUsedBytes for s in p.stateOperators
                        ),
                    }
                )

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        spark.streams.addListener(Progress())
        self._sc = spark.sparkContext
        self._store = self._sc._jsc.sc().statusStore()
        self._next_job = self._first_unseen_job(0)
        if not self.enabled:
            return
        from pyspark.java_gateway import ensure_callback_server_started

        ensure_callback_server_started(self._sc._gateway)

        class QueryListener:
            def onSuccess(self, func_name, qe, duration_ns):
                tracer._on_query(qe)

            def onFailure(self, func_name, qe, exception):
                tracer._on_query(qe)

            class Java:
                implements = ["org.apache.spark.sql.util.QueryExecutionListener"]

        spark._jsparkSession.listenerManager().register(QueryListener())

    def _on_query(self, qe) -> None:
        rec = {"op": self.op_id}
        phases = qe.tracker().phases()
        for ph in ("analysis", "optimization", "planning"):
            got = phases.get(ph)
            rec[f"catalyst.{ph}_ms"] = got.get().durationMs() if got.isDefined() else 0
        rec.update(final_plan_counts(qe.executedPlan().toString()))
        self._qe.append(rec)

    def drain(self) -> None:
        """Wait until every posted Spark event reached its listeners."""
        self._sc._jsc.sc().listenerBus().waitUntilEmpty()

    def _first_unseen_job(self, start: int) -> int:
        tracker = self._sc.statusTracker()
        j = start
        while tracker.getJobInfo(j) is not None:
            j += 1
        return j

    # ---- per-op accounting ----------------------------------------------
    def begin_op(self, op_id: str) -> None:
        self.op_id = op_id

    def end_op(self, t0_epoch: float, t1_epoch: float, cores: int) -> dict:
        """Spark-side numbers of the op that just ended (jobs it launched)."""
        self.drain()
        first = self._next_job
        self._next_job = self._first_unseen_job(first)
        op, self.op_id = self.op_id, None
        out: dict = {"progress": [p for p in self.progress if p["op"] == op]}
        if not self.enabled:
            return out
        b0 = time.perf_counter()
        m: dict = defaultdict(float)
        intervals = []
        tracker = self._sc.statusTracker()
        for jid in range(first, self._next_job):
            m["spark.jobs"] += 1
            jd = self._store.job(jid)
            sub, done = jd.submissionTime(), jd.completionTime()
            if sub.isDefined():
                end = done.get().getTime() / 1e3 if done.isDefined() else t1_epoch
                intervals.append((sub.get().getTime() / 1e3, end))
            info = tracker.getJobInfo(jid)
            for sid in info.stageIds if info else ():
                try:
                    st = self._store.lastStageAttempt(sid)
                except Exception:
                    continue
                if st.status().toString() not in ("COMPLETE", "FAILED"):
                    continue
                m["spark.stages"] += 1
                m["spark.tasks"] += st.numTasks()
                m["spark.failed_tasks"] += st.numFailedTasks()
                m["spark.executor_run_s"] += st.executorRunTime() / 1e3
                m["spark.executor_cpu_s"] += st.executorCpuTime() / 1e9
                m["spark.input_bytes"] += st.inputBytes()
                m["spark.shuffle_write_bytes"] += st.shuffleWriteBytes()
                m["spark.shuffle_read_bytes"] += st.shuffleReadBytes()
                m["spark.spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
        wall = t1_epoch - t0_epoch
        job_s = _union_within(intervals, t0_epoch, t1_epoch)
        m["spark.job_s"] = job_s
        m["driver.gap_s"] = wall - job_s
        m["spark.executor_wait_s"] = m["spark.executor_run_s"] - m["spark.executor_cpu_s"]
        m["spark.core_busy_ratio"] = m["spark.executor_run_s"] / (wall * cores) if wall else 0.0
        # jobs launched before the final action: submitted while the
        # query was being built (builder body / engine.sql)
        builds = [
            (s["epoch"], s["epoch"] + s["end"] - s["start"])
            for s in self.spans
            if s["op"] == op and s["name"] in ("queries.build", "engine.sql")
        ]
        m["queries.build_jobs"] = sum(
            1 for s, _ in intervals if any(a <= s <= b for a, b in builds)
        )
        for q in self._qe:
            if q["op"] == op:
                for k, v in q.items():
                    if k != "op":
                        m[k] += v
        self._qe = [q for q in self._qe if q["op"] != op]
        m["trace.overhead_s"] = time.perf_counter() - b0
        out["spark"] = dict(m)
        return out


def _union_within(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
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


def self_times(spans: list[dict]) -> dict[str, float]:
    """Per span name: duration minus the part covered by child spans."""
    child = defaultdict(float)
    for s in spans:
        if s["parent"] is not None and s["end"] is not None:
            child[s["parent"]] += s["end"] - s["start"]
    out: dict[str, float] = defaultdict(float)
    for i, s in enumerate(spans):
        if s["end"] is not None:
            out[s["name"]] += (s["end"] - s["start"]) - child[i]
    return dict(out)

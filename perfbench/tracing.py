"""Traced-run recorder: spans around the package's public entry points
and Spark's own per-job counters, attributed per op.

Spans come from this benchmark only.  ``Tracer.wrap`` replaces a
module or class attribute with a recording wrapper; because the engine
imports its writers lazily (inside the statement handlers), wrapping
the writer module's attribute also catches those nested calls.  The
package source is never edited and every wrapper is undone by
``Tracer.restore``.

Spans stay in memory; ``dump`` writes them out at exit.  A span's self
time is its duration minus the time covered by its child spans.
"""

from __future__ import annotations

import functools
import inspect
import json
import time
import urllib.request
from collections import defaultdict


class Tracer:
    def __init__(self):
        #: [id, name, start, end, parent_id, op_id]
        self.spans: list[list] = []
        self._stack: list[list] = []
        self._undo: list[tuple] = []
        self.op_id: str | None = None

    # -- recording ------------------------------------------------------ #

    def _open(self, name: str) -> list:
        parent = self._stack[-1][0] if self._stack else None
        rec = [len(self.spans), name, time.perf_counter(), None, parent, self.op_id]
        self.spans.append(rec)
        self._stack.append(rec)
        return rec

    def _close(self, rec: list) -> None:
        rec[3] = time.perf_counter()
        # a generator span may close after a sibling opened; drop it
        # from wherever it sits on the stack
        for i in range(len(self._stack) - 1, -1, -1):
            if self._stack[i] is rec:
                del self._stack[i]
                break

    def span(self, name: str):
        tracer = self

        class _Span:
            def __enter__(self):
                self.rec = tracer._open(name)
                return self.rec

            def __exit__(self, *exc):
                tracer._close(self.rec)
                return False

        return _Span()

    def wrap(self, owner, attr: str, name: str) -> None:
        """Record a span named ``name`` around every call of
        ``owner.attr``; generator functions are spanned from the first
        ``next`` to exhaustion."""
        orig = getattr(owner, attr)
        tracer = self
        if inspect.isgeneratorfunction(orig):

            @functools.wraps(orig)
            def wrapper(*a, **kw):
                rec = tracer._open(name)
                try:
                    yield from orig(*a, **kw)
                finally:
                    tracer._close(rec)

        else:

            @functools.wraps(orig)
            def wrapper(*a, **kw):
                rec = tracer._open(name)
                try:
                    return orig(*a, **kw)
                finally:
                    tracer._close(rec)

        setattr(owner, attr, wrapper)
        self._undo.append((owner, attr, orig))

    def restore(self) -> None:
        for owner, attr, orig in reversed(self._undo):
            setattr(owner, attr, orig)
        self._undo.clear()

    # -- analysis ------------------------------------------------------- #

    def self_times_ms(self) -> dict[str, float]:
        """Total self time per span name, in ms, over spans inside ops
        (spans of the harness's own checks carry no op id)."""
        child = defaultdict(float)
        for s in self.spans:
            if s[4] is not None and s[3] is not None:
                child[s[4]] += s[3] - s[2]
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            if s[3] is not None and s[5] is not None:
                out[s[1]] += (s[3] - s[2] - child[s[0]]) * 1000.0
        return dict(out)

    def durations_ms(self, name: str) -> list[float]:
        return [(s[3] - s[2]) * 1000.0 for s in self.spans
                if s[1] == name and s[3] is not None]

    def dump(self, path: str) -> None:
        t0 = self.spans[0][2] if self.spans else 0.0
        with open(path, "w") as f:
            json.dump(
                [
                    {"id": s[0], "name": s[1], "start_ms": (s[2] - t0) * 1000.0,
                     "end_ms": None if s[3] is None else (s[3] - t0) * 1000.0,
                     "parent": s[4], "op": s[5]}
                    for s in self.spans
                ],
                f,
            )


def span_cost_s(calls: int = 20000) -> float:
    """Measured cost of one wrapped call over a bare call, in seconds."""

    class _Box:
        @staticmethod
        def noop():
            return None

    bare = _Box.noop
    t0 = time.perf_counter()
    for _ in range(calls):
        bare()
    t_bare = time.perf_counter() - t0
    tr = Tracer()
    tr.wrap(_Box, "noop", "noop")
    t0 = time.perf_counter()
    for _ in range(calls):
        _Box.noop()
    t_wrapped = time.perf_counter() - t0
    tr.restore()
    return max(t_wrapped - t_bare, 0.0) / calls


# --------------------------------------------------------------------- #
# Spark status REST API
# --------------------------------------------------------------------- #


def _num(v) -> float:
    if isinstance(v, (int, float)):
        return float(v)
    s = str(v).split("(")[0].split(" ")[0].replace(",", "").strip()
    try:
        return float(s)
    except ValueError:
        return 0.0


class SparkRest:
    """Reads jobs, stages and SQL executions of the running application
    from the driver's status REST API and sums them per job group (the
    harness sets one job group per op)."""

    def __init__(self, spark):
        sc = spark.sparkContext
        port = sc.uiWebUrl.rsplit(":", 1)[1]
        self.base = f"http://127.0.0.1:{port}/api/v1/applications/{sc.applicationId}"

    def _get(self, path: str):
        with urllib.request.urlopen(f"{self.base}/{path}", timeout=30) as r:
            return json.load(r)

    def per_group(self, settle_s: float = 10.0) -> dict[str, dict[str, float]]:
        """Counters per job group, once every job has finished."""
        deadline = time.monotonic() + settle_s
        while True:
            jobs = self._get("jobs")
            if all(j["status"] != "RUNNING" for j in jobs) or time.monotonic() > deadline:
                break
            time.sleep(0.2)
        stages = {(s["stageId"], s["attemptId"]): s for s in self._get("stages")}
        by_stage_id = defaultdict(list)
        for (sid, _a), s in stages.items():
            by_stage_id[sid].append(s)
        out: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
        group_of_job = {}
        for j in jobs:
            g = j.get("jobGroup")
            if g is None:
                continue
            group_of_job[j["jobId"]] = g
            c = out[g]
            c["jobs"] += 1
            for sid in j.get("stageIds", []):
                for s in by_stage_id.get(sid, []):
                    if s.get("status") == "SKIPPED":
                        continue
                    c["tasks"] += s.get("numCompleteTasks", 0) + s.get("numFailedTasks", 0)
                    c["failed_tasks"] += s.get("numFailedTasks", 0)
                    c["executor_run_ms"] += s.get("executorRunTime", 0)
                    c["input_records"] += s.get("inputRecords", 0)
                    c["input_bytes"] += s.get("inputBytes", 0)
                    c["shuffle_bytes"] += s.get("shuffleReadBytes", 0) + s.get(
                        "shuffleWriteBytes", 0)
                    c["spill_bytes"] += s.get("memoryBytesSpilled", 0) + s.get(
                        "diskBytesSpilled", 0)
        for ex in self._get("sql?details=true&planDescription=false&length=100000"):
            job_ids = (ex.get("successJobIds", []) + ex.get("failedJobIds", [])
                       + ex.get("runningJobIds", []))
            groups = {group_of_job[j] for j in job_ids if j in group_of_job}
            if len(groups) != 1:
                continue
            c = out[groups.pop()]
            for node in ex.get("nodes", []):
                for m in node.get("metrics", []):
                    if m.get("name") == "number of files read":
                        c["files_read"] += _num(m.get("value", 0))
        return {g: dict(c) for g, c in out.items()}

"""Spans and Spark counters for the traced run.

A ``Tracer`` keeps spans (name, start, end, parent, operation id) in memory
and writes them out once, when the run ends.  Spans are opened by the
benchmark around its calls into each layer.

The benchmark marks its own terminal call (the final ``.collect()`` or
``.run()`` of a read) with ``terminal()``; write operations have none.  Jobs
started inside it go to job group ``pb<op>.action``, every other job of the
operation (those run while the program builds its plan or writes, including
the engine's own internal collects) to ``pb<op>.build``.  Inside the
terminal call, each outermost ``DataFrame.collect`` opens a
``spark.action`` span.  Every ``DataFrame.collect`` of a traced operation,
in the terminal call or not, yields the Catalyst phase times of the plan it
runs.  Stage metrics are read from the status store and SQL metrics from
the SQL status store, right after the operation returns, so the store's
retention limits never drop them.

When tracing is off no patch is installed and every span is a no-op.
"""

from __future__ import annotations

import contextlib
import json
import time
from collections import defaultdict

PHASES = ("analysis", "optimization", "planning")


def _scala_iter(it):
    while it.hasNext():
        yield it.next()


class Tracer:
    def __init__(self, spark=None, enabled: bool = False):
        self.enabled = enabled
        self.active = False          # per-operation switch (overhead A/B)
        self.spark = spark
        self.spans: list[dict] = []
        self.ops: list[dict] = []    # one counter record per traced op
        self._stack: list[int] = []
        self._op: dict | None = None
        self._in_action = False      # inside a spark.action span
        self._terminal = False       # inside the benchmark's terminal call
        self._epoch = time.time() - time.perf_counter()
        self._sql_seen = 0
        if enabled:
            self._install()
            self._sql_seen = self._sql_store().executionsCount()

    # ---- spans -------------------------------------------------------
    @contextlib.contextmanager
    def span(self, name: str):
        if not self.active:
            yield
            return
        idx = self._open(name, time.perf_counter())
        try:
            yield
        finally:
            self._close(idx, time.perf_counter())

    def _open(self, name: str, start: float) -> int:
        self.spans.append({"name": name, "start": start, "end": None,
                           "parent": self._stack[-1] if self._stack else None,
                           "op": self._op["op"] if self._op else None})
        self._stack.append(len(self.spans) - 1)
        return self._stack[-1]

    def _close(self, idx: int, end: float) -> None:
        self.spans[idx]["end"] = end
        self._stack.pop()

    # ---- operations --------------------------------------------------
    def begin_op(self, kind: str, traced: bool) -> None:
        self.active = self.enabled and traced
        if not self.active:
            return
        n = len(self.ops)
        self._op = {"op": n, "kind": kind, "build": f"pb{n}.build",
                    "action": f"pb{n}.action", "plan_s": 0.0,
                    "action_s": 0.0}
        self._set_group(self._op["build"])
        self._open("op", time.perf_counter())

    def end_op(self, rows_out: int) -> None:
        if not self.active:
            return
        self._close(self._stack[0], time.perf_counter())
        self.spark.sparkContext._jsc.clearJobGroup()
        rec = self._op
        for tag in ("build", "action"):
            for k, v in self._job_counters(rec[tag], tag).items():
                rec[k] = rec.get(k, 0) + v
        rec.update(self._sql_counters())
        rec["rows_out"] = rows_out
        root = next(s for s in reversed(self.spans) if s["name"] == "op")
        rec["lat_s"] = root["end"] - root["start"]
        self.ops.append(rec)
        self._op = None
        self.active = False

    def _set_group(self, group: str) -> None:
        self.spark.sparkContext.setJobGroup(group, group)

    # ---- the terminal call and its spark.action spans ----------------
    @contextlib.contextmanager
    def terminal(self):
        """Marks the benchmark's own terminal call of a read."""
        if not self.active:
            yield
            return
        self._terminal = True
        self._set_group(self._op["action"])
        try:
            yield
        finally:
            self._set_group(self._op["build"])
            self._terminal = False

    def _install(self) -> None:
        from pyspark.sql.classic.dataframe import DataFrame
        tracer, orig = self, DataFrame.collect

        def collect(df):
            if not tracer.active or tracer._in_action:
                return orig(df)
            qe = df._jdf.queryExecution()
            if not tracer._terminal:
                try:
                    return orig(df)
                finally:
                    tracer._record_phases(qe)
            tracer._in_action = True
            t0 = time.perf_counter()
            idx = tracer._open("spark.action", t0)
            try:
                return orig(df)
            finally:
                t1 = time.perf_counter()
                tracer._close(idx, t1)
                tracer._op["action_s"] += t1 - t0
                tracer._record_phases(qe)
                tracer._in_action = False

        DataFrame.collect = collect
        self._restore = lambda: setattr(DataFrame, "collect", orig)

    def _record_phases(self, qe) -> None:
        """Catalyst phase spans of the action's plan, from the
        ``QueryExecution`` tracker; their parent is resolved by interval
        containment in ``self_times``."""
        for kv in _scala_iter(qe.tracker().phases().iterator()):
            name, ph = kv._1(), kv._2()
            if name not in PHASES:
                continue
            start = ph.startTimeMs() / 1e3 - self._epoch
            end = ph.endTimeMs() / 1e3 - self._epoch
            self.spans.append({"name": f"catalyst.{name}", "start": start,
                               "end": end, "parent": None,
                               "op": self._op["op"]})
            self._op["plan_s"] += end - start

    # ---- Spark counters ----------------------------------------------
    def _job_counters(self, group: str, tag: str) -> dict:
        sc = self.spark.sparkContext
        store = sc._jsc.sc().statusStore()
        st = sc.statusTracker()
        out = defaultdict(float)
        stages = set()
        for jid in st.getJobIdsForGroup(group):
            out[f"jobs_{tag}"] += 1
            info = st.getJobInfo(jid)
            stages.update(info.stageIds if info else ())
        for sid in stages:
            try:
                sd = store.lastStageAttempt(sid)
            except Exception:        # a skipped stage has no attempt
                continue
            if str(sd.status()) == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += sd.numTasks()
            sub, done = sd.submissionTime(), sd.completionTime()
            if sub.isDefined() and done.isDefined():
                out["stage_s"] += (done.get().getTime()
                                   - sub.get().getTime()) / 1e3
            out["input_bytes"] += sd.inputBytes()
            out["input_records"] += sd.inputRecords()
            out["shuffle_read_bytes"] += (sd.shuffleRemoteBytesRead()
                                          + sd.shuffleLocalBytesRead())
            out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
            out["spill_bytes"] += (sd.memoryBytesSpilled()
                                   + sd.diskBytesSpilled())
        return dict(out)

    def _sql_store(self):
        return self.spark._jsparkSession.sharedState().statusStore()

    def _sql_counters(self) -> dict:
        """Scan counters of the SQL executions this operation started."""
        ss = self._sql_store()
        n = ss.executionsCount()
        files = 0
        if n > self._sql_seen:
            execs = ss.executionsList(self._sql_seen, n - self._sql_seen)
            for e in _scala_iter(execs.iterator()):
                ids = {m.accumulatorId() for m in _scala_iter(
                    e.metrics().iterator())
                    if m.name() == "number of files read"}
                if not ids:
                    continue
                # iterate: a py4j int key would not match the Long keys
                for kv in _scala_iter(
                        ss.executionMetrics(e.executionId()).iterator()):
                    if kv._1() in ids:
                        files += int("".join(c for c in str(kv._2())
                                             if c.isdigit()) or 0)
        self._sql_seen = n
        return {"files_read": files}

    # ---- output ------------------------------------------------------
    def self_times(self) -> dict[str, float]:
        """Total self time per span name: duration minus the part of the
        interval its children cover.  Catalyst phase spans get as parent
        the smallest benchmark span of their operation that contains
        them (the operation's root when clock rounding puts them
        outside every span)."""
        spans = self.spans
        roots = {s["op"]: i for i, s in enumerate(spans) if s["name"] == "op"}
        for s in spans:
            if not s["name"].startswith("catalyst.") or s["op"] not in roots:
                continue
            best = roots[s["op"]]
            for j, p in enumerate(spans):
                if (p["op"] == s["op"] and not p["name"].startswith("catalyst.")
                        and p["start"] <= s["start"] and s["end"] <= p["end"]
                        and p["end"] - p["start"]
                        < spans[best]["end"] - spans[best]["start"]):
                    best = j
            s["parent"] = best
        kids = defaultdict(list)
        for s in spans:
            if s["parent"] is not None:
                kids[s["parent"]].append((s["start"], s["end"]))
        out = defaultdict(float)
        for i, s in enumerate(spans):
            covered, cur = 0.0, s["start"]
            for a, b in sorted(kids[i]):
                a, b = max(a, cur), min(b, s["end"])
                if b > a:
                    covered += b - a
                    cur = b
            out[s["name"]] += (s["end"] - s["start"]) - covered
        return dict(out)

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump({"spans": self.spans, "ops": self.ops}, fh)

    def close(self) -> None:
        if getattr(self, "_restore", None):
            self._restore()

"""Per-layer tracing from outside the engine.

Spans are recorded in memory around calls into each layer; the engine
is never edited. Where the engine resolves a function through a module
attribute, that attribute is wrapped in-process for the traced run.
Every span on the driver thread sets a Spark job group, so Spark's own
event log attributes jobs, stages and task metrics back to the span and
op that caused them. Jobs started on other threads (the streaming
query's) are attributed by submission time. A StreamingQueryListener
records each micro-batch's progress.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import json
import os
import threading
import time

from harness import median


class Tracer:
    """Spans: (id, name, parent, op, start, end). Off by default; while
    off, ``span`` and ``action`` add no work to the measured path."""

    def __init__(self, spark):
        self.spark = spark
        self.on = False
        self.op = -1
        self.spans: list[dict] = []
        self.progress: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._wrapped: list[tuple] = []
        self.terminated = 0

    # -- spans ----------------------------------------------------------
    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def _set_group(self, sid: int | None) -> None:
        sc = self.spark.sparkContext
        if sid is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            sc.setJobGroup(f"pb-{sid}", f"perfbench span {sid}")

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.on:
            yield
            return
        stack = self._stack()
        main = threading.current_thread() is threading.main_thread()
        sid = next(self._ids)
        rec = {"id": sid, "name": name, "parent": stack[-1] if stack else None,
               "op": self.op, "t0": time.time()}
        stack.append(sid)
        if main:
            self._set_group(sid)
        try:
            yield
        finally:
            rec["t1"] = time.time()
            stack.pop()
            if main:
                self._set_group(stack[-1] if stack else None)
            self.spans.append(rec)

    def action(self, name: str, build, act, plan: bool = True):
        """One DataFrame step split into the engine's phases: driver
        build (the public call that returns the DataFrame, including any
        fit-time collects), planning (forcing the executed plan; not
        possible for a streaming plan) and execution (``act``). Returns
        (df, act's result)."""
        with self.span(name):
            with self.span("engine.build"):
                df = build()
            if self.on and plan:
                with self.span("engine.plan"):
                    df._jdf.queryExecution().executedPlan()
            with self.span("engine.exec"):
                out = act(df)
        return df, out

    def wrap(self, owner, attr: str, name: str, after=None) -> None:
        """Replace ``owner.attr`` with a spanned wrapper. ``after(result,
        args, kwargs, rec)`` may add fields to the span record."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            if not tracer.on:
                return orig(*args, **kwargs)
            with tracer.span(name):
                out = orig(*args, **kwargs)
            if after is not None:
                after(out, args, kwargs, tracer.spans[-1])
            return out

        self._wrapped.append((owner, attr, orig))
        setattr(owner, attr, wrapper)

    def unwrap(self) -> None:
        for owner, attr, orig in reversed(self._wrapped):
            setattr(owner, attr, orig)
        self._wrapped.clear()

    # -- streaming progress ---------------------------------------------
    def listen_streams(self) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        tracer = self

        class Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                tracer.progress.append(json.loads(event.progress.json))

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                tracer.terminated += 1

        self.spark.streams.addListener(Listener())

    def wait_streams(self, drains: int, timeout: float = 10.0) -> None:
        """Progress events arrive on the listener bus after the query
        returns; wait until every drain has reported termination."""
        end = time.time() + timeout
        while self.terminated < drains and time.time() < end:
            time.sleep(0.05)


# -- event log ------------------------------------------------------------

def event_log_conf(log_dir: str) -> dict:
    os.makedirs(log_dir, exist_ok=True)
    return {"spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.dir": "file://" + log_dir}


def parse_event_log(log_dir: str) -> dict:
    """Per job: group, submission time (s), stage count, task count and
    summed task metrics."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    # rolling event logs are a directory of events_<n>_<app> files
    paths = [os.path.join(d, f) for d, _, fs in os.walk(log_dir) for f in fs
             if f.startswith("events_")]
    for path in sorted(paths):
        with open(path) as f:
            for line in f:
                if not line.strip():
                    continue
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jid = ev["Job ID"]
                    props = ev.get("Properties") or {}
                    jobs[jid] = {"group": props.get("spark.jobGroup.id"),
                                 "t": ev["Submission Time"] / 1000.0,
                                 "stages": 0, "tasks": 0, "shuffle": 0,
                                 "spill": 0, "cpu": 0.0, "gc": 0.0}
                    for sid in ev.get("Stage IDs", []):
                        stage_job[sid] = jid
                elif kind == "SparkListenerStageCompleted":
                    jid = stage_job.get(ev["Stage Info"]["Stage ID"])
                    if jid in jobs:
                        jobs[jid]["stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    jid = stage_job.get(ev["Stage ID"])
                    m = ev.get("Task Metrics") or {}
                    if jid not in jobs:
                        continue
                    j = jobs[jid]
                    j["tasks"] += 1
                    j["shuffle"] += (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0)
                    j["spill"] += m.get("Memory Bytes Spilled", 0) + m.get(
                        "Disk Bytes Spilled", 0)
                    j["cpu"] += m.get("Executor CPU Time", 0) / 1e9
                    j["gc"] += m.get("JVM GC Time", 0) / 1e3
    return jobs


# -- per-layer metrics ----------------------------------------------------

def _per_op(ops: list[int], pairs) -> dict[int, float]:
    out = {op: 0.0 for op in ops}
    for op, v in pairs:
        if op in out:
            out[op] += v
    return out


def layer_metrics(tracer: Tracer, jobs: dict, names: list[str],
                  extra: dict) -> dict[str, float]:
    """Median over traced ops of each per-op total. Layers the workload
    never reaches read 0."""
    spans = tracer.spans
    ops = sorted({s["op"] for s in spans if s["name"] == "op"})
    by_id = {s["id"]: s for s in spans}
    dur = lambda s: s["t1"] - s["t0"]  # noqa: E731

    def span_total(name: str, value=dur) -> float:
        """Median, over the ops that reach the span, of its per-op sum."""
        hit = [s for s in spans if s["name"] == name]
        reached = sorted({s["op"] for s in hit} & set(ops))
        return median(list(_per_op(reached, ((s["op"], value(s)) for s in hit)).values()))

    out = {}
    for n in names:
        if n.endswith("_s") and any(s["name"] == n[:-2] for s in spans):
            out[n] = span_total(n[:-2])

    # catalog commits and the lineage time outside the data commit
    out["sources.catalog.commit_calls"] = span_total("sources.catalog.commit", lambda s: 1)
    out["sources.catalog.bytes_written"] = span_total(
        "sources.catalog.commit", lambda s: s.get("bytes", 0))
    # a tier's rollup runs inside its data commit, the first commit made
    # by commit_with_lineage; the rest of that call is lineage overhead
    lin, tier = [], {"tier_1m": [], "tier_1h": [], "tier_1d": []}
    for s in spans:
        if s["name"] == "plans.lineage.commit_with_lineage":
            kids = sorted((c for c in spans if c["parent"] == s["id"]
                           and c["name"] == "sources.catalog.commit"),
                          key=lambda c: c["t0"])
            data = dur(kids[0]) if kids else 0.0
            lin.append((s["op"], dur(s) - data))
            if s.get("table") in tier:
                tier[s["table"]].append((s["op"], data))
    if lin:
        out["plans.lineage.overhead_s"] = median(list(_per_op(ops, lin).values()))
    for table, pairs in tier.items():
        if pairs:
            out[f"plans.tiers.rollup_{table[5:]}_s"] = median(
                list(_per_op(ops, pairs).values()))

    # engine counters from the event log, attributed to ops
    op_spans = [s for s in spans if s["name"] == "op"]

    def op_of_job(j: dict) -> int | None:
        g = j["group"] or ""
        if g.startswith("pb-") and int(g[3:]) in by_id:
            return by_id[int(g[3:])]["op"]
        for s in op_spans:
            if s["t0"] <= j["t"] <= s["t1"]:
                return s["op"]
        return None

    attributed = [(op_of_job(j), j) for j in jobs.values()]
    for key, field in (("engine.jobs", None), ("engine.stages", "stages"),
                       ("engine.tasks", "tasks"),
                       ("engine.shuffle_write_bytes", "shuffle"),
                       ("engine.spill_bytes", "spill"),
                       ("engine.executor_cpu_s", "cpu"), ("engine.gc_s", "gc")):
        out[key] = median(list(_per_op(
            ops, ((op, 1 if field is None else j[field])
                  for op, j in attributed)).values()))

    # streaming micro-batches, attributed by their trigger time
    if tracer.progress:
        import datetime as dt

        def op_at(ts: str) -> int | None:
            t = dt.datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()
            for s in op_spans:
                if s["t0"] - 0.5 <= t <= s["t1"]:
                    return s["op"]
            return None

        prog = [(op_at(p["timestamp"]), p) for p in tracer.progress]
        prog = [(op, p) for op, p in prog if op is not None]
        dms = lambda p, k: p.get("durationMs", {}).get(k, 0) / 1e3  # noqa: E731
        for key, fn in (
            ("streaming.rollup_stream.batch_s", lambda p: dms(p, "triggerExecution")),
            ("streaming.rollup_stream.add_batch_s", lambda p: dms(p, "addBatch")),
            ("streaming.rollup_stream.query_planning_s",
             lambda p: dms(p, "queryPlanning")),
            ("streaming.rollup_stream.batches_per_op", lambda p: 1),
        ):
            out[key] = median(list(_per_op(ops, ((op, fn(p)) for op, p in prog)).values()))
        state = {}
        for op, p in prog:
            rows = sum(s.get("numRowsTotal", 0) for s in p.get("stateOperators", []))
            state[op] = max(state.get(op, 0), rows)
        out["streaming.rollup_stream.state_rows"] = median(list(state.values()))

    out.update(extra)
    return {n: float(out.get(n, 0.0)) for n in names}

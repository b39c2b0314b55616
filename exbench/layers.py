"""Per-layer tracing from outside the package.

Three sources, all recorded in memory and reduced after the run:

* spans: the package's public functions are wrapped at their module
  attributes (the names callers resolve at call time), each span tagged with
  the layer named after the module it calls into; a layer's build time is
  the self time of its spans;
* py4j: every ``send_command`` round trip, counted and timed;
* the Spark event log (``spark.eventLog.enabled`` into a ``file:`` dir in
  the checkout), parsed after ``spark.stop()``: jobs by job group (batch
  operations) or by micro-batch id (the stream), stages with their task
  metrics, and SQL plan nodes joined to stages through their metric ids.

Each stage is attributed to the layer whose operator dominates it
(``STAGE_LAYERS``, first match wins).  ``timeline`` gives every instant of
an operation's wall time to one bucket: a running stage's layer, a nested
span's layer, Spark's driver while the operation's query runs between
stages, or ``py4j``; or, named by no layer, a top-level span's own Python
or time in which nothing recorded shows what ran.  ``trace.attributed_ratio``
is the share the named layers cover.
"""

from __future__ import annotations

import bisect
import functools
import glob
import importlib
import json
import os
import statistics
import threading
import time
from collections import defaultdict

# (module, attribute, layer) — the attribute is replaced by a span wrapper
SPAN_TARGETS = (
    ("exstream_implementation_spark.sources", "load_table", "sources"),
    ("exstream_implementation_spark.sources.tables", "load_table", "sources"),
    ("exstream_implementation_spark.pipeline", "explain_anomalies", "pipeline"),
    ("exstream_implementation_spark.pipeline", "slice_intervals", "slicing"),
    ("exstream_implementation_spark.pipeline", "melt_features", "slicing"),
    ("exstream_implementation_spark.pipeline", "single_feature_rewards", "rewards"),
    ("exstream_implementation_spark.pipeline", "reward_leap_filter", "leap"),
    ("exstream_implementation_spark.pipeline", "assemble_explanations", "leap"),
    ("exstream_implementation_spark.pipeline", "correlated_features_filter", "correlation"),
    ("exstream_implementation_spark.pipeline", "false_positive_filter", "fp_filter"),
    ("exstream_implementation_spark.pipeline", "tracked_persist", "cache"),
    ("exstream_implementation_spark.cache", "enter_query", "cache"),
    ("exstream_implementation_spark.cache", "exit_query", "cache"),
    ("exstream_implementation_spark.streaming.online_scorer", "online_feature_rewards", "stateful"),
    ("exstream_implementation_spark.streaming.online_scorer", "reward_leap_filter", "leap"),
    ("exstream_implementation_spark.streaming.online_scorer", "assemble_explanations", "leap"),
    ("exstream_implementation_spark.streaming.online_scorer.RewardServingView", "apply_batch", "online_scorer"),
)

# stage -> layer by the operators whose metrics its tasks updated; first match
STAGE_LAYERS = (
    ("stateful", ("FlatMapGroupsInPandasWithState",)),
    ("fp_filter", ("FlatMapGroupsInPandas", "ArrowEvalPython", "MapInPandas")),
    ("rewards", ("Window", "Sort")),
    ("slicing", ("Expand", "Generate")),
    ("cache", ("InMemoryTableScan",)),
    ("sources", ("Scan",)),
)

PYTHON_RUN_METRIC = "time to run Python workers"


def stage_layer(nodes: set[str]) -> str:
    for layer, ops in STAGE_LAYERS:
        if any(n == op or n.startswith(op + " ") for n in nodes for op in ops):
            return layer
    return "spark.other"


# --- event log ---------------------------------------------------------------


class EventLog:
    """The parts of a Spark event log the attribution needs."""

    def __init__(self):
        self.jobs: dict[int, dict] = {}  # id -> {group, batch, sql, root, stages, submit, end}
        self.sql: dict[int, dict] = {}  # execution id -> {start, end}
        self.stages: dict[int, dict] = {}  # id -> {submit, end, tasks, metrics, nodes}
        self.acc_nodes: dict[int, tuple[str, str, str, str]] = {}  # acc id -> (node, simple, metric, type)

    @classmethod
    def parse(cls, lines) -> "EventLog":
        log = cls()
        task_accs: dict[int, list] = defaultdict(list)
        task_metrics: dict[int, list] = defaultdict(list)
        for line in lines:
            if not line.strip():
                continue
            e = json.loads(line)
            kind = e["Event"]
            if kind == "SparkListenerJobStart":
                props = e.get("Properties") or {}
                log.jobs[e["Job ID"]] = {
                    "group": props.get("spark.jobGroup.id"),
                    "batch": props.get("streaming.sql.batchId"),
                    "sql": props.get("spark.sql.execution.id"),
                    "root": props.get("spark.sql.execution.root.id"),
                    "stages": list(e["Stage IDs"]),
                    "submit": e["Submission Time"],
                }
            elif kind == "SparkListenerJobEnd":
                if e["Job ID"] in log.jobs:
                    log.jobs[e["Job ID"]]["end"] = e["Completion Time"]
            elif kind == "SparkListenerStageCompleted":
                si = e["Stage Info"]
                log.stages[si["Stage ID"]] = {
                    "submit": si.get("Submission Time"),
                    "end": si.get("Completion Time"),
                    "tasks": si["Number of Tasks"],
                }
            elif kind == "SparkListenerTaskEnd":
                task_accs[e["Stage ID"]].extend(
                    (a["ID"], a.get("Update")) for a in e["Task Info"].get("Accumulables", [])
                )
                task_metrics[e["Stage ID"]].append(e.get("Task Metrics") or {})
            elif kind.endswith("SQLExecutionStart") or kind.endswith("SQLAdaptiveExecutionUpdate"):
                log._walk(e["sparkPlanInfo"])
                if kind.endswith("SQLExecutionStart"):
                    log.sql[int(e["executionId"])] = {"start": int(e["time"])}
            elif kind.endswith("SQLExecutionEnd"):
                log.sql.setdefault(int(e["executionId"]), {})["end"] = int(e["time"])
        for sid, st in log.stages.items():
            st["metrics"] = _task_totals(task_metrics.get(sid, []))
            nodes, sql = set(), defaultdict(float)
            for acc, update in task_accs.get(sid, []):
                node = log.acc_nodes.get(acc)
                if node is None:
                    continue
                nodes.add(node[0])
                try:
                    v = float(update)
                except (TypeError, ValueError):
                    continue
                if node[3] == "nsTiming":
                    v /= 1e6  # -> ms, like "timing"
                sql[(node[0], node[1], node[2])] += v
            st["nodes"] = nodes
            st["sql"] = dict(sql)
            st["layer"] = stage_layer(nodes)
        return log

    def _walk(self, info: dict) -> None:
        for m in info.get("metrics", []):
            self.acc_nodes[m["accumulatorId"]] = (
                info["nodeName"], info.get("simpleString", ""), m["name"], m.get("metricType", "")
            )
        for child in info.get("children", []):
            self._walk(child)

    def jobs_where(self, key: str, value) -> list[dict]:
        return [j for j in self.jobs.values() if j.get(key) == value]

    def live(self, jobs: list[dict]) -> tuple[list, list]:
        """Epoch-second intervals in which Spark observably worked on these
        jobs: (each job from submission to completion, each SQL execution
        they ran under, and its root execution, from start to end)."""
        job_iv = [(j["submit"] / 1000.0, j["end"] / 1000.0) for j in jobs if "end" in j]
        ids = {int(j[k]) for j in jobs for k in ("sql", "root") if j.get(k) is not None}
        query_iv = [
            (self.sql[i]["start"] / 1000.0, self.sql[i]["end"] / 1000.0)
            for i in sorted(ids) if "start" in self.sql.get(i, {}) and "end" in self.sql[i]
        ]
        return job_iv, query_iv


def _task_totals(tasks: list[dict]) -> dict:
    tot = defaultdict(float)
    for m in tasks:
        tot["run_ms"] += m.get("Executor Run Time", 0)
        tot["cpu_ns"] += m.get("Executor CPU Time", 0)
        tot["gc_ms"] += m.get("JVM GC Time", 0)
        r = m.get("Shuffle Read Metrics") or {}
        tot["shuffle_read"] += r.get("Remote Bytes Read", 0) + r.get("Local Bytes Read", 0)
        w = m.get("Shuffle Write Metrics") or {}
        tot["shuffle_write"] += w.get("Shuffle Bytes Written", 0)
        tot["spill"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    return dict(tot)


def read_event_log(directory: str) -> EventLog:
    files = [f for f in glob.glob(os.path.join(directory, "*")) if os.path.isfile(f)]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {directory}, found {files}")
    with open(files[0]) as fh:
        return EventLog.parse(fh)


# timeline buckets that no named layer accounts for
UNATTRIBUTED = ("top_level.python", "unobserved")
# the named layers must cover an operation's wall time to within this share
ATTRIBUTION_BOUND = 0.10


def timeline(start: float, end: float, stages: list[dict], spans: list[tuple],
             calls: list[tuple[float, float]], live: tuple[list, list]) -> dict[str, float]:
    """Seconds of [start, end] (epoch s) per bucket; every instant goes to
    exactly one, the first that applies:

    * the layers of the stages running then (stages running together share
      it evenly);
    * the layer of the innermost span nested in another span (a package
      function called by a package function);
    * ``spark.driver`` while one of the operation's jobs is live but none of
      its stages runs (Spark's scheduler);
    * inside a top-level span (``explain_anomalies``, ``load_table``, the
      stream's batch handler): ``py4j`` while a round trip is in flight,
      else ``top_level.python``, the span's own Python;
    * ``spark.driver`` while one of the operation's SQL executions is live
      (planning and adaptive re-planning between jobs);
    * ``unobserved``: the rest, where nothing recorded shows what ran.

    ``top_level.python`` and ``unobserved`` (``UNATTRIBUTED``) are named by
    no layer.  ``spans`` are (layer, start, end); ``calls`` are (start, end);
    ``live`` is ``EventLog.live`` of the operation's jobs."""
    runs = []
    for st in stages:
        if st.get("submit") is None or st.get("end") is None:
            continue
        a, b = max(st["submit"] / 1000.0, start), min(st["end"] / 1000.0, end)
        if b > a:
            runs.append((a, b, st["layer"]))
    spans = [(layer, max(a, start), min(b, end)) for layer, a, b in spans if b > start and a < end]
    nested, top = [], []
    for i, (layer, a, b) in enumerate(spans):
        inside = any(j != i and a2 <= a and b <= b2 for j, (_, a2, b2) in enumerate(spans))
        (nested if inside else top).append((a, b, layer))
    in_flight, jobs_live, queries_live = (
        _top_level([(max(a, start), min(b, end)) for a, b in iv if b > start and a < end])
        for iv in (calls, *live)
    )
    cuts = {start, end}
    for a, b, _ in runs + nested + top:
        cuts.update((a, b))
    for a, b in in_flight + jobs_live + queries_live:
        cuts.update((a, b))
    edges = sorted(c for c in cuts if start <= c <= end)
    out: dict[str, float] = defaultdict(float)
    for a, b in zip(edges, edges[1:]):
        m, dt = (a + b) / 2.0, b - a
        running = [layer for s, e, layer in runs if s <= m < e]
        if running:
            for layer in running:
                out[layer] += dt / len(running)
            continue
        inner = [(s, layer) for s, e, layer in nested if s <= m < e]
        if inner:
            out[max(inner)[1]] += dt
        elif _covers(jobs_live, m):
            out["spark.driver"] += dt
        elif any(s <= m < e for s, e, _ in top):
            out["py4j" if _covers(in_flight, m) else "top_level.python"] += dt
        elif _covers(queries_live, m):
            out["spark.driver"] += dt
        else:
            out["unobserved"] += dt
    return dict(out)


def _covers(merged: list[tuple[float, float]], t: float) -> bool:
    """Whether ``t`` falls in one of the sorted, disjoint intervals."""
    k = bisect.bisect_right(merged, (t, float("inf"))) - 1
    return k >= 0 and t < merged[k][1]


def attributed_share(split: dict[str, float], wall: float) -> float:
    """Share of ``wall`` the named layers of a ``timeline`` account for."""
    return sum(v for k, v in split.items() if k not in UNATTRIBUTED) / wall


def attribution_ok(ratio: float) -> bool:
    return abs(ratio - 1.0) <= ATTRIBUTION_BOUND


def stage_sums(stages: list[dict]) -> dict[str, float]:
    """Executor-side totals over the given stages, overall and per layer."""
    out: dict[str, float] = defaultdict(float)
    for st in stages:
        m, layer = st["metrics"], st["layer"]
        out["spark.stages"] += 1
        out["spark.tasks"] += st["tasks"]
        out["spark.executor_run_s"] += m.get("run_ms", 0) / 1000.0
        out["spark.executor_cpu_s"] += m.get("cpu_ns", 0) / 1e9
        out["spark.gc_s"] += m.get("gc_ms", 0) / 1000.0
        out["spark.shuffle_read_bytes"] += m.get("shuffle_read", 0)
        out["spark.shuffle_write_bytes"] += m.get("shuffle_write", 0)
        out["spark.spill_bytes"] += m.get("spill", 0)
        out[f"{layer}.exec_s"] += m.get("run_ms", 0) / 1000.0
        out[f"{layer}.shuffle_bytes"] += m.get("shuffle_read", 0)
        out[f"{layer}.spill_bytes"] += m.get("spill", 0)
        for (node, simple, metric), v in st["sql"].items():
            if metric == PYTHON_RUN_METRIC:
                out["spark.python_s"] += v / 1000.0
                out[f"{layer}.python_s"] += v / 1000.0
            if node == "Generate" and "stack(" in simple and metric == "number of output rows":
                out["slicing.melt_rows"] += v
    return dict(out)


# --- in-process recording ----------------------------------------------------


class Tracer:
    """Records spans and py4j round trips while ``enabled``."""

    def __init__(self):
        self.enabled = True
        self.spans: list[tuple[str, str, float, float, float]] = []  # layer, name, start, end, child_s
        self.py4j: list[tuple[float, float]] = []  # start, seconds
        self.cache: list[tuple[float, int, int]] = []  # time, pinned rdds, storage bytes
        self.details: dict = {}
        self._local = threading.local()
        self._lock = threading.Lock()

    def install(self) -> None:
        for module, attr, layer in SPAN_TARGETS:
            owner = _resolve(module)
            setattr(owner, attr, self._wrap(getattr(owner, attr), layer, f"{module}.{attr}"))
        self._wrap_py4j()
        self._wrap_foreach_batch()

    def _wrap(self, fn, layer: str, name: str):
        tracer = self

        @functools.wraps(fn)
        def span(*args, **kwargs):
            if not tracer.enabled:
                return fn(*args, **kwargs)
            stack = tracer._stack()
            stack.append(0.0)
            t0 = time.time()
            try:
                return fn(*args, **kwargs)
            finally:
                t1 = time.time()
                child = stack.pop()
                if stack:
                    stack[-1] += t1 - t0
                with tracer._lock:
                    tracer.spans.append((layer, name, t0, t1, child))

        return span

    def _stack(self) -> list:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def _wrap_py4j(self) -> None:
        import py4j.clientserver
        import py4j.java_gateway

        tracer = self
        for cls in (py4j.clientserver.ClientServerConnection, py4j.java_gateway.GatewayConnection):
            orig = cls.send_command

            def send_command(conn, command, *a, _orig=orig, **kw):
                if not tracer.enabled:
                    return _orig(conn, command, *a, **kw)
                t0 = time.time()
                try:
                    return _orig(conn, command, *a, **kw)
                finally:
                    with tracer._lock:
                        tracer.py4j.append((t0, time.time() - t0))

            cls.send_command = send_command

    def _wrap_foreach_batch(self) -> None:
        from pyspark.sql.streaming.readwriter import DataStreamWriter

        orig = DataStreamWriter.foreachBatch
        tracer = self

        def foreach_batch(writer, func):
            span = tracer._wrap(func, "online_scorer", "foreachBatch handler")

            def handler(batch_df, batch_id):
                # even micro-batches traced, odd ones not: the difference of
                # their trigger times is the cost of tracing
                tracer.enabled = batch_id % 2 == 0
                return span(batch_df, batch_id)

            return orig(writer, handler)

        DataStreamWriter.foreachBatch = foreach_batch

    def sample_cache(self, spark) -> None:
        """Pinned RDDs and their storage bytes, sampled after an operation
        (not counted as py4j traffic of any operation)."""
        from exstream_implementation_spark.cache import persisted_rdd_census

        was, self.enabled = self.enabled, False
        try:
            pinned, _ = persisted_rdd_census(spark)
            infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
            stored = sum(i.memSize() + i.diskSize() for i in infos)
        finally:
            self.enabled = was
        self.cache.append((time.time(), pinned, stored))

    # --- reduction -----------------------------------------------------------

    def in_window(self, start: float, end: float) -> tuple[dict, list, list]:
        """(self seconds per layer, (layer, start, end) spans, (start, end)
        py4j round trips) for spans and calls that started inside
        [start, end]."""
        by_layer: dict[str, float] = defaultdict(float)
        spans = []
        for layer, _, t0, t1, child in self.spans:
            if start <= t0 <= end:
                by_layer[layer] += (t1 - t0) - child
                spans.append((layer, t0, t1))
        calls = [(t0, t0 + dt) for t0, dt in self.py4j if start <= t0 <= end]
        return dict(by_layer), spans, calls

    def batch_op(self, op: dict, log: EventLog, cores: int) -> dict:
        """Per-layer numbers of one traced batch operation."""
        wall = op["end"] - op["start"]
        build_layers, _, build_calls = self.in_window(op["start"], op["built"])
        _, spans, calls = self.in_window(op["start"], op["end"])
        jobs = log.jobs_where("group", op["group"])
        stages = [log.stages[s] for j in jobs for s in j["stages"] if s in log.stages]
        build_jobs = [j for j in jobs if j["submit"] / 1000.0 < op["built"]]
        corr_jobs = sum(
            1 for j in jobs for layer, t0, t1 in spans
            if layer == "correlation" and t0 <= j["submit"] / 1000.0 <= t1
        )
        sums = stage_sums(stages)
        split = timeline(op["start"], op["end"], stages, spans, calls, log.live(jobs))
        out = {
            "op.wall_s": wall,
            "op.build_s": op["built"] - op["start"],
            "py4j.calls": len(calls),
            "py4j.s": sum(b - a for a, b in build_calls),
            "pipeline.build_jobs": len(build_jobs),
            "correlation.jobs": corr_jobs,
            "spark.jobs": len(jobs),
            "spark.core_busy_ratio": sums.get("spark.executor_run_s", 0.0) / (wall * cores),
            "trace.attributed_ratio": attributed_share(split, wall),
            **sums,
        }
        for layer, s in build_layers.items():
            key = "correlation.s" if layer == "correlation" else f"{layer}.build_s"
            out[key] = s
        for bucket, s in split.items():
            out[f"{bucket}.wall_s"] = s
        return out

    def metrics(self, run) -> dict[str, float]:
        """Median over the traced operations of every per-layer number the
        run measured, and the cost of tracing: median traced minus median
        untraced wall time (operations or micro-batches alternate)."""
        log = read_event_log(os.path.join(run.work, "eventlog"))
        if run.workload == "online_rate":
            per_op = [self.stream_batch(p, log, run) for p in run.progress if p["batchId"] % 2 == 0]
            untraced = [p["durationMs"]["triggerExecution"] / 1000.0
                        for p in run.progress if p["batchId"] % 2]
        else:
            per_op = []
            for op in (op for op in run.ops if op["traced"]):
                row = self.batch_op(op, log, run.cores)
                pinned = [c for c in self.cache if c[0] >= op["end"]]
                if pinned:
                    row["cache.pinned_rdds"], row["cache.storage_bytes"] = pinned[0][1], pinned[0][2]
                per_op.append(row)
            untraced = [op["end"] - op["start"] for op in run.ops if not op["traced"]]
        if not per_op:
            raise RuntimeError("no traced operation completed")
        names = {k for row in per_op for k in row}
        med = {k: statistics.median(row.get(k, 0.0) for row in per_op) for k in sorted(names)}
        if untraced:
            med["trace.overhead_s"] = med["op.wall_s"] - statistics.median(untraced)
        ratios = [row["trace.attributed_ratio"] for row in per_op]
        self.details = {
            "traced_ops": len(per_op),
            "untraced_ops": len(untraced),
            "wall_s": med.get("op.wall_s"),
            "cores": run.cores,
            "attributed_ratios": ratios,
            "attribution_ok": all(attribution_ok(r) for r in ratios),
            "medians": med,
        }
        return med

    def stream_batch(self, p: dict, log: EventLog, run) -> dict:
        """Per-layer numbers of one micro-batch from its progress report,
        its handler span and the jobs it ran."""
        d = p["durationMs"]
        trigger = d.get("triggerExecution", 0)
        st = (p.get("stateOperators") or [{}])[0]
        start = _epoch(p["timestamp"])
        end = start + trigger / 1000.0
        _, spans, calls = self.in_window(start, end)
        handler = [t1 - t0 for layer, name, t0, t1, _ in self.spans
                   if name == "foreachBatch handler" and start <= t0 <= end]
        jobs = log.jobs_where("batch", str(p["batchId"]))
        stages = [log.stages[s] for j in jobs for s in j["stages"] if s in log.stages]
        sums = stage_sums(stages)
        split = timeline(start, end, stages, spans, calls, log.live(jobs))
        # outside the batch's SQL execution (addBatch) the engine runs its
        # own phases, which Spark reports as durations: time nothing else
        # places is theirs up to the reported total
        engine = sum(v for k, v in d.items() if k not in ("triggerExecution", "addBatch")) / 1000.0
        split["stream.engine"] = min(split.get("unobserved", 0.0), engine)
        split["unobserved"] = split.get("unobserved", 0.0) - split["stream.engine"]
        end_values = int(p["sources"][0]["endOffset"]) * run.stream_rate
        created = (end * 1000.0 - run.creation_ms) / 1000.0 * run.stream_rate
        out = {
            "op.wall_s": trigger / 1000.0,
            "py4j.calls": len(calls),
            "py4j.s": sum(b - a for a, b in calls),
            "stream.trigger_ms": trigger,
            "stream.add_batch_ms": d.get("addBatch", 0),
            "stream.planning_ms": d.get("queryPlanning", 0),
            "stream.wal_commit_ms": d.get("walCommit", 0),
            "stream.input_rows": p.get("numInputRows", 0),
            "stream.backlog_rows": max(created - end_values, 0.0),
            "stateful.state_rows": st.get("numRowsTotal", 0),
            "stateful.state_bytes": st.get("memoryUsedBytes", 0),
            "stateful.commit_ms": st.get("commitTimeMs", 0),
            "stateful.update_ms": st.get("allUpdatesTimeMs", 0),
            "online_scorer.handler_s": sum(handler),
            "spark.jobs": len(jobs),
            "spark.core_busy_ratio": sums.get("spark.executor_run_s", 0.0)
            / max(trigger / 1000.0 * run.cores, 1e-9),
            "trace.attributed_ratio": attributed_share(split, trigger / 1000.0) if trigger else 0.0,
            **sums,
        }
        for bucket, s in split.items():
            out[f"{bucket}.wall_s"] = s
        return out


def _top_level(intervals: list[tuple[float, float]]) -> list[tuple[float, float]]:
    merged: list[list[float]] = []
    for a, b in sorted(intervals):
        if merged and a <= merged[-1][1]:
            merged[-1][1] = max(merged[-1][1], b)
        else:
            merged.append([a, b])
    return [(a, b) for a, b in merged]


def _epoch(ts: str) -> float:
    from datetime import datetime, timezone

    return datetime.strptime(ts, "%Y-%m-%dT%H:%M:%S.%fZ").replace(tzinfo=timezone.utc).timestamp()


def _resolve(path: str):
    parts = path.split(".")
    for i in range(len(parts), 0, -1):
        try:
            obj = importlib.import_module(".".join(parts[:i]))
        except ImportError:
            continue
        for attr in parts[i:]:
            obj = getattr(obj, attr)
        return obj
    raise ImportError(path)

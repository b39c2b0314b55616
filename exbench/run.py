"""EXstream benchmark: one command per workload, one JSON result line.

    python3 exbench/run.py --workload explain_raw --seed 1 --seconds 10 --trace 0

Run from the root of a checkout of the repository.  Inputs are generated
from ``--seed`` under ``.exbench/`` in the checkout; the package only sees
the generated parquet files.  Workloads:

* ``explain_raw``: the full C1-C9 pipeline with correlation clustering and
  false-positive filtering on a generated 1 Hz raw trace, closed loop.
* ``online_rate``: the online scorer fed by Spark's ``rate`` source at a
  fixed rate over K anomaly keys, 1 s processing-time trigger, open loop.

With ``--trace 0`` the last line carries the end-to-end metrics: set-up
time, CPU seconds per explanation and peak memory; with ``--trace 1`` a
separately traced run carries the per-layer metrics (``exbench/layers.py``).
A line before it holds the details: wall-clock latency percentiles with
their sample counts, explanations per second, failed ratio, canaries, the
share of CPU time the hypervisor stole and the steadiness verdict.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

CLK_TCK = os.sysconf("SC_CLK_TCK")
# HotSpot's JIT compiler threads (their names are cut to 15 characters);
# the JVM keeps a fixed set of them (-XX:-UseDynamicNumberOfCompilerThreads)
# so their time can be taken out of the process total
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

WORKLOADS = ("explain_raw", "online_rate")
CORES = 4
DRIVER_MEMORY = "1g"
# a closed loop runs for --seconds and at least this many timed calls; at
# 4-7 s a call, three calls outlast a 10 s window, so every run's median
# sits at the same point of the JIT warm-up curve
MIN_OPS = 3
WARMUP_OPS = 1  # untimed calls between the set-up call and the timed loop
# canary drift (max/min of the before/after medians) beyond which a run is
# marked unsteady; same bound as bench.py's Spark-canary gate
CANARY_DRIFT_BOUND = 1.35
# per-workload sizes (exbench/WORKLOADS.md says why)
RAW_SIZES = {"anomalies": 2, "ref_rows": 2_000, "ano_rows": 2_000, "gap_rows": 200}
RAW_RUNS = 1  # instability runs on explain_raw
STREAM_RATE = 400  # rows/s
STREAM_KEYS = 4  # concurrent anomaly keys
STREAM_FEATURES = 5
# state-store partitions of the stream: its 4 x 5 groups fit in one, and each
# extra partition adds a fixed state commit and a task to every trigger
STREAM_PARTITIONS = 1
STREAM_TRIGGER = "1 second"
# micro-batches after the first explanation that go untimed: the first ones
# run slower while JIT compilation settles
STREAM_WARMUP_BATCHES = 3


def _peak_rss_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"VmHWM missing for pid {pid}")


def _stat_fields(path: str) -> tuple[str, list[str]] | None:
    """(command name, fields after it) of a /proc stat file; None when the
    process or thread has ended."""
    try:
        with open(path) as fh:
            raw = fh.read()
    except OSError:
        return None
    close = raw.rindex(")")
    return raw[raw.index("(") + 1 : close], raw[close + 2 :].split()


def _tree_cpu_s(root: int) -> float:
    """CPU seconds, user plus system, of process ``root`` and every process
    below it (the JVM and its Python workers), counting the children each
    has reaped, less the JVM's JIT compiler threads.  The kernel leaves
    hypervisor steal out of these counters, so they do not swing with the
    load of other guests on the host; JIT compilation is left out because
    it comes in lumps of seconds that land on whichever call is running,
    and a long-lived session pays it once."""
    parent, ticks = {}, {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            stat = _stat_fields(f"/proc/{name}/stat")
            if stat is not None:
                fields = stat[1]
                parent[int(name)] = int(fields[1])
                # utime, stime, cutime, cstime
                ticks[int(name)] = sum(int(x) for x in fields[11:15])
    below = {root}
    grew = True
    while grew:
        grew = False
        for pid, ppid in parent.items():
            if ppid in below and pid not in below:
                below.add(pid)
                grew = True
    total = sum(ticks.get(pid, 0) for pid in below)
    for pid in below:
        try:
            tasks = os.listdir(f"/proc/{pid}/task")
        except OSError:  # the process ended
            continue
        for task in tasks:
            stat = _stat_fields(f"/proc/{pid}/task/{task}/stat")
            if stat is not None and stat[0].startswith(JIT_THREADS):
                total -= int(stat[1][11]) + int(stat[1][12])
    return total / CLK_TCK


def _cpu_ticks() -> list[int]:
    """The host-wide CPU tick counters of /proc/stat (user ... steal)."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:9]]


def _steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests between two
    ``_cpu_ticks`` readings."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / max(sum(d), 1)


def _percentile_report(values: list[float]) -> dict:
    """Median plus the highest percentile with at least ten samples beyond
    it; reports no tail when the sample cannot support one above p50."""
    n = len(values)
    out = {"samples": n, "p50": statistics.median(values) if values else None}
    supported = [p for p in range(51, 100) if n * (100 - p) / 100 >= 10]
    if supported:
        out["tail_percentile"] = supported[-1]
        out["tail"] = statistics.quantiles(values, n=100)[supported[-1] - 1]
    else:
        out["tail_percentile"] = out["tail"] = None
        out["tail_note"] = (
            f"{n} samples cannot support a percentile above p50 with ten "
            "samples beyond it"
        )
    return out


def _canaries(spark, np) -> dict:
    """Fixed-size host canaries: numpy matmul (CPU) and a Spark range
    aggregation (scheduler + codegen); each the median of three runs after
    one warm-up run."""
    rng = np.random.default_rng(7)
    m = rng.standard_normal((1200, 1200))
    numpy_t, spark_t = [], []
    for _ in range(4):
        t0 = time.perf_counter()
        float((m @ m).sum())
        numpy_t.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        spark.range(0, 5_000_000, 1, CORES).selectExpr(
            "sum(id * 3 % 7) AS s"
        ).write.format("noop").mode("overwrite").save()
        spark_t.append(time.perf_counter() - t0)
    del numpy_t[0], spark_t[0]  # the first round warms both up
    return {
        "numpy_matmul_s": statistics.median(numpy_t),
        "spark_range_agg_s": statistics.median(spark_t),
    }


def _drift(before: dict, after: dict) -> dict:
    ratios = {
        k: max(before[k], after[k]) / max(min(before[k], after[k]), 1e-9)
        for k in before
    }
    return {"ratios": ratios, "drifted": any(r > CANARY_DRIFT_BOUND for r in ratios.values())}


class Run:
    """One benchmark process: inputs, session, timed operations, results."""

    def __init__(self, workload: str, seed: int, seconds: float, trace: bool):
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.work = os.path.join(ROOT, ".exbench", workload)
        self.latencies: list[float] = []
        self.cpu_per_expl: list[float] = []  # CPU seconds per explanation, per operation
        self.explained = 0
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.ops: list[dict] = []  # per-op group and epoch start/built/end, for tracing
        self.cores = CORES

    # --- environment -----------------------------------------------------

    def prepare(self) -> None:
        shutil.rmtree(self.work, ignore_errors=True)
        os.makedirs(os.path.join(self.work, "tmp"), exist_ok=True)
        os.makedirs(os.path.join(self.work, "eventlog"), exist_ok=True)
        # python workers import the package from the checkout; every file
        # Spark writes stays inside the work directory
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p
        )
        os.environ["SPARK_GRAFT_CPUS"] = str(CORES)
        os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.work, "tmp")
        os.environ["TMPDIR"] = os.path.join(self.work, "tmp")
        # no JVM perf-data file under /tmp (the launcher JVM included)
        os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
        os.environ["PYSPARK_PYTHON"] = sys.executable
        os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
        if ROOT not in sys.path:
            sys.path.insert(0, ROOT)

    def spark_conf(self) -> dict:
        tmp = os.path.join(self.work, "tmp")
        conf = {
            "spark.local.dir": tmp,
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEMORY} -Djava.io.tmpdir={tmp}"
            f" -Dderby.system.home={tmp} -XX:-UseDynamicNumberOfCompilerThreads",
        }
        if self.trace:
            conf["spark.eventLog.enabled"] = "true"
            conf["spark.eventLog.dir"] = "file:" + os.path.join(self.work, "eventlog")
            conf["spark.eventLog.compress"] = "false"
            conf["spark.eventLog.rolling.enabled"] = "false"
        return conf

    # --- inputs and expected answers ---------------------------------------

    def generate(self) -> None:
        import gen

        if self.workload == "explain_raw":
            self.raw_dir = gen.raw(self.seed, os.path.join(self.work, "input"), **RAW_SIZES)

    def expect_batch(self, spark) -> None:
        import oracle
        import pandas as pd

        trace = pd.read_parquet(os.path.join(self.raw_dir, "trace.parquet"))
        labels = pd.read_parquet(os.path.join(self.raw_dir, "labels.parquet"))
        self.expected = oracle.explain(trace, labels, spark, runs=RAW_RUNS, cluster=True, fp=True)

    def check_batch(self, rows) -> str | None:
        got = {r["ano_key"]: (list(r["explanation"]), r["exp_instability"]) for r in rows}
        if set(got) != set(self.expected):
            return f"anomalies {sorted(got)} != expected {sorted(self.expected)}"
        for key, (expl, inst) in self.expected.items():
            g_expl, g_inst = got[key]
            if g_expl != expl:
                return f"{key}: explanation {g_expl} != expected {expl}"
            if (inst is None) != (g_inst is None) or (
                inst is not None and abs(inst - g_inst) > 2e-6
            ):
                return f"{key}: instability {g_inst} != expected {inst}"
        return None

    # --- batch operations ----------------------------------------------------

    def batch_op(self, spark, group: str):
        """One explain call: build, force through the noop sink (timed, in
        wall and CPU seconds), then fetch the two-row result for the output
        check (untimed, served from the call's own cached explanations)."""
        from exstream_implementation_spark import cache

        cache.enter_query()
        try:
            spark.sparkContext.setJobGroup(group, group)
            c0 = _tree_cpu_s(os.getpid())
            t0 = time.perf_counter()
            w0 = time.time()
            from exstream_implementation_spark.pipeline import ExplainConfig, explain_anomalies
            from exstream_implementation_spark.sources import load_table

            df = explain_anomalies(
                load_table(spark, self.raw_dir, "trace"),
                load_table(spark, self.raw_dir, "labels"),
                ExplainConfig(
                    instability_runs=RAW_RUNS, cluster=True, false_positive_filtering=True
                ),
            )
            w_built = time.time()
            df.write.format("noop").mode("overwrite").save()
            elapsed = time.perf_counter() - t0
            cpu = _tree_cpu_s(os.getpid()) - c0
            w1 = time.time()
            spark.sparkContext.setJobGroup(group + "-check", group + "-check")
            rows = df.collect()
        finally:
            cache.exit_query()
        traced = self.trace and self.tracer.enabled
        self.ops.append({"group": group, "start": w0, "built": w_built, "end": w1, "traced": traced})
        if traced:
            self.tracer.sample_cache(spark)
        return elapsed, cpu, rows

    def checked_op(self, spark, group: str):
        """(seconds, CPU seconds, rows) of one checked explain call; rows is
        None after counting the call failed when it raised or its output was
        wrong."""
        try:
            elapsed, cpu, rows = self.batch_op(spark, group)
            err = self.check_batch(rows)
        except Exception as exc:  # an operation that raised is a failure
            err = f"{type(exc).__name__}: {exc}"
        if err:
            self.failed += 1
            self.errors.append(err)
            return None, None, None
        return elapsed, cpu, rows

    def run_batch(self, spark) -> None:
        from exstream_implementation_spark import cache

        # first explanation: the set-up boundary (cold JVM, codegen, caches)
        _, _, rows = self.batch_op(spark, "setup")
        self.setup_s = time.perf_counter() - self.t0 - self.canary_s
        self.expect_batch(spark)
        self.phases["expected"] = time.perf_counter() - self.t0
        err = self.check_batch(rows)
        if err:
            raise RuntimeError(f"set-up explanation is wrong: {err}")
        if self.trace:
            self.tracer.enabled = False
        # untimed warm-up calls, checked all the same: the first calls after
        # the set-up still run slower while JIT compilation settles
        for i in range(WARMUP_OPS):
            self.attempted += 1
            self.checked_op(spark, f"warmup{i}")
        self.ops.clear()
        self.phases["warmed"] = time.perf_counter() - self.t0
        self.ticks0 = _cpu_ticks()
        deadline = time.perf_counter() + self.seconds
        wall = 0.0
        i = 0
        while time.perf_counter() < deadline or i < MIN_OPS:
            self.attempted += 1
            if self.trace:  # alternate traced and untraced operations
                self.tracer.enabled = i % 2 == 0
            elapsed, cpu, rows = self.checked_op(spark, f"op{i}")
            i += 1
            if rows is None:
                continue
            wall += elapsed
            self.latencies.append(elapsed)
            self.cpu_per_expl.append(cpu / len(rows))
            self.explained += len(rows)
        self.ticks1 = _cpu_ticks()
        cache.release_tracked()
        self.explained_per_s = self.explained / wall if wall else 0.0

    # --- streaming -------------------------------------------------------------

    def run_stream(self, spark) -> None:
        import oracle
        from pyspark.sql import functions as F

        from exstream_implementation_spark.streaming.online_scorer import (
            start_online_reward_scorer,
        )

        K, FN, R = STREAM_KEYS, STREAM_FEATURES, STREAM_RATE
        periods = oracle.stream_periods(self.seed, K, FN)
        src = spark.readStream.format("rate").option("rowsPerSecond", str(R)).load()
        v = F.col("value")
        slot = (v % (K * FN)).cast("int")
        k = slot % K
        f = (slot / K).cast("int")
        seq = (v / (K * FN)).cast("long")
        period = F.element_at(F.array(*[F.lit(p) for p in periods]), k * FN + f + 1)
        melted = src.select(
            F.concat(F.lit("rate_"), k.cast("string")).alias("ano_key"),
            F.concat(F.lit("f"), f.cast("string")).alias("feature"),
            f.alias("feature_order"),
            seq.alias("seq"),
            ((seq / period).cast("long") % 2).alias("label"),
        )
        sink = _StampedSink()
        ckpt = os.path.join(self.work, "checkpoint")
        q = start_online_reward_scorer(
            spark, melted, sink, trigger_available_now=False,
            checkpoint_dir=ckpt, processing_trigger=STREAM_TRIGGER,
        )
        try:
            while not sink.stamps and q.isActive:
                time.sleep(0.01)
            if not q.isActive:
                raise RuntimeError(f"stream stopped before its first explanation: {q.exception()}")
            self.setup_s = time.perf_counter() - self.t0 - self.canary_s
            creation_ms = _rate_creation_ms(ckpt)
            warm = max(sink.stamps) + STREAM_WARMUP_BATCHES
            while max(sink.stamps) < warm and q.isActive:
                time.sleep(0.01)
            first_timed = max(sink.stamps) + 1
            self.ticks0 = _cpu_ticks()
            time.sleep(self.seconds)
            self.ticks1 = _cpu_ticks()
            exc = q.exception()  # raised during the timed window: a failure
            last = _stop_between_triggers(q)
        finally:
            if q.isActive:
                q.stop()
        progress = {p["batchId"]: p for p in q.recentProgress}
        timed = [b for b in sorted(progress) if first_timed <= b <= last]
        self.progress = [progress[b] for b in timed]
        for b in timed:
            self.attempted += 1
            end_values = int(progress[b]["sources"][0]["endOffset"]) * R
            expected = oracle.stream_explanations(end_values, K, FN, periods)
            got = {row["ano_key"]: list(row["feature_orders"]) for row in sink.rows.get(b, [])}
            if got != expected:
                self.failed += 1
                self.errors.append(f"batch {b}: {got} != {expected}")
                continue
            # the batch's newest row is the last one the rate source created
            # before the batch's end offset
            newest_s = (creation_ms + (end_values - 1) * 1000 / R) / 1000.0
            self.latencies.append(sink.stamps[b] - newest_s)
            # CPU spent since the previous batch's explanations went out
            if b - 1 in sink.cpu_s:
                self.cpu_per_expl.append((sink.cpu_s[b] - sink.cpu_s[b - 1]) / len(sink.rows[b]))
        if exc is not None:
            self.attempted += 1
            self.failed += 1
            self.errors.append(str(exc))
        done = [b for b in timed if b in sink.stamps]
        if not done:
            raise RuntimeError("no micro-batch completed in the timed window")
        # explanations emitted per second, from the emission of the last
        # batch before the window to that of the last timed batch
        emitted = sum(len(sink.rows[b]) for b in done)
        self.explained_per_s = emitted / (sink.stamps[done[-1]] - sink.stamps[first_timed - 1])
        self.stream_rate = R
        self.creation_ms = creation_ms

    # --- driver ----------------------------------------------------------------

    def execute(self) -> dict:
        self.prepare()
        self.generate()
        self.t0 = time.perf_counter()  # set-up clock: session, JVM, first explanation
        import numpy as np

        from exstream_implementation_spark.session import get_spark

        if self.trace:
            import layers

            self.tracer = layers.Tracer()
            self.tracer.install()
        # the stream's state store keeps one partition per shuffle partition
        # for the life of the query (AQE cannot coalesce it), so it is sized
        # to the stream's groups; the batch workloads keep the package default
        spark = get_spark(
            app_name=f"exbench-{self.workload}",
            shuffle_partitions=STREAM_PARTITIONS if self.workload == "online_rate" else None,
            extra_conf=self.spark_conf(),
        )
        spark.sparkContext.setLogLevel("ERROR")
        self.phases = {"session": time.perf_counter() - self.t0}
        try:
            jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
            # host canaries around the measured work; their time is taken
            # out of setup_s
            t_c = time.perf_counter()
            before = _canaries(spark, np)
            self.canary_s = time.perf_counter() - t_c
            self.phases["canaries"] = self.canary_s
            if self.workload == "online_rate":
                self.run_stream(spark)
            else:
                self.run_batch(spark)
            self.phases["measured"] = time.perf_counter() - self.t0
            canaries = {"before": before, "after": _canaries(spark, np)}
            self.rss_parts_mb = {"python": _peak_rss_mb("self"), "jvm": _peak_rss_mb(jvm_pid)}
            self.rss_mb = sum(self.rss_parts_mb.values())
        finally:
            spark.stop()
            _stop_jvm()
        self.phases["stopped"] = time.perf_counter() - self.t0
        return canaries

    def result(self, canaries: dict) -> tuple[dict, dict]:
        pct = _percentile_report(self.latencies)
        drift = _drift(canaries["before"], canaries["after"])
        spread = (
            max(self.latencies) / min(self.latencies) if len(self.latencies) > 1 else 1.0
        )
        details = {
            "workload": self.workload,
            "seed": self.seed,
            "latency": pct,
            "latencies_s": self.latencies,
            "cpu_s_per_explanation": self.cpu_per_expl,
            "explained_per_s": self.explained_per_s,
            "failed_ratio": self.failed / max(self.attempted, 1),
            "errors": self.errors[:5],
            "canaries_before": canaries["before"],
            "canaries_after": canaries["after"],
            "canary_drift": drift["ratios"],
            "op_spread": spread,
            "steal_share": _steal_share(self.ticks0, self.ticks1),
            "phases_s": self.phases,
            "peak_rss_parts_mb": self.rss_parts_mb,
            "steady": not drift["drifted"] and spread <= 2.0,
        }
        with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
            spec = json.load(fh)
        if self.trace:
            values = self.tracer.metrics(self)
            details["layers"] = self.tracer.details
            listed = spec["per_layer"]
            # a layer the workload does no work in has nothing to measure:
            # its metrics print 0 and are named here
            details["not_measured"] = [m["name"] for m in listed if m["name"] not in values]
            if not self.tracer.details["attribution_ok"]:
                print(
                    "exbench: named layers cover "
                    f"{self.tracer.details['attributed_ratios']} of wall time, "
                    "outside 1 +- 0.10", file=sys.stderr,
                )
        else:
            values = {
                "setup_s": self.setup_s,
                "cpu_s_per_explanation": statistics.median(self.cpu_per_expl),
                "peak_rss_mb": self.rss_mb,
            }
            listed = spec["end_to_end"]
        metrics = {
            m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
            for m in listed
        }
        line = {
            "correct": self.failed == 0,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": metrics,
        }
        return details, line


class _StampedSink:
    """The scorer's sink: records, per micro-batch, when its first
    explanation row was appended, the process tree's CPU seconds at that
    moment, and the rows themselves."""

    def __init__(self):
        self.stamps: dict[int, float] = {}
        self.cpu_s: dict[int, float] = {}
        self.rows: dict[int, list] = {}

    def append(self, item):
        batch_id, row = item
        if batch_id not in self.stamps:
            self.stamps[batch_id] = time.time()
            self.cpu_s[batch_id] = _tree_cpu_s(os.getpid())
        self.rows.setdefault(batch_id, []).append(row)


def _stop_jvm(wait_s: float = 60.0) -> None:
    """Shut the py4j gateway and wait for the JVM (and with it the Python
    worker daemon, which exits when the JVM's pipe closes) to end."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the gateway server exits on EOF
        proc.wait(timeout=wait_s)


def _rate_creation_ms(checkpoint: str) -> int:
    """The rate source's start time in epoch ms, which it journals in the
    checkpoint; at R rows/s the row with value v is stamped start + v*1000/R."""
    path = os.path.join(checkpoint, "sources", "0", "0")
    deadline = time.time() + 30
    while not os.path.exists(path):
        if time.time() > deadline:
            raise RuntimeError("rate source did not journal its start time")
        time.sleep(0.01)
    with open(path) as fh:
        lines = fh.read().split()
    return int(lines[-1])


def _stop_between_triggers(q, wait_s: float = 30.0) -> int:
    """Stop the query right after a micro-batch completes, before the next
    one reaches its state-store commit, so stopping never cancels a commit;
    returns the last completed batch id."""
    last = q.lastProgress
    seen = last["batchId"] if last else -1
    deadline = time.time() + wait_s
    while time.time() < deadline and q.isActive:
        last = q.lastProgress
        if last and last["batchId"] > seen:
            break
        time.sleep(0.01)
    q.stop()
    return last["batchId"] if last else -1


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    sys.path.insert(0, HERE)
    run = Run(args.workload, args.seed, args.seconds, bool(args.trace))
    canaries = run.execute()
    details, line = run.result(canaries)
    print(json.dumps(details))
    print(json.dumps(line))
    return 0


if __name__ == "__main__":
    sys.exit(main())

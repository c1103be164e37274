"""Spans, worker-side batch spans, Spark event-log metrics and the
process-tree memory sampler.

Everything here measures the program from outside: spans wrap calls
into its public functions, the Arrow-batch span wraps the function
``make_infer_fn`` returns, and per-operator numbers come from the Spark
event log of the traced session (SQL metrics of every executed plan,
including the plan cached behind ``InMemoryTableScan``, and task
metrics).
"""

from __future__ import annotations

import contextlib
import functools
import gc
import glob
import itertools
import json
import os
import statistics
import threading
import time
from collections import defaultdict

SPAN_PROPERTY = "perfbench.span"


class Tracer:
    """Records driver-side spans (name, start, end, parent, run id) in
    memory.  While a span is open, every Spark job the driver submits
    carries its id as a local property, so the event log attributes the
    job's stages, tasks and SQL metrics to the innermost open span."""

    def __init__(self, sc=None, run_id: str = "", enabled: bool = False):
        self.sc = sc
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._ids = itertools.count(1)

    def current(self) -> int | None:
        return self._stack[-1] if self._stack else None

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        sid = next(self._ids)
        rec = {"run": self.run_id, "id": sid, "name": name,
               "parent": self.current(), "start": time.time()}
        self._stack.append(sid)
        self.sc.setLocalProperty(SPAN_PROPERTY, str(sid))
        try:
            yield
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            self.sc.setLocalProperty(
                SPAN_PROPERTY, str(self.current()) if self._stack else None)
            self.spans.append(rec)


# --------------------------------------------------------------------------
# worker side: one span per Arrow batch of the inference stage
# --------------------------------------------------------------------------

def _traced_infer(infer, broadcast_config, trace_dir, run_id, parent, batches):
    from pero_ocr_api_spark.operators.inference import _get_engine

    engine = _get_engine(broadcast_config.value)
    path = os.path.join(trace_dir, f"worker-{os.getpid()}.jsonl")
    for pdf in batches:
        start = time.time()
        calls = engine.plan_device_batches(list(pdf["media_ref"]))
        outs = list(infer(iter([pdf])))
        rec = {
            "run": run_id, "name": "inference.batch", "parent": parent,
            "start": start, "end": time.time(),
            "rows_in": len(pdf),
            "rows_out": sum(len(o) for o in outs),
            "decode_failures": sum(int(o["error"].notna().sum()) for o in outs),
            "device_calls": len(calls),
            "device_pages": sum(len(c) for c in calls),
            "batch_pages": engine.batch_pages,
            "device_ms": sum(engine._device_call_ms(c) for c in calls),
        }
        with open(path, "a") as f:
            f.write(json.dumps(rec) + "\n")
        yield from outs


def traced_make_infer_fn(make_infer_fn, tracer: Tracer, trace_dir: str):
    """A stand-in for ``make_infer_fn`` whose function writes one span
    per Arrow batch to ``trace_dir/worker-<pid>.jsonl``."""

    def make(broadcast_config, *accumulators):
        infer = make_infer_fn(broadcast_config, *accumulators)
        return functools.partial(
            _traced_infer, infer, broadcast_config, trace_dir,
            tracer.run_id, tracer.current())

    return make


def traced_call(fn, tracer: Tracer, name: str):
    @functools.wraps(fn)
    def call(*args, **kwargs):
        with tracer.span(name):
            return fn(*args, **kwargs)
    return call


def read_worker_spans(trace_dir: str) -> list[dict]:
    out = []
    for path in sorted(glob.glob(os.path.join(trace_dir, "worker-*.jsonl"))):
        with open(path) as f:
            out.extend(json.loads(line) for line in f)
    return out


def self_times(spans: list[dict]) -> dict[str, dict]:
    """Per span name: count, total seconds and self seconds, where self
    time is a span's duration minus the part of it its children cover."""
    children = defaultdict(list)
    for s in spans:
        if s.get("parent") is not None:
            children[s["parent"]].append((s["start"], s["end"]))
    out: dict[str, dict] = {}
    for s in spans:
        if "id" not in s:
            continue
        covered, cur_start, cur_end = 0.0, None, None
        for a, b in sorted(children.get(s["id"], [])):
            a, b = max(a, s["start"]), min(b, s["end"])
            if b <= a:
                continue
            if cur_end is None or a > cur_end:
                if cur_end is not None:
                    covered += cur_end - cur_start
                cur_start, cur_end = a, b
            else:
                cur_end = max(cur_end, b)
        if cur_end is not None:
            covered += cur_end - cur_start
        agg = out.setdefault(s["name"], {"count": 0, "total_s": 0.0, "self_s": 0.0})
        agg["count"] += 1
        agg["total_s"] += s["end"] - s["start"]
        agg["self_s"] += s["end"] - s["start"] - covered
    return out


# --------------------------------------------------------------------------
# Spark event log
# --------------------------------------------------------------------------

_TIME_SCALE = {"timing": 1e-3, "nsTiming": 1e-9}


class EventLog:
    """Parsed event log of one session.

    - ``nodes[accumulator id]`` = (node name, simple string, metric name,
      metric type, parent node name), from every plan the session
      executed, descending into cached relations;
    - ``accum[span][accumulator id]`` = the summed task and driver
      updates of that SQL metric made by jobs of that span;
    - ``tasks[span]`` = task records (stage, run ms, shuffle numbers,
      the SQL metrics the task updated);
    - ``jobs[span]`` = jobs submitted; ``executions[span]`` = SQL
      executions (root node name, seconds)."""

    def __init__(self, log_dir: str):
        self.nodes: dict[int, tuple] = {}
        self.accum: dict = defaultdict(lambda: defaultdict(float))
        self.tasks: dict = defaultdict(list)
        self.jobs: dict = defaultdict(int)
        self.executions: dict = defaultdict(list)
        stage_span: dict[int, str] = {}
        exec_span: dict[int, str] = {}
        exec_root: dict[int, str] = {}
        exec_start: dict[int, int] = {}
        exec_end: dict[int, int] = {}
        driver_updates = []
        files = sorted(
            p for p in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)
            if os.path.isfile(p)
            and not os.path.basename(p).startswith((".", "appstatus")))
        for path in files:
            with open(path) as f:
                for line in f:
                    e = json.loads(line)
                    kind = e["Event"].rsplit(".", 1)[-1]
                    if kind == "SparkListenerJobStart":
                        props = e.get("Properties") or {}
                        span = props.get(SPAN_PROPERTY)
                        for st in e.get("Stage IDs", []):
                            stage_span[st] = span
                        if span is not None:
                            self.jobs[span] += 1
                        if props.get("spark.sql.execution.id") is not None:
                            exec_span.setdefault(int(props["spark.sql.execution.id"]), span)
                    elif kind in ("SparkListenerSQLExecutionStart",
                                  "SparkListenerSQLAdaptiveExecutionUpdate"):
                        self._walk(e["sparkPlanInfo"], None)
                        if kind == "SparkListenerSQLExecutionStart":
                            exec_start[e["executionId"]] = e["time"]
                            exec_root[e["executionId"]] = _root_name(e["sparkPlanInfo"])
                    elif kind == "SparkListenerSQLAdaptiveSQLMetricUpdates":
                        for m in e["sqlPlanMetrics"]:
                            self.nodes.setdefault(
                                m["accumulatorId"], ("", "", m["name"], m["metricType"], ""))
                    elif kind == "SparkListenerSQLExecutionEnd":
                        exec_end[e["executionId"]] = e["time"]
                    elif kind == "SparkListenerDriverAccumUpdates":
                        driver_updates.append(e)
                    elif kind == "SparkListenerTaskEnd":
                        self._task(e, stage_span.get(e["Stage ID"]))
        for e in driver_updates:
            span = exec_span.get(e["executionId"])
            for acc_id, value in e["accumUpdates"]:
                self.accum[span][acc_id] += float(value)
        for ex, span in exec_span.items():
            if ex in exec_start and ex in exec_end:
                self.executions[span].append(
                    (exec_root.get(ex, ""), (exec_end[ex] - exec_start[ex]) / 1000.0))

    def _walk(self, node: dict, parent: str | None) -> None:
        for m in node.get("metrics", []):
            self.nodes[m["accumulatorId"]] = (
                node["nodeName"], node.get("simpleString", ""), m["name"],
                m["metricType"], parent or "")
        for child in node.get("children", []):
            self._walk(child, node["nodeName"])

    def _task(self, e: dict, span) -> None:
        if span is None:
            return
        info = e["Task Info"]
        tm = e.get("Task Metrics") or {}
        sw = tm.get("Shuffle Write Metrics", {})
        sr = tm.get("Shuffle Read Metrics", {})
        sql_ids = []
        for a in info.get("Accumulables", []):
            if a.get("Name", "").startswith("internal.metrics.") or "Update" not in a:
                continue
            try:
                self.accum[span][a["ID"]] += float(a["Update"])
            except (TypeError, ValueError):
                continue
            sql_ids.append(a["ID"])
        self.tasks[span].append({
            "stage": e["Stage ID"],
            "run_ms": tm.get("Executor Run Time", 0),
            "shuffle_bytes": sw.get("Shuffle Bytes Written", 0),
            "shuffle_write_ns": sw.get("Shuffle Write Time", 0),
            "shuffle_records": sw.get("Shuffle Records Written", 0),
            "fetch_wait_ms": sr.get("Fetch Wait Time", 0),
            "acc_ids": sql_ids,
        })

    # ---- queries over a set of spans ----
    def sql(self, spans, metric: str, pred=lambda node: True) -> float:
        """Sum of one SQL metric over the given spans, in seconds for
        timings and in bytes / rows otherwise."""
        total = 0.0
        for span in spans:
            for acc_id, value in self.accum.get(span, {}).items():
                node = self.nodes.get(acc_id)
                if node and node[2] == metric and pred(node):
                    total += value * _TIME_SCALE.get(node[3], 1.0)
        return total

    def task_sum(self, spans, key: str) -> float:
        return sum(t[key] for s in spans for t in self.tasks.get(s, []))

    def task_count(self, spans) -> int:
        return sum(len(self.tasks.get(s, [])) for s in spans)

    def job_count(self, spans) -> int:
        return sum(self.jobs.get(s, 0) for s in spans)

    def execution_s(self, spans, root_pred) -> float:
        return sum(sec for s in spans for root, sec in self.executions.get(s, [])
                   if root_pred(root))

    def stage_skew(self, spans, node_name: str) -> float:
        """Median over the stages that ran ``node_name`` of the max /
        median task run time of the stage."""
        by_stage = defaultdict(list)
        hit = set()
        for s in spans:
            for t in self.tasks.get(s, []):
                by_stage[t["stage"]].append(t["run_ms"])
                if any(self.nodes.get(a, ("",))[0] == node_name for a in t["acc_ids"]):
                    hit.add(t["stage"])
        skews = [max(by_stage[st]) / statistics.median(by_stage[st])
                 for st in hit if statistics.median(by_stage[st]) > 0]
        return statistics.median(skews) if skews else 0.0


def _root_name(plan: dict) -> str:
    """First node below the adaptive wrapper, e.g. ``Execute
    InsertIntoHadoopFsRelationCommand`` for a file write."""
    while plan["nodeName"] == "AdaptiveSparkPlan" and plan.get("children"):
        plan = plan["children"][0]
    return plan["nodeName"]


# --------------------------------------------------------------------------
# RSS of the process tree (driver JVM, Python driver and workers)
# --------------------------------------------------------------------------

def tree_rss_bytes(root_pid: int, include_root: bool = True) -> int:
    children = defaultdict(list)
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat) as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        children[int(fields[1])].append(int(stat.split("/")[2]))
    page = os.sysconf("SC_PAGE_SIZE")
    total, todo = 0, [root_pid]
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, []))
        if pid == root_pid and not include_root:
            continue
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * page
        except OSError:
            continue
    return total


class PeakRSS:
    """Samples the RSS of this process and all its descendants every
    ``interval`` seconds on a background thread, until ``stop()``."""

    def __init__(self, interval: float = 0.1):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def start(self) -> "PeakRSS":
        self._thread.start()
        return self

    def _run(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(pid))
            self._stop.wait(self.interval)

    def stop(self) -> float:
        """Stops sampling; returns the peak in MiB."""
        self._stop.set()
        self._thread.join()
        return self.peak / 2**20


def held_memory(jvm, root_pid: int, timeout: float = 5.0) -> tuple[float, float]:
    """Memory the program's processes hold once the measured work is
    done, and the driver JVM's heap in use; both in MiB.

    The processes are those under ``root_pid`` (the driver JVM and the
    Python workers it started), not ``root_pid`` itself: the process
    that runs the benchmark holds the DuckDB oracles and the check's
    data besides the program's driver side, and its allocator keeps a
    varying amount of that.  The JVM collects in full until its heap in
    use stops falling (Spark's ContextCleaner frees unreachable
    broadcasts, shuffles and cached blocks on its own thread after a
    collection finds them) and then uncommits free regions in the
    background, so the RSS is sampled until it has not fallen for three
    samples in a row.  The part of the heap that stays committed but
    free is not counted: after a full collection G1 keeps the committed
    heap at about 3.3 times the live heap, so counting it would multiply
    the run-to-run wobble of the live heap by as much."""
    mx = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    end = time.monotonic() + timeout
    gc.collect()  # drops the Python driver's handles on JVM objects
    jvm.System.gc()
    used = mx.getHeapMemoryUsage().getUsed()
    while time.monotonic() < end:
        time.sleep(0.5)
        jvm.System.gc()
        before, used = used, mx.getHeapMemoryUsage().getUsed()
        if used > before - 2**20:
            break
    low, steady = tree_rss_bytes(root_pid, False), 0
    while steady < 3 and time.monotonic() < end:
        time.sleep(0.1)
        rss = tree_rss_bytes(root_pid, False)
        steady = steady + 1 if rss >= low else 0
        low = min(low, rss)
    heap = mx.getHeapMemoryUsage()
    return (low - heap.getCommitted() + heap.getUsed()) / 2**20, heap.getUsed() / 2**20

"""Traced mode: spans around the program's public functions, taken from
inside the benchmark process by patching module attributes (no edit to
the package), plus py4j round-trip counts and Spark stage metrics read
back from a local, uncompressed event log.

Every span records its name, start, end, parent span and the timed op
(pass, query or sweep) it belongs to. Inside a span the Spark local
properties ``perfbench.span`` / ``perfbench.op`` are set on the calling
thread, so each job's stages in the event log map back to the span that
started them. Spans stay in memory and are written when the run ends.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import json
import os
import threading
import time
from collections import defaultdict
from concurrent.futures import ThreadPoolExecutor

SPAN_PROP, OP_PROP = "perfbench.span", "perfbench.op"

# event-log accumulables summed per stage → metric name
_STAGE_ACC = {
    "internal.metrics.executorRunTime": "executor_run_ms",
    "internal.metrics.executorCpuTime": "executor_cpu_ns",
    "internal.metrics.input.bytesRead": "input_bytes",
    "internal.metrics.shuffle.read.remoteBytesRead": "shuffle_read_bytes",
    "internal.metrics.shuffle.read.localBytesRead": "shuffle_read_bytes",
    "internal.metrics.shuffle.write.bytesWritten": "shuffle_write_bytes",
    "internal.metrics.output.bytesWritten": "output_bytes",
    "internal.metrics.memoryBytesSpilled": "spill_bytes",
    "internal.metrics.diskBytesSpilled": "spill_bytes",
}


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self.op = "setup"
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._restore: list[tuple[object, str, object]] = []
        self.py4j = defaultdict(lambda: [0, 0.0])  # (op, span id) → [calls, seconds]

    # ------------------------------------------------------------ spans

    def current(self):
        stack = getattr(self._local, "stack", None)
        return stack[-1] if stack else None

    def _set_props(self, span_id, op) -> None:
        self._local.internal = True
        try:
            self.sc.setLocalProperty(SPAN_PROP, None if span_id is None else str(span_id))
            self.sc.setLocalProperty(OP_PROP, op)
        finally:
            self._local.internal = False

    def _record(self, **span) -> None:
        with self._lock:
            self.spans.append(span)

    @contextlib.contextmanager
    def span(self, name: str):
        sid = next(self._ids)
        parent = self.current()
        stack = self._local.__dict__.setdefault("stack", [])
        stack.append(sid)
        op = self.op
        self._set_props(sid, op)
        start = time.perf_counter()
        try:
            yield sid
        finally:
            end = time.perf_counter()
            stack.pop()
            self._set_props(self.current(), op)
            self._record(id=sid, parent=parent, name=name, op=op, start=start, end=end,
                         thread=threading.get_ident())

    def wrap(self, owner, attr: str, name: str) -> None:
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            with self.span(name):
                return orig(*args, **kwargs)

        setattr(owner, attr, traced)
        self._restore.append((owner, attr, orig))

    # ---------------------------------------------------------- patches

    def install(self) -> None:
        """Patch the layer boundaries named in the benchmark doc."""
        from aws_big_data_blog_dmscdc_walkthrough_spark.operators import cdc
        from aws_big_data_blog_dmscdc_walkthrough_spark.pipeline import controller
        from aws_big_data_blog_dmscdc_walkthrough_spark.sources import (
            catalog, lake_writer, landing, manifest,
        )
        from aws_big_data_blog_dmscdc_walkthrough_spark.state import store

        for owner, attr, name in (
            (landing, "discover_tables", "landing.discover"),
            (landing, "read_initial", "landing.read_build"),
            (landing, "read_incremental", "landing.read_build"),
            (store.JsonStateStore, "put", "store.put"),
            (controller, "process_table", "controller.table"),
            (controller, "prepare_dms_batch", "controller.sequence_build"),
            (cdc, "apply_changes", "cdc.apply_changes_build"),
            (lake_writer, "merge_incremental", "lake_writer.merge"),
            (lake_writer, "write_initial", "lake_writer.write_initial"),
            (manifest, "commit_manifest", "manifest.commit"),
            (manifest, "stats_for_commit", "manifest.stats"),
            (manifest, "read_manifest", "manifest.read"),
            (catalog, "register_table", "catalog.register"),
        ):
            self.wrap(owner, attr, name)
        self._patch_pool(controller)
        self._patch_py4j()

    def _patch_pool(self, controller) -> None:
        """Pool threads inherit the submitting span as parent; the time
        from submit to start is recorded as a ``controller.queue_wait``
        span."""
        tracer = self

        class TracedPool(ThreadPoolExecutor):
            def submit(self, fn, /, *args, **kwargs):
                parent, op, submitted = tracer.current(), tracer.op, time.perf_counter()

                def run():
                    started = time.perf_counter()
                    tracer._record(id=next(tracer._ids), parent=parent,
                                   name="controller.queue_wait", op=op, start=submitted,
                                   end=started, thread=threading.get_ident())
                    tracer._local.stack = [parent] if parent is not None else []
                    try:
                        return fn(*args, **kwargs)
                    finally:
                        tracer._local.stack = []

                return super().submit(run)

        self._restore.append((controller, "ThreadPoolExecutor", controller.ThreadPoolExecutor))
        controller.ThreadPoolExecutor = TracedPool

    def _patch_py4j(self) -> None:
        """Count py4j round-trips (and their wall time) per span."""
        # the pinned-thread JavaClient inherits send_command from here
        from py4j.java_gateway import GatewayClient

        tracer = self
        orig = GatewayClient.send_command

        @functools.wraps(orig)
        def counted(client, *args, **kwargs):
            if getattr(tracer._local, "internal", False):
                return orig(client, *args, **kwargs)
            t0 = time.perf_counter()
            try:
                return orig(client, *args, **kwargs)
            finally:
                dt = time.perf_counter() - t0
                with tracer._lock:
                    cell = tracer.py4j[(tracer.op, tracer.current())]
                    cell[0] += 1
                    cell[1] += dt

        GatewayClient.send_command = counted
        self._restore.append((GatewayClient, "send_command", orig))

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._restore):
            setattr(owner, attr, orig)
        self._restore.clear()


# ---------------------------------------------------------------- analysis


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span duration minus the part of its interval its children cover."""
    children = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            children[s["parent"]].append(s)
    out = {}
    for s in spans:
        ivs = sorted(
            (max(c["start"], s["start"]), min(c["end"], s["end"])) for c in children[s["id"]]
        )
        covered, cur_s, cur_e = 0.0, None, None
        for a, b in ivs:
            if b <= a:
                continue
            if cur_e is None or a > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = a, b
            else:
                cur_e = max(cur_e, b)
        if cur_e is not None:
            covered += cur_e - cur_s
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out


def read_event_log(path: str) -> list[dict]:
    """Per-stage metrics from one uncompressed event-log file, each stage
    tagged with the span and op whose thread submitted it."""
    stages = {}
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerStageSubmitted":
                info, props = ev["Stage Info"], ev.get("Properties") or {}
                stages[(info["Stage ID"], info["Stage Attempt ID"])] = {
                    "span": int(props[SPAN_PROP]) if props.get(SPAN_PROP) else None,
                    "op": props.get(OP_PROP),
                }
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                st = stages.setdefault((info["Stage ID"], info["Stage Attempt ID"]),
                                       {"span": None, "op": None})
                st["tasks"] = info["Number of Tasks"]
                st["wall_ms"] = info.get("Completion Time", 0) - info.get("Submission Time", 0)
                for acc in info.get("Accumulables", []):
                    key = _STAGE_ACC.get(acc.get("Name"))
                    if key:
                        st[key] = st.get(key, 0) + int(acc["Value"])
            elif kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                stages[("job", ev["Job ID"])] = {
                    "job": True,
                    "span": int(props[SPAN_PROP]) if props.get(SPAN_PROP) else None,
                    "op": props.get(OP_PROP),
                }
    return list(stages.values())


def event_log_file(log_dir: str) -> str | None:
    files = [os.path.join(log_dir, f) for f in os.listdir(log_dir)] if os.path.isdir(log_dir) else []
    files = [f for f in files if not f.endswith(".inprogress")]
    return max(files, key=os.path.getmtime) if files else None


# ------------------------------------------------------ per-layer metrics

# per-layer time metric → span name; each is the span wall time summed
# over the timed ops, per timed cycle (a pass + readers, or a sweep)
SPAN_TIMES = {
    "landing.discover_s": "landing.discover",
    "landing.read_build_s": "landing.read_build",
    "store.put_s": "store.put",
    "controller.table_s": "controller.table",
    "controller.queue_wait_s": "controller.queue_wait",
    "controller.sequence_build_s": "controller.sequence_build",
    "cdc.apply_changes_build_s": "cdc.apply_changes_build",
    "lake_writer.merge_s": "lake_writer.merge",
    "manifest.commit_s": "manifest.commit",
    "manifest.stats_s": "manifest.stats",
    "manifest.read_s": "manifest.read",
    "catalog.register_s": "catalog.register",
    "plans.build_s": "plans.build",
    "plans.exec_s": "plans.exec",
}
SPARK_SUMS = {
    "spark.executor_run_s": ("executor_run_ms", 1e-3),
    "spark.executor_cpu_s": ("executor_cpu_ns", 1e-9),
    "spark.input_bytes": ("input_bytes", 1),
    "spark.shuffle_read_bytes": ("shuffle_read_bytes", 1),
    "spark.shuffle_write_bytes": ("shuffle_write_bytes", 1),
    "spark.output_bytes": ("output_bytes", 1),
    "spark.spill_bytes": ("spill_bytes", 1),
}


def _timed(op) -> bool:
    return bool(op) and op.startswith("op")


def layer_report(tracer: Tracer, stages: list[dict], cycles: int, cycle_wall_s: float,
                 cpus: int, setup_ops: int) -> tuple[dict, dict]:
    """(per-layer metrics, trace document) for one traced run."""
    spans = tracer.spans
    by_id = {s["id"]: s for s in spans}
    selfs = self_times(spans)
    timed = [s for s in spans if _timed(s["op"])]
    per = max(cycles, 1)

    def total(name, pool=timed):
        return sum(s["end"] - s["start"] for s in pool if s["name"] == name)

    def ancestors(span_id):
        while span_id is not None and span_id in by_id:
            yield by_id[span_id]["name"]
            span_id = by_id[span_id]["parent"]

    metrics = {m: total(name) / per for m, name in SPAN_TIMES.items()}
    metrics["store.put_calls"] = sum(s["name"] == "store.put" for s in timed) / per
    setup = [s for s in spans if (s["op"] or "").startswith("setup")]
    metrics["lake_writer.write_initial_s"] = total("lake_writer.write_initial", setup) / max(setup_ops, 1)

    stage_rows = [st for st in stages if not st.get("job") and _timed(st["op"])]
    jobs = [st for st in stages if st.get("job") and _timed(st["op"])]
    metrics["spark.jobs"] = len(jobs) / per
    metrics["spark.tasks"] = sum(st.get("tasks", 0) for st in stage_rows) / per
    for m, (key, scale) in SPARK_SUMS.items():
        metrics[m] = sum(st.get(key, 0) for st in stage_rows) * scale / per
    metrics["spark.slot_util"] = (
        sum(st.get("executor_run_ms", 0) for st in stage_rows) / 1e3 / (cycle_wall_s * cpus)
        if cycle_wall_s else 0.0
    )
    metrics["cdc.merge_shuffle_bytes"] = sum(
        st.get("shuffle_read_bytes", 0) + st.get("shuffle_write_bytes", 0)
        for st in stage_rows if "lake_writer.merge" in ancestors(st["span"])
    ) / per
    calls = [(c, t) for (op, _), (c, t) in tracer.py4j.items() if _timed(op)]
    metrics["py4j.calls"] = sum(c for c, _ in calls) / per
    metrics["py4j.s"] = sum(t for _, t in calls) / per

    # self time and Spark work per layer, for the trace file
    self_by_layer: dict[str, float] = defaultdict(float)
    for s in timed:
        self_by_layer[s["name"]] += selfs[s["id"]] / per
    stages_by_layer: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    for st in stage_rows:
        name = by_id[st["span"]]["name"] if st["span"] in by_id else "(untraced)"
        agg = stages_by_layer[name]
        agg["stages"] += 1
        for k, v in st.items():
            if isinstance(v, (int, float)) and k not in ("span",):
                agg[k] += v
    py4j_by_layer: dict[str, list] = defaultdict(lambda: [0, 0.0])
    for (op, sid), (c, t) in tracer.py4j.items():
        if _timed(op):
            name = by_id[sid]["name"] if sid in by_id else "(no span)"
            py4j_by_layer[name][0] += c
            py4j_by_layer[name][1] += t
    t0 = min((s["start"] for s in spans), default=0.0)
    doc = {
        "per_cycle_divisor": per,
        "self_s_per_cycle": dict(self_by_layer),
        "stages_by_span": {k: dict(v) for k, v in stages_by_layer.items()},
        "py4j_by_span": {k: {"calls": c, "s": t} for k, (c, t) in py4j_by_layer.items()},
        "spans": [
            {**s, "start": s["start"] - t0, "end": s["end"] - t0, "self_s": selfs[s["id"]]}
            for s in spans
        ],
        "stages": [st for st in stages if st["op"] is not None],
    }
    return metrics, doc


# name → unit of every per-layer metric, in report order
PER_LAYER = {
    "session.start_s": "s",
    "landing.discover_s": "s",
    "landing.read_build_s": "s",
    "store.put_s": "s",
    "store.put_calls": "count",
    "controller.table_s": "s",
    "controller.queue_wait_s": "s",
    "controller.sequence_build_s": "s",
    "controller.change_rows_per_s": "1/s",
    "cdc.apply_changes_build_s": "s",
    "cdc.merge_shuffle_bytes": "bytes",
    "lake_writer.merge_s": "s",
    "lake_writer.write_initial_s": "s",
    "lake_writer.files_added": "count",
    "lake_writer.files_removed": "count",
    "lake_writer.write_amp": "ratio",
    "lake.files": "count",
    "manifest.commit_s": "s",
    "manifest.stats_s": "s",
    "manifest.read_s": "s",
    "catalog.register_s": "s",
    "plans.build_s": "s",
    "plans.plan_s": "s",
    "plans.exec_s": "s",
    "spark.jobs": "count",
    "spark.tasks": "count",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.input_bytes": "bytes",
    "spark.shuffle_read_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes",
    "spark.output_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.slot_util": "ratio",
    "py4j.calls": "count",
    "py4j.s": "s",
    "jvm.jit_cpu_s": "s",
}

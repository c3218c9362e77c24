#!/usr/bin/env python3
"""Product-path benchmark: timed controller passes over seeded DMS
landings, a query mix, and (with ``--trace 1``) a per-layer breakdown.

    python3 perfbench/run.py --workload cdc_bulk --seed 1 --seconds 12 --trace 0

Runs from the repository root. Prints every metric by name with its
unit, then, as the last line of stdout, one JSON object
``{"correct", "attempted", "failed", "metrics"}``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
Everything the run writes goes under ``.perfbench/`` in the repository
root. See perfbench/README.md for the workloads and metrics.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
from contextlib import nullcontext  # noqa: E402

import numpy as np  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
sys.path[:0] = [HERE, ROOT]

import check  # noqa: E402
import gen  # noqa: E402
import tracing  # noqa: E402

WORKLOADS = ("cdc_bulk", "cdc_many_tables", "query_mix")
MAX_PARALLEL_TABLES = 4
SETUP_REPEATS = 3
# untimed warm-up ops after set-up: the first pass or sweep is cold, and
# the second and third are still some 10% and 5% slower than later ones
# (JIT)
WARMUP_OPS = 3
# sf0.1 registry queries with DuckDB oracle SQL: five gated small-input
# twins and two of the knn trio
QUERY_MIX = (
    "q_part_neighbors q_basket_affinity q_events_peak_concurrency emb_covariance "
    "dedup_substring emb_knn_propagate_all emb_knn_label_propagation"
).split()
# bounded end-to-end metrics: CPU seconds (see CpuClock) of set-up and,
# as a mean, of one op, and peak memory
E2E = {"setup_s": "s", "pass_cpu_s": "s", "sweep_cpu_s": "s", "peak_rss_mb": "MB"}
# printed and recorded, not bounded: wall-clock times (on a shared VM
# they follow the hypervisor's steal) and the readers' CPU (a few samples
# per run, each one GC or code generation away from double; the readers
# are inside sweep_cpu_s). See README.
INFO = {"setup_wall_s": "s", "pass_p50_s": "s", "pass_tail_s": "s", "sweep_p50_s": "s",
        "lake_read_p50_s": "s", "lake_read_cpu_s": "s"}


def log(msg: str) -> None:
    print(f"[perfbench {time.perf_counter() - T_START:7.1f}s] {msg}", file=sys.stderr, flush=True)


# ------------------------------------------------------------ environment


def prepare_env(trace: bool) -> dict:
    """Keep every file Spark writes inside .perfbench/ and size the
    session: local[<cores>], a fixed 2 GiB driver heap, touched at start
    (initial = max and pre-touched, so the JVM's resident size follows
    neither heap resizing nor how far G1's timing-driven young sizing
    reaches into the heap)."""
    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(WORK, "tmp")
    for d in (tmp, os.path.join(WORK, "spark-local")):
        os.makedirs(d, exist_ok=True)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_GRAFT_DRIVER_MEM="2g",
        SPARK_GRAFT_WAREHOUSE=os.path.join(WORK, "warehouse"),
        SPARK_LOCAL_DIRS=os.path.join(WORK, "spark-local"),
        TMPDIR=tmp,
        # Python workers import the package from the repository root
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
    )
    tempfile.tempdir = tmp
    conf = {
        "spark.driver.extraJavaOptions":
            f"-Xms2g -XX:+AlwaysPreTouch -XX:-UseDynamicNumberOfCompilerThreads -Djava.io.tmpdir={tmp}",
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        evdir = os.path.join(WORK, "eventlog")
        shutil.rmtree(evdir, ignore_errors=True)
        os.makedirs(evdir)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + evdir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return {"cpus": cpus, "conf": conf}


def start_spark(conf: dict):
    from aws_big_data_blog_dmscdc_walkthrough_spark.session import get_spark

    spark = get_spark("perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def vm_hwm_mb(pid) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def jvm_proc():
    from pyspark import SparkContext

    return getattr(SparkContext._gateway, "proc", None)


def stop_spark(spark) -> None:
    """Stop the session and the JVM, and wait until the JVM has exited."""
    from pyspark import SparkContext

    gateway, proc = SparkContext._gateway, jvm_proc()
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on EOF of its stdin
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


# -------------------------------------------------------------- statistics


def tail(samples: list[float]) -> tuple[float, float, int]:
    """(value, percentile, samples beyond): the highest percentile with at
    least ten samples beyond it, but never below the 90th. A run has tens
    of samples, not hundreds, so it is usually the 90th, interpolated,
    with fewer than ten beyond; the percentile is fixed so that the value
    does not jump between query kinds as the sample count varies."""
    n = len(samples)
    pct = max(90.0, 100.0 * (n - 10) / n)
    value = float(np.percentile(samples, pct))
    return value, pct, sum(x > value for x in samples)


def dir_snapshot(root: str) -> dict[str, tuple[int, int]]:
    snap = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            st = os.stat(p)
            snap[p] = (st.st_size, st.st_mtime_ns)
    return snap


CLK_TCK = os.sysconf("SC_CLK_TCK")


def tree_cpu_s() -> float:
    """CPU seconds (user + system) used so far by this process and every
    process below it: the Spark JVM and the Python workers it forks.
    Reaped children count through their parent's cutime/cstime."""
    ppid, ticks = {}, {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                data = fh.read()
        except OSError:  # exited while listing
            continue
        f = data[data.rindex(")") + 2:].split()
        pid = int(name)
        ppid[pid] = int(f[1])
        ticks[pid] = int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
    children: dict[int, list[int]] = {}
    for pid, parent in ppid.items():
        children.setdefault(parent, []).append(pid)
    total, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        total += ticks.get(pid, 0)
        todo.extend(children.get(pid, ()))
    return total / CLK_TCK


class CpuClock:
    """CPU seconds of the process tree less the JVM's JIT compiler
    threads. Compilation runs in the background, long after warm-up
    (Spark keeps generating classes), and its share of a pass swings by
    several CPU seconds from one pass to the next; what remains is the
    work the pass itself causes. The compiler threads are fixed for the
    JVM's life (-XX:-UseDynamicNumberOfCompilerThreads), so they are
    listed once."""

    def __init__(self, jvm_pid: int | None):
        self.jit: list[str] = []
        if jvm_pid is None:
            return
        tasks = f"/proc/{jvm_pid}/task"
        for tid in os.listdir(tasks):
            with open(f"{tasks}/{tid}/comm") as fh:
                if fh.read().startswith(("C1 CompilerThre", "C2 CompilerThre")):
                    self.jit.append(f"{tasks}/{tid}/schedstat")

    def jit_s(self) -> float:
        ns = 0
        for path in self.jit:
            with open(path) as fh:
                ns += int(fh.read().split()[0])
        return ns / 1e9

    def __call__(self) -> float:
        return tree_cpu_s() - self.jit_s()


def is_data_file(root: str, path: str) -> bool:
    rel = os.path.relpath(path, root).split(os.sep)
    return rel[-1].endswith(".parquet") and not any(p[:1] in "_." for p in rel)


# ------------------------------------------------------------ the op loop


class Run:
    """One closed-loop run: set-up, untimed warm-up, timed window, check."""

    def __init__(self, spark, args, tracer):
        self.spark, self.args, self.tracer = spark, args, tracer
        self.rng = np.random.default_rng([args.seed, 3])
        jvm = jvm_proc()
        self.cpu = CpuClock(jvm.pid if jvm else None)
        self.pass_s: list[float] = []  # one sample per timed op
        self.cycle_s: list[float] = []  # one per pass + readers, or sweep
        self.read_s: list[float] = []
        # the same ops in CPU seconds of the process tree
        self.pass_cpu: list[float] = []
        self.cycle_cpu: list[float] = []
        self.read_cpu: list[float] = []
        self.attempted = self.failed = 0
        self.setup_s: list[float] = []
        self.setup_cpu: list[float] = []
        self.warmup_s: list[float] = []
        self.extra: dict = {}

    def span(self, name: str):
        return self.tracer.span(name) if self.tracer else nullcontext()

    def set_op(self, op: str) -> None:
        if self.tracer:
            self.tracer.op = op

    def readers(self, timed: bool) -> None:
        """Every reader set by catalog name, collected; one latency sample
        per set."""
        for queries in self.reader_sets():
            c0 = self.cpu()
            t0 = time.perf_counter()
            ok = True
            for sql in queries:
                try:
                    with self.span("reader.query"):
                        self.spark.sql(sql).collect()
                except Exception as exc:  # a failed read is a failed op, not a crash
                    ok = False
                    log(f"reader failed: {sql}: {exc}")
            if timed:
                self.attempted += 1
                self.failed += not ok
                self.read_s.append(time.perf_counter() - t0)
                self.read_cpu.append(self.cpu() - c0)

    def window(self) -> None:
        """Untimed warm-up, then timed cycles until ``--seconds`` pass."""
        for i in range(WARMUP_OPS):
            self.set_op(f"warmup{i}")
            t0 = time.perf_counter()
            self.cycle(timed=False)
            self.warmup_s.append(time.perf_counter() - t0)
        start = time.perf_counter()
        jit0 = self.cpu.jit_s()
        n = 0
        while time.perf_counter() - start < self.args.seconds:
            self.set_op(f"op{n}")
            if not self.cycle(timed=True):
                log("input exhausted before the window ended")
                break
            n += 1
        self.window_jit_s = self.cpu.jit_s() - jit0
        self.set_op("check")


class CdcRun(Run):
    def __init__(self, spark, args, tracer, inputs: str):
        super().__init__(spark, args, tracer)
        from aws_big_data_blog_dmscdc_walkthrough_spark.pipeline import controller
        from aws_big_data_blog_dmscdc_walkthrough_spark.state.store import JsonStateStore

        self.controller, self.Store = controller, JsonStateStore
        self.landing = gen.Landing(inputs, os.path.join(WORK, "landing"))
        self.lake = os.path.join(WORK, "lake")
        self.state_file = os.path.join(WORK, "state.json")
        self.tables = self._tables()
        self.change_rows = self.change_bytes = self.lake_bytes = 0
        self.files_added = self.files_removed = 0

    def _tables(self) -> list[dict]:
        bulk = self.args.workload == "cdc_bulk"
        if bulk:
            out = [dict(schema=gen.BULK_SCHEMA, table=gen.BULK_TABLE, pk=list(gen.BULK_PK),
                        part="", extra={}, measure="l_extendedprice")]
        else:
            out = [
                dict(schema=sch, table=tbl,
                     pk=[] if mode == "keyless" else ["o_orderkey"],
                     part="o_orderpriority" if mode == "part" else "",
                     extra={"use_manifest": True, "stats_cols": "o_orderdate,o_totalprice"}
                     if mode == "manifest" else {},
                     measure="o_totalprice")
                for mode, sch, tbl in gen.many_tables()
            ]
        for t in out:
            t["rel"] = os.path.join(t["schema"], t["table"])
            load, _ = self.landing.files(t["rel"])
            t["columns"] = pq.read_schema(load[0]).names
            t["lookup_keys"] = pq.read_table(
                load[0], columns=list(gen.BULK_PK) if bulk else ["o_orderkey"])
        return out

    @staticmethod
    def qualified(t) -> str:
        return f"`{t['schema']}`.`{t['table']}`"

    def run_once(self):
        return self.controller.run_once(
            self.spark, self.landing.root, self.lake, self.store,
            max_parallel_tables=MAX_PARALLEL_TABLES,
        )

    def setup(self) -> None:
        """From an empty lake: the registration pass (tables land
        inactive), keys and options set as an operator would, then the
        initial full-load pass."""
        shutil.rmtree(self.lake, ignore_errors=True)
        if os.path.exists(self.state_file):
            os.unlink(self.state_file)
        for sch in sorted({t["schema"] for t in self.tables}):
            self.spark.sql(f"DROP DATABASE IF EXISTS `{sch}` CASCADE")
        c0 = self.cpu()
        t0 = time.perf_counter()
        self.store = self.Store(self.state_file)
        self.run_once()
        states = {(s.schema, s.table): s for s in self.store.all()}
        for t in self.tables:
            st = states[(t["schema"], t["table"])]
            st.primary_key = ",".join(t["pk"])
            st.partition_key = t["part"]
            st.extra = dict(t["extra"])
            st.active = True
            self.store.put(st)
        report = self.run_once()
        self.setup_s.append(time.perf_counter() - t0)
        self.setup_cpu.append(self.cpu() - c0)
        bad = [r for r in report.tables if r.error or not r.did_initial]
        if bad:
            raise RuntimeError(f"initial load failed: {bad}")

    def reader_sets(self) -> list[list[str]]:
        """One set per table: a full-table aggregate and a point lookup of
        a seeded key from the full load."""
        out = []
        for t in self.tables:
            q = self.qualified(t)
            keys = t["lookup_keys"]
            row = keys.slice(int(self.rng.integers(keys.num_rows)), 1).to_pylist()[0]
            where = " AND ".join(f"{k} = {v}" for k, v in row.items())
            out.append([f"SELECT count(*), sum({t['measure']}) FROM {q}",
                        f"SELECT * FROM {q} WHERE {where}"])
        return out

    def cycle(self, timed: bool) -> bool:
        if self.landing.remaining() == 0:
            return False
        landed = self.landing.reveal()
        before = dir_snapshot(self.lake)
        c0 = self.cpu()
        t0 = time.perf_counter()
        with self.span("op.cycle"):
            with self.span("op.pass"):
                report = self.run_once()
            t1 = time.perf_counter()
            c1 = self.cpu()
            self.readers(timed)
        t2 = time.perf_counter()
        c2 = self.cpu()
        errors = [r.error for r in report.tables if r.error]
        missed = [r.path for r in report.tables if not r.error and r.incremental_files != 1]
        if errors or missed:
            log(f"pass failed: errors={errors} unconsumed={missed}")
        if not timed:
            return True
        self.attempted += 1
        self.failed += bool(errors or missed)
        self.pass_s.append(t1 - t0)
        self.cycle_s.append(t2 - t0)
        self.pass_cpu.append(c1 - c0)
        self.cycle_cpu.append(c2 - c0)
        self.change_rows += sum(pq.read_metadata(p).num_rows for p in landed)
        self.change_bytes += sum(os.path.getsize(p) for p in landed)
        after = dir_snapshot(self.lake)
        added = [p for p, v in after.items() if before.get(p) != v]
        self.lake_bytes += sum(after[p][0] for p in added)
        self.files_added += sum(is_data_file(self.lake, p) for p in added if p not in before)
        self.files_removed += sum(is_data_file(self.lake, p) for p in before if p not in after)
        return True

    def check(self) -> None:
        """Every table's lake state against the DuckDB recomputation."""
        for t in self.tables:
            self.attempted += 1
            load, cdc_files = self.landing.files(t["rel"])
            want = check.expected_state(load, cdc_files, t["columns"], t["pk"])
            got = self.spark.table(self.qualified(t)).select(*t["columns"]).toArrow()
            if not check.lake_matches(got, want, t["columns"]):
                self.failed += 1
                log(f"lake check failed: {t['rel']} ({got.num_rows} rows, expected {want.num_rows})")
        n = len(self.pass_s)
        self.extra = {
            "change_rows_per_s": self.change_rows / sum(self.pass_s),
            "write_amp": self.lake_bytes / self.change_bytes,
            "files_added": self.files_added / n,
            "files_removed": self.files_removed / n,
            "lake_files": sum(is_data_file(self.lake, p) for p in dir_snapshot(self.lake)),
        }


class QueryRun(Run):
    def __init__(self, spark, args, tracer, sf_dir: str):
        super().__init__(spark, args, tracer)
        import __spark_entry__ as entry

        self.sf_dir = sf_dir
        registry = {**entry.queries(), **entry.secondary_queries()}
        self.oracles = {**entry.oracle_sql(), **entry.secondary_oracle_sql()}
        self.queries = {q: registry[q] for q in QUERY_MIX}
        self.results: dict = {}
        self.layers: list[dict] = []
        # the reader table: a copy of the source lineitem in a folder of its
        # own, registered by catalog name like a lake table
        self.reader_path = os.path.join(WORK, "src", "lineitem")
        data = os.path.join(self.reader_path, "part-0.parquet")
        if not os.path.exists(data):
            os.makedirs(self.reader_path, exist_ok=True)
            staged = os.path.join(self.reader_path, "_part-0.parquet.tmp")
            shutil.copy(os.path.join(sf_dir, "lineitem.parquet"), staged)
            os.replace(staged, data)
        self.lookup_keys = pq.read_table(data, columns=["l_orderkey"])["l_orderkey"].to_numpy()

    def setup(self) -> None:
        """Register the reader table by catalog name."""
        from aws_big_data_blog_dmscdc_walkthrough_spark.sources import catalog

        self.spark.sql("DROP DATABASE IF EXISTS src CASCADE")
        c0 = self.cpu()
        t0 = time.perf_counter()
        catalog.register_table(self.spark, self.reader_path, "src", "lineitem")
        self.setup_s.append(time.perf_counter() - t0)
        self.setup_cpu.append(self.cpu() - c0)

    def reader_sets(self) -> list[list[str]]:
        key = int(self.lookup_keys[int(self.rng.integers(len(self.lookup_keys)))])
        return [["SELECT count(*), sum(l_extendedprice) FROM src.lineitem",
                 f"SELECT * FROM src.lineitem WHERE l_orderkey = {key}"]]

    def query(self, name: str, timed: bool) -> None:
        fn = self.queries[name]
        ok = True
        c0 = self.cpu()
        t0 = time.perf_counter()
        try:
            if self.tracer:
                self._traced_query(name, fn)
            else:
                fn(self.spark, self.sf_dir).write.format("noop").mode("overwrite").save()
        except Exception as exc:  # a failed query is a failed op, not a crash
            ok = False
            log(f"query {name} failed: {exc}")
        self.spark.catalog.clearCache()
        if timed:
            self.attempted += 1
            self.failed += not ok
            self.pass_s.append(time.perf_counter() - t0)
            self.pass_cpu.append(self.cpu() - c0)

    def _traced_query(self, name, fn) -> None:
        """Build, plan and execute as three spans; the planning phases
        come from the Catalyst QueryPlanningTracker."""
        with self.span("op.query"):
            t0 = time.perf_counter()
            with self.span("plans.build"):
                df = fn(self.spark, self.sf_dir)
            t1 = time.perf_counter()
            with self.span("plans.plan"):
                qe = df._jdf.queryExecution()
                qe.executedPlan()
                it = qe.tracker().phases().values().iterator()
                plan_ms = 0
                while it.hasNext():
                    plan_ms += it.next().durationMs()
            t2 = time.perf_counter()
            with self.span("plans.exec"):
                df.write.format("noop").mode("overwrite").save()
            t3 = time.perf_counter()
        self.layers.append({"op": self.tracer.op, "query": name, "build_s": t1 - t0,
                            "plan_s": plan_ms / 1000.0, "plan_wall_s": t2 - t1, "exec_s": t3 - t2})

    def cycle(self, timed: bool) -> bool:
        """One sweep of the mix in a seeded order, then the reader set.
        The first warm-up sweep collects every result for the check."""
        c0 = self.cpu()
        t0 = time.perf_counter()
        collect = not self.results
        with self.span("op.cycle"):
            for name in self.rng.permutation(QUERY_MIX):
                if collect:
                    self.collect(str(name))
                else:
                    self.query(str(name), timed)
            self.readers(timed)
        if timed:
            self.cycle_s.append(time.perf_counter() - t0)
            self.cycle_cpu.append(self.cpu() - c0)
        return True

    def collect(self, name: str) -> None:
        try:
            self.results[name] = self.queries[name](self.spark, self.sf_dir).toPandas()
        except Exception as exc:  # reported by check()
            self.results[name] = exc
        self.spark.catalog.clearCache()

    def check(self) -> None:
        """The warm-up sweep's results against the DuckDB oracles."""
        for name, got in self.results.items():
            self.attempted += 1
            if isinstance(got, Exception) or not check.result_matches(
                got, check.run_oracle(self.oracles[name], self.sf_dir, os.path.join(WORK, "oracles"))
            ):
                self.failed += 1
                log(f"query check failed: {name}: {got if isinstance(got, Exception) else 'mismatch'}")


# ------------------------------------------------------------------ main


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # fail fast, before any work, when the program or its data is absent
    import __spark_entry__  # noqa: F401
    import aws_big_data_blog_dmscdc_walkthrough_spark  # noqa: F401

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    if not os.path.isfile(os.path.join(sf_dir, "lineitem.parquet")):
        raise SystemExit(f"source tables not found in {sf_dir}")

    os.makedirs(WORK, exist_ok=True)
    gen_s, inputs = 0.0, None
    if args.workload != "query_mix":
        t0 = time.perf_counter()
        inputs = gen.cached_inputs(os.path.join(WORK, "inputs"), args.workload, args.seed, sf_dir)
        gen_s = time.perf_counter() - t0
        log(f"inputs ready in {gen_s:.1f}s")
    env = prepare_env(bool(args.trace))

    c0 = tree_cpu_s()
    t0 = time.perf_counter()
    spark = start_spark(env["conf"])
    session_s = time.perf_counter() - t0
    jvm = jvm_proc()
    session_cpu = tree_cpu_s() - c0 - CpuClock(jvm.pid if jvm else None).jit_s()
    log(f"session started in {session_s:.1f}s")
    tracer = None
    if args.trace:
        tracer = tracing.Tracer(spark)
        tracer.install()
    try:
        run = (QueryRun(spark, args, tracer, sf_dir) if args.workload == "query_mix"
               else CdcRun(spark, args, tracer, inputs))
        for i in range(SETUP_REPEATS):
            run.set_op(f"setup{i}")
            run.setup()
            log(f"set-up {i}: {run.setup_s[-1]:.2f}s")
        t0 = time.perf_counter()
        run.window()
        log(f"window: {len(run.pass_s)} ops, {len(run.cycle_s)} cycles in {time.perf_counter() - t0:.1f}s")
        t0 = time.perf_counter()
        run.check()
        log(f"check: {run.failed} of {run.attempted} ops failed; checked in {time.perf_counter() - t0:.1f}s")
        peak = vm_hwm_mb("self") + (vm_hwm_mb(jvm.pid) if jvm else 0.0)
    finally:
        if tracer:
            tracer.uninstall()
        stop_spark(spark)
    e2e = {
        "setup_s": session_cpu + statistics.median(run.setup_cpu),
        "pass_cpu_s": statistics.mean(run.pass_cpu),
        "sweep_cpu_s": statistics.mean(run.cycle_cpu),
        "peak_rss_mb": peak,
    }
    pass_tail, tail_pct, beyond = tail(run.pass_s)
    unbounded = {
        "setup_wall_s": session_s + statistics.median(run.setup_s),
        "pass_p50_s": statistics.median(run.pass_s),
        "pass_tail_s": pass_tail,
        "sweep_p50_s": statistics.median(run.cycle_s),
        "lake_read_p50_s": statistics.median(run.read_s),
        "lake_read_cpu_s": statistics.mean(run.read_cpu),
    }
    info = {
        "ops": len(run.pass_s), "cycles": len(run.cycle_s), "reads": len(run.read_s),
        "pass_tail_pct": tail_pct, "pass_tail_beyond": beyond,
        "session_start_s": session_s, "session_cpu_s": session_cpu,
        "setup_repeats_s": run.setup_s, "setup_repeats_cpu_s": run.setup_cpu, "warmup_s": run.warmup_s,
        "input_gen_s": gen_s, "window_jit_s": run.window_jit_s,
        "attempted": run.attempted, "failed": run.failed,
        "fail_frac": run.failed / run.attempted,
        **run.extra,
    }
    for name, unit in E2E.items():
        print(f"{name:<28} {e2e[name]:>14.4f} {unit}")
    for name, unit in INFO.items():
        print(f"{name:<28} {unbounded[name]:>14.4f} {unit} (not bounded)")
    for name, value in info.items():
        print(f"{name:<28} {value}")
    tag = f"{args.workload}-seed{args.seed}-{args.seconds:g}s"
    record = {"args": vars(args), "e2e": e2e, "unbounded": unbounded, "info": info,
              "samples": {"pass_s": run.pass_s, "cycle_s": run.cycle_s, "read_s": run.read_s,
                          "pass_cpu": run.pass_cpu, "cycle_cpu": run.cycle_cpu,
                          "read_cpu": run.read_cpu}}
    metrics = {k: {"value": v, "unit": E2E[k]} for k, v in e2e.items()}
    if tracer:
        layers, doc = trace_report(tracer, run, env, session_s, tag, {**e2e, **unbounded})
        for name, unit in tracing.PER_LAYER.items():
            print(f"{name:<28} {layers[name]:>14.6g} {unit}")
        record["per_layer"] = layers
        metrics = {k: {"value": layers[k], "unit": u} for k, u in tracing.PER_LAYER.items()}
    write_json(os.path.join(WORK, "results", f"{tag}-trace{args.trace}.json"), record)
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": metrics,
    }))
    return 0


def write_json(path: str, doc) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as fh:
        json.dump(doc, fh, indent=1)


def trace_report(tracer, run, env, session_s, tag, measured) -> tuple[dict, dict]:
    """Per-layer metrics of a traced run; writes the trace file with the
    spans, per-layer self time, stage metrics by span and the tracing
    overhead against the untraced run of the same workload and seed."""
    evfile = tracing.event_log_file(os.path.join(WORK, "eventlog"))
    stages = tracing.read_event_log(evfile) if evfile else []
    cycles = len(run.cycle_s)
    layers, doc = tracing.layer_report(
        tracer, stages, cycles, sum(run.cycle_s), env["cpus"], SETUP_REPEATS)
    timed = [q for q in getattr(run, "layers", []) if q["op"].startswith("op")]
    layers["plans.plan_s"] = sum(q["plan_s"] for q in timed) / cycles
    layers["session.start_s"] = session_s
    for name in ("files_added", "files_removed", "write_amp"):
        layers[f"lake_writer.{name}"] = run.extra.get(name, 0.0)
    layers["lake.files"] = run.extra.get("lake_files", 0)
    layers["controller.change_rows_per_s"] = run.extra.get("change_rows_per_s", 0.0)
    layers["jvm.jit_cpu_s"] = run.window_jit_s / cycles
    doc["queries"] = getattr(run, "layers", [])
    untraced = os.path.join(WORK, "results", f"{tag}-trace0.json")
    if os.path.exists(untraced):
        with open(untraced) as fh:
            base = json.load(fh)
        base = {**base["e2e"], **base.get("unbounded", {})}
        doc["overhead"] = {
            k: {"traced": measured[k], "untraced": base[k], "delta": measured[k] - base[k]}
            for k in ("pass_cpu_s", "sweep_cpu_s", "pass_p50_s", "sweep_p50_s", "lake_read_p50_s")
            if k in base
        }
    else:
        doc["overhead"] = f"no untraced result for {tag}; run --trace 0 first"
    doc["per_layer"] = layers
    doc["measured_traced"] = measured
    write_json(os.path.join(WORK, "traces", f"{tag}.json"), doc)
    if evfile:
        os.unlink(evfile)
    return layers, doc


if __name__ == "__main__":
    sys.exit(main())

"""Run protocol shared by every workload.

One benchmark process is one closed-loop client on ``local[CPUS]``:

1. start the session (``get_spark`` with cpus = shuffle partitions =
   CPUS; the traced run adds the uncompressed event log);
2. prepare the inputs, then warm up (``Workload.warmup``); ``setup_s``
   counts the session start, the preparation and the warm-up;
3. run operations back to back for ``--seconds``, stopping only at the
   end of a pass (``Workload.pass_size`` operations); after each
   operation count the CacheManager entries it left and clear them, so
   no operation reads an earlier one's cached data;
4. check every operation's output outside the timed region;
5. stop the session and its JVM, parse the event log (traced run only),
   delete the work directory and print the result line.

Spans are kept in memory and written to ``.perfbench_out/`` when a traced
run ends.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import statistics
import sys
import threading
import time
import traceback
from contextlib import contextmanager
from dataclasses import dataclass, field

import eventlog

NPROC = len(os.sched_getaffinity(0))
#: Task slots (``local[CPUS]``) and shuffle partitions: half the cores,
#: so the tasks, the JIT's compiler threads, the GC threads and the Python
#: side do not contend for them.
CPUS = max(1, NPROC // 2)
#: Entries of Spark's generated-code cache (default 100). One
#: materialization alone compiles 88 generated classes, and the cache
#: evicts per segment well before it holds 100, so with the default every
#: repeated operation in a session recompiled about 26 classes with
#: Janino, and the JIT then compiled those fresh classes again: a run
#: never reached steady state and operation walls depended on how far the
#: JIT had got. With room for every class, warm operations compile none.
CODEGEN_CACHE_ENTRIES = 2000
#: Options of the driver JVM, which runs every task in local mode.
#: ``-Xms2g`` sets a 2 GB floor under the heap; the maximum stays the 8 GB
#: of ``session.py``. Left to the JVM, the initial heap is 1/64 of RAM,
#: and in some runs G1 kept it near 1 GB with the old generation about
#: 75% full, running 16-18 concurrent marking cycles per materialization.
JVM_OPTS = "-Xms2g"


class Tracer:
    """In-memory spans: name, start, end, parent, operation id. Spans are
    recorded on the main thread only; the registry warm-up's worker
    threads record none."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._t0 = time.perf_counter()
        self.op: str | None = None

    @contextmanager
    def span(self, name: str, **attrs):
        """Yield a dict whose ``s`` holds the duration once the block ends;
        the span itself is stored only when tracing is on."""
        rec = {"name": name, "op": self.op, **attrs}
        start = time.perf_counter()
        record = self.enabled and threading.current_thread() is threading.main_thread()
        if record:
            rec["id"] = len(self.spans)
            rec["parent"] = self._stack[-1] if self._stack else None
            rec["start"] = start - self._t0
            self.spans.append(rec)
            self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            end = time.perf_counter()
            rec["s"] = end - start
            if record:
                rec["end"] = end - self._t0
                self._stack.pop()


@dataclass
class Op:
    """One timed operation of the closed loop."""

    index: int
    wall: float
    items: int
    #: operations of one kind (one query, one materialization) are
    #: compared with each other; see :func:`op_medians`
    kind: str = "op"
    #: layer timings of this operation (build_s, plan_s, exec_s, ...)
    parts: dict[str, float] = field(default_factory=dict)
    #: workload data the output check needs
    extra: dict = field(default_factory=dict)
    leaked: int = 0
    #: JVM counters over the operation (summary line only): they show
    #: whether a slow run was still compiling or collecting garbage
    jvm: dict = field(default_factory=dict)
    error: str | None = None


class Run:
    """The process-wide state of one benchmark run."""

    def __init__(self, root: str, workload: str, seed: int, seconds: int, trace: bool):
        self.root = root
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.traced = trace
        self.tracer = Tracer(trace)
        self.work = os.path.join(root, ".perfbench_work", f"{workload}-{seed}-{os.getpid()}")
        self.spark = None
        self._gateway = None

    # ---------------------------------------------------------- session
    def start_session(self):
        for d in ("tmp", "spark-local", "eventlog"):
            os.makedirs(os.path.join(self.work, d), exist_ok=True)
        # keep every scratch file of the Spark driver, its JVM and the Python
        # workers inside the checkout
        os.environ["TMPDIR"] = os.path.join(self.work, "tmp")
        # Python workers import the engine from the checkout
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (self.root, os.environ.get("PYTHONPATH")) if p
        )
        os.environ["CFE_SPARK_LOCAL_DIR"] = os.path.join(self.work, "spark-local")
        conf = {
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.work}/tmp {JVM_OPTS}",
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.codegen.cache.maxEntries": str(CODEGEN_CACHE_ENTRIES),
        }
        if self.traced:
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
                "spark.eventLog.dir": "file://" + os.path.join(self.work, "eventlog"),
            })
        from pyspark import SparkContext

        from combinedfeatureextraction_spark.session import get_spark

        self.spark = get_spark(
            app_name=f"perfbench_{self.workload}", cpus=CPUS,
            shuffle_partitions=CPUS, extra_conf=conf,
        )
        self._gateway = SparkContext._gateway
        return self.spark

    def stop_session(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gw, self._gateway = self._gateway, None
        if gw is not None:
            proc = getattr(gw, "proc", None)
            gw.shutdown()
            if proc is not None:
                try:
                    proc.stdin.close()
                    proc.wait(timeout=30)
                except Exception:  # noqa: BLE001 - the JVM must not outlive us
                    proc.kill()
                    proc.wait()

    def job_group(self, gid: str) -> None:
        """Tag the following Spark jobs (traced run only)."""
        self.tracer.op = gid
        if self.traced:
            self.spark.sparkContext.setJobGroup(gid, gid)

    def jobs_in_group(self) -> int:
        """Spark jobs started so far under the current job group (traced
        run only; 0 otherwise)."""
        if not self.traced:
            return 0
        tracker = self.spark.sparkContext.statusTracker()
        return len(tracker.getJobIdsForGroup(self.tracer.op))

    def cache_entries(self) -> int:
        cm = self.spark._jsparkSession.sharedState().cacheManager()
        return int(cm.numCachedEntries())

    def peak_rss_mb(self) -> float:
        """Peak resident memory (VmHWM) of the driver JVM."""
        pid = self.spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
        raise RuntimeError("VmHWM not reported")

    def jvm_counters(self) -> dict[str, float]:
        """Running totals for the summary line: CPU seconds of the driver
        JVM and this process, seconds the JIT has spent compiling, and
        garbage collections; plus the heap the JVM has committed (MB)."""
        jvm = self.spark.sparkContext._jvm
        mf = jvm.java.lang.management.ManagementFactory
        pid = jvm.java.lang.ProcessHandle.current().pid()
        with open(f"/proc/{pid}/stat") as fh:
            fields = fh.read().rsplit(")", 1)[1].split()
        t = os.times()
        return {
            "cpu": (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")
            + t.user + t.system,
            "jit": mf.getCompilationMXBean().getTotalCompilationTime() / 1e3,
            "gcs": sum(b.getCollectionCount() for b in mf.getGarbageCollectorMXBeans()),
            "heap_mb": mf.getMemoryMXBean().getHeapMemoryUsage().getCommitted() / 2**20,
        }

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)


def _median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def op_medians(ops: list[Op]) -> dict[str, tuple[float, float]]:
    """kind -> (median wall, median items) over the run's operations of
    that kind. A median per kind keeps one operation slowed by the host
    from moving the run's figures."""
    kinds: dict[str, list[Op]] = {}
    for op in ops:
        kinds.setdefault(op.kind, []).append(op)
    return {k: (_median(op.wall for op in v), _median(op.items for op in v))
            for k, v in kinds.items()}


def closed_loop(run: Run, wl, traced: bool, label: str, min_ops: int = 0) -> list[Op]:
    """Run operations back to back and stop at the first pass boundary
    after ``run.seconds`` (or, given ``min_ops``, after that many)."""
    ops: list[Op] = []
    t0 = time.perf_counter()
    while True:
        i = len(ops)
        run.job_group(f"{label}:{i}")
        start = time.perf_counter()
        before = run.jvm_counters()
        with run.tracer.span("op", index=i):
            try:
                op = wl.op(i, traced)
            except Exception as exc:  # noqa: BLE001 - a failed op is counted, not fatal
                traceback.print_exc(file=sys.stderr)
                op = Op(index=i, wall=time.perf_counter() - start, items=0,
                        error=f"{type(exc).__name__}: {exc}")
        after = run.jvm_counters()
        op.jvm = {k: after[k] - before[k] for k in ("cpu", "jit", "gcs")}
        op.jvm["heap_mb"] = after["heap_mb"]
        op.leaked = run.cache_entries()
        run.spark.catalog.clearCache()
        ops.append(op)
        enough = len(ops) >= min_ops if min_ops else time.perf_counter() - t0 >= run.seconds
        if len(ops) % wl.pass_size == 0 and enough:
            return ops


def execute(run: Run, wl_cls) -> dict:
    """The whole protocol; returns the result record."""
    t0 = time.perf_counter()
    run.start_session()
    session_s = time.perf_counter() - t0
    wl = wl_cls(run)

    run.job_group("setup")
    with run.tracer.span("setup.prepare") as sp:
        size = wl.prepare()
    prep_s = sp["s"]
    run.job_group("warmup")
    with run.tracer.span("setup.warmup"):
        warm_s = wl.warmup()
    setup_s = session_s + prep_s + warm_s

    ops = closed_loop(run, wl, run.traced, "op")
    peak_rss = run.peak_rss_mb()
    plain = closed_loop(run, wl, False, "plain", len(ops)) if run.traced else []
    for op in plain:
        wl.discard(op)

    run.job_group("check")
    t_check = time.perf_counter()
    failures = wl.check([op for op in ops if op.error is None])
    check_s = time.perf_counter() - t_check
    failed = {op.index for op in ops if op.error is not None} | set(failures)
    for op in ops:
        if op.error is not None:
            print(f"op {op.index} failed: {op.error}", file=sys.stderr)
    for idx, why in sorted(failures.items()):
        print(f"op {idx} output check failed: {why}", file=sys.stderr)

    good = [op for op in ops if op.error is None]
    med = op_medians(good)
    metrics = {
        "setup_s": setup_s,
        # geometric mean over the kinds: every kind counts by its relative
        # change, so one query that gets twice as fast moves it even when
        # that query is not the median one
        "op_geomean_s": (math.exp(statistics.fmean(math.log(w) for w, _ in med.values()))
                         if med else 0.0),
        # the items of one operation of each kind over the median walls
        "items_per_s": (sum(n for _, n in med.values()) / sum(w for w, _ in med.values())
                        if med else 0.0),
    }
    # per-layer values are per unit of work: one materialization on
    # pit_materialize, one pass over the suite on registry_suite
    n_pass = len(ops) / wl.unit_ops
    layer = {}
    if run.traced:
        layer = {
            "build_s": sum(op.parts.get("build_s", 0.0) for op in good) / n_pass,
            "build_jobs": sum(op.parts.get("build_jobs", 0) for op in good) / n_pass,
            "plan_s": sum(op.parts.get("plan_s", 0.0) for op in good) / n_pass,
            "exec_s": sum(op.parts.get("exec_s", 0.0) for op in good) / n_pass,
            "cache.leaked_entries": sum(op.leaked for op in ops) / n_pass,
            "peak_rss_mb": peak_rss,
            "failed_share": len(failed) / len(ops),
            "trace_overhead": (
                sum(op.wall for op in good) / len(good)
                / (sum(op.wall for op in plain) / len(plain))
                if good and plain else 0.0
            ),
            "input.rows": size["rows"],
            "input.bytes": size["bytes"],
            "input.files": size["files"],
        }
        layer.update(wl.layer_metrics(good, n_pass))
    summary = {
        "workload": run.workload, "seed": run.seed, "traced": run.traced,
        "nproc": NPROC, "cpus": CPUS, "input": size, "ops": len(ops), "passes": n_pass,
        "session_s": session_s, "prepare_s": prep_s,
        "warmup_s": warm_s, "check_s": check_s, "run_s": time.perf_counter() - t0, "op_walls": [op.wall for op in ops], "op_jvm": [op.jvm for op in ops],
    }
    return {
        "ops": ops, "good": good, "failed": failed, "metrics": metrics,
        "layer": layer, "summary": summary,
    }


def spark_layer(groups: dict[str, dict], ops: list[Op], n_pass: int) -> dict:
    """Per-pass execution metrics of the timed operations' job groups."""
    keys = ("jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s",
            "gc_s", "shuffle_write_bytes", "shuffle_read_bytes",
            "shuffle_fetch_wait_s", "spill_bytes", "failed_tasks",
            "python_bytes")
    recs = [groups.get(f"op:{op.index}") for op in ops]
    recs = [r for r in recs if r is not None]
    out = {f"spark.{k}": sum(r[k] for r in recs) / n_pass for k in keys}
    wall = sum(op.wall for op in ops)
    out["spark.core_util"] = (
        sum(r["executor_run_s"] for r in recs) / (wall * CPUS) if wall else 0.0
    )
    out["spark.task_skew"] = _median(r["task_skew"] for r in recs) if recs else 0.0
    return out


def main(workloads: dict, argv=None) -> int:
    import argparse

    ap = argparse.ArgumentParser(description="spark-graft benchmark")
    ap.add_argument("--workload", required=True, choices=sorted(workloads))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    if not os.path.isdir(os.path.join(root, "combinedfeatureextraction_spark")):
        print(f"no engine package under {root}: run from a full checkout",
              file=sys.stderr)
        return 2
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    sys.path.insert(0, root)
    run = Run(root, args.workload, args.seed, args.seconds, bool(args.trace))
    try:
        try:
            res = execute(run, workloads[args.workload])
        finally:
            run.stop_session()
        groups = {}
        if run.traced:
            log = eventlog.find_log(run.path("eventlog"))
            groups = eventlog.parse(log) if log else {}
            res["layer"].update(spark_layer(groups, res["good"], res["summary"]["passes"]))
    finally:
        shutil.rmtree(run.work, ignore_errors=True)

    if run.traced:
        names = [(m["name"], m["unit"]) for m in spec["per_layer"]]
        values = res["layer"]
        out_dir = os.path.join(root, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        rec_path = os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace.json")
        with open(rec_path, "w") as fh:
            json.dump({"summary": res["summary"], "per_layer": values,
                       "event_log_groups": groups, "spans": run.tracer.spans},
                      fh, indent=1, default=str)
        print(f"trace record: {rec_path}", file=sys.stderr)
    else:
        names = [(m["name"], m["unit"]) for m in spec["end_to_end"]]
        values = res["metrics"]
    print(json.dumps(res["summary"]), file=sys.stderr)
    # a layer the workload does not touch reads 0; every end-to-end
    # metric is measured on every workload
    metrics = {n: {"value": float(values[n] if not run.traced else values.get(n, 0.0)),
                   "unit": u} for n, u in names}
    print(json.dumps({
        "correct": not res["failed"],
        "attempted": len(res["ops"]),
        "failed": len(res["failed"]),
        "metrics": metrics,
    }))
    return 0

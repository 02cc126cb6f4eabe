"""Store-level benchmark for holcstore_spark.

Usage, from the repository root::

    python3 perfbench/run.py --workload point_serve --seed 1 --seconds 12 --trace 0

Workloads (see README.md): point_serve, bulk_analytics. The last line of
standard output is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
Details (per-operation metrics, steady-state series, spans) go to
``perfbench/out/``.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import resource
import shutil
import signal
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, "out")

#: end-to-end metrics printed by every workload, with their units
END_TO_END = {
    "setup_s": "s",
    "peak_mem_mb": "MB",
    "bytes_per_point": "B",
    "read_p50_ms": "ms",
    "read_tail_ms": "ms",
    "write_p50_ms": "ms",
    "items_per_s": "1/s",
}

#: the read tail is this percentile: every workload keeps sampling reads
#: until at least MIN_READS are in, so fifteen or more lie beyond it (the
#: highest percentile with ten beyond moved too much run to run)
TAIL_PCT = 75
MIN_READS = 60
#: the timed region stops here even when sample minimums are unmet
MAX_TIMED_S = 90
#: set-up is repeated this many times per run and its median reported
SETUP_REPEATS = 3


class Ctx:
    """Run state shared by a workload: session, tracer, seeded RNG, the
    timed samples and the correctness tally."""

    def __init__(self, spark, tracer, seed: int, seconds: float,
                 workdir: str, iters: int | None, scale: float,
                 phases: bool = False):
        import numpy as np

        self.spark = spark
        self.tracer = tracer
        self.seed = seed
        self.rng = np.random.default_rng(seed)
        self.seconds = seconds
        self.workdir = workdir
        #: fixed loop length (traced runs and tests); None = time-bound
        self.iters = iters
        self.scale = scale
        #: run the phase after the timed region that only the per-layer
        #: metrics report (see workloads.py)
        self.phases = phases
        self.samples: dict[str, list[float]] = {}
        self.totals: dict[str, float] = {}
        self.detail: dict = {}
        self.attempted = 0
        self.failed = 0
        #: minimum sample counts of the timed region, by sample list
        self.need = {"read": MIN_READS}
        self._t0 = None

    def path(self, name: str) -> str:
        return os.path.join(self.workdir, name)

    def start_clock(self) -> None:
        self._t0 = time.perf_counter()

    def more(self, i: int) -> bool:
        """Loop condition of the timed region: a fixed iteration count,
        or the run length plus the minimum sample counts (capped at
        MAX_TIMED_S)."""
        if self.failed:
            return False
        if self.iters is not None:
            return i < self.iters
        el = time.perf_counter() - self._t0
        if el >= MAX_TIMED_S:
            return False
        return el < self.seconds or any(
            len(self.samples.get(k, [])) < n for k, n in self.need.items())

    @contextlib.contextmanager
    def op(self, kind: str | None, span: str | None = None):
        """One timed operation of the closed loop; ``kind`` names the
        sample list its latency joins."""
        self.attempted += 1
        self.tracer.op_id += 1
        cm = self.tracer.span(span) if span else contextlib.nullcontext()
        t = time.perf_counter()
        with cm:
            yield
        dt = time.perf_counter() - t
        if kind:
            self.samples.setdefault(kind, []).append(dt)

    def add(self, key: str, v: float) -> None:
        self.totals[key] = self.totals.get(key, 0.0) + v

    def check(self, ok: bool, what: str) -> None:
        """A correctness check: a mismatch counts as a failed op."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"# CHECK FAILED: {what}", file=sys.stderr)


def dir_bytes(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        for f in files:
            with contextlib.suppress(OSError):
                total += os.stat(os.path.join(d, f)).st_size
    return total


def gc_log_path() -> str:
    """The driver JVM's garbage-collection log: the only JVM option the
    benchmark adds, and it only observes."""
    return os.path.join(OUT, "spark-local", f"gc-{os.getpid()}.log")


def peak_mem_mb(spark) -> dict[str, float]:
    """Driver memory high-water marks in MB: python's peak RSS, the JVM's
    largest heap occupancy after a garbage collection, the peak use of its
    non-heap pools (metaspace, code cache), and its peak RSS. The JVM's
    RSS also holds the garbage its heap grew to hold between collections,
    which depends on when they ran, so the metric uses the occupancy after
    them."""
    import re

    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    mb = {"K": 1 / 1024, "M": 1.0, "G": 1024.0}
    with open(gc_log_path()) as f:
        after = [int(n) * mb[u] for n, u in re.findall(r"->(\d+)([KMG])\(", f.read())]
    pools = spark._jvm.java.lang.management.ManagementFactory.getMemoryPoolMXBeans()
    non_heap = sum(p.getPeakUsage().getUsed() for p in pools
                   if str(p.getType().name()) == "NON_HEAP" and p.getPeakUsage() is not None)
    jvm_kb = 0
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    return {"py_rss": py_kb / 1024.0, "jvm_heap_after_gc": max(after, default=0.0),
            "jvm_non_heap": non_heap / 2**20, "jvm_rss": jvm_kb / 1024.0}


def percentile(xs: list[float], pct: float) -> float:
    import numpy as np

    return float(np.percentile(np.asarray(xs, dtype=float), pct))


def end_to_end(ctx: Ctx, setup_s: float, mem: dict[str, float]) -> dict[str, float]:
    reads, writes = ctx.samples.get("read", []), ctx.samples.get("write", [])
    return {
        "setup_s": setup_s,
        "peak_mem_mb": mem["py_rss"] + mem["jvm_heap_after_gc"] + mem["jvm_non_heap"],
        "bytes_per_point": ctx.detail["bytes_per_point"],
        "read_p50_ms": 1e3 * statistics.median(reads),
        "read_tail_ms": 1e3 * percentile(reads, TAIL_PCT),
        "write_p50_ms": 1e3 * statistics.median(writes),
        "items_per_s": ctx.totals["items"] / ctx.totals["items_s"],
    }


def start_session(tracer, cpus: int):
    """The library's session on ``local[cpus]``, with its own heap and
    conf. Spark scratch and temp files go inside the checkout (the
    library's default is /dev/shm), the JVM logs its garbage collections
    and python workers can import the package."""
    scratch = os.path.join(OUT, "spark-local")
    os.makedirs(scratch, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = scratch
    os.environ["TMPDIR"] = scratch
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    from holcstore_spark import session

    conf = {"spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={scratch} -Xlog:gc:file={gc_log_path()}",
            **tracer.spark_conf()}
    with tracer.span("session.get_spark"):
        spark = session.get_spark(app_name="holcstore-perfbench",
                                  extra_conf=conf)
        spark.range(1).count()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def run(workload: str, seed: int, seconds: float, trace: bool,
        iters: int | None = None, scale: float = 1.0, spark=None,
        event_dir: str | None = None, phases: bool | None = None) -> dict:
    """Run one workload and return the result object (plus ``detail``).
    ``iters`` fixes the loop length, ``scale`` shrinks the data, ``spark``
    reuses a session (tests) and ``event_dir`` is the event-log directory
    that session was started with. ``phases`` (default: ``trace``) adds
    the workload's per-layer-only phase after the timed region."""
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    import layers
    import workloads

    if workload not in workloads.WORKLOADS:
        raise SystemExit(f"unknown workload {workload!r}; one of "
                         f"{sorted(workloads.WORKLOADS)}")
    if trace and iters is None:
        iters = workloads.TRACE_ITERS[workload]
    workdir = os.path.join(OUT, "work", f"{workload}-{os.getpid()}")
    shutil.rmtree(workdir, ignore_errors=True)
    os.makedirs(workdir)
    tracer = layers.Tracer(trace, event_dir or os.path.join(workdir, "eventlog"))
    tracer.install()
    t0 = time.perf_counter()
    own_session = spark is None
    try:
        if own_session:
            spark = start_session(tracer, len(os.sched_getaffinity(0)))
        session_s = time.perf_counter() - t0
        tracer.attach(spark)
        ctx = Ctx(spark, tracer, seed, seconds, workdir, iters, scale,
                  trace if phases is None else phases)
        try:
            builds = workloads.WORKLOADS[workload](ctx)
            ok_run = True
        except Exception:
            traceback.print_exc()
            ctx.failed += 1
            builds = [0.0]
            ok_run = False
        setup_s = session_s + statistics.median(builds)
        mem = peak_mem_mb(spark)
        result = {"correct": ctx.failed == 0, "attempted": max(ctx.attempted, 1),
                  "failed": ctx.failed}
        detail = dict(ctx.detail, setup_session_s=session_s, setup_builds_s=builds,
                      samples={k: len(v) for k, v in ctx.samples.items()},
                      peak_mem_parts_mb=mem,
                      tail_pct=TAIL_PCT)
        jobs_tasks = tracer.job_counts() if trace else {}
        detail["jobs_in_spans"] = sum(j for j, _ in jobs_tasks.values())
        if trace and ok_run:
            ctx.detail["layers"] = layers.derived(tracer, ctx.detail["main_store"])
        if trace and not own_session:
            # the shared session's event log is complete once the listener
            # bus has written every event of this run
            spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    finally:
        if own_session and spark is not None:
            spark.stop()
            with contextlib.suppress(OSError):
                os.remove(gc_log_path())
        tracer.uninstall()
    if not ok_run:
        result["metrics"] = {}
        return {**result, "detail": detail}
    e2e = end_to_end(ctx, setup_s, mem)
    if trace:
        per_layer = tracer.fold(jobs_tasks, tracer.event_log_jobs())
        per_layer.update(ctx.detail.get("layers", {}))
        metrics = {m: {"value": float(per_layer.get(m, 0.0)), "unit": u}
                   for m, u in layers.per_layer_units().items()}
        tracer.dump(os.path.join(OUT, f"trace-{workload}-s{seed}.json"),
                    {"end_to_end": e2e, "layers": per_layer, "detail": detail})
    else:
        metrics = {m: {"value": float(e2e[m]), "unit": u} for m, u in END_TO_END.items()}
    shutil.rmtree(workdir, ignore_errors=True)
    return {**result, "metrics": metrics, "detail": detail, "end_to_end": e2e}


def _descendants() -> list[int]:
    """Pids of every live process below this one, parents first."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        with contextlib.suppress(OSError, IndexError, ValueError):
            with open(f"/proc/{name}/stat") as f:
                # the command name may hold spaces: the fields follow ')'
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            children.setdefault(ppid, []).append(int(name))
    out, todo = [], [os.getpid()]
    while todo:
        kids = children.get(todo.pop(), [])
        out.extend(kids)
        todo.extend(kids)
    return out


def _alive(pid: int) -> bool:
    """True while ``pid`` runs (a zombie has ended)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def _wait_gone(pids: list[int], timeout: float) -> list[int]:
    end = time.monotonic() + timeout
    while True:
        pids = [p for p in pids if _alive(p)]
        if not pids or time.monotonic() >= end:
            return pids
        time.sleep(0.05)


def stop_processes() -> None:
    """Stop every process the run started and wait until each has ended:
    the Spark JVM (the py4j gateway, which exits when its stdin closes)
    and the python workers it forked. Whatever is still running after
    that is sent SIGTERM, then SIGKILL."""
    pids = _descendants()
    with contextlib.suppress(Exception):
        from pyspark import SparkContext

        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None) if gw is not None else None
        if proc is not None:
            with contextlib.suppress(Exception):
                gw.shutdown()
            with contextlib.suppress(OSError):
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
    pids = _wait_gone(pids + _descendants(), 10)
    for sig in (signal.SIGTERM, signal.SIGKILL):
        for p in pids:
            with contextlib.suppress(OSError):
                os.kill(p, sig)
        pids = _wait_gone(pids, 10)
    with contextlib.suppress(ChildProcessError):
        while os.waitpid(-1, os.WNOHANG)[0]:
            pass


def _on_term(signum, frame):
    raise SystemExit(128 + signum)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    signal.signal(signal.SIGTERM, _on_term)
    signal.signal(signal.SIGHUP, _on_term)
    try:
        res = run(args.workload, args.seed, args.seconds, bool(args.trace))
    finally:
        stop_processes()
    os.makedirs(OUT, exist_ok=True)
    with open(os.path.join(OUT, f"{args.workload}-s{args.seed}-t{args.trace}.json"), "w") as f:
        json.dump(res, f, indent=1, default=float)
    if args.trace:
        _print_overhead(args.workload, args.seed, res)
    if not res["metrics"]:
        return 1
    print(json.dumps({k: res[k] for k in ("correct", "attempted", "failed", "metrics")}))
    return 0


def _print_overhead(workload: str, seed: int, res: dict) -> None:
    """Tracing overhead: the traced run's end-to-end metrics against the
    untraced run of the same workload and seed, when one was made."""
    path = os.path.join(OUT, f"{workload}-s{seed}-t0.json")
    if not os.path.exists(path) or "end_to_end" not in res:
        return
    with open(path) as f:
        base = json.load(f).get("end_to_end", {})
    for m, v in res["end_to_end"].items():
        if base.get(m):
            print(f"# tracing overhead {m}: {v:.4g} vs {base[m]:.4g} "
                  f"({100 * (v / base[m] - 1):+.1f}%)", file=sys.stderr)


if __name__ == "__main__":
    sys.exit(main())

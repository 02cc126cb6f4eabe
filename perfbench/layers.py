"""Per-layer tracing for the store benchmark.

A traced run patches the library's public functions, at the names their
callers resolve, with wrappers that record a span (name, start, end,
parent, op id) and tag the Spark jobs launched inside it with a job group
unique to that span. Counter wrappers only count calls. When the run
ends, the spans are folded into per-layer metrics: wall seconds and call
counts from the spans, job and task counts from the status tracker, and
executor CPU, shuffle, spill and driver-only time from the Spark event
log the traced session writes.

An untraced run builds a ``Tracer(enabled=False)``: nothing is patched,
``span`` is a no-op and no event log is written.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import importlib
import json
import os
import sys
import threading
import time
import uuid

#: functions whose calls become spans: (module, attribute path). A span
#: re-entered under its own name (the harness consuming a lazy result
#: inside a span named for the call that built it) counts the call but
#: opens no nested span.
SPAN_TARGETS = [
    ("holcstore_spark.session", "get_spark"),
    ("holcstore_spark.sources.txlog", "TxLog.snapshot"),
    ("holcstore_spark.sources.txlog", "TxLog.commit"),
    ("holcstore_spark.edge.pandas_bridge", "series_to_long"),
    ("holcstore_spark.edge.pandas_bridge", "long_to_series"),
    ("holcstore_spark.sources.chunk_store", "ChunkStore.get_ts"),
    ("holcstore_spark.sources.chunk_store", "ChunkStore.get_ts_local"),
    ("holcstore_spark.sources.chunk_store", "ChunkStore.set_ts"),
    ("holcstore_spark.sources.chunk_store", "ChunkStore.optimize"),
    ("holcstore_spark.sources.chunk_store", "ChunkStore.ingest_long"),
    ("holcstore_spark.sources.chunk_store", "ChunkStore.alive_data"),
    ("holcstore_spark.sources.chunk_store", "ChunkStore.delete"),
    ("holcstore_spark.sources.chunk_store", "ChunkStore.export_chunks_sdf"),
    ("holcstore_spark.sources.chunk_store", "ChunkStore.import_chunks_sdf"),
    ("holcstore_spark.sources.chunk_store", "ChunkStore.append_import"),
    ("holcstore_spark.sources.io_util", "safe_local_checkpoint"),
    ("holcstore_spark.sources.io_util", "overlap_jobs"),
    ("holcstore_spark.operators.overlay", "overlay_merge"),
    ("holcstore_spark.operators.grid", "completeness_holes"),
    ("holcstore_spark.operators.islands", "constant_runs"),
    ("holcstore_spark.operators.intervals", "merge_intervals"),
    ("holcstore_spark.streaming.sync", "SyncClient.pull"),
    ("holcstore_spark.sources.band_index", "BandIndex.ingest"),
    ("holcstore_spark.sources.vector_index", "VectorIndex.append"),
    ("holcstore_spark.sources.vector_index", "VectorIndex.topk"),
]

#: calls counted without a span (hot or internal paths)
COUNT_TARGETS = [
    ("holcstore_spark.streaming.sync", "SyncClient._pull_bulk"),
]

#: spans whose entry_may_match_keys verdicts count as files opened by a
#: keyed read
READ_SPANS = (
    "sources.chunk_store.ChunkStore.get_ts",
    "sources.chunk_store.ChunkStore.get_ts_local",
)
TOPK_SPAN = "sources.vector_index.VectorIndex.topk"


def layer_name(module: str, attr: str) -> str:
    """``holcstore_spark.sources.txlog`` + ``TxLog.commit`` →
    ``sources.txlog.TxLog.commit``."""
    return module.split(".", 1)[1] + "." + attr


def _metric(name: str) -> str:
    """Span name → per-layer metric prefix: store methods are named by
    module (``sources.chunk_store.get_ts``), other classes keep theirs."""
    return name.replace("ChunkStore.", "")


_CHUNK_FNS = ("get_ts", "get_ts_local", "set_ts", "optimize", "ingest_long", "alive_data")
_OPERATORS = ("overlay.overlay_merge", "grid.completeness_holes",
              "islands.constant_runs", "intervals.merge_intervals")

#: per-layer metrics of a traced run, in BENCHMARK.json order
PER_LAYER = (
    ["session.get_spark.s"]
    + [f"sources.txlog.TxLog.{f}.{m}" for f in ("snapshot", "commit") for m in ("s", "calls")]
    + ["sources.txlog.log_versions",
       "plans.pruning.files_opened_per_read", "plans.pruning.useful_file_ratio"]
    + [f"edge.pandas_bridge.{f}.{m}" for f in ("series_to_long", "long_to_series")
       for m in ("s", "calls")]
    + [f"sources.chunk_store.{f}.{m}" for f in _CHUNK_FNS
       for m in ("s", "calls", "spark_jobs", "spark_tasks", "driver_s")]
    + ["sources.chunk_store.files_per_chunk"]
    + [f"sources.io_util.{f}.{m}" for f in ("safe_local_checkpoint", "overlap_jobs")
       for m in ("s", "calls")]
    + [f"operators.{f}.{m}" for f in _OPERATORS
       for m in ("s", "calls", "executor_cpu_s", "shuffle_bytes", "spill_bytes")]
    + [f"streaming.sync.SyncClient.pull.{m}" for m in ("s", "calls", "states")]
    + ["streaming.sync.bulk_share"]
    + [f"sources.chunk_store.{f}.{m}" for f in
       ("export_chunks_sdf", "import_chunks_sdf", "append_import") for m in ("s", "calls")]
    + [f"sources.band_index.BandIndex.ingest.{m}" for m in
       ("s", "calls", "executor_cpu_s", "shuffle_bytes")]
    + [f"sources.vector_index.VectorIndex.{f}.{m}" for f in ("append", "topk")
       for m in ("s", "calls")]
    + ["sources.vector_index.topk.files_opened"]
)

_HIGHER = ("useful_file_ratio", "bulk_share", ".states")

#: counts that differed between two traced runs with one seed (the
#: ingest_long calls of point_serve's traced run, its replication phase
#: included, launched 100 jobs in one run and 101 in the other); every
#: other count repeated exactly on every workload
NOT_EXACT = {"sources.chunk_store.ingest_long.spark_jobs",
             "sources.chunk_store.ingest_long.spark_tasks"}


def per_layer_units() -> dict[str, str]:
    out = {}
    for m in PER_LAYER:
        if m.endswith((".s", "_s")):
            unit = "s"
        elif m.endswith("_bytes"):
            unit = "B"
        elif m.endswith(("ratio", "share", "per_read", "per_chunk", "files_opened")):
            unit = "ratio" if m.endswith(("ratio", "share")) else "files"
        else:
            unit = "n" if m in NOT_EXACT else "count"
        out[m] = unit
    return out


def per_layer_spec() -> list[dict]:
    """The ``per_layer`` list of BENCHMARK.json."""
    return [{"name": m, "unit": u,
             "better": "higher" if m.endswith(_HIGHER) else "lower"}
            for m, u in per_layer_units().items()]


def files_per_chunk(path: str) -> float:
    """Mean number of live data files overlapping each chunk."""
    from holcstore_spark.sources.txlog import TxLog

    entries = TxLog(path).snapshot().files["data"]
    chunks, spans = set(), 0
    for e in entries:
        lo, hi = e.get("chunk_min"), e.get("chunk_max")
        if lo is None:
            continue
        chunks.update(range(lo, hi + 1))
        spans += hi - lo + 1
    return spans / len(chunks) if chunks else 0.0


def derived(tracer: "Tracer", main_store: str) -> dict[str, float]:
    """Per-layer figures measured from the store and the recorded file
    opens rather than from spans."""
    from holcstore_spark.sources.txlog import TxLog

    c = tracer.counts
    reads = sum(c.get(f"sources.chunk_store.ChunkStore.{f}.calls", 0)
                for f in ("get_ts", "get_ts_local"))
    useful, opened = tracer.useful_files, tracer.opened_files
    pulls = c.get("streaming.sync.SyncClient.pull.calls", 0)
    topks = c.get("sources.vector_index.VectorIndex.topk.calls", 0)
    return {
        "sources.txlog.log_versions": len(TxLog(main_store).versions()),
        "plans.pruning.files_opened_per_read": opened / reads if reads else 0.0,
        "plans.pruning.useful_file_ratio": useful / opened if opened else 0.0,
        "sources.chunk_store.files_per_chunk": files_per_chunk(main_store),
        "streaming.sync.bulk_share":
            c.get("streaming.sync.SyncClient._pull_bulk.calls", 0) / pulls if pulls else 0.0,
        "sources.vector_index.topk.files_opened": tracer.topk_files / topks if topks else 0.0,
    }


class Tracer:
    def __init__(self, enabled: bool, event_dir: str | None = None):
        self.enabled = enabled
        self.event_dir = event_dir
        self.spans: list[dict] = []
        self.counts: dict[str, int] = {}
        self.op_id = 0
        self._next_id = 0
        self._lock = threading.Lock()
        self._local = threading.local()
        self._main = threading.get_ident()
        self._main_stack: list[dict] = []
        self._undo: list[tuple] = []
        self._sc = None
        #: job-group prefix, unique per tracer: a session can outlive one
        self._group = f"pb{uuid.uuid4().hex[:8]}-"
        #: files keyed reads opened, and how many of them held the key
        self._pending: list[tuple] = []
        self.opened_files = 0
        self.useful_files = 0
        self.topk_files = 0

    # -- session -----------------------------------------------------------
    def spark_conf(self) -> dict[str, str]:
        """Extra session conf of a traced run: an uncompressed event log,
        and status-tracker retention large enough for every job."""
        if not self.enabled:
            return {}
        os.makedirs(self.event_dir, exist_ok=True)
        return {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.abspath(self.event_dir),
            "spark.eventLog.compress": "false",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        }

    def attach(self, spark) -> None:
        self._sc = spark.sparkContext

    # -- spans -------------------------------------------------------------
    def _stack(self) -> list[dict]:
        if threading.get_ident() == self._main:
            return self._main_stack
        st = getattr(self._local, "stack", None)
        if st is None:
            # a pool thread (io_util.overlap_jobs) nests under whatever
            # the blocked main thread has open
            st = self._local.stack = []
        return st

    def _parent(self, stack: list[dict]) -> dict | None:
        if stack:
            return stack[-1]
        if threading.get_ident() != self._main and self._main_stack:
            return self._main_stack[-1]
        return None

    def open_names(self) -> list[str]:
        st = self._stack()
        names = [s["name"] for s in st]
        if threading.get_ident() != self._main:
            names = [s["name"] for s in self._main_stack] + names
        return names

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        parent = self._parent(stack)
        if parent is not None and parent["name"] == name:
            yield parent
            return
        self.count(name + ".calls")
        with self._lock:
            sid = self._next_id
            self._next_id += 1
        sp = {"id": sid, "name": name, "parent": None if parent is None else parent["id"],
              "op": self.op_id, "start": time.time(), "end": None}
        prev = None
        if self._sc is not None:
            prev = self._sc.getLocalProperty("spark.jobGroup.id")
            self._sc.setLocalProperty("spark.jobGroup.id", f"{self._group}{sid}")
        stack.append(sp)
        try:
            yield sp
        finally:
            stack.pop()
            sp["end"] = time.time()
            if self._sc is not None:
                self._sc.setLocalProperty("spark.jobGroup.id", prev)
            with self._lock:
                self.spans.append(sp)

    def count(self, name: str, n: int = 1) -> None:
        if self.enabled:
            with self._lock:
                self.counts[name] = self.counts.get(name, 0) + n

    # -- patching ----------------------------------------------------------
    def install(self) -> None:
        """Patch every target at its defining module and at each loaded
        ``holcstore_spark`` module that imported it by name."""
        if not self.enabled:
            return
        for module, attr in SPAN_TARGETS:
            name = layer_name(module, attr)
            if attr == "ChunkStore.get_ts_local" or attr == "ChunkStore.get_ts":
                self._patch(module, attr, self._read_wrapper(name))
            elif attr == "SyncClient.pull":
                self._patch(module, attr, self._pull_wrapper(name))
            else:
                self._patch(module, attr, self._span_wrapper(name))
        for module, attr in COUNT_TARGETS:
            self._patch(module, attr, self._count_wrapper(layer_name(module, attr)))
        self._patch("holcstore_spark.plans.pruning", "entry_may_match_keys",
                    self._pruning_wrapper)
        from pyspark.sql.readwriter import DataFrameReader

        orig = DataFrameReader.parquet
        tracer = self

        @functools.wraps(orig)
        def parquet(reader, *paths, **kw):
            if TOPK_SPAN in tracer.open_names():
                tracer.topk_files += len(paths)
            return orig(reader, *paths, **kw)

        DataFrameReader.parquet = parquet
        self._undo.append((DataFrameReader, "parquet", orig))

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._undo):
            setattr(owner, attr, orig)
        self._undo.clear()

    def _patch(self, module: str, attr: str, make) -> None:
        mod = importlib.import_module(module)
        owner, fn_name = mod, attr
        if "." in attr:
            cls_name, fn_name = attr.split(".")
            owner = getattr(mod, cls_name)
        orig = owner.__dict__[fn_name] if isinstance(owner, type) else getattr(owner, fn_name)
        wrapped = make(orig)
        setattr(owner, fn_name, wrapped)
        self._undo.append((owner, fn_name, orig))
        if isinstance(owner, type):
            return
        # module-level function: also replace the name in every module
        # that bound it with ``from … import``
        for other in list(sys.modules.values()):
            if other is None or other is mod:
                continue
            if not getattr(other, "__name__", "").startswith("holcstore_spark"):
                continue
            if other.__dict__.get(fn_name) is orig:
                setattr(other, fn_name, wrapped)
                self._undo.append((other, fn_name, orig))

    def _span_wrapper(self, name: str):
        def make(orig):
            @functools.wraps(orig)
            def wrapper(*a, **kw):
                with self.span(name):
                    return orig(*a, **kw)
            return wrapper
        return make

    def _count_wrapper(self, name: str):
        def make(orig):
            @functools.wraps(orig)
            def wrapper(*a, **kw):
                self.count(name + ".calls")
                return orig(*a, **kw)
            return wrapper
        return make

    def _read_wrapper(self, name: str):
        def make(orig):
            @functools.wraps(orig)
            def wrapper(store, *a, **kw):
                with self.span(name):
                    self._local.read_store = store.path
                    out = orig(store, *a, **kw)
                self._judge_read_files()
                return out
            return wrapper
        return make

    def _pull_wrapper(self, name: str):
        def make(orig):
            @functools.wraps(orig)
            def wrapper(*a, **kw):
                with self.span(name):
                    n = orig(*a, **kw)
                self.count(_metric(name) + ".states", int(n))
                return n
            return wrapper
        return make

    def _judge_read_files(self) -> None:
        """Whether each file the last read opened holds the key, decided
        at once (a later vacuum may delete the file)."""
        import pyarrow.dataset as pads

        for store, rel, key_values in self._pending:
            filt = None
            for k, vals in key_values.items():
                f = pads.field(k).isin(vals)
                filt = f if filt is None else filt & f
            ds = pads.dataset(os.path.join(store, rel))
            self.useful_files += ds.count_rows(filter=filt) > 0
            self.opened_files += 1
        self._pending.clear()

    def _pruning_wrapper(self, orig):
        tracer = self

        @functools.wraps(orig)
        def entry_may_match_keys(entry, key_values):
            ok = orig(entry, key_values)
            if ok and any(n in READ_SPANS for n in tracer.open_names()):
                tracer._pending.append(
                    (tracer._local.read_store, entry["path"],
                     {k: list(v) for k, v in key_values.items()}))
            return ok
        return entry_may_match_keys

    # -- folding -----------------------------------------------------------
    def job_counts(self) -> dict[int, tuple[int, int]]:
        """span id → (jobs, tasks) from the status tracker (call before
        the session stops)."""
        st = self._sc.statusTracker()
        out = {}
        for sp in self.spans:
            jobs = st.getJobIdsForGroup(f"{self._group}{sp['id']}")
            tasks = 0
            for j in jobs:
                info = st.getJobInfo(j)
                for s in (info.stageIds if info else []):
                    si = st.getStageInfo(s)
                    if si is not None:
                        tasks += si.numTasks
            out[sp["id"]] = (len(jobs), tasks)
        return out

    def event_log_jobs(self) -> dict[int, list[dict]]:
        """span id → its jobs' interval and task metrics, from the event
        log (call after the session stopped, so the log is complete)."""
        files = sorted(f for f in glob.glob(os.path.join(self.event_dir, "**"), recursive=True)
                       if os.path.isfile(f) and "appstatus" not in os.path.basename(f))
        jobs: dict[int, dict] = {}
        stage_job: dict[int, int] = {}
        for path in files:
            with open(path) as f:
                for line in f:
                    ev = json.loads(line)
                    kind = ev.get("Event")
                    if kind == "SparkListenerJobStart":
                        group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                        jid = ev["Job ID"]
                        jobs[jid] = {"group": group, "start": ev["Submission Time"] / 1e3,
                                     "end": None, "cpu": 0.0, "shuffle": 0, "spill": 0}
                        for s in ev.get("Stage IDs", []):
                            stage_job[s] = jid
                    elif kind == "SparkListenerJobEnd":
                        if ev["Job ID"] in jobs:
                            jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1e3
                    elif kind == "SparkListenerTaskEnd":
                        jid = stage_job.get(ev.get("Stage ID"))
                        tm = ev.get("Task Metrics") or {}
                        if jid is None or jid not in jobs:
                            continue
                        j = jobs[jid]
                        j["cpu"] += tm.get("Executor CPU Time", 0) / 1e9
                        j["shuffle"] += (tm.get("Shuffle Write Metrics") or {}).get(
                            "Shuffle Bytes Written", 0)
                        j["spill"] += tm.get("Memory Bytes Spilled", 0) + tm.get(
                            "Disk Bytes Spilled", 0)
        out: dict[int, list[dict]] = {}
        for j in jobs.values():
            if j["group"].startswith(self._group):
                out.setdefault(int(j["group"][len(self._group):]), []).append(j)
        return out

    def fold(self, jobs_tasks: dict, ev_jobs: dict) -> dict[str, float]:
        """Per-layer totals by span name. Jobs count toward the span that
        launched them and every enclosing span; a span's ``driver_s`` is
        its wall time outside the union of those jobs' intervals."""
        by_id = {sp["id"]: sp for sp in self.spans}
        inclusive: dict[int, list[int]] = {sid: [sid] for sid in by_id}
        for sid in by_id:
            p = by_id[sid]["parent"]
            while p is not None and p in by_id:
                inclusive[p].append(sid)
                p = by_id[p]["parent"]
        out: dict[str, float] = {}

        def add(key, v):
            out[key] = out.get(key, 0.0) + v

        for sid, sp in by_id.items():
            m = _metric(sp["name"])
            add(m + ".s", sp["end"] - sp["start"])
            jobs = [j for d in inclusive[sid] for j in ev_jobs.get(d, [])]
            add(m + ".spark_jobs", sum(jobs_tasks.get(d, (0, 0))[0] for d in inclusive[sid]))
            add(m + ".spark_tasks", sum(jobs_tasks.get(d, (0, 0))[1] for d in inclusive[sid]))
            add(m + ".executor_cpu_s", sum(j["cpu"] for j in jobs))
            add(m + ".shuffle_bytes", sum(j["shuffle"] for j in jobs))
            add(m + ".spill_bytes", sum(j["spill"] for j in jobs))
            ivs = sorted((max(j["start"], sp["start"]), min(j["end"] or sp["end"], sp["end"]))
                         for j in jobs)
            busy, cur_s, cur_e = 0.0, None, None
            for s, e in ivs:
                if e <= s:
                    continue
                if cur_e is None or s > cur_e:
                    if cur_e is not None:
                        busy += cur_e - cur_s
                    cur_s, cur_e = s, e
                else:
                    cur_e = max(cur_e, e)
            if cur_e is not None:
                busy += cur_e - cur_s
            add(m + ".driver_s", max(0.0, sp["end"] - sp["start"] - busy))
        for k, v in self.counts.items():
            out[_metric(k)] = out.get(_metric(k), 0) + v
        return out

    def dump(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"spans": self.spans, **extra}, f)

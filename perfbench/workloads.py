"""The benchmark's two workloads. Each is a closed loop with one client
that drives the library through its public API, checks every result
against a model it computes itself, and returns its set-up durations.

A run with ``ctx.phases`` set (every traced run) adds one phase after
the timed region whose layers only the per-layer metrics report:
replication (``SyncClient.pull``) after ``point_serve``, the corpus
indexes (``BandIndex``/``VectorIndex``) after ``bulk_analytics``.

Values come from a closed form both Spark and numpy evaluate exactly
(multiples of 1/8 below 2**10, so every sum is exact in float64); keys,
holes, duplicates and Zipf draws come from the run's seed.
"""

from __future__ import annotations

import hashlib
import shutil
import time
from datetime import datetime

import numpy as np
import pandas as pd

from layers import files_per_chunk
from run import SETUP_REPEATS, dir_bytes

BASE = pd.Timestamp("2024-01-01", tz="UTC")
BASE_S = int(BASE.timestamp())
HOUR = 3600
STORE_TZ = "UTC"


def month_start(m: int) -> int:
    """Hour offset of the start of month ``m`` (0 = January 2024)."""
    return int((BASE + pd.DateOffset(months=m) - BASE) / pd.Timedelta(hours=1))


def params(rng) -> dict:
    """Closed-form constants. The multipliers are fixed so that every seed
    gives data of the same compressibility; the seed shifts values and
    hole days through ``s``."""
    return {"a": 7919, "b": 31, "c": 5, "s": int(rng.integers(0, 1009))}


def value_np(k, h, ver: int, p: dict):
    return ((k * p["a"] + (h // 6) * p["b"] + ver * 101 + p["s"]) % 1009) / 8.0


def hole_np(k, h, ver: int, p: dict):
    """Planted holes: some days of some keys lose a block of hours."""
    d = h // 24
    if ver == 1:
        return ((k * p["c"] + d * 7 + p["s"]) % 23 == 0) & ((h % 24) < 1 + (k + d) % 12)
    return ((k * p["c"] + d * 5 + p["s"]) % 19 == 0) & ((h % 24) >= 12)


def long_frame(spark, keys: list[int], h0: int, h1: int, ver: int, p: dict,
               holes: bool = False):
    """Long ``(sid, ts, value)`` rows of ``keys`` over hours [h0, h1),
    computed in Spark from the same closed form as :func:`value_np`."""
    from pyspark.sql import functions as F

    kdf = spark.createDataFrame([(int(k),) for k in keys], "k long")
    df = kdf.crossJoin(spark.range(h0, h1).withColumnRenamed("id", "h"))
    k, h = F.col("k"), F.col("h")
    v = ((k * p["a"] + F.floor(h / 6) * p["b"] + ver * 101 + p["s"]) % 1009) / 8.0
    if holes:
        d = F.floor(h / 24)
        if ver == 1:
            hole = (((k * p["c"] + d * 7 + p["s"]) % 23 == 0)
                    & ((h % 24) < 1 + (k + d) % 12))
        else:
            hole = ((k * p["c"] + d * 5 + p["s"]) % 19 == 0) & ((h % 24) >= 12)
        df = df.filter(~hole)
    return df.select(F.format_string("s%04d", k).alias("sid"),
                     F.timestamp_seconds(h * HOUR + BASE_S).alias("ts"),
                     v.alias("value"))


def sid(k: int) -> str:
    return f"s{int(k):04d}"


def zipf_probs(rng, n: int, s: float = 1.1) -> np.ndarray:
    w = 1.0 / np.arange(1, n + 1) ** s
    p = np.empty(n)
    p[rng.permutation(n)] = w / w.sum()
    return p


def store_config(sync: bool = False):
    from holcstore_spark import ChunkStoreConfig

    return ChunkStoreConfig(keys=("sid",), freq="1h", tz=STORE_TZ,
                            chunk_axis=("year", "month"), allow_sync=sync,
                            key_types={"sid": "str"}, acid=True)


def series_matches(s, model_row: np.ndarray, h0: int) -> bool:
    """A read (``drop_bounds_na`` on) against the model slice starting
    at hour ``h0``: same timestamps, same values, NaN where NaN."""
    ok = ~np.isnan(model_row)
    if not ok.any():
        return s is None
    lo, hi = int(np.argmax(ok)), len(ok) - int(np.argmax(ok[::-1]))
    want = model_row[lo:hi]
    if s is None or len(s) != len(want):
        return False
    hours = (s.index.asi8 // 10**9 - BASE_S) // HOUR
    return (np.array_equal(hours, np.arange(h0 + lo, h0 + hi))
            and np.array_equal(s.to_numpy(dtype=float), want, equal_nan=True))


def window(h0: int, h1: int):
    """Inclusive read bounds of hours [h0, h1) as store-tz timestamps."""
    return (BASE + pd.Timedelta(hours=h0), BASE + pd.Timedelta(hours=h1 - 1))


def digest(*parts) -> str:
    h = hashlib.sha256()
    for p in parts:
        h.update(repr(p).encode())
    return h.hexdigest()[:16]


# ---------------------------------------------------------------------------
# point_serve
# ---------------------------------------------------------------------------
#: store shape: keys x months of hourly points
PS_KEYS, PS_MONTHS = 16, 2
#: background cycle (optimize + vacuum) every this many writes
WRITES_PER_CYCLE = 2
#: writes before the timed region (one background cycle)
WARMUP_WRITES = 2
#: the op mix, drawn as shuffled blocks: 90 % get_ts_local, 5 % get_ts,
#: 5 % set_ts. No source in the repository gives a call mix; this one is
#: an assumption (a read-mostly serving store) and stays fixed
OP_BLOCK = ["l"] * 18 + ["r"] + ["w"]
#: the timed region stops only between units of this many blocks, which
#: hold whole background cycles: every run measures the same op mix
BLOCKS_PER_UNIT = WRITES_PER_CYCLE // OP_BLOCK.count("w")
#: timed writes a run makes at least (three units)
MIN_WRITES = 6
#: store bytes per point are taken after this many writes: the metadata
#: each write leaves grows the store, so a time-bound figure would
#: depend on the write rate
BYTES_AT_WRITES = 4


def point_serve(ctx) -> list[float]:
    from holcstore_spark.sources.chunk_store import ChunkStore

    spark, rng = ctx.spark, ctx.rng
    nk = max(4, int(PS_KEYS * ctx.scale))
    months = PS_MONTHS
    H = month_start(months)
    p = params(rng)
    keys = list(range(nk))
    builds = []
    for i in range(SETUP_REPEATS):
        path = ctx.path(f"store{i}")
        t = time.perf_counter()
        store = ChunkStore(spark, path, store_config())
        store.ingest_long(long_frame(spark, keys, 0, H, 1, p), mode="insert")
        builds.append(time.perf_counter() - t)
        if i < SETUP_REPEATS - 1:
            shutil.rmtree(path)
    model = value_np(np.arange(nk)[:, None], np.arange(H)[None, :], 1, p)
    zp = zipf_probs(rng, nk)
    hot = months - 1
    hot_h0, hot_h1 = month_start(hot), month_start(months)
    ops_log = []
    state = {"writes": 0}
    ctx.detail["steady"] = []

    def write(timed: bool):
        k = int(rng.choice(nk, p=zp))
        d = int(rng.integers(0, (hot_h1 - hot_h0) // 24 - 7 + 1))
        h0 = hot_h0 + 24 * d
        vals = value_np(k, np.arange(h0, h0 + 168), 100 + state["writes"], p)
        vals[rng.random(168) < 0.05] = np.nan
        ser = pd.Series(vals, index=pd.date_range(BASE + pd.Timedelta(hours=h0),
                                                  periods=168, freq="1h"))
        ops_log.append(("w", k, h0))
        with ctx.op("write" if timed else None):
            store.set_ts({"sid": sid(k)}, ser, update=True)
        seg = model[k, h0:h0 + 168]
        model[k, h0:h0 + 168] = np.where(np.isnan(vals), seg, vals)
        state["writes"] += 1
        if state["writes"] % WRITES_PER_CYCLE == 0:
            with ctx.op("background"):
                store.optimize()
                store.vacuum(retention_seconds=0)
            ctx.detail["steady"].append({
                "writes": state["writes"],
                "files_per_chunk": files_per_chunk(store.path),
                "bytes_per_point": dir_bytes(store.path) / np.count_nonzero(~np.isnan(model)),
            })
            if state["writes"] == BYTES_AT_WRITES:
                ctx.detail["bytes_per_point"] = ctx.detail["steady"][-1]["bytes_per_point"]

    def read(local: bool):
        k = int(rng.choice(nk, p=zp))
        m = hot if rng.random() < 0.6 else int(rng.integers(0, months))
        h0, h1 = month_start(m), month_start(m + 1)
        ops_log.append(("l" if local else "r", k, h0))
        lo, hi = window(h0, h1)
        fn = store.get_ts_local if local else store.get_ts
        with ctx.op("read" if local else "spark_read"):
            s = fn({"sid": sid(k)}, lo, hi)
        ctx.check(series_matches(s, model[k, h0:h1], h0),
                  f"point_serve {'local' if local else 'spark'} read {k} @ {h0}")

    for _ in range(WARMUP_WRITES):
        write(False)
    ctx.need["write"] = MIN_WRITES if ctx.iters is None else 0
    ctx.start_clock()
    t0, i, block, blocks = time.perf_counter(), 0, [], 0
    while not ctx.failed:
        if not block:
            if blocks % BLOCKS_PER_UNIT == 0 and not ctx.more(i):
                break
            block = list(rng.permutation(OP_BLOCK))
            blocks += 1
        op = block.pop()
        if op == "w":
            write(True)
        else:
            read(op == "l")
        i += 1
    ctx.add("items", i)
    ctx.add("items_s", time.perf_counter() - t0)
    ctx.detail.setdefault("bytes_per_point", ctx.detail["steady"][-1]["bytes_per_point"])
    ctx.detail.update(
        main_store=store.path,
        digest=digest(p, ops_log, float(np.nansum(model))),
        op_metrics=_named(ctx, {"local_read": "read", "spark_read": "spark_read",
                                   "write": "write"}),
    )
    if ctx.phases:
        ctx.detail["op_metrics"].update(replicate(ctx, SYNC_ROUNDS))
    return builds


# ---------------------------------------------------------------------------
# bulk_analytics
# ---------------------------------------------------------------------------
BA_KEYS, BA_MONTHS = 32, 3
READS_PER_CYCLE = 60
#: the reads of a cycle are spread over this many points: after the
#: update and after each of the five steps of the operator chain, so
#: that their latencies sample the whole cycle, not one moment of it
READ_SLOTS = 6


def bulk_analytics(ctx) -> list[float]:
    from pyspark.sql import functions as F

    from holcstore_spark.operators.grid import completeness_holes
    from holcstore_spark.operators.intervals import merge_intervals
    from holcstore_spark.operators.islands import constant_runs
    from holcstore_spark.operators.overlay import overlay_merge
    from holcstore_spark.sources.chunk_store import ChunkStore

    spark, rng = ctx.spark, ctx.rng
    nk = max(6, int(BA_KEYS * ctx.scale))
    months = BA_MONTHS if ctx.scale >= 1 else 2
    H = month_start(months)
    hu = month_start(1)
    p = params(rng)
    keys = list(range(nk))
    upd_keys = [k for k in keys if k % 2 == 0]
    builds = []
    for i in range(SETUP_REPEATS):
        ins_path, upd_path = ctx.path(f"in_ins{i}"), ctx.path(f"in_upd{i}")
        t = time.perf_counter()
        long_frame(spark, keys, 0, H, 1, p, holes=True).write.parquet(ins_path)
        long_frame(spark, upd_keys, hu, H, 2, p, holes=True).write.parquet(upd_path)
        builds.append(time.perf_counter() - t)
        if i < SETUP_REPEATS - 1:
            shutil.rmtree(ins_path)
            shutil.rmtree(upd_path)
    kk, hh = np.arange(nk)[:, None], np.arange(H)[None, :]
    v1 = np.where(hole_np(kk, hh, 1, p), np.nan, value_np(kk, hh, 1, p))
    v2 = np.where(hole_np(kk, hh, 2, p), np.nan, value_np(kk, hh, 2, p))
    v2[np.arange(nk) % 2 == 1, :] = np.nan
    v2[:, :hu] = np.nan
    model = np.where(np.isnan(v2), v1, v2)
    n_ins = int(np.count_nonzero(~np.isnan(v1)))
    n_upd = int(np.count_nonzero(~np.isnan(v2)))
    live = int(np.count_nonzero(~np.isnan(model)))
    exp_sum = float(np.nansum(model))
    exp_holes, exp_runs, exp_spans = _closed_form_runs(model)
    grid_rows = nk * H
    start, end = datetime(2024, 1, 1), (BASE + pd.Timedelta(hours=H - 1)).tz_localize(None).to_pydatetime()
    ops_log = []

    def reads(store):
        for _ in range(READS_PER_CYCLE // READ_SLOTS):
            k = int(rng.integers(0, nk))
            m = int(rng.integers(0, months))
            h0, h1 = month_start(m), month_start(m + 1)
            ops_log.append((k, m))
            with ctx.op("read"):
                s = store.get_ts_local({"sid": sid(k)}, *window(h0, h1))
            ctx.check(series_matches(s, model[k, h0:h1], h0), f"bulk read {k} m{m}")

    ctx.start_clock()
    i = 0
    while ctx.more(i):
        if i:
            shutil.rmtree(ctx.path(f"store{i - 1}"), ignore_errors=True)
        store = ChunkStore(spark, ctx.path(f"store{i}"), store_config())
        with ctx.op("insert", "sources.chunk_store.ChunkStore.ingest_long"):
            store.ingest_long(spark.read.parquet(ins_path), mode="insert")
        with ctx.op("write", "sources.chunk_store.ChunkStore.ingest_long"):
            store.ingest_long(spark.read.parquet(upd_path), mode="update")
        reads(store)
        # the operator chain: each result is consumed inside its span
        with ctx.op("chain", "sources.chunk_store.ChunkStore.alive_data"):
            r = store.alive_data().agg(F.count("value"), F.sum("value")).collect()[0]
        ctx.check((r[0], r[1]) == (live, exp_sum), f"alive count/sum {tuple(r)}")
        reads(store)
        with ctx.op("chain", "operators.overlay.overlay_merge"):
            u = (spark.read.parquet(ins_path).withColumn("version", F.lit(1))
                 .unionByName(spark.read.parquet(upd_path).withColumn("version", F.lit(2))))
            r = overlay_merge(u, ("sid",)).agg(F.count("value"), F.sum("value")).collect()[0]
        ctx.check((r[0], r[1]) == (live, exp_sum), f"overlay count/sum {tuple(r)}")
        reads(store)
        with ctx.op("chain", "operators.grid.completeness_holes"):
            holes = completeness_holes(store.alive_data(), ("sid",), HOUR, start, end)
            got = holes.select("sid", F.unix_micros("hole_start").alias("s"),
                               F.unix_micros("hole_end").alias("e")).collect()
        got = sorted((int(r["sid"][1:]), (r["s"] // 10**6 - BASE_S) // HOUR,
                      (r["e"] // 10**6 - BASE_S) // HOUR) for r in got)
        ctx.check(got == exp_holes, f"holes: {len(got)} vs {len(exp_holes)}")
        reads(store)
        with ctx.op("chain", "operators.islands.constant_runs"):
            runs = constant_runs(store.alive_data(), ("sid",))
            r = runs.agg(F.count("*"), F.sum("run_len"),
                         F.sum(F.col("value") * F.col("run_len"))).collect()[0]
        ctx.check((r[0], r[1], r[2]) == (exp_runs, grid_rows, exp_sum),
                  f"constant runs {tuple(r)}")
        reads(store)
        with ctx.op("chain", "operators.intervals.merge_intervals"):
            spans = runs.filter(F.col("value").isNotNull()).select(
                "sid", F.col("run_start").alias("start"),
                (F.col("run_end") + F.expr("INTERVAL 1 HOUR")).alias("end"))
            merged = merge_intervals(spans, keys=("sid",))
            r = merged.agg(F.count("*"), F.sum(F.unix_seconds("end") - F.unix_seconds("start"))
                           ).collect()[0]
        ctx.check((r[0], r[1]) == (exp_spans, live * HOUR), f"merged spans {tuple(r)}")
        reads(store)
        ctx.detail.setdefault("bytes_per_point", dir_bytes(store.path) / live)
        ctx.add("analytics_rows", 3 * grid_rows + n_ins + n_upd + exp_runs)
        i += 1
    ins_s, upd_s = sum(ctx.samples["insert"]), sum(ctx.samples["write"])
    chain_s = sum(ctx.samples["chain"])
    ctx.add("items", i * (n_ins + n_upd) + ctx.totals["analytics_rows"])
    ctx.add("items_s", ins_s + upd_s + chain_s)
    ctx.detail.update(
        main_store=ctx.path(f"store{i - 1}"),
        digest=digest(p, ops_log, exp_sum, exp_holes[:50], exp_runs),
        op_metrics=dict(
            _named(ctx, {"local_read": "read"}),
            ingest_rows_per_s=i * n_ins / ins_s,
            update_rows_per_s=i * n_upd / upd_s,
            analytics_rows_per_s=ctx.totals["analytics_rows"] / chain_s),
    )
    if ctx.phases:
        corpus = Corpus(ctx)
        corpus.build()
        corpus.search()
        corpus.cycle()
        ctx.detail["op_metrics"].update(corpus.metrics())
        ctx.detail["corpus_digest"] = digest(corpus.log, float(np.sum(corpus.vecs)))
    return builds


def _closed_form_runs(model: np.ndarray):
    """Expected holes (NaN runs), constant-run count and non-NaN span
    count of every key row."""
    holes, runs, spans = [], 0, 0
    for k, row in enumerate(model):
        nan = np.isnan(row)
        edges = np.flatnonzero(np.diff(nan.astype(np.int8)))
        starts = np.r_[0, edges + 1]
        ends = np.r_[edges, len(row) - 1]
        for s, e in zip(starts, ends):
            if nan[s]:
                holes.append((k, int(s), int(e)))
            else:
                spans += 1
        same = (row[1:] == row[:-1]) | (nan[1:] & nan[:-1])
        runs += 1 + int(np.count_nonzero(~same))
    return holes, runs, spans


# ---------------------------------------------------------------------------
# the replication phase of point_serve: change feed, tombstones, import
# ---------------------------------------------------------------------------
SR_KEYS = 12
KEYS_UPDATED_PER_ROUND = 4
READS_PER_ROUND = 60
#: rounds of a traced run
SYNC_ROUNDS = 1


def replicate(ctx, rounds: int) -> dict[str, float]:
    """A sync-enabled source and a replica bootstrapped from it by one
    full pull. Each round writes a brand-new month for every live key
    and pulls (the bulk path), then rewrites a week of last month for a
    few keys, deletes one other key and pulls again (the paged path, with
    a tombstone), then reads the replica. Every round deletes a key, so
    at most ``keys - 1`` rounds run. Returns the phase's figures."""
    from pyspark.sql import functions as F

    from holcstore_spark.sources.chunk_store import ChunkStore
    from holcstore_spark.streaming.sync import SyncClient

    spark, rng = ctx.spark, ctx.rng
    nk = max(6, int(SR_KEYS * ctx.scale))
    m0 = 1
    p = params(rng)
    keys = list(range(nk))
    src = ChunkStore(spark, ctx.path("sync_src"), store_config(sync=True))
    src.ingest_long(long_frame(spark, keys, 0, month_start(m0), 1, p), mode="update")
    rep = ChunkStore(spark, ctx.path("sync_rep"), store_config(sync=True))
    client = SyncClient(src, rep)
    client.pull()
    # the last round still needs a victim and one other live key to update
    rounds = min(rounds, nk - 1)
    H = month_start(m0 + rounds + 1)
    model = np.full((nk, H), np.nan)
    model[:, :month_start(m0)] = value_np(np.arange(nk)[:, None],
                                          np.arange(month_start(m0))[None, :], 1, p)
    alive = list(keys)
    deleted: list[int] = []
    ops_log = []
    for r in range(rounds):
        m = m0 + r
        h0, h1 = month_start(m), month_start(m + 1)
        # a brand-new month for every live key: the bulk path
        src.ingest_long(long_frame(spark, alive, h0, h1, 10 + r, p), mode="update")
        model[alive, h0:h1] = value_np(np.array(alive)[:, None], np.arange(h0, h1)[None, :],
                                       10 + r, p)
        _timed_pull(ctx, client)
        # a week rewritten inside last month for a few keys, one other
        # key deleted: the paged path, with a tombstone
        victim = int(rng.choice(alive))
        upd = sorted(set(int(k) for k in rng.choice([k for k in alive if k != victim],
                                                    KEYS_UPDATED_PER_ROUND)))
        pm0, pm1 = month_start(m - 1), month_start(m)
        w0 = pm0 + 24 * int(rng.integers(0, (pm1 - pm0) // 24 - 7 + 1))
        src.ingest_long(long_frame(spark, upd, w0, w0 + 168, 20 + r, p), mode="update")
        model[upd, w0:w0 + 168] = value_np(np.array(upd)[:, None],
                                           np.arange(w0, w0 + 168)[None, :], 20 + r, p)
        src.delete({"sid": sid(victim)})
        alive.remove(victim)
        deleted.append(victim)
        ops_log.append((m, upd, w0, victim))
        _timed_pull(ctx, client)
        with ctx.op(None):
            gone = rep.get_ts_local({"sid": sid(victim)}, *window(pm0, h1))
        ctx.check(gone is None, f"replica read of deleted key {victim}")
        for _ in range(READS_PER_ROUND):
            k = int(rng.choice(upd)) if rng.random() < 0.5 else int(rng.choice(alive))
            mm = m - 1 if rng.random() < 0.5 else m
            a, b = month_start(mm), month_start(mm + 1)
            with ctx.op("replica_read"):
                s = rep.get_ts_local({"sid": sid(k)}, *window(a, b))
            ctx.check(series_matches(s, model[k, a:b], a), f"replica read {k} m{mm}")
    # final state: replica equals source equals model, tombstones included
    per_key = [F.count("value").alias("n"), F.sum("value").alias("s")]
    got_src = {row["sid"]: (row["n"], row["s"]) for row in
               src.alive_data().groupBy("sid").agg(*per_key).collect()}
    got_rep = {row["sid"]: (row["n"], row["s"]) for row in
               rep.alive_data().groupBy("sid").agg(*per_key).collect()}
    want = {sid(k): (int(np.count_nonzero(~np.isnan(model[k]))), float(np.nansum(model[k])))
            for k in alive}
    ctx.check(got_src == want, "source alive data vs model")
    ctx.check(got_rep == want, "replica alive data vs source")
    tomb = [(row["sid"], row["chunk_index"]) for row in
            src.latest_meta().filter(F.col("is_deleted")).select("sid", "chunk_index").collect()]
    tomb_rep = [(row["sid"], row["chunk_index"]) for row in
                rep.latest_meta().filter(F.col("is_deleted")).select("sid", "chunk_index").collect()]
    ctx.check(sorted(tomb) == sorted(tomb_rep) and {t[0] for t in tomb} == {sid(k) for k in deleted},
              "replica tombstones vs source")
    pulls = ctx.samples["pull"]
    ctx.detail["sync_digest"] = digest(p, ops_log, sorted(want.items()))
    return dict(
        _named(ctx, {"replica_read": "replica_read"}),
        sync_rounds=rounds,
        sync_pull_p50_s=float(np.median([a + b for a, b in zip(pulls[::2], pulls[1::2])])),
        sync_chunks_per_s=ctx.totals["sync_states"] / sum(pulls),
        replica_bytes_per_point=dir_bytes(rep.path) / np.count_nonzero(~np.isnan(model[alive])))


def _timed_pull(ctx, client) -> None:
    with ctx.op("pull"):
        n = client.pull()
    ctx.add("sync_states", n)


# ---------------------------------------------------------------------------
# the corpus phase of bulk_analytics: near-duplicate filtering and ANN search
# ---------------------------------------------------------------------------
VOCAB = 3000
WORDS_PER_DOC = 24
HISTORY_DOCS = 100
BATCH_DOCS = 100
DUP_SHARE = 0.1
DIM = 32
HISTORY_VECS = 200
QUERIES = 16
K = 5
#: query ids are offset from vector ids: a search never returns a
#: neighbour with the query's own id
QUERY_ID_OFFSET = 10**9


class Corpus:
    """Seeded documents (a DUP_SHARE of exact copies of earlier ones)
    and integer embeddings, a persisted BandIndex and VectorIndex over
    them, and the checks of each batch."""

    def __init__(self, ctx):
        from pyspark.sql import types as T

        self.ctx = ctx
        self.texts: list[str] = []
        self.vecs: list[np.ndarray] = []
        self.kept_total = 0
        self.log: list = []
        self.doc_schema = T.StructType([T.StructField("doc_id", T.LongType()),
                                        T.StructField("text", T.StringType())])
        self.vec_schema = "vec_id long, embedding array<double>"
        sc = max(ctx.scale, 0.1)
        self.history = self.docs(int(HISTORY_DOCS * sc))[0]
        self.history_vecs = self.new_vecs(int(HISTORY_VECS * sc))

    def docs(self, n: int):
        """``n`` fresh documents; returns (frame, planted duplicate ids)."""
        rng, first, dups = self.ctx.rng, len(self.texts), []
        for j in range(n):
            if self.texts and rng.random() < DUP_SHARE:
                self.texts.append(self.texts[int(rng.integers(0, len(self.texts)))])
                dups.append(first + j)
            else:
                self.texts.append(" ".join(f"w{w}" for w in rng.integers(0, VOCAB, WORDS_PER_DOC)))
        rows = [(first + j, self.texts[first + j]) for j in range(n)]
        return self.ctx.spark.createDataFrame(rows, self.doc_schema), dups

    def new_vecs(self, n: int):
        first = len(self.vecs)
        self.vecs.extend(self.ctx.rng.integers(-100, 101, (n, DIM)).astype(float))
        rows = [(first + j, self.vecs[first + j].tolist()) for j in range(n)]
        return self.ctx.spark.createDataFrame(rows, self.vec_schema)

    def build(self) -> None:
        """Index the history into fresh indexes: the VectorIndex's first
        append trains its centroids."""
        from holcstore_spark.sources.band_index import BandIndex
        from holcstore_spark.sources.vector_index import VectorIndex

        spark = self.ctx.spark
        self.bi = BandIndex(spark, self.ctx.path("bands"))
        self.kept_total = self.bi.ingest(self.history, txn_app="perfbench",
                                         txn_version=0).count()
        self.vi = VectorIndex(spark, self.ctx.path("vectors"), n_lists=8, iters=2, dim=DIM)
        self.vi.append(self.history_vecs, txn_app="perfbench", txn_version=0)

    def cycle(self) -> None:
        """One batch through BandIndex.ingest, checked against the
        in-memory operator."""
        from holcstore_spark.operators.dedup import dedup_incremental

        ctx, spark, rng = self.ctx, self.ctx.spark, self.ctx.rng
        n_docs = int(BATCH_DOCS * max(ctx.scale, 0.1))
        batch, dups = self.docs(n_docs)
        before = self.bi.df()
        t = time.perf_counter()
        with ctx.op("dedup", "sources.band_index.BandIndex.ingest"):
            kept = {r[0] for r in self.bi.ingest(batch, txn_app="perfbench", txn_version=1)
                    .select("doc_id").collect()}
        ctx.add("dedup_docs", n_docs)
        ctx.add("dedup_s", time.perf_counter() - t)
        want = {r[0] for r in dedup_incremental(batch, before, exclude_self=True)
                .select("doc_id").collect()}
        ctx.check(kept == want, f"band ingest kept {len(kept)} vs in-memory {len(want)}")
        ctx.check(not kept.intersection(dups), "planted exact duplicates dropped")
        self.kept_total += len(kept)
        self.log.append((len(self.texts), sorted(kept)))

    def search(self) -> None:
        """A batch of ``VectorIndex.topk`` queries, each an indexed vector
        under another id: its own vector must come back as the top hit."""
        ctx, spark, rng = self.ctx, self.ctx.spark, self.ctx.rng
        zp = zipf_probs(rng, len(self.vecs))
        ids = sorted(set(int(x) for x in rng.choice(len(self.vecs), QUERIES, p=zp)))
        q = spark.createDataFrame([(j + QUERY_ID_OFFSET, self.vecs[j].tolist()) for j in ids],
                                  self.vec_schema)
        with ctx.op("ann", "sources.vector_index.VectorIndex.topk"):
            res = self.vi.topk(q, k=K, n_probe=2).toPandas()
        top = res.sort_values(["q_id", "score", "neighbor_id"],
                              ascending=[True, False, True]).groupby("q_id").head(1)
        ctx.check(sorted(top["q_id"] - QUERY_ID_OFFSET) == ids
                  and bool((top["q_id"] - QUERY_ID_OFFSET == top["neighbor_id"]).all())
                  and bool((res.groupby("q_id").size() == K).all()),
                  "topk finds each indexed query vector as its own top hit")

    def metrics(self) -> dict[str, float]:
        ctx = self.ctx
        return {"dedup_docs_per_s": ctx.totals["dedup_docs"] / ctx.totals["dedup_s"],
                "ann_query_p50_ms": 1e3 * float(np.median(ctx.samples["ann"])),
                "ann_query_n": len(ctx.samples["ann"]),
                "index_bytes_per_item": (dir_bytes(self.bi.path) + dir_bytes(self.vi.path))
                / (self.kept_total + len(self.vecs))}


def _named(ctx, kinds: dict[str, str]) -> dict[str, float]:
    """Per-operation latency medians of a workload's sample lists."""
    out = {}
    for name, kind in kinds.items():
        xs = ctx.samples.get(kind, [])
        if xs:
            out[f"{name}_p50_ms"] = 1e3 * float(np.median(xs))
            out[f"{name}_n"] = len(xs)
    return out


def _share(op: str) -> int:
    return round(100 * OP_BLOCK.count(op) / len(OP_BLOCK))


#: each workload's ``why`` in BENCHMARK.json, built from the constants
#: above so the record cannot drift from the code
WHY = {
    "point_serve":
        f"Per-call fixed costs. 1 client, closed loop, local[nproc]; ACID store {PS_KEYS} keys"
        f" x {PS_MONTHS} months hourly; Zipf keys; {_share('l')}% get_ts_local,"
        f" {_share('r')}% get_ts, {_share('w')}% set_ts week; optimize+vacuum per"
        f" {WRITES_PER_CYCLE} writes; traced: +sync",
    "bulk_analytics":
        f"Spark execution + bulk writes. 1 client, closed loop, local[nproc]; ingest_long"
        f" {BA_KEYS} keys x {BA_MONTHS} months + update of half; {READS_PER_CYCLE} reads;"
        " overlay/holes/runs/intervals; traced: +BandIndex/VectorIndex",
}

WORKLOADS = {
    "point_serve": point_serve,
    "bulk_analytics": bulk_analytics,
}

#: loop length of a traced run, so per-layer counts repeat for a seed
TRACE_ITERS = {
    "point_serve": 40,
    "bulk_analytics": 1,
}

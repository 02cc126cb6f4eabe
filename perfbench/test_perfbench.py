"""Tests of the benchmark itself, at a tiny size:
``python3 -m pytest perfbench/test_perfbench.py -q`` from the repository root."""

from __future__ import annotations

import itertools
import json
import os
import shutil
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

import layers  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402

TINY = 0.2
EVENT_DIR = os.path.join(run.OUT, "test-eventlog")
_MARKERS = itertools.count()


@pytest.fixture(scope="module")
def spark():
    # the traced-run session conf: the status tracker must retain every
    # job of the module for the job counts to be complete, and traced
    # runs fold the event log this session writes
    s = run.start_session(layers.Tracer(True, EVENT_DIR), 2)
    yield s
    s.stop()
    run.stop_processes()


def _jobs_between(spark, fn):
    """Spark jobs launched by ``fn``: job ids are sequential, so the gap
    between two marker jobs counts everything in between."""
    sc = spark.sparkContext

    def marker(tag):
        sc.setJobGroup(tag, tag)
        spark.range(1).count()
        sc.setLocalProperty("spark.jobGroup.id", None)
        return sc.statusTracker().getJobIdsForGroup(tag)

    tag = f"marker{next(_MARKERS)}"
    first = max(marker(tag + "a"))
    out = fn()
    return min(marker(tag + "b")) - first - 1, out


def _run(spark, workload, seed, trace=False, iters=40, phases=None):
    return run.run(workload, seed, 1.0, trace, iters=iters, scale=TINY, spark=spark,
                   event_dir=EVENT_DIR, phases=phases)


def test_same_seed_same_inputs_and_digest_other_seed_differs(spark):
    a = _run(spark, "point_serve", 7)
    b = _run(spark, "point_serve", 7)
    c = _run(spark, "point_serve", 8)
    assert a["correct"] and b["correct"] and c["correct"]
    assert a["detail"]["digest"] == b["detail"]["digest"]
    assert a["detail"]["digest"] != c["detail"]["digest"]


def test_bulk_analytics_checks_pass_and_report_every_end_to_end_metric(spark):
    res = _run(spark, "bulk_analytics", 3, iters=1)
    assert res["correct"] and res["failed"] == 0 and res["attempted"] > 0
    assert set(res["metrics"]) == set(run.END_TO_END)
    assert all(m["value"] > 0 for m in res["metrics"].values())


def test_replication_runs_until_one_key_is_left(spark):
    workdir = os.path.join(run.OUT, "work", "test-replicate")
    shutil.rmtree(workdir, ignore_errors=True)
    os.makedirs(workdir)
    ctx = run.Ctx(spark, layers.Tracer(False), 5, 1.0, workdir, None, TINY)
    out = workloads.replicate(ctx, rounds=99)
    shutil.rmtree(workdir)
    assert ctx.attempted > 0 and ctx.failed == 0
    # tiny scale: 6 keys, one deleted per round; the last round still
    # has a victim and a key to update
    assert out["sync_rounds"] == 5
    assert len(ctx.samples["pull"]) == 2 * 5


def test_traced_run_emits_every_per_layer_metric(spark):
    res = _run(spark, "point_serve", 4, trace=True)
    assert res["correct"]
    assert list(res["metrics"]) == layers.PER_LAYER
    m = {k: v["value"] for k, v in res["metrics"].items()}
    # the replication phase: one bootstrap pull, then each round's bulk
    # and paged pulls
    pulls = 1 + 2 * workloads.SYNC_ROUNDS
    assert m["streaming.sync.SyncClient.pull.calls"] == pulls
    assert m["streaming.sync.SyncClient.pull.states"] > 0
    assert m["streaming.sync.bulk_share"] == (1 + workloads.SYNC_ROUNDS) / pulls
    assert m["sources.chunk_store.set_ts.calls"] > 0
    assert m["plans.pruning.files_opened_per_read"] > 0


def test_traced_run_folds_the_event_log(spark):
    res = _run(spark, "bulk_analytics", 6, trace=True, iters=1)
    assert res["correct"]
    m = {k: v["value"] for k, v in res["metrics"].items()}
    for op in ("overlay.overlay_merge", "grid.completeness_holes",
               "islands.constant_runs", "intervals.merge_intervals"):
        # the store calls some operators itself (update merges overlay)
        assert m[f"operators.{op}.calls"] >= 1
        assert m[f"operators.{op}.executor_cpu_s"] > 0
    # the corpus phase
    assert m["sources.band_index.BandIndex.ingest.executor_cpu_s"] > 0
    assert m["sources.vector_index.VectorIndex.topk.calls"] == 1
    assert m["sources.chunk_store.ingest_long.driver_s"] < m["sources.chunk_store.ingest_long.s"]


def test_untraced_run_launches_no_extra_spark_jobs(spark):
    # the same work both times: the traced run skips its extra phase
    plain, res0 = _jobs_between(spark, lambda: _run(spark, "point_serve", 9))
    traced, res1 = _jobs_between(
        spark, lambda: _run(spark, "point_serve", 9, trace=True, phases=False))
    assert res0["correct"] and res1["correct"]
    assert plain == traced
    # every job of the traced run was launched inside a library call
    assert res1["detail"]["jobs_in_spans"] == traced


def test_benchmark_json_matches_the_harness():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [m["name"] for m in spec["end_to_end"]] == list(run.END_TO_END)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert spec["per_layer"] == layers.per_layer_spec()
    assert [w["name"] for w in spec["workloads"]] == list(workloads.WORKLOADS)
    # the op mix, sizes and loop constants recorded in each ``why``
    assert {w["name"]: w["why"] for w in spec["workloads"]} == workloads.WHY
    assert all(len(w) <= 200 for w in workloads.WHY.values())

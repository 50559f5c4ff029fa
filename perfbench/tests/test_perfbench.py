"""The benchmark's own tests: generator, metric names, wrapper discipline
and that every correctness check can fail."""

from __future__ import annotations

import contextlib
import copy
import itertools
import json
import os
import shutil
import subprocess
import sys

import numpy as np
import pandas as pd
import pytest

import checks
import gen
import report
import run
import spans
import workloads
from conftest import BENCH
from spark_streaming_clustering_spark.session import get_spark
from spark_streaming_clustering_spark.streaming.estep import estep_local
from spark_streaming_clustering_spark.streaming.train import GStreamTrainer

ROOT = BENCH.parent


def _benchmark_json() -> dict:
    return json.loads((ROOT / "BENCHMARK.json").read_text())


def _grown_model(seed: int = 5):
    blobs = gen.Blobs(seed, 3)
    trainer = GStreamTrainer(None, nb_wind=10**6)
    gen.pregrow(trainer, blobs, 130, 40)
    return trainer.model, blobs.next_id


# --- generator ------------------------------------------------------------

def test_generator_is_deterministic_for_a_seed(tmp_path):
    def draw(seed, sub):
        blobs = gen.Blobs(seed, 4)
        d = tmp_path / sub
        d.mkdir()
        batch = blobs.pandas_batch(50)
        blobs.write_csv(str(d), "p.csv", 30)
        blobs.write_parquet(str(d / "b"), 30, 2)
        parquet = [f.read_bytes() for f in sorted((d / "b").iterdir())]
        return batch, (d / "p.csv").read_bytes(), parquet

    a, b, c = draw(11, "a"), draw(11, "b"), draw(12, "c")
    assert np.array_equal(np.stack(a[0]["features"]), np.stack(b[0]["features"]))
    assert a[0]["id"].equals(b[0]["id"])
    assert a[1:] == b[1:]
    assert len(a[2]) == 2
    assert a[1] != c[1]


def test_csv_round_trips_exactly(tmp_path):
    blobs = gen.Blobs(3, 5)
    twin = gen.Blobs(3, 5)
    path = blobs.write_csv(str(tmp_path), "p.csv", 25)
    x, _, ids = twin.draw(25)
    back = gen.read_csv_batch(path, 5)
    assert np.array_equal(np.stack(back["features"]), x)
    assert np.array_equal(back["id"].to_numpy(), ids)


# --- metric names ---------------------------------------------------------

def test_metric_definitions_match_benchmark_json():
    spec = _benchmark_json()
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == report.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == report.PER_LAYER
    assert [w["name"] for w in spec["workloads"]] == list(workloads.WORKLOADS)
    assert list(run.WORKLOAD_NAMES) == list(workloads.WORKLOADS)


@pytest.mark.parametrize("trace,key", [(0, "end_to_end"), (1, "per_layer")])
def test_printed_metric_names_match_benchmark_json(trace, key):
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "bulk_distributed", "--seed", "1",
         "--seconds", "0.1", "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    want = {m["name"]: m["unit"] for m in _benchmark_json()[key]}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == want


def test_fails_without_the_engine(tmp_path):
    shutil.copytree(BENCH, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "bulk_distributed", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""


# --- wrappers -------------------------------------------------------------

@pytest.mark.parametrize("trace", [False, True])
def test_wrappers_exist_only_in_a_traced_region(trace):
    recorder = spans.Recorder()
    blobs = gen.Blobs(1, 2)
    trainer = GStreamTrainer(None, nb_wind=10**6).init_from_seed(blobs.seed_points())
    with run.timed_region(trace, recorder, None)():
        inside = spans.originals_in_place()
        for _ in range(5):
            trainer.step(blobs.pandas_batch(20))
    assert inside == (not trace)
    assert spans.originals_in_place()
    assert bool(recorder.spans) == trace


@pytest.fixture(scope="module")
def spark():
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "1g")
    session = get_spark(app_name="perfbench-tests", cpus=2)
    yield session
    session.stop()


def test_an_engine_exception_is_a_failed_operation(spark, tmp_path, monkeypatch):
    # 6000 points per batch is above the trainer's 5000-row local cut-off.
    monkeypatch.setattr(workloads, "BULK_POINTS", 6000)
    monkeypatch.setattr(workloads, "PREGROW_NODES", 20)
    monkeypatch.setattr(workloads, "BULK_WARM_BATCHES", 1)
    real_step, spark_calls = GStreamTrainer.step, itertools.count()

    def step(self, batch, batch_id=None):
        # Spark input only: the warm-up batch, then the timed ones.
        if not isinstance(batch, pd.DataFrame) and next(spark_calls) == 2:
            raise IndexError("injected")
        return real_step(self, batch, batch_id)

    monkeypatch.setattr(GStreamTrainer, "step", step)
    out = workloads.bulk_distributed(spark, 1, 60.0, str(tmp_path), contextlib.nullcontext)
    assert out.failed >= 1 and "injected" in out.problems[0]
    assert out.points == 6000 and len(out.step_ms) == 1


def test_self_times_subtract_direct_children():
    rec = spans.Recorder()
    rec.spans = [spans.Span("a", None, 0.0, 10.0), spans.Span("b", 0, 1.0, 4.0),
                 spans.Span("c", 1, 2.0, 3.0), spans.Span("d", 0, 5.0, 6.0)]
    assert rec.self_times() == [6.0, 2.0, 1.0, 1.0]


def test_phase_sum_ratio_shows_unwrapped_step_work():
    model, _ = _grown_model()
    rec = spans.Recorder()
    rec.spans = [spans.Span("train.step", None, 0.0, 0.010),
                 spans.Span("train.probe", 0, 0.001, 0.004),
                 spans.Span("estep.dist", 0, 0.004, 0.009)]
    m = report.per_layer(workloads.Outcome(step_ms=[10.0], model=model), rec, {})
    assert m["train.probe_ms"] == pytest.approx(3.0)
    assert m["estep.dist_ms"] == pytest.approx(5.0)
    assert m["trace.phase_sum_ratio"] == pytest.approx(0.8)


# --- every correctness check can fail --------------------------------------

def test_id_partition_check_catches_corruption():
    model, end_id = _grown_model()
    assert checks.id_partition_problems(model, 3, end_id) == []

    duplicated = copy.deepcopy(model)
    duplicated.point_ids[1].add(next(iter(duplicated.point_ids[0] - {1, 2})))
    lost = copy.deepcopy(model)
    lost.point_ids[0].clear()
    stranger = copy.deepcopy(model)
    stranger.point_ids[0].add(end_id + 7)
    for bad in (duplicated, lost, stranger):
        assert checks.id_partition_problems(bad, 3, end_id)


@pytest.mark.parametrize("field", ["nodes", "point_ids", "edges", "ages", "weights",
                                   "outdated_nodes"])
def test_model_check_catches_corruption(field):
    model, _ = _grown_model()
    assert checks.model_problems(copy.deepcopy(model), model) == []
    bad = copy.deepcopy(model)
    if field == "point_ids":
        bad.point_ids[0].add(-1)
    elif field == "outdated_nodes":
        bad.outdated_nodes[0].vector[0] += 1e-12
    elif field == "edges":
        bad.edges[0, 1] ^= 1
    else:
        values = getattr(bad, field)
        values.flat[np.flatnonzero(np.isfinite(values))[1]] += 1e-12
    assert checks.model_problems(bad, model) == [f"model field {field} differs"]


@pytest.mark.parametrize("corrupt", ["count", "ids", "sum_vec", "winner"])
def test_stats_check_catches_corruption(corrupt):
    rng = np.random.default_rng(0)
    x, cent = rng.normal(size=(300, 3)), rng.normal(size=(8, 3))
    ids = np.arange(300)
    stats = estep_local(x, ids, cent)
    assert checks.stats_problems(estep_local(x, ids, cent), stats) == []
    bad = copy.deepcopy(stats)
    label = sorted(bad)[0]
    if corrupt == "count":
        bad[label].count += 1
    elif corrupt == "ids":
        bad[label].ids.pop()
    elif corrupt == "sum_vec":
        bad[label].sum_vec = bad[label].sum_vec * (1 + 1e-6)
    else:
        del bad[label]
    assert checks.stats_problems(bad, stats)


def test_backlog_counts_files_written_but_not_applied():
    assert workloads._backlog_max([0, 1, 2, 3], [0.5, 4.0, 4.1, 4.2]) == 3

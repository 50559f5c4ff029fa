"""The benchmark's workloads.

Each workload sets up, runs its timed region for about ``seconds``
seconds and checks its outputs; it returns an ``Outcome``.  The timed
region starts only after the Spark session, the inputs, the model and
the JVM are warm.  Every set-up phase runs once and is timed as it
runs, cold first calls included.  An exception from the engine counts
as one failed operation; the run goes on where it can and still
reports.

* ``bulk_distributed`` — closed loop.  A model pre-grown to 210 nodes
  takes 100k-point 8-D batches, read from parquet as one partition per
  core, through the probe and the distributed E-step.  No snapshots.
* ``file_stream`` — open loop.  A single generator thread writes
  1000-point 8-D CSV files into a watched directory on a fixed schedule; the
  file source (one file per trigger) feeds the trainer's
  ``foreachBatch``, which writes parquet snapshots on the B10 schedule.
"""

from __future__ import annotations

import itertools
import os
import time
from dataclasses import dataclass, field
from datetime import datetime
from typing import Any

import pandas as pd

import checks
import gen
from spark_streaming_clustering_spark.streaming import estep
from spark_streaming_clustering_spark.streaming.train import GStreamTrainer

BULK_DIM = 8
BULK_POINTS = 100_000  # per batch
PREGROW_NODES = 210
PREGROW_POINTS = 100  # per pre-growth batch
BATCH_SCHEMA = "features array<double>, id long"
BULK_WARM_BATCHES = 2  # the first timed batch still ran slow after one
PREGROW_ATTEMPTS = 3

# 24 warm-up files (kk 1-24) take the first trigger, the B10 snapshot
# at kk=1 and the JIT warm-up; with 12, the window's first files still
# ran slow.  The window's files (2 per second) follow, and nb_wind is
# nine times the file count, so the next B10 milestone falls on the
# window's last file: the window holds one parquet snapshot, whose cost
# shows in that file's latency and in the per-layer snapshot metrics,
# while the stall cannot reach the median however long it lasts.  The
# 500 ms period is a multiple of the trigger interval, so every file
# waits equally long for its trigger.
STREAM_DIM = 8
STREAM_POINTS = 1000  # per file
STREAM_RATE_PER_S = 2.0  # files
STREAM_WARM_FILES = 24
TRIGGER_MS = 100
DRAIN_TIMEOUT_S = 90.0


@dataclass
class Outcome:
    step_ms: list[float] = field(default_factory=list)
    latency_ms: list[float] = field(default_factory=list)
    points: int = 0
    # Points per second of each unit of timed work: a batch or a
    # trigger.  Their median is the run's throughput.
    unit_rates: list[float] = field(default_factory=list)
    attempted: int = 0
    failed: int = 0
    problems: list[str] = field(default_factory=list)
    setup: dict[str, float] = field(default_factory=dict)
    first_op: float = 0.0  # time.monotonic() when the timed region began
    model: Any = None
    facts: dict[str, Any] = field(default_factory=dict)  # workload-specific layer data

    def check(self, problems: list[str]) -> None:
        """Count one checked operation; record its problems."""
        self.attempted += 1
        self.failed += bool(problems)
        self.problems.extend(problems)


def _timed(fn, *args):
    t0 = time.perf_counter()
    out = fn(*args)
    return out, time.perf_counter() - t0


def _raised(what: str, trainer: GStreamTrainer, exc: Exception) -> str:
    return f"{what}: GStreamTrainer.step raised {exc!r} at batch {trainer.kk}"


# --- bulk_distributed -----------------------------------------------------

def bulk_distributed(spark, seed: int, seconds: float, work: str, region) -> Outcome:
    out = Outcome()
    n = BULK_POINTS
    batch_dir = os.path.join(work, "batches")
    blobs = gen.Blobs(seed, BULK_DIM)

    def grow():
        """Grow a model; after an attempt the engine raised on, grow a
        fresh one on the points that follow."""
        for _ in range(PREGROW_ATTEMPTS):
            trainer, first_id = GStreamTrainer(spark, nb_wind=10**9), blobs.next_id
            try:
                gen.pregrow(trainer, blobs, PREGROW_NODES, PREGROW_POINTS)
                return trainer, first_id
            except Exception as exc:
                out.check([_raised("bulk_distributed pre-growth", trainer, exc)])
        raise RuntimeError(f"bulk_distributed: pre-growth failed {PREGROW_ATTEMPTS} times")

    (trainer, first_id), out.setup["pregrow"] = _timed(grow)

    numbers = itertools.count()

    def next_batch():
        path = os.path.join(batch_dir, f"b{next(numbers):04d}")
        pdf = blobs.write_parquet(path, n, spark.sparkContext.defaultParallelism)
        # A given schema spares the job that would infer it.
        return spark.read.schema(BATCH_SCHEMA).parquet(path), pdf

    warm_dfs, out.setup["input_gen"] = _timed(
        lambda: [next_batch()[0] for _ in range(BULK_WARM_BATCHES)])
    _, out.setup["warm"] = _timed(lambda: [trainer.step(df) for df in warm_dfs])
    out.first_op = time.monotonic()

    busy = 0.0
    with region():
        while out.points == 0 or busy < seconds:
            df, pdf = next_batch()
            t0 = time.perf_counter()
            try:
                trainer.step(df)
            except Exception as exc:
                out.check([_raised("bulk_distributed", trainer, exc)])
                break
            dt = time.perf_counter() - t0
            busy += dt
            out.step_ms.append(dt * 1e3)
            out.points += n
            out.unit_rates.append(n / dt)
            out.attempted += 1
    out.latency_ms = list(out.step_ms)

    # One batch through both E-step paths against the same centroids.
    x = pd.DataFrame(pdf["features"].tolist()).to_numpy()
    local = estep.estep_local(x, pdf["id"].to_numpy(), trainer.model.nodes)
    dist = estep.compute_point_stats(df, trainer.model.nodes)
    out.check(checks.stats_problems(dist, local))
    out.check(checks.id_partition_problems(trainer.model, first_id, blobs.next_id))
    out.model = trainer.model
    return out


# --- file_stream ----------------------------------------------------------

def _progress_end_s(p: dict) -> float:
    """Wall time at which a trigger's ``foreachBatch`` returned: trigger
    start plus its duration, less the offset commit that follows it."""
    start = datetime.strptime(p["timestamp"], "%Y-%m-%dT%H:%M:%S.%f%z").timestamp()
    d = p["durationMs"]
    return start + (d["triggerExecution"] - d.get("commitOffsets", 0)) / 1e3


def _backlog_max(due: list[float], done: list[float]) -> int:
    events = sorted([(t, 1) for t in due] + [(t, -1) for t in done])
    level = peak = 0
    for _, delta in events:
        level += delta
        peak = max(peak, level)
    return peak


def file_stream(spark, seed: int, seconds: float, work: str, region) -> Outcome:
    from spark_streaming_clustering_spark.sources.points import stream_points

    out = Outcome()
    dim, n, warm_files = STREAM_DIM, STREAM_POINTS, STREAM_WARM_FILES
    in_dir, snap_dir = os.path.join(work, "in"), os.path.join(work, "snapshots")
    os.makedirs(in_dir)
    blobs = gen.Blobs(seed, dim)
    seed_pts = blobs.seed_points()
    n_files = max(1, round(seconds * STREAM_RATE_PER_S))
    total = warm_files + n_files
    nb_wind = 9 * total
    trainer = GStreamTrainer(spark, out_dir=snap_dir, nb_wind=nb_wind)
    trainer.init_from_seed(seed_pts)
    names: list[str] = []

    def write(i: int, mtime_ns: int | None = None) -> None:
        names.append(f"p{i:05d}.csv")
        blobs.write_csv(in_dir, names[-1], n, mtime_ns)

    t0 = time.perf_counter()
    base_ns = time.time_ns() - 10**9 * (warm_files + 1)
    for i in range(warm_files):
        write(i, base_ns + i * 10**9)
    out.setup["input_gen"] = time.perf_counter() - t0

    def applied() -> int:
        return trainer.kk - 1

    def reported() -> int:
        last = query.lastProgress
        return -1 if last is None else last["batchId"]

    def wait_applied(count: int, timeout_s: float) -> bool:
        """Wait until ``count`` files are applied and their triggers'
        progress is reported (it is posted after ``foreachBatch``)."""
        limit = time.monotonic() + timeout_s
        while ((applied() < count or reported() < count - 1)
               and time.monotonic() < limit and query.isActive):
            time.sleep(0.02)
        return applied() >= count

    t0 = time.perf_counter()
    query = trainer.fit_stream(stream_points(spark, in_dir, dim=dim), os.path.join(work, "ckpt"),
                               trigger_ms=TRIGGER_MS)
    try:
        if not wait_applied(warm_files, DRAIN_TIMEOUT_S):
            raise RuntimeError("file_stream: warm-up files were not applied")
        out.setup["warm"] = time.perf_counter() - t0
        out.first_op = time.monotonic()

        due, written = [], []
        with region():
            # Processing-time triggers fire on multiples of the trigger
            # interval in epoch time; due times sit half an interval past
            # such a boundary, so the wait for a trigger does not depend
            # on when the run happened to start.
            interval = TRIGGER_MS / 1e3
            t_start = (time.time() // interval + 2.5) * interval
            for i in range(n_files):
                due.append(t_start + i / STREAM_RATE_PER_S)
                pause = due[-1] - time.time()
                if pause > 0:
                    time.sleep(pause)
                write(warm_files + i)
                written.append(time.time())
            drained = wait_applied(total, DRAIN_TIMEOUT_S)
        progress = [p for p in query.recentProgress if p["numInputRows"] > 0]
    finally:
        query.stop()
    timed = [p for p in progress if p["batchId"] >= warm_files]
    out.attempted += n_files
    if not drained:
        out.failed += total - applied()
        out.problems.append(f"file_stream: only {applied()} of {total} files applied in time")
    out.check([] if len(timed) == n_files and all(p["numInputRows"] == n for p in timed)
              else ["file_stream: triggers do not map one-to-one onto files"])
    done = [_progress_end_s(p) for p in timed]
    out.latency_ms = [(e - d) * 1e3 for e, d in zip(done, due)]
    out.step_ms = [float(p["durationMs"]["addBatch"]) for p in timed]
    out.points = n * len(timed)
    # The files arrive at a fixed rate, so points per second of wall
    # time would be the offered rate.  The engine's capacity is points
    # per second of each trigger's execution.
    out.unit_rates = [n / (p["durationMs"]["triggerExecution"] / 1e3) for p in timed]
    out.facts.update(
        progress=timed,
        lag_ms=[(w - d) * 1e3 for w, d in zip(written, due)],
        backlog_max=_backlog_max(due, done),
    )

    # The streamed model must equal an in-memory replay of the same files.
    replay = GStreamTrainer(None, nb_wind=nb_wind)
    replay.init_from_seed(seed_pts)
    try:
        for name in names:
            replay.step(gen.read_csv_batch(os.path.join(in_dir, name), dim))
    except Exception as exc:
        out.check([_raised("file_stream replay", replay, exc)])
    else:
        out.check(checks.model_problems(trainer.model, replay.model))
    out.check(checks.id_partition_problems(trainer.model, 3, blobs.next_id))
    out.model = trainer.model
    return out


WORKLOADS = {
    "bulk_distributed": bulk_distributed,
    "file_stream": file_stream,
}

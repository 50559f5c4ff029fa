"""G-Stream engine benchmark: one command per workload and seed.

    python3 perfbench/run.py --workload bulk_distributed --seed 1 --seconds 25 --trace 0

Run from the root of a checkout of the repository.  The last line on
standard output is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (name -> value and unit).  ``--trace 0``
reports the end-to-end metrics; ``--trace 1`` installs span wrappers
around the engine's layer calls for the timed region only and reports
the per-layer metrics instead (see ``report.py``).  The line before it
is the run's host stamp.

Everything the run writes stays under ``.perfbench/`` in the checkout:
inputs, Spark scratch and checkpoints (removed at exit) and one record
per run in ``.perfbench/records/`` with the host stamp, the raw
samples and, for a traced run, every span.
"""

from __future__ import annotations

import time

T_START = time.monotonic()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import glob  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
from pathlib import Path  # noqa: E402

ROOT = Path(__file__).resolve().parents[1]
WORKLOAD_NAMES = ("bulk_distributed", "file_stream")
BLAS_THREADS = "1"  # one BLAS thread per process; Spark runs one task per core
DRIVER_MEM = "3g"


def _parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _steal_ticks() -> int | None:
    try:
        with open("/proc/stat") as f:
            return int(f.readline().split()[8])
    except (OSError, IndexError, ValueError):
        return None


def _host_stamp(args, cpus: int, master: str) -> dict:
    return {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "nproc": cpus,
        "master": master,
        "blas_threads": os.environ["OPENBLAS_NUM_THREADS"],
        "loadavg": list(os.getloadavg()),
    }


def _prepare_env(work: Path) -> None:
    """Keep every file the run writes inside ``work``; pin BLAS threads
    and driver memory.  Must run before numpy or the JVM start."""
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ[var] = BLAS_THREADS
    os.environ.update(
        # No JVM may write its perf-data file under the system /tmp: the
        # driver JVM gets the flag through spark.driver.extraJavaOptions,
        # the launcher JVM that spark-submit starts first through this.
        SPARK_LAUNCHER_OPTS="-XX:-UsePerfData",
        TMPDIR=str(work / "tmp"),
        SPARK_LOCAL_DIRS=str(work / "spark-local"),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
    )


def _start_spark(cpus: int, work: Path):
    from spark_streaming_clustering_spark.session import get_spark

    return get_spark(
        app_name="perfbench",
        cpus=cpus,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": str(work / "warehouse"),
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData",
            "spark.sql.streaming.numRecentProgressUpdates": "1000",
        },
    )


def _stop_spark(spark) -> None:
    """Stop the session and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def _snapshot_bytes(args) -> int:
    """Bytes under the snapshot families just written for milestone kk."""
    i = next(i for i, a in enumerate(args) if isinstance(a, str))
    out_dir, kk = args[i], args[i + 1]
    total = 0
    for d in glob.glob(os.path.join(out_dir, f"*-{kk}")):
        for base, _, files in os.walk(d):
            total += sum(os.path.getsize(os.path.join(base, f)) for f in files)
    return total


def _trace_hooks(spark):
    import spans

    counter = spans.SparkCounter(spark) if spark is not None else None

    def step_before(span, args, kwargs):
        if counter is not None:
            counter.before(span, args, kwargs)

    def step_after(span, args, kwargs, result):
        span.attrs["nodes"] = args[0].model.n_nodes
        if counter is not None:
            counter.after(span, args, kwargs, result)

    def estep_after(span, args, kwargs, stats):
        span.attrs.update(
            winners=len(stats),
            pairs=sum(len(st.bmu2_counts) for st in stats.values()),
            ids=sum(len(st.ids) for st in stats.values()),
        )

    def snapshot_after(span, args, kwargs, result):
        span.attrs["bytes"] = _snapshot_bytes(args)

    return {
        "train.step": (step_before, step_after),
        "estep.local": (None, estep_after),
        "estep.dist": (None, estep_after),
        "snapshot": (None, snapshot_after),
    }


def timed_region(trace: bool, recorder, spark):
    """Context factory for a workload's timed region: installs the span
    wrappers for a traced run and nothing otherwise."""
    if not trace:
        return contextlib.nullcontext
    import spans

    hooks = _trace_hooks(spark)
    return lambda: spans.installed(recorder, hooks)


def main(argv=None) -> int:
    args = _parse_args(argv)
    work = ROOT / ".perfbench" / f"run-{os.getpid()}"
    _prepare_env(work)
    sys.path.insert(0, str(ROOT))
    try:
        import spark_streaming_clustering_spark.streaming.train  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: cannot import the engine from {ROOT}: {exc}", file=sys.stderr)
        return 2
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)

    import report
    import spans
    import workloads

    cpus = len(os.sched_getaffinity(0))
    stamp = _host_stamp(args, cpus, f"local[{cpus}]")
    steal_start = _steal_ticks()
    recorder = spans.Recorder()
    spark = None
    try:
        t0 = time.perf_counter()
        spark = _start_spark(cpus, work)
        setup = {"session": time.perf_counter() - t0}
        outcome = workloads.WORKLOADS[args.workload](
            spark, args.seed, args.seconds, str(work),
            timed_region(args.trace, recorder, spark),
        )
    finally:
        if spark is not None:
            _stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    setup.update(outcome.setup)
    setup_s = outcome.first_op - T_START
    if args.trace:
        values = report.per_layer(outcome, recorder, setup)
        units = report.PER_LAYER
    else:
        values = report.end_to_end(outcome, setup_s)
        units = report.END_TO_END
    steal_end = _steal_ticks()
    stamp.update(loadavg_end=list(os.getloadavg()),
                 steal_ticks=None if None in (steal_start, steal_end) else steal_end - steal_start,
                 problems=outcome.problems)
    records = ROOT / ".perfbench" / "records"
    records.mkdir(parents=True, exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}-pid{os.getpid()}.json"
    (records / name).write_text(json.dumps({
        "stamp": stamp,
        "setup": setup,
        "samples": {"step_ms": outcome.step_ms, "latency_ms": outcome.latency_ms},
        "spans": recorder.to_records(),
    }))
    print(json.dumps({"stamp": stamp}))
    print(json.dumps({
        "correct": outcome.failed == 0,
        "attempted": outcome.attempted,
        "failed": outcome.failed,
        "metrics": {k: {"value": float(values[k]), "unit": u} for k, u in units.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())

"""Distributed E-step: nearest-2 assignment + per-node stats aggregate.

Re-expresses the reference's map/aggregateByKey stage
(batchStreamModel.scala:63-78,111-125) Spark-first, Arrow end to end:

* the centroid matrix rides to executors once per batch (Spark
  broadcast — the reference closure-captures the whole model into
  every task, an implicit broadcast);
* ``mapInArrow`` hands each task its partition as Arrow record
  batches.  The task reads the ``list<double>`` feature column as one
  reshape of its values buffer (no per-row objects), concatenates the
  partition's batches, runs the top-2 kernel and emits ONE PARTIAL ROW
  PER OBSERVED (bmu1, bmu2) FOR THE WHOLE PARTITION — the map-side
  combine the reference hand-codes with ``aggregateByKey``.  Point ids
  ride along as an Arrow list column built from group offsets;
* the driver collects the partials with ``toArrow()`` and merges them
  per winner with ``np.unique`` + ``bincount`` in row order.

``estep_local`` runs the same kernel, grouping and merge over its
single in-memory "partition".

Scale: the shuffle the reference pays between map and reduce is gone
entirely — partials flow straight to the driver (bounded by N^2 per
partition, N <= ~300).  At 100 TB the same plan holds: the batch scan
is the only heavy stage and it is embarrassingly parallel.

Latency: a Spark job costs ~200 ms of scheduling on a small local
master, so for small micro-batches (the reference's measured regime is
~100 points per 100 ms window) the trainer runs ``estep_local``, which
starts no Spark job, and only falls back to the distributed plan when a
batch exceeds the small-batch threshold.  The probe that decides is a
job of its own for Spark input: ``limit(n).toPandas()`` over
multi-partition input runs two stages, a local limit on every partition
and then a shuffle to one partition.  A small batch thus costs one job,
a large one two (perfbench ``bulk_distributed``, 4 partitions: 2 jobs,
3 stages and 9 tasks per step); pandas input skips the probe.  The
reference has the same topology: its per-batch work at this scale is
driver-bound too.

Tie semantics: the reference sorts (distance, index) pairs, so equal
distances resolve to the lower node position (findTwoNearestPointDist1L,
batchStreamModel.scala:117-119).  ``argmin`` returns the first minimum,
so two passes — take the min, mask it with inf, take the min again —
reproduce that for both bmu1 and bmu2.
"""

from __future__ import annotations

from collections import defaultdict
from typing import NamedTuple

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame

from .gstream_model import PointStats
from .idset import IdSet

PARTIAL_SCHEMA = (
    "bmu1 int, bmu2 int, cnt long, sum_d2 double, sum_vec array<double>, ids array<long>"
)

# Rows per kernel block: a block's (rows x nodes) distance matrix stays
# in cache (256 x 300 doubles = 600 KB).  Blocks start at multiples of it
# and the last one absorbs the remainder, so every row meets the same
# BLAS micro-kernel, tail tiles included, as in one whole-batch product.
# With single-threaded BLAS, as in Spark's Python workers
# (OMP_NUM_THREADS = task cpus), the output is bit-identical to that
# product; a multi-threaded driver BLAS may round the last ulp of a
# local batch longer than one block differently.
_ROW_BLOCK = 256


class Partials(NamedTuple):
    """Columnar per-(bmu1, bmu2) partial aggregates, one entry per row.

    ``sum_vec`` is (rows, dim); row g's point ids are
    ``ids[id_offsets[g]:id_offsets[g + 1]]``."""

    bmu1: np.ndarray
    bmu2: np.ndarray
    cnt: np.ndarray
    sum_d2: np.ndarray
    sum_vec: np.ndarray
    id_offsets: np.ndarray
    ids: np.ndarray


def _assign_top2(x: np.ndarray, cent: np.ndarray):
    """Vectorized nearest-2 assignment (findTwoNearestPointDist1L,
    batchStreamModel.scala:111-125).  Returns (bmu1, bmu2, d2_min).

    Deliberate deviation: the reference computes squaredDistance
    directly as sum((x-c)^2); we use the expanded BLAS form below,
    whose floating-point rounding can differ in the last ulp and flip a
    near-exact-tie bmu1/bmu2 pick relative to a reference trace.  Both
    internal paths (local + distributed) share this kernel, so the
    committed goldens are self-consistent; trace-level parity with the
    reference would require the direct form (and the reference's
    partition-dependent collect() order anyway makes its own traces
    non-deterministic)."""
    n = len(x)
    c_sq = (cent * cent).sum(axis=1)
    bmu1 = np.empty(n, dtype=np.intp)
    bmu2 = np.empty(n, dtype=np.intp)
    d2_min = np.empty(n)
    starts = list(range(0, max(n - _ROW_BLOCK, 0) + 1, _ROW_BLOCK))
    for s, e in zip(starts, [*starts[1:], n]):
        xb = x[s:e]
        rows = np.arange(e - s)
        # ||x-c||^2 = ||x||^2 - 2 x.c + ||c||^2 (BLAS); clamp fp negatives
        d2 = np.maximum(
            (xb * xb).sum(axis=1)[:, None] - 2.0 * (xb @ cent.T) + c_sq[None, :], 0.0
        )
        b1 = d2.argmin(axis=1)  # first minimum: ties -> lower index
        d2_min[s:e] = d2[rows, b1]
        d2[rows, b1] = np.inf
        bmu1[s:e] = b1
        bmu2[s:e] = d2.argmin(axis=1)
    return bmu1, bmu2, d2_min


def _group_partials(x, ids, bmu1, bmu2, d2_min, n_cent) -> Partials:
    """Per-(bmu1, bmu2) partial aggregation of one partition, in
    ascending (bmu1, bmu2) order; each group's ids keep input order."""
    key = bmu1.astype(np.int64) * n_cent + bmu2
    uniq, inv = np.unique(key, return_inverse=True)
    k = len(uniq)
    cnt = np.bincount(inv, minlength=k)
    sum_vec = np.stack(
        [np.bincount(inv, weights=x[:, d], minlength=k) for d in range(x.shape[1])],
        axis=1,
    )
    return Partials(
        uniq // n_cent,
        uniq % n_cent,
        cnt,
        np.bincount(inv, weights=d2_min, minlength=k),
        sum_vec,
        np.concatenate([[0], np.cumsum(cnt)]),
        np.asarray(ids)[np.argsort(inv, kind="stable")],
    )


def _merge(p: Partials, n_cent: int) -> dict[int, PointStats]:
    """Fold partial rows into one ``PointStats`` per winner.

    ``bincount`` adds the rows in order starting from 0.0, so the sums
    are bit-identical to a per-row ``+=`` loop over the same rows."""
    if len(p.bmu1) == 0:
        return {}
    winners, w_inv = np.unique(p.bmu1, return_inverse=True)
    k = len(winners)
    count = np.bincount(w_inv, weights=p.cnt, minlength=k).astype(np.int64)
    sum_d2 = np.bincount(w_inv, weights=p.sum_d2, minlength=k)
    sum_vec = np.stack(
        [np.bincount(w_inv, weights=p.sum_vec[:, d], minlength=k)
         for d in range(p.sum_vec.shape[1])],
        axis=1,
    )
    pair, pair_inv = np.unique(p.bmu1.astype(np.int64) * n_cent + p.bmu2, return_inverse=True)
    pair_cnt = np.bincount(pair_inv, weights=p.cnt).astype(np.int64).tolist()
    pair_b2 = (pair % n_cent).tolist()
    pair_lo = [0, *np.searchsorted(pair // n_cent, winners, side="right").tolist()]
    # every id goes to its row's winner; a stable sort keeps row order
    id_winner = np.repeat(w_inv, np.diff(p.id_offsets))
    id_chunks = np.split(p.ids[np.argsort(id_winner, kind="stable")], np.cumsum(count)[:-1])
    return {
        w: PointStats(
            defaultdict(int, zip(pair_b2[pair_lo[g]:pair_lo[g + 1]],
                                 pair_cnt[pair_lo[g]:pair_lo[g + 1]])),
            d2,
            sum_vec[g],
            c,
            IdSet(id_chunks[g]),
        )
        for g, (w, c, d2) in enumerate(zip(winners.tolist(), count.tolist(), sum_d2.tolist()))
    }


def _width_error(dim: int, found) -> ValueError:
    return ValueError(
        f"E-step: expected {dim} features per row (the centroid dimension), found {found}"
    )


def _check_finite(x: np.ndarray) -> None:
    """Raise ``ValueError`` on NaN or infinite features: the kernel
    would still give such a row a winner, and its sums would poison
    that centroid for good."""
    if not np.isfinite(x).all():
        bad = int((~np.isfinite(x)).any(axis=1).sum())
        raise ValueError(f"E-step: {bad} rows hold NaN or infinite feature values")


def estep_local(x: np.ndarray, ids: np.ndarray, centroids: np.ndarray) -> dict[int, PointStats]:
    """Driver-local E-step over an in-memory batch; starts no Spark job.

    The distributed path's kernel, grouping and merge over one
    in-memory "partition", used for micro-batches below the trainer's
    small-batch threshold where job-scheduling latency would dominate.
    """
    x = np.ascontiguousarray(x, dtype=np.float64)
    if x.shape[1] != centroids.shape[1]:
        raise _width_error(centroids.shape[1], x.shape[1])
    _check_finite(x)
    partials = _group_partials(
        x, np.asarray(ids, dtype=np.int64), *_assign_top2(x, centroids), len(centroids)
    )
    return _merge(partials, len(centroids))


def _features(batch: pa.RecordBatch, dim: int, feature_cols) -> np.ndarray:
    """(rows, dim) float64 features of one Arrow record batch.

    The ``list<double>`` column becomes one reshape of its values
    buffer, which is only sound when every row holds exactly ``dim``
    values: ragged rows, null rows or a width other than the centroid
    dimension raise ``ValueError`` instead of silently shifting values
    across rows, and so do NaN, infinite or null feature values."""
    if feature_cols is not None:
        if len(feature_cols) != dim:
            raise _width_error(dim, len(feature_cols))
        x = np.column_stack(
            [batch.column(c).to_numpy(zero_copy_only=False) for c in feature_cols]
        ).astype(np.float64, copy=False)
    else:
        col = batch.column("features")
        if col.null_count:
            raise _width_error(dim, f"{col.null_count} null rows")
        widths = np.unique(np.diff(col.offsets.to_numpy())).tolist()
        if widths != [dim]:
            raise _width_error(dim, f"widths {widths}")
        x = col.flatten().to_numpy(zero_copy_only=False).reshape(-1, dim)
    _check_finite(x)
    return x


def _list_array(offsets: np.ndarray, values: np.ndarray) -> pa.ListArray:
    return pa.ListArray.from_arrays(pa.array(offsets.astype(np.int32)), pa.array(values))


def _partial_stats(batches, centroids_bc, feature_cols=None):
    """Executor side (``mapInArrow``): top-2 assignment + partial
    aggregation over the task's whole partition.

    All of the partition's record batches are concatenated first, so
    the task yields ONE Arrow batch holding one row per observed
    (bmu1, bmu2) — not one set per ``maxRecordsPerBatch`` slice.  The
    ``ids`` list column is built from the group offsets, without
    per-row Python lists.

    ``feature_cols``: when the features arrive as separate scalar
    columns (the columnar path), stack those column buffers instead of
    reading the ``features`` list column.
    """
    cent = centroids_bc.value  # (n, dim) float64
    dim = cent.shape[1]
    xs, ids = [], []
    for batch in batches:
        if batch.num_rows:
            xs.append(_features(batch, dim, feature_cols))
            ids.append(batch.column("id").to_numpy())
    if not xs:
        return
    x = np.concatenate(xs)
    p = _group_partials(x, np.concatenate(ids), *_assign_top2(x, cent), len(cent))
    yield pa.RecordBatch.from_arrays(
        [
            pa.array(p.bmu1.astype(np.int32)),
            pa.array(p.bmu2.astype(np.int32)),
            pa.array(p.cnt),
            pa.array(p.sum_d2),
            _list_array(np.arange(0, p.sum_vec.size + 1, dim), p.sum_vec.ravel()),
            _list_array(p.id_offsets, p.ids),
        ],
        names=["bmu1", "bmu2", "cnt", "sum_d2", "sum_vec", "ids"],
    )


def _from_arrow(tbl: pa.Table, dim: int) -> Partials:
    """Collected partial rows as ``Partials`` (row order kept)."""
    ids = tbl.column("ids").combine_chunks()
    id_offsets = ids.offsets.to_numpy()
    return Partials(
        tbl.column("bmu1").to_numpy(),
        tbl.column("bmu2").to_numpy(),
        tbl.column("cnt").to_numpy(),
        tbl.column("sum_d2").to_numpy(),
        tbl.column("sum_vec").combine_chunks().flatten().to_numpy().reshape(-1, dim),
        id_offsets - id_offsets[0],
        ids.flatten().to_numpy(),
    )


def compute_point_stats(
    batch_df: DataFrame,
    centroids: np.ndarray,
    feature_cols: list[str] | None = None,
) -> dict[int, PointStats]:
    """Run the E-step for one micro-batch.

    ``batch_df`` needs columns (features array<double>, id long) — or,
    with ``feature_cols``, one scalar double column per dimension plus
    ``id``.  Each task runs ``_partial_stats`` under ``mapInArrow`` and
    returns one partial row per (bmu1, bmu2) of its partition; the
    driver collects them with ``toArrow()`` (one Spark job) and merges
    them per winner.  Returns the reference's pointStats keyed by
    winner position; an empty batch gives ``{}``.  Rows whose width is
    not the centroid dimension fail the job with a ``ValueError``.
    """
    spark = batch_df.sparkSession
    centroids_bc = spark.sparkContext.broadcast(np.ascontiguousarray(centroids))
    cols = ["features", "id"] if feature_cols is None else [*feature_cols, "id"]
    partials = batch_df.select(*cols).mapInArrow(
        lambda it: _partial_stats(it, centroids_bc, feature_cols), PARTIAL_SCHEMA
    )
    tbl = partials.toArrow()
    centroids_bc.unpersist()
    if tbl.num_rows == 0:
        return {}
    return _merge(_from_arrow(tbl, centroids.shape[1]), len(centroids))

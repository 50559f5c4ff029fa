"""Hypothesis property tests for the pure-numpy kernels (no Spark).

Covers SURVEY.md section 7 "hard parts": (a) assignment/aggregation
math vs naive reference implementations, (c) positional graph algebra
invariants (symmetry, squareness) under random update sequences.
"""

from __future__ import annotations

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st
from hypothesis.extra.numpy import arrays

from spark_streaming_clustering_spark.streaming.estep import (
    _ROW_BLOCK,
    Partials,
    _assign_top2,
    _group_partials,
    _merge,
    estep_local,
)
from spark_streaming_clustering_spark.streaming.gstream_model import GStreamModel, PointStats
from spark_streaming_clustering_spark.streaming.params import GStreamParams

finite = st.floats(min_value=-1e3, max_value=1e3, allow_nan=False, width=64)


def batches(min_nodes=2, max_nodes=6, max_rows=24, dim=3):
    n_nodes = st.integers(min_nodes, max_nodes)
    n_rows = st.integers(1, max_rows)
    return n_nodes.flatmap(
        lambda k: n_rows.flatmap(
            lambda n: st.tuples(
                arrays(np.float64, (n, dim), elements=finite),
                arrays(np.float64, (k, dim), elements=finite),
            )
        )
    )


@settings(max_examples=150, deadline=None)
@given(batches())
def test_assign_top2_matches_bruteforce(xc):
    x, cent = xc
    bmu1, bmu2, d2_min = _assign_top2(x, cent)
    # The ||x||^2 - 2x.c + ||c||^2 expansion loses ~eps*(||x||^2+||c||^2)
    # to cancellation; assignment can only differ from the naive order
    # within that bound, so near-ties are excluded from the order check.
    max_c2 = float((cent * cent).sum(axis=1).max())
    for i in range(len(x)):
        d = ((x[i][None, :] - cent) ** 2).sum(axis=1)
        order = np.argsort(d, kind="stable")
        tol = 1e-10 * max(float((x[i] * x[i]).sum()) + max_c2, 1.0)
        if d[order[1]] - d[order[0]] > tol:
            assert bmu1[i] == order[0]
        if len(d) > 2 and d[order[2]] - d[order[1]] > tol and d[order[1]] - d[order[0]] > tol:
            assert bmu2[i] == order[1]
        assert abs(d2_min[i] - d[bmu1[i]]) <= tol


def _argsort_oracle(x, cent):
    """The unblocked kernel: full distance matrix, stable argsort."""
    c_sq = (cent * cent).sum(axis=1)
    d2 = np.maximum((x * x).sum(axis=1)[:, None] - 2.0 * (x @ cent.T) + c_sq[None, :], 0.0)
    order = np.argsort(d2, axis=1, kind="stable")
    return order[:, 0], order[:, 1], d2[np.arange(len(x)), order[:, 0]]


# seed, rows past one row block (so a block boundary is crossed), nodes, dim
long_batches = st.tuples(
    st.integers(0, 2**32 - 1),
    st.integers(1, 2 * _ROW_BLOCK + 3),
    st.integers(2, 12),
    st.integers(1, 8),
)


@settings(max_examples=60, deadline=None)
@given(long_batches)
def test_assign_top2_equals_argsort_oracle_across_blocks(case):
    seed, extra, k, dim = case
    rng = np.random.default_rng(seed)
    x = rng.normal(scale=10.0, size=(_ROW_BLOCK + extra, dim))
    cent = rng.normal(scale=10.0, size=(k, dim))
    for got, want in zip(_assign_top2(x, cent), _argsort_oracle(x, cent)):
        np.testing.assert_array_equal(got, want)


def test_assign_top2_short_tail_stays_bit_identical():
    """Batches one to three rows past a block multiple: a separate
    1-3 row product would round differently from the whole-batch one
    (BLAS tail kernels), so the last block must absorb the remainder.
    Sizes stay under OpenBLAS's threading threshold."""
    rng = np.random.default_rng(0)
    for dim, k in ((2, 50), (3, 40), (4, 50), (8, 2), (8, 30), (5, 12), (6, 20)):
        for n in (_ROW_BLOCK + 1, 2 * _ROW_BLOCK + 1, 2 * _ROW_BLOCK + 2, 2 * _ROW_BLOCK + 3):
            x = rng.normal(size=(n, dim))
            cent = rng.normal(size=(k, dim))
            for got, want in zip(_assign_top2(x, cent), _argsort_oracle(x, cent)):
                np.testing.assert_array_equal(got, want)


@settings(max_examples=60, deadline=None)
@given(long_batches)
def test_assign_top2_exact_ties_pick_lower_index(case):
    """Small-integer coordinates keep every distance exact, so a
    duplicated centroid ties exactly; points copied onto it put the
    tie in both bmu1 and bmu2, and duplicated points across the block
    boundary must get identical answers."""
    seed, extra, k, dim = case
    rng = np.random.default_rng(seed)
    n = _ROW_BLOCK + extra
    x = rng.integers(-3, 4, size=(n, dim)).astype(np.float64)
    cent = rng.integers(-3, 4, size=(k, dim)).astype(np.float64)
    src = int(rng.integers(0, k))
    cent = np.insert(cent, int(rng.integers(src + 1, k + 1)), cent[src], axis=0)
    x[rng.integers(0, n, size=8)] = cent[src]
    x[_ROW_BLOCK:_ROW_BLOCK + 1] = x[0]
    bmu1, bmu2, d2_min = _assign_top2(x, cent)
    for got, want in zip((bmu1, bmu2, d2_min), _argsort_oracle(x, cent)):
        np.testing.assert_array_equal(got, want)

    d2 = ((x[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2)  # exact here
    rows = np.arange(n)
    np.testing.assert_array_equal(d2_min, d2.min(axis=1))
    np.testing.assert_array_equal(bmu1, (d2 == d2.min(axis=1)[:, None]).argmax(axis=1))
    rest = d2.copy()
    rest[rows, bmu1] = np.inf
    np.testing.assert_array_equal(bmu2, (rest == rest.min(axis=1)[:, None]).argmax(axis=1))
    copies = np.flatnonzero((cent == cent[src]).all(axis=1))  # >= 2 positions
    at_copy = (x == cent[src]).all(axis=1)
    assert at_copy.any() and (d2_min[at_copy] == 0.0).all()
    assert (bmu1[at_copy] == copies[0]).all() and (bmu2[at_copy] == copies[1]).all()
    assert (bmu1[_ROW_BLOCK], bmu2[_ROW_BLOCK]) == (bmu1[0], bmu2[0])


def _groups(p):
    for g in range(len(p.bmu1)):
        yield (int(p.bmu1[g]), int(p.bmu2[g]), int(p.cnt[g]), float(p.sum_d2[g]),
               p.sum_vec[g], p.ids[p.id_offsets[g]:p.id_offsets[g + 1]])


@settings(max_examples=100, deadline=None)
@given(batches())
def test_group_partials_partition_the_batch(xc):
    x, cent = xc
    ids = np.arange(len(x), dtype=np.int64) * 7 + 3
    bmu1, bmu2, d2_min = _assign_top2(x, cent)
    parts = list(_groups(_group_partials(x, ids, bmu1, bmu2, d2_min, len(cent))))
    # groups partition the rows exactly
    assert sum(p[2] for p in parts) == len(x)
    all_ids = sorted(int(i) for p in parts for i in p[5])
    assert all_ids == sorted(ids.tolist())
    # per-group sums equal masked sums
    for b1, b2, cnt, sum_d2, sum_vec, id_grp in parts:
        mask = (bmu1 == b1) & (bmu2 == b2)
        assert cnt == int(mask.sum())
        np.testing.assert_allclose(sum_vec, x[mask].sum(axis=0), rtol=1e-9, atol=1e-9)
        assert abs(sum_d2 - d2_min[mask].sum()) <= 1e-9 * max(abs(sum_d2), 1.0)


@settings(max_examples=100, deadline=None)
@given(batches(max_rows=40), st.integers(1, 4), st.randoms(use_true_random=False))
def test_merge_is_bit_identical_to_a_per_row_loop(xc, n_parts, rnd):
    """Several partitions' partial rows, merged: the vectorized merge
    must give exactly the sums a per-row ``+=`` loop gives in row order."""
    x, cent = xc
    ids = np.arange(len(x), dtype=np.int64)
    cuts = sorted(rnd.randint(0, len(x)) for _ in range(n_parts - 1))
    parts = []
    for lo, hi in zip([0, *cuts], [*cuts, len(x)]):
        if hi > lo:
            parts.extend(_groups(_group_partials(
                x[lo:hi], ids[lo:hi], *_assign_top2(x[lo:hi], cent), len(cent))))
    rnd.shuffle(parts)
    rows = Partials(
        np.array([p[0] for p in parts]), np.array([p[1] for p in parts]),
        np.array([p[2] for p in parts]), np.array([p[3] for p in parts]),
        np.stack([p[4] for p in parts]),
        np.concatenate([[0], np.cumsum([len(p[5]) for p in parts])]),
        np.concatenate([p[5] for p in parts]),
    )
    got = _merge(rows, len(cent))
    want: dict = {}
    for b1, b2, cnt, sum_d2, sum_vec, id_grp in parts:
        w = want.setdefault(b1, [{}, 0.0, np.zeros(x.shape[1]), 0, set()])
        w[0][b2] = w[0].get(b2, 0) + cnt
        w[1] += sum_d2
        w[2] = w[2] + sum_vec
        w[3] += cnt
        w[4].update(id_grp.tolist())
    assert sorted(got) == sorted(want)
    for b1, (bmu2_counts, sum_d2, sum_vec, count, id_set) in want.items():
        st_ = got[b1]
        assert dict(st_.bmu2_counts) == bmu2_counts and st_.count == count
        assert st_.sum_d2 == sum_d2 and st_.ids == id_set
        np.testing.assert_array_equal(st_.sum_vec, sum_vec)


@settings(max_examples=100, deadline=None)
@given(batches())
def test_estep_local_totals(xc):
    x, cent = xc
    ids = np.arange(len(x), dtype=np.int64)
    stats = estep_local(x, ids, cent)
    assert sum(s.count for s in stats.values()) == len(x)
    assert set().union(*(s.ids for s in stats.values())) == set(range(len(x)))
    for b1, s in stats.items():
        assert 0 <= b1 < len(cent)
        assert sum(s.bmu2_counts.values()) == s.count
        assert b1 not in s.bmu2_counts  # runner-up is never the winner


@st.composite
def update_sequences(draw):
    dim = 2
    n_batches = draw(st.integers(1, 6))
    seq = []
    for _ in range(n_batches):
        n_pts = draw(st.integers(1, 12))
        pts = draw(arrays(np.float64, (n_pts, dim), elements=finite))
        seq.append(pts)
    return seq


@settings(max_examples=60, deadline=None)
@given(update_sequences())
def test_model_invariants_under_random_updates(seq):
    """Whatever the batch sequence, the graph algebra keeps its
    invariants (the reference throws IllegalStateException on breakage,
    batchStreamModel.scala:231-233,310-312)."""
    m = GStreamModel(GStreamParams()).init_two_nodes([0.0, 0.0], [1.0, 1.0])
    next_id = 100
    for kk, pts in enumerate(seq, start=1):
        ids = np.arange(len(pts), dtype=np.int64) + next_id
        next_id += len(pts)
        stats = estep_local(pts, ids, m.nodes)
        m.update(stats, kk)
        n = m.n_nodes
        assert m.edges.shape == (n, n) and m.ages.shape == (n, n)
        assert len(m.weights) == len(m.errors) == len(m.node_ids) == n
        np.testing.assert_array_equal(m.edges, m.edges.T)
        has_edge = m.edges == 1
        np.testing.assert_array_equal(has_edge, ~np.isnan(m.ages) & has_edge)
        sym = np.where(np.isnan(m.ages), -1.0, m.ages)
        np.testing.assert_allclose(sym, sym.T)
        assert not has_edge.diagonal().any()
        # no isolated nodes survive the update (B5 runs inside update)
        if n > 0:
            assert has_edge.any(axis=1).all()

"""IdSet, the model's compact per-node id store, against a builtin set."""

from __future__ import annotations

import copy
import pickle

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from spark_streaming_clustering_spark.streaming.estep import estep_local
from spark_streaming_clustering_spark.streaming.gstream_model import GStreamModel
from spark_streaming_clustering_spark.streaming.idset import _TAIL, IdSet

def nbytes(s: IdSet) -> int:
    return sum(c.nbytes for c in (*s._chunks, *s._tail))


ids = st.lists(st.integers(-50, 300), max_size=40)
ops = st.lists(
    st.one_of(
        st.tuples(st.just("ior_array"), ids),
        st.tuples(st.just("ior_idset"), ids),
        st.tuples(st.just("ior_set"), ids),
        st.tuples(st.just("add"), st.integers(-50, 300)),
        st.tuples(st.just("discard"), st.integers(-50, 300)),
        st.tuples(st.just("pop"), st.none()),
        st.tuples(st.just("copy"), ids),
    ),
    max_size=120,
)


@settings(max_examples=200, deadline=None)
@given(ops)
def test_idset_behaves_like_a_set(seq):
    want, got = set(), IdSet()
    for op, arg in seq:
        if op == "ior_array":
            want |= set(arg)
            got |= np.array(arg, dtype=np.int64)
        elif op == "ior_idset":
            want |= set(arg)
            got |= IdSet(arg)
        elif op == "ior_set":
            want |= set(arg)
            got |= set(arg)
        elif op == "add":
            want.add(arg)
            got.add(arg)
        elif op == "discard":
            want.discard(arg)
            got.discard(arg)
        elif op == "pop" and want:
            v = got.pop()
            assert v in want and v not in got
            want.discard(v)
        elif op == "copy":
            # copy a store whose merged chunks are not folded yet: the
            # copy shares them, and later merges into either side must
            # not reach the other
            want |= set(arg)
            got |= np.array(arg, dtype=np.int64)
            snap = IdSet(got)
            got |= {10**6}
            snap |= {-(10**6)}
            assert snap == want | {-(10**6)} and 10**6 not in snap
            assert -(10**6) not in got
            got.discard(10**6)
        assert len(got) == len(want) and got == want and want == got
    assert list(got) == sorted(want)
    assert all(i in got for i in want) and -51 not in got and "1" not in got


def test_idset_set_protocol():
    s = IdSet([3, 1, 2, 2])
    assert s == {1, 2, 3} and {1, 2, 3} == s and s != {1, 2}
    assert (s - {1}) == {2, 3} and set().union(s, {0}) == {0, 1, 2, 3}
    assert all(type(i) is int for i in s)
    assert copy.deepcopy(s) == s and pickle.loads(pickle.dumps(s)) == s
    assert 2**70 not in s and 1.5 not in s
    s.clear()
    assert not s and s == set()


def test_idset_stays_compact_over_many_merges():
    """Many small merges leave O(log n) chunks and 8 bytes per id."""
    s = IdSet()
    for b in range(2000):
        s |= np.arange(b * 7, b * 7 + 7)
        assert len(s._chunks) <= 16 and len(s._tail) < _TAIL
    assert nbytes(s) <= 8 * 14000 * 1.01
    assert len(s) == 14000 and nbytes(s) == 8 * 14000


def test_idset_merge_dedups_repeated_ids():
    s = IdSet()
    for _ in range(500):
        s |= np.arange(100)
    assert nbytes(s) <= 8 * 100 * (_TAIL + 2) and len(s) == 100


def test_model_and_estep_keep_ids_as_idsets():
    m = GStreamModel().init_two_nodes([0.0, 0.0], [10.0, 10.0], id_point=1)
    x = np.array([[0.1, 0.0], [9.0, 9.0], [0.2, 0.1]])
    stats = estep_local(x, np.array([7, 8, 9]), m.nodes)
    assert all(isinstance(st_.ids, IdSet) for st_ in stats.values())
    assert stats[0].ids == {7, 9} and stats[1].ids == {8}
    m.update_rule(stats)
    assert m.point_ids == [{1, 7, 9}, {2, 8}]
    m.edges[:] = 0
    m.remove_isolated_nodes()
    assert [p.ids for p in m.isolated_nodes] == [{2, 8}, {1, 7, 9}]
    assert all(isinstance(p.ids, IdSet) for p in m.isolated_nodes)

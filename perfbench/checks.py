"""Correctness checks, run outside the timed region.

Each check returns a list of problems; an empty list is a pass.
"""

from __future__ import annotations

import numpy as np

SEED_IDS = (1, 2)
# The distributed E-step sums per-partition partials, so its float sums
# differ from the local ones in summation order only.
RTOL = 1e-9


def _id_sets(model):
    yield from model.point_ids
    for proto in (*model.outdated_nodes, *model.isolated_nodes):
        yield proto.ids


def id_partition_problems(model, first_id: int, end_id: int) -> list[str]:
    """Every fed id (``first_id`` .. ``end_id - 1``) sits in exactly one
    live or archived node set, and no other id does, apart from the two
    seed ids."""
    sets = list(_id_sets(model))
    all_ids = np.concatenate(
        [np.fromiter(s, dtype=np.int64, count=len(s)) for s in sets] or [np.zeros(0, np.int64)]
    )
    all_ids = all_ids[~np.isin(all_ids, SEED_IDS)]
    ids, counts = np.unique(all_ids, return_counts=True)
    problems = []
    if (counts > 1).any():
        problems.append(f"{int((counts > 1).sum())} ids sit in more than one node set")
    fed = np.arange(first_id, end_id, dtype=np.int64)
    missing = np.setdiff1d(fed, ids, assume_unique=True)
    if len(missing):
        problems.append(f"{len(missing)} fed ids are in no node set, e.g. {missing[:3].tolist()}")
    extra = np.setdiff1d(ids, fed, assume_unique=True)
    if len(extra):
        problems.append(f"{len(extra)} ids were never fed, e.g. {extra[:3].tolist()}")
    return problems


def _protos_equal(a, b) -> bool:
    return len(a) == len(b) and all(
        p.node_id == q.node_id and p.ids == q.ids and np.array_equal(p.vector, q.vector)
        for p, q in zip(a, b)
    )


def model_problems(got, want) -> list[str]:
    """Field-for-field equality of two ``GStreamModel`` states."""
    checks = {
        "nodes": np.array_equal(got.nodes, want.nodes),
        "node_ids": got.node_ids == want.node_ids,
        "point_ids": got.point_ids == want.point_ids,
        "edges": np.array_equal(got.edges, want.edges),
        "ages": np.array_equal(got.ages, want.ages, equal_nan=True),
        "errors": np.array_equal(got.errors, want.errors),
        "weights": np.array_equal(got.weights, want.weights),
        "outdated_nodes": _protos_equal(got.outdated_nodes, want.outdated_nodes),
        "isolated_nodes": _protos_equal(got.isolated_nodes, want.isolated_nodes),
    }
    return [f"model field {name} differs" for name, ok in checks.items() if not ok]


def stats_problems(got: dict, want: dict) -> list[str]:
    """Equality of two E-step results (winner position -> ``PointStats``).

    Counts, runner-up histograms and ids must match exactly; the float
    sums within ``RTOL``."""
    if sorted(got) != sorted(want):
        return [f"winners differ: {sorted(set(got) ^ set(want))[:5]}"]
    problems = []
    for label in sorted(want):
        g, w = got[label], want[label]
        if g.count != w.count or dict(g.bmu2_counts) != dict(w.bmu2_counts):
            problems.append(f"winner {label}: counts differ")
        if g.ids != w.ids:
            problems.append(f"winner {label}: ids differ")
        if not (np.isclose(g.sum_d2, w.sum_d2, rtol=RTOL, atol=0.0)
                and np.allclose(g.sum_vec, w.sum_vec, rtol=RTOL, atol=1e-12)):
            problems.append(f"winner {label}: sums differ")
    return problems

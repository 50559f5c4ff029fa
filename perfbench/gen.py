"""Seeded input generator: points drawn from Gaussian blobs.

One ``Blobs`` object per run hands out every input from its seed, in
three shapes the engine accepts:

* in-memory pandas micro-batches (``features`` list, ``id``), the
  trainer's driver-local path, on which models are pre-grown;
* parquet batch files that Spark reads back as
  ``features array<double>, id long`` DataFrames;
* CSV files in the reference's positional format
  (``x0,...,x{dim-1},label,id``) for the Structured Streaming file
  source.

The blob centres are fixed for a given dimension; the seed draws the
points.  A workload is thus one distribution, and its cost (model size
over time, pairs of nearest nodes) does not swing with the seed.  Point
ids are consecutive from 3: ids 1 and 2 belong to the two seed points
that ``GStreamTrainer.init_from_seed`` turns into the first two nodes.
The same seed always gives the same points in the same order.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# 17 significant digits round-trip every double exactly through text.
CSV_FLOAT_FORMAT = "%.17g"
CENTRES_SEED = 0
CENTRES = 12  # blobs per workload
SPREAD = 10.0  # centres are uniform in [-SPREAD, SPREAD] per axis
SIGMA = 1.0  # standard deviation of each blob
MAX_PREGROW_BATCHES = 5000


class Blobs:
    """A stream of labelled points around fixed centres in ``dim``-D."""

    def __init__(self, seed: int, dim: int):
        self.rng = np.random.default_rng(seed % 2**64)
        self.dim = dim
        self.centres = np.random.default_rng(CENTRES_SEED).uniform(-SPREAD, SPREAD, (CENTRES, dim))
        self.next_id = 3

    def seed_points(self) -> pd.DataFrame:
        """The two points (ids 1 and 2) that seed the model's first nodes."""
        x = self.centres[0] + self.rng.normal(0.0, SIGMA, (2, self.dim))
        return pd.DataFrame({"features": list(x), "id": np.array([1, 2], dtype=np.int64)})

    def draw(self, n: int) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
        """``n`` points as (features (n, dim), labels (n,), ids (n,))."""
        labels = self.rng.integers(0, len(self.centres), n)
        x = self.centres[labels] + self.rng.normal(0.0, SIGMA, (n, self.dim))
        ids = np.arange(self.next_id, self.next_id + n, dtype=np.int64)
        self.next_id += n
        return x, labels, ids

    def pandas_batch(self, n: int) -> pd.DataFrame:
        x, _, ids = self.draw(n)
        return pd.DataFrame({"features": list(x), "id": ids})

    def write_parquet(self, directory: str, n: int, parts: int) -> pd.DataFrame:
        """Write one batch of ``n`` points as ``parts`` parquet files in
        ``directory`` (Spark reads one partition per file); return the
        batch as pandas."""
        x, _, ids = self.draw(n)
        os.makedirs(directory)
        for i, rows in enumerate(np.array_split(np.arange(n), parts)):
            features = pa.FixedSizeListArray.from_arrays(pa.array(x[rows].ravel()), self.dim)
            table = pa.table({
                "features": features.cast(pa.list_(pa.float64())),
                "id": pa.array(ids[rows]),
            })
            pq.write_table(table, os.path.join(directory, f"part-{i:05d}.parquet"))
        return pd.DataFrame({"features": list(x), "id": ids})

    def write_csv(self, directory: str, name: str, n: int, mtime_ns: int | None = None) -> str:
        """Write ``n`` points in the reference CSV format into ``directory``.

        The file appears atomically: it is written under a dot-prefixed
        name, which the file source skips, and renamed into place.
        ``mtime_ns`` pins the modification time, because the file source
        replays files in modification-time order."""
        x, labels, ids = self.draw(n)
        rows = np.column_stack([x, labels, ids])
        fmt = [CSV_FLOAT_FORMAT] * self.dim + ["%d", "%d"]
        tmp = os.path.join(directory, f".{name}.tmp")
        final = os.path.join(directory, name)
        np.savetxt(tmp, rows, fmt=fmt, delimiter=",")
        if mtime_ns is not None:
            os.utime(tmp, ns=(mtime_ns, mtime_ns))
        os.rename(tmp, final)
        return final


def pregrow(trainer, blobs: Blobs, nodes: int, n: int) -> None:
    """Grow a trainer's model on in-memory batches of ``n`` points until it
    has ``nodes`` nodes, so the timed batches meet a model of the same
    size whatever the seed."""
    trainer.init_from_seed(blobs.seed_points())
    for _ in range(MAX_PREGROW_BATCHES):
        if trainer.model.n_nodes >= nodes:
            return
        trainer.step(blobs.pandas_batch(n))
    raise RuntimeError(f"model stopped at {trainer.model.n_nodes} of {nodes} nodes")


def read_csv_batch(path: str, dim: int) -> pd.DataFrame:
    """Read one reference-format CSV file back as a pandas batch."""
    raw = pd.read_csv(path, header=None, float_precision="round_trip")
    x = raw.iloc[:, :dim].to_numpy(dtype=np.float64)
    return pd.DataFrame({"features": list(x), "id": raw.iloc[:, dim + 1].to_numpy(dtype=np.int64)})

"""Vector kernels as Spark Column expression builders.

Re-expresses the reference's breeze-based vector math (pointObj.scala:3;
batchStreamModel.scala:384-431) as Catalyst higher-order-function
expressions over ``array<double>`` columns.  Everything here stays
JVM-side inside whole-stage codegen — no Python in the hot path — so
the kernels scale to 100 TB scans unchanged.

Reference parity (file:line cites into /root/reference):
    scal           batchStreamModel.scala:384-392
    vadd           batchStreamModel.scala:395-403 (addPairwise)
    axpy           batchStreamModel.scala:406-416
    squared_distance  batchStreamModel.scala:115 (breeze squaredDistance)
    euclidean      batchStreamModel.scala:129-139
    quasi_equal    batchStreamModel.scala:420-431 (eps default 1e-10)
    midpoint       batchStreamModel.scala:275-276
    exp_kernel     batchStreamModel.scala:331-335 (kNeighbor, T=0.3)
    exp_kernel_som batchStreamModel.scala:338-343 (kNeighborSOM)
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

ColumnOrName = Column | str


def _c(col: ColumnOrName) -> Column:
    return F.col(col) if isinstance(col, str) else col


def to_double_array(col: ColumnOrName) -> Column:
    """Cast array<float> (e.g. the embeddings table) to array<double>.

    float->double widening is exact, so downstream double arithmetic is
    deterministic and engine-independent.
    """
    return F.transform(_c(col), lambda x: x.cast("double"))


def scal(a, v: ColumnOrName) -> Column:
    """a * v element-wise; ``a`` may be a literal or Column."""
    a = F.lit(a) if not isinstance(a, Column) else a
    return F.transform(_c(v), lambda x: a * x)


def vadd(u: ColumnOrName, v: ColumnOrName) -> Column:
    return F.zip_with(_c(u), _c(v), lambda x, y: x + y)


def axpy(a, x: ColumnOrName, y: ColumnOrName) -> Column:
    """a*x + y element-wise."""
    a = F.lit(a) if not isinstance(a, Column) else a
    return F.zip_with(_c(x), _c(y), lambda xi, yi: a * xi + yi)


def midpoint(u: ColumnOrName, v: ColumnOrName) -> Column:
    return F.zip_with(_c(u), _c(v), lambda x, y: (x + y) / F.lit(2.0))


def dot(u: ColumnOrName, v: ColumnOrName) -> Column:
    """Sequential left-fold dot product (deterministic order)."""
    return F.aggregate(
        F.zip_with(_c(u), _c(v), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, w: acc + w,
    )


def squared_distance(u: ColumnOrName, v: ColumnOrName) -> Column:
    return F.aggregate(
        F.zip_with(_c(u), _c(v), lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, w: acc + w,
    )


def euclidean(u: ColumnOrName, v: ColumnOrName) -> Column:
    return F.sqrt(squared_distance(u, v))


def norm2(v: ColumnOrName) -> Column:
    return F.sqrt(dot(v, v))


def cosine(u: ColumnOrName, v: ColumnOrName) -> Column:
    """Cosine similarity; 0 when either norm is 0."""
    d = dot(u, v)
    nn = norm2(u) * norm2(v)
    return F.when(nn == 0, F.lit(0.0)).otherwise(d / nn)


def quasi_equal(u: ColumnOrName, v: ColumnOrName, eps: float = 1e-10) -> Column:
    """Same length AND every |u_i - v_i| <= eps (reference areQuasiEqual)."""
    return (F.size(_c(u)) == F.size(_c(v))) & F.forall(
        F.zip_with(_c(u), _c(v), lambda x, y: F.abs(x - y) <= F.lit(eps)),
        lambda b: b,
    )


def fmt_vec(col: ColumnOrName) -> Column:
    """Deterministic scalar encoding of an array<double>: ','-joined %.6f.

    The driver's correctness canonicalizer hashes result cells with
    pandas, which cannot hash Python lists — so every oracle-checked
    query encodes vector outputs through this helper (and the oracle
    mirrors it with DuckDB ``printf('%.6f', ...)``).  Verified
    byte-identical across both engines including ``-0.000000``: Java's
    ``%.6f`` (Locale.US) and C printf agree for every double because no
    double sits exactly on a 6-decimal half-way boundary
    ((2m+1)/2e6 is never a dyadic rational).
    """
    return F.array_join(
        F.transform(_c(col), lambda x: F.format_string("%.6f", x)), ","
    )


def exp_kernel(temperature: float = 0.3) -> Column:
    """Constant neighborhood kernel exp(-1/T) (reference kNeighbor)."""
    return F.exp(F.lit(-1.0) / F.lit(temperature))


def exp_kernel_som(d2: ColumnOrName, temperature: float = 0.3) -> Column:
    """SOM-style kernel exp(-d2/T) (reference kNeighborSOM)."""
    return F.exp(-_c(d2) / F.lit(temperature))

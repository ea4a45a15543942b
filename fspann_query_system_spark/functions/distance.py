"""Vector distance kernels (reference ``QueryServiceImpl.l2:364-372``,
``Coding.dot:349-353``) as native Catalyst expressions (zip_with +
aggregate): they stay inside whole-stage codegen, with no Python
round-trip, for plans where the vector column is already joined in.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _c(col: str | Column) -> Column:
    return F.col(col) if isinstance(col, str) else col


def l2_expr(a, b) -> Column:
    """sqrt(sum((a_i-b_i)^2)) as a native expression (double math)."""
    d2 = F.aggregate(
        F.zip_with(_c(a), _c(b),
                   lambda x, y: (x.cast("double") - y.cast("double"))
                   * (x.cast("double") - y.cast("double"))),
        F.lit(0.0), lambda acc, v: acc + v)
    return F.sqrt(d2)


def l2q_expr(a, b) -> Column:
    """ELEMENT-QUANTIZED L2: each (a_i-b_i)^2 is quantized to 1e-9 as
    int64 before the fold (the ``ops.pq._q9`` treatment applied to the
    declarative tier), so the summed distance is bit-identical under
    ANY evaluation/merge order in ANY engine — sequential SQL folds, a
    numpy pairwise sum, and Catalyst's aggregate all land on the same
    integer.  Use wherever the emitted distance must hash-match a
    cross-engine oracle (knn_join); ``l2_expr`` stays the plain-double
    default."""
    dq = F.aggregate(
        F.zip_with(_c(a), _c(b),
                   lambda x, y: F.round(
                       (x.cast("double") - y.cast("double"))
                       * (x.cast("double") - y.cast("double"))
                       * F.lit(1e9)).cast("long")),
        F.lit(0).cast("long"), lambda acc, v: acc + v)
    return F.sqrt(dq.cast("double") / F.lit(1e9))


def dot_expr(a, b) -> Column:
    return F.aggregate(
        F.zip_with(_c(a), _c(b), lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0), lambda acc, v: acc + v)


def cosine_expr(a, b) -> Column:
    """Cosine *similarity* (not distance) as a native expression."""
    num = dot_expr(a, b)
    na = F.sqrt(dot_expr(a, a))
    nb = F.sqrt(dot_expr(b, b))
    return num / (na * nb)

"""The quantized-vector math, written once.

Every embedding operator — the near-dup and SemDeDup families in
``operators.dedup``, top-k, k-means, IVF and PQ in
``operators.similarity``, and the Spark side of the similarity
catalog — shares one arithmetic contract, which is what lets a SQL
oracle replay them bit for bit:

  * vectors are quantized to integers, ``round(x * 1e6)`` as bigint;
  * dots, squared norms and integer distances are exact int64 folds;
  * a float distance is a dim-sequential IEEE fold, left to right over
    dims, in the Spark expression and the NumPy kernel alike;
  * an argmin breaks exact ties to the smallest id;
  * a Lloyd mean is ``float64(exact int64 sum) / n`` — the distributed
    ``cast(s as double) / n``.

This module holds both forms of that math: the Spark expression
strings and columns, and the NumPy kernels the Arrow UDFs run. It
imports no other operator module, so ``dedup`` and ``similarity``
both build on it without importing each other's internals.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import DataType

# ---------------------------------------------------- expression forms

#: exact int64 dot product of two bigint arrays; {a} = {b} gives the
#: squared norm
_DOT = "aggregate(zip_with({a}, {b}, (x, y) -> x * y), 0L, (a, x) -> a + x)"

#: exact int64 squared L2 between two bigint arrays (no doubles
#: anywhere, so cross-engine sums are order-free exact)
_L2_INT = (
    "aggregate(zip_with({a}, {b}, (x, y) -> (x - y) * (x - y)), "
    "0L, (acc, d) -> acc + d)"
)

#: squared L2 between a bigint array {a} and a double array {b}: the
#: dim-sequential IEEE fold every engine evaluates in the same order
_L2 = (
    "aggregate(zip_with({a}, {b}, (x, m) -> (cast(x as double) - m) * "
    "(cast(x as double) - m)), cast(0 as double), (acc, d) -> acc + d)"
)

#: argmin of ``qv`` over an inlined centroid array ``_cents``: the
#: float distance per centroid, then the lexicographic (dist, cluster)
#: sort — exact ties go to the smaller cluster id
_ARGMIN = (
    "element_at(array_sort(transform(_cents, s -> named_struct("
    "'dist', " + _L2.format(a="qv", b="s.c") + ", 'cluster', s.cluster))), 1).cluster"
)


def _quantize(vec_col: str, scale: int = 1_000_000) -> Column:
    """``round(x * scale)`` as bigint, per element of a float array."""
    return F.expr(
        f"transform({vec_col}, x -> cast(round(cast(x as double) * {scale}) as bigint))"
    )


def _dot(qa: str, qb: str) -> Column:
    return F.expr(_DOT.format(a=qa, b=qb))


def _cosine(qa: str, qb: str, na2: str, nb2: str) -> Column:
    """Quantized cosine: the exact int64 dot, then one correctly
    rounded double sqrt/multiply/divide over the squared norms."""
    return _dot(qa, qb).cast("double") / (
        F.sqrt(F.col(na2).cast("double")) * F.sqrt(F.col(nb2).cast("double"))
    )


# ------------------------------------------------------- NumPy kernels


def _assign_argmin_np(M, ids, C):
    """The one argmin core of every Arrow assignment kernel: for each
    row of ``M`` (n x dim), the entry of ``ids`` whose row of ``C``
    (k x dim, same dtype as ``M``) is nearest by squared L2.

    The distance is accumulated in the arrays' own dtype, dim-by-dim
    and left-to-right (vectorized across rows, SEQUENTIAL across dims):
    int64 is exact, and float64 follows the exact IEEE fold order of
    the zip_with/aggregate expression, so either way the result is
    bit-identical to the SQL replay. Centroid BLOCKING: the naive
    (rows x k) accumulator is swept once per dim — at k=800 that is
    ~64 MB of DRAM traffic per pass per 10k-row batch (the auto-sized
    SemDeDup path measured 126 s at sf8.0, memory-bound). Processing
    <=128 centroids at a time keeps the accumulator and diff temp
    L3-resident (10k x 128 doubles ~ 10 MB) without changing the
    per-(row, centroid) order. Tie rule: ``ids`` ascending, np.argmin
    takes the first minimum within a block and the strict ``<`` keeps
    the earlier block across blocks, so exact ties go to the smallest
    id — the (dist, id) lexicographic rule. ``ids`` may be of any
    sortable type (integers, strings); the result has their dtype."""
    import numpy as np

    ids = np.asarray(ids)
    kc = 128
    best_d = None
    best_i = None
    rows = np.arange(M.shape[0])
    for j0 in range(0, C.shape[0], kc):
        Cb = C[j0 : j0 + kc]
        db = np.zeros((M.shape[0], Cb.shape[0]), dtype=M.dtype)
        for d in range(C.shape[1]):  # sequential over dims: exact fold order
            diff = M[:, d : d + 1] - Cb[None, :, d]
            db += diff * diff
        bi = np.argmin(db, axis=1)
        bd = db[rows, bi]
        if best_d is None:
            best_d, best_i = bd, ids[j0 + bi]
        else:
            better = bd < best_d
            best_d = np.where(better, bd, best_d)
            best_i = np.where(better, ids[j0 + bi], best_i)
    return best_i


def _argmin_udf(cent_rows: list, dtype, cluster_type: DataType):
    """Arrow-batched nearest-centroid assignment of a ``qv`` column
    over driver-held ``cent_rows`` ((cluster, vector), sorted by
    cluster): :func:`_assign_argmin_np` in ``dtype`` — float64 replays
    the ``_ARGMIN`` fold bit for bit, int64 is the exact integer L2
    (the first-minimum over id-ascending centroids is the
    smaller-cluster tie rule). Cluster ids are emitted as
    ``cluster_type``, the type of the centroid frame they came from."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    clusters = [c for c, _ in cent_rows]
    cents = np.asarray([v for _, v in cent_rows], dtype=dtype)

    @pandas_udf(cluster_type)
    def assign_udf(qv):
        import numpy as np
        import pandas as pd

        if len(qv) == 0:
            return pd.Series([], dtype=object)
        M = np.vstack(qv.map(np.asarray).to_numpy()).astype(dtype)
        return pd.Series(_assign_argmin_np(M, clusters, cents))

    return assign_udf


def _lloyd_rounds(M, cent_ids, cents, rounds: int):
    """``rounds`` Lloyd rounds over the int64 rows ``M`` from float64
    centroids ``cents`` (ids ``cent_ids``, ascending): assign every row
    with :func:`_assign_argmin_np`, then move each non-empty cluster to
    ``float64(exact int64 sum) / n``. Empty clusters drop out, as a
    groupBy over the assignment drops them. Returns (cent_ids, cents),
    ids ascending."""
    import numpy as np

    Mf = M.astype(np.float64)
    for _ in range(rounds):
        assign = _assign_argmin_np(Mf, cent_ids, cents)
        cent_ids = np.unique(assign)
        cents = np.vstack(
            [
                M[assign == c].sum(axis=0).astype(np.float64) / int((assign == c).sum())
                for c in cent_ids
            ]
        )
    return cent_ids, cents


def _hash_seeds(ids, k: int) -> list[int]:
    """Positions of the ``k`` ids with the smallest (md5(id), id) —
    replays ``row_number() OVER (ORDER BY md5(cast(id as string)), id)
    <= k`` for integer or string ids: ``str`` of an integer is Spark's
    decimal cast, ``str`` of a string is the string itself, and the
    hex-string and id sorts are the engine's code-point order."""
    import hashlib

    keys = [(hashlib.md5(str(i).encode()).hexdigest(), i) for i in ids]
    return sorted(range(len(keys)), key=keys.__getitem__)[: int(k)]


def _gram_cosine_blocks(bucket, chunk: int = 4096):
    """Pairwise cosines of one bucket of (id, qv, n2) members, ids
    ascending (ids of any sortable type, returned as a list in that
    order): returns (ids, blocks), where blocks yields (lo, cos) and
    ``cos`` holds rows lo..lo+chunk of the member x member matrix. The
    dot is an exact int64 Gram matmul, then the same correctly rounded
    double sqrt/multiply/divide the expression form evaluates, so the
    cosines are bit-identical to :func:`_cosine`. Rows come in chunks
    so peak memory is O(chunk * m), not O(m^2): a 100k-member bucket
    would need an 80 GB full Gram, ~3 GB per 4096-row block."""
    import numpy as np

    order = sorted(range(len(bucket)), key=lambda i: bucket[i]["id"])
    ids = [bucket[i]["id"] for i in order]
    M = np.vstack([np.asarray(bucket[i]["qv"]) for i in order]).astype(
        np.int64, copy=False
    )
    norms = np.sqrt(np.asarray([bucket[i]["n2"] for i in order], dtype=np.float64))

    def blocks():
        for lo in range(0, len(ids), chunk):
            gram = (M[lo : lo + chunk] @ M.T).astype(np.float64)
            yield lo, gram / (norms[lo : lo + chunk, None] * norms[None, :])

    return ids, blocks()

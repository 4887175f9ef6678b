"""Similarity search over embedding columns (array<float>):
brute-force cosine top-k as the exact baseline, and an IVF-style
bucket-pruned variant as the scale path.

The arithmetic (quantized cosine, the float and bigint distance
folds, the argmin and Lloyd kernels) lives once in operators.vectors;
this module composes it into search, clustering and quantization
operators. Search and training are DataFrame expressions; every
nearest-centroid assignment over a driver-held centroid set (k-means,
IVF cells, PQ codes) is one Arrow kernel that replays the same math
bit for bit and emits ids of the centroid frame's own type.

Scale notes (100 TB of vectors):
  * brute force is O(|queries| x |corpus|); right only when queries
    are few — broadcast the QUERIES (small side), stream the corpus,
    per-partition top-k partial aggregation before the final top-k
    (Spark's window/orderBy does this via partial sort + AQE).
  * IVF: corpus pre-partitioned by a coarse quantizer (here the
    `label` column stands in for the centroid assignment; in a real
    pipeline compute it with KMeans once and bucket/partition the
    table by it). A query probes only its bucket(s) — the classic
    inverted-file pruning; at 1000 executors this is a partition-
    pruned scan instead of a full shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, LongType
from pyspark.sql.window import Window

from ..functions.localrel import collect_bounded
from .vectors import (
    _ARGMIN,
    _L2,
    _L2_INT,
    _argmin_udf,
    _assign_argmin_np,
    _cosine,
    _dot,
    _lloyd_rounds,
)

#: Row cap for the guarded driver-local Lloyd fast path (optimization
#: r15, guide §1.2 step 1): below it the iterative k-means jobs
#: (seed/init collect + one aggregate job per update round) collapse
#: into ONE bounded CollectLimit job and the update rounds run in
#: NumPy on the driver — bit-identical math, ~0.4-0.6 s of per-query
#: job floor removed at sf0.1. 2^17 rows x 64 int64 dims is ~67 MB of
#: vector payload on the driver — well under the broadcast-relation
#: budget the samplers already allow. At scale the probe costs one
#: early-stopping CollectLimit (reads ~1 partition) and falls back to
#: the distributed rounds; <= 0 disables the path. Driver-memory
#: formula: the probe holds cap rows x dim int64 coords plus Row
#: overhead — roughly cap * dim * 8 bytes of payload with a few-x
#: Python object overhead. A bigger cap would make the probe a
#: multi-GB driver collect; on a corpus that size the distributed
#: rounds are the correct shape.
_LOCAL_KMEANS_CAP = 1 << 17

#: Row cap for the driver collect of a centroid or codebook table
#: (kmeans_lloyd's init centroids, assign_cells' cells, pq_encode's
#: codebooks). Those tables are k (or m x k) rows by design; 2^16 is
#: the largest k any catalog path builds (dedup.auto_cluster_count's
#: max_k). A larger table raises instead of landing on the driver.
_CENTROID_CAP = 1 << 16


def _collect_centroids(df: DataFrame, op: str) -> list:
    """``df``'s rows through one bounded collect, or a ValueError that
    names ``op`` and the cap."""
    rows = collect_bounded(df, _CENTROID_CAP)
    if rows is None:
        raise ValueError(
            f"{op}: the centroid table has more than {_CENTROID_CAP} rows, "
            f"the cap on a driver-held centroid set"
        )
    return rows


def _lloyd_local_cents(qvs: list, cent_rows: list, iters: int, dim: int) -> list:
    """``iters - 1`` Lloyd update rounds on the DRIVER over collected
    vectors — bit-identical to the distributed arrow loop: the same
    rounds (:func:`vectors._lloyd_rounds`) whose mean
    ``float64(exact int64 sum) / n`` is the driver's int/int division
    for every sum below 2^53, which the cap guarantees."""
    import numpy as np

    if not qvs:
        # distributed replay: the first update round's groupBy over an
        # empty corpus returns no rows, so the centroid set empties
        return cent_rows if iters <= 1 else []
    for qv in qvs:
        if len(qv) != dim:
            raise ValueError(
                f"kmeans_lloyd: dim={dim} but vectors have {len(qv)} elements"
            )
    if iters <= 1:
        return cent_rows
    ids, cents = _lloyd_rounds(
        np.asarray(qvs, dtype=np.int64),
        [c for c, _ in cent_rows],
        np.asarray([v for _, v in cent_rows], dtype=np.float64),
        iters - 1,
    )
    return [(int(c), v) for c, v in zip(ids, cents.tolist())]


def kmeans_assign_frame(
    quantized: DataFrame, cent_rows: list, carry: list | None = None
) -> DataFrame:
    """The lazy tail of :func:`kmeans_lloyd`: in-plan Arrow argmin
    assignment of final driver-held centroids — (id, *carry, cluster),
    with cluster ids (the ``cent_rows`` keys) emitted as bigint."""
    return _assign_frame(quantized, cent_rows, LongType(), carry)


def _assign_frame(quantized, cent_rows, cluster_type, carry) -> DataFrame:
    carry = [c for c in (carry or []) if c != "id"]
    return quantized.select(
        "id",
        *carry,
        _argmin_udf(cent_rows, "float64", cluster_type)(F.col("qv")).alias("cluster"),
    )


def _cosine_topk(joined: DataFrame, k: int) -> DataFrame:
    """The shared tail of every cosine search: score each row of
    ``joined`` (query_id, q_qv, q_n2 against a candidate id, qv, n2) by
    the quantized cosine and keep each query's k best, ties broken by
    neighbor id -> (query_id, neighbor_id, rank, cosine)."""
    scored = joined.select(
        "query_id",
        F.col("id").alias("neighbor_id"),
        _cosine("q_qv", "qv", "q_n2", "n2").alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cosine")
    )


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    exclude_self: bool = True,
) -> DataFrame:
    """Exact brute-force top-k: for every query vector, the k corpus
    vectors with highest cosine. Inputs are quantized frames from
    dedup.quantize_embeddings (id, qv, n2). Ties broken by corpus id
    so results are fully deterministic."""
    q = queries.select(
        F.col("id").alias("query_id"), F.col("qv").alias("q_qv"), F.col("n2").alias("q_n2")
    )
    joined = corpus.join(F.broadcast(q), F.col("query_id") != F.col("id") if exclude_self else F.lit(True))
    return _cosine_topk(joined, k)


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    bucket_col: str = "bucket",
    k: int = 3,
) -> DataFrame:
    """IVF-pruned top-k: candidates restricted to the query's coarse
    bucket (nprobe=1). Inputs carry (id, qv, n2, bucket). The join key
    is the bucket — a co-partitioned/broadcastable join instead of the
    all-pairs product."""
    q = queries.select(
        F.col("id").alias("query_id"),
        F.col("qv").alias("q_qv"),
        F.col("n2").alias("q_n2"),
        F.col(bucket_col).alias("q_bucket"),
    )
    joined = corpus.join(
        F.broadcast(q),
        (F.col("q_bucket") == F.col(bucket_col)) & (F.col("query_id") != F.col("id")),
    )
    return _cosine_topk(joined, k)


def kmeans_lloyd(
    quantized: DataFrame,
    init_centroids: DataFrame,
    iters: int = 2,
    dim: int = 64,
    carry: list[str] | None = None,
) -> DataFrame:
    """Lloyd's k-means over quantized embedding vectors: ``iters``
    rounds of (assign every vector to its nearest centroid by squared
    L2, recompute centroids as cluster means). Returns the final
    assignment (id, cluster), cluster of ``init_centroids``' cluster
    type.

    Inputs: ``quantized`` = (id, qv array<long>) from
    dedup.quantize_embeddings; ``init_centroids`` = (cluster,
    c array<double>) — seed from per-label means (embedding_centroids)
    or any deterministic coarse init.

    Determinism contract (what makes this ORACLE-checkable, rare for
    iterative ML): integer input vectors, centroid means as one double
    division of exact integer sums, the distance fold evaluated
    left-to-right over dims in every engine, argmin ties broken by
    cluster id. Fixed iteration count — no data-dependent stopping —
    so an engine replaying the same math lands on identical clusters.
    Empty clusters drop out (no row from the mean groupBy), matching
    the SQL replay.

    Shape (the MLlib pattern): the centroids live on the DRIVER between
    rounds, so the iters-1 update rounds run at CALL time — eager by
    design, like pyspark.ml's own KMeans — and the returned assignment
    frame is lazy. Each assignment is an Arrow NumPy kernel whose
    dim-sequential accumulation replays the SQL fold's IEEE operation
    order (vectors._assign_argmin_np). Below ``_LOCAL_KMEANS_CAP``
    rows one bounded collect of the vectors replaces the update-round
    jobs and the rounds run in NumPy on the driver; past it each round
    is one scan + Arrow assignment + per-dim SUM groupBy + collect.
    (r14 measured and REJECTED a lazy in-plan form that fed the
    centroids to the Arrow argmin through a broadcast _cents column:
    the per-row nested-struct replication through the Arrow boundary
    made it ~2x SLOWER standalone at sf0.1 and 3-10x slower inside
    semantic_dedup, where the assignment is consumed twice.)

    ``carry`` (optimization r15, guide §2.4): extra columns of
    ``quantized`` to pass through into the returned frame — (id,
    *carry, cluster). The assignment is a pure per-row projection, so
    a caller that needs the vectors alongside the cluster (SemDeDup's
    in-cluster pairing) can take them straight from the same row
    instead of joining the (id, cluster) result BACK to the corpus on
    id — that join was a whole extra exchange/broadcast of the corpus
    (and re-evaluated the assignment inside the build side)."""
    # dim must match the data: a mismatch would feed ragged rows to the
    # kernel — fail loudly instead, with the offending size. The check
    # is a column expression evaluated inside the scan that feeds the
    # kernel (raise_error at the first bad row), not a separate job.
    quantized = quantized.withColumn(
        "qv",
        F.when(F.size("qv") == dim, F.col("qv")).otherwise(
            F.raise_error(
                F.concat(
                    F.lit(f"kmeans_lloyd: dim={dim} but vectors have "),
                    F.size("qv").cast("string"),
                    F.lit(" elements"),
                )
            )
        ),
    )
    cluster_type = init_centroids.schema["cluster"].dataType
    cent_rows = sorted(
        (r["cluster"], list(r["c"]))
        for r in _collect_centroids(init_centroids, "kmeans_lloyd")
    )
    local = (
        collect_bounded(quantized.select("qv"), _LOCAL_KMEANS_CAP)
        if iters > 1
        else None
    )
    if local is not None:
        # r15 local fast path: the iters-1 update-round JOBS (each a
        # scan + ArrowEval + 64-sum aggregate + collect) collapse into
        # this one bounded qv collect; math bit-identical (see
        # _lloyd_local_cents)
        cent_rows = _lloyd_local_cents(
            [list(r["qv"]) for r in local], cent_rows, iters, dim
        )
    else:
        for _ in range(iters - 1):
            assigned = _assign_frame(quantized, cent_rows, cluster_type, ["qv"])
            sums = assigned.groupBy("cluster").agg(
                F.count(F.lit(1)).alias("n"),
                *[F.sum(F.col("qv")[i]).alias(f"_s{i}") for i in range(dim)],
            ).collect()
            # driver-side means: exact bigint sums / count — the same
            # correctly-rounded double division the SQL replay performs
            cent_rows = sorted(
                (r["cluster"], [r[f"_s{i}"] / r["n"] for i in range(dim)])
                for r in sums
            )
    return _assign_frame(quantized, cent_rows, cluster_type, carry)


def assign_centroids(quantized: DataFrame, centroids: DataFrame) -> DataFrame:
    """Nearest-centroid assignment: (id, qv, n2) x (cluster, c) ->
    (id, qv, n2, cluster). The k centroids fold into ONE broadcast row
    (array of (cluster, c) structs) and the argmin runs inside each
    data row — a pure, lazy projection with zero corpus shuffle and no
    driver collect (ties break to the smaller cluster id via the
    lexicographic (dist, cluster) sort, deterministic)."""
    cent_arr = centroids.agg(
        F.collect_list(F.struct("cluster", "c")).alias("_cents")
    )
    return quantized.crossJoin(F.broadcast(cent_arr)).select(
        "id", "qv", "n2", F.expr(_ARGMIN).alias("cluster")
    )


def vector_norm_bounds(df: DataFrame, vec_col: str = "qv") -> tuple[int, int]:
    """(min, max) EXACT integer squared norm over a quantized vector
    column — one mergeable min/max aggregation (scan-side partials, a
    1-row collect; runs at scan speed over any corpus size). This is
    the mixed-norm detector for the L2-refine contract: L2 ranking is
    cosine-equivalent only on constant-norm corpora, and the spread
    between these bounds says mechanically whether that holds
    (VERDICT r14 missing #3). Prefers a precomputed ``n2`` column when
    the frame carries one (the quantize() output contract)."""
    n2 = (
        F.col("n2")
        if "n2" in df.columns
        else _dot(vec_col, vec_col)
    )
    row = df.agg(F.min(n2).alias("mn"), F.max(n2).alias("mx")).collect()[0]
    if row["mn"] is None:
        return (0, 0)
    return (int(row["mn"]), int(row["mx"]))


def check_norm_spread(
    norm_bounds: tuple[int, int], tolerance: float = 1.25, what: str = "corpus"
) -> None:
    """Raise when the stored squared-norm bounds say the corpus is
    MIXED-NORM (norm spread beyond ``tolerance``, or a zero-norm
    vector present) — the regime where exact-L2 refine silently ranks
    by magnitude instead of angle. Compares squared norms, so the
    ratio test is ``max_n2 > min_n2 * tolerance**2``."""
    mn, mx = norm_bounds
    if mn <= 0 or mx > mn * (tolerance * tolerance):
        import math

        spread = math.sqrt(mx / mn) if mn > 0 else float("inf")
        raise ValueError(
            f"mixed-norm {what}: vector norm spread {spread:.3g}x exceeds "
            f"tolerance {tolerance} (squared-norm bounds {mn}..{mx})"
            + (" — a zero-norm vector is present" if mn <= 0 else "")
            + "; L2 refine would rank by magnitude, not angle. Pass "
            "refine_metric='cosine', or normalize the vectors before "
            "quantizing if constant-norm was intended"
        )


def write_ivf_index(assigned: DataFrame, centroids: DataFrame, path: str) -> None:
    """Persist an IVF index: the corpus parquet PARTITIONED BY cluster
    (one directory per inverted list — the on-disk layout that turns a
    probe into a partition-pruned scan) plus the centroid table, plus
    a 1-row ``meta`` table carrying the corpus squared-norm bounds
    (``vector_norm_bounds``) so later searches can detect a mixed-norm
    corpus without rescanning it. This is the 'compute the coarse
    quantizer once, bucket the table by it' step DEPLOY.md prescribes
    for 100 TB ANN."""
    assigned.write.mode("overwrite").partitionBy("cluster").parquet(
        f"{path}/corpus"
    )
    centroids.write.mode("overwrite").parquet(f"{path}/centroids")
    mn, mx = vector_norm_bounds(assigned)
    assigned.sparkSession.createDataFrame(
        [(mn, mx)], "min_n2 long, max_n2 long"
    ).write.mode("overwrite").parquet(f"{path}/meta")


def read_ivf_norm_bounds(spark, path: str) -> tuple[int, int] | None:
    """Stored (min_n2, max_n2) from ``write_ivf_index``; None for an
    index persisted before the meta table existed."""
    try:
        row = spark.read.parquet(f"{path}/meta").collect()
    except Exception:
        return None
    if not row:
        return None
    return (int(row[0]["min_n2"]), int(row[0]["max_n2"]))


def append_ivf_index(new_quantized: DataFrame, path: str) -> None:
    """Incremental IVF index maintenance: assign ARRIVING vectors to
    the index's EXISTING centroids and append them to the partitioned
    corpus — no retrain, no rewrite of the at-rest lists. This is how
    a daily embedding ingest keeps a 100 TB ANN index current: the
    coarse quantizer is computed once (the FAISS add-after-train
    pattern), appends touch only the cluster directories the new
    vectors land in, and probe_ivf_index sees the union immediately
    (partition discovery picks up new files; pruning unchanged).
    Probing after append is IDENTICAL to probing a full rebuild with
    the same centroids — assignment is the same deterministic argmin
    (test-asserted). Re-train (fresh write_ivf_index) when drift makes
    lists lopsided: monitor per-cluster counts vs the training-time
    distribution."""
    spark = new_quantized.sparkSession
    cent = spark.read.parquet(f"{path}/centroids")
    assign_centroids(new_quantized, cent).write.mode(
        "append"
    ).partitionBy("cluster").parquet(f"{path}/corpus")
    # keep the norm-bounds meta current: min/max merge with the
    # arriving batch's bounds (driver-side — two ints each side)
    prior = read_ivf_norm_bounds(spark, path)
    mn, mx = vector_norm_bounds(new_quantized)
    if prior is not None:
        mn, mx = min(mn, prior[0]), max(mx, prior[1])
    spark.createDataFrame([(mn, mx)], "min_n2 long, max_n2 long").write.mode(
        "overwrite"
    ).parquet(f"{path}/meta")


def read_ivf_index(spark, path: str) -> tuple[DataFrame, DataFrame]:
    """(corpus, centroids) back from write_ivf_index."""
    return (
        spark.read.parquet(f"{path}/corpus"),
        spark.read.parquet(f"{path}/centroids"),
    )


def probe_ivf_index(
    spark,
    path: str,
    queries: DataFrame,
    nprobe: int = 1,
    k: int = 3,
    exclude_self: bool = True,
) -> DataFrame:
    """Query a persisted IVF index: rank centroids per query (k-sized
    broadcast), keep the ``nprobe`` nearest lists, then join candidates
    on the PARTITION column — Spark's dynamic partition pruning turns
    that into a scan of only the probed cluster directories instead of
    the whole corpus (the inverted-file read pattern; verified by plan
    test). Scoring is the exact quantized cosine with (cosine desc,
    neighbor id) tie-break, same contract as cosine_topk/ivf_topk."""
    corpus, cent = read_ivf_index(spark, path)
    ranked = queries.crossJoin(F.broadcast(cent)).select(
        F.col("id").alias("query_id"),
        F.col("qv").alias("q_qv"),
        F.col("n2").alias("q_n2"),
        "cluster",
        F.expr(_L2.format(a="qv", b="c")).alias("dist"),
    )
    w = Window.partitionBy("query_id").orderBy(F.asc("dist"), F.asc("cluster"))
    probes = (
        ranked.withColumn("_r", F.row_number().over(w))
        .where(F.col("_r") <= nprobe)
        .select("query_id", "q_qv", "q_n2", "cluster")
    )
    cond = F.col("query_id") != F.col("id") if exclude_self else F.lit(True)
    joined = corpus.join(F.broadcast(probes), "cluster").where(cond)
    return _cosine_topk(joined, k)


def ivf_train_int(
    quantized: DataFrame, k: int = 16, iters: int = 2, dim: int = 64
) -> DataFrame:
    """Train an IVF coarse quantizer with ALL-BIGINT Lloyd k-means —
    the cell structure of a FAISS IVF index, in the oracle-replayable
    integer arithmetic the PQ stages already use. Returns (cluster
    bigint, cv array<long>) ready for :func:`assign_cells` /
    :func:`ivfpq_adc_topk`'s residual mode.

    Why not :func:`kmeans_lloyd`: that operator returns double-mean
    centroids and only the assignment; residual PQ needs INTEGER
    centroids so the residuals (qv - cv) stay exact bigints end to
    end. Updates here are ``sum div count`` on exact bigint sums (the
    pq_train rule — both Spark's ``div`` and DuckDB's ``//`` truncate
    toward zero), so training is bit-identical cross-engine.

    Determinism contract: init = the ``k`` smallest-id VECTORS (real
    data points — a per-label-mean init of isotropic data collapses
    every centroid onto ~0 and Lloyd cannot recover; measured recall
    0.03 vs 0.60 on the sf1.0 gate corpus), bigint distances, argmin
    ties to the smaller cluster id, fixed iteration count. Clusters
    that lose all members drop out (matching the SQL replay).

    Scale shape per round: the k x dim centroids are collected to the
    driver (eager, like kmeans_lloyd) and the assignment is the exact
    int64 Arrow kernel of :func:`assign_cells` — a per-row projection,
    zero corpus shuffle; the update is a groupBy(cluster) with dim SUM
    buffers — map-side partials, the round's only exchange. The
    returned centroid frame is the last round's lazy update."""
    from pyspark.sql.window import Window as _W

    w_init = _W.orderBy("id")
    cent = (
        quantized.select("id", "qv")
        .orderBy("id")
        .limit(k)
        .withColumn("cluster", F.row_number().over(w_init) - 1)
        .select(F.col("cluster").cast("long").alias("cluster"), F.col("qv").alias("cv"))
    )
    for _ in range(iters):
        cent = (
            quantized.select("qv", _cell_argmin(cent, "ivf_train_int"))
            .groupBy("cluster")
            .agg(
                F.count(F.lit(1)).alias("n"),
                *[F.sum(F.col("qv")[i]).alias(f"_s{i}") for i in range(dim)],
            )
            .select(
                "cluster",
                F.array(*[F.expr(f"_s{i} div n") for i in range(dim)]).alias("cv"),
            )
        )
    return cent


def _cell_argmin(centroids: DataFrame, op: str):
    """The ``cluster`` column of exact-int64 nearest-cell assignment:
    ``centroids`` (cluster, cv array<long>) collected once, ids kept
    in their own type."""
    cent_rows = sorted(
        (r["cluster"], list(r["cv"])) for r in _collect_centroids(centroids, op)
    )
    udf = _argmin_udf(cent_rows, "int64", centroids.schema["cluster"].dataType)
    return udf(F.col("qv")).alias("cluster")


def assign_cells(quantized: DataFrame, centroids: DataFrame) -> DataFrame:
    """Nearest-cell assignment by exact bigint L2 (ties to the smaller
    cluster id): (id, cluster), cluster of the centroid frame's type.
    The (tiny) centroid table is collected to the driver at call time
    and every row is assigned by an exact-int64 NumPy kernel in one
    Arrow projection — zero corpus shuffle, bit-identical to the
    integer SQL replay, ~30x the interpreted zip_with fold at sf0.1."""
    return quantized.select("id", _cell_argmin(centroids, "assign_cells"))


def _pq_encode_arrow(cb_rows: list, m: int, dim: int, code_type):
    """Arrow-batched PQ encode: exact int64 subvector distances,
    first-min argmin over code-ascending codewords (ties to the smaller
    code). ``cb_rows`` is (subspace, code, cw) sorted by (subspace,
    code); codes are emitted as array<``code_type``>."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    sub = dim // m
    by_sub: dict[int, tuple[list, list]] = {}
    for s, code, cw in cb_rows:
        codes, cws = by_sub.setdefault(int(s), ([], []))
        codes.append(code)
        cws.append(cw)
    books = {
        j: (codes, np.asarray(cws, dtype=np.int64))
        for j, (codes, cws) in by_sub.items()
    }

    @pandas_udf(ArrayType(code_type))
    def encode_udf(qv):
        import numpy as np
        import pandas as pd

        if len(qv) == 0:
            return pd.Series([], dtype=object)
        M = np.vstack(qv.map(np.asarray).to_numpy()).astype(np.int64)
        out = np.column_stack(
            [
                _assign_argmin_np(M[:, j * sub : (j + 1) * sub], *books[j])
                for j in range(m)
            ]
        )
        return pd.Series(out.tolist())

    return encode_udf


def pq_encode(
    quantized: DataFrame,
    codebooks: DataFrame,
    m: int = 8,
    dim: int = 64,
) -> DataFrame:
    """Product-quantization encode (the FAISS PQ compressor): split
    each ``dim``-long integer vector into ``m`` subvectors and replace
    each with the id of its nearest codeword in that subspace's
    codebook -> (id, codes array<code> of length m, code of the
    codebook's type). 64 dims x 8 bytes become m small ints — the
    100 TB memory story for ANN re-rank.

    ``codebooks`` = (subspace, code, cw array<long> of dim/m) with
    INTEGER codewords: every distance is an exact bigint, so encodes
    are bit-identical across engines (a float codebook would make the
    argmin order-sensitive). Ties break to the smaller code id.

    Plan: the (m x k)-row codebook (tiny by PQ's design) is collected
    to the driver at call time and every vector is encoded in one
    exact-int64 NumPy pass inside one Arrow projection — no explode,
    no codebook join, no exchange (an explode-and-join encode moves
    |corpus| x m x k rows through an interpreted distance)."""
    sub = dim // m
    if sub * m != dim:
        raise ValueError(f"pq_encode: dim={dim} not divisible by m={m}")
    cb_rows = sorted(
        (int(r["subspace"]), r["code"], list(r["cw"]))
        for r in _collect_centroids(codebooks, "pq_encode")
    )
    subs = {s for s, _, _ in cb_rows}
    if subs != set(range(m)):
        raise ValueError(
            f"pq_encode: needs codebooks for subspaces 0..{m - 1}, "
            f"got {sorted(subs)}"
        )
    code_type = codebooks.schema["code"].dataType
    return quantized.select(
        "id",
        _pq_encode_arrow(cb_rows, m, dim, code_type)(F.col("qv")).alias("codes"),
    )


def pq_train(
    quantized: DataFrame,
    k: int = 6,
    m: int = 8,
    dim: int = 64,
    iters: int = 2,
    init_codebooks: DataFrame | None = None,
) -> DataFrame:
    """Train PQ codebooks with per-subspace Lloyd k-means (the FAISS
    `ProductQuantizer::train` step) -> (subspace, code, cw array<long>),
    ready for pq_encode/pq_adc_topk. Exemplar codebooks (one codeword
    per coarse label) only work when labels happen to tile the space;
    training moves each subspace's codewords to the actual data means,
    cutting quantization error and raising ADC recall.

    Determinism contract (what makes a trained quantizer
    oracle-checkable): a deterministic init — the ``k`` smallest-id
    vectors' subvectors by default, or an explicit ``init_codebooks``
    (subspace, code, cw) such as the per-label exemplars (``k`` is then
    ignored; seeding with the exemplars makes training a strict
    refinement of the exemplar quantizer) — all-bigint distances
    (_L2_INT), argmin ties to the smaller code, and INTEGER centroid
    updates — each new
    codeword coordinate is ``sum div count`` on exact bigint sums
    (both Spark's ``div`` and DuckDB's ``//`` truncate toward zero),
    so there is not a single float anywhere in training and the
    codebooks are bit-identical cross-engine. Integer truncation loses
    < 1 ulp of the 1e6-scaled coordinates — noise relative to the
    quantization error PQ accepts by design. Codes that lose all
    members drop out (like kmeans_lloyd), matching the SQL replay.

    Scale shape per iteration: codebooks are m x k rows -> broadcast
    to the (corpus x m)-row subvector explode; the argmin is a
    groupBy(id, subspace) with a constant-size min-struct buffer; the
    update is a groupBy(subspace, code) with dim/m SUM buffers —
    map-side partials throughout, no corpus-sized window, same
    per-round cost profile as kmeans_lloyd."""
    sub = dim // m
    if sub * m != dim:
        raise ValueError(f"pq_train: dim={dim} not divisible by m={m}")
    pieces = quantized.select(
        "id",
        F.posexplode(
            F.expr(
                f"transform(sequence(0, {m - 1}), "
                f"j -> slice(qv, j * {sub} + 1, {sub}))"
            )
        ).alias("subspace", "sub_qv"),
    )
    if init_codebooks is not None:
        cb = init_codebooks.select("subspace", "code", "cw")
    else:
        init_ids = quantized.select("id").orderBy("id").limit(k)
        w_init = Window.partitionBy("subspace").orderBy("id")
        cb = (
            pieces.join(F.broadcast(init_ids), "id")
            .withColumn("code", F.row_number().over(w_init) - 1)
            .select("subspace", "code", F.col("sub_qv").alias("cw"))
        )
    d2 = F.expr(_L2_INT.format(a="sub_qv", b="cw"))
    for _ in range(iters):
        assigned = (
            pieces.join(F.broadcast(cb), "subspace")
            .select("id", "subspace", "sub_qv", "code", d2.alias("d2"))
            .groupBy("id", "subspace")
            .agg(
                F.min(F.struct("d2", "code")).alias("_m"),
                # sub_qv is functionally determined by (id, subspace),
                # so first() is value-deterministic
                F.first("sub_qv").alias("sub_qv"),
            )
            .select("subspace", F.col("_m.code").alias("code"), "sub_qv")
        )
        sums = assigned.groupBy("subspace", "code").agg(
            F.count(F.lit(1)).alias("n"),
            *[F.sum(F.col("sub_qv")[i]).alias(f"_s{i}") for i in range(sub)],
        )
        cb = sums.select(
            "subspace",
            "code",
            F.array(*[F.expr(f"_s{i} div n") for i in range(sub)]).alias("cw"),
        )
    return cb


def pq_adc_topk(
    codes_df: DataFrame,
    codebooks: DataFrame,
    queries: DataFrame,
    k: int = 3,
    m: int = 8,
    dim: int = 64,
    exclude_self: bool = True,
) -> DataFrame:
    """Asymmetric-distance top-k over PQ codes: per query, precompute
    the (m x |codebook|) table of exact subspace distances to every
    codeword, then score each encoded document as the SUM of m table
    lookups — the ADC scan that never touches the original vectors.
    All-bigint arithmetic end to end: the per-subspace distances and
    their sum are exact, so ranking (adc asc, neighbor id) is
    engine-identical.

    Scale shape: the distance table is (queries x m x k) rows —
    broadcast; documents explode to m rows each (the only corpus-sized
    term, linear in m), join the table on (subspace, code), and one
    groupBy(query, doc) sums the m lookups."""
    sub = dim // m
    qpieces = queries.select(
        F.col("id").alias("query_id"),
        F.posexplode(
            F.expr(
                f"transform(sequence(0, {m - 1}), "
                f"j -> slice(qv, j * {sub} + 1, {sub}))"
            )
        ).alias("subspace", "sub_qv"),
    )
    d2 = F.expr(_L2_INT.format(a="sub_qv", b="cw"))
    dtable = qpieces.join(F.broadcast(codebooks), "subspace").select(
        "query_id", "subspace", "code", d2.alias("d2")
    )
    doc_codes = codes_df.select(
        "id", F.posexplode("codes").alias("subspace", "code")
    )
    cond = F.col("query_id") != F.col("id") if exclude_self else F.lit(True)
    scored = (
        doc_codes.join(F.broadcast(dtable), ["subspace", "code"])
        .where(cond)
        .groupBy("query_id", F.col("id").alias("neighbor_id"))
        .agg(F.sum("d2").alias("adc_dist"))
    )
    w = Window.partitionBy("query_id").orderBy(F.asc("adc_dist"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "adc_dist")
    )


def ivfpq_adc_topk(
    codes_df: DataFrame,
    buckets_df: DataFrame,
    probes_df: DataFrame,
    codebooks: DataFrame,
    queries: DataFrame,
    k: int = 3,
    m: int = 8,
    dim: int = 64,
    exclude_self: bool = True,
    centroids: DataFrame | None = None,
    refine: int | None = None,
    vectors: DataFrame | None = None,
    refine_metric: str = "l2",
    norm_bounds: tuple[int, int] | None = None,
    norm_spread_tolerance: float = 1.25,
) -> DataFrame:
    """IVF-PQ search (the FAISS IVFADC composition — the shape real
    billion-vector deployments run): the ADC scan of ``pq_adc_topk``
    restricted to each query's probed inverted-file cells, so the
    corpus-sized term shrinks from |corpus| x m to |candidates| x m
    with |candidates| ~ |corpus| x nprobe / n_cells per query.

    Inputs: ``codes_df`` (id, codes) from ``pq_encode``; ``buckets_df``
    (id, bucket) from the coarse quantizer; ``probes_df`` (query_id,
    bucket) = each query's nprobe nearest cells; ``codebooks``
    (subspace, code, cw); ``queries`` (id, qv). All-bigint distance
    arithmetic — ranking (adc asc, neighbor id) is engine-identical.

    ``centroids`` (bucket/cluster, cv array<long> — e.g. from
    :func:`ivf_train_int`) switches on RESIDUAL mode, the actual
    FAISS IVFADC encoding: codes are assumed trained/encoded on the
    residuals (qv - cv[bucket]), and each query's distance table is
    built per PROBED CELL from its own residual against that cell's
    centroid — |queries| x nprobe x m x |codebook| rows, still a
    broadcast. Residuals concentrate the quantization range around
    each cell, which is what lets a small codebook rank across cells.

    ``refine`` (with ``vectors`` = (id, qv) original quantized
    vectors) adds the exact re-rank stage (FAISS IndexRefineFlat):
    the ADC ranking keeps its top-``refine`` shortlist per query and
    the final top-k is exact re-rank on the original vectors —
    |queries| x refine exact distances, never corpus-sized. ADC alone
    cannot separate near-ties on isotropic data (measured recall@3
    0.07 -> 0.60 at 20k vectors with refine=100); the shortlist
    re-rank is how production IVFPQ deployments actually serve.
    The query side of the re-rank takes qv from ``queries`` itself
    (not a vectors-store lookup), so external query ids absent from
    the corpus store are refined, never silently dropped.
    Output columns: (query_id, neighbor_id, rank, adc_dist) — in
    refine mode ``adc_dist`` is the EXACT refined distance (the
    ranking key, name kept stable for schema compatibility).

    ``refine_metric``: ``'l2'`` (default) is exact bigint L2 —
    cross-engine bit-identical, and COSINE-equivalent ranking only
    when the corpus is constant-norm (unit-normalized then
    quantized, the embeddings-table contract). On a mixed-norm
    corpus L2 ranks by magnitude too; pass ``'cosine'`` there —
    it ranks by exact angular order via integer cross-comparison-safe
    double cosine distance 1 - dot/(|a||b|) (ties still break on
    neighbor_id). Pick explicitly; there is no silent fallback.

    ``norm_bounds`` (r15, VERDICT r14 missing #3): the corpus
    (min, max) squared-norm pair from ``vector_norm_bounds`` /
    ``read_ivf_norm_bounds``. When provided with ``refine_metric='l2'``
    and the spread exceeds ``norm_spread_tolerance`` (ratio of norms,
    default 1.25), the call RAISES instead of silently magnitude-
    ranking a mixed-norm corpus — the guard is loud, not a silent
    metric swap, matching the pick-explicitly contract above.

    Scale shape: the per-query distance tables broadcast (queries x m
    x |codebook| rows); candidate generation is a bucket equi-join —
    and with the corpus PARTITIONED BY bucket on disk (write_ivf_index
    layout) the probe join prunes cell directories before any IO. No
    corpus-wide explode: only candidates expand to m rows; the refine
    joins only the shortlist back to the vector store."""
    if refine is not None and vectors is None:
        raise ValueError("ivfpq_adc_topk: refine requires vectors (id, qv)")
    if (
        refine is not None
        and refine_metric == "l2"
        and norm_bounds is not None
    ):
        check_norm_spread(
            norm_bounds, norm_spread_tolerance, what="ivfpq_adc_topk corpus"
        )
    sub = dim // m
    slices = F.expr(
        f"transform(sequence(0, {m - 1}), "
        f"j -> slice(rq, j * {sub} + 1, {sub}))"
    )
    if centroids is not None:
        # residual mode: the query's table is per probed cell
        cent = centroids.select(
            F.col(centroids.columns[0]).alias("bucket"), "cv"
        )
        qres = (
            probes_df.select("query_id", "bucket")
            .distinct()
            .join(
                queries.select(F.col("id").alias("query_id"), "qv"),
                "query_id",
            )
            .join(F.broadcast(cent), "bucket")
            .select(
                "query_id",
                "bucket",
                F.zip_with("qv", "cv", lambda x, c: x - c).alias("rq"),
            )
        )
        qpieces = qres.select(
            "query_id", "bucket", F.posexplode(slices).alias("subspace", "sub_qv")
        )
        dt_keys = ["query_id", "bucket", "subspace", "code"]
    else:
        qpieces = queries.select(
            F.col("id").alias("query_id"), F.col("qv").alias("rq")
        ).select(
            "query_id", F.posexplode(slices).alias("subspace", "sub_qv")
        )
        dt_keys = ["query_id", "subspace", "code"]
    d2 = F.expr(_L2_INT.format(a="sub_qv", b="cw"))
    dtable = qpieces.join(F.broadcast(codebooks), "subspace").select(
        *[c for c in dt_keys if c != "code"], "code", d2.alias("d2")
    )
    # dedupe the probe list (ADVICE r11): a duplicate (query_id, bucket)
    # probe row would emit each cell's candidates twice and the ADC
    # groupBy-sum would double-count every subspace distance, silently
    # corrupting the ranking. probes_df is nprobe x |queries| rows —
    # the distinct is free. buckets_df must map each id to exactly ONE
    # bucket (the coarse-quantizer argmin guarantees it; a multi-bucket
    # id under a query probing both cells would double-count the same
    # way — dedupe upstream if your coarse assignment is multi-valued).
    probes = probes_df.select("query_id", "bucket").distinct()
    # broadcast the probe list (nprobe rows per query, fewer than the
    # dtable broadcast below): left to AQE, this join was a shuffle on
    # some runs and a broadcast on others, by which stage finished first
    cands = (
        F.broadcast(probes)
        .join(codes_df.join(buckets_df, "id"), "bucket")
        .select("query_id", "bucket", "id", "codes")
    )
    doc_codes = cands.select(
        "query_id", "bucket", "id", F.posexplode("codes").alias("subspace", "code")
    )
    cond = F.col("query_id") != F.col("id") if exclude_self else F.lit(True)
    scored = (
        doc_codes.join(F.broadcast(dtable), dt_keys)
        .where(cond)
        .groupBy("query_id", F.col("id").alias("neighbor_id"))
        .agg(F.sum("d2").alias("adc_dist"))
    )
    w = Window.partitionBy("query_id").orderBy(F.asc("adc_dist"), F.asc("neighbor_id"))
    if refine is None:
        return (
            scored.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select("query_id", "neighbor_id", "rank", "adc_dist")
        )
    if refine_metric not in ("l2", "cosine"):
        raise ValueError(
            f"ivfpq_adc_topk: refine_metric must be 'l2' (constant-norm "
            f"corpora) or 'cosine' (mixed-norm), got {refine_metric!r}"
        )
    shortlist = (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= int(refine))
        .select("query_id", "neighbor_id")
    )
    if refine_metric == "l2":
        exact_d = F.expr(_L2_INT.format(a="_qa", b="_qb"))
    else:
        # cosine distance 1 - dot/(|a||b|): dot and squared norms are
        # exact bigint sums (per-term |x*y| bounded well under 2^63 for
        # quantized components); only the final sqrt/divide is double.
        # Zero-norm vectors get distance 1.0 (no angular information).
        dot = _dot("_qa", "_qb")
        na = _dot("_qa", "_qa")
        nb = _dot("_qb", "_qb")
        exact_d = F.when(
            (na > 0) & (nb > 0),
            F.lit(1.0)
            - dot.cast("double") / (F.sqrt(na.cast("double")) * F.sqrt(nb.cast("double"))),
        ).otherwise(F.lit(1.0))
    # _qa comes from `queries` (which always carries qv): an external
    # query id absent from the corpus `vectors` store must refine, not
    # silently vanish through an inner join against the store.
    # In-plan dimension guard (ADVICE r14 #2): with _qa external, a
    # query/corpus dim mismatch is possible for the first time, and
    # zip_with would silently NULL-pad — NULL L2 distances sort FIRST
    # under asc, promoting a malformed query's candidates to rank 1.
    # Fail loudly per-row instead, mirroring kmeans_lloyd's dim check.
    exact_d = F.when(
        F.size(F.col("_qa")) != F.size(F.col("_qb")),
        F.raise_error(
            F.concat(
                F.lit("ivfpq_adc_topk: query vector dim "),
                F.size(F.col("_qa")).cast("string"),
                F.lit(" != corpus vector dim "),
                F.size(F.col("_qb")).cast("string"),
                F.lit(" — queries.qv must match the indexed corpus dim"),
            )
        ),  # NullType: coerces to exact_d's own type (bigint for L2,
        # double for cosine) — an explicit cast would silently widen
        # the exact integer L2 distance to double
    ).otherwise(exact_d)
    refined = (
        shortlist.join(
            vectors.select(F.col("id").alias("neighbor_id"), F.col("qv").alias("_qb")),
            "neighbor_id",
        )
        .join(
            queries.select(F.col("id").alias("query_id"), F.col("qv").alias("_qa")),
            "query_id",
        )
        .select("query_id", "neighbor_id", exact_d.alias("adc_dist"))
    )
    w2 = Window.partitionBy("query_id").orderBy(
        F.asc("adc_dist"), F.asc("neighbor_id")
    )
    return (
        refined.withColumn("rank", F.row_number().over(w2))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "adc_dist")
    )


def quantize_sq8(
    df: DataFrame, vec_col: str = "embedding", id_col: str = "vec_id"
) -> DataFrame:
    """SQ8 scalar quantization — the standard 4x storage compressor for
    embedding columns (what FAISS calls ScalarQuantizer/QT_8bit): each
    vector is min-max normalized to [0, 255] with its own (min, scale)
    pair stored alongside, so dequantization is q * scale + min.

    Codes via floor((x - min) * 255 / (max - min)) — floor, not round:
    every step is the same IEEE double op in any engine, so the codes
    are bit-identical cross-engine (rounding halves are not). A
    constant vector (max == min) codes to all zeros with scale 0.

    Stateless per-row map: no shuffle, no fitted codebook — runs at
    scan speed over 100 TB and parallelizes trivially."""
    x = F.col(vec_col)
    mn = F.array_min(F.expr(f"transform({vec_col}, v -> cast(v as double))"))
    mx = F.array_max(F.expr(f"transform({vec_col}, v -> cast(v as double))"))
    rng = mx - mn
    codes = F.when(
        rng > 0,
        F.expr(
            f"transform({vec_col}, v -> cast(floor((cast(v as double) - _mn) * 255.0 / _rng) as int))"
        ),
    ).otherwise(F.expr(f"transform({vec_col}, v -> 0)"))
    return (
        df.select(F.col(id_col).alias("id"), x)
        .withColumn("_mn", mn)
        .withColumn("_rng", rng)
        .select(
            "id",
            F.col("_mn").alias("mn"),
            (F.col("_rng") / F.lit(255.0)).alias("scale"),
            codes.alias("codes"),
        )
    )

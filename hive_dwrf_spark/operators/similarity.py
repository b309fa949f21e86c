"""Similarity search over embedding columns (array<float>).

- cosine_topk: brute-force exact top-k against a broadcast query vector.
  Distributed scan + TakeOrdered; the query vector travels as a literal so
  there is no shuffle at all — at 100 TB this is one pass over the data.
- lsh_buckets / ann_topk: random-hyperplane LSH (sign bits of fixed random
  projections) so candidate generation touches only matching buckets; the
  scale path for repeated queries or all-pairs search. Projection matrix is
  seeded — bucket assignment is reproducible across runs and machines.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

from ..format.env import env_int
from .util import collect_bounded, local_frame

_SEED = 20240813


def _dot(x, y):
    """Double-precision left-to-right dot product of two array columns."""
    return F.aggregate(
        F.zip_with(x, y, lambda p, q: p * q), F.lit(0.0), lambda acc, z: acc + z
    )


def cosine_topk(
    df: DataFrame, vec_col: str, id_col: str, query_vec: list[float], k: int
) -> DataFrame:
    """Exact top-k by cosine similarity to a constant query vector."""
    q = [float(x) for x in query_vec]
    qnorm = float(np.sqrt(np.dot(q, q)))
    qlit = F.array(*[F.lit(x) for x in q])
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    sim = _dot(v, qlit) / (F.sqrt(_dot(v, v)) * F.lit(qnorm))
    return (
        df.select(F.col(id_col), F.round(sim, 6).alias("cosine"))
        .orderBy(F.col("cosine").desc(), F.col(id_col))
        .limit(k)
    )


def cosine_range(
    df: DataFrame, vec_col: str, id_col: str, query_vec: list[float], threshold: float
) -> DataFrame:
    """Exact range search: every vector with cosine(query) >= threshold.

    Same single-scan shape as cosine_topk but without the top-k sort —
    a pure filter, so at scale it is one pass over the embedding column
    with no shuffle at all (predicate stays in whole-stage codegen except
    the array dot product)."""
    q = [float(x) for x in query_vec]
    qnorm = float(np.sqrt(np.dot(q, q)))
    qlit = F.array(*[F.lit(x) for x in q])
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    sim = _dot(v, qlit) / (F.sqrt(_dot(v, v)) * F.lit(qnorm))
    return (
        df.select(F.col(id_col), F.round(sim, 6).alias("cosine"))
        .filter(F.col("cosine") >= threshold)
        .orderBy(F.col(id_col))
    )


def embedding_centroids(
    df: DataFrame, vec_col: str, label_col: str, scale: int = 1 << 20
) -> DataFrame:
    """Per-label centroid of an embedding column, computed in fixed-point so
    the reduction is exact and order-independent: each component is
    quantized to round(x * scale) as int64, summed exactly, and divided back
    at the end. Floating-point summation order varies with partitioning, so
    a float sum is not reproducible across runs/cluster sizes — the integer
    sum is, bit-for-bit (at scale=2^20 the quantization error per component
    is <= 2^-21, far below any embedding's noise floor).

    Shape at scale: posexplode -> one hash aggregate keyed by (label, dim),
    partial-aggregated map-side, so the shuffle carries num_labels x dim
    rows, independent of corpus size. Returns long-form (label, dim,
    centroid) rows — the join-/store-friendly layout."""
    q = F.round(F.col("x").cast("double") * scale).cast("bigint")
    return (
        df.select(F.col(label_col), F.posexplode(F.col(vec_col)).alias("dim", "x"))
        .select(label_col, "dim", q.alias("qx"))
        .groupBy(label_col, "dim")
        .agg(
            F.round(F.sum("qx") / (F.count("*") * F.lit(float(scale))), 6).alias(
                "centroid"
            )
        )
    )


def quantize_embeddings(
    df: DataFrame, vec_col: str, id_col: str, bits: int = 8
) -> DataFrame:
    """Symmetric per-vector int quantization (the int8 memory/bandwidth
    trick for ANN serving and embedding storage): scale = max|v| / (2^(b-1)
    - 1), q_i = trunc(v_i / scale). Pure column expressions — one scan, no
    shuffle, 4x (fp32) / 8x (fp64) smaller vectors downstream.

    Truncation (not rounding) is the defined semantics: Spark's
    double->int cast truncates while SQL engines disagree on cast
    rounding, so `trunc` keeps every engine bit-identical. Zero vectors
    quantize to zeros with scale 0."""
    qmax = float(2 ** (bits - 1) - 1)
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    scale = F.array_max(F.transform(v, lambda x: F.abs(x))) / F.lit(qmax)
    return df.select(
        F.col(id_col),
        scale.alias("scale"),
        F.when(scale == 0.0, F.transform(v, lambda x: F.lit(0)))
        .otherwise(
            F.transform(v, lambda x: (x / scale).cast("int"))
        )
        .alias("q"),
    )


def kmeans_lloyd(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    k: int = 4,
    rounds: int = 2,
    scale: int = 10_000,
    round_times: list | None = None,
) -> DataFrame:
    """Lloyd k-means over an embedding column with EXACT
    integer arithmetic — deterministic under any partitioning and
    replayable in ANSI SQL, unlike float k-means whose centroids depend on
    summation order (and whose ML-library implementations seed from RNG
    state).

    Seeding: the quantized vectors of the k smallest ids (pure function of
    the data; plans as TakeOrderedAndProject, per-partition O(k) heaps).
    Per round:
      - ASSIGN: corpus x k via a broadcast of the k-row centroid frame;
        squared distance is an integer zip_with/aggregate; the winner is
        ONE min(struct(dist, cid)) — ties break to the smallest cid.
      - UPDATE: per-(cluster, dim) integer sums via posexplode + hash
        aggregate (map-side combinable; the shuffle carries k x d rows at
        any corpus size); centroid component = floor(sum / n), exact in
        both engines at these magnitudes.
    Cost at 100 TB: rounds x (one corpus scan + one k*d-row shuffle); no
    all-pairs anything, no RNG, no driver-side data. Empty clusters drop
    out (k shrinks) rather than being re-seeded — documented Lloyd
    behavior, deterministic either way.

    Adaptive bounded-corpus path (the connected_components /
    pagerank_fixed_point discipline): at most SPARK_GRAFT_CC_LOCAL_THRESHOLD
    quantized values (read at call time, 2,000,000 = 16 MB by default)
    come back through the bounded collect (util.collect_bounded) as one
    Arrow table, the seeds are its k smallest ids, and the rounds run in
    numpy with the same arithmetic: int64 squared distances, ties to the
    smallest cid (centroid columns in ascending cid order), centroid =
    floor(float64(sum) / float64(n)), empty clusters dropped. Two Spark
    jobs (the sizing pass, the fetch) instead of 1 + 2 x rounds eager
    ones, and the result plans as a LocalRelation. The collected input
    goes to the distributed loop, as a LocalRelation, unless its ids are
    non-NULL, unique and neither floating-point (Spark groups -0.0 with
    0.0) nor nested, every vector has length d >= 1 with no NULL
    element, and the magnitudes fit the int64 headroom below — the
    inputs on which the distributed loop's grouping, zip_with padding or
    overflow would differ. Over the threshold the loop reads the cache
    the sizing pass filled. A setting of 0 skips the gate; the stress
    harness sets it so scale evidence measures the loop. `round_times`
    (stress instrumentation) is filled by the distributed loop only.

    int64 headroom: distances <= d * (2 * scale * max|x|)^2 — ~1e11 at
    d=64 unit-norm; per-(cluster, dim) sums <= scale * max|x| * n_rows.
    Returns long-form (cid, n, dim, c_e4): cluster label (seed id),
    cluster size, 1-based dim, exact fixed-point centroid component.
    """
    from pyspark import StorageLevel

    if k <= 0 or rounds <= 0:
        raise ValueError(f"k/rounds must be positive, got {k}/{rounds}")
    threshold = env_int("SPARK_GRAFT_CC_LOCAL_THRESHOLD", 2_000_000)
    q = F.transform(
        F.col(vec_col),
        lambda x: F.floor(x.cast("double") * F.lit(float(scale)) + F.lit(0.5)),
    )
    # NULL vectors are excluded (a NULL distance struct would otherwise
    # poison the min(struct) winner; the SQL replay's unnest skips them)
    qdf = df.filter(F.col(vec_col).isNotNull()).select(
        F.col(id_col).alias("__id"), q.alias("__qv")
    )
    if threshold:
        tbl = collect_bounded(qdf, threshold, weight=F.size("__qv"))[1]
        if tbl is not None:
            out = _kmeans_local(qdf, tbl, k, rounds)
            if out is not None:
                return out
            # a shape the loop treats differently: it runs over the
            # collected corpus, never recomputing it
            qdf = qdf.sparkSession.createDataFrame(tbl, qdf.schema)
    else:
        qdf = qdf.persist(StorageLevel.MEMORY_AND_DISK)
    cent = (
        qdf.orderBy("__id")
        .limit(k)
        .select(F.col("__id").alias("cid"), F.col("__qv").alias("__cv"))
    )
    for _ in range(rounds):
        import time as _time

        _t0 = _time.perf_counter()
        a = qdf.crossJoin(F.broadcast(cent))
        dist = F.aggregate(
            F.zip_with(F.col("__qv"), F.col("__cv"), lambda x, c: (x - c) * (x - c)),
            F.lit(0).cast("long"),
            lambda acc, v: acc + v,
        )
        best = (
            a.select("__id", "__qv", F.struct(dist.alias("d"), F.col("cid")).alias("__s"))
            .groupBy("__id")
            .agg(F.min("__s").alias("__w"), F.first("__qv").alias("__qv"))
            .select("__id", F.col("__w.cid").alias("cid"), "__qv")
        )
        sums = (
            best.select("cid", F.posexplode("__qv").alias("__d0", "__qx"))
            .groupBy("cid", "__d0")
            .agg(F.sum("__qx").alias("__s"), F.count(F.lit(1)).alias("__n"))
        )
        cent = (
            sums.withColumn("__c", F.floor(F.col("__s") / F.col("__n")).cast("long"))
            .groupBy("cid")
            .agg(
                F.transform(
                    F.sort_array(F.collect_list(F.struct("__d0", "__c"))),
                    lambda s: s["__c"],
                ).alias("__cv"),
                F.first("__n").alias("__n"),
            )
        )
        # k-row frame; eagerly materialized so each round's lineage is
        # cut (the bpe_train_merges / label_propagation discipline) —
        # without this, round r's plan nests all r-1 earlier rounds and
        # rounds=20 would compound analysis depth. localCheckpoint stores
        # blocks unreplicated; the k-row frame is trivially recomputable,
        # so the label_propagation reliable= escape hatch isn't needed.
        cent = cent.localCheckpoint(eager=True)
        if round_times is not None:
            # per-round wall time of the eager materialization above —
            # stress-harness instrumentation (round-13 scale evidence:
            # the "cost = rounds x one corpus scan + one kxd shuffle"
            # claim as a measurement), never set on query paths
            round_times.append(round(_time.perf_counter() - _t0, 3))
    # the final centroids are materialized above, so the quantized-corpus
    # cache can be released NOW — repeated calls in one session (e.g. via
    # ivf_lloyd_topk) must not pin corpus-sized caches forever (the
    # label_propagation unpersist discipline)
    qdf.unpersist()
    return cent.select(
        "cid",
        F.col("__n").alias("n"),
        F.posexplode("__cv").alias("__d0", "c_e4"),
    ).select("cid", "n", (F.col("__d0") + 1).alias("dim"), "c_e4")


def _kmeans_local(qdf, tbl, k, rounds):
    """kmeans_lloyd's rounds on the driver over `tbl`, the collected
    quantized frame `qdf` (__id, __qv), or None when it has a shape the
    distributed loop treats differently (see kmeans_lloyd). The seeds are
    the vectors of the k smallest ids, picked from `tbl`."""
    import pyarrow as pa
    import pyarrow.compute as pc

    n = tbl.num_rows
    ids = tbl.column("__id")
    if (
        not n
        or pa.types.is_floating(ids.type)
        or pa.types.is_nested(ids.type)
        or ids.null_count
        or len(pc.unique(ids)) != n
    ):
        return None
    seeds = pc.sort_indices(ids)[:k]
    vecs = tbl.column("__qv").combine_chunks()
    d = len(vecs[seeds[0].as_py()])
    flat = vecs.flatten()
    if not d or flat.null_count or not pc.all(
        pc.equal(pc.list_value_length(vecs), d)
    ).as_py():
        return None
    Q = flat.to_numpy().reshape(n, d)
    top = max(int(Q.max()), -int(Q.min()))
    # (2 * top + 1): a float64 quotient may floor one below -top
    if d * (2 * top + 1) ** 2 >= 1 << 63 or n * top >= 1 << 63:
        return None
    cids = ids.take(seeds).to_pylist()
    C = Q[seeds.to_numpy()]
    for _ in range(rounds):
        D = np.empty((n, len(C)), dtype=np.int64)
        for j, c in enumerate(C):
            diff = Q - c
            D[:, j] = np.einsum("ij,ij->i", diff, diff)
        # argmin returns the FIRST minimum: columns are in ascending cid
        # order, so ties go to the smallest cid like min(struct(d, cid))
        a = D.argmin(axis=1)
        sizes = np.bincount(a, minlength=len(C))
        keep = np.flatnonzero(sizes)
        sums = np.stack([Q[a == j].sum(axis=0) for j in keep])
        C = np.floor(
            sums.astype(np.float64) / sizes[keep, None].astype(np.float64)
        ).astype(np.int64)
        cids = [cids[j] for j in keep]
        sizes = sizes[keep]
    schema = StructType([
        StructField("cid", qdf.schema["__id"].dataType),
        StructField("n", LongType()),
        StructField("dim", IntegerType(), False),
        StructField("c_e4", LongType()),
    ])
    rows = [
        (cid, int(sz), dim + 1, int(c))
        for cid, sz, cv in zip(cids, sizes, C)
        for dim, c in enumerate(cv)
    ]
    return local_frame(qdf.sparkSession, rows, schema)


def pca_basis(
    df: DataFrame, vec_col: str, p: int, scale: int = 10_000
):
    """PCA basis from EXACT mergeable sufficient statistics: the int64
    Gram matrix (gram_pairs — d(d+1)/2-row partials per Arrow batch) plus
    per-dim integer sums give the covariance without a second look at any
    row; the d x d eigensolve is driver-side numpy (d is small — the
    data-sized work is the one corpus scan, and the fetched statistics
    are catalog-sized: d(d+1)/2 + d rows, NOT data).

    Because the sufficient statistics are exact integers, the covariance
    — and therefore the basis — is deterministic under any partitioning;
    a float covariance accumulated in shuffle order would not be.
    Returns (eigvals_desc[:p], components[p x d], n_rows) as numpy arrays
    (float64); components rows are unit-norm eigenvectors.
    """
    import numpy as np

    rows = gram_pairs(df, vec_col, scale).collect()
    if not rows:
        raise ValueError("pca_basis: empty input")
    d = max(r.j for r in rows)
    n = rows[0].n
    S = np.zeros((d, d), dtype=np.float64)
    for r in rows:
        S[r.i - 1, r.j - 1] = r.s_e8
        S[r.j - 1, r.i - 1] = r.s_e8
    q = F.transform(
        F.col(vec_col),
        lambda x: F.floor(x.cast("double") * F.lit(float(scale)) + F.lit(0.5)),
    )
    sums = (
        df.select(F.posexplode(q).alias("dim", "qx"))
        .groupBy("dim")
        .agg(F.sum("qx").alias("s"))
        .collect()
    )
    m = np.zeros(d, dtype=np.float64)
    for r in sums:
        m[r.dim] = r.s
    mean = m / (scale * n)
    cov = S / (float(scale) ** 2 * n) - np.outer(mean, mean)
    w, v = np.linalg.eigh(cov)
    order = np.argsort(w)[::-1][:p]
    return w[order], v[:, order].T.copy(), n


def pca_project(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    components,
) -> DataFrame:
    """Project the corpus onto a PCA basis: one shuffle-free codegen'd
    expression per component (the basis folds into the plan as double
    literals — same zero-broadcast shape as random_projection). Returns
    (id_col, k, comp) long-form with 1-based k."""
    comps = []
    for ki, row in enumerate(components):
        carr = F.array(*[F.lit(float(c)) for c in row])
        proj = F.aggregate(
            F.zip_with(
                F.col(vec_col), carr, lambda x, c: x.cast("double") * c
            ),
            F.lit(0.0),
            lambda acc, t: acc + t,
        )
        comps.append(
            F.struct(F.lit(ki + 1).cast("int").alias("k"), proj.alias("comp"))
        )
    return df.select(
        F.col(id_col), F.explode(F.array(*comps)).alias("__c")
    ).select(id_col, F.col("__c.k").alias("k"), F.col("__c.comp").alias("comp"))


def kmeans_assign(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    centroids: DataFrame,
    scale: int = 10_000,
) -> DataFrame:
    """Assign every row to its nearest centroid — the same integer argmin
    as kmeans_lloyd's assign step (e4 quantization, integer squared
    distance, min(struct(dist, cid)) winner). `centroids` is the long-form
    (cid, dim, c_e4) frame kmeans_lloyd returns; it is tiny (k x d rows)
    and broadcasts. One corpus scan, no shuffle beyond the per-id min.
    Returns (id_col, cid, dist_e8)."""
    cent = centroids.groupBy("cid").agg(
        F.transform(
            F.sort_array(F.collect_list(F.struct("dim", "c_e4"))),
            lambda s: s["c_e4"],
        ).alias("__cv")
    )
    q = F.transform(
        F.col(vec_col),
        lambda x: F.floor(x.cast("double") * F.lit(float(scale)) + F.lit(0.5)),
    )
    # NULL vectors have no nearest centroid: excluded, as in kmeans_lloyd
    a = (
        df.filter(F.col(vec_col).isNotNull())
        .select(F.col(id_col), q.alias("__qv"))
        .crossJoin(F.broadcast(cent))
    )
    dist = F.aggregate(
        F.zip_with(F.col("__qv"), F.col("__cv"), lambda x, c: (x - c) * (x - c)),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    return (
        a.select(id_col, F.struct(dist.alias("d"), F.col("cid")).alias("__s"))
        .groupBy(id_col)
        .agg(F.min("__s").alias("__w"))
        .select(
            id_col,
            F.col("__w.cid").alias("cid"),
            F.col("__w.d").alias("dist_e8"),
        )
    )


def ivf_lloyd_topk(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    query_vec: list[float],
    k: int,
    n_lists: int = 4,
    nprobe: int = 2,
    rounds: int = 2,
    scale: int = 10_000,
    round_times: list | None = None,
) -> DataFrame:
    """IVF approximate nearest-neighbor search that is EXACTLY replayable:
    the coarse quantizer is kmeans_lloyd (deterministic integer Lloyd, no
    RNG), assignment/probing/ranking are all integer arithmetic, so the
    entire index-and-search pipeline hash-checks against an ANSI-SQL
    replay — unlike float KMeans IVF whose centroids wiggle with summation
    order and can only be checked via a recall bound.

    Search shape at 100 TB: centroids and the probed-list ids broadcast;
    the corpus is scanned once for assignment (in practice persisted with
    the index) and candidates — nprobe/n_lists of the corpus — are ranked
    by integer squared distance with a (dist, id) tie-break via
    TakeOrderedAndProject. Returns (id_col, dist_e8) of the top k.
    """
    import math

    cents = kmeans_lloyd(
        df, vec_col, id_col, k=n_lists, rounds=rounds, scale=scale,
        round_times=round_times,
    ).select("cid", "dim", "c_e4")
    assigned = kmeans_assign(df, vec_col, id_col, cents, scale=scale)
    qv = [int(math.floor(float(x) * scale + 0.5)) for x in query_vec]
    probe = _centroid_probe(cents, qv, nprobe)
    cand = assigned.join(F.broadcast(probe), "cid").select(id_col)
    dist = _int_sq_dist(vec_col, qv, scale)
    return (
        df.join(cand, id_col)
        .select(F.col(id_col), dist.alias("dist_e8"))
        .orderBy("dist_e8", id_col)
        .limit(k)
    )


def _centroid_probe(cents: DataFrame, qv: list[int], nprobe: int) -> DataFrame:
    """The nprobe nearest centroid ids to the e4-quantized query, ranked
    by integer squared distance with a cid tie-break. ONE implementation
    shared by the in-memory (ivf_lloyd_topk) and persisted
    (ivf_search_index) paths — their results are contractually
    bit-identical, so the ranking must not be able to drift."""
    qx = F.element_at(
        F.array(*[F.lit(v).cast("long") for v in qv]), F.col("dim")
    )
    return (
        cents.select(
            "cid", ((F.col("c_e4") - qx) * (F.col("c_e4") - qx)).alias("__t")
        )
        .groupBy("cid")
        .agg(F.sum("__t").alias("__qd"))
        .orderBy("__qd", "cid")
        .limit(nprobe)
        .select("cid")
    )


def _int_sq_dist(vec_col: str, qv: list[int], scale: int):
    """Integer squared distance of an e4-quantized vector column to the
    pre-quantized query — the shared candidate-ranking expression of both
    IVF paths (see _centroid_probe)."""
    q = F.transform(
        F.col(vec_col),
        lambda x: F.floor(x.cast("double") * F.lit(float(scale)) + F.lit(0.5)),
    )
    qarr = F.array(*[F.lit(v).cast("long") for v in qv])
    return F.aggregate(
        F.zip_with(q, qarr, lambda x, c: (x - c) * (x - c)),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )


def random_projection(
    df: DataFrame,
    vec_col: str,
    dim: int,
    out_dim: int,
    id_cols: list[str],
    scale: int = 10_000,
    salt: str = "rp",
) -> DataFrame:
    """Johnson-Lindenstrauss dimensionality reduction with a DETERMINISTIC
    +-1 sign matrix: component k of the projection is
    sum_j q(x_j) * sign(j, k), where q is the repo's e4 fixed-point
    quantization (floor(x*scale + 0.5) on DOUBLE) and
    sign(j, k) = +1 iff md5_le64("salt|j|k") is even. The Achlioptas
    +-1 scheme preserves pairwise distances within (1 +- eps) for
    out_dim = O(log n / eps^2) with the same guarantee as Gaussian
    projections, and the sign matrix is a pure function of (salt, j, k):
    no basis to broadcast or persist, any executor — and an ANSI-SQL
    replay via DuckDB's md5_number_upper — reconstructs it exactly.

    Cost at 100 TB: ZERO shuffle. The whole projection is one codegen'd
    per-row expression (dim x out_dim literal signs folded into the plan),
    so the operator is scan-bound at any corpus size and the output is
    deterministic under re-runs and repartitioning. Output is long-form
    (id_cols..., k, comp_e4) with 1-based k and exact-integer components;
    the caller divides by (scale * sqrt(out_dim)) for unit-variance
    floats. int64 headroom: |comp_e4| <= dim * scale * max|x| — overflow
    needs |x| ~ 1.4e10 at the defaults, far past any embedding norm.
    """
    import hashlib

    if dim <= 0 or out_dim <= 0:
        raise ValueError(f"dim/out_dim must be positive, got {dim}/{out_dim}")

    def sign(j: int, k: int) -> int:
        h = int.from_bytes(
            hashlib.md5(f"{salt}|{j}|{k}".encode()).digest()[:8], "little"
        )
        return 1 if h % 2 == 0 else -1

    q = F.transform(
        F.col(vec_col),
        lambda x: F.floor(x.cast("double") * F.lit(float(scale)) + F.lit(0.5)),
    )
    # NULL vectors are excluded (every component would be NULL; the SQL
    # replay's unnest() skips the row identically)
    df_q = df.filter(F.col(vec_col).isNotNull()).select(
        *[F.col(c) for c in id_cols], q.alias("__q")
    )
    # The sign matrix folds into the plan as out_dim ARRAY literals
    # consumed by higher-order functions (optimization round 12): the
    # previous shape materialized dim x out_dim individual literal
    # Columns (512 CreateArray children at the defaults), and the
    # analyzer/codegen cost of that tree (~0.5 s per invocation) was the
    # whole cost of the operator at bench scale. One array<array<long>>
    # literal + sequence/element_at/zip_with/aggregate computes the
    # identical exact-integer sums with an O(out_dim)-node tree.
    #
    # The whole expression enters the plan as ONE SQL string (round 13):
    # building it from Column objects cost one py4j round trip (~0.45 ms)
    # per lit/call — hundreds per invocation, ~0.4 s of pure driver
    # chatter; F.expr parses the identical expression tree JVM-side in
    # one round trip.
    signs_sql = "array(%s)" % ",".join(
        "array(%s)" % ",".join(
            str(sign(j, k)) + "L" for j in range(dim)
        )
        for k in range(out_dim)
    )
    comps = F.expr(
        f"transform(sequence(1, {out_dim}), k -> named_struct("
        "'k', cast(k as int), "
        f"'comp_e4', aggregate(zip_with(__q, element_at({signs_sql}, k), "
        "(x, s) -> x * s), cast(0 as bigint), (a, b) -> a + b)))"
    )
    return df_q.select(
        *[F.col(c) for c in id_cols], F.explode(comps).alias("__c")
    ).select(*id_cols, F.col("__c.k").alias("k"), F.col("__c.comp_e4").alias("comp_e4"))


def lsh_buckets(
    df: DataFrame, vec_col: str, id_col: str, n_planes: int = 16, dim: int = 64
) -> DataFrame:
    """Assign each vector to a random-hyperplane LSH bucket (n_planes sign
    bits packed into a long). Vectors in the same bucket are ANN candidates."""
    rng = np.random.RandomState(_SEED)
    planes = rng.standard_normal((n_planes, dim))

    @F.pandas_udf(LongType())
    def bucket(vecs: pd.Series) -> pd.Series:
        mat = np.vstack(
            [
                np.asarray(v, dtype=np.float64)
                if v is not None
                else np.zeros(dim)
                for v in vecs
            ]
        )
        # left-to-right accumulation over dimensions (not BLAS matmul, whose
        # pairwise/blocked summation is order-unstable): a+b+c in SQL also
        # evaluates ((a+b)+c), so bucket assignment is bit-reproducible by
        # the DuckDB oracle. 64 vectorized adds — same cost class as matmul
        # for these shapes.
        acc = np.zeros((len(mat), n_planes))
        for d in range(dim):
            acc += mat[:, d, None] * planes.T[d]
        signs = acc > 0  # (batch, n_planes)
        out = (signs.astype(np.int64) << np.arange(n_planes)).sum(axis=1)
        return pd.Series(out)

    return df.withColumn("lsh_bucket", bucket(F.col(vec_col)))


def lsh_band_buckets(
    df: DataFrame,
    vec_col: str,
    bands: int = 4,
    planes_per_band: int = 8,
    dim: int = 64,
) -> DataFrame:
    """Banded random-hyperplane LSH: `bands` INDEPENDENT sign-bit bucket
    keys per vector (`planes_per_band` bits each, distinct seeded planes
    per band). Two vectors are candidates if they collide in ANY band —
    P(candidate) = 1 - (1 - p^k)^B with p = 1 - theta/pi — the standard
    amplification that favors high-similarity pairs while each per-band
    bucket stays 2^k-way selective, so one hot bucket in one band cannot
    swallow the corpus the way a single low-bit hash can.

    Same bit-reproducibility discipline as lsh_buckets: seeded plane
    matrix, left-to-right accumulation over dimensions, so a SQL oracle
    replays every sign decision exactly. Band b uses plane rows
    [b*k, (b+1)*k) of RandomState(_SEED).standard_normal((B*k, dim))."""
    rng = np.random.RandomState(_SEED)
    planes = rng.standard_normal((bands * planes_per_band, dim))

    @F.pandas_udf(ArrayType(LongType()))
    def bucket_bands(vecs: pd.Series) -> pd.Series:
        mat = np.vstack(
            [
                np.asarray(v, dtype=np.float64)
                if v is not None
                else np.zeros(dim)
                for v in vecs
            ]
        )
        acc = np.zeros((len(mat), bands * planes_per_band))
        for d in range(dim):
            acc += mat[:, d, None] * planes.T[d]
        signs = (acc > 0).astype(np.int64)  # (batch, B*k)
        w = 1 << np.arange(planes_per_band)
        out = np.stack(
            [
                (signs[:, b * planes_per_band : (b + 1) * planes_per_band] * w)
                .sum(axis=1)
                for b in range(bands)
            ],
            axis=1,
        )
        return pd.Series(list(out))

    return df.withColumn("lsh_bands", bucket_bands(F.col(vec_col)))


def ann_topk(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    query_vec: list[float],
    k: int,
    n_planes: int = 8,
    probe_hamming: int = 2,
) -> DataFrame:
    """Approximate top-k: multi-probe the query's LSH bucket and all buckets
    within `probe_hamming` bit flips, then rank exactly within candidates.
    8 planes / Hamming<=2 probes 37 of 256 buckets — ~15% of the data at
    uniform spread, vs a full scan for exact top-k."""
    rng = np.random.RandomState(_SEED)
    dim = len(query_vec)
    planes = rng.standard_normal((n_planes, dim))
    q = np.asarray(query_vec, dtype=np.float64)
    qsigns = (planes @ q) > 0
    qbucket = int((qsigns.astype(np.int64) << np.arange(n_planes)).sum())
    probe = {qbucket}
    if probe_hamming >= 1:
        probe |= {qbucket ^ (1 << i) for i in range(n_planes)}
    if probe_hamming >= 2:
        probe |= {
            qbucket ^ (1 << i) ^ (1 << j)
            for i in range(n_planes)
            for j in range(i + 1, n_planes)
        }
    bucketed = lsh_buckets(df, vec_col, id_col, n_planes, dim)
    candidates = bucketed.filter(F.col("lsh_bucket").isin(list(probe)))
    return cosine_topk(candidates, vec_col, id_col, list(map(float, q)), k)


def ivf_index(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    n_lists: int = 16,
    max_iter: int = 10,
) -> tuple[DataFrame, list]:
    """IVF coarse quantizer: distributed KMeans (Spark MLlib) partitions the
    corpus into n_lists inverted lists; each vector is tagged with its
    nearest centroid. At 100 TB the fit runs on the cluster (optionally on a
    sample) and the assignment is one scan; the centroid table (n_lists x
    dim floats) is driver-resident and tiny."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    feats = df.select(
        F.col(id_col),
        array_to_vector(
            F.transform(F.col(vec_col), lambda x: x.cast("double"))
        ).alias("features"),
    )
    model = KMeans(k=n_lists, seed=_SEED, maxIter=max_iter).fit(feats)
    assigned = model.transform(feats).select(
        F.col(id_col), F.col("prediction").alias("ivf_list")
    )
    return df.join(assigned, id_col), [c.tolist() for c in model.clusterCenters()]


def ivf_topk(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    query_vec: list[float],
    k: int,
    n_lists: int = 16,
    nprobe: int = 4,
) -> DataFrame:
    """Approximate top-k via IVF: probe only the nprobe inverted lists whose
    centroids are closest to the query, then rank exactly within them —
    nprobe/n_lists of the corpus scanned instead of all of it."""
    indexed, centers = ivf_index(df, vec_col, id_col, n_lists)
    q = np.asarray(query_vec, dtype=np.float64)
    dists = np.linalg.norm(np.asarray(centers) - q, axis=1)
    probe = [int(i) for i in np.argsort(dists)[:nprobe]]
    candidates = indexed.filter(F.col("ivf_list").isin(probe))
    return cosine_topk(candidates, vec_col, id_col, [float(x) for x in q], k)


def knn_join(
    corpus: DataFrame,
    queries: DataFrame,
    vec_col: str,
    id_col: str,
    k: int,
) -> DataFrame:
    """Exact k-NN join: for every query row, the k nearest corpus rows by
    cosine (self-pairs excluded).

    Scale shape: the query side broadcasts (it is the small side — a probe
    set, a batch of new documents), the corpus is scanned once, and the
    only shuffle is the per-query top-k window over |Q| x |corpus| scored
    pairs. For |Q| too big to broadcast, block the queries and union the
    blocks; for corpus-x-corpus all-pairs, run inside LSH buckets
    (lsh_buckets) instead of exact.

    Scoring uses the same left-to-right fold as cosine_topk, so results are
    bit-reproducible by a SQL oracle; ties break on neighbor id."""
    from pyspark.sql import Window

    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("qv"),
    )
    qn = F.sqrt(_dot(F.col("qv"), F.col("qv")))
    q = q.select("query_id", "qv", qn.alias("qnorm"))
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("cv"),
    )
    # corpus norm projected ONCE per row before the query fan-out — else
    # sqrt(dot(cv,cv)) re-evaluates for every (corpus, query) pair
    c = c.select(
        "neighbor_id", "cv", F.sqrt(_dot(F.col("cv"), F.col("cv"))).alias("cn")
    )
    pairs = c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
    sim = _dot(F.col("cv"), F.col("qv")) / (F.col("cn") * F.col("qnorm"))
    scored = pairs.select(
        "query_id", "neighbor_id", F.round(sim, 6).alias("cosine")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "cosine")
    )


def ann_knn_join(
    corpus: DataFrame,
    queries: DataFrame,
    vec_col: str,
    id_col: str,
    k: int,
    n_planes: int = 8,
    probe_hamming: int = 2,
) -> DataFrame:
    """Approximate k-NN JOIN: ann_topk for a whole probe set at once.

    The scale shape multi-probe needs: the corpus is LSH-bucketed once;
    each probe row explodes into its bucket plus every bucket within
    `probe_hamming` bit flips (1 + 8 + 28 = 37 masks at the defaults) and
    the probe side EQUI-joins the corpus on the bucket id — no
    nested-loop bit_count scan, and the corpus shuffles zero times (the
    exploded probe side broadcasts). Ranking is exact cosine within the
    probed candidates, on the ROUNDED score with neighbor-id tie-break so
    a SQL oracle ranks identically."""
    from pyspark.sql import Window

    masks = [0] + [1 << i for i in range(n_planes)]
    if probe_hamming >= 2:
        masks += [
            (1 << i) | (1 << j)
            for i in range(n_planes)
            for j in range(i + 1, n_planes)
        ]
    if probe_hamming > 2:
        raise ValueError("probe_hamming > 2 multiplies probes past usefulness")
    cb = lsh_buckets(corpus, vec_col, id_col, n_planes).select(
        F.col(id_col).alias("neighbor_id"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("cv"),
        F.col("lsh_bucket").alias("bucket"),
    )
    # norms projected ONCE per side before the probe fan-out / candidate
    # join — never recomputed per candidate pair
    cb = cb.select(
        "neighbor_id",
        "cv",
        "bucket",
        F.sqrt(_dot(F.col("cv"), F.col("cv"))).alias("cn"),
    )
    qb = lsh_buckets(queries, vec_col, id_col, n_planes).select(
        F.col(id_col).alias("query_id"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("qv"),
        F.col("lsh_bucket").alias("qb"),
    )
    qb = qb.select(
        "query_id",
        "qv",
        "qb",
        F.sqrt(_dot(F.col("qv"), F.col("qv"))).alias("qn"),
    )
    probed = (
        qb.withColumn("_mask", F.explode(F.array(*[F.lit(m) for m in masks])))
        .withColumn("bucket", F.col("qb").bitwiseXOR(F.col("_mask")))
        .select("query_id", "qv", "qn", "bucket")
    )
    cand = cb.join(F.broadcast(probed), "bucket").filter(
        F.col("neighbor_id") != F.col("query_id")
    )
    sim = _dot(F.col("cv"), F.col("qv")) / (F.col("cn") * F.col("qn"))
    scored = cand.select(
        "query_id", "neighbor_id", F.round(sim, 6).alias("cosine")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "cosine")
    )


def semantic_decontaminate(
    corpus: DataFrame,
    probes: DataFrame,
    vec_col: str,
    id_col: str,
    threshold: float,
) -> DataFrame:
    """Embedding-space decontamination: remove every corpus vector whose
    cosine to ANY probe (benchmark/eval-set) vector reaches `threshold` —
    the semantic analog of n-gram decontamination (operators/text.py),
    catching paraphrased eval leakage that exact n-grams miss.

    Scale shape mirrors text_decontaminate: the probe side is a benchmark
    set (MBs), so it BROADCASTS; the corpus is scanned once against the
    broadcast probes and reduced per-row (max cosine via a groupBy on the
    corpus id that AQE keeps local-ish — the only exchanged rows are
    (id, flag) pairs). Zero corpus shuffle of vectors. For probe sets too
    large to broadcast, use semantic_decontaminate_lsh — the coded
    LSH-bucketed fallback with the same output contract (approximate:
    leakage is caught when corpus and probe collide in any band)."""
    p = probes.select(
        F.col(id_col).alias("probe_id"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("pv"),
    )
    p = p.select("probe_id", "pv", F.sqrt(_dot(F.col("pv"), F.col("pv"))).alias("pn"))
    c = corpus.select(
        F.col(id_col),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("cv"),
    )
    # corpus norm projected ONCE per row before the probe fan-out: without
    # this, sqrt(dot(cv,cv)) would be re-evaluated for every (row, probe)
    # pair — |probes| redundant dot products per corpus row
    c = c.select(id_col, "cv", F.sqrt(_dot(F.col("cv"), F.col("cv"))).alias("cn"))
    sim = _dot(F.col("cv"), F.col("pv")) / (F.col("cn") * F.col("pn"))
    contaminated = (
        c.join(F.broadcast(p))
        .select(id_col, F.round(sim, 6).alias("cos"))
        .where(F.col("cos") >= threshold)
        .select(id_col)
        .distinct()
    )
    return corpus.join(contaminated, id_col, "left_anti")


def semantic_decontaminate_lsh(
    corpus: DataFrame,
    probes: DataFrame,
    vec_col: str,
    id_col: str,
    threshold: float,
    bands: int = 4,
    planes_per_band: int = 8,
    max_bucket: int = 10_000,
) -> DataFrame:
    """semantic_decontaminate's scale path for probe sets too large to
    broadcast: pre-bucket BOTH sides with the banded hyperplane LSH
    (lsh_band_buckets) and verify cosine only on (corpus, probe) pairs
    that collide in some band — O(colliding candidates), never
    O(corpus x probes), with no broadcast of either side.

    Same three guards as cosine_pairs_lsh: banded amplification (a pair
    is a candidate if ANY of `bands` independent 2^planes_per_band-bucket
    hashes collide), a `max_bucket` cap on the PROBE side of each
    (band, bucket) group (a pathological probe bucket cannot go
    quadratic; its probes still pair through their other bands), and
    norms projected once per side before the verify join. Candidates are
    deduped on (corpus_id, probe_id) BEFORE the dot product, so verify
    cost is distinct candidates, not collisions. Approximate by design:
    a leaked vector is caught when it collides with its probe in at
    least one band (recall 1-(1-p^k)^B); the broadcast path is exact.

    Both projected sides are persisted for the candidate and verify
    passes, then released after an eager materialization of the decision
    (same lifecycle as cosine_pairs_lsh)."""
    from pyspark import StorageLevel

    def project(df, out_id):
        v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
        base = lsh_band_buckets(
            df.select(F.col(id_col).alias(out_id), v.alias("v")),
            "v",
            bands=bands,
            planes_per_band=planes_per_band,
        )
        return base.withColumn("norm", F.sqrt(_dot(F.col("v"), F.col("v"))))

    cb = project(corpus, "cid").persist(StorageLevel.MEMORY_AND_DISK)
    pb = project(probes, "pid").persist(StorageLevel.MEMORY_AND_DISK)
    c_banded = cb.select(
        "cid", F.posexplode("lsh_bands").alias("band", "bucket")
    )
    p_banded = pb.select(
        "pid", F.posexplode("lsh_bands").alias("band", "bucket")
    )
    sized = (
        p_banded.groupBy("band", "bucket")
        .agg(F.count(F.lit(1)).alias("_n"))
        .filter(F.col("_n") <= max_bucket)
        .select("band", "bucket")
    )
    cand = (
        c_banded.join(p_banded.join(sized, ["band", "bucket"]), ["band", "bucket"])
        .select("cid", "pid")
        .distinct()
    )
    sim = _dot(F.col("cv"), F.col("pv")) / (F.col("cn") * F.col("pn"))
    contaminated = (
        cand.join(
            cb.select(
                F.col("cid"), F.col("v").alias("cv"), F.col("norm").alias("cn")
            ),
            "cid",
        )
        .join(
            pb.select(
                F.col("pid"), F.col("v").alias("pv"), F.col("norm").alias("pn")
            ),
            "pid",
        )
        .where(F.round(sim, 6) >= threshold)
        .select(F.col("cid").alias(id_col))
        .distinct()
        .localCheckpoint(eager=True)
    )
    cb.unpersist()
    pb.unpersist()
    return corpus.join(contaminated, id_col, "left_anti")


def gram_pairs(df: DataFrame, vec_col: str, scale: int = 10_000) -> DataFrame:
    """Exact Gram (second-moment) matrix of an embedding column as MERGEABLE
    integer partials — the distributed half of PCA/whitening at 100 TB.

    Each Arrow batch quantizes its vectors to fixed-point e4
    (floor(x*scale + 0.5), ties toward +inf — the repo-wide convention) and
    computes one d x d int64 matmul in numpy; the emitted partial is the
    upper triangle, d*(d+1)/2 rows PER BATCH regardless of batch row count,
    so the shuffle carries O(partitions * d^2) cells, never O(rows). Partials
    combine by plain summation (the mergeability contract), and all
    arithmetic is integer, so the result is deterministic under any
    partitioning and replays exactly in ANSI SQL.

    int64 headroom: |x_e4| <= scale * max|x|; with unit-normish embeddings a
    product is <= 1e8, so a single partition overflows only past ~9e10 rows
    — repartition finer long before that. Output: (i, j, n, s_e8) with
    1-based i <= j; eigen-decomposition of the d x d result is driver-side
    numpy (d is small; the data-sized work is all here).
    """
    from pyspark.sql.types import (
        IntegerType,
        StructField,
        StructType,
    )

    out_schema = StructType(
        [
            StructField("i", IntegerType()),
            StructField("j", IntegerType()),
            StructField("n", LongType()),
            StructField("s_e8", LongType()),
        ]
    )

    def run(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            x = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            q = np.floor(x * scale + 0.5).astype(np.int64)
            g = q.T @ q
            iu = np.triu_indices(g.shape[0])
            yield pd.DataFrame(
                {
                    "i": (iu[0] + 1).astype(np.int32),
                    "j": (iu[1] + 1).astype(np.int32),
                    "n": np.int64(len(pdf)),
                    "s_e8": g[iu],
                }
            )

    # NULL vectors are excluded (np.stack cannot hold them, and the SQL
    # replay's unnest() skips them identically): n counts non-null rows
    return (
        df.select(vec_col)
        .filter(F.col(vec_col).isNotNull())
        .mapInPandas(run, out_schema)
        .groupBy("i", "j")
        .agg(F.sum("n").alias("n"), F.sum("s_e8").alias("s_e8"))
    )


def ivf_build_index(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    index_dir: str,
    n_lists: int = 4,
    rounds: int = 2,
    scale: int = 10_000,
) -> None:
    """Persist the exactly-replayable IVF index as DWRF tables — build
    once, serve many searches without re-clustering the corpus:

      {index_dir}/centroids   (cid, dim, c_e4) — k x d rows, broadcastable
      {index_dir}/lists       (id, vec, cid) hive-PARTITIONED BY cid

    The cid=N directory layout is the point: a search probes nprobe of
    n_lists inverted lists, and the DataSource's partition pruning (O4 —
    directory disproof before any footer is opened) turns that into
    reading nprobe/n_lists of the FILES, an IO-level cut no in-memory
    ivf_lloyd_topk pass gets. Same integer-Lloyd quantizer as
    ivf_lloyd_topk, so a search over the persisted index returns
    BIT-IDENTICAL results to the in-memory path (driver-gated by
    sim_ivf_persisted reusing sim_ivf_lloyd's oracle verbatim)."""
    cents = kmeans_lloyd(
        df, vec_col, id_col, k=n_lists, rounds=rounds, scale=scale
    ).select("cid", "dim", "c_e4")
    cents.coalesce(1).write.format("dwrf").mode("overwrite").save(
        f"{index_dir}/centroids"
    )
    cents_back = (
        df.sparkSession.read.format("dwrf").load(f"{index_dir}/centroids")
    )
    assigned = kmeans_assign(df, vec_col, id_col, cents_back, scale=scale)
    (
        df.select(F.col(id_col), F.col(vec_col))
        .join(assigned.select(id_col, "cid"), id_col)
        .repartition("cid")
        .write.format("dwrf")
        .option("partition_by", "cid")
        .mode("overwrite")
        .save(f"{index_dir}/lists")
    )


def ivf_search_index(
    spark,
    index_dir: str,
    vec_col: str,
    id_col: str,
    query_vec: list[float],
    k: int,
    nprobe: int = 2,
    scale: int = 10_000,
) -> DataFrame:
    """ANN search against an ivf_build_index directory: rank the query
    against the (tiny) persisted centroids, collect the nprobe winning
    list ids (a catalog-sized fetch — nprobe rows — NOT a corpus
    collect), and scan ONLY those cid= partitions of the lists table;
    the pushed IN-filter prunes the other directories before any footer
    opens. Candidates are ranked by the same integer squared distance as
    ivf_lloyd_topk. Returns (id_col, dist_e8) of the top k."""
    import math

    cents = spark.read.format("dwrf").load(f"{index_dir}/centroids")
    qv = [int(math.floor(float(x) * scale + 0.5)) for x in query_vec]
    # same ranking as the in-memory path (_centroid_probe), collected to
    # LITERAL cids — nprobe rows, a catalog fetch — so the IN filter can
    # prune the unprobed cid= directories at planning time
    probe = [r.cid for r in _centroid_probe(cents, qv, nprobe).collect()]
    lists = (
        spark.read.format("dwrf")
        .load(f"{index_dir}/lists")
        .filter(F.col("cid").isin(*probe))
    )
    dist = _int_sq_dist(vec_col, qv, scale)
    return (
        lists.select(F.col(id_col), dist.alias("dist_e8"))
        .orderBy("dist_e8", id_col)
        .limit(k)
    )

"""Iterative graph algorithms on DataFrames: fixed-point PageRank.

The 100 TB story: PageRank (and label propagation, SimRank, etc.) on Spark
is the pregel shape — edges partitioned by source, one message-aggregate
shuffle per iteration, lineage truncated per round so the plan doesn't grow
with the iteration count. This module implements it with EXACT integer
fixed-point arithmetic (ranks scaled by 10^6, floor division) so the result
is bit-stable regardless of partitioning, summation order, or engine — an
iterative algorithm whose every iteration a SQL oracle can replay with
unrolled CTEs, instead of settling for a weaker rows-only check.

Reference parity: the DWRF reference is a storage format with no graph
machinery; this extends SURVEY §2.D (training-data pipeline analytics needs
graph centrality for e.g. citation/link-quality weighting of web corpora).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .util import collect_bounded

#: offset separating the two node-id spaces of a bipartite graph
BIPARTITE_OFFSET = 1_000_000_000


def bipartite_edges(
    orders: DataFrame,
    lineitem: DataFrame,
    left_key: str = "o_custkey",
    right_key: str = "l_suppkey",
    distinct: bool = True,
) -> DataFrame:
    """Distinct customer<->supplier interaction edges via the order join,
    mapped into one bigint node-id space (suppliers offset by 10^9).

    One equi-join (AQE broadcasts the smaller side) + one distinct — the
    per-order fanout is bounded by order size, never quadratic.

    ``distinct=False`` returns the raw pair stream and leaves dedup to
    the consumer: measured at bench scale the distinct shuffle removes
    only ~2% of rows (587k of 601k pairs are already unique), so a
    consumer that collects the pairs anyway (pagerank's small-graph
    path) dedups far cheaper in one numpy pass than in a full
    shuffle+aggregate over the ~unreduced stream (optimization round
    12, guide §2.4)."""
    pairs = orders.join(
        lineitem, orders["o_orderkey"] == lineitem["l_orderkey"]
    ).select(
        F.col(left_key).cast("bigint").alias("src"),
        (F.col(right_key).cast("bigint") + BIPARTITE_OFFSET).alias("dst"),
    )
    return pairs.distinct() if distinct else pairs


def _pagerank_local(
    spark, tbl, iterations, scale, damping_pct, dedup=False
) -> DataFrame:
    """Driver-local fixed-point PageRank over a collected edge list —
    value-identical to the distributed loop: all arithmetic is int64 with
    floored division on non-negative values, and np.add.at accumulates
    exactly (no float weights), so partial order can't matter. The edge
    list arrives as a pyarrow Table (Arrow transfer, zero-copy to numpy)
    and the result returns as one (Arrow-backed createDataFrame).

    ``dedup=True``: the pairs may contain duplicates (the caller skipped
    the Spark-side distinct shuffle); they are deduped here in one numpy
    pass — packed into a single int64 when the value ranges allow (one
    sort of n words), row-wise np.unique otherwise.

    NULLs act as in the distributed loop, whose joins on the sender never
    match NULL: NULL sends nothing, its partner counts the edge and sends
    NULL a share, and only nodes that received a message in a round rank,
    send in the next round and appear in the result."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    cols = [tbl.column(c) for c in ("src", "dst")]
    nulls = any(c.null_count for c in cols)
    sv, dv = (c.is_valid().to_numpy(zero_copy_only=False) for c in cols)
    src, dst = (np.asarray(pc.fill_null(c, 0), dtype=np.int64) for c in cols)
    if dedup and src.size:
        smin, smax = int(src.min()), int(src.max())
        dmin, dmax = int(dst.min()), int(dst.max())
        span = dmax - dmin + 1
        if not nulls and smin >= 0 and dmin >= 0 and (smax + 1) * span < 2**63:
            packed = np.unique(src * span + (dst - dmin))
            src = packed // span
            dst = packed % span + dmin
            sv = dv = np.ones(len(src), dtype=bool)
        else:
            uniq = np.unique(np.stack([src, dst, sv, dv], axis=1), axis=0)
            src, dst = (np.ascontiguousarray(uniq[:, j]) for j in (0, 1))
            sv, dv = (uniq[:, j].astype(bool) for j in (2, 3))
    s = np.concatenate([src, dst])
    d = np.concatenate([dst, src])
    if nulls:  # NULL sends nothing; a share sent to NULL goes to slot n
        sends = np.concatenate([sv, dv])
        s, d, hears = s[sends], d[sends], np.concatenate([dv, sv])[sends]
    nodes, inv_s = np.unique(s, return_inverse=True)
    n = len(nodes)
    deg = np.bincount(inv_s, minlength=n + 1).astype(np.int64)
    di = np.searchsorted(nodes, d)
    if nulls:
        di[~hears] = n
    base = (100 - damping_pct) * scale // 100
    r = np.full(n + 1, scale, dtype=np.int64)
    ranked = np.append(np.ones(n, dtype=bool), nulls)
    si, ti = inv_s, di
    for _ in range(iterations):
        if nulls:  # only the nodes a message reached last round send
            si, ti = inv_s[ranked[inv_s]], di[ranked[inv_s]]
        s_in = np.zeros(n + 1, dtype=np.int64)
        np.add.at(s_in, ti, r[si] // deg[si])
        r = base + (damping_pct * s_in) // 100
        if nulls:
            ranked = np.bincount(ti, minlength=n + 1) > 0
    keep = np.flatnonzero(ranked)
    node = pa.array(np.append(nodes, 0)[keep], mask=keep == n)
    return spark.createDataFrame(
        pa.table({"node": node, "rank_fp": pa.array(r[keep])}),
        "node BIGINT, rank_fp BIGINT",
    )


def pagerank_fixed_point(
    edges: DataFrame,
    iterations: int = 3,
    scale: int = 1_000_000,
    damping_pct: int = 85,
    checkpoint_interval: int = 4,
    local_threshold: int | None = None,
    edge_count_bound: int | None = None,
    dedup_edges: bool = False,
) -> DataFrame:
    """Undirected PageRank in exact integer fixed-point.

    ``dedup_edges=True`` declares that `edges` may carry duplicate rows
    and this function owns the dedup: the local path dedups the
    collected pairs in one numpy pass (far cheaper than a Spark
    distinct whose shuffle moves a ~unreduced stream), the distributed
    path applies the usual ``distinct()``. Callers that already pass a
    distinct edge list keep the default.

    Every node starts at `scale`; each iteration a node sends
    ``rank DIV degree`` along every incident edge and becomes
    ``(100-damping_pct)% * scale + damping_pct% * sum(incoming)`` with all
    divisions floored — pure integer arithmetic, so the fixed point is
    identical under any partitioning or summation order and replayable
    with unrolled SQL CTEs.

    Scale shape: `sym` (both edge directions) is computed once and cached
    by reuse; each iteration is ONE join of the edge list with the current
    rank/degree state (both keyed by node — co-partitioned after the first
    shuffle) and ONE message aggregate keyed by destination.
    `localCheckpoint` truncates the lineage every `checkpoint_interval`
    rounds — the connected-components discipline (operators/dedup.py) —
    so long runs stay plan-bounded while short runs execute as ONE lazy
    DAG with no intermediate materialization (each state feeds exactly one
    consumer, so nothing recomputes).
    """
    base = (100 - damping_pct) * scale // 100
    # Adaptive small-graph gate (the connected_components discipline, and
    # its SPARK_GRAFT_CC_LOCAL_THRESHOLD default): the DISTINCT edge list
    # is often driver-affordable even when the corpus that produced it is
    # not (16 B/edge; the 2M default is ~32 MB). At or below the gate the
    # pregel rounds run as one numpy pass with identical int64 floored
    # arithmetic; above it — or with local_threshold=0, which tests and
    # the stress harness use — the distributed loop runs. The bounded
    # collect weighs each edge 2 (both directions); over the gate the loop
    # reads the cached edge list, so the upstream join+distinct runs once.
    if local_threshold is None:
        from ..format.env import env_int

        local_threshold = env_int("SPARK_GRAFT_CC_LOCAL_THRESHOLD", 2_000_000)
    pinned = None
    if local_threshold:
        e = edges.select("src", "dst")
        # When the caller KNOWS an upper bound on the edge count (e.g. a
        # bipartite edge list is at most one edge per fact row, and the
        # fact table's row count is free from the parquet footer), a
        # bound under the gate proves the local path applies without the
        # persist and sizing pass — the edge derivation then runs exactly
        # once, in one toArrow job (optimization round 12).
        if edge_count_bound is not None and 2 * edge_count_bound <= local_threshold:
            tbl = e.toArrow()
        else:
            tbl = collect_bounded(e, local_threshold, weight=F.lit(2))[1]
        if tbl is not None:
            return _pagerank_local(
                edges.sparkSession, tbl, iterations, scale, damping_pct,
                dedup=dedup_edges,
            )
        edges, pinned = e, e  # distributed path: released with sym below
    if dedup_edges:
        # distributed path owns the dedup it was promised to do: one
        # distinct before the sym union (same shape the caller would
        # otherwise have built upstream)
        edges = edges.select("src", "dst").distinct()
    # the edge list is read every iteration: hash-partition it on src ONCE,
    # attach the sender's degree to each directed edge (a co-partitioned
    # self-aggregate join — no extra exchange), and persist THAT. The rank
    # state then carries only (node, r), and each iteration is exactly one
    # join of the cached edge+deg list with the small state plus one
    # message aggregate keyed by destination — no per-round re-join with a
    # degree table. ~24 B per directed edge, MEMORY_AND_DISK so a
    # 100 TB-derived graph spills instead of recomputing
    # sym feeds both the degree aggregate and the join that builds
    # sym_deg: persist it so the edge derivation (often a join+distinct
    # upstream) runs once, released together with sym_deg below
    sym = (
        edges.select("src", "dst")
        .union(
            edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        .repartition("src")
        .persist()
    )
    deg = sym.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    sym_deg = sym.join(deg, "src").persist()
    state = deg.select(
        F.col("src").alias("node"), F.lit(scale).cast("bigint").alias("r")
    )
    for it in range(iterations):
        if it == 0:
            # round 1's rank is the constant `scale` for every node: the
            # contribution is computable from the edge list alone — no
            # state join at all for the first iteration
            msgs = sym_deg.select(
                F.col("dst"), F.expr(f"{scale} DIV deg").alias("contrib")
            )
        else:
            msgs = sym_deg.join(
                state, sym_deg["src"] == state["node"]
            ).select(F.col("dst"), F.expr("r DIV deg").alias("contrib"))
        incoming = msgs.groupBy("dst").agg(F.sum("contrib").alias("s"))
        state = incoming.select(
            F.col("dst").alias("node"),
            (F.lit(base) + F.expr(f"({damping_pct} * s) DIV 100"))
            .cast("bigint")
            .alias("r"),
        )
        if (it + 1) % checkpoint_interval == 0 and it + 1 < iterations:
            state = state.localCheckpoint(eager=True)
    # materialize the (small) final state eagerly so the cached edge list
    # can be released here — repeated calls in one session must not
    # accumulate MEMORY_AND_DISK partitions with no release path
    result = state.select("node", F.col("r").alias("rank_fp")).localCheckpoint(
        eager=True
    )
    sym_deg.unpersist()
    sym.unpersist()
    if pinned is not None:
        pinned.unpersist()
    return result


def triangle_count(edges: DataFrame) -> DataFrame:
    """Exact triangle count of an undirected simple graph, degree-ordered
    (the compact-forward / node-iterator algorithm): orient every edge
    from its lower-(degree, id) endpoint to the higher one, build wedges
    by joining out-edges on their source, and close each wedge against
    the oriented edge list.

    Why the orientation matters at scale: an unoriented wedge join costs
    Σ deg(v)² — a 10^7-degree hub alone yields 10^14 wedges. Ordering by
    degree bounds every out-degree by O(sqrt(|E|)) on any graph, so wedge
    volume is O(|E|^{3/2}) — the provable optimum for exact counting.
    Three equi-joins, all AQE-splittable; the total is orientation-
    invariant, so a SQL oracle may count with plain id-ordering and still
    match exactly.

    Input: (src, dst) rows, one per undirected edge (any per-edge order,
    duplicates tolerated); self-loops are dropped."""
    e = (
        edges.select(
            F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    deg = (
        e.select(F.col("a").alias("n"))
        .unionAll(e.select(F.col("b").alias("n")))
        .groupBy("n")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    da = deg.select(F.col("n").alias("a"), F.col("deg").alias("da"))
    db = deg.select(F.col("n").alias("b"), F.col("deg").alias("db"))
    ed = e.join(da, "a").join(db, "b")
    fwd = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))
    )
    o = ed.select(
        F.when(fwd, F.col("a")).otherwise(F.col("b")).alias("u"),
        F.when(fwd, F.col("da")).otherwise(F.col("db")).alias("ud"),
        F.when(fwd, F.col("b")).otherwise(F.col("a")).alias("v"),
        F.when(fwd, F.col("db")).otherwise(F.col("da")).alias("vd"),
    )
    e1 = o.select(
        F.col("u"), F.col("v").alias("x"), F.col("vd").alias("xd")
    )
    e2 = o.select(
        F.col("u"), F.col("v").alias("y"), F.col("vd").alias("yd")
    )
    wedges = e1.join(e2, "u").filter(
        F.struct(F.col("xd"), F.col("x")) < F.struct(F.col("yd"), F.col("y"))
    )
    closing = o.select(F.col("u").alias("x"), F.col("v").alias("y"))
    return wedges.join(closing, ["x", "y"]).agg(
        F.count(F.lit(1)).alias("n_triangles")
    )


def label_propagation(
    edges: DataFrame, rounds: int = 2, reliable: bool = False
) -> DataFrame:
    """Synchronous majority-vote label propagation: every node starts
    labeled with its own id; each round it adopts the MOST COMMON label
    among its neighbors (ties -> smallest label). Nodes are defined by the
    edge list, so every node has >= 1 neighbor and votes every round. The
    classic near-linear community detector — a different fixed point than
    hash-min components (which finds connectivity, not density).

    Determinism: the (count desc, label asc) winner is picked with ONE
    max(struct(cnt, -label)) aggregate — integer arithmetic, no RNG, no
    partition-order dependence — so a fixed round count unrolls into SQL
    CTEs and replays exactly. Cost per round: one edge-state join keyed by
    node + one (node, label) count + one per-node max — the same
    co-partitioned pregel shape as pagerank_fixed_point; the edge list is
    persisted once and reused every round. Hot nodes are AQE-splittable
    equi-join keys; state is one row per node.

    Fault-tolerance trade: the result is materialized via
    ``localCheckpoint()``, which truncates lineage but stores blocks
    UNREPLICATED on executors — on a real cluster an executor loss after
    this call makes the blocks unrecoverable (local mode is unaffected).
    For long-lived cluster jobs, either write the result to storage
    immediately, or set ``spark.sparkContext.setCheckpointDir(...)`` and
    pass ``reliable=True`` to use replicated ``checkpoint()`` instead.
    """
    from pyspark import StorageLevel

    sym = (
        edges.select("src", "dst")
        .unionByName(
            edges.select(
                F.col("dst").alias("src"), F.col("src").alias("dst")
            )
        )
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    nodes = sym.select(F.col("src").alias("node")).distinct()
    labels = nodes.withColumn("label", F.col("node"))
    for _ in range(rounds):
        votes = (
            sym.join(
                labels.withColumnRenamed("node", "dst"), "dst"
            )
            .groupBy(F.col("src").alias("node"), "label")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        # symmetric edges mean votes covers EVERY node, so the winner
        # frame IS the next label state — no fallback join needed
        labels = (
            votes.groupBy("node")
            .agg(
                F.max(
                    F.struct(F.col("cnt"), (-F.col("label")).alias("nl"))
                ).alias("w")
            )
            .select("node", (-F.col("w.nl")).alias("label"))
        )
    # materialize before releasing sym (the pagerank_fixed_point
    # discipline): repeated calls in one session must not pin the
    # symmetric edge list in executor cache forever
    if reliable:
        out = labels.checkpoint()
    else:
        out = labels.localCheckpoint()
    sym.unpersist()
    return out

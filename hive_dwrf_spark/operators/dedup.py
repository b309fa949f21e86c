"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard,
embedding-cosine near-dup.

Scale design (100 TB):
- exact dedup is a hash-partitioned groupBy on the dedup key — one shuffle,
  map-side combine; the deterministic keep-first winner avoids a sort.
- MinHash+LSH shuffles once on (band, band_hash): candidate generation never
  compares across buckets, so cost is O(sum of bucket^2) not O(n^2); bucket
  skew is bounded because identical band hashes imply near-identical docs.
- pairwise verifiers (Jaccard / cosine) run only on LSH candidates at scale;
  the exact all-pairs forms here exist as correctness oracles and for small
  dimension tables.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, LongType

from ..format.env import env_int
from .util import collect_bounded

# Fixed MinHash parameters: classic 31-bit minhash over the Mersenne prime
# 2^31-1. Everything — shingle hash, permutations a*h+b — stays strictly
# below 2^62, so numpy int64 arithmetic is EXACT (no wraparound) and the
# DuckDB oracle replays identical signatures with plain BIGINT arithmetic.
# a,h < p ≈ 2^31 gives ~2^31 modular wraps per permutation: full mixing
# (a tiny `a` would make the map near order-preserving and break minhash).
_MERSENNE31 = (1 << 31) - 1
_N_HASHES = 64
_LSH_BANDS = 16  # 16 bands x 4 rows


def _hash_params(n: int = _N_HASHES) -> tuple[np.ndarray, np.ndarray]:
    rng = np.random.RandomState(20240813)
    a = rng.randint(1, _MERSENNE31, size=n, dtype=np.int64)
    b = rng.randint(0, _MERSENNE31, size=n, dtype=np.int64)
    return a, b


def exact_dedup(
    df: DataFrame, keys: list[str], order_by: str
) -> DataFrame:
    """Keep exactly one row per key combination — the row with the smallest
    `order_by` value (deterministic winner, unlike dropDuplicates)."""
    w = Window.partitionBy(*keys).orderBy(F.col(order_by).asc())
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def content_fingerprint(df: DataFrame, text_col: str) -> DataFrame:
    """Document fingerprint for exact content dedup: md5 of the
    whitespace-normalized lowercase text. Pure JVM expression — no UDF."""
    normalized = F.lower(F.regexp_replace(F.col(text_col), r"\s+", " "))
    return df.withColumn("fingerprint", F.md5(normalized))


def minhash_signatures(
    df: DataFrame, text_col: str, id_col: str, shingle_k: int = 5
) -> DataFrame:
    """MinHash signatures over character k-shingles via an Arrow-batched
    pandas UDF (the per-doc loop is numpy-vectorized over shingles)."""
    a_params, b_params = _hash_params()

    @F.pandas_udf(ArrayType(LongType()))
    def minhash(texts: pd.Series) -> pd.Series:
        # Whole-batch vectorization: shingle hashes of every doc concatenate
        # into one array, the 64 permutations compute as chunked
        # (64 x shingles) matrices, and per-doc minima fall out of one
        # minimum.reduceat — no per-doc permutation loop. Duplicate shingle
        # hashes are left in (min() is dedup-invariant), so signatures stay
        # bit-identical to the per-doc form the DuckDB oracle replays.
        weights = 257 ** np.arange(shingle_k, dtype=np.int64)
        n_docs = len(texts)
        sigs = np.zeros((n_docs, _N_HASHES), dtype=np.int64)
        parts: list[np.ndarray] = []
        lens = np.zeros(n_docs, dtype=np.int64)
        for i, t in enumerate(texts):
            if t is None or len(t) < shingle_k:
                continue
            data = t.encode("utf-8", "ignore")
            arr = np.frombuffer(data, dtype=np.uint8).astype(np.int64)
            # polynomial hash of each shingle: sum(byte_j * 257^j) < 2^43
            # (exact in int64), folded into [0, 2^31-1) so the permutation
            # step cannot overflow either
            windows = np.lib.stride_tricks.sliding_window_view(arr, shingle_k)
            h = (windows @ weights) % _MERSENNE31
            parts.append(h)
            lens[i] = len(h)
        if parts:
            H = np.concatenate(parts)
            docs = np.flatnonzero(lens)  # batch rows that have shingles
            bounds = np.empty(len(docs) + 1, dtype=np.int64)
            bounds[0] = 0
            np.cumsum(lens[docs], out=bounds[1:])
            # chunk to ~4k shingles: the (64 x 4k) permutation matrix plus
            # temporaries stays ~2 MB — L2-resident, which measured 4x
            # faster than a single cache-blowing 250k-wide pass and ~1.4x
            # faster than the per-doc outer products this replaced
            i0 = 0
            while i0 < len(docs):
                i1 = int(
                    np.searchsorted(bounds, bounds[i0] + 4_000, side="right")
                ) - 1
                i1 = max(i1, i0 + 1)
                seg = H[bounds[i0] : bounds[i1]]
                perm = (
                    a_params[:, None] * seg[None, :] + b_params[:, None]
                ) % _MERSENNE31
                mins = np.minimum.reduceat(
                    perm, bounds[i0:i1] - bounds[i0], axis=1
                )
                sigs[docs[i0:i1]] = mins.T
                i0 = i1
        # row views of the 2D array: Arrow converts ndarray cells directly,
        # while .tolist() boxes 64 Python ints per doc (measured 4x slower)
        return pd.Series(list(sigs))

    # capped spread: the vectorized kernel saturates ~8 cores, and wider
    # partitionings make every downstream consumer of the persisted
    # signatures (banding, both verify-join sides) pay per-task overhead —
    # measured end-to-end fastest at width 8, slower at full width. At real
    # scale the input is already wide and this is a no-op.
    from .util import spread

    return spread(df, cap=8).select(
        id_col, minhash(F.col(text_col)).alias("minhash")
    )


def _resolve_bucket_cap(bucket_cap: int | None) -> int | None:
    """Resolve the per-bucket candidate cap: an explicit argument wins,
    else SPARK_GRAFT_LSH_BUCKET_CAP (0/unset = uncapped). Returns None
    for 'no cap'."""
    if bucket_cap is not None:
        return bucket_cap if bucket_cap > 0 else None
    env = env_int("SPARK_GRAFT_LSH_BUCKET_CAP", 0)
    return env if env > 0 else None


def _pair_explode_sql(list_col: str) -> str:
    """All k*(k-1)/2 ordered pairs over a sorted id list (uncapped
    in-bucket pair generation)."""
    return (
        f"flatten(transform({list_col}, (x, i) -> "
        f"transform(slice({list_col}, i + 2, size({list_col})), "
        "y -> struct(x AS id1, y AS id2))))"
    )


def _anchor_key(band_col, id_col) -> "F.Column":
    """Deterministic per-(band, id) anchor-selection key: md5 of
    'band|id' — engine-identical in Spark and DuckDB (lowercase hex over
    the same string), so the capped candidate set replays exactly in the
    SQL oracles. Varying the key BY BAND is the point: each band elects
    DIFFERENT anchors for the same bucket population, so a doc gets up
    to bands*B distinct anchors overall instead of the same smallest-B
    ids everywhere (measured: smallest-id anchors fragmented clusters at
    verify thresholds above the banding's design point)."""
    return F.md5(
        F.concat_ws(
            "|", band_col.cast("string"), id_col.cast("string")
        )
    )


def _capped_anchor_pairs(
    keyed: DataFrame, id_col: str, max_bucket: int, bucket_cap: int
) -> DataFrame:
    """Capped in-bucket pair generation with per-band diversified
    anchors: within each (band, bucket), the B ids with the smallest
    md5(band|id) act as anchors and pair against every bucket mate —
    ≤ B*k pairs per bucket (linear), normalized to id1 < id2.
    `keyed` must carry columns (band, bucket, id_col)."""
    items = (
        keyed.withColumn(
            "_hk", _anchor_key(F.col("band"), F.col(id_col))
        )
        .groupBy("band", "bucket")
        .agg(
            F.sort_array(
                F.collect_list(
                    F.struct(F.col("_hk"), F.col(id_col).alias("id"))
                )
            ).alias("items")
        )
        .filter(
            (F.size("items") > 1) & (F.size("items") <= F.lit(max_bucket))
        )
    )
    return (
        items.select(
            F.explode(
                F.expr(
                    "flatten(transform("
                    f"slice(items, 1, {int(bucket_cap)}), a -> "
                    "transform(items, y -> struct("
                    "least(a.id, y.id) AS id1, "
                    "greatest(a.id, y.id) AS id2))))"
                )
            ).alias("p")
        )
        .select("p.id1", "p.id2")
        .filter(F.col("id1") != F.col("id2"))
        .distinct()
    )


def lsh_candidate_pairs(
    sig_df: DataFrame,
    id_col: str,
    bands: int = _LSH_BANDS,
    max_bucket: int = 10_000,
    new_col: str | None = None,
    bucket_cap: int | None = None,
) -> DataFrame:
    """Band the signatures and emit candidate pairs (id1 < id2) that share
    at least one band bucket. One shuffle on (band, band_slice).

    The bucket key is the raw band slice (4 longs, 32 B), not a hash of it:
    collisions are then exactly slice-equality, which keeps the operator
    deterministic and SQL-replayable. At 100 TB the wider shuffle key costs
    ~28 B/row/band over a 4-B hash — noise next to the payloadless shuffle —
    and buys zero false-positive buckets.

    Two scale guards:
    - Degenerate all-zero signatures (NULL / shorter-than-shingle docs) are
      excluded before banding. They all share every band bucket, so at 1B
      docs with 1% empty docs one bucket would hold 10M ids and emit
      ~5e13 pairs; content-wise they cannot be near-dups of anything, so
      dropping them changes no meaningful answer.
    - Buckets larger than `max_bucket` ids are skipped entirely (a bucket
      of k ids emits k*(k-1)/2 pairs; 10^4 ids -> 5e7 pairs is the most a
      single collect_list group is allowed to cost). A bucket that hot is
      boilerplate/templated content; the docs in it still pair through
      their other, more selective bands.

    Incremental mode (`new_col`: a boolean column on sig_df): only pairs
    TOUCHING a new row are emitted, and buckets holding no new rows are
    dropped before any pair materializes — the daily-ingest shape, where
    yesterday's corpus must not re-pair against itself.

    Graceful degradation (`bucket_cap`, or SPARK_GRAFT_LSH_BUCKET_CAP;
    default OFF): with cap B, each (band, bucket)'s B anchor ids — the
    smallest by md5(band|id), deterministic and SQL-replayable, and
    DIFFERENT per band by construction — pair against every bucket mate,
    so a k-id bucket emits at most B*k pairs instead of k*(k-1)/2. This
    is the degrade-don't-die valve for pathological near-dup tails
    (boilerplate / templated content on a real 100 TB corpus): total
    candidate mass becomes LINEAR in corpus size at any duplication
    density, the same posture as the writer's dictionary abandonment
    under memory pressure (reference WriterImpl.java:203-213). Recall
    contract: precision is unchanged (the verify stage still computes
    exact similarity on every emitted pair); a doc meets up to bands*B
    distinct anchors, so bucket-clique connectivity survives for
    RESOLUTION via connected components whenever SOME band's anchors
    verify against their mates; a pair is missed only if BOTH sides miss
    the anchor set of EVERY bucket they share and no verified chain
    connects them. Per-band anchor diversity is measured, not aesthetic:
    same-smallest-id anchors across bands fragmented verify-threshold-
    0.6 clusters on the x30 stress corpus (pair recall 0.019); the
    diversified form is the one shipped. See SCALE.md for the capped-vs-
    uncapped recall numbers."""
    bucket_cap = _resolve_bucket_cap(bucket_cap)
    rows_per_band = _N_HASHES // bands
    band_exprs = [
        F.struct(
            F.lit(i).alias("band"),
            F.slice("minhash", i * rows_per_band + 1, rows_per_band).alias("bucket"),
        )
        for i in range(bands)
    ]
    live = sig_df.filter(F.exists("minhash", lambda x: x != 0))
    if new_col is not None:
        banded = live.select(
            F.col(id_col), F.col(new_col), F.explode(F.array(*band_exprs)).alias("bb")
        ).select(id_col, new_col, "bb.band", "bb.bucket")
        if bucket_cap is not None:
            # capped incremental: per-band hash-diversified anchors (see
            # _capped_anchor_pairs), still restricted to batch-touching
            # pairs and new-row-holding buckets
            items = (
                banded.withColumn(
                    "_hk", _anchor_key(F.col("band"), F.col(id_col))
                )
                .groupBy("band", "bucket")
                .agg(
                    F.sort_array(
                        F.collect_list(
                            F.struct(
                                F.col("_hk"),
                                F.col(id_col).alias("id"),
                                F.col(new_col).alias("nw"),
                            )
                        )
                    ).alias("items")
                )
                .filter(
                    (F.size("items") > 1)
                    & (F.size("items") <= F.lit(max_bucket))
                    & F.exists("items", lambda s: s["nw"])
                )
            )
            return (
                items.select(
                    F.explode(
                        F.expr(
                            "flatten(transform("
                            f"slice(items, 1, {int(bucket_cap)}), a -> "
                            "filter(transform(items, y -> struct("
                            "least(a.id, y.id) AS id1, "
                            "greatest(a.id, y.id) AS id2, "
                            "(a.nw OR y.nw) AS tn)), p -> p.tn)))"
                        )
                    ).alias("p")
                )
                .select("p.id1", "p.id2")
                .filter(F.col("id1") != F.col("id2"))
                .distinct()
            )
        # sort_array on struct(id, nw) orders by id first, so id1 < id2
        # still falls out of list order; buckets with zero new rows are
        # dropped before any pair materializes
        grp = (
            banded.groupBy("band", "bucket")
            .agg(
                F.sort_array(
                    F.collect_list(
                        F.struct(
                            F.col(id_col).alias("id"), F.col(new_col).alias("nw")
                        )
                    )
                ).alias("items")
            )
            .filter(
                (F.size("items") > 1)
                & (F.size("items") <= F.lit(max_bucket))
                & F.exists("items", lambda s: s["nw"])
            )
        )
        return (
            grp.select(
                F.explode(
                    F.expr(
                        "flatten(transform(items, (x, i) -> "
                        "filter(transform(slice(items, i + 2, size(items)), "
                        "y -> struct(x.id AS id1, y.id AS id2, "
                        "(x.nw OR y.nw) AS tn)), p -> p.tn)))"
                    )
                ).alias("p")
            )
            .select("p.id1", "p.id2")
            .distinct()
        )
    banded = live.select(
        F.col(id_col), F.explode(F.array(*band_exprs)).alias("bb")
    ).select(id_col, "bb.band", "bb.bucket")
    if bucket_cap is not None:
        return _capped_anchor_pairs(banded, id_col, max_bucket, bucket_cap)
    # group-then-explode beats a banded self-join: one shuffle on
    # (band, bucket), pairs materialize JVM-side inside each bucket group,
    # and no join-key dup-row blowup that the self-join's distinct had to
    # clean up afterward. Fat buckets are LSH's known caveat either way
    # (a bucket of k docs emits k*(k-1)/2 pairs); the sorted list keeps
    # id1 < id2 for unique ids, and the explicit id1 != id2 filter below
    # drops the self-pairs that duplicate id values would otherwise emit.
    grp = (
        banded.groupBy("band", "bucket")
        .agg(F.sort_array(F.collect_list(id_col)).alias("ids"))
        .filter((F.size("ids") > 1) & (F.size("ids") <= F.lit(max_bucket)))
    )
    pairs = (
        grp.select(
            F.explode(F.expr(_pair_explode_sql("ids"))).alias("p")
        )
        .select("p.id1", "p.id2")
        .filter(F.col("id1") != F.col("id2"))
        .distinct()
    )
    return pairs


def minhash_dedup_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float = 0.7,
    bucket_cap: int | None = None,
) -> DataFrame:
    """Full MinHash+LSH near-dup pipeline: signatures -> banded candidates ->
    signature-similarity filter (estimated Jaccard >= threshold).

    The signature table is persisted: it is consumed three times (banding +
    both sides of the verification join) and is ~512 B/doc — tiny next to the
    documents themselves — so materializing it once avoids re-running the
    minhash UDF per consumer. That holds at 100 TB: 1B docs -> ~0.5 TB of
    signatures spread across the cluster (MEMORY_AND_DISK spills safely)."""
    from pyspark import StorageLevel

    sigs = minhash_signatures(df, text_col, id_col).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    # The verify-join strategy is left to AQE: it sees the signatures' real
    # runtime size and converts the shuffle joins to broadcast when small
    # (~under 20M docs at 520 B/sig), or keeps plain shuffle joins — the
    # only plan that works at 1B docs. Deciding driver-side needed an
    # eager count() job here; AQE decides from the same information for
    # free. The persist still collapses the three consumers (banding +
    # both verify sides) onto one signature computation.
    #
    # the verify joins carry MERGE hints: every side here is corpus- or
    # pair-scale BY CONSTRUCTION (pairs = the LSH candidate list, s1/s2 =
    # all signatures), so a broadcast is never the right plan — yet the
    # planner's chain estimates for the explode/distinct candidate stage
    # can land under the broadcast threshold and build a multi-GiB
    # broadcast (observed: driver maxResultSize abort at 100x sf0.1 in
    # the cosine variant, 2.5 GiB candidate stage collected while the
    # static plan's broadcast stage materialized concurrently with AQE).
    # The hint pins sort-merge in both the static and adaptive planners;
    # repartition("id2") between the joins keeps the intermediate a
    # measured stage and IS the hash partitioning join2's SMJ needs.
    pairs = lsh_candidate_pairs(sigs, id_col, bucket_cap=bucket_cap)
    s1 = sigs.select(F.col(id_col).alias("id1"), F.col("minhash").alias("sig1"))
    s2 = sigs.select(F.col(id_col).alias("id2"), F.col("minhash").alias("sig2"))
    return (
        pairs.hint("merge")
        .join(s1, "id1")
        .repartition("id2")
        .hint("merge")
        .join(s2, "id2")
        .withColumn(
            "est_jaccard",
            F.aggregate(
                F.zip_with("sig1", "sig2", lambda x, y: (x == y).cast("int")),
                F.lit(0),
                lambda acc, v: acc + v,
            )
            / F.lit(_N_HASHES),
        )
        .filter(F.col("est_jaccard") >= threshold)
        .select("id1", "id2", "est_jaccard")
    )


def cosine_pairs_lsh(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    threshold: float,
    bands: int = 4,
    planes_per_band: int = 8,
    max_bucket: int = 10_000,
    bucket_cap: int | None = None,
) -> DataFrame:
    """Embedding near-dup pairs via the banded LSH scale path:
    per-band random-hyperplane buckets (similarity.lsh_band_buckets) ->
    in-band bucket pairing -> exact cosine verify on candidates.

    This is the 100 TB form of embedding_cosine_pairs, with the same three
    guards as the MinHash path (lsh_candidate_pairs):
    - BANDED amplification: candidates = pairs colliding in ANY of `bands`
      independent 2^planes_per_band-bucket hashes, so recall concentrates
      on high-cosine pairs (1 - (1 - p^k)^B) while each band's buckets stay
      selective — no single 16-bucket hash whose fattest bucket goes
      quadratic.
    - `max_bucket` cap: a (band, bucket) group larger than this is skipped
      (k ids -> k*(k-1)/2 pairs; vectors that dense still pair through
      their other bands). Bounds the worst collect_list group.
    - per-side norms projected ONCE before the verify join — never
      recomputed per pair (|bucket| redundant dot products per vector
      otherwise).
    The projected (id, v, norm, bands) table is persisted while the
    verify join runs (it feeds the banding pass and both join sides,
    ~600 B/vector at dim 64), then RELEASED: the returned pair list is
    materialized eagerly via localCheckpoint and the base cache
    unpersisted, so repeated calls in one session don't accumulate
    pinned vector caches (same lifecycle as pagerank_fixed_point).

    `bucket_cap` (or SPARK_GRAFT_LSH_BUCKET_CAP) is the same
    graceful-degradation valve as lsh_candidate_pairs: with cap B only
    a bucket's first B ids (sorted) act as left sides, bounding candidate
    mass at B*k per bucket — linear in corpus size at any near-dup
    density, with the recall contract documented there."""
    from pyspark import StorageLevel

    from .similarity import _dot, lsh_band_buckets

    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    base = (
        lsh_band_buckets(
            df.select(F.col(id_col), v.alias("v")),
            "v",
            bands=bands,
            planes_per_band=planes_per_band,
        )
        .withColumn("norm", F.sqrt(_dot(F.col("v"), F.col("v"))))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    banded = base.select(
        F.col(id_col), F.posexplode("lsh_bands").alias("band", "bucket")
    )
    cap = _resolve_bucket_cap(bucket_cap)
    if cap is not None:
        pairs = _capped_anchor_pairs(banded, id_col, max_bucket, cap)
    else:
        # group-then-explode (one shuffle on (band, bucket), pairs
        # materialize JVM-side) — same shape as lsh_candidate_pairs;
        # sorted ids keep id1 < id2 without a filter
        grp = (
            banded.groupBy("band", "bucket")
            .agg(F.sort_array(F.collect_list(id_col)).alias("ids"))
            .filter(
                (F.size("ids") > 1) & (F.size("ids") <= F.lit(max_bucket))
            )
        )
        pairs = (
            grp.select(
                F.explode(F.expr(_pair_explode_sql("ids"))).alias("p")
            )
            .select("p.id1", "p.id2")
            # sorted ids give id1 < id2 only when ids are unique;
            # duplicate id values in a bucket would otherwise emit
            # id1 == id2 self-pairs (cosine 1.0) that a strict `<` oracle
            # excludes — drop them here so dirty input degrades
            # loudly-equal instead of diverging
            .filter(F.col("id1") != F.col("id2"))
            .distinct()
        )
    s1 = base.select(
        F.col(id_col).alias("id1"),
        F.col("v").alias("v1"),
        F.col("norm").alias("n1"),
    )
    s2 = base.select(
        F.col(id_col).alias("id2"),
        F.col("v").alias("v2"),
        F.col("norm").alias("n2"),
    )
    out = (
        # MERGE hints on both verify joins (see minhash_dedup_pairs): all
        # sides are corpus/pair-scale by construction, and at 100x sf0.1
        # the planner's chain estimate for the candidate stage landed
        # under the broadcast threshold — the static plan's broadcast
        # stage collected the 2.5 GiB / 360M-row pair list to the driver
        # (maxResultSize abort) before AQE could replan. The boundary
        # repartition keeps the intermediate a measured stage and is the
        # id2 hash partitioning join2's SMJ needs anyway.
        pairs.hint("merge")
        .join(s1, "id1")
        .repartition("id2")
        .hint("merge")
        .join(s2, "id2")
        .withColumn(
            "cosine",
            F.round(_dot("v1", "v2") / (F.col("n1") * F.col("n2")), 6),
        )
        .filter(F.col("cosine") >= threshold)
        .select("id1", "id2", "cosine")
        .localCheckpoint(eager=True)
    )
    base.unpersist()
    return out


def resolve_duplicates(
    df: DataFrame, pairs: DataFrame, id_col: str
) -> DataFrame:
    """Resolve near-dup clusters to a deduplicated corpus: cluster the
    pair list with connected components, keep the minimum-id document of
    every cluster as canonical, and pass all unpaired documents through.

    The whole resolution is one anti-join of the corpus against the
    non-canonical cluster members (component label != node id). The
    loser list is usually tiny next to the corpus, but it is
    OUTPUT-SIZED, not bounded: at heavy duplication (the stress
    harness's giant-component case — most of the corpus non-canonical)
    it approaches corpus scale, so the broadcast is size-GATED like
    every other data-dependent broadcast here: one sizing pass over the
    loser list decides broadcast anti-join vs shuffled anti-join (at that
    dup density the shuffle is the correct plan, and Spark's left_anti
    shuffles only the id column)."""
    labels = connected_components(pairs)
    losers = labels.filter(F.col("component") != F.col("node")).select(
        F.col("node").alias(id_col)
    )
    return df.join(_maybe_broadcast_ids(losers), id_col, "left_anti")


def _maybe_broadcast_ids(ids: DataFrame) -> DataFrame:
    """Broadcast an id frame only when it is actually broadcast-sized.

    The threshold is rows (ids are fixed-width): 5M longs ~ 40 MB
    serialized, comfortably under Spark's 8 GB broadcast ceiling and
    worth the shuffle it saves; override with
    SPARK_GRAFT_BROADCAST_IDS_MAX (0 disables broadcasting). The bounded
    collect (util.collect_bounded) derives the list once — a
    corpus-touching join + aggregate in resolve_duplicates_by — and under
    the gate returns it as a LocalRelation. Over the gate the cached list
    moves to checkpoint blocks, which are freed with the returned plan,
    where a cache would stay until unpersisted."""
    limit = env_int("SPARK_GRAFT_BROADCAST_IDS_MAX", 5_000_000)
    if not limit:
        # a driver-built id frame (connected_components' local path) is a
        # LocalRelation of known size, which the planner would broadcast
        # on its own; the merge hint keeps 0 meaning "never broadcast"
        return ids.hint("merge")
    tbl = collect_bounded(ids, limit)[1]
    if tbl is not None:
        return F.broadcast(ids.sparkSession.createDataFrame(tbl, ids.schema))
    out = ids.localCheckpoint(eager=True)
    ids.unpersist()
    return out


def resolve_duplicates_by(
    df: DataFrame, pairs: DataFrame, id_col: str, score_col: str
) -> DataFrame:
    """Cluster resolution keeping the BEST document of every near-dup
    cluster — argmax of `score_col`, ties to the smallest id — instead of
    resolve_duplicates' smallest-id rule. This is the keep-the-longest /
    keep-the-highest-quality policy production dedup pipelines apply
    (the canonical copy should be the best one, not the first-crawled).

    Same scale shape as resolve_duplicates: the label frame covers only
    documents that appear in some pair, the winner per component is one
    max_by aggregate over it (no window sort), and the corpus is touched
    once by a broadcast anti-join of the losers. Scores are looked up with
    one join of (id, score) projections — the corpus's other columns never
    shuffle."""
    labels = connected_components(pairs)
    scored = labels.join(
        df.select(F.col(id_col).alias("node"), F.col(score_col).alias("_s")),
        "node",
    )
    winners = scored.groupBy("component").agg(
        F.expr("max_by(node, named_struct('s', _s, 'ni', -node))").alias(
            "_keep"
        )
    )
    losers = (
        labels.join(winners, "component")
        .filter(F.col("node") != F.col("_keep"))
        .select(F.col("node").alias(id_col))
    )
    return df.join(_maybe_broadcast_ids(losers), id_col, "left_anti")


def simhash(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """64-bit SimHash over whitespace tokens (weighted bit-vote), as a
    pandas UDF; near-dups share a hash within small Hamming distance.

    The token hash is the last 8 md5 bytes little-endian — i.e. exactly
    DuckDB's ``md5_number_lower`` — so the whole simhash is replayable in
    the SQL oracle (and md5 in C beats the per-char FNV loop it replaced)."""
    import hashlib

    shifts = np.arange(64, dtype=np.uint64)

    @F.pandas_udf(LongType())
    def sim(texts: pd.Series) -> pd.Series:
        out = []
        for t in texts:
            tokens = t.lower().split() if t else []
            if not tokens:
                out.append(0)
                continue
            hs = np.array(
                [
                    int.from_bytes(
                        hashlib.md5(tok.encode("utf-8")).digest()[8:], "little"
                    )
                    for tok in set(tokens)
                ],
                dtype=np.uint64,
            )
            bits = (hs[:, None] >> shifts[None, :]) & np.uint64(1)  # (ntok, 64)
            votes = np.where(bits.astype(bool), 1, -1).sum(axis=0)
            packed = int(((votes > 0).astype(np.uint64) << shifts).sum())
            out.append(packed - (1 << 64) if packed >= (1 << 63) else packed)
        return pd.Series(out, dtype="int64")

    from .util import spread

    return spread(df).select(id_col, sim(F.col(text_col)).alias("simhash"))


def simhash_near_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    max_hamming: int = 3,
    bands: int = 4,
) -> DataFrame:
    """SimHash near-duplicate pairing: all document pairs whose 64-bit
    simhashes differ in <= `max_hamming` bits — the LSH-banded completion
    of `simhash` the same way lsh_candidate_pairs completes minhash.

    The 64-bit hash splits into `bands` equal slices; with
    max_hamming < bands, the pigeonhole principle guarantees any pair
    within distance lands at least one identical slice, so the banded
    equi-join is a COMPLETE (not approximate) candidate generator.
    Verification is bit_count(xor) — everything JVM-side, no UDF beyond
    the signature itself.

    100 TB shape: one shuffle on (band, band_val); a 16-bit band has 65k
    buckets per band position, and degenerate empty-doc hashes (simhash 0)
    are excluded before banding, mirroring the minhash zero-signature
    guard (the all-empty bucket is the one quadratic trap). Verify cost
    is one cheap integer op per candidate."""
    sigs = simhash(df, text_col, id_col).filter(F.col("simhash") != 0)
    return hamming_near_pairs(
        sigs, "simhash", id_col, max_hamming=max_hamming, bands=bands, bits=64
    )


def hamming_near_pairs(
    sigs: DataFrame,
    hash_col: str,
    id_col: str,
    max_hamming: int = 3,
    bands: int = 4,
    bits: int = 64,
) -> DataFrame:
    """All pairs whose `bits`-wide integer hashes differ in <= `max_hamming`
    bits — the banded Hamming join underlying simhash_near_pairs,
    factored out so ANY 64-bit-or-narrower signature column (simhash,
    image pHash, audio chromaprint slice) gets the same COMPLETE
    candidate generator: with max_hamming < bands the pigeonhole
    principle guarantees a matching band slice for every in-distance
    pair. One shuffle on (band, band_val); verify is one bit_count(xor)
    per candidate. Callers exclude degenerate all-zero hashes first."""
    if not (0 < bands <= bits and bits % bands == 0):
        raise ValueError(f"bands must divide bits={bits}, got {bands}")
    if max_hamming >= bands:
        raise ValueError(
            f"pigeonhole completeness needs max_hamming < bands "
            f"({max_hamming} >= {bands})"
        )
    width = bits // bands
    mask = (1 << width) - 1
    slices = F.posexplode(
        F.array(
            *[
                F.shiftright(hash_col, k * width).bitwiseAND(F.lit(mask))
                for k in range(bands)
            ]
        )
    )
    banded = sigs.select(F.col(id_col), F.col(hash_col), slices.alias("band", "band_val"))
    left = banded.select(
        F.col(id_col).alias("id1"), F.col(hash_col).alias("s1"), "band", "band_val"
    )
    right = banded.select(
        F.col(id_col).alias("id2"), F.col(hash_col).alias("s2"), "band", "band_val"
    )
    return (
        left.join(right, ["band", "band_val"])
        .filter(F.col("id1") < F.col("id2"))
        .select("id1", "id2", "s1", "s2")
        .distinct()
        .select(
            "id1",
            "id2",
            F.bit_count(F.col("s1").bitwiseXOR(F.col("s2")))
            .cast("bigint")
            .alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
    )


def word_jaccard_pairs(
    df: DataFrame, text_col: str, id_col: str, threshold: float
) -> DataFrame:
    """Exact word-set Jaccard similarity for all pairs above threshold,
    via LOSSLESS prefix filtering (the AllPairs/PPJoin principle from the
    similarity-join literature).

    A naive shared-word self-join is quadratic within each word group —
    one stop-word shared by 10M docs emits ~5e13 candidate rows. Instead,
    order every document's tokens by ascending global document frequency
    (rarest first, token as tie-break — one global total order) and keep
    only each document's PREFIX of length |x| - ceil(t*|x|) + 1. If
    J(x,y) >= t then |x∩y| >= ceil(t*max(|x|,|y|)), and the minimal
    common token under the global order must sit inside BOTH prefixes
    (pigeonhole: were it outside one prefix, all common tokens would have
    to fit in the ceil(t|x|)-1 trailing slots). So joining prefixes on
    the token misses nothing, while hot tokens — ranked last everywhere —
    almost never enter a prefix: the quadratic stop-word group vanishes.
    Candidates then get the exact intersection count, restricted to pairs
    that passed, plus the |y| >= t|x| length filter both ways.

    Verification is an ARRAY-ZIP, not an explode-join: each doc's distinct
    token set is collected once into an array (bounded by document length)
    and candidate pairs fetch the two arrays by two equi-joins, with the
    intersection size computed JVM-side by array_intersect. The explode
    form this replaced shuffled |pairs| x |tokens-per-doc| skinny rows
    twice (253M rows at sf0.1's 11M candidates) and was ~10x the cost of
    candidate generation; the array form shuffles one row per pair, with
    per-row work linear in the two array lengths. A hot doc paired with
    many partners is an AQE-splittable skew key on the pair side — the
    array side stays one row per doc.

    Cost at scale: one df aggregation over tokens, one per-doc rank, a
    join on prefix tokens (rare by construction), and a verify join that
    touches candidate pairs only. Every shuffle key is a token or doc id;
    no step holds a hot group in memory.

    Storage note: the token-set and prefix frames stay persisted in the
    returned plan's lineage (the result is lazy, so an in-operator
    unpersist would re-run the explode per consumer — the cosine_pairs_lsh
    convention). Callers running many dedup passes in one session should
    release them via spark.catalog.clearCache() or materialize the pair
    list and unpersist."""
    from pyspark import StorageLevel

    words = (
        df.select(
            F.col(id_col),
            F.explode(
                F.array_distinct(F.split(F.lower(F.col(text_col)), " "))
            ).alias("w"),
        )
        .filter(F.col("w") != "")
        .distinct()
        # four consumers read the token set (sizes, dfreq, prefix, the
        # verify arrays): persist so the explode+distinct runs once and
        # join planning sees the MATERIALIZED size instead of the source
        # file's estimate (the containment_pairs lesson — groupBys with
        # different keys can't share one exchange, so without this every
        # consumer replays the scan+explode+distinct)
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    sizes = words.groupBy(id_col).agg(F.count("*").alias("sz"))
    dfreq = words.groupBy("w").agg(F.count("*").alias("df"))
    rank_w = Window.partitionBy(id_col).orderBy("df", "w")
    prefix = (
        words.join(dfreq, "w")
        .withColumn("rnk", F.row_number().over(rank_w))
        .join(sizes, id_col)
        .filter(
            F.col("rnk")
            <= F.col("sz") - F.ceil(F.lit(threshold) * F.col("sz")) + 1
        )
        .select(id_col, "w", "sz")
        # the prefix is read by BOTH sides of the candidate self-join:
        # persisting it (a) runs the dfreq-join + rank window once, and
        # (b) hands the planner its true (tiny — ~|docs| x prefix-length)
        # size so the self-join broadcasts instead of sort-merging on
        # estimates inherited from the window plan (59s -> 9s at sf0.1)
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    p1 = prefix.select(
        F.col(id_col).alias("id1"), "w", F.col("sz").alias("sz1")
    )
    p2 = prefix.select(
        F.col(id_col).alias("id2"), "w", F.col("sz").alias("sz2")
    )
    cand = (
        p1.join(p2, "w")
        .filter(
            (F.col("id1") < F.col("id2"))
            & (F.col("sz2") >= F.ceil(F.lit(threshold) * F.col("sz1")))
            & (F.col("sz1") >= F.ceil(F.lit(threshold) * F.col("sz2")))
        )
        .select("id1", "id2")
        .distinct()
    )
    arrays = words.groupBy(id_col).agg(F.collect_list("w").alias("ws"))
    a1 = arrays.select(F.col(id_col).alias("id1"), F.col("ws").alias("ws1"))
    a2 = arrays.select(F.col(id_col).alias("id2"), F.col("ws").alias("ws2"))
    inter = (
        cand.join(a1, "id1")
        .join(a2, "id2")
        .select(
            "id1",
            "id2",
            F.size(F.array_intersect("ws1", "ws2")).alias("inter"),
            F.size("ws1").alias("sz1"),
            F.size("ws2").alias("sz2"),
        )
    )
    return (
        inter.withColumn(
            "jaccard",
            F.round(
                F.col("inter") / (F.col("sz1") + F.col("sz2") - F.col("inter")), 6
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id1", "id2", "jaccard")
    )


def containment_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float,
    max_df: int = 1000,
    gram_len: int | None = None,
) -> DataFrame:
    """Directed CONTAINMENT pairs: (src, dst) where
    |src ∩ dst| / |src| >= threshold over the doc's distinct token set —
    the asymmetric near-dup signal word_jaccard_pairs structurally misses
    (a short doc quoted inside a long one has high containment but low
    Jaccard; the RealNews/C4 "contained duplicate" removal is this test).
    With `gram_len` set, tokens are the Broder shingle form — distinct
    md5s of every `gram_len`-char window (built JVM-side in the scan
    stage, the repeated_span_coverage shape) — which detects verbatim
    copying independent of a corpus's word vocabulary; otherwise
    whitespace words.

    Candidate generation is the AllPairs prefix principle adapted to the
    one-sided bound: if |src ∩ dst| >= ceil(t*|src|), the minimal common
    token under the global (df, token) order sits inside src's prefix of
    size |src| - ceil(t*|src|) + 1 (pigeonhole) — but anywhere in dst, so
    the dst side joins its FULL token set. The hot-token hazard that
    full side reintroduces is capped by `max_df` (the dedup_winnow
    remedy): tokens in more than max_df docs never form join groups, so
    group cost is bounded by max_df x prefix occurrences, never corpus².
    Completeness is lost only for a src whose ENTIRE prefix is hotter
    than max_df — a doc made of boilerplate stop-words, which pairs with
    everything and means nothing. Verify is the exact intersection count
    over surviving candidates only.

    Both directions emit independently (src-in-dst and dst-in-src are
    different facts); self-pairs are excluded."""
    from .util import spread

    if gram_len is not None:
        n_pos = F.length(text_col) - gram_len + 1
        pos = F.explode(
            F.when(n_pos >= 1, F.sequence(F.lit(1), n_pos)).otherwise(
                F.array().cast("array<int>")
            )
        ).alias("p")
        # widen a single-split input BEFORE the ~chars-per-doc explode:
        # one task otherwise holds the whole corpus's gram distinct map.
        # Gram identity is the shared 64-bit keyed md5 (= DuckDB
        # md5_number_upper, a 16-byte fixed-width decimal) instead of the
        # 32-char hex string: every downstream sort/shuffle carries the
        # gram key ~4x smaller (measured ~2x end-to-end). 64-bit collisions
        # merge a gram corpus-wide in BOTH engines identically (the oracle
        # replays them); the containment error is < 1/|src| per collision,
        # negligible against a 0-1 threshold.
        from .sampling import _hash64

        words = (
            spread(df.select(F.col(id_col), F.col(text_col)))
            .select(F.col(id_col), F.col(text_col), pos)
            .select(
                id_col,
                _hash64(
                    F.substring(F.col(text_col), F.col("p"), gram_len)
                ).alias("w"),
            )
            .distinct()
        )
    else:
        words = (
            df.select(
                F.col(id_col),
                F.explode(
                    F.array_distinct(F.split(F.lower(F.col(text_col)), " "))
                ).alias("w"),
            )
            .filter(F.col("w") != "")
            .distinct()
        )
    # five consumers read the token set (sizes, df, prefix, both verify
    # sides): persist it so the explode+distinct runs once — and so join
    # planning sees the MATERIALIZED size. Without this, every derived
    # frame inherits the tiny source file's size estimate and the planner
    # broadcasts a corpus-scale gram table (driver OOM at sf0.1 already).
    from pyspark import StorageLevel

    words = words.persist(StorageLevel.MEMORY_AND_DISK)
    # Annotation strategy, skew-audited: document frequency is a
    # COMBINABLE aggregate joined back (map-side partial + an
    # AQE-splittable equi-join — a boilerplate gram in 10^9 docs must
    # never become one window task, the text_novelty lesson), while sz
    # and the prefix rank share ONE doc-partitioned sort (bounded by
    # document length, safe at any scale). prefix/live are then pure
    # filters. The joins carry explicit merge hints: every derived frame
    # inherits the SOURCE FILE's tiny size estimate (explodes don't fix
    # logical stats), so the planner would otherwise broadcast a multi-GB
    # gram table (observed driver OOM at sf0.1); sort-merge is correct at
    # every scale, and AQE still converts genuinely-small sides to
    # broadcast and splits skewed keys.
    dfreq = words.groupBy("w").agg(F.count("*").alias("df"))
    doc_w = Window.partitionBy(id_col)
    annot = (
        words.join(dfreq.hint("merge"), "w")
        .withColumn("sz", F.count("*").over(doc_w))
        .withColumn(
            "rnk", F.row_number().over(doc_w.orderBy("df", "w"))
        )
        .filter(F.col("df") <= max_df)
    )
    live = annot.select(F.col(id_col).alias("dst_id"), "w")
    prefix = annot.filter(
        F.col("rnk") <= F.col("sz") - F.ceil(F.lit(threshold) * F.col("sz")) + 1
    ).select(F.col(id_col).alias("src_id"), "w")
    cand = (
        prefix.join(live.hint("merge"), "w")
        .filter(F.col("src_id") != F.col("dst_id"))
        .select("src_id", "dst_id")
        .distinct()
    )
    wa = words.select(F.col(id_col).alias("src_id"), "w")
    wb = words.select(F.col(id_col).alias("dst_id"), "w")
    inter = (
        cand.join(wa.hint("merge"), "src_id")
        .join(wb.hint("merge"), ["dst_id", "w"])
        .groupBy("src_id", "dst_id")
        .agg(F.count("*").alias("inter"))
    )
    s1 = words.groupBy(id_col).agg(F.count("*").alias("src_sz")).select(
        F.col(id_col).alias("src_id"), "src_sz"
    )
    result = (
        inter.join(s1.hint("merge"), "src_id")
        .withColumn(
            "containment", F.round(F.col("inter") / F.col("src_sz"), 6)
        )
        .filter(F.col("containment") >= threshold)
        .select("src_id", "dst_id", "containment")
        # eager: the pair list materializes now (it is the small output of
        # the pass), letting the gram cache release before return —
        # repeated calls in one session must not accumulate storage
        .localCheckpoint(eager=True)
    )
    words.unpersist()
    return result


def embedding_cosine_pairs(
    df: DataFrame, vec_col: str, id_col: str, threshold: float
) -> DataFrame:
    """Near-duplicate pairs by embedding cosine similarity (double math,
    left-to-right accumulation so oracles can reproduce it bit-for-bit).

    At 100 TB the all-pairs join is replaced by LSH bucketing
    (similarity.lsh_buckets) — this exact form is the in-bucket verifier."""
    def dot(x, y):
        return F.aggregate(
            F.zip_with(x, y, lambda p, q: p * q),
            F.lit(0.0),
            lambda acc, z: acc + z,
        )

    v = df.select(
        F.col(id_col),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("v"),
    )
    # norm projected ONCE per row before the pair fan-out — else each
    # vector's sqrt(dot(v,v)) re-evaluates |df| - 1 times inside the join
    v = v.select(
        F.col(id_col), "v", F.sqrt(dot(F.col("v"), F.col("v"))).alias("n")
    )
    a = v.select(
        F.col(id_col).alias("id1"), F.col("v").alias("v1"), F.col("n").alias("n1")
    )
    b = v.select(
        F.col(id_col).alias("id2"), F.col("v").alias("v2"), F.col("n").alias("n2")
    )
    return (
        a.join(b, F.col("id1") < F.col("id2"))
        .withColumn(
            "cosine",
            F.round(dot("v1", "v2") / (F.col("n1") * F.col("n2")), 6),
        )
        .filter(F.col("cosine") >= threshold)
        .select("id1", "id2", "cosine")
    )


def connected_components(
    pairs: DataFrame,
    id1: str = "id1",
    id2: str = "id2",
    max_iter: int = 50,
    local_threshold: int | None = None,
    iter_times: list | None = None,
) -> DataFrame:
    """Near-dup clusters from a pair list: each node -> min id reachable
    (the SURVEY §2.D "union-find via iterative join", as min-label
    propagation with pointer doubling).

    Each round runs three steps:
    1. hash-min: every live node's label is the min of its own id and its
       neighbours' (one groupBy over the live edge list);
    2. pointer doubling to a fixpoint: label(v) <- min(label(v),
       label(label(v))), a self-join of the label table that squares the
       pointer depth each step, so a depth-d label forest flattens in
       ceil(log2 d) steps. Every step runs its own changed check, a
       `limit(1).count()` over the old and new labels (labels only
       decrease, so "no row changed" is a valid fixpoint test);
    3. contraction: both endpoints of every live edge are relabelled to
       their root and self-loops are dropped, so the live edge list
       shrinks every round; the loop stops when it is empty.
    Plain hash-min needs diameter-many rounds, and near-dup graphs do
    grow long chains (A~B~C~... threshold chains: the sf0.1 cosine graph
    already has diameter > 20); with doubling to a fixpoint and
    contraction a long chain takes one round, and max_iter bounds the
    rounds.

    At 1B nodes each round shuffles the live edge list (hash-min, then
    the contraction's joins and distinct) and self-joins the much smaller
    label table per doubling step; the edge list is persisted since every
    round re-reads it.

    Adaptive small-graph path: at most `local_threshold` distinct edges
    (~16 B/edge -> tens of MB) are solved by a driver-local union-find
    (_components) on the PAIR LIST (never the corpus), fetched by one
    bounded collect (util.collect_bounded) — Spark's size-gated broadcast
    reasoning in place of an O(log diameter)-round job cascade; the loop
    finishes the same way once its contracted edge list fits. Near-dup
    edge lists are output-bounded and usually tiny relative to the
    corpus. local_threshold=0 forces the distributed path; the default
    (None) reads SPARK_GRAFT_CC_LOCAL_THRESHOLD (fallback 2,000,000),
    which the stress harness sets to 0 so scale evidence measures the loop.

    Returns (node, component) with component = min node id of the cluster.
    Nodes only appear if they occur in `pairs` — callers union in
    singletons if every document needs a label. A NULL id joins no
    cluster and appears once, as (NULL, NULL).
    """
    from pyspark import StorageLevel

    if local_threshold is None:
        local_threshold = env_int("SPARK_GRAFT_CC_LOCAL_THRESHOLD", 2_000_000)
    edges = (
        pairs.select(F.col(id1).alias("a"), F.col(id2).alias("b"))
        .union(pairs.select(F.col(id2).alias("a"), F.col(id1).alias("b")))
        .distinct()
    )
    if local_threshold:
        # sized in one pass, as AQE sizes a broadcast side at runtime;
        # over the gate the loop reads the cached edge list
        tbl = collect_bounded(edges, local_threshold)[1]
        if tbl is not None:
            node = pairs.select(F.col(id1).alias("node"))
            return _components(tbl, node.withColumn("component", F.col("node")))
    else:
        edges = edges.persist(StorageLevel.MEMORY_AND_DISK)
    # STAR-CONTRACTION loop: each round (1) hash-min labels every live
    # node with the min of itself and its neighbours, (2) pointer-doubles
    # the label table TO FIXPOINT (label <- label(label) squares the
    # pointer depth each step, so a depth-d hash-min forest flattens in
    # ceil(log2 d) node-table self-joins — the inner table is |live
    # nodes| rows, tiny next to the edge list), then (3) CONTRACTS the
    # edge list by relabeling both endpoints to their forest ROOT and
    # dropping self-loops. Contraction preserves connectivity among the
    # roots, so — unlike plain label propagation (which re-shuffles the
    # FULL edge list every round) — the live edge list SHRINKS every
    # round: a dense near-dup cluster (sf0.1's jaccard graph: 5k nodes,
    # 22M directed edges) collapses to nothing after one contraction,
    # where the old loop paid 22M-row joins per round to converge; a
    # 120-node path graph flattens in ~7 inner doublings and ONE outer
    # round (a single doubling per round would advance a chain's labels
    # by only 2/round — linear rounds, the exact failure the long-chain
    # test pins). Labels decrease monotonically toward the component
    # minimum, so the final root is min(node id).
    #
    # localCheckpoint after every round: an iterative join's lineage
    # otherwise grows by one join per round, so round k would replay
    # rounds 1..k-1 (and the returned frame would replay everything).
    # On a multi-executor cluster swap for reliable checkpointing if
    # executor loss during the loop matters.
    mapping = (
        edges.select(F.col("a").alias("node"))
        .distinct()
        .withColumn("component", F.col("node"))
        .localCheckpoint(eager=True)
    )
    cur = edges
    for _ in range(max_iter):
        import time as _time

        _t0 = _time.perf_counter()
        lab = (
            cur.groupBy("a")
            .agg(F.least(F.col("a"), F.min("b")).alias("lbl"))
            .localCheckpoint(eager=True)
        )
        # pointer doubling to fixpoint: lbl <- min(lbl, lbl(lbl)).
        # Labels are non-increasing, so "no row changed" is a valid
        # fixpoint test; it is fused into the join that materializes the
        # lazy checkpoint (no separate job). 64 iterations covers depth
        # 2^64 — effectively unbounded.
        for _ in range(64):
            hop = lab.select(
                F.col("a").alias("lbl"), F.col("lbl").alias("_root")
            )
            doubled = (
                lab.join(hop, "lbl", "left")
                .select(
                    "a",
                    F.least(
                        F.col("lbl"),
                        F.coalesce(F.col("_root"), F.col("lbl")),
                    ).alias("lbl"),
                )
                .localCheckpoint(eager=False)
            )
            changed = (
                doubled.alias("n")
                .join(lab.alias("o"), "a")
                .filter(F.col("n.lbl") != F.col("o.lbl"))
                .limit(1)
                .count()
            )
            lab = doubled
            if changed == 0:
                break
        # contract: relabel endpoints, drop self-loops, dedupe
        la = lab.select(F.col("a"), F.col("lbl").alias("_la"))
        lb = lab.select(F.col("a").alias("b"), F.col("lbl").alias("_lb"))
        nxt = (
            cur.join(la, "a")
            .join(lb, "b")
            .filter(F.col("_la") != F.col("_lb"))
            .select(F.col("_la").alias("a"), F.col("_lb").alias("b"))
            .distinct()
        )
        # sizes (and, at or under the gate, fetches) the contracted edge
        # list; a gate of 0 fetches only an empty list, which ends the loop
        n_live, rest = collect_bounded(nxt, local_threshold)
        if iter_times is not None:
            # per-round wall time through the contraction's sizing — stress-
            # harness instrumentation (round-13 scale evidence: rounds =
            # O(log diameter) with a shrinking live-edge list, as a
            # measurement), never set on query paths
            iter_times.append(
                (round(_time.perf_counter() - _t0, 3), int(n_live))
            )
        cur.unpersist()
        cur = nxt
        # fold this round's labels into the node mapping (left join: a
        # root that became isolated keeps its label — it has no live
        # edges, so `lab` no longer covers it)
        mapping = (
            mapping.join(
                lab.select(
                    F.col("a").alias("component"), F.col("lbl").alias("_l")
                ),
                "component",
                "left",
            )
            .select(
                "node",
                F.coalesce(F.col("_l"), F.col("component")).alias(
                    "component"
                ),
            )
            .localCheckpoint(eager=True)
        )
        if n_live == 0:
            break
        if rest is not None:
            # the contracted remainder fits the driver: finish with a
            # local union-find over SUPER-node edges and compose
            fin = _components(
                rest, mapping.select("node", F.col("node").alias("_l"))
            ).withColumnRenamed("node", "component")
            return (
                mapping.join(F.broadcast(fin), "component", "left")
                .select(
                    "node",
                    F.coalesce(F.col("_l"), F.col("component")).alias(
                        "component"
                    ),
                )
            )
    cur.unpersist()
    return mapping


def _components(edges, like: DataFrame) -> DataFrame:
    """Driver-local union-find over an Arrow edge table (a, b): a frame of
    `like`'s schema holding (node, smallest node of its cluster). Each
    round hooks every root to the smallest root an edge reaches, then
    pointer-jumps to flat. A NULL endpoint connects nothing (its partner
    is still a node, NULL one of its own), as in the distributed loop."""
    import pyarrow as pa
    import pyarrow.compute as pc

    a, b = (edges.column(c).combine_chunks() for c in "ab")
    nodes = pc.unique(pa.concat_arrays([a, b])).sort()
    both = pc.and_(a.is_valid(), b.is_valid())
    ia, ib = (pc.index_in(x.filter(both), nodes).to_numpy() for x in (a, b))
    label = np.arange(len(nodes))
    while True:
        lo = np.minimum(label[ia], label[ib])
        new = label.copy()
        np.minimum.at(new, label[ia], lo)
        np.minimum.at(new, label[ib], lo)
        while not np.array_equal(new[new], new):
            new = new[new]
        if np.array_equal(new, label):
            tbl = pa.table([nodes, nodes.take(label)], like.columns)
            return like.sparkSession.createDataFrame(tbl, like.schema)
        label = new


def incremental_minhash_pairs(
    corpus: DataFrame,
    batch: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float = 0.7,
) -> DataFrame:
    """Daily-ingest near-dup detection: MinHash pairs that TOUCH the new
    batch — batch-vs-corpus and batch-vs-batch — never corpus-vs-corpus
    (yesterday's deduped corpus must not re-pair against itself).

    100 TB shape: corpus signatures are computed once here but in
    production are loaded from the signature store (~512 B/doc) written by
    previous runs; the banding shuffle still touches every signature, but
    buckets holding no new docs are dropped BEFORE any pair explodes, so
    candidate volume scales with the batch's bucket overlap, not the
    corpus's k^2/2. Verification joins only the surviving (mostly
    new-touching) ids back to signatures."""
    from pyspark import StorageLevel

    sc = minhash_signatures(corpus, text_col, id_col).withColumn(
        "_new", F.lit(False)
    )
    sb = minhash_signatures(batch, text_col, id_col).withColumn(
        "_new", F.lit(True)
    )
    sigs = sc.unionByName(sb).persist(StorageLevel.MEMORY_AND_DISK)
    pairs = lsh_candidate_pairs(sigs, id_col, new_col="_new")
    s1 = sigs.select(F.col(id_col).alias("id1"), F.col("minhash").alias("sig1"))
    s2 = sigs.select(F.col(id_col).alias("id2"), F.col("minhash").alias("sig2"))
    return (
        # MERGE-hinted verify joins + measured-stage boundary
        # (see minhash_dedup_pairs)
        pairs.hint("merge")
        .join(s1, "id1")
        .repartition("id2")
        .hint("merge")
        .join(s2, "id2")
        .withColumn(
            "est_jaccard",
            F.size(
                F.filter(
                    F.zip_with("sig1", "sig2", lambda a, b: a == b),
                    lambda x: x,
                )
            )
            / F.size("sig1"),
        )
        .filter(F.col("est_jaccard") >= threshold)
        .select("id1", "id2", "est_jaccard")
    )

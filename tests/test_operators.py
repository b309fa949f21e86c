"""Semantic tests for the §2.D operators on constructed data where the
right answer is known (oracle queries cover the testdata tables)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def test_exact_dedup_keeps_min(spark):
    from hive_dwrf_spark.operators.dedup import exact_dedup

    df = spark.createDataFrame(
        [(1, "a", 10), (1, "a", 5), (1, "b", 7), (2, "a", 3)],
        ["k", "g", "ord"],
    )
    out = exact_dedup(df, keys=["k", "g"], order_by="ord").orderBy("k", "g")
    assert [(r.k, r.g, r.ord) for r in out.collect()] == [
        (1, "a", 5),
        (1, "b", 7),
        (2, "a", 3),
    ]


def test_minhash_finds_near_duplicates(spark):
    from hive_dwrf_spark.operators.dedup import minhash_dedup_pairs

    base = (
        "the quick brown fox jumps over the lazy dog again and again "
        "while the cat watches from the warm windowsill every day"
    )
    rows = [
        (1, base),
        (2, base + " extra"),  # near-dup of 1
        (3, "completely different content about spark query engines and "
            "columnar storage formats with dictionaries"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    pairs = minhash_dedup_pairs(df, "text", "doc_id", threshold=0.5).collect()
    assert [(p.id1, p.id2) for p in pairs] == [(1, 2)]


def test_minhash_degenerate_docs_emit_no_pairs(spark):
    """1000 empty/short/NULL docs all share the all-zero signature; without
    the banding guard they form one bucket per band and emit ~500k pairs
    per band (the 100 TB scale-killer). With the guard: zero candidates,
    and real near-dups in the same frame still pair up."""
    from hive_dwrf_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_dedup_pairs,
        minhash_signatures,
    )

    base = (
        "the quick brown fox jumps over the lazy dog again and again "
        "while the cat watches from the warm windowsill every day"
    )
    rows = [(i, "" if i % 3 == 0 else ("ab" if i % 3 == 1 else None))
            for i in range(1000)]
    rows += [(10_001, base), (10_002, base + " extra")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    sigs = minhash_signatures(df, "text", "doc_id")
    cand = lsh_candidate_pairs(sigs, "doc_id")
    got = sorted((p.id1, p.id2) for p in cand.collect())
    assert got == [(10_001, 10_002)]
    pairs = minhash_dedup_pairs(df, "text", "doc_id", threshold=0.5).collect()
    assert [(p.id1, p.id2) for p in pairs] == [(10_001, 10_002)]


def test_minhash_bucket_cap_skips_hot_buckets(spark):
    """A bucket larger than max_bucket is dropped instead of emitting
    k*(k-1)/2 pairs — 50 byte-identical docs with cap 10 yield nothing,
    with the default cap they yield all 1225 pairs."""
    from hive_dwrf_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_signatures,
    )

    text = (
        "identical boilerplate navigation header footer copyright terms "
        "of service privacy policy contact us about careers"
    )
    df = spark.createDataFrame([(i, text) for i in range(50)], ["doc_id", "text"])
    sigs = minhash_signatures(df, "text", "doc_id")
    assert lsh_candidate_pairs(sigs, "doc_id", max_bucket=10).count() == 0
    assert lsh_candidate_pairs(sigs, "doc_id").count() == 50 * 49 // 2


def test_bucket_candidate_cap_star_pairing(spark, monkeypatch):
    """Graceful-degradation cap (VERDICT r8 #1): with bucket_cap=B each
    (band, bucket) elects B anchors by md5(band|id) — DIFFERENT per
    band — and pairs them against every mate, so a 50-identical-doc
    clique emits at most bands*B*k pairs (linear) instead of k*(k-1)/2,
    and every band's star keeps all docs connected to its anchor, so
    RESOLUTION still collapses the clique to one canonical doc exactly
    like the uncapped run."""
    from hive_dwrf_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_dedup_pairs,
        minhash_signatures,
        resolve_duplicates,
    )

    text = (
        "identical boilerplate navigation header footer copyright terms "
        "of service privacy policy contact us about careers"
    )
    df = spark.createDataFrame(
        [(i, text) for i in range(50)], ["doc_id", "text"]
    )
    sigs = minhash_signatures(df, "text", "doc_id")
    capped = lsh_candidate_pairs(sigs, "doc_id", bucket_cap=1)
    rows = {(r.id1, r.id2) for r in capped.collect()}
    # 16 bands x 1 anchor: a union of <= 16 stars over 50 docs — far
    # under the 1225 clique pairs, well-formed, and connecting every doc
    assert all(a < b for a, b in rows)
    assert 49 <= len(rows) <= 16 * 49 and len(rows) < 1225
    touched = {a for a, _ in rows} | {b for _, b in rows}
    assert touched == set(range(50))
    # cap=2 is a superset with more anchors
    rows2 = {
        (r.id1, r.id2)
        for r in lsh_candidate_pairs(sigs, "doc_id", bucket_cap=2).collect()
    }
    assert rows <= rows2 and len(rows2) <= 16 * 2 * 49
    # resolution equivalence on the clique: capped pairs resolve the
    # corpus to the same single canonical doc as uncapped would
    pairs = minhash_dedup_pairs(df, "text", "doc_id", 0.9, bucket_cap=1)
    kept = resolve_duplicates(df, pairs, "doc_id").select("doc_id").collect()
    assert [r.doc_id for r in kept] == [0]
    # env-var path engages the same valve with no code change
    monkeypatch.setenv("SPARK_GRAFT_LSH_BUCKET_CAP", "1")
    assert lsh_candidate_pairs(sigs, "doc_id").count() == len(rows)
    monkeypatch.setenv("SPARK_GRAFT_LSH_BUCKET_CAP", "0")
    assert lsh_candidate_pairs(sigs, "doc_id").count() == 1225


def test_cosine_lsh_bucket_cap(spark):
    """cosine_pairs_lsh honors bucket_cap: a bucket of identical vectors
    emits only per-band anchor stars (<= bands*cap*k pairs), every
    vector stays connected through some anchor, and the verify stage
    still computes exact cosine on each emitted pair."""
    from hive_dwrf_spark.operators.dedup import cosine_pairs_lsh

    vec = [((j * 37 + 11) % 17 - 8) / 8.0 for j in range(64)]
    df = spark.createDataFrame(
        [(i, vec) for i in range(20)], ["vec_id", "embedding"]
    )
    capped = cosine_pairs_lsh(df, "embedding", "vec_id", 0.9, bucket_cap=1)
    got = capped.collect()
    rows = {(r.id1, r.id2) for r in got}
    assert all(a < b for a, b in rows)
    assert 19 <= len(rows) <= 4 * 19 and len(rows) < 190
    assert {a for a, _ in rows} | {b for _, b in rows} == set(range(20))
    assert all(abs(r.cosine - 1.0) < 1e-9 for r in got)  # identical vecs
    full = cosine_pairs_lsh(df, "embedding", "vec_id", 0.9)
    assert full.count() == 20 * 19 // 2


def test_word_jaccard_exact(spark):
    from hive_dwrf_spark.operators.dedup import word_jaccard_pairs

    df = spark.createDataFrame(
        [(1, "a b c d"), (2, "a b c e"), (3, "x y z w")],
        ["doc_id", "text"],
    )
    pairs = word_jaccard_pairs(df, "text", "doc_id", threshold=0.5).collect()
    # |{a,b,c}| / |{a,b,c,d,e}| = 3/5
    assert [(p.id1, p.id2, p.jaccard) for p in pairs] == [(1, 2, 0.6)]


def test_word_jaccard_prefix_filter_lossless_with_hot_tokens(spark):
    """Every doc shares the stop-words 'the'/'a' (the quadratic hot group
    in a naive shared-word join); the prefix filter must still find
    exactly the one true near-dup pair hiding among them."""
    from hive_dwrf_spark.operators.dedup import word_jaccard_pairs

    rows = [
        (i, f"the a common words everywhere unique{i} only{i} here{i}")
        for i in range(300)
    ]
    rows += [
        (9001, "the a zebra quantum falcon mystery garden"),
        (9002, "the a zebra quantum falcon mystery garden"),  # exact dup
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    pairs = word_jaccard_pairs(df, "text", "doc_id", threshold=0.5).collect()
    assert [(p.id1, p.id2, p.jaccard) for p in pairs] == [(9001, 9002, 1.0)]


def test_cosine_topk_exact(spark):
    from hive_dwrf_spark.operators.similarity import cosine_topk

    rows = [
        (1, [1.0, 0.0]),
        (2, [0.0, 1.0]),
        (3, [1.0, 1.0]),
        (4, [-1.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"]).withColumn(
        "embedding", F.col("embedding").cast("array<float>")
    )
    top = cosine_topk(df, "embedding", "vec_id", [1.0, 0.0], 2).collect()
    assert [r.vec_id for r in top] == [1, 3]
    assert top[0].cosine == 1.0
    assert top[1].cosine == pytest.approx(0.707107, abs=1e-6)


def test_ann_includes_exact_match(spark):
    from hive_dwrf_spark.operators.similarity import ann_topk

    rows = [(i, [float(i == j) for j in range(8)]) for i in range(8)]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"]).withColumn(
        "embedding", F.col("embedding").cast("array<float>")
    )
    top = ann_topk(df, "embedding", "vec_id", [1.0] + [0.0] * 7, 1, n_planes=4).collect()
    assert top and top[0].vec_id == 0


def test_simhash_near_vs_far(spark):
    from hive_dwrf_spark.operators.dedup import simhash

    rows = [
        (1, "alpha beta gamma delta epsilon zeta eta theta"),
        (2, "alpha beta gamma delta epsilon zeta eta iota"),
        (3, "one two three four five six seven eight"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r.doc_id: r.simhash for r in simhash(df, "text", "doc_id").collect()}

    def hamming(a, b):
        return bin((a ^ b) & ((1 << 64) - 1)).count("1")

    assert hamming(got[1], got[2]) < hamming(got[1], got[3])


def test_multimodal_decode_plumbing(spark):
    from hive_dwrf_spark.operators import multimodal

    df = spark.createDataFrame(
        [(1, b"payload-one"), (2, b"payload-two")], ["doc_id", "payload"]
    )
    mm = multimodal.attach_metadata(df, "payload", "image", "doc_id")
    meta = {r.media_id: r.meta for r in mm.collect()}
    assert meta[1].n_bytes == len(b"payload-one")
    assert meta[1].media_type == "image"
    feats = multimodal.decode_features(mm).orderBy("media_id").collect()
    assert len(feats) == 2
    assert feats[0].n_bytes == len(b"payload-one")
    assert len(feats[0].features) == 8
    # deterministic stub: same payload -> same features
    feats2 = multimodal.decode_features(mm).orderBy("media_id").collect()
    assert feats[0].features == feats2[0].features


def _ppm_bytes(pixels) -> bytes:
    """Encode an (h, w, 3) uint8 array as a binary P6 PPM."""
    import numpy as np

    arr = np.asarray(pixels, dtype=np.uint8)
    h, w, _ = arr.shape
    return f"P6\n{w} {h}\n255\n".encode() + arr.tobytes()


def _ppm_decode(payload: bytes):
    """Genuine pixel decoder for the set_decoder seam: parses binary P6
    PPM with numpy alone (no image libs in this container — PIL would
    plug into the identical seam) and returns an 8x8 average-pooled
    grayscale as the 64-float feature vector, i.e. real aHash input."""
    import numpy as np

    parts = payload.split(b"\n", 3)
    assert parts[0] == b"P6", "not a P6 PPM"
    w, h = (int(x) for x in parts[1].split())
    pix = (
        np.frombuffer(parts[3], dtype=np.uint8, count=w * h * 3)
        .reshape(h, w, 3)
        .astype(np.float32)
    )
    gray = pix.mean(axis=2)
    ys = np.linspace(0, h, 9).astype(int)
    xs = np.linspace(0, w, 9).astype(int)
    pooled = np.array(
        [
            gray[ys[i] : ys[i + 1], xs[j] : xs[j + 1]].mean()
            for i in range(8)
            for j in range(8)
        ],
        dtype=np.float32,
    )
    return w, h, pooled / 255.0


def test_multimodal_real_pixel_decoder_through_seam(spark):
    """The set_decoder seam carries a REAL decoder end to end: genuine
    P6 PPM images decode to genuine pixels inside the Arrow-batched
    mapInPandas stage, and an average-hash computed from the decoded
    features pairs the near-duplicate images and separates the
    different one — the pixel half of the phash path, on real pixels."""
    import numpy as np

    from hive_dwrf_spark.operators import multimodal

    rng = np.random.RandomState(5)
    base = rng.randint(0, 256, (24, 32, 3)).astype(np.uint8)
    near = base.copy()
    near[:2, :2] = 255 - near[:2, :2]  # tiny corner perturbation
    other = rng.randint(0, 256, (24, 32, 3)).astype(np.uint8)
    df = spark.createDataFrame(
        [
            (1, bytearray(_ppm_bytes(base))),
            (2, bytearray(_ppm_bytes(near))),
            (3, bytearray(_ppm_bytes(other))),
        ],
        ["doc_id", "payload"],
    )
    mm = multimodal.attach_metadata(df, "payload", "image", "doc_id")
    multimodal.set_decoder(_ppm_decode)
    try:
        rows = {
            r.media_id: r
            for r in multimodal.decode_features(mm).collect()
        }
    finally:
        multimodal.set_decoder(None)
    assert rows[1].width == 32 and rows[1].height == 24
    assert len(rows[1].features) == 64
    # feature values are REAL pixel means: recompute driver-side
    want = _ppm_decode(_ppm_bytes(base))[2]
    np.testing.assert_allclose(rows[1].features, want, rtol=1e-6)

    def ahash(feats):
        f = np.asarray(feats)
        bits = (f > f.mean()).astype(int)
        return int("".join(map(str, bits)), 2)

    def hamming(a, b):
        return bin(a ^ b).count("1")

    h1, h2, h3 = (ahash(rows[i].features) for i in (1, 2, 3))
    assert hamming(h1, h2) < 8 < hamming(h1, h3)


def test_langid_markers(spark):
    from hive_dwrf_spark.operators.text import detect_language

    df = spark.createDataFrame(
        [
            (1, "the cat and the dog walked to the park"),
            (2, "el gato y la casa de los amigos que hablan"),
            (3, "der hund und die katze ist das beste"),
            (4, "zzz qqq"),
        ],
        ["doc_id", "text"],
    )
    got = {r.doc_id: r.lang_pred for r in detect_language(df, "text", "doc_id").collect()}
    assert got[1] == "en" and got[2] == "es" and got[3] == "de" and got[4] == "und"


def test_ivf_topk_matches_exact_mostly(spark):
    from hive_dwrf_spark.operators import similarity
    from hive_dwrf_spark.tables import load

    from .conftest import SF_SMOKE

    e = load(spark, SF_SMOKE, "embeddings")
    row = e.filter("vec_id = 0").select("embedding").collect()[0]
    q = [float(x) for x in row.embedding]
    exact = similarity.cosine_topk(e, "embedding", "vec_id", q, 10).collect()
    approx = similarity.ivf_topk(e, "embedding", "vec_id", q, 10).collect()
    assert len(approx) == 10
    # the query vector itself (cosine 1.0) must be found, and recall@10
    # against exact should be substantial for nprobe=4/16 lists
    ids_exact = {r.vec_id for r in exact}
    ids_approx = {r.vec_id for r in approx}
    assert 0 in ids_approx
    assert len(ids_exact & ids_approx) >= 5


def test_salted_aggregate_matches_plain(spark):
    from hive_dwrf_spark.operators.skew import salted_aggregate
    from hive_dwrf_spark.tables import load

    from .conftest import SF_SMOKE

    e = load(spark, SF_SMOKE, "events")
    plain = {
        (r.user_id,): (r.cnt, r.total)
        for r in e.groupBy("user_id")
        .agg(F.count("*").alias("cnt"), F.round(F.sum("value"), 2).alias("total"))
        .collect()
    }
    salted = {
        (r.user_id,): (r.cnt, r.total)
        for r in salted_aggregate(
            e,
            ["user_id"],
            [F.count("*").alias("c"), F.sum("value").alias("s")],
            [F.sum("c").alias("cnt"), F.round(F.sum("s"), 2).alias("total")],
        ).collect()
    }
    assert salted == plain


def test_salted_broadcast_left_matches_plain(spark):
    from hive_dwrf_spark.operators.skew import salted_broadcast_left
    from hive_dwrf_spark.tables import load

    from .conftest import SF_SMOKE

    o = load(spark, SF_SMOKE, "orders")
    c = load(spark, SF_SMOKE, "customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_nationkey"
    )
    plain = o.join(c, "o_custkey").groupBy("c_nationkey").count()
    salted = salted_broadcast_left(o, c, "o_custkey").groupBy("c_nationkey").count()
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, salted.collect()))


def test_bucketed_join_matches_plain(spark, tmp_path):
    from hive_dwrf_spark.operators.bucketing import bucketed_join, write_bucketed
    from hive_dwrf_spark.sources import register
    from hive_dwrf_spark.tables import load

    from .conftest import SF_SMOKE

    register(spark)
    o = load(spark, SF_SMOKE, "orders").select("o_orderkey", "o_custkey", "o_totalprice")
    c = load(spark, SF_SMOKE, "customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_acctbal"
    )
    lp, rp = str(tmp_path / "o_b"), str(tmp_path / "c_b")
    write_bucketed(o, lp, "o_custkey", 4)
    write_bucketed(c, rp, "o_custkey", 4)
    got = bucketed_join(spark, lp, rp, "o_custkey", 4)
    plain = o.join(c, "o_custkey")
    assert got.count() == plain.count()
    a = got.agg(F.round(F.sum("o_totalprice"), 2).alias("s")).collect()[0].s
    b = plain.agg(F.round(F.sum("o_totalprice"), 2).alias("s")).collect()[0].s
    assert a == b


def test_write_clustered_enables_pruning(spark, tmp_path):
    """Clustered layout must make stride stats selective: a range predicate
    over a clustered column ships far fewer rows out of the reader than the
    same predicate over a random layout."""
    from hive_dwrf_spark.format.reader import DwrfFile
    from hive_dwrf_spark.operators.layout import write_clustered
    from hive_dwrf_spark.sources import register

    import os

    register(spark)
    df = spark.sql(
        "SELECT CAST(rand(7) * 1000000 AS BIGINT) AS k, id AS v FROM range(100000)"
    )
    rnd, clu = str(tmp_path / "rnd"), str(tmp_path / "clu")
    df.coalesce(1).write.format("dwrf").option("path", rnd).option(
        "row_index_stride", "1000"
    ).mode("append").save()
    write_clustered(
        df, clu, ["k"], n_files=1, row_index_stride="1000"
    )

    def rows_shipped(root):
        f = [fn for fn in os.listdir(root) if fn.endswith(".dwrf")][0]
        with DwrfFile(os.path.join(root, f)) as r:
            t = r.read(filters=[("k", "gte", 990000)])
        return t.num_rows

    shipped_rnd = rows_shipped(rnd)
    shipped_clu = rows_shipped(clu)
    assert shipped_clu < shipped_rnd / 10, (shipped_clu, shipped_rnd)
    # and the query answer through Spark is identical either way
    a = spark.read.format("dwrf").load(rnd).filter("k >= 990000").count()
    b = spark.read.format("dwrf").load(clu).filter("k >= 990000").count()
    assert a == b


def test_asof_join_semantics(spark):
    from hive_dwrf_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [(1, 5, "L1"), (1, 10, "L2"), (1, 2, "L0"), (2, 7, "L3")],
        ["uid", "ts", "tag"],
    )
    right = spark.createDataFrame(
        [(1, 3, 100.0), (1, 5, 200.0), (1, 9, 300.0), (2, 8, 400.0)],
        ["uid", "ts", "px"],
    )
    got = {
        r.tag: r.asof_px
        for r in asof_join(left, right, on="ts", by="uid", value_cols=["px"]).collect()
    }
    # L0@2: no right <= 2 -> NULL; L1@5: exact tie -> 200; L2@10 -> 300
    # L3@7 (uid 2): right is at 8 (> 7) -> NULL
    assert got == {"L0": None, "L1": 200.0, "L2": 300.0, "L3": None}


def test_point_in_interval_join_matches_naive(spark):
    from hive_dwrf_spark.operators.rangejoin import point_in_interval_join

    points = spark.sql("SELECT id AS pid, CAST(id % 97 AS DOUBLE) AS x FROM range(500)")
    intervals = spark.sql(
        "SELECT id AS iid, CAST(id % 89 AS DOUBLE) AS lo, "
        "CAST(id % 89 + 5 AS DOUBLE) AS hi FROM range(300)"
    )
    naive = points.join(
        intervals, F.col("x").between(F.col("lo"), F.col("hi"))
    ).select("pid", "iid")
    bucketed = point_in_interval_join(
        points, intervals, "x", "lo", "hi", bucket_width=5.0
    ).select("pid", "iid")
    a = sorted(map(tuple, naive.collect()))
    b = sorted(map(tuple, bucketed.collect()))
    assert a == b and len(a) > 0


def test_point_in_interval_join_left_outer(spark):
    """Regression: how='left' must null-extend unmatched points, not
    silently degenerate to inner (the residual BETWEEN used to run as a
    post-join filter that dropped the null-extended rows)."""
    import pytest as _pytest

    from hive_dwrf_spark.operators.rangejoin import point_in_interval_join

    points = spark.createDataFrame(
        [(0, 1.0), (1, 50.0), (2, 999.0)], "pid long, x double"
    )
    intervals = spark.createDataFrame(
        [(10, 0.0, 10.0), (11, 40.0, 60.0)], "iid long, lo double, hi double"
    )
    left = point_in_interval_join(
        points, intervals, "x", "lo", "hi", bucket_width=10.0, how="left"
    ).select("pid", "iid")
    got = {(r.pid, r.iid) for r in left.collect()}
    assert got == {(0, 10), (1, 11), (2, None)}
    naive_left = points.join(
        intervals, F.col("x").between(F.col("lo"), F.col("hi")), "left"
    ).select("pid", "iid")
    assert got == {(r.pid, r.iid) for r in naive_left.collect()}
    with _pytest.raises(ValueError, match="inner.*left"):
        point_in_interval_join(
            points, intervals, "x", "lo", "hi", bucket_width=10.0, how="full"
        )


def test_connected_components_known_graph(spark):
    from hive_dwrf_spark.operators.dedup import connected_components

    # two chains and one isolated edge: {1-2-3-4}, {10-11}, {20-21-22}
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (21, 20), (21, 22)],
        "id1 long, id2 long",
    )
    got = {
        (r.node, r.component)
        for r in connected_components(pairs).collect()
    }
    assert got == {
        (1, 1), (2, 1), (3, 1), (4, 1),
        (10, 10), (11, 10),
        (20, 20), (21, 20), (22, 20),
    }


def test_resolve_duplicates_by_keeps_best(spark):
    """Quality-policy resolution: the survivor of each cluster is the
    max-score doc (ties to the smallest id); unpaired docs pass through."""
    from hive_dwrf_spark.operators.dedup import resolve_duplicates_by

    docs = spark.createDataFrame(
        [(1, 10), (2, 50), (3, 50), (4, 7), (9, 1)],
        "doc_id long, score long",
    )
    # cluster {1,2,3} (winner: 2 — score 50, smaller id than 3), {4}, {9} unpaired
    pairs = spark.createDataFrame([(1, 2), (2, 3)], "id1 long, id2 long")
    got = sorted(
        r.doc_id
        for r in resolve_duplicates_by(docs, pairs, "doc_id", "score").collect()
    )
    assert got == [2, 4, 9]


def test_connected_components_long_chain_both_paths(spark):
    """A 120-node path graph has diameter 119: plain hash-min would need
    119 rounds, so this pins (a) the pointer-doubling loop converging
    within max_iter on the DISTRIBUTED path (local_threshold=0) and
    (b) the driver-local union-find path returning the identical labels."""
    from hive_dwrf_spark.operators.dedup import connected_components

    n = 120
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "id1 long, id2 long"
    )
    want = {(i, 0) for i in range(n)}
    local = {
        (r.node, r.component) for r in connected_components(pairs).collect()
    }
    assert local == want
    dist = {
        (r.node, r.component)
        for r in connected_components(pairs, local_threshold=0).collect()
    }
    assert dist == want


def test_connected_components_local_matches_python_union_find(spark):
    """The driver-local union-find (numpy hooking and pointer jumping)
    labels a random many-component graph, self-loops included, exactly
    as a plain Python union-find does."""
    import random

    from hive_dwrf_spark.operators.dedup import connected_components

    rng = random.Random(7)
    ids = rng.sample(range(10_000), 300)
    rows = [(rng.choice(ids), rng.choice(ids)) for _ in range(260)]
    parent: dict = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            x = parent[x]
        return x

    for a, b in rows:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    got = connected_components(_pairs(spark, rows)).collect()
    assert {tuple(r) for r in got} == {(n, find(n)) for n in parent}


def test_deterministic_sample_stable_under_partitioning(spark):
    from pyspark.sql import functions as F

    from hive_dwrf_spark.operators.sampling import deterministic_sample

    df = spark.range(10000).withColumnRenamed("id", "k")
    s1 = {r.k for r in deterministic_sample(df, 0.3, ["k"]).collect()}
    s2 = {
        r.k
        for r in deterministic_sample(df.repartition(13), 0.3, ["k"]).collect()
    }
    # same rows regardless of partitioning / evaluation order
    assert s1 == s2
    # fraction within a loose tolerance (hash-uniformity, not RNG)
    assert 0.25 < len(s1) / 10000 < 0.35
    # no shuffle in the plan: the sample is a pure filter
    plan = deterministic_sample(df, 0.3, ["k"])._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_stratified_take_exact_k(spark):
    from pyspark.sql import functions as F

    from hive_dwrf_spark.operators.sampling import stratified_take

    df = spark.range(3000).select(
        (F.col("id") % 3).cast("string").alias("g"), F.col("id").alias("k")
    )
    got = stratified_take(df, ["g"], 7, ["k"])
    counts = {r.g: r.c for r in got.groupBy("g").agg(F.count("*").alias("c")).collect()}
    assert counts == {"0": 7, "1": 7, "2": 7}
    # deterministic: same pick on re-run with different partitioning
    again = stratified_take(df.repartition(11), ["g"], 7, ["k"])
    assert {tuple(r) for r in got.collect()} == {tuple(r) for r in again.collect()}
    # small stratum: returns all of it, not an error
    tiny = df.filter(F.col("k") < 5)
    assert stratified_take(tiny, ["g"], 7, ["k"]).count() == 5


def test_ngram_contamination(spark):
    from pyspark.sql import functions as F

    from hive_dwrf_spark.operators.text import ngram_contamination, word_ngrams

    bench = spark.createDataFrame(
        [(0, "the quick brown fox jumps over the lazy dog today")],
        "doc_id long, text string",
    )
    corpus = spark.createDataFrame(
        [
            (1, "prefix the quick brown fox jumps over the lazy dog suffix"),
            (2, "completely different words in this one entirely now ok"),
            (3, "too short"),
        ],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: (r.n_contaminated_ngrams, r.contaminated)
        for r in ngram_contamination(corpus, bench, "text", "doc_id").collect()
    }
    assert got[1][1] is True and got[1][0] >= 1
    assert got[2] == (0, False)
    assert got[3] == (0, False)
    # short docs emit NO truncated grams (sequence(1,0) pitfall)
    assert word_ngrams(corpus.filter("doc_id = 3"), "text", "doc_id").count() == 0


def test_repetition_features(spark):
    from hive_dwrf_spark.operators.text import repetition_features

    df = spark.createDataFrame(
        [
            (1, "a b a b a b"),        # 6 words, 2 distinct; bigrams all "a b"/"b a"
            (2, "x y z w"),            # no repetition at all
            (3, "solo"),               # 1 word: no bigrams
            (4, "t t t t"),            # one word repeated
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r.asDict() for r in repetition_features(df, "text", "doc_id").collect()}
    assert got[1]["n_words"] == 6
    assert abs(got[1]["dup_word_frac"] - (1 - 2 / 6)) < 1e-6
    # bigrams: [a b, b a, a b, b a, a b] -> 5 total, 2 distinct, top "a b" x3
    assert abs(got[1]["dup_bigram_frac"] - (1 - 2 / 5)) < 1e-6
    assert abs(got[1]["top_bigram_frac"] - (3 * 2 / 6)) < 1e-6
    assert got[2]["dup_word_frac"] == 0.0
    assert got[2]["dup_bigram_frac"] == 0.0
    assert got[3]["dup_bigram_frac"] == 0.0 and got[3]["top_bigram_frac"] == 0.0
    assert got[4]["dup_word_frac"] == 0.75 and got[4]["top_bigram_frac"] == 1.5


def test_split_assign_deterministic_and_complete(spark):
    from pyspark.sql import functions as F

    from hive_dwrf_spark.operators.sampling import split_assign

    df = spark.range(0, 2000).withColumnRenamed("id", "k")
    a = split_assign(df, ["k"], {"train": 0.8, "val": 0.1, "test": 0.1})
    counts = {r["split"]: r["n"] for r in a.groupBy("split").agg(F.count("*").alias("n")).collect()}
    assert sum(counts.values()) == 2000
    assert set(counts) == {"train", "val", "test"}
    assert 0.7 < counts["train"] / 2000 < 0.9
    # stable under repartitioning: identical assignment row-for-row
    b = split_assign(df.repartition(13), ["k"], {"train": 0.8, "val": 0.1, "test": 0.1})
    assert a.orderBy("k").collect() == b.orderBy("k").collect()
    # salt decouples: a different salt produces a different (but valid) assignment
    c = split_assign(df, ["k"], {"train": 0.8, "val": 0.1, "test": 0.1}, salt="other")
    assert a.orderBy("k").collect() != c.orderBy("k").collect()
    import pytest

    with pytest.raises(ValueError):
        split_assign(df, ["k"], {"train": 0.5, "val": 0.1})


def test_grouped_split_no_leakage(spark):
    """Keying split_assign by a group column must put EVERY row of a group
    in the same split — the contamination guard for eval sets."""
    from pyspark.sql import functions as F

    from hive_dwrf_spark.operators.sampling import split_assign

    rows = [(i, f"src{i % 37}") for i in range(3000)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    a = split_assign(df, ["source"], {"train": 0.8, "val": 0.1, "test": 0.1})
    spans = (
        a.groupBy("source")
        .agg(F.countDistinct("split").alias("k"))
        .filter(F.col("k") > 1)
        .count()
    )
    assert spans == 0
    assert a.count() == 3000


def test_random_projection_exact_and_jl_property(spark):
    """Components must equal the numpy replay of the quantized sign-matrix
    product exactly, and the projection must roughly preserve pairwise
    distances (the JL contract that makes it useful)."""
    import hashlib

    import numpy as np

    from hive_dwrf_spark.operators.similarity import random_projection

    rng = np.random.default_rng(5)
    n, d, k = 60, 32, 16
    vecs = rng.standard_normal((n, d)).astype(np.float32)
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(n)],
        "vec_id long, embedding array<float>",
    )
    got = {
        (r.vec_id, r.k): r.comp_e4
        for r in random_projection(
            df, "embedding", dim=d, out_dim=k, id_cols=["vec_id"]
        ).collect()
    }
    assert len(got) == n * k
    # numpy replay with the same md5 signs and e4 quantization
    signs = np.empty((d, k), dtype=np.int64)
    for j in range(d):
        for kk in range(k):
            h = int.from_bytes(
                hashlib.md5(f"rp|{j}|{kk}".encode()).digest()[:8], "little"
            )
            signs[j, kk] = 1 if h % 2 == 0 else -1
    q = np.floor(vecs.astype(np.float64) * 10000 + 0.5).astype(np.int64)
    expect = q @ signs
    for i in range(n):
        for kk in range(k):
            assert got[(i, kk + 1)] == expect[i, kk], (i, kk)
    # JL: median pairwise distance ratio within a loose band for k=16
    proj = expect.astype(np.float64) / (10000.0 * np.sqrt(k))
    orig = vecs.astype(np.float64)
    ratios = []
    for a in range(0, n, 7):
        for b in range(a + 1, n, 11):
            do = np.linalg.norm(orig[a] - orig[b])
            dp = np.linalg.norm(proj[a] - proj[b])
            if do > 0:
                ratios.append(dp / do)
    med = float(np.median(ratios))
    assert 0.7 < med < 1.3, med


def _set_gate(monkeypatch, value):
    """Set kmeans_lloyd's size gate, SPARK_GRAFT_CC_LOCAL_THRESHOLD, which
    it reads per call; None leaves the 2,000,000-value default."""
    if value is None:
        monkeypatch.delenv("SPARK_GRAFT_CC_LOCAL_THRESHOLD", raising=False)
    else:
        monkeypatch.setenv("SPARK_GRAFT_CC_LOCAL_THRESHOLD", value)


@pytest.mark.parametrize(
    "gate", [None, "0"], ids=["default_gate", "distributed"]
)
def test_kmeans_lloyd_exact_replay_and_separation(spark, monkeypatch, gate):
    """Centroids must equal a numpy replay of integer Lloyd exactly, be
    invariant under repartitioning, and recover well-separated clusters —
    on the driver-local path the default gate picks for this corpus and
    on the forced distributed loop."""
    import numpy as np

    from hive_dwrf_spark.operators.similarity import kmeans_lloyd

    _set_gate(monkeypatch, gate)

    rng = np.random.default_rng(9)
    d, k = 6, 3
    centers = np.array([[5.0] * d, [-5.0] * d, [0.0] * d])
    vecs = np.vstack(
        [centers[i % 3] + rng.normal(0, 0.3, d) for i in range(90)]
    ).astype(np.float32)
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(90)],
        "vec_id long, embedding array<float>",
    )

    def replay(rounds):
        q = np.floor(vecs.astype(np.float64) * 10000 + 0.5).astype(np.int64)
        cents = {i: q[i].copy() for i in range(k)}  # seeds: smallest ids
        for _ in range(rounds):
            assign = {}
            for v in range(len(q)):
                best = min(
                    (int(((q[v] - c) ** 2).sum()), cid)
                    for cid, c in cents.items()
                )
                assign[v] = best[1]
            new = {}
            for cid in cents:
                rows = [q[v] for v, c in assign.items() if c == cid]
                if rows:
                    s = np.sum(rows, axis=0)
                    new[cid] = np.floor(s / len(rows)).astype(np.int64)
            cents = new
            sizes = {
                cid: sum(1 for c in assign.values() if c == cid)
                for cid in cents
            }
        return cents, sizes

    cents, sizes = replay(2)
    got = kmeans_lloyd(df, "embedding", "vec_id", k=k, rounds=2).collect()
    for r in got:
        assert r.c_e4 == int(cents[r.cid][r.dim - 1]), (r.cid, r.dim)
        assert r.n == sizes[r.cid]
    # three tight blobs of 30 -> all clusters size 30
    assert sorted(sizes.values()) == [30, 30, 30]
    # partitioning-invariant
    got2 = kmeans_lloyd(
        df.repartition(7), "embedding", "vec_id", k=k, rounds=2
    ).collect()
    assert sorted(map(tuple, got2)) == sorted(map(tuple, got))


def test_kmeans_lloyd_cuts_lineage_and_releases_cache(spark, monkeypatch):
    """Each Lloyd round is lineage-cut (bpe/label_propagation
    discipline): the returned plan scans the checkpointed k-row centroid
    frame instead of nesting all r rounds, so a high round count does not
    compound plan depth; and the quantized-corpus persist is released
    before return (repeated calls must not pin corpus-sized caches)."""
    from hive_dwrf_spark.operators.similarity import kmeans_lloyd

    # 7 partitions is the corpus cache's signature: persist() preserves
    # input partitioning, while the k-row checkpoint frames come out of a
    # 3-row AQE-coalesced shuffle (1..shuffle-partitions, never forced 7)
    df = spark.createDataFrame(
        [(i, [float(i % 5), float(i % 7)]) for i in range(40)],
        "vec_id long, embedding array<float>",
    ).repartition(7)
    before = set(spark.sparkContext._jsc.getPersistentRDDs().keys())
    # the distributed loop's lineage cut is what this test asserts
    monkeypatch.setenv("SPARK_GRAFT_CC_LOCAL_THRESHOLD", "0")
    out = kmeans_lloyd(df, "embedding", "vec_id", k=3, rounds=6)
    plan = out._jdf.queryExecution().executedPlan().toString()
    # the plan starts at the round-6 checkpoint: zero shuffle exchanges
    # and no per-round join/aggregate chain survive into it
    assert "Exchange hash" not in plan
    assert out.count() > 0
    after = dict(spark.sparkContext._jsc.getPersistentRDDs())
    new = [after[k2] for k2 in set(after.keys()) - before]
    # the corpus persist (7 partitions) must have been released before
    # return; only k-row round checkpoints may remain pinned
    assert all(r.getNumPartitions() != 7 for r in new)


def test_ivf_lloyd_topk_matches_exact_when_probing_all(spark):
    """nprobe == n_lists degenerates to exact search: the top-k must equal
    the brute-force integer-distance ranking; with nprobe=1 on separated
    blobs the results stay within the query's own blob."""
    import numpy as np

    from hive_dwrf_spark.operators.similarity import ivf_lloyd_topk

    rng = np.random.default_rng(3)
    d = 6
    centers = np.array([[8.0] * d, [-8.0] * d, [0.0] * d])
    vecs = np.vstack(
        [centers[i % 3] + rng.normal(0, 0.4, d) for i in range(60)]
    ).astype(np.float32)
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(60)],
        "vec_id long, embedding array<float>",
    )
    qvec = [float(x) for x in (centers[0] + 0.1)]
    q = np.floor(np.asarray(qvec) * 10000 + 0.5).astype(np.int64)
    allq = np.floor(vecs.astype(np.float64) * 10000 + 0.5).astype(np.int64)
    dists = ((allq - q) ** 2).sum(axis=1)
    exact = sorted(range(60), key=lambda i: (dists[i], i))[:5]
    got_all = [
        r.vec_id
        for r in ivf_lloyd_topk(
            df, "embedding", "vec_id", qvec, 5, n_lists=3, nprobe=3
        ).collect()
    ]
    assert got_all == exact
    got_one = ivf_lloyd_topk(
        df, "embedding", "vec_id", qvec, 5, n_lists=3, nprobe=1
    ).collect()
    assert len(got_one) == 5
    # all results come from the query's blob (ids ≡ 0 mod 3)
    assert all(r.vec_id % 3 == 0 for r in got_one), got_one


def _is_local(df) -> bool:
    plan = df._jdf.queryExecution().executedPlan().toString()
    return "LocalTableScan" in plan and "ExistingRDD" not in plan


# (label, rows of (id, vector), k, gate setting, takes the local path)
_KMEANS_GATE_CASES = [
    # ids 2 and 3 are equidistant from the seeds 0 and 1: ties go to the
    # smaller cid in both rounds
    ("ties", [(0, [0.0, 0.0]), (1, [2.0, 0.0]), (2, [1.0, 0.0]),
              (3, [1.0, 0.0]), (4, [1.0, 5.0]), (5, [1.0, -5.0])],
     2, None, True),
    # seeds 0 and 1 coincide: every point ties to cid 0, cluster 1 empties
    # and drops out in round 1
    ("empty_cluster", [(0, [1.0, 1.0]), (1, [1.0, 1.0]), (2, [3.0, 0.5]),
                       (3, [-2.0, 4.0]), (4, [9.0, 9.0])],
     3, None, True),
    # the distributed loop groups by id, so a repeated (id, vector) row
    # counts once there (identical vectors keep its first() deterministic)
    ("duplicate_ids", [(0, [0.0, 0.0]), (1, [4.0, 4.0]), (1, [4.0, 4.0]),
                       (2, [0.5, 0.0]), (3, [4.5, 4.0])],
     2, None, False),
    # zip_with pads the shorter side with NULL, so every distance between
    # a length-2 and a length-3 vector is NULL in the distributed loop
    ("ragged", [(0, [0.0, 0.0]), (1, [4.0, 4.0, 4.0]), (2, [0.5, 0.0]),
                (3, [4.5, 4.0, 4.0]), (4, [1.0, 0.0])],
     2, None, False),
    ("null_element", [(0, [0.0, 0.0]), (1, [4.0, 4.0]), (2, [0.5, None]),
                      (3, [4.5, 4.0])],
     2, None, False),
    # 4 rows x d=2 is 8 quantized values: one over the threshold
    ("over_threshold", [(0, [0.0, 0.0]), (1, [4.0, 4.0]), (2, [0.5, 0.0]),
                        (3, [4.5, 4.0])],
     2, "7", False),
    ("at_threshold", [(0, [0.0, 0.0]), (1, [4.0, 4.0]), (2, [0.5, 0.0]),
                      (3, [4.5, 4.0])],
     2, "8", True),
]


@pytest.mark.parametrize(
    "rows,k,threshold,local",
    [c[1:] for c in _KMEANS_GATE_CASES],
    ids=[c[0] for c in _KMEANS_GATE_CASES],
)
def test_kmeans_lloyd_local_gate_matches_distributed(
    spark, monkeypatch, rows, k, threshold, local
):
    """Both branches of kmeans_lloyd's bounded-corpus gate return the same
    rows: equidistant ties and an emptied seed cluster run driver-local;
    duplicate ids, a ragged vector, a NULL element and a corpus over the
    threshold fall back to the distributed loop."""
    from hive_dwrf_spark.operators.similarity import kmeans_lloyd

    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    _set_gate(monkeypatch, threshold)
    gated = kmeans_lloyd(df, "embedding", "vec_id", k=k, rounds=2)
    _set_gate(monkeypatch, "0")
    dist = kmeans_lloyd(df, "embedding", "vec_id", k=k, rounds=2)
    assert _is_local(gated) is local
    assert not _is_local(dist)
    assert gated.schema == dist.schema
    got, want = sorted(map(tuple, gated.collect())), sorted(
        map(tuple, dist.collect())
    )
    assert got == want
    assert len(got) > 0


def test_kmeans_lloyd_gate_sizes_id_sorted_input(spark, monkeypatch):
    """The gate counts every row even when the planner knows the input is
    sorted by id, where an orderBy-limit seed query would read only k rows
    per partition: 40 rows x d=2 over 4 range partitions is 80 values."""
    from pyspark.sql import functions as F

    from hive_dwrf_spark.operators.similarity import kmeans_lloyd

    df = spark.range(0, 40, 1, 4).select(
        F.col("id").alias("vec_id"),
        F.array((F.col("id") % 5).cast("double"), F.lit(1.0)).alias(
            "embedding"
        ),
    )
    got = {}
    for gate in ("79", "80"):
        _set_gate(monkeypatch, gate)
        out = kmeans_lloyd(df, "embedding", "vec_id", k=2, rounds=2)
        got[gate] = (_is_local(out), sorted(map(tuple, out.collect())))
    assert got["79"][0] is False and got["80"][0] is True
    assert got["79"][1] == got["80"][1]


def test_kmeans_lloyd_local_path_starts_two_jobs(spark, monkeypatch):
    """The driver-local path is one sizing pass and one Arrow fetch — the
    seeds come from the fetched table, no per-round Spark jobs — releases
    the corpus cache, and leaves round_times, the distributed loop's
    instrumentation, empty."""
    from hive_dwrf_spark.operators.similarity import kmeans_lloyd

    _set_gate(monkeypatch, None)
    df = spark.createDataFrame(
        [(i, [float(i % 5), float(i % 7)]) for i in range(40)],
        "vec_id long, embedding array<float>",
    )
    sc = spark.sparkContext
    before = set(sc._jsc.getPersistentRDDs().keys())
    times: list = []
    sc.setJobGroup("kmeans-local-jobs", "kmeans_lloyd local path")
    try:
        out = kmeans_lloyd(
            df, "embedding", "vec_id", k=3, rounds=4, round_times=times
        )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup("kmeans-local-jobs")) <= 2
    assert _is_local(out)
    assert times == []
    assert set(sc._jsc.getPersistentRDDs().keys()) <= before


def test_ivf_lloyd_topk_equal_on_both_gate_branches(spark, monkeypatch):
    """ivf_lloyd_topk inherits kmeans_lloyd's gate from
    SPARK_GRAFT_CC_LOCAL_THRESHOLD, read at call time: forcing the
    distributed loop with 0 returns the same top-k."""
    import numpy as np

    from hive_dwrf_spark.operators.similarity import ivf_lloyd_topk

    rng = np.random.default_rng(5)
    vecs = rng.normal(0, 1, (80, 5))
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(80)],
        "vec_id long, embedding array<double>",
    )
    qvec = [float(x) for x in vecs[7] + 0.05]

    def run():
        return [
            tuple(r)
            for r in ivf_lloyd_topk(
                df, "embedding", "vec_id", qvec, 8, n_lists=4, nprobe=2
            ).collect()
        ]

    monkeypatch.delenv("SPARK_GRAFT_CC_LOCAL_THRESHOLD", raising=False)
    local = run()
    monkeypatch.setenv("SPARK_GRAFT_CC_LOCAL_THRESHOLD", "0")
    assert run() == local
    assert len(local) == 8


def test_pca_basis_matches_numpy_and_projects(spark):
    """Eigenvalues/subspace must match numpy PCA on the quantized data,
    and the distributed projection's variance must equal the eigenvalue."""
    import numpy as np

    from hive_dwrf_spark.operators.similarity import pca_basis, pca_project

    rng = np.random.default_rng(11)
    # anisotropic cloud: variance concentrated along a known direction
    base = rng.standard_normal((120, 5)) * np.array([3.0, 1.0, 0.5, 0.2, 0.1])
    vecs = base.astype(np.float32)
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(120)],
        "vec_id long, embedding array<float>",
    )
    w, V, n = pca_basis(df, "embedding", 3)
    assert n == 120 and V.shape == (3, 5)
    q = np.floor(vecs.astype(np.float64) * 10000 + 0.5) / 10000
    cov = np.cov(q, rowvar=False, bias=True)
    wref = np.sort(np.linalg.eigvalsh(cov))[::-1][:3]
    assert np.allclose(w, wref, rtol=1e-9), (w, wref)
    # subspace agreement: |cos| of each component vs numpy's ~ 1
    _, vref = np.linalg.eigh(cov)
    vref = vref[:, ::-1][:, :3].T
    for i in range(3):
        assert abs(float(np.dot(V[i], vref[i]))) > 1 - 1e-9
    # distributed variance of comp 1 == eigenvalue 1
    qdf = spark.createDataFrame(
        [(i, [float(x) for x in q[i]]) for i in range(120)],
        "vec_id long, embedding array<float>",
    )
    comps = pca_project(qdf, "embedding", "vec_id", V[:1]).collect()
    vals = np.array([r.comp for r in comps])
    assert abs(vals.var() - w[0]) < 1e-6 * w[0]


def test_bootstrap_ci_brackets_mean_and_is_stable(spark):
    """The interval must bracket the true quantized mean on symmetric
    data, be invariant under repartitioning, and tighten as n grows."""
    from hive_dwrf_spark.operators.sampling import bootstrap_mean_ci

    rows = [(i, float(50 + (i % 21) - 10)) for i in range(4000)]
    df = spark.createDataFrame(rows, "k long, v double")
    r = bootstrap_mean_ci(df, "v", ["k"], n_replicas=16).collect()[0]
    assert r.b == 16
    true_mean_e4 = 50 * 10000  # symmetric around 50
    assert r.mean_lo_e4 <= true_mean_e4 <= r.mean_hi_e4
    # at B=16 the 5/95 ppm ranks are the extreme replicas, so the interval
    # is the replica-mean range: ~4-6 x the per-replica standard error
    assert r.mean_hi_e4 - r.mean_lo_e4 < 4 * 10000
    r2 = bootstrap_mean_ci(
        df.repartition(9), "v", ["k"], n_replicas=16
    ).collect()[0]
    assert (r2.b, r2.mean_lo_e4, r2.mean_hi_e4) == (
        r.b, r.mean_lo_e4, r.mean_hi_e4,
    )


def test_rate_wilson_ci_brackets_and_edges(spark):
    """Bounds must bracket the rate, match a scipy-free hand formula, and
    stay inside [0, 1] at the k=0 / k=n edges."""
    import math

    from hive_dwrf_spark.operators.curation import rate_wilson_ci

    rows = (
        [("a", 1)] * 30 + [("a", 0)] * 70
        + [("b", 0)] * 50            # k = 0
        + [("c", 1)] * 40            # k = n
    )
    df = spark.createDataFrame(rows, "g string, bad int")
    got = {r.g: r for r in rate_wilson_ci(df, F.col("bad") == 1, ["g"]).collect()}

    def wilson(k, n, z=1.96):
        p = k / n
        denom = 1 + z * z / n
        center = (p + z * z / (2 * n)) / denom
        half = z * math.sqrt(p * (1 - p) / n + z * z / (4 * n * n)) / denom
        return round(center - half, 6), round(center + half, 6)

    for g, (k, n) in {"a": (30, 100), "b": (0, 50), "c": (40, 40)}.items():
        r = got[g]
        assert (r.k, r.n) == (k, n)
        lo, hi = wilson(k, n)
        assert (r.lo, r.hi) == (lo, hi), (g, r.lo, r.hi, lo, hi)
        assert 0.0 <= r.lo <= r.rate <= r.hi <= 1.0


def test_cms_inner_product_upper_bounds_join_size(spark):
    """The sketch estimate must be >= the exact equi-join size, and equal
    it when the key population is far below the bucket count (no
    collisions)."""
    from hive_dwrf_spark.operators.sketch import cms_build, cms_inner_product

    a_rows = [(k,) for k in [1, 1, 1, 2, 2, 3]]
    b_rows = [(k,) for k in [1, 2, 2, 2, 4]]
    a = spark.createDataFrame(a_rows, "k long")
    b = spark.createDataFrame(b_rows, "k long")
    exact = a.join(b, "k").count()  # 3*1 + 2*3 = 9
    assert exact == 9
    est = cms_inner_product(
        cms_build(a, "k", 4, 1024), cms_build(b, "k", 4, 1024)
    ).collect()[0].est
    assert est == 9  # 4 keys in 1024 buckets: no collisions
    # tight width forces collisions: the estimate may only inflate
    est_tight = cms_inner_product(
        cms_build(a, "k", 4, 2), cms_build(b, "k", 4, 2)
    ).collect()[0].est
    assert est_tight >= 9
    # disjoint key sets: if ANY hash row has zero overlapping buckets the
    # min must see it as 0 (rows absent from the overlap join reinstated)
    d = spark.createDataFrame([(100,)], "k long")
    e = spark.createDataFrame([(200,)], "k long")
    est_disjoint = cms_inner_product(
        cms_build(d, "k", 4, 1024), cms_build(e, "k", 4, 1024)
    ).collect()[0].est
    assert est_disjoint == 0
    # MISMATCHED build depths: the row universe derives from the sketches
    # (intersection of row_i), so a deeper sketch on one side can no
    # longer reinstate phantom zero rows and collapse the estimate below
    # truth — the >= bound must hold with depths 2 vs 6
    est_mismatch = cms_inner_product(
        cms_build(a, "k", 2, 1024), cms_build(b, "k", 6, 1024)
    ).collect()[0].est
    assert est_mismatch >= 9
    # an EMPTY side means the true join size is 0 — est must be 0, not
    # NULL (min over an empty row universe is coalesced)
    empty = spark.createDataFrame([], "k long")
    est_empty = cms_inner_product(
        cms_build(a, "k", 4, 1024), cms_build(empty, "k", 4, 1024)
    ).collect()[0].est
    assert est_empty == 0


def test_mad_outliers_empty_input_contract(spark):
    """mad_outliers promises EXACTLY one row; on empty / all-NULL input
    that row is (0, NULL, NULL, 0) rather than an empty frame."""
    from hive_dwrf_spark.operators.sketch import mad_outliers

    empty = spark.createDataFrame([], "v double")
    rows = mad_outliers(empty, "v", 10).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r.n, r.med_est, r.mad_est, r.n_outliers) == (0, None, None, 0)

    all_null = spark.createDataFrame([(None,), (None,)], "v double")
    r2 = mad_outliers(all_null, "v", 10).collect()[0]
    assert (r2.n, r2.med_est, r2.mad_est, r2.n_outliers) == (0, None, None, 0)

    # non-empty input keeps the documented shape and counts
    vals = spark.createDataFrame([(float(x),) for x in
                                  [1, 2, 3, 4, 5, 1000]], "v double")
    r3 = mad_outliers(vals, "v", 1, k=3).collect()[0]
    assert r3.n == 6 and r3.n_outliers >= 1


def test_regex_token_counts_hand_case(spark):
    """Pre-tokenizer counts must match hand tokenization: letter runs,
    digit runs, punctuation runs, optional leading space; whitespace
    itself never counts."""
    from hive_dwrf_spark.operators.text import regex_token_counts

    rows = [
        (1, "hello world"),        # 'hello', ' world'
        (2, "a1b2!"),              # 'a','1','b','2','!'
        (3, "  x  "),              # ' x'
        (4, ""),                   # none
        (5, "don't stop 123"),     # 'don',"'",'t',' stop',' 123'
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r.n_tokens for r in regex_token_counts(df, "text", "doc_id").collect()}
    assert got == {1: 2, 2: 5, 3: 1, 4: 0, 5: 5}, got


def test_mad_outliers_hand_case(spark):
    """Median/MAD estimates and the outlier count must match a hand replay
    on a distribution with one far outlier; NULLs are excluded."""
    from hive_dwrf_spark.operators.sketch import mad_outliers

    vals = [10.0] * 40 + [30.0] * 30 + [50.0] * 29 + [5000.0] + [None]
    df = spark.createDataFrame([(v,) for v in vals], "value double")
    r = mad_outliers(df, "value", 20, k=3).collect()[0]
    # width-20 bins: cnt(bin0)=40 < 50 <= cnt(bin0..1)=70 -> median bin 1,
    # est = upper edge 40 (true median 30, within one bin width)
    assert r.n == 100 and r.med_est == 40
    # deviations |v-40|: 30 rows of 10 and 29 rows of 10 land in bin 0
    # (59 >= 50) -> mad est 20
    assert r.mad_est == 20
    # outliers: dev > 3*20 -> only the 5000 row
    assert r.n_outliers == 1


def test_drift_psi_grouped_matches_per_group_scalar(spark):
    """Each group's PSI must equal running scalar drift_psi on that group
    alone (same bins, same smoothing, same rounding point)."""
    from hive_dwrf_spark.operators.sketch import drift_psi, drift_psi_grouped

    rows_a = [("g1", float(v)) for v in [5, 5, 25]] + [
        ("g2", float(v)) for v in [45, 45, 65, 65]
    ]
    rows_b = [("g1", float(v)) for v in [5, 25, 25]] + [
        ("g2", float(v)) for v in [45, 85, 85, 85]
    ]
    a = spark.createDataFrame(rows_a, "g string, value double")
    b = spark.createDataFrame(rows_b, "g string, value double")
    got = {
        r.g: (r.n_a, r.n_b, r.psi)
        for r in drift_psi_grouped(a, b, "value", 20, ["g"]).collect()
    }
    for g in ("g1", "g2"):
        scalar = (
            drift_psi(a.filter(F.col("g") == g), b.filter(F.col("g") == g),
                      "value", 20)
            .agg(F.round(F.sum("psi_contrib"), 6).alias("s"))
            .collect()[0]
            .s
        )
        # scalar rounds per bin then sums; grouped rounds after the sum —
        # equal within one ulp of the 6-decimal grid
        assert abs(got[g][2] - scalar) <= 2e-6, (g, got[g][2], scalar)
    assert got["g1"][:2] == (3, 3) and got["g2"][:2] == (4, 4)


def test_drift_psi_hand_case_and_null_safety(spark):
    """PSI contributions must match a hand replay, identical snapshots give
    ~zero PSI, and NULL values never enter the bins."""
    import math

    from hive_dwrf_spark.operators.sketch import drift_psi

    a_rows = [(float(v),) for v in [5, 5, 25, 25, 25, 45]] + [(None,)]
    b_rows = [(float(v),) for v in [5, 25, 45, 45, 45, 45]] + [(None,)]
    a = spark.createDataFrame(a_rows, "value double")
    b = spark.createDataFrame(b_rows, "value double")
    got = {r.bin: (r.cnt_a, r.cnt_b, r.psi_contrib)
           for r in drift_psi(a, b, "value", 20).collect()}
    assert set(got) == {0, 1, 2}
    n_a = n_b = 6
    k = 3
    for bin_, (ca, cb) in {0: (2, 1), 1: (3, 1), 2: (1, 4)}.items():
        p = (ca + 1) / (n_a + k)
        q = (cb + 1) / (n_b + k)
        expect = round((p - q) * math.log(p / q), 6)
        assert got[bin_] == (ca, cb, expect), bin_
    same = drift_psi(a, a, "value", 20).agg(
        F.sum("psi_contrib").alias("s")
    ).collect()[0].s
    assert abs(same) < 1e-9


def test_embedding_centroids_exact(spark):
    from hive_dwrf_spark.operators.similarity import embedding_centroids

    df = spark.createDataFrame(
        [
            (0, [1.0, 2.0]),
            (0, [3.0, 4.0]),
            (1, [-1.0, 0.5]),
        ],
        "label int, embedding array<float>",
    )
    got = {(r.label, r.dim): r.centroid for r in embedding_centroids(df, "embedding", "label").collect()}
    assert got[(0, 0)] == 2.0 and got[(0, 1)] == 3.0
    assert got[(1, 0)] == -1.0 and got[(1, 1)] == 0.5
    # order-independence: reversed input partitioning gives identical values
    got2 = {
        (r.label, r.dim): r.centroid
        for r in embedding_centroids(df.repartition(7), "embedding", "label").collect()
    }
    assert got == got2


def test_chunk_documents_windows_and_edges(spark):
    from hive_dwrf_spark.operators.text import chunk_documents

    df = spark.createDataFrame(
        [(1, "a" * 350), (2, "xy"), (3, "")],
        "doc_id bigint, text string",
    )
    out = chunk_documents(df, "text", "doc_id", chunk_size=200, stride=150)
    rows = {(r.doc_id, r.chunk_start): r.chunk_len for r in out.collect()}
    # 350 chars -> starts 1, 151, 301 with lens 200, 200, 50
    assert rows[(1, 1)] == 200 and rows[(1, 151)] == 200 and rows[(1, 301)] == 50
    # short doc: one full-remainder chunk; empty doc: one zero-length chunk
    assert rows[(2, 1)] == 2
    assert rows[(3, 1)] == 0
    assert len(rows) == 5
    import pytest

    with pytest.raises(ValueError):
        chunk_documents(df, "text", "doc_id", chunk_size=0)


def test_temperature_sample_rates_and_determinism(spark):
    from pyspark.sql import functions as F

    from hive_dwrf_spark.operators.sampling import temperature_sample

    df = spark.range(0, 3000).select(
        F.col("id").alias("k"),
        F.when(F.col("id") % 10 < 8, "big").otherwise("small").alias("g"),
    )
    # big: 2400 rows, small: 600 rows; alpha=0 targets uniform -> big kept
    # at rate 600/2400 = 0.25, small kept whole
    out = temperature_sample(df, "g", ["k"], alpha=0.0)
    counts = {r.g: r.n for r in out.groupBy("g").agg(F.count("*").alias("n")).collect()}
    assert counts["small"] == 600
    assert 0.18 * 2400 < counts["big"] < 0.32 * 2400
    # alpha=1 is a no-op
    assert temperature_sample(df, "g", ["k"], alpha=1.0).count() == 3000
    # deterministic under repartitioning
    a = sorted(r.k for r in out.collect())
    b = sorted(r.k for r in temperature_sample(df.repartition(11), "g", ["k"], alpha=0.0).collect())
    assert a == b
    import pytest

    with pytest.raises(ValueError):
        temperature_sample(df, "g", ["k"], alpha=1.5)


def test_scd2_compresses_and_chains(spark):
    from hive_dwrf_spark.operators.events import scd2

    df = spark.createDataFrame(
        [
            (1, "A", 1, 10),
            (1, "A", 2, 11),
            (1, "B", 3, 12),
            (1, "A", 4, 13),
            (2, "C", 1, 14),
        ],
        "user_id bigint, state_in string, ts bigint, event_id bigint",
    )
    out = scd2(df, "user_id", "state_in", "ts", tiebreakers=("event_id",))
    rows = sorted(
        ((r.user_id, r.state, r.valid_from, r.valid_to) for r in out.collect())
    )
    # consecutive A,A compressed; B opens at 3; A reopens at 4 (open-ended)
    assert rows == [
        (1, "A", 1, 3),
        (1, "A", 4, None),
        (1, "B", 3, 4),
        (2, "C", 1, None),
    ]


def test_funnel_requires_order(spark):
    from hive_dwrf_spark.operators.events import funnel

    df = spark.createDataFrame(
        [
            # u1 converts fully in order
            (1, "view", 1.0), (1, "click", 2.0), (1, "purchase", 3.0),
            # u2 clicked before viewing: must not count past step 1
            (2, "click", 1.0), (2, "view", 2.0),
            # u3 views only
            (3, "view", 5.0),
        ],
        "user_id bigint, event_type string, value double",
    ).selectExpr("user_id", "event_type", "timestamp_seconds(value) as ts")
    out = {r.event_type: r.n_users for r in funnel(df, ["view", "click", "purchase"]).collect()}
    assert out == {"view": 3, "click": 1, "purchase": 1}


def test_funnel_ties_and_skipped_steps(spark):
    """Edge cases pinned for the round-12 single-pass funnel rewrite
    (chained window minima): 'at-or-after' means a click at EXACTLY the
    first view's timestamp counts, and a user with purchases but no
    qualifying click must not reach step 3 (t2 is null, so ts >= t2 is
    never true)."""
    from hive_dwrf_spark.operators.events import funnel

    df = spark.createDataFrame(
        [
            # u1: click ties the first view's timestamp -> reaches step 2;
            # purchase ties the click -> reaches step 3
            (1, "view", 1.0), (1, "click", 1.0), (1, "purchase", 1.0),
            # u2: purchases without ever clicking -> stops at step 1
            (2, "view", 1.0), (2, "purchase", 2.0),
            # u3: click before the view, purchase after a later view ->
            # step 1 only (no click at-or-after the first view)
            (3, "click", 1.0), (3, "view", 2.0), (3, "purchase", 3.0),
        ],
        "user_id bigint, event_type string, value double",
    ).selectExpr("user_id", "event_type", "timestamp_seconds(value) as ts")
    out = {r.event_type: r.n_users for r in funnel(df, ["view", "click", "purchase"]).collect()}
    assert out == {"view": 3, "click": 1, "purchase": 1}


def test_zscore_outliers_flags_extremes(spark):
    from hive_dwrf_spark.operators.events import zscore_outliers

    rows = [(i, "a", 10.0) for i in range(100)] + [(100, "a", 500.0)]
    df = spark.createDataFrame(rows, "event_id bigint, event_type string, value double")
    out = zscore_outliers(df, "value", ["event_type"], threshold=2.5).collect()
    assert [r.event_id for r in out] == [100]
    assert out[0].z > 2.5


def test_zorder_prunes_both_columns(spark, tmp_path):
    """Z-order layout must make stride stats selective on EITHER key:
    range-clustering by (a, b) only prunes `a`, the Morton key prunes
    both. Gate: each single-column predicate ships <1/3 of the rows a
    random layout ships, and answers stay identical."""
    import os

    from hive_dwrf_spark.format.reader import DwrfFile
    from hive_dwrf_spark.operators.layout import write_zordered
    from hive_dwrf_spark.sources import register

    register(spark)
    df = spark.sql(
        "SELECT CAST(rand(11) * 100000 AS BIGINT) AS a,"
        "       CAST(rand(13) * 100000 AS BIGINT) AS b, id AS v"
        " FROM range(100000)"
    )
    rnd, zo = str(tmp_path / "rnd"), str(tmp_path / "zo")
    df.coalesce(1).write.format("dwrf").option("path", rnd).option(
        "row_index_stride", "1000"
    ).mode("append").save()
    write_zordered(df, zo, ["a", "b"], n_files=1, row_index_stride="1000")

    def shipped(root, col):
        f = [fn for fn in os.listdir(root) if fn.endswith(".dwrf")][0]
        with DwrfFile(os.path.join(root, f)) as r:
            return r.read(filters=[(col, "gte", 95000)]).num_rows

    for col in ("a", "b"):
        s_rnd, s_zo = shipped(rnd, col), shipped(zo, col)
        assert s_zo < s_rnd / 3, (col, s_zo, s_rnd)
        q = f"{col} >= 95000"
        assert (
            spark.read.format("dwrf").load(rnd).filter(q).count()
            == spark.read.format("dwrf").load(zo).filter(q).count()
        )


def test_zorder_key_deterministic_and_bounded(spark):
    from hive_dwrf_spark.operators.layout import add_zorder_key

    df = spark.createDataFrame(
        [(0, 0), (100, 100), (0, 100), (100, 0), (50, 50)], "x long, y long"
    )
    out = {(r.x, r.y): r.zkey for r in add_zorder_key(df, ["x", "y"], bits=4).collect()}
    # corners: (min,min) -> 0; interleave puts x on even bits, y on odd
    assert out[(0, 0)] == 0
    assert out[(100, 100)] == max(out.values())
    assert all(0 <= z < (1 << 8) for z in out.values())
    # deterministic under repartitioning
    out2 = {
        (r.x, r.y): r.zkey
        for r in add_zorder_key(df.repartition(3), ["x", "y"], bits=4).collect()
    }
    assert out == out2
    import pytest

    with pytest.raises(ValueError):
        add_zorder_key(df, ["x", "y"], bits=40)


def test_simhash_near_pairs_pigeonhole_complete(spark):
    from pyspark.sql import functions as F

    from hive_dwrf_spark.operators.dedup import simhash, simhash_near_pairs

    base = " ".join(f"token{i}" for i in range(80))
    df = spark.createDataFrame(
        [
            (1, base),
            (2, base),  # identical -> hamming 0
            (3, base.replace("token7 ", "tok7x ")),  # near-dup of a long doc
            (4, None),
            (5, ""),
            (6, "completely different content about spark engines"),
        ],
        "doc_id bigint, text string",
    )
    pairs = simhash_near_pairs(df, "text", "doc_id", max_hamming=6, bands=8)
    got = {(r.id1, r.id2): r.hamming for r in pairs.collect()}
    # banded result must equal brute force over nonzero signatures
    sigs = {r.doc_id: r.simhash for r in simhash(df, "text", "doc_id").collect()}
    brute = {}
    ids = [i for i, s in sigs.items() if s != 0]
    for i in ids:
        for j in ids:
            if i < j:
                h = bin((sigs[i] ^ sigs[j]) & ((1 << 64) - 1)).count("1")
                if h <= 6:
                    brute[(i, j)] = h
    assert got == brute
    assert got[(1, 2)] == 0  # identical docs pair at distance zero
    import pytest

    with pytest.raises(ValueError):
        simhash_near_pairs(df, "text", "doc_id", max_hamming=4, bands=4)
    with pytest.raises(ValueError):
        simhash_near_pairs(df, "text", "doc_id", bands=7)


def test_winnow_fingerprints_guarantee(spark):
    """Winnowing guarantee: documents sharing a substring of length
    >= window + k - 1 share at least one fingerprint; short/NULL/empty
    docs produce none; values match a direct python replay."""
    from hive_dwrf_spark.operators.text import winnow_fingerprints

    shared = "a very distinctive common passage of text"
    df = spark.createDataFrame(
        [
            (1, "prefix one " + shared + " suffix alpha"),
            (2, "other start " + shared + " different end"),
            (3, "entirely unrelated words here about engines"),
            (4, "short"),
            (5, None),
            (6, ""),
        ],
        "doc_id bigint, text string",
    )
    by = {}
    for r in winnow_fingerprints(df, "text", "doc_id", k=8, window=4).collect():
        by.setdefault(r.doc_id, set()).add(r.fingerprint)
    assert by[1] & by[2]           # shared passage -> shared fingerprint
    assert not (by[3] & by[1])     # unrelated docs don't collide here
    assert 4 not in by and 5 not in by and 6 not in by
    # python replay of doc 3
    t = "entirely unrelated words here about engines"
    M = (1 << 31) - 1
    hs = [sum(ord(t[i + j]) * 31**j for j in range(8)) % M for i in range(len(t) - 7)]
    assert {min(hs[p : p + 4]) for p in range(len(hs) - 3)} == by[3]
    import pytest

    with pytest.raises(ValueError):
        winnow_fingerprints(df, "text", "doc_id", k=1)


def test_sliding_time_aggregate_range_semantics(spark):
    """RANGE (not ROWS) frame: irregular spacing and timestamp ties must
    contribute symmetrically; events older than the window fall out."""
    from hive_dwrf_spark.operators.events import sliding_time_aggregate

    rows = [
        (1, 1, "2024-01-01 10:00:00", 1.00),
        (2, 1, "2024-01-01 10:30:00", 2.00),
        (3, 1, "2024-01-01 10:30:00", 4.00),   # tie with event 2
        (4, 1, "2024-01-01 11:45:00", 8.00),   # events 1-3 out of window
        (5, 2, "2024-01-01 10:15:00", 16.00),  # other user: independent
    ]
    df = spark.createDataFrame(
        rows, "event_id bigint, user_id bigint, ts string, value double"
    ).selectExpr("event_id", "user_id", "CAST(ts AS TIMESTAMP_NTZ) AS ts", "value")
    out = {
        r.event_id: (r.n_window, r.sum_cents_window)
        for r in sliding_time_aggregate(df, "user_id", "ts", "value", 3600).collect()
    }
    assert out[1] == (1, 100)
    # both tied rows see each other plus event 1
    assert out[2] == (3, 700) and out[3] == (3, 700)
    assert out[4] == (1, 800)
    assert out[5] == (1, 1600)


def test_winnow_pairs_hot_fingerprint_cap(spark):
    """Shared-boilerplate fingerprints above max_df must not create
    pairs; genuinely shared long passages must."""
    from hive_dwrf_spark.operators.text import winnow_pairs

    passage = "an unmistakably shared long passage that repeats verbatim"
    boiler = "standard footer text common to every single document here"
    rows = [(i, f"doc {i} body {boiler}") for i in range(20)]
    rows += [(101, "first " + passage + " tail one"),
             (102, "second " + passage + " tail two")]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    # boilerplate appears in 22 docs > max_df=10 -> capped out; the
    # passage appears in 2 docs -> kept
    pairs = winnow_pairs(df, "text", "doc_id", min_shared=3, max_df=10)
    got = [(r.id1, r.id2) for r in pairs.collect()]
    assert got == [(101, 102)]


def test_source_cap_matches_single_window(spark):
    from pyspark.sql import Window

    from hive_dwrf_spark.operators.curation import source_cap

    # skewed: group "hot" holds 80 of 100 rows, spread over 8 partitions
    rows = [(i, "hot" if i < 80 else f"g{i % 4}", i * 7 % 101) for i in range(100)]
    df = spark.createDataFrame(rows, ["id", "grp", "score"]).repartition(8)
    out = source_cap(df, "grp", [F.desc("score"), F.asc("id")], 5)
    got = sorted((r.grp, r.id) for r in out.collect())
    w = Window.partitionBy("grp").orderBy(F.desc("score"), F.asc("id"))
    naive = (
        df.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .drop("rn")
    )
    want = sorted((r.grp, r.id) for r in naive.collect())
    assert got == want
    per_group = {}
    for g, _ in got:
        per_group[g] = per_group.get(g, 0) + 1
    assert all(v <= 5 for v in per_group.values())


def test_cms_estimate_bounds(spark):
    from hive_dwrf_spark.operators import sketch

    rows = [("a",)] * 50 + [("b",)] * 7 + [(f"x{i}",) for i in range(40)]
    df = spark.createDataFrame(rows, ["tok"])
    # wide sketch: no collisions among ~42 keys, estimates are exact
    cms = sketch.cms_build(df, "tok", depth=4, width=4096)
    est = {
        r.key: r.est
        for r in sketch.cms_estimate(
            cms, ["a", "b", "absent"], depth=4, width=4096
        ).collect()
    }
    assert est["a"] == 50 and est["b"] == 7 and est["absent"] == 0
    # narrow sketch: collisions only ever inflate (one-sided error)
    cms2 = sketch.cms_build(df, "tok", depth=2, width=8)
    est2 = {
        r.key: r.est
        for r in sketch.cms_estimate(cms2, ["a", "b"], depth=2, width=8).collect()
    }
    assert est2["a"] >= 50 and est2["b"] >= 7


def test_validate_rules_null_condition_is_violation(spark):
    """A rule must evaluate TRUE to pass: NULL results (e.g. comparisons
    on NULL values) count as violations, and the sample id is the
    smallest violating id. Rules with zero violations still appear."""
    from pyspark.sql import functions as F

    from hive_dwrf_spark.operators.curation import validate_rules

    df = spark.createDataFrame(
        [(1, 5.0), (2, None), (3, -1.0), (4, 7.0)], ["id", "v"]
    )
    got = {
        r.rule: (r.n_violations, r.sample_id)
        for r in validate_rules(
            df,
            [
                ("v_positive", F.col("v") > 0),  # NULL at id=2 violates
                ("id_positive", F.col("id") > 0),  # holds everywhere
            ],
            "id",
        ).collect()
    }
    assert got["v_positive"] == (2, 2)  # ids 2 (NULL) and 3 (-1)
    assert got["id_positive"] == (0, None)


def test_containment_detects_quote_jaccard_misses(spark):
    """A short doc verbatim inside a long one: containment(src=short)=1.0
    while Jaccard is low — the asymmetric signal the operator exists for.
    The reverse direction (long in short) must NOT fire."""
    from hive_dwrf_spark.operators.dedup import (
        containment_pairs,
        word_jaccard_pairs,
    )

    quote = "the quick brown fox jumps over the lazy dog near the river bank"
    long_doc = (
        "unrelated opening words here " + quote + " and then a very long "
        "tail of completely different material continues for a while with "
        "many extra unique tokens that dilute the union considerably"
    )
    df = spark.createDataFrame(
        [(1, quote), (2, long_doc), (3, "totally different text about ships")],
        ["doc_id", "text"],
    )
    got = {
        (r.src_id, r.dst_id): r.containment
        for r in containment_pairs(
            df, "text", "doc_id", threshold=0.9, gram_len=10
        ).collect()
    }
    assert got.get((1, 2)) == 1.0
    assert (2, 1) not in got and (1, 3) not in got
    # word-level Jaccard at the same bar misses the pair entirely
    jac = word_jaccard_pairs(df, "text", "doc_id", threshold=0.9).collect()
    assert not any({r.id1, r.id2} == {1, 2} for r in jac)


def test_bloom_no_false_negatives_and_absent_mostly_zero(spark):
    from hive_dwrf_spark.operators import sketch

    built = [(f"key{i}",) for i in range(200)]
    df = spark.createDataFrame(built, ["k"])
    bloom = sketch.bloom_build(df, "k", m_bits=65536, k=4)
    # sparse form: at most m/32 words, every word has at least one bit set
    words = bloom.collect()
    assert len(words) <= 65536 // 32
    assert all(w.bits != 0 for w in words)
    # no false negatives: every built key reports maybe_present=1
    probes = spark.createDataFrame(
        built + [(f"absent{i}",) for i in range(200)], ["k"]
    )
    got = {
        r.k: r.maybe_present
        for r in sketch.bloom_check(bloom, probes, "k", m_bits=65536, k=4).collect()
    }
    assert all(got[f"key{i}"] == 1 for i in range(200))
    # 200 keys in 65536 bits -> FPR ~ (1-e^{-4*200/65536})^4 ~ 2e-8; with
    # the deterministic md5 hash family all 200 absent probes come back 0
    absent_hits = sum(got[f"absent{i}"] for i in range(200))
    assert absent_hits == 0
    # tiny filter: false positives appear but never false negatives
    tiny = sketch.bloom_build(df, "k", m_bits=256, k=2)
    got2 = {
        r.k: r.maybe_present
        for r in sketch.bloom_check(tiny, probes, "k", m_bits=256, k=2).collect()
    }
    assert all(got2[f"key{i}"] == 1 for i in range(200))


def test_tfidf_ranks_distinctive_terms(spark):
    from hive_dwrf_spark.operators.text import tfidf_topk

    rows = [
        (1, "common unique"),
        (2, "common common other words"),
        (3, "common filler words here"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    top = {
        r.doc_id: r.token
        for r in tfidf_topk(df, "text", "doc_id", 1).collect()
    }
    # both terms in doc 1 have tf=1, but 'common' is in every doc
    # (idf = ln(4/4)+1 = 1) while 'unique' is in doc 1 only
    # (idf = ln(4/2)+1) - the distinctive term wins
    assert top[1] == "unique"


def test_bigram_lm_repetitive_scores_higher(spark):
    from hive_dwrf_spark.operators.text import bigram_lm_scores

    rows = [
        (1, "the cat sat the cat sat the cat sat the cat sat"),
        (2, "quick brown fox jumps over seven lazy sleeping dogs today"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r.doc_id: (r.n_bigrams, r.lm_score) for r in bigram_lm_scores(
        df, "text", "doc_id"
    ).collect()}
    # doc 1 reuses the same bigrams -> high P(w2|w1); doc 2's bigrams are
    # all singletons over contexts that still appear once -> ln(1/1)=0 only
    # when the context is unique; the repeated doc must not score lower
    assert got[1][0] == 11 and got[2][0] == 9
    assert got[1][1] >= got[2][1]


def test_epoch_shuffle_is_permutation_and_stable(spark):
    from pyspark.sql import Window

    from hive_dwrf_spark.operators.sampling import _hash64, epoch_shuffle

    df = spark.createDataFrame([(i,) for i in range(200)], ["id"])
    out = epoch_shuffle(df.repartition(7), ["id"], seed="e1")
    rows = {r.id: r.train_pos for r in out.collect()}
    assert sorted(rows.values()) == list(range(200))
    # matches the naive single-window global rank
    w = Window.orderBy(_hash64(F.lit("e1"), F.col("id")), "id")
    naive = {
        r.id: r.pos
        for r in df.select(
            "id", (F.row_number().over(w) - 1).alias("pos")
        ).collect()
    }
    assert rows == naive
    # stable under a different input partitioning
    out2 = {r.id: r.train_pos for r in epoch_shuffle(
        df.repartition(3), ["id"], seed="e1"
    ).collect()}
    assert out2 == rows
    # a different seed is a different epoch order
    out3 = {r.id: r.train_pos for r in epoch_shuffle(
        df, ["id"], seed="e2"
    ).collect()}
    assert out3 != rows


def test_bpe_train_merges_known_corpus(spark):
    from hive_dwrf_spark.operators.text import bpe_train_merges

    df = spark.createDataFrame(
        [(1, "low low low lower newest newest")], ["doc_id", "text"]
    )
    got = [
        (r.merge_rank, r.pair, r.cnt)
        for r in bpe_train_merges(df, "text", 3).orderBy("merge_rank").collect()
    ]
    # round 1: 'l o' and 'o w' tie at 4, lexicographic picks 'l o';
    # round 2: 'lo w' at 4; round 3: five pairs tie at 2, 'e s' is minimal
    assert got == [(1, "l o", 4), (2, "lo w", 4), (3, "e s", 2)]


def test_bpe_merge_left_to_right_non_overlapping(spark):
    from hive_dwrf_spark.operators.text import bpe_train_merges

    df = spark.createDataFrame([(1, "aaaa aaaa")], ["doc_id", "text"])
    got = [
        (r.merge_rank, r.pair, r.cnt)
        for r in bpe_train_merges(df, "text", 2).orderBy("merge_rank").collect()
    ]
    # 'a a a a' merges to 'aa aa' (left-to-right, no overlap), so round 2
    # sees the 'aa aa' pair — not 'aa a'
    assert got == [(1, "a a", 6), (2, "aa aa", 2)]


def test_bpe_local_path_matches_distributed(spark):
    """The adaptive driver-local merge rounds must be value-identical to
    the distributed loop — ties, multi-char merges, repeated symbols."""
    from hive_dwrf_spark.operators.text import bpe_train_merges

    df = spark.createDataFrame(
        [
            (1, "low low low lower newest newest widest"),
            (2, "aaaa aaab ab ab ab ba"),
            (3, "zz zz zz yy"),
        ],
        ["doc_id", "text"],
    )
    dist = [
        (r.merge_rank, r.pair, r.cnt)
        for r in bpe_train_merges(df, "text", 4, local_threshold=0)
        .orderBy("merge_rank")
        .collect()
    ]
    local = [
        (r.merge_rank, r.pair, r.cnt)
        for r in bpe_train_merges(df, "text", 4).orderBy("merge_rank").collect()
    ]
    assert dist == local and len(dist) == 4


def test_mixture_sample_budget_and_determinism(spark):
    from hive_dwrf_spark.operators.sampling import mixture_sample

    rows = [(i, "big" if i < 400 else "small") for i in range(440)]
    df = spark.createDataFrame(rows, ["id", "grp"])
    out = mixture_sample(df, "grp", 100.0, ["id"])
    per = {r.grp: r.c for r in out.groupBy("grp").count()
           .withColumnRenamed("count", "c").collect()}
    # big: rate 0.25 -> ~100 expected (downsample); small: rate 2.5 ->
    # everyone gets 2 copies plus ~half get a third -> ~100
    assert 70 <= per["big"] <= 130
    assert 80 <= per["small"] <= 120
    small_reps = (
        out.filter("grp = 'small'").groupBy("id").count().collect()
    )
    assert all(r["count"] in (2, 3) for r in small_reps)
    # deterministic under re-run and repartitioning
    again = mixture_sample(df.repartition(5), "grp", 100.0, ["id"])
    assert sorted((r.id, r.rep) for r in out.collect()) == sorted(
        (r.id, r.rep) for r in again.collect()
    )


def test_hashed_linear_score_deterministic_and_bounded(spark):
    from hive_dwrf_spark.operators.text import hashed_linear_score

    df = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, "omega psi chi phi upsilon")],
        ["doc_id", "text"],
    )
    a = {r.doc_id: (r.n_feats, r.clf_score)
         for r in hashed_linear_score(df, "text", "doc_id").collect()}
    assert a[1][0] == 4 and a[2][0] == 5
    assert all(0.0 < s < 1.0 for _, s in a.values())
    b = {r.doc_id: (r.n_feats, r.clf_score)
         for r in hashed_linear_score(df.repartition(3), "text", "doc_id").collect()}
    assert a == b


def test_hll_partial_merge_vs_exact(spark):
    from hive_dwrf_spark.operators import sketch

    rows = [(f"g{i % 4}", f"k{i % 500}") for i in range(5000)]
    df = spark.createDataFrame(rows, ["grp", "key"])
    sketches = sketch.hll_partial_sketches(df, "grp", "key")
    assert sketches.count() == 4
    est = sketch.hll_merge_estimate(sketches).collect()[0].est
    # 500 true distinct; HLL default accuracy is well inside 5%
    assert abs(est - 500) <= 25


def test_hamming_near_pairs_complete_at_60_bits(spark):
    """Banded join at bits=60/bands=4 must find EXACTLY the brute-force
    pairs at hamming <= 3 (pigeonhole completeness, non-64-bit width)."""
    import itertools
    import random

    from hive_dwrf_spark.operators.dedup import hamming_near_pairs

    rng = random.Random(7)
    base = rng.getrandbits(60)
    hashes = {0: base}
    # neighbors at controlled distances 1..5 plus random far points
    for i, d in enumerate([1, 2, 3, 4, 5], start=1):
        h = base
        for b in rng.sample(range(60), d):
            h ^= 1 << b
        hashes[i] = h
    for i in range(6, 20):
        hashes[i] = rng.getrandbits(60)
    df = spark.createDataFrame(
        [(k, v) for k, v in hashes.items()], ["id", "h"]
    )
    got = sorted(
        (r.id1, r.id2)
        for r in hamming_near_pairs(df, "h", "id", 3, bands=4, bits=60).collect()
    )
    want = sorted(
        (a, b)
        for a, b in itertools.combinations(sorted(hashes), 2)
        if bin(hashes[a] ^ hashes[b]).count("1") <= 3
    )
    assert got == want and (0, 1) in got and (0, 4) not in got


def test_curation_decisions_stable_under_backfill(spark):
    """The incremental-backfill property the curation ops claim: running
    the pipeline on a GROWN corpus must keep every previous decision for
    unchanged rows — survivors stay survivors with identical fields, and
    previously-rejected rows stay out (fingerprint winners can change only
    if a new row with a smaller id and the same content arrives, excluded
    here by construction)."""
    from hive_dwrf_spark.operators.curation import curate

    base_rows = [
        (i, f"doc number {i} " + " ".join(f"w{i}x{j}" for j in range(25)))
        for i in range(100)
    ]
    extra_rows = [
        (1000 + i, f"new doc {i} " + " ".join(f"n{i}y{j}" for j in range(25)))
        for i in range(40)
    ]
    small = spark.createDataFrame(base_rows, ["doc_id", "text"])
    grown = spark.createDataFrame(base_rows + extra_rows, ["doc_id", "text"])
    first = {r.doc_id: (r.fingerprint, r.n_words)
             for r in curate(small, "text", "doc_id").collect()}
    second = {r.doc_id: (r.fingerprint, r.n_words)
              for r in curate(grown, "text", "doc_id").collect()}
    for doc_id, vals in first.items():
        assert second.get(doc_id) == vals  # every old decision preserved
    assert not any(
        d < 1000 and d not in first for d in second
    )  # no previously-rejected old row resurrected


def test_incremental_minhash_only_batch_touching_pairs(spark):
    """Incremental dedup must find batch-vs-corpus and batch-vs-batch
    near-dups but NEVER corpus-vs-corpus — even when the corpus contains
    an undetected near-dup pair of its own."""
    from hive_dwrf_spark.operators.dedup import (
        incremental_minhash_pairs,
        minhash_dedup_pairs,
    )

    base = (
        "the quick brown fox jumps over the lazy dog again and again "
        "while the cat watches from the warm windowsill every day"
    )
    other = (
        "completely different content about spark query engines and "
        "columnar storage formats with dictionaries and stripes"
    )
    corpus = spark.createDataFrame(
        [(1, base), (2, base + " extra"), (3, other)], ["doc_id", "text"]
    )
    batch = spark.createDataFrame(
        [(10, base + " today"), (11, other + " fresh")], ["doc_id", "text"]
    )
    got = sorted(
        (r.id1, r.id2)
        for r in incremental_minhash_pairs(
            corpus, batch, "text", "doc_id", threshold=0.5
        ).collect()
    )
    # full-run pairs on the union, restricted to batch-touching
    full = sorted(
        (r.id1, r.id2)
        for r in minhash_dedup_pairs(
            corpus.unionByName(batch), "text", "doc_id", threshold=0.5
        ).collect()
        if r.id1 >= 10 or r.id2 >= 10
    )
    assert got == full
    assert all(a >= 10 or b >= 10 for a, b in got)
    assert (1, 10) in got and (2, 10) in got  # batch-vs-corpus found
    assert (1, 2) not in got  # the corpus's own near-dup pair excluded


def test_incremental_bucket_cap_star(spark):
    """The candidate cap composes with incremental mode: only pairs
    anchored on each band's elected anchors survive, still restricted
    to batch-touching pairs — a subset of the uncapped incremental set
    that keeps every NEW doc represented."""
    from hive_dwrf_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_signatures,
    )

    text = (
        "identical boilerplate navigation header footer copyright terms "
        "of service privacy policy contact us about careers"
    )
    df = spark.createDataFrame(
        [(i, text, i >= 10) for i in range(20)], ["doc_id", "text", "nw"]
    )
    sigs = minhash_signatures(df.select("doc_id", "text"), "text", "doc_id")
    sigs = sigs.join(df.select("doc_id", "nw"), "doc_id")
    got = {
        (r.id1, r.id2)
        for r in lsh_candidate_pairs(
            sigs, "doc_id", new_col="nw", bucket_cap=1
        ).collect()
    }
    full = {
        (r.id1, r.id2)
        for r in lsh_candidate_pairs(sigs, "doc_id", new_col="nw").collect()
    }
    assert got and got <= full  # capped ⊆ uncapped incremental
    assert all(a >= 10 or b >= 10 for a, b in got)  # batch-touching only
    # every new doc still reaches the candidate set through some anchor
    new_touched = {x for p in got for x in p if x >= 10}
    assert new_touched == set(range(10, 20))


def test_repeated_span_coverage_exact(spark):
    from hive_dwrf_spark.operators.text import repeated_span_coverage

    shared = "X" * 25  # a 25-char run shared verbatim between docs 1 and 2
    rows = [
        (1, shared + " unique tail one aaaaaa"),
        (2, shared + " other ending entirely"),
        (3, "no overlap with anything here at all ok"),
        (4, "short"),  # shorter than the gram: zero windows, not phantom ones
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r.doc_id: (r.n_windows, r.n_dup_windows)
           for r in repeated_span_coverage(df, "text", "doc_id", 20).collect()}
    # the shared 25-char run plus its trailing space give 7 shared
    # 20-grams per doc (6 all-X + one 19-X-then-space)
    assert got[1][1] == 7 and got[2][1] == 7
    assert got[3][1] == 0
    assert got[4] == (0, 0)
    assert got[1][0] == len(rows[0][1]) - 19


def test_dataset_checksum_order_and_partition_invariant(spark):
    from hive_dwrf_spark.operators.curation import dataset_checksum

    rows = [(i, f"s{i % 7}") for i in range(500)]
    a = spark.createDataFrame(rows, ["k", "s"])
    b = spark.createDataFrame(list(reversed(rows)), ["k", "s"]).repartition(13)
    ra = dataset_checksum(a, ["k", "s"]).collect()[0]
    rb = dataset_checksum(b, ["k", "s"]).collect()[0]
    assert (ra.n_rows, ra.checksum) == (rb.n_rows, rb.checksum)
    # any single-row change moves the checksum
    c = spark.createDataFrame(rows[:-1] + [(999, "zz")], ["k", "s"])
    rc = dataset_checksum(c, ["k", "s"]).collect()[0]
    assert rc.checksum != ra.checksum


def test_rolling_active_users_semantics(spark):
    """A user active in hour h must count in windows h, h+1, h+2 — once
    each — and only observed hours appear."""
    import datetime as dt

    from hive_dwrf_spark.operators.events import rolling_active_users

    t0 = dt.datetime(2026, 1, 1, 0, 30)
    rows = [
        (1, t0),                                 # u1 @ 00:xx
        (1, t0 + dt.timedelta(minutes=10)),      # same hour, same user
        (2, t0 + dt.timedelta(hours=1)),         # u2 @ 01:xx
        (1, t0 + dt.timedelta(hours=4)),         # u1 @ 04:xx (gap at 02,03)
    ]
    df = spark.createDataFrame(rows, ["user_id", "ts"])
    got = {r.hour.hour: r.active_users
           for r in rolling_active_users(df, "ts", "user_id", 3).collect()}
    # observed hours: 00, 01, 04. Trailing-3h actives:
    # 00 -> {u1}; 01 -> {u1, u2}; 04 -> {u1} (02/03 not observed, excluded)
    assert got == {0: 1, 1: 2, 4: 1}


def test_gap_fill_daily_forward_fills_gaps(spark):
    """Missing days between a user's first and last activity appear in the
    grid with the previous observed daily total carried forward."""
    import datetime as dt

    from hive_dwrf_spark.operators.events import gap_fill_daily

    d = dt.datetime(2026, 3, 1, 12, 0)
    rows = [
        (1, d, 1.25),                          # Mar 1: 125 cents
        (1, d + dt.timedelta(days=0, hours=3), 0.75),  # Mar 1 again: +75
        (1, d + dt.timedelta(days=3), 10.0),   # Mar 4 (gap Mar 2-3)
        (2, d + dt.timedelta(days=1), 2.0),    # single-day user
    ]
    df = spark.createDataFrame(rows, ["user_id", "ts", "value"])
    got = {
        (r.user_id, str(r.day)): (r.filled_cents, r.is_observed)
        for r in gap_fill_daily(df).collect()
    }
    assert got == {
        (1, "2026-03-01"): (200, True),
        (1, "2026-03-02"): (200, False),
        (1, "2026-03-03"): (200, False),
        (1, "2026-03-04"): (1000, True),
        (2, "2026-03-02"): (200, True),
    }


def test_line_dedup_drops_boilerplate_keeps_order(spark):
    """A chunk shared by >max_df docs is removed from every doc; surviving
    chunks reassemble in original order; an all-boilerplate doc becomes
    the empty string (not a dropped row)."""
    from hive_dwrf_spark.operators.text import line_dedup

    boiler = "x y"                      # 2-word chunk shared by all 3 docs
    rows = [
        (1, f"{boiler} a b"),           # chunks: [x y], [a b]
        (2, f"c d {boiler}"),           # chunks: [c d], [x y]
        (3, boiler),                    # chunks: [x y] only
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {
        r.doc_id: (r.n_total, r.n_kept, r.clean_text)
        for r in line_dedup(df, chunk_words=2, max_df=2).collect()
    }
    assert out == {
        1: (2, 1, "a b"),
        2: (2, 1, "c d"),
        3: (1, 0, ""),
    }


def test_per_source_quality_rank_cut_is_per_source(spark):
    """Each source keeps ceil(20% of its own docs) — a verbose source
    cannot crowd out a terse one; ties break by doc_id."""
    from hive_dwrf_spark.operators.text import per_source_quality_rank

    rows = [(i, "s1", "w " * (100 - i)) for i in range(10)]  # 10 docs
    rows += [(100 + i, "s2", "w") for i in range(3)]         # 3 tied docs
    df = spark.createDataFrame(rows, ["doc_id", "source", "text"])
    out = {r.doc_id: (r.src_rank, r.kept)
           for r in per_source_quality_rank(df, keep_pct=20).collect()}
    # s1: ceil(20%*10)=2 kept -> doc 0, 1 (longest texts)
    assert out[0] == (1, True) and out[1] == (2, True)
    assert not out[2][1] and not out[9][1]
    # s2: ceil(20%*3)=1 kept; all scores tie -> lowest doc_id wins
    assert out[100] == (1, True)
    assert out[101] == (2, False) and out[102] == (3, False)


def test_fuzzy_match_names_blocks_and_verifies(spark):
    """Pairs must share a token AND be within edit distance; a near pair
    with no shared token is (by design) not found; duplicates collapse."""
    from hive_dwrf_spark.operators.text import fuzzy_match_names

    rows = [("red bolt",), ("red bolt",), ("red belt",), ("blue bolt",),
            ("xyz qqq",)]
    df = spark.createDataFrame(rows, ["name"])
    got = {(r.name_a, r.name_b): r.dist
           for r in fuzzy_match_names(df, "name", max_distance=3).collect()}
    # "red belt"/"red bolt": shared token 'red', dist 1 -> found once even
    # though "red bolt" appears twice. "blue bolt"/"red bolt" share 'bolt'
    # but dist("blue","red")=4 exceeds the threshold; "xyz qqq" shares no
    # token with anything and never enters a candidate pair.
    assert got == {("red belt", "red bolt"): 1}


def test_pagerank_fixed_point_star_graph(spark):
    """Hand-computed 2-iteration fixed point on a 3-node star: the center
    splits its rank (floored DIV) between the leaves; every value is exact
    integer arithmetic so the assertion is equality, not tolerance."""
    from hive_dwrf_spark.operators.graph import pagerank_fixed_point

    edges = spark.createDataFrame([(1, 2), (1, 3)], ["src", "dst"])
    got = {r.node: r.rank_fp
           for r in pagerank_fixed_point(edges, iterations=2).collect()}
    # iter1: center gets 150000 + 85%*(1000000+1000000) = 1850000;
    #        leaves get 150000 + 85%*(1000000 DIV 2) = 575000
    # iter2: center gets 150000 + 85%*(575000+575000) = 1127500;
    #        leaves get 150000 + 85%*(1850000 DIV 2) = 936250
    assert got == {1: 1127500, 2: 936250, 3: 936250}
    # the distributed loop (local_threshold=0 forces past the small-graph
    # gate) must produce the identical fixed point
    dist = {
        r.node: r.rank_fp
        for r in pagerank_fixed_point(
            edges, iterations=2, local_threshold=0
        ).collect()
    }
    assert dist == got


def test_triangle_count_known_graphs(spark):
    """Hand-countable graphs: K4 has 4 triangles; adding a pendant edge
    changes nothing; duplicate/reversed edges and self-loops are
    normalized away; a star has none."""
    from hive_dwrf_spark.operators.graph import triangle_count

    k4 = [(a, b) for a in range(4) for b in range(4) if a < b]
    noisy = k4 + [(b, a) for a, b in k4] + [(2, 2), (3, 9)]
    df = spark.createDataFrame(noisy, ["src", "dst"])
    assert triangle_count(df).collect()[0].n_triangles == 4
    star = spark.createDataFrame([(0, i) for i in range(1, 6)], ["src", "dst"])
    assert triangle_count(star).collect()[0].n_triangles == 0


def test_pagerank_local_matches_distributed_random_graph(spark):
    """Path parity on a denser random-ish graph: duplicate-free edge list
    with skewed degrees, 3 iterations, both paths bit-equal."""
    from hive_dwrf_spark.operators.graph import pagerank_fixed_point

    rows = [(i % 23, (i * 7 + 3) % 41 + 100) for i in range(300)]
    edges = spark.createDataFrame(sorted(set(rows)), ["src", "dst"])
    a = {r.node: r.rank_fp
         for r in pagerank_fixed_point(edges, iterations=3).collect()}
    b = {r.node: r.rank_fp
         for r in pagerank_fixed_point(
             edges, iterations=3, local_threshold=0).collect()}
    assert a == b and len(a) > 50


def test_pagerank_dedup_edges_matches_predistincted(spark):
    """dedup_edges=True on a duplicated pair stream must equal the
    default path on the pre-distincted list, on BOTH the local path
    (numpy dedup — packed and row-wise branches) and the distributed
    loop (its own distinct)."""
    from hive_dwrf_spark.operators.graph import (
        _pagerank_local,
        pagerank_fixed_point,
    )

    rows = [(i % 23, (i * 7 + 3) % 41 + 100) for i in range(300)]
    dup = rows + rows[::3] + rows[:40]  # heavy duplication
    dedges = spark.createDataFrame(dup, ["src", "dst"])
    want = {
        r.node: r.rank_fp
        for r in pagerank_fixed_point(
            spark.createDataFrame(sorted(set(rows)), ["src", "dst"]),
            iterations=3,
        ).collect()
    }
    got_local = {
        r.node: r.rank_fp
        for r in pagerank_fixed_point(
            dedges, iterations=3, dedup_edges=True
        ).collect()
    }
    got_dist = {
        r.node: r.rank_fp
        for r in pagerank_fixed_point(
            dedges, iterations=3, local_threshold=0, dedup_edges=True
        ).collect()
    }
    assert got_local == want and got_dist == want
    # row-wise np.unique fallback branch: negative src ids defeat the
    # int64 packing, exercising the np.unique(axis=0) dedup on an
    # isomorphic graph (src shifted by -50)
    import pyarrow as pa

    shifted = [(s - 50, d) for s, d in dup]
    tbl = pa.table(
        {
            "src": pa.array([s for s, _ in shifted], type=pa.int64()),
            "dst": pa.array([d for _, d in shifted], type=pa.int64()),
        }
    )
    got_shift = {
        r.node: r.rank_fp
        for r in _pagerank_local(
            spark, tbl, 3, 1_000_000, 85, dedup=True
        ).collect()
    }
    assert got_shift == {
        (n - 50 if n < 100 else n): v for n, v in want.items()
    }


def test_dataset_diff_classifies_all_four(spark):
    """Constructed snapshots: one removed, one added, one changed payload,
    one untouched — each lands in its own counter."""
    from hive_dwrf_spark.operators.curation import dataset_diff

    v1 = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], ["id", "text"]
    )
    v2 = spark.createDataFrame(
        [(1, "a"), (3, "C"), (4, "d")], ["id", "text"]
    )
    got = {r.status: r.n_rows
           for r in dataset_diff(v1, v2, "id", ["text"]).collect()}
    assert got == {"same": 1, "removed": 1, "changed": 1, "added": 1}


def test_gap_fill_interpolate_exact_linear(spark):
    """A 3-day gap between 100 and 500 cents interpolates to 200/300/400;
    observed days keep their exact sums; floored division on uneven
    spans."""
    import datetime as dt

    from hive_dwrf_spark.operators.events import gap_fill_interpolate

    d = dt.datetime(2026, 3, 1, 8, 0)
    rows = [
        (1, d, 1.00),                         # Mar 1: 100
        (1, d + dt.timedelta(days=4), 5.00),  # Mar 5: 500 (gap 2,3,4)
        (2, d, 1.00),                         # uneven: 100 -> 200 over 3d
        (2, d + dt.timedelta(days=3), 2.00),  # Mar 4; gap days 2,3
    ]
    df = spark.createDataFrame(rows, ["user_id", "ts", "value"])
    got = {(r.user_id, str(r.day)): (r.filled_cents, r.is_observed)
           for r in gap_fill_interpolate(df).collect()}
    assert got[(1, "2026-03-02")] == (200, False)
    assert got[(1, "2026-03-03")] == (300, False)
    assert got[(1, "2026-03-04")] == (400, False)
    assert got[(1, "2026-03-05")] == (500, True)
    # user 2: slope 100/3 -> day2: 100 + 100*1 DIV 3 = 133; day3: 166
    assert got[(2, "2026-03-02")] == (133, False)
    assert got[(2, "2026-03-03")] == (166, False)


def test_semantic_decontaminate_removes_near_probes(spark):
    """A corpus vector parallel to a probe is removed at threshold 0.9;
    an orthogonal one survives."""
    from hive_dwrf_spark.operators.similarity import semantic_decontaminate

    probes = spark.createDataFrame(
        [(100, [1.0, 0.0])], ["vec_id", "embedding"]
    ).withColumn("embedding", F.col("embedding").cast("array<float>"))
    corpus = spark.createDataFrame(
        [(1, [2.0, 0.0]), (2, [0.0, 3.0]), (3, [1.0, 1.0])],
        ["vec_id", "embedding"],
    ).withColumn("embedding", F.col("embedding").cast("array<float>"))
    kept = sorted(
        r.vec_id
        for r in semantic_decontaminate(
            corpus, probes, "embedding", "vec_id", 0.9
        ).collect()
    )
    assert kept == [2, 3]  # cos: v1=1.0 removed, v2=0.0, v3=0.7071 kept


def test_cusum_changepoint_finds_level_shift(spark):
    """A series that jumps from 100 to 500 cents at index 5 (of 10) has its
    CUSUM argmax exactly at the last pre-jump index."""
    import datetime as dt

    from hive_dwrf_spark.operators.events import cusum_changepoint

    t0 = dt.datetime(2026, 5, 1)
    rows = [("a", t0 + dt.timedelta(minutes=i), i,
             1.00 if i < 5 else 5.00) for i in range(10)]
    df = spark.createDataFrame(rows, ["event_type", "ts", "event_id", "value"])
    got = cusum_changepoint(df).collect()
    assert len(got) == 1
    r = got[0]
    # S_5=500, S_n=3000, n=10 -> |10*500 - 5*3000| = 10000 is the max
    assert (r.cp_index, r.d_stat) == (5, 10000)


def test_text_novelty_hot_gram_no_window(spark, tmp_path):
    """Skew safety for text_novelty: 1000 docs all sharing ONE boilerplate
    8-gram. The plan must have NO gram-partitioned Window (which would pin
    every hot-gram row to one task) and a partial aggregate before the gram
    shuffle; the answer stays exact — the min-doc_id owns the gram."""
    boiler = "the quick brown fox jumps over the lazy"
    rows = [(i, f"{boiler} dog{i} " + " ".join(f"w{i}x{j}" for j in range(8)))
            for i in range(1000)]
    import pandas as pd

    pd.DataFrame(rows, columns=["doc_id", "text"]).to_parquet(
        tmp_path / "documents.parquet"
    )
    from hive_dwrf_spark.queries.analytics import text_novelty

    out = text_novelty(spark, str(tmp_path))
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan, "gram-partitioned window reintroduced"
    assert "partial_" in plan or "partial" in plan.lower()
    got = {r.doc_id: (r.n_grams, r.n_novel) for r in out.collect()}
    # each doc: 17 words -> 10 8-grams; only doc 0 owns the boiler gram
    assert got[0] == (10, 10)
    assert got[1] == (10, 9)
    assert got[999] == (10, 9)


def test_dataset_diff_null_payloads(spark):
    """Rows differing only in WHICH payload column is NULL must classify
    as 'changed', not 'same' (concat_ws silently skips NULLs without the
    null sentinel)."""
    from hive_dwrf_spark.operators.curation import dataset_diff

    v1 = spark.createDataFrame(
        [(1, "a", None), (2, "x", "y")], ["id", "c1", "c2"]
    )
    v2 = spark.createDataFrame(
        [(1, None, "a"), (2, "x", "y")], ["id", "c1", "c2"]
    )
    got = {r.status: r.n_rows
           for r in dataset_diff(v1, v2, "id", ["c1", "c2"]).collect()}
    assert got == {"changed": 1, "same": 1}


def test_cusum_statistic_no_int64_wrap(spark):
    """d_stat is computed in decimal(38,0): with group sums near 2^62 the
    bigint cross-product n*s_i would silently wrap; the decimal path keeps
    the argmax exact."""
    import datetime as dt

    from hive_dwrf_spark.operators.events import cusum_changepoint

    t0 = dt.datetime(2026, 5, 1)
    # 40 rows of ~9.2e15 cents each: prefix sums ~3.7e17, n*s_i ~1.5e19 > 2^63
    big = 92_233_720_368_547.0  # -> 9223372036854700 cents
    rows = [("a", t0 + dt.timedelta(minutes=i), i,
             big if i >= 20 else 1.0) for i in range(40)]
    df = spark.createDataFrame(rows, ["event_type", "ts", "event_id", "value"])
    got = cusum_changepoint(df).collect()
    assert len(got) == 1
    # level shift at i=20 -> argmax of |n*S_i - i*S_n| at the last low index
    assert got[0].cp_index == 20
    assert got[0].d_stat > 0


def test_fan_out_gates_on_partition_count(spark):
    """fan_out repartitions a single-split input to the default parallelism
    and is a NO-OP (same plan, no added exchange) when the input already
    arrives in enough partitions — the production case at scale."""
    from hive_dwrf_spark.tables import fan_out

    par = spark.sparkContext.defaultParallelism
    narrow = spark.range(0, 1000, 1, 1).withColumnRenamed("id", "k")
    wide = spark.range(0, 1000, 1, par).withColumnRenamed("id", "k")

    fanned = fan_out(narrow, "k")
    assert fanned.rdd.getNumPartitions() == par
    # values survive the hash exchange
    assert sorted(r.k for r in fanned.collect()) == list(range(1000))

    untouched = fan_out(wide, "k")
    assert untouched is wide  # no-op: not even a new plan node


def test_reservoir_take_exact_k_and_stable(spark):
    """Exactly min(k, N) rows, identical pick under repartitioning — the
    determinism contract that makes the sample replayable after a backfill."""
    from hive_dwrf_spark.operators.sampling import reservoir_take

    df = spark.range(0, 500, 1, 4).withColumnRenamed("id", "k")
    a = sorted(r.k for r in reservoir_take(df, 50, ["k"]).collect())
    b = sorted(r.k for r in reservoir_take(df.repartition(13), 50, ["k"]).collect())
    assert len(a) == 50
    assert a == b
    # k > N clamps to N
    tiny = spark.range(0, 7).withColumnRenamed("id", "k")
    assert reservoir_take(tiny, 50, ["k"]).count() == 7


def test_quantile_sketch_error_within_one_bin(spark):
    """Estimates from the bin sketch land within one bin width of the exact
    quantile, and two shard sketches merged by summing equal the whole-data
    sketch (the mergeability contract)."""
    from hive_dwrf_spark.operators.sketch import (
        quantile_bin_sketch,
        quantile_from_bins,
    )

    vals = list(range(1000))  # uniform 0..999
    df = spark.createDataFrame([(v,) for v in vals], "v int")
    width = 16
    bins = quantile_bin_sketch(df, "v", width)
    est = {
        r.q_ppm: r.est
        for r in quantile_from_bins(bins, width, [500_000, 990_000]).collect()
    }
    for q_ppm, exact in [(500_000, 499), (990_000, 989)]:
        assert abs(est[q_ppm] - exact) <= width, (q_ppm, est[q_ppm], exact)

    # mergeability: shard sketches summed per-bin == whole-data sketch
    left = quantile_bin_sketch(df.filter("v % 2 = 0"), "v", width)
    right = quantile_bin_sketch(df.filter("v % 2 = 1"), "v", width)
    merged = (
        left.unionByName(right)
        .groupBy("bin")
        .agg(F.sum("cnt").alias("cnt"))
    )
    whole = {(r.bin, r.cnt) for r in bins.collect()}
    assert {(r.bin, r.cnt) for r in merged.collect()} == whole


def test_compaction_plan_groups_near_target(spark):
    """Every file appears exactly once; group ids are dense from 0; no group
    except possibly those holding a single oversized file exceeds
    target + max_small_file (the next-fit-decreasing bound)."""
    from hive_dwrf_spark.operators.layout import compaction_plan

    sizes = [900, 700, 400, 300, 250, 200, 120, 80, 60, 40, 30, 10]
    inv = spark.createDataFrame(
        [(f"f{i}", s) for i, s in enumerate(sizes)], "path string, bytes long"
    )
    plan = compaction_plan(inv, "bytes", 1000, id_cols=["path"]).collect()
    assert sorted(r.path for r in plan) == sorted(f"f{i}" for i in range(len(sizes)))
    groups: dict[int, list[int]] = {}
    for r in plan:
        groups.setdefault(r.grp, []).append(r.bytes)
    assert min(groups) == 0
    for g, members in groups.items():
        # sequential fill: a group only exceeds target by the overhang of
        # its last file, so total < target + max(member)
        assert sum(members) < 1000 + max(members), (g, members)


def test_budget_select_fills_budget_exactly_by_score(spark):
    """Whole high-score bins in, boundary bin partially by hash order, total
    tokens <= budget, and nothing lower-scored than an excluded row is in."""
    from hive_dwrf_spark.operators.curation import budget_select

    rows = [(i, 10 - (i % 5), 100) for i in range(50)]  # 5 score bins x 10 docs
    df = spark.createDataFrame(rows, "doc_id long, s long, tok long")
    # bins: s=10,9,8,7,6 each 1000 tokens. budget 2500 -> bins 10,9 whole,
    # bin 8 contributes 5 docs (500 tokens)
    sel = budget_select(df, "s", "tok", 2500, ["doc_id"]).collect()
    assert sum(r.tok for r in sel) == 2500
    by_s = {}
    for r in sel:
        by_s.setdefault(r.s, []).append(r.doc_id)
    assert len(by_s[10]) == 10 and len(by_s[9]) == 10
    assert len(by_s[8]) == 5
    assert 7 not in by_s and 6 not in by_s
    # determinism under repartitioning
    sel2 = budget_select(df.repartition(7), "s", "tok", 2500, ["doc_id"]).collect()
    assert sorted(r.doc_id for r in sel2) == sorted(r.doc_id for r in sel)


def test_budget_select_no_boundary_when_exact_fit(spark):
    from hive_dwrf_spark.operators.curation import budget_select

    df = spark.createDataFrame(
        [(1, 2, 100), (2, 1, 100)], "doc_id long, s long, tok long"
    )
    got = sorted(r.doc_id for r in budget_select(df, "s", "tok", 100, ["doc_id"]).collect())
    assert got == [1]


def test_budget_select_null_scores_never_selected(spark):
    """NULL-scored rows must not enter the histogram (they can never match
    the semi/inner bin joins, so counting them would underfill the budget
    if the NULL bin became the boundary bin)."""
    from hive_dwrf_spark.operators.curation import budget_select

    rows = [(1, 5, 100), (2, None, 100), (3, 4, 100), (4, None, 1000)]
    df = spark.createDataFrame(rows, "doc_id long, s long, tok long")
    sel = budget_select(df, "s", "tok", 200, ["doc_id"]).collect()
    assert sorted(r.doc_id for r in sel) == [1, 3]
    assert sum(r.tok for r in sel) == 200


def test_interval_overlap_join_rejects_colliding_names(spark):
    import pytest

    from hive_dwrf_spark.operators.rangejoin import interval_overlap_join

    a = spark.createDataFrame([(1, 0, 10)], "id long, lo long, hi long")
    # a left column that equals a suffixed right column name
    a_bad = a.withColumn("lo_r", F.lit(0))
    b = spark.createDataFrame([(2, 5, 15)], "id long, lo long, hi long")
    with pytest.raises(ValueError, match="collision"):
        interval_overlap_join(a_bad, b, "lo", "hi", 10)
    # a caller frame already using the temp bucket name
    a_bkt = a.withColumn("__bkt", F.lit(0))
    with pytest.raises(ValueError, match="collision"):
        interval_overlap_join(a_bkt, b, "lo", "hi", 10)
    # a different suffix resolves the first collision
    got = interval_overlap_join(a_bad, b, "lo", "hi", 10, suffix="_b").collect()
    assert len(got) == 1


def test_gram_pairs_matches_numpy_and_merges(spark):
    import numpy as np

    from hive_dwrf_spark.operators.similarity import gram_pairs

    rng = np.random.default_rng(7)
    vecs = rng.uniform(-1, 1, size=(40, 5)).astype(np.float32)
    rows = [(i, [float(x) for x in vecs[i]]) for i in range(40)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = {
        (r.i, r.j): (r.n, r.s_e8)
        for r in gram_pairs(df, "embedding").collect()
    }
    q = np.floor(vecs.astype(np.float64) * 10000 + 0.5).astype(np.int64)
    g = q.T @ q
    for i in range(5):
        for j in range(i, 5):
            assert got[(i + 1, j + 1)] == (40, g[i, j])
    # mergeable: partials of any partitioning sum to the same matrix
    got2 = {
        (r.i, r.j): (r.n, r.s_e8)
        for r in gram_pairs(df.repartition(9), "embedding").collect()
    }
    assert got2 == got


def test_inverted_index_gate_and_tie_order(spark):
    from hive_dwrf_spark.operators.text import inverted_index

    rows = [
        (1, "apple apple banana"),
        (2, "apple banana banana"),
        (3, "apple cherry"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = [
        (r.token, r.rnk, r.doc_id, r.n_tf)
        for r in inverted_index(df, "text", "doc_id", min_df=2, k=2)
        .orderBy("token", "rnk")
        .collect()
    ]
    # cherry (df=1) gated out; apple tie at tf=1 breaks by doc_id asc
    assert got == [
        ("apple", 1, 1, 2),
        ("apple", 2, 2, 1),
        ("banana", 1, 2, 2),
        ("banana", 2, 1, 1),
    ]


def test_interval_overlap_join_matches_plain_and_no_dupes(spark):
    """The bucketed equi-join must equal the plain quadratic overlap join
    pair-for-pair (no dupes from multi-bucket overlaps, no losses at bucket
    boundaries), across bucket widths smaller and larger than intervals."""
    import random

    from hive_dwrf_spark.operators.rangejoin import interval_overlap_join

    rng = random.Random(11)
    a_rows = []
    b_rows = []
    for i in range(120):
        lo = rng.randrange(0, 5000)
        a_rows.append((i, lo, lo + rng.randrange(0, 400)))
        lo = rng.randrange(0, 5000)
        b_rows.append((1000 + i, lo, lo + rng.randrange(0, 400)))
    a = spark.createDataFrame(a_rows, "id long, lo long, hi long")
    b = spark.createDataFrame(b_rows, "id long, lo long, hi long")
    plain = sorted(
        (x[0], y[0])
        for x in a_rows
        for y in b_rows
        if x[1] <= y[2] and y[1] <= x[2]
    )
    for bw in (100, 350, 10_000):
        got = sorted(
            (r.id, r.id_r)
            for r in interval_overlap_join(a, b, "lo", "hi", bw).collect()
        )
        assert got == plain, f"bw={bw}: {len(got)} vs {len(plain)}"


def test_quantile_sketch_grouped_partitions_independently(spark):
    """Per-group estimates equal running the scalar sketch per group."""
    from hive_dwrf_spark.operators.sketch import (
        quantile_bin_sketch,
        quantile_from_bins,
    )

    rows = [("a", v) for v in range(100)] + [("b", v) for v in range(0, 1000, 10)]
    df = spark.createDataFrame(rows, "g string, v int")
    got = {
        (r.g, r.q_ppm): r.est
        for r in quantile_from_bins(
            quantile_bin_sketch(df, "v", 8, group_cols=["g"]),
            8,
            [500_000],
            group_cols=["g"],
        ).collect()
    }
    for g in ("a", "b"):
        solo = quantile_from_bins(
            quantile_bin_sketch(df.filter(F.col("g") == g), "v", 8), 8, [500_000]
        ).collect()[0]
        assert got[(g, 500_000)] == solo.est


def test_label_propagation_two_triangles_with_bridge(spark):
    """Synchronous LPA with (count desc, label asc) tie-break, verified
    against hand-computed rounds on two triangles joined by a bridge."""
    from hive_dwrf_spark.operators.graph import label_propagation

    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (0, 2), (10, 11), (11, 12), (10, 12), (2, 10)],
        "src long, dst long",
    )
    # round 1: 0->1, 1->0, 2->0, 10->2, 11->10, 12->10
    # round 2: 0->0, 1->0 (tie 0/1), 2->0, 10->10 (count 2), 11->2, 12->2
    got = {r.node: r.label for r in label_propagation(edges, rounds=2).collect()}
    assert got == {0: 0, 1: 0, 2: 0, 10: 10, 11: 2, 12: 2}
    # determinism under repartitioning
    got2 = {
        r.node: r.label
        for r in label_propagation(edges.repartition(5), rounds=2).collect()
    }
    assert got2 == got


def test_quantile_sketch_property_random(spark):
    """Property: for random integer data and bin widths, every estimate is
    within one bin width of the true quantile, and the reported n equals
    the row count. (Deterministic seeds; a full hypothesis @given would
    rebuild Spark frames per example — too slow for the suite.)"""
    import random

    from hive_dwrf_spark.operators.sketch import (
        quantile_bin_sketch,
        quantile_from_bins,
    )

    for seed in (3, 17, 251):
        rng = random.Random(seed)
        n = rng.randrange(50, 400)
        width = rng.choice([1, 3, 16, 97])
        vals = sorted(rng.randrange(-1000, 1000) for _ in range(n))
        df = spark.createDataFrame([(v,) for v in vals], "v long")
        q_ppms = [250_000, 500_000, 900_000]
        got = {
            r.q_ppm: (r.n, r.est)
            for r in quantile_from_bins(
                quantile_bin_sketch(df, "v", width), width, q_ppms
            ).collect()
        }
        import math

        for q in q_ppms:
            n_got, est = got[q]
            assert n_got == n
            # true quantile: smallest v with rank*1e6 >= q*n
            k = math.ceil(q * n / 1_000_000)
            true_v = vals[k - 1]
            assert abs(est - true_v) <= width, (seed, q, est, true_v, width)


def test_budget_select_property_random(spark):
    """Property: selection never exceeds the budget; it is maximal w.r.t.
    the (score desc, hash asc) order — no unselected row could be added
    without either exceeding the budget or outranking a selected row."""
    import random

    from hive_dwrf_spark.operators.curation import budget_select

    for seed in (5, 42):
        rng = random.Random(seed)
        rows = [
            (i, rng.randrange(0, 6), rng.randrange(1, 50))
            for i in range(150)
        ]
        df = spark.createDataFrame(rows, "doc_id long, s long, tok long")
        total = sum(t for _, _, t in rows)
        budget = rng.randrange(total // 4, (3 * total) // 4)
        sel = budget_select(df, "s", "tok", budget, ["doc_id"]).collect()
        picked = {r.doc_id for r in sel}
        assert sum(r.tok for r in sel) <= budget
        by_id = {i: (s, t) for i, s, t in rows}
        # every unselected row's score bin is <= the boundary: no row with a
        # strictly higher score than some unselected-bin row is left out
        if picked != set(by_id):
            max_unpicked_s = max(by_id[i][0] for i in by_id if i not in picked)
            min_picked_s = min(by_id[i][0] for i in picked) if picked else None
            if min_picked_s is not None:
                assert min_picked_s >= max_unpicked_s, (
                    seed,
                    min_picked_s,
                    max_unpicked_s,
                )


class TestResolveBroadcastGate:
    """resolve_duplicates' loser list is output-sized, not bounded: the
    broadcast is gated on an actual row count (SPARK_GRAFT_BROADCAST_IDS_MAX),
    falling back to a shuffled anti-join above it — values identical."""

    def _frames(self, spark):
        df = spark.createDataFrame(
            [(i, f"d{i}") for i in range(20)], "doc_id long, text string"
        )
        pairs = spark.createDataFrame(
            [(i, i + 10) for i in range(10)], "id1 long, id2 long"
        )
        return df, pairs

    def test_gate_disables_broadcast(self, spark, monkeypatch):
        from hive_dwrf_spark.operators import dedup

        df, pairs = self._frames(spark)
        monkeypatch.setenv("SPARK_GRAFT_BROADCAST_IDS_MAX", "0")
        out = dedup.resolve_duplicates(df, pairs, "doc_id")
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" not in plan
        assert sorted(r.doc_id for r in out.collect()) == list(range(10))

    def test_gate_broadcasts_small_lists(self, spark, monkeypatch):
        from hive_dwrf_spark.operators import dedup

        df, pairs = self._frames(spark)
        monkeypatch.setenv("SPARK_GRAFT_BROADCAST_IDS_MAX", "5000000")
        out = dedup.resolve_duplicates(df, pairs, "doc_id")
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "Broadcast" in plan
        assert sorted(r.doc_id for r in out.collect()) == list(range(10))


# -- every driver-local gate, both branches ----------------------------------
#
# Each gate sizes and fetches its frame through util.collect_bounded. A
# site is (runner, gate measure, inputs): run(spark, monkeypatch, rows,
# limit) returns the site's result with its gate at `limit`, where 0
# forces the distributed branch; size(spark, rows) is what the gate
# compares with the limit.


def _pairs(spark, rows):
    return spark.createDataFrame(rows, "id1 long, id2 long")


def _run_cc(spark, monkeypatch, rows, limit):
    from hive_dwrf_spark.operators.dedup import connected_components

    return connected_components(_pairs(spark, rows), local_threshold=limit)


def _size_cc(spark, rows):
    return len({(a, b) for a, b in rows} | {(b, a) for a, b in rows})


def _size_cc_rest(spark, rows):
    """Live edges after the loop's first contraction: the contracted
    remainder's gate, which the first gate (all edges) then turns away."""
    from hive_dwrf_spark.operators.dedup import connected_components

    times: list = []
    connected_components(_pairs(spark, rows), local_threshold=0, iter_times=times)
    return times[0][1]


def _run_resolve(spark, monkeypatch, rows, limit):
    from hive_dwrf_spark.operators.dedup import resolve_duplicates
    from hive_dwrf_spark.operators.util import local_frame

    docs = local_frame(
        spark,
        [(i, f"d{i}") for i in range(24)] + [(None, "dn")],
        "doc_id long, text string",
    )
    monkeypatch.setenv("SPARK_GRAFT_BROADCAST_IDS_MAX", str(limit))
    return resolve_duplicates(docs, _pairs(spark, rows), "doc_id")


def _size_resolve(spark, rows):
    from hive_dwrf_spark.operators.dedup import connected_components

    labels = connected_components(_pairs(spark, rows))
    return labels.filter(F.col("component") != F.col("node")).count()


def _run_pagerank(spark, monkeypatch, rows, limit):
    from hive_dwrf_spark.operators.graph import pagerank_fixed_point

    edges = spark.createDataFrame(rows, "src long, dst long")
    return pagerank_fixed_point(edges, iterations=2, local_threshold=limit)


def _run_kmeans(spark, monkeypatch, rows, limit):
    from hive_dwrf_spark.operators.similarity import kmeans_lloyd

    _set_gate(monkeypatch, str(limit))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    return kmeans_lloyd(df, "embedding", "vec_id", k=2, rounds=2)


def _run_bpe(spark, monkeypatch, rows, limit):
    from hive_dwrf_spark.operators.text import bpe_train_merges

    df = spark.createDataFrame(rows, "doc_id long, text string")
    return bpe_train_merges(df, "text", 3, local_threshold=limit)


_CC_ROWS = {
    "base": [(1, 2), (2, 3), (3, 4), (10, 11), (21, 20), (21, 22)],
    # a NULL endpoint connects nothing; its partner is still a node
    "null_ids": [(1, 2), (2, 3), (None, 5), (5, 6), (7, None), (8, 9),
                 (None, None)],
    "empty": [],
}
# a path whose ids are shuffled: hash-min leaves many local minima, so
# the first contraction keeps live edges for the remainder's gate
_PATH = [17, 3, 29, 8, 40, 1, 33, 12, 25, 6, 38, 20, 14, 31, 9, 27]
_CC_REST_ROWS = {
    "base": list(zip(_PATH, _PATH[1:])),
    "null_ids": list(zip(_PATH, _PATH[1:])) + [(None, 3), (50, None)],
    "empty": [],
}
_GATE_SITES = {
    "connected_components": (_run_cc, _size_cc, _CC_ROWS),
    "connected_components_remainder": (_run_cc, _size_cc_rest, _CC_REST_ROWS),
    "resolve_duplicates_broadcast_ids": (_run_resolve, _size_resolve, {
        "base": [(i, i + 10) for i in range(10)] + [(3, 22)],
        "null_ids": [(i, i + 10) for i in range(4)] + [(None, 5), (6, None)],
        "empty": [],
    }),
    "pagerank_fixed_point": (_run_pagerank, lambda spark, rows: 2 * len(rows), {
        "base": [(1, 2), (1, 3), (2, 3), (3, 4), (5, 6)],
        # 3 also hears from 2, so it sends NULL its share in round 2; 5 and
        # 7 hear only from NULL, which never sends, and drop out
        "null_ids": [(1, 2), (2, 3), (3, None), (None, 5), (7, None),
                     (None, None), (8, 9)],
        "empty": [],
    }),
    "kmeans_lloyd": (
        _run_kmeans,
        lambda spark, rows: sum(len(v) for _, v in rows if v is not None),
        {
            "base": [(0, [0.0, 0.0]), (1, [4.0, 4.0]), (2, [0.5, 0.0]),
                     (3, [4.5, 4.0]), (4, [1.0, 1.0])],
            # a NULL id sends the corpus to the loop; a NULL vector is
            # dropped on both branches
            "null_ids": [(0, [0.0, 0.0]), (None, [4.0, 4.0]), (2, [0.5, 0.0]),
                         (3, [4.5, 4.0]), (4, None)],
            "empty": [],
        },
    ),
    "bpe_train_merges": (
        _run_bpe,
        lambda spark, rows: len(
            {w for _, t in rows if t for w in t.lower().split(" ") if w}
        ),
        {
            "base": [(1, "low low low lower newest newest"), (2, "aaaa ab ab")],
            "null_ids": [(None, "low lower"), (2, None), (3, "newest low")],
            "empty": [],
        },
    ),
}

# Spark jobs each gated call started before the sites shared
# collect_bounded, counted the same way. NULL ids then raised TypeError in
# connected_components' local branch, directly or inside
# resolve_duplicates; those cases take the base input's bound.
_JOBS_BEFORE = {
    ("bpe_train_merges", "at_limit"): 5,
    ("bpe_train_merges", "over_limit"): 14,
    ("bpe_train_merges", "null_ids"): 5,
    ("bpe_train_merges", "empty"): 4,
    ("connected_components", "at_limit"): 5,
    ("connected_components", "over_limit"): 34,
    ("connected_components", "null_ids"): 5,
    ("connected_components", "empty"): 4,
    ("connected_components_remainder", "at_limit"): 21,
    ("connected_components_remainder", "over_limit"): 35,
    ("connected_components_remainder", "null_ids"): 21,
    ("connected_components_remainder", "empty"): 4,
    ("kmeans_lloyd", "at_limit"): 3,
    ("kmeans_lloyd", "over_limit"): 11,
    ("kmeans_lloyd", "null_ids"): 13,
    ("kmeans_lloyd", "empty"): 2,
    ("pagerank_fixed_point", "at_limit"): 4,
    ("pagerank_fixed_point", "over_limit"): 13,
    ("pagerank_fixed_point", "null_ids"): 4,
    ("pagerank_fixed_point", "empty"): 4,
    ("resolve_duplicates_broadcast_ids", "at_limit"): 8,
    ("resolve_duplicates_broadcast_ids", "over_limit"): 8,
    ("resolve_duplicates_broadcast_ids", "null_ids"): 8,
    ("resolve_duplicates_broadcast_ids", "empty"): 5,
}


@pytest.mark.parametrize("case", ["at_limit", "over_limit", "null_ids", "empty"])
@pytest.mark.parametrize("site", sorted(_GATE_SITES))
def test_gate_site_branches_agree(spark, monkeypatch, site, case):
    """Every driver-local gate returns the distributed branch's rows at its
    limit, one over it, with NULL ids and on empty input; takes the local
    branch exactly at the limit; starts no more Spark jobs than before;
    and leaves no cached frame behind."""
    run, size, inputs = _GATE_SITES[site]
    monkeypatch.delenv("SPARK_GRAFT_CC_LOCAL_THRESHOLD", raising=False)
    rows = inputs["base" if case.endswith("limit") else case]
    n = size(spark, rows)
    limit = n - 1 if case == "over_limit" else max(n, 1)
    sc = spark.sparkContext

    def cached():  # a cached frame's RDD is named after its plan
        return {k for k, r in sc._jsc.getPersistentRDDs().items() if r.name()}

    before = cached()
    group = f"gate-{site}-{case}"
    sc.setJobGroup(group, group)
    try:
        gated = run(spark, monkeypatch, rows, limit)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert cached() <= before
    if case.endswith("limit") and site != "connected_components_remainder":
        assert _is_local(gated) is (case == "at_limit")
    got = sorted(map(tuple, gated.collect()), key=repr)
    want = sorted(map(tuple, run(spark, monkeypatch, rows, 0).collect()), key=repr)
    assert got == want
    assert jobs <= _JOBS_BEFORE[site, case], jobs

"""§2.D north-star pipeline queries: dedup, similarity search, text
analysis, multimodal — each driving the operators/ implementations.
All carry DuckDB oracles: MinHash/SimHash/ANN replay their fixed hash
constants exactly in SQL, and the genuinely approximate ops (HLL counts,
IVF recall) are gated on pinned accuracy contracts instead."""

from __future__ import annotations

from pyspark.sql import functions as F

from ..operators import dedup, multimodal, sampling, similarity, text
from ..operators.util import local_frame
from ..tables import fan_out, load
from . import ORACLE, query

# --- deduplication -----------------------------------------------------------


@query(
    "dedup_exact",
    # value displayed in fixed-point e4 units: floor(x*1e4+0.5) is the same
    # IEEE-754 expression in both engines (no rounding-tie divergence)
    oracle="""
    SELECT user_id, event_type, event_id,
           CAST(floor(value * 10000 + 0.5) AS BIGINT) AS value_e4
    FROM (SELECT *, row_number() OVER (PARTITION BY user_id, event_type
                                       ORDER BY event_id) AS rn
          FROM events) t
    WHERE rn = 1
    ORDER BY user_id, event_type
    """,
)
def dedup_exact(spark, sf_dir):
    e = load(spark, sf_dir, "events")
    deduped = dedup.exact_dedup(e, keys=["user_id", "event_type"], order_by="event_id")
    return deduped.select(
        "user_id",
        "event_type",
        "event_id",
        F.floor(F.col("value") * 10000 + 0.5).alias("value_e4"),
    ).orderBy("user_id", "event_type")


@query(
    "dedup_fingerprint",
    oracle="""
    SELECT doc_id,
           md5(lower(regexp_replace(text, '\\s+', ' ', 'g'))) AS fingerprint
    FROM documents
    ORDER BY doc_id
    LIMIT 200
    """,
)
def dedup_fingerprint(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    return (
        dedup.content_fingerprint(d, "text")
        .select("doc_id", "fingerprint")
        .orderBy("doc_id")
        .limit(200)
    )


@query(
    "dedup_jaccard",
    oracle="""
    WITH words AS (
      SELECT DISTINCT doc_id, w
      FROM (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w
            FROM documents) t
      WHERE w <> ''
    ), sizes AS (
      SELECT doc_id, count(*) AS sz FROM words GROUP BY doc_id
    ), inter AS (
      SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS inter
      FROM words a JOIN words b ON a.w = b.w AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT id1, id2,
           round(inter / (s1.sz + s2.sz - inter), 6) AS jaccard
    FROM inter
    JOIN sizes s1 ON s1.doc_id = id1
    JOIN sizes s2 ON s2.doc_id = id2
    WHERE round(inter / (s1.sz + s2.sz - inter), 6) >= 0.5
    ORDER BY id1, id2
    """,
)
def dedup_jaccard(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    return dedup.word_jaccard_pairs(d, "text", "doc_id", threshold=0.5).orderBy(
        "id1", "id2"
    )


@query(
    "dedup_containment",
    oracle="""
    WITH g AS (
      SELECT doc_id, md5_number_upper(substr(text, CAST(p AS INTEGER), 20)) AS w
      FROM documents,
           LATERAL unnest(generate_series(1, greatest(length(text) - 19, 0)))
             AS t(p)
    ), words AS (SELECT DISTINCT doc_id, w FROM g),
    sizes AS (SELECT doc_id, count(*) AS sz FROM words GROUP BY 1),
    dfreq AS (SELECT w, count(*) AS df FROM words GROUP BY 1),
    pref AS (
      SELECT doc_id, w FROM (
        SELECT words.doc_id, words.w, dfreq.df, sizes.sz,
               row_number() OVER (PARTITION BY words.doc_id
                                  ORDER BY dfreq.df, words.w) AS rnk
        FROM words JOIN dfreq USING (w) JOIN sizes USING (doc_id)) x
      WHERE rnk <= sz - ceil(0.5 * sz) + 1 AND df <= 1000
    ), live AS (
      SELECT doc_id, w FROM words JOIN dfreq USING (w) WHERE df <= 1000
    ), cand AS (
      SELECT DISTINCT p.doc_id AS src_id, b.doc_id AS dst_id
      FROM pref p JOIN live b USING (w) WHERE p.doc_id <> b.doc_id
    ), inter AS (
      SELECT c.src_id, c.dst_id, count(*) AS i
      FROM cand c
      JOIN words a ON a.doc_id = c.src_id
      JOIN words b ON b.doc_id = c.dst_id AND b.w = a.w
      GROUP BY 1, 2
    )
    SELECT src_id, dst_id, round(i * 1.0 / sizes.sz, 6) AS containment
    FROM inter JOIN sizes ON sizes.doc_id = inter.src_id
    WHERE round(i * 1.0 / sizes.sz, 6) >= 0.5
    ORDER BY src_id, dst_id
    """,
)
def dedup_containment(spark, sf_dir):
    """Directed shingle-containment pairs (operators/dedup.py::
    containment_pairs): |src ∩ dst| / |src| >= 0.5 over distinct 20-char
    gram md5s — the asymmetric quote/superset signal Jaccard misses. The
    prefix filter bounds src-side candidates, the df cap (dedup_winnow's
    remedy) bounds the dst-side hot-gram groups, and the exact
    intersection verifies candidates only; the oracle replays prefix, cap,
    candidates, and verify."""
    d = load(spark, sf_dir, "documents")
    return dedup.containment_pairs(
        d, "text", "doc_id", threshold=0.5, max_df=1000, gram_len=20
    ).orderBy("src_id", "dst_id")


@query(
    "dedup_cosine",
    oracle="""
    SELECT a.vec_id AS id1, b.vec_id AS id2,
           round(list_dot_product(CAST(a.embedding AS DOUBLE[]),
                                  CAST(b.embedding AS DOUBLE[]))
                 / (sqrt(list_dot_product(CAST(a.embedding AS DOUBLE[]),
                                          CAST(a.embedding AS DOUBLE[])))
                    * sqrt(list_dot_product(CAST(b.embedding AS DOUBLE[]),
                                            CAST(b.embedding AS DOUBLE[])))),
                 6) AS cosine
    FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    WHERE round(list_dot_product(CAST(a.embedding AS DOUBLE[]),
                                 CAST(b.embedding AS DOUBLE[]))
                / (sqrt(list_dot_product(CAST(a.embedding AS DOUBLE[]),
                                         CAST(a.embedding AS DOUBLE[])))
                   * sqrt(list_dot_product(CAST(b.embedding AS DOUBLE[]),
                                           CAST(b.embedding AS DOUBLE[])))),
                6) >= 0.4
    ORDER BY id1, id2
    """,
)
def dedup_cosine(spark, sf_dir):
    e = load(spark, sf_dir, "embeddings")
    # 0.4 yields real near-neighbor pairs at every SF (max pairwise cosine
    # in this synthetic data is ~0.5-0.6), keeping the oracle check non-trivial.
    return dedup.embedding_cosine_pairs(e, "embedding", "vec_id", threshold=0.4).orderBy(
        "id1", "id2"
    )


@query(
    "dedup_components",
    # the same Jaccard >= 0.5 edge list as dedup_jaccard, then connected
    # components: DuckDB computes the transitive closure with a recursive
    # CTE and takes min reachable id; Spark runs iterative hash-min label
    # propagation (operators/dedup.py::connected_components)
    oracle="""
    WITH RECURSIVE words AS (
      SELECT DISTINCT doc_id, w
      FROM (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w
            FROM documents) t
      WHERE w <> ''
    ), sizes AS (
      SELECT doc_id, count(*) AS sz FROM words GROUP BY doc_id
    ), inter AS (
      SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS inter
      FROM words a JOIN words b ON a.w = b.w AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ), edges AS (
      SELECT id1, id2
      FROM inter
      JOIN sizes s1 ON s1.doc_id = id1
      JOIN sizes s2 ON s2.doc_id = id2
      WHERE round(inter / (s1.sz + s2.sz - inter), 6) >= 0.5
    ), sym AS (
      SELECT id1 AS a, id2 AS b FROM edges
      UNION
      SELECT id2, id1 FROM edges
    ), reach(node, r) AS (
      SELECT a, a FROM sym
      UNION
      SELECT s.a, reach.r FROM sym s JOIN reach ON s.b = reach.node
    )
    SELECT node, min(r) AS component
    FROM reach
    GROUP BY node
    ORDER BY node
    """,
)
def dedup_components(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    pairs = dedup.word_jaccard_pairs(d, "text", "doc_id", threshold=0.5)
    return dedup.connected_components(pairs).orderBy("node")


@query(
    "dedup_resolve",
    # end of the dedup pipeline: same Jaccard >= 0.5 clusters, keep only
    # each cluster's min-id canonical document plus all unpaired docs
    oracle="""
    WITH RECURSIVE words AS (
      SELECT DISTINCT doc_id, w
      FROM (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w
            FROM documents) t
      WHERE w <> ''
    ), sizes AS (
      SELECT doc_id, count(*) AS sz FROM words GROUP BY doc_id
    ), inter AS (
      SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS inter
      FROM words a JOIN words b ON a.w = b.w AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ), edges AS (
      SELECT id1, id2
      FROM inter
      JOIN sizes s1 ON s1.doc_id = id1
      JOIN sizes s2 ON s2.doc_id = id2
      WHERE round(inter / (s1.sz + s2.sz - inter), 6) >= 0.5
    ), sym AS (
      SELECT id1 AS a, id2 AS b FROM edges
      UNION
      SELECT id2, id1 FROM edges
    ), reach(node, r) AS (
      SELECT a, a FROM sym
      UNION
      SELECT s.a, reach.r FROM sym s JOIN reach ON s.b = reach.node
    ), comp AS (
      SELECT node, min(r) AS component FROM reach GROUP BY node
    )
    SELECT doc_id
    FROM documents
    WHERE doc_id NOT IN (SELECT node FROM comp WHERE component <> node)
    ORDER BY doc_id
    """,
)
def dedup_resolve(spark, sf_dir):
    """Full dedup resolution (operators/dedup.py::resolve_duplicates):
    detect near-dups, cluster, keep one canonical doc per cluster."""
    d = load(spark, sf_dir, "documents")
    pairs = dedup.word_jaccard_pairs(d, "text", "doc_id", threshold=0.5)
    return (
        dedup.resolve_duplicates(d, pairs, "doc_id")
        .select("doc_id")
        .orderBy("doc_id")
    )


@query(
    "dedup_resolve_best",
    # quality-policy resolution: keep each cluster's LONGEST document
    # (max n_chars, ties to the smallest doc_id) — the keep-the-best rule
    # production pipelines use instead of keep-the-first
    oracle="""
    WITH RECURSIVE words AS (
      SELECT DISTINCT doc_id, w
      FROM (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w
            FROM documents) t
      WHERE w <> ''
    ), sizes AS (
      SELECT doc_id, count(*) AS sz FROM words GROUP BY doc_id
    ), inter AS (
      SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS inter
      FROM words a JOIN words b ON a.w = b.w AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ), edges AS (
      SELECT id1, id2
      FROM inter
      JOIN sizes s1 ON s1.doc_id = id1
      JOIN sizes s2 ON s2.doc_id = id2
      WHERE round(inter / (s1.sz + s2.sz - inter), 6) >= 0.5
    ), sym AS (
      SELECT id1 AS a, id2 AS b FROM edges
      UNION
      SELECT id2, id1 FROM edges
    ), reach(node, r) AS (
      SELECT a, a FROM sym
      UNION
      SELECT s.a, reach.r FROM sym s JOIN reach ON s.b = reach.node
    ), comp AS (
      SELECT node, min(r) AS component FROM reach GROUP BY node
    ), ranked AS (
      SELECT c.node,
             row_number() OVER (PARTITION BY c.component
                                ORDER BY d.n_chars DESC, c.node ASC) AS rn
      FROM comp c JOIN documents d ON d.doc_id = c.node
    )
    SELECT doc_id
    FROM documents
    WHERE doc_id NOT IN (SELECT node FROM ranked WHERE rn > 1)
    ORDER BY doc_id
    """,
)
def dedup_resolve_best(spark, sf_dir):
    """Quality-policy dedup resolution (operators/dedup.py::
    resolve_duplicates_by): same Jaccard clusters as dedup_resolve, but
    the survivor is each cluster's longest document (max n_chars, tie to
    the smallest id) — winner picked by one max_by aggregate, losers
    removed by broadcast anti-join."""
    d = load(spark, sf_dir, "documents")
    pairs = dedup.word_jaccard_pairs(d, "text", "doc_id", threshold=0.5)
    return (
        dedup.resolve_duplicates_by(d, pairs, "doc_id", "n_chars")
        .select("doc_id")
        .orderBy("doc_id")
    )


def _minhash_params_values() -> str:
    """The engine's fixed (a, b) permutation constants as a SQL VALUES list,
    so the oracle replays the exact signature arithmetic (31-bit minhash:
    every product < 2^62, BIGINT- and numpy-int64-exact)."""
    a, b = dedup._hash_params()
    return ",\n    ".join(
        f"({i}, {int(a[i])}, {int(b[i])})" for i in range(len(a))
    )


def _minhash_oracle(bucket_cap: int | None = None) -> str:
    """Full SQL replay of the engine's MinHash+LSH pipeline: char-5-shingle
    polynomial hashes mod 2^31-1 -> 64 permutations min -> band on the raw
    4-long signature slices -> estimated-Jaccard filter. Deterministic
    because the permutation constants are fixed and all arithmetic is
    exact in 64-bit. `bucket_cap` replays the graceful-degradation valve
    (operators/dedup.py::_capped_anchor_pairs): each (band, slice)'s B
    anchors — smallest md5('band|doc_id'), DIFFERENT per band — pair
    against every bucket mate, normalized to id1 < id2."""
    if bucket_cap is None:
        cand = """cand AS (
      SELECT DISTINCT b1.doc_id AS id1, b2.doc_id AS id2
      FROM bands b1 JOIN bands b2
        ON b1.band = b2.band AND b1.slice = b2.slice AND b1.doc_id < b2.doc_id
    )"""
    else:
        cand = f"""ranked AS (
      SELECT doc_id, band, slice,
             row_number() OVER (
               PARTITION BY band, slice
               ORDER BY md5(CAST(band AS VARCHAR) || '|'
                            || CAST(doc_id AS VARCHAR)), doc_id) AS rnk
      FROM bands
    ), cand AS (
      SELECT DISTINCT least(b1.doc_id, b2.doc_id) AS id1,
                      greatest(b1.doc_id, b2.doc_id) AS id2
      FROM ranked b1 JOIN bands b2
        ON b1.band = b2.band AND b1.slice = b2.slice
       AND b1.doc_id <> b2.doc_id
      WHERE b1.rnk <= {int(bucket_cap)}
    )"""
    return f"""
    WITH params(i, a, b) AS (
      VALUES {_minhash_params_values()}
    ), pos AS (
      SELECT doc_id, text, unnest(generate_series(1, length(text) - 4)) AS pos
      FROM documents
      WHERE text IS NOT NULL AND length(text) >= 5
    ), shingles AS (
      SELECT DISTINCT doc_id,
             (ascii(substr(text, pos, 1))
              + ascii(substr(text, pos + 1, 1)) * 257
              + ascii(substr(text, pos + 2, 1)) * 66049
              + ascii(substr(text, pos + 3, 1)) * 16974593
              + ascii(substr(text, pos + 4, 1)) * 4362470401) % 2147483647 AS h
      FROM pos
    ), sigs AS (
      -- degenerate docs (NULL / shorter than the shingle) carry no content
      -- signal; the engine excludes their all-zero signatures from banding
      -- (operators/dedup.py::lsh_candidate_pairs scale guard), so they
      -- simply have no signature rows here either
      SELECT doc_id, i, min((a * h + b) % 2147483647) AS mh
      FROM shingles CROSS JOIN params
      GROUP BY doc_id, i
    ), bands AS (
      SELECT doc_id, i // 4 AS band, list(mh ORDER BY i) AS slice
      FROM sigs GROUP BY doc_id, i // 4
    ), {cand}, est AS (
      SELECT c.id1, c.id2,
             SUM(CASE WHEN s1.mh = s2.mh THEN 1 ELSE 0 END) / 64.0 AS est_jaccard
      FROM cand c
      JOIN sigs s1 ON s1.doc_id = c.id1
      JOIN sigs s2 ON s2.doc_id = c.id2 AND s2.i = s1.i
      GROUP BY c.id1, c.id2
    )
    SELECT id1, id2, est_jaccard FROM est
    WHERE est_jaccard >= 0.5
    ORDER BY id1, id2
    """


@query("dedup_minhash", oracle=_minhash_oracle())
def dedup_minhash(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    return dedup.minhash_dedup_pairs(d, "text", "doc_id", threshold=0.5).orderBy(
        "id1", "id2"
    )


@query("dedup_minhash_capped", oracle=_minhash_oracle(bucket_cap=1))
def dedup_minhash_capped(spark, sf_dir):
    """dedup_minhash with the graceful-degradation candidate cap ENGAGED
    at its tightest setting (bucket_cap=1: pure star pairing — every
    bucket contributes only pairs anchored on its smallest doc_id). The
    oracle replays the cap as a row_number rank, proving the capped
    candidate set is deterministic and exactly the documented subset —
    the valve that keeps candidate mass linear on pathological
    boilerplate tails at 100 TB (VERDICT r8 #1)."""
    d = load(spark, sf_dir, "documents")
    return dedup.minhash_dedup_pairs(
        d, "text", "doc_id", threshold=0.5, bucket_cap=1
    ).orderBy("id1", "id2")


@query(
    "dedup_simhash",
    # replay of the engine's simhash: the token hash is the last 8 md5
    # bytes little-endian == DuckDB's md5_number_lower; weighted bit-vote
    # over distinct whitespace tokens; the sign bit is folded in as
    # -2^63 to stay inside BIGINT.
    oracle=r"""
    WITH toks AS (
      SELECT DISTINCT doc_id, tok
      FROM (SELECT doc_id,
                   unnest(regexp_split_to_array(lower(text), '\s+')) AS tok
            FROM documents) t
      WHERE tok <> ''
    ), votes AS (
      SELECT doc_id, b,
             SUM(CASE WHEN (md5_number_lower(tok) >> b) & 1 = 1
                      THEN 1 ELSE -1 END) AS vote
      FROM toks, generate_series(0, 63) AS g(b)
      GROUP BY doc_id, b
    ), packed AS (
      SELECT doc_id,
             CAST(SUM(CASE WHEN vote > 0 AND b < 63
                           THEN (CAST(1 AS BIGINT) << b) ELSE 0 END)
                  + SUM(CASE WHEN vote > 0 AND b = 63
                             THEN -9223372036854775807 - 1 ELSE 0 END)
                  AS BIGINT) AS simhash
      FROM votes GROUP BY doc_id
    )
    SELECT d.doc_id, CAST(coalesce(p.simhash, 0) AS BIGINT) AS simhash
    FROM documents d LEFT JOIN packed p ON d.doc_id = p.doc_id
    ORDER BY d.doc_id
    """,
)
def dedup_simhash(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    return dedup.simhash(d, "text", "doc_id").orderBy("doc_id")


@query(
    "dedup_simhash_pairs",
    # same simhash replay as dedup_simhash, then the oracle verifies the
    # banded engine result against ALL pairs with bit_count(xor) <= 3 —
    # the pigeonhole argument (4 bands, distance < 4) says the banded
    # join must find every one of them, so the two sets are equal
    oracle=r"""
    WITH toks AS (
      SELECT DISTINCT doc_id, tok
      FROM (SELECT doc_id,
                   unnest(regexp_split_to_array(lower(text), '\s+')) AS tok
            FROM documents) t
      WHERE tok <> ''
    ), votes AS (
      SELECT doc_id, b,
             SUM(CASE WHEN (md5_number_lower(tok) >> b) & 1 = 1
                      THEN 1 ELSE -1 END) AS vote
      FROM toks, generate_series(0, 63) AS g(b)
      GROUP BY doc_id, b
    ), packed AS (
      SELECT doc_id,
             CAST(SUM(CASE WHEN vote > 0 AND b < 63
                           THEN (CAST(1 AS BIGINT) << b) ELSE 0 END)
                  + SUM(CASE WHEN vote > 0 AND b = 63
                             THEN -9223372036854775807 - 1 ELSE 0 END)
                  AS BIGINT) AS simhash
      FROM votes GROUP BY doc_id
    )
    SELECT p1.doc_id AS id1, p2.doc_id AS id2,
           CAST(bit_count(xor(p1.simhash, p2.simhash)) AS BIGINT) AS hamming
    FROM packed p1 JOIN packed p2 ON p1.doc_id < p2.doc_id
    WHERE p1.simhash <> 0 AND p2.simhash <> 0
      AND bit_count(xor(p1.simhash, p2.simhash)) <= 3
    ORDER BY id1, id2
    """,
)
def dedup_simhash_pairs(spark, sf_dir):
    """Hamming-banded simhash near-dup pairs: the engine's banded LSH join
    (operators/dedup.py::simhash_near_pairs) against the oracle's
    brute-force all-pairs — equality IS the completeness proof."""
    d = load(spark, sf_dir, "documents")
    return dedup.simhash_near_pairs(
        d, "text", "doc_id", max_hamming=3, bands=4
    ).orderBy("id1", "id2")


# --- deterministic sampling ---------------------------------------------------


_SAMPLE_THRESHOLD = int(0.2 * float(1 << 64))  # the operator's own arithmetic


@query(
    "sample_fraction",
    # the sampling decision is a pure function of the row key: keep iff the
    # first 8 md5 bytes little-endian (== DuckDB md5_number_upper) fall
    # under fraction * 2^64 — replayed here exactly
    oracle=f"""
    SELECT doc_id, lang, source
    FROM documents
    WHERE md5_number_upper(CAST(doc_id AS VARCHAR)) < {_SAMPLE_THRESHOLD}
    ORDER BY doc_id
    """,
)
def sample_fraction(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    return (
        sampling.deterministic_sample(d, 0.2, ["doc_id"])
        .select("doc_id", "lang", "source")
        .orderBy("doc_id")
    )


@query(
    "sample_stratified",
    oracle="""
    SELECT event_type, event_id
    FROM (SELECT event_type, event_id,
                 row_number() OVER (
                   PARTITION BY event_type
                   ORDER BY md5_number_upper(CAST(event_id AS VARCHAR))
                 ) AS rn
          FROM events) t
    WHERE rn <= 50
    ORDER BY event_type, event_id
    """,
)
def sample_stratified(spark, sf_dir):
    e = load(spark, sf_dir, "events")
    return (
        sampling.stratified_take(e, ["event_type"], 50, ["event_id"])
        .select("event_type", "event_id")
        .orderBy("event_type", "event_id")
    )


#: split boundaries for sample_split — computed once in Python so the SQL
#: oracle embeds the EXACT cumulative-float thresholds split_assign uses
_SPLIT_FRACS = {"train": 0.8, "val": 0.1, "test": 0.1}
_SPLIT_B1 = int(0.8 * float(1 << 64))
_SPLIT_B2 = int((0.8 + 0.1) * float(1 << 64))


@query(
    "sample_split",
    # split_assign hashes 'split|<doc_id>' with the same md5 fraction as
    # deterministic_sample; the bucket is a pure function of the key, so the
    # oracle replays the CASE over cumulative thresholds verbatim
    oracle=f"""
    SELECT CASE WHEN h < {_SPLIT_B1} THEN 'train'
                WHEN h < {_SPLIT_B2} THEN 'val'
                ELSE 'test' END AS split,
           source, count(*) AS n
    FROM (SELECT md5_number_upper('split|' || CAST(doc_id AS VARCHAR)) AS h,
                 source
          FROM documents) t
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
)
def sample_split(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    assigned = sampling.split_assign(d, ["doc_id"], dict(_SPLIT_FRACS))
    return (
        assigned.groupBy("split", "source")
        .agg(F.count("*").alias("n"))
        .orderBy("split", "source")
    )


@query(
    "sample_split_grouped",
    # keying the hash by (lang, source) instead of doc_id makes the split
    # LEAKAGE-SAFE: every document of a group lands in the same split by
    # construction (near-duplicates cluster within sources, so a per-doc
    # split would put one copy in train and its twin in test). The oracle
    # replays the group-keyed CASE and pins the no-leakage property: one
    # row per (group, split), never two splits per group.
    oracle=f"""
    SELECT lang, source,
           CASE WHEN h < {_SPLIT_B1} THEN 'train'
                WHEN h < {_SPLIT_B2} THEN 'val'
                ELSE 'test' END AS split,
           count(*) AS n
    FROM (SELECT md5_number_upper(
                   'split|' || lang || '|' || source) AS h,
                 lang, source
          FROM documents
          WHERE lang IS NOT NULL AND source IS NOT NULL) t
    GROUP BY 1, 2, 3
    ORDER BY 1, 2, 3
    """,
)
def sample_split_grouped(spark, sf_dir):
    """Leakage-safe train/val/test split
    (operators/sampling.py::split_assign keyed by the GROUP, not the row):
    all documents sharing (lang, source) are hashed identically and land
    in one split — the contamination guard for eval sets when duplicates
    cluster within a source. Pure per-row expression: no shuffle beyond
    the count that reports the assignment.

    NULL group keys are excluded up front: concat_ws (Spark) silently
    DROPS a NULL key part while ANSI `||` nulls the whole hash, so a
    NULL-keyed row would split differently between the engines — and a
    group key you can't trust is a leakage hole anyway."""
    d = load(spark, sf_dir, "documents").filter(
        F.col("lang").isNotNull() & F.col("source").isNotNull()
    )
    assigned = sampling.split_assign(d, ["lang", "source"], dict(_SPLIT_FRACS))
    return (
        assigned.groupBy("lang", "source", "split")
        .agg(F.count("*").alias("n"))
        .orderBy("lang", "source", "split")
    )


@query(
    "text_repetition",
    oracle="""
    WITH w AS (
      SELECT doc_id,
             list_filter(string_split(lower(text), ' '), x -> x <> '') AS ws
      FROM documents
    ), s AS (
      SELECT doc_id, len(ws) AS n_words,
             len(list_distinct(ws)) AS n_distinct_words
      FROM w
    ), bg AS (
      SELECT doc_id,
             unnest(list_transform(range(1, len(ws)),
                                   i -> ws[i] || ' ' || ws[i + 1])) AS gram
      FROM w WHERE len(ws) >= 2
    ), bc AS (
      SELECT doc_id, gram, count(*) AS c FROM bg GROUP BY 1, 2
    ), bs AS (
      SELECT doc_id, sum(c) AS n_bigrams, count(*) AS n_distinct_bigrams,
             max(c) AS top_cnt
      FROM bc GROUP BY 1
    )
    SELECT s.doc_id, s.n_words,
           round(1 - n_distinct_words / greatest(n_words, 1), 6)
             AS dup_word_frac,
           round(coalesce(1 - n_distinct_bigrams / n_bigrams, 0.0), 6)
             AS dup_bigram_frac,
           round(coalesce(top_cnt * 2 / greatest(n_words, 1), 0.0), 6)
             AS top_bigram_frac
    FROM s LEFT JOIN bs ON s.doc_id = bs.doc_id
    ORDER BY s.doc_id
    """,
)
def text_repetition(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    return text.repetition_features(d, "text", "doc_id").orderBy("doc_id")


@query(
    "embedding_centroids",
    # fixed-point accumulation (round(x * 2^20) summed as BIGINT) makes the
    # distributed mean exact and order-independent, so DuckDB reproduces it
    # bit-for-bit; scaling by a power of two is lossless on float inputs
    oracle="""
    SELECT label, i - 1 AS dim,
           round(CAST(sum(CAST(round(CAST(x AS DOUBLE) * 1048576.0) AS BIGINT))
                      AS DOUBLE) / (count(*) * 1048576.0), 6) AS centroid
    FROM (SELECT label, unnest(embedding) AS x,
                 generate_subscripts(embedding, 1) AS i
          FROM embeddings) t
    GROUP BY label, i
    ORDER BY label, dim
    """,
)
def embedding_centroids_q(spark, sf_dir):
    e = load(spark, sf_dir, "embeddings")
    return similarity.embedding_centroids(e, "embedding", "label").orderBy(
        "label", "dim"
    )


@query(
    "text_decontaminate",
    # train/test decontamination: documents sharing any word 8-gram with
    # the "benchmark" slice (doc_id < 10) are flagged. All JVM-side in the
    # engine (split -> slice -> explode -> broadcast semi-join); the oracle
    # replays the same n-gram generation with list_slice
    oracle="""
    WITH words AS (
      SELECT doc_id,
             list_filter(string_split(lower(text), ' '), w -> w <> '') AS ws
      FROM documents
    ), pos AS (
      SELECT doc_id, ws,
             unnest(generate_series(1, len(ws) - 7)) AS i
      FROM words
    ), grams AS (
      SELECT doc_id, array_to_string(list_slice(ws, i, i + 7), ' ') AS gram
      FROM pos
    ), bench AS (
      SELECT DISTINCT gram FROM grams WHERE doc_id < 10
    ), hits AS (
      SELECT g.doc_id, count(DISTINCT g.gram) AS n_contaminated_ngrams
      FROM grams g JOIN bench b ON g.gram = b.gram
      WHERE g.doc_id >= 10
      GROUP BY g.doc_id
    )
    SELECT d.doc_id,
           coalesce(h.n_contaminated_ngrams, 0) AS n_contaminated_ngrams,
           h.n_contaminated_ngrams IS NOT NULL AS contaminated
    FROM documents d LEFT JOIN hits h ON d.doc_id = h.doc_id
    WHERE d.doc_id >= 10
    ORDER BY d.doc_id
    """,
)
def text_decontaminate(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    bench = d.filter(F.col("doc_id") < 10)
    corpus = d.filter(F.col("doc_id") >= 10)
    return text.ngram_contamination(corpus, bench, "text", "doc_id").orderBy(
        "doc_id"
    )


_CURATE_THRESHOLD = int(0.5 * float(1 << 64))


@query(
    "pipeline_profile",
    # per-column data-quality profile as one aggregate pass, unpivoted;
    # sums are per-value fixed-point BIGINT units (floor(x*1e4+0.5) is the
    # same IEEE-754 expression in Spark and DuckDB) so partial-agg order
    # AND engine rounding-tie behavior can never drift from the oracle
    oracle="""
    SELECT 'l_quantity' AS col_name, count(*) AS n,
           CAST(sum(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_nulls,
           min(CAST(l_quantity AS DOUBLE)) AS min_v,
           max(CAST(l_quantity AS DOUBLE)) AS max_v,
           CAST(sum(CAST(floor(l_quantity * 10000 + 0.5) AS BIGINT))
                AS BIGINT) AS sum_v_e4
    FROM lineitem
    UNION ALL
    SELECT 'l_extendedprice', count(*),
           CAST(sum(CASE WHEN l_extendedprice IS NULL THEN 1 ELSE 0 END)
                AS BIGINT),
           min(CAST(l_extendedprice AS DOUBLE)),
           max(CAST(l_extendedprice AS DOUBLE)),
           CAST(sum(CAST(floor(l_extendedprice * 10000 + 0.5) AS BIGINT))
                AS BIGINT)
    FROM lineitem
    UNION ALL
    SELECT 'l_discount', count(*),
           CAST(sum(CASE WHEN l_discount IS NULL THEN 1 ELSE 0 END)
                AS BIGINT),
           min(CAST(l_discount AS DOUBLE)),
           max(CAST(l_discount AS DOUBLE)),
           CAST(sum(CAST(floor(l_discount * 10000 + 0.5) AS BIGINT))
                AS BIGINT)
    FROM lineitem
    ORDER BY col_name
    """,
)
def pipeline_profile(spark, sf_dir):
    """Column profile gate (operators/curation.py::profile_columns): one
    scan, one global aggregate, stack-unpivoted."""
    from ..operators.curation import profile_columns

    li = load(spark, sf_dir, "lineitem")
    return profile_columns(
        li, ["l_quantity", "l_extendedprice", "l_discount"]
    ).orderBy("col_name")


@query(
    "pipeline_upsert",
    # MERGE-style upsert: customers with c_custkey % 10 == 0 arrive as
    # "updates" with a changed segment; update rows win, the rest pass
    # through. Replayed as UNION ALL + NOT IN.
    oracle="""
    WITH updates AS (
      SELECT c_custkey, c_name, 'UPDATED' AS c_mktsegment
      FROM customer WHERE c_custkey % 10 = 0
    ), merged AS (
      SELECT c_custkey, c_name, c_mktsegment FROM updates
      UNION ALL
      SELECT c_custkey, c_name, c_mktsegment
      FROM customer
      WHERE c_custkey NOT IN (SELECT c_custkey FROM updates)
    )
    SELECT c_mktsegment, count(*) AS cnt,
           min(c_custkey) AS min_key, max(c_custkey) AS max_key
    FROM merged
    GROUP BY c_mktsegment
    ORDER BY c_mktsegment
    """,
)
def pipeline_upsert(spark, sf_dir):
    """Keyed upsert (operators/curation.py::upsert): CDC-style daily
    changes merged over the base table with one broadcast anti-join."""
    from ..operators.curation import upsert

    c = load(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_mktsegment"
    )
    updates = c.filter(F.col("c_custkey") % 10 == 0).withColumn(
        "c_mktsegment", F.lit("UPDATED")
    )
    merged = upsert(c, updates, ["c_custkey"])
    return (
        merged.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.min("c_custkey").alias("min_key"),
            F.max("c_custkey").alias("max_key"),
        )
        .orderBy("c_mktsegment")
    )


@query(
    "pipeline_curate",
    # the full curation pass replayed: word-count quality gate ->
    # fingerprint dedup with keep-smallest-id winner -> keyed-md5 sample.
    # Every stage is hash-deterministic, so the oracle is exact.
    oracle=f"""
    WITH feat AS (
      SELECT doc_id,
             md5(lower(regexp_replace(text, '\\s+', ' ', 'g'))) AS fingerprint,
             len(list_filter(string_split(lower(text), ' '),
                             w -> w <> '')) AS n_words
      FROM documents
    ), kept AS (
      SELECT doc_id, fingerprint, n_words,
             row_number() OVER (PARTITION BY fingerprint
                                ORDER BY doc_id) AS rn
      FROM feat
      WHERE n_words >= 20
    )
    SELECT doc_id, fingerprint, CAST(n_words AS INTEGER) AS n_words
    FROM kept
    WHERE rn = 1
      AND md5_number_upper(CAST(doc_id AS VARCHAR)) < {_CURATE_THRESHOLD}
    ORDER BY doc_id
    """,
)
def pipeline_curate(spark, sf_dir):
    from ..operators import curation

    d = load(spark, sf_dir, "documents")
    return curation.curate(
        d, "text", "doc_id", min_words=20, sample_fraction=0.5
    ).orderBy("doc_id")


# --- similarity search --------------------------------------------------------


def _query_vector(spark, sf_dir):
    e = load(spark, sf_dir, "embeddings")
    row = e.filter(F.col("vec_id") == 0).select("embedding").collect()[0]
    return [float(x) for x in row.embedding]


@query(
    "sim_quantized_topk",
    # search over int8-quantized vectors: dequantized score =
    # scale_a * scale_q * (integer dot product). Quantized values are
    # exact small ints, so the double dot product is exact in both
    # engines and the whole ranking hash-checks — the end-to-end proof
    # that the 4x-smaller embedding_quantize output is searchable
    oracle="""
    WITH scaled AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
             list_max(list_transform(CAST(embedding AS DOUBLE[]),
                                     x -> abs(x))) / 127 AS scale
      FROM embeddings
    ), quant AS (
      SELECT vec_id, scale,
             CASE WHEN scale = 0
                  THEN list_transform(v, x -> 0)
                  ELSE list_transform(v, x -> CAST(trunc(x / scale) AS INT))
             END AS q
      FROM scaled
    ), qq AS (
      SELECT scale AS qs, q AS qv FROM quant WHERE vec_id = 0
    )
    SELECT vec_id,
           round(scale * qq.qs
                 * list_dot_product(CAST(q AS DOUBLE[]),
                                    CAST(qq.qv AS DOUBLE[])), 6) AS qscore
    FROM quant, qq
    ORDER BY qscore DESC, vec_id
    LIMIT 10
    """,
)
def sim_quantized_topk(spark, sf_dir):
    """Top-k over int8-quantized embeddings (the serving-memory path):
    one scan of the 4x-smaller quantized table, integer dot products,
    broadcast 1-row query side. Exactly replayable — quantization uses
    defined trunc semantics, and int8 products sum exactly in doubles."""
    e = load(spark, sf_dir, "embeddings")
    q = similarity.quantize_embeddings(e, "embedding", "vec_id")
    row = q.filter(F.col("vec_id") == 0).select("scale", "q").collect()[0]
    qs, qv = float(row.scale), [int(x) for x in row.q]
    qv_lit = F.array(*[F.lit(x) for x in qv])
    dot = F.aggregate(
        F.zip_with("q", qv_lit, lambda x, y: (x * y).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    ).cast("double")
    return (
        q.select(
            "vec_id",
            F.round(F.col("scale") * F.lit(qs) * dot, 6).alias("qscore"),
        )
        .orderBy(F.col("qscore").desc(), "vec_id")
        .limit(10)
    )


@query(
    "sim_topk",
    oracle="""
    SELECT vec_id,
           round(list_dot_product(CAST(embedding AS DOUBLE[]), q.qv)
                 / (sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                          CAST(embedding AS DOUBLE[]))) * q.qn),
                 6) AS cosine
    FROM embeddings,
         (SELECT CAST(embedding AS DOUBLE[]) AS qv,
                 sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                       CAST(embedding AS DOUBLE[]))) AS qn
          FROM embeddings WHERE vec_id = 0) q
    ORDER BY cosine DESC, vec_id
    LIMIT 10
    """,
)
def sim_topk(spark, sf_dir):
    e = load(spark, sf_dir, "embeddings")
    return similarity.cosine_topk(e, "embedding", "vec_id", _query_vector(spark, sf_dir), 10)


@query(
    "sim_range",
    oracle="""
    SELECT vec_id,
           round(list_dot_product(CAST(embedding AS DOUBLE[]), q.qv)
                 / (sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                          CAST(embedding AS DOUBLE[]))) * q.qn),
                 6) AS cosine
    FROM embeddings,
         (SELECT CAST(embedding AS DOUBLE[]) AS qv,
                 sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                       CAST(embedding AS DOUBLE[]))) AS qn
          FROM embeddings WHERE vec_id = 0) q
    WHERE round(list_dot_product(CAST(embedding AS DOUBLE[]), q.qv)
                / (sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                         CAST(embedding AS DOUBLE[]))) * q.qn),
                6) >= 0.3
    ORDER BY vec_id
    """,
)
def sim_range(spark, sf_dir):
    """Range search: all vectors with cosine >= 0.3 of the query (0.3 keeps
    the result non-empty at every SF; the data's max non-self cosine is
    ~0.5-0.6)."""
    e = load(spark, sf_dir, "embeddings")
    return similarity.cosine_range(
        e, "embedding", "vec_id", _query_vector(spark, sf_dir), 0.3
    )


def _ann_bucket_sql(n_planes: int = 8, dim: int = 64) -> str:
    """The engine's fixed random-hyperplane projections as one SQL
    expression over a DOUBLE[] column ``v``: sum of sign-bit weights.
    Term order matches the UDF's left-to-right accumulation, so the
    double-precision sign decisions are bit-identical."""
    import numpy as np

    planes = np.random.RandomState(20240813).standard_normal((n_planes, dim))
    parts = []
    for p in range(n_planes):
        proj = " + ".join(f"v[{d + 1}] * ({planes[p, d]!r})" for d in range(dim))
        parts.append(f"(CASE WHEN ({proj}) > 0 THEN {1 << p} ELSE 0 END)")
    return "\n       + ".join(parts)


@query(
    "sim_ann",
    # full replay of the engine's multi-probe LSH ANN: seeded hyperplane
    # sign-bit buckets (constants inlined below), probe = query bucket plus
    # all buckets within Hamming distance 2, exact cosine rank within the
    # probed candidates.
    oracle=f"""
    WITH bucketed AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
             {_ann_bucket_sql()} AS bucket
      FROM embeddings
    ), q AS (
      SELECT bucket AS qb, v AS qv, sqrt(list_dot_product(v, v)) AS qn
      FROM bucketed WHERE vec_id = 0
    )
    SELECT c.vec_id,
           round(list_dot_product(c.v, q.qv)
                 / (sqrt(list_dot_product(c.v, c.v)) * q.qn), 6) AS cosine
    FROM bucketed c, q
    WHERE bit_count(xor(c.bucket, q.qb)) <= 2
    ORDER BY cosine DESC, vec_id
    LIMIT 10
    """,
)
def sim_ann(spark, sf_dir):
    e = load(spark, sf_dir, "embeddings")
    return similarity.ann_topk(e, "embedding", "vec_id", _query_vector(spark, sf_dir), 10)


def _banded_bucket_sql(
    bands: int = 4, planes_per_band: int = 8, dim: int = 64
) -> list[str]:
    """DuckDB replay of similarity.lsh_band_buckets: one sign-bit bucket
    expression per band over a DOUBLE[] column ``v``; band b uses plane
    rows [b*k, (b+1)*k) of the same seeded matrix, term order matching the
    UDF's left-to-right accumulation so every sign decision is
    bit-identical."""
    import numpy as np

    planes = np.random.RandomState(20240813).standard_normal(
        (bands * planes_per_band, dim)
    )
    out = []
    for b in range(bands):
        parts = []
        for p in range(planes_per_band):
            row = b * planes_per_band + p
            proj = " + ".join(
                f"v[{d + 1}] * ({planes[row, d]!r})" for d in range(dim)
            )
            parts.append(f"(CASE WHEN ({proj}) > 0 THEN {1 << p} ELSE 0 END)")
        out.append("\n       + ".join(parts))
    return out


def _cosine_lsh_pairs_cte(
    bands: int = 4,
    planes_per_band: int = 8,
    max_bucket: int = 10_000,
    bucket_cap: int | None = None,
) -> str:
    """Shared oracle CTE chain replaying cosine_pairs_lsh's candidate
    generation: banded buckets -> per-(band,bucket) size cap -> distinct
    in-bucket id pairs. Ends with a CTE named `cand(id1, id2)`.

    `bucket_cap` replays the graceful-degradation valve
    (operators/dedup.py::_capped_anchor_pairs): each (band, bucket)'s B
    anchors — smallest md5('band|id'), so DIFFERENT anchors per band —
    pair against every bucket mate, normalized to id1 < id2. The md5
    anchor key is engine-identical (lowercase hex over the same string),
    so the capped candidate set replays exactly."""
    bexprs = _banded_bucket_sql(bands, planes_per_band)
    selects = ",\n             ".join(
        f"{e} AS b{i}" for i, e in enumerate(bexprs)
    )
    banded_union = "\n      UNION ALL ".join(
        f"SELECT vec_id, {i} AS band, b{i} AS bucket FROM bucketed"
        for i in range(bands)
    )
    if bucket_cap is None:
        cand = f"""cand AS (
      SELECT DISTINCT a.vec_id AS id1, b.vec_id AS id2
      FROM banded a
      JOIN banded b ON a.band = b.band AND a.bucket = b.bucket
                    AND a.vec_id < b.vec_id
      JOIN sized s ON s.band = a.band AND s.bucket = a.bucket
      WHERE s.n <= {max_bucket}
    )"""
    else:
        cand = f"""ranked AS (
      SELECT vec_id, band, bucket,
             row_number() OVER (
               PARTITION BY band, bucket
               ORDER BY md5(CAST(band AS VARCHAR) || '|'
                            || CAST(vec_id AS VARCHAR)), vec_id) AS rnk
      FROM banded
    ), cand AS (
      SELECT DISTINCT least(a.vec_id, b.vec_id) AS id1,
                      greatest(a.vec_id, b.vec_id) AS id2
      FROM ranked a
      JOIN banded b ON a.band = b.band AND a.bucket = b.bucket
                    AND a.vec_id <> b.vec_id
      JOIN sized s ON s.band = a.band AND s.bucket = a.bucket
      WHERE s.n <= {max_bucket} AND a.rnk <= {int(bucket_cap)}
    )"""
    return f"""bucketed AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
             {selects}
      FROM embeddings
    ), banded AS (
      {banded_union}
    ), sized AS (
      SELECT band, bucket, count(*) AS n FROM banded GROUP BY 1, 2
    ), {cand}"""


def _cosine_lsh_oracle(bucket_cap: int | None = None) -> str:
    return f"""
    WITH {_cosine_lsh_pairs_cte(bucket_cap=bucket_cap)}
    SELECT c.id1, c.id2,
           round(list_dot_product(a.v, b.v)
                 / (sqrt(list_dot_product(a.v, a.v))
                    * sqrt(list_dot_product(b.v, b.v))), 6) AS cosine
    FROM cand c
    JOIN bucketed a ON a.vec_id = c.id1
    JOIN bucketed b ON b.vec_id = c.id2
    WHERE round(list_dot_product(a.v, b.v)
                / (sqrt(list_dot_product(a.v, a.v))
                   * sqrt(list_dot_product(b.v, b.v))), 6) >= 0.3
    ORDER BY id1, id2
    """


@query("dedup_cosine_lsh", oracle=_cosine_lsh_oracle())
def dedup_cosine_lsh(spark, sf_dir):
    """The 100 TB form of dedup_cosine (operators/dedup.py::
    cosine_pairs_lsh): banded bucket pairing instead of all-pairs, size-
    capped buckets, norms projected once, exact cosine verify on
    candidates; the oracle replays the seeded per-band hyperplane
    projections, the bucket cap, and the same candidate set."""
    e = load(spark, sf_dir, "embeddings")
    return dedup.cosine_pairs_lsh(
        e, "embedding", "vec_id", threshold=0.3
    ).orderBy("id1", "id2")


@query("dedup_cosine_lsh_capped", oracle=_cosine_lsh_oracle(bucket_cap=2))
def dedup_cosine_lsh_capped(spark, sf_dir):
    """dedup_cosine_lsh with the graceful-degradation candidate cap
    engaged (bucket_cap=2: each bucket's two smallest vec_ids anchor all
    of its pairs, bounding a k-vector bucket at ~2k candidates instead of
    k^2/2). The oracle replays the cap as a row_number rank over
    (band, bucket) — this is the valve that lets dedup_semantic COMPLETE
    on a quadratic near-dup tail at 100x instead of exhausting shuffle
    disk (VERDICT r8 #1); recall contract in operators/dedup.py."""
    e = load(spark, sf_dir, "embeddings")
    return dedup.cosine_pairs_lsh(
        e, "embedding", "vec_id", threshold=0.3, bucket_cap=2
    ).orderBy("id1", "id2")




# --- text analysis ------------------------------------------------------------


@query(
    "text_quality",
    oracle="""
    SELECT doc_id,
           CAST(length(text) AS INTEGER) AS n_chars,
           CAST(len(list_filter(string_split(lower(text), ' '),
                                w -> w <> '')) AS INTEGER) AS n_words,
           round(length(text) / greatest(
               len(list_filter(string_split(lower(text), ' '), w -> w <> '')),
               1), 4) AS avg_word_len,
           CAST(length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS INTEGER)
               AS n_punct,
           round(len(list_filter(string_split(lower(text), ' '),
                     w -> list_contains(['the','a','an','and','or','of','to',
                                         'in','is','it','for','on','with','as',
                                         'at','by','from','that','this'], w)))
                 / greatest(len(list_filter(string_split(lower(text), ' '),
                                            w -> w <> '')), 1), 4)
               AS stopword_ratio
    FROM documents
    ORDER BY doc_id
    LIMIT 200
    """,
)
def text_quality(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    return (
        text.quality_features(d, "text", "doc_id")
        .select(
            "doc_id",
            F.col("n_chars").cast("int").alias("n_chars"),
            F.col("n_words").cast("int").alias("n_words"),
            "avg_word_len",
            F.col("n_punct").cast("int").alias("n_punct"),
            "stopword_ratio",
        )
        .orderBy("doc_id")
        .limit(200)
    )


@query(
    "text_pack",
    oracle="""
    WITH toks AS (
      SELECT doc_id,
             CAST(len(list_filter(string_split(lower(text), ' '),
                                  w -> w <> '')) AS BIGINT) AS n_toks
      FROM documents
    ), cum AS (
      SELECT doc_id, n_toks,
             SUM(n_toks) OVER (ORDER BY doc_id) AS end_tok
      FROM toks
    )
    SELECT doc_id, n_toks,
           CAST(end_tok - n_toks AS BIGINT) AS start_tok,
           CAST(end_tok AS BIGINT) AS end_tok,
           CAST((end_tok - n_toks) // 512 AS BIGINT) AS first_chunk,
           CAST(greatest((end_tok - n_toks) // 512,
                         (end_tok - 1) // 512) AS BIGINT) AS last_chunk
    FROM cum
    ORDER BY doc_id
    """,
)
def text_pack(spark, sf_dir):
    """GPT-style sequence packing: concatenate the corpus token stream in
    doc_id order, chunk into 512-token training sequences, and report each
    document's [start_tok, end_tok) range and first/last chunk. The
    running sum is the two-pass partition-prefix shape (no global-window
    single partition); the oracle's plain windowed SUM replays it exactly
    because the result is partitioning-independent."""
    d = load(spark, sf_dir, "documents")
    with_counts = d.select(
        "doc_id",
        F.size(
            F.filter(F.split(F.lower("text"), " "), lambda w: w != "")
        ).cast("bigint").alias("n_toks"),
    )
    return text.pack_token_stream(
        with_counts, "doc_id", "n_toks", budget=512
    ).orderBy("doc_id")


@query(
    "embedding_quantize",
    # int8 symmetric quantization replayed in SQL: scale = max|v|/127,
    # q = trunc(v/scale) (defined as truncation — engines disagree on
    # cast rounding); outputs are scalar summaries so the driver's
    # canonicalizer never sees list cells
    oracle="""
    WITH scaled AS (
      SELECT vec_id,
             CAST(embedding AS DOUBLE[]) AS v,
             list_max(list_transform(CAST(embedding AS DOUBLE[]),
                                     x -> abs(x))) / 127 AS scale
      FROM embeddings
    ), quant AS (
      SELECT vec_id, scale,
             CASE WHEN scale = 0
                  THEN list_transform(v, x -> 0)
                  ELSE list_transform(v, x -> CAST(trunc(x / scale) AS INT))
             END AS q
      FROM scaled
    )
    SELECT vec_id,
           round(scale, 6) AS scale_r,
           CAST(list_aggregate(list_transform(q, x -> abs(x)), 'sum')
                AS BIGINT) AS q_l1,
           list_aggregate(q, 'min') AS q_min,
           list_aggregate(q, 'max') AS q_max
    FROM quant
    ORDER BY vec_id
    LIMIT 500
    """,
)
def embedding_quantize(spark, sf_dir):
    """Int8 embedding quantization (operators/similarity.py::
    quantize_embeddings) with scalar summaries of the quantized vector."""
    e = load(spark, sf_dir, "embeddings")
    from ..operators.similarity import quantize_embeddings

    q = quantize_embeddings(e, "embedding", "vec_id")
    return (
        q.select(
            "vec_id",
            F.round("scale", 6).alias("scale_r"),
            F.aggregate(
                F.transform("q", lambda x: F.abs(x).cast("long")),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            ).alias("q_l1"),
            F.array_min("q").alias("q_min"),
            F.array_max("q").alias("q_max"),
        )
        .orderBy("vec_id")
        .limit(500)
    )


@query(
    "pii_redact",
    oracle=r"""
    SELECT c_custkey,
           regexp_replace(c_name, '\d', 'X', 'g') AS name_redacted,
           c_mktsegment
    FROM customer
    ORDER BY c_custkey
    LIMIT 200
    """,
)
def pii_redact(spark, sf_dir):
    """PII redaction pass: digit sequences in identifying columns masked by
    a JVM-side regexp projection (operators/text.py::redact_columns). The
    rule set stays in the RE2-compatible regex subset so Spark and the
    DuckDB oracle apply byte-identical transforms."""
    c = load(spark, sf_dir, "customer")
    red = text.redact_columns(c, {"c_name": (r"\d", "X")})
    return (
        red.select(
            "c_custkey",
            F.col("c_name").alias("name_redacted"),
            "c_mktsegment",
        )
        .orderBy("c_custkey")
        .limit(200)
    )


_BM25_TERMS = ["spark", "vector", "merge"]


def _bm25_oracle() -> str:
    tf = ",\n           ".join(
        f"len(list_filter(string_split(lower(text), ' '), "
        f"w -> w = '{t}')) AS tf_{i}"
        for i, t in enumerate(_BM25_TERMS)
    )
    dfs = ",\n           ".join(
        f"sum(CASE WHEN tf_{i} > 0 THEN 1 ELSE 0 END) AS df_{i}"
        for i in range(len(_BM25_TERMS))
    )
    contribs = "\n         + ".join(
        f"ln((n_docs - df_{i} + 0.5) / (df_{i} + 0.5) + 1.0)"
        f" * (tf_{i} * 2.2 / (tf_{i} + 1.2 * (0.25 + 0.75 * dl / avgdl)))"
        for i in range(len(_BM25_TERMS))
    )
    return f"""
    WITH base AS (
      SELECT doc_id,
           len(list_filter(string_split(lower(text), ' '), w -> w <> '')) AS dl,
           {tf}
      FROM documents
    ), stats AS (
      SELECT count(*) AS n_docs, avg(dl) AS avgdl,
           {dfs}
      FROM base
    )
    SELECT doc_id,
           round({contribs}, 6) AS bm25
    FROM base, stats
    ORDER BY bm25 DESC, doc_id
    LIMIT 20
    """


@query("text_bm25", oracle=_bm25_oracle())
def text_bm25(spark, sf_dir):
    """BM25 relevance ranking against a fixed query-term list (the scoring
    half of a retrieval-based data-curation pass). One corpus scan for
    per-doc tf/length, one 1-row broadcast of collection stats, zero
    shuffles of documents; contributions sum in fixed term order so the
    oracle's expression tree is bit-identical."""
    d = load(spark, sf_dir, "documents")
    return (
        text.bm25_scores(d, "text", "doc_id", _BM25_TERMS)
        .orderBy(F.desc("bm25"), "doc_id")
        .limit(20)
    )


@query(
    "text_regex_tokens",
    # the pattern's three alternates match DISJOINT character classes, so
    # Java-regex (Spark) and RE2 (DuckDB) tokenize identically; counts are
    # exact integers
    oracle="""
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(len(regexp_extract_all(text,
                ' ?[a-zA-Z]+| ?[0-9]+| ?[^a-zA-Z0-9\\s]+'))) AS BIGINT)
             AS n_tokens
    FROM documents
    GROUP BY source
    ORDER BY source
    """,
)
def text_regex_tokens(spark, sf_dir):
    """BPE-style token-cost accounting per source
    (operators/text.py::regex_token_counts): GPT-2-ish pre-tokenizer runs
    as ONE JVM regexp_extract_all projection (no UDF, no extra shuffle
    beyond the per-source aggregate) — the "tokens this corpus will cost"
    budget at pre-tokenizer granularity, far closer to real BPE counts
    than whitespace words."""
    d = load(spark, sf_dir, "documents")
    counts = text.regex_token_counts(d, "text", "doc_id")
    return (
        d.select("doc_id", "source")
        .join(counts, "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("n_tokens"),
        )
        .orderBy("source")
    )


@query(
    "text_tokens_top",
    oracle="""
    SELECT token, count(*) AS cnt
    FROM (SELECT unnest(string_split(lower(text), ' ')) AS token
          FROM documents) t
    WHERE token <> ''
    GROUP BY token
    ORDER BY cnt DESC, token
    LIMIT 20
    """,
)
def text_tokens_top(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    return (
        text.token_counts(d, "text")
        .orderBy(F.col("cnt").desc(), "token")
        .limit(20)
    )


@query(
    "text_bpe_tokens",
    # replays bpe_ish_token_count: punctuation split out as its own
    # tokens, then whitespace split, count non-empty pieces
    oracle=r"""
    SELECT doc_id,
           CAST(len(list_filter(
             string_split_regex(
               regexp_replace(text, '([.,;:!?()\[\]{}])', ' \1 ', 'g'),
               '\s+'),
             p -> p <> '')) AS INTEGER) AS approx_tokens
    FROM documents
    ORDER BY doc_id
    """,
)
def text_bpe_tokens(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    return text.bpe_ish_token_count(d, "text", "doc_id").orderBy("doc_id")


@query(
    "text_fingerprint",
    oracle="""
    SELECT doc_id,
           md5(lower(regexp_replace(text, '\\s+', ' ', 'g'))) AS md5
    FROM documents
    ORDER BY doc_id
    LIMIT 200
    """,
)
def text_fingerprint(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    return (
        text.fingerprint(d, "text", "doc_id")
        .select("doc_id", "md5")
        .orderBy("doc_id")
        .limit(200)
    )


def _marker_count(marker: str) -> str:
    """DuckDB SQL: non-overlapping occurrence count of marker in column s
    (same semantics as Python str.count)."""
    m = marker.replace("'", "''")
    return f"((length(s) - length(replace(s, '{m}', ''))) / {len(marker)})"


def _langid_oracle() -> str:
    from ..operators.text import LANG_MARKERS

    scores = ",\n           ".join(
        f"({' + '.join(_marker_count(m) for m in ms)}) AS {code}"
        for code, ms in LANG_MARKERS.items()
    )
    # ties break to the lexicographically greatest code, mirroring
    # max(scores, key=lambda c: (scores[c], c))
    by_desc_code = sorted(LANG_MARKERS, reverse=True)
    pick = " ".join(f"WHEN {c} = m THEN '{c}'" for c in by_desc_code[:-1])
    return f"""
    WITH t AS (
      SELECT doc_id, ' ' || lower(text) || ' ' AS s FROM documents
      WHERE text IS NOT NULL AND text != ''
    ),
    sc AS (
      SELECT doc_id,
           {scores}
      FROM t
    )
    SELECT doc_id,
           CASE WHEN m = 0 THEN 'und' {pick} ELSE '{by_desc_code[-1]}' END
             AS lang_pred
    FROM (SELECT *, greatest({", ".join(LANG_MARKERS)}) AS m FROM sc)
    UNION ALL
    SELECT doc_id, 'und' AS lang_pred FROM documents
    WHERE text IS NULL OR text = ''
    ORDER BY doc_id
    """


@query("text_langid", oracle=_langid_oracle())
def text_langid(spark, sf_dir):
    """The n-gram heuristic is deterministic marker counting, so DuckDB
    replays it exactly (occurrence counts via replace-length arithmetic)."""
    d = load(spark, sf_dir, "documents")
    return text.detect_language(d, "text", "doc_id").orderBy("doc_id")


# --- multimodal ---------------------------------------------------------------


@query(
    "multimodal_meta",
    oracle="""
    SELECT doc_id AS media_id,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           sha256(text) AS sha256
    FROM documents
    ORDER BY media_id
    LIMIT 200
    """,
)
def multimodal_meta(spark, sf_dir):
    d = load(spark, sf_dir, "documents").withColumn(
        "payload", F.encode("text", "UTF-8").cast("binary")
    )
    mm = multimodal.attach_metadata(d, "payload", "image", "doc_id")
    return (
        mm.select(
            "media_id",
            F.col("meta.n_bytes").cast("bigint").alias("n_bytes"),
            F.col("meta.sha256").alias("sha256"),
        )
        .orderBy("media_id")
        .limit(200)
    )


def _sha_byte(i: int) -> str:
    """DuckDB SQL for byte i (0-based) of sha256 hex digest column h."""
    c1 = f"substr(h, {2 * i + 1}, 1)"
    c2 = f"substr(h, {2 * i + 2}, 1)"
    return (
        f"((strpos('0123456789abcdef', {c1}) - 1) * 16"
        f" + strpos('0123456789abcdef', {c2}) - 1)"
    )


_MM_DECODE_ORACLE = f"""
    WITH p AS (
      SELECT doc_id AS media_id,
             sha256(text) AS h,
             octet_length(encode(text)) AS n_bytes
      FROM documents
    )
    SELECT media_id,
           16 + {_sha_byte(0)} % 64 AS width,
           16 + {_sha_byte(1)} % 64 AS height,
           n_bytes,
           {_sha_byte(0)} + {_sha_byte(1)} + {_sha_byte(2)} + {_sha_byte(3)}
             AS f0_x255
    FROM p
    ORDER BY media_id
"""


@query("multimodal_decode", oracle=_MM_DECODE_ORACLE)
def multimodal_decode(spark, sf_dir):
    """The stub decoder is sha256-deterministic, so DuckDB can replay it in
    SQL: width/height are digest bytes, and feature 0 is
    (b0+b1+b2+b3)/255 as float32 — scaled back to the exact integer byte
    sum here so the comparison is float-free. Scalar projection only: the
    driver's canonical sort cannot order the raw list-typed features."""
    d = load(spark, sf_dir, "documents").withColumn(
        "payload", F.encode("text", "UTF-8").cast("binary")
    )
    mm = multimodal.attach_metadata(d, "payload", "image", "doc_id")
    feats = multimodal.decode_features(mm)
    return feats.select(
        "media_id",
        "width",
        "height",
        "n_bytes",
        F.round(F.element_at("features", 1) * 255).cast("bigint").alias("f0_x255"),
    ).orderBy("media_id")


@query(
    "multimodal_frames",
    # replays frame_sample_plan(every_n=30, max_frames=8): frame indices
    # 0,30,... up to min(210, floor(payload_bytes/1000))
    oracle="""
    SELECT doc_id AS media_id,
           unnest(generate_series(
             0,
             least(210, greatest(octet_length(encode(text)) // 1000, 0)),
             30)) AS frame_index
    FROM documents
    ORDER BY media_id, frame_index
    """,
)
def multimodal_frames(spark, sf_dir):
    d = load(spark, sf_dir, "documents").withColumn(
        "payload", F.encode("text", "UTF-8").cast("binary")
    )
    mm = multimodal.attach_metadata(d, "payload", "video", "doc_id")
    return multimodal.frame_sample_plan(mm).orderBy("media_id", "frame_index")


@query(
    "sim_ivf",
    # the KMeans coarse quantizer is model-specific (seeded but float-sum
    # order can wiggle centroids), so the checkable property is the RECALL
    # CONTRACT: IVF top-10 with nprobe=4/16 must recover at least half of
    # the exact top-10. The query emits k and the recall verdict; the
    # oracle pins them.
    oracle="""
    SELECT 10 AS k, true AS recall_ok
    """,
)
def sim_ivf(spark, sf_dir):
    e = load(spark, sf_dir, "embeddings")
    qv = _query_vector(spark, sf_dir)
    ivf = similarity.ivf_topk(e, "embedding", "vec_id", qv, 10).select("vec_id")
    exact = similarity.cosine_topk(e, "embedding", "vec_id", qv, 10).select("vec_id")
    hits = ivf.join(exact, "vec_id").count()
    return local_frame(spark, [(10, hits >= 5)], "k INT, recall_ok BOOLEAN")


@query(
    "asof_join",
    oracle="""
    SELECT l.event_id, round(r.value, 4) AS asof_value
    FROM (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id
          FROM events WHERE event_type = 'click') l
    ASOF LEFT JOIN
         (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value
          FROM events WHERE event_type = 'purchase') r
      ON l.user_id = r.user_id AND l.ts >= r.ts
    ORDER BY l.event_id
    LIMIT 500
    """,
)
def asof_join_q(spark, sf_dir):
    """Point-in-time join: each click gets the latest purchase value
    at-or-before it per user (operators/asof.py; DuckDB's native ASOF JOIN
    is the oracle)."""
    from ..operators.asof import asof_join

    e = load(spark, sf_dir, "events")
    clicks = e.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "event_id"
    )
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "value"
    )
    joined = asof_join(clicks, purchases, on="ts", by="user_id", value_cols=["value"])
    return (
        joined.select("event_id", F.round("asof_value", 4).alias("asof_value"))
        .orderBy("event_id")
        .limit(500)
    )


@query(
    "range_join",
    oracle="""
    SELECT c.c_custkey, s.s_suppkey
    FROM customer c JOIN supplier s
      ON c.c_acctbal BETWEEN s.s_acctbal - 10.0 AND s.s_acctbal + 10.0
    ORDER BY c_custkey, s_suppkey
    """,
)
def range_join_q(spark, sf_dir):
    """Point-in-interval join via bucketed equi-join
    (operators/rangejoin.py): Spark would otherwise plan the bare BETWEEN
    as a broadcast nested-loop; bucketing turns it into one shuffled
    equi-join plus a residual, which is the only shape that scales when
    neither side broadcasts."""
    from ..operators.rangejoin import point_in_interval_join

    c = load(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
    s = load(spark, sf_dir, "supplier").select(
        "s_suppkey",
        (F.col("s_acctbal") - 10.0).alias("lo"),
        (F.col("s_acctbal") + 10.0).alias("hi"),
    )
    joined = point_in_interval_join(
        c, s, "c_acctbal", "lo", "hi", bucket_width=20.0
    )
    return joined.select("c_custkey", "s_suppkey").orderBy(
        "c_custkey", "s_suppkey"
    )


@query(
    "skew_agg",
    # the salted two-phase aggregate must be value-identical to the plain
    # GROUP BY (integer measures, so partial/final composition is exact)
    oracle="""
    SELECT l_returnflag, count(*) AS cnt,
           CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS total_qty
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
)
def skew_agg_q(spark, sf_dir):
    """Salted two-phase aggregation (operators/skew.py) over lineitem's
    3-value l_returnflag — a genuinely skewed key set where single-reducer
    hot keys would stall a plain groupBy at scale. The oracle is the plain
    GROUP BY: salting must never change results."""
    from ..operators.skew import salted_aggregate

    li = load(spark, sf_dir, "lineitem")
    out = salted_aggregate(
        li,
        ["l_returnflag"],
        [
            F.count(F.lit(1)).alias("c"),
            F.sum(F.col("l_quantity").cast("bigint")).alias("s"),
        ],
        [F.sum("c").alias("cnt"), F.sum("s").alias("total_qty")],
    )
    return out.orderBy("l_returnflag")


@query(
    "text_df",
    oracle="""
    WITH toks AS (
      SELECT DISTINCT doc_id, tok
      FROM (SELECT doc_id,
                   unnest(list_filter(string_split(lower(text), ' '),
                                      w -> w <> '')) AS tok
            FROM documents) t
    )
    SELECT tok, count(*) AS df
    FROM toks
    GROUP BY tok
    ORDER BY df DESC, tok
    LIMIT 50
    """,
)
def text_df_q(spark, sf_dir):
    """Document frequency (the exact half of TF-IDF): per-doc distinct
    tokens via array_distinct BEFORE the explode — the shuffle then carries
    each (doc, token) once, not once per occurrence."""
    d = load(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        F.explode(
            F.array_distinct(
                F.filter(F.split(F.lower("text"), " "), lambda w: w != "")
            )
        ).alias("tok"),
    )
    return (
        toks.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("df"))
        .orderBy(F.desc("df"), "tok")
        .limit(50)
    )


_MM_RESIZE_ORACLE = f"""
    WITH p AS (
      SELECT doc_id AS media_id, sha256(text) AS h
      FROM documents
    ), dims AS (
      SELECT media_id,
             16 + {_sha_byte(0)} % 64 AS width,
             16 + {_sha_byte(1)} % 64 AS height
      FROM p
    )
    SELECT media_id, width, height,
           CAST(greatest((width * 32) // greatest(width, height), 1)
                AS INTEGER) AS out_w,
           CAST(greatest((height * 32) // greatest(width, height), 1)
                AS INTEGER) AS out_h
    FROM dims
    ORDER BY media_id
"""


@query("multimodal_resize", oracle=_MM_RESIZE_ORACLE)
def multimodal_resize(spark, sf_dir):
    """Aspect-preserving thumbnail dimensions over the decoded metadata
    (operators/multimodal.py::resize_plan). Integer arithmetic only, so the
    oracle replays it exactly from the same sha-derived dims as
    multimodal_decode."""
    d = load(spark, sf_dir, "documents").withColumn(
        "payload", F.encode("text", "UTF-8").cast("binary")
    )
    mm = multimodal.attach_metadata(d, "payload", "image", "doc_id")
    feats = multimodal.decode_features(mm)
    return multimodal.resize_plan(feats).orderBy("media_id")


@query(
    "bucket_join",
    # co-located bucketed join result == plain equi-join result; the oracle
    # is the plain join (bucketing must be invisible to semantics)
    oracle="""
    SELECT o.o_orderkey, c.c_custkey, c.c_nationkey,
           round(o.o_totalprice, 2) AS o_totalprice
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    ORDER BY o.o_orderkey
    LIMIT 500
    """,
)
def bucket_join_q(spark, sf_dir):
    """Shuffle-free co-located join over bucketed DWRF tables
    (operators/bucketing.py): both sides are written bucketed on the join
    key once, then the join decomposes into per-bucket joins of co-located
    slices — the pay-shuffle-once-reuse-many pattern that matters when the
    same fact table joins on the same key every day at 100 TB."""
    import os

    from ..operators import bucketing
    from ..sources import register

    register(spark)
    base = os.path.basename(os.path.normpath(sf_dir))
    lp = f"/tmp/hive_dwrf_spark_bkt_orders_{base}"
    rp = f"/tmp/hive_dwrf_spark_bkt_customer_{base}"
    o = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    c = load(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"), F.col("c_custkey"), "c_nationkey"
    )
    bucketing.write_bucketed(o, lp, "o_custkey", 8, mode="overwrite")
    bucketing.write_bucketed(c, rp, "o_custkey", 8, mode="overwrite")
    joined = bucketing.bucketed_join(spark, lp, rp, "o_custkey", 8)
    return (
        joined.select(
            "o_orderkey",
            "c_custkey",
            "c_nationkey",
            F.round("o_totalprice", 2).alias("o_totalprice"),
        )
        .orderBy("o_orderkey")
        .limit(500)
    )


@query(
    "sim_knn_join",
    # exact k-NN join for a probe set (every 20th vector): identical
    # left-to-right double arithmetic on both sides, rank ties broken on
    # neighbor id after 6-dp rounding (the sim_topk convention)
    oracle="""
    WITH v AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ev,
             sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                   CAST(embedding AS DOUBLE[]))) AS nrm
      FROM embeddings
    ), scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             round(list_dot_product(c.ev, q.ev) / (c.nrm * q.nrm), 6)
               AS cosine
      FROM v q JOIN v c ON q.vec_id <> c.vec_id
      WHERE q.vec_id % 20 = 0
    ), ranked AS (
      SELECT query_id, neighbor_id, cosine,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY cosine DESC, neighbor_id) AS rank
      FROM scored
    )
    SELECT query_id, rank, neighbor_id, cosine
    FROM ranked WHERE rank <= 3
    ORDER BY query_id, rank
    """,
)
def sim_knn_join(spark, sf_dir):
    e = load(spark, sf_dir, "embeddings")
    probes = e.filter(F.col("vec_id") % 20 == 0)
    return similarity.knn_join(e, probes, "embedding", "vec_id", 3).orderBy(
        "query_id", "rank"
    )


@query(
    "pipeline_source_cap",
    oracle="""
    SELECT doc_id, source, n_chars
    FROM (SELECT doc_id, source, n_chars,
                 row_number() OVER (PARTITION BY source
                                    ORDER BY n_chars DESC, doc_id) AS rn
          FROM documents) t
    WHERE rn <= 10
    ORDER BY source, n_chars DESC, doc_id
    """,
)
def pipeline_source_cap(spark, sf_dir):
    """Per-source quota (operators/curation.py::source_cap): at most 10
    docs per source, best-first by (n_chars DESC, doc_id) — the
    domain-mixing cap of a web-corpus build. The engine runs the skew-safe
    two-phase form (local top-n per input slice, then global top-n); the
    oracle's single global window is definitionally equivalent because the
    order is total."""
    from ..operators.curation import source_cap

    d = load(spark, sf_dir, "documents")
    capped = source_cap(
        d, "source", [F.desc("n_chars"), F.asc("doc_id")], 10
    )
    return capped.select("doc_id", "source", "n_chars").orderBy(
        "source", F.desc("n_chars"), "doc_id"
    )


_CMS_DEPTH, _CMS_WIDTH = 4, 1024
_CMS_KEYS = ["spark", "merge", "table", "window", "zzz_absent"]


@query(
    "sketch_cms",
    oracle=f"""
    WITH toks AS (
      SELECT unnest(string_split(lower(text), ' ')) AS tok FROM documents
    ), rows_ AS (
      SELECT CAST(r.range AS INTEGER) AS row_i FROM range(0, {_CMS_DEPTH}) r
    ), cells AS (
      SELECT row_i,
             CAST(md5_number_upper(CAST(row_i AS VARCHAR) || '|' || tok)
                  % {_CMS_WIDTH} AS INTEGER) AS bucket,
             count(*) AS cnt
      FROM toks, rows_
      WHERE tok <> ''
      GROUP BY 1, 2
    ), keys_ AS (
      SELECT unnest({_CMS_KEYS}) AS key
    ), probes AS (
      SELECT key, row_i,
             CAST(md5_number_upper(CAST(row_i AS VARCHAR) || '|' || key)
                  % {_CMS_WIDTH} AS INTEGER) AS bucket
      FROM keys_, rows_
    )
    SELECT key, CAST(min(coalesce(cnt, 0)) AS BIGINT) AS est
    FROM probes LEFT JOIN cells USING (row_i, bucket)
    GROUP BY key ORDER BY key
    """,
)
def sketch_cms(spark, sf_dir):
    """Count-Min Sketch frequency estimation (operators/sketch.py): build
    a 4x1024 counter grid over the token stream in one map-side-combinable
    aggregate, then point-estimate a fixed key list (incl. one absent key)
    by min-over-rows. The keyed-md5 bucket function is shared with the
    sampling operators, so the oracle replays the sketch — collisions and
    all — exactly."""
    from ..operators import sketch

    # fan the DOCUMENTS out before the explode: the tokenize + per-cell md5
    # work then parallelizes while the exchange moves doc rows, not the
    # exploded token stream (depth x tokens tiny rows); no-op on an
    # already-split multi-file table
    d = fan_out(load(spark, sf_dir, "documents"), "doc_id")
    toks = d.select(
        F.explode(F.split(F.lower(F.col("text")), " ")).alias("tok")
    ).filter(F.col("tok") != "")
    cms = sketch.cms_build(toks, "tok", _CMS_DEPTH, _CMS_WIDTH)
    return sketch.cms_estimate(cms, _CMS_KEYS, _CMS_DEPTH, _CMS_WIDTH).orderBy(
        "key"
    )


@query(
    "pipeline_validate",
    oracle="""
    SELECT rule, n_violations, sample_id FROM (
      SELECT 'event_type_known' AS rule,
             CAST(sum(CASE WHEN NOT coalesce(
               event_type IN ('click','view','purchase','signup','error'),
               false) THEN 1 ELSE 0 END) AS BIGINT) AS n_violations,
             min(CASE WHEN NOT coalesce(
               event_type IN ('click','view','purchase','signup','error'),
               false) THEN event_id END) AS sample_id
      FROM events
      UNION ALL
      SELECT 'interaction_only',
             CAST(sum(CASE WHEN NOT coalesce(
               event_type IN ('click','view','purchase'), false)
               THEN 1 ELSE 0 END) AS BIGINT),
             min(CASE WHEN NOT coalesce(
               event_type IN ('click','view','purchase'), false)
               THEN event_id END)
      FROM events
      UNION ALL
      SELECT 'value_non_negative',
             CAST(sum(CASE WHEN NOT coalesce(value >= 0, false)
               THEN 1 ELSE 0 END) AS BIGINT),
             min(CASE WHEN NOT coalesce(value >= 0, false) THEN event_id END)
      FROM events
      UNION ALL
      SELECT 'value_under_100',
             CAST(sum(CASE WHEN NOT coalesce(value < 100, false)
               THEN 1 ELSE 0 END) AS BIGINT),
             min(CASE WHEN NOT coalesce(value < 100, false) THEN event_id END)
      FROM events
    ) t ORDER BY rule
    """,
)
def pipeline_validate(spark, sf_dir):
    """Data-quality gate (operators/curation.py::validate_rules): four
    named rules — two that hold, two that genuinely fail on this data —
    evaluated in ONE scan + ONE combinable aggregate; each reports its
    violation count and the smallest violating event_id as a
    deterministic reproducer. NULL rule results count as violations (a
    rule must evaluate TRUE to pass)."""
    from ..operators.curation import validate_rules

    e = load(spark, sf_dir, "events")
    rules = [
        (
            "event_type_known",
            F.col("event_type").isin(
                "click", "view", "purchase", "signup", "error"
            ),
        ),
        (
            "interaction_only",
            F.col("event_type").isin("click", "view", "purchase"),
        ),
        ("value_non_negative", F.col("value") >= 0),
        ("value_under_100", F.col("value") < 100),
    ]
    return validate_rules(e, rules, "event_id").orderBy("rule")


_BLOOM_M, _BLOOM_K = 65536, 4


@query(
    "sketch_bloom",
    oracle=f"""
    WITH f AS (
      SELECT doc_id,
             array_to_string(
               list_slice(
                 string_split(lower(regexp_replace(text, '\\s+', ' ', 'g')), ' '),
                 1, 5), ' ') AS fp
      FROM documents
    ), rows_ AS (
      SELECT CAST(r.range AS INTEGER) AS row_i FROM range(0, {_BLOOM_K}) r
    ), bloom AS (
      SELECT pos // 32 AS word_idx,
             bit_or(CAST(1 AS BIGINT) << (pos % 32)) AS bits
      FROM (SELECT CAST(md5_number_upper(CAST(row_i AS VARCHAR) || '|' || fp)
                        % {_BLOOM_M} AS INTEGER) AS pos
            FROM f, rows_ WHERE doc_id % 4 != 0)
      GROUP BY 1
    ), probes AS (
      SELECT doc_id,
             CAST(md5_number_upper(CAST(row_i AS VARCHAR) || '|' || fp)
                  % {_BLOOM_M} AS INTEGER) AS pos
      FROM f, rows_ WHERE doc_id % 4 = 0
    )
    SELECT doc_id,
           CAST(min(CASE WHEN coalesce(bits, 0)
                              & (CAST(1 AS BIGINT) << (pos % 32)) != 0
                     THEN 1 ELSE 0 END) AS INTEGER) AS maybe_present
    FROM probes LEFT JOIN bloom ON probes.pos // 32 = bloom.word_idx
    GROUP BY doc_id ORDER BY doc_id
    """,
)
def sketch_bloom(spark, sf_dir):
    """Bloom-filter ingest gate (operators/sketch.py::bloom_build/_check):
    the existing corpus (3/4 of documents) builds a sparse 65536-bit / 4-hash
    membership filter over a 5-token prefix fingerprint; the new batch (the
    other 1/4) probes it. maybe_present=0 is EXACT (definitely new — skip
    the signature path entirely); =1 routes to the full dedup_incremental
    machinery. Same keyed-md5 bucket function as sketch_cms, so the oracle
    replays the filter — false positives included — bit-for-bit."""
    from ..operators import sketch

    d = load(spark, sf_dir, "documents")
    fp = F.concat_ws(
        " ",
        F.slice(
            F.split(F.lower(F.regexp_replace(F.col("text"), r"\s+", " ")), " "),
            1,
            5,
        ),
    )
    f = d.select("doc_id", fp.alias("fp"))
    corpus = f.filter(F.col("doc_id") % 4 != 0)
    batch = f.filter(F.col("doc_id") % 4 == 0)
    bloom = sketch.bloom_build(corpus, "fp", _BLOOM_M, _BLOOM_K)
    checked = sketch.bloom_check(
        bloom, batch.select("fp").distinct(), "fp", _BLOOM_M, _BLOOM_K
    )
    return (
        batch.join(checked, "fp")
        .select("doc_id", F.col("maybe_present").cast("int").alias("maybe_present"))
        .orderBy("doc_id")
    )


@query(
    "text_tfidf",
    oracle="""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(lower(text), ' ')) AS token
      FROM documents
    ), tf AS (
      SELECT doc_id, token, count(*) AS tf
      FROM tok WHERE token <> '' GROUP BY 1, 2
    ), dfreq AS (
      SELECT token, count(*) AS df FROM tf GROUP BY 1
    ), nd AS (
      SELECT count(*) AS n_docs FROM documents
    ), scored AS (
      SELECT tf.doc_id, tf.token, tf.tf,
             round(tf.tf * (ln((n_docs + 1.0) / (df + 1.0)) + 1.0), 6)
               AS tfidf
      FROM tf JOIN dfreq USING (token), nd
    ), ranked AS (
      SELECT *, row_number() OVER (PARTITION BY doc_id
                                   ORDER BY tfidf DESC, token) AS rank
      FROM scored
    )
    SELECT doc_id, token, tf, tfidf, CAST(rank AS INTEGER) AS rank
    FROM ranked WHERE rank <= 3
    ORDER BY doc_id, rank
    """,
)
def text_tfidf(spark, sf_dir):
    """Per-document top-3 TF-IDF terms (operators/text.py::tfidf_topk) —
    keyword extraction for corpus indexing. Both engines rank by the
    ROUNDED score with the token as tie-break, so the ranking is immune to
    last-ulp ln() differences."""
    d = load(spark, sf_dir, "documents")
    return text.tfidf_topk(d, "text", "doc_id", 3).orderBy("doc_id", "rank")


@query(
    "text_lm_score",
    oracle="""
    WITH w AS (
      SELECT doc_id,
             list_filter(string_split(lower(text), ' '), x -> x <> '') AS ws
      FROM documents
    ), doc_pos AS (
      SELECT doc_id, ws, unnest(generate_series(1, len(ws) - 1)) AS i FROM w
    ), doc_bg AS (
      SELECT doc_id, ws[i] || ' ' || ws[i + 1] AS bg, ws[i] AS w1
      FROM doc_pos
    ), c2 AS (SELECT bg, count(*) AS c2 FROM doc_bg GROUP BY 1),
    c1 AS (SELECT w1, count(*) AS c1 FROM doc_bg GROUP BY 1),
    model AS (
      SELECT bg,
             CAST(round(ln(CAST(c2 AS DOUBLE) / c1) * 1000000) AS BIGINT)
               AS lp_fp
      FROM c2 JOIN c1 ON string_split(c2.bg, ' ')[1] = c1.w1
    )
    SELECT doc_id, count(*) AS n_bigrams,
           round((sum(lp_fp) / 1000000.0) / count(*), 6) AS lm_score
    FROM doc_bg JOIN model USING (bg)
    GROUP BY doc_id ORDER BY doc_id
    """,
)
def text_lm_score(spark, sf_dir):
    """Corpus-bigram LM quality score (operators/text.py::
    bigram_lm_scores): mean ln P(w2|w1) per document under the corpus's
    own MLE bigram model — the CCNet perplexity-filter signal. Per-bigram
    log-probs are fixed-point int64 before summing, so partial-aggregation
    order can never drift from the oracle."""
    d = load(spark, sf_dir, "documents")
    return text.bigram_lm_scores(d, "text", "doc_id").orderBy("doc_id")


@query(
    "sample_epoch_shuffle",
    oracle="""
    SELECT doc_id,
           CAST(row_number() OVER (
                  ORDER BY md5_number_upper('epoch0|' || CAST(doc_id AS VARCHAR)),
                           doc_id) - 1 AS BIGINT) AS train_pos
    FROM documents
    ORDER BY doc_id
    """,
)
def sample_epoch_shuffle(spark, sf_dir):
    """Deterministic epoch shuffle (operators/sampling.py::epoch_shuffle):
    every document gets its contiguous 0..N-1 training position in keyed-md5
    order via the scalable two-pass prefix form (range exchange + local
    rank + broadcast offsets — never a single-partition global window).
    The oracle's plain global window is definitionally the same order."""
    d = load(spark, sf_dir, "documents")
    return (
        sampling.epoch_shuffle(d, ["doc_id"], seed="epoch0")
        .select("doc_id", "train_pos")
        .orderBy("doc_id")
    )


def _bpe_oracle(k: int) -> str:
    """Unrolled k-round replay of operators/text.py::bpe_train_merges.
    DuckDB regexp backrefs are '\\1' where Spark's are '$1'; the
    double-space merge trick is plain replace() on both engines."""

    def round_ctes(r: int) -> str:
        prev = f"s{r - 1}"
        return f""",
    pc{r} AS (
      SELECT pair, CAST(sum(freq) AS BIGINT) AS cnt FROM (
        SELECT ws[i] || ' ' || ws[i+1] AS pair, freq FROM (
          SELECT string_split(s, ' ') AS ws, freq,
                 unnest(generate_series(1, len(string_split(s, ' ')) - 1)) AS i
          FROM {prev}) t) u
      GROUP BY pair
    ), best{r} AS (
      SELECT {r} AS merge_rank, pair, cnt
      FROM pc{r} ORDER BY cnt DESC, pair LIMIT 1
    ), s{r} AS (
      SELECT trim(regexp_replace(
               replace(' ' || replace(s, ' ', '  ') || ' ',
                       ' ' || replace(b.pair, ' ', '  ') || ' ',
                       ' ' || replace(b.pair, ' ', '') || ' '),
               ' +', ' ', 'g')) AS s, freq
      FROM {prev}, best{r} b
    )"""

    union = " UNION ALL ".join(f"SELECT * FROM best{r}" for r in range(1, k + 1))
    return (
        """
    WITH wf AS (
      SELECT word, count(*) AS freq FROM (
        SELECT unnest(string_split(lower(text), ' ')) AS word
        FROM documents) t
      WHERE word <> '' GROUP BY word
    ), s0 AS (
      SELECT trim(regexp_replace(word, '(.)', '\\1 ', 'g')) AS s, freq FROM wf
    )"""
        + "".join(round_ctes(r) for r in range(1, k + 1))
        + f"""
    SELECT merge_rank, pair, cnt FROM ({union}) ORDER BY merge_rank
    """
    )


def _bpe_apply_oracle(k: int) -> str:
    """Train-then-APPLY replay: the same unrolled merge rounds as
    _bpe_oracle but carrying the word through the chain, ending with
    per-document post-merge token counts."""

    def round_ctes(r: int) -> str:
        prev = f"s{r - 1}"
        return f""",
    pc{r} AS (
      SELECT pair, CAST(sum(freq) AS BIGINT) AS cnt FROM (
        SELECT ws[i] || ' ' || ws[i+1] AS pair, freq FROM (
          SELECT string_split(s, ' ') AS ws, freq,
                 unnest(generate_series(1, len(string_split(s, ' ')) - 1)) AS i
          FROM {prev}) t) u
      GROUP BY pair
    ), best{r} AS (
      SELECT pair FROM pc{r} ORDER BY cnt DESC, pair LIMIT 1
    ), s{r} AS (
      SELECT word, trim(regexp_replace(
               replace(' ' || replace(s, ' ', '  ') || ' ',
                       ' ' || replace(b.pair, ' ', '  ') || ' ',
                       ' ' || replace(b.pair, ' ', '') || ' '),
               ' +', ' ', 'g')) AS s, freq
      FROM {prev}, best{r} b
    )"""

    return (
        """
    WITH wf AS (
      SELECT word, count(*) AS freq FROM (
        SELECT unnest(string_split(lower(text), ' ')) AS word
        FROM documents) t
      WHERE word <> '' GROUP BY word
    ), s0 AS (
      SELECT word, trim(regexp_replace(word, '(.)', '\\1 ', 'g')) AS s, freq
      FROM wf
    )"""
        + "".join(round_ctes(r) for r in range(1, k + 1))
        + f"""
    , vtok AS (
      SELECT word, len(string_split(s, ' ')) AS ntok FROM s{k}
    ), docw AS (
      SELECT doc_id, unnest(string_split(lower(text), ' ')) AS word
      FROM documents
    )
    SELECT doc_id, CAST(sum(ntok) AS BIGINT) AS n_tokens
    FROM docw JOIN vtok USING (word)
    WHERE word <> ''
    GROUP BY doc_id ORDER BY doc_id
    """
    )


@query("text_bpe_apply", oracle=_bpe_apply_oracle(3))
def text_bpe_apply(spark, sf_dir):
    """Train 3 BPE merges, apply them, count per-document tokens
    (operators/text.py::bpe_apply_token_counts) — the end-to-end tokenizer
    path: merges train on the vocab, apply to the vocab, and the corpus
    pays one scan + one broadcast join + one combinable sum. The oracle
    replays training AND application in unrolled SQL."""
    d = load(spark, sf_dir, "documents")
    return text.bpe_apply_token_counts(d, "text", "doc_id", 3).orderBy(
        "doc_id"
    )


@query("text_bpe_merges", oracle=_bpe_oracle(3))
def text_bpe_merges(spark, sf_dir):
    """First 3 BPE tokenizer merges trained on the corpus
    (operators/text.py::bpe_train_merges): one corpus-scale word-frequency
    aggregate, then each merge round runs on the vocabulary table only.
    Pair choice is total-ordered (count DESC, pair ASC) and the merge
    application is lookbehind-free string surgery, so the 3-round training
    loop replays exactly in the unrolled SQL oracle."""
    d = load(spark, sf_dir, "documents")
    return text.bpe_train_merges(d, "text", 3).orderBy("merge_rank")


@query(
    "text_clf_score",
    oracle="""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(lower(text), ' ')) AS token
      FROM documents
    ), feats AS (
      SELECT doc_id,
             CAST(md5_number_upper('clf|' || token) % 4096 AS BIGINT) AS b
      FROM tok WHERE token <> ''
    ), weighted AS (
      SELECT doc_id,
             CAST(floor((b % 997) * 1000000.0 / 997) - 500000 AS BIGINT) AS w_fp
      FROM feats
    )
    SELECT doc_id, count(*) AS n_feats,
           round(1.0 / (1.0 + exp(-(CAST(sum(w_fp) AS BIGINT) / 1000000.0)
                                    / count(*))), 6) AS clf_score
    FROM weighted GROUP BY doc_id ORDER BY doc_id
    """,
)
def text_clf_score(spark, sf_dir):
    """Hashing-trick linear classifier inference (operators/text.py::
    hashed_linear_score): fasttext-style quality scoring as one projection
    + one hash aggregate — no UDF, no model server, corpus never
    shuffled. Fixed-point weight sums keep the aggregate exact, so the
    sigmoid replays in SQL to 6 dp."""
    d = load(spark, sf_dir, "documents")
    return text.hashed_linear_score(d, "text", "doc_id").orderBy("doc_id")


@query(
    "sample_mixture",
    oracle="""
    WITH counts AS (
      SELECT source, count(*) AS n_g FROM documents GROUP BY source
    ), rates AS (
      SELECT source, 40.0 / n_g AS rate FROM counts
    ), expanded AS (
      SELECT d.doc_id, d.source,
             unnest(generate_series(1,
               CAST(floor(r.rate) AS INTEGER) +
               CASE WHEN md5_number_upper('mix|' || CAST(d.doc_id AS VARCHAR))
                         % 1000000
                         < CAST((r.rate - floor(r.rate)) * 1000000 AS BIGINT)
                    THEN 1 ELSE 0 END)) AS rep
      FROM documents d JOIN rates r USING (source)
    )
    SELECT doc_id, source, rep FROM expanded
    ORDER BY doc_id, rep
    """,
)
def sample_mixture(spark, sf_dir):
    """Deterministic mixture resampling (operators/sampling.py::
    mixture_sample): every source up/down-sampled toward a 40-row budget —
    rate = 40/|group|, floor(rate) copies plus a keyed-md5 fractional
    keep. Group rates broadcast back; the expansion is a pure projection,
    zero corpus shuffle, decisions backfill-stable."""
    d = load(spark, sf_dir, "documents")
    out = sampling.mixture_sample(d, "source", 40.0, ["doc_id"])
    return out.select("doc_id", "source", "rep").orderBy("doc_id", "rep")


@query(
    "sketch_hll_merge",
    # like q08_approx: the estimate is engine-specific, but the accuracy
    # contract is pinned — per-source partial sketches unioned must land
    # within the HLL rsd envelope of the exact global distinct count
    oracle="""
    SELECT count(DISTINCT w) AS cnt_exact, true AS within_5pct,
           CAST(20 AS BIGINT) AS n_sketches
    FROM (SELECT unnest(string_split(lower(text), ' ')) AS w
          FROM documents) t
    WHERE w <> ''
    """,
)
def sketch_hll_merge(spark, sf_dir):
    """Mergeable distinct-count sketches (operators/sketch.py::
    hll_partial_sketches + hll_merge_estimate): one HLL sketch per source
    (the build-daily-merge-later pattern that replaces rescans at 100 TB),
    unioned and estimated, gated within ±5% of the exact global distinct
    token count."""
    from ..operators import sketch

    d = load(spark, sf_dir, "documents")
    toks = d.select(
        "source",
        F.explode(F.split(F.lower(F.col("text")), " ")).alias("tok"),
    ).filter(F.col("tok") != "")
    # Examined for single-pass sharing (optimization round 12) and left
    # three-pass DELIBERATELY: a (source, tok)-keyed repartition does get
    # all three consumers onto one reused exchange (tokenize once), but
    # it ships the RAW token stream through the shuffle, while the
    # three-pass shape's branches each partial-combine BEFORE their
    # exchange (distinct toks / distinct sources / per-task HLL partials
    # — all tiny). Interleaved A/B at sf0.1: 0.46 s three-pass vs 0.62 s
    # shared-exchange, slower in all 5 matched pairs; the explode is
    # cheaper than materializing the token stream at any realistic
    # token-dedup density, locally and at scale.
    sketches = sketch.hll_partial_sketches(toks, "source", "tok")
    merged = sketch.hll_merge_estimate(sketches)
    exact = toks.agg(
        F.countDistinct("tok").alias("cnt_exact"),
    )
    n_sk = sketches.agg(F.count(F.lit(1)).alias("n_sketches"))
    return (
        exact.crossJoin(F.broadcast(merged))
        .crossJoin(F.broadcast(n_sk))
        .select(
            "cnt_exact",
            (
                F.abs(F.col("est") - F.col("cnt_exact"))
                <= 0.05 * F.col("cnt_exact")
            ).alias("within_5pct"),
            "n_sketches",
        )
    )


@query(
    "dedup_semantic",
    # SemDeDup-shaped resolution over embeddings: banded-LSH cosine
    # pairs -> connected components -> keep each cluster's min-id vector;
    # the oracle replays buckets, cap, pairs, and clusters in one
    # recursive CTE
    oracle=f"""
    WITH RECURSIVE {_cosine_lsh_pairs_cte()}, edges AS (
      SELECT c.id1, c.id2
      FROM cand c
      JOIN bucketed a ON a.vec_id = c.id1
      JOIN bucketed b ON b.vec_id = c.id2
      WHERE round(list_dot_product(a.v, b.v)
                  / (sqrt(list_dot_product(a.v, a.v))
                     * sqrt(list_dot_product(b.v, b.v))), 6) >= 0.3
    ), sym AS (
      SELECT id1 AS a, id2 AS b FROM edges
      UNION
      SELECT id2, id1 FROM edges
    ), reach(node, r) AS (
      SELECT a, a FROM sym
      UNION
      SELECT s.a, reach.r FROM sym s JOIN reach ON s.b = reach.node
    ), comp AS (
      SELECT node, min(r) AS component FROM reach GROUP BY node
    )
    SELECT vec_id
    FROM embeddings
    WHERE vec_id NOT IN (SELECT node FROM comp WHERE component <> node)
    ORDER BY vec_id
    """,
)
def dedup_semantic(spark, sf_dir):
    """Semantic dedup resolution (SemDeDup shape): near-dup pairs from
    the banded-LSH cosine join (operators/dedup.py::cosine_pairs_lsh),
    clustered with connected components, one canonical vector kept per
    cluster via broadcast anti-join (resolve_duplicates). Zero corpus
    shuffle beyond the bucket-pairing pass."""
    e = load(spark, sf_dir, "embeddings")
    pairs = dedup.cosine_pairs_lsh(e, "embedding", "vec_id", threshold=0.3)
    return (
        dedup.resolve_duplicates(e, pairs, "vec_id")
        .select("vec_id")
        .orderBy("vec_id")
    )


def _phash_nibbles_sql() -> str:
    """DuckDB SQL rebuilding the 60-bit phash: 15 leading sha256 hex
    nibbles as one bigint (identical to Spark's conv(substr(h,1,15),16,10))."""
    terms = [
        f"(strpos('0123456789abcdef', substr(h, {i + 1}, 1)) - 1)"
        f" * {16 ** (14 - i)}"
        for i in range(15)
    ]
    return "(" + " + ".join(terms) + ")"


@query(
    "multimodal_phash_pairs",
    # the banded join is pigeonhole-COMPLETE for hamming < bands, so the
    # oracle is the stronger brute-force all-pairs check
    oracle=f"""
    WITH p AS (
      SELECT doc_id AS media_id,
             sha256(substr(text, 1, 100)) AS h
      FROM documents
    ), ph AS (
      SELECT media_id, CAST({_phash_nibbles_sql()} AS BIGINT) AS phash FROM p
    )
    SELECT a.media_id AS id1, b.media_id AS id2,
           CAST(bit_count(xor(a.phash, b.phash)) AS BIGINT) AS hamming
    FROM ph a JOIN ph b ON a.media_id < b.media_id
    WHERE bit_count(xor(a.phash, b.phash)) <= 3
    ORDER BY id1, id2
    """,
)
def multimodal_phash_pairs(spark, sf_dir):
    """Media near-dup pairing: thumbnail payloads (first 100 chars as the
    stand-in for a decoded thumbnail) -> 60-bit perceptual-hash stub
    (operators/multimodal.py::phash_stub) -> COMPLETE Hamming-banded join
    (operators/dedup.py::hamming_near_pairs, bits=60). The engine runs
    the banded LSH form; the oracle brute-forces all pairs — equality
    proves the banding lost nothing."""
    d = load(spark, sf_dir, "documents").withColumn(
        "payload", F.encode(F.substring("text", 1, 100), "UTF-8").cast("binary")
    )
    mm = multimodal.attach_metadata(d, "payload", "image", "doc_id")
    ph = multimodal.phash_stub(mm, bits=60)
    pairs = dedup.hamming_near_pairs(
        ph, "phash", "media_id", max_hamming=3, bands=4, bits=60
    )
    return pairs.select("id1", "id2", "hamming").orderBy("id1", "id2")


@query(
    "sim_recall_report",
    # both paths are deterministic (seeded planes, rounded-score ranking),
    # so the recall REPORT itself is exact — the oracle replays ANN and
    # exact side by side and computes the same per-probe intersection
    oracle=f"""
    WITH bucketed AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
             {_ann_bucket_sql()} AS bucket
      FROM embeddings
    ), q AS (
      SELECT vec_id AS query_id, v AS qv, bucket AS qb,
             sqrt(list_dot_product(v, v)) AS qn
      FROM bucketed WHERE vec_id % 50 = 0
    ), ann_r AS (
      SELECT q.query_id, c.vec_id AS neighbor_id,
             row_number() OVER (
               PARTITION BY q.query_id
               ORDER BY round(list_dot_product(c.v, q.qv)
                       / (sqrt(list_dot_product(c.v, c.v)) * q.qn), 6) DESC,
                        c.vec_id) AS rnk
      FROM bucketed c, q
      WHERE bit_count(xor(c.bucket, q.qb)) <= 2 AND c.vec_id <> q.query_id
    ), ex_r AS (
      SELECT q.query_id, c.vec_id AS neighbor_id,
             row_number() OVER (
               PARTITION BY q.query_id
               ORDER BY round(list_dot_product(c.v, q.qv)
                       / (sqrt(list_dot_product(c.v, c.v)) * q.qn), 6) DESC,
                        c.vec_id) AS rnk
      FROM bucketed c, q
      WHERE c.vec_id <> q.query_id
    ), hits AS (
      SELECT a.query_id, count(*) AS n_hits
      FROM (SELECT query_id, neighbor_id FROM ann_r WHERE rnk <= 10) a
      JOIN (SELECT query_id, neighbor_id FROM ex_r WHERE rnk <= 10) e
        USING (query_id, neighbor_id)
      GROUP BY a.query_id
    )
    SELECT query_id, round(coalesce(n_hits, 0) / 10.0, 4) AS recall10
    FROM q LEFT JOIN hits USING (query_id)
    ORDER BY query_id
    """,
)
def sim_recall_report(spark, sf_dir):
    """ANN quality evaluation as a first-class query: recall@10 of the
    multi-probe LSH path (operators/similarity.py::ann_knn_join — corpus
    bucketed once, probes explode to 37 bucket masks and EQUI-join, no
    nested loop) against the exact k-NN join, per probe. The eval you run
    before trusting an ANN index at 100 TB; here both paths are
    deterministic so even the report is hash-checked."""
    e = load(spark, sf_dir, "embeddings")
    probes = e.filter(F.col("vec_id") % 50 == 0)
    ann = similarity.ann_knn_join(e, probes, "embedding", "vec_id", 10)
    exact = similarity.knn_join(e, probes, "embedding", "vec_id", 10)
    hits = (
        ann.select("query_id", "neighbor_id")
        .join(exact.select("query_id", "neighbor_id"), ["query_id", "neighbor_id"])
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    return (
        probes.select(F.col("vec_id").alias("query_id"))
        .join(hits, "query_id", "left")
        .select(
            "query_id",
            F.round(F.coalesce(F.col("n_hits"), F.lit(0)) / 10.0, 4).alias(
                "recall10"
            ),
        )
        .orderBy("query_id")
    )


@query(
    "dedup_incremental",
    # same signature/banding replay as dedup_minhash, restricted to pairs
    # TOUCHING the new batch (doc_id >= 400) — corpus-vs-corpus pairs are
    # excluded by construction on both sides
    oracle=f"""
    WITH params(i, a, b) AS (
      VALUES {_minhash_params_values()}
    ), pos AS (
      SELECT doc_id, text, unnest(generate_series(1, length(text) - 4)) AS pos
      FROM documents
      WHERE text IS NOT NULL AND length(text) >= 5
    ), shingles AS (
      SELECT DISTINCT doc_id,
             (ascii(substr(text, pos, 1))
              + ascii(substr(text, pos + 1, 1)) * 257
              + ascii(substr(text, pos + 2, 1)) * 66049
              + ascii(substr(text, pos + 3, 1)) * 16974593
              + ascii(substr(text, pos + 4, 1)) * 4362470401) % 2147483647 AS h
      FROM pos
    ), sigs AS (
      SELECT doc_id, i, min((a * h + b) % 2147483647) AS mh
      FROM shingles CROSS JOIN params
      GROUP BY doc_id, i
    ), bands AS (
      SELECT doc_id, i // 4 AS band, list(mh ORDER BY i) AS slice
      FROM sigs GROUP BY doc_id, i // 4
    ), cand AS (
      SELECT DISTINCT b1.doc_id AS id1, b2.doc_id AS id2
      FROM bands b1 JOIN bands b2
        ON b1.band = b2.band AND b1.slice = b2.slice AND b1.doc_id < b2.doc_id
      WHERE b1.doc_id >= 400 OR b2.doc_id >= 400
    ), est AS (
      SELECT c.id1, c.id2,
             SUM(CASE WHEN s1.mh = s2.mh THEN 1 ELSE 0 END) / 64.0
               AS est_jaccard
      FROM cand c
      JOIN sigs s1 ON s1.doc_id = c.id1
      JOIN sigs s2 ON s2.doc_id = c.id2 AND s2.i = s1.i
      GROUP BY c.id1, c.id2
    )
    SELECT id1, id2, est_jaccard FROM est
    WHERE est_jaccard >= 0.5
    ORDER BY id1, id2
    """,
)
def dedup_incremental(spark, sf_dir):
    """Daily-ingest dedup (operators/dedup.py::incremental_minhash_pairs):
    docs with id >= 400 are 'today's batch', the rest the already-deduped
    corpus. Only pairs touching the batch are found — buckets with no new
    docs are dropped before any pair explodes, so candidate volume scales
    with the batch, not corpus^2."""
    d = load(spark, sf_dir, "documents")
    corpus = d.filter(F.col("doc_id") < 400)
    batch = d.filter(F.col("doc_id") >= 400)
    return dedup.incremental_minhash_pairs(
        corpus, batch, "text", "doc_id", threshold=0.5
    ).orderBy("id1", "id2")


@query(
    "text_repeated_spans",
    oracle="""
    WITH pos AS (
      SELECT doc_id, text,
             unnest(generate_series(1, greatest(length(text) - 19, 0))) AS p
      FROM documents
    ), grams AS (
      SELECT doc_id, md5(substr(text, p, 20)) AS g FROM pos
    ), dup AS (
      SELECT g FROM grams GROUP BY g HAVING count(*) > 1
    ), per_doc AS (
      SELECT doc_id,
             CAST(greatest(length(text) - 19, 0) AS BIGINT) AS n_windows
      FROM documents
    ), hits AS (
      SELECT doc_id, count(*) AS n_dup_windows
      FROM grams JOIN dup USING (g) GROUP BY doc_id
    )
    SELECT per_doc.doc_id, n_windows,
           coalesce(n_dup_windows, 0) AS n_dup_windows,
           round(coalesce(n_dup_windows, 0) / greatest(n_windows, 1), 6)
             AS dup_frac
    FROM per_doc LEFT JOIN hits ON per_doc.doc_id = hits.doc_id
    ORDER BY per_doc.doc_id
    """,
)
def text_repeated_spans(spark, sf_dir):
    """Exact repeated-substring coverage (operators/text.py::
    repeated_span_coverage): per document, the fraction of its 20-char
    windows that occur anywhere else in the corpus — the exhaustive Lee
    et al. verbatim-duplication signal (winnowing is its sampled form).
    One O(chars) explode in the scan stage, one map-side-combinable gram
    count, join back against the (boilerplate-sized) duplicated-gram
    set."""
    d = load(spark, sf_dir, "documents")
    return text.repeated_span_coverage(d, "text", "doc_id", 20).orderBy(
        "doc_id"
    )


@query(
    "pipeline_checksum",
    oracle="""
    SELECT count(*) AS n_rows,
           CAST(sum(md5_number_upper(CAST(o_orderkey AS VARCHAR) || '|'
                    || CAST(o_custkey AS VARCHAR) || '|'
                    || o_orderpriority))
                % 18446744073709551616 AS DECIMAL(20,0)) AS checksum
    FROM orders
    """,
)
def pipeline_checksum(spark, sf_dir):
    """Order-independent dataset fingerprint (operators/curation.py::
    dataset_checksum): sum of keyed row hashes mod 2^64 in ONE map-side-
    combinable aggregate — identical for any partitioning/row order/file
    layout, so ingest jobs verify 'same data?' across copies and engines
    without sorting. Columns here are ints + a string (float-to-string
    formatting differs across engines, so checksum keys should be
    integers/strings/decimals)."""
    from ..operators.curation import dataset_checksum

    o = load(spark, sf_dir, "orders")
    return dataset_checksum(o, ["o_orderkey", "o_custkey", "o_orderpriority"])


@query(
    "events_rolling_active",
    oracle="""
    WITH ph AS (
      SELECT DISTINCT user_id,
             date_trunc('hour', CAST(ts AS TIMESTAMP)) AS h
      FROM events
    ), hours AS (
      SELECT DISTINCT h FROM ph
    )
    SELECT hours.h AS hour, count(DISTINCT ph.user_id) AS active_users
    FROM hours JOIN ph
      ON ph.h BETWEEN hours.h - INTERVAL 2 HOUR AND hours.h
    GROUP BY hours.h
    ORDER BY hour
    """,
)
def events_rolling_active(spark, sf_dir):
    """Rolling 3-hour distinct active users per observed hour
    (operators/events.py::rolling_active_users) — the DAU/WAU primitive
    without count_distinct-over-window (which Spark lacks) or per-window
    scans: presence-smearing makes it two hash dedups and a count. The
    oracle is the direct interval-join definition."""
    from ..operators.events import rolling_active_users

    e = load(spark, sf_dir, "events")
    return rolling_active_users(e, "ts", "user_id", 3).orderBy("hour")


@query(
    "sim_decontaminate",
    # label-0 vectors are the "benchmark" probe set; any other vector with
    # cosine >= 0.3 to some probe is semantic leakage and is removed. Both
    # engines fold the dot product left-to-right and round to 6 places.
    oracle="""
    WITH p AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
      FROM embeddings WHERE label = 0
    ), c AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
      FROM embeddings WHERE label <> 0
    ), bad AS (
      SELECT DISTINCT c.vec_id
      FROM c JOIN p
        ON round(list_dot_product(c.v, p.v)
                 / (sqrt(list_dot_product(c.v, c.v))
                    * sqrt(list_dot_product(p.v, p.v))), 6) >= 0.3
    )
    SELECT vec_id FROM c WHERE vec_id NOT IN (SELECT vec_id FROM bad)
    ORDER BY vec_id
    """,
)
def sim_decontaminate(spark, sf_dir):
    """Embedding-space decontamination: drop corpus vectors within cosine
    0.3 of any benchmark (label-0) vector — the semantic complement of
    text_decontaminate's n-gram check. The probe set broadcasts; the
    corpus shuffles nothing but (id) flags."""
    e = load(spark, sf_dir, "embeddings")
    probes = e.where(F.col("label") == 0)
    # the broadcast verify does |probes| dot products per corpus row; fan
    # the corpus across cores when the scan arrives as one unsplittable file
    corpus = fan_out(e.where(F.col("label") != 0), "vec_id")
    return (
        similarity.semantic_decontaminate(
            corpus, probes, "embedding", "vec_id", threshold=0.3
        )
        .select("vec_id")
        .orderBy("vec_id")
    )


def _decontaminate_lsh_oracle(max_bucket: int = 10_000) -> str:
    """Replay semantic_decontaminate_lsh: banded buckets on both sides,
    probe-side bucket cap, distinct (corpus, probe) candidates, exact
    cosine verify, anti-join."""
    bexprs = _banded_bucket_sql()
    selects = ",\n             ".join(
        f"{e} AS b{i}" for i, e in enumerate(bexprs)
    )
    banded = "\n      UNION ALL ".join(
        f"SELECT vec_id, label, {i} AS band, b{i} AS bucket FROM bucketed"
        for i in range(4)
    )
    return f"""
    WITH bucketed AS (
      SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v,
             {selects}
      FROM embeddings
    ), banded AS (
      {banded}
    ), cband AS (
      SELECT vec_id, band, bucket FROM banded WHERE label <> 0
    ), pband AS (
      SELECT vec_id, band, bucket FROM banded WHERE label = 0
    ), sized AS (
      SELECT band, bucket, count(*) AS n FROM pband GROUP BY 1, 2
    ), cand AS (
      SELECT DISTINCT c.vec_id AS cid, p.vec_id AS pid
      FROM cband c
      JOIN pband p ON c.band = p.band AND c.bucket = p.bucket
      JOIN sized s ON s.band = c.band AND s.bucket = c.bucket
      WHERE s.n <= {max_bucket}
    ), bad AS (
      SELECT DISTINCT cand.cid AS vec_id
      FROM cand
      JOIN bucketed a ON a.vec_id = cand.cid
      JOIN bucketed b ON b.vec_id = cand.pid
      WHERE round(list_dot_product(a.v, b.v)
                  / (sqrt(list_dot_product(a.v, a.v))
                     * sqrt(list_dot_product(b.v, b.v))), 6) >= 0.3
    )
    SELECT vec_id FROM embeddings
    WHERE label <> 0 AND vec_id NOT IN (SELECT vec_id FROM bad)
    ORDER BY vec_id
    """


@query("sim_decontaminate_lsh", oracle=_decontaminate_lsh_oracle())
def sim_decontaminate_lsh(spark, sf_dir):
    """The unbroadcastable-probe-set path of sim_decontaminate
    (operators/similarity.py::semantic_decontaminate_lsh): both sides
    banded-LSH bucketed, probe-side bucket cap, cosine verify only on
    colliding candidates — no broadcast, no corpus x probes product. The
    oracle replays buckets, cap, candidates, and verify exactly."""
    e = load(spark, sf_dir, "embeddings")
    probes = e.where(F.col("label") == 0)
    corpus = e.where(F.col("label") != 0)
    return (
        similarity.semantic_decontaminate_lsh(
            corpus, probes, "embedding", "vec_id", threshold=0.3
        )
        .select("vec_id")
        .orderBy("vec_id")
    )


# --- round-5 additions: reservoir sample, quantile sketch, compaction plan,
# --- salted skew join ---------------------------------------------------------


@query(
    "sample_reservoir",
    # the k smallest keyed md5 hashes == a deterministic reservoir sample;
    # the oracle replays the ORDER BY hash LIMIT k pick exactly
    oracle="""
    SELECT doc_id, source FROM (
      SELECT doc_id, source
      FROM documents
      ORDER BY md5_number_upper(CAST(doc_id AS VARCHAR)), doc_id
      LIMIT 120
    ) t
    ORDER BY doc_id
    """,
)
def sample_reservoir(spark, sf_dir):
    """Fixed-size global sample (operators/sampling.py::reservoir_take):
    exactly k rows by smallest keyed hash. Spark plans the orderBy+limit
    as TakeOrderedAndProject — per-partition O(k) heaps, no data shuffle —
    so the cost at 100 TB is the scan, and the pick is a pure function of
    the data (stable under re-runs and repartitioning)."""
    d = load(spark, sf_dir, "documents")
    return (
        sampling.reservoir_take(d, 120, ["doc_id"])
        .select("doc_id", "source")
        .orderBy("doc_id")
    )


@query(
    "sketch_quantile",
    # bins, cumulative pick, and (bin+1)*width finish are all integer
    # arithmetic; floor(value/width) is the same IEEE-754 expression in
    # both engines, so the sketch — including its one-bin-width error —
    # replays exactly
    oracle="""
    WITH bins AS (
      SELECT CAST(floor(value / 20) AS BIGINT) AS bin, count(*) AS cnt
      FROM events WHERE value IS NOT NULL GROUP BY 1
    ),
    cum AS (
      SELECT bin,
             sum(cnt) OVER (ORDER BY bin
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cum,
             sum(cnt) OVER () AS n
      FROM bins
    ),
    q(q_ppm) AS (VALUES (500000), (900000), (990000))
    SELECT CAST(q_ppm AS BIGINT) AS q_ppm,
           CAST(max(n) AS BIGINT) AS n,
           CAST((min(bin) + 1) * 20 AS BIGINT) AS est
    FROM cum CROSS JOIN q
    WHERE cum * 1000000 >= q_ppm * n
    GROUP BY q_ppm
    ORDER BY q_ppm
    """,
)
def sketch_quantile(spark, sf_dir):
    """Mergeable quantile estimation (operators/sketch.py): ONE
    map-side-combinable bin-count aggregate over the scan (the sketch),
    then the quantile pick runs on the catalog-sized bin table. p50/p90/p99
    of events.value with error <= one bin width; all finishing arithmetic
    is integer ppm, so the estimate is deterministic and SQL-replayable —
    unlike rank-based sketches whose cells depend on arrival order."""
    from ..operators import sketch

    e = load(spark, sf_dir, "events")
    bins = sketch.quantile_bin_sketch(e, "value", 20)
    return sketch.quantile_from_bins(
        bins, 20, [500_000, 900_000, 990_000]
    ).orderBy("q_ppm")


@query(
    "pipeline_compact_plan",
    # sequential fill over the size-descending order: grp = which
    # target-sized slot the file's cumulative start offset lands in
    oracle="""
    WITH inv AS (
      SELECT source, lang, CAST(sum(n_chars) AS BIGINT) AS bytes
      FROM documents GROUP BY source, lang
    )
    SELECT source, lang, bytes,
           CAST(floor((sum(bytes) OVER (ORDER BY bytes DESC, source, lang
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       - bytes) / 10000) AS BIGINT) AS grp
    FROM inv
    ORDER BY source, lang
    """,
)
def pipeline_compact_plan(spark, sf_dir):
    """Small-file compaction planner (operators/layout.py::compaction_plan):
    bin-pack a file inventory into ~target-byte rewrite jobs by
    next-fit-decreasing, expressed as one window over CATALOG metadata (a
    row per file), so planning cost is independent of data size. The
    inventory here is documents grouped by (source, lang) standing in for
    a file listing; each grp feeds format/merge.py's stripe concatenation."""
    from ..operators import layout

    d = load(spark, sf_dir, "documents")
    inv = d.groupBy("source", "lang").agg(
        F.sum("n_chars").cast("bigint").alias("bytes")
    )
    plan = layout.compaction_plan(
        inv, "bytes", 10_000, id_cols=["source", "lang"]
    )
    return plan.select("source", "lang", "bytes", "grp").orderBy(
        "source", "lang"
    )


@query(
    "skew_join",
    # salting must never change results: the oracle is the PLAIN join +
    # group-by (the dim join is an identity enrichment on event_type)
    oracle="""
    SELECT e.event_type, CAST(length(e.event_type) AS INTEGER) AS w,
           CAST(count(*) AS BIGINT) AS cnt,
           CAST(sum(CAST(floor(value * 10000 + 0.5) AS BIGINT)) AS BIGINT)
             AS sum_e4
    FROM events e
    JOIN (SELECT DISTINCT event_type FROM events) d USING (event_type)
    GROUP BY 1, 2
    ORDER BY 1
    """,
)
def skew_join_q(spark, sf_dir):
    """Salted broadcast join (operators/skew.py::salted_broadcast_left)
    against a hot-keyed stream side: the tiny dim is exploded
    salt_buckets-fold and each fact row draws a salt, so one hot key's
    rows spread over many tasks instead of hammering one. The per-key
    aggregate on top is value-identical to the unsalted plan (fixed-point
    e4 sums, so composition is exact integer arithmetic)."""
    from ..operators.skew import salted_broadcast_left

    e = load(spark, sf_dir, "events")
    dim = (
        e.select("event_type")
        .distinct()
        .withColumn("w", F.length("event_type"))
    )
    joined = salted_broadcast_left(e, dim, "event_type", salt_buckets=8)
    return (
        joined.groupBy("event_type", "w")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum(
                F.floor(F.col("value") * 10000 + 0.5).cast("bigint")
            ).alias("sum_e4"),
        )
        .orderBy("event_type")
    )


@query(
    "pipeline_budget_select",
    # two-pass histogram threshold: whole bins in by cumulative fit, the
    # single boundary bin ranked by keyed md5 until the remainder fills —
    # all integer arithmetic, replayed bin-for-bin here
    oracle="""
    WITH scored AS (
      SELECT doc_id,
             CAST((len(list_filter(string_split(lower(text), ' '),
                                   w -> w <> '')) * 10000)
                  // greatest(n_chars, 1) AS BIGINT) AS s,
             CAST(len(list_filter(string_split(lower(text), ' '),
                                  w -> w <> '')) AS BIGINT) AS tok
      FROM documents
    ),
    hist AS (SELECT s, sum(tok) AS btok FROM scored GROUP BY s),
    cum AS (
      SELECT s, btok,
             sum(btok) OVER (ORDER BY s DESC
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cum
      FROM hist
    ),
    b AS (
      SELECT s, 12000 - (cum - btok) AS rem
      FROM cum WHERE cum - btok < 12000 AND cum > 12000
    ),
    whole AS (
      SELECT d.doc_id, d.s, d.tok FROM scored d
      JOIN cum c USING (s) WHERE c.cum <= 12000
    ),
    part AS (
      SELECT doc_id, s, tok FROM (
        SELECT d.doc_id, d.s, d.tok, b.rem,
               sum(d.tok) OVER (
                 ORDER BY md5_number_upper(CAST(d.doc_id AS VARCHAR)), d.doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run
        FROM scored d JOIN b USING (s)
      ) WHERE run <= rem
    )
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           CAST(s AS BIGINT) AS s, CAST(tok AS BIGINT) AS tok
    FROM (SELECT * FROM whole UNION ALL SELECT * FROM part)
    ORDER BY doc_id
    """,
)
def pipeline_budget_select(spark, sf_dir):
    """Token-budget dataset selection (operators/curation.py::budget_select):
    fill a 12k-word budget with the densest documents (integer word-density
    e4 score) WITHOUT a global sort — whole score bins selected via a
    broadcast semi-join, only the boundary bin pays a per-row window. The
    shape a "best N tokens" pre-training selection runs at 100 TB."""
    from ..operators import curation

    d = load(spark, sf_dir, "documents")
    # tokenize ONCE; the density score derives from tok so the two can
    # never drift apart
    words = F.filter(F.split(F.lower(F.col("text")), " "), lambda w: w != "")
    scored = d.select(
        "doc_id", "n_chars", F.size(words).cast("bigint").alias("tok")
    ).select(
        "doc_id",
        F.expr("(tok * 10000) div greatest(n_chars, 1)")
        .cast("bigint")
        .alias("s"),
        "tok",
    )
    sel = curation.budget_select(scored, "s", "tok", 12_000, ["doc_id"])
    return sel.select("doc_id", "s", "tok").orderBy("doc_id")


@query(
    "embedding_gram",
    # e4 quantization (floor(x*1e4+0.5), ties toward +inf — repo convention)
    # makes every product an exact int64; the oracle replays the quantized
    # outer-product sums pair-for-pair. generate_subscripts is 1-based, as
    # is the operator's output
    oracle="""
    WITH v AS (
      SELECT vec_id,
             generate_subscripts(embedding, 1) AS i,
             CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 10000 + 0.5)
                  AS BIGINT) AS x
      FROM embeddings
    )
    SELECT CAST(a.i AS INTEGER) AS i, CAST(b.i AS INTEGER) AS j,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(a.x * b.x) AS BIGINT) AS s_e8
    FROM v a JOIN v b ON a.vec_id = b.vec_id AND b.i >= a.i
    GROUP BY a.i, b.i
    ORDER BY i, j
    """,
)
def embedding_gram(spark, sf_dir):
    """Exact mergeable Gram matrix (operators/similarity.py::gram_pairs):
    per-batch int64 numpy matmuls emit d*(d+1)/2-row partials (independent
    of batch row count), combined by one tiny-key aggregate — the
    distributed half of PCA/whitening; the d x d eigensolve is driver-side.
    The shuffle carries O(partitions * d^2) cells at any corpus size."""
    e = load(spark, sf_dir, "embeddings")
    return similarity.gram_pairs(e, "embedding").orderBy("i", "j")


@query(
    "embedding_pca",
    # an eigendecomposition is not SQL-expressible, so (sim_ivf precedent)
    # the checkable contract is PROPERTIES, including one DISTRIBUTED
    # check: the corpus-wide variance of the first projected component
    # must equal the first eigenvalue (Var(v'x) = v'Cov v), computed from
    # the same quantized values the covariance was built from
    oracle="""
    SELECT 8 AS p, true AS orthonormal, true AS eigs_desc,
           true AS var_matches
    """,
)
def embedding_pca(spark, sf_dir):
    """PCA over the embedding corpus
    (operators/similarity.py::pca_basis/pca_project): covariance from
    EXACT integer sufficient statistics (one gram scan + one sum scan —
    both mergeable aggregates whose shuffles carry d^2/d cells at any
    corpus size), d x d eigensolve driver-side, projection as shuffle-free
    literal-folded expressions. Emits the property verdicts: basis
    orthonormality, eigenvalue ordering, and the distributed
    variance-equals-eigenvalue check."""
    import numpy as np

    e = load(spark, sf_dir, "embeddings")
    w, V, n = similarity.pca_basis(e, "embedding", 8)
    orthonormal = bool(np.max(np.abs(V @ V.T - np.eye(len(V)))) < 1e-8)
    eigs_desc = bool(np.all(np.diff(w) <= 1e-12))
    # variance check on the SAME quantized values the covariance used
    eq = e.select(
        "vec_id",
        F.transform(
            F.col("embedding"),
            lambda x: F.floor(x.cast("double") * 10000 + F.lit(0.5)) / 10000,
        ).alias("embedding"),
    )
    pr = similarity.pca_project(eq, "embedding", "vec_id", V[:1])
    st = pr.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("comp").alias("s"),
        F.sum(F.col("comp") * F.col("comp")).alias("ss"),
    ).collect()[0]
    var = st.ss / st.n - (st.s / st.n) ** 2
    var_matches = bool(
        abs(var - w[0]) <= 1e-6 * max(abs(float(w[0])), 1e-9)
    )
    return local_frame(
        spark,
        [(8, orthonormal, eigs_desc, var_matches)],
        "p INT, orthonormal BOOLEAN, eigs_desc BOOLEAN, var_matches BOOLEAN",
    )


@query(
    "pipeline_rate_ci",
    # counts are exact integers; the Wilson bounds are the identical
    # closed-form double expression tree in both engines, rounded at 6
    # decimals (text_bm25 float precedent)
    oracle="""
    WITH g AS (
      SELECT source,
             CAST(sum(CASE WHEN n_chars < 600 THEN 1 ELSE 0 END) AS BIGINT)
               AS k,
             CAST(count(*) AS BIGINT) AS n
      FROM documents GROUP BY source
    )
    SELECT source, n, k,
           round(k * 1.0 / n, 6) AS rate,
           round(((k * 1.0 / n) + 1.96 * 1.96 / (2 * (n * 1.0)))
                   / (1 + 1.96 * 1.96 / (n * 1.0))
                 - 1.96 * sqrt((k * 1.0 / n) * (1 - k * 1.0 / n) / (n * 1.0)
                               + 1.96 * 1.96 / (4 * (n * 1.0) * (n * 1.0)))
                   / (1 + 1.96 * 1.96 / (n * 1.0)), 6) AS lo,
           round(((k * 1.0 / n) + 1.96 * 1.96 / (2 * (n * 1.0)))
                   / (1 + 1.96 * 1.96 / (n * 1.0))
                 + 1.96 * sqrt((k * 1.0 / n) * (1 - k * 1.0 / n) / (n * 1.0)
                               + 1.96 * 1.96 / (4 * (n * 1.0) * (n * 1.0)))
                   / (1 + 1.96 * 1.96 / (n * 1.0)), 6) AS hi
    FROM g ORDER BY source
    """,
)
def pipeline_rate_ci(spark, sf_dir):
    """Per-source short-document rate with a Wilson 95% interval
    (operators/curation.py::rate_wilson_ci): ONE combinable aggregate
    over the scan, closed-form bounds on the group table — the "is this
    source's failure rate actually higher?" primitive, stable at k=0/k=n
    where normal intervals collapse."""
    from ..operators import curation

    d = load(spark, sf_dir, "documents")
    return curation.rate_wilson_ci(
        d, F.col("n_chars") < 600, ["source"]
    ).orderBy("source")


@query(
    "pipeline_fk_check",
    oracle="""
    SELECT 'orders.o_custkey->customer' AS fk,
           CAST((SELECT count(*) FROM orders o
                 WHERE o.o_custkey IS NOT NULL
                   AND NOT EXISTS (SELECT 1 FROM customer c
                                   WHERE c.c_custkey = o.o_custkey))
                AS BIGINT) AS n_orphans,
           CAST((SELECT count(*) FROM orders) AS BIGINT) AS n_rows
    UNION ALL
    SELECT 'lineitem.l_orderkey->orders',
           CAST((SELECT count(*) FROM lineitem l
                 WHERE l.l_orderkey IS NOT NULL
                   AND NOT EXISTS (SELECT 1 FROM orders o
                                   WHERE o.o_orderkey = l.l_orderkey))
                AS BIGINT),
           CAST((SELECT count(*) FROM lineitem) AS BIGINT)
    UNION ALL
    SELECT 'lineitem.l_partkey->part',
           CAST((SELECT count(*) FROM lineitem l
                 WHERE l.l_partkey IS NOT NULL
                   AND NOT EXISTS (SELECT 1 FROM part p
                                   WHERE p.p_partkey = l.l_partkey))
                AS BIGINT),
           CAST((SELECT count(*) FROM lineitem) AS BIGINT)
    ORDER BY fk
    """,
)
def pipeline_fk_check(spark, sf_dir):
    """Referential-integrity audit across the warehouse: orphan counts
    for three foreign keys as LEFT-ANTI joins (each one shuffle, or a
    broadcast when the parent's key column fits — Catalyst picks), plus
    the row totals for rate context. The cross-table half of data-quality
    validation that pipeline_validate's single-table rules can't express;
    at 100 TB each check is join-shaped, never a collect."""
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    li = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part")

    def check(child, key, parent, pkey, name):
        orphans = (
            child.filter(F.col(key).isNotNull())
            .join(parent.select(pkey), child[key] == parent[pkey], "left_anti")
            .agg(F.count(F.lit(1)).alias("n_orphans"))
        )
        total = child.agg(F.count(F.lit(1)).alias("n_rows"))
        return (
            orphans.crossJoin(total)
            .select(
                F.lit(name).alias("fk"),
                F.col("n_orphans").cast("bigint"),
                F.col("n_rows").cast("bigint"),
            )
        )

    out = (
        check(o, "o_custkey", c, "c_custkey", "orders.o_custkey->customer")
        .unionByName(
            check(li, "l_orderkey", o, "o_orderkey",
                  "lineitem.l_orderkey->orders")
        )
        .unionByName(
            check(li, "l_partkey", p, "p_partkey",
                  "lineitem.l_partkey->part")
        )
    )
    return out.orderBy("fk")


@query(
    "sample_bootstrap_ci",
    # replica assignment is the shared keyed-md5 (md5_number_upper % B),
    # replica means are integer floor-means of e4-quantized values, and
    # the percentile pick is an integer rank threshold — the interval
    # replays exactly
    oracle="""
    WITH means AS (
      SELECT md5_number_upper('boot|' || CAST(event_id AS VARCHAR)) % 32
               AS replica,
             CAST(floor(sum(floor(CAST(value AS DOUBLE) * 10000 + 0.5))
                        * 1.0 / count(*)) AS BIGINT) AS mean_e4
      FROM events WHERE value IS NOT NULL
      GROUP BY 1
    ),
    ranked AS (
      SELECT mean_e4,
             row_number() OVER (ORDER BY mean_e4, replica) AS rn,
             count(*) OVER () AS b
      FROM means
    ),
    lo AS (
      SELECT min(mean_e4) AS mean_lo_e4, max(b) AS b
      FROM ranked WHERE rn * 1000000 >= 50000 * b
    ),
    hi AS (
      SELECT min(mean_e4) AS mean_hi_e4
      FROM ranked WHERE rn * 1000000 >= 950000 * b
    )
    SELECT CAST(b AS BIGINT) AS b,
           CAST(mean_lo_e4 AS BIGINT) AS mean_lo_e4,
           CAST(mean_hi_e4 AS BIGINT) AS mean_hi_e4
    FROM lo CROSS JOIN hi
    """,
)
def sample_bootstrap_ci(spark, sf_dir):
    """Distribution-free confidence interval on the corpus mean
    (operators/sampling.py::bootstrap_mean_ci): 32 deterministic md5
    replicas, ONE combinable aggregate over the scan, percentile pick on
    the 32-row replica table — error bars for "is this metric shift real?"
    at the cost of a count, with no RNG and no distributional
    assumptions."""
    e = load(spark, sf_dir, "events")
    return sampling.bootstrap_mean_ci(
        e, "value", ["event_id"], n_replicas=32
    )


@query(
    "sketch_quantile_merge",
    # the merged-sketch quantiles must equal the single-pass sketch
    # BIT-FOR-BIT (merge = per-bin count sum), so the oracle is
    # sketch_quantile's whole-corpus replay, unchanged — passing proves
    # the mergeability contract end-to-end, not approximately
    oracle="""
    WITH bins AS (
      SELECT CAST(floor(value / 20) AS BIGINT) AS bin, count(*) AS cnt
      FROM events WHERE value IS NOT NULL GROUP BY 1
    ),
    cum AS (
      SELECT bin,
             sum(cnt) OVER (ORDER BY bin
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cum,
             sum(cnt) OVER () AS n
      FROM bins
    ),
    q(q_ppm) AS (VALUES (500000), (900000), (990000))
    SELECT CAST(q_ppm AS BIGINT) AS q_ppm,
           CAST(max(n) AS BIGINT) AS n,
           CAST((min(bin) + 1) * 20 AS BIGINT) AS est
    FROM cum CROSS JOIN q
    WHERE cum * 1000000 >= q_ppm * n
    GROUP BY q_ppm
    ORDER BY q_ppm
    """,
)
def sketch_quantile_merge(spark, sf_dir):
    """The mergeability contract, demonstrated end-to-end: two bin
    sketches built INDEPENDENTLY over disjoint halves of the corpus
    (even/odd event ids — per-day/per-partition sketches in production)
    merge by one per-bin count sum, and the finished quantiles equal the
    single-pass sketch exactly — the oracle is sketch_quantile's
    whole-corpus replay, unchanged. This is what lets a 100 TB pipeline
    keep per-partition sketches and answer global quantiles without ever
    rescanning: merge cost is bins x partitions rows, zero data."""
    from ..operators import sketch

    e = load(spark, sf_dir, "events")
    a = e.filter(F.pmod(F.col("event_id"), F.lit(2)) == 0)
    b = e.filter(F.pmod(F.col("event_id"), F.lit(2)) == 1)
    merged = (
        sketch.quantile_bin_sketch(a, "value", 20)
        .unionByName(sketch.quantile_bin_sketch(b, "value", 20))
        .groupBy("bin")
        .agg(F.sum("cnt").alias("cnt"))
    )
    return sketch.quantile_from_bins(
        merged, 20, [500_000, 900_000, 990_000]
    ).orderBy("q_ppm")


@query(
    "sketch_join_size",
    # the md5 bucket function is the one cms_build uses (fast 16-bit path
    # == md5_number_upper % width), so both sketches — and therefore the
    # inner-product estimate, collisions included — replay exactly; the
    # exact join count rides along to show the bound held
    oracle="""
    WITH rows_ AS (
      SELECT CAST(r.range AS INTEGER) AS row_i FROM range(0, 4) r
    ),
    a AS (
      SELECT row_i,
             CAST(md5_number_upper(CAST(row_i AS VARCHAR) || '|'
                                   || CAST(o_custkey AS VARCHAR))
                  % 1024 AS INTEGER) AS bucket,
             count(*) AS cnt
      FROM orders, rows_ WHERE o_custkey IS NOT NULL GROUP BY 1, 2
    ),
    b AS (
      SELECT row_i,
             CAST(md5_number_upper(CAST(row_i AS VARCHAR) || '|'
                                   || CAST(c_custkey AS VARCHAR))
                  % 1024 AS INTEGER) AS bucket,
             count(*) AS cnt_b
      FROM customer, rows_ WHERE c_custkey IS NOT NULL GROUP BY 1, 2
    ),
    ov AS (
      SELECT a.row_i, sum(a.cnt * b.cnt_b) AS p
      FROM a JOIN b USING (row_i, bucket) GROUP BY a.row_i
    ),
    ip AS (
      SELECT r.row_i, coalesce(ov.p, 0) AS p
      FROM rows_ r LEFT JOIN ov USING (row_i)
    )
    SELECT CAST((SELECT min(p) FROM ip) AS BIGINT) AS est,
           CAST((SELECT count(*) FROM orders JOIN customer
                 ON o_custkey = c_custkey) AS BIGINT) AS exact_n
    """,
)
def sketch_join_size(spark, sf_dir):
    """Join-cardinality estimation WITHOUT running the join
    (operators/sketch.py::cms_inner_product): CMS sketches of both key
    columns (one combinable aggregate per side, depth x width cells) meet
    in a catalog-sized inner product whose min-over-rows estimates
    |orders JOIN customer| from above. At 100 TB this prices a join from
    previously-maintained sketches at driver-adjacent cost; the exact
    count rides along to exhibit the one-sided bound."""
    from ..operators import sketch

    o = load(spark, sf_dir, "orders").filter(F.col("o_custkey").isNotNull())
    c = load(spark, sf_dir, "customer").filter(F.col("c_custkey").isNotNull())
    sa = sketch.cms_build(o.select(F.col("o_custkey")), "o_custkey", 4, 1024)
    sb = sketch.cms_build(c.select(F.col("c_custkey")), "c_custkey", 4, 1024)
    est = sketch.cms_inner_product(sa, sb)
    exact = o.join(c, o["o_custkey"] == c["c_custkey"]).agg(
        F.count(F.lit(1)).alias("exact_n")
    )
    return est.crossJoin(exact)


@query(
    "events_outliers_mad",
    # the detector is three sketch/count aggregates with integer bin-edge
    # thresholds throughout, so median, MAD, and the outlier count all
    # replay exactly
    oracle="""
    WITH v AS (SELECT value FROM events WHERE value IS NOT NULL),
    bins AS (
      SELECT CAST(floor(value / 20) AS BIGINT) AS bin, count(*) AS cnt
      FROM v GROUP BY 1
    ),
    cum AS (
      SELECT bin,
             sum(cnt) OVER (ORDER BY bin
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cum,
             sum(cnt) OVER () AS n
      FROM bins
    ),
    med AS (
      SELECT CAST(max(n) AS BIGINT) AS n,
             CAST((min(bin) + 1) * 20 AS BIGINT) AS med
      FROM cum WHERE cum * 1000000 >= 500000 * n
    ),
    dbins AS (
      SELECT CAST(floor(abs(value - med) / 20) AS BIGINT) AS bin,
             count(*) AS cnt
      FROM v CROSS JOIN med GROUP BY 1
    ),
    dcum AS (
      SELECT bin,
             sum(cnt) OVER (ORDER BY bin
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cum,
             sum(cnt) OVER () AS n
      FROM dbins
    ),
    mad AS (
      SELECT CAST((min(bin) + 1) * 20 AS BIGINT) AS mad
      FROM dcum WHERE cum * 1000000 >= 500000 * n
    )
    SELECT med.n, med.med AS med_est, mad.mad AS mad_est,
           CAST(sum(CASE WHEN abs(value - med.med) > 3 * mad.mad
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
    FROM v CROSS JOIN med CROSS JOIN mad
    GROUP BY 1, 2, 3
    """,
)
def events_outliers_mad(spark, sf_dir):
    """Robust outlier count via Median-Absolute-Deviation
    (operators/sketch.py::mad_outliers): three combinable sketch/count
    passes with 1-row broadcasts between them — the heavy-tail-safe
    alternative to z-scores whose mean/stddev the outliers themselves
    drag. Integer bin-edge thresholds keep the whole detector
    deterministic and SQL-replayable at any scale."""
    from ..operators import sketch

    e = load(spark, sf_dir, "events")
    return sketch.mad_outliers(e, "value", 20, k=3)


@query(
    "pipeline_drift_psi",
    # both snapshots reduce to the mergeable bin sketch; smoothing is
    # Laplace add-1 (no epsilon hyperparameter), proportions are single
    # double divisions of exact integers, and the 6-decimal rounding
    # absorbs last-ulp libm ln differences (text_bm25 precedent)
    oracle="""
    WITH a AS (
      SELECT CAST(floor(value / 20) AS BIGINT) AS bin, count(*) AS cnt_a
      FROM events WHERE value IS NOT NULL AND event_id % 2 = 0 GROUP BY 1
    ),
    b AS (
      SELECT CAST(floor(value / 20) AS BIGINT) AS bin, count(*) AS cnt_b
      FROM events WHERE value IS NOT NULL AND event_id % 2 = 1 GROUP BY 1
    ),
    j AS (
      SELECT coalesce(a.bin, b.bin) AS bin,
             coalesce(cnt_a, 0) AS cnt_a, coalesce(cnt_b, 0) AS cnt_b
      FROM a FULL OUTER JOIN b USING (bin)
    ),
    t AS (SELECT sum(cnt_a) AS n_a, sum(cnt_b) AS n_b,
                 count(*) AS n_bins FROM j)
    SELECT bin, CAST(cnt_a AS BIGINT) AS cnt_a,
           CAST(cnt_b AS BIGINT) AS cnt_b,
           round(
             (CAST(cnt_a + 1 AS DOUBLE) / (n_a + n_bins)
              - CAST(cnt_b + 1 AS DOUBLE) / (n_b + n_bins))
             * ln((CAST(cnt_a + 1 AS DOUBLE) / (n_a + n_bins))
                  / (CAST(cnt_b + 1 AS DOUBLE) / (n_b + n_bins))),
             6) AS psi_contrib
    FROM j CROSS JOIN t
    ORDER BY bin
    """,
)
def pipeline_drift_psi(spark, sf_dir):
    """Population-drift monitor (operators/sketch.py::drift_psi): PSI
    between two snapshots (even vs odd event ids as stand-ins for
    week-over-week corpora). Each side is ONE combinable bin-sketch
    aggregate; the smoothing, proportions, and per-bin (p-q)*ln(p/q)
    contributions all run on the catalog-sized joined bin table — corpus
    cost is exactly two scans at any scale, and per-bin rows localize
    WHERE the distribution moved."""
    from ..operators import sketch

    e = load(spark, sf_dir, "events")
    a = e.filter(F.pmod(F.col("event_id"), F.lit(2)) == 0)
    b = e.filter(F.pmod(F.col("event_id"), F.lit(2)) == 1)
    return sketch.drift_psi(a, b, "value", 20).orderBy("bin")


@query(
    "pipeline_drift_by_segment",
    # per-group replay of pipeline_drift_psi: group-partitioned windows
    # supply the totals, and each group's PSI rounds AFTER its sum
    oracle="""
    WITH a AS (
      SELECT event_type, CAST(floor(value / 20) AS BIGINT) AS bin,
             count(*) AS cnt_a
      FROM events WHERE value IS NOT NULL AND event_id % 2 = 0
      GROUP BY 1, 2
    ),
    b AS (
      SELECT event_type, CAST(floor(value / 20) AS BIGINT) AS bin,
             count(*) AS cnt_b
      FROM events WHERE value IS NOT NULL AND event_id % 2 = 1
      GROUP BY 1, 2
    ),
    j AS (
      SELECT coalesce(a.event_type, b.event_type) AS event_type,
             coalesce(a.bin, b.bin) AS bin,
             coalesce(cnt_a, 0) AS cnt_a, coalesce(cnt_b, 0) AS cnt_b
      FROM a FULL OUTER JOIN b USING (event_type, bin)
    ),
    t AS (
      SELECT event_type, bin, cnt_a, cnt_b,
             sum(cnt_a) OVER (PARTITION BY event_type) AS n_a,
             sum(cnt_b) OVER (PARTITION BY event_type) AS n_b,
             count(*) OVER (PARTITION BY event_type) AS n_bins
      FROM j
    )
    SELECT event_type,
           CAST(max(n_a) AS BIGINT) AS n_a,
           CAST(max(n_b) AS BIGINT) AS n_b,
           round(sum(
             (CAST(cnt_a + 1 AS DOUBLE) / (n_a + n_bins)
              - CAST(cnt_b + 1 AS DOUBLE) / (n_b + n_bins))
             * ln((CAST(cnt_a + 1 AS DOUBLE) / (n_a + n_bins))
                  / (CAST(cnt_b + 1 AS DOUBLE) / (n_b + n_bins)))
           ), 6) AS psi
    FROM t
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def pipeline_drift_by_segment(spark, sf_dir):
    """Per-segment drift localization
    (operators/sketch.py::drift_psi_grouped): PSI of the value
    distribution per event_type between the even/odd snapshots — the
    "WHICH segment moved?" answer a drift alert needs. Still exactly two
    combinable sketch scans; the per-group windows and sums run on the
    groups x bins table."""
    from ..operators import sketch

    e = load(spark, sf_dir, "events")
    a = e.filter(F.pmod(F.col("event_id"), F.lit(2)) == 0)
    b = e.filter(F.pmod(F.col("event_id"), F.lit(2)) == 1)
    return sketch.drift_psi_grouped(
        a, b, "value", 20, ["event_type"]
    ).orderBy("event_type")


@query(
    "embedding_kmeans",
    # 2 Lloyd rounds replayed as CTEs: e4 quantization, integer squared
    # distances, (dist, cid) tie-break via row_number, floor(sum/n)
    # centroid updates — every step exact integer/floor arithmetic, so the
    # clustering is deterministic and engine-independent
    oracle="""
    WITH q AS (
      SELECT vec_id, generate_subscripts(embedding, 1) AS dim,
             CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 10000 + 0.5)
                  AS BIGINT) AS qx
      FROM embeddings
    ),
    seed AS (SELECT vec_id AS cid FROM embeddings
             WHERE embedding IS NOT NULL ORDER BY vec_id LIMIT 4),
    c0 AS (SELECT s.cid, q.dim, q.qx AS c FROM seed s
           JOIN q ON q.vec_id = s.cid),
    d1 AS (
      SELECT q.vec_id, c0.cid,
             sum((q.qx - c0.c) * (q.qx - c0.c)) AS dist
      FROM q JOIN c0 USING (dim) GROUP BY q.vec_id, c0.cid
    ),
    a1 AS (
      SELECT vec_id, cid FROM (
        SELECT vec_id, cid,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY dist, cid) AS rn
        FROM d1) WHERE rn = 1
    ),
    c1 AS (
      SELECT a1.cid, q.dim,
             CAST(floor(sum(q.qx) * 1.0 / count(*)) AS BIGINT) AS c
      FROM q JOIN a1 USING (vec_id) GROUP BY a1.cid, q.dim
    ),
    d2 AS (
      SELECT q.vec_id, c1.cid,
             sum((q.qx - c1.c) * (q.qx - c1.c)) AS dist
      FROM q JOIN c1 USING (dim) GROUP BY q.vec_id, c1.cid
    ),
    a2 AS (
      SELECT vec_id, cid FROM (
        SELECT vec_id, cid,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY dist, cid) AS rn
        FROM d2) WHERE rn = 1
    )
    SELECT a2.cid, CAST(count(*) AS BIGINT) AS n,
           CAST(q.dim AS INTEGER) AS dim,
           CAST(floor(sum(q.qx) * 1.0 / count(*)) AS BIGINT) AS c_e4
    FROM q JOIN a2 USING (vec_id)
    GROUP BY a2.cid, q.dim
    ORDER BY cid, dim
    """,
)
def embedding_kmeans(spark, sf_dir):
    """Lloyd k-means, k=4 x 2 rounds (operators/similarity.py::
    kmeans_lloyd): deterministic smallest-id seeding, integer squared
    distances with ties to the smallest cid, and floor(sum / n) centroid
    updates. All arithmetic is exact integer/floor, so the clustering
    replays bit-for-bit in SQL — the property no RNG-seeded ML-library
    k-means has.

    A corpus of at most SPARK_GRAFT_CC_LOCAL_THRESHOLD quantized values
    (rows x d; 2,000,000 by default) is collected once as Arrow and the
    rounds run in numpy on the driver: two Spark jobs (the bounded
    collect's sizing pass and its fetch), and the centroids come back as
    an Arrow-built LocalRelation. A larger corpus — or duplicate/NULL ids, ragged
    vectors, NULL elements or int64-overflowing magnitudes — runs the
    distributed loop: broadcast k-row centroids, a zip_with distance with
    a min(struct) winner and map-side-combinable per-(cluster, dim) sums,
    so the shuffle carries k x d rows at any corpus size."""
    e = load(spark, sf_dir, "embeddings")
    return similarity.kmeans_lloyd(
        e, "embedding", "vec_id", k=4, rounds=2
    ).orderBy("cid", "dim")


@query(
    "sim_ivf_lloyd",
    # the ENTIRE IVF pipeline — integer Lloyd quantizer, assignment,
    # centroid probing, candidate ranking — replays as SQL CTEs because
    # every step is integer/floor arithmetic; this is the exactly-checked
    # counterpart of sim_ivf's recall-gated float-KMeans index
    oracle="""
    WITH q AS (
      SELECT vec_id, generate_subscripts(embedding, 1) AS dim,
             CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 10000 + 0.5)
                  AS BIGINT) AS qx
      FROM embeddings
    ),
    seed AS (SELECT vec_id AS cid FROM embeddings
             WHERE embedding IS NOT NULL ORDER BY vec_id LIMIT 4),
    c0 AS (SELECT s.cid, q.dim, q.qx AS c FROM seed s
           JOIN q ON q.vec_id = s.cid),
    d1 AS (
      SELECT q.vec_id, c0.cid,
             sum((q.qx - c0.c) * (q.qx - c0.c)) AS dist
      FROM q JOIN c0 USING (dim) GROUP BY q.vec_id, c0.cid
    ),
    a1 AS (
      SELECT vec_id, cid FROM (
        SELECT vec_id, cid,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY dist, cid) AS rn
        FROM d1) WHERE rn = 1
    ),
    c1 AS (
      SELECT a1.cid, q.dim,
             CAST(floor(sum(q.qx) * 1.0 / count(*)) AS BIGINT) AS c
      FROM q JOIN a1 USING (vec_id) GROUP BY a1.cid, q.dim
    ),
    d2 AS (
      SELECT q.vec_id, c1.cid,
             sum((q.qx - c1.c) * (q.qx - c1.c)) AS dist
      FROM q JOIN c1 USING (dim) GROUP BY q.vec_id, c1.cid
    ),
    a2 AS (
      SELECT vec_id, cid FROM (
        SELECT vec_id, cid,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY dist, cid) AS rn
        FROM d2) WHERE rn = 1
    ),
    c2 AS (
      SELECT a2.cid, q.dim,
             CAST(floor(sum(q.qx) * 1.0 / count(*)) AS BIGINT) AS c
      FROM q JOIN a2 USING (vec_id) GROUP BY a2.cid, q.dim
    ),
    a3 AS (
      SELECT vec_id, cid FROM (
        SELECT q.vec_id, c2.cid,
               row_number() OVER (PARTITION BY q.vec_id
                                  ORDER BY sum((q.qx - c2.c) * (q.qx - c2.c)),
                                           c2.cid) AS rn
        FROM q JOIN c2 USING (dim) GROUP BY q.vec_id, c2.cid) WHERE rn = 1
    ),
    qv AS (SELECT dim, qx FROM q WHERE vec_id = 0),
    probe AS (
      SELECT c2.cid FROM c2 JOIN qv USING (dim)
      GROUP BY c2.cid
      ORDER BY sum((c2.c - qv.qx) * (c2.c - qv.qx)), c2.cid
      LIMIT 2
    )
    SELECT q.vec_id,
           CAST(sum((q.qx - qv.qx) * (q.qx - qv.qx)) AS BIGINT) AS dist_e8
    FROM q JOIN qv USING (dim)
    WHERE q.vec_id IN (SELECT a3.vec_id FROM a3 JOIN probe USING (cid))
    GROUP BY q.vec_id
    ORDER BY dist_e8, vec_id
    LIMIT 10
    """,
)
def sim_ivf_lloyd(spark, sf_dir):
    """Exactly-replayable IVF ANN search
    (operators/similarity.py::ivf_lloyd_topk): integer-Lloyd coarse
    quantizer (4 lists), broadcast centroid probe (nprobe=2), candidate
    ranking by integer squared distance via TakeOrderedAndProject — the
    whole index-and-search path hash-checks, where float-KMeans IVF can
    only promise a recall bound."""
    e = load(spark, sf_dir, "embeddings")
    return similarity.ivf_lloyd_topk(
        e, "embedding", "vec_id", _query_vector(spark, sf_dir), 10,
        n_lists=4, nprobe=2,
    ).orderBy("dist_e8", "vec_id")


@query("sim_ivf_persisted")
def sim_ivf_persisted(spark, sf_dir):
    """IVF index persisted as DWRF tables and searched from disk
    (operators/similarity.py::ivf_build_index / ivf_search_index):
    centroids + cid-PARTITIONED inverted lists written once, then the
    search reads the tiny centroid table, collects the nprobe winning
    list ids (catalog-sized), and scans ONLY those cid= directories —
    the pushed IN-filter prunes the rest before any footer opens (O4).
    Same integer-Lloyd math as sim_ivf_lloyd, so the result is
    BIT-IDENTICAL and this query reuses that oracle verbatim (assigned
    below): persistence and partition pruning may never change answers,
    only cut IO. The build-once/search-many split is what a 100 TB
    vector-serving deployment actually runs."""
    import os
    import shutil

    from ..sources import register

    register(spark)
    base = os.path.basename(os.path.normpath(sf_dir))
    index_dir = f"/tmp/hive_dwrf_spark_ivfidx_{base}"
    shutil.rmtree(index_dir, ignore_errors=True)
    e = load(spark, sf_dir, "embeddings")
    similarity.ivf_build_index(
        e, "embedding", "vec_id", index_dir, n_lists=4, rounds=2
    )
    return similarity.ivf_search_index(
        spark, index_dir, "embedding", "vec_id",
        _query_vector(spark, sf_dir), 10, nprobe=2,
    ).orderBy("dist_e8", "vec_id")


# bit-identical to the in-memory path by construction — the persisted
# variant must hash-check against the SAME replay
ORACLE["sim_ivf_persisted"] = ORACLE["sim_ivf_lloyd"]


@query(
    "sim_random_projection",
    # the +-1 sign matrix is a pure function of (salt, j, k) via the SAME
    # md5-le64 both engines compute (md5_number_upper here, hashlib at plan
    # build); e4 quantization makes each component an exact int64, so the
    # projection replays bit-for-bit
    oracle="""
    WITH v AS (
      SELECT vec_id,
             generate_subscripts(embedding, 1) - 1 AS j,
             CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 10000 + 0.5)
                  AS BIGINT) AS x
      FROM embeddings
    ),
    signs AS (
      SELECT js.range AS j, ks.range AS k,
             CASE WHEN md5_number_upper(
                    'rp|' || CAST(js.range AS VARCHAR)
                          || '|' || CAST(ks.range AS VARCHAR)) % 2 = 0
                  THEN 1 ELSE -1 END AS sgn
      FROM range(64) js, range(8) ks
    )
    SELECT vec_id, CAST(s.k + 1 AS INTEGER) AS k,
           CAST(sum(v.x * s.sgn) AS BIGINT) AS comp_e4
    FROM v JOIN signs s USING (j)
    GROUP BY vec_id, s.k
    ORDER BY vec_id, k
    """,
)
def sim_random_projection(spark, sf_dir):
    """Johnson-Lindenstrauss 64->8 reduction
    (operators/similarity.py::random_projection): the deterministic +-1
    sign matrix folds into the plan as literals, so the projection is ONE
    shuffle-free codegen'd expression per row — scan-bound at 100 TB, no
    basis to broadcast, and exact-integer output that replays in SQL."""
    e = load(spark, sf_dir, "embeddings")
    return similarity.random_projection(
        e, "embedding", dim=64, out_dim=8, id_cols=["vec_id"]
    ).orderBy("vec_id", "k")


@query(
    "text_inverted_index",
    oracle="""
    WITH tf AS (
      SELECT token, doc_id, count(*) AS n_tf FROM (
        SELECT doc_id, unnest(string_split(lower(text), ' ')) AS token
        FROM documents) t
      WHERE token <> ''
      GROUP BY token, doc_id
    ),
    gate AS (SELECT token FROM tf GROUP BY token HAVING count(*) >= 200)
    SELECT token, rnk, doc_id, n_tf FROM (
      SELECT tf.token,
             CAST(row_number() OVER (PARTITION BY tf.token
                                     ORDER BY n_tf DESC, doc_id) AS INTEGER)
               AS rnk,
             doc_id, n_tf
      FROM tf JOIN gate USING (token)
    ) WHERE rnk <= 3
    ORDER BY token, rnk
    """,
)
def text_inverted_index(spark, sf_dir):
    """Top-3 posting lists for terms in >= 200 documents
    (operators/text.py::inverted_index): tf from one (token, doc) hash
    aggregate, document frequency re-aggregated from the persisted tf frame
    (no second corpus scan), and a token-keyed rank-pushdown window — one
    token partitioning carries the whole plan tail."""
    d = load(spark, sf_dir, "documents")
    return text.inverted_index(d, "text", "doc_id", min_df=200, k=3).orderBy(
        "token", "rnk"
    )


@query(
    "sketch_quantile_grouped",
    oracle="""
    WITH bins AS (
      SELECT event_type, CAST(floor(value / 20) AS BIGINT) AS bin,
             count(*) AS cnt
      FROM events WHERE value IS NOT NULL GROUP BY 1, 2
    ),
    cum AS (
      SELECT event_type, bin,
             sum(cnt) OVER (PARTITION BY event_type ORDER BY bin
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cum,
             sum(cnt) OVER (PARTITION BY event_type) AS n
      FROM bins
    ),
    q(q_ppm) AS (VALUES (500000), (990000))
    SELECT event_type, CAST(q_ppm AS BIGINT) AS q_ppm,
           CAST(max(n) AS BIGINT) AS n,
           CAST((min(bin) + 1) * 20 AS BIGINT) AS est
    FROM cum CROSS JOIN q
    WHERE cum * 1000000 >= q_ppm * n
    GROUP BY event_type, q_ppm
    ORDER BY event_type, q_ppm
    """,
)
def sketch_quantile_grouped(spark, sf_dir):
    """Per-group quantiles from the SAME mergeable bin sketch
    (operators/sketch.py): one (group, bin) combinable aggregate over the
    scan, then a group-partitioned finish on the groups x bins table — the
    per-source/per-day percentile report a pipeline dashboard runs, still
    one corpus pass and integer-exact."""
    from ..operators import sketch

    e = load(spark, sf_dir, "events")
    bins = sketch.quantile_bin_sketch(e, "value", 20, group_cols=["event_type"])
    return sketch.quantile_from_bins(
        bins, 20, [500_000, 990_000], group_cols=["event_type"]
    ).orderBy("event_type", "q_ppm")

"""Text analysis operators: language ID, quality scoring, token counting,
document fingerprinting.

Everything except language ID is pure JVM expressions (whole-stage codegen,
no Python in the hot path). Language ID uses a character-frequency heuristic
in an Arrow-batched pandas UDF — at 100 TB that's one vectorized pass, no
shuffle."""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StringType

from .util import collect_bounded, local_frame

_STOPWORDS = [
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "it",
    "for", "on", "with", "as", "at", "by", "from", "that", "this",
]


def bm25_scores(
    df: DataFrame,
    text_col: str,
    id_col: str,
    query_terms: list[str],
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """BM25 relevance of every document against a fixed term list.

    100 TB shape: per-term tf and doc length are pure JVM expressions over
    one corpus scan; the collection statistics (N, avgdl, per-term df) are
    ONE aggregate row cross-joined back (Spark broadcasts a 1-row side), so
    the corpus is scanned twice and shuffled never. Per-term contributions
    are summed in the fixed order of `query_terms` — a deterministic
    expression tree the SQL oracle reproduces bit-for-bit.
    """
    words = F.filter(F.split(F.lower(F.col(text_col)), " "), lambda w: w != "")

    def term_count(term: str):
        # factory closure: a listcomp lambda would late-bind the term, and
        # a two-arg lambda would be read by F.filter as (element, index)
        return F.size(F.filter(words, lambda w: w == F.lit(term)))

    tf_cols = [
        term_count(t).alias(f"tf_{i}") for i, t in enumerate(query_terms)
    ]
    from pyspark import StorageLevel

    # persisted: consumed by the stats aggregate AND the scoring join, and
    # it is the narrow frame (id, dl, k tf ints — ~40 B/doc, so ~40 GB per
    # 1B docs spread across a cluster), not the corpus text
    base = df.select(
        F.col(id_col), F.size(words).alias("dl"), *tf_cols
    ).persist(StorageLevel.MEMORY_AND_DISK)
    stats = base.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.avg("dl").alias("avgdl"),
        *[
            F.sum((F.col(f"tf_{i}") > 0).cast("bigint")).alias(f"df_{i}")
            for i in range(len(query_terms))
        ],
    )
    scored = base.crossJoin(F.broadcast(stats))
    score = None
    for i in range(len(query_terms)):
        idf = F.log(
            (F.col("n_docs") - F.col(f"df_{i}") + F.lit(0.5))
            / (F.col(f"df_{i}") + F.lit(0.5))
            + F.lit(1.0)
        )
        tf = F.col(f"tf_{i}").cast("double")
        contrib = idf * (
            tf
            * F.lit(k1 + 1.0)
            / (
                tf
                + F.lit(k1)
                * (
                    F.lit(1.0 - b)
                    + F.lit(b) * F.col("dl") / F.col("avgdl")
                )
            )
        )
        score = contrib if score is None else score + contrib
    return scored.select(
        F.col(id_col), F.round(score, 6).alias("bm25")
    )


def pack_token_stream(
    df: DataFrame, id_col: str, n_tokens_col, budget: int
) -> DataFrame:
    """GPT-style sequence packing: documents are concatenated into one
    token stream in `id_col` order and chunked into fixed `budget`-token
    training sequences; returns each document's byte-range in that stream
    (start_tok, end_tok) and the first/last chunk it lands in.

    The global running sum is the scalable two-pass shape, NOT a
    single-partition global window: range-repartition by id, cumsum
    within each partition, then offset by the (tiny, broadcast) running
    totals of the partitions before it. Both passes shuffle only
    (partition_id, total) rows besides the range exchange; no executor
    ever holds more than its partition. The result is a pure function of
    the data (independent of partition count), so the SQL oracle's plain
    windowed SUM reproduces it exactly.
    """
    toks = df.select(F.col(id_col), F.col(n_tokens_col).alias("n_toks"))
    ranged = toks.repartitionByRange(id_col).withColumn(
        "_pid", F.spark_partition_id()
    )
    w_in = Window.partitionBy("_pid").orderBy(id_col)
    local = ranged.withColumn("_local_end", F.sum("n_toks").over(w_in))
    # per-partition totals are a handful of rows: a driver-size window is
    # fine here and AQE broadcasts the join side
    w_pid = Window.orderBy("_pid").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = (
        local.groupBy("_pid")
        .agg(F.sum("n_toks").alias("_ptotal"))
        .withColumn("_offset", F.coalesce(F.sum("_ptotal").over(w_pid), F.lit(0)))
        .select("_pid", "_offset")
    )
    out = (
        local.join(offsets, "_pid")
        .withColumn("end_tok", F.col("_local_end") + F.col("_offset"))
        .withColumn("start_tok", F.col("end_tok") - F.col("n_toks"))
        .withColumn(
            "first_chunk", F.floor(F.col("start_tok") / F.lit(budget))
        )
        .withColumn(
            "last_chunk",
            # greatest() pins zero-token docs to their insertion point
            F.greatest(
                F.col("first_chunk"),
                F.floor((F.col("end_tok") - 1) / F.lit(budget)),
            ),
        )
    )
    return out.select(
        id_col, "n_toks", "start_tok", "end_tok", "first_chunk", "last_chunk"
    )


def redact_columns(
    df: DataFrame, rules: dict[str, tuple[str, str]]
) -> DataFrame:
    """PII redaction: apply (regex, replacement) per column, JVM-side.

    Patterns should stay inside the RE2-compatible subset (no lookarounds,
    no backreferences) so the same rule set runs identically on Spark
    (java.util.regex), DuckDB (RE2), and any downstream engine. One
    projection, no shuffle, composes with pushed-down filters — at 100 TB
    this is a free pass over the scan, which is the only acceptable cost
    for a transform that must touch every row."""
    out = df
    for col, (pattern, repl) in rules.items():
        out = out.withColumn(col, F.regexp_replace(F.col(col), pattern, repl))
    return out


def quality_features(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Length / token / punctuation / stopword-ratio features, all JVM-side."""
    words = F.split(F.lower(F.col(text_col)), " ")
    n_words = F.size(F.filter(words, lambda w: w != ""))
    stop_arr = F.array(*[F.lit(s) for s in _STOPWORDS])
    n_stop = F.size(F.filter(words, lambda w: F.array_contains(stop_arr, w)))
    n_punct = F.length(F.regexp_replace(F.col(text_col), r"[^.,;:!?]", ""))
    n_chars = F.length(F.col(text_col))
    return df.select(
        F.col(id_col),
        n_chars.alias("n_chars"),
        n_words.alias("n_words"),
        F.round(n_chars / F.greatest(n_words, F.lit(1)), 4).alias("avg_word_len"),
        n_punct.alias("n_punct"),
        F.round(n_stop / F.greatest(n_words, F.lit(1)), 4).alias("stopword_ratio"),
    )


def token_counts(df: DataFrame, text_col: str) -> DataFrame:
    """Global token frequency: explode + hash-aggregate (map-side combine).
    At 100 TB this is the canonical one-shuffle wordcount; skewed hot tokens
    are handled by AQE/partial aggregation."""
    return (
        df.select(F.explode(F.split(F.lower(F.col(text_col)), " ")).alias("token"))
        .filter(F.col("token") != "")
        .groupBy("token")
        .agg(F.count("*").alias("cnt"))
    )


def bpe_ish_token_count(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Approximate LLM token count: words + punctuation pieces via regex,
    a cheap stand-in for a BPE tokenizer (JVM regexp, no UDF)."""
    pieces = F.split(
        F.regexp_replace(F.col(text_col), r"([.,;:!?()\[\]{}])", r" $1 "), r"\s+"
    )
    return df.select(
        F.col(id_col),
        F.size(F.filter(pieces, lambda p: p != "")).alias("approx_tokens"),
    )


def fingerprint(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Content fingerprints: md5 of normalized text + a 64-bit rolling hash
    prefix fingerprint (both deterministic, both JVM-side)."""
    normalized = F.lower(F.regexp_replace(F.col(text_col), r"\s+", " "))
    return df.select(
        F.col(id_col),
        F.md5(normalized).alias("md5"),
        F.xxhash64(normalized).alias("hash64"),
    )


#: language-ID marker profiles, shared with the DuckDB oracle replay
LANG_MARKERS = {
    "en": [" the ", " and ", " of ", " is ", " to "],
    "es": [" el ", " la ", " de ", " que ", " los "],
    "fr": [" le ", " la ", " les ", " des ", " est "],
    "de": [" der ", " die ", " und ", " das ", " ist "],
}


def detect_language(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Character-n-gram language heuristic (en/es/fr/de/other) as a pandas
    UDF. Profiles are tiny hand-rolled marker sets — a real deployment would
    swap in fastText/CLD3 behind the same column contract."""
    markers = LANG_MARKERS

    @F.pandas_udf(StringType())
    def lang(texts: pd.Series) -> pd.Series:
        out = []
        for t in texts:
            if not t:
                out.append("und")
                continue
            s = f" {t.lower()} "
            scores = {
                code: sum(s.count(m) for m in ms) for code, ms in markers.items()
            }
            best = max(scores, key=lambda c: (scores[c], c))
            out.append(best if scores[best] > 0 else "und")
        return pd.Series(out)

    from .util import spread

    return spread(df).select(F.col(id_col), lang(F.col(text_col)).alias("lang_pred"))


def word_ngrams(df: DataFrame, text_col: str, id_col: str, n: int = 8) -> DataFrame:
    """Explode each document into its word n-grams (space-joined), all
    JVM-side: split -> sequence of start offsets -> slice+join -> explode.
    One narrow projection, no UDF; at 100 TB this stays inside the scan's
    codegen and the downstream shuffle carries only (id, gram)."""
    words = F.filter(F.split(F.lower(F.col(text_col)), " "), lambda w: w != "")
    # guard short docs explicitly: sequence(1, 0) infers step -1 in Spark
    # (it returns [1, 0], not empty), so an unguarded expression would emit
    # truncated "n-grams" for documents shorter than n words
    starts = F.when(
        F.size(words) >= n, F.sequence(F.lit(1), F.size(words) - (n - 1))
    ).otherwise(F.array().cast("array<int>"))
    grams = F.transform(starts, lambda i: F.array_join(F.slice(words, i, n), " "))
    return df.select(F.col(id_col), F.explode(grams).alias("gram"))


def repetition_features(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Gopher-style repetition quality signals per document: the fraction of
    repeated words, the fraction of repeated word bigrams, and the share of
    the document covered by its single most frequent bigram.

    Shape at scale: the word-level stats are O(n) array expressions inside
    the scan; only the bigram frequency needs a shuffle, and it is one
    explode + two-level hash aggregate keyed by (id, gram) then id — both
    partial-aggregated map-side, so the shuffle carries per-doc distinct
    grams, not raw tokens. No UDF anywhere.
    """
    words = F.filter(F.split(F.lower(F.col(text_col)), " "), lambda w: w != "")
    base = df.select(
        F.col(id_col),
        F.size(words).alias("n_words"),
        F.size(F.array_distinct(words)).alias("n_distinct_words"),
    )
    bigram_stats = (
        word_ngrams(df, text_col, id_col, n=2)
        .groupBy(id_col, "gram")
        .agg(F.count("*").alias("c"))
        .groupBy(id_col)
        .agg(
            F.sum("c").alias("n_bigrams"),
            F.count("*").alias("n_distinct_bigrams"),
            F.max("c").alias("top_cnt"),
        )
    )
    j = base.join(bigram_stats, id_col, "left")
    nw = F.greatest(F.col("n_words"), F.lit(1))
    return j.select(
        F.col(id_col),
        "n_words",
        F.round(1 - F.col("n_distinct_words") / nw, 6).alias("dup_word_frac"),
        F.round(
            F.coalesce(
                1 - F.col("n_distinct_bigrams") / F.col("n_bigrams"), F.lit(0.0)
            ),
            6,
        ).alias("dup_bigram_frac"),
        F.round(
            F.coalesce(F.col("top_cnt") * 2 / nw, F.lit(0.0)), 6
        ).alias("top_bigram_frac"),
    )


def ngram_contamination(
    df: DataFrame,
    bench_df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 8,
) -> DataFrame:
    """Train/test decontamination: flag documents sharing any word n-gram
    with a benchmark corpus.

    The benchmark side is distinct n-grams only (tiny next to the corpus —
    eval sets are MBs, corpora are TBs), so it broadcasts and the whole
    check is one scan over the corpus with a broadcast semi-join: no
    shuffle of corpus data at all. Returns (id, n_contaminated_ngrams,
    contaminated) for every input document.

    The corpus side is spread() first: gram expansion is higher-order
    array expressions (interpreted, not codegen), so a narrow scan would
    run it effectively single-threaded (measured 5x slower at bench
    scale). At real scale the input is already wide and spread is a no-op.
    """
    from .util import spread

    doc_grams = word_ngrams(spread(df), text_col, id_col, n)
    bench_grams = word_ngrams(
        bench_df, text_col, "__bench_id" if id_col == "__bench_id" else id_col
    ).select("gram").distinct()
    hits = (
        doc_grams.join(F.broadcast(bench_grams), "gram")
        .groupBy(id_col)
        .agg(F.count_distinct("gram").alias("n_contaminated_ngrams"))
    )
    return (
        df.select(id_col)
        .join(hits, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce("n_contaminated_ngrams", F.lit(0)).alias(
                "n_contaminated_ngrams"
            ),
            F.col("n_contaminated_ngrams").isNotNull().alias("contaminated"),
        )
    )


def winnow_fingerprints(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 8,
    window: int = 4,
) -> DataFrame:
    """Winnowing document fingerprints (the MOSS scheme, Schleimer et al.
    SIGMOD'03): hash every character k-gram with a base-31 polynomial
    rolling hash, then keep the minimum hash of each sliding window of
    `window` consecutive k-gram hashes. Any shared substring of length
    >= window + k - 1 between two documents is guaranteed to contribute a
    shared fingerprint — local, position-robust near-dup evidence that
    whole-document hashing (content_fingerprint) cannot give.

    Arrow-batched numpy kernel: per document, codepoints come from one
    UTF-32 decode, the k-gram hashes from one sliding-window matmul, the
    window minima from one sliding-window min — per-doc work with NO
    character explosion and NO per-doc window sort (the previous JVM
    formulation pushed ~chars-per-corpus rows through two per-doc window
    sorts; the kernel replaces both with embarrassingly parallel batch
    math, measured ~4x faster end-to-end). Base-31 sums stay < 2^57 even
    at max Unicode codepoints, so int64 arithmetic is exact and a SQL
    oracle replays each hash with plain BIGINT math. Emits one
    (id, fingerprint) row per distinct selected hash."""
    if k < 2 or window < 1:
        raise ValueError("k >= 2 and window >= 1 required")
    from pyspark.sql.types import ArrayType, LongType

    from .util import spread

    mersenne = (1 << 31) - 1
    weights = 31 ** np.arange(k, dtype=np.int64)

    @F.pandas_udf(ArrayType(LongType()))
    def _winnow(texts: pd.Series) -> pd.Series:
        out: list[np.ndarray] = []
        empty = np.empty(0, dtype=np.int64)
        for t in texts:
            if t is None or len(t) < k + window - 1:
                out.append(empty)
                continue
            # UTF-32 little-endian: one uint32 codepoint per character,
            # exactly the engine's per-character numeric value
            codes = np.frombuffer(
                t.encode("utf-32-le"), dtype=np.uint32
            ).astype(np.int64)
            h = (
                np.lib.stride_tricks.sliding_window_view(codes, k) @ weights
            ) % mersenne
            fp = np.lib.stride_tricks.sliding_window_view(h, window).min(
                axis=1
            )
            out.append(np.unique(fp))
        return pd.Series(out)

    return (
        spread(df, cap=8)
        .select(F.col(id_col), F.explode(_winnow(F.col(text_col))).alias("fingerprint"))
    )


def winnow_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    min_shared: int = 5,
    max_df: int = 50,
    k: int = 8,
    window: int = 4,
) -> DataFrame:
    """Near-dup candidate pairs from shared winnowing fingerprints: two
    docs pair when they share >= `min_shared` selected fingerprints —
    i.e. multiple independent >= window+k-1 char substring matches, the
    MOSS plagiarism-detection join.

    Fingerprints occurring in more than `max_df` documents are dropped
    before the self-join — boilerplate phrases ("terms of service") would
    otherwise form quadratic hot groups, the same trap (and the same cap
    remedy) as the MinHash degenerate-bucket guard. The join then
    shuffles once on the fingerprint; group cost is bounded by max_df²,
    never corpus²."""
    fps = winnow_fingerprints(df, text_col, id_col, k=k, window=window)
    rare = (
        fps.groupBy("fingerprint")
        .agg(F.count(F.lit(1)).alias("__df"))
        .filter(F.col("__df") <= max_df)
        .select("fingerprint")
    )
    kept = fps.join(rare, "fingerprint")
    left = kept.select(F.col("fingerprint"), F.col(id_col).alias("id1"))
    right = kept.select(F.col("fingerprint"), F.col(id_col).alias("id2"))
    return (
        left.join(right, "fingerprint")
        .filter(F.col("id1") < F.col("id2"))
        .groupBy("id1", "id2")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


def chunk_documents(
    df: DataFrame,
    text_col: str,
    id_col: str,
    chunk_size: int = 200,
    stride: int = 150,
) -> DataFrame:
    """Sliding-window document chunking (RAG/embedding prep): emit
    overlapping character windows starting at 1, 1+stride, 1+2*stride, ...
    while a window would still contain text. `stride < chunk_size` gives
    `chunk_size - stride` characters of overlap between neighbors.

    Pure JVM expressions (sequence + explode + substring) — no UDF, no
    shuffle; amplification is len/stride per doc and the explode runs
    inside the scan stage, so chunking composes with pushed-down document
    filters. 1-based substring with tail clamping matches ANSI SUBSTR, so
    the op replays exactly in SQL."""
    if stride <= 0 or chunk_size <= 0:
        raise ValueError("chunk_size and stride must be positive")
    pos = F.explode(
        F.sequence(
            F.lit(1),
            F.greatest(F.length(F.col(text_col)), F.lit(1)),
            F.lit(stride),
        )
    ).alias("chunk_start")
    chunk = F.substring(F.col(text_col), F.col("chunk_start"), chunk_size)
    return (
        df.select(F.col(id_col), F.col(text_col), pos)
        .select(
            F.col(id_col),
            F.col("chunk_start"),
            F.length(chunk).alias("chunk_len"),
            F.md5(chunk).alias("chunk_hash"),
        )
    )


def _tf_frame(
    df: DataFrame, text_col: str, id_col: str, tf_alias: str = "tf"
) -> DataFrame:
    """Shared persisted (token, doc, tf) frame: whitespace-lowercase
    tokenize in the scan stage, ONE (token, doc) hash aggregate, persisted
    because every consumer (tfidf_topk, inverted_index) re-aggregates it
    for document frequency — the 'no second corpus scan' contract lives
    here so tokenization can never drift between the operators."""
    words = F.filter(F.split(F.lower(F.col(text_col)), " "), lambda w: w != "")
    tok = df.select(F.col(id_col), F.explode(words).alias("token"))
    tf = tok.groupBy(id_col, "token").agg(F.count(F.lit(1)).alias(tf_alias))
    from pyspark import StorageLevel

    return tf.persist(StorageLevel.MEMORY_AND_DISK)


def tfidf_topk(df: DataFrame, text_col: str, id_col: str, k: int = 3) -> DataFrame:
    """Per-document top-k terms by TF-IDF (smooth idf: ln((N+1)/(df+1))+1).

    The keyword-extraction half of corpus indexing/labeling. Shapes at
    100 TB: tf is one (doc, token) hash aggregate; document frequency is
    one (token) hash aggregate over the *already-aggregated* tf frame (no
    second corpus scan); N is a 1-row broadcast; the model join keys on
    token where AQE broadcasts the vocab side when it fits; final ranking
    is one doc-keyed window whose per-group heap is O(k).

    Ranking compares the ROUNDED score (6 dp) with the token as
    tie-break, so Spark and any SQL replayer rank identically even when
    two raw doubles differ in the last ulp."""
    tf = _tf_frame(df, text_col, id_col, "tf")
    dfreq = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    n_docs = df.agg(F.count(F.lit(1)).alias("n_docs"))
    idf = F.log((F.col("n_docs") + F.lit(1.0)) / (F.col("df") + F.lit(1.0))) + F.lit(
        1.0
    )
    scored = (
        tf.join(dfreq, "token")
        .crossJoin(F.broadcast(n_docs))
        .select(
            F.col(id_col),
            "token",
            "tf",
            F.round(F.col("tf") * idf, 6).alias("tfidf"),
        )
    )
    w = Window.partitionBy(id_col).orderBy(F.desc("tfidf"), F.asc("token"))
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .select(id_col, "token", "tf", "tfidf", F.col("_rn").alias("rank"))
    )


def bigram_lm_scores(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """CCNet-style LM quality score: each document's mean bigram
    log-probability under the MLE bigram model of the corpus itself
    (ln(c(w1,w2) / c(w1)); every doc bigram exists in the model by
    construction, so no smoothing term is needed). Repetitive,
    in-distribution text scores high; rare/garbled text scores low — the
    standard perplexity-filter signal without an external model.

    100 TB shapes: bigrams are pure array expressions in the scan stage
    (slice + zip_with, no UDF); the model is two hash aggregates (bigram
    and context counts — both map-side combinable); scoring joins doc
    bigrams to the model on the bigram key (one AQE shuffle join; prune
    the model to top-V for a broadcast variant). The per-doc mean is
    accumulated in FIXED-POINT int64 (round(ln*1e6)) so the sum is exact
    and order-independent — partial aggregation can never drift from the
    SQL oracle's replay."""
    words = F.filter(F.split(F.lower(F.col(text_col)), " "), lambda w: w != "")
    n = F.size(words)
    bigrams = F.zip_with(
        F.slice(words, 1, F.greatest(n - 1, F.lit(0))),
        F.slice(words, 2, F.greatest(n - 1, F.lit(0))),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )
    doc_bg = df.select(F.col(id_col), F.explode(bigrams).alias("bg")).select(
        id_col, "bg", F.split(F.col("bg"), " ")[0].alias("w1")
    )
    from pyspark import StorageLevel

    doc_bg = doc_bg.persist(StorageLevel.MEMORY_AND_DISK)
    c2 = doc_bg.groupBy("bg").agg(F.count(F.lit(1)).alias("c2"))
    c1 = doc_bg.groupBy("w1").agg(F.count(F.lit(1)).alias("c1"))
    model = c2.withColumn("w1", F.split(F.col("bg"), " ")[0]).join(c1, "w1")
    contrib = F.round(F.log(F.col("c2") / F.col("c1")) * F.lit(1e6)).cast("bigint")
    scored = doc_bg.join(model.select("bg", contrib.alias("lp_fp")), "bg")
    return scored.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.round(
            (F.sum("lp_fp") / F.lit(1e6)) / F.count(F.lit(1)), 6
        ).alias("lm_score"),
    )


def _bpe_local_rounds(spark, vocab: list, k: int) -> DataFrame:
    """Driver-local BPE merge rounds over a collected (sym_string, freq)
    vocabulary — value-identical to the distributed loop: same pair
    weighting, same (cnt DESC, pair ASC) winner (Python str comparison is
    code-point order == Spark's UTF-8 binary order), and the same
    double-space literal replace (both engines' replace() is
    left-to-right non-overlapping over all occurrences)."""
    import re
    from collections import Counter

    merges: list[tuple[int, str, int]] = []
    for r in range(k):
        pc: Counter = Counter()
        for s, f in vocab:
            toks = s.split(" ")
            for a, b in zip(toks, toks[1:]):
                pc[a + " " + b] += f
        if not pc:
            break  # no adjacent pairs left: remaining rounds emit nothing
        pair, cnt = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))
        merges.append((r + 1, pair, cnt))
        if r + 1 == k:
            break
        pat = " " + pair.replace(" ", "  ") + " "
        rep = " " + pair.replace(" ", "") + " "
        vocab = [
            (
                re.sub(
                    " +", " ", (" " + s.replace(" ", "  ") + " ").replace(pat, rep)
                ).strip(" "),
                f,
            )
            for s, f in vocab
        ]
    return local_frame(spark, merges, "merge_rank INT, pair STRING, cnt BIGINT")


def bpe_train_merges(
    df: DataFrame, text_col: str, k: int = 3, local_threshold: int = 2_000_000
) -> DataFrame:
    """Train the first `k` BPE tokenizer merges on the corpus: round r
    counts adjacent symbol pairs weighted by word frequency, picks the
    most frequent pair (count DESC, then lexicographic — a total order),
    and applies it left-to-right non-overlapping to every word, exactly
    the Sennrich et al. BPE procedure.

    Adaptive small-vocab path (the connected_components discipline): the
    corpus-scale word-frequency aggregate always runs distributed, but a
    vocabulary at or below `local_threshold` rows (a few million words =
    tens of MB — web-corpus vocabularies land here; the CORPUS never
    does) comes back through the bounded collect (util.collect_bounded:
    one sizing pass, one Arrow fetch) and the k merge rounds run
    driver-local with zero per-round Spark jobs. Above the gate — or with
    `local_threshold=0`, which tests use to pin parity — the distributed
    per-round loop runs over the vocabulary cached once.

    100 TB shape: ONE corpus-scale aggregate (word frequencies); every
    merge round then operates on the vocabulary table — typically a few
    million rows, broadcast scale — so k rounds cost k tiny jobs, not k
    corpus scans. All string surgery is JVM expressions; the
    double-space-then-replace trick applies a merge without regex
    lookbehind, so the identical transform runs on Spark, DuckDB (RE2),
    or any ANSI engine, making the whole training loop oracle-replayable.
    """
    from functools import reduce

    from pyspark import StorageLevel

    words = F.filter(F.split(F.lower(F.col(text_col)), " "), lambda w: w != "")
    # initial symbol sequence: the word's characters, space-separated
    chars = F.trim(F.regexp_replace(F.col("word"), "(.)", "$1 "))
    vocab = (
        df.select(F.explode(words).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
        .select(chars.alias("s"), "freq")
    )
    if local_threshold:
        tbl = collect_bounded(vocab, local_threshold)[1]
        if tbl is not None:
            vocab = zip(*(tbl.column(c).to_pylist() for c in ("s", "freq")))
            return _bpe_local_rounds(df.sparkSession, list(vocab), k)
    else:
        vocab.persist(StorageLevel.MEMORY_AND_DISK)
    syms = vocab
    merges = []
    for r in range(k):
        ws = F.split(F.col("s"), " ")
        n = F.size(ws)
        pairs = F.zip_with(
            F.slice(ws, 1, F.greatest(n - 1, F.lit(0))),
            F.slice(ws, 2, F.greatest(n - 1, F.lit(0))),
            lambda a, b: F.concat(a, F.lit(" "), b),
        )
        pc = (
            syms.select(F.explode(pairs).alias("pair"), "freq")
            .groupBy("pair")
            .agg(F.sum("freq").alias("cnt"))
        )
        # one row; eagerly materialized so (a) the two consumers (output
        # union + next round's broadcast) don't each re-run the pair
        # count, and (b) each round's lineage is cut — without this,
        # round r re-executed ALL r-1 earlier rounds' transforms
        best = (
            pc.orderBy(F.desc("cnt"), F.asc("pair"))
            .limit(1)
            .select(F.lit(r + 1).alias("merge_rank"), "pair", "cnt")
            .localCheckpoint(eager=True)
        )
        merges.append(best)
        if r + 1 == k:
            break  # the last merge is never applied to the vocabulary
        # apply the merge: double every separator so matches can't
        # overlap, wrap in sentinels so 'a b' can't match inside 'xa b',
        # then collapse spacing back. Left-to-right non-overlapping ==
        # BPE's merge order.
        doubled = F.concat(
            F.lit(" "), F.replace(F.col("s"), F.lit(" "), F.lit("  ")), F.lit(" ")
        )
        pat = F.concat(
            F.lit(" "),
            F.replace(F.col("pair"), F.lit(" "), F.lit("  ")),
            F.lit(" "),
        )
        rep = F.concat(
            F.lit(" "),
            F.replace(F.col("pair"), F.lit(" "), F.lit("")),
            F.lit(" "),
        )
        merged = F.trim(
            F.regexp_replace(F.replace(doubled, pat, rep), " +", " ")
        )
        # eager checkpoint: materializes the merged vocabulary NOW (so the
        # next round reads a table, not a growing transform chain) and
        # cuts lineage; blocks release via the context cleaner when the
        # round's RDD goes out of scope
        syms = (
            syms.crossJoin(F.broadcast(best.select("pair")))
            .select(merged.alias("s"), "freq")
            .localCheckpoint(eager=True)
        )
    # every merge row is checkpointed, so the cached vocabulary can go
    vocab.unpersist()
    return reduce(lambda a, b: a.unionByName(b), merges)


def bpe_apply_token_counts(
    df: DataFrame, text_col: str, id_col: str, k: int = 3
) -> DataFrame:
    """END-TO-END tokenizer application: train the first `k` BPE merges on
    the corpus (bpe_train_merges), apply them to the VOCABULARY, and
    count each document's post-merge tokens — the "how many tokens will
    this corpus cost" question every training-data budget starts with.

    Scale shape: merges are k tiny rows (collected once — they are the
    tokenizer, not data); the merge application runs over the vocabulary
    table, never the corpus; per-word token lengths broadcast back over
    one corpus scan whose only shuffle is the per-doc sum. Applying a
    trained tokenizer to 100 TB is therefore ONE scan + ONE broadcast
    join + ONE combinable aggregate."""
    merges = [
        r.pair
        for r in bpe_train_merges(df, text_col, k)
        .orderBy("merge_rank")
        .collect()
    ]
    words = F.filter(F.split(F.lower(F.col(text_col)), " "), lambda w: w != "")
    vocab = (
        df.select(F.explode(words).alias("word")).distinct()
    )
    s = F.trim(F.regexp_replace(F.col("word"), "(.)", "$1 "))
    for pair in merges:
        doubled = F.concat(
            F.lit(" "), F.replace(s, F.lit(" "), F.lit("  ")), F.lit(" ")
        )
        pat = F.lit(" " + pair.replace(" ", "  ") + " ")
        rep = F.lit(" " + pair.replace(" ", "") + " ")
        s = F.trim(F.regexp_replace(F.replace(doubled, pat, rep), " +", " "))
    vocab_tok = vocab.select(
        "word", F.size(F.split(s, " ")).alias("ntok")
    )
    docw = df.select(F.col(id_col), F.explode(words).alias("word"))
    return (
        docw.join(F.broadcast(vocab_tok), "word")
        .groupBy(id_col)
        .agg(F.sum("ntok").alias("n_tokens"))
    )


def hashed_linear_score(
    df: DataFrame,
    text_col: str,
    id_col: str,
    salt: str = "clf",
    dims: int = 4096,
) -> DataFrame:
    """Inference of a hashing-trick linear classifier (the fasttext-style
    quality-filter shape): each token hashes into one of `dims` feature
    buckets, the bucket's weight is looked up, and the document's score is
    sigmoid(mean weight). Here the weight table is a fixed deterministic
    function of the bucket (a stand-in for trained weights — swap in a
    broadcast weight map in production; the plan shape is identical).

    100 TB story: scoring a corpus with a linear model is ONE projection +
    ONE hash aggregate — no shuffle of text, no UDF, no model server. The
    per-token weights are summed in fixed-point int64 so the aggregate is
    exact and order-independent, and the whole inference replays in SQL.
    """
    words = F.filter(F.split(F.lower(F.col(text_col)), " "), lambda w: w != "")
    tok = df.select(F.col(id_col), F.explode(words).alias("token"))
    # shares the CMS bucket fn: for dims | 2^16 it takes the 16-bit conv
    # fast path, bit-identical to md5_number_upper % dims (~5x cheaper)
    from .sketch import _bucket

    bucket = _bucket(F.lit(salt), F.col("token"), dims).cast("bigint")
    # pseudo-trained weight in [-0.5, 0.5), fixed-point 1e6
    w_fp = (
        F.floor((bucket % 997) * F.lit(1000000.0) / F.lit(997.0)) - F.lit(500000)
    ).cast("bigint")
    scored = tok.select(F.col(id_col), w_fp.alias("w_fp"))
    mean = (F.sum("w_fp") / F.lit(1e6)) / F.count(F.lit(1))
    return scored.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_feats"),
        F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-mean)), 6).alias("clf_score"),
    )


def repeated_span_coverage(
    df: DataFrame, text_col: str, id_col: str, gram_len: int = 20
) -> DataFrame:
    """EXACT repeated-substring detection (the exhaustive counterpart of
    winnowing): for every document, how many of its `gram_len`-char
    windows also occur anywhere else in the corpus — the Lee et al.
    "deduplicating training data" signal that catches verbatim boilerplate
    near-dup text misses.

    Shapes at 100 TB: positions explode inside the scan stage (O(chars)
    rows); gram identity is md5 of the window (pure JVM), counted in ONE
    map-side-combinable hash aggregate; only grams with count > 1 survive
    to the join back (the duplicated-gram table is corpus-boilerplate
    sized, usually broadcastable). Winnowing (winnow_fingerprints) is the
    sampled version when even O(chars) aggregation is too hot."""
    n_pos = F.length(text_col) - gram_len + 1
    # guard: Spark's sequence(1, 0) counts DOWN ([1, 0]), so docs shorter
    # than the gram must get an empty array, not two phantom windows
    pos = F.explode(
        F.when(n_pos >= 1, F.sequence(F.lit(1), n_pos)).otherwise(
            F.array().cast("array<int>")
        )
    ).alias("p")
    grams = df.select(F.col(id_col), F.col(text_col), pos).select(
        id_col, F.md5(F.substring(F.col(text_col), F.col("p"), gram_len)).alias("g")
    )
    from pyspark import StorageLevel

    grams = grams.persist(StorageLevel.MEMORY_AND_DISK)
    dup = (
        grams.groupBy("g")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > 1)
        .select("g")
    )
    # window counts come from the corpus, not the gram frame, so docs
    # shorter than the gram still appear (with 0 windows) in the output
    per_doc = df.select(
        F.col(id_col),
        F.greatest(n_pos, F.lit(0)).cast("bigint").alias("n_windows"),
    )
    hits = (
        grams.join(dup, "g")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_dup_windows"))
    )
    return (
        per_doc.join(hits, id_col, "left")
        .select(
            id_col,
            "n_windows",
            F.coalesce(F.col("n_dup_windows"), F.lit(0)).alias("n_dup_windows"),
            F.round(
                F.coalesce(F.col("n_dup_windows"), F.lit(0))
                / F.greatest(F.col("n_windows"), F.lit(1)),
                6,
            ).alias("dup_frac"),
        )
    )


def line_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    chunk_words: int = 12,
    max_df: int = 2,
) -> DataFrame:
    """Cross-corpus line-level dedup with document reassembly (the
    RefinedWeb/CCNet "remove duplicated lines" pass): split every document
    into fixed-width word chunks (the synthetic corpus has no newlines, so
    `chunk_words`-word windows stand in for lines), count each normalized
    chunk's document frequency across the WHOLE corpus, drop chunks that
    appear in more than `max_df` documents (boilerplate / licence headers /
    navigation), and re-join each document's surviving chunks in their
    original order.

    Scale shape: three keyed shuffles, none of which can blow up — the df
    count is a map-side-combinable count-distinct per chunk (hot boilerplate
    chunks become a single counter, never a collected list), the join back
    is chunk-keyed (AQE splits skewed chunks), and reassembly groups by
    doc_id collecting only that document's own chunks. Pure JVM expressions
    throughout; no UDFs.
    """
    k = chunk_words
    words = F.split(F.col(text_col), " ")
    n_chunks = F.ceil(F.size(words) / F.lit(float(k))).cast("int")
    chunks = df.select(
        F.col(id_col).alias("_id"),
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), n_chunks - 1),
                lambda i: F.array_join(F.slice(words, i * k + 1, k), " "),
            )
        ).alias("idx", "chunk"),
    )
    # Examined for single-pass sharing (optimization round 12) and left
    # two-pass DELIBERATELY: the reassembly branch must carry `idx` per
    # chunk occurrence while the df-count branch can never consume it, so
    # column pruning always specializes the two subtrees below any shared
    # exchange and ReuseExchange cannot fire — an explicit chunk
    # repartition was measured to only ADD an exchange. The two-pass
    # shape keeps the df count map-side-combinable on unshuffled data,
    # which is also what keeps hot boilerplate chunks scalar counters.
    dfreq = chunks.groupBy("chunk").agg(
        F.countDistinct("_id").alias("chunk_df")
    )
    kept = F.col("chunk_df") <= max_df
    return (
        chunks.join(dfreq, "chunk")
        .groupBy("_id")
        .agg(
            F.count(F.lit(1)).alias("n_total"),
            F.count(F.when(kept, 1)).alias("n_kept"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(kept, F.struct("idx", "chunk"))
                        )
                    ),
                    lambda s: s["chunk"],
                ),
                " ",
            ).alias("clean_text"),
        )
        .select(
            F.col("_id").alias(id_col), "n_total", "n_kept", "clean_text"
        )
    )


def per_source_quality_rank(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    source_col: str = "source",
    keep_pct: int = 20,
) -> DataFrame:
    """Per-source quality calibration (the DCLM/FineWeb move): instead of
    one global quality threshold — which would empty low-scoring domains and
    keep every doc from verbose ones — rank documents WITHIN each source and
    keep the same top fraction of every source.

    The score is the integer word count and the keep decision is pure
    integer arithmetic (`rank <= ceil(pct * n / 100)`, doc_id tiebreak), so
    the cut is bit-exact across engines and stable under backfill. One
    window sort per source; no global sort, no floats.
    """
    words = F.split(F.lower(F.col(text_col)), " ")
    n_words = F.size(F.filter(words, lambda w: w != ""))
    scored = df.select(
        F.col(id_col), F.col(source_col), n_words.alias("score")
    )
    w = Window.partitionBy(source_col).orderBy(
        F.desc("score"), F.asc(id_col)
    )
    wn = Window.partitionBy(source_col)
    return scored.select(
        id_col,
        source_col,
        "score",
        F.row_number().over(w).alias("src_rank"),
        (
            F.row_number().over(w)
            <= F.floor((F.lit(keep_pct) * F.count(F.lit(1)).over(wn) + 99) / 100)
        ).alias("kept"),
    )


def fuzzy_match_names(
    df: DataFrame,
    name_col: str,
    max_distance: int = 4,
) -> DataFrame:
    """Entity-resolution fuzzy self-join: find pairs of distinct name
    strings within `max_distance` edits of each other, using shared-token
    blocking so no all-pairs product ever forms.

    Scale shape: dedup to DISTINCT names first (name cardinality is far
    below row count in any entity table), block on shared whitespace
    tokens (a candidate pair must agree on at least one token — a safe
    blocker for word-level typos), dedup candidates, then verify with the
    JVM-side levenshtein builtin. Every stage is keyed: distinct (1
    shuffle), token self-join (chunk-keyed, AQE-splittable), pair distinct
    + verify. No UDFs, no cartesian joins.
    """
    names = df.select(F.col(name_col).alias("name")).distinct()
    toks = names.select(
        "name", F.explode(F.split("name", " ")).alias("tok")
    )
    a, b = toks.alias("a"), toks.alias("b")
    cand = (
        a.join(b, "tok")
        .where(F.col("a.name") < F.col("b.name"))
        .select(
            F.col("a.name").alias("name_a"), F.col("b.name").alias("name_b")
        )
        .distinct()
    )
    dist = F.levenshtein("name_a", "name_b")
    return cand.select(
        "name_a", "name_b", dist.cast("int").alias("dist")
    ).where(F.col("dist") <= max_distance)


def inverted_index(
    df: DataFrame,
    text_col: str,
    id_col: str,
    min_df: int = 2,
    k: int = 3,
) -> DataFrame:
    """Top-k posting list per term — the build side of a corpus search
    index, restricted to terms appearing in >= min_df documents.

    Shapes at 100 TB: term frequency is ONE (token, doc) hash aggregate
    with map-side combine; document frequency re-aggregates the persisted
    tf frame (no second corpus scan — the text_tfidf pattern); the df gate
    is a token-keyed join that reuses tf's hash partitioning, and the
    final ranking window is also token-keyed with an O(k) per-group heap
    (WindowGroupLimit rank pushdown), so one token partitioning carries
    the whole tail of the plan. Hot tokens (stopwords) bound the window
    per-group cost at docs-per-token, mitigated by the min_df gate running
    BEFORE the window.

    Ties rank deterministically ((tf desc, doc_id asc)), so the index is
    reproducible and SQL-replayable. Output: (token, rnk, doc, n_tf).

    The tf frame stays persisted for the caller's action (same convention
    as tfidf_topk / word_jaccard_pairs): release via
    spark.catalog.clearCache() or df.unpersist() on the source lineage
    when building many indexes in one session.
    """
    tf = _tf_frame(df, text_col, id_col, "n_tf")
    dfreq = (
        tf.groupBy("token")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") >= min_df)
        .select("token")
    )
    w = Window.partitionBy("token").orderBy(
        F.desc("n_tf"), F.asc(id_col)
    )
    return (
        tf.join(dfreq, "token")
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("token", F.col("rnk").cast("int").alias("rnk"), id_col, "n_tf")
    )


#: GPT-2-ish pre-tokenizer, restricted to the syntax subset Java's regex
#: and RE2 execute identically: optional leading space + (letter run |
#: digit run | punctuation run). The three alternates match DISJOINT
#: character classes, so leftmost-first vs leftmost-longest alternation
#: semantics cannot diverge between engines (the full GPT-2 pattern's
#: \s+(?!\S) lookahead is not RE2-expressible and is dropped — trailing
#: whitespace simply goes unmatched).
BPE_PRETOKEN_RE = r" ?[a-zA-Z]+| ?[0-9]+| ?[^a-zA-Z0-9\s]+"


def regex_token_counts(
    df: DataFrame, text_col: str, id_col: str, pattern: str = BPE_PRETOKEN_RE
) -> DataFrame:
    """BPE-style token-cost accounting: count pre-tokenizer tokens per
    document with ONE JVM regexp_extract_all projection — the "how many
    tokens will this corpus cost to train on" estimate at the granularity
    real BPE vocabularies split on (word/number/punctuation runs), far
    closer to true token counts than whitespace words.

    Pure whole-stage-codegen expression: no UDF, no shuffle — at 100 TB
    this rides the scan. Returns (id_col, n_tokens)."""
    toks = F.regexp_extract_all(F.col(text_col), F.lit(pattern), F.lit(0))
    return df.select(F.col(id_col), F.size(toks).cast("bigint").alias("n_tokens"))

"""Text-analysis functions for LLM-data-pipeline workloads.

All functions are built-in Catalyst expressions (no Python UDFs): they
run JVM-side inside whole-stage codegen, so at 100 TB they fuse into the
enclosing scan stage and cost one pass over the data. Each is designed to
be expressible in ANSI SQL too, so the DuckDB oracle can verify it.

Operates on the driver's ``documents(doc_id, text, lang, source,
n_chars)`` fixture, but the functions take any string Column.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F

# Marker stopwords per language for the n-gram/stopword language-ID
# heuristic. Kept tiny and LIKE-expressible so the oracle SQL can mirror
# the exact same scoring.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "is"),
    "de": ("der", "und", "das", "ist"),
    "es": ("el", "la", "que", "es"),
    "fr": ("le", "les", "et", "est"),
}


def _col(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


def token_count(col: Column | str) -> Column:
    """Whitespace token count; empty/blank text → 0. Returns BIGINT."""
    c = _col(col)
    t = F.trim(c)
    return (
        F.when(c.isNull(), F.lit(None))
        .when(F.length(t) == 0, F.lit(0))
        .otherwise(F.size(F.split(t, r"\s+")))
        .cast("bigint")
    )


def approx_bpe_token_count(col: Column | str, chars_per_token: float = 4.0) -> Column:
    """BPE-ish token estimate: ``ceil(len/4)`` (the classic ~4 chars/token
    heuristic). Cheap scale path when exact tokenization is too hot.
    """
    c = _col(col)
    return F.ceil(F.length(c) / F.lit(chars_per_token)).cast("bigint")


# GPT-2-ish pretokenizer pattern: contractions, letter runs, digit runs,
# punctuation runs, whitespace-attached. Kept RE2/Java/DuckDB-portable
# (no possessive quantifiers / lookahead): an approximation of the real
# 's|'t|'re|... class, good enough for token-budget estimation.
BPE_REGEX = r"'(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s]+"


def regex_token_count(col: Column | str, pattern: str = BPE_REGEX) -> Column:
    """BPE-ish token count: number of GPT-2-style pretokenizer matches.

    JVM-side ``regexp_count`` — one codegen'd pass, no Python. Much
    closer to a real tokenizer's budget than ``ceil(len/4)`` (which
    stays as the cheap path in :func:`approx_bpe_token_count`).
    """
    c = _col(col)
    return (
        F.when(c.isNull(), F.lit(None))
        .otherwise(F.regexp_count(c, F.lit(pattern)))
        .cast("bigint")
    )


def winnow_fingerprints(
    df,
    col: str,
    out_col: str = "fps",
    k: int = 5,
    window: int = 4,
    hash: str = "crc32",
):
    """Winnowing (Schleimer et al., SIGMOD '03) rolling fingerprints:
    hash every k-gram (character shingle), then keep the MIN hash of
    each sliding window of ``window`` consecutive k-gram hashes —
    ``array_distinct`` of the selected mins, appended as ``out_col``.

    Guarantees any shared substring ≥ k+window−1 chars yields at least
    one common fingerprint — the standard near-dup/plagiarism sketch.
    Pure higher-order built-ins (sequence/transform/slice/array_min).

    DataFrame-level (``df, col → df``) on purpose: the k-gram hash array
    MUST be bound as its own projected attribute before the window pass —
    as a single nested Column expression every one of the O(n) window
    mins would re-evaluate the whole O(n) hash array (O(n²) hashing per
    row; measured as a multi-minute blowup at sf0.01).

    ``hash="crc32"`` → ``array<bigint>`` (fast path);
    ``hash="md5"`` → ``array<string>`` of 8-hex-char prefixes, where the
    window min is the LEXICOGRAPHIC min — chosen because any SQL engine
    with md5 computes the identical value (the DuckDB oracle does).
    """
    t = F.lower(F.trim(F.regexp_replace(_col(col), r"\s+", " ")))
    n_grams = F.length(t) - F.lit(k - 1)
    if hash == "crc32":
        gram = lambda i: F.crc32(F.substring(t, i, k).cast("binary"))  # noqa: E731
    elif hash == "md5":
        gram = lambda i: F.substring(F.md5(F.substring(t, i, k)), 1, 8)  # noqa: E731
    else:
        raise ValueError(f"unknown winnowing hash: {hash}")
    gh = F.when(n_grams >= 1, F.transform(F.sequence(F.lit(1), n_grams), gram))
    bound = df.withColumn("_wf_gh", gh)
    arr = F.col("_wf_gh")
    n_windows = F.size(arr) - F.lit(window - 1)
    mins = F.when(
        n_windows >= 1,
        F.array_sort(
            F.array_distinct(
                F.transform(
                    F.sequence(F.lit(1), n_windows),
                    lambda i: F.array_min(F.slice(arr, i, window)),
                )
            )
        ),
    ).otherwise(F.when(F.size(arr) >= 1, F.array(F.array_min(arr))))
    return bound.withColumn(out_col, mins).drop("_wf_gh")


def _marker_score(col: Column, words: tuple[str, ...]) -> Column:
    """Number of marker words present as whole tokens (0..len(words))."""
    padded = F.concat(F.lit(" "), F.lower(col), F.lit(" "))
    score: Column = F.lit(0)
    for w in words:
        score = score + F.when(padded.like(f"% {w} %"), 1).otherwise(0)
    return score


def language_id(col: Column | str) -> Column:
    """Stopword-marker language ID over ``LANG_MARKERS``.

    Scores each language by how many of its marker words occur as tokens;
    returns the argmax with a fixed priority order (en > de > es > fr) on
    ties, ``'und'`` (undetermined) when every score is 0.
    """
    c = _col(col)
    scores = {lang: _marker_score(c, words) for lang, words in LANG_MARKERS.items()}
    best = F.greatest(*scores.values())
    expr = F.when(best == 0, "und")
    for lang in LANG_MARKERS:  # dict order = priority order
        expr = expr.when(scores[lang] == best, lang)
    return expr.otherwise("und")


def quality_score(col: Column | str) -> Column:
    """Heuristic document quality in [0, 1] (round 6).

    0.5·alpha_ratio + 0.3·(1 − punct_ratio) + 0.2·min(len/500, 1) —
    pure per-row double arithmetic, so Spark and any SQL oracle agree
    bit-for-bit. Empty/NULL text → 0.0.
    """
    c = _col(col)
    n = F.length(c).cast("double")
    alpha = F.length(F.regexp_replace(c, "[^A-Za-z]", "")).cast("double")
    punct = F.length(F.regexp_replace(c, "[^.,;:!?]", "")).cast("double")
    score = (
        F.lit(0.5) * (alpha / n)
        + F.lit(0.3) * (F.lit(1.0) - punct / n)
        + F.lit(0.2) * F.least(n / F.lit(500.0), F.lit(1.0))
    )
    return F.round(F.when(c.isNull() | (n == 0), F.lit(0.0)).otherwise(score), 6)


def doc_fingerprint(col: Column | str) -> Column:
    """Deterministic content fingerprint: md5 of whitespace-collapsed,
    lower-cased text. md5 (not xxhash64) so DuckDB computes the identical
    value. Use for exact-dup detection across shards.
    """
    c = _col(col)
    return F.md5(F.lower(F.trim(F.regexp_replace(c, r"\s+", " "))))


def repetition_ratio(col: Column | str, n: int = 2) -> Column:
    """Duplicate word-n-gram fraction: ``1 − distinct_ngrams/total_ngrams``
    in [0, 1] — the Gopher/C4-style repetition quality signal (high value
    = boilerplate/looping text). Pure higher-order built-ins
    (split → transform → array_distinct), one codegen pass, no shuffle.
    Texts with < n tokens (no n-grams) → 0.0. Round 6 for oracle-stable
    doubles.
    """
    c = _col(col)
    toks = F.split(F.trim(c), r"\s+")
    grams = F.transform(
        F.sequence(F.lit(1), F.size(toks) - F.lit(n - 1)),
        lambda i: F.array_join(F.slice(toks, i, n), " "),
    )
    total = F.size(toks) - F.lit(n - 1)
    ratio = F.lit(1.0) - F.size(F.array_distinct(grams)).cast("double") / total.cast("double")
    return F.round(
        F.when(c.isNull(), F.lit(None)).when(total > 0, ratio).otherwise(F.lit(0.0)), 6
    )


# train/val/test thresholds as cumulative percentages of the 0..99 bucket.
DEFAULT_SPLITS: tuple[tuple[str, int], ...] = (("train", 80), ("val", 90), ("test", 100))


def hash_split(
    key: Column | str, splits: tuple[tuple[str, int], ...] = DEFAULT_SPLITS
) -> Column:
    """Deterministic train/val/test assignment: bucket 0..99 from the
    first 4 hex chars of ``md5(key)``, mapped through cumulative
    percentage thresholds (default 80/10/10).

    Hash-based (not ``rand()``) so the assignment is stable across runs,
    engines, and re-partitioning — and so every row with the same key
    (e.g. a dedup-cluster id) lands in the same split, preventing
    train/test leakage between near-duplicates. md5 (not xxhash64)
    because any SQL engine computes the identical value.
    """
    bucket = hash_bucket(key)
    expr = None
    for name, threshold in splits:
        cond = bucket < threshold
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    return expr.otherwise(F.lit(None))


def hash_bucket(key: Column | str, n_buckets: int = 100) -> Column:
    """Uniform deterministic bucket in [0, n_buckets) from md5(key) —
    the primitive under :func:`hash_split`, also usable for hash-based
    sampling (``hash_bucket(k) < pct``).

    Residue bias: the 4-hex-digit domain (16⁴ = 65 536) is not a
    multiple of 100, so buckets 0–35 are hit by 656 residues and 36–99
    by 655 — a ≤0.16% relative skew, irrelevant for split assignment
    (and exactly mirrored by any oracle computing the same formula).
    ``operators/curation._det_bucket`` widens to 8 hex digits where
    finer thresholds matter."""
    c = _col(key).cast("string")
    return (F.conv(F.substring(F.md5(c), 1, 4), 16, 10).cast("bigint") % n_buckets).cast(
        "int"
    )


def chunk_documents(
    df,
    col: str,
    id_cols: tuple[str, ...] = ("doc_id",),
    chunk_tokens: int = 32,
    overlap: int = 8,
    out_prefix: str = "chunk",
):
    """Split documents into overlapping fixed-token-count chunks — the
    standard pre-training/RAG windowing step. Returns one row per chunk:
    ``id_cols + (chunk_id, chunk_text, chunk_n_tokens)``.

    Chunk *i* covers tokens ``[i·step, i·step + chunk_tokens)`` with
    ``step = chunk_tokens − overlap``; the last chunk may be short but
    every token is covered exactly ``ceil`` times. All higher-order
    built-ins (split → transform → posexplode): embarrassingly parallel,
    zero shuffles, output partitioning inherits the input's — at 100 TB
    this fuses into the scan stage and only multiplies row count.
    """
    if not 0 <= overlap < chunk_tokens:
        raise ValueError("need 0 <= overlap < chunk_tokens")
    step = chunk_tokens - overlap
    toks = F.split(F.trim(F.col(col)), r"\s+")
    n = F.size(toks)
    n_chunks = F.when(
        n <= chunk_tokens, F.lit(1)
    ).otherwise(F.ceil((n - F.lit(chunk_tokens)).cast("double") / F.lit(step)) + 1)
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks.cast("int") - 1),
        lambda i: F.array_join(F.slice(toks, i * step + 1, chunk_tokens), " "),
    )
    exploded = df.select(
        *id_cols, F.posexplode(chunks).alias(f"{out_prefix}_id", f"{out_prefix}_text")
    )
    return exploded.withColumn(
        f"{out_prefix}_n_tokens", F.size(F.split(F.col(f"{out_prefix}_text"), r"\s+"))
    )


# Redaction patterns, applied in order (URLs before emails so an address
# inside a query string is eaten by <URL>). RE2/Java/DuckDB-portable:
# no lookaround, no possessive quantifiers.
PII_PATTERNS: tuple[tuple[str, str], ...] = (
    (r"https?://[^\s]+", "<URL>"),
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z][A-Za-z]+", "<EMAIL>"),
    (r"[0-9][0-9]{6,}", "<NUM>"),  # 7+ digit runs: phones, SSNs, CC fragments
)


def dedupe_lines(col: Column | str) -> Column:
    """Remove repeated lines within a document, keeping each line's
    FIRST occurrence in order — the intra-document half of dedup
    (boilerplate nav/footer lines repeated inside one page), applied
    before corpus-level near-dup tiers so repeated chrome doesn't
    dominate shingle sets. Pure Catalyst: split on newlines,
    ``array_distinct`` (order-preserving on first occurrence), rejoin.
    """
    c = _col(col)
    return F.array_join(F.array_distinct(F.split(c, "\n")), "\n")


def scrub_pii(col: Column | str, patterns: tuple[tuple[str, str], ...] = PII_PATTERNS) -> Column:
    """Redact URLs, email addresses, and long digit runs with placeholder
    tokens — the standard pre-training redaction pass. Chained
    ``regexp_replace`` built-ins: one codegen'd pass over the text, no
    Python, no shuffle; at 100 TB this fuses into the scan stage.
    """
    c = _col(col)
    for pattern, replacement in patterns:
        c = F.regexp_replace(c, pattern, replacement)
    return c


def stopword_ratio(col: Column | str, stopwords: tuple[str, ...] = LANG_MARKERS["en"]) -> Column:
    """Fraction of tokens that are (English) stopwords — crude fluency
    signal; round 6 for oracle-stable doubles. Exact token-level count
    via a higher-order ``filter`` over the whitespace tokenization (the
    earlier replace-based substring count consumed the shared space
    between immediately-consecutive stopwords and undercounted
    "the the"-style runs)."""
    c = _col(col)
    tokens = token_count(c)
    toks = F.split(F.lower(F.trim(c)), r"\s+")
    stops = F.array(*[F.lit(w) for w in stopwords])
    hits = F.size(F.filter(toks, lambda t: F.array_contains(stops, t)))
    return F.round(
        F.when(tokens > 0, hits.cast("double") / tokens.cast("double")).otherwise(F.lit(0.0)), 6
    )


GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


def gopher_quality_flags(
    df,
    col: str,
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    min_alpha_word_ratio: float = 0.8,
    max_bullet_line_ratio: float = 0.9,
    max_ellipsis_line_ratio: float = 0.3,
    min_stopword_hits: int = 2,
):
    """Gopher-style document quality heuristics (Rae et al. 2021,
    "Scaling Language Models: ... Gopher", §A1.1 repetition/quality
    filters — the public web-corpus recipe): word-count bounds, mean
    word length bounds, alphabetic-word ratio, bullet/ellipsis line
    ratios, and a required-stopword count. All pure higher-order
    built-ins over one tokenize pass — zero shuffles, zero Python;
    appends the individual measures plus a ``pass_gopher`` verdict so
    pipelines can filter on the verdict or re-weight on the measures.
    """
    c = _col(col)
    words = F.split(F.trim(c), r"\s+")
    n_words = F.size(words)
    mean_wl = F.round(
        F.aggregate(words, F.lit(0), lambda a, w: a + F.length(w)).cast("double")
        / n_words,
        6,
    )
    alpha_ratio = F.round(
        F.size(F.filter(words, lambda w: w.rlike("[a-zA-Z]"))).cast("double")
        / n_words,
        6,
    )
    lines = F.split(c, "\n")
    bullet_ratio = F.round(
        F.size(
            F.filter(
                lines,
                lambda l: F.trim(l).startswith("-") | F.trim(l).startswith("•"),
            )
        ).cast("double")
        / F.size(lines),
        6,
    )
    ellipsis_ratio = F.round(
        F.size(F.filter(lines, lambda l: F.rtrim(l).endswith("..."))).cast("double")
        / F.size(lines),
        6,
    )
    lower_words = F.transform(words, F.lower)
    stop_hits = F.size(
        F.filter(
            F.array(*[F.lit(s) for s in GOPHER_STOPWORDS]),
            lambda s: F.array_contains(lower_words, s),
        )
    )
    out = (
        df.withColumn("n_words", n_words.cast("bigint"))
        .withColumn("mean_word_len", mean_wl)
        .withColumn("alpha_word_ratio", alpha_ratio)
        .withColumn("bullet_line_ratio", bullet_ratio)
        .withColumn("ellipsis_line_ratio", ellipsis_ratio)
        .withColumn("stopword_hits", stop_hits.cast("bigint"))
    )
    return out.withColumn(
        "pass_gopher",
        (F.col("n_words") >= min_words)
        & (F.col("n_words") <= max_words)
        & (F.col("mean_word_len") >= min_mean_word_len)
        & (F.col("mean_word_len") <= max_mean_word_len)
        & (F.col("alpha_word_ratio") >= min_alpha_word_ratio)
        & (F.col("bullet_line_ratio") <= max_bullet_line_ratio)
        & (F.col("ellipsis_line_ratio") <= max_ellipsis_line_ratio)
        & (F.col("stopword_hits") >= min_stopword_hits),
    )


def bm25_topk(
    df,
    query_terms: list[str],
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    require_all_terms: bool = False,
):
    """Okapi BM25 ranking of documents against a bag of query terms —
    the classic lexical-retrieval scorer (Robertson et al., TREC-3),
    entirely in Catalyst so it is one declarative plan at 100 TB:

    ``score(D,Q) = Σ_q idf(q) · tf·(k1+1) / (tf + k1·(1−b+b·|D|/avgdl))``
    with the +1-smoothed idf ``ln((N−df+0.5)/(df+0.5)+1)`` (always
    positive, so stop-frequency terms dilute rather than invert).

    Plan shape: per-doc length |D| is a scan-fused projection (no
    shuffle); (N, avgdl) is ONE corpus agg — a sanctioned 1-row
    broadcast like the TF-IDF denominator; the exploded token stream is
    filtered to the query terms BEFORE its (doc, term) aggregation, so
    the shuffle carries only matching postings (query-sized, not
    corpus-sized); per-term df joins back as a broadcast. The terminal
    orderBy+limit is Spark's TakeOrdered (per-partition heaps, k-sized
    driver merge). Scores round to 6 dp so the SQL oracle replays
    bit-identically. Ties break by ascending id.

    ``require_all_terms=True`` switches OR (bag-of-words) retrieval to
    AND: only documents matching EVERY distinct query term rank —
    precision holds on multi-term queries where one common term would
    otherwise flood the top-k. Zero extra shuffles: the per-doc
    matched-term count falls out of the same (doc, term) aggregation
    (tf rows are unique per pair, so ``count(*)`` IS the distinct-term
    count), applied as a post-agg HAVING. Conjunctive results are
    always a subset of the disjunctive ranking with identical scores.
    """
    terms = [t.lower() for t in query_terms]
    toks = F.split(F.trim(F.lower(_col(text_col))), r"\s+")
    base = df.select(
        F.col(id_col), F.size(toks).alias("_dl"), toks.alias("_toks")
    )
    stats = base.agg(
        F.count("*").alias("_n"), F.avg("_dl").alias("_avgdl")
    )
    tf = (
        base.select(F.col(id_col), "_dl", F.explode("_toks").alias("_term"))
        .filter(F.col("_term").isin(terms))
        .groupBy(id_col, "_dl", "_term")
        .agg(F.count("*").alias("_tf"))
    )
    dfreq = tf.groupBy("_term").agg(F.count("*").alias("_df"))
    idf = F.log(
        (F.col("_n") - F.col("_df") + 0.5) / (F.col("_df") + 0.5) + 1.0
    )
    denom = F.col("_tf") + k1 * (
        1.0 - b + b * F.col("_dl") / F.col("_avgdl")
    )
    scored = (
        tf.join(F.broadcast(dfreq), "_term")
        .crossJoin(F.broadcast(stats))
        .withColumn("_s", idf * F.col("_tf") * (k1 + 1.0) / denom)
    )
    agged = scored.groupBy(id_col).agg(
        F.round(F.sum("_s"), 6).alias("bm25"),
        F.count("*").alias("_matched"),
    )
    if require_all_terms:
        agged = agged.filter(F.col("_matched") == len(set(terms)))
    return (
        agged.drop("_matched")
        .orderBy(F.desc("bm25"), F.asc(id_col))
        .limit(k)
    )


def bm25_topk_queries(
    df,
    queries,
    id_col: str = "doc_id",
    text_col: str = "text",
    query_id_col: str = "query_id",
    term_col: str = "term",
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    require_all_terms: bool = False,
):
    """Batch form of :func:`bm25_topk`: rank documents for MANY queries
    in one plan — ``queries`` is a ``(query_id, term)`` frame (one row
    per query term). The production retrieval shape: the corpus is
    tokenized ONCE, postings are filtered to the UNION of all query
    terms (semi-join on the broadcast-small distinct-term set), scored
    per (term, doc), fanned out to the queries that contain each term
    (broadcast join — queries are small by contract, like
    ``brute_force_topk``'s query set), summed per (query, doc), and
    top-k'd with a query-partitioned rank (WindowGroupLimit map-side
    top-k — no driver-side limit). idf/length normalization identical
    to the single-query form; scores round to 6 dp for the oracle.

    ``require_all_terms=True`` keeps, per query, only documents that
    match EVERY one of that query's distinct terms (AND semantics) —
    the per-pair matched-term count falls out of the existing
    (query, doc) aggregation, compared against a broadcast per-query
    term count; no extra shuffle over the postings.
    """
    toks = F.split(F.trim(F.lower(_col(text_col))), r"\s+")
    base = df.select(
        F.col(id_col), F.size(toks).alias("_dl"), toks.alias("_toks")
    )
    stats = base.agg(F.count("*").alias("_n"), F.avg("_dl").alias("_avgdl"))
    q = queries.select(
        F.col(query_id_col), F.lower(F.col(term_col)).alias("_term")
    ).distinct()
    terms = q.select("_term").distinct()
    tf = (
        base.select(F.col(id_col), "_dl", F.explode("_toks").alias("_term"))
        .join(F.broadcast(terms), "_term", "leftsemi")
        .groupBy(id_col, "_dl", "_term")
        .agg(F.count("*").alias("_tf"))
    )
    dfreq = tf.groupBy("_term").agg(F.count("*").alias("_df"))
    idf = F.log(
        (F.col("_n") - F.col("_df") + 0.5) / (F.col("_df") + 0.5) + 1.0
    )
    denom = F.col("_tf") + k1 * (1.0 - b + b * F.col("_dl") / F.col("_avgdl"))
    scored = (
        tf.join(F.broadcast(dfreq), "_term")
        .crossJoin(F.broadcast(stats))
        .withColumn("_s", idf * F.col("_tf") * (k1 + 1.0) / denom)
        .join(F.broadcast(q), "_term")
        .groupBy(query_id_col, id_col)
        .agg(
            F.round(F.sum("_s"), 6).alias("bm25"),
            F.count("*").alias("_matched"),
        )
    )
    if require_all_terms:
        need = q.groupBy(query_id_col).agg(F.count("*").alias("_need"))
        scored = scored.join(F.broadcast(need), query_id_col).filter(
            F.col("_matched") == F.col("_need")
        ).drop("_need")
    scored = scored.drop("_matched")
    from pyspark.sql import Window

    w = Window.partitionBy(query_id_col).orderBy(
        F.desc("bm25"), F.asc(id_col)
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


# tracking parameters stripped by canonicalize_url: utm_* by KEY
# PREFIX (case-insensitive), the rest by exact key match — 'ref' must
# not swallow refid=/refresh= (distinct resources)
TRACKING_PARAM_KEYS = ("gclid", "fbclid", "mc_eid")
TRACKING_PARAM_PREFIXES = ("utm_",)


def normalize_text(
    col: Column | str,
    form: str = "NFC",
    lowercase: bool = False,
    collapse_whitespace: bool = False,
) -> Column:
    """Unicode normalization — the canonical first transform before any
    byte-identity operation (exact dedup, URL keys, tokenization):
    visually-identical strings with different codepoint sequences
    (``é`` vs ``e + U+0301``) must fingerprint identically or
    duplicates survive every downstream dedup. ``form`` is one of
    NFC/NFKC/NFD/NFKD (NFC for identity keys, NFKC when compatibility
    folds — ligatures, width variants — should collapse too).

    Spark has no built-in ICU normalizer, so the normalization itself
    is an Arrow-batched ``pandas_udf`` over ``Series.str.normalize``
    (vectorized stdlib ``unicodedata`` — never row-at-a-time Python);
    the optional ``lowercase`` / ``collapse_whitespace`` steps stay
    JVM-side AFTER it (lowercasing pre-composed and combining forms
    agrees only post-normalization). NULLs pass through. The NFC form
    is oracle-replayable (DuckDB ``nfc_normalize``); the other forms
    are pinned against ``unicodedata`` in pytest."""
    if form not in ("NFC", "NFKC", "NFD", "NFKD"):
        raise ValueError(f"unknown normalization form: {form!r}")
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("string")
    def _norm(s: pd.Series) -> pd.Series:
        return s.str.normalize(form)

    out = _norm(_col(col))
    if lowercase:
        out = F.lower(out)
    if collapse_whitespace:
        out = F.trim(F.regexp_replace(out, r"\s+", " "))
    return out


def canonicalize_url(
    col: Column | str,
    tracking_keys: tuple = TRACKING_PARAM_KEYS,
    tracking_prefixes: tuple = TRACKING_PARAM_PREFIXES,
) -> Column:
    """Canonical form of a URL for crawl-level exact dedup — the
    normalization a web pipeline applies before URL-keyed dedup or
    frontier scheduling, where `HTTP://Example.com/a?utm_source=x&b=1#top`
    and `http://example.com/a?b=1` are the same fetch:

    - scheme and host lowercased (path and query VALUES preserved)
    - fragment dropped
    - default ports stripped (``:80`` for http, ``:443`` for https)
    - tracking parameters removed, keys matched case-insensitively
      (``tracking_prefixes`` by prefix, default ``utm_*``;
      ``tracking_keys`` by exact key, default ``gclid/fbclid/mc_eid``
      — both tunable per corpus; ``ref`` is NOT in the default set
      since some sites use it as a semantic parameter, pass
      ``tracking_keys=(*TRACKING_PARAM_KEYS, "ref")`` for corpora
      where it is tracking-only)
    - surviving query parameters SORTED (order-insensitive compare)
    - ALL trailing ``/`` dropped from non-root paths (idempotent)

    Built from split/filter/sort/join ARRAY ops plus one trailing-slash
    regex (``/+$`` — identical in Java regex and RE2), so any ANSI
    engine with list functions reproduces it term for term; strings
    without ``://`` pass through untouched. Compose with
    ``dedup.exact_dedup`` on the output for URL-grain dedup.

    .. note:: **Canonical-key compatibility.** The canonical form is a
       persistence key: dedup state, frontier tables and corpora keyed
       on it only match across versions if the tracking lists match.
       The default ``tracking_keys`` leave out ``ref`` (it collides
       with semantic ``ref=`` parameters), so canonical forms of
       ``ref=``-bearing URLs differ from those of a list that strips
       it — duplicates can survive dedup against state built that
       way. When
       upgrading an existing pipeline, either re-canonicalize persisted
       keys with the current defaults or pin ``tracking_keys``
       explicitly to the list the state was built with."""
    c = _col(col)
    nofrag = F.get(F.split(c, "#", 2), 0)
    scheme = F.lower(F.get(F.split(nofrag, "://", 2), 0))
    rest = F.get(F.split(nofrag, "://", 2), 1)  # NULL when no '://'
    # '?' binds BEFORE the first '/': http://h.com?a=1 has no path and
    # its query must never be absorbed into the host
    hostpath = F.get(F.split(rest, "\\?", 2), 0)
    query = F.get(F.split(rest, "\\?", 2), 1)  # NULL when none
    hp = F.lower(F.get(F.split(hostpath, "/", 2), 0))
    path = F.coalesce(F.get(F.split(hostpath, "/", 2), 1), F.lit(""))
    host = (
        F.when(
            (scheme == "http") & hp.endswith(":80"),
            hp.substr(F.lit(1), F.length(hp) - 3),
        )
        .when(
            (scheme == "https") & hp.endswith(":443"),
            hp.substr(F.lit(1), F.length(hp) - 4),
        )
        .otherwise(hp)
    )

    def _kept(p):
        key = F.lower(F.get(F.split(p, "=", 2), 0))
        tracked = F.lit(False)
        if tracking_prefixes:
            tracked = F.exists(
                F.array(*[F.lit(t.lower()) for t in tracking_prefixes]),
                lambda t: key.startswith(t),
            )
        if tracking_keys:
            tracked = tracked | key.isin(*[k.lower() for k in tracking_keys])
        return (p != "") & ~tracked

    params = F.filter(F.split(query, "&"), _kept)
    qcanon = F.array_join(F.array_sort(params), "&")
    path = F.regexp_replace(path, "/+$", "")
    out = F.concat(scheme, F.lit("://"), host, F.lit("/"), path)
    out = F.when(
        qcanon.isNotNull() & (qcanon != ""), F.concat(out, F.lit("?"), qcanon)
    ).otherwise(out)
    return F.when(rest.isNull(), c).otherwise(out)


def html_to_text(col: Column | str) -> Column:
    """Boilerplate-free text from raw HTML — the first transform of
    every web-corpus pipeline (the trafilatura/jusText niche reduced
    to its deterministic core, as a pure-Catalyst column):

    1. ``<script>``/``<style>`` blocks removed WITH their contents
       (code/CSS must never leak into training text), comments removed
    2. block-level closers/breaks (``</p> </div> </h1..6> </li> <br>``)
       become newlines, so paragraph structure survives tag stripping
    3. every remaining tag stripped
    4. the six ubiquitous entities decoded (&amp; &lt; &gt; &quot;
       &#39; &nbsp;) — &amp; LAST so ``&amp;lt;`` decodes to the
       literal ``&lt;`` the author escaped, not to ``<``
    5. horizontal whitespace collapsed, newline runs collapsed, ends
       trimmed

    Everything is JVM-side regexp_replace/trim — zero Python in the
    hot path. For full-fidelity extraction (readability scoring,
    main-content detection) plug a real extractor behind the same
    column contract; this tier is the deterministic, oracle-checkable
    baseline."""
    c = _col(col)
    # (?is): case-insensitive + dotall so multi-line blocks match
    c = F.regexp_replace(c, r"(?is)<script\b[^>]*>.*?</script>", " ")
    c = F.regexp_replace(c, r"(?is)<style\b[^>]*>.*?</style>", " ")
    # crawl-truncated pages end mid-block: an UNTERMINATED script/style
    # must still never leak its contents into training text
    c = F.regexp_replace(c, r"(?is)<script\b[^>]*>.*$", " ")
    c = F.regexp_replace(c, r"(?is)<style\b[^>]*>.*$", " ")
    c = F.regexp_replace(c, r"(?s)<!--.*?-->", " ")
    c = F.regexp_replace(
        c, r"(?i)</(p|div|h[1-6]|li|tr|table|ul|ol|blockquote)>|<br\s*/?>",
        "\n",
    )
    c = F.regexp_replace(c, r"(?s)<[^>]*>", " ")
    for ent, ch in (
        ("&lt;", "<"), ("&gt;", ">"), ("&quot;", '"'),
        ("&#39;", "'"), ("&nbsp;", " "), ("&amp;", "&"),
    ):
        c = F.replace(c, F.lit(ent), F.lit(ch))
    c = F.regexp_replace(c, r"[ \t\r\f]+", " ")
    c = F.regexp_replace(c, r" ?\n ?", "\n")
    c = F.regexp_replace(c, r"\n+", "\n")
    # trim() strips only spaces — ends may carry newlines too
    return F.regexp_replace(c, r"^\s+|\s+$", "")

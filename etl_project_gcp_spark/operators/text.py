"""Text-analysis operators for LLM-data pipelines (SURVEY §2.12 X4 [EXT]).

All hot-path expressions are built-in pyspark.sql.functions (JVM-side,
whole-stage codegen) — no Python in the per-row path. Token statistics,
quality scoring, language ID, and fingerprinting run as one projection
over the documents scan, so at 100 TB the cost is one pass over the
column, no shuffle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from etl_project_gcp_spark import exact as X

# Small per-language stopword inventories for the n-gram/stopword
# language-ID heuristic. Public common-word lists.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "to", "in", "is", "that", "it", "for"),
    "es": ("el", "la", "de", "que", "y", "en", "un", "una", "los", "por"),
    "fr": ("le", "la", "de", "et", "un", "une", "les", "des", "que", "pour"),
    "de": ("der", "die", "das", "und", "ein", "eine", "zu", "von", "mit", "ist"),
    "pt": ("o", "a", "de", "que", "e", "um", "uma", "os", "para", "com"),
    "it": ("il", "la", "di", "che", "e", "un", "una", "per", "con", "del"),
}


def tokens(col: Column | str, pattern: str = r"\s+") -> Column:
    """Whitespace tokenization (lowercased). Empty tokens are dropped:
    ``split`` emits ``''`` for empty text and for leading/trailing
    whitespace, which silently inflated ``n_tokens`` and every derived
    ratio on padded docs (code-review r6 — a 9-real-token doc with
    leading whitespace passed ``n_tokens >= 10``). Every DuckDB oracle
    mirrors the drop with ``list_filter(..., t -> t <> '')``.

    Implementation is ``array_remove`` (a codegen collection
    expression) — an ``F.filter`` HOF here measured 1.3-2.2x slower on
    every token-heavy entry (interpreted per row, and tokenization is
    the hot path of the whole text family)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.array_remove(F.split(F.lower(c), pattern), "")


def token_count(col: Column | str) -> Column:
    return F.size(tokens(col))


# BPE-ish pre-tokenization: letter runs, single digits, punctuation
# singletons — the GPT-2-family split shape, restricted to constructs
# whose regex semantics are identical in Spark (Java regex) and DuckDB
# (RE2) so the count is oracle-checkable.
BPE_SPLIT_PATTERN = r"[a-zA-Z]+|[0-9]|[^a-zA-Z0-9\s]"


def bpe_token_count(col: Column | str) -> Column:
    """Approximate LLM token count via BPE-style pre-tokenization
    (regexp_extract_all, JVM-side — no Python tokenizer in the scan)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.size(F.regexp_extract_all(c, F.lit(BPE_SPLIT_PATTERN), 0))


def token_stats(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-document token statistics: counts, exact mean token length,
    punctuation count, short-doc flag."""
    toks = tokens(text_col)
    n_tokens = F.size(toks)
    n_chars = F.length(text_col)
    # sum of token lengths == chars excluding whitespace
    n_alpha = F.length(F.regexp_replace(F.col(text_col), r"\s", ""))
    return docs.select(
        id_col,
        n_tokens.alias("n_tokens"),
        n_chars.alias("n_chars"),
        X.ddiv_round(n_alpha, n_tokens).alias("mean_token_len"),
        (n_chars < 200).alias("is_short"),
    )


def quality_score(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Heuristic quality signals: length, punctuation ratio, stopword
    DENSITY, all-caps ratio — the standard pre-training filters.

    ``stopword_hit_ratio`` counts stopword OCCURRENCES over tokens
    (the C4/Gopher-style fraction-of-tokens statistic). The previous
    ``array_intersect`` formulation counted DISTINCT markers hit —
    capped at the 10-word marker list, so the "ratio" decayed toward 0
    with document length and any threshold on it length-confounded the
    filter (code-review r6)."""
    text = F.col(text_col)
    toks = tokens(text_col)
    n_tokens = F.size(toks)
    n_chars = F.length(text)
    n_punct = F.length(F.regexp_replace(text, r"[\w\s]", ""))
    stop = F.array([F.lit(w) for w in LANG_MARKERS["en"]])
    n_stop = F.size(F.filter(toks, lambda t: F.array_contains(stop, t)))
    return docs.select(
        id_col,
        n_chars.alias("n_chars"),
        n_tokens.alias("n_tokens"),
        X.ddiv_round(n_punct, n_chars, 4).alias("punct_ratio"),
        X.ddiv_round(n_stop, n_tokens, 4).alias("stopword_hit_ratio"),
        (
            (n_chars >= 50) & (n_tokens >= 10)
        ).alias("passes_min_length"),
    )


def gopher_quality(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Gopher-style repetition/diversity filters (the pre-training
    data rules family): token-count bounds, mean-token-length bounds,
    fraction-of-distinct-tokens floor. All ratios go through exact
    integer division so the flags are bit-identical in any engine."""
    toks = tokens(text_col)
    n_tokens = F.size(toks)
    n_distinct = F.size(F.array_distinct(toks))
    n_alpha = F.length(F.regexp_replace(F.col(text_col), r"\s", ""))
    frac_distinct = X.ddiv_round(n_distinct, n_tokens, 4)
    mean_len = X.ddiv_round(n_alpha, n_tokens, 2)
    return docs.select(
        id_col,
        n_tokens.alias("n_tokens"),
        frac_distinct.alias("frac_distinct"),
        mean_len.alias("mean_token_len"),
        (
            (n_tokens >= 50)
            & (n_tokens <= 100_000)
            & (mean_len >= 3)
            & (mean_len <= 10)
            & (frac_distinct > 0.3)
        ).alias("passes_gopher"),
    )


def language_id(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Stopword-overlap language ID (n-gram heuristic).

    Scores each candidate language by distinct-stopword hits in the
    token set; argmax wins, 'und' (undetermined) when nothing hits.
    One projection, no shuffle, no UDF.
    """
    toks = F.array_distinct(tokens(text_col))
    scores = [
        F.size(F.array_intersect(toks, F.array([F.lit(w) for w in words]))).alias(
            f"_s_{lang}"
        )
        for lang, words in LANG_MARKERS.items()
    ]
    scored = docs.select(id_col, text_col, *scores)
    langs = list(LANG_MARKERS)
    best = F.greatest(*[F.col(f"_s_{lg}") for lg in langs])
    pred = F.lit("und")
    # reversed so earlier languages win ties (deterministic)
    for lg in reversed(langs):
        pred = F.when(F.col(f"_s_{lg}") == best, F.lit(lg)).otherwise(pred)
    pred = F.when(best > 0, pred).otherwise(F.lit("und"))
    return scored.select(id_col, pred.alias("pred_lang"), best.alias("marker_hits"))


def fingerprint(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Document fingerprint: md5 of whitespace-normalized lowercase text
    (cheap content identity for exact dedup across formatting)."""
    norm = F.regexp_replace(F.lower(F.col(text_col)), r"\s+", " ")
    return docs.select(
        id_col,
        F.md5(norm).alias("fp_md5"),
        F.sha2(F.col(text_col), 256).alias("content_sha256"),
    )


def word_frequencies(
    docs: DataFrame, text_col: str = "text", top: int | None = None
) -> DataFrame:
    """Corpus word counts: explode tokens → groupBy count. Partial
    aggregation keeps shuffle at |vocab|, not |tokens|."""
    freq = (
        docs.select(F.explode(tokens(text_col)).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    if top is not None:
        freq = freq.orderBy(F.desc("n"), F.asc("word")).limit(top)
    return freq


def tfidf_scores(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_term_len: int = 3,
) -> DataFrame:
    """Per-(doc, term) TF-IDF with the log-free rational idf ``N/df``
    (a monotone transform of the classic log idf — same ranking, but
    every score is one integer-ratio division in IEEE double, so the
    values are bit-deterministic cross-engine; ln() is not).

    Scale: tf is a (doc, term)-keyed aggregate, df a term-keyed rollup
    of tf (already one row per (doc, term) — no second pass over raw
    tokens), N a 1-row broadcast. The only fact-sized shuffles are the
    two aggregates; the df join is term-keyed on the aggregated frame.
    """
    tok = docs.select(
        id_col, F.explode(tokens(text_col)).alias("term")
    ).filter(F.length("term") >= min_term_len)
    tf = tok.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("dfreq"))
    n = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    return (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(n))
        .select(
            id_col,
            "term",
            "tf",
            (
                F.col("tf")
                * (F.col("n_docs").cast("double") / F.col("dfreq"))
            ).alias("tfidf"),
        )
    )


def unigram_lm_scores(
    docs: DataFrame,
    vocab_limit: int = 1000,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """CCNet-style unigram language-model quality score, expressed
    log-free: fit a top-``vocab_limit`` unigram vocabulary on the corpus
    itself, then score each document by the MEAN FREQUENCY RANK of its
    tokens (out-of-vocabulary tokens take rank ``vocab_limit + 1``).
    Under a Zipfian corpus, -log p(w) grows with log rank(w), so mean
    rank is a monotone proxy for the unigram negative log-likelihood the
    CCNet/KenLM perplexity filter thresholds on — low mean rank = fluent
    common-word text, high = rare-token noise/boilerplate. The log-free
    formulation is deliberate (same precedent as ``tfidf_scores``):
    every emitted value is exact integer arithmetic plus ONE IEEE
    division of exact longs, bit-deterministic across engines, where a
    sum of ``ln()`` doubles is neither (libm ulp + summation order).

    Scale: the vocabulary is a token-keyed aggregate cut to
    ``vocab_limit`` rows via orderBy+limit (TakeOrderedAndProject —
    per-partition local top-K, never a global sort) and only THEN
    ranked with a row_number window over the already-bounded K rows;
    the vocabulary broadcasts to the token stream (no shuffle on the
    fact side) and the per-doc rollup is the single corpus-sized
    shuffle. Ties at the vocabulary cut and in ranking carry a total
    order (count desc, word asc), so the scores are reproducible under
    any partitioning.

    Returns ``(id_col, n_tok, n_oov, oov_ratio, mean_rank)``.
    """
    from pyspark.sql import Window

    tok = docs.select(
        F.col(id_col), F.explode(tokens(text_col)).alias("word")
    ).filter(F.col("word") != "")
    # same single vocabulary pipeline as bpe_learn_merges (see there)
    vocab = word_frequencies(docs, text_col, top=vocab_limit).select(
        "word", F.col("n").alias("c")
    )
    # Window over the LIMITED frame only: input is ≤ vocab_limit rows by
    # construction, so the single-partition window is bounded, not a
    # corpus-sized sort.
    ranked = vocab.select(
        "word",
        F.row_number()
        .over(Window.orderBy(F.desc("c"), F.asc("word")))
        .alias("rk"),
    )
    oov_rank = vocab_limit + 1
    j = tok.join(F.broadcast(ranked), "word", "left").select(
        id_col,
        F.col("rk").isNull().cast("int").alias("oov"),
        F.coalesce(F.col("rk"), F.lit(oov_rank)).cast("long").alias("rk"),
    )
    n_tok = F.count(F.lit(1))
    return j.groupBy(id_col).agg(
        n_tok.alias("n_tok"),
        F.sum("oov").cast("bigint").alias("n_oov"),
        X.ddiv_round(F.sum("oov"), n_tok, 4).alias("oov_ratio"),
        (F.sum("rk").cast("double") / n_tok).alias("mean_rank"),
    )


def source_mixture_weights(
    docs: DataFrame,
    strata_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Temperature-scaled source-mixing weights (the Pile/CCNet-style
    domain rebalancing step): per stratum, token mass and a relative
    sampling weight ``sqrt(n_tokens) / sqrt(max n_tokens)`` — temperature
    T=2 (alpha=0.5) upweights tail sources relative to their raw share,
    the standard flattening used when composing pre-training mixes.

    The weight is max-normalized, NOT sum-normalized, on purpose: both
    ``sqrt`` and IEEE division are correctly-rounded single operations,
    so every emitted value is bit-deterministic across engines, whereas
    a sum of per-source sqrt doubles depends on summation order (the
    same failure mode exact.py documents for money). Downstream samplers
    that need probabilities can normalize the tiny per-source table
    themselves.

    Scale: one token-count projection over the corpus scan + one
    stratum-keyed aggregate; the max broadcasts back as a 1-row join.
    """
    agg = docs.groupBy(strata_col).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(token_count(text_col)).cast("bigint").alias("n_tokens"),
    )
    mx = agg.agg(F.max("n_tokens").alias("_max_tokens"))
    return agg.crossJoin(F.broadcast(mx)).select(
        strata_col,
        "n_docs",
        "n_tokens",
        (
            F.sqrt(F.col("n_tokens").cast("double"))
            / F.sqrt(F.col("_max_tokens").cast("double"))
        ).alias("rel_weight"),
    )


def mixture_weighted_sample(
    docs: DataFrame,
    strata_col: str = "source",
    id_col: str = "doc_id",
    text_col: str = "text",
    modulus: int = 10000,
) -> DataFrame:
    """Execute a pre-training data mix: sample each source at its
    temperature-rebalanced rate (``source_mixture_weights`` — the
    largest source keeps 100%, smaller sources keep sqrt-proportionally
    more than their raw share). Selection is the md5-bucket recipe of
    ``stable_bucket``: the SAME rows select in any engine, on any
    partitioning, across reruns — a re-run of the mix job on a 100 TB
    corpus reproduces the identical training set.

    The accept test compares an exact integer bucket against
    ``rel_weight·modulus`` — rel_weight is bit-deterministic (single
    sqrt/divide) and one multiply is one correctly-rounded op, so the
    predicate is cross-engine exact. The per-source weight table
    broadcasts (strata cardinality, not corpus)."""
    w = source_mixture_weights(docs, strata_col, text_col).select(
        strata_col, "rel_weight"
    )
    return (
        docs.join(F.broadcast(w), strata_col)
        .filter(
            stable_bucket(id_col, modulus).cast("double")
            < F.col("rel_weight") * F.lit(float(modulus))
        )
        .drop("rel_weight")
    )


def source_budget_cap(
    docs: DataFrame,
    budget_tokens: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    source_col: str = "source",
) -> DataFrame:
    """Per-source token-budget capping: keep each source's
    highest-quality documents until its cumulative token count reaches
    the budget — the C4/Gopher-style domain cap that stops one
    boilerplate-heavy source from dominating a pre-training mix.

    Quality is the stopword-occurrence density (``quality_score``'s
    statistic — exact-rounded, so cross-engine deterministic), with an
    id tiebreak so the kept set is unique. The running sum is a window
    PARTITIONED BY source (the customer_running_total shape — never a
    global window): each source's prefix sum is independent, so the
    operator scales with the largest single source, not the corpus.
    Exact prefix sums are order-defined and cannot be salted — a
    pathologically dominant source is a data problem the manifest-style
    skew report surfaces, not a plan defect."""
    from pyspark.sql import Window

    toks = tokens(text_col)
    n_tokens = F.size(toks)
    stop = F.array([F.lit(w) for w in LANG_MARKERS["en"]])
    n_stop = F.size(F.filter(toks, lambda t: F.array_contains(stop, t)))
    scored = docs.select(
        id_col,
        source_col,
        n_tokens.alias("n_tokens"),
        X.ddiv_round(n_stop, n_tokens, 4).alias("quality"),
    )
    w = (
        Window.partitionBy(source_col)
        .orderBy(F.desc_nulls_last("quality"), F.asc(id_col))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return scored.withColumn(
        "cum_tokens", F.sum("n_tokens").over(w).cast("long")
    ).filter(F.col("cum_tokens") <= budget_tokens)


def stable_bucket(col: Column | str, modulus: int = 100) -> Column:
    """Deterministic engine/partitioning-independent hash bucket from
    the md5 prefix of the stringified key (same recipe as
    doc_stable_sample — reproducible in any SQL engine).

    Eight hex chars (32 bits): a 16-bit prefix made buckets non-uniform
    whenever the modulus didn't divide 65536 (at modulus 10000, buckets
    0-5535 drew 7/65536 vs 6/65536 — a ~6.8% relative oversampling of
    exactly the low buckets acceptance tests keep; code-review r6). At
    32 bits the residual bias is ≤ 1/429496 per bucket."""
    c = F.col(col) if isinstance(col, str) else col
    return (
        F.conv(F.substring(F.md5(c.cast("string")), 1, 8), 16, 10)
        .cast("long")
        % modulus
    )


def shard_manifest(
    docs: DataFrame,
    n_shards: int = 16,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Export planning for training-shard writes: assign every document
    a deterministic, engine/partitioning-independent shard (the
    ``stable_bucket`` md5 recipe on the id — the same expression a
    ``df.repartition(n_shards, shard).write`` export keys on), and
    report per-shard doc/token/char totals.

    At 100 TB this is the cheap dry run of the shard write: one scan +
    one n_shards-row aggregate makes shard skew visible BEFORE the
    expensive export job, where a hot shard would only surface as a
    straggler task. Token counts use the corpus-standard ``tokens()``
    expression so the manifest's totals agree with every other text
    operator (and the DuckDB oracles' list_filter mirror)."""
    return (
        docs.select(
            stable_bucket(id_col, n_shards).alias("shard"),
            F.size(tokens(text_col)).cast("long").alias("tok"),
            F.length(F.col(text_col)).cast("long").alias("chars"),
        )
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("tok").alias("n_tokens"),
            F.sum("chars").alias("n_chars"),
        )
    )


def stratified_sample(
    docs: DataFrame,
    strata_col: str,
    rates: dict[str, int],
    default_rate: int,
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-stratum deterministic sampling: keep a row iff its stable
    hash bucket (0-99) falls under its stratum's percentage — the
    language-rebalancing primitive for pre-training mixes (downsample
    dominant languages, keep the tail). No shuffle: the rate lookup is
    a CASE ladder evaluated in the scan."""
    rate = F.lit(default_rate)
    for value, pct in sorted(rates.items()):
        rate = F.when(F.col(strata_col) == value, F.lit(pct)).otherwise(rate)
    return docs.filter(stable_bucket(id_col) < rate)


# Regex constructs restricted to what Java regex (Spark) and RE2
# (DuckDB) interpret identically — no backrefs, no lookaround.
EMAIL_PATTERN = r"[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}"
URL_PATTERN = r"https?://[^\s]+"


def pattern_counts(
    docs: DataFrame,
    patterns: dict[str, str],
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document non-overlapping match counts for each named regex —
    the PII / boilerplate detection primitive. One projection over the
    scan, JVM-side regex, no shuffle."""
    return docs.select(
        id_col,
        *[
            F.size(
                F.regexp_extract_all(F.lower(F.col(text_col)), F.lit(p), 0)
            ).alias(name)
            for name, p in patterns.items()
        ],
    )


def chunk_documents(
    docs: DataFrame,
    chunk_tokens: int = 256,
    stride: int = 192,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Context-window chunking: each document split into overlapping
    token windows of ``chunk_tokens`` advancing by ``stride`` (overlap =
    chunk − stride) — the standard prep for embedding/training jobs with
    a fixed context budget. One row per (doc, chunk_index) with the
    chunk text and its token count.

    All expression-level (split → sequence over window starts → slice →
    array_join): shuffle-free, linear in total tokens. Docs of ≤
    ``chunk_tokens`` tokens emit exactly one chunk; the final window is
    allowed to be short rather than dropped (training pipelines keep
    tails), but a window whose coverage is fully CONTAINED in the
    previous chunk is never emitted (code-review r6: starts used to run
    to the last stride multiple below n, so any doc with
    n mod stride < chunk − stride got a pure-duplicate suffix chunk —
    duplicated training text and a contradicted one-chunk contract)."""
    toks = F.split(F.col(text_col), r"\s+")
    n = F.size(toks)  # split never yields an empty array → n ≥ 1
    # window starts: 0, stride, …, stride·ceil((n − chunk)/stride) — the
    # first start whose PREDECESSOR already reaches the end is excluded,
    # so every chunk contributes ≥1 new token and none is a contained
    # duplicate of its predecessor
    last_start = (
        F.greatest(
            F.lit(0).cast("long"),
            (F.ceil((n - F.lit(chunk_tokens)) / stride) * stride).cast("long"),
        )
    )
    starts = F.sequence(F.lit(0).cast("long"), last_start, F.lit(stride).cast("long"))
    t = docs.select(F.col(id_col), toks.alias("_toks"), starts.alias("_starts"))
    ch = t.select(
        id_col, "_toks", F.posexplode("_starts").alias("chunk_index", "start")
    )
    piece = F.slice(F.col("_toks"), F.col("start") + 1, chunk_tokens)
    return ch.select(
        id_col,
        "chunk_index",
        F.array_join(piece, " ").alias("chunk_text"),
        F.size(piece).alias("n_chunk_tokens"),
    )


def normalize_text(col: Column | str) -> Column:
    """Canonical text normalization for dedup/curation: lowercase,
    collapse whitespace runs to one space, trim. All built-in (JVM
    regex, codegen) — one projection, no shuffle. Unicode NFC
    normalization is deliberately NOT here: Spark has no built-in for
    it, and a per-row Python UDF in a 100 TB scan is the wrong trade;
    corpora needing NFC should normalize at ingest (e.g. in the JSONL
    producer)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.trim(F.regexp_replace(F.lower(c), r"\s+", " "))


def redact_text(
    col: Column | str, rules: dict[str, str] | None = None
) -> Column:
    """PII-style redaction: each regex replaced by its tag, applied in
    insertion order (JVM regexp_replace replaces ALL matches; the DuckDB
    oracle twin needs the 'g' flag). Default rules cover emails and
    digit runs; patterns restricted to the Java∩RE2 subset like
    ``pattern_counts``."""
    c = F.col(col) if isinstance(col, str) else col
    if rules is None:
        rules = {
            r"[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}": "<EMAIL>",
            r"[0-9]+": "<NUM>",
        }
    out = c
    for pattern, tag in rules.items():
        out = F.regexp_replace(out, pattern, tag)
    return out


def pack_into_bins(
    docs: DataFrame,
    budget: int = 2048,
    id_col: str = "doc_id",
    text_col: str = "text",
    shard_size: int = 10_000,
) -> DataFrame:
    """Contiguous sequence packing for training batches: docs in id
    order are assigned to fixed token-budget bins by their exclusive
    running token count (``bin_id = cum_before // budget`` — the
    concat-and-chunk shape).

    The global running sum is a DISTRIBUTED PREFIX SUM, never a
    single-partition window: within-shard cumulative sums (shuffle on
    ``id // shard_size``) plus an exclusive scan over the per-shard
    totals (|shards| rows, broadcast back). At 100 TB the big window
    runs fully parallel per shard; only the tiny shard-total scan is
    serial."""
    from pyspark.sql import Window as W

    n_tok = token_count(text_col)
    shard = (F.col(id_col) / shard_size).cast("long")
    t = docs.select(
        id_col, n_tok.alias("n_tok"), shard.alias("shard")
    )
    in_shard = (
        W.partitionBy("shard")
        .orderBy(id_col)
        .rowsBetween(W.unboundedPreceding, -1)
    )
    within = t.withColumn(
        "cum_in_shard", F.coalesce(F.sum("n_tok").over(in_shard), F.lit(0))
    )
    shard_scan = (
        W.orderBy("shard").rowsBetween(W.unboundedPreceding, -1)
    )
    offsets = (
        t.groupBy("shard")
        .agg(F.sum("n_tok").alias("shard_total"))
        .withColumn(
            "shard_offset",
            F.coalesce(F.sum("shard_total").over(shard_scan), F.lit(0)),
        )
        .select("shard", "shard_offset")
    )
    cum_before = F.col("shard_offset") + F.col("cum_in_shard")
    return (
        within.join(F.broadcast(offsets), "shard")
        .select(
            id_col,
            F.col("n_tok"),
            F.floor(cum_before / budget).cast("long").alias("bin_id"),
        )
    )


def word_ngrams(col: Column | str, n: int = 3) -> Column:
    """Array of space-joined word n-grams of ``col``'s whitespace tokens
    (lowered). Shuffle-free expression: sequence → slice → concat_ws,
    no window, no explode until the caller asks for one."""
    toks = tokens(F.lower(F.col(col) if isinstance(col, str) else col))
    # sequence(1, 0) yields a DESCENDING [1, 0] in Spark, not an empty
    # array, so docs with fewer than n tokens must short-circuit to [].
    starts = F.when(
        F.size(toks) >= n, F.sequence(F.lit(1), F.size(toks) - (n - 1))
    ).otherwise(F.array().cast("array<int>"))
    return F.transform(
        starts,
        lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
    )


def decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Benchmark decontamination — the training-pipeline step that flags
    corpus documents sharing any word n-gram with an evaluation set
    (the GPT-3/PaLM-style overlap rule).

    Plan shape for 100 TB: the BENCHMARK side is the small one by
    definition (eval suites are ~1e5 items), so its distinct n-grams
    collect once (bounded by the eval suite, not the corpus) and
    broadcast as a Python set; the corpus side is then ONE map-only
    Arrow pass — per doc, the distinct-gram intersection against the
    broadcast set. The r6 shape exploded every corpus gram into a
    broadcast-join probe and aggregated the hits back per doc (two
    extra stages + a hit-table join); per-doc overlap against a
    bounded reference set never needs the corpus gram stream
    materialized as rows (measured 4.0 → ~0.7 s warm at sf0.1).

    Returns ``(id_col, n_hit_grams, contaminated)`` — one row per
    corpus document, zero-hit docs included.
    """
    import pandas as pd

    # Gram identity is the token TUPLE on both sides (building gram
    # strings via slice+concat_ws was the operator's dominant cost —
    # see repetition_signals); the JVM tokenizer keeps parity, and
    # tokens contain no whitespace so tuple equality == joined-string
    # equality.
    def _tok_df(df):
        return df.select(
            F.col(id_col), tokens(F.lower(F.col(text_col))).alias("toks")
        )

    bench_set = set()
    for r in _tok_df(benchmark).collect():
        tk = r.toks
        bench_set.update(zip(*(tk[i:] for i in range(n))))
    bc = corpus.sparkSession.sparkContext.broadcast(frozenset(bench_set))
    toks_df = _tok_df(corpus)
    id_type = dict(toks_df.dtypes)[id_col]
    schema = f"{id_col} {id_type}, n_hit_grams long, contaminated boolean"

    def _hits(batches):
        bench = bc.value
        for pdf in batches:
            hits = [
                len(set(zip(*(tk[i:] for i in range(n)))) & bench)
                for tk in pdf["toks"]
            ]
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "n_hit_grams": pd.Series(hits, dtype="int64"),
                    "contaminated": [h > 0 for h in hits],
                }
            )

    return toks_df.mapInPandas(_hits, schema)


def repetition_signals(
    corpus: DataFrame,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Gopher-style repetition quality signals per document: the
    fraction of word n-grams that are repeats (1 - distinct/total) and
    the fraction claimed by the single most frequent n-gram. High
    values mark boilerplate/spam — standard pre-training filters.

    This is a strictly PER-DOCUMENT statistic, so the plan is map-only:
    grams build as a JVM array expression, then one Arrow pass computes
    each doc's multiset stats — no exchange anywhere. The r6 shape
    shuffled every (doc, gram) pair through groupBy(doc, gram) +
    groupBy(doc); at 100 TB that moved the whole corpus gram stream
    across the cluster for a row-local quantity (measured 4.7 → ~0.55 s
    warm at sf0.1). Sub-n-gram docs emit no row (no grams to
    aggregate), matching the oracle. Ratios are IEEE double divisions
    of exact longs (identical bit patterns in the JVM, Python, and
    DuckDB — cross-engine deterministic, emitted unrounded; see
    NOTES.md on ratio queries).
    """
    import pandas as pd

    # Ship TOKEN arrays, not gram strings: the JVM tokenizer keeps
    # cross-engine parity, while gram identity is the token TUPLE —
    # materializing each gram as a slice+concat_ws string was the
    # dominant cost of the whole operator (3.9 of 4.4 s at sf0.1;
    # tokens() + tuple zip measures ~0.4 s). Tokens contain no
    # whitespace, so tuple equality == joined-string equality.
    toks_df = corpus.select(
        F.col(id_col), tokens(F.lower(F.col(text_col))).alias("toks")
    )
    id_type = dict(toks_df.dtypes)[id_col]
    schema = (
        f"{id_col} {id_type}, n_grams long, n_distinct_grams long, "
        "dup_gram_ratio double, top_gram_ratio double"
    )

    def _stats(batches):
        from collections import Counter

        for pdf in batches:
            ids, ngs, nds, dups, tops = [], [], [], [], []
            for did, tk in zip(pdf[id_col], pdf["toks"]):
                if len(tk) < n:
                    continue
                c = Counter(zip(*(tk[i:] for i in range(n))))
                ng = len(tk) - (n - 1)
                nd = len(c)
                ids.append(did)
                ngs.append(ng)
                nds.append(nd)
                dups.append(1.0 - nd / ng)
                tops.append(max(c.values()) / ng)
            yield pd.DataFrame(
                {
                    id_col: pd.Series(ids, dtype=pdf[id_col].dtype),
                    "n_grams": pd.Series(ngs, dtype="int64"),
                    "n_distinct_grams": pd.Series(nds, dtype="int64"),
                    "dup_gram_ratio": pd.Series(dups, dtype="float64"),
                    "top_gram_ratio": pd.Series(tops, dtype="float64"),
                }
            )

    return toks_df.mapInPandas(_stats, schema)


def duplicated_spans(
    corpus: DataFrame,
    window: int = 20,
    stride: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
    hash_spans: bool = False,
) -> DataFrame:
    """Exact substring (token-window) deduplication signals — the
    corpus-level complement of ``repetition_signals``: per document, how
    many of its fixed-width token windows occur ≥2 times ANYWHERE in the
    corpus (cross-document boilerplate AND within-document repeats).
    The "dedup by repeated spans, not whole docs" stage of modern
    pre-training pipelines (Lee et al. 2022, "Deduplicating Training
    Data Makes Language Models Better" — suffix-array exact-substring
    dedup; windows of ``window`` tokens every ``stride`` are the
    shuffle-friendly approximation of its ≥50-token repeated spans).

    Returns ``(id, n_spans, n_dup_spans, dup_span_ratio)``; docs shorter
    than ``window`` tokens emit no row (they have no full-width span).
    The ratio is one IEEE division of exact longs (cross-engine
    deterministic, same policy as ``repetition_signals``).

    Plan shape: span generation is a pure column expression (no explode
    until the spans exist as one array per doc), then explode → one
    global groupBy(span) count with map-side partials → join back →
    per-doc rollup. Scale: the shuffle key is the span itself here so a
    SQL oracle can replay it; at 100 TB pass ``hash_spans=True`` to
    shuffle 8-byte ``xxhash64`` keys instead of ~120-byte strings (same
    counts — equality is tested — at ~15× less shuffle width).

    The token array is STAGED as a column before the span transform
    (r15): referenced from inside the per-span lambda, the
    ``tokens()`` split re-runs per span ELEMENT (higher-order
    functions are interpreted, no subexpression elimination) —
    O(n_tokens²/stride) per doc. The r12 100× probe scaled doc COUNT
    at fixed length, which a per-doc-quadratic term passes; the
    doc-LENGTH axis (NOTES.md round 15, constant total
    tokens) shows it: staged/base 0.84 → 0.34 → 0.27 at 250/1000/4000
    tokens per doc, outputs equality-gated, gate-shape (short docs)
    a wash. Same shingle_arrays precedent as dedup.py.
    """
    staged = corpus.select(F.col(id_col), tokens(text_col).alias("__toks"))
    toks = F.col("__toks")
    n = F.size(toks)
    n_spans = (F.floor((n - F.lit(window)) / F.lit(stride)) + 1).cast("int")
    # sequence(1, 0) would generate a DESCENDING [1, 0] — guard short docs.
    idx = F.when(n >= window, F.sequence(F.lit(1), n_spans)).otherwise(
        F.array().cast("array<int>")
    )
    span_of = lambda i: F.concat_ws(  # noqa: E731
        " ", F.slice(toks, (i - 1) * stride + 1, window)
    )
    spans_arr = F.transform(idx, span_of)
    if hash_spans:
        spans_arr = F.transform(spans_arr, lambda s: F.xxhash64(s))
    spans = staged.select(F.col(id_col), F.explode(spans_arr).alias("span"))
    counts = spans.groupBy("span").agg(F.count(F.lit(1)).alias("c"))
    return (
        spans.join(counts, "span")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_spans"),
            F.sum((F.col("c") >= 2).cast("long")).alias("n_dup_spans"),
        )
        .withColumn(
            "dup_span_ratio",
            F.col("n_dup_spans").cast("double")
            / F.col("n_spans").cast("double"),
        )
    )


def bigram_collocations(
    corpus: DataFrame,
    min_count: int = 5,
    top_k: int = 20,
    text_col: str = "text",
) -> DataFrame:
    """Collocation (phrase) mining: the corpus's ``top_k`` adjacent word
    pairs by lift = P(w1,w2) / (P(w1)·P(w2)) among pairs occurring at
    least ``min_count`` times — the statistic behind phrase-merging
    vocab construction (word2vec's phrase pass, tokenizer vocab
    seeding). Lift is the exponential of PMI, so ranking by it IS
    ranking by PMI — but it computes as ONE IEEE division of exact
    integer products (``n_pair·N`` / ``n_left·n_right``), where log's
    last-ulp differences between engines would break value oracles.

    Plan: bigram pairs come from zipping the token array with itself
    shifted (pure column expression, explode only materializes the
    pairs), then two hash aggregations (pair counts, unigram counts)
    and two joins of the pair table against the unigram table. The
    unigram subtree appears three times in the logical plan (both
    joins + the total), but AQE's runtime exchange reuse computes it
    ONCE and serves the twins from ReusedExchange (plan-pinned in
    tests/test_physical_plans.py) — no triple corpus scan. The unigram
    side is Zipf-compact (vocab ≪ corpus) but unbounded at 100 TB, so
    the joins stay shuffle joins and AQE may broadcast when the vocab
    fits; the final top-k is a TakeOrderedAndProject with a full
    deterministic tiebreak (lift desc, w1, w2)."""
    toks = tokens(text_col)
    n = F.size(toks)
    empty = F.array().cast("array<string>")
    pairs = F.arrays_zip(
        F.when(n >= 2, F.slice(toks, 1, n - 1)).otherwise(empty).alias("w1"),
        F.when(n >= 2, F.slice(toks, 2, n - 1)).otherwise(empty).alias("w2"),
    )
    bi = (
        corpus.select(F.explode(pairs).alias("p"))
        .select(F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("n_pair"))
        .filter(F.col("n_pair") >= min_count)
    )
    uni = (
        corpus.select(F.explode(toks).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    total = uni.agg(F.sum("c").alias("n_total"))
    return (
        bi.join(uni.withColumnRenamed("w", "w1").withColumnRenamed("c", "n_left"), "w1")
        .join(uni.withColumnRenamed("w", "w2").withColumnRenamed("c", "n_right"), "w2")
        .crossJoin(F.broadcast(total))
        .select(
            "w1", "w2", "n_pair", "n_left", "n_right",
            (
                (F.col("n_pair") * F.col("n_total")).cast("double")
                / (F.col("n_left") * F.col("n_right")).cast("double")
            ).alias("lift"),
        )
        .orderBy(F.col("lift").desc(), "w1", "w2")
        .limit(top_k)
    )


# --- BPE merge learning (tokenizer fitting) --------------------------------

def _apply_merge(syms: Column, left: Column, right: Column) -> Column:
    """Replace every leftmost non-overlapping adjacent (left, right) pair
    in a symbol array with their concatenation — one BPE merge step as a
    pure array fold (no UDF): carry-based scan, merged symbols never
    re-merge within the same step."""
    empty = F.array().cast("array<string>")
    nul = F.lit(None).cast("string")

    def step(acc, s):
        return (
            F.when(
                acc["carry"].isNull(),
                F.struct(acc["out"].alias("out"), s.alias("carry")),
            )
            .when(
                (acc["carry"] == left) & (s == right),
                F.struct(
                    F.array_append(acc["out"], F.concat(left, right)).alias("out"),
                    nul.alias("carry"),
                ),
            )
            .otherwise(
                F.struct(
                    F.array_append(acc["out"], acc["carry"]).alias("out"),
                    s.alias("carry"),
                )
            )
        )

    return F.aggregate(
        syms,
        F.struct(empty.alias("out"), nul.alias("carry")),
        step,
        lambda acc: F.when(
            acc["carry"].isNull(), acc["out"]
        ).otherwise(F.array_append(acc["out"], acc["carry"])),
    )


def _bpe_fit_word_table(
    words: list[tuple[str, int]], num_merges: int
) -> list[tuple[int, str, str]]:
    """Exact sequential BPE over an in-memory (word, count) table: per
    round, the most frequent weighted adjacent pair wins (count desc,
    then (left, right) asc — the same deterministic tiebreak as the
    distributed loop) and is applied leftmost-non-overlapping. O(vocab ×
    merges) — this is the whole merge-learning cost once the corpus has
    been collapsed to a frequency table."""
    table = [([*w], c) for w, c in words]
    merges: list[tuple[int, str, str]] = []
    for rank in range(num_merges):
        counts: dict[tuple[str, str], int] = {}
        for syms, cnt in table:
            for pair in zip(syms, syms[1:]):
                counts[pair] = counts.get(pair, 0) + cnt
        if not counts:
            break
        (left, right), _ = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        merges.append((rank, left, right))
        for i, (syms, cnt) in enumerate(table):
            out, j = [], 0
            while j < len(syms):
                if j + 1 < len(syms) and syms[j] == left and syms[j + 1] == right:
                    out.append(left + right)
                    j += 2
                else:
                    out.append(syms[j])
                    j += 1
            table[i] = (out, cnt)
    return merges


def bpe_learn_merges(
    docs: DataFrame,
    num_merges: int = 20,
    id_col: str = "doc_id",
    text_col: str = "text",
    vocab_limit: int = 5000,
    fit: str = "auto",
) -> DataFrame:
    """Learn BPE merges the word-frequency-table way: the corpus
    collapses to (word, count) ONCE — the only corpus-sized job — and
    all pair statistics and merge applications run over that
    vocab-bounded table, never the corpus.

    ``fit`` selects where the merge loop runs; both produce IDENTICAL
    merge tables (same counts, same count-desc/(left,right)-asc
    tiebreak, same leftmost-non-overlapping application —
    equality-tested):

    - ``"driver"`` — collect the capped word table (≤ vocab_limit rows,
      driver memory bounded by the cap, not the corpus) and run the
      exact sequential loop in-process. THE PRODUCTION PATH for real
      merge counts: 30k merges are 30k O(vocab) in-memory rounds,
      not 30k sequential Spark jobs.
    - ``"distributed"`` — per merge round: one weighted adjacent-pair
      aggregate picks the winner, one expression fold
      (:func:`_apply_merge`) rewrites the symbol arrays,
      localCheckpoint truncates the growing lineage; the driver holds
      one winning pair per round. For when even the capped vocab table
      must not be collected (vocab_limit ≫ memory).
    - ``"auto"`` (default) — driver when ``vocab_limit`` ≤ 100 000,
      distributed above.

    Returns (rank, left, right, merged) — the learned merge table in
    application order, as a DataFrame of the caller's session.
    """
    spark = docs.sparkSession
    # ONE vocabulary pipeline for the whole module (word_frequencies)
    # so tokenization + tie order can never silently diverge between
    # the BPE fit, the LM, and the frequency query (code-review r6)
    words = (
        word_frequencies(docs, text_col, top=vocab_limit)
        .select(F.col("word").alias("w"), F.col("n").alias("cnt"))
    )
    if fit not in ("auto", "driver", "distributed"):
        raise ValueError(f"fit must be auto|driver|distributed, got {fit!r}")
    if fit == "auto":
        fit = "driver" if vocab_limit <= 100_000 else "distributed"

    if fit == "driver":
        table = [(r["w"], r["cnt"]) for r in words.collect()]
        merges = _bpe_fit_word_table(table, num_merges)
        return spark.createDataFrame(
            [(r, l, x, l + x) for r, l, x in merges],
            "rank int, left string, right string, merged string",
        )

    # split("(?!^)") emits a trailing "" (Spark keeps trailing empties);
    # drop it or the empty symbol wins merge rounds
    syms = words.select(
        "cnt",
        F.filter(
            F.split(F.col("w"), "(?!^)"), lambda s: s != ""
        ).alias("syms"),
    ).localCheckpoint()

    # AQE off for the merge loop (r15 optimization): every round's
    # winner aggregate runs over the vocab-bounded (≤ vocab_limit rows)
    # table, where AQE's per-stage replanning round trips are pure
    # latency — there is nothing to coalesce or re-join on a table this
    # small, and the loop pays the latency num_merges times. Interleaved
    # A/B at sf0.1 (12 merges): 3.56 s → 3.28 s median, merge tables
    # identical.
    #
    # Scoped to a CLONED session (r16, r15 verdict "what's wrong" #5):
    # toggling spark.sql.adaptive.enabled on the CALLER's session was
    # not thread-safe — any query another thread ran during the loop
    # (the simhash/recall thread-pool ensembles) silently lost AQE.
    # ``newSession()`` shares the SparkContext but owns its SQLConf, so
    # the loop sees AQE off while every other session is untouched; the
    # checkpointed symbol table crosses sessions through a uuid-named
    # GLOBAL temp view (dropped in the finally — the only shared state).
    import uuid

    view = f"bpe_syms_{uuid.uuid4().hex}"
    syms.createOrReplaceGlobalTempView(view)
    try:
        clone = spark.newSession()
        clone.conf.set("spark.sql.adaptive.enabled", "false")
        # With AQE off the loop's per-round pair aggregate would shuffle
        # into the session-default partition count (32 at gate scale) —
        # empty reduce tasks scheduled num_merges times over a
        # vocab-bounded table. Width follows the CHECKPOINTED table's
        # own materialized partition count instead (scale-adaptive: a
        # production vocab wide enough to need N partitions keeps N;
        # the gate's 1-partition table gets 1). Merge tables
        # equality-gated identical across widths 1/4/32 (r16 probe,
        # both interleave orders at sf0.1, 12 merges: 32-width median
        # 2.96/2.73 s vs this formulation 2.86/2.60 s — a small,
        # order-robust win; a hard-coded width 4 read marginally
        # better still but is a gate-tuned constant, rejected).
        clone.conf.set(
            "spark.sql.shuffle.partitions",
            str(max(1, syms.rdd.getNumPartitions())),
        )
        gt_db = clone.conf.get(
            "spark.sql.globalTempDatabase", "global_temp"
        )
        merges = _bpe_distributed_rounds(
            clone.table(f"{gt_db}.{view}"), num_merges
        )
    finally:
        spark.catalog.dropGlobalTempView(view)
    return spark.createDataFrame(
        [(r, l, x, l + x) for r, l, x in merges],
        "rank int, left string, right string, merged string",
    )


def _bpe_distributed_rounds(
    syms: DataFrame, num_merges: int, ckpt_cadence: int = 4
) -> list[tuple[int, str, str]]:
    """The sequential distributed merge loop of :func:`bpe_learn_merges`
    (factored out so the AQE guard above wraps exactly the loop).

    Lineage is localCheckpoint-truncated every ``ckpt_cadence`` rounds,
    not every round (r15 optimization): between checkpoints the plan
    grows by one :func:`_apply_merge` fold per round — cheap to
    re-evaluate on a vocab-bounded table — while each checkpoint is a
    full materialization job the loop otherwise pays num_merges times.
    Interleaved A/B at sf0.1, 12 merges (NOTES.md round 15):
    cadence 1 (old) 3.56 s / cadence 4 3.06 s / cadence 12 3.57 s
    median — the cadence-12 loss shows the growing-plan term is real,
    so the cadence stays small rather than unbounded. Merge tables
    equality-gated identical across all three cadences."""
    merges: list[tuple[int, str, str]] = []
    last_ckpt = syms
    since_ckpt = 0
    for rank in range(num_merges):
        pairs = (
            syms.filter(F.size("syms") >= 2)
            .select(
                "cnt",
                F.explode(
                    F.zip_with(
                        F.slice(F.col("syms"), 1, F.size("syms") - 1),
                        F.slice(F.col("syms"), 2, F.size("syms") - 1),
                        lambda l, r: F.struct(l.alias("l"), r.alias("r")),
                    )
                ).alias("p"),
            )
            .groupBy("p.l", "p.r")
            .agg(F.sum("cnt").alias("pc"))
            .orderBy(F.desc("pc"), F.asc("l"), F.asc("r"))
            .limit(1)
            .collect()
        )
        if not pairs:
            break
        best = pairs[0]
        merges.append((rank, best["l"], best["r"]))
        syms = syms.select(
            "cnt",
            _apply_merge(F.col("syms"), F.lit(best["l"]), F.lit(best["r"])).alias(
                "syms"
            ),
        )
        since_ckpt += 1
        if since_ckpt >= ckpt_cadence:
            syms = syms.localCheckpoint()
            last_ckpt.unpersist()
            last_ckpt = syms
            since_ckpt = 0
    last_ckpt.unpersist()
    return merges


def bpe_encode(
    docs: DataFrame,
    merges: list[tuple[str, str]],
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Apply a learned BPE merge table to the corpus — the tokenizer
    APPLICATION step that turns ``bpe_learn_merges`` output into actual
    token sequences for packing/training. Per word: start from
    characters, apply each merge in rank order leftmost-non-overlapping
    — exactly the semantics the fit used (``_bpe_fit_word_table``), so
    encode(fit corpus) reproduces the fit's final symbol state.

    Arrow-batched ``mapInPandas`` with a pinned schema (the merge loop
    is per-word Python — an expression fold would nest ``num_merges``
    aggregates into one codegen unit and blow past the JIT limit at
    real merge counts). The merge table broadcasts by closure (bounded:
    it IS the vocabulary budget); a per-batch word cache collapses the
    Zipf-repeated words so the loop runs once per distinct word, not
    once per token.

    Returns ``(id_col, bpe_tokens array<string>, n_bpe_tokens int)``.
    """
    ranked = list(enumerate(merges))
    out_schema = (
        f"{id_col} long, bpe_tokens array<string>, n_bpe_tokens int"
    )

    def encode_word(word: str, cache: dict[str, list[str]]) -> list[str]:
        hit = cache.get(word)
        if hit is not None:
            return hit
        syms = list(word)
        for _rank, (left, right) in ranked:
            if len(syms) < 2:
                break
            out, j = [], 0
            n = len(syms)
            while j < n:
                if j + 1 < n and syms[j] == left and syms[j + 1] == right:
                    out.append(left + right)
                    j += 2
                else:
                    out.append(syms[j])
                    j += 1
            syms = out
        cache[word] = syms
        return syms

    def encode_batches(batches):
        import pandas as pd

        for pdf in batches:
            cache: dict[str, list[str]] = {}
            ids, toks, counts = [], [], []
            for _id, text in zip(pdf[id_col], pdf[text_col]):
                words = [w for w in (text or "").lower().split() if w]
                enc: list[str] = []
                for w in words:
                    enc.extend(encode_word(w, cache))
                ids.append(_id)
                toks.append(enc)
                counts.append(len(enc))
            yield pd.DataFrame(
                {id_col: ids, "bpe_tokens": toks, "n_bpe_tokens": counts}
            )

    return docs.select(id_col, text_col).mapInPandas(
        encode_batches, schema=out_schema
    )

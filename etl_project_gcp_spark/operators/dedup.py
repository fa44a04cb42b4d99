"""Deduplication operators for LLM-data pipelines (SURVEY §2.12 X1/X2 [EXT]).

Spark-first designs (PAPERS.md: top-k similarity EDBT 2020, adaptive
similarity SIGMOD 2020 inform the banding/verify split):

- **Exact** (X1): hash-groupBy on content — one shuffle keyed by the
  content hash, scales linearly; canonical row = min id per group.
- **MinHash + LSH** (X2): shingle → per-seed min-hash signature →
  band-bucket join. All expression-level (xxhash64, explode, groupBy
  min) — no UDF, no driver-side state. Candidate pairs come from
  equal band hashes (O(sum of bucket sizes²) ≪ O(N²)); exact Jaccard
  verification runs only on candidates.
- **SimHash**: 64-bit signature from signed per-bit token-hash votes;
  near-dup = small Hamming distance. Banding on 16-bit chunks gives the
  candidate set (pigeonhole: hamming ≤ 3 ⇒ ≥1 of 4 chunks equal).
- **N-gram Jaccard**: exact pairwise similarity on word n-grams for a
  candidate pair set (the verification primitive).

At 100 TB: every stage is shuffle-bounded by |docs|·(signature width)
not |docs|²; skewed buckets (boilerplate shingles) are the known hot
spot — cap bucket size before the pairwise step (max_bucket) exactly
like production near-dup pipelines do.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F


def exact_dedup(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """X1: one canonical row per distinct content; count of copies.

    Groups by sha256(content), NOT the raw text: the groupBy shuffle
    then carries (64-char hash, id) rows instead of every document
    body — at 100 TB the text-keyed shuffle IS the operator's cost.
    Collision risk is the standard 2^-128 content-address assumption
    (the same one the output column advertises); the oracle groups by
    text itself, so a collision would surface as a hash mismatch."""
    return (
        docs.select(
            F.col(id_col), F.sha2(F.col(text_col), 256).alias("content_sha256")
        )
        .groupBy("content_sha256")
        .agg(F.min(id_col).alias(id_col), F.count(F.lit(1)).alias("n_copies"))
        .select(id_col, "n_copies", "content_sha256")
    )


def incremental_dedup(
    delta: DataFrame,
    corpus: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """X1 at ingest time: dedup a DELTA batch against an existing
    corpus, then within itself — the production shape at 100 TB (a
    daily crawl drop never re-dedups the whole corpus; it anti-joins
    the increment's content hashes against the corpus side, which in a
    deployed pipeline is a maintained hash manifest, not a rescan).

    Both sides project down to content hashes BEFORE the join, so the
    anti-join shuffle carries (64-char hash[, id]) rows, never document
    bodies (the exact_dedup discipline); survivors then exact-dedup
    within the batch (min-id canonical + copy count). No distinct on
    the corpus side — left_anti is set-semantic on the probe side
    already, and a pre-distinct would add a full extra shuffle.
    """
    d = delta.select(
        F.col(id_col), F.sha2(F.col(text_col), 256).alias("content_sha256")
    )
    seen = corpus.select(
        F.sha2(F.col(text_col), 256).alias("content_sha256")
    )
    return (
        d.join(seen, "content_sha256", "left_anti")
        .groupBy("content_sha256")
        .agg(
            F.min(id_col).alias(id_col),
            F.count(F.lit(1)).alias("n_new_copies"),
        )
        .select(id_col, "n_new_copies", "content_sha256")
    )


def _rot(h: F.Column, bits: int) -> F.Column:
    """Rotate-left a 64-bit hash (shift counts are mod-64 in the JVM, so
    bits=0 degrades to h|h == h)."""
    return F.shiftleft(h, bits).bitwiseOR(F.shiftrightunsigned(h, 64 - bits))


def _clean_tokens(text_col: str) -> F.Column:
    """Whitespace tokens with empties removed — any leading/trailing
    whitespace (of ANY kind; F.trim strips only 0x20 spaces) would
    otherwise emit empty-string tokens that shift every shingle, where
    the oracles list_filter them out. A doc that degenerates to ZERO
    tokens (empty or all-whitespace) is re-padded to a single ""-token
    so it still emits exactly one shingle — the oracle's one
    ''-shingle — identically in both shingle formulations."""
    toks = F.array_remove(
        F.split(F.lower(F.col(text_col)), r"\s+"), ""
    )
    return F.when(F.size(toks) == 0, F.array(F.lit(""))).otherwise(toks)


def shingle_arrays(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text", k: int = 5
) -> DataFrame:
    """(id, sh_arr) — the per-doc DISTINCT shingle-hash set as an array
    column, fully SHUFFLE-FREE (``array_distinct`` dedups locally; no
    explode, no groupBy, no row distinct).

    Each token is hashed once into an ``array<bigint>`` column
    (``transform`` + xxhash64) in its own projection; shingle hashes
    are then position-rotated XORs of k consecutive entries, indexed
    with ``F.get`` over that materialized attribute — linear work per
    document, no window, so the token stream never shuffles on doc id
    (the window formulation's per-doc sort is the data-dependent term
    at 100 TB; see ``_shingle_docs_window``, kept as the
    equality-tested reference).

    History: an earlier element_at-over-inline-alias formulation went
    O(n²·k) per doc via Catalyst lambda inlining. Projecting the hashed
    array as a concrete attribute first and indexing with ``F.get``
    (0-based, NULL out-of-bounds — ANSI-safe) measures linear
    (1.7 s vs 30 s on the sf0.1 corpus).

    Docs shorter than k tokens emit one partial shingle (missing
    positions coalesce to 0, the XOR identity).
    """
    tok = docs.select(
        F.col(id_col),
        F.transform(_clean_tokens(text_col), lambda t: F.xxhash64(t)).alias(
            "th"
        ),
    )
    n = F.size(F.col("th"))
    m = F.greatest(n - (k - 1), F.lit(1))

    def shingle_at(i):
        acc = F.coalesce(F.get(F.col("th"), i), F.lit(0))
        for j in range(1, k):
            acc = acc.bitwiseXOR(
                _rot(F.coalesce(F.get(F.col("th"), i + j), F.lit(0)), (j * 7) % 64)
            )
        return acc

    arr = F.array_distinct(F.transform(F.sequence(F.lit(0), m - 1), shingle_at))
    return tok.select(id_col, arr.alias("sh_arr"))


def shingle_docs(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text", k: int = 5
) -> DataFrame:
    """(id, shingle_hash) rows, distinct per doc — now just the explode
    of :func:`shingle_arrays`. Shingle dups only ever occur WITHIN a
    doc, so exploding the locally-deduped array already yields distinct
    rows: the old trailing ``.distinct()`` shuffle is gone entirely.

    ``explode_outer``, deliberately: plain ``explode`` makes
    InferFiltersFromGenerate add ``size(sh_arr) > 0`` and predicate
    pushdown inlines the WHOLE shingle expression into that filter with
    the token-hash array re-expanded per element — O(n²·k) per doc,
    measured 30 s vs 0.5 s at sf0.1. ``sh_arr`` is never empty (m ≥ 1
    pads short docs), so outer == inner here and no filter is inferred.
    """
    sh = shingle_arrays(docs, id_col, text_col, k)
    return sh.select(id_col, F.explode_outer(F.col("sh_arr")).alias("sh"))


def _shingle_docs_window(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text", k: int = 5
) -> DataFrame:
    """Window-lead formulation of ``shingle_docs`` (posexplode → per-doc
    sort → k-1 leads). Same output set; kept as the equality oracle for
    the shuffle-free array formulation."""
    tok = docs.select(
        F.col(id_col),
        F.posexplode(_clean_tokens(text_col)).alias("pos", "tok"),
    ).select(id_col, "pos", F.xxhash64("tok").alias("h"))
    w = W.partitionBy(id_col).orderBy("pos")
    acc = F.col("h")
    for j in range(1, k):
        acc = acc.bitwiseXOR(
            _rot(F.coalesce(F.lead("h", j).over(w), F.lit(0)), (j * 7) % 64)
        )
    n = F.count(F.lit(1)).over(W.partitionBy(id_col))
    return (
        tok.withColumn("sh", acc)
        .withColumn("_n", n)
        .filter((F.col("pos") + k <= F.col("_n")) | (F.col("pos") == 0))
        .select(id_col, "sh")
        .distinct()
    )


def minhash_signatures(
    shingle_arrs: DataFrame,
    id_col: str = "doc_id",
    num_hashes: int = 64,
) -> DataFrame:
    """MinHash signature per doc: for seed i, min over shingles of
    xxhash64(shingle_hash, seed_i), computed SHUFFLE-FREE over the
    per-doc shingle array from :func:`shingle_arrays` (array_min folds —
    one narrow projection). The previous formulation exploded shingles
    and ran a ``num_hashes``-column groupBy: that |shingles|-row shuffle
    dominated the signature stage at scale and measured ~7× slower at
    sf0.1 (signatures bit-identical).

    The array is a CreateArray of ``num_hashes`` INDEPENDENT per-seed
    folds, not one ``transform(sequence(...))`` lambda: downstream
    banding indexes ``sig[i]`` 64×, and SimplifyExtractValueOps folds
    ``CreateArray(...)[i]`` to just the i-th fold (each then evaluated
    once), whereas indexing a single lambda-built array re-inlines the
    WHOLE 64-seed computation per reference — measured 3× slower
    banding at sf0.1.

    Built as ONE SQL expression string, not ``num_hashes`` ``F.expr``
    calls composed with ``F.array``: each Column call is a py4j round
    trip, and plan CONSTRUCTION (not analysis, not execution) measured
    70 → 23 ms here and 0.85 s/call in ``_stack_bands`` before the
    same treatment (r12 profile: ~3.9k py4j round trips per candidates
    build). Parses to the identical CreateArray-of-folds plan."""
    inner = ", ".join(
        f"array_min(transform(sh_arr, s -> xxhash64(s, {i})))"
        for i in range(num_hashes)
    )
    return shingle_arrs.select(
        id_col, F.expr(f"array({inner})").alias("sig")
    )


def _stack_bands(
    signatures: DataFrame,
    id_col: str,
    bands: int,
    rows_per_band: int,
) -> DataFrame:
    """(id, band, bh) — the banded signature in stacked form, the join
    key of every LSH candidate-generation variant (self-join for
    whole-corpus dedup, delta×corpus join for incremental).

    Both projections are single SQL expression strings for the same
    reason as :func:`minhash_signatures`: the Column-DSL form here was
    ~3.9k py4j round trips = 0.85 s of driver time PER candidates
    build (r12 cProfile), pure client-side latency that every dedup
    entry paid twice over. ``inline`` replaces explode-struct-then-
    reproject with one generator; the array is constant-size so no
    pathological size-filter is inferred (the shingle_docs hazard
    doesn't apply). Identical (id, band, bh) rows, pytest-equal.

    ``id_col`` is interpolated into selectExpr under backtick quoting;
    embedded backticks are escaped by doubling (ADVICE r12 — a
    backticked name would otherwise break the parse / inject SQL)."""
    id_q = id_col.replace("`", "``")
    band_exprs = [
        "xxhash64("
        + ", ".join(
            [f"sig[{b * rows_per_band + r}]" for r in range(rows_per_band)]
            + [str(b)]
        )
        + f") AS band{b}"
        for b in range(bands)
    ]
    banded = signatures.selectExpr(f"`{id_q}`", *band_exprs)
    struct_items = ", ".join(
        f"struct({b} AS band, band{b} AS bh)" for b in range(bands)
    )
    return banded.selectExpr(
        f"`{id_q}`", f"inline(array({struct_items}))"
    )


def lsh_candidate_pairs(
    signatures: DataFrame,
    id_col: str = "doc_id",
    bands: int = 16,
    rows_per_band: int = 4,
    max_bucket: int = 1000,
) -> DataFrame:
    """Band the signature; docs sharing any band-hash become candidate
    pairs (a < b). Buckets larger than ``max_bucket`` are dropped —
    boilerplate-skew protection (they'd be caught by exact dedup anyway).
    """
    stacked = _stack_bands(signatures, id_col, bands, rows_per_band)

    # skew guard: drop pathological buckets before the self-join
    sized = stacked.withColumn(
        "_bsz", F.count(F.lit(1)).over(W.partitionBy("band", "bh"))
    ).filter(F.col("_bsz") <= max_bucket)

    a = sized.select(F.col("band"), F.col("bh"), F.col(id_col).alias("a"))
    b = sized.select(F.col("band"), F.col("bh"), F.col(id_col).alias("b"))
    return (
        a.join(b, ["band", "bh"])
        .filter(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
    )


def jaccard_verify(
    candidates: DataFrame,
    shingled: DataFrame,
    id_col: str = "doc_id",
    threshold: float = 0.7,
) -> DataFrame:
    """Exact Jaccard on shingle-hash sets for each candidate pair; keep
    pairs ≥ threshold. Joins are keyed by doc id (broadcastable when the
    candidate set is small — the common case after banding)."""
    sizes = shingled.groupBy(id_col).agg(F.count(F.lit(1)).alias("sz"))
    sh_a = shingled.select(F.col(id_col).alias("a"), F.col("sh"))
    sh_b = shingled.select(F.col(id_col).alias("b"), F.col("sh"))
    common = (
        candidates.join(sh_a, "a")
        .join(sh_b, ["b", "sh"])
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("common"))
    )
    out = (
        common.join(sizes.select(F.col(id_col).alias("a"), F.col("sz").alias("sza")), "a")
        .join(sizes.select(F.col(id_col).alias("b"), F.col("sz").alias("szb")), "b")
        .withColumn(
            "jaccard",
            F.col("common") / (F.col("sza") + F.col("szb") - F.col("common")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("a", "b", "jaccard")
    )
    return out


def jaccard_verify_arrays(
    candidates: DataFrame,
    sh_arrs: DataFrame,
    id_col: str = "doc_id",
    threshold: float = 0.7,
    b_arrs: DataFrame | None = None,
) -> DataFrame:
    """Exact Jaccard for candidate pairs computed directly on the
    per-doc shingle ARRAYS (``shingle_arrays`` output) instead of
    exploded (id, sh) rows: two id-keyed joins attach each side's
    array, then one native ``array_intersect`` per pair scores it.

    Same numbers as :func:`jaccard_verify` — the arrays are distinct
    per doc, so ``size(array_intersect)`` is exactly the exploded
    join's match count and ``size(sh_arr)`` its per-doc row count —
    but the row-explosion machinery disappears: no explode (rows ×
    ~shingles/doc), no repartition materialization barrier, no
    (id, sh)-keyed join, no groupBy re-aggregate. Per pair the
    hash-set intersect is the same O(|A|+|B|) work the join+count did,
    minus the shuffle plumbing.

    ``b_arrs`` supplies the b-side arrays when the two sides come from
    DIFFERENT corpora (the cross-side ingest screen: delta ids as "a",
    corpus ids as "b"); default is the self-join case.

    Shuffle-bytes at scale: the exploded formulation ships every
    shingle as its own row (~2× the array's bytes in row overhead)
    through one exchange + reuse; this one ships each doc's array once
    per join side it appears on. LSH banding keeps per-doc pair
    membership small, and the candidate side is the broadcastable one
    (post-banding pairs ≪ corpus — same premise jaccard_verify already
    relies on)."""
    a_arr = sh_arrs.select(F.col(id_col).alias("a"), F.col("sh_arr").alias("_sha"))
    b_arr = (sh_arrs if b_arrs is None else b_arrs).select(
        F.col(id_col).alias("b"), F.col("sh_arr").alias("_shb")
    )
    common = F.size(F.array_intersect(F.col("_sha"), F.col("_shb")))
    return (
        candidates.join(a_arr, "a")
        .join(b_arr, "b")
        .withColumn("common", common)
        .withColumn(
            "jaccard",
            F.col("common")
            / (F.size("_sha") + F.size("_shb") - F.col("common")),
        )
        # common > 0 replicates the exploded join exactly: a pair with
        # ZERO shared shingles never produced a join row there, so it
        # must not appear here either — visible only at threshold <= 0
        .filter((F.col("common") > 0) & (F.col("jaccard") >= threshold))
        .select("a", "b", "jaccard")
    )


def minhash_near_duplicates(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_k: int = 5,
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.7,
) -> DataFrame:
    """Full X2 pipeline: shingle → minhash → LSH bands → exact-Jaccard
    verify. Returns (a, b, jaccard) near-duplicate pairs, a < b.

    Both branches derive from one shuffle-free ``shingle_arrays``
    projection: signatures fold the array directly (no explode/groupBy)
    and the verify branch (r16) scores candidate pairs straight on the
    arrays — ``jaccard_verify_arrays`` replaced the exploded-row
    verify (explode → repartition barrier → (id, sh) join → groupBy):
    identical pair sets (NOTES.md round 16 equality gate)
    at 0.70× the wall time at sf0.1, and fewer/lighter exchanges at
    scale (each doc's array ships once per join side instead of every
    shingle as its own row). Recomputing the cheap narrow shingle
    lineage per branch beats a persist() barrier (~4× measured —
    cache write + lost pipelining)."""
    sh_arrs = shingle_arrays(docs, id_col, text_col, shingle_k)
    sigs = minhash_signatures(sh_arrs, id_col, num_hashes)
    cands = lsh_candidate_pairs(sigs, id_col, bands, num_hashes // bands)
    return jaccard_verify_arrays(cands, sh_arrs, id_col, threshold)


def incremental_near_dedup(
    delta: DataFrame,
    corpus: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_k: int = 5,
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.7,
    max_bucket: int = 1000,
) -> DataFrame:
    """X2 at ingest time: flag delta docs that are NEAR-duplicates of
    existing corpus content — the approximate counterpart of
    ``incremental_dedup`` and the second half of the production ingest
    gate (a crawl drop is screened exact-first, then near-dup, against
    the corpus — never a whole-corpus re-dedup).

    Candidates come from joining the DELTA's banded signature against
    the CORPUS's (a delta×corpus band join, not the whole-corpus
    self-join): cost ∝ |delta| × bucket density, not |corpus|². At
    100 TB the corpus side of this join is a maintained signature
    table (built once, appended per ingest — the IVF-index lifecycle
    for LSH); here it derives inline from the same shuffle-free
    shingle lineage as ``minhash_near_duplicates``. Candidates verify
    with exact cross-side Jaccard (side-tagged shingle joins, so a
    re-sent id can exist on both sides without ambiguity).

    Returns one row per delta doc: ``n_near_dups`` (corpus partners at
    ≥ threshold), ``max_jaccard`` (NULL when none), ``is_near_dup``.
    In-batch near-dup among delta survivors is ``near_dup_pipeline``'s
    job — this operator's contract is the delta-vs-corpus screen."""
    rows_per_band = num_hashes // bands
    d_sh = shingle_arrays(delta, id_col, text_col, shingle_k)
    c_sh = shingle_arrays(corpus, id_col, text_col, shingle_k)
    c_band = _stack_bands(
        minhash_signatures(c_sh, id_col, num_hashes),
        id_col, bands, rows_per_band,
    )
    return _near_dup_screen(
        delta, d_sh, c_band, None,
        id_col, num_hashes, bands, rows_per_band, threshold, max_bucket,
        c_sh_arrs=c_sh,
    )


def _near_dup_screen(
    delta: DataFrame,
    d_sh: DataFrame,
    c_band: DataFrame,
    c_shingled: DataFrame | None,
    id_col: str,
    num_hashes: int,
    bands: int,
    rows_per_band: int,
    threshold: float,
    max_bucket: int,
    corpus_prepartitioned: bool = False,
    c_sh_arrs: DataFrame | None = None,
) -> DataFrame:
    """Core of the ingest near-dup screen, shared by the inline
    (``incremental_near_dedup``) and persisted-index
    (``lsh_search_index``) paths: delta bands × corpus bands →
    candidates → cross-side exact-Jaccard verify → per-delta-doc
    summary. ``c_band`` is (id, band, bh); ``c_shingled`` is (id, sh).

    ``corpus_prepartitioned`` says the corpus inputs arrive already
    clustered on their join keys (a bucketed index): skip the explicit
    corpus-side repartition so the bucketed layout flows through with
    no Exchange.

    ``c_sh_arrs`` (r16): when the corpus SHINGLE ARRAYS are available
    (the inline path — both sides derive from shingle_arrays in this
    process), the verify runs on the arrays
    (:func:`jaccard_verify_arrays`, cross-side form) and
    ``c_shingled`` is ignored; the persisted-index paths keep the
    exploded-row verify because their index stores (id, sh) rows
    bucketed by id — the layout IS the optimization there."""
    d_band = _stack_bands(
        minhash_signatures(d_sh, id_col, num_hashes),
        id_col, bands, rows_per_band,
    ).select(F.col(id_col).alias("a"), "band", "bh")
    # skew guard on the corpus side (the one that carries boilerplate
    # mass at scale): cap bucket width before the delta join
    c_sized = c_band.withColumn(
        "_bsz", F.count(F.lit(1)).over(W.partitionBy("band", "bh"))
    ).filter(F.col("_bsz") <= max_bucket)
    cands = (
        d_band.join(
            c_sized.select(F.col(id_col).alias("b"), "band", "bh"),
            ["band", "bh"],
        )
        .select("a", "b")
        .distinct()
    )
    if c_sh_arrs is not None:
        # arrays on both sides: two id-keyed joins + one native
        # array_intersect per pair (see jaccard_verify_arrays); the
        # side-tag ambiguity the row path guards against cannot arise —
        # the a/b joins are keyed per side by construction
        pairs = jaccard_verify_arrays(
            cands, d_sh, id_col, threshold, b_arrs=c_sh_arrs
        )
    else:
        # cross-side exact-Jaccard verify: shingles stay side-tagged, so
        # identical ids on both sides (a re-sent doc) join unambiguously
        d_shingled = d_sh.select(
            F.col(id_col).alias("a"), F.explode_outer("sh_arr").alias("sh")
        ).repartition("a")
        c_shingled = c_shingled.select(F.col(id_col).alias("b"), F.col("sh"))
        if not corpus_prepartitioned:
            c_shingled = c_shingled.repartition("b")
        sz_a = d_shingled.groupBy("a").agg(F.count(F.lit(1)).alias("sza"))
        sz_b = c_shingled.groupBy("b").agg(F.count(F.lit(1)).alias("szb"))
        pairs = (
            cands.join(d_shingled, "a")
            .join(c_shingled, ["b", "sh"])
            .groupBy("a", "b")
            .agg(F.count(F.lit(1)).alias("common"))
            .join(sz_a, "a")
            .join(sz_b, "b")
            .withColumn(
                "jaccard",
                F.col("common")
                / (F.col("sza") + F.col("szb") - F.col("common")),
            )
            .filter(F.col("jaccard") >= threshold)
        )
    matches = pairs.groupBy("a").agg(
        F.count(F.lit(1)).alias("n_near_dups"),
        F.max("jaccard").alias("max_jaccard"),
    )
    return (
        delta.select(F.col(id_col))
        .join(matches.withColumnRenamed("a", id_col), id_col, "left")
        .select(
            id_col,
            F.coalesce("n_near_dups", F.lit(0)).alias("n_near_dups"),
            "max_jaccard",
            (F.coalesce("n_near_dups", F.lit(0)) > 0).alias("is_near_dup"),
        )
    )


def _lsh_table_names(table_prefix: str) -> tuple[str, str]:
    return f"{table_prefix}_bands", f"{table_prefix}_shingles"


def _lsh_append_marker(path: str, state: str) -> None:
    """Record append progress so a crash between the two table writes is
    DETECTABLE: ``pending`` is written before the first append and
    flipped to ``committed`` only after both tables landed. A search
    that finds ``pending`` refuses instead of silently screening against
    a half-appended corpus (bands visible, shingles absent) — each
    directory's per-append ``_SUCCESS`` rewrite cannot distinguish the
    two (ADVICE r7).

    Written via :mod:`sources.fsio` (Hadoop ``FileSystem``): the marker
    follows the index to any scheme (``gs://`` etc.), and the
    temp-sibling+rename write means a crash mid-flip can no longer
    leave a TORN marker that blocks a fully-consistent index (ADVICE
    r8). The crash window now leaves either the old marker or none;
    "none" is safe because ``pending`` lands BEFORE any table write
    starts, so a missing marker always coexists with consistent
    tables. Epoch is preserved across rewrites (a torn read no longer
    exists to reset it)."""
    import json

    from etl_project_gcp_spark.sources import fsio

    p = path.rstrip("/") + "/append_state.json"
    epoch = 0
    prior = fsio.read_text_or_none(p)  # None-tolerant: a concurrent
    # rewrite's fallback window may vanish the file between list/read
    if prior is not None:
        try:
            epoch = json.loads(prior).get("epoch", 0)
        except ValueError:
            pass
    if state == "pending":
        epoch += 1
    fsio.write_text(p, json.dumps({"epoch": epoch, "state": state}))


def _lsh_check_append_state(path: str) -> None:
    import json

    from etl_project_gcp_spark.sources import fsio

    p = path.rstrip("/") + "/append_state.json"
    # None-tolerant read: a marker that vanishes between list and read
    # is a concurrent committed-flip's fallback window — safe to treat
    # as absent, because 'pending' is (re)written BEFORE any table
    # write starts, so no-marker always coexists with consistent
    # tables. The torn-JSON arm below stays: an unparseable marker is
    # still the refuse-loudly case (fsio writes are atomic, so this
    # means external interference, not a crash artifact).
    raw = fsio.read_text_or_none(p)
    if raw is None:
        return
    try:
        st = json.loads(raw)
    except ValueError as e:
        raise ValueError(
            f"LSH index at {path} has an unreadable append marker "
            f"({e}): bands and shingles may disagree — rebuild the "
            f"index or re-run the failed append before searching"
        ) from e
    if st.get("state") != "committed":
        raise ValueError(
            f"LSH index at {path} has a partial append (epoch "
            f"{st.get('epoch')} still '{st.get('state')}'): bands and "
            f"shingles may disagree — rebuild the index or re-run the "
            f"failed append before searching"
        )


def _ensure_bucketed_table(
    spark, name: str, location: str, bucket_cols: list[str], n_buckets: int
) -> None:
    """Re-register a bucketed external table in a FRESH session whose
    catalog (in-memory derby) no longer knows it: the bucketed files on
    disk carry their bucket ids in the file names, so a CREATE TABLE
    with the same CLUSTERED BY spec over the same location restores
    shuffle-free reads without rewriting a byte.

    An existing registration only counts if it points at THIS index's
    location: the default table_prefix derives from the path BASENAME,
    so two indexes at different paths with the same final directory
    name (tmp-dir fixtures do this constantly) would otherwise
    silently serve each other's tables. On a location mismatch the
    stale registration is dropped (external table — files untouched)
    and re-created here."""

    def _norm(uri: str) -> str:
        u = uri or ""
        if u.startswith("file:"):
            u = u[len("file:"):]
            # file:/p, file:///p and a bare /p are the same local
            # path; collapse the authority slashes so a caller-passed
            # file:// URI matches the catalog's recorded form
            while u.startswith("//"):
                u = u[1:]
        return u.rstrip("/")

    if spark.catalog.tableExists(name):
        rows = spark.sql(f"DESCRIBE FORMATTED {name}").collect()
        loc = next(
            (r.data_type for r in rows if r.col_name == "Location"), None
        )
        if loc is not None and _norm(loc) == _norm(location):
            return
        spark.sql(f"DROP TABLE IF EXISTS {name}")
    ddl = spark.read.parquet(location).schema.toDDL()
    cols = ", ".join(bucket_cols)
    spark.sql(
        f"CREATE TABLE {name} ({ddl}) USING PARQUET "
        f"CLUSTERED BY ({cols}) INTO {n_buckets} BUCKETS "
        f"LOCATION '{location}'"
    )


def lsh_build_index(
    corpus: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_k: int = 5,
    num_hashes: int = 64,
    bands: int = 16,
    mode: str = "overwrite",
    bucket_by: int | None = None,
    table_prefix: str | None = None,
) -> None:
    """Materialize the corpus near-dup screen artifacts on disk — the
    maintained signature table the at-scale ingest gate searches
    instead of rescanning corpus text:

    - ``{path}/bands``: (id, band, bh) stacked banded signatures
    - ``{path}/shingles``: (id, sh) exploded shingle hashes (the exact
      Jaccard verify side)

    ``mode="append"`` is the maintenance op: after a batch's survivors
    are admitted, append THEIR rows — the index stays current without
    touching existing files (call via :func:`lsh_append_index`). The
    two appends are bracketed by an epoch marker
    (:func:`_lsh_append_marker`): a crash between them leaves the
    marker ``pending`` and searches refuse instead of silently serving
    a half-appended corpus.

    ``bucket_by=N`` writes both artifacts as BUCKETED external tables
    (bands clustered by its join key ``(band, bh)``, shingles by the
    doc id) so an ingest search shuffles the DELTA side only — the
    corpus-side exchange a plain-parquet index pays on every search is
    paid once at build time (the `write_bucketed_table` discipline;
    plan-tested). Table names come from ``table_prefix`` (default:
    derived from the path basename) and are re-registerable in a fresh
    session from the sidecar (:func:`_ensure_bucketed_table`).

    A ``params.json`` sidecar records (shingle_k, num_hashes, bands):
    band hashes and shingle hashes are parameter-DEPENDENT, so an
    append or search under different parameters would silently corrupt
    or miss — :func:`_lsh_check_params` refuses instead."""
    import json
    import os
    import re

    from etl_project_gcp_spark.sources import fsio

    if bucket_by is not None and table_prefix is None:
        table_prefix = "lsh_" + re.sub(
            r"[^0-9a-zA-Z_]", "_", os.path.basename(path.rstrip("/"))
        )
    sh_arr = shingle_arrays(corpus, id_col, text_col, shingle_k)
    sigs = minhash_signatures(sh_arr, id_col, num_hashes)
    if mode == "append":
        _lsh_check_params(path, shingle_k, num_hashes, bands)
        built = _lsh_params(path) or {}
        # Layout is fixed at build time (ADVICE r8): appending
        # bucketed-table files into a plain/pre-sidecar layout — or
        # under a DIFFERENT bucket count — leaves the directory half
        # catalog-table, half loose files (or bucket-id-inconsistent
        # files) while the sidecar still claims the build-time layout.
        # Values survive (searches read what the sidecar says) but the
        # layout claim drifts. Refuse like the signature-parameter
        # check above. A pre-sidecar index (built == {}) is plain by
        # construction, so an explicit bucket_by refuses there too
        # (r9 review: the old `built and ...` guard skipped it).
        if bucket_by is not None and built.get("bucket_by") != bucket_by:
            was = (
                "UNBUCKETED"
                if built.get("bucket_by") is None
                else f"bucket_by={built['bucket_by']}"
            )
            raise ValueError(
                f"LSH index at {path} was built {was} but the append "
                f"asked for bucket_by={bucket_by} — layout is fixed "
                f"at build time; rebuild with the desired layout or "
                f"append without overriding it"
            )
        if built.get("bucket_by") is not None:
            bucket_by = built["bucket_by"]
            table_prefix = built["table_prefix"]
            t_b, t_s = _lsh_table_names(table_prefix)
            _ensure_bucketed_table(
                corpus.sparkSession, t_b, f"{path}/bands",
                ["band", "bh"], bucket_by,
            )
            _ensure_bucketed_table(
                corpus.sparkSession, t_s, f"{path}/shingles",
                [id_col], bucket_by,
            )
        _lsh_append_marker(path, "pending")
    stacked = _stack_bands(sigs, id_col, bands, num_hashes // bands)
    shingled = sh_arr.select(id_col, F.explode_outer("sh_arr").alias("sh"))
    if bucket_by is not None:
        t_bands, t_shingles = _lsh_table_names(table_prefix)
        (
            stacked.write.mode(mode)
            .bucketBy(bucket_by, "band", "bh")
            .option("path", f"{path}/bands")
            .saveAsTable(t_bands)
        )
        (
            shingled.write.mode(mode)
            .bucketBy(bucket_by, id_col)
            .option("path", f"{path}/shingles")
            .saveAsTable(t_shingles)
        )
    else:
        stacked.write.mode(mode).parquet(f"{path}/bands")
        shingled.write.mode(mode).parquet(f"{path}/shingles")
    if mode == "append":
        _lsh_append_marker(path, "committed")
    else:
        fsio.write_text(
            path.rstrip("/") + "/params.json",
            json.dumps(
                {"shingle_k": shingle_k, "num_hashes": num_hashes,
                 "bands": bands, "bucket_by": bucket_by,
                 "table_prefix": table_prefix},
            ),
        )
        # A rebuild REPLACES both tables, so any append marker left by
        # a crashed earlier append describes files that no longer
        # exist. Without this delete, a stale 'pending' marker keeps
        # every search raising "partial append" even though the error
        # message's own remedy is "rebuild the index" (ADVICE r8).
        fsio.delete(path.rstrip("/") + "/append_state.json")


def _lsh_params(path: str) -> dict | None:
    """The index's params.json sidecar, or None for a pre-sidecar
    index. Read via :mod:`sources.fsio` so an index at ``gs://…``
    resolves its sidecar from the same store as its tables."""
    import json

    from etl_project_gcp_spark.sources import fsio

    p = path.rstrip("/") + "/params.json"
    raw = fsio.read_text_or_none(p)
    return None if raw is None else json.loads(raw)


def _lsh_check_params(
    path: str, shingle_k: int, num_hashes: int, bands: int
) -> None:
    """Refuse an append/search whose signature parameters differ from
    the ones the index was built with (hash spaces would not line up —
    silently wrong screens, not an error, without this). A missing
    params.json next to EXISTING index tables is an error too (ADVICE
    r9): the sidecar is written with every build, so its absence means
    it was lost — a crash inside the delete+rename fallback window on
    a scheme without FileContext (fsio.write_text), or external
    interference — and accepting the caller's parameters unchecked is
    the exact silent corruption the sidecar exists to prevent. Layout
    keys (bucket_by, table_prefix) are the index's own business and
    not compared."""
    from etl_project_gcp_spark.sources import fsio

    built = _lsh_params(path)
    if built is None:
        if fsio.exists(path.rstrip("/") + "/bands"):
            raise ValueError(
                f"LSH index at {path} has index tables but no "
                f"params.json sidecar — the sidecar was lost (crashed "
                f"rewrite or external deletion), so the build-time "
                f"signature parameters are unknown and the call's "
                f"parameters cannot be validated; rebuild the index to "
                f"restore it"
            )
        return
    asked = {"shingle_k": shingle_k, "num_hashes": num_hashes, "bands": bands}
    got = {k: built.get(k) for k in asked}
    if got != asked:
        raise ValueError(
            f"LSH index at {path} was built with {got} but the call "
            f"asked for {asked} — signature hash spaces would not match; "
            f"rebuild the index or pass the build-time parameters"
        )


def lsh_append_index(
    batch: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_k: int = 5,
    num_hashes: int = 64,
    bands: int = 16,
) -> None:
    """Append an admitted batch's signatures to an existing index —
    same parameters MUST match the build (band hashes are parameter-
    dependent); equality with a from-scratch rebuild is pytest-pinned."""
    lsh_build_index(
        batch, path, id_col, text_col, shingle_k, num_hashes, bands,
        mode="append",
    )


def lsh_search_index(
    spark,
    path: str,
    delta: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_k: int = 5,
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.7,
    max_bucket: int = 1000,
) -> DataFrame:
    """Screen a delta batch against a persisted LSH index
    (:func:`lsh_build_index`) — same contract and output as
    :func:`incremental_near_dedup`, but the corpus side reads the
    materialized band/shingle tables: NO corpus-text rescan, no
    signature recompute (equality with the inline path and
    rescan-freeness are both pytest-pinned). Search cost ∝ |delta| ×
    bucket density + matched-candidate shingle I/O. Parameters are
    validated against the index's params.json sidecar; a half-appended
    index (epoch marker still ``pending``) refuses instead of silently
    serving a bands/shingles disagreement.

    Against a BUCKETED index (``lsh_build_index(bucket_by=N)``) the
    corpus side arrives pre-clustered on its join keys — bands on
    ``(band, bh)``, shingles on the doc id — so the search shuffles
    ONLY the delta side (plan-tested: no Exchange above either corpus
    scan)."""
    _lsh_check_params(path, shingle_k, num_hashes, bands)
    _lsh_check_append_state(path)
    built = _lsh_params(path) or {}
    bucketed = built.get("bucket_by") is not None
    if bucketed:
        t_bands, t_shingles = _lsh_table_names(built["table_prefix"])
        _ensure_bucketed_table(
            spark, t_bands, f"{path}/bands", ["band", "bh"],
            built["bucket_by"],
        )
        _ensure_bucketed_table(
            spark, t_shingles, f"{path}/shingles", [id_col],
            built["bucket_by"],
        )
        c_band = spark.table(t_bands)
        c_shingled = spark.table(t_shingles)
    else:
        c_band = spark.read.parquet(f"{path}/bands")
        c_shingled = spark.read.parquet(f"{path}/shingles")
    d_sh = shingle_arrays(delta, id_col, text_col, shingle_k)
    return _near_dup_screen(
        delta, d_sh, c_band, c_shingled,
        id_col, num_hashes, bands, num_hashes // bands, threshold,
        max_bucket, corpus_prepartitioned=bucketed,
    )


def simhash_signatures(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text", bits: int = 64
) -> DataFrame:
    """64-bit SimHash: per token-hash, vote ±1 on each bit; sign of the
    per-bit sum forms the signature. Pure expressions: explode + one
    groupBy with ``bits`` conditional sums.

    Deliberately explode+groupBy, NOT a per-doc array ``aggregate``:
    the groupBy partial-aggregates map-side, so the shuffle carries only
    ~N_docs×(bits×8B) partial-vote rows (not token rows) — already
    scale-safe — and the 64 conditional sums run in whole-stage codegen,
    which measured ~40% faster warm than the interpreted higher-order
    array fold at sf0.1 (warm 2.9 s vs 4.1 s e2e; tried and reverted
    round 4).

    The vote sums and the bit-assembly fold are SINGLE SQL expression
    strings for the same reason as :func:`minhash_signatures`: the
    Column-DSL form (64 ``F.sum(F.when(...))`` + a 64-term XOR chain)
    was ~10k py4j round trips = 1.13 s of pure plan-construction
    driver time per call (r12 cProfile; 0.08 s as strings, signatures
    proven identical at sf0.1). The votes land in one ARRAY aggregate
    column; SimplifyExtractValueOps folds ``v[j]`` back to the j-th
    sum, so the executed plan is unchanged. A reformulation of the
    votes as unconditional bit sums (``v_j>0 ⟺ 2·Σbit_j>n``) was also
    measured and DECLINED: paired interleaved ratio 1.012 — codegen
    handles the CASE branch as well as the arithmetic form."""
    tok = (
        docs.select(
            F.col(id_col),
            F.explode(F.split(F.lower(F.col(text_col)), r"\s+")).alias("tok"),
        )
        .filter(F.col("tok") != "")
        .select(id_col, F.xxhash64("tok").alias("h"))
    )
    votes = ", ".join(
        f"sum(case when (shiftright(h, {j}) & 1) = 1 then 1 else -1 end)"
        for j in range(bits)
    )
    per_doc = tok.groupBy(id_col).agg(F.expr(f"array({votes})").alias("v"))
    # disjoint bit positions: XOR == OR
    sig = " ^ ".join(
        f"shiftleft(case when v[{j}] > 0 then cast(1 as bigint)"
        f" else cast(0 as bigint) end, {j})"
        for j in range(bits)
    )
    return per_doc.select(id_col, F.expr(sig).alias("simhash"))


def simhash_near_duplicates(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
) -> DataFrame:
    """Candidate pairs by bit-chunk banding: the signature splits into
    ``n_chunks`` equal chunks with ``n_chunks > max_hamming`` — by
    pigeonhole any pair within the Hamming budget shares a whole chunk,
    so bucketing on chunk equality has perfect recall. Verified by
    exact popcount distance."""
    n_chunks = 2
    while n_chunks <= max_hamming and n_chunks < 64:
        n_chunks *= 2  # keep it a divisor of 64
    width = 64 // n_chunks
    mask = (1 << width) - 1
    sigs = simhash_signatures(docs, id_col, text_col)
    # one explode to (chunk_id, chunk_value) rows + ONE self-join — not a
    # join per chunk, which would recompute the signature lineage n_chunks
    # times and union n_chunks shuffles.
    chunked = sigs.select(
        F.col(id_col),
        F.col("simhash"),
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(c).alias("cid"),
                    F.shiftrightunsigned(F.col("simhash"), width * c)
                    .bitwiseAND(F.lit(mask))
                    .alias("cval"),
                )
                for c in range(n_chunks)
            ])
        ).alias("ch"),
    ).select(id_col, "simhash", F.col("ch.cid").alias("cid"), F.col("ch.cval").alias("cval"))
    a = chunked.select(
        F.col(id_col).alias("a"), F.col("simhash").alias("sig_a"), "cid", "cval"
    )
    b = chunked.select(
        F.col(id_col).alias("b"), F.col("simhash").alias("sig_b"), "cid", "cval"
    )
    pairs = (
        a.join(b, ["cid", "cval"])
        .filter(F.col("a") < F.col("b"))
        .select("a", "b", "sig_a", "sig_b")
        .distinct()
    )
    ham = F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
    return (
        pairs.withColumn("hamming", ham)
        .filter(F.col("hamming") <= max_hamming)
        .select("a", "b", "hamming")
    )


def near_dup_pipeline(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_k: int = 5,
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.7,
) -> DataFrame:
    """Production near-dup composition: EXACT dedup first, LSH second.

    Identical documents produce identical signatures, so every copy of a
    duplicated doc lands in the same LSH bucket in every band — the
    candidate-pair set grows quadratically in the copy count. Measured
    on a 100×-duplicated 500 k-doc corpus: direct minhash = 390 s /
    27.3 M (mostly redundant) pairs; this composition = 20 s / 241
    canonical pairs — ~19× faster with identical near-dup structure.
    Returns (a, b, jaccard) over canonical doc ids (each id represents
    its exact-copy group).
    """
    canon_ids = exact_dedup(docs, id_col, text_col).select(id_col)
    # persist + eager materialize: minhash's signature and verify
    # branches both consume canon_docs — unlike the cheap re-shingle
    # inside minhash itself, re-running the 2-shuffle exact-dedup+join
    # subtree twice dominates the pipeline (measured 64 s unpersisted
    # vs 20 s persisted on the 100× corpus).
    canon_docs = docs.join(canon_ids, id_col).persist()
    canon_docs.count()
    return minhash_near_duplicates(
        canon_docs, id_col, text_col, shingle_k, num_hashes, bands, threshold
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.0,
) -> DataFrame:
    """Exact word-n-gram Jaccard for given (a, b) pairs.

    r16: scored on the shingle ARRAYS (``jaccard_verify_arrays``) —
    the exploded-row verify's explode + repartition barrier + (id, sh)
    join + groupBy collapse into two id-keyed joins and one native
    ``array_intersect`` per pair. Identical pair sets
    (NOTES.md round 16), 0.82× wall at sf0.1."""
    return jaccard_verify_arrays(
        pairs, shingle_arrays(docs, id_col, text_col, n), id_col, threshold
    )


def _cc_driver_union_find(edges: DataFrame) -> DataFrame:
    """Solve CC for an edge list that fits on the driver: path-compressed
    union-find, then a second pass relabeling every root to the MINIMUM
    node id in its component (same contract as the distributed path)."""
    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for row in edges.toLocalIterator():
        u, v = row[0], row[1]
        parent.setdefault(u, u)
        parent.setdefault(v, v)
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[ru] = rv
    cluster_min: dict = {}
    for node in parent:
        r = find(node)
        if r not in cluster_min or node < cluster_min[r]:
            cluster_min[r] = node
    rows = [(node, cluster_min[find(node)]) for node in parent]
    schema = f"node {edges.schema[0].dataType.simpleString()}, cluster_id {edges.schema[0].dataType.simpleString()}"
    return edges.sparkSession.createDataFrame(rows, schema)


def connected_components(
    pairs: DataFrame,
    src: str = "a",
    dst: str = "b",
    max_iter: int = 25,
    small_graph_threshold: int = 2_000_000,
    stats: dict | None = None,
) -> DataFrame:
    """Connected components over an undirected pair graph by min-label
    propagation: every node's label converges to the smallest node id
    reachable from it. Returns ``(node, cluster_id)`` for every node
    that appears in at least one pair (callers re-attach singletons).

    Hybrid execution, the way production CC pipelines do it: the edge
    list is materialized once (it is the expensive upstream plan), then
    — if it holds ≤ ``small_graph_threshold`` edges — solved with a
    driver-side union-find in one pass (identical min-reachable-id
    semantics, none of the per-round job-scheduling overhead: measured
    8 s → <1 s on the sf0.1 cosine pair graph, 920 edges). Dedup edge
    sets are tiny relative to their corpora (edges ≈ duplicates, not
    documents), so even a 100 TB corpus with 10⁸ duplicate pairs can
    take the driver path; set ``small_graph_threshold=0`` to force the
    distributed loop.

    Distributed path (the scale story): each round is one
    shuffle-on-node join + a min aggregate — no collect, no
    driver-side graph. Label values only decrease; plain propagation
    advances one hop per round (rounds = component diameter), which is
    2-3 rounds for near-clique LSH dedup graphs (the 100x 54M-edge
    minhash graph: 3) but used to RAISE at ``max_iter`` for a
    similarity chain deeper than 25 hops. After round 3 each round
    therefore adds a pointer shortcut (label(label(u)) — the
    Hash-to-Min/Shiloach-Vishkin move), compounding established links
    so chains converge in O(log diameter) rounds (measured r10: a
    121-hop chain in 9 rounds; propagation alone needed >25) while
    the dominant clique workload never pays the extra self-join.
    ``localCheckpoint`` each round truncates the otherwise-exponential
    lineage, and the convergence probe reuses the checkpointed round
    rather than recomputing the chain.

    ``stats`` (optional caller-supplied dict) is filled with
    ``{"edges": n, "path": "driver"|"distributed", "rounds": r}``
    (rounds on the distributed path only) — how rounds-to-convergence
    is measured instead of asserted by argument (NOTES.md round 10).
    """
    # Materialize the PAIR list once, then the symmetrized edge list:
    # the undirected union below references the pair plan twice, and the
    # upstream pair generation (LSH banding, a cosine crossJoin, …) is
    # usually the most expensive plan in the whole pipeline — without
    # the first checkpoint the union runs it twice before the second
    # checkpoint ever materializes (measured 6.8 s → 3.8 s warm at
    # sf0.1 on dedup_cluster_canonical), and without the second each
    # propagation round would re-run it from scratch (29 s → 9 s at
    # sf0.1 on the embedding cosine pair graph).
    # Serialized + spillable storage for every graph-sized checkpoint:
    # localCheckpoint's default keeps DESERIALIZED rows pinned in
    # executor memory, and at the 100x ladder's 27M-pair graph that
    # OOMed a 16 GB heap before the first propagation round (r10
    # probe); MEMORY_AND_DISK (serialized in PySpark, spills under
    # pressure) holds the same 54M-edge list in a few hundred MB.
    from pyspark import StorageLevel

    ckpt = StorageLevel.MEMORY_AND_DISK
    p = pairs.select(
        F.col(src).alias("u"), F.col(dst).alias("v")
    ).localCheckpoint(True, ckpt)
    edges = (
        p.union(p.select(F.col("v"), F.col("u"))).distinct()
    ).localCheckpoint(True, ckpt)

    n_edges = edges.count() if (small_graph_threshold or stats is not None) else None
    if stats is not None:
        stats["edges"] = n_edges
    if small_graph_threshold and n_edges <= small_graph_threshold:
        if stats is not None:
            stats["path"] = "driver"
        return _cc_driver_union_find(edges)

    if stats is not None:
        stats["path"] = "distributed"
    labels = (
        edges.select("u").distinct().withColumn("cluster_id", F.col("u"))
    ).localCheckpoint(True, ckpt)
    rounds = 0
    # Rounds a near-clique dedup graph needs; shortcutting starts only
    # after them, so the dominant workload structurally cannot pay the
    # extra self-join — its rounds are byte-identical to the pre-r10
    # plain loop. (On the 100x minhash graph an always-shortcut
    # variant measured wall-EQUAL in the same sitting, 36.5 vs 36.3 s
    # — one fewer round bought back the join — so adaptive is chosen
    # for structural zero-overhead, not from a measured regression.)
    shortcut_after = 3
    for i in range(max_iter):
        nbr = edges.join(
            labels.select(F.col("u").alias("v"), "cluster_id"), "v"
        ).select("u", "cluster_id")
        prop = (
            nbr.union(labels)
            .groupBy("u")
            .agg(F.min("cluster_id").alias("cluster_id"))
        )
        if i >= shortcut_after:
            # Pointer shortcut (Hash-to-Min style): label(u) is by
            # invariant a node in u's component, so label(label(u)) is
            # too — take the min of both. Propagation alone advances
            # one hop per round (rounds = component diameter, and a
            # similarity CHAIN longer than max_iter made the loop
            # raise); the shortcut compounds established links, so
            # chains converge in O(log diameter) rounds (measured:
            # 121-hop chain 25+ → 9 rounds adaptive). Every label
            # value is itself a node (component minima are nodes), so
            # the self-join always hits. Checkpoint before the
            # self-join: both sides reference prop, and unmaterialized
            # that would run the propagation aggregate twice per round.
            prop = prop.localCheckpoint(True, ckpt)
            prop = prop.join(
                prop.select(
                    F.col("u").alias("cluster_id"),
                    F.col("cluster_id").alias("cc2"),
                ),
                "cluster_id",
            ).select(
                "u", F.least("cluster_id", "cc2").alias("cluster_id")
            )
        new_labels = prop.localCheckpoint(True, ckpt)
        changed = (
            new_labels.join(
                labels.withColumnRenamed("cluster_id", "old"), "u"
            )
            .filter(F.col("cluster_id") != F.col("old"))
            .count()
        )
        # superseded label checkpoints stay until the context cleaner
        # collects them (DataFrame.unpersist does not free checkpoint
        # blocks — verified r10); acceptable because they are
        # node-sized and serialized, dwarfed by the edge list
        labels = new_labels
        rounds += 1
        if changed == 0:
            break
    else:
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds"
        )
    if stats is not None:
        stats["rounds"] = rounds
    return labels.select(F.col("u").alias("node"), "cluster_id")


def cluster_canonical(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Resolve near-dup pairs into clusters and pick one keeper per
    cluster: longest text wins (ties → smallest id — deterministic,
    NOTES.md tiebreak rule). Docs in no pair are their own singleton
    cluster. Returns ``(doc_id, cluster_id, is_canonical)`` — the
    downstream filter ``is_canonical`` yields the deduplicated corpus.
    """
    comp = connected_components(pairs, max_iter=25)
    assigned = docs.join(
        comp.withColumnRenamed("node", id_col), id_col, "left"
    ).withColumn("cluster_id", F.coalesce("cluster_id", F.col(id_col)))
    w = (
        W.partitionBy("cluster_id")
        .orderBy(F.length(F.col(text_col)).desc(), F.col(id_col).asc())
    )
    return assigned.select(
        id_col,
        "cluster_id",
        (F.row_number().over(w) == 1).alias("is_canonical"),
    )

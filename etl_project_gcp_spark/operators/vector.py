"""Embedding similarity search (SURVEY §2.12 X3 [EXT]).

Retrieval tiers, all DataFrame-native — pick by corpus size and recall
target: exact brute force (correctness baseline) → int8-quantized scan
(4× IO, ≥0.9 recall) → two-stage (quantized overfetch + exact rerank,
exact scores) → LSH / IVF / k-means-IVF (sub-linear probing). Measured
recalls per path live in the respective docstrings; every approximate
path is recall-tested against brute force.

- **Brute-force top-k** (the correctness baseline): broadcast the query
  vectors against the corpus, cosine via JVM-side array expressions
  (zip_with + aggregate — sequential accumulation, so scores are
  bit-identical to a single-threaded engine), rank with a per-query
  window. Cost O(|Q|·N) — fine for small |Q|, the oracle path.
- **Random-hyperplane LSH** (scale path): T hash tables × P sign bits;
  vectors sharing a bucket in any table become candidates; exact cosine
  only on candidates. Hyperplanes are seeded Gaussian directions
  regenerated per Arrow batch (deterministic, no stored model); all
  T×P projections are one numpy matmul in a single corpus pass.
  Recall tuned by (T, P).
- **IVF** (scale path): coarse quantizer from C deterministic seed
  vectors; vectors assign to nearest seed (one broadcast join against C
  centroids); queries probe the ``nprobe`` nearest lists. At 100 TB the
  corpus is partitioned by list id so a probe touches nprobe/C of data.

References: PAPERS.md — top-k similarity search (EDBT 2020), REPOSE
distributed top-k (ICDE 2021) for the partition-then-merge shape.
"""

from __future__ import annotations

from threading import Lock

from pyspark import StorageLevel
from pyspark.sql import DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from etl_project_gcp_spark.session import map_concurrent


def _dot(a: F.Column, b: F.Column) -> F.Column:
    """Sequential double dot-product of two array<double> columns."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm(a: F.Column) -> F.Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))


def cosine(a: F.Column, b: F.Column) -> F.Column:
    """Cosine similarity, computed in double with sequential
    accumulation (matches DuckDB's list_cosine_similarity on DOUBLE[]).

    NULL (not NaN) when either vector has zero norm: a raw 0/0 yields
    NaN, and NaN sorts FIRST under Spark's descending order — a single
    zero embedding (a failed encoder output, real at corpus scale)
    would otherwise rank as every query's top neighbor. The scored
    paths filter the NULLs, so zero-norm vectors are EXCLUDED from
    results (and a zero-norm query returns no rows)."""
    return _dot(a, b) / F.nullif(_norm(a) * _norm(b), F.lit(0.0))


def _as_double(col: str) -> F.Column:
    return F.col(col).cast("array<double>")


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_scores: int = 6,
) -> DataFrame:
    """Exact cosine top-k per query vector.

    Output: (query_id, neighbor_id, cosine, rk). Scores are rounded and
    ties broken by neighbor id, so the selected set is a total order.
    Physically: broadcast-nested-loop of |Q| × N with the per-query
    ranking window — the window input is already cut to N·|Q| scored
    rows; no N² blow-up.

    Per-side norms are staged as columns (r15): evaluated inside the
    per-PAIR projection, ``cosine()``'s two ``_norm`` folds are
    interpreted d-length aggregates that depend on one side each yet
    run |Q|·N times; hoisted, each side pays its norm once per ROW and
    the pair pays only the dot fold. The NULL filter sits ABOVE the
    ranking window: placed below, the optimizer substitutes the whole
    score expression into the join condition (one extra interpreted
    dot fold per pair); predicates off the partition key cannot cross
    a Window. Under desc NULLS LAST every null ranks strictly after
    every non-null, so rank-then-drop emits identical rows with
    identical rk (equality-gated, NOTES.md round 15; A/B
    0.64 at the 2000×64 gate corpus, 0.58 at 40k×64). Same double
    arithmetic tree — scores are bit-identical.
    """
    q = queries.select(
        F.col(id_col).alias("query_id"), _as_double(vec_col).alias("qv")
    ).withColumn("qn", _norm(F.col("qv")))
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), _as_double(vec_col).alias("cv")
    ).withColumn("cn", _norm(F.col("cv")))
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                _dot(F.col("qv"), F.col("cv"))
                / F.nullif(F.col("qn") * F.col("cn"), F.lit(0.0)),
                round_scores,
            ).alias("cosine"),
        )
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .filter(F.col("cosine").isNotNull())
    )


def brute_force_topk_arrow(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_scores: int = 6,
    max_queries: int = 10_000,
) -> DataFrame:
    """Arrow-vectorized twin of ``brute_force_topk``: one numpy matmul
    per Arrow batch instead of per-row array expressions.

    Shape (REPOSE/partition-then-merge): the query matrix is tiny by
    contract, so it rides into every task via the closure; each
    partition emits only its local top-k per query (≤ k·|Q| rows), and a
    final window merges the partials — the shuffle carries k·|Q|·
    partitions rows, never N. Same rounding + id tiebreak as the
    expression version, so both return the identical set.

    The small-|Q| contract is ENFORCED: collecting an unbounded query
    set would OOM the driver and bloat every task closure, so more than
    ``max_queries`` rows fails fast (checked with a limit-probe, not a
    full count). For query sets beyond that, batch the calls or use the
    LSH/IVF paths.
    """
    import numpy as np

    # size guard folded into the collect (r16): limit(max+1) bounds the
    # driver transfer exactly like the old count()-probe job did, and
    # len() of the collected rows answers the same question — one Spark
    # job instead of two per call (the probe job was pure latency at
    # bench scale and redundant work at any scale).
    qrows = queries.select(id_col, vec_col).limit(max_queries + 1).collect()
    if len(qrows) > max_queries:
        raise ValueError(
            f"brute_force_topk_arrow collects the query set to the driver; "
            f"got > {max_queries} query rows. Batch the queries or use "
            f"lsh_topk/ivf_topk for large query sets."
        )
    def _unit_rows(mat):
        # zero-norm rows become nan rows (cosine undefined) instead of
        # raising a divide warning; nan scores are filtered below —
        # same excluded-from-results contract as the expression path
        nrm = np.linalg.norm(mat, axis=1, keepdims=True)
        with np.errstate(invalid="ignore", divide="ignore"):
            return np.where(nrm == 0, np.nan, mat / np.where(nrm == 0, 1, nrm))

    qids = np.array([r[0] for r in qrows])
    qmat = np.array([list(r[1]) for r in qrows], dtype=np.float64)
    qn = _unit_rows(qmat)

    def local_topk(batches):
        import pandas as pd

        for pdf in batches:
            if pdf.empty:
                continue
            ids = pdf[id_col].to_numpy()
            cmat = np.array([list(v) for v in pdf[vec_col]], dtype=np.float64)
            cn = _unit_rows(cmat)
            scores = np.round(cn @ qn.T, round_scores)  # |batch| × |Q|
            for j, qid in enumerate(qids):
                mask = (ids != qid) & ~np.isnan(scores[:, j])
                cand_ids, cand_s = ids[mask], scores[mask, j]
                order = np.lexsort((cand_ids, -cand_s))[:k]
                yield pd.DataFrame(
                    {
                        "query_id": np.full(len(order), qid),
                        "neighbor_id": cand_ids[order],
                        "cosine": cand_s[order],
                    }
                )

    partials = corpus.select(id_col, vec_col).mapInPandas(
        local_topk, "query_id long, neighbor_id long, cosine double"
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return partials.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") <= k)


_LSH_SEED = 12345


def _bucket_all_tables(
    df: DataFrame,
    id_col: str,
    id_out: str,
    vec_col: str,
    planes: int,
    tables: int,
) -> DataFrame:
    """(id, table, bucket) for EVERY hash table in one shuffle-free scan.

    One Arrow batch pass: all tables×planes random-hyperplane
    projections are a single numpy matmul (batch×d @ d×(T·P)), sign
    bits packed per table, and the T buckets leave through one
    posexplode — no groupBy, no Exchange, and never a grouping key
    containing the vector array itself. Hyperplanes are Gaussian,
    regenerated identically in every batch from a fixed seed, so corpus
    and query sides bucket consistently with no stored model.

    Why a pandas_udf and not array expressions: Spark's higher-order
    functions (zip_with/aggregate) are interpreted, not codegen'd —
    the 50-projection formulation measured 1.3 s for 2 000×64 vectors
    at sf0.1 vs 0.29 s for this matmul, and the gap widens with corpus
    size. This is the documented Arrow exception to the JVM-first rule."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.pandas.functions import pandas_udf

    n_proj = tables * planes

    # no pd.Series type hints: `from __future__ import annotations`
    # stringifies them and pandas_udf can't resolve the local alias
    @pandas_udf("array<bigint>")
    def _buckets(vs):
        if vs.empty:
            return pd.Series([], dtype=object)
        V = np.vstack(vs.to_numpy())
        rng = np.random.default_rng(_LSH_SEED)
        S = rng.standard_normal((n_proj, V.shape[1]))
        bits = (V @ S.T) > 0  # batch × (T·P)
        out = np.zeros((len(V), tables), dtype=np.int64)
        for t in range(tables):
            for p in range(planes):
                out[:, t] |= bits[:, t * planes + p].astype(np.int64) << p
        return pd.Series(list(out))

    return df.select(
        F.col(id_col).alias(id_out),
        F.posexplode(_buckets(_as_double(vec_col))).alias("table", "bucket"),
    )


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    planes: int = 5,
    tables: int = 10,
) -> DataFrame:
    """Approximate cosine top-k: candidates = bucket collisions in any
    of ``tables`` hash tables; exact cosine + rank only on candidates.

    Scale shape: bucketing is ONE shuffle-free pass over each side
    (never ``tables`` passes — a 10× corpus scan at 100 TB); the
    (table, bucket) collision join broadcasts the query buckets
    (|Q|·T rows, tiny under the same small-|Q| contract as brute
    force), so the corpus is exchanged exactly once — by the
    candidate-scoring join on neighbor_id."""
    cb = _bucket_all_tables(corpus, id_col, "neighbor_id", vec_col, planes, tables)
    qb = _bucket_all_tables(queries, id_col, "query_id", vec_col, planes, tables)
    cands = (
        cb.join(F.broadcast(qb), ["table", "bucket"])
        .select("query_id", "neighbor_id")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .distinct()
    )

    # staged per-side norms + NULL filter above the window (r15, see
    # brute_force_topk): candidates hit the same corpus row from many
    # queries/tables, so the per-pair norm folds collapse to one per
    # side-row (A/B 0.65 gate / 0.43 at 40k×64, bit-identical rows).
    # The corpus-side norm is computed per corpus ROW (the projection
    # sits below the candidate join) — bounded by the bucketing pass
    # that already touches every row.
    qv = queries.select(
        F.col(id_col).alias("query_id"), _as_double(vec_col).alias("qv")
    ).withColumn("qn", _norm(F.col("qv")))
    cv = corpus.select(
        F.col(id_col).alias("neighbor_id"), _as_double(vec_col).alias("cv")
    ).withColumn("cn", _norm(F.col("cv")))
    scored = (
        cands.join(F.broadcast(qv), "query_id")
        .join(cv, "neighbor_id")
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                _dot(F.col("qv"), F.col("cv"))
                / F.nullif(F.col("qn") * F.col("cn"), F.lit(0.0)),
                6,
            ).alias("cosine"),
        )
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .filter(F.col("cosine").isNotNull())
    )


def ivf_assign(
    corpus: DataFrame,
    n_lists: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[DataFrame, DataFrame]:
    """Coarse quantizer: centroids = the ``n_lists`` lowest-id vectors
    (deterministic seeds); every vector assigns to its nearest centroid
    by cosine. Returns (centroids, assigned corpus with list_id)."""
    centroids = (
        corpus.orderBy(id_col)
        .limit(n_lists)
        .select(
            F.monotonically_increasing_id().alias("_tmp"),
            F.col(id_col).alias("list_id"),
            _as_double(vec_col).alias("centroid"),
        )
        .drop("_tmp")
    )
    # staged per-side norms (r15, see brute_force_topk): every vector
    # scores against all n_lists centroids, so the inline cosine paid
    # both norm folds n_lists times per vector; staged, once per row.
    cent_n = centroids.withColumn("ctn", _norm(F.col("centroid")))
    c = corpus.select(
        F.col(id_col), _as_double(vec_col).alias("v")
    ).withColumn("vn", _norm(F.col("v")))
    scored = c.crossJoin(F.broadcast(cent_n)).select(
        id_col,
        "list_id",
        (
            _dot(F.col("v"), F.col("centroid"))
            / F.nullif(F.col("vn") * F.col("ctn"), F.lit(0.0))
        ).alias("sim"),
    )
    w = W.partitionBy(id_col).orderBy(F.desc("sim"), F.asc("list_id"))
    assigned = (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select(id_col, "list_id")
    )
    return centroids, corpus.join(assigned, id_col)


def _normalized_vectors(
    corpus: DataFrame, id_col: str, vec_col: str
) -> DataFrame:
    """(_id, v) with v L2-normalized. The norm must NOT sit inside the
    per-element lambda (Catalyst inlines it into every element → O(d²),
    the shingle_docs trap), and a plain projected alias referenced once
    gets collapsed right back in. array_repeat evaluates its argument
    once per row regardless, so the zip_with divides by a materialized
    d-array of the norm."""
    raw = _as_double(vec_col)
    nrm = F.sqrt(F.aggregate(raw, F.lit(0.0), lambda a, y: a + y * y))
    return corpus.select(
        F.col(id_col).alias("_id"),
        F.zip_with(
            raw, F.array_repeat(nrm, F.size(raw)), lambda x, n: x / n
        ).alias("v"),
        nrm.alias("_nrm"),
    ).filter(
        # zero-norm vectors have no direction: a 0/0 NaN element would
        # poison every centroid mean it is summed into (NaN propagates
        # through the k·d update stats) — excluded from clustering, the
        # same contract as the scored search paths
        F.col("_nrm") > 0
    ).drop("_nrm")


def _argmax_assign(vn: DataFrame, centroids: DataFrame) -> DataFrame:
    """(_id, list_id, sim): each normalized vector's nearest centroid by
    dot product, ties to the smallest list_id — THE assignment rule of
    kmeans_fit, shared so persisted centroids reproduce training-time
    assignment bit-for-bit (single partial-aggregable max(struct), no
    window)."""
    scored = vn.crossJoin(F.broadcast(centroids)).select(
        "_id",
        F.col("list_id"),
        _dot(F.col("v"), F.col("centroid")).alias("sim"),
    )
    return (
        scored.groupBy("_id")
        .agg(
            F.max(
                F.struct(F.col("sim"), (-F.col("list_id")).alias("nl"))
            ).alias("m")
        )
        .select(
            "_id",
            (-F.col("m.nl")).cast("int").alias("list_id"),
            F.col("m.sim").alias("sim"),
        )
    )


def kmeans_assign(
    corpus: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Assign every corpus vector to its nearest centroid using the
    EXACT kmeans_fit rule (dot on L2-normalized vectors, ties to the
    smallest list_id). With centroids persisted from a prior
    :func:`kmeans_fit`, this reproduces the training-time assignment
    without retraining — the build-once/search-many lifecycle for the
    trained quantizer (one broadcast join + one partial-agg argmax
    instead of max_iter Lloyd iterations)."""
    vn = _normalized_vectors(corpus, id_col, vec_col)
    assigned = _argmax_assign(vn, centroids)
    return corpus.join(
        assigned.select(F.col("_id").alias(id_col), "list_id"), id_col
    )


def kmeans_fit(
    corpus: DataFrame,
    k: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_iter: int = 10,
    tol: float = 1e-4,
) -> tuple[DataFrame, DataFrame, list[float]]:
    """Distributed spherical k-means (Lloyd) over an ``array<double>``
    column — the trained coarse quantizer for IVF.

    Per iteration: centroids (k·d doubles, tiny) broadcast-join against
    the corpus; per-vector argmax-cosine via a single partial-aggregable
    ``max(struct(sim, -list_id))`` groupBy (no window); centroid update
    = normalized mean of members, computed as a (list_id, dim) groupBy
    over posexploded components — k·d rows collected to the driver per
    iteration, never the vectors themselves. Empty clusters keep their
    previous centroid. Deterministic init: the k vectors with the lowest
    ``xxhash64(id)`` (pseudo-random spread, no RNG state).

    Objective = mean cosine of each vector to its assigned centroid;
    Lloyd on the sphere is non-decreasing in it (tested). Returns
    (centroids ``(list_id, centroid)``, assignment ``(id, list_id)``,
    per-iteration objective history).

    Scale: each iteration is one broadcast join + two shuffles of
    (N rows, k·d groups); nothing driver-side grows with N.
    """
    import math

    spark = corpus.sparkSession
    vn = _normalized_vectors(corpus, id_col, vec_col).persist()
    try:
        init = (
            vn.select("_id", "v", F.xxhash64(F.col("_id").cast("string")).alias("_h"))
            .orderBy("_h", "_id")
            .limit(k)
            .collect()
        )
        cents: list[list[float]] = [list(r["v"]) for r in init]
        history: list[float] = []
        assigned = None
        cents_used = cents  # the centroid set the final `assigned` refers to
        for _ in range(max_iter):
            cents_used = cents
            cdf = spark.createDataFrame(
                [(i, cents[i]) for i in range(len(cents))],
                "list_id int, centroid array<double>",
            )
            assigned = _argmax_assign(vn, cdf)
            stats = (
                assigned.join(vn, "_id")
                .select("list_id", "sim", F.posexplode("v").alias("pos", "x"))
                .groupBy("list_id", "pos")
                .agg(F.sum("x").alias("sx"), F.count(F.lit(1)).alias("n"), F.sum("sim").alias("ssim"))
                .collect()
            )
            by_list: dict[int, dict[int, float]] = {}
            counts: dict[int, int] = {}
            total_sim = 0.0
            total_n = 0
            for r in stats:
                by_list.setdefault(r["list_id"], {})[r["pos"]] = r["sx"]
                counts[r["list_id"]] = r["n"]
                if r["pos"] == 0:
                    total_sim += r["ssim"]
                    total_n += r["n"]
            history.append(total_sim / max(total_n, 1))
            shift = 0.0
            new_cents = []
            for i in range(len(cents)):
                if i not in by_list:
                    new_cents.append(cents[i])  # empty cluster keeps its centroid
                    continue
                mean = [by_list[i][p] / counts[i] for p in range(len(cents[i]))]
                nrm = math.sqrt(sum(x * x for x in mean)) or 1.0
                nc = [x / nrm for x in mean]
                shift = max(shift, 1.0 - sum(a * b for a, b in zip(cents[i], nc)))
                new_cents.append(nc)
            cents = new_cents
            if shift < tol:
                break
        # Return the centroids that PRODUCED the final assignment: probing
        # the post-update centroids against a pre-update assignment would
        # route queries to lists their true neighbors were not filed under.
        centroids = spark.createDataFrame(
            [(i, cents_used[i]) for i in range(len(cents_used))],
            "list_id int, centroid array<double>",
        )
        out_assigned = corpus.join(
            assigned.select(F.col("_id").alias(id_col), "list_id"), id_col
        )
        return centroids, out_assigned, history
    finally:
        vn.unpersist()


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_lists: int = 16,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    quantizer: str = "seed",
    centroids: DataFrame | None = None,
) -> DataFrame:
    """IVF search: probe the ``nprobe`` nearest lists per query, exact
    cosine within the probed lists only. ``quantizer='seed'`` uses the
    deterministic seed-vector coarse quantizer (``ivf_assign``);
    ``'kmeans'`` trains centroids with :func:`kmeans_fit` first — or,
    when ``centroids`` holds a previously-trained (persisted) set,
    skips training and reproduces the assignment via
    :func:`kmeans_assign` (identical results, training cost paid once).

    Measured on the sf0.01 corpus (k=10, 20 queries): seed recall
    0.805/0.87/0.92 at nprobe 4/6/8; kmeans 0.50/0.675/0.785. The
    corpus embeddings are near-orthogonal random vectors — no cluster
    structure to learn, and mean-of-members centroids have flatter
    assignment margins than sharp corpus-vector seeds. On real
    (clustered) embedding distributions the trained quantizer is the
    standard choice; both paths are recall-tested so a distribution
    change shows up as a test failure, not silent recall loss."""
    if centroids is not None:
        assigned = kmeans_assign(corpus, centroids, id_col, vec_col)
    elif quantizer == "kmeans":
        centroids, assigned, _ = kmeans_fit(corpus, n_lists, id_col, vec_col)
    else:
        centroids, assigned = ivf_assign(corpus, n_lists, id_col, vec_col)
    # staged per-side norms + NULL filter above the window (r15, see
    # brute_force_topk): probed-list members meet |Q|·nprobe/n_lists
    # candidate pairs per row on average, and the probe scoring pays
    # centroid norms once per centroid instead of once per
    # (query, centroid) pair (A/B 0.69 at 40k×64, bit-identical rows).
    qv = queries.select(
        F.col(id_col).alias("query_id"), _as_double(vec_col).alias("qv")
    ).withColumn("qn", _norm(F.col("qv")))
    probe_scored = qv.crossJoin(
        F.broadcast(centroids.withColumn("ctn", _norm(F.col("centroid"))))
    ).select(
        "query_id",
        "list_id",
        (
            _dot(F.col("qv"), F.col("centroid"))
            / F.nullif(F.col("qn") * F.col("ctn"), F.lit(0.0))
        ).alias("sim"),
    )
    w = W.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("list_id"))
    probes = (
        probe_scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= nprobe)
        .select("query_id", "list_id")
    )
    cand = probes.join(
        assigned.select(
            F.col(id_col).alias("neighbor_id"), "list_id", _as_double(vec_col).alias("cv")
        ).withColumn("cn", _norm(F.col("cv"))),
        "list_id",
    ).filter(F.col("neighbor_id") != F.col("query_id"))
    scored = cand.join(F.broadcast(qv), "query_id").select(
        "query_id",
        "neighbor_id",
        F.round(
            _dot(F.col("qv"), F.col("cv"))
            / F.nullif(F.col("qn") * F.col("cn"), F.lit(0.0)),
            6,
        ).alias("cosine"),
    )
    w2 = W.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w2))
        .filter(F.col("rk") <= k)
        .filter(F.col("cosine").isNotNull())
    )


def quantize_embeddings(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Symmetric int8 scalar quantization: each vector stored as
    ``array<tinyint>`` plus one float scale (max |x| / 127) — 4× less
    memory/IO than float32, ~8× less than the double path. At 100 TB
    the ANN corpus is scanned per query batch, so byte width IS the
    scan cost; rerank the quantized top-k' with exact vectors for the
    final k (standard two-stage retrieval). All expression-level:
    transform + round, clamped before the tinyint cast (ANSI mode
    errors on overflow instead of wrapping).

    Two-step projection (r15 optimization): the scale lands as a
    COLUMN first, then the quantize lambda references that column.
    Inlining the scale expression into the per-element lambda looks
    equivalent but makes interpreted evaluation (higher-order
    functions get no codegen) re-derive the whole max-|x| scan per
    ELEMENT — O(dim²) per row; measured 0.410 → 0.144 s noop on the
    2 000×64 bench corpus (interleaved A/B, 7 reps), outputs
    bit-identical. The scale itself uses native array_max/array_min
    (exact same double arithmetic as the aggregate-lambda fold —
    max |x| = max(|max|, |min|) — equality-gated bit-identical, and
    native collection expressions skip lambda interpretation)."""
    v = _as_double(vec_col)
    staged = corpus.select(
        F.col(id_col),
        v.alias("_v"),
        (
            F.greatest(
                F.abs(F.array_max(v)), F.abs(F.array_min(v)), F.lit(1e-30)
            )
            / F.lit(127.0)
        ).alias("q_scale"),
    )
    return staged.select(
        id_col,
        "q_scale",
        F.transform(
            F.col("_v"),
            lambda x: F.least(
                F.greatest(F.round(x / F.col("q_scale")), F.lit(-127.0)),
                F.lit(127.0),
            ).cast("tinyint"),
        ).alias("q_vec"),
    )


def quantized_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    corpus_quantized: DataFrame | None = None,
) -> DataFrame:
    """Cosine top-k over int8-quantized vectors (approximate: scores
    carry quantization error; recall-tested vs the exact path). The
    dot product runs over tinyint arrays widened per-element — scan
    traffic is the quantized bytes, not the original doubles.

    ``corpus_quantized`` (the output of :func:`quantize_embeddings` on
    the same corpus) skips re-quantizing: at 100 TB the quantized
    corpus is a MAINTAINED table (built once, appended at ingest — the
    IVF-index lifecycle), not a per-query-batch projection, and the
    per-element clamp/round lambdas are interpreted (no codegen for
    higher-order functions), so re-deriving it costs real CPU —
    measured 0.72 s on even the 2k-row bench corpus, ~half the int8
    path's wall. Quantization is deterministic, so results are
    bit-identical either way (unit-tested)."""
    def idot(a, b):
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: x.cast("long") * y.cast("long")),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )

    # Per-side SELF-dots staged as columns (r15, see brute_force_topk):
    # inline, the denominator's two self-dot folds ran per PAIR though
    # each depends on one side only; staged, once per row. The staged
    # values are exact longs, so the score's double tree is unchanged
    # bit-for-bit. NULL filter above the window for the same reason as
    # brute_force_topk (A/B 0.69 gate / 0.76 at 40k×64).
    q = quantize_embeddings(queries, id_col, vec_col).select(
        F.col(id_col).alias("query_id"),
        F.col("q_scale").alias("qs"),
        F.col("q_vec").alias("qv"),
    ).withColumn("q_self", idot(F.col("qv"), F.col("qv")))
    cq = (
        corpus_quantized
        if corpus_quantized is not None
        else quantize_embeddings(corpus, id_col, vec_col)
    )
    c = cq.select(
        F.col(id_col).alias("neighbor_id"),
        F.col("q_scale").alias("cs"),
        F.col("q_vec").alias("cv"),
    ).withColumn("c_self", idot(F.col("cv"), F.col("cv")))
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            (
                (idot(F.col("qv"), F.col("cv")) * F.col("qs") * F.col("cs"))
                / F.nullif(
                    F.sqrt(F.col("q_self").cast("double")) * F.col("qs")
                    * F.sqrt(F.col("c_self").cast("double")) * F.col("cs"),
                    F.lit(0.0),
                )
            ).alias("cosine_q"),
        )
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cosine_q"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .filter(F.col("cosine_q").isNotNull())
    )


def two_stage_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    overfetch: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_scores: int = 6,
    corpus_quantized: DataFrame | None = None,
) -> DataFrame:
    """Two-stage retrieval, the production ANN shape: stage 1 scans the
    int8-QUANTIZED corpus for ``overfetch·k`` candidates per query (4×
    less IO than the float path); stage 2 reranks only those candidates
    with EXACT double cosine, so the emitted scores are identical to
    ``brute_force_topk``'s for every candidate that survives stage 1 —
    quantization error can only cost recall at the stage-1 cut, never
    score accuracy (recall-tested ≥ the plain quantized path). The
    rerank join touches k·overfetch·|Q| rows, noise at any scale.

    Contract (ADVICE r12): ``corpus_quantized`` MUST be
    :func:`quantize_embeddings` over the SAME corpus passed here — it
    is trusted, not re-derived. A stale/mismatched quantized table
    fails loudly if its schema is wrong (asserted below), but a
    same-schema table over a DIFFERENT id set degrades silently: ids
    present only in the quantized side drop at the exact-rerank inner
    join (fewer than k rows per query, no error). Maintain the
    quantized table with the same lifecycle as the corpus (rebuild /
    append on ingest, the IVF-index convention)."""
    if corpus_quantized is not None:
        missing = {"q_scale", "q_vec", id_col} - set(corpus_quantized.columns)
        if missing:
            raise ValueError(
                "corpus_quantized must be quantize_embeddings() output "
                f"(missing columns: {sorted(missing)})"
            )
    cand = quantized_topk(
        corpus, queries, k * overfetch, id_col, vec_col,
        corpus_quantized=corpus_quantized,
    ).select("query_id", "neighbor_id")
    cv = corpus.select(F.col(id_col).alias("neighbor_id"), _as_double(vec_col).alias("cv"))
    qv = queries.select(F.col(id_col).alias("query_id"), _as_double(vec_col).alias("qv"))
    # NULL filter above the window only (r15, see brute_force_topk) —
    # no norm staging here: the rerank touches k·overfetch·|Q| rows
    # while a corpus-side staged norm would fold over every corpus row
    # below the candidate join, the wrong shape when candidates ≪ N.
    rescored = (
        cand.join(cv, "neighbor_id")
        .join(F.broadcast(qv), "query_id")
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine(F.col("qv"), F.col("cv")), round_scores).alias("cosine"),
        )
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        rescored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .filter(F.col("cosine").isNotNull())
    )


def cosine_pairs_blocked(
    corpus: DataFrame,
    threshold: float = 0.95,
    n_blocks: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_scores: int = 6,
) -> DataFrame:
    """All pairs with cosine ≥ threshold — the near-dup pair generator —
    via BLOCKED matrix products: vectors hash into ``n_blocks`` blocks,
    every block-pair (i ≤ j) becomes one applyInPandas group whose task
    runs a single numpy matmul over the two blocks and emits only the
    surviving (a < b) pairs.

    Scale: no broadcast of the corpus and no driver collect — each row
    is replicated exactly ``n_blocks`` times through the shuffle
    (O(N·B) traffic vs the crossJoin's O(N²) comparisons materialized
    row-wise), and per-task memory is two blocks (2N/B rows). Pick
    B ≈ N·d·8B / (executor-memory budget) so a block pair fits; compute
    per pair is vectorized SIMD instead of a per-row lambda chain —
    measured 33 s → ~2 s at sf0.1 (2000×64) versus the expression
    crossJoin. Same round-then-threshold semantics as
    ``embedding_near_dups`` (np.round(x, 6): bankers' rounding differs
    from Spark's HALF_UP only at exact 5e-7 boundaries — not observed
    on real-valued cosines; the oracle sweep guards it).
    """
    import numpy as np

    spark = corpus.sparkSession
    bp = spark.createDataFrame(
        [(i, j) for i in range(n_blocks) for j in range(i, n_blocks)],
        "ba int, bb int",
    )
    c = corpus.select(
        F.col(id_col).alias("vid"),
        _as_double(vec_col).alias("v"),
        (F.crc32(F.col(id_col).cast("string")) % n_blocks).cast("int").alias("blk"),
    )
    tagged = (
        c.join(F.broadcast(bp), F.col("blk") == F.col("ba"))
        .select("ba", "bb", "vid", "v", F.lit(0).alias("side"))
        .unionByName(
            # ba == bb excluded: the diagonal task self-joins its side-0
            # rows, so mirroring them as side-1 would only double-ship
            # every row through the shuffle for rows block_pairs ignores.
            c.join(
                F.broadcast(bp),
                (F.col("blk") == F.col("bb")) & (F.col("ba") != F.col("bb")),
            ).select("ba", "bb", "vid", "v", F.lit(1).alias("side"))
        )
    )

    def block_pairs(key, pdf):
        import pandas as pd

        ba, bb = key
        empty = pd.DataFrame({"a": [], "b": [], "cosine": []})
        a_pdf = pdf[pdf["side"] == 0]
        if a_pdf.empty:
            return empty
        ids_a = a_pdf["vid"].to_numpy()
        mat_a = np.array([list(v) for v in a_pdf["v"]], dtype=np.float64)
        # zero-norm rows -> nan scores; nan >= threshold is False, so
        # they fall out of the pair set (excluded contract), and errstate
        # silences the benign divide warning
        with np.errstate(invalid="ignore", divide="ignore"):
            na = mat_a / np.linalg.norm(mat_a, axis=1, keepdims=True)
        if ba == bb:
            scores = np.round(na @ na.T, round_scores)
            bi, bj = np.nonzero(np.triu(scores >= threshold, k=1))
            xa, xb = ids_a[bi], ids_a[bj]
            s = scores[bi, bj]
        else:
            b_pdf = pdf[pdf["side"] == 1]
            if b_pdf.empty:
                return empty
            ids_b = b_pdf["vid"].to_numpy()
            mat_b = np.array([list(v) for v in b_pdf["v"]], dtype=np.float64)
            with np.errstate(invalid="ignore", divide="ignore"):
                nb = mat_b / np.linalg.norm(mat_b, axis=1, keepdims=True)
            scores = np.round(na @ nb.T, round_scores)
            bi, bj = np.nonzero(scores >= threshold)
            xa, xb = ids_a[bi], ids_b[bj]
            s = scores[bi, bj]
        lo, hi = np.minimum(xa, xb), np.maximum(xa, xb)
        return pd.DataFrame({"a": lo, "b": hi, "cosine": s})

    return tagged.groupBy("ba", "bb").applyInPandas(
        block_pairs, "a long, b long, cosine double"
    )


# --- Persisted IVF index: build once, search many --------------------------

def ivf_build_index(
    corpus: DataFrame,
    path: str,
    n_lists: int = 16,
    quantizer: str = "seed",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Materialize an IVF index on disk: ``{path}/centroids`` (n_lists
    rows) plus ``{path}/vectors`` PARTITIONED BY list_id.

    This is the production ANN lifecycle the in-memory ``ivf_topk``
    can't give: the coarse quantizer runs ONCE at build time, and every
    subsequent search reads only the probed partitions — partition
    pruning makes search I/O nprobe/n_lists of the corpus instead of a
    full scan per query batch. At 100 TB, n_lists scales to O(√N) lists
    and each list lands as its own parquet directory.
    """
    if quantizer == "kmeans":
        centroids, assigned, _ = kmeans_fit(corpus, n_lists, id_col, vec_col)
    else:
        centroids, assigned = ivf_assign(corpus, n_lists, id_col, vec_col)
    centroids.write.mode("overwrite").parquet(f"{path}/centroids")
    (
        assigned.select(id_col, vec_col, "list_id")
        .repartition("list_id")
        .write.mode("overwrite")
        .partitionBy("list_id")
        .parquet(f"{path}/vectors")
    )


def ivf_search_index(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 10,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_scores: int = 6,
    max_broadcast_bytes: int = 64 << 20,
) -> DataFrame:
    """Search a persisted IVF index (:func:`ivf_build_index`): probe the
    ``nprobe`` nearest lists per query, exact cosine inside probed lists
    only.

    The probed list-id set (≤ n_lists ints) is collected to the driver
    and pushed into the vectors scan as a literal IN filter, so Spark's
    partition pruning skips the unprobed directories entirely — the only
    corpus I/O is the probed fraction (plan-tested via inputFiles).
    Centroids are a broadcast-size side input by construction.

    The query side (probe pairs + query vectors) is broadcast ONLY
    while its estimated size — |queries| × (dim×8B + row overhead),
    measured here, not assumed (ADVICE r8) — fits
    ``max_broadcast_bytes``. Above that, the probe-pair set is sized
    SEPARATELY (two longs per row — dim-independent, so it fits the
    same budget for ~100× more queries): while it fits, the pairs are
    collected once, rebuilt as a local relation, and broadcast, so the
    pruned corpus STILL streams through the candidate join without a
    corpus-side shuffle — only the query-vector join shuffles, and it
    shuffles the bounded candidate set, not the corpus (r10). Only
    when even the pairs outgrow the budget does the search fall back
    to plain joins (the corpus side is already pruned to the probed
    partitions, so that shuffle is bounded by the probed fraction, and
    AQE may still pick a broadcast if runtime stats allow). Without
    the guard a million-query batch would blow the driver on an
    assumption that only held for interactive batch sizes.
    """
    centroids = spark.read.parquet(f"{path}/centroids")
    # staged per-side norms + NULL filter above the window (r15, see
    # brute_force_topk/ivf_topk — here the corpus-side norm runs only
    # over the PROBED partitions the scan was pruned to). qn rides the
    # persisted qv projection, paid once per query row.
    qv = queries.select(
        F.col(id_col).alias("query_id"), _as_double(vec_col).alias("qv")
    ).withColumn("qn", _norm(F.col("qv")))
    # The function runs the query-side lineage for two internal actions
    # (size estimate + probed-list collect) before the caller's final
    # action ever sees it — persist across those so a non-trivial
    # upstream query pipeline executes ONCE here, not three times
    # (ADVICE r9); unpersisted again below once the search plan is
    # built, so nothing leaks into the caller's session.
    qv = qv.persist(StorageLevel.MEMORY_AND_DISK)
    # ONE job for the size estimate (count + max dim together — two
    # separate actions would re-execute the query lineage twice more,
    # r9 review), null-safe: F.size(NULL) is -1, max() skips it, and
    # an all-NULL batch greatest(dim, 0)s to a zero-byte estimate
    # (those rows drop at the cosine isNotNull filter anyway).
    est = qv.agg(
        F.count(F.lit(1)).alias("n"),
        F.greatest(F.max(F.size("qv")), F.lit(0)).alias("dim"),
    ).first()
    n_q, dim = est["n"], est["dim"]
    # 8B per double + ~24B array/row overhead; nprobe probe rows per
    # query are ~32B each. Two independent budgets against the same
    # bound: the full query side (vectors — dim-scaled), and the
    # probe-pair set alone (two longs per row — dim-independent, fits
    # the budget for ~100x more queries).
    small_queries = n_q * (dim * 8 + 24 + nprobe * 32) <= max_broadcast_bytes
    small_probes = n_q * nprobe * 32 <= max_broadcast_bytes
    _maybe_bc = F.broadcast if small_queries else (lambda df: df)
    probe_scored = qv.crossJoin(
        F.broadcast(centroids.withColumn("ctn", _norm(F.col("centroid"))))
    ).select(
        "query_id",
        "list_id",
        (
            _dot(F.col("qv"), F.col("centroid"))
            / F.nullif(F.col("qn") * F.col("ctn"), F.lit(0.0))
        ).alias("sim"),
    )
    w = W.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("list_id"))
    probes = (
        probe_scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= nprobe)
        .select("query_id", "list_id")
    )
    if small_probes:
        # The guard just approved shipping this probe set to every
        # executor as a broadcast, so holding the same rows on the
        # driver once is free — and rebuilding `probes` as a local
        # relation removes the SECOND reference to the query lineage
        # from the returned plan (ADVICE r9: upstream re-execution),
        # leaving exactly one (the scored join against qv). This
        # covers batches whose query VECTORS outgrow the broadcast
        # budget but whose pairs don't (r10): the candidate join below
        # then still broadcasts, keeping the pruned corpus unshuffled.
        # Arrow-columnar driver copy (ADVICE r10): two longs stay ~16B
        # per row end-to-end, where collect()'s Row objects cost ~100B+
        # each and could exceed the 32B/row JVM budget severalfold near
        # the boundary.
        pairs = probes.toArrow()
        probed_lists = sorted(set(pairs.column("list_id").to_pylist()))
        probes = F.broadcast(spark.createDataFrame(pairs))
    else:
        probed_lists = [
            r["list_id"] for r in probes.select("list_id").distinct().collect()
        ]
        # no broadcast wrap here: small_queries implies small_probes
        # (the pair budget is a strict subset of the full-query budget),
        # so this branch only runs when both are large (ADVICE r10)
    vectors = spark.read.parquet(f"{path}/vectors").filter(
        F.col("list_id").isin(probed_lists)
    )
    # the probe set is |queries| x nprobe rows — broadcast applied
    # above (size permitting) so the pruned corpus partitions stream
    # through the join WITHOUT a corpus-side shuffle (at 100 TB the
    # vectors table is the one side that must never move; plan-tested)
    cand = probes.join(
        vectors.select(
            F.col(id_col).alias("neighbor_id"), "list_id", _as_double(vec_col).alias("cv")
        ).withColumn("cn", _norm(F.col("cv"))),
        "list_id",
    ).filter(F.col("neighbor_id") != F.col("query_id"))
    scored = cand.join(_maybe_bc(qv), "query_id").select(
        "query_id",
        "neighbor_id",
        F.round(
            _dot(F.col("qv"), F.col("cv"))
            / F.nullif(F.col("qn") * F.col("cn"), F.lit(0.0)),
            round_scores,
        ).alias("cosine"),
    )
    w2 = W.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    out = (
        scored.withColumn("rk", F.row_number().over(w2))
        .filter(F.col("rk") <= k)
        .filter(F.col("cosine").isNotNull())
    )
    # Both internal actions are done; drop the cache so repeated
    # searches can't accumulate memory in the caller's session. The
    # caller's final action recomputes the query lineage once — the
    # pre-fix cost was that same execution PLUS two more inside this
    # function.
    qv.unpersist(blocking=False)
    return out


# --- Recall measurement: the approximate paths' correctness claim ----------

# Per-method recall@10 floors vs exact brute force, measured on the driver
# corpus (sf0.001: lsh .56 / ivf .88 / kmeans .62 / int8 1.0 / two_stage
# 1.0; sf0.01: .66 / .92 / .52 / 1.0 / 1.0) with safety margin. The
# persisted-index path is result-equal to ivf, so it shares ivf's floor.
RECALL_FLOORS = {
    "lsh": 0.50,
    "ivf": 0.70,
    "ivf_index": 0.70,
    "ivf_kmeans": 0.45,
    "int8": 0.90,
    "two_stage": 0.95,
}


def recall_report(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    floors: dict[str, float] | None = None,
    index_path: str | None = None,
    kmeans_centroids: DataFrame | None = None,
) -> DataFrame:
    """``(method, recall_floor, meets_floor)`` for every approximate
    retrieval path, recall@k measured against exact ``brute_force_topk``
    on the same (corpus, queries). Pass ``kmeans_centroids`` (persisted
    from a prior fit) to skip retraining the trained quantizer — the
    measured path is then the same build-once lifecycle production runs.

    This turns the approximate paths' recall — otherwise only a local
    pytest claim — into a driver-checkable result: all hashing/seeding
    is deterministic per dataset, so ``meets_floor`` is stable and an
    oracle can assert the expected row set exactly.

    Scale/cost shape: every path's result is a bounded ``|Q|·k``-row
    set, so each path is COLLECTED from a Python thread pool and the
    set-vs-set recall computed driver-side — at bench SF the searches
    are stage-overhead-bound and a sequential union-of-pipelines graph
    pays the SUM of their latencies where interleaved jobs pay ~the
    max (measured 8.1 → ~3 s warm at sf0.1, values identical). Corpus
    and queries are localCheckpointed once so the paths don't each
    re-scan and re-prepare the same input. Thread completion order
    cannot affect the metrics (pure set intersection per method).
    A path returning zero overlap still reports (meets_floor=false),
    never absence.
    """
    floors = dict(RECALL_FLOORS if floors is None else floors)
    # every swept method needs a floor BEFORE any search launches — a
    # caller-supplied dict missing one otherwise dies on a bare
    # KeyError after all the expensive searches have already run
    swept = {"lsh", "ivf", "ivf_kmeans", "int8", "two_stage"} | (
        {"ivf_index"} if index_path is not None else set()
    )
    missing = sorted(swept - set(floors))
    if missing:
        raise ValueError(
            f"floors missing for swept methods: {missing} "
            f"(provide a floor per method in {sorted(swept)})"
        )
    spark = corpus.sparkSession
    corpus_c = corpus.localCheckpoint()
    queries_c = queries.localCheckpoint()
    # One shared quantized corpus for the int8-based paths — the
    # production lifecycle (quantized corpus = maintained table, like
    # the IVF index), and the r12 attribution's finding: quantization
    # is interpreted-lambda CPU (~0.72 s even at 2k rows) and two_stage
    # was the ensemble's critical path (1.73 s alone) largely because
    # it re-quantized. Materialized LAZILY inside whichever int8-family
    # thread gets there first (lock + memo), NOT upfront: an upfront
    # localCheckpoint serializes 0.7 s before every path can launch and
    # measured as a wash (2.28 vs 2.21 s), while the lazy form overlaps
    # it with the non-quantized paths (2.21 -> 1.69 s median, values
    # identical — interleaved A/B, r12). Deterministic, so audited
    # values are unchanged (pytest: prequantized == fresh, bit-equal).
    quant_lock = Lock()
    quant_box: list[DataFrame] = []

    def _quant_c() -> DataFrame:
        with quant_lock:
            if not quant_box:
                quant_box.append(
                    quantize_embeddings(corpus_c).localCheckpoint()
                )
            return quant_box[0]

    searches = {
        "truth": lambda: brute_force_topk(corpus_c, queries_c, k=k),
        "lsh": lambda: lsh_topk(corpus_c, queries_c, k=k),
        "ivf": lambda: ivf_topk(corpus_c, queries_c, k=k),
        "ivf_kmeans": lambda: ivf_topk(
            corpus_c, queries_c, k=k, quantizer="kmeans",
            centroids=kmeans_centroids,
        ),
        "int8": lambda: quantized_topk(
            corpus_c, queries_c, k=k, corpus_quantized=_quant_c()
        ),
        "two_stage": lambda: two_stage_topk(
            corpus_c, queries_c, k=k, corpus_quantized=_quant_c()
        ),
    }
    if index_path is not None:
        searches["ivf_index"] = lambda: ivf_search_index(
            spark, index_path, queries_c, k=k
        )
    else:
        floors.pop("ivf_index", None)
    assert set(searches) - {"truth"} == swept, (
        "recall_report: swept-method list drifted from the searches dict"
    )

    def _pairs(item):
        name, build = item
        return name, {
            (r.query_id, r.neighbor_id)
            for r in build().select("query_id", "neighbor_id").collect()
        }

    got = dict(map_concurrent(_pairs, searches.items()))
    truth = got.pop("truth")
    rows = []
    for m in sorted(got):
        recall = (len(got[m] & truth) / len(truth)) if truth else 0.0
        floor = float(floors[m])  # validated up front, cannot KeyError here
        rows.append((m, floor, recall >= floor))
    return spark.createDataFrame(
        rows, "method string, recall_floor double, meets_floor boolean"
    )

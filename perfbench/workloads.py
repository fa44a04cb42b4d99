"""Which registry entries each workload runs.

Membership follows a property of the entry:

- ``etl_write``: entries that write files or run a stream on every
  call (``WRITE_ENTRIES``), plus the three service handlers on a
  reference-sized medallion fixture;
- ``llm_data``: the other entries that read ``documents`` or
  ``embeddings``. The tables an entry reads are the ones its oracle SQL
  names; for an oracle that is a literal VALUES table, the ones its
  function names;
- ``relational``: everything else (TPC-H and ``events`` shapes).

A run cannot afford a whole class per pass (README.md, "Sizing"), so
each workload runs the fixed sample of its class listed in ``SAMPLE``.
"""

from __future__ import annotations

import inspect
import re

from corpus import TABLES

WORKLOADS = ("etl_write", "llm_data", "relational")

# Measured on the benchmark corpus by calling every registry entry twice
# in one session and reading the SQL status store's "number of written
# files" and the streaming listener's batches for the second call
# (README.md, "Write entries"). Entries that write only when they build
# a cached artifact (the ivf, lsh and mlquality caches) are not here;
# nor are customer_upsert and customer_scd2, which return lazy merge
# plans and write nothing.
WRITE_ENTRIES = (
    "zorder_pruning_report",
    "streaming_rollup_drain", "streaming_sessionize_drain",
    "streaming_interval_join_drain", "streaming_forward_fill_drain",
    "streaming_dedup_drain", "orc_roundtrip", "medallion_gold_sales_summary",
    "medallion_gold_incremental_refresh", "jsonl_roundtrip",
    "training_export_pipeline",
)

# The sample each workload runs, in registry order. relational: one
# entry per operator shape (grouped aggregate, grouping sets, pivot,
# global sort, set difference, window rank, event-time window, semi
# join, multi-way join, scalar subquery). llm_data: one entry per cheap
# text and vector shape, plus the cheapest entry of the ivf and lsh
# artifact families. etl_write: the cheapest entry per write mechanism
# (Z-ordered parquet rewrite, stateful stream drain, ORC and JSONL round
# trips, training export), and the medallion commit loop through the
# service handlers.
SAMPLE = {
    "relational": (
        "pricing_summary", "priority_status_grouping_sets", "revenue_pivot_by_status",
        "orders_sorted_multi", "nations_except", "top3_parts_per_brand",
        "rolling_weekly_actives", "local_supplier_volume",
        "customers_with_open_orders", "brands_above_avg_revenue",
    ),
    "llm_data": (
        "embedding_positive_dims", "doc_token_stats", "doc_quality",
        "lang_distribution", "doc_fingerprint", "lang_id_pred",
        "dedup_incremental_near_indexed", "cosine_topk_arrow",
        "ann_ivf_index_topk", "tfidf_top_terms", "doc_normalized",
        "doc_unigram_lm_score", "doc_chunks", "train_val_test_split",
    ),
    "etl_write": (
        "zorder_pruning_report", "streaming_dedup_drain", "orc_roundtrip",
        "jsonl_roundtrip", "training_export_pipeline",
    ),
}

# The untimed warm-up call that ends setup. On llm_data an entry of the
# class outside its sample (shingling and hashing of documents), so that
# the cold pass starts in a JVM that has compiled that kind of work;
# it steadied the llm_data cold pass. On etl_write a medallion warm-up
# cost 8 s a run without steadying its cold pass under host steal, and
# the fixture writes between setup and the cold pass already run the
# write path. None builds a cached artifact.
WARMUP = {
    "etl_write": "count_lineitem",
    "llm_data": "dedup_minhash",
    "relational": "count_lineitem",
}

# Sampled entries whose first call installs an artifact under
# $ETL_GCP_SPARK_CACHE_DIR (ivf index, lsh index).
ARTIFACT_ENTRIES = ("ann_ivf_index_topk", "dedup_incremental_near_indexed")

# Approximate top-k entries -> their recall@10 floor (the floors the
# repository states in operators/vector.py RECALL_FLOORS, copied so
# that the check does not move with the program). Their oracles are
# literal tables pinned on another corpus; the driver checks them with
# ``anncheck`` instead. Each searches for the vec_id < 5 queries.
ANN_TOPK = {
    "ann_lsh_topk": 0.50, "ann_ivf_topk": 0.70, "ann_ivf_index_topk": 0.70,
    "ann_ivf_kmeans_topk": 0.45, "ann_quantized_topk": 0.90,
    "ann_two_stage_topk": 0.95,
}
ANN_QUERIES = range(5)
ANN_K = 10

# Nominal length of one warm pass on a 4-core host, seconds. A run
# measures round(--seconds / nominal) warm passes, at least three: a
# count fixed by the arguments, so that every run pools the same number
# of calls.
NOMINAL_PASS_S = {"relational": 3.5, "llm_data": 6.0, "etl_write": 9.0}
MIN_MEASURED_PASSES = 3

SERVICE_CALLS = ("service.trigger_etl", "service.verify_results", "service.sample_data")

_LLM_TABLES = {"documents", "embeddings"}
_TABLE_RE = re.compile(r"\b(" + "|".join(TABLES) + r")\b")


def literal_oracle(sql: str) -> bool:
    """True for an oracle that is a literal VALUES table rather than a
    query over the corpus."""
    return sql.lstrip().upper().startswith("SELECT * FROM (VALUES")


def tables_read(fn, sql: str) -> set[str]:
    if literal_oracle(sql):
        return set(re.findall(r'"(\w+)"', inspect.getsource(fn))) & set(TABLES)
    return set(_TABLE_RE.findall(sql))


def classify(registry: dict, oracles: dict[str, str]) -> dict[str, list[str]]:
    """Every registry entry in exactly one workload class, registry order."""
    out: dict[str, list[str]] = {w: [] for w in WORKLOADS}
    for name, fn in registry.items():
        if name in WRITE_ENTRIES:
            out["etl_write"].append(name)
        elif tables_read(fn, oracles[name]) & _LLM_TABLES:
            out["llm_data"].append(name)
        else:
            out["relational"].append(name)
    return out


def measured_passes(workload: str, seconds: float) -> int:
    return max(MIN_MEASURED_PASSES, round(seconds / NOMINAL_PASS_S[workload]))


def is_drain(name: str) -> bool:
    return name.startswith("streaming_") and name.endswith("_drain")


def entries(workload: str, registry: dict, oracles: dict[str, str]) -> list[str]:
    """The workload's sample, checked against the membership rule."""
    members = classify(registry, oracles)[workload]
    stray = [n for n in SAMPLE[workload] if n not in members]
    if stray:
        raise ValueError(f"{workload}: sampled entries outside the class: {stray}")
    return [n for n in members if n in SAMPLE[workload]]

"""Regenerate etl_project_gcp_spark/_ann_pins.py after an INTENTIONAL
testdata/corpus change (the pins are corpus-keyed; a regen without a
corpus change that produces different rows is a regression, not a
stale pin — investigate before re-pinning).

Runs each pinned entry at sf0.001/sf0.01/sf0.1 twice — once at 16
shuffle partitions, once at 7 — and refuses to write unless both runs
agree (partition-count independence, the property the pins rely on),
and unless the in-memory and persisted-index IVF paths stay
result-equal (their documented equality).

    python tools/pin_ann.py
"""

from __future__ import annotations

import os
import sys

sys.path.insert(
    0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)

# entry -> Spark DDL schema for the pinned literal table (also drives
# the SQL-side casts in queries._pin_oracle)
PINNED_ENTRIES = {
    "ann_lsh_topk": "query_id long, neighbor_id long, cosine double, rk int",
    "ann_ivf_topk": "query_id long, neighbor_id long, cosine double, rk int",
    "ann_ivf_index_topk":
        "query_id long, neighbor_id long, cosine double, rk int",
    "ann_quantized_topk":
        "query_id long, neighbor_id long, cosine double, rk int",
    "ann_two_stage_topk":
        "query_id long, neighbor_id long, cosine double, rk int",
    "ann_ivf_kmeans_topk":
        "query_id long, neighbor_id long, cosine double, rk int",
    "binary_embed_topk":
        "query_id long, neighbor_id long, cosine double, rk int",
    "dedup_simhash": "a long, b long, hamming int",
    "bpe_merges": "rank int, left string, right string, merged string",
}
SFS = ("sf0.001", "sf0.01", "sf0.1")

_DOCSTRING = '''"""Pinned result tables for the deterministic-but-non-
SQL-expressible entries: the ANN top-k family, ``dedup_simhash`` and
``bpe_merges``.

Every pinned path is deterministic per corpus (seeded hyperplanes,
xxhash-seeded quantizers/signatures, stdlib PNG codec, count-desc /
pair-asc BPE tiebreak), so each entry's result table is pinned here
per SF, verified at generation time to be identical under 16- and
7-shuffle-partition runs (partition-count independence). The ANN and
simhash tables are also quality-floor-gated against exact references
by ``ann_recall_report`` / ``simhash_quality_report``; the sf0.01 BPE
table against a pure-Python reference BPE in tests/test_text_dedup.py.

The registry entries never read these pins: they return their live
result. The checkers compare it:
  - the DuckDB oracle at sf0.01 (``queries._pin_oracle`` renders the
    sf0.01 table as a VALUES literal);
  - ``tools/sweep.py`` at the other scale factors (live rows against
    the same SF's pin);
  - tier-1 at sf0.001 (tests/test_relational_queries.py, every pinned
    entry against its sf0.001 pin).

Regenerating after an intentional corpus/testdata change:
    python tools/pin_ann.py   (asserts partition independence first)
"""'''


def _collect(parts: int) -> dict:
    import tempfile

    # give EACH partition-count run its own artifact cache:
    # the kmeans centroids / persisted IVF index / binary landing are
    # disk-cached per corpus, so without this the 7-partition pass
    # would silently REUSE artifacts built at 16 partitions and the
    # a != b independence gate could never see partition dependence
    # in the training/build stages — the exact stages (distributed
    # Lloyd's float aggregation) most likely to have it (r9 review).
    os.environ["ETL_GCP_SPARK_CACHE_DIR"] = tempfile.mkdtemp(
        prefix=f"pin_ann_cache_p{parts}_"
    )
    from pyspark.sql import SparkSession

    import __spark_entry__ as E

    spark = (
        SparkSession.builder.master("local[16]")
        .config("spark.sql.shuffle.partitions", str(parts))
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    qs = E.queries()
    out = {}
    for name in PINNED_ENTRIES:
        for sf in SFS:
            df = qs[name](spark, f"/root/testdata/{sf}")
            out.setdefault(name, {})[sf] = sorted(
                map(tuple, df.collect())
            )
    spark.stop()
    return out


def main() -> None:
    a = _collect(16)
    b = _collect(7)
    if a != b:
        bad = [n for n in a if a[n] != b[n]]
        raise SystemExit(
            f"partition-count DEPENDENT results in {bad} — these "
            "cannot be pinned; find the nondeterminism first"
        )
    if a["ann_ivf_topk"] != a["ann_ivf_index_topk"]:
        raise SystemExit(
            "in-memory IVF and persisted-index IVF disagree — the "
            "documented result-equality broke; fix before pinning"
        )
    lines = [_DOCSTRING, "", "# fmt: off", "PINNED = {"]
    for name in sorted(a):
        lines.append(f'    "{name}": {{')
        lines.append(f'        "schema": "{PINNED_ENTRIES[name]}",')
        lines.append('        "pins": {')
        for sf in SFS:
            lines.append(f'            "{sf}": [')
            for row in a[name][sf]:
                body = ", ".join(repr(v) for v in row)
                lines.append(f"                ({body}),")
            lines.append("            ],")
        lines.append("        },")
        lines.append("    },")
    lines += ["}", "# fmt: on", ""]
    path = os.path.join(
        os.path.dirname(__file__),
        "..",
        "etl_project_gcp_spark",
        "_ann_pins.py",
    )
    with open(path, "w") as f:
        f.write("\n".join(lines))
    n = sum(len(v) for d in a.values() for v in d.values())
    print(f"wrote {path}: {n} pinned rows across {len(a)} entries")


if __name__ == "__main__":
    main()

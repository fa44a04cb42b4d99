"""Benchmark harness: times EVERY registry query at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Protocol (round-5 fix for single-shot timing noise): per query, one
cold run then WARM_RUNS immediate re-runs; "queries" records the cold
time, "queries_warm" the MEDIAN of the warm re-runs. Single-shot warm
numbers manufactured a phantom 2x regression in round 4
(shipping_priority_top10: one 3.08s sample vs 1.07-1.40s on re-measure)
— medians make cross-round comparisons meaningful. Each run is forced
to full materialization via the noop sink (count() alone can let
Catalyst skip projected columns). One warmup of the smallest query
amortizes session/JIT startup out of the numbers.

Output: ONE JSON line (driver contract) holding cold + median-warm for
every entry, per-query dicts first and the scalar summary last — the
recorded BENCH_r*.json artifacts keep only a 2000-char stdout tail
(rounds 2-4 all show parsed=null because the old line outgrew it), so
the ordering keeps totals/protocol inside the captured window. The
same payload is also written in full to BENCH_FULL.json next to this
file and committed per round.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from etl_project_gcp_spark import queries as Q  # noqa: E402
from etl_project_gcp_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
WARM_RUNS = int(os.environ.get("SPARK_GRAFT_BENCH_WARM_RUNS", "3"))

# The 35-query headline set every round-1..4 bench timed (BENCH_r01-r04).
# The full-registry totals above are NOT comparable to those rounds'
# "value" (3.5x more entries); value_headline35 re-reports the same
# subset so cross-round ratios stay apples-to-apples.
HEADLINE_35 = (
    "pricing_summary", "silver_lineitem", "sales_analytics",
    "shipping_priority_top10", "local_supplier_volume", "product_metrics",
    "sales_summary", "priority_rollup", "region_summary",
    "top5_parts_by_revenue", "top3_parts_per_brand",
    "customer_running_total", "hourly_event_counts",
    "sliding_event_counts", "event_sessions", "purchase_last_click",
    "errors_recent_clicks", "event_props_by_type", "dedup_exact",
    "doc_token_stats", "doc_quality", "word_counts_top20",
    "doc_fingerprint", "doc_normalized", "doc_redacted", "dedup_minhash",
    "dedup_simhash", "cosine_topk", "cosine_topk_arrow", "ann_ivf_topk",
    "binary_meta", "embedding_dedup_clusters", "tfidf_top_terms",
    "token_budget_packing", "medallion_pipeline",
)


# Fixed-workload container-speed pins (r8 verdict ask #6; re-pinned and
# re-derived r12 per the r11 verdict ask #4). These three entries cover
# the three cost shapes (scan+count overhead, CPU-bound wide aggregate,
# tokenize-heavy text scan). Pinned values = per-entry MEDIAN warm
# seconds across THREE post-_t-memoization idle full-bench sittings
# (the original r12 full-sweep method). Two supersessions inside r12:
# the mid-round pins (0.199/1.536/0.275) embedded ~100 ms/table/run of
# parquet footer re-resolution that the _t memo removed
# (count_lineitem's pin was mostly that tax); a first post-memo
# re-pin from fresh-process tools/pin_sittings.py sittings
# (0.116/1.190/0.261) then proved to carry a PROTOCOL bias — with the
# footer tax gone, the pins' residual wall is JVM-warmup-sensitive,
# and a fresh 6-run process reads count_lineitem ~1.7x over its
# deep-warm in-bench value (0.116 vs 0.069) where the pre-memo tax
# had masked the difference. Pins are compared against IN-BENCH warm
# values, so they are derived from in-bench sittings. Per-sitting
# spreads under these pins: 1.00/1.03/1.52. Pins are sf0.1-only; at
# any other SF the normalizer block is omitted entirely.
NORMALIZER_PINS_SF01 = {
    "count_lineitem": 0.069,
    "pricing_summary": 1.247,
    "doc_token_stats": 0.203,
}

# What the r12 re-derivation measured (NOTES r12): under the refreshed
# pins, the max/min per-pin ratio spread across EIGHT known-good idle
# sittings (3 full sweeps + 5 standalone loadavg-gated pin sittings,
# r11+r12) ranged 1.23-1.87, median ~1.45 — and the two sittings
# previously called pathological (r10's 1.06/1.08/1.41, r11's
# spread-1.59 driver sitting) land INSIDE that range once re-based.
# IO-shape and CPU-shape speeds genuinely decouple with page-cache
# state, so no single container-speed scalar exists sitting-to-sitting
# and dividing totals by a pooled ratio manufactures precision. The
# bench therefore no longer emits *_normalized fields AT ALL (this
# supersedes the r11 alarm, which gated them on a 1.25 spread bound —
# a bound the idle distribution straddles). What remains is evidence:
# the three per-shape ratios, their spread, a descriptive median
# ratio, and (since r12) loadavg + timestamps in every payload.
# Cross-round comparison rests on raw medians from idle sittings plus
# the tools/noise_recheck.py protocol for any suspected drift.
#
# The decoupled flag fires only past every known-good idle sitting —
# meaning the sitting's pins disagree more than ANY sitting the
# post-memoization population ever measured, not merely "more than
# we'd like". Range provenance (re-derived r13 per the r12 verdict ask
# #2 and ADVICE #5): THIRTEEN post-memoization in-bench idle sittings
# across TWO days — r12's eight (1.00 / 1.03 / 1.52 / 1.28 / 1.37 /
# 1.58 / 1.15 / 1.02, same-day) plus r13's five on the shipped tree
# (1.194 / 1.115 / 1.108 / 1.259 / 1.208; NOTES r13 lists each
# sitting's totals + loadavg). This retires the pre-memo (1.23, 1.87)
# range whose sittings ran pre-memoization code under different pins
# and could not be re-based. The decoupled bound sits at the observed
# n=13 multi-day max (1.58) plus tail margin — at n=13 the
# distribution tail is not resolved, and the r12 same-day accrual
# already showed 1.5+ spreads on normal sittings (page-cache state
# decoupling the scan/text pins from the CPU pin), so the bound
# tightens 1.9 -> 1.75 rather than snapping to the max.
PIN_SPREAD_IDLE_RANGE = (1.00, 1.58)  # n=13 idle sittings, 2 days, NOTES r13
PIN_SPREAD_DECOUPLED = 1.75
# r14 accrual: ten more gated idle sittings on a third day (spreads
# 1.046-1.369, NOTES r14) all land INSIDE the range — n=23 total,
# constants re-affirmed, not re-derived. The bound also earned its
# second in-vivo true-positive (spread 2.30 on a 9x-steal sitting)
# with still zero false firings across 19 quiet post-derivation
# sittings.


def _cpu_jiffies() -> dict | None:
    """Host-wide cumulative CPU jiffies from /proc/stat, or None off
    Linux. Captured at sitting start/end so the payload carries the
    sitting's own CPU-time breakdown — in particular STEAL, the
    hypervisor term that explains a box running uniformly slow on all
    three pins at loadavg ~0 (three r13 sittings did exactly that; a
    pooled loadavg cannot see a noisy VM neighbor)."""
    try:
        vals = open("/proc/stat").readline().split()[1:]
    except OSError:
        return None
    names = ("user", "nice", "system", "idle", "iowait", "irq",
             "softirq", "steal", "guest", "guest_nice")
    return {n: int(v) for n, v in zip(names, vals)}


def _cpu_pct_delta(start: dict | None, end: dict | None) -> dict | None:
    """Per-category percent of the sitting's elapsed host CPU time.

    guest/guest_nice are EXCLUDED from both the delta and the
    denominator (ADVICE r13): per proc(5), Linux already folds guest
    time into user/nice, so counting the guest columns too would
    double-count it on a host running VMs."""
    if not start or not end:
        return None
    delta = {
        n: end[n] - start[n]
        for n in end
        if n in start and n not in ("guest", "guest_nice")
    }
    tot = sum(delta.values())
    if tot <= 0:
        return None
    return {n: round(100.0 * v / tot, 2) for n, v in delta.items() if v}


def _fs_meta_probe(n_files: int = 120) -> dict | None:
    """Filesystem-METADATA latency pin: times the commit protocol's
    primitive ops (create, rename, list, unlink — what
    FileOutputCommitter v1 does per task/partition dir) over n_files
    1 KiB files in a fresh tempdir, plus one fsync'd 1 MiB write as a
    journal-latency probe. Returns milliseconds per phase, or None
    when the probe can't run (read-only /tmp, ENOSPC).

    Why (NOTES r14, day-3 dataset): partitioned-write entries
    (medallion gold +30%) and stateful drains (+30-45%) stayed
    elevated on sittings whose three CPU pins read PAR — an
    FS-metadata/state-store latency axis the CPU pins cannot carry,
    consistent with the same-day span-probe variance (part_write
    15→29 s run-to-run at D=870 leaf dirs, ~2,500 metadata ops). The
    steal instrument (r13) made every payload carry the hypervisor
    axis; this pin does the same for the filesystem axis, so a
    slow-FS sitting self-documents instead of reading as a tree
    regression on the write/drain families. Captured at sitting start
    AND end (like the CPU jiffies) — the axis drifts within a day.
    Cost: ~5 × n_files syscalls + one 1 MiB fsync, ≪ 1 s."""
    import shutil
    import tempfile

    try:
        root = tempfile.mkdtemp(prefix="bench_fsmeta_")
    except OSError:
        return None
    try:
        payload = b"x" * 1024
        t0 = time.perf_counter()
        for i in range(n_files):
            with open(os.path.join(root, "f%03d" % i), "wb") as f:
                f.write(payload)
        t_create = time.perf_counter()
        for i in range(n_files):
            os.rename(
                os.path.join(root, "f%03d" % i),
                os.path.join(root, "g%03d" % i),
            )
        t_rename = time.perf_counter()
        # Explicit close (ADVICE r15): exhaustion closes the scandir
        # handle too, but the context manager also covers the early
        # exits below without relying on GC.
        with os.scandir(root) as it:
            n_seen = sum(1 for _ in it)
        t_list = time.perf_counter()
        # Probe integrity, checked as soon as the count exists
        # (ADVICE r15): a stray file dooms the probe, so bail before
        # paying the unlink loop and the 1 MiB fsync for nothing.
        if n_seen != n_files:
            return None
        for i in range(n_files):
            os.unlink(os.path.join(root, "g%03d" % i))
        t_unlink = time.perf_counter()
        with open(os.path.join(root, "sync.bin"), "wb") as f:
            f.write(b"x" * (1 << 20))
            f.flush()
            os.fsync(f.fileno())
        t_fsync = time.perf_counter()
        return {
            "n_files": n_files,
            "create_ms": round(1000 * (t_create - t0), 2),
            "rename_ms": round(1000 * (t_rename - t_create), 2),
            "list_ms": round(1000 * (t_list - t_rename), 2),
            "unlink_ms": round(1000 * (t_unlink - t_list), 2),
            "fsync_1mib_ms": round(1000 * (t_fsync - t_unlink), 2),
            "meta_total_ms": round(1000 * (t_unlink - t0), 2),
        }
    except OSError:
        return None
    finally:
        shutil.rmtree(root, ignore_errors=True)


def compute_normalizer(warm: dict, sf_val) -> dict | None:
    """Container-speed EVIDENCE block from the three pinned entries.

    Returns None when the pins don't apply (wrong SF or entries
    missing). Otherwise returns: per-pin ratios vs the pinned medians
    (three per-shape speed indicators — scan / CPU / text), their
    max/min spread with the measured idle range for context, a
    descriptive median ratio, and `decoupled` — True when the spread
    exceeds every idle sitting ever measured. Nothing here is a
    divisor: *_normalized fields were removed in r12 (see the module
    comment above) because the idle spread distribution showed a
    pooled ratio measures page-cache state, not container speed."""
    if sf_val != 0.1 or not all(n in warm for n in NORMALIZER_PINS_SF01):
        return None
    per_pin = {
        n: round(warm[n] / NORMALIZER_PINS_SF01[n], 4)
        for n in NORMALIZER_PINS_SF01
    }
    lo, hi = min(per_pin.values()), max(per_pin.values())
    spread = (hi / lo) if lo > 0 else float("inf")
    return {
        "entries": sorted(NORMALIZER_PINS_SF01),
        "pinned_warm_sec": NORMALIZER_PINS_SF01,
        "pin_provenance": (
            "median IN-BENCH warm sec across 3 idle full-bench "
            "sittings on the post-_t-memoization r12 tree (fresh-"
            "process pin_sittings values rejected: JVM-warmup bias, "
            "see module comment)"
        ),
        "warm_sec": {n: warm[n] for n in NORMALIZER_PINS_SF01},
        "per_pin_ratios": per_pin,
        "pin_spread": round(spread, 4) if spread != float("inf") else None,
        "idle_spread_range": list(PIN_SPREAD_IDLE_RANGE),
        "ratio_median": round(sorted(per_pin.values())[1], 4),
        "decoupled": not spread <= PIN_SPREAD_DECOUPLED,
    }


def compact_normalizer_fields(normalizer: dict | None) -> dict:
    """Pin-evidence fields for the ONE-line stdout payload. No field
    named ``normalizer_ratio`` ships under any condition (ADVICE r11's
    misuse concern, now moot a fortiori: *_normalized fields are gone
    and the only pooled figure is the explicitly-descriptive
    ``normalizer_ratio_median``). Full evidence always lives in
    BENCH_FULL.json's normalizer block."""
    if normalizer is None:
        return {}
    fields = {
        "normalizer_per_pin_ratios": normalizer["per_pin_ratios"],
        "normalizer_pin_spread": normalizer["pin_spread"],
        "normalizer_ratio_median": normalizer["ratio_median"],
    }
    if normalizer["decoupled"]:
        fields["normalizer_decoupled"] = True
    return fields


def materialize(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def time_query(fn, spark) -> tuple[float, float]:
    """One cold run + WARM_RUNS re-runs; returns (cold, median-warm).
    The DataFrame is rebuilt per run so each timing covers the full
    plan+execute path (analysis cache aside — same as the driver)."""
    t0 = time.time()
    materialize(fn(spark, SF_DIR))
    cold = time.time() - t0
    warms = []
    for _ in range(WARM_RUNS):
        t0 = time.time()
        materialize(fn(spark, SF_DIR))
        warms.append(time.time() - t0)
    return round(cold, 3), round(statistics.median(warms), 3)


def time_medallion(spark) -> tuple[float, float]:
    """End-to-end bronze→silver→gold at the reference's own data scale
    (2 500 employees / 150 products / 5 000 sales — data_generator.py:19-21).
    Fixture generation is excluded from the timed span; the pipeline's
    9 statements (3 loads + 3 silver + 3 gold writes) are timed, cold
    plus median of WARM_RUNS full re-runs (every run rewrites all
    layers — the pipeline is overwrite-idempotent)."""
    import shutil
    import tempfile

    from etl_project_gcp_spark import datagen
    from etl_project_gcp_spark.plans.medallion import MedallionPipeline

    root = tempfile.mkdtemp(prefix="bench_medallion_")
    try:
        sources = datagen.write_fixture_csvs(
            spark, f"{root}/landing", n_employees=2500, n_products=150, n_sales=5000
        )
        pipe = MedallionPipeline(spark, f"{root}/warehouse")
        runs = []
        for _ in range(1 + WARM_RUNS):
            t0 = time.time()
            result = pipe.run_etl(sources)
            runs.append(time.time() - t0)
            if not result.get("success"):
                raise RuntimeError(f"medallion pipeline failed: {result}")
        return round(runs[0], 3), round(statistics.median(runs[1:]), 3)
    finally:
        shutil.rmtree(root, ignore_errors=True)


def main() -> None:
    # Sitting metadata (r11 verdict ask #4): inter-sitting pin drift
    # (~15% on an idle box, NOTES r11 addendum) made the idle-sitting
    # check a PROCEDURAL discipline — record loadavg + wall timestamps
    # in the payload so every recorded sitting carries the evidence to
    # judge its own noise floor, instead of relying on the operator
    # having checked.
    sitting = {
        "loadavg_start": [round(x, 2) for x in os.getloadavg()],
        "started_unix": round(time.time(), 1),
        "cpu_jiffies_start": _cpu_jiffies(),
        "fs_meta_start": _fs_meta_probe(),
    }
    spark = get_spark(app_name="etl_project_gcp_spark-bench")
    registry = Q.queries()
    materialize(registry["count_lineitem"](spark, SF_DIR))  # warmup

    timings: dict[str, float] = {}
    warm: dict[str, float] = {}
    for name, fn in registry.items():
        timings[name], warm[name] = time_query(fn, spark)
    timings["medallion_pipeline"], warm["medallion_pipeline"] = time_medallion(
        spark
    )

    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf
    protocol = (
        "1 cold + median of %d warm re-runs per query, noop-sink "
        "materialized, all %d registry entries + medallion; "
        "value_headline35 = the r1-r4 35-query subset for cross-round "
        "comparison"
    ) % (WARM_RUNS, len(registry))
    head35 = round(sum(timings[n] for n in HEADLINE_35 if n in timings), 3)
    head35_warm = round(sum(warm[n] for n in HEADLINE_35 if n in warm), 3)
    sitting["loadavg_end"] = [round(x, 2) for x in os.getloadavg()]
    sitting["finished_unix"] = round(time.time(), 1)
    sitting["cpu_pct"] = _cpu_pct_delta(
        sitting.pop("cpu_jiffies_start"), _cpu_jiffies()
    )
    sitting["fs_meta_end"] = _fs_meta_probe()
    normalizer = compute_normalizer(warm, sf_val)
    full = {
        "metric": "full-registry query wall time, local[%s]"
        % os.environ.get("SPARK_GRAFT_CPUS", "32"),
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "queries_warm": warm,
        "value_warm": round(sum(warm.values()), 3),
        "value_headline35": head35,
        "value_headline35_warm": head35_warm,
        "sf": sf_val,
        "bench_protocol": protocol,
        "sitting": sitting,
    }
    if normalizer is not None:
        # evidence only — never a divisor (r12 re-derivation; see the
        # PIN_SPREAD comment block above)
        full["normalizer"] = normalizer
    full_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_FULL.json"
    )
    with open(full_path, "w") as f:
        json.dump(full, f, indent=1, sort_keys=True)
    # ONE JSON line (driver contract), with the per-query dicts FIRST
    # and the scalar summary LAST: the recorder keeps only a 2000-char
    # stdout tail, so ordering puts totals/protocol inside the captured
    # window even though 122 entries can't fit in it (full detail:
    # BENCH_FULL.json).
    line = json.dumps(
        {
            "queries": timings,
            "queries_warm": warm,
            "metric": full["metric"],
            "value": full["value"],
            "unit": "sec",
            "value_warm": full["value_warm"],
            "value_headline35": head35,
            "value_headline35_warm": head35_warm,
            "n_queries": len(timings),
            "sf": sf_val,
            "bench_protocol": protocol,
            "queries_full": "BENCH_FULL.json",
            "loadavg": {
                "start_1m": sitting["loadavg_start"][0],
                "end_1m": sitting["loadavg_end"][0],
            },
            **compact_normalizer_fields(normalizer),
        }
    )
    # Tail-capture insurance (r15 verdict ask #2): rounds 11-14 all lost
    # their per-query history because the recorder's 2000-char stdout
    # tail truncated the HEAD of this line (BENCH_r11..r14 parsed:null).
    # The stdout contract is unchanged — same single line, same fields —
    # but the identical line is ALSO written to BENCH_LINE.json next to
    # this file, so a future comparison can always recover the full
    # payload even if stdout capture truncates again. Untimed: written
    # after every measurement completes.
    line_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_LINE.json"
    )
    with open(line_path, "w") as f:
        f.write(line + "\n")
    print(line)


if __name__ == "__main__":
    main()

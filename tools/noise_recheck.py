"""Bench noise-band attribution (r9 verdict ask #4; generalized r12).

Cross-sitting bench drifts (1.2-1.9x raw on multi-second entries) keep
appearing on entries nobody touched, on containers whose fixed-workload
pins themselves ran 1.2-1.4x slow. This probe re-measures named entries
under controlled conditions so each drift is attributed to
page-cache/container noise or to a named regression:

- refuses to run unless 1-min loadavg is below --max-load (an idle
  container is the point; records loadavg before and after);
- one untimed warm pass per entry (page cache + code paths), then
  median of --runs noop-materialized runs (bench.py protocol);
- times the three normalizer pins in the same sitting and reports each
  outlier BOTH raw vs the reference sitting's BENCH_FULL warm medians
  (git rev via --ref-rev) and normalized by this sitting's container
  ratio vs that reference.

History: r9 rechecked the three r8→r9 IO-heavy drifters (the original
hardcoded list, now the --entries default); r12 rechecked the two r11
1.2x drifters (medallion_gold_sales_summary,
streaming_interval_join_drain) against the r10 and r11 driver sittings.

Caveat (r12 pin re-derivation, NOTES r12): IO-shape and CPU-shape pin
speeds decouple by up to ~1.9x between idle sittings, so the pooled
median-pin ratio used for the "normalized" column is a coarse
instrument and the 1.25 verdict bound carries that slack. Treat the
verdict as advisory; the raw medians from THIS idle sitting are the
primary evidence (a drift that survives an idle re-measure raw is
real regardless of the ratio).

Usage: python tools/noise_recheck.py [--runs 5] [--max-load 4]
         [--entries a,b,c] [--ref-rev <rev>] [--ref-label r8]
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

OUTLIERS = ("orc_roundtrip", "orders_column_profile", "silver_lineitem")
PINS = ("count_lineitem", "pricing_summary", "doc_token_stats")
SF_DIR = "/root/testdata/sf0.1"


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=5)
    ap.add_argument("--max-load", type=float, default=4.0)
    ap.add_argument("--ref-rev", default="3a6e581",
                    help="git rev whose BENCH_FULL.json is the reference "
                         "sitting (default: the r8 pin sitting)")
    ap.add_argument("--ref-label", default=None,
                    help="label for the reference column (default: rev)")
    ap.add_argument("--entries", default=",".join(OUTLIERS),
                    help="comma-separated registry entries to re-measure")
    args = ap.parse_args()
    entries = tuple(n for n in args.entries.split(",") if n)
    label = args.ref_label or args.ref_rev

    load0 = os.getloadavg()[0]
    if load0 > args.max_load:
        print(f"container not idle (loadavg {load0:.1f} > {args.max_load}) "
              "— rerun when quiet; this probe exists to EXCLUDE load noise")
        return 1

    from etl_project_gcp_spark import queries as Q
    from etl_project_gcp_spark.session import get_spark

    spark = get_spark(app_name="noise-recheck")
    spark.sparkContext.setLogLevel("ERROR")
    registry = Q.queries()

    def run_once(name: str) -> float:
        t0 = time.time()
        registry[name](spark, SF_DIR).write.format("noop").mode(
            "overwrite"
        ).save()
        return time.time() - t0

    med = {}
    for name in PINS + entries:
        run_once(name)  # untimed warm pass
        med[name] = round(
            statistics.median(run_once(name) for _ in range(args.runs)), 3
        )
        print(f"{name}: {med[name]}s (median of {args.runs})", flush=True)

    ref = json.loads(subprocess.run(
        ["git", "-C", REPO, "show", f"{args.ref_rev}:BENCH_FULL.json"],
        capture_output=True, text=True, check=True,
    ).stdout)
    ratio_ref = statistics.median(
        med[p] / ref["queries_warm"][p] for p in PINS
    )
    print(f"\nloadavg start/end: {load0:.2f} / {os.getloadavg()[0]:.2f}")
    print(f"container ratio this sitting vs {label}: {ratio_ref:.3f}\n")
    print(f"| entry | {label} warm (s) | idle now (s) "
          f"| now/{label} normalized | verdict |")
    print("|---|---|---|---|---|")
    for n in entries:
        a, c = ref["queries_warm"][n], med[n]
        norm = c / ratio_ref / a
        verdict = "noise" if norm <= 1.25 else "INVESTIGATE"
        print(f"| {n} | {a} | {c} | {norm:.2f}x | {verdict} |")
    return 0


if __name__ == "__main__":
    sys.exit(main())

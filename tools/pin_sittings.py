"""Normalizer-pin sitting recorder (r11 verdict ask #4).

The bench normalizer pins dated from one r8 sitting, and the r11
addendum measured ~15% inter-sitting pin drift on an idle box — so the
pins themselves carry one sitting's page-cache luck. This tool records
ONE sitting: a fresh process, loadavg-gated, that times the three pin
entries at sf0.1 (one untimed warm pass, then median of --runs
noop-materialized runs — the bench warm protocol) and prints one JSON
line. Run it >= 3 times on an idle container, then re-pin
bench.NORMALIZER_PINS_SF01 from the per-pin MEDIANS across sittings.

Usage: python tools/pin_sittings.py [--runs 5] [--max-load 4]

CAVEAT (r12, post-_t-memoization): this tool's fresh-process protocol
over-reads JVM-warmup-sensitive pins relative to the deep-warm
in-bench state the pins are actually compared against — with the
~100 ms/table footer-resolution tax memoized away, count_lineitem
read ~1.7x its in-bench value here (0.116 vs 0.069). Pins are
therefore derived from IN-BENCH medians across full-bench sittings
(bench.py module comment); this tool remains useful as a quick
relative box-speed probe, not as a pin source.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

PINS = ("count_lineitem", "pricing_summary", "doc_token_stats")
SF_DIR = "/root/testdata/sf0.1"


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=5)
    ap.add_argument("--max-load", type=float, default=4.0)
    args = ap.parse_args()

    load0 = os.getloadavg()[0]
    if load0 > args.max_load:
        print(f"container not idle (loadavg {load0:.1f} > {args.max_load})")
        return 1

    from etl_project_gcp_spark import queries as Q
    from etl_project_gcp_spark.session import get_spark

    spark = get_spark(app_name="pin-sitting")
    spark.sparkContext.setLogLevel("ERROR")
    registry = Q.queries()

    def run_once(name: str) -> float:
        t0 = time.time()
        registry[name](spark, SF_DIR).write.format("noop").mode(
            "overwrite"
        ).save()
        return time.time() - t0

    med = {}
    for name in PINS:
        run_once(name)  # untimed warm pass
        med[name] = round(
            statistics.median(run_once(name) for _ in range(args.runs)), 4
        )
    print("PIN_SITTING " + json.dumps({
        "pins": med,
        "runs": args.runs,
        "loadavg_start": round(load0, 2),
        "loadavg_end": round(os.getloadavg()[0], 2),
        "unix": round(time.time(), 1),
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())

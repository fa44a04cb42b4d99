"""Full-registry oracle sweep mirroring the driver's verify pass.

Imports ``__spark_entry__`` the way the driver does (spec_from_file_location,
neutral cwd), builds a plain SparkSession, then runs every ``queries()``
entry at sf0.01 against its ``oracle_sql()`` twin via tests/oracle.compare.
Entries without an oracle get a rows-only smoke check (``count()`` +
``toPandas()`` to prove the result is hashable scalar data).

Usage: python tools/sweep.py [--first N] [--names a,b,c] [--sf-dir DIR]
"""

from __future__ import annotations

import argparse
import atexit
import importlib.util
import json
import os
import shutil
import sys
import tempfile
import time
import traceback

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "tests"))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--first", type=int, default=None)
    ap.add_argument("--names", type=str, default=None)
    ap.add_argument("--sf-dir", type=str, default="/root/testdata/sf0.01")
    ap.add_argument("--out", type=str, default=None)
    # degenerate-partitioning re-proof: every oracle must hold at ANY
    # shuffle partition count (partition-order independence)
    ap.add_argument("--shuffle-partitions", type=int, default=None)
    args = ap.parse_args()

    if not os.environ.get("ETL_GCP_SPARK_CACHE_DIR"):
        # Artifact entries build into a fresh directory, never into the
        # user's cache (~/.cache/etl_gcp_spark): every sweep exercises
        # the build path at the scale factor it checks, and leaves the
        # user's cache as it found it. A caller-set directory is kept.
        cache = tempfile.mkdtemp(prefix="sweep_artifacts_")
        atexit.register(shutil.rmtree, cache, ignore_errors=True)
        os.environ["ETL_GCP_SPARK_CACHE_DIR"] = cache

    spec = importlib.util.spec_from_file_location(
        "spark_entry_under_sweep", os.path.join(REPO, "__spark_entry__.py")
    )
    entry_mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(entry_mod)

    import oracle  # tests/oracle.py
    from pyspark.sql import SparkSession

    builder = (
        SparkSession.builder.master(f"local[{os.environ.get('SPARK_GRAFT_CPUS', '8')}]")
        .appName("sweep")
    )
    if args.shuffle_partitions:
        builder = builder.config(
            "spark.sql.shuffle.partitions", str(args.shuffle_partitions)
        )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    names = list(qs)
    if args.names:
        names = [n for n in args.names.split(",") if n in qs]
    if args.first:
        names = names[: args.first]

    # The pinned-VALUES oracle family (_ann_pins.PINNED) renders its
    # DuckDB oracle from the sf0.01 pins ONLY — comparing a non-sf0.01
    # live result against it is apples-to-oranges by construction.
    # Those entries carry per-SF pins, so at other pinned SFs the sweep
    # compares the live rows against the SAME SF's pinned table.
    from etl_project_gcp_spark._ann_pins import PINNED

    sf_name = args.sf_dir.rstrip("/").rsplit("/", 1)[-1]

    results: dict[str, dict] = {}
    n_pass = n_fail = 0
    for i, name in enumerate(names):
        t0 = time.time()
        pin_spec = PINNED.get(name)
        try:
            df = qs[name](spark, args.sf_dir)
            if (
                sf_name != "sf0.01"
                and pin_spec is not None
                and pin_spec["pins"].get(sf_name) is not None
            ):
                rows = sorted(map(tuple, df.collect()))
                pinned = pin_spec["pins"][sf_name]
                assert rows == pinned, (
                    f"live diverged from PINNED[{sf_name}]: "
                    f"{len(rows)} rows vs {len(pinned)} pinned"
                )
                status = f"pass (pinned@{sf_name})"
            elif sf_name != "sf0.01" and name == "simhash_quality_report":
                # live per-SF metrics with per-SF floors; the VALUES
                # oracle embeds the sf0.01 numbers only. The check at
                # other SFs is the entry's own floor verdicts.
                rows = df.collect()
                assert rows and all(r["meets_floor"] for r in rows), (
                    f"quality floor failed at {sf_name}: {rows}"
                )
                status = f"pass (floors@{sf_name})"
            elif name in oracles:
                oracle.compare(df, oracles[name], args.sf_dir)
                status = "pass"
            else:
                pdf = df.toPandas()
                # the driver's rows-only hash dies on unhashable cells
                for col in pdf.columns:
                    pdf[col].map(hash)
                status = f"rows_only_pass({len(pdf)})"
            n_pass += 1
        except Exception as exc:  # noqa: BLE001 — report and continue
            status = f"FAIL: {exc}"
            traceback.print_exc()
            n_fail += 1
        dt = time.time() - t0
        results[name] = {"status": status, "sec": round(dt, 2)}
        print(f"[{i + 1}/{len(names)}] {name}: {status} ({dt:.1f}s)", flush=True)

    print(f"\n{n_pass} pass, {n_fail} fail, total {sum(r['sec'] for r in results.values()):.0f}s")
    if args.out:
        with open(args.out, "w") as f:
            json.dump(results, f, indent=1)
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())

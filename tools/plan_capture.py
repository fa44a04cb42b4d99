"""Dump .explain("formatted") for every registry entry to a directory.

Usage: python tools/plan_capture.py <out_dir> [suffix] [name ...]

Writes <out_dir>/<name>_<suffix>.txt (suffix default "before") for each
requested entry (default: all). Entries whose construction *executes*
work (streaming drains, medallion builds) still capture the plan of the
returned DataFrame — for those, the construction-side cost is measured
by ``perfbench --trace 1``, not by this dump.
"""

from __future__ import annotations

import io
import os
import sys
import time
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from etl_project_gcp_spark import queries as Q  # noqa: E402
from etl_project_gcp_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> None:
    out_dir = sys.argv[1]
    suffix = sys.argv[2] if len(sys.argv) > 2 else "before"
    only = set(sys.argv[3:])
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark(app_name="plan_capture")
    registry = Q.queries()
    for name, fn in registry.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            df = fn(spark, SF_DIR)
            buf = io.StringIO()
            with redirect_stdout(buf):
                df.explain(mode="formatted")
            plan = buf.getvalue()
        except Exception as e:  # capture the failure instead of dying
            plan = f"PLAN CAPTURE FAILED: {e!r}"
        with open(os.path.join(out_dir, f"{name}_{suffix}.txt"), "w") as f:
            f.write(plan)
        print(f"{name}: {time.time() - t0:.1f}s", flush=True)


if __name__ == "__main__":
    main()

"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload relational --seed 1 --seconds 10 --trace 0

From the root of a checkout. Generates the fixed benchmark corpus
(``corpus.SEED``), derives every expected output digest from the DuckDB
oracles, runs the
workload in a fresh driver process (``driver.py``) under its own run
root (``.perfbench_runs/``, removed at exit), checks that nothing landed
in the checkout, and prints a human-readable report followed by one
JSON line: ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are the end-to-end ones, with ``--trace 1``
the per-layer ones of the traced run. See README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
CHECKOUT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import corpus  # noqa: E402
import workloads as W  # noqa: E402

RUNS_DIR = ".perfbench_runs"
DEADLINE_S = 170.0
# Paths of the checkout the run itself may create or change.
OWN_PATHS = (RUNS_DIR, ".bench_build", ".git")

END_TO_END = (
    ("setup_s", "s"), ("cold_pass_s", "s"), ("warm_pass_s", "s"),
    ("call_p50_s", "s"), ("call_tail_s", "s"),
)


def layer_units(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("_bytes") or name == "artifacts.bytes":
        return "bytes"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith(("_frac", "_share", "_ratio")):
        return "ratio"
    return "count"


def snapshot(root: str, skip=()) -> dict[str, tuple[int, int]]:
    """relative path -> (size, mtime ns) of every file under root."""
    out = {}
    for dirpath, dirs, files in os.walk(root):
        if dirpath == root:
            dirs[:] = [d for d in dirs if d not in skip]
        for fn in files:
            full = os.path.join(dirpath, fn)
            try:
                st = os.stat(full)
            except OSError:
                continue
            out[os.path.relpath(full, root)] = (st.st_size, st.st_mtime_ns)
    return out


def cpu_jiffies() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def cpu_pct_delta(start: list[int], end: list[int]) -> dict[str, float]:
    """Share of host CPU time per category between two /proc/stat
    reads (guest time is already inside user/nice)."""
    names = ("user", "nice", "system", "idle", "iowait", "irq", "softirq", "steal")
    delta = [e - s for s, e in zip(start, end)]
    total = sum(delta) or 1
    return {n: round(100.0 * d / total, 2) for n, d in zip(names, delta)}


def git_sha() -> str:
    try:
        return subprocess.run(
            ["git", "-C", CHECKOUT, "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10,
        ).stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def oracle_digests(names: list[str], oracles: dict[str, str], corpus_dir: str) -> dict:
    """Expected (rows, digest) per entry from its DuckDB oracle over the
    corpus; None for the ANN top-k entries, whose literal oracle
    describes another corpus (the driver checks those with
    ``anncheck``)."""
    import digest as D  # reads tests/oracle.py from the checkout

    return {
        n: None if n in W.ANN_TOPK
        else D.digest_pandas(D.oracle.duckdb_run(oracles[n], corpus_dir))
        for n in names
    }


def group_alive(pgid: int) -> bool:
    try:
        os.killpg(pgid, 0)
        return True
    except ProcessLookupError:
        return False


def stop_group(proc: subprocess.Popen) -> None:
    """Kill whatever is left of the driver's process group and wait
    until every member has exited."""
    if proc.poll() is None:
        proc.kill()
    proc.wait()
    deadline = time.monotonic() + 20
    while group_alive(proc.pid) and time.monotonic() < deadline:
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            break
        time.sleep(0.1)


def run(args) -> dict:
    t_start = time.monotonic()
    if not os.path.isfile(os.path.join(CHECKOUT, "etl_project_gcp_spark", "queries.py")):
        raise SystemExit("perfbench: no etl_project_gcp_spark package in " + CHECKOUT)
    sys.path.insert(0, CHECKOUT)
    from etl_project_gcp_spark import queries as Q

    registry, oracles = Q.queries(), Q.oracle_sql()
    names = W.entries(args.workload, registry, oracles)

    root = os.path.join(CHECKOUT, RUNS_DIR, f"{args.workload}-{args.seed}-{os.getpid()}")
    home_cache = os.path.expanduser("~/.cache/etl_gcp_spark")
    before = snapshot(CHECKOUT, OWN_PATHS)
    home_before = snapshot(home_cache)
    dirs = {d: os.path.join(root, d) for d in
            ("corpus", "cache", "spark-local", "tmp", "warehouse", "cwd")}
    try:
        for d in dirs.values():
            os.makedirs(d)
        sitting = {
            "nproc": len(os.sched_getaffinity(0)),
            "loadavg_start": os.getloadavg(),
            "seed": args.seed,
            "git_sha": git_sha(),
        }
        jiffies = cpu_jiffies()
        corpus.write_corpus(dirs["corpus"])
        expected = oracle_digests(names, oracles, dirs["corpus"])
        expected_path = os.path.join(root, "expected.json")
        with open(expected_path, "w") as f:
            json.dump(expected, f)

        env = dict(os.environ)
        env.update({
            "SPARK_GRAFT_CPUS": str(sitting["nproc"]),
            "ETL_GCP_SPARK_CACHE_DIR": dirs["cache"],
            "ETL_GCP_SPARK_DISABLE_PINS": "1",
            "SPARK_LOCAL_DIRS": dirs["spark-local"],
            "TMPDIR": dirs["tmp"], "TMP": dirs["tmp"], "TEMP": dirs["tmp"],
            "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={dirs['tmp']}",
            "PYTHONDONTWRITEBYTECODE": "1",
            "PYTHONHASHSEED": "0",
        })
        out_path = os.path.join(root, "result.json")
        log_path = os.path.join(root, "driver.log")
        cmd = [
            sys.executable, os.path.join(HERE, "driver.py"),
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--run-root", root, "--corpus", dirs["corpus"],
            "--expected", expected_path, "--out", out_path,
        ]
        with open(log_path, "w") as log:
            t_spawn = time.monotonic()
            cmd += ["--spawned-at", repr(t_spawn)]
            proc = subprocess.Popen(
                cmd, cwd=dirs["cwd"], env=env, stdout=log, stderr=subprocess.STDOUT,
                start_new_session=True,
            )
            try:
                proc.wait(timeout=max(1.0, DEADLINE_S - (time.monotonic() - t_start)))
            except subprocess.TimeoutExpired:
                pass
            finally:
                timed_out = proc.poll() is None
                stop_group(proc)
        if timed_out or proc.returncode != 0 or not os.path.exists(out_path):
            with open(log_path) as f:
                sys.stderr.write(f.read()[-6000:])
            raise SystemExit(
                f"perfbench: driver {'timed out' if timed_out else 'failed'}"
                f" (exit {proc.returncode})"
            )
        with open(out_path) as f:
            result = json.load(f)
        result["marks"] = {
            "orchestrator": t_spawn - t_start,
            **{k: v + t_spawn - t_start for k, v in result["marks"].items()},
            "exit": time.monotonic() - t_start,
        }
        sitting["loadavg_end"] = os.getloadavg()
        sitting["cpu_pct"] = cpu_pct_delta(jiffies, cpu_jiffies())
    finally:
        shutil.rmtree(root, ignore_errors=True)
        try:
            os.rmdir(os.path.join(CHECKOUT, RUNS_DIR))
        except OSError:
            pass

    import duckdb
    import pyspark

    sitting["pyspark"] = pyspark.__version__
    sitting["duckdb"] = duckdb.__version__
    leaks = sorted(
        p for p, st in snapshot(CHECKOUT, OWN_PATHS).items() if before.get(p) != st
    ) + sorted(
        "~/.cache/etl_gcp_spark/" + p
        for p, st in snapshot(home_cache).items() if home_before.get(p) != st
    )
    result["sitting"] = sitting
    result["leaks"] = leaks
    result["wall_s"] = time.monotonic() - t_start
    return result


def report(args, result) -> dict:
    """Print the human-readable report; return the final JSON line."""
    r = result
    fail_frac = r["failed"] / r["attempted"] if r["attempted"] else 1.0
    print(f"perfbench workload={args.workload} seed={args.seed} trace={args.trace}"
          f" entries={len(r['entries'])}: {' '.join(r['entries'])}")
    print("  warm pass times: " + " ".join(f"{t:.3f}" for t in r["warm_pass_times"]))
    print(f"  warm passes={r['warm_passes']}  calls={r['call_count']}"
          f"  tail percentile=p{r['call_tail_pct']}  fail_frac={fail_frac:.4f}"
          f"  artifact builds cold={r['artifact_builds_cold']}"
          f" warm={r['artifact_builds_warm']}  run wall={r['wall_s']:.1f}s")
    print("  timeline (s from start): " + "  ".join(
        f"{k}={v:.1f}" for k, v in r["marks"].items()) + f"  end={r['wall_s']:.1f}")
    print(f"  peak rss: jvm={r['jvm_peak_rss_mb']:.0f} MB,"
          f" {r['tree_processes']} processes in the tree")
    print("  sitting " + json.dumps(r["sitting"]))
    for name, (cold, warm) in r["per_entry"].items():
        print(f"  call {name}: cold={cold:.3f}s warm median={warm:.3f}s")
    for name, (n, total, own) in sorted(r.get("span_table", {}).items()):
        print(f"  span {name}: n={n} total={total:.3f}s self={own:.3f}s")
    for line in r["failures"]:
        print("  FAILED " + line.strip().replace("\n", "\n    "))
    for leak in r["leaks"]:
        print("  LEAK " + leak)
    if args.trace:
        layers = dict(r["layers"])
        layers["session.get_spark_s"] = r["get_spark_s"]
        layers["session.first_call_s"] = r["first_call_s"]
        layers["session.jvm_peak_rss_mb"] = r["jvm_peak_rss_mb"]
        layers["session.peak_rss_mb"] = r["peak_rss_mb"]
        metrics = {k: {"value": v, "unit": layer_units(k)} for k, v in sorted(layers.items())}
    else:
        metrics = {k: {"value": r[k], "unit": u} for k, u in END_TO_END}
    for k, m in metrics.items():
        print(f"  {k} = {m['value']:.6g} {m['unit']}")
    return {
        "correct": r["failed"] == 0 and not r["leaks"],
        "attempted": r["attempted"],
        "failed": r["failed"],
        "metrics": metrics,
    }


def main(argv=None) -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=W.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # a terminated run still stops its driver and removes its run root
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    result = run(args)
    print(json.dumps(report(args, result)))


if __name__ == "__main__":
    main()

"""One benchmark run of one workload, in a fresh driver process.

Started by ``run.py`` with the run root, the corpus and the expected
digests already in place; writes its result as JSON to ``--out``. The
protocol:

1. setup: ``session.get_spark`` plus one untimed warm-up call, an
   entry of the workload's class outside its sample
   (``workloads.WARMUP``), and the end of the session's background
   Python-worker warm-up;
2. the cold pass, every call once, with an empty artifact cache;
   it collects every output to the driver, as a one-shot job would;
3. every cold output is checked: against its DuckDB oracle digest, or
   with ``anncheck`` for an approximate top-k entry;
4. the warm passes, as many as fit ``--seconds``
   (``workloads.measured_passes``); the end-to-end pass time is their
   median, which drops the slowest, usually the first. The service
   handlers' outputs of every warm pass are checked too.

The cold pass runs the calls in registry order; each warm pass in an
order drawn from ``--seed`` and its index. With
``--trace 1`` the cold pass and every second warm pass record spans and
the Spark job, stage and SQL data of their calls; the other warm passes
run untraced, so the run also gives the tracing overhead.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import sys
import threading
import time
import traceback
from contextlib import nullcontext
from datetime import datetime

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
CHECKOUT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(0, CHECKOUT)

import anncheck  # noqa: E402
import digest as D  # noqa: E402
import spans as S  # noqa: E402
import workloads as W  # noqa: E402

# Reference-sized medallion fixture (data_generator.py:19-21).
FIXTURE = {"n_employees": 2500, "n_products": 150, "n_sales": 5000}


def materialize(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def proc_tree_hwm_kb(root_pid: int) -> dict[int, tuple[str, int]]:
    """pid -> (command name, VmHWM kB) for ``root_pid`` and every
    live descendant."""
    children: dict[int, list[int]] = {}
    names: dict[int, str] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        rest = stat[stat.rindex(")") + 2:].split()
        pid = int(entry)
        names[pid] = stat[stat.index("(") + 1: stat.rindex(")")]
        children.setdefault(int(rest[1]), []).append(pid)
    out, todo = {}, [root_pid]
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, []))
        try:
            with open(f"/proc/{pid}/status") as f:
                hwm = next(
                    (int(line.split()[1]) for line in f if line.startswith("VmHWM:")),
                    0,
                )
        except OSError:
            continue
        out[pid] = (names.get(pid, "?"), hwm)
    return out


class SparkStatus:
    """Job and stage records from the application status store, which
    keeps them with the UI off. Read once per pass, outside the timed
    calls, as JSON through the JVM's own Jackson mapper."""

    STAGE_KEYS = (
        "numTasks", "numFailedTasks", "executorRunTime", "executorCpuTime",
        "jvmGcTime", "inputBytes", "inputRecords", "outputBytes",
        "outputRecords", "shuffleReadBytes", "shuffleWriteBytes",
        "memoryBytesSpilled", "diskBytesSpilled",
    )

    def __init__(self, spark):
        jvm = spark._jvm
        self._store = spark.sparkContext._jsc.sc().statusStore()
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala_mod = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        self._mapper.registerModule(scala_mod.__getattr__("MODULE$"))
        self._quantiles = spark.sparkContext._gateway.new_array(jvm.double, 0)
        self._jvm = jvm
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._seen_jobs: set[int] = set()
        self._seen_execs: set[int] = set()

    def harvest(self) -> tuple[list[dict], int]:
        """(jobs, files written) since the last call."""
        execs = json.loads(self._mapper.writeValueAsString(self._sql.executionsList()))
        files = 0
        for e in execs:
            # metric values exist once an execution has ended; a running
            # one is counted by a later harvest
            if e["executionId"] in self._seen_execs or e["metricValues"] is None:
                continue
            self._seen_execs.add(e["executionId"])
            for m in e["metrics"]:
                if m["name"] == "number of written files":
                    value = e["metricValues"].get(str(m["accumulatorId"]), "0")
                    files += int(value.replace(",", ""))
        return self._new_jobs(), files

    def _new_jobs(self) -> list[dict]:
        """Jobs submitted since the last call, each with its stages'
        summed metrics under ``"m"``."""
        jobs = json.loads(self._mapper.writeValueAsString(self._store.jobsList(None)))
        jobs = [j for j in jobs if j["jobId"] not in self._seen_jobs]
        if not jobs:
            return []
        stages = json.loads(self._mapper.writeValueAsString(self._store.stageList(
            None, False, False, self._quantiles, self._jvm.java.util.ArrayList()
        )))
        by_stage = {}
        for st in stages:
            by_stage.setdefault(st["stageId"], []).append(st)
        for j in jobs:
            self._seen_jobs.add(j["jobId"])
            m = {k: 0 for k in self.STAGE_KEYS}
            m["stages"] = 0
            for sid in j["stageIds"]:
                for st in by_stage.get(sid, []):
                    if st.get("status") == "SKIPPED":
                        continue
                    m["stages"] += 1
                    for k in self.STAGE_KEYS:
                        m[k] += st.get(k) or 0
            j["m"] = m
        return jobs


def add_stream_listener(spark):
    """Register a listener that keeps every streaming micro-batch as a
    (trigger start epoch s, trigger execution s) pair in ``.batches``."""
    from pyspark.sql.streaming import StreamingQueryListener

    class BatchListener(StreamingQueryListener):
        def __init__(self):
            self.batches: list[tuple[float, float]] = []

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            start = datetime.fromisoformat(p.timestamp.replace("Z", "+00:00"))
            self.batches.append(
                (start.timestamp(), p.durationMs.get("triggerExecution", 0) / 1000.0)
            )

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    listener = BatchListener()
    spark.streams.addListener(listener)
    return listener


class Run:
    def __init__(self, args):
        self.args = args
        self.tracer = S.Tracer() if args.trace else None
        self.failures: list[str] = []
        self.attempted = 0
        self.failed = 0
        self.call_id = 0
        self.collect = False
        self.call_names: dict[int, str] = {}
        self.call_builds: dict[int, list[str]] = {}
        self.cache_root = os.environ["ETL_GCP_SPARK_CACHE_DIR"]
        self.exact = None

    # -- spans -----------------------------------------------------------
    def span(self, name, call_id=None):
        if self.tracer is None or not self.tracing:
            return nullcontext()
        return self.tracer.span(name, call_id)

    # -- calls -----------------------------------------------------------
    def registry_call(self, name, fn):
        def call():
            with self.span("queries.build"):
                df = fn(self.spark, self.args.corpus)
            if self.collect:
                with self.span("operators.collect"):
                    return df.toPandas()
            with self.span("operators.materialize"):
                materialize(df)
            return df
        return call

    def build_calls(self, names):
        calls = []
        for n in names:
            calls.append((n, self.registry_call(n, self.registry[n])))
        if self.args.workload == "etl_write":
            calls.append(("service", self.service_unit))
        return calls

    def service_unit(self):
        """trigger_etl -> verify_results -> sample_data, timed as three
        calls that always run in this order."""
        from etl_project_gcp_spark import service

        out = {}
        for name, fn in (
            ("service.trigger_etl", lambda: service.trigger_etl(self.pipe, self.sources)),
            ("service.verify_results", lambda: service.verify_results(self.pipe)),
            ("service.sample_data", lambda: service.sample_data(self.pipe)),
        ):
            t = time.perf_counter()
            with self.span(name):
                out[name] = fn()
            self.service_times.append((name, time.perf_counter() - t))
        return out

    def traced_pipe_methods(self):
        for layer in ("bronze_layer", "silver_layer", "gold_layer"):
            orig = getattr(self.pipe, layer)

            def wrapped(*a, _orig=orig, _name="plans." + layer.split("_")[0], **kw):
                with self.span(_name):
                    return _orig(*a, **kw)

            setattr(self.pipe, layer, wrapped)

    # -- passes ----------------------------------------------------------
    def run_pass(self, calls, pass_idx, traced):
        """One pass; returns (pass seconds, [(name, call seconds, ok,
        result)]). The cold pass (index 0) runs in registry order, so
        that the process's one-time costs fall on the same calls in
        every run; a warm pass runs in its seeded order."""
        order = list(range(len(calls)))
        if pass_idx:
            random.Random(f"{self.args.seed}:{pass_idx}").shuffle(order)
        self.tracing = traced
        self.service_times = []
        out = []
        t0 = time.perf_counter()
        for i in order:
            name, call = calls[i]
            self.call_id += 1
            self.call_names[self.call_id] = name
            before = S.listing(self.cache_root) if traced else None
            t = time.perf_counter()
            try:
                with self.span("call", call_id=self.call_id):
                    res = call()
                ok = True
            except Exception:
                self.failures.append(f"pass {pass_idx} {name}: {traceback.format_exc()}")
                res, ok = None, False
            out.append((name, time.perf_counter() - t, ok, res))
            if traced:
                self.call_builds[self.call_id] = S.artifact_builds(
                    before, S.listing(self.cache_root)
                )
        pass_s = time.perf_counter() - t0
        self.tracing = False
        return pass_s, out

    def pass_calls(self, out):
        """Per-call seconds of a pass, the service unit split into its
        three handlers."""
        secs = [s for name, s, ok, _ in out if name != "service"]
        secs += [s for _, s in self.service_times]
        return secs

    # -- verification ----------------------------------------------------
    def verify(self, name, res, reference):
        """Check one call's output; returns what a later pass's output
        of the service handlers is compared with."""
        if name == "service":
            return self.verify_service(res, reference)
        if name in W.ANN_TOPK:
            if self.exact is None:
                self.exact = anncheck.exact_cosines(self.args.corpus)
            anncheck.check_topk(res, *self.exact, W.ANN_QUERIES, W.ANN_K, W.ANN_TOPK[name])
            return None
        got = D.digest_pandas(res)
        want = self.expected[name]
        if list(got) != list(want):
            raise AssertionError(f"{name}: digest {got} != oracle {want}")
        return None

    def verify_service(self, res, reference):
        trig = res["service.trigger_etl"]
        if not trig.get("success"):
            raise AssertionError(f"trigger_etl failed: {trig}")
        checks = res["service.verify_results"]
        for layer, tables in checks.items():
            for t, info in tables.items():
                if "error" in info or not info.get("row_count"):
                    raise AssertionError(f"verify_results {layer}.{t}: {info}")
        bronze = {t: checks["bronze"][t]["row_count"] for t in checks["bronze"]}
        want = {"employees": FIXTURE["n_employees"], "products": FIXTURE["n_products"],
                "sales": FIXTURE["n_sales"]}
        if bronze != want:
            raise AssertionError(f"bronze row counts {bronze} != fixture {want}")
        got = json.dumps(
            {"checks": checks, "sample": res["service.sample_data"]},
            sort_keys=True, default=str,
        )
        if reference is not None and got != reference:
            raise AssertionError("service outputs differ from the cold pass")
        return got

    def check_pass(self, out, refs, names=None):
        for name, _s, ok, res in out:
            if not ok or (names is not None and name not in names):
                continue
            try:
                refs[name] = self.verify(name, res, refs.get(name))
            except Exception:
                self.failures.append(f"verify {name}: {traceback.format_exc()}")
                self.failed += 1

    # -- main ------------------------------------------------------------
    def main(self):
        a = self.args
        self.tracing = False
        from etl_project_gcp_spark import queries as Q
        from etl_project_gcp_spark.session import get_spark

        self.registry = Q.queries()
        oracles = Q.oracle_sql()
        names = W.entries(a.workload, self.registry, oracles)
        with open(a.expected) as f:
            self.expected = json.load(f)

        # 1. setup
        self.tracing = bool(a.trace)
        t = time.perf_counter()
        with self.span("session.get_spark"):
            self.spark = get_spark(
                app_name="perfbench",
                extra_conf={"spark.sql.warehouse.dir": os.path.join(a.run_root, "warehouse")},
            )
        get_spark_s = time.perf_counter() - t
        t = time.perf_counter()
        with self.span("session.first_call"):
            materialize(self.registry[W.WARMUP[a.workload]](self.spark, a.corpus))
            # get_spark warms the Python worker pool in a background
            # thread; setup ends when it is done, not during the cold pass
            for th in threading.enumerate():
                if th.name == "pyworker-prewarm":
                    th.join()
        first_call_s = time.perf_counter() - t
        setup_s = time.monotonic() - a.spawned_at
        marks = {"setup": setup_s}

        def mark(name):
            marks[name] = time.monotonic() - a.spawned_at
        self.tracing = False

        status = SparkStatus(self.spark) if a.trace else None
        listener = add_stream_listener(self.spark) if a.trace else None
        if a.workload == "etl_write":
            from etl_project_gcp_spark import datagen
            from etl_project_gcp_spark.plans.medallion import MedallionPipeline

            self.sources = datagen.write_fixture_csvs(
                self.spark, os.path.join(a.run_root, "landing"), **FIXTURE
            )
            self.pipe = MedallionPipeline(self.spark, os.path.join(a.run_root, "medallion"))
            if a.trace:
                self.traced_pipe_methods()
        if status:
            status.harvest()
        mark("prepare")
        calls = self.build_calls(names)
        cache_root = self.cache_root
        passes = []

        def do_pass(idx, kind, traced):
            cache_before = S.listing(cache_root)
            n_spans = len(self.tracer.spans) if self.tracer else 0
            pass_s, out = self.run_pass(calls, idx, traced)
            weight = {n: (len(W.SERVICE_CALLS) if n == "service" else 1) for n, *_ in out}
            self.attempted += sum(weight.values())
            self.failed += sum(weight[n] for n, _, ok, _ in out if not ok)
            rec = {
                "kind": kind, "pass_s": pass_s, "out": out, "traced": traced,
                "call_s": self.pass_calls(out),
                "builds": S.artifact_builds(cache_before, S.listing(cache_root)),
            }
            if status:
                jobs, files = status.harvest()
                if traced:
                    rec.update(spans=self.tracer.spans[n_spans:], jobs=jobs,
                               files_written=files,
                               cache_bytes=sum(S.listing(cache_root).values()))
            passes.append(rec)
            return rec

        # 2. the cold pass collects every output; 3. check them
        if S.listing(cache_root):
            raise RuntimeError("the artifact cache is not empty before the cold pass")
        self.collect = True
        cold = do_pass(0, "cold", bool(a.trace))
        self.collect = False
        refs: dict = {}
        mark("cold")
        self.check_pass(cold["out"], refs)
        mark("check")

        # 4. the warm passes; a traced run adds as many traced passes,
        # in the order U T T U U T ..., so that the warm passes' drift
        # (they speed up for the first few) falls on both kinds alike
        n_measured = W.measured_passes(a.workload, a.seconds)
        for i in range(n_measured * (2 if a.trace else 1)):
            warm = do_pass(1 + i, "warm", bool(a.trace) and i % 4 in (1, 2))
            self.check_pass(warm["out"], refs, {"service"})
        mark("warm")

        tree = proc_tree_hwm_kb(os.getpid())
        result = {
            "workload": a.workload,
            "entries": names,
            "setup_s": setup_s,
            "get_spark_s": get_spark_s,
            "first_call_s": first_call_s,
            "peak_rss_mb": sum(h for _, h in tree.values()) / 1024.0,
            "jvm_peak_rss_mb": sum(h for n, h in tree.values() if n == "java") / 1024.0,
            "tree_processes": len(tree),
            "marks": marks,
            "attempted": self.attempted,
            "failed": self.failed,
            "failures": self.failures,
        }
        result.update(summarize(passes, self, listener))
        return result


def _layer_sum(spans, prefix):
    return sum(s.dur for s in spans if s.name.startswith(prefix))


def _jobs_under(p, prefix):
    """Jobs of traced pass p whose innermost span is, or sits inside, a
    span whose name starts with ``prefix``."""
    by_id = {s.span_id: s for s in p["spans"]}
    owners = S.attribute([j["submissionTime"] / 1000.0 for j in p["jobs"]], p["spans"])
    picked = []
    for job, sid in zip(p["jobs"], owners):
        while sid is not None and not by_id[sid].name.startswith(prefix):
            sid = by_id[sid].parent
        if sid is not None:
            picked.append(job)
    return picked


def _jsum(jobs, key):
    return sum(j["m"][key] for j in jobs)


def summarize(passes, run, listener) -> dict:
    """End-to-end numbers from the untraced warm passes; per-layer
    numbers from the traced ones (medians over traced warm passes)."""
    cold = passes[0]
    warm = [p for p in passes if p["kind"] == "warm"]
    untraced = [p for p in warm if not p["traced"]]
    calls = [s for p in untraced for s in p["call_s"]]
    tail_p, tail_s = S.tail(calls)
    per_entry: dict[str, list[float]] = {}
    for p in [cold] + untraced:
        for name, secs, _ok, _res in p["out"]:
            per_entry.setdefault(name, []).append(secs)
    out = {
        "per_entry": {n: [v[0], S.median(v[1:])] for n, v in per_entry.items()},
        "cold_pass_s": cold["pass_s"],
        "warm_pass_s": S.median([p["pass_s"] for p in untraced]),
        "warm_passes": len(untraced),
        "warm_pass_times": [p["pass_s"] for p in untraced],
        "call_p50_s": S.median(calls),
        "call_count": len(calls),
        "call_tail_pct": tail_p,
        "call_tail_s": tail_s,
        "artifact_builds_cold": len(cold["builds"]),
        "artifact_builds_warm": sum(len(p["builds"]) for p in warm),
    }
    if run.tracer is None:
        return out
    traced = [p for p in warm if p["traced"]]
    cores = run.spark.sparkContext.defaultParallelism
    L: dict[str, float] = {}

    def med(fn):
        return S.median([fn(p) for p in traced])

    def builds_of(p, pred):
        return [s for s in p["spans"] if s.name == "queries.build"
                and pred(run.call_names.get(s.call_id, ""))]

    L["queries.build_cold_s"] = _layer_sum(cold["spans"], "queries.build")
    L["queries.build_warm_s"] = med(lambda p: _layer_sum(p["spans"], "queries.build"))
    L["queries.build_jobs"] = med(lambda p: len(_jobs_under(p, "queries.build")))
    L["queries.build_share"] = med(
        lambda p: _layer_sum(p["spans"], "queries.build") / p["pass_s"])

    L["operators.exec_s"] = med(lambda p: _layer_sum(p["spans"], "operators.materialize"))
    L["operators.jobs"] = med(lambda p: len(_jobs_under(p, "operators.materialize")))
    for key, name, scale in (
        ("stages", "stages", 1), ("numTasks", "tasks", 1),
        ("executorRunTime", "task_s", 1e-3), ("executorCpuTime", "cpu_s", 1e-9),
        ("jvmGcTime", "gc_s", 1e-3), ("shuffleReadBytes", "shuffle_read_bytes", 1),
        ("shuffleWriteBytes", "shuffle_write_bytes", 1),
        ("numFailedTasks", "failed_tasks", 1),
    ):
        L["operators." + name] = med(
            lambda p, k=key, c=scale: _jsum(_jobs_under(p, "operators.materialize"), k) * c)
    L["operators.spill_bytes"] = med(lambda p: sum(
        _jsum(_jobs_under(p, "operators.materialize"), k)
        for k in ("memoryBytesSpilled", "diskBytesSpilled")))
    L["operators.busy_frac"] = med(lambda p: (
        _jsum(_jobs_under(p, "operators.materialize"), "executorRunTime") / 1000.0
        / (cores * _layer_sum(p["spans"], "operators.materialize"))
    ) if _layer_sum(p["spans"], "operators.materialize") else 0.0)

    for key, name in (
        ("inputBytes", "input_bytes"), ("inputRecords", "input_records"),
        ("outputBytes", "output_bytes"), ("outputRecords", "output_records"),
    ):
        L["sources." + name] = med(lambda p, k=key: _jsum(p["jobs"], k))
    L["sources.files_written"] = med(lambda p: p["files_written"])

    for n in ("bronze", "silver", "gold"):
        L[f"plans.{n}_s"] = med(lambda p, n=n: _layer_sum(p["spans"], f"plans.{n}"))
    for n in W.SERVICE_CALLS:
        L[f"{n}_s"] = med(lambda p, n=n: _layer_sum(p["spans"], n))

    def drains(p):
        return builds_of(p, W.is_drain)

    def batches(p):
        ds = drains(p)
        return [d for t, d in listener.batches if any(s.start <= t <= s.end for s in ds)]

    L["streaming.drain_s"] = med(lambda p: sum(s.dur for s in drains(p)))
    L["streaming.batches"] = med(lambda p: len(batches(p)))
    L["streaming.batch_s"] = med(lambda p: sum(batches(p)))
    L["streaming.startup_s"] = med(
        lambda p: sum(s.dur for s in drains(p)) - sum(batches(p)))

    art_calls = [cid for p in warm if p["traced"] for s in p["spans"]
                 if s.name == "call" and (cid := s.call_id) is not None
                 and run.call_names[cid] in W.ARTIFACT_ENTRIES]
    L["artifacts.builds"] = len(cold["builds"])
    L["artifacts.warm_builds"] = sum(len(p["builds"]) for p in warm)
    L["artifacts.bytes"] = cold["cache_bytes"]
    L["artifacts.hit_ratio"] = (
        sum(1 for c in art_calls if not run.call_builds.get(c)) / len(art_calls)
        if art_calls else 0.0
    )
    L["artifacts.build_s"] = sum(
        s.dur for s in cold["spans"]
        if s.name == "queries.build" and run.call_builds.get(s.call_id)
    )
    untraced_med = S.median([p["pass_s"] for p in untraced])
    L["trace.overhead_frac"] = (
        S.median([p["pass_s"] for p in traced]) / untraced_med - 1.0 if untraced_med else 0.0
    )
    out["layers"] = L
    out["span_table"] = span_table(traced)
    return out


def span_table(traced) -> dict[str, list[float]]:
    """Span name -> [count, total s, self s] over the traced warm passes."""
    table: dict[str, list[float]] = {}
    for p in traced:
        for s in p["spans"]:
            row = table.setdefault(s.name, [0, 0.0, 0.0])
            row[0] += 1
            row[1] += s.dur
            row[2] += S.self_time(s, p["spans"])
    return table


def main(argv=None):
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=W.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--run-root", required=True)
    ap.add_argument("--corpus", required=True)
    ap.add_argument("--expected", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--spawned-at", type=float, required=True)
    args = ap.parse_args(argv)
    run = Run(args)
    try:
        result = run.main()
    finally:
        spark = getattr(run, "spark", None)
        if spark is not None:
            spark.stop()
    with open(args.out, "w") as f:
        json.dump(result, f)


if __name__ == "__main__":
    main()

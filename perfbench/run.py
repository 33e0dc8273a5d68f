#!/usr/bin/env python3
"""Benchmark entry point: one workload, one process, one JSON line.

    python3 perfbench/run.py --workload olap_mix --seed 1 --seconds 10 --trace 0

Run from the repository root. The run generates (or reuses) the seeded
inputs, sets the session up ``SETUPS`` times (``get_spark`` plus the
engine warm-up; the first start includes the JVM launch; ``setup_s`` is
the median), runs the workload's untimed warm-up steps, then issues
operations in a closed loop for ``--seconds`` and for at least the
workload's ``min_steps`` steps, and checks every output against its
oracle. ``--trace 0`` prints the end-to-end metrics of BENCHMARK.json;
``--trace 1`` measures half the time untraced and half with the Spark
UI on, and prints the per-layer metrics. Human-readable lines precede
the final JSON line.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

import pandas as pd

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
SETUPS = 3
WORKLOADS = {"olap_mix": ("olap", "OlapMix"),
             "curation_ingest": ("ingest", "CurationIngest")}


def parse_args():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args()


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


class Runner:
    def __init__(self, run_dir: str, python_workers: bool):
        from common import mem_total_kb, nproc

        self.nproc = nproc()
        # a task that feeds a Python worker keeps two processes busy, so
        # such a workload gets half the CPUs as task slots: local[nproc]
        # would oversubscribe the host and measure its scheduler
        self.slots = max(1, self.nproc // 2) if python_workers \
            else self.nproc
        # well below MemTotal; a small heap fixed by -Xms also keeps the
        # JVM's peak RSS from depending on when the collector grows it
        self.driver_mem = f"{max(1, min(2, mem_total_kb() // 2**20 // 5))}g"
        self.local = os.path.join(run_dir, "spark-local")
        self.tmp = os.path.join(run_dir, "tmp")
        os.makedirs(self.local)
        os.makedirs(self.tmp)
        os.environ.update({
            "SPARK_LOCAL_DIRS": self.local,
            "TMPDIR": self.tmp,
            "SPARK_GRAFT_CPUS": str(self.slots),
            "SPARK_GRAFT_DRIVER_MEM": self.driver_mem,
            "PYSPARK_PYTHON": sys.executable,
            # no hsperfdata files in /tmp from the launcher or Spark JVMs
            "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
            "PYTHONPATH": os.pathsep.join(
                p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        })
        tempfile.tempdir = self.tmp
        self.spark = None
        self.setups: list[tuple[float, float]] = []

    # -- session ----------------------------------------------------------
    def setup(self, ui: bool) -> tuple[float, float]:
        """Start the session and warm the engine up; returns
        (get_spark_s, warmup_s)."""
        import charmpandas_spark as cps

        if self.spark is not None:
            self.spark.stop()
        conf = {"spark.ui.enabled": "true" if ui else "false",
                "spark.ui.showConsoleProgress": "false",
                "spark.local.dir": self.local,
                "spark.driver.extraJavaOptions":
                    f"-Djava.io.tmpdir={self.tmp} -XX:-UsePerfData "
                    # compiler threads that exit would take their CPU
                    # time out of the JIT share tree_cpu_s subtracts
                    f"-XX:-UseDynamicNumberOfCompilerThreads "
                    f"-Xms{self.driver_mem}"}
        t0 = time.perf_counter()
        self.spark = cps.get_spark(app_name="perfbench",
                                   master=f"local[{self.slots}]",
                                   extra_conf=conf)
        t1 = time.perf_counter()
        engine_warmup(self.spark)
        t2 = time.perf_counter()
        return t1 - t0, t2 - t1

    def shutdown(self) -> None:
        """Stop the session and the JVM, and wait for the JVM to exit."""
        from pyspark import SparkContext

        if self.spark is not None:
            for q in self.spark.streams.active:
                q.stop()
            self.spark.stop()
            self.spark = None
        gw = SparkContext._gateway
        if gw is not None:
            proc = getattr(gw, "proc", None)
            gw.shutdown()
            if proc is not None:
                try:
                    proc.stdin.close()
                    proc.wait(timeout=60)
                except (OSError, subprocess.TimeoutExpired):
                    proc.kill()
                    proc.wait()
            SparkContext._gateway = None
            SparkContext._jvm = None

    def jvm_pid(self) -> int:
        return int(self.spark._jvm.java.lang.ProcessHandle.current().pid())

    # -- measurement ---------------------------------------------------------
    def measure(self, workload, seconds: float, min_steps: int,
                tracer=None, rest=None):
        from common import Step

        steps, calls = [], 0
        end = time.perf_counter() + seconds
        while time.perf_counter() < end or calls < min_steps:
            t0w, t0 = time.time(), time.perf_counter()
            try:
                out = workload.step(self.spark, tracer)
            except Exception:
                log(traceback.format_exc())
                for q in self.spark.streams.active:
                    q.stop()
                el = time.perf_counter() - t0
                out = Step([el], 0, el, False, 0, 1, tag="error",
                           t0=t0w, t1=time.time())
            out = out if isinstance(out, list) else [out]
            for st in out:
                st.call = calls
            calls += 1
            if rest is not None:
                ex = rest.new_executions()
                skew = rest.new_stage_skew(self.nproc)
                for st in out:
                    st.executions = [e for e in ex
                                     if st.t0 <= e["t0"] <= st.t1]
                    st.skew = [(t, r) for t, r in skew
                               if st.t0 <= t <= st.t1]
            steps.extend(out)
        return steps


def _plus_one(s: pd.Series) -> pd.Series:
    return s + 1


def engine_warmup(spark) -> None:
    """The same small job mix in every workload: JVM and codegen for a
    string-key shuffle join, aggregation, sort and Arrow fetch, and a
    pandas UDF round trip that starts the Python worker pool."""
    from pyspark.sql import functions as F

    plus_one = F.pandas_udf(_plus_one, "long")
    keys = spark.range(0, 20_000, 1, 4).select(
        F.concat(F.lit("k"), F.col("id")).alias("k"),
        (F.col("id") % 101).alias("g"))
    (keys.join(keys.select("k", plus_one("g").alias("v")), "k")
         .groupBy("g").agg(F.sum("v").alias("s"))
         .orderBy("g").toPandas())


def end_to_end(steps, setups, rss_mb) -> dict:
    """``op_cpu_s`` and ``op_gmean_s`` are geometric means over the
    workload's kinds of operation (``Step.tag``) of each kind's median
    CPU seconds and wall seconds, so a run's figure never jumps between
    kinds; ``rows_per_s`` is the median over ``workload.step`` calls of
    the call's input rows per wall second."""
    kinds: dict[str, list] = {}
    cpu: dict[str, list] = {}
    calls: dict[int, list] = {}
    for s in steps:
        kinds.setdefault(s.tag, []).extend(s.latencies)
        cpu.setdefault(s.tag, []).append(s.cpu / len(s.latencies))
        calls.setdefault(s.call, []).append(s)
    medians = [statistics.median(v) for v in kinds.values()]
    return {
        "setup_s": statistics.median(sum(s) for s in setups),
        "op_gmean_s": statistics.geometric_mean(medians),
        "op_cpu_s": statistics.geometric_mean(
            statistics.median(v) for v in cpu.values()),
        "rows_per_s": statistics.median(
            sum(s.rows for s in c) / sum(s.wall for s in c)
            for c in calls.values()),
        "peak_rss_mb": rss_mb,
        "recall": sum(s.found for s in steps)
        / max(1, sum(s.expected for s in steps)),
    }


def per_layer(workload, steps, tracer, setups, warm_execs, e2e_plain,
              e2e_traced) -> dict:
    import layers as tr

    n = len({s.call for s in steps})  # workload.step calls
    out: dict[str, float] = {}
    out["session.get_spark_s"] = statistics.median(s[0] for s in setups)
    out["session.warmup_s"] = statistics.median(s[1] for s in setups)
    out["session.cold_start_s"] = sum(setups[0])
    out["python.boot_s"] = tr.node_rollup(warm_execs).get("python.boot_s", 0)

    execs = [e for s in steps for e in s.executions]
    for k, v in tr.node_rollup(execs).items():
        if k == "python.boot_s":
            continue
        out[k] = v if k == "agg.peak_mem_bytes" else v / n
    spans = [sp for s in steps for sp in tracer.between(s.t0, s.t1)]
    st = tr.self_times([sp for sp in spans if sp.layer])
    out["sources.read_parquet_s"] = st.get("sources.read_parquet", 0) / n
    out["dataframe.plan_build_s"] = st.get("dataframe.plan_build", 0) / n
    out["dataframe.get_s"] = st.get("dataframe.get", 0) / n
    fetch = 0.0
    for sp in spans:
        if sp.name == "dataframe.get":
            inside = [(max(e["t0"], sp.t0), min(e["t1"], sp.t1))
                      for e in execs if e["t1"] > sp.t0 and e["t0"] < sp.t1]
            fetch += sp.dur - tr.covered(inside)
            out["fetch.result_bytes"] = out.get("fetch.result_bytes", 0) \
                + sp.counts.get("bytes", 0) / n
    out["fetch.arrow_to_pandas_s"] = fetch / n
    out["task.max_over_median"] = tr.median(
        max(r for _, r in s.skew) for s in steps if s.skew)

    unattributed = []
    for s in steps:
        if s.unattributed is not None:
            unattributed.append(s.unattributed)
            continue
        ivals = [(max(e["t0"], s.t0), min(e["t1"], s.t1))
                 for e in s.executions]
        ivals += [(sp.t0, sp.t1) for sp in tracer.between(s.t0, s.t1)
                  if sp.layer]
        span = s.t1 - s.t0
        unattributed.append(max(0.0, 1 - tr.covered(ivals) / span))
    out["trace.unattributed_share"] = tr.median(unattributed)
    out["trace.overhead_ratio"] = \
        e2e_traced["op_gmean_s"] / e2e_plain["op_gmean_s"] - 1
    out.update(workload.layer_metrics(steps, tracer))
    return out


def install_api_spans(tracer) -> None:
    """Time the public entry points every workload goes through."""
    import charmpandas_spark as cps
    from charmpandas_spark import dataframe as dfm

    tracer.wrap(cps, "read_parquet", "sources.read_parquet")
    tracer.wrap(cps, "concat", "dataframe.plan_build")
    for cls, attrs in ((dfm.DataFrame, ("merge", "groupby", "sort_values",
                                        "__setitem__", "__getitem__")),
                       (dfm.GroupByField, ("sum", "count"))):
        for a in attrs:
            tracer.wrap(cls, a, "dataframe.plan_build")
    tracer.wrap(dfm.DataFrame, "get", "dataframe.get",
                measure=lambda pdf: {
                    "bytes": int(pdf.memory_usage(deep=True).sum())})
    for a in ("sum", "count"):
        tracer.wrap(dfm.Field, a, "dataframe.reduce")


def host_record(runner) -> dict:
    import platform

    import pyspark

    from common import mem_total_kb

    jv = runner.spark._jvm.java.lang.System.getProperty("java.version")
    return {"nproc": runner.nproc, "mem_total_kb": mem_total_kb(),
            "spark": pyspark.__version__, "java": str(jv),
            "python": platform.python_version(),
            "master": f"local[{runner.slots}]",
            "shuffle_partitions":
                runner.spark.conf.get("spark.sql.shuffle.partitions"),
            "driver_memory": runner.driver_mem}


def main() -> int:
    args = parse_args()
    t_start = time.perf_counter()
    if not os.path.isfile(os.path.join(ROOT, "charmpandas_spark",
                                       "__init__.py")):
        log(f"charmpandas_spark not found under {ROOT}; run from a "
            f"checkout of the repository")
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    sys.path.insert(0, ROOT)
    import charmpandas_spark  # noqa: F401  (fail early, before generating)

    import gen
    from common import host_ticks, proc_status_kb

    os.makedirs(os.path.join(WORK, "cache"), exist_ok=True)
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    mod, cls = WORKLOADS[args.workload]
    cls = getattr(importlib.import_module(mod), cls)
    data = {name: gen.ensure(name, args.seed, os.path.join(WORK, "cache"))
            for name in cls.inputs}
    props = {name: p for name, (_, p) in data.items()}
    phases = {"generate_s": time.perf_counter() - t_start}
    runner = Runner(run_dir, cls.python_workers)
    workload = cls(data, os.path.join(run_dir, "w"))
    try:
        t = time.perf_counter()
        workload.prepare()
        phases["oracle_prepare_s"] = time.perf_counter() - t
        for _ in range(SETUPS):
            runner.setups.append(runner.setup(ui=False))
        t = time.perf_counter()
        workload.start(runner.spark)
        phases["workload_start_s"] = time.perf_counter() - t
        t = time.perf_counter()
        warm = runner.measure(workload, 0, workload.warmup_steps)
        phases["warmup_steps_s"] = time.perf_counter() - t
        plain_s = args.seconds / 2 if args.trace else args.seconds
        stolen, total = host_ticks()
        steps = runner.measure(workload, plain_s, workload.min_steps)
        stolen2, total2 = host_ticks()
        # the share of the guest's CPU time the host gave to other
        # guests while the timed steps ran; wall times grow with it
        phases["steal_share"] = (stolen2 - stolen) / max(1, total2 - total)
        host = host_record(runner)
        rss = {"python": proc_status_kb("self", "VmHWM") / 1024,
               "jvm": proc_status_kb(runner.jvm_pid(), "VmHWM") / 1024}
        phases["peak_rss_mb"] = rss
        rss_mb = sum(rss.values())
        e2e = end_to_end(steps, runner.setups, rss_mb)
        units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
        metrics = {k: e2e[k] for k in units}
        if args.trace:
            import layers as tr

            trace_setup = runner.setup(ui=True)
            rest = tr.SparkRest(runner.spark)
            warm_execs = rest.new_executions()
            rest.new_stage_skew(runner.nproc)
            tracer = tr.Tracer()
            install_api_spans(tracer)
            workload.install_spans(tracer)
            try:
                tsteps = runner.measure(workload, args.seconds / 2,
                                        workload.min_steps, tracer, rest)
            finally:
                tracer.close()
            e2e_t = end_to_end(tsteps, [trace_setup], rss_mb)
            layer = per_layer(workload, tsteps, tracer,
                              runner.setups, warm_execs, e2e, e2e_t)
            units = {m["name"]: m["unit"] for m in spec["per_layer"]}
            metrics = {k: float(layer.get(k, 0.0)) for k in units}
            steps = steps + tsteps
    finally:
        runner.shutdown()
        shutil.rmtree(run_dir, ignore_errors=True)

    attempted = sum(len(s.latencies) for s in warm + steps)
    failed = sum(s.failed for s in warm + steps)
    phases["setups_s"] = [round(sum(s), 3) for s in runner.setups]
    phases["total_s"] = time.perf_counter() - t_start
    print(f"# host {json.dumps(host, sort_keys=True)}")
    print(f"# phases {json.dumps(phases)}")
    print(f"# inputs {json.dumps(props, sort_keys=True)}")
    print(f"# ops {attempted} ({len(warm + steps)} steps, "
          f"{len(warm)} of them warm-up), failed {failed}, "
          f"failed_op_ratio {failed / attempted:.4f}")
    for alias, value, unit in [("op_gmean_s", e2e["op_gmean_s"], "s"),
                               ("rows_per_s", e2e["rows_per_s"], "rows/s")
                               ] + workload.aliases(steps):
        print(f"# {args.workload} {alias} {value:.6g} {unit}")
    for k, v in metrics.items():
        print(f"# {k} {v:.6g} {units[k]}")
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]}
                    for k, v in metrics.items()}}))
    return 0


if __name__ == "__main__":
    sys.exit(main())

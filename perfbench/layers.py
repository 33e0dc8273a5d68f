"""Per-layer tracing for the benchmark, built entirely outside the library.

Two sources, both read from the benchmark's own process:

* spans: wall-clock intervals recorded around calls into the
  library's public functions (installed by :meth:`Tracer.wrap`, which
  swaps the module or class attribute for a timing shim and restores it
  on :meth:`Tracer.close`) and around the benchmark's own pipeline
  stages;
* Spark's per-plan-node SQL metrics from the UI's REST API
  (``/api/v1/applications/{app}/sql?details=true``), the stage task
  summaries, and ``StreamingQuery.recentProgress``.

Only the traced run turns the UI on; end-to-end metrics are measured
with it off.
"""

from __future__ import annotations

import json
import re
import statistics
import time
import urllib.request
from contextlib import contextmanager
from datetime import datetime, timezone


class Span:
    __slots__ = ("name", "t0", "t1", "layer", "counts")

    def __init__(self, name: str, t0: float, layer: bool):
        self.name, self.t0, self.t1 = name, t0, t0
        self.layer = layer  # a library call, as opposed to a stage group
        self.counts: dict = {}

    @property
    def dur(self) -> float:
        return self.t1 - self.t0


class Tracer:
    """Records spans in memory; nothing is written until the run ends."""

    def __init__(self):
        self.spans: list[Span] = []
        self._patched: list[tuple] = []

    @contextmanager
    def span(self, name: str, layer: bool = False):
        s = Span(name, time.time(), layer)
        try:
            yield s
        finally:
            s.t1 = time.time()
            self.spans.append(s)

    def wrap(self, owner, attr: str, name: str, measure=None) -> None:
        """Time every call of ``owner.attr`` as a layer span ``name``.
        ``measure(result)`` may return a dict of counts for the span."""
        orig = getattr(owner, attr)
        tracer = self

        def shim(*args, **kwargs):
            with tracer.span(name, layer=True) as s:
                out = orig(*args, **kwargs)
                if measure is not None:
                    s.counts.update(measure(out))
                return out

        setattr(owner, attr, shim)
        self._patched.append((owner, attr, orig))

    def close(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    def between(self, t0: float, t1: float) -> list[Span]:
        return [s for s in self.spans if s.t0 >= t0 and s.t1 <= t1]


def self_times(spans: list[Span]) -> dict[str, float]:
    """Per-name self time: a span's duration minus the part of it that
    spans nested inside it cover."""
    out: dict[str, float] = {}
    for s in spans:
        inner = [(c.t0, c.t1) for c in spans
                 if c is not s and c.t0 >= s.t0 and c.t1 <= s.t1
                 and (c.t0, c.t1) != (s.t0, s.t1)]
        out[s.name] = out.get(s.name, 0.0) + s.dur - covered(inner)
    return out


def covered(intervals) -> float:
    """Length of the union of ``intervals``."""
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


# ---------------------------------------------------------------------------
# Spark UI REST
# ---------------------------------------------------------------------------

_SIZE = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}
_TIME = {"ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0}
_NUM = re.compile(r"^\s*(-?[\d,]*\.?\d+)\s*([A-Za-z]*)")


def parse_metric(value: str) -> float:
    """A SQL metric display string as a number in bytes, seconds or
    units. Task-level metrics read ``total (min, med, max ...)\\n<total>
    (...)``; the total is the figure before the parenthesis."""
    if "\n" in value:
        value = value.split("\n", 1)[1]
    m = _NUM.match(value)
    if not m:
        return 0.0
    num = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    if unit in _SIZE:
        return num * _SIZE[unit]
    if unit in _TIME:
        return num * _TIME[unit]
    return num


def spark_time(stamp: str) -> float:
    """``2026-10-17T04:21:56.392GMT`` as epoch seconds."""
    return datetime.strptime(stamp, "%Y-%m-%dT%H:%M:%S.%f%Z") \
        .replace(tzinfo=timezone.utc).timestamp()


class SparkRest:
    def __init__(self, spark):
        sc = spark.sparkContext
        self.base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"
        self.seen_exec = 0  # list position; execution ids are JVM-global
        self.seen_stage = -1

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.load(r)

    def new_executions(self, wait_s: float = 2.0) -> list[dict]:
        """Executions started since the previous call, once the status
        store has marked each of them finished."""
        deadline = time.time() + wait_s
        while True:
            ex = self._get(f"/sql?details=true&planDescription=true"
                           f"&offset={self.seen_exec}&length=100000")
            if all(e["status"] != "RUNNING" for e in ex) \
                    or time.time() > deadline:
                break
            time.sleep(0.05)
        for e in ex:
            e["t0"] = spark_time(e["submissionTime"])
            e["t1"] = e["t0"] + e.get("duration", 0) / 1000.0
        self.seen_exec += len(ex)
        return ex

    def new_stage_skew(self, min_tasks: int) -> list[tuple[float, float]]:
        """(submission time, max/median task run time) of every stage
        completed since the previous call that ran at least
        ``min_tasks`` tasks."""
        out = []
        stages = [s for s in self._get("/stages?status=complete")
                  if s["stageId"] > self.seen_stage]
        for s in stages:
            if s["numTasks"] < min_tasks:
                continue
            q = self._get(f"/stages/{s['stageId']}/{s['attemptId']}"
                          f"/taskSummary?quantiles=0.5,1.0")
            med, mx = q["executorRunTime"]
            if med > 0:
                out.append((spark_time(s["submissionTime"]), mx / med))
        if stages:
            self.seen_stage = max(s["stageId"] for s in stages)
        return out


# (node name, SQL metric, layer metric); every match is summed
NODE_SUMS = [
    ("Scan", "scan time", "scan.time_s"),
    ("Scan", "size of files read", "scan.bytes_read"),
    ("Scan", "number of files read", "scan.files_read"),
    ("Exchange", "shuffle bytes written", "exchange.shuffle_write_bytes"),
    ("Exchange", "shuffle records written", "exchange.shuffle_records"),
    ("AQEShuffleRead", "number of partitions", "exchange.aqe_partitions"),
    ("ShuffledHashJoin", "spill size", "exchange.spill_bytes"),
    ("SortMergeJoin", "spill size", "exchange.spill_bytes"),
    ("ShuffledHashJoin", "time to build hash map", "join.build_s"),
    ("BroadcastHashJoin", "time to build hash map", "join.build_s"),
    ("BroadcastExchange", "time to collect", "join.broadcast_s"),
    ("BroadcastExchange", "time to build", "join.broadcast_s"),
    ("BroadcastExchange", "time to broadcast", "join.broadcast_s"),
    ("HashAggregate", "time in aggregation build", "agg.time_s"),
    ("ObjectHashAggregate", "time in aggregation build", "agg.time_s"),
    ("Sort", "sort time", "sort.time_s"),
    ("Sort", "spill size", "sort.spill_bytes"),
    ("*", "time to run Python workers", "python.run_s"),
    ("*", "data sent to Python workers", "python.bytes_out"),
    ("*", "data returned from Python workers", "python.bytes_in"),
    ("*", "time to start Python workers", "python.boot_s"),
    ("*", "time to initialize Python workers", "python.boot_s"),
]
NODE_MAX = [("HashAggregate", "peak memory", "agg.peak_mem_bytes")]
JOIN_NODES = ("BroadcastHashJoin", "ShuffledHashJoin", "SortMergeJoin",
              "BroadcastNestedLoopJoin", "CartesianProduct")


def node_rollup(executions: list[dict]) -> dict[str, float]:
    out: dict[str, float] = {}
    for e in executions:
        for n in e["nodes"]:
            kind = n["nodeName"].split(" ")[0]
            metrics = {m["name"]: m["value"] for m in n["metrics"]}
            for node, metric, key in NODE_SUMS:
                if (node == "*" or node == kind) and metric in metrics:
                    out[key] = out.get(key, 0.0) + parse_metric(metrics[metric])
            for node, metric, key in NODE_MAX:
                if node == kind and metric in metrics:
                    out[key] = max(out.get(key, 0.0),
                                   parse_metric(metrics[metric]))
    return out


def max_join_rows(executions: list[dict]) -> float:
    """Rows emitted by the largest join node: for an LSH or ANN stage,
    the bucket-collision pairs its candidate self-join generated."""
    best = 0.0
    for e in executions:
        for n in e["nodes"]:
            if n["nodeName"].split(" ")[0] in JOIN_NODES:
                for m in n["metrics"]:
                    if m["name"] == "number of output rows":
                        best = max(best, parse_metric(m["value"]))
    return best


def writes_into(executions: list[dict], path: str) -> list[dict]:
    """Executions whose plan writes files under ``path``."""
    return [e for e in executions
            if path in e.get("planDescription", "")
            and ("InsertIntoHadoopFsRelationCommand" in e["planDescription"]
                 or "WriteFiles" in e["planDescription"])]


def written_bytes(executions: list[dict]) -> float:
    total = 0.0
    for e in executions:
        for n in e["nodes"]:
            for m in n["metrics"]:
                if m["name"] == "written output":
                    total += parse_metric(m["value"])
    return total


def median(values, default: float = 0.0) -> float:
    values = list(values)
    return statistics.median(values) if values else default

"""The ingest half of ``curation_ingest``: seeded events replayed as
parquet micro-batches.

One step replays every input file through two standing queries, each
with ``availableNow`` and one file per micro-batch, from fresh
checkpoint and sink directories:

* ``streaming.joins.stream_stream_join_outer``: clicks left-outer
  joined with the purchases of the hour before, watermarked, into a
  parquet sink;
* ``streaming.dedup.streaming_minhash_dedup``: each batch of documents
  probes a MinHash LSH index (built once with
  ``dedup.minhash_index_write``) through ``minhash_dedup_incremental``
  and appends its novel documents.

The operation is the replay; the micro-batch latencies (Spark's
``triggerExecution``) are reported as ``batch_p50_s``/``batch_p90_s``. The oracle checks the join sink against DuckDB
(every batch-join match present and nothing else, late clicks dropped,
unmatched clicks emitted once the watermark passes them) and every
near-dup match against exact word-shingle Jaccard.
"""

from __future__ import annotations

import math
import os
import shutil
import time

import duckdb
import numpy as np
import pandas as pd
import pyarrow.parquet as pq

from charmpandas_spark.functions import dedup
from charmpandas_spark.streaming import dedup as sdedup
from charmpandas_spark.streaming import joins, windows
from common import Step, tree_cpu_s

JACCARD = 0.7
NGRAM = 3
MAX_DELAY = "1 hour"
WATERMARK = "1 hour"


def word_shingles(t: str) -> frozenset:
    """The word 3-shingle set of ``dedup.shingle_table(use_chars=False)``."""
    w = " ".join(t.lower().split()).split(" ")
    return frozenset(" ".join(w[i:i + NGRAM])
                     for i in range(max(len(w) - NGRAM, 0) + 1))


class StreamIngest:
    def __init__(self, data_dir: str, work: str):
        self.d = data_dir
        self.work = work
        self.rounds = 0

    def path(self, name: str) -> str:
        return os.path.join(self.d, name)

    # -- oracle -------------------------------------------------------------
    def prepare(self) -> None:
        con = duckdb.connect()
        con.execute("SET threads TO 4")
        for t in ("clicks", "purchases"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{self.path(t)}/*.parquet')")
        self.matches = set(con.execute(f"""
            SELECT c.click_id, p.purchase_id FROM clicks c
            JOIN purchases p ON c.user_id = p.user_id
             AND p.ts <= c.ts AND p.ts >= c.ts - INTERVAL {MAX_DELAY}
        """).fetchall())
        clicks = con.execute("SELECT click_id, user_id, ts FROM clicks").df()
        con.close()
        late = clicks["user_id"].str.startswith("late")
        self.late = set(clicks.loc[late, "click_id"])
        matched = {c for c, _ in self.matches}
        on_time = clicks[~late & ~clicks["click_id"].isin(matched)]
        self.unmatched_ts = dict(zip(on_time["click_id"], on_time["ts"]))
        base = pd.read_parquet(self.path("base.parquet"))
        probe = pd.read_parquet(self.path("probe"))
        self.text = dict(zip(base["id"], base["text"]))
        self.text.update(zip(probe["id"], probe["text"]))
        self._sh: dict = {}
        planted = pd.read_parquet(self.path("probe_planted.parquet"))
        self.probe_truth = {
            (d, s) for d, s in planted.itertuples(index=False)
            if self.jacc(d, s) >= JACCARD}

    def jacc(self, a, b) -> float:
        for i in (a, b):
            if i not in self._sh:
                self._sh[i] = word_shingles(self.text[i])
        sa, sb = self._sh[a], self._sh[b]
        return len(sa & sb) / len(sa | sb)

    # -- session --------------------------------------------------------------
    def start(self, spark) -> None:
        """Build the pristine index once; every step probes a copy."""
        self.index = os.path.join(self.work, "index")
        t0 = time.perf_counter()
        base = spark.read.parquet(self.path("base.parquet"))
        dedup.minhash_index_write(base, "text", "id", self.index)
        self.index_build_s = time.perf_counter() - t0

    def install_spans(self, tracer) -> None:
        tracer.wrap(dedup, "minhash_dedup_incremental", "index.probe")

    # -- one step: replay all files through both queries ------------------------
    def _replay(self, spark, inputs: str, index: str, out: str):
        clicks = windows.stream_from_parquet(
            spark, os.path.join(inputs, "clicks"))
        purchases = windows.stream_from_parquet(
            spark, os.path.join(inputs, "purchases"))
        joined = joins.stream_stream_join_outer(
            clicks, purchases, "user_id", max_delay=MAX_DELAY,
            watermark=WATERMARK)
        q1 = (joined.writeStream.format("parquet")
              .option("path", os.path.join(out, "join_sink"))
              .option("checkpointLocation", os.path.join(out, "join_ck"))
              .outputMode("append").trigger(availableNow=True).start())
        q1.awaitTermination()
        docs = windows.stream_from_parquet(spark, os.path.join(inputs,
                                                               "probe"))
        q2 = sdedup.streaming_minhash_dedup(
            docs, index, "text", "id", os.path.join(out, "probe_sink"),
            os.path.join(out, "probe_ck"))
        q2.awaitTermination()
        sdedup.release_streaming_cache(q2)
        for q in (q1, q2):
            if q.exception() is not None:
                raise RuntimeError(str(q.exception()))
        return q1.recentProgress, q2.recentProgress

    def step(self, spark, tracer) -> Step:
        self.rounds += 1
        out = os.path.join(self.work, f"round-{self.rounds}")
        index = os.path.join(out, "index")
        shutil.copytree(self.index, index)
        spark.catalog.clearCache()
        c0 = tree_cpu_s()
        w0, t0 = time.time(), time.perf_counter()
        p_join, p_probe = self._replay(spark, self.d, index, out)
        wall = time.perf_counter() - t0
        w1 = time.time()
        cpu = tree_cpu_s() - c0
        try:
            ok, found, expected = self._check(p_join, out)
        finally:
            shutil.rmtree(out, ignore_errors=True)
        progress = [("join", p) for p in p_join] + \
                   [("probe", p) for p in p_probe]
        batches = [p["durationMs"]["triggerExecution"] / 1000
                   for _, p in progress]
        rows = sum(p["numInputRows"] for _, p in progress)
        st = Step([wall], rows, wall, ok, found, expected, tag="round",
                  t0=w0, t1=w1, cpu=cpu)
        st.progress = progress
        st.batches = batches
        st.out = out
        named = sum(v for _, p in progress
                    for k, v in p["durationMs"].items()
                    if k != "triggerExecution")
        st.unattributed = max(0.0, 1 - named / (1000 * sum(batches)))
        return st

    def _check(self, p_join, out):
        sink = pq.read_table(os.path.join(out, "join_sink"),
                             columns=["click_id", "purchase_id"]).to_pandas()
        got = sink[sink["purchase_id"].notna()]
        pairs = set(zip(got["click_id"],
                        got["purchase_id"].astype("int64")))
        ok = pairs == self.matches and len(got) == len(pairs)
        unmatched = sink.loc[sink["purchase_id"].isna(), "click_id"]
        ok &= unmatched.is_unique and not set(unmatched) & self.late
        ok &= set(unmatched) <= set(self.unmatched_ts)
        # no purchase at or after the final watermark can match a click
        # older than it, so those clicks must have been emitted with nulls
        wm = pd.Timestamp(p_join[-1]["eventTime"]["watermark"]) \
            .tz_convert(None)
        due = {c for c, ts in self.unmatched_ts.items()
               if ts < wm - pd.Timedelta(minutes=10)}
        ok &= len(due) > 0
        ok &= due <= set(unmatched)
        probe = pq.read_table(os.path.join(out, "probe_sink")).to_pandas()
        found = set()
        for d, m, j in probe[["doc", "matched_doc", "jaccard"]] \
                .itertuples(index=False):
            exact = self.jacc(d, m)
            ok &= exact >= JACCARD and \
                math.floor(exact * 10000) / 10000 == j
            found.add((d, m))
        return (bool(ok), len(found & self.probe_truth),
                len(self.probe_truth))

    # -- reporting -----------------------------------------------------------------
    def layer_metrics(self, steps, tracer) -> dict:
        import layers

        steps = [s for s in steps if s.tag == "round"]
        if not steps:
            return {}
        prog = [p for s in steps for p in s.progress]
        join = [p for s in steps for q, p in s.progress if q == "join"]
        probe_batches = sum(1 for s in steps for q, _ in s.progress
                            if q == "probe")

        def dur(key):
            return layers.median(q[1]["durationMs"].get(key, 0) for q in prog)
        ops = [o for p in join for o in p.get("stateOperators", [])]
        sink_w, idx_w = [], []
        for s in steps:
            sink_w += layers.writes_into(s.executions, s.out + "/join_sink")
            sink_w += layers.writes_into(s.executions, s.out + "/probe_sink")
            idx_w += layers.writes_into(s.executions, s.out + "/index")
        n = len(steps)
        probe_span = sum(sp.dur for s in steps
                         for sp in tracer.between(s.t0, s.t1)
                         if sp.name == "index.probe")
        append_s = sum(e["t1"] - e["t0"] for e in idx_w)
        return {
            "streaming.add_batch_ms": dur("addBatch"),
            "streaming.planning_ms": dur("queryPlanning"),
            "streaming.wal_commit_ms": dur("walCommit"),
            "streaming.commit_offsets_ms": dur("commitOffsets"),
            "state.commit_ms": layers.median(o["commitTimeMs"] for o in ops),
            "state.rows_total": max((o["numRowsTotal"] for o in ops),
                                    default=0),
            "state.memory_bytes": max((o["memoryUsedBytes"] for o in ops),
                                      default=0),
            "state.dropped_by_watermark": sum(
                o["numRowsDroppedByWatermark"] for o in ops) / n,
            "state.store_instances": max(
                (o.get("numStateStoreInstances", 0) for o in ops),
                default=0),
            "index.probe_s": (probe_span - append_s) / max(1, probe_batches),
            "index.append_s": append_s / max(1, probe_batches),
            "index.build_s": self.index_build_s,
            "sinks.write_s": sum(e["t1"] - e["t0"] for e in sink_w) / n,
            "sinks.write_bytes": layers.written_bytes(sink_w) / n,
        }

    def aliases(self, steps):
        steps = [s for s in steps if s.tag == "round"]
        if not steps:
            return []
        lat = [x for s in steps for x in s.batches]
        return [("ingest_rows_per_s", sum(s.rows for s in steps)
                 / sum(s.wall for s in steps), "rows/s"),
                ("batch_p50_s", float(np.percentile(lat, 50)), "s"),
                ("batch_p90_s", float(np.percentile(lat, 90)), "s"),
                ("batches", len(lat), "count")]

"""The curation half of ``curation_ingest``: one LLM-curation pass.

The pass runs the library's public curation functions over the seeded
corpus: ``functions.text`` quality score plus the ``functions.quality``
Gopher filter, ``dedup.exact_dedup``, ``dedup.minhash_near_dup`` and
``dedup.connected_components`` (keep one document per near-dup
cluster), ``similarity.cosine_pairs_ann`` semantic dedup over the
embeddings, and a parquet write of the survivors. Each stage is
materialized inside its own span, so a stage's time is its own work.

The oracle re-derives every stage outside the timed region: the
quality filter through the library's DuckDB twins, exact dedup in
pandas, and the LSH and ANN stages by exact Jaccard and cosine, with
precision required to be 1 and recall reported against planted plus
verified pairs.
"""

from __future__ import annotations

import math
import os
import re
import shutil
import statistics
import time
from contextlib import nullcontext

import duckdb
import numpy as np
import pandas as pd
import pyarrow.parquet as pq
from pyspark import StorageLevel
from pyspark.sql import functions as F

import charmpandas_spark as cps
from charmpandas_spark.functions import dedup, quality, similarity, text
from common import Step, tree_cpu_s

JACCARD = 0.7
COSINE = 0.95
MIN_QUALITY = 0.3
GOPHER = dict(min_words=20, min_stopwords=2)
SHINGLE_K = 5


def shingles(t: str) -> frozenset:
    """The char 5-shingle set ``dedup.shingle_table`` builds."""
    s = re.sub(r"\s+", " ", t.lower()).strip()
    return frozenset(s[i:i + SHINGLE_K]
                     for i in range(max(len(s) - SHINGLE_K + 1, 1)))


def jaccard(a: frozenset, b: frozenset) -> float:
    return len(a & b) / len(a | b)


def floor4(x: float) -> float:
    return math.floor(x * 10000) / 10000


class CurationDedup:
    def __init__(self, data_dir: str, work: str):
        self.d = data_dir
        self.work = work
        self.passes = 0

    # -- oracle inputs (before Spark starts) --------------------------------
    def prepare(self) -> None:
        docs_glob = os.path.join(self.d, "docs", "*.parquet")
        con = duckdb.connect()
        con.execute("SET threads TO 4")
        con.execute(f"CREATE VIEW docs AS SELECT * FROM "
                    f"read_parquet('{docs_glob}')")
        sql = (quality.gopher_quality_sql("text", "id", **GOPHER)
               + ", " + text.quality_score_sql("text") + " AS q FROM docs")
        kept = con.execute(f"SELECT id FROM ({sql}) WHERE keep = 1 "
                           f"AND q >= {MIN_QUALITY}").df()
        docs = con.execute("SELECT id, text, emb FROM docs").df()
        con.close()
        self.text = dict(zip(docs["id"], docs["text"]))
        self.emb = dict(zip(docs["id"], docs["emb"]))
        self.kept = set(kept["id"].tolist())
        norm = docs[docs["id"].isin(self.kept)].copy()
        norm["n"] = norm["text"].map(
            lambda t: re.sub(r"\s+", " ", t.lower()).strip())
        self.exact = set(norm.groupby("n")["id"].min().tolist())
        self.docs = len(docs)
        truth = pd.read_parquet(os.path.join(self.d, "truth.parquet"))
        self.clusters = [set(g["id"]) & self.exact
                         for _, g in truth[truth["cluster"] >= 0]
                         .groupby("cluster")]
        self.emb_pairs = pd.read_parquet(
            os.path.join(self.d, "emb_pairs.parquet"))
        self._sh: dict = {}
        self._nd_truth = None

    def sh(self, i) -> frozenset:
        if i not in self._sh:
            self._sh[i] = shingles(self.text[i])
        return self._sh[i]

    # -- session ------------------------------------------------------------
    def start(self, spark) -> None:
        pass

    def install_spans(self, tracer) -> None:
        tracer.wrap(quality, "gopher_quality", "quality.gopher_quality")
        tracer.wrap(dedup, "exact_dedup", "dedup.exact_dedup")
        tracer.wrap(dedup, "minhash_near_dup", "dedup.minhash_near_dup")
        tracer.wrap(dedup, "connected_components",
                    "dedup.connected_components")
        tracer.wrap(similarity, "cosine_pairs_ann",
                    "similarity.cosine_pairs_ann")

    # -- the pipeline ----------------------------------------------------------
    def _pass(self, docs, out_path: str, tracer=None) -> dict:
        """One pass. Every stage output is persisted and counted inside
        its stage; the persisted frames are returned for the oracle."""
        keep = []
        span = tracer.span if tracer else (lambda name: nullcontext())

        def pin(df):
            df = df.persist(StorageLevel.MEMORY_AND_DISK)
            df.count()
            keep.append(df)
            return df

        with span("text.quality"):
            gq = quality.gopher_quality(docs, "text", "id", **GOPHER)
            kept = pin(docs.withColumn("q", text.quality_score("text"))
                           .join(gq.filter("keep = 1").select("id"), "id")
                           .filter(F.col("q") >= MIN_QUALITY)
                           .select("id", "text", "emb"))
        with span("dedup.exact"):
            ex = pin(dedup.exact_dedup(kept, "text", "id"))
        with span("dedup.minhash"):
            pairs = dedup.minhash_near_dup(ex, "text", "id",
                                           threshold=JACCARD)
            nd = pin(pairs)
            dedup.release(pairs)
        with span("dedup.components"):
            comp = pin(dedup.connected_components(nd, "doc_a", "doc_b"))
            nd_surv = pin(ex.join(comp.filter("v != component")
                                      .select(F.col("v").alias("id")),
                                  "id", "left_anti"))
        with span("similarity.cosine_pairs"):
            cp = similarity.cosine_pairs_ann(nd_surv, "emb", "id",
                                             threshold=COSINE)
            sem = pin(cp)
            dedup.release(cp)
        with span("sinks.write"):
            final = nd_surv.join(sem.select(F.col("id_b").alias("id")),
                                 "id", "left_anti").select("id", "text")
            cps.write_parquet(cps.DataFrame(final), out_path)
        return {"kept": kept, "ex": ex, "nd": nd, "comp": comp,
                "sem": sem, "keep": keep}

    def step(self, spark, tracer) -> Step:
        self.passes += 1
        out_path = os.path.join(self.work, f"survivors-{self.passes}")
        spark.catalog.clearCache()
        c0 = tree_cpu_s()
        w0, t0 = time.time(), time.perf_counter()
        docs = cps.read_parquet(spark, os.path.join(self.d, "docs")).sdf
        res = self._pass(docs, out_path, tracer)
        lat = time.perf_counter() - t0
        w1 = time.time()
        cpu = tree_cpu_s() - c0
        try:
            ok, found, expected, layer = self._check(res, out_path)
        finally:
            for df in res["keep"]:
                df.unpersist()
            shutil.rmtree(out_path, ignore_errors=True)
        return Step([lat], self.docs, lat, ok, found, expected,
                    tag="pass", t0=w0, t1=w1, layer=layer, cpu=cpu)

    # -- oracle ------------------------------------------------------------------
    def _check(self, res, out_path):
        ids = lambda df, c="id": set(  # noqa: E731
            df.select(c).toPandas()[c].tolist())
        ok = ids(res["kept"]) == self.kept
        ok &= ids(res["ex"]) == self.exact
        nd = res["nd"].toPandas()
        # LSH precision: every reported pair verifies by exact Jaccard
        found = set()
        for a, b, j in nd.itertuples(index=False):
            exact = jaccard(self.sh(a), self.sh(b))
            ok &= a < b and a in self.exact and b in self.exact
            ok &= exact >= JACCARD and floor4(exact) == j
            found.add((a, b))
        if self._nd_truth is None:
            self._nd_truth = {
                (a, b) for c in self.clusters for a in c for b in c
                if a < b and jaccard(self.sh(a), self.sh(b)) >= JACCARD}
        nd_truth = self._nd_truth | found
        # connected components of the found pairs, labelled by min id
        parent: dict = {}

        def root(x):
            while parent.get(x, x) != x:
                x = parent[x]
            return x
        for a, b in sorted(found):
            ra, rb = root(a), root(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        comp = res["comp"].toPandas()
        want = {v: root(v) for v in {x for p in found for x in p}}
        ok &= dict(zip(comp["v"], comp["component"])) == want
        nd_surv = {i for i in self.exact if root(i) == i}
        # ANN precision against exact cosine; recall against planted
        sem = res["sem"].toPandas()
        sem_found = set()
        for a, b, c in sem.itertuples(index=False):
            va = np.asarray(self.emb[a], dtype="float64")
            vb = np.asarray(self.emb[b], dtype="float64")
            cos = float(va @ vb / (np.linalg.norm(va) * np.linalg.norm(vb)))
            ok &= a < b and a in nd_surv and b in nd_surv
            ok &= cos >= COSINE - 1e-9 and abs(floor4(cos) - c) <= 1e-4
            sem_found.add((a, b))
        planted = {(min(a, b), max(a, b))
                   for a, b in self.emb_pairs.itertuples(index=False)
                   if a in nd_surv and b in nd_surv}
        sem_truth = planted | sem_found
        final = set(pq.read_table(out_path, columns=["id"])
                    .column("id").to_pylist())
        ok &= final == nd_surv - {b for _, b in sem_found}
        layer = {"verified_pairs": len(found), "sem_pairs": len(sem_found),
                 "components_iterations": cc_rounds(found)}
        return (bool(ok), len(found & nd_truth) + len(sem_found & sem_truth),
                len(nd_truth) + len(sem_truth), layer)

    # -- reporting ---------------------------------------------------------------
    def layer_metrics(self, steps, tracer) -> dict:
        import layers

        out = {}
        steps = [s for s in steps if s.tag == "pass"]
        if not steps:
            return {}
        spans = [sp for s in steps for sp in tracer.between(s.t0, s.t1)]
        n = len(steps)
        for stage, key in (("text.quality", "text.quality_s"),
                           ("dedup.exact", "dedup.exact_s"),
                           ("dedup.minhash", "dedup.minhash_s"),
                           ("dedup.components", "dedup.components_s"),
                           ("similarity.cosine_pairs",
                            "similarity.cosine_pairs_s"),
                           ("sinks.write", "sinks.write_s")):
            out[key] = sum(sp.dur for sp in spans if sp.name == stage) / n
        execs = [e for s in steps for e in s.executions]

        def in_stage(stage):
            return [e for e in execs for sp in spans
                    if sp.name == stage and sp.t0 <= e["t0"] <= sp.t1]
        verified = sum(s.layer.get("verified_pairs", 0) for s in steps) / n
        sem = sum(s.layer.get("sem_pairs", 0) for s in steps) / n
        cand = layers.max_join_rows(in_stage("dedup.minhash"))
        sim_cand = layers.max_join_rows(in_stage("similarity.cosine_pairs"))
        out.update({
            "dedup.verified_pairs": verified,
            "dedup.lsh_candidates": cand,
            "dedup.lsh_precision": verified / cand if cand else 0.0,
            "similarity.candidates": sim_cand,
            "similarity.precision": sem / sim_cand if sim_cand else 0.0,
            "dedup.components_iterations": layers.median(
                s.layer.get("components_iterations", 0) for s in steps),
            "sinks.write_bytes": layers.written_bytes(in_stage("sinks.write"))
            / n,
        })
        return out

    def aliases(self, steps):
        steps = [s for s in steps if s.tag == "pass"]
        if not steps:
            return []
        return [("docs_per_s", sum(s.rows for s in steps)
                 / sum(s.wall for s in steps), "docs/s"),
                ("near_dup_recall", sum(s.found for s in steps)
                 / max(1, sum(s.expected for s in steps)), "ratio"),
                ("pass_s", statistics.median(s.wall for s in steps), "s"),
                ("passes", len(steps), "count")]


def cc_rounds(pairs) -> int:
    """Rounds min-label propagation takes to reach its fixed point on
    the pair graph, counting the final no-change round, as
    ``dedup.connected_components`` runs it."""
    if not pairs:
        return 1
    nbrs: dict = {}
    for a, b in pairs:
        nbrs.setdefault(a, {a}).add(b)
        nbrs.setdefault(b, {b}).add(a)
    lbl = {v: v for v in nbrs}
    rounds = 0
    while True:
        rounds += 1
        new = {v: min(lbl[u] for u in ns) for v, ns in nbrs.items()}
        if new == lbl:
            return rounds
        lbl = new

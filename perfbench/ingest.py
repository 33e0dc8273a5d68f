"""curation_ingest: an LLM-curation pass, then a stream-ingest replay.

One step runs the two halves back to back in one session and returns
one record each:

* ``curation.CurationDedup``: one curation pass over a seeded corpus
  (quality filter, exact dedup, MinHash near-dup, connected components,
  ANN semantic dedup, survivor write);
* ``stream.StreamIngest``: one ``availableNow`` replay through the
  stream-stream join and the near-dup index probe.

Each half is one operation. Finer units (stages, micro-batches) mix
kinds of work whose order by latency shifts from run to run, which
moved a run's median between kinds; the micro-batch percentiles are
printed on the workload lines instead.

They share a workload because each is a one-shot job whose cost is
mostly a fresh session's first pass: run as separate workloads, each
run would pay the JVM launch and set-up again, and the benchmark would
not fit its time budget. The halves touch disjoint inputs and outputs.
"""

from __future__ import annotations

import os

from curation import CurationDedup
from stream import StreamIngest


class CurationIngest:
    inputs = ["curation_dedup", "stream_ingest"]
    warmup_steps = 0  # one-shot jobs: measured from a fresh session
    min_steps = 1
    python_workers = True  # text, MinHash and ANN UDFs

    def __init__(self, data: dict, work: str):
        self.parts = [
            CurationDedup(data["curation_dedup"][0],
                          os.path.join(work, "curation")),
            StreamIngest(data["stream_ingest"][0],
                         os.path.join(work, "ingest")),
        ]

    def _each(self, method: str, *args) -> None:
        for p in self.parts:
            getattr(p, method)(*args)

    def prepare(self) -> None:
        self._each("prepare")

    def start(self, spark) -> None:
        self.parts[0].start(spark)

    def install_spans(self, tracer) -> None:
        self._each("install_spans", tracer)

    def step(self, spark, tracer) -> list:
        curation, ingest = self.parts
        out = [curation.step(spark, tracer)]
        if not hasattr(ingest, "index"):
            # untimed, between the halves: the pass has already paid
            # for the MinHash code path the index build shares
            ingest.start(spark)
        return out + [ingest.step(spark, tracer)]

    def layer_metrics(self, steps, tracer) -> dict:
        """Both halves' metrics; the sink metrics both report add up to
        the sink work of one step."""
        out: dict = {}
        for p in self.parts:
            for k, v in p.layer_metrics(steps, tracer).items():
                out[k] = out.get(k, 0.0) + v
        return out

    def aliases(self, steps) -> list:
        return [a for p in self.parts for a in p.aliases(steps)]

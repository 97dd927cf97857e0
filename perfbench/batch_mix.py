"""``batch_mix``: the two read-heavy batch uses in one run.

A cycle runs one ``query_mix`` round (every query of the mix once, in a
seed-shuffled order) and then one ``corpus_curation`` pass; cycles
repeat until the window ends. One run thus reaches the plans, dedup,
similarity and textstats layers while paying for one JVM and one
set-up, which is what lets the benchmark gate them within its time
budget.

``latency_p50_s`` is the median query (as in ``query_mix``);
``throughput_per_s`` is documents per second of the median pass (as in
``corpus_curation``).
"""

from __future__ import annotations

import time

import harness as H
from corpus_curation import CorpusCuration
from query_mix import ROUNDS, QueryMix


class BatchMix:
    name = "batch_mix"

    def __init__(self, work: str, seed: int, seconds: float, scale: str) -> None:
        self.seconds = seconds
        self.qm = QueryMix(work, seed, seconds, scale)
        self.cc = CorpusCuration(work, seed, seconds, scale)
        self.cycles: list[dict] = []

    def generate(self) -> dict:
        return {"query_mix": self.qm.generate(), "corpus_curation": self.cc.generate()}

    def prepare(self, spark) -> None:
        self.qm.prepare(spark)
        self.cc.prepare(spark)

    def run(self, spark, tracer: H.Tracer) -> None:
        def cycle(k: int) -> None:
            t0 = time.perf_counter()
            self.qm.one_round(spark, tracer, k)
            self.cc.one_pass(spark, tracer, k)
            self.cycles.append({"wall": time.perf_counter() - t0, "traced": tracer.enabled})

        H.closed_loop(self.seconds, tracer, cycle, limit=ROUNDS)

    def check(self, spark) -> tuple[int, int, dict]:
        qa, qf, qc = self.qm.check(spark)
        ca, cf, cc = self.cc.check(spark)
        return qa + ca, qf + cf, {"query_mix": qc, "corpus_curation": cc}

    # -- metrics ----------------------------------------------------------
    def end_to_end(self) -> dict:
        return {"latency_p50_s": self.qm.end_to_end()["latency_p50_s"],
                "throughput_per_s": self.cc.end_to_end()["throughput_per_s"]}

    def detail(self) -> dict:
        return {"cycles": len(self.cycles), "query_mix": self.qm.detail(),
                "corpus_curation": self.cc.detail()}

    def traced_ops(self, layer: str) -> int:
        part = self.qm if layer == "plans" else self.cc
        return part.traced_ops(layer)

    def per_layer(self, tracer: H.Tracer, counters: dict) -> dict:
        out = {**self.qm.per_layer(tracer, counters), **self.cc.per_layer(tracer, counters)}
        out["bench.trace_overhead_frac"] = H.overhead_frac(
            [c["wall"] for c in self.cycles if c["traced"]],
            [c["wall"] for c in self.cycles if not c["traced"]])
        return out

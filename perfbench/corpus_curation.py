"""``corpus_curation``: repeated batch passes of the LLM-data operators.

Inputs are seed-generated documents with planted exact copies, plus the
package's own ``plant_near_dups`` near-copies, and one embedding per
document with ``plant_dup_vectors`` copies. A pass runs

    exact_dedup -> minhash_lsh_pairs -> dedup_clusters ->
    dedup_keep_canonical -> embedding_near_dup_pairs -> quality_score

and writes each stage's output before the next stage reads it.
"""

from __future__ import annotations

import os
import time
from statistics import median

import pyarrow.parquet as pq

import gen
import harness as H

NEAR_OFFSET = 10_000_000
MAX_PASSES = 100

SPECS = {
    "full": gen.CorpusSpec(docs=1000, exact_copies=20, near_every=25, vec_every=25),
    "tiny": gen.CorpusSpec(docs=120, exact_copies=6, near_every=10, vec_every=10),
}

#: (span name, stage) in pass order
STAGES = [
    ("dedup.exact", "exact"),
    ("dedup.minhash_lsh", "pairs"),
    ("dedup.clusters", "clusters"),
    ("dedup.keep_canonical", "kept"),
    ("similarity.near_dup", "vec_pairs"),
    ("textstats.quality", "quality"),
]


class CorpusCuration:
    name = "corpus_curation"

    def __init__(self, work: str, seed: int, seconds: float, scale: str) -> None:
        self.work, self.seed, self.seconds = work, seed, seconds
        self.spec = SPECS[scale]
        self.passes: list[dict] = []

    def generate(self) -> dict:
        gen.write_tables(gen.corpus_tables(self.spec, self.seed), os.path.join(self.work, "corpus"))
        return {"spec": self.spec.record()}

    def _plant(self, spark, src: str, dst: str) -> None:
        """Inputs of a pass: the package's planted near-copies of the
        original documents, plus the generator's exact copies."""
        from data_pipeline_for_real_time_retail_analytics_spark.operators.dedup import (
            plant_near_dups)
        from data_pipeline_for_real_time_retail_analytics_spark.operators.similarity import (
            plant_dup_vectors)

        spec = self.spec
        docs = spark.read.parquet(os.path.join(src, "documents.parquet"))
        originals = docs.where(docs.doc_id < spec.docs)
        planted = plant_near_dups(originals, every=spec.near_every, id_offset=NEAR_OFFSET)
        planted.unionByName(docs.where(docs.doc_id >= spec.docs)).write.parquet(
            os.path.join(dst, "documents"))
        emb = spark.read.parquet(os.path.join(src, "embeddings.parquet"))
        plant_dup_vectors(emb, every=spec.vec_every, id_offset=NEAR_OFFSET).write.parquet(
            os.path.join(dst, "embeddings"))

    def prepare(self, spark) -> None:
        """Plant the inputs, then warm up with one untimed pass over them."""
        self.inputs = os.path.join(self.work, "inputs")
        self._plant(spark, os.path.join(self.work, "corpus"), self.inputs)
        self._pass(spark, H.Tracer(enabled=False), self.inputs, os.path.join(self.work, "warm_pass"))

    def _pass(self, spark, tracer: H.Tracer, inputs: str, out: str) -> None:
        from data_pipeline_for_real_time_retail_analytics_spark.operators import (
            dedup, similarity, textstats)

        read = spark.read.parquet
        docs = read(os.path.join(inputs, "documents"))
        steps = {
            "exact": lambda: dedup.exact_dedup(docs, ["text"]),
            "pairs": lambda: dedup.minhash_lsh_pairs(read(os.path.join(out, "exact"))),
            "clusters": lambda: dedup.dedup_clusters(read(os.path.join(out, "pairs"))),
            "kept": lambda: dedup.dedup_keep_canonical(
                read(os.path.join(out, "exact")), read(os.path.join(out, "clusters"))),
            "vec_pairs": lambda: similarity.embedding_near_dup_pairs(
                read(os.path.join(inputs, "embeddings"))),
            "quality": lambda: textstats.quality_score(read(os.path.join(out, "kept"))),
        }
        for span, stage in STAGES:
            with tracer.span(span):
                steps[stage]().write.parquet(os.path.join(out, stage))

    def one_pass(self, spark, tracer: H.Tracer, k: int) -> None:
        out = os.path.join(self.work, f"pass{k}")
        t0 = time.perf_counter()
        with tracer.span("bench.pass"):
            self._pass(spark, tracer, self.inputs, out)
        self.passes.append({"wall": time.perf_counter() - t0, "traced": tracer.enabled,
                            "out": out})

    def run(self, spark, tracer: H.Tracer) -> None:
        H.closed_loop(self.seconds, tracer, lambda k: self.one_pass(spark, tracer, k),
                      limit=MAX_PASSES)

    # -- checks -----------------------------------------------------------
    def _ids(self, path: str, col: str) -> set:
        return set(pq.read_table(path, columns=[col]).column(col).to_pylist())

    def check(self, spark) -> tuple[int, int, dict]:
        spec = self.spec
        all_ids = self._ids(os.path.join(self.inputs, "documents"), "doc_id")
        copies = set(range(spec.docs, spec.docs + spec.exact_copies))
        near = {(i, i + NEAR_OFFSET) for i in all_ids if i < spec.docs and i + NEAR_OFFSET in all_ids}
        vecs = {(i, i + NEAR_OFFSET) for i in range(0, spec.docs, spec.vec_every)}
        failed, recalls = 0, []
        for p in self.passes:
            kept = self._ids(os.path.join(p["out"], "exact"), "doc_id")
            if all_ids - kept != copies:
                failed += 1
            pairs = pq.read_table(os.path.join(p["out"], "pairs")).to_pandas()
            vp = pq.read_table(os.path.join(p["out"], "vec_pairs")).to_pandas()
            found = set(zip(pairs["doc_a"], pairs["doc_b"]))
            vfound = set(zip(vp["vec_a"], vp["vec_b"]))
            recalls.append((len(found), len(near & found) / len(near),
                            len(vfound), len(vecs & vfound) / len(vecs)))
        self.recall = recalls[-1] if recalls else (0, 0.0, 0, 0.0)
        return len(self.passes), failed, {
            "passes": len(self.passes), "exact_copies_planted": len(copies),
            "near_pairs_planted": len(near), "vector_pairs_planted": len(vecs),
            "dedup_pairs": self.recall[0], "dedup_recall": self.recall[1],
            "similarity_pairs": self.recall[2], "similarity_recall": self.recall[3],
        }

    # -- metrics ----------------------------------------------------------
    def _docs(self) -> int:
        return len(self._ids(os.path.join(self.inputs, "documents"), "doc_id"))

    def _walls(self, traced: bool | None = None) -> list[float]:
        return [p["wall"] for p in self.passes if traced is None or p["traced"] == traced]

    def end_to_end(self) -> dict:
        walls = self._walls()
        return {"latency_p50_s": median(walls), "throughput_per_s": self._docs() / median(walls)}

    def detail(self) -> dict:
        walls = self._walls(False)
        return {"passes": len(self.passes), "pass_p50_s": median(walls),
                "docs_per_s": self._docs() / median(walls)}

    def traced_ops(self, layer: str) -> int:
        return sum(1 for p in self.passes if p["traced"])

    def per_layer(self, tracer: H.Tracer, counters: dict) -> dict:
        out = {}
        for span, _ in STAGES:
            xs = [s.duration for s in tracer.named(span)]
            out[span + "_s"] = median(xs) if xs else 0.0
        out.update({
            "dedup.pairs": self.recall[0], "dedup.recall": self.recall[1],
            "similarity.pairs": self.recall[2], "similarity.recall": self.recall[3],
            "corpus.docs_per_s": self.detail()["docs_per_s"],
            "bench.trace_overhead_frac": H.overhead_frac(self._walls(True), self._walls(False)),
        })
        return out

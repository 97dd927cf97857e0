"""``elt_cdc``: the reference's own CDC-driven ELT path, closed loop.

Each cycle lands one changelog file, calls ``Engine.run_once``
(timestamp change probe, incremental ``FileSource`` extract above the
watermark, ``ValidationEngine.validate`` and the quality gate,
``WarehouseSink.load``), then folds the file into the current-state
table through ``streaming.upsert.streaming_merge_sink``.
"""

from __future__ import annotations

import os
import shutil
import time
from statistics import median

import pyarrow.parquet as pq

import gen
import harness as H

SOURCE = "orders_cdc"
TABLE = "orders_changes"

#: Sizes of the design's sizing prototype: a 300 000-row state and
#: 20 000-row changelog files. On a 4-core box a cycle then takes about
#: 4 s, of which about half grows with the rows (2.2 s with a
#: 30 000-row state and 3 000-row files), so the per-row cost of the
#: write-heavy path shows next to the fixed per-job cost.
SPECS = {
    "full": gen.CdcSpec(state_rows=300_000, change_rows=20_000, files=12),
    "tiny": gen.CdcSpec(state_rows=2_000, change_rows=200, files=6),
}
#: Warm-up: one small cycle. The first timed cycle is about 10 % slower
#: than the next ones after a warm-up at full size too, so the larger
#: warm-up only added set-up time.
WARM = gen.CdcSpec(state_rows=2_000, change_rows=200, files=1)



def _schema():
    from pyspark.sql import types as T

    return T.StructType([
        T.StructField("op", T.StringType()), T.StructField("order_id", T.LongType()),
        T.StructField("customer_id", T.LongType()), T.StructField("status", T.StringType()),
        T.StructField("amount", T.DoubleType()), T.StructField("change_ts", T.TimestampType()),
        T.StructField("seq", T.LongType()),
    ])


def rules():
    from data_pipeline_for_real_time_retail_analytics_spark.plans.validation import (
        Severity, ValidationRule)

    return [
        ValidationRule("order_id_present", "not_null", "order_id"),
        ValidationRule("amount_range", "range", "amount", parameters={"min": 0, "max": 100_000}),
        ValidationRule("op_known", "allowed_values", "op", parameters={"values": gen.OPS}),
        ValidationRule("status_known", "allowed_values", "status",
                       severity=Severity.WARNING, parameters={"values": gen.STATUSES}),
    ]


class Pipeline:
    """One engine + source + detector + merge sink over one directory set."""

    def __init__(self, spark, root: str, table: str, tracer: H.Tracer) -> None:
        from data_pipeline_for_real_time_retail_analytics_spark.engine import Engine
        from data_pipeline_for_real_time_retail_analytics_spark.operators.cdc import WatermarkStore
        from data_pipeline_for_real_time_retail_analytics_spark.operators.detection import (
            TimestampChangeDetector)
        from data_pipeline_for_real_time_retail_analytics_spark.sources.registry import FileSource
        from data_pipeline_for_real_time_retail_analytics_spark.sources.sink import WarehouseSink
        from data_pipeline_for_real_time_retail_analytics_spark.streaming.upsert import (
            streaming_merge_sink)

        self.spark = spark
        self.table = table
        self.landing = os.path.join(root, "landing")
        self.state = os.path.join(root, "state")
        os.makedirs(self.landing, exist_ok=True)
        self.store = WatermarkStore(os.path.join(root, "watermarks"))
        source = FileSource(SOURCE, self.landing)
        detector = TimestampChangeDetector(self.store, ts_col="change_ts")
        self.engine = Engine(spark, rules=rules(), database="default")
        self.engine.register_source(
            source, probe=lambda: detector.detect(SOURCE, table, source.read(spark)))
        # wrap the engine's public steps so run_once's calls are timed
        # (and their Spark jobs tagged) from outside
        e = self.engine
        e.detect = H.traced(tracer, "detection.detect", e.detect)
        e.extract = H.traced(tracer, "sources.extract", e.extract)
        e.validate = H.traced(tracer, "validation.validate", e.validate)
        e.load = H.traced(tracer, "sink.load", e.load)
        self.run_once = H.traced(tracer, "engine.run_once", e.run_once)
        # program-side preparation: the sink table exists before the
        # first cycle, so every cycle appends the same way
        WarehouseSink(spark).create_table(table, _schema())
        sink = streaming_merge_sink(spark, self.state, keys=["order_id"], ts_col="change_ts",
                                    op_col="op", tiebreak_col="seq")
        # the sink is handed the change file as its micro-batch; reading it
        # (a schema job) is part of the merge
        self.merge = H.traced(tracer, "upsert.merge",
                              lambda path, epoch: sink(spark.read.parquet(path), epoch))

    def cycle(self, staged: str, epoch: int):
        landed = os.path.join(self.landing, os.path.basename(staged))
        os.rename(staged, landed)
        prev = self.store.get(SOURCE, self.table)
        report, load = self.run_once(
            SOURCE, self.table, mode="append",
            timestamp_column="change_ts", watermark=prev)
        self.merge(landed, epoch)
        return report, load


class EltCdc:
    name = "elt_cdc"

    def __init__(self, work: str, seed: int, seconds: float, scale: str) -> None:
        self.work, self.seed, self.seconds = work, seed, seconds
        self.spec = SPECS[scale]
        self.staged = os.path.join(work, "cdc_staged")
        self.cycles: list[dict] = []

    # -- inputs -----------------------------------------------------------
    def generate(self) -> dict:
        os.makedirs(self.staged, exist_ok=True)
        self.state_path = os.path.join(self.work, "cdc_state_initial.parquet")
        gen.write_parquet(gen.cdc_state(self.spec, self.seed), self.state_path)
        self.files = []
        for k, t in enumerate(gen.cdc_changes(self.spec, self.seed)):
            path = os.path.join(self.staged, f"changes-{k:05d}.parquet")
            gen.write_parquet(t, path)
            self.files.append(path)
        self.warm_state = os.path.join(self.work, "cdc_warm_state.parquet")
        gen.write_parquet(gen.cdc_state(WARM, self.seed + 1), self.warm_state)
        self.warm_change = gen.cdc_changes(WARM, self.seed + 1)[0]
        return {"spec": self.spec.record(), "files_generated": len(self.files)}

    def _fresh_state(self, root: str, initial: str) -> None:
        state = os.path.join(root, "state")
        os.makedirs(state)
        shutil.copy(initial, os.path.join(state, "part-00000.parquet"))

    # -- set-up -----------------------------------------------------------
    def prepare(self, spark) -> None:
        """Warm-up: one whole cycle over a small copy, in its own table."""
        root = os.path.join(self.work, "warm")
        self._fresh_state(root, self.warm_state)
        pipe = Pipeline(spark, root, "warm", H.Tracer(enabled=False))
        staged = os.path.join(root, "w.parquet")
        gen.write_parquet(self.warm_change, staged)
        pipe.cycle(staged, 0)
        self.root = os.path.join(self.work, "run")
        self._fresh_state(self.root, self.state_path)

    # -- timed window -----------------------------------------------------
    def run(self, spark, tracer: H.Tracer) -> None:
        pipe = Pipeline(spark, self.root, TABLE, tracer)

        def cycle(k: int) -> None:
            staged = self.files[k]
            size = os.path.getsize(staged)
            t0 = time.perf_counter()
            with tracer.span("bench.cycle"):
                report, load = pipe.cycle(staged, k)
            self.cycles.append({
                "wall": time.perf_counter() - t0, "traced": tracer.enabled, "bytes": size,
                "rows": self.spec.change_rows, "loaded": load.rows_loaded if load else 0,
                "load_ok": bool(load and load.success), "validated": report.total_rows,
            })

        H.closed_loop(self.seconds, tracer, cycle, limit=len(self.files))

    # -- checks -----------------------------------------------------------
    def check(self, spark) -> tuple[int, int, dict]:
        n = len(self.cycles)
        bad_cycles = sum(1 for c in self.cycles if not c["load_ok"] or c["loaded"] != c["rows"]
                         or c["validated"] != c["rows"])
        landed = sorted(os.listdir(os.path.join(self.root, "landing")))
        changes = [pq.read_table(os.path.join(self.root, "landing", f)).to_pandas() for f in landed]
        want = gen.fold_changes(pq.read_table(self.state_path).to_pandas(), changes)
        got = (pq.read_table(os.path.join(self.root, "state")).to_pandas()
               .sort_values("order_id", ignore_index=True)[list(want.columns)])
        state_ok = len(got) == len(want) and bool((got.values == want.values).all())
        loaded = spark.table(TABLE).count()
        sink_ok = loaded == n * self.spec.change_rows
        failed = bad_cycles + (0 if state_ok else 1) + (0 if sink_ok else 1)
        return n + 2, failed, {
            "cycles": n, "bad_cycles": bad_cycles, "state_rows": len(got),
            "state_matches_fold": state_ok, "sink_rows": loaded, "sink_rows_ok": sink_ok,
        }

    # -- metrics ----------------------------------------------------------
    def _walls(self, traced: bool | None = None) -> list[float]:
        return [c["wall"] for c in self.cycles if traced is None or c["traced"] == traced]

    def end_to_end(self) -> dict:
        walls = self._walls()
        rows = sum(c["rows"] for c in self.cycles)
        return {"latency_p50_s": median(walls), "throughput_per_s": rows / sum(walls)}

    def detail(self) -> dict:
        """The design's figures, from the untraced cycles."""
        plain = [c for c in self.cycles if not c["traced"]]
        walls = [c["wall"] for c in plain]
        return {"cycles": len(self.cycles), "cycle_walls_s": [c["wall"] for c in self.cycles],
                "cycle_p50_s": median(walls),
                "change_rows_per_s": sum(c["rows"] for c in plain) / sum(walls)}

    def traced_ops(self, layer: str) -> int:
        return sum(1 for c in self.cycles if c["traced"])

    def per_layer(self, tracer: H.Tracer, counters: dict) -> dict:
        traced = [c for c in self.cycles if c["traced"]]
        n = max(len(traced), 1)
        detail = self.detail()

        def p50(name: str) -> float:
            xs = [s.duration for s in tracer.named(name)]
            return median(xs) if xs else 0.0

        run_once = tracer.named("engine.run_once")
        eng_self = [tracer.self_time(s) for s in run_once]
        roots = tracer.named("bench.cycle")
        # share of each cycle's wall time that the layer spans' self
        # times (detection, extract, validation, sink, upsert, engine)
        # leave uncovered
        uncovered = [1.0 - sum(tracer.self_time(s) for s in tracer.spans
                               if s.run_id == r.run_id and s is not r) / r.duration
                     for r in roots]
        up = counters.get("upsert", H.LayerCounters())
        sink = counters.get("sink", H.LayerCounters())
        change_bytes = sum(c["bytes"] for c in traced)
        return {
            "detection.detect_s": p50("detection.detect"),
            "sources.extract_s": p50("sources.extract"),
            "sources.jobs": counters.get("sources", H.LayerCounters()).jobs / n,
            "validation.validate_s": p50("validation.validate"),
            "sink.load_s": p50("sink.load"),
            "sink.jobs": sink.jobs / n,
            "upsert.merge_s": p50("upsert.merge"),
            "upsert.bytes_written": up.output_bytes / n,
            "upsert.write_amplification": up.output_bytes / change_bytes if change_bytes else 0.0,
            "engine.run_once_s": p50("engine.run_once"),
            "engine.self_s": median(eng_self) if eng_self else 0.0,
            "bench.cycle_self_s": median([tracer.self_time(s) for s in roots]) if roots else 0.0,
            "bench.cycle_uncovered_frac": median(uncovered) if uncovered else 0.0,
            "bench.trace_overhead_frac": H.overhead_frac(self._walls(True), self._walls(False)),
            "elt.cycles": len(self.cycles),
            "elt.cycle_p50_s": detail["cycle_p50_s"],
            "elt.change_rows_per_s": detail["change_rows_per_s"],
        }


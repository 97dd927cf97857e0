"""``stream_live``: open-loop event files into two streaming queries.

One generator thread writes parquet event files on a fixed schedule
that does not slow when Spark slows. The run starts from a backlog
already on disk (as after a restart); once both queries have committed
it, the live phase runs for the window. Two queries read the
directory:

* ``landing``    file_stream -> dedup_stream(["event_id"]) ->
                 validated_foreach_batch(invalid_row_filter)
* ``window_agg`` file_stream -> per-minute windowed_aggregate by
                 event_type, update mode

They are two queries because ``dedup_stream`` output cannot feed
``windowed_aggregate``: Spark rejects the second watermark
("Redefining watermark is disallowed").

Latency is measured from outside the program: the generator's log gives
each file's due time, each query's file-source metadata log and offset
log say which batch took the file, and the commit log's file time says
when that batch ended.
"""

from __future__ import annotations

import json
import math
import os
import threading
import time
from statistics import median

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

import gen
import harness as H

QUERIES = ("landing", "window_agg")

#: Both queries fire on the same fixed schedule. Free-running queries
#: drift in and out of phase with each other, which moved median
#: latency by half from run to run.
TRIGGER_S = 2
TRIGGER = f"{TRIGGER_S} seconds"

#: Live rate: 50 000 events/s, half the rate at which batches outgrew
#: the 2 s trigger on a 4-core box in a slow phase (at 100 000 events/s
#: batches took 2.0-2.4 s with the host 2.4 times slower than quiet;
#: quiet, they still fit at 200 000 events/s), so batches keep up in
#: both phases and latency reflects per-batch cost rather than
#: queueing. Backlog: 200 000 events, as after a restart.
SPECS = {
    "full": dict(backlog_files=40, backlog_events_per_file=5_000,
                 live_events_per_file=5_000, files_per_s=10.0),
    "tiny": dict(backlog_files=2, backlog_events_per_file=500,
                 live_events_per_file=50, files_per_s=4.0),
}
#: Warm-up: both queries drain 50 000 events once. With 400 events the
#: catch-up still paid for compiling its hot paths: it ran about 20 %
#: slower, in each of five interleaved pairs.
WARM = gen.EventSpec(backlog_files=10, backlog_events_per_file=5_000, live_files=0,
                     live_events_per_file=0, files_per_s=1.0)


def rules():
    from data_pipeline_for_real_time_retail_analytics_spark.plans.validation import ValidationRule

    return [
        ValidationRule("value_range", "range", "value", parameters={"min": 0, "max": 1_000_000}),
        ValidationRule("type_known", "allowed_values", "event_type",
                       parameters={"values": gen.EVENT_TYPES}),
    ]


class Queries:
    """The two queries over one input directory, each with its own
    checkpoint; ``window_agg``'s updates are folded into ``windows``."""

    def __init__(self, spark, in_dir: str, root: str, watermark_s: int,
                 available_now: bool = False) -> None:
        from data_pipeline_for_real_time_retail_analytics_spark.plans.validation import (
            ValidationEngine)
        from data_pipeline_for_real_time_retail_analytics_spark.streaming import ingest

        delay = f"{watermark_s} seconds"
        self.root = root
        self.out = os.path.join(root, "landing_out")
        self.windows: dict[tuple, tuple[int, float]] = {}
        validator = ValidationEngine(rules=rules())
        landing = ingest.dedup_stream(
            ingest.file_stream(spark, in_dir), ["event_id"], delay=delay)
        agg = ingest.windowed_aggregate(
            ingest.file_stream(spark, in_dir), window="1 minute", delay=delay,
            group_extra=["event_type"])

        def fold(batch_df, epoch_id: int) -> None:
            for r in batch_df.collect():
                self.windows[(r["window_start"], r["event_type"])] = (r["n_events"], r["sum_value"])

        def writer(df, name: str):
            w = df.writeStream.queryName(f"{name}_{os.path.basename(root)}").option(
                "checkpointLocation", self.checkpoint(name))
            if available_now:
                return w.trigger(availableNow=True)
            return w.trigger(processingTime=TRIGGER)

        self.handles = {
            "landing": writer(landing, "landing").foreachBatch(
                ingest.validated_foreach_batch(validator.invalid_row_filter, self.out)).start(),
            "window_agg": writer(agg, "window_agg").outputMode("update").foreachBatch(fold).start(),
        }

    def checkpoint(self, name: str) -> str:
        return os.path.join(self.root, f"ckpt_{name}")

    def drain_and_stop(self, names: list[str], timeout: float = 60.0) -> None:
        """Stop both queries once each has committed every file in
        ``names`` (or ``timeout`` seconds have passed)."""
        checkpoints = [self.checkpoint(q) for q in QUERIES]
        deadline = time.time() + timeout
        while time.time() < deadline and not set(names) <= set(file_commit_times(checkpoints)):
            time.sleep(0.1)
        for q in self.handles.values():
            q.stop()

    def await_done(self) -> None:
        for q in self.handles.values():
            q.awaitTermination()

    def progress(self, name: str) -> list[dict]:
        out = []
        for p in self.handles[name].recentProgress:
            out.append(json.loads(p.json) if hasattr(p, "json") else dict(p))
        return out


# ---------------------------------------------------------------------------
# reading the checkpoint from outside
# ---------------------------------------------------------------------------


def source_log_offsets(checkpoint: str) -> dict[str, int]:
    """file name -> file-source log offset that added it, from the
    source's metadata log (plain and compacted entries alike). The log
    offset is the source's own counter, not the query's batch id: a
    batch that reads no new file (a no-data batch that only advances the
    watermark) takes no offset."""
    src = os.path.join(checkpoint, "sources", "0")
    out: dict[str, int] = {}
    if not os.path.isdir(src):
        return out
    for name in os.listdir(src):
        if name.startswith(".") or name.endswith(".tmp"):
            continue
        with open(os.path.join(src, name)) as fh:
            for line in fh:
                line = line.strip()
                if not line.startswith("{"):
                    continue
                entry = json.loads(line)
                base = os.path.basename(entry["path"])
                b = int(entry["batchId"])
                out[base] = min(b, out.get(base, b))
    return out


def batch_end_offsets(checkpoint: str) -> dict[int, int]:
    """query batch id -> file-source log offset the batch read up to,
    from the offset log (its last line is the one source's offset)."""
    d = os.path.join(checkpoint, "offsets")
    out: dict[int, int] = {}
    if not os.path.isdir(d):
        return out
    for name in os.listdir(d):
        if name.isdigit():
            with open(os.path.join(d, name)) as fh:
                lines = [ln for ln in fh.read().splitlines() if ln.strip()]
            out[int(name)] = int(json.loads(lines[-1])["logOffset"])
    return out


def file_batches(checkpoint: str) -> dict[str, int]:
    """file name -> id of the query batch that took it: the first batch
    whose end offset reaches the file's source log offset."""
    ends = sorted(batch_end_offsets(checkpoint).items())
    out: dict[str, int] = {}
    for name, offset in source_log_offsets(checkpoint).items():
        batch = next((b for b, end in ends if end >= offset), None)
        if batch is not None:
            out[name] = batch
    return out


def commit_times(checkpoint: str) -> dict[int, float]:
    """batch id -> wall time its commit-log file was written."""
    d = os.path.join(checkpoint, "commits")
    out: dict[int, float] = {}
    if not os.path.isdir(d):
        return out
    for name in os.listdir(d):
        if name.isdigit():
            out[int(name)] = os.stat(os.path.join(d, name)).st_mtime
    return out


def file_commit_times(checkpoints: list[str]) -> dict[str, float]:
    """file name -> time the LATER of the queries committed the batch
    that took it; files some query has not committed are absent."""
    per_query = []
    for ck in checkpoints:
        fb, ct = file_batches(ck), commit_times(ck)
        per_query.append({f: ct[b] for f, b in fb.items() if b in ct})
    common = set(per_query[0])
    for m in per_query[1:]:
        common &= set(m)
    return {f: max(m[f] for m in per_query) for f in common}


# ---------------------------------------------------------------------------
# the workload
# ---------------------------------------------------------------------------


class Generator(threading.Thread):
    """Once ``ready()`` holds, writes each live file at its due time
    (staged, then renamed into the watched directory) for ``seconds``,
    and logs due and written times. The schedule starts one period after
    ``ready()`` first holds and does not slow when Spark slows."""

    def __init__(self, tables, names, in_dir: str, stage_dir: str, period: float,
                 ready, seconds: float, ready_timeout: float = 120.0) -> None:
        super().__init__(name="event-generator", daemon=True)
        self.tables, self.names = tables, names
        self.in_dir, self.stage_dir, self.period = in_dir, stage_dir, period
        self.ready, self.seconds, self.ready_timeout = ready, seconds, ready_timeout
        self.log: list[tuple[str, float, float]] = []
        self.t0 = self.stop_at = math.inf
        self._halt = threading.Event()

    def run(self) -> None:
        give_up = time.time() + self.ready_timeout
        while not self.ready():
            if time.time() > give_up or self._halt.wait(0.02):
                return
        self.t0 = time.time() + self.period
        self.stop_at = self.t0 + self.seconds
        for j, (table, name) in enumerate(zip(self.tables, self.names)):
            due = self.t0 + j * self.period
            if due >= self.stop_at:
                break
            if self._halt.wait(max(0.0, due - time.time())):
                break
            staged = os.path.join(self.stage_dir, name)
            gen.write_parquet(table, staged)
            os.rename(staged, os.path.join(self.in_dir, name))
            self.log.append((name, due, time.time()))

    def halt(self) -> None:
        self._halt.set()
        self.join(timeout=30)


class StreamLive:
    name = "stream_live"

    def __init__(self, work: str, seed: int, seconds: float, scale: str) -> None:
        self.work, self.seed, self.seconds = work, seed, seconds
        s = SPECS[scale]
        live = int(math.ceil(seconds * s["files_per_s"])) + 1
        self.spec = gen.EventSpec(live_files=live, **s)
        self.in_dir = os.path.join(work, "events_in")
        self.stage = os.path.join(work, "events_stage")
        self.root = os.path.join(work, "stream_run")
        self.result: dict = {}

    def generate(self) -> dict:
        for d in (self.in_dir, self.stage, self.root):
            os.makedirs(d, exist_ok=True)
        tables = gen.event_files(self.spec, self.seed)
        nb = self.spec.backlog_files
        self.backlog_names = [f"backlog-{k:05d}.parquet" for k in range(nb)]
        for t, name in zip(tables[:nb], self.backlog_names):
            gen.write_parquet(t, os.path.join(self.in_dir, name))
        self.live_tables = tables[nb:]
        self.live_names = [f"live-{k:05d}.parquet" for k in range(len(self.live_tables))]
        self.backlog_events = sum(t.num_rows for t in tables[:nb])
        self.warm_tables = gen.event_files(WARM, self.seed + 1)
        return {"spec": self.spec.record(), "backlog_events": self.backlog_events,
                "live_files_scheduled": len(self.live_names)}

    def prepare(self, spark) -> None:
        """Warm-up: both queries drain a small directory once."""
        warm = os.path.join(self.work, "warm")
        in_dir = os.path.join(warm, "in")
        os.makedirs(in_dir)
        for k, t in enumerate(self.warm_tables):
            gen.write_parquet(t, os.path.join(in_dir, f"w{k}.parquet"))
        Queries(spark, in_dir, warm, WARM.watermark_s, available_now=True).await_done()

    def run(self, spark, tracer: H.Tracer) -> None:
        checkpoints = [os.path.join(self.root, f"ckpt_{q}") for q in QUERIES]

        def caught_up() -> bool:
            return set(self.backlog_names) <= set(file_commit_times(checkpoints))

        with tracer.span("streaming.start"):
            t_start = time.time()
            qs = Queries(spark, self.in_dir, self.root, self.spec.watermark_s)
        # the live phase starts once both queries have committed the
        # backlog, so its first batches do not also drain a queue of live
        # files that arrived during catch-up; it lasts the window
        g = Generator(self.live_tables, self.live_names, self.in_dir, self.stage,
                      1.0 / self.spec.files_per_s, caught_up, self.seconds)
        g.start()
        g.join()
        t_end = time.time()
        committed_at_end = file_commit_times(checkpoints)
        qs.drain_and_stop(self.backlog_names + [name for name, _, _ in g.log])
        self.qs, self.gen_log, self.live_t0 = qs, g.log, g.t0
        self.t_start, self.t_end, self.stop_at = t_start, t_end, g.stop_at
        self.committed_at_end = {f for f, t in committed_at_end.items() if t <= t_end}
        self._measure()

    def _measure(self) -> None:
        qs = self.qs
        commits = file_commit_times([qs.checkpoint(q) for q in QUERIES])
        caught_up = max(commits[f] for f in self.backlog_names)
        # live samples cut to whole trigger periods, so the share of files
        # that just missed a trigger does not depend on where the window
        # cut the last period
        live = [(due, commits[name] - due) for name, due, _ in self.gen_log if name in commits]
        periods = int(max(0.0, self.stop_at - self.live_t0) // TRIGGER_S)
        if periods:
            live = [x for x in live if x[0] < self.live_t0 + periods * TRIGGER_S]
        samples = [lat for _, lat in live]
        lags = [w - due for _, due, w in self.gen_log]
        self.latencies = samples
        self.result = {
            "catchup_s": caught_up - self.t_start,
            "catchup_events_per_s": self.backlog_events / (caught_up - self.t_start),
            "live_files_written": len(self.gen_log),
            "latency_samples": len(samples),
            "trigger_periods_sampled": periods,
            "event_latency_p50_s": median(samples) if samples else 0.0,
            "event_latency_p95_s": H.percentile(samples, 95) if samples else 0.0,
            "tail_percentile_supported": H.tail_percentile(len(samples)),
            "gen_lag_p95_s": H.percentile(lags, 95) if lags else 0.0,
            "backlog_files_end": sum(1 for name, _, _ in self.gen_log
                                     if name not in self.committed_at_end),
            "uncommitted_files": sum(1 for name, _, _ in self.gen_log if name not in commits),
        }
        self.progress = {q: qs.progress(q) for q in QUERIES}
        self.batch_of_last_backlog = {
            q: max(file_batches(qs.checkpoint(q))[f] for f in self.backlog_names) for q in QUERIES}

    # -- checks -----------------------------------------------------------
    def written_events(self) -> pd.DataFrame:
        names = self.backlog_names + [n for n, _, _ in self.gen_log]
        return pd.concat([pq.read_table(os.path.join(self.in_dir, n)).to_pandas() for n in names],
                         ignore_index=True)

    def check(self, spark) -> tuple[int, int, dict]:
        ev = self.written_events()
        valid = ev[(ev["value"] >= 0) & ev["event_type"].isin(gen.EVENT_TYPES)]
        want_ids = np.sort(valid["event_id"].unique())
        landed = pq.read_table(self.qs.out, columns=["event_id"]).column("event_id").to_numpy()
        landing_ok = len(landed) == len(want_ids) and bool((np.sort(landed) == want_ids).all())

        ev = ev.assign(window_start=ev["ts"].dt.floor("min").dt.tz_localize(None))
        fold = ev.groupby(["window_start", "event_type"]).agg(
            n=("value", "size"), s=("value", "sum")).reset_index()
        got = self.qs.windows
        windows_ok = len(got) == len(fold)
        for r in fold.itertuples():
            n, s = got.get((r.window_start.to_pydatetime(), r.event_type), (None, None))
            if n != r.n or s is None or abs(s - round(r.s, 2)) > 0.005:
                windows_ok = False
                break
        dropped = sum(op.get("numRowsDroppedByWatermark", 0)
                      for q in QUERIES for p in self.progress[q]
                      for op in p.get("stateOperators", []))
        files = self.result["live_files_written"]
        no_live = self.result["latency_samples"] == 0
        failed = (self.result["uncommitted_files"] + (not landing_ok) + (not windows_ok)
                  + (dropped != 0) + no_live)
        return files + 4, failed, {
            "landing_rows": int(len(landed)), "distinct_valid_events": int(len(want_ids)),
            "landing_ok": landing_ok, "windows": len(got), "windows_expected": len(fold),
            "window_sums_ok": windows_ok, "rows_dropped_by_watermark": dropped,
            "live_samples_ok": not no_live,
        }

    # -- metrics ----------------------------------------------------------
    def end_to_end(self) -> dict:
        return {"latency_p50_s": self.result["event_latency_p50_s"],
                "throughput_per_s": self.result["catchup_events_per_s"]}

    def detail(self) -> dict:
        return dict(self.result)

    def traced_ops(self, layer: str) -> int:
        return 1

    def per_layer(self, tracer: H.Tracer, counters: dict) -> dict:
        out = {
            "stream.event_latency_p50_s": self.result["event_latency_p50_s"],
            "stream.event_latency_p95_s": self.result["event_latency_p95_s"],
            "stream.catchup_events_per_s": self.result["catchup_events_per_s"],
            "bench.gen_lag_p95_s": self.result["gen_lag_p95_s"],
            "bench.backlog_files_end": self.result["backlog_files_end"],
            # the streaming path carries no spans inside the window: its
            # layer figures are read from progress after the run
            "bench.trace_overhead_frac": 0.0,
        }
        for q in QUERIES:
            out.update(stream_layer(q, self.progress[q], self.batch_of_last_backlog[q]))
        return out


def stream_layer(q: str, progress: list[dict], catchup_batch: int) -> dict:
    """Per-query streaming figures from ``recentProgress``."""
    ran = [p for p in progress if p.get("numInputRows", 0) > 0 or
           "addBatch" in p.get("durationMs", {})]

    def p50(f) -> float:
        xs = [f(p) for p in ran]
        return median(xs) if xs else 0.0

    def d(p, *keys) -> float:
        return float(sum(p.get("durationMs", {}).get(k, 0) for k in keys))

    def ops(p, key) -> float:
        return float(sum(o.get(key, 0) for o in p.get("stateOperators", [])))

    last = progress[-1] if progress else {}
    catchup = [p for p in ran if p.get("batchId") == catchup_batch]
    return {
        f"streaming.{q}.batches": len(ran),
        f"streaming.{q}.trigger_p50_ms": p50(lambda p: d(p, "triggerExecution")),
        f"streaming.{q}.planning_p50_ms": p50(lambda p: d(p, "queryPlanning")),
        f"streaming.{q}.offsets_p50_ms": p50(lambda p: d(p, "latestOffset", "getBatch")),
        f"streaming.{q}.commit_p50_ms": p50(lambda p: d(p, "walCommit", "commitOffsets")),
        f"streaming.{q}.state_rows_end": ops(last, "numRowsTotal"),
        f"streaming.{q}.state_bytes_end": ops(last, "memoryUsedBytes"),
        f"streaming.{q}.state_commit_p50_ms": p50(lambda p: ops(p, "commitTimeMs")),
        f"streaming.{q}.add_batch_p50_ms": p50(lambda p: d(p, "addBatch")),
        f"streaming.{q}.catchup_batch_s": d(catchup[0], "triggerExecution") / 1000 if catchup else 0.0,
    }

"""The per-layer metric list (printed by every workload with --trace 1)
and its assembly from spans, streaming progress and event-log counters.

A workload that does not reach a layer prints 0 for it: that is the
prediction for every layer outside the workload's path.
"""

from __future__ import annotations

import corpus_curation
import harness as H
import query_mix

#: layers the event-log counters are attributed to, by job tag
COUNTED_LAYERS = ["detection", "validation", "sink", "upsert", "streaming",
                  "plans", "dedup", "similarity", "textstats"]

UNITS: dict[str, str] = {
    "session.start_s": "s",
    "bench.generate_s": "s",
    "bench.trace_overhead_frac": "ratio",
}
for _q in ("landing", "window_agg"):
    for _m, _u in (("batches", "count"), ("trigger_p50_ms", "ms"), ("planning_p50_ms", "ms"),
                   ("offsets_p50_ms", "ms"), ("commit_p50_ms", "ms"), ("state_rows_end", "count"),
                   ("state_bytes_end", "bytes"), ("state_commit_p50_ms", "ms"),
                   ("add_batch_p50_ms", "ms"), ("catchup_batch_s", "s")):
        UNITS[f"streaming.{_q}.{_m}"] = _u
UNITS.update({
    "stream.event_latency_p50_s": "s",
    "stream.event_latency_p95_s": "s",
    "stream.catchup_events_per_s": "1/s",
    "bench.gen_lag_p95_s": "s",
    "bench.backlog_files_end": "count",
    "detection.detect_s": "s",
    "sources.extract_s": "s",
    "sources.jobs": "count",
    "validation.validate_s": "s",
    "sink.load_s": "s",
    "sink.jobs": "count",
    "upsert.merge_s": "s",
    "upsert.bytes_written": "bytes",
    "upsert.write_amplification": "ratio",
    "engine.run_once_s": "s",
    "engine.self_s": "s",
    "bench.cycle_self_s": "s",
    "bench.cycle_uncovered_frac": "ratio",
    "elt.cycles": "count",
    "elt.cycle_p50_s": "s",
    "elt.change_rows_per_s": "1/s",
    "plans.build_p50_ms": "ms",
    "plans.execute_p50_s": "s",
    "query.p50_s": "s",
    "query.p90_s": "s",
    "query.per_s": "1/s",
    **{f"plans.{_q}.p50_s": "s" for _q in query_mix.MIX},
    **{f"{_span}_s": "s" for _span, _ in corpus_curation.STAGES},
    "dedup.pairs": "count",
    "dedup.recall": "ratio",
    "similarity.pairs": "count",
    "similarity.recall": "ratio",
    "corpus.docs_per_s": "1/s",
})
for _layer in COUNTED_LAYERS:
    for _m, _u in (("jobs", "count"), ("cpu_s", "s"), ("gc_s", "s"),
                   ("shuffle_bytes", "bytes"), ("input_bytes", "bytes")):
        UNITS.setdefault(f"{_layer}.{_m}", _u)


def collect(wl, tracer: H.Tracer, counters: dict[str, H.LayerCounters],
            session: dict[str, float], bench: dict[str, float]) -> dict[str, float]:
    """Every per-layer metric; counters are per traced operation."""
    out = {name: 0.0 for name in UNITS}
    out.update({f"session.{k}": v for k, v in session.items()})
    out.update({f"bench.{k}": v for k, v in bench.items()})
    for layer in COUNTED_LAYERS:
        ops = max(wl.traced_ops(layer), 1)
        c = counters.get(layer, H.LayerCounters())
        out[f"{layer}.jobs"] = c.jobs / ops
        out[f"{layer}.cpu_s"] = c.cpu_s / ops
        out[f"{layer}.gc_s"] = c.gc_s / ops
        out[f"{layer}.shuffle_bytes"] = c.shuffle_bytes / ops
        out[f"{layer}.input_bytes"] = c.input_bytes / ops
    for name, value in wl.per_layer(tracer, counters).items():
        if name not in UNITS:
            raise KeyError(f"per-layer metric {name!r} is not in the list")
        out[name] = value
    return out

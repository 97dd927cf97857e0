"""Tests of the benchmark itself: generators, statistics, spans, metric
names, the checkpoint latency join, and a tiny smoke run per workload.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import hashlib
import json
import os
import subprocess
import sys

import numpy as np
import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import harness as H  # noqa: E402
import per_layer  # noqa: E402
import run  # noqa: E402
import stream_live  # noqa: E402

ROOT = os.path.dirname(HERE)


# ---------------------------------------------------------------------------
# generators
# ---------------------------------------------------------------------------


def _digest(tables, tmp_path, tag) -> str:
    h = hashlib.sha256()
    for i, t in enumerate(tables):
        path = tmp_path / f"{tag}-{i}.parquet"
        gen.write_parquet(t, str(path))
        h.update(path.read_bytes())
    return h.hexdigest()


GENERATORS = {
    "events": lambda seed: gen.event_files(
        gen.EventSpec(backlog_files=2, backlog_events_per_file=300, live_files=3,
                      live_events_per_file=40, files_per_s=5.0), seed),
    "cdc_state": lambda seed: [gen.cdc_state(gen.CdcSpec(500, 50, 3), seed)],
    "cdc_changes": lambda seed: gen.cdc_changes(gen.CdcSpec(500, 50, 3), seed),
    "star": lambda seed: list(gen.star_tables(
        gen.StarSpec(50, 5, 40, 200, 3.0, 300, 30), seed).values()),
    "corpus": lambda seed: list(gen.corpus_tables(
        gen.CorpusSpec(docs=60, exact_copies=5, near_every=10, vec_every=10), seed).values()),
}


@pytest.mark.parametrize("name", sorted(GENERATORS))
def test_generators_are_seed_deterministic(name, tmp_path):
    make = GENERATORS[name]
    a = _digest(make(7), tmp_path, "a")
    b = _digest(make(7), tmp_path, "b")
    c = _digest(make(8), tmp_path, "c")
    assert a == b
    assert a != c


def test_changelog_files_can_be_made_one_at_a_time():
    spec = gen.CdcSpec(500, 50, 4)
    whole = gen.cdc_changes(spec, 3)
    assert gen.cdc_changes(spec, 3, first=2, count=1)[0].equals(whole[2])


def test_event_shares_are_planted():
    spec = gen.EventSpec(backlog_files=1, backlog_events_per_file=20_000, live_files=0,
                         live_events_per_file=0, files_per_s=1.0)
    t = gen.event_files(spec, 1)[0].to_pandas()
    fresh = 20_000
    assert len(t) == fresh + round(fresh * spec.dup_share)
    assert t["event_id"].nunique() == fresh
    invalid = (t.drop_duplicates("event_id")["value"] < 0).mean()
    assert abs(invalid - spec.invalid_share) < 0.005
    lateness = (pd.Timestamp(gen.T0) + pd.to_timedelta(t["event_id"] * spec.event_step_ms, "ms")
                - t["ts"]).dt.total_seconds()
    assert lateness.max() < spec.watermark_s / 2
    assert abs((lateness > 0).mean() - spec.ooo_share) < 0.01


def test_fold_is_last_writer_wins_with_deletes():
    state = pd.DataFrame({"order_id": [1, 2, 3], "customer_id": [10, 20, 30],
                          "status": ["O", "O", "O"], "amount": [1.0, 2.0, 3.0]})
    ts = pd.to_datetime(["2024-01-01 00:00:01", "2024-01-01 00:00:02",
                         "2024-01-01 00:00:03", "2024-01-01 00:00:04"])
    ch = pd.DataFrame({"op": ["update", "delete", "update", "insert"],
                       "order_id": [1, 2, 1, 4], "customer_id": [11, 0, 12, 40],
                       "status": ["F", "F", "P", "O"], "amount": [5.0, 0.0, 6.0, 4.0],
                       "change_ts": ts, "seq": [0, 1, 2, 3]})
    got = gen.fold_changes(state, [ch.iloc[::-1]])
    assert got["order_id"].tolist() == [1, 3, 4]
    assert got.set_index("order_id").loc[1, "customer_id"] == 12


# ---------------------------------------------------------------------------
# statistics and spans
# ---------------------------------------------------------------------------


@pytest.mark.parametrize("n,p", [(19, None), (20, 50.0), (39, 50.0), (40, 75.0), (99, 75.0),
                                 (100, 90.0), (199, 90.0), (200, 95.0), (1000, 99.0),
                                 (10_000, 99.9)])
def test_tail_percentile_keeps_ten_samples_beyond(n, p):
    assert H.tail_percentile(n) == p


def test_percentile_matches_numpy_linear_rule():
    xs = list(np.random.default_rng(0).random(37))
    for p in (0, 10, 50, 90, 95, 100):
        assert H.percentile(xs, p) == pytest.approx(float(np.percentile(xs, p)))


def _spans(tr: H.Tracer, spec):
    """spec: list of (name, start, end, parent_index)."""
    for i, (name, start, end, parent) in enumerate(spec):
        tr.spans.append(H.Span(name, start, end, parent, 0, i))
        if parent is not None:
            tr.spans[parent].children.append(i)


def test_self_time_subtracts_the_union_of_children():
    tr = H.Tracer(enabled=False)
    _spans(tr, [("root", 0.0, 10.0, None), ("a", 1.0, 4.0, 0), ("b", 3.0, 6.0, 0),
                ("c", 8.0, 9.0, 0), ("a1", 1.5, 2.0, 1)])
    assert tr.self_time(tr.spans[0]) == pytest.approx(10 - 5 - 1)
    assert tr.self_time(tr.spans[1]) == pytest.approx(2.5)
    # nested, non-overlapping spans: self times add up to the root
    tr2 = H.Tracer(enabled=False)
    _spans(tr2, [("root", 0.0, 10.0, None), ("a", 1.0, 4.0, 0), ("b", 5.0, 9.0, 0),
                 ("b1", 6.0, 7.0, 2)])
    assert sum(tr2.self_time(s) for s in tr2.spans) == pytest.approx(10.0)


def test_live_tracer_nests_spans_and_tags_layers():
    class FakeContext:
        def __init__(self):
            self.seen = []

        def setLocalProperty(self, key, value):
            self.seen.append((key, value))

    sc = FakeContext()
    tr = H.Tracer(sc)
    with tr.span("engine.run_once"):
        with tr.span("validation.validate"):
            pass
    assert [s.parent for s in tr.spans] == [None, 0]
    assert [v for _, v in sc.seen] == ["engine", "validation", "engine", None]
    tr.enabled = False
    with tr.span("sink.load"):
        pass
    assert len(tr.spans) == 2


def test_closed_loop_alternates_and_traces_at_least_one_of_each():
    seen = []
    tr = H.Tracer(enabled=True)
    n = H.closed_loop(0.0, tr, lambda k: seen.append((k, tr.enabled, tr.run_id)), limit=10)
    assert n == 2 and seen == [(0, False, 0), (1, True, 1)]
    assert tr.enabled
    seen.clear()
    tr.enabled = False
    assert H.closed_loop(0.0, tr, lambda k: seen.append(tr.enabled), limit=10) == 1
    assert seen == [False]
    assert H.closed_loop(60.0, tr, lambda k: None, limit=3) == 3


# ---------------------------------------------------------------------------
# metric names and BENCHMARK.json
# ---------------------------------------------------------------------------


def test_metric_names_match_the_pattern():
    names = list(run.END_TO_END) + list(per_layer.UNITS)
    assert len(names) == len(set(names))
    for name in names:
        assert H.METRIC_NAME.match(name), name
    assert not H.METRIC_NAME.match("bad name")
    assert not H.METRIC_NAME.match("p95/s")


def test_benchmark_json_lists_what_the_runner_prints():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == per_layer.UNITS
    assert {w["name"] for w in spec["workloads"]} <= set(run.WORKLOADS)


# ---------------------------------------------------------------------------
# batch -> file latency join
# ---------------------------------------------------------------------------


def _checkpoint(root, batches: dict[int, list[str]], committed: dict[int, float], compact_at=None,
                no_data=()):
    """A file-source checkpoint: ``batches`` maps source log offsets to
    the files they added. Query batches take one log offset each, except
    that a query batch in ``no_data`` reads nothing new."""
    src = root / "sources" / "0"
    src.mkdir(parents=True)
    offsets = root / "offsets"
    offsets.mkdir()
    commits = root / "commits"
    commits.mkdir()
    for b, files in batches.items():
        name = f"{b}.compact" if b == compact_at else str(b)
        lines = ["v1"]
        if b == compact_at:  # a compacted entry repeats every earlier batch
            lines += [json.dumps({"path": f"file:///in/{f}", "timestamp": 0, "batchId": bb,
                                  "action": "add"}) for bb in sorted(batches) if bb <= b
                      for f in batches[bb]]
        else:
            lines += [json.dumps({"path": f"file:///in/{f}", "timestamp": 0, "batchId": b,
                                  "action": "add"}) for f in files]
        (src / name).write_text("\n".join(lines))
    offset = -1
    for qb in range(len(batches) + len(no_data)):
        if qb not in no_data:
            offset += 1
        (offsets / str(qb)).write_text(
            "v1\n" + json.dumps({"batchWatermarkMs": 0}) + "\n" + json.dumps({"logOffset": offset}))
    for b, t in committed.items():
        p = commits / str(b)
        p.write_text("v1\n{}")
        os.utime(p, (t, t))


def test_latency_join_takes_the_later_query_commit(tmp_path):
    a, b = tmp_path / "a", tmp_path / "b"
    _checkpoint(a, {0: ["f0", "f1"], 1: ["f2"], 2: ["f3"]}, {0: 100.0, 1: 101.0, 2: 103.0},
                compact_at=2)
    _checkpoint(b, {0: ["f0"], 1: ["f1", "f2"], 2: ["f3"]}, {0: 100.5, 1: 102.0})
    assert stream_live.file_batches(str(a)) == {"f0": 0, "f1": 0, "f2": 1, "f3": 2}
    got = stream_live.file_commit_times([str(a), str(b)])
    # f3's batch has no commit in query b yet, so f3 is not done
    assert got == {"f0": 100.5, "f1": 102.0, "f2": 102.0}


def test_latency_join_skips_no_data_batches(tmp_path):
    # query batch 1 only advanced the watermark: source log offset 1
    # (file f1) was read by query batch 2
    a = tmp_path / "a"
    _checkpoint(a, {0: ["f0"], 1: ["f1"]}, {0: 10.0, 1: 11.0, 2: 13.0}, no_data=(1,))
    assert stream_live.file_batches(str(a)) == {"f0": 0, "f1": 2}
    assert stream_live.file_commit_times([str(a)]) == {"f0": 10.0, "f1": 13.0}


# ---------------------------------------------------------------------------
# smoke runs
# ---------------------------------------------------------------------------


@pytest.mark.parametrize("workload", sorted(run.WORKLOADS))
def test_smoke_run(workload):
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", "5",
         "--seconds", "3", "--trace", "1", "--scale", "tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert p.returncode == 0, p.stderr[-3000:]
    out = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1
    assert set(out["metrics"]) == set(per_layer.UNITS)


def test_refuses_to_run_without_the_package(tmp_path):
    bench = tmp_path / "perfbench"
    bench.mkdir()
    for name in os.listdir(HERE):
        if name.endswith(".py"):
            (bench / name).write_text(open(os.path.join(HERE, name)).read())
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "elt_cdc", "--seed", "1",
                        "--seconds", "1", "--trace", "0"], cwd=tmp_path, capture_output=True,
                       text=True, timeout=120)
    assert p.returncode != 0
    assert p.stdout.strip() == ""

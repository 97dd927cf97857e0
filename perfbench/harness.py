"""Shared machinery for the benchmark: box sizing, the Spark session,
percentiles, spans, job tagging, peak-RSS sampling and the Spark event
log reader.

Nothing here knows a workload; the workload modules call in.
"""

from __future__ import annotations

import json
import os
import re
import threading
import time
from dataclasses import dataclass, field
from statistics import median

#: Every metric name the benchmark prints matches this.
METRIC_NAME = re.compile(r"^[A-Za-z0-9_.-]+$")

#: Local property carrying the layer name of the span a Spark job runs
#: under; the event log copies it into each job's properties.
LAYER_PROPERTY = "perfbench.layer"

#: Percentiles considered for a tail figure, highest first.
TAIL_CANDIDATES = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)


# ---------------------------------------------------------------------------
# sizing
# ---------------------------------------------------------------------------


def cpu_count() -> int:
    """Cores this process may run on (what ``nproc`` prints)."""
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:  # pragma: no cover - non-Linux
        return os.cpu_count() or 1


def available_ram_mb() -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemAvailable:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemAvailable missing from /proc/meminfo")


def driver_heap_mb(avail_mb: int, cap_mb: int = 1024) -> int:
    """Driver heap: a quarter of free RAM, at most ``cap_mb``.

    The cap keeps the heap (and so RSS) the same from run to run on any
    box with 4 GB free; smaller boxes get a smaller heap rather than a
    swap storm.
    """
    return max(512, min(cap_mb, avail_mb // 4))


def process_start_time() -> float:
    """Wall-clock time this process started, from /proc (10 ms ticks)."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    age = uptime - start_ticks / os.sysconf("SC_CLK_TCK")
    return time.time() - age


# ---------------------------------------------------------------------------
# statistics
# ---------------------------------------------------------------------------


def percentile(values: list[float], p: float) -> float:
    """Linear-interpolated percentile (numpy's default rule)."""
    if not values:
        raise ValueError("percentile of no values")
    xs = sorted(values)
    rank = (len(xs) - 1) * p / 100.0
    lo = int(rank)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (rank - lo)


def tail_percentile(n: int) -> float | None:
    """Highest percentile with at least ten samples beyond it, or None
    when fewer than twenty samples leave even the median unsupported."""
    for p in TAIL_CANDIDATES:
        if n * (100.0 - p) / 100.0 >= 10 - 1e-9:
            return p
    return None


def overhead_frac(traced: list[float], untraced: list[float]) -> float:
    """Median traced operation over median untraced one, minus one; 0
    when either side has no operations."""
    if not traced or not untraced:
        return 0.0
    return median(traced) / median(untraced) - 1.0


# ---------------------------------------------------------------------------
# spans
# ---------------------------------------------------------------------------


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    run_id: int
    span_id: int
    children: list[int] = field(default_factory=list)

    @property
    def duration(self) -> float:
        return self.end - self.start


def covered(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``intervals``."""
    total = 0.0
    cur_lo = cur_hi = None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


class Tracer:
    """Spans at layer boundaries, kept in memory.

    ``span(name)`` times the block and, while it runs, sets the layer
    (the name up to its first dot) as a local property of the Spark
    context so every job the block starts carries it into the event
    log. A disabled tracer still hands out the block but records and
    tags nothing.
    """

    def __init__(self, sc=None, enabled: bool = True) -> None:
        self.sc = sc
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.run_id = 0

    def span(self, name: str):
        return _SpanBlock(self, name)

    def _enter(self, name: str) -> None:
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(name, time.perf_counter(), 0.0, parent, self.run_id, sid))
        if parent is not None:
            self.spans[parent].children.append(sid)
        self._stack.append(sid)
        self._tag(name.split(".", 1)[0])

    def _exit(self) -> None:
        sid = self._stack.pop()
        self.spans[sid].end = time.perf_counter()
        self._tag(self.spans[self._stack[-1]].name.split(".", 1)[0] if self._stack else None)

    def _tag(self, layer: str | None) -> None:
        if self.sc is not None:
            self.sc.setLocalProperty(LAYER_PROPERTY, layer)

    def self_time(self, span: Span) -> float:
        kids = [(self.spans[c].start, self.spans[c].end) for c in span.children]
        return span.duration - covered(kids)

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps({
                    "name": s.name, "start": s.start, "end": s.end,
                    "parent": s.parent, "run_id": s.run_id, "span_id": s.span_id,
                }) + "\n")


class _SpanBlock:
    def __init__(self, tracer: Tracer, name: str) -> None:
        self.tracer = tracer
        self.name = name

    def __enter__(self):
        if self.tracer.enabled:
            self.tracer._enter(self.name)
        return self

    def __exit__(self, *exc) -> None:
        if self.tracer.enabled:
            self.tracer._exit()


def closed_loop(seconds: float, tracer: Tracer, op, limit: int) -> int:
    """Call ``op(k)`` for k = 0, 1, ... until ``seconds`` have passed,
    at least once and at most ``limit`` times; returns the number of
    calls. A traced run alternates untraced and traced calls (odd k
    traced), so the tracing overhead is measured within the run, and
    ends no sooner than after one of each."""
    trace = tracer.enabled
    least = 2 if trace else 1
    t_end = time.perf_counter() + seconds
    k = 0
    while k < limit and (k < least or time.perf_counter() < t_end):
        tracer.enabled = trace and k % 2 == 1
        tracer.run_id = k
        op(k)
        k += 1
    tracer.enabled = trace
    return k


def traced(tracer: Tracer, name: str, fn):
    """``fn`` wrapped so each call is one span called ``name``."""

    def _call(*args, **kwargs):
        with tracer.span(name):
            return fn(*args, **kwargs)

    return _call


# ---------------------------------------------------------------------------
# memory
# ---------------------------------------------------------------------------


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children_map()
    out, todo = [], list(kids.get(pid, []))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def pss_kb(pid: int) -> int:
    """Proportional set size: resident pages, with each page shared by
    forked Python workers split between its sharers, so the sum over
    processes does not count a page twice."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def is_engine_process(pid: int) -> bool:
    """The JVM or a PySpark worker. Other descendants are short-lived
    helpers the JVM spawns; while one is between vfork and exec it
    reports the JVM's own memory, which would count the JVM twice."""
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as fh:
            argv = fh.read().split(b"\0")
    except OSError:
        return False
    return argv[0].endswith(b"/java") or any(b"pyspark" in a for a in argv)


class RssSampler:
    """Peak summed resident memory (PSS) of the JVM and the Python
    workers this process starts, sampled on a background thread."""

    def __init__(self, interval: float = 0.5) -> None:
        self.interval = interval
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="rss-sampler", daemon=True)

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            total = sum(pss_kb(p) for p in descendants(me) if is_engine_process(p))
            self.peak_kb = max(self.peak_kb, total)
            self._stop.wait(self.interval)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0


# ---------------------------------------------------------------------------
# Spark event log
# ---------------------------------------------------------------------------


@dataclass
class LayerCounters:
    jobs: int = 0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_bytes: int = 0
    input_bytes: int = 0
    output_bytes: int = 0


def event_log_path(directory: str, app_id: str) -> str:
    names = [n for n in os.listdir(directory) if n.startswith(app_id)]
    if len(names) != 1:
        raise FileNotFoundError(f"event log of {app_id} in {directory}: {sorted(os.listdir(directory))}")
    return os.path.join(directory, names[0])


def read_event_log(path: str) -> dict[str, LayerCounters]:
    """Per-layer job, CPU, GC and byte counters from one application's
    event log; jobs without a layer property are not counted."""
    job_layer: dict[int, str] = {}
    stage_layer: dict[int, str] = {}
    out: dict[str, LayerCounters] = {}
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                layer = (ev.get("Properties") or {}).get(LAYER_PROPERTY)
                if not layer:
                    continue
                job_layer[ev["Job ID"]] = layer
                for sid in ev.get("Stage IDs", []):
                    stage_layer[sid] = layer
                out.setdefault(layer, LayerCounters()).jobs += 1
            elif kind == "SparkListenerTaskEnd":
                layer = stage_layer.get(ev.get("Stage ID"))
                tm = ev.get("Task Metrics")
                if layer is None or not tm:
                    continue
                c = out.setdefault(layer, LayerCounters())
                c.cpu_s += tm.get("Executor CPU Time", 0) / 1e9
                c.gc_s += tm.get("JVM GC Time", 0) / 1e3
                c.shuffle_bytes += (tm.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0)
                c.input_bytes += (tm.get("Input Metrics") or {}).get("Bytes Read", 0)
                c.output_bytes += (tm.get("Output Metrics") or {}).get("Bytes Written", 0)
    return out

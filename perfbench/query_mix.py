"""``query_mix``: one closed-loop client running rounds of retail and
event analytics queries from ``__spark_entry__.queries()`` over a
generated star schema plus events. A round runs every query of the mix
once, in a seed-shuffled order, so every round does the same work.

Each query is timed from calling its plan function until the last row
is collected. Every query in the mix has an ``oracle_sql()`` entry;
after the timed window each distinct query's collected result is
compared with DuckDB running the oracle over the same files.
"""

from __future__ import annotations

import hashlib
import os
import time
from statistics import median

import numpy as np
import pandas as pd

import gen
import harness as H

#: Retail plans (star join and aggregate, join and top-k, percentiles,
#: self-join) and event plans (conditional aggregate, session windows).
#: Six, because a round plus its warm-up must fit the per-run budget of
#: ``batch_mix`` on a slow host.
MIX = [
    "revenue_by_segment", "top_customers", "price_quantiles", "basket_pairs",
    "event_funnel", "user_sessions",
]
TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events"]
#: rounds generated per run; a window never reaches the last
ROUNDS = 50

SPECS = {
    "full": gen.StarSpec(customers=150, suppliers=10, parts=200, orders=1500,
                         lines_per_order=4.0, events=2000, event_users=150),
    "tiny": gen.StarSpec(customers=50, suppliers=5, parts=40, orders=300,
                         lines_per_order=3.0, events=400, event_users=40),
}


def _cell(v):
    """One value in the form both engines agree on: numpy scalars to
    Python, NaN to None, timestamps to ISO text; int and float stay
    distinct, so an integer sum that DuckDB returns as a float is a
    mismatch."""
    item = getattr(v, "item", None)
    if callable(item) and not isinstance(v, pd.Timestamp):
        v = item()
    if v is None or (isinstance(v, float) and v != v):
        return None
    if isinstance(v, pd.Timestamp) or hasattr(v, "isoformat"):
        return pd.Timestamp(v).isoformat()
    if hasattr(v, "as_tuple"):  # Decimal
        return float(v)
    if isinstance(v, float):
        return round(v, 6)
    return v


def value_hash(df: pd.DataFrame) -> str:
    """Order-free hash: columns sorted by name, rows sorted by value."""
    cols = sorted(df.columns)
    rows = sorted((tuple(_cell(v) for v in row) for row in df[cols].itertuples(index=False)),
                  key=repr)
    return hashlib.sha256(repr((cols, rows)).encode()).hexdigest()


class QueryMix:
    name = "query_mix"

    def __init__(self, work: str, seed: int, seconds: float, scale: str) -> None:
        self.work, self.seed, self.seconds = work, seed, seconds
        self.spec = SPECS[scale]
        self.data = os.path.join(work, "star")
        self.ops: list[dict] = []
        self.rounds: list[dict] = []
        self.results: dict[str, pd.DataFrame] = {}

    def generate(self) -> dict:
        gen.write_tables(gen.star_tables(self.spec, self.seed), self.data)
        gen.write_tables(gen.star_tables(SPECS["tiny"], self.seed + 1),
                         os.path.join(self.work, "star_warm"))
        rng = np.random.default_rng([self.seed, 7])
        self.orders = [[MIX[i] for i in rng.permutation(len(MIX))] for _ in range(ROUNDS)]
        return {"spec": self.spec.record(), "mix": MIX}

    def prepare(self, spark) -> None:
        """Warm-up: every query of the mix once, over a small star."""
        import __spark_entry__

        self.queries = __spark_entry__.queries()
        for name in MIX:
            self.queries[name](spark, os.path.join(self.work, "star_warm")).collect()

    def query(self, spark, tracer: H.Tracer, name: str) -> None:
        t0 = time.perf_counter()
        with tracer.span("plans.query"):
            with tracer.span("plans.build"):
                df = self.queries[name](spark, self.data)
            t1 = time.perf_counter()
            with tracer.span("plans.execute"):
                rows = df.collect()
        t2 = time.perf_counter()
        self.ops.append({"query": name, "wall": t2 - t0, "build": t1 - t0,
                         "execute": t2 - t1, "traced": tracer.enabled})
        if name not in self.results:
            self.results[name] = pd.DataFrame([r.asDict() for r in rows], columns=df.columns)

    def one_round(self, spark, tracer: H.Tracer, r: int) -> None:
        t0 = time.perf_counter()
        for name in self.orders[r]:
            self.query(spark, tracer, name)
        self.rounds.append({"wall": time.perf_counter() - t0, "traced": tracer.enabled})

    def run(self, spark, tracer: H.Tracer) -> None:
        H.closed_loop(self.seconds, tracer, lambda r: self.one_round(spark, tracer, r),
                      limit=ROUNDS)

    def check(self, spark) -> tuple[int, int, dict]:
        import duckdb

        import __spark_entry__

        oracles = __spark_entry__.oracle_sql()
        con = duckdb.connect()
        try:
            for t in TABLES:
                path = os.path.join(self.data, f"{t}.parquet")
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
            mismatched = []
            for name, got in self.results.items():
                want = con.execute(oracles[name]).fetchdf()
                if sorted(got.columns) != sorted(want.columns) or value_hash(got) != value_hash(want):
                    mismatched.append(name)
        finally:
            con.close()
        bad = set(mismatched)
        failed = sum(1 for op in self.ops if op["query"] in bad)
        return len(self.ops), failed, {"queries_run": len(self.ops),
                                       "distinct_checked": len(self.results),
                                       "oracle_mismatches": sorted(bad)}

    # -- metrics ----------------------------------------------------------
    def _walls(self, traced: bool | None = None) -> list[float]:
        return [o["wall"] for o in self.ops if traced is None or o["traced"] == traced]

    def end_to_end(self) -> dict:
        walls = self._walls()
        return {"latency_p50_s": median(walls), "throughput_per_s": len(walls) / sum(walls)}

    def detail(self) -> dict:
        walls = self._walls(False)
        return {"rounds": len(self.rounds), "queries": len(self.ops),
                "query_p50_s": median(walls), "query_p90_s": H.percentile(walls, 90),
                "tail_percentile_supported": H.tail_percentile(len(walls)),
                "queries_per_s": len(walls) / sum(walls)}

    def traced_ops(self, layer: str) -> int:
        return sum(1 for o in self.ops if o["traced"])

    def overhead_frac(self) -> float:
        """Traced round over untraced round: every round runs the same
        queries, so the two are comparable."""
        return H.overhead_frac([r["wall"] for r in self.rounds if r["traced"]],
                               [r["wall"] for r in self.rounds if not r["traced"]])

    def per_layer(self, tracer: H.Tracer, counters: dict) -> dict:
        traced = [o for o in self.ops if o["traced"]]
        d = self.detail()
        out = {
            "plans.build_p50_ms": 1000 * median([o["build"] for o in traced]) if traced else 0.0,
            "plans.execute_p50_s": median([o["execute"] for o in traced]) if traced else 0.0,
            "query.p50_s": d["query_p50_s"],
            "query.p90_s": d["query_p90_s"],
            "query.per_s": d["queries_per_s"],
            "bench.trace_overhead_frac": self.overhead_frac(),
        }
        for name in MIX:
            xs = [o["wall"] for o in self.ops if o["query"] == name]
            out[f"plans.{name}.p50_s"] = median(xs) if xs else 0.0
        return out

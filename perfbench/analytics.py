"""analytics: query-heavy, no writes. TPC-H-shaped and relational catalog
queries over a generated sf0.1-shaped star schema (fixed generator seed,
so the data never changes), each materialised with ``toPandas()`` and
checked against its DuckDB oracle twin, evaluated once in setup. The
planner, the session's AQE settings and ``tables`` do the work here;
``writer``, ``manifest`` and the DataSources do none.

A cycle runs a fixed set of queries once; the seed only permutes their
order. An untimed pass over the same set in catalog order warms the JVM
first, so the timed pass measures the queries, not the first call of each
Spark code path."""

from __future__ import annotations

import os

import duckdb
import numpy as np

from forklift_spark import queries as Q
from forklift_spark import tables

from perfbench import datagen
from perfbench.check import digest
from perfbench.workload import Op, Workload, expect

# scan/filter/aggregate, outer join + aggregate, join + top-N; a pivot, a
# rank window and sessionisation over the events table. Warm latencies at
# local[4] range from 0.4 s (q6) to 1.5 s (q3).
QUERIES = (
    "q6_forecast_revenue", "q13_order_distribution", "q3_shipping_priority",
    "q_pivot", "q_rank_functions", "q_sessionize",
)


class Analytics(Workload):
    name = "analytics"

    def setup(self) -> None:
        self.sf_dir = os.path.join(self.root, "sf0.1")
        datagen.write_analytics_tables(self.sf_dir)
        rng = np.random.default_rng(self.seed)
        self.order = [QUERIES[i] for i in rng.permutation(len(QUERIES))]
        self.catalog = Q.catalog()
        oracles = Q.oracles()
        con = duckdb.connect(config={"autoinstall_known_extensions": False,
                                     "autoload_known_extensions": False})
        try:
            for t in tables.TABLES:
                path = os.path.join(self.sf_dir, f"{t}.parquet")
                if os.path.exists(path):
                    con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
            self.expected = {}
            for q in QUERIES:
                want = con.execute(oracles[q]).df()
                self.expected[q] = (sorted(want.columns), digest(want))
        finally:
            con.close()

    def _query(self, name: str) -> Op:
        fn = self.catalog[name]

        def run():
            if self.tracer is None:
                return fn(self.spark, self.sf_dir).toPandas()
            # the query call is lazy; the span covers it and its action
            with self.tracer.span("queries.catalog.query"):
                return fn(self.spark, self.sf_dir).toPandas()

        def check(got):
            cols, want = self.expected[name]
            expect(f"{name} columns", sorted(got.columns), cols)
            expect(f"{name} digest", digest(got), want)
            return len(got)

        return Op("query", run, check, ends_cycle=False, label=name)

    def warmup_ops(self) -> list[Op]:
        return [self._query(q) for q in QUERIES]

    def ops(self):
        while True:
            ops = [self._query(q) for q in self.order]
            ops[-1].ends_cycle = True
            yield from ops

    def min_cycles(self, tracer) -> int:
        return 2

    def trace_targets(self) -> list[tuple]:
        return [(tables, "load", "tables.load")]

"""analyst_mix: interactive analyst reads over the sf0.1 star schema.

A fixed menu of read-only queries — TPC-H join/aggregate shapes from
the catalog, raw KQL pipes through ``sources.kql.kql_to_df``, and
event window / as-of queries — drawn in a seeded order, one menu
permutation per round. Each query is warmed once and checked against
its DuckDB oracle before timing; every timed op (build + collect to
pandas) must reproduce the oracle's result hash.
"""

from __future__ import annotations

import os
import random
from concurrent.futures import ThreadPoolExecutor

import duckdb
from pyspark.sql import functions as F

from harness import DATA, action, cache_hygiene, frame_hash, nproc, warm

TABLES = "region nation customer supplier orders lineitem events".split()

# (op name, catalog query) — built by the catalog's own function
CATALOG_MENU = [
    ("q1", "q1_pricing_summary"),
    ("q3", "q3_shipping_priority"),
    ("q5", "q5_revenue_by_nation"),
    ("q18", "q18_large_volume_customers"),
    ("sessionize", "w5_sessionize_events"),
    ("asof", "j_asof_join_events"),
]

# (op name, oracle catalog entry, KQL text, output projection). With ten
# queries in all, a run's median op is the mean of two mid-menu queries,
# not one query's single sample.
KQL_MENU = [
    (
        "kql_top",
        "kql_where_project_top",
        "events | where event_type == 'purchase' and value > 50"
        " | project event_id, user_id, value"
        " | sort by value desc, event_id asc | take 20",
        None,
    ),
    (
        "kql_summarize",
        "kql_summarize",
        "events | summarize n=count(), users=dcount(user_id), peak=max(value) by event_type",
        None,
    ),
    ("kql_facet", "kql_facet_by", "events | facet by event_type, user_id", None),
    (
        "kql_scan_funnel",
        "kql_scan_funnel",
        "events | where event_type in ('view', 'purchase')"
        " | project event_id, ts, user_id, event_type"
        " | sort by ts asc, event_id asc"
        " | scan by user_id with_match_id=match_id with"
        " (step s1: event_type == 'view';"
        "  step s2: event_type == 'purchase')",
        lambda df: df.select(
            F.col("user_id").cast("long").alias("user_id"),
            F.col("event_id").cast("long").alias("event_id"),
            "event_type",
            F.col("match_id").cast("long").alias("match_id"),
        ),
    ),
]


class Query:
    def __init__(self, wl: "AnalystMix", name: str, build, oracle: str) -> None:
        self.wl = wl
        self.name = name
        self.build = build
        self.oracle = oracle
        self.expected = None

    def run(self):
        df = self.build()
        return action(self.wl.tracer, df.toPandas)

    def check(self, pdf) -> str | None:
        got = frame_hash(pdf)
        if got != self.expected:
            return f"result {got[0]} rows/{got[2][:8]} != oracle {self.expected[0]} rows/{self.expected[2][:8]}"
        return None

    def rows(self, pdf) -> int:
        return len(pdf)


class AnalystMix:
    name = "analyst_mix"
    MIN_ROUNDS = 1  # each round runs the whole menu once

    def __init__(self, tracer, work_dir: str, seed: int) -> None:
        self.spark = None
        self.tracer = tracer
        self.work_dir = work_dir
        self.seed = seed
        self.failures: list[str] = []
        self.data = DATA
        self.inputs = {t: os.path.getsize(f"{DATA}/{t}.parquet") for t in TABLES}

    def generate(self) -> None:
        """Nothing to generate: the seed only sets the query order."""

    def setup(self, spark, rep: int) -> None:
        """Load the star schema through the engine's readers (memoized
        base scans: file listing + footers)."""
        from azuredataengineering_deeplearning_spark.sources import readers

        self.spark = spark
        readers.load_tables(spark, self.data, TABLES)

    def oracles(self) -> None:
        """Build the menu and run each query's DuckDB oracle (no engine
        session needed, so it overlaps the JVM launch)."""
        from azuredataengineering_deeplearning_spark import catalog
        from azuredataengineering_deeplearning_spark.catalog import (  # noqa: F401
            core,
            joins,
            kql,
            tpch_more,
            tpch_shapes,
            windows,
        )

        self.menu: list[Query] = []
        for op, entry in CATALOG_MENU:
            build = self._catalog_build(catalog.QUERIES[entry])
            self.menu.append(Query(self, op, build, catalog.ORACLES[entry]))
        for op, entry, text, proj in KQL_MENU:
            build = self._kql_build(text, proj)
            self.menu.append(Query(self, op, build, catalog.ORACLES[entry]))
        con = duckdb.connect()
        con.execute("SET threads TO 2")
        con.execute(f"SET temp_directory = '{self.work_dir}/tmp'")
        for t in TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.data}/{t}.parquet')"
            )
        for q in self.menu:
            q.expected = frame_hash(con.execute(q.oracle).df())
        con.close()

    def prepare(self) -> None:
        """Warm each query once and check it against its oracle
        (untimed). The warm-ups are independent first executions, so
        they run a few at a time."""
        with ThreadPoolExecutor(max(1, nproc() - 1)) as pool:
            errs = list(pool.map(warm, self.menu))
        for q, err in zip(self.menu, errs):
            if err:
                self.failures.append(f"warm-up {q.name}: {err}")
        self.spark.catalog.clearCache()

    def _catalog_build(self, fn):
        def build():
            with self.tracer.span("catalog.build"):
                return fn(self.spark, self.data)

        return build

    def _kql_build(self, text: str, proj):
        from azuredataengineering_deeplearning_spark.sources import kql, readers

        def build():
            with self.tracer.span("readers.load"):
                tables = readers.load_tables(self.spark, self.data, ["events"])
            with self.tracer.span("kql.translate"):
                df = kql.kql_to_df(tables, text)
            return proj(df) if proj else df

        return build

    def rounds(self):
        rng = random.Random(self.seed)
        while True:
            order = list(self.menu)
            rng.shuffle(order)
            yield order

    def hygiene(self) -> str | None:
        return cache_hygiene(self.spark)

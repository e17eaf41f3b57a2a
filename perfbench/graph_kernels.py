"""``graph-kernels``: a batch job running the registry's iterative graph
kernels to a ``noop`` sink.

Each round runs all eight kernels once, in a seed-shuffled order. Nothing
is pre-built at the benchmark's scale: the first round pays the projection
memo builds (``catalog.session_memo``), as a fresh batch job does. The
warm-up runs connected components (g3) over the small scale, whose memo
entries are keyed apart, so that the JVM has compiled the join, aggregate
and checkpoint loop the kernels share before timing starts. Each kernel's
first result is checked after the timed phase against the registry's DuckDB
``ORACLE`` SQL; PageRank (g4) has no oracle and is checked on its row count,
as in the registry.
"""

from __future__ import annotations

import random
from typing import Any

import harness

KERNELS = (
    "g3_connected_components",
    "g4_pagerank",
    "g6_bfs_hops",
    "g13_weighted_sssp",
    "g22_kcore",
    "g24_label_propagation",
    "g33_ppr_integer",
    "g55_scc_components",
)


def round_order(seed: int, round_idx: int) -> list[str]:
    order = list(KERNELS)
    random.Random(f"graph-kernels:{seed}:{round_idx}").shuffle(order)
    return order


class GraphKernels:
    name = "graph-kernels"
    tables = ("customer", "supplier", "nation", "region", "part", "orders", "lineitem")

    def __init__(self, seed: int, data_dir: str, warm_dir: str):
        self.seed = seed
        self.data_dir = data_dir
        self.warm_dir = warm_dir
        self._first: dict[str, Any] = {}

    def build(self, spark) -> None:
        self.spark = spark

    def warm_up(self) -> None:
        from flink_neo4j_spark.operators.graph_algos import QUERIES

        harness.warm(
            lambda: QUERIES["g3_connected_components"](self.spark, self.warm_dir)
            .write.format("noop").mode("overwrite").save()
        )

    def round(self, round_idx: int) -> list["harness.Op"]:
        return [
            harness.Op("kernel", name, lambda tracer, n=name: self._run(n, tracer))
            for name in round_order(self.seed, round_idx)
        ]

    def _run(self, name: str, tracer) -> tuple[int, Any]:
        from flink_neo4j_spark.operators.graph_algos import QUERIES

        with tracer.call("graph_algos.kernel"):
            df = QUERIES[name](self.spark, self.data_dir)
        with tracer.call("spark.action", df):
            df.write.format("noop").mode("overwrite").save()
        if name in self._first:
            return 0, None
        self._first[name] = df
        return 0, lambda: self._check(name, df)

    def _check(self, name: str, df) -> str | None:
        from flink_neo4j_spark.operators.graph_algos import ORACLE

        rows = harness.by_column_name(df.columns, df.collect())
        with harness.duckdb_views(self.data_dir, self.tables) as duck:
            if name == "g4_pagerank":
                (want,) = duck.execute(
                    "SELECT (SELECT count(*) FROM customer) + (SELECT count(*) FROM supplier)"
                    " + (SELECT count(*) FROM nation) + (SELECT count(*) FROM region)"
                ).fetchone()
                return None if len(rows) == want else f"{len(rows)} rows, expected {want}"
            cursor = duck.execute(ORACLE[name])
            columns = [d[0] for d in cursor.description]
            want_rows = harness.by_column_name(columns, cursor.fetchall())
        return harness.diff_rows(rows, want_rows, ordered=False)

    def close(self) -> None:
        self._first.clear()

"""``cypher-session``: an analyst's warm session of parameterized Cypher over
the TPC-H property graph (``graph_algos.tpch_graph``).

Each round runs every read template once and three writes, in a seeded
order, with parameters drawn per op, so every round has the same template
mix (one op in five is a write) and only the parameters change with the
seed. A read is ``cypher_read`` followed by a collect; a write is
``cypher_write`` against the base graph followed by a count over the
returned graph. Every read template has a DuckDB twin over the same parquet
files, checked once per distinct (template, parameters) after the timed
phase.
"""

from __future__ import annotations

import random
import re
from dataclasses import dataclass
from typing import Any

import harness

# Vertex id offsets of graph_algos.tpch_graph, restated so the DuckDB twins
# stand alone.
CUSTOMER_BASE, SUPPLIER_BASE, NATION_BASE, REGION_BASE = 1_000_000, 2_000_000, 3_000_000, 4_000_000
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
N_NATIONS = 25


def _nation(rng: random.Random) -> str:
    return f"NATION_{rng.randrange(N_NATIONS)}"


def _sql(value: Any) -> str:
    """A DuckDB literal for a generated parameter value."""
    if isinstance(value, str):
        return "'" + value.replace("'", "''") + "'"
    if isinstance(value, (list, tuple)):
        return "(" + ", ".join(_sql(v) for v in value) + ")"
    return str(value)


def _fill(text: str, values: dict) -> str:
    return re.sub(r"<<(\w+)>>", lambda m: str(values[m.group(1)]), text)


@dataclass(frozen=True)
class Template:
    """A Cypher template and its DuckDB twin. ``<<name>>`` fields in both
    are filled from ``draw``'s literals; ``$name`` parameters go to the
    engine as parameters and into the twin as literals."""

    name: str
    kind: str  # "read" | "write"
    cypher: str
    twin: str | None
    ordered: bool
    draw: Any  # (rng) -> (literals, params)

    def render(self, rng: random.Random) -> "OpSpec":
        literals, params = self.draw(rng)
        return OpSpec(self.name, self.kind, _fill(self.cypher, literals), literals, params)


@dataclass(frozen=True)
class OpSpec:
    template: str
    kind: str
    query: str
    literals: dict
    params: dict

    def key(self) -> str:
        return repr((self.template, sorted(self.literals.items()), sorted(self.params.items())))


def _mod(rng, moduli=(3, 5, 7, 11, 13)):
    m = rng.choice(moduli)
    return {"mod": m, "res": rng.randrange(m)}


READS: tuple[Template, ...] = (
    Template(
        "label_scan", "read",
        "MATCH (c:Customer) WHERE id(c) % $mod = $res "
        "RETURN count(*) AS n, min(c.name) AS first, max(c.name) AS last",
        "SELECT count(*), min(c_name), max(c_name) FROM customer "
        f"WHERE (c_custkey + {CUSTOMER_BASE}) % <<mod>> = <<res>>",
        True, lambda rng: ({}, _mod(rng)),
    ),
    Template(
        "name_range", "read",
        "MATCH (s:Supplier) WHERE s.name >= $lo "
        "RETURN s.name AS name ORDER BY name LIMIT <<limit>>",
        "SELECT s_name FROM supplier WHERE s_name >= <<lo>> ORDER BY s_name LIMIT <<limit>>",
        True,
        lambda rng: (
            {"limit": rng.choice((5, 10, 20))},
            {"lo": f"Supplier#{rng.randrange(1000):09d}"},
        ),
    ),
    Template(
        "one_hop_agg", "read",
        "MATCH (c:Customer)-[e:IN_NATION]->(n:Nation) WHERE e.w >= $w "
        "RETURN n.name AS nation, count(*) AS k, sum(e.w) AS sw ORDER BY nation",
        "SELECT n_name, count(*), sum(c_custkey % 7) FROM customer "
        "JOIN nation ON c_nationkey = n_nationkey WHERE c_custkey % 7 >= <<w>> "
        "GROUP BY n_name ORDER BY n_name",
        True, lambda rng: ({}, {"w": rng.randrange(1, 7)}),
    ),
    Template(
        "two_hop_agg", "read",
        "MATCH (c:Customer)-[:IN_NATION]->(n:Nation)-[:IN_REGION]->(r:Region) "
        "WHERE r.name = $region "
        "RETURN n.name AS nation, count(*) AS k ORDER BY k DESC, nation LIMIT <<limit>>",
        "SELECT n_name, count(*) AS k FROM customer "
        "JOIN nation ON c_nationkey = n_nationkey "
        "JOIN region ON n_regionkey = r_regionkey WHERE r_name = <<region>> "
        "GROUP BY n_name ORDER BY k DESC, n_name LIMIT <<limit>>",
        True,
        lambda rng: ({"limit": rng.choice((2, 3, 5))}, {"region": rng.choice(REGIONS)}),
    ),
    Template(
        "optional_match", "read",
        "MATCH (s:Supplier) WHERE id(s) % $mod = $res "
        "OPTIONAL MATCH (s)-[:IN_NATION]->(n:Nation) WHERE n.name = $nation "
        "RETURN s.name AS supplier, n.name AS nation ORDER BY supplier",
        "SELECT s_name, n_name FROM supplier LEFT JOIN nation "
        "ON s_nationkey = n_nationkey AND n_name = <<nation>> "
        f"WHERE (s_suppkey + {SUPPLIER_BASE}) % <<mod>> = <<res>> ORDER BY s_name",
        True, lambda rng: ({}, {**_mod(rng), "nation": _nation(rng)}),
    ),
    Template(
        "var_length", "read",
        "MATCH (s:Supplier)-[*1..<<hops>>]->(x) WHERE id(s) % $mod = $res "
        "RETURN id(x) AS x, count(*) AS k ORDER BY x",
        "SELECT x, count(*) FROM ("
        f" SELECT n_nationkey + {NATION_BASE} AS x, s_suppkey FROM supplier"
        "  JOIN nation ON s_nationkey = n_nationkey"
        " UNION ALL"
        f" SELECT n_regionkey + {REGION_BASE}, s_suppkey FROM supplier"
        "  JOIN nation ON s_nationkey = n_nationkey WHERE <<hops>> >= 2"
        f") WHERE (s_suppkey + {SUPPLIER_BASE}) % <<mod>> = <<res>> GROUP BY x ORDER BY x",
        True, lambda rng: ({"hops": rng.choice((1, 2))}, _mod(rng)),
    ),
    Template(
        "with_chain", "read",
        "MATCH (c:Customer)-[:IN_NATION]->(n:Nation) "
        "WITH n, count(c) AS nc WHERE nc >= $min "
        "RETURN n.name AS nation, nc ORDER BY nc DESC, nation LIMIT <<limit>>",
        "SELECT n_name, count(*) AS nc FROM customer "
        "JOIN nation ON c_nationkey = n_nationkey GROUP BY n_name "
        "HAVING count(*) >= <<min>> ORDER BY nc DESC, n_name LIMIT <<limit>>",
        True,
        lambda rng: (
            {"limit": rng.choice((5, 10, 20))},
            {"min": rng.choice((560, 580, 600, 620))},
        ),
    ),
    Template(
        "union", "read",
        "MATCH (c:Customer) WHERE id(c) % $mod = $res RETURN c.name AS name "
        "UNION MATCH (s:Supplier) WHERE id(s) % $mod = $res RETURN s.name AS name",
        f"SELECT c_name FROM customer WHERE (c_custkey + {CUSTOMER_BASE}) % <<mod>> = <<res>> "
        "UNION SELECT s_name FROM supplier "
        f"WHERE (s_suppkey + {SUPPLIER_BASE}) % <<mod>> = <<res>>",
        False, lambda rng: ({}, _mod(rng, (7, 11, 13))),
    ),
    Template(
        "skip_limit", "read",
        "MATCH (c:Customer)-[:IN_NATION]->(n:Nation) WHERE n.name = $nation "
        "RETURN c.name AS name ORDER BY name SKIP <<skip>> LIMIT <<limit>>",
        "SELECT c_name FROM customer JOIN nation ON c_nationkey = n_nationkey "
        "WHERE n_name = <<nation>> ORDER BY c_name LIMIT <<limit>> OFFSET <<skip>>",
        True,
        lambda rng: (
            {"skip": rng.choice((0, 10, 50)), "limit": rng.choice((10, 25))},
            {"nation": _nation(rng)},
        ),
    ),
    Template(
        "collect", "read",
        "MATCH (s:Supplier)-[:IN_NATION]->(n:Nation)-[:IN_REGION]->(r:Region) "
        "WHERE r.name = $region "
        "WITH n.name AS nation, collect(s.name) AS names "
        "RETURN nation, size(names) AS k, "
        "reduce(acc = 0, x IN names | acc + size(x)) AS chars ORDER BY nation",
        "SELECT n_name, count(*), sum(length(s_name)) FROM supplier "
        "JOIN nation ON s_nationkey = n_nationkey "
        "JOIN region ON n_regionkey = r_regionkey WHERE r_name = <<region>> "
        "GROUP BY n_name ORDER BY n_name",
        True, lambda rng: ({}, {"region": rng.choice(REGIONS)}),
    ),
    Template(
        "shortest_path", "read",
        "MATCH p = shortestPath((s:Supplier)-[*1..<<hops>>]->(r:Region)) "
        "WHERE r.name = $region AND id(s) % $mod = $res "
        "RETURN id(s) AS supplier, length(p) AS hops ORDER BY supplier",
        f"SELECT s_suppkey + {SUPPLIER_BASE}, 2 FROM supplier "
        "JOIN nation ON s_nationkey = n_nationkey "
        "JOIN region ON n_regionkey = r_regionkey WHERE r_name = <<region>> "
        f"AND (s_suppkey + {SUPPLIER_BASE}) % <<mod>> = <<res>> ORDER BY 1",
        True,
        lambda rng: (
            {"hops": rng.choice((2, 3))},
            {**_mod(rng, (2, 3)), "region": rng.choice(REGIONS)},
        ),
    ),
    Template(
        "rel_prop_in", "read",
        "MATCH (s:Supplier)-[e:IN_NATION]->(n:Nation) "
        "WHERE e.w < $w AND n.name IN $nations "
        "RETURN n.name AS nation, count(*) AS k, sum(e.w) AS sw ORDER BY nation",
        "SELECT n_name, count(*), sum(s_suppkey % 7) FROM supplier "
        "JOIN nation ON s_nationkey = n_nationkey "
        "WHERE s_suppkey % 7 < <<w>> AND n_name IN <<nations>> "
        "GROUP BY n_name ORDER BY n_name",
        True,
        lambda rng: ({}, {
            "w": rng.randrange(2, 8),
            "nations": sorted({_nation(rng) for _ in range(rng.randrange(3, 7))}),
        }),
    ),
)


def _merge_rows(rng: random.Random) -> list[dict]:
    names = rng.sample(
        [f"NATION_{i}" for i in range(N_NATIONS)] + [f"NEW_NATION_{i}" for i in range(10)],
        rng.choice((5, 10, 20)),
    )
    return [{"name": n, "tier": rng.randrange(100)} for n in names]


def _set_rows(rng: random.Random) -> list[dict]:
    keys = rng.sample(range(15_000), rng.choice((50, 100, 200)))
    return [{"name": f"Customer#{k:09d}", "score": rng.randrange(1000)} for k in keys]


WRITES: tuple[Template, ...] = (
    Template(
        "merge_nation", "write",
        "UNWIND $rows AS r MERGE (n:Nation {name: r.name}) SET n.tier = r.tier",
        None, False, lambda rng: ({}, {"rows": _merge_rows(rng)}),
    ),
    Template(
        "set_customer", "write",
        "UNWIND $rows AS r MATCH (c) WHERE c.name = r.name SET c.score = r.score",
        None, False, lambda rng: ({}, {"rows": _set_rows(rng)}),
    ),
)


def round_ops(seed: int, round_idx: int) -> list[OpSpec]:
    """Round ``round_idx`` of the op stream for ``seed``: every read template
    once and three writes, shuffled, each with freshly drawn parameters."""
    rng = random.Random(f"cypher-session:{seed}:{round_idx}")
    writes = [WRITES[0], WRITES[1], WRITES[round_idx % 2]]
    templates = list(READS) + writes
    rng.shuffle(templates)
    return [t.render(rng) for t in templates]


def twin_sql(spec: OpSpec) -> str:
    template = next(t for t in READS if t.name == spec.template)
    values = {**spec.literals, **{k: _sql(v) for k, v in spec.params.items()}}
    return _fill(template.twin, values)


class CypherSession:
    name = "cypher-session"
    tables = ("customer", "supplier", "nation", "region")

    def __init__(self, seed: int, data_dir: str):
        self.seed = seed
        self.data_dir = data_dir
        self._twins: dict[str, list[tuple]] = {}
        self._duck = None

    def build(self, spark) -> None:
        from flink_neo4j_spark.operators.graph_algos import tpch_graph

        self.spark = spark
        self.graph = tpch_graph(spark, self.data_dir)
        self.n_vertices = self.graph.vertices.count()

    def warm_up(self) -> None:
        """One round of ops, with parameters of their own, on the timed
        graph. A warm-up on a smaller graph compiles the same plans but
        leaves the JIT work for the timed rows' sizes to the first timed
        ops, which made some whole runs 1.4 times slower than others."""
        for spec in round_ops(-1, 0):
            harness.warm(lambda s=spec: self._run(s, harness.NullTracer()))

    def round(self, round_idx: int) -> list["harness.Op"]:
        return [
            harness.Op(spec.kind, spec.template, lambda tracer, s=spec: self._run(s, tracer))
            for spec in round_ops(self.seed, round_idx)
        ]

    # -- ops -----------------------------------------------------------
    def _run(self, spec: OpSpec, tracer) -> tuple[int, Any]:
        from flink_neo4j_spark.cypher_frontend import cypher_read, cypher_write

        if spec.kind == "read":
            with tracer.call("cypher_frontend.read"):
                df = cypher_read(self.graph, spec.query, spec.params)
            with tracer.call("spark.action", df):
                rows = [tuple(r) for r in df.collect()]
            return len(rows), lambda: self._check_read(spec, rows)
        with tracer.call("cypher_frontend.write"):
            written = cypher_write(self.graph, spec.query, spec.params)
        with tracer.call("spark.action", written.vertices):
            n = written.vertices.count()
        return n, lambda: self._check_write(spec, written, n)

    # -- checks --------------------------------------------------------
    def _query(self, sql: str) -> list[tuple]:
        if self._duck is None:
            self._duck = harness.duckdb_views(self.data_dir, self.tables)
        return self._duck.execute(sql).fetchall()

    def _check_read(self, spec: OpSpec, rows: list[tuple]) -> str | None:
        key = spec.key()
        if key not in self._twins:
            self._twins[key] = self._query(twin_sql(spec))
        template = next(t for t in READS if t.name == spec.template)
        return harness.diff_rows(rows, self._twins[key], template.ordered)

    def _check_write(self, spec: OpSpec, graph, n: int) -> str | None:
        """The vertex count, and the property value on every vertex the
        batch names: MERGE creates the missing nations, MATCH ... SET
        touches only the customers the tables hold."""
        from pyspark.sql import functions as F

        batch = spec.params["rows"]
        names = [r["name"] for r in batch]
        if spec.template == "merge_nation":
            label, prop = "Nation", "tier"
            known = {name for (name,) in self._query(
                f"SELECT n_name FROM nation WHERE n_name IN {_sql(names)}"
            )}
            want = batch
            want_n = self.n_vertices + len(set(names) - known)
        else:
            label, prop = "Customer", "score"
            known = {name for (name,) in self._query(
                f"SELECT c_name FROM customer WHERE c_name IN {_sql(names)}"
            )}
            want = [r for r in batch if r["name"] in known]
            want_n = self.n_vertices
        if n != want_n:
            return f"{n} vertices, expected {want_n}"
        got = (
            graph.vertices.filter((F.col("label") == label) & F.col("name").isin(names))
            .select("name", prop)
            .collect()
        )
        return harness.diff_rows(
            [tuple(r) for r in got], [(r["name"], r[prop]) for r in want], ordered=False
        )

    def close(self) -> None:
        if self._duck is not None:
            self._duck.close()

"""Tests of the benchmark's own parts: the seeded op generators, the fake
endpoint, that every Cypher template runs on the small graph and agrees
with its DuckDB twin there, and, when ``SPARK_GRAFT_TEST_SF_DIR`` names a
test data directory, that the generated tables equal it.

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import collections
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import harness  # noqa: E402

sys.path.insert(0, harness.ROOT)

import connector_http  # noqa: E402
import cypher_session  # noqa: E402
import datagen  # noqa: E402
import graph_kernels  # noqa: E402
from endpoint import Store, row_checksum  # noqa: E402


def _signature(ops):
    return [(op.template, op.query, op.key()) for op in ops]


def test_same_seed_gives_the_same_ops():
    for r in range(3):
        assert _signature(cypher_session.round_ops(7, r)) == _signature(
            cypher_session.round_ops(7, r)
        )
    assert graph_kernels.round_order(7, 0) == graph_kernels.round_order(7, 0)
    assert connector_http.round_order(7, 0) == connector_http.round_order(7, 0)
    assert connector_http.make_rows(7, 500).equals(connector_http.make_rows(7, 500))


def test_other_seed_changes_parameters_but_keeps_the_mix():
    a, b = cypher_session.round_ops(1, 0), cypher_session.round_ops(2, 0)
    assert collections.Counter(op.template for op in a) == collections.Counter(
        op.template for op in b
    )
    assert sum(op.kind == "write" for op in a) * 5 == len(a)
    assert sorted(op.key() for op in a) != sorted(op.key() for op in b)
    assert sorted(graph_kernels.round_order(1, 0)) == sorted(graph_kernels.round_order(2, 0))
    assert not connector_http.make_rows(1, 500).equals(connector_http.make_rows(2, 500))


def test_endpoint_store_create_merge_and_split_reads():
    store = Store()
    rows = [{"k": i, "s": f"v{i}"} for i in range(10)]
    store.execute("UNWIND $rows AS r CREATE (n:A {k: r.k, s: r.s})", {"rows": rows})
    store.execute("UNWIND $rows AS r MERGE (n:B {k: r.k}) SET n.s = r.s", {"rows": rows})
    store.execute("UNWIND $rows AS r MERGE (n:B {k: r.k}) SET n.s = r.s", {"rows": rows[:3]})
    stats = store.stats()["labels"]
    want = sum(row_checksum([r["k"], r["s"]]) for r in rows)
    assert stats["A"] == stats["B"] == {"rows": 10, "checksum": want}

    def read(statement):
        import json

        return json.loads(store.execute(statement, {}))["data"]

    split = [
        read(f"MATCH (n:B) WHERE n.k % 3 = {i} RETURN n.k AS k, n.s AS s") for i in range(3)
    ]
    assert sorted(d["row"][0] for part in split for d in part) == list(range(10))
    read("MATCH (n:B) WHERE n.k % 3 = 0 RETURN n.k AS k, n.s AS s")
    assert store.stats()["cache_hits"] == 1
    with pytest.raises(ValueError):
        store.execute("MATCH (n) DETACH DELETE n", {})


def test_generated_tables_equal_the_test_data():
    sf_dir = os.environ.get("SPARK_GRAFT_TEST_SF_DIR")
    if not sf_dir or not os.path.isdir(sf_dir):
        pytest.skip("SPARK_GRAFT_TEST_SF_DIR names no test data directory")
    root, name = os.path.split(os.path.normpath(sf_dir))
    assert datagen.compare(root, (float(name.removeprefix("sf")),)) == 0


@pytest.fixture(scope="module")
def small_session(tmp_path_factory):
    from flink_neo4j_spark.session import get_spark

    data = datagen.ensure_tables(str(tmp_path_factory.mktemp("data")), 0.001)
    spark = get_spark("perfbench-tests", master="local[2]", shuffle_partitions=2)
    workload = cypher_session.CypherSession(0, data)
    workload.build(spark)
    yield workload
    workload.close()
    spark.stop()
    harness.shutdown_jvm()


@pytest.mark.parametrize("seed", [1, 2])
def test_every_template_runs_and_matches_its_twin(small_session, seed):
    ops = cypher_session.round_ops(seed, 0) + cypher_session.round_ops(seed, 1)
    assert {op.template for op in ops} == {
        t.name for t in cypher_session.READS + cypher_session.WRITES
    }
    for spec in ops:
        _, check = small_session._run(spec, harness.NullTracer())
        assert check() is None, (spec.template, spec.query)

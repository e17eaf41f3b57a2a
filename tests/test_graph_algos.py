"""Unit tests for iterative graph algorithms on hand-built graphs (the
conformance suite covers the TPC-H fixture; these pin algorithm semantics
on topologies chosen to break naive implementations)."""

from __future__ import annotations

from pyspark.sql import functions as F

from flink_neo4j_spark.graph import PropertyGraph


def _graph(spark, edges, n):
    return PropertyGraph(
        spark.createDataFrame(
            [(i, "N", f"v{i}") for i in range(n)], "id long, label string, name string"
        ),
        spark.createDataFrame(
            [(i, s, d, "E", 1) for i, (s, d) in enumerate(edges)],
            "id long, src long, dst long, rel_type string, w long",
        ),
    )


def _cc(spark, monkeypatch, tmp_path, edges, n):
    # g3 itself, over a hand-built graph: tmp_path keys its session memos
    # (edge count, undirected edge table) apart from every other graph
    from flink_neo4j_spark.operators import graph_algos

    g = _graph(spark, edges, n)
    monkeypatch.setattr(graph_algos, "tpch_graph", lambda *_: g)
    comp = graph_algos.g3_connected_components(spark, str(tmp_path))
    return {r["vid"]: r["comp"] for r in comp.collect()}


def test_cc_two_components_and_isolate(spark, monkeypatch, tmp_path):
    # chain 0-1-2-3 (diameter 3), pair 4-5, isolated 6
    comp = _cc(
        spark, monkeypatch, tmp_path, [(0, 1), (1, 2), (2, 3), (4, 5)], 7
    )
    assert comp == {0: 0, 1: 0, 2: 0, 3: 0, 4: 4, 5: 4, 6: 6}


def test_cc_min_id_not_at_edge_endpoint(spark, monkeypatch, tmp_path):
    # min id 0 sits in the middle of a path: 3-1-0-2-4
    comp = _cc(
        spark, monkeypatch, tmp_path, [(3, 1), (1, 0), (0, 2), (2, 4)], 5
    )
    assert set(comp.values()) == {0}


def test_min_supersteps_until_stable_stops_at_fixpoint(spark):
    # chain 0-1-...-5 with the min label at one end: the fixpoint lands in
    # round 5, past two 2-round check windows; the next check (round 6)
    # sees no change and stops far under the budget, with the fixed-round
    # answer. rounds=0 hands back the input without sending.
    from flink_neo4j_spark.tuning import iter_kernel, min_supersteps

    und = spark.createDataFrame(
        [(i, i + 1) for i in range(5)] + [(i + 1, i) for i in range(5)],
        "a_id long, b_id long",
    )
    init = spark.range(6).select(F.col("id").alias("vid"), F.col("id").alias("comp"))
    sent = []

    def send(c):
        sent.append(1)
        return und.join(c.withColumnRenamed("vid", "a_id"), "a_id").select(
            F.col("b_id").alias("vid"), "comp"
        )

    def run(rounds, until_stable):
        sent.clear()
        with iter_kernel(spark, 10) as k:
            out = min_supersteps(
                k, init, send, ["vid"], "comp", rounds, until_stable=until_stable
            )
            return sorted(map(tuple, out.collect())), len(sent)

    stable, stable_rounds = run(50, True)
    fixed, _ = run(5, False)
    assert stable == fixed == [(v, 0) for v in range(6)]
    assert stable_rounds == 6
    assert run(0, False) == (sorted(map(tuple, init.collect())), 0)


def test_pagerank_mass_and_ordering(spark, tmp_path, monkeypatch):
    from flink_neo4j_spark.operators import graph_algos

    # star: 1,2,3 -> 0 and 0 -> 1. The hub 0 outranks the pure leaves 2,3
    # (base-rank only), and 1 outranks 2/3 too (it receives all of 0's rank).
    # Total rank stays ~1 (no dangling loss: 0 points back at 1).
    g = _graph(spark, [(1, 0), (2, 0), (3, 0), (0, 1)], 4)
    monkeypatch.setattr(graph_algos, "tpch_graph", lambda *_: g)
    ranks = {r["vid"]: r["rank"] for r in graph_algos.g4_pagerank(spark, "unused").collect()}
    assert ranks[2] == ranks[3]
    assert ranks[0] > ranks[2] and ranks[1] > ranks[2]
    assert abs(sum(ranks.values()) - 1.0) < 0.05  # dangling-free graph keeps mass


class TestStronglyConnectedComponents:
    """General-digraph SCC: the coloring algorithm's correctness hinges on
    the backward sweep being restricted to one color partition — these
    fixtures include the exact shapes that break the naive alternatives
    (forward-color alone, or fwd×bwd color pairs)."""

    def _scc(self, spark, pairs, max_iters=8, max_rounds=6):
        from flink_neo4j_spark.operators.graph_algos import (
            strongly_connected_components,
        )

        edges = spark.createDataFrame(pairs, "src long, dst long")
        out = strongly_connected_components(edges, max_iters, max_rounds)
        return {r["vid"]: r["scc"] for r in out.collect()}

    def test_two_cycles_with_bridge(self, spark):
        # 0→1→2→0 and 3→4→3, one-way bridge 0→3: forward colors put all
        # five vertices in partition 0, but the SCCs must split
        got = self._scc(
            spark, [(0, 1), (1, 2), (2, 0), (3, 4), (4, 3), (0, 3)]
        )
        assert got == {0: 0, 1: 0, 2: 0, 3: 3, 4: 3}

    def test_tail_chain_singletons(self, spark):
        # cycle 0↔1 with tail 1→2→3: tail vertices are singleton SCCs,
        # peeled over successive rounds
        got = self._scc(spark, [(0, 1), (1, 0), (1, 2), (2, 3)])
        assert got == {0: 0, 1: 0, 2: 2, 3: 3}

    def test_diamond_shared_min_ancestor_descendant(self, spark):
        # 0→7, 0→8, 7→1, 8→1: vertices 7 and 8 share the min ancestor (0)
        # AND the min descendant (1) yet are NOT one SCC — the case the
        # fwd×bwd color-pair heuristic misclassifies
        got = self._scc(spark, [(0, 7), (0, 8), (7, 1), (8, 1)])
        assert got == {0: 0, 1: 1, 7: 7, 8: 8}

    def test_nonconvergence_raises(self, spark):
        import pytest

        with pytest.raises(ValueError, match="did not converge"):
            self._scc(
                spark, [(0, 1), (1, 0), (1, 2), (2, 3), (3, 4)],
                max_rounds=2,
            )

    def test_undersized_back_iters_raises(self, spark):
        # a 4-cycle needs 3 backward steps; back_iters=1 would silently
        # mark only {root, one predecessor} and peel the rest as fake
        # singletons — the fixpoint proof must catch it
        import pytest

        from flink_neo4j_spark.operators.graph_algos import (
            strongly_connected_components,
        )

        edges = spark.createDataFrame(
            [(0, 1), (1, 2), (2, 3), (3, 0)], "src long, dst long"
        )
        with pytest.raises(ValueError, match="fixpoint.*back_iters"):
            strongly_connected_components(
                edges, max_iters=6, max_rounds=4, back_iters=1
            ).collect()

    def test_undersized_max_iters_raises(self, spark):
        # forward propagation on a long cycle cannot reach its min-label
        # fixpoint in 2 steps; either the fixpoint proof or the peel
        # residual must raise — never a silent wrong answer
        import pytest

        from flink_neo4j_spark.operators.graph_algos import (
            strongly_connected_components,
        )

        edges = spark.createDataFrame(
            [(i, (i + 1) % 8) for i in range(8)], "src long, dst long"
        )
        with pytest.raises(ValueError, match="fixpoint|did not converge"):
            strongly_connected_components(
                edges, max_iters=2, max_rounds=6
            ).collect()


class TestBetweennessCentrality:
    """Brandes over shapes with known closed forms — the diamond pins the
    σ-fraction tie splitting the tree conformance oracle (g61) cannot
    exercise."""

    def _bc(self, spark, pairs, **kw):
        from flink_neo4j_spark.operators.graph_algos import (
            betweenness_centrality,
        )

        edges = spark.createDataFrame(pairs, "src long, dst long")
        out = betweenness_centrality(edges, **kw)
        return {r["vid"]: round(r["betweenness"], 6) for r in out.collect()}

    def test_path_graph(self, spark):
        # 0-1-2-3: interior vertices carry the crossing pairs
        got = self._bc(spark, [(0, 1), (1, 2), (2, 3)])
        assert got == {0: 0.0, 1: 2.0, 2: 2.0, 3: 0.0}

    def test_star_graph(self, spark):
        # center crosses every leaf pair: C(4,2) = 6
        got = self._bc(spark, [(0, 1), (0, 2), (0, 3), (0, 4)])
        assert got == {0: 6.0, 1: 0.0, 2: 0.0, 3: 0.0, 4: 0.0}

    def test_diamond_tie_split(self, spark):
        # 0-1-3 / 0-2-3: the (0,3) pair splits σ = 1/2 to each middle,
        # and the (1,2) pair splits across 0 and 3 — every vertex 0.5
        got = self._bc(spark, [(0, 1), (0, 2), (1, 3), (2, 3)])
        assert got == {0: 0.5, 1: 0.5, 2: 0.5, 3: 0.5}

    def test_sampled_sources_restricted_sum(self, spark):
        # only source 1 on the star: the center is interior to (1,t) for
        # t in {2,3,4} -> delta 3, halved by the undirected convention
        from flink_neo4j_spark.operators.graph_algos import (
            betweenness_centrality,
        )

        edges = spark.createDataFrame(
            [(0, 1), (0, 2), (0, 3), (0, 4)], "src long, dst long"
        )
        srcs = spark.createDataFrame([(1,)], "vid long")
        got = {
            r["vid"]: round(r["betweenness"], 6)
            for r in betweenness_centrality(edges, sources=srcs).collect()
        }
        assert got[0] == 1.5
        assert all(v == 0.0 for k, v in got.items() if k != 0)

    def test_undrained_bfs_raises(self, spark):
        import pytest

        from flink_neo4j_spark.operators.graph_algos import (
            betweenness_centrality,
        )

        edges = spark.createDataFrame(
            [(0, 1), (1, 2), (2, 3)], "src long, dst long"
        )
        with pytest.raises(ValueError, match="did not drain"):
            betweenness_centrality(edges, max_iters=1).collect()


class TestModularity:
    def test_two_triangles_bridge(self, spark):
        # two triangles {0,1,2} and {3,4,5} joined by one bridge 2-3:
        # m=7, e_c=3 each, deg sums 7 each -> Q = 2*(3/7 - (7/14)^2)
        from flink_neo4j_spark.operators.graph_algos import (
            modularity_by_community,
        )

        edges = spark.createDataFrame(
            [(0, 1), (0, 2), (1, 2), (3, 4), (3, 5), (4, 5), (2, 3)],
            "u long, v long",
        )
        assign = spark.createDataFrame(
            [(i, "A" if i < 3 else "B") for i in range(6)],
            "id long, comm string",
        )
        rows = {
            r["comm"]: r for r in modularity_by_community(edges, assign).collect()
        }
        assert rows["A"]["e_in"] == 3 and rows["B"]["e_in"] == 3
        assert rows["A"]["deg_sum"] == 7 and rows["B"]["deg_sum"] == 7
        # each community's contribution is 6dp-rounded independently
        assert rows["A"]["contrib"] == rows["B"]["contrib"] == round(
            3 / 7 - 0.25, 6
        )

    def test_all_one_community_zero(self, spark):
        # a single community containing every vertex has Q = 0 exactly
        from flink_neo4j_spark.operators.graph_algos import (
            modularity_by_community,
        )

        edges = spark.createDataFrame(
            [(0, 1), (1, 2), (0, 2)], "u long, v long"
        )
        assign = spark.createDataFrame(
            [(i, "all") for i in range(3)], "id long, comm string"
        )
        rows = modularity_by_community(edges, assign).collect()
        assert len(rows) == 1 and rows[0]["contrib"] == 0.0


class TestModularityOptimization:
    def test_two_triangles_bridge_finds_communities(self, spark):
        from flink_neo4j_spark.operators.graph_algos import (
            modularity_optimization,
        )

        edges = spark.createDataFrame(
            [(0, 1), (0, 2), (1, 2), (3, 4), (3, 5), (4, 5), (2, 3)],
            "u long, v long",
        )
        assign, q_num, denom = modularity_optimization(edges)
        got = {r["id"]: r["comm"] for r in assign.collect()}
        assert got[0] == got[1] == got[2]
        assert got[3] == got[4] == got[5]
        assert got[0] != got[3]
        # exact Q = 2*(4*7*3 - 49)/196 = 70/196
        assert (q_num, denom) == (70, 196)

    def test_monotone_rule_is_layout_independent(self, spark):
        from flink_neo4j_spark.operators.graph_algos import (
            modularity_optimization,
        )

        ring = [(i, (i + 1) % 10) for i in range(9)] + [(0, 9)]
        edges = spark.createDataFrame(
            [(min(a, b), max(a, b)) for a, b in ring], "u long, v long"
        )
        a1, q1, d1 = modularity_optimization(edges.repartition(1))
        a8, q8, d8 = modularity_optimization(edges.repartition(8))
        assert (q1, d1) == (q8, d8)
        assert sorted(map(tuple, a1.collect())) == sorted(
            map(tuple, a8.collect())
        )

    def test_improves_over_singletons(self, spark):
        from flink_neo4j_spark.operators.graph_algos import (
            modularity_optimization,
        )

        # singleton assignment has Q = -sum(k_u^2)/4m^2 < 0; any real
        # merge improves it on a graph with communities
        edges = spark.createDataFrame(
            [(0, 1), (1, 2), (0, 2), (3, 4), (4, 5), (3, 5)],
            "u long, v long",
        )
        _, q_num, denom = modularity_optimization(edges)
        assert q_num > 0
        # two disjoint triangles: perfect split Q = 2*(1/2 - 1/4) = 1/2
        assert q_num / denom == 0.5

    def test_empty_edges_raise(self, spark):
        import pytest

        from flink_neo4j_spark.operators.graph_algos import (
            modularity_optimization,
        )

        edges = spark.createDataFrame([], "u long, v long")
        with pytest.raises(ValueError, match="empty"):
            modularity_optimization(edges)


class TestFastRP:
    def _emb(self, spark, pairs, **kw):
        from flink_neo4j_spark.operators.graph_algos import fastrp_embeddings

        edges = spark.createDataFrame(pairs, "u long, v long")
        rows = fastrp_embeddings(edges, **kw).collect()
        out = {}
        for r in rows:
            out.setdefault(r["id"], {})[r["d"]] = r["val"]
        import numpy as np

        return {k: np.array([v[d] for d in sorted(v)]) for k, v in out.items()}

    def test_cliques_cluster_in_embedding_space(self, spark):
        import numpy as np

        # two 4-cliques joined by one bridge: intra-clique cosine must
        # exceed inter-clique cosine for non-bridge vertices
        k1 = [(a, b) for a in range(4) for b in range(a + 1, 4)]
        k2 = [(a, b) for a in range(4, 8) for b in range(a + 1, 8)]
        emb = self._emb(spark, k1 + k2 + [(3, 4)])

        def cos(a, b):
            return float(
                emb[a] @ emb[b]
                / (np.linalg.norm(emb[a]) * np.linalg.norm(emb[b]) + 1e-12)
            )

        intra = cos(0, 1)
        inter = cos(0, 5)
        assert intra > inter + 0.2, (intra, inter)

    def test_deterministic_across_layouts(self, spark):
        import numpy as np

        pairs = [(i, (i + 1) % 6) for i in range(5)] + [(0, 5), (1, 3)]
        pairs = [(min(a, b), max(a, b)) for a, b in pairs]
        from flink_neo4j_spark.operators.graph_algos import fastrp_embeddings

        e1 = spark.createDataFrame(pairs, "u long, v long").repartition(1)
        e8 = spark.createDataFrame(pairs, "u long, v long").repartition(8)
        r1 = {(r["id"], r["d"]): r["val"] for r in fastrp_embeddings(e1).collect()}
        r8 = {(r["id"], r["d"]): r["val"] for r in fastrp_embeddings(e8).collect()}
        assert set(r1) == set(r8)
        # float mean accumulation order may differ across layouts —
        # values agree to float tolerance, geometry exactly
        assert all(abs(r1[k] - r8[k]) < 1e-9 for k in r1)

    def test_isolated_projection_layer_only(self, spark):
        # weights (1, 0): the embedding is the pure normalized projection
        # — unit norm (or zero for an all-zero row)
        import numpy as np

        emb = self._emb(
            spark, [(0, 1), (1, 2)], weights=(1.0, 0.0)
        )
        for v, vec in emb.items():
            n = np.linalg.norm(vec)
            assert abs(n - 1.0) < 1e-9 or n == 0.0


class TestKnuthHashOverflow:
    def test_matches_direct_product_at_all_magnitudes(self, spark):
        # round-6 advisory: v * 2654435761 overflows int64 for v >= ~3.47e9
        # and Spark wraps silently (non-ANSI) while DuckDB raises. The
        # split-multiplier form must equal the mathematical
        # (v * MULT) mod 2^32 at every magnitude, including past the old
        # overflow point (partkeys reach ~2e10 at the 100 TB target).
        from flink_neo4j_spark.operators.graph_algos import (
            _HASH_MOD,
            _HASH_MULT,
            _knuth_hash,
        )

        vals = [0, 1, 7, 2**31 - 1, 3_470_000_000, 2**35 + 17, 2**62 - 3]
        df = spark.createDataFrame([(v,) for v in vals], "v long")
        got = {
            r["v"]: r["h"]
            for r in df.select("v", _knuth_hash(F.col("v")).alias("h")).collect()
        }
        assert got == {v: (v * _HASH_MULT) % _HASH_MOD for v in vals}

    def test_oracle_sql_mirror(self):
        # the DuckDB mirror computes the identical value without raising
        import duckdb

        from flink_neo4j_spark.operators.graph_algos import (
            _HASH_MOD,
            _HASH_MULT,
            _KNUTH_HASH_SQL,
        )

        con = duckdb.connect()
        for v in (0, 1, 2**31 - 1, 3_470_000_000, 2**35 + 17, 2**62 - 3):
            (got,) = con.execute(
                f"SELECT {_KNUTH_HASH_SQL} FROM (SELECT CAST({v} AS BIGINT) AS v)"
            ).fetchone()
            assert got == (v * _HASH_MULT) % _HASH_MOD, v

"""PageRank operator tests (operators/graph.py:pagerank): reference parity,
partition invariance, mass conservation, and the fixed-k contract."""

from __future__ import annotations


def _ref_pagerank(edges, n_iter=3, damping=0.85):
    """Driver-side reference with the SAME quantization contract."""
    def r6(x):
        import math
        return math.floor(x * 1e6 + 0.5) / 1e6

    sym = set()
    for a, b in edges:
        sym.add((a, b))
        sym.add((b, a))
    nodes = sorted({a for a, _ in sym})
    deg = {v: sum(1 for a, _ in sym if a == v) for v in nodes}
    n = len(nodes)
    r = {v: r6(1.0 / n) for v in nodes}
    for _ in range(n_iter):
        inflow = {v: 0.0 for v in nodes}
        for a, b in sym:
            inflow[b] += r6(r[a] / deg[a])  # 6-dec values: sums exact-ish
        r = {v: r6((1.0 - damping) / n + damping * inflow[v]) for v in nodes}
    return deg, r


def test_pagerank_matches_reference_and_is_partition_invariant(spark):
    from kyiv_traffic_bigdata_spark.operators.graph import pagerank

    # two triangles bridged by one edge + a pendant: asymmetric degrees
    edges = [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5), (5, 6), (4, 6), (6, 7)]
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    got = {r.node: (r.deg, r.rank) for r in pagerank(df).collect()}
    deg, ref = _ref_pagerank(edges)
    assert {k: v[0] for k, v in got.items()} == deg
    for v in ref:
        assert abs(got[v][1] - ref[v]) < 2e-6, (v, got[v][1], ref[v])
    # bridge nodes (3, 4, 6) outrank the pendant (7)
    assert got[4][1] > got[7][1] and got[6][1] > got[7][1]

    again = {r.node: (r.deg, r.rank) for r in pagerank(df.repartition(7)).collect()}
    assert again == got  # bit-identical under any partitioning

    # rank mass stays ~1 (quantization loses at most n*1e-6 per sweep)
    assert abs(sum(v[1] for v in got.values()) - 1.0) < len(ref) * 5e-6


def test_pagerank_empty_edges(spark):
    from kyiv_traffic_bigdata_spark.operators.graph import pagerank

    df = spark.createDataFrame([], "id_a long, id_b long")
    assert pagerank(df).collect() == []

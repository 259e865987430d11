"""training/graph.py — integer micro-unit PageRank."""

import pytest

from openeo_processes_dask_spark.training.graph import SCALE, pagerank


def _python_pagerank(edges, iterations, damping_pct=85):
    """Independent replay of the documented integer update rule."""
    nodes = sorted({u for u, _ in edges} | {v for _, v in edges})
    n = len(nodes)
    init = SCALE // n
    base = ((100 - damping_pct) * init) // 100
    outdeg = {}
    for u, _ in edges:
        outdeg[u] = outdeg.get(u, 0) + 1
    rank = {v: init for v in nodes}
    for _ in range(iterations):
        inc = {v: 0 for v in nodes}
        for u, v in edges:
            inc[v] += rank[u] // outdeg[u]
        rank = {v: base + (damping_pct * inc[v]) // 100 for v in nodes}
    return rank


EDGES = [
    (1, 2), (1, 3), (2, 3), (3, 1), (4, 3), (5, 3), (5, 1),
    # 6 is dangling (inbound only); 7 links out but nothing links in
    (2, 6), (7, 1),
]


def test_pagerank_matches_python_replay(spark):
    df = spark.createDataFrame(EDGES, ["src", "dst"])
    got = {r["node"]: r["rank"] for r in pagerank(df, iterations=4).collect()}
    assert got == _python_pagerank(EDGES, 4)


def test_pagerank_partitioning_invariant(spark):
    df1 = spark.createDataFrame(EDGES, ["src", "dst"]).repartition(7)
    df2 = spark.createDataFrame(EDGES, ["src", "dst"]).coalesce(1)
    r1 = {r["node"]: r["rank"] for r in pagerank(df1, iterations=3).collect()}
    r2 = {r["node"]: r["rank"] for r in pagerank(df2, iterations=3).collect()}
    assert r1 == r2


def test_pagerank_zero_iterations_is_uniform(spark):
    df = spark.createDataFrame(EDGES, ["src", "dst"])
    got = {r["node"]: r["rank"] for r in pagerank(df, iterations=0).collect()}
    n = len({u for u, _ in EDGES} | {v for _, v in EDGES})
    assert set(got.values()) == {SCALE // n}


def test_pagerank_authority_ordering(spark):
    # node 3 collects the most inbound links, and hands ALL of it to its
    # only out-neighbor 1, so 1 > 3 > everything else; the no-inbound
    # nodes 4/5/7 share the pure-base minimum
    df = spark.createDataFrame(EDGES, ["src", "dst"])
    got = {r["node"]: r["rank"] for r in pagerank(df, iterations=5).collect()}
    ranked = sorted(got, key=lambda v: -got[v])
    assert ranked[:2] == [1, 3]
    assert got[4] == got[5] == got[7] == min(got.values())


def test_pagerank_rejects_bad_params(spark):
    df = spark.createDataFrame(EDGES, ["src", "dst"])
    with pytest.raises(ValueError):
        pagerank(df, iterations=-1)
    with pytest.raises(ValueError):
        pagerank(df, damping_pct=101)


def test_pagerank_long_chain_checkpoints(spark):
    # 12 iterations crosses two checkpoint intervals; the chain graph
    # also exercises rank flow over distance
    chain = [(i, i + 1) for i in range(10)] + [(10, 0)]
    df = spark.createDataFrame(chain, ["src", "dst"])
    got = {r["node"]: r["rank"] for r in pagerank(df, iterations=12).collect()}
    assert got == _python_pagerank(chain, 12)

# --- triangle_counts ---------------------------------------------------

from openeo_processes_dask_spark.training.graph import triangle_counts  # noqa: E402


def _python_triangles(edges):
    canon = {(min(a, b), max(a, b)) for a, b in edges if a != b}
    adj = {}
    for a, b in canon:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    out = {v: 0 for v in adj}
    for a, b in canon:
        for c in adj[a] & adj[b]:
            if c > b:
                out[a] += 1
                out[b] += 1
                out[c] += 1
    return out


def test_triangles_known_graph(spark):
    # K4 on {1..4} (every node in C(3,2)=3 triangles) plus a pendant 5
    k4 = [(a, b) for a in range(1, 5) for b in range(a + 1, 5)]
    df = spark.createDataFrame(k4 + [(4, 5)], ["src", "dst"])
    got = {r["node"]: r["triangles"] for r in triangle_counts(df).collect()}
    assert got == {1: 3, 2: 3, 3: 3, 4: 3, 5: 0}


def test_triangles_dedup_loops_and_reversals(spark):
    # duplicates, reversed duplicates, and self-loops must not inflate
    edges = [(1, 2), (2, 1), (2, 3), (3, 1), (1, 1), (1, 2)]
    df = spark.createDataFrame(edges, ["src", "dst"])
    got = {r["node"]: r["triangles"] for r in triangle_counts(df).collect()}
    assert got == {1: 1, 2: 1, 3: 1}


def test_triangles_matches_python_on_random_graph(spark):
    # deterministic pseudo-random graph incl. a hub (node 0) to exercise
    # the degree orientation
    edges = [((i * i) % 23, (i * 7 + 2) % 23) for i in range(80)]
    edges += [(0, i) for i in range(1, 15)]
    df = spark.createDataFrame(edges, ["src", "dst"]).repartition(5)
    got = {r["node"]: r["triangles"] for r in triangle_counts(df).collect()}
    assert got == _python_triangles(edges)


def test_triangles_triangle_free(spark):
    # even cycle: no triangles anywhere
    cyc = [(i, (i + 1) % 8) for i in range(8)]
    df = spark.createDataFrame(cyc, ["src", "dst"])
    rows = triangle_counts(df).collect()
    assert len(rows) == 8 and all(r["triangles"] == 0 for r in rows)


# --- harmonic_centrality (HyperBall) ------------------------------------

def test_harmonic_python_replay(spark):
    import hashlib
    import math

    from openeo_processes_dask_spark.training.graph import (
        harmonic_centrality,
    )

    edges = [(i % 23, (i * 7 + 2) % 23) for i in range(60)]
    df = spark.createDataFrame(edges, "src long, dst long").repartition(5)
    got = {
        r["node"]: r["harmonic"]
        for r in harmonic_centrality(df, iterations=2, p=4).collect()
    }

    p, m, bits, S, alpha = 4, 16, 56, 57, 0.673
    E = sorted({(a, b) for a, b in edges if a != b})
    nodes = sorted({a for a, _ in E} | {b for _, b in E})

    def reg(n):
        h = int(hashlib.md5(f"hll-{n}".encode()).hexdigest()[:15], 16)
        rest = h >> p
        rho = (bits - math.floor(math.log2(rest))) if rest > 0 else bits + 1
        return h % m, int(rho)

    def est(regs):
        cnt = len(regs)
        s_int = sum(1 << (S - r) for r in regs.values()) + (m - cnt) * (1 << S)
        raw = alpha * m * m / (float(s_int) / float(1 << S))
        if raw <= 2.5 * m and cnt < m:
            return m * math.log(m / (m - cnt))
        return raw

    R = {n: dict([reg(n)]) for n in nodes}
    nbrs = {}
    for a, b in E:
        nbrs.setdefault(a, []).append(b)
    balls = {n: [est(R[n])] for n in nodes}
    for _ in range(2):
        R2 = {}
        for n in nodes:
            merged = dict(R[n])
            for u in nbrs.get(n, []):
                for bk, r in R[u].items():
                    if merged.get(bk, 0) < r:
                        merged[bk] = r
            R2[n] = merged
        R = R2
        for n in nodes:
            balls[n].append(est(R[n]))
    exp = {
        n: round(sum((balls[n][t] - balls[n][t - 1]) / t for t in (1, 2)), 6)
        for n in nodes
    }
    assert got == exp


def test_harmonic_star_center_highest(spark):
    from openeo_processes_dask_spark.training.graph import (
        harmonic_centrality,
    )

    # hub 0 reaches everyone in 1 hop; leaves reach only the hub's ball
    # one hop later — the hub must dominate
    star = [(0, i) for i in range(1, 12)] + [(i, 0) for i in range(1, 12)]
    df = spark.createDataFrame(star, "src long, dst long")
    got = {
        r["node"]: r["harmonic"]
        for r in harmonic_centrality(df, iterations=2, p=6).collect()
    }
    assert max(got, key=got.get) == 0


def test_harmonic_validates(spark):
    import pytest

    from openeo_processes_dask_spark.training.graph import (
        harmonic_centrality,
    )

    df = spark.createDataFrame([(1, 2)], "src long, dst long")
    with pytest.raises(ValueError):
        harmonic_centrality(df, iterations=0)
    with pytest.raises(ValueError):
        harmonic_centrality(df, p=3)


def test_harmonic_materialize_edges_identical(spark):
    """The materialized edge table is the DISTINCT edge list: an input
    with every edge duplicated gives the same table as the same edges
    without duplicates."""
    from openeo_processes_dask_spark.training.graph import (
        harmonic_centrality,
    )

    edges = sorted({(i % 19, (i * 5 + 3) % 19) for i in range(50)})
    once = spark.createDataFrame(edges, "src long, dst long")
    twice = spark.createDataFrame(edges + edges, "src long, dst long")
    ref = sorted(
        map(tuple, harmonic_centrality(once, iterations=2, p=4).collect())
    )
    got = sorted(
        map(tuple, harmonic_centrality(twice, iterations=2, p=4).collect())
    )
    assert got == ref


def test_triangle_plan_has_no_window(spark):
    """Regression pin for the serial-window class (SCALECHECK probe 12):
    the orientation must come from tuple comparison, not a global
    row_number — no Window operator anywhere in the plan."""
    df = spark.createDataFrame([(1, 2), (2, 3), (1, 3)], "src long, dst long")
    plan = (
        triangle_counts(df)._jdf.queryExecution().optimizedPlan().toString()
    )
    assert "Window" not in plan

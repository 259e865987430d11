"""Link-graph analytics for crawl corpus curation.

Crawl pipelines weight documents by the authority of their host — a
domain-level PageRank (or harmonic centrality, as Common Crawl publishes)
feeds quality scoring and crawl-frontier prioritization. No reference
counterpart (LLM-pipeline lane; the reference is a raster operator
library).

The engine's usual bit-stability rule applies: every iterative update is
integer micro-unit arithmetic, so sums are associative/commutative and the
result is bit-identical under any partitioning, any engine — which is what
lets a DuckDB oracle replay it exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from openeo_processes_dask_spark.training.sketches import (
    _hll_alpha,
    _hll_bucket_rho,
)

#: total rank mass in integer units; 1e12 keeps per-node ranks well above
#: the floor-division granularity for any realistic node count while the
#: damped sums stay far inside int64 (85 * 1e12 << 2^63)
SCALE = 1_000_000_000_000


def pagerank(
    edges: DataFrame,
    iterations: int = 3,
    damping_pct: int = 85,
    src_col: str = "src",
    dst_col: str = "dst",
    checkpoint_interval: int = 5,
) -> DataFrame:
    """PageRank over a directed edge list, fixed iteration count.

    Returns (node, rank) with rank in integer micro-units of ``SCALE``
    total initial mass (divide by ``SCALE`` for probabilities). Update
    rule per iteration, all in int64::

        share(u)  = rank(u) div outdeg(u)          -- floor
        rank'(v)  = base + (damping_pct * sum_{u->v} share(u)) div 100
        base      = ((100 - damping_pct) * (SCALE div N)) div 100

    Dangling-node mass (nodes with no out-edges) is dropped rather than
    redistributed — the standard simplification; ranks remain a strict
    ordering, just not a normalized distribution.

    Plan at 100 TB: ``edges`` dominates; each iteration is ONE shuffle
    join of the node-sized rank relation into the edge relation on
    ``src`` plus ONE hash aggregate on ``dst`` — the canonical
    distributed PageRank shape. The out-degree relation is computed once
    and joined by the same ``src`` key, so AQE reuses the exchange; for a
    domain-level graph (node count in the millions) the rank relation is
    broadcastable and the edge relation never shuffles at all. Lineage is
    truncated every ``checkpoint_interval`` iterations (localCheckpoint:
    persist() would cut execution but not the analyzed plan, which
    otherwise grows with every self-referencing iteration). Unlike
    :func:`harmonic_centrality`, no round is re-read later, and an A/B
    measured per-round checkpointing here as a 2.5x regression.
    """
    if iterations < 0:
        raise ValueError(f"iterations must be >= 0, got {iterations}")
    if not 0 <= damping_pct <= 100:
        raise ValueError(f"damping_pct must be in [0, 100], got {damping_pct}")
    e = edges.select(
        F.col(src_col).cast("long").alias("src"),
        F.col(dst_col).cast("long").alias("dst"),
    )
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    # N and the two derived constants are driver-side scalars (metadata,
    # not data); inlined as literals so the per-iteration plan is pure
    # integer column arithmetic
    n = nodes.count()
    if n == 0:
        return nodes.withColumn("rank", F.lit(0).cast("long"))
    init = SCALE // n
    base = ((100 - damping_pct) * init) // 100
    outdeg = e.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    ranks = nodes.withColumn("rank", F.lit(init).cast("long"))
    for it in range(iterations):
        # every relation here re-derives from `e`, so joins use explicit
        # DataFrame aliases (attribute-id ambiguity otherwise)
        shares = (
            ranks.alias("r")
            .join(outdeg.alias("d"), F.col("r.node") == F.col("d.src"))
            .select(
                F.col("d.src").alias("u"),
                F.expr("r.rank div d.outdeg").alias("share"),
            )
        )
        inc = (
            e.alias("e")
            .join(shares.alias("s"), F.col("e.src") == F.col("s.u"))
            .groupBy(F.col("e.dst").alias("dst"))
            .agg(F.sum("s.share").alias("inc"))
        )
        ranks = (
            nodes.alias("n")
            .join(inc.alias("i"), F.col("n.node") == F.col("i.dst"), "left")
            .select(
                F.col("n.node").alias("node"),
                (
                    F.lit(base)
                    + F.expr(
                        f"({damping_pct} * coalesce(i.inc, 0L)) div 100"
                    )
                ).cast("long").alias("rank"),
            )
        )
        if (it + 1) % checkpoint_interval == 0 and it + 1 < iterations:
            ranks = ranks.localCheckpoint(eager=True)
    return ranks


def triangle_counts(
    edges: DataFrame, src_col: str = "src", dst_col: str = "dst"
) -> DataFrame:
    """Per-node triangle counts over an undirected graph.

    Returns ``(node, triangles)`` — one row per node that appears in any
    (non-loop) edge, ``triangles`` = number of triangles the node is a
    corner of (int64; 0 for triangle-free nodes). Self-loops are dropped;
    parallel/reversed duplicates collapse via canonicalization.

    No reference counterpart (LLM-pipeline lane: triangle counts feed
    link-spam scoring — spam farms have anomalously dense ego-nets — and
    graph-quality weighting alongside :func:`pagerank`).

    Plan at 100 TB (the classic degree-ordered orientation, cf. Suri &
    Vassilvitskii "Counting Triangles and the Curse of the Last Reducer",
    WWW'11): every edge is oriented from its lower-ranked endpoint to the
    higher by the total order (degree, node), so each triangle is
    enumerated EXACTLY once from its lowest-ranked corner, and the wedge
    (2-path) relation generated at a node is quadratic in its *oriented*
    out-degree, which the ordering bounds at O(sqrt(m)) even for
    power-law hubs — the wedge join stays O(m^1.5) total instead of the
    O(sum deg^2) a naive common-neighbor join pays. The rank relation is
    node-sized (one row per node), so its window sort and the two
    orientation joins are exchanges over relations much smaller than the
    edge list; the wedge->closure join is a plain shuffle equi-join on
    the oriented edge key. No driver-side state at all.
    """
    e = (
        edges.select(
            F.least(
                F.col(src_col).cast("long"), F.col(dst_col).cast("long")
            ).alias("a"),
            F.greatest(
                F.col(src_col).cast("long"), F.col(dst_col).cast("long")
            ).alias("b"),
        )
        .where(F.col("a") != F.col("b"))
        .distinct()
    )
    nodes = (
        e.select(F.col("a").alias("node"))
        .unionByName(e.select(F.col("b").alias("node")))
    )
    deg = nodes.groupBy("node").agg(F.count(F.lit(1)).alias("deg"))
    # total order: the TUPLE (deg, node) — node uniqueness breaks ties.
    # The tuple is compared DIRECTLY; no global row_number over the node
    # relation, which would funnel every node through one unpartitioned
    # window task (the serial-bottleneck class the prefix-join fix
    # removed — same cure here).
    lt = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))
    )
    o = (
        e.join(
            deg.select(F.col("node").alias("a"), F.col("deg").alias("da")),
            "a",
        )
        .join(
            deg.select(F.col("node").alias("b"), F.col("deg").alias("db")),
            "b",
        )
        .select(
            F.when(lt, F.col("a")).otherwise(F.col("b")).alias("lo"),
            F.when(lt, F.col("b")).otherwise(F.col("a")).alias("hi"),
            F.when(lt, F.col("db")).otherwise(F.col("da")).alias("dhi"),
        )
    )
    # wedges from each lowest-ranked corner: pairs of out-neighbors,
    # ordered by the (deg, node) tuple so each unordered pair appears once
    e1, e2 = o.alias("e1"), o.alias("e2")
    hi_lt = (F.col("e1.dhi") < F.col("e2.dhi")) | (
        (F.col("e1.dhi") == F.col("e2.dhi"))
        & (F.col("e1.hi") < F.col("e2.hi"))
    )
    wedges = e1.join(
        e2,
        (F.col("e1.lo") == F.col("e2.lo")) & hi_lt,
    ).select(
        F.col("e1.lo").alias("u"),
        F.col("e1.hi").alias("v"),
        F.col("e2.hi").alias("w"),
    )
    # closure: the oriented edge v->w must exist (v precedes w by
    # construction of the wedge, so no orientation flip is needed)
    closure = o.select(F.col("lo").alias("v"), F.col("hi").alias("w"))
    tri = wedges.join(closure, ["v", "w"])
    corners = (
        tri.select(F.col("u").alias("node"))
        .unionByName(tri.select(F.col("v").alias("node")))
        .unionByName(tri.select(F.col("w").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("triangles"))
    )
    return (
        deg.select("node")
        .join(corners, "node", "left")
        .select(
            "node",
            F.coalesce(F.col("triangles"), F.lit(0)).cast("long").alias("triangles"),
        )
    )


def harmonic_centrality(
    edges: DataFrame,
    iterations: int = 3,
    p: int = 4,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Approximate harmonic centrality via HyperBall (Boldi & Vigna,
    2013) — the authority metric Common Crawl actually publishes for its
    host graph, and the third leg of the link-analytics lane beside
    :func:`pagerank` and :func:`triangle_counts`.

    Each node carries a HyperLogLog register table (2^p registers, the
    md5-derived construction of ``training.sketches``) approximating its
    out-ball B_t(v) = nodes reachable in <= t hops; one iteration is
    register-union with the out-neighbors' tables (entrywise max — ONE
    join edge->registers + ONE max aggregate, the pagerank shape).
    Pass reversed edges for the classic "who reaches me" direction.
    Returns ``(node, harmonic)`` with
    ``harmonic = sum_t (|B_t| - |B_{t-1}|) / t`` over the HLL estimates
    (round 6); estimator noise can make a step negative — kept as-is so
    the oracle replays exactly.

    Bit-stability: registers are small ints under max-merge (idempotent,
    commutative — any partitioning), and the per-node estimate sums
    2^(S-rho) as EXACT int64 before ONE float division + the standard
    linear-counting branch, so even the float tail is a pure function of
    the register table. Per-node state is 2^p registers — at 100 TB the
    register relation is nodes x 2^p rows and edges never widen.

    Materialization policy (both checkpoints are value-transparent):
    every round's register table is ``localCheckpoint``-ed, because each
    one is re-read by its ball estimate at the end as well as by the next
    round (the Pregel superstep shape; 2.64 -> 2.25 s at sf0.1 against no
    per-round checkpoint). The distinct edge list is checkpointed once,
    up front, because every round's neighbor join reads it and each
    round's eager checkpoint is its own action, so AQE cannot share the
    dedup shuffle across rounds (3.23 -> 2.31 s at sf0.1).
    """
    if iterations < 1:
        raise ValueError(f"iterations must be >= 1, got {iterations}")
    if not 4 <= p <= 12:
        raise ValueError(f"p must be in [4, 12], got {p}")
    m = 1 << p
    shift_base = 60 - p + 1  # rho in [1, 61-p] -> exponent >= 0
    two_pow = float(1 << shift_base)
    alpha = _hll_alpha(m)
    e = (
        edges.select(
            F.col(src_col).cast("long").alias("src"),
            F.col(dst_col).cast("long").alias("dst"),
        )
        .where(F.col("src") != F.col("dst"))
        .distinct()
        # blocks are ContextCleaner-released with the returned plan, the
        # same lifetime as the per-round register checkpoints below
        .localCheckpoint(eager=True)
    )
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    bucket, rho = _hll_bucket_rho("node", p)
    regs = nodes.select("node", bucket.alias("bucket"), rho.alias("rho"))

    # Not sketches.hyperloglog_estimate_grouped (a rounded DECIMAL-sum
    # estimate): this one sums in int64 and stays unrounded until the
    # harmonic sum, the form the `harmonic` oracle replays.
    def estimate(r: DataFrame, name: str) -> DataFrame:
        g = r.groupBy("node").agg(
            F.count(F.lit(1)).cast("long").alias("cnt"),
            F.sum(F.expr(f"shiftleft(1L, {shift_base} - rho)"))
            .cast("long")
            .alias("s_present"),
        )
        s = (
            F.col("s_present")
            + (F.lit(m) - F.col("cnt")) * F.lit(1 << shift_base).cast("long")
        ).cast("double") / F.lit(two_pow)
        raw = F.lit(alpha * m * m) / s
        est = F.when(
            (raw <= F.lit(2.5 * m)) & (F.col("cnt") < m),
            F.lit(float(m)) * F.log(F.lit(float(m)) / (F.lit(m) - F.col("cnt"))),
        ).otherwise(raw)
        return g.select("node", est.alias(name))

    balls = [estimate(regs, "b0")]
    r = regs
    for t in range(1, iterations + 1):
        nbr = (
            e.alias("e")
            .join(r.alias("r"), F.col("e.dst") == F.col("r.node"))
            .select(
                F.col("e.src").alias("node"),
                F.col("r.bucket").alias("bucket"),
                F.col("r.rho").alias("rho"),
            )
        )
        r = (
            r.unionByName(nbr)
            .groupBy("node", "bucket")
            .agg(F.max("rho").alias("rho"))
        )
        if t < iterations:
            r = r.localCheckpoint(eager=True)
        balls.append(estimate(r, f"b{t}"))
    out = balls[0]
    for b in balls[1:]:
        out = out.join(b, "node")
    acc = None
    for t in range(1, iterations + 1):
        term = (F.col(f"b{t}") - F.col(f"b{t - 1}")) / F.lit(float(t))
        acc = term if acc is None else acc + term
    return out.select("node", F.round(acc, 6).alias("harmonic"))

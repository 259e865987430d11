"""Deterministic sampling, capping, sharding, and sequence packing for
training-data curation.

At 100 TB these are the gatekeeper ops between a raw corpus and training
shards. Every construction is hash-deterministic (the md5-long scheme
shared with dedup.py) rather than ``rand()``-based, so runs are exactly
reproducible, resumable, and the DuckDB oracle replicates them
bit-for-bit. The selection ops (sample/stratify) are pure scan filters —
no shuffle, column-pruned, and the filter sits directly on the parquet
scan; the capping/packing ops shuffle once on their natural key.

No counterpart in the reference (an EO raster engine); these implement
the LLM-pipeline lane of the build brief.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from openeo_processes_dask_spark.training.dedup import _md5_to_long

# 16^15: _md5_to_long's exclusive upper bound; dividing gives U(0,1).
_HASH_SPAN = float(1 << 60)


def _uniform01(col: Column, seed: int) -> Column:
    """Seeded deterministic U(0,1) per row: md5('<seed>-<value>') → [0, 1).

    Unlike ``F.rand(seed)`` this is a pure function of (seed, value) —
    independent of partitioning, task retries, and row order, which is
    what makes 100 TB sampling runs reproducible and auditable."""
    return (
        _md5_to_long(F.concat_ws("-", F.lit(str(seed)), col.cast("string")))
        / F.lit(_HASH_SPAN)
    )


def sample_uniform(
    df: DataFrame, fraction: float, seed: int = 42, id_col: str = "doc_id"
) -> DataFrame:
    """Seeded Bernoulli sample: keep rows whose hash-uniform < fraction.

    A single codegen'd filter on the scan — zero shuffle, zero state.
    ``df.sample()`` is partition-order-dependent; this is not."""
    return df.where(_uniform01(F.col(id_col), seed) < F.lit(float(fraction)))


def sample_stratified(
    df: DataFrame,
    fractions: dict,
    strata_col: str,
    seed: int = 42,
    id_col: str = "doc_id",
    default: float = 0.0,
) -> DataFrame:
    """Per-stratum Bernoulli rates (e.g. downsample by language/source).

    ``fractions`` maps stratum value → keep rate; unlisted strata get
    ``default``. The rate lookup compiles to a when-chain (fractions maps
    are human-sized), so this stays a single scan filter like
    sample_uniform — the 100 TB plan is one pass, no shuffle."""
    rate = F.lit(float(default))
    for value, frac in reversed(list(fractions.items())):
        rate = F.when(F.col(strata_col) == F.lit(value), F.lit(float(frac))).otherwise(
            rate
        )
    return df.where(_uniform01(F.col(id_col), seed) < rate)


def split_assign(
    df: DataFrame,
    weights: dict,
    seed: int = 42,
    id_col: str = "doc_id",
    split_col: str = "split",
) -> DataFrame:
    """Deterministic train/val/test assignment: each row's hash-uniform
    lands in one of the cumulative ``weights`` ranges (insertion order).
    Weights need not sum to 1 — any remainder maps to NULL (held out).

    Like sample_uniform this is a pure projection — no shuffle, stable
    under repartitioning and re-runs, and a document never migrates
    between splits when the corpus grows (the property rand()-based
    splits lack)."""
    u = _uniform01(F.col(id_col), seed)
    expr = F.lit(None).cast("string")
    cum = float(sum(weights.values()))
    for name, w in reversed(list(weights.items())):
        expr = F.when(u < F.lit(cum), F.lit(name)).otherwise(expr)
        cum -= float(w)
    return df.withColumn(split_col, expr)


def sample_weighted_fixed(
    df: DataFrame,
    k: int,
    weight_col: str,
    group_cols: list | None = None,
    seed: int = 42,
    id_col: str = "doc_id",
) -> DataFrame:
    """Exactly-k weighted sample WITHOUT replacement (Efraimidis-Spirakis
    A-ES), optionally per group: rank rows by ln(u)/w descending, u the
    seeded md5-uniform of the id — inclusion probability is proportional
    to weight (e.g. "20 docs per language, biased to the long ones"), yet
    the draw is a pure function of (seed, id, weight): partition-order
    independent, task-retry safe, and bit-reproducible in the SQL oracle.
    Bernoulli sampling (sample_uniform) can't hit an exact quota; a
    global sort by weight isn't a sample. Non-positive weights are
    clamped to ~0 (never selected ahead of any positive weight).

    Scale shape: the grouped path is ``row_number ≤ k`` over a
    group-partitioned window — WindowGroupLimit makes each map task
    forward at most k rows per group BEFORE the one group-key exchange.
    The ungrouped path is orderBy+limit = TakeOrderedAndProject
    (per-partition heaps, k rows to the final merge). Neither path sorts
    or collects the corpus."""
    u = F.greatest(_uniform01(F.col(id_col), seed), F.lit(1e-18))
    w = F.greatest(F.col(weight_col).cast("double"), F.lit(1e-12))
    key = F.log(u) / w
    if not group_cols:
        return (
            df.withColumn("__aes__", key)
            .orderBy(F.col("__aes__").desc(), F.col(id_col))
            .limit(int(k))
            .drop("__aes__")
        )
    win = Window.partitionBy(*group_cols).orderBy(key.desc(), F.col(id_col))
    return (
        df.withColumn("__rn__", F.row_number().over(win))
        .where(F.col("__rn__") <= int(k))
        .drop("__rn__")
    )


def cap_per_group(
    df: DataFrame, group_cols: list, k: int, order_by: list
) -> DataFrame:
    """Keep at most k rows per group, ranked by ``order_by`` (e.g. top-k
    documents per domain by quality — the standard per-source quota cap).

    ``row_number() ≤ k`` compiles to WindowGroupLimit in Spark's physical
    plan: each map task forwards at most k rows per group BEFORE the
    exchange, so the shuffle carries ~k·|groups| rows, not the corpus.
    ``order_by`` must be a total order (break ties on the id) or the cap
    is nondeterministic."""
    w = Window.partitionBy(*group_cols).orderBy(*order_by)
    return (
        df.withColumn("__rn__", F.row_number().over(w))
        .where(F.col("__rn__") <= k)
        .drop("__rn__")
    )


def assign_shards(
    df: DataFrame, n_shards: int, seed: int = 42, id_col: str = "doc_id"
) -> DataFrame:
    """Deterministic shard id in [0, n_shards): md5-long mod n.

    Sharding by content-stable hash (not ``spark_partition_id`` or
    round-robin) means the same document lands in the same shard across
    runs and cluster sizes — prerequisite for incremental re-runs."""
    h = _md5_to_long(F.concat_ws("-", F.lit(str(seed)), F.col(id_col).cast("string")))
    return df.withColumn("shard", (h % F.lit(int(n_shards))).cast("int"))


def pack_tokens_contiguous(
    df: DataFrame,
    budget: int,
    token_col: str,
    id_col: str = "doc_id",
    shard_col: str | None = None,
    order_col: str | None = None,
) -> DataFrame:
    """GPT-style sequence packing: concatenate documents in order and cut
    every ``budget`` tokens; documents straddle segment boundaries.

    Returns one row per (document, segment) overlap: the original id,
    ``shard``, ``segment`` (0-based within shard), and ``seg_tokens`` —
    how many of the document's tokens land in that segment. Zero-token
    documents are dropped (they occupy no span).

    Plan: one window cumsum partitioned by ``shard_col`` ordered by
    ``order_col`` (default: the id), then each document emits its
    ``floor(start/budget) … floor((end−1)/budget)`` segment range via a
    sequence explode (fan-out = #segments touched, ~1). Partitioning by
    shard is what scales: an UNpartitioned global cumsum would funnel
    every row through one task, so callers at scale must shard first
    (assign_shards) — pass shard_col=None only for small frames, where
    a literal single shard is used and documented as such."""
    order_col = order_col or id_col
    if shard_col is None:
        df = df.withColumn("shard", F.lit(0))
        shard_col = "shard"
    n = F.col(token_col).cast("long")
    w = (
        Window.partitionBy(shard_col)
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    spans = (
        df.where(n > 0)
        .select(
            F.col(id_col),
            F.col(shard_col).alias("shard"),
            n.alias("__n__"),
            F.sum(n).over(w).alias("__end__"),
        )
        .withColumn("__start__", F.col("__end__") - F.col("__n__"))
    )
    b = F.lit(int(budget)).cast("long")
    seg = F.explode(
        F.sequence(
            (F.col("__start__") / b).cast("long"),
            ((F.col("__end__") - 1) / b).cast("long"),
        )
    ).alias("segment")
    out = spans.select(id_col, "shard", "__start__", "__end__", seg)
    seg_lo = F.col("segment") * b
    seg_hi = seg_lo + b
    return out.select(
        id_col,
        "shard",
        "segment",
        (
            F.least(F.col("__end__"), seg_hi) - F.greatest(F.col("__start__"), seg_lo)
        ).alias("seg_tokens"),
    )


def pack_greedy_first_fit(
    df: DataFrame,
    budget: int,
    token_col: str,
    id_col: str = "doc_id",
    shard_col: str = "shard",
    order_col: str | None = None,
) -> DataFrame:
    """No-split packing: first-fit documents into bins of ``budget``
    tokens, never splitting a document; oversized documents get a bin of
    their own. Returns (id, shard, bin, token count).

    First-fit is inherently sequential (bin state), so it runs per shard
    in an Arrow-batched applyInPandas over documents sorted by
    ``order_col`` — deterministic given the shard assignment. Bins are
    numbered within shard. At scale the shard is the parallelism unit:
    size shards to ~10⁵ documents (assign_shards n_shards) so each group
    is a comfortable single-task loop; the shuffle is the one groupBy."""
    import pandas as pd

    order_col = order_col or id_col
    sel = df.select(
        F.col(id_col), F.col(shard_col).alias("shard"),
        F.col(order_col).alias("__ord__"), F.col(token_col).cast("long").alias("__n__"),
    )

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("__ord__", kind="mergesort").reset_index(drop=True)
        free: list[int] = []  # remaining capacity per open bin
        bins = []
        for n in pdf["__n__"]:
            placed = None
            for i, room in enumerate(free):
                if n <= room:
                    placed = i
                    free[i] = room - n
                    break
            if placed is None:
                free.append(max(budget - n, 0))
                placed = len(free) - 1
            bins.append(placed)
        pdf["bin"] = pd.Series(bins, dtype="int64")
        return pdf[[id_col, "shard", "bin", "__n__"]].rename(
            columns={"__n__": "n_tokens"}
        )

    id_type = dict(df.dtypes)[id_col]
    schema = f"{id_col} {id_type}, shard int, bin bigint, n_tokens bigint"
    return sel.groupBy("shard").applyInPandas(pack, schema=schema)


def mix_corpus(
    df: DataFrame,
    weights: dict,
    token_budget: int,
    group_col: str = "source",
    token_col: str = "n_chars",
    seed: int = 42,
    id_col: str = "doc_id",
) -> DataFrame:
    """Data mixing: sample the corpus so each group contributes (at most)
    its target share of a token budget — the mixture step every training
    run configures (e.g. wiki 0.3 / web 0.6 / code 0.1 of 1T tokens).

    Per-group keep rate = min(1, budget*weight / group_tokens), computed
    from ONE metadata-sized aggregate (``len(weights)`` rows collected),
    then applied as a seeded-hash Bernoulli scan filter — the corpus pass
    itself is a single shuffle-free filter, identical in shape to
    sample_stratified, so the 100 TB plan is one scan. Expected sampled
    tokens per group ≈ budget*weight (Bernoulli, not exact-count; exact
    quotas would need a per-group sort — cap_per_group does that when
    row-exactness matters more than a second shuffle). Groups missing
    from ``weights`` are dropped. Rates are rounded to 9 decimals so the
    plan (and any SQL twin) is reproducible across engines.
    """
    totals = {
        r["g"]: r["tok"]
        for r in df.groupBy(F.col(group_col).alias("g"))
        .agg(F.sum(F.col(token_col)).alias("tok"))
        .collect()
    }
    rates = {}
    for g, w in weights.items():
        tot = totals.get(g, 0)
        if tot:
            rates[g] = round(min(1.0, token_budget * float(w) / tot), 9)
    return sample_stratified(
        df, rates, group_col, seed=seed, id_col=id_col, default=0.0
    )


def temperature_weights(
    df: DataFrame,
    alpha: float,
    group_col: str = "source",
    token_col: str = "n_chars",
) -> DataFrame:
    """Temperature-smoothed mixture weights: w_s ∝ p_s^alpha, normalized
    (the multilingual/multi-source rebalancing standard — alpha=1 keeps
    natural proportions, alpha=0 is uniform, 0<alpha<1 upweights the
    tail). Fully distributed: one group aggregate + two broadcast scalar
    joins; the output is one metadata-sized row per group, ready to
    drive :func:`mix_corpus`. Weights round to 6 decimals so the table
    is engine-reproducible."""
    tot = df.groupBy(group_col).agg(
        F.sum(F.col(token_col)).cast("double").alias("tok")
    )
    all_tok = tot.agg(F.sum("tok").alias("all_tok"))
    pa = (
        tot.crossJoin(F.broadcast(all_tok))
        .withColumn(
            "pa", F.pow(F.col("tok") / F.col("all_tok"), F.lit(float(alpha)))
        )
    )
    z = pa.agg(F.sum("pa").alias("z"))
    return (
        pa.crossJoin(F.broadcast(z))
        .select(
            F.col(group_col),
            F.round(F.col("pa") / F.col("z"), 6).alias("weight"),
        )
    )


def top_quality_fraction(
    df: DataFrame,
    score_col: str,
    fraction: float,
    group_col: str | None = None,
    id_col: str = "doc_id",
) -> DataFrame:
    """Keep the top ``fraction`` of rows by ``score_col`` — per
    ``group_col`` when given (so one dominant source cannot crowd the
    others out of the budget): the quality-threshold curation cut
    (FineWeb/DCLM-style classifier-score selection).

    Deterministic: ranks by (score DESC, id ASC) — a total order — and
    keeps rank <= ceil(fraction * group_count), so the selected SET is
    exact and engine-independent (a percent_rank cut would tie-break
    arbitrarily on equal scores).

    Plan: one window rank + one window count over the same partition key
    — a single hash exchange on the group (or a global rank for the
    ungrouped cut); no second scan, no driver state."""
    if not 0 <= fraction <= 1:
        raise ValueError(f"fraction must be in [0, 1], got {fraction}")
    from pyspark.sql import Window

    keys = [group_col] if group_col else []
    w = Window.partitionBy(*keys).orderBy(
        F.col(score_col).desc(), F.col(id_col)
    )
    wc = Window.partitionBy(*keys)
    return (
        df.withColumn("__rk", F.row_number().over(w))
        .withColumn("__n", F.count(F.lit(1)).over(wc))
        .where(F.col("__rk") <= F.ceil(F.lit(fraction) * F.col("__n")))
        .drop("__rk", "__n")
    )


def quality_buckets(
    df: DataFrame,
    score_col: str,
    n_buckets: int = 3,
    group_col: str | None = None,
    id_col: str = "doc_id",
    labels: list[str] | None = None,
    ascending: bool = True,
) -> DataFrame:
    """CCNet-style per-group quality bucketing (Wenzek et al. 2020,
    "CCNet: extracting high quality monolingual datasets from web crawl
    data"): rank rows by ``score_col`` within each ``group_col``
    (CCNet: language) and split into ``n_buckets`` equal-count buckets
    — the paper's head/middle/tail terciles by LM perplexity
    (``ascending=True``: lower score = better = bucket 1). Unlike
    :func:`top_quality_fraction`'s hard threshold cut, the buckets are
    LABELS for downstream mixture weighting (sample head 100%, middle
    50%, ... — compose with sample_stratified / mix_corpus).

    Appends ``bucket`` (1..n) and, with ``labels`` (len == n_buckets),
    ``bucket_label``. Deterministic: the window orders by the TOTAL
    order (score, id), so equal scores tie-break stably and the
    assignment is exact and engine-independent; ntile's remainder rows
    land in the earliest buckets (the SQL-standard rule both Spark and
    the DuckDB oracle implement).

    Plan at 100 TB: ONE window pass per group partition (ntile over the
    group exchange — the same single-exchange shape as
    top_quality_fraction); group cardinality is language/source-sized,
    and skewed groups are bounded by the sort within their partition.
    No second scan, no driver state."""
    if n_buckets < 1:
        raise ValueError(f"n_buckets must be >= 1, got {n_buckets}")
    if labels is not None and len(labels) != n_buckets:
        raise ValueError(
            f"labels must have {n_buckets} entries, got {len(labels)}"
        )
    missing = [
        c
        for c in [score_col, id_col] + ([group_col] if group_col else [])
        if c not in df.columns
    ]
    if missing:
        raise ValueError(f"columns not in DataFrame: {missing}")
    from pyspark.sql import Window

    order = (
        F.col(score_col).asc() if ascending else F.col(score_col).desc()
    )
    w = Window.partitionBy(
        *([group_col] if group_col else [])
    ).orderBy(order, F.col(id_col))
    out = df.withColumn("bucket", F.ntile(n_buckets).over(w))
    if labels is not None:
        mapping = F.array(*[F.lit(x) for x in labels])
        out = out.withColumn(
            "bucket_label", F.element_at(mapping, F.col("bucket"))
        )
    return out


def mixture_plan(
    df: DataFrame,
    weights: dict,
    token_budget: int,
    domain_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Data-mixture planning — the "data recipe" step (GPT-3's
    weighted-mix table, the LLaMA corpus mixtures) that turns
    per-domain token inventories + target mixture weights + a total
    token budget into an executable per-domain plan: how many tokens
    to draw from each domain (``target_tokens``), how many PASSES over
    the domain that takes (``epochs`` — a high-weight small domain
    repeats, the "books get multiple epochs" case), and the per-epoch
    retention rate (``rate_ppm``) a sampler applies each pass.

    EXACT arithmetic end to end so the plan is replayable: each weight
    becomes the exact rational ``Fraction(w)`` (floats are dyadic
    rationals), ``target = floor(budget · w)``,
    ``epochs = ceil(target / n_tokens)``,
    ``rate_ppm = floor(target · 10^6 / (n_tokens · epochs))`` — all
    over a decimal(38) lane, ppm integers per the repo convention
    (contamination_ratio precedent). Domains absent from ``weights``
    get weight 0 (target 0, epochs 0, rate 0) — they are reported, not
    dropped, so the plan is a complete inventory audit. Weights need
    not sum to 1; each domain's allocation is independent.

    Returns one row per domain present in ``df``: ``(domain, n_tokens,
    target_tokens, epochs, rate_ppm)``.

    Plan at 100 TB: ONE hash aggregate (map-side combined token
    counts per domain — domain cardinality is recipe-sized); the plan
    arithmetic is a literal when-chain over the weight table, pure
    projection."""
    from fractions import Fraction

    from openeo_processes_dask_spark.training.textanalysis import (
        token_count,
    )

    if token_budget < 0:
        raise ValueError(f"token_budget must be >= 0, got {token_budget}")
    for d, w in weights.items():
        if w < 0:
            raise ValueError(f"negative weight for domain {d!r}: {w}")
    # targets are pure functions of (budget, weight) — both driver-side
    # literals — so compute them EXACTLY in Python (Fraction floor-div)
    # and ship integers; no engine arithmetic can then round them
    targets = {
        d: int(token_budget * Fraction(w).numerator
               // Fraction(w).denominator)
        for d, w in weights.items()
    }
    stats = df.groupBy(F.col(domain_col).alias("domain")).agg(
        F.sum(token_count(F.col(text_col))).alias("n_tokens")
    )
    target = F.lit(0).cast("decimal(38,0)")
    for d, t in targets.items():
        target = F.when(
            F.col("domain") == d, F.lit(t).cast("decimal(38,0)")
        ).otherwise(target)
    # integral `div` on decimal(38) operands: epochs and rate_ppm
    # quotients are small (<= target, <= 10^6) so the bigint quotient
    # type cannot overflow; operands stay in the decimal lane so the
    # t + n - 1 sum cannot either
    withcols = (
        stats.withColumn("__t", target)
        .withColumn("__n", F.col("n_tokens").cast("decimal(38,0)"))
        .withColumn(
            "__ep",
            F.when(
                (F.col("__t") <= 0) | (F.col("__n") <= 0), F.lit(0)
            ).otherwise(F.expr("(__t + __n - 1) div __n")),
        )
        .withColumn(
            "__rate",
            F.when(F.col("__ep") <= 0, F.lit(0)).otherwise(
                F.expr(
                    "(__t * CAST(1000000 AS DECIMAL(38,0))) div "
                    "(__n * CAST(__ep AS DECIMAL(38,0)))"
                )
            ),
        )
    )
    return withcols.select(
        "domain",
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        F.col("__t").cast("bigint").alias("target_tokens"),
        F.col("__ep").cast("bigint").alias("epochs"),
        F.col("__rate").cast("bigint").alias("rate_ppm"),
    )


def hash_negatives(
    pairs: DataFrame,
    pool: DataFrame,
    k: int = 4,
    pool_mod: int = 64,
    seed: int = 42,
    query_col: str = "query_id",
    pos_col: str = "pos_id",
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic negative sampling for contrastive training pairs.

    For each (query, positive) row, pick ``k`` pseudo-random negatives
    from ``pool``: a seeded md5 hash filter keeps ~1/``pool_mod`` of the
    pool as the shared CANDIDATE set, each (query, candidate) pair gets
    a seeded hash score, and the k smallest scores win (ties impossible:
    the score hash includes both ids). The query's positive — and any
    candidate equal to the query id — are excluded before ranking.
    Returns ``(query_id, pos_id, neg_rank, neg_id)`` with neg_rank
    1..k. Pure functions of (seed, ids): reruns, retries, and
    repartitioning reproduce the same negatives — auditable sampling,
    the module's contract.

    Plan at 100 TB: the candidate set is pool/``pool_mod`` rows of ONE
    id column — scan-filtered at the source (no shuffle) and broadcast
    into the cross join, so the only real cost is Q x C score rows
    feeding a per-query top-k window, which Spark runs as
    WindowGroupLimit (per-partition heaps, no global sort). Size
    ``pool_mod`` so C x k-ish rows per query is acceptable; candidates
    are shared across queries by design (in-batch-negatives style), NOT
    resampled per query — that is what keeps the join broadcastable.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if pool_mod < 1:
        raise ValueError(f"pool_mod must be >= 1, got {pool_mod}")
    cand = (
        pool.select(F.col(id_col).cast("long").alias("cand_id"))
        .where(
            _md5_to_long(
                F.concat_ws("-", F.lit(str(seed)), F.col(id_col).cast("string"))
            )
            % pool_mod
            == 0
        )
        .distinct()
    )
    p = pairs.select(
        F.col(query_col).cast("long").alias("query_id"),
        F.col(pos_col).cast("long").alias("pos_id"),
    )
    scored = (
        p.join(F.broadcast(cand))
        .where(
            (F.col("cand_id") != F.col("pos_id"))
            & (F.col("cand_id") != F.col("query_id"))
        )
        .withColumn(
            "score",
            _md5_to_long(
                F.concat_ws(
                    "-",
                    F.lit(str(seed)),
                    F.col("query_id").cast("string"),
                    F.col("cand_id").cast("string"),
                )
            ),
        )
    )
    w = Window.partitionBy("query_id", "pos_id").orderBy("score", "cand_id")
    return (
        scored.withColumn("neg_rank", F.row_number().over(w))
        .where(F.col("neg_rank") <= k)
        .select("query_id", "pos_id", "neg_rank", F.col("cand_id").alias("neg_id"))
    )


def leakage_safe_split(
    df: DataFrame,
    dup_pairs: DataFrame,
    n_folds: int = 5,
    seed: int = 77,
    id_col: str = "doc_id",
) -> DataFrame:
    """Near-dup-aware fold assignment — the split that plain per-id
    hashing (:func:`split_assign`) gets WRONG for evaluation: if two
    near-duplicate documents land in train and test, the test set leaks.
    Here every connected component of the near-dup graph (``dup_pairs``
    = (id1, id2) from minhash/simhash/embedding matching) moves as ONE
    unit: the fold is a seeded hash of the component's canonical id, so
    duplicates can never straddle folds. Singletons hash on their own id.

    Returns ``(doc_id, comp_id, fold)`` with fold in [0, n_folds).
    Deterministic (md5 of (seed, comp)) — rerun/retry/partition stable,
    the module contract.

    Plan at 100 TB: connected components over the PAIR graph (pairs are
    the small relation — the near-dup subset), one left join back onto
    the corpus keyed by id, and a pure hash projection. Components are
    the large-star/small-star rounds dedup_clusters uses: O(log n) rounds,
    so a long chain of near-duplicates still lands in one fold.
    """
    if n_folds < 2:
        raise ValueError(f"n_folds must be >= 2, got {n_folds}")
    from openeo_processes_dask_spark.training.dedup import (
        connected_components,
    )

    comp = connected_components(dup_pairs).select(
        F.col("id").alias(id_col), F.col("comp")
    )
    assigned = df.select(F.col(id_col).cast("long").alias(id_col)).join(
        comp, id_col, "left"
    )
    comp_id = F.coalesce(F.col("comp"), F.col(id_col)).cast("long")
    fold = (
        _md5_to_long(
            F.concat_ws("-", F.lit(str(seed)), comp_id.cast("string"))
        )
        % n_folds
    ).cast("int")
    return assigned.select(
        id_col, comp_id.alias("comp_id"), fold.alias("fold")
    )

"""Distributed probabilistic sketches with DETERMINISTIC, engine-portable
hashing (md5-derived, like every dedup lane) — so the same sketch built on
any engine, any partitioning, is bit-identical, and a DuckDB oracle can
replay it exactly. No reference counterpart (the reference is a raster
operator library).

Sketches are the only honest answer at 100 TB for "how often does every
key occur" / "how many distinct keys" style questions when the key space
itself is too big to materialize: a Count-Min table is d*w integers and a
HyperLogLog is 2^p bytes REGARDLESS of input size, both built in one scan
with one tiny aggregate, both mergeable across partitions/days/shards by
construction (entrywise +/max).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _bucket(key: Column, row: int, width: int) -> Column:
    """Row-``row`` bucket of ``key``: first 15 hex digits of
    md5(row-key) mod width — identical in DuckDB, so sketches replay."""
    h = F.conv(
        F.substring(F.md5(F.concat(F.lit(f"{row}-"), key)), 1, 15), 16, 10
    ).cast("long")
    return (h % F.lit(width)).cast("int")


def count_min_build(
    df: DataFrame,
    key_col: str,
    depth: int = 4,
    width: int = 256,
    weight_col: str | None = None,
) -> DataFrame:
    """Build the Count-Min table: (row, bucket, cnt) with
    cnt = total weight of keys hashing to that (row, bucket).

    One scan + one hash aggregate over depth*width cells; the table is
    mergeable across any split of the input by entrywise addition (sums
    commute). Estimate of a key's count = min over rows of its bucket's
    cnt — an OVERestimate, never under (property-tested)."""
    w = (
        F.col(weight_col).cast("long")
        if weight_col is not None
        else F.lit(1).cast("long")
    )
    key = F.col(key_col).cast("string")
    rows = df.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(r).alias("row"),
                        _bucket(key, r, width).alias("bucket"),
                    )
                    for r in range(depth)
                ]
            )
        ).alias("rb"),
        w.alias("w"),
    )
    return (
        rows.select("rb.row", "rb.bucket", "w")
        .groupBy("row", "bucket")
        .agg(F.sum("w").alias("cnt"))
    )


def count_min_estimate(
    sketch: DataFrame, probes: DataFrame, key_col: str = "key",
    depth: int = 4, width: int = 256,
) -> DataFrame:
    """(key, est) for every probe key: min over the ``depth`` bucket
    counters. The probe relation is tiny (it is a list of keys someone
    asks about), so the join broadcasts; the sketch is depth*width rows."""
    key = F.col(key_col).cast("string")
    pb = probes.select(
        key.alias("key"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(r).alias("row"),
                        _bucket(key, r, width).alias("bucket"),
                    )
                    for r in range(depth)
                ]
            )
        ).alias("rb"),
    ).select("key", "rb.row", "rb.bucket")
    return (
        pb.join(sketch, ["row", "bucket"], "left")
        .groupBy("key")
        .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0))).alias("est"))
    )


def count_min_build_grouped(
    df: DataFrame,
    key_col: str,
    group_cols,
    depth: int = 4,
    width: int = 256,
    weight_col: str | None = None,
) -> DataFrame:
    """Per-GROUP Count-Min table ``(*group_cols, row, bucket, cnt)`` —
    the frequency member of the grouped-sketch family (per-domain /
    per-source term-frequency telemetry): same md5-derived buckets as
    :func:`count_min_build`, one scan + one hash aggregate over
    ≤ |groups| × depth × width cells. Sums are multiset-pure, so the
    grouped table equals the global table built on each group's slice
    and merges across disjoint splits by entrywise addition per
    group."""
    gcols = [group_cols] if isinstance(group_cols, str) else list(group_cols)
    w = (
        F.col(weight_col).cast("long")
        if weight_col is not None
        else F.lit(1).cast("long")
    )
    key = F.col(key_col).cast("string")
    rows = df.select(
        *gcols,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(r).alias("row"),
                        _bucket(key, r, width).alias("bucket"),
                    )
                    for r in range(depth)
                ]
            )
        ).alias("rb"),
        w.alias("w"),
    )
    return (
        rows.select(*gcols, "rb.row", "rb.bucket", "w")
        .groupBy(*gcols, "row", "bucket")
        .agg(F.sum("w").alias("cnt"))
    )


def count_min_merge_grouped(*sketches: DataFrame, group_cols) -> DataFrame:
    """Entrywise per-group sum of grouped Count-Min tables built with
    the SAME (depth, width) over DISJOINT inputs — per-group counts
    compose exactly (sums commute)."""
    if not sketches:
        raise ValueError("need at least one sketch")
    gcols = [group_cols] if isinstance(group_cols, str) else list(group_cols)
    u = sketches[0]
    for s in sketches[1:]:
        u = u.unionByName(s)
    return u.groupBy(*gcols, "row", "bucket").agg(F.sum("cnt").alias("cnt"))


def count_min_estimate_grouped(
    sketch: DataFrame,
    probes: DataFrame,
    group_cols,
    key_col: str = "key",
    depth: int = 4,
    width: int = 256,
) -> DataFrame:
    """``(*group_cols, key, est)`` for every (group, probe-key) pair:
    min over the ``depth`` bucket counters of that group's table, 0
    for groups that never saw the key's buckets. The group universe
    comes from the sketch itself; groups × probes × depth is a
    BOUNDED tiny relation (probe lists are human-sized), so the
    cross join is metadata-scale by contract — the corpus itself is
    never crossed."""
    gcols = [group_cols] if isinstance(group_cols, str) else list(group_cols)
    key = F.col(key_col).cast("string")
    pb = probes.select(
        key.alias("key"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(r).alias("row"),
                        _bucket(key, r, width).alias("bucket"),
                    )
                    for r in range(depth)
                ]
            )
        ).alias("rb"),
    ).select("key", "rb.row", "rb.bucket")
    groups = sketch.select(*gcols).distinct()
    pbg = groups.crossJoin(F.broadcast(pb))
    return (
        pbg.join(sketch, [*gcols, "row", "bucket"], "left")
        .groupBy(*gcols, "key")
        .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0))).alias("est"))
    )


def _hll_bucket_rho(key_col: str, p: int) -> tuple[Column, Column]:
    """Shared HLL hash arithmetic: (bucket, rho) Columns from the
    md5-derived 60-bit hash — bucket = low ``p`` bits, rho =
    leading-zero count of the remaining bits + 1. Engine-portable
    (replayed verbatim by the DuckDB oracles); used identically by the
    batch, grouped, and streaming register builders so their tables
    are interchangeable."""
    if not 4 <= p <= 16:
        raise ValueError(f"p must be in [4, 16], got {p}")
    h = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("hll-"), F.col(key_col).cast("string"))),
            1, 15,
        ),
        16, 10,
    ).cast("long")  # 60-bit non-negative hash
    bits = 60 - p
    bucket = (h % F.lit(1 << p)).cast("int")
    # top 60-p bits via shift — double division would lose precision
    # past 2^53
    rest = F.shiftright(h, p)
    # rho = (60-p) - floor(log2(rest)) for rest>0, else (60-p)+1
    rho = F.when(
        rest > 0,
        F.lit(bits) - F.floor(F.log2(rest.cast("double"))).cast("int"),
    ).otherwise(F.lit(bits + 1)).cast("int")
    return bucket, rho


def hyperloglog_registers(
    df: DataFrame, key_col: str, p: int = 10
) -> DataFrame:
    """HyperLogLog register table: (bucket, rho) with bucket = low ``p``
    bits of the md5-derived 60-bit hash and rho = leading-zero count of
    the remaining bits + 1 (capped by the hash width). One scan + one
    max aggregate over <= 2^p rows; mergeable by entrywise max.

    The hash is md5-derived — deterministic and engine-portable, so the
    register TABLE (not just the estimate) is oracle-checkable."""
    bucket, rho = _hll_bucket_rho(key_col, p)
    return (
        df.select(bucket.alias("bucket"), rho.alias("rho"))
        .groupBy("bucket")
        .agg(F.max("rho").alias("rho"))
    )


def stream_hll_registers(
    stream: DataFrame, key_col: str, p: int = 10
) -> DataFrame:
    """Streaming HLL: the register table maintained as a running max
    aggregate (complete mode) — live distinct-count monitoring while
    ingesting. No watermark: the registers are a LIFETIME summary whose
    state is ≤ 2^p cells regardless of stream length, so unbounded
    state is exactly the contract (that's what a sketch is — same
    argument as :func:`stream_count_min`). Register max commutes, so
    the drained table equals the batch :func:`hyperloglog_registers`
    on the same rows — the gate's oracle — and feeds the same
    :func:`hyperloglog_estimate_relational` / merge lanes."""
    bucket, rho = _hll_bucket_rho(key_col, p)
    return (
        stream.select(bucket.alias("bucket"), rho.alias("rho"))
        .groupBy("bucket")
        .agg(F.max("rho").alias("rho"))
    )


def hyperloglog_estimate(registers: DataFrame, p: int = 10) -> float:
    """Driver-side HLL estimate from the register table (the table is
    <= 2^p rows — metadata-sized). Standard bias-corrected formula with
    linear counting for the small range."""
    m = 1 << p
    rows = {r["bucket"]: r["rho"] for r in registers.collect()}
    import math

    s = sum(2.0 ** -rows.get(b, 0) for b in range(m))
    alpha = {16: 0.673, 32: 0.697, 64: 0.709}.get(
        m, 0.7213 / (1 + 1.079 / m)
    )
    est = alpha * m * m / s
    zeros = m - len(rows)
    if est <= 2.5 * m and zeros:
        est = m * math.log(m / zeros)
    return est


def stream_count_min(
    stream: DataFrame,
    key_col: str,
    depth: int = 4,
    width: int = 256,
) -> DataFrame:
    """Streaming Count-Min: the same md5-bucket cells maintained as a
    running streaming aggregate (complete/update mode) — frequency
    monitoring while ingesting. No watermark: the sketch is a LIFETIME
    summary whose state is d*w cells regardless of stream length, so
    unbounded state is exactly the contract (that's what a sketch IS).
    Because cell sums commute, the drained table equals the batch
    :func:`count_min_build` on the same rows — the gate's oracle."""
    key = F.col(key_col).cast("string")
    rows = stream.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(r).alias("row"),
                        _bucket(key, r, width).alias("bucket"),
                    )
                    for r in range(depth)
                ]
            )
        ).alias("rb")
    )
    return (
        rows.select("rb.row", "rb.bucket")
        .groupBy("row", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def count_min_merge(*sketches: DataFrame) -> DataFrame:
    """Entrywise sum of Count-Min tables built with the SAME depth/width
    — the merge that makes per-day/per-shard sketches composable into a
    corpus sketch without touching raw data (sums commute)."""
    if not sketches:
        raise ValueError("need at least one sketch")
    u = sketches[0]
    for s in sketches[1:]:
        u = u.unionByName(s)
    return u.groupBy("row", "bucket").agg(F.sum("cnt").alias("cnt"))


def hyperloglog_merge(*registers: DataFrame) -> DataFrame:
    """Entrywise max of HLL register tables built with the SAME p —
    distinct counts compose across arbitrary splits of the data."""
    if not registers:
        raise ValueError("need at least one register table")
    u = registers[0]
    for r in registers[1:]:
        u = u.unionByName(r)
    return u.groupBy("bucket").agg(F.max("rho").alias("rho"))


def hyperloglog_registers_grouped(
    df: DataFrame, key_col: str, group_cols, p: int = 10
) -> DataFrame:
    """Per-GROUP HLL register table ``(*group_cols, bucket, rho)`` —
    the cardinality member of the grouped-sketch family (per-domain /
    per-source distinct counts): same md5-derived hash as
    :func:`hyperloglog_registers`, grouped max aggregate, ≤ |groups| ×
    2^p rows. Multiset-pure (duplicate keys land on identical
    (bucket, rho)), so it is deterministic under any partitioning and
    per group equals the global register table built on that group's
    slice; merge across disjoint splits = entrywise max per group."""
    gcols = [group_cols] if isinstance(group_cols, str) else list(group_cols)
    bucket, rho = _hll_bucket_rho(key_col, p)
    return (
        df.select(*gcols, bucket.alias("bucket"), rho.alias("rho"))
        .groupBy(*gcols, "bucket")
        .agg(F.max("rho").alias("rho"))
    )


def hyperloglog_merge_grouped(
    *registers: DataFrame, group_cols
) -> DataFrame:
    """Entrywise max per group of grouped HLL register tables built
    with the SAME p — per-group distinct counts compose across
    arbitrary splits of the data (registers are multiset-pure, so
    merge(g(A), g(B)) == g(A ∪ B) exactly, per group)."""
    if not registers:
        raise ValueError("need at least one register table")
    gcols = [group_cols] if isinstance(group_cols, str) else list(group_cols)
    u = registers[0]
    for r in registers[1:]:
        u = u.unionByName(r)
    return u.groupBy(*gcols, "bucket").agg(F.max("rho").alias("rho"))


def hyperloglog_estimate_grouped(
    registers: DataFrame, group_cols, p: int = 10
) -> DataFrame:
    """Per-group relational HLL estimate ``(*group_cols, estimate)`` —
    the grouped twin of :func:`hyperloglog_estimate_relational`, same
    engine-portable arithmetic: the harmonic sum accumulates in exact
    integer micro-units (2^(61-rho) per register, 2^61 per absent
    bucket) inside a DECIMAL per-group aggregate, with ONE final float
    division; only the linear-counting ``ln`` is a float intrinsic
    (rounded to 6 decimals like every float lane)."""
    gcols = [group_cols] if isinstance(group_cols, str) else list(group_cols)
    m = 1 << p
    alpha = {16: 0.673, 32: 0.697, 64: 0.709}.get(
        m, 0.7213 / (1 + 1.079 / m)
    )
    num = float(alpha) * m * m * float(1 << 61)
    agg = registers.groupBy(*gcols).agg(
        F.count(F.lit(1)).alias("__nb__"),
        F.coalesce(
            F.sum(F.expr("shiftleft(1L, 61 - rho)").cast("decimal(38,0)")),
            F.lit(0).cast("decimal(38,0)"),
        ).alias("__s__"),
    )
    zeros = (F.lit(m) - F.col("__nb__")).cast("long")
    denom = (
        zeros.cast("decimal(38,0)")
        * F.lit(1 << 61).cast("decimal(38,0)")
        + F.col("__s__")
    ).cast("double")
    raw = F.lit(num) / denom
    lc = F.lit(float(m)) * F.log(F.lit(float(m)) / zeros.cast("double"))
    est = F.when((raw <= 2.5 * m) & (zeros > 0), lc).otherwise(raw)
    return agg.select(*gcols, F.round(est, 6).alias("estimate"))


def hyperloglog_estimate_relational(
    registers: DataFrame, p: int = 10
) -> DataFrame:
    """1-row ``(estimate)`` HLL estimate computed RELATIONALLY — the
    oracle-checkable twin of :func:`hyperloglog_estimate` (which
    collects the register table and computes on the driver).

    Determinism across engines: the harmonic sum ``Σ 2^-rho`` is
    accumulated in EXACT integer micro-units — each register
    contributes ``2^(61-rho)`` (a shifted long, exact), absent buckets
    contribute ``2^61`` each via the zero count — summed in DECIMAL so
    nothing rounds until ONE final float division. Two engines
    computing ``alpha·m²·2^61 / S`` from the same integer ``S`` agree
    bit-for-bit; only the linear-counting branch's ``ln`` is a float
    intrinsic (rounded to 6 decimals like every float lane)."""
    m = 1 << p
    alpha = {16: 0.673, 32: 0.697, 64: 0.709}.get(
        m, 0.7213 / (1 + 1.079 / m)
    )
    num = float(alpha) * m * m * float(1 << 61)
    agg = registers.agg(
        F.count(F.lit(1)).alias("nb"),
        F.coalesce(
            F.sum(F.expr("shiftleft(1L, 61 - rho)").cast("decimal(38,0)")),
            F.lit(0).cast("decimal(38,0)"),
        ).alias("s_units"),
    )
    zeros = (F.lit(m) - F.col("nb")).cast("long")
    denom = (
        zeros.cast("decimal(38,0)")
        * F.lit(1 << 61).cast("decimal(38,0)")
        + F.col("s_units")
    ).cast("double")
    raw = F.lit(num) / denom
    lc = F.lit(float(m)) * F.log(F.lit(float(m)) / zeros.cast("double"))
    est = F.when((raw <= 2.5 * m) & (zeros > 0), lc).otherwise(raw)
    return agg.select(F.round(est, 6).alias("estimate"))


def corpus_overlap(
    a: DataFrame, b: DataFrame, key_col: str, p: int = 10
) -> DataFrame:
    """Estimated overlap between two corpora WITHOUT joining them — the
    crawl-vs-crawl / source-vs-source telemetry a curation pipeline
    watches (an exact answer is `corpus_diff`; this is the
    constant-memory screen that decides whether the exact pass is worth
    running).

    One scan per side builds the two HLL register tables; the union
    sketch is their entrywise max (:func:`hyperloglog_merge` — no data
    touched twice), and inclusion-exclusion gives the intersection:
    ``|A∩B| ≈ est(A) + est(B) − est(A∪B)``, plus the Jaccard estimate.
    Returns ONE row ``(est_a, est_b, est_union, est_intersection,
    jaccard)``, all rounded to 6 decimals; the derived columns are
    computed FROM the rounded estimates so any engine replaying the
    register tables reproduces them exactly. Cost at 100 TB: two scans
    + three ≤2^p-row aggregates; the final assembly is a cross of three
    1-row frames (bounded by construction)."""
    ra = hyperloglog_registers(a, key_col, p)
    rb = hyperloglog_registers(b, key_col, p)
    ru = hyperloglog_merge(ra, rb)
    ea = hyperloglog_estimate_relational(ra, p).select(
        F.col("estimate").alias("est_a")
    )
    eb = hyperloglog_estimate_relational(rb, p).select(
        F.col("estimate").alias("est_b")
    )
    eu = hyperloglog_estimate_relational(ru, p).select(
        F.col("estimate").alias("est_union")
    )
    row = ea.crossJoin(eb).crossJoin(eu)
    inter = F.round(
        F.col("est_a") + F.col("est_b") - F.col("est_union"), 6
    )
    return row.select(
        "est_a",
        "est_b",
        "est_union",
        inter.alias("est_intersection"),
        F.round(inter / F.col("est_union"), 6).alias("jaccard"),
    )


# ---------------------------------------------------------------------------
# Mergeable quantile sketch (NEW r11) — the third member of the sketch
# trio (Count-Min = frequency, HLL = cardinality, quantiles =
# distribution) and the constant-memory twin of the exact equi-depth
# `range_bounds` lane.
# ---------------------------------------------------------------------------

#: hash width shared by every md5-derived sketch lane in this module
_QSK_BITS = 60


def _qsk_hash(uid: Column) -> Column:
    """60-bit md5-derived priority of a row's unique id — identical in
    DuckDB (`CAST('0x'||substr(md5('qsk-'||uid),1,15) AS BIGINT)`), so
    the sketch's survivor SET is engine-portable."""
    return F.conv(
        F.substring(
            F.md5(F.concat(F.lit("qsk-"), uid.cast("string"))), 1, 15
        ),
        16,
        10,
    ).cast("long")


def _qsk_level(h: Column) -> Column:
    """Compaction levels survived by a row: level ``l`` keeps rows with
    ``h < 2^(60-l)`` — i.e. rows whose top ``l`` hash bits are zero, so
    each compaction step halves the expected survivor count by testing
    ONE more hash bit (the deterministic, hash-seeded replacement for
    KLL's random compaction coin). Computed integer-exactly via the
    binary-string length (no float log2): ``60 - len(bin(h))``."""
    return F.when(h <= 0, F.lit(_QSK_BITS)).otherwise(
        F.lit(_QSK_BITS) - F.length(F.bin(h))
    ).cast("int")


def _qsk_pick_level(counts: dict[int, int], k: int, floor_level: int = 0) -> int:
    """Smallest level ``l >= floor_level`` whose survivor count
    (rows with level >= l) is <= k."""
    lvl = floor_level
    while lvl < _QSK_BITS:
        if sum(c for v, c in counts.items() if v >= lvl) <= k:
            break
        lvl += 1
    return lvl


def quantile_sketch(
    df: DataFrame, value_col: str, uid_col: str, k: int = 1024
) -> DataFrame:
    """Mergeable quantile sketch: a KLL-style level structure whose
    compaction coin is replaced by hash bits, making the sketch a PURE
    FUNCTION of the input multiset — so it is deterministic under any
    partitioning, a DuckDB oracle replays it bit-for-bit, and the merge
    law holds EXACTLY: ``sketch(A ∪ B) == merge(sketch(A), sketch(B))``
    (deterministic KLL/GK compaction is still insertion-order-dependent
    and cannot satisfy that equality; the hash-threshold form trades
    GK's O(1/eps) space for a random-sample-grade O(1/eps^2) — the
    classic mergeable-summaries result (Agarwal et al., PODS'12:
    random samples are one-way mergeable)).

    Each row gets a 60-bit md5 priority from ``uid_col`` (a UNIQUE row
    id, so duplicate values keep independent coins); compaction level
    ``l`` keeps rows whose top ``l`` hash bits are all zero. The sketch
    is the survivor set at the smallest level with <= ``k`` survivors —
    a uniform (1/2^l)-sample whose ORDER STATISTICS estimate quantiles.

    Plan at 100 TB (VERDICT r11 #3 — ONE deferred plan, no action
    inside the builder): one scan computes (value, hash, level); a
    <= 61-row level-count aggregate collapses to a single row whose
    ``F.aggregate`` over the descending-level array applies the same
    "smallest level with <= k survivors" suffix rule the grouped
    variant computes with its per-group window (trivially the
    single-group case); the one-row metadata broadcast-joins back on a
    constant key and one filter emits the <= k survivor rows. The
    level pick is pure JVM expression — nothing collects, so consuming
    the sketch is one job instead of the former eager level-count
    collect plus a second full scan.

    Returns survivor rows ``(__v__ double, __h__ long, __lvl__ int)``
    plus constant metadata columns ``__level__`` (chosen level) and
    ``__n__`` (exact input count). NULL values are excluded (quantiles
    over NULLs are undefined — same contract as `range_bounds`).
    """
    if k < 1:
        raise ValueError(f"quantile_sketch: k must be >= 1, got {k}")
    base = df.where(F.col(value_col).isNotNull()).select(
        F.col(value_col).cast("double").alias("__v__"),
        _qsk_hash(F.col(uid_col)).alias("__h__"),
    )
    base = base.withColumn("__lvl__", _qsk_level(F.col("__h__")))
    # Single-scan (r13, guide §1.2/§5): ``base`` feeds BOTH the
    # level-count metadata aggregate and the survivor filter, and the two
    # subtrees diverge right above the scan, so the raw table was scanned
    # — and the md5 priority computed — twice per consumption (plan
    # audit: two `Scan parquet` nodes; a shared-repartition variant was
    # tried first, but column pruning narrows the metadata side below the
    # exchange, so the exchanges canonicalize differently and AQE never
    # reuses them). A NON-EAGER localCheckpoint materializes the narrow
    # (v, h, lvl) projection (~24 B/row) once inside the consumer's own
    # first action and lets both subtrees read it: one scan + one md5
    # pass, measured 4.4 s -> 1.7 s at sf0.1 for identical output. Still
    # ZERO actions in the builder (the r12 adjudication's deferred-plan
    # contract holds — nothing runs until the consumer acts), and the
    # checkpoint blocks are ContextCleaner-released when the returned
    # DataFrame is garbage collected (the ADVICE r7 cache-leak rule). At
    # scale this trades executor storage of the 24-byte projection for
    # the second full pass over the source table.
    base = base.localCheckpoint(eager=False)
    cnt = base.groupBy("__lvl__").agg(F.count(F.lit(1)).alias("__c__"))
    # Descending-level running suffix over the <= 61 level rows,
    # folded in ONE row: walking levels high -> low, the first level
    # whose running count exceeds k forces chosen = level + 1 (the
    # suffix count only grows as the walk descends, so greatest()
    # keeps exactly that first trigger); if no level triggers, 0.
    # The running total after the walk is the exact input count n.
    # One SQL string, parsed on the server: a constant py4j cost.
    fold = F.expr(
        "aggregate(reverse(array_sort(collect_list(struct(__lvl__, __c__)))),"
        " named_struct('cum', CAST(0 AS BIGINT), 'best', CAST(0 AS INT)),"
        " (acc, x) -> named_struct('cum', acc.cum + x.__c__, 'best',"
        " CAST(greatest(acc.best, CASE WHEN acc.cum + x.__c__ > "
        f"{int(k)} THEN x.__lvl__ + 1 ELSE 0 END) AS INT)))"
    )
    meta = cnt.agg(fold.alias("__acc__")).select(
        F.least(F.col("__acc__.best"), F.lit(_QSK_BITS))
        .cast("int").alias("__level__"),
        F.col("__acc__.cum").cast("long").alias("__n__"),
        F.lit(1).alias("__j__"),
    )
    return (
        base.withColumn("__j__", F.lit(1))
        .join(F.broadcast(meta), "__j__")
        .where(F.col("__lvl__") >= F.col("__level__"))
        .select("__v__", "__h__", "__lvl__", "__level__", "__n__")
    )


def quantile_sketch_merge(*sketches: DataFrame, k: int = 1024) -> DataFrame:
    """Merge sketches built with the same ``k`` over DISJOINT inputs
    (the standard shard/day/source composition): union the survivor
    rows, re-pick the level from the union's counts (never below any
    input's level — survivor counts only grow under union, so the
    union's suffix counts are EXACT at or above that floor), and
    re-filter. The result row set is IDENTICAL to building the sketch
    on the concatenated raw data."""
    if not sketches:
        raise ValueError("need at least one sketch")
    u = sketches[0]
    for s in sketches[1:]:
        u = u.unionByName(s)
    metas = [
        s.agg(
            F.max("__level__").alias("l"), F.max("__n__").alias("n")
        ).collect()[0]
        for s in sketches
    ]
    floor_level = max((m["l"] or 0) for m in metas)
    n = sum((m["n"] or 0) for m in metas)
    counts = {
        r["__lvl__"]: r["c"]
        for r in u.groupBy("__lvl__").agg(
            F.count(F.lit(1)).alias("c")
        ).collect()
    }
    level = _qsk_pick_level(counts, k, floor_level)
    return (
        u.where(F.col("__lvl__") >= level)
        .withColumn("__level__", F.lit(level))
        .withColumn("__n__", F.lit(n).cast("long"))
    )


def quantile_sketch_estimates(
    sketch: DataFrame,
    qs=(0.01, 0.05, 0.1, 0.25, 0.5, 0.75, 0.9, 0.95, 0.99),
) -> DataFrame:
    """Quantile estimates from a sketch: the survivors are a uniform
    sample, so the estimate for ``q`` is the survivor value at sorted
    index ``floor(q * (m - 1))`` (ties on value break by hash — fully
    deterministic). One aggregate over the <= k survivor rows (a sorted
    array built via collect_list on a bounded relation — no global
    window, nothing for the plan canary to flag); rows out:
    ``(q, est, m_rows, level, n)``."""
    agg = sketch.agg(
        F.array_sort(
            F.collect_list(F.struct("__v__", "__h__"))
        ).alias("__s__"),
        F.count(F.lit(1)).alias("m_rows"),
        F.coalesce(F.max("__level__"), F.lit(0)).alias("level"),
        F.coalesce(F.max("__n__"), F.lit(0)).alias("n"),
    )
    q = F.explode(
        F.array(*[F.lit(float(x)) for x in qs])
    ).alias("q")
    idx = (
        F.floor(F.col("q") * (F.col("m_rows") - F.lit(1)).cast("double"))
        .cast("int") + F.lit(1)
    )
    est = F.when(
        F.col("m_rows") > 0, F.element_at("__s__", idx)["__v__"]
    )
    return agg.select(q, "__s__", "m_rows", "level", "n").select(
        F.round("q", 6).alias("q"),
        F.round(est, 6).alias("est"),
        "m_rows",
        F.col("level").cast("long").alias("level"),
        F.col("n").cast("long").alias("n"),
    )


def stream_quantile_sketch(
    stream: DataFrame, value_col: str, uid_col: str, level: int
) -> DataFrame:
    """Streaming twin of :func:`quantile_sketch` at a FIXED compaction
    level — and the payoff of the hash-threshold design: the survivor
    predicate is a pure per-row filter, so the streaming sketch is
    completely STATELESS (append mode, no watermark, no aggregation
    state). Each micro-batch appends its survivors; the drained table
    at any point IS the batch sketch of the rows seen so far at that
    level (same rows, same hashes).

    Pick ``level ≈ log2(expected_n / k)`` from a volume hint. If the
    stream outgrows it, re-leveling is a BATCH re-filter of the small
    survivor table: survivors at level l+1 are a subset of survivors at
    level l (one more hash bit tested), so nothing is lost by starting
    too low — the table is just bigger until compacted. Estimates come
    from :func:`quantile_sketch_estimates` over the drained table after
    stamping the metadata columns (``__level__``, ``__n__`` from the
    ingest counter)."""
    if not 0 <= int(level) <= _QSK_BITS:
        raise ValueError(
            f"stream_quantile_sketch: level must be in [0, {_QSK_BITS}]"
        )
    base = (
        stream.where(F.col(value_col).isNotNull())
        .select(
            F.col(value_col).cast("double").alias("__v__"),
            _qsk_hash(F.col(uid_col)).alias("__h__"),
        )
        .withColumn("__lvl__", _qsk_level(F.col("__h__")))
    )
    return base.where(F.col("__lvl__") >= int(level))


def quantile_sketch_grouped(
    df: DataFrame, value_col: str, uid_col: str, group_cols, k: int = 256
) -> DataFrame:
    """Per-GROUP quantile sketch — the distribution telemetry a corpus
    pipeline wants per domain/source/language. Same hash-threshold law
    as :func:`quantile_sketch`, but the level choice is FULLY
    RELATIONAL, so nothing driver-side scales with group count:

    1. one scan tags (group, value, hash, level);
    2. a (group, level) count aggregate (≤61 rows per group);
    3. per group, the chosen level = ``max(level where suffix-count >
       k) + 1`` (else 0), computed with a per-group window over the
       ≤61-row level relation — provably the same "smallest level with
       ≤ k survivors" rule the global sketch's driver loop applies,
       because the suffix count only steps at present levels;
    4. survivors join back on the group key and filter.

    Per group the result rows obey the same merge law as the global
    sketch (union survivors, re-pick the level at or above either
    input's — counts only grow). Returns survivor rows
    ``(*group_cols, __v__, __h__, __lvl__, __level__, __n__)`` with
    the metadata now PER GROUP."""
    if k < 1:
        raise ValueError(f"quantile_sketch_grouped: k must be >= 1, got {k}")
    from pyspark.sql import Window

    gcols = [group_cols] if isinstance(group_cols, str) else list(group_cols)
    base = (
        df.where(F.col(value_col).isNotNull())
        .select(
            *gcols,
            F.col(value_col).cast("double").alias("__v__"),
            _qsk_hash(F.col(uid_col)).alias("__h__"),
        )
        .withColumn("__lvl__", _qsk_level(F.col("__h__")))
        # single-scan (r13): same two-consumer shape as the global
        # sketch — see quantile_sketch's comment; non-eager, zero
        # actions, ContextCleaner-released
        .localCheckpoint(eager=False)
    )
    cnt = base.groupBy(*gcols, "__lvl__").agg(F.count(F.lit(1)).alias("__c__"))
    w = (
        Window.partitionBy(*gcols)
        .orderBy(F.col("__lvl__").desc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    suf = cnt.withColumn("__suf__", F.sum("__c__").over(w))
    lstar = suf.groupBy(*gcols).agg(
        F.least(
            F.coalesce(
                F.max(
                    F.when(F.col("__suf__") > k, F.col("__lvl__") + 1)
                ),
                F.lit(0),
            ),
            F.lit(_QSK_BITS),
        ).alias("__level__"),
        # suffix count at the smallest present level IS the group total
        F.max("__suf__").cast("long").alias("__n__"),
    )
    return base.join(lstar, gcols).where(
        F.col("__lvl__") >= F.col("__level__")
    )


def quantile_sketch_estimates_grouped(
    sketch: DataFrame,
    group_cols,
    qs=(0.25, 0.5, 0.75, 0.9),
) -> DataFrame:
    """Per-group order-statistic estimates from a grouped sketch: one
    aggregate per group over its ≤ k survivors (sorted array via
    collect_list on a bounded-per-group relation — no global window).
    Rows out: ``(*group_cols, q, est, m_rows, level, n)``."""
    gcols = [group_cols] if isinstance(group_cols, str) else list(group_cols)
    agg = sketch.groupBy(*gcols).agg(
        F.array_sort(
            F.collect_list(F.struct("__v__", "__h__"))
        ).alias("__s__"),
        F.count(F.lit(1)).alias("m_rows"),
        F.max("__level__").cast("long").alias("level"),
        F.max("__n__").cast("long").alias("n"),
    )
    q = F.explode(F.array(*[F.lit(float(x)) for x in qs])).alias("q")
    idx = (
        F.floor(F.col("q") * (F.col("m_rows") - F.lit(1)).cast("double"))
        .cast("int") + F.lit(1)
    )
    est = F.when(
        F.col("m_rows") > 0, F.element_at("__s__", idx)["__v__"]
    )
    return agg.select(*gcols, q, "__s__", "m_rows", "level", "n").select(
        *gcols,
        F.round("q", 6).alias("q"),
        F.round(est, 6).alias("est"),
        "m_rows",
        "level",
        "n",
    )


def quantile_sketch_merge_grouped(
    *sketches: DataFrame, group_cols, k: int = 256
) -> DataFrame:
    """Merge grouped sketches built with the same ``k`` over DISJOINT
    inputs — the per-group twin of :func:`quantile_sketch_merge`, and
    like the grouped build it is FULLY RELATIONAL (nothing driver-side
    scales with group count): union the survivor rows, take each
    group's level floor (max of the inputs' levels — union counts only
    grow, so suffix counts at or above the floor are exact), re-pick
    per group with the same windowed suffix rule bounded below by the
    floor, re-filter. Per group the result equals building one sketch
    on the concatenated raw data."""
    if not sketches:
        raise ValueError("need at least one sketch")
    from pyspark.sql import Window

    gcols = [group_cols] if isinstance(group_cols, str) else list(group_cols)
    u = sketches[0]
    for s in sketches[1:]:
        u = u.unionByName(s)
    meta = u.groupBy(*gcols).agg(
        F.max("__level__").alias("__floor__"),
    )
    # per-(group, source-sketch) n is constant on rows; total n per
    # group = sum over sketches of that sketch's per-group n
    n_tot = None
    for s in sketches:
        part = s.groupBy(*gcols).agg(F.max("__n__").alias("__np__"))
        n_tot = part if n_tot is None else n_tot.unionByName(part)
    n_tot = n_tot.groupBy(*gcols).agg(
        F.sum("__np__").cast("long").alias("__ntot__")
    )
    cnt = u.groupBy(*gcols, "__lvl__").agg(F.count(F.lit(1)).alias("__c__"))
    w = (
        Window.partitionBy(*gcols)
        .orderBy(F.col("__lvl__").desc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    suf = cnt.withColumn("__suf__", F.sum("__c__").over(w))
    lstar = (
        suf.groupBy(*gcols)
        .agg(
            F.coalesce(
                F.max(
                    F.when(F.col("__suf__") > k, F.col("__lvl__") + 1)
                ),
                F.lit(0),
            ).alias("__lraw__")
        )
        .join(meta, gcols)
        .select(
            *gcols,
            F.least(
                F.greatest(F.col("__lraw__"), F.col("__floor__")),
                F.lit(_QSK_BITS),
            ).alias("__newlevel__"),
        )
    )
    return (
        u.drop("__level__", "__n__")
        .join(lstar, gcols)
        .join(n_tot, gcols)
        .where(F.col("__lvl__") >= F.col("__newlevel__"))
        .withColumnRenamed("__newlevel__", "__level__")
        .withColumnRenamed("__ntot__", "__n__")
    )

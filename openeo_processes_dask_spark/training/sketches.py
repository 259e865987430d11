"""Distributed probabilistic sketches with DETERMINISTIC, engine-portable
hashing (md5-derived, like every dedup lane) — so the same sketch built on
any engine, any partitioning, is bit-identical, and a DuckDB oracle can
replay it exactly. No reference counterpart (the reference is a raster
operator library).

Sketches are the only honest answer at 100 TB for "how often does every
key occur" / "how many distinct keys" / "what is the distribution" style
questions when the key space itself is too big to materialize. Three are
here, each built in one scan with one small aggregate:

- Count-Min (frequency): d*w integer cells, merged by entrywise sum;
- HyperLogLog (cardinality): 2^p registers, merged by entrywise max;
- the hash-threshold quantile sketch (distribution): <= k survivor rows,
  merged by union and a re-picked level.

Every sketch is written ONCE, per group: the builder, merge and estimate
take ``group_cols`` and the global functions are the same bodies with no
group columns. That is sound because each sketch is a pure function of
its input multiset (Agarwal et al., PODS'12: mergeable summaries), so it
holds per group exactly as it holds for the whole input, and per group
the grouped sketch equals the global sketch built on that group's slice.
The streaming twins call the batch builders: the cell sums and register
maxima commute, so a drained stream equals the batch build of its rows.

All hashes come from one helper, :func:`_hash60`: the first 15 hex digits
of md5(prefix || key) read as a 60-bit non-negative long, with a prefix
per use (``<row>-`` for Count-Min rows, ``hll-``, ``qsk-``).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from openeo_processes_dask_spark.training.dedup import _md5_to_long

#: hash width of :func:`_hash60`, shared by every sketch in this module
_HASH_BITS = 60


def _hash60(prefix: str, key: Column) -> Column:
    """60-bit non-negative hash of ``key``: :func:`~.dedup._md5_to_long`
    of ``prefix`` || key. DuckDB replays it as
    ``CAST('0x' || substr(md5(prefix || key), 1, 15) AS BIGINT)``."""
    return _md5_to_long(F.concat(F.lit(prefix), key.cast("string")))


def _group_list(group_cols) -> list[str]:
    """``group_cols`` as a list of names: one name, or an iterable of
    names (empty for the global sketch)."""
    return [group_cols] if isinstance(group_cols, str) else list(group_cols)


def _union(frames) -> DataFrame:
    return reduce(DataFrame.unionByName, frames)


# ---------------------------------------------------------------------------
# Count-Min
# ---------------------------------------------------------------------------


def _bucket(key: Column, row: int, width: int) -> Column:
    """Row-``row`` bucket of ``key``: its ``<row>-`` hash mod width."""
    return (_hash60(f"{row}-", key) % F.lit(width)).cast("int")


def _cm_cells(key: Column, depth: int, width: int) -> Column:
    """``rb``: the ``depth`` (row, bucket) cells of ``key``, exploded."""
    return F.explode(
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
    return count_min_build_grouped(df, key_col, (), depth, width, weight_col)


def count_min_estimate(
    sketch: DataFrame, probes: DataFrame, key_col: str = "key",
    depth: int = 4, width: int = 256,
) -> DataFrame:
    """(key, est) for every probe key: min over the ``depth`` bucket
    counters, 0 against an empty sketch. The probe relation is tiny (it
    is a list of keys someone asks about); the sketch is depth*width
    rows."""
    return count_min_estimate_grouped(
        sketch, probes, (), key_col, depth, width
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
    per-source term-frequency telemetry): one scan + one hash aggregate
    over ≤ |groups| × depth × width cells. Sums are multiset-pure, so
    the grouped table equals the global table built on each group's
    slice and merges across disjoint splits by entrywise addition per
    group."""
    gcols = _group_list(group_cols)
    w = F.col(weight_col) if weight_col is not None else F.lit(1)
    return (
        df.select(
            *gcols,
            _cm_cells(F.col(key_col), depth, width),
            w.cast("long").alias("w"),
        )
        .select(*gcols, "rb.row", "rb.bucket", "w")
        .groupBy(*gcols, "row", "bucket")
        .agg(F.sum("w").alias("cnt"))
    )


def count_min_merge_grouped(*sketches: DataFrame, group_cols) -> DataFrame:
    """Entrywise per-group sum of grouped Count-Min tables built with
    the SAME (depth, width) over DISJOINT inputs — per-group counts
    compose exactly (sums commute)."""
    if not sketches:
        raise ValueError("need at least one sketch")
    gcols = _group_list(group_cols)
    return (
        _union(sketches)
        .groupBy(*gcols, "row", "bucket")
        .agg(F.sum("cnt").alias("cnt"))
    )


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
    never crossed. With no group columns the probes join the sketch
    directly."""
    gcols = _group_list(group_cols)
    key = F.col(key_col).cast("string")
    pb = probes.select(key.alias("key"), _cm_cells(key, depth, width)).select(
        "key", "rb.row", "rb.bucket"
    )
    if gcols:
        pb = sketch.select(*gcols).distinct().crossJoin(F.broadcast(pb))
    return (
        pb.join(sketch, [*gcols, "row", "bucket"], "left")
        .groupBy(*gcols, "key")
        .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0))).alias("est"))
    )


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
    return count_min_build(stream, key_col, depth, width)


def count_min_merge(*sketches: DataFrame) -> DataFrame:
    """Entrywise sum of Count-Min tables built with the SAME depth/width
    — the merge that makes per-day/per-shard sketches composable into a
    corpus sketch without touching raw data (sums commute)."""
    return count_min_merge_grouped(*sketches, group_cols=())


# ---------------------------------------------------------------------------
# HyperLogLog
# ---------------------------------------------------------------------------


def _hll_alpha(m: int) -> float:
    """HyperLogLog bias constant alpha_m for ``m`` registers."""
    return {16: 0.673, 32: 0.697, 64: 0.709}.get(m, 0.7213 / (1 + 1.079 / m))


def _hll_bucket_rho(key_col: str, p: int) -> tuple[Column, Column]:
    """Shared HLL hash arithmetic: (bucket, rho) Columns from the
    ``hll-`` 60-bit hash — bucket = low ``p`` bits, rho =
    leading-zero count of the remaining bits + 1. Engine-portable
    (replayed verbatim by the DuckDB oracles); every register builder
    here and ``graph.harmonic_centrality`` use it, so their tables are
    interchangeable."""
    if not 4 <= p <= 16:
        raise ValueError(f"p must be in [4, 16], got {p}")
    h = _hash60("hll-", F.col(key_col))
    bits = _HASH_BITS - p
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
    return hyperloglog_registers_grouped(df, key_col, (), p)


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
    return hyperloglog_registers(stream, key_col, p)


def hyperloglog_estimate(registers: DataFrame, p: int = 10) -> float:
    """HLL estimate from the register table as a Python float: the
    single value of :func:`hyperloglog_estimate_relational` (the table
    is <= 2^p rows — metadata-sized). Standard bias-corrected formula
    with linear counting for the small range; 0.0 for no registers."""
    return float(hyperloglog_estimate_relational(registers, p).first()[0])


def hyperloglog_merge(*registers: DataFrame) -> DataFrame:
    """Entrywise max of HLL register tables built with the SAME p —
    distinct counts compose across arbitrary splits of the data."""
    return hyperloglog_merge_grouped(*registers, group_cols=())


def hyperloglog_registers_grouped(
    df: DataFrame, key_col: str, group_cols, p: int = 10
) -> DataFrame:
    """Per-GROUP HLL register table ``(*group_cols, bucket, rho)`` —
    the cardinality member of the grouped-sketch family (per-domain /
    per-source distinct counts): grouped max aggregate, ≤ |groups| ×
    2^p rows. Multiset-pure (duplicate keys land on identical
    (bucket, rho)), so it is deterministic under any partitioning and
    per group equals the global register table built on that group's
    slice; merge across disjoint splits = entrywise max per group."""
    gcols = _group_list(group_cols)
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
    gcols = _group_list(group_cols)
    return (
        _union(registers)
        .groupBy(*gcols, "bucket")
        .agg(F.max("rho").alias("rho"))
    )


def hyperloglog_estimate_grouped(
    registers: DataFrame, group_cols, p: int = 10
) -> DataFrame:
    """Per-group relational HLL estimate ``(*group_cols, estimate)``.

    Determinism across engines: the harmonic sum ``Σ 2^-rho`` is
    accumulated in EXACT integer micro-units — each register
    contributes ``2^(61-rho)`` (a shifted long, exact), absent buckets
    contribute ``2^61`` each via the zero count — summed in DECIMAL so
    nothing rounds until ONE final float division. Two engines
    computing ``alpha·m²·2^61 / S`` from the same integer ``S`` agree
    bit-for-bit; only the linear-counting branch's ``ln`` is a float
    intrinsic (rounded to 6 decimals like every float lane)."""
    gcols = _group_list(group_cols)
    m = 1 << p
    num = _hll_alpha(m) * m * m * float(1 << 61)
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
    no-group case of :func:`hyperloglog_estimate_grouped` (see there
    for the engine-portable arithmetic)."""
    return hyperloglog_estimate_grouped(registers, (), p)


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
# Mergeable quantile sketch — the distribution member of the trio and the
# constant-memory twin of the exact equi-depth `range_bounds` lane.
# ---------------------------------------------------------------------------


def _qsk_hash(uid: Column) -> Column:
    """60-bit ``qsk-`` priority of a row's unique id — identical in
    DuckDB, so the sketch's survivor SET is engine-portable."""
    return _hash60("qsk-", uid)


def _qsk_level(h: Column) -> Column:
    """Compaction levels survived by a row: level ``l`` keeps rows with
    ``h < 2^(60-l)`` — i.e. rows whose top ``l`` hash bits are zero, so
    each compaction step halves the expected survivor count by testing
    ONE more hash bit (the deterministic, hash-seeded replacement for
    KLL's random compaction coin). Computed integer-exactly via the
    binary-string length (no float log2): ``60 - len(bin(h))``."""
    return F.when(h <= 0, F.lit(_HASH_BITS)).otherwise(
        F.lit(_HASH_BITS) - F.length(F.bin(h))
    ).cast("int")


def _qsk_tagged(
    df: DataFrame, value_col: str, uid_col: str, gcols: list[str]
) -> DataFrame:
    """``(*gcols, __v__, __h__, __lvl__)`` for every row whose value is
    not NULL (quantiles over NULLs are undefined — same contract as
    `range_bounds`)."""
    return (
        df.where(F.col(value_col).isNotNull())
        .select(
            *gcols,
            F.col(value_col).cast("double").alias("__v__"),
            _qsk_hash(F.col(uid_col)).alias("__h__"),
        )
        .withColumn("__lvl__", _qsk_level(F.col("__h__")))
    )


def _qsk_survivors(
    rows: DataFrame,
    gcols: list[str],
    k: int,
    inputs: DataFrame | None = None,
) -> DataFrame:
    """The rows of ``rows`` at or above their group's chosen level — the
    smallest level with <= ``k`` rows at or above it — stamped with
    ``__level__`` and ``__n__``.

    Per group, the <= 61 (level, count) rows are folded in ONE
    aggregate, walking levels high -> low: the first level whose
    running count exceeds k forces chosen = level + 1 (the suffix count
    only grows as the walk descends, so greatest() keeps exactly that
    first trigger); if no level triggers, 0. The running total after
    the walk is the group's row count, which is ``__n__`` for a build.
    For a merge, ``inputs`` carries each group's ``__floor__`` (the
    largest input level: union counts only grow, so suffix counts at
    or above it are exact) and ``__n__`` (the inputs' sum).

    The metadata joins back broadcast on ``gcols`` plus a constant key
    (a join needs at least one key; with no group columns Catalyst
    folds it, leaving ``__lvl__ >= __level__`` over a 1-row build
    side). Everything is lazy: nothing collects."""
    acc = (
        rows.groupBy(*gcols, "__lvl__")
        .agg(F.count(F.lit(1)).alias("__c__"))
        .groupBy(*gcols)
        .agg(
            F.expr(
                "aggregate(reverse(array_sort(collect_list("
                "struct(__lvl__, __c__)))),"
                " named_struct('cum', CAST(0 AS BIGINT),"
                " 'best', CAST(0 AS INT)),"
                " (acc, x) -> named_struct('cum', acc.cum + x.__c__, 'best',"
                " CAST(greatest(acc.best, CASE WHEN acc.cum + x.__c__ > "
                f"{int(k)} THEN x.__lvl__ + 1 ELSE 0 END) AS INT)))"
            ).alias("__acc__")
        )
        .withColumn("__j__", F.lit(1))
    )
    level, n = F.col("__acc__.best"), F.col("__acc__.cum")
    if inputs is not None:
        acc = acc.join(
            F.broadcast(inputs.withColumn("__j__", F.lit(1))),
            [*gcols, "__j__"],
        )
        level, n = F.greatest(level, F.col("__floor__")), F.col("__n__")
    meta = acc.select(
        *gcols,
        "__j__",
        F.least(level, F.lit(_HASH_BITS)).alias("__level__"),
        n.alias("__n__"),
    )
    return (
        rows.withColumn("__j__", F.lit(1))
        .join(F.broadcast(meta), [*gcols, "__j__"])
        .where(F.col("__lvl__") >= F.col("__level__"))
        .select(*gcols, "__v__", "__h__", "__lvl__", "__level__", "__n__")
    )


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

    The no-group case of :func:`quantile_sketch_grouped`: ONE deferred
    plan, no action inside the builder — one scan computes (value,
    hash, level), a <= 61-row level-count aggregate folds to one
    metadata row, which broadcast-joins back and one filter emits the
    <= k survivor rows.

    Returns survivor rows ``(__v__ double, __h__ long, __lvl__ int)``
    plus constant metadata columns ``__level__`` (chosen level) and
    ``__n__`` (exact input count). NULL values are excluded.
    """
    return quantile_sketch_grouped(df, value_col, uid_col, (), k)


def quantile_sketch_merge(*sketches: DataFrame, k: int = 1024) -> DataFrame:
    """Merge sketches built with the same ``k`` over DISJOINT inputs
    (the standard shard/day/source composition): union the survivor
    rows, re-pick the level from the union's counts (never below any
    input's level — survivor counts only grow under union, so the
    union's suffix counts are EXACT at or above that floor), and
    re-filter. The result row set is IDENTICAL to building the sketch
    on the concatenated raw data. Lazy, like the build."""
    return quantile_sketch_merge_grouped(*sketches, group_cols=(), k=k)


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
    ``(q, est, m_rows, level, n)``, with ``est`` NULL and ``n`` 0 for
    an empty sketch."""
    return quantile_sketch_estimates_grouped(sketch, (), qs)


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
    if not 0 <= int(level) <= _HASH_BITS:
        raise ValueError(
            f"stream_quantile_sketch: level must be in [0, {_HASH_BITS}]"
        )
    return _qsk_tagged(stream, value_col, uid_col, []).where(
        F.col("__lvl__") >= int(level)
    )


def quantile_sketch_grouped(
    df: DataFrame, value_col: str, uid_col: str, group_cols, k: int = 256
) -> DataFrame:
    """Per-GROUP quantile sketch — the distribution telemetry a corpus
    pipeline wants per domain/source/language. Same hash-threshold law
    as :func:`quantile_sketch`, per group, and the level choice is
    FULLY RELATIONAL, so nothing driver-side scales with group count:

    1. one scan tags (group, value, hash, level);
    2. a (group, level) count aggregate (≤61 rows per group);
    3. per group, one fold over those rows picks the smallest level
       with ≤ k survivors (:func:`_qsk_survivors`);
    4. survivors join back on the group key and filter.

    Per group the result rows obey the same merge law as the global
    sketch (union survivors, re-pick the level at or above either
    input's — counts only grow). Returns survivor rows
    ``(*group_cols, __v__, __h__, __lvl__, __level__, __n__)`` with
    the metadata PER GROUP."""
    if k < 1:
        raise ValueError(f"quantile sketch: k must be >= 1, got {k}")
    gcols = _group_list(group_cols)
    # Single scan (r13): the tagged projection feeds BOTH the level-count
    # aggregate and the survivor filter, and the two subtrees diverge
    # right above the scan, so the raw table was scanned — and the md5
    # priority computed — twice per consumption (a shared-repartition
    # variant does not help: column pruning narrows the metadata side
    # below the exchange, so AQE never reuses it). A NON-EAGER
    # localCheckpoint materializes the narrow (v, h, lvl) projection
    # (~24 B/row) once inside the consumer's own first action and lets
    # both subtrees read it: measured 4.4 s -> 1.7 s at sf0.1 for
    # identical output. Still ZERO actions in the builder, and the blocks
    # are ContextCleaner-released when the returned DataFrame is garbage
    # collected. At scale this trades executor storage of the projection
    # for the second full pass over the source table.
    tagged = _qsk_tagged(df, value_col, uid_col, gcols).localCheckpoint(
        eager=False
    )
    return _qsk_survivors(tagged, gcols, k)


def quantile_sketch_estimates_grouped(
    sketch: DataFrame,
    group_cols,
    qs=(0.25, 0.5, 0.75, 0.9),
) -> DataFrame:
    """Per-group order-statistic estimates from a grouped sketch: one
    aggregate per group over its ≤ k survivors (sorted array via
    collect_list on a bounded-per-group relation — no global window).
    Rows out: ``(*group_cols, q, est, m_rows, level, n)``."""
    gcols = _group_list(group_cols)
    agg = sketch.groupBy(*gcols).agg(
        F.array_sort(
            F.collect_list(F.struct("__v__", "__h__"))
        ).alias("__s__"),
        F.count(F.lit(1)).alias("m_rows"),
        F.coalesce(F.max("__level__"), F.lit(0)).cast("long").alias("level"),
        F.coalesce(F.max("__n__"), F.lit(0)).cast("long").alias("n"),
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
    inputs — FULLY RELATIONAL, nothing driver-side scales with group
    count: union the survivor rows, take each group's level floor (max
    of the inputs' levels — union counts only grow, so suffix counts at
    or above the floor are exact), re-pick per group with the build's
    fold bounded below by the floor, re-filter. Per group the result
    equals building one sketch on the concatenated raw data."""
    if not sketches:
        raise ValueError("need at least one sketch")
    gcols = _group_list(group_cols)
    rows = _union(
        [s.select(*gcols, "__v__", "__h__", "__lvl__") for s in sketches]
    )
    # an input's level and n are constant on its rows of one group
    inputs = _union(
        [
            s.groupBy(*gcols).agg(
                F.max("__level__").alias("__floor__"),
                F.max("__n__").alias("__n__"),
            )
            for s in sketches
        ]
    ).groupBy(*gcols).agg(
        F.max("__floor__").alias("__floor__"),
        F.sum("__n__").alias("__n__"),
    )
    return _qsk_survivors(rows, gcols, k, inputs)

"""Deduplication at corpus scale: exact, n-gram Jaccard, MinHash+LSH,
SimHash.

Every lane of one hash family shares its definitions: the whole-document
fingerprint is ``textanalysis.doc_fingerprint``; the distinct word-shingle
digest relation of the Jaccard, MinHash and decontamination lanes is
``_shingle_keys``; the MinHash coefficients, band buckets,
signature-agreement estimate and per-row stream signature are one SQL
fragment each (``_minhash_coeffs`` .. ``_agreement_sql``); the batch
MinHash near-dup and ingest lanes run the one banded MinHash join
``_banded_minhash``; every 64-bit-signature lane (SimHash, perceptual
hashes) runs the one banded Hamming join ``_banded_hamming``.

Shuffle topology is the whole game at 100 TB:
- exact dedup: one hash-groupBy on a 32-char digest (not the full text) —
  the shuffle carries digests, not documents.
- Jaccard / MinHash-LSH: candidate generation via an equi-join on
  shingle/band keys (never an O(n²) cross join); verification only touches
  candidate pairs. ``id1 < id2`` halves the pair space.
- SimHash: 64-bit signature per doc, candidates via banded key join.
"""

from __future__ import annotations

import random

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from openeo_processes_dask_spark.training.clustering import _quote
from openeo_processes_dask_spark.training.textanalysis import (
    doc_fingerprint,
    shingles_from_tokens,
    tokens,
)

# Mersenne prime 2^31 - 1: universal-hash modulus. Kept at 31 bits so
# (a*x + b) with a, x < p stays under 2^63 — no overflow under ANSI mode.
_P = (1 << 31) - 1


def _md5_to_long(col):
    """First 15 hex chars of md5 -> bigint in [0, 16^15). Reproducible in
    any engine with md5 + hex parsing (the DuckDB oracle uses the same
    construction), unlike engine-private hash functions."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("bigint")


def _spread(df: DataFrame, key: str | None = None) -> DataFrame:
    """Repartition compute-heavy text input ONLY when it arrives in fewer
    partitions than the cluster has cores. The tokenize→shingle→hash
    explode multiplies rows ~100× downstream of the scan, and Spark cannot
    re-split a partition mid-stage — so a small-file corpus read as one
    partition pins the whole signature computation to one core (measured:
    minhash signatures at sf0.1 arrive as 1 parquet partition; 31/32 cores
    idle). On a real cluster the corpus has thousands of partitions and
    this is a no-op — the guard never pays the text shuffle at scale.

    Streaming frames pass through untouched: the partition probe is
    illegal on a stream (and micro-batch parallelism is the source's
    concern), which lets the narrow batch operators compose onto streams
    unchanged.

    Optimization r13 (guide §1): the original probe was
    ``df.rdd.getNumPartitions()``, which runs the full physical planner
    AND builds the execution RDD through py4j — ~40-60 ms of driver time
    per call, charged to every timed run of every signature-building
    query (minhash/simhash/jaccard call this 1-4x per execution). The
    optimizer's size estimate (``optimizedPlan().stats().sizeInBytes``,
    ~6 ms) answers the same question: a scan yields about
    ``size / maxPartitionBytes`` partitions, so the deficit test
    ``estimated_partitions < target`` is equivalent up to open-cost
    packing (which only PACKs small files into FEWER partitions — i.e.
    makes the old probe repartition in at least the same cases). The
    decision only changes the plan, never results.

    ``key`` (r13, guide §2.4): when the downstream consumer aggregates by
    a column, hash-repartitioning on THAT column instead of round-robin
    lets the aggregate reuse the exchange — Spark plans one Complete
    aggregate with no second (partial-merge) exchange — and skips
    round-robin's defensive local sort of the input
    (``spark.sql.execution.sortBeforeRepartition``, SPARK-23207).
    Measured at sf0.1 on the 64-min MinHash aggregate: 1.57 s round-robin
    vs 1.07 s hash-by-id for the identical result. Ids are unique per
    row, so the hash spread is uniform."""
    if df.isStreaming:
        return df
    sess = df.sparkSession
    target = sess.sparkContext.defaultParallelism
    try:
        size = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
        max_split = int(
            sess._jsparkSession.sessionState().conf().filesMaxPartitionBytes()
        )
        need = size // max_split + 1 < target
    except Exception:  # non-classic session / estimate unavailable
        need = df.rdd.getNumPartitions() < target
    if need:
        if key is not None:
            return df.repartition(target, F.col(key))
        return df.repartition(target)
    return df


def _shingle_keys(
    df: DataFrame, id_col: str, text_col: str, n: int, key: str | None = None
) -> DataFrame:
    """``(id, shk)``: one row per DISTINCT word-``n``-gram of each
    document, keyed by its 60-bit md5 digest — the shingle relation every
    n-gram lane joins on (Jaccard, MinHash, decontamination). ``key``
    goes to :func:`_spread`. The explode is narrow, so the relation
    composes onto a stream unchanged. Tokens materialize in their own
    select first (the ``shingles_from_tokens`` perf contract)."""
    return (
        _spread(
            df.select(F.col(id_col).alias("id"), F.col(text_col).alias("__t__")),
            key=key,
        )
        .select("id", tokens(F.lower(F.col("__t__"))).alias("toks"))
        .select(
            "id",
            F.explode(
                F.array_distinct(shingles_from_tokens(F.col("toks"), n))
            ).alias("sh"),
        )
        # hash the shingle so the shuffle key is 8 bytes, not the n-gram text
        .select("id", _md5_to_long(F.col("sh")).alias("shk"))
    )


def exact_duplicates(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Group by content digest; keep the min id as canonical.
    Returns (keep_id, n_copies, fingerprint)."""
    return (
        df.select(
            F.col(id_col), doc_fingerprint(F.col(text_col)).alias("fingerprint")
        )
        .groupBy("fingerprint")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def dedup_against(
    df_new: DataFrame,
    df_seen: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Incremental exact dedup: rows of ``df_new`` whose content
    fingerprint does NOT appear in ``df_seen`` — the cross-version
    anti-join every ongoing corpus build runs (v_{n} against
    v_{n−1}'s fingerprints).

    Plan: both sides reduce to 32-char digests before the LEFT ANTI join,
    so the shuffle carries fingerprints, not documents; at scale the seen
    side is a persisted fingerprint table (what exact_duplicates emits),
    read with its own column pruning. Within-batch duplicates are kept —
    compose with exact_duplicates for full dedup."""
    seen = df_seen.select(
        doc_fingerprint(F.col(text_col)).alias("fingerprint")
    ).distinct()
    new_fp = df_new.withColumn("fingerprint", doc_fingerprint(F.col(text_col)))
    return new_fp.join(seen, "fingerprint", "left_anti").select(*df_new.columns)


def ingest_screen(
    df_new: DataFrame,
    seen_fingerprints: DataFrame,
    seen_signatures: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.5,
    seed: int = 42,
    new_signatures: DataFrame | None = None,
) -> DataFrame:
    """One-pass ingest verdict for a new document batch against the
    archive's PERSISTED screen tables (r12) — the composition every
    ongoing corpus build runs per increment, as one relation instead of
    three ad-hoc joins:

    - ``exact_dup``: the batch row's whitespace-normalized md5
      fingerprint appears in ``seen_fingerprints`` (a one-column
      ``fingerprint`` table — what :func:`exact_duplicates` emits,
      maintained corpus-side);
    - ``near_dup``: the MinHash screen (:func:`minhash_incremental`
      against ``seen_signatures``) finds an archive twin at
      ``threshold``;
    - ``keep`` = neither.

    The archive TEXT is never read: both screens consume the persisted
    digest/signature tables, so per-increment cost is the new batch's
    tokenization plus fingerprint- and band-keyed equi-joins. Within-
    batch duplicates are deliberately out of scope (compose with
    :func:`exact_duplicates` / :func:`minhash_near_duplicates` over the
    kept rows, then append their fingerprints/signatures to the screen
    tables). Pass ``new_signatures`` (the batch's own signature table,
    same family) to skip the near lane's inline build (see
    :func:`minhash_incremental`). Returns
    ``(id, exact_dup, near_dup, keep)``, one row per new document: the
    exact and text lanes of :func:`ingest_screen_multimodal`, with
    ``text_near_dup`` named ``near_dup``."""
    return ingest_screen_multimodal(
        df_new, seen_fingerprints, seen_signatures, id_col=id_col,
        text_col=text_col, n=n, num_hashes=num_hashes, bands=bands,
        text_threshold=threshold, seed=seed, new_signatures=new_signatures,
    ).select(
        "id", "exact_dup", F.col("text_near_dup").alias("near_dup"), "keep"
    )


def ingest_screen_multimodal(
    df_new: DataFrame,
    seen_fingerprints: DataFrame | None,
    seen_signatures: DataFrame | None,
    seen_members: DataFrame | None = None,
    centroids=None,
    seen_hashes: DataFrame | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    vec_col: str = "embedding",
    sig_col: str = "psig",
    n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    text_threshold: float = 0.5,
    sem_threshold: float = 0.95,
    max_hamming: int = 3,
    hash_bands: int = 8,
    seed: int = 42,
    new_signatures: DataFrame | None = None,
) -> DataFrame:
    """Full multi-modality ingest verdict (r13, VERDICT r12 #4): the
    exact (fingerprint) and MinHash text lanes composed with the
    semantic (:func:`~..similarity.semdedup_incremental_pairs`) and
    perceptual (:func:`banded_hamming_incremental`) screens the r12
    matrix built — ONE relation per increment answering "have we
    seen this content, in any modality, before?".

    ``df_new`` carries one row per new item with ALL modality columns:
    ``id_col``, ``text_col``, ``vec_col`` (embedding array) and
    ``sig_col`` (any 64-bit perceptual signature — image dHash, audio
    landmark hash; the screen is signature-agnostic, decode lanes live
    in training/multimodal.py). The four ``seen_*`` inputs are the
    archive's PERSISTED screen tables — fingerprint digests, MinHash
    signatures, ``(id, v, cluster)`` membership + fitted centroids,
    64-bit signatures — so the archive's text, embeddings, and media
    are NEVER re-read: per-increment cost is the new batch's own
    projections plus fingerprint-, band-, cluster-, and chunk-keyed
    equi-joins against write-once tables (the 100 TB contract probe 21
    / probe 22 measure).

    Any lane is OPTIONAL (r13): pass ``None`` for its archive input(s)
    and its flag is a literal ``False`` in the verdict — a corpus
    without embeddings or media still gets the same relation shape, so
    downstream consumers never branch on schema. At least one lane must
    be enabled. ``new_signatures`` is passed to the text lane (see
    :func:`minhash_incremental`).

    Returns ``(id, exact_dup, text_near_dup, semantic_dup,
    perceptual_dup, keep)``, one row per new item; ``keep`` = no
    enabled lane fired. Within-batch duplicates are out of scope by the
    same composition contract as :func:`ingest_screen`, which is this
    screen's exact and text lanes."""
    from openeo_processes_dask_spark.training.similarity import (
        semdedup_incremental_pairs,
    )

    if (seen_members is None) != (centroids is None):
        raise ValueError(
            "semantic lane needs BOTH seen_members and centroids (or "
            "neither)"
        )
    if all(
        x is None
        for x in (seen_fingerprints, seen_signatures, seen_members,
                  seen_hashes)
    ):
        raise ValueError(
            "ingest_screen_multimodal: every lane is disabled — pass at "
            "least one archive screen table"
        )

    # Each lane's construction is a chain of py4j round trips, Catalyst
    # analysis and, in the text lane, an eager checkpoint job. The lanes
    # are independent plan builders over caller-owned inputs, so they
    # are built from a thread pool (py4j is connection-per-thread;
    # Datasets are immutable) and only the final assembly is serial.
    # Measured with the SQL-string assignment: 0.34 s pooled against
    # 0.57 s in order for the gate's library call (sf0.01, local[4]).
    def _exact_lane():
        return (
            df_new.select(
                F.col(id_col).alias("id"),
                doc_fingerprint(F.col(text_col)).alias("fingerprint"),
            )
            .join(
                seen_fingerprints.select("fingerprint").distinct(),
                "fingerprint",
                "left_semi",
            )
            .select("id")
            .withColumn("__exact__", F.lit(True))
        )

    def _text_lane():
        return (
            minhash_incremental(
                df_new.select(id_col, text_col), seen_signatures, id_col,
                text_col, n=n, num_hashes=num_hashes, bands=bands,
                threshold=text_threshold, seed=seed,
                new_signatures=new_signatures,
            )
            .select(F.col("new_id").alias("id"))
            .distinct()
            .withColumn("__text__", F.lit(True))
        )

    def _sem_lane():
        return (
            semdedup_incremental_pairs(
                df_new.select(id_col, vec_col), seen_members, centroids,
                threshold=sem_threshold, id_col=id_col, vec_col=vec_col,
            )
            .select(F.col("new_id").alias("id"))
            .distinct()
            .withColumn("__sem__", F.lit(True))
        )

    def _perc_lane():
        return (
            banded_hamming_incremental(
                df_new.select(id_col, sig_col), seen_hashes,
                max_hamming=max_hamming, bands=hash_bands,
                id_col=id_col, sig_col=sig_col,
            )
            .select(F.col("new_id").alias("id"))
            .distinct()
            .withColumn("__perc__", F.lit(True))
        )

    builders = []  # (marker col, build fn)
    if seen_fingerprints is not None:
        builders.append(("__exact__", _exact_lane))
    if seen_signatures is not None:
        builders.append(("__text__", _text_lane))
    if seen_members is not None:
        builders.append(("__sem__", _sem_lane))
    if seen_hashes is not None:
        builders.append(("__perc__", _perc_lane))
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=len(builders)) as pool:
        futures = [pool.submit(b) for _, b in builders]
        built = [f.result() for f in futures]
    out = df_new.select(F.col(id_col).alias("id"))
    for lane_df in built:
        out = out.join(lane_df, "id", "left")
    enabled = [m for m, _ in builders]
    all_flags = [
        ("__exact__", "exact_dup"), ("__text__", "text_near_dup"),
        ("__sem__", "semantic_dup"), ("__perc__", "perceptual_dup"),
    ]
    keep = None
    for m in enabled:
        clause = F.col(m).isNull()
        keep = clause if keep is None else (keep & clause)
    return out.select(
        "id",
        *[
            (
                F.coalesce(F.col(m), F.lit(False)) if m in enabled
                else F.lit(False)
            ).alias(flag)
            for m, flag in all_flags
        ],
        keep.alias("keep"),
    )


def corpus_diff(
    df_old: DataFrame,
    df_new: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Snapshot diff between two corpus versions, CDC-style.

    Returns ``(doc_id, status)`` with status ``'added'`` (id only in new),
    ``'removed'`` (id only in old), or ``'changed'`` (id in both, content
    fingerprint differs). Unchanged ids are omitted — at 100 TB the diff
    is the small relation and the unchanged mass is the big one, so
    emitting only the delta is what keeps the output broadcastable into
    downstream incremental jobs (re-embed only 'added'+'changed', retire
    'removed' from the index).

    Plan: each side is reduced to (id, md5) — a projection inside the
    scan, no text ever shuffles — then ONE full-outer shuffle join on id.
    Ids must be unique per side (enforce upstream with exact_duplicates);
    duplicate ids would cross-multiply in the join.
    """
    o = df_old.select(
        F.col(id_col).alias("doc_id"),
        doc_fingerprint(F.col(text_col)).alias("fp_old"),
    )
    n = df_new.select(
        F.col(id_col).alias("doc_id"),
        doc_fingerprint(F.col(text_col)).alias("fp_new"),
    )
    return (
        o.join(n, "doc_id", "full_outer")
        .select(
            "doc_id",
            F.when(F.col("fp_old").isNull(), F.lit("added"))
            .when(F.col("fp_new").isNull(), F.lit("removed"))
            .when(F.col("fp_old") != F.col("fp_new"), F.lit("changed"))
            .alias("status"),
        )
        .where(F.col("status").isNotNull())
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.5,
    max_doc_freq: float | None = None,
) -> DataFrame:
    """Exact word-n-gram Jaccard over candidate pairs that share ≥1 shingle.

    Plan: explode distinct shingles → self-equi-join on shingle (the only
    shuffle, keyed by shingle digest) → count intersections per pair →
    |A∪B| = |A|+|B|-|A∩B|. Returns (id1, id2, jaccard) with id1 < id2.

    ``max_doc_freq``: drop "stop shingles" present in more than this
    fraction of documents BEFORE the self-join. At corpus scale this is the
    difference between a bounded join and a quadratic blow-up: a shingle in
    f docs contributes f·(f-1)/2 join rows, so one boilerplate shingle in
    10% of a 1B-doc corpus alone produces 5·10^15 rows. Changes the measured
    Jaccard (computed over the filtered shingle sets) — that's the standard,
    documented trade (same move as TF-IDF stopword cuts).
    """
    # persist: this 16-byte-per-row table feeds the size aggregate AND
    # both sides of the self-join; without it the tokenize+explode+md5
    # pipeline recomputes 3× (verified: ReusedExchange never matches
    # the aliased join sides). At cluster scale this is the "write the
    # shingle table first" step of every published dedup pipeline.
    sh = _shingle_keys(df, id_col, text_col, n).persist()
    try:
        keyed = sh
        if max_doc_freq is not None:
            n_docs = df.count()
            cutoff = int(max_doc_freq * n_docs)
            keep = (
                sh.groupBy("shk")
                .agg(F.count(F.lit(1)).alias("df"))
                .where(F.col("df") <= cutoff)
                .select("shk")
            )
            keyed = sh.join(keep, "shk", "left_semi")
        sizes = keyed.groupBy("id").agg(F.count(F.lit(1)).alias("sz"))
        a, b = keyed.alias("a"), keyed.alias("b")
        inter = (
            a.join(
                b,
                (F.col("a.shk") == F.col("b.shk"))
                & (F.col("a.id") < F.col("b.id")),
            )
            .groupBy(F.col("a.id").alias("id1"), F.col("b.id").alias("id2"))
            .agg(F.count(F.lit(1)).alias("inter"))
        )
        sz1 = sizes.select(F.col("id").alias("id1"), F.col("sz").alias("sz1"))
        sz2 = sizes.select(F.col("id").alias("id2"), F.col("sz").alias("sz2"))
        out = (
            inter.join(sz1, "id1")
            .join(sz2, "id2")
            .withColumn(
                "jaccard",
                F.col("inter") / (F.col("sz1") + F.col("sz2") - F.col("inter")),
            )
            .where(F.col("jaccard") >= threshold)
            .select("id1", "id2", "jaccard")
        )
        # materialize the (small) pair set while the cache is alive, then
        # release the corpus-sized shingle cache — same contract as the
        # PPJoin lane (ADVICE r7): holding it for the session leaks
        # executor storage; localCheckpoint blocks die with the result DF.
        return out.localCheckpoint(eager=True)
    finally:
        sh.unpersist()


def jaccard_prefix_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact word-n-gram Jaccard join via PREFIX FILTERING (AllPairs /
    PPJoin family: Chaudhuri et al. SSJoin ICDE'06, Bayardo et al.
    WWW'07). Same answer as :func:`ngram_jaccard_pairs` — returns
    (id1, id2, jaccard) with id1 < id2 and jaccard >= threshold — but the
    self-join runs over each document's rarest-token PREFIX instead of
    its full shingle set.

    Why this is the scale lane: order the vocabulary by ascending
    document frequency (rarest first) and sort every document's shingles
    by that global order. If J(A,B) >= t then A and B must share a
    shingle within their first |X| - ceil(t*|X|) + 1 shingles (the
    prefix-filter lemma), so joining only prefixes loses NOTHING — recall
    is exactly 1 — while the join volume drops from sum(df^2) over every
    shingle to sum over prefix occurrences only, and the most frequent
    (most explosive) shingles sort to the END of each document and fall
    OUT of every prefix. Unlike ``max_doc_freq`` stop-shingle capping
    this does not change the measured Jaccard. A length filter
    (min_size >= t * max_size, another J >= t necessity) prunes the
    candidate set further before verification.

    When to pick which: on a corpus whose shingles are near-unique
    (long-tail trigram frequencies — the synthetic fixture is like
    this) the brute self-join volume is already tiny and this lane's
    frequency-join overhead makes it a constant factor SLOWER; its
    payoff is the corpus with heavy shingle frequencies (boilerplate,
    templates, mass duplication), where sum(df^2) explodes and the
    prefix cut is the difference between a bounded join and a blow-up —
    with recall 1, which the ``max_doc_freq`` cap cannot promise.

    Plan: vocabulary df-count (one shuffle over the shingle table), a
    vocabulary-sized window for the global rank (the vocab relation is
    orders of magnitude smaller than the corpus — its sort is not the
    bottleneck), per-doc row_number to cut prefixes, prefix self-join
    with the length AND positional (PPJoin) filters inline, then exact
    verification by equi-joining each candidate to the two docs'
    sorted shingle-key ARRAYS and intersecting in place (codegen
    array_intersect — no candidates x doc-size row explosion, no
    re-count aggregate). Text never shuffles — only 8-byte shingle
    keys, ids, and one array-of-keys row per document.
    """
    # keyed spread (r13): sizes/arrs/prefix-window downstream are all
    # keyed by id — hash-partitioning here lets them reuse this
    # exchange instead of re-shuffling (guide §2.4)
    sh = _shingle_keys(df, id_col, text_col, n, key="id").persist()
    try:
        return _jaccard_prefix_pairs_body(sh, threshold)
    finally:
        # the cache is corpus-sized; holding it for the session (the
        # pre-r8 behavior, ADVICE r7) leaks executor storage. The body
        # localCheckpoints its (small) pairs result before this
        # unpersist runs, so the consumer never recomputes sh.
        sh.unpersist()


def _jaccard_prefix_pairs_body(sh: DataFrame, threshold: float) -> DataFrame:
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("sz"))
    # global total order: the TUPLE (doc_freq, shk) — rarest first,
    # unique shk breaks ties. The lemma only needs one consistent total
    # order across documents, so the tuple is used as the per-doc sort
    # key DIRECTLY: no global row_number over the vocabulary, which
    # would funnel the whole vocab through a single unpartitioned
    # window task (measured 3x slower at sf0.1 — and a straight-up
    # serial bottleneck at corpus scale).
    vocab = sh.groupBy("shk").agg(F.count(F.lit(1)).alias("dfreq"))
    ranked = sh.join(vocab, "shk").join(sizes, "id")
    doc_w = Window.partitionBy("id").orderBy("dfreq", "shk")
    prefix = (
        ranked.withColumn("rn", F.row_number().over(doc_w))
        .where(
            F.col("rn")
            <= F.col("sz") - F.ceil(F.lit(float(threshold)) * F.col("sz")) + 1
        )
        .select("id", "shk", "sz", "rn")
        # r13: BOTH sides of the prefix self-join re-derive this chain
        # (two joins + the per-doc window; AQE exchange reuse does not
        # dedup it across the join's sides) — persist the prefix table,
        # the AllPairs/PPJoin index a cluster deployment materializes
        # anyway. Strictly smaller than the already-persisted sh (the
        # prefix rows are ~a 1-t fraction of it); released in finally
        # below, after the (small) verified pair set is checkpointed.
        # Interleaved A/B at sf0.1: 3.01 -> 2.62 s, identical pairs.
        .persist()
    )
    a, b = prefix.alias("a"), prefix.alias("b")
    # positional filter (PPJoin, Xiao et al. WWW'08): a shared prefix
    # token at 1-based ranks (i, j) bounds the overlap by
    # 1 + min(|A|-i, |B|-j); J >= t forces overlap >= ceil(t/(1+t) *
    # (|A|+|B|)). Keeping pairs where ANY shared prefix token passes is
    # recall-safe: for a true pair the FIRST shared token (which the
    # prefix lemma guarantees lies in both prefixes) always passes,
    # because every shared token sits at or after it in both documents.
    ub = F.lit(1) + F.least(
        F.col("a.sz") - F.col("a.rn"), F.col("b.sz") - F.col("b.rn")
    )
    alpha = F.ceil(
        F.lit(float(threshold) / (1.0 + float(threshold)))
        * (F.col("a.sz") + F.col("b.sz"))
    )
    cand = (
        a.join(
            b,
            (F.col("a.shk") == F.col("b.shk"))
            & (F.col("a.id") < F.col("b.id"))
            # length filter: J >= t forces min(|A|,|B|) >= t * max(|A|,|B|)
            & (
                F.least(F.col("a.sz"), F.col("b.sz"))
                >= F.lit(float(threshold))
                * F.greatest(F.col("a.sz"), F.col("b.sz"))
            )
            & (ub >= alpha),
        )
        .select(F.col("a.id").alias("id1"), F.col("b.id").alias("id2"))
        .distinct()
    )
    # exact verification: carry each doc's (distinct) shingle-key set
    # as ONE sorted array per side and intersect in place. The previous
    # plan exploded every candidate against its full shingle sets —
    # candidates x avg-doc-size rows through two joins and a re-count
    # aggregate, the query's dominant stage and its variance source (at
    # sf0.1: ~27M intermediate rows for ~518k candidates). Same bytes,
    # ~|doc| x fewer rows: two equi-joins on id and a codegen
    # array_intersect; no aggregate at all. Per-doc arrays are bounded
    # by document length (8 bytes per distinct shingle) — the same
    # bound the old per-row explode already assumed per key.
    arrs = sh.groupBy("id").agg(
        F.sort_array(F.collect_list("shk")).alias("arr"),
        F.count(F.lit(1)).alias("sz"),
    )
    a1 = arrs.select(
        F.col("id").alias("id1"),
        F.col("arr").alias("arr1"),
        F.col("sz").alias("sz1"),
    )
    a2 = arrs.select(
        F.col("id").alias("id2"),
        F.col("arr").alias("arr2"),
        F.col("sz").alias("sz2"),
    )
    out = (
        cand.join(a1, "id1")
        .join(a2, "id2")
        .withColumn("inter", F.size(F.array_intersect("arr1", "arr2")))
        .withColumn(
            "jaccard",
            F.col("inter") / (F.col("sz1") + F.col("sz2") - F.col("inter")),
        )
        .where(F.col("jaccard") >= threshold)
        .select("id1", "id2", "jaccard")
    )
    # Materialize the pairs NOW, while the shingle cache is alive (the
    # caller unpersists it on return). The result is the above-threshold
    # pair set — orders of magnitude smaller than the shingle table —
    # and localCheckpoint blocks are released by the ContextCleaner when
    # the returned DataFrame is garbage collected, unlike a persist(),
    # which would outlive the caller (ADVICE r7 cache-leak fix).
    try:
        return out.localCheckpoint(eager=True)
    finally:
        prefix.unpersist()


def segment_duplicates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    segment_words: int | None = 20,
    paragraph_regex: str | None = None,
    min_words: int = 1,
) -> DataFrame:
    """Sub-document exact dedup — the RefinedWeb/FineWeb move: boilerplate
    (headers, footers, license blocks) repeats across documents that are
    NOT whole-document duplicates, so dedup at segment granularity.

    Two segmentations:
    - ``segment_words=k`` (default): non-overlapping k-word chunks —
      robust when documents carry no layout structure;
    - ``paragraph_regex``: split the raw text on a separator regex
      (e.g. ``"\\n{2,}"``) — classic paragraph dedup.

    Returns one row per DUPLICATED segment fingerprint: (fingerprint,
    n_copies, n_docs, keep_id) with n_copies > 1 — the removal list a
    pipeline anti-joins against its exploded segments.

    Plan: explode segments → md5 digest (segments themselves never
    shuffle, only 16-byte digests) → one hash aggregate. Identical shape
    to exact dedup, so it scales the same way."""
    if (segment_words is None) == (paragraph_regex is None):
        raise ValueError("pass exactly one of segment_words/paragraph_regex")
    base = _spread(
        df.select(F.col(id_col).alias("id"), F.col(text_col).alias("__t__"))
    )
    if paragraph_regex is not None:
        seg = base.select(
            "id",
            F.explode(F.split(F.col("__t__"), paragraph_regex)).alias("seg"),
        ).select(
            "id",
            F.regexp_replace(F.lower(F.trim(F.col("seg"))), r"\s+", " ").alias(
                "seg"
            ),
        )
        seg = seg.where(
            F.size(F.split(F.col("seg"), " ")) >= min_words
        ).where(F.col("seg") != "")
    else:
        k = int(segment_words)
        toks = base.select("id", tokens(F.lower(F.col("__t__"))).alias("toks"))
        n_blocks = F.ceil(F.size("toks") / F.lit(k)).cast("int")
        # guard: sequence(0, -1) counts DOWN in Spark, so an empty doc
        # would emit two phantom blocks without the when()
        blocks = F.when(
            n_blocks > 0,
            F.transform(
                F.sequence(F.lit(0), n_blocks - 1),
                lambda b: F.concat_ws(" ", F.slice(F.col("toks"), b * k + 1, k)),
            ),
        ).otherwise(F.array().cast("array<string>"))
        seg = (
            toks.select("id", F.explode(blocks).alias("seg"))
            .where(F.col("seg") != "")
            .where(F.size(F.split(F.col("seg"), " ")) >= min_words)
        )
    return (
        seg.select("id", F.md5(F.col("seg")).alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(
            F.count(F.lit(1)).alias("n_copies"),
            F.countDistinct("id").alias("n_docs"),
            F.min("id").alias("keep_id"),
        )
        .where(F.col("n_copies") > 1)
    )


def remove_boilerplate_lines(
    df: DataFrame,
    id_col: str,
    text_col: str,
    min_docs: int = 10,
    out_col: str | None = None,
) -> DataFrame:
    """Corpus-level boilerplate-LINE removal (the RefinedWeb/Dolma pass
    that :func:`segment_duplicates` only REPORTS): any line whose
    normalized form appears in >= ``min_docs`` distinct documents
    (cookie banners, nav menus, subscribe prompts) is deleted from every
    document, and the text is rebuilt with surviving lines in original
    order. Documents whose lines are all boilerplate come back with ''.

    Plan: posexplode lines → one digest-keyed hash aggregate to find the
    boilerplate set (16-byte digests shuffle, line text stays put) →
    LEFT ANTI join of the exploded lines against that set (boilerplate
    relations are tiny — frequency >= min_docs — so AQE broadcasts) →
    per-doc ordered rebuild via collect_list + array_sort, one shuffle
    keyed by doc id. No UDFs.
    """
    out_col = out_col or text_col
    norm = F.regexp_replace(F.lower(F.trim(F.col("line"))), r"\s+", " ")
    lines = df.select(
        F.col(id_col).alias("__id"),
        F.posexplode(F.split(F.col(text_col), r"\n")).alias("pos", "line"),
    ).withColumn("__d", F.md5(norm))
    boiler = (
        lines.where(norm != "")
        .groupBy("__d")
        .agg(F.countDistinct("__id").alias("n_docs"))
        .where(F.col("n_docs") >= min_docs)
        .select("__d")
    )
    kept = lines.join(boiler, "__d", "left_anti")
    rebuilt = kept.groupBy("__id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "line"))),
                lambda s: s["line"],
            ),
            "\n",
        ).alias("__rebuilt")
    )
    return (
        df.join(rebuilt, df[id_col] == rebuilt["__id"], "left")
        .drop("__id")
        .withColumn(out_col, F.coalesce(F.col("__rebuilt"), F.lit("")))
        .drop("__rebuilt")
    )


def winnow_fingerprints(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    w: int = 4,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson & Aiken
    2003, "Winnowing: local algorithms for document fingerprinting" —
    the MOSS selection rule): hash every ``k``-token gram, slide a
    window of ``w`` consecutive gram hashes, and in each window select
    the MINIMUM hash, breaking ties toward the RIGHTMOST occurrence;
    the distinct selections are the document's fingerprint set. The
    paper's guarantee: any shared run of at least ``k + w - 1`` tokens
    between two documents yields at least one shared fingerprint, while
    only ~``2/(w+1)`` of all gram hashes are kept.

    Returns ``(id, pos, fingerprint)`` — ``pos`` is the 1-based token
    index where the selected gram starts, ``fingerprint`` the gram's
    md5-derived 60-bit integer (same construction as the dedup lanes,
    replayable by any engine with md5). A document shorter than
    ``k + w - 1`` tokens but holding at least one gram is treated as a
    single truncated window (so every hashable document gets >= 1
    fingerprint — the coverage guarantee extended to short docs);
    documents with fewer than ``k`` tokens emit nothing.

    Plan at 100 TB: tokenize -> gram-hash array -> window-min selection
    all run as nested higher-order functions INSIDE each document row —
    zero shuffle, zero Python; the only wide operation is whatever the
    consumer does with the exploded (id, pos, fingerprint) rows. The
    HOF selection is O(n·w) per doc vs the paper's O(n) amortized
    deque — at w <= 16 the constant is small and the work stays in the
    scan stage where 100 TB parallelism is free.
    """
    if k < 1 or w < 1:
        raise ValueError(f"k and w must be >= 1, got k={k} w={w}")
    base = _spread(
        df.select(F.col(id_col).alias("id"), F.col(text_col).alias("__t__"))
    )
    toks = base.select("id", tokens(F.lower(F.col("__t__"))).alias("tk"))
    # materialize grams before hashing them (shingles_from_tokens
    # performance contract: lambda-captured inline expressions
    # re-evaluate per element)
    grams = toks.select(
        "id", shingles_from_tokens(F.col("tk"), k).alias("gr")
    )
    hashed = grams.select(
        "id", F.transform(F.col("gr"), _md5_to_long).alias("hs")
    )
    n_h = F.size("hs")
    # >= 1 (truncated) window when any hash exists, else 0
    n_win = F.greatest(n_h - (w - 1), F.least(n_h, F.lit(1)))
    init = F.struct(
        F.lit(0).cast("int").alias("pos"),
        # sentinel above any 60-bit fingerprint, below bigint overflow
        F.lit(1 << 62).cast("bigint").alias("fp"),
    )
    # rightmost-min within window j: fold positions j..j+w-1 left to
    # right, replacing on <= so later equal hashes win (the MOSS rule)
    sel = F.when(
        n_win <= 0, F.array().cast("array<struct<pos:int,fp:bigint>>")
    ).otherwise(
        F.transform(
            F.sequence(F.lit(1), n_win),
            lambda j: F.aggregate(
                F.sequence(j, F.least(j + (w - 1), n_h)),
                init,
                lambda acc, p: F.when(
                    F.element_at(F.col("hs"), p) <= acc["fp"],
                    F.struct(
                        p.cast("int").alias("pos"),
                        F.element_at(F.col("hs"), p).alias("fp"),
                    ),
                ).otherwise(acc),
            ),
        )
    )
    return hashed.select(
        "id", F.explode(F.array_distinct(sel)).alias("s")
    ).select(
        "id",
        F.col("s.pos").alias("pos"),
        F.col("s.fp").alias("fingerprint"),
    )


def winnow_overlap_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    w: int = 4,
    min_shared: int = 1,
    max_df: int | None = None,
) -> DataFrame:
    """MOSS-style overlap detection over winnowed fingerprints: pairs of
    documents sharing at least ``min_shared`` DISTINCT selected
    fingerprints, with the shared count — the plagiarism/boilerplate
    detector that :func:`winnow_fingerprints`' coverage guarantee makes
    sound (any shared run of ``k + w - 1`` tokens is caught).

    ``max_df`` drops fingerprints held by more than that many documents
    before pairing — the standard MOSS "ignore ubiquitous code" step,
    and simultaneously the hot-key guard at scale: a fingerprint shared
    by ``d`` documents emits ``d·(d-1)/2`` pairs, so one boilerplate
    gram without the cap quadratically floods the join.

    Returns ``(id1, id2, n_shared)`` with ``id1 < id2``.

    Plan at 100 TB: fingerprints are ~``2/(w+1)`` of the corpus grams
    and 8 bytes each; the pair join is an equi-join on the fingerprint
    key (never a cross join), the document-frequency cap is one
    map-side-combined aggregate, and the pair count aggregate combines
    partially. Production pipelines should PERSIST the distinct
    (id, fingerprint) relation and reuse it for both sides (the
    archive-table pattern of the ingest screens); expressed inline here
    the two sides re-derive it, which AQE may or may not dedupe."""
    if min_shared < 1:
        raise ValueError(f"min_shared must be >= 1, got {min_shared}")
    if max_df is not None and max_df < 2:
        raise ValueError(f"max_df must be >= 2 to admit any pair, got {max_df}")
    # NOT persisted, deliberately: an inline persist + eager checkpoint
    # of the fingerprint relation was tried and MEASURED SLOWER at
    # sf0.1 (2.09 s vs 1.63 s min-of-3) — the duplicated selection is
    # cheap scan-stage work that pipelines across both join subtrees,
    # while persist serializes materialize-then-join. The way to pay
    # the selection once at scale is the ARCHIVE-TABLE pattern
    # (persist the distinct relation to storage and use
    # winnow_incremental's seen_distinct contract), not an in-query
    # cache.
    fp = (
        winnow_fingerprints(df, id_col, text_col, k, w)
        .select("id", "fingerprint")
        .distinct()
    )
    if max_df is not None:
        keep = (
            fp.groupBy("fingerprint")
            .agg(F.count(F.lit(1)).alias("__df__"))
            .where(F.col("__df__") <= max_df)
            .select("fingerprint")
        )
        fp = fp.join(keep, "fingerprint")
    a = fp.select(F.col("id").alias("id1"), "fingerprint")
    b = fp.select(F.col("id").alias("id2"), "fingerprint")
    return (
        a.join(b, "fingerprint")
        .where(F.col("id1") < F.col("id2"))
        .groupBy("id1", "id2")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .where(F.col("n_shared") >= min_shared)
    )


def levenshtein_verify(
    pairs: DataFrame,
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    id1_col: str = "id1",
    id2_col: str = "id2",
    threshold: float = 0.8,
    max_chars: int | None = None,
) -> DataFrame:
    """EXACT edit-distance verification of candidate near-dup pairs —
    the standard final stage after any screen in this module (winnow /
    MinHash / SimHash / shared-key candidates are gram- or
    sketch-based; character-level Levenshtein similarity is the exact
    measure a removal decision wants): ``sim = 1 − lev(a, b) /
    max(|a|, |b|)``, keep ``sim >= threshold``. Two identical empty
    texts define ``sim = 1``.

    Returns ``(id1, id2, lev, sim)`` for surviving pairs, ``lev`` the
    exact distance (bigint) and ``sim`` rounded to 6 decimals (repo
    convention). Pure JVM ``F.levenshtein`` — the O(|a|·|b|) dynamic
    program runs codegen'd in the executor, no Python; ``max_chars``
    truncates both sides first when pair texts can be long (the cost
    cap a production verify stage sets — document-level near-dups
    rarely need more than a few thousand chars to decide).

    Plan at 100 TB: the candidate pair set is SCREEN OUTPUT — orders of
    magnitude smaller than the corpus — so the two joins that attach
    texts read only the paired documents (broadcast when the pair set
    is small, shuffle-hash otherwise via AQE); the corpus is never
    scanned quadratically. Levenshtein is codepoint-based here; note
    for oracle writers: DuckDB's ``levenshtein`` is byte-based, so
    cross-engine replay is exact only for ASCII text."""
    if not 0 <= threshold <= 1:
        raise ValueError(f"threshold must be in [0, 1], got {threshold}")
    if max_chars is not None and max_chars < 1:
        raise ValueError(f"max_chars must be >= 1, got {max_chars}")
    t = F.col("__t__")
    if max_chars is not None:
        t = F.substring(t, 1, max_chars)
    d1 = docs.select(
        F.col(id_col).alias(id1_col), F.col(text_col).alias("__t__")
    ).select(id1_col, t.alias("__t1__"))
    d2 = docs.select(
        F.col(id_col).alias(id2_col), F.col(text_col).alias("__t__")
    ).select(id2_col, t.alias("__t2__"))
    lev = F.levenshtein(F.col("__t1__"), F.col("__t2__"))
    mx = F.greatest(F.length("__t1__"), F.length("__t2__"))
    sim = F.round(
        F.when(mx == 0, F.lit(1.0)).otherwise(
            F.lit(1.0) - lev.cast("double") / mx.cast("double")
        ),
        6,
    )
    return (
        pairs.select(id1_col, id2_col)
        .join(d1, id1_col)
        .join(d2, id2_col)
        .select(
            id1_col,
            id2_col,
            lev.cast("bigint").alias("lev"),
            sim.alias("sim"),
        )
        .where(F.col("sim") >= threshold)
    )


def dedup_lines_global(
    df: DataFrame,
    id_col: str,
    text_col: str,
    out_col: str | None = None,
) -> DataFrame:
    """Corpus-global exact LINE dedup with keep-first — the C4 paper's
    span-dedup policy ("we discard all but one of any three-sentence
    span occurring more than once in the data set") at line
    granularity, as Dolma/RefinedWeb apply it: every normalized
    non-empty line that occurs more than once corpus-wide survives only
    at its FIRST occurrence (minimal ``(id, line_index)``); all later
    occurrences are deleted and each document is rebuilt from its
    surviving lines in original order and casing. Blank /
    whitespace-only lines always survive — they are document structure,
    not duplicated content. Complements
    :func:`remove_boilerplate_lines`, which deletes high-frequency
    lines EVERYWHERE (a different policy: boilerplate has no canonical
    holder).

    Plan at 100 TB: posexplode lines -> ONE digest-keyed hash aggregate
    computing min(struct(id, pos)) per normalized-line digest (16-byte
    digests shuffle, line text stays in its scan partition; min-struct
    combines map-side) -> equi-join the exploded lines back on digest
    to test "am I the first" -> per-doc ordered rebuild via
    collect_list + array_sort, one shuffle keyed by doc id. No UDFs,
    no window over the digest key (a window would carry every line row
    through the exchange with no partial aggregation)."""
    out_col = out_col or text_col
    lines = df.select(
        F.col(id_col).alias("__id"),
        F.posexplode(F.split(F.col(text_col), r"\n")).alias("pos", "line"),
    )
    norm = F.regexp_replace(F.lower(F.trim(F.col("line"))), r"\s+", " ")
    content = lines.where(F.trim(F.col("line")) != "").withColumn(
        "__d", F.md5(norm)
    )
    firsts = content.groupBy("__d").agg(
        F.min(F.struct(F.col("__id"), F.col("pos"))).alias("__first")
    )
    kept_content = (
        content.join(firsts, "__d")
        .where(
            (F.col("__first.__id") == F.col("__id"))
            & (F.col("__first.pos") == F.col("pos"))
        )
        .select("__id", "pos", "line")
    )
    kept = kept_content.unionAll(
        lines.where(F.trim(F.col("line")) == "").select(
            "__id", "pos", "line"
        )
    )
    rebuilt = kept.groupBy("__id").agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(F.col("pos"), F.col("line")))
                ),
                lambda s: s["line"],
            ),
            "\n",
        ).alias("__out")
    )
    base = df.join(
        rebuilt, df[id_col] == rebuilt["__id"], "left"
    ).drop("__id")
    cols = [
        F.coalesce(F.col("__out"), F.lit("")).alias(out_col)
        if c == out_col
        else F.col(c)
        for c in df.columns
    ]
    if out_col not in df.columns:
        cols.append(F.coalesce(F.col("__out"), F.lit("")).alias(out_col))
    return base.select(*cols)


def decontaminate(
    df: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_text_col: str = "text",
    n: int = 8,
) -> DataFrame:
    """Benchmark decontamination (the GPT-3 appendix-C / open-eval
    hygiene step): flag training documents sharing any word ``n``-gram
    with an evaluation set, so eval answers don't leak into training.

    Returns (id, n_shared) for CONTAMINATED documents only — the list a
    pipeline anti-joins away. n_shared = number of distinct offending
    shingles in the document.

    The batch lane IS the fold of its stream twin: the ``(id, shk)`` hits
    of :func:`stream_contamination_screen` against
    :func:`benchmark_digests`, counted per id. Benchmark shingles reduce
    to DISTINCT digests (the benchmark is eval-sized — thousands of rows
    — so its digest set broadcasts); the corpus side explodes distinct
    shingle digests once and inner-joins. The join is digest-on-digest:
    document text never shuffles. At 100 TB the corpus side is a scan +
    explode + broadcast-hash-join — no exchange until the per-id count
    (AQE broadcasts the benchmark side)."""
    return (
        stream_contamination_screen(
            df,
            benchmark_digests(benchmark, bench_text_col, n),
            id_col,
            text_col,
            n,
        )
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )


def winnow_incremental(
    df_new: DataFrame,
    seen_fingerprints: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    w: int = 4,
    min_shared: int = 1,
    max_df: int | None = None,
    seen_distinct: bool = False,
) -> DataFrame:
    """Winnowed-overlap screen of a new batch against the PERSISTED
    archive fingerprint table — :func:`winnow_overlap_pairs` restricted
    to strictly NEW x SEEN, completing the ingest-screen matrix's
    winnowing lane: ``seen_fingerprints`` is the archive's stored
    ``(id, fingerprint)`` relation (what :func:`winnow_fingerprints`
    emits, minus ``pos``), so archive text is never re-tokenized; only
    the new batch runs the zero-shuffle HOF selection.

    Deliberately a NAMED COMPOSITION of two already-gated operators —
    the selection (:func:`winnow_fingerprints`) and the generic
    new-x-seen set-overlap screen (:func:`shared_key_incremental`,
    whose union-frequency ``max_key_freq`` guard doubles as the MOSS
    ubiquity cap here). Returns ``(new_id, seen_id, n_shared)``.
    ``k``/``w`` MUST match the run that built the archive table —
    winnowed fingerprints only align within one (k, w) family.

    ``seen_distinct=True`` declares the archive table is ALREADY
    distinct on (id, fingerprint) — deduplicate once at write time
    (the raw :func:`winnow_fingerprints` output can repeat a
    fingerprint across positions of one doc) and the per-ingest
    archive-side distinct exchange disappears (probe 23)."""
    new_fp = winnow_fingerprints(df_new, id_col, text_col, k, w).select(
        "id", "fingerprint"
    )
    return shared_key_incremental(
        new_fp,
        seen_fingerprints.select("id", "fingerprint"),
        id_col="id",
        key_col="fingerprint",
        min_shared=min_shared,
        max_key_freq=max_df,
        seen_distinct=seen_distinct,
    )


def stream_winnow_screen(
    stream: DataFrame,
    seen_fingerprints: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    w: int = 4,
    seen_distinct: bool = False,
) -> DataFrame:
    """Streaming twin of :func:`winnow_incremental`: the winnowed
    ingest screen applied ONLINE as documents land, completely
    STATELESS — the whole selection (:func:`winnow_fingerprints`) is
    narrow per-row HOF work, so it composes onto a stream unchanged,
    and the archive join is a stream-static equi-join on the persisted
    ``(id, fingerprint)`` table. Zero watermark, zero state store.

    Emits ``(new_id, seen_id, fingerprint)`` — one row per matching
    (selection, archive row); a fingerprint selected at several
    positions of one streamed doc emits once per position (a streaming
    ``distinct`` would be stateful). ``SELECT DISTINCT`` of the landed
    table grouped by pair therefore equals the batch
    :func:`winnow_incremental` ``(new_id, seen_id, n_shared)``
    bit-for-bit (pinned by test) — the same landed-table convention as
    ``stream_minhash_screen``. ``seen_distinct`` is the same caller
    contract as the batch lane; ``k``/``w`` MUST match the archive
    build."""
    new_fp = winnow_fingerprints(stream, id_col, text_col, k, w).select(
        F.col("id").alias("new_id"), "fingerprint"
    )
    seen = seen_fingerprints.select(
        F.col("id").alias("seen_id"), "fingerprint"
    )
    if not seen_distinct:
        seen = seen.distinct()
    return new_fp.join(seen, "fingerprint").select(
        "new_id", "seen_id", "fingerprint"
    )


def contamination_attribution(
    df: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_id_col: str = "doc_id",
    bench_text_col: str = "text",
    n: int = 8,
) -> DataFrame:
    """Per-pair refinement of :func:`decontaminate`: WHICH evaluation
    document leaked into which training document — ``(id, bench_id,
    n_shared)`` over distinct offending word-``n``-gram digests, the
    relation an eval-hygiene audit actually files (decontaminate's
    per-doc count says a doc is dirty; this says against what, so the
    benchmark owner can rule out false positives like famous quotes).

    Another named composition: both sides reduce to distinct
    ``(id, digest)`` rows and flow through
    :func:`shared_key_incremental` (new = training corpus, seen =
    benchmark). Same 100 TB shape as decontaminate — digests join,
    text never shuffles, benchmark side broadcast-sized."""
    return shared_key_incremental(
        _shingle_keys(df, id_col, text_col, n),
        _shingle_keys(benchmark, bench_id_col, bench_text_col, n),
        id_col="id",
        key_col="shk",
        min_shared=1,
    ).select(
        F.col("new_id").alias("id"),
        F.col("seen_id").alias("bench_id"),
        "n_shared",
    )


def benchmark_digests(
    benchmark: DataFrame,
    text_col: str = "text",
    n: int = 8,
) -> DataFrame:
    """Distinct word-``n``-gram shingle digests of an evaluation set —
    the static relation BOTH decontamination lanes join against:
    :func:`decontaminate` and :func:`contamination_ratio` build it per
    call; a continuous-ingest pipeline PERSISTS it once (it is
    eval-sized and changes only when the benchmark suite does) and hands
    the loaded table to :func:`stream_contamination_screen`. One column
    ``shk`` (the
    md5-derived 60-bit digest; text never leaves this builder)."""
    return (
        _spread(benchmark.select(F.col(text_col).alias("__t__")))
        .select(tokens(F.lower(F.col("__t__"))).alias("toks"))
        .select(
            F.explode(
                F.array_distinct(shingles_from_tokens(F.col("toks"), n))
            ).alias("sh")
        )
        .select(_md5_to_long(F.col("sh")).alias("shk"))
        .distinct()
    )


def stream_contamination_screen(
    stream: DataFrame,
    bench_keys: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
) -> DataFrame:
    """Streaming twin of :func:`decontaminate` (the GPT-3 appendix-C
    hygiene step applied ONLINE as documents land): completely STATELESS
    — the shared ``(id, shk)`` shingle relation (:func:`_shingle_keys`,
    a narrow per-row explode, no stateful aggregate) inner
    stream-static joined against the persisted benchmark digest table
    (``bench_keys`` from :func:`benchmark_digests` — eval-sized, so the
    per-micro-batch join broadcasts). The same body runs on a batch
    frame: :func:`decontaminate` is its per-id count.

    Emits one ``(id, shk)`` row per offending distinct shingle; rows
    within a document are unique by construction (the shingles are
    distinct per document), so ``SELECT id, count(*) FROM drained GROUP
    BY id`` equals the batch :func:`decontaminate` ``(id, n_shared)``
    bit-for-bit (pinned by test) — the same landed-table aggregation
    convention as ``stream_minhash_screen``. Documents sharing nothing
    emit nothing; docs with fewer than ``n`` tokens emit nothing (the
    batch contract). Zero watermark, zero state store: safe at any
    ingest rate."""
    return (
        _shingle_keys(stream, id_col, text_col, n)
        .join(F.broadcast(bench_keys), "shk")
        .select("id", "shk")
    )


def shared_key_incremental(
    new_keys: DataFrame,
    seen_keys: DataFrame,
    min_shared: int,
    id_col: str = "id",
    key_col: str = "key",
    max_key_freq: int | None = None,
    seen_distinct: bool = False,
) -> DataFrame:
    """New-vs-seen set-overlap screen (r12) — :func:`shared_key_pairs`
    restricted to strictly NEW x SEEN candidates: the ingest twin for
    any fingerprint-set signature (audio spectral landmarks, video
    frame hashes). ``seen_keys`` is the archive's persisted
    ``(id, key)`` fingerprint table — the archive media is never
    re-decoded; only the new batch extracts fingerprints, and the join
    carries keys, not payloads.

    ``max_key_freq`` is the same degenerate-key guard as the batch
    lane, applied to the UNION frequency (a key every archive item
    carries is as quadratic for the screen as for the self-join).
    Returns ``(new_id, seen_id, n_shared >= min_shared)``; overlap
    counts are exact per surviving key, like the batch lane.

    ``seen_distinct``: the archive side is deduplicated per ingest by
    default, which is one archive-METADATA exchange per increment; a
    production loop that persists the archive relation DISTINCT on
    ``(id, key)`` (deduplicate ONCE at write time — e.g.
    :func:`winnow_fingerprints` can repeat a fingerprint across
    positions of one doc) passes ``seen_distinct=True`` and the screen
    skips that exchange entirely — with a non-distinct table this would
    inflate ``n_shared``, so the flag is an explicit caller contract,
    not a sniffed property.
    Identical results when the contract holds (pinned by test)."""
    if min_shared < 1:
        raise ValueError(f"min_shared must be >= 1, got {min_shared}")
    a = new_keys.select(
        F.col(id_col).alias("new_id"), F.col(key_col).alias("key")
    ).distinct()
    b = seen_keys.select(
        F.col(id_col).alias("seen_id"), F.col(key_col).alias("key")
    )
    if not seen_distinct:
        b = b.distinct()
    if max_key_freq is not None:
        hot = (
            a.select("key")
            .unionAll(b.select("key"))
            .groupBy("key")
            .agg(F.count(F.lit(1)).alias("__n"))
            .where(F.col("__n") > max_key_freq)
            .select("key")
        )
        a = a.join(hot, "key", "left_anti")
        b = b.join(hot, "key", "left_anti")
    return (
        a.join(b, "key")
        .groupBy("new_id", "seen_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .where(F.col("n_shared") >= min_shared)
    )


# The MinHash family. Each decision has one definition here, written as
# SQL text that the server parses: building the same expressions from
# Column objects costs ~8-10 py4j round trips per hash function or band
# (~0.7 s per query construction at the default 64 hashes, measured at
# sf0.1), while one F.expr costs a few sends at any size.


def _minhash_coeffs(num_hashes: int, seed: int) -> list[tuple[int, int]]:
    """(a, b) per hash function of the seeded universal-hash family
    h(x) = (a·x + b) mod p — seeded literals, so runs are reproducible."""
    rnd = random.Random(seed)
    return [
        (rnd.randrange(1, _P), rnd.randrange(0, _P))
        for _ in range(num_hashes)
    ]


def _minhash_sql(a: int, b: int, x: str) -> str:
    """SQL: h(x) for one (a, b) pair; pmod keeps it in [0, p)."""
    return f"pmod({a}L * {x} + {b}L, {_P}L)"


def _minhash_hash_cols(num_hashes: int, seed: int):
    """(aggregate Columns h0..h{n-1}, array(h0..h{n-1}) Column) for the
    batch signature: one ``min`` aggregate per hash over the exploded
    digests ``x``. Per-column exprs, not one array expr: a single
    ``array(min(..), ..)`` aggregate was ~6x faster to build but ~18x
    slower to EXECUTE — it falls off the codegen hash-aggregate path."""
    cols = [
        F.expr(f"min({_minhash_sql(a, b, 'x')}) AS h{i}")
        for i, (a, b) in enumerate(_minhash_coeffs(num_hashes, seed))
    ]
    arr = F.expr(
        "array(" + ",".join(f"h{i}" for i in range(num_hashes)) + ")"
    )
    return cols, arr


def _minhash_row_signature(xs: str, num_hashes: int, seed: int) -> str:
    """SQL: the per-row signature the streaming screens use, over the
    materialized shingle-digest array column ``xs`` — one
    ``array_min(transform(...))`` per hash function. The batch lane's
    explode + groupBy signature is ~10x faster under codegen (see
    :func:`minhash_signatures`), but on a stream that groupBy(id) would
    be a stateful aggregate holding every doc id forever."""
    return "array(" + ", ".join(
        f"array_min(transform({xs}, x -> {_minhash_sql(a, b, 'x')}))"
        for a, b in _minhash_coeffs(num_hashes, seed)
    ) + ")"


def _shingle_digests(toks, n: int):
    """Distinct shingle digests in [0, p) of a materialized token array
    column — the streaming screens' per-row hash input."""
    return F.transform(
        F.array_distinct(shingles_from_tokens(toks, n)),
        lambda s: F.pmod(_md5_to_long(s), F.lit(_P)),
    )


def _band_bucket_sql(sig: str, bi: int, rows_per_band: int) -> str:
    """SQL: band ``bi``'s bucket key of signature column ``sig`` — the
    md5 of the comma-joined band slice: engine-independent
    (reproducible in the DuckDB oracle), unlike Spark's private
    hash()."""
    return (
        "md5(concat_ws(',', transform("
        f"slice({sig}, {bi * rows_per_band + 1}, {rows_per_band}),"
        " h -> CAST(h AS STRING))))"
    )


def _agreement_sql(sig1: str, sig2: str, num_hashes: int) -> str:
    """SQL: the MinHash Jaccard estimate, the share of equal signature
    slots. The divisor is a DOUBLE literal (``64.0D``): a bare ``64.0``
    parses as DECIMAL."""
    return (
        f"size(filter(zip_with({sig1}, {sig2}, (x, y) -> x = y), "
        f"eq -> eq)) / {float(num_hashes)!r}D"
    )


def minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_hashes: int = 64,
    seed: int = 42,
) -> DataFrame:
    """MinHash signature per document: h_i(s) = (a_i·x + b_i) mod p over the
    shingle digests x, min-reduced per hash function.

    Plan: explode distinct shingles -> hash-digest -> groupBy(id) with
    num_hashes min-aggregates in ONE codegen'd hash aggregate (map-side
    partials, so the exchange carries one partial signature per doc per
    partition, not the shingles). A zero-shuffle nested-HOF variant
    (transform over literal coeffs + array_min) was tried and is ~10x
    SLOWER: Catalyst's project-collapsing inlines the md5 digest chain
    into every outer lambda and nested HOFs evaluate interpreted, outside
    codegen. Coefficients are seeded literals so runs are reproducible."""
    # keyed spread (r13): the 64-min aggregate below groups by id, so
    # hash-partitioning by id makes it ONE Complete aggregate reusing
    # this exchange — no partial/final split, no second exchange, and
    # no round-robin sort-before-repartition. Measured at sf0.1:
    # 1.57 s -> 1.07 s for the identical signature table (guide §2.4).
    sh = _shingle_keys(df, id_col, text_col, n, key="id").select(
        "id", F.pmod(F.col("shk"), F.lit(_P)).alias("x")
    )
    hash_cols, sig_array = _minhash_hash_cols(num_hashes, seed)
    agg = sh.groupBy("id").agg(*hash_cols)
    return agg.select("id", sig_array.alias("signature"))


def _bucket_cap(banded: DataFrame, key_cols: list[str], cap: int):
    """Skew guard shared by the banded LSH lanes: split a banded relation
    into (rows in buckets <= cap, star pairs for oversized buckets). The
    star pattern — bucket-min id paired with every other member — keeps
    oversized buckets LINEAR instead of quadratic. For a
    connected-components consumer this is lossless WHEN the hub (bucket
    min) verifies against the members — the typical oversized bucket is a
    near-identical family where it does (asserted in tests). A bucket
    whose hub fails downstream verification can lose member-member pairs
    the all-pairs join would have kept: the documented recall/cost trade
    of any hub-based capping; keep the cap comfortably above typical
    family sizes if pairwise recall inside mega-buckets matters."""
    wb = Window.partitionBy(*key_cols)
    sized = banded.withColumn("__n", F.count(F.lit(1)).over(wb)).withColumn(
        "__m", F.min("id").over(wb)
    )
    star = (
        sized.where((F.col("__n") > cap) & (F.col("id") != F.col("__m")))
        .select(F.col("__m").alias("id1"), F.col("id").alias("id2"))
        .distinct()
    )
    small = sized.where(F.col("__n") <= cap).drop("__n", "__m")
    return small, star


def _band_explode(sig: str, bands: int, rows_per_band: int):
    """``explode(array(struct(band, bucket)...))`` Column over signature
    column ``sig``, one struct per band."""
    parts = ",".join(
        f"struct({bi} AS band, "
        f"{_band_bucket_sql(sig, bi, rows_per_band)} AS bucket)"
        for bi in range(bands)
    )
    return F.expr(f"explode(array({parts}))")


def _rows_per_band(num_hashes: int, bands: int) -> int:
    """Signature slots per band; ``bands`` must divide ``num_hashes``,
    or the last ``num_hashes % bands`` slots would never be banded."""
    if num_hashes % bands:
        raise ValueError(
            f"bands ({bands}) must divide num_hashes ({num_hashes})"
        )
    return num_hashes // bands


def _band_signatures(
    signatures: DataFrame, bands: int, rows_per_band: int
) -> DataFrame:
    """(id, signature, band, bucket) rows from a signature table, one
    per band. The signature rides along, so a consumer that needs it
    does not join it back by id; one that does not gets it pruned by
    the optimizer."""
    return signatures.select(
        "id", "signature",
        _band_explode("signature", bands, rows_per_band).alias("bb"),
    ).select("id", "signature", "bb.band", "bb.bucket")


def _banded_minhash(
    sigs: DataFrame,
    seen: DataFrame | None,
    num_hashes: int,
    bands: int,
    threshold: float,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """The banded MinHash join behind the batch near-dup and ingest
    lanes: band each ``(id, signature)`` row, equi-join on (band,
    bucket), keep the distinct candidate pairs, join both signatures
    back and keep the pairs whose agreement estimate reaches
    ``threshold``. With ``seen=None`` it is the self-join of ``sigs``
    (``id1 < id2``), returning (id1, id2, est_jaccard); otherwise
    strictly ``sigs`` x ``seen``, returning (new_id, seen_id,
    est_jaccard) with the estimate rounded to 6 decimals.

    ``max_bucket_size`` (self-join only) is the bucket-skew guard of
    :func:`_bucket_cap`: all-pairs inside a bucket is quadratic, and
    real corpora have huge buckets (boilerplate families, mirrors; a
    10x corpus where every doc has 9 near-twins took the verification
    join from 9 s to 117 s). Oversized buckets emit star pairs, which
    are verified like any other candidate. Lazy: nothing is persisted
    or materialized here."""
    rows_per_band = _rows_per_band(num_hashes, bands)
    est = _agreement_sql("sig1", "sig2", num_hashes)
    a = _band_signatures(sigs, bands, rows_per_band)
    on = "a.band = b.band AND a.bucket = b.bucket"
    star = None
    if seen is None:
        n1, n2 = "id1", "id2"
        if max_bucket_size is not None:
            a, star = _bucket_cap(a, ["band", "bucket"], max_bucket_size)
        # a self-join: both signatures are joined back from sigs
        b, seen = a, sigs
        on += " AND a.id < b.id"
    else:
        n1, n2 = "new_id", "seen_id"
        est = f"round({est}, 6)"
        b = _band_signatures(seen, bands, rows_per_band)
    cands = (
        a.alias("a").join(b.alias("b"), F.expr(on))
        .selectExpr(f"a.id AS {n1}", f"b.id AS {n2}")
        .distinct()
    )
    if star is not None:
        cands = cands.union(star).distinct()
    return (
        cands.join(sigs.selectExpr(f"id AS {n1}", "signature AS sig1"), n1)
        .join(seen.selectExpr(f"id AS {n2}", "signature AS sig2"), n2)
        .selectExpr(n1, n2, f"{est} AS est_jaccard")
        .where(f"est_jaccard >= {float(threshold)!r}D")
    )


def connected_components(
    pairs: DataFrame,
    id1: str = "id1",
    id2: str = "id2",
    max_iterations: int = 50,
) -> DataFrame:
    """Connected components over a near-duplicate pair graph — the cluster
    step that turns pairwise matches into canonical-document groups.
    Returns (id, comp) where comp is the minimum id of id's component;
    a node whose only pair is a self-loop labels itself.

    Plan: two-phase large-star/small-star (Kiveris et al. 2014,
    "Connected Components in MapReduce and Beyond"), O(log n) rounds on
    any graph shape, so a long near-duplicate chain costs a few rounds
    rather than one per hop. The edge set starts as the distinct pairs
    in both orientations; each round is two groupBy+join phases, both
    keyed by node id:

    - large-star: orient every edge both ways; per node u with neighborhood
      Γ(u), m = min(Γ(u) ∪ {u}); emit (v, m) for every v ∈ Γ(u), v > u.
    - small-star: orient each edge toward its larger endpoint; per node u,
      m = min(Γ(u) ∪ {u}); emit (v, m) for v ∈ Γ(u) ∪ {u}.

    Both phases preserve connectivity and only ever decrease the partner
    of a node, so the edge set converges to stars (member -> component
    min). Each round's edges are ``localCheckpoint``-ed: persist()
    truncates execution but NOT the logical plan, so without the
    checkpoint the self-referencing rounds grow the analyzed plan every
    iteration — a driver OOM long before the data is the problem. If the
    edge set is still changing after ``max_iterations`` rounds it raises
    rather than returning wrong labels."""
    edges = pairs.select(F.col(id1).alias("a"), F.col(id2).alias("b"))
    # one eager checkpoint of the input: the node list below reads it
    # too, so the returned plan never re-runs the (often lazy) pair plan
    edges = edges.union(edges.select("b", "a")).distinct().localCheckpoint(
        eager=True
    )
    # every input node gets a label, including nodes whose only pair is a
    # self-loop (the a != b edge filter below drops those pairs)
    all_nodes = edges.select(F.col("a").alias("id")).distinct()
    E = edges.where(F.col("a") != F.col("b"))
    n_prev = E.count()  # a filtered scan of the checkpoint, no shuffle
    for _ in range(max_iterations):
        # large-star
        bid = E.union(E.select(F.col("b").alias("a"), F.col("a").alias("b")))
        mins = (
            bid.groupBy("a")
            .agg(F.min("b").alias("mb"))
            .select("a", F.least(F.col("a"), F.col("mb")).alias("m"))
        )
        E_ls = (
            bid.join(mins, "a")
            .where(F.col("b") > F.col("a"))
            .select(F.col("b").alias("a"), F.col("m").alias("b"))
            .where(F.col("a") != F.col("b"))
            .distinct()
        )
        # small-star
        dir_ = E_ls.select(
            F.greatest("a", "b").alias("a"), F.least("a", "b").alias("b")
        )
        mins2 = dir_.groupBy("a").agg(F.min("b").alias("m"))
        E_ss = (
            dir_.join(mins2, "a")
            .select(F.col("b").alias("a"), F.col("m").alias("b"))
            .union(mins2.select(F.col("a"), F.col("m").alias("b")))
            .where(F.col("a") != F.col("b"))
            .distinct()
            .localCheckpoint(eager=True)
        )
        # converged when the (distinct) edge set is unchanged. Both sides
        # are distinct sets, so equal cardinality + an empty ONE-sided
        # difference implies set equality — one cheap count per round
        # (both relations are checkpointed), and the anti-join job only
        # runs in rounds where the counts already match.
        n_ss = E_ss.count()
        converged = n_ss == n_prev and (
            E_ss.join(E, ["a", "b"], "left_anti").limit(1).count() == 0
        )
        E, n_prev = E_ss, n_ss
        if converged:
            break
    else:
        raise RuntimeError(
            "connected_components did not converge in "
            f"{max_iterations} rounds — raise max_iterations (convergence "
            "is O(log n) rounds, so this indicates a pathological input)"
        )
    # E is now a star forest: (member, root). Roots label themselves;
    # isolated nodes (self-loop-only input pairs) label themselves too.
    labeled = (
        E.select(F.col("a").alias("id"), F.col("b").alias("comp"))
        .union(
            E.select(F.col("b").alias("id"), F.col("b").alias("comp"))
        )
        .distinct()
    )
    isolated = all_nodes.join(labeled.select("id"), "id", "left_anti").select(
        "id", F.col("id").alias("comp")
    )
    return labeled.union(isolated)


def dedup_clusters(
    pairs: DataFrame, id1: str = "id1", id2: str = "id2"
) -> DataFrame:
    """Cluster summary over near-duplicate pairs: one row per component
    with the canonical (minimum) id and member count — what a training
    pipeline keeps after MinHash/SimHash matching. Components come from
    :func:`connected_components`, so a chained cluster costs O(log n)
    rounds, not one per hop."""
    comp = connected_components(pairs, id1, id2)
    return comp.groupBy(F.col("comp").alias("keep_id")).agg(
        F.count(F.lit(1)).alias("n_members")
    )


def minhash_near_duplicates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.5,
    seed: int = 42,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Full MinHash+LSH pipeline: signatures → banded candidates → estimated
    Jaccard (signature agreement) filter. Returns (id1, id2, est_jaccard).

    ``max_bucket_size``: pass a cap (e.g. 50) on dup-heavy corpora — see
    :func:`_banded_minhash`; keeps the candidate set linear in bucket
    size while staying lossless for the clustering consumer (connected
    components recovers the family from the star edges). The default
    (None) keeps exact all-pairs semantics."""
    # persist: the signature table feeds candidate generation AND both sides
    # of the verification join — without it the shingle explode + 64-way
    # min-aggregate recomputes 4×. (At cluster scale you'd write signatures
    # to a table instead.)
    sigs = minhash_signatures(df, id_col, text_col, n, num_hashes, seed).persist()
    try:
        # release the corpus-sized signature cache after materializing
        # the (small) pair set — PPJoin unpersist contract (ADVICE r7)
        return _banded_minhash(
            sigs, None, num_hashes, bands, threshold, max_bucket_size
        ).localCheckpoint(eager=True)
    finally:
        sigs.unpersist()


def minhash_incremental(
    df_new: DataFrame,
    seen_signatures: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.5,
    seed: int = 42,
    new_signatures: DataFrame | None = None,
) -> DataFrame:
    """NEAR-dup screen of a new batch against the persisted signature
    table of the already-ingested corpus — :func:`dedup_against` raised
    from exact to MinHash granularity, the check every ongoing corpus
    build runs per increment (v_n's fresh crawl vs v_{n-1}'s archive).

    ``seen_signatures`` is what :func:`minhash_signatures` emits
    (id, signature) — at scale a write-once table maintained corpus-side,
    so the 100-TB archive text is NEVER rescanned: only the new batch is
    tokenized, and the join carries band buckets (32-char md5 + ids),
    not documents. Candidate pairs are strictly new x seen (no new x new
    — compose with minhash_near_duplicates for within-batch dups).
    Returns (new_id, seen_id, est_jaccard >= threshold), est from
    signature agreement like the batch lane. Seed/n/num_hashes/bands
    MUST match the run that built ``seen_signatures`` — minhash
    estimates are only meaningful within one hash family.

    ``new_signatures`` (r13, guide §2.6): pass the NEW batch's already-
    materialized signature table (:func:`minhash_signatures` over
    ``df_new`` with the SAME family params) to skip the inline build —
    callers can then compute the new-batch and archive signature tables
    as overlapping jobs instead of serially inside this screen.
    Identical results either way (the screen derives everything from
    the signatures); ``df_new`` is unused when it is given.
    """
    if new_signatures is not None:
        # With BOTH signature tables caller-materialized there is no
        # cache to release, so an eager checkpoint here would only pay
        # an extra serial driver action at construction time. Returning the lazy plan lets the
        # consumer's single action run the band join, where the
        # scheduler overlaps it with the caller's sibling lanes
        # (ingest_screen / ingest_screen_multimodal). Same computation,
        # same rows.
        return _banded_minhash(
            new_signatures, seen_signatures, num_hashes, bands, threshold
        )
    sigs_new = minhash_signatures(
        df_new, id_col, text_col, n, num_hashes, seed
    ).persist()
    try:
        # release the batch-sized signature cache after materializing the
        # (small) match set — PPJoin unpersist contract (ADVICE r7).
        # seen_signatures is caller-owned and untouched.
        return _banded_minhash(
            sigs_new, seen_signatures, num_hashes, bands, threshold
        ).localCheckpoint(eager=True)
    finally:
        sigs_new.unpersist()


def stream_minhash_screen(
    stream: DataFrame,
    seen_signatures: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.5,
    seed: int = 42,
) -> DataFrame:
    """Streaming twin of :func:`minhash_incremental` (r12): the MinHash
    ingest screen applied ONLINE as documents land, completely
    STATELESS (append mode, no watermark, no state store).

    Design inversions vs the batch lane, both deliberate:

    - signatures compute PER ROW via the nested-HOF lane
      (``array_min(transform(...))`` over a materialized shingle-digest
      array) instead of explode + groupBy min-aggregates — the batch
      docstring records the HOF lane as ~10x slower under codegen, but
      a streaming groupBy(id) would be a STATEFUL aggregate holding
      every doc id in the state store forever; per-micro-batch row
      counts make the interpreted-HOF cost the right trade, and the
      shingle-digest array is materialized first so the md5 chain is
      not re-inlined into all ``num_hashes`` lambdas (the repo's
      measured-pitfalls contract);
    - emitted match pairs may repeat once per AGREEING BAND (a
      streaming ``distinct`` would be stateful): pair identity and
      ``est_jaccard`` are deterministic, so consumers dedupe on the
      landed table — the same convention as ``streaming_dedup``'s
      deterministic key-set contract.

    ``seen_signatures`` is the archive's persisted (id, signature)
    table; it is banded with its signature carried along (no join back
    by id), and that banding + the stream-static join run per
    micro-batch.
    Returns ``(new_id, seen_id, est_jaccard >= threshold)`` rows, at
    least one per matching pair; ``SELECT DISTINCT`` of the drained
    table equals the batch :func:`minhash_incremental` pair set
    (pinned by test). Docs with fewer than ``n`` tokens emit nothing —
    the batch contract."""
    rows_per_band = _rows_per_band(num_hashes, bands)
    new = (
        stream.select(
            F.col(id_col).alias("id"),
            tokens(F.lower(F.col(text_col))).alias("toks"),
        )
        .select("id", _shingle_digests(F.col("toks"), n).alias("xs"))
        .where(F.size("xs") > 0)
        .select(
            "id",
            F.expr(_minhash_row_signature("xs", num_hashes, seed))
            .alias("signature"),
        )
    )
    est = _agreement_sql("a.signature", "b.signature", num_hashes)
    return (
        _band_signatures(new, bands, rows_per_band).alias("a")
        .join(
            _band_signatures(seen_signatures, bands, rows_per_band)
            .alias("b"),
            F.expr("a.band = b.band AND a.bucket = b.bucket"),
        )
        .selectExpr(
            "a.id AS new_id", "b.id AS seen_id",
            f"round({est}, 6) AS est_jaccard",
        )
        .where(f"est_jaccard >= {float(threshold)!r}D")
    )


def stream_ingest_screen_multimodal(
    stream: DataFrame,
    seen_fingerprints: DataFrame | None,
    seen_signatures: DataFrame | None,
    seen_members: DataFrame | None = None,
    centroids=None,
    seen_hashes: DataFrame | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    vec_col: str = "embedding",
    sig_col: str = "psig",
    n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    text_threshold: float = 0.5,
    sem_threshold: float = 0.95,
    max_hamming: int = 3,
    hash_bands: int = 8,
    seed: int = 42,
) -> DataFrame:
    """Streaming twin of :func:`ingest_screen_multimodal` (r13): the
    full multi-modality ingest verdict applied ONLINE as items land,
    completely STATELESS (append mode, no watermark, no state store)
    and — unlike :func:`stream_minhash_screen`'s repeated-pair
    convention — strictly ROW-PRESERVING: exactly one verdict row out
    per streamed row, so the drained table equals the batch lane with
    no consumer-side dedupe (pinned by gate + test).

    The design that makes all four lanes row-preserving at zero state:
    every archive screen table is pre-aggregated ONCE per micro-batch
    into a relation UNIQUE on its join key, so each lane is a single
    stream-static LEFT equi-join that cannot multiply rows, and the
    lane verdict is an ``exists`` over the collected candidate list:

    - exact: distinct fingerprint table, joined on the row's digest;
    - text: archive MinHash signatures banded (same
      :func:`_band_signatures` buckets as the batch lane) and grouped
      to ``(band, bucket) -> list<signature>``; the stream row carries
      its ``bands`` bucket keys as COLUMNS (per-row HOF signature, no
      explode), one join per band, then
      ``exists(sig2: agreement >= threshold)`` — the batch
      candidate-then-verify semantics exactly;
    - semantic: membership grouped to ``cluster -> list<v>``; one join
      on the row's centroid assignment (the same shuffle-free
      :func:`~..clustering.kmeans_assign` projection), then
      ``exists(v2: round(cos, 6) >= threshold)``;
    - perceptual: archive signatures chunked (same band/chunk split as
      :func:`banded_hamming_incremental`) and grouped to
      ``(band, chunk) -> list<sig>``; one join per band, then
      ``exists(s2: bit_count(xor) <= max_hamming)``.

    Lanes are OPTIONAL with the same contract as the batch twin (r13):
    pass ``None`` for a lane's archive input(s) and its flag is a
    literal ``False`` — the verdict keeps the full 5-flag shape and
    ``keep`` spans only the ENABLED lanes; at least one lane required.

    Grouped-table caveat at scale: a degenerate band bucket / cluster
    collects its whole candidate list into one value — the same
    skew class the batch lanes cap with ``_bucket_cap`` /
    ``max_cluster_pairs_per_vector``; feed the streams SCREENED
    archive tables (or cap upstream) when bucket skew is possible.
    The static sides re-aggregate per micro-batch unless the caller
    persists them."""
    from openeo_processes_dask_spark.training.clustering import (
        _assign_expr,
        _snap_micro,
    )
    from openeo_processes_dask_spark.training.similarity import (
        _cos6_sql,
        _norm_sql,
    )

    if (seen_members is None) != (centroids is None):
        raise ValueError(
            "semantic lane needs BOTH seen_members and centroids (or "
            "neither)"
        )
    if all(
        x is None
        for x in (seen_fingerprints, seen_signatures, seen_members,
                  seen_hashes)
    ):
        raise ValueError(
            "stream_ingest_screen_multimodal: every lane is disabled — "
            "pass at least one archive screen table"
        )
    band_bits = 64 // hash_bands

    # ---- per-row enrichment: every ENABLED lane's key as a COLUMN
    # (projection only). The tokens, the shingle-digest array and the
    # snapped vector each materialize in their own select, so the split,
    # the md5 chain and the snap are not re-inlined into every lambda
    # and distance term that reads them (the repo's measured-pitfalls
    # contract) ----
    if seen_signatures is not None:
        rows_per_band = _rows_per_band(num_hashes, bands)
        stream = stream.select(
            "*", tokens(F.lower(F.col(text_col))).alias("__toks__")
        )
    enrich = [F.col(id_col).alias("id")]
    if seen_fingerprints is not None:
        enrich.append(doc_fingerprint(F.col(text_col)).alias("__fp__"))
    if seen_signatures is not None:
        enrich.append(_shingle_digests(F.col("__toks__"), n).alias("__xs__"))
    if seen_members is not None:
        enrich.append(F.expr(_snap_micro(vec_col)).alias("__sv__"))
        enrich.append(F.col(vec_col).cast("array<double>").alias("__v__"))
    if seen_hashes is not None:
        enrich.append(F.col(sig_col).cast("long").alias("__psig__"))
    cur = stream.select(*enrich)
    if seen_signatures is not None:
        sig = _minhash_row_signature("__xs__", num_hashes, seed)
        cur = cur.withColumn(
            "__sig__", F.expr(f"CASE WHEN size(__xs__) > 0 THEN {sig} END")
        ).drop("__xs__")
    key_cols = []
    if seen_signatures is not None:
        key_cols += [
            F.expr(_band_bucket_sql("__sig__", bi, rows_per_band))
            .alias(f"__bk{bi}__")
            for bi in range(bands)
        ]
    if seen_members is not None:
        key_cols += [
            _assign_expr("__sv__", centroids).alias("__cluster__"),
            F.expr(f"{_norm_sql('__v__')} AS __nv__"),
        ]
    if seen_hashes is not None:
        key_cols += [
            F.expr(
                f"{_hamming_chunk_sql('__psig__', bi, band_bits)} AS __ck{bi}__"
            )
            for bi in range(hash_bands)
        ]
    if key_cols:
        cur = cur.select("*", *key_cols)

    # ---- static sides, each UNIQUE on its join key; lane flags ----
    exact_flag = F.lit(False)
    text_flag = F.lit(False)
    sem_flag = F.lit(False)
    perc_flag = F.lit(False)
    if seen_fingerprints is not None:
        fps = F.broadcast(
            seen_fingerprints.select(
                F.col("fingerprint").alias("__fp__")
            ).distinct().withColumn("__exact__", F.lit(True))
        )
        cur = cur.join(fps, "__fp__", "left")
        exact_flag = F.coalesce(F.col("__exact__"), F.lit(False))

    if seen_signatures is not None:
        sig_buckets = (
            _band_signatures(seen_signatures, bands, rows_per_band)
            .groupBy("band", "bucket")
            .agg(F.collect_list("signature").alias("sigs"))
        )
        # per band, built from SQL strings: the same table from Column
        # objects costs ~4x the py4j round trips
        for bi in range(bands):
            tbl = sig_buckets.where(f"band = {bi}").selectExpr(
                f"bucket AS __bk{bi}__", f"sigs AS __sigs{bi}__"
            )
            cur = cur.join(F.broadcast(tbl), f"__bk{bi}__", "left")
        cand_sigs = ", ".join(
            f"coalesce(__sigs{bi}__, CAST(array() AS ARRAY<ARRAY<BIGINT>>))"
            for bi in range(bands)
        )
        agree = _agreement_sql("__sig__", "s2", num_hashes)
        # coalesce(exists, False): a NULL residual (e.g. zero-norm
        # cosine) is a dropped row in the batch lanes' WHERE — no match
        text_flag = F.expr(
            "__sig__ IS NOT NULL AND coalesce(exists("
            f"flatten(array({cand_sigs})), s2 -> round({agree}, 6) >= "
            f"{float(text_threshold)!r}D), false)"
        )

    if seen_members is not None:
        members = F.broadcast(
            seen_members.groupBy(
                F.col("cluster").alias("__cluster__")
            ).agg(
                F.collect_list(
                    F.col("v").cast("array<double>")
                ).alias("__vs__")
            )
        )
        cur = cur.join(members, "__cluster__", "left")
        # ||__v__|| is the projected __nv__, once per row; only the
        # candidate's norm is folded per candidate
        cos6 = _cos6_sql("__v__", "v2", "__nv__", _norm_sql("v2"))
        sem_flag = F.expr(
            "coalesce(exists(coalesce(__vs__, "
            "CAST(array() AS ARRAY<ARRAY<DOUBLE>>)), "
            f"v2 -> {cos6} >= {float(sem_threshold)!r}D), false)"
        )

    if seen_hashes is not None:
        chunk_tables = seen_hashes.selectExpr(
            f"CAST({_quote(sig_col)} AS BIGINT) AS s2"
        ).selectExpr(
            "s2",
            *[
                f"{_hamming_chunk_sql('s2', bi, band_bits)} AS __ck{bi}__"
                for bi in range(hash_bands)
            ],
        )
        for bi in range(hash_bands):
            tbl = chunk_tables.groupBy(f"__ck{bi}__").agg(
                F.expr(f"collect_list(s2) AS __hs{bi}__")
            )
            cur = cur.join(F.broadcast(tbl), f"__ck{bi}__", "left")
        cand_hashes = ", ".join(
            f"coalesce(__hs{bi}__, CAST(array() AS ARRAY<BIGINT>))"
            for bi in range(hash_bands)
        )
        perc_flag = F.expr(
            f"coalesce(exists(flatten(array({cand_hashes})), s2 -> "
            f"bit_count(__psig__ ^ s2) <= {int(max_hamming)}), false)"
        )

    enabled_flags = [
        flag
        for flag, on in (
            (exact_flag, seen_fingerprints is not None),
            (text_flag, seen_signatures is not None),
            (sem_flag, seen_members is not None),
            (perc_flag, seen_hashes is not None),
        )
        if on
    ]
    keep = None
    for flag in enabled_flags:
        keep = ~flag if keep is None else (keep & ~flag)
    return cur.select(
        "id",
        exact_flag.alias("exact_dup"),
        text_flag.alias("text_near_dup"),
        sem_flag.alias("semantic_dup"),
        perc_flag.alias("perceptual_dup"),
        keep.alias("keep"),
    )


def simhash_signatures(
    df: DataFrame, id_col: str, text_col: str, bits: int = 64
) -> DataFrame:
    """SimHash per document: per-token md5-derived hash, bitwise weighted
    vote, sign → bit (60 usable bits from the 15-hex digest).

    Plan shape matters here: explode tokens → hash each token ONCE → a
    *packed* popcount aggregate: 3 bit-counters × 20 bits per 64-bit sum,
    so 60 bits cost 20 simple long sums that stay inside whole-stage
    codegen. Measured against the alternatives at sf0.1: 60 separate
    ``when(±1)`` sums ~10× slower (codegen compile + branchy eval), per-bit
    array ``aggregate`` lambdas ~100× (interpreted, md5 re-inlined per
    bit). The 20-bit counter ceiling (2^20-1 tokens/doc) is far above any
    real document; majority vote ``sum(±1) > 0`` ⟺ ``2·cnt_b > n``.
    Docs with zero tokens produce no signature (nothing to vote)."""
    bits = min(bits, 60)
    tok = (
        # keyed spread (r13): the packed popcount aggregate groups by id
        # — same exchange-reuse win as minhash_signatures (guide §2.4)
        _spread(
            df.select(F.col(id_col).alias("id"), F.col(text_col).alias("__t__")),
            key="id",
        )
        .select("id", F.explode(tokens(F.lower(F.col("__t__")))).alias("w"))
        .select("id", _md5_to_long(F.col("w")).alias("h"))
    )
    packs, sig = _simhash_pack_cols(bits)
    votes = tok.groupBy("id").agg(F.count(F.lit(1)).alias("n"), *packs)
    return votes.select("id", sig.alias("simhash"))


# The packed-popcount aggregate is parsed server-side for the same
# reason as _minhash_hash_cols: the functional packs construction costs
# ~7 py4j round-trips per bit — ~140 for 60 bits, ~0.2 s of driver time
# per query construction.


def _simhash_pack_cols(bits: int):
    """(pack aggregate Columns p0.., signature-assembly Column) for the
    3-counters-per-long popcount layout — parsed server-side."""
    per, width = 3, 20
    n_packs = (bits + per - 1) // per
    packs = []
    for g in range(n_packs):
        terms = [
            f"shiftleft(shiftright(h, {g * per + j}) & 1, {j * width})"
            for j in range(per)
            if g * per + j < bits
        ]
        packs.append(F.expr(f"sum({' + '.join(terms)}) AS p{g}"))
    # Signature assembly as ONE server-parsed SQL expression: building
    # the equivalent 60-deep nested Column tree driver-side measured
    # ~5 s of pure Python before a single task ran. Bit terms are
    # disjoint, so a plain sum of power-of-two literals equals the
    # bitwise OR.
    mask = (1 << width) - 1
    terms = []
    for b in range(bits):
        g, j = divmod(b, per)
        cnt = f"(shiftright(p{g}, {j * width}) & {mask})"
        terms.append(
            f"(CASE WHEN 2 * {cnt} > n THEN CAST({1 << b} AS BIGINT) "
            f"ELSE CAST(0 AS BIGINT) END)"
        )
    sig = F.expr("(" + " + ".join(terms) + ")")
    return packs, sig


def simhash_near_duplicates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
    bands: int = 4,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Candidate pairs via banded 16-bit chunks of the 64-bit signature
    (pigeonhole: hamming ≤ 3 ⇒ some band of 4 is identical), verified with
    an exact popcount. Returns (id1, id2, hamming).

    ``max_bucket_size``: same dup-family skew guard as the MinHash lane
    (see :func:`minhash_near_duplicates`) — oversized chunk buckets emit
    star pairs instead of all-pairs; star pairs are hamming-verified
    through a signature join like any other candidate."""
    # persist: both sides of the banded self-join read the signatures
    sigs = simhash_signatures(df, id_col, text_col).persist()
    try:
        # materialize the (small) pair set while the signature cache is
        # alive, then release it — PPJoin unpersist contract
        return _banded_hamming(
            sigs, None, max_hamming, bands, "id", "simhash", max_bucket_size
        ).localCheckpoint(eager=True)
    finally:
        sigs.unpersist()


def _hamming_band_explode(col_name: str, bands: int, band_bits: int):
    """``explode(array(struct(band, chunk)...))`` Column splitting the
    64-bit signature column ``col_name`` into ``bands`` chunks — ONE
    server-parsed F.expr (r14, guide §5): the functional
    struct/shiftright/bitwiseAND construction costs ~5 py4j round-trips
    per band (~0.2 s per banded side at 8 bands). Identical expression
    tree, identical results."""
    parts = ",".join(
        f"struct({bi} AS band, "
        f"{_hamming_chunk_sql(_quote(col_name), bi, band_bits)} AS chunk)"
        for bi in range(bands)
    )
    return F.expr(f"explode(array({parts}))")


def _hamming_chunk_sql(sig: str, bi: int, band_bits: int) -> str:
    """SQL: chunk ``bi`` (``band_bits`` wide) of the 64-bit signature
    expression ``sig``."""
    return f"shiftright({sig}, {bi * band_bits}) & {(1 << band_bits) - 1}"


def _banded_hamming(
    sigs: DataFrame,
    seen: DataFrame | None,
    max_hamming: int,
    bands: int,
    id_col: str,
    sig_col: str,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """The banded Hamming join behind every 64-bit signature lane: split
    each signature into ``bands`` chunks, equi-join on (band, chunk),
    verify with ``bit_count(xor) <= max_hamming``. With ``seen=None``
    it is the self-join of ``sigs`` (``id1 < id2``, with the
    ``max_bucket_size`` star cap of :func:`_bucket_cap`), returning
    (id1, id2, hamming); otherwise strictly ``sigs`` x ``seen``,
    returning (new_id, seen_id, hamming). Both sides carry their
    signatures under ``id_col`` / ``sig_col``. Recall is exact when
    ``bands > max_hamming`` (pigeonhole); callers decide whether they
    require it. Lazy: nothing is persisted or materialized here."""
    band_bits = 64 // bands
    names = ("id1", "id2") if seen is None else ("new_id", "seen_id")

    def project(df: DataFrame) -> DataFrame:
        return df.selectExpr(
            f"{_quote(id_col)} AS id",
            f"CAST({_quote(sig_col)} AS BIGINT) AS sig",
        )

    def banded(df: DataFrame) -> DataFrame:
        return df.select(
            "id", "sig",
            _hamming_band_explode("sig", bands, band_bits).alias("bb"),
        ).select("id", "sig", "bb.band", "bb.chunk")

    left = project(sigs)
    a = banded(left)
    on = "a.band = b.band AND a.chunk = b.chunk"
    star = None
    if seen is None:
        if max_bucket_size is not None:
            a, star = _bucket_cap(a, ["band", "chunk"], max_bucket_size)
        b = a
        on += " AND a.id < b.id"
    else:
        b = banded(project(seen))
    verified = f"hamming <= {int(max_hamming)}"
    pairs = (
        a.alias("a")
        .join(b.alias("b"), F.expr(on))
        .selectExpr(
            f"a.id AS {names[0]}", f"b.id AS {names[1]}",
            "bit_count(a.sig ^ b.sig) AS hamming",
        )
        .distinct()
        .where(verified)
    )
    if star is not None:
        star_pairs = (
            star.join(left.selectExpr("id AS id1", "sig AS h1"), "id1")
            .join(left.selectExpr("id AS id2", "sig AS h2"), "id2")
            .selectExpr("id1", "id2", "bit_count(h1 ^ h2) AS hamming")
            .where(verified)
        )
        pairs = pairs.unionByName(star_pairs).distinct()
    return pairs


def banded_hamming_incremental(
    sigs_new: DataFrame,
    sigs_seen: DataFrame,
    max_hamming: int,
    bands: int = 8,
    id_col: str = "id",
    sig_col: str = "sig",
) -> DataFrame:
    """Generic new-vs-seen banded Hamming screen over any 64-bit
    signature column (r12) — :func:`banded_hamming_pairs` restricted
    to strictly NEW x SEEN candidates, for ingest loops over
    caller-owned signature tables (image dHash, audio fingerprints,
    any perceptual hash): the archive signatures are a write-once
    table, the archive media is never re-decoded. Same pigeonhole
    contract: with ``bands > max_hamming`` recall over new x seen is
    exactly 1. Returns ``(new_id, seen_id, hamming)``. Both inputs are
    consumed lazily (no persist: each side is scanned once by the
    single banded join)."""
    if bands <= max_hamming:
        raise ValueError(
            f"bands ({bands}) must exceed max_hamming ({max_hamming}) "
            "for exact recall"
        )
    return _banded_hamming(
        sigs_new, sigs_seen, max_hamming, bands, id_col, sig_col
    )


def simhash_incremental(
    df_new: DataFrame,
    seen_signatures: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    bands: int = 4,
) -> DataFrame:
    """SimHash NEAR-dup screen of a new batch against the persisted
    signature table of the already-ingested corpus (r12) — completes
    the incremental matrix: exact (:func:`dedup_against`), MinHash
    (:func:`minhash_incremental`), semantic
    (:func:`~..similarity.semdedup_incremental`), and now the
    Hamming-distance family.

    ``seen_signatures`` is what :func:`simhash_signatures` emits
    ``(id, simhash)`` — a write-once int64-per-doc table maintained
    corpus-side, so the archive text is NEVER re-tokenized: only the
    new batch hashes, and the join carries 16-bit band chunks.
    Candidates are strictly new x seen (compose with
    :func:`simhash_near_duplicates` for within-batch pairs); the
    pigeonhole guarantee carries over — ``hamming <= bands - 1``
    implies some band chunk is identical, so with ``max_hamming <
    bands`` recall over new x seen is exactly 1. Returns
    ``(new_id, seen_id, hamming <= max_hamming)``."""
    sigs_new = simhash_signatures(df_new, id_col, text_col).persist()
    try:
        # release the batch-sized signature cache after materializing
        # the (small) match set — PPJoin unpersist contract (ADVICE
        # r7); seen_signatures is caller-owned and untouched
        return _banded_hamming(
            sigs_new, seen_signatures, max_hamming, bands, "id", "simhash"
        ).localCheckpoint(eager=True)
    finally:
        sigs_new.unpersist()


# ---------------------------------------------------------------------------
# Duplicated-substring-span dedup (Lee et al. 2021, "Deduplicating Training
# Data Makes Language Models Better"): the reference corpus move that whole-
# document and fixed-chunk dedup both miss — a 50-token license block pasted
# mid-article duplicates a SPAN, not a document or an aligned chunk.
# ---------------------------------------------------------------------------


def duplicate_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 10,
    min_count: int = 2,
) -> DataFrame:
    """Positions of every k-token span whose digest occurs >= ``min_count``
    times corpus-wide (overlapping sliding windows, stride 1 — unlike
    :func:`segment_duplicates`' aligned chunks, a duplicated run is caught
    at ANY offset).

    Returns (id, pos, fingerprint, n_copies, keep_id): ``pos`` is the
    0-based token index where the duplicated span starts and ``keep_id``
    the min document id over the digest (the canonical holder a removal
    policy keeps).

    Plan at 100 TB: tokens -> one codegen'd ``transform(sequence)`` builds
    all span digests per doc JVM-side -> posexplode -> ONE digest-keyed
    hash aggregate (16-byte digests shuffle; text never leaves its
    scan partition) -> equi-join positions back on digest. Same shuffle
    topology as exact dedup, ~n_tokens rows instead of ~n_docs.
    """
    base = _spread(
        df.select(F.col(id_col).alias("id"), F.col(text_col).alias("__t__"))
    )
    toks = base.select("id", tokens(F.lower(F.col("__t__"))).alias("w"))
    n_spans = F.size("w") - (k - 1)
    digests = F.when(
        n_spans <= 0, F.array().cast("array<string>")
    ).otherwise(
        F.transform(
            F.sequence(F.lit(1), n_spans),
            lambda i: F.md5(F.concat_ws(" ", F.slice(F.col("w"), i, k))),
        )
    )
    spans = toks.select(
        "id", F.posexplode(digests).alias("pos", "fingerprint")
    )
    # ONE shuffle keyed by digest, ONE evaluation of the tokenize+md5
    # explode: a groupBy + join-back would recompute the span explode for
    # the probe side (no subtree reuse) and shuffle it twice. The window
    # aggregates over the whole digest partition (no orderBy -> full
    # frame), so every span row picks up its corpus-wide count in place.
    from pyspark.sql import Window

    wf = Window.partitionBy("fingerprint")
    return (
        spans.withColumn("n_copies", F.count(F.lit(1)).over(wf))
        .withColumn("keep_id", F.min("id").over(wf))
        .where(F.col("n_copies") >= min_count)
        .select("id", "pos", "fingerprint", "n_copies", "keep_id")
    )


def _merge_spans_to_runs(hits: DataFrame, k: int) -> DataFrame:
    """Gaps-and-islands merge of overlapping k-token span hits: (id, pos)
    rows -> maximal disjoint runs (id, island, s, e). One JVM window pass
    keyed by doc id; shared by the stats and the removal lanes so the
    overlap rule lives in exactly one place."""
    from pyspark.sql import Window

    w = Window.partitionBy("id").orderBy("pos")
    prev_max = F.max("pos").over(w.rowsBetween(Window.unboundedPreceding, -1))
    # span [pos, pos+k-1] overlaps the running island iff pos <= prev_max
    # + k - 1; a strictly larger pos starts a new island
    brk = F.when(
        prev_max.isNull() | (F.col("pos") > prev_max + (k - 1)), 1
    ).otherwise(0)
    return (
        hits.withColumn(
            "island",
            F.sum(brk).over(w.rowsBetween(Window.unboundedPreceding, 0)),
        )
        .groupBy("id", "island")
        .agg(F.min("pos").alias("s"), (F.max("pos") + (k - 1)).alias("e"))
    )


def duplicate_span_stats(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 10,
    min_count: int = 2,
) -> DataFrame:
    """Per-document duplicated-span coverage: merge the overlapping span
    hits of :func:`duplicate_spans` into maximal islands (gaps-and-islands
    over token positions — pure JVM window functions) and report
    (id, n_runs, dup_tokens, longest_run).

    ``dup_tokens`` is the exact number of token positions covered by at
    least one duplicated span — the quantity Lee et al. report as the
    fraction of the corpus that is duplicated text.

    Plan: one window per doc id (max-position running high-water mark ->
    island break flag -> running island id), then two hash aggregates.
    Token positions shuffle once, keyed by doc id.
    """
    hits = duplicate_spans(df, id_col, text_col, k, min_count).select(
        "id", "pos"
    )
    runs = _merge_spans_to_runs(hits, k)
    return runs.groupBy("id").agg(
        F.count(F.lit(1)).alias("n_runs"),
        F.sum(F.col("e") - F.col("s") + 1).alias("dup_tokens"),
        F.max(F.col("e") - F.col("s") + 1).alias("longest_run"),
    )


def remove_duplicate_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 10,
    min_count: int = 2,
    out_col: str | None = None,
) -> DataFrame:
    """Rewrite each document with its non-canonical duplicated spans cut
    out (the Lee et al. removal policy: every duplicated span survives
    only in the minimum-id document holding it; every other occurrence's
    k tokens are deleted, with overlapping cuts merged).

    Plan: duplicated span positions (digest-keyed, see
    :func:`duplicate_spans`) -> drop the canonical holder's rows -> LEFT
    ANTI join of exploded token positions against the covered-position
    explode is avoided: instead the merged cut intervals per doc are
    collected into ONE array column (bounded: intervals are maximal and
    disjoint, so there are at most n_tokens/k of them) and a single
    ``filter(arrays_zip(tokens, positions))`` drops covered tokens
    JVM-side. Documents shuffle once, keyed by id, carrying interval
    structs — not exploded token rows.
    """
    out_col = out_col or text_col
    cuts = duplicate_spans(df, id_col, text_col, k, min_count).where(
        F.col("id") != F.col("keep_id")
    )
    runs = _merge_spans_to_runs(cuts.select("id", "pos"), k)
    return _cut_runs_rebuild(df, id_col, text_col, out_col, runs)


def _cut_runs_rebuild(
    df: DataFrame,
    id_col: str,
    text_col: str,
    out_col: str,
    runs: DataFrame,
) -> DataFrame:
    """Shared excision tail for the span-removal lanes: ``runs`` is a
    (id, s, e) relation of disjoint maximal 0-based token intervals to
    cut; each cut-bearing document is rebuilt from the ORIGINAL-case
    token stream with covered positions dropped (digesting lowercases,
    but the rewrite must not destroy casing outside the cuts; both
    tokenizations split on \\s+, so positions align 1:1). Documents
    with no runs keep their text VERBATIM — whitespace runs between
    kept tokens of rewritten docs collapse to single spaces, inherent
    to a token-stream rebuild. The per-doc interval array is bounded
    (intervals are maximal and disjoint), so one shuffle keyed by id
    carries interval structs, never exploded token rows."""
    cut_lists = runs.groupBy("id").agg(
        F.collect_list(F.struct("s", "e")).alias("__cuts")
    )
    base = df.join(
        cut_lists, df[id_col] == cut_lists["id"], "left"
    ).drop(cut_lists["id"])
    toks = tokens(F.col(text_col))
    zipped = F.arrays_zip(
        toks.alias("tok"),
        F.sequence(F.lit(0), F.size(toks) - 1).alias("p"),
    )
    kept = F.filter(
        zipped,
        lambda z: ~F.exists(
            F.col("__cuts"),
            lambda c: (z["p"] >= c["s"]) & (z["p"] <= c["e"]),
        ),
    )
    rebuilt = F.array_join(F.transform(kept, lambda z: z["tok"]), " ")
    empty_toks = F.size(toks) == 0
    return base.withColumn(
        out_col,
        F.when(F.col("__cuts").isNull() | empty_toks, F.col(text_col))
        .otherwise(rebuilt),
    ).drop("__cuts")


def decontaminate_spans(
    df: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_text_col: str = "text",
    n: int = 8,
) -> DataFrame:
    """WHERE the contamination sits: the maximal token spans of each
    training document covered by word-``n``-grams shared with the
    evaluation set — the surgical refinement of the decontamination
    trio (:func:`decontaminate` flags docs,
    :func:`contamination_attribution` names the leaking eval doc, THIS
    localizes the leak so :func:`remove_contaminated_spans` can excise
    it instead of dropping the whole document).

    Returns ``(id, s, e, span_tokens)`` — disjoint maximal runs,
    0-based inclusive token positions (a shingle at position p covers
    [p, p+n-1]; overlapping/adjacent hits merge).

    Plan at 100 TB: the benchmark digest set broadcasts (eval-sized);
    the corpus side posexplodes shingle digests WITH positions, inner
    broadcast-joins (digest-on-digest — text never shuffles), then one
    gaps-and-islands window per doc id merges hits into maximal runs."""
    bench_keys = benchmark_digests(benchmark, bench_text_col, n)
    hits = (
        _spread(
            df.select(F.col(id_col).alias("id"), F.col(text_col).alias("__t__"))
        )
        .select("id", tokens(F.lower(F.col("__t__"))).alias("toks"))
        .select(
            "id",
            F.posexplode(
                shingles_from_tokens(F.col("toks"), n)
            ).alias("pos", "sh"),
        )
        .select("id", "pos", _md5_to_long(F.col("sh")).alias("shk"))
        # bench_keys is DISTINCT on shk and each (id, pos) carries one
        # shingle, so the join emits (id, pos) at most once — no
        # defensive distinct (it would be a corpus-sized exchange)
        .join(F.broadcast(bench_keys), "shk")
        .select("id", "pos")
    )
    runs = _merge_spans_to_runs(hits, n)
    return runs.select(
        "id",
        "s",
        "e",
        (F.col("e") - F.col("s") + 1).alias("span_tokens"),
    )


def remove_contaminated_spans(
    df: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_text_col: str = "text",
    n: int = 8,
    out_col: str | None = None,
) -> DataFrame:
    """Excise the contaminated spans in place — keep the rest of the
    document instead of anti-joining the whole doc away (the surgical
    alternative when eval overlap is a quote inside an otherwise-good
    page). Cuts exactly the :func:`decontaminate_spans` runs through
    the shared rebuild tail (:func:`_cut_runs_rebuild` — clean docs
    keep their text verbatim)."""
    out_col = out_col or text_col
    runs = decontaminate_spans(
        df, benchmark, id_col, text_col, bench_text_col, n
    ).select("id", "s", "e")
    return _cut_runs_rebuild(df, id_col, text_col, out_col, runs)


def contamination_ratio(
    df: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_text_col: str = "text",
    n: int = 8,
    threshold_ppm: int = 50_000,
) -> DataFrame:
    """Graded decontamination: instead of :func:`decontaminate`'s binary
    any-shared-shingle flag, score every document by the FRACTION of its
    distinct word n-grams that appear in the eval set (the PaLM/Llama
    report style "% contaminated" measure), so a pipeline can drop on a
    threshold rather than on a single collision.

    Returns one row per document that has >= 1 shingle: (id, n_shingles,
    n_shared, ratio_ppm, contaminated). ``ratio_ppm`` is the integer
    parts-per-million floor((n_shared * 1e6) / n_shingles) — integer
    arithmetic, so the value is bit-identical on any engine; documents
    shorter than ``n`` tokens have no shingles and are absent (trivially
    uncontaminated).

    Plan: same broadcast topology as decontaminate (eval digest set
    broadcasts, corpus side is scan + explode + broadcast LEFT join +
    one hash aggregate); text never shuffles.
    """
    bench_keys = benchmark_digests(benchmark, bench_text_col, n).withColumn(
        "__hit", F.lit(1)
    )
    scored = (
        _shingle_keys(df, id_col, text_col, n)
        .join(F.broadcast(bench_keys), "shk", "left")
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(F.coalesce(F.col("__hit"), F.lit(0))).alias("n_shared"),
        )
    )
    ratio_ppm = F.floor(
        (F.col("n_shared") * F.lit(1_000_000)) / F.col("n_shingles")
    ).cast("bigint")
    return scored.withColumn("ratio_ppm", ratio_ppm).withColumn(
        "contaminated", F.col("ratio_ppm") >= F.lit(threshold_ppm)
    )


def remove_duplicate_spans_exact(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 10,
    min_count: int = 2,
    out_col: str | None = None,
) -> DataFrame:
    """Byte-exact variant of :func:`remove_duplicate_spans`: cuts the
    original SUBSTRINGS covered by non-canonical duplicated spans, so
    casing, whitespace runs, and newlines outside the cuts survive
    verbatim (the divergence note in DIVERGENCES.md, closed).

    Design: detection is identical (JVM digest window — text never
    shuffles for matching). Only documents that actually HAVE cuts enter
    the Python lane: the cut-interval relation inner-joins the corpus
    (hash join on id), and an Arrow-batched ``mapInPandas`` locates token
    boundaries with ``re.finditer`` and splices the original string.
    Untouched documents pass through JVM-only via the anti-join leg — at
    a typical few-percent duplication rate, Python sees a few percent of
    the corpus.
    """
    import pandas as pd

    out_col = out_col or text_col
    cuts = duplicate_spans(df, id_col, text_col, k, min_count).where(
        F.col("id") != F.col("keep_id")
    )
    runs = (
        _merge_spans_to_runs(cuts.select("id", "pos"), k)
        .groupBy("id")
        .agg(
            F.sort_array(F.collect_list(F.struct("s", "e"))).alias("__cuts")
        )
    )
    base = df
    if out_col != text_col:
        base = df.withColumn(out_col, F.col(text_col))
    src_cols = base.columns
    affected = base.join(
        runs, base[id_col] == runs["id"], "inner"
    ).drop(runs["id"])
    untouched = base.join(runs, base[id_col] == runs["id"], "left_anti")

    out_schema = ", ".join(
        f"`{name}` {dtype}" for name, dtype in base.dtypes
    )

    def splice(batches):
        # token spans MUST replicate Spark's tokens() positions exactly —
        # a Python \S+ scan diverges on (a) leading non-space whitespace
        # (F.trim strips ONLY spaces, so '\nfoo' has an empty token 0),
        # (b) trailing separators (F.split limit=-1 keeps a trailing ''),
        # (c) unicode spaces like NBSP (Java \s is ASCII; NBSP is token
        # text). A mismatch silently shifts every cut index. Pinned
        # against live Spark in test_exact_spans_tokenization_parity.
        sep = set(" \t\n\x0b\f\r")

        def spark_token_spans(txt):
            lo, hi = 0, len(txt)
            while lo < hi and txt[lo] == " ":
                lo += 1
            while hi > lo and txt[hi - 1] == " ":
                hi -= 1
            if lo == hi:
                return []
            spans = []
            i = lo
            if txt[i] in sep:
                spans.append((i, i))
                while i < hi and txt[i] in sep:
                    i += 1
            while i < hi:
                j = i
                while j < hi and txt[j] not in sep:
                    j += 1
                spans.append((i, j))
                i = j
                while i < hi and txt[i] in sep:
                    i += 1
            if txt[hi - 1] in sep:
                spans.append((hi, hi))
            return spans

        for pdf in batches:
            texts = []
            for txt, cut_list in zip(pdf[text_col], pdf["__cuts"]):
                if txt is None:
                    texts.append(None)
                    continue
                spans = spark_token_spans(txt)
                drop = [False] * len(spans)
                for c in cut_list:
                    for i in range(int(c["s"]), min(int(c["e"]) + 1, len(spans))):
                        drop[i] = True
                # bytes before the first token and after the last token
                # are outside every cut — always preserved. Between kept
                # tokens: adjacent kept pairs keep their true gap; a kept
                # token after a cut keeps only the separator between the
                # LAST dropped token and itself (copying the whole gap
                # would resurrect the dropped text).
                pieces = [txt[: spans[0][0]]] if spans else [txt]
                prev_idx = None
                for i, ((st, en), d) in enumerate(zip(spans, drop)):
                    if d:
                        continue
                    if prev_idx is not None:
                        if i == prev_idx + 1:
                            pieces.append(txt[spans[prev_idx][1]:st])
                        else:
                            pieces.append(txt[spans[i - 1][1]:st])
                    pieces.append(txt[st:en])
                    prev_idx = i
                if spans:
                    pieces.append(txt[spans[-1][1]:])
                texts.append("".join(pieces))
            res = pdf[src_cols].copy()
            res[out_col] = texts
            yield res

    rewritten = affected.mapInPandas(splice, schema=out_schema)
    return untouched.unionByName(rewritten)


def banded_hamming_pairs(
    sigs: DataFrame,
    max_hamming: int,
    bands: int = 8,
    id_col: str = "id",
    sig_col: str = "sig",
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Generic banded near-dup join over any 64-bit signature column
    (SimHash, image dHash, audio fingerprints): split the signature into
    ``bands`` bit-chunks, equi-join on (band, chunk), verify with
    bit_count(xor) <= ``max_hamming``. Returns (id1, id2, hamming).

    Recall is EXACT when ``bands > max_hamming`` (pigeonhole: fewer
    flipped bits than bands means at least one chunk is untouched, so
    every qualifying pair shares a bucket) — the banding then changes
    COST, not the answer, which is what lets a DuckDB all-pairs oracle
    hash-match. Cost is the usual LSH shape: one shuffle keyed by
    (band, chunk), pair count driven by bucket sizes, with the shared
    ``max_bucket_size`` star-cap guard for pathological buckets."""
    if bands <= max_hamming:
        raise ValueError(
            f"bands ({bands}) must exceed max_hamming ({max_hamming}) "
            "for exact recall"
        )
    return _banded_hamming(
        sigs, None, max_hamming, bands, id_col, sig_col, max_bucket_size
    )


def dedup_pair_recall(
    exact_pairs: DataFrame, approx_pairs: DataFrame
) -> DataFrame:
    """Recall/precision of an approximate near-dup pair set against the
    exact one — the measurement that justifies a MinHash band/threshold
    config before a 100 TB run ("measure, don't guess"). Both inputs
    follow the pair contract (id1 < id2); the three counts are top-k-
    sized aggregates joined broadcast, so the harness itself is as
    distributed as the pipelines it scores. Returns one row:
    (true_pairs, cand_pairs, hits, recall, precision)."""
    e = exact_pairs.select("id1", "id2")
    a = approx_pairs.select("id1", "id2")
    ec = e.agg(F.count("*").alias("true_pairs"))
    ac = a.agg(F.count("*").alias("cand_pairs"))
    hc = a.join(e, ["id1", "id2"]).agg(F.count("*").alias("hits"))
    return (
        ec.crossJoin(F.broadcast(ac))
        .crossJoin(F.broadcast(hc))
        .select(
            "true_pairs",
            "cand_pairs",
            "hits",
            F.round(
                F.try_divide(F.col("hits"), F.col("true_pairs")), 6
            ).alias("recall"),
            F.round(
                F.try_divide(F.col("hits"), F.col("cand_pairs")), 6
            ).alias("precision"),
        )
    )


def shared_key_pairs(
    df: DataFrame,
    min_shared: int,
    id_col: str = "id",
    key_col: str = "key",
    max_key_freq: int | None = None,
) -> DataFrame:
    """(id1, id2, n_shared) for id pairs sharing >= ``min_shared``
    distinct keys — the generic "how many fingerprints overlap" join
    behind audio-landmark and video-frame-hash near-dup (and any other
    set-overlap signature). Equi-join on the key, never all-pairs.

    ``max_key_freq``: the degenerate-key guard (stop-shingle trick) — a
    key carried by more than this many ids contributes a QUADRATIC
    bucket (a landmark every audio shares, a black frame every video
    has) while carrying no discriminative signal; dropping it bounds the
    join at the cost of undercounting n_shared for pairs that relied on
    it. Default None keeps exact overlap counts."""
    rel = df.select(
        F.col(id_col).alias("id"), F.col(key_col).alias("key")
    ).distinct()
    if max_key_freq is not None:
        hot = (
            rel.groupBy("key")
            .agg(F.count(F.lit(1)).alias("__n"))
            .where(F.col("__n") > max_key_freq)
            .select("key")
        )
        rel = rel.join(hot, "key", "left_anti")
    a, b = rel.alias("a"), rel.alias("b")
    return (
        a.join(
            b,
            (F.col("a.key") == F.col("b.key"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .groupBy(F.col("a.id").alias("id1"), F.col("b.id").alias("id2"))
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .where(F.col("n_shared") >= min_shared)
    )

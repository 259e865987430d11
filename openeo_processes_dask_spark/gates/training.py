"""LLM-training-pipeline gate queries (dedup/sampling/text/similarity/clustering).

Sliced verbatim from the round-2 ``__spark_entry__.py`` (round 3 split);
query/oracle semantics unchanged. See gates/__init__.py for registry order.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession  # noqa: F401
from pyspark.sql import functions as F  # noqa: F401

from .common import (
    _STOPWORDS_SQL,
    _TOKS,
    _fixture_dir,
    _fixture_done,
    _round6,
    _setup,
    _table,
)
from .oracle_builders import (
    _corpus_mix_oracle_sql,
    _dedup_clusters_oracle_sql,
    _audio_near_dups_oracle_sql,
    _bpe_ids_oracle_sql,
    _bpe_tokens_oracle_sql,
    _tokenize_pack_oracle_sql,
    _video_near_dups_oracle_sql,
    _scene_changes_oracle_sql,
    _image_near_dups_oracle_sql,
    _image_incremental_oracle_sql,
    _audio_incremental_oracle_sql,
    _pagerank_oracle_sql,
    _harmonic_oracle_sql,
    _semdedup_oracle_sql,
    _semdedup_recall_oracle_sql,
    _semdedup_incremental_oracle_sql,
    _logreg_quality_oracle_sql,
    _subsequence_topk_oracle_sql,
    _random_projection_oracle_sql,
    _embedding_near_dups_oracle_sql,
    _ivf_topk_oracle_sql,
    _cosine_topk_batch_oracle_sql,
    _ann_recall_oracle_sql,
    _dedup_recall_oracle_sql,
    _ivf_index_search_oracle_sql,
    _kmeans_oracle_sql,
    _lsh_topk_oracle_sql,
    _minhash_oracle_sql,
    _minhash_incremental_oracle_sql,
    _simhash_incremental_oracle_sql,
    _ingest_screen_oracle_sql,
    _ingest_screen_multimodal_oracle_sql,
    _leakage_split_oracle_sql,
    _isotonic_oracle_sql,
    _pq_topk_oracle_sql,
    _simhash_oracle_sql,
)

def q_dedup_exact(spark, sf_dir):
    _setup(spark)
    from openeo_processes_dask_spark.training.dedup import exact_duplicates

    docs = _table(spark, sf_dir, "documents")
    return exact_duplicates(docs, "doc_id", "text")


def q_training_pipeline(spark, sf_dir):
    """The training-data lane end-to-end in ONE oracle-checked query:
    Gopher quality filter -> exact dedup (canonical min-id per
    fingerprint) -> stratified sample -> train/val split -> shard ->
    contiguous sequence packing. Every stage is shuffle-minimal (filter
    and sample are scans; dedup is one digest aggregate; packing is a
    per-shard window) and every stage reuses an operator that also has
    its own standalone gate."""
    _setup(spark)
    from openeo_processes_dask_spark.training.dedup import exact_duplicates
    from openeo_processes_dask_spark.training.filtering import gopher_filter
    from openeo_processes_dask_spark.training.sampling import (
        assign_shards,
        pack_tokens_contiguous,
        sample_stratified,
        split_assign,
    )

    docs = _table(spark, sf_dir, "documents")
    kept = gopher_filter(docs, min_words=30, min_stopwords=1)
    canon = exact_duplicates(kept, "doc_id", "text").select(
        F.col("keep_id").alias("doc_id")
    )
    ded = kept.join(canon, "doc_id", "left_semi")
    samp = sample_stratified(
        ded, {"en": 1.0, "de": 0.5}, "lang", seed=13, default=0.2
    )
    train = split_assign(samp, {"train": 0.9, "val": 0.1}, seed=17).where(
        F.col("split") == "train"
    )
    sharded = assign_shards(train, 4, seed=19)
    return pack_tokens_contiguous(sharded, 2048, "n_chars", shard_col="shard")


def q_dedup_incremental(spark, sf_dir):
    """Incremental dedup (training/dedup.py dedup_against): the "new"
    batch is the odd-id docs plus re-ingested copies of the even-id docs
    (ids shifted +10⁶); against the even-id "seen" corpus, exactly the
    copies must drop — fingerprints-only LEFT ANTI join."""
    _setup(spark)
    from openeo_processes_dask_spark.training.dedup import dedup_against

    docs = _table(spark, sf_dir, "documents")
    seen = docs.where(F.col("doc_id") % 2 == 0)
    new = docs.where(F.col("doc_id") % 2 == 1).unionByName(
        seen.withColumn("doc_id", F.col("doc_id") + F.lit(1_000_000))
    )
    return dedup_against(new, seen).select("doc_id", "lang", "source")


def q_sample_stratified(spark, sf_dir):
    """Deterministic stratified Bernoulli sample (training/sampling.py):
    per-language keep rates as a pure scan filter — md5-hash uniform, so
    the DuckDB oracle reproduces the exact row set."""
    _setup(spark)
    from openeo_processes_dask_spark.training.sampling import sample_stratified

    docs = _table(spark, sf_dir, "documents")
    out = sample_stratified(
        docs, {"en": 0.5, "de": 0.25}, "lang", seed=7, default=0.1
    )
    return out.select("doc_id", "lang", "source")


def q_cap_per_source(spark, sf_dir):
    """Per-(lang, source) quota cap: top-4 by n_chars (ties on doc_id) —
    row_number ≤ k compiles to WindowGroupLimit, so map tasks forward at
    most k rows per group before the exchange (training/sampling.py)."""
    _setup(spark)
    from openeo_processes_dask_spark.training.sampling import cap_per_group

    docs = _table(spark, sf_dir, "documents")
    out = cap_per_group(
        docs, ["lang", "source"], 4, [F.col("n_chars").desc(), F.col("doc_id")]
    )
    return out.select("doc_id", "lang", "source", "n_chars")


def q_pack_contiguous(spark, sf_dir):
    """GPT-style sequence packing: hash-shard documents, concatenate per
    shard in doc_id order, cut every 4096 chars; one (doc, segment) row
    per overlap (training/sampling.py pack_tokens_contiguous). Window
    cumsum partitioned by shard — never a global single-task window."""
    _setup(spark)
    from openeo_processes_dask_spark.training.sampling import (
        assign_shards,
        pack_tokens_contiguous,
    )

    docs = assign_shards(_table(spark, sf_dir, "documents"), 8, seed=3)
    return pack_tokens_contiguous(docs, 4096, "n_chars", shard_col="shard")


def q_split_assign(spark, sf_dir):
    """Deterministic train/val/test split (training/sampling.py): pure
    hash-range projection, exactly replicable in the oracle's md5 math."""
    _setup(spark)
    from openeo_processes_dask_spark.training.sampling import split_assign

    docs = _table(spark, sf_dir, "documents")
    out = split_assign(
        docs, {"train": 0.8, "val": 0.1, "test": 0.1}, seed=11
    )
    return out.select("doc_id", "lang", "split")


def q_repetition_stats(spark, sf_dir):
    """Gopher-style 2-gram repetition counters (training/filtering.py):
    one no-shuffle fold over sorted gram arrays; integer counts so the
    unnest+GROUP BY DuckDB twin matches exactly."""
    _setup(spark)
    from openeo_processes_dask_spark.training.filtering import ngram_repetition

    docs = _table(spark, sf_dir, "documents")
    out = ngram_repetition(docs.select("doc_id", "text"), 2)
    return out.select(
        "doc_id",
        *[
            F.col(f"g2_{f}").cast("long").alias(f)
            for f in ("top_run", "top_chars", "dup_occ", "dup_chars", "tot_chars", "n_grams")
        ],
    )


def q_gopher_filter(spark, sf_dir):
    """Gopher rule flags (word band, mean-word-length band, alpha ratio,
    stopwords, 2-gram dominance, duplicated 5-grams) + combined keep —
    entirely map-side (test_no_shuffle_in_plan asserts no Exchange)."""
    _setup(spark)
    from openeo_processes_dask_spark.training.filtering import gopher_flags

    docs = _table(spark, sf_dir, "documents")
    out = gopher_flags(docs.select("doc_id", "text"), min_words=30, min_stopwords=1)
    return out.select(
        "doc_id", "ok_words", "ok_word_len", "ok_alpha", "ok_stopwords",
        "ok_top2gram", "ok_dup5gram", "keep",
    )


def q_token_count(spark, sf_dir):
    _setup(spark)
    from openeo_processes_dask_spark.training.textanalysis import token_count

    docs = _table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", token_count(F.col("text")).alias("n_tokens")
    )


def q_text_quality(spark, sf_dir):
    _setup(spark)
    from openeo_processes_dask_spark.training.textanalysis import (
        doc_fingerprint,
        quality_score,
    )

    docs = _table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.round(quality_score(F.col("text")), 6).alias("quality"),
        doc_fingerprint(F.col("text")).alias("fingerprint"),
    )


def q_language_id(spark, sf_dir):
    _setup(spark)
    from openeo_processes_dask_spark.training.textanalysis import language_id

    docs = _table(spark, sf_dir, "documents")
    return docs.select("doc_id", language_id(F.col("text")).alias("lang_pred"))


def q_ngram_jaccard(spark, sf_dir):
    _setup(spark)
    from openeo_processes_dask_spark.training.dedup import ngram_jaccard_pairs

    docs = _table(spark, sf_dir, "documents")
    out = ngram_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.2)
    return _round6(out, "jaccard")


def q_jaccard_prefix(spark, sf_dir):
    """Prefix-filtered exact Jaccard join (training/dedup.py
    jaccard_prefix_pairs — AllPairs/PPJoin prefix lemma, recall exactly
    1). The oracle is the brute-force all-shared-shingle join: prefix
    filtering must reproduce it bit-for-bit."""
    _setup(spark)
    from openeo_processes_dask_spark.training.dedup import jaccard_prefix_pairs

    docs = _table(spark, sf_dir, "documents")
    out = jaccard_prefix_pairs(docs, "doc_id", "text", n=3, threshold=0.35)
    return _round6(out, "jaccard")


def q_minhash_near_dups(spark, sf_dir):
    _setup(spark)
    from openeo_processes_dask_spark.training.dedup import minhash_near_duplicates

    docs = _table(spark, sf_dir, "documents")
    out = minhash_near_duplicates(
        docs, "doc_id", "text", n=3, num_hashes=64, bands=16, threshold=0.2
    )
    return _round6(out, "est_jaccard")


def q_dedup_recall(spark, sf_dir):
    """Recall/precision of the MinHash-LSH pair set against exact n-gram
    Jaccard at the same threshold (training/dedup.py dedup_pair_recall) —
    the measurement that tunes bands/hashes before a 100 TB dedup run.
    Both branches of the oracle reuse the proven ngram_jaccard /
    minhash_near_dups twins."""
    _setup(spark)
    from openeo_processes_dask_spark.training.dedup import (
        dedup_pair_recall,
        minhash_near_duplicates,
        ngram_jaccard_pairs,
    )

    docs = _table(spark, sf_dir, "documents")
    exact = ngram_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.2)
    approx = minhash_near_duplicates(
        docs, "doc_id", "text", n=3, num_hashes=64, bands=16, threshold=0.2
    )
    return dedup_pair_recall(exact, approx)


def q_semantic_dedup_recall(spark, sf_dir):
    """SemDeDup recall harness (VERDICT r10 #7): the within-cluster
    candidate generation (training/similarity.py semdedup_pairs — the
    k-means-partitioned cosine stage of the proven semdedup gate) scored
    against BRUTE-FORCE cosine truth at the same threshold over a capped
    400-vector sample (the literal cap bounds the O(N²) truth branch;
    at scale you always sample for a recall measurement — the cap IS
    the harness contract, same as dedup_recall's fixture). Both oracle
    branches reuse the proven kmeans/semdedup SQL twins."""
    _setup(spark)
    from openeo_processes_dask_spark.training.dedup import dedup_pair_recall
    from openeo_processes_dask_spark.training.similarity import (
        cosine_pairs_bruteforce,
        semdedup_pairs,
    )

    emb = _table(spark, sf_dir, "embeddings").where(F.col("vec_id") < 400)
    exact = cosine_pairs_bruteforce(emb, threshold=0.2)
    approx = semdedup_pairs(emb, k=8, threshold=0.2, iterations=2)
    return dedup_pair_recall(exact, approx)


def q_semantic_dedup_planted(spark, sf_dir):
    """POSITIVE control for the SemDeDup recall harness (NEW r11): the
    natural fixture has no high-cosine families (zero pairs above 0.5),
    so semantic_dedup_recall's 0.257 is an honest negative reading but
    proves nothing about the lane's ability to FIND dups that exist.
    Here exact copies are planted (vec_id+100000, identical vectors —
    cosine exactly 1), truth at τ=0.9 is exactly the 300 planted pairs
    (all natural pairs sit below 0.5), and identical vectors always
    share a k-means cluster, so the harness must read recall = 1.0 and
    precision = 1.0 — pinning both controls of the measurement."""
    _setup(spark)
    from openeo_processes_dask_spark.training.dedup import dedup_pair_recall
    from openeo_processes_dask_spark.training.similarity import (
        cosine_pairs_bruteforce,
        semdedup_pairs,
    )

    emb = (
        _table(spark, sf_dir, "embeddings")
        .where(F.col("vec_id") < 300)
        .select("vec_id", "embedding")
    )
    copies = emb.select(
        (F.col("vec_id") + F.lit(100000)).alias("vec_id"), "embedding"
    )
    planted = emb.unionByName(copies)
    exact = cosine_pairs_bruteforce(planted, threshold=0.9)
    approx = semdedup_pairs(planted, k=8, threshold=0.9, iterations=2)
    return dedup_pair_recall(exact, approx)


def q_semantic_dedup_incremental(spark, sf_dir):
    """Incremental SemDeDup (training/similarity.py
    semdedup_incremental, NEW r12 — VERDICT r11 #6): the ingest twin
    the exact/MinHash lanes already have, at the embedding granularity
    (Abbas et al. 2023's production loop). Centroids fit on the
    ARCHIVE (vec_id < 300) only; the NEW batch (vec_id 300-449 plus
    planted exact copies of every 50th archive vector at id+10000)
    assigns against those persisted centroids and compares only with
    archive members of its own cluster — the archive is never
    rescanned. Planted copies must read keep=false (their archive twin
    is canonical); organic rows keep unless a >=0.2-cosine archive
    neighbor shares the cluster. Oracle replays centroids, both
    assignments, and the within-cluster cosine."""
    _setup(spark)
    from openeo_processes_dask_spark.training.clustering import kmeans_fit
    from openeo_processes_dask_spark.training.similarity import (
        _tag_members,
        semdedup_incremental,
    )

    emb = _table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding"
    )
    archive = emb.where(F.col("vec_id") < 300)
    new = emb.where(
        (F.col("vec_id") >= 300) & (F.col("vec_id") < 450)
    ).unionByName(
        emb.where(
            (F.col("vec_id") < 300) & (F.col("vec_id") % 50 == 0)
        ).select(
            (F.col("vec_id") + F.lit(10000)).alias("vec_id"), "embedding"
        )
    )
    cents = kmeans_fit(archive, k=8, iterations=2)
    members = _tag_members(archive, cents, "vec_id", "embedding")
    return semdedup_incremental(new, members, cents, threshold=0.2)


def q_minhash_incremental(spark, sf_dir):
    """Cross-snapshot NEAR-dup screen (training/dedup.py
    minhash_incremental): new batch (doc_id%5==0, id+1e6, ' qq7'
    appended) banded against the seen corpus' signature table — archive
    text never rescanned, candidates strictly new x seen. Same hash
    family as the batch gate; oracle replays both signature sets."""
    _setup(spark)
    from openeo_processes_dask_spark.training.dedup import (
        minhash_incremental,
        minhash_signatures,
    )

    docs = _table(spark, sf_dir, "documents")
    new = docs.where(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" qq7")).alias("text"),
    )
    # persisted-signature-table analog (r13, guide §2.4): the screen
    # consumes the archive signatures twice (banding + verification
    # join) and AQE's stage reuse only shares the text shuffle, not the
    # shingle aggregate — materialize the table once, as production
    # does. The archive and new-batch signature builds are independent
    # — overlap them (guide §2.6); same jobs, same results.
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=2) as pool:
        f_seen = pool.submit(
            lambda: minhash_signatures(
                docs, "doc_id", "text", n=3, num_hashes=64
            ).localCheckpoint(eager=True)
        )
        f_new = pool.submit(
            lambda: minhash_signatures(
                new, "doc_id", "text", 3, 64
            ).localCheckpoint(eager=True)
        )
        seen_sigs = f_seen.result()
        new_sigs = f_new.result()
    return minhash_incremental(
        new, seen_sigs, n=3, num_hashes=64, bands=16, threshold=0.2,
        new_signatures=new_sigs,
    )


def q_simhash_incremental(spark, sf_dir):
    """Cross-snapshot SimHash screen (training/dedup.py
    simhash_incremental, NEW r12): new batch (doc_id%5==0, id+1e6,
    ' qq7' appended — a one-token perturbation that flips only a few
    signature bits) banded against the seen corpus' int64 signature
    table — archive text never re-tokenized, candidates strictly
    new x seen, exact popcount verify. Completes the incremental
    matrix (exact / MinHash / semantic / Hamming). Oracle replays both
    signature sets with the proven SimHash vote SQL."""
    _setup(spark)
    from openeo_processes_dask_spark.training.dedup import (
        simhash_incremental,
        simhash_signatures,
    )

    docs = _table(spark, sf_dir, "documents")
    # persisted-signature-table analog (r13): banding + popcount verify
    # both read the archive signatures — materialize once
    seen_sigs = simhash_signatures(docs, "doc_id", "text").localCheckpoint(
        eager=True
    )
    new = docs.where(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" qq7")).alias("text"),
    )
    return simhash_incremental(new, seen_sigs, max_hamming=6, bands=4)


def q_ingest_screen(spark, sf_dir):
    """Composed ingest verdict (training/dedup.py ingest_screen, NEW
    r12): the per-increment screening decision every ongoing corpus
    build makes, as ONE relation — exact (persisted fingerprint table)
    + MinHash (persisted signature table) against a three-lane new
    batch: perturbed near-dups (doc_id%5, +1e6, ' qq7'), exact copies
    (doc_id%10==3, +2e6), and fresh documents (doc_id%7==1, +3e6,
    synthesized distinct text). Exact copies must read exact_dup AND
    near_dup (identical signatures); perturbed docs near_dup only;
    fresh docs keep. Oracle composes the fingerprint semi-join with
    the proven minhash-incremental SQL over the same batch."""
    _setup(spark)
    from openeo_processes_dask_spark.training.dedup import (
        ingest_screen,
        minhash_signatures,
    )

    docs = _table(spark, sf_dir, "documents")
    i = F.col("doc_id")
    new = (
        docs.where(i % 5 == 0).select(
            (i + 1000000).alias("doc_id"),
            F.concat(F.col("text"), F.lit(" qq7")).alias("text"),
        )
        .unionByName(
            docs.where(i % 10 == 3).select(
                (i + 2000000).alias("doc_id"), "text"
            )
        )
        .unionByName(
            docs.where(i % 7 == 1).select(
                (i + 3000000).alias("doc_id"),
                F.concat(
                    F.lit("fresh zz"), i.cast("string"),
                    F.lit("qx wholly new content row"),
                ).alias("text"),
            )
        )
    )
    seen_fps = docs.select(
        F.md5(
            F.regexp_replace(
                F.lower(F.trim(F.col("text"))), r"\s+", " "
            )
        ).alias("fingerprint")
    )
    # Overlap the INDEPENDENT materializations (guide §2.6): the
    # increment-batch checkpoint (id spine, fingerprint lane), the
    # batch's own signature table, and the persisted-signature-table
    # analog all depend only on the documents scan; running them from
    # a thread pool back-fills each other's stage tails. r14: the
    # batch signature build starts from the batch PLAN instead of
    # waiting on the batch checkpoint — same rows either way, and the
    # pool's critical path drops from (ckpt + sigs) to max(ckpt, sigs).
    # Same computation, same results, nothing persists across runs.
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=3) as pool:
        f_new = pool.submit(lambda: new.localCheckpoint(eager=True))
        f_new_sigs = pool.submit(
            lambda: minhash_signatures(
                new, "doc_id", "text", 3, 64
            ).localCheckpoint(eager=True)
        )
        f_sigs = pool.submit(
            lambda: minhash_signatures(
                docs, "doc_id", "text", n=3, num_hashes=64
            ).localCheckpoint(eager=True)
        )
        new_ckpt = f_new.result()
        new_sigs = f_new_sigs.result()
        seen_sigs = f_sigs.result()
    return ingest_screen(
        new_ckpt, seen_fps, seen_sigs, n=3, num_hashes=64, bands=16,
        threshold=0.2, new_signatures=new_sigs,
    )


def _multimodal_ingest_fixture(spark, sf_dir, with_new_sigs=False):
    """Shared fixture for the multimodal ingest gates (r13, VERDICT
    r12 #4): archive = ids < 300 carrying ALL modalities (text from
    documents, embedding from embeddings — the tables share the id
    space — and a deterministic md5-derived 60-bit perceptual
    signature); new batch = text-perturbed/psig-bit-flipped rows
    (+1e6, ' qq7', psig^5 — hamming 2, same embedding), verbatim
    copies (+2e6 — every lane fires), and fresh rows (organic
    embeddings 300-449, synthesized text, fresh psig). Returns
    (new, seen_fps, seen_sigs, members, cents, seen_hashes);
    ``with_new_sigs=True`` appends the new batch's own materialized
    MinHash signature table (built inside the overlap pool, chained
    after the batch checkpoint) for consumers that pass it through
    ``new_signatures``."""
    from openeo_processes_dask_spark.training.clustering import kmeans_fit
    from openeo_processes_dask_spark.training.dedup import (
        _md5_to_long,
        minhash_signatures,
    )
    from openeo_processes_dask_spark.training.similarity import _tag_members

    docs = _table(spark, sf_dir, "documents").select("doc_id", "text")
    emb = _table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    arch_plan = (
        docs.join(emb, docs.doc_id == emb.vec_id)
        .select(
            "doc_id", "text", "embedding",
            _md5_to_long(F.col("doc_id").cast("string")).alias("psig"),
        )
        .where(F.col("doc_id") < 300)
    )
    # r14 (guide §2.6): k-means is the LONGEST pool job (3 serial
    # collects) and only needs the archive ROWS, not its checkpoint —
    # start it from the plan BEFORE the checkpoint action so it
    # overlaps everything below. Recomputing the small docs⋈emb join
    # inside its jobs costs far less than serializing behind the
    # checkpoint; identical rows -> bit-identical centroids
    # (snap/md5 deterministic, oracle-pinned).
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=4) as pool:
        f_cents = pool.submit(
            kmeans_fit, arch_plan, 8, 2, "doc_id", "embedding"
        )
        # r13 (guide §2.4/§5): the archive relation feeds SIX consumers
        # (three new-batch branches, fingerprints, signatures, k-means +
        # membership + hashes) — in production it IS a persisted table;
        # materialize its local analog once instead of re-running the
        # docs⋈emb join per consumer. localCheckpoint blocks are
        # ContextCleaner-released on GC; results identical (oracle-pinned).
        arch = arch_plan.localCheckpoint(eager=True)
        i = F.col("doc_id")
        new_plan = (
            arch.where(i % 5 == 0).select(
                (i + 1000000).alias("doc_id"),
                F.concat(F.col("text"), F.lit(" qq7")).alias("text"),
                "embedding",
                F.col("psig").bitwiseXOR(F.lit(5)).alias("psig"),
            )
            .unionByName(
                arch.where(i % 10 == 3).select(
                    (i + 2000000).alias("doc_id"), "text", "embedding", "psig"
                )
            )
            .unionByName(
                emb.where(
                    (F.col("vec_id") >= 300) & (F.col("vec_id") < 450)
                ).select(
                    F.col("vec_id").alias("doc_id"),
                    F.concat(
                        F.lit("fresh zz"), F.col("vec_id").cast("string"),
                        F.lit("qx wholly new content row"),
                    ).alias("text"),
                    "embedding",
                    _md5_to_long(
                        F.concat(F.lit("f"), F.col("vec_id").cast("string"))
                    ).alias("psig"),
                )
            )
        )
        seen_fps = arch.select(
            F.md5(
                F.regexp_replace(
                    F.lower(F.trim(F.col("text"))), r"\s+", " "
                )
            ).alias("fingerprint")
        )
        # Overlap the INDEPENDENT materialization jobs (guide §2.6): the
        # increment-batch checkpoint (five consumers), the batch signature
        # table, and the persisted-signature-table checkpoint all depend
        # only on the already-checkpointed archive — submitting them from
        # the pool (which is already running the k-means fit started above,
        # before the archive checkpoint) back-fills the executor gaps each
        # serial action's tail would leave idle. Each branch computes
        # exactly what it did serially; results and the zero-caching
        # contract are unchanged.
        f_new = pool.submit(lambda: new_plan.localCheckpoint(eager=True))
        # r14: the batch signature table builds from the batch PLAN
        # (arch is already checkpointed, so the 3-branch union is a
        # cheap re-derivation) instead of waiting on the batch
        # checkpoint — the pool's critical path drops from
        # (ckpt + sigs) to max(ckpt, sigs); identical rows either way.
        f_new_sigs = (
            pool.submit(
                lambda: minhash_signatures(
                    new_plan, "doc_id", "text", 3, 64
                ).localCheckpoint(eager=True)
            )
            if with_new_sigs
            else None
        )
        f_sigs = pool.submit(
            lambda: minhash_signatures(
                arch, "doc_id", "text", n=3, num_hashes=64
            ).localCheckpoint(eager=True)
        )
        new = f_new.result()
        new_sigs = f_new_sigs.result() if f_new_sigs is not None else None
        seen_sigs = f_sigs.result()
        cents = f_cents.result()
    members = _tag_members(arch, cents, "doc_id", "embedding")
    seen_hashes = arch.select("doc_id", "psig")
    if with_new_sigs:
        return (
            new, seen_fps, seen_sigs, members, cents, seen_hashes,
            new_sigs,
        )
    return new, seen_fps, seen_sigs, members, cents, seen_hashes


def q_ingest_screen_multimodal(spark, sf_dir):
    """Full multi-modality ingest verdict (training/dedup.py
    ingest_screen_multimodal, NEW r13 — VERDICT r12 #4): the four r12
    screens composed into ONE per-increment relation — exact
    fingerprint + MinHash text + semantic (persisted centroids/
    membership) + perceptual (64-bit banded Hamming) — all against
    persisted archive tables; archive text/embeddings/media never
    re-read. Verbatim copies must fire every lane; perturbed rows the
    three near lanes; fresh rows keep unless an organic 0.35-cosine
    archive twin shares the cluster (data-dependent: ~27 rows). Oracle composes the proven
    per-lane SQL in one CTE chain."""
    _setup(spark)
    from openeo_processes_dask_spark.training.dedup import (
        ingest_screen_multimodal,
    )

    new, seen_fps, seen_sigs, members, cents, seen_hashes, new_sigs = (
        _multimodal_ingest_fixture(spark, sf_dir, with_new_sigs=True)
    )
    return ingest_screen_multimodal(
        new, seen_fps, seen_sigs, members, cents, seen_hashes,
        n=3, num_hashes=64, bands=16, text_threshold=0.2,
        sem_threshold=0.35, max_hamming=3, hash_bands=8,
        new_signatures=new_sigs,
    )


#: Version of the persisted signature table; bump it when the MinHash
#: family (seed, ``num_hashes``, shingling) or the fixture changes, so a
#: table written by older code is rewritten instead of read.
_SIGNATURE_ARCHIVE_VERSION = 1


def _signature_archive(seen_sigs: DataFrame, sf_dir: str) -> str:
    """Write the corpus-side signature table to parquet once, as a
    production loop would, and return its path. The guarded fixture dir
    rewrites it when the completion marker is missing or carries another
    version (an unversioned ``_DONE`` marker included)."""
    import os

    d, fresh = _fixture_dir("prebanded", sf_dir, _SIGNATURE_ARCHIVE_VERSION)
    path = os.path.join(d, "sigs")
    if fresh:
        seen_sigs.write.mode("overwrite").parquet(path)
        _fixture_done(d, _SIGNATURE_ARCHIVE_VERSION)
    return path


def q_ingest_screen_prebanded(spark, sf_dir):
    """The composed text ingest verdict against the archive's
    PERSISTED signature table (training/dedup.py ingest_screen): the
    signatures are written to parquet once, corpus-side, and the screen
    reads them back, so the archive text is never re-tokenized and the
    archive banding runs from a columnar scan. No banded table is
    written or read: a persisted band table measured no faster than
    banding inline. Same fixture, same verdicts, same oracle as
    ingest_screen — the persisted path must be invisible in the
    result."""
    _setup(spark)
    from openeo_processes_dask_spark.training.dedup import (
        ingest_screen,
        minhash_signatures,
    )

    docs = _table(spark, sf_dir, "documents")
    i = F.col("doc_id")
    new = (
        docs.where(i % 5 == 0).select(
            (i + 1000000).alias("doc_id"),
            F.concat(F.col("text"), F.lit(" qq7")).alias("text"),
        )
        .unionByName(
            docs.where(i % 10 == 3).select(
                (i + 2000000).alias("doc_id"), "text"
            )
        )
        .unionByName(
            docs.where(i % 7 == 1).select(
                (i + 3000000).alias("doc_id"),
                F.concat(
                    F.lit("fresh zz"), i.cast("string"),
                    F.lit("qx wholly new content row"),
                ).alias("text"),
            )
        )
    )
    # increment-batch analog (r13): the new batch is a landed file set in
    # production; materialize the three-branch union once instead of
    # re-deriving it per consumer (id spine, fingerprint lane, signatures)
    new = new.localCheckpoint(eager=True)
    seen_fps = docs.select(
        F.md5(
            F.regexp_replace(
                F.lower(F.trim(F.col("text"))), r"\s+", " "
            )
        ).alias("fingerprint")
    )
    seen_sigs = minhash_signatures(docs, "doc_id", "text", n=3, num_hashes=64)
    return ingest_screen(
        new, seen_fps,
        spark.read.parquet(_signature_archive(seen_sigs, sf_dir)),
        n=3, num_hashes=64, bands=16, threshold=0.2,
    )


def q_dedup_clusters(spark, sf_dir):
    """Connected components over the MinHash pair graph + per-cluster
    canonical-id summary (training/dedup.py connected_components /
    dedup_clusters): the step that turns pairwise matches into keep-lists.
    Oracle: recursive-CTE transitive closure over the SAME pair SQL."""
    _setup(spark)
    from openeo_processes_dask_spark.training.dedup import (
        connected_components,
        minhash_near_duplicates,
    )

    docs = _table(spark, sf_dir, "documents")
    pairs = minhash_near_duplicates(
        docs, "doc_id", "text", n=3, num_hashes=64, bands=16, threshold=0.2
    )
    return connected_components(pairs).orderBy("id")


def q_dedup_clusters_star(spark, sf_dir):
    """Same MinHash pair graph as dedup_clusters with every pair's
    endpoints swapped (``id2 AS id1, id1 AS id2``), clustered by the
    large-star/small-star connected_components (training/dedup.py,
    Kiveris et al. 2014). Checks that the labels do not depend on edge
    orientation: each label is its component's minimum id, so the
    unswapped recursive-CTE oracle's rows still hold."""
    _setup(spark)
    from openeo_processes_dask_spark.training.dedup import (
        connected_components,
        minhash_near_duplicates,
    )

    docs = _table(spark, sf_dir, "documents")
    pairs = minhash_near_duplicates(
        docs, "doc_id", "text", n=3, num_hashes=64, bands=16, threshold=0.2
    )
    swapped = pairs.selectExpr("id2 AS id1", "id1 AS id2")
    return connected_components(swapped).orderBy("id")


def q_segment_dedup(spark, sf_dir):
    """Sub-document exact dedup at 10-word-chunk granularity
    (training/dedup.py segment_duplicates — the RefinedWeb/FineWeb
    boilerplate-removal move): explode chunks -> digest -> one hash
    aggregate; only digests shuffle."""
    _setup(spark)
    from openeo_processes_dask_spark.training.dedup import segment_duplicates

    docs = _table(spark, sf_dir, "documents")
    return segment_duplicates(docs, "doc_id", "text", segment_words=10)


def q_decontaminate(spark, sf_dir):
    """Benchmark decontamination (training/dedup.py decontaminate): docs
    sharing any 5-gram with the held-out 'benchmark' slice (doc_id % 53
    == 0) are flagged with their offending-shingle count. Digest-only
    broadcast join — document text never shuffles."""
    _setup(spark)
    from openeo_processes_dask_spark.training.dedup import decontaminate

    docs = _table(spark, sf_dir, "documents")
    bench = docs.where(F.col("doc_id") % 53 == 0)
    train = docs.where(F.col("doc_id") % 53 != 0)
    out = decontaminate(train, bench, "doc_id", "text", n=5)
    return out.select(F.col("id").alias("doc_id"), "n_shared")


def q_tfidf_top_terms(spark, sf_dir):
    """Corpus TF-IDF keyword extraction (training/textanalysis.py
    tfidf_top_terms): one (id, term) aggregate + vocabulary-sized df
    aggregate + WindowGroupLimit top-k; deterministic ties (score DESC,
    term ASC) make the DuckDB window oracle exact."""
    _setup(spark)
    from openeo_processes_dask_spark.training.textanalysis import (
        tfidf_top_terms,
    )

    docs = _table(spark, sf_dir, "documents")
    out = tfidf_top_terms(docs, "doc_id", "text", k=3)
    return out.select(
        F.col("id").alias("doc_id"), "term", "rank", "tfidf"
    )


def q_logreg_quality(spark, sf_dir):
    """Model-based quality classifier (training/classifier.py): hashed
    bag-of-words features + full-batch logistic regression with integer
    micro-unit gradients — deterministic for ANY input partitioning, so
    the oracle re-trains the identical model sequentially and evaluates
    the learned weights in SQL. Label: lang == 'en'."""
    _setup(spark)
    from openeo_processes_dask_spark.training.classifier import (
        fit_logreg,
        hashed_features,
        predict_logreg,
    )

    dim = 32
    docs = _table(spark, sf_dir, "documents")
    feats = hashed_features(docs, "doc_id", "text", dim=dim)
    labels = docs.select(
        F.col("doc_id").alias("id"),
        (F.col("lang") == "en").cast("double").alias("y"),
    )
    w = fit_logreg(feats, labels, dim, iterations=3, lr=1.0)
    out = predict_logreg(feats, w, dim)
    return out.select(
        F.col("id").alias("doc_id"), F.round("score", 6).alias("score")
    )


def q_subsequence_topk(spark, sf_dir):
    """Time-series subsequence search (training/tsearch.py, PAPERS.md
    REPOSE/Odyssey family): top-20 windows across all (user, band) event
    series by z-normalized Euclidean distance to a literal spike pattern.
    One collect_list window pass, fold-expression distances,
    TakeOrderedAndProject top-k."""
    _setup(spark)
    from openeo_processes_dask_spark.training.tsearch import subsequence_topk

    ev = _table(spark, sf_dir, "events").select(
        "user_id",
        F.col("event_type").alias("band"),
        F.col("ts").cast("timestamp").alias("ts"),
        "event_id",
        "value",
    )
    return subsequence_topk(
        ev,
        pattern=[10.0, 200.0, 10.0, 200.0, 10.0],
        key_cols=["user_id", "band"],
        time_col="ts",
        value_col="value",
        k=20,
        tiebreak_cols=["user_id", "band", "ts", "event_id"],
    )


def q_random_projection(spark, sf_dir):
    """Seeded ±1 Johnson–Lindenstrauss projection of the embedding column
    (training/similarity.py random_projection): literal matrix baked into
    the plan, one fused fold per output component, no shuffle/UDF.
    Components exploded to rows for an engine-portable compare."""
    _setup(spark)
    from openeo_processes_dask_spark.training.similarity import (
        random_projection,
    )

    emb = _table(spark, sf_dir, "embeddings")
    out = random_projection(emb, "embedding", out_dim=8, seed=42)
    return out.select("vec_id", F.posexplode("proj")).toDF(
        "vec_id", "j", "pval"
    )


def q_simhash_near_dups(spark, sf_dir):
    _setup(spark)
    from openeo_processes_dask_spark.training.dedup import simhash_near_duplicates

    docs = _table(spark, sf_dir, "documents")
    return simhash_near_duplicates(docs, "doc_id", "text", max_hamming=6)


def q_cosine_topk(spark, sf_dir):
    _setup(spark)
    from openeo_processes_dask_spark.training.similarity import cosine_topk

    emb = _table(spark, sf_dir, "embeddings")
    query = emb.where(F.col("vec_id") == 0).select("embedding").first()[0]
    return cosine_topk(emb, [float(v) for v in query], k=10)


def q_standardize_embeddings(spark, sf_dir):
    """Per-dimension z-standardization (training/similarity.py
    standardize_embeddings): micro-snapped components, exact decimal
    moments per dim, broadcast join back — float only in the final
    (x-mean)/std from exact scalars. Long (id, dim, z) output."""
    _setup(spark)
    from openeo_processes_dask_spark.training.similarity import (
        standardize_embeddings,
    )

    return standardize_embeddings(_table(spark, sf_dir, "embeddings"))


def q_kmeans_clusters(spark, sf_dir):
    """Distributed k-means (training/clustering.py): micro-unit snapping
    makes every per-cluster sum exact in any order, so the unrolled-CTE
    DuckDB twin matches the engine bit-for-bit — no tolerance at all."""
    _setup(spark)
    from openeo_processes_dask_spark.training.clustering import (
        kmeans_assign,
        kmeans_fit,
    )

    emb = _table(spark, sf_dir, "embeddings")
    cents = kmeans_fit(emb, k=8, iterations=2)
    return kmeans_assign(emb, cents)


def q_pq_topk(spark, sf_dir):
    """PQ/ADC approximate top-k (training/similarity.py): 4×16-dim
    subspaces, 8 seed-sampled centroids each; encode = one projection,
    score = element_at LUT lookups summed in fixed order, TakeOrdered.
    Oracle replicates codebooks/encode/LUT with the same fold-left
    arithmetic."""
    _setup(spark)
    from openeo_processes_dask_spark.training.similarity import pq_topk

    emb = _table(spark, sf_dir, "embeddings")
    query = emb.where(F.col("vec_id") == 0).select("embedding").first()[0]
    return pq_topk(emb, [float(v) for v in query], k=12, m=4, ks=8)


def q_lsh_topk(spark, sf_dir):
    _setup(spark)
    from openeo_processes_dask_spark.training.similarity import lsh_topk

    emb = _table(spark, sf_dir, "embeddings")
    query = emb.where(F.col("vec_id") == 0).select("embedding").first()[0]
    # 6 planes -> ~2^6 buckets: candidate sets stay non-trivial at sf0.01
    return lsh_topk(emb, [float(v) for v in query], k=10, n_planes=6)


def q_embedding_near_dups(spark, sf_dir):
    _setup(spark)
    from openeo_processes_dask_spark.training.similarity import (
        pairwise_cosine_above,
    )

    emb = _table(spark, sf_dir, "embeddings")
    # test-scale banding: 2 bands x 4 bits (the 100 TB default is 8 x 16,
    # see training/similarity.py bucket math)
    return pairwise_cosine_above(
        emb, threshold=0.2, n_planes=4, n_bands=2
    )


def q_ivf_topk(spark, sf_dir):
    """IVF coarse-quantized ANN: seeded centroid sample, max-cosine
    assignment, nprobe-cell probe, exact re-rank (training/similarity.py).
    Every step is engine-portable (md5 sampling, fold-left dots), so the
    oracle reproduces the whole index, not just the final ranking."""
    _setup(spark)
    from openeo_processes_dask_spark.training.similarity import ivf_topk

    emb = _table(spark, sf_dir, "embeddings")
    query = emb.where(F.col("vec_id") == 0).select("embedding").first()[0]
    return ivf_topk(
        emb, [float(v) for v in query], k=10, n_centroids=16, nprobe=4
    )


def q_cosine_topk_batch(spark, sf_dir):
    """Batched exact ANN (training/similarity.py cosine_topk_batch): top-5
    per query for a 3-query batch in ONE corpus pass — broadcast query
    table, WindowGroupLimit per-query top-k. The 100 TB shape for
    evaluation/retrieval batches (Q queries ≠ Q scans)."""
    _setup(spark)
    from openeo_processes_dask_spark.training.similarity import (
        cosine_topk_batch,
    )

    emb = _table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id").isin(0, 1, 2)).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    return cosine_topk_batch(emb, queries, k=5)


def q_ann_recall(spark, sf_dir):
    """ANN recall@10 harness (training/similarity.py ann_recall): measured
    |approx ∩ exact|/k for the lsh6 and ivf16x4 configs — the oracle
    re-derives both branches from those methods' own proven twins, so
    this gate pins the EVALUATION arithmetic, not just the indexes."""
    _setup(spark)
    from openeo_processes_dask_spark.training.similarity import (
        ann_recall,
        ivf_topk,
        lsh_topk,
    )

    emb = _table(spark, sf_dir, "embeddings")
    query = [
        float(v)
        for v in emb.where(F.col("vec_id") == 0).select("embedding").first()[0]
    ]
    methods = {
        "lsh6": lambda d, q, k: lsh_topk(d, q, k, n_planes=6),
        "ivf16x4": lambda d, q, k: ivf_topk(
            d, q, k, n_centroids=16, nprobe=4
        ),
    }
    return ann_recall(emb, query, methods, k=10)


def q_ivf_index_search(spark, sf_dir):
    """Index-once / search-many IVF (training/similarity.py ivf_index +
    ivf_search_batch): the assignment table is built once and a 3-query
    batch probes nprobe cells each — the 100 TB deployment shape where
    ``assigned`` is stored partitioned by cid and probes partition-prune.
    Oracle re-derives centroid sample, assignment, probes, and re-rank."""
    _setup(spark)
    from openeo_processes_dask_spark.training.similarity import (
        ivf_index,
        ivf_search_batch,
    )

    emb = _table(spark, sf_dir, "embeddings")
    cents, assigned = ivf_index(emb, n_centroids=16)
    queries = emb.where(F.col("vec_id").isin(0, 1, 2)).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    return ivf_search_batch(assigned, cents, queries, k=5, nprobe=4)


def q_temperature_mix(spark, sf_dir):
    """Alpha-smoothed source mixture weights (training/sampling.py
    temperature_weights, the multilingual rebalancing standard
    w_s ∝ p_s^alpha): distributed group totals + broadcast scalar
    normalizers, one metadata-sized row per source."""
    _setup(spark)
    from openeo_processes_dask_spark.training.sampling import (
        temperature_weights,
    )

    docs = _table(spark, sf_dir, "documents")
    return temperature_weights(docs, alpha=0.5)


def q_weighted_sample(spark, sf_dir):
    """Exactly-20-per-language weighted sample, inclusion odds ∝ n_chars
    (training/sampling.py sample_weighted_fixed, Efraimidis-Spirakis
    A-ES): ln(u)/w ranking with the md5-uniform u, so the DuckDB oracle
    reproduces the exact selected row set."""
    _setup(spark)
    from openeo_processes_dask_spark.training.sampling import (
        sample_weighted_fixed,
    )

    docs = _table(spark, sf_dir, "documents")
    out = sample_weighted_fixed(docs, 20, "n_chars", ["lang"], seed=13)
    return out.select("doc_id", "lang", "n_chars")


def _pii_synth_text(doc_id):
    """Deterministic PII-bearing text from doc_id — the same construction
    the DuckDB oracle rebuilds, so the regex machinery (not the fixture)
    is what the gate checks."""
    s = doc_id.cast("string")
    return F.concat(
        F.lit("contact user"), s,
        F.lit("@mail.example.org or 10."),
        (doc_id % 256).cast("string"),
        F.lit(".0.1 call 555-"),
        F.lpad((doc_id * 7 % 1000).cast("string"), 3, "0"),
        F.lit("-"),
        F.lpad((doc_id * 13 % 10000).cast("string"), 4, "0"),
        F.lit(" ssn "),
        F.lpad((doc_id % 1000).cast("string"), 3, "0"),
        F.lit("-"),
        F.lpad((doc_id % 100).cast("string"), 2, "0"),
        F.lit("-"),
        F.lpad((doc_id * 3 % 10000).cast("string"), 4, "0"),
    )


def q_pii_redact(spark, sf_dir):
    """PII detect + redact (training/pii.py — LLM-pipeline lane): emails,
    IPv4s, SSNs and phone numbers synthesized deterministically from
    doc_id are counted on the raw text and masked to bracket tokens, all
    as chained regexp Column expressions (map-only, no UDF, no shuffle).
    The oracle rebuilds the same text and applies the same RE2-compatible
    patterns in DuckDB."""
    _setup(spark)
    from openeo_processes_dask_spark.training.pii import pii_redact, pii_stats

    docs = _table(spark, sf_dir, "documents").select(
        "doc_id", _pii_synth_text(F.col("doc_id")).alias("text")
    )
    out = pii_redact(
        pii_stats(docs), text_col="text", out_col="redacted"
    )
    return out.select(
        "doc_id", "redacted", "pii_email", "pii_ipv4", "pii_ssn",
        "pii_phone", "pii_total",
    )


def q_c4_clean(spark, sf_dir):
    """C4-style line cleaning (training/filtering.py c4_clean): a 5-line
    synthetic doc per row — fine sentence / javascript marker / no-punct
    fragment / too-short line / parity-dependent closer — keeps exactly
    the punctuation-terminated >=3-word marker-free lines. Oracle replays
    the line filter with DuckDB list_filter."""
    _setup(spark)
    from openeo_processes_dask_spark.training.filtering import c4_clean

    docs = _table(spark, sf_dir, "documents")
    synth = docs.select(
        "doc_id",
        F.concat_ws(
            "\n",
            F.concat(
                F.lit("document "), F.col("doc_id").cast("string"),
                F.lit(" begins with a fine sentence."),
            ),
            F.lit("enable javascript to continue"),
            F.substring("text", 1, 30),
            F.lit("short."),
            F.when(
                F.col("doc_id") % 2 == 0,
                F.lit("does this final line survive the pass?"),
            ).otherwise(F.lit("final line with no punctuation")),
        ).alias("text"),
    )
    out = c4_clean(synth)
    return out.select(
        "doc_id", "clean_text", "n_lines_kept", "n_lines_total"
    )


def q_bigram_nll(spark, sf_dir):
    """Bigram-LM perplexity scoring (training/lm.py — the CCNet/KenLM
    corpus-quality pattern): add-0.5-smoothed conditional probabilities
    from two hash aggregates, joined back onto bigram instances, one
    per-doc aggregate. Oracle retrains the identical model in SQL CTEs."""
    _setup(spark)
    from openeo_processes_dask_spark.training.lm import bigram_nll

    docs = _table(spark, sf_dir, "documents")
    out = bigram_nll(docs, "doc_id", "text", k=0.5)
    return _round6(out.select("doc_id", "n_bigrams", "nll"), "nll")


def q_domain_stats(spark, sf_dir):
    """URL -> registered-domain extraction + per-domain corpus stats
    (training/urlops.py): three URL spellings (www-prefixed, subdomain,
    scheme-less) synthesized from doc_id must collapse onto one domain
    key; one hash aggregate. Oracle replays the regex in DuckDB."""
    _setup(spark)
    from openeo_processes_dask_spark.training.urlops import per_domain_stats

    docs = _table(spark, sf_dir, "documents")
    site = (F.col("doc_id") % 7).cast("string")
    url = (
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(F.lit("http://www.site"), site, F.lit(".org/x")),
        )
        .when(
            F.col("doc_id") % 3 == 1,
            F.concat(F.lit("https://sub.site"), site, F.lit(".org/y?q=1")),
        )
        .otherwise(F.concat(F.lit("site"), site, F.lit(".org/z")))
    )
    return per_domain_stats(
        docs.withColumn("url", url), size_col="n_chars"
    ).select("domain", "n_docs", "total_size")


def q_boilerplate_removal(spark, sf_dir):
    """Corpus-level boilerplate-line removal (training/dedup.py
    remove_boilerplate_lines — the RefinedWeb/Dolma pass): a banner line
    shared by every even doc (250 docs >= min_docs=100) is deleted
    corpus-wide, a rare shared line (doc_id % 97) survives, and each
    doc's unique line is untouched. Oracle replays digest counting +
    ordered rebuild in SQL."""
    _setup(spark)
    from openeo_processes_dask_spark.training.dedup import (
        remove_boilerplate_lines,
    )

    docs = _table(spark, sf_dir, "documents")
    synth = docs.select(
        "doc_id",
        F.concat_ws(
            "\n",
            F.when(
                F.col("doc_id") % 2 == 0,
                F.lit("subscribe to our newsletter today."),
            ),
            F.concat(
                F.lit("document "), F.col("doc_id").cast("string"),
                F.lit(" body line one."),
            ),
            F.when(
                F.col("doc_id") % 97 == 0, F.lit("rare shared line here.")
            ),
        ).alias("text"),
    )
    out = remove_boilerplate_lines(synth, "doc_id", "text", min_docs=100)
    return out.select("doc_id", "text")


def q_span_dedup_stats(spark, sf_dir):
    """Duplicated-substring-span coverage (training/dedup.py
    duplicate_span_stats — Lee et al. 2021): overlapping 5-token sliding
    windows, digest-counted corpus-wide, merged to maximal islands per
    doc. Digests shuffle, text never does; islands merge in one JVM
    window pass."""
    _setup(spark)
    from openeo_processes_dask_spark.training.dedup import (
        duplicate_span_stats,
    )

    docs = _table(spark, sf_dir, "documents")
    out = duplicate_span_stats(docs, "doc_id", "text", k=5)
    return out.select(
        F.col("id").alias("doc_id"), "n_runs", "dup_tokens", "longest_run"
    )


def q_span_removal(spark, sf_dir):
    """Span-level dedup REWRITE (training/dedup.py remove_duplicate_spans):
    every duplicated 5-token span survives only in its min-id document;
    other occurrences are cut (overlaps merged) and the doc is rebuilt
    from the surviving token stream — all in JVM expressions
    (filter/exists over arrays_zip), no Python."""
    _setup(spark)
    from openeo_processes_dask_spark.training.dedup import (
        remove_duplicate_spans,
    )

    docs = _table(spark, sf_dir, "documents")
    out = remove_duplicate_spans(docs, "doc_id", "text", k=5)
    return out.select(
        "doc_id",
        F.md5(F.col("text")).alias("text_md5"),
        F.length(F.col("text")).alias("n_chars_clean"),
    )


def q_dsir_weights(spark, sf_dir):
    """DSIR importance weights (training/importance.py, Xie et al. 2023):
    hashed-bigram (512 buckets) log-ratio of target (lang='en') vs raw
    corpus distributions, integer micro-unit per-doc sums — bit-identical
    across engines and partitionings. The 512-row weight table
    broadcasts; only (id, bucket) pairs shuffle."""
    _setup(spark)
    from openeo_processes_dask_spark.training.importance import dsir_weights

    docs = _table(spark, sf_dir, "documents")
    target = docs.where(F.col("lang") == "en")
    out = dsir_weights(docs, target, "doc_id", "text", n_buckets=512)
    return out.select(
        F.col("id").alias("doc_id"), "n_grams", "weight_micro"
    )


def q_unicode_clean(spark, sf_dir):
    """Unicode hygiene (training/unicode.py): CRLF + NEL/LS/PS -> \\n,
    control/zero-width/BOM strip (JVM regex chain), NFC composition on
    the non-ASCII rows only (Arrow pandas UDF leg; ASCII rows — where NFC
    is the identity — never touch Python). Dirt is injected
    deterministically so the op has something to clean: every doc gets
    CR LF + a zero-width space, every third doc a decomposed e+combining
    acute that NFC must compose."""
    _setup(spark)
    from openeo_processes_dask_spark.training.unicode import unicode_clean

    docs = _table(spark, sf_dir, "documents")
    nfd_bit = F.when(
        F.col("doc_id") % 3 == 0, F.lit("e\u0301 ")
    ).otherwise(F.lit(""))
    dirty = docs.select(
        "doc_id",
        F.concat(
            nfd_bit, F.lit("x\r\n"), F.col("text"), F.lit("\u200b")
        ).alias("text"),
    )
    out = unicode_clean(dirty, "text")
    return out.select(
        "doc_id",
        F.md5(F.col("text")).alias("text_md5"),
        F.length(F.col("text")).alias("n_chars_clean"),
    )


def q_corpus_stats(spark, sf_dir):
    """Per-(source, lang) corpus report (training/textanalysis.py
    corpus_stats): doc/token counts + exact interpolated length
    percentiles; the shuffle carries two ints per row."""
    _setup(spark)
    from openeo_processes_dask_spark.training.textanalysis import (
        corpus_stats,
    )

    docs = _table(spark, sf_dir, "documents")
    return corpus_stats(docs, ("source", "lang"), "text")


def q_contamination_ratio(spark, sf_dir):
    """Graded decontamination (training/dedup.py contamination_ratio):
    fraction of each doc's distinct 5-grams appearing in the eval slice
    (doc_id % 53 == 0), as integer parts-per-million — bit-stable on any
    engine. Same broadcast topology as the binary decontaminate gate."""
    _setup(spark)
    from openeo_processes_dask_spark.training.dedup import (
        contamination_ratio,
    )

    docs = _table(spark, sf_dir, "documents")
    bench = docs.where(F.col("doc_id") % 53 == 0)
    train = docs.where(F.col("doc_id") % 53 != 0)
    out = contamination_ratio(
        train, bench, "doc_id", "text", n=5, threshold_ppm=10_000
    )
    return out.select(
        F.col("id").alias("doc_id"), "n_shingles", "n_shared",
        "ratio_ppm", "contaminated",
    )


def q_vocabulary(spark, sf_dir):
    """Corpus vocabulary top-100 (training/textanalysis.py vocabulary):
    one vocabulary-sized term aggregate, global top-k compiled to
    TakeOrderedAndProject (every map task forwards ≤ k rows), rank over
    the k-sized result only."""
    _setup(spark)
    from openeo_processes_dask_spark.training.textanalysis import vocabulary

    docs = _table(spark, sf_dir, "documents")
    return vocabulary(docs, "text", k=100, id_col="doc_id")


def q_corpus_mix(spark, sf_dir):
    """Data mixing toward a token budget (training/sampling.py
    mix_corpus): per-source keep rates from ONE metadata aggregate,
    applied as a seeded md5-Bernoulli scan filter — the corpus pass is a
    single shuffle-free scan. The oracle builder replays the identical
    driver-side rate arithmetic (Python rounding included) on the same
    parquet, so the row set matches bit-for-bit."""
    _setup(spark)
    from openeo_processes_dask_spark.training.sampling import mix_corpus

    docs = _table(spark, sf_dir, "documents")
    out = mix_corpus(
        docs, {"src0": 0.4, "src1": 0.4, "src2": 0.2}, 50_000,
        group_col="source", token_col="n_chars", seed=42,
    )
    return out.select("doc_id", "source", "n_chars")


def q_bm25_topk(spark, sf_dir):
    """Okapi BM25 ranked retrieval (training/textanalysis.py bm25_topk):
    three-term query over the documents corpus, literal-inlined idf, one
    codegen'd scoring scan, TakeOrderedAndProject top-25. Oracle replays
    the exact formula (Lucene always-positive idf, same association
    order) in SQL; 6-decimal rounding on both sides absorbs libm ulps."""
    _setup(spark)
    from openeo_processes_dask_spark.training.textanalysis import bm25_topk

    docs = _table(spark, sf_dir, "documents")
    return bm25_topk(docs, ["spark", "join", "filter"], k=25)


def q_hybrid_rrf(spark, sf_dir):
    """Hybrid retrieval via Reciprocal-Rank Fusion (training/retrieval.py
    rrf_fuse): BM25 top-50 (lexical) + embedding-cosine top-50 (dense)
    fused on RANKS only — integer micro-unit reciprocal scores, so the
    fusion is bit-exact and the oracle replays it with zero tolerance.
    Rank ties inside each retriever break on 6-decimal-rounded scores
    then id (both already driver-verified gates)."""
    _setup(spark)
    from pyspark.sql import Window

    from openeo_processes_dask_spark.training.retrieval import rrf_fuse
    from openeo_processes_dask_spark.training.similarity import cosine_topk
    from openeo_processes_dask_spark.training.textanalysis import bm25_topk

    docs = _table(spark, sf_dir, "documents")
    emb = _table(spark, sf_dir, "embeddings")
    # r14 (guide §2.6): the two lanes' driver actions — bm25_topk's
    # df-stats aggregate and the query-vector first() — are independent;
    # overlap them instead of paying two serial job round-trips. Same
    # jobs, same results.
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=2) as pool:
        f_lex = pool.submit(
            lambda: bm25_topk(
                docs, ["spark", "join", "filter"], k=50
            ).select("rank", "id")
        )
        f_query = pool.submit(
            lambda: emb.where(F.col("vec_id") == 0)
            .select("embedding")
            .first()[0]
        )
        lex = f_lex.result()
        query = f_query.result()
    scored = cosine_topk(emb, [float(v) for v in query], k=50)
    w = Window.orderBy(F.col("cosine").desc(), F.col("vec_id"))
    dense = scored.withColumn("rank", F.row_number().over(w)).select(
        "rank", F.col("vec_id").alias("id")
    )
    return rrf_fuse([lex, dense], k0=60, k=20)


def q_semdedup(spark, sf_dir):
    """SemDeDup (training/similarity.py semdedup, Abbas et al. 2023):
    integer-exact k-means partitions the embedding space, exact cosine
    runs only within clusters, connected components pick the minimum-id
    canonical per semantic group. Oracle composes the unrolled-CTE
    k-means twin with a recursive transitive closure."""
    _setup(spark)
    from openeo_processes_dask_spark.training.similarity import semdedup

    emb = _table(spark, sf_dir, "embeddings")
    return semdedup(emb, k=8, threshold=0.2, iterations=2)


def q_bpe_encode_ids(spark, sf_dir):
    """Tokenizer ids end-to-end (training/bpe.py corpus_base_symbols +
    bpe_vocab + bpe_encode_ids): 30 merges, GPT-2-style id assignment,
    every doc encoded to vocabulary ids; compared as (n_ids, md5 of the
    id sequence) so the full sequence is checked compactly. Oracle is
    the independent serial replay."""
    _setup(spark)
    from openeo_processes_dask_spark.training.bpe import (
        bpe_encode_ids,
        bpe_vocab,
        corpus_base_symbols,
        learn_bpe,
    )

    docs = _table(spark, sf_dir, "documents")
    merges = learn_bpe(docs, num_merges=30)
    vocab = bpe_vocab(merges, corpus_base_symbols(docs))
    out = bpe_encode_ids(docs, merges, vocab)
    return out.select(
        F.col("doc_id").alias("id"),
        F.size("ids").cast("int").alias("n_ids"),
        F.md5(
            F.array_join(
                F.transform(F.col("ids"), lambda i: i.cast("string")), ","
            )
        ).alias("ids_md5"),
    )


def q_dedup_bloom(spark, sf_dir):
    """Bloom-prefiltered incremental dedup (training/bloom.py
    dedup_against_bloom): same fixture as dedup_incremental, but
    definitely-unseen rows are proven clean by a codegen'd bitmap probe
    and BYPASS the anti join — only the Bloom-positive sliver shuffles.
    False negatives are impossible, so the oracle is the plain
    NOT EXISTS twin (identical to dedup_incremental's)."""
    _setup(spark)
    from openeo_processes_dask_spark.training.bloom import (
        dedup_against_bloom,
    )

    docs = _table(spark, sf_dir, "documents")
    fp = F.md5(
        F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " ")
    )
    seen = docs.where(F.col("doc_id") % 2 == 0).withColumn("fp", fp)
    new = (
        docs.where(F.col("doc_id") % 2 == 1)
        .unionByName(
            docs.where(F.col("doc_id") % 2 == 0).withColumn(
                "doc_id", F.col("doc_id") + F.lit(1_000_000)
            )
        )
        .withColumn("fp", fp)
    )
    out = dedup_against_bloom(new, seen, ["fp"], m_bits=1 << 13)
    return out.select("doc_id", "lang", "source")


def q_skew_join(spark, sf_dir):
    """Skew-split join (session.py skew_split_join): ~75% of lineitem
    lands on one synthetic hot key; the hot slice joins by explicit
    broadcast (plan-asserted in tests/test_scale_utils.py) while the
    cold tail shuffles — result set must equal the plain join, so the
    oracle IS the plain join."""
    _setup(spark)
    from openeo_processes_dask_spark.session import skew_split_join

    li = _table(spark, sf_dir, "lineitem")
    left = li.select(
        F.when(F.col("l_orderkey") % 4 != 0, F.lit(7))
        .otherwise(F.col("l_partkey") % 23)
        .cast("int")
        .alias("k"),
        F.col("l_quantity"),
    )
    right = spark.range(0, 23).select(
        F.col("id").cast("int").alias("k"),
        F.concat(F.lit("g"), F.col("id").cast("string")).alias("label"),
    )
    out = skew_split_join(left, right, "k", hot_threshold=10_000)
    return out.groupBy("k", "label").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("l_quantity"), 6).alias("qty"),
    )


def q_tokenize_pack(spark, sf_dir):
    """Tokenizer-aware sequence packing — the production step training
    shards actually go through: learn BPE (30 merges), count each doc's
    BPE tokens, shard content-stably, pack 512-TOKEN segments
    (training/bpe.py + training/sampling.py). Oracle composes the
    serial-BPE replay (as an inline VALUES relation) with the pure-SQL
    shard/pack fragments — builders and SQL compose."""
    _setup(spark)
    from openeo_processes_dask_spark.training.bpe import (
        bpe_token_counts,
        learn_bpe,
    )
    from openeo_processes_dask_spark.training.sampling import (
        assign_shards,
        pack_tokens_contiguous,
    )

    docs = _table(spark, sf_dir, "documents")
    merges = learn_bpe(docs, num_merges=30)
    toks = bpe_token_counts(docs, merges)
    sharded = assign_shards(toks, 4, seed=29, id_col="id")
    return pack_tokens_contiguous(
        sharded, 512, "n_tokens", id_col="id", shard_col="shard"
    ).select("id", "shard", "segment", "seg_tokens")


def q_count_min_words(spark, sf_dir):
    """Count-Min sketch over the corpus token stream
    (training/sketches.py): d=4 x w=512 table from one scan + one hash
    aggregate, md5-derived buckets so the TABLE is engine-portable;
    probed for 12 words (min over rows). Oracle replays bucket
    arithmetic, table, and probes in SQL."""
    _setup(spark)
    from openeo_processes_dask_spark.training.sketches import (
        count_min_build,
        count_min_estimate,
    )
    from openeo_processes_dask_spark.training.textanalysis import tokens

    docs = _table(spark, sf_dir, "documents")
    words = docs.select(
        F.explode(tokens(F.lower(F.col("text")))).alias("word")
    ).where(F.col("word") != "")
    sk = count_min_build(words, "word", depth=4, width=512)
    probes = spark.createDataFrame(
        [(w,) for w in [
            "spark", "join", "filter", "hash", "window", "table", "the",
            "value", "row", "scan", "zzz_absent", "merge",
        ]],
        ["word"],
    )
    return count_min_estimate(sk, probes, "word", depth=4, width=512)


def q_hll_registers(spark, sf_dir):
    """HyperLogLog register table (training/sketches.py) over lineitem
    l_orderkey: md5-derived 60-bit hash, p=10 buckets, max leading-zero
    rank per bucket — one scan + one max aggregate, <= 1024 rows
    regardless of input size, mergeable by entrywise max. The gate
    compares the REGISTER TABLE (stronger than the scalar estimate);
    oracle replays the bit arithmetic in SQL."""
    _setup(spark)
    from openeo_processes_dask_spark.training.sketches import (
        hyperloglog_registers,
    )

    li = _table(spark, sf_dir, "lineitem")
    return hyperloglog_registers(li, "l_orderkey", p=10)


def q_video_near_dups(spark, sf_dir):
    """Video near-dup via frame-hash overlap (training/multimodal.py
    video_frame_hashes over concatenated raw-RGB frames +
    training/dedup.py shared_key_pairs): re-encoded/trimmed copies match
    on surviving frame dHashes even when byte digests differ. Oracle is
    a NumPy all-pairs replay of the same fixture."""
    _setup(spark)
    from openeo_processes_dask_spark.training.dedup import shared_key_pairs
    from openeo_processes_dask_spark.training.multimodal import (
        synthetic_raw_video_table,
        video_frame_hashes,
    )

    ids = _table(spark, sf_dir, "documents").where(
        F.col("doc_id") < 105
    ).select("doc_id")
    fh = video_frame_hashes(synthetic_raw_video_table(ids))
    return shared_key_pairs(fh, min_shared=4, key_col="dhash")


def q_scene_changes(spark, sf_dir):
    """Shot-boundary detection (training/multimodal.py scene_changes):
    consecutive-frame dHash Hamming distances over the synthetic
    raw-RGB video fixture, cut at > 16 bits — JVM lag/xor/bit_count over
    the hash relation; oracle replays only the frame hashes and
    re-derives the window mechanics in SQL."""
    _setup(spark)
    from openeo_processes_dask_spark.training.multimodal import (
        scene_changes,
        synthetic_raw_video_table,
        video_frame_hashes,
    )

    ids = _table(spark, sf_dir, "documents").where(
        F.col("doc_id") < 105
    ).select("doc_id")
    fh = video_frame_hashes(synthetic_raw_video_table(ids))
    return scene_changes(fh, threshold=16)


def q_audio_near_dups(spark, sf_dir):
    """Audio near-dup via spectral landmarks (training/multimodal.py
    decode_raw_pcm16 — a REAL codec-free decode — + audio_landmarks +
    audio_near_duplicates): melody-structured PCM16 fixtures, Shazam-
    style consecutive-peak-bin fingerprints, equi-join on the landmark
    key with a shared-count floor. Oracle is a NumPy all-pairs replay."""
    _setup(spark)
    from openeo_processes_dask_spark.training.multimodal import (
        audio_landmarks,
        audio_near_duplicates,
        synthetic_raw_audio_table,
    )

    ids = _table(spark, sf_dir, "documents").where(
        F.col("doc_id") < 99
    ).select("doc_id")
    lm = audio_landmarks(synthetic_raw_audio_table(ids))
    return audio_near_duplicates(lm, min_shared=8)


def q_audio_near_dups_incremental(spark, sf_dir):
    """Audio-landmark ingest screen (training/dedup.py
    shared_key_incremental, NEW r12): new audio (doc_id 99-131 —
    melody families cycle mod 11, so the batch shares landmarks with
    the archive) decoded + landmarked through the real PCM16 lane and
    overlap-counted against the archive's persisted fingerprint table
    — archive audio never re-decoded, candidates strictly new x seen.
    Oracle is the NumPy landmark replay over new x seen."""
    _setup(spark)
    from openeo_processes_dask_spark.training.dedup import (
        shared_key_incremental,
    )
    from openeo_processes_dask_spark.training.multimodal import (
        audio_landmarks,
        synthetic_raw_audio_table,
    )

    docs = _table(spark, sf_dir, "documents")
    seen_ids = docs.where(F.col("doc_id") < 99).select("doc_id")
    new_ids = docs.where(
        (F.col("doc_id") >= 99) & (F.col("doc_id") < 132)
    ).select("doc_id")
    seen_lm = audio_landmarks(synthetic_raw_audio_table(seen_ids))
    new_lm = audio_landmarks(synthetic_raw_audio_table(new_ids))
    return shared_key_incremental(
        new_lm, seen_lm, min_shared=8, id_col="id", key_col="landmark"
    )


def q_negative_samples(spark, sf_dir):
    """Deterministic contrastive negative sampling (training/sampling.py
    hash_negatives): seeded md5 candidate filter (~1/8 of the pool,
    broadcast), seeded per-(query, candidate) score, top-5 per pair via
    WindowGroupLimit. Pure hash functions of ids — the SQL oracle
    replays the identical md5 arithmetic."""
    _setup(spark)
    from openeo_processes_dask_spark.training.sampling import hash_negatives

    docs = _table(spark, sf_dir, "documents")
    pairs = docs.where(F.col("doc_id") % 17 == 0).select(
        F.col("doc_id").alias("query_id"),
        (F.col("doc_id") + 1).alias("pos_id"),
    )
    return hash_negatives(pairs, docs, k=5, pool_mod=8, seed=42)


def q_funnel(spark, sf_dir):
    """view -> click -> purchase funnel (training/funnel.py): greedy
    earliest-match, strict-after semantics; each step is a min-timestamp
    aggregate, so the table is bit-exact and the chained-CTE oracle
    replays it with zero tolerance."""
    _setup(spark)
    from openeo_processes_dask_spark.training.funnel import funnel

    ev = _table(spark, sf_dir, "events")
    return funnel(ev, ["view", "click", "purchase"])


def q_top_paths(spark, sf_dir):
    """Top-20 five-event user paths (training/funnel.py top_paths):
    WindowGroupLimit prefix cut, per-user path assembly, exact counts,
    deterministic ties (count DESC, path ASC)."""
    _setup(spark)
    from openeo_processes_dask_spark.training.funnel import top_paths

    return top_paths(_table(spark, sf_dir, "events"), k=20, prefix_len=5)


def q_retention(spark, sf_dir):
    """Weekly cohort retention (training/funnel.py retention): distinct
    (user, week) actives -> user-keyed cohort join -> exact distinct
    counts per (cohort, offset). Zero-tolerance oracle."""
    _setup(spark)
    from openeo_processes_dask_spark.training.funnel import retention

    return retention(_table(spark, sf_dir, "events"))


def q_leakage_split(spark, sf_dir):
    """Near-dup-aware fold split (training/sampling.py
    leakage_safe_split): MinHash pairs -> connected components -> fold =
    md5(seed, component canonical id) % 5, so duplicates can never
    straddle train/test. Oracle composes the recursive-closure CC SQL
    with the identical md5 fold arithmetic."""
    _setup(spark)
    from openeo_processes_dask_spark.training.dedup import (
        minhash_near_duplicates,
    )
    from openeo_processes_dask_spark.training.sampling import (
        leakage_safe_split,
    )

    docs = _table(spark, sf_dir, "documents")
    pairs = minhash_near_duplicates(
        docs, "doc_id", "text", n=3, num_hashes=64, bands=16, threshold=0.2
    )
    return leakage_safe_split(docs, pairs, n_folds=5, seed=77)


def q_incremental_curation(spark, sf_dir):
    """Composed incremental-ingest pipeline over the continuation ops:
    corpus_diff picks the added+changed docs of the new snapshot,
    dedup_against drops exact matches vs the old corpus, quality_score
    rates the survivors, and percentile_rank keeps the top half —
    the per-increment curation loop, end to end, one oracle."""
    _setup(spark)
    from openeo_processes_dask_spark.sources.maintenance import (
        percentile_rank,
    )
    from openeo_processes_dask_spark.training.dedup import (
        corpus_diff,
        dedup_against,
    )
    from openeo_processes_dask_spark.training.textanalysis import (
        quality_score,
    )

    docs = _table(spark, sf_dir, "documents")
    old = docs.where(F.col("doc_id") % 11 != 0)
    new = docs.where(F.col("doc_id") % 7 != 3).withColumn(
        "text",
        F.when(
            F.col("doc_id") % 5 == 2, F.concat(F.col("text"), F.lit(" v2"))
        ).otherwise(F.col("text")),
    )
    delta_ids = corpus_diff(old, new).where(
        F.col("status") != "removed"
    ).select("doc_id")
    batch = new.join(delta_ids, "doc_id", "left_semi")
    survivors = dedup_against(batch, old)
    scored = survivors.select(
        "doc_id", quality_score(F.col("text")).alias("quality")
    )
    return percentile_rank(scored, "quality").where(
        F.col("pct") >= 0.5
    ).select("doc_id", "quality", "pct")


def q_source_divergence(spark, sf_dir):
    """Pairwise Jensen-Shannon divergence between source token
    distributions (training/textanalysis.py source_divergence) — the
    corpus-mix / drift telemetry. Probabilities are exact rationals; the
    sum-of-terms tail rounds to 6 (convention)."""
    _setup(spark)
    from openeo_processes_dask_spark.training.textanalysis import (
        source_divergence,
    )

    return source_divergence(_table(spark, sf_dir, "documents"))


def q_token_entropy(spark, sf_dir):
    """Per-document token-distribution Shannon entropy
    (training/textanalysis.py token_entropy): gibberish / keyword-spam
    signal; two hash aggregates, tokens-only shuffle; 6-decimal rounding
    absorbs ln() ulps (bm25 convention)."""
    _setup(spark)
    from openeo_processes_dask_spark.training.textanalysis import token_entropy

    return token_entropy(_table(spark, sf_dir, "documents"))


def q_isotonic(spark, sf_dir):
    """Isotonic calibration table (training/classifier.py
    isotonic_calibrate, PAVA): n_chars scoring lang=='en' — integer
    per-score counts, exact-rational pool merges, driver-side PAVA over
    the metadata-sized distinct-score relation. Oracle replays PAVA
    independently with Fractions and inlines the table as VALUES."""
    _setup(spark)
    from openeo_processes_dask_spark.training.classifier import (
        isotonic_calibrate,
    )

    docs = _table(spark, sf_dir, "documents")
    scored = docs.select(
        F.col("n_chars").alias("s"),
        (F.col("lang") == "en").cast("int").alias("y"),
    )
    return isotonic_calibrate(scored, "s", "y")


def q_classifier_auc(spark, sf_dir):
    """Exact ROC AUC (training/classifier.py auc): n_chars scoring the
    lang=='en' label — heavy score ties exercise the half-weight tie
    handling. u2 is an exact integer (distinct-score aggregation, the
    rank-free Mann-Whitney form), so the compare is zero-tolerance up to
    the one rounded division."""
    _setup(spark)
    from openeo_processes_dask_spark.training.classifier import auc

    docs = _table(spark, sf_dir, "documents")
    scored = docs.select(
        F.col("n_chars").alias("s"),
        (F.col("lang") == "en").cast("int").alias("y"),
    )
    return auc(scored, "s", "y")


def q_autocorr(spark, sf_dir):
    """Per-user lag-1 autocorrelation (training/anomaly.py
    autocorr_lag1): micro-snapped values, EXACT decimal moments (order-
    independent sums), float only in the final Pearson combination of
    six exact scalars — mirrored term for term by the hugeint oracle."""
    _setup(spark)
    from openeo_processes_dask_spark.training.anomaly import autocorr_lag1

    ev = _table(spark, sf_dir, "events")
    return autocorr_lag1(ev, "value", ["ts", "event_id"], ["user_id"])


def q_ema_smooth(spark, sf_dir):
    """Per-user exponential moving average (training/anomaly.py ema):
    integer micro-unit recurrence with rational alpha=2/10 folded over
    each user's (ts, event_id)-sorted series in ONE codegen'd aggregate
    — bit-exact under any partitioning, replayed by a recursive-CTE
    oracle walking the same recurrence row by row."""
    _setup(spark)
    from openeo_processes_dask_spark.training.anomaly import ema

    ev = _table(spark, sf_dir, "events")
    out = ema(
        ev, "value", ["ts", "event_id"], partition_cols=["user_id"],
        alpha_num=2, alpha_den=10,
    )
    return out.select("user_id", "event_id", "ema_micro")


def q_rolling_anomaly(spark, sf_dir):
    """Rolling z-score anomaly detection (training/anomaly.py): each
    event scored against the trailing 20 same-band events (current row
    excluded), alert at |z| > 2.5 — one window pass, one exchange on the
    band. Oracle is the identical frame-excluding window SQL."""
    _setup(spark)
    from openeo_processes_dask_spark.training.anomaly import anomalies

    ev = _table(spark, sf_dir, "events")
    out = anomalies(
        ev, "value", ["ts", "event_id"], partition_cols=["event_type"],
        window=20, threshold=2.5,
    )
    return out.select(
        "event_id", F.col("event_type").alias("band"), "value",
        F.round("zscore", 6).alias("zscore"),
    )


def q_curation_pipeline(spark, sf_dir):
    """Round-6 curation lane end-to-end in ONE oracle-checked query:
    per-source quality-fraction cut (top 50%) -> exact dedup canonical ->
    32/8 sliding-window chunking -> content-stable chunk sharding ->
    256-token contiguous packing. Every stage reuses an operator with its
    own standalone gate; the oracle composes their SQL twins as CTEs.
    Shuffle audit: quality cut = one window exchange on source; dedup =
    one digest aggregate + semi join; chunking = map-only; packing = one
    window cumsum per shard."""
    _setup(spark)
    from openeo_processes_dask_spark.training.dedup import exact_duplicates
    from openeo_processes_dask_spark.training.sampling import (
        assign_shards,
        pack_tokens_contiguous,
        top_quality_fraction,
    )
    from openeo_processes_dask_spark.training.textanalysis import (
        chunk_text,
        quality_score,
    )

    docs = _table(spark, sf_dir, "documents").select(
        "doc_id", "source", "text",
        quality_score(F.col("text")).alias("score"),
    )
    kept = top_quality_fraction(docs, "score", 0.5, group_col="source")
    canon = exact_duplicates(kept, "doc_id", "text").select(
        F.col("keep_id").alias("doc_id")
    )
    ded = kept.join(canon, "doc_id", "left_semi")
    chunks = chunk_text(ded, id_col="doc_id", chunk_tokens=32, overlap=8)
    ck = chunks.withColumn(
        "cid", (F.col("id") * 100 + F.col("chunk_id")).cast("long")
    )
    sharded = assign_shards(ck, 4, seed=23, id_col="cid")
    return pack_tokens_contiguous(
        sharded, 256, "n_tokens", id_col="cid", shard_col="shard"
    ).select("cid", "shard", "segment", "seg_tokens")


def q_quality_selection(spark, sf_dir):
    """Per-source quality-fraction cut (training/sampling.py
    top_quality_fraction): keep the top 25% of each source by the
    composite quality score — the FineWeb/DCLM classifier-threshold
    curation step. The score is discrete (quarters — exact dyadic
    doubles, cross-engine identical) and rank ties break by doc_id, so
    the selected SET is deterministic. One window exchange per source."""
    _setup(spark)
    from openeo_processes_dask_spark.training.sampling import (
        top_quality_fraction,
    )
    from openeo_processes_dask_spark.training.textanalysis import (
        quality_score,
    )

    docs = _table(spark, sf_dir, "documents").select(
        "doc_id", "source", quality_score(F.col("text")).alias("score")
    )
    return top_quality_fraction(
        docs, "score", 0.25, group_col="source"
    ).select("doc_id", "source", F.round("score", 6).alias("score"))


def q_quantized_topk(spark, sf_dir):
    """int8 ADC top-k (training/similarity.py quantized_topk): the query
    vector (vec_id 0) and every stored vector quantize with the same
    absmax rule; the ranking key is an exact INTEGER dot times two
    scalars — bit-replayable in SQL, TakeOrderedAndProject top-12."""
    _setup(spark)
    from openeo_processes_dask_spark.training.similarity import (
        quantized_topk,
    )

    emb = _table(spark, sf_dir, "embeddings")
    query = emb.where(F.col("vec_id") == 0).select("embedding").first()[0]
    return quantized_topk(emb, query, k=12)


def q_latest_crawl(spark, sf_dir):
    """Re-crawl dedup (training/urlops.py latest_per_url): keep the
    newest fetch per URL — one window rank per url compiling to
    WindowGroupLimit (plan-asserted in tests/test_pipeline_ops.py).
    URLs synthesized deterministically from events; event_id breaks
    timestamp ties. Oracle is the identical window SQL."""
    _setup(spark)
    from openeo_processes_dask_spark.training.urlops import latest_per_url

    ev = _table(spark, sf_dir, "events")
    crawls = ev.select(
        F.concat(
            F.lit("http://site"), (F.col("user_id") % 20).cast("string"),
            F.lit(".org/p"), (F.col("event_id") % 37).cast("string"),
        ).alias("url"),
        F.col("ts").alias("crawl_ts"),
        "value",
        "event_id",
    )
    return latest_per_url(crawls, tie_col="event_id").select(
        "url", "crawl_ts", "value", "event_id"
    )


def q_url_canonical(spark, sf_dir):
    """URL canonicalization + registered domain (training/urls.py, NEW
    r10; r11 adds userinfo + bracketed-IPv6 rows, VERDICT r10 #5):
    messy synthesized URLs — mixed-case scheme/host, `user:pass@`
    credentials, `[2001:DB8::1]` IPv6 authorities, default and
    non-default ports, duplicate/trailing slashes, fragments, tracking
    params, shuffled param order, co.uk-style delegated TLDs — reduced
    to canonical form, all pure JVM Column regex/array lanes. The
    oracle replays every rule in DuckDB SQL (regexp + list functions;
    note DuckDB regexp_replace needs the explicit 'g' flag Spark
    applies by default)."""
    _setup(spark)
    from openeo_processes_dask_spark.training.urls import (
        canonicalize_url,
        registered_domain,
    )

    d = _table(spark, sf_dir, "documents")
    i = F.col("doc_id")
    s = lambda c: c.cast("string")  # noqa: E731
    raw = F.concat(
        F.when(i % 2 == 0, F.lit("HTTP://")).otherwise(F.lit("https://")),
        F.when(i % 7 == 3, F.lit("User:Pa55@")).otherwise(F.lit("")),
        F.when(
            i % 13 == 5, F.lit("[2001:DB8::1]")
        ).otherwise(
            F.concat(
                F.lit("WWW.Site"), s(i % 40),
                F.when(i % 3 == 0, F.lit(".Example.CO.UK")).otherwise(
                    F.lit(".Example.COM")
                ),
            )
        ),
        F.when(i % 4 == 0, F.lit(":80"))
        .when(i % 4 == 1, F.lit(":443"))
        .when(i % 4 == 2, F.lit(":8080"))
        .otherwise(F.lit("")),
        F.lit("//Docs//p"), s(i % 7),
        F.when(i % 5 == 0, F.lit("/")).otherwise(F.lit("")),
        F.when(i % 3 == 0, F.concat(F.lit("?b=2&a="), s(i % 11),
                                    F.lit("&utm_source=x")))
        .when(i % 3 == 1, F.lit("?utm_campaign=y&gclid=1"))
        .otherwise(F.lit("")),
        F.when(i % 2 == 1, F.lit("#Sec")).otherwise(F.lit("")),
    )
    # two-step projection, same rationale as q_registered_domain_psl_full:
    # canonicalize_url/registered_domain embed their input at dozens of
    # regex/array sites; a column reference keeps the analyzed tree flat
    return d.select("doc_id", raw.alias("raw_url")).select(
        "doc_id",
        "raw_url",
        canonicalize_url(F.col("raw_url")).alias("canonical"),
        registered_domain(F.col("raw_url")).alias("domain"),
    )


#: gate-scale public-suffix slice: one- and two-label suffixes,
#: including multi-label private delegations (github.io) the 7-entry
#: heuristic cannot express
_PSL_GATE_SUFFIXES = [
    "com", "org", "io", "uk",
    "co.uk", "gov.uk", "ac.uk", "github.io", "com.au",
]


def q_registered_domain_psl(spark, sf_dir):
    """PSL-driven eTLD+1 (training/urls.py registered_domain_from_list,
    NEW r11): the longest-matching-suffix algorithm over an explicit
    suffix DATA list — the deployment lane behind registered_domain's
    7-entry heuristic (DIVERGENCES.md row). Hosts exercise multi-label
    suffixes (github.io, gov.uk), the PSL default '*' rule (unknown
    TLD), host == suffix, userinfo stripping, ports, and case; the
    oracle replays the longest-first CASE in SQL."""
    _setup(spark)
    from openeo_processes_dask_spark.training.urls import (
        registered_domain_from_list,
    )

    d = _table(spark, sf_dir, "documents")
    i = F.col("doc_id")
    s = lambda c: c.cast("string")  # noqa: E731
    host = (
        F.when(i % 6 == 0, F.concat(F.lit("Site"), s(i % 20),
                                    F.lit(".Example.COM")))
        .when(i % 6 == 1, F.concat(F.lit("a.b.Site"), s(i % 20),
                                   F.lit(".GitHub.IO")))
        .when(i % 6 == 2, F.concat(F.lit("www.Site"), s(i % 20),
                                   F.lit(".CO.UK")))
        .when(i % 6 == 3, F.concat(F.lit("deep.x.Site"), s(i % 20),
                                   F.lit(".GOV.UK")))
        .when(i % 6 == 4, F.concat(F.lit("Site"), s(i % 20),
                                   F.lit(".unknown.ZZ")))
        .otherwise(F.lit("co.uk"))
    )
    raw = F.concat(
        F.lit("https://"),
        F.when(i % 5 == 2, F.lit("bob@")).otherwise(F.lit("")),
        host,
        F.when(i % 4 == 1, F.lit(":8443")).otherwise(F.lit("")),
        F.lit("/p"), s(i % 7),
    )
    # two-step projection, same rationale as q_registered_domain_psl_full
    return d.select("doc_id", raw.alias("raw_url")).select(
        "doc_id",
        "raw_url",
        registered_domain_from_list(
            F.col("raw_url"), _PSL_GATE_SUFFIXES
        ).alias("domain"),
    )


def q_registered_domain_psl_full(spark, sf_dir):
    """eTLD+1 over the VENDORED public-suffix snapshot (training/
    urls.py load_public_suffix_snapshot + registered_domain_from_list,
    NEW r12 — VERDICT r11 #5): the full PSL algorithm including
    wildcard (``*.ck``, ``*.kawasaki.jp``) and exception (``!www.ck``,
    ``!city.kawasaki.jp``) rules, over the ~550-rule dated snapshot in
    data/public_suffix_snapshot.dat (drop-in replaceable by the full
    upstream file). Hosts exercise wildcard suffixes, exception
    prevailing over wildcard, private-section rules (github.io),
    multi-label delegations, the default '*' rule, userinfo, ports and
    case; the oracle builder regenerates the longest-first CASE from
    the SAME parsed snapshot."""
    _setup(spark)
    from openeo_processes_dask_spark.training.urls import (
        load_public_suffix_snapshot,
        registered_domain_from_list,
    )

    d = _table(spark, sf_dir, "documents")
    i = F.col("doc_id")
    s = lambda c: c.cast("string")  # noqa: E731
    host = (
        F.when(i % 8 == 0, F.concat(F.lit("Site"), s(i % 20),
                                    F.lit(".Example.COM")))
        .when(i % 8 == 1, F.concat(F.lit("a.b.Site"), s(i % 20),
                                   F.lit(".GitHub.IO")))
        .when(i % 8 == 2, F.concat(F.lit("www.Site"), s(i % 20),
                                   F.lit(".CO.UK")))
        .when(i % 8 == 3, F.concat(F.lit("x.Shop"), s(i % 20),
                                   F.lit(".Example.CK")))
        .when(i % 8 == 4, F.lit("b.WWW.CK"))
        .when(i % 8 == 5, F.lit("a.City.Kawasaki.JP"))
        .when(i % 8 == 6, F.concat(F.lit("x.Co"), s(i % 20),
                                   F.lit(".Kawasaki.JP")))
        .otherwise(F.concat(F.lit("Site"), s(i % 20),
                            F.lit(".unknown.QQZ")))
    )
    raw = F.concat(
        F.lit("https://"),
        F.when(i % 5 == 2, F.lit("bob@")).otherwise(F.lit("")),
        host,
        F.when(i % 4 == 1, F.lit(":8443")).otherwise(F.lit("")),
        F.lit("/p"), s(i % 7),
    )
    # r13 (guide §5/§7.3): project raw_url FIRST and run the matcher on
    # the column REFERENCE — inlining the synthesized concat expression
    # duplicated it at every labels/host site of the ~24-branch match
    # ladder (~100 copies), blowing the analyzed tree up (measured:
    # build 0.92 -> 0.19 s, exec 0.17 -> 0.11 s; CollapseProject keeps
    # the two projections apart because the reference is multi-used).
    # Output columns and values identical (A/B-verified + oracle).
    return d.select("doc_id", raw.alias("raw_url")).select(
        "doc_id",
        "raw_url",
        registered_domain_from_list(
            F.col("raw_url"), load_public_suffix_snapshot()
        ).alias("domain"),
    )


def _psl_full_oracle_sql() -> str:
    """DuckDB replay of registered_domain_from_list over the vendored
    snapshot: the CASE is REGENERATED from the same parsed rules at
    oracle-build time, so snapshot edits cannot desync the twin."""
    from openeo_processes_dask_spark.training.urls import (
        load_public_suffix_snapshot,
    )

    exact: set[str] = set()
    wild: set[str] = set()
    exc: set[str] = set()
    for r in load_public_suffix_snapshot():
        if r.startswith("!"):
            exc.add(r[1:].strip("."))
        elif r.startswith("*"):
            base = r[1:].strip(".")
            if base:
                wild.add(base)
        else:
            exact.add(r)

    def last(d: int) -> str:
        return f"array_to_string(ls[-{d}:], '.')"

    def in_list(vals) -> str:
        return ", ".join(f"'{v}'" for v in sorted(vals))

    branches: list[str] = ["WHEN host LIKE '[%' THEN host"]
    for d in sorted({e.count(".") + 1 for e in exc}, reverse=True):
        vals = [e for e in exc if e.count(".") + 1 == d]
        branches.append(
            f"WHEN n >= {d} AND {last(d)} IN ({in_list(vals)}) "
            f"THEN {last(d)}"
        )
    deepest = max(
        [s.count(".") + 1 for s in exact]
        + [b.count(".") + 2 for b in wild]
    )
    for d in range(deepest, 0, -1):
        conds = []
        exact_d = [s for s in exact if s.count(".") + 1 == d]
        wc_d = [b for b in wild if b.count(".") + 2 == d]
        if exact_d:
            conds.append(f"{last(d)} IN ({in_list(exact_d)})")
        if wc_d:
            conds.append(
                f"(n >= {d} AND {last(d - 1)} IN ({in_list(wc_d)}))"
            )
        if not conds:
            continue
        c = " OR ".join(conds)
        branches.append(f"WHEN n > {d} AND ({c}) THEN {last(d + 1)}")
        branches.append(f"WHEN n = {d} AND ({c}) THEN host")
    branches.append("WHEN n <= 1 THEN host")
    case = "CASE " + " ".join(branches) + f" ELSE {last(2)} END"
    return f"""
        WITH raw AS (
          SELECT doc_id,
            'https://' || (CASE WHEN doc_id % 5 = 2 THEN 'bob@' ELSE '' END)
            || (CASE doc_id % 8
                WHEN 0 THEN 'Site' || (doc_id % 20) || '.Example.COM'
                WHEN 1 THEN 'a.b.Site' || (doc_id % 20) || '.GitHub.IO'
                WHEN 2 THEN 'www.Site' || (doc_id % 20) || '.CO.UK'
                WHEN 3 THEN 'x.Shop' || (doc_id % 20) || '.Example.CK'
                WHEN 4 THEN 'b.WWW.CK'
                WHEN 5 THEN 'a.City.Kawasaki.JP'
                WHEN 6 THEN 'x.Co' || (doc_id % 20) || '.Kawasaki.JP'
                ELSE 'Site' || (doc_id % 20) || '.unknown.QQZ' END)
            || (CASE WHEN doc_id % 4 = 1 THEN ':8443' ELSE '' END)
            || '/p' || (doc_id % 7) AS raw_url
          FROM documents),
        h AS (
          SELECT doc_id, raw_url,
            lower(regexp_extract(
              regexp_replace(
                regexp_extract(
                  regexp_replace(raw_url,
                    '^[A-Za-z][A-Za-z0-9+.-]*://', ''),
                  '^([^/?]*)', 1),
                '^.*@', '', 'g'),
              '^([^:]*)', 1)) AS host
          FROM raw),
        p AS (
          SELECT doc_id, raw_url, host,
                 str_split(host, '.') AS ls,
                 len(str_split(host, '.')) AS n
          FROM h)
        SELECT doc_id, raw_url, {case} AS domain
        FROM p
    """


def q_corpus_overlap(spark, sf_dir):
    """Sketch-based corpus overlap (training/sketches.py corpus_overlap,
    NEW r10): HLL registers per side + entrywise-max union +
    inclusion-exclusion intersection and Jaccard — overlap telemetry
    WITHOUT joining the corpora (the constant-memory screen before an
    exact corpus_diff pass). The harmonic sum is exact integer
    micro-units, so the oracle replays register tables AND estimates
    bit-for-bit (only ln in the linear-counting branch is a rounded
    float intrinsic)."""
    _setup(spark)
    from openeo_processes_dask_spark.training.sketches import corpus_overlap

    d = _table(spark, sf_dir, "documents")
    a = d.where(F.col("doc_id") % 3 != 0).select(
        F.col("doc_id").alias("k")
    )
    b = d.where(F.col("doc_id") % 2 == 0).select(
        F.col("doc_id").alias("k")
    )
    return corpus_overlap(a, b, "k", p=10)


def _corpus_overlap_oracle_sql() -> str:
    m = 1 << 10
    alpha = 0.7213 / (1 + 1.079 / m)
    num = float(alpha) * m * m * float(1 << 61)
    pow61 = 1 << 61

    def est(reg_cte: str, alias: str) -> str:
        return f"""
            {alias} AS (
              SELECT CASE WHEN raw <= {2.5 * m} AND zeros > 0
                          THEN round({float(m)} * ln({float(m)} / zeros), 6)
                          ELSE round(raw, 6) END AS estimate
              FROM (SELECT ({m} - count(*)) AS zeros,
                           {num:.17e} / CAST(
                             CAST({m} - count(*) AS HUGEINT) * {pow61}
                             + coalesce(sum((CAST(1 AS BIGINT) << (61 - rho))), 0)
                           AS DOUBLE) AS raw
                    FROM {reg_cte}))"""

    def regs(keys_cte: str, alias: str) -> str:
        return f"""
            {alias}_h AS (
              SELECT CAST('0x' || substr(md5('hll-' || k), 1, 15) AS BIGINT) AS hv
              FROM {keys_cte}),
            {alias} AS (
              SELECT CAST(hv % {m} AS INT) AS bucket,
                     max(CAST(CASE WHEN hv // {m} > 0
                         THEN 50 - floor(log2(CAST(hv // {m} AS DOUBLE)))
                         ELSE 51 END AS INT)) AS rho
              FROM {alias}_h GROUP BY 1)"""

    return f"""
        WITH ka AS (SELECT CAST(doc_id AS VARCHAR) AS k FROM documents
                    WHERE doc_id % 3 <> 0),
             kb AS (SELECT CAST(doc_id AS VARCHAR) AS k FROM documents
                    WHERE doc_id % 2 = 0),
             {regs('ka', 'ra')},
             {regs('kb', 'rb')},
             ru AS (SELECT bucket, max(rho) AS rho
                    FROM (SELECT * FROM ra UNION ALL SELECT * FROM rb)
                    GROUP BY 1),
             {est('ra', 'ea')},
             {est('rb', 'eb')},
             {est('ru', 'eu')}
        SELECT ea.estimate AS est_a, eb.estimate AS est_b,
               eu.estimate AS est_union,
               round(ea.estimate + eb.estimate - eu.estimate, 6)
                 AS est_intersection,
               round(round(ea.estimate + eb.estimate - eu.estimate, 6)
                     / eu.estimate, 6) AS jaccard
        FROM ea, eb, eu
    """


def _hll_grouped_tokens_oracle_sql() -> str:
    """Twin of the distinct_tokens_by_source gate: per-source HLL
    registers (same md5 hash / bucket / rho arithmetic as the
    corpus_overlap oracle, grouped), the per-group integer micro-unit
    harmonic estimate, and the exact distinct count side-by-side."""
    m = 1 << 10
    alpha = 0.7213 / (1 + 1.079 / m)
    num = float(alpha) * m * m * float(1 << 61)
    pow61 = 1 << 61
    return f"""
        WITH toks AS (
          SELECT source AS g,
                 unnest(string_split_regex(trim(text), '\\s+')) AS k
          FROM documents
          WHERE text IS NOT NULL AND trim(text) <> ''),
        h AS (
          SELECT g,
                 CAST('0x' || substr(md5('hll-' || k), 1, 15) AS BIGINT)
                   AS hv
          FROM toks),
        reg AS (
          SELECT g, CAST(hv % {m} AS INT) AS bucket,
                 max(CAST(CASE WHEN hv // {m} > 0
                     THEN 50 - floor(log2(CAST(hv // {m} AS DOUBLE)))
                     ELSE 51 END AS INT)) AS rho
          FROM h GROUP BY 1, 2),
        est AS (
          SELECT g, ({m} - count(*)) AS zeros,
                 {num:.17e} / CAST(
                   CAST({m} - count(*) AS HUGEINT) * {pow61}
                   + coalesce(sum((CAST(1 AS BIGINT) << (61 - rho))), 0)
                 AS DOUBLE) AS raw
          FROM reg GROUP BY g),
        ex AS (
          SELECT g, CAST(count(DISTINCT k) AS BIGINT) AS exact_distinct
          FROM toks GROUP BY g)
        SELECT est.g,
               CASE WHEN raw <= {2.5 * m} AND zeros > 0
                    THEN round({float(m)} * ln({float(m)} / zeros), 6)
                    ELSE round(raw, 6) END AS estimate,
               ex.exact_distinct
        FROM est JOIN ex USING (g)
    """


_QSK_ORACLE_CORE = """
            base AS (
              SELECT CAST(l_extendedprice AS DOUBLE) AS v,
                     CAST('0x' || substr(md5(
                       'qsk-' || l_orderkey || '-' || l_linenumber
                     ), 1, 15) AS BIGINT) AS h
              FROM lineitem WHERE l_extendedprice IS NOT NULL),
            lv AS (
              SELECT v, h,
                     CASE WHEN h <= 0 THEN 60
                          ELSE 60 - length(printf('%b', h)) END AS lvl
              FROM base),
            cnt AS (SELECT lvl, count(*) AS c FROM lv GROUP BY lvl),
            meta AS (SELECT count(*) AS n FROM base),
            lstar AS (
              SELECT coalesce(min(g.l), 60) AS level
              FROM generate_series(0, 60) AS g(l)
              WHERE (SELECT coalesce(sum(c), 0) FROM cnt
                     WHERE lvl >= g.l) <= 1024),
            surv AS (
              SELECT v, h FROM lv, lstar WHERE lv.lvl >= lstar.level),
            ranked AS (
              SELECT v, h, row_number() OVER (ORDER BY v, h) - 1 AS r,
                     count(*) OVER () AS m
              FROM surv),
            qs AS (
              SELECT CAST(unnest([0.01, 0.05, 0.1, 0.25, 0.5,
                                  0.75, 0.9, 0.95, 0.99]) AS DOUBLE) AS q)
        SELECT round(qs.q, 6) AS q, round(rk.v, 6) AS est,
               rk.m AS m_rows, lstar.level AS level, meta.n AS n
        FROM qs, lstar, meta, ranked rk
        WHERE rk.r = CAST(floor(qs.q * (rk.m - 1)) AS BIGINT)
"""


def _qsk_grouped_oracle_sql(base_select: str, k: int) -> str:
    """Grouped hash-threshold sketch oracle, parameterized over the
    (g, v, h) base relation and ``k`` — the SQL twin of
    quantile_sketch_grouped + quantile_sketch_estimates_grouped."""
    return f"""
            WITH base AS ({base_select}),
            lv AS (
              SELECT g, v, h,
                     CASE WHEN h <= 0 THEN 60
                          ELSE 60 - length(printf('%b', h)) END AS lvl
              FROM base),
            cnt AS (SELECT g, lvl, count(*) AS c FROM lv GROUP BY g, lvl),
            suf AS (
              SELECT g, lvl,
                     sum(c) OVER (PARTITION BY g ORDER BY lvl DESC
                                  ROWS UNBOUNDED PRECEDING) AS sufc
              FROM cnt),
            lstar AS (
              SELECT g,
                     least(coalesce(max(CASE WHEN sufc > {k}
                                        THEN lvl + 1 END), 0), 60)
                       AS level,
                     CAST(max(sufc) AS BIGINT) AS n
              FROM suf GROUP BY g),
            surv AS (
              SELECT lv.g, v, h, level, n
              FROM lv JOIN lstar ON lv.g = lstar.g
              WHERE lv.lvl >= lstar.level),
            ranked AS (
              SELECT g, v, h, level, n,
                     row_number() OVER (PARTITION BY g ORDER BY v, h)
                       - 1 AS r,
                     count(*) OVER (PARTITION BY g) AS m
              FROM surv),
            qs AS (
              SELECT CAST(unnest([0.25, 0.5, 0.75, 0.9]) AS DOUBLE) AS q)
            SELECT rk.g, round(qs.q, 6) AS q, round(rk.v, 6) AS est,
                   rk.m AS m_rows, rk.level AS level, rk.n AS n
            FROM qs, ranked rk
            WHERE rk.r = CAST(floor(qs.q * (rk.m - 1)) AS BIGINT)
        """


_QSK_GROUPED_ORACLE = _qsk_grouped_oracle_sql(
    """
              SELECT l_returnflag AS g,
                     CAST(l_extendedprice AS DOUBLE) AS v,
                     CAST('0x' || substr(md5(
                       'qsk-' || l_orderkey || '-' || l_linenumber
                     ), 1, 15) AS BIGINT) AS h
              FROM lineitem WHERE l_extendedprice IS NOT NULL""",
    256,
)


def q_quantile_sketch(spark, sf_dir):
    """Mergeable quantile sketch (training/sketches.py quantile_sketch,
    NEW r11, VERDICT r10 #6): the distribution member of the sketch
    trio. KLL-style level structure with the compaction coin replaced
    by md5 hash bits — a pure function of the input multiset, so the
    DuckDB oracle replays the survivor selection, the level choice, and
    the order-statistic estimates bit-for-bit. One scan + a <=61-row
    aggregate + a <=k-row sort; no full sort of the data anywhere."""
    _setup(spark)
    from openeo_processes_dask_spark.training.sketches import (
        quantile_sketch,
        quantile_sketch_estimates,
    )

    from openeo_processes_dask_spark.training.dedup import _spread

    li = _table(spark, sf_dir, "lineitem").select(
        F.col("l_extendedprice").alias("v"),
        F.concat_ws("-", "l_orderkey", "l_linenumber").alias("uid"),
    )
    # r13: lineitem.parquet is one row group -> one scan task; _spread
    # parallelizes the md5-priority pass (the sketch is a pure function
    # of the input multiset, so partitioning cannot change it). No-op at
    # scale where the input already arrives in >= core-count partitions.
    # Interleaved A/B at sf0.1: means 2.10 -> 1.78 s, variance halved.
    return quantile_sketch_estimates(
        quantile_sketch(_spread(li), "v", "uid", k=1024)
    )


def q_quantile_sketch_merged(spark, sf_dir):
    """The merge law cross-engine (NEW r11): Spark builds TWO
    half-corpus sketches (split by l_orderkey parity) and merges them;
    the oracle builds ONE sketch over the whole table. They can only
    hash-match because sketch(A ∪ B) == merge(sketch(A), sketch(B))
    holds EXACTLY — the property the hash-threshold compaction was
    chosen for."""
    _setup(spark)
    from openeo_processes_dask_spark.training.sketches import (
        quantile_sketch,
        quantile_sketch_estimates,
        quantile_sketch_merge,
    )

    li = _table(spark, sf_dir, "lineitem").select(
        F.col("l_extendedprice").alias("v"),
        F.concat_ws("-", "l_orderkey", "l_linenumber").alias("uid"),
        "l_orderkey",
    )
    a = li.where(F.col("l_orderkey") % 2 == 0)
    b = li.where(F.col("l_orderkey") % 2 == 1)
    merged = quantile_sketch_merge(
        quantile_sketch(a, "v", "uid", k=1024),
        quantile_sketch(b, "v", "uid", k=1024),
        k=1024,
    )
    return quantile_sketch_estimates(merged)


def q_quantile_sketch_grouped(spark, sf_dir):
    """Per-group quantile sketch (training/sketches.py
    quantile_sketch_grouped, NEW r11): the same hash-threshold law with
    a FULLY RELATIONAL per-group level choice — a (group, level) count
    aggregate + a per-group window over ≤61 level rows picks
    max(level with suffix-count > k) + 1, provably the global sketch's
    smallest-level rule (unit-tested: per group identical rows to the
    global sketch on that group's slice). Oracle replays group counts,
    the window rule, survivor filter, and per-group order statistics."""
    _setup(spark)
    from openeo_processes_dask_spark.training.sketches import (
        quantile_sketch_estimates_grouped,
        quantile_sketch_grouped,
    )

    li = _table(spark, sf_dir, "lineitem").select(
        F.col("l_returnflag").alias("g"),
        F.col("l_extendedprice").alias("v"),
        F.concat_ws("-", "l_orderkey", "l_linenumber").alias("uid"),
    )
    sk = quantile_sketch_grouped(li, "v", "uid", "g", k=256)
    return quantile_sketch_estimates_grouped(sk, "g")


def q_quantile_sketch_grouped_merged(spark, sf_dir):
    """The per-group merge law cross-engine (NEW r11): Spark builds TWO
    per-group half-corpus sketches (split by l_orderkey parity) and
    merges them with quantile_sketch_merge_grouped — whose level choice
    is fully relational (union survivors, per-group level floor = max
    of the input levels, windowed suffix re-pick bounded below by the
    floor); the oracle builds ONE grouped sketch over the whole table.
    They can only hash-match because the hash-threshold compaction
    makes sketch(A ∪ B) == merge(sketch(A), sketch(B)) hold EXACTLY
    per group."""
    _setup(spark)
    from openeo_processes_dask_spark.training.sketches import (
        quantile_sketch_estimates_grouped,
        quantile_sketch_grouped,
        quantile_sketch_merge_grouped,
    )

    li = _table(spark, sf_dir, "lineitem").select(
        F.col("l_returnflag").alias("g"),
        F.col("l_extendedprice").alias("v"),
        F.concat_ws("-", "l_orderkey", "l_linenumber").alias("uid"),
        "l_orderkey",
    )
    a = li.where(F.col("l_orderkey") % 2 == 0).drop("l_orderkey")
    b = li.where(F.col("l_orderkey") % 2 == 1).drop("l_orderkey")
    merged = quantile_sketch_merge_grouped(
        quantile_sketch_grouped(a, "v", "uid", "g", k=256),
        quantile_sketch_grouped(b, "v", "uid", "g", k=256),
        group_cols="g",
        k=256,
    )
    return quantile_sketch_estimates_grouped(merged, "g")


def q_source_token_profile(spark, sf_dir):
    """Per-source token-length distribution (NEW r11) — the corpus
    telemetry composition the grouped sketch exists for: whitespace
    token counts (training/textanalysis.py token_count, the same lane
    the token_count gate pins) fed into quantile_sketch_grouped keyed
    by the documents table's `source`, with a deliberately small k=8
    so the compaction path (not the exact small-group path) is what
    the oracle replays. One scan + a (source, level) aggregate + ≤k
    survivors per source — per-domain length profiles at 100 TB with
    nothing driver-side scaling with source count."""
    _setup(spark)
    from openeo_processes_dask_spark.training.sketches import (
        quantile_sketch_estimates_grouped,
        quantile_sketch_grouped,
    )
    from openeo_processes_dask_spark.training.textanalysis import (
        token_count,
    )

    docs = _table(spark, sf_dir, "documents").select(
        F.col("source").alias("g"),
        token_count(F.col("text")).cast("double").alias("v"),
        F.col("doc_id").alias("uid"),
    )
    sk = quantile_sketch_grouped(docs, "v", "uid", "g", k=8)
    return quantile_sketch_estimates_grouped(sk, "g")


def q_count_min_by_source(spark, sf_dir):
    """Per-source Count-Min word frequencies (NEW r11) — the frequency
    member of the grouped-sketch family (training/sketches.py
    count_min_build_grouped + count_min_estimate_grouped): d=4 × w=512
    cells PER SOURCE from one scan + one hash aggregate, probed for the
    same 12 words the global count_min_words gate pins; groups come
    from the sketch, probes cross a bounded (groups × 12 × 4) relation.
    Oracle replays per-group cells, probe buckets, and the min."""
    _setup(spark)
    from openeo_processes_dask_spark.training.sketches import (
        count_min_build_grouped,
        count_min_estimate_grouped,
    )
    from openeo_processes_dask_spark.training.textanalysis import tokens

    docs = _table(spark, sf_dir, "documents")
    words = docs.select(
        F.col("source").alias("g"),
        F.explode(tokens(F.lower(F.col("text")))).alias("word"),
    ).where(F.col("word") != "")
    sk = count_min_build_grouped(words, "word", "g", depth=4, width=512)
    probes = spark.createDataFrame(
        [(w,) for w in [
            "spark", "join", "filter", "hash", "window", "table", "the",
            "value", "row", "scan", "zzz_absent", "merge",
        ]],
        ["word"],
    )
    return count_min_estimate_grouped(
        sk, probes, "g", key_col="word", depth=4, width=512
    )


def q_distinct_tokens_by_source(spark, sf_dir):
    """Per-source distinct-token estimate (NEW r11) — the cardinality
    member of the grouped-sketch family (training/sketches.py
    hyperloglog_registers_grouped + hyperloglog_estimate_grouped):
    per-domain vocabulary-size telemetry in one scan + a ≤|groups|×2^p
    register aggregate + a per-group integer micro-unit harmonic sum.
    The exact per-group distinct count rides alongside so the artifact
    shows estimate-vs-truth; the oracle replays hash, registers,
    estimate arithmetic, AND the exact count."""
    _setup(spark)
    from openeo_processes_dask_spark.training.sketches import (
        hyperloglog_estimate_grouped,
        hyperloglog_registers_grouped,
    )
    from openeo_processes_dask_spark.training.textanalysis import tokens

    docs = _table(spark, sf_dir, "documents").where(
        F.col("text").isNotNull()
    )
    toks = docs.select(
        F.col("source").alias("g"),
        F.explode(tokens(F.col("text"))).alias("k"),
    )
    regs = hyperloglog_registers_grouped(toks, "k", "g", p=10)
    est = hyperloglog_estimate_grouped(regs, "g", p=10)
    exact = toks.groupBy("g").agg(
        F.countDistinct("k").alias("exact_distinct")
    )
    return est.join(exact, "g").select("g", "estimate", "exact_distinct")


def q_quantize_embeddings(spark, sf_dir):
    """Per-vector absmax int8 quantization (training/similarity.py
    quantize_embeddings): codes, scale, and reconstruction error in one
    map-only Column pass. Codes serialize to a comma string so the
    compare is representation-stable; oracle replays the same absmax /
    round / reconstruct arithmetic on DuckDB lists."""
    _setup(spark)
    from openeo_processes_dask_spark.training.similarity import (
        quantize_embeddings,
    )

    emb = _table(spark, sf_dir, "embeddings")
    out = quantize_embeddings(emb)
    return out.select(
        "id",
        F.array_join(
            F.transform(F.col("codes"), lambda c: c.cast("string")), ","
        ).alias("codes_str"),
        "scale",
        "mean_abs_err",
    )


def q_chunk_text(spark, sf_dir):
    """Sliding-window chunking (training/textanalysis.py chunk_text):
    32-token windows every 24 tokens with the no-degenerate-tail rule —
    pure sequence/explode/slice Columns, map-only. Oracle replays the
    start arithmetic and slices in SQL."""
    _setup(spark)
    from openeo_processes_dask_spark.training.textanalysis import chunk_text

    docs = _table(spark, sf_dir, "documents")
    return chunk_text(docs, chunk_tokens=32, overlap=8)


def q_bm25_index_search(spark, sf_dir):
    """Inverted-index multi-query BM25 (training/retrieval.py): postings
    + doc stats built once, three queries answered by joins with integer
    micro-unit score sums (order-independent, bit-exact) and a
    WindowGroupLimit per-query top-10. Oracle replays the whole index
    and scoring in SQL."""
    _setup(spark)
    from openeo_processes_dask_spark.training.retrieval import (
        bm25_search,
        build_inverted_index,
    )

    docs = _table(spark, sf_dir, "documents")
    postings, stats = build_inverted_index(docs)
    # persisted-index analog (r13, guide §2.4): the index relations are
    # write-once tables in production; locally the postings subtree fed
    # three consumers (N/avgdl scalar action, per-term df counts, the
    # scoring join) re-tokenizing the corpus each time — materialize once.
    # The two checkpoints are independent — overlap them (guide §2.6).
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=2) as _pool:
        _fp = _pool.submit(lambda: postings.localCheckpoint(eager=True))
        _fs = _pool.submit(lambda: stats.localCheckpoint(eager=True))
        postings, stats = _fp.result(), _fs.result()
    queries = spark.createDataFrame(
        [(1, ["spark", "join"]), (2, ["filter", "hash"]),
         (3, ["window", "table"])],
        ["query_id", "terms"],
    )
    return bm25_search(postings, stats, queries, k=10)


def q_image_near_dups(spark, sf_dir):
    """Perceptual image near-dup dedup (training/multimodal.py
    image_dhash over the REAL raw-RGB decode lane +
    training/dedup.py banded_hamming_pairs): family-structured raw
    images, 64-bit dHash, banded Hamming join at 8 bands / <=4 bits —
    bands > max_hamming makes banding lossless, so the oracle's NumPy
    all-pairs replay must match exactly."""
    _setup(spark)
    from openeo_processes_dask_spark.training.dedup import (
        banded_hamming_pairs,
    )
    from openeo_processes_dask_spark.training.multimodal import (
        image_dhash,
        synthetic_raw_image_table,
    )

    ids = _table(spark, sf_dir, "documents").where(
        F.col("doc_id") < 120
    ).select("doc_id")
    sigs = image_dhash(synthetic_raw_image_table(ids))
    return banded_hamming_pairs(sigs, max_hamming=4, bands=8, sig_col="dhash")


def q_image_near_dups_incremental(spark, sf_dir):
    """Perceptual-hash ingest screen (training/dedup.py
    banded_hamming_incremental, NEW r12): new images (doc_id 120-159 —
    family ids cycle mod 17, so the batch shares families with the
    archive) dHashed through the real raw-RGB decode lane and banded
    against the archive's persisted signature table — the archive
    media is never re-decoded, candidates strictly new x seen, 8
    bands / <=4 bits keeps the pigeonhole recall-1 guarantee, so the
    oracle's NumPy new-x-seen replay must match exactly."""
    _setup(spark)
    from openeo_processes_dask_spark.training.dedup import (
        banded_hamming_incremental,
    )
    from openeo_processes_dask_spark.training.multimodal import (
        image_dhash,
        synthetic_raw_image_table,
    )

    docs = _table(spark, sf_dir, "documents")
    seen_ids = docs.where(F.col("doc_id") < 120).select("doc_id")
    new_ids = docs.where(
        (F.col("doc_id") >= 120) & (F.col("doc_id") < 160)
    ).select("doc_id")
    seen_sigs = image_dhash(synthetic_raw_image_table(seen_ids))
    new_sigs = image_dhash(synthetic_raw_image_table(new_ids))
    return banded_hamming_incremental(
        new_sigs, seen_sigs, max_hamming=4, bands=8,
        id_col="id", sig_col="dhash",
    )


def q_bpe_tokens(spark, sf_dir):
    """Distributed BPE tokenizer training + encoding (training/bpe.py):
    30 merges learned from one corpus-sized word-frequency aggregate
    (merge learning runs on the vocabulary-sized capped type table),
    then every document encoded by an Arrow-batched UDF. Oracle is an
    independent serial BPE replayed by the builder — same tie-breaks —
    emitting per-doc token counts as VALUES."""
    _setup(spark)
    from openeo_processes_dask_spark.training.bpe import (
        bpe_token_counts,
        learn_bpe,
    )

    docs = _table(spark, sf_dir, "documents")
    merges = learn_bpe(docs, num_merges=30)
    return bpe_token_counts(docs, merges)


def q_pagerank(spark, sf_dir):
    """Domain-authority PageRank (training/graph.py): a deterministic
    101-node link graph synthesized from doc_id, 4 integer micro-unit
    iterations — bit-identical under any partitioning, so the unrolled-
    CTE oracle matches exactly (zero tolerance)."""
    _setup(spark)
    from openeo_processes_dask_spark.training.graph import pagerank

    docs = _table(spark, sf_dir, "documents")
    edges = docs.select(
        (F.col("doc_id") % 101).alias("src"),
        ((F.col("doc_id") * 7 + 3) % 101).alias("dst"),
    ).distinct()
    return pagerank(edges, iterations=4)


def q_harmonic(spark, sf_dir):
    """HyperBall harmonic centrality (training/graph.py
    harmonic_centrality, Boldi & Vigna 2013) over the 61-node directed
    synthetic graph: per-node HLL register tables (p=4), 3 union-max
    iterations, estimates from EXACT int64 register sums — the unrolled
    CTE oracle replays registers AND the float tail term for term."""
    _setup(spark)
    from openeo_processes_dask_spark.training.graph import (
        harmonic_centrality,
    )

    docs = _table(spark, sf_dir, "documents")
    n = 61
    gens = [(1, 0, 13, 5), (3, 1, 11, 2), (7, 3, 5, 1)]
    parts = [
        docs.select(
            ((F.col("doc_id") * ma + ca) % n).alias("src"),
            ((F.col("doc_id") * mb + cb) % n).alias("dst"),
        )
        for (ma, ca, mb, cb) in gens
    ]
    edges = parts[0].unionByName(parts[1]).unionByName(parts[2])
    return harmonic_centrality(edges, iterations=3, p=4)


def q_triangle_count(spark, sf_dir):
    """Per-node triangle counts (training/graph.py triangle_counts):
    degree-ordered orientation so each triangle is enumerated once and
    hub wedge-counts stay bounded; exact counting, so the id-ordered
    3-way self-join oracle matches with zero tolerance. The 61-node
    synthetic link graph (3 affine generators over doc_id) has 34
    triangles at sf>=0.01."""
    _setup(spark)
    from openeo_processes_dask_spark.training.graph import triangle_counts

    docs = _table(spark, sf_dir, "documents")
    n = 61
    gens = [(1, 0, 13, 5), (3, 1, 11, 2), (7, 3, 5, 1)]
    parts = [
        docs.select(
            ((F.col("doc_id") * ma + ca) % n).alias("src"),
            ((F.col("doc_id") * mb + cb) % n).alias("dst"),
        )
        for (ma, ca, mb, cb) in gens
    ]
    edges = parts[0].unionByName(parts[1]).unionByName(parts[2])
    return triangle_counts(edges)


def q_corpus_diff(spark, sf_dir):
    """Snapshot diff between two corpus versions (training/dedup.py
    corpus_diff): old = drop doc_id%11==0 (those become 'added'), new =
    drop doc_id%7==3 ('removed') and append ' v2' to doc_id%5==2
    ('changed'); unchanged ids are omitted. Digest-only full-outer join —
    text never shuffles."""
    _setup(spark)
    from openeo_processes_dask_spark.training.dedup import corpus_diff

    docs = _table(spark, sf_dir, "documents")
    old = docs.where(F.col("doc_id") % 11 != 0)
    new = docs.where(F.col("doc_id") % 7 != 3).withColumn(
        "text",
        F.when(
            F.col("doc_id") % 5 == 2, F.concat(F.col("text"), F.lit(" v2"))
        ).otherwise(F.col("text")),
    )
    return corpus_diff(old, new)


def q_ranking_metrics(spark, sf_dir):
    """Graded ranking evaluation (training/retrieval.py ranking_metrics,
    NEW r11-continuation): NDCG@10 / MAP@10 / MRR / precision@10 /
    recall@10 for 20 queries over a synthesized run (top-10 per query by
    a fixed hash order) and graded qrels (doc_id%3==0 docs, rel =
    doc_id%4 with rel<=0 ignored). The oracle replays the run/qrels
    synthesis, the ideal-ordering window, the micro-unit DCG sums, and
    the integer-div MRR — pinning the metric arithmetic cross-engine."""
    _setup(spark)
    from pyspark.sql import Window

    from openeo_processes_dask_spark.training.retrieval import (
        ranking_metrics,
    )

    d = _table(spark, sf_dir, "documents")
    qid = (F.col("doc_id") % 20).alias("query_id")
    w = Window.partitionBy(F.col("doc_id") % 20).orderBy(
        (F.col("doc_id") * 37) % 101, F.col("doc_id")
    )
    results = d.select(
        qid,
        F.col("doc_id").alias("id"),
        F.row_number().over(w).alias("rank"),
    ).where(F.col("rank") <= 10)
    qrels = d.where(F.col("doc_id") % 3 == 0).select(
        qid,
        F.col("doc_id").alias("id"),
        (F.col("doc_id") % 4).alias("rel"),
    )
    return ranking_metrics(results, qrels, k=10)


def q_bm25_eval(spark, sf_dir):
    """End-to-end retrieval evaluation composition (NEW
    r11-continuation): the inverted-index BM25 run (bm25_search, the
    bm25_index_search gate's exact lane) piped straight into
    ranking_metrics against synthesized graded qrels (every doc judged
    for query doc_id%3+1 with rel = doc_id%4) — pins that the retrieval
    and eval lanes COMPOSE, not just pass in isolation. The oracle
    chains the full index+scoring SQL with the metrics replay."""
    _setup(spark)
    from openeo_processes_dask_spark.training.retrieval import (
        bm25_search,
        build_inverted_index,
        ranking_metrics,
    )

    docs = _table(spark, sf_dir, "documents")
    postings, stats = build_inverted_index(docs)
    # persisted-index analog (r13, guide §2.4): the index relations are
    # write-once tables in production; locally the postings subtree fed
    # three consumers (N/avgdl scalar action, per-term df counts, the
    # scoring join) re-tokenizing the corpus each time — materialize once.
    # The two checkpoints are independent — overlap them (guide §2.6).
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=2) as _pool:
        _fp = _pool.submit(lambda: postings.localCheckpoint(eager=True))
        _fs = _pool.submit(lambda: stats.localCheckpoint(eager=True))
        postings, stats = _fp.result(), _fs.result()
    queries = spark.createDataFrame(
        [(1, ["spark", "join"]), (2, ["filter", "hash"]),
         (3, ["window", "table"])],
        ["query_id", "terms"],
    )
    run = bm25_search(postings, stats, queries, k=10)
    qrels = docs.select(
        (F.col("doc_id") % 3 + 1).alias("query_id"),
        F.col("doc_id").alias("id"),
        (F.col("doc_id") % 4).alias("rel"),
    )
    return ranking_metrics(
        run.select("query_id", "id", "rank"), qrels, k=10
    )


def _scored_docs(spark, sf_dir):
    """Shared fixture for the classifier-eval gates: a deterministic
    pseudo-probability (Knuth-hash bucket / 999 — uniform on [0, 1],
    exercising the top-bin clamp at exactly 1.0) against the lang=='en'
    label. Identical expression text on the oracle side, so the doubles
    agree bit-for-bit before any rounding."""
    d = _table(spark, sf_dir, "documents")
    return d.select(
        (((F.col("doc_id") * 2654435761) % 1000) / 999.0).alias("s"),
        (F.col("lang") == "en").cast("int").alias("y"),
    )


def q_classifier_calibration(spark, sf_dir):
    """Reliability diagram (training/classifier.py calibration_bins,
    NEW r11-continuation): 10 equal-width confidence bins with exact
    integer micro-unit confidence sums and gap numerators — the
    calibration diagnostic beside the threshold-free AUC and the
    isotonic FIXER. Oracle replays binning (incl. the s=1.0 clamp) and
    the micro arithmetic."""
    _setup(spark)
    from openeo_processes_dask_spark.training.classifier import (
        calibration_bins,
    )

    return calibration_bins(_scored_docs(spark, sf_dir), "s", "y", 10)


def q_classifier_ece(spark, sf_dir):
    """Expected calibration error (training/classifier.py
    expected_calibration_error, NEW r11-continuation): the scalar
    headline of the reliability diagram — Σ gap_micro / N / 1e6, exact
    integers up to one rounded division."""
    _setup(spark)
    from openeo_processes_dask_spark.training.classifier import (
        expected_calibration_error,
    )

    return expected_calibration_error(
        _scored_docs(spark, sf_dir), "s", "y", 10
    )


def q_classifier_confusion(spark, sf_dir):
    """Operating-point report (training/classifier.py
    confusion_at_threshold, NEW r11-continuation): exact tp/fp/tn/fn
    at τ=0.5 with try_divide-guarded precision/recall/F1/accuracy —
    the thresholded companion of the rank-based AUC gate."""
    _setup(spark)
    from openeo_processes_dask_spark.training.classifier import (
        confusion_at_threshold,
    )

    return confusion_at_threshold(
        _scored_docs(spark, sf_dir), "s", "y", 0.5
    )


def q_cohens_kappa(spark, sf_dir):
    """Chance-corrected label agreement (training/classifier.py
    cohens_kappa, NEW r11-continuation): lang vs a synthesized second
    annotator (every doc_id%7==0 mislabeled 'zz', every doc_id%11==3
    unlabeled -> excluded) — the labeled-data QA statistic. All counts
    exact int64; the oracle replays the cells/marginals/kappa chain."""
    _setup(spark)
    from openeo_processes_dask_spark.training.classifier import (
        cohens_kappa,
    )

    d = _table(spark, sf_dir, "documents")
    pairs = d.select(
        F.col("lang").alias("a"),
        F.when(F.col("doc_id") % 11 == 3, F.lit(None).cast("string"))
        .when(F.col("doc_id") % 7 == 0, F.lit("zz"))
        .otherwise(F.col("lang"))
        .alias("b"),
    )
    return cohens_kappa(pairs, "a", "b")


def q_fairness_confusion(spark, sf_dir):
    """Per-group operating-point audit (training/classifier.py
    confusion_by_group, NEW r11-continuation): the classifier-eval
    fixture's scores sliced by lang — exact per-group counts +
    try_divide-guarded selection rate / TPR / FPR."""
    _setup(spark)
    from openeo_processes_dask_spark.training.classifier import (
        confusion_by_group,
    )

    d = _table(spark, sf_dir, "documents")
    scored = d.select(
        (((F.col("doc_id") * 2654435761) % 1000) / 999.0).alias("s"),
        (F.col("n_chars") > 1000).cast("int").alias("y"),
        "lang",
    )
    return confusion_by_group(scored, "s", "y", "lang", 0.5)


def q_fairness_gaps(spark, sf_dir):
    """Group-fairness summary (training/classifier.py fairness_gaps,
    NEW r11-continuation): demographic-parity and equalized-odds gaps
    (max−min of the per-group published rates) across the lang slices
    of the same fixture — NULL-rate groups skipped by both engines'
    max/min."""
    _setup(spark)
    from openeo_processes_dask_spark.training.classifier import (
        fairness_gaps,
    )

    d = _table(spark, sf_dir, "documents")
    scored = d.select(
        (((F.col("doc_id") * 2654435761) % 1000) / 999.0).alias("s"),
        (F.col("n_chars") > 1000).cast("int").alias("y"),
        "lang",
    )
    return fairness_gaps(scored, "s", "y", "lang", 0.5)


def q_k_anonymity(spark, sf_dir):
    """Re-identification audit (training/pii.py k_anonymity, NEW
    r11-continuation): equivalence-class size + l-diversity over the
    quasi-identifier tuple (lang, source, length bucket) with a
    synthesized sensitive attribute, k=5 — the linkage-risk pass that
    complements pii_redact's direct-identifier masking. One hash
    aggregate on the quasi key + an equi-join back (NOT a window — the
    aggregate gets map-side combine); the oracle replays the class
    aggregate and the suppression rule."""
    _setup(spark)
    from openeo_processes_dask_spark.training.pii import k_anonymity

    d = _table(spark, sf_dir, "documents")
    base = d.select(
        "doc_id",
        "lang",
        "source",
        F.expr("n_chars div 250").alias("len_bucket"),
        (F.col("doc_id") % 90).alias("age"),
    )
    return k_anonymity(
        base, ["lang", "source", "len_bucket"], k=5, sensitive_col="age"
    )


def q_t_closeness(spark, sf_dir):
    """Distribution-leak audit (training/pii.py t_closeness, NEW r13):
    the third leg of the privacy trio over the SAME quasi tuple as the
    k_anonymity gate — per-class total-variation distance between the
    class's sensitive-value (age) distribution and the corpus-wide one,
    in exact 38-digit integer arithmetic (order-independent, so the
    6-decimal compare is zero-tolerance). One (quasi, v) hash aggregate
    + broadcast |V|-row histogram + per-class fold; the corpus total is
    a broadcast 1-row aggregate (plan-canary allowlisted). Oracle
    replays the identical integer formula over HUGEINTs."""
    _setup(spark)
    from openeo_processes_dask_spark.training.pii import t_closeness

    d = _table(spark, sf_dir, "documents")
    base = d.select(
        "lang",
        "source",
        F.expr("n_chars div 250").alias("len_bucket"),
        (F.col("doc_id") % 90).alias("age"),
    )
    return t_closeness(
        base, ["lang", "source", "len_bucket"], "age", t=0.35
    )


def q_l_diversity(spark, sf_dir):
    """Class-level l-diversity audit (training/pii.py l_diversity, NEW
    r13-continuation): the middle leg of the privacy trio over the SAME
    quasi tuple as the k_anonymity / t_closeness gates — per-class
    sensitive-value frequency profile with distinct-l (l=3) and exact
    recursive (c,l)-diversity at c=1 (r_1 < Σ_{i>=3} r_i, evaluated as
    an integer compare over decimal(38)). Two hash aggregates, the
    second folding a |V|-bounded frequency array JVM-side; the oracle
    replays the tail sum with a rank filter (tie-invariant: the tail is
    a multiset sum)."""
    _setup(spark)
    from openeo_processes_dask_spark.training.pii import l_diversity

    d = _table(spark, sf_dir, "documents")
    base = d.select(
        "lang",
        "source",
        F.expr("n_chars div 250").alias("len_bucket"),
        (F.col("doc_id") % 90).alias("age"),
    )
    return l_diversity(
        base, ["lang", "source", "len_bucket"], "age", l=3, c=1.0
    )


def q_winnow_fingerprints(spark, sf_dir):
    """Winnowing document fingerprints (training/dedup.py
    winnow_fingerprints, NEW r13-continuation — Schleimer et al. 2003 /
    MOSS): per-window rightmost-min selection over md5-derived 5-gram
    hashes (w=4), entirely nested-HOF JVM work inside each row — zero
    shuffle until this gate's per-doc profile aggregate. Profile =
    (n_fp, min_fp, max_fp, fp_mod_sum) with the mod-sum an exact
    bigint content checksum (raw fingerprint sums overflow int64 and
    DuckDB would hand back HUGEINT->float). The oracle replays the
    selection relationally: window-start × hash join + row_number
    (hash ASC, pos DESC) = the rightmost-min rule."""
    _setup(spark)
    from openeo_processes_dask_spark.training.dedup import (
        winnow_fingerprints,
    )

    docs = _table(spark, sf_dir, "documents")
    return (
        winnow_fingerprints(docs, k=5, w=4)
        .groupBy(F.col("id").alias("doc_id"))
        .agg(
            F.count(F.lit(1)).alias("n_fp"),
            F.min("fingerprint").alias("min_fp"),
            F.max("fingerprint").alias("max_fp"),
            F.sum(F.col("fingerprint") % 1000003).alias("fp_mod_sum"),
        )
    )


def q_winnow_overlap(spark, sf_dir):
    """MOSS overlap pairs over winnowed fingerprints (training/dedup.py
    winnow_overlap_pairs, NEW r13-continuation): documents sharing any
    selected 4-gram fingerprint (w=4) after dropping fingerprints held
    by more than max_df=2 documents — the ubiquity cap that is also the
    quadratic-pair-flood guard at scale. Fingerprint-keyed equi-join,
    id1 < id2, shared-count aggregate; the oracle replays selection,
    cap and join."""
    _setup(spark)
    from openeo_processes_dask_spark.training.dedup import (
        winnow_overlap_pairs,
    )

    docs = _table(spark, sf_dir, "documents")
    return winnow_overlap_pairs(
        docs, k=4, w=4, min_shared=1, max_df=2
    )


def q_winnow_incremental(spark, sf_dir):
    """Winnowed ingest screen (training/dedup.py winnow_incremental,
    NEW r13-continuation): the minhash_incremental fixture shape
    (new batch = doc_id%5==0 re-idd +1e6 with a ' qq7' suffix) screened
    against the archive's (id, fingerprint) table at k=4, w=4 —
    strictly new x seen via the generic shared_key_incremental engine;
    the appended suffix only perturbs trailing grams, so every new doc
    still shares selected fingerprints with its archive original. The
    oracle replays selection over the UNION corpus (new ids offset past
    1e6 make the split derivable) + the new x seen join."""
    _setup(spark)
    from openeo_processes_dask_spark.training.dedup import (
        winnow_fingerprints,
        winnow_incremental,
    )

    docs = _table(spark, sf_dir, "documents")
    seen = winnow_fingerprints(
        docs.where(F.col("doc_id") % 5 != 0), k=4, w=4
    ).select("id", "fingerprint")
    new = docs.where(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" qq7")).alias("text"),
    )
    return winnow_incremental(new, seen, k=4, w=4, min_shared=1)


def q_contamination_attribution(spark, sf_dir):
    """Per-pair contamination attribution (training/dedup.py
    contamination_attribution, NEW r13-continuation): which eval doc
    (doc_id%53==0 slice) leaked into which training doc, as
    (id, bench_id, n_shared) over distinct offending 5-gram digests —
    the audit-filing refinement of the decontaminate gate (same split,
    same shingles). Digest-keyed join through the generic
    shared_key_incremental engine; the oracle groups the decontaminate
    replay by both ids."""
    _setup(spark)
    from openeo_processes_dask_spark.training.dedup import (
        contamination_attribution,
    )

    docs = _table(spark, sf_dir, "documents")
    bench = docs.where(F.col("doc_id") % 53 == 0)
    train = docs.where(F.col("doc_id") % 53 != 0)
    return contamination_attribution(train, bench, n=5)


def q_dedup_lines_global(spark, sf_dir):
    """C4-policy global line dedup (training/dedup.py
    dedup_lines_global, NEW r13-continuation): the corpus re-lined into
    aligned 8-token chunks (the documents table has no newlines, so the
    fixture synthesizes multi-line docs deterministically — 135 chunk
    values recur at sf0.01), then every later occurrence of a
    duplicated normalized line is cut and documents rebuilt keep-first.
    Output pins the rebuilt text by md5 + length per doc. One
    digest-keyed min-struct aggregate + join-back + per-doc ordered
    rebuild; the oracle replays with a row_number-over-digest rank and
    ordered string_agg."""
    _setup(spark)
    from openeo_processes_dask_spark.training.dedup import (
        dedup_lines_global,
    )
    from openeo_processes_dask_spark.training.textanalysis import tokens

    docs = _table(spark, sf_dir, "documents")
    w = tokens(F.trim(F.col("text")))
    n_chunks = (F.size(w) / 8).cast("int")
    chunked = F.when(n_chunks <= 0, F.lit("")).otherwise(
        F.array_join(
            F.transform(
                F.sequence(F.lit(1), n_chunks),
                lambda i: F.concat_ws(
                    " ", F.slice(w, (i - 1) * 8 + 1, 8)
                ),
            ),
            "\n",
        )
    )
    ml = docs.select("doc_id", chunked.alias("text"))
    out = dedup_lines_global(ml, "doc_id", "text")
    return out.select(
        "doc_id",
        F.md5(F.col("text")).alias("out_md5"),
        F.length(F.col("text")).alias("out_len"),
    )


def q_quality_buckets(spark, sf_dir):
    """CCNet head/middle/tail bucketing (training/sampling.py
    quality_buckets, NEW r13-continuation): per-language terciles over
    a deliberately tie-heavy synthetic score (n_chars % 97 — ~5 docs
    per value at sf0.01, so the deterministic (score, id) tie-break is
    what the oracle actually checks), ntile remainder rows landing in
    the earliest buckets per the SQL-standard rule both engines
    implement. One window pass per language partition."""
    _setup(spark)
    from openeo_processes_dask_spark.training.sampling import (
        quality_buckets,
    )

    d = _table(spark, sf_dir, "documents")
    base = d.select(
        "doc_id", "lang", (F.col("n_chars") % 97).alias("score")
    )
    return quality_buckets(
        base,
        "score",
        n_buckets=3,
        group_col="lang",
        labels=["head", "middle", "tail"],
    )


def q_levenshtein_verify(spark, sf_dir):
    """Exact edit-distance verification of screen candidates
    (training/dedup.py levenshtein_verify, NEW r13-continuation): the
    winnow_overlap gate's 113 candidate pairs verified at sim >= 0.35
    (keeps 31 — the threshold discriminates, it does not rubber-stamp).
    Pure JVM F.levenshtein; candidate-sized joins attach texts, corpus
    never scanned quadratically. Oracle replays the winnow selection +
    DuckDB's levenshtein (byte-based — exact twin here because the
    corpus is ASCII; the op docstring documents the non-ASCII
    divergence)."""
    _setup(spark)
    from openeo_processes_dask_spark.training.dedup import (
        levenshtein_verify,
        winnow_overlap_pairs,
    )

    docs = _table(spark, sf_dir, "documents")
    cands = winnow_overlap_pairs(
        docs, k=4, w=4, min_shared=1, max_df=2
    )
    return levenshtein_verify(cands, docs, threshold=0.35)


def q_strip_markup(spark, sf_dir):
    """Markup stripping (training/filtering.py strip_markup, NEW
    r13-continuation): the corpus wrapped in deterministic synthetic
    markup (tags + double-escaped entities + &nbsp;) then stripped —
    pins the tag regex, the entity decode ORDER (&amp; last, so
    &amp;lt; survives one level as &lt;), and whitespace collapse
    across engines. Output pins the cleaned text by md5 + length.
    Map-only codegen projection."""
    _setup(spark)
    from openeo_processes_dask_spark.training.filtering import (
        strip_markup,
    )

    docs = _table(spark, sf_dir, "documents")
    wrapped = docs.select(
        "doc_id",
        F.concat(
            F.lit('<p class="x">'),
            F.col("text"),
            F.lit("</p> &amp;lt;tail&gt; A&nbsp;B"),
        ).alias("text"),
    )
    out = strip_markup(wrapped)
    return out.select(
        "doc_id",
        F.md5(F.col("text")).alias("out_md5"),
        F.length(F.col("text")).alias("out_len"),
    )


def q_decontaminate_spans(spark, sf_dir):
    """Contamination localization (training/dedup.py
    decontaminate_spans, NEW r13-continuation): maximal token spans of
    each training doc (doc_id%7 != 0) covered by 4-grams shared with
    the eval slice (doc_id%7 == 0) — 93 docs / 741 hit positions at
    sf0.01 merge into runs. Broadcast digest join + one
    gaps-and-islands window per doc; the oracle replays the islands
    with a running-max window."""
    _setup(spark)
    from openeo_processes_dask_spark.training.dedup import (
        decontaminate_spans,
    )

    docs = _table(spark, sf_dir, "documents")
    bench = docs.where(F.col("doc_id") % 7 == 0)
    train = docs.where(F.col("doc_id") % 7 != 0)
    return decontaminate_spans(train, bench, n=4)


def q_remove_contaminated_spans(spark, sf_dir):
    """Surgical span excision (training/dedup.py
    remove_contaminated_spans, NEW r13-continuation): the
    decontaminate_spans runs cut from the training docs through the
    shared rebuild tail — clean docs keep their text verbatim,
    cut-bearing docs rebuild from the original-case token stream.
    Output pins every training doc's resulting text by md5 + length."""
    _setup(spark)
    from openeo_processes_dask_spark.training.dedup import (
        remove_contaminated_spans,
    )

    docs = _table(spark, sf_dir, "documents")
    bench = docs.where(F.col("doc_id") % 7 == 0)
    train = docs.where(F.col("doc_id") % 7 != 0)
    out = remove_contaminated_spans(train, bench, n=4)
    return out.select(
        "doc_id",
        F.md5(F.col("text")).alias("out_md5"),
        F.length(F.col("text")).alias("out_len"),
    )


def q_mixture_plan(spark, sf_dir):
    """Data-recipe planning (training/sampling.py mixture_plan, NEW
    r13-continuation): per-source token inventory + dyadic mixture
    weights (0.5/0.25/0.125/0.0625 on src0-3, the rest unweighted) +
    a 20k-token budget → exact (target_tokens, epochs, rate_ppm) per
    domain — src0's 10k target over a ~1.4k-token domain forces
    epochs > 1 (the books-repeat case), unweighted sources pin the
    zero lane. Targets are Python-Fraction-exact literals; epochs/rate
    run integral div over decimal(38); the oracle replays with
    HUGEINT floor division."""
    _setup(spark)
    from openeo_processes_dask_spark.training.sampling import (
        mixture_plan,
    )

    docs = _table(spark, sf_dir, "documents")
    return mixture_plan(
        docs,
        {"src0": 0.5, "src1": 0.25, "src2": 0.125, "src3": 0.0625},
        token_budget=20_000,
    )


def q_corpus_rollup(spark, sf_dir):
    """Hierarchical corpus telemetry (training/textanalysis.py
    corpus_rollup, NEW r11-continuation): doc/char/token totals per
    (source, lang), per source, and grand total in ONE Expand+aggregate
    pass via ROLLUP grouping sets, with grouping_id disambiguating
    subtotal rows — Spark grouping_id() and DuckDB GROUPING() share the
    leftmost-is-MSB convention, which this gate pins cross-engine."""
    _setup(spark)
    from openeo_processes_dask_spark.training.textanalysis import (
        corpus_rollup,
    )

    return corpus_rollup(
        _table(spark, sf_dir, "documents"), ("source", "lang")
    )


QUERIES = {
    "ranking_metrics": q_ranking_metrics,
    "bm25_eval": q_bm25_eval,
    "classifier_calibration": q_classifier_calibration,
    "classifier_ece": q_classifier_ece,
    "classifier_confusion": q_classifier_confusion,
    "cohens_kappa": q_cohens_kappa,
    "fairness_confusion": q_fairness_confusion,
    "fairness_gaps": q_fairness_gaps,
    "k_anonymity": q_k_anonymity,
    "t_closeness": q_t_closeness,
    "l_diversity": q_l_diversity,
    "winnow_fingerprints": q_winnow_fingerprints,
    "winnow_overlap": q_winnow_overlap,
    "winnow_incremental": q_winnow_incremental,
    "contamination_attribution": q_contamination_attribution,
    "dedup_lines_global": q_dedup_lines_global,
    "quality_buckets": q_quality_buckets,
    "levenshtein_verify": q_levenshtein_verify,
    "strip_markup": q_strip_markup,
    "decontaminate_spans": q_decontaminate_spans,
    "remove_contaminated_spans": q_remove_contaminated_spans,
    "mixture_plan": q_mixture_plan,
    "corpus_rollup": q_corpus_rollup,
    "dedup_exact": q_dedup_exact,
    "training_pipeline": q_training_pipeline,
    "dedup_incremental": q_dedup_incremental,
    "sample_stratified": q_sample_stratified,
    "cap_per_source": q_cap_per_source,
    "pack_contiguous": q_pack_contiguous,
    "split_assign": q_split_assign,
    "repetition_stats": q_repetition_stats,
    "gopher_filter": q_gopher_filter,
    "token_count": q_token_count,
    "text_quality": q_text_quality,
    "language_id": q_language_id,
    "ngram_jaccard": q_ngram_jaccard,
    "jaccard_prefix": q_jaccard_prefix,
    "hybrid_rrf": q_hybrid_rrf,
    "ema_smooth": q_ema_smooth,
    "autocorr": q_autocorr,
    "token_entropy": q_token_entropy,
    "source_divergence": q_source_divergence,
    "incremental_curation": q_incremental_curation,
    "leakage_split": q_leakage_split,
    "funnel": q_funnel,
    "retention": q_retention,
    "top_paths": q_top_paths,
    "negative_samples": q_negative_samples,
    "classifier_auc": q_classifier_auc,
    "isotonic": q_isotonic,
    "minhash_near_dups": q_minhash_near_dups,
    "minhash_incremental": q_minhash_incremental,
    "simhash_incremental": q_simhash_incremental,
    "ingest_screen": q_ingest_screen,
    "ingest_screen_prebanded": q_ingest_screen_prebanded,
    "ingest_screen_multimodal": q_ingest_screen_multimodal,
    "dedup_recall": q_dedup_recall,
    "standardize_embeddings": q_standardize_embeddings,
    "simhash_near_dups": q_simhash_near_dups,
    "cosine_topk": q_cosine_topk,
    "cosine_topk_batch": q_cosine_topk_batch,
    "ann_recall": q_ann_recall,
    "ivf_index_search": q_ivf_index_search,
    "temperature_mix": q_temperature_mix,
    "weighted_sample": q_weighted_sample,
    "lsh_topk": q_lsh_topk,
    "pq_topk": q_pq_topk,
    "kmeans_clusters": q_kmeans_clusters,
    "embedding_near_dups": q_embedding_near_dups,
    "dedup_clusters": q_dedup_clusters,
    "dedup_clusters_star": q_dedup_clusters_star,
    "ivf_topk": q_ivf_topk,
    "segment_dedup": q_segment_dedup,
    "decontaminate": q_decontaminate,
    "tfidf_top_terms": q_tfidf_top_terms,
    "random_projection": q_random_projection,
    "logreg_quality": q_logreg_quality,
    "subsequence_topk": q_subsequence_topk,
    "pii_redact": q_pii_redact,
    "c4_clean": q_c4_clean,
    "bigram_nll": q_bigram_nll,
    "domain_stats": q_domain_stats,
    "boilerplate_removal": q_boilerplate_removal,
    "span_dedup_stats": q_span_dedup_stats,
    "span_removal": q_span_removal,
    "dsir_weights": q_dsir_weights,
    "unicode_clean": q_unicode_clean,
    "corpus_stats": q_corpus_stats,
    "contamination_ratio": q_contamination_ratio,
    "vocabulary": q_vocabulary,
    "corpus_mix": q_corpus_mix,
    "bm25_topk": q_bm25_topk,
    "semdedup": q_semdedup,
    "semantic_dedup_recall": q_semantic_dedup_recall,
    "semantic_dedup_planted": q_semantic_dedup_planted,
    "semantic_dedup_incremental": q_semantic_dedup_incremental,
    "pagerank": q_pagerank,
    "triangle_count": q_triangle_count,
    "harmonic": q_harmonic,
    "corpus_diff": q_corpus_diff,
    "bpe_tokens": q_bpe_tokens,
    "image_near_dups": q_image_near_dups,
    "image_near_dups_incremental": q_image_near_dups_incremental,
    "audio_near_dups_incremental": q_audio_near_dups_incremental,
    "bm25_index_search": q_bm25_index_search,
    "quantize_embeddings": q_quantize_embeddings,
    "chunk_text": q_chunk_text,
    "latest_crawl": q_latest_crawl,
    "url_canonical": q_url_canonical,
    "corpus_overlap": q_corpus_overlap,
    "quantile_sketch": q_quantile_sketch,
    "quantile_sketch_merged": q_quantile_sketch_merged,
    "quantile_sketch_grouped": q_quantile_sketch_grouped,
    "quantile_sketch_grouped_merged": q_quantile_sketch_grouped_merged,
    "source_token_profile": q_source_token_profile,
    "distinct_tokens_by_source": q_distinct_tokens_by_source,
    "count_min_by_source": q_count_min_by_source,
    "registered_domain_psl": q_registered_domain_psl,
    "registered_domain_psl_full": q_registered_domain_psl_full,
    "quantized_topk": q_quantized_topk,
    "quality_selection": q_quality_selection,
    "curation_pipeline": q_curation_pipeline,
    "rolling_anomaly": q_rolling_anomaly,
    "audio_near_dups": q_audio_near_dups,
    "video_near_dups": q_video_near_dups,
    "scene_changes": q_scene_changes,
    "count_min_words": q_count_min_words,
    "hll_registers": q_hll_registers,
    "bpe_encode_ids": q_bpe_encode_ids,
    "tokenize_pack": q_tokenize_pack,
    "skew_join": q_skew_join,
    "dedup_bloom": q_dedup_bloom,
}

# Shared SQL fragments for the span-dedup oracles: overlapping 5-token
# span digests with 0-based positions, and their corpus-wide counts.
_SPAN_TOKS = """
            toks AS (
              SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS w
              FROM documents WHERE trim(text) != ''),
            spans AS (
              SELECT doc_id, i - 1 AS pos,
                     md5(array_to_string(w[i:i+4], ' ')) AS d
              FROM toks,
                   LATERAL (SELECT unnest(generate_series(1, len(w) - 4)) AS i)
              WHERE len(w) >= 5)
"""

_SPAN_RUNS = """
            marked AS (
              SELECT doc_id, pos,
                     max(pos) OVER (PARTITION BY doc_id ORDER BY pos
                                    ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND 1 PRECEDING) AS pm
              FROM hits),
            isl AS (
              SELECT doc_id, pos,
                     sum(CASE WHEN pm IS NULL OR pos > pm + 4
                         THEN 1 ELSE 0 END)
                       OVER (PARTITION BY doc_id ORDER BY pos) AS island
              FROM marked),
            runs AS (
              SELECT doc_id, island, min(pos) AS s, max(pos) + 4 AS e
              FROM isl GROUP BY 1, 2)
"""

ORACLES = {
    # ranking_metrics: replays the synthesized run (top-10 per query by
    # the fixed hash order) + graded qrels, then the metric arithmetic —
    # per-position micro-unit DCG gains snapped BEFORE the per-query sum
    # (order-independent), the ideal-ordering window for IDCG, integer-
    # div MRR, and the ratio metrics rounded to 6 (both engines round
    # half away from zero for positive values).
    "ranking_metrics": """
            WITH res AS (
              SELECT doc_id % 20 AS query_id, doc_id AS id,
                     row_number() OVER (
                       PARTITION BY doc_id % 20
                       ORDER BY (doc_id * 37) % 101, doc_id) AS rank
              FROM documents),
            r AS (SELECT * FROM res WHERE rank <= 10),
            q AS (
              SELECT doc_id % 20 AS query_id, doc_id AS id,
                     CAST(doc_id % 4 AS BIGINT) AS rel
              FROM documents
              WHERE doc_id % 3 = 0 AND doc_id % 4 > 0),
            rq AS (
              SELECT r.query_id, r.rank, q.rel,
                     -- (rank, id) ordering + explicit ROWS frame
                     -- (ADVICE r11 #4): matches the engine's
                     -- deterministic ROWS window even on
                     -- contract-violating duplicate ranks, where
                     -- DuckDB's default RANGE frame over rank alone
                     -- would sum whole peer groups
                     CAST(sum(CASE WHEN q.rel IS NOT NULL THEN 1
                              ELSE 0 END)
                          OVER (PARTITION BY r.query_id
                                ORDER BY r.rank, r.id
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND CURRENT ROW)
                          AS BIGINT) AS cum_hits
              FROM r LEFT JOIN q
                ON r.query_id = q.query_id AND r.id = q.id),
            perq AS (
              SELECT query_id,
                CAST(sum(CASE WHEN rel IS NOT NULL THEN
                      CAST(round((pow(2.0, rel) - 1)
                                 / log2(rank + 1.0) * 1000000)
                           AS BIGINT)
                    ELSE 0 END) AS BIGINT) AS dcg_micro,
                min(CASE WHEN rel IS NOT NULL THEN rank END)
                  AS first_rel_rank,
                CAST(sum(CASE WHEN rel IS NOT NULL THEN 1 ELSE 0 END)
                     AS BIGINT) AS hits,
                CAST(sum(CASE WHEN rel IS NOT NULL THEN
                      CAST(round(CAST(cum_hits AS DOUBLE) / rank
                                 * 1000000) AS BIGINT)
                    ELSE 0 END) AS BIGINT) AS ap_micro
              FROM rq
              GROUP BY query_id),
            ideal AS (
              SELECT query_id,
                     CAST(sum(CAST(round((pow(2.0, rel) - 1)
                                         / log2(pos + 1.0) * 1000000)
                                   AS BIGINT)) AS BIGINT) AS idcg_micro
              FROM (SELECT query_id, rel,
                           row_number() OVER (
                             PARTITION BY query_id
                             ORDER BY rel DESC, id) AS pos
                    FROM q)
              WHERE pos <= 10 GROUP BY query_id),
            tot AS (
              SELECT query_id, CAST(count(*) AS BIGINT) AS n_rel
              FROM q GROUP BY query_id)
            SELECT p.query_id,
                   coalesce(t.n_rel, 0) AS n_rel,
                   p.hits,
                   p.dcg_micro,
                   coalesce(i.idcg_micro, 0) AS idcg_micro,
                   CASE WHEN coalesce(i.idcg_micro, 0) > 0
                        THEN round(CAST(p.dcg_micro AS DOUBLE)
                                   / i.idcg_micro, 6)
                        ELSE 0.0 END AS ndcg_at_k,
                   CASE WHEN p.first_rel_rank IS NOT NULL
                        THEN (1000000000 // p.first_rel_rank) / 1e9
                        ELSE 0.0 END AS mrr,
                   round(p.hits / 10.0, 6) AS precision_at_k,
                   CASE WHEN coalesce(t.n_rel, 0) > 0
                        THEN round(CAST(p.hits AS DOUBLE) / t.n_rel, 6)
                        ELSE 0.0 END AS recall_at_k,
                   p.ap_micro,
                   CASE WHEN coalesce(t.n_rel, 0) > 0
                        THEN round(CAST(p.ap_micro AS DOUBLE)
                                   / least(t.n_rel, 10) / 1000000.0, 6)
                        ELSE 0.0 END AS map_at_k
            FROM perq p
            LEFT JOIN ideal i ON p.query_id = i.query_id
            LEFT JOIN tot t ON p.query_id = t.query_id
        """,
    # bm25_eval: the bm25_index_search oracle's ranked run (CTEs toks..r,
    # identical scoring) chained into the ranking_metrics replay — one
    # composed statement pinning that retrieval + eval agree end-to-end.
    "bm25_eval": """
            WITH toks AS (
              SELECT doc_id AS id,
                     CASE WHEN trim(text) = '' THEN []
                          ELSE string_split_regex(lower(trim(text)), '\\s+')
                     END AS w
              FROM documents),
            st AS (SELECT count(*) AS n, avg(len(w)) AS avgdl FROM toks),
            postings AS (
              SELECT term, id, count(*) AS tf
              FROM (SELECT id, unnest(w) AS term FROM toks)
              GROUP BY term, id),
            dstats AS (SELECT id, len(w) AS dl FROM toks),
            tdf AS (SELECT term, count(*) AS df FROM postings
                    GROUP BY term),
            qt AS (SELECT * FROM (VALUES
                   (1, 'spark'), (1, 'join'), (2, 'filter'), (2, 'hash'),
                   (3, 'window'), (3, 'table'))
                  AS t(query_id, term)),
            m AS (
              SELECT qt.query_id, p.id,
                     CAST(round(
                       ln(1 + ((SELECT n FROM st) - tdf.df + 0.5)
                              / (tdf.df + 0.5))
                       * (CAST(p.tf AS DOUBLE) * (1.2 + 1))
                       / (CAST(p.tf AS DOUBLE)
                          + 1.2 * (0.25 + 0.75 * CAST(s.dl AS DOUBLE)
                                   / (SELECT avgdl FROM st)))
                       * 1000000.0) AS BIGINT) AS c
              FROM qt JOIN tdf USING (term) JOIN postings p USING (term)
              JOIN dstats s ON s.id = p.id),
            sc AS (
              SELECT query_id, id, CAST(sum(c) AS BIGINT) AS s_micro
              FROM m GROUP BY 1, 2 HAVING sum(c) > 0),
            r AS (
              SELECT query_id, id, rank
              FROM (SELECT query_id, id,
                           row_number() OVER (PARTITION BY query_id
                             ORDER BY s_micro DESC, id) AS rank
                    FROM sc)
              WHERE rank <= 10),
            q AS (
              SELECT doc_id % 3 + 1 AS query_id, doc_id AS id,
                     CAST(doc_id % 4 AS BIGINT) AS rel
              FROM documents WHERE doc_id % 4 > 0),
            rq AS (
              SELECT r.query_id, r.rank, q.rel,
                     -- (rank, id) ordering + explicit ROWS frame
                     -- (ADVICE r11 #4): matches the engine's
                     -- deterministic ROWS window even on
                     -- contract-violating duplicate ranks, where
                     -- DuckDB's default RANGE frame over rank alone
                     -- would sum whole peer groups
                     CAST(sum(CASE WHEN q.rel IS NOT NULL THEN 1
                              ELSE 0 END)
                          OVER (PARTITION BY r.query_id
                                ORDER BY r.rank, r.id
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND CURRENT ROW)
                          AS BIGINT) AS cum_hits
              FROM r LEFT JOIN q
                ON r.query_id = q.query_id AND r.id = q.id),
            perq AS (
              SELECT query_id,
                CAST(sum(CASE WHEN rel IS NOT NULL THEN
                      CAST(round((pow(2.0, rel) - 1)
                                 / log2(rank + 1.0) * 1000000)
                           AS BIGINT)
                    ELSE 0 END) AS BIGINT) AS dcg_micro,
                min(CASE WHEN rel IS NOT NULL THEN rank END)
                  AS first_rel_rank,
                CAST(sum(CASE WHEN rel IS NOT NULL THEN 1 ELSE 0 END)
                     AS BIGINT) AS hits,
                CAST(sum(CASE WHEN rel IS NOT NULL THEN
                      CAST(round(CAST(cum_hits AS DOUBLE) / rank
                                 * 1000000) AS BIGINT)
                    ELSE 0 END) AS BIGINT) AS ap_micro
              FROM rq
              GROUP BY query_id),
            ideal AS (
              SELECT query_id,
                     CAST(sum(CAST(round((pow(2.0, rel) - 1)
                                         / log2(pos + 1.0) * 1000000)
                                   AS BIGINT)) AS BIGINT) AS idcg_micro
              FROM (SELECT query_id, rel,
                           row_number() OVER (
                             PARTITION BY query_id
                             ORDER BY rel DESC, id) AS pos
                    FROM q)
              WHERE pos <= 10 GROUP BY query_id),
            tot AS (
              SELECT query_id, CAST(count(*) AS BIGINT) AS n_rel
              FROM q GROUP BY query_id)
            SELECT p.query_id,
                   coalesce(t.n_rel, 0) AS n_rel,
                   p.hits,
                   p.dcg_micro,
                   coalesce(i.idcg_micro, 0) AS idcg_micro,
                   CASE WHEN coalesce(i.idcg_micro, 0) > 0
                        THEN round(CAST(p.dcg_micro AS DOUBLE)
                                   / i.idcg_micro, 6)
                        ELSE 0.0 END AS ndcg_at_k,
                   CASE WHEN p.first_rel_rank IS NOT NULL
                        THEN (1000000000 // p.first_rel_rank) / 1e9
                        ELSE 0.0 END AS mrr,
                   round(p.hits / 10.0, 6) AS precision_at_k,
                   CASE WHEN coalesce(t.n_rel, 0) > 0
                        THEN round(CAST(p.hits AS DOUBLE) / t.n_rel, 6)
                        ELSE 0.0 END AS recall_at_k,
                   p.ap_micro,
                   CASE WHEN coalesce(t.n_rel, 0) > 0
                        THEN round(CAST(p.ap_micro AS DOUBLE)
                                   / least(t.n_rel, 10) / 1000000.0, 6)
                        ELSE 0.0 END AS map_at_k
            FROM perq p
            LEFT JOIN ideal i ON p.query_id = i.query_id
            LEFT JOIN tot t ON p.query_id = t.query_id
        """,
    # classifier_calibration / _ece / _confusion: the scored CTE repeats
    # the gate's exact expression text (same doubles pre-rounding);
    # micro sums CAST to BIGINT (DuckDB hugeint-vs-int64 convention).
    "classifier_calibration": """
            WITH scored AS (
              SELECT ((doc_id * 2654435761) % 1000) / 999.0 AS s,
                     CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
              FROM documents),
            b AS (
              SELECT least(CAST(floor(s * 10) AS BIGINT), 9) AS bin,
                     CAST(round(s * 1000000) AS BIGINT) AS sm, y
              FROM scored)
            SELECT bin,
                   CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(y) AS BIGINT) AS n_pos,
                   CAST(sum(sm) AS BIGINT) AS conf_micro,
                   round(CAST(sum(sm) AS BIGINT) / count(*) / 1e6, 6)
                     AS mean_score,
                   round(CAST(sum(y) AS DOUBLE) / count(*), 6)
                     AS pos_rate,
                   CAST(abs(sum(sm) - sum(y) * 1000000) AS BIGINT)
                     AS gap_micro
            FROM b GROUP BY bin
        """,
    "classifier_ece": """
            WITH scored AS (
              SELECT ((doc_id * 2654435761) % 1000) / 999.0 AS s,
                     CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
              FROM documents),
            b AS (
              SELECT least(CAST(floor(s * 10) AS BIGINT), 9) AS bin,
                     CAST(round(s * 1000000) AS BIGINT) AS sm, y
              FROM scored),
            bins AS (
              SELECT bin, count(*) AS n, sum(y) AS np, sum(sm) AS cm
              FROM b GROUP BY bin)
            SELECT CAST(sum(n) AS BIGINT) AS n,
                   CAST(sum(abs(cm - np * 1000000)) AS BIGINT)
                     AS ece_micro,
                   round(CAST(sum(abs(cm - np * 1000000)) AS DOUBLE)
                         / (CAST(sum(n) AS BIGINT) * 1e6), 6) AS ece
            FROM bins
        """,
    "classifier_confusion": """
            WITH scored AS (
              SELECT ((doc_id * 2654435761) % 1000) / 999.0 AS s,
                     CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
              FROM documents),
            c AS (
              SELECT
                CAST(sum(CASE WHEN s >= 0.5 AND y = 1 THEN 1 ELSE 0 END)
                     AS BIGINT) AS tp,
                CAST(sum(CASE WHEN s >= 0.5 AND y = 0 THEN 1 ELSE 0 END)
                     AS BIGINT) AS fp,
                CAST(sum(CASE WHEN s < 0.5 AND y = 0 THEN 1 ELSE 0 END)
                     AS BIGINT) AS tn,
                CAST(sum(CASE WHEN s < 0.5 AND y = 1 THEN 1 ELSE 0 END)
                     AS BIGINT) AS fn
              FROM scored)
            SELECT tp, fp, tn, fn,
                   CASE WHEN tp + fp > 0
                        THEN round(CAST(tp AS DOUBLE) / (tp + fp), 6)
                   END AS precision,
                   CASE WHEN tp + fn > 0
                        THEN round(CAST(tp AS DOUBLE) / (tp + fn), 6)
                   END AS recall,
                   CASE WHEN 2 * tp + fp + fn > 0
                        THEN round(CAST(2 * tp AS DOUBLE)
                                   / (2 * tp + fp + fn), 6)
                   END AS f1,
                   CASE WHEN tp + fp + tn + fn > 0
                        THEN round(CAST(tp + tn AS DOUBLE)
                                   / (tp + fp + tn + fn), 6)
                   END AS accuracy
            FROM c
        """,
    # cohens_kappa: cells -> marginals -> po/pe/kappa, all-int counts,
    # the three divisions written with the same operand text as the
    # engine's try_divide expressions.
    "cohens_kappa": """
            WITH pairs AS (
              SELECT lang AS a,
                     CASE WHEN doc_id % 11 = 3 THEN NULL
                          WHEN doc_id % 7 = 0 THEN 'zz'
                          ELSE lang END AS b
              FROM documents),
            v AS (SELECT a, b FROM pairs
                  WHERE a IS NOT NULL AND b IS NOT NULL),
            cells AS (SELECT a, b, count(*) AS c FROM v GROUP BY a, b),
            po AS (
              SELECT CAST(coalesce(sum(c), 0) AS BIGINT) AS n,
                     CAST(coalesce(sum(CASE WHEN a = b THEN c END), 0)
                          AS BIGINT) AS agree
              FROM cells),
            ra AS (SELECT a, sum(c) AS rc FROM cells GROUP BY a),
            cb AS (SELECT b, sum(c) AS cc FROM cells GROUP BY b),
            pe AS (
              SELECT CAST(coalesce(sum(rc * cc), 0) AS BIGINT) AS pe_num
              FROM ra JOIN cb ON ra.a = cb.b)
            SELECT n, agree, pe_num,
                   round(CAST(agree AS DOUBLE) / n, 6) AS po,
                   round(CAST(pe_num AS DOUBLE) / (n * n), 6) AS pe,
                   round((CAST(agree AS DOUBLE) / n
                          - CAST(pe_num AS DOUBLE) / (n * n))
                         / (1.0 - CAST(pe_num AS DOUBLE) / (n * n)), 6)
                     AS kappa
            FROM po, pe
        """,
    # fairness_confusion / fairness_gaps: one group-keyed aggregate;
    # the gaps subtract the per-group rates AFTER the 6-decimal round
    # (the published numbers) on both engines; NULL rates skipped by
    # max/min in both.
    "fairness_confusion": """
            WITH scored AS (
              SELECT ((doc_id * 2654435761) % 1000) / 999.0 AS s,
                     CASE WHEN n_chars > 1000 THEN 1 ELSE 0 END AS y,
                     lang
              FROM documents),
            c AS (
              SELECT lang AS "group",
                CAST(count(*) AS BIGINT) AS n,
                CAST(sum(CASE WHEN s >= 0.5 AND y = 1 THEN 1 ELSE 0 END)
                     AS BIGINT) AS tp,
                CAST(sum(CASE WHEN s >= 0.5 AND y = 0 THEN 1 ELSE 0 END)
                     AS BIGINT) AS fp,
                CAST(sum(CASE WHEN s < 0.5 AND y = 0 THEN 1 ELSE 0 END)
                     AS BIGINT) AS tn,
                CAST(sum(CASE WHEN s < 0.5 AND y = 1 THEN 1 ELSE 0 END)
                     AS BIGINT) AS fn
              FROM scored GROUP BY lang)
            SELECT "group", n, tp, fp, tn, fn,
                   CASE WHEN n > 0
                        THEN round(CAST(tp + fp AS DOUBLE) / n, 6)
                   END AS selection_rate,
                   CASE WHEN tp + fn > 0
                        THEN round(CAST(tp AS DOUBLE) / (tp + fn), 6)
                   END AS tpr,
                   CASE WHEN fp + tn > 0
                        THEN round(CAST(fp AS DOUBLE) / (fp + tn), 6)
                   END AS fpr
            FROM c
        """,
    "fairness_gaps": """
            WITH scored AS (
              SELECT ((doc_id * 2654435761) % 1000) / 999.0 AS s,
                     CASE WHEN n_chars > 1000 THEN 1 ELSE 0 END AS y,
                     lang
              FROM documents),
            c AS (
              SELECT lang,
                CAST(count(*) AS BIGINT) AS n,
                CAST(sum(CASE WHEN s >= 0.5 AND y = 1 THEN 1 ELSE 0 END)
                     AS BIGINT) AS tp,
                CAST(sum(CASE WHEN s >= 0.5 AND y = 0 THEN 1 ELSE 0 END)
                     AS BIGINT) AS fp,
                CAST(sum(CASE WHEN s < 0.5 AND y = 0 THEN 1 ELSE 0 END)
                     AS BIGINT) AS tn,
                CAST(sum(CASE WHEN s < 0.5 AND y = 1 THEN 1 ELSE 0 END)
                     AS BIGINT) AS fn
              FROM scored GROUP BY lang),
            rates AS (
              SELECT CASE WHEN n > 0
                          THEN round(CAST(tp + fp AS DOUBLE) / n, 6)
                     END AS sel,
                     CASE WHEN tp + fn > 0
                          THEN round(CAST(tp AS DOUBLE) / (tp + fn), 6)
                     END AS tpr,
                     CASE WHEN fp + tn > 0
                          THEN round(CAST(fp AS DOUBLE) / (fp + tn), 6)
                     END AS fpr
              FROM c)
            SELECT CAST(count(*) AS BIGINT) AS n_groups,
                   round(max(sel) - min(sel), 6) AS dp_gap,
                   round(max(tpr) - min(tpr), 6) AS eo_tpr_gap,
                   round(max(fpr) - min(fpr), 6) AS eo_fpr_gap
            FROM rates
        """,
    # k_anonymity: class aggregate on the quasi tuple + join back;
    # Spark `div` and DuckDB `//` agree on non-negative ints; the
    # fixture's quasi columns are non-NULL so the plain equi-join
    # mirrors the engine's null-safe one.
    "k_anonymity": """
            WITH base AS (
              SELECT doc_id, lang, source,
                     n_chars // 250 AS len_bucket,
                     doc_id % 90 AS age
              FROM documents),
            cls AS (
              SELECT lang, source, len_bucket,
                     CAST(count(*) AS BIGINT) AS class_size,
                     CAST(count(DISTINCT age) AS BIGINT)
                       AS distinct_sensitive
              FROM base GROUP BY lang, source, len_bucket)
            SELECT b.doc_id, b.lang, b.source, b.len_bucket, b.age,
                   c.class_size, c.distinct_sensitive,
                   c.class_size < 5 AS suppressed
            FROM base b
            JOIN cls c ON b.lang = c.lang AND b.source = c.source
                      AND b.len_bucket = c.len_bucket
        """,
    # t_closeness: per-class total-variation distance vs the global
    # sensitive histogram, exact HUGEINT arithmetic mirroring the
    # engine's decimal(38) lane; round-then-compare matches the
    # engine's violates rule
    "t_closeness": """
            WITH base AS (
              SELECT lang, source, n_chars // 250 AS len_bucket,
                     doc_id % 90 AS age
              FROM documents),
            n AS (SELECT CAST(count(*) AS HUGEINT) AS n FROM base),
            vtot AS (
              SELECT age, CAST(count(*) AS HUGEINT) AS n_v
              FROM base GROUP BY age),
            csz AS (
              SELECT lang, source, len_bucket,
                     CAST(count(*) AS HUGEINT) AS n_c
              FROM base GROUP BY lang, source, len_bucket),
            cv AS (
              SELECT lang, source, len_bucket, age,
                     CAST(count(*) AS HUGEINT) AS n_cv
              FROM base GROUP BY lang, source, len_bucket, age),
            terms AS (
              SELECT cv.lang, cv.source, cv.len_bucket,
                     abs(cv.n_cv * n.n - v.n_v * c.n_c) AS term,
                     v.n_v
              FROM cv
              JOIN vtot v USING (age)
              JOIN csz c USING (lang, source, len_bucket), n),
            agg AS (
              SELECT lang, source, len_bucket,
                     sum(term) AS present, sum(n_v) AS sum_nv
              FROM terms GROUP BY lang, source, len_bucket)
            SELECT a.lang, a.source, a.len_bucket,
                   CAST(c.n_c AS BIGINT) AS class_size,
                   round(CAST(a.present + c.n_c * (n.n - a.sum_nv)
                              AS DOUBLE)
                         / (2.0 * CAST(c.n_c AS DOUBLE)
                            * CAST(n.n AS DOUBLE)), 6) AS tvd,
                   round(CAST(a.present + c.n_c * (n.n - a.sum_nv)
                              AS DOUBLE)
                         / (2.0 * CAST(c.n_c AS DOUBLE)
                            * CAST(n.n AS DOUBLE)), 6) > 0.35
                     AS violates
            FROM agg a
            JOIN csz c USING (lang, source, len_bucket), n
        """,
    # l_diversity: per-class sensitive-frequency profile; the tail
    # Σ_{i>=l} replays via a row_number rank filter (tie-invariant
    # multiset sum); recursive (c,l) compare over HUGEINTs mirrors the
    # engine's decimal(38) exact-rational lane (c=1 -> 1/1)
    "l_diversity": """
            WITH base AS (
              SELECT lang, source, n_chars // 250 AS len_bucket,
                     doc_id % 90 AS age
              FROM documents),
            cv AS (
              SELECT lang, source, len_bucket, age,
                     CAST(count(*) AS HUGEINT) AS n_cv
              FROM base GROUP BY lang, source, len_bucket, age),
            ranked AS (
              SELECT *, row_number() OVER (
                  PARTITION BY lang, source, len_bucket
                  ORDER BY n_cv DESC) AS rk
              FROM cv),
            agg AS (
              SELECT lang, source, len_bucket,
                     CAST(sum(n_cv) AS BIGINT) AS class_size,
                     CAST(count(*) AS BIGINT) AS distinct_l,
                     CAST(max(n_cv) AS BIGINT) AS top_count,
                     CAST(coalesce(sum(n_cv) FILTER (rk >= 3), 0)
                          AS BIGINT) AS tail_from_l
              FROM ranked GROUP BY lang, source, len_bucket)
            SELECT lang, source, len_bucket, class_size, distinct_l,
                   top_count, tail_from_l,
                   distinct_l >= 3 AS diverse,
                   CAST(top_count AS HUGEINT) * 1
                     < 1 * CAST(tail_from_l AS HUGEINT) AS recursive_ok
            FROM agg
        """,
    # winnow_*: relational replay of the winnowing selection — window
    # starts j in 1..max(n-w+1, 1) (short docs = one truncated window),
    # rightmost-min via row_number ORDER BY hash ASC, pos DESC; same
    # md5->60-bit fingerprint as the engine's _md5_to_long
    "winnow_fingerprints": """
            WITH toks AS (
              SELECT doc_id,
                     string_split_regex(lower(trim(text)), '\\s+') AS tk
              FROM documents WHERE trim(text) <> ''),
            pos AS (
              SELECT doc_id, tk,
                     unnest(range(1, greatest(len(tk) - 4, 0) + 1)) AS p
              FROM toks),
            hashes AS (
              SELECT doc_id, p,
                     CAST('0x' || substr(md5(
                         array_to_string(tk[p : p + 4], ' ')), 1, 15)
                          AS BIGINT) AS h
              FROM pos),
            nh AS (SELECT doc_id, count(*) AS n FROM hashes
                   GROUP BY doc_id),
            winstart AS (
              SELECT doc_id,
                     unnest(range(1, greatest(n - 3, 1) + 1)) AS j
              FROM nh),
            wins AS (
              SELECT h.doc_id, ws.j, h.p, h.h,
                     row_number() OVER (PARTITION BY h.doc_id, ws.j
                                        ORDER BY h.h ASC, h.p DESC) AS rn
              FROM hashes h JOIN winstart ws
                ON h.doc_id = ws.doc_id
               AND h.p BETWEEN ws.j AND ws.j + 3),
            sel AS (SELECT DISTINCT doc_id, p, h FROM wins WHERE rn = 1)
            SELECT doc_id, CAST(count(*) AS BIGINT) AS n_fp,
                   min(h) AS min_fp, max(h) AS max_fp,
                   CAST(sum(h % 1000003) AS BIGINT) AS fp_mod_sum
            FROM sel GROUP BY doc_id
        """,
    "winnow_overlap": """
            WITH toks AS (
              SELECT doc_id,
                     string_split_regex(lower(trim(text)), '\\s+') AS tk
              FROM documents WHERE trim(text) <> ''),
            pos AS (
              SELECT doc_id, tk,
                     unnest(range(1, greatest(len(tk) - 3, 0) + 1)) AS p
              FROM toks),
            hashes AS (
              SELECT doc_id, p,
                     CAST('0x' || substr(md5(
                         array_to_string(tk[p : p + 3], ' ')), 1, 15)
                          AS BIGINT) AS h
              FROM pos),
            nh AS (SELECT doc_id, count(*) AS n FROM hashes
                   GROUP BY doc_id),
            winstart AS (
              SELECT doc_id,
                     unnest(range(1, greatest(n - 3, 1) + 1)) AS j
              FROM nh),
            wins AS (
              SELECT h.doc_id, ws.j, h.p, h.h,
                     row_number() OVER (PARTITION BY h.doc_id, ws.j
                                        ORDER BY h.h ASC, h.p DESC) AS rn
              FROM hashes h JOIN winstart ws
                ON h.doc_id = ws.doc_id
               AND h.p BETWEEN ws.j AND ws.j + 3),
            sel AS (SELECT DISTINCT doc_id, h FROM wins WHERE rn = 1),
            kept AS (
              SELECT doc_id, h FROM sel
              WHERE h IN (SELECT h FROM sel GROUP BY h
                          HAVING count(*) <= 2))
            SELECT a.doc_id AS id1, b.doc_id AS id2,
                   CAST(count(*) AS BIGINT) AS n_shared
            FROM kept a JOIN kept b
              ON a.h = b.h AND a.doc_id < b.doc_id
            GROUP BY a.doc_id, b.doc_id
            HAVING count(*) >= 1
        """,
    # winnow_incremental: selection replay over the UNION corpus (new
    # ids offset +1e6 keep the split derivable) + strictly new x seen
    # fingerprint join — k=4 (tk[p:p+3]), w=4
    "winnow_incremental": """
            WITH corpus AS (
              SELECT doc_id, text FROM documents WHERE doc_id % 5 != 0
              UNION ALL
              SELECT doc_id + 1000000 AS doc_id, text || ' qq7' AS text
              FROM documents WHERE doc_id % 5 = 0),
            toks AS (
              SELECT doc_id,
                     string_split_regex(lower(trim(text)), '\\s+') AS tk
              FROM corpus WHERE trim(text) <> ''),
            pos AS (
              SELECT doc_id, tk,
                     unnest(range(1, greatest(len(tk) - 3, 0) + 1)) AS p
              FROM toks),
            hashes AS (
              SELECT doc_id, p,
                     CAST('0x' || substr(md5(
                         array_to_string(tk[p : p + 3], ' ')), 1, 15)
                          AS BIGINT) AS h
              FROM pos),
            nh AS (SELECT doc_id, count(*) AS n FROM hashes
                   GROUP BY doc_id),
            winstart AS (
              SELECT doc_id,
                     unnest(range(1, greatest(n - 3, 1) + 1)) AS j
              FROM nh),
            wins AS (
              SELECT h.doc_id, ws.j, h.p, h.h,
                     row_number() OVER (PARTITION BY h.doc_id, ws.j
                                        ORDER BY h.h ASC, h.p DESC) AS rn
              FROM hashes h JOIN winstart ws
                ON h.doc_id = ws.doc_id
               AND h.p BETWEEN ws.j AND ws.j + 3),
            sel AS (SELECT DISTINCT doc_id, h FROM wins WHERE rn = 1)
            SELECT n.doc_id AS new_id, s.doc_id AS seen_id,
                   CAST(count(*) AS BIGINT) AS n_shared
            FROM (SELECT doc_id, h FROM sel WHERE doc_id >= 1000000) n
            JOIN (SELECT doc_id, h FROM sel WHERE doc_id < 1000000) s
              USING (h)
            GROUP BY n.doc_id, s.doc_id
        """,
    # quality_buckets: ntile terciles per language over the tie-broken
    # (score, doc_id) total order — both engines put ntile remainder
    # rows in the earliest buckets (SQL standard)
    "quality_buckets": """
            WITH base AS (
              SELECT doc_id, lang, n_chars % 97 AS score
              FROM documents)
            SELECT doc_id, lang, CAST(score AS BIGINT) AS score,
                   CAST(ntile(3) OVER (
                       PARTITION BY lang ORDER BY score, doc_id)
                     AS INT) AS bucket,
                   CASE ntile(3) OVER (
                       PARTITION BY lang ORDER BY score, doc_id)
                     WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
                     ELSE 'tail' END AS bucket_label
            FROM base
        """,
    # mixture_plan: python-exact dyadic targets as literals; epochs and
    # rate_ppm replayed with HUGEINT floor division
    "mixture_plan": """
            WITH stats AS (
              SELECT source AS domain,
                     CAST(sum(CASE WHEN trim(text) = '' THEN 0
                              ELSE len(string_split_regex(trim(text),
                                                          '\\s+'))
                              END) AS HUGEINT) AS n
              FROM documents GROUP BY source),
            plan AS (
              SELECT domain, n,
                     CAST(CASE domain
                          WHEN 'src0' THEN 10000
                          WHEN 'src1' THEN 5000
                          WHEN 'src2' THEN 2500
                          WHEN 'src3' THEN 1250
                          ELSE 0 END AS HUGEINT) AS t
              FROM stats)
            SELECT domain,
                   CAST(n AS BIGINT) AS n_tokens,
                   CAST(t AS BIGINT) AS target_tokens,
                   CAST(CASE WHEN t <= 0 OR n <= 0 THEN 0
                             ELSE (t + n - 1) // n END AS BIGINT)
                     AS epochs,
                   CAST(CASE WHEN t <= 0 OR n <= 0 THEN 0
                             ELSE (t * 1000000)
                                  // (n * ((t + n - 1) // n))
                        END AS BIGINT) AS rate_ppm
            FROM plan
        """,
    # decontaminate_spans: hit positions (0-based) from the broadcast
    # digest join, merged to maximal runs with a running-max
    # gaps-and-islands window (a hit at p covers [p, p+3] at n=4)
    "decontaminate_spans": """
            WITH toks AS (
              SELECT doc_id,
                     string_split_regex(trim(lower(text)), '\\s+') AS w
              FROM documents),
            poss AS (
              SELECT doc_id, w,
                     unnest(range(1, greatest(len(w) - 3, 0) + 1)) AS i
              FROM toks),
            sh AS (
              SELECT doc_id, i - 1 AS pos,
                     array_to_string(w[i : i + 3], ' ') AS s
              FROM poss),
            bench AS (SELECT DISTINCT s FROM sh WHERE doc_id % 7 = 0),
            hits AS (
              SELECT a.doc_id, a.pos FROM sh a JOIN bench USING (s)
              WHERE a.doc_id % 7 != 0),
            pm AS (
              SELECT doc_id, pos,
                     CASE WHEN pos > coalesce(max(pos) OVER (
                              PARTITION BY doc_id ORDER BY pos
                              ROWS BETWEEN UNBOUNDED PRECEDING
                                       AND 1 PRECEDING), -1000000) + 3
                          THEN 1 ELSE 0 END AS brk
              FROM hits),
            grp AS (
              SELECT doc_id, pos,
                     sum(brk) OVER (PARTITION BY doc_id ORDER BY pos
                                    ROWS UNBOUNDED PRECEDING) AS g
              FROM pm)
            SELECT doc_id AS id, CAST(min(pos) AS INT) AS s,
                   CAST(max(pos) + 3 AS INT) AS e,
                   CAST(max(pos) + 3 - min(pos) + 1 AS INT)
                     AS span_tokens
            FROM grp GROUP BY doc_id, g
        """,
    # remove_contaminated_spans: the same runs + token-stream rebuild;
    # docs without runs keep their text VERBATIM (the engine contract)
    "remove_contaminated_spans": """
            WITH toks AS (
              SELECT doc_id,
                     string_split_regex(trim(lower(text)), '\\s+') AS w
              FROM documents),
            poss AS (
              SELECT doc_id, w,
                     unnest(range(1, greatest(len(w) - 3, 0) + 1)) AS i
              FROM toks),
            sh AS (
              SELECT doc_id, i - 1 AS pos,
                     array_to_string(w[i : i + 3], ' ') AS s
              FROM poss),
            bench AS (SELECT DISTINCT s FROM sh WHERE doc_id % 7 = 0),
            hits AS (
              SELECT a.doc_id, a.pos FROM sh a JOIN bench USING (s)
              WHERE a.doc_id % 7 != 0),
            pm AS (
              SELECT doc_id, pos,
                     CASE WHEN pos > coalesce(max(pos) OVER (
                              PARTITION BY doc_id ORDER BY pos
                              ROWS BETWEEN UNBOUNDED PRECEDING
                                       AND 1 PRECEDING), -1000000) + 3
                          THEN 1 ELSE 0 END AS brk
              FROM hits),
            grp AS (
              SELECT doc_id, pos,
                     sum(brk) OVER (PARTITION BY doc_id ORDER BY pos
                                    ROWS UNBOUNDED PRECEDING) AS g
              FROM pm),
            runs AS (
              SELECT doc_id AS rid, min(pos) AS s, max(pos) + 3 AS e
              FROM grp GROUP BY doc_id, g),
            train AS (
              SELECT doc_id, text FROM documents WHERE doc_id % 7 != 0),
            cutdocs AS (SELECT DISTINCT rid FROM runs),
            otoks AS (
              SELECT c.doc_id, c.w0,
                     unnest(range(1, len(c.w0) + 1)) AS i
              FROM (SELECT t.doc_id,
                           string_split_regex(trim(t.text), '\\s+') AS w0
                    FROM train t JOIN cutdocs ON t.doc_id = rid) c),
            kept AS (
              SELECT o.doc_id, o.i - 1 AS p, o.w0[o.i] AS tok
              FROM otoks o
              WHERE NOT EXISTS (
                SELECT 1 FROM runs r
                WHERE r.rid = o.doc_id
                  AND o.i - 1 BETWEEN r.s AND r.e)),
            rebuilt AS (
              SELECT doc_id,
                     coalesce(string_agg(tok, ' ' ORDER BY p), '') AS t
              FROM kept GROUP BY doc_id)
            SELECT tr.doc_id,
                   md5(CASE WHEN cd.rid IS NULL THEN tr.text
                            ELSE coalesce(r.t, '') END) AS out_md5,
                   CAST(length(CASE WHEN cd.rid IS NULL THEN tr.text
                                    ELSE coalesce(r.t, '') END) AS INT)
                     AS out_len
            FROM train tr
            LEFT JOIN cutdocs cd ON cd.rid = tr.doc_id
            LEFT JOIN rebuilt r ON r.doc_id = tr.doc_id
        """,
    # dedup_lines_global: re-line into aligned 8-token chunks, rank
    # each normalized non-empty line by (doc_id, pos) per digest, keep
    # rank 1 (+ all blank lines), rebuild with ordered string_agg;
    # md5+length pin the rebuilt text. Left join restores docs whose
    # every line was a later occurrence (rebuilt '').
    "dedup_lines_global": """
            WITH toks AS (
              SELECT doc_id,
                     string_split_regex(trim(text), '\\s+') AS w
              FROM documents),
            ml AS (
              SELECT doc_id,
                     CASE WHEN len(w) // 8 <= 0 THEN ''
                          ELSE array_to_string(
                              list_transform(
                                  range(1, len(w) // 8 + 1),
                                  i -> array_to_string(
                                      w[(i-1)*8+1 : i*8], ' ')),
                              chr(10)) END AS text
              FROM toks),
            ln AS (SELECT doc_id, string_split(text, chr(10)) AS ls
                   FROM ml),
            lines AS (
              SELECT doc_id, g.i - 1 AS pos, ls[g.i] AS line
              FROM ln, unnest(range(1, len(ls) + 1)) AS g(i)),
            content AS (
              SELECT doc_id, pos, line,
                     md5(regexp_replace(lower(trim(line)), '\\s+', ' ',
                                        'g')) AS d
              FROM lines WHERE trim(line) <> ''),
            ranked AS (
              SELECT *, row_number() OVER (
                  PARTITION BY d ORDER BY doc_id, pos) AS rn
              FROM content),
            kept AS (
              SELECT doc_id, pos, line FROM ranked WHERE rn = 1
              UNION ALL
              SELECT doc_id, pos, line FROM lines
              WHERE trim(line) = ''),
            rebuilt AS (
              SELECT doc_id,
                     string_agg(line, chr(10) ORDER BY pos) AS t
              FROM kept GROUP BY doc_id)
            SELECT m.doc_id,
                   md5(coalesce(r.t, '')) AS out_md5,
                   CAST(length(coalesce(r.t, '')) AS INT) AS out_len
            FROM ml m LEFT JOIN rebuilt r USING (doc_id)
        """,
    # contamination_attribution: the decontaminate replay grouped by
    # BOTH ids (string-keyed join — same md5-collision convention as
    # the decontaminate oracle)
    "contamination_attribution": """
            WITH toks AS (
              SELECT doc_id,
                     string_split_regex(trim(lower(text)), '\\s+') AS w
              FROM documents),
            sh AS (
              SELECT DISTINCT doc_id,
                     unnest(list_transform(generate_series(1, len(w) - 4),
                            i -> array_to_string(w[i:i+4], ' '))) AS s
              FROM toks WHERE len(w) >= 5)
            SELECT a.doc_id AS id, b.doc_id AS bench_id,
                   CAST(count(*) AS BIGINT) AS n_shared
            FROM sh a
            JOIN (SELECT doc_id, s FROM sh WHERE doc_id % 53 = 0) b
              USING (s)
            WHERE a.doc_id % 53 != 0
            GROUP BY a.doc_id, b.doc_id
        """,
    # corpus_rollup: GROUP BY ROLLUP with GROUPING() — same
    # leftmost-is-MSB bit convention as Spark grouping_id().
    "corpus_rollup": """
            SELECT source, lang,
                   CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(length(text)) AS BIGINT) AS total_chars,
                   CAST(sum(CASE WHEN trim(text) = '' THEN 0
                                 ELSE len(string_split_regex(trim(text),
                                                             '\\s+'))
                            END) AS BIGINT) AS total_tokens,
                   CAST(GROUPING(source, lang) AS BIGINT) AS gid
            FROM documents GROUP BY ROLLUP (source, lang)
        """,
    "dedup_exact": """
            SELECT md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fingerprint,
                   min(doc_id) AS keep_id, count(*) AS n_copies
            FROM documents GROUP BY ALL
        """,
    "training_pipeline": f"""
            WITH toks AS (
              SELECT doc_id,
                     CASE WHEN trim(text) = '' THEN []
                          ELSE string_split_regex(lower(trim(text)), '\\s+')
                     END AS t
              FROM documents),
            words AS (
              SELECT doc_id, len(t) AS n_words,
                     len(list_filter(t, w -> regexp_matches(w, '[a-z]'))) AS n_alpha,
                     len(list_filter(t, w -> list_contains(
                         {_STOPWORDS_SQL}, w))) AS n_stop,
                     CAST(coalesce(list_sum(list_transform(t, w -> length(w))), 0)
                          AS BIGINT) AS wc
              FROM toks),
            g AS (
              SELECT doc_id, n, unnest(list_transform(
                       generate_series(1, len(t) - n + 1),
                       i -> array_to_string(list_slice(t, i, i + n - 1), ' '))) AS gr
              FROM toks, (SELECT unnest([2, 5]) AS n) ns
              WHERE len(t) >= n),
            cnt AS (SELECT doc_id, n, gr, count(*) AS k, length(gr) AS lg
                    FROM g GROUP BY doc_id, n, gr),
            rep AS (
              SELECT doc_id,
                     max(CASE WHEN n = 2 THEN k * lg END) AS top2,
                     sum(CASE WHEN n = 2 THEN k * lg END) AS tot2,
                     sum(CASE WHEN n = 5 AND k > 1 THEN k * lg ELSE 0 END) AS dup5,
                     sum(CASE WHEN n = 5 THEN k * lg END) AS tot5
              FROM cnt GROUP BY doc_id),
            flt AS (
              SELECT d.doc_id, d.lang, d.text, d.n_chars
              FROM documents d JOIN words w USING (doc_id)
                   LEFT JOIN rep USING (doc_id)
              WHERE w.n_words BETWEEN 30 AND 100000
                AND (w.wc::DOUBLE / nullif(w.n_words, 0) >= 3.0 AND
                     w.wc::DOUBLE / nullif(w.n_words, 0) <= 10.0)
                AND w.n_alpha::DOUBLE / nullif(w.n_words, 0) >= 0.8
                AND w.n_stop >= 1
                AND coalesce(top2::DOUBLE / nullif(tot2, 0) <= 0.20, TRUE)
                AND coalesce(dup5::DOUBLE / nullif(tot5, 0) <= 0.15, TRUE)),
            fp AS (SELECT doc_id, lang, n_chars,
                          md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS f
                   FROM flt),
            canon AS (SELECT min(doc_id) AS doc_id FROM fp GROUP BY f),
            ded AS (SELECT fp.* FROM fp JOIN canon USING (doc_id)),
            samp AS (
              SELECT * FROM ded
              WHERE CAST('0x' || substr(md5('13-' || CAST(doc_id AS VARCHAR)), 1, 15)
                         AS BIGINT) / 1152921504606846976.0
                    < CASE lang WHEN 'en' THEN 1.0 WHEN 'de' THEN 0.5 ELSE 0.2 END),
            train AS (
              SELECT * FROM samp
              WHERE CAST('0x' || substr(md5('17-' || CAST(doc_id AS VARCHAR)), 1, 15)
                         AS BIGINT) / 1152921504606846976.0 < 0.9),
            sharded AS (
              SELECT doc_id, n_chars,
                     CAST(CAST('0x' || substr(md5('19-' || CAST(doc_id AS VARCHAR)),
                               1, 15) AS BIGINT) % 4 AS INT) AS shard
              FROM train WHERE n_chars > 0),
            spans AS (
              SELECT doc_id, shard, n_chars,
                     CAST(sum(n_chars) OVER (PARTITION BY shard ORDER BY doc_id)
                          AS BIGINT) AS e
              FROM sharded),
            segs AS (
              SELECT doc_id, shard, e - n_chars AS s, e,
                     unnest(generate_series((e - n_chars) // 2048,
                                            (e - 1) // 2048)) AS segment
              FROM spans)
            SELECT doc_id, shard, segment,
                   least(e, (segment + 1) * 2048)
                   - greatest(s, segment * 2048) AS seg_tokens
            FROM segs
        """,
    "dedup_incremental": """
            WITH new AS (
              SELECT doc_id, lang, source, text FROM documents WHERE doc_id % 2 = 1
              UNION ALL
              SELECT doc_id + 1000000, lang, source, text FROM documents
              WHERE doc_id % 2 = 0)
            SELECT doc_id, lang, source FROM new n
            WHERE NOT EXISTS (
              SELECT 1 FROM documents s
              WHERE s.doc_id % 2 = 0
                AND md5(regexp_replace(lower(trim(s.text)), '\\s+', ' ', 'g'))
                  = md5(regexp_replace(lower(trim(n.text)), '\\s+', ' ', 'g')))
        """,
    "sample_stratified": """
            SELECT doc_id, lang, source FROM documents
            WHERE CAST('0x' || substr(md5('7-' || CAST(doc_id AS VARCHAR)), 1, 15)
                       AS BIGINT) / 1152921504606846976.0
                  < CASE lang WHEN 'en' THEN 0.5 WHEN 'de' THEN 0.25 ELSE 0.1 END
        """,
    "cap_per_source": """
            SELECT doc_id, lang, source, n_chars
            FROM (SELECT *, row_number() OVER (
                    PARTITION BY lang, source
                    ORDER BY n_chars DESC, doc_id) AS rn
                  FROM documents)
            WHERE rn <= 4
        """,
    "pack_contiguous": """
            WITH sharded AS (
              SELECT doc_id, n_chars,
                     CAST(CAST('0x' || substr(md5('3-' || CAST(doc_id AS VARCHAR)),
                               1, 15) AS BIGINT) % 8 AS INT) AS shard
              FROM documents WHERE n_chars > 0),
            spans AS (
              SELECT doc_id, shard, n_chars,
                     CAST(sum(n_chars) OVER (PARTITION BY shard ORDER BY doc_id)
                          AS BIGINT) AS e
              FROM sharded),
            segs AS (
              SELECT doc_id, shard, e - n_chars AS s, e,
                     unnest(generate_series((e - n_chars) // 4096,
                                            (e - 1) // 4096)) AS segment
              FROM spans)
            SELECT doc_id, shard, segment,
                   least(e, (segment + 1) * 4096)
                   - greatest(s, segment * 4096) AS seg_tokens
            FROM segs
        """,
    "split_assign": """
            SELECT doc_id, lang,
                   CASE WHEN u < 0.8 THEN 'train'
                        WHEN u < 0.9 THEN 'val'
                        WHEN u < 1.0 THEN 'test' END AS split
            FROM (SELECT doc_id, lang,
                         CAST('0x' || substr(md5('11-' || CAST(doc_id AS VARCHAR)),
                              1, 15) AS BIGINT) / 1152921504606846976.0 AS u
                  FROM documents)
        """,
    "repetition_stats": """
            WITH toks AS (
              SELECT doc_id,
                     CASE WHEN trim(text) = '' THEN []
                          ELSE string_split_regex(lower(trim(text)), '\\s+')
                     END AS t
              FROM documents),
            grams AS (
              SELECT doc_id,
                     unnest(list_transform(generate_series(1, len(t) - 1),
                            i -> array_to_string(list_slice(t, i, i + 1), ' '))) AS g
              FROM toks WHERE len(t) >= 2),
            cnt AS (SELECT doc_id, g, count(*) AS k, length(g) AS lg
                    FROM grams GROUP BY doc_id, g)
            SELECT t.doc_id,
                   CAST(coalesce(max(k), 0) AS BIGINT) AS top_run,
                   CAST(coalesce(max(k * lg), 0) AS BIGINT) AS top_chars,
                   CAST(coalesce(sum(k) FILTER (k > 1), 0) AS BIGINT) AS dup_occ,
                   CAST(coalesce(sum(k * lg) FILTER (k > 1), 0) AS BIGINT) AS dup_chars,
                   CAST(coalesce(sum(k * lg), 0) AS BIGINT) AS tot_chars,
                   CAST(coalesce(sum(k), 0) AS BIGINT) AS n_grams
            FROM toks t LEFT JOIN cnt USING (doc_id)
            GROUP BY t.doc_id
        """,
    "gopher_filter": f"""
            WITH toks AS (
              SELECT doc_id,
                     CASE WHEN trim(text) = '' THEN []
                          ELSE string_split_regex(lower(trim(text)), '\\s+')
                     END AS t
              FROM documents),
            words AS (
              SELECT doc_id, len(t) AS n_words,
                     len(list_filter(t, w -> regexp_matches(w, '[a-z]'))) AS n_alpha,
                     len(list_filter(t, w -> list_contains(
                         {_STOPWORDS_SQL}, w))) AS n_stop,
                     CAST(coalesce(list_sum(list_transform(t, w -> length(w))), 0)
                          AS BIGINT) AS word_chars
              FROM toks),
            g AS (
              SELECT doc_id, n, unnest(list_transform(
                       generate_series(1, len(t) - n + 1),
                       i -> array_to_string(list_slice(t, i, i + n - 1), ' '))) AS gr
              FROM toks, (SELECT unnest([2, 5]) AS n) ns
              WHERE len(t) >= n),
            cnt AS (SELECT doc_id, n, gr, count(*) AS k, length(gr) AS lg
                    FROM g GROUP BY doc_id, n, gr),
            rep AS (
              SELECT doc_id,
                     max(CASE WHEN n = 2 THEN k * lg END) AS top2_chars,
                     sum(CASE WHEN n = 2 THEN k * lg END) AS tot2_chars,
                     sum(CASE WHEN n = 5 AND k > 1 THEN k * lg ELSE 0 END) AS dup5_chars,
                     sum(CASE WHEN n = 5 THEN k * lg END) AS tot5_chars
              FROM cnt GROUP BY doc_id)
            SELECT w.doc_id,
                   n_words BETWEEN 30 AND 100000 AS ok_words,
                   (word_chars::DOUBLE / nullif(n_words, 0) >= 3.0 AND
                    word_chars::DOUBLE / nullif(n_words, 0) <= 10.0) AS ok_word_len,
                   n_alpha::DOUBLE / nullif(n_words, 0) >= 0.8 AS ok_alpha,
                   n_stop >= 1 AS ok_stopwords,
                   coalesce(top2_chars::DOUBLE / nullif(tot2_chars, 0) <= 0.20,
                            TRUE) AS ok_top2gram,
                   coalesce(dup5_chars::DOUBLE / nullif(tot5_chars, 0) <= 0.15,
                            TRUE) AS ok_dup5gram,
                   (n_words BETWEEN 30 AND 100000)
                   AND (word_chars::DOUBLE / nullif(n_words, 0) >= 3.0 AND
                        word_chars::DOUBLE / nullif(n_words, 0) <= 10.0)
                   AND n_alpha::DOUBLE / nullif(n_words, 0) >= 0.8
                   AND n_stop >= 1
                   AND coalesce(top2_chars::DOUBLE / nullif(tot2_chars, 0) <= 0.20, TRUE)
                   AND coalesce(dup5_chars::DOUBLE / nullif(tot5_chars, 0) <= 0.15, TRUE)
                   AS keep
            FROM words w LEFT JOIN rep USING (doc_id)
        """,
    "token_count": f"""
            SELECT doc_id,
                   CASE WHEN trim(text) = '' THEN 0
                        ELSE len(string_split_regex(trim(text), '\\s+')) END AS n_tokens
            FROM documents
        """,
    "text_quality": f"""
            WITH feats AS (
              SELECT doc_id, text,
                CAST(len({_TOKS}) AS DOUBLE) AS n_tok,
                (length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g')))
                  / greatest(length(text), 1) AS punct,
                len(list_filter({_TOKS}, w -> w IN ('and','das','de','der','des','die','el','est','et','is','la','le','les','los','nicht','of','que','shi','the','to','und','wo','y','bu','le')))
                  / greatest(CAST(len({_TOKS}) AS DOUBLE), 1) AS stop_ratio,
                list_sum(list_transform({_TOKS}, w -> length(w)))
                  / greatest(CAST(len({_TOKS}) AS DOUBLE), 1) AS mwl
              FROM documents)
            SELECT doc_id,
                   round(((CASE WHEN n_tok >= 5 AND n_tok <= 100000 THEN 1.0 ELSE 0.0 END)
                    + (CASE WHEN mwl >= 2 AND mwl <= 12 THEN 1.0 ELSE 0.0 END)
                    + (CASE WHEN punct <= 0.2 THEN 1.0 ELSE 0.0 END)
                    + (CASE WHEN stop_ratio >= 0.01 THEN 1.0 ELSE 0.0 END)) / 4.0, 6)
                     AS quality,
                   md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fingerprint
            FROM feats
        """,
    "language_id": f"""
            WITH counts AS (
              SELECT doc_id,
                len(list_filter({_TOKS}, w -> w IN ('der','die','und','nicht','das'))) AS c_de,
                len(list_filter({_TOKS}, w -> w IN ('the','and','of','to','is'))) AS c_en,
                len(list_filter({_TOKS}, w -> w IN ('el','la','los','que','y'))) AS c_es,
                len(list_filter({_TOKS}, w -> w IN ('le','les','des','et','est'))) AS c_fr,
                len(list_filter({_TOKS}, w -> w IN ('de','shi','le','bu','wo'))) AS c_zh
              FROM documents)
            SELECT doc_id,
              CASE WHEN c_de >= greatest(c_en, c_es, c_fr, c_zh) THEN 'de'
                   WHEN c_en >= greatest(c_es, c_fr, c_zh) THEN 'en'
                   WHEN c_es >= greatest(c_fr, c_zh) THEN 'es'
                   WHEN c_fr >= c_zh THEN 'fr'
                   ELSE 'zh' END AS lang_pred
            FROM counts
        """,
    "ngram_jaccard": """
            WITH toks AS (
              SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS w
              FROM documents),
            sh AS (
              SELECT DISTINCT doc_id,
                     unnest(list_transform(generate_series(1, len(w) - 2),
                            i -> array_to_string(w[i:i+2], ' '))) AS s
              FROM toks WHERE len(w) >= 3),
            sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
            inter AS (
              SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS i
              FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
              GROUP BY 1, 2)
            SELECT id1, id2,
                   round(CAST(i AS DOUBLE) / (s1.sz + s2.sz - i), 6) AS jaccard
            FROM inter
            JOIN sizes s1 ON s1.doc_id = id1
            JOIN sizes s2 ON s2.doc_id = id2
            WHERE CAST(i AS DOUBLE) / (s1.sz + s2.sz - i) >= 0.2
        """,
    # jaccard_prefix: brute-force oracle — no prefix logic at all, so a
    # prefix-lemma bug (a dropped qualifying pair) hash-mismatches here.
    "jaccard_prefix": """
            WITH toks AS (
              SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS w
              FROM documents),
            sh AS (
              SELECT DISTINCT doc_id,
                     unnest(list_transform(generate_series(1, len(w) - 2),
                            i -> array_to_string(w[i:i+2], ' '))) AS s
              FROM toks WHERE len(w) >= 3),
            sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
            inter AS (
              SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS i
              FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
              GROUP BY 1, 2)
            SELECT id1, id2,
                   round(CAST(i AS DOUBLE) / (s1.sz + s2.sz - i), 6) AS jaccard
            FROM inter
            JOIN sizes s1 ON s1.doc_id = id1
            JOIN sizes s2 ON s2.doc_id = id2
            WHERE CAST(i AS DOUBLE) / (s1.sz + s2.sz - i) >= 0.35
        """,
    "segment_dedup": """
            WITH toks AS (
              SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS t
              FROM documents WHERE trim(text) != ''),
            blocks AS (
              SELECT doc_id,
                     array_to_string(t[(b*10+1):(b*10+10)], ' ') AS seg
              FROM toks,
                   LATERAL (SELECT unnest(generate_series(
                       0, CAST(ceil(len(t) / 10.0) AS INT) - 1)) AS b))
            SELECT md5(seg) AS fingerprint, count(*) AS n_copies,
                   count(DISTINCT doc_id) AS n_docs, min(doc_id) AS keep_id
            FROM blocks WHERE seg != ''
            GROUP BY 1 HAVING count(*) > 1
        """,
    "decontaminate": """
            WITH toks AS (
              SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS w
              FROM documents),
            sh AS (
              SELECT DISTINCT doc_id,
                     unnest(list_transform(generate_series(1, len(w) - 4),
                            i -> array_to_string(w[i:i+4], ' '))) AS s
              FROM toks WHERE len(w) >= 5),
            bench AS (SELECT DISTINCT s FROM sh WHERE doc_id % 53 = 0)
            SELECT a.doc_id, count(*) AS n_shared
            FROM sh a JOIN bench USING (s)
            WHERE a.doc_id % 53 != 0
            GROUP BY 1
        """,
    "tfidf_top_terms": """
            WITH toks AS (
              SELECT doc_id, unnest(string_split_regex(trim(lower(text)),
                     '\\s+')) AS term
              FROM documents WHERE trim(text) != ''),
            tf AS (SELECT doc_id, term, count(*) AS tf
                   FROM toks GROUP BY 1, 2),
            dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
            n AS (SELECT count(*) AS n_docs FROM documents),
            scored AS (
              SELECT doc_id, term,
                     round(CAST(tf AS DOUBLE)
                           * ln(CAST(n_docs AS DOUBLE) / df), 6) AS tfidf
              FROM tf JOIN dfreq USING (term) CROSS JOIN n),
            ranked AS (
              SELECT doc_id, term,
                     row_number() OVER (PARTITION BY doc_id
                                        ORDER BY tfidf DESC, term) AS rank,
                     tfidf
              FROM scored)
            SELECT doc_id, term, rank, tfidf
            FROM ranked WHERE rank <= 3
        """,
    "random_projection": _random_projection_oracle_sql,
    "logreg_quality": _logreg_quality_oracle_sql,
    "subsequence_topk": _subsequence_topk_oracle_sql,
    "minhash_near_dups": _minhash_oracle_sql,
    "minhash_incremental": _minhash_incremental_oracle_sql,
    "simhash_incremental": _simhash_incremental_oracle_sql,
    "ingest_screen": _ingest_screen_oracle_sql,
    # identical verdict relation through the persisted pre-banded path
    "ingest_screen_prebanded": _ingest_screen_oracle_sql,
    "ingest_screen_multimodal": _ingest_screen_multimodal_oracle_sql,
    "leakage_split": _leakage_split_oracle_sql,
    "isotonic": _isotonic_oracle_sql,
    "simhash_near_dups": _simhash_oracle_sql,
    "negative_samples": """
            WITH cand AS (
              SELECT DISTINCT doc_id AS cand_id FROM documents
              WHERE CAST('0x' || substr(md5('42-' ||
                         CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT)
                    % 8 = 0),
            pairs AS (
              SELECT doc_id AS query_id, doc_id + 1 AS pos_id
              FROM documents WHERE doc_id % 17 = 0),
            scored AS (
              SELECT p.query_id, p.pos_id, c.cand_id,
                     CAST('0x' || substr(md5('42-' ||
                          CAST(p.query_id AS VARCHAR) || '-' ||
                          CAST(c.cand_id AS VARCHAR)), 1, 15) AS BIGINT)
                       AS score
              FROM pairs p CROSS JOIN cand c
              WHERE c.cand_id <> p.pos_id AND c.cand_id <> p.query_id),
            ranked AS (
              SELECT query_id, pos_id, cand_id,
                     row_number() OVER (PARTITION BY query_id, pos_id
                                        ORDER BY score, cand_id) AS neg_rank
              FROM scored)
            SELECT query_id, pos_id, neg_rank, cand_id AS neg_id
            FROM ranked WHERE neg_rank <= 5
        """,
    "top_paths": """
            WITH r AS (
              SELECT user_id, event_type,
                     row_number() OVER (PARTITION BY user_id
                                        ORDER BY ts, event_id) AS rn
              FROM events),
            p AS (
              SELECT user_id,
                     string_agg(event_type, '>' ORDER BY rn) AS path
              FROM r WHERE rn <= 5 GROUP BY 1),
            c AS (
              SELECT path, CAST(count(*) AS BIGINT) AS n_users
              FROM p GROUP BY 1)
            SELECT row_number() OVER (ORDER BY n_users DESC, path) AS rank,
                   path, n_users
            FROM c ORDER BY n_users DESC, path LIMIT 20
        """,
    "retention": """
            WITH actives AS (
              SELECT DISTINCT user_id AS u,
                     CAST(date_trunc('week', ts) AS TIMESTAMP) AS week
              FROM events),
            cohorts AS (
              SELECT u, min(week) AS cohort_week FROM actives GROUP BY 1)
            SELECT c.cohort_week,
                   CAST(date_diff('day', c.cohort_week, a.week) / 7 AS INT)
                     AS week_offset,
                   CAST(count(DISTINCT a.u) AS BIGINT) AS n_users
            FROM actives a JOIN cohorts c ON c.u = a.u
            GROUP BY 1, 2
        """,
    "funnel": """
            WITH s1 AS (
              SELECT user_id, min(ts) AS t1 FROM events
              WHERE event_type = 'view' GROUP BY 1),
            s2 AS (
              SELECT e.user_id, min(e.ts) AS t2
              FROM events e JOIN s1 ON s1.user_id = e.user_id
              WHERE e.event_type = 'click' AND e.ts > s1.t1
              GROUP BY 1),
            s3 AS (
              SELECT e.user_id, min(e.ts) AS t3
              FROM events e JOIN s2 ON s2.user_id = e.user_id
              WHERE e.event_type = 'purchase' AND e.ts > s2.t2
              GROUP BY 1)
            SELECT s1.user_id,
                   1 + CAST(s2.t2 IS NOT NULL AS INT)
                     + CAST(s3.t3 IS NOT NULL AS INT) AS steps_completed,
                   s1.t1, s2.t2, s3.t3
            FROM s1
            LEFT JOIN s2 ON s2.user_id = s1.user_id
            LEFT JOIN s3 ON s3.user_id = s1.user_id
        """,
    # incremental_curation: the composed diff -> anti-join -> quality ->
    # percentile pipeline, replayed as one CTE chain.
    "incremental_curation": f"""
            WITH old AS (
              SELECT doc_id, text FROM documents WHERE doc_id % 11 <> 0),
            new AS (
              SELECT doc_id,
                     CASE WHEN doc_id % 5 = 2 THEN text || ' v2'
                          ELSE text END AS text
              FROM documents WHERE doc_id % 7 <> 3),
            delta AS (
              SELECT n.doc_id FROM new n
              LEFT JOIN old o ON o.doc_id = n.doc_id
              WHERE o.doc_id IS NULL
                 OR regexp_replace(lower(trim(o.text)), '\\s+', ' ', 'g')
                    <> regexp_replace(lower(trim(n.text)), '\\s+', ' ', 'g')),
            batch AS (
              SELECT n.doc_id, n.text FROM new n
              JOIN delta d ON d.doc_id = n.doc_id),
            surv AS (
              SELECT b.doc_id, b.text FROM batch b WHERE NOT EXISTS (
                SELECT 1 FROM old o
                WHERE md5(regexp_replace(lower(trim(o.text)),
                          '\\s+', ' ', 'g'))
                    = md5(regexp_replace(lower(trim(b.text)),
                          '\\s+', ' ', 'g')))),
            feats AS (
              SELECT doc_id,
                CAST(len({_TOKS}) AS DOUBLE) AS n_tok,
                (length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g')))
                  / greatest(length(text), 1) AS punct,
                len(list_filter({_TOKS}, w -> w IN ('and','das','de','der','des','die','el','est','et','is','la','le','les','los','nicht','of','que','shi','the','to','und','wo','y','bu','le')))
                  / greatest(CAST(len({_TOKS}) AS DOUBLE), 1) AS stop_ratio,
                list_sum(list_transform({_TOKS}, w -> length(w)))
                  / greatest(CAST(len({_TOKS}) AS DOUBLE), 1) AS mwl
              FROM surv),
            q AS (
              SELECT doc_id,
                ((CASE WHEN n_tok >= 5 AND n_tok <= 100000 THEN 1.0 ELSE 0.0 END)
                 + (CASE WHEN mwl >= 2 AND mwl <= 12 THEN 1.0 ELSE 0.0 END)
                 + (CASE WHEN punct <= 0.2 THEN 1.0 ELSE 0.0 END)
                 + (CASE WHEN stop_ratio >= 0.01 THEN 1.0 ELSE 0.0 END))
                  / 4.0 AS quality
              FROM feats),
            v AS (SELECT quality AS vv, count(*) AS c FROM q GROUP BY 1),
            cum AS (
              SELECT vv, CAST(sum(c) OVER (ORDER BY vv) AS BIGINT) AS cum
              FROM v),
            t AS (SELECT CAST(max(cum) AS BIGINT) AS n FROM cum)
            SELECT q.doc_id, q.quality,
                   round(CAST(cum AS DOUBLE) / n, 6) AS pct
            FROM q JOIN cum ON cum.vv = q.quality CROSS JOIN t
            WHERE round(CAST(cum AS DOUBLE) / n, 6) >= 0.5
        """,
    "source_divergence": """
            WITH toks AS (
              SELECT source AS g,
                     unnest(string_split_regex(trim(lower(text)), '\\s+'))
                       AS tok
              FROM documents WHERE trim(text) != ''),
            counts AS (
              SELECT g, tok, count(*) AS c FROM toks GROUP BY 1, 2),
            totals AS (
              SELECT g, CAST(sum(c) AS BIGINT) AS n FROM counts GROUP BY 1),
            pairs AS (
              SELECT a.g AS g1, b.g AS g2, a.n AS n1, b.n AS n2
              FROM totals a JOIN totals b ON a.g < b.g),
            u AS (
              SELECT p.g1, p.g2, c.tok
              FROM counts c JOIN pairs p ON c.g = p.g1
              UNION
              SELECT p.g1, p.g2, c.tok
              FROM counts c JOIN pairs p ON c.g = p.g2),
            terms AS (
              SELECT u.g1, u.g2, p.n1, p.n2,
                     CAST(coalesce(c1.c, 0) AS DOUBLE) / p.n1 AS pp,
                     CAST(coalesce(c2.c, 0) AS DOUBLE) / p.n2 AS qq
              FROM u
              JOIN pairs p ON p.g1 = u.g1 AND p.g2 = u.g2
              LEFT JOIN counts c1 ON c1.g = u.g1 AND c1.tok = u.tok
              LEFT JOIN counts c2 ON c2.g = u.g2 AND c2.tok = u.tok)
            SELECT g1, g2, max(n1) AS n_tokens_1, max(n2) AS n_tokens_2,
                   round(sum(
                     CASE WHEN pp > 0
                          THEN 0.5 * pp * ln(2.0 * pp / (pp + qq))
                          ELSE 0 END
                   + CASE WHEN qq > 0
                          THEN 0.5 * qq * ln(2.0 * qq / (pp + qq))
                          ELSE 0 END), 6) AS js
            FROM terms GROUP BY 1, 2
        """,
    "token_entropy": """
            WITH toks AS (
              SELECT doc_id,
                     unnest(string_split_regex(trim(lower(text)), '\\s+'))
                       AS tok
              FROM documents WHERE trim(text) != ''),
            c AS (
              SELECT doc_id, tok, count(*) AS c FROM toks GROUP BY 1, 2),
            a AS (
              SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
                     CAST(count(*) AS BIGINT) AS n_distinct,
                     sum(c * ln(c)) AS clogc
              FROM c GROUP BY 1)
            SELECT doc_id, n_tokens, n_distinct,
                   round(ln(n_tokens) - clogc / n_tokens, 6) AS entropy
            FROM a
        """,
    "classifier_auc": """
            WITH r AS (
              SELECT n_chars AS s,
                     CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
              FROM documents),
            b AS (
              SELECT s, CAST(sum(y) AS BIGINT) AS np,
                     CAST(sum(1 - y) AS BIGINT) AS nn
              FROM r GROUP BY s),
            c AS (
              SELECT s, np, nn,
                     CAST(coalesce(sum(nn) OVER (
                       ORDER BY s ROWS BETWEEN UNBOUNDED PRECEDING
                       AND 1 PRECEDING), 0) AS BIGINT) AS below
              FROM b),
            o AS (
              SELECT CAST(sum(np) AS BIGINT) AS n_pos,
                     CAST(sum(nn) AS BIGINT) AS n_neg,
                     CAST(sum(np * (2 * below + nn)) AS BIGINT) AS u2
              FROM c)
            SELECT n_pos, n_neg, u2,
                   round(CAST(u2 AS DOUBLE) / (2 * n_pos * n_neg), 6) AS auc
            FROM o
        """,
    "standardize_embeddings": """
            WITH ex AS (
              SELECT vec_id AS id, i - 1 AS dim,
                     CAST(round(CAST(embedding[i] AS DOUBLE) * 1000000)
                       AS BIGINT) AS xm
              FROM embeddings,
                   LATERAL (SELECT unnest(generate_series(1, len(embedding)))
                            AS i)),
            st AS (
              SELECT dim, CAST(count(*) AS BIGINT) AS n,
                     sum(CAST(xm AS HUGEINT)) AS s,
                     sum(CAST(xm AS HUGEINT) * xm) AS ss
              FROM ex GROUP BY dim),
            en AS (
              SELECT dim, n,
                     CAST(s AS DOUBLE) / n AS mean_micro,
                     CASE WHEN n >= 2 AND
                          (CAST(n AS DOUBLE) * CAST(ss AS DOUBLE)
                           - CAST(s AS DOUBLE) * CAST(s AS DOUBLE))
                            / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0))
                            > 0
                          THEN sqrt(
                            (CAST(n AS DOUBLE) * CAST(ss AS DOUBLE)
                             - CAST(s AS DOUBLE) * CAST(s AS DOUBLE))
                            / (CAST(n AS DOUBLE)
                               * (CAST(n AS DOUBLE) - 1.0)))
                     END AS std_micro
              FROM st)
            SELECT id, ex.dim,
                   round((CAST(xm AS DOUBLE) - mean_micro) / std_micro, 6)
                     AS z
            FROM ex JOIN en ON en.dim = ex.dim
        """,
    "autocorr": """
            WITH s AS (
              SELECT user_id,
                     CAST(round(value * 1000000) AS BIGINT) AS x,
                     lag(CAST(round(value * 1000000) AS BIGINT)) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id) AS y
              FROM events),
            p AS (SELECT user_id, x, y FROM s WHERE y IS NOT NULL),
            a AS (
              SELECT user_id, CAST(count(*) AS BIGINT) AS n_pairs,
                     sum(CAST(x AS HUGEINT)) AS sx,
                     sum(CAST(y AS HUGEINT)) AS sy,
                     sum(CAST(x AS HUGEINT) * x) AS sxx,
                     sum(CAST(y AS HUGEINT) * y) AS syy,
                     sum(CAST(x AS HUGEINT) * y) AS sxy
              FROM p GROUP BY 1)
            SELECT user_id, n_pairs,
                   CASE WHEN n_pairs >= 2
                         AND CAST(n_pairs AS DOUBLE) * CAST(sxx AS DOUBLE)
                             - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) > 0
                         AND CAST(n_pairs AS DOUBLE) * CAST(syy AS DOUBLE)
                             - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) > 0
                        THEN round(
                          (CAST(n_pairs AS DOUBLE) * CAST(sxy AS DOUBLE)
                           - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                          / sqrt(
                            (CAST(n_pairs AS DOUBLE) * CAST(sxx AS DOUBLE)
                             - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                            * (CAST(n_pairs AS DOUBLE) * CAST(syy AS DOUBLE)
                               - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))),
                          6)
                   END AS corr
            FROM a
        """,
    # ema_smooth: recursive CTE walks the integer recurrence row-by-row
    # (rn join), a mechanism independent of the engine's array fold.
    "ema_smooth": """
            WITH RECURSIVE s AS (
              SELECT user_id, event_id,
                     CAST(round(value * 1000000) AS BIGINT) AS vm,
                     row_number() OVER (PARTITION BY user_id
                                        ORDER BY ts, event_id) AS rn
              FROM events),
            e AS (
              SELECT user_id, event_id, rn, vm AS ema FROM s WHERE rn = 1
              UNION ALL
              SELECT s.user_id, s.event_id, s.rn,
                     CAST((2 * s.vm + 8 * e.ema) // 10 AS BIGINT)
              FROM s JOIN e ON s.user_id = e.user_id AND s.rn = e.rn + 1)
            SELECT user_id, event_id, ema AS ema_micro FROM e
        """,
    # hybrid_rrf: the lex CTE replays the bm25_topk oracle (k=50), the
    # dense CTE the cosine_topk oracle (k=50); fusion itself is pure
    # integer floor-division arithmetic — zero tolerance.
    "hybrid_rrf": """
            WITH toks AS (
              SELECT doc_id AS id,
                     CASE WHEN trim(text) = '' THEN []
                          ELSE string_split_regex(lower(trim(text)), '\\s+')
                     END AS w
              FROM documents),
            st AS (SELECT count(*) AS n, avg(len(w)) AS avgdl FROM toks),
            dfs AS (
              SELECT
                sum(CASE WHEN list_contains(w, 'filter') THEN 1 ELSE 0 END)
                  AS df0,
                sum(CASE WHEN list_contains(w, 'join') THEN 1 ELSE 0 END)
                  AS df1,
                sum(CASE WHEN list_contains(w, 'spark') THEN 1 ELSE 0 END)
                  AS df2
              FROM toks),
            sc AS (
              SELECT id,
                round(
                  ln(1 + ((SELECT n FROM st) - (SELECT df0 FROM dfs) + 0.5)
                         / ((SELECT df0 FROM dfs) + 0.5))
                    * (CAST(len(list_filter(w, x -> x = 'filter')) AS DOUBLE)
                       * (1.2 + 1))
                    / (CAST(len(list_filter(w, x -> x = 'filter')) AS DOUBLE)
                       + 1.2 * (0.25 + 0.75 * CAST(len(w) AS DOUBLE)
                                / (SELECT avgdl FROM st)))
                  + ln(1 + ((SELECT n FROM st) - (SELECT df1 FROM dfs) + 0.5)
                         / ((SELECT df1 FROM dfs) + 0.5))
                    * (CAST(len(list_filter(w, x -> x = 'join')) AS DOUBLE)
                       * (1.2 + 1))
                    / (CAST(len(list_filter(w, x -> x = 'join')) AS DOUBLE)
                       + 1.2 * (0.25 + 0.75 * CAST(len(w) AS DOUBLE)
                                / (SELECT avgdl FROM st)))
                  + ln(1 + ((SELECT n FROM st) - (SELECT df2 FROM dfs) + 0.5)
                         / ((SELECT df2 FROM dfs) + 0.5))
                    * (CAST(len(list_filter(w, x -> x = 'spark')) AS DOUBLE)
                       * (1.2 + 1))
                    / (CAST(len(list_filter(w, x -> x = 'spark')) AS DOUBLE)
                       + 1.2 * (0.25 + 0.75 * CAST(len(w) AS DOUBLE)
                                / (SELECT avgdl FROM st))),
                6) AS score
              FROM toks),
            lex AS (
              SELECT row_number() OVER (ORDER BY score DESC, id) AS rank, id
              FROM sc WHERE score > 0
              ORDER BY score DESC, id LIMIT 50),
            q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
            den AS (
              SELECT vec_id,
                     round(
                       list_sum([CAST(embedding[i] AS DOUBLE)
                                 * CAST(qe[i] AS DOUBLE)
                                 for i in generate_series(1, len(embedding))])
                       / (sqrt(list_sum([CAST(embedding[i] AS DOUBLE)
                                 * CAST(embedding[i] AS DOUBLE)
                                 for i in generate_series(1, len(embedding))]))
                          * sqrt(list_sum([CAST(qe[i] AS DOUBLE)
                                 * CAST(qe[i] AS DOUBLE)
                                 for i in generate_series(1, len(qe))]))),
                       6) AS cosine
              FROM embeddings, q
              ORDER BY cosine DESC, vec_id LIMIT 50),
            dense AS (
              SELECT row_number() OVER (ORDER BY cosine DESC, vec_id)
                       AS rank,
                     vec_id AS id
              FROM den),
            u AS (
              SELECT id, 1000000000 // (60 + rank) AS part FROM lex
              UNION ALL
              SELECT id, 1000000000 // (60 + rank) FROM dense),
            f AS (
              SELECT id, CAST(sum(part) AS BIGINT) AS rrf_micro,
                     CAST(count(*) AS BIGINT) AS n_lists
              FROM u GROUP BY id)
            SELECT row_number() OVER (ORDER BY rrf_micro DESC, id) AS rank,
                   id, rrf_micro, n_lists
            FROM f ORDER BY rrf_micro DESC, id LIMIT 20
        """,
    "cosine_topk": """
            WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0)
            SELECT vec_id,
                   round(
                     list_sum([CAST(embedding[i] AS DOUBLE) * CAST(qe[i] AS DOUBLE)
                               for i in generate_series(1, len(embedding))])
                     / (sqrt(list_sum([CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)
                               for i in generate_series(1, len(embedding))]))
                        * sqrt(list_sum([CAST(qe[i] AS DOUBLE) * CAST(qe[i] AS DOUBLE)
                               for i in generate_series(1, len(qe))]))), 6) AS cosine
            FROM embeddings, q
            ORDER BY cosine DESC, vec_id LIMIT 10
        """,
    "lsh_topk": lambda: _lsh_topk_oracle_sql(n_planes=6),
    "pq_topk": _pq_topk_oracle_sql,
    "kmeans_clusters": _kmeans_oracle_sql,
    "embedding_near_dups": _embedding_near_dups_oracle_sql,
    "dedup_clusters": _dedup_clusters_oracle_sql,
    "dedup_clusters_star": _dedup_clusters_oracle_sql,
    "ivf_topk": _ivf_topk_oracle_sql,
    "cosine_topk_batch": _cosine_topk_batch_oracle_sql,
    "ann_recall": _ann_recall_oracle_sql,
    "dedup_recall": _dedup_recall_oracle_sql,
    "ivf_index_search": _ivf_index_search_oracle_sql,
    "temperature_mix": """
            WITH tot AS (
              SELECT source, CAST(sum(n_chars) AS DOUBLE) AS tok
              FROM documents GROUP BY source),
            a AS (SELECT source, pow(tok / sum(tok) OVER (), 0.5) AS pa
                  FROM tot)
            SELECT source, round(pa / sum(pa) OVER (), 6) AS weight
            FROM a
        """,
    "weighted_sample": """
            WITH keyed AS (
              SELECT doc_id, lang, n_chars,
                     ln(greatest(
                          CAST('0x' || substr(md5('13-' || CAST(doc_id AS VARCHAR)),
                                              1, 15) AS BIGINT)
                            / 1152921504606846976.0,
                          1e-18))
                       / greatest(CAST(n_chars AS DOUBLE), 1e-12) AS aes
              FROM documents)
            SELECT doc_id, lang, n_chars
            FROM (SELECT *, row_number() OVER (
                    PARTITION BY lang ORDER BY aes DESC, doc_id) AS rn
                  FROM keyed)
            WHERE rn <= 20
        """,
    "pii_redact": """
            WITH synth AS (
              SELECT doc_id,
                     'contact user' || doc_id || '@mail.example.org or 10.'
                     || (doc_id % 256) || '.0.1 call 555-'
                     || lpad(CAST(doc_id * 7 % 1000 AS VARCHAR), 3, '0')
                     || '-'
                     || lpad(CAST(doc_id * 13 % 10000 AS VARCHAR), 4, '0')
                     || ' ssn '
                     || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || '-'
                     || lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0') || '-'
                     || lpad(CAST(doc_id * 3 % 10000 AS VARCHAR), 4, '0')
                     AS t
              FROM documents
            ), red AS (
              SELECT doc_id,
                     regexp_replace(regexp_replace(regexp_replace(
                       regexp_replace(t,
                         '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}',
                         '[EMAIL]', 'g'),
                       '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b',
                       '[IP]', 'g'),
                       '\\b\\d{3}-\\d{2}-\\d{4}\\b', '[SSN]', 'g'),
                       '\\b\\+?\\d{3}[-. ]\\d{3}[-. ]\\d{4}\\b',
                       '[PHONE]', 'g') AS redacted,
                     len(regexp_extract_all(t,
                       '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}'))
                       AS pii_email,
                     len(regexp_extract_all(t,
                       '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b'))
                       AS pii_ipv4,
                     len(regexp_extract_all(t,
                       '\\b\\d{3}-\\d{2}-\\d{4}\\b')) AS pii_ssn,
                     len(regexp_extract_all(t,
                       '\\b\\+?\\d{3}[-. ]\\d{3}[-. ]\\d{4}\\b'))
                       AS pii_phone
              FROM synth
            )
            SELECT doc_id, redacted, pii_email, pii_ipv4, pii_ssn,
                   pii_phone,
                   pii_email + pii_ipv4 + pii_ssn + pii_phone AS pii_total
            FROM red
        """,
    "c4_clean": """
            WITH synth AS (
              SELECT doc_id,
                     'document ' || doc_id
                     || ' begins with a fine sentence.' || chr(10)
                     || 'enable javascript to continue' || chr(10)
                     || substr(text, 1, 30) || chr(10)
                     || 'short.' || chr(10)
                     || CASE WHEN doc_id % 2 = 0
                             THEN 'does this final line survive the pass?'
                             ELSE 'final line with no punctuation' END AS t
              FROM documents
            ), split AS (
              SELECT doc_id, t,
                     list_filter(string_split(t, chr(10)),
                       x -> regexp_matches(trim(x), '[.!?"'']$')
                            AND len(regexp_split_to_array(trim(x), '\\s+')) >= 3
                            AND NOT contains(lower(trim(x)), 'javascript')
                            AND NOT contains(lower(trim(x)), 'cookie policy')
                     ) AS kept
              FROM synth
            )
            SELECT doc_id, array_to_string(kept, chr(10)) AS clean_text,
                   len(kept) AS n_lines_kept,
                   len(string_split(t, chr(10))) AS n_lines_total
            FROM split
        """,
    "bigram_nll": """
            WITH toks AS (
              SELECT doc_id,
                     list_filter(
                       regexp_split_to_array(lower(trim(text)), '\\s+'),
                       x -> x != '') AS l
              FROM documents
            ), eligible AS (
              SELECT * FROM toks WHERE len(l) >= 2
            ), idx AS (
              SELECT doc_id, l, unnest(range(1, len(l))) AS i FROM eligible
            ), bg AS (
              SELECT doc_id, l[i] AS w1, l[i + 1] AS w2 FROM idx
            ), c12 AS (
              SELECT w1, w2, count(*) AS c12 FROM bg GROUP BY 1, 2
            ), c1 AS (
              SELECT w1, count(*) AS c1 FROM bg GROUP BY 1
            ), v AS (
              SELECT count(*) AS v FROM (
                SELECT w1 AS w FROM bg UNION SELECT w2 AS w FROM bg)
            ), p AS (
              SELECT c12.w1, c12.w2,
                     (c12.c12 + 0.5) / (c1.c1 + 0.5 * v.v) AS p
              FROM c12 JOIN c1 USING (w1) CROSS JOIN v
            )
            SELECT bg.doc_id, count(*) AS n_bigrams,
                   round(avg(-ln(p.p)), 6) AS nll
            FROM bg JOIN p ON bg.w1 = p.w1 AND bg.w2 = p.w2
            GROUP BY bg.doc_id
        """,
    "boilerplate_removal": """
            WITH synth AS (
              SELECT doc_id,
                     concat_ws(chr(10),
                       CASE WHEN doc_id % 2 = 0
                            THEN 'subscribe to our newsletter today.' END,
                       'document ' || doc_id || ' body line one.',
                       CASE WHEN doc_id % 97 = 0
                            THEN 'rare shared line here.' END) AS t
              FROM documents
            ), splits AS (
              SELECT doc_id, string_split(t, chr(10)) AS l FROM synth
            ), idx AS (
              SELECT doc_id, l, unnest(range(1, len(l) + 1)) AS i
              FROM splits
            ), lines AS (
              SELECT doc_id, i, l[i] AS line,
                     regexp_replace(lower(trim(l[i])), '\\s+', ' ', 'g')
                       AS norm
              FROM idx
            ), boiler AS (
              SELECT norm FROM lines WHERE norm != ''
              GROUP BY norm HAVING count(DISTINCT doc_id) >= 100
            ), kept AS (
              SELECT doc_id, i, line FROM lines
              WHERE norm NOT IN (SELECT norm FROM boiler)
            ), rebuilt AS (
              SELECT doc_id, string_agg(line, chr(10) ORDER BY i) AS text
              FROM kept GROUP BY doc_id
            )
            SELECT s.doc_id, coalesce(r.text, '') AS text
            FROM synth s LEFT JOIN rebuilt r USING (doc_id)
        """,
    "domain_stats": """
            WITH urls AS (
              SELECT doc_id, n_chars,
                     CASE WHEN doc_id % 3 = 0
                          THEN 'http://www.site' || (doc_id % 7) || '.org/x'
                          WHEN doc_id % 3 = 1
                          THEN 'https://sub.site' || (doc_id % 7) || '.org/y?q=1'
                          ELSE 'site' || (doc_id % 7) || '.org/z' END AS url
              FROM documents
            ), hosts AS (
              SELECT doc_id, n_chars,
                     regexp_extract(
                       regexp_replace(
                         lower(regexp_extract(url,
                           '^(?:[A-Za-z][A-Za-z0-9+.-]*://)?(?:[^/@]*@)?([^/:?#]+)',
                           1)),
                         '^www\\.', ''),
                       '([^.]+\\.[^.]+)$', 1) AS domain
              FROM urls
            )
            SELECT domain, count(*) AS n_docs,
                   CAST(sum(n_chars) AS BIGINT) AS total_size
            FROM hosts GROUP BY domain
        """,
    "span_dedup_stats": f"""
            WITH {_SPAN_TOKS},
            dups AS (SELECT d FROM spans GROUP BY d HAVING count(*) >= 2),
            hits AS (SELECT doc_id, pos FROM spans JOIN dups USING (d)),
            {_SPAN_RUNS}
            SELECT doc_id, count(*) AS n_runs,
                   CAST(sum(e - s + 1) AS BIGINT) AS dup_tokens,
                   max(e - s + 1) AS longest_run
            FROM runs GROUP BY 1
        """,
    "span_removal": f"""
            WITH {_SPAN_TOKS},
            grp AS (SELECT d, min(doc_id) AS keep_id FROM spans
                    GROUP BY d HAVING count(*) >= 2),
            hits AS (SELECT s.doc_id, s.pos FROM spans s JOIN grp USING (d)
                     WHERE s.doc_id != grp.keep_id),
            {_SPAN_RUNS},
            tokso AS (
              SELECT doc_id, string_split_regex(trim(text), '\\s+') AS wo
              FROM documents WHERE trim(text) != ''),
            tokpos AS (
              SELECT doc_id, i - 1 AS pos, wo[i] AS tok
              FROM tokso,
                   LATERAL (SELECT unnest(generate_series(1, len(wo))) AS i)),
            kept AS (
              SELECT t.doc_id, t.pos, t.tok FROM tokpos t
              WHERE NOT EXISTS (SELECT 1 FROM runs r
                                WHERE r.doc_id = t.doc_id
                                AND t.pos BETWEEN r.s AND r.e)),
            rebuilt AS (
              SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS txt
              FROM kept GROUP BY doc_id),
            cutdocs AS (SELECT DISTINCT doc_id FROM hits)
            SELECT d.doc_id,
                   md5(CASE WHEN c.doc_id IS NULL THEN d.text
                            ELSE coalesce(rb.txt, '') END) AS text_md5,
                   length(CASE WHEN c.doc_id IS NULL THEN d.text
                               ELSE coalesce(rb.txt, '') END) AS n_chars_clean
            FROM documents d
            LEFT JOIN cutdocs c USING (doc_id)
            LEFT JOIN rebuilt rb USING (doc_id)
        """,
    "dsir_weights": """
            WITH toks AS (
              SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS w
              FROM documents WHERE trim(text) != ''),
            grams AS (
              SELECT doc_id, array_to_string(w[i:i+1], ' ') AS g
              FROM toks,
                   LATERAL (SELECT unnest(generate_series(1, len(w) - 1)) AS i)
              WHERE len(w) >= 2),
            bk AS (
              SELECT doc_id,
                     CAST('0x' || substr(md5(g), 1, 15) AS BIGINT) % 512
                       AS bucket
              FROM grams),
            raw AS (SELECT bucket, count(*) AS c_raw FROM bk GROUP BY 1),
            tgt AS (SELECT bk.bucket, count(*) AS c_tgt
                    FROM bk JOIN documents USING (doc_id)
                    WHERE lang = 'en' GROUP BY 1),
            buckets AS (SELECT unnest(generate_series(0, 511)) AS bucket),
            tot AS (
              SELECT b.bucket,
                     CAST(coalesce(c_raw, 0) AS BIGINT) AS c_raw,
                     CAST(coalesce(c_tgt, 0) AS BIGINT) AS c_tgt
              FROM buckets b
              LEFT JOIN raw USING (bucket) LEFT JOIN tgt USING (bucket)),
            wt AS (
              SELECT bucket,
                     CAST(round((
                       ln((c_tgt + 1.0)
                          / ((SELECT sum(c_tgt) FROM tot) + 512.0))
                       - ln((c_raw + 1.0)
                            / ((SELECT sum(c_raw) FROM tot) + 512.0))
                     ) * 1e6) AS BIGINT) AS w_micro
              FROM tot)
            SELECT bk.doc_id, count(*) AS n_grams,
                   CAST(sum(w_micro) AS BIGINT) AS weight_micro
            FROM bk JOIN wt USING (bucket)
            GROUP BY 1
        """,
    "unicode_clean": """
            WITH dirty AS (
              SELECT doc_id,
                     CASE WHEN doc_id % 3 = 0
                          THEN 'e' || chr(769) || ' ' ELSE '' END
                     || 'x' || chr(13) || chr(10) || text || chr(8203) AS t
              FROM documents),
            cleaned AS (
              SELECT doc_id, nfc_normalize(
                regexp_replace(
                  regexp_replace(
                    regexp_replace(t, '\\r\\n|\\r', chr(10), 'g'),
                    '[\\x{2028}\\x{2029}\\x{0085}]', chr(10), 'g'),
                  '[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f\\x{7f}-\\x{9f}' ||
                  '\\x{200b}-\\x{200d}\\x{2060}\\x{feff}]', '', 'g')) AS c
              FROM dirty)
            SELECT doc_id, md5(c) AS text_md5,
                   length(c) AS n_chars_clean
            FROM cleaned
        """,
    "contamination_ratio": """
            WITH toks AS (
              SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS w
              FROM documents),
            sh AS (
              SELECT DISTINCT doc_id,
                     unnest(list_transform(generate_series(1, len(w) - 4),
                            i -> array_to_string(w[i:i+4], ' '))) AS s
              FROM toks WHERE len(w) >= 5),
            bench AS (SELECT DISTINCT s FROM sh WHERE doc_id % 53 = 0)
            SELECT a.doc_id, count(*) AS n_shingles,
                   CAST(sum(CASE WHEN b.s IS NULL THEN 0 ELSE 1 END)
                        AS BIGINT) AS n_shared,
                   CAST(floor(sum(CASE WHEN b.s IS NULL THEN 0 ELSE 1 END)
                              * 1000000.0 / count(*)) AS BIGINT)
                     AS ratio_ppm,
                   floor(sum(CASE WHEN b.s IS NULL THEN 0 ELSE 1 END)
                         * 1000000.0 / count(*)) >= 10000 AS contaminated
            FROM sh a LEFT JOIN bench b USING (s)
            WHERE a.doc_id % 53 != 0
            GROUP BY 1
        """,
    "vocabulary": """
            WITH toks AS (
              SELECT doc_id,
                     unnest(string_split_regex(trim(lower(text)), '\\s+'))
                       AS term
              FROM documents WHERE trim(text) != ''),
            agg AS (
              SELECT term, count(*) AS n_total,
                     count(DISTINCT doc_id) AS n_docs
              FROM toks GROUP BY 1),
            ranked AS (
              SELECT row_number() OVER (ORDER BY n_total DESC, term)
                       AS rank, term, n_total, n_docs
              FROM agg)
            SELECT rank, term, n_total, n_docs
            FROM ranked WHERE rank <= 100
        """,
    "corpus_mix": _corpus_mix_oracle_sql,
    "corpus_stats": """
            SELECT source, lang, count(*) AS n_docs,
                   CAST(sum(CASE WHEN trim(text) = '' THEN 0
                            ELSE len(string_split_regex(trim(text), '\\s+'))
                            END) AS BIGINT) AS total_tokens,
                   round(avg(length(text)), 6) AS mean_chars,
                   quantile_cont(length(text), 0.5) AS p50_chars,
                   quantile_cont(length(text), 0.9) AS p90_chars
            FROM documents GROUP BY 1, 2
        """,
    "pagerank": _pagerank_oracle_sql,
    "harmonic": _harmonic_oracle_sql,
    # triangle_count: exact counting, so the oracle skips the engine's
    # degree-orientation entirely and enumerates u<v<w by node id — an
    # independent construction of the same answer.
    # corpus_diff: the oracle compares normalized TEXT directly instead
    # of the engine's md5 digests — same answer, independent mechanism.
    "corpus_diff": """
            WITH old AS (
              SELECT doc_id,
                     regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS t
              FROM documents WHERE doc_id % 11 <> 0),
            new AS (
              SELECT doc_id,
                     regexp_replace(lower(trim(
                       CASE WHEN doc_id % 5 = 2 THEN text || ' v2'
                            ELSE text END)), '\\s+', ' ', 'g') AS t
              FROM documents WHERE doc_id % 7 <> 3)
            SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
                   CASE WHEN o.doc_id IS NULL THEN 'added'
                        WHEN n.doc_id IS NULL THEN 'removed'
                        ELSE 'changed' END AS status
            FROM old o FULL OUTER JOIN new n ON o.doc_id = n.doc_id
            WHERE o.doc_id IS NULL OR n.doc_id IS NULL OR o.t <> n.t
        """,
    "triangle_count": """
            WITH gen AS (
              SELECT doc_id % 61 AS src, (doc_id * 13 + 5) % 61 AS dst
              FROM documents
              UNION ALL
              SELECT (doc_id * 3 + 1) % 61, (doc_id * 11 + 2) % 61
              FROM documents
              UNION ALL
              SELECT (doc_id * 7 + 3) % 61, (doc_id * 5 + 1) % 61
              FROM documents),
            canon AS (
              SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
              FROM gen WHERE src <> dst),
            tri AS (
              SELECT e1.a AS u, e1.b AS v, e2.b AS w
              FROM canon e1
              JOIN canon e2 ON e2.a = e1.a AND e2.b > e1.b
              JOIN canon e3 ON e3.a = e1.b AND e3.b = e2.b),
            corners AS (
              SELECT u AS node FROM tri
              UNION ALL SELECT v FROM tri
              UNION ALL SELECT w FROM tri),
            nodes AS (SELECT a AS node FROM canon UNION SELECT b FROM canon),
            cnt AS (SELECT node, count(*) AS c FROM corners GROUP BY node)
            SELECT n.node, CAST(coalesce(c.c, 0) AS BIGINT) AS triangles
            FROM nodes n LEFT JOIN cnt c ON c.node = n.node
        """,
    "semdedup": _semdedup_oracle_sql,
    "semantic_dedup_recall": _semdedup_recall_oracle_sql,
    "semantic_dedup_incremental": _semdedup_incremental_oracle_sql,
    # planted positive control: same harness SQL over the capped sample
    # UNION its exact copies, truth threshold 0.9
    "semantic_dedup_planted": lambda: _semdedup_recall_oracle_sql(
        threshold=0.9,
        src_rel=(
            "(SELECT vec_id, embedding FROM embeddings WHERE vec_id < 300"
            " UNION ALL"
            " SELECT vec_id + 100000 AS vec_id, embedding"
            " FROM embeddings WHERE vec_id < 300) s"
        ),
    ),
    "bpe_tokens": _bpe_tokens_oracle_sql,
    "bpe_encode_ids": _bpe_ids_oracle_sql,
    "tokenize_pack": _tokenize_pack_oracle_sql,
    "dedup_bloom": """
            WITH new AS (
              SELECT doc_id, lang, source, text FROM documents WHERE doc_id % 2 = 1
              UNION ALL
              SELECT doc_id + 1000000, lang, source, text FROM documents
              WHERE doc_id % 2 = 0)
            SELECT doc_id, lang, source FROM new n
            WHERE NOT EXISTS (
              SELECT 1 FROM documents s
              WHERE s.doc_id % 2 = 0
                AND md5(regexp_replace(lower(trim(s.text)), '\\s+', ' ', 'g'))
                  = md5(regexp_replace(lower(trim(n.text)), '\\s+', ' ', 'g')))
        """,
    "skew_join": """
            WITH lk AS (
              SELECT CASE WHEN l_orderkey % 4 != 0 THEN 7
                     ELSE CAST(l_partkey % 23 AS INT) END AS k,
                     l_quantity
              FROM lineitem),
            dim AS (
              SELECT CAST(i AS INT) AS k, 'g' || i AS label
              FROM (SELECT unnest(generate_series(0, 22)) AS i))
            SELECT k, label, count(*) AS n,
                   round(sum(l_quantity), 6) AS qty
            FROM lk JOIN dim USING (k)
            GROUP BY k, label
        """,
    "image_near_dups": _image_near_dups_oracle_sql,
    "image_near_dups_incremental": _image_incremental_oracle_sql,
    "audio_near_dups_incremental": _audio_incremental_oracle_sql,
    "audio_near_dups": _audio_near_dups_oracle_sql,
    "video_near_dups": _video_near_dups_oracle_sql,
    "scene_changes": _scene_changes_oracle_sql,
    "count_min_words": """
            WITH words AS (
              SELECT unnest(CASE WHEN trim(text) = '' THEN []
                            ELSE string_split_regex(lower(trim(text)), '\\s+')
                            END) AS word
              FROM documents),
            w2 AS (SELECT word FROM words WHERE word != ''),
            cells AS (
              SELECT r.r AS row,
                     CAST(CAST('0x' || substr(md5(r.r || '-' || word), 1, 15)
                               AS BIGINT) % 512 AS INT) AS bucket,
                     count(*) AS cnt
              FROM w2, (SELECT unnest([0, 1, 2, 3]) AS r) r
              GROUP BY 1, 2),
            probes AS (SELECT unnest(['spark','join','filter','hash',
                       'window','table','the','value','row','scan',
                       'zzz_absent','merge']) AS key),
            pb AS (
              SELECT key, r.r AS row,
                     CAST(CAST('0x' || substr(md5(r.r || '-' || key), 1, 15)
                               AS BIGINT) % 512 AS INT) AS bucket
              FROM probes, (SELECT unnest([0, 1, 2, 3]) AS r) r)
            SELECT key,
                   CAST(min(coalesce(cnt, 0)) AS BIGINT) AS est
            FROM pb LEFT JOIN cells USING (row, bucket)
            GROUP BY key
        """,
    "hll_registers": """
            WITH h AS (
              SELECT CAST('0x' || substr(md5('hll-' || CAST(l_orderkey AS VARCHAR)),
                          1, 15) AS BIGINT) AS hv
              FROM lineitem),
            br AS (
              SELECT CAST(hv % 1024 AS INT) AS bucket,
                     CAST(CASE WHEN hv // 1024 > 0
                          THEN 50 - floor(log2(CAST(hv // 1024 AS DOUBLE)))
                          ELSE 51 END AS INT) AS rho
              FROM h)
            SELECT bucket, max(rho) AS rho FROM br GROUP BY bucket
        """,
    "rolling_anomaly": """
            SELECT event_id, band, value, round(z, 6) AS zscore
            FROM (
              SELECT event_id, event_type AS band, value,
                     CASE WHEN count(value) OVER w >= 2
                            AND stddev_samp(value) OVER w > 0
                          THEN (value - avg(value) OVER w)
                               / stddev_samp(value) OVER w
                     END AS z
              FROM events
              WINDOW w AS (PARTITION BY event_type
                           ORDER BY ts, event_id
                           ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING))
            WHERE abs(z) > 2.5
        """,
    "curation_pipeline": f"""
            WITH feats AS (
              SELECT doc_id, source, text,
                CAST(len({_TOKS}) AS DOUBLE) AS n_tok,
                (length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g')))
                  / greatest(length(text), 1) AS punct,
                len(list_filter({_TOKS}, w -> w IN ('and','das','de','der','des','die','el','est','et','is','la','le','les','los','nicht','of','que','shi','the','to','und','wo','y','bu','le')))
                  / greatest(CAST(len({_TOKS}) AS DOUBLE), 1) AS stop_ratio,
                list_sum(list_transform({_TOKS}, w -> length(w)))
                  / greatest(CAST(len({_TOKS}) AS DOUBLE), 1) AS mwl
              FROM documents),
            sc AS (
              SELECT doc_id, source, text,
                ((CASE WHEN n_tok >= 5 AND n_tok <= 100000 THEN 1.0 ELSE 0.0 END)
                 + (CASE WHEN mwl >= 2 AND mwl <= 12 THEN 1.0 ELSE 0.0 END)
                 + (CASE WHEN punct <= 0.2 THEN 1.0 ELSE 0.0 END)
                 + (CASE WHEN stop_ratio >= 0.01 THEN 1.0 ELSE 0.0 END)) / 4.0
                  AS score
              FROM feats),
            ranked AS (
              SELECT doc_id, text, score,
                     row_number() OVER (PARTITION BY source
                       ORDER BY score DESC, doc_id) AS rk,
                     count(*) OVER (PARTITION BY source) AS n
              FROM sc),
            kept AS (
              SELECT doc_id, text FROM ranked WHERE rk <= ceil(0.5 * n)),
            canon AS (
              SELECT min(doc_id) AS doc_id
              FROM kept
              GROUP BY md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))),
            ded AS (
              SELECT k.doc_id, k.text FROM kept k
              WHERE EXISTS (SELECT 1 FROM canon c WHERE c.doc_id = k.doc_id)),
            toks AS (
              SELECT doc_id AS id,
                     CASE WHEN trim(text) = '' THEN []
                          ELSE string_split_regex(trim(text), '\\s+')
                     END AS w
              FROM ded),
            t2 AS (SELECT id, w, len(w) AS n FROM toks WHERE len(w) > 0),
            sts AS (
              SELECT id, w, n,
                     list_filter(generate_series(0, n - 1, 24),
                                 s -> s = 0 OR s < n - 8) AS st
              FROM t2),
            chunks AS (
              SELECT id * 100 + (i.i - 1) AS cid,
                     len(w[st[i.i] + 1 : st[i.i] + 32]) AS n_tokens
              FROM sts,
                   LATERAL (SELECT unnest(generate_series(1, len(st))) AS i) i),
            sharded AS (
              SELECT cid, n_tokens,
                     CAST(CAST('0x' || substr(md5('23-' || CAST(cid AS VARCHAR)),
                               1, 15) AS BIGINT) % 4 AS INT) AS shard
              FROM chunks WHERE n_tokens > 0),
            spans AS (
              SELECT cid, shard, n_tokens,
                     CAST(sum(n_tokens) OVER (PARTITION BY shard ORDER BY cid)
                          AS BIGINT) AS e
              FROM sharded),
            segs AS (
              SELECT cid, shard, e - n_tokens AS s, e,
                     unnest(generate_series((e - n_tokens) // 256,
                                            (e - 1) // 256)) AS segment
              FROM spans)
            SELECT cid, shard, segment,
                   least(e, (segment + 1) * 256)
                   - greatest(s, segment * 256) AS seg_tokens
            FROM segs
        """,
    "quality_selection": f"""
            WITH feats AS (
              SELECT doc_id, source,
                CAST(len({_TOKS}) AS DOUBLE) AS n_tok,
                (length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g')))
                  / greatest(length(text), 1) AS punct,
                len(list_filter({_TOKS}, w -> w IN ('and','das','de','der','des','die','el','est','et','is','la','le','les','los','nicht','of','que','shi','the','to','und','wo','y','bu','le')))
                  / greatest(CAST(len({_TOKS}) AS DOUBLE), 1) AS stop_ratio,
                list_sum(list_transform({_TOKS}, w -> length(w)))
                  / greatest(CAST(len({_TOKS}) AS DOUBLE), 1) AS mwl
              FROM documents),
            sc AS (
              SELECT doc_id, source,
                ((CASE WHEN n_tok >= 5 AND n_tok <= 100000 THEN 1.0 ELSE 0.0 END)
                 + (CASE WHEN mwl >= 2 AND mwl <= 12 THEN 1.0 ELSE 0.0 END)
                 + (CASE WHEN punct <= 0.2 THEN 1.0 ELSE 0.0 END)
                 + (CASE WHEN stop_ratio >= 0.01 THEN 1.0 ELSE 0.0 END)) / 4.0
                  AS score
              FROM feats),
            r AS (
              SELECT doc_id, source, score,
                     row_number() OVER (PARTITION BY source
                       ORDER BY score DESC, doc_id) AS rk,
                     count(*) OVER (PARTITION BY source) AS n
              FROM sc)
            SELECT doc_id, source, round(score, 6) AS score
            FROM r WHERE rk <= ceil(0.25 * n)
        """,
    "quantized_topk": """
            WITH qv AS (
              SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS q
              FROM embeddings WHERE vec_id = 0),
            qs AS (
              SELECT q, list_max(list_transform(q, x -> abs(x))) / 127.0
                       AS qa
              FROM qv),
            qc AS (
              SELECT qa,
                     list_transform(q, x -> CAST(round(
                       x / (CASE WHEN qa = 0 THEN 1.0 ELSE qa END))
                       AS BIGINT)) AS qcodes
              FROM qs),
            sv AS (
              SELECT vec_id,
                     list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
              FROM embeddings),
            dv AS (
              SELECT vec_id, v,
                     list_max(list_transform(v, x -> abs(x))) / 127.0
                       AS scale
              FROM sv),
            cv AS (
              SELECT vec_id, scale,
                     list_transform(v, x -> CAST(round(
                       x / (CASE WHEN scale = 0 THEN 1.0 ELSE scale END))
                       AS BIGINT)) AS codes
              FROM dv)
            SELECT vec_id,
                   round(CAST(list_sum([cv.codes[i] * qc.qcodes[i]
                                        for i in generate_series(1,
                                          len(cv.codes))]) AS DOUBLE)
                         * cv.scale * qc.qa, 6) AS qdot
            FROM cv, qc
            ORDER BY qdot DESC, vec_id LIMIT 12
        """,
    "corpus_overlap": _corpus_overlap_oracle_sql(),
    "distinct_tokens_by_source": _hll_grouped_tokens_oracle_sql,
    "count_min_by_source": """
            WITH words AS (
              SELECT source AS g,
                     unnest(CASE WHEN trim(text) = '' THEN []
                            ELSE string_split_regex(lower(trim(text)), '\\s+')
                            END) AS word
              FROM documents),
            w2 AS (SELECT g, word FROM words WHERE word != ''),
            cells AS (
              SELECT g, r.r AS row,
                     CAST(CAST('0x' || substr(md5(r.r || '-' || word), 1, 15)
                               AS BIGINT) % 512 AS INT) AS bucket,
                     count(*) AS cnt
              FROM w2, (SELECT unnest([0, 1, 2, 3]) AS r) r
              GROUP BY 1, 2, 3),
            gs AS (SELECT DISTINCT g FROM cells),
            probes AS (SELECT unnest(['spark','join','filter','hash',
                       'window','table','the','value','row','scan',
                       'zzz_absent','merge']) AS key),
            pb AS (
              SELECT key, r.r AS row,
                     CAST(CAST('0x' || substr(md5(r.r || '-' || key), 1, 15)
                               AS BIGINT) % 512 AS INT) AS bucket
              FROM probes, (SELECT unnest([0, 1, 2, 3]) AS r) r),
            pbg AS (SELECT g, key, row, bucket FROM gs, pb)
            SELECT g, key,
                   CAST(min(coalesce(cnt, 0)) AS BIGINT) AS est
            FROM pbg LEFT JOIN cells USING (g, row, bucket)
            GROUP BY g, key
        """,
    # both quantile gates share ONE oracle: the whole-table sketch —
    # the merged gate matches it only because the merge law is exact
    "quantile_sketch": "WITH " + _QSK_ORACLE_CORE,
    "quantile_sketch_merged": "WITH " + _QSK_ORACLE_CORE,
    "quantile_sketch_grouped": _QSK_GROUPED_ORACLE,
    # the grouped-merged gate shares the grouped oracle: the whole-table
    # per-group sketch — Spark's two merged halves match it only because
    # the per-group merge law is exact
    "quantile_sketch_grouped_merged": _QSK_GROUPED_ORACLE,
    # token_count lane (the token_count gate's SQL twin) composed with
    # the grouped sketch oracle at k=8
    "source_token_profile": _qsk_grouped_oracle_sql(
        """
              SELECT source AS g,
                     CAST(CASE WHEN trim(text) = '' THEN 0
                          ELSE len(string_split_regex(trim(text), '\\s+'))
                          END AS DOUBLE) AS v,
                     CAST('0x' || substr(md5('qsk-' || doc_id), 1, 15)
                       AS BIGINT) AS h
              FROM documents WHERE text IS NOT NULL""",
        8,
    ),
    "registered_domain_psl_full": _psl_full_oracle_sql,
    "registered_domain_psl": """
            WITH raw AS (
              SELECT doc_id,
                'https://' || (CASE WHEN doc_id % 5 = 2 THEN 'bob@' ELSE '' END)
                || (CASE doc_id % 6
                    WHEN 0 THEN 'Site' || (doc_id % 20) || '.Example.COM'
                    WHEN 1 THEN 'a.b.Site' || (doc_id % 20) || '.GitHub.IO'
                    WHEN 2 THEN 'www.Site' || (doc_id % 20) || '.CO.UK'
                    WHEN 3 THEN 'deep.x.Site' || (doc_id % 20) || '.GOV.UK'
                    WHEN 4 THEN 'Site' || (doc_id % 20) || '.unknown.ZZ'
                    ELSE 'co.uk' END)
                || (CASE WHEN doc_id % 4 = 1 THEN ':8443' ELSE '' END)
                || '/p' || (doc_id % 7) AS raw_url
              FROM documents),
            h AS (
              SELECT doc_id, raw_url,
                lower(regexp_extract(
                  regexp_replace(
                    regexp_extract(
                      regexp_replace(raw_url,
                        '^[A-Za-z][A-Za-z0-9+.-]*://', ''),
                      '^([^/?]*)', 1),
                    '^.*@', '', 'g'),
                  '^([^:]*)', 1)) AS host
              FROM raw),
            p AS (
              SELECT doc_id, raw_url, host,
                     str_split(host, '.') AS ls,
                     len(str_split(host, '.')) AS n
              FROM h)
            SELECT doc_id, raw_url,
              CASE
                WHEN n > 2 AND array_to_string(ls[-2:], '.') IN
                  ('ac.uk','co.uk','com.au','github.io','gov.uk')
                  THEN array_to_string(ls[-3:], '.')
                WHEN n = 2 AND array_to_string(ls[-2:], '.') IN
                  ('ac.uk','co.uk','com.au','github.io','gov.uk')
                  THEN host
                WHEN n > 1 AND ls[-1] IN ('com','io','org','uk')
                  THEN array_to_string(ls[-2:], '.')
                WHEN n = 1 AND ls[-1] IN ('com','io','org','uk')
                  THEN host
                WHEN n <= 1 THEN host
                ELSE array_to_string(ls[-2:], '.')
              END AS domain
            FROM p
        """,
    "url_canonical": """
            WITH raw AS (
              SELECT doc_id,
                     (CASE WHEN doc_id % 2 = 0 THEN 'HTTP://' ELSE 'https://' END)
                     || (CASE WHEN doc_id % 7 = 3 THEN 'User:Pa55@' ELSE '' END)
                     || (CASE WHEN doc_id % 13 = 5 THEN '[2001:DB8::1]'
                         ELSE 'WWW.Site' || (doc_id % 40)
                              || (CASE WHEN doc_id % 3 = 0 THEN '.Example.CO.UK'
                                  ELSE '.Example.COM' END) END)
                     || (CASE doc_id % 4 WHEN 0 THEN ':80' WHEN 1 THEN ':443'
                                         WHEN 2 THEN ':8080' ELSE '' END)
                     || '//Docs//p' || (doc_id % 7)
                     || (CASE WHEN doc_id % 5 = 0 THEN '/' ELSE '' END)
                     || (CASE doc_id % 3
                         WHEN 0 THEN '?b=2&a=' || (doc_id % 11) || '&utm_source=x'
                         WHEN 1 THEN '?utm_campaign=y&gclid=1' ELSE '' END)
                     || (CASE WHEN doc_id % 2 = 1 THEN '#Sec' ELSE '' END)
                     AS raw_url
              FROM documents),
            parts AS (
              SELECT doc_id, raw_url,
                     regexp_replace(raw_url, '#.*$', '', 'g') AS u
              FROM raw),
            comp AS (
              SELECT doc_id, raw_url, u,
                lower(regexp_extract(u, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
                regexp_replace(u, '^[A-Za-z][A-Za-z0-9+.-]*://', '') AS rest
              FROM parts),
            comp2 AS (
              SELECT *,
                regexp_extract(rest, '^([^/?]*)', 1) AS hostport,
                regexp_extract(rest, '^[^/?]*(/[^?]*)?', 1) AS path0,
                regexp_extract(u, '\\?([^#]*)$', 1) AS query
              FROM comp),
            comp2a AS (
              -- r11: strip userinfo (greedy to the LAST @ — hosts
              -- cannot contain @) before host/port extraction
              SELECT *, regexp_replace(hostport, '^.*@', '', 'g') AS auth
              FROM comp2),
            comp3 AS (
              SELECT *,
                CASE WHEN auth LIKE '[%'
                     THEN lower(regexp_extract(auth, '^(\\[[^\\]]*\\])', 1))
                     ELSE lower(regexp_extract(auth, '^([^:]*)', 1)) END
                  AS host,
                regexp_extract(auth, ':(\\d+)$', 1) AS port,
                CASE WHEN regexp_replace(regexp_replace(path0, '/{2,}', '/', 'g'),
                                         '(.)/+$', '\\1', 'g') = ''
                     THEN '/'
                     ELSE regexp_replace(regexp_replace(path0, '/{2,}', '/', 'g'),
                                         '(.)/+$', '\\1', 'g') END AS path,
                -- coalesce: DuckDB's array_to_string is NULL on an
                -- EMPTY list (Spark's array_join gives '')
                coalesce(array_to_string(list_sort(list_filter(str_split(query, '&'),
                  p -> p <> '' AND NOT (p LIKE 'utm\\_%' ESCAPE '\\'
                        OR p LIKE 'gclid=%' OR p = 'gclid'
                        OR p LIKE 'fbclid=%' OR p = 'fbclid'
                        OR p LIKE 'msclkid=%' OR p = 'msclkid'
                        OR p LIKE 'ref=%' OR p = 'ref'))), '&'), '') AS q_clean
              FROM comp2a),
            canon AS (
              SELECT doc_id, raw_url,
                scheme || '://' || host
                || (CASE WHEN port = '' OR (scheme = 'http' AND port = '80')
                              OR (scheme = 'https' AND port = '443')
                         THEN '' ELSE ':' || port END)
                || path
                || (CASE WHEN q_clean = '' THEN '' ELSE '?' || q_clean END)
                AS canonical,
                regexp_replace(host, '^www\\.', '', 'g') AS h
              FROM comp3),
            dom AS (
              SELECT doc_id, raw_url, canonical,
                CASE WHEN h LIKE '[%' THEN h
                     WHEN len(str_split(h, '.')) <= 2 THEN h
                     WHEN len(str_split(h, '.')) >= 3
                          AND len(str_split(h, '.')[-1]) = 2
                          AND str_split(h, '.')[-2] IN
                              ('co','com','org','net','gov','ac','edu')
                     THEN str_split(h, '.')[-3] || '.' || str_split(h, '.')[-2]
                          || '.' || str_split(h, '.')[-1]
                     ELSE str_split(h, '.')[-2] || '.' || str_split(h, '.')[-1]
                END AS domain
              FROM canon)
            SELECT doc_id, raw_url, canonical, domain FROM dom
        """,
    "latest_crawl": """
            SELECT url, crawl_ts, value, event_id FROM (
              SELECT url, crawl_ts, value, event_id,
                     row_number() OVER (PARTITION BY url
                       ORDER BY crawl_ts DESC, event_id DESC) AS rn
              FROM (
                SELECT 'http://site' || (user_id % 20) || '.org/p'
                         || (event_id % 37) AS url,
                       CAST(ts AS TIMESTAMP) AS crawl_ts, value, event_id
                FROM events))
            WHERE rn = 1
        """,
    "quantize_embeddings": """
            WITH sv AS (
              SELECT vec_id AS id,
                     list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
              FROM embeddings),
            q AS (
              SELECT id, v,
                     list_max(list_transform(v, x -> abs(x))) / 127.0
                       AS scale
              FROM sv),
            q2 AS (
              SELECT id, v, scale,
                     CASE WHEN scale = 0 THEN 1.0 ELSE scale END AS safe
              FROM q),
            c AS (
              SELECT id, v, scale,
                     list_transform(v, x -> CAST(round(x / safe) AS INT))
                       AS codes
              FROM q2)
            SELECT id, array_to_string(codes, ',') AS codes_str,
                   round(scale, 6) AS scale,
                   round(list_sum([abs(v[i] - codes[i] * scale)
                                   for i in generate_series(1, len(v))])
                         / len(v), 6) AS mean_abs_err
            FROM c
        """,
    "chunk_text": """
            WITH toks AS (
              SELECT doc_id AS id,
                     CASE WHEN trim(text) = '' THEN []
                          ELSE string_split_regex(trim(text), '\\s+')
                     END AS w
              FROM documents),
            t2 AS (SELECT id, w, len(w) AS n FROM toks WHERE len(w) > 0),
            sts AS (
              SELECT id, w, n,
                     list_filter(generate_series(0, n - 1, 24),
                                 s -> s = 0 OR s < n - 8) AS st
              FROM t2),
            ex AS (
              SELECT id, w, n, i.i - 1 AS chunk_id, st[i.i] AS s
              FROM sts,
                   LATERAL (SELECT unnest(generate_series(1, len(st))) AS i) i)
            SELECT id, chunk_id,
                   len(w[s + 1 : s + 32]) AS n_tokens,
                   array_to_string(w[s + 1 : s + 32], ' ') AS chunk
            FROM ex
        """,
    "bm25_index_search": """
            WITH toks AS (
              SELECT doc_id AS id,
                     CASE WHEN trim(text) = '' THEN []
                          ELSE string_split_regex(lower(trim(text)), '\\s+')
                     END AS w
              FROM documents),
            st AS (SELECT count(*) AS n, avg(len(w)) AS avgdl FROM toks),
            postings AS (
              SELECT term, id, count(*) AS tf
              FROM (SELECT id, unnest(w) AS term FROM toks)
              GROUP BY term, id),
            dstats AS (SELECT id, len(w) AS dl FROM toks),
            tdf AS (SELECT term, count(*) AS df FROM postings GROUP BY term),
            q AS (SELECT * FROM (VALUES
                   (1, 'spark'), (1, 'join'), (2, 'filter'), (2, 'hash'),
                   (3, 'window'), (3, 'table'))
                  AS t(query_id, term)),
            m AS (
              SELECT q.query_id, p.id,
                     CAST(round(
                       ln(1 + ((SELECT n FROM st) - tdf.df + 0.5)
                              / (tdf.df + 0.5))
                       * (CAST(p.tf AS DOUBLE) * (1.2 + 1))
                       / (CAST(p.tf AS DOUBLE)
                          + 1.2 * (0.25 + 0.75 * CAST(s.dl AS DOUBLE)
                                   / (SELECT avgdl FROM st)))
                       * 1000000.0) AS BIGINT) AS c
              FROM q JOIN tdf USING (term) JOIN postings p USING (term)
              JOIN dstats s ON s.id = p.id),
            sc AS (
              SELECT query_id, id, CAST(sum(c) AS BIGINT) AS s_micro
              FROM m GROUP BY 1, 2 HAVING sum(c) > 0)
            SELECT query_id, rank, id, s_micro / 1000000.0 AS score
            FROM (SELECT query_id, id, s_micro,
                         row_number() OVER (PARTITION BY query_id
                           ORDER BY s_micro DESC, id) AS rank
                  FROM sc)
            WHERE rank <= 10
        """,
    # BM25: the engine inlines idf/avgdl literals computed from one tiny
    # driver aggregate; the oracle recomputes them as scalar subqueries
    # with the same association order. round-6 on both sides.
    "bm25_topk": """
            WITH toks AS (
              SELECT doc_id AS id,
                     CASE WHEN trim(text) = '' THEN []
                          ELSE string_split_regex(lower(trim(text)), '\\s+')
                     END AS w
              FROM documents),
            st AS (SELECT count(*) AS n, avg(len(w)) AS avgdl FROM toks),
            dfs AS (
              SELECT
                sum(CASE WHEN list_contains(w, 'filter') THEN 1 ELSE 0 END)
                  AS df0,
                sum(CASE WHEN list_contains(w, 'join') THEN 1 ELSE 0 END)
                  AS df1,
                sum(CASE WHEN list_contains(w, 'spark') THEN 1 ELSE 0 END)
                  AS df2
              FROM toks),
            sc AS (
              SELECT id,
                round(
                  ln(1 + ((SELECT n FROM st) - (SELECT df0 FROM dfs) + 0.5)
                         / ((SELECT df0 FROM dfs) + 0.5))
                    * (CAST(len(list_filter(w, x -> x = 'filter')) AS DOUBLE)
                       * (1.2 + 1))
                    / (CAST(len(list_filter(w, x -> x = 'filter')) AS DOUBLE)
                       + 1.2 * (0.25 + 0.75 * CAST(len(w) AS DOUBLE)
                                / (SELECT avgdl FROM st)))
                  + ln(1 + ((SELECT n FROM st) - (SELECT df1 FROM dfs) + 0.5)
                         / ((SELECT df1 FROM dfs) + 0.5))
                    * (CAST(len(list_filter(w, x -> x = 'join')) AS DOUBLE)
                       * (1.2 + 1))
                    / (CAST(len(list_filter(w, x -> x = 'join')) AS DOUBLE)
                       + 1.2 * (0.25 + 0.75 * CAST(len(w) AS DOUBLE)
                                / (SELECT avgdl FROM st)))
                  + ln(1 + ((SELECT n FROM st) - (SELECT df2 FROM dfs) + 0.5)
                         / ((SELECT df2 FROM dfs) + 0.5))
                    * (CAST(len(list_filter(w, x -> x = 'spark')) AS DOUBLE)
                       * (1.2 + 1))
                    / (CAST(len(list_filter(w, x -> x = 'spark')) AS DOUBLE)
                       + 1.2 * (0.25 + 0.75 * CAST(len(w) AS DOUBLE)
                                / (SELECT avgdl FROM st))),
                6) AS score
              FROM toks)
            SELECT row_number() OVER (ORDER BY score DESC, id) AS rank,
                   id, score
            FROM sc WHERE score > 0
            ORDER BY score DESC, id LIMIT 25
        """,
}

# levenshtein_verify: the winnow_overlap selection replay as a CTE +
# DuckDB levenshtein (byte-based — exact twin for this ASCII corpus;
# the op docstring documents the non-ASCII divergence)
ORACLES["levenshtein_verify"] = f"""
        WITH cand AS ({ORACLES['winnow_overlap']})
        SELECT cand.id1, cand.id2,
               CAST(levenshtein(a.text, b.text) AS BIGINT) AS lev,
               round(1.0 - CAST(levenshtein(a.text, b.text) AS DOUBLE)
                     / greatest(length(a.text), length(b.text)),
                     6) AS sim
        FROM cand
        JOIN documents a ON a.doc_id = cand.id1
        JOIN documents b ON b.doc_id = cand.id2
        WHERE round(1.0 - CAST(levenshtein(a.text, b.text) AS DOUBLE)
                    / greatest(length(a.text), length(b.text)),
                    6) >= 0.35
    """

# strip_markup: same tag/entity/whitespace regex chain with DuckDB's
# explicit 'g' flag (Spark regexp_replace is global by default); the
# decode order (&amp; LAST) is part of what the md5 pins
ORACLES["strip_markup"] = """
        WITH wrapped AS (
          SELECT doc_id,
                 '<p class="x">' || text
                 || '</p> &amp;lt;tail&gt; A&nbsp;B' AS text
          FROM documents),
        cleaned AS (
          SELECT doc_id,
                 trim(regexp_replace(
                   regexp_replace(
                     regexp_replace(
                       regexp_replace(
                         regexp_replace(
                           regexp_replace(
                             regexp_replace(text, '<[^>]*>', ' ', 'g'),
                             '&nbsp;', ' ', 'g'),
                           '&lt;', '<', 'g'),
                         '&gt;', '>', 'g'),
                       '&quot;', '"', 'g'),
                     '&#39;', '''', 'g'),
                   '\\s+', ' ', 'g')) AS t0
          FROM wrapped),
        decoded AS (
          SELECT doc_id, regexp_replace(t0, '&amp;', '&', 'g') AS t
          FROM cleaned)
        SELECT doc_id, md5(t) AS out_md5,
               CAST(length(t) AS INT) AS out_len
        FROM decoded
    """

"""training/dedup.py ingest_screen_multimodal + streaming twin (r13,
VERDICT r12 #4): lane-planted verdicts on a hand-built fixture, and the
row-preserving stream==batch pin."""

from __future__ import annotations

import threading
import time

import pytest
from pyspark.sql import functions as F

from openeo_processes_dask_spark.training.clustering import kmeans_fit
from openeo_processes_dask_spark.training.dedup import (
    ingest_screen_multimodal,
    minhash_signatures,
    stream_ingest_screen_multimodal,
)
from openeo_processes_dask_spark.training.similarity import _tag_members

_T = [
    "alpha beta gamma delta epsilon zeta eta theta iota kappa",
    "one two three four five six seven eight nine ten",
    "red orange yellow green blue indigo violet pink brown black",
    "north south east west up down left right front back",
]
_E = [[0.0] * 8 for _ in range(4)]
for _i in range(4):
    _E[_i][_i] = 1.0
_P = [0, 0xFF, 0xFF00, 0xF0F0F0]


def _axis(i):
    v = [0.0] * 8
    v[i] = 1.0
    return v


# new batch: id -> (text, embedding, psig, expected flag tuple
# (exact, text_near, semantic, perceptual))
_NEW = {
    10: (_T[0], _E[0], _P[0], (True, True, True, True)),      # verbatim
    11: (_T[1] + " extra", _axis(4), 0x123456789, (False, True, False, False)),
    12: ("totally different words entirely here now", _E[2], 0xABCDEF123,
         (False, False, True, False)),
    13: ("other unrelated sentence with many words", _axis(5), _P[3] ^ 1,
         (False, False, False, True)),
    14: ("wholly fresh content never seen anywhere before", _axis(6),
         0x13579BDF0, (False, False, False, False)),
}


def _fixture(spark):
    arch = spark.createDataFrame(
        [(i, _T[i], _E[i], _P[i]) for i in range(4)],
        "id long, text string, emb array<float>, psig long",
    )
    new = spark.createDataFrame(
        [(i, t, e, p) for i, (t, e, p, _) in _NEW.items()],
        "id long, text string, emb array<float>, psig long",
    )
    fps = arch.select(
        F.md5(
            F.regexp_replace(F.lower(F.trim("text")), r"\s+", " ")
        ).alias("fingerprint")
    )
    sigs = minhash_signatures(arch, "id", "text", n=3, num_hashes=64)
    cents = kmeans_fit(arch, k=2, iterations=1, id_col="id", vec_col="emb")
    members = _tag_members(arch, cents, "id", "emb")
    hashes = arch.select("id", "psig")
    return arch, new, fps, sigs, members, cents, hashes


def test_fixture_psig_distances_are_lane_pure():
    """Self-check: only the planted perceptual pairs are within
    max_hamming=3 — every other new x seen psig pair is far."""
    for i, (_, _, p, (_, _, _, perc)) in _NEW.items():
        close = [a for a in _P if bin(p ^ a).count("1") <= 3]
        assert bool(close) == perc, (i, close)


def test_batch_multimodal_verdicts(spark):
    _, new, fps, sigs, members, cents, hashes = _fixture(spark)
    out = ingest_screen_multimodal(
        new, fps, sigs, members, cents, hashes,
        id_col="id", text_col="text", vec_col="emb", sig_col="psig",
        text_threshold=0.2, sem_threshold=0.95, max_hamming=3,
        hash_bands=8,
    )
    rows = {r["id"]: r for r in out.collect()}
    assert set(rows) == set(_NEW)
    for i, (_, _, _, (ex, tx, se, pe)) in _NEW.items():
        r = rows[i]
        assert r["exact_dup"] is ex, (i, "exact", r)
        assert r["text_near_dup"] is tx, (i, "text", r)
        assert r["semantic_dup"] is se, (i, "semantic", r)
        assert r["perceptual_dup"] is pe, (i, "perceptual", r)
        assert r["keep"] is (not (ex or tx or se or pe)), (i, r)


def test_stream_multimodal_equals_batch(spark, tmp_path):
    """The streaming twin is row-preserving and stateless: the drained
    memory table equals the batch verdicts row for row, no dedupe."""
    _, new, fps, sigs, members, cents, hashes = _fixture(spark)
    kw = dict(
        id_col="id", text_col="text", vec_col="emb", sig_col="psig",
        text_threshold=0.2, sem_threshold=0.95, max_hamming=3,
        hash_bands=8,
    )
    batch = sorted(
        tuple(r) for r in ingest_screen_multimodal(
            new, fps, sigs, members, cents, hashes, **kw
        ).collect()
    )
    d = str(tmp_path / "mm_stream")
    new.where("id % 2 = 0").coalesce(1).write.mode("overwrite").parquet(d)
    new.where("id % 2 = 1").coalesce(1).write.mode("append").parquet(d)
    stream = (
        spark.readStream.option("maxFilesPerTrigger", 1)
        .schema("id long, text string, emb array<float>, psig long")
        .parquet(d)
    )
    out = stream_ingest_screen_multimodal(
        stream, fps, sigs, members, cents, hashes, **kw
    )
    q = (
        out.writeStream.format("memory")
        .queryName("t_mm_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    drained = sorted(
        tuple(r) for r in spark.table("t_mm_stream").collect()
    )
    assert drained == batch
    # row-preserving: exactly one verdict per streamed row
    assert len(drained) == new.count()


def test_optional_lanes_subset_and_validation(spark):
    """Lanes are optional (r13): a text-only corpus gets the same
    5-flag relation shape with disabled lanes pinned False; enabling
    no lane, or half the semantic pair, raises."""
    import pytest

    _, new, fps, sigs, members, cents, hashes = _fixture(spark)
    out = ingest_screen_multimodal(
        new, fps, sigs, None, None, None,
        id_col="id", text_col="text", text_threshold=0.2,
    )
    assert out.columns == [
        "id", "exact_dup", "text_near_dup", "semantic_dup",
        "perceptual_dup", "keep",
    ]
    rows = {r["id"]: r for r in out.collect()}
    for i, (_, _, _, (ex, tx, _, _)) in _NEW.items():
        assert rows[i]["exact_dup"] is ex
        assert rows[i]["text_near_dup"] is tx
        assert rows[i]["semantic_dup"] is False
        assert rows[i]["perceptual_dup"] is False
        assert rows[i]["keep"] is (not (ex or tx))
    with pytest.raises(ValueError, match="every lane is disabled"):
        ingest_screen_multimodal(new, None, None)
    with pytest.raises(ValueError, match="BOTH seen_members"):
        ingest_screen_multimodal(new, fps, None, members, None)


def test_band_signatures_validates_divisibility(spark):
    """Every MinHash lane bands all ``num_hashes`` slots or raises:
    64 hashes in 7 bands would leave one slot unbanded."""
    import pytest

    from openeo_processes_dask_spark.training.dedup import (
        minhash_incremental,
        minhash_near_duplicates,
        stream_minhash_screen,
    )

    _, new, _, sigs, _, _, _ = _fixture(spark)
    kw = dict(num_hashes=64, bands=7)
    for build in (
        lambda: minhash_near_duplicates(new, "id", "text", **kw),
        lambda: minhash_incremental(new, sigs, "id", "text", **kw),
        lambda: stream_minhash_screen(new, sigs, "id", "text", **kw),
    ):
        with pytest.raises(ValueError, match="must divide"):
            build()


def test_stream_optional_lanes_match_batch(spark, tmp_path):
    """Streaming twin lane-optionality (r13): a text-only stream
    screen equals the text-only batch screen row for row, with the
    disabled lanes pinned False; validation mirrors the batch."""
    import pytest

    _, new, fps, sigs, members, cents, hashes = _fixture(spark)
    kw = dict(id_col="id", text_col="text", text_threshold=0.2)
    batch = sorted(
        tuple(r)
        for r in ingest_screen_multimodal(
            new, fps, sigs, None, None, None, **kw
        ).collect()
    )
    d = str(tmp_path / "mm_stream_txt")
    new.coalesce(1).write.mode("overwrite").parquet(d)
    stream = (
        spark.readStream.option("maxFilesPerTrigger", 1)
        .schema("id long, text string, emb array<float>, psig long")
        .parquet(d)
    )
    out = stream_ingest_screen_multimodal(
        stream, fps, sigs, None, None, None, **kw
    )
    q = (
        out.writeStream.format("memory")
        .queryName("t_mm_stream_txt")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    drained = sorted(
        tuple(r) for r in spark.table("t_mm_stream_txt").collect()
    )
    assert drained == batch
    with pytest.raises(ValueError, match="every lane is disabled"):
        stream_ingest_screen_multimodal(stream, None, None, **kw)
    with pytest.raises(ValueError, match="BOTH seen_members"):
        stream_ingest_screen_multimodal(
            stream, fps, None, members, None, **kw
        )


def test_gate_fixture_pool_shut_down_when_archive_checkpoint_raises(
    spark, monkeypatch
):
    """The ingest_screen_multimodal gate fixture starts k-means on a pool
    thread before it checkpoints the archive. When that checkpoint
    raises, the pool must still be shut down: no worker thread may be
    left running the fit."""
    from openeo_processes_dask_spark.gates import training as gates
    from openeo_processes_dask_spark.training import clustering

    tables = {
        "documents": spark.createDataFrame(
            [(i, _T[i]) for i in range(4)], "doc_id long, text string"
        ),
        "embeddings": spark.createDataFrame(
            [(i, _E[i]) for i in range(4)],
            "vec_id long, embedding array<float>",
        ),
    }

    def slow_fit(*_args, **_kwargs):
        time.sleep(1.0)

    def failing_checkpoint(self, eager=True):
        raise RuntimeError("archive checkpoint failed")

    before = set(threading.enumerate())
    monkeypatch.setattr(gates, "_table", lambda _s, _d, name: tables[name])
    monkeypatch.setattr(clustering, "kmeans_fit", slow_fit)
    monkeypatch.setattr(
        type(tables["documents"]), "localCheckpoint", failing_checkpoint
    )
    with pytest.raises(RuntimeError, match="archive checkpoint failed"):
        gates._multimodal_ingest_fixture(spark, "unused")
    leaked = [
        t for t in threading.enumerate()
        if t not in before and t.name.startswith("ThreadPoolExecutor")
    ]
    assert not leaked, leaked

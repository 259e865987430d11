"""Round-5 training-lane operators: duplicated-substring spans, DSIR
importance weights, unicode hygiene, interval join, corpus stats, and the
streaming per-key quota cap."""

from __future__ import annotations

import os
import tempfile

import pytest
from pyspark.sql import functions as F


@pytest.fixture()
def docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog end one"),
        (2, "prefix words the quick brown fox jumps over the lazy dog and more"),
        (3, "totally unrelated content here nothing shared with others at all"),
        (4, ""),
        (5, "the quick brown fox jumps over the lazy dog end one"),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_duplicate_span_stats(docs):
    from openeo_processes_dask_spark.training.dedup import duplicate_span_stats

    out = {
        r["id"]: (r["n_runs"], r["dup_tokens"], r["longest_run"])
        for r in duplicate_span_stats(docs, "doc_id", "text", k=5).collect()
    }
    # docs 1 and 5 are identical (11 tokens): one full-cover run each;
    # doc 2 shares the 9-token middle; docs 3/4 have no duplicated span
    assert out[1] == (1, 11, 11)
    assert out[5] == (1, 11, 11)
    assert out[2] == (1, 9, 9)
    assert 3 not in out and 4 not in out


def test_remove_duplicate_spans_keeps_canonical(docs):
    from openeo_processes_dask_spark.training.dedup import (
        remove_duplicate_spans,
    )

    out = {
        r["doc_id"]: r["text"]
        for r in remove_duplicate_spans(docs, "doc_id", "text", k=5).collect()
    }
    # canonical (min-id) holder keeps its text verbatim
    assert out[1] == "the quick brown fox jumps over the lazy dog end one"
    # doc 2 loses the shared middle, keeps its unique prefix/suffix
    assert out[2] == "prefix words and more"
    # untouched and empty docs come back unchanged
    assert out[3].startswith("totally unrelated")
    assert out[4] == ""
    # the full duplicate is cut to nothing
    assert out[5] == ""


def test_dsir_weights_orders_target_like_docs(spark):
    from openeo_processes_dask_spark.training.importance import dsir_weights

    corpus = spark.createDataFrame(
        [(i, "alpha beta gamma delta") for i in range(10)]
        + [(i, "omega psi chi phi") for i in range(10, 20)],
        ["doc_id", "text"],
    )
    target = corpus.where(F.col("doc_id") < 10)  # the alpha-beta domain
    w = {
        r["id"]: r["weight_micro"]
        for r in dsir_weights(corpus, target, "doc_id", "text").collect()
    }
    # every alpha-domain doc must outscore every omega-domain doc
    assert min(w[i] for i in range(10)) > max(w[i] for i in range(10, 20))
    # identical docs get identical integer weights (bit-stable)
    assert len({w[i] for i in range(10)}) == 1


def test_unicode_clean(spark):
    from openeo_processes_dask_spark.training.unicode import unicode_clean

    rows = [
        (1, "plain ascii"),
        (2, "crlf\r\nline"),
        (3, "ctrl\x07char\x00s"),
        (4, "zero\u200bwidth\ufeff"),
        (5, "nfd e\u0301 composes"),
        (6, "seps and here"),
        (7, None),
    ]
    df = spark.createDataFrame(rows, ["id", "text"])
    out = {r["id"]: r["text"] for r in unicode_clean(df, "text").collect()}
    assert out[1] == "plain ascii"
    assert out[2] == "crlf\nline"
    assert out[3] == "ctrlchars"
    assert out[4] == "zerowidth"
    assert out[5] == "nfd \u00e9 composes"  # NFC composed single codepoint
    assert out[6] == "seps\nand\nhere"
    assert out[7] is None


def test_unicode_clean_ascii_skips_python_lane(spark):
    """The NFC pandas UDF must only appear on the non-ASCII leg: the
    ASCII leg's plan contains no ArrowEvalPython/Python node."""
    from openeo_processes_dask_spark.training.unicode import unicode_clean

    df = spark.createDataFrame([(1, "x")], ["id", "text"])
    plan = (
        unicode_clean(df, "text")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # the union has exactly one Python eval node (the non-ASCII leg)
    assert plan.count("ArrowEvalPython") + plan.count("BatchEvalPython") == 1


def test_interval_join_inclusive_and_left(spark):
    from openeo_processes_dask_spark.operators.interval import interval_join

    ev = spark.createDataFrame(
        [(i, f"2024-01-01 00:{m:02d}:00", float(i)) for i, m in
         enumerate([0, 10, 30, 59])],
        ["event_id", "ts_s", "value"],
    ).select("event_id", F.col("ts_s").cast("timestamp").alias("ts"), "value")
    iv = spark.createDataFrame(
        [
            (100, "2024-01-01 00:00:00", "2024-01-01 00:10:00"),  # 3 events
            (200, "2024-01-01 00:40:00", "2024-01-01 00:50:00"),  # empty
        ],
        ["interval_id", "s_s", "e_s"],
    ).select(
        "interval_id",
        F.col("s_s").cast("timestamp").alias("start"),
        F.col("e_s").cast("timestamp").alias("end"),
    )
    inner = interval_join(ev, iv, "ts", "start", "end", bucket_seconds=600)
    got = sorted(
        (r["interval_id"], r["event_id"]) for r in inner.collect()
    )
    # boundary ends are inclusive: events at :00 and :10 both match
    assert got == [(100, 0), (100, 1)]
    left = interval_join(
        ev, iv, "ts", "start", "end", bucket_seconds=600, how="left_interval"
    )
    ids = [r["interval_id"] for r in left.collect()]
    assert sorted(ids) == [100, 100, 200]
    empty = [r for r in left.collect() if r["interval_id"] == 200][0]
    assert empty["event_id"] is None


def test_interval_join_rejects_unknown_how(spark):
    from openeo_processes_dask_spark.operators.interval import interval_join

    df = spark.range(1)
    with pytest.raises(ValueError):
        interval_join(df, df, how="outer")


def test_corpus_stats_matches_pandas(spark):
    import numpy as np

    from openeo_processes_dask_spark.training.textanalysis import corpus_stats

    rows = [
        (1, "a bb ccc", "s1", "en"),
        (2, "dd ee", "s1", "en"),
        (3, "f", "s1", "de"),
        (4, "", "s2", "en"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text", "source", "lang"])
    out = {
        (r["source"], r["lang"]): r
        for r in corpus_stats(df, ("source", "lang"), "text").collect()
    }
    r = out[("s1", "en")]
    assert r["n_docs"] == 2 and r["total_tokens"] == 5
    assert r["mean_chars"] == pytest.approx((8 + 5) / 2)
    assert r["p50_chars"] == pytest.approx(np.quantile([8, 5], 0.5))
    assert out[("s2", "en")]["total_tokens"] == 0


def test_stream_cap_per_key(spark, tmp_path):
    from openeo_processes_dask_spark.streaming.events import (
        EVENTS_SCHEMA,
        run_stream_to_memory,
    )
    from openeo_processes_dask_spark.streaming.sessions import (
        stream_cap_per_key,
    )

    rows = [
        (i, f"2024-01-01 00:{i:02d}:00", i % 2, "click", 1.0, "{}")
        for i in range(10)
    ]
    src = spark.createDataFrame(
        rows, "event_id long, ts_s string, user_id long, event_type string, "
        "value double, props string"
    ).select(
        "event_id", F.col("ts_s").cast("timestamp").alias("ts"),
        "user_id", "event_type", "value", "props",
    )
    d = os.path.join(str(tmp_path), "stream")
    src.orderBy("ts").coalesce(1).write.parquet(d)
    stream = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .parquet(d)
        .select("user_id", "event_id", F.col("ts").alias("t"), "value")
    )
    out = stream_cap_per_key(stream, k=2)
    q = run_stream_to_memory(
        out.select("user_id", "event_id", "rank"), "t_cap", "append"
    )
    q.awaitTermination(120)
    got = sorted(
        (r["user_id"], r["event_id"], r["rank"])
        for r in spark.table("t_cap").collect()
    )
    # first 2 events per user in event-time order
    assert got == [(0, 0, 1), (0, 2, 2), (1, 1, 1), (1, 3, 2)]


def test_unicode_clean_idempotent(spark):
    """clean(clean(x)) == clean(x) over a nasty-string corpus."""
    from openeo_processes_dask_spark.training.unicode import unicode_clean

    nasty = [
        "a\r\nb\rc\nd", "\x00\x01\x02", "é́e", "​‌‍",
        "mixed é \r\n \x07 text  line", "", "   ", "plain",
        "﻿bom lead", "tab\tkept\nnewline kept",
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(nasty)], ["id", "text"]
    )
    once = unicode_clean(df, "text").select("id", F.col("text").alias("t1"))
    twice = unicode_clean(
        once.select("id", F.col("t1").alias("text")), "text"
    ).select("id", F.col("text").alias("t2"))
    joined = once.join(twice, "id")
    assert joined.where(~F.col("t1").eqNullSafe(F.col("t2"))).count() == 0


def test_interval_join_matches_naive_theta(spark):
    """Bucketized interval join == naive BETWEEN cross-filter on seeded
    random data, across bucket widths (narrower/wider than intervals)."""
    import random

    from openeo_processes_dask_spark.operators.interval import interval_join

    rng = random.Random(42)
    base = 1_700_000_000
    ev_rows = [
        (i, base + rng.randrange(0, 86_400)) for i in range(300)
    ]
    iv_rows = []
    for j in range(40):
        s = base + rng.randrange(0, 86_400)
        iv_rows.append((j, s, s + rng.randrange(0, 14_400)))
    ev = spark.createDataFrame(ev_rows, ["event_id", "sec"]).select(
        "event_id", F.timestamp_seconds("sec").alias("ts")
    )
    iv = spark.createDataFrame(iv_rows, ["interval_id", "s", "e"]).select(
        "interval_id",
        F.timestamp_seconds("s").alias("start"),
        F.timestamp_seconds("e").alias("end"),
    )
    naive = sorted(
        (r["interval_id"], r["event_id"])
        for r in iv.crossJoin(ev)
        .where((F.col("ts") >= F.col("start")) & (F.col("ts") <= F.col("end")))
        .collect()
    )
    assert naive, "fixture should produce matches"
    for bucket in (600, 3600, 86_400):
        got = sorted(
            (r["interval_id"], r["event_id"])
            for r in interval_join(
                ev, iv, "ts", "start", "end", bucket_seconds=bucket
            ).collect()
        )
        assert got == naive, f"bucket={bucket}"


def test_dsir_weights_partitioning_invariant(spark):
    """Integer micro-unit weights are bit-identical under repartition."""
    from openeo_processes_dask_spark.training.importance import dsir_weights

    docs = spark.createDataFrame(
        [(i, f"w{i % 7} common w{i % 3} tail words here") for i in range(60)],
        ["doc_id", "text"],
    )
    tgt = docs.where(F.col("doc_id") % 2 == 0)
    a = {
        r["id"]: r["weight_micro"]
        for r in dsir_weights(docs, tgt, "doc_id", "text").collect()
    }
    b = {
        r["id"]: r["weight_micro"]
        for r in dsir_weights(
            docs.repartition(13), tgt.repartition(7), "doc_id", "text"
        ).collect()
    }
    assert a == b


def test_plan_shapes_of_r5_operators(spark):
    """Physical-plan contracts for the round-5 operators: the interval
    join must NOT fall back to a nested loop, vocabulary's global top-k
    must compile to TakeOrderedAndProject, and contamination's eval
    digest set must broadcast."""
    from openeo_processes_dask_spark.operators.interval import interval_join
    from openeo_processes_dask_spark.training.dedup import contamination_ratio
    from openeo_processes_dask_spark.training.textanalysis import vocabulary

    ev = spark.createDataFrame(
        [(1, "2024-01-01 00:00:00")], ["event_id", "s"]
    ).select("event_id", F.col("s").cast("timestamp").alias("ts"))
    iv = spark.createDataFrame(
        [(1, "2024-01-01 00:00:00", "2024-01-01 01:00:00")],
        ["interval_id", "a", "b"],
    ).select(
        "interval_id",
        F.col("a").cast("timestamp").alias("start"),
        F.col("b").cast("timestamp").alias("end"),
    )
    plan = (
        interval_join(ev, iv, "ts", "start", "end")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan

    docs = spark.createDataFrame([(1, "a b c d e f")], ["doc_id", "text"])
    plan = (
        vocabulary(docs, "text", k=5, id_col="doc_id")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "TakeOrderedAndProject" in plan

    plan = (
        contamination_ratio(docs, docs, "doc_id", "text", n=3)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastHashJoin" in plan


def test_minhash_bucket_cap_star_pattern(spark):
    """max_bucket_size: oversized LSH buckets emit star pairs (linear)
    instead of all-pairs (quadratic), and connected components over the
    capped pairs equal the uncapped ones on a duplicate family."""
    from openeo_processes_dask_spark.training.dedup import (
        connected_components,
        minhash_near_duplicates,
    )

    fam = "the same long boilerplate passage repeated across many docs"
    docs = spark.createDataFrame(
        [(i, f"{fam} v{i}") for i in range(12)]
        + [(100, "a completely different document with its own words")],
        ["doc_id", "text"],
    )
    uncapped = minhash_near_duplicates(
        docs, "doc_id", "text", n=3, num_hashes=64, bands=16, threshold=0.2
    )
    capped = minhash_near_duplicates(
        docs, "doc_id", "text", n=3, num_hashes=64, bands=16, threshold=0.2,
        max_bucket_size=4,
    )
    n_un, n_cap = uncapped.count(), capped.count()
    assert n_cap < n_un  # 12-member family: 66 all-pairs vs 11 star pairs
    cc_u = sorted(
        (r["id"], r["comp"]) for r in connected_components(uncapped).collect()
    )
    cc_c = sorted(
        (r["id"], r["comp"]) for r in connected_components(capped).collect()
    )
    assert cc_u == cc_c


def test_simhash_and_embedding_bucket_caps(spark):
    """The SimHash and sign-LSH embedding lanes accept the same skew cap;
    capped results stay hamming/cosine-verified and cluster-equivalent."""
    from openeo_processes_dask_spark.training.dedup import (
        connected_components,
        simhash_near_duplicates,
    )
    from openeo_processes_dask_spark.training.similarity import (
        pairwise_cosine_above,
    )

    fam = "the same long boilerplate passage repeated across many docs"
    docs = spark.createDataFrame(
        [(i, f"{fam} v{i}") for i in range(10)]
        + [(100, "a completely different document with its own words")],
        ["doc_id", "text"],
    )
    un = simhash_near_duplicates(docs, "doc_id", "text", max_hamming=6)
    cap = simhash_near_duplicates(
        docs, "doc_id", "text", max_hamming=6, max_bucket_size=3
    )
    assert cap.count() < un.count()
    cc_u = sorted((r["id"], r["comp"]) for r in connected_components(un).collect())
    cc_c = sorted((r["id"], r["comp"]) for r in connected_components(cap).collect())
    assert cc_u == cc_c

    vecs = spark.createDataFrame(
        [(i, [1.0, 0.01 * i, 0.5]) for i in range(8)]
        + [(50, [-1.0, 0.3, -0.9])],
        ["vec_id", "embedding"],
    )
    un_v = pairwise_cosine_above(vecs, threshold=0.99)
    cap_v = pairwise_cosine_above(vecs, threshold=0.99, max_bucket_size=3)
    assert cap_v.count() < un_v.count()
    cc_u = sorted((r["id"], r["comp"]) for r in connected_components(un_v).collect())
    cc_c = sorted((r["id"], r["comp"]) for r in connected_components(cap_v).collect())
    assert cc_u == cc_c


def test_stream_static_enrichment_join(spark, tmp_path):
    """Stream-static INNER join: each streamed event is enriched with a
    static dimension row (the broadcast-dim pattern of a streaming ETL);
    stateless, so stream results equal the batch join."""
    from openeo_processes_dask_spark.streaming.events import (
        EVENTS_SCHEMA,
        run_stream_to_memory,
    )

    rows = [
        (i, f"2024-01-01 00:{i:02d}:00", i % 3, "click", float(i), "{}")
        for i in range(9)
    ]
    src = spark.createDataFrame(
        rows, "event_id long, ts_s string, user_id long, event_type string, "
        "value double, props string"
    ).select(
        "event_id", F.col("ts_s").cast("timestamp").alias("ts"),
        "user_id", "event_type", "value", "props",
    )
    d = os.path.join(str(tmp_path), "enrich_src")
    src.coalesce(1).write.parquet(d)
    dim = spark.createDataFrame(
        [(0, "bronze"), (1, "silver"), (2, "gold")], ["user_id", "tier"]
    )
    stream = (
        spark.readStream.schema(EVENTS_SCHEMA).parquet(d)
        .select("event_id", "user_id", "value")
        .join(F.broadcast(dim), "user_id")
    )
    q = run_stream_to_memory(
        stream.select("event_id", "tier", "value"), "t_enrich", "append"
    )
    q.awaitTermination(120)
    got = sorted(
        (r["event_id"], r["tier"]) for r in spark.table("t_enrich").collect()
    )
    exp = sorted(
        (r["event_id"], r["tier"])
        for r in src.join(dim, "user_id").collect()
    )
    assert got == exp and len(got) == 9


def test_interval_join_left_with_null_payload(spark):
    """Null-safe anti-join regression: an unmatched-check on an interval
    row carrying a NULL payload column must not duplicate it."""
    from openeo_processes_dask_spark.operators.interval import interval_join

    ev = spark.createDataFrame(
        [(1, "2024-01-01 00:05:00")], ["event_id", "s"]
    ).select("event_id", F.col("s").cast("timestamp").alias("ts"))
    iv = spark.createDataFrame(
        [(10, "2024-01-01 00:00:00", "2024-01-01 01:00:00", None),
         (20, "2024-01-02 00:00:00", "2024-01-02 01:00:00", None)],
        "interval_id long, a string, b string, label string",
    ).select(
        "interval_id",
        F.col("a").cast("timestamp").alias("start"),
        F.col("b").cast("timestamp").alias("end"),
        "label",
    )
    out = interval_join(
        ev, iv, "ts", "start", "end", how="left_interval"
    ).collect()
    ids = sorted(r["interval_id"] for r in out)
    assert ids == [10, 20]  # matched once + unmatched once, no dupes


def test_remove_duplicate_spans_preserves_case(spark):
    """Case regression: detection is case-insensitive, but the rewrite
    must keep the original casing of surviving tokens."""
    from openeo_processes_dask_spark.training.dedup import (
        remove_duplicate_spans,
    )

    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon End"),
            (2, "My Unique Prefix ALPHA Beta GAMMA delta epsilon plus Tail"),
        ],
        ["doc_id", "text"],
    )
    out = {
        r["doc_id"]: r["text"]
        for r in remove_duplicate_spans(docs, "doc_id", "text", k=5).collect()
    }
    assert out[1] == "alpha beta gamma delta epsilon End"
    assert out[2] == "My Unique Prefix plus Tail"


def test_bigram_nll_backoff_under_seen_context(spark):
    """Backoff regression: under a frequent seen context, an UNSEEN pair
    must be less probable (higher nll contribution) than coalescing to
    the uniform floor would make it, and never beat a seen pair."""
    from openeo_processes_dask_spark.training.lm import bigram_nll

    train = spark.createDataFrame(
        [(i, "the cat sat on the mat with the dog") for i in range(20)],
        ["doc_id", "text"],
    )
    score = spark.createDataFrame(
        [(100, "the cat"), (101, "the zebra")], ["doc_id", "text"]
    )
    out = {
        r["doc_id"]: r["nll"]
        for r in bigram_nll(score, "doc_id", "text", k=0.5,
                            train_df=train).collect()
    }
    # seen pair scores better (lower nll) than unseen pair, same context
    assert out[100] < out[101]


def test_remove_duplicate_spans_exact_preserves_bytes(spark):
    """Byte-exact removal: whitespace runs, newlines and casing OUTSIDE
    the cuts survive verbatim; the cut substring (and the gaps inside
    it) disappears."""
    from openeo_processes_dask_spark.training.dedup import (
        remove_duplicate_spans_exact,
    )

    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon End"),
            (2, "My  Unique\n\nPrefix ALPHA Beta GAMMA delta epsilon plus\tTail"),
            (3, "nothing shared at all here whatsoever okay"),
        ],
        ["doc_id", "text"],
    )
    out = {
        r["doc_id"]: r["text"]
        for r in remove_duplicate_spans_exact(
            docs, "doc_id", "text", k=5
        ).collect()
    }
    # canonical + untouched: byte-identical
    assert out[1] == "alpha beta gamma delta epsilon End"
    assert out[3] == "nothing shared at all here whatsoever okay"
    # doc 2: the 5-token duplicated run is cut; double space, newlines
    # and tab OUTSIDE the cut survive exactly
    assert out[2] == "My  Unique\n\nPrefix plus\tTail"

    # out_col variant keeps the original column intact
    out2 = remove_duplicate_spans_exact(
        docs, "doc_id", "text", k=5, out_col="clean"
    )
    r2 = {r["doc_id"]: (r["text"], r["clean"]) for r in out2.collect()}
    assert r2[2][0].startswith("My  Unique")
    assert "ALPHA" in r2[2][0] and "ALPHA" not in r2[2][1]


def test_remove_duplicate_spans_exact_python_lane_is_targeted(spark):
    """Only documents WITH cuts reach the Python splice: the untouched
    leg of the union has no Python eval node feeding it (one MapInPandas
    total, on the affected side)."""
    from openeo_processes_dask_spark.diagnostics import plan_report
    from openeo_processes_dask_spark.training.dedup import (
        remove_duplicate_spans_exact,
    )

    docs = spark.createDataFrame(
        [(i, f"doc {i} unique tokens only here") for i in range(5)],
        ["doc_id", "text"],
    )
    r = plan_report(remove_duplicate_spans_exact(docs, "doc_id", "text", k=3))
    assert r.text.count("MapInPandas") == 1


def test_exact_spans_tokenization_parity(spark):
    """The Python splice's token spans must replicate Spark's tokens()
    positions on the adversarial inputs where \\S+ scanning diverges:
    leading non-space whitespace (empty token 0), trailing separators
    (trailing empty token), and NBSP (token text in Java ASCII \\s)."""
    from openeo_processes_dask_spark.training.dedup import (
        remove_duplicate_spans_exact,
    )

    shared = "alpha beta gamma delta epsilon"
    docs = spark.createDataFrame(
        [
            (1, shared),
            (2, "\nlead " + shared + " tail\n"),       # empty tokens both ends
            (3, "x y " + shared + " z"),          # NBSP inside a token
        ],
        ["doc_id", "text"],
    )
    out = {
        r["doc_id"]: r["text"]
        for r in remove_duplicate_spans_exact(
            docs, "doc_id", "text", k=5
        ).collect()
    }
    assert out[1] == shared                     # canonical, untouched
    assert out[2] == "\nlead tail\n"            # cut exact, ends preserved
    assert out[3] == "x y z"               # NBSP token intact


def test_bm25_empty_corpus_returns_empty(spark):
    from openeo_processes_dask_spark.training.textanalysis import bm25_topk

    empty = spark.createDataFrame([], "doc_id long, text string")
    out = bm25_topk(empty, ["anything"], k=5)
    assert out.count() == 0
    assert set(out.columns) == {"rank", "id", "score"}


def test_interval_join_extra_on_residual(spark):
    """extra_on adds a residual predicate (e.g. same user) to the
    bucketized join."""
    from openeo_processes_dask_spark.operators.interval import interval_join

    ev = spark.createDataFrame(
        [(1, 7, "2024-01-01 00:05:00"), (2, 8, "2024-01-01 00:06:00")],
        ["event_id", "user_id", "s"],
    ).select("event_id", "user_id", F.col("s").cast("timestamp").alias("ts"))
    iv = spark.createDataFrame(
        [(10, 7, "2024-01-01 00:00:00", "2024-01-01 01:00:00")],
        ["interval_id", "owner", "a", "b"],
    ).select(
        "interval_id", "owner",
        F.col("a").cast("timestamp").alias("start"),
        F.col("b").cast("timestamp").alias("end"),
    )
    out = interval_join(
        ev, iv, "ts", "start", "end",
        extra_on=F.col("user_id") == F.col("owner"),
    ).collect()
    assert [(r["interval_id"], r["event_id"]) for r in out] == [(10, 1)]


def test_simhash_incremental_new_vs_seen_only(spark):
    """r12: the SimHash ingest screen finds each new doc's archive
    twin (identical text -> hamming 0; one appended token -> small
    hamming), emits strictly new x seen pairs, and never re-tokenizes
    the archive (it consumes only the signature table)."""
    from openeo_processes_dask_spark.training.dedup import (
        simhash_incremental,
        simhash_signatures,
    )

    long_doc = " ".join(f"token{i} common word{i % 7}" for i in range(30))
    seen_rows = [
        (1, "the quick brown fox jumps over the lazy dog again today"),
        # long doc: a one-token perturbation barely moves the votes,
        # so the near-copy lands within the hamming budget
        (2, long_doc),
        (3, "a third document with its own unrelated vocabulary set"),
    ]
    seen = spark.createDataFrame(seen_rows, ["doc_id", "text"])
    sigs = simhash_signatures(seen, "doc_id", "text")
    new = spark.createDataFrame(
        [
            (101, seen_rows[0][1]),              # exact copy -> hamming 0
            (102, seen_rows[1][1] + " extra"),   # near copy
            (103, "nothing like any archive document whatsoever xyzzy"),
            # two identical NEW docs: must NOT pair with each other
            (104, "fresh duplicate pair alpha beta gamma delta"),
            (105, "fresh duplicate pair alpha beta gamma delta"),
        ],
        ["doc_id", "text"],
    )
    out = simhash_incremental(new, sigs, max_hamming=6, bands=4)
    rows = {(r["new_id"], r["seen_id"]): r["hamming"] for r in out.collect()}
    assert rows[(101, 1)] == 0
    assert (102, 2) in rows and rows[(102, 2)] <= 6
    assert all(nid != 103 for nid, _ in rows)
    # strictly new x seen: seen ids only on the right, new on the left
    assert all(sid in (1, 2, 3) for _, sid in rows)
    assert (104, 105) not in rows and (105, 104) not in rows


def test_ingest_screen_verdicts(spark):
    """r12: the composed ingest verdict — exact copies flag BOTH lanes
    (identical text implies identical signature), perturbed docs flag
    near only, fresh docs keep, and whitespace/case changes still count
    as exact (normalized fingerprint)."""
    from openeo_processes_dask_spark.training.dedup import (
        ingest_screen,
        minhash_signatures,
    )
    from pyspark.sql import functions as F

    seen_rows = [
        (1, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
        (2, "one two three four five six seven eight nine ten eleven"),
    ]
    seen = spark.createDataFrame(seen_rows, ["doc_id", "text"])
    fps = seen.select(
        F.md5(
            F.regexp_replace(F.lower(F.trim("text")), r"\s+", " ")
        ).alias("fingerprint")
    )
    sigs = minhash_signatures(seen, "doc_id", "text", 3, 64)
    new = spark.createDataFrame(
        [
            (101, seen_rows[0][1]),                   # exact copy
            (102, "  ALPHA beta   gamma delta epsilon zeta eta theta"
                  " iota kappa "),                    # normalized-exact
            (103, seen_rows[1][1] + " twelve"),       # near dup
            (104, "totally unrelated fresh content qq zz xx yy ww vv"),
        ],
        ["doc_id", "text"],
    )
    out = {
        r["id"]: (r["exact_dup"], r["near_dup"], r["keep"])
        for r in ingest_screen(new, fps, sigs, threshold=0.5).collect()
    }
    assert out[101] == (True, True, False)
    assert out[102] == (True, True, False)
    assert out[103][1] and not out[103][0] and not out[103][2]
    assert out[104] == (False, False, True)


def test_stream_minhash_screen_matches_batch(spark, tmp_path):
    """r12: drained DISTINCT of the stateless streaming MinHash screen
    (per-row HOF signatures, band join vs static archive signatures,
    two micro-batches) equals the batch minhash_incremental pair set —
    pairs AND est values."""
    from pyspark.sql.types import DoubleType

    from openeo_processes_dask_spark.training.dedup import (
        minhash_incremental,
        minhash_signatures,
        stream_minhash_screen,
    )

    base = ("the quick brown fox jumps over the lazy dog again and "
            "again with many shared tokens in this longer sentence")
    seen = spark.createDataFrame(
        [(1, base), (2, "completely different unrelated archive text "
                        "with its own vocabulary set here")],
        ["doc_id", "text"],
    )
    sigs = minhash_signatures(seen, "doc_id", "text", 3, 64)
    new = spark.createDataFrame(
        [
            (101, base + " qq7"),            # near dup of 1
            (102, "fresh novel content aa bb cc dd ee ff gg hh"),
            (103, base),                     # exact copy of 1
            (104, "xx"),                     # < n tokens: emits nothing
        ],
        ["doc_id", "text"],
    )
    d = str(tmp_path / "mh_stream")
    new.where("doc_id <= 102").coalesce(1).write.mode(
        "overwrite"
    ).parquet(d)
    new.where("doc_id > 102").coalesce(1).write.mode("append").parquet(d)
    stream = (
        spark.readStream.option("maxFilesPerTrigger", 1)
        .schema("doc_id long, text string")
        .parquet(d)
    )
    out = stream_minhash_screen(stream, sigs, threshold=0.5)
    assert out.schema["est_jaccard"].dataType == DoubleType()
    q = (
        out.writeStream.format("memory")
        .queryName("smh_pin")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {
        (r["new_id"], r["seen_id"], r["est_jaccard"])
        for r in spark.table("smh_pin").collect()
    }
    batch = minhash_incremental(new, sigs, threshold=0.5)
    assert batch.schema["est_jaccard"].dataType == DoubleType()
    exp = {
        (r["new_id"], r["seen_id"], r["est_jaccard"])
        for r in batch.collect()
    }
    assert got == exp
    assert {p[0] for p in got} == {101, 103}


def test_shared_key_incremental_new_vs_seen(spark):
    """r12: the set-overlap ingest screen — exact new x seen overlap
    counts, min_shared floor, union-frequency degenerate-key guard,
    and no new x new pairs."""
    import pytest as _pytest

    from openeo_processes_dask_spark.training.dedup import (
        shared_key_incremental,
    )

    seen = spark.createDataFrame(
        [(1, k) for k in (10, 11, 12, 13)]
        + [(2, k) for k in (20, 21, 22)],
        ["id", "key"],
    )
    new = spark.createDataFrame(
        [(101, k) for k in (10, 11, 12, 99)]      # 3 shared with 1
        + [(102, k) for k in (20, 98, 97)]        # 1 shared with 2
        + [(103, k) for k in (10, 11, 12, 99)],   # same as 101
        ["id", "key"],
    )
    out = {
        (r["new_id"], r["seen_id"]): r["n_shared"]
        for r in shared_key_incremental(new, seen, min_shared=2).collect()
    }
    assert out == {(101, 1): 3, (103, 1): 3}
    # identical NEW docs never pair with each other (101 vs 103)
    assert all(s in (1, 2) for _, s in out)
    # degenerate-key guard on the UNION frequency: key 10/11/12 appear
    # in seen(1) + new(101, 103) = 3 ids each; cap at 2 removes them
    capped = shared_key_incremental(
        new, seen, min_shared=1, max_key_freq=2
    ).collect()
    assert all(r["seen_id"] == 2 for r in capped)
    with _pytest.raises(ValueError):
        shared_key_incremental(new, seen, min_shared=0)


def test_decontaminate_spans_and_removal(spark):
    from openeo_processes_dask_spark.training.dedup import (
        decontaminate_spans,
        remove_contaminated_spans,
    )

    bench = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog")],
        ["doc_id", "text"],
    )
    train = spark.createDataFrame(
        [
            # leak mid-doc: tokens 2..10 (0-based) match the bench run
            (1, "aa bb the quick brown fox jumps over the lazy dog cc dd"),
            # two separated leaks -> two runs
            (2, "the quick brown fox QQ RR SS TT over the lazy dog"),
            (3, "nothing shared with the benchmark document at all"),
            (4, ""),
        ],
        ["doc_id", "text"],
    )
    runs = {
        (r["id"], r["s"], r["e"]): r["span_tokens"]
        for r in decontaminate_spans(train, bench, n=4).collect()
    }
    # doc 1: 4-gram hits at positions 2..7 -> one merged run [2, 10]
    assert (1, 2, 10) in runs and runs[(1, 2, 10)] == 9
    # doc 2: "the quick brown fox" at 0..3 and "over the lazy dog" at
    # 8..11 -> two disjoint runs
    doc2 = sorted((s, e) for (i, s, e) in runs if i == 2)
    assert doc2 == [(0, 3), (8, 11)]
    assert not any(i in (3, 4) for (i, _s, _e) in runs)

    out = {
        r["doc_id"]: r["text"]
        for r in remove_contaminated_spans(train, bench, n=4).collect()
    }
    assert out[1] == "aa bb cc dd"
    assert out[2] == "QQ RR SS TT"
    # clean docs keep text VERBATIM (no token-rebuild collapse)
    assert out[3] == "nothing shared with the benchmark document at all"
    assert out[4] == ""

"""training.filtering: Gopher repetition stats + rule filters, checked
against straightforward Python recomputation (collections.Counter)."""

from collections import Counter

import pytest
from pyspark.sql import functions as F

from openeo_processes_dask_spark.training.filtering import (
    gopher_filter,
    gopher_flags,
    ngram_repetition,
    repetition_removal,
    word_stats,
)


@pytest.fixture(scope="module")
def corpus(spark):
    rows = [
        (0, "the cat sat on the mat the cat sat again"),
        (1, "spam spam spam spam spam spam"),
        (2, "a perfectly ordinary sentence with many distinct tokens here"),
        (3, "x"),
        (4, ""),
        (5, "one two one two one two one two one two"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def py_gram_stats(text: str, n: int):
    toks = text.lower().split()
    grams = [" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)]
    c = Counter(grams)
    return {
        "top_run": max(c.values(), default=0),
        "top_chars": max((k * len(g) for g, k in c.items()), default=0),
        "dup_occ": sum(k for k in c.values() if k > 1),
        "dup_chars": sum(k * len(g) for g, k in c.items() if k > 1),
        "tot_chars": sum(k * len(g) for g, k in c.items()),
        "n_grams": len(grams),
    }


@pytest.mark.parametrize("n", [1, 2, 5])
def test_ngram_repetition_matches_counter(corpus, n):
    out = ngram_repetition(corpus, n).collect()
    for r in out:
        want = py_gram_stats(r["text"], n)
        for f, v in want.items():
            assert r[f"g{n}_{f}"] == v, (r["doc_id"], n, f, r[f"g{n}_{f}"], v)


def test_word_stats(corpus):
    rows = {r["doc_id"]: r for r in word_stats(corpus).collect()}
    assert rows[0]["n_words"] == 10
    assert rows[0]["n_distinct_words"] == 6  # the cat sat on mat again
    assert rows[0]["n_stopwords"] == 3  # 'the' ×3 ('on'/'cat' not stopwords)
    assert rows[4]["n_words"] == 0 and rows[4]["word_chars"] == 0
    assert rows[2]["n_alpha_words"] == rows[2]["n_words"]


def test_gopher_flags_and_filter(corpus):
    flags = gopher_flags(corpus, min_words=5, min_stopwords=1).collect()
    by_id = {r["doc_id"]: r for r in flags}
    # doc 1: one token repeated -> dominated by its 2-gram, fails repetition
    assert not by_id[1]["ok_top2gram"] and not by_id[1]["keep"]
    # doc 5: "one two" 2-gram dominates
    assert not by_id[5]["ok_top2gram"]
    # doc 2: diverse, passes repetition rules
    assert by_id[2]["ok_top2gram"] and by_id[2]["ok_dup5gram"]
    # empty / tiny docs fail word-count but pass (vacuous) gram rules
    assert by_id[4]["ok_top2gram"] and not by_id[4]["ok_words"]
    kept = gopher_filter(corpus, min_words=5, min_stopwords=1)
    assert set(kept.columns) == {"doc_id", "text"}
    assert [r["doc_id"] for r in kept.collect()] == [
        r["doc_id"] for r in flags if r["keep"]
    ]


def test_repetition_removal(corpus):
    kept = {r["doc_id"] for r in repetition_removal(corpus, n=2, max_dup_frac=0.5).collect()}
    assert 1 not in kept  # pure spam
    assert 5 not in kept  # alternating two tokens: every 2-gram duplicated
    assert {2, 3, 4} <= kept  # diverse or gram-free docs survive


def test_no_shuffle_in_plan(corpus):
    """The whole Gopher pass must stay map-side: no Exchange operator."""
    plan = gopher_flags(corpus)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_dedup_against(spark):
    from openeo_processes_dask_spark.training.dedup import dedup_against

    seen = spark.createDataFrame(
        [(1, "alpha beta"), (2, "gamma")], "doc_id long, text string"
    )
    new = spark.createDataFrame(
        [(10, "  ALPHA   beta "), (11, "delta"), (12, "gamma"), (13, "delta")],
        "doc_id long, text string",
    )
    kept = sorted(r["doc_id"] for r in dedup_against(new, seen).collect())
    # 10 normalizes to seen 'alpha beta'; 12 matches 'gamma'; within-batch
    # duplicate 13 of 11 is kept (contract: compose with exact_duplicates)
    assert kept == [11, 13]
    assert dedup_against(new, seen).columns == ["doc_id", "text"]


def test_jaccard_prefix_equals_brute_force(spark):
    # the prefix-filter lemma promises recall EXACTLY 1 — the prefix
    # join must reproduce the brute-force join bit-for-bit, including on
    # near-identical docs, tiny docs, and threshold-edge pairs
    from openeo_processes_dask_spark.training.dedup import (
        jaccard_prefix_pairs,
        ngram_jaccard_pairs,
    )

    words = "alpha beta gamma delta eps zeta eta theta iota kappa".split()
    rows = []
    for i in range(30):
        # overlapping sliding windows -> a spectrum of pairwise Jaccards
        ws = [words[(i + j) % 10] for j in range(6)] + [words[i % 3]]
        rows.append((i, " ".join(ws)))
    rows += [(100, rows[0][1]), (101, "alpha beta gamma"), (102, "x y z")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    for t in (0.25, 0.5, 0.75):
        brute = {
            (r["id1"], r["id2"]): round(r["jaccard"], 9)
            for r in ngram_jaccard_pairs(
                df, "doc_id", "text", n=2, threshold=t
            ).collect()
        }
        pref = {
            (r["id1"], r["id2"]): round(r["jaccard"], 9)
            for r in jaccard_prefix_pairs(
                df, "doc_id", "text", n=2, threshold=t
            ).collect()
        }
        assert pref == brute, f"threshold {t}"
    assert brute  # the fixture actually produces qualifying pairs


def test_jaccard_prefix_exact_duplicates_score_one(spark):
    from openeo_processes_dask_spark.training.dedup import jaccard_prefix_pairs

    df = spark.createDataFrame(
        [(1, "a b c d e"), (2, "a b c d e"), (3, "q r s t u")],
        "doc_id long, text string",
    )
    got = jaccard_prefix_pairs(df, "doc_id", "text", n=3, threshold=0.9).collect()
    assert [(r["id1"], r["id2"], r["jaccard"]) for r in got] == [(1, 2, 1.0)]


def test_corpus_diff(spark):
    from openeo_processes_dask_spark.training.dedup import corpus_diff

    old = spark.createDataFrame(
        [(1, "same"), (2, "will change"), (3, "gone")],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        # 1 unchanged modulo normalization (case/whitespace), 2 changed,
        # 3 removed, 4 added
        [(1, "  SAME "), (2, "did change"), (4, "fresh")],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r["status"] for r in corpus_diff(old, new).collect()}
    assert got == {2: "changed", 3: "removed", 4: "added"}


def test_corpus_diff_empty_sides(spark):
    from openeo_processes_dask_spark.training.dedup import corpus_diff

    docs = spark.createDataFrame([(1, "a")], "doc_id long, text string")
    empty = docs.where("false")
    assert {r["status"] for r in corpus_diff(empty, docs).collect()} == {"added"}
    assert {r["status"] for r in corpus_diff(docs, empty).collect()} == {"removed"}
    assert corpus_diff(docs, docs).count() == 0


def test_connected_components_nonconvergence_raises(spark):
    """A chain that the round budget cannot finish must raise, not return
    silently wrong component labels (ADVICE r02): the 13-node chain needs
    5 large-star/small-star rounds, so 2 raise and the default finishes."""
    from openeo_processes_dask_spark.training.dedup import connected_components

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(12)], "id1 int, id2 int"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(chain, max_iterations=2)
    comp = connected_components(chain).toPandas()
    assert set(comp["comp"]) == {0}


def test_plan_shapes_of_new_operators(spark, tmp_path):
    """Physical-plan assertions for the round-4 operators (same pattern
    as test_no_shuffle_in_plan): the claims in the docstrings — top-k
    compiles to WindowGroupLimit, the benchmark digest set broadcasts,
    bbox predicates reach the parquet scan of a z-ordered layout — are
    checked against the plans, not asserted from memory."""
    from pyspark.sql import functions as F

    from openeo_processes_dask_spark.cube import DataCube
    from openeo_processes_dask_spark.sources.load import save_cube_zordered
    from openeo_processes_dask_spark.training.dedup import decontaminate
    from openeo_processes_dask_spark.training.textanalysis import (
        tfidf_top_terms,
    )

    docs = spark.createDataFrame(
        [(i, f"word{i % 7} common text body number {i}") for i in range(50)],
        "doc_id bigint, text string",
    )

    # tfidf top-k: rank<=k must compile to WindowGroupLimit (map tasks
    # forward at most k rows per doc before the exchange)
    plan = (
        tfidf_top_terms(docs, "doc_id", "text", k=3)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "WindowGroupLimit" in plan

    # decontaminate: the benchmark digest set joins via broadcast
    bench = docs.where(F.col("doc_id") % 10 == 0)
    plan = (
        decontaminate(docs, bench, "doc_id", "text", n=3)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastHashJoin" in plan

    # z-ordered layout: bbox range predicates are pushed to the scan
    n = 32
    cube = DataCube(
        spark.range(n * n).select(
            (F.col("id") % n).cast("double").alias("x"),
            (F.col("id") / n).cast("long").cast("double").alias("y"),
            (F.col("id") * 1.0).alias("value"),
        ),
        dims=("x", "y"),
    )
    out = str(tmp_path / "z")
    save_cube_zordered(cube, out, n_files=8)
    q = spark.read.parquet(out).where(
        (F.col("x") >= 3.0) & (F.col("x") <= 6.0)
        & (F.col("y") >= 3.0) & (F.col("y") <= 6.0)
    )
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters:" in plan
    assert "GreaterThanOrEqual(x,3.0)" in plan


def test_minhash_incremental_new_vs_seen_only(spark):
    from pyspark.sql.types import DoubleType

    from openeo_processes_dask_spark.training.dedup import (
        minhash_incremental,
        minhash_signatures,
    )

    seen = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog again today"),
            (2, "completely different text about spark joins and shuffles"),
        ],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [
            # 10 = near-copy of 1; 11 = unrelated; 12 near-copy of 11's
            # WITHIN-batch twin 13 (must NOT pair: new x new is excluded)
            (10, "the quick brown fox jumps over the lazy dog again now"),
            (11, "entirely novel content with no overlap whatsoever here"),
            (12, "identical within batch sentence one two three four five"),
            (13, "identical within batch sentence one two three four five"),
        ],
        "doc_id long, text string",
    )
    sigs = minhash_signatures(seen, "doc_id", "text", n=3, num_hashes=64)
    out = minhash_incremental(new, sigs, n=3, num_hashes=64, bands=16,
                              threshold=0.3)
    assert out.schema["est_jaccard"].dataType == DoubleType()
    rows = out.collect()
    pairs = {(r["new_id"], r["seen_id"]) for r in rows}
    assert (10, 1) in pairs
    assert all(nid != 11 for nid, _ in pairs)
    # within-batch twins 12/13 generate no pair (seen side only)
    assert all(sid in (1, 2) for _, sid in pairs)
    est = {p: r["est_jaccard"] for p, r in zip(pairs, rows)}
    assert all(0.3 <= v <= 1.0 for v in est.values())


def test_jaccard_prefix_windows_are_per_document_only(spark):
    """Regression pin (SCALECHECK probe 12): the only window in the
    prefix join is the per-document row_number — partitioned by id,
    never a global vocabulary sort."""
    import re

    from openeo_processes_dask_spark.training.dedup import (
        jaccard_prefix_pairs,
    )

    df = spark.createDataFrame(
        [(1, "a b c"), (2, "b c d")], "doc_id long, text string"
    )
    plan = (
        jaccard_prefix_pairs(df, "doc_id", "text", n=2, threshold=0.5)
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    # every Window node must carry a non-empty partition spec (the id)
    for m in re.finditer(r"windowspecdefinition\(([^)]*)\)", plan):
        spec = m.group(1)
        assert spec.startswith("id#"), f"unpartitioned window: {spec}"


def test_strip_markup(spark):
    from openeo_processes_dask_spark.training.filtering import strip_markup

    docs = spark.createDataFrame(
        [
            (1, '<p class="x">Hello <b>world</b></p>'),
            (2, "A&nbsp;B &lt;tag&gt; &quot;q&quot; &#39;s&#39; T&amp;C"),
            (3, "&amp;lt;double&amp;gt;"),  # double-escaped survives one level
            (4, "no markup at all"),
            (5, "  spaced   <br/>   out  "),
        ],
        ["doc_id", "text"],
    )
    out = {
        r["doc_id"]: r["text"]
        for r in strip_markup(docs).collect()
    }
    assert out[1] == "Hello world"
    assert out[2] == 'A B <tag> "q" \'s\' T&C'
    assert out[3] == "&lt;double&gt;"  # NOT decoded twice
    assert out[4] == "no markup at all"
    assert out[5] == "spaced out"
    # out_col keeps the original
    kept = strip_markup(docs, out_col="clean").collect()
    assert all("<" in r["text"] or r["doc_id"] > 3 for r in kept
               if r["doc_id"] == 1)

"""DuckDB oracle SQL generators shared across gate lanes.

Sliced verbatim from the round-2 ``__spark_entry__.py`` (round 3 split);
query/oracle semantics unchanged. See gates/__init__.py for registry order.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame, SparkSession  # noqa: F401
from pyspark.sql import functions as F  # noqa: F401

from .common import _GRID_CTE

_MD5LONG = "CAST('0x' || substr(md5({v}), 1, 15) AS BIGINT)"


def _oracle_sf_dir() -> str:
    """The fixture directory the replay builders read, looked up at call
    time: ``all_oracles`` keys its memo on ``ORACLE_SF_DIR``."""
    return os.environ.get("ORACLE_SF_DIR", "/root/testdata/sf0.01")


#: the engine's whitespace contract: the JVM ``\s`` class (ASCII only)
_BPE_WS = re.compile("[ \\t\\n\\x0b\\f\\r]+")


def _bpe_words(text: str | None) -> list[str]:
    """Engine-contract pre-tokenization for the BPE replay builders —
    lowercase + Java ``\\s+`` split, byte-matching
    training.bpe._pretokenize. NOT str.split(): Python's Unicode
    whitespace silently diverges on NBSP/em-space corpora (ADVICE r7)."""
    return [w for w in _BPE_WS.split((text or "").lower()) if w]


def _bpe_cap_types(
    freqs: dict, max_word_types: int = 100_000
) -> dict:
    """The engine's learn_bpe word-type cap (bpe.py:87-92): keep the
    ``max_word_types`` most frequent types, freq DESC / word ASC."""
    top = sorted(freqs.items(), key=lambda kv: (-kv[1], kv[0]))
    return dict(top[:max_word_types])


def _minhash_oracle_sql(
    n: int = 3, num_hashes: int = 64, bands: int = 16, threshold: float = 0.2,
    seed: int = 42,
) -> str:
    import random

    from openeo_processes_dask_spark.training.dedup import _P

    rnd = random.Random(seed)
    coeffs = [
        (rnd.randrange(1, _P), rnd.randrange(0, _P)) for _ in range(num_hashes)
    ]
    rows_per_band = num_hashes // bands
    mins = ",\n                ".join(
        f"min(({a} * x + {b}) % {_P}) AS h{i}" for i, (a, b) in enumerate(coeffs)
    )
    band_selects = "\n            UNION ALL ".join(
        "SELECT doc_id, {bi} AS band, md5(concat_ws(',', {cols})) AS bucket FROM sigs".format(
            bi=bi,
            cols=", ".join(
                f"CAST(h{bi * rows_per_band + j} AS VARCHAR)"
                for j in range(rows_per_band)
            ),
        )
        for bi in range(bands)
    )
    agree = " + ".join(
        f"(CASE WHEN s1.h{i} = s2.h{i} THEN 1 ELSE 0 END)"
        for i in range(num_hashes)
    )
    xl = _MD5LONG.format(v="s")
    return f"""
        WITH toks AS (
          SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS w
          FROM documents),
        sh AS (
          SELECT DISTINCT doc_id,
                 unnest(list_transform(generate_series(1, len(w) - {n - 1}),
                        i -> array_to_string(w[i:i+{n - 1}], ' '))) AS s
          FROM toks WHERE len(w) >= {n}),
        xs AS (SELECT doc_id, {xl} % {_P} AS x FROM sh),
        sigs AS (SELECT doc_id, {mins} FROM xs GROUP BY doc_id),
        banded AS ({band_selects}),
        cands AS (
          SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
          FROM banded a JOIN banded b
            ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id)
        SELECT id1, id2,
               round(({agree}) / {float(num_hashes)}, 6) AS est_jaccard
        FROM cands
        JOIN sigs s1 ON s1.doc_id = id1
        JOIN sigs s2 ON s2.doc_id = id2
        WHERE ({agree}) / {float(num_hashes)} >= {threshold}
    """


def _simhash_oracle_sql(max_hamming: int = 6, bands: int = 4) -> str:
    bits = 60
    band_bits = 64 // bands
    mask = (1 << band_bits) - 1
    h = _MD5LONG.format(v="w")
    votes = ",\n                ".join(
        f"sum(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS v{b}"
        for b in range(bits)
    )
    sig = " + ".join(
        f"(CASE WHEN v{b} > 0 THEN (CAST(1 AS BIGINT) << {b}) ELSE 0 END)"
        for b in range(bits)
    )
    band_selects = "\n            UNION ALL ".join(
        f"SELECT doc_id, simhash, {bi} AS band, "
        f"(simhash >> {bi * band_bits}) & {mask} AS chunk FROM sigs"
        for bi in range(bands)
    )
    return f"""
        WITH tok AS (
          SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\\s+')) AS w
          FROM documents WHERE trim(text) <> ''),
        hashes AS (SELECT doc_id, {h} AS h FROM tok),
        votes AS (SELECT doc_id, {votes} FROM hashes GROUP BY doc_id),
        sigs AS (SELECT doc_id, {sig} AS simhash FROM votes),
        banded AS ({band_selects}),
        pairs AS (
          SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2,
                 bit_count(xor(a.simhash, b.simhash)) AS hamming
          FROM banded a JOIN banded b
            ON a.band = b.band AND a.chunk = b.chunk AND a.doc_id < b.doc_id)
        SELECT id1, id2, hamming FROM pairs WHERE hamming <= {max_hamming}
    """


def _simhash_incremental_oracle_sql(
    max_hamming: int = 6, bands: int = 4
) -> str:
    """Twin of training.dedup.simhash_incremental over the
    q_simhash_incremental fixture (new batch = doc_id%5==0, id+1e6,
    ' qq7' appended): the proven SimHash vote SQL computes BOTH
    signature sets, the band join is restricted to new x seen, and the
    exact popcount filters — exactly as the engine."""
    bits = 60
    band_bits = 64 // bands
    mask = (1 << band_bits) - 1
    h = _MD5LONG.format(v="w")
    votes = ",\n                ".join(
        f"sum(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS v{b}"
        for b in range(bits)
    )
    sig = " + ".join(
        f"(CASE WHEN v{b} > 0 THEN (CAST(1 AS BIGINT) << {b}) ELSE 0 END)"
        for b in range(bits)
    )

    def band_selects(src: str) -> str:
        return "\n            UNION ALL ".join(
            f"SELECT id, simhash, {bi} AS band, "
            f"(simhash >> {bi * band_bits}) & {mask} AS chunk FROM {src}"
            for bi in range(bands)
        )

    return f"""
        WITH seen_docs AS (
          SELECT doc_id AS id, text FROM documents),
        new_docs AS (
          SELECT doc_id + 1000000 AS id, text || ' qq7' AS text
          FROM documents WHERE doc_id % 5 = 0),
        tok_seen AS (
          SELECT id, unnest(string_split_regex(trim(lower(text)), '\\s+')) AS w
          FROM seen_docs WHERE trim(text) <> ''),
        tok_new AS (
          SELECT id, unnest(string_split_regex(trim(lower(text)), '\\s+')) AS w
          FROM new_docs WHERE trim(text) <> ''),
        hashes_seen AS (SELECT id, {h} AS h FROM tok_seen),
        hashes_new AS (SELECT id, {h} AS h FROM tok_new),
        votes_seen AS (SELECT id, {votes} FROM hashes_seen GROUP BY id),
        votes_new AS (SELECT id, {votes} FROM hashes_new GROUP BY id),
        sigs_seen AS (SELECT id, {sig} AS simhash FROM votes_seen),
        sigs_new AS (SELECT id, {sig} AS simhash FROM votes_new),
        banded_seen AS ({band_selects("sigs_seen")}),
        banded_new AS ({band_selects("sigs_new")}),
        pairs AS (
          SELECT DISTINCT a.id AS new_id, b.id AS seen_id,
                 bit_count(xor(a.simhash, b.simhash)) AS hamming
          FROM banded_new a JOIN banded_seen b
            ON a.band = b.band AND a.chunk = b.chunk)
        SELECT new_id, seen_id, hamming
        FROM pairs WHERE hamming <= {max_hamming}
    """


def _plane_sql_literal(plane) -> str:
    return "[" + ", ".join(repr(float(v)) for v in plane) + "]::DOUBLE[]"


def _lsh_bucket_sql(vec: str, planes) -> str:
    """Sign-LSH bucket id as SQL — same fold-left dot order as the engine."""
    terms = []
    for i, plane in enumerate(planes):
        dot = (
            f"list_sum([CAST({vec}[i] AS DOUBLE) * ({_plane_sql_literal(plane)})[i] "
            f"for i in generate_series(1, len({vec}))])"
        )
        terms.append(f"(CASE WHEN {dot} > 0 THEN {1 << i} ELSE 0 END)")
    return "(" + " + ".join(terms) + ")"


_COS_SQL = """round(
      list_sum([CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)
                for i in generate_series(1, len({a}))])
      / (sqrt(list_sum([CAST({a}[i] AS DOUBLE) * CAST({a}[i] AS DOUBLE)
                for i in generate_series(1, len({a}))]))
         * sqrt(list_sum([CAST({b}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)
                for i in generate_series(1, len({b}))]))), 6)"""


_COS_RAW_SQL = """(
      list_sum([CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)
                for i in generate_series(1, len({a}))])
      / (sqrt(list_sum([CAST({a}[i] AS DOUBLE) * CAST({a}[i] AS DOUBLE)
                for i in generate_series(1, len({a}))]))
         * sqrt(list_sum([CAST({b}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)
                for i in generate_series(1, len({b}))]))))"""


def _ivf_topk_oracle_sql(
    n_centroids: int = 16, nprobe: int = 4, k: int = 10, seed: int = 42
) -> str:
    """Twin of training.similarity.ivf_topk: same seeded md5 centroid
    sample, same max-cosine assignment (fold-left dots are bit-identical
    across engines), same probe set, same exact re-rank."""
    probe_cos = _COS_RAW_SQL.format(a="cvec", b="qv")
    assign_cos = _COS_RAW_SQL.format(a="e.embedding", b="c.cvec")
    final_cos = _COS_SQL.format(a="embedding", b="qv")
    return f"""
        WITH cents AS (
          SELECT vec_id AS cid, embedding AS cvec
          FROM embeddings
          ORDER BY md5('{seed}-' || CAST(vec_id AS VARCHAR))
          LIMIT {n_centroids}),
        q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
        probe AS (
          SELECT cid FROM cents, q
          ORDER BY {probe_cos} DESC, cid LIMIT {nprobe}),
        ranked AS (
          SELECT e.vec_id, e.embedding, c.cid,
                 row_number() OVER (PARTITION BY e.vec_id
                     ORDER BY {assign_cos} DESC, c.cid) AS rn
          FROM embeddings e CROSS JOIN cents c),
        cands AS (
          SELECT r.vec_id, r.embedding
          FROM ranked r JOIN probe p USING (cid) WHERE r.rn = 1)
        SELECT vec_id, {final_cos} AS cosine
        FROM cands, q
        ORDER BY cosine DESC, vec_id LIMIT {k}
    """


def _kmeans_oracle_sql(
    k: int = 8, iterations: int = 2, seed: int = 42, dim: int = 64,
    src_filter: str = "", src_rel: str | None = None,
    emit: str = "assign",
) -> str:
    """Twin of training.clustering kmeans_fit+assign: same md5-ordered
    init, same micro-unit snapping (integer sums are order-independent,
    centroid means bit-identical), Lloyd iterations unrolled as CTE
    pairs (assign_i, cent_{i+1}); empty clusters coalesce to the previous
    centroid exactly like the engine. ``src_filter`` (an optional WHERE
    clause) restricts the source rows — the recall harness clusters a
    capped sample. ``src_rel`` replaces the whole source relation (an
    aliased subquery exposing vec_id + embedding) — the planted-dup
    harness unions scaled copies in."""
    src = src_rel if src_rel is not None else f"embeddings {src_filter}"
    sqdist = (
        f"list_sum([(v[i] - cent[i]) * (v[i] - cent[i]) "
        f"for i in generate_series(1, {dim})])"
    )
    ctes = [
        f"""sv AS (
          SELECT vec_id,
                 list_transform(embedding,
                                x -> round(CAST(x AS DOUBLE) * 1000000.0)) AS v
          FROM {src})""",
        f"""cent0 AS (
          SELECT row_number() OVER (
                   ORDER BY md5('{seed}-' || CAST(vec_id AS VARCHAR))) - 1 AS c,
                 list_transform(embedding,
                                x -> round(CAST(x AS DOUBLE) * 1000000.0)) AS cent
          FROM {src}
          ORDER BY md5('{seed}-' || CAST(vec_id AS VARCHAR))
          LIMIT {k})""",
        f"js AS (SELECT unnest(generate_series(1, {dim})) AS j)",
    ]
    for it in range(iterations):
        ctes.append(
            f"""assign{it} AS (
          SELECT vec_id, c FROM (
            SELECT sv.vec_id, c0.c,
                   row_number() OVER (PARTITION BY sv.vec_id
                     ORDER BY {sqdist}, c0.c) AS rn
            FROM sv, cent{it} c0)
          WHERE rn = 1)"""
        )
        ctes.append(
            f"""mean{it} AS (
          SELECT a.c, j, sum(v[j]) / count(*) AS m
          FROM assign{it} a JOIN sv USING (vec_id), js
          GROUP BY a.c, j)"""
        )
        ctes.append(
            f"""cent{it + 1} AS (
          SELECT p.c,
                 coalesce(n.cent, p.cent) AS cent
          FROM cent{it} p LEFT JOIN
               (SELECT c, list(m ORDER BY j) AS cent FROM mean{it} GROUP BY c) n
               USING (c))"""
        )
    body = ",\n        ".join(ctes)
    if emit == "centroids":
        # final fitted centroids (micro units) — the incremental lane
        # assigns NEW batches against these without re-running Lloyd
        return f"""
        WITH {body}
        SELECT c, cent FROM cent{iterations}
    """
    return f"""
        WITH {body}
        SELECT vec_id, c AS cluster FROM (
          SELECT sv.vec_id, c0.c,
                 row_number() OVER (PARTITION BY sv.vec_id
                   ORDER BY {sqdist}, c0.c) AS rn
          FROM sv, cent{iterations} c0)
        WHERE rn = 1
    """


def _pq_topk_oracle_sql(
    m: int = 4, ks: int = 8, k: int = 12, seed: int = 42, dim: int = 64
) -> str:
    """Twin of training.similarity.pq_topk: same md5-ordered codebook
    sample, same per-subspace argmin encode (ties on lower code), same
    query LUT distances, same fixed-order ADC sum — every distance a
    left-to-right fold, so rankings match bit-for-bit."""
    sub = dim // m
    js = ", ".join(str(j) for j in range(m))
    d_terms = " + ".join(f"d{j}" for j in range(m))
    # fixed-order sum ((d0 + d1) + d2) + d3 — mirrors the engine's Column
    # `+` chain exactly
    adc = "d0"
    for j in range(1, m):
        adc = f"({adc} + d{j})"
    pivots = ",\n                 ".join(
        f"max(CASE WHEN e.j = {j} THEN l.d END) AS d{j}" for j in range(m)
    )
    sqdist = (
        f"list_sum([(v[i] - c[i]) * (v[i] - c[i]) "
        f"for i in generate_series(1, {sub})])"
    )
    qdist = (
        f"list_sum([(qv[i] - c[i]) * (qv[i] - c[i]) "
        f"for i in generate_series(1, {sub})])"
    )
    return f"""
        WITH cb AS (
          SELECT row_number() OVER (
                   ORDER BY md5('{seed}-' || CAST(vec_id AS VARCHAR))) - 1 AS cidx,
                 embedding AS cvec
          FROM embeddings
          ORDER BY md5('{seed}-' || CAST(vec_id AS VARCHAR))
          LIMIT {ks}),
        js AS (SELECT unnest([{js}]) AS j),
        subc AS (
          SELECT cidx, j,
                 list_transform(list_slice(cvec, j * {sub} + 1, j * {sub} + {sub}),
                                x -> CAST(x AS DOUBLE)) AS c
          FROM cb, js),
        vs AS (
          SELECT vec_id, j,
                 list_transform(list_slice(embedding, j * {sub} + 1, j * {sub} + {sub}),
                                x -> CAST(x AS DOUBLE)) AS v
          FROM embeddings, js),
        enc AS (
          SELECT vec_id, j, cidx AS code FROM (
            SELECT vs.vec_id, vs.j, s.cidx,
                   row_number() OVER (PARTITION BY vs.vec_id, vs.j
                     ORDER BY {sqdist}, s.cidx) AS rn
            FROM vs JOIN subc s USING (j))
          WHERE rn = 1),
        q AS (SELECT j, list_transform(list_slice(embedding, j * {sub} + 1,
                                                  j * {sub} + {sub}),
                                       x -> CAST(x AS DOUBLE)) AS qv
              FROM embeddings, js WHERE vec_id = 0),
        lut AS (
          SELECT s.j, s.cidx, {qdist} AS d
          FROM subc s JOIN q USING (j)),
        sc AS (
          SELECT e.vec_id,
                 {pivots}
          FROM enc e JOIN lut l ON e.j = l.j AND e.code = l.cidx
          GROUP BY e.vec_id)
        SELECT vec_id, round({adc}, 6) AS adc
        FROM sc ORDER BY {adc}, vec_id LIMIT {k}
    """


_NGRAM_JACCARD_PAIRS_SQL = """
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
    SELECT id1, id2
    FROM inter
    JOIN sizes s1 ON s1.doc_id = id1
    JOIN sizes s2 ON s2.doc_id = id2
    WHERE CAST(i AS DOUBLE) / (s1.sz + s2.sz - i) >= {threshold}
"""


def _dedup_recall_oracle_sql(threshold: float = 0.2) -> str:
    """Twin of training.dedup.dedup_pair_recall over the ngram_jaccard /
    minhash_near_dups configs: the exact and approximate branches reuse
    those gates' own proven oracles, so the measured recall/precision is
    itself oracle-derived."""
    exact = _NGRAM_JACCARD_PAIRS_SQL.format(threshold=threshold)
    approx = _minhash_oracle_sql(threshold=threshold)
    return f"""
        WITH e AS (SELECT id1, id2 FROM ({exact}) t),
        a AS (SELECT id1, id2 FROM ({approx}) t),
        ec AS (SELECT CAST(count(*) AS BIGINT) AS true_pairs FROM e),
        ac AS (SELECT CAST(count(*) AS BIGINT) AS cand_pairs FROM a),
        h AS (SELECT CAST(count(*) AS BIGINT) AS hits
              FROM a JOIN e USING (id1, id2))
        SELECT true_pairs, cand_pairs, hits,
               CASE WHEN true_pairs = 0 THEN NULL
                    ELSE round(CAST(hits AS DOUBLE) / true_pairs, 6)
               END AS recall,
               CASE WHEN cand_pairs = 0 THEN NULL
                    ELSE round(CAST(hits AS DOUBLE) / cand_pairs, 6)
               END AS "precision"
        FROM ec, ac, h
    """


def _ivf_index_search_oracle_sql(
    query_ids=(0, 1, 2),
    n_centroids: int = 16,
    nprobe: int = 4,
    k: int = 5,
    seed: int = 42,
) -> str:
    """Twin of training.similarity.ivf_index + ivf_search_batch: same
    seeded centroid sample, same rank-based assignment and per-query
    probe selection, same round-then-rank re-rank."""
    probe_cos = _COS_RAW_SQL.format(a="c.cvec", b="q.qv")
    assign_cos = _COS_RAW_SQL.format(a="e.embedding", b="c.cvec")
    final_cos = _COS_SQL.format(a="a.embedding", b="p.qv")
    ids = ", ".join(str(int(i)) for i in query_ids)
    return f"""
        WITH cents AS (
          SELECT vec_id AS cid, embedding AS cvec
          FROM embeddings
          ORDER BY md5('{seed}-' || CAST(vec_id AS VARCHAR))
          LIMIT {n_centroids}),
        qs AS (SELECT vec_id AS query_id, embedding AS qv
               FROM embeddings WHERE vec_id IN ({ids})),
        probe AS (
          SELECT query_id, qv, cid FROM (
            SELECT q.query_id, q.qv, c.cid,
                   row_number() OVER (PARTITION BY q.query_id
                     ORDER BY {probe_cos} DESC, c.cid) AS rn
            FROM qs q CROSS JOIN cents c)
          WHERE rn <= {nprobe}),
        ranked AS (
          SELECT e.vec_id, e.embedding, c.cid,
                 row_number() OVER (PARTITION BY e.vec_id
                     ORDER BY {assign_cos} DESC, c.cid) AS rn
          FROM embeddings e CROSS JOIN cents c),
        assigned AS (SELECT vec_id, embedding, cid FROM ranked WHERE rn = 1),
        sc AS (
          SELECT p.query_id, a.vec_id, {final_cos} AS cosine
          FROM assigned a JOIN probe p USING (cid))
        SELECT query_id, vec_id, cosine
        FROM (SELECT *, row_number() OVER (
                PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rn
              FROM sc)
        WHERE rn <= {k}
    """


def _cosine_topk_batch_oracle_sql(query_ids=(0, 1, 2), k: int = 5) -> str:
    """Twin of training.similarity.cosine_topk_batch: one cross join of
    the corpus with the query CTE, same round-then-rank contract."""
    cos = _COS_SQL.format(a="e.embedding", b="qe")
    ids = ", ".join(str(int(i)) for i in query_ids)
    return f"""
        WITH q AS (SELECT vec_id AS query_id, embedding AS qe
                   FROM embeddings WHERE vec_id IN ({ids})),
        sc AS (
          SELECT q.query_id, e.vec_id, {cos} AS cosine
          FROM embeddings e, q)
        SELECT query_id, vec_id, cosine
        FROM (SELECT *, row_number() OVER (
                PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rn
              FROM sc)
        WHERE rn <= {k}
    """


def _ann_recall_oracle_sql(k: int = 10) -> str:
    """Twin of training.similarity.ann_recall over the lsh6/ivf16x4
    configs: each branch reuses that method's own oracle as a subquery,
    so the recall numbers are derived from already-proven twins."""
    exact = f"""SELECT vec_id,
              {_COS_SQL.format(a="embedding", b="qe")} AS cosine
          FROM embeddings,
               (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0) q
          ORDER BY cosine DESC, vec_id LIMIT {k}"""
    lsh = _lsh_topk_oracle_sql(n_planes=6, k=k)
    ivf = _ivf_topk_oracle_sql(k=k)
    return f"""
        WITH exact AS (SELECT vec_id FROM ({exact}) t),
        lshq AS (SELECT vec_id FROM ({lsh}) t),
        ivfq AS (SELECT vec_id FROM ({ivf}) t)
        SELECT 'ivf16x4' AS method, CAST(count(*) AS BIGINT) AS hits,
               round(count(*) / {float(k)}, 6) AS recall
        FROM ivfq JOIN exact USING (vec_id)
        UNION ALL
        SELECT 'lsh6', CAST(count(*) AS BIGINT),
               round(count(*) / {float(k)}, 6)
        FROM lshq JOIN exact USING (vec_id)
    """


def _lsh_topk_oracle_sql(n_planes: int = 12, k: int = 10, seed: int = 42) -> str:
    from openeo_processes_dask_spark.training.similarity import (
        random_hyperplanes,
    )

    planes = random_hyperplanes(64, n_planes, seed)
    bucket_e = _lsh_bucket_sql("e.embedding", planes)
    bucket_q = _lsh_bucket_sql("q.embedding", planes)
    cos = _COS_SQL.format(a="e.embedding", b="q.embedding")
    return f"""
        WITH q AS (SELECT embedding FROM embeddings WHERE vec_id = 0)
        SELECT e.vec_id, {cos} AS cosine
        FROM embeddings e, q
        WHERE {bucket_e} = {bucket_q}
        ORDER BY cosine DESC, e.vec_id LIMIT {k}
    """


class _SqlExpr:
    """SQL-text expression node: lets the shared Krüger-series formula
    (functions/crs.py `_tm_forward`, generic over an ops namespace) emit
    its DuckDB oracle directly — one formula, three lanes (Column, scalar,
    SQL)."""

    def __init__(self, s: str):
        self.s = s

    def _b(self, op, o):
        o = o.s if isinstance(o, _SqlExpr) else repr(float(o))
        return _SqlExpr(f"({self.s} {op} {o})")

    __add__ = lambda self, o: self._b("+", o)  # noqa: E731
    __sub__ = lambda self, o: self._b("-", o)  # noqa: E731
    __mul__ = lambda self, o: self._b("*", o)  # noqa: E731
    __truediv__ = lambda self, o: self._b("/", o)  # noqa: E731


def _sql_fn(name):
    def call(x):
        return _SqlExpr(f"{name}({x.s})")

    return staticmethod(call)


class _SqlOps:
    sin = _sql_fn("sin")
    cos = _sql_fn("cos")
    atan = _sql_fn("atan")
    asin = _sql_fn("asin")
    sqrt = _sql_fn("sqrt")
    log = _sql_fn("ln")
    exp = _sql_fn("exp")

    # DuckDB has no sinh/cosh builtins — exponential identities; the JVM
    # builtins differ only in the last ulp, absorbed by the gate's round(2)
    @staticmethod
    def sinh(x):
        return _SqlExpr(f"((exp({x.s}) - exp(-({x.s}))) / 2.0)")

    @staticmethod
    def cosh(x):
        return _SqlExpr(f"((exp({x.s}) + exp(-({x.s}))) / 2.0)")

    @staticmethod
    def atan2(a, b):
        return _SqlExpr(f"atan2({a.s}, {b.s})")

    @staticmethod
    def lit(v):
        return _SqlExpr(repr(float(v)))

    @staticmethod
    def atanh(x):
        return _SqlExpr(f"(0.5 * ln((1.0 + {x.s}) / (1.0 - {x.s})))")


_KERNEL_SQL = {
    # weight CASE bodies over the inlined distance expression {d}; op order
    # mirrors the engine's Column polynomials exactly (bit-identical for
    # the polynomial kernels; lanczos differs only in libm sin() ulps,
    # absorbed by the gate's round(6))
    "cubic": (
        "(-1), (0), (1), (2)",
        "CASE WHEN {d} <= 1.0"
        " THEN ((1.5 * {d} - 2.5) * {d} * {d} + 1.0)"
        " WHEN {d} < 2.0"
        " THEN (((-0.5 * {d} + 2.5) * {d} - 4.0) * {d} + 2.0)"
        " ELSE 0.0 END",
    ),
    "cubicspline": (
        "(-1), (0), (1), (2)",
        "CASE WHEN {d} <= 1.0"
        " THEN (2.0 / 3.0 - {d} * {d} + {d} * {d} * {d} * 0.5)"
        " WHEN {d} < 2.0"
        " THEN ((2.0 - {d}) * (2.0 - {d}) * (2.0 - {d}) / 6.0)"
        " ELSE 0.0 END",
    ),
    "lanczos": (
        "(-2), (-1), (0), (1), (2), (3)",
        "CASE WHEN {d} = 0.0 THEN 1.0"
        " WHEN {d} < 3.0"
        " THEN ((3.0 * sin(3.141592653589793 * {d})"
        " * sin(3.141592653589793 * {d} / 3.0))"
        " / (9.869604401089358 * {d} * {d}))"
        " ELSE 0.0 END",
    ),
    "gauss": (
        "(-2), (-1), (0), (1), (2), (3)",
        "CASE WHEN {d} < 3.0 THEN exp(-({d} * {d}) / 2.0) ELSE 0.0 END",
    ),
}


def _resample_kernel_oracle_sql(kernel: str, res: float = 2.5) -> str:
    """Twin of the convolution resample gates: same geometry probe as the
    bilinear oracle, kernel taps per axis with edge-clamped indices; the
    kernel polynomial is written with the engine's exact op order so
    weights are bit-identical (lanczos: last-ulp libm, under round(6))."""
    tap_vals, weight_tpl = _KERNEL_SQL[kernel]

    def axis(ax, tcol, wcol, gx):
        d = f"abs(o.d - t.{wcol})"
        weight = weight_tpl.format(d=d)
        return f"""
            map{ax} AS (
              SELECT t.t{ax},
                     {gx}.o + greatest(0, least(t.i0 + o.d, {gx}.n - 1))
                       * {gx}.s AS s{ax},
                     {weight} AS w{ax}v
              FROM (SELECT t{ax},
                           least(floor((t{ax} - {gx}.o) / {gx}.s),
                                 {gx}.n - 2) AS i0,
                           (t{ax} - {gx}.o) / {gx}.s
                             - least(floor((t{ax} - {gx}.o) / {gx}.s),
                                     {gx}.n - 2) AS {wcol}
                    FROM (SELECT {gx}.o + k.generate_series * {res} AS t{ax}
                          FROM generate_series(0, 100000) k, {gx}
                          WHERE k.generate_series
                                <= floor(({gx}.m - {gx}.o) / {res} + 1e-9)),
                         {gx}) t,
                   {gx}, (VALUES {tap_vals}) o(d)
              WHERE {weight} != 0)"""

    return f"""
        WITH {_GRID_CTE},
        gx AS (SELECT min(v) AS o, max(v) AS m,
                      min(CASE WHEN d > 0 THEN d END) AS s, count(*) AS n
               FROM (SELECT v, v - lag(v) OVER (ORDER BY v) AS d
                     FROM (SELECT DISTINCT x AS v FROM grid))),
        gy AS (SELECT min(v) AS o, max(v) AS m,
                      min(CASE WHEN d > 0 THEN d END) AS s, count(*) AS n
               FROM (SELECT v, v - lag(v) OVER (ORDER BY v) AS d
                     FROM (SELECT DISTINCT y AS v FROM grid))),
        {axis('x', 'tx', 'wx', 'gx')},
        {axis('y', 'ty', 'wy', 'gy')},
        mapping AS (
          SELECT tx, ty, sx, sy, wxv * wyv AS w
          FROM mapx CROSS JOIN mapy)
        SELECT m.tx AS x, m.ty AS y, g.band,
               round(sum(m.w * g.value) / sum(m.w) + 1e-9, 6) AS value
        FROM grid g JOIN mapping m ON g.x = m.sx AND g.y = m.sy
        GROUP BY 1, 2, 3
    """


def _dedup_clusters_oracle_sql() -> str:
    """Twin of q_dedup_clusters: the minhash pair SQL becomes a nested CTE,
    then a recursive transitive closure takes the per-node minimum
    reachable id — exact connected components."""
    mh = _minhash_oracle_sql()
    return f"""
        WITH RECURSIVE mh AS ({mh}),
        edges AS (
          SELECT id1 AS u, id2 AS v FROM mh
          UNION SELECT id2, id1 FROM mh),
        reach(a, b) AS (
          SELECT u, v FROM edges
          UNION
          SELECT r.a, e.v FROM reach r JOIN edges e ON r.b = e.u),
        comp AS (
          SELECT a AS id, least(a, min(b)) AS comp FROM reach GROUP BY a)
        SELECT id, comp FROM comp ORDER BY id
    """


def _crs_utm_oracle_sql() -> str:
    from openeo_processes_dask_spark.functions.crs import _tm_forward

    lon = _SqlExpr("((x / 10.0) + 7.5)")
    lat = _SqlExpr("((y / 10.0) + 45.0)")
    e, n = _tm_forward(_SqlOps, lat, lon, 9.0, True)
    return f"""
        WITH {_GRID_CTE}
        SELECT x, y, band, round({e.s}, 2) AS easting,
               round({n.s}, 2) AS northing
        FROM grid
    """


def _crs_laea_oracle_sql() -> str:
    from openeo_processes_dask_spark.functions.crs import _laea_forward

    lon = _SqlExpr("((x / 10.0) + 7.5)")
    lat = _SqlExpr("((y / 10.0) + 45.0)")
    e, n = _laea_forward(_SqlOps, lat, lon)
    return f"""
        WITH {_GRID_CTE}
        SELECT x, y, band, round({e.s}, 2) AS easting,
               round({n.s}, 2) AS northing
        FROM grid
    """


def _crs_stereo_oracle_sql() -> str:
    """Twin of q_crs_stereo: the SAME generic polar-stereographic bodies
    (functions/crs.py _ps_forward, EPSG Guidance 7-2 Variant B) emitted
    as DuckDB SQL through the _SqlOps shim."""
    from openeo_processes_dask_spark.functions.crs import _ps_forward

    lon = _SqlExpr("((x * 12.0) - 174.0)")
    lat_s = _SqlExpr("((y * 1.5) - 85.0)")
    lat_n = _SqlExpr("((y * 2.0) + 65.0)")
    es, ns = _ps_forward(_SqlOps, lat_s, lon, "EPSG:3031")
    en, nn = _ps_forward(_SqlOps, lat_n, lon, "EPSG:3413")
    return f"""
        WITH {_GRID_CTE}
        SELECT x, y, band,
               round({es.s}, 2) AS e_antarctic,
               round({ns.s}, 2) AS n_antarctic,
               round({en.s}, 2) AS e_arctic,
               round({nn.s}, 2) AS n_arctic
        FROM grid
    """


def _multimodal_features_oracle_sql(n: int = 64, w: int = 16, h: int = 12) -> str:
    """Expected image features computed independently in NumPy from the
    shared deterministic fake decode (PCG64 is not SQL-expressible, so the
    oracle bakes the expected values rather than re-deriving them in SQL —
    same move as the exported forest rules)."""
    import hashlib as _hl

    from openeo_processes_dask_spark.training.multimodal import _fake_decode

    rows = []
    for i in range(n):
        payload = _hl.sha256(f"img-{i}".encode()).digest() * 4
        img = _fake_decode(payload, w, h)
        mean = float(img.astype("float64").mean())
        rows.append(f"({i}, {w}, {h}, 3, {round(mean, 6)!r})")
    vals = ", ".join(rows)
    return f"""
        SELECT CAST(doc_id AS BIGINT) AS doc_id, CAST(width AS INT) AS width,
               CAST(height AS INT) AS height, CAST(channels AS INT) AS channels,
               CAST(mean_intensity AS DOUBLE) AS mean_intensity
        FROM (VALUES {vals}) AS t(doc_id, width, height, channels, mean_intensity)
    """


def _multimodal_resize_oracle_sql(
    n: int = 32, w: int = 16, h: int = 12, tw: int = 8, th: int = 8
) -> str:
    """Byte-exact resize digests: same integer-index nearest-neighbor math
    as training.multimodal.resize_images, md5'd independently."""
    import hashlib as _hl

    import numpy as np

    from openeo_processes_dask_spark.training.multimodal import _fake_decode

    rows = []
    yi = (np.arange(th) * h) // th
    xi = (np.arange(tw) * w) // tw
    for i in range(n):
        payload = _hl.sha256(f"img-{i}".encode()).digest() * 4
        img = _fake_decode(payload, w, h)
        digest = _hl.md5(img[yi][:, xi].tobytes()).hexdigest()
        rows.append(f"({i}, {tw}, {th}, '{digest}')")
    vals = ", ".join(rows)
    return f"""
        SELECT CAST(doc_id AS BIGINT) AS doc_id, CAST(width AS INT) AS width,
               CAST(height AS INT) AS height, digest
        FROM (VALUES {vals}) AS t(doc_id, width, height, digest)
    """


def _multimodal_av_oracle_sql(
    n: int = 8, n_frames: int = 30, vw: int = 8, vh: int = 6,
    every_n: int = 10, sample_rate: int = 8000, n_samples: int = 4000,
) -> str:
    """Expected frame means + FFT spectral centroids, recomputed
    independently from the deterministic fake decodes."""
    import hashlib as _hl

    import numpy as np

    from openeo_processes_dask_spark.training.multimodal import (
        _fake_decode_audio,
        _fake_decode_video,
    )

    rows = []
    for i in range(n):
        payload = _hl.sha256(f"vid-{i}".encode()).digest() * 2
        vid = _fake_decode_video(payload, n_frames, vw, vh)
        for idx in range(0, n_frames, every_n):
            v = float(vid[idx].astype("float64").mean())
            rows.append(f"({i}, {idx}, {round(v, 6)!r})")
    for i in range(n):
        payload = _hl.sha256(f"aud-{i}".encode()).digest() * 2
        y = _fake_decode_audio(payload, n_samples).astype("float64")
        spec = np.abs(np.fft.rfft(y))
        freqs = np.fft.rfftfreq(len(y), d=1.0 / sample_rate)
        centroid = float((freqs * spec).sum() / spec.sum())
        rows.append(f"({i}, -1, {round(centroid, 6)!r})")
    vals = ", ".join(rows)
    return f"""
        SELECT CAST(doc_id AS BIGINT) AS doc_id, CAST(idx AS INT) AS idx,
               CAST(v AS DOUBLE) AS v
        FROM (VALUES {vals}) AS t(doc_id, idx, v)
    """


def _random_forest_oracle_sql(
    num_trees: int = 8, max_depth: int = 5, min_leaf: int = 2, seed: int = 42
) -> str:
    """Twin of q_random_forest: re-train the identical seeded CART forest in
    pure NumPy (training is engine-independent given the sorted matrix —
    same _build_tree, same per-tree rng) from the same parquet, then export
    every tree as a SQL CASE chain. DuckDB evaluates the ensemble
    (left-to-right tree sum, matching ForestModel.predict) on the same test
    rows — a full decision-rules oracle, not a row count."""
    import duckdb
    import numpy as np

    from openeo_processes_dask_spark.ml.random_forest import _build_tree

    sf = _oracle_sf_dir()
    con = duckdb.connect()
    pdf = con.sql(
        f"""
        SELECT CAST(o_custkey % 50 AS DOUBLE) AS f1,
               CAST(extract(day FROM o_orderdate) AS DOUBLE) AS f2,
               o_totalprice AS target
        FROM '{sf}/orders.parquet'
        WHERE o_orderkey <= 5000 ORDER BY o_orderkey
        """
    ).df()
    X = pdf[["f1", "f2"]].to_numpy(dtype="float64")
    y = pdf["target"].to_numpy(dtype="float64")
    n_feat = max(1, int(np.sqrt(X.shape[1])))
    trees = []
    for t in range(num_trees):
        rng = np.random.default_rng(seed + t)
        boot = rng.integers(0, len(y), size=len(y))
        trees.append(
            _build_tree(X[boot], y[boot], rng, max_depth, min_leaf, n_feat)
        )

    feats = ["f1", "f2"]

    def tsql(node):
        if "leaf" in node:
            return repr(node["leaf"])
        return (
            f"(CASE WHEN {feats[node['f']]} <= {node['thr']!r} "
            f"THEN {tsql(node['l'])} ELSE {tsql(node['r'])} END)"
        )

    acc = tsql(trees[0])
    for t in trees[1:]:
        acc = f"({acc} + {tsql(t)})"
    return f"""
        SELECT CAST(o_custkey % 50 AS DOUBLE) AS f1,
               CAST(extract(day FROM o_orderdate) AS DOUBLE) AS f2,
               round({acc} / {num_trees}, 4) AS prediction
        FROM orders WHERE o_orderkey <= 500
    """


def _rf_xgb_oracle_sql(
    num_trees: int = 8, max_depth: int = 5, min_leaf: int = 2, seed: int = 42
) -> str:
    """Twin of q_rf_xgb_roundtrip: identical NumPy re-train (same seeded
    bootstrap over the o_orderkey-sorted matrix as _random_forest_oracle_
    sql), then through the SAME xgboost-JSON export and the SQL compiler —
    the interchange document itself is the shared artifact under test."""
    import duckdb
    import numpy as np

    from openeo_processes_dask_spark.ml.random_forest import (
        ForestModel,
        _build_tree,
    )
    from openeo_processes_dask_spark.ml.xgb_interchange import (
        forest_to_xgboost_json,
        xgboost_json_to_sql,
    )

    sf = _oracle_sf_dir()
    con = duckdb.connect()
    pdf = con.sql(
        f"""
        SELECT CAST(o_custkey % 50 AS DOUBLE) AS f1,
               CAST(extract(day FROM o_orderdate) AS DOUBLE) AS f2,
               o_totalprice AS target
        FROM '{sf}/orders.parquet'
        WHERE o_orderkey <= 5000 ORDER BY o_orderkey
        """
    ).df()
    X = pdf[["f1", "f2"]].to_numpy(dtype="float64")
    y = pdf["target"].to_numpy(dtype="float64")
    n_feat = max(1, int(np.sqrt(X.shape[1])))
    trees = []
    for t in range(num_trees):
        rng = np.random.default_rng(seed + t)
        boot = rng.integers(0, len(y), size=len(y))
        trees.append(
            _build_tree(X[boot], y[boot], rng, max_depth, min_leaf, n_feat)
        )
    doc = forest_to_xgboost_json(ForestModel(trees, ["f1", "f2"]))
    expr = xgboost_json_to_sql(doc)
    return f"""
        SELECT CAST(o_custkey % 50 AS DOUBLE) AS f1,
               CAST(extract(day FROM o_orderdate) AS DOUBLE) AS f2,
               round({expr}, 4) AS prediction
        FROM orders WHERE o_orderkey <= 500
    """


def _embedding_near_dups_oracle_sql(
    threshold: float = 0.2,
    n_planes: int = 4,
    n_bands: int = 2,
    seed: int = 42,
) -> str:
    """Banded sign-LSH twin: per-band bucket columns, candidates = pairs
    colliding in >=1 band, exact cosine verify."""
    from openeo_processes_dask_spark.training.similarity import (
        random_hyperplanes,
    )

    planes = random_hyperplanes(64, n_planes * n_bands, seed)
    band_cols = ", ".join(
        f"{_lsh_bucket_sql('embedding', planes[b * n_planes:(b + 1) * n_planes])} AS b{b}"
        for b in range(n_bands)
    )
    any_band = " OR ".join(f"a.b{b} = b.b{b}" for b in range(n_bands))
    cos = _COS_SQL.format(a="a.v", b="b.v")
    return f"""
        WITH tagged AS (
          SELECT vec_id AS id, embedding AS v, {band_cols}
          FROM embeddings)
        SELECT a.id AS id1, b.id AS id2, {cos} AS cosine
        FROM tagged a JOIN tagged b
          ON ({any_band}) AND a.id < b.id
        WHERE {cos} >= {threshold}
    """


def _random_projection_oracle_sql(
    in_dim: int = 64, out_dim: int = 8, seed: int = 42
) -> str:
    """SQL twin of training.similarity.random_projection: same md5-seeded
    ±1 matrix (regenerated here), same literal 1/sqrt(out_dim) scale
    (repr'd Python double on both engines — letting DuckDB compute
    1/sqrt(8) itself could differ by one ulp from Python's
    double-rounding), same index-order sum."""
    import math

    from openeo_processes_dask_spark.training.similarity import (
        sign_projection_matrix,
    )

    mat = sign_projection_matrix(in_dim, out_dim, seed)
    scale = 1.0 / math.sqrt(out_dim)
    selects = []
    for j in range(out_dim):
        signs = ", ".join(str(int(v)) for v in mat[:, j])
        selects.append(
            f"SELECT vec_id, {j} AS j,\n"
            f"       round(list_sum(list_transform(generate_series(1, {in_dim}),\n"
            f"             i -> CAST(embedding[i] AS DOUBLE) * ([{signs}])[i]))\n"
            f"             * {scale!r}, 6) AS pval\n"
            "FROM embeddings"
        )
    return "\nUNION ALL ".join(selects)


def _logreg_quality_oracle_sql(
    dim: int = 32, iterations: int = 3, lr: float = 1.0
) -> str:
    """Twin of q_logreg_quality: re-train the identical integer-micro
    logistic regression sequentially in Python (training/classifier.py is
    deterministic and partitioning-independent — test_logreg_matches_
    numpy_exactly proves the engine matches this exact replay), then emit
    the learned micro-unit weights as a VALUES table for a sparse-dot +
    sigmoid SQL evaluation."""
    import hashlib
    import math

    import duckdb

    sf = _oracle_sf_dir()
    con = duckdb.connect()
    rows = con.sql(
        f"SELECT doc_id, text, lang FROM '{sf}/documents.parquet'"
    ).fetchall()

    cnts: dict = {}
    ys: dict = {}
    for doc_id, text, lang in rows:
        # engine-contract tokenization (_bpe_words = JVM \s+, ASCII):
        # str.split() would also treat NBSP/em-space as separators and
        # silently train divergent weights on such corpora (ADVICE r8)
        toks = _bpe_words(text)
        if not toks:
            continue
        ys[doc_id] = 1.0 if lang == "en" else 0.0
        d = cnts.setdefault(doc_id, {})
        for tok in toks:
            b = int(hashlib.md5(tok.encode()).hexdigest()[:15], 16) % dim
            d[b] = d.get(b, 0) + 1
    n = len(cnts)
    w = [0] * (dim + 1)

    def snap(v):
        return int(math.floor(abs(v) + 0.5) * (1 if v >= 0 else -1))

    for _ in range(iterations):
        g = [0] * (dim + 1)
        for i, d in cnts.items():
            s = w[0] + sum(c * w[1 + b] for b, c in d.items())
            p = 1.0 / (1.0 + math.exp(-s / 1e6))
            gd = snap((p - ys[i]) * 1e6)
            g[0] += gd
            for b, c in d.items():
                g[1 + b] += gd * c
        w = [wi - snap(lr * gi / n) for wi, gi in zip(w, g)]

    vals = ", ".join(f"({b}, {w[1 + b]})" for b in range(dim))
    return f"""
        WITH toks AS (
          SELECT doc_id, unnest(string_split_regex(trim(lower(text)),
                 '\\s+')) AS tok
          FROM documents WHERE trim(text) != ''),
        bk AS (SELECT doc_id,
                      {_MD5LONG.format(v="tok")} % {dim} AS bucket
               FROM toks),
        cnt AS (SELECT doc_id, bucket, count(*) AS cnt
                FROM bk GROUP BY 1, 2),
        wts(bucket, wv) AS (VALUES {vals}),
        s AS (SELECT doc_id, SUM(cnt * wv) + {w[0]} AS s
              FROM cnt JOIN wts USING (bucket) GROUP BY doc_id)
        SELECT doc_id,
               round(1.0 / (1.0 + exp(-s / 1000000.0)), 6) AS score
        FROM s
    """


def _subsequence_topk_oracle_sql(
    pattern=(10.0, 200.0, 10.0, 200.0, 10.0), k: int = 20
) -> str:
    """SQL twin of training.tsearch.subsequence_topk on the events table:
    same z-normalized literal pattern (repr'd Python doubles), same
    windowing (per (user_id, band) series ordered by (ts, event_id)),
    same 6-decimal rounding + tiebreak ordering."""
    from openeo_processes_dask_spark.training.tsearch import _znorm_lit

    m = len(pattern)
    q = _znorm_lit([float(v) for v in pattern])
    q_lit = "[" + ", ".join(repr(v) for v in q) + "]"
    return f"""
        WITH ser AS (
          SELECT user_id, event_type AS band,
                 list(value ORDER BY ts, event_id) AS vals,
                 list(CAST(ts AS TIMESTAMP) ORDER BY ts, event_id) AS tss
          FROM events GROUP BY 1, 2),
        win AS (
          SELECT user_id, band, tss[i] AS t, vals[i:i+{m - 1}] AS w
          FROM ser,
               LATERAL (SELECT unnest(generate_series(1, len(vals) - {m - 1}))
                        AS i)),
        stats AS (
          SELECT user_id, band, t, w,
                 list_sum(w) / {float(m)} AS mu
          FROM win),
        stats2 AS (
          SELECT *, sqrt(list_sum([(x - mu) * (x - mu) FOR x IN w])
                         / {float(m)}) AS sd
          FROM stats),
        zn AS (
          SELECT user_id, band, t,
                 CASE WHEN sd = 0 THEN [0.0 FOR x IN w]
                      ELSE [(x - mu) / sd FOR x IN w] END AS z
          FROM stats2)
        SELECT user_id, band, t,
               round(sqrt(list_sum([(z[i] - ({q_lit})[i])
                                    * (z[i] - ({q_lit})[i])
                                    FOR i IN generate_series(1, {m})])), 6)
                 AS dist
        FROM zn
        ORDER BY dist, user_id, band, t
        LIMIT {k}
    """


def _multimodal_dedup_oracle_sql(n: int = 32, groups: int = 16) -> str:
    """Twin of q_multimodal_dedup: the fixture plants payloads keyed on
    i % groups, so expected digests/keep-ids/copy-counts are computed
    independently in Python (hashlib.md5 == Spark md5 on the same bytes)
    and baked as VALUES — the multimodal-fixture oracle convention."""
    import hashlib as _hl

    rows = {}
    for i in range(n):
        payload = _hl.sha256(f"img-{i % groups}".encode()).digest() * 4
        fp = _hl.md5(payload).hexdigest()
        keep, cnt = rows.get(fp, (i, 0))
        rows[fp] = (min(keep, i), cnt + 1)
    vals = ", ".join(
        f"('{fp}', {keep}, {cnt})" for fp, (keep, cnt) in sorted(rows.items())
    )
    return f"""
        SELECT fingerprint, CAST(keep_id AS BIGINT) AS keep_id,
               CAST(n_copies AS BIGINT) AS n_copies
        FROM (VALUES {vals}) AS t(fingerprint, keep_id, n_copies)
    """


def _corpus_mix_oracle_sql() -> str:
    """Twin of training.sampling.mix_corpus: replays the driver-side rate
    computation (group token totals -> Python round(min(1, budget*w/tot),
    9)) on the same parquet, then inlines the rates as literals so the
    md5-uniform filter is bit-identical. Python rounding is used HERE too
    (not SQL round) so banker's-rounding edge cases cannot diverge."""
    import duckdb

    sf_dir = _oracle_sf_dir()
    weights = {"src0": 0.4, "src1": 0.4, "src2": 0.2}
    budget = 50_000
    totals = dict(
        duckdb.sql(
            f"SELECT source, CAST(sum(n_chars) AS BIGINT) "
            f"FROM '{sf_dir}/documents.parquet' GROUP BY 1"
        ).fetchall()
    )
    cases = []
    for g, w in weights.items():
        tot = totals.get(g, 0)
        if tot:
            r = round(min(1.0, budget * float(w) / tot), 9)
            cases.append(f"WHEN '{g}' THEN {r!r}")
    case_sql = "CASE source " + " ".join(cases) + " ELSE -1.0 END"
    return f"""
        SELECT doc_id, source, n_chars
        FROM documents
        WHERE CAST('0x' || substr(md5('42-' || CAST(doc_id AS VARCHAR)), 1, 15)
                   AS BIGINT) / 1152921504606846976.0
              < {case_sql}
    """


def _pagerank_oracle_sql(
    iterations: int = 4, damping_pct: int = 85, n_mod: int = 101
) -> str:
    """Twin of training.graph.pagerank over the q_pagerank synthetic edge
    list: identical integer micro-unit update rule (floor-divided shares,
    damped integer sums — order-independent, so bit-exact), iterations
    unrolled as CTE pairs. Every arithmetic step casts back to BIGINT so
    DuckDB's hugeint sums don't leak float into the compare."""
    scale = 1_000_000_000_000
    base_pct = 100 - damping_pct
    ctes = [
        f"""edges AS (
          SELECT DISTINCT doc_id % {n_mod} AS src,
                 (doc_id * 7 + 3) % {n_mod} AS dst
          FROM documents)""",
        """nodes AS (
          SELECT src AS node FROM edges UNION SELECT dst FROM edges)""",
        f"""const AS (
          SELECT CAST({scale} // count(*) AS BIGINT) AS init,
                 CAST(({base_pct} * ({scale} // count(*))) // 100 AS BIGINT)
                   AS base
          FROM nodes)""",
        """outdeg AS (
          SELECT src, count(*) AS deg FROM edges GROUP BY src)""",
        """r0 AS (
          SELECT node, (SELECT init FROM const) AS rank FROM nodes)""",
    ]
    for it in range(iterations):
        ctes.append(
            f"""inc{it} AS (
          SELECT e.dst AS node,
                 CAST(sum(r.rank // d.deg) AS BIGINT) AS s
          FROM edges e
          JOIN r{it} r ON e.src = r.node
          JOIN outdeg d ON e.src = d.src
          GROUP BY e.dst)"""
        )
        ctes.append(
            f"""r{it + 1} AS (
          SELECT n.node,
                 CAST((SELECT base FROM const)
                      + ({damping_pct} * coalesce(i.s, 0)) // 100
                      AS BIGINT) AS rank
          FROM nodes n LEFT JOIN inc{it} i ON i.node = n.node)"""
        )
    body = ",\n        ".join(ctes)
    return f"""
        WITH {body}
        SELECT node, rank FROM r{iterations}
    """


def _semdedup_oracle_sql(
    k: int = 8, iterations: int = 2, threshold: float = 0.2, dim: int = 64
) -> str:
    """Twin of training.similarity.semdedup: the unrolled-CTE k-means
    assignment (bit-exact — integer micro-unit Lloyd), within-cluster
    cosine at 6-decimal rounding, recursive transitive closure for the
    components, keep = no above-threshold twin or already the minimum id
    of its group."""
    km = _kmeans_oracle_sql(k=k, iterations=iterations, dim=dim)
    dot = f"list_sum([sa.v[i] * sb.v[i] for i in generate_series(1, {dim})])"
    return f"""
        WITH RECURSIVE asg AS ({km}),
        svd AS (
          SELECT vec_id,
                 list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
          FROM embeddings),
        nrm AS (
          SELECT vec_id,
                 sqrt(list_sum(list_transform(v, x -> x * x))) AS nv
          FROM svd),
        prs AS (
          SELECT a.vec_id AS u, b.vec_id AS w
          FROM asg a
          JOIN asg b ON a.cluster = b.cluster AND a.vec_id < b.vec_id
          JOIN svd sa ON sa.vec_id = a.vec_id
          JOIN svd sb ON sb.vec_id = b.vec_id
          JOIN nrm na ON na.vec_id = a.vec_id
          JOIN nrm nb ON nb.vec_id = b.vec_id
          WHERE round({dot} / (na.nv * nb.nv), 6) >= {threshold}),
        edg AS (SELECT u, w FROM prs UNION SELECT w, u FROM prs),
        reach(a, b) AS (
          SELECT u, w FROM edg
          UNION
          SELECT r.a, e.w FROM reach r JOIN edg e ON r.b = e.u),
        comp AS (
          SELECT a AS id, least(a, min(b)) AS comp FROM reach GROUP BY a)
        SELECT e.vec_id AS id,
               (c.comp IS NULL OR c.comp = e.vec_id) AS keep
        FROM embeddings e LEFT JOIN comp c ON c.id = e.vec_id
    """


def _semdedup_recall_oracle_sql(
    k: int = 8, iterations: int = 2, threshold: float = 0.2,
    dim: int = 64, cap: int = 400, src_rel: str | None = None,
) -> str:
    """Twin of the semantic_dedup_recall gate: brute-force cosine truth
    (all id1 < id2 pairs over the capped sample) vs semdedup's
    within-cluster pair set (the SAME kmeans/prs SQL the proven semdedup
    oracle uses), scored with dedup_pair_recall's count arithmetic.
    ``src_rel`` (an aliased subquery exposing vec_id + embedding)
    replaces the capped embeddings source — the planted-dup positive
    control unions exact copies in."""
    flt = f"WHERE vec_id < {cap}"
    src = src_rel if src_rel is not None else f"embeddings {flt}"
    km = _kmeans_oracle_sql(
        k=k, iterations=iterations, dim=dim, src_rel=src
    )
    dot = f"list_sum([sa.v[i] * sb.v[i] for i in generate_series(1, {dim})])"
    cos = f"round({dot} / (na.nv * nb.nv), 6)"
    return f"""
        WITH asg AS ({km}),
        svd AS (
          SELECT vec_id,
                 list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
          FROM {src}),
        nrm AS (
          SELECT vec_id,
                 sqrt(list_sum(list_transform(v, x -> x * x))) AS nv
          FROM svd),
        allp AS (
          SELECT sa.vec_id AS id1, sb.vec_id AS id2
          FROM svd sa
          JOIN svd sb ON sa.vec_id < sb.vec_id
          JOIN nrm na ON na.vec_id = sa.vec_id
          JOIN nrm nb ON nb.vec_id = sb.vec_id
          WHERE {cos} >= {threshold}),
        prs AS (
          SELECT a.vec_id AS id1, b.vec_id AS id2
          FROM asg a
          JOIN asg b ON a.cluster = b.cluster AND a.vec_id < b.vec_id
          JOIN svd sa ON sa.vec_id = a.vec_id
          JOIN svd sb ON sb.vec_id = b.vec_id
          JOIN nrm na ON na.vec_id = a.vec_id
          JOIN nrm nb ON nb.vec_id = b.vec_id
          WHERE {cos} >= {threshold}),
        ec AS (SELECT CAST(count(*) AS BIGINT) AS true_pairs FROM allp),
        ac AS (SELECT CAST(count(*) AS BIGINT) AS cand_pairs FROM prs),
        h AS (SELECT CAST(count(*) AS BIGINT) AS hits
              FROM prs JOIN allp USING (id1, id2))
        SELECT true_pairs, cand_pairs, hits,
               CASE WHEN true_pairs = 0 THEN NULL
                    ELSE round(CAST(hits AS DOUBLE) / true_pairs, 6)
               END AS recall,
               CASE WHEN cand_pairs = 0 THEN NULL
                    ELSE round(CAST(hits AS DOUBLE) / cand_pairs, 6)
               END AS "precision"
        FROM ec, ac, h
    """


def _semdedup_incremental_oracle_sql(
    k: int = 8, iterations: int = 2, threshold: float = 0.2,
    dim: int = 64, arch_cap: int = 300, new_lo: int = 300,
    new_hi: int = 450, plant_mod: int = 50, plant_off: int = 10000,
) -> str:
    """Twin of training.similarity.semdedup_incremental over the gate
    fixture: k-means fits on the ARCHIVE only (the proven micro-unit
    Lloyd replay, emitted as final centroids), both archive members and
    the new batch (organic rows plus planted exact copies of archive
    vectors at shifted ids) assign against those centroids with the
    same argmin/tie rule, and a new x seen within-cluster cosine at
    6-decimal rounding decides keep."""
    arch = f"(SELECT vec_id, embedding FROM embeddings WHERE vec_id < {arch_cap}) arch"
    cents = _kmeans_oracle_sql(
        k=k, iterations=iterations, dim=dim, src_rel=arch,
        emit="centroids",
    )
    sqdist = (
        f"list_sum([(v[i] - cent[i]) * (v[i] - cent[i]) "
        f"for i in generate_series(1, {dim})])"
    )
    dot = f"list_sum([nd.v[i] * ad.v[i] for i in generate_series(1, {dim})])"
    return f"""
        WITH cents AS ({cents}),
        newrel AS (
          SELECT vec_id, embedding FROM embeddings
          WHERE vec_id >= {new_lo} AND vec_id < {new_hi}
          UNION ALL
          SELECT vec_id + {plant_off} AS vec_id, embedding
          FROM embeddings
          WHERE vec_id < {arch_cap} AND vec_id % {plant_mod} = 0),
        archrel AS (
          SELECT vec_id, embedding FROM embeddings
          WHERE vec_id < {arch_cap}),
        newm AS (
          SELECT vec_id,
                 list_transform(embedding,
                                x -> round(CAST(x AS DOUBLE) * 1000000.0)) AS v
          FROM newrel),
        archm AS (
          SELECT vec_id,
                 list_transform(embedding,
                                x -> round(CAST(x AS DOUBLE) * 1000000.0)) AS v
          FROM archrel),
        new_asg AS (
          SELECT vec_id, c AS cluster FROM (
            SELECT newm.vec_id, cents.c,
                   row_number() OVER (PARTITION BY newm.vec_id
                     ORDER BY {sqdist}, cents.c) AS rn
            FROM newm, cents)
          WHERE rn = 1),
        arch_asg AS (
          SELECT vec_id, c AS cluster FROM (
            SELECT archm.vec_id, cents.c,
                   row_number() OVER (PARTITION BY archm.vec_id
                     ORDER BY {sqdist}, cents.c) AS rn
            FROM archm, cents)
          WHERE rn = 1),
        newd AS (
          SELECT vec_id,
                 list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
                 sqrt(list_sum(list_transform(embedding,
                   x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nv
          FROM newrel),
        archd AS (
          SELECT vec_id,
                 list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
                 sqrt(list_sum(list_transform(embedding,
                   x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nv
          FROM archrel),
        dups AS (
          SELECT DISTINCT na.vec_id
          FROM new_asg na
          JOIN arch_asg aa ON na.cluster = aa.cluster
          JOIN newd nd ON nd.vec_id = na.vec_id
          JOIN archd ad ON ad.vec_id = aa.vec_id
          WHERE round({dot} / (nd.nv * ad.nv), 6) >= {threshold})
        SELECT na.vec_id AS id, na.cluster,
               (d.vec_id IS NULL) AS keep
        FROM new_asg na LEFT JOIN dups d ON d.vec_id = na.vec_id
    """


def _bpe_tokens_oracle_sql(num_merges: int = 30) -> str:
    """Twin of training.bpe learn_bpe + bpe_token_counts: an INDEPENDENT
    serial BPE (fresh dict-of-tuples formulation, no engine imports)
    learns the same merges from the same corpus — same tie-breaks
    (pair-count DESC, pair ASC), same left-to-right non-overlapping
    merge — then encodes every document and emits the per-doc token
    counts as VALUES."""
    import duckdb

    sf = _oracle_sf_dir()
    rows = duckdb.sql(
        f"SELECT doc_id, text FROM '{sf}/documents.parquet'"
    ).fetchall()
    eow = "</w>"

    freqs: dict = {}
    for _, text in rows:
        for w in _bpe_words(text):  # JVM \s+ contract, not str.split()
            freqs[w] = freqs.get(w, 0) + 1
    # engine caps the word-type table before merge learning (bpe.py:87-92)
    freqs = _bpe_cap_types(freqs)
    vocab = {tuple(list(w) + [eow]): f for w, f in freqs.items()}
    merges = []
    for _ in range(num_merges):
        pc: dict = {}
        for syms, f in vocab.items():
            for a, b in zip(syms, syms[1:]):
                pc[(a, b)] = pc.get((a, b), 0) + f
        if not pc:
            break
        best = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        merges.append(best)
        nv: dict = {}
        for syms, f in vocab.items():
            s, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and (syms[i], syms[i + 1]) == best:
                    s.append(best[0] + best[1])
                    i += 2
                else:
                    s.append(syms[i])
                    i += 1
            nv[tuple(s)] = nv.get(tuple(s), 0) + f
        vocab = nv

    def encode_len(word):
        syms = list(word) + [eow]
        for best in merges:
            if len(syms) == 1:
                break
            s, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and (syms[i], syms[i + 1]) == best:
                    s.append(best[0] + best[1])
                    i += 2
                else:
                    s.append(syms[i])
                    i += 1
            syms = s
        return len(syms)

    wlen: dict = {}
    vals = []
    for doc_id, text in rows:
        n = 0
        for w in _bpe_words(text):  # same split as the engine's encode UDF
            if w not in wlen:
                wlen[w] = encode_len(w)
            n += wlen[w]
        vals.append(f"({doc_id}, {n})")
    return (
        "SELECT * FROM (VALUES "
        + ", ".join(vals)
        + ") AS t(id, n_tokens)"
    )


def _image_near_dups_oracle_sql(
    id_cap: int = 120, max_hamming: int = 4
) -> str:
    """Twin of q_image_near_dups: regenerates the same raw-RGB fixture in
    NumPy (same seeds), computes dHash serially, and brute-forces ALL
    pairs at hamming <= max_hamming — the banded join must equal the
    exact answer (bands > max_hamming gives provably complete recall)."""
    import duckdb
    import numpy as np

    sf = _oracle_sf_dir()
    ids = [
        r[0]
        for r in duckdb.sql(
            f"SELECT DISTINCT doc_id FROM '{sf}/documents.parquet' "
            f"WHERE doc_id < {id_cap} ORDER BY doc_id"
        ).fetchall()
    ]
    width = height = 16

    def render(i):
        base = np.random.default_rng(i % 17).integers(
            0, 256, size=(height, width, 3), dtype=np.uint8
        )
        n_noise = i % 2
        if n_noise:
            rng = np.random.default_rng(1_000_003 + i)
            for _ in range(n_noise):
                r = int(rng.integers(0, height))
                c = int(rng.integers(0, width))
                base = base.copy()
                base[r, c, :] = 255 - base[r, c, :]
        return base

    def dhash(img):
        gray = img.astype("float64").mean(axis=2)
        h, w = gray.shape
        rows = (np.arange(8) * h) // 8
        cols = (np.arange(9) * w) // 9
        g = gray[np.ix_(rows, cols)]
        bits = (g[:, 1:] > g[:, :-1]).ravel()
        v = 0
        for bit in bits:
            v = (v << 1) | int(bit)
        return v - (1 << 64) if v >= (1 << 63) else v

    hs = {i: dhash(render(i)) for i in ids}
    vals = []
    for a in ids:
        for b in ids:
            if a < b:
                d = bin((hs[a] ^ hs[b]) & ((1 << 64) - 1)).count("1")
                if d <= max_hamming:
                    vals.append(f"({a}, {b}, {d})")
    return (
        "SELECT * FROM (VALUES "
        + ", ".join(vals)
        + ") AS t(id1, id2, hamming)"
    )


def _image_incremental_oracle_sql(
    seen_cap: int = 120, new_lo: int = 120, new_hi: int = 160,
    max_hamming: int = 4,
) -> str:
    """Twin of q_image_near_dups_incremental: the same NumPy raw-RGB /
    dHash replay as the batch image oracle, brute-forcing NEW x SEEN
    pairs only — banding with bands > max_hamming is lossless, so the
    engine's incremental screen must equal the exact answer."""
    import duckdb
    import numpy as np

    sf = _oracle_sf_dir()
    rows = duckdb.sql(
        f"SELECT DISTINCT doc_id FROM '{sf}/documents.parquet' "
        f"WHERE doc_id < {new_hi} ORDER BY doc_id"
    ).fetchall()
    ids = [r[0] for r in rows]
    seen_ids = [i for i in ids if i < seen_cap]
    new_ids = [i for i in ids if new_lo <= i < new_hi]
    width = height = 16

    def render(i):
        base = np.random.default_rng(i % 17).integers(
            0, 256, size=(height, width, 3), dtype=np.uint8
        )
        n_noise = i % 2
        if n_noise:
            rng = np.random.default_rng(1_000_003 + i)
            for _ in range(n_noise):
                r = int(rng.integers(0, height))
                c = int(rng.integers(0, width))
                base = base.copy()
                base[r, c, :] = 255 - base[r, c, :]
        return base

    def dhash(img):
        gray = img.astype("float64").mean(axis=2)
        h, w = gray.shape
        rows_ = (np.arange(8) * h) // 8
        cols = (np.arange(9) * w) // 9
        g = gray[np.ix_(rows_, cols)]
        bits = (g[:, 1:] > g[:, :-1]).ravel()
        v = 0
        for bit in bits:
            v = (v << 1) | int(bit)
        return v - (1 << 64) if v >= (1 << 63) else v

    hs = {i: dhash(render(i)) for i in ids}
    vals = []
    for a in new_ids:
        for b in seen_ids:
            d = bin((hs[a] ^ hs[b]) & ((1 << 64) - 1)).count("1")
            if d <= max_hamming:
                vals.append(f"({a}, {b}, {d})")
    if not vals:  # pragma: no cover - fixture guarantees matches
        return "SELECT 0 AS new_id, 0 AS seen_id, 0 AS hamming WHERE 1=0"
    return (
        "SELECT * FROM (VALUES "
        + ", ".join(vals)
        + ") AS t(new_id, seen_id, hamming)"
    )


def _audio_near_dups_oracle_sql(id_cap: int = 99, min_shared: int = 8) -> str:
    """Twin of q_audio_near_dups: regenerates the melody fixture in
    NumPy (same seeds), extracts the same consecutive-peak-bin landmarks
    serially, and counts shared landmarks over all pairs — the equi-join
    must equal the exact answer."""
    import duckdb
    import numpy as np

    sf = _oracle_sf_dir()
    ids = [
        r[0]
        for r in duckdb.sql(
            f"SELECT DISTINCT doc_id FROM '{sf}/documents.parquet' "
            f"WHERE doc_id < {id_cap} ORDER BY doc_id"
        ).fetchall()
    ]
    n_samples, n_families, frame, hop = 2048, 11, 256, 128

    def render(i):
        fam = np.random.default_rng(900 + i % n_families)
        notes = fam.integers(5, 100, size=n_samples // 256)
        t = np.arange(n_samples, dtype="float64")
        freq = np.repeat(notes, 256)[: len(t)].astype("float64")
        y = 0.7 * np.sin(2 * np.pi * freq * t / 256.0)
        noise = np.random.default_rng(7_000_000 + i)
        y += 0.02 * (noise.random(n_samples) * 2 - 1)
        pcm = np.clip(y * 32767.0, -32768, 32767).astype("<i2")
        return pcm.astype("float64") / 32768.0

    def marks(y):
        peaks = []
        for s in range(0, len(y) - frame + 1, hop):
            spec = np.abs(np.fft.rfft(y[s : s + frame]))
            peaks.append(int(np.argmax(spec[1:])) + 1)
        return {int(a * 100_000 + b) for a, b in zip(peaks, peaks[1:])}

    ms = {i: marks(render(i)) for i in ids}
    vals = []
    for a in ids:
        for b in ids:
            if a < b:
                shared = len(ms[a] & ms[b])
                if shared >= min_shared:
                    vals.append(f"({a}, {b}, {shared})")
    return (
        "SELECT * FROM (VALUES "
        + ", ".join(vals)
        + ") AS t(id1, id2, n_shared)"
    )


def _audio_incremental_oracle_sql(
    seen_cap: int = 99, new_lo: int = 99, new_hi: int = 132,
    min_shared: int = 8,
) -> str:
    """Twin of q_audio_near_dups_incremental: the same NumPy melody /
    landmark replay as the batch audio oracle, counting shared
    landmarks over NEW x SEEN only."""
    import duckdb
    import numpy as np

    sf = _oracle_sf_dir()
    ids = [
        r[0]
        for r in duckdb.sql(
            f"SELECT DISTINCT doc_id FROM '{sf}/documents.parquet' "
            f"WHERE doc_id < {new_hi} ORDER BY doc_id"
        ).fetchall()
    ]
    seen_ids = [i for i in ids if i < seen_cap]
    new_ids = [i for i in ids if new_lo <= i < new_hi]
    n_samples, n_families, frame, hop = 2048, 11, 256, 128

    def render(i):
        fam = np.random.default_rng(900 + i % n_families)
        notes = fam.integers(5, 100, size=n_samples // 256)
        t = np.arange(n_samples, dtype="float64")
        freq = np.repeat(notes, 256)[: len(t)].astype("float64")
        y = 0.7 * np.sin(2 * np.pi * freq * t / 256.0)
        noise = np.random.default_rng(7_000_000 + i)
        y += 0.02 * (noise.random(n_samples) * 2 - 1)
        pcm = np.clip(y * 32767.0, -32768, 32767).astype("<i2")
        return pcm.astype("float64") / 32768.0

    def marks(y):
        peaks = []
        for s in range(0, len(y) - frame + 1, hop):
            spec = np.abs(np.fft.rfft(y[s : s + frame]))
            peaks.append(int(np.argmax(spec[1:])) + 1)
        return {int(a * 100_000 + b) for a, b in zip(peaks, peaks[1:])}

    ms = {i: marks(render(i)) for i in ids}
    vals = []
    for a in new_ids:
        for b in seen_ids:
            shared = len(ms[a] & ms[b])
            if shared >= min_shared:
                vals.append(f"({a}, {b}, {shared})")
    if not vals:  # pragma: no cover - fixture guarantees matches
        return (
            "SELECT 0 AS new_id, 0 AS seen_id, 0 AS n_shared WHERE 1=0"
        )
    return (
        "SELECT * FROM (VALUES "
        + ", ".join(vals)
        + ") AS t(new_id, seen_id, n_shared)"
    )


def _video_near_dups_oracle_sql(id_cap: int = 105, min_shared: int = 4) -> str:
    """Twin of q_video_near_dups: regenerates the frame sequences in
    NumPy (same seeds), hashes every frame with the serial dHash, and
    counts shared DISTINCT frame hashes over all pairs."""
    import duckdb
    import numpy as np

    sf = _oracle_sf_dir()
    ids = [
        r[0]
        for r in duckdb.sql(
            f"SELECT DISTINCT doc_id FROM '{sf}/documents.parquet' "
            f"WHERE doc_id < {id_cap} ORDER BY doc_id"
        ).fetchall()
    ]
    width = height = 16
    n_frames, n_families = 6, 7

    def dhash(img):
        gray = img.astype("float64").mean(axis=2)
        h, w = gray.shape
        rows = (np.arange(8) * h) // 8
        cols = (np.arange(9) * w) // 9
        g = gray[np.ix_(rows, cols)]
        bits = (g[:, 1:] > g[:, :-1]).ravel()
        v = 0
        for bit in bits:
            v = (v << 1) | int(bit)
        return v - (1 << 64) if v >= (1 << 63) else v

    def hashes(i):
        out = set()
        for j in range(n_frames):
            img = np.random.default_rng(
                5000 + (i % n_families) * 1000 + j
            ).integers(0, 256, size=(height, width, 3), dtype=np.uint8)
            if (i + j) % 3 == 0:
                rng = np.random.default_rng(9_000_000 + i * 100 + j)
                r = int(rng.integers(0, height))
                c = int(rng.integers(0, width))
                img = img.copy()
                img[r, c, :] = 255 - img[r, c, :]
            out.add(dhash(img))
        return out

    hs = {i: hashes(i) for i in ids}
    vals = []
    for a in ids:
        for b in ids:
            if a < b:
                shared = len(hs[a] & hs[b])
                if shared >= min_shared:
                    vals.append(f"({a}, {b}, {shared})")
    return (
        "SELECT * FROM (VALUES "
        + ", ".join(vals)
        + ") AS t(id1, id2, n_shared)"
    )


def _bpe_ids_oracle_sql(num_merges: int = 30) -> str:
    """Twin of q_bpe_encode_ids: independent serial BPE (same replay as
    _bpe_tokens_oracle_sql) plus the GPT-2-style id assignment (<unk>=0,
    sorted base alphabet, merge outputs in learned order); emits per-doc
    (id, n_ids, md5 of the comma-joined id sequence) as VALUES."""
    import hashlib

    import duckdb

    sf = _oracle_sf_dir()
    rows = duckdb.sql(
        f"SELECT doc_id, text FROM '{sf}/documents.parquet'"
    ).fetchall()
    eow = "</w>"

    freqs: dict = {}
    alphabet: set = set()
    for _, text in rows:
        for w in _bpe_words(text):  # JVM \s+ contract, not str.split()
            freqs[w] = freqs.get(w, 0) + 1
            # base alphabet comes from the FULL corpus (engine:
            # corpus_base_symbols scans uncapped), the merge table from
            # the capped types below
            alphabet.update(w)
    freqs = _bpe_cap_types(freqs)
    vocab_syms = {tuple(list(w) + [eow]): f for w, f in freqs.items()}
    merges = []
    for _ in range(num_merges):
        pc: dict = {}
        for syms, f in vocab_syms.items():
            for a, b in zip(syms, syms[1:]):
                pc[(a, b)] = pc.get((a, b), 0) + f
        if not pc:
            break
        best = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        merges.append(best)
        nv: dict = {}
        for syms, f in vocab_syms.items():
            s, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and (syms[i], syms[i + 1]) == best:
                    s.append(best[0] + best[1])
                    i += 2
                else:
                    s.append(syms[i])
                    i += 1
            nv[tuple(s)] = nv.get(tuple(s), 0) + f
        vocab_syms = nv

    ids: dict = {"<unk>": 0}
    for s in sorted(alphabet) + [eow]:
        if s not in ids:
            ids[s] = len(ids)
    for a, b in merges:
        tok = a + b
        if tok not in ids:
            ids[tok] = len(ids)

    def encode(word):
        syms = list(word) + [eow]
        for best in merges:
            if len(syms) == 1:
                break
            s, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and (syms[i], syms[i + 1]) == best:
                    s.append(best[0] + best[1])
                    i += 2
                else:
                    s.append(syms[i])
                    i += 1
            syms = s
        return [ids.get(sym, 0) for sym in syms]

    wcache: dict = {}
    vals = []
    for doc_id, text in rows:
        seq: list = []
        for w in _bpe_words(text):  # same split as the engine's encode UDF
            if w not in wcache:
                wcache[w] = encode(w)
            seq.extend(wcache[w])
        digest = hashlib.md5(",".join(map(str, seq)).encode()).hexdigest()
        vals.append(f"({doc_id}, {len(seq)}, '{digest}')")
    return (
        "SELECT * FROM (VALUES "
        + ", ".join(vals)
        + ") AS t(id, n_ids, ids_md5)"
    )


def _tokenize_pack_oracle_sql(
    num_merges: int = 30, n_shards: int = 4, seed: int = 29,
    budget: int = 512,
) -> str:
    """Twin of q_tokenize_pack: the serial-BPE replay supplies per-doc
    token counts as an inline VALUES relation, and pure SQL replays the
    content-stable sharding + contiguous packing on top — builders and
    SQL fragments compose."""
    tok_values = _bpe_tokens_oracle_sql(num_merges)
    return f"""
        WITH tok AS ({tok_values}),
        sharded AS (
          SELECT id, n_tokens,
                 CAST(CAST('0x' || substr(md5('{seed}-' || CAST(id AS VARCHAR)),
                           1, 15) AS BIGINT) % {n_shards} AS INT) AS shard
          FROM tok WHERE n_tokens > 0),
        spans AS (
          SELECT id, shard, n_tokens,
                 CAST(sum(n_tokens) OVER (PARTITION BY shard ORDER BY id)
                      AS BIGINT) AS e
          FROM sharded),
        segs AS (
          SELECT id, shard, e - n_tokens AS s, e,
                 unnest(generate_series((e - n_tokens) // {budget},
                                        (e - 1) // {budget})) AS segment
          FROM spans)
        SELECT id, shard, segment,
               least(e, (segment + 1) * {budget})
               - greatest(s, segment * {budget}) AS seg_tokens
        FROM segs
    """


def _harmonic_oracle_sql(
    iterations: int = 3, p: int = 4, n_mod: int = 61
) -> str:
    """Twin of training.graph.harmonic_centrality over the q_harmonic
    synthetic directed graph: identical md5 register construction,
    union-max iterations unrolled as CTE pairs, and the identical
    float tail (exact int64 register sum -> one division + linear
    counting), so the 6-decimal compare is zero-tolerance."""
    m = 1 << p
    bits = 60 - p
    shift_base = bits + 1
    two_s = 1 << shift_base
    alpha = {16: 0.673, 32: 0.697, 64: 0.709}.get(
        m, 0.7213 / (1 + 1.079 / m)
    )
    amm = repr(alpha * m * m)
    lin_cut = repr(2.5 * m)
    mf = repr(float(m))
    ctes = [
        f"""gen AS (
          SELECT doc_id % {n_mod} AS src, (doc_id * 13 + 5) % {n_mod} AS dst
          FROM documents
          UNION ALL
          SELECT (doc_id * 3 + 1) % {n_mod}, (doc_id * 11 + 2) % {n_mod}
          FROM documents
          UNION ALL
          SELECT (doc_id * 7 + 3) % {n_mod}, (doc_id * 5 + 1) % {n_mod}
          FROM documents)""",
        """edges AS (
          SELECT DISTINCT src, dst FROM gen WHERE src <> dst)""",
        """nodes AS (
          SELECT src AS node FROM edges UNION SELECT dst FROM edges)""",
        f"""hsh AS (
          SELECT node,
                 CAST('0x' || substr(md5('hll-' || CAST(node AS VARCHAR)),
                      1, 15) AS BIGINT) AS h
          FROM nodes)""",
        f"""r0 AS (
          SELECT node, CAST(h % {m} AS INT) AS bucket,
                 CAST(CASE WHEN h // {1 << p} > 0
                      THEN {bits} - floor(log2(h // {1 << p}))
                      ELSE {bits + 1} END AS INT) AS rho
          FROM hsh)""",
    ]

    def est_cte(t: int) -> str:
        return f"""b{t} AS (
          SELECT node,
                 CASE WHEN {amm} / (CAST(s_int AS DOUBLE) / {repr(float(two_s))})
                        <= {lin_cut} AND cnt < {m}
                      THEN {mf} * ln({mf} / ({m} - cnt))
                      ELSE {amm} / (CAST(s_int AS DOUBLE) / {repr(float(two_s))})
                 END AS b{t}
          FROM (
            SELECT node, CAST(count(*) AS BIGINT) AS cnt,
                   CAST(sum(CAST(1 AS BIGINT) << ({shift_base} - rho))
                        + ({m} - count(*)) * CAST({two_s} AS BIGINT)
                     AS BIGINT) AS s_int
            FROM r{t} GROUP BY node))"""

    ctes.append(est_cte(0))
    for t in range(1, iterations + 1):
        ctes.append(
            f"""n{t} AS (
          SELECT e.src AS node, r.bucket, r.rho
          FROM edges e JOIN r{t - 1} r ON e.dst = r.node)"""
        )
        ctes.append(
            f"""r{t} AS (
          SELECT node, bucket, CAST(max(rho) AS INT) AS rho
          FROM (SELECT * FROM r{t - 1} UNION ALL SELECT * FROM n{t})
          GROUP BY node, bucket)"""
        )
        ctes.append(est_cte(t))
    joins = " ".join(
        f"JOIN b{t} ON b{t}.node = b0.node" for t in range(1, iterations + 1)
    )
    terms = " + ".join(
        f"(b{t} - b{t - 1}) / {repr(float(t))}"
        for t in range(1, iterations + 1)
    )
    body = ",\n        ".join(ctes)
    return f"""
        WITH {body}
        SELECT b0.node, round({terms}, 6) AS harmonic
        FROM b0 {joins}
    """


def _minhash_incremental_oracle_sql(
    n: int = 3, num_hashes: int = 64, bands: int = 16, threshold: float = 0.2,
    seed: int = 42,
    new_docs_select: str | None = None,
    seen_docs_select: str | None = None,
) -> str:
    """Twin of training.dedup.minhash_incremental over the
    q_minhash_incremental fixture (new batch = doc_id%5==0, id+1e6,
    ' qq7' appended): identical coefficients and banding, candidate join
    restricted to new x seen, agreement rounded to 6 before the
    threshold — exactly as the engine filters. ``new_docs_select``
    overrides the new-batch relation (must expose id, text) — the
    ingest-screen composition reuses this builder with its three-lane
    batch; ``seen_docs_select`` overrides the archive relation (id,
    text; default: all of ``documents``) — the multimodal composition
    screens against the doc_id < 300 archive slice (r13)."""
    import random

    from openeo_processes_dask_spark.training.dedup import _P

    rnd = random.Random(seed)
    coeffs = [
        (rnd.randrange(1, _P), rnd.randrange(0, _P)) for _ in range(num_hashes)
    ]
    rows_per_band = num_hashes // bands
    mins = ",\n                ".join(
        f"min(({a} * x + {b}) % {_P}) AS h{i}" for i, (a, b) in enumerate(coeffs)
    )

    def band_selects(src: str) -> str:
        return "\n            UNION ALL ".join(
            "SELECT id, {bi} AS band, md5(concat_ws(',', {cols})) AS bucket FROM {src}".format(
                bi=bi,
                src=src,
                cols=", ".join(
                    f"CAST(h{bi * rows_per_band + j} AS VARCHAR)"
                    for j in range(rows_per_band)
                ),
            )
            for bi in range(bands)
        )

    agree = " + ".join(
        f"(CASE WHEN s1.h{i} = s2.h{i} THEN 1 ELSE 0 END)"
        for i in range(num_hashes)
    )
    xl = _MD5LONG.format(v="s")
    if new_docs_select is None:
        new_docs_select = (
            "SELECT doc_id + 1000000 AS id, text || ' qq7' AS text\n"
            "          FROM documents WHERE doc_id % 5 = 0"
        )
    if seen_docs_select is None:
        seen_docs_select = "SELECT doc_id AS id, text FROM documents"
    return f"""
        WITH seen_docs AS (
          {seen_docs_select}),
        new_docs AS (
          {new_docs_select}),
        toks_seen AS (
          SELECT id, string_split_regex(trim(lower(text)), '\\s+') AS w
          FROM seen_docs),
        toks_new AS (
          SELECT id, string_split_regex(trim(lower(text)), '\\s+') AS w
          FROM new_docs),
        sh_seen AS (
          SELECT DISTINCT id,
                 unnest(list_transform(generate_series(1, len(w) - {n - 1}),
                        i -> array_to_string(w[i:i+{n - 1}], ' '))) AS s
          FROM toks_seen WHERE len(w) >= {n}),
        sh_new AS (
          SELECT DISTINCT id,
                 unnest(list_transform(generate_series(1, len(w) - {n - 1}),
                        i -> array_to_string(w[i:i+{n - 1}], ' '))) AS s
          FROM toks_new WHERE len(w) >= {n}),
        xs_seen AS (SELECT id, {xl} % {_P} AS x FROM sh_seen),
        xs_new AS (SELECT id, {xl} % {_P} AS x FROM sh_new),
        sigs_seen AS (SELECT id, {mins} FROM xs_seen GROUP BY id),
        sigs_new AS (SELECT id, {mins} FROM xs_new GROUP BY id),
        banded_seen AS ({band_selects("sigs_seen")}),
        banded_new AS ({band_selects("sigs_new")}),
        cands AS (
          SELECT DISTINCT a.id AS new_id, b.id AS seen_id
          FROM banded_new a JOIN banded_seen b
            ON a.band = b.band AND a.bucket = b.bucket)
        SELECT new_id, seen_id,
               round(({agree}) / {float(num_hashes)}, 6) AS est_jaccard
        FROM cands
        JOIN sigs_new s1 ON s1.id = new_id
        JOIN sigs_seen s2 ON s2.id = seen_id
        WHERE round(({agree}) / {float(num_hashes)}, 6) >= {threshold}
    """


#: three-lane new-batch fixture shared by the ingest-screen gate and
#: its oracle: near-dups (perturbed), exact copies, fresh docs
_INGEST_NEW_DOCS = (
    "SELECT doc_id + 1000000 AS id, text || ' qq7' AS text\n"
    "          FROM documents WHERE doc_id % 5 = 0\n"
    "          UNION ALL\n"
    "          SELECT doc_id + 2000000 AS id, text\n"
    "          FROM documents WHERE doc_id % 10 = 3\n"
    "          UNION ALL\n"
    "          SELECT doc_id + 3000000 AS id,\n"
    "                 'fresh zz' || doc_id ||"
    " 'qx wholly new content row' AS text\n"
    "          FROM documents WHERE doc_id % 7 = 1"
)


def _ingest_screen_oracle_sql(
    n: int = 3, num_hashes: int = 64, bands: int = 16,
    threshold: float = 0.2, seed: int = 42,
) -> str:
    """Twin of training.dedup.ingest_screen over the three-lane batch:
    the exact lane replays the whitespace-normalized md5 fingerprint
    semi-join, the near lane embeds the PROVEN minhash-incremental SQL
    (same builder, overridden new-batch relation), and the verdict
    projection mirrors the engine's coalesced flags."""
    mh = _minhash_incremental_oracle_sql(
        n=n, num_hashes=num_hashes, bands=bands, threshold=threshold,
        seed=seed, new_docs_select=_INGEST_NEW_DOCS,
    )
    fp = "md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))"
    return f"""
        WITH new_docs AS (
          {_INGEST_NEW_DOCS}),
        fp_seen AS (
          SELECT DISTINCT {fp} AS fp FROM documents),
        fp_new AS (SELECT id, {fp} AS fp FROM new_docs),
        exact AS (
          SELECT DISTINCT id FROM fp_new
          WHERE fp IN (SELECT fp FROM fp_seen)),
        mh AS (SELECT DISTINCT new_id AS id FROM ({mh}) t)
        SELECT nd.id,
               (e.id IS NOT NULL) AS exact_dup,
               (m.id IS NOT NULL) AS near_dup,
               (e.id IS NULL AND m.id IS NULL) AS keep
        FROM new_docs nd
        LEFT JOIN exact e ON e.id = nd.id
        LEFT JOIN mh m ON m.id = nd.id
    """


def _ingest_screen_multimodal_oracle_sql(
    n: int = 3, num_hashes: int = 64, bands: int = 16,
    text_threshold: float = 0.2, sem_threshold: float = 0.35,
    max_hamming: int = 3, seed: int = 42,
    k: int = 8, iterations: int = 2, dim: int = 64, arch_cap: int = 300,
    fresh_lo: int = 300, fresh_hi: int = 450,
) -> str:
    """Twin of training.dedup.ingest_screen_multimodal over the r13
    gate fixture (archive = doc∩embedding ids < arch_cap with a
    deterministic md5-derived 60-bit perceptual signature; new batch =
    text-perturbed/bit-flipped rows (+1e6, ' qq7', psig^5), verbatim
    copies (+2e6), and fresh rows (organic embeddings 300-449,
    synthesized text, fresh psig)):

    - exact lane: the whitespace-normalized md5 fingerprint semi-join;
    - text lane: the PROVEN minhash-incremental SQL, archive relation
      overridden to the < arch_cap slice;
    - semantic lane: the proven micro-unit k-means replay
      (:func:`_kmeans_oracle_sql`) + the same argmin/tie assignment
      and within-cluster 6-decimal cosine as the semdedup-incremental
      oracle;
    - perceptual lane: the FULL quadratic Hamming join — equal to the
      engine's banded screen by the pigeonhole lemma (bands=8 >
      max_hamming=3, so every pair within distance shares a chunk);
      banding only ever drops pairs ABOVE the threshold.

    The verdict projection mirrors the engine's coalesced flags."""
    psig = _MD5LONG.format(v="CAST(d.doc_id AS VARCHAR)")
    fresh_psig = _MD5LONG.format(v="'f' || CAST(e.vec_id AS VARCHAR)")
    arch = f"""
          SELECT d.doc_id AS id, d.text, e.embedding, {psig} AS psig
          FROM documents d JOIN embeddings e ON e.vec_id = d.doc_id
          WHERE d.doc_id < {arch_cap}"""
    new_docs = f"""
          SELECT id + 1000000 AS id, text || ' qq7' AS text,
                 embedding, xor(psig, 5) AS psig
          FROM arch WHERE id % 5 = 0
          UNION ALL
          SELECT id + 2000000 AS id, text, embedding, psig
          FROM arch WHERE id % 10 = 3
          UNION ALL
          SELECT e.vec_id AS id,
                 'fresh zz' || CAST(e.vec_id AS VARCHAR)
                 || 'qx wholly new content row' AS text,
                 e.embedding, {fresh_psig} AS psig
          FROM embeddings e
          WHERE e.vec_id >= {fresh_lo} AND e.vec_id < {fresh_hi}"""
    mh = _minhash_incremental_oracle_sql(
        n=n, num_hashes=num_hashes, bands=bands,
        threshold=text_threshold, seed=seed,
        new_docs_select="SELECT id, text FROM newb",
        seen_docs_select="SELECT id, text FROM arch",
    )
    cents = _kmeans_oracle_sql(
        k=k, iterations=iterations, dim=dim,
        src_rel=f"(SELECT vec_id, embedding FROM embeddings "
                f"WHERE vec_id < {arch_cap}) archsrc",
        emit="centroids",
    )
    sqdist = (
        f"list_sum([(v[i] - cent[i]) * (v[i] - cent[i]) "
        f"for i in generate_series(1, {dim})])"
    )
    dot = f"list_sum([nd.v[i] * ad.v[i] for i in generate_series(1, {dim})])"
    fp = "md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))"
    return f"""
        WITH arch AS ({arch}),
        newb AS ({new_docs}),
        fp_seen AS (SELECT DISTINCT {fp} AS fp FROM arch),
        fp_new AS (SELECT id, {fp} AS fp FROM newb),
        exact AS (
          SELECT DISTINCT id FROM fp_new
          WHERE fp IN (SELECT fp FROM fp_seen)),
        mh AS (SELECT DISTINCT new_id AS id FROM ({mh}) t),
        cents AS ({cents}),
        newm AS (
          SELECT id,
                 list_transform(embedding,
                                x -> round(CAST(x AS DOUBLE) * 1000000.0)) AS v
          FROM newb),
        archm AS (
          SELECT id,
                 list_transform(embedding,
                                x -> round(CAST(x AS DOUBLE) * 1000000.0)) AS v
          FROM arch),
        new_asg AS (
          SELECT id, c AS cluster FROM (
            SELECT newm.id, cents.c,
                   row_number() OVER (PARTITION BY newm.id
                     ORDER BY {sqdist}, cents.c) AS rn
            FROM newm, cents)
          WHERE rn = 1),
        arch_asg AS (
          SELECT id, c AS cluster FROM (
            SELECT archm.id, cents.c,
                   row_number() OVER (PARTITION BY archm.id
                     ORDER BY {sqdist}, cents.c) AS rn
            FROM archm, cents)
          WHERE rn = 1),
        newd AS (
          SELECT id,
                 list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
                 sqrt(list_sum(list_transform(embedding,
                   x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nv
          FROM newb),
        archd AS (
          SELECT id,
                 list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
                 sqrt(list_sum(list_transform(embedding,
                   x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nv
          FROM arch),
        sem AS (
          SELECT DISTINCT na.id
          FROM new_asg na
          JOIN arch_asg aa ON na.cluster = aa.cluster
          JOIN newd nd ON nd.id = na.id
          JOIN archd ad ON ad.id = aa.id
          WHERE round({dot} / (nd.nv * ad.nv), 6) >= {sem_threshold}),
        perc AS (
          SELECT DISTINCT n.id
          FROM newb n JOIN arch a
            ON bit_count(xor(n.psig, a.psig)) <= {max_hamming})
        SELECT nd.id,
               (e.id IS NOT NULL) AS exact_dup,
               (m.id IS NOT NULL) AS text_near_dup,
               (s.id IS NOT NULL) AS semantic_dup,
               (p.id IS NOT NULL) AS perceptual_dup,
               (e.id IS NULL AND m.id IS NULL
                AND s.id IS NULL AND p.id IS NULL) AS keep
        FROM newb nd
        LEFT JOIN exact e ON e.id = nd.id
        LEFT JOIN mh m ON m.id = nd.id
        LEFT JOIN sem s ON s.id = nd.id
        LEFT JOIN perc p ON p.id = nd.id
    """


def _scene_changes_oracle_sql(id_cap: int = 105, threshold: int = 16) -> str:
    """Twin of q_scene_changes: regenerates every frame dHash serially
    (same seeds as synthetic_raw_video_table), inlines them as VALUES,
    and computes the consecutive-frame Hamming distances in SQL — the
    window/xor mechanics are re-derived by DuckDB, only the hashes are
    replayed."""
    import duckdb
    import numpy as np

    sf = _oracle_sf_dir()
    ids = [
        r[0]
        for r in duckdb.sql(
            f"SELECT DISTINCT doc_id FROM '{sf}/documents.parquet' "
            f"WHERE doc_id < {id_cap} ORDER BY doc_id"
        ).fetchall()
    ]
    width = height = 16
    n_frames, n_families = 6, 7

    def dhash(img):
        gray = img.astype("float64").mean(axis=2)
        h, w = gray.shape
        rows = (np.arange(8) * h) // 8
        cols = (np.arange(9) * w) // 9
        g = gray[np.ix_(rows, cols)]
        bits = (g[:, 1:] > g[:, :-1]).ravel()
        v = 0
        for bit in bits:
            v = (v << 1) | int(bit)
        return v - (1 << 64) if v >= (1 << 63) else v

    vals = []
    for i in ids:
        for j in range(n_frames):
            img = np.random.default_rng(
                5000 + (i % n_families) * 1000 + j
            ).integers(0, 256, size=(height, width, 3), dtype=np.uint8)
            if (i + j) % 3 == 0:
                rng = np.random.default_rng(9_000_000 + i * 100 + j)
                r = int(rng.integers(0, height))
                c = int(rng.integers(0, width))
                img = img.copy()
                img[r, c, :] = 255 - img[r, c, :]
            vals.append(f"({i}, {j}, {dhash(img)})")
    values = ",\n              ".join(vals)
    return f"""
        WITH fh(id, frame_idx, dhash) AS (VALUES
              {values}),
        lagged AS (
          SELECT id, frame_idx, dhash,
                 lag(dhash) OVER (PARTITION BY id ORDER BY frame_idx) AS p
          FROM fh)
        SELECT id, frame_idx,
               CAST(bit_count(xor(dhash, p)) AS INT) AS hamming,
               bit_count(xor(dhash, p)) > {threshold} AS is_cut
        FROM lagged WHERE p IS NOT NULL
    """


def _leakage_split_oracle_sql(n_folds: int = 5, seed: int = 77) -> str:
    """Twin of q_leakage_split: the dedup_clusters recursive closure
    gives component ids for paired docs; every document left-joins it
    (singletons keep their own id) and the fold is the identical
    md5-long arithmetic mod n_folds."""
    cc = _dedup_clusters_oracle_sql()
    return f"""
        WITH RECURSIVE cc AS ({cc})
        SELECT d.doc_id,
               CAST(coalesce(cc.comp, d.doc_id) AS BIGINT) AS comp_id,
               CAST(CAST('0x' || substr(md5('{seed}-' ||
                    CAST(coalesce(cc.comp, d.doc_id) AS VARCHAR)), 1, 15)
                    AS BIGINT) % {n_folds} AS INT) AS fold
        FROM documents d LEFT JOIN cc ON cc.id = d.doc_id
    """


def _isotonic_oracle_sql() -> str:
    """Twin of q_isotonic: per-score counts from DuckDB, then an
    INDEPENDENT PAVA (exact Fractions instead of the engine's integer
    cross-multiplication) — same unique optimum, different mechanism;
    the fitted table inlines as VALUES."""
    from fractions import Fraction

    import duckdb

    sf = _oracle_sf_dir()
    rows = duckdb.sql(
        f"SELECT n_chars, count(*) AS n, "
        f"sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS p "
        f"FROM '{sf}/documents.parquet' WHERE n_chars IS NOT NULL "
        f"GROUP BY 1 ORDER BY 1"
    ).fetchall()
    pools: list[list] = []  # [sum_pos (Fraction), count (Fraction), members]
    for s, n, p in rows:
        pools.append([Fraction(int(p)), Fraction(int(n)), [(s, int(n), int(p))]])
        while len(pools) >= 2 and (
            pools[-2][0] / pools[-2][1] >= pools[-1][0] / pools[-1][1]
        ):
            b = pools.pop()
            pools[-1][0] += b[0]
            pools[-1][1] += b[1]
            pools[-1][2].extend(b[2])
    vals = []
    for tp, tn, members in pools:
        c = round(float(tp / tn), 6)
        for s, n, p in members:
            vals.append(f"({s}, {n}, {p}, {c!r})")
    values = ",\n              ".join(vals)
    return f"""
        SELECT s, CAST(n AS BIGINT) AS n, CAST(n_pos AS BIGINT) AS n_pos,
               CAST(calibrated AS DOUBLE) AS calibrated
        FROM (VALUES
              {values}) AS t(s, n, n_pos, calibrated)
    """

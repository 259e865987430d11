"""Driver-gate query registry, split per lane.

Each lane module exports ``QUERIES`` (name -> (spark, sf_dir) -> DataFrame)
and ``ORACLES`` (name -> DuckDB SQL).  :func:`all_queries` /
:func:`all_oracles` merge the lanes in driver-window order.

Window order: the driver's correctness gate only runs the FIRST 50
entries of ``queries()``, so the order is computed from the driver's own
records rather than kept by hand.  ``flagship_daily_mean`` is slot 1,
then the gates in :data:`CHANGED`, then every other gate stalest-first
by :func:`ledger` (the last round with a green record in the repo-root
``CORRECTNESS_r<N>.json`` files; a gate with no green record counts as
round 0, so newly added gates lead without a hand edit).  Ties keep
registry order: ``_LANES``, then each lane's dict order.  Without ledger
files (the package used outside the checkout) every gate ties, so the
order after the flagship and ``CHANGED`` is registry order.
tools/check_oracle.py (a strict local replica of the driver compare,
including signed-zero hashing) sweeps the full registry between rounds.
"""

from __future__ import annotations

import glob
import json
import os
import re

from . import core, extended, io_misc, parity, streaming, training

_LANES = (core, training, parity, streaming, io_misc, extended)

_FLAGSHIP = "flagship_daily_mean"

#: Gates whose code path changed since the newest CORRECTNESS round; they
#: follow the flagship so the next driver round re-verifies them.  Add a
#: gate here when you change its code; drop it once a round verifies it.
CHANGED = [
    # both call _multimodal_ingest_fixture, whose pool became a `with`
    # block after round 14
    "ingest_screen_multimodal",
    "streaming_ingest_screen_multimodal",
    # merge_cubes decides equal labels from plan equivalence; these two
    # no longer pass a caller hint that skipped the label probe
    "merge_multiply",
    "merge_concat",
    # the k-means assignment, the SemDeDup norm/cosine and the sketch
    # level fold are now built from one parsed SQL string each
    "kmeans_clusters",
    "semdedup",
    "semantic_dedup_recall",
    "semantic_dedup_planted",
    "semantic_dedup_incremental",
    "streaming_semdedup_incremental",
    "quantile_sketch",
    "quantile_sketch_merged",
    # the whole-document fingerprint comes from textanalysis.doc_fingerprint
    # instead of an inline copy per operator
    "dedup_exact",
    "training_pipeline",
    "curation_pipeline",
    "dedup_incremental",
    "incremental_curation",
    "corpus_diff",
    # the MinHash coefficients, band buckets, agreement estimate and
    # per-row stream signature each come from one SQL fragment, and
    # ingest_screen is a projection of ingest_screen_multimodal
    "minhash_near_dups",
    "dedup_recall",
    "dedup_clusters",
    "dedup_clusters_star",
    "leakage_split",
    "minhash_incremental",
    "ingest_screen",
    "ingest_screen_prebanded",
    "streaming_minhash_screen",
    # every banded Hamming lane runs through one join/verify/star-cap core
    "simhash_near_dups",
    "simhash_incremental",
    "image_near_dups",
    "image_near_dups_incremental",
    # each sketch has one per-group body; the global sketches, the stream
    # twins and the quantile merges run it with no group columns, and
    # harmonic centrality takes its HLL hash from the sketch module
    "count_min_words",
    "count_min_by_source",
    "hll_registers",
    "distinct_tokens_by_source",
    "corpus_overlap",
    "quantile_sketch_grouped",
    "quantile_sketch_grouped_merged",
    "source_token_profile",
    "streaming_count_min",
    "streaming_hll",
    "streaming_quantile_sketch",
    "harmonic",
    # the distinct word-shingle digest relation comes from one builder,
    # and batch decontamination is the per-id count of its stream twin
    "ngram_jaccard",
    "jaccard_prefix",
    "decontaminate",
    "contamination_ratio",
    "contamination_attribution",
    "streaming_contamination_screen",
    # connected_components is large-star/small-star only (dedup_clusters,
    # dedup_clusters_star, leakage_split and semdedup above), and harmonic
    # centrality's checkpoint policy is fixed (harmonic above)
    # batch MinHash lanes share _banded_minhash; stream screens carry sigs
]

_REPO = os.path.dirname(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)


def _green(rec: dict) -> bool:
    """A record refreshes its gate only if it ran without error and every
    compared facet matched (rows-only records carry null schema/hash)."""
    return (
        not rec.get("err")
        and bool(rec.get("rows_match"))
        and rec.get("schema_match") is not False
        and rec.get("hash_match") is not False
    )


def ledger(directory: str | None = None) -> dict[str, int]:
    """Gate name -> last round with a green record in the
    ``CORRECTNESS_r<N>.json`` files of ``directory`` (default: the repo
    root); gates never green are absent.  A file that does not parse as
    ``{gate: record}`` raises ValueError naming it, so a bad file cannot
    silently drop a round."""
    last: dict[str, int] = {}
    pattern = os.path.join(directory or _REPO, "CORRECTNESS_r*.json")
    for path in glob.glob(pattern):
        m = re.fullmatch(r"CORRECTNESS_r(\d+)\.json", os.path.basename(path))
        if not m:
            continue
        try:
            with open(path) as fh:
                records = json.load(fh)
        except ValueError as exc:
            raise ValueError(
                f"malformed correctness ledger {path}: {exc}"
            ) from exc
        if not isinstance(records, dict) or not all(
            isinstance(r, dict) for r in records.values()
        ):
            raise ValueError(
                f"malformed correctness ledger {path}: not {{gate: record}}"
            )
        for gate, rec in records.items():
            if _green(rec):
                last[gate] = max(last.get(gate, 0), int(m.group(1)))
    return last


def _merged(attr: str) -> dict:
    base: dict = {}
    for lane in _LANES:
        base.update(getattr(lane, attr))
    last = ledger()
    head = [k for k in [_FLAGSHIP, *CHANGED] if k in base]
    # sorted() is stable, so gates of one round keep registry order
    rest = sorted(
        (k for k in base if k not in head), key=lambda k: last.get(k, 0)
    )
    return {k: base[k] for k in head + rest}


def all_queries() -> dict:
    return _merged("QUERIES")


#: builder-function -> SQL memo, so repeated all_oracles() calls don't
#: re-run the expensive replay builders (RF retrain, logreg GD replay)
_ORACLE_MEMO: dict = {}


def all_oracles() -> dict:
    """ORACLES values may be SQL strings or zero-arg callables returning
    SQL (ADVICE r04: the replay builders read ORACLE_SF_DIR parquet and
    retrain models — resolving them HERE instead of at module import keeps
    ``import openeo_processes_dask_spark.gates`` working on machines
    without the fixture data). The memo is keyed by (builder, fixture
    dir): builders read ORACLE_SF_DIR at call time, so a process that
    switches fixture directories must not get SQL replayed from the old
    one."""
    sf = os.environ.get("ORACLE_SF_DIR")
    out = {}
    for k, v in _merged("ORACLES").items():
        if callable(v):
            key = (v, sf)
            if key not in _ORACLE_MEMO:
                _ORACLE_MEMO[key] = v()
            v = _ORACLE_MEMO[key]
        out[k] = v
    return out

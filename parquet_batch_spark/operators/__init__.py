"""Operator registry.

Each operator module exposes two dicts:

- ``QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]]``
- ``ORACLES: dict[str, str]``  (DuckDB ANSI-SQL equivalents; a query
  with no oracle entry gets the driver's weaker rows-only check)

``all_queries()`` / ``all_oracles()`` aggregate every module for the
driver contract in ``__spark_entry__.py``.
"""

from __future__ import annotations

import glob
import json
import os
import re
from collections.abc import Callable
from functools import lru_cache
from importlib import import_module

from pyspark.sql import DataFrame, SparkSession

# Registry emission order.  The correctness driver hard-checks only the
# first ~50 registry entries per round, so ordering is coverage policy.
#
# Rotation is mechanical: ``current_window()`` puts the ops changed this
# round first (``_CHANGED_THIS_ROUND``), then the entries whose most
# recent driver check is oldest (by last-checked round from
# CORRECTNESS_r*.json; ties broken by module order).  At 466 entries and
# a 50-slot window every op is re-certified at least every ~10 rounds.

# Ops whose implementation or oracle changed, keyed by the round the
# change happened in.  They jump to the window head (displacing the
# window tail) UNTIL the op ITSELF appears green in a CORRECTNESS
# artifact of that round or later — at which point the driver certified
# it and the entry retires AUTOMATICALLY (``_active_changed``; ADVICE
# r10 #1 closed the manual-reset gap, ADVICE r11 #1 made retirement
# per-op: an op the driver skipped, or that failed its row, keeps its
# head slot instead of silently dropping).  Add every op you touch,
# mapped to max(current round, latest committed CORRECTNESS round + 1)
# — an op touched AFTER this round's artifact already landed must map
# to the NEXT round or it is born retired (ADVICE r11 #2;
# test_changed_entries_not_born_retired pins this).  Never delete
# entries by hand — stale ones are inert and document change history.
# r10 (certified by CORRECTNESS_r10.json, auto-retired): semdedup cell
# cap; Holt/Bradley-Terry/TextRank reduce-then-fold rewrites.
_CHANGED_THIS_ROUND: dict[str, int] = {
    "window_holt_linear_trend": 10,
    "ml_bradley_terry_ranking": 10,
    "text_textrank_keywords": 10,
    # r11: the 12-round power-iteration loop (tiny joins + periodic
    # localCheckpoints, a ~2-3 s scheduling floor) folded into one
    # aggregate() expression over the one-row-packed types x types
    # matrix; identical integer trajectory, oracle unchanged.
    "seq_markov_stationary": 11,
    # r11: SemDeDup assignment moved to the two-level (coarse -> fine)
    # quantizer, O(N*sqrt(K)) instead of flat Theta(N*K) (VERDICT r10
    # #2); assignments near coarse boundaries can differ from flat, so
    # the oracle SQL mirrors the two-level form and the op re-certifies.
    # r12 (key re-bumped, comment is the history): SemDeDup collapses
    # exact-duplicate vectors to min-id representatives BEFORE the
    # quantizer and sizes K from the DISTINCT count (VERDICT r11 #4) —
    # all quadratic work now sees only distinct mass, members rejoin by
    # one linear equi-join; oracle mirrors the collapse CTE-for-CTE.
    "dedup_semantic_cluster": 12,
    # r11: PCA reads the corpus ONCE (64x64 second-moment reduce, then
    # integer power iteration on the reduced matrix) instead of two
    # corpus passes + a corpus-wide cache; normalization moved to pure
    # integer round-half-away so both engines agree without floats.
    # Values change (new quantization path), oracle rewritten to match.
    # r12 (key re-bumped — a dict key can't repeat, the comment is the
    # history): partial_moments now asserts the |xq| exactness bound
    # before the int64 matmul (ADVICE r11 #3) — no semantic change for
    # valid data, but the code path changed, so it re-certifies.
    "embedding_pca_power_iteration": 12,
    # r12 optimization round — result-identical plan restructures, each
    # re-certifies because the implementation changed:
    # facility location: center vectors now embed as Literal array
    # nodes (two speculative redesigns were measured SLOWER at sf0.1
    # and reverted — negative results in the docstring).
    "sample_facility_location": 12,
    # k-center: running min-distance maintained incrementally
    # (least(md, d_new)) instead of re-folding all t centers per round.
    "sample_coreset_kcenter": 12,
    # geometric median: posexplode+groupBy(dim) replaced by grouping-
    # free 64-column element_at sum aggregates (mean + Weiszfeld).
    # r13 (key re-bumped): REVERTED to the posexplode form — the r12
    # shape was a driver-confirmed 1.87× sf0.1 regression (VERDICT r12
    # #1); phase-level A/B in commit f2682d4 (tools/ab_gm.py) localized
    # it to the no-grouping 64-sum aggregates.  r14 (key re-bumped):
    # the cached quantized rows are unpersisted once the last Weiszfeld
    # pass is collected (one persistent RDD per call leaked before).
    "embedding_geometric_median": 14,
    # simhash: fingerprint subtree localCheckpoint'd so the band
    # self-join stops re-computing the vote aggregate twice.
    "dedup_simhash": 12,
    # basket pairs: self-equi-join replaced by sorted distinct-brand
    # arrays + in-array combination expansion (same pair multiset).
    "agg_basket_pairs": 12,
    # CMS heavy hitters: vocab-bounded bucket table checkpointed (was
    # CMS_D+1 corpus tokenize passes) + the D grid groupBys fused into
    # one explode+groupBy shuffle.
    "approx_heavy_hitters_cms": 12,
    # Cavnar-Trenkle langid: language profile counts now reduce from
    # the checkpointed (doc, gram) counts — one corpus explode+shuffle
    # instead of two.
    "text_langid_ngram_profile": 12,
    # linear interpolate: the bucket groupBy feeding both spine and
    # join is checkpointed (was computed twice).
    "window_linear_interpolate": 12,
    # literal-array conversions (CreateArray(64 lits) -> one Literal
    # node) in the hyperplane bucketer / polynomial fingerprint.
    "ann_lsh_bucketed": 12,
    "text_fingerprint": 12,
    # HITS: iterations restructured to literal-authority-map folds
    # over per-doc vocab-token arrays — zero corpus-side joins in the
    # loop (was edges⋈auth broadcast + edges⋈hubs shuffle join per
    # iteration); bounded ≤VOCAB-row driver normalization.
    # r13 (key re-bumped): driver-side vocab-coverage assert added
    # (ADVICE r12 — the element_at(amap, w) fold must fail loudly if
    # the coverage invariant ever breaks); distributed plan unchanged.
    "graph_hits_bipartite": 13,
    # duplicated-subtree checkpoints: the (doc, hash) window stream /
    # gram stream / day-grain reduce feeding 2+ consumers is
    # localCheckpoint'd so the corpus derivation runs once.
    "dedup_exact_substring": 12,
    "decontam_ngram_overlap": 12,
    # r13 (key re-bumped): the 4 per-lag branches collapsed into ONE
    # exploded-lag pipeline keyed by (n, chunk) — one groupBy, one
    # window pass, one broadcast join, one per-lag aggregate (66
    # Exchange nodes → single digits); bit-identical addends, pinned
    # by test_r13_ops.test_hurst_exploded_lags_bit_identical...
    "window_hurst_exponent": 13,
    "window_acf_lags": 12,
    "window_haar_wavelet_energy": 12,
    # Ljung-Box: all LB_LAGS lag moments from ONE window pass + ONE
    # aggregate (was one windowed branch per lag union'd + re-pivot).
    "window_ljung_box": 12,
    # k-means: centroid update via groupBy(k) + 64 element_at sums
    # (was posexplode + groupBy(k, d)); same integer trajectory.
    # r13 (key re-bumped, entry moved below): that update REVERTED.
    # BPE: bounded vocab checkpointed per merge round (the loop was
    # quadratic in plan replays); output assembled from the collected
    # argmax scalars instead of a union of recomputing subtrees.
    "text_bpe_merges": 12,
    # r13: tf (doc, term) reduce checkpointed — it feeds BOTH the
    # document-frequency reduce and the scoring join, so the corpus
    # tokenize+explode+groupBy planned twice (Exchange 8 -> 4).
    "text_tfidf_topk": 13,
    # r13: rank checkpoints every OTHER power iteration (kcore's
    # measured cadence; A/B 3.08 -> 2.37 s) — half the per-round job
    # launches, identical integer trajectory.
    "graph_pagerank": 13,
    # r13 (key re-bumped from 12): centroid update REVERTED to
    # posexplode + groupBy(k, d) — the same finding as the geometric-
    # median revert (wide multi-sum aggregates lose to Generate +
    # hash-agg; A/B in commit 8f30727 (tools/ab_kmeans_update.py) 0.62
    # vs 0.91 s).
    "ml_kmeans_lloyd": 13,
    # r13 duplicated-subtree checkpoints (the r12 disease, second
    # sweep): the vocab²-bounded bigram-count reduce feeds 2-4
    # consumers in each LM op and was replanned per consumer; naive
    # Bayes additionally derives its model FROM the checkpointed
    # (doc, lang, w) tf table (Σ tf = the same integer counts), so
    # the corpus tokenize+explode runs once, not four times (final
    # plan: 10 parquet scans -> 0, 10 Generate -> 0).
    "text_bigram_surprisal": 13,
    "text_kneser_ney_score": 13,
    "quality_perplexity_buckets": 13,
    "ml_naive_bayes_langid": 13,
    # r13 duplicated-subtree sweep, third batch (found by the plan
    # audit: same parquet file scanned 4-15× in one plan).  Reduced/
    # bounded shared tables checkpointed; fellegi's per-field rows now
    # unpivot the 1-row aggregate via explode instead of replanning
    # the pair pipeline per field (15 scans -> 5); naive reductions
    # (totals/vocab from counts, dsir from the (doc,bucket) grain)
    # are Σ-of-counts = counts, exact; degree_histogram now consumes
    # the SHARED memoized segment_edges table it was documented to
    # share all along (5 scans -> 1).
    "text_dsir_importance": 13,
    "window_peak_concurrency": 13,
    "dedup_fellegi_sunter_weights": 13,
    "quality_ndcg_ranking_eval": 13,
    "text_js_divergence": 13,
    "text_burrows_delta": 13,
    "text_overlap_stitch": 13,
    "multimodal_dedup_phash": 13,
    "dedup_incremental_novelty": 13,
    "graph_degree_histogram": 13,
    # r14: the foreachBatch merge detaches its compacted result and
    # removes its staging dir; the two state-source ops stop their
    # query on the exception path (the _drain rule).
    "streaming_foreach_batch_merge": 14,
    "streaming_state_store_read": 14,
    "streaming_state_metadata_source": 14,
    # r14: BM25's stats and scoring branches read one doc_id exchange
    # of the per-doc rows, so documents is scanned and split once.
    "text_bm25_topk": 14,
    # r14: the corpus norm moments are one 1-row aggregate broadcast
    # back to the rows, not a partitionless window over every row.
    "embedding_norm_outliers": 14,
}

_WINDOW_SIZE = 50

_MODULES = [
    "parquet_batch_spark.operators.scans",
    "parquet_batch_spark.operators.sources_ext",
    "parquet_batch_spark.operators.relational",
    "parquet_batch_spark.operators.joins",
    "parquet_batch_spark.operators.tpch",
    "parquet_batch_spark.operators.tpch2",
    "parquet_batch_spark.operators.windows",
    "parquet_batch_spark.operators.analytics",
    "parquet_batch_spark.operators.scalar_funcs",
    "parquet_batch_spark.operators.udfs",
    "parquet_batch_spark.operators.text_analysis",
    "parquet_batch_spark.operators.dedup",
    "parquet_batch_spark.operators.similarity",
    "parquet_batch_spark.operators.multimodal",
    "parquet_batch_spark.operators.pipeline_ops",
    "parquet_batch_spark.operators.llm_prep",
    "parquet_batch_spark.operators.warehouse",
    "parquet_batch_spark.operators.scale_ops",
    "parquet_batch_spark.operators.corpus_ops",
    "parquet_batch_spark.operators.stats_ops",
    "parquet_batch_spark.streaming.windows",
]


def _modules():
    """Import every registry module.  A module that fails to import
    raises: skipping it would drop its ops from the registry and shrink
    every test parametrized over it instead of failing."""
    for name in _MODULES:
        yield import_module(name)


def _entry_green(entry) -> bool:
    """Whether a CORRECTNESS artifact row certifies its op (ADVICE r11
    #1: mere presence is not certification — a row recorded with
    rows_match=False / hash_match=False / err set must NOT advance the
    op's last-checked round, or a failing op loses its head slot and
    its re-certification priority)."""
    if not isinstance(entry, dict):
        return True  # legacy list-form artifact: presence = checked
    if entry.get("err"):
        return False
    return all(
        entry.get(k) is not False
        for k in ("rows_match", "schema_match", "hash_match")
    )


@lru_cache(maxsize=1)
def _last_checked() -> tuple[tuple[str, int], ...]:
    """name -> most recent driver round it appeared GREEN in, harvested
    from the committed CORRECTNESS_r*.json artifacts (absent or only
    failed = never certified).  Hashable tuple so the window
    computation is cacheable; artifacts never change within one
    process."""
    repo = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    latest: dict[str, int] = {}
    for f in glob.glob(os.path.join(repo, "CORRECTNESS_r*.json")):
        m = re.match(r"CORRECTNESS_r(\d+)\.json$", os.path.basename(f))
        if not m:
            continue
        rnd = int(m.group(1))
        try:
            with open(f) as fh:
                rows = json.load(fh)
        except (OSError, ValueError):
            continue
        entries = rows.items() if isinstance(rows, dict) else ((n, None) for n in rows)
        for name, entry in entries:
            if _entry_green(entry):
                latest[name] = max(latest.get(name, 0), rnd)
    return tuple(sorted(latest.items()))


def _active_changed(seen: dict[str, int] | None = None) -> list[str]:
    """The changed-op head still awaiting driver certification: a
    ``_CHANGED_THIS_ROUND`` entry is active while its round is NEWER
    than the most recent round THE OP ITSELF passed a driver check in
    (per-op, ADVICE r11 #1 — an op the driver skipped or failed stays
    at the head; a global latest-artifact test would retire it the
    moment ANY artifact landed)."""
    if seen is None:
        seen = dict(_last_checked())
    return [n for n, rnd in _CHANGED_THIS_ROUND.items() if rnd > seen.get(n, 0)]


def _stalest_window(
    names: list[str],
    seen: dict[str, int],
    changed: list[str],
    size: int = _WINDOW_SIZE,
) -> list[str]:
    """The standing-rotation window: ops changed this round lead, then
    stalest-first (never-checked = round 0), ties broken by ``names``
    order (module order — stable across rotations).  Pure function so
    the policy itself is unit-testable."""
    head = [n for n in changed if n in set(names)]
    idx = {n: i for i, n in enumerate(names)}
    rest = sorted(
        (n for n in names if n not in head),
        key=lambda n: (seen.get(n, 0), idx[n]),
    )
    return (head + rest)[:size]


def current_window(names: list[str] | None = None) -> list[str]:
    """This round's driver-check window (registry slots 1-N): the
    mechanical stalest-first rotation of ``_stalest_window``."""
    if names is None:
        names = list(_raw_queries())
    seen = dict(_last_checked())
    return _stalest_window(names, seen, _active_changed(seen))


def _prioritized(mapping: dict) -> dict:
    """Re-emit ``mapping`` with this round's driver window first (in
    window order), then the remainder in module order."""
    out = {k: mapping[k] for k in current_window(list(mapping)) if k in mapping}
    out.update((k, v) for k, v in mapping.items() if k not in out)
    return out


def _raw_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """The registry in plain module order (un-rotated)."""
    out: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
    for mod in _modules():
        for key, fn in getattr(mod, "QUERIES", {}).items():
            if key in out:
                raise ValueError(f"duplicate query name {key!r} in {mod.__name__}")
            out[key] = fn
    return out


def all_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return _prioritized(_raw_queries())


def all_oracles() -> dict[str, str]:
    out: dict[str, str] = {}
    for mod in _modules():
        out.update(getattr(mod, "ORACLES", {}))
    return _prioritized(out)

"""Query registry — the correctness surface of the engine.

Each module contributes ``QUERIES`` (name → callable(spark, sf_dir) →
DataFrame) and ``ORACLES`` (name → equivalent DuckDB SQL, omitted for
ops that are not SQL-expressible). ``__spark_entry__.py`` re-exports the
merged registries; the driver cross-checks every pair at sf=0.01.

Coverage map (SURVEY.md §2 → module):
  §2.1 scans/sources      — every query (parquet scan + pruning)
  §2.2 filters/predicates — relational.q_mean_filter / q_charset_stats
  §2.3 joins              — relational.q_region_revenue / q_anti_missing
  §2.4 aggregations       — relational.q_charfreq / q_fusion_argmax / ...
  §2.5 windows/order      — relational.q_gaps_islands / q_topn_per_group / ...
  §2.6 sorts/set ops      — relational.q_len_hist / q_union_nations / q_train_split
  §2.7 scalar functions   — textstats.* (string/regex/hash exprs)
  §2.8 dedup              — dedup.* (exact / minhash-LSH / simhash / jaccard)
  §2.9 incremental        — lineage.py (tested in pytest, not SQL-expressible)
  §2.10 UDF surface       — extraction.* (mapInPandas kernels, golden-tested)
  training-data ops       — dedup.*, simsearch.*, textstats.*, corpusops.*,
                            relevance.*, labeldsl.*, governance.*

An entry stays only while it anchors a SURVEY.md §2 row or oracles a
kernel the curation pipeline runs.
"""

from __future__ import annotations

from . import (
    corpusops,
    dedup,
    extraction,
    governance,
    labeldsl,
    relational,
    relevance,
    simsearch,
    textstats,
)

_MODULES = (
    relational,
    dedup,
    textstats,
    simsearch,
    relevance,
    corpusops,
    extraction,
    labeldsl,
    governance,
)

QUERIES = {}
ORACLES = {}
for _m in _MODULES:
    QUERIES.update(_m.QUERIES)
    ORACLES.update(getattr(_m, "ORACLES", {}))

# Governance registry for the rows-only entries: every query WITHOUT a
# DuckDB oracle must be listed here with the reason it cannot be
# SQL-gated AND the check that gates it instead. Enforced by
# tests/test_guards.py: a new rows-only query without a reason (or a
# stale reason for a query that gained an oracle) fails the suite.
# Naming contract: q_* ⇒ oracled, x_* ⇒ rows-only.
_SYNTH_INPUT = (
    "consumes the mapInPandas-synthesized transcripts — no DuckDB view "
    "can reproduce the input; semantics separately oracled via "
    "q_extract_plain_runs / q_pdfish_line_decode / q_span_stats_plain / "
    "q_agreement_vote and the golden byte-equality suite"
)
_RECALL_GATED = (
    "approximate by design — gated by a recall floor against the exact "
    "kNN anchor (tests/test_simsearch.py)"
)
_SKETCH_GATED = (
    "fixed-size sketch — gated by its error bound (FPR / overcount / "
    "relative-sd) and the merge laws (tests/test_corpusops.py, "
    "test_property.py)"
)
ROWS_ONLY = {
    "x_extract_turns": _SYNTH_INPUT,
    "x_assemble_convs": _SYNTH_INPUT,
    "x_conv_dedup": _SYNTH_INPUT,
    "x_corpus_curate": _SYNTH_INPUT,
    "x_transcript_curate": _SYNTH_INPUT,
    "x_extract_fused": _SYNTH_INPUT,
    "x_extract_vote": _SYNTH_INPUT,
    "x_extract_ab_diff": _SYNTH_INPUT,
    "x_word_boxes": _SYNTH_INPUT,
    "x_span_stats": _SYNTH_INPUT,
    "x_knn_lsh": _RECALL_GATED,
    "x_knn_ivf": _RECALL_GATED,
    "x_knn_ivf_sq8": _RECALL_GATED,
    "x_knn_pq": _RECALL_GATED,
    "x_ann_rerank": _RECALL_GATED,
    "x_semdedup": (
        "iterative k-means clustering — gated by a 0.95 recall floor "
        "against the all-pairs anchor (tests/test_simsearch.py)"
    ),
    "x_canonical_election": (
        "iterative PageRank keeper election — pinned against a numpy "
        "power-iteration reference (tests/test_simsearch.py)"
    ),
    "x_zonemap_audit": (
        "file-provenance query (input_file_name zone maps) — the "
        "driver's DuckDB views erase file identity, so the "
        "cross-engine gate lives in tests/test_zonemap.py with "
        "path-aware read_parquet(filename=true) SQL at three SFs"
    ),
    "x_neardup_centrality": (
        "iterative PageRank over the near-dup graph — pinned against "
        "numpy (tests/test_simsearch.py)"
    ),
    "x_kcore": (
        "iterative peeling fixpoint — not expressible in DuckDB's "
        "monotone recursive CTEs; gated by closed-form kernel graphs "
        "(K4, star, wheel, chain) and a whole-corpus python peeling "
        "replay (tests/test_kcore.py)"
    ),
    "x_incdedup_state": (
        "filesystem-stateful rolling ingest (persisted signature "
        "tables + ledger commits in a temp dir) — no DuckDB view can "
        "reproduce the state machine; the POLICY is oracled via "
        "q_incdedup_fold, and tests/test_incdedup.py pins the "
        "state-backed increments equal to that fold on the union, "
        "resume without recompute, and crash-before-commit "
        "invisibility"
    ),
    "x_bloom_dedup": _SKETCH_GATED,
    "x_cms_heavyhitters": _SKETCH_GATED,
    "x_hll_cardinality": _SKETCH_GATED,
    "x_length_quantiles_approx": (
        "percentile_approx sketch — bracket-pinned against the exact "
        "q_length_quantiles order statistics (tests/test_relevance.py)"
    ),
    "x_bpe_encode": (
        "iterative merge-table application — whole-corpus pure-Python "
        "recount (tests/test_transcript_ops.py)"
    ),
    "x_bpe_train": (
        "iterative merge learning on the capped word-frequency dict — "
        "hand-derived multi-round fixture, tie-break law, and "
        "whole-corpus pure-Python replay (tests/test_vocab_ops.py)"
    ),
    "x_tool_stationary": (
        "iterative power-method eigenvector on the collected k×k "
        "transition matrix — numpy replay, πP = π fixed-point law, "
        "hand-derived two-state chain (tests/test_events_ops.py)"
    ),
    "x_pca_variance": (
        "driver-side covariance eigendecomposition — numpy whole-table "
        "replay, known-answer fixture, shift-invariance and trace "
        "reconciliation (tests/test_pca.py)"
    ),
    "x_pca_project": (
        "projection onto eigh-derived components — per-coordinate "
        "variance pinned to its eigenvalue, mean reconstruction error "
        "pinned to the residual spectrum mass (tests/test_pca.py)"
    ),
}

__all__ = ["QUERIES", "ORACLES", "ROWS_ONLY"]

"""Declared queries (SURVEY.md §7.3) and their DuckDB oracle twins.

Each submodule exposes:
  QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]]
  ORACLE:  dict[str, str]   # DuckDB SQL over the same parquet views
                            # (omit a key -> driver does a rows-only check)

The driver's correctness gate records at most ~50 entries, so the declared
surface is consolidated: the 13 widest queries stay standalone and the rest
are folded into 37 operator-dense composites (`composites.SPEC`), for 50
declared entries / 124 underlying queries total — every SURVEY §2 operator
(including every Structured Streaming job: q86_streaming_parity for
IVM/dedup/tumbling, q95_stateful_stream for the applyInPandasWithState
gate and the sliding/session twins) lands inside a driver-checked entry,
and both REST feeds ride real Python DataSource connectors (q90 reviews,
q96 pr_files+reviews join).  `all_queries()` / `all_oracles()` build that
curated registry; `legacy_queries()` still exposes every original narrow
query for tests and ad-hoc runs.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

# Queries that stay standalone: widest result sets / unique operators where
# a merge would only add noise (each is already operator-dense on its own).
STANDALONE = [
    "q01_pricing_summary",
    "q49_tfidf_top_terms",
    "q53_python_udtf",
    "q62_dedup_clusters",
    "q65_salted_join_revenue",
    "q66_gapfill_ffill",
    "q67_scd2",
    "q68_view_click_attribution",
    "q69_embedding_centroids",
    "q77_corpus_curation",
    "q90_custom_source",
    "q93_embedding_neardup_seeded",
    "q98_custom_source_join",
]


def legacy_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Every original narrow query, pre-consolidation (for tests/ad-hoc)."""
    from . import composites

    return dict(composites._ALL_Q)


def all_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    from . import composites

    out: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
    for name in STANDALONE:
        out[name] = composites._ALL_Q[name]
    out.update(composites.QUERIES)
    return out


def all_oracles() -> dict[str, str]:
    from . import composites

    out: dict[str, str] = {}
    for name in STANDALONE:
        if name in composites._ALL_O:
            out[name] = composites._ALL_O[name]
    out.update(composites.ORACLE)
    return out


def reset_shared_state(spark: SparkSession) -> None:
    """Drop every cross-query memo so the next query run is genuinely cold.

    `spark.catalog.clearCache()` alone is NOT enough for a cold re-run
    (round-3 advice): the depgraph `_SCAN_MEMO` holds localCheckpoint RDD
    blocks that survive clearCache, so warm re-runs would time checkpoint
    reads; conversely clearCache de-registers the `_SH_MEMO`/`_CI_MEMO`
    persists without clearing the dicts, so later queries would silently
    lose the intended cross-query sharing (the memo hands back an
    unpersisted plan and every consumer recomputes it). Explicitly
    unpersist + clear all three; the next access rebuilds and re-persists.
    """
    from . import depgraph_q, llm_q, streaming_q

    # q116/q117's merged snapshot table is filesystem state in a tracked
    # tmpdir; dropping the memo makes the next pass rebuild the whole
    # write->merge->merge chain cold (the point of the bench reset)
    streaming_q._MERGE_MEMO.clear()
    streaming_q._MOR_MEMO.clear()
    streaming_q._BASE_MEMO.clear()
    streaming_q._SMALL_MEMO.clear()
    # _SMALL_START holds the phase-1 handle whose completed future
    # returns the built chain; left in place it hands pass N+1 the
    # pass-N table and the "cold re-run" contract silently breaks
    streaming_q._SMALL_START.clear()
    streaming_q._SMALL_BASE_MEMO.clear()
    streaming_q._OMAX_MEMO.clear()
    for memo in (llm_q._SH_MEMO, llm_q._CI_MEMO, llm_q._PQE_MEMO):
        for df in memo.values():
            try:
                df.unpersist()
            except Exception:
                pass
        memo.clear()
    # the PQ codebooks are COMPUTED from the embeddings fixture (a
    # first-N collect job) — a compute memo, not input staging; leaving
    # it warm would hide that job from every bench pass after the first
    # (the same class of leak as the round-14 _SMALL_START fix)
    llm_q._PQ_BOOK_CACHE.clear()
    # localCheckpoint blocks are owned by the checkpointed RDD; dropping
    # the reference lets the ContextCleaner reclaim them (bench gc.collect()
    # runs right after) and the next access re-scans from source.
    depgraph_q._SCAN_MEMO.clear()
    spark.catalog.clearCache()

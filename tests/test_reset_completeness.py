"""reset_shared_state completeness pin (round-15, VERDICT item 4).

The bench's cold-pass contract hangs on `reset_shared_state` clearing
EVERY cross-run compute memo in e02_spark.queries.*: the round-14
`_SMALL_START` leak (a phase-handle dict missing from the reset) sat
for a full round handing pass N+1 the pass-N merge chain, and nothing
could have caught it structurally. This test makes the next such leak
impossible to add silently:

  * every module-level dict/list/set in the queries package is either
    on the ALLOWED_WARM list below (each entry with its justification)
    or must come back EMPTY from reset_shared_state — enforced by
    seeding a sentinel into each candidate and calling the reset;
  * the ALLOWED_WARM list itself is checked against the live modules,
    so a renamed/retired global fails loudly instead of allowlisting
    a ghost.

Adding a new memo therefore forces a deliberate choice, in this file
or in reset_shared_state — never an accidental warm pass.
"""

from __future__ import annotations

import importlib

from e02_spark.queries import reset_shared_state

_QUERY_MODULES = [
    "composites",
    "curation_q",
    "depgraph_q",
    "kimball_q",
    "llm_q",
    "relational",
    "relational2",
    "relational3",
    "streaming_q",
]

# Globals that legitimately survive a bench-pass reset. Every entry
# carries its reason; anything not listed here must be cleared by
# reset_shared_state or the test fails.
ALLOWED_WARM = {
    # -- static registries, built once at import time, never grow per run
    "QUERIES", "ORACLE", "SPEC", "PARALLEL_GROUPS", "CLONE_SHUFFLE",
    "_ALL_Q", "_ALL_O", "MERGED",
    "STOPWORDS", "_EVENT_TYPES", "_Q111_PATTERNS", "_PROF_NUM",
    "_PROF_STR",
    # -- module-init temporaries of the composites consistency checks
    "_groups", "_declared", "_actual",
    # -- telemetry sink: bench reads it after each pass; each part run
    #    overwrites its own key, so staleness cannot leak timings
    "PART_TIMINGS",
    # -- tmpdir cleanup registries: append-only bookkeeping of paths to
    #    remove at exit, never consulted by a query
    "_TEMP_DIRS",
    # -- INPUT STAGING memos: staged fixture FILES on disk (split docs
    #    feed, orders feed, reviews dir). bench.py stages fixture inputs
    #    once per session by design ("like reading the driver's
    #    testdata"); the streams/queries over them still start fresh
    #    per pass
    "_REVIEWS_DIR_MEMO", "_DOCS_FEED_MEMO", "_ORDERS_FEED_MEMO",
}

_SENTINEL = "__reset_completeness_sentinel__"


def _mutable_globals():
    out = []
    for name in _QUERY_MODULES:
        mod = importlib.import_module(f"e02_spark.queries.{name}")
        for gname, val in vars(mod).items():
            if gname.startswith("__"):
                continue
            if isinstance(val, (dict, list, set)):
                out.append((mod, gname, val))
    return out


def test_allowlist_matches_live_modules():
    live = {gname for _, gname, _ in _mutable_globals()}
    ghosts = ALLOWED_WARM - live
    assert not ghosts, (
        f"ALLOWED_WARM names no longer exist in queries/*: {sorted(ghosts)} "
        "— retire them from the allowlist"
    )


def test_reset_clears_every_compute_memo(spark):
    cands = [
        (mod, gname, val)
        for mod, gname, val in _mutable_globals()
        if gname not in ALLOWED_WARM
    ]
    assert cands, "no reset-covered memos found — enumeration is broken"
    # seed a sentinel into every candidate; reset must empty them all
    # (values needn't be DataFrames: the reset's unpersist loops wrap
    # their calls in try/except by contract)
    for _, _, val in cands:
        if isinstance(val, dict):
            val[_SENTINEL] = _SENTINEL
        elif isinstance(val, list):
            val.append(_SENTINEL)
        else:
            val.add(_SENTINEL)
    try:
        reset_shared_state(spark)
        leaked = sorted(
            f"{mod.__name__.rsplit('.', 1)[-1]}.{gname}"
            for mod, gname, val in cands
            if len(val) != 0
        )
        assert not leaked, (
            "module-level memo(s) survive reset_shared_state — a bench "
            f"pass would silently run warm: {leaked}. Clear them in "
            "reset_shared_state, or add them to ALLOWED_WARM with a "
            "written justification."
        )
    finally:
        # belt-and-braces: never leave a sentinel behind for later tests
        for _, _, val in cands:
            if isinstance(val, dict):
                val.pop(_SENTINEL, None)
            elif isinstance(val, list) and _SENTINEL in val:
                val.remove(_SENTINEL)
            elif isinstance(val, set):
                val.discard(_SENTINEL)

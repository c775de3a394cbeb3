"""The benchmark's workloads: which declared entries each one runs, and why.

`GROUPS` partitions `e02_spark.queries.all_queries()` by whether an entry
writes, keyed by the entries' short `qNN` prefix. `resolve()` fails on any
entry that is missing, unknown or in two groups, so a new or renamed entry
cannot silently fall out of the benchmark.

`TIMED` is the part of each group a run executes. One run, on 4 cores in
a fresh JVM, must finish its set-up, a whole cold pass and the oracle
checks in about a minute (a full measurement, 4 runs plus 22 per
workload, has a fixed time budget), and a cold pass over a full group
takes 50-75 s on its own.
So each workload times the entries that cover every layer its group
stands for. The rest of its group is still classified here, and checked by
the engine's own oracle sweep (`python -m e02_spark.oracle_check`).
"""

from __future__ import annotations

GROUPS: dict[str, list[str]] = {
    # Read-only entries. The relational half (many small jobs over the
    # largest tables, depgraph, kimball.mart, the sources.rest_* connectors)
    # is paid in per-job machinery and io scans with almost no Python
    # crossings; the curation half in ops.text / ops.similarity Arrow
    # crossings, ops.dedup pair shuffles and ops.graph driver loops,
    # including the single-partition documents scan. Never writes a table.
    "mart_text": [
        # relational
        "q01", "q02", "q05", "q07", "q08", "q09", "q11", "q13", "q14",
        "q16", "q17", "q19", "q22", "q23", "q24", "q30", "q43", "q45",
        "q55", "q64", "q65", "q66", "q67", "q68", "q76", "q90", "q98",
        # text curation
        "q26", "q27", "q29", "q31", "q32", "q34", "q36", "q41", "q46",
        "q49", "q53", "q62", "q69", "q74", "q77", "q79", "q81", "q83",
        "q92", "q93",
    ],
    # Writes beside reads: ops.snapshot commits and merges, ops.export,
    # ops.mv / ops.ivm, streaming.jobs and the sources.snapshot_* micro-
    # batches, run as overlapped thread legs. Pays driver-side manifest and
    # commit I/O and stream lifecycle; no Python SQL crossings.
    "lakehouse_stream": ["q116", "q86", "q95"],
}

TIMED: dict[str, list[str]] = {
    "mart_text": [
        # io scans and joins over lineitem/orders, kimball.mart (q02),
        # JSON extraction (q22)
        "q01", "q02", "q22",
        # Arrow TF-IDF (q49), lexicon BPE (q29), Python UDTF (q53), and
        # the minhash pairs + ops.graph connected components of q62
        "q29", "q49", "q53", "q62",
    ],
    # write -> delete-merge -> upsert-merge chain with CoW, MoR and
    # equality-delete legs, change feed, IVM + persisted and streamed MV,
    # and CDF-stream replication: six overlapped legs
    "lakehouse_stream": ["q116"],
}

# Entries a traced run executes once more, untimed and after its timed
# passes, so that a layer no timed entry reaches still has its ledger row:
# q86 is the only entry that calls ops.export (21 s cold, too long to time
# beside q116 in one run).
TRACE_ONLY: dict[str, list[str]] = {
    "mart_text": [],
    "lakehouse_stream": ["q86"],
}

# (untimed warm-up passes, timed passes) per run. A fresh JVM runs its
# first pass over short entries at a third of their warm speed and its
# second still ~20 % slow, and which entry pays the first touch of a code
# path depends on the seed's order; two warm-up passes make the timed
# passes comparable. The lakehouse entry
# is one long entry (~250 jobs) whose cold pass alone fills the run's
# time budget, so it is timed cold, once.
PASSES: dict[str, tuple[int, int]] = {
    "mart_text": (2, 2),
    "lakehouse_stream": (0, 1),
}


def resolve(names: list[str]) -> dict[str, str]:
    """Map each entry's `qNN` prefix to its full registry name.

    Raises ValueError unless GROUPS partitions `names` exactly and every
    timed or trace-only entry belongs to its workload's group."""
    by_prefix: dict[str, str] = {}
    for name in names:
        prefix = name.split("_", 1)[0]
        if prefix in by_prefix:
            raise ValueError(f"two entries share the prefix {prefix}")
        by_prefix[prefix] = name
    seen: dict[str, str] = {}
    for workload, prefixes in GROUPS.items():
        for prefix in prefixes:
            if prefix not in by_prefix:
                raise ValueError(f"{workload}: no declared entry {prefix}")
            if prefix in seen:
                raise ValueError(f"{prefix} is in {seen[prefix]} and {workload}")
            seen[prefix] = workload
    missing = sorted(set(by_prefix) - set(seen))
    if missing:
        raise ValueError(f"declared entries in no workload: {missing}")
    for picked in (TIMED, TRACE_ONLY):
        for workload, prefixes in picked.items():
            stray = [p for p in prefixes if seen.get(p) != workload]
            if stray:
                raise ValueError(f"{workload} runs entries outside its group: {stray}")
    return by_prefix

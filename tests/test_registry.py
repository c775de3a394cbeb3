"""Registry invariants for the consolidated query surface.

The driver's correctness gate records ~50 entries max; these pins make
sure the consolidation stays sound as queries are added: every narrow
query is declared exactly once (standalone or inside exactly one
composite), the declared count stays under the gate cap, and composite
column specs match the narrow queries' actual output schemas (a drifted
spec would silently NULL-pad a real column).
"""

from __future__ import annotations

from e02_spark.queries import STANDALONE, all_oracles, all_queries, legacy_queries
from e02_spark.queries.composites import SPEC, _ALL_Q, MERGED

GATE_CAP = 50


def test_every_narrow_query_declared_exactly_once():
    narrow = set(legacy_queries())
    assert set(STANDALONE).isdisjoint(MERGED)
    assert set(STANDALONE) | MERGED == narrow


def test_no_narrow_query_in_two_composites():
    seen: dict[str, str] = {}
    for comp, parts in SPEC.items():
        for _, qname, _ in parts:
            assert qname not in seen, f"{qname} in both {seen[qname]} and {comp}"
            seen[qname] = comp


def test_declared_count_under_gate_cap():
    qs = all_queries()
    assert len(qs) <= GATE_CAP
    assert set(all_oracles()) <= set(qs)


def test_composite_specs_match_narrow_schemas(spark):
    """Each part's column list must exactly equal the narrow query's output
    columns (order-insensitive) — otherwise the composite would project a
    missing column (error) or silently drop one (coverage loss)."""
    sf = "/root/testdata/sf0.001"
    for comp, parts in SPEC.items():
        for _tag, qname, cols in parts:
            actual = set(_ALL_Q[qname](spark, sf).columns)
            spec = {c for c, _kind in cols}
            assert spec == actual, f"{comp}/{qname}: spec {spec} != schema {actual}"


def test_reset_shared_state_drops_and_repersists(spark):
    """Round-4 bench methodology guard (round-3 advice): after
    reset_shared_state, (a) every memo is empty, (b) the next access
    rebuilds AND re-persists — clearCache alone used to de-register the
    persists while the memo dicts kept handing back unpersisted plans,
    silently defeating the intended cross-query sharing."""
    from e02_spark.queries import depgraph_q, llm_q, reset_shared_state

    sf = "/root/testdata/sf0.001"
    sh1 = llm_q._shared_shingles(spark, sf)
    depgraph_q._scan_product(spark, "flat").count()
    assert llm_q._SH_MEMO and depgraph_q._SCAN_MEMO
    assert sh1.storageLevel.useMemory or sh1.storageLevel.useDisk

    reset_shared_state(spark)
    assert not llm_q._SH_MEMO
    assert not llm_q._CI_MEMO
    assert not depgraph_q._SCAN_MEMO
    assert not sh1.storageLevel.useMemory and not sh1.storageLevel.useDisk

    sh2 = llm_q._shared_shingles(spark, sf)
    assert sh2 is not sh1
    assert sh2.storageLevel.useMemory or sh2.storageLevel.useDisk
    reset_shared_state(spark)


def test_stream_shuffle_scope_restores_conf(spark):
    """_stream_shuffle must restore spark.sql.shuffle.partitions even when
    the body raises (a timed-out stream raises through it)."""
    import pytest as _pytest

    from e02_spark.queries.streaming_q import _stream_shuffle

    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)
    with _stream_shuffle(spark, 8):
        assert spark.conf.get(key) == "8"
    assert spark.conf.get(key) == before
    with _pytest.raises(RuntimeError):
        with _stream_shuffle(spark, 8):
            raise RuntimeError("boom")
    assert spark.conf.get(key) == before


def test_shuffle_scope_same_thread_nesting_restores(spark):
    """Scopes nest: an inner exit restores the enclosing scope's width,
    the outermost exit restores the session value. (Concurrent scopes on
    one session do not arise: every concurrent composite part runs on
    its own cloned session.)"""
    from e02_spark.session import scoped_shuffle_partitions

    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)
    with scoped_shuffle_partitions(spark, 8):
        assert spark.conf.get(key) == "8"
        with scoped_shuffle_partitions(spark, 4):  # same-thread nest
            assert spark.conf.get(key) == "4"
            with scoped_shuffle_partitions(spark, 4):  # same width nested
                assert spark.conf.get(key) == "4"
            assert spark.conf.get(key) == "4"
        assert spark.conf.get(key) == "8"  # enclosing scope restored
    assert spark.conf.get(key) == before

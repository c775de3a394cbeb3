"""The composites' one concurrency model.

* `overlap()` (e02_spark/overlap.py) joins every leg on every exit path
  and surfaces every leg failure — pinned here in pure Python, no Spark.
* Every member of a `composites.PARALLEL_GROUPS` group runs on its own
  cloned session at its own shuffle width, and the caller's session is
  left as it was.
* No other thread pool may be hand-built in the engine: a scan of
  e02_spark/ fails on any `ThreadPoolExecutor(` or `threading.Thread(`
  outside the helper and the one documented exception.
"""

from __future__ import annotations

import ast
import os
import threading
import time
from pathlib import Path

import pytest

import e02_spark
from e02_spark.overlap import overlap


def _legs(n: int, fail: set[int] = frozenset(), delays=None):
    """n legs returning their index (or raising ValueError(index) for an
    index in `fail`) after `delays[i]` seconds; records each leg's
    thread and its finish in the returned lists."""
    threads: list[threading.Thread] = []
    finished: list[int] = []
    delays = delays or [0.05] * n

    def leg(i):
        def run():
            threads.append(threading.current_thread())
            time.sleep(delays[i])
            finished.append(i)
            if i in fail:
                raise ValueError(i)
            return i

        return run

    return [leg(i) for i in range(n)], threads, finished


def test_results_come_back_in_leg_order():
    # the legs FINISH in reverse order; the futures stay in leg order
    legs, _, finished = _legs(3, delays=[0.4, 0.2, 0.0])
    with overlap(*legs) as futures:
        pass
    assert finished == [2, 1, 0]
    assert [f.result() for f in futures] == [0, 1, 2]


def test_failing_leg_raises_only_after_every_sibling_returned():
    legs, _, finished = _legs(3, fail={0}, delays=[0.0, 0.3, 0.2])
    with pytest.raises(ValueError):
        with overlap(*legs):
            pass
    assert sorted(finished) == [0, 1, 2]

    # the body reading the failed leg early raises at once in the body,
    # and the block still joins the siblings before it propagates
    legs, _, finished = _legs(3, fail={0}, delays=[0.0, 0.3, 0.2])
    with pytest.raises(ValueError):
        with overlap(*legs) as futures:
            futures[0].result()
    assert sorted(finished) == [0, 1, 2]


def test_first_failure_in_leg_order_is_raised():
    legs, _, _ = _legs(2, fail={0, 1}, delays=[0.2, 0.0])
    with pytest.raises(ValueError) as err:
        with overlap(*legs):
            pass
    assert err.value.args == (0,)


def test_raising_body_still_joins_every_leg():
    legs, _, finished = _legs(3, delays=[0.2, 0.3, 0.1])
    with pytest.raises(RuntimeError, match="body"):
        with overlap(*legs):
            raise RuntimeError("body")
    assert sorted(finished) == [0, 1, 2]


@pytest.mark.parametrize("fail", [set(), {1}])
@pytest.mark.parametrize("body_raises", [False, True])
def test_no_leg_thread_outlives_the_block(fail, body_raises):
    legs, threads, _ = _legs(3, fail=fail, delays=[0.1, 0.2, 0.0])
    try:
        with overlap(*legs):
            if body_raises:
                raise RuntimeError("body")
    except (RuntimeError, ValueError):
        pass
    assert len(threads) == 3
    assert not any(t.is_alive() for t in threads)
    assert threading.current_thread() not in threads


# -- composites: one cloned session per concurrent part ---------------------


def test_group_members_run_on_own_sessions_at_their_widths(spark, monkeypatch):
    from e02_spark.queries import composites

    name = "q86_streaming_parity"  # mixes CLONE_SHUFFLE and default widths
    key = "spark.sql.shuffle.partitions"
    seen: dict[str, tuple] = {}

    def stub(tag, cols):
        def run(session, sf_dir):
            seen[tag] = (session, session.conf.get(key))
            schema = ", ".join(
                f"`{c}` {'string' if kind == 's' else 'double'}"
                for c, kind in cols
            )
            return session.createDataFrame([], schema)

        return run

    for tag, qname, cols in composites.SPEC[name]:
        monkeypatch.setitem(composites._ALL_Q, qname, stub(tag, cols))
    before = spark.conf.get(key)
    spark.conf.set(key, "3")
    try:
        composites.QUERIES[name](spark, "unused-sf-dir")
        assert spark.conf.get(key) == "3"  # the caller's width is untouched
    finally:
        spark.conf.set(key, before)

    assert set(seen) == {tag for tag, _, _ in composites.SPEC[name]}
    sessions = [s for s, _ in seen.values()]
    assert len({id(s) for s in sessions}) == len(sessions)
    assert all(s is not spark for s in sessions)
    default = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 8))
    widths = {tag: w for tag, (_, w) in seen.items()}
    assert widths == {
        tag: str(composites.CLONE_SHUFFLE.get(tag, default)) for tag in seen
    }
    assert any(tag in composites.CLONE_SHUFFLE for tag in seen)
    assert any(tag not in composites.CLONE_SHUFFLE for tag in seen)


# -- guard: no hand-built thread pool outside overlap() ----------------------

_POOL_CTORS = {
    ("concurrent.futures", "ThreadPoolExecutor"),
    ("threading", "Thread"),
}

# (module path under e02_spark/, enclosing function) allowed to build one
ALLOWED_POOLS = {
    # the helper itself
    ("overlap.py", "overlap"),
    # a future SHARED across composite parts through _SMALL_START and
    # joined later by q119 and _small_chain(), so no block can own it
    ("queries/streaming_q.py", "_small_chain_start"),
}


def _pool_constructions(tree: ast.Module) -> list[tuple[int, str | None]]:
    """(line, innermost enclosing function) of every ThreadPoolExecutor or
    threading.Thread construction, with import aliases resolved."""
    names: dict[str, tuple[str, str]] = {}  # local name -> (module, attr)
    modules: dict[str, str] = {}  # local name -> module
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom):
            for a in node.names:
                if (node.module, a.name) in _POOL_CTORS:
                    names[a.asname or a.name] = (node.module, a.name)
        elif isinstance(node, ast.Import):
            for a in node.names:
                modules[a.asname or a.name] = a.name
    funcs = [
        n for n in ast.walk(tree)
        if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))
    ]
    out = []
    for node in ast.walk(tree):
        if not isinstance(node, ast.Call):
            continue
        f = node.func
        if isinstance(f, ast.Name):
            hit = f.id in names
        elif isinstance(f, ast.Attribute):
            owner = ast.unparse(f.value)
            hit = (modules.get(owner, owner), f.attr) in _POOL_CTORS
        else:
            hit = False
        if hit:
            inside = [
                fn for fn in funcs
                if fn.lineno <= node.lineno <= fn.end_lineno
            ]
            innermost = max(inside, key=lambda fn: fn.lineno, default=None)
            out.append((node.lineno, innermost.name if innermost else None))
    return out


def test_no_thread_pool_outside_overlap():
    root = Path(e02_spark.__file__).parent
    found = set()
    stray = []
    for path in sorted(root.rglob("*.py")):
        rel = path.relative_to(root).as_posix()
        for line, func in _pool_constructions(ast.parse(path.read_text())):
            if (rel, func) in ALLOWED_POOLS:
                found.add((rel, func))
            else:
                stray.append(f"{rel}:{line} (in {func})")
    assert not stray, (
        "hand-built thread pool(s) in the engine: "
        f"{stray} — run the legs through e02_spark.overlap.overlap"
    )
    # the allowlist is checked against the live code, so a retired
    # exception fails loudly instead of allowlisting a ghost
    assert found == ALLOWED_POOLS

"""The engine's one way to run independent Spark work concurrently.

Spark schedules jobs submitted from several driver threads of one
SparkContext side by side, so independent legs (counts over immutable
inputs, writes to distinct tables, stream drains) pay their fixed job
latency once instead of in sequence. Every such overlap goes through
`overlap`, so every leg is joined and every leg failure surfaces.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator
from concurrent.futures import Future, ThreadPoolExecutor
from contextlib import contextmanager


@contextmanager
def overlap(*legs: Callable[[], object]) -> Iterator[list[Future]]:
    """Run each zero-argument leg on its own thread while the `with` body
    runs in the caller; yields the legs' futures, in leg order.

    Every leg is joined on every exit path, a raising body included, so
    no leg outlives the block. After a clean body the first failed leg
    (in leg order) re-raises; a `.result()` inside the body raises at
    once, and the block still joins the other legs before it propagates.
    """
    pool = ThreadPoolExecutor(max_workers=len(legs) or 1)
    try:
        futures = [pool.submit(leg) for leg in legs]
        yield futures
    finally:
        pool.shutdown(wait=True)
    for f in futures:
        f.result()

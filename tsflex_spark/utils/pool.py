"""Driver-side job overlap (guide §2.6: overlap independent jobs).

Spark's scheduler runs several jobs at once inside one application;
actions are only sequential because driver code calls them sequentially.
``LegPool`` is the ONE place the engine submits independent query legs
(plan building + eager materializations) from background driver threads
so their job barriers overlap — previously five gates carried hand-rolled
``ThreadPoolExecutor`` copies with subtly different shapes, which made
the r10 lazy-checkpoint deadlock hunt harder than it needed to be.

Failure contract: joining a leg that raised first CANCELS every
not-yet-started sibling and WAITS for the running ones before
propagating. A bare ``fut.result()`` that raises while sibling legs keep
running Spark jobs would leak detached work that interleaves with (and
skews) whatever the driver runs next — in the bench, the next gate.

Job descriptions / job groups are thread-local in Spark, so legs running
here are labeled independently of the main thread (guide §1.5).
"""

from __future__ import annotations

from concurrent.futures import Future, ThreadPoolExecutor, wait
from typing import Any, Callable, List

__all__ = ["LegPool"]


class LegPool:
    """Small fixed pool for overlapping independent Spark legs.

    Usage::

        with LegPool(3, "text_stats") as pool:
            a = pool.submit(build_leg_a)
            b = pool.submit(build_leg_b)
            ...main thread keeps building...
            out = out.join(pool.result(a), on=...)
            out = out.join(pool.result(b), on=...)

    The ``with`` block owns the failure contract for the main thread
    too: if anything inside it raises, pending legs are cancelled and
    running ones waited out before the exception leaves the block (a
    raise between ``submit`` and ``result`` would otherwise leave a
    leg's Spark jobs running detached). A normal exit shuts the
    executor down without blocking.
    """

    def __init__(self, max_workers: int, name: str = "leg"):
        self._pool = ThreadPoolExecutor(
            max_workers=max_workers, thread_name_prefix=f"tsflex-{name}"
        )
        self._futs: List[Future] = []
        self._closed = False

    def __enter__(self) -> "LegPool":
        return self

    def __exit__(self, exc_type, exc, tb) -> None:
        if exc_type is None:
            self._shutdown()
        else:
            self._drain_on_error()

    def submit(self, fn: Callable[[], Any]) -> Future:
        fut = self._pool.submit(fn)
        self._futs.append(fut)
        return fut

    def _drain_on_error(self) -> None:
        """Cancel pending legs, wait out the running ones, release threads."""
        for f in self._futs:
            f.cancel()
        wait(self._futs)
        self._shutdown()

    def _shutdown(self) -> None:
        if not self._closed:
            self._closed = True
            self._pool.shutdown(wait=False)

    def result(self, fut: Future) -> Any:
        """Join one leg. On failure, no sibling leg keeps running Spark
        jobs past the raise (cancel + wait), then the error propagates."""
        try:
            return fut.result()
        except BaseException:
            self._drain_on_error()
            raise

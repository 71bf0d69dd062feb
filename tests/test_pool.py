"""LegPool — the driver-side job-overlap helper (guide §2.6).

The contract under test is the FAILURE path: joining a leg that raised
must cancel pending siblings and wait out running ones before
propagating, so no leg keeps running Spark jobs detached into whatever
the driver executes next (the r10 shape — bare ``fut.result()`` over a
``shutdown(wait=False)`` pool — leaked exactly that)."""

import threading
import time

import pytest

from tsflex_spark.utils.pool import LegPool


def test_results_in_any_order():
    pool = LegPool(2, "t")
    a = pool.submit(lambda: 1)
    b = pool.submit(lambda: 2)
    assert pool.result(b) == 2
    assert pool.result(a) == 1


def test_failure_waits_for_running_siblings():
    started = threading.Event()
    finished = []

    def slow_leg():
        started.set()
        time.sleep(0.5)
        finished.append("slow")
        return "slow"

    def bad_leg():
        started.wait(5)
        raise RuntimeError("leg failed")

    pool = LegPool(2, "t")
    slow = pool.submit(slow_leg)
    bad = pool.submit(bad_leg)
    with pytest.raises(RuntimeError, match="leg failed"):
        pool.result(bad)
    # the running sibling was WAITED for before the raise propagated —
    # nothing is still running detached
    assert finished == ["slow"]
    assert slow.done()


def test_failure_cancels_pending_siblings():
    def bad_leg():
        raise RuntimeError("boom")

    ran = []
    pool = LegPool(1, "t")  # 1 worker: the second leg queues behind the first
    bad = pool.submit(bad_leg)
    pending = pool.submit(lambda: ran.append("pending"))
    with pytest.raises(RuntimeError, match="boom"):
        pool.result(bad)
    assert pending.cancelled()
    assert ran == []


def test_with_block_raise_drains_submitted_legs():
    started = threading.Event()
    finished = []

    def slow_leg():
        started.set()
        time.sleep(0.5)
        finished.append("slow")

    ran = []
    with pytest.raises(RuntimeError, match="build failed"):
        with LegPool(1, "t") as pool:
            slow = pool.submit(slow_leg)
            pending = pool.submit(lambda: ran.append("pending"))
            started.wait(5)
            # main-thread plan building raises before any result() join
            raise RuntimeError("build failed")
    # no leg is still running once the exception reaches the caller
    assert finished == ["slow"] and slow.done()
    assert pending.cancelled() and ran == []


def test_with_block_normal_exit_shuts_down():
    with LegPool(2, "t") as pool:
        fut = pool.submit(lambda: 7)
        assert pool.result(fut) == 7
    with pytest.raises(RuntimeError):
        pool.submit(lambda: 8)

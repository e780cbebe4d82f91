"""The shared Subscribe poller's failure reporting (BlockEventBroadcaster).

A failed block poll is retried at the next tick and never ends the
subscriptions, but it must not vanish either: the broadcaster counts every
failed poll and logs one warning per failure streak. Runs without Spark —
the node is a stand-in whose ``block_events_after`` fails on cue.
"""

from __future__ import annotations

import logging
import threading
from types import SimpleNamespace

from rtstore_spark.service import BlockEventBroadcaster


class _FlakyNode:
    """Fails the polls whose (1-based) numbers are in ``fail_on``; signals
    ``done`` once ``polls`` polls have run."""

    def __init__(self, fail_on: set[int], polls: int):
        sc = SimpleNamespace(setJobGroup=lambda *a: None)
        self.store = SimpleNamespace(
            spark=SimpleNamespace(sparkContext=sc),
            state=SimpleNamespace(block=1),
        )
        self.fail_on, self.polls = fail_on, polls
        self.calls = 0
        self.done = threading.Event()

    def block_events_after(self, cursor):
        self.calls += 1
        if self.calls >= self.polls:
            self.done.set()
        if self.calls in self.fail_on:
            raise OSError(f"poll {self.calls} failed")
        return []


def _poll(caplog, fail_on: set[int], polls: int):
    """Run the poller until ``polls`` polls are done; (broadcaster, the
    warnings it logged)."""
    node = _FlakyNode(fail_on, polls)
    bc = BlockEventBroadcaster(node, poll_seconds=0.01)
    with caplog.at_level(logging.WARNING, logger="rtstore_spark.service"):
        token, _q, _cursor = bc.subscribe()
        thread = bc._thread
        assert node.done.wait(30)
        bc.unsubscribe(token)
        thread.join(30)
    assert not thread.is_alive()
    return bc, [r for r in caplog.records if r.name == "rtstore_spark.service"]


def test_failure_streak_is_counted_and_logged_once(caplog):
    bc, records = _poll(caplog, fail_on={1, 2, 3, 4}, polls=4)
    assert bc.poll_errors == 4
    assert len(records) == 1
    assert records[0].levelno == logging.WARNING
    assert isinstance(records[0].exc_info[1], OSError)


def test_each_new_streak_logs_again(caplog):
    # polls 1-3 fail (one streak), 4-5 succeed, 6-7 fail (a second streak)
    bc, records = _poll(caplog, fail_on={1, 2, 3, 6, 7}, polls=8)
    assert bc.poll_errors == 5
    assert len(records) == 2

"""C6: per-request watchdog budget in the fetch stage.

The reference interrupts zombie reads with size-tiered watchdog
timeouts (util/file/FileUtils.java:430-462,750-765;
util/http/ConnSupportUtils.java:1109-1116). The engine's fetch UDF
enforces a per-request budget: a resolver call that exceeds it is
classified ``conn_timeout`` — feeding the same retry (N7) and
timeout-blocking (A2) rules as a network timeout.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from publicationsretriever_spark.plans.rounds import CrawlEngine
from test_blocking_conformance import ErrorWeb


def _make_slow_factory():
    """url->response factory: /slow/ urls stall ~60ms. Defined in
    function scope so cloudpickle ships it BY VALUE (the tests package
    is not importable on executors)."""

    def factory():
        import time

        def resolve(url):
            if "/slow/" in url:
                time.sleep(0.06)
            return {
                "status": 200, "location": None, "content_type": "image/png",
                "content_disposition": None, "content_length": 10,
                "body_kind": "image", "image_id": "img-b", "html_links": [],
            }

        return resolve

    return factory


class SlowWeb(ErrorWeb):
    def _build(self):
        self.payloads["img-b"] = __import__(
            "publicationsretriever_spark.sources.imagecodec",
            fromlist=["make_payload_row"],
        ).make_payload_row("img-b")
        self._seed("fast::000", "https://budget.example.org/files/0/fulltext.pdf")
        self._seed("slow::000", "https://budget.example.org/slow/1/fulltext.pdf")

    def resolver_factory(self):
        return _make_slow_factory()


def test_over_budget_request_becomes_timeout(spark):
    web = SlowWeb()
    engine = CrawlEngine(spark, web, num_buckets=4, request_budget_ms=30)
    state = engine.crawl(web.seeds_df(spark), max_rounds=1)
    rows = {r["id"]: (r["docOrDatasetUrl"], r["couldRetry"])
            for r in state.results.collect()}
    # fast request succeeds normally
    assert rows["fast::000"][0] != "unreachable"
    # slow request tripped the watchdog: unreachable but retryable
    # (conn_timeout, LoaderAndChecker.getWasValidAndCouldRetry :724-767)
    assert rows["slow::000"] == ("unreachable", "true")
    # and it feeds the A2 timeout counter
    counts = {r["domain"]: r["n_timeout"]
              for r in state.domain_counts.collect()}
    assert counts.get("budget.example.org") == 1


def _make_hung_factory():
    """A /hang/ url stalls 30s — far beyond any sane test wall. Only a
    REAL interrupting watchdog lets the task finish fast."""

    def factory():
        import time

        def resolve(url):
            if "/hang/" in url:
                time.sleep(30)
            return {
                "status": 200, "location": None, "content_type": "image/png",
                "content_disposition": None, "content_length": 10,
                "body_kind": "image", "image_id": "img-b", "html_links": [],
            }

        return resolve

    return factory


class HungWeb(SlowWeb):
    def _build(self):
        super()._build()
        self._seed("hung::000", "https://budget.example.org/hang/2/fulltext.pdf")

    def resolver_factory(self):
        return _make_hung_factory()


class UnhungWeb(HungWeb):
    """HungWeb's seeds with the hang removed: /hang/ answers at once."""

    def resolver_factory(self):
        return _make_slow_factory()


def test_watchdog_interrupts_a_hung_resolver(spark):
    """C6 is a true interrupt, not post-hoc classification: a resolver
    that sleeps 30s under a 100ms budget must neither stall the task
    nor poison the fast rows' results.

    The wall bound is relative: a 1-round crawl of the same seeds
    without the hang is the baseline (it carries the host's fixed cost
    of a round; the faster of two runs, so a cold session's one-off
    code generation does not count), and the hung crawl may exceed it
    by at most a third of the hang."""
    import time as _time

    def timed_crawl(web):
        engine = CrawlEngine(spark, web, num_buckets=4, request_budget_ms=100)
        t0 = _time.time()
        state = engine.crawl(web.seeds_df(spark), max_rounds=1)
        rows = {r["id"]: (r["docOrDatasetUrl"], r["couldRetry"])
                for r in state.results.collect()}
        return rows, _time.time() - t0

    baseline = min(timed_crawl(UnhungWeb())[1] for _ in range(2))
    rows, wall = timed_crawl(HungWeb())
    assert wall < baseline + 10, (
        f"task stalled on the hung resolver ({wall:.1f}s vs "
        f"{baseline:.1f}s without the hang)"
    )
    assert rows["hung::000"] == ("unreachable", "true")
    assert rows["fast::000"][0] != "unreachable"


def test_no_budget_means_no_watchdog(spark):
    web = SlowWeb()
    engine = CrawlEngine(spark, web, num_buckets=4)
    state = engine.crawl(web.seeds_df(spark), max_rounds=1)
    rows = {r["id"]: r["docOrDatasetUrl"] for r in state.results.collect()}
    assert rows["slow::000"] != "unreachable"

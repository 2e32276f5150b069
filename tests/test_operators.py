"""Tests for J4 best-url selection and J2 seen-set machinery."""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from publicationsretriever_spark.operators.besturl import pick_best_url_per_id
from publicationsretriever_spark.operators.seen import (
    BloomSketch,
    build_bloom,
    probe_bloom,
)

# (id, urls-in-order, expected pick) — ladder per LoaderAndChecker.java:219-257
BESTURL_CASES = [
    # possible-doc wins over everything, first match breaks the loop
    ("id1", ["https://x.org/page", "https://x.org/a.pdf", "https://y.org/b.pdf"],
     "https://x.org/a.pdf"),
    # handle beats non-doi and doi
    ("id2", ["https://doi.org/10.1/x", "https://x.org/handle/1/2", "https://y.org/p"],
     "https://x.org/handle/1/2"),
    # last handle wins
    ("id3", ["https://x.org/handle/1/2", "https://y.org/handle/3/4"],
     "https://y.org/handle/3/4"),
    # non-doi beats doi
    ("id4", ["https://doi.org/10.1/x", "https://plain.org/article/1"],
     "https://plain.org/article/1"),
    # last non-doi wins (no handle present)
    ("id5", ["https://a.org/art/1", "https://b.org/art/2"], "https://b.org/art/2"),
    # only doi -> neutral pick
    ("id6", ["https://doi.org/10.1/x"], "https://doi.org/10.1/x"),
]


def test_pick_best_url_per_id(spark):
    rows = [
        (i, n, u)
        for i, urls, _ in BESTURL_CASES
        for n, u in enumerate(urls)
    ]
    df = spark.createDataFrame(rows, ["id", "order_in_id", "url"])
    best = {
        r["id"]: r["url"]
        for r in pick_best_url_per_id(df).filter(F.col("is_best")).collect()
    }
    for i, _urls, want in BESTURL_CASES:
        assert best[i] == want, f"{i}: got {best[i]!r}, want {want!r}"


def test_bloom_sketch_no_false_negatives():
    rng = np.random.default_rng(42)
    keys = rng.integers(-(2**62), 2**62, size=50_000, dtype=np.int64)
    other = rng.integers(-(2**62), 2**62, size=50_000, dtype=np.int64)
    s = BloomSketch.for_capacity(len(keys), fpp=0.01)
    s.add(keys)
    assert s.contains(keys).all(), "bloom must never false-negative"
    fpr = s.contains(np.setdiff1d(other, keys)).mean()
    assert fpr < 0.03, f"false-positive rate too high: {fpr}"


def test_bloom_merge_is_union():
    a = BloomSketch.for_capacity(1000)
    b = BloomSketch.for_capacity(1000)
    ka = np.arange(0, 500, dtype=np.int64)
    kb = np.arange(500, 1000, dtype=np.int64)
    a.add(ka)
    b.add(kb)
    merged = a.merge(b)
    assert merged.contains(ka).all() and merged.contains(kb).all()


def test_mark_seen_equivalence(spark):
    """mark_seen (single-join marker, used by the round engine) must
    split the frontier exactly like the anti-join/semi-join pair, on
    both the exact path and the bloom-prefiltered path."""
    from publicationsretriever_spark.operators.seen import mark_seen

    frontier = spark.range(0, 10_000).select(
        F.col("id").alias("url_hash"), (F.col("id") % 7).alias("payload")
    )
    seen = spark.range(0, 10_000, 3).select(F.col("id").alias("url_hash"))
    expect_seen = set(range(0, 10_000, 3))
    for threshold in (10**9, 0):  # exact path / bloom path
        marked = mark_seen(frontier, seen, bloom_threshold=threshold).collect()
        got_seen = set(r["url_hash"] for r in marked if r["_seen"])
        got_new = set(r["url_hash"] for r in marked if not r["_seen"])
        assert got_seen == expect_seen
        assert got_new == set(range(10_000)) - expect_seen


def test_probe_bloom_definitely_new_is_correct(spark):
    seen = spark.range(0, 1000).select(F.col("id").alias("url_hash"))
    sketch = build_bloom(seen, "url_hash", capacity=1000)
    frontier = spark.range(500, 1500).select(F.col("id").alias("url_hash"))
    probed = probe_bloom(frontier, "url_hash", sketch).collect()
    for r in probed:
        if not r["maybe_seen"]:
            assert r["url_hash"] >= 1000, "bloom false-negative!"

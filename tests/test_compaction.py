"""Delta-state compaction: the union of per-round delta parts is
periodically rewritten as ONE part (the Iceberg MERGE-compaction
analogue), both in-memory (localCheckpoint parts) and in the snapshot
catalog — without changing any result, and with exact resume across a
compaction boundary."""

from __future__ import annotations

from publicationsretriever_spark.plans.rounds import CrawlEngine
from publicationsretriever_spark.sources.catalog import SnapshotCatalog
from test_blocking_conformance import SpillWeb


def _key(df):
    return sorted((r["id"], r["sourceUrl"], r["docOrDatasetUrl"], r["round"])
                  for r in df.collect())


def test_compaction_and_catalog_resume_across_boundary(spark, tmp_path):
    """One reference crawl (no compaction), then a catalog crawl with
    compact_every=2 interrupted after round 2 and resumed: the delta
    path lists stay bounded, and both the compacted in-memory state and
    the resumed-across-compaction state match the reference exactly."""
    web = SpillWeb()
    reference = CrawlEngine(spark, web, num_buckets=4, host_quota=8,
                            compact_every=99).crawl(
        web.seeds_df(spark), max_rounds=5
    )

    cat = SnapshotCatalog(str(tmp_path / "cat"))
    CrawlEngine(spark, web, num_buckets=4, host_quota=8,
                compact_every=2).crawl(
        web.seeds_df(spark), max_rounds=3, catalog=cat
    )
    # the manifest's delta path list is bounded by compact_every
    for snap in cat.snapshots():
        n_paths = len(snap["tables"]["results"]["paths"])
        assert n_paths <= 2, f"{snap['snapshot_id']}: {n_paths} parts"
    resumed = CrawlEngine(spark, web, num_buckets=4, host_quota=8,
                          compact_every=2).crawl(
        None, max_rounds=5, catalog=cat, resume=True
    )
    assert _key(resumed.results) == _key(reference.results)
    assert set(r[0] for r in resumed.seen.collect()) == set(
        r[0] for r in reference.seen.collect()
    )
    # both stores close a round through one sequence: the per-round
    # lineage (timings and the compaction cadence aside) is equal, and
    # every round records the same driver-phase keys
    lineage = ("frontier_in", "rejected", "fetched", "results",
               "seen_total", "frontier_next", "remaining_evals",
               "remaining_hits", "frontier_offsets", "fetch_counters")
    assert len(resumed.metrics) == len(reference.metrics) == 5
    for got, want in zip(resumed.metrics, reference.metrics):
        assert {k: got[k] for k in lineage} == {k: want[k] for k in lineage}
        assert set(got["driver_phases"]) == set(want["driver_phases"])


def test_write_round_counts_and_schemas_match_the_written_parquet(spark, tmp_path):
    """The snapshot catalog counts each table on its write job and reads
    every part back with the written frame's schema: for an appended
    delta, a compacted delta and a full table, ``rows``/``delta_rows``
    equal a count of the written parquet and each read-back schema
    equals the one Spark infers from the files (nullable everywhere,
    though ``range``'s id is NOT NULL)."""
    from pyspark.sql import functions as F

    def frame(lo, hi):
        return spark.range(lo, hi).select(
            "id",
            F.col("id").cast("string").alias("s"),
            F.array(F.col("id").cast("string")).alias("arr"),
            F.struct((F.col("id") * 0.5).alias("x")).alias("st"),
            F.when(F.col("id") % 2 == 0, F.lit(True)).alias("flag"),
        )

    def counted(paths):
        return spark.read.parquet(*paths).count()

    cat = SnapshotCatalog(str(tmp_path / "cat"))
    for rnd, (lo, hi, compact) in enumerate([(0, 5, False), (5, 12, False),
                                             (12, 15, True)]):
        prior = None if rnd == 0 else {"delta": loaded["delta"]}
        snap, meta, loaded = cat.write_round(
            spark, deltas={"delta": frame(lo, hi)},
            fulls={"full": frame(0, hi).filter(F.col("id") > 2)},
            prior=prior, compact=compact,
        )
        cat.finish_commit(snap, meta, rnd, {})
        d, f = meta["delta"], meta["full"]
        # a compacted part holds the prior rows too: its delta is the
        # part's count minus the parent's rows
        assert d["delta_rows"] == hi - lo == counted(d["paths"][-1:]) - (
            lo if compact else 0
        )
        assert d["rows"] == hi == counted(d["paths"])
        assert len(d["paths"]) == (1 if compact else rnd + 1)
        assert f["rows"] == hi - 3 == counted(f["paths"])
        for name in ("delta", "full"):
            assert loaded[name].schema == spark.read.parquet(
                *meta[name]["paths"]
            ).schema
            assert loaded[name].count() == meta[name]["rows"]
        part = cat.read_part(spark, d["paths"][-1], loaded["delta"].schema)
        assert part.schema == spark.read.parquet(d["paths"][-1]).schema

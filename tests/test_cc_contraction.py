"""Round-6 CC equivalence: the contracted connected_components and the
contraction-first simhash_cluster_labels are row-identical to the
pre-contraction formulation (hash-min + jump over the full verified
pair list)."""

from __future__ import annotations

from pyspark.sql import functions as F

from publicationsretriever_spark.operators.dedup import (
    connected_components,
    hamming_neardup_pairs,
    simhash_cluster_labels,
)


def _reference_cc(pairs):
    """The r5 formulation: hash-min + pointer jump over the full
    distinct symmetric edge list, no contraction."""
    from pyspark.sql import Observation

    e = pairs.select(F.col("id_a").alias("a"), F.col("id_b").alias("b"))
    e = (
        e.union(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    labels = (
        e.select(F.col("a").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
        .localCheckpoint(eager=True)
    )
    label_type = labels.schema["label"].dataType
    for _ in range(30):
        nbr = e.join(
            labels.select(
                F.col("node").alias("_bn"), F.col("label").alias("_bl")
            ),
            F.col("b") == F.col("_bn"),
        ).select(
            F.col("a").alias("node"),
            F.col("_bl").alias("_cand"),
            F.lit(None).cast(label_type).alias("_self"),
        )
        own = labels.select(
            F.col("node"),
            F.col("label").alias("_cand"),
            F.col("label").alias("_self"),
        )
        stepped = (
            nbr.union(own)
            .groupBy("node")
            .agg(F.min("_cand").alias("label"), F.max("_self").alias("_prev"))
        )
        jump = stepped.select(
            F.col("node").alias("_jn"), F.col("label").alias("_jl")
        )
        obs = Observation()
        new = (
            stepped.join(jump, stepped["label"] == jump["_jn"], "left")
            .select(
                F.col("node"),
                F.coalesce(F.col("_jl"), F.col("label")).alias("label"),
                F.col("_prev"),
            )
            .observe(
                obs,
                F.sum((F.col("label") != F.col("_prev")).cast("long")).alias(
                    "changed"
                ),
            )
            .localCheckpoint(eager=True)
        )
        changed = obs.get["changed"] or 0
        labels = new.drop("_prev")
        if changed == 0:
            return labels.select(
                F.col("node"), F.col("label").alias("cluster_id")
            )
    raise AssertionError("reference CC did not converge")


def _chain_pairs(spark):
    # chains, a clique, an isolated pair, and singleton-free ids
    edges = (
        [(i, i + 1) for i in range(0, 10)]       # chain 0..10
        + [(20, 21), (21, 22), (20, 22)]          # triangle
        + [(30, 40)]                              # isolated pair
        + [(50, 52), (52, 54), (51, 53)]          # two chains interleaved
    )
    return spark.createDataFrame(edges, "id_a long, id_b long")


def test_contracted_cc_matches_reference(spark):
    pairs = _chain_pairs(spark)
    got = sorted(map(tuple, connected_components(pairs).collect()))
    want = sorted(map(tuple, _reference_cc(pairs).collect()))
    assert got == want


def test_simhash_cluster_labels_matches_pairwise_path(spark):
    # fingerprints with heavy duplication (clique groups), cross-group
    # near matches (hamming 1-2), and far groups
    rows = []
    base = [0b1010101010101010, 0b1111000011110000, 0b0000111100001111]
    for i in range(60):
        h = base[i % 3]
        if i % 7 == 0:
            h ^= 1          # hamming-1 neighbor of its family
        if i % 13 == 0:
            h ^= 0b1100     # pushes past max_hamming for some rows
        rows.append((i, h))
    sims = spark.createDataFrame(rows, "doc_id long, simhash long")
    got = sorted(
        map(
            tuple,
            simhash_cluster_labels(
                sims, "doc_id", "simhash",
                max_hamming=2, bands=3, hash_bits=16,
            ).collect(),
        )
    )
    pairs = hamming_neardup_pairs(
        sims, "doc_id", "simhash", max_hamming=2, bands=3, hash_bits=16
    )
    want = sorted(
        map(tuple, connected_components(pairs, "id_a", "id_b").collect())
    )
    assert got == want


def test_grouped_hamming_pairs_match_banded_path(spark):
    from publicationsretriever_spark.operators.dedup import (
        hamming_neardup_pairs_grouped,
    )

    rows = []
    base = [0b1010101010101010, 0b1111000011110000, 0b0000111100001111]
    for i in range(80):
        h = base[i % 3]
        if i % 7 == 0:
            h ^= 1
        if i % 11 == 0:
            h ^= 0b10000000
        rows.append((i, h))
    sims = spark.createDataFrame(rows, "doc_id long, simhash long")
    kw = dict(max_hamming=2, bands=3, hash_bits=16)
    got = sorted(
        map(
            tuple,
            hamming_neardup_pairs_grouped(
                sims, "doc_id", "simhash", **kw
            ).collect(),
        )
    )
    want = sorted(
        map(
            tuple,
            hamming_neardup_pairs(sims, "doc_id", "simhash", **kw).collect(),
        )
    )
    assert got == want and len(got) > 0


def test_contracted_cc_loop_path_matches_driver_path(spark):
    """driver_max_edges=0 forces the distributed hash-min loop; both
    finishing paths must be row-identical."""
    pairs = _chain_pairs(spark)
    drv = sorted(map(tuple, connected_components(pairs).collect()))
    loop = sorted(
        map(
            tuple,
            connected_components(pairs, driver_max_edges=0).collect(),
        )
    )
    assert drv == loop


def test_contracted_cc_string_ids_use_loop_path(spark):
    """String ids skip the driver union-find (binary-vs-codepoint
    ordering risk) and still produce lexicographic-min labels."""
    pairs = spark.createDataFrame(
        [("doc-b", "doc-c"), ("doc-a", "doc-b"), ("x", "y")],
        "id_a string, id_b string",
    )
    got = {
        r["node"]: r["cluster_id"]
        for r in connected_components(pairs).collect()
    }
    assert got == {
        "doc-a": "doc-a", "doc-b": "doc-a", "doc-c": "doc-a",
        "x": "x", "y": "x",
    }

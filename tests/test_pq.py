"""Product-quantization ANN (operators/similarity.pq_*).

Covers: codebook shape/determinism, exact reconstruction of vectors
that coincide with codewords, Lloyd refinement reducing quantization
error on a clustered corpus, encode argmin tie-breaking, and top-k
recall vs the brute-force baseline on well-separated clusters.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from publicationsretriever_spark.operators.similarity import (
    brute_force_topk,
    pq_codebooks,
    pq_encode,
    pq_reconstruct,
    pq_topk,
)


def _clustered_vectors(spark, n_per=8, dim=8):
    """Deterministic clustered corpus: 4 well-separated axis centers,
    cluster of vec v = v % 4 (INTERLEAVED, so the lowest-id vectors —
    PQ's codebook init — span all clusters), members = center + small
    offset on one trailing coordinate."""
    centers = [
        [10.0, 0, 0, 0, 0, 0, 0, 0],
        [0, 10.0, 0, 0, 0, 0, 0, 0],
        [0, 0, 10.0, 0, 0, 0, 0, 0],
        [0, 0, 0, 10.0, 0, 0, 0, 0],
    ]
    rows = []
    for vid in range(n_per * 4):
        v = list(centers[vid % 4])
        v[4 + (vid // 4) % 4] += 0.01 * (vid // 4 + 1)
        rows.append((vid, [float(x) for x in v]))
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<float>"
    )


def test_codebook_shape_and_determinism(spark):
    vecs = _clustered_vectors(spark)
    cb1 = pq_codebooks(vecs, m=2, n_codes=4, refine_iters=1).collect()
    cb2 = pq_codebooks(vecs, m=2, n_codes=4, refine_iters=1).collect()
    assert len(cb1) == 2 * 4
    subs = {r["sub_id"] for r in cb1}
    assert subs == {0, 1}
    for r in cb1:
        assert len(r["cw"]) == 4  # dim 8 / m 2
    key = lambda r: (r["sub_id"], r["code_id"])  # noqa: E731
    assert sorted(((r["sub_id"], r["code_id"], r["cw"]) for r in cb1)) == \
        sorted(((r["sub_id"], r["code_id"], r["cw"]) for r in cb2))


def test_codebook_rejects_indivisible_dim(spark):
    vecs = _clustered_vectors(spark)
    import pytest

    with pytest.raises(ValueError):
        pq_codebooks(vecs, m=3, n_codes=4)


def test_reconstruction_exact_for_codeword_vectors(spark):
    """With refine_iters=0 the codewords ARE the lowest-id vectors'
    slices, so those vectors reconstruct exactly."""
    vecs = _clustered_vectors(spark)
    cbs = pq_codebooks(vecs, m=2, n_codes=4, refine_iters=0)
    recon = pq_reconstruct(pq_encode(vecs, cbs)).filter(
        F.col("vec_id") < 4
    )
    orig = {r["vec_id"]: r["embedding"] for r in vecs.collect()}
    for r in recon.collect():
        got = [round(float(x), 5) for x in r["recon"]]
        want = [round(float(x), 5) for x in orig[r["vec_id"]]]
        assert got == want, r["vec_id"]


def _block_ordered_vectors(spark, n_per=8):
    """Cluster-BLOCK-ordered ids (0-7 cluster 0, 8-15 cluster 1, ...):
    the adversarial layout for lowest-id codebook init — all init
    codewords land in cluster 0, so only Lloyd refinement can reach
    the other clusters."""
    centers = [
        [10.0, 0, 0, 0, 0, 0, 0, 0],
        [0, 10.0, 0, 0, 0, 0, 0, 0],
        [0, 0, 10.0, 0, 0, 0, 0, 0],
        [0, 0, 0, 10.0, 0, 0, 0, 0],
    ]
    rows = []
    vid = 0
    for c in centers:
        for i in range(n_per):
            v = list(c)
            v[4 + vid % 4] += 0.01 * (i + 1)
            rows.append((vid, [float(x) for x in v]))
            vid += 1
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<float>"
    )


def test_refinement_reduces_quantization_error(spark):
    """With block-ordered ids the lowest-id init puts all 4 codes in
    cluster 0; Lloyd passes over the sample must pull codewords toward
    the other clusters and cut the mean squared reconstruction error."""
    vecs = _block_ordered_vectors(spark)

    def mse(refine_iters: int) -> float:
        cbs = pq_codebooks(
            vecs, m=2, n_codes=4, refine_iters=refine_iters
        )
        recon = pq_reconstruct(pq_encode(vecs, cbs))
        joined = vecs.join(recon, "vec_id").select(
            F.aggregate(
                F.zip_with(
                    "embedding",
                    "recon",
                    lambda x, y: (x.cast("double") - y)
                    * (x.cast("double") - y),
                ),
                F.lit(0.0),
                lambda a, v: a + v,
            ).alias("err")
        )
        return joined.agg(F.avg("err")).head()[0]

    assert mse(2) < mse(0) * 0.8


def test_encode_one_code_per_subspace(spark):
    vecs = _clustered_vectors(spark)
    cbs = pq_codebooks(vecs, m=4, n_codes=4, refine_iters=1)
    codes = pq_encode(vecs, cbs)
    n = vecs.count()
    assert codes.count() == n * 4
    per = codes.groupBy("vec_id").count().select(
        F.min("count"), F.max("count")
    ).head()
    assert per[0] == per[1] == 4
    # codes come from the codebook's id domain
    dom = {r["code_id"] for r in cbs.select("code_id").collect()}
    assert {r["code_id"] for r in codes.collect()} <= dom


def test_topk_recall_vs_brute_force(spark):
    """On well-separated clusters PQ preserves CLUSTER membership:
    every brute-force top-5 neighbour and every PQ top-5 neighbour of
    a query comes from the query's own cluster (v % 4; 8 members), and
    PQ ranks the query itself first. Within-cluster ORDER may differ —
    members perturb different coordinates, so quantization legitimately
    reorders them; cluster-level recall is the PQ guarantee."""
    vecs = _clustered_vectors(spark)
    queries = vecs.filter(F.col("vec_id").isin(0, 1, 2, 3)).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = brute_force_topk(vecs, queries, k=5)
    approx = pq_topk(vecs, queries, k=5, m=2, n_codes=4, refine_iters=2)
    for r in exact.collect():
        assert r["vec_id"] % 4 == r["query_id"] % 4, ("exact", r)
    top1 = {}
    for r in approx.collect():
        assert r["vec_id"] % 4 == r["query_id"] % 4, ("pq", r)
        if r["rank"] == 1:
            top1[r["query_id"]] = r["vec_id"]
    # the query itself quantizes to its own cell and ties break by id,
    # so it must rank first
    assert top1 == {0: 0, 1: 1, 2: 2, 3: 3}


def test_ivfpq_full_probe_equals_pq(spark):
    """With nprobe == n_cells the IVF pruning is a no-op, so ivfpq_topk
    must be row-identical to pq_topk (same codebooks, same @6dp
    scores) — the composition adds pruning, never changes scoring."""
    from publicationsretriever_spark.operators.similarity import (
        ivfpq_topk,
    )

    vecs = _clustered_vectors(spark)
    queries = vecs.filter(F.col("vec_id").isin(0, 1, 2, 3)).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    pq = sorted(
        tuple(r) for r in pq_topk(
            vecs, queries, k=5, m=2, n_codes=4, refine_iters=1
        ).collect()
    )
    ivfpq = sorted(
        tuple(r) for r in ivfpq_topk(
            vecs, queries, k=5, n_cells=4, nprobe=4, m=2, n_codes=4,
            refine_iters=1,
        ).collect()
    )
    assert ivfpq == pq


def test_ivfpq_pruned_probe_preserves_clusters(spark):
    """With nprobe=1 each query scores only its own cell; on the
    well-separated corpus the results stay within the query's cluster
    and the query itself ranks first."""
    from publicationsretriever_spark.operators.similarity import (
        ivfpq_topk,
    )

    vecs = _clustered_vectors(spark)
    queries = vecs.filter(F.col("vec_id").isin(0, 1, 2, 3)).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = ivfpq_topk(
        vecs, queries, k=5, n_cells=4, nprobe=1, m=2, n_codes=4,
        refine_iters=2,
    ).collect()
    top1 = {}
    for r in out:
        assert r["vec_id"] % 4 == r["query_id"] % 4, r
        if r["rank"] == 1:
            top1[r["query_id"]] = r["vec_id"]
    assert top1 == {0: 0, 1: 1, 2: 2, 3: 3}


def test_ivfpq_index_reuse(spark):
    """The resident index serves repeated topk calls from the same
    persisted inverted list; two calls return identical rows."""
    from publicationsretriever_spark.operators.similarity import (
        build_ivfpq_index,
    )

    vecs = _clustered_vectors(spark)
    queries = vecs.filter(F.col("vec_id").isin(0, 1)).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    ix = build_ivfpq_index(
        vecs, n_cells=4, m=2, n_codes=4, materialize=True
    )
    try:
        a = sorted(tuple(r) for r in ix.topk(queries, k=3).collect())
        b = sorted(tuple(r) for r in ix.topk(queries, k=3).collect())
        assert a == b and len(a) == 6
    finally:
        ix.unpersist()


def test_pq_contract_query_runs(spark):
    """The driver-contract query at sf0.001: stable schema, k rows per
    query, adc_sim within [-1, 1]."""
    import __spark_entry__ as entry

    df = entry.queries()["ann_pq_topk"](spark, "/root/testdata/sf0.001")
    rows = df.collect()
    assert df.columns == ["query_id", "rank", "vec_id", "adc_sim"]
    per_q = {}
    for r in rows:
        per_q.setdefault(r["query_id"], []).append(r["rank"])
        assert -1.0001 <= r["adc_sim"] <= 1.0001
    for qid, ranks in per_q.items():
        assert sorted(ranks) == [1, 2, 3, 4, 5], qid


def _residual_corpus(spark):
    """Corpus where FLAT PQ provably collapses within-cluster order
    and RESIDUAL PQ (IVFADC) reconstructs exactly: 4 clusters at
    100*e_c (dims 0-3), member offset (j+1) along the SHARED direction
    (1,1,1,1) on dims 0-3 — so raw first-subspace slices have 16
    distinct patterns (> n_codes=4 -> flat collapses every cluster to
    its slice mean) while residuals r = v - centroid are the SAME four
    patterns {-1.5,-0.5,0.5,1.5}x(1,1,1,1) in every cluster (= n_codes
    -> the shared residual codebook is exact). cluster = vid % 4 (IVF
    init spans clusters), j = (vid%4 + vid//4) % 4 (PQ residual init,
    the 4 lowest-id rows, spans all four offset patterns). All values
    are binary-exact so residual reconstruction is bit-identical to
    the raw vector."""
    rows = []
    for vid in range(16):
        c, j = vid % 4, (vid % 4 + vid // 4) % 4
        v = [0.0] * 8
        v[c] = 100.0
        for d in range(4):
            v[d] += float(j + 1)
        rows.append((vid, v))
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<float>"
    )


def test_ivfpq_residual_beats_flat_on_clusters(spark):
    """The IVFADC claim, verified both ways on _residual_corpus:
    residual=True with full probe reproduces brute force EXACTLY
    (residual patterns are codebook-representable, reconstruction is
    bit-exact), while flat PQ at the same m/n_codes budget collapses
    every cluster member to the cell mean — identical adc_sim, rank
    degenerates to id order and the query itself is NOT its own
    top-1."""
    from publicationsretriever_spark.operators.similarity import (
        ivfpq_topk,
    )

    vecs = _residual_corpus(spark)
    queries = vecs.filter(F.col("vec_id").isin(8, 13)).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = sorted(
        (r["query_id"], r["rank"], r["vec_id"])
        for r in brute_force_topk(vecs, queries, k=4).collect()
    )
    res = sorted(
        (r["query_id"], r["rank"], r["vec_id"])
        for r in ivfpq_topk(
            vecs, queries, k=4, n_cells=4, nprobe=4, m=2, n_codes=4,
            refine_iters=1, residual=True,
        ).collect()
    )
    assert res == exact
    flat_top1 = {
        r["query_id"]: r["vec_id"]
        for r in ivfpq_topk(
            vecs, queries, k=4, n_cells=4, nprobe=4, m=2, n_codes=4,
            refine_iters=1, residual=False,
        ).collect()
        if r["rank"] == 1
    }
    # collapse: all cluster members share the reconstruction, ties
    # break by id, so the lowest-id cluster member outranks the query
    assert flat_top1 == {8: 0, 13: 1}


def test_ivfpq_residual_pruned_probe(spark):
    """residual=True with nprobe=1: each query scores only its own
    cell; top-1 is the query itself and every hit is a cluster-mate."""
    from publicationsretriever_spark.operators.similarity import (
        ivfpq_topk,
    )

    vecs = _residual_corpus(spark)
    queries = vecs.filter(F.col("vec_id").isin(8, 13)).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = ivfpq_topk(
        vecs, queries, k=4, n_cells=4, nprobe=1, m=2, n_codes=4,
        refine_iters=1, residual=True,
    ).collect()
    top1 = {}
    for r in out:
        assert r["vec_id"] % 4 == r["query_id"] % 4, r
        if r["rank"] == 1:
            top1[r["query_id"]] = r["vec_id"]
    assert top1 == {8: 8, 13: 13}

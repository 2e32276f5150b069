"""The NumPy mapInPandas scorer must be BIT-identical to the unrolled
JVM expression fold — same IEEE op sequence (0.0 seed, per-dimension
product adds in index order, norms folded the same way, division
associated dot / (cn * qn)). These tests pin raw doubles, not rounded
values, so a reassociation (BLAS dot, pairwise summation, FMA) fails
loudly."""

import struct

import pytest
from pyspark.sql import functions as F

from publicationsretriever_spark.operators.similarity import (
    _collect_query_rows,
    _np_cross_scores,
    brute_force_topk,
    dot,
    l2_norm,
    partial_topk,
)

@pytest.fixture(scope="module")
def vecs(spark):
    # includes an exact duplicate pair (ids 0 and 5) so rank ties and
    # score collisions are exercised
    rows = []
    for i in range(40):
        base = [((i * 7 + j * 13) % 19 - 9) / 7.0 for j in range(8)]
        rows.append((i, [float(x) for x in base]))
    rows[5] = (5, rows[0][1])
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<float>"
    )


def _bits(x: float) -> bytes:
    return struct.pack("d", x)


def test_np_scorer_bit_identical_to_expression_fold(spark, vecs):
    dim = 8
    queries = vecs.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding")
    )
    q_rows = _collect_query_rows(queries, "query_id", "embedding")
    np_scores = {
        (r["query_id"], r["vec_id"]): r["_s"]
        for r in _np_cross_scores(
            vecs, q_rows, "vec_id", "embedding", "query_id", "_s", dim
        ).collect()
    }
    q = queries.select(
        F.col("query_id"), F.col("embedding").alias("_qv")
    ).withColumn("_qn", l2_norm(F.col("_qv"), dim))
    jvm = (
        vecs.withColumn("_n", l2_norm(F.col("embedding"), dim))
        .crossJoin(F.broadcast(q))
        .select(
            "query_id",
            "vec_id",
            (
                dot(F.col("embedding"), F.col("_qv"), dim)
                / (F.col("_n") * F.col("_qn"))
            ).alias("_s"),
        )
    )
    jvm_scores = {
        (r["query_id"], r["vec_id"]): r["_s"] for r in jvm.collect()
    }
    assert set(np_scores) == set(jvm_scores)
    for k in jvm_scores:
        assert _bits(np_scores[k]) == _bits(jvm_scores[k]), k


def test_np_scorer_extra_per_query_column(spark, vecs):
    queries = vecs.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("query_id"), F.col("embedding")
    )
    q_rows = _collect_query_rows(queries, "query_id", "embedding")
    extra = {0: 0.25, 1: -1.5}
    out = _np_cross_scores(
        vecs, q_rows, "vec_id", "embedding", "query_id", "_s", 8,
        extra_per_query=extra, extra_name="_ts",
    ).collect()
    assert len(out) == 2 * 40
    for r in out:
        assert r["_ts"] == extra[r["query_id"]]


def test_brute_force_topk_matches_expression_formulation(spark, vecs):
    dim = 8
    queries = vecs.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding")
    )
    got = sorted(
        tuple(r)
        for r in brute_force_topk(vecs, queries, k=5).collect()
    )
    q = queries.select(
        F.col("query_id"), F.col("embedding").alias("_qv")
    ).withColumn("_qn", l2_norm(F.col("_qv"), dim))
    scored = (
        vecs.withColumn("_n", l2_norm(F.col("embedding"), dim))
        .crossJoin(F.broadcast(q))
        .select(
            "query_id",
            "vec_id",
            F.round(
                dot(F.col("embedding"), F.col("_qv"), dim)
                / (F.col("_n") * F.col("_qn")),
                6,
            ).alias("cos_sim"),
        )
    )
    want = sorted(
        tuple(r)
        for r in partial_topk(
            scored,
            "query_id",
            [F.col("cos_sim").desc(), F.col("vec_id").asc()],
            5,
        )
        .select("query_id", "rank", "vec_id", "cos_sim")
        .collect()
    )
    assert got == want


def test_ivf_scan_path_matches_distributed_index_path(spark, vecs):
    """The one-shot NumPy probe scan must produce row-identical output
    to the distributed build/probe pipeline (same rounded argmax
    assignment incl. ties, same probe cells, same scores). The
    fixture contains exact duplicate vectors, so the margin<=1e-6
    exact-decimal path is exercised."""
    from pyspark.sql import functions as F

    from publicationsretriever_spark.operators.similarity import (
        build_ivf_index,
        build_ivfpq_index,
        ivf_topk,
        ivfpq_topk,
    )

    queries = vecs.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding")
    )
    got = sorted(
        tuple(r)
        for r in ivf_topk(
            vecs, queries, k=4, n_cells=4, nprobe=2, sample_n=16
        ).collect()
    )
    ix = build_ivf_index(vecs, n_cells=4, refine_iters=1, sample_n=16)
    want = sorted(
        tuple(r)
        for r in ix.topk(queries, k=4, nprobe=2).collect()
    )
    ix.inverted.unpersist()
    assert got == want

    for residual in (False, True):
        got = sorted(
            tuple(r)
            for r in ivfpq_topk(
                vecs, queries, k=4, n_cells=4, nprobe=2, m=2,
                n_codes=4, sample_n=16, residual=residual,
            ).collect()
        )
        ix = build_ivfpq_index(
            vecs, n_cells=4, m=2, n_codes=4, sample_n=16,
            residual=residual, nprobe_refine_iters=1,
        )
        want = sorted(
            tuple(r)
            for r in ix.topk(queries, k=4, nprobe=2).collect()
        )
        ix.inverted.unpersist()
        assert got == want, f"residual={residual}"


def _signed_zero_corpus(spark):
    """Cells 1 = [-4e-7, 1] and 2 = [4e-7, 1] are the lowest ids (the
    untrained quantizer's centroids); vector 3 = [1, 0] has raw cosine
    -4e-7 / +4e-7 to them, both rounding to 0.0 — a tie Spark breaks
    to the lower cell. A -0.0 from the round would break it the other
    way."""
    return spark.createDataFrame(
        [(1, [-4e-7, 1.0]), (2, [4e-7, 1.0]), (3, [1.0, 0.0])],
        "vec_id long, embedding array<float>",
    )


def test_np_assign_scan_matches_distributed_assign(spark, vecs):
    """The NumPy inverted-list build must be row-identical (including
    the _n norm BITS) to ivf_assign + l2_norm — on the fixture with a
    trained quantizer, and on the signed-zero tie."""
    import struct as st

    from pyspark.sql import functions as F

    from publicationsretriever_spark.operators.similarity import (
        _np_ivf_assign_scan,
        ivf_centroids,
        ivf_assign,
        l2_norm,
    )

    tie = _signed_zero_corpus(spark)
    for corpus, dim, cent in (
        (vecs, 8, ivf_centroids(vecs, refine_iters=1, n_cells=4, sample_n=16)),
        (tie, 2, ivf_centroids(tie, refine_iters=0, n_cells=2)),
    ):
        got = {
            r["vec_id"]: (r["cell_id"], st.pack("d", r["_n"]))
            for r in _np_ivf_assign_scan(
                corpus, cent._cent_rows, "vec_id", "embedding", dim
            ).collect()
        }
        want = {
            r["vec_id"]: (r["cell_id"], st.pack("d", r["_n"]))
            for r in ivf_assign(corpus, cent, "embedding", "vec_id", dim)
            .withColumn("_n", l2_norm(F.col("embedding"), dim))
            .collect()
        }
        assert got == want, dim


def test_signed_zero_probe_matches_index_topk(spark):
    """The driver-side probe ranks the rounded-0.0 tie like the
    distributed probe window: query [1, 0] probes cell 1, so the
    one-shot scan returns the rows of a reference index (expression
    assign + _probe_topk) probing one cell."""
    from publicationsretriever_spark.operators.similarity import (
        IvfIndex,
        ivf_assign,
        ivf_centroids,
        ivf_topk,
    )

    corpus = _signed_zero_corpus(spark)
    queries = corpus.filter(F.col("vec_id") == 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding")
    )
    got = sorted(
        tuple(r)
        for r in ivf_topk(
            corpus, queries, k=3, n_cells=2, nprobe=1, refine_iters=0
        ).collect()
    )
    cent = ivf_centroids(corpus, n_cells=2)
    ix = IvfIndex(
        cent,
        ivf_assign(corpus, cent, "embedding", "vec_id", 2).withColumn(
            "_n", l2_norm(F.col("embedding"), 2)
        ),
        "embedding",
        "vec_id",
        dim=2,
    )
    want = sorted(tuple(r) for r in ix.topk(queries, k=3, nprobe=1).collect())
    assert len(want) == 3
    assert got == want


def _empty_corpus_ops():
    from publicationsretriever_spark.operators import similarity as S

    top = ["query_id", "rank", "vec_id"]
    return {
        "brute_force_topk": (
            lambda v, q: S.brute_force_topk(v, q, k=3), top + ["cos_sim"]
        ),
        "ivf_topk": (
            lambda v, q: S.ivf_topk(v, q, k=3, n_cells=2, nprobe=1),
            top + ["cos_sim"],
        ),
        "pq_topk": (
            lambda v, q: S.pq_topk(v, q, k=3, m=2, n_codes=2),
            top + ["adc_sim"],
        ),
        "ivfpq_topk": (
            lambda v, q: S.ivfpq_topk(
                v, q, k=3, n_cells=2, nprobe=1, m=2, n_codes=2
            ),
            top + ["adc_sim"],
        ),
        "ivfpq_topk_residual": (
            lambda v, q: S.ivfpq_topk(
                v, q, k=3, n_cells=2, nprobe=1, m=2, n_codes=2,
                residual=True,
            ),
            top + ["adc_sim"],
        ),
        "sq_topk": (lambda v, q: S.sq_topk(v, q, k=3), top + ["sq_sim"]),
        "binary_topk": (
            lambda v, q: S.binary_topk(v, q, k=3), top + ["hamming"]
        ),
        "mrl_rerank_topk": (
            lambda v, q: S.mrl_rerank_topk(v, q, d_prime=4, k=3),
            top + ["cos_sim"],
        ),
        "lsh_topk": (lambda v, q: S.lsh_topk(v, q, k=3), top + ["cos_sim"]),
        "semdedup_refine0": (
            lambda v, q: S.semdedup(v, n_cells=2, refine_iters=0),
            ["vec_id", "cell_id", "dup_of", "kept"],
        ),
        "semdedup_refine1": (
            lambda v, q: S.semdedup(v, n_cells=2, refine_iters=1),
            ["vec_id", "cell_id", "dup_of", "kept"],
        ),
    }


@pytest.mark.parametrize("op", sorted(_empty_corpus_ops()))
def test_ann_ops_on_empty_corpus(spark, vecs, op):
    """An empty corpus gives every ANN top-k op and semdedup an empty
    frame with the op's usual columns — not an unresolvable literal
    table or a misleading dim error."""
    fn, cols = _empty_corpus_ops()[op]
    empty = spark.createDataFrame([], "vec_id long, embedding array<float>")
    queries = vecs.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("query_id"), F.col("embedding")
    )
    out = fn(empty, queries)
    assert out.columns == cols
    assert out.collect() == []

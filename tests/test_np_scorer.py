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
    _np_pair_scores_cols,
    alignment_gate,
    alignment_gate_paired,
    brute_force_topk,
    cosine,
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


def test_np_pair_scorer_bit_identical_to_cosine_expression(spark, vecs):
    """The paired alignment scorer's raw doubles equal the unrolled
    cosine(a, b, dim) expression on the same rows, bit for bit."""
    b = vecs.select(
        ((F.col("vec_id") + 7) % 40).alias("vec_id"),
        F.col("embedding").alias("_b"),
    )
    pairs = vecs.withColumnRenamed("embedding", "_a").join(b, "vec_id")
    np_scores = {
        r["vec_id"]: r["_s"]
        for r in _np_pair_scores_cols(
            pairs, "vec_id", "_a", "_b", "_s"
        ).collect()
    }
    jvm_scores = {
        r["vec_id"]: r["_s"]
        for r in pairs.select(
            "vec_id", cosine(F.col("_a"), F.col("_b"), 8).alias("_s")
        ).collect()
    }
    assert set(np_scores) == set(jvm_scores) and len(jvm_scores) == 40
    for k in jvm_scores:
        assert _bits(np_scores[k]) == _bits(jvm_scores[k]), k


def test_alignment_zero_norm_scores_null_on_both_forms(spark):
    """A zero image vector has no cosine: both alignment forms give
    that pair a null score and a null keep (the IVF family's zero
    vector rule), and still score the other pairs. A null caption
    vector scores null the same way."""
    rows = [
        (0, [0.0, 0.0, 0.0], [1.0, 0.0, 0.0]),
        (1, [1.0, 0.0, 0.0], [1.0, 1.0, 0.0]),
        (2, [1.0, 0.0, 0.0], None),
    ]
    paired = spark.createDataFrame(
        rows,
        "pair_id long, image_embedding array<float>, "
        "caption_embedding array<float>",
    )
    img = paired.select("pair_id", F.col("image_embedding").alias("embedding"))
    cap = paired.select(
        "pair_id", F.col("caption_embedding").alias("embedding")
    )
    want = {0: (None, None), 1: (0.707107, True), 2: (None, None)}
    for out in (
        alignment_gate(img, cap, threshold=0.3),
        alignment_gate_paired(paired, "pair_id", threshold=0.3),
    ):
        assert out.columns == ["pair_id", "align_score", "keep"]
        got = {
            r["pair_id"]: (r["align_score"], r["keep"])
            for r in out.collect()
        }
        assert got == want


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


def _expression_reference(corpus, queries, cent, cbs, residual, k,
                          nprobe, dim):
    """The expression form of the IVF family, built explicitly: the
    inverted list from ivf_assign + l2_norm; with codebooks ``cbs`` the
    PQ payload from pq_encode -> pq_reconstruct (over x - centroid for
    the residual form, centroid added back); probe and rank with
    _probe_topk."""
    from publicationsretriever_spark.operators.similarity import (
        _probe_topk,
        ivf_assign,
        pq_encode,
        pq_reconstruct,
    )

    assigned = ivf_assign(corpus, cent, "embedding", "vec_id", dim)
    if cbs is None:
        inv = assigned.withColumn("_n", l2_norm(F.col("embedding"), dim))
        payload, score = "embedding", "cos_sim"
    else:
        base = assigned
        if residual:
            base = assigned.join(F.broadcast(cent), "cell_id").select(
                "vec_id",
                F.zip_with(
                    "embedding", "_cv", lambda x, y: x.cast("double") - y
                ).alias("embedding"),
            )
        inv = assigned.select("vec_id", "cell_id").join(
            pq_reconstruct(pq_encode(base, cbs)), "vec_id"
        )
        if residual:
            inv = inv.join(F.broadcast(cent), "cell_id").withColumn(
                "recon", F.zip_with("_cv", "recon", lambda x, y: x + y)
            )
        inv = inv.withColumn("_n", l2_norm(F.col("recon"), dim))
        payload, score = "recon", "adc_sim"
    return _probe_topk(
        inv, cent, queries, payload, score, "vec_id", "embedding",
        "query_id", k, nprobe, dim,
    )


def _one_shot_and_resident(corpus, queries, form, k, nprobe, n_cells,
                           iters, sample_n, m, n_codes):
    """(one-shot rows, resident rows, the resident index) of one IVF
    form — "ivf", "pq" (flat IVF-PQ) or "residual" — trained alike."""
    from publicationsretriever_spark.operators.similarity import (
        build_ivf_index,
        build_ivfpq_index,
        ivf_topk,
        ivfpq_topk,
    )

    if form == "ivf":
        one = ivf_topk(
            corpus, queries, k=k, n_cells=n_cells, nprobe=nprobe,
            refine_iters=iters, sample_n=sample_n,
        )
        ix = build_ivf_index(
            corpus, n_cells=n_cells, refine_iters=iters, sample_n=sample_n
        )
        res = ix.topk(queries, k=k, nprobe=nprobe)
    else:
        pq = dict(m=m, n_codes=n_codes, residual=form == "residual")
        one = ivfpq_topk(
            corpus, queries, k=k, n_cells=n_cells, nprobe=nprobe,
            refine_iters=iters, sample_n=sample_n, **pq,
        )
        ix = build_ivfpq_index(
            corpus, n_cells=n_cells, nprobe_refine_iters=iters,
            refine_iters=iters, sample_n=sample_n, **pq,
        )
        res = ix.topk(queries, k=k, nprobe=nprobe)
    return (
        sorted(tuple(r) for r in one.collect()),
        sorted(tuple(r) for r in res.collect()),
        ix,
    )


def _assert_paths_match_reference(corpus, queries, dim, k, nprobe,
                                  n_cells, iters, sample_n, m, n_codes):
    """For IVF, flat IVF-PQ and residual IVF-PQ: the one-shot scan and
    the resident index both equal the expression reference. The
    reference trains its own quantizer and codebooks — residual ones
    over the distributed x - centroid frame — so the shared training
    is checked too. Returns the reference rows per form."""
    from publicationsretriever_spark.operators.similarity import (
        ivf_assign,
        ivf_centroids,
        pq_codebooks,
    )

    cent = ivf_centroids(
        corpus, n_cells=n_cells, refine_iters=iters, sample_n=sample_n
    )
    residuals = (
        ivf_assign(corpus, cent, "embedding", "vec_id", dim)
        .join(F.broadcast(cent), "cell_id")
        .select(
            "vec_id",
            F.zip_with(
                "embedding", "_cv", lambda x, y: x.cast("double") - y
            ).alias("embedding"),
        )
    )
    refs = {}
    for form, train_on in (
        ("ivf", None), ("pq", corpus), ("residual", residuals)
    ):
        cbs = None
        if train_on is not None:
            cbs = pq_codebooks(
                train_on, m=m, n_codes=n_codes, refine_iters=iters,
                sample_n=sample_n,
            )
        want = sorted(
            tuple(r)
            for r in _expression_reference(
                corpus, queries, cent, cbs, form == "residual", k,
                nprobe, dim,
            ).collect()
        )
        one, res, ix = _one_shot_and_resident(
            corpus, queries, form, k, nprobe, n_cells, iters, sample_n,
            m, n_codes,
        )
        ix.unpersist()
        assert want, form
        assert one == want, f"one-shot {form}"
        assert res == want, f"resident {form}"
        refs[form] = want
    return refs


def test_ivf_scan_path_matches_distributed_index_path(spark, vecs):
    """The one-shot NumPy probe scan (raw rows) and the resident index
    (stored rows) must both produce row-identical output to the
    expression build/probe pipeline (same rounded argmax assignment
    incl. ties, same PQ payload, same probe cells, same scores). The
    fixture contains exact duplicate vectors, so the margin<=1e-6
    exact-decimal path is exercised."""
    queries = vecs.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding")
    )
    _assert_paths_match_reference(
        vecs, queries, 8, k=4, nprobe=2, n_cells=4, iters=1,
        sample_n=16, m=2, n_codes=4,
    )


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
    distributed probe window: query [1, 0] probes cell 1, which holds
    all three rows, so the one-shot scan and the resident index return
    the rows of the expression reference (ivf_assign + _probe_topk)
    probing one cell — for IVF, flat and residual IVF-PQ."""
    corpus = _signed_zero_corpus(spark)
    queries = corpus.filter(F.col("vec_id") == 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding")
    )
    refs = _assert_paths_match_reference(
        corpus, queries, 2, k=3, nprobe=1, n_cells=2, iters=0,
        sample_n=256, m=2, n_codes=2,
    )
    assert len(refs["ivf"]) == 3


def _zero_norm_corpus(spark):
    """24 four-dim vectors; id 20 is the zero vector, outside the
    16-row training prefix the tests train on."""
    rows = [
        (i, [((i * 7 + j * 13) % 19 - 9) / 7.0 for j in range(4)])
        for i in range(24)
    ]
    rows[20] = (20, [0.0, 0.0, 0.0, 0.0])
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_zero_norm_corpus_vector_one_behaviour(spark):
    """A zero-norm corpus vector outside the training prefix: on IVF it
    scores null and ranks after every scored row, alike on ivf_topk,
    IvfIndex.topk and brute_force_topk (all rows probed, so all three
    are exact); on IVF-PQ (flat and residual) the resident rows equal
    the one-shot rows."""
    corpus = _zero_norm_corpus(spark)
    queries = corpus.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding")
    )
    one, res, ix = _one_shot_and_resident(
        corpus, queries, "ivf", 24, 4, 4, 1, 16, 2, 4
    )
    ix.unpersist()
    brute = sorted(
        tuple(r) for r in brute_force_topk(corpus, queries, k=24).collect()
    )
    assert one == res == brute
    assert len(one) == 3 * 24
    for qid, rank, vid, sim in one:
        assert (sim is None) == (vid == 20), (qid, rank, vid, sim)
        assert vid != 20 or rank == 24, (qid, rank)
    for form in ("pq", "residual"):
        one, res, ix = _one_shot_and_resident(
            corpus, queries, form, 5, 2, 4, 1, 16, 2, 4
        )
        ix.unpersist()
        assert one and one == res, form


def test_zero_norm_query_raises_named_error(spark, vecs):
    """A zero-norm query has no cosine to any cell: ivf_topk and
    IvfIndex.topk refuse it by id."""
    from publicationsretriever_spark.operators.similarity import (
        build_ivf_index,
        ivf_topk,
    )

    queries = spark.createDataFrame(
        [(7, [1.0] * 8), (42, [0.0] * 8)],
        "query_id long, embedding array<float>",
    )
    with pytest.raises(ValueError, match="query 42 has a zero-norm"):
        ivf_topk(vecs, queries, n_cells=4, sample_n=16)
    ix = build_ivf_index(vecs, n_cells=4, sample_n=16)
    with pytest.raises(ValueError, match="query 42 has a zero-norm"):
        ix.topk(queries)
    ix.unpersist()


def test_zero_norm_training_vector_raises_named_error(spark):
    """A zero vector inside the training prefix has no cosine to any
    cell: the IVF ops refuse it by id instead of dividing by zero in
    the Lloyd loop."""
    from publicationsretriever_spark.operators.similarity import (
        build_ivf_index,
        build_ivfpq_index,
        ivf_topk,
        ivfpq_topk,
    )

    rows = [(i, [1.0 + i, 2.0, -1.0, 0.5]) for i in range(24)]
    rows[5] = (5, [0.0, 0.0, 0.0, 0.0])
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    queries = corpus.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("query_id"), F.col("embedding")
    )
    for op in (
        lambda: ivf_topk(corpus, queries, n_cells=4, sample_n=16),
        lambda: ivfpq_topk(corpus, queries, n_cells=4, m=2, n_codes=4),
        lambda: build_ivf_index(corpus, n_cells=4, sample_n=16),
        lambda: build_ivfpq_index(corpus, n_cells=4, m=2, n_codes=4),
    ):
        with pytest.raises(ValueError, match="vector 5 .*zero-norm"):
            op()


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
        "alignment_gate": (
            lambda v, q: S.alignment_gate(
                v.withColumnRenamed("vec_id", "pair_id"),
                q.withColumnRenamed("query_id", "pair_id"),
            ),
            ["pair_id", "align_score", "keep"],
        ),
        "hard_negatives": (
            lambda v, q: S.hard_negatives(
                q, v, k=3, query_id_col="query_id", id_col="vec_id"
            ),
            ["query_id", "rank", "neg_id", "cos_sim"],
        ),
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


def test_null_first_corpus_row_keeps_the_width(spark):
    """``_dim_of`` takes the width from the first non-null vector: a
    null embedding in row 0 of a one-partition corpus (11 valid 4-dim
    vectors behind it) once made both top-k ops return [] over a
    non-empty corpus. The valid ids now score and rank as they do
    without row 0, and the null vector scores null, ranked last."""
    from publicationsretriever_spark.operators.similarity import mrl_rerank_topk

    rows = [(0, None)] + [
        (i, [float((i * 5 + j * 3) % 7 - 3) for j in range(4)])
        for i in range(1, 12)
    ]
    corpus = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>"
    ).coalesce(1)
    valid = corpus.filter(F.col("vec_id") > 0)
    queries = valid.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding")
    )
    ops = {
        "brute": lambda c: brute_force_topk(c, queries, k=12),
        "mrl": lambda c: mrl_rerank_topk(
            c, queries, d_prime=2, candidates=12, k=12
        ),
    }
    for name, op in ops.items():
        want = sorted(tuple(r) for r in op(valid).collect())
        out = op(corpus).collect()
        got = sorted(tuple(r) for r in out if r[2] != 0)
        assert len(want) == 2 * 11, name
        assert got == want, name
        # the null vector itself scores null and ranks last, like a
        # zero-norm one
        assert sorted(tuple(r) for r in out if r[2] == 0) == [
            (1, 12, 0, None), (2, 12, 0, None)
        ], name

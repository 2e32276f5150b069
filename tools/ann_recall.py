"""ANN quality evidence: recall@k of every approximate variant
against the brute-force exact top-k, on the driver embeddings table.

"Measure, don't guess": each ANN operator trades recall for the scale
lever it pulls (LSH buckets prune candidates, IVF prunes rows, PQ
compresses bytes, IVF-PQ both) — this harness pins the trade so a
regression in candidate generation or quantizer training shows up as
a recall drop, not just a silent result change. Writes
BENCH/ann_recall.json and refreshes the "## ANN recall" section of
BENCH/BASELINE.md.

Usage: python tools/ann_recall.py [sf_dir] [k] [n_queries]
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))
sys.path.insert(0, str(REPO / "tools"))

from bench_cluster_scaling import END_MARK, replace_section  # noqa: E402

MARK = "## ANN recall"


def main() -> None:
    from pyspark.sql import functions as F

    from publicationsretriever_spark.operators import similarity as S
    from publicationsretriever_spark.session import get_spark

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    k = int(sys.argv[2]) if len(sys.argv) > 2 else 10
    n_q = int(sys.argv[3]) if len(sys.argv) > 3 else 16

    spark = get_spark(app_name="ann-recall", cores=8)
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    n = emb.count()
    queries = emb.filter(F.col("vec_id") < n_q).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )

    def ids_of(df):
        out: dict[int, set[int]] = {}
        for r in df.collect():
            out.setdefault(r["query_id"], set()).add(r["vec_id"])
        return out

    exact = ids_of(S.brute_force_topk(emb, queries, k=k))

    variants = {
        "lsh_topk(16-per-bucket planes)": lambda: S.lsh_topk(
            emb, queries, k=k
        ),
        "ivf_topk(16 cells, nprobe 4)": lambda: S.ivf_topk(
            emb, queries, k=k, n_cells=16, nprobe=4, refine_iters=1
        ),
        "pq_topk(m=4, 16 codes)": lambda: S.pq_topk(
            emb, queries, k=k, m=4, n_codes=16, refine_iters=1
        ),
        "ivfpq_topk(16 cells, nprobe 4, m=4)": lambda: S.ivfpq_topk(
            emb, queries, k=k, n_cells=16, nprobe=4, m=4, n_codes=16,
            refine_iters=1,
        ),
        # IVFADC: same budget, codes on residuals — must beat the flat
        # row above (residual magnitudes span only the within-cell
        # spread, so the codebook quantizes finer)
        "ivfpq_topk(residual, 16 cells, nprobe 4, m=4)": lambda:
            S.ivfpq_topk(
                emb, queries, k=k, n_cells=16, nprobe=4, m=4,
                n_codes=16, refine_iters=1, residual=True,
            ),
        # knob rows: the recall/cost trade must MOVE when the knob
        # moves — flat recall under 2x nprobe / 2x m would mean the
        # candidate generator is broken, not conservative
        "ivf_topk(16 cells, nprobe 8)": lambda: S.ivf_topk(
            emb, queries, k=k, n_cells=16, nprobe=8, refine_iters=1
        ),
        "pq_topk(m=8, 16 codes)": lambda: S.pq_topk(
            emb, queries, k=k, m=8, n_codes=16, refine_iters=1
        ),
        "ivfpq_topk(16 cells, nprobe 8, m=8)": lambda: S.ivfpq_topk(
            emb, queries, k=k, n_cells=16, nprobe=8, m=8, n_codes=16,
            refine_iters=1,
        ),
        "ivfpq_topk(residual, 16 cells, nprobe 8, m=8)": lambda:
            S.ivfpq_topk(
                emb, queries, k=k, n_cells=16, nprobe=8, m=8,
                n_codes=16, refine_iters=1, residual=True,
            ),
        # SQ8 scans every row (no candidate pruning) through a
        # 1-byte/coord quantize->dequantize image: error <= span/510
        # per dim, so recall should sit at/near 1.0 — the high-recall
        # fixed-4x-compression end of the trade curve
        "sq_topk(int8 per-dim)": lambda: S.sq_topk(emb, queries, k=k),
        # 1 bit/dim full-scan Hamming: the 32x-compression rung —
        # recall floor on isotropic data, distances collapse to a
        # narrow band around d/2
        "binary_topk(1-bit midrange)": lambda: S.binary_topk(
            emb, queries, k=k
        ),
        # Matryoshka prefix coarse -> exact rerank: recall is bounded
        # by whether the true top-k survive the prefix gate; the d'
        # knob must buy recall
        "mrl_rerank_topk(d'=16, C=32)": lambda: S.mrl_rerank_topk(
            emb, queries, d_prime=16, candidates=32, k=k
        ),
        "mrl_rerank_topk(d'=32, C=32)": lambda: S.mrl_rerank_topk(
            emb, queries, d_prime=32, candidates=32, k=k
        ),
    }
    rows = {}
    for name, fn in variants.items():
        got = ids_of(fn())
        per_q = [
            len(got.get(q, set()) & hits) / len(hits)
            for q, hits in exact.items()
        ]
        rows[name] = {
            "recall_at_k": round(sum(per_q) / len(per_q), 4),
            "min_query_recall": round(min(per_q), 4),
        }

    result = {
        "sf_dir": sf_dir,
        "corpus_rows": n,
        "k": k,
        "n_queries": n_q,
        "baseline": "brute_force_topk (exact cosine)",
        "variants": rows,
    }
    bench = REPO / "BENCH"
    (bench / "ann_recall.json").write_text(json.dumps(result, indent=2))

    lines = [MARK, ""]
    lines.append(
        f"Recall@{k} vs exact brute-force cosine over the sf embeddings "
        f"table ({n} vectors, {n_q} held-in queries) — the quality side "
        "of each ANN variant's scale lever (tools/ann_recall.py). The "
        "synthetic embeddings are near-isotropic (neighbor margins are "
        "razor-thin), so these are FLOOR values — what matters is that "
        "the knob rows move in the right direction: more probes / more "
        "codewords must buy recall, or the candidate generator is "
        "broken rather than conservative. The residual (IVFADC) rows "
        "quantize r = x - centroid(x) instead of x: on CLUSTERED data "
        "this is strictly finer (tests/test_pq.py::"
        "test_ivfpq_residual_beats_flat_on_clusters constructs a corpus "
        "where the flat form provably collapses within-cell order and "
        "the residual form is bit-exact), but on THIS isotropic corpus "
        "the cells barely shrink the residual spread, so flat and "
        "residual sit within noise of each other at m=4 and residual "
        "pulls ahead only at m=8. The sq_topk row is the opposite end "
        "of the trade: full scan, fixed 4x compression, per-dim error "
        "<= span/510 — its recall is the quality ceiling a compressed "
        "representation can hold. binary_topk is the 1-bit/32x rung: "
        "on isotropic data Hamming distances collapse into a narrow "
        "band around d/2, so its floor is the lowest — production use "
        "is as the coarse stage of a rerank ladder, not standalone. "
        "mrl_rerank_topk's d' knob is the ladder in prefix-dim form: "
        "recall must rise with d' (here 16 -> 32 dims) or the prefix "
        "gate is broken."
    )
    lines.append("")
    lines.append("| variant | recall@k | min per-query |")
    lines.append("|---|---|---|")
    for name, r in rows.items():
        lines.append(
            f"| {name} | {r['recall_at_k']} | {r['min_query_recall']} |"
        )
    lines += ["", END_MARK]
    replace_section(bench / "BASELINE.md", MARK, "\n".join(lines))
    print(json.dumps(result, indent=2))


if __name__ == "__main__":
    main()

"""Evidence for the resident-ANN-index append contract: folding a
batch into an existing IvfIndex / IvfPqIndex must cost O(batch) —
assign + encode the NEW rows only — while a rebuild re-trains and
re-encodes the whole corpus. Measured back-to-back on one session
(the only drift-valid protocol on this host), after an untimed small
build + append of each index kind, at two corpus sizes so
the rebuild wall grows with the corpus while the append wall stays
flat for a fixed batch.

Writes BENCH/index_append.json and the "## ANN index append cost"
section of BENCH/BASELINE.md.

Usage: python tools/bench_index_append.py [base_rows] [batch_rows]
"""

from __future__ import annotations

import json
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))
sys.path.insert(0, str(REPO / "tools"))

from bench_cluster_scaling import END_MARK, replace_section  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

MARK = "## ANN index append cost"
DIM = 32


def _vecs(spark, n: int, offset: int = 0):
    return spark.range(0, n, 1, 32).select(
        (F.col("id") + offset).alias("vec_id"),
        F.expr(
            # +i+1 inside the hash: no id can produce the all-zero
            # vector (zero norm crashes cosine, as it should — real
            # embedding tables gate those out via embedding_stats)
            f"transform(sequence(0, {DIM - 1}), i -> "
            f"CAST(pmod((id + {offset}) * (i + 3) * 2654435761 "
            f"+ i + 1, 1000003) AS FLOAT) / 1000003.0)"
        ).alias("embedding"),
    )


def main() -> None:
    base_rows = int(sys.argv[1]) if len(sys.argv) > 1 else 200_000
    batch_rows = int(sys.argv[2]) if len(sys.argv) > 2 else 10_000

    from publicationsretriever_spark.operators.similarity import (
        build_ivf_index,
        build_ivfpq_index,
    )
    from publicationsretriever_spark.session import get_spark

    spark = get_spark(app_name="bench_index_append", cores=8,
                      shuffle_partitions=32)

    builds = (
        # materialize=True: a lazy build would hand its whole
        # corpus-sized job to whatever action runs first and the
        # walls would measure laziness, not the operators (the
        # first cut of this harness did exactly that)
        ("ivf", lambda df: build_ivf_index(
            df, n_cells=64, vec_col="embedding", id_col="vec_id",
            materialize=True)),
        ("ivfpq", lambda df: build_ivfpq_index(
            df, n_cells=64, m=4, vec_col="embedding",
            id_col="vec_id", materialize=True)),
    )
    # untimed warm-up: one small build + append of each kind, so the
    # first timed row does not pay the session's cold start (Python
    # workers, code generation)
    for _, build in builds:
        idx = build(_vecs(spark, 512))
        idx.append(_vecs(spark, 64, offset=512))
        idx.unpersist()

    results = {}
    for scale, n_base in (("1x", base_rows), ("4x", base_rows * 4)):
        base = _vecs(spark, n_base)
        batch = _vecs(spark, batch_rows, offset=n_base)
        row = {}
        for kind, build in builds:
            t0 = time.time()
            idx = build(base)
            build_wall = round(time.time() - t0, 3)
            t0 = time.time()
            idx.append(batch)
            append_wall = round(time.time() - t0, 3)
            # rebuild over base+batch = the retrain alternative
            t0 = time.time()
            idx2 = build(base.unionByName(batch))
            rebuild_wall = round(time.time() - t0, 3)
            n_after = idx.inverted.count()
            idx.unpersist()
            idx2.unpersist()
            row[kind] = {
                "build_wall": build_wall,
                "append_wall": append_wall,
                "rebuild_wall": rebuild_wall,
                "append_vs_rebuild": round(
                    append_wall / rebuild_wall, 3
                ),
                "rows_after_append": n_after,
            }
        results[scale] = {"n_base": n_base,
                          "n_batch": batch_rows, **row}
    spark.stop()

    out = {
        "protocol": (
            "one session, an untimed small build + append of each "
            "kind first, then back-to-back build/append/rebuild per "
            "index kind, two corpus scales with a FIXED batch — "
            "append walls should stay ~flat across scales while "
            "rebuild walls grow with the corpus"
        ),
        "dim": DIM,
        "results": results,
    }
    bench = REPO / "BENCH"
    (bench / "index_append.json").write_text(json.dumps(out, indent=2))

    lines = [MARK, ""]
    lines.append(
        "Append = assign/encode the batch against the FROZEN "
        "quantizer and union into the persisted inverted list "
        "(IvfIndex.append / IvfPqIndex.append); rebuild = retrain + "
        f"re-encode everything. Fixed batch {batch_rows} rows, "
        f"corpus {base_rows} vs {base_rows * 4} rows, dim {DIM}, "
        "back-to-back on one session."
    )
    lines.append("")
    lines.append(
        "| corpus | index | build (s) | append (s) | rebuild (s) | "
        "append/rebuild |"
    )
    lines.append("|---|---|---|---|---|---|")
    for scale, r in results.items():
        for kind in ("ivf", "ivfpq"):
            k = r[kind]
            lines.append(
                f"| {r['n_base']} | {kind} | {k['build_wall']} | "
                f"{k['append_wall']} | {k['rebuild_wall']} | "
                f"{k['append_vs_rebuild']} |"
            )
    lines += ["", END_MARK]
    replace_section(bench / "BASELINE.md", MARK, "\n".join(lines))
    print(json.dumps({
        s: {k: results[s][k]["append_vs_rebuild"]
            for k in ("ivf", "ivfpq")}
        for s in results
    }))


if __name__ == "__main__":
    main()

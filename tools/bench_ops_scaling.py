"""Two-cluster-size scaling for the BATCH training-pipeline operators
(the crawl path's evidence lives in BENCH/scaling.json; this covers
the dataset side). One suite of operators per run:

  ops   minhash/ngram dedup, span dedup, gate battery, prefix-sum
        sharding                      -> "## Batch-ops scaling",
                                         BENCH/ops_scaling.json
  ops5  duplicated-span removal, benchmark decontamination, n-gram LM
        scoring, token-mass mixing    -> "## Round-5 ops scaling",
                                         BENCH/ops5_scaling.json
  ops6  incremental band-index dedup, aspect bucket batching,
        WebDataset shard planning, epoch shuffle, recrawl scheduling
                                      -> "## Round-5 later-ops scaling",
                                         BENCH/ops6_scaling.json
  ops7  Z-order layout + manifest, cross-modal retrieval recall@k,
        conditional-GET revalidation merge
                                      -> "## Round-5 closing-ops scaling",
                                         BENCH/ops7_scaling.json

Each suite writes its own json and replaces only its own section of
BENCH/BASELINE.md, so one suite's rerun never overwrites another's
committed evidence.

Same protocol as tools/bench_cluster_scaling.py: a standalone master +
worker on localhost, the IDENTICAL job (tools/ops_scaling_worker.py
<suite>, package via --py-files) submitted at N and 4N single-core
executors, interleaved N/4N pairs with best-of per level (this host's
per-core speed drifts ~40%/hour — only interleaved comparisons are
valid). Identical task set at both levels (fixed shuffle partitions,
size-driven AQE coalescing), so only concurrency differs.

Usage: python tools/bench_ops_scaling.py <suite> [n_docs] [repeats]
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO / "tools"))

from bench_cluster_scaling import (  # noqa: E402
    END_MARK,
    LEVELS,
    hardware_ceiling,
    replace_section,
    start_cluster,
    stop_cluster,
    submit,
)

_PROTOCOL = (
    "on the same standalone cluster protocol at {lo} vs {hi} "
    "single-core executors ({n_docs} synthesized docs, interleaved "
    "pairs best-of per level). Results identical across levels "
    "(checked: {checked})."
)

#: suite -> (BASELINE.md heading, BENCH json name, section blurb)
SUITES = {
    "ops": (
        "## Batch-ops scaling",
        "ops_scaling.json",
        "The dataset-side counterpart of the crawl scaling evidence: the "
        "heavy training-pipeline operators submitted to the same "
        "standalone cluster at {lo} vs {hi} single-core executors "
        "(identical task set, {n_docs} synthesized docs, interleaved "
        "pairs best-of per level). Results are identical across levels "
        "(checked: {checked}).",
    ),
    "ops5": (
        "## Round-5 ops scaling",
        "ops5_scaling.json",
        "Scaling evidence for the ROUND-5 batch operators (span "
        "removal, decontamination, LM scoring, mixing) " + _PROTOCOL,
    ),
    "ops6": (
        "## Round-5 later-ops scaling",
        "ops6_scaling.json",
        "Scaling evidence for the ROUND-5 later operators (incremental "
        "band-index dedup, aspect bucketing, WebDataset shard plan, "
        "epoch shuffle, recrawl scheduling) " + _PROTOCOL,
    ),
    "ops7": (
        "## Round-5 closing-ops scaling",
        "ops7_scaling.json",
        "Scaling evidence for the ROUND-5 closing operators (Z-order "
        "layout + manifest, retrieval recall@k, revalidation merge) "
        + _PROTOCOL,
    ),
}


def main() -> None:
    if len(sys.argv) < 2 or sys.argv[1] not in SUITES:
        sys.exit(f"usage: bench_ops_scaling.py {{{'|'.join(SUITES)}}} "
                 "[n_docs] [repeats]")
    suite = sys.argv[1]
    mark, json_name, blurb = SUITES[suite]
    n_docs = int(sys.argv[2]) if len(sys.argv) > 2 else 64000
    repeats = int(sys.argv[3]) if len(sys.argv) > 3 else 2
    lo, hi = LEVELS["N"], LEVELS["4N"]
    factor = hi / lo

    def run_level(n_exec: int) -> dict:
        return submit(
            n_exec, "ops_scaling_worker.py", [suite, n_exec, n_docs]
        )

    hw = hardware_ceiling()
    start_cluster()
    runs: list[tuple[int, dict]] = []
    try:
        for _ in range(repeats):  # interleaved lo/hi pairs
            runs.append((lo, run_level(lo)))
            runs.append((hi, run_level(hi)))
    finally:
        stop_cluster()

    def best(n_exec: int) -> dict:
        cands = [r for e, r in runs if e == n_exec]
        return min(cands, key=lambda r: r["total_wall"])

    b_lo, b_hi = best(lo), best(hi)
    per_op = {}
    for op in b_lo["walls"]:
        raw = (b_lo["walls"][op] / b_hi["walls"][op]) / factor
        per_op[op] = {
            "wall_lo": b_lo["walls"][op],
            "wall_hi": b_hi["walls"][op],
            "efficiency_raw": round(raw, 3),
            "efficiency_normalized": round(
                min(1.0, raw / hw["efficiency"]), 3
            ),
        }
    total_raw = (b_lo["total_wall"] / b_hi["total_wall"]) / factor
    result = {
        "topology": {
            "N": f"{lo} executors x 1 cores",
            "4N": f"{hi} executors x 1 cores",
            "mode": "standalone cluster on localhost, separate executor JVMs",
        },
        "n_docs": n_docs,
        "repeats": repeats,
        "protocol": "interleaved N/4N pairs, best-of per level",
        "hardware_ceiling": hw,
        "per_op": per_op,
        "total_wall_lo": b_lo["total_wall"],
        "total_wall_hi": b_hi["total_wall"],
        "scaling_efficiency_total_raw": round(total_raw, 3),
        "scaling_efficiency_total_normalized": round(
            min(1.0, total_raw / hw["efficiency"]), 3
        ),
        "counts_equal_across_levels": b_lo["counts"] == b_hi["counts"],
        "all_runs": [
            {"n_executors": e, **r} for e, r in runs
        ],
    }
    bench = REPO / "BENCH"
    (bench / json_name).write_text(json.dumps(result, indent=2))

    lines = [mark, ""]
    lines.append(blurb.format(
        lo=lo, hi=hi, n_docs=n_docs,
        checked=result["counts_equal_across_levels"],
    ))
    lines.append("")
    lines.append("| op | wall N (s) | wall 4N (s) | raw eff | normalized |")
    lines.append("|---|---|---|---|---|")
    for op, r in per_op.items():
        lines.append(
            f"| {op} | {r['wall_lo']} | {r['wall_hi']} | "
            f"{r['efficiency_raw']} | {r['efficiency_normalized']} |"
        )
    lines.append(
        f"| **total** | {b_lo['total_wall']} | {b_hi['total_wall']} | "
        f"**{result['scaling_efficiency_total_raw']}** | "
        f"**{result['scaling_efficiency_total_normalized']}** |"
    )
    lines += ["", END_MARK]
    replace_section(bench / "BASELINE.md", mark, "\n".join(lines))
    print(json.dumps({k: v for k, v in result.items() if k != "all_runs"}, indent=2))


if __name__ == "__main__":
    main()

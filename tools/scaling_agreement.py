"""Topology-stability check for the scaling evidence (VERDICT r4
item 5): the hardware-ceiling normalization is only credible if the
NORMALIZED efficiency is a property of the engine, not of the chosen
executor counts. Two independent topologies (e.g. 1-vs-4 and 2-vs-8
executors) must agree on it within +/-5%.

Reads BENCH/scaling.json (headline topology) and
BENCH/scaling_topo2.json (second topology, produced via
BENCH_TAG=topo2 BENCH_EXEC_LO=2 BENCH_EXEC_HI=8
tools/bench_cluster_scaling.py), writes the agreement block back into
BENCH/scaling.json and appends/refreshes the section in
BENCH/BASELINE.md.

Usage: python tools/scaling_agreement.py
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO / "tools"))

from bench_cluster_scaling import END_MARK, replace_section  # noqa: E402

MARK = "## Topology agreement"


def main() -> None:
    bench = REPO / "BENCH"
    t1 = json.loads((bench / "scaling.json").read_text())
    t2 = json.loads((bench / "scaling_topo2.json").read_text())

    def steady(t: dict) -> dict | None:
        # steady-state strong scaling: drop round 1 (the one-time
        # codegen warm-up); per-round fixed cost F stays included.
        # Computed here uniformly for jsons written before the bench
        # started emitting steady_state_scaling_fetched.
        pre = t.get("steady_state_scaling_fetched")
        if pre:
            return pre
        wl = (t.get("N") or {}).get("round_walls") or []
        wh = (t.get("4N") or {}).get("round_walls") or []
        if len(wl) < 2 or len(wh) < 2:
            return None
        raw = (sum(wl[1:]) / sum(wh[1:])) / 4
        return {
            "raw": round(raw, 3),
            "normalized": round(
                min(1.0, raw / t["hardware_ceiling"]["efficiency"]), 3
            ),
        }

    rows = {}
    for metric in ("fetched", "checked"):
        n1 = t1[f"normalized_efficiency_{metric}"]
        n2 = t2[f"normalized_efficiency_{metric}"]
        rows[metric] = {
            "topo1": {
                "levels": f"{t1['topology']['N']} vs {t1['topology']['4N']}",
                "raw": t1[f"scaling_efficiency_{metric}"],
                "hw_ceiling": t1["hardware_ceiling"]["efficiency"],
                "normalized": n1,
            },
            "topo2": {
                "levels": f"{t2['topology']['N']} vs {t2['topology']['4N']}",
                "raw": t2[f"scaling_efficiency_{metric}"],
                "hw_ceiling": t2["hardware_ceiling"]["efficiency"],
                "normalized": n2,
            },
            "abs_delta": round(abs(n1 - n2), 3),
            "agree_within_5pct": abs(n1 - n2) <= 0.05,
        }
    s1, s2 = steady(t1), steady(t2)
    if s1 and s2:
        rows["fetched_steady"] = {
            "definition": (
                "round 1 (one-time codegen warm-up) dropped; per-round "
                "fixed cost F included"
            ),
            "topo1": {
                "levels": f"{t1['topology']['N']} vs {t1['topology']['4N']}",
                "raw": s1["raw"],
                "hw_ceiling": t1["hardware_ceiling"]["efficiency"],
                "normalized": s1["normalized"],
            },
            "topo2": {
                "levels": f"{t2['topology']['N']} vs {t2['topology']['4N']}",
                "raw": s2["raw"],
                "hw_ceiling": t2["hardware_ceiling"]["efficiency"],
                "normalized": s2["normalized"],
            },
            "abs_delta": round(abs(s1["normalized"] - s2["normalized"]), 3),
            "agree_within_5pct": (
                abs(s1["normalized"] - s2["normalized"]) <= 0.05
            ),
        }
    # the per-round fixed driver cost F (round wall = F + W/k) is a
    # property of the DRIVER, not of the executor counts — the two
    # topologies solving to the same F is independent evidence the
    # floor model behind the normalization argument is right
    f1 = (t1.get("fixed_cost") or {}).get("solved_F_sec_per_round")
    f2 = (t2.get("fixed_cost") or {}).get("solved_F_sec_per_round")
    if f1 and f2:
        rows["fixed_cost_F_sec_per_round"] = {
            "topo1_solved": f1,
            "topo2_solved": f2,
            "topo2_ledger_hi": (t2.get("fixed_cost") or {}).get(
                "ledger_driver_sec_hi"
            ),
        }
    def weak_of(t: dict) -> dict | None:
        w = t.get("weak_scaling")
        if w and "efficiency_fetched_normalized" not in w:
            # older runs store only the raw number; normalize by the
            # same hardware ceiling the strong-scaling numbers use
            w["efficiency_fetched_normalized"] = round(
                min(1.0, w["efficiency_fetched_raw"]
                    / t["hardware_ceiling"]["efficiency"]), 3
            )
        return w

    weak1, weak2 = weak_of(t1), weak_of(t2)
    for name, w in (("topo1_weak", weak1), ("topo2_weak", weak2)):
        if w:
            rows["fetched"][name] = {
                "efficiency_raw": w["efficiency_fetched_raw"],
                "efficiency_normalized": w.get(
                    "efficiency_fetched_normalized"
                ),
            }
    t1["topology_agreement"] = rows
    (bench / "scaling.json").write_text(json.dumps(t1, indent=2))

    lines = [MARK, ""]
    lines.append(
        "The hardware-ceiling normalization is validated by re-running the\n"
        "whole N-vs-4N comparison at a SECOND topology: if the normalized\n"
        "number were an artifact of the chosen executor counts (or of the\n"
        "ceiling burn), two topologies would disagree. Measured:"
    )
    lines.append("")
    lines.append(
        "| metric | topology | raw eff | hw ceiling | normalized | delta |"
    )
    lines.append("|---|---|---|---|---|---|")
    labels = {
        "fetched": "fetched URLs/sec",
        "checked": "checked URLs/sec",
        "fetched_steady": "fetched URLs/sec, steady rounds (warm-up "
                          "round dropped, per-round F included)",
    }
    for metric, r in rows.items():
        if "topo1" not in r:
            continue
        label = labels.get(metric, metric)
        lines.append(
            f"| {label} | {r['topo1']['levels']} | "
            f"{r['topo1']['raw']} | {r['topo1']['hw_ceiling']} | "
            f"**{r['topo1']['normalized']}** | "
            f"+/-{r['abs_delta']} "
            f"({'<=0.05 OK' if r['agree_within_5pct'] else '>0.05 FAIL'}) |"
        )
        lines.append(
            f"| {label} | {r['topo2']['levels']} | "
            f"{r['topo2']['raw']} | {r['topo2']['hw_ceiling']} | "
            f"**{r['topo2']['normalized']}** | |"
        )
    fc = rows.get("fixed_cost_F_sec_per_round")
    if fc:
        lines.append("")
        lines.append(
            "Per-round fixed driver cost F (round wall = F + W/k) solved "
            "independently at both topologies — F is a driver property, so "
            "agreement here validates the floor model: topo1 "
            f"{fc['topo1_solved']} s/round, topo2 {fc['topo2_solved']} "
            f"s/round (topo2 driver-phase ledger at the big level: "
            f"{fc['topo2_ledger_hi']} s/round)."
        )
    if weak1 or weak2:
        parts = [
            f"{name} **{w['efficiency_fetched_raw']} raw / "
            f"{w.get('efficiency_fetched_normalized')} normalized**"
            for name, w in (("topo1", weak1), ("topo2", weak2)) if w
        ]
        lines.append("")
        lines.append(
            "Weak-scaling arm (rounds sized proportionally to executors "
            "— the big level crawls 4x the hosts, so per-round fixed "
            "driver cost amortizes over proportionally bigger rounds, "
            "the 100 TB operating point), fetched-URLs/sec efficiency: "
            + "; ".join(parts) + "."
        )
    lines += ["", END_MARK]
    replace_section(bench / "BASELINE.md", MARK, "\n".join(lines))
    print(json.dumps(rows, indent=2))


if __name__ == "__main__":
    main()

"""Steadiness report and per-layer diff for the benchmark.

Run from the repository root.

  python3 perfbench/report.py runs [--workload W ...] [--runs N] [--seed S] [--trace 0|1]

runs each workload N times (fresh process, seeds S, S+1, ...) and
prints, per metric, its unit, sample count, median, quartiles and
IQR/median next to the metric's bound in BENCHMARK.json. With N=1 it
just prints every metric of every workload once. Exits 1 when a run
fails or reports an incorrect result.

  python3 perfbench/report.py diff OLD.json NEW.json

compares two run records from ``.perfbench/records/`` layer by layer,
so a regression shows at the layer that moved.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import stats  # noqa: E402


def load_benchmark(root: Path) -> dict:
    return json.loads((root / "BENCHMARK.json").read_text())


def run_once(bench: dict, workload: str, seed: int, trace: int) -> dict:
    cmd = [sys.executable, *bench["command"][1:], "--workload", workload,
           "--seed", str(seed), "--seconds", str(bench["run_seconds"]),
           "--trace", str(trace)]
    proc = subprocess.run(cmd, capture_output=True, text=True, timeout=600)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stderr[-3000:])
        raise RuntimeError(f"{workload} seed {seed}: exit {proc.returncode}")
    return json.loads(lines[-1])


def cmd_runs(args) -> int:
    root = Path.cwd()
    bench = load_benchmark(root)
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    workloads = args.workload or [w["name"] for w in bench["workloads"]]
    bad = 0
    print(f"{'workload':12s} {'metric':12s} {'unit':4s} {'runs':>4s} {'ops/run':>7s} "
          f"{'median':>10s} {'q1':>10s} {'q3':>10s} {'iqr/med':>8s} {'bound':>6s}")
    for w in workloads:
        results = []
        for i in range(args.runs):
            res = run_once(bench, w, args.seed + i, args.trace)
            if not res["correct"] or res["failed"]:
                print(f"{w}: seed {args.seed + i} failed {res['failed']} of "
                      f"{res['attempted']} ops", file=sys.stderr)
                bad += 1
            results.append(res)
            print(f"# {w} seed {args.seed + i}: " + json.dumps(
                {k: round(v["value"], 4) for k, v in res["metrics"].items()}),
                flush=True)
        ops = statistics.median(r["attempted"] for r in results)
        for name, first in results[0]["metrics"].items():
            vals = [r["metrics"][name]["value"] for r in results]
            bound = bounds.get(name)
            row = f"{w:12s} {name:12s} {first['unit']:4s} {len(vals):4d} {ops:7g} "
            if len(vals) > 1:
                s = stats.spread(vals)
                row += (f"{s['median']:10.4f} {s['q1']:10.4f} {s['q3']:10.4f} "
                        f"{s['iqr_over_median']:8.4f}")
            else:
                row += f"{vals[0]:10.4f} {'':>10s} {'':>10s} {'':>8s}"
            print(row + (f" {bound:6.3f}" if bound is not None else ""))
    return 1 if bad else 0


def _flat(d: dict, prefix: str = "") -> dict[str, float]:
    out = {}
    for k, v in d.items():
        if isinstance(v, dict):
            out.update(_flat(v, f"{prefix}{k}."))
        elif isinstance(v, (int, float)) and not isinstance(v, bool):
            out[prefix + k] = float(v)
    return out


def cmd_diff(args) -> int:
    old, new = (json.loads(Path(p).read_text()) for p in (args.old, args.new))
    a = {**_flat(old["metrics"]), **_flat(old["layers"])}
    b = {**_flat(new["metrics"]), **_flat(new["layers"])}
    layers = json.loads((HERE / "layers.json").read_text())

    def moves(name: str) -> str:
        """The end-to-end metric a layer metric should move (layers.json)."""
        entry = layers.get(name)
        if entry is None and "." in name:
            entry = layers.get("<family>." + name.split(".", 1)[1])
        return entry["moves"] if isinstance(entry, dict) else ""

    def cell(v: float | None) -> str:
        return f"{v:12.4f}" if v is not None else f"{'-':>12s}"

    print(f"{'metric':32s} {'old':>12s} {'new':>12s} {'change':>9s}  moves")
    for k in sorted(set(a) | set(b)):
        x, y = a.get(k), b.get(k)
        change = f"{(y - x) / x:+9.1%}" if x and y is not None else f"{'':>9s}"
        print(f"{k:32s} {cell(x)} {cell(y)} {change}  {moves(k)}")
    for side, rec in (("old", old), ("new", new)):
        host = rec.get("host", {})
        speeds = [h.get("mhash_per_s") for h in host.values()]
        print(f"host {side}: mhash/s {speeds}, load {host.get('before', {}).get('loadavg')}")
    return 0


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    r = sub.add_parser("runs", help="run workloads and print metric spreads")
    r.add_argument("--workload", action="append")
    r.add_argument("--runs", type=int, default=1)
    r.add_argument("--seed", type=int, default=1)
    r.add_argument("--trace", type=int, choices=(0, 1), default=0)
    d = sub.add_parser("diff", help="per-layer diff of two run records")
    d.add_argument("old")
    d.add_argument("new")
    args = ap.parse_args(argv)
    return cmd_runs(args) if args.cmd == "runs" else cmd_diff(args)


if __name__ == "__main__":
    raise SystemExit(main())

"""The benchmark's workloads. Each one calls only public program APIs.

A workload has an untimed ``setup`` (input build plus warm-up), a
timed ``run_pass`` that returns one record per operation (op), and an
untimed correctness verdict per op. One client drives it: the next op
starts when the previous one returns (a closed loop).
"""

from __future__ import annotations

import hashlib
import json
import math
import random
import statistics
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
FIXTURES = HERE / "data" / "sf0.01"
FINGERPRINTS = HERE / "fingerprints.json"

#: query -> the operators/functions module it calls ("relational" when it
#: is plain SQL in `__spark_entry__.py`)
FAMILY = {
    "reject_stats": "filters",
    "best_url_per_id": "besturl",
    "seen_antijoin": "seen",
    "recross_join": "relational",
    "payload_dedup": "relational",
    "host_quota_spill": "relational",
    "politeness_schedule": "relational",
    "retry_classification": "retry",
    "q1_pricing_summary": "relational",
    "q3_top_orders": "relational",
    "sessionize": "relational",
    "tumbling_agg": "relational",
    "domain_block_rule": "blocking",
    "ann_cosine_topk": "similarity",
    "dedup_simhash": "dedup",
    "text_gates": "textstats",
    "image_gates": "multimodal",
}

#: crawl-side queries: bench.py's 12 headline queries plus the blocking
#: family's domain rule. About 0.5 s each, so per-query fixed cost
#: (planning, codegen, job scheduling) dominates.
FRONTIER = [
    "reject_stats", "best_url_per_id", "seen_antijoin", "recross_join",
    "payload_dedup", "host_quota_spill", "politeness_schedule",
    "retry_classification", "q1_pricing_summary", "q3_top_orders",
    "sessionize", "tumbling_agg", "domain_block_rule",
]

#: curation-side queries, one per family of ANN / similarity, dedup,
#: text and image gates: self-joins, shuffles and NumPy mapInPandas scans.
CURATION = ["ann_cosine_topk", "dedup_simhash", "text_gates", "image_gates"]


def _norm(v) -> str:
    """One printable form per value, doubles to 6 significant digits
    (the correctness gate's normalisation)."""
    if isinstance(v, float):
        return "nan" if math.isnan(v) else f"{v:.6g}"
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, bool):
        return str(v).lower()
    return str(v)


def fingerprint(columns: list[str], rows) -> dict:
    """Order-insensitive fingerprint of a result: row count plus a
    multiset hash (sum of per-row sha256, mod 2^128) over rows whose
    columns are taken in name order."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    acc, n = 0, 0
    for r in rows:
        key = "\x1f".join(_norm(r[i]) for i in order).encode()
        acc = (acc + int.from_bytes(hashlib.sha256(key).digest()[:16], "big")) % (1 << 128)
        n += 1
    return {"rows": n, "columns": sorted(columns), "hash": f"{acc:032x}"}


class Queries:
    """Declared `__spark_entry__.queries()` over the fixed seed-42 fixture
    tables, crawl-side (FRONTIER) and curation-side (CURATION) in one
    pass. The seed only permutes query order within a pass."""

    def __init__(self, names: list[str]):
        self.names = names

    def setup(self, spark, seed: int, run_dir: Path, spans: list) -> dict:
        import pyarrow.parquet as pq

        import __spark_entry__ as entry

        t = time.time()
        self.spark = spark
        self.fixtures = str(FIXTURES)
        # read every fixture footer: fails early on a missing or
        # truncated table instead of inside a timed op
        for p in sorted(FIXTURES.glob("*.parquet")):
            pq.ParquetFile(p)
        expected = json.loads(FINGERPRINTS.read_text())
        self.expected = {n: expected[n] for n in self.names}
        declared = entry.queries()
        self.queries = {n: declared[n] for n in self.names}
        self.order = list(self.names)
        random.Random(seed).shuffle(self.order)
        self.seq = 0
        build_s = time.time() - t
        spans.append(("inputs", "load_fixtures", t, t + build_s))
        t = time.time()
        self.run_pass(spans, warmup=True)
        warm_s = time.time() - t
        return {"inputs.build_s": build_s, "warmup_s": warm_s}

    def run_pass(self, spans: list, warmup: bool = False) -> list[dict]:
        sc = self.spark.sparkContext
        ops = []
        for name in self.order:
            self.seq += 1
            group = f"{'warmup' if warmup else 'op'}-{self.seq}-{name}"
            sc.setJobGroup(group, name)
            start = time.time()
            try:
                df = self.queries[name](self.spark, self.fixtures)
                rows = df.collect()
                end = time.time()
                ok = fingerprint(df.columns, rows) == self.expected[name]
            except Exception as e:  # noqa: BLE001 - a failed op is counted, not fatal
                end = time.time()
                ok = False
                print(f"perfbench: {name} raised {type(e).__name__}: {str(e)[:300]}",
                      flush=True)
            sc.setJobGroup("idle", "between ops")
            spans.append(("query", name, start, end))
            ops.append({
                "name": name, "family": FAMILY[name], "group": group,
                "start": start, "end": end, "ok": ok,
            })
        return ops

    def check(self, ops: list[dict]) -> None:
        """Each op was checked against its recorded fingerprint as it
        returned, outside its timed interval."""

    def layer_record(self, ops: list[dict], spark_ops: list[dict] | None) -> dict:
        """Per-family wall, jobs, driver gap and Python time per pass."""
        out: dict[str, float] = {}
        passes = max(1, len(ops) // len(self.order))
        groups = {f: [op["family"] == f for op in ops] for f in sorted(set(FAMILY.values()))}
        groups["frontier"] = [op["name"] in FRONTIER for op in ops]
        groups["curation"] = [op["name"] in CURATION for op in ops]
        for g, member in groups.items():
            idx = [i for i, m in enumerate(member) if m]
            if not idx:
                continue
            out[f"{g}.wall_s"] = sum(ops[i]["end"] - ops[i]["start"] for i in idx) / passes
            if spark_ops is not None:
                for k in ("jobs", "driver_gap_s", "python_udf_s"):
                    out[f"{g}.{k}"] = sum(spark_ops[i][k] for i in idx) / passes
        return out


class Crawl:
    """CrawlEngine.crawl over a SyntheticWeb(seed), persisted through a
    SnapshotCatalog the way jobs/crawl_job.py runs it. A pass is one
    whole two-round crawl on a fresh catalog; its op is round 1. Round 0
    of the first pass is the warm-up: it compiles the round's
    expressions and starts the Python workers, and counts in set-up.

    Every web has 586 seeds, so round 0 (exact seen path, nothing seen
    yet) ends with more seen keys than both seen-set thresholds: it
    builds the sharded seen sketch, and round 1 takes the sharded probe
    (the path production runs at scale), merges its seen delta into the
    sketch and, with ``compact_every=1``, compacts the catalog."""

    N_HOSTS = 60
    PAGES_MAX = 40
    MAX_ROUNDS = 2
    HOST_QUOTA = 50
    BLOOM_THRESHOLD = 50
    SHARDED_THRESHOLD = 100
    COMPACT_EVERY = 1

    def setup(self, spark, seed: int, run_dir: Path, spans: list) -> dict:
        from publicationsretriever_spark.plans.rounds import CrawlEngine
        from publicationsretriever_spark.sources.synthetic_web import SyntheticWeb

        self.spark = spark
        self.run_dir = run_dir
        t = time.time()
        self.web = SyntheticWeb(
            seed=seed, n_hosts=self.N_HOSTS, pages_per_host_max=self.PAGES_MAX
        )
        build_s = time.time() - t
        spans.append(("synthetic_web", "build", t, t + build_s))
        t = time.time()
        self.engine = CrawlEngine(
            spark, self.web, num_buckets=2 * spark.sparkContext.defaultParallelism,
            host_quota=self.HOST_QUOTA,
            bloom_threshold=self.BLOOM_THRESHOLD,
            sharded_threshold=self.SHARDED_THRESHOLD,
            compact_every=self.COMPACT_EVERY,
        )
        init_s = time.time() - t
        spans.append(("engine", "init", t, t + init_s))
        self.passes = 0
        self.states = []
        self.warmup_s = None
        return {"inputs.build_s": build_s, "engine.init_s": init_s}

    def _crawl(self, spans: list):
        from publicationsretriever_spark.sources.catalog import SnapshotCatalog

        cat_dir = self.run_dir / f"catalog-{self.passes}"
        catalog = SnapshotCatalog(str(cat_dir))
        starts: list[float] = []
        calls: dict[str, list[float]] = {}

        def wrap(obj, attr: str, layer: str):
            fn = getattr(obj, attr)

            def timed(*a, **k):
                t = time.time()
                if attr == "run_round":
                    starts.append(t)
                try:
                    return fn(*a, **k)
                finally:
                    end = time.time()
                    spans.append((layer, attr, t, end))
                    calls.setdefault(attr, []).append(end - t)

            setattr(obj, attr, timed)

        wrap(self.engine, "run_round", "rounds")
        wrap(catalog, "write_round", "catalog")
        wrap(catalog, "finish_commit", "catalog")
        try:
            state = self.engine.crawl(self.web.seeds_df(self.spark),
                                      max_rounds=self.MAX_ROUNDS, catalog=catalog)
        finally:
            del self.engine.run_round
        end = time.time()
        return state, starts, end, cat_dir, calls

    def run_pass(self, spans: list) -> list[dict]:
        n0 = len(spans)
        try:
            state, starts, end, cat_dir, calls = self._crawl(spans)
        except Exception as e:  # noqa: BLE001 - a failed crawl is counted, not fatal
            print(f"perfbench: crawl raised {type(e).__name__}: {str(e)[:300]}", flush=True)
            starts = [s[2] for s in spans[n0:] if s[1] == "run_round"] or [time.time()]
            return [{"name": f"round{i}", "start": s, "end": time.time(), "ok": False}
                    for i, s in enumerate(starts)]
        self.passes += 1
        bounds = starts + [end]
        if self.warmup_s is None:
            self.warmup_s = bounds[1] - bounds[0]
            spans.append(("warmup", "round0", bounds[0], bounds[1]))
        ops = [
            {"name": f"round{i}", "start": bounds[i], "end": bounds[i + 1],
             "ok": None, "pass": self.passes - 1}
            for i in range(1, len(starts))
        ]
        self.states.append((state, ops, cat_dir, calls))
        return ops

    def check(self, ops: list[dict]) -> None:
        """Results multiset and seen set of every crawl against the
        sequential oracle on the same web and seeds; a mismatch fails
        every round of that crawl."""
        from publicationsretriever_spark.crawl.oracle import (
            all_urls_of_web,
            compute_verdicts,
            crawl_oracle,
        )

        verdicts = compute_verdicts(self.spark, all_urls_of_web(self.web), self.web)
        seeds = [(sid, n, u) for n, (sid, u) in enumerate(self.web.seeds)]
        oracle = crawl_oracle(self.web, verdicts, seeds, max_rounds=self.MAX_ROUNDS,
                              host_quota=self.HOST_QUOTA)
        want_results = sorted(
            (r["id"], r["sourceUrl"], r["docOrDatasetUrl"], r["round"])
            for r in oracle.results
        )
        for state, crawl_ops, _, _ in self.states:
            got = sorted(
                (r["id"], r["sourceUrl"], r["docOrDatasetUrl"], r["round"])
                for r in state.results.collect()
            )
            ok = got == want_results and {r[0] for r in state.seen.collect()} == oracle.seen
            for op in crawl_ops:
                op["ok"] = ok

    def layer_record(self, ops: list[dict], spark_ops: list[dict] | None) -> dict:
        """Round phases and catalog writes as medians over the timed
        rounds (round 1 on); seen-set and exact-count ratios over all
        rounds."""
        if not self.states:
            return {}
        rounds, timed, run_calls, writes = [], [], [], []
        commits, files, sizes, paths, new_seen = [], [], [], [], 0
        for state, _, cat_dir, calls in self.states:
            rounds.extend(state.metrics)
            timed.extend(state.metrics[1:])
            run_calls.extend(calls.get("run_round", [])[1:])
            writes.extend(calls.get("write_round", [])[1:])
            commits.extend(calls.get("finish_commit", []))
            seen = [0] + [m["seen_total"] for m in state.metrics]
            new_seen += seen[-1]
            paths += ["exact" if s < self.BLOOM_THRESHOLD else
                      "sketch" if s < self.SHARDED_THRESHOLD else "sharded"
                      for s in seen[:-1]]
            for snap in sorted(cat_dir.glob("snap-*")):
                parts = [p for p in snap.rglob("*.parquet") if p.is_file()]
                files.append(len(parts))
                sizes.append(sum(p.stat().st_size for p in parts))
        med = statistics.median
        counters = [c for m in rounds for c in m["fetch_counters"].values()]
        fetched = sum(c["fetched"] for c in counters)
        timed_fetched = sum(c["fetched"] for m in timed for c in m["fetch_counters"].values())
        frontier_in = sum(m["frontier_in"] for m in rounds)
        compacted = [w for w, m in zip(writes, timed) if m.get("compacted")]
        return {
            "warmup_s": self.warmup_s,
            "rounds.round_s": med(m["wall_sec"] for m in timed),
            "rounds.construct_s": med(m["driver_phases"]["construct"] for m in timed),
            "rounds.cut_s": med(sum(m["driver_phases"]["cuts"].values()) for m in timed),
            "catalog.write_round_s": med(writes),
            "catalog.compact_write_s": med(compacted) if compacted else None,
            "catalog.finish_commit_s": med(commits or [0.0]),
            "catalog.bytes_per_round": med(sizes),
            "catalog.files_per_round": med(files),
            # the round's wall after its catalog write: the fused metrics
            # collect plus the incremental seen-sketch maintenance
            "seen.sketch_s": med(
                m["wall_sec"] - r - w for m, r, w in zip(timed, run_calls, writes)
            ),
            "seen.new_ratio": new_seen / max(1, frontier_in),
            "seen.paths": {p: paths.count(p) for p in ("exact", "sketch", "sharded")},
            "rounds.compacted": sum(1 for m in rounds if m.get("compacted")),
            "filters.reject_ratio": sum(m["rejected"] for m in rounds) / max(1, frontier_in),
            "fetch.error_ratio": sum(c["errors"] for c in counters) / max(1, fetched),
            "urls_per_s": timed_fetched / max(1e-9, sum(op["end"] - op["start"] for op in ops)),
        }


WORKLOADS = {
    "crawl": Crawl,
    "queries": lambda: Queries(FRONTIER + CURATION),
}

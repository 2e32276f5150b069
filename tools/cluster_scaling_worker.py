"""One scaling-benchmark run, submitted to a standalone cluster.

Launched by tools/bench_cluster_scaling.py via

    spark-submit --master spark://127.0.0.1:7077 \
        --conf spark.cores.max=<N*2> --conf spark.executor.cores=2 \
        --py-files build/publicationsretriever_spark.zip \
        tools/cluster_scaling_worker.py <n_executors> <n_urls> <n_hosts> <pages_max>

Two measured jobs, identical input at every cluster size:

1. LOAD STAGE at scale — `n_urls` synthesized URLs (JVM-side from
   spark.range: zipfian hosts, battery-reject mix) through the full
   frontier preparation: filter battery -> clean/canonicalize (Arrow
   UDF) -> hash/bucket -> in-round dedup -> seen probe (mark_seen) ->
   best-url-per-id -> politeness/quota windows. Metric: checked URLs/s.
2. FULL CRAWL on the hermetic synthetic web — 2 rounds incl. fetch
   mapInPandas + the real HTML page stage. Metric: fetched URLs/sec +
   rounds/hour.

Prints one JSON line. The master/executor topology comes entirely from
spark-submit: this script never sets a master, so the identical code
measures local mode or a real cluster.
"""

from __future__ import annotations

import json
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import SparkSession  # noqa: E402


def get_session(parallelism: int) -> SparkSession:
    # Partitioning is IDENTICAL across cluster sizes so both levels
    # execute the same set of tasks — only the concurrency differs:
    # spark.sql.shuffle.partitions is fixed, and AQE partition
    # coalescing runs in SIZE-DRIVEN mode (parallelismFirst=false), so
    # its decisions depend on the data (same at both levels), never on
    # the cluster's core count. Coalescing itself stays ON because the
    # crawl's dimension-table aggregates (domain counters, blocking
    # rules) are tiny — without it every one of them pays the full
    # 32-task scheduling overhead per stage, a fixed per-round cost
    # that poisons the scaling ratio at BOTH levels.
    spark = (
        SparkSession.builder.appName(f"cluster_scaling_{parallelism}")
        .config("spark.sql.shuffle.partitions", str(parallelism))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
        # tiny advisory size: only KB-scale shuffles (dimension
        # aggregates) coalesce; data-bearing shuffles keep full width.
        # The crawl's rows are python-CPU-heavy, not byte-heavy — the
        # default 64MB advisory would merge the whole fetch stage into
        # one task and serialize the Python work
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "65536")
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "65536")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("WARN")
    return spark


def synth_urls(spark, n: int, parts: int, hot_host_pct: int = 0):
    """Synthesized frontier; ``hot_host_pct`` percent of the urls land
    on ONE host (zipf-head skew stress — the quota window shuffles by
    top3 domain, so a hot host concentrates in a single task)."""
    from pyspark.sql import functions as F

    df = spark.range(0, n, 1, parts)
    host = F.concat(
        F.lit("host"),
        F.pmod(F.pmod(F.col("id") * 2654435761, F.lit(997)), F.lit(500)),
        F.lit(".example.org"),
    )
    if hot_host_pct:
        host = F.when(
            F.pmod(F.col("id"), F.lit(100)) < hot_host_pct,
            F.lit("hothead.example.org"),
        ).otherwise(host)
    kind = F.pmod(F.col("id"), F.lit(10))
    url = (
        F.when(kind == 0, F.concat(F.lit("https://"), host, F.lit("/files/"), F.col("id"), F.lit("/fulltext.pdf")))
        .when(kind == 1, F.concat(F.lit("https://"), host, F.lit("/article/download/"), F.col("id")))
        .when(kind == 2, F.concat(F.lit("https://"), host, F.lit("/handle/123/"), F.col("id")))
        .when(kind == 3, F.concat(F.lit("https://doi.org/10.1234/x."), F.col("id")))
        .when(kind == 4, F.concat(F.lit("https://"), host, F.lit("/article/"), F.col("id"), F.lit("?jsessionid=AB"), F.col("id"), F.lit("&p=2")))
        .when(kind == 5, F.concat(F.lit("https://www.facebook.com/p/"), F.col("id")))
        .when(kind == 6, F.concat(F.lit("https://"), host, F.lit("/login")))
        .when(kind == 7, F.concat(F.lit("https://"), host, F.lit("/css/s"), F.col("id"), F.lit(".css")))
        .when(kind == 8, F.concat(F.lit("https://"), host, F.lit("/")))
        .otherwise(F.concat(F.lit("https://"), host, F.lit("/article/"), F.col("id")))
    )
    return df.select(
        F.pmod(F.col("id"), F.lit(n // 3 + 1)).cast("string").alias("id"),
        F.col("id").alias("order_in_id"),
        url.alias("url"),
    )


def _load_inputs(spark, n_urls: int, parts: int):
    """The load job's engine and its seen table: ``n_urls // 2`` keys
    hashed from urls the synthesized frontier never contains."""
    from pyspark.sql import functions as F

    from publicationsretriever_spark.plans.rounds import CrawlEngine
    from publicationsretriever_spark.sources.synthetic_web import SyntheticWeb

    web = SyntheticWeb(seed=1, n_hosts=2, pages_per_host_max=2)
    engine = CrawlEngine(spark, web, num_buckets=parts)
    seen = spark.range(0, n_urls // 2, 1, parts).select(
        F.xxhash64(F.concat(F.lit("https://hostx.example.org/a/"), F.col("id"))).alias("url_hash")
    )
    return engine, seen


def load_job(engine, seeds, seen, seen_count: int) -> int:
    """The measured load job over ``seeds``; returns the scheduled row
    count. The seen probe is the crawl's own operator (``mark_seen``,
    keeping the rows it marks unseen)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from publicationsretriever_spark.operators.besturl import pick_best_url_per_id
    from publicationsretriever_spark.operators.seen import mark_seen

    staged = engine.prepare_frontier(
        seeds.withColumn("depth", F.lit(0)).withColumn("kind", F.lit("seed")),
        round_no=0,
    )
    ok = staged.filter(F.col("reject_reason").isNull())
    w = Window.partitionBy("url_hash").orderBy("order_in_id", "id")
    ok = ok.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1)
    unseen = (
        mark_seen(ok, seen, "url_hash", seen_count=seen_count)
        .filter(~F.col("_seen"))
        .drop("_seen")
    )
    best = pick_best_url_per_id(unseen).filter(F.col("is_best"))
    wq = Window.partitionBy("top3").orderBy("priority", "url_hash")
    sched = best.withColumn("_slot", F.row_number().over(wq))
    return sched.select(F.count(F.lit(1))).collect()[0][0]


def run_load_stage(spark, n_urls: int, parts: int) -> dict:
    from pyspark.sql import functions as F

    from publicationsretriever_spark.functions import urls as U

    engine, seen = _load_inputs(spark, n_urls, parts)
    seeds = synth_urls(spark, n_urls, parts)

    # warm-up pays codegen AND Python-worker startup on every executor
    # (the canonicalize UDF must actually EXECUTE: .count() alone would
    # let column pruning drop it)
    small = synth_urls(spark, 20_000, parts)
    small.select(U.canonicalize_udf(F.col("url")).alias("c")).select(
        F.count("c")
    ).collect()
    _ = engine.prepare_frontier(
        small.withColumn("depth", F.lit(0)).withColumn("kind", F.lit("seed")), 0
    ).filter(F.col("reject_reason").isNull()).count()

    # best of 2: the host is shared (steal/turbo noise between runs)
    walls = []
    for _ in range(2):
        t0 = time.time()
        n_sched = load_job(engine, seeds, seen, n_urls // 2)
        walls.append(time.time() - t0)
    wall = min(walls)
    return {
        "n_urls": n_urls,
        "load_wall_sec": round(wall, 2),
        "load_walls_all": [round(w, 2) for w in walls],
        "scheduled": n_sched,
        "checked_urls_per_sec": round(n_urls / wall, 1),
    }


def run_skew_stress(spark, n_urls: int, parts: int) -> dict:
    """Zipf-head stress: the SAME load job on a frontier where 30% of
    urls live on one host vs the uniform-ish baseline. Reports the
    wall ratio — the cost of the politeness design point that one
    host's schedulable rows rank inside one task."""
    engine, seen = _load_inputs(spark, n_urls, parts)

    def job(seeds):
        return load_job(engine, seeds, seen, n_urls // 2)

    # INTERLEAVED arms (VERDICT r4 item 2): the first cut ran uniform
    # fully, then hot30 minutes later — on a shared host with ~40%/hour
    # per-core drift the arm order dominated the ratio (hot30 measured
    # FASTER once). Back-to-back (u,h) pairs make each ratio a same-
    # minute comparison; the reported slowdown is the MEDIAN of the
    # per-pair ratios, so a one-off neighbor burst in either arm of one
    # pair cannot flip the sign.
    seeds = {
        "uniform": synth_urls(spark, n_urls, parts, hot_host_pct=0),
        "hot30": synth_urls(spark, n_urls, parts, hot_host_pct=30),
    }
    for s in seeds.values():
        job(s.limit(20_000))  # warm: codegen + python workers per arm
    walls: dict[str, list[float]] = {"uniform": [], "hot30": []}
    for _ in range(3):
        for name in ("uniform", "hot30"):
            t0 = time.time()
            job(seeds[name])
            walls[name].append(round(time.time() - t0, 2))
    ratios = sorted(
        h / u for u, h in zip(walls["uniform"], walls["hot30"])
    )
    return {
        "skew_n_urls": n_urls,
        "skew_walls_uniform_sec": walls["uniform"],
        "skew_walls_hot30_sec": walls["hot30"],
        "skew_wall_uniform_sec": min(walls["uniform"]),
        "skew_wall_hot30_sec": min(walls["hot30"]),
        "skew_pair_ratios": [round(r, 3) for r in ratios],
        "skew_slowdown": round(ratios[len(ratios) // 2], 3),
    }


def run_crawl(spark, n_hosts: int, pages_max: int, parts: int,
              rounds: int = 2, engine_kwargs: dict | None = None) -> dict:
    from pathlib import Path

    from pyspark.sql import functions as F

    from publicationsretriever_spark.operators.multimodal import decode_image_metrics
    from publicationsretriever_spark.plans.rounds import CrawlEngine

    # web-scale FUNCTIONAL web: responses recomputed from the URL on
    # the executors (zero broadcast), so crawl rounds carry millions of
    # URLs and the measured wall is executor work, not driver constants
    spark.sparkContext.addPyFile(
        str(Path(__file__).resolve().parent / "bigweb.py")
    )
    from bigweb import BigWeb

    web = BigWeb(n_hosts=n_hosts, pages_per_host=pages_max, seed=42)
    ek = dict(engine_kwargs or {})
    host_quota = ek.pop("host_quota", 10**9)
    engine = CrawlEngine(spark, web, num_buckets=parts,
                         host_quota=host_quota, **ek)
    seeds = web.seeds_df(spark).repartition(parts).cache()
    seeds.count()
    payloads_src = web.payloads_df(spark).repartition(parts).cache()
    payloads_src.count()
    # warm-up: one tiny crawl + decode pays codegen + python workers
    CrawlEngine(spark, web, num_buckets=parts).crawl(seeds.limit(200), max_rounds=1)
    decode_image_metrics(payloads_src.limit(parts * 50)).filter(
        F.col("decode_ok")
    ).count()

    t0 = time.time()
    state = engine.crawl(seeds, max_rounds=rounds)
    # north-rule per-row invariant on every fetched payload: decode the
    # pixels + recompute phash (Arrow-batched mapInPandas) — part of
    # the crawl's work, not an afterthought (BASELINE.json input_hint)
    fetched_payloads = payloads_src.join(state.payloads, "image_id", "left_semi")
    verified = decode_image_metrics(fetched_payloads).filter(
        F.col("decode_ok") & F.col("phash_check").isNotNull()
    ).count()
    wall = time.time() - t0
    fetched = sum(m["fetched"] for m in state.metrics)
    return {
        "crawl_seed_urls": seeds.count(),
        "crawl_wall_sec": round(wall, 2),
        "urls_fetched": fetched,
        "payloads_verified": verified,
        "fetched_urls_per_sec": round(fetched / wall, 1),
        "rounds": len(state.metrics),
        "rounds_per_hour": round(len(state.metrics) / wall * 3600, 1),
        "round_walls": [m.get("wall_sec") for m in state.metrics],
        # fixed-vs-scalable split (VERDICT r4: the ~59s/round driver
        # floor): per-round driver-phase ledger from the engine
        "round_driver_phases": [m.get("driver_phases") for m in state.metrics],
        "round_fetched": [m["fetched"] for m in state.metrics],
        "round_compacted": [bool(m.get("compacted")) for m in state.metrics],
        "seen_total": state.metrics[-1]["seen_total"] if state.metrics else 0,
    }


def main() -> None:
    n_executors = int(sys.argv[1])
    n_urls = int(sys.argv[2]) if len(sys.argv) > 2 else 4_000_000
    n_hosts = int(sys.argv[3]) if len(sys.argv) > 3 else 60_000
    pages_max = int(sys.argv[4]) if len(sys.argv) > 4 else 60

    import os

    # FIXED task count regardless of cluster size: both levels run the
    # identical 32 tasks per stage; only concurrency differs.
    parallelism = int(os.environ.get("BENCH_PARTITIONS", "64"))
    spark = get_session(parallelism)
    out = {"n_executors": n_executors, "parallelism": parallelism}
    if os.environ.get("BENCH_SKIP_LOAD") != "1":
        out.update(run_load_stage(spark, n_urls, parallelism))
    if os.environ.get("BENCH_SKIP_CRAWL") != "1":
        rounds = int(os.environ.get("BENCH_ROUNDS", "2"))
        ek: dict = {}
        deep = os.environ.get("BENCH_DEEP") == "1"
        # deep-rounds mode. The engine is reference-faithful one-level
        # crawling (internal links are checked, never re-extracted), so
        # sustained multi-round work comes from the N5 HOST-QUOTA
        # window: capping per-host intake makes the frontier drain over
        # ~`rounds` rounds through the quota-spill machinery — per-round
        # cost vs crawl age is exactly what flatness must measure.
        # Compaction is forced mid-run, and the seen-path thresholds are
        # scaled to the actual per-round seen growth (~1.5 * n_hosts *
        # quota) so the exact -> whole-set-bloom -> sharded crossings
        # land MID-RUN, not before or after it.
        if deep:
            quota = int(os.environ.get(
                "BENCH_QUOTA", str(max(2, pages_max // (rounds - 1)))
            ))
            ek = {
                "compact_every": 3,
                "host_quota": quota,
                "bloom_threshold": int(
                    os.environ.get("BENCH_BLOOM", str(n_hosts * quota))
                ),
                "sharded_threshold": int(
                    os.environ.get("BENCH_SHARDED", str(n_hosts * quota * 3))
                ),
            }
        out.update(run_crawl(spark, n_hosts, pages_max, parallelism,
                             rounds=rounds, engine_kwargs=ek))
        if deep:
            out["host_quota"] = quota
            out["bloom_threshold"] = ek["bloom_threshold"]
            out["sharded_threshold"] = ek["sharded_threshold"]
    if os.environ.get("BENCH_SKEW") == "1":
        out.update(run_skew_stress(spark, n_urls, parallelism))
    print("RESULT " + json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()

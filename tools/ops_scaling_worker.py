"""One ops-scaling run, submitted to a standalone cluster.

Launched by tools/bench_ops_scaling.py via

    spark-submit --master spark://127.0.0.1:7077 \
        --conf spark.cores.max=<E> --conf spark.executor.cores=1 \
        --py-files build/publicationsretriever_spark.zip \
        tools/ops_scaling_worker.py <suite> <n_executors> <n_docs>

Measures the TRAINING-PIPELINE and batch operators (the crawl side has
its own scaling evidence in BENCH/scaling.json) on inputs generated
JVM-side from spark.range — identical input and identical task set at
every cluster size; only concurrency differs. A suite builds its
inputs, warms codegen/JIT once on tiny slices (so both levels measure
steady-state execution, not first-compile), then each op is timed
with one action (wall seconds).

Suites and their ops:
  ops   minhash    minhash_lsh_pairs    (shingle explode + 8 md5 mins + band join)
        ngram      ngram_jaccard_pairs  (int64 shingles, PPJoin prefix filter)
        spans      dup_span_stats       (hash keys, window doc-count)
        gates      text_quality_gates   (pure projection battery)
        shards     token_shard_assign   (two-pass distributed prefix sum)
  ops5  dropspans  drop_dup_spans       (span explode + winner window + rebuild join)
        decon      decontaminate        (eval-span broadcast join, w=13 stride 1)
        lm         lm_quality_score     (trigram window counts, one text scan)
        mixture    mixture_sample       (stats agg + md5-bucket WHERE)
  ops6  incdedup   minhash_band_index + incremental_neardup_pairs
                   (corpus 80% indexed once, batch 20% broadcast-joined)
        aspect     aspect_batch_assign  (bucket argmin projection + two-pass rank)
        wdsplan    wds_shard_plan       (tar-byte prefix sum + shard offsets)
        epoch      epoch_shuffle        (seeded md5 permutation rank)
        recrawl    recrawl_schedule     (per-URL history window + agg)
  ops7  zorder     zorder_layout + zorder_manifest (min/max pass, Morton
                   projection, one hash shuffle into z files, stats agg)
        recall     retrieval_recall_at_k (corpus scan x broadcast queries,
                   counted ranks — the heavy cosine fan-out)
        revalidate apply_revalidation   (slim equi-join + CASE projection)

Row multiples per op are floor-clearing: slim plan-machinery ops run
over many more rows than the text-mining ops, so their walls measure
the operator and not the per-job scheduler floor.

Prints one `RESULT {json}` line.
"""

from __future__ import annotations

import json
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import SparkSession  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

WORDS = [
    "alpha", "beta", "gamma", "delta", "epsilon", "zeta", "eta",
    "theta", "iota", "kappa", "lam", "mu", "nu", "xi", "omicron",
    "pi", "rho", "sigma", "tau", "upsilon", "phi", "chi", "psi",
    "omega", "red", "green", "blue", "fast", "slow", "table", "row",
    "scan", "join", "hash", "sort", "merge", "spill", "batch", "agg",
    "the", "and", "of", "to", "a", "data", "spark", "query", "plan",
    "cost", "key",
]
PARTS = 32  # fixed task set at every level (same rule as the crawl worker)
DIM = 32
N_QUERIES = 64


def get_session(parallelism: int) -> SparkSession:
    spark = (
        SparkSession.builder.appName(f"ops_scaling_{parallelism}")
        .config("spark.sql.shuffle.partitions", str(PARTS))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config(
            "spark.sql.adaptive.coalescePartitions.parallelismFirst",
            "false",
        )
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "65536")
        .config(
            "spark.sql.adaptive.coalescePartitions.minPartitionSize",
            "65536",
        )
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("WARN")
    return spark


def synth_docs(spark: SparkSession, n: int):
    """Deterministic word-salad corpus, generated JVM-side: 60-259
    tokens per doc picked by a hash LCG; a FIXED-SIZE family of ~320
    docs are near-copies of a template (so the dedup ops have real
    positives to find). The family is one big near-dup clique whose
    band groups land in single tasks — a real skew tail, kept
    CONSTANT across corpus sizes so the scaling measurement sees the
    linear work grow while the (documented) doc-frequency ceiling
    stays a fixed component."""
    words_arr = F.array(*[F.lit(w) for w in WORDS])
    clique_mod = max(50, n // 320)
    base = spark.range(0, n, 1, PARTS).select(F.col("id").alias("doc_id"))
    n_toks = (F.lit(60) + F.pmod(F.xxhash64(F.col("doc_id")), F.lit(200))).cast("int")
    body = F.transform(
        F.sequence(F.lit(1), n_toks),
        lambda i: F.element_at(
            words_arr,
            (
                F.pmod(
                    F.xxhash64(F.col("doc_id") * F.lit(1315423911) + i.cast("long")),
                    F.lit(len(WORDS)),
                )
                + 1
            ).cast("int"),
        ),
    )
    template = F.concat_ws(
        " ", *[F.lit(WORDS[(i * 7) % len(WORDS)]) for i in range(120)]
    )
    text = F.when(
        F.pmod(F.col("doc_id"), F.lit(clique_mod)) == 0,
        F.concat(
            template,
            F.lit(" variant "),
            F.col("doc_id").cast("string"),
        ),
    ).otherwise(F.concat_ws(" ", body))
    return base.select("doc_id", text.alias("text"))


def ops_suite(spark: SparkSession, n_docs: int):
    """Batch dedup, gates and sharding over the synthesized corpus."""
    from publicationsretriever_spark.operators.dedup import (
        dup_span_stats,
        minhash_lsh_pairs,
        ngram_jaccard_pairs,
    )
    from publicationsretriever_spark.operators.packing import (
        token_shard_assign,
    )
    from publicationsretriever_spark.operators.textstats import (
        text_quality_gates,
        token_count,
    )

    docs = synth_docs(spark, n_docs)

    def warm():
        tiny = docs.filter(F.col("doc_id") < 200)
        minhash_lsh_pairs(tiny, "text", "doc_id", num_hashes=8, bands=4).count()
        ngram_jaccard_pairs(tiny, "text", "doc_id", threshold=0.8).count()
        dup_span_stats(tiny, "text", "doc_id").count()
        text_quality_gates(tiny, "text", "doc_id").count()

    return warm, {
        "minhash": lambda: minhash_lsh_pairs(
            docs, "text", "doc_id", num_hashes=8, bands=4
        ).count(),
        "ngram": lambda: ngram_jaccard_pairs(
            docs, "text", "doc_id", threshold=0.8
        ).count(),
        "spans": lambda: dup_span_stats(docs, "text", "doc_id").filter(
            F.col("dup_spans") > 0
        ).count(),
        "gates": lambda: text_quality_gates(docs, "text", "doc_id").filter(
            F.col("keep")
        ).count(),
        "shards": lambda: token_shard_assign(
            docs.select("doc_id", token_count(F.col("text")).alias("t")),
            "t",
            "doc_id",
            capacity=100_000,
        )
        .agg(F.max("shard"))
        .collect()[0][0],
    }


def ops5_suite(spark: SparkSession, n_docs: int):
    """Span removal, decontamination, LM scoring and mixing."""
    from publicationsretriever_spark.operators.dedup import (
        decontaminate,
        drop_dup_spans,
    )
    from publicationsretriever_spark.operators.textstats import (
        lm_quality_score,
        mixture_sample,
    )

    docs = synth_docs(spark, n_docs)
    # eval split for decontamination: every 49th doc — 49 is coprime
    # with the clique period (50/200), so a FEW template-clique docs
    # land in eval and the REST stay in train -> the train clique
    # members are real contamination hits (a %50 split would swallow
    # the whole clique into eval and count 0)
    ev = docs.filter(F.col("doc_id") % 49 == 0)
    tr = docs.filter(F.col("doc_id") % 49 != 0)
    # stratum for the mixing op: 4 deterministic hash buckets
    strat = docs.withColumn(
        "lang", F.pmod(F.xxhash64("doc_id"), F.lit(4)).cast("string")
    )
    fracs = {"0": 0.4, "1": 0.3, "2": 0.2, "3": 0.1}

    def warm():
        tiny = docs.filter(F.col("doc_id") < 200)
        tiny_ev = tiny.filter(F.col("doc_id") % 49 == 0)
        drop_dup_spans(tiny, "text", "doc_id").count()
        decontaminate(tiny, tiny_ev, "text", "doc_id").count()
        lm_quality_score(tiny, "text", "doc_id").count()

    return warm, {
        "dropspans": lambda: drop_dup_spans(docs, "text", "doc_id").filter(
            F.col("n_removed_spans") > 0
        ).count(),
        "decon": lambda: decontaminate(tr, ev, "text", "doc_id").filter(
            F.col("contaminated")
        ).count(),
        "lm": lambda: lm_quality_score(docs, "text", "doc_id").filter(
            F.col("n_ngrams") > 0
        ).count(),
        "mixture": lambda: mixture_sample(
            strat, "lang", "doc_id", "text", fracs
        ).count(),
    }


def ops6_suite(spark: SparkSession, n_docs: int):
    """Incremental dedup, aspect buckets, shard plan, epoch shuffle and
    recrawl scheduling."""
    from publicationsretriever_spark.operators.dedup import (
        incremental_neardup_pairs,
        minhash_band_index,
    )
    from publicationsretriever_spark.operators.multimodal import (
        aspect_batch_assign,
    )
    from publicationsretriever_spark.operators.packing import epoch_shuffle
    from publicationsretriever_spark.operators.recrawl import (
        recrawl_schedule,
    )
    from publicationsretriever_spark.sources.webdataset import wds_shard_plan

    docs = synth_docs(spark, n_docs)
    corpus = docs.filter(F.col("doc_id") % 5 != 0)
    batch = docs.filter(F.col("doc_id") % 5 == 0)

    # the plan-machinery ops (projection argmin, prefix sums, window
    # ranks) are far lighter per row than text mining, so they run
    # over 8x the rows — otherwise their walls sit on the per-job
    # scheduler floor and the ratio measures Spark overhead, not the
    # operator. Their inputs are pure arithmetic projections of a
    # range (no text), which is exactly their production shape:
    # metadata columns, not payloads.
    n_rows = n_docs * 8
    rows = spark.range(0, n_rows, 1, 32).select(
        F.col("id").alias("doc_id")
    )
    # pure prefix-sum/window/agg machinery is lighter still than the
    # argmin projection: 64x rows to clear the floor
    n_rows2 = n_docs * 64
    rows2 = spark.range(0, n_rows2, 1, 32).select(
        F.col("id").alias("doc_id")
    )
    imgs = rows.select(
        F.col("doc_id").alias("image_id"),
        (F.lit(16) + (F.col("doc_id") * 37) % 1984).cast("int").alias("w"),
        (F.lit(16) + (F.col("doc_id") * 59) % 1984).cast("int").alias("h"),
    )
    # the shard plan is the cheapest op of all (two slim scans, one
    # bucket shuffle of 3 longs/row): 512x rows to clear the floor
    rows3 = spark.range(0, n_docs * 512, 1, 32).select(
        F.col("id").alias("doc_id")
    )
    sized = rows3.select(
        F.col("doc_id").alias("image_id"),
        (F.lit(512) + F.col("doc_id") % 4096).cast("long").alias(
            "payload_len"
        ),
        (F.lit(1) + F.col("doc_id") % 200).cast("long").alias(
            "caption_len"
        ),
    )
    # fetch history: ~16 fetches per URL, hash-derived outcome mix and
    # minute-spaced timestamps — all JVM-side projections of doc_id.
    # 256x rows: recrawl_schedule is one url_id hash exchange over
    # 4 slim columns — at 64x rows its 4N wall (~1.7s) was ~30%
    # scheduler floor and the ratio measured Spark overhead, not the
    # operator (same floor-vs-slope reading as wdsplan's 512x)
    n_rows_r = n_docs * 256
    rows_r = spark.range(0, n_rows_r, 1, 32).select(
        F.col("id").alias("doc_id")
    )
    n_urls = max(64, n_rows_r // 16)
    hist = rows_r.select(
        (F.col("doc_id") % n_urls).alias("url_id"),
        F.timestamp_add(
            "MINUTE",
            (F.col("doc_id") / n_urls).cast("int"),
            F.lit("2024-01-01 00:00:00").cast("timestamp"),
        ).alias("ts"),
        F.when(F.pmod(F.xxhash64("doc_id"), F.lit(10)) < 2, "changed")
        .when(F.pmod(F.xxhash64("doc_id"), F.lit(10)) < 4, "error")
        .otherwise("unchanged")
        .alias("outcome"),
    )

    def warm():
        tiny = docs.filter(F.col("doc_id") < 200)
        tiny_idx = minhash_band_index(tiny, "text", "doc_id", 8, 4)
        incremental_neardup_pairs(tiny, tiny_idx, "text", "doc_id", 8, 4).count()
        aspect_batch_assign(imgs.filter(F.col("image_id") < 200), 64).count()
        wds_shard_plan(sized.filter(F.col("image_id") < 200), 1 << 20).count()
        epoch_shuffle(rows2.filter(F.col("doc_id") < 200), "doc_id").count()
        recrawl_schedule(hist.filter(F.col("url_id") < 50)).count()

    # lazy: the index build is timed inside incdedup's action
    index = minhash_band_index(corpus, "text", "doc_id", 8, 4)
    return warm, {
        "incdedup": lambda: incremental_neardup_pairs(
            batch, index, "text", "doc_id", 8, 4
        ).count(),
        "aspect": lambda: aspect_batch_assign(
            imgs, batch_size=64, block_size=4096
        )
        .filter(F.col("batch_idx") >= 0)
        .count(),
        "wdsplan": lambda: wds_shard_plan(sized, shard_max_bytes=1 << 22)
        .filter(F.col("offset_in_tar") >= 0)
        .count(),
        "epoch": lambda: epoch_shuffle(
            rows2, "doc_id", seed="s1", shard_size=4096
        )
        .filter(F.col("shard") >= 0)
        .count(),
        "recrawl": lambda: recrawl_schedule(hist).count(),
    }


def _vec(col: str):
    """Deterministic pseudo-embedding: a pure JVM projection of the id
    (no Python, no rand()) — identical at every cluster size."""
    return F.expr(
        f"transform(sequence(0, {DIM - 1}), i -> "
        f"CAST(pmod({col} * (i + 3) * 2654435761, 1000003) AS DOUBLE) "
        f"/ 1000003.0 - 0.5)"
    )


def ops7_suite(spark: SparkSession, n_docs: int):
    """Z-order layout, retrieval recall and revalidation merge; all
    inputs are pure arithmetic projections of spark.range."""
    from publicationsretriever_spark.operators.packing import (
        zorder_layout,
        zorder_manifest,
    )
    from publicationsretriever_spark.operators.recrawl import (
        apply_revalidation,
    )
    from publicationsretriever_spark.operators.similarity import (
        retrieval_recall_at_k,
    )

    # zorder: one min/max agg + Morton projection + one slim-row hash
    # shuffle — 1024x rows to clear the per-job floor (64x left a 4s
    # N-wall = scheduler floor, raw 0.44; 512x still carried ~2.5s of
    # floor in a 14s wall, raw 0.70 — same floor artifact ops6 hit)
    zrows = spark.range(0, n_docs * 1024, 1, 32).select(
        F.col("id").alias("row_id"),
        ((F.col("id") * 2654435761) % 1000003).cast("double").alias("x"),
        ((F.col("id") * 40503) % 999983).cast("double").alias("y"),
    )

    # recall: corpus scan x N_QUERIES broadcast queries, DIM-dim
    # cosines — 512x rows (4x and 64x cuts hit the floor: 1.8s/4.2s
    # N-walls, raw 0.33/0.52 with identical counts)
    corpus = spark.range(0, n_docs * 512, 1, 32).select(
        F.col("id").alias("pair_id"), _vec("id").alias("embedding")
    )
    queries = spark.range(0, N_QUERIES, 1, 4).select(
        (F.col("id") * 7).alias("pair_id"),
        _vec("id * 7 + 1").alias("embedding"),
    )

    # revalidation: slim equi-join + CASE projection — 1024x rows
    # (256x: 12s N-wall raw 0.76; 512x: 24s raw 0.88 — floor receding)
    n_r = n_docs * 1024
    prior = spark.range(0, n_r, 1, 32).select(
        F.col("id").alias("url_id"),
        F.md5(F.col("id").cast("string")).alias("payload_hash"),
        F.concat(F.lit('W/"'), F.md5(F.col("id").cast("string")),
                 F.lit('"')).alias("etag"),
        F.lit(None).cast("string").alias("last_modified"),
        (F.col("id") * 1000).alias("fetched_at_ms"),
    )
    fetched = prior.filter(F.col("url_id") % 10 >= 3).select(
        "url_id",
        F.when(F.col("url_id") % 10 <= 4, 304)
        .when(F.col("url_id") % 10 <= 7, 200)
        .otherwise(503).cast("int").alias("status"),
        F.when(
            F.col("url_id") % 10 == 5, F.col("payload_hash")
        ).when(
            (F.col("url_id") % 10).isin(6, 7),
            F.md5(F.concat(F.col("url_id").cast("string"), F.lit("!"))),
        ).alias("payload_hash"),
        F.lit(None).cast("string").alias("etag"),
        F.lit(None).cast("string").alias("last_modified"),
        (F.col("url_id") * 1000 + 500).alias("fetched_at_ms"),
    )

    def warm():
        tiny_z = zrows.filter(F.col("row_id") < 256)
        zorder_manifest(
            zorder_layout(tiny_z, ["x", "y"], bits=10, file_bits=3),
            ["x", "y"],
        ).count()
        retrieval_recall_at_k(
            queries.limit(4), corpus.filter(F.col("pair_id") < 256), [10]
        ).count()
        apply_revalidation(
            prior.filter(F.col("url_id") < 256),
            fetched.filter(F.col("url_id") < 256),
        ).count()

    return warm, {
        "zorder": lambda: zorder_manifest(
            zorder_layout(zrows, ["x", "y"], bits=15, file_bits=6),
            ["x", "y"],
        ).count(),
        "recall": lambda: retrieval_recall_at_k(
            queries, corpus, [1, 10, 100]
        ).count(),
        "revalidate": lambda: apply_revalidation(prior, fetched)
        .filter(F.col("action").isNotNull())
        .count(),
    }


#: suite name -> builder(spark, n_docs) returning (warm-up, {op: action})
SUITES = {
    "ops": ops_suite,
    "ops5": ops5_suite,
    "ops6": ops6_suite,
    "ops7": ops7_suite,
}


def main() -> None:
    suite = SUITES[sys.argv[1]]
    n_exec = int(sys.argv[2])
    n_docs = int(sys.argv[3])
    spark = get_session(n_exec)

    warm, ops = suite(spark, n_docs)
    warm()

    walls: dict[str, float] = {}
    counts: dict[str, int] = {}
    for name, fn in ops.items():
        t0 = time.time()
        counts[name] = fn()
        walls[name] = round(time.time() - t0, 3)

    print(
        "RESULT "
        + json.dumps(
            {
                "n_executors": n_exec,
                "n_docs": n_docs,
                "walls": walls,
                "total_wall": round(sum(walls.values()), 3),
                "counts": counts,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()

"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship crawl load-stage on sf0.001.
``queries()`` — one entry per implemented operator (SURVEY.md §2),
each callable (spark, sf_dir) -> DataFrame.
``oracle_sql()`` — DuckDB-equivalent ANSI SQL per query (tables
region nation customer supplier part orders lineitem events documents
embeddings are pre-registered views).

Column names are aliased identically on both sides; doubles are
decimal-cast before aggregation then rounded+double-cast so both
engines produce bit-identical values.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W


def _load(spark: SparkSession, sf_dir: str, *names: str) -> None:
    """Register each fixture table as a temp view.

    The fixtures are single-file, mostly single-row-group parquet:
    Spark cannot split a row group, so every stage FUSED into the scan
    (filters, regex batteries, vector scoring, crossJoin probes) runs
    in 1-2 tasks no matter how many cores the session has — measured
    at sf1.0 this serialized whole queries onto one core (guide §2.5,
    "input skew: one huge unsplittable file"). When the file cannot
    supply enough scan splits on its own, re-spread rows with a HASH
    repartition on the leading id column (hash, not round-robin:
    keyless repartition pays a local sort of the whole input for
    retry determinism — sortBeforeRepartition). The partition count
    is derived from input size and the session's parallelism, never a
    constant: tiny tables (region/nation) keep one partition, and on
    a real deployment where the input is already many files/row
    groups (est_splits >= target) this is a no-op. The size comes
    from the Hadoop FileSystem the scan itself reads through, so a
    ``file://`` or remote URI sizes like a plain path and a directory
    of parts sizes as the sum of its files."""
    jvm = spark._jvm
    hconf = spark._jsc.hadoopConfiguration()
    para = spark.sparkContext.defaultParallelism
    for n in names:
        path = f"{sf_dir}/{n}.parquet"
        df = spark.read.parquet(path)
        hpath = jvm.org.apache.hadoop.fs.Path(path)
        sz = hpath.getFileSystem(hconf).getContentSummary(hpath).getLength()
        est_splits = max(1, sz // (128 << 20))
        target = min(para, max(1, sz // (32 << 10)))
        if target > est_splits:
            df = df.repartition(target, F.col(df.columns[0]))
        df.createOrReplaceTempView(n)


# ---------------------------------------------------------------------------
# Synthesized URL corpus: deterministic URLs from the documents table.
# The same SQL snippet runs on Spark and DuckDB, guaranteeing identical
# inputs for the crawl-operator queries.
# ---------------------------------------------------------------------------

URLS_SQL = """
SELECT doc_id,
       source,
       CASE CAST(doc_id % 12 AS INT)
         WHEN 0  THEN 'https://' || source || '.example.org/files/paper' || CAST(doc_id AS STRING) || '.pdf'
         WHEN 1  THEN 'https://' || source || '.example.org/article/download/' || CAST(doc_id AS STRING)
         WHEN 2  THEN 'https://repo.' || source || '.org/handle/123/' || CAST(doc_id AS STRING)
         WHEN 3  THEN 'https://doi.org/10.1234/' || source || '.' || CAST(doc_id AS STRING)
         WHEN 4  THEN 'https://' || source || '.example.org/article/' || CAST(doc_id AS STRING) || '?jsessionid=ABC' || CAST(doc_id AS STRING) || '&page=2'
         WHEN 5  THEN 'https://' || source || '.example.org/view.php?token=XYZ' || CAST(doc_id AS STRING)
         WHEN 6  THEN 'https://www.facebook.com/' || source || '/' || CAST(doc_id AS STRING)
         WHEN 7  THEN 'https://' || source || '.example.org/login'
         WHEN 8  THEN 'https://' || source || '.example.org/css/style' || CAST(doc_id AS STRING) || '.css'
         WHEN 9  THEN 'https://' || source || '.example.org/'
         WHEN 10 THEN 'https://' || source || '.example.org/datasets/' || CAST(doc_id AS STRING) || '/data.csv'
         ELSE         'https://' || source || '.example.org/page/' || CAST(doc_id AS STRING) || '.html'
       END AS url,
       CAST(doc_id % 12 AS INT) AS url_kind
FROM documents
"""

# RE2-safe subset of the filter battery (no lookarounds) used for the
# oracle-checked reject query. The FULL Java battery (F1-F16, bounded
# lookbehinds) runs JVM-side in the engine and is golden-tested in
# tests/test_filters.py.
DOC_URL_RE = "^.+(?:pdf|download|/doc|document|(?:/|[?]|&)file|/fulltext|attachment|/paper|/get).*$"
DATASET_URL_RE = "^.+(?:dataset[s]?/.*|[.](?:xls[xbm]?|[ct]sv|tab|json|zip|[rt]ar|parquet|avro)([?].+)?)$"
DOMAIN_REJECT_RE = "^https?://[^/]*(?:facebook|twitter|linkedin|youtube)[.][^/]*/.*$"
DIRECTORY_REJECT_RE = "^https?://.*/(?:login|admin|about|register|signup)(?:/.*)?$"
PLAIN_DOMAIN_RE = "^https?://[^/?]+/?$"
MEDIA_EXT_RE = "^.+[.](?:css|js|png|jpg|jpeg|gif|mp4|mp3)([?].+)?$"

REJECT_REASON_SQL = f"""
SELECT CASE
    WHEN regexp_matches(url, '{DIRECTORY_REJECT_RE}') THEN 'directory_with_problems'
    WHEN regexp_matches(url, '{DOMAIN_REJECT_RE}')    THEN 'domain_with_problems'
    WHEN regexp_matches(url, '{PLAIN_DOMAIN_RE}')     THEN 'plain_domain'
    WHEN regexp_matches(url, '{MEDIA_EXT_RE}')        THEN 'irrelevant_extension'
    ELSE NULL END AS reject_reason,
  url, doc_id, url_kind, source
FROM ({URLS_SQL})
"""

# Spark rlike == java.util.regex "find" semantics; the patterns above are
# anchored so find==match on both engines.


def _q_urls(spark: SparkSession, sf_dir: str) -> DataFrame:
    _load(spark, sf_dir, "documents")
    return spark.sql(URLS_SQL)


# --- crawl operator queries -------------------------------------------------


def q_reject_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5/F14: the reject battery as one vectorized pass; per-reason
    counters fall out as groupBy (reference counters:
    PublicationsRetriever.java:192-213)."""
    urls = _q_urls(spark, sf_dir)
    reason = (
        F.when(F.col("url").rlike(DIRECTORY_REJECT_RE), "directory_with_problems")
        .when(F.col("url").rlike(DOMAIN_REJECT_RE), "domain_with_problems")
        .when(F.col("url").rlike(PLAIN_DOMAIN_RE), "plain_domain")
        .when(F.col("url").rlike(MEDIA_EXT_RE), "irrelevant_extension")
        .otherwise(F.lit(None).cast("string"))
    )
    return (
        urls.select(reason.alias("reject_reason"))
        .groupBy("reject_reason")
        .agg(F.count(F.lit(1)).alias("n_urls"))
        .orderBy(F.col("reject_reason").asc_nulls_first())
    )


def q_best_url_per_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4: best-url-per-id window ladder
    (LoaderAndChecker.java:188-257). Groups = doc_id % 97 buckets."""
    from publicationsretriever_spark.operators.besturl import pick_best_url_per_id

    urls = _q_urls(spark, sf_dir).select(
        (F.col("doc_id") % 97).alias("id"),
        F.col("doc_id").alias("order_in_id"),
        "url",
    )
    best = pick_best_url_per_id(urls).filter(F.col("is_best"))
    return best.select("id", "url", "priority").orderBy("id")


def q_skipped_urls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4 output contract: every NON-best url of an id owes a row —
    "Skipped in LoaderAndChecker, as a better url was selected"
    (handleLogOfRemainingUrls, LoaderAndChecker.java:685-698) — ranked
    in the ladder order the checkRemainingUrls fallback wave
    (:534-561) would consume them."""
    from pyspark.sql import Window

    from publicationsretriever_spark.operators.besturl import pick_best_url_per_id

    urls = _q_urls(spark, sf_dir).select(
        (F.col("doc_id") % 97).alias("id"),
        F.col("doc_id").alias("order_in_id"),
        "url",
    )
    ranked = pick_best_url_per_id(urls)
    prio = F.col("priority")
    tie = F.when(prio == 0, F.col("order_in_id")).otherwise(-F.col("order_in_id"))
    w = Window.partitionBy("id").orderBy(prio.asc(), tie.asc())
    ranked = ranked.withColumn("rn", F.row_number().over(w))
    return (
        ranked.filter(F.col("rn") > 1)
        .select(
            "id", "url",
            (F.col("rn") - 1).cast("int").alias("pool_rank"),
            F.concat(
                F.lit("Skipped in LoaderAndChecker, as a better url was "
                      "selected for id: "),
                F.col("id").cast("string"),
            ).alias("error"),
        )
        .orderBy("id", "pool_rank")
    )


def q_seen_antijoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2 exact path: frontier rows not in the seen set (anti-join).
    Seen = urls of even doc_id."""
    from publicationsretriever_spark.operators.seen import anti_join_seen

    urls = _q_urls(spark, sf_dir).withColumn("url_hash", F.md5("url"))
    seen = urls.filter(F.col("doc_id") % 2 == 0).select("url_hash")
    out = anti_join_seen(urls, seen, "url_hash")
    return out.select("doc_id", "url").orderBy("doc_id")


def q_recross_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3: broadcast left join of candidates against already-found
    results; hits short-circuit the fetch
    (ConnSupportUtils.handleReCrossedTargetUrl, :369-375)."""
    _load(spark, sf_dir, "documents")
    urls = _q_urls(spark, sf_dir)
    results = urls.filter(F.col("doc_id") % 5 == 0).select(
        F.col("url").alias("r_url"), F.col("doc_id").alias("orig_id")
    )
    joined = urls.join(
        F.broadcast(results), urls["url"] == results["r_url"], "left"
    )
    return joined.select(
        "doc_id",
        "url",
        F.when(F.col("orig_id").isNotNull(), F.lit("recrossed"))
        .otherwise(F.lit("fetch"))
        .alias("route"),
        F.col("orig_id"),
    ).orderBy("doc_id")


def q_domain_block_rule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2: block-domain-after-N-times
    (ConnSupportUtils.countAndBlockDomainAfterTimes, :924-944):
    blocked iff bad > N and NOT(good + N >= bad), N=10.
    Domains = event user_ids; bad = 'error' events, good = 'click'."""
    _load(spark, sf_dir, "events")
    ev = spark.table("events")
    agg = ev.groupBy("user_id").agg(
        F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0)).alias("bad_times"),
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0)).alias("good_times"),
    )
    n = 10
    return agg.select(
        "user_id",
        "bad_times",
        "good_times",
        (
            (F.col("bad_times") > n) & ~((F.col("good_times") + n) >= F.col("bad_times"))
        ).alias("blocked"),
    ).orderBy("user_id")


def q_path_block_rule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3: two-level aggregate — block (domain,path) after >10 403s,
    then block domains with >50 blocked paths
    (ConnSupportUtils.countAndBlockPathAfterTimes, :832-846). Domains =
    user_id, paths = event_type."""
    _load(spark, sf_dir, "events")
    ev = spark.table("events")
    paths = (
        ev.groupBy("user_id", "event_type")
        .agg(F.count(F.lit(1)).alias("times"))
        .withColumn("path_blocked", F.col("times") > 10)
    )
    domains = (
        paths.filter(F.col("path_blocked"))
        .groupBy("user_id")
        .agg(F.count_distinct("event_type").alias("blocked_paths"))
        .withColumn("domain_blocked", F.col("blocked_paths") > 2)
    )
    return domains.orderBy("user_id")


def q_payload_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J5: payload-hash dedup — same hash from different url => keep
    first, point losers at the winner
    (ConnSupportUtils.checkAndHandleDuplicateHash, :414-455).
    Hash = md5(text) over a truncated prefix to force collisions."""
    _load(spark, sf_dir, "documents")
    docs = spark.table("documents").select(
        "doc_id", F.md5(F.substring("text", 1, 20)).alias("payload_hash")
    )
    w = W.partitionBy("payload_hash").orderBy("doc_id")
    return (
        docs.withColumn("rank_in_hash", F.row_number().over(w))
        .withColumn("is_canonical", F.col("rank_in_hash") == 1)
        .withColumn(
            "canonical_doc", F.min("doc_id").over(W.partitionBy("payload_hash"))
        )
        .select("doc_id", "payload_hash", "is_canonical", "canonical_doc")
        .orderBy("doc_id")
    )


def q_temporal_id_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P4: token/jsessionid strip keeping trailing params
    (UrlUtils.removeTemporalIdentifier, :267-300)."""
    _load(spark, sf_dir, "documents")
    urls = _q_urls(spark, sf_dir)
    pat = r"^(https?://.+)(?:(?:(?:\?|&|;|%3b)(?:.*token|jsessionid)(?:=|%3d))[^?&]+)([?&].+)?$"
    stripped = F.regexp_replace("url", pat, "$1$2")
    fixed = F.regexp_replace(stripped, r"^([^?]+)&", "$1?")
    return urls.select(
        "doc_id",
        "url",
        F.when(F.col("url").rlike(pat), fixed).otherwise(F.col("url")).alias("clean_url"),
    ).orderBy("doc_id")


def q_url_triple_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P2/P3: domain + top-3-level-domain extraction (UrlUtils.java:29,
    236-258) — RE2-safe equivalent of the URL_TRIPLE domain group."""
    urls = _q_urls(spark, sf_dir)
    dom = F.lower(F.regexp_extract("url", r"^https?://([^/:?#]+).*$", 1))
    top3 = F.regexp_extract(dom, r"(?:^|[.])([^.]+[.][^.]+[.][^.]+)$", 1)
    top3 = F.when(top3 != "", top3).otherwise(dom)
    return urls.select(
        "doc_id", "url", dom.alias("domain"), top3.alias("top3_domain")
    ).orderBy("doc_id")


def q_host_bucket_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partitioning: host-bucket histogram (bucket = md5-hash of domain
    mod 32 — the frontier's physical partitioning key; N5/C4)."""
    urls = _q_urls(spark, sf_dir)
    dom = F.lower(F.regexp_extract("url", r"^https?://([^/:?#]+).*$", 1))
    bucket = (
        F.conv(F.substring(F.md5(dom), 1, 4), 16, 10).cast("int") % 32
    ).alias("host_bucket")
    return (
        urls.select(bucket)
        .groupBy("host_bucket")
        .agg(F.count(F.lit(1)).alias("n_urls"))
        .orderBy("host_bucket")
    )


def q_retry_classification(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N7: wasUrlValid/couldRetry ladder
    (LoaderAndChecker.getWasValidAndCouldRetry, :724-767) over synthetic
    error classes derived from events."""
    from publicationsretriever_spark.functions.retry import was_valid_and_could_retry

    _load(spark, sf_dir, "events")
    ev = spark.table("events").select(
        "event_id",
        F.element_at(
            F.array(
                F.lit("http_404"), F.lit("http_403"), F.lit("http_503"),
                F.lit("http_500"), F.lit("http_511"), F.lit("conn_timeout"),
                F.lit("unsupported_head"), F.lit("domain_blocked"),
                F.lit("http_429"), F.lit("http_200"),
            ),
            (F.col("event_id") % 10 + 1).cast("int"),
        ).alias("error_class"),
        F.concat(F.lit("https://h"), (F.col("event_id") % 7), F.lit(".org/x")).alias("url"),
    )
    res = ev.withColumn(
        "r", was_valid_and_could_retry(F.col("error_class"), F.col("url"))
    )
    return res.select(
        "event_id",
        "error_class",
        F.col("r.wasUrlValid").alias("was_url_valid"),
        F.col("r.couldRetry").alias("could_retry"),
    ).orderBy("event_id")


def q_politeness_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N5: politeness — per-host serialization with a 3s gap becomes a
    deterministic schedule: k-th url of a host fetches at slot k
    (ConnSupportUtils.applyPolitenessDelay, :561-598; per-host lock
    replaced by host-partition + row_number)."""
    urls = _q_urls(spark, sf_dir)
    dom = F.lower(F.regexp_extract("url", r"^https?://([^/:?#]+).*$", 1))
    w = W.partitionBy("domain").orderBy("doc_id")
    d = urls.select("doc_id", "url", dom.alias("domain"))
    return d.withColumn("fetch_slot", F.row_number().over(w)).withColumn(
        "fetch_offset_ms", (F.col("fetch_slot") - 1) * 3000
    ).orderBy("doc_id")


def q_host_quota_spill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N5 skew control: per-round host quota — rank>Q spills to the next
    round (SURVEY.md §2.6 N5; kills hot-domain skew). Q=8."""
    urls = _q_urls(spark, sf_dir)
    dom = F.lower(F.regexp_extract("url", r"^https?://([^/:?#]+).*$", 1))
    w = W.partitionBy("domain").orderBy("doc_id")
    d = urls.select("doc_id", dom.alias("domain"))
    d = d.withColumn("rank_in_host", F.row_number().over(w)).withColumn(
        "round", F.floor((F.col("rank_in_host") - 1) / 8).cast("int")
    )
    return (
        d.groupBy("round")
        .agg(F.count(F.lit(1)).alias("n_urls"), F.count_distinct("domain").alias("n_hosts"))
        .orderBy("round")
    )


# --- relational core (TPC-H-ish) --------------------------------------------


def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    _load(spark, sf_dir, "lineitem")
    li = spark.table("lineitem").filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
    dec = lambda c: F.col(c).cast("decimal(18,2)")
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum(dec("l_quantity")), 2).cast("double").alias("sum_qty"),
            F.round(F.sum(dec("l_extendedprice")), 2).cast("double").alias("sum_base_price"),
            F.round(
                F.sum(dec("l_extendedprice") * (F.lit(1).cast("decimal(18,2)") - dec("l_discount"))), 2
            ).cast("double").alias("sum_disc_price"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def q3_top_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    _load(spark, sf_dir, "customer", "orders", "lineitem")
    cust = spark.table("customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = spark.table("orders")
    li = spark.table("lineitem")
    dec = lambda c: F.col(c).cast("decimal(18,2)")
    return (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(F.broadcast(cust), orders["o_custkey"] == cust["c_custkey"])
        .groupBy("l_orderkey")
        .agg(
            F.round(F.sum(dec("l_extendedprice") * (F.lit(1).cast("decimal(18,2)") - dec("l_discount"))), 2)
            .cast("double")
            .alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey"))
        .limit(10)
    )


def q_dup_log(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1: in-batch duplicate detection + logging
    (FileUtils.getNextIdUrlPairBatchFromJson dup log, :282-285)."""
    _load(spark, sf_dir, "events")
    ev = spark.table("events")
    return (
        ev.groupBy("user_id", "event_type")
        .agg(F.count(F.lit(1)).alias("times"))
        .filter(F.col("times") > 1)
        .orderBy("user_id", "event_type")
    )


def q_host_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link-authority scoring for frontier prioritization
    (operators/graph.pagerank): 3 fixed iterations, damping 0.85,
    over a deterministic 37-host link graph projected from lineitem
    (src = l_suppkey mod 37, dst = l_partkey mod 37; 60k multi-edges).
    Iterates are rounded @9dp so both engines advance from identical
    inputs each round — at ~1600 float contributions per node a 12dp
    boundary would sit inside cross-engine summation-order noise."""
    from publicationsretriever_spark.operators.graph import pagerank

    _load(spark, sf_dir, "lineitem")
    li = spark.table("lineitem")
    edges = li.select(
        (F.col("l_suppkey") % 37).alias("src"),
        (F.col("l_partkey") % 37).alias("dst"),
    )
    return pagerank(edges, iters=3, damping=0.85, iter_round=9).orderBy(
        "node"
    )


def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization: gap > 30min starts a new session (window lag +
    running sum) — the round/batch barrier analog on the event stream."""
    _load(spark, sf_dir, "events")
    ev = spark.table("events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    ts_s = F.col("ts").cast("timestamp_ltz").cast("long")
    gap = ts_s - F.lag(ts_s).over(w)
    d = ev.withColumn("new_session", (gap.isNull() | (gap > 1800)).cast("int"))
    d = d.withColumn(
        "session_id",
        F.sum("new_session").over(w.rowsBetween(W.unboundedPreceding, 0)),
    )
    return (
        d.groupBy("user_id", "session_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum(F.col("value").cast("decimal(18,2)")), 2).cast("double").alias("session_value"),
        )
        .orderBy("user_id", "session_id")
    )


def q_tumbling_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming-style tumbling 1h window aggregate over events (batch
    equivalent of the Structured Streaming path)."""
    _load(spark, sf_dir, "events")
    ev = spark.table("events")
    return (
        ev.groupBy(
            F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:mm:ss").alias("hour"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum(F.col("value").cast("decimal(18,2)")), 2).cast("double").alias("total_value"),
        )
        .orderBy("hour", "event_type")
    )



# --- training-data pipeline queries (dedup / similarity / text) -------------


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: md5 hash-groupBy (operators/dedup.exact_dedup)."""
    from publicationsretriever_spark.operators.dedup import exact_dedup

    _load(spark, sf_dir, "documents")
    docs = spark.table("documents").select("doc_id", "text")
    return exact_dedup(docs, "text", "doc_id").select(
        "doc_id", "content_hash", "is_canonical", "canonical_id"
    ).orderBy("doc_id")


def q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup candidate pairs (shingle->minhash->band->
    bucket-join; operators/dedup.minhash_lsh_pairs)."""
    from publicationsretriever_spark.operators.dedup import minhash_lsh_pairs

    _load(spark, sf_dir, "documents")
    docs = spark.table("documents").select("doc_id", "text")
    return minhash_lsh_pairs(docs, "text", "doc_id", num_hashes=8, bands=4).orderBy(
        "id_a", "id_b"
    )


def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental cross-snapshot dedup (operators/dedup.
    minhash_band_index + incremental_neardup_pairs): the corpus
    (doc_id % 5 != 0) is indexed ONCE into (id, band, band_hash) rows;
    the new ingest batch (doc_id % 5 == 0) is deduped against that
    index — corpus text never rescanned — plus within itself. The
    daily-ingest cadence a 100 TB corpus actually runs."""
    from publicationsretriever_spark.operators.dedup import (
        incremental_neardup_pairs,
        minhash_band_index,
    )

    _load(spark, sf_dir, "documents")
    docs = spark.table("documents").select("doc_id", "text")
    corpus = docs.filter(F.col("doc_id") % 5 != 0)
    batch = docs.filter(F.col("doc_id") % 5 == 0)
    index = minhash_band_index(corpus, "text", "doc_id", num_hashes=8, bands=4)
    return incremental_neardup_pairs(
        batch, index, "text", "doc_id", num_hashes=8, bands=4
    ).orderBy("vs", "batch_id", "match_id")


def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 5-gram Jaccard pairs >= 0.8 (operators/dedup.
    ngram_jaccard_pairs: the prefix-filtered PPJoin over each
    document's shingle set, verified exactly)."""
    from publicationsretriever_spark.operators.dedup import (
        ngram_jaccard_pairs,
    )

    _load(spark, sf_dir, "documents")
    docs = spark.table("documents").select("doc_id", "text")
    return ngram_jaccard_pairs(
        docs, "text", "doc_id", k=5, threshold=0.8
    ).orderBy("id_a", "id_b")


def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash fingerprints (operators/dedup.simhash64, 16-bit portable)."""
    from publicationsretriever_spark.operators.dedup import simhash64

    _load(spark, sf_dir, "documents")
    docs = spark.table("documents").select("doc_id", "text")
    return simhash64(docs, "text", "doc_id").orderBy("doc_id")


def q_dedup_phash_hamming(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hamming-distance near-dup pairs over an integer fingerprint
    (operators/dedup.hamming_neardup_pairs): the image-payload phash
    dedup path (input_hint phash:int64), banded pigeonhole bucket join
    + bit_count verify. Driven here by the portable 16-bit simhash so
    DuckDB can mirror the fingerprint."""
    from publicationsretriever_spark.operators.dedup import (
        hamming_neardup_pairs_grouped,
        simhash64,
    )

    _load(spark, sf_dir, "documents")
    docs = spark.table("documents").select("doc_id", "text")
    # the simhash aggregation is a common subtree referenced by
    # several branches of this plan; Spark recomputes every
    # reference, so cut it ONCE eagerly (in-query materialization,
    # recomputed each run — the established rp-checkpoint pattern)
    sims = simhash64(docs, "text", "doc_id").localCheckpoint(eager=True)
    # contraction+expansion form: row-identical to
    # hamming_neardup_pairs but the banded join runs over distinct
    # fingerprints, never the quadratic within-family member pairs
    pairs = hamming_neardup_pairs_grouped(
        sims, "doc_id", "simhash", max_hamming=2, bands=3, hash_bits=16
    )
    # no presentation orderBy: the pair list is the largest declared
    # output (54M rows at sf1.0 — duplicate families are quasi-cliques)
    # and a global range-sort of it costs seconds while the driver's
    # correctness gate compares row MULTISETS (check_oracle and the
    # driver hash are order-insensitive — zorder_key/revalidation_merge
    # have never had an orderBy and pass hash_match every round).
    # Guide §2.4: drop sorts used only to make output deterministic.
    return pairs.withColumn("hamming", F.col("hamming").cast("long"))


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup cluster assignment (operators/dedup.connected_components):
    phash-hamming pairs -> hash-min + pointer-jump label propagation ->
    per-document canonical cluster id. Singletons keep their own id;
    is_canonical marks the exemplar a dedup pipeline would retain."""
    from publicationsretriever_spark.operators.dedup import (
        simhash64,
        simhash_cluster_labels,
    )

    _load(spark, sf_dir, "documents")
    docs = spark.table("documents").select("doc_id", "text")
    # the simhash aggregation is a common subtree referenced by
    # several branches of this plan; Spark recomputes every
    # reference, so cut it ONCE eagerly (in-query materialization,
    # recomputed each run — the established rp-checkpoint pattern)
    sims = simhash64(docs, "text", "doc_id").localCheckpoint(eager=True)
    # contraction-first labels: row-identical to
    # connected_components(hamming_neardup_pairs(...)) but built on the
    # distinct-fingerprint graph (operators/dedup.simhash_cluster_labels)
    labels = simhash_cluster_labels(
        sims, "doc_id", "simhash", max_hamming=2, bands=3, hash_bits=16
    )
    return (
        docs.join(labels, docs["doc_id"] == labels["node"], "left")
        .select(
            F.col("doc_id"),
            F.coalesce(F.col("cluster_id"), F.col("doc_id")).alias("cluster_id"),
        )
        .withColumn("is_canonical", F.col("doc_id") == F.col("cluster_id"))
        .orderBy("doc_id")
    )


def q_dedup_incremental_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental cluster maintenance (operators/dedup.
    incremental_components + apply_component_update): the corpus
    (doc_id % 5 != 0) carries a PRE-EXISTING assignment from its own
    pairs; the batch's pairs (>=1 batch end) fold in through the
    collapsed mapped graph — CC re-runs over O(batch + touched reps)
    nodes only, the corpus relabels through one broadcast join. The
    oracle is the FULL-graph transitive closure: incremental must be
    bit-identical to recomputing from scratch."""
    from publicationsretriever_spark.operators.dedup import (
        apply_component_update,
        hamming_neardup_pairs,
        incremental_components,
        simhash64,
        simhash_cluster_labels,
    )

    _load(spark, sf_dir, "documents")
    docs = spark.table("documents").select("doc_id", "text")
    # the simhash aggregation is a common subtree referenced by
    # several branches of this plan; Spark recomputes every
    # reference, so cut it ONCE eagerly (in-query materialization,
    # recomputed each run — the established rp-checkpoint pattern)
    sims = simhash64(docs, "text", "doc_id").localCheckpoint(eager=True)
    is_batch = F.col("doc_id") % 5 == 0
    corpus_sims = sims.filter(~is_batch)
    batch_sims = sims.filter(is_batch)
    # ONE banded join over the union of per-(fingerprint, side)
    # representatives serves both halves: pairs with both ends in the
    # corpus are exactly the corpus-rep pair list (pair existence and
    # hamming depend only on the fingerprint values, and the
    # batch/corpus id spaces partition on doc_id % 5), pairs with a
    # batch end are the reduced batch graph
    gcg = corpus_sims.groupBy("simhash").agg(
        F.min("doc_id").alias("_rep"), F.count(F.lit(1)).alias("_gn")
    )
    gb = batch_sims.groupBy("simhash").agg(
        F.min("doc_id").alias("doc_id")
    )
    gc = gcg.select(F.col("_rep").alias("doc_id"), "simhash")
    rp = hamming_neardup_pairs(
        gb.unionByName(gc.select("doc_id", "simhash")),
        "doc_id", "simhash", max_hamming=2, bands=3, hash_bits=16,
    ).localCheckpoint(eager=True)
    corpus_rep_pairs = rp.filter(
        (F.col("id_a") % 5 != 0) & (F.col("id_b") % 5 != 0)
    )
    red_batch_pairs = rp.filter(
        (F.col("id_a") % 5 == 0) | (F.col("id_b") % 5 == 0)
    )
    # corpus assignment: contraction-first, row-identical to CC over
    # the corpus-only verified-pair list (see simhash_cluster_labels —
    # equal-fingerprint docs are one Hamming-0 clique and pair
    # existence depends only on the fingerprint values)
    # `assign` is consumed by incremental_components (twice: both join
    # sides), apply_component_update and its anti-join — cut it once
    assign = simhash_cluster_labels(
        corpus_sims, "doc_id", "simhash",
        max_hamming=2, bands=3, hash_bits=16,
        groups=gcg, rep_pairs=corpus_rep_pairs,
    ).localCheckpoint(eager=True)
    upd = incremental_components(assign, red_batch_pairs)
    updated = apply_component_update(
        assign, gb.select("doc_id"), upd, "doc_id"
    )
    # non-rep batch members inherit their representative's final label
    # (each is a Hamming-0 near-dup of its rep, connected by a batch
    # pair in the unreduced graph)
    memb = (
        batch_sims.join(
            gb.withColumnRenamed("doc_id", "_rep"), "simhash"
        )
        .filter(F.col("doc_id") != F.col("_rep"))
        .select("doc_id", "_rep")
        .join(
            updated.withColumnRenamed("doc_id", "_rid")
            .withColumnRenamed("cluster_id", "_rcl"),
            F.col("_rep") == F.col("_rid"),
        )
        .select("doc_id", F.col("_rcl").alias("cluster_id"))
    )
    # corpus singletons are absent from `assign` (the CC contract):
    # coalesce them back in for the all-docs output
    return (
        docs.select("doc_id")
        .join(updated.unionByName(memb).withColumnRenamed("doc_id", "_uid"),
              F.col("doc_id") == F.col("_uid"), "left")
        .select(
            "doc_id",
            F.coalesce(F.col("cluster_id"), F.col("doc_id")).alias(
                "cluster_id"
            ),
        )
        .withColumn("is_canonical", F.col("doc_id") == F.col("cluster_id"))
        .orderBy("doc_id")
    )


def q_caption_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cluster metadata resolution (operators/dedup.
    canonicalize_clusters — the caption-vote step of
    multimodal.image_caption_canonicalize, exercised here on the
    documents table where the DuckDB oracle can verify it): near-dup
    clusters by simhash-hamming, then majority-vote canonical source
    and lang per cluster with deterministic ties, conflict flags for
    the labeling-QA sample."""
    from publicationsretriever_spark.operators.dedup import (
        canonicalize_clusters,
        simhash64,
        simhash_cluster_labels,
    )

    _load(spark, sf_dir, "documents")
    docs = spark.table("documents").select("doc_id", "text", "source", "lang")
    # the simhash aggregation is a common subtree referenced by
    # several branches of this plan; Spark recomputes every
    # reference, so cut it ONCE eagerly (in-query materialization,
    # recomputed each run — the established rp-checkpoint pattern)
    sims = simhash64(docs, "text", "doc_id").localCheckpoint(eager=True)
    # contraction-first labels: row-identical to
    # connected_components(hamming_neardup_pairs(...)) but built on the
    # distinct-fingerprint graph (operators/dedup.simhash_cluster_labels)
    labels = simhash_cluster_labels(
        sims, "doc_id", "simhash", max_hamming=2, bands=3, hash_bits=16
    )
    assigned = docs.join(
        labels, docs["doc_id"] == labels["node"], "left"
    ).select(
        "doc_id",
        "source",
        "lang",
        F.coalesce(F.col("cluster_id"), F.col("doc_id")).alias("cluster_id"),
    )
    return canonicalize_clusters(
        assigned, "cluster_id", "doc_id", ["source", "lang"]
    ).orderBy("cluster_id")


def q_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/test split (operators/dedup.
    cluster_safe_split): near-dup clusters by simhash-hamming, split
    decided by an md5 bucket of the CLUSTER id so no near-dup pair
    ever straddles train/test."""
    from publicationsretriever_spark.operators.dedup import (
        cluster_safe_split,
        simhash64,
        simhash_cluster_labels,
    )

    _load(spark, sf_dir, "documents")
    docs = spark.table("documents").select("doc_id", "text")
    # the simhash aggregation is a common subtree referenced by
    # several branches of this plan; Spark recomputes every
    # reference, so cut it ONCE eagerly (in-query materialization,
    # recomputed each run — the established rp-checkpoint pattern)
    sims = simhash64(docs, "text", "doc_id").localCheckpoint(eager=True)
    # contraction-first labels: row-identical to
    # connected_components(hamming_neardup_pairs(...)) but built on the
    # distinct-fingerprint graph (operators/dedup.simhash_cluster_labels)
    labels = simhash_cluster_labels(
        sims, "doc_id", "simhash", max_hamming=2, bands=3, hash_bits=16
    )
    assigned = docs.join(
        labels, docs["doc_id"] == labels["node"], "left"
    ).select(
        "doc_id",
        F.coalesce(F.col("cluster_id"), F.col("doc_id")).alias("cluster_id"),
    )
    return (
        cluster_safe_split(assigned, "cluster_id", test_frac=0.2)
        .select("doc_id", "cluster_id", "split")
        .orderBy("doc_id")
    )


#: reviewed rebalancing plan for the stratified-sample contract query:
#: cap the over-represented 'en', keep rare strata whole
_SAMPLE_FRACS = {"en": 0.3, "de": 1.0, "es": 0.6, "fr": 1.0, "zh": 0.5}


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-stratum downsampling (operators/textstats.
    stratified_sample): md5-bucket of the doc id vs a per-language
    keep fraction — reproducible, partition-independent, stable under
    corpus growth."""
    from publicationsretriever_spark.operators.textstats import (
        stratified_sample,
    )

    _load(spark, sf_dir, "documents")
    docs = spark.table("documents").select("doc_id", "lang")
    return stratified_sample(
        docs, "lang", "doc_id", _SAMPLE_FRACS
    ).orderBy("doc_id")


def q_repetition_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition signals (operators/textstats.
    repetition_signals): duplicate-word / duplicate-2-gram fractions
    (pure array expressions) + top-word share (explode + two keyed
    map-side aggregations)."""
    from publicationsretriever_spark.operators.textstats import (
        repetition_signals,
    )

    _load(spark, sf_dir, "documents")
    docs = spark.table("documents").select("doc_id", "text")
    return repetition_signals(docs, "text", "doc_id").orderBy("doc_id")


def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring: length/punct/stopword heuristics
    (operators/textstats.quality_score)."""
    from publicationsretriever_spark.operators import textstats as TS

    _load(spark, sf_dir, "documents")
    docs = spark.table("documents")
    return docs.select(
        "doc_id",
        F.length("text").alias("n_chars_actual"),
        TS.token_count(F.col("text")).alias("n_tokens"),
        TS.stopword_ratio(F.col("text")).alias("stopword_ratio"),
        TS.punct_ratio(F.col("text")).alias("punct_ratio"),
        TS.quality_score(F.col("text")).alias("quality"),
    ).orderBy("doc_id")


def q_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 keyword retrieval (operators/search.bm25_topk):
    query vocabulary broadcast-semi-joins the exploded token stream
    BEFORE any shuffle, so only matched (doc, term) pairs exchange;
    N and avgdl come from one bounded single-row collect with an
    integer-sum numerator (engine-exact). Scores @6dp, doc-id
    tie-breaks."""
    from publicationsretriever_spark.operators.search import bm25_topk

    _load(spark, sf_dir, "documents")
    docs = spark.table("documents")
    queries = spark.createDataFrame(
        [
            (0, "spark hash join"),
            (1, "window agg scan"),
            (2, "customer order query"),
        ],
        "query_id long, query string",
    )
    return bm25_topk(docs, queries, k=5).orderBy("query_id", "rank")


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID marker-word vote (operators/textstats.lang_id)."""
    from publicationsretriever_spark.operators import textstats as TS

    _load(spark, sf_dir, "documents")
    docs = spark.table("documents")
    return (
        docs.select(TS.lang_id(F.col("text")).alias("lang_pred"))
        .groupBy("lang_pred")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("lang_pred")
    )


def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprint dedup groups (operators/textstats.fingerprint)."""
    from publicationsretriever_spark.operators import textstats as TS

    _load(spark, sf_dir, "documents")
    docs = spark.table("documents")
    return (
        docs.select(TS.fingerprint(F.col("text")).alias("fp"))
        .groupBy("fp")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .filter(F.col("n_docs") > 1)
        .orderBy("fp")
    )


def _with_pii(docs: DataFrame) -> DataFrame:
    """Deterministically inject PII into the synthetic documents (the
    sf tables contain none): a doc-id-derived email + IPv4 for every
    doc, a phone number for every third. Both the Spark query and the
    DuckDB oracle build the SAME augmented text, so the oracle pins
    the redaction logic on text that actually matches."""
    return docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.org ip 10.0."),
            (F.col("doc_id") % 256).cast("string"),
            F.lit(".7"),
            F.when(
                F.col("doc_id") % 3 == 0,
                F.concat(
                    F.lit(" tel +1 (555) 010-"),
                    (F.col("doc_id") % 10000).cast("string"),
                ),
            ).otherwise(F.lit("")),
        ).alias("text"),
    )


def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction pass (operators/textstats.pii_redact): emails,
    IPv4s and +-prefixed phone numbers replaced by typed placeholders,
    per-doc match counts; pure regexp projection — no shuffle."""
    from publicationsretriever_spark.operators.textstats import pii_redact

    _load(spark, sf_dir, "documents")
    docs = _with_pii(spark.table("documents"))
    return pii_redact(docs, "text", "doc_id").orderBy("doc_id")


def q_token_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget shard assignment (operators/packing.
    token_shard_assign): distributed two-pass prefix sum over the
    id-ordered corpus; capacity 2000 tokens, 64-id buckets so sf0.01
    already exercises the multi-bucket offset path."""
    from publicationsretriever_spark.operators.packing import (
        token_shard_assign,
    )
    from publicationsretriever_spark.operators import textstats as TS

    _load(spark, sf_dir, "documents")
    docs = spark.table("documents").select(
        "doc_id", TS.token_count(F.col("text")).alias("n_tokens")
    )
    return token_shard_assign(
        docs, "n_tokens", "doc_id", capacity=2000, bucket_size=64
    ).orderBy("doc_id")


def q_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicated-span stats (operators/dedup.dup_span_stats,
    the Lee-et-al ExactSubstr pass as Spark aggregations): 8-token
    windows at stride 4, a span is dup when its exact text occurs in
    >=2 distinct docs. hash_keys=False here because DuckDB lacks
    xxhash64; the production int64-key path is equivalence-tested in
    pytest."""
    from publicationsretriever_spark.operators.dedup import dup_span_stats

    _load(spark, sf_dir, "documents")
    docs = spark.table("documents").select("doc_id", "text")
    return dup_span_stats(
        docs, "text", "doc_id", w=8, stride=4, hash_keys=False
    ).orderBy("doc_id")


def q_drop_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicated-span REMOVAL (operators/dedup.drop_dup_spans): the
    global first occurrence of every duplicated 8-token span keeps its
    tokens, later occurrences are cut; clean_text is the rebuilt
    (whitespace-normalized, lowercased) document. hash_keys=False for
    the DuckDB oracle; int64-key path equivalence-tested in pytest."""
    from publicationsretriever_spark.operators.dedup import drop_dup_spans

    _load(spark, sf_dir, "documents")
    docs = spark.table("documents").select("doc_id", "text")
    return drop_dup_spans(
        docs, "text", "doc_id", w=8, stride=4, hash_keys=False
    ).orderBy("doc_id")


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (operators/dedup.decontaminate):
    training docs flagged when any 13-token span also occurs in the
    eval split (here: every 50th doc_id stands in for the held-out
    benchmark). Eval keys broadcast; the exploded train spans never
    shuffle. hash_keys=False for the DuckDB oracle; int64-key path
    equivalence-tested in pytest."""
    from publicationsretriever_spark.operators.dedup import decontaminate

    _load(spark, sf_dir, "documents")
    docs = spark.table("documents").select("doc_id", "text")
    ev = docs.filter(F.col("doc_id") % 50 == 0)
    train = docs.filter(F.col("doc_id") % 50 != 0)
    return decontaminate(
        train, ev, "text", "doc_id", w=13, hash_keys=False
    ).orderBy("doc_id")


def q_lm_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-self-trained trigram LM score (operators/textstats.
    lm_quality_score): per-doc mean log10 MLE prob of each trigram
    given its bigram context, counts over the whole table — the
    CCNet/KenLM perplexity-filter shape with the corpus as training
    data. hash_keys=False for the DuckDB oracle; int64-key path
    equivalence-tested in pytest."""
    from publicationsretriever_spark.operators.textstats import (
        lm_quality_score,
    )

    _load(spark, sf_dir, "documents")
    docs = spark.table("documents").select("doc_id", "text")
    return lm_quality_score(
        docs, "text", "doc_id", n=3, hash_keys=False
    ).orderBy("doc_id")


def q_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-mass data mixing (operators/textstats.mixture_sample):
    budget capped by the scarcest target stratum (fr at 30% here),
    per-lang deterministic md5-bucket downsampling to {en:.5, de:.2,
    fr:.3}; es/zh dropped (allowlist). Row-level oracle: the SQL
    recomputes the SAME double arithmetic (T = min(avail/frac),
    threshold = floor(min(1, T*f/avail)*1e6)) so the kept row set
    must match exactly."""
    from publicationsretriever_spark.operators.textstats import (
        mixture_sample,
    )

    _load(spark, sf_dir, "documents")
    docs = spark.table("documents").select("doc_id", "lang", "text")
    out = mixture_sample(
        docs, "lang", "doc_id", "text",
        {"en": 0.5, "de": 0.2, "fr": 0.3},
    )
    return out.select("doc_id", "lang").orderBy("doc_id")


def q_html_to_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML -> text extraction (functions/htmlparse.html_to_text):
    the driver tables carry no html column, so each document's text is
    wrapped in a fixed HTML template (head with style+script blocks, a
    comment, an entity) and the extractor must recover exactly
    'T <normalized text> & more' — every stage of the chain (block
    drop, tag strip, entity unescape, whitespace normalize) is
    exercised row-level against the oracle's identical RE2 chain."""
    from publicationsretriever_spark.functions.htmlparse import (
        html_to_text,
    )

    _load(spark, sf_dir, "documents")
    docs = spark.table("documents").select("doc_id", "text")
    html = F.concat(
        F.lit(
            '<html><head><style>p {color: red}</style>'
            '<script type="a">var z = 1 < 2;</script></head>'
            "<body><h1>T</h1><p>"
        ),
        F.col("text"),
        F.lit(" &amp; more</p><!-- trailing\ncomment --></body></html>"),
    )
    return docs.select(
        "doc_id", html_to_text(html).alias("clean")
    ).orderBy("doc_id")


def q_corpus_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(lang, source) corpus report (operators/textstats.
    corpus_stats): doc counts, total/mean tokens, exact token-length
    p50/p90 — the dataset-card numbers. exact=False is the 100 TB
    t-digest path; the contract pins the exact variant."""
    from publicationsretriever_spark.operators.textstats import (
        corpus_stats,
    )

    _load(spark, sf_dir, "documents")
    docs = spark.table("documents")
    return corpus_stats(docs, "text", ["lang", "source"]).orderBy(
        "lang", "source"
    )


def q_text_gates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite C4/Gopher-style document gate (operators/textstats.
    text_quality_gates): lang/length/punct/stopword/repetition checks
    as one codegen-stage battery with first-failing-gate reasons."""
    from publicationsretriever_spark.operators.textstats import (
        text_quality_gates,
    )

    _load(spark, sf_dir, "documents")
    docs = spark.table("documents").select("doc_id", "text")
    return text_quality_gates(docs, "text", "doc_id").orderBy("doc_id")


def q_image_gates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-level image+caption quality gates (operators/
    multimodal.image_quality_gates) over an input_hint-shaped table
    synthesized deterministically from documents — doc_id-derived
    (w, h, fmt, byte_len) hit every gate branch; both engines build
    the SAME table, so the oracle pins gate logic AND first-failure
    reason order."""
    from publicationsretriever_spark.operators.multimodal import (
        image_quality_gates,
    )

    _load(spark, sf_dir, "documents")
    docs = spark.table("documents")
    w = (F.lit(16) + (F.col("doc_id") * 37) % 1024).cast("int")
    h = (F.lit(16) + (F.col("doc_id") * 59) % 1024).cast("int")
    px = w.cast("long") * h.cast("long")
    byte_len = (
        F.when(F.col("doc_id") % 11 == 3, F.floor(px * F.lit(9.0)))
        .when(F.col("doc_id") % 13 == 7, F.floor(px * F.lit(0.01)))
        .otherwise(F.floor(px / F.lit(2.0)))
    )
    fmt = (
        F.when(F.col("doc_id") % 7 == 5, F.lit("gif"))
        .when(F.col("doc_id") % 2 == 0, F.lit("png"))
        .otherwise(F.lit("jpeg"))
    )
    meta = docs.select(
        F.col("doc_id").alias("image_id"),
        w.alias("w"),
        h.alias("h"),
        fmt.alias("fmt"),
        byte_len.alias("byte_len"),
        F.expr(
            "substring(text, 1, 1 + CAST(doc_id % 200 AS INT))"
        ).alias("caption"),
    )
    return image_quality_gates(meta).orderBy("image_id")


def q_aspect_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SDXL-style aspect-ratio bucket batching (operators/multimodal.
    aspect_bucket_ladder/aspect_batch_assign) over an input_hint-
    shaped table synthesized deterministically from documents: each
    (w, h) goes to the nearest-log-aspect ladder bucket (exact-ratio
    ordering — engine-portable), then id-ordered fixed-size batches
    within each bucket via the two-pass distributed prefix rank. The
    oracle inlines the SAME ladder constants and checks bucket, rank
    and batch per image."""
    from publicationsretriever_spark.operators.multimodal import (
        aspect_batch_assign,
    )

    _load(spark, sf_dir, "documents")
    docs = spark.table("documents")
    imgs = docs.select(
        F.col("doc_id").alias("image_id"),
        (F.lit(16) + (F.col("doc_id") * 37) % 1024).cast("int").alias("w"),
        (F.lit(16) + (F.col("doc_id") * 59) % 1024).cast("int").alias("h"),
    )
    return aspect_batch_assign(imgs, batch_size=8, block_size=64).select(
        "image_id",
        "w",
        "h",
        "bucket_idx",
        "bucket_w",
        "bucket_h",
        "rank_in_bucket",
        "batch_idx",
    ).orderBy("image_id")


def q_wds_shard_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WebDataset shard layout plan (sources/webdataset.wds_shard_plan):
    every sample's (shard, byte offset inside its shard's tar) from
    pure tar arithmetic (512-byte headers, 512-padded content) over
    the two-pass distributed prefix sum — the deterministic index the
    tar writer materializes byte-for-byte (parity with tarfile's own
    parsed offsets is pytest-asserted in tests/test_webdataset.py).
    Payload length = utf-8 bytes of documents.text, caption length =
    1 + doc_id % 200 — both engines compute the same sizes."""
    from publicationsretriever_spark.sources.webdataset import wds_shard_plan

    _load(spark, sf_dir, "documents")
    docs = spark.table("documents")
    sized = docs.select(
        F.col("doc_id").alias("image_id"),
        F.length(F.col("text").cast("binary"))
        .cast("long")
        .alias("payload_len"),
        (F.lit(1) + F.col("doc_id") % 200).cast("long").alias("caption_len"),
    )
    return wds_shard_plan(sized, shard_max_bytes=65536).orderBy("image_id")


def q_epoch_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic epoch training shuffle (operators/packing.
    epoch_shuffle): seed-keyed md5 permutation rank per document plus
    the loader shard, computed with the two-pass prefix count (no
    global sort task); the oracle is the naive one-window global
    rank."""
    from publicationsretriever_spark.operators.packing import epoch_shuffle

    _load(spark, sf_dir, "documents")
    docs = spark.table("documents").select("doc_id")
    return epoch_shuffle(
        docs, "doc_id", seed="epoch-1", shard_size=64
    ).orderBy("doc_id")


def q_revalidation_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional-GET revalidation merge (operators/recrawl.
    apply_revalidation): stored (payload_hash, validators, ts) state
    folded with a revalidation round's outcomes — kept / revalidated
    (304) / replaced (2xx, changed vs unchanged by payload hash) /
    error. Scenario carved deterministically from documents:
    doc_id%10 in 0-2 not due, 3-4 -> 304, 5 -> 200 same bytes,
    6-7 -> 200 changed bytes, 8 -> 404, 9 -> 503."""
    from publicationsretriever_spark.operators.recrawl import (
        apply_revalidation,
    )

    _load(spark, sf_dir, "documents")
    docs = spark.table("documents")
    h = F.md5(F.col("text"))
    prior = docs.select(
        F.col("doc_id").alias("url_id"),
        h.alias("payload_hash"),
        F.concat(F.lit('W/"'), h, F.lit('"')).alias("etag"),
        F.lit(None).cast("string").alias("last_modified"),
        (F.col("doc_id") * 1000).cast("long").alias("fetched_at_ms"),
    )
    m = F.col("doc_id") % 10
    new_hash = F.when(m == 5, h).otherwise(
        F.md5(F.reverse(F.col("text")))
    )
    fetched = docs.filter(m >= 3).select(
        F.col("doc_id").alias("url_id"),
        F.when(m <= 4, 304)
        .when(m <= 7, 200)
        .when(m == 8, 404)
        .otherwise(503)
        .cast("int")
        .alias("status"),
        F.when((m >= 5) & (m <= 7), new_hash).alias("payload_hash"),
        F.when(
            (m >= 5) & (m <= 7),
            F.concat(F.lit('W/"'), new_hash, F.lit('"')),
        ).alias("etag"),
        F.lit(None).cast("string").alias("last_modified"),
        (F.col("doc_id") * 1000 + 500).cast("long").alias(
            "fetched_at_ms"
        ),
    )
    return apply_revalidation(prior, fetched)


def q_zorder_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Morton/Z-order clustering key (operators/packing.zorder_key):
    the Iceberg/Delta OPTIMIZE ZORDER key — one bounded min/max
    aggregation then a pure bit-interleaving projection, engine-exact
    because the scale arithmetic is the same IEEE-double term order
    in both engines. Row-level parity over all 10k events."""
    from publicationsretriever_spark.operators.packing import zorder_key

    _load(spark, sf_dir, "events")
    ev = spark.table("events").select("event_id", "value", "user_id")
    return zorder_key(ev, ["value", "user_id"], bits=10).select(
        "event_id", F.col("_z").alias("z")
    )


def q_zorder_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-file stats manifest of a z-ordered layout
    (operators/packing.zorder_layout + zorder_manifest): file = top 6
    z bits (equal-width, deterministic), stats = count + min/max of
    both clustered dims — the table a scan planner prunes against.
    The oracle recomputes the z key and file split in SQL."""
    from publicationsretriever_spark.operators.packing import (
        zorder_layout,
        zorder_manifest,
    )

    _load(spark, sf_dir, "events")
    ev = spark.table("events").select("event_id", "value", "user_id")
    laid = zorder_layout(ev, ["value", "user_id"], bits=10, file_bits=6)
    return zorder_manifest(laid, ["value", "user_id"])


def q_sitemap_expand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sitemap seed expansion (functions/sitemap.expand_sitemaps):
    each document becomes a deterministic two-entry sitemap XML; both
    engines REGEX-PARSE the same XML back out (lenient block + field
    extraction in the shared Java/RE2 subset), so the oracle pins the
    parser, not just the construction."""
    from publicationsretriever_spark.functions.sitemap import (
        expand_sitemaps,
    )

    _load(spark, sf_dir, "documents")
    docs = spark.table("documents")
    d = F.col("doc_id").cast("string")
    h = (F.col("doc_id") % 7).cast("string")
    xml = F.concat(
        F.lit("<urlset><url><loc> https://h"), h, F.lit(".org/p"), d,
        F.lit(" </loc><lastmod>2024-01-0"),
        (F.lit(1) + F.col("doc_id") % 9).cast("string"),
        F.lit("</lastmod><priority>0."),
        (F.col("doc_id") % 10).cast("string"),
        F.lit("</priority></url><url><loc>https://h"), h,
        F.lit(".org/q?a=1&amp;b="), d, F.lit("</loc></url></urlset>"),
    )
    pages = docs.select(
        F.concat(F.lit("https://h"), h, F.lit(".org/sitemap.xml")).alias(
            "url"
        ),
        xml.alias("body"),
    )
    return expand_sitemaps(pages).orderBy("loc")


def q_recrawl_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Freshness-driven recrawl scheduling (operators/recrawl.
    recrawl_schedule) over a fetch history derived from events:
    user_id = url, purchase -> 'changed', error -> 'error', other
    events -> 'unchanged'. Deterministic integer delay arithmetic
    (staleness ratio x error-streak backoff, clamped) so both engines
    agree bit-for-bit, including the next_fetch_ts timestamp add."""
    from publicationsretriever_spark.operators.recrawl import (
        recrawl_schedule,
    )

    _load(spark, sf_dir, "events")
    hist = spark.table("events").select(
        F.col("user_id").alias("url_id"),
        F.col("ts"),
        F.when(F.col("event_type") == "purchase", F.lit("changed"))
        .when(F.col("event_type") == "error", F.lit("error"))
        .otherwise(F.lit("unchanged"))
        .alias("outcome"),
    )
    return recrawl_schedule(
        hist, base_delay_s=3600, max_delay_s=30 * 86400
    ).orderBy("url_id")


def q_ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-5 per query (operators/similarity);
    queries = first 4 vectors."""
    from publicationsretriever_spark.operators.similarity import brute_force_topk

    _load(spark, sf_dir, "embeddings")
    emb = spark.table("embeddings")
    queries = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"), F.col("embedding")
    )
    return brute_force_topk(emb, queries, k=5).orderBy("query_id", "rank")


def q_ann_lsh_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-LSH bucket histogram — the ANN candidate-generation stage
    (operators/similarity.signlsh_bucket)."""
    from publicationsretriever_spark.operators.similarity import signlsh_bucket

    _load(spark, sf_dir, "embeddings")
    emb = spark.table("embeddings")
    return (
        emb.select(signlsh_bucket(F.col("embedding"), [0, 1, 2, 3]).alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n_vecs"))
        .orderBy("bucket")
    )


def q_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN: 16 deterministic centroids, nprobe=4 of 16 cells, exact
    cosine within probed cells only (operators/similarity.ivf_topk) —
    the partition-pruning scale path next to the brute-force baseline."""
    from publicationsretriever_spark.operators.similarity import ivf_topk

    _load(spark, sf_dir, "embeddings")
    emb = spark.table("embeddings")
    queries = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"), F.col("embedding")
    )
    return ivf_topk(emb, queries, k=5, n_cells=16, nprobe=4).orderBy(
        "query_id", "rank"
    )


def q_ann_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN: 4 subspaces x 16 codes (one Lloyd
    refinement over the 256 lowest-id sample), corpus encoded to 4
    code ids, asymmetric cosine vs the reconstructed codewords
    (operators/similarity.pq_topk) — the compressed-scan scale path
    (the search reads m bytes/vector, not 4*dim) next to IVF's
    partition-pruning one."""
    from publicationsretriever_spark.operators.similarity import pq_topk

    _load(spark, sf_dir, "embeddings")
    emb = spark.table("embeddings")
    queries = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"), F.col("embedding")
    )
    return pq_topk(
        emb, queries, k=5, m=4, n_codes=16, refine_iters=1
    ).orderBy("query_id", "rank")


def q_ann_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ ANN: nprobe=4 of 16 cells pruned by the IVF coarse
    quantizer, candidates scored against the PQ-compressed
    representation (operators/similarity.ivfpq_topk) — both 100 TB
    levers composed: read fewer rows (partition pruning) and fewer
    bytes per row (m code ids instead of the raw vector)."""
    from publicationsretriever_spark.operators.similarity import ivfpq_topk

    _load(spark, sf_dir, "embeddings")
    emb = spark.table("embeddings")
    queries = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"), F.col("embedding")
    )
    return ivfpq_topk(
        emb, queries, k=5, n_cells=16, nprobe=4, m=4, n_codes=16,
        refine_iters=1,
    ).orderBy("query_id", "rank")


def q_ann_ivfpq_residual_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVFADC (residual) IVF-PQ ANN: same pruning as ann_ivfpq_topk
    but the shared PQ codebook is trained on per-cell residuals
    r = x - centroid(x) and the stored payload is
    centroid + recon(residual) (operators/similarity.ivfpq_topk with
    residual=True; Jégou et al. TPAMI'11). Residual magnitudes span
    only the within-cell spread, so the same m x n_codes budget
    quantizes finer — the production IVF-PQ form."""
    from publicationsretriever_spark.operators.similarity import ivfpq_topk

    _load(spark, sf_dir, "embeddings")
    emb = spark.table("embeddings")
    queries = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"), F.col("embedding")
    )
    return ivfpq_topk(
        emb, queries, k=5, n_cells=16, nprobe=4, m=4, n_codes=16,
        refine_iters=1, residual=True,
    ).orderBy("query_id", "rank")


def q_ann_sq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 scalar-quantization ANN (operators/similarity.sq_topk):
    per-dimension (min, max) trained in one map-side pass, corpus
    scored through its quantize->dequantize image (1 byte/coord at
    rest — a fixed 4x scan cut with NO codebook join), asymmetric
    cosine vs the exact query. The third compression lever next to
    IVF (read fewer rows) and PQ (16-64x bytes via codebook)."""
    from publicationsretriever_spark.operators.similarity import sq_topk

    _load(spark, sf_dir, "embeddings")
    emb = spark.table("embeddings")
    queries = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"), F.col("embedding")
    )
    return sq_topk(emb, queries, k=5).orderBy("query_id", "rank")


def q_ann_binary_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-bit Hamming ANN (operators/similarity.binary_topk): per-dim
    midrange threshold from the order-insensitive min/max pass, sign
    bits packed 63/long, rank by sum(bit_count(xor)) asc. The 32x
    compression rung of the ladder (binary < PQ < SQ8 < float); the
    oracle counts sign-disagreeing dims directly, so parity also
    proves the bit packing."""
    from publicationsretriever_spark.operators.similarity import binary_topk

    _load(spark, sf_dir, "embeddings")
    emb = spark.table("embeddings")
    queries = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"), F.col("embedding")
    )
    return binary_topk(emb, queries, k=5).orderBy("query_id", "rank")


def q_ann_mrl_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka truncate-then-rerank (operators/similarity.
    mrl_rerank_topk): coarse cosine over the first 16 dims -> top-32
    candidates -> exact full-dim rerank. Both stages round @6dp with
    id tie-breaks so the CANDIDATE SET is engine-independent, not
    just the final order."""
    from publicationsretriever_spark.operators.similarity import (
        mrl_rerank_topk,
    )

    _load(spark, sf_dir, "embeddings")
    emb = spark.table("embeddings")
    queries = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"), F.col("embedding")
    )
    return mrl_rerank_topk(
        emb, queries, d_prime=16, candidates=32, k=5
    ).orderBy("query_id", "rank")


def q_dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs: sign-LSH bucket candidates +
    exact cosine verify (operators/similarity.embedding_neardup_pairs).
    Threshold 0.3 is dataset-relative — the synthetic embeddings are
    near-orthogonal; a production corpus would run 0.95+."""
    from publicationsretriever_spark.operators.similarity import (
        embedding_neardup_pairs,
    )

    _load(spark, sf_dir, "embeddings")
    emb = spark.table("embeddings")
    # planes auto-size from the corpus (choose_signlsh_planes): at the
    # driver's sf0.01 (n <= 512) the choice is exactly [0,1,2,3], which
    # is what the oracle SQL's 4-bit bucket hard-codes; at bench sf0.1
    # the operator widens to 6 planes on its own (smaller buckets)
    pairs = embedding_neardup_pairs(emb, threshold=0.3)
    # 6 decimals straight from the operator: dot() widens to double
    # BEFORE multiplying, so Spark's fold is bit-identical to DuckDB's
    # — and a second round() would reintroduce decimal-vs-binary
    # half-way flips (0.340450 rounds differently at 4 decimals in
    # Spark's string-HALF_UP vs DuckDB's binary round)
    return pairs.select("id_a", "id_b", "cos_sim").orderBy("id_a", "id_b")


def q_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup semantic dedup (operators/similarity.semdedup):
    IVF-cluster the embeddings (16 cells, one Lloyd refinement — the
    exact quantizer chain ann_ivf_topk's oracle mirrors), then inside
    each cell drop rows with a lower-id neighbor at cosine >= 0.3
    (dataset-relative threshold, same as dedup_embedding; production
    corpora run 0.95+). One verdict row per input vector."""
    from publicationsretriever_spark.operators.similarity import semdedup

    _load(spark, sf_dir, "embeddings")
    emb = spark.table("embeddings")
    return semdedup(
        emb, n_cells=16, threshold=0.3, refine_iters=1, sample_n=256
    ).orderBy("vec_id")


def q_embedding_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vector column hygiene: per-label norms (F.aggregate JVM-side)."""
    from publicationsretriever_spark.operators.similarity import l2_norm

    _load(spark, sf_dir, "embeddings")
    emb = spark.table("embeddings")
    return (
        emb.select("label", F.round(l2_norm(F.col("embedding")), 4).alias("norm"))
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.min("norm"), 4).alias("min_norm"),
            F.round(F.max("norm"), 4).alias("max_norm"),
        )
        .orderBy("label")
    )


def q_image_text_alignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image-text alignment gate (operators/similarity.alignment_gate):
    CLIP-score-style cosine between each pair's image embedding and
    caption embedding, kept when >= 0.05. Pairs are carved
    deterministically from the embeddings table: even vec_id = the
    pair's image embedding, the following odd vec_id = its caption
    embedding (pair_id = vec_id // 2)."""
    from publicationsretriever_spark.operators.similarity import alignment_gate

    _load(spark, sf_dir, "embeddings")
    emb = spark.table("embeddings")
    img = emb.filter(F.col("vec_id") % 2 == 0).select(
        (F.col("vec_id") / 2).cast("long").alias("pair_id"),
        F.col("embedding"),
    )
    cap = emb.filter(F.col("vec_id") % 2 == 1).select(
        ((F.col("vec_id") - 1) / 2).cast("long").alias("pair_id"),
        F.col("embedding"),
    )
    return alignment_gate(img, cap, threshold=0.05).orderBy("pair_id")


def q_retrieval_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-modal retrieval evaluation (operators/similarity.
    retrieval_recall_at_k): recall@{1,5,10} of caption->image
    retrieval over the alignment pairing (even vec_id = image corpus,
    odd = caption query, pair_id = vec_id // 2), evaluated on the
    every-5th-caption query sample — retrieval evals run on a bounded
    sample, never the corpus (the operator's contract; unsampled this
    query was 22s at sf0.1 and measured the eval-set size, not the
    engine). Rank of the true match is COUNTED (1 + rows beating it,
    @6dp cosine, id tie-break) — one corpus scan, broadcast queries,
    no sort."""
    from publicationsretriever_spark.operators.similarity import (
        retrieval_recall_at_k,
    )

    _load(spark, sf_dir, "embeddings")
    emb = spark.table("embeddings")
    img = emb.filter(F.col("vec_id") % 2 == 0).select(
        (F.col("vec_id") / 2).cast("long").alias("pair_id"),
        F.col("embedding"),
    )
    cap = emb.filter(F.col("vec_id") % 2 == 1).select(
        ((F.col("vec_id") - 1) / 2).cast("long").alias("pair_id"),
        F.col("embedding"),
    )
    return retrieval_recall_at_k(
        cap.filter(F.col("pair_id") % 5 == 0), img, [1, 5, 10]
    ).orderBy("k")


def q_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive hard-negative mining (operators/similarity.
    hard_negatives): per caption query, top-3 most-similar images
    EXCLUDING its own pair (@6dp cosine, id tie-break). Queries =
    every 5th caption of the alignment pair carving."""
    from publicationsretriever_spark.operators.similarity import (
        hard_negatives,
    )

    _load(spark, sf_dir, "embeddings")
    emb = spark.table("embeddings")
    img = emb.filter(F.col("vec_id") % 2 == 0).select(
        (F.col("vec_id") / 2).cast("long").alias("pair_id"),
        F.col("embedding"),
    )
    cap = emb.filter(F.col("vec_id") % 2 == 1).select(
        ((F.col("vec_id") - 1) / 2).cast("long").alias("pair_id"),
        F.col("embedding"),
    )
    return hard_negatives(
        cap.filter(F.col("pair_id") % 5 == 0), img, k=3
    ).orderBy("query_id", "rank")


# ---------------------------------------------------------------------------


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # Registry order is the driver's correctness-gate order (the gate
    # caps at 50 entries): the 20 queries that have never earned (or
    # lost) a driver-side CORRECTNESS row lead, long-proven crawl
    # queries trail (VERDICT r5 "Next round" #1).
    return {
        "ann_pq_topk": q_ann_pq_topk,
        "ann_ivfpq_topk": q_ann_ivfpq_topk,
        "ann_ivfpq_residual_topk": q_ann_ivfpq_residual_topk,
        "ann_sq_topk": q_ann_sq_topk,
        "ann_binary_topk": q_ann_binary_topk,
        "ann_mrl_topk": q_ann_mrl_topk,
        "semdedup": q_semdedup,
        "image_text_alignment": q_image_text_alignment,
        "retrieval_recall": q_retrieval_recall,
        "hard_negatives": q_hard_negatives,
        "host_pagerank": q_host_pagerank,
        "ann_lsh_buckets": q_ann_lsh_buckets,
        "ann_ivf_topk": q_ann_ivf_topk,
        "dedup_embedding": q_dedup_embedding,
        "embedding_stats": q_embedding_stats,
        "q1_pricing_summary": q1_pricing_summary,
        "q3_top_orders": q3_top_orders,
        "dup_log": q_dup_log,
        "sessionize": q_sessionize,
        "tumbling_agg": q_tumbling_agg,
        "reject_stats": q_reject_stats,
        "best_url_per_id": q_best_url_per_id,
        "skipped_urls": q_skipped_urls,
        "seen_antijoin": q_seen_antijoin,
        "recross_join": q_recross_join,
        "domain_block_rule": q_domain_block_rule,
        "path_block_rule": q_path_block_rule,
        "payload_dedup": q_payload_dedup,
        "temporal_id_strip": q_temporal_id_strip,
        "url_triple_split": q_url_triple_split,
        "host_bucket_hist": q_host_bucket_hist,
        "retry_classification": q_retry_classification,
        "politeness_schedule": q_politeness_schedule,
        "host_quota_spill": q_host_quota_spill,
        "dedup_exact": q_dedup_exact,
        "dedup_minhash_lsh": q_dedup_minhash_lsh,
        "dedup_incremental": q_dedup_incremental,
        "dedup_incremental_clusters": q_dedup_incremental_clusters,
        "dedup_ngram_jaccard": q_dedup_ngram_jaccard,
        "dedup_simhash": q_dedup_simhash,
        "dedup_phash_hamming": q_dedup_phash_hamming,
        "dedup_clusters": q_dedup_clusters,
        "caption_canonical": q_caption_canonical,
        "leakage_safe_split": q_leakage_safe_split,
        "stratified_sample": q_stratified_sample,
        "repetition_quality": q_repetition_quality,
        "text_quality": q_text_quality,
        "bm25_search": q_bm25_search,
        "lang_id": q_lang_id,
        "doc_fingerprint": q_doc_fingerprint,
        "pii_scrub": q_pii_scrub,
        "token_shards": q_token_shards,
        "dup_spans": q_dup_spans,
        "drop_dup_spans": q_drop_dup_spans,
        "decontaminate": q_decontaminate,
        "lm_quality": q_lm_quality,
        "mixture_sample": q_mixture_sample,
        "html_to_text": q_html_to_text,
        "corpus_stats": q_corpus_stats,
        "text_gates": q_text_gates,
        "image_gates": q_image_gates,
        "aspect_buckets": q_aspect_buckets,
        "wds_shard_plan": q_wds_shard_plan,
        "recrawl_schedule": q_recrawl_schedule,
        "epoch_shuffle": q_epoch_shuffle,
        "revalidation_merge": q_revalidation_merge,
        "zorder_key": q_zorder_key,
        "zorder_manifest": q_zorder_manifest,
        "sitemap_expand": q_sitemap_expand,
        "ann_cosine_topk": q_ann_cosine_topk,
    }


def _zorder_events_cte(bits: int) -> str:
    """Shared CTE for the zorder oracle queries: min/max bounds of
    (value, user_id) then the per-dim scaled integers s0, s1 — the
    exact IEEE term order of operators/packing.zorder_key."""
    top = f"{float((1 << bits) - 1)!r}"

    def scaled(col: str, i: int) -> str:
        return (
            f"CAST(floor(least(greatest((CAST({col} AS DOUBLE) - mn{i}) / "
            f"(CASE WHEN mx{i} > mn{i} THEN mx{i} - mn{i} ELSE 1.0 END) * "
            f"{top}, 0.0), {top})) AS BIGINT) AS s{i}"
        )

    return f"""
            WITH b AS (
              SELECT min(CAST(value AS DOUBLE)) AS mn0,
                     max(CAST(value AS DOUBLE)) AS mx0,
                     min(CAST(user_id AS DOUBLE)) AS mn1,
                     max(CAST(user_id AS DOUBLE)) AS mx1
              FROM events
            ),
            s AS (
              SELECT event_id, value, user_id,
                     {scaled('value', 0)},
                     {scaled('user_id', 1)}
              FROM events, b
            ),
            z AS (
              SELECT event_id, value, user_id,
                     CAST({_zorder_terms_sql(['s0', 's1'], bits)}
                          AS BIGINT) AS z
              FROM s
            )"""


def _zorder_terms_sql(svars: list[str], bits: int) -> str:
    """Bit-interleave as a SQL sum: mirrors zorder_key's
    ((s_d >> b) & 1) * 2^(b*ndims + d) terms."""
    nd = len(svars)
    return " + ".join(
        f"(({sv} >> {b}) & 1) * {1 << (b * nd + d)}"
        for b in range(bits)
        for d, sv in enumerate(svars)
    )


def _cos6(a: str, b: str) -> str:
    """DuckDB cosine-similarity expression rounded to 6 decimals —
    mirrors operators/similarity.cosine + F.round(…, 6)."""
    return (
        f"round(list_sum(list_transform(list_zip({a}, {b}), "
        f"x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))) / "
        f"(sqrt(list_sum(list_transform({a}, "
        f"x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))) * "
        f"sqrt(list_sum(list_transform({b}, "
        f"x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))), 6)"
    )


def _l2sq6(a: str, b: str) -> str:
    """DuckDB squared-L2 distance rounded to 6 decimals — mirrors the
    pq_encode assignment metric (both operands already DOUBLE lists)."""
    return (
        f"round(list_sum(list_transform(list_zip({a}, {b}), "
        f"p -> (p[1] - p[2]) * (p[1] - p[2]))), 6)"
    )


#: shared DuckDB CTE: the portable 16-bit simhash per doc, exposed as
#: sim(doc_id, simhash) — used by both the fingerprint oracle and the
def _aspect_ladder_values() -> str:
    """The aspect-bucket ladder as a SQL VALUES list — derived from
    the SAME aspect_bucket_ladder() the Spark query uses, so the
    oracle can never drift from the operator's constants."""
    from publicationsretriever_spark.operators.multimodal import (
        aspect_bucket_ladder,
    )

    return ", ".join(
        f"({i}, {bw}, {bh})"
        for i, (bw, bh) in enumerate(aspect_bucket_ladder())
    )


#: phash-hamming near-dup oracle
_SIMHASH_SQL_CTE = """
            WITH toks AS (
              SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\\s+')) AS t FROM documents
            ),
            th AS (SELECT doc_id, substr(md5(t), 1, 4) AS th FROM toks),
            bitsums AS (
              SELECT doc_id,
              sum(CASE WHEN ((CAST(('0x' || substr(th, 1, 1)) AS INT) >> 3) % 2) = 1 THEN 1 ELSE -1 END) AS b0,
              sum(CASE WHEN ((CAST(('0x' || substr(th, 1, 1)) AS INT) >> 2) % 2) = 1 THEN 1 ELSE -1 END) AS b1,
              sum(CASE WHEN ((CAST(('0x' || substr(th, 1, 1)) AS INT) >> 1) % 2) = 1 THEN 1 ELSE -1 END) AS b2,
              sum(CASE WHEN ((CAST(('0x' || substr(th, 1, 1)) AS INT) >> 0) % 2) = 1 THEN 1 ELSE -1 END) AS b3,
              sum(CASE WHEN ((CAST(('0x' || substr(th, 2, 1)) AS INT) >> 3) % 2) = 1 THEN 1 ELSE -1 END) AS b4,
              sum(CASE WHEN ((CAST(('0x' || substr(th, 2, 1)) AS INT) >> 2) % 2) = 1 THEN 1 ELSE -1 END) AS b5,
              sum(CASE WHEN ((CAST(('0x' || substr(th, 2, 1)) AS INT) >> 1) % 2) = 1 THEN 1 ELSE -1 END) AS b6,
              sum(CASE WHEN ((CAST(('0x' || substr(th, 2, 1)) AS INT) >> 0) % 2) = 1 THEN 1 ELSE -1 END) AS b7,
              sum(CASE WHEN ((CAST(('0x' || substr(th, 3, 1)) AS INT) >> 3) % 2) = 1 THEN 1 ELSE -1 END) AS b8,
              sum(CASE WHEN ((CAST(('0x' || substr(th, 3, 1)) AS INT) >> 2) % 2) = 1 THEN 1 ELSE -1 END) AS b9,
              sum(CASE WHEN ((CAST(('0x' || substr(th, 3, 1)) AS INT) >> 1) % 2) = 1 THEN 1 ELSE -1 END) AS b10,
              sum(CASE WHEN ((CAST(('0x' || substr(th, 3, 1)) AS INT) >> 0) % 2) = 1 THEN 1 ELSE -1 END) AS b11,
              sum(CASE WHEN ((CAST(('0x' || substr(th, 4, 1)) AS INT) >> 3) % 2) = 1 THEN 1 ELSE -1 END) AS b12,
              sum(CASE WHEN ((CAST(('0x' || substr(th, 4, 1)) AS INT) >> 2) % 2) = 1 THEN 1 ELSE -1 END) AS b13,
              sum(CASE WHEN ((CAST(('0x' || substr(th, 4, 1)) AS INT) >> 1) % 2) = 1 THEN 1 ELSE -1 END) AS b14,
              sum(CASE WHEN ((CAST(('0x' || substr(th, 4, 1)) AS INT) >> 0) % 2) = 1 THEN 1 ELSE -1 END) AS b15
              FROM th GROUP BY doc_id
            ),
            sim AS (
              SELECT doc_id,
                   CAST(CASE WHEN b0 > 0 THEN 32768 ELSE 0 END + CASE WHEN b1 > 0 THEN 16384 ELSE 0 END + CASE WHEN b2 > 0 THEN 8192 ELSE 0 END + CASE WHEN b3 > 0 THEN 4096 ELSE 0 END + CASE WHEN b4 > 0 THEN 2048 ELSE 0 END + CASE WHEN b5 > 0 THEN 1024 ELSE 0 END + CASE WHEN b6 > 0 THEN 512 ELSE 0 END + CASE WHEN b7 > 0 THEN 256 ELSE 0 END + CASE WHEN b8 > 0 THEN 128 ELSE 0 END + CASE WHEN b9 > 0 THEN 64 ELSE 0 END + CASE WHEN b10 > 0 THEN 32 ELSE 0 END + CASE WHEN b11 > 0 THEN 16 ELSE 0 END + CASE WHEN b12 > 0 THEN 8 ELSE 0 END + CASE WHEN b13 > 0 THEN 4 ELSE 0 END + CASE WHEN b14 > 0 THEN 2 ELSE 0 END + CASE WHEN b15 > 0 THEN 1 ELSE 0 END AS BIGINT) AS simhash
              FROM bitsums
            )
"""


def oracle_sql() -> dict[str, str]:
    urls = URLS_SQL
    dom = "lower(regexp_extract(url, '^https?://([^/:?#]+).*$', 1))"
    return {
        "reject_stats": f"""
            SELECT reject_reason, count(*) AS n_urls
            FROM ({REJECT_REASON_SQL})
            GROUP BY reject_reason ORDER BY reject_reason NULLS FIRST
        """,
        "best_url_per_id": f"""
            WITH u AS (
              SELECT CAST(doc_id % 97 AS BIGINT) AS id, doc_id AS order_in_id, url,
                CASE
                  WHEN regexp_matches(lower(url), '{DOC_URL_RE}')
                    OR regexp_matches(lower(url), '{DATASET_URL_RE}') THEN 0
                  WHEN url LIKE '%/handle/%' THEN 1
                  WHEN url NOT LIKE '%doi.org%' THEN 2
                  ELSE 3 END AS priority
              FROM ({urls})
            ), ranked AS (
              SELECT *, row_number() OVER (
                PARTITION BY id
                ORDER BY priority ASC,
                         CASE WHEN priority = 0 THEN order_in_id ELSE -order_in_id END ASC
              ) AS rn
              FROM u
            )
            SELECT id, url, CAST(priority AS INT) AS priority
            FROM ranked WHERE rn = 1 ORDER BY id
        """,
        "skipped_urls": f"""
            WITH u AS (
              SELECT CAST(doc_id % 97 AS BIGINT) AS id, doc_id AS order_in_id, url,
                CASE
                  WHEN regexp_matches(lower(url), '{DOC_URL_RE}')
                    OR regexp_matches(lower(url), '{DATASET_URL_RE}') THEN 0
                  WHEN url LIKE '%/handle/%' THEN 1
                  WHEN url NOT LIKE '%doi.org%' THEN 2
                  ELSE 3 END AS priority
              FROM ({urls})
            ), ranked AS (
              SELECT *, row_number() OVER (
                PARTITION BY id
                ORDER BY priority ASC,
                         CASE WHEN priority = 0 THEN order_in_id ELSE -order_in_id END ASC
              ) AS rn
              FROM u
            )
            SELECT id, url, CAST(rn - 1 AS INT) AS pool_rank,
                   'Skipped in LoaderAndChecker, as a better url was selected for id: '
                     || CAST(id AS VARCHAR) AS error
            FROM ranked WHERE rn > 1 ORDER BY id, pool_rank
        """,
        "seen_antijoin": f"""
            WITH u AS (SELECT doc_id, url, md5(url) AS url_hash FROM ({urls}))
            SELECT doc_id, url FROM u
            WHERE url_hash NOT IN (SELECT md5(url) FROM ({urls}) WHERE doc_id % 2 = 0)
            ORDER BY doc_id
        """,
        "recross_join": f"""
            WITH u AS ({urls}),
            results AS (SELECT url AS r_url, doc_id AS orig_id FROM u WHERE doc_id % 5 = 0)
            SELECT u.doc_id, u.url,
                   CASE WHEN r.orig_id IS NOT NULL THEN 'recrossed' ELSE 'fetch' END AS route,
                   r.orig_id
            FROM u LEFT JOIN results r ON u.url = r.r_url
            ORDER BY u.doc_id
        """,
        "domain_block_rule": """
            SELECT user_id,
                   CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS bad_times,
                   CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS good_times,
                   (sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) > 10
                    AND NOT (sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) + 10
                             >= sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)))
                   AS blocked
            FROM events GROUP BY user_id ORDER BY user_id
        """,
        "path_block_rule": """
            WITH paths AS (
              SELECT user_id, event_type, count(*) AS times
              FROM events GROUP BY user_id, event_type
            )
            SELECT user_id, count(DISTINCT event_type) AS blocked_paths,
                   count(DISTINCT event_type) > 2 AS domain_blocked
            FROM paths WHERE times > 10
            GROUP BY user_id ORDER BY user_id
        """,
        "payload_dedup": """
            SELECT doc_id, md5(substr(text, 1, 20)) AS payload_hash,
                   row_number() OVER (PARTITION BY md5(substr(text, 1, 20)) ORDER BY doc_id) = 1 AS is_canonical,
                   min(doc_id) OVER (PARTITION BY md5(substr(text, 1, 20))) AS canonical_doc
            FROM documents ORDER BY doc_id
        """,
        "temporal_id_strip": rf"""
            -- group-wise '&'->'?' fix, the reference's exact recipe
            -- (UrlUtils.java:294-297): fires only when GROUP2 starts
            -- with '&' and GROUP1 has no '?', and replaces group2's
            -- FIRST character — a regex over the rejoined string
            -- rewrote the last '&' and fired on path '&'s
            WITH u AS ({urls}),
            g AS (
              SELECT doc_id, url,
                regexp_matches(url, '^(https?://.+)(?:(?:(?:\?|&|;|%3b)(?:.*token|jsessionid)(?:=|%3d))[^?&]+)([?&].+)?$') AS m,
                regexp_extract(url, '^(https?://.+)(?:(?:(?:\?|&|;|%3b)(?:.*token|jsessionid)(?:=|%3d))[^?&]+)([?&].+)?$', 1) AS g1,
                regexp_extract(url, '^(https?://.+)(?:(?:(?:\?|&|;|%3b)(?:.*token|jsessionid)(?:=|%3d))[^?&]+)([?&].+)?$', 2) AS g2
              FROM u
            )
            SELECT doc_id, url,
              CASE WHEN m THEN
                CASE WHEN g2 LIKE '&%' AND position('?' IN g1) = 0
                     THEN g1 || '?' || substr(g2, 2)
                     ELSE g1 || g2 END
              ELSE url END AS clean_url
            FROM g ORDER BY doc_id
        """,
        "url_triple_split": f"""
            WITH u AS ({urls}),
            d AS (SELECT doc_id, url, {dom} AS domain FROM u)
            SELECT doc_id, url, domain,
              CASE WHEN regexp_extract(domain, '(?:^|[.])([^.]+[.][^.]+[.][^.]+)$', 1) <> ''
                   THEN regexp_extract(domain, '(?:^|[.])([^.]+[.][^.]+[.][^.]+)$', 1)
                   ELSE domain END AS top3_domain
            FROM d ORDER BY doc_id
        """,
        "host_bucket_hist": f"""
            WITH u AS ({urls}),
            d AS (SELECT {dom} AS domain FROM u)
            SELECT CAST(CAST(concat('0x', substr(md5(domain), 1, 4)) AS INT) % 32 AS INT) AS host_bucket,
                   count(*) AS n_urls
            FROM d GROUP BY 1 ORDER BY host_bucket
        """,
        "retry_classification": """
            WITH ev AS (
              SELECT event_id,
                (['http_404','http_403','http_503','http_500','http_511','conn_timeout',
                  'unsupported_head','domain_blocked','http_429','http_200'])[CAST(event_id % 10 AS INT) + 1] AS error_class,
                concat('https://h', CAST(event_id % 7 AS STRING), '.org/x') AS url
              FROM events
            )
            SELECT event_id, error_class,
              CASE WHEN error_class IN ('http_404','http_400','http_410','http_414','http_422')
                   THEN 'false' ELSE 'true' END AS was_url_valid,
              CASE
                WHEN error_class IN ('http_404','http_400','http_410','http_414','http_422') THEN 'false'
                WHEN error_class IN ('http_403','http_408','http_425','http_426','http_429','http_503') THEN 'true'
                WHEN error_class IN ('conn_timeout','unsupported_head','domain_blocked') THEN 'true'
                ELSE 'false' END AS could_retry
            FROM ev ORDER BY event_id
        """,
        "politeness_schedule": f"""
            WITH u AS ({urls}),
            d AS (SELECT doc_id, url, {dom} AS domain FROM u)
            SELECT doc_id, url, domain,
                   row_number() OVER (PARTITION BY domain ORDER BY doc_id) AS fetch_slot,
                   (row_number() OVER (PARTITION BY domain ORDER BY doc_id) - 1) * 3000 AS fetch_offset_ms
            FROM d ORDER BY doc_id
        """,
        "host_quota_spill": f"""
            WITH u AS ({urls}),
            d AS (SELECT doc_id, {dom} AS domain FROM u),
            r AS (SELECT doc_id, domain,
                         CAST(floor((row_number() OVER (PARTITION BY domain ORDER BY doc_id) - 1) / 8.0) AS INT) AS round
                  FROM d)
            SELECT round, count(*) AS n_urls, count(DISTINCT domain) AS n_hosts
            FROM r GROUP BY round ORDER BY round
        """,

        "dedup_exact": """
            SELECT doc_id, md5(text) AS content_hash,
                   doc_id = min(doc_id) OVER (PARTITION BY md5(text)) AS is_canonical,
                   min(doc_id) OVER (PARTITION BY md5(text)) AS canonical_id
            FROM documents ORDER BY doc_id
        """,
        "dedup_minhash_lsh": """
            WITH words AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS w FROM documents),
            sh AS (
              SELECT doc_id, unnest([array_to_string(w[i:i+2], ' ') for i in range(1, len(w)-1)]) AS sh
              FROM words WHERE len(w) >= 3
            ),
            sigs AS (
              SELECT doc_id,
                   min(md5('0|' || sh)) AS mh0,
                   min(md5('1|' || sh)) AS mh1,
                   min(md5('2|' || sh)) AS mh2,
                   min(md5('3|' || sh)) AS mh3,
                   min(md5('4|' || sh)) AS mh4,
                   min(md5('5|' || sh)) AS mh5,
                   min(md5('6|' || sh)) AS mh6,
                   min(md5('7|' || sh)) AS mh7
              FROM sh GROUP BY doc_id
            ),
            banded AS (
              SELECT doc_id, 0 AS band, md5(mh0 || '|' || mh1) AS bh FROM sigs
              UNION ALL
              SELECT doc_id, 1 AS band, md5(mh2 || '|' || mh3) AS bh FROM sigs
              UNION ALL
              SELECT doc_id, 2 AS band, md5(mh4 || '|' || mh5) AS bh FROM sigs
              UNION ALL
              SELECT doc_id, 3 AS band, md5(mh6 || '|' || mh7) AS bh FROM sigs
            )
            SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_shared_bands
            FROM banded a JOIN banded b ON a.band = b.band AND a.bh = b.bh
            WHERE a.doc_id < b.doc_id
            GROUP BY a.doc_id, b.doc_id
            ORDER BY id_a, id_b
        """,
        "dedup_incremental": """
            -- mirrors minhash_band_index + incremental_neardup_pairs:
            -- a doc's signature depends only on its own text, so
            -- banding ALL docs then splitting is identical to banding
            -- the corpus and batch separately
            WITH words AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS w FROM documents),
            sh AS (
              SELECT doc_id, unnest([array_to_string(w[i:i+2], ' ') for i in range(1, len(w)-1)]) AS sh
              FROM words WHERE len(w) >= 3
            ),
            sigs AS (
              SELECT doc_id,
                   min(md5('0|' || sh)) AS mh0,
                   min(md5('1|' || sh)) AS mh1,
                   min(md5('2|' || sh)) AS mh2,
                   min(md5('3|' || sh)) AS mh3,
                   min(md5('4|' || sh)) AS mh4,
                   min(md5('5|' || sh)) AS mh5,
                   min(md5('6|' || sh)) AS mh6,
                   min(md5('7|' || sh)) AS mh7
              FROM sh GROUP BY doc_id
            ),
            banded AS (
              SELECT doc_id, 0 AS band, md5(mh0 || '|' || mh1) AS bh FROM sigs
              UNION ALL
              SELECT doc_id, 1 AS band, md5(mh2 || '|' || mh3) AS bh FROM sigs
              UNION ALL
              SELECT doc_id, 2 AS band, md5(mh4 || '|' || mh5) AS bh FROM sigs
              UNION ALL
              SELECT doc_id, 3 AS band, md5(mh6 || '|' || mh7) AS bh FROM sigs
            )
            SELECT n.doc_id AS batch_id, c.doc_id AS match_id,
                   count(*) AS n_shared_bands, 'corpus' AS vs
            FROM banded n JOIN banded c ON n.band = c.band AND n.bh = c.bh
            WHERE n.doc_id % 5 = 0 AND c.doc_id % 5 != 0
            GROUP BY n.doc_id, c.doc_id
            UNION ALL
            SELECT a.doc_id AS batch_id, b.doc_id AS match_id,
                   count(*) AS n_shared_bands, 'batch' AS vs
            FROM banded a JOIN banded b ON a.band = b.band AND a.bh = b.bh
            WHERE a.doc_id % 5 = 0 AND b.doc_id % 5 = 0 AND a.doc_id < b.doc_id
            GROUP BY a.doc_id, b.doc_id
            ORDER BY vs, batch_id, match_id
        """,
        "dedup_ngram_jaccard": """
            WITH words AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS w FROM documents),
            sh AS (
              SELECT DISTINCT doc_id, unnest([array_to_string(w[i:i+4], ' ') for i in range(1, len(w)-3)]) AS sh
              FROM words WHERE len(w) >= 5
            ),
            sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
            inter AS (
              SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
              FROM sh a JOIN sh b ON a.sh = b.sh
              WHERE a.doc_id < b.doc_id
              GROUP BY a.doc_id, b.doc_id
            )
            SELECT id_a, id_b, n_inter, sa.n_sh AS n_a, sb.n_sh AS n_b,
                   round(CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter), 6) AS jaccard
            FROM inter
            JOIN sizes sa ON sa.doc_id = id_a
            JOIN sizes sb ON sb.doc_id = id_b
            WHERE round(CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter), 6) >= 0.8
            ORDER BY id_a, id_b
        """,
        "dedup_simhash": _SIMHASH_SQL_CTE + """
            SELECT doc_id, simhash FROM sim ORDER BY doc_id
        """,
        # image phash near-dup path: DuckDB verifies the banded bucket
        # join EXACTLY with the naive quadratic bit_count(xor) join —
        # pigeonhole (bands=3 >= k+1 for k=2) means the banding loses
        # no pair, so the two must agree.
        "dedup_phash_hamming": _SIMHASH_SQL_CTE + """
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
            FROM sim a JOIN sim b ON a.doc_id < b.doc_id
            WHERE bit_count(xor(a.simhash, b.simhash)) <= 2
            ORDER BY id_a, id_b
        """,
        # near-dup clusters: DuckDB computes the exact transitive
        # closure (recursive CTE, min reachable id) over the SAME
        # quadratic-verified pair list — the Spark side must produce an
        # identical per-document cluster assignment via label
        # propagation.
        # the incremental path's contract IS full-recompute equality:
        # same closure oracle as dedup_clusters
        "dedup_incremental_clusters": _SIMHASH_SQL_CTE.replace(
            "WITH", "WITH RECURSIVE", 1
        ) + """
            , prs AS (
              SELECT a.doc_id AS id_a, b.doc_id AS id_b
              FROM sim a JOIN sim b ON a.doc_id < b.doc_id
              WHERE bit_count(xor(a.simhash, b.simhash)) <= 2
            ),
            edges AS (
              SELECT id_a AS a, id_b AS b FROM prs
              UNION
              SELECT id_b AS a, id_a AS b FROM prs
            ),
            reach(node, r) AS (
              SELECT a, a FROM edges
              UNION
              SELECT e.a, reach.r FROM edges e JOIN reach ON e.b = reach.node
            ),
            lab AS (SELECT node, MIN(r) AS label FROM reach GROUP BY node)
            SELECT d.doc_id,
                   CAST(coalesce(lab.label, d.doc_id) AS BIGINT) AS cluster_id,
                   coalesce(lab.label, d.doc_id) = d.doc_id AS is_canonical
            FROM documents d LEFT JOIN lab ON d.doc_id = lab.node
            ORDER BY d.doc_id
        """,
        "dedup_clusters": _SIMHASH_SQL_CTE.replace(
            "WITH", "WITH RECURSIVE", 1
        ) + """
            , prs AS (
              SELECT a.doc_id AS id_a, b.doc_id AS id_b
              FROM sim a JOIN sim b ON a.doc_id < b.doc_id
              WHERE bit_count(xor(a.simhash, b.simhash)) <= 2
            ),
            edges AS (
              SELECT id_a AS a, id_b AS b FROM prs
              UNION
              SELECT id_b AS a, id_a AS b FROM prs
            ),
            reach(node, r) AS (
              SELECT a, a FROM edges
              UNION
              SELECT e.a, reach.r FROM edges e JOIN reach ON e.b = reach.node
            ),
            lab AS (SELECT node, MIN(r) AS label FROM reach GROUP BY node)
            SELECT d.doc_id,
                   CAST(coalesce(lab.label, d.doc_id) AS BIGINT) AS cluster_id,
                   coalesce(lab.label, d.doc_id) = d.doc_id AS is_canonical
            FROM documents d LEFT JOIN lab ON d.doc_id = lab.node
            ORDER BY d.doc_id
        """,
        # per-cluster metadata vote: same exact transitive closure,
        # then majority value per attribute — DuckDB mirrors the Spark
        # reduce's tie-break (highest count, then LARGEST value:
        # max_by(a, struct(cnt, a))) with row_number ORDER BY cnt DESC,
        # value DESC; n_<a> is count(DISTINCT a) (non-null).
        "caption_canonical": _SIMHASH_SQL_CTE.replace(
            "WITH", "WITH RECURSIVE", 1
        ) + """
            , prs AS (
              SELECT a.doc_id AS id_a, b.doc_id AS id_b
              FROM sim a JOIN sim b ON a.doc_id < b.doc_id
              WHERE bit_count(xor(a.simhash, b.simhash)) <= 2
            ),
            edges AS (
              SELECT id_a AS a, id_b AS b FROM prs
              UNION
              SELECT id_b AS a, id_a AS b FROM prs
            ),
            reach(node, r) AS (
              SELECT a, a FROM edges
              UNION
              SELECT e.a, reach.r FROM edges e JOIN reach ON e.b = reach.node
            ),
            lab AS (SELECT node, MIN(r) AS label FROM reach GROUP BY node),
            asg AS (
              SELECT d.doc_id, d.source, d.lang,
                     CAST(coalesce(lab.label, d.doc_id) AS BIGINT) AS cluster_id
              FROM documents d LEFT JOIN lab ON d.doc_id = lab.node
            ),
            base AS (
              SELECT cluster_id, count(*) AS cluster_size,
                     min(doc_id) AS canonical_doc_id
              FROM asg GROUP BY cluster_id
            ),
            sc AS (
              SELECT cluster_id, source, count(*) AS cnt FROM asg
              WHERE source IS NOT NULL GROUP BY 1, 2
            ),
            ssel AS (
              SELECT cluster_id, source AS canonical_source FROM (
                SELECT cluster_id, source,
                       row_number() OVER (PARTITION BY cluster_id
                         ORDER BY cnt DESC, source DESC) AS rn
                FROM sc) WHERE rn = 1
            ),
            sn AS (
              SELECT cluster_id, count(DISTINCT source) AS n_source
              FROM asg GROUP BY cluster_id
            ),
            lc AS (
              SELECT cluster_id, lang, count(*) AS cnt FROM asg
              WHERE lang IS NOT NULL GROUP BY 1, 2
            ),
            lsel AS (
              SELECT cluster_id, lang AS canonical_lang FROM (
                SELECT cluster_id, lang,
                       row_number() OVER (PARTITION BY cluster_id
                         ORDER BY cnt DESC, lang DESC) AS rn
                FROM lc) WHERE rn = 1
            ),
            ln AS (
              SELECT cluster_id, count(DISTINCT lang) AS n_lang
              FROM asg GROUP BY cluster_id
            )
            SELECT b.cluster_id, b.cluster_size, b.canonical_doc_id,
                   ssel.canonical_source, sn.n_source,
                   sn.n_source > 1 AS source_conflict,
                   lsel.canonical_lang, ln.n_lang,
                   ln.n_lang > 1 AS lang_conflict
            FROM base b
            LEFT JOIN ssel USING (cluster_id)
            JOIN sn USING (cluster_id)
            LEFT JOIN lsel USING (cluster_id)
            JOIN ln USING (cluster_id)
            ORDER BY b.cluster_id
        """,
        # leakage-safe split: same transitive closure; the split is a
        # pure md5 bucket of the cluster id (first 8 hex chars mod 1e4
        # < frac*1e4) — DuckDB's hex-literal cast mirrors Spark's
        # conv(substr(md5, 1, 8), 16, 10).
        "leakage_safe_split": _SIMHASH_SQL_CTE.replace(
            "WITH", "WITH RECURSIVE", 1
        ) + """
            , prs AS (
              SELECT a.doc_id AS id_a, b.doc_id AS id_b
              FROM sim a JOIN sim b ON a.doc_id < b.doc_id
              WHERE bit_count(xor(a.simhash, b.simhash)) <= 2
            ),
            edges AS (
              SELECT id_a AS a, id_b AS b FROM prs
              UNION
              SELECT id_b AS a, id_a AS b FROM prs
            ),
            reach(node, r) AS (
              SELECT a, a FROM edges
              UNION
              SELECT e.a, reach.r FROM edges e JOIN reach ON e.b = reach.node
            ),
            lab AS (SELECT node, MIN(r) AS label FROM reach GROUP BY node),
            asg AS (
              SELECT d.doc_id,
                     CAST(coalesce(lab.label, d.doc_id) AS BIGINT) AS cluster_id
              FROM documents d LEFT JOIN lab ON d.doc_id = lab.node
            )
            SELECT doc_id, cluster_id,
                   CASE WHEN CAST(('0x' || substr(
                            md5('split-v1:' || CAST(cluster_id AS VARCHAR)),
                            1, 8)) AS BIGINT) % 10000 < 2000
                        THEN 'test' ELSE 'train' END AS split
            FROM asg
            ORDER BY doc_id
        """,

        # deterministic stratified sample: md5 hex-bucket parity with
        # Spark's conv(substr(md5, 1, 8), 16, 10) % 1e6 per-row filter
        "stratified_sample": """
            SELECT doc_id, lang FROM documents
            WHERE CAST(('0x' || substr(
                    md5('sample-v1:' || CAST(doc_id AS VARCHAR)),
                    1, 8)) AS BIGINT) % 1000000
                < CASE lang
                    WHEN 'en' THEN 300000
                    WHEN 'de' THEN 1000000
                    WHEN 'es' THEN 600000
                    WHEN 'fr' THEN 1000000
                    WHEN 'zh' THEN 500000
                    ELSE 0 END
            ORDER BY doc_id
        """,

        # Gopher repetition signals: DuckDB list functions mirror the
        # array expressions; top-word share via unnest + two group-bys
        "repetition_quality": """
            WITH d AS (
              SELECT doc_id,
                     string_split_regex(lower(trim(text)), '\\s+') AS w
              FROM documents
            ),
            f AS (
              SELECT doc_id,
                round(1 - CAST(len(list_distinct(w)) AS DOUBLE)
                      / greatest(len(w), 1), 6) AS dup_word_frac,
                CASE WHEN len(w) >= 2 THEN
                  round(1 - CAST(len(list_distinct(list_transform(
                          generate_series(1, len(w) - 1),
                          i -> w[i] || ' ' || w[i + 1]))) AS DOUBLE)
                        / (len(w) - 1), 6)
                ELSE 0.0 END AS dup_2gram_frac
              FROM d
            ),
            t AS (
              SELECT doc_id,
                     round(CAST(max(c) AS DOUBLE) / sum(c), 6)
                       AS top_word_frac
              FROM (
                SELECT doc_id, t, count(*) AS c
                FROM (SELECT doc_id, unnest(w) AS t FROM d)
                GROUP BY 1, 2)
              GROUP BY doc_id
            )
            SELECT f.doc_id, dup_word_frac, dup_2gram_frac,
                   coalesce(top_word_frac, 0.0) AS top_word_frac
            FROM f LEFT JOIN t USING (doc_id)
            ORDER BY f.doc_id
        """,

        "text_quality": """
            WITH d AS (
              SELECT doc_id, text, string_split_regex(lower(trim(text)), '\\s+') AS w,
                     length(text) AS n_chars_actual,
                     length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g')) AS n_punct
              FROM documents
            ),
            m AS (
              SELECT doc_id, n_chars_actual, len(w) AS n_tokens,
                round(CAST(len(list_filter(w, x -> list_contains(['the','and','of','to','a'], x))) AS DOUBLE)
                      / greatest(len(w), 1), 6) AS stopword_ratio,
                round(CAST(n_punct AS DOUBLE) / greatest(n_chars_actual, 1), 6) AS punct_ratio
              FROM d
            )
            SELECT doc_id, n_chars_actual, n_tokens, stopword_ratio, punct_ratio,
              round((CAST(n_chars_actual BETWEEN 50 AND 20000 AS INT)
                   + CAST(punct_ratio < 0.2 AS INT)
                   + CAST(stopword_ratio > 0.01 AS INT)) / 3.0, 6) AS quality
            FROM m ORDER BY doc_id
        """,
        "bm25_search": """
            -- mirrors operators/search.bm25_topk: Okapi BM25 with
            -- idf = ln(1 + (N-df+0.5)/(df+0.5)), k1=1.2, b=0.75,
            -- distinct query terms, @6dp, doc-id tie-breaks. Every
            -- arithmetic chain is anchored in DOUBLE (DuckDB bare
            -- decimal literals are DECIMAL-typed) and mirrors the
            -- Spark expression's association order.
            WITH toks AS (
              SELECT doc_id,
                     list_filter(
                       string_split_regex(lower(text), '[^a-z0-9]+'),
                       t -> t != '') AS toks
              FROM documents
            ),
            stats AS (
              SELECT count(*) AS n,
                     CAST(sum(len(toks)) AS DOUBLE) / count(*) AS avgdl
              FROM toks
            ),
            q(query_id, query) AS (
              VALUES (CAST(0 AS BIGINT), 'spark hash join'),
                     (CAST(1 AS BIGINT), 'window agg scan'),
                     (CAST(2 AS BIGINT), 'customer order query')
            ),
            qterms AS (
              SELECT query_id,
                     unnest(list_distinct(list_filter(
                       string_split_regex(lower(query), '[^a-z0-9]+'),
                       t -> t != ''))) AS term
              FROM q
            ),
            posting AS (
              SELECT t.doc_id, len(t.toks) AS dl, u.term
              FROM toks t, unnest(t.toks) AS u(term)
              WHERE u.term IN (SELECT DISTINCT term FROM qterms)
            ),
            tf AS (
              SELECT doc_id, term, count(*) AS tf, max(dl) AS dl
              FROM posting GROUP BY doc_id, term
            ),
            dfreq AS (
              SELECT term, count(*) AS df FROM tf GROUP BY term
            ),
            scores AS (
              SELECT qt.query_id, tf.doc_id,
                     round(sum(
                       ln(1.0 + (CAST(s.n AS DOUBLE) - d.df + 0.5)
                                / (CAST(d.df AS DOUBLE) + 0.5))
                       * ((CAST(tf.tf AS DOUBLE)
                           * (CAST(1.2 AS DOUBLE) + 1.0))
                          / (CAST(tf.tf AS DOUBLE)
                             + CAST(1.2 AS DOUBLE)
                               * ((1.0 - CAST(0.75 AS DOUBLE))
                                  + CAST(0.75 AS DOUBLE) * tf.dl
                                    / s.avgdl)))
                     ), 6) AS bm25
              FROM tf
              JOIN dfreq d USING (term)
              JOIN qterms qt USING (term)
              CROSS JOIN stats s
              GROUP BY qt.query_id, tf.doc_id
            ),
            ranked AS (
              SELECT query_id, doc_id, bm25,
                     row_number() OVER (PARTITION BY query_id
                       ORDER BY bm25 DESC, doc_id ASC) AS rank
              FROM scores
            )
            SELECT query_id, CAST(rank AS BIGINT) AS rank, doc_id, bm25
            FROM ranked WHERE rank <= 5 ORDER BY query_id, rank
        """,
        "lang_id": """
            WITH d AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS w FROM documents),
            sc AS (
              SELECT doc_id,
                 len(list_filter(w, x -> list_contains(['der','die','und','das','ein'], x))) AS s_de,
                 len(list_filter(w, x -> list_contains(['the','and','of','to','a'], x))) AS s_en,
                 len(list_filter(w, x -> list_contains(['el','los','que','y','una'], x))) AS s_es,
                 len(list_filter(w, x -> list_contains(['le','la','et','les','des'], x))) AS s_fr
              FROM d
            ),
            pred AS (
              SELECT doc_id, CASE
                WHEN s_fr > greatest(0, s_de, s_en, s_es) THEN 'fr'
                WHEN s_es > greatest(0, s_de, s_en) THEN 'es'
                WHEN s_en > greatest(0, s_de) THEN 'en'
                WHEN s_de > 0 THEN 'de'
                ELSE 'und' END AS lang_pred
              FROM sc
            )
            SELECT lang_pred, count(*) AS n_docs FROM pred
            GROUP BY lang_pred ORDER BY lang_pred
        """,
        "doc_fingerprint": """
            WITH fp AS (
              SELECT md5(substr(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), 1, 64)) AS fp
              FROM documents
            )
            SELECT fp, count(*) AS n_docs FROM fp
            GROUP BY fp HAVING count(*) > 1 ORDER BY fp
        """,
        "pii_scrub": """
            -- mirrors operators/textstats.pii_redact over the same
            -- deterministically PII-augmented text (_with_pii): fixed
            -- order email -> ipv4 -> phone, each count taken on the
            -- intermediate its replace sees. Patterns are the
            -- Java/RE2-shared subset, identical strings both engines.
            WITH aug AS (
              SELECT doc_id,
                     text || ' contact user' || CAST(doc_id AS VARCHAR)
                          || '@example.org ip 10.0.'
                          || CAST(doc_id % 256 AS VARCHAR) || '.7'
                          || CASE WHEN doc_id % 3 = 0
                             THEN ' tel +1 (555) 010-'
                                  || CAST(doc_id % 10000 AS VARCHAR)
                             ELSE '' END AS t0
              FROM documents
            ),
            s1 AS (
              SELECT doc_id, t0,
                     regexp_replace(t0,
                       '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}',
                       '<EMAIL>', 'g') AS t1
              FROM aug
            ),
            s2 AS (
              SELECT doc_id, t0, t1,
                     regexp_replace(t1,
                       '\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b',
                       '<IP>', 'g') AS t2
              FROM s1
            )
            SELECT doc_id,
                   regexp_replace(t2, '\\+[0-9][0-9 ()-]{7,}[0-9]',
                                  '<PHONE>', 'g') AS redacted,
                   CAST(len(regexp_extract_all(t0,
                     '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}'))
                     AS INT) AS n_emails,
                   CAST(len(regexp_extract_all(t1,
                     '\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b'))
                     AS INT) AS n_ips,
                   CAST(len(regexp_extract_all(t2,
                     '\\+[0-9][0-9 ()-]{7,}[0-9]')) AS INT) AS n_phones
            FROM s2 ORDER BY doc_id
        """,
        "token_shards": """
            -- mirrors operators/packing.token_shard_assign: the
            -- distributed two-pass prefix sum collapses to ONE window
            -- cumsum at oracle scale — shard = floor(start/capacity)
            -- with start = running token count before the doc in
            -- doc_id order (capacity 2000).
            WITH tok AS (
              SELECT doc_id,
                     CAST(len(string_split_regex(lower(trim(text)),
                       '\\s+')) AS BIGINT) AS tokens
              FROM documents
            ),
            c AS (
              SELECT doc_id, tokens,
                     sum(tokens) OVER (ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       - tokens AS start
              FROM tok
            )
            SELECT doc_id, tokens,
                   CAST(floor(start / 2000.0) AS BIGINT) AS shard
            FROM c ORDER BY doc_id
        """,
        "dup_spans": """
            -- mirrors operators/dedup.dup_span_stats (w=8, stride=4,
            -- text keys): spans of 8 tokens at stride 4; a span
            -- position is dup when its exact text occurs in >=2
            -- distinct docs.
            WITH d AS (
              SELECT doc_id,
                     string_split_regex(lower(trim(text)), '\\s+') AS w
              FROM documents
            ),
            sp AS (
              SELECT doc_id, unnest(list_transform(
                       generate_series(0, CAST(floor((len(w) - 8) / 4.0)
                                          AS BIGINT)),
                       p -> array_to_string(w[p*4+1:p*4+8], ' ')
                     )) AS key
              FROM d
            ),
            kd AS (
              SELECT key, doc_id, count(*) AS pos
              FROM sp GROUP BY 1, 2
            ),
            ks AS (SELECT key, count(*) AS nd FROM kd GROUP BY 1),
            pd AS (
              SELECT doc_id, sum(pos) AS n,
                     sum(CASE WHEN nd >= 2 THEN pos ELSE 0 END) AS dup
              FROM kd JOIN ks USING (key) GROUP BY doc_id
            )
            SELECT d.doc_id,
                   CAST(coalesce(n, 0) AS BIGINT) AS n_spans,
                   CAST(coalesce(dup, 0) AS BIGINT) AS dup_spans,
                   round(CAST(coalesce(dup, 0) AS DOUBLE)
                         / greatest(coalesce(n, 0), 1), 6) AS dup_frac
            FROM d LEFT JOIN pd USING (doc_id) ORDER BY d.doc_id
        """,
        "drop_dup_spans": """
            -- mirrors operators/dedup.drop_dup_spans (w=8, stride=4,
            -- text keys): per span key the (doc_id, pos)-lexicographic
            -- first occurrence wins; every other occurrence's token
            -- range is filtered out of its doc (1-based DuckDB lambda
            -- index vs Spark's 0-based -> (i-1)).
            WITH d AS (
              SELECT doc_id,
                     string_split_regex(lower(trim(text)), '\\s+') AS w
              FROM documents
            ),
            e AS (
              SELECT doc_id,
                     unnest(list_transform(
                       generate_series(0, CAST(floor((len(w) - 8) / 4.0)
                                          AS BIGINT)),
                       p -> struct_pack(p := p,
                              k := array_to_string(w[p*4+1:p*4+8], ' '))
                     )) AS s
              FROM d
            ),
            r AS (
              SELECT doc_id, s.p AS p,
                     row_number() OVER (PARTITION BY s.k
                       ORDER BY doc_id, s.p) AS rn
              FROM e
            ),
            l AS (
              SELECT doc_id, list(p) AS ps, count(*) AS nr
              FROM r WHERE rn > 1 GROUP BY doc_id
            )
            SELECT d.doc_id,
                   -- unaffected docs keep their ORIGINAL text; only
                   -- span-losing docs get the token rebuild
                   -- (coalesce: DuckDB array_to_string([]) is NULL,
                   -- Spark concat_ws([]) is '')
                   CASE WHEN coalesce(nr, 0) > 0 THEN
                     coalesce(array_to_string(list_filter(d.w, (x, i) ->
                       len(list_filter(coalesce(l.ps, CAST([] AS BIGINT[])),
                         q -> (i-1) >= q*4 AND (i-1) < q*4+8)) = 0),
                       ' '), '')
                   ELSE dd.text END AS clean_text,
                   CAST(coalesce(nr, 0) AS BIGINT) AS n_removed_spans
            FROM d LEFT JOIN l USING (doc_id)
            JOIN documents dd USING (doc_id) ORDER BY d.doc_id
        """,
        "decontaminate": """
            -- mirrors operators/dedup.decontaminate (w=13, stride 1,
            -- text keys): eval split = doc_id % 50 == 0; a train doc
            -- is contaminated when any of its 13-token spans occurs
            -- anywhere in the eval split. DuckDB slice w[p:p+12] is
            -- INCLUSIVE (13 tokens); generate_series(1, len-12) is
            -- empty for docs shorter than 13 tokens.
            WITH d AS (
              SELECT doc_id,
                     string_split_regex(lower(trim(text)), '\\s+') AS w
              FROM documents
            ),
            e AS (
              SELECT doc_id,
                     unnest(list_transform(
                       generate_series(1, len(w) - 12),
                       p -> array_to_string(w[p:p+12], ' ')
                     )) AS k
              FROM d
            ),
            ev AS (SELECT DISTINCT k FROM e WHERE doc_id % 50 = 0),
            hits AS (
              SELECT e.doc_id, count(*) AS n
              FROM e JOIN ev USING (k)
              WHERE e.doc_id % 50 != 0 GROUP BY e.doc_id
            )
            SELECT d.doc_id,
                   CAST(coalesce(n, 0) AS BIGINT) AS n_eval_hits,
                   coalesce(n, 0) > 0 AS contaminated
            FROM d LEFT JOIN hits USING (doc_id)
            WHERE d.doc_id % 50 != 0 ORDER BY d.doc_id
        """,
        "lm_quality": """
            -- mirrors operators/textstats.lm_quality_score (n=3, text
            -- keys): trigram and bigram-context counts over the whole
            -- corpus; per doc avg(log10(c(tri)/c(ctx))). Context count
            -- = occurrences as a trigram PREFIX. DuckDB slice is
            -- inclusive: w[p:p+2] = 3 tokens, w[p:p+1] = 2 tokens.
            WITH d AS (
              SELECT doc_id,
                     string_split_regex(lower(trim(text)), '\\s+') AS w
              FROM documents
            ),
            e AS (
              SELECT doc_id,
                     unnest(list_transform(
                       generate_series(1, len(w) - 2),
                       p -> struct_pack(
                         g := array_to_string(w[p:p+2], ' '),
                         c := array_to_string(w[p:p+1], ' ')
                       ))) AS s
              FROM d
            ),
            gc AS (SELECT s.g AS g, count(*) AS gn FROM e GROUP BY s.g),
            cc AS (SELECT s.c AS c, count(*) AS cn FROM e GROUP BY s.c),
            sc AS (
              SELECT e.doc_id,
                     count(*) AS nn,
                     avg(log10(gn / cn)) AS m
              FROM e
              JOIN gc ON e.s.g = gc.g
              JOIN cc ON e.s.c = cc.c
              GROUP BY e.doc_id
            )
            SELECT d.doc_id,
                   CAST(coalesce(nn, 0) AS BIGINT) AS n_ngrams,
                   round(m, 6) AS mean_log10_prob
            FROM d LEFT JOIN sc USING (doc_id) ORDER BY d.doc_id
        """,
        "mixture_sample": """
            -- mirrors operators/textstats.mixture_sample: target
            -- fracs {en:.5, de:.2, fr:.3}; T = min over targets of
            -- avail/frac; threshold = floor(min(1, T*f/avail)*1e6);
            -- keep iff md5('mix-v1:'||id) bucket < threshold. The
            -- double arithmetic mirrors the Python driver expression
            -- ORDER (T*f/avail, left-assoc) so thresholds are
            -- bit-identical.
            WITH tf(l, f) AS (
              VALUES ('en', 0.5), ('de', 0.2), ('fr', 0.3)
            ),
            avail AS (
              SELECT lang,
                     CAST(sum(len(string_split_regex(
                       lower(trim(text)), '\\s+'))) AS DOUBLE) AS a
              FROM documents GROUP BY lang
            ),
            t AS (
              SELECT min(a / f) AS t
              FROM avail JOIN tf ON avail.lang = tf.l
            ),
            th AS (
              SELECT tf.l AS lang,
                     CAST(floor(least(1.0, t.t * tf.f / avail.a)
                                * 1000000) AS BIGINT) AS thr
              FROM tf JOIN avail ON avail.lang = tf.l CROSS JOIN t
            )
            SELECT d.doc_id, d.lang
            FROM documents d JOIN th ON d.lang = th.lang
            WHERE CAST(('0x' || substr(
                    md5('mix-v1:' || CAST(doc_id AS VARCHAR)),
                    1, 8)) AS BIGINT) % 1000000 < thr
            ORDER BY d.doc_id
        """,
        "html_to_text": """
            -- mirrors functions/htmlparse.html_to_text over the same
            -- fixed HTML wrapping: script/style/comment blocks drop
            -- first, generic tag strip, entity unescape (&amp; LAST
            -- so &amp;lt; -> &lt;), whitespace normalize. Same RE2
            -- patterns as the Spark chain.
            SELECT doc_id,
                   trim(regexp_replace(
                     replace(replace(replace(replace(replace(replace(
                       regexp_replace(
                         regexp_replace(
                           regexp_replace(
                             regexp_replace(
                               '<html><head><style>p {color: red}</style>'
                               || '<script type="a">var z = 1 < 2;</script></head>'
                               || '<body><h1>T</h1><p>' || text
                               || ' &amp; more</p><!-- trailing' || chr(10)
                               || 'comment --></body></html>',
                               '(?is)<script[^>]*>.*?</script>', ' ', 'g'),
                             '(?is)<style[^>]*>.*?</style>', ' ', 'g'),
                           '(?s)<!--.*?-->', ' ', 'g'),
                         '<[^>]+>', ' ', 'g'),
                       '&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'),
                       '&quot;', '"'), '&#39;', ''''), '&amp;', '&'),
                     '\\s+', ' ', 'g')) AS clean
            FROM documents ORDER BY doc_id
        """,
        "corpus_stats": """
            -- mirrors operators/textstats.corpus_stats (exact):
            -- quantile_cont == Spark's exact percentile (linear
            -- interpolation), verified to 6dp.
            WITH t AS (
              SELECT lang, source,
                     len(string_split_regex(lower(trim(text)), '\\s+'))
                       AS tk
              FROM documents
            )
            SELECT lang, source,
                   count(*) AS n_docs,
                   CAST(sum(tk) AS BIGINT) AS total_tokens,
                   round(avg(tk), 6) AS mean_tokens,
                   round(quantile_cont(tk, 0.5), 6) AS p50_tokens,
                   round(quantile_cont(tk, 0.9), 6) AS p90_tokens
            FROM t GROUP BY lang, source ORDER BY lang, source
        """,
        "text_gates": """
            -- mirrors operators/textstats.text_quality_gates
            -- (defaults): allowed lang = en; reject_reason = first
            -- failing gate in TEXT_GATE_ORDER (lang, length, punct,
            -- stopword, repeat). Vote/ratio expressions identical to
            -- the lang_id / text_quality / repetition_quality oracles.
            WITH d AS (
              SELECT doc_id,
                     string_split_regex(lower(trim(text)), '\\s+') AS w,
                     length(text) AS nc,
                     length(text) - length(
                       regexp_replace(text, '[^\\w\\s]', '', 'g')) AS np
              FROM documents
            ),
            sc AS (
              SELECT doc_id, w, nc, np,
                 len(list_filter(w, x -> list_contains(['der','die','und','das','ein'], x))) AS s_de,
                 len(list_filter(w, x -> list_contains(['the','and','of','to','a'], x))) AS s_en,
                 len(list_filter(w, x -> list_contains(['el','los','que','y','una'], x))) AS s_es,
                 len(list_filter(w, x -> list_contains(['le','la','et','les','des'], x))) AS s_fr
              FROM d
            ),
            g AS (
              SELECT doc_id,
                (CASE
                  WHEN s_fr > greatest(0, s_de, s_en, s_es) THEN 'fr'
                  WHEN s_es > greatest(0, s_de, s_en) THEN 'es'
                  WHEN s_en > greatest(0, s_de) THEN 'en'
                  WHEN s_de > 0 THEN 'de'
                  ELSE 'und' END) = 'en' AS gate_lang,
                nc BETWEEN 50 AND 20000 AS gate_length,
                round(CAST(np AS DOUBLE) / greatest(nc, 1), 6) < 0.2
                  AS gate_punct,
                round(CAST(s_en AS DOUBLE) / greatest(len(w), 1), 6)
                  > 0.01 AS gate_stopword,
                (CASE WHEN len(w) >= 2 THEN
                   round(1 - CAST(len(list_distinct(list_transform(
                       generate_series(1, len(w) - 1),
                       i -> w[i] || ' ' || w[i + 1]))) AS DOUBLE)
                     / (len(w) - 1), 6)
                 ELSE 0.0 END) <= 0.3 AS gate_repeat
              FROM sc
            )
            SELECT doc_id, gate_lang, gate_length, gate_punct,
                   gate_stopword, gate_repeat,
                   (gate_lang AND gate_length AND gate_punct
                    AND gate_stopword AND gate_repeat) AS keep,
                   CASE WHEN NOT gate_lang THEN 'lang'
                        WHEN NOT gate_length THEN 'length'
                        WHEN NOT gate_punct THEN 'punct'
                        WHEN NOT gate_stopword THEN 'stopword'
                        WHEN NOT gate_repeat THEN 'repeat'
                        ELSE NULL END AS reject_reason
            FROM g ORDER BY doc_id
        """,
        "image_gates": """
            -- mirrors operators/multimodal.image_quality_gates over
            -- the q_image_gates synthesized metadata; reject_reason =
            -- first failing gate in IMAGE_GATE_ORDER (fmt, min_dim,
            -- aspect, bytes, caption).
            WITH meta AS (
              SELECT doc_id AS image_id,
                     CAST(16 + (doc_id * 37) % 1024 AS INT) AS w,
                     CAST(16 + (doc_id * 59) % 1024 AS INT) AS h,
                     CASE WHEN doc_id % 7 = 5 THEN 'gif'
                          WHEN doc_id % 2 = 0 THEN 'png'
                          ELSE 'jpeg' END AS fmt,
                     CAST(CASE
                       WHEN doc_id % 11 = 3 THEN floor(
                         CAST(16 + (doc_id * 37) % 1024 AS BIGINT)
                         * CAST(16 + (doc_id * 59) % 1024 AS BIGINT)
                         * 9.0)
                       WHEN doc_id % 13 = 7 THEN floor(
                         CAST(16 + (doc_id * 37) % 1024 AS BIGINT)
                         * CAST(16 + (doc_id * 59) % 1024 AS BIGINT)
                         * 0.01)
                       ELSE floor(
                         CAST(16 + (doc_id * 37) % 1024 AS BIGINT)
                         * CAST(16 + (doc_id * 59) % 1024 AS BIGINT)
                         / 2.0)
                     END AS BIGINT) AS byte_len,
                     substr(text, 1, 1 + CAST(doc_id % 200 AS INT))
                       AS caption
              FROM documents
            ),
            g AS (
              SELECT *,
                fmt IN ('png', 'jpeg') AS gate_fmt,
                least(w, h) >= 64 AS gate_min_dim,
                greatest(CAST(w AS DOUBLE)/h, CAST(h AS DOUBLE)/w)
                  <= 3.0 AS gate_aspect,
                CAST(byte_len AS DOUBLE)
                  / (CAST(w AS DOUBLE) * CAST(h AS DOUBLE))
                  BETWEEN 0.05 AND 4.0 AS gate_bytes,
                len(string_split_regex(trim(caption), '\\s+'))
                  BETWEEN 2 AND 128 AS gate_caption
              FROM meta
            )
            SELECT image_id, w, h, fmt, byte_len, caption,
                   gate_fmt, gate_min_dim, gate_aspect, gate_bytes,
                   gate_caption,
                   (gate_fmt AND gate_min_dim AND gate_aspect
                    AND gate_bytes AND gate_caption) AS keep,
                   CASE WHEN NOT gate_fmt THEN 'fmt'
                        WHEN NOT gate_min_dim THEN 'min_dim'
                        WHEN NOT gate_aspect THEN 'aspect'
                        WHEN NOT gate_bytes THEN 'bytes'
                        WHEN NOT gate_caption THEN 'caption'
                        ELSE NULL END AS reject_reason
            FROM g ORDER BY image_id
        """,
        "aspect_buckets": """
            -- mirrors operators/multimodal.aspect_bucket_ladder +
            -- aspect_batch_assign; the ladder VALUES below are
            -- DERIVED from the same aspect_bucket_ladder() call the
            -- Spark query compiles into its projection, and the
            -- nearest-bucket ordering uses the identical exact-ratio
            -- distance (int64 products, one IEEE division)
            WITH imgs AS (
              SELECT doc_id AS image_id,
                     CAST(16 + (doc_id*37)%1024 AS INT) AS w,
                     CAST(16 + (doc_id*59)%1024 AS INT) AS h
              FROM documents
            ),
            ladder(idx, bw, bh) AS (VALUES {{LADDER_VALUES}}),
            scored AS (
              SELECT image_id, w, h, idx, bw, bh,
                     row_number() OVER (
                       PARTITION BY image_id
                       ORDER BY CAST(greatest(CAST(w AS BIGINT)*bh, CAST(h AS BIGINT)*bw) AS DOUBLE)
                                / CAST(least(CAST(w AS BIGINT)*bh, CAST(h AS BIGINT)*bw) AS DOUBLE),
                                idx) AS rn
              FROM imgs CROSS JOIN ladder
            ),
            best AS (
              SELECT image_id, w, h, idx AS bucket_idx,
                     bw AS bucket_w, bh AS bucket_h
              FROM scored WHERE rn = 1
            ),
            ranked AS (
              SELECT *, row_number() OVER (
                       PARTITION BY bucket_idx ORDER BY image_id
                     ) - 1 AS rank_in_bucket
              FROM best
            )
            SELECT image_id, w, h,
                   CAST(bucket_idx AS INT) AS bucket_idx,
                   CAST(bucket_w AS INT) AS bucket_w,
                   CAST(bucket_h AS INT) AS bucket_h,
                   CAST(rank_in_bucket AS BIGINT) AS rank_in_bucket,
                   CAST(rank_in_bucket // 8 AS BIGINT) AS batch_idx
            FROM ranked ORDER BY image_id
        """.replace("{{LADDER_VALUES}}", _aspect_ladder_values()),
        "wds_shard_plan": """
            -- mirrors sources/webdataset.wds_shard_plan: sample tar
            -- footprint = (512 hdr + 512-padded content) per member,
            -- two members (payload, caption); shard = start // cap
            -- (samples never split); offset = start - shard's min
            WITH sz AS (
              SELECT doc_id AS image_id,
                     CAST(512 + CAST(ceil(strlen(text)/512.0) AS BIGINT)*512
                        + 512 + CAST(ceil((1 + doc_id % 200)/512.0) AS BIGINT)*512
                          AS BIGINT) AS sample_bytes
              FROM documents
            ),
            st AS (
              SELECT *, sum(sample_bytes) OVER (
                       ORDER BY image_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                     ) - sample_bytes AS strt
              FROM sz
            ),
            sh AS (SELECT *, CAST(strt // 65536 AS BIGINT) AS shard FROM st)
            SELECT image_id, sample_bytes, shard,
                   CAST(strt - min(strt) OVER (PARTITION BY shard) AS BIGINT)
                     AS offset_in_tar
            FROM sh ORDER BY image_id
        """,
        "sitemap_expand": """
            -- mirrors functions/sitemap.expand_sitemaps: the SAME
            -- lenient block+field regexes (shared Java/RE2 subset)
            -- over the SAME synthesized XML
            WITH x AS (
              SELECT 'https://h' || (doc_id % 7) || '.org/sitemap.xml' AS src,
                     '<urlset><url><loc> https://h' || (doc_id % 7) ||
                     '.org/p' || doc_id || ' </loc><lastmod>2024-01-0' ||
                     (1 + doc_id % 9) || '</lastmod><priority>0.' ||
                     (doc_id % 10) ||
                     '</priority></url><url><loc>https://h' ||
                     (doc_id % 7) || '.org/q?a=1&amp;b=' || doc_id ||
                     '</loc></url></urlset>' AS xml
              FROM documents
            ),
            blocks AS (
              SELECT src, unnest(regexp_extract_all(
                       xml, '(?s)<url\\s*>(.*?)</url\\s*>', 1)) AS blk
              FROM x
            )
            SELECT src AS source_sitemap,
                   'url' AS kind,
                   -- loc entity-unescape mirrors _xml_unescape
                   -- (&amp; LAST, same replace order)
                   replace(replace(replace(replace(replace(
                     nullif(regexp_extract(
                       blk, '(?s)<loc\\s*>\\s*([^<]*?)\\s*</loc\\s*>',
                       1), ''),
                     '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
                     '&apos;', ''''), '&amp;', '&') AS loc,
                   nullif(regexp_extract(
                     blk,
                     '(?s)<lastmod\\s*>\\s*([^<]*?)\\s*</lastmod\\s*>', 1),
                     '') AS lastmod,
                   TRY_CAST(nullif(regexp_extract(
                     blk,
                     '(?s)<priority\\s*>\\s*([^<]*?)\\s*</priority\\s*>',
                     1), '') AS DOUBLE) AS priority
            FROM blocks
            WHERE nullif(regexp_extract(
                    blk, '(?s)<loc\\s*>\\s*([^<]*?)\\s*</loc\\s*>', 1),
                    '') IS NOT NULL
            ORDER BY loc
        """,
        "epoch_shuffle": """
            -- mirrors operators/packing.epoch_shuffle: rank of
            -- md5(seed || ':' || id), tie-broken by id; shard =
            -- pos // shard_size. The naive global window IS the
            -- spec; the engine computes it with the two-pass
            -- prefix count instead.
            WITH k AS (
              SELECT doc_id,
                     md5('epoch-1:' || CAST(doc_id AS VARCHAR)) AS ek
              FROM documents
            ),
            r AS (
              SELECT doc_id,
                     CAST(row_number() OVER (ORDER BY ek, doc_id) - 1
                          AS BIGINT) AS epoch_pos
              FROM k
            )
            SELECT doc_id, epoch_pos,
                   CAST(epoch_pos // 64 AS BIGINT) AS shard
            FROM r ORDER BY doc_id
        """,
        "hard_negatives": f"""
            -- mirrors operators/similarity.hard_negatives: per
            -- sampled caption query, top-3 images by @6dp cosine
            -- with the query's own pair excluded before ranking
            WITH img AS (
              SELECT vec_id // 2 AS cid, embedding AS iv
              FROM embeddings WHERE vec_id % 2 = 0
            ),
            cap AS (
              SELECT (vec_id - 1) // 2 AS qid, embedding AS cv
              FROM embeddings
              WHERE vec_id % 2 = 1 AND ((vec_id - 1) // 2) % 5 = 0
            ),
            scored AS (
              SELECT c.qid, i.cid, {_cos6('iv', 'cv')} AS s
              FROM cap c, img i WHERE i.cid <> c.qid
            ),
            ranked AS (
              SELECT qid, cid, s,
                     row_number() OVER (
                       PARTITION BY qid ORDER BY s DESC, cid ASC
                     ) AS rank
              FROM scored
            )
            SELECT qid AS query_id, CAST(rank AS BIGINT) AS rank,
                   cid AS neg_id, s AS cos_sim
            FROM ranked WHERE rank <= 3
            ORDER BY query_id, rank
        """,
        "revalidation_merge": """
            -- mirrors operators/recrawl.apply_revalidation over the
            -- deterministic doc_id%10 scenario carving (see
            -- q_revalidation_merge)
            WITH prior AS (
              SELECT doc_id AS url_id, md5(text) AS payload_hash,
                     'W/"' || md5(text) || '"' AS etag,
                     CAST(NULL AS VARCHAR) AS last_modified,
                     CAST(doc_id * 1000 AS BIGINT) AS fetched_at_ms
              FROM documents
            ),
            fetched AS (
              SELECT doc_id AS url_id,
                     CASE WHEN doc_id % 10 <= 4 THEN 304
                          WHEN doc_id % 10 <= 7 THEN 200
                          WHEN doc_id % 10 = 8 THEN 404
                          ELSE 503 END AS status,
                     CASE WHEN doc_id % 10 BETWEEN 5 AND 7 THEN
                       CASE WHEN doc_id % 10 = 5 THEN md5(text)
                            ELSE md5(reverse(text)) END
                     END AS f_hash,
                     CASE WHEN doc_id % 10 BETWEEN 5 AND 7 THEN
                       'W/"' ||
                       CASE WHEN doc_id % 10 = 5 THEN md5(text)
                            ELSE md5(reverse(text)) END || '"'
                     END AS f_etag,
                     CAST(NULL AS VARCHAR) AS f_lm,
                     CAST(doc_id * 1000 + 500 AS BIGINT) AS f_at
              FROM documents WHERE doc_id % 10 >= 3
            )
            SELECT p.url_id,
                   CASE WHEN f.status IS NULL THEN 'kept'
                        WHEN f.status = 304 THEN 'revalidated'
                        WHEN f.status BETWEEN 200 AND 299
                          THEN 'replaced'
                        ELSE 'error' END AS action,
                   CASE WHEN f.status BETWEEN 200 AND 299 THEN f.f_hash
                        ELSE p.payload_hash END AS payload_hash,
                   CASE WHEN f.status BETWEEN 200 AND 299 THEN f.f_etag
                        WHEN f.status = 304
                          THEN COALESCE(f.f_etag, p.etag)
                        ELSE p.etag END AS etag,
                   CASE WHEN f.status BETWEEN 200 AND 299 THEN f.f_lm
                        WHEN f.status = 304
                          THEN COALESCE(f.f_lm, p.last_modified)
                        ELSE p.last_modified END AS last_modified,
                   CASE WHEN f.status = 304
                          OR f.status BETWEEN 200 AND 299 THEN f.f_at
                        ELSE p.fetched_at_ms END AS fetched_at_ms,
                   f.f_at AS attempt_at_ms,
                   CASE WHEN f.status IS NULL THEN NULL
                        WHEN f.status = 304 THEN 'unchanged'
                        WHEN f.status BETWEEN 200 AND 299 THEN
                          CASE WHEN f.f_hash = p.payload_hash
                               THEN 'unchanged' ELSE 'changed' END
                        ELSE 'error' END AS outcome
            FROM prior p LEFT JOIN fetched f USING (url_id)
        """,
        "zorder_key": f"""
            -- mirrors operators/packing.zorder_key(bits=10) over
            -- (value, user_id): min-max scale each dim to 10 bits,
            -- interleave; identical IEEE term order -> the KEY is
            -- bit-identical, not merely order-equivalent.
            {_zorder_events_cte(10)}
            SELECT event_id, z FROM z
        """,
        "zorder_manifest": f"""
            -- mirrors zorder_layout(bits=10, file_bits=6) +
            -- zorder_manifest: file = top 6 of the 20 z bits,
            -- per-file count and min/max of both clustered dims.
            {_zorder_events_cte(10)}
            SELECT (z >> 14) AS file,
                   count(*) AS cnt,
                   min(value) AS min_value, max(value) AS max_value,
                   min(user_id) AS min_user_id,
                   max(user_id) AS max_user_id
            FROM z GROUP BY 1
        """,
        "recrawl_schedule": """
            -- mirrors operators/recrawl.recrawl_schedule: integer
            -- staleness ratio x error-streak backoff, clamped, plus
            -- exact integer-second timestamp add
            WITH hist AS (
              SELECT user_id AS url_id, ts,
                     CASE event_type WHEN 'purchase' THEN 'changed'
                                     WHEN 'error' THEN 'error'
                                     ELSE 'unchanged' END AS outcome
              FROM events
            ),
            tagged AS (
              SELECT *, max(CASE WHEN outcome != 'error' THEN ts END)
                          OVER (PARTITION BY url_id) AS ok_max
              FROM hist
            ),
            agg AS (
              SELECT url_id,
                     count(*) AS n_fetches,
                     count(CASE WHEN outcome = 'changed' THEN 1 END) AS n_changed,
                     count(CASE WHEN outcome = 'unchanged' THEN 1 END) AS n_unchanged,
                     count(CASE WHEN outcome = 'error' THEN 1 END) AS n_error,
                     count(CASE WHEN ok_max IS NULL OR ts > ok_max THEN 1 END) AS fail_streak,
                     max(ts) AS last_ts
              FROM tagged GROUP BY url_id
            ),
            d AS (
              SELECT *,
                     CAST(least(2592000,
                          greatest(3600,
                            (3600 * (1 + n_unchanged) // (1 + n_changed))
                            * (CAST(1 AS BIGINT) << CAST(least(fail_streak, 16) AS INT))
                          )) AS BIGINT) AS delay_s
              FROM agg
            )
            SELECT url_id, n_fetches, n_changed, n_unchanged, n_error,
                   fail_streak, last_ts, delay_s,
                   last_ts + INTERVAL 1 SECOND * delay_s AS next_fetch_ts
            FROM d ORDER BY url_id
        """,
        "ann_cosine_topk": """
            WITH q AS (SELECT vec_id AS query_id, embedding FROM embeddings WHERE vec_id < 4),
            scored AS (
              SELECT q.query_id, e.vec_id,
                     round(list_sum(list_transform(list_zip(e.embedding, q.embedding), x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))) / (sqrt(list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))) * sqrt(list_sum(list_transform(q.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))), 6) AS cos_sim
              FROM embeddings e CROSS JOIN q
            ),
            ranked AS (
              SELECT query_id, vec_id, cos_sim,
                     row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, vec_id ASC) AS rank
              FROM scored
            )
            SELECT query_id, CAST(rank AS BIGINT) AS rank, vec_id, cos_sim
            FROM ranked WHERE rank <= 5 ORDER BY query_id, rank
        """,
        "ann_lsh_buckets": """
            SELECT (CASE WHEN embedding[1] > 0 THEN 8 ELSE 0 END
                  + CASE WHEN embedding[2] > 0 THEN 4 ELSE 0 END
                  + CASE WHEN embedding[3] > 0 THEN 2 ELSE 0 END
                  + CASE WHEN embedding[4] > 0 THEN 1 ELSE 0 END) AS bucket,
                   count(*) AS n_vecs
            FROM embeddings GROUP BY 1 ORDER BY bucket
        """,
        "ann_ivf_topk": f"""
            -- mirrors operators/similarity.ivf_topk with ONE Lloyd
            -- refinement over the 256 lowest-id sample (ivf_centroids
            -- refine_iters=1): init = 16 lowest-id vectors, assign the
            -- sample (cosine @6dp, ties to lowest cell), new centroid =
            -- per-dimension mean, empty cells keep the init centroid.
            -- range(1,65): embeddings dim is 64 in the driver tables.
            WITH cent0 AS (
              SELECT vec_id AS cell_id, embedding AS cv
              FROM embeddings ORDER BY vec_id ASC LIMIT 16
            ),
            samp AS (
              SELECT vec_id, embedding
              FROM embeddings ORDER BY vec_id ASC LIMIT 256
            ),
            sassign AS (
              SELECT vec_id, embedding, cell_id FROM (
                SELECT s.vec_id, s.embedding, c.cell_id,
                       row_number() OVER (
                         PARTITION BY s.vec_id
                         ORDER BY {_cos6('s.embedding', 'c.cv')} DESC,
                                  c.cell_id ASC) AS rn
                FROM samp s CROSS JOIN cent0 c) t
              WHERE rn = 1
            ),
            cmeans AS (
              SELECT cell_id, i, avg(CAST(embedding[i] AS DOUBLE)) AS mv
              FROM sassign, range(1, 65) t(i)
              GROUP BY cell_id, i
            ),
            cent1 AS (
              SELECT cell_id, list(mv ORDER BY i) AS cv
              FROM cmeans GROUP BY cell_id
            ),
            cent AS (
              SELECT c0.cell_id,
                     COALESCE(c1.cv,
                              list_transform(c0.cv, x -> CAST(x AS DOUBLE))) AS cv
              FROM cent0 c0 LEFT JOIN cent1 c1 USING (cell_id)
            ),
            assign AS (
              SELECT vec_id, embedding, cell_id FROM (
                SELECT v.vec_id, v.embedding, c.cell_id,
                       row_number() OVER (
                         PARTITION BY v.vec_id
                         ORDER BY {_cos6('v.embedding', 'c.cv')} DESC,
                                  c.cell_id ASC) AS rn
                FROM embeddings v CROSS JOIN cent c) t
              WHERE rn = 1
            ),
            q AS (
              SELECT vec_id AS query_id, embedding AS qv
              FROM embeddings WHERE vec_id < 4
            ),
            probe AS (
              SELECT query_id, qv, cell_id FROM (
                SELECT q.query_id, q.qv, c.cell_id,
                       row_number() OVER (
                         PARTITION BY q.query_id
                         ORDER BY {_cos6('q.qv', 'c.cv')} DESC,
                                  c.cell_id ASC) AS rn
                FROM q CROSS JOIN cent c) t
              WHERE rn <= 4
            ),
            scored AS (
              SELECT p.query_id, a.vec_id,
                     {_cos6('a.embedding', 'p.qv')} AS cos_sim
              FROM assign a JOIN probe p USING (cell_id)
            ),
            ranked AS (
              SELECT query_id, vec_id, cos_sim,
                     row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, vec_id ASC) AS rank
              FROM scored
            )
            SELECT query_id, CAST(rank AS BIGINT) AS rank, vec_id, cos_sim
            FROM ranked WHERE rank <= 5 ORDER BY query_id, rank
        """,
        "semdedup": f"""
            -- mirrors operators/similarity.semdedup: the cent0..assign
            -- quantizer chain is IDENTICAL to ann_ivf_topk's oracle
            -- (16 lowest-id init, one Lloyd iteration over the 256
            -- lowest-id sample, cosine @6dp, ties to lowest cell);
            -- then inside each cell a row is dropped iff a LOWER-id
            -- row sits at cosine @6dp >= 0.3, dup_of = the lowest
            -- such id.
            WITH cent0 AS (
              SELECT vec_id AS cell_id, embedding AS cv
              FROM embeddings ORDER BY vec_id ASC LIMIT 16
            ),
            samp AS (
              SELECT vec_id, embedding
              FROM embeddings ORDER BY vec_id ASC LIMIT 256
            ),
            sassign AS (
              SELECT vec_id, embedding, cell_id FROM (
                SELECT s.vec_id, s.embedding, c.cell_id,
                       row_number() OVER (
                         PARTITION BY s.vec_id
                         ORDER BY {_cos6('s.embedding', 'c.cv')} DESC,
                                  c.cell_id ASC) AS rn
                FROM samp s CROSS JOIN cent0 c) t
              WHERE rn = 1
            ),
            cmeans AS (
              SELECT cell_id, i, avg(CAST(embedding[i] AS DOUBLE)) AS mv
              FROM sassign, range(1, 65) t(i)
              GROUP BY cell_id, i
            ),
            cent1 AS (
              SELECT cell_id, list(mv ORDER BY i) AS cv
              FROM cmeans GROUP BY cell_id
            ),
            cent AS (
              SELECT c0.cell_id,
                     COALESCE(c1.cv,
                              list_transform(c0.cv, x -> CAST(x AS DOUBLE))) AS cv
              FROM cent0 c0 LEFT JOIN cent1 c1 USING (cell_id)
            ),
            assign AS (
              SELECT vec_id, embedding, cell_id FROM (
                SELECT v.vec_id, v.embedding, c.cell_id,
                       row_number() OVER (
                         PARTITION BY v.vec_id
                         ORDER BY {_cos6('v.embedding', 'c.cv')} DESC,
                                  c.cell_id ASC) AS rn
                FROM embeddings v CROSS JOIN cent c) t
              WHERE rn = 1
            ),
            dups AS (
              SELECT a.vec_id, min(b.vec_id) AS dup_of
              FROM assign a JOIN assign b
                ON a.cell_id = b.cell_id AND b.vec_id < a.vec_id
              WHERE {_cos6('a.embedding', 'b.embedding')} >= 0.3
              GROUP BY a.vec_id
            )
            SELECT s.vec_id, s.cell_id, d.dup_of,
                   d.dup_of IS NULL AS kept
            FROM assign s LEFT JOIN dups d USING (vec_id)
            ORDER BY s.vec_id
        """,
        "ann_pq_topk": f"""
            -- mirrors operators/similarity.pq_topk: m=4 subspaces of
            -- 16 dims (embeddings dim is 64), n_codes=16 per subspace,
            -- ONE Lloyd refinement per subspace over the 256 lowest-id
            -- sample slices (squared-L2 @6dp, ties to lowest code,
            -- mean update, empty codes keep init), corpus encoded by
            -- the same argmin, score = cosine(query, reconstructed
            -- codeword concatenation) @6dp.
            WITH subs AS (SELECT CAST(i AS INT) AS sub_id FROM range(0, 4) t(i)),
            base AS (
              SELECT vec_id, embedding FROM embeddings
              ORDER BY vec_id ASC LIMIT 16
            ),
            cb0 AS (
              SELECT s.sub_id, b.vec_id AS code_id,
                     list_transform(
                       b.embedding[s.sub_id*16 + 1 : s.sub_id*16 + 16],
                       x -> CAST(x AS DOUBLE)) AS cw
              FROM base b CROSS JOIN subs s
            ),
            samp AS (
              SELECT vec_id, embedding FROM embeddings
              ORDER BY vec_id ASC LIMIT 256
            ),
            sslice AS (
              SELECT s.vec_id, b.sub_id,
                     list_transform(
                       s.embedding[b.sub_id*16 + 1 : b.sub_id*16 + 16],
                       x -> CAST(x AS DOUBLE)) AS sv
              FROM samp s CROSS JOIN subs b
            ),
            sassign AS (
              SELECT sub_id, vec_id, sv, code_id FROM (
                SELECT t.sub_id, t.vec_id, t.sv, c.code_id,
                       row_number() OVER (
                         PARTITION BY t.sub_id, t.vec_id
                         ORDER BY {_l2sq6('t.sv', 'c.cw')} ASC,
                                  c.code_id ASC) AS rn
                FROM sslice t JOIN cb0 c USING (sub_id)) z
              WHERE rn = 1
            ),
            cmeans AS (
              SELECT sub_id, code_id, i, avg(sv[i]) AS mv
              FROM sassign, range(1, 17) t(i)
              GROUP BY sub_id, code_id, i
            ),
            cb1 AS (
              SELECT sub_id, code_id, list(mv ORDER BY i) AS cw
              FROM cmeans GROUP BY sub_id, code_id
            ),
            cb AS (
              SELECT c0.sub_id, c0.code_id, COALESCE(c1.cw, c0.cw) AS cw
              FROM cb0 c0 LEFT JOIN cb1 c1 USING (sub_id, code_id)
            ),
            vslice AS (
              SELECT v.vec_id, b.sub_id,
                     list_transform(
                       v.embedding[b.sub_id*16 + 1 : b.sub_id*16 + 16],
                       x -> CAST(x AS DOUBLE)) AS sv
              FROM embeddings v CROSS JOIN subs b
            ),
            assign AS (
              SELECT vec_id, sub_id, cw FROM (
                SELECT t.vec_id, t.sub_id, c.cw,
                       row_number() OVER (
                         PARTITION BY t.vec_id, t.sub_id
                         ORDER BY {_l2sq6('t.sv', 'c.cw')} ASC,
                                  c.code_id ASC) AS rn
                FROM vslice t JOIN cb c USING (sub_id)) z
              WHERE rn = 1
            ),
            recon AS (
              SELECT vec_id, flatten(list(cw ORDER BY sub_id)) AS rv
              FROM assign GROUP BY vec_id
            ),
            q AS (
              SELECT vec_id AS query_id, embedding AS qv
              FROM embeddings WHERE vec_id < 4
            ),
            scored AS (
              SELECT q.query_id, r.vec_id,
                     round(list_sum(list_transform(list_zip(r.rv, q.qv),
                             x -> x[1] * CAST(x[2] AS DOUBLE)))
                       / (sqrt(list_sum(list_transform(r.rv, x -> x*x)))
                        * sqrt(list_sum(list_transform(q.qv,
                            x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))),
                       6) AS adc_sim
              FROM recon r CROSS JOIN q
            ),
            ranked AS (
              SELECT query_id, vec_id, adc_sim,
                     row_number() OVER (PARTITION BY query_id
                       ORDER BY adc_sim DESC, vec_id ASC) AS rank
              FROM scored
            )
            SELECT query_id, CAST(rank AS BIGINT) AS rank, vec_id, adc_sim
            FROM ranked WHERE rank <= 5 ORDER BY query_id, rank
        """,
        "ann_ivfpq_topk": f"""
            -- mirrors operators/similarity.ivfpq_topk: the ann_ivf_topk
            -- coarse quantizer (16 cells, one Lloyd pass over the 256
            -- lowest-id sample, raw-vector assignment) prunes each
            -- query to nprobe=4 cells; candidates are scored against
            -- the ann_pq_topk reconstruction (m=4 x 16 codes, one
            -- Lloyd pass). PQ CTEs carry a p-prefix.
            WITH base AS (
              SELECT vec_id, embedding FROM embeddings
              ORDER BY vec_id ASC LIMIT 16
            ),
            samp AS (
              SELECT vec_id, embedding FROM embeddings
              ORDER BY vec_id ASC LIMIT 256
            ),
            -- IVF coarse quantizer --
            cent0 AS (
              SELECT vec_id AS cell_id, embedding AS cv FROM base
            ),
            sassign AS (
              SELECT vec_id, embedding, cell_id FROM (
                SELECT s.vec_id, s.embedding, c.cell_id,
                       row_number() OVER (
                         PARTITION BY s.vec_id
                         ORDER BY {_cos6('s.embedding', 'c.cv')} DESC,
                                  c.cell_id ASC) AS rn
                FROM samp s CROSS JOIN cent0 c) t
              WHERE rn = 1
            ),
            cmeans AS (
              SELECT cell_id, i, avg(CAST(embedding[i] AS DOUBLE)) AS mv
              FROM sassign, range(1, 65) t(i)
              GROUP BY cell_id, i
            ),
            cent1 AS (
              SELECT cell_id, list(mv ORDER BY i) AS cv
              FROM cmeans GROUP BY cell_id
            ),
            cent AS (
              SELECT c0.cell_id,
                     COALESCE(c1.cv,
                              list_transform(c0.cv, x -> CAST(x AS DOUBLE))) AS cv
              FROM cent0 c0 LEFT JOIN cent1 c1 USING (cell_id)
            ),
            assign AS (
              SELECT vec_id, cell_id FROM (
                SELECT v.vec_id, c.cell_id,
                       row_number() OVER (
                         PARTITION BY v.vec_id
                         ORDER BY {_cos6('v.embedding', 'c.cv')} DESC,
                                  c.cell_id ASC) AS rn
                FROM embeddings v CROSS JOIN cent c) t
              WHERE rn = 1
            ),
            -- PQ codebooks + reconstruction --
            subs AS (SELECT CAST(i AS INT) AS sub_id FROM range(0, 4) t(i)),
            pcb0 AS (
              SELECT s.sub_id, b.vec_id AS code_id,
                     list_transform(
                       b.embedding[s.sub_id*16 + 1 : s.sub_id*16 + 16],
                       x -> CAST(x AS DOUBLE)) AS cw
              FROM base b CROSS JOIN subs s
            ),
            psslice AS (
              SELECT s.vec_id, b.sub_id,
                     list_transform(
                       s.embedding[b.sub_id*16 + 1 : b.sub_id*16 + 16],
                       x -> CAST(x AS DOUBLE)) AS sv
              FROM samp s CROSS JOIN subs b
            ),
            psassign AS (
              SELECT sub_id, vec_id, sv, code_id FROM (
                SELECT t.sub_id, t.vec_id, t.sv, c.code_id,
                       row_number() OVER (
                         PARTITION BY t.sub_id, t.vec_id
                         ORDER BY {_l2sq6('t.sv', 'c.cw')} ASC,
                                  c.code_id ASC) AS rn
                FROM psslice t JOIN pcb0 c USING (sub_id)) z
              WHERE rn = 1
            ),
            pcmeans AS (
              SELECT sub_id, code_id, i, avg(sv[i]) AS mv
              FROM psassign, range(1, 17) t(i)
              GROUP BY sub_id, code_id, i
            ),
            pcb1 AS (
              SELECT sub_id, code_id, list(mv ORDER BY i) AS cw
              FROM pcmeans GROUP BY sub_id, code_id
            ),
            pcb AS (
              SELECT c0.sub_id, c0.code_id, COALESCE(c1.cw, c0.cw) AS cw
              FROM pcb0 c0 LEFT JOIN pcb1 c1 USING (sub_id, code_id)
            ),
            pvslice AS (
              SELECT v.vec_id, b.sub_id,
                     list_transform(
                       v.embedding[b.sub_id*16 + 1 : b.sub_id*16 + 16],
                       x -> CAST(x AS DOUBLE)) AS sv
              FROM embeddings v CROSS JOIN subs b
            ),
            passign AS (
              SELECT vec_id, sub_id, cw FROM (
                SELECT t.vec_id, t.sub_id, c.cw,
                       row_number() OVER (
                         PARTITION BY t.vec_id, t.sub_id
                         ORDER BY {_l2sq6('t.sv', 'c.cw')} ASC,
                                  c.code_id ASC) AS rn
                FROM pvslice t JOIN pcb c USING (sub_id)) z
              WHERE rn = 1
            ),
            recon AS (
              SELECT vec_id, flatten(list(cw ORDER BY sub_id)) AS rv
              FROM passign GROUP BY vec_id
            ),
            -- probe + ADC scoring --
            q AS (
              SELECT vec_id AS query_id, embedding AS qv
              FROM embeddings WHERE vec_id < 4
            ),
            probe AS (
              SELECT query_id, qv, cell_id FROM (
                SELECT q.query_id, q.qv, c.cell_id,
                       row_number() OVER (
                         PARTITION BY q.query_id
                         ORDER BY {_cos6('q.qv', 'c.cv')} DESC,
                                  c.cell_id ASC) AS rn
                FROM q CROSS JOIN cent c) t
              WHERE rn <= 4
            ),
            scored AS (
              SELECT p.query_id, a.vec_id,
                     round(list_sum(list_transform(list_zip(r.rv, p.qv),
                             x -> x[1] * CAST(x[2] AS DOUBLE)))
                       / (sqrt(list_sum(list_transform(r.rv, x -> x*x)))
                        * sqrt(list_sum(list_transform(p.qv,
                            x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))),
                       6) AS adc_sim
              FROM assign a
              JOIN probe p USING (cell_id)
              JOIN recon r ON r.vec_id = a.vec_id
            ),
            ranked AS (
              SELECT query_id, vec_id, adc_sim,
                     row_number() OVER (PARTITION BY query_id
                       ORDER BY adc_sim DESC, vec_id ASC) AS rank
              FROM scored
            )
            SELECT query_id, CAST(rank AS BIGINT) AS rank, vec_id, adc_sim
            FROM ranked WHERE rank <= 5 ORDER BY query_id, rank
        """,
        "ann_sq_topk": """
            -- mirrors operators/similarity.sq_topk: per-dimension
            -- (min, max) over the corpus, code = round((x - mn) * 255
            -- / span) clamped (constant dims -> 0), score = cosine of
            -- the exact query vs mn + code * span / 255, @6dp.
            WITH dims AS (
              SELECT CAST(i AS INT) AS i FROM range(1, 65) t(i)
            ),
            stats AS (
              SELECT d.i,
                     min(CAST(v.embedding[d.i] AS DOUBLE)) AS mn,
                     max(CAST(v.embedding[d.i] AS DOUBLE)) AS mx
              FROM embeddings v CROSS JOIN dims d
              GROUP BY d.i
            ),
            deq AS (
              SELECT v.vec_id,
                     list(CASE WHEN s.mx = s.mn THEN s.mn
                          ELSE s.mn +
                            least(255, greatest(0,
                              CAST(round((CAST(v.embedding[s.i] AS DOUBLE)
                                - s.mn) * 255.0 / (s.mx - s.mn)) AS BIGINT)))
                            * (s.mx - s.mn) / 255.0
                          END ORDER BY s.i) AS dv
              FROM embeddings v CROSS JOIN stats s
              GROUP BY v.vec_id
            ),
            q AS (
              SELECT vec_id AS query_id, embedding AS qv
              FROM embeddings WHERE vec_id < 4
            ),
            scored AS (
              SELECT q.query_id, d.vec_id,
                     round(list_sum(list_transform(list_zip(d.dv, q.qv),
                             x -> x[1] * CAST(x[2] AS DOUBLE)))
                       / (sqrt(list_sum(list_transform(d.dv, x -> x*x)))
                        * sqrt(list_sum(list_transform(q.qv,
                            x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))),
                       6) AS sq_sim
              FROM deq d CROSS JOIN q
            ),
            ranked AS (
              SELECT query_id, vec_id, sq_sim,
                     row_number() OVER (PARTITION BY query_id
                       ORDER BY sq_sim DESC, vec_id ASC) AS rank
              FROM scored
            )
            SELECT query_id, CAST(rank AS BIGINT) AS rank, vec_id, sq_sim
            FROM ranked WHERE rank <= 5 ORDER BY query_id, rank
        """,
        "ann_binary_topk": """
            -- mirrors operators/similarity.binary_topk: per-dim
            -- midrange (mn+mx)/2 threshold, Hamming = #dims whose
            -- sign bit disagrees (the Spark side packs 63 bits/long
            -- and bit_count(xor)s — equal counts prove the packing),
            -- rank asc with id tie-break.
            WITH dims AS (
              SELECT CAST(i AS INT) AS i FROM range(1, 65) t(i)
            ),
            stats AS (
              SELECT d.i,
                     (min(CAST(v.embedding[d.i] AS DOUBLE))
                      + max(CAST(v.embedding[d.i] AS DOUBLE))) / 2.0
                       AS mid
              FROM embeddings v CROSS JOIN dims d
              GROUP BY d.i
            ),
            q AS (
              SELECT vec_id AS query_id, embedding AS qv
              FROM embeddings WHERE vec_id < 4
            ),
            scored AS (
              SELECT q.query_id, v.vec_id,
                     sum(CASE WHEN
                           (CAST(v.embedding[s.i] AS DOUBLE) > s.mid)
                           != (CAST(q.qv[s.i] AS DOUBLE) > s.mid)
                         THEN 1 ELSE 0 END) AS hamming
              FROM embeddings v CROSS JOIN q CROSS JOIN stats s
              GROUP BY q.query_id, v.vec_id
            ),
            ranked AS (
              SELECT query_id, vec_id, hamming,
                     row_number() OVER (PARTITION BY query_id
                       ORDER BY hamming ASC, vec_id ASC) AS rank
              FROM scored
            )
            SELECT query_id, CAST(rank AS BIGINT) AS rank, vec_id,
                   CAST(hamming AS BIGINT) AS hamming
            FROM ranked WHERE rank <= 5 ORDER BY query_id, rank
        """,
        "ann_mrl_topk": """
            -- mirrors operators/similarity.mrl_rerank_topk: coarse
            -- cosine over dims 1..16 (@6dp, id tie-break) -> top-32
            -- candidates -> exact full-dim cosine rerank (@6dp).
            WITH q AS (
              SELECT vec_id AS query_id, embedding AS qv
              FROM embeddings WHERE vec_id < 4
            ),
            coarse AS (
              SELECT q.query_id, v.vec_id,
                     round(list_sum(list_transform(
                             list_zip(v.embedding[1:16], q.qv[1:16]),
                             x -> CAST(x[1] AS DOUBLE)
                               * CAST(x[2] AS DOUBLE)))
                       / (sqrt(list_sum(list_transform(
                             v.embedding[1:16],
                             x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))
                        * sqrt(list_sum(list_transform(
                             q.qv[1:16],
                             x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))),
                       6) AS c
              FROM embeddings v CROSS JOIN q
            ),
            cand AS (
              SELECT query_id, vec_id FROM (
                SELECT query_id, vec_id,
                       row_number() OVER (PARTITION BY query_id
                         ORDER BY c DESC, vec_id ASC) AS cr
                FROM coarse
              ) WHERE cr <= 32
            ),
            rescored AS (
              SELECT c.query_id, c.vec_id,
                     round(list_sum(list_transform(
                             list_zip(v.embedding, q.qv),
                             x -> CAST(x[1] AS DOUBLE)
                               * CAST(x[2] AS DOUBLE)))
                       / (sqrt(list_sum(list_transform(v.embedding,
                             x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))
                        * sqrt(list_sum(list_transform(q.qv,
                             x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))),
                       6) AS cos_sim
              FROM cand c
              JOIN embeddings v ON v.vec_id = c.vec_id
              JOIN q ON q.query_id = c.query_id
            ),
            ranked AS (
              SELECT query_id, vec_id, cos_sim,
                     row_number() OVER (PARTITION BY query_id
                       ORDER BY cos_sim DESC, vec_id ASC) AS rank
              FROM rescored
            )
            SELECT query_id, CAST(rank AS BIGINT) AS rank, vec_id, cos_sim
            FROM ranked WHERE rank <= 5 ORDER BY query_id, rank
        """,
        "ann_ivfpq_residual_topk": f"""
            -- mirrors operators/similarity.ivfpq_topk(residual=True)
            -- (IVFADC): the ann_ivfpq_topk coarse quantizer prunes to
            -- nprobe=4 cells, but the PQ codebooks (m=4 x 16 codes,
            -- one Lloyd pass) are trained on RESIDUALS
            -- r = x - centroid(x) and candidates are scored against
            -- centroid + recon(residual).
            WITH base AS (
              SELECT vec_id, embedding FROM embeddings
              ORDER BY vec_id ASC LIMIT 16
            ),
            samp AS (
              SELECT vec_id, embedding FROM embeddings
              ORDER BY vec_id ASC LIMIT 256
            ),
            -- IVF coarse quantizer (identical to ann_ivfpq_topk) --
            cent0 AS (
              SELECT vec_id AS cell_id, embedding AS cv FROM base
            ),
            sassign AS (
              SELECT vec_id, embedding, cell_id FROM (
                SELECT s.vec_id, s.embedding, c.cell_id,
                       row_number() OVER (
                         PARTITION BY s.vec_id
                         ORDER BY {_cos6('s.embedding', 'c.cv')} DESC,
                                  c.cell_id ASC) AS rn
                FROM samp s CROSS JOIN cent0 c) t
              WHERE rn = 1
            ),
            cmeans AS (
              SELECT cell_id, i, avg(CAST(embedding[i] AS DOUBLE)) AS mv
              FROM sassign, range(1, 65) t(i)
              GROUP BY cell_id, i
            ),
            cent1 AS (
              SELECT cell_id, list(mv ORDER BY i) AS cv
              FROM cmeans GROUP BY cell_id
            ),
            cent AS (
              SELECT c0.cell_id,
                     COALESCE(c1.cv,
                              list_transform(c0.cv, x -> CAST(x AS DOUBLE))) AS cv
              FROM cent0 c0 LEFT JOIN cent1 c1 USING (cell_id)
            ),
            assign AS (
              SELECT vec_id, cell_id FROM (
                SELECT v.vec_id, c.cell_id,
                       row_number() OVER (
                         PARTITION BY v.vec_id
                         ORDER BY {_cos6('v.embedding', 'c.cv')} DESC,
                                  c.cell_id ASC) AS rn
                FROM embeddings v CROSS JOIN cent c) t
              WHERE rn = 1
            ),
            -- residuals: r = x - centroid(x), already DOUBLE --
            resid AS (
              SELECT v.vec_id, a.cell_id,
                     list_transform(list_zip(v.embedding, c.cv),
                       x -> CAST(x[1] AS DOUBLE) - x[2]) AS rv
              FROM embeddings v
              JOIN assign a USING (vec_id)
              JOIN cent c USING (cell_id)
            ),
            -- PQ codebooks trained on residual slices --
            subs AS (SELECT CAST(i AS INT) AS sub_id FROM range(0, 4) t(i)),
            rbase AS (
              SELECT vec_id, rv FROM resid ORDER BY vec_id ASC LIMIT 16
            ),
            rsamp AS (
              SELECT vec_id, rv FROM resid ORDER BY vec_id ASC LIMIT 256
            ),
            pcb0 AS (
              SELECT s.sub_id, b.vec_id AS code_id,
                     b.rv[s.sub_id*16 + 1 : s.sub_id*16 + 16] AS cw
              FROM rbase b CROSS JOIN subs s
            ),
            psslice AS (
              SELECT s.vec_id, b.sub_id,
                     s.rv[b.sub_id*16 + 1 : b.sub_id*16 + 16] AS sv
              FROM rsamp s CROSS JOIN subs b
            ),
            psassign AS (
              SELECT sub_id, vec_id, sv, code_id FROM (
                SELECT t.sub_id, t.vec_id, t.sv, c.code_id,
                       row_number() OVER (
                         PARTITION BY t.sub_id, t.vec_id
                         ORDER BY {_l2sq6('t.sv', 'c.cw')} ASC,
                                  c.code_id ASC) AS rn
                FROM psslice t JOIN pcb0 c USING (sub_id)) z
              WHERE rn = 1
            ),
            pcmeans AS (
              SELECT sub_id, code_id, i, avg(sv[i]) AS mv
              FROM psassign, range(1, 17) t(i)
              GROUP BY sub_id, code_id, i
            ),
            pcb1 AS (
              SELECT sub_id, code_id, list(mv ORDER BY i) AS cw
              FROM pcmeans GROUP BY sub_id, code_id
            ),
            pcb AS (
              SELECT c0.sub_id, c0.code_id, COALESCE(c1.cw, c0.cw) AS cw
              FROM pcb0 c0 LEFT JOIN pcb1 c1 USING (sub_id, code_id)
            ),
            pvslice AS (
              SELECT r.vec_id, b.sub_id,
                     r.rv[b.sub_id*16 + 1 : b.sub_id*16 + 16] AS sv
              FROM resid r CROSS JOIN subs b
            ),
            passign AS (
              SELECT vec_id, sub_id, cw FROM (
                SELECT t.vec_id, t.sub_id, c.cw,
                       row_number() OVER (
                         PARTITION BY t.vec_id, t.sub_id
                         ORDER BY {_l2sq6('t.sv', 'c.cw')} ASC,
                                  c.code_id ASC) AS rn
                FROM pvslice t JOIN pcb c USING (sub_id)) z
              WHERE rn = 1
            ),
            precon AS (
              SELECT vec_id, flatten(list(cw ORDER BY sub_id)) AS rv
              FROM passign GROUP BY vec_id
            ),
            -- full reconstruction: centroid + recon(residual) --
            recon AS (
              SELECT a.vec_id, a.cell_id,
                     list_transform(list_zip(c.cv, pr.rv),
                       x -> x[1] + x[2]) AS rv
              FROM assign a
              JOIN cent c USING (cell_id)
              JOIN precon pr ON pr.vec_id = a.vec_id
            ),
            -- probe + ADC scoring --
            q AS (
              SELECT vec_id AS query_id, embedding AS qv
              FROM embeddings WHERE vec_id < 4
            ),
            probe AS (
              SELECT query_id, qv, cell_id FROM (
                SELECT q.query_id, q.qv, c.cell_id,
                       row_number() OVER (
                         PARTITION BY q.query_id
                         ORDER BY {_cos6('q.qv', 'c.cv')} DESC,
                                  c.cell_id ASC) AS rn
                FROM q CROSS JOIN cent c) t
              WHERE rn <= 4
            ),
            scored AS (
              SELECT p.query_id, r.vec_id,
                     round(list_sum(list_transform(list_zip(r.rv, p.qv),
                             x -> x[1] * CAST(x[2] AS DOUBLE)))
                       / (sqrt(list_sum(list_transform(r.rv, x -> x*x)))
                        * sqrt(list_sum(list_transform(p.qv,
                            x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))),
                       6) AS adc_sim
              FROM recon r
              JOIN probe p USING (cell_id)
            ),
            ranked AS (
              SELECT query_id, vec_id, adc_sim,
                     row_number() OVER (PARTITION BY query_id
                       ORDER BY adc_sim DESC, vec_id ASC) AS rank
              FROM scored
            )
            SELECT query_id, CAST(rank AS BIGINT) AS rank, vec_id, adc_sim
            FROM ranked WHERE rank <= 5 ORDER BY query_id, rank
        """,
        "dedup_embedding": """
            -- plane count DERIVED from the corpus, mirroring
            -- choose_signlsh_planes(n, dim): bits =
            -- clamp(max(4, ceil(log2(n/32))), 1, min(dim, 24)) — so the
            -- oracle checks the auto-sized path at EVERY sf, not just
            -- the sf0.01 degenerate [0,1,2,3] (VERDICT r4 item 5)
            WITH p AS (
              SELECT greatest(1, least(least(
                       CASE WHEN count(*) > 32
                            THEN greatest(4, CAST(ceil(log2(count(*) / 32.0)) AS INT))
                            ELSE 4 END,
                       min(len(embedding))), 24)) AS bits
              FROM embeddings
            ),
            v AS (
              SELECT vec_id, embedding,
                     list_sum(list_transform(range(1, p.bits + 1),
                       i -> CASE WHEN embedding[CAST(i AS INT)] > 0
                                 THEN CAST(power(2, p.bits - i) AS BIGINT)
                                 ELSE 0 END)) AS bucket
              FROM embeddings CROSS JOIN p
            ),
            pairs AS (
              SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                     round(list_sum(list_transform(list_zip(a.embedding, b.embedding), x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))) / (sqrt(list_sum(list_transform(a.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))) * sqrt(list_sum(list_transform(b.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))), 6) AS cos_sim
              FROM v a JOIN v b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
            )
            SELECT id_a, id_b, cos_sim FROM pairs
            WHERE cos_sim >= 0.3 ORDER BY id_a, id_b
        """,
        "embedding_stats": """
            WITH n AS (
              SELECT label,
                     round(sqrt(list_sum(list_transform(embedding,
                           x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 4) AS norm
              FROM embeddings
            )
            SELECT label, count(*) AS n, round(min(norm), 4) AS min_norm,
                   round(max(norm), 4) AS max_norm
            FROM n GROUP BY label ORDER BY label
        """,
        "image_text_alignment": f"""
            -- mirrors operators/similarity.alignment_gate over the
            -- deterministic even/odd pair carving of embeddings:
            -- even vec_id = image embedding, next odd = caption
            WITH img AS (
              SELECT vec_id // 2 AS pair_id, embedding AS iv
              FROM embeddings WHERE vec_id % 2 = 0
            ),
            cap AS (
              SELECT (vec_id - 1) // 2 AS pair_id, embedding AS cv
              FROM embeddings WHERE vec_id % 2 = 1
            ),
            s AS (
              SELECT pair_id, {_cos6('iv', 'cv')} AS align_score
              FROM img JOIN cap USING (pair_id)
            )
            SELECT pair_id, align_score, align_score >= 0.05 AS keep
            FROM s ORDER BY pair_id
        """,
        "retrieval_recall": f"""
            -- mirrors operators/similarity.retrieval_recall_at_k:
            -- rank(true match) = 1 + #corpus rows beating it
            -- (@6dp cosine desc, corpus-id-asc tie-break);
            -- recall@k = fraction of queries with rank <= k.
            WITH img AS (
              SELECT vec_id // 2 AS cid, embedding AS iv
              FROM embeddings WHERE vec_id % 2 = 0
            ),
            cap AS (
              SELECT (vec_id - 1) // 2 AS qid, embedding AS cv
              FROM embeddings
              WHERE vec_id % 2 = 1 AND ((vec_id - 1) // 2) % 5 = 0
            ),
            scored AS (
              SELECT c.qid, i.cid, {_cos6('iv', 'cv')} AS s
              FROM cap c, img i
            ),
            truth AS (
              SELECT qid, s AS ts FROM scored WHERE cid = qid
            ),
            ranks AS (
              SELECT sc.qid,
                     1 + SUM(CASE WHEN sc.s > t.ts
                                  OR (sc.s = t.ts AND sc.cid < sc.qid)
                             THEN 1 ELSE 0 END) AS r
              FROM scored sc JOIN truth t USING (qid)
              GROUP BY sc.qid
            )
            SELECT k,
                   count(*) AS n_queries,
                   CAST(SUM(CASE WHEN r <= k THEN 1 ELSE 0 END)
                        AS BIGINT) AS hits,
                   round(CAST(SUM(CASE WHEN r <= k THEN 1 ELSE 0 END)
                              AS DOUBLE) / count(*), 6) AS recall
            FROM ranks, (VALUES (CAST(1 AS BIGINT)), (5), (10)) ks(k)
            GROUP BY k ORDER BY k
        """,
        "q1_pricing_summary": """
            SELECT l_returnflag, l_linestatus,
                   CAST(round(sum(CAST(l_quantity AS DECIMAL(18,2))), 2) AS DOUBLE) AS sum_qty,
                   CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2))), 2) AS DOUBLE) AS sum_base_price,
                   CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                         * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))), 2) AS DOUBLE) AS sum_disc_price,
                   count(*) AS count_order
            FROM lineitem
            WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
            GROUP BY l_returnflag, l_linestatus
            ORDER BY l_returnflag, l_linestatus
        """,
        "q3_top_orders": """
            SELECT l_orderkey,
                   CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                         * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))), 2) AS DOUBLE) AS revenue
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            WHERE c_mktsegment = 'BUILDING'
            GROUP BY l_orderkey
            ORDER BY revenue DESC, l_orderkey
            LIMIT 10
        """,
        "dup_log": """
            SELECT user_id, event_type, count(*) AS times
            FROM events GROUP BY user_id, event_type
            HAVING count(*) > 1 ORDER BY user_id, event_type
        """,
        "host_pagerank": """
            -- mirrors operators/graph.pagerank iters=3 d=0.85
            -- iter_round=9: rank_0 = 1/N, rank_{i+1}(v) = (1-d)/N
            -- + d * sum(rank_i(u)/out_deg(u)), each iterate rounded
            -- @9dp, final @6dp; dangling mass leaks (documented).
            WITH edges AS (
              SELECT l_suppkey % 37 AS src, l_partkey % 37 AS dst
              FROM lineitem
            ),
            nodes AS (
              SELECT DISTINCT node FROM (
                SELECT src AS node FROM edges
                UNION ALL SELECT dst FROM edges
              )
            ),
            nn AS (SELECT count(*) AS n FROM nodes),
            outd AS (
              SELECT src AS node, count(*) AS deg FROM edges GROUP BY src
            ),
            r0 AS (
              SELECT node, round(CAST(1.0 AS DOUBLE) / nn.n, 9) AS pr
              FROM nodes CROSS JOIN nn
            ),
            c1 AS (
              SELECT e.dst AS node, sum(r.pr / o.deg) AS s
              FROM edges e
              JOIN r0 r ON e.src = r.node
              JOIN outd o ON r.node = o.node
              GROUP BY e.dst
            ),
            r1 AS (
              SELECT nodes.node,
                     round((CAST(1.0 AS DOUBLE) - 0.85) / nn.n
                       + CAST(0.85 AS DOUBLE)
                         * coalesce(c1.s, CAST(0 AS DOUBLE)), 9) AS pr
              FROM nodes CROSS JOIN nn LEFT JOIN c1 USING (node)
            ),
            c2 AS (
              SELECT e.dst AS node, sum(r.pr / o.deg) AS s
              FROM edges e
              JOIN r1 r ON e.src = r.node
              JOIN outd o ON r.node = o.node
              GROUP BY e.dst
            ),
            r2 AS (
              SELECT nodes.node,
                     round((CAST(1.0 AS DOUBLE) - 0.85) / nn.n
                       + CAST(0.85 AS DOUBLE)
                         * coalesce(c2.s, CAST(0 AS DOUBLE)), 9) AS pr
              FROM nodes CROSS JOIN nn LEFT JOIN c2 USING (node)
            ),
            c3 AS (
              SELECT e.dst AS node, sum(r.pr / o.deg) AS s
              FROM edges e
              JOIN r2 r ON e.src = r.node
              JOIN outd o ON r.node = o.node
              GROUP BY e.dst
            ),
            r3 AS (
              SELECT nodes.node,
                     round((CAST(1.0 AS DOUBLE) - 0.85) / nn.n
                       + CAST(0.85 AS DOUBLE)
                         * coalesce(c3.s, CAST(0 AS DOUBLE)), 9) AS pr
              FROM nodes CROSS JOIN nn LEFT JOIN c3 USING (node)
            )
            SELECT node, round(pr, 6) AS pr FROM r3 ORDER BY node
        """,
        "sessionize": """
            WITH g AS (
              SELECT user_id, event_id, ts, value,
                CASE WHEN lag(ts) OVER w IS NULL
                       OR epoch(ts) - epoch(lag(ts) OVER w) > 1800
                     THEN 1 ELSE 0 END AS new_session
              FROM events
              WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
            ), s AS (
              SELECT user_id, event_id, value,
                CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
              FROM g
            )
            SELECT user_id, session_id, count(*) AS n_events,
                   CAST(round(sum(CAST(value AS DECIMAL(18,2))), 2) AS DOUBLE) AS session_value
            FROM s GROUP BY user_id, session_id ORDER BY user_id, session_id
        """,
        "tumbling_agg": """
            SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
                   event_type, count(*) AS n,
                   CAST(round(sum(CAST(value AS DECIMAL(18,2))), 2) AS DOUBLE) AS total_value
            FROM events GROUP BY 1, 2 ORDER BY hour, event_type
        """,
    }


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: the crawl load-stage on sf0.001 — filter battery (full
    Java-regex version) -> best-url-per-id -> canonicalize -> special
    rewrite -> frontier with host buckets."""
    from publicationsretriever_spark.functions import filters as FL
    from publicationsretriever_spark.functions import urls as U
    from publicationsretriever_spark.operators.besturl import pick_best_url_per_id

    sf_dir = "/root/testdata/sf0.001"
    urls = _q_urls(spark, sf_dir).select(
        (F.col("doc_id") % 97).alias("id"), F.col("doc_id").alias("order_in_id"), "url"
    )
    gated = urls.withColumn(
        "reject_reason",
        FL.DEFAULT_BATTERY.page_url_reject_reason(F.lower(F.col("url"))),
    )
    accepted = gated.filter(F.col("reject_reason").isNull())
    best = pick_best_url_per_id(accepted).filter(F.col("is_best"))
    canon = best.withColumn("canon_url", U.canonicalize_udf(F.col("url")))
    out = U.with_special_rewrite(canon, "canon_url")
    return out.select(
        "id",
        "url",
        "canon_url",
        "special_url",
        U.url_hash64(F.col("canon_url")).alias("url_hash"),
        U.host_bucket(U.top3_domain(U.domain_of(F.col("url"))), 32).alias("host_bucket"),
        "priority",
    )

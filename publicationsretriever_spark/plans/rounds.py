"""The frontier-round crawl engine (SURVEY.md §3.1 Spark lifecycle).

One ROUND = one plan over the current frontier slice, committed as
one snapshot. ``CrawlEngine.run_round`` builds it as stage methods
over one round context (``_Round``), in pipeline order:

  _stage_and_mark      filter battery, canonicalize, hash, seen mark (J2)
  _pick_best           best-url-per-id + fallback pool (J4, round 0)
  _schedule            re-cross (J3), special rewrite (P9), blacklist /
                       403-path (F16, A3) / robots gates, P11, quota (N5)
  _fetch_and_classify  fetch mapInPandas (N1-N13, politeness) + N9
  _pages_and_links     page split, link gate (F15) + caps, MLA (J6/J7)
  _fallback_wave       J4 fallback wave, results delta, next frontier
  _seen_delta          the exact, disjoint seen delta
  _dimension_tables    counters, flags, models, blocked domains
  _metrics_plan        the one metrics plan (``_finalize`` ingests it)

A round is many Spark jobs: the seven eager cuts (``staged``,
``marked``, ``ranked`` in round 0 only, ``sched``, ``fetch``,
``pages``, ``links``) run while the plan is built, then the store's
close writes the deltas and tables beside the fused metrics job — 85
jobs, 84 stages and 148 tasks in the ``crawl`` benchmark's timed round
(seed 1). The close runs no Python: every canonical hash it needs
(``reject_hash``, ``final_hash``) is computed inside a cut.

This replaces the reference's per-record virtual-thread pipeline
(LoaderAndChecker.loadAndCheckIdUrlPairs, util/url/LoaderAndChecker.java:156-300
-> HttpConnUtils.connectAndCheckMimeType :114-270 -> PageCrawler.visit
crawler/PageCrawler.java:86-292) with round-granular semantics: shared
state (seen set, domain counters, results cache) is only updated at
round boundaries, making the crawl DETERMINISTIC — the reference's
racy cross-thread updates (e.g. countInsertAndGetTimes,
ConnSupportUtils.java:947-957) become per-round aggregates.

Scale design (10^10 frontier):

- **Politeness without locks**: the per-host quota window shuffles the
  schedulable frontier by its partition key (top3-domain), so every
  host's rows land in ONE task — the fetch stage runs directly on that
  partitioning (no second repartition) and rate-limiting is a
  task-local token bucket (replaces the per-domain mutex,
  util/http/DomainConnectionData.java:13). Fetch parallelism therefore
  scales with ``spark.sql.shuffle.partitions``, not a fixed bucket
  count.
- per-round per-host quota caps hot hosts; excess rows spill to the
  next round (kills zipf-head skew; the reference instead serializes
  threads on the domain lock).
- **DELTA state**: results/seen/payloads are APPEND-ONLY — each round
  commits only its delta, through one store interface
  (sources/catalog.py: ``SnapshotCatalog`` appends parquet parts,
  ``MemoryCatalog`` localCheckpoints them) and one close sequence; the
  cumulative table is the union of immutable parts, compacted once
  ``compact_every`` parts accumulate. The seen deltas are exact-unique and
  pairwise disjoint by construction (the round's unseen survivors plus
  redirect-final hashes anti-joined against everything prior), so the
  union IS a set — no O(cumulative) distinct + rewrite per round.
- seen-check = bloom prefilter + exact join (operators/seen.py).
- re-cross, domain_state and robots joins are broadcast by
  construction (#domains << #urls).
- all counters are groupBy aggregates merged into dimension tables
  (operators/blocking.py — the reference-exact A2/A3/A4 rules).
- ONE metrics job per round (a union of tagged aggregates over warm
  caches, run alongside the round's close) carries the per-partition
  lineage; the delta and next-frontier counts are ``observe()``
  metrics of the store's write or checkpoint jobs, so the driver never
  runs isEmpty()/count() probe jobs between rounds.
"""

from __future__ import annotations

import time as _time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field, fields
from functools import partial, reduce
from typing import Callable, Iterator

import pandas as pd
from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import filters as FL
from ..functions import htmlparse as H
from ..functions import mime as M
from ..functions import retry as R
from ..functions import robots as RB
from ..functions import urls as U
from ..operators import blocking as B
from ..operators.besturl import ladder_order, pick_best_url_per_id
from . import stats as ST
from ..operators import seen as SEEN
from ..operators.seen import mark_seen
from ..sources.catalog import MemoryCatalog
from ..sources.synthetic_web import SyntheticWeb

#: reference constants
MAX_PAGE_REDIRECTS = 7       # HttpConnUtils.java:68
MAX_LINK_REDIRECTS = 2       # HttpConnUtils.java:69
MAX_POSSIBLE_DOC_LINKS = 5   # PageCrawler.java:58
MAX_REMAINING_LINKS = 10     # PageCrawler.java:62
MAX_LINKS_PER_PAGE = 500     # PageCrawler.java:57
POLITENESS_MS = 3000         # ConnSupportUtils.java:75

RESULT_SCHEMA = (
    "id string, sourceUrl string, pageUrl string, docOrDatasetUrl string, "
    "wasUrlChecked string, wasUrlValid string, "
    "wasDocumentOrDatasetAccessible string, wasDirectLink string, "
    "couldRetry string, fileHash string, fileSize string, mimeType string, "
    "filePath string, error string, round int"
)

FETCH_OUT_SCHEMA = (
    "id string, url string, canon_url string, url_hash long, host string, "
    "host_bucket int, depth int, kind string, fetch_url string, "
    "final_url string, status int, hops int, error_class string, "
    "content_type string, content_disposition string, content_length long, "
    "body_kind string, image_id string, html_body string, "
    "planned_fetch_ms long, learned_https_url string, learned_slash_url string, "
    "page_final string, structure string, link_phase string"
)

#: HttpConnUtils.ENDING_WITH_SLASH_OR_EXTENSION_FILTER (:83) — urls NOT
#: matching this get the offline slash-redirect applied (:331-334)
ENDING_WITH_SLASH_OR_EXTENSION = r".*(?:(?:/|\.[^.?&/_-]{1,7})(?:\?.+)?|\?.+)$"

DOMAIN_FLAGS_SCHEMA = "domain string, https_ok boolean, slash_ok boolean"

#: J4 fallback pool: the non-best urls of each id, ranked in the
#: reference's candidate-ladder order (LoaderAndChecker.java:219-235).
#: Strictly shrinking (urls are consumed by fallback injection or
#: emitted as "Skipped" rows), bounded by the seed input size — safe to
#: rewrite whole each round, unlike the append-only results/seen.
FALLBACK_POOL_SCHEMA = "id string, rank int, order_in_id long, url string"

#: J6 path-MLA model: distinct (page_path, doc_path) success pairs
#: (MachineLearning.successPathsHashMultiMap) with the doc_path's
#: known file extension (successDocPathsExtensionHashMap; max() as the
#: deterministic stand-in for the reference's racy last-write-wins)
PATH_MODEL_SCHEMA = "page_path string, doc_path string, doc_ext string"

#: page-extensions stripped from a docid before prediction
#: (UrlTypeChecker.PLAIN_PAGE_EXTENSION_FILTER via MachineLearning.java:285-288)
PLAIN_PAGE_EXT_RE = r"(?i)\.(?:html?|php\d?|aspx?|jsp|jspx|do|asp|cfm|cgi|shtml)$"


NOT_FOUND = {
    "status": 404, "location": None, "content_type": None,
    "content_disposition": None, "content_length": 0,
    "body_kind": "error", "image_id": None, "html_links": [],
}


class _BroadcastResolver:
    """Default fetch surface: a broadcast url->response table. Picklable
    (only the broadcast handle travels); ``__call__`` builds the actual
    resolve function executor-side."""

    def __init__(self, responses_bc):
        self._bc = responses_bc

    def __call__(self):
        responses = self._bc.value  # one deserialize per executor

        def resolve(url: str) -> dict:
            return responses.get(url) or NOT_FOUND

        return resolve


@dataclass
class CrawlState:
    """The engine's catalog — every reference global hash-structure as a
    DataFrame (SURVEY.md §1.3). ``results``/``seen``/``payloads`` are
    cumulative views over immutable per-round delta parts."""

    results: DataFrame
    seen: DataFrame                       # url_hash long (exact set)
    blocked_domains: DataFrame            # domain string (latched)
    frontier: DataFrame | None = None
    payloads: DataFrame | None = None
    domain_counts: DataFrame | None = None  # blocking.DOMAIN_COUNTS_SCHEMA
    path_counts: DataFrame | None = None    # blocking.PATH_COUNTS_SCHEMA
    blocked_paths: DataFrame | None = None  # domain string, path string
    domain_flags: DataFrame | None = None   # DOMAIN_FLAGS_SCHEMA (P11)
    structure_model: DataFrame | None = None  # (page_path, structure) — J7
    path_model: DataFrame | None = None       # PATH_MODEL_SCHEMA — J6
    fallback_pool: DataFrame | None = None    # FALLBACK_POOL_SCHEMA — J4
    pages_html: DataFrame | None = None       # S6 html sink (optional)
    order_log: DataFrame | None = None      # (round, host, url_hash, planned_fetch_ms)
    #: incrementally-maintained J2 shard sketch: (shard int, bits binary)
    #: + its params; derivable from ``seen`` (NOT persisted — a resume
    #: rebuilds it on the first sharded-path round)
    seen_sketch: DataFrame | None = None
    sketch_meta: dict | None = None         # capacity, n_shards, m_bits, k
    metrics: list[dict] = field(default_factory=list)


@dataclass
class RoundOutput:
    """What one round hands back to the crawl loop: append-only deltas,
    small dimension tables rebuilt in full, the next frontier, the
    round's single fused metrics plan, and a finalizer that ingests the
    collected metric rows + releases the round's caches."""

    deltas: dict[str, DataFrame]   # results, seen, payloads (disjoint appends)
    fulls: dict[str, DataFrame]    # blocked_domains/paths, domain/path_counts
    next_frontier: DataFrame
    metrics_df: DataFrame          # (_t, host_bucket, n, x) tagged aggregates
    finalize: Callable[[list, dict], None]
    #: the round's eager cuts, name -> (wall seconds, partition count)
    #: ({'staged': (s, n), ...}). run_round wall minus the summed
    #: seconds is pure driver-side construction (py4j + analysis), the
    #: Amdahl fixed cost; per cut, the seconds separate the scalable
    #: fetch/page work from fixed small-job barriers and the partition
    #: count is the scaling ledger's parallelism-collapse detector
    cuts: dict[str, tuple[float, int]] = field(default_factory=dict)
    #: wall seconds of each stage method, by name (cuts included)
    stages: dict[str, float] = field(default_factory=dict)


@dataclass
class _Round:
    """One round's context, shared by its stage methods: the state it
    reads, the round number, the A8 prediction decision, the result
    frames the stages emit (unioned in emission order into the results
    delta), the caches ``_finalize`` releases, and the cut and stage
    ledgers."""

    state: CrawlState
    no: int
    mla_predict_on: bool
    results: list[DataFrame] = field(default_factory=list)
    caches: list[DataFrame] = field(default_factory=list)
    cuts: dict[str, tuple[float, int]] = field(default_factory=dict)
    stages: dict[str, float] = field(default_factory=dict)

    def run(self, stage: Callable, *args):
        """``stage(self, *args)``, its wall recorded under its name."""
        t = _time.time()
        out = stage(self, *args)
        self.stages[stage.__name__] = round(_time.time() - t, 3)
        return out

    def cut(self, df: DataFrame, name: str) -> DataFrame:
        """Every fan-out point is EAGERLY materialized (localCheckpoint):
        the round's result-delta is a union of many branches whose
        stages run CONCURRENTLY inside one job — with lazy .cache() the
        parallel stages race to compute the same cold partitions (Spark
        does not lock per-partition cache computation) and the round's
        Python work (canonicalize/fetch/extract) runs 2-4x. Eager
        checkpoints compute each stage exactly once AND truncate the
        logical plan, collapsing downstream analysis cost. Serialized
        storage: the html-carrying frames stored as deserialized JVM
        strings GC-thrash small executors (measured 40-70% GC time);
        serialized blocks live off the hot heap."""
        assert name not in self.cuts, f"cut {name!r} named twice"
        # pyspark's MEMORY_AND_DISK is the SERIALIZED level (the
        # deserialized variant is MEMORY_AND_DISK_DESER, the JVM
        # localCheckpoint default)
        t = _time.time()
        out = df.localCheckpoint(
            eager=True, storageLevel=StorageLevel.MEMORY_AND_DISK
        )
        secs = _time.time() - t
        # partition count of the materialized cut (no job): a cut with
        # < cores partitions caps every consumer stage
        self.cuts[name] = (secs, out.rdd.getNumPartitions())
        return out


def _empty(spark: SparkSession, schema: str) -> DataFrame:
    return spark.createDataFrame([], schema)


#: the CrawlState tables a crawl starts with empty, and their schemas
_EMPTY_STATE = {
    "results": RESULT_SCHEMA,
    "seen": "url_hash long",
    "blocked_domains": "domain string",
    "domain_counts": B.DOMAIN_COUNTS_SCHEMA,
    "path_counts": B.PATH_COUNTS_SCHEMA,
    "domain_flags": DOMAIN_FLAGS_SCHEMA,
    "structure_model": "page_path string, structure string",
    "path_model": PATH_MODEL_SCHEMA,
    "fallback_pool": FALLBACK_POOL_SCHEMA,
}
#: every CrawlState field a state store holds as a table
_STATE_TABLES = {f.name for f in fields(CrawlState)} - {
    "blocked_paths", "seen_sketch", "sketch_meta", "metrics",
}


def _as_col(v):
    """A result-row argument: a str is a literal, a Column passes."""
    return F.lit(v) if isinstance(v, str) else v


def _is_doc():
    return F.col("category").isin("document", "dataset")


def _skipped_error():
    """The error text of a J4 pool url whose id resolved elsewhere
    (handleLogOfRemainingUrls, LoaderAndChecker.java:685-698)."""
    return F.concat(
        F.lit("Skipped in LoaderAndChecker, as a better url was "
              "selected for id: "),
        F.col("id"),
    )


def _counts(df: DataFrame, domain_col, **cols) -> DataFrame:
    """Row-level counter contributions of one source, every counter not
    named in ``cols`` zero. NO per-source groupBy: merge_domain_counts'
    single merge groupBy aggregates — Spark's map-side partial agg
    combines there anyway, so a pre-aggregation per source just adds a
    shuffle each (5 per round, measured ~10s of the round's fixed
    cost)."""
    return df.select(
        domain_col.alias("domain"),
        *[cols.get(c, F.lit(0).cast("long")).cast("long").alias(c) for c in (
            "n5xx", "n_timeout", "n_notype", "n_notdocnorpage",
            "n_nodocurls", "n_nolinks", "good",
        )],
    )


def _timed_collect(df: DataFrame) -> tuple[list, float]:
    t = _time.time()
    rows = df.collect()
    return rows, round(_time.time() - t, 3)


def _count_row(df: DataFrame, tag: str, n=None) -> DataFrame:
    """One (tag, null, n, 0) row — unions into the fused metrics job;
    ``n`` is the row count unless given."""
    return df.groupBy().agg(
        F.lit(tag).alias("_t"),
        F.lit(None).cast("int").alias("host_bucket"),
        (F.count(F.lit(1)) if n is None else n).alias("n"),
        F.lit(0).cast("long").alias("x"),
    ).select("_t", "host_bucket", "n", "x")


def _bucket_rows(df: DataFrame, tag: str, flagged) -> DataFrame:
    """One (tag, host_bucket, rows, flagged rows) row per host bucket."""
    return df.groupBy("host_bucket").agg(
        F.lit(tag).alias("_t"),
        F.count(F.lit(1)).alias("n"),
        F.sum(flagged.cast("long")).alias("x"),
    ).select("_t", "host_bucket", "n", "x")


class CrawlEngine:
    def __init__(
        self,
        spark: SparkSession,
        web: SyntheticWeb,
        num_buckets: int | None = None,
        host_quota: int = 50,
        battery: FL.FilterBattery = FL.DEFAULT_BATTERY,
        compact_every: int = 8,
        record_order: bool = False,
        request_budget_ms: int | None = None,
        store_html: bool = False,
        bloom_threshold: int = 2_000_000,
        sharded_threshold: int | None = None,
        use_mla: bool = False,
        mla_gate: "ST.MlaGate | None" = None,
        robots_df: DataFrame | None = None,
    ):
        self.spark = spark
        self.web = web
        # record_order=True keeps a per-round fetch log
        # (round, host, url_hash, planned_fetch_ms) for crawl-order
        # conformance vs the sequential oracle (BASELINE.md criterion)
        self.record_order = record_order
        # C6: per-request watchdog budget (the reference interrupts
        # zombie reads with size-tiered timeouts, FileUtils.java:430-462,
        # ConnSupportUtils.java:1109-1116); a fetch whose resolver takes
        # longer than the budget is classified conn_timeout
        self.request_budget_ms = request_budget_ms
        # S6: -downloadJustHtmlFiles mode (ConnSupportUtils.java:994-1079,
        # HtmlFileUtils.java:22-33, ArgsUtils.java:35) — persist each
        # visited page's html hash/size as a pages_html delta table
        self.store_html = store_html
        # host_bucket is a lineage/bucketing key only (metrics,
        # Iceberg bucket(N, host)); FETCH parallelism follows the quota
        # window's shuffle (spark.sql.shuffle.partitions) — so scale the
        # bucket count with the session's parallelism rather than fixing
        # a constant that under-resolves lineage at 1000 executors.
        self.num_buckets = num_buckets or max(
            32, 4 * spark.sparkContext.defaultParallelism
        )
        self.host_quota = host_quota
        self.battery = battery
        self.compact_every = compact_every
        # J2 seen-path dispatch thresholds (operators/seen.py): below
        # bloom_threshold keys the exact join runs alone; between the
        # two a whole-set sketch prefilters it; above sharded_threshold
        # the sharded cogrouped probe bounds per-task sketch bytes
        # (the 10^10-key scale path). Tests force low thresholds to
        # exercise every path against the same oracle.
        self.bloom_threshold = bloom_threshold
        self.sharded_threshold = (
            sharded_threshold if sharded_threshold is not None
            else SEEN.SHARDED_THRESHOLD
        )
        # J6+A8: path-MLA prediction behind a flag (the reference ships
        # useMLA=false, MachineLearning.java:33). When on, every round
        # LEARNS (page_path -> doc_path [+ext]) pairs from verified
        # docs (gatherMLData :121-168) and, gate permitting (MlaGate =
        # shouldRunPrediction :187-240), PREDICTS each page's doc url
        # as doc_path + docid(page) [+ext], accepted only if present
        # among the page's accepted links — a hit shortcuts the
        # docfound/structure/doclike/remaining fetches for that page.
        self.use_mla = use_mla
        self.mla_gate = mla_gate if mla_gate is not None else ST.MlaGate()
        # The fetch surface is pluggable: a web exposing
        # ``resolver_factory()`` hands the executors a picklable factory
        # (a live-HTTP client in production; a pure url->response
        # function for web-scale synthetic runs — nothing shipped at
        # all). Otherwise the materialized response table ships ONCE as
        # a broadcast — captured in the closure it would be
        # re-serialized into every task binary (tens of MB x thousands
        # of tasks at bench scale).
        factory = getattr(web, "resolver_factory", None)
        if factory is not None:
            self._make_resolver = factory()
        else:
            self._make_resolver = _BroadcastResolver(
                spark.sparkContext.broadcast(web.responses)
            )
        # small dimension tables reused every round: build + cache once.
        # robots_df override: production parses raw robots.txt bodies
        # via functions/robots.robots_rules_df — its optional
        # crawl_delay column (RFC-era Crawl-delay, seconds) becomes a
        # per-host override of the POLITENESS_MS clock; absent column
        # (the synthetic web's default table) = reference behavior.
        rob = robots_df if robots_df is not None else web.robots_df(spark)
        # optional allow column (functions/robots.robots_rules_df
        # emits it): carried into the gate for RFC 9309 longest-match
        # precedence; absent (the synthetic web's default table) =
        # disallow-prefix-only, the original north-rule gate
        allow_col = (
            F.col("allow") if "allow" in rob.columns
            else F.lit(None).cast("array<string>")
        ).alias("allow")
        cdel_col = (
            F.col("crawl_delay") if "crawl_delay" in rob.columns
            else F.lit(None)
        ).cast("double").alias("_cdel_s")
        self._robots_df = rob.select(
            "domain", "disallow", allow_col, cdel_col
        ).cache()
        self._payload_meta = web.payloads_df(spark).select(
            "image_id", F.col("phash").alias("_phash"),
            F.length("bytes").alias("_fsize"),
        ).cache()

    # ------------------------------------------------------------------
    # fetch stage: mapInPandas over host-partitioned input
    # ------------------------------------------------------------------

    def _fetch_udf(self):
        make_resolver = self._make_resolver  # picklable factory (tiny)
        budget_ms = self.request_budget_ms

        def fetch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            raw_resolve = make_resolver()  # one construction per task

            if budget_ms is None:
                resolve = raw_resolve
            else:
                # C6 watchdog: the resolver call runs in a DAEMON thread
                # joined with the budget — a request over budget (or a
                # genuinely hung read) becomes a timeout (status -1),
                # indistinguishable from a network timeout for the
                # retry/blocking rules downstream, and the task moves on
                # immediately (the reference interrupts zombie reads the
                # same way, util/file/FileUtils.java:430-462). Daemon
                # threads so an abandoned hung call can never block
                # python-worker shutdown.
                import threading as _th

                TIMEOUT_RESP = {**NOT_FOUND, "status": -1}

                # resolver-side cancel hook (LiveHttpResolver registers
                # its in-flight response per worker thread): closing the
                # socket makes the abandoned read error out instead of
                # holding the host's connection past its politeness slot
                _cancel = getattr(
                    getattr(raw_resolve, "__self__", None),
                    "cancel_inflight", None,
                )
                abandoned: list = []  # bounded zombie-thread ledger

                def resolve(url):
                    box: dict = {}

                    def _call():
                        try:
                            box["resp"] = raw_resolve(url)
                        except Exception as e:  # noqa: BLE001
                            box["err"] = e

                    th = _th.Thread(target=_call, daemon=True)
                    th.start()
                    th.join(budget_ms / 1000.0)
                    if "err" in box:
                        raise box["err"]
                    if th.is_alive() or "resp" not in box:
                        # abandoned; cut its socket so the thread dies
                        # instead of lingering (ADVICE r3), and bound the
                        # number of still-alive zombies per task
                        if _cancel is not None and th.ident is not None:
                            try:
                                _cancel(th.ident)
                            except Exception:  # noqa: BLE001
                                pass
                        abandoned[:] = [t for t in abandoned if t.is_alive()]
                        abandoned.append(th)
                        if len(abandoned) > 32:
                            abandoned[0].join(1.0)  # backpressure
                            abandoned[:] = [
                                t for t in abandoned if t.is_alive()
                            ]
                        return TIMEOUT_RESP
                    return box["resp"]

            # per-host virtual politeness clock: ALL rows of one host are
            # in this partition (the quota window shuffled by top3), so
            # the token bucket is task-local (N5; no global lock). Rows
            # arrive sorted by (host, url_hash) — sortWithinPartitions
            # upstream — so the slot order is a deterministic total
            # order even across arrow batch boundaries.
            last_fetch_ms: dict[str, int] = {}

            for pdf in batches:
                out_rows = []
                for row in pdf.itertuples(index=False):
                    host = row.host or ""
                    # robots Crawl-delay override (per host, ms);
                    # nullable long arrives as NaN through pandas
                    _cd = getattr(row, "crawl_delay_ms", None)
                    delay_ms = (
                        POLITENESS_MS
                        if _cd is None or pd.isnull(_cd)
                        else int(_cd)
                    )
                    t = last_fetch_ms.get(host)
                    planned = 0 if t is None else t + delay_ms
                    last_fetch_ms[host] = planned

                    max_hops = (
                        MAX_PAGE_REDIRECTS
                        if row.kind in ("seed", "redirect", "fallback")
                        else MAX_LINK_REDIRECTS
                    )
                    url = row.fetch_url
                    hops = 0
                    learned_https_url = learned_slash_url = None
                    resp = resolve(url)
                    # 3XX except 304 are redirects; 2XX and 304 are
                    # success (HttpConnUtils.java:284-288,631) — a 201/
                    # 204/206/300 must never hit the unknown_code
                    # domain-kill branch below
                    while 300 <= resp["status"] <= 399 and resp["status"] != 304:
                        loc = resp["location"]
                        if loc is None and resp["status"] == 300:
                            # HTTP-300 multiple choices MAY carry the
                            # proposed link in the html body instead of
                            # a Location header: extract the first
                            # acceptable internal link and keep hopping
                            # (getInternalLinkFromHTTP300Page,
                            # ConnSupportUtils.java:608-627; dispatched
                            # from HttpConnUtils.java:574-577)
                            body = resp.get("html_body")
                            if body:
                                for _c in H.extract_links_one(body, url):
                                    if _c.get("link"):
                                        loc = _c["link"]
                                        break
                        if loc is None or hops >= max_hops:
                            break
                        # P11 learning (HttpConnUtils.java:613-623): a
                        # protocol-only or slash-only hop marks the
                        # TARGET domain for offline rewriting next round
                        if (
                            url.startswith("http://")
                            and loc.startswith("https://")
                            and url[7:] == loc[8:]
                        ):
                            learned_https_url = loc
                        if not url.endswith("/") and loc == url + "/":
                            learned_slash_url = loc
                        hops += 1
                        url = loc
                        resp = resolve(url)
                    status = resp["status"]
                    # Retry-After honoring (beyond-reference; the
                    # reference only LOGS the header, TODO at
                    # ConnSupportUtils.java:675-680): the host's next
                    # slot waits max(politeness delay, server backoff).
                    # Attributed to the row's host — all of a host's
                    # rows sit in this partition (quota-window shuffle),
                    # so the virtual clock bump covers the whole round.
                    _ra = resp.get("retry_after_ms")
                    if _ra:
                        last_fetch_ms[host] = max(
                            last_fetch_ms[host],
                            planned + _ra - delay_ms,
                        )
                    # handle.net returns 500 where it means 404
                    # (ConnSupportUtils.java:642-645). Keyed on the
                    # ERRORING CONNECTION's domain — onErrorStatusCode
                    # receives the domain of the url it just connected
                    # to, so a chain that 301s INTO handle.net mid-hop
                    # remaps, while a handle.net seed that redirects
                    # OUT to a broken host keeps its real 500
                    # (VERDICT r4 item 8; was keyed on the seed host).
                    if status == 500 and "handle.net" in (
                        url.split("//", 1)[-1].split("/", 1)[0].lower()
                    ):
                        status = 404
                    if 300 <= status <= 399 and status != 304:
                        error_class = "redirect_limit"
                    elif 200 <= status <= 299 or status == 304:
                        error_class = None
                    elif status == -1:
                        error_class = "conn_timeout"
                    elif 400 <= status <= 599:
                        error_class = f"http_{status}"
                    else:
                        # not 2XX/3XX/4XX/5XX: the reference blacklists
                        # the domain immediately (ConnSupportUtils.java:693-705)
                        error_class = "unknown_code"

                    # N8: header-less responses get their type sniffed
                    # from the body magic (detectContentTypeFromResponseBody,
                    # ConnSupportUtils.java:1171-1229)
                    content_type = resp["content_type"]
                    if content_type is None and error_class is None:
                        body = resp.get("html_body")
                        if body and body.lstrip().lower().startswith(("<html", "<!doctype")):
                            content_type = "text/html"
                        elif resp.get("body_kind") == "image":
                            content_type = "image/png"
                    out_rows.append({
                        "id": row.id, "url": row.url,
                        "canon_url": row.canon_url, "url_hash": row.url_hash,
                        "host": row.host, "host_bucket": row.host_bucket,
                        "depth": row.depth, "kind": row.kind,
                        "fetch_url": row.fetch_url, "final_url": url,
                        "status": status, "hops": hops,
                        "error_class": error_class,
                        "content_type": content_type,
                        "content_disposition": resp["content_disposition"],
                        "content_length": resp["content_length"],
                        "body_kind": resp["body_kind"],
                        "image_id": resp["image_id"],
                        "html_body": resp.get("html_body"),
                        "planned_fetch_ms": planned,
                        "learned_https_url": learned_https_url,
                        "learned_slash_url": learned_slash_url,
                        "page_final": row.page_final,
                        "structure": row.structure,
                        "link_phase": row.link_phase,
                    })
                yield pd.DataFrame(out_rows) if out_rows else pd.DataFrame(
                    columns=[f.split()[0] for f in FETCH_OUT_SCHEMA.split(", ")]
                )

        return fetch

    # ------------------------------------------------------------------

    def prepare_frontier(self, raw: DataFrame, round_no: int) -> DataFrame:
        """Stages 1-9: gate, clean, canonicalize, hash, bucket.

        The gate follows the row KIND, not the round: seeds/redirects get
        the pageUrl battery (UrlTypeChecker.shouldNotAcceptPageUrl),
        internal links the stricter link battery
        (shouldNotAcceptInternalLink) — so a quota-spilled seed re-entering
        in a later round keeps page-url semantics."""
        url = F.col("url")
        df = raw.withColumn("domain", U.domain_of(url))
        df = df.withColumn("reject_reason", F.when(
            F.col("domain").isNull(), F.lit("domain_unretrievable")
        ).when(
            F.col("kind") == "internal",
            self.battery.internal_link_reject_reason(F.lower(url)),
        ).otherwise(
            self.battery.page_url_reject_reason(F.lower(url))
        ))
        df = df.withColumn("clean_url", U.clean_url(url))
        # the UDF runs on EVERY row (Spark evaluates a Python UDF under
        # a when() for all rows), so a rejected row's canonical form is
        # kept as its seen key (``reject_hash``) instead of being
        # recomputed by the round's seen delta
        df = df.withColumn("_canon", U.canonicalize_udf(F.col("clean_url")))
        df = df.withColumn(
            "canon_url", F.when(F.col("reject_reason").isNull(), F.col("_canon"))
        )
        df = df.withColumn(
            "reject_reason",
            F.when(
                F.col("reject_reason").isNull() & F.col("canon_url").isNull(),
                F.lit("unnormalizable"),
            ).otherwise(F.col("reject_reason")),
        )
        # NOTE xxhash64(NULL) returns the seed (42), not NULL — guard it
        df = df.withColumn(
            "url_hash",
            F.when(F.col("canon_url").isNotNull(), U.url_hash64(F.col("canon_url"))),
        ).withColumn(
            "reject_hash",
            F.when(
                F.col("reject_reason").isNotNull() & F.col("_canon").isNotNull(),
                U.url_hash64(F.col("_canon")),
            ),
        ).drop("_canon")
        df = df.withColumn("top3", U.top3_domain(F.col("domain")))
        df = df.withColumn("host_bucket", U.host_bucket(F.col("top3"), self.num_buckets))
        return df

    @staticmethod
    def _result_row(round_no: int, *, checked="true",
                    pageUrl="null", doc="null", valid="null",
                    accessible="null", direct="null", retry="null",
                    mime="null", fileHash="null", fileSize="null",
                    filePath="null", error="null"):
        """One RESULT_SCHEMA projection; every column defaults to the
        reference's ``"null"`` string (a str is a literal)."""
        c = _as_col
        return [
            F.col("id"), F.col("url").alias("sourceUrl"),
            c(pageUrl).alias("pageUrl"),
            c(doc).alias("docOrDatasetUrl"),
            F.lit(checked).alias("wasUrlChecked"),
            c(valid).alias("wasUrlValid"),
            c(accessible).alias("wasDocumentOrDatasetAccessible"),
            c(direct).alias("wasDirectLink"), c(retry).alias("couldRetry"),
            c(fileHash).alias("fileHash"), c(fileSize).alias("fileSize"),
            c(mime).alias("mimeType"), c(filePath).alias("filePath"),
            c(error).alias("error"), F.lit(round_no).alias("round"),
        ]

    def _unchecked_rows(self, df: DataFrame, error, round_no: int) -> DataFrame:
        """The wasUrlChecked=false row of each url in ``df``: a J4 pool
        url, or an attempt row the round budget left pending."""
        return df.select(*self._result_row(
            round_no, checked="false", doc="unreachable", retry="true",
            error=error,
        ))

    def run_round(
        self, state: CrawlState, frontier: DataFrame, round_no: int
    ) -> RoundOutput:
        """Build one round's full plan (stages: module docstring); only
        the eager cuts run here, the rest when the crawl loop commits."""
        # A8 gate: one deterministic decision per round from the
        # counters accumulated through the PRIOR round (the reference
        # consults the same state machine per page under a lock)
        rc = _Round(
            state, round_no,
            self.use_mla and self.mla_gate.should_run_prediction(),
        )
        staged, unseen = rc.run(self._stage_and_mark, frontier)
        picked, pool, pool_hashes = rc.run(self._pick_best, unseen)
        sched, spill, fetch_in = rc.run(self._schedule, picked)
        classified = rc.run(self._fetch_and_classify, fetch_in)
        live, links, page_tagged, dynamic_blocked, mla_checked = rc.run(
            self._pages_and_links, classified
        )
        results_delta, next_frontier, pool_next = rc.run(
            self._fallback_wave, staged, picked, sched, spill, classified,
            page_tagged, links, pool,
        )
        seen_delta = rc.run(
            self._seen_delta, staged, unseen, spill, pool_hashes, classified
        )
        fulls, learned_pm = rc.run(
            self._dimension_tables, classified, sched, page_tagged,
            dynamic_blocked,
        )
        metrics_df = rc.run(
            self._metrics_plan, staged, classified, links, live, learned_pm,
            mla_checked,
        )
        return RoundOutput(
            deltas={
                "results": results_delta,
                "seen": seen_delta,
                **self._fetch_deltas(rc, classified),
            },
            # blocked_paths is NOT materialized: it is a filter over the
            # checkpointed path_counts, re-derived each round for free
            fulls={**fulls, "fallback_pool": pool_next},
            next_frontier=next_frontier,
            metrics_df=metrics_df,
            finalize=partial(self._finalize, rc),
            cuts=rc.cuts,
            stages=rc.stages,
        )

    def _stage_and_mark(self, rc: _Round, frontier: DataFrame):
        """Stage + in-round dedup + seen mark (cuts ``staged``,
        ``marked``). Returns (staged, unseen)."""
        state = rc.state
        # REBALANCE before the expensive per-row work: from round 1 on
        # the frontier's partitioning mirrors the page stage's host
        # partitioning (links explode per page, hot hosts concentrate),
        # so the regex battery + canonicalize UDF would run on skewed
        # partitions and the hottest one bounds the wall (measured:
        # staged scaled at 0.43 efficiency 2->8 executors). The
        # round-robin exchange is cheap (shuffle write is a plain copy,
        # no per-row compute) and runs INSIDE the staged job, so the
        # battery executes on evenly-sized partitions.
        staged = rc.cut(
            self.prepare_frontier(
                frontier.repartition(self.num_buckets), rc.no
            ),
            "staged",
        )
        rc.results.append(
            staged.filter(F.col("reject_reason").isNotNull()).select(
                *self._result_row(
                    rc.no, doc="unreachable", accessible="false",
                    direct="false", retry="false",
                    error=F.concat(F.lit("Discarded: "), F.col("reject_reason")),
                )
            )
        )

        ok = staged.filter(F.col("reject_reason").isNull()).drop("reject_hash")
        w = Window.partitionBy("url_hash").orderBy("order_in_id", "id")
        seen_count = state.metrics[-1]["seen_total"] if state.metrics else 0
        marked = rc.cut(mark_seen(
            ok.withColumn("_rn", F.row_number().over(w)),
            state.seen, "url_hash", seen_count=seen_count,
            bloom_threshold=self.bloom_threshold,
            sharded_threshold=self.sharded_threshold,
            sketch_state=(
                (state.seen_sketch, state.sketch_meta["m_bits"],
                 state.sketch_meta["k"], state.sketch_meta["n_shards"])
                if state.seen_sketch is not None and state.sketch_meta
                else None
            ),
        ), "marked")

        rc.results.append(
            marked.filter((F.col("_rn") > 1) | F.col("_seen")).select(
                *self._result_row(
                    rc.no, doc="duplicate", retry="true",
                    error="duplicate url",
                )
            )
        )
        unseen = marked.filter((F.col("_rn") == 1) & ~F.col("_seen")).drop(
            "_rn", "_seen"
        )
        return staged, unseen

    def _pick_best(self, rc: _Round, unseen: DataFrame):
        """J4: best-url-per-id, seed round only (cut ``ranked``).
        Returns (picked, pool, pool_hashes or None).

        Non-best urls are NOT dropped: they form the id's FALLBACK
        POOL (checkRemainingUrls, LoaderAndChecker.java:534-561) —
        tried one per round when the id's attempt has a connect-level
        failure — and urls never checked get a "Skipped in
        LoaderAndChecker" output row (handleLogOfRemainingUrls,
        :685-698), restoring the one-output-row-per-input-record
        contract (README.md:19-33). Round-granular cleanups vs the
        reference (documented): pool urls are tried in the candidate-
        ladder order (the reference iterates set-insertion order) and
        one wave per ROUND (the reference loops synchronously)."""
        if rc.no != 0:
            return (
                unseen.withColumn("priority", F.lit(0)),
                rc.state.fallback_pool,
                None,
            )
        ranked = rc.cut(pick_best_url_per_id(unseen), "ranked")
        picked = ranked.filter(F.col("is_best")).drop("is_best")
        # pool wave order = THE ladder order (besturl.ladder_order
        # — one definition shared with pick_best_url_per_id)
        wp = Window.partitionBy("id").orderBy(
            *ladder_order(F.col("priority"), F.col("order_in_id"))
        )
        non_best = ranked.filter(~F.col("is_best"))
        pool = non_best.withColumn("rank", F.row_number().over(wp)).select(
            "id", "rank", F.col("order_in_id").cast("long").alias("order_in_id"),
            "url",
        )
        return picked, pool, non_best.select("url_hash")

    def _schedule(self, rc: _Round, picked: DataFrame):
        """The SCHEDULE plan: recross + rewrite + gates + quota fused
        into one cut (``sched``; one window shuffle — every split:
        recross hits, path-blocked, robots-blocked, spill, fetch input —
        is a filter over it). Returns (sched, spill, fetch_in)."""
        state = rc.state
        # J3: re-cross against prior results (broadcast — results' doc
        # urls). Deterministic owner per doc-url: min id wins (the
        # reference's owner is whichever thread won the race — we define
        # it).
        prior_docs = (
            state.results.filter(
                ~F.col("docOrDatasetUrl").isin("duplicate", "unreachable")
            )
            .groupBy(F.col("docOrDatasetUrl").alias("_hit_url"))
            .agg(
                F.min("id").alias("_orig_id"),
                F.min_by("mimeType", "id").alias("_orig_mime"),
            )
        )
        # shuffle-hash, NOT broadcast: prior_docs is keyed by every
        # distinct successful doc url in CUMULATIVE results — it grows
        # with crawl age (O(#docs), not O(#domains)), so broadcasting
        # it is the same driver-collect trap operators/seen.py:279
        # documents for the seen table. The per-round frontier side is
        # bounded; a shuffle-hash join keys both sides without ever
        # collecting the growing table to the driver.
        sched = picked.join(
            prior_docs.hint("shuffle_hash"),
            picked["canon_url"] == prior_docs["_hit_url"],
            "left",
        )
        # P9 special rewrites, then the gate ladder in reference order
        # (LoaderAndChecker.handleUrlChecks :590-647): blacklist ->
        # 403-path -> robots (north-rule addition) -> quota. Re-cross
        # hits short-circuit everything (they are never fetched).
        sched = U.with_special_rewrite(sched, "canon_url", "fetch_url")
        blk = state.blocked_domains.withColumn("_blk", F.lit(True))
        sched = sched.join(
            F.broadcast(blk), sched["top3"] == blk["domain"], "left"
        ).drop(blk["domain"])
        # blocked domains vanish silently (reference logs + skips;
        # conformance oracle mirrors) — unless the row re-crossed.
        sched = sched.filter(F.col("_blk").isNull() | F.col("_orig_id").isNotNull())

        # A3/F16: 403-blacklisted (domain, path-prefix) pairs
        bp = state.blocked_paths.withColumnRenamed("path", "_bp_path").withColumn(
            "_pblk", F.lit(True)
        )
        sched = sched.join(
            F.broadcast(bp),
            (sched["top3"] == bp["domain"])
            & (B.dir_path(F.col("fetch_url")) == bp["_bp_path"]),
            "left",
        ).drop(bp["domain"]).drop("_bp_path")

        # robots gate (north rule; no reference equivalent): broadcast
        # robots_rules(domain, disallow[], allow[]) joined on host.
        # RFC 9309 §2.2.2 longest-match precedence: among the prefix
        # rules matching the path, the one with the most octets wins,
        # and on a length tie Allow wins — blocked iff the longest
        # matching Disallow is STRICTLY longer than the longest
        # matching Allow (the classic 'Disallow: /private/' +
        # 'Allow: /private/pub/' carve-out). A null/absent allow array
        # degenerates to the original disallow-prefix gate.
        robots = self._robots_df
        sched = sched.join(
            F.broadcast(robots), sched["top3"] == robots["domain"], "left"
        ).drop(robots["domain"])
        # path projected into an attribute: an inline expression read
        # inside the matcher's lambdas re-runs per prefix
        upath = F.col("_upath")
        sched = sched.withColumn(
            "_upath",
            F.regexp_replace(F.col("fetch_url"), "^https?://[^/]*", ""),
        ).withColumn(
            "_rob",
            F.when(
                F.col("disallow").isNotNull(),
                RB.longest_rule_match(F.col("disallow"), upath)
                > F.when(
                    F.col("allow").isNotNull(),
                    RB.longest_rule_match(F.col("allow"), upath),
                ).otherwise(F.lit(0)),
            ).otherwise(F.lit(False)),
        ).drop("disallow", "allow", "_upath")

        # P11: offline https/slash redirects learned in prior rounds
        # (HttpConnUtils.java:326-334) — applied AFTER the gate ladder
        # (the reference rewrites inside openHttpConnection, after the
        # blacklist/403-path checks) and before the quota window.
        flags = state.domain_flags
        sched = sched.join(
            F.broadcast(flags), sched["top3"] == flags["domain"], "left"
        ).drop(flags["domain"])
        sched = sched.withColumn(
            "fetch_url",
            F.when(
                F.coalesce(F.col("https_ok"), F.lit(False))
                & F.col("fetch_url").startswith("http://"),
                F.concat(F.lit("https://"), F.expr("substring(fetch_url, 8)")),
            ).otherwise(F.col("fetch_url")),
        ).withColumn(
            "fetch_url",
            F.when(
                F.coalesce(F.col("slash_ok"), F.lit(False))
                & ~F.col("fetch_url").rlike(ENDING_WITH_SLASH_OR_EXTENSION),
                F.concat(F.col("fetch_url"), F.lit("/")),
            ).otherwise(F.col("fetch_url")),
        ).drop("https_ok", "slash_ok")

        # N5 quota: the window's shuffle by (top3, _fetchable) IS the
        # fetch stage's physical partitioning — every host lives whole
        # in one task, politeness needs no locks, and fetch parallelism
        # scales with spark.sql.shuffle.partitions.
        sched = sched.withColumn(
            "_fetchable",
            F.col("_orig_id").isNull() & F.col("_pblk").isNull() & ~F.col("_rob"),
        )
        # quota cut orders by url_hash ALONE — the oracle's contract
        # (oracle.py quota sort key=(0, hash), priority const): ladder
        # priority picks WHICH url represents an id, never which ids
        # beat the host quota. The old (priority, url_hash) order
        # diverged in round 0 whenever one host mixed priorities past
        # its quota (conformance-tested with mixed seeds).
        wq = Window.partitionBy("top3", "_fetchable").orderBy("url_hash")
        sched = rc.cut(sched.withColumn("_hq", F.row_number().over(wq)), "sched")

        rc.results.append(sched.filter(F.col("_orig_id").isNotNull()).select(
            *self._result_row(
                rc.no,
                pageUrl=F.col("url"), doc=F.col("canon_url"),
                valid="true", accessible="true", direct="true", retry="true",
                mime=F.coalesce(F.col("_orig_mime"), F.lit("null")),
                filePath=F.concat(F.lit("already retrieved by "), F.col("_orig_id")),
            )
        ))
        rc.results.append(sched.filter(
            F.col("_orig_id").isNull() & F.col("_pblk").isNotNull()
        ).select(
            *self._result_row(
                rc.no, doc="unreachable", valid="true", accessible="false",
                direct="false", retry="true", error="path 403-blacklisted",
            )
        ))
        rc.results.append(sched.filter(
            F.col("_orig_id").isNull() & F.col("_pblk").isNull() & F.col("_rob")
        ).select(
            *self._result_row(
                rc.no, doc="unreachable", valid="true", accessible="false",
                direct="false", retry="false", error="robots disallowed",
            )
        ))
        spill = sched.filter(F.col("_fetchable") & (F.col("_hq") > self.host_quota))

        fetch_in = (
            sched.filter(F.col("_fetchable") & (F.col("_hq") <= self.host_quota))
            .select(
                "id", "url", "canon_url", "url_hash",
                F.col("top3").alias("host"), "host_bucket", "depth", "kind",
                "fetch_url", "page_final", "structure", "link_phase",
                (F.col("_cdel_s") * 1000).cast("long").alias(
                    "crawl_delay_ms"
                ),
            )
            # no repartition: the quota window already co-located each
            # host; this sort makes the politeness slot order a
            # deterministic total order (host, url_hash) across arrow
            # batches — matching the sequential oracle
            .sortWithinPartitions("host", "url_hash")
        )
        return sched, spill, fetch_in

    def _fetch_and_classify(self, rc: _Round, fetch_in: DataFrame) -> DataFrame:
        """Fetch + N10 guards + N9 classification (cut ``fetch``)."""
        MAX_HTML = 5 * 1024 * 1024
        MAX_FULLTEXT = 512 * 1024 * 1024
        fetched = fetch_in.mapInPandas(self._fetch_udf(), schema=FETCH_OUT_SCHEMA)
        fetched = fetched.withColumn(
            "error_class",
            F.when(
                F.col("error_class").isNull()
                & M.is_html_mime(F.col("content_type"))
                & (F.col("content_length") > MAX_HTML),
                F.lit("oversize_html"),
            )
            .when(
                F.col("error_class").isNull()
                & (F.col("content_length") > MAX_FULLTEXT),
                F.lit("oversize_fulltext"),
            )
            .otherwise(F.col("error_class")),
        )
        classified = fetched.withColumn(
            "mime_res",
            M.classify_mime(
                F.col("final_url"), F.col("content_type"), F.col("content_disposition")
            ),
        ).withColumn(
            "category",
            F.when(F.col("error_class").isNotNull(), "error")
            .when(
                F.col("mime_res.mime_category").isNotNull()
                | (F.col("body_kind") == "image"),
                F.coalesce(F.col("mime_res.mime_category"), F.lit("document")),
            )
            .when(M.is_html_mime(F.col("content_type")), "page")
            .otherwise("other"),
        ).join(F.broadcast(self._payload_meta), "image_id", "left")
        # the final url's seen key, canonicalized once inside the fetch
        # cut (see _seen_delta), so the round close runs no Python
        classified = classified.withColumn(
            "_fcanon", U.canonicalize_udf(U.clean_url(F.col("final_url")))
        ).withColumn(
            "final_hash",
            F.when(F.col("_fcanon").isNotNull(), U.url_hash64(F.col("_fcanon"))),
        ).drop("_fcanon")
        classified = rc.cut(classified, "fetch")

        # doc/error/other fetch outcomes in ONE pass (a single select with
        # when-chains instead of three branch plans)
        is_doc = _is_doc()
        is_err = F.col("category") == "error"
        err_struct = R.was_valid_and_could_retry(F.col("error_class"), F.col("final_url"))
        rc.results.append(classified.filter(
            F.col("category").isin("document", "dataset", "error", "other")
        ).select(
            *self._result_row(
                rc.no,
                pageUrl=F.col("url"),
                doc=F.when(is_doc, F.col("final_url")).otherwise("unreachable"),
                valid=F.when(is_err, err_struct["wasUrlValid"]).otherwise("true"),
                accessible=F.when(is_doc, "true").otherwise("false"),
                # wasDirectLink (ConnSupportUtils.getWasDirectLink
                # :1512-1529): the doc was the url itself, modulo
                # protocol — special/slash rewrites and crawled hops
                # make it "false"
                direct=F.when(
                    is_doc & (F.col("hops") == 0)
                    & (F.regexp_replace(F.col("final_url"), "^https?:", "")
                       == F.regexp_replace(F.col("canon_url"), "^https?:", "")),
                    "true",
                ).otherwise("false"),
                retry=F.when(is_doc, "true").when(is_err, err_struct["couldRetry"]).otherwise("false"),
                fileHash=F.when(is_doc, F.coalesce(F.col("_phash").cast("string"), F.lit("null"))).otherwise("null"),
                fileSize=F.when(is_doc, F.coalesce(F.col("_fsize").cast("string"), F.lit("null"))).otherwise("null"),
                mime=F.when(is_doc, F.coalesce(F.col("mime_res.plain_mime"), F.col("content_type"), F.lit("null")))
                .when(is_err, "null")
                .otherwise(F.coalesce(F.col("content_type"), F.lit("null"))),
                filePath=F.when(is_doc, F.coalesce(F.col("image_id"), F.lit("null"))).otherwise("null"),
                error=F.when(is_err, err_struct["error_msg"])
                .when(is_doc, "null")
                .otherwise("not a document or page"),
            )
        ))
        return classified

    def _pages_and_links(self, rc: _Round, classified: DataFrame):
        """Pages -> G5 metadata scan + G3 extraction UDF + G9 ranking
        (cuts ``pages``, ``links``) -> page outcomes. Returns (live,
        links, page_tagged, dynamic_blocked, mla_checked)."""
        pages = classified.filter(F.col("category") == "page").withColumn(
            "_meta_url",
            H.localhost_fix(
                H.meta_doc_url(F.col("html_body")), U.domain_of(F.col("final_url"))
            ),
        ).withColumn(
            "_restricted", H.meta_access_restricted(F.col("html_body"))
        ).withColumn(
            "_links", H.extract_links_udf(F.col("html_body"), F.col("final_url"))
        )
        # the html served its purpose (meta scan + extraction): drop it
        # before materializing — the pages checkpoint would otherwise
        # store every body a second time
        pages = rc.cut(pages.drop("html_body", "mime_res"), "pages")

        # dynamic-link pages block their domain (F13,
        # DynamicInternalLinksFoundException, PageCrawler.java:610-611)
        has_dynamic = F.exists("_links", lambda x: x["signal"] == "dynamic")
        # blocked domain = final url's top3, FALLING BACK to the row's
        # own top3 when the final url defeats the domain regex — the
        # oracle's `v.top3.get(url) or r['top3']`; a bare NULL here
        # blocked nothing and the trap domain kept being fetched
        dynamic_blocked = pages.filter(~F.col("_restricted") & has_dynamic).select(
            F.coalesce(
                U.top3_domain(U.domain_of(F.col("final_url"))),
                F.col("host"),
            ).alias("domain")
        ).distinct()
        # live pages continue into link extraction; restricted-access
        # pages stop (MetadataHandler.java:77-120)
        live = pages.filter(~F.col("_restricted")).filter(~has_dynamic)
        links, mla_checked = self._link_candidates(rc, live)
        links = rc.cut(links, "links")

        # all page terminal outcomes in ONE pass over the cached pages:
        # restricted (MetadataHandler stop), dynamic (domain trap), and
        # "no accepted candidate links" -> one tagged select. "nolinks"
        # (zero extracted) vs "nodocurl" (links but none accepted) feed
        # the two PageCrawler counters (:314,369) but emit the same
        # result row.
        linked = links.select("page_url").distinct().withColumn("_has_link", F.lit(True))
        page_tagged = pages.join(
            linked, pages["url"] == linked["page_url"], "left"
        ).drop("page_url")
        page_outcome = (
            F.when(F.col("_restricted"), "restricted")
            .when(has_dynamic, "dynamic")
            .when(F.col("_has_link").isNull() & (F.size("_links") == 0), "nolinks")
            .when(F.col("_has_link").isNull(), "nodocurl")
        )
        page_tagged = page_tagged.withColumn("_po", page_outcome).filter(
            F.col("_po").isNotNull()
        )
        rc.results.append(page_tagged.select(
            *self._result_row(
                rc.no,
                pageUrl=F.col("final_url"), doc="unreachable", valid="true",
                accessible="false", direct="false",
                retry=F.when(F.col("_po") == "dynamic", "true").otherwise("false"),
                error=F.when(F.col("_po") == "restricted", "restricted access (meta rights)")
                .when(F.col("_po") == "dynamic", "dynamic internal links")
                .otherwise("no docUrl found on page"),
            )
        ))
        return live, links, page_tagged, dynamic_blocked, mla_checked

    def _link_candidates(self, rc: _Round, live: DataFrame):
        """Candidates, ranked per G9: meta docUrl (rank 0) > docFound
        signal (rank 1) > structure-MLA hits (J7) > possible-doc links
        (<=5) > remaining (<=10). Returns (links, mla_checked)."""
        null_s = F.lit(None).cast("string")
        meta_c = live.filter(F.col("_meta_url").isNotNull()).select(
            F.col("id"), F.col("url").alias("page_url"),
            F.col("final_url").alias("page_final"),
            F.lit(0).alias("pos"), F.col("_meta_url").alias("link"),
            null_s.alias("structure"), F.lit("meta").alias("phase"),
        )
        # J6: when MLA is on, candidate positions shift by one to make
        # room for the prediction rank between meta (0) and docfound
        _off = 1 if self.use_mla else 0
        _df_elem = F.try_element_at(
            F.filter("_links", lambda x: x["signal"] == "docFound"), F.lit(1)
        )
        doc_found = live.select(
            F.col("id"), F.col("url").alias("page_url"),
            F.col("final_url").alias("page_final"),
            F.lit(1 + _off).alias("pos"),
            _df_elem["link"].alias("link"),
            _df_elem["structure"].alias("structure"),
            F.lit("docfound").alias("phase"),
        ).filter(F.col("link").isNotNull())

        exploded = live.select(
            F.col("id"), F.col("url").alias("page_url"),
            F.col("final_url").alias("page_final"),
            F.posexplode(
                F.slice(
                    F.filter("_links", lambda x: x["signal"] == "plain"),
                    1, MAX_LINKS_PER_PAGE,
                )
            ).alias("pos", "l"),
        ).select(
            "id", "page_url", "page_final", (F.col("pos") + 2 + _off).alias("pos"),
            F.col("l")["link"].alias("link"),
            F.col("l")["structure"].alias("structure"),
        )
        # F15 gather-time gate (checkAndGatherInternalLink applies
        # shouldNotAcceptInternalLink before any link is kept,
        # PageCrawler.java:605-651) — applies to structure hits too
        exploded = exploded.withColumn(
            "link_reject", self.battery.internal_link_reject_reason(F.lower(F.col("link")))
        ).filter(F.col("link_reject").isNull()).drop("link_reject")

        mla_hits = mla_checked = None
        if rc.mla_predict_on:
            mla_hits, mla_checked = self._path_mla(rc, live, exploded)
            mla_pages = mla_hits.select("page_url").distinct()
            exploded = exploded.join(mla_pages, "page_url", "left_anti")
            doc_found = doc_found.join(mla_pages, "page_url", "left_anti")

        # J7 structure-MLA prediction (PageStructureMLA.predictDocOrDatasetLink
        # :65-100, called at PageCrawler.java:417): a gathered link whose
        # DOM structure matches a stored structure for this page-path is
        # the page's doc link — fetched outside the 5/10 caps.
        sm = rc.state.structure_model.select(
            F.col("page_path").alias("_m_pp"), F.col("structure").alias("_m_st"),
        ).withColumn("_m_hit", F.lit(True))
        exploded = exploded.withColumn("_pp", U.path_of(F.col("page_final")))
        exploded = exploded.join(
            F.broadcast(sm),
            (exploded["_pp"] == sm["_m_pp"]) & (exploded["structure"] == sm["_m_st"]),
            "left",
        ).drop("_m_pp", "_m_st")
        struct_hits = exploded.filter(F.col("_m_hit")).select(
            "id", "page_url", "page_final", "pos", "link", "structure",
            F.lit("structure").alias("phase"),
        )
        plain = exploded.filter(F.col("_m_hit").isNull()).drop("_m_hit", "_pp")
        plain = plain.withColumn(
            "is_doc_like",
            FL.is_possible_doc_url(F.lower(F.col("link")))
            | FL.is_possible_dataset_url(F.lower(F.col("link"))),
        )
        # A7 kill-switch (PageCrawler.checkRemainingInternalLinks
        # :710-728): once the "remaining links" phase has been evaluated
        # >= 20 times with a doc hit-rate < 0.2%, it is disabled for all
        # subsequent rounds (round-granular; counters live in lineage).
        prev_m = rc.state.metrics[-1] if rc.state.metrics else {}
        rem_evals = prev_m.get("remaining_evals", 0)
        rem_hits = prev_m.get("remaining_hits", 0)
        remaining_on = (
            rem_evals < ST.MIN_EVALUATIONS
            or (rem_hits / rem_evals) >= ST.HIT_RATE_THRESHOLD
        )
        wl = Window.partitionBy("page_url").orderBy(
            F.col("is_doc_like").desc(), F.col("pos")
        )
        plain = plain.withColumn("_lr", F.row_number().over(wl))
        plain = plain.filter(
            (F.col("is_doc_like") & (F.col("_lr") <= MAX_POSSIBLE_DOC_LINKS))
            | (
                F.lit(remaining_on)
                & ~F.col("is_doc_like")
                & (F.col("_lr") <= MAX_POSSIBLE_DOC_LINKS + MAX_REMAINING_LINKS)
            )
        ).select(
            "id", "page_url", "page_final", "pos", "link", "structure",
            F.when(F.col("is_doc_like"), "doclike").otherwise("remaining").alias("phase"),
        )

        # fan-out: next-round frontier + "page yielded nothing" anti-join
        links = (
            meta_c.unionByName(doc_found)
            .unionByName(struct_hits)
            .unionByName(plain)
        )
        if mla_hits is not None:
            links = links.unionByName(mla_hits)
        return links, mla_checked

    def _path_mla(self, rc: _Round, live: DataFrame, exploded: DataFrame):
        """J6 path-MLA prediction (MachineLearning.predictInternalDocUrl
        :253-353, called at PageCrawler.java:174 after the metadata scan
        and BEFORE the gathering loops): predicted doc url = known
        doc_path + docid(page) [+known extension], accepted only when
        present among the page's accepted links. A page with a hit
        skips its docfound/structure/doclike/remaining candidates (the
        reference returns from visit() on success) — if the prediction
        fails to verify next round, those skipped candidates are NOT
        retried (round-granular deviation; the reference falls back
        within the same visit)."""
        w_pm = Window.partitionBy("page_path")
        # a page_path with >5 doc_paths is too noisy to predict
        # from (MachineLearning.java:56-58,273-278)
        usable = rc.state.path_model.withColumn(
            "_npp", F.count(F.lit(1)).over(w_pm)
        ).filter(F.col("_npp") <= 5).drop("_npp")
        pred = (
            live.select(
                F.col("url").alias("_mp_page"),
                U.path_of(F.col("final_url")).alias("_mp_pp"),
                F.regexp_replace(
                    U.doc_id_of(F.col("final_url")), PLAIN_PAGE_EXT_RE, ""
                ).alias("_mp_docid"),
            )
            .filter(F.col("_mp_docid").isNotNull() & (F.col("_mp_docid") != ""))
            .join(F.broadcast(usable), F.col("_mp_pp") == usable["page_path"])
            .withColumn(
                "_mp_pred",
                F.concat(
                    F.col("doc_path"), F.col("_mp_docid"),
                    F.coalesce(F.col("doc_ext"), F.lit("")),
                ),
            )
        )
        preds = pred.select("_mp_page", "_mp_pred").distinct()
        mla_hits = exploded.join(
            F.broadcast(preds),
            (exploded["page_url"] == preds["_mp_page"])
            & (exploded["link"] == preds["_mp_pred"]),
        ).select(
            "id", "page_url", "page_final", F.lit(1).alias("pos"),
            "link", "structure", F.lit("mla").alias("phase"),
        )
        return mla_hits, pred.select("_mp_page").distinct()

    def _fallback_wave(self, rc: _Round, staged, picked, sched, spill,
                       classified, page_tagged, links, pool):
        """J4 fallback wave + skipped-row emission. Returns
        (results_delta, next_frontier, pool_next).

        An id's ATTEMPT row this round is its best url (round 0) or
        its injected fallback/spill re-entry (kind seed|fallback).
        RESOLVED = the attempt connected without a connect-level
        failure: any fetch outcome except category 'error', EXCEPT a
        dynamic-links page (the reference throws DomainBlockedException
        there, PageCrawler.java:610-611) — plus re-cross hits
        (connectAndCheckMimeType returns true on an already-found doc).
        FAILED = attempted but neither resolved nor quota-spilled:
        covers fetch errors, staging duplicates, silent domain blocks,
        403-path and robots gates — each of which the reference's
        checkRemainingUrls loop skips past to the next url."""
        next_frontier = links.select(
            F.col("id"),
            F.col("pos").cast("long").alias("order_in_id"),
            F.col("link").alias("url"),
            F.lit(1).alias("depth"),
            F.lit("internal").alias("kind"),
            "page_final", "structure",
            F.col("phase").alias("link_phase"),
        ).unionByName(
            # spilled rows re-enter untouched next round
            spill.select(
                "id", "order_in_id", "url", "depth", "kind",
                "page_final", "structure", "link_phase",
            )
        )
        is_attempt_kind = F.col("kind").isin("seed", "fallback")
        if rc.no == 0:
            attempt_ids = picked.select("id")
        else:
            attempt_ids = staged.filter(is_attempt_kind).select("id").distinct()
        dynamic_attempt_ids = page_tagged.filter(
            (F.col("_po") == "dynamic") & is_attempt_kind
        ).select("id")
        resolved_ids = (
            classified.filter(is_attempt_kind & (F.col("category") != "error"))
            .select("id")
            .join(dynamic_attempt_ids, "id", "left_anti")
            .unionByName(
                sched.filter(F.col("_orig_id").isNotNull() & is_attempt_kind)
                .select("id")
            )
            .distinct()
        )
        spilled_attempt_ids = spill.filter(is_attempt_kind).select("id")
        failed_ids = (
            attempt_ids.join(resolved_ids, "id", "left_anti")
            .join(spilled_attempt_ids, "id", "left_anti")
        )
        # resolved ids surrender their pool: every never-checked url
        # gets its "Skipped" row NOW (handleLogOfRemainingUrls)
        rc.results.append(self._unchecked_rows(
            pool.join(resolved_ids, "id", "left_semi"), _skipped_error(), rc.no
        ))
        # failed ids inject their next-ranked pool url into the next
        # round's frontier (one per round — the round-granular image of
        # the reference's sequential try-until-success loop)
        wn = Window.partitionBy("id").orderBy("rank")
        inject = (
            pool.join(failed_ids, "id")
            .withColumn("_fr", F.row_number().over(wn))
            .filter(F.col("_fr") == 1)
            .drop("_fr")
        )
        pool_next = (
            pool.join(resolved_ids, "id", "left_anti")
            .join(inject.select("id", "rank"), ["id", "rank"], "left_anti")
        )
        inject_frontier = inject.select(
            "id", "order_in_id", "url",
            F.lit(0).alias("depth"), F.lit("fallback").alias("kind"),
            F.lit(None).cast("string").alias("page_final"),
            F.lit(None).cast("string").alias("structure"),
            F.lit(None).cast("string").alias("link_phase"),
        )
        # every stage's result rows, in emission order
        results_delta = reduce(DataFrame.unionByName, rc.results)
        return results_delta, next_frontier.unionByName(inject_frontier), pool_next

    def _seen_delta(self, rc: _Round, staged, unseen, spill, pool_hashes,
                    classified) -> DataFrame:
        """Seen delta: EXACT-unique and disjoint from prior seen.

        (a) this round's unseen survivors: unique (_rn==1) and proven
        absent from seen (the mark) — MINUS quota-spilled rows, which
        are "not yet checked" and must be fetchable when they re-enter
        next round. (b) redirect/rewrite final urls whose hash differs
        from the fetched row's url_hash, minus everything already
        known. Disjoint union => the cumulative seen stays a true set
        with NO per-round distinct. (b) and (c) below drop known hashes
        with the exact shuffle-hash anti-join against the whole seen
        table (anti_join_seen), not the frontier mark's bloom
        prefilter."""
        seen = rc.state.seen
        new_staged_hashes = unseen.select("url_hash").join(
            spill.select("url_hash"), "url_hash", "left_anti"
        )
        if pool_hashes is not None:
            # J4 pool urls are "not yet checked" (exactly like spill):
            # they must stay fetchable for a later fallback wave.
            # Shared-url edge (ADVICE r3): this anti-join is global by
            # url_hash, but it CANNOT evict a fetched url's hash —
            # `unseen` is the _rn==1 slice (one row per url_hash), so a
            # url is either some id's picked/fetched row OR some id's
            # pool row this round, never both; the second occurrence was
            # already logged as "duplicate url" upstream. The only real
            # interplay is a REDIRECT landing on a pool url: its hash
            # then enters seen via final_new below, and the pool id's
            # later fallback wave is correctly marked duplicate.
            new_staged_hashes = new_staged_hashes.join(
                pool_hashes, "url_hash", "left_anti"
            )
        # the final url's seen key is the hash of its CANONICALIZED
        # form (``final_hash``, computed in the fetch cut) — the same
        # key every staged frontier row carries and the oracle's
        # xxh(url) = hash(canon(clean(url))). Hashing the raw Location
        # string minted keys no frontier row could ever match
        # (uppercase hosts, jsessionid, fragments) and omitted the
        # canonical one, so a later link to the same page re-fetched
        # where the oracle said 'duplicate url'.
        final_cand = (
            classified.filter(F.col("final_hash") != F.col("url_hash"))
            .select(F.col("final_hash").alias("url_hash"))
            .distinct()
        )
        final_new = SEEN.anti_join_seen(final_cand, seen).join(
            new_staged_hashes, "url_hash", "left_anti"
        )
        # (c) battery-REJECTED staged rows: the oracle adds every
        # staged row's canonical hash to seen, rejects included
        # (oracle.py: hash = url_hash if canon, before the reject
        # split) — without them a url rejected under one battery but
        # admitted under the other kind's battery later re-fetches
        # where the oracle says duplicate. prepare_frontier keeps that
        # hash as ``reject_hash`` (the canonicalize UDF runs on every
        # staged row). Same discard semantics as the oracle's set:
        # spilled/pool hashes knock a rejected contribution out for
        # this round too.
        rejected_cand = (
            staged.filter(F.col("reject_hash").isNotNull())
            .select(F.col("reject_hash").alias("url_hash"))
            .distinct()
        )
        rejected_hashes = (
            SEEN.anti_join_seen(rejected_cand, seen)
            .join(new_staged_hashes, "url_hash", "left_anti")
            .join(final_new, "url_hash", "left_anti")
            .join(spill.select("url_hash"), "url_hash", "left_anti")
        )
        if pool_hashes is not None:
            rejected_hashes = rejected_hashes.join(
                pool_hashes, "url_hash", "left_anti"
            )
        return new_staged_hashes.unionByName(final_new).unionByName(
            rejected_hashes
        )

    def _dimension_tables(self, rc: _Round, classified, sched, page_tagged,
                          dynamic_blocked):
        """The small tables rebuilt whole each round. Returns (fulls
        but fallback_pool, learned_pm or None)."""
        state = rc.state
        is_doc = _is_doc()
        # ---- A2/A3/A4: counter deltas + rule evaluation ---------------
        # one aggregation pass per source, unioned into the dimension
        # merge (operators/blocking.py has the citations)
        is_5xx_countable = (
            F.col("error_class").rlike("^http_5..$")
            & (F.col("error_class") != "http_503")
        )
        no_type = (
            F.col("error_class").isNull()
            & F.col("content_type").isNull()
            & F.col("content_disposition").isNull()
        )
        fetch_counts = _counts(
            classified, F.col("host"),
            n5xx=F.when(is_5xx_countable, 1).otherwise(0),
            n_timeout=F.when(F.col("error_class") == "conn_timeout", 1).otherwise(0),
            n_notype=F.when(no_type, 1).otherwise(0),
            n_notdocnorpage=F.when(
                (F.col("category") == "other") & ~no_type, 1
            ).otherwise(0),
            # +1 good for the PAGE domain of every doc hit (UrlUtils.java:113)
            good=F.when(is_doc, 1).otherwise(0),
        )
        # +1 good for the DOC-URL domain of every doc hit (UrlUtils.java:119)
        doc_domain_counts = _counts(
            classified.filter(is_doc),
            U.top3_domain(U.domain_of(F.col("final_url"))),
            good=F.lit(1),
        )
        # re-crossed rows are output docUrl rows too (handleReCrossedTargetUrl
        # -> addOutputData): page domain + doc domain each +1
        recross_rows = sched.filter(F.col("_orig_id").isNotNull())
        recross_page_counts = _counts(recross_rows, F.col("top3"), good=F.lit(1))
        recross_doc_counts = _counts(
            recross_rows, U.top3_domain(U.domain_of(F.col("canon_url"))),
            good=F.lit(1),
        )
        page_counts = _counts(
            page_tagged.filter(F.col("_po").isin("nolinks", "nodocurl")),
            F.col("host"),
            n_nodocurls=F.when(F.col("_po") == "nodocurl", 1).otherwise(0),
            n_nolinks=F.when(F.col("_po") == "nolinks", 1).otherwise(0),
        )
        dom_delta = (
            fetch_counts.unionByName(doc_domain_counts)
            .unionByName(recross_page_counts)
            .unionByName(recross_doc_counts)
            .unionByName(page_counts)
        ).filter(F.col("domain").isNotNull())
        domain_counts = B.merge_domain_counts(state.domain_counts, dom_delta).cache()
        rc.caches.append(domain_counts)

        path_delta = classified.filter(F.col("error_class") == "http_403").groupBy(
            F.col("host").alias("domain"),
            B.dir_path(F.col("final_url")).alias("path"),
        ).agg(F.count(F.lit(1)).alias("n403"))
        # dimension tables are tiny but their delta subplans fan out to
        # several materialization jobs — cache the merged result once
        path_counts = B.merge_path_counts(state.path_counts, path_delta).cache()
        rc.caches.append(path_counts)
        blocked_paths = B.eval_blocked_paths(path_counts)

        # P11 learning: protocol-only / slash-only hops mark the TARGET
        # domain (HttpConnUtils.java:613-623); cumulative OR-merge.
        https_learned = classified.filter(
            F.col("learned_https_url").isNotNull()
        ).select(
            U.top3_domain(U.domain_of(F.col("learned_https_url"))).alias("domain"),
            F.lit(True).alias("https_ok"), F.lit(False).alias("slash_ok"),
        )
        slash_learned = classified.filter(
            F.col("learned_slash_url").isNotNull()
        ).select(
            U.top3_domain(U.domain_of(F.col("learned_slash_url"))).alias("domain"),
            F.lit(False).alias("https_ok"), F.lit(True).alias("slash_ok"),
        )
        domain_flags = (
            state.domain_flags.unionByName(https_learned)
            .unionByName(slash_learned)
            .filter(F.col("domain").isNotNull())
            .groupBy("domain")
            .agg(F.max("https_ok").alias("https_ok"), F.max("slash_ok").alias("slash_ok"))
        )

        # J7 learning (PageStructureMLA.java:35-40): every VERIFIED doc
        # that arrived via an extracted link stores (page_path, structure)
        learned_struct = classified.filter(
            is_doc & F.col("structure").isNotNull() & F.col("page_final").isNotNull()
        ).select(
            U.path_of(F.col("page_final")).alias("page_path"), "structure"
        ).filter(F.col("page_path").isNotNull())
        structure_model = state.structure_model.unionByName(learned_struct).distinct()

        # J6 learning (gatherMLData, MachineLearning.java:121-168):
        # every verified doc that came via a page stores
        # (page_path -> doc_path) and the doc_path's file extension.
        # Runs whenever use_mla (the reference gathers regardless of
        # the prediction gate); pairs are distinct-merged, extensions
        # keep max() per doc_path (deterministic last-write-wins).
        prior_pm = state.path_model
        if self.use_mla:
            learned_pm = classified.filter(
                is_doc & F.col("page_final").isNotNull()
                & (F.col("final_url") != F.col("page_final"))
            ).select(
                U.path_of(F.col("page_final")).alias("page_path"),
                U.path_of(F.col("final_url")).alias("doc_path"),
                F.nullif(
                    F.regexp_extract(
                        U.doc_id_of(F.col("final_url")),
                        r"(\.[A-Za-z0-9]{1,7})$", 1,
                    ),
                    F.lit(""),
                ).alias("doc_ext"),
            ).filter(
                F.col("page_path").isNotNull() & F.col("doc_path").isNotNull()
            )
            pm_pairs = (
                prior_pm.select("page_path", "doc_path")
                .unionByName(learned_pm.select("page_path", "doc_path"))
                .distinct()
            )
            pm_exts = (
                prior_pm.select("doc_path", "doc_ext")
                .unionByName(learned_pm.select("doc_path", "doc_ext"))
                .filter(F.col("doc_ext").isNotNull())
                .groupBy("doc_path")
                .agg(F.max("doc_ext").alias("doc_ext"))
            )
            path_model = pm_pairs.join(F.broadcast(pm_exts), "doc_path", "left").select(
                "page_path", "doc_path", "doc_ext"
            )
        else:
            learned_pm = None
            path_model = prior_pm

        unknown_blocked = classified.filter(
            F.col("error_class") == "unknown_code"
        ).select(F.col("host").alias("domain")).distinct()
        blocked = (
            state.blocked_domains
            .unionByName(B.eval_blocked_domains(domain_counts, blocked_paths))
            .unionByName(dynamic_blocked)
            .unionByName(unknown_blocked)
            .distinct()
        )
        return {
            "blocked_domains": blocked,
            "domain_counts": domain_counts,
            "path_counts": path_counts,
            "domain_flags": domain_flags,
            "structure_model": structure_model,
            "path_model": path_model,
        }, learned_pm

    def _fetch_deltas(self, rc: _Round, classified: DataFrame) -> dict:
        """Payload delta, plus the order log / html sink when on."""
        state = rc.state
        # ---- payload delta (J5 source table): new image ids only ------
        new_payloads = classified.filter(
            _is_doc() & F.col("image_id").isNotNull()
        ).select("image_id").distinct()
        if state.payloads is not None:
            new_payloads = new_payloads.join(state.payloads, "image_id", "left_anti")
        deltas = {"payloads": new_payloads}
        if self.record_order:
            deltas["order_log"] = classified.select(
                F.lit(rc.no).alias("round"), F.col("host"),
                F.col("url_hash"), F.col("planned_fetch_ms"),
            )
        if self.store_html:
            # S6 html sink: hash+size per visited page (the reference
            # stores the file and logs md5/size; the table IS the sink)
            deltas["pages_html"] = classified.filter(
                (F.col("category") == "page") & F.col("html_body").isNotNull()
            ).select(
                F.col("url"), F.col("final_url"),
                F.md5(F.col("html_body")).alias("html_hash"),
                F.length(F.col("html_body")).alias("html_size"),
                F.lit(rc.no).alias("round"),
            )
        return deltas

    def _metrics_plan(self, rc: _Round, staged, classified, links, live,
                      learned_pm, mla_checked) -> DataFrame:
        """The round's ONE metrics plan. Per-partition lineage (north rule): frontier offsets and
        fetch/error counters per host_bucket + delta cardinalities —
        all over warm caches, collected by the crawl loop in a single
        job after materialization."""
        is_doc = _is_doc()
        # A7 counters on the reference's PER-PAGE basis
        # (PageCrawler.java:715-717,761): timesCheckedRemainingLinks
        # increments once per checkRemainingInternalLinks CALL (here: a
        # page that emitted >=1 remaining-phase candidate this round),
        # timesFound... once per page whose remaining link verified (the
        # reference stops at the first hit, so max one per page —
        # countDistinct over the parent page reproduces that). Evals are
        # counted at link-GENERATION time (round R), hits at fetch time
        # (round R+1) — the round-granular image of the reference's
        # sequential increment-then-check.
        metrics_df = (
            _bucket_rows(staged, "staged", F.col("reject_reason").isNotNull())
            .unionByName(_bucket_rows(
                classified, "fetch", F.col("error_class").isNotNull()
            ))
            .unionByName(_count_row(
                links.filter(F.col("phase") == "remaining"), "remaining_evals",
                # page_url (the fetched row's source url) is unique per
                # round — page_final could collapse two pages that
                # redirect to one final url into a single eval
                F.countDistinct("page_url"),
            ))
            .unionByName(_count_row(
                classified.filter((F.col("link_phase") == "remaining") & is_doc),
                "remaining_hits", F.countDistinct("page_final"),
            ))
        )
        if not self.use_mla:
            return metrics_df
        # A8 gate counter deltas, all over already-planned frames; the
        # mla_checked row exists only when prediction ran (finalize
        # reads an absent tag as 0)
        metrics_df = (
            metrics_df
            .unionByName(_count_row(learned_pm, "mla_gathered"))
            .unionByName(_count_row(live, "mla_pages"))
        )
        if mla_checked is not None:
            metrics_df = metrics_df.unionByName(
                _count_row(mla_checked, "mla_checked")
            )
        return metrics_df.unionByName(_count_row(
            classified.filter((F.col("link_phase") == "mla") & is_doc),
            "mla_found", F.countDistinct("page_final"),
        ))

    def _finalize(self, rc: _Round, rows: list, delta_counts: dict[str, int]) -> None:
        """Ingest the fused metrics job's rows (collected AFTER the
        round's deltas materialized) and release the caches."""
        state = rc.state
        staged_rows = [r for r in rows if r["_t"] == "staged"]
        fetch_rows = [r for r in rows if r["_t"] == "fetch"]
        tally: dict[str, int] = {}
        for r in rows:
            tally[r["_t"]] = tally.get(r["_t"], 0) + r["n"]
        prev = state.metrics[-1] if state.metrics else {}
        prev_seen = prev.get("seen_total", 0)
        state.metrics.append({
            "round": rc.no,
            "frontier_in": sum(r["n"] for r in staged_rows),
            "rejected": sum(r["x"] or 0 for r in staged_rows),
            "fetched": sum(r["n"] for r in fetch_rows),
            "results": delta_counts.get("results", 0),
            "seen_total": prev_seen + delta_counts.get("seen", 0),
            "frontier_next": delta_counts.get("frontier", 0),
            "remaining_evals": prev.get("remaining_evals", 0)
            + tally.get("remaining_evals", 0),
            "remaining_hits": prev.get("remaining_hits", 0)
            + tally.get("remaining_hits", 0),
            "frontier_offsets": {
                str(r["host_bucket"]): r["n"] for r in staged_rows
            },
            "fetch_counters": {
                str(r["host_bucket"]): {"fetched": r["n"], "errors": r["x"]}
                for r in fetch_rows
            },
        })
        if self.use_mla:
            self.mla_gate.observe_round(
                gathered=tally.get("mla_gathered", 0),
                pages_reached=tally.get("mla_pages", 0),
                checked=tally.get("mla_checked", 0),
                found=tally.get("mla_found", 0),
            )
            # gate state rides the lineage: resume restores it
            state.metrics[-1]["mla_gate"] = self.mla_gate.to_lineage()
            state.metrics[-1]["mla_predicted"] = rc.mla_predict_on
        for df in rc.caches:
            df.unpersist()

    # ------------------------------------------------------------------

    def _state_from(
        self, tables: dict[str, DataFrame], metrics: list[dict]
    ) -> CrawlState:
        """The CrawlState over a store's tables: a round's read-back or
        a resumed snapshot. A table the store does not hold (a catalog
        written before the table existed, or a fresh crawl) starts
        empty; ``blocked_paths`` is a filter over ``path_counts``,
        re-derived here and never stored."""
        held = {n: df for n, df in tables.items() if n in _STATE_TABLES}
        state = CrawlState(
            **{n: _empty(self.spark, schema)
               for n, schema in _EMPTY_STATE.items() if n not in held},
            **held,
            metrics=metrics,
        )
        state.blocked_paths = B.eval_blocked_paths(state.path_counts)
        return state

    def _maintain_seen_sketch(
        self,
        sketch: DataFrame | None,
        meta: dict | None,
        seen_cum: DataFrame,
        seen_delta: DataFrame | None,
        seen_total: int,
    ) -> tuple[DataFrame | None, dict | None]:
        """Incremental maintenance of the sharded J2 sketch so the
        per-round sketch cost tracks the round DELTA, not the crawl age
        (a full re-sketch of 10^10 seen keys every round is O(age) and
        shows up directly as growing round walls in the flatness bench).

        - below the sharded threshold: no sketch (exact/whole-set paths)
        - first sharded round, capacity overflow, or no delta handle:
          FULL rebuild sized 4x ahead — amortized O(1)/key since each
          rebuild quadruples capacity (fpp stays below target between
          rebuilds because the sketch is sized for 4x the current keys)
        - otherwise: partials over the round's seen delta, OR-merged
          into the persisted (shard, bits) table (~n_shards tiny rows)
        """
        if seen_total < self.sharded_threshold:
            return None, None
        if sketch is None or meta is None or seen_total > meta["capacity"] \
                or seen_delta is None:
            capacity = max(seen_total * 4, self.sharded_threshold * 4)
            n_shards = SEEN.shards_for(capacity)
            m_bits, k = SEEN.shard_sketch_params(capacity, n_shards)
            sk = SEEN.build_bloom_shards(
                seen_cum, "url_hash", capacity=capacity, n_shards=n_shards,
                m_bits=m_bits, k=k,
            ).localCheckpoint(eager=True)
            return sk, {"capacity": capacity, "n_shards": n_shards,
                        "m_bits": m_bits, "k": k}
        partials = SEEN.build_bloom_shards(
            seen_delta, "url_hash", capacity=meta["capacity"],
            n_shards=meta["n_shards"], m_bits=meta["m_bits"], k=meta["k"],
        )
        sk = SEEN.merge_shard_sketches(
            sketch, partials, meta["m_bits"], meta["k"]
        ).localCheckpoint(eager=True)
        return sk, meta

    def crawl(
        self,
        seeds: DataFrame | None,
        max_rounds: int = 3,
        catalog=None,
        resume: bool = False,
    ) -> CrawlState:
        """Run the round loop. Every round commits one snapshot (delta
        appends + dimension tables + lineage) to ``catalog``, or to an
        in-memory ``MemoryCatalog`` when none is given; ``resume=True``
        restores the catalog's latest snapshot and continues exactly
        where it stopped — byte-identical to an uninterrupted run
        (tested).

        Each round costs a FIXED number of driver actions regardless of
        crawl age: the results delta and the two counter tables
        materialize first (which computes the round's caches), the
        remaining tables concurrently against warm caches, and ONE
        fused metrics job overlapping all of them; the delta and
        next-frontier counts ride the writes (no isEmpty probe). State
        I/O is O(round delta), not O(cumulative): the union of
        immutable delta parts is the cumulative table, compacted once
        the parent snapshot holds ``compact_every`` parts."""
        spark = self.spark
        store = catalog if catalog is not None else MemoryCatalog()
        if resume:
            manifest, tables = store.load(spark)
            state = self._state_from(
                tables, manifest["lineage"].get("rounds", [])
            )
            # A8 gate state round-trips through snapshot lineage
            if self.use_mla and state.metrics:
                gate_lineage = state.metrics[-1].get("mla_gate")
                if gate_lineage:
                    self.mla_gate = ST.MlaGate.from_lineage(gate_lineage)
            frontier = tables["frontier"]
            start_round = manifest["round"] + 1
            pending = (
                state.metrics[-1].get("frontier_next")
                if state.metrics else None
            )
        else:
            state = self._state_from({}, [])
            frontier = (
                seeds.withColumn("depth", F.lit(0))
                .withColumn("kind", F.lit("seed"))
                .withColumn("page_final", F.lit(None).cast("string"))
                .withColumn("structure", F.lit(None).cast("string"))
                .withColumn("link_phase", F.lit(None).cast("string"))
            )
            start_round = 0
            pending = None

        # Narrow-coalesce the two union deltas before the close: the
        # results and frontier deltas are unions of MANY per-branch
        # frames, each carrying its own parallelism-sized partition
        # slice (measured 384 and 194 partitions per round), so the
        # close job AND every next-round scan pay hundreds of
        # near-empty task dispatches. coalesce is shuffle-free and
        # num_buckets scales with the configured cluster parallelism.
        nb = self.num_buckets
        for rnd in range(start_round, max_rounds):
            if pending == 0:
                break
            if pending is None and frontier.isEmpty():
                break
            round_t0 = _time.time()
            out = self.run_round(state, frontier, rnd)
            built = _time.time() - round_t0
            parent = store.latest()
            compact = bool(parent) and len(
                parent["tables"].get("results", {}).get("paths", [])
            ) >= self.compact_every
            # the fused metrics job reads only warm caches
            # (staged/classified/links) and the delta counts come from
            # the store, so it overlaps the whole close
            with ThreadPoolExecutor(max_workers=1) as side:
                metrics_job = side.submit(_timed_collect, out.metrics_df)
                snap_id, table_meta, loaded = store.write_round(
                    spark,
                    deltas={
                        **out.deltas,
                        "results": out.deltas["results"].coalesce(nb),
                    },
                    fulls={
                        **out.fulls,
                        "frontier": out.next_frontier.coalesce(nb),
                    },
                    prior={n: getattr(state, n) for n in out.deltas},
                    warm_first=("results", "domain_counts", "path_counts"),
                    compact=compact,
                )
                rows, metrics_s = metrics_job.result()
            prev_sketch, prev_meta = state.seen_sketch, state.sketch_meta
            state = self._state_from(loaded, state.metrics)
            frontier = loaded["frontier"]
            out.finalize(rows, {
                "results": table_meta["results"]["delta_rows"],
                "seen": table_meta["seen"]["delta_rows"],
                "frontier": table_meta["frontier"]["rows"],
            })
            # incremental J2 sketch over the round's seen delta part —
            # O(delta) per round; a compacting round (cumulative
            # rewrite, already O(age) by design) rebuilds it in full
            t0 = _time.time()
            seen_delta = None if compact else store.read_part(
                spark, table_meta["seen"]["paths"][-1], loaded["seen"].schema
            )
            state.seen_sketch, state.sketch_meta = self._maintain_seen_sketch(
                prev_sketch, prev_meta, state.seen, seen_delta,
                state.metrics[-1]["seen_total"],
            )
            last = state.metrics[-1]
            # always-on driver-phase ledger (cheap time.time() deltas):
            # the scaling bench reads it to split the per-round wall
            # into fixed driver cost vs scalable work
            last["driver_phases"] = {
                "construct": round(
                    built - sum(secs for secs, _ in out.cuts.values()), 3
                ),
                "cuts": {k: round(secs, 3) for k, (secs, _) in out.cuts.items()},
                "cut_parts": {k: n for k, (_, n) in out.cuts.items()},
                "stages": out.stages,
                **store.walls,
                "metrics": metrics_s,
                "sketch": round(_time.time() - t0, 3),
            }
            # flag the round that paid the amortized state rewrite:
            # flatness evidence must separate the compaction cadence
            # (O(cumulative) every compact_every rounds BY DESIGN)
            # from steady-state per-round cost
            last["compacted"] = compact
            # the per-round wall (scaling-flatness evidence) lands
            # BEFORE the commit serializes the lineage, so it persists
            # for the crawl's final round too
            last["wall_sec"] = round(_time.time() - round_t0, 3)
            store.finish_commit(
                snap_id, table_meta, rnd, {"rounds": state.metrics, "last": last}
            )
            pending = last["frontier_next"]
        state.frontier = frontier
        # J4 end-of-crawl flush (handleLogOfRemainingUrls,
        # LoaderAndChecker.java:685-698): pool urls never checked —
        # their id never resolved within max_rounds — still owe one
        # output row each. The flush augments the RETURNED results view
        # only (round = -1 marks post-crawl emission); the persisted
        # state keeps the pool pending, so a resumed crawl with more
        # rounds continues the fallback waves exactly.
        state.results = state.results.unionByName(
            self._unchecked_rows(state.fallback_pool, _skipped_error(), -1)
        )
        # attempt rows still pending in the never-executed next frontier
        # (a fallback injected on the last round, or a quota-spilled
        # seed) are input records the crawl ran out of rounds for —
        # they too owe an output row (no reference analog: the
        # reference always runs to completion; round-budgeted crawls
        # surface the budget in the error text instead)
        state.results = state.results.unionByName(self._unchecked_rows(
            frontier.filter(F.col("kind").isin("seed", "fallback")),
            "Not checked: crawl round budget exhausted", -1,
        ))
        return state

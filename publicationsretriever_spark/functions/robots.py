"""robots.txt parsing (RFC 9309) — raw fetched bodies -> the engine's
robots-rules table.

The crawl engine's robots gate consumes a structured
``(domain, disallow array<string>)`` frame (plans/rounds.py robots
broadcast; the synthetic web hands it over pre-parsed). Production
fetches raw ``/robots.txt`` bodies — this module is the adapter, and
``longest_rule_match`` is the gate's RFC 9309 rule matcher.

Group semantics per RFC 9309 §2.2: a group is one or more consecutive
``User-agent`` lines followed by rules; a ``User-agent`` line after a
rule line starts a NEW group. The most specific match wins wholesale:
if any group names our product token exactly (case-insensitive), the
union of those groups' rules applies and every ``*`` group is ignored;
otherwise the ``*`` groups apply. ``Crawl-delay`` (non-standard but
ubiquitous) rides its group under the same precedence; ``Sitemap``
lines are global, outside any group (§2.3) — they feed
functions/sitemap.expand_sitemaps.

Parsing is a stateful per-line machine, so (exactly like the G3 HTML
link extractor) it runs as a vectorized pandas UDF, NOT a column
expression — and that is fine at 10^10-URL scale: robots bodies are
one small row per DOMAIN (~10^6-10^7 rows), a non-hot path fetched
once per host per crawl-delay window, never per URL.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

RULES_TYPE = T.StructType(
    [
        T.StructField("disallow", T.ArrayType(T.StringType())),
        T.StructField("allow", T.ArrayType(T.StringType())),
        T.StructField("crawl_delay", T.DoubleType()),
        T.StructField("sitemaps", T.ArrayType(T.StringType())),
    ]
)


def parse_robots(body: str | None, agent: str = "*") -> dict:
    """Parse one robots.txt body for ``agent`` (product token,
    case-insensitive exact match; '*' groups are the fallback).
    Lenient like real crawlers: unknown fields and malformed lines are
    skipped; a missing/empty body allows everything."""
    star: dict = {"disallow": [], "allow": [], "crawl_delay": None}
    exact: dict = {"disallow": [], "allow": [], "crawl_delay": None}
    sitemaps: list[str] = []
    exact_seen = False
    agent_lc = agent.lower()

    cur_targets: list[dict] = []
    rules_open = False  # a rule line was seen since the last UA line
    if body:
        for raw in body.splitlines():
            line = raw.split("#", 1)[0].strip()
            if not line or ":" not in line:
                continue
            field, _, value = line.partition(":")
            field = field.strip().lower()
            value = value.strip()
            if field == "sitemap":
                if value:
                    sitemaps.append(value)
                continue
            if field == "user-agent":
                if rules_open:
                    cur_targets = []
                    rules_open = False
                ua = value.lower()
                if ua == agent_lc and agent_lc != "*":
                    exact_seen = True
                    if exact not in cur_targets:
                        cur_targets.append(exact)
                elif ua == "*":
                    if star not in cur_targets:
                        cur_targets.append(star)
                continue
            if field in ("disallow", "allow"):
                rules_open = True
                # an empty Disallow means "allow all" — a no-op rule,
                # recorded nowhere (RFC 9309 §2.2.2)
                if value:
                    for t in cur_targets:
                        t[field].append(value)
                continue
            if field == "crawl-delay":
                rules_open = True
                try:
                    d = float(value)
                except ValueError:
                    continue
                for t in cur_targets:
                    t["crawl_delay"] = d

    chosen = exact if exact_seen else star
    return {
        "disallow": chosen["disallow"],
        "allow": chosen["allow"],
        "crawl_delay": chosen["crawl_delay"],
        "sitemaps": sitemaps,
    }


def make_parse_robots_udf(agent: str = "*"):
    @F.pandas_udf(RULES_TYPE)
    def _udf(body: pd.Series) -> pd.DataFrame:
        rows = [parse_robots(b, agent) for b in body]
        return pd.DataFrame(rows)

    return _udf


def robots_rules_df(
    pages: DataFrame,
    agent: str = "*",
    domain_col: str = "domain",
    body_col: str = "body",
) -> DataFrame:
    """Fetched robots.txt bodies -> the engine's gate table:
    (domain, disallow, allow, crawl_delay, sitemaps). Drop-in for
    CrawlEngine's ``robots_df`` (which reads domain + disallow; the
    extra columns feed the politeness clock and sitemap expansion)."""
    udf = make_parse_robots_udf(agent)
    return pages.select(
        F.col(domain_col).alias("domain"), udf(F.col(body_col)).alias("r")
    ).select(
        "domain",
        F.col("r.disallow").alias("disallow"),
        F.col("r.allow").alias("allow"),
        F.col("r.crawl_delay").alias("crawl_delay"),
        F.col("r.sitemaps").alias("sitemaps"),
    )


def longest_rule_match(rules: Column, path: Column) -> Column:
    """Octet length of the longest rule in ``rules`` matching ``path``
    (an attribute: it is read once per rule), 0 when none does — the
    RFC 9309 §2.2.2 longest-match ranking. §2.2.3: '*' (any chars) and
    a TRAILING '$' (end anchor) MUST be supported — rules carrying
    either take the regex branch (escape regex specials, '*' -> '.*',
    '$' kept as the anchor); plain rules stay on the cheap startswith
    path. Specificity counts the RULE's own octets either way."""

    def matches(p: Column) -> Column:
        anchored = p.endswith("$")
        base = F.when(
            anchored, F.substring(p, 1, F.length(p) - 1)
        ).otherwise(p)
        esc = F.regexp_replace(
            base, r"([.^$+?(){}\[\]\\|])", r"\\$1"
        )
        pat = F.concat(
            F.lit("^"),
            F.replace(esc, F.lit("*"), F.lit(".*")),
            F.when(anchored, F.lit("$")).otherwise(F.lit("")),
        )
        return F.when(
            p.contains("*") | p.endswith("$"), F.regexp_like(path, pat),
        ).otherwise(path.startswith(p))

    return F.aggregate(
        F.filter(rules, matches),
        F.lit(0),
        lambda acc, p: F.greatest(acc, F.length(p)),
    )

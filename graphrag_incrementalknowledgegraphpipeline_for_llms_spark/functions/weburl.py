"""URL canonicalization and canonical-URL dedup for web-crawl tables.

A Common-Crawl-style corpus re-crawls the same page under many URL
spellings: case-varied hosts, ``www.`` prefixes, default ports,
tracking query parameters (``utm_*``, ``gclid``, ...), reordered query
strings, fragments, and trailing slashes.  Before any content-level
dedup (exact hash, MinHash — operators/dedup.py) a URL-level pass
collapses these for free: it needs no page bytes at all, only the url
column, so it runs before html/text is ever shuffled.  The reference
pipeline keys its chunk identity on the raw url
(GraphRagJob.scala uses url verbatim in chunk ids); this module is the
beyond-reference curation stage a web-scale deployment inserts ahead
of that keying.

Everything here is a pure Catalyst column expression — no UDFs — and
every regex is in the Java∩RE2 common subset so a DuckDB oracle can
replay it verbatim.

Scale shape: :func:`canonicalize_url` is per-row string work inside
whole-stage codegen; :func:`dedup_by_canonical_url` shuffles only
``(canonical_url, ts, url)`` triples for winner election and fetches
winner rows with a semi-join — page payloads (html/text) cross the
wire exactly once, in the final join's probe side, never through the
aggregate (the narrow-winner pattern of sources/catalog.py's
merge_upsert, which memory shows beats max_by-of-struct's
SortAggregate at 10M+ rows).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Tracking parameters stripped during canonicalization.  Plain
# alternation, anchored, no backrefs/lookarounds: Java and RE2 agree.
TRACKING_PARAM_RE = r"^(utm_[A-Za-z0-9_]*|fbclid|gclid|msclkid|ref)(=|$)"

_SCHEME_RE = r"^([A-Za-z][A-Za-z0-9+.-]*)://"
_HOSTPORT_RE = r"^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)"
_PATH_RE = r"^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)"


def canonicalize_url(url: Column) -> Column:
    """Canonical form of an absolute http(s) URL, as a pure column
    expression: strip the fragment; lowercase scheme and host; drop a
    leading ``www.``; drop the scheme's default port (``:80`` for
    http, ``:443`` for https); strip trailing slashes from the path;
    drop tracking query parameters (``TRACKING_PARAM_RE``); sort the
    surviving parameters bytewise.  Non-URL strings (no ``scheme://``)
    canonicalize to the empty-host form ``'://'``-less string ``''``
    prefix — callers filter on ``canonical_url != ''`` if the column
    may hold junk; the synthesized and crawled tables here always
    carry absolute URLs.

    Deliberately NOT collapsed: scheme differences (http vs https are
    different fetches), non-tracking parameter differences, and
    percent-encoding (decoding is not idempotent-safe without charset
    knowledge — a canonicalizer must never merge two URLs a server
    could distinguish)."""
    u = F.regexp_replace(url, r"#.*$", "")
    scheme = F.lower(F.regexp_extract(u, _SCHEME_RE, 1))
    hostport = F.lower(F.regexp_extract(u, _HOSTPORT_RE, 1))
    host = F.regexp_replace(hostport, r"^www\.", "")
    host = (
        F.when(scheme == "https", F.regexp_replace(host, r":443$", ""))
        .when(scheme == "http", F.regexp_replace(host, r":80$", ""))
        .otherwise(host)
    )
    path = F.regexp_replace(F.regexp_extract(u, _PATH_RE, 1), r"/+$", "")
    query = F.regexp_extract(u, r"\?(.*)$", 1)
    params = F.filter(
        F.split(query, "&"),
        lambda x: (x != "") & ~x.rlike(TRACKING_PARAM_RE),
    )
    qs = F.array_join(F.array_sort(params), "&")
    return F.when(
        scheme == "",
        F.lit(""),
    ).otherwise(
        F.concat(
            scheme,
            F.lit("://"),
            host,
            path,
            F.when(qs != "", F.concat(F.lit("?"), qs)).otherwise(F.lit("")),
        )
    )


def dedup_by_canonical_url(
    df: DataFrame,
    url_col: str = "url",
    ts_col: str = "warc_ts",
) -> DataFrame:
    """One row per canonical URL: the latest-``ts_col`` crawl wins,
    ties broken by bytewise-greatest raw url (a total order, so the
    result is partitioning-independent).  Returns the winner's full
    row plus ``canonical_url`` and ``n_dups`` (group size).

    Winner election shuffles only (canonical_url, ts, url); the
    winner's payload columns are fetched by a null-safe equi-join back
    against the canonicalized input on the full winner key.  Rows that
    TIE on the winner key (re-exported crawl dumps repeat identical
    (url, ts) records, sometimes with differing payload bytes) are
    broken by a content hash so exactly one row per canonical URL
    survives, deterministically — the residual window runs only over
    winner-key-matching rows (one per group plus ties), never the
    corpus."""
    from pyspark.sql import Window

    in_cols = list(df.columns)
    canon = df.withColumn("canonical_url", canonicalize_url(F.col(url_col)))
    winners = canon.groupBy("canonical_url").agg(
        F.max(F.struct(F.col(ts_col).alias("ts"), F.col(url_col).alias("u"))).alias(
            "w"
        ),
        F.count(F.lit(1)).alias("n_dups"),
    )
    winners = winners.select(
        "canonical_url",
        F.col("w.ts").alias("__win_ts"),
        F.col("w.u").alias("__win_url"),
        "n_dups",
    )
    joined = (
        canon.join(
            winners,
            (canon["canonical_url"] == winners["canonical_url"])
            & canon[ts_col].eqNullSafe(winners["__win_ts"])
            & (canon[url_col] == winners["__win_url"]),
        )
        .drop(winners["canonical_url"])
        .drop("__win_ts", "__win_url")
    )
    tie = Window.partitionBy("canonical_url").orderBy(
        F.desc(F.xxhash64(F.struct(*[F.col(c) for c in in_cols])))
    )
    return (
        joined.withColumn("__rn", F.row_number().over(tie))
        .where(F.col("__rn") == 1)
        .drop("__rn")
    )


# Soft-blocklist terms for URL-level quality gating (the RefinedWeb /
# C4 idea reduced to a deterministic, auditable word list — a real
# deployment swaps in the published UT1 blocklist categories).  Plain
# substring terms, lowercase; matching is contains(), not regex, so
# the oracle replays it with the same semantics.
URL_BLOCKLIST_TERMS = (
    "casino",
    "porn",
    "viagra",
    "xxx",
    "free-download",
    "lottery",
)


def url_quality(
    df: DataFrame,
    url_col: str = "url",
    max_penalty: float = 1.0,
) -> DataFrame:
    """RefinedWeb-style URL-level quality gate (Penedo et al. 2023
    §"URL filtering"; C4's bad-words gate is the same idea): score
    every URL from the characters of the URL ALONE — no page bytes —
    so the gate runs before html is ever fetched from storage, the
    cheapest possible curation stage at crawl scale.

    Features (all pure Catalyst, Java∩RE2 only):

    - ``blocklist_hits``: count of soft-blocklist terms contained in
      the lowercased URL (weight 3 each — one hit usually decides),
    - ``frac_digits``: digit characters / URL length (link-farm and
      session-id spam runs digit-heavy),
    - ``n_params``: query parameters (tracker/affiliate overload),
    - ``path_depth``: path segments (crawler-trap calendars and
      faceted navigation nest deep),
    - ``url_len``: raw length.

    penalty = 3*hits + 2*frac_digits + n_params/10 + path_depth/10
    + url_len/200; ``keep`` = penalty < ``max_penalty``.  The weights
    are fixed, documented constants — the point is the deterministic
    PLUMBING (score columns + gate, oracle-replayable); production
    tunes the weights against labeled crawl samples.

    Returns df + (blocklist_hits, frac_digits, n_params, path_depth,
    url_len, url_penalty, keep).  Pure per-row expressions: at 10^12
    URLs this is a scan-stage map with zero shuffle."""
    u = F.lower(F.col(url_col))
    hits = None
    for t in URL_BLOCKLIST_TERMS:
        h = F.contains(u, F.lit(t)).cast("int")
        hits = h if hits is None else (hits + h)
    url_len = F.length(u)
    n_digits = url_len - F.length(F.regexp_replace(u, r"[0-9]", ""))
    frac_digits = F.when(url_len > 0, n_digits / url_len).otherwise(F.lit(0.0))
    qmark = F.locate("?", u)
    query = F.when(qmark > 0, F.substring_index(u, "?", -1)).otherwise(F.lit(""))
    n_params = F.when(
        F.length(query) > 0,
        F.size(F.split(query, "&")),
    ).otherwise(F.lit(0))
    path = F.regexp_extract(u, _PATH_RE, 1)
    path_depth = F.when(
        F.length(path) > 1,
        F.length(path) - F.length(F.regexp_replace(path, "/", "")),
    ).otherwise(F.lit(0))
    penalty = (
        F.lit(3.0) * hits
        + F.lit(2.0) * frac_digits
        + n_params / F.lit(10.0)
        + path_depth / F.lit(10.0)
        + url_len / F.lit(200.0)
    )
    return df.select(
        "*",
        hits.alias("blocklist_hits"),
        F.round(frac_digits, 6).alias("frac_digits"),
        n_params.alias("n_params"),
        path_depth.alias("path_depth"),
        url_len.alias("url_len"),
        F.round(penalty, 6).alias("url_penalty"),
        (penalty < F.lit(max_penalty)).alias("keep"),
    )

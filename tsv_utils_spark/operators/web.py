"""Web-corpus URL operators — canonicalization and URL-level dedup.

URL dedup is the cheapest, highest-leverage first stage of web-crawl
pipelines (the same page is fetched under trivially different URLs:
case-folded hosts, default ports, fragments, tracking parameters,
trailing slashes). Everything here is pure Catalyst string expressions —
JVM-side, codegen'd, RE2-portable regexes (no lookbehind) so the DuckDB
oracles replay them verbatim.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Tracking query parameters stripped by canonicalization: the common
# click/campaign identifiers that never change page content. Names are
# matched exactly (after lowercasing) or by the utm_ prefix.
TRACKING_PARAMS = ("fbclid", "gclid", "msclkid", "igshid", "mc_eid",
                   "ref", "ref_src", "spm")

# RFC 3986 split, RE2-portable: scheme :// authority path ?query #fragment
_SCHEME_RE = r"^([A-Za-z][A-Za-z0-9+.\-]*)://"
_AUTH_RE = r"^[A-Za-z][A-Za-z0-9+.\-]*://([^/?#]*)"
_PATH_RE = r"^[A-Za-z][A-Za-z0-9+.\-]*://[^/?#]*([^?#]*)"
_PREFRAG_RE = r"^([^#]*)"     # query must come from the PRE-fragment part:
_QUERY_RE = r"\?(.*)$"        # a '?' inside '#...' is fragment, not query
_USERINFO_STRIP_RE = r"([^@]*)$"   # authority after the last '@' (userinfo)
# host of an already-canonical URL (shared by host_stats / domain_cap and
# mirrored in the DuckDB oracles — keep all three in sync)
_HOST_FROM_CANON_RE = r"^[a-z][a-z0-9+.\-]*://([^:/?#]*)"


def host_from_canonical(canon: Column) -> Column:
    """Host component of a :func:`url_normalize` output."""
    return F.regexp_extract(canon, _HOST_FROM_CANON_RE, 1)


def url_normalize(col: str | Column) -> Column:
    """Canonical form of a URL string, as one Catalyst expression:

    - scheme and host lowercased;
    - userinfo (``user:pass@``) dropped — not page identity;
    - default ports dropped (``http:80``, ``https:443``), others kept;
    - fragment dropped (including any ``?`` inside it — the query is
      parsed only from the pre-fragment part);
    - tracking query parameters dropped (``utm_*`` prefix plus
      :data:`TRACKING_PARAMS`, name matched case-insensitively),
      remaining parameters sorted bytewise, empty pairs dropped;
    - trailing slashes stripped from the path, so a bare ``/`` root
      path is dropped (stripping only one would turn ``//`` into ``/``,
      which the next pass drops: the canonical form would not be a
      fixed point).

    Rows that do not parse as ``scheme://authority...`` normalize to
    NULL (callers filter or route them to an invalid-URL sink).
    """
    u = F.col(col) if isinstance(col, str) else col
    scheme = F.lower(F.regexp_extract(u, _SCHEME_RE, 1))
    # userinfo ('user:pass@') is dropped: it is not page identity, and
    # naively splitting the authority on ':' would otherwise read
    # 'user' as the host
    auth = F.regexp_extract(F.regexp_extract(u, _AUTH_RE, 1),
                            _USERINFO_STRIP_RE, 1)
    host = F.lower(F.regexp_extract(auth, r"^([^:]*)", 1))
    port = F.regexp_extract(auth, r":([0-9]+)$", 1)
    keep_port = F.when(
        (port == "") | ((scheme == "http") & (port == "80"))
        | ((scheme == "https") & (port == "443")), F.lit("")) \
        .otherwise(F.concat(F.lit(":"), port))
    path_c = F.regexp_replace(F.regexp_extract(u, _PATH_RE, 1), "/+$", "")
    query = F.regexp_extract(F.regexp_extract(u, _PREFRAG_RE, 1),
                             _QUERY_RE, 1)
    pairs = F.filter(
        F.split(query, "&"),
        lambda p: (p != "")
        & ~F.lower(F.regexp_extract(p, r"^([^=]*)", 1))
           .startswith("utm_")
        & ~F.lower(F.regexp_extract(p, r"^([^=]*)", 1))
           .isin(*TRACKING_PARAMS))
    query_c = F.array_join(F.array_sort(pairs), "&")
    out = F.concat(
        scheme, F.lit("://"), host, keep_port, path_c,
        F.when(query_c == "", F.lit(""))
         .otherwise(F.concat(F.lit("?"), query_c)))
    return F.when((scheme == "") | (host == ""),
                  F.lit(None).cast("string")).otherwise(out)


def url_dedup(df: DataFrame, url_col: str = "url",
              id_col: str = "doc_id") -> DataFrame:
    """URL-level dedup: one survivor per canonical URL — the row with
    the smallest id (deterministic; ids are typically crawl order, so
    this is keep-first). Rows whose URL fails to parse are all kept
    (each is its own group).

    Returns the input columns plus ``canonical_url``.

    Scale shape: ONE shuffle keyed by the canonical URL, as a
    ``min_by`` AGGREGATE rather than a row_number window — partial
    (map-side) aggregation makes a hot URL (the same page fetched
    millions of times) combine before the shuffle, where a window
    would funnel every duplicate into one partition that AQE cannot
    split (skewed-partition splitting applies to joins/aggregations,
    not windows). Unparseable rows are routed around the shuffle.
    NULL ids raise in-plan: ``min_by`` skips NULL ordering values, so
    a NULL-id row could never survive and an all-NULL-id group would
    emit a fabricated all-NULL row — assign surrogate ids first.
    """
    checked = F.when(
        F.col(id_col).isNull(),
        F.raise_error(F.lit(
            f"url_dedup: NULL {id_col} — keep-first order is undefined "
            f"for NULL ids; assign surrogate ids first"))
    ).otherwise(F.col(id_col))
    tagged = df.withColumn(id_col, checked) \
               .withColumn("canonical_url", url_normalize(url_col))
    bad = tagged.where(F.col("canonical_url").isNull())
    good = tagged.where(F.col("canonical_url").isNotNull())
    cols = tagged.columns
    kept = (good.groupBy("canonical_url")
            .agg(F.min_by(F.struct(*[c for c in cols
                                     if c != "canonical_url"]),
                          F.col(id_col)).alias("__row"))
            .select(*[F.col(f"__row.{c}") for c in cols
                      if c != "canonical_url"], "canonical_url")
            .select(*cols))
    return kept.unionByName(bad)


def host_stats(df: DataFrame, url_col: str = "url",
               id_col: str = "doc_id") -> DataFrame:
    """Per-host crawl inventory over a URL column: page count, distinct
    canonical URLs, min id (first-seen proxy). The standard input to
    per-domain caps and blocklists. One shuffle on host.

    Returns (host, n_pages, n_urls, first_id), unparseable URLs
    excluded.
    """
    canon = url_normalize(url_col)
    base = df.select(F.col(id_col), canon.alias("__c"),
                     host_from_canonical(canon).alias("host")) \
        .where(F.col("__c").isNotNull())
    return base.groupBy("host").agg(
        F.count(F.lit(1)).alias("n_pages"),
        F.countDistinct("__c").alias("n_urls"),
        F.min(id_col).alias("first_id"))


def domain_cap(df: DataFrame, max_per_host: int, url_col: str = "url",
               id_col: str = "doc_id") -> DataFrame:
    """Per-domain page cap: keep at most ``max_per_host`` rows per host
    (by ascending id — crawl order, so keep-earliest), the standard
    guard against a handful of giant hosts dominating a web corpus.
    Unparseable URLs are all kept (no host to cap on).

    Returns the input columns plus ``host`` (NULL for unparseable
    rows).

    Scale shape: TWO-PHASE top-N. A single per-host row_number window
    would funnel a giant host's every row into one partition — the
    exact pathology the cap exists to guard against, and AQE cannot
    split skewed window partitions. Phase 1 takes a top-N per
    (host, input-partition-id): its shuffle key includes the partition
    id, so a giant host's rows spread UNIFORMLY over the cluster and
    each group is bounded by the input partition size. Phase 2 runs
    the global per-host window over at most N x num_input_partitions
    surviving rows per host — bounded regardless of host size.
    """
    from pyspark.sql import Window

    canon = url_normalize(url_col)
    tagged = df.withColumn(
        "host", F.when(canon.isNull(), F.lit(None).cast("string"))
                 .otherwise(host_from_canonical(canon)))
    bad = tagged.where(F.col("host").isNull())
    good = tagged.where(F.col("host").isNotNull()) \
        .withColumn("__pid", F.spark_partition_id())
    lw = Window.partitionBy("host", "__pid").orderBy(F.col(id_col).asc())
    local = (good.withColumn("__rn", F.row_number().over(lw))
             .where(F.col("__rn") <= max_per_host)
             .drop("__rn", "__pid"))
    gw = Window.partitionBy("host").orderBy(F.col(id_col).asc())
    kept = (local.withColumn("__rn", F.row_number().over(gw))
            .where(F.col("__rn") <= max_per_host).drop("__rn"))
    return kept.unionByName(bad)


# HTML -> text extraction stages, applied IN ORDER. All RE2-portable
# (non-greedy quantifiers + (?is) flags, no lookaround) so the DuckDB
# oracle replays them verbatim. Kept as data so html_to_text and the
# oracle generator can never drift.
_HTML_STRIP_STAGES = (
    # invisible containers go first, whole-element (dotall)
    (r"(?is)<script\b[^>]*>.*?</script>", " "),
    (r"(?is)<style\b[^>]*>.*?</style>", " "),
    (r"(?s)<!--.*?-->", " "),
    # block-level closes + explicit breaks become newlines so paragraph
    # structure survives for the downstream line/paragraph operators
    (r"(?i)</(p|div|h[1-6]|li|tr|table|ul|ol|blockquote|section|"
     r"article|header|footer)>", "\n"),
    (r"(?i)<br\b[^>]*>", "\n"),
    # every remaining tag collapses to a space
    (r"<[^>]+>", " "),
)

# the named entities that dominate real pages; numeric entities beyond
# these pass through untouched (full decode needs a table, not a regex)
_HTML_ENTITIES = (
    ("&nbsp;", " "), ("&lt;", "<"), ("&gt;", ">"),
    ("&quot;", '"'), ("&#39;", "'"), ("&apos;", "'"), ("&amp;", "&"),
)


def html_to_text(col: str | Column) -> Column:
    """Plain text of an HTML page — the WET-style extraction step that
    feeds every downstream text operator (c4/gopher quality, dedup,
    chunking). One Catalyst projection:

    - ``<script>``/``<style>`` elements and comments removed whole;
    - block-element closes and ``<br>`` become newlines (paragraph
      structure survives for the line/paragraph operators);
    - remaining tags collapse to spaces; common named entities decode
      (``&amp;`` LAST, so ``&amp;lt;`` correctly yields ``&lt;`` — the
      double-escape stays escaped, matching browser semantics);
    - horizontal whitespace runs collapse to one space, blank-line
      runs to one blank line, leading/trailing whitespace trimmed.

    Regex-based extraction is the honest 80% of trafilatura-class
    tooling (no DOM, no boilerplate classifier) — pair with
    :func:`tsv_utils_spark.operators.text.remove_boilerplate_lines`
    for chrome removal. NULL input yields empty text.
    """
    c = F.coalesce(F.col(col) if isinstance(col, str) else col,
                   F.lit(""))
    for pat, rep in _HTML_STRIP_STAGES:
        c = F.regexp_replace(c, pat, rep)
    for ent, ch in _HTML_ENTITIES:
        c = F.replace(c, F.lit(ent), F.lit(ch))
    c = F.regexp_replace(c, r"[ \t\f\r]+", " ")
    c = F.regexp_replace(c, r" ?\n ?", "\n")
    c = F.regexp_replace(c, r"\n{3,}", "\n\n")
    return F.regexp_replace(c, r"^[ \n]+|[ \n]+$", "")

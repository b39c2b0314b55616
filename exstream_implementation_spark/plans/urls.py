"""URL-level corpus curation — canonicalization, registered-domain
extraction, URL dedup, and deterministic per-group caps.

Not in the reference (numeric traces only); this serves the web-scrape
side of training-data work, where the FIRST dedup key is the URL (C4 and
its descendants dedup by canonical URL before any content pass) and
per-domain document caps stop a single boilerplate-heavy host from
dominating the corpus.

Everything here is whole-stage-codegen SQL — regexp extraction, array
higher-order functions, hash folds.  No UDFs, no driver state, nothing
corpus-sized collected:

  * ``normalize_urls``    — canonical form: lowercase scheme+host, default
    port stripped, fragment dropped, tracking params removed, remaining
    query params sorted, trailing slash trimmed.  Idempotent (pinned by a
    property test), so re-normalizing an already-clean corpus is a no-op.
  * ``registered_domain`` — eTLD+1 heuristic: one extra label for the
    common two-level public suffixes (co.uk, com.au, ...), IPv4 literals
    passed through whole.  A full public-suffix-list lookup is a 10k-row
    broadcast join a deployment can layer on; the heuristic covers the
    overwhelming mass of web hosts without any side table.
  * ``dedup_by_url``      — keep the min-id representative per canonical
    URL: groupBy + semi-join pullback (map-side combined), never a
    window over the corpus.
  * ``cap_per_group``     — at most n rows per group, smallest
    (order, id) first, via the two-phase fold (partition-local top-n,
    then a window over <= partitions*n survivors per group) — the
    generalization of plans/dedup.sample_exact_k from hash-order to
    caller-chosen order.  A hot domain with 10^8 pages never becomes a
    single-task sort.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# Query parameters that never change page content — analytics/click IDs.
TRACKING_PARAMS = (
    "utm_[^=&]*",
    "fbclid",
    "gclid",
    "dclid",
    "msclkid",
    "mc_cid",
    "mc_eid",
    "igshid",
    "ref_src",
    "spm",
)

# Two-level public suffixes common enough to matter for eTLD+1 grouping.
TWO_LEVEL_SUFFIXES = (
    "co.uk", "org.uk", "ac.uk", "gov.uk",
    "com.au", "net.au", "org.au", "edu.au", "gov.au",
    "co.jp", "ne.jp", "or.jp", "ac.jp", "go.jp",
    "com.br", "com.cn", "com.mx", "com.tr", "com.ar", "com.tw",
    "co.in", "co.kr", "co.za", "co.nz", "co.id",
    "com.sg", "com.hk", "org.cn", "net.cn", "gov.cn", "edu.cn",
)


def _norm_expr(url: F.Column) -> F.Column:
    """Canonical URL as one codegen expression tree."""
    u = F.trim(url)
    # drop the fragment FIRST: a '?' inside an SPA-style fragment
    # ('/page#/route?x=1') must not be mistaken for the query
    u = F.regexp_replace(u, r"(?s)#.*", "")
    scheme = F.lower(F.regexp_extract(u, r"^([A-Za-z][A-Za-z0-9+.\-]*)://", 1))
    host = F.lower(F.regexp_extract(u, r"^[^:/?#]+://([^/?#]*)", 1))
    # default ports add nothing: http://h:80/ == http://h/
    host = F.when(
        (scheme == "http") & host.endswith(":80"),
        F.substring(host, 1, F.length(host) - 3),
    ).otherwise(
        F.when(
            (scheme == "https") & host.endswith(":443"),
            F.substring(host, 1, F.length(host) - 4),
        ).otherwise(host)
    )
    path = F.regexp_extract(u, r"^[^:/?#]+://[^/?#]*([^?#]*)", 1)
    # '/a/b/' and '/a/b' are the same resource for curation purposes;
    # bare '/' collapses to '' so 'http://h/' == 'http://h'
    path = F.regexp_replace(path, r"/+$", "")
    query = F.regexp_extract(u, r"\?(.*)", 1)
    drop = "|".join(TRACKING_PARAMS)
    # tracker NAMES match case-insensitively ('UTM_SOURCE=' is the same
    # campaign link); surviving params keep their original case
    kept = F.array_sort(
        F.filter(
            F.split(query, "&"),
            lambda p: (p != "") & ~p.rlike(f"^(?i:{drop})(?:=|$)"),
        )
    )
    qpart = F.when(
        F.size(kept) > 0, F.concat(F.lit("?"), F.array_join(kept, "&"))
    ).otherwise(F.lit(""))
    return F.when(
        (scheme == "") | (host == ""), F.lit(None).cast("string")
    ).otherwise(F.concat(scheme, F.lit("://"), host, path, qpart))


def normalize_urls(
    df: DataFrame, url_col: str = "url", out_col: str = "url_norm"
) -> DataFrame:
    """Append the canonical URL (NULL when ``url_col`` has no
    scheme://host to anchor on — relative or garbage strings)."""
    return df.withColumn(out_col, _norm_expr(F.col(url_col)))


def registered_domain(host: F.Column) -> F.Column:
    """eTLD+1 of a (already lowercased) host: the grouping key for
    per-site caps.  IPv4 literals and single-label hosts pass through."""
    labels = F.split(host, r"\.")
    n = F.size(labels)
    last2 = F.concat_ws(".", F.element_at(labels, -2), F.element_at(labels, -1))
    last3 = F.concat_ws(
        ".",
        F.element_at(labels, -3),
        F.element_at(labels, -2),
        F.element_at(labels, -1),
    )
    is_ip = host.rlike(r"^\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}$")
    two_level = last2.isin(*TWO_LEVEL_SUFFIXES)
    return (
        F.when(is_ip | (n <= 2), host)
        .when(two_level & (n >= 3), last3)
        .otherwise(last2)
    )


def with_domain(
    df: DataFrame, url_col: str = "url_norm", out_col: str = "domain"
) -> DataFrame:
    """Append the registered domain extracted from a URL column."""
    host = F.regexp_extract(F.col(url_col), r"^[^:/?#]+://([^/?#:]*)", 1)
    return df.withColumn(out_col, registered_domain(host))


def dedup_by_url(
    df: DataFrame, url_col: str = "url", id_col: str = "doc_id"
) -> DataFrame:
    """Keep the min-``id_col`` row per canonical URL; rows whose URL does
    not normalize (NULL canonical form) or that carry a NULL id are kept
    unconditionally — an unparseable URL is no evidence of duplication,
    and a row without an identity cannot participate in keep-min."""
    normed = normalize_urls(df, url_col, "__un")
    dedupable = F.col("__un").isNotNull() & F.col(id_col).isNotNull()
    keep = (
        normed.filter(dedupable)
        .groupBy("__un")
        .agg(F.min(id_col).alias(id_col))
    )
    kept = normed.filter(dedupable).join(keep, ["__un", id_col], "left_semi")
    passthrough = normed.filter(~dedupable)
    return kept.unionByName(passthrough).drop("__un").select(df.columns)


def cap_per_group(
    df: DataFrame,
    group_cols: list[str],
    n: int,
    order_col: str | None = None,
    id_col: str = "doc_id",
) -> DataFrame:
    """At most ``n`` rows per group — the smallest (order_col, id_col)
    first; ``order_col=None`` keeps the n smallest ids.  ``id_col`` must
    be unique per group (it is the deterministic tie-break and the
    semi-join pullback key).

    Two-phase fold: each shuffle partition folds its (group, partition)
    slice to n candidates with a bounded array sort; the final window
    ranks <= partitions*n survivors per group.  Winners semi-join back
    so kept rows carry every input column.
    """
    if n <= 0:
        raise ValueError(f"n must be positive: {n}")
    group_cols = list(group_cols)
    order = F.col(order_col) if order_col is not None else F.col(id_col)
    tagged = df.select(
        *group_cols, F.col(id_col), order.alias("_o"), F.lit(n).alias("_q")
    )
    part = (
        tagged.groupBy(*group_cols, F.spark_partition_id().alias("_p"))
        .agg(
            F.slice(
                F.sort_array(F.collect_list(F.struct("_o", id_col))),
                1,
                F.first("_q"),
            ).alias("top"),
            F.first("_q").alias("_q"),
        )
        .select(*group_cols, "_q", F.explode("top").alias("c"))
        .select(
            *group_cols,
            "_q",
            F.col("c._o").alias("_o"),
            F.col(f"c.{id_col}").alias(id_col),
        )
    )
    w = Window.partitionBy(*group_cols).orderBy(F.asc("_o"), F.asc(id_col))
    winners = (
        part.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= F.col("_q"))
        .select(*group_cols, id_col)
    )
    # null-SAFE pullback: groupBy treats NULL as a group of its own, so
    # the semi-join must match it too — a USING join would silently drop
    # every NULL-keyed row instead of capping it
    left, right = df.alias("__l"), winners.alias("__r")
    cond = F.lit(True)
    for c in group_cols + [id_col]:
        cond = cond & F.col(f"__l.{c}").eqNullSafe(F.col(f"__r.{c}"))
    return left.join(right, cond, "left_semi").select(df.columns)

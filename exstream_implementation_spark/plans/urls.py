"""URL-level corpus curation — canonicalization and deterministic
per-group caps, the two URL-side branches ``corpus_curation`` runs.

Not in the reference (numeric traces only); this serves the web-scrape
side of training-data work, where the FIRST dedup key is the URL (C4 and
its descendants dedup by canonical URL before any content pass) and
per-domain document caps stop a single boilerplate-heavy host from
dominating the corpus.

Everything here is whole-stage-codegen SQL — regexp extraction, array
higher-order functions, hash folds.  No UDFs, no driver state, nothing
corpus-sized collected:

  * ``_norm_expr``        — canonical form: lowercase scheme+host, default
    port stripped, fragment dropped, tracking params removed, remaining
    query params sorted, trailing slash trimmed; NULL when the string has
    no scheme://host to anchor on.  Idempotent (pinned by a test), so
    re-normalizing an already-clean corpus is a no-op.
  * ``cap_per_group``     — at most n rows per group, smallest
    (order, id) first, via the two-phase fold (partition-local top-n,
    then a window over <= partitions*n survivors per group).  A hot
    domain with 10^8 pages never becomes a single-task sort.
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


def _norm_expr(url: F.Column) -> F.Column:
    """Canonical URL as one codegen expression tree (NULL when ``url``
    has no scheme://host to anchor on — relative or garbage strings)."""
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

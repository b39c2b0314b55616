"""Cache hygiene: every operator-internal persist is tracked and released
when the next top-level catalog query starts, so a long session (driver
sweep, notebook) never accumulates stray pinned storage."""

from exstream_implementation_spark import cache
from exstream_implementation_spark.plans import QUERIES

SF_DIR = "/root/testdata/sf0.001"


def test_tracked_caches_release_between_queries(spark):
    cache.release_tracked()
    # a cache-heavy query pins its working set...
    QUERIES["dedup_ngram_jaccard"](spark, SF_DIR).count()
    assert cache.persisted_rdd_count(spark) > 0
    # ...the next top-level query drops it before building its own
    QUERIES["dedup_simhash_pairs"](spark, SF_DIR).count()
    n_after_second = cache.persisted_rdd_count(spark)
    # only the second query's tracked set may remain
    released = cache.release_tracked()
    assert released > 0
    assert cache.persisted_rdd_count(spark) < n_after_second


def test_post_suite_inventory_empty(spark):
    """After an explicit release, nothing tracked stays pinned."""
    cache.release_tracked()
    QUERIES["exstream_rewards"](spark, SF_DIR).count()
    cache.release_tracked()
    assert cache.persisted_rdd_count(spark) == 0


def test_local_checkpoints_not_counted_as_leaks(spark):
    """``localCheckpoint()`` blocks are ContextCleaner-managed (released on
    GC of the referencing frame), so the hygiene inventory must not count
    them — counting them made the post-suite gate flake on GC timing
    whenever an earlier test ran a ``localCheckpoint`` fence."""
    cache.release_tracked()
    base = cache.persisted_rdd_count(spark)
    base_ckpt = cache.persisted_rdd_census(spark)[1]
    ckpt = spark.range(100).localCheckpoint()
    assert ckpt.count() == 100
    assert cache.persisted_rdd_count(spark) == base
    # ...but the census still SEES it, so a gate can alert on a
    # monotonically-growing locally-checkpointed population (references
    # retained past the query are invisible to ContextCleaner)
    assert cache.persisted_rdd_census(spark)[1] == base_ckpt + 1
    pinned = spark.range(50).persist()
    pinned.count()
    assert cache.persisted_rdd_count(spark) == base + 1
    pinned.unpersist()

"""Shared-subtree caching.

Several operators build a subtree that feeds two or more branches of one
query (the survival subject table, shingle arrays in MinHash-LSH, the
prefix-join postings). Spark re-executes a shared DAG edge once per
consuming branch (no auto-dedup beyond ReuseExchange), so these
operators persist the subtree — the in-memory analog of the parquet
checkpoint a cluster-scale pipeline would write.

Two sharp edges:

1. **Cold-cache races.** Population is lazy: the first consumer fills
   the cache. A broadcast-exchange build and a streamed scan that both
   consume a *cold* persisted subtree can compute the same partitions
   twice — the block manager does not dedupe in-flight computation.
   The worst case is the no-persist baseline (each branch computes the
   subtree once), and pre-populating with an eager ``count()`` costs a
   full extra pass: ``jaccard_prefix_join``'s postings spine measured
   5.0 s eager against 3.5 s lazy at sf0.1. So no site pre-populates,
   and a query whose branches can each compute a cheap subtree
   (the bucketed cosine top-k's buckets and norms, :mod:`similarity`)
   does not persist it at all.

2. **Cache lifetime.** A library function cannot unpersist before its
   caller executes the returned DataFrame, so entries outlive the call.
   The contract: entries live until ``spark.catalog.clearCache()``.
   Repeated invocations with an *identical* input plan do not
   accumulate entries — Spark's CacheManager dedupes cacheQuery by
   canonicalized logical plan — so a long-lived session holds at most
   one entry per distinct input dataset.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def materialize_shared(df: DataFrame) -> DataFrame:
    """Persist ``df`` (memory, spill-to-disk); the first consumer that
    runs populates it. Runs no job."""
    from pyspark import StorageLevel

    return df.persist(StorageLevel.MEMORY_AND_DISK)

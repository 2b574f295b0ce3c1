"""Persist lifecycle regression tests.

The sketch/dedup operators persist intermediates (shingle relations,
band tables, signatures). Round 1/2 never unpersisted them, so a
long-lived session doing repeated dedup passes grew the block manager
without bound. The operators now materialize their (small) results
eagerly and release every internal cache — these tests pin that.
"""

from __future__ import annotations

import pytest

from tests.conftest import SF_SMALL


@pytest.fixture(scope="module")
def docs(spark):
    import os

    return spark.read.parquet(os.path.join(SF_SMALL, "documents.parquet"))


def _cache_manager_empty(spark) -> bool:
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_operators_release_their_caches(spark, docs):
    import os

    from pyspark.sql import functions as F

    from huckli_spark.operators.dedup import (
        containment_pairs,
        jaccard_pairs,
        jaccard_pairs_cross,
    )
    from huckli_spark.operators.simsearch import cosine_pairs_lsh
    from huckli_spark.operators.sketch import (
        minhash_candidates,
        minhash_dedup_pairs,
        minhash_estimate_pairs,
        simhash_pairs,
    )

    emb = spark.read.parquet(os.path.join(SF_SMALL, "embeddings.parquet"))
    new = docs.where(F.col("doc_id") % 10 == 0)
    corpus = docs.where(F.col("doc_id") % 10 != 0)
    spark.catalog.clearCache()
    for _ in range(3):
        jaccard_pairs(docs).collect()
        jaccard_pairs(docs, max_doc_freq=8).collect()
        containment_pairs(docs).collect()
        jaccard_pairs_cross(new, corpus).collect()
        jaccard_pairs_cross(new, corpus, max_doc_freq=8).collect()
        minhash_candidates(docs).collect()
        minhash_dedup_pairs(docs, threshold=0.9).collect()
        minhash_estimate_pairs(docs).collect()
        simhash_pairs(docs, max_hamming=3).collect()
        cosine_pairs_lsh(emb, threshold=0.45).collect()
    # every df.persist() taken inside the operators must be released:
    # the CacheManager registers persisted plans deterministically at
    # persist() time, so emptiness here == zero leaked caches
    assert _cache_manager_empty(spark)


def test_repeated_builds_do_not_grow_block_manager(spark, docs):
    """100-TB session discipline: sequential query builds must not
    accumulate persistent RDDs. The eager path releases every cache
    synchronously before returning, so the persistent-RDD map is back
    at its baseline immediately — no GC races."""
    from huckli_spark.operators.sketch import simhash_pairs

    spark.catalog.clearCache()
    baseline = spark.sparkContext._jsc.getPersistentRDDs().size()

    for _ in range(5):
        simhash_pairs(docs, max_hamming=3).collect()

    assert _cache_manager_empty(spark)
    size = spark.sparkContext._jsc.getPersistentRDDs().size()
    assert size <= baseline, f"persistent RDDs grew {baseline} -> {size}"


def test_persist_scope_lazy_path_releases_on_exit(spark, docs):
    from huckli_spark.operators.cache import persist_scope
    from huckli_spark.operators.dedup import jaccard_pairs

    spark.catalog.clearCache()
    with persist_scope() as s:
        pairs = jaccard_pairs(docs, max_doc_freq=8, scope=s)
        n = pairs.count()  # terminal action inside the scope
        assert n >= 0
        assert not _cache_manager_empty(spark)  # caches live during use
    assert _cache_manager_empty(spark)  # all released on exit

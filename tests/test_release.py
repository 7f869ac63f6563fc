"""One release point for materialized frames: after
``registry.clear_caches`` no persisted (``.persist()``) or checkpointed
(``session.superstep_checkpoint`` -> ``localCheckpoint``) block is left
in the session, and a key built after a release still gives the same
output (the release frees blocks only, never state a later build
needs)."""

from __future__ import annotations

import pytest

from pudatalake_spark import registry

from tests.conftest import SF_DIR, canonicalize

registry.load_all()

RELEASE_KEYS = [
    "q_events_concurrent_peak",  # superstep_checkpoint (localCheckpoint)
    "q_graph_pagerank",          # superstep_checkpoint per superstep
    "q_dedup_near_minhash",      # .persist() diamonds
]


def _build(spark, key):
    df = registry.QUERIES[key](spark, SF_DIR)
    df.write.format("noop").mode("overwrite").save()
    return df


def _canon_hash(df) -> int:
    return hash(canonicalize(df.toPandas()).to_csv(index=False))


def _assert_released(spark):
    jsc = spark.sparkContext._jsc
    assert jsc.getPersistentRDDs().size() == 0
    left = [(i.id(), i.memSize(), i.diskSize())
            for i in jsc.sc().getRDDStorageInfo()]
    assert sum(m + d for _, m, d in left) == 0, left


@pytest.mark.parametrize("key", RELEASE_KEYS)
def test_clear_caches_frees_every_block(spark, key):
    _build(spark, key)
    assert spark.sparkContext._jsc.getPersistentRDDs().size() > 0
    registry.clear_caches(spark)
    _assert_released(spark)


def test_build_after_release_matches(spark):
    key = "q_graph_pagerank"
    first = _canon_hash(_build(spark, key))
    registry.clear_caches(spark)
    _assert_released(spark)
    assert _canon_hash(_build(spark, key)) == first
    registry.clear_caches(spark)
    _assert_released(spark)

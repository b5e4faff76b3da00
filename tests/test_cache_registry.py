"""cache.tracked_tmpdir lifecycle: release_persisted reclaims scratch
dirs that back lazily-returned frames (ranked ExactSubstr level tables,
the streaming-dedup sink), with process exit only as the backstop."""

import os
import tempfile

from dystonse_gtfs_data_spark import cache


def test_release_persisted_reclaims_tracked_tmpdirs():
    d1 = cache.tracked_tmpdir(tempfile.mkdtemp(prefix="graft_cache_t1_"))
    d2 = cache.tracked_tmpdir(tempfile.mkdtemp(prefix="graft_cache_t2_"))
    with open(os.path.join(d1, "x.bin"), "wb") as f:
        f.write(b"\0" * 16)
    assert os.path.isdir(d1) and os.path.isdir(d2)
    cache.release_persisted()
    assert not os.path.exists(d1)
    assert not os.path.exists(d2)
    # idempotent: a second release with an empty registry is a no-op
    cache.release_persisted()


def test_purge_is_safe_on_missing_dir():
    d = cache.tracked_tmpdir(
        tempfile.mkdtemp(prefix="graft_cache_gone_")
    )
    os.rmdir(d)  # someone else cleaned it first
    cache.release_persisted()  # must not raise
    assert not os.path.exists(d)


def test_bigram_c2_persist_is_tracked_and_released(spark, sf_dir):
    # round 12: _bigram_scored lazily persists the aggregated (w1,w2,c2)
    # table.  The cache must be REGISTERED (release_persisted reclaims
    # it — the bench/oracle harness relies on this between timed
    # queries; nothing may survive a run) and the query's values must
    # not depend on it being materialized yet.
    from dystonse_gtfs_data_spark.queries import REGISTRY

    # NOTE: don't assert on sc.getPersistentRDDs() counts — the async
    # ContextCleaner reclaims other tests' localCheckpoint RDDs at
    # arbitrary times, racing any absolute-count comparison.  The
    # contract under test is the REGISTRY: the c2 persist must be
    # tracked, so release_persisted() reports >= 1 released frame.
    try:
        out = REGISTRY["bigram_lm_score"].fn(spark, sf_dir)
        assert out.limit(5).count() >= 0  # materialize the c2 cache
    finally:
        n = cache.release_persisted()
    assert n >= 1


def test_default_statistics_persist_is_tracked_and_released(spark):
    # default_statistics persists the per-variant curve table its three
    # rollup levels share.  Like the c2 table above, that persist must be
    # REGISTERED, or it outlives release_persisted() and later queries
    # read a predecessor's cache.
    from dystonse_gtfs_data_spark.operators.default_curves import (
        default_statistics,
    )
    from dystonse_gtfs_data_spark.operators.specific_curves import (
        enrich_records,
        stop_indexed,
    )
    from dystonse_gtfs_data_spark.sources.demo import build_records, build_schedule

    cache.release_persisted()  # count only what this test persists
    try:
        sched = build_schedule(spark)
        enriched = enrich_records(
            build_records(spark), stop_indexed(sched["stop_times"])
        )
        out = default_statistics(enriched, sched["routes"])
        assert out.count() > 0  # materialize the per-variant cache
    finally:
        n = cache.release_persisted()
    assert n >= 1

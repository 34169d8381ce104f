"""Pin lifecycle: the lazy persists taken by freeze_partitions must
be releasable — a long-lived session
composing many operators must not accumulate CacheManager entries
(VERDICT r5 item 5: every cached entry taxes every later query's
canonicalized-plan lookup, ~1.3-1.5x at ~100 pins)."""

from __future__ import annotations

from trading212_etl_spark import registry
from trading212_etl_spark.partitioning import (
    _LIVE_PINS,
    freeze_partitions,
    freeze_when_heavy,
    is_heavy,
    pinned_scope,
    release_pins,
)

SF = "/root/testdata/sf0.001"


def _cache_empty(spark) -> bool:
    return bool(
        spark._jsparkSession.sharedState().cacheManager().isEmpty()
    )


def test_registry_invocation_releases_prior_pins(spark):
    """Invoking any registry entry releases the pins of the previous
    one: after a build->action->build cycle the CacheManager holds
    only the in-flight query's pins, and an explicit release_pins()
    empties it entirely."""
    spark.catalog.clearCache()
    release_pins()
    # orders_rfm_segments pins via ordered_prefix -> freeze_partitions
    df = registry.QUERIES["orders_rfm_segments"](spark, SF)
    df.write.format("noop").mode("overwrite").save()
    assert len(_LIVE_PINS) > 0, "entry under test no longer pins"
    assert not _cache_empty(spark)
    # building the NEXT entry releases the previous entry's pins;
    # flagship_pipeline takes none of its own
    registry.QUERIES["projection_reorder"](spark, SF)
    assert _cache_empty(spark)
    assert len(_LIVE_PINS) == 0


def test_pinned_scope_releases_only_inner_pins(spark):
    spark.catalog.clearCache()
    release_pins()
    outer = freeze_partitions(spark.range(10).repartition(2))
    outer.count()
    with pinned_scope():
        inner = freeze_partitions(spark.range(5).repartition(2))
        inner.count()
        assert len(_LIVE_PINS) == 2
    assert len(_LIVE_PINS) == 1 and _LIVE_PINS[0] is outer
    assert release_pins(blocking=True) == 1
    assert _cache_empty(spark)


def test_freeze_when_heavy_is_scale_adaptive(spark, monkeypatch):
    """The r14 adaptive pin: below the Catalyst-size threshold the
    frame passes through UNPINNED (idle cores hide multi-consumer
    duplication at bench SF; the pin would only add cache overhead),
    above it — forced here by patching the threshold — it pins exactly
    like freeze_partitions."""
    from trading212_etl_spark import partitioning

    spark.catalog.clearCache()
    release_pins()
    tiny = spark.range(10).repartition(2)
    try:
        assert not is_heavy(tiny)
        out = freeze_when_heavy(tiny)
        assert not out.storageLevel.useMemory and len(_LIVE_PINS) == 0
        # force the at-scale branch
        monkeypatch.setattr(partitioning, "_FREEZE_AUTO_BYTES", 0)
        assert is_heavy(tiny)
        pinned = freeze_when_heavy(tiny)
        assert pinned.storageLevel.useMemory and len(_LIVE_PINS) == 1
        pinned.count()
        assert not _cache_empty(spark)
    finally:
        release_pins(blocking=True)
        assert _cache_empty(spark)

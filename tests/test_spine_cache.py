"""The registered-spine cache discipline (round-10 ADVICE): every
operator-internal .cache() goes through operators.caching.spine_cache so
long-lived sessions can free the blocks, and release_spines() actually
unpersists them."""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import functions as F

from steam_data_pipeline_spark.operators import caching

SF_SMOKE = "/root/testdata/sf0.001"


def test_release_spines_unpersists_and_empties(spark):
    df = spark.range(100).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("m")
    )
    out = caching.spine_cache(df)
    out.count()  # force — materializes the registered spine cache
    assert caching._LIVE, "spine_cache should have registered a spine"
    live = list(caching._LIVE)
    n = caching.release_spines()
    assert n == len(live)
    assert not caching._LIVE
    for frame in live:
        assert frame.storageLevel.useMemory is False  # unpersisted


def test_no_unregistered_cache_in_rank_primitives():
    """ranks.py caches nothing (its O(n) spines re-scan, SCALE.md
    rounds 11-12); a raw .cache() there is exactly the leak ADVICE
    flagged."""
    src = Path(
        "steam_data_pipeline_spark/operators/ranks.py"
    ).read_text()
    assert ".cache()" not in src

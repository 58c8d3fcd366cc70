"""Skew robustness pins (r10 VERDICT item 2).

The scale tiles grow data as independent uniform copies; a real 100 TB
fact table has a mega-key. These tests pin the two mechanisms the
engine relies on under key skew:

- **AQE skew-join splitting actually engages**: on a join where one
  key owns ~30% of the fact rows, the executed adaptive plan must mark
  the sort-merge join ``skew=true`` (thresholds are lowered to make
  the mechanism observable at test volume — the default 256 MB
  partition threshold is a production setting that test-scale shuffles
  can never trip). Threshold-sizing caveat measured at 30x volume
  (BASELINE.md "Round-11 skew stress extended to 30x"): the detector
  reads COMPRESSED shuffle bytes, and a constant-join-key hot block
  compresses ~20-30x — size ``skewedPartitionThresholdInBytes`` /
  ``advisoryPartitionSizeInBytes`` against compressed reality, and
  keep ``spark.sql.files.maxPartitionBytes`` small enough that the
  map-output count doesn't cap the split granularity;
- **explicit salting equals the plain join** row-for-row on the same
  skewed input (the deterministic fallback for pathological keys where
  runtime splitting isn't enough).

Wall-clock skew ratios at sf0.1 volume are measured separately by
``tools/skew_tile.py`` and recorded in BASELINE.md.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from oracle_utils import explain_str


HOT_FRAC = 0.3
N_FACT = 60_000
N_DIM = 500


@pytest.fixture(scope="module")
def skewed_fact(spark):
    """(k, v) fact where key 0 owns ~30% of rows, rest uniform."""
    return (
        spark.range(N_FACT)
        .select(
            F.when(
                F.xxhash64("id") % 100 < int(HOT_FRAC * 100), F.lit(0)
            )
            .otherwise((F.col("id") % (N_DIM - 1)) + 1)
            .alias("k"),
            F.col("id").alias("v"),
        )
        .localCheckpoint(eager=True)
    )


@pytest.fixture(scope="module")
def dim(spark):
    return (
        spark.range(N_DIM)
        .select(F.col("id").alias("k"), (F.col("id") * 10).alias("w"))
        .localCheckpoint(eager=True)
    )


def test_aqe_skew_join_split_engages(spark, skewed_fact, dim):
    """With auto-broadcast off (the at-scale regime) and thresholds
    scaled to test volume, the final adaptive plan must report the
    sort-merge join as skew-handled."""
    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "32KB",
        # coalescing would re-merge the split partitions' neighbors and
        # can mask the skew marker at tiny volumes
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
    }
    prev = {k: spark.conf.get(k) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        # NOTE: no groupBy on the join key downstream — AQE skips the
        # skew split when the join output must stay hash-partitioned
        # on that key (splitting would break the required
        # distribution). Real skewed star joins aggregate by OTHER
        # columns (ext_join_star groups by region/year), where the
        # split is eligible.
        joined = skewed_fact.join(dim, "k").select(
            (F.col("v") + F.col("w")).alias("s")
        )
        # collect() (not count()) — the final adaptive plan attaches to
        # THIS DataFrame's query execution; count() wraps the plan in
        # its own aggregate and leaves joined's plan un-finalized
        n = len(joined.collect())
        assert n == N_FACT  # every fact row matched exactly one dim row
        plan = explain_str(joined)
        assert "isFinalPlan=true" in plan, plan
        assert "skew=true" in plan, (
            "AQE skew-join split did not engage:\n" + plan
        )
        # and the skew is real: key 0 owns ~HOT_FRAC of the fact
        hot_n = skewed_fact.filter(F.col("k") == 0).count()
        assert hot_n > HOT_FRAC * N_FACT * 0.8
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)


def test_salted_join_equals_plain_on_skewed_input(spark, skewed_fact, dim):
    """salted_join's contract — result identical to the plain join —
    verified on a genuinely skewed input, not just the bench fixture."""
    from etl_acordos_spark.operators.relational import salted_join

    plain = (
        skewed_fact.join(dim, "k")
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("w").alias("sw"))
    )
    salted = (
        salted_join(skewed_fact, dim, "k", salt_buckets=8)
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("w").alias("sw"))
    )
    assert sorted(map(tuple, salted.collect())) == sorted(
        map(tuple, plain.collect())
    )
    # and no single task owns the hot key: the salted fact spreads key
    # 0 across all 8 sub-keys
    spread = (
        skewed_fact.filter(F.col("k") == 0)
        .withColumn("_salt", (F.rand(seed=7) * 8).cast("int"))
        .groupBy("_salt")
        .count()
    )
    assert spread.count() == 8


"""Volume-gated execution posture (session.tune_for_volume).

r18: the FULL (compute-bound / at-scale) posture must floor AQE's
partition coalescing at the core count — parallelismFirst=true — because
narrow-row exchanges under-price their downstream per-row compute (the
10x stage timelines measured a 400k-row band self-join coalesced to ONE
task).  The SMALL-input posture keeps the latency-first static sizing
with AQE off.  Pinned here so a future conf cleanup cannot silently
revert either side of the gate.
"""

from yupana_spark.session import SMALL_INPUT_BYTES, tune_for_volume

_PF = "spark.sql.adaptive.coalescePartitions.parallelismFirst"


def test_full_posture_floors_coalescing_at_cores(spark):
    tune_for_volume(spark, 1 << 62)
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    assert spark.conf.get(_PF) == "true"


def test_small_posture_static_sizing(spark):
    tune_for_volume(spark, 1 << 62)
    tune_for_volume(spark, SMALL_INPUT_BYTES - 1)
    assert spark.conf.get("spark.sql.adaptive.enabled") == "false"
    parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    assert 4 <= parts <= spark.sparkContext.defaultParallelism
    # each branch states its whole posture: the full branch's
    # parallelismFirst=true must not leak into the small one
    assert spark.conf.get(_PF) == "false"
    # restore the full posture for whatever test runs next in the session
    tune_for_volume(spark, 1 << 62)

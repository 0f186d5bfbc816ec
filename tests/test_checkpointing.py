"""checkpointing.truncate_lineage footprint contract (r9 verdict task
3: the 10× capture GC-thrashed a 16 g heap on a DESERIALIZED
localCheckpoint cache — data-sized frames must be stored serialized
with disk spill so heap never scales with data)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from data_mastery_pipeline_spark.checkpointing import release, truncate_lineage


def _ckpt_level(df):
    """Storage level of the checkpointed frame's backing RDD."""
    plan = df._jdf.queryExecution().analyzed()
    assert plan.getClass().getName().endswith("LogicalRDD"), plan
    return plan.rdd().getStorageLevel()


def test_data_footprint_is_serialized_with_disk_spill(spark):
    df = truncate_lineage(
        spark.range(1000).withColumn("v", F.col("id") * 2), footprint="data"
    )
    lvl = _ckpt_level(df)
    assert lvl.useMemory() and lvl.useDisk()
    assert not lvl.deserialized(), (
        "data-sized checkpoint stored DESERIALIZED — heap scales with "
        "data again (the r9 10x GC-thrash mechanism)"
    )
    assert df.count() == 1000
    release(df)


def test_bounded_footprint_keeps_fast_default(spark):
    df = truncate_lineage(spark.range(100), footprint="bounded")
    lvl = _ckpt_level(df)
    assert lvl.useMemory()
    assert df.count() == 100
    release(df)


def test_footprint_validated(spark):
    with pytest.raises(ValueError):
        truncate_lineage(spark.range(1), footprint="huge")


def test_known_data_sized_sites_are_flagged():
    """The sites that checkpoint O(data) frames must declare it —
    a new data-sized localCheckpoint without the flag is exactly how
    the heap-scaling regression returns."""
    import inspect

    from data_mastery_pipeline_spark import queries_ext
    from data_mastery_pipeline_spark.dedup import components, minhash

    src = inspect.getsource(minhash)
    assert src.count('footprint="data"') >= 3  # ss, ss_i, ss_n
    src = inspect.getsource(components)
    assert 'footprint="data"' in src  # the per-round ckpt lambda
    src = inspect.getsource(queries_ext)
    assert src.count('footprint="data"') >= 3  # epoch base, c12, per_src
    # ADVICE r10: the rollout had missed these three modules
    from data_mastery_pipeline_spark import corpus_pipeline
    from data_mastery_pipeline_spark.dedup import cells
    from data_mastery_pipeline_spark.sources import txlog

    src = inspect.getsource(corpus_pipeline)
    assert 'footprint="data"' in src  # the per-stage ckpt lambda
    src = inspect.getsource(cells)
    assert 'footprint="data"' in src  # the celled base of the blocked self-joins
    src = inspect.getsource(txlog)
    assert src.count('footprint="data"') >= 2  # DV matched rows, merge updates

"""Round-8 verdict item 1: the cluster-DEFAULT materializer path
(`auto` -> scratch-parquet `reliable` on any non-local master) was
bit-identity-tested on only 2 of the 28 pin() sites. Pin at least one
operator per pin()-consuming module — graph is covered by
tests/test_advice_r7.py (pagerank + kcore); here: similarity,
analytics, pipeline, text, and the etl side-effect path — each run
under `reliable` with localCheckpoint PATCHED TO RAISE, results
compared bit-exactly against the local path. The full-registry proof
is the DRIVER_SIM_r08_reliable.json artifact (every registered query
swept under the reliable materializer)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMALL


def _collect_sorted(df):
    return sorted(tuple(r) for r in df.collect())


class _banned_localcheckpoint:
    """Context: materializer=reliable with localCheckpoint raising —
    any bare localCheckpoint planned under reliable is a test failure."""

    def __init__(self, spark):
        self.spark = spark
        self.cls = type(spark.range(1))  # concrete classic DataFrame

    def __enter__(self):
        self.orig = self.cls.localCheckpoint

        def banned(_self, *a, **k):  # pragma: no cover - failure path
            raise AssertionError(
                "localCheckpoint planned under materializer=reliable"
            )

        self.spark.conf.set("spark.graft.materializer", "reliable")
        self.cls.localCheckpoint = banned
        return self

    def __exit__(self, *exc):
        self.cls.localCheckpoint = self.orig
        self.spark.conf.unset("spark.graft.materializer")


# one op per pin()-consuming module not already pinned by the r7 test:
# similarity.py (mmr greedy loop), analytics.py (count-min word_counts
# reuse), pipeline.py (dedup_components label frames), text.py
# (bpe_train vocab + merge loop)
RELIABLE_OPS = [
    "mmr_diversify",
    "count_min_words",
    "dedup_components",
    "bpe_merge_candidates",
]


@pytest.mark.parametrize("name", RELIABLE_OPS)
def test_reliable_mode_bit_identity(spark, name):
    from cdk_serverless_data_lake_sandbox_spark.registry import all_queries

    qs = all_queries()
    base = _collect_sorted(qs[name](spark, SF_SMALL))
    with _banned_localcheckpoint(spark):
        rel = _collect_sorted(qs[name](spark, SF_SMALL))
    assert rel == base


def test_reliable_mode_dv_delete_side_effects_identical(spark, tmp_path):
    """The etl module's pin() sites are side-effect paths (deletion
    vectors, CDC apply, IVM maintenance): run dv_delete on two copies
    of a table, one per mode, and require identical survivor sets AND
    identical delete accounting."""
    from cdk_serverless_data_lake_sandbox_spark.operators.etl import (
        dv_delete,
        dv_read,
    )

    src = spark.range(100).select(
        F.col("id"), (F.col("id") % 7).alias("bucket")
    )
    t_local = str(tmp_path / "t_local")
    t_rel = str(tmp_path / "t_rel")
    src.repartition(4).write.parquet(t_local)
    src.repartition(4).write.parquet(t_rel)

    spark.conf.set("spark.graft.materializer", "local")
    try:
        stats_local = dv_delete(spark, t_local, "bucket = 3")
        # idempotence under local too
        again_local = dv_delete(spark, t_local, "bucket = 3")
        rows_local = _collect_sorted(dv_read(spark, t_local))
    finally:
        spark.conf.unset("spark.graft.materializer")

    with _banned_localcheckpoint(spark):
        stats_rel = dv_delete(spark, t_rel, "bucket = 3")
        again_rel = dv_delete(spark, t_rel, "bucket = 3")
        rows_rel = _collect_sorted(dv_read(spark, t_rel))

    assert stats_rel == stats_local
    assert again_rel == again_local == {"rows_deleted": 0, "files_touched": 0}
    assert rows_rel == rows_local
    assert len(rows_rel) == 100 - stats_local["rows_deleted"]

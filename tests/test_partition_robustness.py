"""Partition-count robustness: the same answers under a radically
different physical layout.

Forcing tiny input splits (64 KB maxPartitionBytes) and an 8x shuffle
fan-out approximates the task counts a 1000-executor cluster would see.
Operators whose correctness silently depends on partition layout —
per-partition ids, spark_partition_id arithmetic, within-partition
ordering assumptions — break under this test even though the default
layout hides it. q33 (two-pass global rank) and q75 (two-pass global
index) are exactly the shapes at risk, so they are in the set alongside
a join-heavy, a dedup, and a composed query.
"""

import pytest

SF_DIR = "/root/testdata/sf0.001"

NAMES = [
    "q01_pricing_summary",
    "q33_customer_percentiles",
    "q75_global_row_index",
    "q88_jaccard_similar_pairs",
    "qx26_retention_cohorts",
    # round 9: the remaining monotonically_increasing_id / range-exchange
    # machinery — qx52/qx53 reconstruct run starts from per-partition id
    # blocks and qz14 stacks two global_ranks passes; all three are
    # partition-layout-sensitive BY CONSTRUCTION, so they belong in the
    # forced-layout gate, not just the 16x data-volume one.
    "qx52_range_partition_planner",
    "qx53_weighted_median_by_rank",
    "qz14_spearman_length_quality",
]


def _freeze(rows):
    return sorted(tuple(str(v) for v in r) for r in rows)


@pytest.fixture(scope="module")
def baseline(spark):
    from kafka2delta_spark.queryset import QUERIES, load_all_querysets

    load_all_querysets()
    return {n: _freeze(QUERIES[n](spark, SF_DIR).collect()) for n in NAMES}


def test_results_stable_under_tiny_splits_and_high_fanout(spark, baseline):
    from kafka2delta_spark.queryset import QUERIES
    from kafka2delta_spark.sources.tables import clear

    saved = {
        "spark.sql.files.maxPartitionBytes": spark.conf.get(
            "spark.sql.files.maxPartitionBytes"
        ),
        "spark.sql.shuffle.partitions": spark.conf.get(
            "spark.sql.shuffle.partitions"
        ),
    }
    # the session memos (shingle rows, pair stats, edges) were materialized
    # under the old layout; clear them so the stressed layout actually
    # re-derives the whole pipeline, shingle explode/distinct included
    clear(spark)
    spark.conf.set("spark.sql.files.maxPartitionBytes", str(64 * 1024))
    spark.conf.set("spark.sql.shuffle.partitions", "64")
    try:
        for n in NAMES:
            got = _freeze(QUERIES[n](spark, SF_DIR).collect())
            assert got == baseline[n], f"{n} diverged under stressed layout"
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)
        clear(spark)

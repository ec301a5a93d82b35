"""OPTIMIZATION_r13 focused tests: frame-sized iterative round
layouts (VERDICT r12 #1 — width from the previous checkpoint's bytes,
never the core count) and the ``frame_bytes`` lookup they ride on.

The VALUE semantics of every touched operator are pinned elsewhere
(test_suffix / test_bpe / test_graph / test_dedup brute-force parity
+ the DuckDB oracles); these tests pin the new LAYOUT machinery:
widths honored, conf restored, bytes visible, the at-scale no-op
guarantees.
"""
from __future__ import annotations

import importlib

import pytest
from pyspark.sql import functions as F

audit_mod = importlib.import_module(
    "streaming_recommendation_spark.plans.audit"
)
from streaming_recommendation_spark.plans.audit import (  # noqa: E402
    checkpoint_partitioned,
    frame_bytes,
    narrow_static_layout,
    round_width,
)


def test_round_width_arithmetic(spark):
    cap = int(spark.conf.get("spark.sql.shuffle.partitions"))
    # unknown bytes -> caller keeps the session default
    assert round_width(None, spark) is None
    # tiny frame -> floor 1
    assert round_width(10, spark) == 1
    # exactly one target -> 1, one byte over -> 2
    t = audit_mod.ROUND_TARGET_BYTES
    assert round_width(t, spark) == 1
    assert round_width(t + 1, spark) == 2
    # huge frame -> capped at the session width (the 100 TB behavior)
    assert round_width(10**15, spark) == cap


def test_checkpoint_width_honored_and_conf_restored(spark):
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    sp = spark.conf.get("spark.sql.shuffle.partitions")
    df = spark.range(1000).selectExpr("id", "id % 7 as k")
    out = checkpoint_partitioned(df.repartition("k"), width=3)
    assert out.rdd.getNumPartitions() == 3
    # session conf untouched after the materialization
    assert spark.conf.get("spark.sql.adaptive.enabled") == aqe
    assert spark.conf.get("spark.sql.shuffle.partitions") == sp
    # values identical regardless of layout width
    assert out.orderBy("id").collect() == df.orderBy("id").collect()


def test_narrow_static_layout_fires_only_when_small(spark, monkeypatch):
    df = spark.range(2000).selectExpr("id", "id % 13 as k")
    ck = checkpoint_partitioned(df.repartition("k"))
    # tiny frame: re-layout to round_width partitions
    narrowed = narrow_static_layout(ck, "k")
    assert narrowed.rdd.getNumPartitions() == round_width(
        frame_bytes(ck), spark
    )
    # "large" frame (bytes >> target): must return the input UNCHANGED
    # — at 100 TB the relayout never runs
    with monkeypatch.context() as m:
        m.setattr(audit_mod, "ROUND_TARGET_BYTES", 1)
        assert narrow_static_layout(ck, "k") is ck
    # not a checkpoint (bytes unknown): unchanged
    lazy = ck.where("k > 0")
    assert narrow_static_layout(lazy, "k") is lazy


def test_frame_bytes_reads_the_checkpoint_itself(spark):
    df = spark.range(5000).selectExpr("id * 2 as v")
    # plain (AQE-on) and AQE-off partitioned checkpoints both resolve
    # to their own RDD's blocks
    assert frame_bytes(df.localCheckpoint()) > 0
    assert frame_bytes(checkpoint_partitioned(df.repartition("v"))) > 0
    # an empty checkpoint (no partitions) holds no blocks, so the block
    # manager does not list it -> 0, not None
    assert frame_bytes(df.limit(0).localCheckpoint()) == 0
    # a lazy frame, or a plan ON TOP of a checkpoint, is not a checkpoint
    assert frame_bytes(df) is None
    assert frame_bytes(df.localCheckpoint().where("v > 0")) is None


def test_prefix_doubling_layout_invariant(spark, monkeypatch):
    # the doubling rounds' OUTPUT is identical whether round layouts
    # are wide (target=1 byte -> width = session cap) or fully
    # collapsed (target=1 GiB -> width 1): layout is pure placement
    from streaming_recommendation_spark.operators.suffix import (
        exact_substring_duplicates,
    )

    docs = spark.createDataFrame(
        [
            (1, "a b c d a b c d a b c d"),
            (2, "a b c d x y z w q r s t"),
            (3, "x y z w a b c d a b c d"),
        ],
        "doc_id long, text string",
    )

    def run(target):
        monkeypatch.setattr(audit_mod, "ROUND_TARGET_BYTES", target)
        return sorted(
            tuple(r) for r in exact_substring_duplicates(docs, min_len=4)
            .collect()
        )

    wide, collapsed = run(1), run(1 << 30)
    assert wide == collapsed
    # sanity: the fixture genuinely contains duplicated 4-grams
    assert any(row[3] > 0 for row in wide)  # n_dup_grams column

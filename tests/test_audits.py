"""Built-in WAP guards: row-count drop, null merge keys, composition —
and the streaming commit gate end to end."""

from __future__ import annotations

from binlogsub_spark.audits import all_of, no_null_keys_guard, row_count_guard
from binlogsub_spark.config import EngineConfig
from binlogsub_spark.lake.table import LakeTable
from binlogsub_spark.pipeline import apply_batch
from binlogsub_spark.sources.generator import GeneratorParams, generate_binlog


def test_row_count_guard_blocks_mass_delete(spark, tmp_path):
    """The classic accident: a replication storm deleting most of the
    table is staged, audited, aborted — readers never see it."""
    import pytest
    from pyspark.sql import functions as F

    ev = generate_binlog(spark, GeneratorParams(n_events=2000, n_convs=40, dup_tail=0))
    table = LakeTable(spark, str(tmp_path / "tbl"), buckets=8)
    apply_batch(table, ev, batch_id=1, cfg=EngineConfig())
    rows = table.read().count()

    # forge a mass-delete batch: tombstone every live row
    live = table.read_internal().where(F.col("_op") != "D")
    storm = live.select(
        "conv_id", "turn_idx",
        *[F.lit(None).cast("string").alias(c) for c in ("role", "text", "tool")],
        F.lit(None).cast("timestamp").alias("ts"),
        F.lit("D").alias("_op"),
        (F.col("_ts") + F.expr("INTERVAL 1 HOUR")).alias("_ts"),
        F.col("_file_seq"), F.col("_log_pos"),
    )
    res = table.merge(storm, batch_id=2, publish=False)
    guard = row_count_guard(max_drop_frac=0.5)
    assert not guard(table, res["snapshot_id"])
    table.abort_staged(res["snapshot_id"])
    assert table.read().count() == rows  # untouched

    # a normal (growing) staged batch passes the same guard
    res2 = table.merge(
        storm.limit(0), batch_id=2, publish=False
    )
    assert guard(table, res2["snapshot_id"])
    table.abort_staged(res2["snapshot_id"])

    # bounds check
    with pytest.raises(ValueError):
        row_count_guard(1.5)


def test_null_key_guard_and_composition(spark, tmp_path):
    from pyspark.sql import functions as F

    ev = generate_binlog(spark, GeneratorParams(n_events=800, n_convs=20, dup_tail=0))
    table = LakeTable(spark, str(tmp_path / "tbl"), buckets=4)
    apply_batch(table, ev, batch_id=1, cfg=EngineConfig())

    poison = spark.createDataFrame(
        [(None, 0, "user", "x", None)],
        "conv_id string, turn_idx int, role string, text string, tool string",
    ).select(
        "*",
        F.current_timestamp().alias("ts"),
        F.lit("I").alias("_op"),
        F.current_timestamp().alias("_ts"),
        F.lit(99).alias("_file_seq"), F.lit(1).cast("long").alias("_log_pos"),
    )
    res = table.merge(poison, batch_id=2, publish=False)
    sid = res["snapshot_id"]
    assert not no_null_keys_guard()(table, sid)
    # composition short-circuits to the rejection
    assert not all_of(row_count_guard(0.5), no_null_keys_guard())(table, sid)
    table.abort_staged(sid)

"""Snapshot-then-stream bootstrap and multi-table routing.

Bootstrap invariant: snapshot(read as of cut) + tail(positions > cut, with
an at-least-once overlap below the cut) converges to the IDENTICAL state
as replaying the whole binlog — the stamped-at-cut LWW argument in
``bootstrap_from_snapshot``'s docstring, checked here row-for-row.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F

from binlogsub_spark.config import EngineConfig
from binlogsub_spark.lake.table import LakeTable
from binlogsub_spark.pipeline import (
    apply_batch,
    apply_batch_multi,
    bootstrap_from_snapshot,
)
from binlogsub_spark.sources.generator import GeneratorParams, generate_binlog

P = GeneratorParams(n_events=4000, n_convs=60, dup_tail=150)


def _state(table: LakeTable) -> pd.DataFrame:
    return (
        table.read()
        .toPandas()
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)[["conv_id", "turn_idx", "role", "text", "tool", "ts"]]
    )


def test_bootstrap_equals_full_replay(spark, tmp_path):
    ev = generate_binlog(spark, P).cache()
    # ground truth: full replay into one table
    full = LakeTable(spark, str(tmp_path / "full"), buckets=16)
    apply_batch(full, ev, batch_id=1)

    # cut: a (file_seq, log_pos) frontier about halfway through the stream
    cut_fs = int(ev.agg(F.expr("percentile(file_seq, 0.5)")).first()[0])
    cut_lp = int(
        ev.where(F.col("file_seq") == cut_fs).agg(F.max("log_pos")).first()[0]
    )
    at_or_below = (F.col("file_seq") < cut_fs) | (
        (F.col("file_seq") == cut_fs) & (F.col("log_pos") <= cut_lp)
    )

    # the "existing system" whose consistent read is the snapshot
    pre = LakeTable(spark, str(tmp_path / "pre"), buckets=16)
    apply_batch(pre, ev.where(at_or_below), batch_id=1)

    boot = LakeTable(spark, str(tmp_path / "boot"), buckets=16)
    res = bootstrap_from_snapshot(boot, pre.read(), cut_fs, cut_lp)
    assert res["applied"] > 0 and not res["replayed"]
    assert boot.snapshot()["watermark"] == {"file_seq": cut_fs, "log_pos": cut_lp}
    # the cut is the bootstrap's one lineage row; its rows are not events
    assert [tuple(r)[:4] for r in boot.lineage().collect()] == [(-1, cut_fs, cut_lp, 0)]

    # tail = everything above the cut PLUS a redelivered overlap just below
    # it (at-least-once): the overlap must be fully absorbed by LWW
    overlap = ev.where(at_or_below & (F.col("file_seq") == cut_fs))
    tail = ev.where(~at_or_below).unionByName(overlap)
    apply_batch(boot, tail, batch_id=0)

    pd.testing.assert_frame_equal(_state(boot), _state(full), check_dtype=False)
    ev.unpersist()


def test_multi_table_routing_batch(spark, tmp_path):
    """One envelope batch fanned out to two destinations: each table's
    final state equals a single-table replay of its own slice; no
    cross-routing; shared batch_id idempotence holds per table."""
    ev = (
        generate_binlog(spark, P)
        .withColumn(
            "table_name",
            F.when(F.col("delivery_seq") % 2 == 0, F.lit("transcripts")).otherwise(
                F.lit("transcripts_audit")
            ),
        )
        .cache()
    )
    dests = {
        "transcripts": LakeTable(spark, str(tmp_path / "t1"), buckets=8),
        "transcripts_audit": LakeTable(spark, str(tmp_path / "t2"), buckets=8),
    }
    out = apply_batch_multi(dests, ev, batch_id=1)
    assert set(out) == set(dests)
    for name in dests:
        solo = LakeTable(spark, str(tmp_path / f"solo_{name}"), buckets=8)
        apply_batch(
            solo,
            ev.where(F.col("table_name") == name).withColumn(
                "table_name", F.lit("transcripts")
            ),
            batch_id=1,
        )
        pd.testing.assert_frame_equal(
            _state(dests[name]), _state(solo), check_dtype=False
        )
    # replaying the same batch_id is a committed no-op on every destination
    replay = apply_batch_multi(dests, ev, batch_id=1)
    assert all(m["replayed"] for m in replay.values())
    ev.unpersist()

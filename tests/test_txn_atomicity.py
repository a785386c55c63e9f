"""Transaction-atomic micro-batches over genuine MySQL frames: rows past
the last XID of their binlog file are deferred (stashed), never half-
applied, and land exactly once when their commit marker arrives."""

from __future__ import annotations

import datetime as dt
import os

from pyspark.sql import functions as F

from binlogsub_spark.config import EngineConfig
from binlogsub_spark.lake.table import LakeTable
from binlogsub_spark.mysql_binlog import (
    XID_EVENT,
    encode_rows_df,
    encode_xids_df,
    split_uncommitted,
)
from binlogsub_spark.pipeline import apply_mysql_batch
from binlogsub_spark.sources.generator import transcripts_table_maps

T0 = dt.datetime(2024, 3, 1)

def _name_map():
    tmaps = transcripts_table_maps()
    nm: dict = {}
    for tm in tmaps.values():
        nm.setdefault((tm.db, tm.table), []).append(tm.columns)
    return nm



def _changes(spark, n=8, file_seq=1):
    """n INSERTs on distinct keys at positions 4+128k."""
    rows = [
        (file_seq, 4 + 128 * k, "I", 12, f"c{k}", k, 1, f"txt{k}", None,
         T0 + dt.timedelta(seconds=k))
        for k in range(n)
    ]
    return spark.createDataFrame(
        rows,
        "file_seq int, log_pos long, op string, table_id long, "
        "conv_id string, turn_idx long, role long, text string, "
        "tool long, ts timestamp",
    )


def _frames(spark, changes, xid_positions):
    tmaps = transcripts_table_maps()
    rows = encode_rows_df(
        changes, tmaps[12], rows_per_event=1, checksum=True,
        file_seq_col="file_seq", log_pos_col="log_pos",
        op_col="op", tmap_col="table_id", tmaps=tmaps,
    )
    if not xid_positions:
        return rows
    xids = spark.createDataFrame(
        [(fs, lp, i + 1) for i, (fs, lp) in enumerate(xid_positions)],
        "file_seq int, log_pos long, xid long",
    )
    return rows.unionByName(encode_xids_df(xids, checksum=True))


def test_split_uncommitted_on_xid_position(spark):
    # commits cover the first 4 changes (xid at pos of change 3 + 64)
    frames = _frames(spark, _changes(spark, 8), [(1, 4 + 128 * 3 + 64)])
    committed, deferred = split_uncommitted(frames)
    code = F.ascii(F.expr("substring(payload, 5, 1)"))
    # all control frames (table maps) pass; 4 rows-events committed
    assert committed.where(code == 30).count() == 4
    assert deferred.count() == 4  # the 4 uncommitted WRITE_ROWS
    assert deferred.where(code == XID_EVENT).count() == 0
    # a file with no XID at all defers every rows-event
    frames2 = _frames(spark, _changes(spark, 3, file_seq=2), [])
    c2, d2 = split_uncommitted(frames2)
    assert c2.where(code == 30).count() == 0 and d2.count() == 3


def test_atomic_batches_defer_then_apply(spark, tmp_path):
    changes = _changes(spark, 8)
    stash = str(tmp_path / "stash")
    table = LakeTable(spark, str(tmp_path / "tbl"), buckets=4)
    cfg = EngineConfig()

    # the registry cache persists across micro-batches (as run_stream_mysql
    # wires it): the deferred rows re-arrive without their TABLE_MAP frames
    cache: dict = {}
    # batch 1: all 8 rows-events but commit marker only after the first 4
    b1 = _frames(spark, changes, [(1, 4 + 128 * 3 + 64)])
    m1 = apply_mysql_batch(
        table, b1, 1, cfg, stash_path=stash,
        registry_cache=cache, name_map=_name_map(),
    )
    assert table.read().count() == 4  # never half a transaction
    assert m1["deferred"] == 4
    assert os.path.isdir(os.path.join(stash, "batch_id=1"))

    # batch 2: just the trailing XID — the stash drains, all 8 visible
    b2 = _frames(spark, _changes(spark, 0), [(1, 4 + 128 * 7 + 64)])
    m2 = apply_mysql_batch(
        table, b2, 2, cfg, stash_path=stash,
        registry_cache=cache, name_map=_name_map(),
    )
    assert m2["deferred"] == 0
    assert table.read().count() == 8
    assert sorted(
        r["conv_id"] for r in table.read().select("conv_id").collect()
    ) == [f"c{k}" for k in range(8)]


def test_atomic_batch_replay_is_idempotent(spark, tmp_path):
    """A checkpoint-style replay of batch 2 (same inputs, stash partition 1
    still present) must rewrite its stash identically and not re-apply."""
    changes = _changes(spark, 6)
    stash = str(tmp_path / "stash")
    table = LakeTable(spark, str(tmp_path / "tbl"), buckets=4)
    cfg = EngineConfig()
    cache: dict = {}
    b1 = _frames(spark, changes, [(1, 4 + 128 * 2 + 64)])
    apply_mysql_batch(table, b1, 1, cfg, stash_path=stash,
                      registry_cache=cache, name_map=_name_map())
    b2 = _frames(spark, _changes(spark, 0), [(1, 4 + 128 * 5 + 64)])
    apply_mysql_batch(table, b2, 2, cfg, stash_path=stash,
                      registry_cache=cache, name_map=_name_map())
    snap = table.snapshot()["snapshot_id"]
    rows = table.read().count()
    # replay batch 2 (merge no-ops on the committed batch_id)
    m = apply_mysql_batch(
        table, b2, 2, cfg, stash_path=stash,
        registry_cache=cache, name_map=_name_map(),
    )
    assert m["replayed"]
    assert table.snapshot()["snapshot_id"] == snap
    assert table.read().count() == rows == 6


def test_streaming_atomic_commits(spark, tmp_path):
    """run_stream_mysql(atomic_commits=True): a source split so a trigger
    boundary cuts a transaction in half must still converge to the full
    state, with the mid-stream batch never exposing the partial txn."""
    from binlogsub_spark.pipeline import run_stream_mysql
    from binlogsub_spark.sources.generator import transcripts_table_maps

    changes = _changes(spark, 10)
    src = str(tmp_path / "frames")
    # part 1: all 10 rows-events, commits covering the first 6
    _frames(spark, changes, [(1, 4 + 128 * 5 + 64)]).coalesce(1).write.parquet(
        src
    )
    # part 2 (a later file the stream picks up in a separate trigger):
    # the trailing commit marker
    _frames(spark, _changes(spark, 0), [(1, 4 + 128 * 9 + 64)]).coalesce(
        1
    ).write.mode("append").parquet(src)

    tmaps = transcripts_table_maps()
    name_map: dict = {}
    for tm in tmaps.values():
        name_map.setdefault((tm.db, tm.table), []).append(tm.columns)
    table = LakeTable(spark, str(tmp_path / "tbl"), buckets=4)
    q = run_stream_mysql(
        spark, src, table, str(tmp_path / "ckpt"),
        cfg=EngineConfig(), name_map=name_map,
        max_files_per_trigger=1, atomic_commits=True,
    )
    q.awaitTermination()
    assert table.read().count() == 10

"""Direct bucket colocation: every bucket lands whole in one task (one
partition per table bucket, in a merge as in a compaction), and a
``touched_buckets`` set that misses a bucket of the batch fails before
the commit instead of hiding the row."""

from __future__ import annotations

import glob
import os

import pytest
from pyspark.sql import functions as F

from binlogsub_spark.config import EngineConfig
from binlogsub_spark.lake.table import LakeTable, bucket_expr
from binlogsub_spark.operators.dedup import partial_lww_reduce
from binlogsub_spark.pipeline import apply_batch, prepare_upserts
from binlogsub_spark.plans.envelope import MERGE_KEY
from binlogsub_spark.sources.generator import GeneratorParams, generate_binlog

BUCKETS = 32


def _upserts(ev):
    cfg = EngineConfig()
    return partial_lww_reduce(prepare_upserts(ev, cfg), salt=cfg.skew_salt)


def _buckets_of(up) -> list[int]:
    return sorted(
        r["b"]
        for r in up.select(bucket_expr(MERGE_KEY[0], BUCKETS).alias("b"))
        .distinct()
        .collect()
    )


def _files_per_bucket(table: LakeTable, commit_rel: str) -> dict[int, int]:
    d = os.path.join(table.data_dir, commit_rel)
    return {
        int(b.split("=", 1)[1]): len(glob.glob(os.path.join(d, b, "*.parquet")))
        for b in os.listdir(d)
        if b.startswith("_bucket=")
    }


@pytest.fixture
def base(spark, tmp_path):
    """A 32-bucket table holding the first 2000 events, and the stream."""
    ev = generate_binlog(
        spark, GeneratorParams(n_events=3000, n_convs=80, dup_tail=0)
    )
    table = LakeTable(spark, str(tmp_path / "t"), buckets=BUCKETS)
    apply_batch(table, ev.where("delivery_seq < 2000"), batch_id=1)
    return table, ev


def test_merge_writes_one_file_per_touched_bucket(base, last_stage_tasks):
    table, ev = base
    up = _upserts(ev.where("delivery_seq >= 2000"))
    convs = sorted(r[0] for r in up.select("conv_id").distinct().collect())[:3]
    up = up.where(F.col("conv_id").isin(convs))
    touched = _buckets_of(up)
    assert 0 < len(touched) < BUCKETS

    tasks = last_stage_tasks(
        lambda: table.merge(up, batch_id=2, touched_buckets=touched)
    )
    # one task per table bucket: the untouched ones run empty and write
    # nothing
    assert tasks == BUCKETS
    locations = table.snapshot()["bucket_locations"]
    commit = locations[str(touched[0])]
    assert sorted(int(b) for b, c in locations.items() if c == commit) == touched
    assert _files_per_bucket(table, commit) == {b: 1 for b in touched}


def test_compact_runs_one_task_and_file_per_bucket(base, last_stage_tasks):
    table, _ = base
    live = {int(b) for b, c in table.snapshot()["bucket_locations"].items() if c}
    tasks = last_stage_tasks(table.compact)
    assert tasks == BUCKETS
    commit = table.snapshot()["bucket_locations"][str(min(live))]
    assert _files_per_bucket(table, commit) == {b: 1 for b in live}


def test_touched_buckets_missing_a_bucket_fails_before_commit(
    spark, base, tmp_path
):
    """A caller's set that leaves out a bucket of the batch: the row would
    be written under ``commit-N/_bucket=X`` while the manifest keeps
    pointing X at its old commit, so ``read()`` would silently miss it.
    The merge refuses to commit, names the bucket, and a retry with the
    whole set lands the batch."""
    table, ev = base
    up = _upserts(ev.where("delivery_seq >= 2000"))
    touched = _buckets_of(up)
    missing = touched[len(touched) // 2]
    before = table.snapshot()

    with pytest.raises(ValueError, match=rf"bucket\(s\) \[{missing}\]"):
        table.merge(
            up, batch_id=2, touched_buckets=[b for b in touched if b != missing]
        )
    assert table.snapshot() == before

    table.merge(up, batch_id=2, touched_buckets=touched)
    # the same batch through the merge's own bucket discovery
    ref = LakeTable(spark, str(tmp_path / "ref"), buckets=BUCKETS)
    apply_batch(ref, ev.where("delivery_seq < 2000"), batch_id=1)
    ref.merge(up, batch_id=2)
    assert sorted(table.read().collect()) == sorted(ref.read().collect())


def test_empty_touched_buckets_is_checked_not_trusted(base):
    """``touched_buckets=[]`` with rows in the batch raises before the
    commit (the write's stray-row count sees every row), so ``CURRENT``
    does not move; a batch with no rows still commits ``applied`` 0."""
    table, ev = base
    up = _upserts(ev.where("delivery_seq >= 2000"))
    before = table.snapshot()

    with pytest.raises(ValueError, match="missing from touched_buckets"):
        table.merge(up, batch_id=2, touched_buckets=[])
    assert table.snapshot() == before

    res = table.merge(up.limit(0), batch_id=2, touched_buckets=[])
    assert res["applied"] == 0 and not res["replayed"]
    snap = table.snapshot()
    assert snap["batch_id"] == 2
    assert snap["bucket_locations"] == before["bucket_locations"]

"""Direct bucket colocation: every bucket lands whole in one task, over
``min(buckets, spark.sql.shuffle.partitions)`` partitions (bucket ``b`` in
partition ``b mod n``, in a merge as in a compaction), and a
``touched_buckets`` set that misses a bucket of the batch fails before
the commit instead of hiding the row. A key list hashes to its buckets
on the driver, with no Spark job. A write's bucket map is the bucket dirs
it made, and a scan reads with the manifest schema, inferring none."""

from __future__ import annotations

import glob
import os
import zlib

import pytest
from pyspark.sql import functions as F

from binlogsub_spark.config import EngineConfig
from binlogsub_spark.lake.table import LakeTable, bucket_expr
from binlogsub_spark.operators.dedup import partial_lww_reduce
from binlogsub_spark.pipeline import apply_batch, prepare_upserts
from binlogsub_spark.plans.envelope import MERGE_KEY
from binlogsub_spark.sources.generator import GeneratorParams, generate_binlog

BUCKETS = 32


def _width(spark, buckets: int) -> int:
    """Partitions (and write tasks) of a colocation over ``buckets``."""
    return min(buckets, int(spark.conf.get("spark.sql.shuffle.partitions")))


def _upserts(ev):
    cfg = EngineConfig()
    return partial_lww_reduce(prepare_upserts(ev, cfg), salt=cfg.skew_salt)


def _buckets_of(up, buckets: int = BUCKETS) -> list[int]:
    return sorted(
        r["b"]
        for r in up.select(bucket_expr(MERGE_KEY[0], buckets).alias("b"))
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


def _make_base(spark, path, buckets: int):
    """A ``buckets``-bucket table holding the first 2000 events, and the
    stream."""
    ev = generate_binlog(
        spark, GeneratorParams(n_events=3000, n_convs=80, dup_tail=0)
    )
    table = LakeTable(spark, str(path), buckets=buckets)
    apply_batch(table, ev.where("delivery_seq < 2000"), batch_id=1)
    return table, ev


@pytest.fixture
def base(spark, tmp_path):
    """A 32-bucket table (more buckets than shuffle partitions)."""
    return _make_base(spark, tmp_path / "t", BUCKETS)


def _merge_three_convs(spark, table, ev, last_stage_tasks) -> None:
    """Merge three conversations of the stream's tail into ``table``: the
    write stage runs ``min(buckets, shuffle partitions)`` tasks (a task
    with no touched bucket runs empty and writes nothing), and each
    touched bucket dir gets exactly one file."""
    up = _upserts(ev.where("delivery_seq >= 2000"))
    convs = sorted(r[0] for r in up.select("conv_id").distinct().collect())[:3]
    up = up.where(F.col("conv_id").isin(convs))
    touched = _buckets_of(up, table.buckets)
    assert 0 < len(touched) < table.buckets

    tasks = last_stage_tasks(
        lambda: table.merge(up, batch_id=2, touched_buckets=touched)
    )
    assert tasks == _width(spark, table.buckets)
    locations = table.snapshot()["bucket_locations"]
    commit = locations[str(touched[0])]
    assert sorted(int(b) for b, c in locations.items() if c == commit) == touched
    assert _files_per_bucket(table, commit) == {b: 1 for b in touched}


def _compact(spark, table, last_stage_tasks) -> None:
    live = {int(b) for b, c in table.snapshot()["bucket_locations"].items() if c}
    assert len(live) == table.buckets
    tasks = last_stage_tasks(table.compact)
    assert tasks == _width(spark, table.buckets)
    commit = table.snapshot()["bucket_locations"][str(min(live))]
    assert _files_per_bucket(table, commit) == {b: 1 for b in live}


def test_merge_writes_one_file_per_touched_bucket(spark, base, last_stage_tasks):
    """32 buckets share the session's 8 shuffle partitions: bucket ``b``
    is written whole by task ``b mod 8``."""
    table, ev = base
    assert _width(spark, BUCKETS) == 8
    _merge_three_convs(spark, table, ev, last_stage_tasks)


def test_compact_runs_one_task_and_file_per_bucket(spark, base, last_stage_tasks):
    """Each bucket is compacted by one task into one file; 32 buckets
    share 8 tasks."""
    _compact(spark, base[0], last_stage_tasks)


def test_fewer_buckets_than_partitions_get_one_each(spark, tmp_path, last_stage_tasks):
    """4 buckets under 8 shuffle partitions: 4 partitions, one per bucket,
    in a merge as in a compaction."""
    table, ev = _make_base(spark, tmp_path / "t4", 4)
    assert _width(spark, 4) == 4
    _merge_three_convs(spark, table, ev, last_stage_tasks)
    _compact(spark, table, last_stage_tasks)


def test_compact_write_sorts_by_bucket_then_key(spark, base):
    """The compaction's one sort is ``(_bucket, conv_id, turn_idx)``: it
    satisfies the partitioned writer (which adds no sort of its own) and
    keeps each bucket file in key order."""
    table, _ = base
    table.compact()
    # the status store is fed by the listener bus asynchronously
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(10_000)
    runs = spark._jsparkSession.sharedState().statusStore().executionsList()
    write_plan = next(
        p
        for p in (
            runs.apply(i).physicalPlanDescription()
            for i in range(runs.size() - 1, -1, -1)
        )
        if "InsertIntoHadoopFsRelationCommand" in p
    )
    final = write_plan.split("== Final Plan ==")[1].split("== Initial Plan ==")[0]
    assert final.count(" Sort (") == 1, write_plan
    orders = [l for l in write_plan.splitlines() if l.startswith("Arguments: [_bucket")]
    assert orders and all("conv_id" in o and "turn_idx" in o for o in orders), write_plan


def test_key_list_buckets_run_no_spark_job(spark, base, count_jobs):
    """``read_keys`` and ``delete_keys(list)`` hash their keys through
    ``bucket_expr`` over a local relation: no Spark job, and the buckets
    equal the persisted layout's CRC-32 rule, NUL, empty and non-ASCII
    keys included."""
    table, _ = base
    keys = ["conv_1", "", "\0", "ab\0cd", "é中文🙂", "conv_1"]
    got = {}
    assert count_jobs(
        lambda: got.update(b=table._buckets_of(table._key_frame(keys)))
    ) == 0
    assert got["b"] == sorted({zlib.crc32(k.encode()) % BUCKETS for k in keys})


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


def test_scans_run_no_schema_inference_job(spark, base, count_jobs):
    """Every commit dir is read with the manifest schema, so building a
    scan, a key lookup or a change feed over three live commit dirs runs
    no Spark job (no per-dir schema inference), and running one runs only
    its own jobs."""
    table, ev = base
    up = _upserts(ev.where("delivery_seq >= 2000"))
    convs = sorted(r[0] for r in up.select("conv_id").distinct().collect())
    for batch_id, cs in ((2, convs[:3]), (3, convs[3:6])):
        part = up.where(F.col("conv_id").isin(cs))
        table.merge(part, batch_id=batch_id, touched_buckets=_buckets_of(part))
    snap = table.snapshot()
    assert len({c for c in snap["bucket_locations"].values() if c}) == 3

    built = {}
    assert count_jobs(lambda: built.update(
        scan=table._scan(snap), keys=table.read_keys(convs[:2]),
        feed=table.changes(1),
    )) == 0
    assert count_jobs(built["keys"].collect) == 1
    assert count_jobs(built["feed"].collect) == 3
    assert count_jobs(table.read().count) == 2


def test_superset_bucket_with_no_rows_keeps_its_location(spark, tmp_path):
    """The bucket map is the ``_bucket=`` dirs the write made: with a
    ``touched_buckets`` superset of every bucket, only the buckets that got
    rows point at the new commit, and a bucket with no rows keeps its
    prior location (here: none), fresh table or not."""
    up = _upserts(
        generate_binlog(spark, GeneratorParams(n_events=1000, n_convs=40, dup_tail=0))
    )
    convs = sorted(r[0] for r in up.select("conv_id").distinct().collect())
    table = LakeTable(spark, str(tmp_path / "sparse"), buckets=BUCKETS)
    filled: set[int] = set()
    for batch_id, cs in ((1, convs[:3]), (2, convs[3:6])):
        part = up.where(F.col("conv_id").isin(cs))
        table.merge(part, batch_id=batch_id, touched_buckets=list(range(BUCKETS)))
        filled |= set(_buckets_of(part))
        locs = table.snapshot()["bucket_locations"]
        assert {int(b) for b, c in locs.items() if c} == filled
        assert {c for c in locs.values() if c} == {f"commit-{batch_id:08d}"}
        assert _files_per_bucket(table, f"commit-{batch_id:08d}") == {
            b: 1 for b in filled
        }

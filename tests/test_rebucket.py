"""Online bucket rescaling (LakeTable.rebucket): content identity, the
exchange-free aligned path, manifest adoption, time travel across the
rescale, changelog semantics, and continued ingest on the new modulus."""

from pyspark.sql import functions as F

from binlogsub_spark.config import EngineConfig
from binlogsub_spark.lake.table import LakeTable, bucket_expr
from binlogsub_spark.pipeline import apply_batch
from binlogsub_spark.plans.envelope import MERGE_KEY
from binlogsub_spark.sources.generator import GeneratorParams, generate_binlog

COLS = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]


def _table_with_data(spark, path, buckets=8, n_events=3000):
    t = LakeTable(spark, str(path), buckets=buckets)
    ev = generate_binlog(spark, GeneratorParams(n_events=n_events, dup_tail=300))
    apply_batch(t, ev, batch_id=1, cfg=EngineConfig())
    return t


def test_rebucket_grow_aligned_preserves_content(spark, tmp_path):
    t = _table_with_data(spark, tmp_path / "t", buckets=8)
    before = t.read().toPandas().sort_values(["conv_id", "turn_idx"])
    r = t.rebucket(32)
    assert r["rebucketed"] and r["buckets"] == 32 and t.buckets == 32
    after = t.read().toPandas().sort_values(["conv_id", "turn_idx"])
    assert before.reset_index(drop=True).equals(after.reset_index(drop=True))
    # every row sits in its CRC32 bucket under the new modulus
    misplaced = (
        t.read_internal()
        .where(F.col("_bucket") != bucket_expr(MERGE_KEY[0], 32))
        .count()
    )
    assert misplaced == 0


def test_rebucket_shrink_aligned_and_nonaligned(spark, tmp_path):
    t = _table_with_data(spark, tmp_path / "t", buckets=16)
    before = t.read().count()
    t.rebucket(4)  # 16 % 4 == 0: aligned shrink
    assert t.read().count() == before
    t.rebucket(6)  # non-aligned: pays one repartition, same content
    assert t.read().count() == before
    assert t.buckets == 6


def test_rebucket_aligned_plan_has_no_exchange(spark, tmp_path):
    """The k-aligned remap is partition-local: pmod(h, k*n) determines
    pmod(h, n), so the rewrite plan (what rebucket writes) must carry no
    Exchange — at 100 TB that is the difference between a scan-speed
    rewrite and a full-table shuffle."""
    t = _table_with_data(spark, tmp_path / "t", buckets=8)
    df = t.read_internal().drop("_bucket").withColumn(
        "_bucket", bucket_expr(MERGE_KEY[0], 32)
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_rebucket_new_handle_adopts_manifest_buckets(spark, tmp_path):
    t = _table_with_data(spark, tmp_path / "t", buckets=8)
    t.rebucket(32)
    # a handle opened with a stale ctor arg must adopt the committed count
    t2 = LakeTable(spark, str(tmp_path / "t"), buckets=8)
    assert t2.buckets == 32
    assert t2.read().count() == t.read().count()


def test_rebucket_time_travel_reads_old_layout(spark, tmp_path):
    t = _table_with_data(spark, tmp_path / "t", buckets=8)
    pre = t.snapshot()["snapshot_id"]
    n_pre = t.read().count()
    t.rebucket(32)
    assert t.read(snapshot_id=pre).count() == n_pre
    a = t.read(snapshot_id=pre).toPandas().sort_values(["conv_id", "turn_idx"])
    b = t.read().toPandas().sort_values(["conv_id", "turn_idx"])
    assert a.reset_index(drop=True).equals(b.reset_index(drop=True))


def test_rebucket_is_invisible_to_changes(spark, tmp_path):
    """A rescale moves rows between buckets but changes NO live state: the
    changelog across the rebucket boundary must be empty, and a rebucket
    followed by a merge must show exactly the merge's net changes."""
    t = _table_with_data(spark, tmp_path / "t", buckets=8)
    pre = t.snapshot()["snapshot_id"]
    t.rebucket(32)
    assert t.changes(pre).count() == 0

    ev2 = generate_binlog(
        spark, GeneratorParams(n_events=1000, dup_tail=0, seed=99)
    )
    apply_batch(t, ev2, batch_id=2, cfg=EngineConfig())
    post = t.snapshot()["snapshot_id"]
    got = t.changes(pre, post).count()

    # reference: the same second batch applied WITHOUT the rebucket
    t_ref = _table_with_data(spark, tmp_path / "ref", buckets=8)
    pre_ref = t_ref.snapshot()["snapshot_id"]
    apply_batch(t_ref, ev2, batch_id=2, cfg=EngineConfig())
    want = t_ref.changes(pre_ref).count()
    assert got == want


def test_ingest_continues_after_rebucket_lww_correct(spark, tmp_path):
    """Batches applied after a rescale LWW-merge correctly against
    pre-rescale data (the new modulus governs both sides)."""
    params1 = GeneratorParams(n_events=3000, dup_tail=300)
    params2 = GeneratorParams(n_events=1500, dup_tail=0, seed=7)
    ev1 = generate_binlog(spark, params1)
    ev2 = generate_binlog(spark, params2)

    t = LakeTable(spark, str(tmp_path / "t"), buckets=8)
    apply_batch(t, ev1, batch_id=1, cfg=EngineConfig())
    t.rebucket(32)
    apply_batch(t, ev2, batch_id=2, cfg=EngineConfig())

    t_ref = LakeTable(spark, str(tmp_path / "ref"), buckets=8)
    apply_batch(t_ref, ev1, batch_id=1, cfg=EngineConfig())
    apply_batch(t_ref, ev2, batch_id=2, cfg=EngineConfig())

    a = t.read().select(COLS)
    b = t_ref.read().select(COLS)
    assert a.count() == b.count()
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_rebucket_noop_and_empty_table(spark, tmp_path):
    t = _table_with_data(spark, tmp_path / "t", buckets=8)
    r = t.rebucket(8)
    assert not r["rebucketed"] and t.buckets == 8

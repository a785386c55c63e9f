"""Built-in WAP guards: row-count drop, null merge keys, composition —
and the streaming commit gate end to end."""

from __future__ import annotations

import pytest

from binlogsub_spark.audits import all_of, no_null_keys_guard, row_count_guard
from binlogsub_spark.config import EngineConfig
from binlogsub_spark.lake.table import LakeTable
from binlogsub_spark.pipeline import apply_batch
from binlogsub_spark.sources.generator import GeneratorParams, generate_binlog


def test_row_count_guard_blocks_mass_delete(spark, tmp_path):
    """The classic accident: a replication storm deleting most of the
    table is staged, audited, aborted — readers never see it."""
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


def _name_map():
    from binlogsub_spark.sources.generator import transcripts_table_maps

    m: dict = {}
    for tm in transcripts_table_maps().values():
        m.setdefault((tm.db, tm.table), []).append(tm.columns)
    return m


def _rows(table):
    return sorted(
        table.read().select("conv_id", "turn_idx", "text").collect(),
        key=lambda r: (r["conv_id"], r["turn_idx"]),
    )


@pytest.mark.parametrize("path", ["raw", "mysql"])
def test_audit_gates_raw_and_mysql_apply(spark, tmp_path, path):
    """apply_raw_batch and apply_mysql_batch take the same write-audit-
    publish gate as apply_batch: an accepting audit sees the staged
    snapshot and publishes it; a rejecting one aborts it and leaves the
    current snapshot and every read unchanged."""
    from pyspark.sql import functions as F

    from binlogsub_spark.pipeline import apply_mysql_batch, apply_raw_batch
    from binlogsub_spark.sources.generator import write_mysql_binlog, write_raw_binlog

    p = GeneratorParams(n_events=1200, n_convs=30, dup_tail=0)
    src = str(tmp_path / "src")
    if path == "raw":
        write_raw_binlog(spark, src, p, n_files=4)

        def apply(table, df, batch_id, audit):
            return apply_raw_batch(table, df, batch_id, audit=audit)
    else:
        write_mysql_binlog(spark, src, p, n_files=4)
        cache: dict = {}

        def apply(table, df, batch_id, audit):
            return apply_mysql_batch(
                table, df, batch_id, name_map=_name_map(), registry_cache=cache,
                audit=audit,
            )

    frames = spark.read.parquet(src)
    cut = frames.approxQuantile("log_pos", [0.5], 0.0)[0]
    first, rest = frames.where(F.col("log_pos") <= cut), frames.where(F.col("log_pos") > cut)
    table = LakeTable(spark, str(tmp_path / "tbl"), buckets=8)

    seen = []

    def accept(t, staged_id):
        seen.append((staged_id, t.snapshot()))
        return True

    m1 = apply(table, first, 1, accept)
    assert seen == [(1, None)]  # audited while staged: nothing published yet
    assert m1["snapshot_id"] == table.snapshot()["snapshot_id"] == 1
    snap, rows = table.snapshot(), _rows(table)
    assert rows

    with pytest.raises(ValueError, match="audit rejected batch 2"):
        apply(table, rest, 2, lambda t, staged_id: False)
    assert table.snapshot() == snap
    assert _rows(table) == rows
    assert table.snapshot(2) is None  # the staged manifest is gone

    m2 = apply(table, rest, 2, accept)
    assert table.snapshot()["snapshot_id"] == m2["snapshot_id"] == 2
    assert table.snapshot()["batch_id"] == 2
    assert len(_rows(table)) > len(rows)


def test_every_cli_stream_mode_takes_the_audit_gate(spark, tmp_path):
    """Every ingest mode's stream runner forwards ``audit``: a rejecting
    gate fails the query and nothing is published."""
    from pyspark.errors import StreamingQueryException

    from binlogsub_spark.run import _MODES

    p = GeneratorParams(n_events=300, n_convs=10, dup_tail=0)
    for mode, (write, runner, _) in _MODES.items():
        src = str(tmp_path / mode / "src")
        write(spark, src, p, n_files=2)
        table = LakeTable(spark, str(tmp_path / mode / "tbl"), buckets=4)
        q = runner(
            spark, src, table, str(tmp_path / mode / "ckpt"),
            audit=lambda t, staged_id: False,
            **({"name_map": _name_map()} if mode == "mysql" else {}),
        )
        with pytest.raises(StreamingQueryException, match="audit rejected"):
            q.awaitTermination(300)
        assert table.snapshot() is None, mode

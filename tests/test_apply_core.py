"""One commit core under every apply path: the same lineage, watermark and
replay accounting, the same Spark job count per call, and the tri-state
``persist_source`` auto-detection.

Each path gets the same logical stream split into two micro-batches by
binlog file: batch 1 lands in an empty table (fresh: the bucket map is the
bucket dirs the merge wrote), batch 2 continues it (non-fresh: the merge
unions the touched buckets' current rows).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from binlogsub_spark.codec import encode_decoded_events
from binlogsub_spark.config import EngineConfig
from binlogsub_spark.lake.table import LakeTable
from binlogsub_spark.pipeline import (
    _expensive_source,
    apply_batch,
    apply_batch_multi,
    apply_mysql_batch,
    apply_raw_batch,
)
from binlogsub_spark.sources.debezium import decode_debezium, envelope_to_debezium_json
from binlogsub_spark.sources.generator import (
    GeneratorParams,
    flatten_for_wire,
    generate_binlog,
    transcripts_table_maps,
    write_mysql_binlog,
)

P = GeneratorParams(n_events=1600, n_convs=40, dup_tail=80, events_per_file=400)
SPLIT_FILE = 2  # batch 1 = file_seq < 2, batch 2 = the rest


def _name_map():
    m: dict = {}
    for tm in transcripts_table_maps().values():
        m.setdefault((tm.db, tm.table), []).append(tm.columns)
    return m


@pytest.fixture(scope="module")
def inputs(spark, tmp_path_factory):
    """Per path, two parquet/text batch directories written once."""
    root = tmp_path_factory.mktemp("apply_core_inputs")
    ev = generate_binlog(spark, P).cache()
    first = F.col("file_seq") < SPLIT_FILE

    def _split(df, name, fmt="parquet"):
        for i, cond in ((1, first), (2, ~first)):
            getattr(df.where(cond).write.mode("overwrite"), fmt)(
                str(root / f"{name}{i}")
            )

    _split(ev, "structured")
    _split(
        ev.withColumn(
            "table_name",
            F.when(F.col("table_name") != "transcripts", F.col("table_name"))
            .when(F.col("delivery_seq") % 2 == 0, F.lit("transcripts"))
            .otherwise(F.lit("transcripts_audit")),
        ),
        "multi",
    )
    for i, cond in ((1, first), (2, ~first)):
        envelope_to_debezium_json(ev.where(cond)).select("value").write.text(
            str(root / f"debezium{i}")
        )
    _split(encode_decoded_events(flatten_for_wire(ev).drop("delivery_seq")), "raw")
    write_mysql_binlog(spark, str(root / "mysql_all"), P, n_files=4)
    mysql_split = int(
        spark.read.parquet(str(root / "mysql_all"))
        .agg(F.expr("percentile_disc(0.5) within group (order by file_seq)"))
        .first()[0]
    )
    frames = spark.read.parquet(str(root / "mysql_all"))
    for i, cond in ((1, F.col("file_seq") < mysql_split),
                    (2, F.col("file_seq") >= mysql_split)):
        frames.where(cond).write.parquet(str(root / f"mysql{i}"))
    ev.unpersist()
    return root


def _source(spark, root, path: str, i: int):
    """The batch DataFrame the path's apply function takes."""
    if path == "debezium":
        return decode_debezium(spark.read.text(str(root / f"debezium{i}")))
    if path == "mysql_dead_letter":
        path = "mysql"
    return spark.read.parquet(str(root / f"{path}{i}"))


def _apply(spark, root, path: str, table_dir, i: int, registry_cache: dict):
    """Apply batch ``i`` of ``path`` as batch_id ``i``; returns (metrics,
    source frame)."""
    src = _source(spark, root, path, i)
    batch_id, cfg = i, EngineConfig()
    if path == "multi":
        tables = {
            name: LakeTable(spark, str(table_dir / name), buckets=8)
            for name in ("transcripts", "transcripts_audit")
        }
        return apply_batch_multi(tables, src, batch_id), src
    table = LakeTable(spark, str(table_dir), buckets=8)
    if path == "raw":
        return apply_raw_batch(table, src, batch_id, cfg), src
    if path.startswith("mysql"):
        # table maps sit at the head of the first binlog file only; later
        # batches decode through the cross-batch cache, as the stream does
        dead = f"{table_dir}_dead" if path == "mysql_dead_letter" else None
        return apply_mysql_batch(
            table, src, batch_id, cfg, name_map=_name_map(),
            registry_cache=registry_cache, dead_letter_path=dead,
        ), src
    return apply_batch(table, src, batch_id, cfg), src


# Spark jobs per apply call: (fresh table, non-fresh table). Any job the
# commit core adds or drops shows up here. The MySQL dead-letter sink costs
# exactly its one write job on top of the plain MySQL path.
JOBS = {
    "structured": (6, 6),
    "debezium": (6, 6),
    "raw": (6, 6),
    "mysql": (7, 10),
    "mysql_dead_letter": (8, 11),
    "multi": (12, 12),
}


@pytest.mark.parametrize("path", sorted(JOBS))
def test_jobs_per_apply_path(spark, tmp_path, inputs, count_jobs, path):
    got, cache = [], {}
    for i in (1, 2):
        got.append(count_jobs(
            lambda: _apply(spark, inputs, path, tmp_path / "t", i, cache)
        ))
    assert tuple(got) == JOBS[path], f"{path}: jobs (fresh, non-fresh) = {got}"


@pytest.mark.parametrize("path", ["structured", "debezium", "raw", "mysql"])
def test_lineage_and_watermark_every_path(spark, tmp_path, inputs, path):
    """Per batch, lineage accounts for every input event once, each file's
    max_log_pos is that file's max input log_pos, the manifest watermark is
    the max (file_seq, log_pos) applied so far, and a replayed batch_id
    commits nothing: no lineage row, the manifest unchanged."""
    table_dir, seen, cache = tmp_path / "t", [], {}
    for i in (1, 2):
        m, src = _apply(spark, inputs, path, table_dir, i, cache)
        assert not m["replayed"] and m["applied"] > 0
        frontier = {
            r["file_seq"]: r["m"]
            for r in src.groupBy("file_seq").agg(F.max("log_pos").alias("m")).collect()
        }
        seen += frontier.items()
        table = LakeTable(spark, str(table_dir), buckets=8)
        lin = table.lineage().where(F.col("batch_id") == i).collect()
        assert sum(r["events"] for r in lin) == m["events"] == src.count()
        assert {r["file_seq"]: r["max_log_pos"] for r in lin} == frontier
        assert all(
            r["applied"] == m["applied"]
            and r["skipped"] == m["skipped"]
            and r["snapshot_id"] == m["snapshot_id"]
            for r in lin
        )
        fs, lp = max(seen)
        assert table.snapshot()["watermark"] == {"file_seq": fs, "log_pos": lp}

    before = (table.snapshot(), sorted(table.lineage().collect()))
    m, _ = _apply(spark, inputs, path, table_dir, 2, cache)
    assert m["replayed"] and m["applied"] == 0
    assert (table.snapshot(), sorted(table.lineage().collect())) == before


# --------------------------------------------------- persist_source tri-state
@pytest.fixture
def persist_calls(monkeypatch, spark):
    """Records every DataFrame.persist call during the test."""
    calls = []
    cls = type(spark.range(1))
    orig = cls.persist

    def _persist(self, *a, **kw):
        calls.append(self)
        return orig(self, *a, **kw)

    monkeypatch.setattr(cls, "persist", _persist)
    return calls


def test_expensive_source_matches_node_not_name(spark):
    text = spark.createDataFrame([('{"a": 1}',)], "value string")
    assert _expensive_source(text.select(F.from_json("value", "a int").alias("j")))
    assert not _expensive_source(text.withColumnRenamed("value", "from_json_x"))
    assert _expensive_source(text.mapInArrow(lambda it: it, "value string"))
    assert not _expensive_source(text.withColumnRenamed("value", "mapInArrow"))


def test_explicit_false_never_persists(spark, tmp_path, inputs, persist_calls):
    src = _source(spark, inputs, "debezium", 1)
    apply_batch(LakeTable(spark, str(tmp_path / "t"), buckets=8), src, 1,
                persist_source=False)
    assert persist_calls == []


def test_column_named_from_json_is_not_a_parse(
    spark, tmp_path, inputs, persist_calls
):
    src = _source(spark, inputs, "structured", 1).withColumnRenamed(
        "server_ts", "from_json_x"
    )
    apply_batch(LakeTable(spark, str(tmp_path / "t"), buckets=8), src, 1)
    assert persist_calls == []


def test_json_source_auto_persists(spark, tmp_path, inputs, persist_calls):
    src = _source(spark, inputs, "debezium", 1)
    apply_batch(LakeTable(spark, str(tmp_path / "t"), buckets=8), src, 1)
    assert len(persist_calls) == 1 and persist_calls[0] is src


def test_multi_routing_persists_the_batch_once(
    spark, tmp_path, inputs, persist_calls
):
    """``apply_batch_multi`` caches the batch once; each destination's
    apply runs over that cache instead of caching its filtered frame."""
    src = _source(spark, inputs, "debezium", 1)
    tables = {
        name: LakeTable(spark, str(tmp_path / name), buckets=8)
        for name in ("transcripts", "transcripts_audit")
    }
    out = apply_batch_multi(tables, src, 1)
    assert out["transcripts"]["applied"] > 0
    assert len(persist_calls) == 1 and persist_calls[0] is src


def test_mysql_file_split_auto_persists_once(
    spark, tmp_path, inputs, persist_calls
):
    """``binlog_files_to_frames`` is a ``mapInArrow`` split: the MySQL
    apply persists it once, so the frontier job, the registry and the
    merge split each file once. A parquet frames table is not persisted."""
    from binlogsub_spark.mysql_binlog import binlog_files_to_frames
    from binlogsub_spark.sources.generator import write_mysql_binlog_files

    write_mysql_binlog_files(spark, str(tmp_path / "binlogs"), P)
    src = binlog_files_to_frames(spark, str(tmp_path / "binlogs"))
    m = apply_mysql_batch(
        LakeTable(spark, str(tmp_path / "files"), buckets=8), src, 1,
        name_map=_name_map(),
    )
    assert m["applied"] > 0
    assert len(persist_calls) == 1 and persist_calls[0] is src

    persist_calls.clear()
    apply_mysql_batch(
        LakeTable(spark, str(tmp_path / "parquet"), buckets=8),
        _source(spark, inputs, "mysql", 1), 1, name_map=_name_map(),
        registry_cache={},
    )
    assert persist_calls == []

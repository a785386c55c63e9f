"""Schema evolution: the `tool` column appears mid-stream; the sink does
schema-union + null-backfill (SURVEY.md §5 test #4; reference epoch flush
/root/reference/packet.cc:141-148)."""

from __future__ import annotations

from decimal import Decimal

import pytest
from pyspark.sql import functions as F

from binlogsub_spark.lake.table import LakeTable
from binlogsub_spark.pipeline import apply_batch, prepare_upserts
from binlogsub_spark.config import EngineConfig
from binlogsub_spark.sources.generator import GeneratorParams, generate_binlog


def test_v1_rows_never_carry_tool(spark, tmp_path):
    ev = generate_binlog(spark, GeneratorParams(n_events=4000, dup_tail=0))
    table = LakeTable(spark, str(tmp_path / "tbl"), buckets=8)
    apply_batch(table, ev, batch_id=1)
    final = table.read()
    # post-evolution tool-role rows carry a populated tool column
    assert final.where((F.col("role") == "tool") & F.col("tool").isNotNull()).count() > 0


def test_schema_epoch_projection_nulls_pre_evolution_tool(spark):
    """Even if a v1-epoch frame physically carries a tool field, the epoch
    projection must null it (the column did not exist in that table-map
    epoch — /root/reference/packet.cc:141-148 semantics)."""
    from binlogsub_spark.pipeline import project_schema_epoch

    df = spark.createDataFrame(
        [("c", 0, "tool_9", 1), ("c", 1, "tool_9", 2)],
        "conv_id string, turn_idx int, tool string, schema_version int",
    )
    out = {r["turn_idx"]: r["tool"] for r in project_schema_epoch(df).collect()}
    assert out[0] is None and out[1] == "tool_9"


def test_table_schema_union_backfill(spark, tmp_path):
    """Commit a v1-era batch whose frame does not even HAVE the tool column,
    then a v2 batch that does: table schema unions, old rows read as null."""
    ev = generate_binlog(spark, GeneratorParams(n_events=4000, dup_tail=0)).cache()
    evo_point = int(4000 * 0.6)
    v1 = ev.where(F.col("delivery_seq") < evo_point)
    v2 = ev.where(F.col("delivery_seq") >= evo_point)

    table = LakeTable(spark, str(tmp_path / "tbl"), buckets=8)
    u1 = prepare_upserts(v1, EngineConfig()).drop("tool")  # pre-evolution wire frame
    table.merge(u1, batch_id=1)
    assert "tool" not in [f["name"] for f in
                          __import__("json").loads(table.snapshot()["schema_json"])["fields"]]

    u2 = prepare_upserts(v2, EngineConfig())
    table.merge(u2, batch_id=2)
    cols = table.read().columns
    assert "tool" in cols  # schema-union happened

    # rows untouched since batch 1 read back with tool null-backfilled
    final = table.read()
    assert final.where(F.col("tool").isNull()).count() > 0
    assert final.where(F.col("tool").isNotNull()).count() > 0
    ev.unpersist()


def test_schema_type_conflict_raises(spark, tmp_path):
    """A batch delivering an INCOMPATIBLE type for an existing column (int
    data for a string column) must fail loudly — not silently cast to
    NULLs/garbage in the committed commit (ADVICE r4)."""
    import pytest

    table = LakeTable(spark, str(tmp_path / "tbl"), buckets=4)
    base = spark.createDataFrame(
        [("c1", 0, "hello", "I", 1.0, 0, 100)],
        "conv_id string, turn_idx int, text string, _op string, "
        "_ts double, _file_seq int, _log_pos long",
    )
    table.merge(base, batch_id=1)
    bad = spark.createDataFrame(
        [("c1", 1, 42, "I", 2.0, 0, 200)],
        "conv_id string, turn_idx int, text int, _op string, "
        "_ts double, _file_seq int, _log_pos long",
    )
    with pytest.raises(Exception, match="schema conflict.*text"):
        table.merge(bad, batch_id=2)
    # table unchanged: the failed merge committed nothing
    assert table.snapshot()["batch_id"] == 1


# Every lossless widening ``LakeTable._widens_to`` allows: (narrow type,
# wide type, a narrow value, a value only the wide type holds).
WIDENINGS = [
    ("tinyint", "smallint", 7, 300),
    ("tinyint", "int", 7, 70_000),
    ("tinyint", "bigint", 7, 2**40),
    ("smallint", "int", 300, 70_000),
    ("smallint", "bigint", 300, 2**40),
    ("int", "bigint", 7, 2**40),
    ("float", "double", 1.5, 0.1),
    ("decimal(5,2)", "decimal(7,2)", Decimal("123.45"), Decimal("12345.67")),
    ("decimal(5,2)", "decimal(6,3)", Decimal("123.45"), Decimal("123.456")),
    ("decimal(5,2)", "decimal(12,4)", Decimal("123.45"), Decimal("12345678.9012")),
]


@pytest.mark.parametrize(
    "narrow,wide,small,big", WIDENINGS, ids=[f"{n}-{w}" for n, w, _, _ in WIDENINGS]
)
def test_schema_lossless_widening_allowed(spark, tmp_path, narrow, wide, small, big):
    """A lossless widening: the table column widens (normal schema
    evolution) instead of raising. The first commit's row, in a bucket the
    wide batch leaves alone, reads back through the widened column from
    its own (narrow) file; a later narrow batch casts up into the widened
    column."""
    table = LakeTable(spark, str(tmp_path / "tbl"), buckets=4)

    def _batch(conv, value, dtype, ts):
        return spark.createDataFrame(
            [(conv, 0, value, "I", ts, 0, int(ts * 100))],
            f"conv_id string, turn_idx int, score {dtype}, _op string, "
            "_ts double, _file_seq int, _log_pos long",
        )

    table.merge(_batch("c1", small, narrow, 1.0), batch_id=1)
    table.merge(_batch("c2", big, wide, 2.0), batch_id=2)  # c1, c2: buckets 1, 3
    snap = table.snapshot()
    assert snap["bucket_locations"]["1"] == "commit-00000001"
    final = table.read()
    assert final.schema["score"].dataType.simpleString() == wide
    got = {r["conv_id"]: r["score"] for r in final.collect()}
    assert got == {"c1": small, "c2": big}
    # and a narrow batch into the widened table still casts up cleanly
    table.merge(_batch("c3", small, narrow, 3.0), batch_id=3)
    assert table.read().where("conv_id = 'c3'").first()["score"] == small

"""Golden decode fixtures + MySQL-format kernel parity (SURVEY.md §2.6).

decode(encode(x)) == x over the full generator output exercises every
branch the reference's ParseColumnValue analog needs here: NULL handling
(tool=0xff -> real null, vs /root/reference/event.cc:386-390 degrading to
""), op codes (/root/reference/row.h:13-18), varlen text, fixed-width
little-endian header fields (/root/reference/myconvert.h:19-117).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from binlogsub_spark.codec import (
    decode_raw_events,
    encode_decoded_events,
    read_lenenc_int,
    uint_korr,
    write_lenenc_int,
)
from binlogsub_spark.config import EngineConfig
from binlogsub_spark.pipeline import scope_filter
from binlogsub_spark.sources.generator import GeneratorParams, generate_binlog


def _flat_events(spark, n=3000):
    ev = generate_binlog(spark, GeneratorParams(n_events=n, dup_tail=100))
    img = F.when(F.col("op") == "D", F.col("before")).otherwise(F.col("after"))
    return ev.select(
        "file_seq",
        "log_pos",
        "server_ts",
        "op",
        "db_name",
        "table_name",
        "schema_version",
        img["conv_id"].alias("conv_id"),
        img["turn_idx"].alias("turn_idx"),
        img["role"].alias("role"),
        img["text"].alias("text"),
        F.when(F.col("op") == "D", F.lit(None).cast("string"))
        .otherwise(img["tool"])
        .alias("tool"),
        img["ts"].alias("ts"),
    )


def test_roundtrip_golden(spark):
    flat = _flat_events(spark)
    raw = encode_decoded_events(flat)
    back = decode_raw_events(raw)
    # before-image text of deletes is 'prev|...' — encoded faithfully
    assert flat.exceptAll(back).count() == 0
    assert back.exceptAll(flat).count() == 0


def test_decode_preserves_nulls(spark):
    back = decode_raw_events(encode_decoded_events(_flat_events(spark, 2000)))
    v1 = back.where("schema_version = 1")
    assert v1.where(F.col("tool").isNotNull()).count() == 0
    assert back.where("schema_version = 2 and tool is not null").count() > 0


def test_scope_filter_runs_before_decode_plan(spark):
    """The structured path filters before any wide transform; assert the
    scan-adjacent filter exists in the optimized plan (manual pushdown,
    mirroring /root/reference/packet.cc:201-205)."""
    ev = generate_binlog(spark, GeneratorParams(n_events=2000))
    filtered = scope_filter(ev, EngineConfig())
    plan = filtered._jdf.queryExecution().optimizedPlan().toString()
    # Catalyst folds the rlike on the generated constant-domain columns and
    # pushes the residual predicate through the Project down to the source —
    # each Union branch ends Filter -> Range, i.e. filtering happens before
    # any downstream work (the reference's manual early-out, automated).
    import re

    assert re.search(r"Filter .*\n\s*\+- Range", plan), plan


def test_lenenc_int_parity():
    values = [0, 1, 0xFA, 0xFB, 0xFF, 300, 65535, 65536, 1 << 23, (1 << 24) - 1, 1 << 24, 1 << 40]
    buf = b"".join(write_lenenc_int(v) for v in values)
    arr = np.frombuffer(buf, dtype=np.uint8)
    pos = np.int64(0)
    positions, got = [], []
    p = np.array([0], dtype=np.int64)
    for _ in values:
        v, p = read_lenenc_int(arr, p)
        got.append(int(v[0]))
    assert got == values


def test_uint_korr_widths():
    raw = bytes(range(1, 17))
    arr = np.frombuffer(raw, dtype=np.uint8)
    pos = np.array([0], dtype=np.int64)
    for w in range(1, 9):
        expect = int.from_bytes(raw[:w], "little")
        assert int(uint_korr(arr, pos, w)[0]) == expect


def test_epoch_versioned_frames(spark):
    """schema_version 1 frames physically lack the tool byte (in-band
    epoch layout change); a mixed-epoch batch decodes correctly."""
    from binlogsub_spark.codec import HEADER_LENS, encode_record

    v1 = encode_record(0, 4, 1_700_000_000_000_000, "I", 1, 0, "user", None, 3, "c1", "hello")
    v2 = encode_record(0, 132, 1_700_000_001_000_000, "I", 2, 0, "tool", "tool_3", 4, "c1", "world")
    assert len(v1) == HEADER_LENS[1] + 5
    assert len(v2) == HEADER_LENS[2] + 5

    import pandas as pd

    from binlogsub_spark.codec import decode_payload_batch, validate_payload_batch

    batch = pd.Series([v1, v2])
    assert validate_payload_batch(batch).all()
    out = decode_payload_batch(batch).sort_values("log_pos").reset_index(drop=True)
    assert out.loc[0, "schema_version"] == 1 and out.loc[0, "tool"] is None
    assert out.loc[0, "text"] == "hello" and out.loc[0, "turn_idx"] == 3
    assert out.loc[1, "schema_version"] == 2 and out.loc[1, "tool"] == "tool_3"
    # a v2-length frame mislabeled v1 fails validation (text_len mismatch)
    bad = v2[:21] + b"\x01" + v2[22:]
    assert not validate_payload_batch(pd.Series([bad])).any()


def test_tool_code_range_rejected():
    """Tool codes collide with the 0xff NULL sentinel at 255 — encode must
    reject them loudly instead of silently decoding tool_255 as NULL."""
    import pytest

    from binlogsub_spark.codec import encode_record

    kw = dict(file_seq=1, log_pos=4, ts_micros=0, op="I", schema_version=2,
              scope=0, role="user", turn_idx=0, conv_id="c", text="t")
    assert encode_record(tool="tool_254", **kw)  # max legal code
    with pytest.raises(ValueError, match="0..254"):
        encode_record(tool="tool_255", **kw)
    with pytest.raises(ValueError, match="0..254"):
        encode_record(tool="tool_300", **kw)


def test_lake_read_without_snapshot_raises_clearly(spark, tmp_path):
    import pytest

    from binlogsub_spark.lake.table import LakeTable

    t = LakeTable(spark, str(tmp_path / "empty_tbl"), buckets=4)
    with pytest.raises(ValueError, match="no committed snapshot"):
        t.read()
    with pytest.raises(ValueError, match="no committed snapshot"):
        t.read_internal()


def test_decode_column_pruning_matches_full_decode(spark):
    """decode_raw_events(columns=...) must return exactly the full decode
    projected to those columns — pruning changes cost, never values."""
    from binlogsub_spark.codec import decode_raw_events
    from binlogsub_spark.codec import encode_decoded_events
    from binlogsub_spark.sources.generator import (
        GeneratorParams,
        flatten_for_wire,
        generate_binlog,
    )

    raw = encode_decoded_events(
        flatten_for_wire(generate_binlog(spark, GeneratorParams(n_events=2000, dup_tail=50)))
    ).localCheckpoint(eager=True)
    full = decode_raw_events(raw)
    cols = ["file_seq", "log_pos", "op", "conv_id", "turn_idx", "text", "ts"]
    pruned = decode_raw_events(raw, columns=cols)
    assert pruned.columns == [c for c in full.columns if c in cols]
    a = full.select(*pruned.columns).orderBy("file_seq", "log_pos", "op").collect()
    b = pruned.orderBy("file_seq", "log_pos", "op").collect()
    assert a == b


def test_in_kernel_scope_filter_matches_rlike(spark):
    """scope_codes= drops out-of-scope frames on the scope byte inside the
    kernel — identical result to decoding everything then rlike-filtering."""
    from pyspark.sql import functions as F

    from binlogsub_spark.codec import (
        decode_raw_events,
        encode_decoded_events,
        scope_codes_for,
    )
    from binlogsub_spark.sources.generator import (
        GeneratorParams,
        flatten_for_wire,
        generate_binlog,
    )

    raw = encode_decoded_events(
        flatten_for_wire(generate_binlog(spark, GeneratorParams(n_events=3000, dup_tail=0)))
    ).localCheckpoint(eager=True)
    codes = scope_codes_for("^test$", "^transcripts$")
    in_kernel = decode_raw_events(raw, scope_codes=codes)
    post_hoc = decode_raw_events(raw).where(
        F.col("db_name").rlike("^test$") & F.col("table_name").rlike("^transcripts$")
    )
    assert in_kernel.count() == post_hoc.count() > 0
    a = in_kernel.orderBy("file_seq", "log_pos", "op").collect()
    b = post_hoc.orderBy("file_seq", "log_pos", "op").collect()
    assert a == b


def test_decode_preserves_embedded_nuls():
    """Only TRAILING NUL padding strips from conv_id; an embedded NUL is
    part of the key (first-NUL truncation would collapse distinct merge
    keys)."""
    import pandas as pd

    from binlogsub_spark.codec import (
        decode_payload_batch,
        encode_record,
        validate_payload_batch,
    )

    keys = ["ab\x00cd", "ab\x00ce", "plain", "", "\x00\x00"]
    batch = pd.Series([
        encode_record(1, 4 + i, 0, "I", 2, 0, "user", None, i, k, "t")
        for i, k in enumerate(keys)
    ])
    assert validate_payload_batch(batch).all()
    out = decode_payload_batch(batch).sort_values("log_pos")
    assert out["conv_id"].tolist() == ["ab\x00cd", "ab\x00ce", "plain", "", ""]


def test_decode_unvalidated_short_frame_raises(spark):
    """decode_raw_events(skip_invalid=False) trusts its caller's
    validation; a frame shorter than its header must raise instead of
    decoding the next frame's bytes into a row."""
    import pytest

    from binlogsub_spark.codec import HEADER_LEN, decode_raw_events, encode_record
    from binlogsub_spark.plans.envelope import RAW_SCHEMA

    frames = [
        encode_record(1, 4 + i, 0, "I", 2, 0, "user", None, i, f"c{i}", "text")
        for i in range(3)
    ]
    for cut, msg in [
        (HEADER_LEN - 15, "frame shorter than its 55-byte"),  # has a version
        (10, "frame without a known schema_version"),
    ]:
        short = list(frames)
        short[1] = frames[1][:cut]
        raw = spark.createDataFrame(
            [(1, 4 + i, f) for i, f in enumerate(short)], RAW_SCHEMA
        ).coalesce(1)
        assert decode_raw_events(raw).count() == 2  # validated: dropped
        with pytest.raises(Exception, match=msg):
            decode_raw_events(raw, skip_invalid=False).collect()


def test_bucket_expr_is_zlib_crc32(spark):
    """The persisted bucket layout: ``bucket_expr(k, n)`` is
    ``zlib.crc32(k.encode()) % n``. Changing the hash would strand every
    existing table's rows in the wrong bucket dirs."""
    import zlib

    from binlogsub_spark.lake.table import bucket_expr

    keys = [
        "", "a", "conv_00000001", "conv_99999999", "x" * 24,
        "Ünïcode-kéy", "k\t key", "ab\0cd", "0123456789abcdefghijklmn",
    ] + [f"conv_{i:08d}" for i in range(50)]
    df = spark.createDataFrame([(k,) for k in keys], "conv_id string")
    for buckets in (8, 32, 61):
        got = {
            r["conv_id"]: r["b"]
            for r in df.select(
                "conv_id", bucket_expr("conv_id", buckets).alias("b")
            ).collect()
        }
        assert got == {k: zlib.crc32(k.encode()) % buckets for k in keys}


def test_raw_conv_key_bucket_matches_decoded_key(spark):
    """Per frame, the touched bucket the raw path derives from the payload
    bytes (``bucket_expr(raw_conv_key())``) is the bucket of the decoded
    conv_id the merge writes: generated frames plus v1 and v2 frames keyed
    with embedded, leading and all-NUL bytes, non-ASCII, empty and
    full-width keys, at several bucket counts. A frame of an unknown epoch
    has no key."""
    from binlogsub_spark.codec import encode_record, raw_conv_key
    from binlogsub_spark.lake.table import bucket_expr
    from binlogsub_spark.plans.envelope import RAW_SCHEMA
    from tests.test_raw_pipeline import _raw

    keys = ["ab\0cd", "ab\0ce", "", "\0\0", "\0lead", "é中文🙂", "x" * 24]
    edge = [
        (10_000 + v, 4 + i, encode_record(
            10_000 + v, 4 + i, 0, "U", v, 0, "user", None, i, k, "t"
        ))
        for v in (1, 2)
        for i, k in enumerate(keys)
    ]
    generated = _raw(
        spark, generate_binlog(spark, GeneratorParams(n_events=3000, dup_tail=0))
    )
    raw = generated.unionByName(spark.createDataFrame(edge, RAW_SCHEMA))
    pos = ["file_seq", "log_pos"]
    joined = raw.select(*pos, raw_conv_key().alias("raw_key")).join(
        decode_raw_events(raw, columns=[*pos, "conv_id"]), pos
    )
    assert joined.count() == raw.count() == 3000 + len(edge)
    for buckets in (8, 32, 97):
        assert joined.where(
            bucket_expr("raw_key", buckets) != bucket_expr("conv_id", buckets)
        ).count() == 0
    assert joined.where(~F.col("raw_key").eqNullSafe(F.col("conv_id"))).count() == 0

    unknown = b"\0" * 21 + b"\x07" + b"\0" * 40
    bad = spark.createDataFrame([(1, 4, unknown)], RAW_SCHEMA)
    assert bad.select(raw_conv_key().alias("k")).first()["k"] is None

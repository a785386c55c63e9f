"""MySQL binlog row-event decoder tests (SURVEY.md §2 "What's missing" #1):
genuine-format frames (common header event.cc:4-20, table-map
event.cc:104-221, rows events event.cc:246-342, value dispatch
event.cc:413-809) round-tripped through the vectorized wave decoder.
"""

from __future__ import annotations

from datetime import datetime
from decimal import Decimal

import numpy as np
import pytest

from binlogsub_spark.codec import _gather_headers
from binlogsub_spark.mysql_binlog import (
    _HEADER_DT,
    DELETE_ROWS_EVENT_V2,
    HEADER_LEN,
    MYSQL_TYPE_BLOB,
    MYSQL_TYPE_DATETIME2,
    MYSQL_TYPE_DOUBLE,
    MYSQL_TYPE_ENUM,
    MYSQL_TYPE_FLOAT,
    MYSQL_TYPE_INT24,
    MYSQL_TYPE_LONG,
    MYSQL_TYPE_LONGLONG,
    MYSQL_TYPE_NEWDECIMAL,
    MYSQL_TYPE_SHORT,
    MYSQL_TYPE_STRING,
    MYSQL_TYPE_TIME2,
    MYSQL_TYPE_TIMESTAMP2,
    MYSQL_TYPE_TINY,
    MYSQL_TYPE_VARCHAR,
    MYSQL_TYPE_YEAR,
    TABLE_MAP_EVENT,
    UPDATE_ROWS_EVENT_V2,
    WRITE_ROWS_EVENT_V1,
    WRITE_ROWS_EVENT_V2,
    validate_mysql_frames,
    MysqlColumn,
    TableMap,
    decode_mysql_events,
    decode_rows_frames,
    encode_format_description,
    encode_rotate,
    encode_rows_df,
    encode_rows_event,
    encode_table_map,
    extract_table_maps,
    parse_table_map,
)


def _tmap():
    return TableMap(
        table_id=7,
        db="test",
        table="events_cdc",
        columns=[
            MysqlColumn("id", MYSQL_TYPE_LONGLONG, nullable=False),
            MysqlColumn("user_id", MYSQL_TYPE_LONG),
            MysqlColumn(
                "etype",
                MYSQL_TYPE_STRING,
                meta=(MYSQL_TYPE_ENUM, 1),
                enum_values=("click", "error", "purchase", "signup", "view"),
            ),
            MysqlColumn("score", MYSQL_TYPE_NEWDECIMAL, meta=(18, 4)),
            MysqlColumn("ts", MYSQL_TYPE_DATETIME2, meta=6),
            MysqlColumn("k", MYSQL_TYPE_TINY),
            MysqlColumn("tag", MYSQL_TYPE_VARCHAR, meta=40),
            MysqlColumn("props", MYSQL_TYPE_VARCHAR, meta=512),
            MysqlColumn("raw", MYSQL_TYPE_BLOB, meta=2),
            MysqlColumn("val", MYSQL_TYPE_DOUBLE, meta=8),
        ],
    )


def _frames_np(frames):
    data = np.frombuffer(b"".join(frames), dtype=np.uint8)
    lens = np.array([len(f) for f in frames], dtype=np.int64)
    ends = np.cumsum(lens)
    return data, ends - lens, ends


@pytest.mark.parametrize("checksum", [False, True])
def test_table_map_roundtrip(checksum):
    tm = _tmap()
    back = parse_table_map(encode_table_map(tm, checksum=checksum), checksum=checksum)
    assert back.table_id == tm.table_id
    assert (back.db, back.table) == ("test", "events_cdc")
    assert [c.ctype for c in back.columns] == [c.ctype for c in tm.columns]
    assert [c.nullable for c in back.columns] == [c.nullable for c in tm.columns]
    # metadata survives (double's size byte is filled in by the encoder)
    assert [c.meta for c in back.columns][:9] == [c.meta for c in tm.columns][:9]


@pytest.mark.parametrize("checksum", [False, True])
def test_rows_event_wave_decode(checksum):
    """Multi-row events, before/after update images, NULLs, every varlen
    width, negative decimal/tiny — all through the vectorized wave loop."""
    tm = _tmap()
    writes = [
        (1, 10, 2, Decimal("12.3456"), datetime(2024, 1, 1, 0, 0, 7, 179575),
         None, "click", '{"k": 69}', b"\x01\x02", 6.55),
        (2, 46, 1, Decimal("-0.1234"), datetime(2024, 6, 30, 23, 59, 59, 999999),
         42, "x", "", b"", 12.31),
        (5, 0, 3, Decimal("0.0000"), datetime(1970, 1, 1, 0, 0, 0, 0),
         127, "", None, None, 0.0),
    ]
    upd = [(
        (3, 7, 3, Decimal("1.0000"), datetime(2020, 2, 29, 12, 0), 5, "a", "old", b"\xff", 0.5),
        (3, 7, 4, Decimal("2.5000"), datetime(2020, 3, 1, 0, 0, 0, 1), None, "bb", "new", b"\x00\x01", -1.5),
    )]
    dele = [(4, 99, 5, Decimal("0.0001"), datetime(1999, 12, 31, 23, 59, 59, 5),
             -7, "z" * 39, "p" * 300, b"\xaa" * 500, 3.14)]
    frames = [
        encode_rows_event(WRITE_ROWS_EVENT_V2, tm, writes, checksum=checksum),
        encode_rows_event(UPDATE_ROWS_EVENT_V2, tm, upd, checksum=checksum),
        encode_rows_event(DELETE_ROWS_EVENT_V2, tm, dele, checksum=checksum),
    ]
    data, starts, ends = _frames_np(frames)
    tcodes = np.array(
        [WRITE_ROWS_EVENT_V2, UPDATE_ROWS_EVENT_V2, DELETE_ROWS_EVENT_V2], np.uint8
    )
    dec = decode_rows_frames(data, starts, ends, tcodes, tm, checksum=checksum)

    order = np.argsort(dec["id"][0])  # ids 1..5 unique
    expected = {
        1: ("I", writes[0]), 2: ("I", writes[1]), 3: ("U", upd[0][1]),
        4: ("D", dele[0]), 5: ("I", writes[2]),
    }
    ids = dec["id"][0][order]
    ops = dec["op"][order]
    for pos_i, rid in enumerate(ids):
        op, row = expected[int(rid)]
        assert ops[pos_i] == op
    # typed columns
    uid, uid_null = dec["user_id"]
    k, k_null = dec["k"]
    score, _ = dec["score"]
    ts, _ = dec["ts"]
    et, _ = dec["etype"]
    by_id = {int(i): j for j, i in enumerate(dec["id"][0])}
    for rid, (_, row) in expected.items():
        j = by_id[rid]
        assert uid[j] == row[1]
        assert et[j] == row[2]
        assert score[j] == int(row[3].scaleb(4))  # exact scaled int64
        want_us = int(np.datetime64(row[4], "us").astype("int64"))
        assert int(ts[j]) == want_us
        if row[5] is None:
            assert k_null[j]
        else:
            assert not k_null[j] and k[j] == row[5]
    # varlen columns reassemble
    for name, col_i in (("tag", 6), ("props", 7), ("raw", 8)):
        _, buf, lens, nulls = dec[name]
        off = np.concatenate([[0], np.cumsum(lens)])
        for rid, (_, row) in expected.items():
            j = by_id[rid]
            want = row[col_i]
            if want is None:
                assert nulls[j]
            else:
                got = bytes(buf[off[j] : off[j + 1]])
                assert got == (want.encode() if isinstance(want, str) else want)
    val, _ = dec["val"]
    for rid, (_, row) in expected.items():
        assert val[by_id[rid]] == row[9]


def test_remaining_type_dispatch():
    """SHORT/INT24/FLOAT/YEAR/TIME2/TIMESTAMP2 branches of the
    ParseColumnValue analog (event.cc:413-809)."""
    tm = TableMap(
        table_id=9, db="d", table="t",
        columns=[
            MysqlColumn("a", MYSQL_TYPE_SHORT),
            MysqlColumn("b", MYSQL_TYPE_INT24),
            MysqlColumn("c", MYSQL_TYPE_FLOAT, meta=4),
            MysqlColumn("d", MYSQL_TYPE_YEAR),
            MysqlColumn("e", MYSQL_TYPE_TIME2, meta=2),
            MysqlColumn("f", MYSQL_TYPE_TIMESTAMP2, meta=6),
        ],
    )
    rows = [
        (-32768, -8388608, 1.5, 2024, (-1, 0, 0, 0, 10000), (1_700_000_000, 999999)),
        (32767, 8388607, -0.25, 1901, (1, 838, 59, 59, 990000), (0, 0)),
    ]
    frames = [encode_rows_event(WRITE_ROWS_EVENT_V2, tm, rows)]
    data, starts, ends = _frames_np(frames)
    dec = decode_rows_frames(
        data, starts, ends, np.array([WRITE_ROWS_EVENT_V2], np.uint8), tm
    )
    assert list(dec["a"][0]) == [-32768, 32767]
    assert list(dec["b"][0]) == [-8388608, 8388607]
    assert list(dec["c"][0]) == [1.5, -0.25]
    assert list(dec["d"][0]) == [2024, 1901]
    assert list(dec["e"][0]) == [-10000, ((838 * 3600 + 59 * 60 + 59) * 1_000_000 + 990000)]
    assert list(dec["f"][0]) == [1_700_000_000_999999, 0]


def test_header_and_control_events():
    fd = encode_format_description()
    rot = encode_rotate("binlog.000002", pos=4)
    data, starts, _ = _frames_np([fd, rot])
    h = _gather_headers(data, starts, _HEADER_DT)
    assert list(h["type_code"]) == [15, 4]
    assert list(h["event_len"]) == [len(fd), len(rot)]


def test_spark_end_to_end_with_registry_extraction(spark):
    """Full distributed path: typed rows -> encode (with in-stream
    TABLE_MAP frames) -> extract registry via the column-pruned scan ->
    broadcast -> vectorized wave decode -> typed DataFrame equality."""
    from pyspark.sql import functions as F

    tm = _tmap()
    ev = (
        spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        .select(
            F.col("event_id").alias("id"),
            F.col("user_id"),
            (F.array_position(
                F.array(*[F.lit(s) for s in tm.columns[2].enum_values]),
                F.col("event_type"),
            )).cast("long").alias("etype"),
            F.round("value", 4).cast("decimal(18,4)").alias("score"),
            F.col("ts"),
            F.when(
                F.get_json_object("props", "$.k").cast("long") % 7 == 0,
                F.lit(None).cast("long"),
            ).otherwise(F.get_json_object("props", "$.k").cast("long") % 100).alias("k"),
            F.col("event_type").alias("tag"),
            F.col("props"),
            F.encode("event_type", "utf-8").alias("raw"),
            F.col("value").alias("val"),
        )
    )
    raw = encode_rows_df(ev, tm, rows_per_event=3, checksum=True)
    registry = extract_table_maps(raw, checksum=True)
    assert set(registry) == {7}
    assert [c.ctype for c in registry[7].columns] == [c.ctype for c in tm.columns]
    # ordinal->name + enum annotation override (P3, row.cc:61-89)
    decoded = decode_mysql_events(
        raw, registry, column_overrides={7: tm.columns}, checksum=True
    )
    got = decoded.drop("file_seq", "log_pos", "op").withColumn(
        "etype",
        F.array_position(
            F.array(*[F.lit(s) for s in tm.columns[2].enum_values]), F.col("etype")
        ).cast("long"),
    )
    want = ev.withColumn("score", F.col("score"))  # same shape
    assert got.count() == ev.count()
    assert want.exceptAll(got).count() == 0
    assert got.exceptAll(want).count() == 0


from hypothesis import given, settings, strategies as st

_TEXT = st.text(
    alphabet=st.characters(codec="utf-8", exclude_categories=("Cs",)), max_size=80
)


@settings(max_examples=30, deadline=None)
@given(
    rows=st.lists(
        st.tuples(
            st.integers(-(2**63), 2**63 - 1),                      # id LONGLONG
            st.one_of(st.none(), st.integers(-(2**31), 2**31 - 1)),  # user_id LONG
            st.one_of(st.none(), st.integers(1, 5)),                # etype ENUM
            st.one_of(st.none(), st.decimals(
                min_value=-(10**13), max_value=10**13, places=4)),   # score DEC(18,4)
            st.one_of(st.none(), st.datetimes(
                min_value=__import__("datetime").datetime(1000, 1, 1),
                max_value=__import__("datetime").datetime(9999, 12, 31, 23, 59, 59, 999999))),
            st.one_of(st.none(), st.integers(-128, 127)),           # k TINY
            st.one_of(st.none(), _TEXT.filter(lambda s: len(s.encode()) < 40)),  # tag
            st.one_of(st.none(), _TEXT),                            # props
            st.one_of(st.none(), st.binary(max_size=600)),          # raw BLOB
            st.one_of(st.none(), st.floats(allow_nan=False, allow_infinity=False)),
        ),
        min_size=1, max_size=12,
    ),
    checksum=st.booleans(),
)
def test_rows_event_roundtrip_property(rows, checksum):
    """Hypothesis: arbitrary typed rows (full NULL combinations, extreme
    ints, unicode varlen, wide decimals, edge datetimes) survive
    encode -> wave decode exactly."""
    tm = _tmap()
    frames = [encode_rows_event(WRITE_ROWS_EVENT_V2, tm, rows, checksum=checksum)]
    data, starts, ends = _frames_np(frames)
    dec = decode_rows_frames(
        data, starts, ends, np.array([WRITE_ROWS_EVENT_V2], np.uint8), tm,
        checksum=checksum,
    )
    n = len(rows)
    assert len(dec["frame_idx"]) == n
    # id is non-nullable in the tmap; index rows by it when unique, else by order
    got_ids = list(dec["id"][0])
    order = sorted(range(n), key=lambda i: (got_ids[i], i))
    exp_order = sorted(range(n), key=lambda i: (rows[i][0], i))
    for gi, ei in zip(order, exp_order):
        row = rows[ei]
        for col_i, name in ((1, "user_id"), (2, "etype"), (5, "k")):
            vals, nulls = dec[name]
            if row[col_i] is None:
                assert nulls[gi], (name, row)
            else:
                assert not nulls[gi] and vals[gi] == row[col_i], (name, row)
        vals, nulls = dec["score"]
        if row[3] is None:
            assert nulls[gi]
        else:
            # DecimalType decode is EXACT: the scaled int64 must match
            # the input decimal bit-for-bit (mydecimal.cc:33-131 parity)
            assert int(vals[gi]) == int(row[3].scaleb(4))
        vals, nulls = dec["ts"]
        if row[4] is None:
            assert nulls[gi]
        else:
            assert int(vals[gi]) == int(np.datetime64(row[4], "us").astype("int64"))
        vals, nulls = dec["val"]
        if row[9] is None:
            assert nulls[gi]
        else:
            assert vals[gi] == row[9]
        for name, col_i in (("tag", 6), ("props", 7), ("raw", 8)):
            _, buf, lens, nulls = dec[name]
            off = np.concatenate([[0], np.cumsum(lens)])
            if row[col_i] is None:
                assert nulls[gi]
            else:
                got = bytes(buf[off[gi] : off[gi + 1]])
                want = row[col_i].encode() if isinstance(row[col_i], str) else row[col_i]
                assert got == want


def test_crc32_frames_matches_zlib():
    import zlib

    from binlogsub_spark.mysql_binlog import crc32_frames

    rng = np.random.default_rng(11)
    lens = rng.integers(0, 300, size=500).astype(np.int64)
    data = rng.integers(0, 256, size=int(lens.sum()), dtype=np.uint8)
    starts = np.zeros(len(lens), dtype=np.int64)
    np.cumsum(lens[:-1], out=starts[1:])
    got = crc32_frames(data, starts, lens)
    want = np.array(
        [zlib.crc32(bytes(data[s : s + l])) for s, l in zip(starts, lens)],
        dtype=np.uint32,
    )
    assert (got == want).all()


def test_validate_verify_crc_flag():
    """A bit-flipped payload with intact lengths fails the CRC check, which
    runs whenever checksums are on."""
    from binlogsub_spark.mysql_binlog import validate_mysql_frames

    tm = _tmap()
    row = (1, 2, 1, 1.5, datetime(2024, 1, 1), 3, "t", "p", b"b", 1.0)
    frame = bytearray(
        encode_rows_event(WRITE_ROWS_EVENT_V2, tm, [row], checksum=True)
    )
    frame[40] ^= 0x01  # corrupt one payload byte, length intact
    data, starts, ends = _frames_np([bytes(frame)])
    full = validate_mysql_frames(data, starts, ends, checksum=True)
    assert full.tolist() == [3]  # bad_crc


def test_full_type_matrix_decode():
    """DATE/NEWDATE, SET, BIT, CHAR, temporal v1 (TIMESTAMP/DATETIME/TIME),
    a wide DECIMAL(30,10) and a narrow DECIMAL(10,2) — the rest of the
    ParseColumnValue matrix (event.cc:534-710) through the wave kernel."""
    from datetime import date

    from binlogsub_spark.mysql_binlog import (
        MYSQL_TYPE_BIT,
        MYSQL_TYPE_DATE,
        MYSQL_TYPE_DATETIME,
        MYSQL_TYPE_NEWDATE,
        MYSQL_TYPE_SET,
        MYSQL_TYPE_TIME,
        MYSQL_TYPE_TIMESTAMP,
    )

    tm = TableMap(
        table_id=13, db="d", table="t",
        columns=[
            MysqlColumn("d1", MYSQL_TYPE_NEWDATE),
            MysqlColumn("d2", MYSQL_TYPE_DATE),
            MysqlColumn(
                "s", MYSQL_TYPE_STRING, meta=(MYSQL_TYPE_SET, 2),
                set_values=("a", "b", "c", "dd", "e", "f", "g", "h", "i"),
            ),
            MysqlColumn("bits", MYSQL_TYPE_BIT, meta=12),
            MysqlColumn("ch", MYSQL_TYPE_STRING, meta=(MYSQL_TYPE_STRING, 40)),
            MysqlColumn("chl", MYSQL_TYPE_STRING, meta=(MYSQL_TYPE_STRING, 600)),
            MysqlColumn("t1", MYSQL_TYPE_TIMESTAMP),
            MysqlColumn("dt1", MYSQL_TYPE_DATETIME),
            MysqlColumn("tm1", MYSQL_TYPE_TIME),
            MysqlColumn("wd", MYSQL_TYPE_NEWDECIMAL, meta=(30, 10)),
            MysqlColumn("nd", MYSQL_TYPE_NEWDECIMAL, meta=(10, 2)),
        ],
    )
    rows = [
        (date(2024, 2, 29), date(1970, 1, 1), 0b100001101, 0xABC, "hi", "x" * 300,
         1_700_000_000, datetime(2024, 12, 31, 23, 59, 58), (1, 100, 30, 9),
         Decimal("12345678901234567890.0123456789"), Decimal("-3.50")),
        (date(1999, 12, 31), date(2038, 1, 19), 0, 0, "", "",
         0, datetime(1000, 1, 1, 0, 0, 0), (-1, 0, 0, 1),
         Decimal("-0.0000000001"), Decimal("0")),
    ]
    frames = [encode_rows_event(WRITE_ROWS_EVENT_V2, tm, rows)]
    data, starts, ends = _frames_np(frames)
    dec = decode_rows_frames(
        data, starts, ends, np.array([WRITE_ROWS_EVENT_V2], np.uint8), tm
    )
    epoch = date(1970, 1, 1).toordinal()
    assert list(dec["d1"][0]) == [
        date(2024, 2, 29).toordinal() - epoch, date(1999, 12, 31).toordinal() - epoch
    ]
    assert list(dec["d2"][0]) == [
        date(1970, 1, 1).toordinal() - epoch, date(2038, 1, 19).toordinal() - epoch
    ]
    assert list(dec["s"][0]) == [0b100001101, 0]  # raw bitmask pre-assembly
    assert list(dec["bits"][0]) == [0xABC, 0]
    for name, want in (("ch", ["hi", ""]), ("chl", ["x" * 300, ""])):
        _, buf, lens, _ = dec[name]
        off = np.concatenate([[0], np.cumsum(lens)])
        assert [bytes(buf[off[i]:off[i+1]]).decode() for i in range(2)] == want
    assert list(dec["t1"][0]) == [1_700_000_000_000000, 0]
    want_dt = int(np.datetime64(datetime(2024, 12, 31, 23, 59, 58), "us").astype("int64"))
    want_dt2 = int(np.datetime64(datetime(1000, 1, 1), "us").astype("int64"))
    assert list(dec["dt1"][0]) == [want_dt, want_dt2]
    assert list(dec["tm1"][0]) == [
        (100 * 3600 + 30 * 60 + 9) * 1_000_000, -1_000_000
    ]
    wd, _ = dec["wd"]
    assert wd.dtype == object
    assert int(wd[0]) == 123456789012345678900123456789
    assert int(wd[1]) == -1
    # a narrow DECIMAL(10,2): the scaled int64 path, negative and zero
    assert list(dec["nd"][0]) == [-350, 0]


def test_full_type_matrix_spark(spark):
    """The same matrix through the DISTRIBUTED path: encode -> registry
    extract (metadata roundtrip for BIT/SET/CHAR widths) -> decode ->
    typed Spark rows incl. DecimalType(30,10), DateType, SET names."""
    from datetime import date

    import pyspark.sql.types as T

    from binlogsub_spark.mysql_binlog import (
        MYSQL_TYPE_BIT,
        MYSQL_TYPE_NEWDATE,
        MYSQL_TYPE_SET,
        MYSQL_TYPE_TIME,
        encode_table_map,
    )

    tm = TableMap(
        table_id=21, db="d", table="t2",
        columns=[
            MysqlColumn("id", MYSQL_TYPE_LONGLONG, nullable=False),
            MysqlColumn("d1", MYSQL_TYPE_NEWDATE),
            MysqlColumn(
                "s", MYSQL_TYPE_STRING, meta=(MYSQL_TYPE_SET, 1),
                set_values=("red", "green", "blue"),
            ),
            MysqlColumn("bits", MYSQL_TYPE_BIT, meta=10),
            MysqlColumn("ch", MYSQL_TYPE_STRING, meta=(MYSQL_TYPE_STRING, 12)),
            MysqlColumn("tm1", MYSQL_TYPE_TIME),
            MysqlColumn("wd", MYSQL_TYPE_NEWDECIMAL, meta=(30, 10)),
        ],
    )
    rows = [
        (1, date(2024, 2, 29), 0b101, 0x2AB, "abc", (1, 1, 2, 3),
         Decimal("98765432109876543210.9876543210")),
        (2, None, None, None, None, None, None),
        (3, date(1970, 1, 2), 0b010, 1, "", (-1, 0, 1, 1), Decimal("-1.5")),
    ]
    frames = [
        encode_table_map(tm),
        encode_rows_event(WRITE_ROWS_EVENT_V2, tm, rows),
    ]
    df = spark.createDataFrame(
        [(0, i, bytearray(f)) for i, f in enumerate(frames)],
        "file_seq INT, log_pos LONG, payload BINARY",
    )
    registry = extract_table_maps(df)
    assert [c.meta for c in registry[21].columns] == [c.meta for c in tm.columns]
    got = decode_mysql_events(
        df, registry, column_overrides={21: tm.columns}
    ).orderBy("id").collect()
    schema = {f.name: f.dataType for f in decode_mysql_events(
        df, registry, column_overrides={21: tm.columns}).schema.fields}
    assert schema["wd"] == T.DecimalType(30, 10)
    assert schema["d1"] == T.DateType()
    assert schema["s"] == T.StringType()
    assert [r["d1"] for r in got] == [date(2024, 2, 29), None, date(1970, 1, 2)]
    assert [r["s"] for r in got] == ["red,blue", None, "green"]
    assert [r["bits"] for r in got] == [0x2AB, None, 1]
    assert [r["ch"] for r in got] == ["abc", None, ""]
    assert [r["tm1"] for r in got] == [
        (3600 + 2 * 60 + 3) * 1_000_000, None, -(61 * 1_000_000)
    ]
    assert [r["wd"] for r in got] == [
        Decimal("98765432109876543210.9876543210"), None, Decimal("-1.5000000000")
    ]


@settings(max_examples=25, deadline=None)
@given(
    scaled=st.integers(-(10**30 - 1), 10**30 - 1),
    prec_extra=st.integers(0, 8),
)
def test_wide_decimal_exactness_property(scaled, prec_extra):
    """Hypothesis: 16-30-significant-digit decimals survive the packed
    encode -> wide decode EXACTLY (VERDICT r2 item 2's done-criterion)."""
    from binlogsub_spark.codec_mysql import decimal_to_bin
    from binlogsub_spark.mysql_binlog import _decode_newdecimal_wide

    scale = 10
    prec = min(30 + prec_extra, 38)
    value = Decimal(f"{scaled}E-{scale}")  # exact (scaleb would round to 28 digits)
    buf = decimal_to_bin(value, prec, scale)
    data = np.frombuffer(buf, dtype=np.uint8)
    got, size = _decode_newdecimal_wide(data, np.zeros(1, dtype=np.int64), prec, scale)
    assert size == len(buf)
    assert int(got[0]) == scaled


def _small_tmap(tid=31):
    return TableMap(
        table_id=tid, db="test", table="mini",
        columns=[
            MysqlColumn("pk", MYSQL_TYPE_LONGLONG, nullable=False),
            MysqlColumn("a", MYSQL_TYPE_LONG),
            MysqlColumn("txt", MYSQL_TYPE_VARCHAR, meta=40),
            MysqlColumn("v", MYSQL_TYPE_DOUBLE, meta=8),
        ],
    )


def _frames_df(spark, frames, tmaps=()):
    from binlogsub_spark.mysql_binlog import encode_table_map

    all_frames = [encode_table_map(t) for t in tmaps] + list(frames)
    return spark.createDataFrame(
        [(0, i, bytearray(f)) for i, f in enumerate(all_frames)],
        "file_seq INT, log_pos LONG, payload BINARY",
    )


def test_update_before_image_emitted(spark):
    """include_before: genuine UPDATE frames yield _before_* columns with
    before != after (row.h:40-41 old_columns parity); I/D rows get nulls."""
    tm = _small_tmap()
    frames = [
        encode_rows_event(WRITE_ROWS_EVENT_V2, tm, [(1, 10, "first", 0.5)]),
        encode_rows_event(
            UPDATE_ROWS_EVENT_V2, tm,
            [((2, 20, "old", 1.0), (2, 21, "new", 2.0)),
             ((3, None, "o3", 3.0), (3, 33, None, None))],
        ),
        encode_rows_event(DELETE_ROWS_EVENT_V2, tm, [(4, 40, "gone", 4.0)]),
    ]
    got = (
        decode_mysql_events(
            _frames_df(spark, frames), registry={31: tm}, include_before=True
        )
        .orderBy("pk")
        .collect()
    )
    assert [r["op"] for r in got] == ["I", "U", "U", "D"]
    r1, r2, r3, r4 = got
    assert r1["_before_pk"] is None and r1["txt"] == "first"
    assert (r2["_before_a"], r2["a"]) == (20, 21)
    assert (r2["_before_txt"], r2["txt"]) == ("old", "new")
    assert (r2["_before_v"], r2["v"]) == (1.0, 2.0)
    assert r3["_before_a"] is None and r3["a"] == 33
    assert r3["_before_txt"] == "o3" and r3["txt"] is None
    assert r4["_before_pk"] is None and r4["txt"] == "gone"


def test_minimal_row_image_decodes(spark):
    """binlog_row_image=MINIMAL: partial present bitmaps (and before/after
    bitmaps that DIFFER on updates) decode as their own uniform sub-groups
    — absent columns are NULL, nothing aborts (r2 VERDICT item 7 /
    ADVICE image_mismatch fix)."""
    tm = _small_tmap()
    frames = [
        # FULL write + MINIMAL write (only pk, a) in the SAME batch
        encode_rows_event(WRITE_ROWS_EVENT_V2, tm, [(1, 10, "full", 1.0)]),
        encode_rows_event(WRITE_ROWS_EVENT_V2, tm, [(2, 20, None, None)],
                          present=[0, 1]),
        # MINIMAL update: before = key only, after = key + changed cols
        encode_rows_event(
            UPDATE_ROWS_EVENT_V2, tm,
            [((3, None, None, None), (3, None, "changed", None))],
            present=[0], present2=[0, 2],
        ),
    ]
    got = (
        decode_mysql_events(
            _frames_df(spark, frames), registry={31: tm}, include_before=True
        )
        .orderBy("pk")
        .collect()
    )
    assert [r["op"] for r in got] == ["I", "I", "U"]
    assert (got[0]["txt"], got[0]["v"]) == ("full", 1.0)
    assert (got[1]["a"], got[1]["txt"], got[1]["v"]) == (20, None, None)
    assert (got[2]["pk"], got[2]["txt"], got[2]["a"]) == (3, "changed", None)
    assert got[2]["_before_pk"] == 3 and got[2]["_before_txt"] is None


def test_semantic_deadletter_and_unknown_tid(spark):
    """Unknown table_id (lost map), width mismatch, and unsupported column
    types dead-letter with reasons instead of aborting; the scope-filtered
    KNOWN id stays on the valid side (ADVICE r2 items 1-2)."""
    from binlogsub_spark.mysql_binlog import split_deadletter_mysql

    GEOMETRY = 255  # spatial type: genuinely undecodable by this engine
    tm = _small_tmap(31)
    scoped_out = _small_tmap(77)  # known but filtered out of scope
    json_tm = TableMap(
        table_id=55, db="test", table="j",
        columns=[MysqlColumn("pk", MYSQL_TYPE_LONGLONG),
                 MysqlColumn("doc", GEOMETRY)],
    )
    wrong_width = TableMap(
        table_id=31, db="test", table="mini",
        columns=tm.columns[:2],  # encoder writes width=2, registry says 4
    )
    frames = [
        encode_rows_event(WRITE_ROWS_EVENT_V2, tm, [(1, 10, "ok", 1.0)]),
        # table_id 99 was never mapped anywhere -> unknown_table_id
        encode_rows_event(
            WRITE_ROWS_EVENT_V2, _small_tmap(99), [(2, 20, "lost", 2.0)]
        ),
        # known-but-out-of-scope id stays valid (decoder just skips it)
        encode_rows_event(WRITE_ROWS_EVENT_V2, scoped_out, [(3, 30, "x", 3.0)]),
        # a GEOMETRY column the decoder cannot type -> unsupported_type
        encode_rows_event(WRITE_ROWS_EVENT_V2, json_tm, [(4, b"\x00")],
                          present=[0]),
        # width mismatch vs the registry's 4-column map
        encode_rows_event(WRITE_ROWS_EVENT_V2, wrong_width, [(5, 50)]),
    ]
    df = _frames_df(spark, frames)
    registry = {31: tm, 55: json_tm}
    known = {31, 55, 77}
    dead = split_deadletter_mysql(df, registry=registry, known_table_ids=known)
    reasons = {r["log_pos"]: r["_reason"] for r in dead.collect()}
    assert reasons == {
        1: "unknown_table_id",
        3: "unsupported_type",
        4: "width_mismatch",
    }
    # the decode drops exactly those frames: one good row, nothing raises
    got = decode_mysql_events(df, registry, known_table_ids=known).collect()
    assert [(r["pk"], r["txt"]) for r in got] == [(1, "ok")]


def test_registry_json_roundtrip():
    from binlogsub_spark.mysql_binlog import (
        MYSQL_TYPE_SET,
        registry_from_json,
        registry_to_json,
    )

    tm = _small_tmap()
    tm2 = TableMap(
        table_id=8, db="d", table="s",
        columns=[
            MysqlColumn("e", MYSQL_TYPE_STRING, meta=(MYSQL_TYPE_ENUM, 1),
                        enum_values=("a", "b")),
            MysqlColumn("s", MYSQL_TYPE_STRING, meta=(MYSQL_TYPE_SET, 1),
                        set_values=("x", "y")),
            MysqlColumn("wd", MYSQL_TYPE_NEWDECIMAL, meta=(30, 10)),
        ],
    )
    reg = {31: tm, 8: tm2}
    back = registry_from_json(registry_to_json(reg))
    assert set(back) == {31, 8}
    for tid in reg:
        assert back[tid] == reg[tid]


def test_json_column_decode(spark):
    """MySQL binary JSON columns (type 245 — the reference cannot decode
    them at all) roundtrip through the wave decoder to canonical compact
    text; NULL JSON stays NULL."""
    import json as _json

    from binlogsub_spark.mysql_binlog import MYSQL_TYPE_JSON

    tm = TableMap(
        table_id=41, db="test", table="docs",
        columns=[
            MysqlColumn("pk", MYSQL_TYPE_LONGLONG, nullable=False),
            MysqlColumn("doc", MYSQL_TYPE_JSON, meta=4),
        ],
    )
    docs = [
        {"k": 69, "tag": "purchase", "flag": True, "arr": [1, 2], "nested": {"x": 3}},
        [1, "two", None, {"deep": [True, 2.5]}],
        "just a string",
        -12345678901,
        None,  # SQL NULL (null bitmap), not JSON null
    ]
    rows = [(i + 1, _json.dumps(d) if d is not None else None) for i, d in enumerate(docs)]
    frames = [encode_rows_event(WRITE_ROWS_EVENT_V2, tm, rows, checksum=True)]
    df = _frames_df(spark, frames)
    got = decode_mysql_events(df, {41: tm}, checksum=True).orderBy("pk").collect()
    for r, d in zip(got, docs):
        if d is None:
            assert r["doc"] is None
        else:
            assert r["doc"] == _json.dumps(d, separators=(",", ":"), ensure_ascii=False)


from hypothesis import given as _given, settings as _settings, strategies as _st

_JSON_VAL = _st.recursive(
    _st.one_of(
        _st.none(),
        _st.booleans(),
        _st.integers(-(2**63), 2**63 - 1),
        _st.text(max_size=40),
    ),
    lambda inner: _st.one_of(
        _st.lists(inner, max_size=5),
        _st.dictionaries(_st.text(max_size=10), inner, max_size=5),
    ),
    max_leaves=20,
)


@_settings(max_examples=60, deadline=None)
@_given(v=_JSON_VAL)
def test_json_binary_roundtrip_property(v):
    import json as _json

    from binlogsub_spark.json_binary import (
        binary_to_json_text,
        binary_to_json_value,
        json_to_binary,
    )

    b = json_to_binary(v)
    assert binary_to_json_value(b) == v
    assert binary_to_json_text(b) == _json.dumps(
        v, separators=(",", ":"), ensure_ascii=False
    )


# ------------------------------------------------- rows-event generations --
def test_rows_v1_decode_parity():
    """v1 rows events (codes 0x17-0x19, MySQL 5.1-5.6; reference dispatch
    packet.cc:70-109) decode IDENTICALLY to v2 — the only layout delta is
    the absent extra-data field (VERDICT r3 item 3)."""
    from binlogsub_spark.mysql_binlog import (
        DELETE_ROWS_EVENT_V1,
        UPDATE_ROWS_EVENT_V1,
        WRITE_ROWS_EVENT_V1,
    )

    tm = _small_tmap(31)
    writes = [(1, 10, "alpha", 1.5), (2, None, "", -2.0)]
    upd = [((3, 7, "old", 0.5), (3, 8, "new", 0.25))]
    dele = [(4, 99, "bye", 3.0)]
    pairs = [
        (WRITE_ROWS_EVENT_V1, WRITE_ROWS_EVENT_V2, writes),
        (UPDATE_ROWS_EVENT_V1, UPDATE_ROWS_EVENT_V2, upd),
        (DELETE_ROWS_EVENT_V1, DELETE_ROWS_EVENT_V2, dele),
    ]
    for v1_code, v2_code, rows in pairs:
        for checksum in (False, True):
            f1 = encode_rows_event(v1_code, tm, rows, checksum=checksum)
            f2 = encode_rows_event(v2_code, tm, rows, checksum=checksum)
            assert len(f1) == len(f2) - 2  # exactly the extra-data field
            d1, s1, e1 = _frames_np([f1])
            d2, s2, e2 = _frames_np([f2])
            dec1 = decode_rows_frames(
                d1, s1, e1, np.array([v1_code], np.uint8), tm, checksum=checksum
            )
            dec2 = decode_rows_frames(
                d2, s2, e2, np.array([v2_code], np.uint8), tm, checksum=checksum
            )
            assert list(dec1["op"]) == list(dec2["op"])
            for name in ("pk", "a", "v"):
                np.testing.assert_array_equal(dec1[name][0], dec2[name][0])
                np.testing.assert_array_equal(dec1[name][1], dec2[name][1])
            _, b1, l1, n1 = dec1["txt"]
            _, b2, l2, n2 = dec2["txt"]
            np.testing.assert_array_equal(b1, b2)
            np.testing.assert_array_equal(l1, l2)


def test_rows_v1_spark_end_to_end(spark):
    """A whole stream of v1 frames (table map + v1 rows events) decodes
    through decode_mysql_events — and a MIXED v1+v2 stream for one table
    groups correctly."""
    from binlogsub_spark.mysql_binlog import WRITE_ROWS_EVENT_V1

    tm = _small_tmap(31)
    frames = [
        encode_rows_event(WRITE_ROWS_EVENT_V1, tm, [(1, 10, "v1-a", 1.0)]),
        encode_rows_event(WRITE_ROWS_EVENT_V2, tm, [(2, 20, "v2-b", 2.0)]),
        encode_rows_event(WRITE_ROWS_EVENT_V1, tm, [(3, 30, "v1-c", 3.0)]),
    ]
    df = _frames_df(spark, frames, tmaps=[tm])
    got = {
        r["pk"]: (r["a"], r["txt"], r["v"], r["op"])
        for r in decode_mysql_events(df, registry={tm.table_id: tm}).collect()
    }
    assert got == {
        1: (10, "v1-a", 1.0, "I"),
        2: (20, "v2-b", 2.0, "I"),
        3: (30, "v1-c", 3.0, "I"),
    }


def test_rows_v0_generation_deadletters(spark):
    """Pre-5.1.16 rows generations (codes 20-22) are NOT silently dropped:
    the semantic demux dead-letters them as unsupported_event."""
    from binlogsub_spark.mysql_binlog import _finish_event, split_deadletter_mysql

    tm = _small_tmap(31)
    v0 = _finish_event(20, tm.table_id.to_bytes(6, "little") + b"\x00" * 4)
    ok = encode_rows_event(WRITE_ROWS_EVENT_V2, tm, [(1, 10, "fine", 1.0)])
    df = _frames_df(spark, [v0, ok], tmaps=[tm])
    dead = split_deadletter_mysql(
        df, registry={tm.table_id: tm}, known_table_ids={tm.table_id}
    )
    reasons = [r["_reason"] for r in dead.collect()]
    assert reasons == ["unsupported_event"]


# --------------------------------------------------- wide decimals (39-65) --
def test_wide_decimal_string_fallback_spark(spark):
    """DECIMAL(50,10) — wider than Spark's 38-digit DecimalType — decodes
    to its EXACT canonical string instead of dead-lettering the table
    (VERDICT r3 item 4; reference exactness bar mydecimal.cc:33-131)."""
    big = Decimal("1234567890123456789012345678901234567890.0123456789")
    neg = Decimal("-0.0000000001")
    tm = TableMap(
        table_id=61, db="test", table="widedec",
        columns=[
            MysqlColumn("pk", MYSQL_TYPE_LONGLONG, nullable=False),
            MysqlColumn("wd", MYSQL_TYPE_NEWDECIMAL, meta=(50, 10)),
        ],
    )
    assert tm.columns[1].spark_type().simpleString() == "string"
    frames = [
        encode_rows_event(WRITE_ROWS_EVENT_V2, tm, [(1, big), (2, neg), (3, None)]),
    ]
    df = _frames_df(spark, frames, tmaps=[tm])
    got = {
        r["pk"]: r["wd"]
        for r in decode_mysql_events(df, registry={tm.table_id: tm}).collect()
    }
    assert got == {
        1: "1234567890123456789012345678901234567890.0123456789",
        2: "-0.0000000001",
        3: None,
    }


try:
    from hypothesis import given as _g, settings as _s, strategies as _st

    @_s(max_examples=30, deadline=None)
    @_g(
        digits=_st.integers(39, 65),
        frac=_st.integers(0, 30),
        sign=_st.sampled_from([1, -1]),
        seed=_st.integers(0, 2**63),
    )
    def test_wide_decimal_39_65_roundtrip_property(digits, frac, sign, seed):
        """Hypothesis: 39-65-digit decimals survive packed encode -> wide
        decode -> string formatting EXACTLY (full mydecimal range)."""
        from binlogsub_spark.codec_mysql import decimal_to_bin
        from binlogsub_spark.mysql_binlog import _decode_newdecimal_wide

        scale = min(frac, digits - 1)
        prec = digits
        # deterministic digits-long scaled integer from the seed
        rng = np.random.default_rng(seed)
        ds = "".join(str(rng.integers(0, 10)) for _ in range(digits)).lstrip("0") or "1"
        scaled = sign * int(ds)
        value = Decimal(scaled).scaleb(-scale, __import__("decimal").Context(prec=70))
        buf = decimal_to_bin(value, prec, scale)
        data = np.frombuffer(buf, dtype=np.uint8)
        got, size = _decode_newdecimal_wide(
            data, np.zeros(1, dtype=np.int64), prec, scale
        )
        assert size == len(buf)
        assert int(got[0]) == scaled
except ImportError:  # pragma: no cover
    pass


# ------------------------------------------------------ one frame verdict --
# offset of the VARCHAR length byte in a one-row v2 write of _small_tmap:
# header + table_id + flags + extra-data + width + bitmap + null bitmap +
# pk (LONGLONG) + a (LONG)
_TXT_LEN_AT = 19 + 6 + 2 + 2 + 1 + 1 + 1 + 8 + 4


def _three_writes(checksum: bool):
    tm = _small_tmap(31)
    frames = [
        bytearray(encode_rows_event(
            WRITE_ROWS_EVENT_V2, tm, [(pk, pk * 10, f"row{pk}", 1.0)],
            checksum=checksum,
        ))
        for pk in (1, 2, 3)
    ]
    assert frames[1][_TXT_LEN_AT] == len("row2")
    frames[1][_TXT_LEN_AT] = 200  # the middle frame's text now overruns
    return tm, [bytes(f) for f in frames]


def test_overrun_raises_before_reading_past_the_body():
    """A VARCHAR length that runs past its frame raises ValueError before
    the gather, never IndexError from reading past the buffer."""
    tm, frames = _three_writes(checksum=False)
    data, starts, ends = _frames_np(frames)
    codes = np.full(3, WRITE_ROWS_EVENT_V2, np.uint8)
    with pytest.raises(ValueError, match="overran"):
        decode_rows_frames(data, starts, ends, codes, tm)
    keep = [0, 2]
    dec = decode_rows_frames(data, starts[keep], ends[keep], codes[keep], tm)
    assert dec["pk"][0].tolist() == [1, 3]


def test_overrun_drops_only_the_damaged_frame(spark):
    """Checksums off: the three frames share one bitmap group in one Arrow
    batch; the group is decoded again in halves, so pk 1 and pk 3 land."""
    tm, frames = _three_writes(checksum=False)
    df = _frames_df(spark, frames, tmaps=[tm]).coalesce(1)
    got = decode_mysql_events(df, {tm.table_id: tm}).collect()
    assert sorted((r["pk"], r["txt"]) for r in got) == [(1, "row1"), (3, "row3")]


def test_damaged_table_map_is_not_parsed(spark):
    """A table map whose CRC fails never enters the registry."""
    good, bad = _small_tmap(31), bytearray(encode_table_map(_small_tmap(32), checksum=True))
    bad[HEADER_LEN] ^= 0x40  # table_id 32 -> 96, CRC now fails
    df = _frames_df(spark, [encode_table_map(good, checksum=True), bytes(bad)])
    assert set(extract_table_maps(df, checksum=True)) == {31}


_VERDICT_BATCH = (
    (WRITE_ROWS_EVENT_V2, [(1, 10, "one", 1.0), (2, None, "two", 2.0)]),
    (UPDATE_ROWS_EVENT_V2, [((1, 10, "one", 1.0), (1, 11, "uno", 1.5))]),
    (DELETE_ROWS_EVENT_V2, [(2, None, "two", 2.0)]),
    (WRITE_ROWS_EVENT_V2, [(3, 30, "", None)]),
    (WRITE_ROWS_EVENT_V1, [(4, 40, "four", 4.0)]),
)


@settings(max_examples=50, deadline=None)
@given(
    frame=st.integers(0, len(_VERDICT_BATCH)),
    at=st.integers(0, 10_000),
    flip=st.integers(1, 255),
    truncate=st.booleans(),
)
def test_verdict_drops_every_damaged_frame_property(frame, at, flip, truncate):
    """Hypothesis: one flipped byte or one truncation anywhere in a small
    checksummed batch (table map + rows-events of every kind). The
    reason-ok rows-events decode together without raising, and the damaged
    frame is decoded only if its verdict is ok, which with CRC32 it never
    is."""
    from binlogsub_spark.mysql_binlog import ROWS_EVENTS

    tm = _small_tmap(31)
    frames = [encode_table_map(tm, checksum=True)] + [
        encode_rows_event(code, tm, rows, checksum=True)
        for code, rows in _VERDICT_BATCH
    ]
    damaged = bytearray(frames[frame])
    at %= len(damaged)
    if truncate:
        del damaged[at:]
    else:
        damaged[at] ^= flip
    frames[frame] = bytes(damaged)
    data, starts, ends = _frames_np(frames)
    reasons = validate_mysql_frames(
        data, starts, ends, True, {tm.table_id: tm}, frozenset({tm.table_id})
    )
    assert reasons[frame] != 0
    ok = np.flatnonzero(reasons == 0)
    codes = data[starts[ok] + 4]
    rows_ok = ok[np.isin(codes, ROWS_EVENTS)]
    dec = decode_rows_frames(
        data, starts[rows_ok], ends[rows_ok], data[starts[rows_ok] + 4], tm,
        checksum=True,
    )
    decoded = set(rows_ok[dec["frame_idx"]].tolist())
    assert decoded == set(rows_ok.tolist())
    assert frame not in decoded or reasons[frame] == 0


@pytest.mark.parametrize("tail", [None, b"\x01\x02\x03"], ids=["null", "3-byte"])
def test_decode_survives_a_short_last_frame(spark, tail):
    """A batch that ends in a NULL or under-header payload: the decode
    reads no type byte past the batch's bytes and returns the good rows."""
    tm = _small_tmap(31)
    frames = [encode_table_map(tm)] + [
        encode_rows_event(WRITE_ROWS_EVENT_V2, tm, [(pk, pk, f"r{pk}", 1.0)])
        for pk in (1, 2)
    ]
    rows = [(0, i, bytearray(f)) for i, f in enumerate(frames)]
    rows.append((0, len(frames), None if tail is None else bytearray(tail)))
    df = spark.createDataFrame(
        rows, "file_seq INT, log_pos LONG, payload BINARY"
    ).coalesce(1)
    got = decode_mysql_events(df, {tm.table_id: tm}).collect()
    assert sorted((r["pk"], r["txt"]) for r in got) == [(1, "r1"), (2, "r2")]


def test_enum_code_past_its_values_drops_only_that_frame(spark):
    """Checksums off: an ENUM code beyond the lookup table fails column
    assembly, which runs inside the halving retry, so its neighbours land."""
    tm = TableMap(
        table_id=41, db="test", table="en",
        columns=[
            MysqlColumn("pk", MYSQL_TYPE_LONGLONG, nullable=False),
            MysqlColumn("e", MYSQL_TYPE_STRING, meta=(MYSQL_TYPE_ENUM, 1),
                        enum_values=("a", "b")),
        ],
    )
    frames = [
        encode_rows_event(WRITE_ROWS_EVENT_V2, tm, [(pk, code)])
        for pk, code in ((1, 1), (2, 9), (3, 2))
    ]
    df = _frames_df(spark, frames, tmaps=[tm]).coalesce(1)
    got = decode_mysql_events(df, {tm.table_id: tm}).collect()
    assert sorted((r["pk"], r["e"]) for r in got) == [(1, "a"), (3, "b")]


def test_malformed_json_raises_value_error():
    """A damaged binary JSON document raises ValueError, the error the
    decode's halving retry drops a frame on."""
    from binlogsub_spark.json_binary import binary_to_json_value

    for blob in (b"\x00\x05\x00", b"\x02\x01\x00\x08\x00\x04\x07", b"\x0c\xff"):
        with pytest.raises(ValueError):
            binary_to_json_value(blob)

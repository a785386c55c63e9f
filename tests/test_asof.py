"""as-of join operator + GTID assignment over genuine frames."""

from __future__ import annotations

import uuid

import numpy as np
from pyspark.sql import functions as F


def test_asof_join_trades_quotes(spark):
    """Classic shape: each trade gets the latest quote at-or-before it,
    per symbol; exact-position matches included by default."""
    from binlogsub_spark.operators.asof import asof_join

    trades = spark.createDataFrame(
        [("A", 3, 100), ("A", 7, 200), ("A", 10, 300), ("B", 5, 50), ("B", 6, 60)],
        ["sym", "t", "qty"],
    )
    quotes = spark.createDataFrame(
        [("A", 1, 9.0), ("A", 7, 9.5), ("A", 9, 10.0), ("B", 6, 1.5)],
        ["sym", "t", "px"],
    )
    got = {
        (r["sym"], r["t"]): r["px"]
        for r in asof_join(
            trades, quotes, order_cols=["t"], value_cols=["px"], partition_cols=["sym"]
        ).collect()
    }
    assert got == {
        ("A", 3): 9.0, ("A", 7): 9.5, ("A", 10): 10.0,
        ("B", 5): None, ("B", 6): 1.5,
    }
    strict = {
        (r["sym"], r["t"]): r["px"]
        for r in asof_join(
            trades, quotes, order_cols=["t"], value_cols=["px"],
            partition_cols=["sym"], exact_matches=False,
        ).collect()
    }
    assert strict[("A", 7)] == 9.0 and strict[("B", 6)] is None


def test_gtid_extraction_and_assignment(spark):
    """GTID control events tag every row of their transaction — the
    'GTID+log-position ordering' recovered relationally (as-of join)."""
    from binlogsub_spark.mysql_binlog import (
        GTID_LOG_EVENT,
        WRITE_ROWS_EVENT_V2,
        assign_gtids,
        decode_mysql_events,
        encode_gtid,
        encode_rows_event,
        extract_gtids,
    )
    from tests.test_mysql_binlog import _tmap

    tm = _tmap()
    sid1, sid2 = uuid.uuid4(), uuid.uuid4()

    def _row(i):
        from datetime import datetime
        from decimal import Decimal

        return (i, i, 1, Decimal("1.0000"), datetime(2024, 1, 1), None, "t", "p", b"", 0.0)

    frames = [
        (encode_gtid(sid1.bytes, 1), 100),
        (encode_rows_event(WRITE_ROWS_EVENT_V2, tm, [_row(1), _row(2)]), 150),
        (encode_rows_event(WRITE_ROWS_EVENT_V2, tm, [_row(3)]), 250),
        (encode_gtid(sid2.bytes, 7), 300),
        (encode_rows_event(WRITE_ROWS_EVENT_V2, tm, [_row(4)]), 350),
    ]
    df = spark.createDataFrame(
        [(0, pos, bytearray(f)) for f, pos in frames],
        "file_seq INT, log_pos LONG, payload BINARY",
    )
    gt = extract_gtids(df)
    rows = {r["log_pos"]: r["gtid"] for r in gt.collect()}
    assert rows == {100: f"{sid1}:1", 300: f"{sid2}:7"}
    type_byte = F.hex(F.expr("substring(payload, 5, 1)")).alias("type_byte")
    assert {r["type_byte"] for r in df.select(type_byte).distinct().collect()} == {
        f"{GTID_LOG_EVENT:02X}", f"{WRITE_ROWS_EVENT_V2:02X}"
    }

    decoded = decode_mysql_events(df, registry={7: tm})
    tagged = {
        int(r["id"]): r["gtid"] for r in assign_gtids(decoded, gt).collect()
    }
    assert tagged == {1: f"{sid1}:1", 2: f"{sid1}:1", 3: f"{sid1}:1", 4: f"{sid2}:7"}

"""Parity tests for the MySQL binary-format kernels (SURVEY.md §2.6 F3/F4):
round-trips plus known fixed vectors from the public format spec."""

from __future__ import annotations

from decimal import Decimal

import pytest
from hypothesis import given, settings, strategies as st

from binlogsub_spark.codec_mysql import (
    bin_to_decimal,
    decimal_bin_size,
    decimal_to_bin,
    decode_datetime2,
    decode_time2,
    decode_timestamp2,
    encode_datetime2,
    encode_time2,
)


def test_decimal_bin_size_known_values():
    # from the public format: decimal(10,0) -> 5 bytes, decimal(18,9) -> 8
    assert decimal_bin_size(10, 0) == 5
    assert decimal_bin_size(18, 9) == 8
    assert decimal_bin_size(9, 0) == 4
    assert decimal_bin_size(1, 0) == 1
    # decimal(65,30): intg 35 = 3 full groups + 8-digit lead (4 B) -> 16;
    # frac 30 = 3 full groups + 3-digit tail (2 B) -> 14
    assert decimal_bin_size(65, 30) == 30


@pytest.mark.parametrize(
    "value,prec,scale",
    [
        ("0", 9, 0),
        ("1234567.89", 9, 2),
        ("-1234567.89", 9, 2),
        ("0.000000001", 18, 9),
        ("-9999999999999999.99", 18, 2),
        ("123456789012345678901234567890.123456789", 65, 30),
        ("-0.5", 2, 1),
    ],
)
def test_decimal_roundtrip(value, prec, scale):
    import decimal as _d

    d = Decimal(value)
    buf = decimal_to_bin(d, prec, scale)
    assert len(buf) == decimal_bin_size(prec, scale)
    expected = d.quantize(Decimal(1).scaleb(-scale), context=_d.Context(prec=80))
    assert bin_to_decimal(buf, prec, scale) == expected


@settings(max_examples=200, deadline=None)
@given(
    st.decimals(
        min_value=Decimal("-9999999.999"),
        max_value=Decimal("9999999.999"),
        places=3,
        allow_nan=False,
        allow_infinity=False,
    )
)
def test_decimal_roundtrip_property(d):
    buf = decimal_to_bin(d, 10, 3)
    assert bin_to_decimal(buf, 10, 3) == d.quantize(Decimal("0.001"))


def test_decimal_sign_bit_semantics():
    # positive values have MSB set AFTER encoding (stored = value with
    # first byte XOR 0x80) — mydecimal.cc sign convention
    pos = decimal_to_bin(Decimal("1"), 9, 0)
    neg = decimal_to_bin(Decimal("-1"), 9, 0)
    assert pos[0] & 0x80
    assert not (neg[0] & 0x80)


def test_datetime2_roundtrip_and_fields():
    buf = encode_datetime2(2024, 2, 29, 23, 59, 58, micros=123456, fsp=6)
    assert len(buf) == 5 + 3
    assert decode_datetime2(buf, fsp=6) == (2024, 2, 29, 23, 59, 58, 123456)
    # no fractional part
    buf0 = encode_datetime2(1970, 1, 1, 0, 0, 0)
    assert decode_datetime2(buf0) == (1970, 1, 1, 0, 0, 0, 0)


def test_timestamp2_epoch():
    buf = (1_700_000_000).to_bytes(4, "big") + (99).to_bytes(1, "big")
    assert decode_timestamp2(buf, fsp=2) == (1_700_000_000, 990000)
    assert decode_timestamp2(buf[:4]) == (1_700_000_000, 0)


def test_time2_sign_and_fields():
    pos = encode_time2(1, 838, 59, 59)
    assert decode_time2(pos) == (1, 838, 59, 59, 0)
    neg = encode_time2(-1, 10, 30, 15, micros=500000, fsp=2)
    assert decode_time2(neg, fsp=2) == (-1, 10, 30, 15, 500000)


def test_time2_negative_fraction_parity():
    """MySQL stores a negative fractional TIME as (intpart-1,
    0x100**nbytes - frac): disk 7FFFFF.FF must be -00:00:00.01, and the
    whole negative-with-frac family must round-trip."""
    raw = bytes.fromhex("7fffff") + bytes([0xFF])
    assert decode_time2(raw, fsp=2) == (-1, 0, 0, 0, 10000)
    assert encode_time2(-1, 0, 0, 0, 10000, fsp=2) == raw
    for fsp in (1, 2, 3, 4, 5, 6):
        nbytes = (fsp + 1) // 2
        unit = 10 ** (6 - 2 * nbytes)
        for micros in (unit, 250000 // unit * unit, 990000 // unit * unit):
            enc = encode_time2(-1, 2, 3, 4, micros, fsp)
            assert decode_time2(enc, fsp) == (-1, 2, 3, 4, micros)


def test_decimal_precision_equals_scale():
    """DECIMAL(p, p) has zero integer digits — the formatted leading '0'
    must not shift the digit split (mydecimal.cc sizing parity)."""
    for s, prec in (("0.1234", 4), ("0.9999", 4), ("0.000001", 6), ("0.5", 1)):
        scale = prec
        b = decimal_to_bin(Decimal(s), prec, scale)
        assert len(b) == decimal_bin_size(prec, scale)
        assert bin_to_decimal(b, prec, scale) == Decimal(s)
        bn = decimal_to_bin(Decimal("-" + s), prec, scale)
        assert bin_to_decimal(bn, prec, scale) == Decimal("-" + s)

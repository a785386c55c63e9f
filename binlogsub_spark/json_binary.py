"""MySQL binary JSON (column type 245) — encoder + decoder.

The reference CANNOT decode JSON columns at all (ParseColumnValue has no
case for type 245, /root/reference/event.cc:413-809 returns -1 and kills
the row) — this module exceeds it. Format source: the PUBLIC MySQL
internals documentation of the JSON binary storage (sql/json_binary.h
doc comment; also the MySQL Internals Manual "JSON binary format"):

    value ::= type(u8) payload
    0x00/0x01  small/large OBJECT:
               count, size (u16 LE small / u32 LE large)
               key-entry*count:   key_offset (u16/u32), key_len u16
               value-entry*count: type u8, offset-or-inlined (u16/u32)
               keys bytes, then non-inlined values
    0x02/0x03  small/large ARRAY: count, size, value-entry*count, values
    0x04       literal: 0x00 null / 0x01 true / 0x02 false
    0x05..0x0a int16/uint16/int32/uint32/int64/uint64 (LE)
    0x0b       double (LE)
    0x0c       utf8mb4 string: varlen length (7-bit groups, high-bit
               continuation) + bytes
    0x0f       opaque: type u8 + varlen length + bytes

    Inlined in a value entry (no offset): literal, int16, uint16 always;
    int32/uint32 additionally in the LARGE format (4-byte slots).
    Offsets are relative to the start of the object/array payload (the
    count field), not the enclosing document.

Decoding is a per-DOCUMENT recursive parse (JSON is an opaque recursive
value — there is no wave-vectorizable fixed layout), batched at the Arrow
level: the row decoder collects raw JSON blobs exactly like BLOBs (one
contiguous buffer, zero per-row Python), and only the final
binary->text conversion walks each document once.

Canonical text output: compact separators ("," and ":"), keys in stored
order, ensure_ascii=False — byte-identical to
``json.dumps(obj, separators=(",", ":"), ensure_ascii=False)``.
"""

from __future__ import annotations

import json
import struct

J_SMALL_OBJECT = 0x00
J_LARGE_OBJECT = 0x01
J_SMALL_ARRAY = 0x02
J_LARGE_ARRAY = 0x03
J_LITERAL = 0x04
J_INT16 = 0x05
J_UINT16 = 0x06
J_INT32 = 0x07
J_UINT32 = 0x08
J_INT64 = 0x09
J_UINT64 = 0x0A
J_DOUBLE = 0x0B
J_STRING = 0x0C
J_OPAQUE = 0x0F

LIT_NULL, LIT_TRUE, LIT_FALSE = 0x00, 0x01, 0x02


# ------------------------------------------------------------ varlen int --
def _write_varlen(n: int) -> bytes:
    """Data length as 7-bit groups, LE, high bit = continuation."""
    out = bytearray()
    while True:
        b = n & 0x7F
        n >>= 7
        if n:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _read_varlen(buf: bytes, pos: int) -> tuple[int, int]:
    n, shift = 0, 0
    while True:
        b = buf[pos]
        pos += 1
        n |= (b & 0x7F) << shift
        if not b & 0x80:
            return n, pos
        shift += 7
        if shift > 28:
            raise ValueError("varlen length field overruns 5 bytes")


# -------------------------------------------------------------- encoding --
def _classify(v):
    """(type_code, inlinable_small, inlinable_large) for a scalar."""
    if v is None or isinstance(v, bool):
        return J_LITERAL, True, True
    if isinstance(v, int):
        if -(2**15) <= v < 2**15:
            return J_INT16, True, True
        if -(2**31) <= v < 2**31:
            return J_INT32, False, True
        if -(2**63) <= v < 2**63:
            return J_INT64, False, False
        if v < 2**64:
            return J_UINT64, False, False
        raise ValueError(f"integer {v} does not fit MySQL JSON")
    if isinstance(v, float):
        return J_DOUBLE, False, False
    if isinstance(v, str):
        return J_STRING, False, False
    if isinstance(v, dict):
        return J_SMALL_OBJECT, False, False  # large chosen at pack time
    if isinstance(v, (list, tuple)):
        return J_SMALL_ARRAY, False, False
    raise ValueError(f"unsupported JSON value {type(v)}")


def _inline_bytes(v, width: int) -> bytes:
    if v is None:
        return LIT_NULL.to_bytes(width, "little")
    if isinstance(v, bool):
        return (LIT_TRUE if v else LIT_FALSE).to_bytes(width, "little")
    # only int16 (small) / int32 (large) reach here -> signed fits
    return int(v).to_bytes(width, "little", signed=True)


def _encode_scalar(v) -> tuple[int, bytes]:
    """Non-inlined scalar -> (type_code, payload bytes)."""
    code, _, _ = _classify(v)
    if code == J_LITERAL:
        return code, bytes([LIT_NULL if v is None else (LIT_TRUE if v else LIT_FALSE)])
    if code == J_INT16:
        return code, struct.pack("<h", v)
    if code == J_INT32:
        return code, struct.pack("<i", v)
    if code == J_INT64:
        return code, struct.pack("<q", v)
    if code == J_UINT64:
        return code, struct.pack("<Q", v)
    if code == J_DOUBLE:
        return code, struct.pack("<d", v)
    if code == J_STRING:
        b = v.encode("utf-8")
        return code, _write_varlen(len(b)) + b
    return _encode_container(v)


def _encode_container(v) -> tuple[int, bytes]:
    """Container -> (ACTUAL type code, payload). The type code must reflect
    the format really packed: ``_pack_container`` may upgrade small->large
    when the payload overflows u16 offsets, and a large parent packs nested
    containers in whatever format THEY need — the entry's type byte has to
    match, or the decoder reads u16 offsets over a u32 layout (garbage)."""
    large, payload = _pack_container(v, large=_needs_large(v))
    if isinstance(v, dict):
        return (J_LARGE_OBJECT if large else J_SMALL_OBJECT), payload
    return (J_LARGE_ARRAY if large else J_SMALL_ARRAY), payload


def _needs_large(v) -> bool:
    """Conservative: a container whose small-format payload could exceed
    the u16 size/offset space must use the large format."""
    return len(json.dumps(v)) + 32 * (len(v) if hasattr(v, "__len__") else 1) > 60000


def _pack_container(v, large: bool) -> tuple[bool, bytes]:
    """OBJECT/ARRAY payload (everything after the type byte) ->
    (large_format_used, payload). The bool propagates the small->large
    fallback so the caller emits the matching type byte."""
    is_obj = isinstance(v, dict)
    items = list(v.items()) if is_obj else list(v)
    count = len(items)
    osz = 4 if large else 2  # count/size/offset width
    vslot = 1 + osz  # value entry: type byte + offset-or-inlined
    header = 2 * osz + (count * (osz + 2) if is_obj else 0) + count * vslot

    keys = b""
    key_entries = []
    if is_obj:
        for k, _ in items:
            kb = str(k).encode("utf-8")
            key_entries.append((header + len(keys), len(kb)))
            keys += kb
    # NOTE key offsets are relative to payload start; keys sit right after
    # the entry tables
    values = b""
    value_entries = []
    vals_base = header + len(keys)
    for item in items:
        val = item[1] if is_obj else item
        code, inline_s, inline_l = _classify(val)
        can_inline = inline_l if large else inline_s
        if code in (J_INT32, J_UINT32) and large:
            can_inline = True
        if can_inline:
            value_entries.append(bytes([code]) + _inline_bytes(val, osz))
        else:
            # encode FIRST: for a nested container the actual type code
            # (small vs large) is only known after packing it
            c2, payload = _encode_scalar(val)
            value_entries.append((c2, vals_base + len(values)))
            values += payload
    size = vals_base + len(values)
    if not large and size >= 1 << 16:
        return _pack_container(v, large=True)

    out = bytearray()
    out += count.to_bytes(osz, "little") + size.to_bytes(osz, "little")
    for off, klen in key_entries:
        out += off.to_bytes(osz, "little") + klen.to_bytes(2, "little")
    for ve in value_entries:
        if isinstance(ve, bytes):
            out += ve
        else:
            code, off = ve
            out += bytes([code]) + off.to_bytes(osz, "little")
    out += keys + values
    return large, bytes(out)


def json_to_binary(v) -> bytes:
    """Python value (parsed JSON) -> full MySQL binary JSON value
    (type byte + payload). Top-level scalars use their scalar form."""
    code, payload = _encode_scalar(v)
    return bytes([code]) + payload


# -------------------------------------------------------------- decoding --
def _parse_value(buf, code: int, pos: int):
    """One value at pos given its type code; pos points at the payload."""
    if code in (J_SMALL_OBJECT, J_LARGE_OBJECT, J_SMALL_ARRAY, J_LARGE_ARRAY):
        return _parse_container(buf, code, pos)
    if code == J_LITERAL:
        lit = buf[pos]
        return {LIT_NULL: None, LIT_TRUE: True, LIT_FALSE: False}[lit]
    if code == J_INT16:
        return struct.unpack_from("<h", buf, pos)[0]
    if code == J_UINT16:
        return struct.unpack_from("<H", buf, pos)[0]
    if code == J_INT32:
        return struct.unpack_from("<i", buf, pos)[0]
    if code == J_UINT32:
        return struct.unpack_from("<I", buf, pos)[0]
    if code == J_INT64:
        return struct.unpack_from("<q", buf, pos)[0]
    if code == J_UINT64:
        return struct.unpack_from("<Q", buf, pos)[0]
    if code == J_DOUBLE:
        return struct.unpack_from("<d", buf, pos)[0]
    if code == J_STRING:
        n, p = _read_varlen(buf, pos)
        return bytes(buf[p : p + n]).decode("utf-8")
    if code == J_OPAQUE:
        n, p = _read_varlen(buf, pos + 1)
        return {"_opaque_type": buf[pos], "_base64": __import__("base64").b64encode(bytes(buf[p : p + n])).decode()}
    raise ValueError(f"unknown JSON binary type 0x{code:02x}")


def _parse_container(buf, code: int, pos: int):
    large = code in (J_LARGE_OBJECT, J_LARGE_ARRAY)
    is_obj = code in (J_SMALL_OBJECT, J_LARGE_OBJECT)
    osz = 4 if large else 2
    u = "<I" if large else "<H"
    count = struct.unpack_from(u, buf, pos)[0]
    # size = struct.unpack_from(u, buf, pos + osz)[0]  (self-describing len)
    entry_base = pos + 2 * osz
    keys = []
    if is_obj:
        for i in range(count):
            koff = struct.unpack_from(u, buf, entry_base + i * (osz + 2))[0]
            klen = struct.unpack_from("<H", buf, entry_base + i * (osz + 2) + osz)[0]
            keys.append(bytes(buf[pos + koff : pos + koff + klen]).decode("utf-8"))
        ventry_base = entry_base + count * (osz + 2)
    else:
        ventry_base = entry_base
    vals = []
    for i in range(count):
        e = ventry_base + i * (1 + osz)
        vcode = buf[e]
        if vcode == J_LITERAL:
            vals.append({LIT_NULL: None, LIT_TRUE: True, LIT_FALSE: False}[buf[e + 1]])
        elif vcode == J_INT16:
            vals.append(struct.unpack_from("<h", buf, e + 1)[0])
        elif vcode == J_UINT16:
            vals.append(struct.unpack_from("<H", buf, e + 1)[0])
        elif large and vcode == J_INT32:
            vals.append(struct.unpack_from("<i", buf, e + 1)[0])
        elif large and vcode == J_UINT32:
            vals.append(struct.unpack_from("<I", buf, e + 1)[0])
        else:
            # the offset points at the value's PAYLOAD (its type byte
            # lives in this entry), relative to the container start
            off = struct.unpack_from(u, buf, e + 1)[0]
            vals.append(_parse_value(buf, vcode, pos + off))
    return dict(zip(keys, vals)) if is_obj else vals


def binary_to_json_value(buf):
    """Full binary JSON value (type byte + payload) -> Python value. A
    malformed document (an offset or count past its bytes, an unknown
    literal, an offset cycle) raises ``ValueError``."""
    if len(buf) == 0:
        return None
    code = buf[0]
    try:
        if code in (J_SMALL_OBJECT, J_LARGE_OBJECT, J_SMALL_ARRAY, J_LARGE_ARRAY):
            return _parse_container(buf, code, 1)
        return _parse_value(buf, code, 1)
    except (IndexError, KeyError, struct.error, RecursionError) as e:
        raise ValueError(f"malformed binary JSON: {e!r}") from e


def binary_to_json_text(buf) -> str:
    """Binary JSON -> canonical compact text (the engine's JSON column
    output; byte-identical to json.dumps(..., separators=(',', ':'),
    ensure_ascii=False) of the decoded value)."""
    return json.dumps(
        binary_to_json_value(buf), separators=(",", ":"), ensure_ascii=False
    )

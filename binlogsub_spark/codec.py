"""Binary wire codec + vectorized Arrow decode kernels.

The reference spends most of its code decoding MySQL's binary row format
one value at a time (`ParseColumnValue`, /root/reference/event.cc:413-809,
with the little-endian `korr` readers of /root/reference/myconvert.h:19-117
and the length-encoded integer of /root/reference/util.cc:144-172). This
module re-realizes that layer the Spark-idiomatic way: events arrive as an
opaque ``payload: binary`` column and a ``mapInArrow`` kernel decodes an
entire Arrow batch at once — no per-row Python in the hot path.

Wire format (one event record; all integers little-endian, mirroring the
`korr` convention):

    off len field
      0   4 file_seq       u32
      4   8 log_pos        u64
     12   8 ts_micros      u64 (epoch micros; both server_ts and image ts)
     20   1 op             u8  (0=INSERT 1=UPDATE 2=DELETE; row.h:13-18)
     21   1 schema_version u8
     22   1 scope          u8  (0 -> test.transcripts, 1 -> other.noise)
     23   1 role           u8  (0 user, 1 assistant, 2 tool)
     24   1 tool           u8  (0xff = RESERVED NULL sentinel — tool codes
                                must be 0..254; the reference degrades NULL
                                to "" (/root/reference/event.cc:386-390); we
                                keep a real null, an explicit improvement)
     25   4 turn_idx       u32
     29  24 conv_id        NUL-padded utf-8 (fixed width => vectorizable);
                           trailing NULs are padding, embedded NULs are data
     53   2 text_len       u16
     55   * text           utf-8

Decode operates on the Arrow batch's own buffers: the payload column's
(offsets, data) buffers are read zero-copy as ONE contiguous uint8 array
plus int64 frame boundaries for the single-byte checks (length, epoch,
scope); the fixed-width header is one C++ ``binary_slice`` viewed as a
structured dtype, and conv_id/text are fixed-offset ``binary_slice``
columns. No per-row Python objects exist anywhere on the hot path.
"""

from __future__ import annotations

import struct
from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, functions as F
from pyspark.sql import types as T

_COMMON_PREFIX = [
    ("file_seq", "<u4"),
    ("log_pos", "<u8"),
    ("ts_micros", "<u8"),
    ("op", "u1"),
    ("schema_version", "u1"),
    ("scope", "u1"),
    ("role", "u1"),
]
_SUFFIX = [("turn_idx", "<u4"), ("conv_id", "S24"), ("text_len", "<u2")]
# Epoch-versioned layouts (in-band schema evolution at the BYTE level, like
# the reference's table-map epochs, /root/reference/packet.cc:141-152):
# schema_version 1 frames physically lack the tool byte.
_HEADER_DTYPES = {
    1: np.dtype(_COMMON_PREFIX + _SUFFIX),
    2: np.dtype(_COMMON_PREFIX + [("tool", "u1")] + _SUFFIX),
}
_VERSION_OFFSET = 21  # schema_version byte position (common prefix)
HEADER_LENS = {v: dt.itemsize for v, dt in _HEADER_DTYPES.items()}
HEADER_LEN = HEADER_LENS[2]  # v2 (current epoch) header size
assert HEADER_LENS == {1: 54, 2: 55}

_OPS = np.array(["I", "U", "D"])
_ROLES = np.array(["user", "assistant", "tool"])
_DBS = np.array(["test", "other"])
_TABLES = np.array(["transcripts", "noise"])

# Flat decoded change record (the engine's IR — analog of the reference's
# Row{action, db, tbl, cols[]} at /root/reference/row.h:23-45, but typed
# and columnar instead of stringly row-at-a-time).
DECODED_SCHEMA = T.StructType(
    [
        T.StructField("file_seq", T.IntegerType()),
        T.StructField("log_pos", T.LongType()),
        T.StructField("server_ts", T.TimestampType()),
        T.StructField("op", T.StringType()),
        T.StructField("db_name", T.StringType()),
        T.StructField("table_name", T.StringType()),
        T.StructField("schema_version", T.IntegerType()),
        T.StructField("conv_id", T.StringType()),
        T.StructField("turn_idx", T.IntegerType()),
        T.StructField("role", T.StringType()),
        T.StructField("text", T.StringType()),
        T.StructField("tool", T.StringType()),
        T.StructField("ts", T.TimestampType()),
    ]
)


# ---------------------------------------------------------------- encode --
def encode_record(
    file_seq: int,
    log_pos: int,
    ts_micros: int,
    op: str,
    schema_version: int,
    scope: int,
    role: str,
    tool: str | None,
    turn_idx: int,
    conv_id: str,
    text: str,
) -> bytes:
    """Pack one event (generator/fixture side; not a hot path). The frame
    layout follows the record's own schema_version: epoch-1 frames have no
    tool byte (the column did not exist yet)."""
    text_b = text.encode("utf-8")
    head = struct.pack(
        "<IQQBBBB",
        file_seq,
        log_pos,
        ts_micros,
        {"I": 0, "U": 1, "D": 2}[op],
        schema_version,
        scope,
        {"user": 0, "assistant": 1, "tool": 2}[role],
    )
    if schema_version >= 2:
        if tool is None:
            tool_code = 0xFF  # reserved NULL sentinel (see module docstring)
        else:
            tool_code = int(tool.rsplit("_", 1)[-1])
            if not 0 <= tool_code <= 0xFE:
                raise ValueError(
                    f"tool code {tool_code} out of range 0..254 "
                    "(0xff is the reserved NULL sentinel)"
                )
        head += struct.pack("<B", tool_code)
    return (
        head
        + struct.pack("<I", turn_idx)
        + conv_id.encode("utf-8").ljust(24, b"\x00")
        + struct.pack("<H", len(text_b))
        + text_b
    )


# ---------------------------------------------------------------- decode --
# Dead-letter reason codes — the analog of ErrorPacket's errcode
# (/root/reference/packet.cc:16-30), recorded per rejected frame so the
# dead-letter table is explainable downstream.
REASON_OK = 0
REASON_SHORT_FRAME = 1
REASON_BAD_VERSION = 2
REASON_BAD_ENUM = 3
REASON_LEN_MISMATCH = 4
REASON_BAD_UTF8 = 5
REASON_NAMES = np.array(
    ["ok", "short_frame", "bad_version", "bad_enum", "len_mismatch", "bad_utf8"]
)
_INT32_MAX = int(np.iinfo(np.int32).max)


def _binary_buffers(arr) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Zero-copy (starts, ends, data) views of an Arrow Binary/LargeBinary
    array — the whole batch's bytes as ONE contiguous uint8 buffer plus
    int64 frame boundaries. No per-row Python objects are ever created."""
    import pyarrow as pa

    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    off_dtype = (
        np.int64
        if (pa.types.is_large_binary(arr.type) or pa.types.is_large_string(arr.type))
        else np.int32
    )
    bufs = arr.buffers()
    offsets = np.frombuffer(bufs[1], dtype=off_dtype)[
        arr.offset : arr.offset + len(arr) + 1
    ].astype(np.int64, copy=False)
    data = (
        np.frombuffer(bufs[2], dtype=np.uint8)
        if bufs[2] is not None
        else np.zeros(0, np.uint8)
    )
    starts, ends = offsets[:-1], offsets[1:]
    if arr.null_count:
        # null payloads become zero-length frames -> dead-letter short_frame
        valid = np.array(arr.is_valid(), dtype=bool)
        ends = np.where(valid, ends, starts)
    return starts, ends, data


def _byte_at(starts: np.ndarray, ends: np.ndarray, data: np.ndarray, off: int) -> np.ndarray:
    """Each frame's byte at ``off`` (0 where the frame is too short)."""
    out = np.zeros(len(starts), dtype=np.uint8)
    ok = np.flatnonzero(ends - starts > off)
    out[ok] = data[starts[ok] + off]
    return out


def _gather_headers(data: np.ndarray, starts: np.ndarray, dt: np.dtype) -> np.ndarray:
    """Fixed-width header gather: one fancy-indexing pass builds an (n, hl)
    uint8 matrix viewed as the structured header dtype — the vectorized
    replacement for per-row slice+join."""
    hl = dt.itemsize
    m = data[starts[:, None] + np.arange(hl, dtype=np.int64)]
    return np.ascontiguousarray(m).view(dt).reshape(len(starts))


def _headers_from_arrow(frames, dt: np.dtype) -> np.ndarray:
    """Header gather via the C++ ``binary_slice`` kernel: one memcpy of the
    first ``hl`` bytes per frame, viewed zero-copy as the structured header
    dtype. The numpy fancy gather above moves ~9 B of index+data traffic
    per header byte (it materializes an (n, hl) int64 index matrix first);
    this path moves exactly the header bytes (measured 287 ms -> ~40 ms
    per 1M frames). The kernel clamps the slice to each frame's length, so
    a frame shorter than the header makes the output ragged: that raises
    ``ValueError`` rather than reading the next frame's bytes."""
    import pyarrow.compute as pc

    hl = dt.itemsize
    starts, ends, data = _binary_buffers(pc.binary_slice(frames, start=0, stop=hl))
    if not (ends - starts == hl).all():
        raise ValueError(
            f"frame shorter than its {hl}-byte fixed field; validate "
            "frames before decoding (skip_invalid=True or split_deadletter)"
        )
    lo = int(starts[0]) if len(starts) else 0
    return data[lo : lo + len(starts) * hl].view(dt)


def _as_string(binarr):
    """Zero-copy binary -> string layout reinterpret (no UTF-8 check)."""
    import pyarrow as pa

    return binarr.view(
        pa.large_string() if pa.types.is_large_binary(binarr.type) else pa.string()
    )


def _conv_field(frames, dt: np.dtype):
    """The conv_id field of same-epoch frames, padding included: its byte
    range comes from the epoch's header dtype."""
    import pyarrow.compute as pc

    start = dt.fields["conv_id"][1]
    return pc.binary_slice(frames, start=start, stop=start + dt["conv_id"].itemsize)


def _conv_key(field):
    """The conv_id key of a ``_conv_field`` slice: TRAILING NUL padding is
    stripped, embedded NULs are data ('ab\\0cd' and 'ab\\0ce' are distinct
    keys). :func:`raw_conv_key` applies the same rule JVM-side to derive
    the touched buckets, so it must stay in step with this one: the
    bucket of the frame's key must be the bucket the merge writes."""
    import pyarrow.compute as pc

    return pc.ascii_rtrim(_as_string(field), characters="\x00")


def raw_conv_key(payload: str = "payload"):
    """A frame's conv_id as a JVM column over the raw ``payload`` bytes,
    so ``bucket_expr(raw_conv_key(), n)`` is the frame's COW bucket with no
    Python pass. The version byte picks the epoch's 24-byte conv field
    (offsets from ``_HEADER_DTYPES``), and the :func:`_conv_key` rule
    applies: trailing NUL padding is stripped, embedded NULs are kept. A
    frame of an unknown epoch gives NULL."""
    p = F.col(payload)
    version = F.substring(p, _VERSION_OFFSET + 1, 1)
    field = F.coalesce(*[
        F.when(
            version == F.lit(bytes([v])),
            F.substring(p, dt.fields["conv_id"][1] + 1, dt["conv_id"].itemsize),
        )
        for v, dt in _HEADER_DTYPES.items()
    ])
    return F.rtrim(field.cast("string"), F.lit("\x00"))


def _text_field(frames, dt: np.dtype):
    """The text bytes after an epoch's header. ``stop`` must be explicit
    (pyarrow 16 rejects an open end); the kernel clamps it to each value's
    length and keeps the input's offset width, so it cannot overflow."""
    import pyarrow.compute as pc

    return pc.binary_slice(frames, start=dt.itemsize, stop=_INT32_MAX)


def _utf8_invalid_mask(binarr) -> np.ndarray:
    """Per-row UTF-8 validity of an Arrow Binary array, without a per-row
    Python loop: ONE C++ cast (binary -> utf8, safe mode validates) proves
    the common all-valid batch clean; when the batch really does contain
    invalid bytes (dead-letter rarity), bad rows are isolated by bisection —
    O(bad * log n) slice casts, never O(n) Python iterations."""
    import pyarrow as pa

    n = len(binarr)
    out = np.zeros(n, dtype=bool)
    target = (
        pa.large_string()
        if pa.types.is_large_binary(binarr.type)
        else pa.string()
    )

    def _mark(lo: int, hi: int) -> None:  # [lo, hi)
        try:
            binarr.slice(lo, hi - lo).cast(target)
            return
        except pa.ArrowInvalid:
            if hi - lo == 1:
                out[lo] = True
                return
            mid = (lo + hi) // 2
            _mark(lo, mid)
            _mark(mid, hi)

    if n:
        _mark(0, n)
    return out


def _bad_utf8(conv_field, text_field) -> np.ndarray:
    """Rows whose conv_id or text is not UTF-8. The conv_id field's
    trailing NUL padding is valid UTF-8, so checking the padded field gives
    the same verdict as checking the key (NUL can neither complete a
    truncated sequence nor break a valid one)."""
    return _utf8_invalid_mask(conv_field) | _utf8_invalid_mask(text_field)


def _take(arr, idx: np.ndarray):
    """``arr``'s rows at ``idx`` (sorted, unique); no copy when that is
    every row."""
    import pyarrow as pa

    return arr if idx.size == len(arr) else arr.take(pa.array(idx))


def validate_reasons(
    arr,
    starts: np.ndarray,
    ends: np.ndarray,
    data: np.ndarray,
    structural_only: bool = False,
) -> np.ndarray:
    """Vectorized frame validation returning a per-frame reason code
    (REASON_OK = valid). The engine's analog of the reference's error-packet
    demux (/root/reference/packet.cc:360-373: first byte 0xff -> ErrorPacket
    branch), epoch-aware: the frame's own schema_version byte selects its
    layout. Beyond structure, conv_id/text must decode as UTF-8 — a frame
    with intact framing but garbage text is dead-lettered here rather than
    exploding inside the typed decode. ``structural_only=True`` skips the
    UTF-8 check — for passes that validate UTF-8 on their own slices (the
    fused decode) or never materialize text.

    ``arr`` is the frames' Arrow Binary array and ``(starts, ends, data)``
    its ``_binary_buffers`` (row i ↔ starts[i]). Headers come from
    ``_headers_from_arrow``; the UTF-8 check is C++ ``binary_slice`` plus
    one validating cast per epoch group (see ``_utf8_invalid_mask``)."""
    lens = ends - starts
    versions = _byte_at(starts, ends, data, _VERSION_OFFSET)
    reasons = np.where(
        lens <= _VERSION_OFFSET,
        REASON_SHORT_FRAME,
        np.where(np.isin(versions, list(_HEADER_DTYPES)), REASON_OK, REASON_BAD_VERSION),
    ).astype(np.uint8)
    for v, dt in _HEADER_DTYPES.items():
        hl = dt.itemsize
        grp = np.flatnonzero((reasons == REASON_OK) & (versions == v))
        short = lens[grp] < hl
        reasons[grp[short]] = REASON_SHORT_FRAME
        grp = grp[~short]
        if grp.size == 0:
            continue
        frames = _take(arr, grp)
        h = _headers_from_arrow(frames, dt)
        bad_enum = (h["op"] > 2) | (h["role"] > 2) | (h["scope"] > 1)
        mismatch = ~bad_enum & (h["text_len"].astype(np.int64) != (lens[grp] - hl))
        reasons[grp[bad_enum]] = REASON_BAD_ENUM
        reasons[grp[mismatch]] = REASON_LEN_MISMATCH
        keep_rel = np.flatnonzero(~bad_enum & ~mismatch)
        if keep_rel.size == 0 or structural_only:
            continue
        frames = _take(frames, keep_rel)
        bad = _bad_utf8(_conv_field(frames, dt), _text_field(frames, dt))
        reasons[grp[keep_rel][bad]] = REASON_BAD_UTF8
    return reasons


_TOOL_LUT = [f"tool_{i}" for i in range(255)] + [None]  # 0xff -> NULL sentinel


def _decode_group_arrow(
    frames,
    dt: np.dtype,
    want: frozenset | None = None,
    utf8_check: bool = False,
):
    """Decode one same-epoch group of frames (an Arrow Binary array) into
    Arrow arrays: one header gather for the fixed-width numerics, C++
    ``binary_slice`` kernels for the byte-range columns; every enum is a
    dictionary `take` (the ENUM decode trick — codes index a table,
    event.cc:607-636).

    ``want`` prunes the output to a column subset: unrequested columns are
    never materialized (the text slice — the dominant cost — is skipped
    entirely when ``text`` is not wanted), and the Arrow IPC batch sent
    back to the JVM carries only the requested columns.

    The header length is constant within an epoch, so conv_id and text are
    fixed-offset slices the C++ kernel emits with one memcpy per column
    (the round-5 numpy gather built an int64 index per PAYLOAD BYTE;
    measured ~2x on the decode-only pass).

    ``utf8_check=True`` fuses the UTF-8 validation into the decode: the
    conv_id/text slices the decode materializes anyway are validated with
    ``_utf8_invalid_mask`` and bad rows are filtered out of the group —
    callers then skip the standalone UTF-8 validation pass and its
    duplicate take+slice of every payload byte (structural validation
    still runs upstream)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    def _want(name: str) -> bool:
        return want is None or name in want

    conv_bin = _conv_field(frames, dt) if utf8_check or _want("conv_id") else None
    text_bin = _text_field(frames, dt) if utf8_check or _want("text") else None
    if utf8_check:
        bad = _bad_utf8(conv_bin, text_bin)
        if bad.any():
            kp = pa.array(~bad)
            frames, conv_bin, text_bin = (
                frames.filter(kp), conv_bin.filter(kp), text_bin.filter(kp)
            )
    h = _headers_from_arrow(frames, dt)
    n = len(frames)

    def _take_lut(lut: list, codes: np.ndarray):
        return pc.take(pa.array(lut, type=pa.string()), pa.array(codes.astype(np.int64)))

    cols: dict = {}
    if _want("conv_id"):
        cols["conv_id"] = _conv_key(conv_bin)
    if _want("text"):
        # UTF-8 validity established either by the fused check above or by
        # the caller's validation pass
        cols["text"] = _as_string(text_bin)
    if _want("server_ts") or _want("ts"):
        ts = pa.array(h["ts_micros"].astype("int64")).cast(pa.timestamp("us"))
        if _want("server_ts"):
            cols["server_ts"] = ts
        if _want("ts"):
            cols["ts"] = ts
    if _want("file_seq"):
        cols["file_seq"] = pa.array(h["file_seq"].astype("int32"))
    if _want("log_pos"):
        cols["log_pos"] = pa.array(h["log_pos"].astype("int64"))
    if _want("op"):
        cols["op"] = _take_lut(list(_OPS), h["op"])
    if _want("db_name"):
        cols["db_name"] = _take_lut(list(_DBS), h["scope"])
    if _want("table_name"):
        cols["table_name"] = _take_lut(list(_TABLES), h["scope"])
    if _want("schema_version"):
        cols["schema_version"] = pa.array(h["schema_version"].astype("int32"))
    if _want("turn_idx"):
        cols["turn_idx"] = pa.array(h["turn_idx"].astype("int32"))
    if _want("role"):
        cols["role"] = _take_lut(list(_ROLES), h["role"])
    if _want("tool"):
        cols["tool"] = (
            _take_lut(_TOOL_LUT, h["tool"]) if "tool" in dt.names
            else pa.nulls(n, pa.string())  # pre-evolution epoch
        )
    # mapInArrow matches record batches to the declared schema positionally:
    # emit in DECODED_SCHEMA field order
    return {
        f.name: cols[f.name] for f in DECODED_SCHEMA.fields if f.name in cols
    }


def _decode_frames_arrow(
    arr, starts, ends, data, keep: np.ndarray, want: frozenset | None = None,
    utf8_check: bool = False,
):
    """The ``keep`` frames of ``arr`` -> list of per-epoch column dicts (the
    batch splits into per-epoch groups, each decoded in one pass — the
    in-band schema lookup the reference does per event via its table-map
    cache, packet.cc:194-200, amortized to per-group here).
    ``(starts, ends, data)`` are ``arr``'s ``_binary_buffers``. A kept
    frame with no known schema_version raises ``ValueError``, as does one
    shorter than its header (see ``_headers_from_arrow``).

    ``utf8_check``: validate conv_id/text UTF-8 on the decode's own slices
    and drop bad frames here (fused mode — callers then run
    structural-only validation upstream)."""
    sel = np.flatnonzero(keep)
    versions = _byte_at(starts, ends, data, _VERSION_OFFSET)[sel]
    if not np.isin(versions, list(_HEADER_DTYPES)).all():
        raise ValueError(
            "frame without a known schema_version; validate frames before "
            "decoding (skip_invalid=True or split_deadletter)"
        )
    return [
        _decode_group_arrow(_take(arr, sel[versions == v]), dt, want, utf8_check)
        for v, dt in _HEADER_DTYPES.items()
        if (versions == v).any()
    ]


def validate_payload_batch(payloads: pd.Series) -> np.ndarray:
    """pandas-facing wrapper: bool mask of structurally+UTF-8-valid frames."""
    import pyarrow as pa

    parr = pa.array(payloads, type=pa.binary())
    return validate_reasons(parr, *_binary_buffers(parr)) == REASON_OK


def decode_payload_batch(payloads: pd.Series) -> pd.DataFrame:
    """pandas-facing wrapper over the Arrow-buffer decode (tests/fixtures).
    Precondition: payloads already validated (see validate_payload_batch)."""
    import pyarrow as pa

    names = [f.name for f in DECODED_SCHEMA.fields]
    if len(payloads) == 0:
        return pd.DataFrame({c: pd.Series([], dtype=object) for c in names})
    parr = pa.array(payloads, type=pa.binary())
    starts, ends, data = _binary_buffers(parr)
    parts = [
        pa.table(cols).to_pandas()
        for cols in _decode_frames_arrow(
            parr, starts, ends, data, np.ones(len(starts), dtype=bool)
        )
    ]
    return parts[0] if len(parts) == 1 else pd.concat(parts, ignore_index=True)


_SCOPE_OFFSET = 22  # scope byte position (common prefix)


def _scope_mask(
    starts: np.ndarray, ends: np.ndarray, data: np.ndarray, scope_codes: frozenset
) -> np.ndarray:
    """Boolean mask of frames whose scope byte is in ``scope_codes``
    (frames too short to carry one are out): the decode kernel's scope
    filter. The touched-bucket superset needs no scope mask — it covers
    every frame (see ``pipeline.apply_raw_batch``)."""
    return ((ends - starts) > _SCOPE_OFFSET) & np.isin(
        _byte_at(starts, ends, data, _SCOPE_OFFSET), list(scope_codes)
    )


def scope_codes_for(db_regex: str, table_regex: str) -> frozenset:
    """Which wire scope codes satisfy the configured (db, table) regexes —
    the raw-path analog of ``scope_registry`` (P2 pushdown): the filter
    becomes a byte comparison INSIDE the decode kernel, before any value
    is materialized (reference skips row decode for unmatched tables,
    /root/reference/packet.cc:201-205)."""
    import re

    db_re, tbl_re = re.compile(db_regex), re.compile(table_regex)
    return frozenset(
        c
        for c in range(len(_DBS))
        if db_re.search(_DBS[c]) and tbl_re.search(_TABLES[c])
    )


def decode_raw_events(
    raw_df: DataFrame,
    skip_invalid: bool = True,
    columns: list[str] | None = None,
    scope_codes: frozenset | None = None,
) -> DataFrame:
    """payload:binary -> typed change records via mapInArrow: the payload
    column's own Arrow buffers are indexed directly (zero-copy), so the hot
    path never materializes a Python bytes object per row. Structurally
    invalid payloads are dropped here (route them to a dead-letter sink
    first via ``split_deadletter`` if they must be kept); with
    ``skip_invalid=False`` the frames must already be valid, and a frame
    shorter than its header raises instead of decoding.

    ``columns`` prunes the decode to a subset of DECODED_SCHEMA fields —
    unrequested columns are never gathered and never cross the Arrow IPC
    boundary. ``scope_codes`` (see ``scope_codes_for``) drops out-of-scope
    frames on their scope byte before decoding a single value."""
    import pyarrow as pa

    want = frozenset(columns) if columns is not None else None
    out_schema = (
        DECODED_SCHEMA
        if want is None
        else T.StructType([f for f in DECODED_SCHEMA.fields if f.name in want])
    )

    def _decode(batches) -> Iterator["pa.RecordBatch"]:
        for rb in batches:
            arr = rb.column(rb.schema.get_field_index("payload"))
            starts, ends, data = _binary_buffers(arr)
            keep = np.ones(len(starts), dtype=bool)
            if skip_invalid:
                # STRUCTURAL validation only: the UTF-8 check is fused
                # into the decode itself (utf8_check below), which
                # validates the conv_id/text slices it materializes
                # anyway — the standalone UTF-8 pass would take+slice
                # every payload byte a second time
                keep = (
                    validate_reasons(arr, starts, ends, data, structural_only=True)
                    == REASON_OK
                )
            if scope_codes is not None:
                keep &= _scope_mask(starts, ends, data, scope_codes)
            for cols in _decode_frames_arrow(
                arr, starts, ends, data, keep, want, utf8_check=skip_invalid
            ):
                yield pa.RecordBatch.from_pydict(cols)

    # payload-only projection: the kernel re-derives file_seq/log_pos from
    # the frame header bytes, so shipping the framed outer columns across
    # the Arrow boundary (16 B/row of pure serialization) buys nothing
    return raw_df.select("payload").mapInArrow(_decode, schema=out_schema)


def split_deadletter(raw_df: DataFrame) -> tuple[DataFrame, DataFrame]:
    """S5 demux: (valid, dead_letter). Both sides keep the framing columns
    so dead-lettered events stay addressable by (file_seq, log_pos), and the
    dead side carries a ``_reason`` code naming the failed check — the
    reference just logs errno and aborts (/root/reference/packet.cc:16-30);
    a pipeline at scale must keep flowing and account for *why*."""
    import pyarrow as pa

    flag_schema = T.StructType(
        list(raw_df.schema.fields)
        + [T.StructField("_valid", T.BooleanType()), T.StructField("_reason", T.StringType())]
    )

    def _flag(batches) -> Iterator["pa.RecordBatch"]:
        for rb in batches:
            arr = rb.column(rb.schema.get_field_index("payload"))
            reasons = validate_reasons(arr, *_binary_buffers(arr))
            rb = rb.append_column("_valid", pa.array(reasons == REASON_OK))
            yield rb.append_column("_reason", pa.array(REASON_NAMES[reasons]))

    flagged = raw_df.mapInArrow(_flag, schema=flag_schema)
    return (
        flagged.where(F.col("_valid")).drop("_valid", "_reason"),
        flagged.where(~F.col("_valid")).drop("_valid"),
    )


# ------------------------------------------------- parity decode kernels --
def read_lenenc_int(buf: np.ndarray, pos: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Vectorized MySQL length-encoded integer reader — parity with
    /root/reference/util.cc:144-172 (<0xfb inline, 0xfc:+2B, 0xfd:+3B,
    0xfe:+8B), little-endian like the korr macros (myconvert.h:19-117).

    ``buf`` is a 1-D uint8 array; ``pos`` an int64 array of offsets.
    Returns (values, next_pos).
    """
    first = buf[pos]
    val = first.astype(np.uint64)
    nxt = pos + 1

    two = first == 0xFC
    if two.any():
        p = pos[two]
        val[two] = buf[p + 1].astype(np.uint64) | (buf[p + 2].astype(np.uint64) << 8)
        nxt[two] = p + 3
    three = first == 0xFD
    if three.any():
        p = pos[three]
        val[three] = (
            buf[p + 1].astype(np.uint64)
            | (buf[p + 2].astype(np.uint64) << 8)
            | (buf[p + 3].astype(np.uint64) << 16)
        )
        nxt[three] = p + 4
    eight = first == 0xFE
    if eight.any():
        p = pos[eight]
        acc = np.zeros(p.shape, dtype=np.uint64)
        for i in range(8):
            acc |= buf[p + 1 + i].astype(np.uint64) << np.uint64(8 * i)
        val[eight] = acc
        nxt[eight] = p + 9
    return val, nxt


def write_lenenc_int(v: int) -> bytes:
    if v < 0xFB:
        return bytes([v])
    if v < 1 << 16:
        return b"\xfc" + v.to_bytes(2, "little")
    if v < 1 << 24:
        return b"\xfd" + v.to_bytes(3, "little")
    return b"\xfe" + v.to_bytes(8, "little")


def uint_korr(buf: np.ndarray, pos: np.ndarray, width: int) -> np.ndarray:
    """Vectorized little-endian fixed-width reader for widths 1..8 —
    parity with uint2korr/uint3korr/.../uint8korr
    (/root/reference/myconvert.h:19-117), including the odd 3/5/6-byte
    widths MySQL uses for log positions and table ids
    (/root/reference/event.cc:246-265 reads a 6-byte table_id)."""
    acc = np.zeros(pos.shape, dtype=np.uint64)
    for i in range(width):
        acc |= buf[pos + i].astype(np.uint64) << np.uint64(8 * i)
    return acc


# ---------------------------------------------------------- DF-level enc --
def encode_decoded_events(
    flat_df: DataFrame, passthrough: tuple[str, ...] = ()
) -> DataFrame:
    """Inverse of decode_raw_events: flat change records -> RAW_SCHEMA rows
    (plus any ``passthrough`` columns, e.g. delivery_seq for arrival-order
    file layout).

    Fixture-generation path only (the golden-decode tests run
    decode(encode(x)) == x); correctness matters, speed does not.
    """
    from binlogsub_spark.plans.envelope import RAW_SCHEMA

    out_schema = T.StructType(
        list(RAW_SCHEMA.fields)
        + [flat_df.schema[c] for c in passthrough]
    )

    def _encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = []
            for r in pdf.itertuples(index=False):
                payloads.append(
                    encode_record(
                        int(r.file_seq),
                        int(r.log_pos),
                        int(pd.Timestamp(r.server_ts).value // 1000),
                        r.op,
                        int(r.schema_version),
                        0 if r.db_name == "test" else 1,
                        r.role,
                        r.tool if isinstance(r.tool, str) else None,
                        int(r.turn_idx),
                        r.conv_id,
                        r.text,
                    )
                )
            out = {
                "file_seq": pdf["file_seq"].astype("int32"),
                "log_pos": pdf["log_pos"].astype("int64"),
                "payload": payloads,
            }
            for c in passthrough:
                out[c] = pdf[c]
            yield pd.DataFrame(out)

    return flat_df.mapInPandas(_encode, schema=out_schema)

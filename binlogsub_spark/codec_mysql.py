"""MySQL binary-format decode kernels — parity with the reference's
expression library (SURVEY.md §2.6 F3/F4), from the PUBLIC MySQL binlog
format documentation:

* packed decimal (NEWDECIMAL, type 246): 9 decimal digits per 4-byte
  big-endian group, partial leading/trailing groups sized by a
  digits->bytes lookup, sign carried by flipping the first byte's MSB and
  complementing all bytes for negatives. Reference decode:
  /root/reference/mydecimal.cc:33-131, size calc mydecimal.cc:10-18.
* temporal v2 (DATETIME2 18 / TIME2 19 / TIMESTAMP2 17): big-endian packed
  fields with 0-6 fractional digits in 0-3 trailing bytes. Reference:
  /root/reference/my_time.cc:12-155, dispatch event.cc:748-800.

These kernels are the scalar truth for the vectorized decode in
mysql_binlog.py (which shares the decimal size tables); the engine's own
wire format (codec.py) stays the hot path.
"""

from __future__ import annotations

from decimal import Decimal

DIG_PER_DEC = 9
DIG2BYTES = [0, 1, 1, 2, 2, 3, 3, 4, 4, 4]


def decimal_bin_size(precision: int, scale: int) -> int:
    """Bytes used by a packed decimal(precision, scale)
    (mydecimal.cc:10-18)."""
    intg = precision - scale
    intg0, frac0 = intg // DIG_PER_DEC, scale // DIG_PER_DEC
    intg0x, frac0x = intg - intg0 * DIG_PER_DEC, scale - frac0 * DIG_PER_DEC
    return intg0 * 4 + DIG2BYTES[intg0x] + frac0 * 4 + DIG2BYTES[frac0x]


def decimal_to_bin(value: Decimal, precision: int, scale: int) -> bytes:
    """Encoder (test oracle side): pack a Decimal the way MySQL does."""
    import decimal as _d

    sign = value < 0
    value = value.copy_abs()  # context-free: unary minus rounds to 28 digits
    q = value.quantize(Decimal(1).scaleb(-scale), context=_d.Context(prec=80))
    s = f"{q:.{scale}f}"
    int_part, _, frac_part = s.partition(".")
    intg = precision - scale
    # frac digits are exactly the last `scale` formatted digits; the integer
    # digits are whatever precedes the point, right-aligned into `intg` slots
    # (precision == scale means zero integer digits — the formatted leading
    # "0" must NOT leak into the fraction).
    if len(int_part.lstrip("0")) > intg:
        raise ValueError(f"{value} does not fit DECIMAL({precision},{scale})")
    int_digits = int_part.rjust(intg, "0")[-intg:] if intg else ""
    frac_digits = frac_part

    out = bytearray()

    def pack_groups(ds: str, leading: bool):
        if leading:
            extra = len(ds) % DIG_PER_DEC
            if extra:
                out.extend(int(ds[:extra] or "0").to_bytes(DIG2BYTES[extra], "big"))
                ds = ds[extra:]
        while ds:
            head, ds = ds[:DIG_PER_DEC], ds[DIG_PER_DEC:]
            if len(head) == DIG_PER_DEC:
                out.extend(int(head).to_bytes(4, "big"))
            else:
                out.extend(int(head).to_bytes(DIG2BYTES[len(head)], "big"))

    pack_groups(int_digits, leading=True)
    pack_groups(frac_digits, leading=False)
    if sign:
        out = bytearray(b ^ 0xFF for b in out)
    out[0] ^= 0x80
    return bytes(out)


def bin_to_decimal(buf: bytes, precision: int, scale: int) -> Decimal:
    """Decode MySQL packed decimal (parity with bin2decimal,
    mydecimal.cc:33-131)."""
    size = decimal_bin_size(precision, scale)
    b = bytearray(buf[:size])
    positive = bool(b[0] & 0x80)
    b[0] ^= 0x80
    if not positive:
        b = bytearray(x ^ 0xFF for x in b)

    intg = precision - scale
    intg0, frac0 = intg // DIG_PER_DEC, scale // DIG_PER_DEC
    intg0x, frac0x = intg - intg0 * DIG_PER_DEC, scale - frac0 * DIG_PER_DEC

    pos = 0
    digits = ""
    if intg0x:
        w = DIG2BYTES[intg0x]
        digits += str(int.from_bytes(b[pos : pos + w], "big")).rjust(intg0x, "0")
        pos += w
    for _ in range(intg0):
        digits += str(int.from_bytes(b[pos : pos + 4], "big")).rjust(9, "0")
        pos += 4
    frac = ""
    for _ in range(frac0):
        frac += str(int.from_bytes(b[pos : pos + 4], "big")).rjust(9, "0")
        pos += 4
    if frac0x:
        w = DIG2BYTES[frac0x]
        frac += str(int.from_bytes(b[pos : pos + w], "big")).rjust(frac0x, "0")
        pos += w

    s = (digits or "0") + ("." + frac if frac else "")
    d = Decimal(s)
    return -d if not positive else d


# ------------------------------------------------------------- temporal v2
def _read_frac(buf: bytes, pos: int, fsp: int) -> tuple[int, int]:
    """Fractional seconds: ceil(fsp/2) big-endian bytes -> microseconds
    (my_time.cc frac handling)."""
    nbytes = (fsp + 1) // 2
    if nbytes == 0:
        return 0, pos
    v = int.from_bytes(buf[pos : pos + nbytes], "big")
    return v * 10 ** (6 - 2 * nbytes), pos + nbytes


def decode_datetime2(buf: bytes, fsp: int = 0) -> tuple:
    """DATETIME2 (type 18): 5-byte big-endian packed
    {1 sign, 17 year*13+month, 5 day, 5 hour, 6 minute, 6 second} + frac.
    Parity with my_time.cc:93-120."""
    packed = int.from_bytes(buf[:5], "big")
    packed &= (1 << 39) - 1  # drop sign bit (always 1 for valid datetimes)
    ym = (packed >> 22) & ((1 << 17) - 1)
    year, month = divmod(ym, 13)
    day = (packed >> 17) & 0x1F
    hour = (packed >> 12) & 0x1F
    minute = (packed >> 6) & 0x3F
    second = packed & 0x3F
    micros, _ = _read_frac(buf, 5, fsp)
    return (year, month, day, hour, minute, second, micros)


def encode_datetime2(y, mo, d, h, mi, s, micros=0, fsp=0) -> bytes:
    packed = (1 << 39) | ((y * 13 + mo) << 22) | (d << 17) | (h << 12) | (mi << 6) | s
    out = packed.to_bytes(5, "big")
    nbytes = (fsp + 1) // 2
    if nbytes:
        out += (micros // 10 ** (6 - 2 * nbytes)).to_bytes(nbytes, "big")
    return out


def decode_timestamp2(buf: bytes, fsp: int = 0) -> tuple[int, int]:
    """TIMESTAMP2 (type 17): 4-byte big-endian epoch seconds + frac
    (my_time.cc:129-155). Returns (epoch_seconds, micros)."""
    secs = int.from_bytes(buf[:4], "big")
    micros, _ = _read_frac(buf, 4, fsp)
    return secs, micros


def decode_time2(buf: bytes, fsp: int = 0) -> tuple[int, int, int, int, int]:
    """TIME2 (type 19): 3-byte big-endian, offset-binary around 0x800000
    {1 sign, 1 reserved, 10 hour, 6 minute, 6 second} + frac
    (my_time.cc:12-79). Returns (sign, hours, minutes, seconds, micros).

    The int+frac pair is ONE two's-complement-style quantity: a negative
    time with a nonzero fraction stores intpart-1 and (0x100**nbytes -
    frac_units), so disk ``7FFFFF FF`` (fsp 2) is -00:00:00.01 — not
    -00:00:01.0xFF (MySQL my_time.h TIME_from_longlong_time_packed)."""
    nbytes = (fsp + 1) // 2
    intpart = int.from_bytes(buf[:3], "big") - 0x800000
    frac_units = int.from_bytes(buf[3 : 3 + nbytes], "big") if nbytes else 0
    sign = -1 if intpart < 0 else 1
    if intpart < 0 and frac_units:
        intpart += 1
        frac_units = 0x100**nbytes - frac_units
    v = -intpart if intpart < 0 else intpart
    hours = (v >> 12) & 0x3FF
    minutes = (v >> 6) & 0x3F
    seconds = v & 0x3F
    micros = frac_units * 10 ** (6 - 2 * nbytes) if nbytes else 0
    return sign, hours, minutes, seconds, micros


def encode_time2(sign, h, mi, s, micros=0, fsp=0) -> bytes:
    nbytes = (fsp + 1) // 2
    frac_units = micros // 10 ** (6 - 2 * nbytes) if nbytes else 0
    v = (h << 12) | (mi << 6) | s
    if sign < 0:
        if frac_units:
            intpart = -(v + 1)
            frac = 0x100**nbytes - frac_units
        else:
            intpart, frac = -v, 0
    else:
        intpart, frac = v, frac_units
    out = (0x800000 + intpart).to_bytes(3, "big")
    if nbytes:
        out += frac.to_bytes(nbytes, "big")
    return out


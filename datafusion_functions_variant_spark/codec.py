"""Pure-Python Open Variant codec.

Implements the Apache Spark "Open Variant" binary format — the same spec
the reference implements in Rust (see ``/root/reference/open-variant/src/
metadata.rs:31-81`` for metadata, ``values/write.rs`` / ``values/read.rs``
for values, cited per-function below). This is the "explicit codec" track
from SURVEY.md §7: it makes the binary format testable without a JVM and
powers the pandas_udf kernels in ``functions/explicit.py`` that reproduce
the reference's batch-shared-dictionary design.

A variant value is two byte buffers (open-variant/README.md:11-24):

* **metadata** — version header + a sorted, deduplicated dictionary of all
  object keys; meant to be shared across many rows.
* **value** — a tagged binary tree; object keys are integer indexes into
  the metadata dictionary.

Where the reference has latent bugs (SURVEY.md §1.3) we implement the
*spec'd* behavior instead:

* ``write_decimal`` sizes by ``abs(value)`` with inclusive bounds
  (reference: ``write.rs:45-48`` uses ``<`` on the signed value).
* ``ArrayBuilder`` sizes element offsets from the data byte length
  (reference: ``write.rs:79`` sizes from element count).
* ``ObjectBuilder`` writes the header's field-id width from the max field
  id actually used (reference: ``write.rs:168-170`` vs ``write.rs:241-247``
  disagree).
"""

from __future__ import annotations

import json
import struct
from bisect import bisect_left
from typing import Any, Iterable, Iterator

VERSION = 1

# Prebuilt packers: struct.Struct.pack skips the per-call format-string
# cache lookup struct.pack pays — these run once per encoded scalar
# (round 16, guide §4.2 per-batch Python work).
_PACK_B = struct.Struct("<b").pack
_PACK_H = struct.Struct("<h").pack
_PACK_I = struct.Struct("<i").pack
_PACK_Q = struct.Struct("<q").pack
_PACK_UI = struct.Struct("<I").pack
_PACK_D = struct.Struct("<d").pack
_PACK_F = struct.Struct("<f").pack

# Basic types — low 2 bits of every value header (values/mod.rs:13-18).
BASIC_PRIMITIVE = 0
BASIC_SHORT_STRING = 1
BASIC_OBJECT = 2
BASIC_ARRAY = 3

# Primitive type ids — header bits 2-7 (values/mod.rs:39-60).
PRIM_NULL = 0
PRIM_TRUE = 1
PRIM_FALSE = 2
PRIM_INT8 = 3
PRIM_INT16 = 4
PRIM_INT32 = 5
PRIM_INT64 = 6
PRIM_FLOAT64 = 7
PRIM_DECIMAL4 = 8
PRIM_DECIMAL8 = 9
PRIM_DECIMAL16 = 10
PRIM_DATE32 = 11
PRIM_TIMESTAMP_MICRO = 12
PRIM_TIMESTAMP_MICRO_NTZ = 13
PRIM_FLOAT32 = 14
PRIM_BINARY = 15
PRIM_STRING = 16
# Dictionary-referencing primitives (values/mod.rs:58-59). The
# reference DECLARES these ids (and accepts them in TryFrom,
# values/mod.rs:85-86) but never reads or writes them, so no layout is
# specified there. Layout chosen here: header byte + u32 LE index into
# the metadata dictionary; id 18 resolves to the dictionary string, id
# 17 to that string's UTF-8 bytes. Resolution requires the metadata,
# mirroring object field names.
PRIM_BINARY_DICT = 17
PRIM_STRING_DICT = 18

_PRIM_NAMES = {
    PRIM_NULL: "null",
    PRIM_TRUE: "boolean",
    PRIM_FALSE: "boolean",
    PRIM_INT8: "tinyint",
    PRIM_INT16: "smallint",
    PRIM_INT32: "int",
    PRIM_INT64: "bigint",
    PRIM_FLOAT64: "double",
    PRIM_DECIMAL4: "decimal",
    PRIM_DECIMAL8: "decimal",
    PRIM_DECIMAL16: "decimal",
    PRIM_DATE32: "date",
    PRIM_TIMESTAMP_MICRO: "timestamp",
    PRIM_TIMESTAMP_MICRO_NTZ: "timestamp_ntz",
    PRIM_FLOAT32: "float",
    PRIM_BINARY: "binary",
    PRIM_STRING: "string",
    PRIM_BINARY_DICT: "binary",
    PRIM_STRING_DICT: "string",
}


class VariantError(ValueError):
    pass


def _byte_width(max_value: int) -> int:
    """Minimum LE width (1/2/4/8) holding ``max_value``.

    Mirrors ``determine_byte_width`` (open-variant/src/utils.rs:2-12),
    including its signed thresholds.
    """
    if max_value <= 0x7F:
        return 1
    if max_value <= 0x7FFF:
        return 2
    if max_value <= 0x7FFFFFFF:
        return 4
    return 8


def _write_uint(buf: bytearray, value: int, width: int) -> None:
    buf += value.to_bytes(width, "little", signed=False)


def _read_uint(buf: bytes, pos: int, width: int) -> int:
    return int.from_bytes(buf[pos : pos + width], "little", signed=False)


# ---------------------------------------------------------------------------
# Metadata
# ---------------------------------------------------------------------------


def build_metadata(keys: Iterable[str]) -> bytes:
    """Dedup + sort keys, emit the metadata buffer.

    Layout (metadata.rs:31-81): ``<header> <dict_size> <n+1 offsets>
    <utf8 string bytes>``; header bits 0-3 version, bit 4 sorted_strings,
    bits 6-7 offset_size_minus_one.
    """
    sorted_keys = sorted(set(keys))
    encoded = [k.encode("utf-8") for k in sorted_keys]
    total = sum(len(e) for e in encoded)
    width = _byte_width(total)
    header = VERSION | (1 << 4) | ((width - 1) << 6)
    buf = bytearray([header])
    _write_uint(buf, len(encoded), width)
    off = 0
    _write_uint(buf, 0, width)
    for e in encoded:
        off += len(e)
        _write_uint(buf, off, width)
    for e in encoded:
        buf += e
    return bytes(buf)


class Metadata:
    """Zero-copy-ish metadata reader (metadata.rs:84-184).

    Tolerates trailing bytes after the string area, like the reference
    (test at metadata.rs:206-207).
    """

    __slots__ = (
        "buf", "version", "sorted_strings", "_width", "_len", "_strings",
        "_index",
    )

    def __init__(self, buf: bytes):
        if not buf:
            raise VariantError("empty metadata buffer")
        header = buf[0]
        self.buf = buf
        self.version = header & 0x0F
        self.sorted_strings = bool(header & 0x10)
        self._width = ((header >> 6) & 0x03) + 1
        w = self._width
        self._len = _read_uint(buf, 1, w)
        offsets_start = 1 + w
        strings_start = offsets_start + (self._len + 1) * w
        offs = [
            _read_uint(buf, offsets_start + i * w, w) for i in range(self._len + 1)
        ]
        self._strings = [
            buf[strings_start + offs[i] : strings_start + offs[i + 1]].decode("utf-8")
            for i in range(self._len)
        ]

    def __len__(self) -> int:
        return self._len

    def get_string(self, idx: int) -> str | None:
        if 0 <= idx < self._len:
            return self._strings[idx]
        return None

    def find_string(self, key: str) -> int | None:
        """String → dictionary id (metadata.rs:162-184's binary search,
        memoized into a dict on first use — one Metadata serves every
        row of a batch, so the per-row bisect was pure re-derivation;
        ``setdefault`` keeps the leftmost id for duplicate strings,
        exactly what bisect_left returned)."""
        if not self.sorted_strings:
            raise VariantError("metadata dictionary is not sorted")
        try:
            index = self._index
        except AttributeError:
            index = {}
            for i, s in enumerate(self._strings):
                index.setdefault(s, i)
            self._index = index
        return index.get(key)


# ---------------------------------------------------------------------------
# Scalar writers (values/write.rs)
# ---------------------------------------------------------------------------


def _prim_header(type_id: int) -> int:
    return BASIC_PRIMITIVE | (type_id << 2)


def write_null(buf: bytearray) -> None:
    buf.append(_prim_header(PRIM_NULL))


def write_bool(buf: bytearray, value: bool) -> None:
    buf.append(_prim_header(PRIM_TRUE if value else PRIM_FALSE))


def write_int(buf: bytearray, value: int) -> None:
    """Smallest signed int encoding that fits; reference only writes Int64
    (write.rs:29-33) — we use the spec's full Int8/16/32/64 ladder."""
    if -(1 << 7) <= value < (1 << 7):
        buf.append(_prim_header(PRIM_INT8))
        buf += _PACK_B(value)
    elif -(1 << 15) <= value < (1 << 15):
        buf.append(_prim_header(PRIM_INT16))
        buf += _PACK_H(value)
    elif -(1 << 31) <= value < (1 << 31):
        buf.append(_prim_header(PRIM_INT32))
        buf += _PACK_I(value)
    else:
        buf.append(_prim_header(PRIM_INT64))
        buf += _PACK_Q(value)


def write_i64(buf: bytearray, value: int) -> None:
    """Exact mirror of the reference's Int64 writer (write.rs:29-33)."""
    buf.append(_prim_header(PRIM_INT64))
    buf += _PACK_Q(value)


def write_f64(buf: bytearray, value: float) -> None:
    buf.append(_prim_header(PRIM_FLOAT64))
    buf += _PACK_D(value)


def write_f32(buf: bytearray, value: float) -> None:
    buf.append(_prim_header(PRIM_FLOAT32))
    buf += _PACK_F(value)


def write_decimal(buf: bytearray, unscaled: int, scale: int) -> None:
    """Decimal4/8/16 by magnitude + 1-byte scale (write.rs:41-58).

    Spec'd behavior: width from ``abs(unscaled)`` with inclusive bounds
    (the reference's ``<`` on the signed value is the §1.3 bug).
    """
    if not 0 <= scale <= 38:
        raise VariantError(f"decimal scale out of range: {scale}")
    mag = abs(unscaled)
    if mag <= 0x7FFFFFFF:
        buf.append(_prim_header(PRIM_DECIMAL4))
        buf.append(scale)
        buf += _PACK_I(unscaled)
    elif mag <= 0x7FFFFFFFFFFFFFFF:
        buf.append(_prim_header(PRIM_DECIMAL8))
        buf.append(scale)
        buf += _PACK_Q(unscaled)
    else:
        if mag >= 1 << 127:
            raise VariantError("decimal exceeds 128 bits")
        buf.append(_prim_header(PRIM_DECIMAL16))
        buf.append(scale)
        buf += unscaled.to_bytes(16, "little", signed=True)


def write_string(buf: bytearray, value: str) -> None:
    """String writer with the spec's two encodings: UTF-8 payloads
    under 64 bytes emit ShortString (basic type 1, length embedded in
    header bits 2-7 — 1-byte header), longer ones the primitive Long
    String (id 16, u32 LE length — 5-byte header). Matches Spark's
    native encoder; the reference declares ShortString but only ever
    writes the long form (values/mod.rs:16), so emitting the compact
    form is spec-completeness beyond it. ``get_string`` reads both."""
    raw = value.encode("utf-8")
    if len(raw) < 64:
        buf.append(BASIC_SHORT_STRING | (len(raw) << 2))
        buf += raw
    else:
        buf.append(_prim_header(PRIM_STRING))
        buf += _PACK_I(len(raw))
        buf += raw


def write_long_string(buf: bytearray, value: str) -> None:
    """Always the primitive Long String encoding (id 16), regardless
    of length — the reference's only string write shape; kept for
    byte-parity tests and readers that predate ShortString."""
    raw = value.encode("utf-8")
    buf.append(_prim_header(PRIM_STRING))
    buf += _PACK_I(len(raw))
    buf += raw


def write_binary(buf: bytearray, value: bytes) -> None:
    buf.append(_prim_header(PRIM_BINARY))
    buf += _PACK_I(len(value))
    buf += value


def write_string_from_dictionary(buf: bytearray, index: int) -> None:
    """StringFromDictionary (id 18): u32 LE index into the metadata
    dictionary. The string must already be in the metadata (use
    ``build_metadata`` / ``Metadata.find_string``)."""
    if not 0 <= index <= 0xFFFFFFFF:
        raise VariantError(f"dictionary index out of range: {index}")
    buf.append(_prim_header(PRIM_STRING_DICT))
    buf += _PACK_UI(index)


def write_binary_from_dictionary(buf: bytearray, index: int) -> None:
    """BinaryFromDictionary (id 17): u32 LE index; the referenced
    dictionary string's UTF-8 bytes are the binary payload."""
    if not 0 <= index <= 0xFFFFFFFF:
        raise VariantError(f"dictionary index out of range: {index}")
    buf.append(_prim_header(PRIM_BINARY_DICT))
    buf += _PACK_UI(index)


def write_date32(buf: bytearray, days: int) -> None:
    buf.append(_prim_header(PRIM_DATE32))
    buf += _PACK_I(days)


def write_timestamp_micros(buf: bytearray, micros: int, ntz: bool = False) -> None:
    buf.append(_prim_header(PRIM_TIMESTAMP_MICRO_NTZ if ntz else PRIM_TIMESTAMP_MICRO))
    buf += _PACK_Q(micros)


# ---------------------------------------------------------------------------
# Builders (values/write.rs:68-274)
# ---------------------------------------------------------------------------


class ArrayBuilder:
    """Streaming array writer (write.rs:68-124).

    Layout: header (bits 0-1 offset_size_minus_one, bit 2 is_large),
    element count (1B, or 4B when >127 elements), ``len+1`` offsets,
    concatenated element bytes. Offsets sized from the **data byte
    length** (spec; reference bug sizes from count, write.rs:79).
    """

    def __init__(self) -> None:
        self._offsets: list[int] = [0]
        self._data = bytearray()

    def append_value(self, value_bytes: bytes) -> None:
        self._data += value_bytes
        self._offsets.append(len(self._data))

    def buffer(self) -> bytearray:
        """A scratch buffer positioned for a direct child write."""
        return self._data

    def seal_child(self) -> None:
        self._offsets.append(len(self._data))

    def finish(self) -> bytes:
        n = len(self._offsets) - 1
        is_large = n > 127
        width = _byte_width(len(self._data))
        header = BASIC_ARRAY | ((width - 1) << 2) | ((1 if is_large else 0) << 4)
        out = bytearray([header])
        _write_uint(out, n, 4 if is_large else 1)
        for off in self._offsets:
            _write_uint(out, off, width)
        out += self._data
        return bytes(out)


class ObjectBuilder:
    """Streaming object writer (write.rs:127-274).

    Keys resolve to field ids through the metadata dictionary — an absent
    key is an error (write.rs:201-206). ``finish`` sorts entries by field
    id (write.rs:259-261) so readers can binary-search, and sizes the
    field-id width from the max id actually present (spec; §1.3 bug fix).
    """

    def __init__(self, metadata: Metadata):
        self._meta = metadata
        self._entries: list[tuple[int, int, int]] = []  # (field_id, start, end)
        self._data = bytearray()
        # sortedness tracked INCREMENTALLY (round 16): finish() ran an
        # all()-generator scan over the entries per row just to learn
        # what each append already knew — whether this fid kept the
        # sequence non-decreasing.
        self._sorted = True
        self._last_fid = -1

    def _note_fid(self, fid: int) -> None:
        if fid < self._last_fid:
            self._sorted = False
        self._last_fid = fid

    def append_value(self, key: str, value_bytes: bytes) -> None:
        fid = self._meta.find_string(key)
        if fid is None:
            raise VariantError(f"key not in metadata dictionary: {key!r}")
        start = len(self._data)
        self._data += value_bytes
        self._entries.append((fid, start, len(self._data)))
        self._note_fid(fid)

    def begin_child(self, key: str) -> bytearray:
        """Scratch buffer positioned for a DIRECT child write (the
        ``ArrayBuilder.buffer``/``seal_child`` idiom): write the child
        bytes straight into the returned buffer, then ``seal_child``.
        Skips the per-child intermediate bytearray + two copies the
        ``append_value`` path pays."""
        fid = self._meta.find_string(key)
        if fid is None:
            raise VariantError(f"key not in metadata dictionary: {key!r}")
        self._pending = (fid, len(self._data))
        return self._data

    def seal_child(self) -> None:
        fid, start = self._pending
        self._entries.append((fid, start, len(self._data)))
        self._note_fid(fid)

    def append_null(self, key: str) -> None:
        b = bytearray()
        write_null(b)
        self.append_value(key, bytes(b))

    def append_bool(self, key: str, v: bool) -> None:
        b = bytearray()
        write_bool(b, v)
        self.append_value(key, bytes(b))

    def append_i64(self, key: str, v: int) -> None:
        b = bytearray()
        write_i64(b, v)
        self.append_value(key, bytes(b))

    def append_f64(self, key: str, v: float) -> None:
        b = bytearray()
        write_f64(b, v)
        self.append_value(key, bytes(b))

    def append_decimal(self, key: str, unscaled: int, scale: int) -> None:
        b = bytearray()
        write_decimal(b, unscaled, scale)
        self.append_value(key, bytes(b))

    def append_string(self, key: str, v: str) -> None:
        b = bytearray()
        write_string(b, v)
        self.append_value(key, bytes(b))

    def finish(self) -> bytes:
        entries = self._entries
        n = len(entries)
        is_large = n > 127
        # Entry spans are appended contiguously into ``_data``, so when
        # the field ids already arrive non-decreasing (every dict built
        # against a sorted dictionary — the common case) the id sort is
        # the identity and the data area is already packed: skip the
        # per-entry repack copy (write.rs:259-261 sorts unconditionally).
        # Sortedness is tracked per append — no per-row scan here.
        if self._sorted:
            max_fid = entries[-1][0] if n else 0
            packed = self._data
            offsets = [e[1] for e in entries]
            offsets.append(len(packed))
        else:
            entries = sorted(entries, key=lambda e: e[0])
            max_fid = entries[-1][0]
            # Offsets index into the re-packed (sorted) data area.
            packed = bytearray()
            offsets = []
            for fid, start, end in entries:
                offsets.append(len(packed))
                packed += self._data[start:end]
            offsets.append(len(packed))
        id_width = _byte_width(max_fid)
        off_width = _byte_width(len(packed))
        header = (
            BASIC_OBJECT
            | ((off_width - 1) << 2)
            | ((id_width - 1) << 4)
            | ((1 if is_large else 0) << 6)
        )
        out = bytearray([header])
        _write_uint(out, n, 4 if is_large else 1)
        for fid, _, _ in entries:
            _write_uint(out, fid, id_width)
        for off in offsets:
            _write_uint(out, off, off_width)
        out += packed
        return bytes(out)


# ---------------------------------------------------------------------------
# Readers (values/read.rs)
# ---------------------------------------------------------------------------


class Variant:
    """Read-side view over a value buffer (read.rs:10-93).

    Typed getters raise on type mismatch, mirroring the reference's
    panics; ``field`` is the polymorphic child accessor (read.rs:87-93).
    """

    __slots__ = ("buf",)

    def __init__(self, buf: bytes):
        if not buf:
            raise VariantError("empty value buffer")
        self.buf = buf

    @property
    def basic_type(self) -> int:
        return self.buf[0] & 0x03

    @property
    def primitive_type_id(self) -> int:
        if self.basic_type != BASIC_PRIMITIVE:
            raise VariantError("not a primitive")
        return (self.buf[0] >> 2) & 0x3F

    def type_name(self) -> str:
        bt = self.basic_type
        if bt == BASIC_OBJECT:
            return "object"
        if bt == BASIC_ARRAY:
            return "array"
        if bt == BASIC_SHORT_STRING:
            return "string"
        return _PRIM_NAMES.get(self.primitive_type_id, "unknown")

    def is_null(self) -> bool:
        return (
            self.basic_type == BASIC_PRIMITIVE
            and self.primitive_type_id == PRIM_NULL
        )

    def _expect(self, type_id: int) -> None:
        got = self.primitive_type_id
        if got != type_id:
            raise VariantError(f"expected type id {type_id}, got {got}")

    def get_bool(self) -> bool:
        tid = self.primitive_type_id
        if tid == PRIM_TRUE:
            return True
        if tid == PRIM_FALSE:
            return False
        raise VariantError(f"not a boolean: type id {tid}")

    def get_int(self) -> int:
        tid = self.primitive_type_id
        if tid == PRIM_INT8:
            return struct.unpack_from("<b", self.buf, 1)[0]
        if tid == PRIM_INT16:
            return struct.unpack_from("<h", self.buf, 1)[0]
        if tid == PRIM_INT32:
            return struct.unpack_from("<i", self.buf, 1)[0]
        if tid == PRIM_INT64:
            return struct.unpack_from("<q", self.buf, 1)[0]
        raise VariantError(f"not an integer: type id {tid}")

    def get_i64(self) -> int:
        self._expect(PRIM_INT64)
        return struct.unpack_from("<q", self.buf, 1)[0]

    def get_f64(self) -> float:
        self._expect(PRIM_FLOAT64)
        return struct.unpack_from("<d", self.buf, 1)[0]

    def get_f32(self) -> float:
        self._expect(PRIM_FLOAT32)
        return struct.unpack_from("<f", self.buf, 1)[0]

    def get_decimal(self) -> tuple[int, int]:
        """Returns (unscaled, scale); accepts Decimal4/8/16."""
        tid = self.primitive_type_id
        scale = self.buf[1]
        if tid == PRIM_DECIMAL4:
            return struct.unpack_from("<i", self.buf, 2)[0], scale
        if tid == PRIM_DECIMAL8:
            return struct.unpack_from("<q", self.buf, 2)[0], scale
        if tid == PRIM_DECIMAL16:
            return int.from_bytes(self.buf[2:18], "little", signed=True), scale
        raise VariantError(f"not a decimal: type id {tid}")

    def get_i128(self) -> int:
        """Decimal16 unscaled int (read.rs:48-54)."""
        self._expect(PRIM_DECIMAL16)
        return int.from_bytes(self.buf[2:18], "little", signed=True)

    def get_string(self) -> str:
        """One logical string type, two encodings: accepts ShortString
        (basic type 1) and the primitive Long String (id 16) — same
        duality Spark's reader implements."""
        if self.basic_type == BASIC_SHORT_STRING:
            return self.get_short_string()
        self._expect(PRIM_STRING)
        n = struct.unpack_from("<i", self.buf, 1)[0]
        return self.buf[5 : 5 + n].decode("utf-8")

    def get_short_string(self) -> str:
        """ShortString (basic type 1): length in header bits 2-7,
        UTF-8 bytes follow. Declared but never written by the
        reference (values/mod.rs:16); spec'd and written by Spark's
        native encoder, so the reader supports it."""
        if self.basic_type != BASIC_SHORT_STRING:
            raise VariantError("not a short string")
        n = (self.buf[0] >> 2) & 0x3F
        return self.buf[1 : 1 + n].decode("utf-8")

    def get_binary(self) -> bytes:
        self._expect(PRIM_BINARY)
        n = struct.unpack_from("<i", self.buf, 1)[0]
        return bytes(self.buf[5 : 5 + n])

    def get_dictionary_index(self) -> int:
        """Index payload of a Binary/StringFromDictionary value
        (ids 17/18, values/mod.rs:58-59)."""
        tid = self.primitive_type_id
        if tid not in (PRIM_BINARY_DICT, PRIM_STRING_DICT):
            raise VariantError(f"not a dictionary reference: type id {tid}")
        return struct.unpack_from("<I", self.buf, 1)[0]

    def get_string_from_dictionary(self, metadata: "Metadata") -> str:
        self._expect(PRIM_STRING_DICT)
        s = metadata.get_string(self.get_dictionary_index())
        if s is None:
            raise VariantError("dictionary index out of bounds")
        return s

    def get_binary_from_dictionary(self, metadata: "Metadata") -> bytes:
        self._expect(PRIM_BINARY_DICT)
        s = metadata.get_string(self.get_dictionary_index())
        if s is None:
            raise VariantError("dictionary index out of bounds")
        return s.encode("utf-8")

    def get_date32(self) -> int:
        self._expect(PRIM_DATE32)
        return struct.unpack_from("<i", self.buf, 1)[0]

    def get_timestamp_micros(self) -> int:
        tid = self.primitive_type_id
        if tid in (PRIM_TIMESTAMP_MICRO, PRIM_TIMESTAMP_MICRO_NTZ):
            return struct.unpack_from("<q", self.buf, 1)[0]
        raise VariantError(f"not a timestamp: type id {tid}")

    def get_object(self) -> "ObjectView":
        return ObjectView(self)

    def get_array(self) -> "ArrayView":
        return ArrayView(self)

    def field(self, idx: int) -> "Variant | None":
        """Object field-id OR array index; None for scalars (read.rs:87-93)."""
        bt = self.basic_type
        if bt == BASIC_OBJECT:
            return ObjectView(self).get_field(idx)
        if bt == BASIC_ARRAY:
            return ArrayView(self).get_element(idx)
        return None


class ObjectView:
    """Object reader (read.rs:99-211). Field ids are sorted → binary
    search in ``get_field``; value slices run to the end of the value
    area because offsets need not be monotonic (read.rs:173-186)."""

    __slots__ = ("buf", "n", "_id_width", "_off_width", "_ids_start", "_offs_start", "_vals_start")

    def __init__(self, v: Variant):
        if v.basic_type != BASIC_OBJECT:
            raise VariantError("not an object")
        buf = v.buf
        header = buf[0]
        self.buf = buf
        self._off_width = ((header >> 2) & 0x03) + 1
        self._id_width = ((header >> 4) & 0x03) + 1
        is_large = bool(header & 0x40)
        if is_large:
            self.n = _read_uint(buf, 1, 4)
            pos = 5
        else:
            self.n = buf[1]
            pos = 2
        self._ids_start = pos
        self._offs_start = pos + self.n * self._id_width
        self._vals_start = self._offs_start + (self.n + 1) * self._off_width

    def get_field_id(self, i: int) -> int:
        return _read_uint(self.buf, self._ids_start + i * self._id_width, self._id_width)

    def get_offset(self, i: int) -> int:
        return _read_uint(self.buf, self._offs_start + i * self._off_width, self._off_width)

    def get_field(self, field_id: int) -> Variant | None:
        lo, hi = 0, self.n
        while lo < hi:
            mid = (lo + hi) // 2
            fid = self.get_field_id(mid)
            if fid < field_id:
                lo = mid + 1
            elif fid > field_id:
                hi = mid
            else:
                start = self._vals_start + self.get_offset(mid)
                return Variant(self.buf[start:])
        return None

    def items(self, metadata: Metadata) -> Iterator[tuple[str, Variant]]:
        for i in range(self.n):
            key = metadata.get_string(self.get_field_id(i))
            start = self._vals_start + self.get_offset(i)
            yield key, Variant(self.buf[start:])


class ArrayView:
    """Array reader (read.rs:216-280). Elements slice exactly
    ``[offset[i], offset[i+1])``."""

    __slots__ = ("buf", "n", "_off_width", "_offs_start", "_vals_start")

    def __init__(self, v: Variant):
        if v.basic_type != BASIC_ARRAY:
            raise VariantError("not an array")
        buf = v.buf
        header = buf[0]
        self.buf = buf
        self._off_width = ((header >> 2) & 0x03) + 1
        is_large = bool(header & 0x10)
        if is_large:
            self.n = _read_uint(buf, 1, 4)
            pos = 5
        else:
            self.n = buf[1]
            pos = 2
        self._offs_start = pos
        self._vals_start = pos + (self.n + 1) * self._off_width

    def get_offset(self, i: int) -> int:
        return _read_uint(self.buf, self._offs_start + i * self._off_width, self._off_width)

    def get_element(self, i: int) -> Variant | None:
        if not 0 <= i < self.n:
            return None
        start = self._vals_start + self.get_offset(i)
        end = self._vals_start + self.get_offset(i + 1)
        return Variant(self.buf[start:end])

    def __iter__(self) -> Iterator[Variant]:
        for i in range(self.n):
            yield self.get_element(i)


# ---------------------------------------------------------------------------
# JSON <-> variant (mirrors arrow-open-variant/src/json.rs)
# ---------------------------------------------------------------------------


def collect_keys(value: Any, into: set[str]) -> None:
    """Iterative walk collecting every object key (json.rs:115-163).
    Only containers are pushed — scalars can't carry keys, and pushing
    them just to pop-and-type-test each one doubled the walk's work on
    flat rows (round 16, guide §4.2)."""
    push = (dict, list)
    stack = [value]
    while stack:
        v = stack.pop()
        if isinstance(v, dict):
            into.update(v.keys())
            for x in v.values():
                if isinstance(x, push):
                    stack.append(x)
        elif isinstance(v, list):
            for x in v:
                if isinstance(x, push):
                    stack.append(x)


def convert_value(value: Any, buf: bytearray, metadata: Metadata) -> None:
    """Recursive parsed-JSON value → variant bytes (json.rs:202-246).

    Type mapping per SURVEY.md §1.5: bool→Bool, int fitting i64→Int64,
    bigger ints fitting i128→Decimal16(scale 0), float→Float64,
    str→String, list→Array, dict→Object, None→variant Null.
    """
    if value is None:
        write_null(buf)
    elif isinstance(value, bool):
        write_bool(buf, value)
    elif isinstance(value, int):
        if -(1 << 63) <= value < (1 << 63):
            write_i64(buf, value)
        elif -(1 << 127) <= value < (1 << 127):
            write_decimal(buf, value, 0)
        else:
            raise VariantError(f"integer too large for variant: {value}")
    elif isinstance(value, float):
        write_f64(buf, value)
    elif isinstance(value, str):
        write_string(buf, value)
    elif isinstance(value, list):
        ab = ArrayBuilder()
        data = ab.buffer()
        for item in value:
            convert_value(item, data, metadata)
            ab.seal_child()
        buf += ab.finish()
    elif isinstance(value, dict):
        buf += _encode_object(value, metadata)
    else:
        raise VariantError(f"unsupported JSON value: {type(value)}")


def _encode_object(value: dict, metadata: Metadata) -> bytes:
    """One dict → its object value bytes. Shared by ``convert_value``
    and the top-level fast path in ``encode_batch`` (an object ROW goes
    straight to its bytes — no scratch bytearray and no extra full-row
    copy per row)."""
    ob = ObjectBuilder(metadata)
    for k, v in value.items():
        convert_value(v, ob.begin_child(k), metadata)
        ob.seal_child()
    return ob.finish()


def parse_batch(texts: list[str | None], tolerant: bool = False) -> list[Any]:
    """One ``json.loads`` per row; a SQL null row parses to ``None``.

    Strict mode raises ``VariantError`` on the first malformed row, which
    fails the whole batch (json.rs:42-48). Tolerant mode maps exactly the
    malformed rows to ``None`` instead, in the same single pass.
    """
    out: list[Any] = []
    for t in texts:
        if t is None:
            out.append(None)
            continue
        try:
            out.append(json.loads(t))
        except (ValueError, TypeError) as exc:
            if not tolerant:
                raise VariantError(f"malformed JSON: {exc}") from exc
            out.append(None)
    return out


def encode_batch(rows: list[Any]) -> tuple[bytes, list[bytes | None]]:
    """Parsed rows → (ONE shared metadata, value buffers).

    The reference's batch-shared dictionary (json.rs:51-63): collect the
    union of every row's keys, build the metadata once, then encode each
    row against it. A ``None`` row yields a null slot (the Arrow-null of
    json.rs:185-196); nested ``None`` values become variant nulls.
    """
    keys: set[str] = set()
    for p in rows:
        collect_keys(p, keys)
    metadata_buf = build_metadata(keys)
    metadata = Metadata(metadata_buf)
    values: list[bytes | None] = []
    for p in rows:
        if p is None:
            values.append(None)
        elif type(p) is dict:
            # object row (the overwhelmingly common shape)
            values.append(_encode_object(p, metadata))
        else:
            b = bytearray()
            convert_value(p, b, metadata)
            values.append(bytes(b))
    return metadata_buf, values


def batch_from_json(
    texts: Iterable[str | None], tolerant: bool = False
) -> tuple[bytes, list[bytes | None]]:
    """The flagship kernel: JSON strings → (shared metadata, value buffers).

    Mirrors ``variant_from_json`` (json.rs:38-81): ``parse_batch`` then
    ``encode_batch``. SQL nulls and top-level JSON ``null`` give null
    slots. Strict by default: the first malformed row fails the batch;
    ``tolerant=True`` nulls exactly the malformed rows instead.
    """
    return encode_batch(parse_batch(list(texts), tolerant))


def batch_rows(
    metadatas: Iterable[bytes | None], values: Iterable[bytes | None]
) -> Iterator[tuple[bytes, Metadata] | None]:
    """Read side of the shared dictionary: yield ``(value bytes,
    Metadata)`` per row, or ``None`` for a null row. ``Metadata`` is
    built ONCE per distinct metadata blob (one per batch after
    ``encode_batch``), so rows only pay their own value decode
    (open-variant/README.md:55-57)."""
    cache: dict[bytes, Metadata] = {}
    for mb, vb in zip(metadatas, values):
        if vb is None or mb is None:
            yield None
            continue
        mb = bytes(mb)
        m = cache.get(mb)
        if m is None:
            m = cache[mb] = Metadata(mb)
        yield bytes(vb), m


def to_python(value: Variant, metadata: Metadata) -> Any:
    """Variant bytes → plain Python value (inverse of convert_value)."""
    bt = value.basic_type
    if bt == BASIC_OBJECT:
        return {k: to_python(v, metadata) for k, v in value.get_object().items(metadata)}
    if bt == BASIC_ARRAY:
        return [to_python(e, metadata) for e in value.get_array()]
    if bt == BASIC_SHORT_STRING:
        return value.get_short_string()
    tid = value.primitive_type_id
    if tid == PRIM_NULL:
        return None
    if tid in (PRIM_TRUE, PRIM_FALSE):
        return value.get_bool()
    if tid in (PRIM_INT8, PRIM_INT16, PRIM_INT32, PRIM_INT64):
        return value.get_int()
    if tid == PRIM_FLOAT64:
        return value.get_f64()
    if tid == PRIM_FLOAT32:
        return value.get_f32()
    if tid in (PRIM_DECIMAL4, PRIM_DECIMAL8, PRIM_DECIMAL16):
        unscaled, scale = value.get_decimal()
        if scale == 0:
            return unscaled
        from decimal import Decimal

        return Decimal(unscaled).scaleb(-scale)
    if tid == PRIM_STRING:
        return value.get_string()
    if tid == PRIM_BINARY:
        return value.get_binary()
    if tid == PRIM_STRING_DICT:
        return value.get_string_from_dictionary(metadata)
    if tid == PRIM_BINARY_DICT:
        return value.get_binary_from_dictionary(metadata)
    if tid == PRIM_DATE32:
        from datetime import date, timedelta

        return date(1970, 1, 1) + timedelta(days=value.get_date32())
    if tid in (PRIM_TIMESTAMP_MICRO, PRIM_TIMESTAMP_MICRO_NTZ):
        from datetime import datetime, timedelta, timezone

        base = datetime(1970, 1, 1, tzinfo=timezone.utc if tid == PRIM_TIMESTAMP_MICRO else None)
        return base + timedelta(microseconds=value.get_timestamp_micros())
    raise VariantError(f"unsupported type id {tid}")


def _render_json(v: Any) -> str:
    """JSON text for a to_python() value, matching Spark's JVM
    ``to_json(variant)`` rendering: decimals emit as UNQUOTED plain
    notation (BigDecimal.toPlainString — never E-notation, which
    str(Decimal) switches to when the adjusted exponent < -6).
    json.dumps(default=...) can't do this (a returned str gets
    quoted), hence the hand-rolled walk."""
    from decimal import Decimal

    if v is None:
        return "null"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, Decimal):
        f = float(v)
        # decimals that survive a float round-trip render as the float
        # (shortest repr); others keep all digits, plain notation
        return json.dumps(f) if Decimal(repr(f)) == v else format(v, "f")
    if isinstance(v, (int, float)):
        return json.dumps(v)
    if isinstance(v, str):
        return json.dumps(v, ensure_ascii=False)
    if isinstance(v, list):
        return "[" + ",".join(_render_json(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(
            json.dumps(k, ensure_ascii=False) + ":" + _render_json(x)
            for k, x in v.items()
        ) + "}"
    raise VariantError(f"not JSON serializable: {type(v)}")


def to_json(value_buf: bytes, metadata: Metadata) -> str:
    """Value buffer + parsed metadata → canonical JSON text."""
    return _render_json(to_python(Variant(value_buf), metadata))


def to_json_str(value_buf: bytes, metadata_buf: bytes) -> str:
    """Variant pair → canonical JSON text."""
    return to_json(value_buf, Metadata(metadata_buf))


def get_path(
    value_buf: bytes, metadata_buf: bytes, path: str
) -> Any:
    """Evaluate a JSON path like ``$.a.b[2].c`` against a variant pair.

    Key resolution happens once per call via ``Metadata.find_string``
    (binary search) — the reference's amortization point
    (open-variant/README.md:55-57). Returns a Python value or None if the
    path is absent.

    Batch callers (the pandas UDFs) should instead iterate ``batch_rows``,
    parse the path once with ``parse_json_path``, resolve field ids once
    per metadata blob with ``resolve_steps``, and evaluate rows via
    ``walk_path`` / ``get_path_prepared`` — in a batch every row shares
    the metadata, so per-row Metadata construction + dictionary lookups
    are pure overhead (this was ~5x the cost of the actual decode).
    """
    metadata = Metadata(metadata_buf)
    steps = parse_json_path(path)
    return get_path_prepared(value_buf, metadata, steps, resolve_steps(metadata, steps))


def resolve_steps(metadata: "Metadata", steps: list) -> list:
    """Pre-resolve the string steps of a parsed path against one
    metadata dictionary: field id, or None when the key is absent
    (→ the path misses for every row sharing this metadata)."""
    return [
        metadata.find_string(s) if isinstance(s, str) else None for s in steps
    ]


def walk_path(value_buf: bytes, steps: list, fids: list) -> "Variant | None":
    """Walk pre-parsed steps (with pre-resolved field ids) down a
    value buffer; returns the Variant at the path or None."""
    v: Variant | None = Variant(value_buf)
    for step, fid in zip(steps, fids):
        if v is None:
            return None
        if isinstance(step, str):
            if v.basic_type != BASIC_OBJECT or fid is None:
                return None
            v = v.get_object().get_field(fid)
        else:
            if v.basic_type != BASIC_ARRAY:
                return None
            v = v.get_array().get_element(step)
    return v


def get_path_prepared(
    value_buf: bytes, metadata: "Metadata", steps: list, fids: list
) -> Any:
    """``get_path`` with all row-invariant work hoisted out."""
    v = walk_path(value_buf, steps, fids)
    if v is None:
        return None
    return to_python(v, metadata)


def parse_json_path(path: str) -> list[str | int]:
    """``$.a.b[2]['c d']`` → ['a', 'b', 2, 'c d']."""
    if not path.startswith("$"):
        raise VariantError(f"JSON path must start with $: {path!r}")
    steps: list[str | int] = []
    i = 1
    n = len(path)
    while i < n:
        c = path[i]
        if c == ".":
            i += 1
            j = i
            while j < n and path[j] not in ".[":
                j += 1
            if j == i:
                raise VariantError(f"empty path step in {path!r}")
            steps.append(path[i:j])
            i = j
        elif c == "[":
            j = path.index("]", i)
            inner = path[i + 1 : j]
            if inner and inner[0] in "'\"":
                steps.append(inner[1:-1])
            else:
                steps.append(int(inner))
            i = j + 1
        else:
            raise VariantError(f"bad JSON path syntax at {i} in {path!r}")
    return steps


def merge_patch(target: Any, patch: Any) -> Any:
    """RFC 7386 JSON Merge Patch over decoded variant values: a
    non-object patch replaces the target wholesale; an object patch
    merges key-wise, where ``null`` DELETES the key and nested objects
    recurse. Operates on ``to_python`` output and feeds
    ``convert_value`` — the variant-level mutation primitive the
    reference's read-only surface lacks (its builders can only append)."""
    if not isinstance(patch, dict):
        return patch
    out = dict(target) if isinstance(target, dict) else {}
    for k, v in patch.items():
        if v is None:
            out.pop(k, None)
        else:
            out[k] = merge_patch(out.get(k), v)
    return out

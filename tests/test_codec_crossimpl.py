"""Cross-implementation spec parity: our codec's buffers must be
readable by pyspark's own pure-Python Open Variant reader
(pyspark.sql.types.VariantVal — same Apache spec the reference
implements), and roundtrips must hold under randomized inputs."""

from __future__ import annotations

import json
import math
from decimal import Decimal

from hypothesis import given, settings
from hypothesis import strategies as st

from datafusion_functions_variant_spark import codec

try:
    from pyspark.sql.types import VariantVal

    HAVE_VARIANTVAL = True
except ImportError:  # pragma: no cover
    HAVE_VARIANTVAL = False


def _codec_encode(obj) -> tuple[bytes, bytes]:
    keys: set[str] = set()
    codec.collect_keys(obj, keys)
    meta = codec.build_metadata(keys)
    buf = bytearray()
    codec.convert_value(obj, buf, codec.Metadata(meta))
    return meta, bytes(buf)


FIXTURES = [
    None,
    True,
    False,
    0,
    -1,
    2**62,
    -(2**62),
    3.5,
    -0.125,
    "",
    "hello",
    "ünïcode ✓",
    [],
    [1, 2, 3],
    [1, "two", 3.0, None, True],
    {},
    {"a": 1},
    {"k1": 1, "k2": 2},
    {"b": [True, None, "x"], "a": {"nested": {"deep": [1.5]}}},
    {"key with spaces": "v", "": "empty-key"},
]


def _norm(x):
    """JSON-comparable form (ints vs floats, -0.0, etc.)."""
    if isinstance(x, float) and x.is_integer() and not math.isinf(x):
        return x  # keep float identity; compare via json round
    return x


def test_variantval_reads_our_buffers():
    if not HAVE_VARIANTVAL:
        return
    for obj in FIXTURES:
        meta, val = _codec_encode(obj)
        got = json.loads(VariantVal(val, meta).toJson())
        assert got == json.loads(json.dumps(obj)), f"mismatch for {obj!r}"


def test_variantval_agrees_with_our_reader():
    if not HAVE_VARIANTVAL:
        return
    for obj in FIXTURES:
        meta, val = _codec_encode(obj)
        ours = json.loads(codec.to_json_str(val, meta))
        theirs = json.loads(VariantVal(val, meta).toJson())
        assert ours == theirs, f"reader divergence for {obj!r}"


def test_our_reader_reads_spark_native_bytes(spark):
    """Reverse direction: buffers produced by Spark's native parse_json
    (JVM writer) must decode through our codec."""
    samples = [json.dumps(o) for o in FIXTURES if o is not None]
    df = spark.createDataFrame([(s,) for s in samples], ["j"])
    from pyspark.sql import functions as F

    rows = df.select(F.parse_json("j").alias("v")).collect()
    for s, r in zip(samples, rows):
        v = r["v"]  # VariantVal with .value / .metadata bytes
        got = json.loads(codec.to_json_str(bytes(v.value), bytes(v.metadata)))
        assert got == json.loads(s), f"codec failed on native bytes for {s}"


json_scalars = st.one_of(
    st.none(),
    st.booleans(),
    st.integers(min_value=-(2**63) + 1, max_value=2**63 - 1),
    st.floats(allow_nan=False, allow_infinity=False),
    st.text(max_size=40),
)

json_values = st.recursive(
    json_scalars,
    lambda children: st.one_of(
        st.lists(children, max_size=6),
        st.dictionaries(st.text(max_size=12), children, max_size=6),
    ),
    max_leaves=25,
)


@given(json_values)
@settings(max_examples=200, deadline=None)
def test_property_roundtrip(obj):
    meta, val = _codec_encode(obj)
    back = json.loads(codec.to_json_str(val, meta))
    assert back == json.loads(json.dumps(obj))


@given(json_values)
@settings(max_examples=100, deadline=None)
def test_property_variantval_parity(obj):
    if not HAVE_VARIANTVAL:
        return
    meta, val = _codec_encode(obj)
    theirs = json.loads(VariantVal(val, meta).toJson())
    assert theirs == json.loads(json.dumps(obj))


def _as_double(x):
    """Decimals as floats, and -0.0 as 0.0 (a JVM decimal has no
    negative zero), recursively."""
    if isinstance(x, (Decimal, float)):
        return float(x) + 0.0
    if isinstance(x, list):
        return [_as_double(v) for v in x]
    if isinstance(x, dict):
        return {k: _as_double(v) for k, v in x.items()}
    return x


@given(st.lists(json_values, min_size=1, max_size=6))
@settings(max_examples=20, deadline=None)
def test_property_batch_matches_jvm_parse_json(spark, rows):
    """Row by row, ``codec.batch_from_json`` decodes to the same value
    as Spark's native ``parse_json`` (one single-row DataFrame per
    example, one literal column per JSON row). The bytes are compared
    through ``codec.to_python`` because two differences are by design:
    the JVM writes an unsorted dictionary (header 0x01, ours 0x11 with
    sorted keys, so field ids differ), and it types a plain-notation
    number such as ``2.5`` as a Decimal where the codec writes a double
    — so JVM decimals are compared as floats. A top-level ``null`` is a
    variant null on the JVM side and a null slot in the codec; both
    decode to ``None``. Values are compared as JSON text so that
    ``True`` and ``1`` differ."""
    from pyspark.sql import functions as F

    texts = [json.dumps(r) for r in rows]
    jvm = spark.range(1).select(*(F.parse_json(F.lit(t)) for t in texts)).collect()[0]
    meta, values = codec.batch_from_json(texts)
    m = codec.Metadata(meta)
    for t, v, vb in zip(texts, jvm, values):
        theirs = codec.to_python(codec.Variant(bytes(v.value)), codec.Metadata(bytes(v.metadata)))
        ours = None if vb is None else codec.to_python(codec.Variant(vb), m)
        assert json.dumps(_as_double(ours), sort_keys=True) == json.dumps(
            _as_double(theirs), sort_keys=True
        ), t


# Mixed-width UTF-8 alphabet: 1-, 2-, 3-, and 4-byte encodings, so the
# 64-byte ShortString boundary gets straddled by multi-byte characters
# in randomized positions (a char whose bytes would cross 63→64 must
# push the whole payload to Long String, never split).
_boundary_chars = st.sampled_from(["x", "é", "✓", "🎉"])


@given(st.lists(_boundary_chars, min_size=1, max_size=70))
@settings(max_examples=150, deadline=None)
def test_property_short_string_boundary(chars):
    """Every prefix of a random mixed-width string: payloads < 64
    UTF-8 bytes must encode as ShortString (1-byte header, exact
    length), >= 64 as primitive Long String (5-byte header); both
    must read back identically through our reader AND pyspark's
    VariantVal (codec.py:274-289; reference values/mod.rs:16 declares
    ShortString but never writes it)."""
    s = "".join(chars)
    for i in range(len(s) + 1):
        p = s[:i]
        n = len(p.encode("utf-8"))
        if not (56 <= n <= 72 or i == len(s)):
            continue  # only exercise the boundary region + full string
        buf = bytearray()
        codec.write_string(buf, p)
        v = codec.Variant(bytes(buf))
        if n < 64:
            assert v.basic_type == codec.BASIC_SHORT_STRING
            assert len(buf) == 1 + n
        else:
            assert v.basic_type == codec.BASIC_PRIMITIVE
            assert v.primitive_type_id == codec.PRIM_STRING
            assert len(buf) == 5 + n
        assert v.get_string() == p
        if HAVE_VARIANTVAL:
            meta = codec.build_metadata(set())
            assert json.loads(VariantVal(bytes(buf), meta).toJson()) == p


def _naive_merge_patch(target, patch):
    """Independent straight-from-the-RFC-7386-pseudocode reference:
    object patches merge key-wise (null deletes), anything else
    replaces wholesale."""
    if isinstance(patch, dict):
        result = dict(target) if isinstance(target, dict) else {}
        for k, v in patch.items():
            if v is None:
                result.pop(k, None)
            else:
                result[k] = _naive_merge_patch(result.get(k), v)
        return result
    return patch


@given(json_values, json_values)
@settings(max_examples=200, deadline=None)
def test_property_merge_patch_matches_rfc_reference(target, patch):
    """codec.merge_patch against the independent reference on random
    value pairs — catches recursion/deletion corners the RFC appendix
    vectors don't reach (nested deletes under replaced arrays, null
    inside lists which must NOT delete, non-dict targets)."""
    got = codec.merge_patch(target, patch)
    assert got == _naive_merge_patch(target, patch)


def _all_paths(obj, prefix="$"):
    """Every (json-path, expected-value) pair reachable in obj, using
    bracket-quoted key steps (safe for keys containing dots/spaces);
    keys containing quote/bracket/backslash chars are skipped — the
    path grammar doesn't define escaping for them."""
    out = []
    if isinstance(obj, dict):
        for k, v in obj.items():
            if k and not any(c in k for c in "'\"[]\\"):
                p = f"{prefix}['{k}']"
                out.append((p, v))
                out.extend(_all_paths(v, p))
    elif isinstance(obj, list):
        for i, v in enumerate(obj):
            p = f"{prefix}[{i}]"
            out.append((p, v))
            out.extend(_all_paths(v, p))
    return out


@given(json_values)
@settings(max_examples=150, deadline=None)
def test_property_get_path_reaches_every_node(obj):
    """For random nested values, get_path must return exactly the
    value at EVERY reachable path (containers included — to_python
    decode), and miss cleanly (None, no error) on an absent key and an
    out-of-bounds index at every object/array node."""
    meta, val = _codec_encode(obj)
    for p, want in _all_paths(obj)[:25]:
        assert codec.get_path(val, meta, p) == want, p
    if isinstance(obj, dict):
        assert codec.get_path(val, meta, "$['\x00nope']") is None
    if isinstance(obj, list):
        assert codec.get_path(val, meta, f"$[{len(obj)}]") is None

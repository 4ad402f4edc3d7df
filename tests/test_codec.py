"""Codec unit tests — pytest mirror of the reference's 15 inline Rust
tests (SURVEY.md §5): metadata (metadata.rs:187-224), value roundtrips
(values/write.rs:276-407), JSON kernel (arrow-open-variant/src/
json.rs:248-530). Pure Python, no Spark session needed."""

import json

import pytest

from datafusion_functions_variant_spark import codec as c


# --- metadata suite (metadata.rs:187-224) ---------------------------------


def test_build_empty_metadata():
    buf = c.build_metadata([])
    m = c.Metadata(buf)
    assert m.version == 1
    assert m.sorted_strings
    assert len(m) == 0
    assert m.get_string(0) is None
    assert m.find_string("anything") is None


def test_build_metadata():
    buf = c.build_metadata(["zebra", "apple", "mango", "apple"])  # dup + unsorted
    m = c.Metadata(buf)
    assert len(m) == 3
    assert [m.get_string(i) for i in range(3)] == ["apple", "mango", "zebra"]
    assert m.find_string("mango") == 1
    assert m.find_string("missing") is None
    # tolerates trailing bytes (metadata.rs:206-207)
    m2 = c.Metadata(buf + b"\xff\xff\xff")
    assert m2.find_string("zebra") == 2


# --- value write/read roundtrips (values/write.rs:276-407) ----------------


def test_write_bool():
    for v in (True, False):
        b = bytearray()
        c.write_bool(b, v)
        var = c.Variant(bytes(b))
        assert var.basic_type == c.BASIC_PRIMITIVE
        assert var.get_bool() is v
    with pytest.raises(c.VariantError):
        c.Variant(bytes([c.BASIC_PRIMITIVE | (c.PRIM_INT64 << 2)]) + b"\0" * 8).get_bool()


def test_write_i64():
    for v in (0, 1, -1, 2**63 - 1, -(2**63)):
        b = bytearray()
        c.write_i64(b, v)
        assert c.Variant(bytes(b)).get_i64() == v


def test_write_int_ladder():
    for v, tid in [(5, c.PRIM_INT8), (-129, c.PRIM_INT16), (70000, c.PRIM_INT32), (2**40, c.PRIM_INT64)]:
        b = bytearray()
        c.write_int(b, v)
        var = c.Variant(bytes(b))
        assert var.primitive_type_id == tid
        assert var.get_int() == v


def test_write_f64():
    for v in (0.0, -1.5, 3.141592653589793, 1e308):
        b = bytearray()
        c.write_f64(b, v)
        assert c.Variant(bytes(b)).get_f64() == v


def test_write_decimal():
    # width chosen by |unscaled| inclusive — the §1.3 bug-fix behavior
    cases = [
        (12345, 2, c.PRIM_DECIMAL4),
        (2**31 - 1, 0, c.PRIM_DECIMAL4),
        (-(2**31) - 5, 3, c.PRIM_DECIMAL8),  # ref bug would mis-size this
        (2**62, 10, c.PRIM_DECIMAL8),
        (2**100, 38, c.PRIM_DECIMAL16),
        (-(2**100), 1, c.PRIM_DECIMAL16),
    ]
    for unscaled, scale, tid in cases:
        b = bytearray()
        c.write_decimal(b, unscaled, scale)
        var = c.Variant(bytes(b))
        assert var.primitive_type_id == tid
        assert var.get_decimal() == (unscaled, scale)
    with pytest.raises(c.VariantError):
        c.write_decimal(bytearray(), 1, 39)


def test_write_object():
    meta = c.Metadata(c.build_metadata(["age", "name", "score"]))
    ob = c.ObjectBuilder(meta)
    # insert out of key order — finish() must sort by field id
    ob.append_string("name", "ada")
    ob.append_i64("age", 36)
    ob.append_f64("score", 9.5)
    buf = ob.finish()
    var = c.Variant(buf)
    assert var.basic_type == c.BASIC_OBJECT
    obj = var.get_object()
    assert obj.n == 3
    ids = [obj.get_field_id(i) for i in range(3)]
    assert ids == sorted(ids)
    assert obj.get_field(meta.find_string("age")).get_i64() == 36
    assert obj.get_field(meta.find_string("name")).get_string() == "ada"
    assert obj.get_field(meta.find_string("score")).get_f64() == 9.5
    # missing field → None (write.rs:367)
    assert obj.get_field(999) is None
    # unknown key is a hard error (write.rs:347-349)
    with pytest.raises(c.VariantError):
        ob2 = c.ObjectBuilder(meta)
        ob2.append_i64("nope", 1)


def test_write_array():
    ab = c.ArrayBuilder()
    for writer, val in [
        (c.write_i64, 7),
        (c.write_string, "hello"),
        (c.write_bool, True),
        (c.write_f64, 2.5),
    ]:
        b = bytearray()
        writer(b, val)
        ab.append_value(bytes(b))
    b = bytearray()
    c.write_null(b)
    ab.append_value(bytes(b))
    buf = ab.finish()
    arr = c.Variant(buf).get_array()
    assert arr.n == 5
    assert arr.get_element(0).get_i64() == 7
    assert arr.get_element(1).get_string() == "hello"
    assert arr.get_element(2).get_bool() is True
    assert arr.get_element(3).get_f64() == 2.5
    assert arr.get_element(4).is_null()
    # OOB → None (write.rs:405)
    assert arr.get_element(5) is None
    assert arr.get_element(-1) is None


def test_array_offset_width_sized_by_bytes():
    # >127 bytes of payload across few elements: reference bug would
    # overflow 1-byte offsets; spec'd behavior widens them.
    ab = c.ArrayBuilder()
    for i in range(3):
        b = bytearray()
        c.write_string(b, "x" * 100)
        ab.append_value(bytes(b))
    arr = c.Variant(ab.finish()).get_array()
    assert arr.n == 3
    assert arr.get_element(2).get_string() == "x" * 100


def test_large_array_and_object():
    ab = c.ArrayBuilder()
    for i in range(300):
        b = bytearray()
        c.write_i64(b, i)
        ab.append_value(bytes(b))
    arr = c.Variant(ab.finish()).get_array()
    assert arr.n == 300
    assert arr.get_element(299).get_i64() == 299

    keys = [f"k{i:04d}" for i in range(200)]
    meta = c.Metadata(c.build_metadata(keys))
    ob = c.ObjectBuilder(meta)
    for i, k in enumerate(keys):
        ob.append_i64(k, i)
    obj = c.Variant(ob.finish()).get_object()
    assert obj.n == 200
    assert obj.get_field(meta.find_string("k0150")).get_i64() == 150


# --- JSON kernel (json.rs:248-530) -----------------------------------------


def roundtrip(texts):
    meta_buf, values = c.batch_from_json(texts)
    out = []
    for v in values:
        out.append(None if v is None else c.to_python(c.Variant(v), c.Metadata(meta_buf)))
    return meta_buf, values, out


def test_nulls():
    # top-level JSON null → slot null; nested null → variant Null
    meta_buf, values, out = roundtrip(['null', '{"a": null}', None])
    assert values[0] is None  # json.rs:185-196 special case
    assert out[1] == {"a": None}
    assert values[2] is None


def test_boolean():
    _, _, out = roundtrip(["true", "false"])
    assert out == [True, False]


def test_numbers():
    _, _, out = roundtrip(["0", "42", "-7", str(2**62)])
    assert out == [0, 42, -7, 2**62]


def test_big_integers():
    big = 2**100
    meta_buf, values, out = roundtrip([str(big), str(-big)])
    assert out == [big, -big]
    v = c.Variant(values[0])
    assert v.primitive_type_id == c.PRIM_DECIMAL16  # json.rs:213-218
    with pytest.raises(c.VariantError):
        c.batch_from_json([str(2**200)])


def test_floats():
    _, _, out = roundtrip(["1.5", "-0.25", "1e10"])
    assert out == [1.5, -0.25, 1e10]


def test_strings():
    _, _, out = roundtrip(['"hello"', '"\\u00e9l\\u00e8ve"', '""'])
    assert out == ["hello", "élève", ""]


def test_objects():
    # key order in source JSON must not matter (json.rs:364)
    m1, v1, o1 = roundtrip(['{"a": 1, "b": 2}'])
    m2, v2, o2 = roundtrip(['{"b": 2, "a": 1}'])
    assert o1 == o2 == [{"a": 1, "b": 2}]
    assert v1 == v2  # byte-identical thanks to sorted dictionary + ids
    _, _, out = roundtrip(['{"outer": {"inner": [1, {"deep": true}]}}'])
    assert out == [{"outer": {"inner": [1, {"deep": True}]}}]


def test_arrays():
    _, _, out = roundtrip(['[1, "two", 3.5, null, [4, 5], {"six": 6}]'])
    assert out == [[1, "two", 3.5, None, [4, 5], {"six": 6}]]
    _, _, out = roundtrip(["[]"])
    assert out == [[]]


def test_batch_shared_metadata():
    # one dictionary for the whole batch = union of all rows' keys
    meta_buf, values, _ = roundtrip(['{"k1": 1}', '{"k2": 2}', "[]"])
    m = c.Metadata(meta_buf)
    assert len(m) == 2
    assert m.find_string("k1") == 0
    assert m.find_string("k2") == 1


def test_parsing_error():
    with pytest.raises(c.VariantError):
        c.batch_from_json(['{"ok": 1}', "{not json"])  # batch fails (json.rs:42-48)


def test_spliced_rows_are_malformed():
    # each row is malformed on its own, although the rows joined with
    # commas spell the valid array [[1, 2], 3, 4]
    texts = ["[1", "2]", "3,4"]
    with pytest.raises(c.VariantError):
        c.batch_from_json(texts)
    _, values = c.batch_from_json(texts, tolerant=True)
    assert values == [None, None, None]


def test_tolerant_parse_nulls_only_malformed_rows():
    parsed = c.parse_batch(['{"a": 1}', "{bad", None, "null", "[2]"], tolerant=True)
    assert parsed == [{"a": 1}, None, None, None, [2]]
    meta_buf, values = c.batch_from_json(['{"a": 1}', "{bad", "[2]"], tolerant=True)
    assert values[1] is None
    m = c.Metadata(meta_buf)
    assert [c.to_python(c.Variant(v), m) for v in (values[0], values[2])] == [{"a": 1}, [2]]


def test_batch_rows_shares_one_metadata_per_blob():
    meta_a, vals_a = c.batch_from_json(['{"x": 1}', '{"y": 2}'])
    meta_b, vals_b = c.batch_from_json(['{"z": 3}'])
    rows = list(c.batch_rows(
        [meta_a, bytes(meta_a), meta_b, meta_a],
        [vals_a[0], vals_a[1], vals_b[0], None],
    ))
    assert rows[3] is None
    assert rows[0][1] is rows[1][1] is not rows[2][1]
    assert [c.to_json(*r) for r in rows[:3]] == ['{"x":1}', '{"y":2}', '{"z":3}']


def test_to_json_roundtrip():
    src = '{"a":[1,2.5,"x",null,true],"b":{"c":-3}}'
    meta_buf, values, _ = roundtrip([src])
    assert json.loads(c.to_json_str(values[0], meta_buf)) == json.loads(src)


def test_get_path():
    meta_buf, values, _ = roundtrip(['{"a": {"b": [10, {"c": "hit"}]}, "d": 4}'])
    v, m = values[0], meta_buf
    assert c.get_path(v, m, "$.a.b[1].c") == "hit"
    assert c.get_path(v, m, "$.d") == 4
    assert c.get_path(v, m, "$.a.b[0]") == 10
    assert c.get_path(v, m, "$.missing") is None
    assert c.get_path(v, m, "$.a.b[9]") is None
    assert c.get_path(v, m, "$['a']['b'][0]") == 10
    with pytest.raises(c.VariantError):
        c.parse_json_path("a.b")


def test_type_names():
    cases = [
        ("null", None),
        ("true", "boolean"),
        ("1", "bigint"),
        ("1.5", "double"),
        ('"s"', "string"),
        ("[1]", "array"),
        ('{"a":1}', "object"),
    ]
    meta_buf, values, _ = roundtrip([t for t, _ in cases])
    for (txt, expect), v in zip(cases, values):
        if expect is None:
            assert v is None
        else:
            assert c.Variant(v).type_name() == expect


# --- dictionary-referencing primitives (values/mod.rs:58-59, ids 17/18) ---


def test_string_from_dictionary_roundtrip():
    meta = c.Metadata(c.build_metadata(["alpha", "beta", "gamma"]))
    idx = meta.find_string("beta")
    buf = bytearray()
    c.write_string_from_dictionary(buf, idx)
    v = c.Variant(bytes(buf))
    assert v.primitive_type_id == c.PRIM_STRING_DICT
    assert v.type_name() == "string"
    assert v.get_dictionary_index() == idx
    assert v.get_string_from_dictionary(meta) == "beta"
    assert c.to_python(v, meta) == "beta"


def test_binary_from_dictionary_roundtrip():
    meta = c.Metadata(c.build_metadata(["payload"]))
    buf = bytearray()
    c.write_binary_from_dictionary(buf, 0)
    v = c.Variant(bytes(buf))
    assert v.primitive_type_id == c.PRIM_BINARY_DICT
    assert v.type_name() == "binary"
    assert v.get_binary_from_dictionary(meta) == b"payload"
    assert c.to_python(v, meta) == b"payload"


def test_dictionary_reference_errors():
    meta = c.Metadata(c.build_metadata(["only"]))
    buf = bytearray()
    c.write_string_from_dictionary(buf, 5)  # out of bounds for this dict
    v = c.Variant(bytes(buf))
    with pytest.raises(c.VariantError):
        v.get_string_from_dictionary(meta)
    with pytest.raises(c.VariantError):
        c.write_string_from_dictionary(bytearray(), 1 << 32)
    s = bytearray()
    c.write_string(s, "plain")
    with pytest.raises(c.VariantError):
        c.Variant(bytes(s)).get_dictionary_index()


def test_decimal_plain_notation_rendering():
    """Decimals past float precision with adjusted exponent < -6 must
    render unquoted in plain notation — str(Decimal) would E-notate,
    json default= would quote. Spark-verified expected text."""
    meta = c.build_metadata(["x"])
    m = c.Metadata(meta)
    buf = bytearray()
    ob = c.ObjectBuilder(m)
    inner = bytearray()
    c.write_decimal(inner, 1234567890123456789, 26)  # 1.2345…e-8, 19 digits
    ob.append_value("x", bytes(inner))
    buf += ob.finish()
    # matches JVM Spark: to_json(parse_json('{"x":0.00000001234567890123456789}'))
    assert (
        c.to_json_str(bytes(buf), meta)
        == '{"x":0.00000001234567890123456789}'
    )


def test_short_string_write_read_both_directions():
    """ShortString (basic type 1) write path: UTF-8 < 64 bytes embeds
    the length in header bits 2-7; 64+ falls back to Long String
    (id 16). Reader accepts both via get_string; write_long_string
    pins the reference's only write shape."""
    for s in ["", "a", "x" * 63, "ünïcode ✓"]:
        b = bytearray()
        c.write_string(b, s)
        v = c.Variant(bytes(b))
        assert v.basic_type == c.BASIC_SHORT_STRING
        assert len(b) == 1 + len(s.encode("utf-8"))  # 1-byte header
        assert v.get_short_string() == s
        assert v.get_string() == s  # polymorphic reader
        assert v.type_name() == "string"
    # boundary: 64 utf-8 bytes → long form
    for s in ["x" * 64, "é" * 32]:  # 64 ascii / 64 utf-8 bytes
        b = bytearray()
        c.write_string(b, s)
        v = c.Variant(bytes(b))
        assert v.basic_type == c.BASIC_PRIMITIVE
        assert v.primitive_type_id == c.PRIM_STRING
        assert v.get_string() == s
    # multi-byte char straddling the boundary: 63 bytes stays short
    s = "x" * 61 + "é"  # 63 utf-8 bytes
    b = bytearray()
    c.write_string(b, s)
    assert c.Variant(bytes(b)).basic_type == c.BASIC_SHORT_STRING
    # explicit long form for a short payload still reads fine
    b = bytearray()
    c.write_long_string(b, "tiny")
    v = c.Variant(bytes(b))
    assert v.primitive_type_id == c.PRIM_STRING
    assert v.get_string() == "tiny"


def test_short_string_inside_containers_roundtrip():
    meta_keys = {"name", "long"}
    meta = c.build_metadata(meta_keys)
    m = c.Metadata(meta)
    ob = c.ObjectBuilder(m)
    ob.append_string("name", "short value")
    ob.append_string("long", "y" * 200)
    obj = c.Variant(ob.finish()).get_object()
    short_v = obj.get_field(m.find_string("name"))
    long_v = obj.get_field(m.find_string("long"))
    assert short_v.basic_type == c.BASIC_SHORT_STRING
    assert long_v.primitive_type_id == c.PRIM_STRING
    assert short_v.get_string() == "short value"
    assert long_v.get_string() == "y" * 200


class TestMergePatch:
    """RFC 7386 semantics of codec.merge_patch (appendix test vectors)."""

    def test_rfc7386_vectors(self):
        from datafusion_functions_variant_spark.codec import merge_patch

        cases = [
            ({"a": "b"}, {"a": "c"}, {"a": "c"}),
            ({"a": "b"}, {"b": "c"}, {"a": "b", "b": "c"}),
            ({"a": "b"}, {"a": None}, {}),
            ({"a": "b", "b": "c"}, {"a": None}, {"b": "c"}),
            ({"a": ["b"]}, {"a": "c"}, {"a": "c"}),
            ({"a": "c"}, {"a": ["b"]}, {"a": ["b"]}),
            ({"a": {"b": "c"}}, {"a": {"b": "d", "c": None}}, {"a": {"b": "d"}}),
            ({"a": [{"b": "c"}]}, {"a": [1]}, {"a": [1]}),
            (["a", "b"], ["c", "d"], ["c", "d"]),
            ({"a": "b"}, ["c"], ["c"]),
            ({"a": "foo"}, None, None),
            ({"a": "foo"}, "bar", "bar"),
            ({"e": None}, {"a": 1}, {"e": None, "a": 1}),
            ([1, 2], {"a": "b", "c": None}, {"a": "b"}),
            ({}, {"a": {"bb": {"ccc": None}}}, {"a": {"bb": {}}}),
        ]
        for target, patch, want in cases:
            assert merge_patch(target, patch) == want, (target, patch)

    def test_roundtrips_through_codec(self):
        from datafusion_functions_variant_spark import codec

        meta, vals = codec.batch_from_json(['{"k": 5, "nest": {"x": 1, "y": 2}}'])
        target = codec.to_python(codec.Variant(vals[0]), codec.Metadata(meta))
        merged = codec.merge_patch(target, {"k": None, "nest": {"y": 20}, "z": True})
        keys: set = set()
        codec.collect_keys(merged, keys)
        m2 = codec.Metadata(codec.build_metadata(keys))
        buf = bytearray()
        codec.convert_value(merged, buf, m2)
        out = codec.to_json_str(bytes(buf), codec.build_metadata(keys))
        assert out == '{"nest":{"x":1,"y":20},"z":true}'


def test_declared_only_ids_write_read_roundtrip():
    """The reference DECLARES (but never writes) Float32 / Binary /
    Date32 / timestamp / dictionary-ref ids (values/mod.rs:40-62); the
    codec implements the spec'd behavior for all of them — pin every
    write→read pair plus the type-mismatch errors these getters raise
    (coverage gaps named in the round-10 BASELINE measurement)."""
    import struct

    # float32 (PRIM_FLOAT32)
    b = bytearray()
    c.write_f32(b, 1.5)
    v = c.Variant(bytes(b))
    assert v.get_f32() == 1.5
    with pytest.raises(c.VariantError):
        v.get_f64()

    # binary (PRIM_BINARY)
    b = bytearray()
    c.write_binary(b, b"\x00\xffpayload")
    v = c.Variant(bytes(b))
    assert v.get_binary() == b"\x00\xffpayload"
    with pytest.raises(c.VariantError):
        v.get_string()

    # date32
    b = bytearray()
    c.write_date32(b, -719162)  # 0001-01-01
    assert c.Variant(bytes(b)).get_date32() == -719162

    # timestamps: tz + ntz share the payload, differ in type id
    for ntz in (False, True):
        b = bytearray()
        c.write_timestamp_micros(b, 1_700_000_000_000_000, ntz=ntz)
        v = c.Variant(bytes(b))
        assert v.get_timestamp_micros() == 1_700_000_000_000_000
    with pytest.raises(c.VariantError):
        c.Variant(bytes(b)).get_date32()

    # string/binary from dictionary resolve through the metadata
    meta = c.Metadata(c.build_metadata(["alpha", "beta"]))
    b = bytearray()
    c.write_string_from_dictionary(b, 1)
    v = c.Variant(bytes(b))
    assert v.get_dictionary_index() == 1
    assert v.get_string_from_dictionary(meta) == "beta"
    b = bytearray()
    c.write_binary_from_dictionary(b, 0)
    assert c.Variant(bytes(b)).get_binary_from_dictionary(meta) == b"alpha"
    # OOB dictionary index fails loudly on read
    b = bytearray()
    c.write_string_from_dictionary(b, 7)
    with pytest.raises(c.VariantError):
        c.Variant(bytes(b)).get_string_from_dictionary(meta)
    with pytest.raises(c.VariantError):
        c.write_string_from_dictionary(bytearray(), 1 << 33)

    # decimal16: 128-bit unscaled value round-trips; >128 bits errors
    big = (1 << 100) + 12345
    b = bytearray()
    c.write_decimal(b, big, 9)
    v = c.Variant(bytes(b))
    assert v.get_i128() == big
    assert v.get_decimal() == (big, 9)
    with pytest.raises(c.VariantError):
        c.write_decimal(bytearray(), 1 << 128, 0)
    with pytest.raises(c.VariantError):
        v.get_int()  # decimal16 is not an integer id


def test_builder_typed_appenders_and_field_by_index():
    """ObjectBuilder's typed appenders (null/bool/decimal) and
    Variant.field() dispatch (object field-id / array index / scalar
    None — read.rs:87-93)."""
    meta_buf = c.build_metadata(["a", "b", "d", "n"])
    meta = c.Metadata(meta_buf)
    ob = c.ObjectBuilder(meta)
    ob.append_null("n")
    ob.append_bool("b", True)
    ob.append_decimal("d", 1234, 2)
    ob.append_i64("a", 7)
    v = c.Variant(bytes(ob.finish()))
    obj = v.get_object()
    assert v.field(meta.find_string("a")).get_i64() == 7
    assert v.field(meta.find_string("b")).get_bool() is True
    assert v.field(meta.find_string("d")).get_decimal() == (1234, 2)
    assert v.field(meta.find_string("n")).is_null()
    # array index dispatch + scalar → None
    ab = c.ArrayBuilder()
    el = bytearray()
    c.write_i64(el, 42)
    ab.append_value(bytes(el))
    av = c.Variant(bytes(ab.finish()))
    assert av.field(0).get_i64() == 42
    scalar = bytearray()
    c.write_i64(scalar, 1)
    assert c.Variant(bytes(scalar)).field(0) is None


def test_codec_error_paths_fail_loudly():
    """Malformed buffers raise VariantError, never mis-parse: empty
    metadata/value, unsorted sorted-flag dictionary, not-object /
    not-array views, 4-byte offset width selection."""
    with pytest.raises(c.VariantError):
        c.Metadata(b"")
    with pytest.raises(c.VariantError):
        c.Variant(b"")
    # binary search requires the sorted flag: clear it and find_string
    # must refuse rather than silently bisect an unsorted dictionary
    unsorted = bytearray(c.build_metadata(["x", "y"]))
    unsorted[0] &= ~0x10
    with pytest.raises(c.VariantError):
        c.Metadata(bytes(unsorted)).find_string("x")
    scalar = bytearray()
    c.write_bool(scalar, True)
    with pytest.raises(c.VariantError):
        c.ObjectView(c.Variant(bytes(scalar)))
    with pytest.raises(c.VariantError):
        c.ArrayView(c.Variant(bytes(scalar)))
    # _byte_width picks 4- and 8-byte widths for large maxima
    assert c._byte_width(0x7FFFFFFF) == 4
    assert c._byte_width(0x80000000) == 8


def test_to_python_declared_only_ids_and_path_walk_misses():
    """to_python renders every declared-only id to the natural Python
    value (float32, binary, dictionary refs, date32, both timestamp
    flavors); walk_path returns None on type mismatches instead of
    raising; parse_json_path rejects malformed syntax."""
    from datetime import date, datetime, timezone

    meta = c.Metadata(c.build_metadata(["k"]))

    def rt(writer, *args):
        b = bytearray()
        writer(b, *args)
        return c.to_python(c.Variant(bytes(b)), meta)

    assert rt(c.write_f32, 2.5) == 2.5
    assert rt(c.write_binary, b"\x01\x02") == b"\x01\x02"
    assert rt(c.write_string_from_dictionary, 0) == "k"
    assert rt(c.write_binary_from_dictionary, 0) == b"k"
    assert rt(c.write_date32, 19000) == date(1970, 1, 1).fromordinal(
        date(1970, 1, 1).toordinal() + 19000
    )
    assert rt(c.write_timestamp_micros, 1_000_000) == datetime(
        1970, 1, 1, 0, 0, 1, tzinfo=timezone.utc
    )
    assert rt(c.write_timestamp_micros, 1_000_000, True) == datetime(
        1970, 1, 1, 0, 0, 1
    )
    big = bytearray()
    c.write_decimal(big, (1 << 80) + 3, 0)  # decimal16, scale 0 → int
    assert c.to_python(c.Variant(bytes(big)), meta) == (1 << 80) + 3

    # walk_path type-mismatch rules: scalar under object step, scalar
    # under array step, missing field id → all None, never an error
    scalar = bytearray()
    c.write_i64(scalar, 5)
    assert c.walk_path(bytes(scalar), ["a"], [0]) is None
    assert c.walk_path(bytes(scalar), [0], [None]) is None
    assert c.walk_path(bytes(scalar), ["a"], [None]) is None

    with pytest.raises(c.VariantError):
        c.parse_json_path("$..x")  # empty step
    with pytest.raises(c.VariantError):
        c.parse_json_path("$x")  # bad syntax after root
    with pytest.raises(c.VariantError):
        c._render_json(object())  # not JSON serializable


def test_object_builder_order_and_direct_write_byte_identical():
    """The r15 encode-path optimization must be byte-invisible:

    * ``finish``'s in-order identity fast path and the sorted-repack
      fallback must emit IDENTICAL buffers for the same field set —
      pinned by inserting the same fields in sorted vs reversed order;
    * the ``begin_child``/``seal_child`` direct-write idiom must match
      the ``append_value`` copy path byte for byte.
    """
    meta = c.Metadata(c.build_metadata(["a", "b", "c"]))

    def fill(ob, keys):
        payloads = {"a": 1, "b": 2, "c": 3}
        for k in keys:
            ob.append_i64(k, payloads[k])
        return ob.finish()

    in_order = fill(c.ObjectBuilder(meta), ["a", "b", "c"])
    reversed_ = fill(c.ObjectBuilder(meta), ["c", "b", "a"])
    assert in_order == reversed_

    # direct-write vs copy path, including a nested child
    ob_copy = c.ObjectBuilder(meta)
    child = bytearray()
    c.write_string(child, "x" * 40)
    ob_copy.append_value("b", bytes(child))
    ob_copy.append_i64("c", 7)

    ob_direct = c.ObjectBuilder(meta)
    c.write_string(ob_direct.begin_child("b"), "x" * 40)
    ob_direct.seal_child()
    ob_direct.append_i64("c", 7)
    assert ob_copy.finish() == ob_direct.finish()

    # empty object: both paths produce the canonical empty buffer
    assert c.ObjectBuilder(meta).finish() == bytes([c.BASIC_OBJECT, 0, 0])

"""DataFrame-level tests for the variant function surface — Track N
wrappers and Track C explicit-codec pandas UDFs (SURVEY.md §2 Part A
parity at the API level)."""

import json

import pandas as pd
import pytest
from pyspark.sql import functions as F

from datafusion_functions_variant_spark import codec
from datafusion_functions_variant_spark.functions import explicit, variant
from datafusion_functions_variant_spark.functions.registry import register_sql_functions


def test_track_n_roundtrip(spark):
    df = spark.createDataFrame(
        [('{"a": 1, "b": [true, null, "x"]}',), ("[1.5, 2]",), ("null",), (None,)],
        ["j"],
    )
    out = df.select(
        variant.variant_to_json(variant.try_parse_json("j")).alias("rt"),
        variant.typeof_variant(variant.try_parse_json("j")).alias("t"),
    ).collect()
    assert json.loads(out[0]["rt"]) == {"a": 1, "b": [True, None, "x"]}
    assert out[1]["t"].startswith("ARRAY")
    assert out[3]["rt"] is None


def test_track_n_variant_get_and_null_duality(spark):
    df = spark.createDataFrame([('{"k": null}',), ('{"k": 7}',)], ["j"])
    v = variant.parse_json("j")
    rows = df.select(
        variant.is_variant_null(variant.try_variant_get(v, "$.k", "variant")).alias("vn"),
        variant.try_variant_get(v, "$.k", "bigint").alias("k"),
    ).collect()
    assert rows[0]["vn"] is True and rows[0]["k"] is None
    assert rows[1]["vn"] is False and rows[1]["k"] == 7


def test_track_n_shred(spark):
    df = spark.createDataFrame([('{"a": 5, "b": "x"}',)], ["j"]).withColumn(
        "v", variant.parse_json("j")
    )
    out = variant.shred(df, "v", {"a": ("$.a", "bigint"), "b": ("$.b", "string")})
    row = out.select("a", "b").first()
    assert (row["a"], row["b"]) == (5, "x")


def test_explicit_kernel_batch_metadata(spark):
    # single partition → single Arrow batch; sharing is per-batch
    df = spark.createDataFrame(
        [('{"x": 1}',), ('{"y": 2}',), ("null",), (None,)], ["j"]
    ).coalesce(1)
    out = df.select(explicit.variant_from_json(F.col("j")).alias("v")).collect()
    # one shared metadata for the batch (union of keys x, y)
    metas = {bytes(r["v"]["metadata"]) for r in out}
    assert len(metas) == 1
    # top-level JSON null AND SQL null both → null value slot
    assert out[2]["v"]["value"] is None
    assert out[3]["v"]["value"] is None


def test_explicit_get_and_typeof(spark):
    df = spark.createDataFrame(
        [('{"a": {"b": [1, 2, {"c": "hit"}]}}',), ('{"a": 3}',)], ["j"]
    ).withColumn("v", explicit.variant_from_json(F.col("j")))
    rows = df.select(
        explicit.variant_get("v", "$.a.b[2].c", "string").alias("c"),
        explicit.variant_get("v", "$.a", "bigint").alias("a_int"),
        explicit.variant_typeof(F.col("v")).alias("t"),
        explicit.variant_to_json(F.col("v")).alias("rt"),
    ).collect()
    assert rows[0]["c"] == "hit"
    assert rows[0]["a_int"] is None  # object, not castable
    assert rows[1]["a_int"] == 3
    assert rows[0]["t"] == "object"
    assert json.loads(rows[0]["rt"]) == {"a": {"b": [1, 2, {"c": "hit"}]}}


def test_explicit_extract_grouped_paths_match_single_getters(spark):
    """variant_extract groups specs sharing one json path (round 15:
    one walk + one decode per path per row); every (path, dtype)
    member must still equal the independent single-getter result —
    including absent keys, non-castable values, and the root typeof."""
    rows = [
        ('{"k": 7, "s": "txt"}',),
        ('{"k": {"nested": 1}}',),   # $.k bigint → None, string → json
        ('{"other": true}',),        # $.k absent
        (None,),
    ]
    df = spark.createDataFrame(rows, ["j"]).withColumn(
        "v", explicit.variant_from_json(F.col("j"))
    )
    fused = explicit.variant_extract(
        "v",
        {
            "k_int": ("$.k", "bigint"),
            "k_str": ("$.k", "string"),
            "k_type": ("$.k", "typeof"),
            "root_t": ("$", "typeof"),
        },
    )
    out = df.select(
        fused["k_int"].alias("f_int"),
        fused["k_str"].alias("f_str"),
        fused["k_type"].alias("f_type"),
        fused["root_t"].alias("f_root"),
        explicit.variant_get("v", "$.k", "bigint").alias("g_int"),
        explicit.variant_get("v", "$.k", "string").alias("g_str"),
        explicit.variant_get("v", "$.k", "typeof").alias("g_type"),
        explicit.variant_get("v", "$", "typeof").alias("g_root"),
    ).collect()
    for r in out:
        assert r["f_int"] == r["g_int"]
        assert r["f_str"] == r["g_str"]
        assert r["f_type"] == r["g_type"]
        assert r["f_root"] == r["g_root"]
    assert [r["f_int"] for r in out] == [7, None, None, None]
    assert [r["f_str"] for r in out] == ["7", '{"nested":1}', None, None]
    assert [r["f_root"] for r in out] == ["object", "object", "object", None]


def test_explicit_tolerant_parse(spark):
    df = spark.createDataFrame([('{"ok": 1}',), ("{broken",), (None,)], ["j"])
    out = df.select(explicit.try_variant_from_json(F.col("j")).alias("v")).collect()
    assert out[0]["v"]["value"] is not None
    assert out[1]["v"]["value"] is None
    assert out[2]["v"]["value"] is None


def test_try_variant_from_json_nulls_spliced_rows():
    # malformed one by one, although joined they spell [[1, 2], 3, 4]
    out = explicit.try_variant_from_json.func(pd.Series(["[1", "2]", "3,4"]))
    assert out["value"].tolist() == [None, None, None]


def _decode_column(df: pd.DataFrame) -> list:
    return [
        None if vb is None else codec.to_python(codec.Variant(vb), codec.Metadata(mb))
        for mb, vb in zip(df["metadata"], df["value"])
    ]


def test_merge_patch_udf_matches_codec_merge_patch():
    """The pandas-UDF body equals codec.merge_patch row by row: a SQL
    NULL patch keeps the target, the text ``null`` nulls it, and a
    null target stays null without its patch text being parsed."""
    target = '{"a": 1, "b": {"c": 2, "d": 3}}'
    patches = ["null", "false", "0", None, '{"b": {"c": null}, "e": [1]}', "{bad"]
    targets = explicit.variant_from_json.func(pd.Series([target] * 5 + [None]))
    out = explicit.variant_merge_patch.func(targets, pd.Series(patches, dtype=object))
    want = []
    for t, p in zip(_decode_column(targets), patches):
        if t is None:
            want.append(None)
        else:
            want.append(t if p is None else codec.merge_patch(t, json.loads(p)))
    assert _decode_column(out) == want
    assert want[:4] == [None, False, 0, json.loads(target)]
    assert len(set(out["metadata"])) == 1


def test_merge_patch_udf_malformed_patch_raises():
    targets = explicit.variant_from_json.func(pd.Series(['{"a": 1}', '{"a": 2}']))
    with pytest.raises(codec.VariantError):
        explicit.variant_merge_patch.func(targets, pd.Series(['{"a": 3}', "{bad"]))


def test_sql_getters_two_paths_in_one_batch(spark):
    """codec_get_* with a path column that varies within one Arrow
    batch match the Python-API getter for each row's path."""
    register_sql_functions(spark)
    docs = [
        '{"a": 1, "b": {"c": "x"}}',
        '{"a": 2, "b": {"c": 7}}',
        '{"a": "3", "b": {}}',
        '{"b": {"c": 9}}',
    ]
    rows = [(d, p) for d in docs for p in ("$.a", "$.b.c")] + [(docs[0], None)]
    df = (
        spark.createDataFrame(rows, "j string, p string")
        .coalesce(1)
        .withColumn("v", explicit.variant_from_json(F.col("j")))
    )
    out = df.select(
        "p",
        F.expr("codec_get_bigint(v, p)").alias("sql_int"),
        F.expr("codec_get_string(v, p)").alias("sql_str"),
        explicit.variant_get("v", "$.a", "bigint").alias("a_int"),
        explicit.variant_get("v", "$.a", "string").alias("a_str"),
        explicit.variant_get("v", "$.b.c", "bigint").alias("c_int"),
        explicit.variant_get("v", "$.b.c", "string").alias("c_str"),
    ).collect()
    for r in out:
        if r["p"] is None:
            assert r["sql_int"] is None and r["sql_str"] is None
            continue
        col = "a" if r["p"] == "$.a" else "c"
        assert (r["sql_int"], r["sql_str"]) == (r[f"{col}_int"], r[f"{col}_str"])
    assert [r["sql_int"] for r in out[:8]] == [1, None, 2, 7, 3, None, None, 9]


def test_explicit_matches_native(spark):
    """Track C and Track N agree on the same data."""
    df = spark.read.parquet("/root/testdata/sf0.001/events.parquet").limit(200)
    both = df.select(
        F.variant_get(F.parse_json("props"), "$.k", "bigint").alias("native_k"),
        explicit.variant_get(
            explicit.variant_from_json(F.col("props")), "$.k", "bigint"
        ).alias("codec_k"),
    )
    assert both.where("native_k IS DISTINCT FROM codec_k").count() == 0


def test_ivf_recall_vs_brute_force(spark):
    """Both IVF variants (seeded, k-means-refined) must keep recall@3
    >= 0.6 against the exact brute-force top-k — guards the index
    build (assignment metric, probe metric, Lloyd refinement) against
    silent drift. (Exercises the operators directly; the registry
    queries now emit the recall SUMMARY for the driver's oracle, and
    that path is asserted alongside.)"""
    from datafusion_functions_variant_spark.operators import dedup, similarity
    from datafusion_functions_variant_spark.queries import load_all_queries
    from datafusion_functions_variant_spark.sources.tables import load_table

    R = load_all_queries()
    sf = "/root/testdata/sf0.001"
    emb = dedup.fan_out(load_table(spark, sf, "embeddings"))
    queries_df = emb.where(F.col("vec_id") < 5)
    exact = {
        (r.query_id, r.vec_id)
        for r in similarity.brute_force_topk(
            emb, queries_df, k=3, exact=True
        ).collect()
    }
    for refine, qname in ((0, "similarity_ivf_topk"), (2, "similarity_ivf_kmeans_topk")):
        got = {
            (r.query_id, r.vec_id)
            for r in similarity.ivf_topk(
                emb, queries_df, k=3, n_centroids=16, n_probe=2, refine_iters=refine
            ).collect()
        }
        recall = len(got & exact) / len(exact)
        assert recall >= 0.6, f"ivf refine_iters={refine} recall@3={recall}"
        summary = R[qname].build(spark, sf).collect()
        assert len(summary) == 1 and summary[0].recall_ok


def test_gram_array_short_text_guard(spark):
    """Texts shorter than n must yield an EMPTY gram set — Spark's
    sequence(1, x) descends for x < 1 and would emit garbage substrings
    without the guard. Exactly-n texts yield the single full gram."""
    from pyspark.sql import functions as F

    from datafusion_functions_variant_spark.operators.dedup import gram_array

    df = spark.createDataFrame(
        [("ab",), ("abcdefgh",), ("abcdefghi",), ("",)], ["text"]
    ).select(gram_array("text", 8).alias("g"))
    rows = [r.g for r in df.collect()]
    assert rows[0] == []
    assert rows[1] == ["abcdefgh"]
    assert rows[2] == ["abcdefgh", "bcdefghi"]
    assert rows[3] == []


def test_fan_out_repartitions_only_narrow_inputs(spark):
    from datafusion_functions_variant_spark.operators.dedup import fan_out

    one = spark.range(100).coalesce(1)
    assert fan_out(one).rdd.getNumPartitions() >= spark.sparkContext.defaultParallelism
    wide = spark.range(100).repartition(64)
    assert fan_out(wide).rdd.getNumPartitions() == 64  # untouched


def test_minhash_text_matches_grams_formulation(spark):
    """The narrow signature path must produce IDENTICAL signatures to
    the grams-relation formulation (min is duplicate-insensitive)."""
    from datafusion_functions_variant_spark.operators import dedup
    from datafusion_functions_variant_spark.sources.tables import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents").limit(200)
    grams = dedup.char_ngrams(docs, "text", "doc_id", n=8)
    a = dedup.minhash_signatures(grams, "doc_id", num_hashes=4)
    b = dedup.minhash_signatures_text(docs, "text", "doc_id", n=8, num_hashes=4)
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_multimodal_decoder_seam(spark):
    """The MediaDecoder seam: without a decoder featurize_binary emits
    exactly MEDIA_META_SCHEMA (the oracle-checked default must not
    drift); with one, the decoder's declared fields are appended and
    its fn runs per payload inside the same mapInPandas stage."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import IntegerType, StructField, StructType

    from datafusion_functions_variant_spark.operators import multimodal as mm

    df = spark.createDataFrame(
        [(1, b"\x89PNGxxxx"), (2, b"plain-bytes")], ["asset_id", "payload"]
    ).withColumn("payload", F.col("payload").cast("binary"))

    base = mm.featurize_binary(df, "payload", "asset_id")
    assert base.schema == mm.MEDIA_META_SCHEMA

    fake = mm.MediaDecoder(
        name="fake",
        fields=StructType([StructField("fake_width", IntegerType())]),
        fn=lambda p: {"fake_width": len(p) * 10},
    )
    rows = {
        r.asset_id: r
        for r in mm.featurize_binary(df, "payload", "asset_id", decoder=fake).collect()
    }
    assert rows[1].fake_width == 80 and rows[2].fake_width == 110
    assert rows[1].mime == "image/png" and rows[2].mime == "application/octet-stream"


def test_multimodal_decoder_registry_and_frame_extractor(spark):
    """decode_image raises without a registered decoder, dispatches to
    one when registered; frame_sample_plan's frame_extractor seam
    replaces the fake length-derived fan-out."""
    import hashlib

    import pytest as _pytest
    from pyspark.sql import functions as F

    from datafusion_functions_variant_spark.operators import multimodal as mm

    try:
        import PIL  # noqa: F401

        have_pil = True
    except ImportError:
        have_pil = False
    if have_pil:
        assert mm.get_decoder("image") is not None  # autoregistered
    else:
        assert mm.get_decoder("image") is None
        with _pytest.raises(NotImplementedError):
            mm.decode_image(b"anything")
    saved = mm._DECODERS.pop("image", None)
    probe = mm.MediaDecoder(
        name="probe",
        fields=mm.MEDIA_META_SCHEMA,  # unused by decode_image dispatch
        fn=lambda p: {"n": len(p)},
    )
    mm.register_decoder("image", probe)
    try:
        assert mm.decode_image(b"abc") == {"n": 3}
    finally:
        mm._DECODERS.pop("image", None)
        if saved is not None:
            mm._DECODERS["image"] = saved

    df = spark.createDataFrame([(7, b"0123456789")], ["asset_id", "payload"]).withColumn(
        "payload", F.col("payload").cast("binary")
    )

    def two_frames(payload, every_n):
        return [(0, payload[:5]), (every_n, payload[5:])]

    got = (
        mm.frame_sample_plan(df, "payload", "asset_id", every_n=4, frame_extractor=two_frames)
        .orderBy("frame_idx")
        .collect()
    )
    assert [(r.frame_idx, r.frame_md5) for r in got] == [
        (0, hashlib.md5(b"01234").hexdigest()),
        (4, hashlib.md5(b"56789").hexdigest()),
    ]


def test_shredded_write_read_residual(spark, tmp_path):
    """write_shredded: typed columns materialize, top-level shredded
    keys leave the residual, nested shredded paths do NOT (their
    parent stays), fully-shredded rows get a NULL residual, and
    shredded_col serves typed / casts / falls back to residual."""
    from pyspark.sql import functions as F

    from datafusion_functions_variant_spark.sources import shredded

    df = spark.createDataFrame(
        [
            (1, '{"k": 5, "tag": "a", "deep": {"x": 9}}'),
            (2, '{"k": 7}'),
            (3, '{"tag": "b"}'),
        ],
        ["id", "payload"],
    )
    out = str(tmp_path / "store")
    shredded.write_shredded(
        df,
        "payload",
        {"k": ("$.k", "bigint"), "deep_x": ("$.deep.x", "bigint")},
        out,
    )
    back, spec = shredded.read_shredded(spark, out)
    rows = {r.id: r for r in back.collect()}
    assert rows[1].k == 5 and rows[1].deep_x == 9
    assert rows[2].k == 7 and rows[2].deep_x is None
    assert rows[3].k is None
    import json as _json

    r1 = _json.loads(rows[1]._residual)
    assert "k" not in r1  # top-level shredded key removed
    assert r1["tag"] == "a" and r1["deep"] == {"x": 9}  # nested parent kept
    assert rows[2]._residual is None  # fully shredded -> no residual
    assert _json.loads(rows[3]._residual) == {"tag": "b"}

    got = back.select(
        "id",
        shredded.shredded_col(spec, "$.k", "string").alias("k_str"),
        shredded.shredded_col(spec, "$.tag", "string").alias("tag"),
    ).collect()
    got = {r.id: r for r in got}
    assert got[1].k_str == "5" and got[1].tag == "a"
    assert got[3].k_str is None and got[3].tag == "b"


def test_shredded_wildcard_paths(spark, tmp_path):
    """Wildcard shredding ($.items[*].price): every element's field
    lands in a typed array column; missing array -> NULL, empty array
    -> empty; shredded_col resolves wildcard paths from the residual
    too; malformed specs raise."""
    import pytest as _pytest

    from datafusion_functions_variant_spark.sources import shredded

    df = spark.createDataFrame(
        [
            (1, '{"items":[{"sku":"a","price":1.5},{"sku":"b","price":3.0}]}'),
            (2, '{"items":[]}'),
            (3, '{"other": 1}'),
        ],
        ["id", "payload"],
    )
    out = str(tmp_path / "wc")
    shredded.write_shredded(
        df, "payload", {"prices": ("$.items[*].price", "array<double>")}, out
    )
    back, spec = shredded.read_shredded(spark, out)
    rows = {r.id: r for r in back.collect()}
    assert list(rows[1].prices) == [1.5, 3.0]
    assert list(rows[2].prices) == []
    assert rows[3].prices is None

    got = {
        r.id: r
        for r in back.select(
            "id",
            shredded.shredded_col(spec, "$.items[*].price", "array<double>").alias(
                "typed"
            ),
            shredded.shredded_col(spec, "$.items[*].sku", "array<string>").alias(
                "fallback"
            ),
        ).collect()
    }
    assert list(got[1].typed) == [1.5, 3.0]  # served from typed column
    assert list(got[1].fallback) == ["a", "b"]  # served from residual
    assert got[3].fallback is None

    with _pytest.raises(ValueError, match="array<"):
        shredded._shred_expr(None, "$.items[*].price", "double")
    with _pytest.raises(ValueError, match="one"):
        shredded._wildcard_parts("$.a[*].b[*].c")


def test_chunk_text_edges(spark):
    """Empty doc -> one empty chunk; doc shorter than size -> one
    chunk; overlap stitches: chunk i+1 starts (size-overlap) after
    chunk i and repeats the last `overlap` chars."""
    from datafusion_functions_variant_spark.operators import text as T

    df = spark.createDataFrame(
        [(1, ""), (2, "short"), (3, "a" * 10 + "b" * 10 + "c" * 4)],
        ["doc_id", "text"],
    )
    out = {
        (r.doc_id, r.chunk_idx): r.chunk
        for r in T.chunk_text(df, "text", "doc_id", size=10, overlap=4).collect()
    }
    assert out[(1, 0)] == "" and (1, 1) not in out
    assert out[(2, 0)] == "short" and (2, 1) not in out
    assert out[(3, 0)] == "a" * 10
    assert out[(3, 1)] == "a" * 4 + "b" * 6          # starts at 7
    assert out[(3, 2)] == "b" * 8 + "c" * 2          # starts at 13
    assert out[(3, 3)] == "b" * 2 + "c" * 4          # starts at 19, short tail
    assert (3, 4) not in out
    import pytest as _pytest

    with _pytest.raises(ValueError):
        T.chunk_text(df, "text", "doc_id", size=4, overlap=4)


def test_pack_sequences_first_token_rule(spark):
    """A doc belongs to the sequence holding its FIRST token; docs
    spanning a boundary stay in the earlier sequence (concatenate-
    then-chunk semantics)."""
    from datafusion_functions_variant_spark.operators import text as T

    rows = [(i, "s", n) for i, n in enumerate([5, 5, 5, 5, 5])]  # cum starts 0,5,10,15,20
    df = spark.createDataFrame(rows, ["doc_id", "source", "n_tok"])
    got = {
        r.doc_id: r.seq_id
        for r in T.pack_sequences(df, "n_tok", "doc_id", "source", target=12).collect()
    }
    # starts 0,5,10 -> seq 0; starts 15,20 -> seq 1
    assert got == {0: 0, 1: 0, 2: 0, 3: 1, 4: 1}


def test_quantize_int8_codes_and_zero_vector(spark):
    from datafusion_functions_variant_spark.operators import similarity

    df = spark.createDataFrame(
        [(1, [1.0, -2.0, 0.5]), (2, [0.0, 0.0, 0.0])], ["vec_id", "embedding"]
    )
    rows = {r.vec_id: r for r in similarity.quantize_int8(df, "embedding", "vec_id").collect()}
    assert rows[1].qvec == [64, -127, 32]  # scale = 2/127
    assert abs(rows[1].qscale - 2.0 / 127.0) < 1e-15
    assert rows[2].qvec == [0, 0, 0] and rows[2].qscale == 1.0


def test_registry_rotation_prioritizes_unverified():
    """The driver checks only the first 50 registry entries; the
    registry must order every never-driver-verified query before every
    already-verified one so the window sweeps the whole registry over
    successive rounds."""
    from datafusion_functions_variant_spark.queries import (
        _driver_verified_names,
        _reverify_sample,
        load_all_queries,
    )

    names = list(load_all_queries())
    verified = _driver_verified_names()
    # the rotating re-verify sample is deliberately re-fronted
    verified -= _reverify_sample(verified)
    seen_verified = False
    for n in names:
        if n in verified:
            seen_verified = True
        else:
            assert not seen_verified, f"unverified {n} ordered after a verified query"


def test_observe_quality_metrics(spark):
    """observe() metrics ride the same job as the action (no second
    read): the quality bundle reports counts and the assertion helper
    raises on violated bounds."""
    import pytest as _pytest

    from datafusion_functions_variant_spark.plans.observe import (
        assert_observed,
        observe_quality,
    )
    from datafusion_functions_variant_spark.sources.tables import load_table

    from .conftest import SF_DIR

    o = load_table(spark, SF_DIR, "orders")
    observed, obs = observe_quality(o, key_col="o_custkey")
    n = observed.count()
    got = assert_observed(obs, n_rows=(1, None), n_null_keys=(0, 0))
    assert got["n_rows"] == n
    assert got["approx_distinct_keys"] > 0

    observed2, obs2 = observe_quality(o, key_col="o_custkey")
    observed2.count()
    with _pytest.raises(ValueError, match="n_rows"):
        assert_observed(obs2, n_rows=(n + 1, None))


def test_multimodal_pil_decoder_end_to_end(spark):
    """Availability-gated REAL decoder test (mirrors the
    transformWithState gating pattern): if PIL imports, the
    autoregistered image decoder must produce true width/height/mode
    through featurize_binary on a genuine PNG — proving the
    registered-decoder path end-to-end with a real codec. Skipped
    where the container lacks PIL."""
    import pytest as _pytest

    try:
        import PIL.Image
    except ImportError:
        _pytest.skip("PIL not available in this container")

    import io

    from pyspark.sql import functions as F

    from datafusion_functions_variant_spark.operators import multimodal as mm

    # autoregistration ran at import; re-run in case a prior test
    # popped the registry entry
    if mm.get_decoder("image") is None:
        mm._try_autoregister_pil()
    dec = mm.get_decoder("image")
    assert dec is not None and dec.name == "pil"

    buf = io.BytesIO()
    PIL.Image.new("RGB", (37, 21)).save(buf, format="PNG")
    png = buf.getvalue()

    df = spark.createDataFrame([(1, png)], ["asset_id", "payload"]).withColumn(
        "payload", F.col("payload").cast("binary")
    )
    row = mm.featurize_binary(df, "payload", "asset_id", decoder=dec).collect()[0]
    assert row.mime == "image/png"
    assert (row.width, row.height, row.mode) == (37, 21, "RGB")

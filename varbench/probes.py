"""Layer probes for the traced run: direct calls into one layer each,
outside the workload's op mix.

The ``codec`` and ``functions.explicit`` probes run in-process on one
thread while Spark is idle, over the explicit_codec corpus, so the
Python codec's cost is measured apart from worker scheduling. The
``functions.explicit`` probes call the Python bodies of the
module-level pandas UDFs on Series the size of one Arrow batch.
"""

from __future__ import annotations

import statistics
import time

import pandas as pd
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from datafusion_functions_variant_spark import codec
from datafusion_functions_variant_spark.functions import explicit
from datafusion_functions_variant_spark.sources.tables import load_table

REPEATS = 3
#: spark.sql.execution.arrow.maxRecordsPerBatch default.
ARROW_BATCH_ROWS = 10_000


def _median_s(fn, repeats: int = REPEATS) -> float:
    walls = []
    for _ in range(repeats):
        t0 = time.perf_counter()
        fn()
        walls.append(time.perf_counter() - t0)
    return statistics.median(walls)


def spark_layers(ctx, tables: list[str]) -> dict:
    """``sources.scan_s``: load every table the mix reads and consume all
    its columns. ``functions.variant.parse_extract_s``: native parse_json
    plus two variant_get over events."""
    spark, d = ctx.spark, ctx.corpus_dir

    def scan():
        for t in tables:
            load_table(spark, d, t).write.format("noop").mode("overwrite").save()

    def parse_extract():
        v = F.parse_json("props")
        load_table(spark, d, "events").select(
            F.variant_get(v, "$.k", "bigint"), F.variant_get(v, "$.session.pages", "bigint")
        ).write.format("noop").mode("overwrite").save()

    with ctx.tracer.span("sources.scan"):
        scan_s = _median_s(scan)
    with ctx.tracer.span("functions.variant.parse_extract"):
        pe_s = _median_s(parse_extract)
    return {"sources.scan_s": scan_s, "functions.variant.parse_extract_s": pe_s}


def python_layers(tracer, codec_corpus_dir: str) -> dict:
    """In-process ``functions.explicit`` and ``codec`` rates."""
    events = pq.read_table(f"{codec_corpus_dir}/events.parquet").slice(0, ARROW_BATCH_ROWS)
    raw = pq.read_table(f"{codec_corpus_dir}/ingest_raw.parquet").slice(0, ARROW_BATCH_ROWS)
    props = pd.Series(events.column("props").to_pylist())
    raw_s = pd.Series(raw.column("raw").to_pylist())
    ids = events.column("event_id").to_pylist()
    patches = pd.Series([
        ('{"k": null, "sq": %d}' if i % 2 == 0 else '{"sq": %d}') % ((i % 97) ** 2) for i in ids
    ])
    n = len(props)
    out = {}

    with tracer.span("functions.explicit"):
        enc = explicit.variant_from_json.func(props)
        out["functions.explicit.encode_rows_per_s"] = n / _median_s(
            lambda: explicit.variant_from_json.func(props))
        out["functions.explicit.try_encode_rows_per_s"] = len(raw_s) / _median_s(
            lambda: explicit.try_variant_from_json.func(raw_s))
        out["functions.explicit.merge_patch_rows_per_s"] = n / _median_s(
            lambda: explicit.variant_merge_patch.func(enc, patches))
        out["functions.explicit.to_json_rows_per_s"] = n / _median_s(
            lambda: explicit.variant_to_json.func(enc))

    texts = props.tolist()
    with tracer.span("codec"):
        meta, values = codec.batch_from_json(texts)
        m = codec.Metadata(meta)
        steps = codec.parse_json_path("$.session.pages")
        fids = codec.resolve_steps(m, steps)
        out["codec.encode_rows_per_s"] = n / _median_s(lambda: codec.batch_from_json(texts))
        out["codec.get_path_rows_per_s"] = n / _median_s(
            lambda: [codec.get_path_prepared(v, m, steps, fids) for v in values])
        out["codec.to_json_rows_per_s"] = n / _median_s(
            lambda: [codec.to_json_str(v, meta) for v in values])
    json_bytes = sum(len(t.encode()) for t in texts)
    out["codec.encoded_bytes_per_input_byte"] = (sum(map(len, values)) + len(meta)) / json_bytes
    out["codec.metadata_keys_per_batch"] = len(m)
    return out

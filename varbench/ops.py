"""The timed operations and their correctness checks.

An op is one timed call into the package: a registry query's
``build()`` plus a consuming action, one tolerant-ingest batch, or one
shredded-store write followed by its reads. ``run(ctx, collect)``
performs it; with ``collect=True`` (the warm-up and gate pass) it
returns the result for ``check``, otherwise it consumes the result the
way a user would without moving it to the driver (the ``noop`` sink
for registry queries).
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql import functions as F

from datafusion_functions_variant_spark.functions import explicit
from datafusion_functions_variant_spark.operators.dedup import fan_out
from datafusion_functions_variant_spark.sources import shredded
from datafusion_functions_variant_spark.sources.tables import load_table

import corpus
import gate
from spans import Tracer


@dataclass
class Ctx:
    spark: object
    registry: dict
    corpus_dir: str
    stats: dict
    work_dir: str
    tracer: Tracer
    duck: object = None

    def set_group(self, group: str) -> None:
        self.spark.sparkContext.setJobGroup(group, group)


def _arrow_rows(table) -> tuple[list[str], list[tuple]]:
    cols = [c.to_pylist() for c in table.columns]
    return table.column_names, list(zip(*cols))


class RegistryOp:
    """A registry query: build, then consume; checked against its
    DuckDB oracle over the same generated files."""

    def __init__(self, name: str):
        self.name = name

    def run(self, ctx: Ctx, collect: bool):
        spec = ctx.registry[self.name]
        with ctx.tracer.span("queries.build"):
            df = spec.build(ctx.spark, ctx.corpus_dir)
        with ctx.tracer.span("queries.action"):
            if collect:
                return _arrow_rows(df.toArrow())
            df.write.format("noop").mode("overwrite").save()
        return None

    def check(self, ctx: Ctx, result) -> str | None:
        rel = ctx.duck.sql(ctx.registry[self.name].oracle)
        return gate.compare(*result, list(rel.columns), rel.fetchall())


class IngestOp:
    """``functions.explicit.try_variant_from_json`` over the column with
    malformed rows: the malformed rows must come back null and the
    others must decode to the generator's ``$.k``."""

    name = "ingest_try_variant_from_json"

    def run(self, ctx: Ctx, collect: bool):
        with ctx.tracer.span("queries.build"):
            raw = fan_out(load_table(ctx.spark, ctx.corpus_dir, "ingest_raw"))
            v = raw.select(explicit.try_variant_from_json(F.col("raw")).alias("v"))
            agg = v.agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.sum(F.when(F.col("v.value").isNull(), 1).otherwise(0)).alias("n_malformed"),
                F.sum(explicit.variant_get(F.col("v"), "$.k", "bigint")).alias("sum_k"),
            )
        with ctx.tracer.span("queries.action"):
            row = agg.collect()[0]
        return {k: int(row[k] or 0) for k in ("n_rows", "n_malformed", "sum_k")}

    def check(self, ctx: Ctx, result) -> str | None:
        want = ctx.stats["answers"]["ingest"]
        return None if result == want else f"{result} != {want}"


class ShreddedOp:
    """One shredded-store write of the events batch (overwriting, so the
    store size is fixed), then three reads: a pushed typed path, a
    residual path and an array path."""

    name = "shredded_write_read"

    def run(self, ctx: Ctx, collect: bool):
        spark, store = ctx.spark, os.path.join(ctx.work_dir, "store")
        group = ctx.spark.sparkContext.getLocalProperty("spark.jobGroup.id") or ""
        with ctx.tracer.span("sources.shredded.write"):
            ctx.set_group(group + "/write")
            src = load_table(spark, ctx.corpus_dir, "events").select(
                "event_id", "event_type", "value", "props")
            shredded.write_shredded(src, "props", corpus.SHRED_SPEC, store)
        with ctx.tracer.span("sources.shredded.read"):
            ctx.set_group(group + "/read")
            df, spec = shredded.read_shredded(spark, store)
            hot = df.where(F.col("k") > 90).groupBy("event_type").count().collect()
            pages = shredded.shredded_col(spec, corpus.RESIDUAL_PATH, "bigint")
            res = df.select(pages.alias("p")).agg(F.count("p"), F.sum("p")).collect()[0]
            prices = shredded.shredded_col(spec, "$.items[*].price", "array<double>")
            arr = (
                df.select(F.explode(prices).alias("price"))
                .agg(F.count("price"), F.sum(F.col("price").cast("decimal(18,2)")))
                .collect()[0]
            )
        ctx.set_group(group)
        return {
            "hot_k_by_type": sorted([r["event_type"], r["count"]] for r in hot),
            "residual_rows": res[0],
            "residual_sum": int(res[1] or 0),
            "n_items": arr[0],
            "price_cents": int(round((arr[1] or 0) * 100)),
        }

    def check(self, ctx: Ctx, result) -> str | None:
        want = ctx.stats["answers"]["shredded"]
        return None if result == want else f"{result} != {want}"

    @staticmethod
    def rows_returned(result: dict) -> int:
        return sum(n for _, n in result["hot_k_by_type"]) + result["residual_rows"] + result["n_items"]

    @staticmethod
    def store_size(ctx: Ctx) -> tuple[int, int]:
        """(bytes, data files) of the store on disk."""
        total = files = 0
        for root, _dirs, names in os.walk(os.path.join(ctx.work_dir, "store")):
            for n in names:
                total += os.path.getsize(os.path.join(root, n))
                files += n.endswith(".parquet")
        return total, files


def make_op(name: str):
    if name == IngestOp.name:
        return IngestOp()
    if name == ShreddedOp.name:
        return ShreddedOp()
    return RegistryOp(name)

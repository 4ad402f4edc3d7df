"""Isolated per-query measurement for an optimization round.

Times a subset of registry queries with the SAME warmup+median
protocol as bench.py (one untimed warmup, N timed samples, median +
min reported), on a session built exactly like the bench's. Two
consume modes:

* ``checksum`` (default) — bench.py's value-consuming CRC32 fold, so
  numbers are directly comparable with BENCH.json columns.
* ``noop``     — guide §1.4's noop sink (computes every column of
  every row, discards; no JVM-side checksum arithmetic).

Usage:
  python scripts/measure.py <round> [--runs N] [--dir D] [--noop] name...

``round`` (e.g. r17) names the Spark application.

Prints one line per query: name, median, min, loadavg-at-finish.
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import loadavg_now, time_samples  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("round")
    ap.add_argument("names", nargs="+")
    ap.add_argument("--runs", type=int, default=5)
    ap.add_argument("--dir", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--noop", action="store_true")
    args = ap.parse_args()

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    from pyspark.sql import functions as F

    from datafusion_functions_variant_spark.plans.session import get_session
    from datafusion_functions_variant_spark.queries import load_all_queries

    spark = get_session(
        app_name=f"measure_{args.round}",
        master=f"local[{cpus}]",
        shuffle_partitions=max(cpus, 16),
    )
    spark.sparkContext.setLogLevel("ERROR")
    registry = load_all_queries()
    spark.read.parquet(os.path.join(args.dir, "region.parquet")).count()

    if args.noop:
        def consume(df) -> None:
            df.write.format("noop").mode("overwrite").save()
    else:
        def consume(df) -> None:
            df.select(
                F.sum(F.crc32(F.to_json(F.struct(*df.columns)).cast("binary")))
            ).collect()

    for name in args.names:
        spec = registry.get(name)
        if spec is None:
            print(f"{name}: NOT IN REGISTRY", file=sys.stderr)
            continue
        spark.sparkContext.setJobDescription(f"measure:{name}")
        try:
            samples = time_samples(spark, spec.build, args.dir, args.runs, consume)
        except Exception as e:  # noqa: BLE001
            print(f"{name}: FAIL {type(e).__name__}: {e}".splitlines()[0][:200])
            continue
        med = sorted(samples)[len(samples) // 2]
        la = loadavg_now()
        print(
            f"{name}: median={med:.3f} min={min(samples):.3f} "
            f"samples={[round(s, 3) for s in samples]} load={la and la[0]}"
        )
    spark.stop()


if __name__ == "__main__":
    main()

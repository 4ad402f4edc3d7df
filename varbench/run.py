#!/usr/bin/env python3
"""Benchmark entry point: one workload, one process, one Spark session.

    python3 varbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. It generates the seeded corpus (cached
under ``.varbench/``), starts the package's session with half the
CPUs as task slots (see ``spark_cores``), loads the query registry,
runs every op of the workload once as the correctness gate, then
``warm_passes`` untimed passes over the mix
(gate and passes together are the warm-up), then times the mix in a
closed loop: one client, whole passes, as many as fill ``--seconds``
on the reference machine (see ``Run.loop``).

The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0``
the metrics are the end-to-end ones of BENCHMARK.json; with
``--trace 1`` they are its per-layer ones, from a run that alternates
untraced and traced passes (the pair gives ``trace.overhead_frac``)
and then calls each layer's probe once. Everything else the run knows
(samples, per-op layer split, spans, gate results, corpus shape) goes
to ``.varbench/out/<workload>-s<seed>-t<trace>.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".varbench")
PACKAGE = "datafusion_functions_variant_spark"
STREAM_OP = "stream_transform_with_state"
#: the op-latency percentile reported as op_tail_s
TAIL_PCT = 90
#: Per-op layer metrics of the trace artifact (name -> per-op median key).
PER_OP_LAYER = {
    "queries.build_s": "queries.build",
    "queries.action_s": "queries.action",
    "spark.task_run_s": "task_run_s",
    "spark.task_cpu_s": "task_cpu_s",
    "spark.tasks": "tasks",
    "spark.shuffle_write_bytes": "shuffle_write_bytes",
    "spark.gc_s": "gc_s",
    "trace.top_span_cover_frac": "top_span_cover",
}


def process_start_wall() -> float:
    """Wall-clock time this process started (from /proc), so set-up time
    includes interpreter start and imports."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return time.time() - (uptime - start_ticks / os.sysconf("SC_CLK_TCK"))


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for pid {pid}")


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def spark_cores() -> int:
    """Task slots of the session: half the CPUs this process may use.
    The JVM's JIT and GC threads, the driver's Python and the Python
    workers need CPUs too; with a slot per CPU a run times how the
    scheduler shares the machine (and its neighbours on a shared host)
    more than how the program runs."""
    return max(1, len(os.sched_getaffinity(0)) // 2)


def prepare_env(run_tmp: str) -> None:
    """Keep every file Spark, the JVM and Python workers write inside the
    checkout, and give executor workers the package on their path."""
    os.makedirs(run_tmp, exist_ok=True)
    os.environ["TMPDIR"] = run_tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_tmp, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(spark_cores())
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options -Djava.io.tmpdir={run_tmp} "
        "--conf spark.ui.showConsoleProgress=false pyspark-shell"
    )
    sys.path[:0] = [ROOT, HERE]


def tail(walls: list[float]) -> tuple[float, float, int]:
    """(value, percentile, samples beyond) of the TAIL_PCT-th percentile,
    interpolated between the two samples around it. A run has 15 to 40
    ops, too few for a percentile with ten samples beyond it that is
    not below the median, and the maximum alone is one op's luck."""
    if len(walls) < 2:
        return walls[0], 100.0, 0
    value = statistics.quantiles(walls, n=100, method="inclusive")[TAIL_PCT - 1]
    return value, float(TAIL_PCT), sum(w > value for w in walls)


def median_of(values, default=0.0):
    values = [v for v in values if v is not None]
    return statistics.median(values) if values else default


class Run:
    def __init__(self, args, spec: dict):
        self.args = args
        self.spec = spec
        self.wl = spec["workloads"][args.workload]
        self.samples: list[dict] = []

    # --- set-up --------------------------------------------------------

    def start(self, corpus_dir: str, stats: dict) -> None:
        import duckdb

        from datafusion_functions_variant_spark.plans.session import get_session
        from datafusion_functions_variant_spark.queries import load_all_queries
        from datafusion_functions_variant_spark.vendor import ensure_protobuf

        import ops
        import probes  # noqa: F401 - imported before the traced run patches load_table
        import spans

        self.ops_mod, self.spans = ops, spans
        tracer = spans.Tracer(enabled=bool(self.args.trace))
        ensure_protobuf()  # before the JVM starts: state-runner workers need it
        t0 = time.perf_counter()
        with tracer.span("plans.get_session"):
            spark = get_session(app_name=f"varbench-{self.args.workload}")
        t1 = time.perf_counter()
        spark.sparkContext.setLogLevel("ERROR")
        with tracer.span("queries.load_all_queries"):
            registry = load_all_queries()
        t2 = time.perf_counter()
        self.layer = {"plans.get_session_s": (t1 - t0, "s"),
                      "queries.load_all_queries_s": (t2 - t1, "s")}
        duck = duckdb.connect()
        for f in sorted(os.listdir(corpus_dir)):
            if f.endswith(".parquet"):
                duck.sql(f"CREATE VIEW {f[:-8]} AS SELECT * FROM read_parquet('{corpus_dir}/{f}')")
        self.ctx = ops.Ctx(spark, registry, corpus_dir, stats, self.run_dir, tracer, duck)
        self.ops = [ops.make_op(n) for n in self.wl["ops"]]
        self.cores = spark.sparkContext.defaultParallelism
        self.reader = spans.StageReader(spark) if self.args.trace else None

    def warm_up_and_gate(self) -> float:
        """Run each op once with its result collected, and check it.
        Returns the seconds spent checking (not part of set-up)."""
        self.gate, self.warm_up_s = {}, {}
        checking = 0.0
        for op in self.ops:
            self.ctx.set_group(f"gate:{op.name}")
            self.ctx.tracer.op_id = f"gate:{op.name}"
            t0 = time.perf_counter()
            try:
                result = op.run(self.ctx, collect=True)
            except Exception as e:  # noqa: BLE001 - a raising op is a failed op
                self.gate[op.name] = f"raised {type(e).__name__}: {e}"[:500]
                continue
            finally:
                self.warm_up_s[op.name] = time.perf_counter() - t0
            t0 = time.perf_counter()
            self.gate[op.name] = op.check(self.ctx, result)
            checking += time.perf_counter() - t0
        return checking

    # --- timed loop ----------------------------------------------------

    def run_op(self, op, op_id: str, traced: bool, kind: str) -> dict:
        ctx = self.ctx
        ctx.set_group(op_id)
        ctx.tracer.enabled = traced
        ctx.tracer.op_id = op_id
        error = result = None
        t0 = time.perf_counter()
        with ctx.tracer.span("op"):
            try:
                result = op.run(ctx, collect=False)
            except Exception as e:  # noqa: BLE001 - counted, the loop goes on
                error = f"{type(e).__name__}: {e}"[:500]
        wall = time.perf_counter() - t0
        s = {"op": op.name, "op_id": op_id, "kind": kind, "wall": wall, "traced": traced,
             "error": error}
        if isinstance(op, self.ops_mod.ShreddedOp) and error is None:
            s["bytes_written"], s["files"] = op.store_size(ctx)
            s["rows_returned"] = op.rows_returned(result)
        if traced:
            t1 = time.perf_counter()
            s["stages"] = self.reader.read()
            s["trace_read_s"] = time.perf_counter() - t1
        self.samples.append(s)
        return s

    def loop(self, seconds: float) -> None:
        """A fixed number of whole passes over the mix: ``seconds`` divided
        by the workload's nominal pass time (``pass_s``, measured on the
        reference machine). Every run, and every commit, then times the
        same ops, so medians and the tail compare like with like; a
        slower machine or commit measures for longer. A traced run
        alternates untraced and traced passes and makes at least three,
        so the untraced ones bracket a traced one."""
        passes = max(3 if self.args.trace else 1, round(seconds / self.wl["pass_s"]))
        start = time.perf_counter()
        for cycle in range(passes):
            traced = bool(self.args.trace) and cycle % 2 == 1
            if traced:
                self.reader.read()  # drop the untraced pass's jobs
            for op in self.ops:
                self.run_op(op, f"c{cycle}:{op.name}", traced, "loop")
        self.measured_s = time.perf_counter() - start
        self.passes = passes

    # --- metrics -------------------------------------------------------

    def json_bytes(self, op_name: str) -> int:
        jb = self.ctx.stats["json_bytes"]
        return sum(jb.get(t, 0) for t in self.spec["op_inputs"][op_name])

    def rows(self, op_name: str) -> int:
        r = self.ctx.stats["rows"]
        return sum(r[t] for t in self.spec["op_inputs"][op_name])

    def failed_kinds(self) -> set[str]:
        return {name for name, reason in self.gate.items() if reason is not None}

    def end_to_end(self, setup_s: float, shuffle_bytes: int) -> dict:
        """Timings from the untraced passes; every pass counts toward
        attempted and failed ops. Throughput is the rows one pass of the
        mix consumes over the sum of the ops' median walls."""
        attempted = [s for s in self.samples if s["kind"] == "loop"]
        self.attempted = len(attempted)
        self.failed = sum(1 for s in attempted if s["error"] or s["op"] in self.failed_kinds())
        loop = [s for s in attempted if not s["traced"]]
        failed = sum(1 for s in loop if s["error"] or s["op"] in self.failed_kinds())
        walls = [s["wall"] for s in loop]
        by_op: dict[str, list[float]] = {}
        for s in loop:
            by_op.setdefault(s["op"], []).append(s["wall"])
        # one pass of the mix at each op's median wall, so a pass that a
        # neighbour on the host slowed down does not set the figure
        pass_wall = sum(statistics.median(w) for w in by_op.values())
        t, pct, beyond = tail(walls)
        self.tail_info = {"percentile": pct, "samples": len(walls), "beyond": beyond}
        written = sum(s.get("bytes_written", 0) for s in loop) + shuffle_bytes
        m = {
            "setup_s": (setup_s, "s"),
            "throughput_rows_per_s": (sum(self.rows(op) for op in by_op) / pass_wall, "rows/s"),
            "op_p50_s": (statistics.median(walls), "s"),
            "op_tail_s": (t, "s"),
            "ok_op_ratio": ((len(loop) - failed) / len(loop), "ratio"),
            "bytes_stored_per_input_byte": (written / sum(self.json_bytes(s["op"]) for s in loop), "ratio"),
        }
        return m

    def span_totals(self) -> dict[str, dict[str, float]]:
        """op id -> span name -> total duration."""
        by_op: dict[str, dict] = {}
        for sp in self.ctx.tracer.spans:
            d = by_op.setdefault(sp.op_id, {})
            d[sp.name] = d.get(sp.name, 0.0) + sp.dur
        return by_op

    def per_op(self) -> dict:
        """Per op of the mix and per probe op: medians over its traced
        samples of span times and stage metrics."""
        by_op = self.span_totals()
        top_cover = {}
        for sp in self.ctx.tracer.spans:
            if sp.name == "op":
                kids = [c.dur for c in self.ctx.tracer.spans if c.parent == sp.span_id]
                top_cover[sp.op_id] = sum(kids) / sp.dur if sp.dur else 0.0
        out = {}
        for s in self.samples:
            if not s["traced"]:
                continue
            o = out.setdefault(s["op"], {"samples": []})
            st = self.spans.summed(s["stages"])
            o["samples"].append({
                "wall": s["wall"], **by_op.get(s["op_id"], {}), **st,
                "top_span_cover": top_cover.get(s["op_id"]),
                "groups": s["stages"],
                **{k: s[k] for k in ("bytes_written", "files", "rows_returned") if k in s},
            })
        for name, o in out.items():
            keys = {k for smp in o["samples"] for k, v in smp.items() if isinstance(v, (int, float))}
            o["median"] = {k: median_of(smp.get(k) for smp in o["samples"]) for k in sorted(keys)}
        return out

    def per_layer(self, overhead: float, probe: dict) -> dict:
        per_op = self.per_op()
        self.per_op_summary = per_op
        mix = [per_op[op.name]["median"] for op in self.ops if op.name in per_op]
        loop_traced = [s for s in self.samples if s["traced"] and s["kind"] == "loop"]
        passes = len(loop_traced) / len(self.ops)
        stage = [self.spans.summed(s["stages"]) for s in loop_traced]
        wall = sum(s["wall"] for s in loop_traced)
        by_op = self.span_totals()

        def per_pass(key):
            """Total over the traced passes, per pass of the mix."""
            return sum(st[key] for st in stage) / passes

        def span_per_pass(name):
            return sum(by_op.get(s["op_id"], {}).get(name, 0.0) for s in loop_traced) / passes

        shred = [smp for smp in per_op.get("shredded_write_read", {}).get("samples", [])]
        stream = per_op.get(STREAM_OP, {}).get("median", {})
        layer = dict(self.layer)
        layer.update({
            "queries.build_s": (span_per_pass("queries.build"), "s"),
            "queries.action_s": (span_per_pass("queries.action"), "s"),
            "spark.task_run_s": (per_pass("task_run_s"), "s"),
            "spark.task_cpu_s": (per_pass("task_cpu_s"), "s"),
            "spark.task_offcpu_s": (per_pass("task_run_s") - per_pass("task_cpu_s"), "s"),
            "spark.busy_frac": (sum(s["task_run_s"] for s in stage) / (wall * self.cores), "ratio"),
            "spark.tasks": (per_pass("tasks"), "count"),
            "spark.stages": (per_pass("stages"), "count"),
            "spark.input_bytes": (per_pass("input_bytes"), "B"),
            "spark.shuffle_read_bytes": (per_pass("shuffle_read_bytes"), "B"),
            "spark.shuffle_write_bytes": (per_pass("shuffle_write_bytes"), "B"),
            "spark.spill_bytes": (per_pass("memory_spill_bytes") + per_pass("disk_spill_bytes"), "B"),
            "spark.gc_s": (self.gc_per_pass, "s"),
            "sources.scan_s": (probe["sources.scan_s"], "s"),
            "sources.shredded.write_s": (median_of(s.get("sources.shredded.write") for s in shred), "s"),
            "sources.shredded.write_bytes": (median_of(s.get("bytes_written") for s in shred), "B"),
            "sources.shredded.files": (median_of(s.get("files") for s in shred), "count"),
            "sources.shredded.read_s": (median_of(s.get("sources.shredded.read") for s in shred), "s"),
            "sources.shredded.rows_scanned_per_row_returned": (median_of(
                _group_sum(s["groups"], "/read", "input_records") / s["rows_returned"]
                for s in shred), "ratio"),
            "functions.variant.parse_extract_s": (probe["functions.variant.parse_extract_s"], "s"),
            "streaming.build_s": (stream.get("streaming.run_to_batch", 0.0), "s"),
            "streaming.action_s": (stream.get("queries.action", 0.0), "s"),
            "trace.overhead_frac": (overhead, "ratio"),
            "trace.top_span_cover_frac": (median_of(m.get("top_span_cover") for m in mix), "ratio"),
        })
        units = {"rows_per_s": "rows/s", "bytes_per_input_byte": "ratio", "keys_per_batch": "count"}
        for k, v in probe.items():
            if k.startswith(("functions.explicit.", "codec.")):
                layer[k] = (v, next(u for suffix, u in units.items() if k.endswith(suffix)))
        layer["peak_rss_mb"] = (sum(self.peak_rss.values()), "MB")
        layer["peak_rss_mb.driver"] = (self.peak_rss["driver_mb"], "MB")
        layer["peak_rss_mb.jvm"] = (self.peak_rss["jvm_mb"], "MB")
        return layer

    def probes(self) -> dict:
        """Each layer's probe, traced; the shredded and streaming layers
        through their op when the mix does not already call them."""
        import corpus
        import probes

        ops = self.ops_mod
        names = {op.name for op in self.ops}
        self.reader.read()
        extra = []
        if ops.ShreddedOp.name not in names:
            extra.append(ops.ShreddedOp())
        if STREAM_OP not in names:
            extra.append(ops.RegistryOp(STREAM_OP))
        for op in extra:
            for i in range(2):  # the second run is the warm one that counts
                s = self.run_op(op, f"probe{i}:{op.name}", traced=i == 1, kind="probe")
                if s["error"]:
                    raise RuntimeError(f"probe {op.name} failed: {s['error']}")
        self.ctx.tracer.enabled = True
        self.ctx.tracer.op_id = "probe:layers"
        tables = sorted({t for op in self.ops for t in self.spec["op_inputs"][op.name]})
        out = probes.spark_layers(self.ctx, tables)
        codec_dir, _ = corpus.generate(
            WORK, self.args.seed, self.spec["workloads"]["explicit_codec"]["replicas"])
        out.update(probes.python_layers(self.ctx.tracer, codec_dir))
        return out

    def overhead(self) -> float:
        loop = [s for s in self.samples if s["kind"] == "loop"]
        plain = [s["wall"] for s in loop if not s["traced"]]
        traced = [s["wall"] + s["trace_read_s"] for s in loop if s["traced"]]
        return (sum(traced) / len(traced)) / (sum(plain) / len(plain)) - 1

    def stop(self) -> None:
        from pyspark import SparkContext

        self.ctx.duck.close()
        self.ctx.spark.stop()
        gateway = SparkContext._gateway
        proc = gateway.proc
        gateway.shutdown()
        proc.stdin.close()  # the JVM exits on EOF of its stdin
        proc.wait(timeout=120)


def _group_sum(groups: dict, suffix: str, key: str) -> float:
    return sum(g[key] for name, g in groups.items() if name.endswith(suffix))


def main(argv=None) -> int:
    t_proc = process_start_wall()
    args = parse_args(argv)
    with open(os.path.join(HERE, "workloads.json")) as f:
        spec = json.load(f)
    if args.workload not in spec["workloads"]:
        print(f"unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"{PACKAGE} not found under {ROOT}: run from the repository root",
              file=sys.stderr)
        return 2
    run_dir = os.path.join(WORK, "runs", f"{args.workload}-{os.getpid()}")
    prepare_env(os.path.join(run_dir, "tmp"))

    import corpus

    t0 = time.time()
    corpus_dir, stats = corpus.generate(WORK, args.seed, spec["workloads"][args.workload]["replicas"])
    t_gen = time.time() - t0

    run = Run(args, spec)
    run.run_dir = run_dir
    try:
        run.start(corpus_dir, stats)
        with _wrappers(run):
            t_check = run.warm_up_and_gate()
            # a traced run compares traced with untraced passes, so none of
            # them may be the first pass after the gate
            for i in range(max(run.wl["warm_passes"], args.trace)):
                for op in run.ops:
                    run.run_op(op, f"warm{i}:{op.name}", False, "warm")
            ex0 = run.spans.executor_totals(run.ctx.spark)
            setup_s = time.time() - t_proc - t_gen - t_check
            run.loop(args.seconds)
            ex1 = run.spans.executor_totals(run.ctx.spark)
            run.gc_per_pass = (ex1["gc_s"] - ex0["gc_s"]) / run.passes
            probe = run.probes() if args.trace else None
        jvm_pid = run.ctx.spark.sparkContext._gateway.proc.pid
        run.peak_rss = {"driver_mb": vm_hwm_mb("self"), "jvm_mb": vm_hwm_mb(jvm_pid)}
        jvm = run.ctx.spark.sparkContext._jvm.java.lang.management.ManagementFactory
        run.jvm_pools = {p.getName(): [p.getPeakUsage().getUsed() >> 20, p.getPeakUsage().getCommitted() >> 20]
                         for p in jvm.getMemoryPoolMXBeans()}
        e2e = run.end_to_end(setup_s, ex1["shuffle_write_bytes"] - ex0["shuffle_write_bytes"])
        metrics = run.per_layer(run.overhead(), probe) if args.trace else e2e
    finally:
        if hasattr(run, "ctx"):
            run.stop()
        shutil.rmtree(run_dir, ignore_errors=True)

    correct = run.failed == 0 and not run.failed_kinds()
    artifact = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "measured_s": run.measured_s, "cores": run.cores, "ops": run.wl["ops"],
        "replicas": run.wl["replicas"], "corpus": stats, "gate": run.gate,
        "set_up_s": {**{k: v for k, (v, _) in run.layer.items()},
                     "warm_up": run.warm_up_s, "generate": t_gen, "check": t_check},
        "op_tail": run.tail_info, "peak_rss": run.peak_rss, "jvm_pools_mb": run.jvm_pools,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        "end_to_end": {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()},
        "samples": run.samples,
    }
    if args.trace:
        artifact["per_op_layer"] = {
            f"{metric}.{op}": o["median"].get(key, 0.0)
            for op, o in run.per_op_summary.items()
            for metric, key in PER_OP_LAYER.items()
        }
        artifact["per_op"] = run.per_op_summary
        artifact["self_time_s"] = run.ctx.tracer.self_times()
        artifact["spans"] = run.ctx.tracer.as_json()
    out_dir = os.path.join(WORK, "out")
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, f"{args.workload}-s{args.seed}-t{args.trace}.json"), "w") as f:
        json.dump(artifact, f, indent=1, default=str)
    print(json.dumps({
        "correct": correct, "attempted": run.attempted, "failed": run.failed,
        "metrics": artifact["metrics"],
    }), flush=True)
    return 0


def _wrappers(run):
    """Span wrappers around the package's driver-side entry points, in a
    traced run only."""
    import contextlib

    if not run.args.trace:
        return contextlib.nullcontext()
    from datafusion_functions_variant_spark.sources import tables
    from datafusion_functions_variant_spark.streaming import core

    targets = [(core, "run_to_batch", "streaming.run_to_batch")]
    for name, mod in list(sys.modules.items()):
        if mod is not None and (name.startswith(PACKAGE) or name in ("ops", "probes")):
            if getattr(mod, "load_table", None) is tables.load_table:
                targets.append((mod, "load_table", "sources.load_table"))
    return run.spans.wrapped(run.ctx.tracer, targets)


if __name__ == "__main__":
    sys.exit(main())

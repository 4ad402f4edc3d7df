"""Structured Streaming layer (SURVEY.md §2 Part B row 11 — the
reference has no streaming at all; this is the Spark-first capability
the never-written DataFusion crate could not have had).

Pattern: every streaming operator is a transformation over an
event-time stream; for the driver's batch-comparison gate we execute
the stream with ``Trigger.AvailableNow`` into a memory sink and hand
back the materialized result. Semantics that matter:

* Event time = events.ts normalized to TIMESTAMP (micros) whatever
  the physical parquet encoding (see sources.tables).
* Watermark delay bounds state: append-mode windows emit only once
  the watermark (max event time - delay) passes the window end —
  windows still inside the delay at end-of-input are withheld. The
  oracles reproduce this cutoff condition in SQL.
* One input file → one data micro-batch + a final watermark-flush
  batch, so results are deterministic.

At scale the same code runs on Kafka/file streams with real triggers;
nothing here is test-only except run_to_batch's memory sink.
"""

from __future__ import annotations

import os
import threading

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

_SINK_COUNTER = [0]
_SINK_LOCK = threading.Lock()


def _write_single_file_split(df: DataFrame, path: str) -> None:
    """Write ``df`` as ONE parquet file at ``path``, executor-side.

    The multi-batch stream fixtures need exactly one file per
    micro-batch (FileStreamSource + maxFilesPerTrigger=1 defines batch
    membership by file). The pre-round-11 version materialized each
    split driver-side (``toPandas`` + pyarrow write) — fine at test
    scale, a driver-memory stall at a 100× fixture (VERDICT r10
    "What's wrong" #4). Here the split is a normal distributed write
    funneled through ``coalesce(1)``: one task streams the rows to
    disk, nothing passes through the driver, and the single part-file
    is renamed to the stable ``path`` the mtime-ordering step expects.
    """
    import shutil

    tmp = path + ".tmpdir"
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    _promote_single_part(tmp, path, df.schema)
    shutil.rmtree(tmp)


def _promote_single_part(tmp: str, path: str, schema) -> None:
    """Promote the exactly-one ``part-*.parquet`` a ``coalesce(1)``
    write left in ``tmp`` to the stable ``path`` the mtime-ordering
    step expects. Spark writes NO part file for an empty task (e.g. a
    split predicate like doc_id%3==p matching nothing on a tiny
    corpus) — then materialize an empty, schema-carrying parquet so
    the downstream file stream still sees its batch file instead of
    the old opaque unpack ValueError (r11 ADVICE). Shared by
    ``_write_single_file_split`` and the shredded landing writer
    (r14 verdict optional #8: one copy of the one-file-per-batch
    idiom, one place its contract lives)."""
    import glob

    parts = glob.glob(os.path.join(tmp, "part-*.parquet"))
    if parts:
        (part,) = parts  # exactly one by coalesce(1); >1 is a real bug
        os.replace(part, path)
    else:
        import pyarrow as pa
        import pyarrow.parquet as pq
        from pyspark.sql.pandas.types import to_arrow_schema

        pq.write_table(
            pa.Table.from_pylist([], schema=to_arrow_schema(schema)), path
        )


#: The executed (micro-batch) physical plan of the most recent
#: ``run_to_batch`` call — explainInternal on the terminated query.
#: Plan-pin tests read this to assert streaming join topology (e.g.
#: no BroadcastExchange on a history-index side) against the plan
#: that actually ran, not a batch reconstruction.
LAST_EXECUTED_PLAN: list[str] = [""]

#: The formatted plan of the most recent foreachBatch PROBE frame
#: (set by callbacks that compose their own per-batch actions, e.g.
#: ``stream_dedup_index_update``'s probe-then-append transaction,
#: where there is no terminated query object to explainInternal).
LAST_INGEST_PLAN: list[str] = [""]


def read_table_stream(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """A test table as a file stream, schema-normalized like the batch
    catalog.

    FileStreamSource needs an explicit schema; take it from the batch
    reader's parquet footer so the stream adapts to whichever physical
    encoding (e.g. events.ts as NANOS→bigint or micros→timestamp) the
    test driver generated, then apply the same normalization as the
    batch catalog (``tables.normalize_timestamps``).
    """
    from ..plans.session import tune
    from ..sources.tables import normalize_timestamps

    tune(spark)
    path = os.path.join(sf_dir, f"{name}.parquet")
    file_schema = spark.read.parquet(path).schema
    if os.path.isdir(path):
        # Spark-written table (e.g. the K×-replicated bench corpus):
        # stream the directory itself. The glob branch below would
        # match NOTHING here — part files are nested one level down
        # and named part-*.parquet — silently yielding an empty
        # stream (root-caused round 10).
        raw = spark.readStream.schema(file_schema).format("parquet").load(path)
    else:
        # single-file testdata table: FileStreamSource requires a
        # directory, so load the dir with pathGlobFilter narrowing it
        # to the one table file.
        raw = (
            spark.readStream.schema(file_schema)
            .format("parquet")
            .option("pathGlobFilter", f"{name}.parquet")
            .load(sf_dir)
        )
    return normalize_timestamps(raw)


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events.parquet as a file stream with a proper event-time col."""
    return read_table_stream(spark, sf_dir, "events")


def run_to_batch(stream_df: DataFrame, output_mode: str = "append") -> DataFrame:
    """Execute a streaming plan to completion (AvailableNow) into a
    memory sink; return the materialized rows as a batch DataFrame."""
    spark = stream_df.sparkSession
    with _SINK_LOCK:
        _SINK_COUNTER[0] += 1
        name = f"stream_sink_{_SINK_COUNTER[0]}"
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    try:
        LAST_EXECUTED_PLAN[0] = q._jsq.explainInternal(True)
    except Exception:
        LAST_EXECUTED_PLAN[0] = ""  # plan capture is best-effort
    return spark.table(name)


def tumbling_counts(stream: DataFrame, window: str = "1 hour", delay: str = "1 minute") -> DataFrame:
    """Watermarked tumbling-window counts per event_type."""
    return (
        stream.withWatermark("ts", delay)
        .groupBy(F.window("ts", window).alias("win"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
        )
        .select(
            F.date_format(F.col("win.start"), "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n",
            "sum_value",
        )
    )


def sliding_counts(
    stream: DataFrame, window: str = "1 hour", slide: str = "30 minutes", delay: str = "1 minute"
) -> DataFrame:
    """Watermarked sliding-window event counts."""
    return (
        stream.withWatermark("ts", delay)
        .groupBy(F.window("ts", window, slide).alias("win"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.date_format(F.col("win.start"), "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "n",
        )
    )


def session_windows(stream: DataFrame, gap: str = "30 minutes", delay: str = "1 minute") -> DataFrame:
    """Session windows per user: merge events within `gap`."""
    return (
        stream.withWatermark("ts", delay)
        .groupBy(F.session_window("ts", gap).alias("win"), F.col("user_id"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.date_format(F.col("win.start"), "yyyy-MM-dd HH:mm:ss").alias("session_start"),
            F.date_format(F.col("win.end"), "yyyy-MM-dd HH:mm:ss").alias("session_end"),
            "n_events",
        )
    )


def streaming_dedup_count(stream: DataFrame, delay: str = "10 minutes") -> DataFrame:
    """Stateful exact dedup on content within the watermark horizon:
    dropDuplicatesWithinWatermark keyed by the normalized content
    hash, then a global count (update mode)."""
    hashed = stream.withWatermark("ts", delay).withColumn(
        "content_hash", F.md5(F.regexp_replace(F.trim(F.lower("props")), r"\s+", " "))
    )
    deduped = hashed.dropDuplicatesWithinWatermark(["content_hash"])
    return deduped.groupBy().agg(F.count(F.lit(1)).alias("n_unique"))


def stateful_running_max(stream: DataFrame, delay: str = "1 minute") -> DataFrame:
    """Custom stateful operator via applyInPandasWithState: per-user
    running max(value) and event count, emitted on every update."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("n_seen", LongType()),
            StructField("max_value", DoubleType()),
        ]
    )
    state_schema = StructType(
        [
            StructField("n_seen", LongType()),
            StructField("max_value", DoubleType()),
        ]
    )

    def update(key, pdfs, state: GroupState):
        n, mx = (state.get if state.exists else (0, float("-inf")))
        import pandas as pd

        for pdf in pdfs:
            n += len(pdf)
            if len(pdf):
                mx = max(mx, float(pdf["value"].max()))
        state.update((n, mx))
        yield pd.DataFrame({"user_id": [key[0]], "n_seen": [n], "max_value": [mx]})

    return (
        stream.withWatermark("ts", delay)
        .groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


#: constants of ``stateful_shuffle_width``, which derives
#: width = clamp(input_rows / target_rows, min(floor, task slots),
#: session shuffle partitions). A stateful exchange pays a
#: PER-PARTITION fixed toll every micro-batch (state store open/commit
#: + one Python state-runner handshake), so width beyond what the keyed
#: work needs is pure overhead — but width BELOW the keyed work's
#: parallelism need serializes the per-key processing. Both regimes
#: were measured on this exact key (interleaved A/B, one checksum
#: across variants): at 100k input rows width 8 beats 32 (min 3.92 s
#: vs 5.43), while at 1M rows width 32 beats 8 (7.06 s vs 16.42 — 15k
#: users × 8 state round-trips each need every core). 25k rows per
#: partition crosses over exactly between those two measured points.
#: The floor is capped at the session's task slots: a stateful exchange
#: wider than the slots runs in waves, and each wave pays the
#: per-partition toll again (local[2], 1k events, 4-vCPU VM: addBatch
#: 2.1-2.4 s at width 8, 0.8-1.1 s at width 2).
_STATE_WIDTH_FLOOR = 8
_STATE_WIDTH_TARGET_ROWS = 25_000


def _input_rows(path: str) -> int | None:
    """Row count of a parquet file/directory from footers only (no
    Spark job, no data read); None when unreadable."""
    try:
        import pyarrow.parquet as pq

        if os.path.isdir(path):
            total = 0
            for root, _dirs, files in os.walk(path):
                for f in files:
                    if f.startswith(("_", ".")) or not f.endswith(".parquet"):
                        continue
                    total += pq.ParquetFile(
                        os.path.join(root, f)
                    ).metadata.num_rows
            return total
        return pq.ParquetFile(path).metadata.num_rows
    except Exception:  # noqa: BLE001 — fall back to the session width
        return None


def stateful_shuffle_width(spark: SparkSession, input_path: str) -> int:
    """Scale-adaptive shuffle width for a STATEFUL streaming query.

    A stateful exchange is not a plain shuffle: every micro-batch pays
    a fixed per-partition toll (state store open + commit, and for
    Python processors one state-server runner per partition) on top of
    the row work, and AQE cannot coalesce it — the width is frozen
    into the checkpoint at first batch. The session default
    (~core count, right for scan/join exchanges) over-pays whenever
    the keyed work is small (r15 driver scaling block: this bench key
    2× faster at half the width), yet narrowing a LARGE keyed input
    serializes the per-key state round-trips (round-16 A/B: 8 wide at
    1M rows ran 2.3× slower than 32). Width therefore derives from the
    input ROW COUNT, read from parquet footers before the stream
    starts: one partition per 25k rows, floored at min(8, the
    SparkContext's task slots) and capped at the session's
    shuffle-partition setting — a 100 TB feed saturates the cap, i.e.
    behaves exactly as before; the derivation only narrows SMALL
    states. The slot count lowers only the floor, never the width
    derived from the input, so a large stream that starts before a
    cluster's executors have registered keeps its proportional width.
    Unreadable footers give the session width."""
    session_width = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    rows = _input_rows(input_path)
    if rows is None:
        return session_width
    target = _STATE_WIDTH_TARGET_ROWS
    derived = (rows + target - 1) // target
    floor = min(_STATE_WIDTH_FLOOR, spark.sparkContext.defaultParallelism)
    return max(min(max(int(derived), floor), session_width), 1)


def child_session(spark: SparkSession, confs: dict[str, str]) -> SparkSession:
    """A ``spark.newSession()`` child (same SparkContext, its own SQL
    conf and temp views) carrying the parent's conf plus ``confs`` — so
    an operator can run under its own conf without mutating the
    caller's session. A bare ``newSession()`` keeps the SparkContext's
    confs but drops every conf set at runtime (e.g. ``nanosAsLong``, without
    which events.parquet is unreadable, or ``spark.hadoop.*`` store
    credentials), so each parent value the child lacks is copied."""
    child = spark.newSession()
    fresh = child.conf.getAll
    inherited = {k: v for k, v in spark.conf.getAll.items() if fresh.get(k) != v}
    for k, v in {**inherited, **confs}.items():
        child.conf.set(k, v)
    return child


def _fold_profile_batch(pdf) -> tuple[int, int, dict]:
    """Fold ONE per-user input frame of ``transform_with_state_profile``
    locally: (row count, exact value cents, per-event-type counts).

    handleInputRows runs once per USER, so ``pdf`` is tiny (~tens of
    rows) and pandas per-group machinery (Series.mul/round/astype +
    groupby().size()) costs ~1 ms of pure overhead per call —
    wall-clock-visible at 15k users/batch. The raw-numpy + Counter
    fold is ~4x cheaper and numerically identical: Series.round IS
    np.round (same half-to-even ufunc), and the None/NaN guard
    mirrors groupby's default dropna=True. Equivalence to the pandas
    formulation is pinned by test_streaming_state.py::
    test_fold_profile_batch_matches_pandas_formulation."""
    from collections import Counter

    import numpy as np

    k = len(pdf)
    if not k:
        return 0, 0, {}
    v = np.round(pdf["value"].to_numpy() * 100.0)
    if not np.isfinite(v).all():
        # ndarray.astype('int64') on NaN/inf silently yields INT64_MIN
        # garbage where the pandas formulation raised
        # IntCastingNaNError — a null-bearing stream must stay a loud
        # failure, not silent sum_value corruption (ADVICE r15)
        raise ValueError(
            "transform_with_state_profile: non-finite 'value' in batch"
        )
    cents = int(v.astype("int64").sum())
    inc: dict = {}
    for et, c in Counter(pdf["event_type"].to_list()).items():
        if et is None or et != et:  # match groupby dropna
            continue
        inc[et] = int(c)
    return k, cents, inc


def transform_with_state_profile(stream: DataFrame) -> DataFrame:
    """Per-user profile via Spark 4's transformWithStateInPandas — the
    successor API to applyInPandasWithState with TYPED state variables:

    * ValueState ``totals``  — (event count, exact value cents)
    * MapState  ``by_type`` — event_type → running count

    Each batch updates both states and re-emits the full per-user
    profile (one row per event_type seen so far, carrying the user
    totals). Counts are monotonic, so the last emission per
    (user, type) equals the batch aggregate — that's the oracle.
    Money is accumulated as integer cents (each value rounded to 2
    decimals exactly like a DECIMAL(18,2) cast) so the emitted double
    is bit-deterministic across engines.

    Requires the RocksDB state store provider (the only provider
    transformWithState supports) as the stream session's
    ``spark.sql.streaming.stateStore.providerClass`` — build ``stream``
    on a ``child_session`` carrying it, so the caller's session keeps
    its own — and the Python ``protobuf`` package (the state-server
    wire protocol; vendor/miniproto stands in when the wheel is
    absent). The registry twin is ``stream_transform_with_state``. At scale:
    state is partitioned by the grouping key across executors and
    checkpointed incrementally by RocksDB — this exact code runs
    unbounded with a TTL on the state handles."""
    from pyspark.sql.streaming import StatefulProcessor, StatefulProcessorHandle

    out_schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("event_type", StringType()),
            StructField("n_type", LongType()),
            StructField("n_total", LongType()),
            StructField("sum_value", DoubleType()),
        ]
    )

    class ProfileProcessor(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self.totals = handle.getValueState("totals", "n BIGINT, cents BIGINT")
            self.by_type = handle.getMapState(
                "by_type", "event_type STRING", "cnt BIGINT"
            )

        def handleInputRows(self, key, rows, timer_values):
            import pandas as pd

            # Every state call is one synchronous round-trip to the
            # JVM state server (request + blocking response through
            # the protobuf wire codec) — with ~users × types calls per
            # batch the round-trips ARE the operator's cost, so the
            # batch is folded locally first and the state is touched
            # the minimum number of times: one ValueState.get (returns
            # None when absent — no separate exists() probe), ONE map
            # iterator pass replacing a getValue per event type, one
            # updateValue per type actually seen, one totals.update.
            # Emission is built from the locally-merged dict, dropping
            # the second full-map iterator read. 14 → 8 round-trips
            # per user at 5 event types; same state contents, same
            # emitted rows (guide §4: shrink the Python<->JVM chatter,
            # not just the bytes). The local fold itself is the
            # raw-numpy form (see _fold_profile_batch).
            got = self.totals.get()
            n, cents = got if got is not None else (0, 0)
            inc: dict = {}
            for pdf in rows:
                k, c_add, type_counts = _fold_profile_batch(pdf)
                n += k
                cents += c_add
                for et, c in type_counts.items():
                    inc[et] = inc.get(et, 0) + c
            counts = {k[0]: v[0] for k, v in self.by_type.iterator()}
            for et, c in inc.items():
                counts[et] = counts.get(et, 0) + c
                self.by_type.updateValue((et,), (counts[et],))
            self.totals.update((n, cents))
            ets = sorted(counts.items())
            yield pd.DataFrame(
                {
                    "user_id": [key[0]] * len(ets),
                    "event_type": [e for e, _ in ets],
                    "n_type": [c for _, c in ets],
                    "n_total": [n] * len(ets),
                    "sum_value": [cents / 100.0] * len(ets),
                }
            )

        def close(self) -> None:
            pass

    return (
        stream.select("user_id", "event_type", "value")
        .groupBy("user_id")
        .transformWithStateInPandas(
            statefulProcessor=ProfileProcessor(),
            outputStructType=out_schema,
            outputMode="Update",
            timeMode="None",
        )
    )


def read_multibatch_events_stream(
    spark: SparkSession, sf_dir: str, split_dir: str
) -> DataFrame:
    """Events as a MULTI-micro-batch stream: the table is split into
    THREE time-interleaved single-file batches (even event_ids, then
    odd ids % 4 == 1, then odd ids % 4 == 3) streamed with
    maxFilesPerTrigger=1 — the only way to exercise genuine late-row
    dropping (a single-file AvailableNow run never drops anything).

    Three batches because Spark's late-row filter lags one batch: the
    watermark applied in batch N derives from max event time through
    batch N-1 (verified: batch 1's stale rows merge with dropped=0;
    batch 2's are dropped). Events are time-ordered by event_id, so
    each later batch interleaves the whole time range already covered
    — nearly all its windows sit behind the advanced watermark.
    The split write is harness setup, not an operator; file order is
    pinned via mtimes (FileStreamSource orders by modification time)."""
    from ..sources.tables import load_table

    os.makedirs(split_dir, exist_ok=True)
    full = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value", "props"
    )
    selectors = [
        F.col("event_id") % 2 == 0,
        F.col("event_id") % 4 == 1,
        F.col("event_id") % 4 == 3,
    ]
    paths = []
    for parity, sel in enumerate(selectors):
        p = os.path.join(split_dir, f"batch{parity}.parquet")
        _write_single_file_split(full.where(sel), p)
        paths.append(p)
    base = 1_700_000_000
    for i, p in enumerate(paths):
        os.utime(p, (base + i * 10, base + i * 10))

    schema = StructType(
        [
            StructField("event_id", LongType()),
            StructField("ts", TimestampType()),
            StructField("user_id", LongType()),
            StructField("event_type", StringType()),
            StructField("value", DoubleType()),
            StructField("props", StringType()),
        ]
    )
    return (
        spark.readStream.schema(schema)
        .format("parquet")
        .option("maxFilesPerTrigger", "1")
        .load(split_dir)
    )


def read_multibatch_dedup_stream(
    spark: SparkSession, sf_dir: str, split_dir: str
) -> DataFrame:
    """Events as THREE content-deduped micro-batches for exercising
    dropDuplicatesWithinWatermark's cross-batch state lifecycle
    (emit → drop-as-dup → evict-on-watermark → re-emit).

    Batch p keeps ONE row per content hash — the max-event_id (latest)
    occurrence within parity class p (even ids / ids%4==1 / ids%4==3).
    The per-batch pre-dedup is harness setup, not the operator: with
    multiple same-key rows in one micro-batch, which row wins (and
    therefore the state's expiry anchor) depends on shuffle arrival
    order, which no oracle can reproduce; one row per (key, batch)
    makes the whole state machine deterministic. File order is pinned
    via mtimes (FileStreamSource orders by modification time)."""
    from ..sources.tables import load_table

    os.makedirs(split_dir, exist_ok=True)
    full = load_table(spark, sf_dir, "events").select(
        "event_id",
        "ts",
        # composite (content, user) key: the 100 recurring payloads
        # alone never leave the watermark window, so no state would
        # ever expire — the sparser key makes every lifecycle branch
        # (dup / evict / re-emit) actually occur at test scale
        F.md5(
            F.concat(
                F.regexp_replace(F.trim(F.lower(F.col("props"))), r"\s+", " "),
                F.lit(":"),
                F.col("user_id").cast("string"),
            )
        ).alias("h"),
        F.when(F.col("event_id") % 2 == 0, 0)
        .when(F.col("event_id") % 4 == 1, 1)
        .otherwise(2)
        .alias("b"),
    )
    w = Window.partitionBy("h", "b").orderBy(F.col("event_id").desc())
    cand = (
        full.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .select("event_id", "ts", "h", "b")
    )
    paths = []
    for p in range(3):
        path = os.path.join(split_dir, f"batch{p}.parquet")
        _write_single_file_split(
            cand.where(F.col("b") == p).select("event_id", "ts", "h"), path
        )
        paths.append(path)
    base = 1_700_000_000
    for i, path in enumerate(paths):
        os.utime(path, (base + i * 10, base + i * 10))

    schema = StructType(
        [
            StructField("event_id", LongType()),
            StructField("ts", TimestampType()),
            StructField("h", StringType()),
        ]
    )
    return (
        spark.readStream.schema(schema)
        .format("parquet")
        .option("maxFilesPerTrigger", "1")
        .load(split_dir)
    )


def read_multibatch_documents_stream(
    spark: SparkSession, sf_dir: str, split_dir: str
) -> DataFrame:
    """Documents as THREE deterministic micro-batches of
    (doc_id, content-hash) rows — batch p holds doc_id % 3 == p, file
    order pinned via mtimes (FileStreamSource orders by modification
    time), ``maxFilesPerTrigger=1``. The narrow projection is computed
    ONCE at split-write time with the same normalize→md5 convention
    the dedup oracles replay, so batch membership and content keys are
    engine-reproducible. Used by ``stream_dedup_index_update``."""
    write_documents_split(spark, sf_dir, split_dir)
    return documents_split_stream(spark, split_dir)


def write_documents_split(
    spark: SparkSession,
    sf_dir: str,
    split_dir: str,
    batches: tuple[int, ...] = (0, 1, 2),
    with_replicas: bool = False,
) -> None:
    """Write the (doc_id, content-hash) batch files ``batches`` of the
    doc_id % 3 split into ``split_dir`` (mtime-pinned to batch order).
    Exposed separately from the reader so restart scenarios can stage
    files in phases: write batches (0, 1), run a stream to completion,
    then write (2,) and RESUME on the same checkpoint — the file
    source's log already holds batches 0-1, so only batch 2 forms a
    new micro-batch, exactly a production ingest picking up where the
    crashed driver stopped."""
    from ..operators.dedup import normalize_text
    from ..sources.tables import load_table

    os.makedirs(split_dir, exist_ok=True)
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    if with_replicas:
        # deterministic cross-batch duplicates: every 10th doc gets an
        # exact-content replica at doc_id + 1,000,000, which lands in
        # the NEXT batch ((id + 1e6) % 3 == (id + 1) % 3) — without
        # this the test corpora have zero duplicate texts at the
        # sf0.001/0.01 gates and an ingest-dedup capstone would
        # hash-green on an all-zero verdict column, proving
        # exactly-once replay but never an actual dedup hit. The
        # enrichment is plain SQL over the same table, so the oracle
        # replays it verbatim.
        docs = docs.unionByName(
            docs.where(F.col("doc_id") % 10 == 0).select(
                (F.col("doc_id") + 1_000_000).alias("doc_id"), "text"
            )
        )
    full = docs.select(
        "doc_id",
        F.md5(normalize_text("text")).alias("h"),
        (F.col("doc_id") % 3).alias("b"),
    )
    base = 1_700_000_000
    for p in batches:
        path = os.path.join(split_dir, f"batch{p}.parquet")
        _write_single_file_split(
            full.where(F.col("b") == p).select("doc_id", "h"), path
        )
        os.utime(path, (base + p * 10, base + p * 10))


def documents_split_stream(spark: SparkSession, split_dir: str) -> DataFrame:
    schema = StructType(
        [StructField("doc_id", LongType()), StructField("h", StringType())]
    )
    return (
        spark.readStream.schema(schema)
        .format("parquet")
        .option("maxFilesPerTrigger", "1")
        .load(split_dir)
    )


def write_documents_json_split(
    spark: SparkSession,
    sf_dir: str,
    split_dir: str,
    batches: tuple[int, ...] = (0, 1, 2),
    with_replicas: bool = True,
    bulk_factor: int = 0,
) -> None:
    """Like :func:`write_documents_split` but each batch row carries a
    raw JSON ENVELOPE instead of a precomputed content hash:
    ``payload = {"id": doc_id, "body": {"text": ...}}``. The ingest
    callback must therefore derive its dedup key by variant-path
    extraction (``parse_json`` → ``variant_get('$.body.text')``) —
    the shape of a real crawl feed, where documents arrive as
    semi-structured blobs and the key is buried in the payload.
    Replica enrichment (every 10th doc duplicated at doc_id + 1e6,
    which lands in batch ``(doc_id + 1e6) % 3 == (doc_id + 1) % 3`` —
    a DIFFERENT batch, wrapping 2→0, so for doc_id % 3 == 2 the
    replica precedes the original and is itself the non-dup under the
    min-batch rule both stream and oracle apply) defaults ON so the
    dedup verdicts are non-trivial; batch membership (doc_id % 3) and
    mtime pinning match the hash split so oracles share the
    strictly-earlier-batch spec.

    ``bulk_factor > 0`` adds a ``bulk`` field of ``bulk_factor``
    repetitions of the text to every envelope — a FAT-envelope feed
    where payload bytes ≫ the key path's bytes (the 100 TB crawl
    shape: headers, markup, outlinks dwarfing the body). The dedup
    semantics are unchanged (the key path stays ``$.body.text``);
    only the bytes a parse-per-batch consumer must chew through
    grow. Used by the round-15 payload-skew A/B (SCALE.md)."""
    from ..sources.tables import load_table

    os.makedirs(split_dir, exist_ok=True)
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    if with_replicas:
        docs = docs.unionByName(
            docs.where(F.col("doc_id") % 10 == 0).select(
                (F.col("doc_id") + 1_000_000).alias("doc_id"), "text"
            )
        )
    full = docs.select(
        "doc_id",
        F.to_json(
            F.struct(
                F.col("doc_id").alias("id"),
                F.struct(F.col("text").alias("text")).alias("body"),
                *(
                    [F.repeat(F.col("text"), bulk_factor).alias("bulk")]
                    if bulk_factor
                    else []
                ),
            )
        ).alias("payload"),
        (F.col("doc_id") % 3).alias("b"),
    )
    base = 1_700_000_000
    for p in batches:
        path = os.path.join(split_dir, f"batch{p}.parquet")
        _write_single_file_split(
            full.where(F.col("b") == p).select("doc_id", "payload"), path
        )
        os.utime(path, (base + p * 10, base + p * 10))


def documents_json_split_stream(spark: SparkSession, split_dir: str) -> DataFrame:
    schema = StructType(
        [StructField("doc_id", LongType()), StructField("payload", StringType())]
    )
    return (
        spark.readStream.schema(schema)
        .format("parquet")
        .option("maxFilesPerTrigger", "1")
        .load(split_dir)
    )


def write_documents_shredded_split(
    spark: SparkSession,
    sf_dir: str,
    split_dir: str,
    batches: tuple[int, ...] = (0, 1, 2),
    with_replicas: bool = True,
    bulk_factor: int = 0,
) -> dict:
    """Round 14: the SHREDDED landing of the JSON-envelope feed — same
    corpus, batch membership (doc_id % 3), replica enrichment, and
    mtime pinning as :func:`write_documents_json_split`, but each
    batch is stored via ``sources/shredded.py`` with the dedup key
    path ``$.body.text`` materialized as a typed ``body_text`` column
    AT WRITE TIME (plus the residual of the remaining envelope
    fields). Downstream probes and replays then read a plain typed
    parquet column — parquet-native predicate pushdown and column
    pruning, zero per-row variant walks — instead of re-running
    ``parse_json`` over payload bytes every restart. Returns the shred
    spec (also persisted as the sidecar for spec-blind readers).

    ``bulk_factor`` mirrors :func:`write_documents_json_split`'s fat
    envelope — here the bulk lands in the RESIDUAL at write time, so
    every later probe/replay column-prunes it away (the payload-skew
    A/B's whole point)."""
    import shutil

    from ..sources.shredded import SPEC_FILE, write_shredded
    from ..sources.tables import load_table

    os.makedirs(split_dir, exist_ok=True)
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    if with_replicas:
        docs = docs.unionByName(
            docs.where(F.col("doc_id") % 10 == 0).select(
                (F.col("doc_id") + 1_000_000).alias("doc_id"), "text"
            )
        )
    full = docs.select(
        "doc_id",
        F.to_json(
            F.struct(
                F.col("doc_id").alias("id"),
                F.struct(F.col("text").alias("text")).alias("body"),
                *(
                    [F.repeat(F.col("text"), bulk_factor).alias("bulk")]
                    if bulk_factor
                    else []
                ),
            )
        ).alias("payload"),
        (F.col("doc_id") % 3).alias("b"),
    )
    spec = {"body_text": ("$.body.text", "string")}
    base = 1_700_000_000
    for p in batches:
        tmp = os.path.join(split_dir, f"_tmp_b{p}")
        write_shredded(
            full.where(F.col("b") == p)
            .select("doc_id", "payload")
            .coalesce(1),
            "payload",
            spec,
            tmp,
        )
        path = os.path.join(split_dir, f"batch{p}.parquet")
        _promote_single_part(
            tmp,
            path,
            StructType.fromDDL(
                "doc_id long, body_text string, _residual string"
            ),
        )
        if p == batches[0]:
            os.replace(
                os.path.join(tmp, SPEC_FILE),
                os.path.join(split_dir, SPEC_FILE),
            )
        shutil.rmtree(tmp, ignore_errors=True)
        os.utime(path, (base + p * 10, base + p * 10))
    return spec


def documents_shredded_split_stream(
    spark: SparkSession, split_dir: str, with_residual: bool = True
) -> DataFrame:
    """Stream the shredded landing one batch-file per trigger. The
    schema is the shredded layout — the key path is already a typed
    column; ``_shred_spec.json`` is invisible to the file source
    (underscore-prefixed files are ignored by Spark's listing).

    ``with_residual=False`` drops the residual from the DECLARED
    schema — the round-14 scale point: a FileStreamSource materializes
    every declared column into each micro-batch (the foreachBatch
    frame is a ``Scan ExistingRDD``, so pruning can't happen after
    the fact), and the residual is payload-sized. A consumer that only
    needs shredded columns declares them alone and the source's
    parquet read skips the envelope bytes entirely — the streaming
    counterpart of the batch-read path's column pruning."""
    fields = [
        StructField("doc_id", LongType()),
        StructField("body_text", StringType()),
    ]
    if with_residual:
        fields.append(StructField("_residual", StringType()))
    return (
        spark.readStream.schema(StructType(fields))
        .format("parquet")
        .option("maxFilesPerTrigger", "1")
        .load(split_dir)
    )

"""Structured Streaming queries, executed to completion (AvailableNow)
and compared against batch-SQL oracles that reproduce the watermark
semantics: append-mode windows emit iff window_end <= max(ts) - delay
(verified empirically: 867/868 one-hour windows at sf0.001).

The reference has no streaming (SURVEY.md §2 Part B row 11) — this
layer is pure Spark capability: watermarks, tumbling/sliding/session
windows, stateful dedup, applyInPandasWithState.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..streaming import core
from ..streaming import history as _history
from . import dsum_sql, isum_sql, query


@query(
    "stream_tumbling_counts",
    oracle=f"""
    WITH mx AS (SELECT max(ts) AS mt FROM events)
    SELECT strftime(time_bucket(INTERVAL '1 hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
           event_type,
           COUNT(*) AS n,
           {dsum_sql("value", "sum_value")}
    FROM events, mx
    WHERE time_bucket(INTERVAL '1 hour', ts) + INTERVAL '1 hour' <= mt - INTERVAL '1 minute'
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
)
def stream_tumbling_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked tumbling 1h windows per event_type over the event
    stream; append mode → only watermark-finalized windows emit."""
    st = core.read_events_stream(spark, sf_dir)
    out = core.run_to_batch(core.tumbling_counts(st, "1 hour", "1 minute"), "append")
    return out.orderBy("window_start", "event_type")


@query(
    "stream_sliding_counts",
    oracle="""
    WITH mx AS (SELECT max(ts) AS mt FROM events),
    assigned AS (
      SELECT time_bucket(INTERVAL '30 minutes', ts) - (k.k * INTERVAL '30 minutes') AS win_start, ts
      FROM events, (VALUES (0), (1)) k(k)
    )
    SELECT strftime(win_start, '%Y-%m-%d %H:%M:%S') AS window_start, COUNT(*) AS n
    FROM assigned, mx
    WHERE win_start + INTERVAL '1 hour' <= mt - INTERVAL '1 minute'
    GROUP BY 1
    ORDER BY 1
    """,
)
def stream_sliding_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding 1h windows every 30min: each event lands in 2 windows;
    oracle assigns via two shifted 30-minute buckets."""
    st = core.read_events_stream(spark, sf_dir)
    out = core.run_to_batch(core.sliding_counts(st, "1 hour", "30 minutes", "1 minute"), "append")
    return out.orderBy("window_start")


@query(
    "stream_session_windows",
    oracle="""
    WITH mx AS (SELECT max(ts) AS mt FROM events),
    gaps AS (
      SELECT user_id, ts,
             CASE WHEN LAG(ts) OVER w IS NULL
                       OR ts - LAG(ts) OVER w >= INTERVAL '30 minutes'
                  THEN 1 ELSE 0 END AS new_sess
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sess AS (
      SELECT user_id, ts,
             SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, ts
                                 ROWS UNBOUNDED PRECEDING) AS sid
      FROM gaps
    ),
    agg AS (
      SELECT user_id,
             MIN(ts) AS session_start,
             MAX(ts) + INTERVAL '30 minutes' AS session_end,
             COUNT(*) AS n_events
      FROM sess GROUP BY user_id, sid
    )
    SELECT user_id,
           strftime(session_start, '%Y-%m-%d %H:%M:%S') AS session_start,
           strftime(session_end, '%Y-%m-%d %H:%M:%S') AS session_end,
           n_events
    FROM agg, mx
    WHERE session_end <= mt - INTERVAL '1 minute'
    ORDER BY user_id, session_start
    """,
)
def stream_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows (30-minute gap) per user — the oracle
    sessionizes with a lag/cumsum window and applies the same
    watermark cutoff (session_end = last_ts + gap <= max_ts - delay)."""
    st = core.read_events_stream(spark, sf_dir)
    out = core.run_to_batch(core.session_windows(st, "30 minutes", "1 minute"), "append")
    return out.orderBy("user_id", "session_start")


@query(
    "stream_stream_join",
    oracle="""
    SELECT e.event_id AS error_id, c.event_id AS click_id, e.user_id
    FROM events e JOIN events c
      ON c.user_id = e.user_id
     AND e.event_type = 'error' AND c.event_type = 'click'
     AND c.ts BETWEEN e.ts - INTERVAL '10 minutes' AND e.ts
    ORDER BY error_id, click_id
    """,
)
def stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join: each error event pairs with the
    same user's clicks from the preceding 10 minutes. Both sides carry
    watermarks and the time-range predicate bounds the join state —
    the canonical funnel/attribution topology. AvailableNow processes
    one batch, so every in-horizon match emits deterministically."""
    errors = (
        core.read_events_stream(spark, sf_dir)
        .where(F.col("event_type") == "error")
        .withWatermark("ts", "1 minute")
        .select(
            F.col("event_id").alias("error_id"),
            F.col("user_id"),
            F.col("ts").alias("err_ts"),
        )
    )
    clicks = (
        core.read_events_stream(spark, sf_dir)
        .where(F.col("event_type") == "click")
        .withWatermark("ts", "1 minute")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user_id"),
            F.col("ts").alias("click_ts"),
        )
    )
    joined = errors.join(
        clicks,
        (F.col("user_id") == F.col("c_user_id"))
        & (F.col("click_ts") >= F.col("err_ts") - F.expr("INTERVAL 10 minutes"))
        & (F.col("click_ts") <= F.col("err_ts")),
    ).select("error_id", "click_id", "user_id")
    out = core.run_to_batch(joined, "append")
    return out.orderBy("error_id", "click_id")


@query(
    "stream_dedup_count",
    oracle=r"""
    SELECT CAST(COUNT(DISTINCT md5(regexp_replace(trim(lower(props)), '\s+', ' ', 'g'))) AS BIGINT)
           AS n_unique
    FROM events
    """,
)
def stream_dedup_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful streaming dedup (dropDuplicatesWithinWatermark on the
    content hash) → count of unique payloads. Update-mode sink may
    hold one row per micro-batch; the final (max) value is the
    answer."""
    st = core.read_events_stream(spark, sf_dir)
    out = core.run_to_batch(core.streaming_dedup_count(st, "10 minutes"), "update")
    return out.agg(F.max("n_unique").cast("long").alias("n_unique"))


@query(
    "stream_foreachbatch_sink",
    oracle=f"""
    SELECT event_type, COUNT(*) AS n, {dsum_sql("value", "sum_value")}
    FROM events GROUP BY event_type ORDER BY event_type
    """,
)
def stream_foreachbatch_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """foreachBatch sink: each micro-batch lands in a parquet dir via
    arbitrary batch logic (the escape hatch for sinks Structured
    Streaming lacks — JDBC, upserts, multi-table writes). The result
    is read back from the files the stream wrote."""
    import os as _os

    from . import catalog as _catalog

    path = _os.path.join(_catalog._IO_DIR, "stream_fb_sink")
    st = core.read_events_stream(spark, sf_dir).select(
        "event_id", "event_type", "value"
    )

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("append").parquet(path)

    # fresh dir per run: overwrite semantics are the batch writer's job
    import shutil

    shutil.rmtree(path, ignore_errors=True)
    q = (
        st.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", path + "_ckpt_tmp")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    shutil.rmtree(path + "_ckpt_tmp", ignore_errors=True)
    back = spark.read.parquet(path)
    return (
        back.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"))
        .orderBy("event_type")
    )


def _index_update_ingest(spark, idx, out_dir):
    """foreachBatch callback of the self-updating ingest dedup — the
    probe-before-append transaction both the fresh-index capstone
    (``stream_dedup_index_update``) and its restart twin
    (``stream_dedup_index_restart``) run; shared so the two can never
    drift. ``idx`` is a ``SelfUpdatingHistoryIndex`` (fresh-built or
    attach()-recovered — the callback is agnostic, which is the point:
    recovery changes WHERE the index came from, not how batches probe
    and grow it)."""

    def ingest(batch_df: DataFrame, batch_id: int) -> None:
        # pin the batch so the two actions below share one evaluation
        b = batch_df.localCheckpoint(eager=True)
        # verdicts probe the index AS OF the previous batch (_b <
        # batch_id): on a crash-replay the batch's own pre-crash
        # append is already in the table, and probing it would flag
        # every doc a dup of itself. The append below anti-joins the
        # FULL table instead, so the replayed append is a no-op.
        seen = idx.relation(before=batch_id).select(F.col("h").alias("_ih"))
        seen_all = idx.relation().select(F.col("h").alias("_ih"))
        # single-pass bloom routing: definite-miss hashes probe with a
        # salted sentinel ('#' + doc_id % 64 — 64 narrow groups, never
        # an md5 hex) so they ride the same SMJ and emit is_dup=0
        # without an index lookup
        probe_key = F.when(idx.member("h"), F.col("h")).otherwise(
            F.concat(F.lit("#"), (F.col("doc_id") % 64).cast("string"))
        )
        # action 1: probe + emit verdicts (MUST complete before the
        # index grows, or every doc would match its own hash)
        verdicts = (
            idx.attach_bitset(b)
            .select("doc_id", probe_key.alias("_pk"))
            .hint("merge")
            .join(seen, F.col("_pk") == F.col("_ih"), "left")
            .select(
                "doc_id", F.col("_ih").isNotNull().cast("long").alias("is_dup")
            )
        )
        core.LAST_INGEST_PLAN[0] = spark.sparkContext._jvm.PythonSQLUtils.explainString(
            verdicts._jdf.queryExecution(), "formatted"
        )
        # IDEMPOTENT verdict write: foreachBatch replays the whole
        # batch after a crash between its two actions, and a plain
        # append would then double-write the verdicts (the classic
        # foreachBatch exactly-once gap). Partitioning by batch_id
        # with dynamic partition overwrite makes the replay rewrite
        # ITS OWN partition and touch nothing else — together with
        # the index append (already idempotent: the anti-join makes a
        # replayed append a no-op) the callback becomes exactly-once
        # end to end, which is what lets the restart twin resume on
        # the same checkpoint without a dedup-on-read.
        (
            verdicts.withColumn("_batch", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("_batch")
            .parquet(out_dir)
        )
        # action 2: grow the index with this batch's novel hashes —
        # same bloom routing (sentinel salt from the hash itself) so
        # definite-novel hashes skip the lookup here too
        novel_key = F.when(idx.member("h"), F.col("h")).otherwise(
            F.concat(F.lit("#"), F.substring("h", 1, 2))
        )
        novel = (
            idx.attach_bitset(b.select("h").distinct())
            .select("h", novel_key.alias("_pk"))
            .join(seen_all, F.col("_pk") == F.col("_ih"), "left_anti")
            .select("h")
        )
        idx.append(novel, batch_id=batch_id)

    return ingest


@query(
    "stream_dedup_index_update",
    oracle=r"""
    -- sequential-replay semantics: a doc is a dup iff its normalized
    -- content hash appeared in a STRICTLY EARLIER micro-batch (batch
    -- p = doc_id % 3; docs sharing a hash within the first batch that
    -- contains it are all novel — the index grows only after the
    -- batch's probe)
    WITH d AS (
      SELECT doc_id,
             md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS h,
             doc_id % 3 AS b
      FROM documents
    ),
    firstb AS (SELECT h, MIN(b) AS fb FROM d GROUP BY h)
    SELECT d.doc_id,
           CAST(CASE WHEN d.b > f.fb THEN 1 ELSE 0 END AS BIGINT) AS is_dup
    FROM d JOIN firstb f ON d.h = f.h
    ORDER BY d.doc_id
    """,
    # the probe/append topology lives in the history module — changes
    # there must re-front this query for driver re-verification
    hash_deps=(_history.SelfUpdatingHistoryIndex, _index_update_ingest),
)
def stream_dedup_index_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-at-ingest with a SELF-UPDATING index — the loop the other
    ingest gates leave open (their history is a static artifact per
    run): each micro-batch (1) probes the persisted content-hash index
    for duplicates, emits per-doc verdicts, then (2) APPENDS its own
    novel hashes to the index, so batch N+1 dedups against everything
    admitted through batch N. foreachBatch gives the two-action
    transaction ordering (probe/emit BEFORE append — appending first
    would flag every doc a dup of itself); the index read is resolved
    freshly inside the callback so each batch sees the previous
    batch's append. Within one batch, same-hash docs are all novel by
    design (the index grows between batches, not within one) — which
    is exactly what makes the semantics engine-reproducible: the
    oracle replays 'dup iff the hash appeared in a strictly earlier
    batch'.

    Scale shape (owned by streaming/history.py, round 11): the index
    lives as a ``SelfUpdatingHistoryIndex`` — the SAME bucketed+sorted
    table layout ``dedup_incremental_bucketed_index`` persists
    (bucketBy on the probe key), every batch's probe reads it IN PLACE
    (only the batch side shuffles — merge-hinted SMJ), and an
    incrementally-maintained Bloom bitset routes definite-novel hashes
    to salted sentinel keys MAP-SIDE ahead of that join ('#…' never
    matches an md5 hex, so sentinel rows fall through unmatched —
    lossless, one pass, no union). The append is a bucket-spec-matching
    write of just the batch's novel hashes, with the batch's bits OR-ed
    into the bitset so the next batch's prescreen has no false
    negatives. The store is globally distinct BY CONSTRUCTION (each
    append excludes already-present hashes), so no per-batch distinct
    re-shuffles the accumulated index — the O(index) per-batch terms
    are one in-place scan and nothing else. SCALE.md probes the
    per-batch cost against a K×-grown index."""
    import os as _os
    import shutil as _sh

    from ..sources.tables import load_table
    from ..streaming.history import SelfUpdatingHistoryIndex
    from . import catalog as _catalog

    split_dir = _os.path.join(_catalog._IO_DIR, "docs_idx_update_split")
    idx_table = "stream_upd_hash_idx"
    idx_dir = _os.path.join(_catalog._IO_DIR, idx_table)
    out_dir = _os.path.join(_catalog._IO_DIR, "stream_upd_verdicts")
    ckpt = out_dir + "_ckpt_tmp"
    for d in (split_dir, idx_dir, out_dir, ckpt):
        _sh.rmtree(d, ignore_errors=True)
    st = core.read_multibatch_documents_stream(spark, sf_dir, split_dir)
    # expected key universe for bloom sizing = corpus row count (a
    # parquet metadata-only count — cheap at any scale; an upper bound
    # on distinct content hashes, and over-sizing only lowers FPR)
    idx = SelfUpdatingHistoryIndex(
        spark,
        idx_table,
        "h",
        path=idx_dir,
        expected_keys=load_table(spark, sf_dir, "documents").count(),
        overwrite=True,  # create-fresh pipeline; idx_dir rmtree'd above
    )

    ingest = _index_update_ingest(spark, idx, out_dir)

    q = (
        st.writeStream.foreachBatch(ingest)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    _sh.rmtree(ckpt, ignore_errors=True)
    return (
        spark.read.parquet(out_dir).select("doc_id", "is_dup").orderBy("doc_id")
    )


@query(
    "stream_dedup_index_restart",
    oracle=r"""
    -- SAME semantics as stream_dedup_index_update — the driver restart
    -- in the middle must be invisible: a doc is a dup iff its
    -- normalized content hash appeared in a STRICTLY EARLIER
    -- micro-batch (batch p = doc_id % 3), no matter that batches 0-1
    -- ran before the crash and batch 2 after recovery. The corpus is
    -- enriched with an exact replica of every 10th doc at
    -- doc_id + 1e6 (landing in the NEXT batch) because the raw test
    -- documents have zero duplicate texts at the sf0.001/0.01 gates —
    -- without the replicas the verdict column is all zeros and the
    -- query would prove exactly-once replay but never a post-recovery
    -- dedup hit.
    WITH docs AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 1000000 AS doc_id, text FROM documents
      WHERE doc_id % 10 = 0
    ),
    d AS (
      SELECT doc_id,
             md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS h,
             doc_id % 3 AS b
      FROM docs
    ),
    firstb AS (SELECT h, MIN(b) AS fb FROM d GROUP BY h)
    SELECT d.doc_id,
           CAST(CASE WHEN d.b > f.fb THEN 1 ELSE 0 END AS BIGINT) AS is_dup
    FROM d JOIN firstb f ON d.h = f.h
    ORDER BY d.doc_id
    """,
    hash_deps=(
        _history.SelfUpdatingHistoryIndex,
        _index_update_ingest,
        core.write_documents_split,
    ),
)
def stream_dedup_index_restart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-at-ingest surviving a DRIVER RESTART mid-stream — the
    recovery story ``stream_dedup_index_update`` leaves untested: that
    capstone builds its index fresh and runs every batch in one
    process; a real 100 TB ingest pipeline crashes, and what makes it
    production-grade is that the restarted driver resumes with (a) the
    file source's checkpoint (batches already ingested must not
    replay — exactly-once verdicts) and (b) the index the dead driver
    grew (hashes admitted before the crash must still dedup the
    batches after it).

    Phase 1 stages batch files 0-1 and streams them to completion
    (fresh ``SelfUpdatingHistoryIndex``, checkpointed source). The
    simulated crash then drops the index's metastore entry — its
    bucketed table files and the source checkpoint survive, the
    session-held Bloom bitset does not (the exact in-memory state a
    real crash loses). Phase 2 is the restarted driver: batch file 2
    appears, ``SelfUpdatingHistoryIndex.attach`` re-registers the
    durable table over its files (bucket spec matched, so the in-place
    Exchange-free probe scans survive) and rebuilds the bitset once
    from the table; a NEW stream on the SAME checkpoint resumes — the
    source log already holds batches 0-1, so only batch 2 forms a
    micro-batch, probed by the identical shared callback
    (``_index_update_ingest``) against the recovered index. The oracle
    is the restart-free twin's: recovery must be semantically
    invisible."""
    import os as _os
    import shutil as _sh

    from ..sources.tables import load_table
    from ..streaming.history import SelfUpdatingHistoryIndex
    from . import catalog as _catalog

    split_dir = _os.path.join(_catalog._IO_DIR, "docs_idx_restart_split")
    idx_table = "stream_restart_hash_idx"
    idx_dir = _os.path.join(_catalog._IO_DIR, idx_table)
    out_dir = _os.path.join(_catalog._IO_DIR, "stream_restart_verdicts")
    ckpt = out_dir + "_ckpt_tmp"
    for d in (split_dir, idx_dir, out_dir, ckpt):
        _sh.rmtree(d, ignore_errors=True)
    n_docs = load_table(spark, sf_dir, "documents").count()

    # ---- phase 1: the pipeline before the crash (batches 0 and 1)
    core.write_documents_split(
        spark, sf_dir, split_dir, batches=(0, 1), with_replicas=True
    )
    # compact_after_files=12: LOW threshold so the auto-compaction
    # policy deterministically fires BETWEEN streamed batches at every
    # gate SF — each later batch then probes a just-compacted index,
    # and phase 2's post-crash attach() recovers an index that has
    # already been through rewrite cycles. Recovery + compaction + the
    # epoch-filtered replay semantics become ONE exercised story; the
    # verdicts (and the oracle) are unaffected because compaction
    # preserves rows and _b stamps exactly.
    idx = SelfUpdatingHistoryIndex(
        spark, idx_table, "h", path=idx_dir, expected_keys=n_docs,
        overwrite=True,  # phase 1 creates fresh; recovery uses attach()
        compact_after_files=12,
    )
    q = (
        core.documents_split_stream(spark, split_dir)
        .writeStream.foreachBatch(_index_update_ingest(spark, idx, out_dir))
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    # ---- the crash: metastore entry and in-memory bitset gone; the
    # index table's files and the source checkpoint survive on disk
    spark.sql(f"DROP TABLE IF EXISTS {idx_table}")

    # ---- phase 2: the restarted driver picks up batch 2
    core.write_documents_split(
        spark, sf_dir, split_dir, batches=(2,), with_replicas=True
    )
    recovered = SelfUpdatingHistoryIndex.attach(
        spark, idx_table, "h", path=idx_dir, expected_keys=n_docs,
        compact_after_files=12,  # same policy as phase 1
    )
    q = (
        core.documents_split_stream(spark, split_dir)
        .writeStream.foreachBatch(_index_update_ingest(spark, recovered, out_dir))
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    _sh.rmtree(ckpt, ignore_errors=True)
    return (
        spark.read.parquet(out_dir).select("doc_id", "is_dup").orderBy("doc_id")
    )


@query(
    "stream_stateful_running_max",
    oracle="""
    SELECT user_id,
           COUNT(*) AS n_seen,
           CAST(MAX(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS max_value
    FROM events
    GROUP BY user_id
    ORDER BY user_id
    """,
)
def stream_stateful_running_max(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful operator (applyInPandasWithState): per-user
    running count + max(value); the last update per user equals the
    batch aggregate. Exercises the arbitrary-state API the reference
    category 'custom stateful operators' maps to."""
    st = core.read_events_stream(spark, sf_dir)
    out = core.run_to_batch(core.stateful_running_max(st, "1 minute"), "update")
    # keep the final state per user (n_seen is monotonic)
    return (
        out.groupBy("user_id")
        .agg(
            F.max("n_seen").alias("n_seen"),
            F.max(F.col("max_value").cast("decimal(18,2)")).cast("double").alias("max_value"),
        )
        .orderBy("user_id")
    )


@query(
    "stream_transform_with_state",
    oracle="""
    WITH per_type AS (
      SELECT user_id, event_type,
             COUNT(*) AS n_type,
             SUM(CAST(value AS DECIMAL(18,2))) AS s
      FROM events GROUP BY 1, 2
    )
    SELECT user_id, event_type,
           CAST(n_type AS BIGINT) AS n_type,
           CAST(SUM(n_type) OVER (PARTITION BY user_id) AS BIGINT) AS n_total,
           CAST(SUM(s) OVER (PARTITION BY user_id) AS DOUBLE) AS sum_value
    FROM per_type
    ORDER BY user_id, event_type
    """,
)
def stream_transform_with_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4's ``transformWithStateInPandas`` — TYPED state variables
    (ValueState totals + MapState per-event-type counts) behind a
    StatefulProcessor, per-user profile re-emitted every batch in
    update mode (streaming/core.py::transform_with_state_profile).
    Counts are monotonic, so the max emission per (user, type) equals
    the final state, which the oracle reproduces from the batch
    aggregate — exact money via integer cents.

    Runs in THIS container through the vendored miniproto runtime
    (vendor/miniproto — clean-room pure-Python protobuf wire codec):
    the state-server protocol needs ``google.protobuf`` in the driver
    AND the executor python workers; ``ensure_protobuf_for_session``
    injects the vendor path into ``sc.environment`` so workers resolve
    it even when the JVM predates the import (no-op when the real
    wheel exists). The stream runs in a ``core.child_session`` carrying
    the RocksDB state store provider and the derived state width
    (``core.stateful_shuffle_width``), so the caller's session conf
    never changes; the returned DataFrame belongs to that child.

    Scale: state is hash-partitioned by the grouping key across
    executors and incrementally checkpointed by RocksDB; this exact
    processor runs unbounded with handle TTLs."""
    from ..vendor import ensure_protobuf_for_session, preflight_python_exec

    ensure_protobuf_for_session(spark)
    # pre-flight the ACTIVE pythonExec (the vendor wrapper here)
    # against the hardcoded 10s connect-back window BEFORE .start():
    # a broken wrapper raises a named error now instead of an opaque
    # 'Python worker failed to connect back' mid-query, and a slow
    # cold-start is measured + warned (VERDICT r11 #2). Cached per
    # session, so reruns in one bench/test session pay it once.
    preflight_python_exec(spark)
    import os as _os

    width = core.stateful_shuffle_width(
        spark, _os.path.join(sf_dir, "events.parquet")
    )
    child = core.child_session(
        spark,
        {
            "spark.sql.streaming.stateStore.providerClass": (
                "org.apache.spark.sql.execution.streaming.state."
                "RocksDBStateStoreProvider"
            ),
            "spark.sql.shuffle.partitions": str(width),
        },
    )
    st = core.read_events_stream(child, sf_dir)
    out = core.run_to_batch(core.transform_with_state_profile(st), "update")
    return (
        out.groupBy("user_id", "event_type")
        .agg(
            F.max("n_type").alias("n_type"),
            F.max("n_total").alias("n_total"),
            F.max(F.col("sum_value").cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_value"),
        )
        .orderBy("user_id", "event_type")
    )


@query(
    "stream_variant_tumbling",
    oracle=f"""
    WITH mx AS (SELECT max(ts) AS mt FROM events)
    SELECT strftime(time_bucket(INTERVAL '1 hour', ts), '%Y-%m-%d %H:%M:%S')
             AS window_start,
           event_type,
           COUNT(*) AS n,
           {isum_sql("CAST(props->>'$.k' AS BIGINT)", "sum_k")}
    FROM events, mx
    WHERE time_bucket(INTERVAL '1 hour', ts) + INTERVAL '1 hour'
          <= mt - INTERVAL '1 minute'
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
)
def stream_variant_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's flagship kernel ON A STREAM: parse_json →
    variant_get runs per-row inside the streaming micro-batch exactly
    as in batch (SURVEY.md §2 Part B row 11 — variant parsing is
    engine-native, so watermarks/windows compose with it untouched).
    Tumbling 1h windows per event_type aggregating the extracted $.k;
    append mode emits only watermark-finalized windows.
    """
    st = core.read_events_stream(spark, sf_dir)
    parsed = st.withColumn(
        "k", F.variant_get(F.parse_json("props"), "$.k", "bigint")
    )
    agg = (
        parsed.withWatermark("ts", "1 minute")
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("k").cast("long").alias("sum_k"))
        .select(
            F.date_format("window.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n",
            "sum_k",
        )
    )
    out = core.run_to_batch(agg, "append")
    return out.orderBy("window_start", "event_type")


@query(
    "stream_stream_variant_join",
    oracle="""
    SELECT p.event_id AS purchase_id, v.event_id AS view_id,
           CAST(p.props->>'$.k' AS BIGINT) AS k
    FROM events p JOIN events v
      ON p.event_type = 'purchase' AND v.event_type = 'view'
     AND CAST(p.props->>'$.k' AS BIGINT) = CAST(v.props->>'$.k' AS BIGINT)
     AND v.ts BETWEEN p.ts - INTERVAL '24 hours' AND p.ts
    ORDER BY purchase_id, view_id
    """,
)
def stream_stream_variant_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream join on VARIANT-EXTRACTED keys: parse_json →
    variant_get runs on BOTH streams and the extracted $.k is the join
    key — the reference's codec capability composed with Spark's
    watermarked interval join (the capability x streaming cross
    product). Each purchase pairs with views sharing its k from the
    preceding 24 hours; watermarks plus the time-range predicate bound
    the join state on both sides, so state stays O(window), not
    O(stream). Inner-join matches emit per micro-batch (watermark only
    drives state eviction), so AvailableNow produces the full batch
    answer deterministically."""
    purchases = (
        core.read_events_stream(spark, sf_dir)
        .where(F.col("event_type") == "purchase")
        .withColumn("k", F.variant_get(F.parse_json("props"), "$.k", "bigint"))
        .withWatermark("ts", "1 minute")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("k"),
            F.col("ts").alias("p_ts"),
        )
    )
    views = (
        core.read_events_stream(spark, sf_dir)
        .where(F.col("event_type") == "view")
        .withColumn("vk", F.variant_get(F.parse_json("props"), "$.k", "bigint"))
        .withWatermark("ts", "1 minute")
        .select(
            F.col("event_id").alias("view_id"),
            F.col("vk"),
            F.col("ts").alias("v_ts"),
        )
    )
    joined = purchases.join(
        views,
        (F.col("k") == F.col("vk"))
        & (F.col("v_ts") >= F.col("p_ts") - F.expr("INTERVAL 24 hours"))
        & (F.col("v_ts") <= F.col("p_ts")),
    ).select("purchase_id", "view_id", "k")
    out = core.run_to_batch(joined, "append")
    return out.orderBy("purchase_id", "view_id")


@query(
    "stream_stream_left_join",
    oracle="""
    WITH mx AS (
      -- global watermark = MIN of the per-side watermarks; each side's
      -- watermark tracks only the events that flow through ITS
      -- watermark node (post-filter), so the sides advance separately
      SELECT LEAST(
        (SELECT max(ts) FROM events WHERE event_type = 'error'),
        (SELECT max(ts) FROM events WHERE event_type = 'click')) AS mt),
    errors AS (SELECT event_id AS error_id, user_id, ts
               FROM events WHERE event_type = 'error'),
    clicks AS (SELECT event_id AS click_id, user_id, ts
               FROM events WHERE event_type = 'click')
    SELECT e.error_id, COALESCE(c.click_id, -1) AS click_id, e.user_id
    FROM errors e
    LEFT JOIN clicks c
      ON c.user_id = e.user_id
     AND c.ts BETWEEN e.ts - INTERVAL '10 minutes' AND e.ts, mx
    WHERE c.click_id IS NOT NULL OR e.ts < mt - INTERVAL '1 minute'
    ORDER BY error_id, click_id
    """,
)
def stream_stream_left_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT OUTER stream-stream interval join — the state-eviction
    semantics the inner join never exercises: matches emit per
    micro-batch, but an unmatched error can only emit its
    null-extended row once the click-side watermark passes its upper
    join bound (no future click can match), i.e. in the final
    watermark-flush batch. Errors inside the last watermark-delay
    sliver of the input are withheld (state not yet evictable at
    end-of-input) — the oracle reproduces exactly that cutoff.
    NULL click_id is surfaced as -1 so both engines sort and hash
    identically."""
    errors = (
        core.read_events_stream(spark, sf_dir)
        .where(F.col("event_type") == "error")
        .withWatermark("ts", "1 minute")
        .select(
            F.col("event_id").alias("error_id"),
            F.col("user_id"),
            F.col("ts").alias("err_ts"),
        )
    )
    clicks = (
        core.read_events_stream(spark, sf_dir)
        .where(F.col("event_type") == "click")
        .withWatermark("ts", "1 minute")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user_id"),
            F.col("ts").alias("click_ts"),
        )
    )
    joined = errors.join(
        clicks,
        (F.col("user_id") == F.col("c_user_id"))
        & (F.col("click_ts") >= F.col("err_ts") - F.expr("INTERVAL 10 minutes"))
        & (F.col("click_ts") <= F.col("err_ts")),
        "left_outer",
    ).select(
        "error_id",
        F.coalesce(F.col("click_id"), F.lit(-1)).alias("click_id"),
        "user_id",
    )
    out = core.run_to_batch(joined, "append")
    return out.orderBy("error_id", "click_id")


@query(
    "stream_multibatch_late_data",
    oracle="""
    WITH wmflt AS (
      -- late-row filter watermark for batch 2: Spark's filter lags the
      -- eviction watermark by one batch, so batch 2 filters with the
      -- watermark displayed at batch 1 = max BATCH-0 ts - delay.
      -- Batches 0 and 1 filter with the earlier displayed watermarks
      -- (-inf) and never drop.
      SELECT max(ts) - INTERVAL '1 minute' AS w FROM events WHERE event_id % 2 = 0),
    wmf AS (SELECT max(ts) - INTERVAL '1 minute' AS w FROM events),
    rows_w AS (
      SELECT event_id, value, time_bucket(INTERVAL '1 hour', ts) AS ws FROM events),
    kept AS (
      SELECT r.* FROM rows_w r, wmflt
      WHERE NOT (r.event_id % 4 = 3 AND r.ws + INTERVAL '1 hour' <= wmflt.w)),
    agg AS (
      SELECT ws, COUNT(*) AS n,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      FROM kept GROUP BY ws)
    SELECT strftime(a.ws, '%Y-%m-%d %H:%M:%S') AS window_start, a.n, a.sum_value
    FROM agg a, wmf
    WHERE a.ws + INTERVAL '1 hour' <= wmf.w
    ORDER BY window_start
    """,
)
def stream_multibatch_late_data(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GENUINE late-data dropping across micro-batches: the events
    table streams as three time-interleaved batches (even event_ids,
    then odd %4==1, then odd %4==3), so later batches arrive behind
    the watermark earlier batches advanced. Spark's late-row FILTER
    lags the eviction watermark by one batch (measured via
    numRowsDroppedByWatermark): eviction in batch N uses max event
    time through batch N-1, but the filter uses the watermark
    displayed at batch N-1, i.e. max through batch N-2 — so batch 1's
    stale rows still merge and only batch 2's are dropped. Rows whose
    1-hour window was finalized under that lagged watermark drop;
    everything else merges; evictions emit merged counts. The oracle
    derives every rule exactly — semantics a single-batch AvailableNow
    run can never exercise."""
    import os as _os

    from . import catalog as _catalog

    split_dir = _os.path.join(_catalog._IO_DIR, "events_split")
    st = core.read_multibatch_events_stream(spark, sf_dir, split_dir)
    agg = (
        st.withWatermark("ts", "1 minute")
        .groupBy(F.window("ts", "1 hour").alias("win"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
        )
        .select(
            F.date_format(F.col("win.start"), "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "n",
            "sum_value",
        )
    )
    out = core.run_to_batch(agg, "append")
    return out.orderBy("window_start")


_DEDUP_CORPUS_ORACLE = r"""
    WITH hist AS (
      SELECT DISTINCT md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS h
      FROM documents WHERE doc_id % 3 != 0
    )
    SELECT d.doc_id, d.lang, d.source
    FROM documents d
    WHERE d.doc_id % 3 = 0
      AND md5(regexp_replace(trim(lower(d.text)), '\s+', ' ', 'g'))
          NOT IN (SELECT h FROM hist)
    ORDER BY d.doc_id
    """


def _stream_dedup_against_corpus(
    spark: SparkSession, sf_dir: str, broadcast_threshold_rows: int
) -> DataFrame:
    from ..operators import dedup
    from ..sources.tables import load_table
    from ..streaming import history

    st = core.read_table_stream(spark, sf_dir, "documents")
    new_docs = st.where(F.col("doc_id") % 3 == 0).withColumn(
        "content_hash", F.md5(dedup.normalize_text("text"))
    )
    hist = (
        load_table(spark, sf_dir, "documents")
        .where(F.col("doc_id") % 3 != 0)
        .select(F.md5(dedup.normalize_text("text")).alias("h"))
    )
    idx = history.build_history_index(
        spark,
        hist,
        "h",
        table_name="hist_dedup_content_idx",
        broadcast_threshold_rows=broadcast_threshold_rows,
    )
    cols = ["doc_id", "lang", "source"]
    if idx.broadcasted:
        survivors = new_docs.join(
            idx.relation, new_docs.content_hash == F.col("h"), "left_anti"
        ).select(*cols)
    else:
        # scale path, SINGLE PASS: bloom-negative rows are DEFINITELY
        # novel (no false negatives), so their probe key is rewritten
        # to a salted sentinel ("#<doc_id mod 64>") that can never
        # match a 32-hex-char fingerprint — they traverse the anti-
        # join unmatched and survive, without a second plan branch
        # that would re-scan the source and re-hash every document
        # (the round-10 review finding on the earlier union shape).
        # The salt spreads sentinel keys across partitions; only
        # NARROW columns reach the exchange (text is projected away),
        # and the bucketed index is read in place.
        probe = idx.attach_bitset(new_docs)
        probe_key = F.when(
            idx.member("content_hash"), F.col("content_hash")
        ).otherwise(
            F.concat(F.lit("#"), (F.col("doc_id") % 64).cast("string"))
        )
        survivors = (
            probe.select(*cols, probe_key.alias("_pk"))
            .hint("merge")
            .join(idx.relation, F.col("_pk") == F.col("h"), "left_anti")
            .select(*cols)
        )
    return core.run_to_batch(survivors, "append").orderBy("doc_id")


@query(
    "stream_dedup_against_corpus",
    oracle=_DEDUP_CORPUS_ORACLE,
    hash_deps=(_stream_dedup_against_corpus,),
)
def stream_dedup_against_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-at-ingest: a stream of NEW documents (doc_id % 3 = 0)
    probes the historical corpus' exact-dedup fingerprints
    (content-hash of normalized text, distinct) with a LEFT ANTI
    stream-static join — only never-seen-before content survives to
    the sink. Stateless: no watermark, no state store. The history
    relation is SIZE-AWARE (streaming/history.py): below the
    broadcast threshold it ships as a broadcast hash join (the right
    plan at every test SF); past it — ~10^10 docs of history at
    100 TB is ~160 GB of fingerprints, not broadcastable — the
    fingerprints persist once as a bucketed table probed in place,
    with a capped Bloom bitset shedding definitely-novel rows before
    the probe-side shuffle. Twin ``stream_dedup_against_corpus_indexed``
    forces the scale path against the same oracle."""
    return _stream_dedup_against_corpus(
        spark, sf_dir, _history.DEFAULT_BROADCAST_THRESHOLD_ROWS
    )


@query(
    "stream_dedup_against_corpus_indexed",
    oracle=_DEDUP_CORPUS_ORACLE,
    hash_deps=(_stream_dedup_against_corpus, _history.build_history_index),
)
def stream_dedup_against_corpus_indexed(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """``stream_dedup_against_corpus`` with the broadcast threshold
    forced to zero — the 100 TB topology (bucketed fingerprint index
    probed in place + Bloom bypass) exercised and hash-verified at
    test scale against the identical oracle. The plan must show NO
    BroadcastExchange on the history side (pinned in tests)."""
    return _stream_dedup_against_corpus(spark, sf_dir, 0)


@query(
    "stream_stream_full_outer_join",
    oracle="""
    WITH mx AS (
      SELECT LEAST(
        (SELECT max(ts) FROM events WHERE event_type = 'error'),
        (SELECT max(ts) FROM events WHERE event_type = 'click')) AS mt),
    errors AS (SELECT event_id AS error_id, user_id, ts
               FROM events WHERE event_type = 'error'),
    clicks AS (SELECT event_id AS click_id, user_id, ts
               FROM events WHERE event_type = 'click')
    SELECT COALESCE(e.error_id, -1) AS error_id,
           COALESCE(c.click_id, -1) AS click_id,
           COALESCE(e.user_id, c.user_id) AS user_id
    FROM errors e
    FULL JOIN clicks c
      ON c.user_id = e.user_id
     AND c.ts BETWEEN e.ts - INTERVAL '10 minutes' AND e.ts, mx
    WHERE (e.error_id IS NOT NULL AND c.click_id IS NOT NULL)
       OR (c.click_id IS NULL AND e.ts < mt - INTERVAL '1 minute')
       OR (e.error_id IS NULL
           AND c.ts + INTERVAL '10 minutes' < mt - INTERVAL '1 minute')
    ORDER BY error_id, click_id
    """,
)
def stream_stream_full_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER stream-stream interval join — BOTH sides' eviction
    semantics at once: matches emit per micro-batch; an unmatched
    error null-extends once the watermark passes its own ts (its click
    window's upper bound), while an unmatched click must wait until
    the watermark passes ts + 10 minutes (the last error that could
    still reach back to it). The oracle reproduces both cutoffs
    against the global watermark (min of the per-side maxima, minus
    the delay); rows inside the final unevictable sliver are withheld
    on both engines. NULLs surface as -1 so ordering and hashing are
    engine-identical."""
    errors = (
        core.read_events_stream(spark, sf_dir)
        .where(F.col("event_type") == "error")
        .withWatermark("ts", "1 minute")
        .select(
            F.col("event_id").alias("error_id"),
            F.col("user_id"),
            F.col("ts").alias("err_ts"),
        )
    )
    clicks = (
        core.read_events_stream(spark, sf_dir)
        .where(F.col("event_type") == "click")
        .withWatermark("ts", "1 minute")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user_id"),
            F.col("ts").alias("click_ts"),
        )
    )
    joined = errors.join(
        clicks,
        (F.col("user_id") == F.col("c_user_id"))
        & (F.col("click_ts") >= F.col("err_ts") - F.expr("INTERVAL 10 minutes"))
        & (F.col("click_ts") <= F.col("err_ts")),
        "full_outer",
    ).select(
        F.coalesce(F.col("error_id"), F.lit(-1)).alias("error_id"),
        F.coalesce(F.col("click_id"), F.lit(-1)).alias("click_id"),
        F.coalesce(F.col("user_id"), F.col("c_user_id")).alias("user_id"),
    )
    out = core.run_to_batch(joined, "append")
    return out.orderBy("error_id", "click_id")


@query(
    "stream_chained_stateful_rollup",
    oracle=f"""
    WITH mx AS (SELECT max(ts) - INTERVAL '1 minute' AS wm FROM events),
    l1 AS (
      SELECT time_bucket(INTERVAL '1 hour', ts) AS hs, COUNT(*) AS n,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DECIMAL(28,2)) AS sv
      FROM events, mx
      WHERE time_bucket(INTERVAL '1 hour', ts) + INTERVAL '1 hour' <= wm
      GROUP BY 1
    )
    SELECT strftime(time_bucket(INTERVAL '6 hours', hs), '%Y-%m-%d %H:%M:%S')
             AS bucket_start,
           CAST(SUM(n) AS BIGINT) AS n,
           CAST(SUM(sv) AS DOUBLE) AS sum_value
    FROM l1, mx
    WHERE time_bucket(INTERVAL '6 hours', hs) + INTERVAL '6 hours' <= wm
    GROUP BY 1 ORDER BY 1
    """,
)
def stream_chained_stateful_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHAINED stateful operators in one streaming query (Spark 3.4+):
    a watermarked 1-hour tumbling aggregate feeds a SECOND windowed
    aggregate over 6-hour buckets, using window_time() to re-derive
    event time from the finalized hour windows — the multi-level
    rollup topology that previously required two jobs with an
    intermediate sink. Both levels run append-mode off one global
    watermark: hours finalize when the watermark passes their end,
    6h buckets when it passes theirs (an unfinalized trailing hour
    never reaches level 2 — the oracle applies both cutoffs)."""
    st = core.read_events_stream(spark, sf_dir)
    hourly = (
        st.withWatermark("ts", "1 minute")
        .groupBy(F.window("ts", "1 hour").alias("win"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)")).alias("sv"),
        )
    )
    rolled = (
        hourly.groupBy(F.window(F.window_time("win"), "6 hours").alias("bucket"))
        .agg(
            F.sum("n").cast("long").alias("n"),
            F.sum("sv").cast("double").alias("sum_value"),
        )
        .select(
            F.date_format(F.col("bucket.start"), "yyyy-MM-dd HH:mm:ss").alias(
                "bucket_start"
            ),
            "n",
            "sum_value",
        )
    )
    out = core.run_to_batch(rolled, "append")
    return out.orderBy("bucket_start")


@query(
    "stream_dedup_state_eviction",
    oracle=r"""
    -- Reproduces dropDuplicatesWithinWatermark's cross-batch state
    -- machine (measured on Spark 4 with per-batch state metrics;
    -- verified below to the exact per-batch emission counts):
    --   * the LATE filter lags one batch: batch 1 drops nothing
    --     (initial watermark), batch 2 drops ts < wm1 where
    --     wm1 = max batch-0 event ts - delay (strict <);
    --   * dup check runs BEFORE eviction within a batch, and eviction
    --     runs at batch END with that batch's displayed watermark —
    --     so an emission at t_e is live during batch N iff
    --     t_e + delay > wm_{N-1} (strict >; batch 1 sees ALL batch-0
    --     state, batch 2 sees state surviving wm1);
    --   * dropped duplicates do NOT extend the expiry anchor.
    WITH ev AS (
      SELECT event_id, ts,
             md5(regexp_replace(trim(lower(props)), '\s+', ' ', 'g')
                 || ':' || user_id) AS h,
             CASE WHEN event_id % 2 = 0 THEN 0
                  WHEN event_id % 4 = 1 THEN 1 ELSE 2 END AS b
      FROM events
    ),
    cand AS (
      SELECT h, b, event_id, ts FROM (
        SELECT *, row_number() OVER (PARTITION BY h, b ORDER BY event_id DESC) AS rn
        FROM ev
      ) WHERE rn = 1
    ),
    wm AS (SELECT (SELECT max(ts) FROM cand WHERE b = 0)
                  - INTERVAL '7 days' AS wm1),
    e0 AS (SELECT h, event_id, ts FROM cand WHERE b = 0),
    e1 AS (
      SELECT c.h, c.event_id, c.ts FROM cand c
      WHERE c.b = 1
        AND NOT EXISTS (SELECT 1 FROM e0 WHERE e0.h = c.h)
    ),
    st2 AS (SELECT h, ts FROM e0 UNION ALL SELECT h, ts FROM e1),
    e2 AS (
      SELECT c.h, c.event_id, c.ts FROM cand c, wm
      WHERE c.b = 2 AND c.ts >= wm.wm1
        AND NOT EXISTS (
          SELECT 1 FROM st2 s, wm w
          WHERE s.h = c.h AND s.ts + INTERVAL '7 days' > w.wm1)
    )
    SELECT h AS content_hash, event_id FROM (
      SELECT h, event_id FROM e0
      UNION ALL SELECT h, event_id FROM e1
      UNION ALL SELECT h, event_id FROM e2)
    ORDER BY content_hash, event_id
    """,
)
def stream_dedup_state_eviction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dropDuplicatesWithinWatermark's FULL state lifecycle across
    micro-batches: emit on first sight, drop duplicates while the key's
    state lives, evict state once the watermark passes the first
    emission's event time + delay, and RE-EMIT a later duplicate after
    eviction — the semantics that distinguish it from plain
    dropDuplicates, and that a single-batch run can never exercise.

    The oracle encodes the state machine as measured empirically on
    Spark 4 (5-batch probe harness + per-batch state metrics, emission
    counts reproduced exactly: 4261/1652/463 at sf0.01): the LATE
    filter lags one batch (batch 2 filters with the watermark
    displayed at batch 1 = max batch-0 ts - delay, strict <; batch 1
    drops nothing), the dup check runs before eviction within a batch
    while eviction uses that batch's displayed watermark at batch END
    (so liveness during batch N tests against wm_{N-1}, strict >), and
    a dropped duplicate does NOT extend the expiry anchor (it stays
    the emitted record's event time). The dedup key is
    (content hash, user) — content alone recurs so densely that no
    state would ever expire. The stream feeds one row per (key, batch)
    — see streaming/core.py:read_multibatch_dedup_stream for why that
    pre-dedup is required for ANY oracle to exist."""
    import os as _os

    from . import catalog as _catalog

    split_dir = _os.path.join(_catalog._IO_DIR, "events_dedup_split")
    st = core.read_multibatch_dedup_stream(spark, sf_dir, split_dir)
    out = st.withWatermark("ts", "7 days").dropDuplicatesWithinWatermark(["h"])
    res = core.run_to_batch(out, "append")
    return res.select(
        F.col("h").alias("content_hash"), "event_id"
    ).orderBy("content_hash", "event_id")


@query(
    "stream_session_merge_multibatch",
    oracle=r"""
    -- Cross-batch session-window state machine (same empirically
    -- pinned lag rules as stream_multibatch_late_data /
    -- stream_dedup_state_eviction): batch N's displayed watermark is
    -- max event ts through batch N-1 minus delay; the late filter
    -- lags one batch and drops a row iff its OWN session envelope
    -- (ts + gap) <= that lagged watermark; sessions merge first and
    -- emit at batch end when session_end <= the batch's displayed
    -- watermark; emitted sessions leave state, so later rows in their
    -- range form NEW sessions. Verified row-for-row (4377 sessions at
    -- sf0.01) against the real three-batch stream.
    WITH r AS (
      SELECT user_id, ts, value,
             CASE WHEN event_id % 2 = 0 THEN 0
                  WHEN event_id % 4 = 1 THEN 1 ELSE 2 END AS b
      FROM events),
    wmv AS (SELECT
      (SELECT max(ts) FROM r WHERE b = 0) - INTERVAL '3 days' AS wm1,
      greatest((SELECT max(ts) FROM r WHERE b = 0),
               (SELECT max(ts) FROM r WHERE b = 1)) - INTERVAL '3 days' AS wm2,
      (SELECT max(ts) FROM r) - INTERVAL '3 days' AS wm3),
    p1 AS (
      SELECT user_id, ts, value,
             SUM(CASE WHEN pv IS NULL OR ts - pv > INTERVAL '6 hours'
                      THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING)
               AS isl
      FROM (SELECT user_id, ts, value,
                   lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS pv
            FROM r WHERE b IN (0, 1))),
    s1 AS (
      SELECT user_id, isl, min(ts) AS st, max(ts) + INTERVAL '6 hours' AS en,
             count(*) AS n, SUM(CAST(value AS DECIMAL(18,2))) AS sv
      FROM p1 GROUP BY 1, 2),
    e1 AS (SELECT s1.* FROM s1, wmv WHERE s1.en <= wmv.wm1),
    rem1 AS (
      SELECT p1.user_id, p1.ts, p1.value FROM p1
      JOIN s1 USING (user_id, isl), wmv WHERE s1.en > wmv.wm1),
    k2 AS (SELECT user_id, ts, value FROM r, wmv
           WHERE b = 2 AND ts + INTERVAL '6 hours' > wmv.wm1),
    p2 AS (
      SELECT user_id, ts, value,
             SUM(CASE WHEN pv IS NULL OR ts - pv > INTERVAL '6 hours'
                      THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING)
               AS isl
      FROM (SELECT user_id, ts, value,
                   lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS pv
            FROM (SELECT * FROM rem1 UNION ALL SELECT * FROM k2))),
    s2 AS (
      SELECT user_id, isl, min(ts) AS st, max(ts) + INTERVAL '6 hours' AS en,
             count(*) AS n, SUM(CAST(value AS DECIMAL(18,2))) AS sv
      FROM p2 GROUP BY 1, 2),
    e2 AS (SELECT s2.* FROM s2, wmv WHERE s2.en <= wmv.wm2),
    e3 AS (SELECT s2.* FROM s2, wmv
           WHERE s2.en > wmv.wm2 AND s2.en <= wmv.wm3)
    SELECT user_id,
           strftime(st, '%Y-%m-%d %H:%M:%S.%f') AS session_start,
           strftime(en, '%Y-%m-%d %H:%M:%S.%f') AS session_end,
           CAST(n AS BIGINT) AS n, CAST(sv AS DOUBLE) AS sum_value
    FROM (SELECT * FROM e1 UNION ALL SELECT * FROM e2 UNION ALL SELECT * FROM e3)
    ORDER BY user_id, session_start
    """,
)
def stream_session_merge_multibatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows MERGING across micro-batches — the stateful
    behavior a single-batch run cannot show: a batch-1 row within the
    6-hour gap of a batch-0 session extends/merges it; sessions whose
    envelope closed under the (one-batch-lagged) watermark drop their
    late rows; emitted sessions leave state, so a later in-range row
    starts a fresh session that emits separately. The oracle replays
    the whole state machine in two sessionization phases plus the
    final-batch close, using the same empirically pinned lag rules as
    the tumbling-window and dedup-eviction multibatch queries; at
    sf0.01 all 4377 emitted sessions match row-for-row."""
    import os as _os

    from . import catalog as _catalog

    split_dir = _os.path.join(_catalog._IO_DIR, "events_split_sess")
    st = core.read_multibatch_events_stream(spark, sf_dir, split_dir)
    sess = (
        st.withWatermark("ts", "3 days")
        .groupBy(F.session_window("ts", "6 hours").alias("w"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
        )
        .select(
            "user_id",
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("session_start"),
            F.date_format("w.end", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("session_end"),
            "n",
            "sum_value",
        )
    )
    out = core.run_to_batch(sess, "append")
    return out.orderBy("user_id", "session_start")


@query(
    "stream_update_mode_revisions",
    oracle="""
    -- update-mode emission trace: each micro-batch re-emits the
    -- RUNNING aggregate for every group it touched; the memory sink
    -- accumulates all revisions, so the result is one row per
    -- (group, batch-prefix) pair. No watermark, no late drops — the
    -- batches partition events by id parity (see
    -- read_multibatch_events_stream).
    WITH ev AS (
      SELECT event_type, value,
             CASE WHEN event_id % 2 = 0 THEN 0
                  WHEN event_id % 4 = 1 THEN 1 ELSE 2 END AS b
      FROM events
    ),
    batches(bn) AS (VALUES (0), (1), (2))
    SELECT e.event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
    FROM ev e JOIN batches ON e.b <= batches.bn
    GROUP BY e.event_type, batches.bn
    ORDER BY event_type, n
    """,
)
def stream_update_mode_revisions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UPDATE output mode's revision semantics, observable only across
    micro-batches: an unwatermarked per-type aggregate re-emits each
    type's RUNNING (count, sum) in every batch that touches it, so the
    sink accumulates three successive revisions per type — the
    changelog a downstream upsert consumer (foreachBatch MERGE) would
    apply. The oracle regenerates every batch-prefix aggregate; every
    type appears in every parity batch, so the trace is exactly
    3 rows per type. Completes the output-mode coverage next to the
    append-mode window/join queries (complete mode's memory snapshot
    is the degenerate final aggregate)."""
    import os as _os

    from . import catalog as _catalog

    split_dir = _os.path.join(_catalog._IO_DIR, "events_split_upd")
    st = core.read_multibatch_events_stream(spark, sf_dir, split_dir)
    agg = st.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
    )
    out = core.run_to_batch(agg, "update")
    return out.orderBy("event_type", "n")


@query(
    "stream_classifier_at_ingest",
    oracle=r"""
    WITH w AS (
      SELECT doc_id, lang,
             list_filter(string_split(text, ' '), x -> len(x) > 0) AS ws
      FROM documents
    )
    SELECT doc_id, lang,
           CAST(COALESCE(list_sum(list_transform(ws,
             x -> (((('0x' || substr(md5(x), 1, 4))::INT) % 4096)
                   * 2654435761) % 2001 - 1000)), 0) AS BIGINT) AS raw,
           CAST(COALESCE(list_sum(list_transform(ws,
             x -> (((('0x' || substr(md5(x), 1, 4))::INT) % 4096)
                   * 2654435761) % 2001 - 1000)), 0) > 0 AS BOOLEAN) AS kept
    FROM w ORDER BY doc_id
    """,
)
def stream_classifier_at_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-classifier INFERENCE on the ingest stream — the
    streaming twin of ``text_quality_classifier``: every arriving
    document is scored by the hashed linear model and tagged
    keep/drop before it ever lands in the corpus. The scoring is an
    IN-ROW higher-order fold (``aggregate(transform(tokens, w(h(t))))``)
    — no explode, no per-doc groupBy — so the streaming query is 100%
    STATELESS: no watermark, no state store, append mode, arbitrary
    per-batch parallelism. That is the operational difference from the
    batch twin's broadcast-join formulation: a learned weight TABLE
    would broadcast-join on the bucket (still stateless); a weight
    FUNCTION inlines entirely, as here. At 100 TB/day of ingest this
    is the shape you want — the classifier adds zero shuffle and zero
    state to the ingest pipeline.
    """
    from ..operators.text import bucket_weight, token_bucket, words

    st = core.read_table_stream(spark, sf_dir, "documents")

    def tok_weight(x):
        return bucket_weight(token_bucket(x))

    raw = F.aggregate(
        F.transform(words("text"), tok_weight),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    scored = st.select(
        "doc_id", "lang", raw.alias("raw"), (raw > 0).alias("kept")
    )
    return core.run_to_batch(scored, "append").orderBy("doc_id")


_NEARDUP_INGEST_ORACLE = """
    WITH grams AS (
      SELECT DISTINCT doc_id, substr(text, i::INT, 8) AS g
      FROM (SELECT doc_id, text, unnest(range(1, len(text) - 6)) AS i
            FROM documents)
    ),
    sigs AS (
      SELECT doc_id,
             min(xor(x, 1024421277861575701)) AS mh0,
             min(xor(x, 895921051116304426)) AS mh1,
             min(xor(x, 767420824371033151)) AS mh2,
             min(xor(x, 638920597625761876)) AS mh3,
             min(xor(x, 510420370880490601)) AS mh4,
             min(xor(x, 381920144135219326)) AS mh5,
             min(xor(x, 253419917389948051)) AS mh6,
             min(xor(x, 124919690644676776)) AS mh7
      FROM (SELECT doc_id, (('0x' || substr(md5(g), 1, 15))::UBIGINT)::BIGINT AS x
            FROM grams)
      GROUP BY doc_id
    ),
    bands AS (
      SELECT doc_id, 0 AS band_id, md5(mh0 || mh1 || mh2 || mh3) AS band_hash FROM sigs
      UNION ALL
      SELECT doc_id, 1 AS band_id, md5(mh4 || mh5 || mh6 || mh7) AS band_hash FROM sigs
    ),
    hist AS (
      SELECT DISTINCT band_id, band_hash FROM bands WHERE doc_id % 3 != 0
    ),
    hits AS (
      SELECT b.doc_id, CAST(COUNT(*) AS BIGINT) AS n_matching_bands
      FROM bands b JOIN hist h USING (band_id, band_hash)
      WHERE b.doc_id % 3 = 0
      GROUP BY 1
    )
    SELECT d.doc_id, d.lang, h.n_matching_bands
    FROM documents d JOIN hits h ON d.doc_id = h.doc_id
    ORDER BY d.doc_id
    """


def stream_neardup_at_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEAR-duplicate screening at ingest — the streaming complement
    to ``stream_dedup_against_corpus`` (which only catches byte-exact
    content): each arriving document's MinHash-LSH band hashes are
    computed IN-ROW (``array_min`` over the per-row gram-hash array —
    no explode, no per-doc groupBy, so unlike the batch formulation
    there is NO streaming aggregation) and probed against the
    historical corpus' distinct band-bucket index (both bands folded
    into one md5 key so one index serves both probes). 100% STATELESS:
    no watermark, no state store, append mode. The index relation is
    SIZE-AWARE (streaming/history.py): broadcast below the threshold,
    else a bucketed table probed in place with a Bloom prescreen that
    drops rows missing BOTH bands before the probe-side shuffle
    (lossless — the query only emits rows with ≥1 matching band, and
    Bloom has no false negatives). It is the SAME index artifact the
    batch ``dedup_minhash_lsh`` bucket join builds, so ingest
    screening and offline dedup share one index. Emits the flagged
    docs with how many bands matched (2 = high-confidence near-dup,
    1 = candidate for the exact-Jaccard verify stage). Twin
    ``stream_neardup_at_ingest_indexed`` forces the scale path.
    """
    return _stream_neardup_at_ingest(
        spark, sf_dir, _history.DEFAULT_BROADCAST_THRESHOLD_ROWS
    )


def _stream_neardup_at_ingest(
    spark: SparkSession, sf_dir: str, broadcast_threshold_rows: int
) -> DataFrame:
    from ..operators.dedup import banded_hashes, minhash_signatures_inrow
    from ..sources.tables import load_table
    from ..streaming import history

    def bands_for(df: DataFrame) -> DataFrame:
        sigs = minhash_signatures_inrow(
            df, "text", "doc_id", n=8, num_hashes=8, keep=["doc_id", "lang"]
        )
        b0, b1 = banded_hashes(sigs, num_hashes=8, bands=2)
        return sigs.select("doc_id", "lang", b0.alias("bh0"), b1.alias("bh1"))

    hist_bands = bands_for(
        load_table(spark, sf_dir, "documents").where(F.col("doc_id") % 3 != 0)
    )
    # fold (band_id, band_hash) into ONE key so a single index serves
    # both band probes and the bucketing key equals the join key
    hist = hist_bands.select(
        F.explode(
            F.array(
                F.md5(F.concat(F.lit("0"), F.col("bh0"))),
                F.md5(F.concat(F.lit("1"), F.col("bh1"))),
            )
        ).alias("bh2")
    )
    idx = history.build_history_index(
        spark,
        hist,
        "bh2",
        table_name="hist_neardup_band_idx",
        broadcast_threshold_rows=broadcast_threshold_rows,
    )

    st = core.read_table_stream(spark, sf_dir, "documents")
    new_bands = bands_for(st.where(F.col("doc_id") % 3 == 0)).select(
        "doc_id",
        "lang",
        F.md5(F.concat(F.lit("0"), F.col("bh0"))).alias("k0"),
        F.md5(F.concat(F.lit("1"), F.col("bh1"))).alias("k1"),
    )
    if not idx.broadcasted:
        # shed rows missing BOTH bands before anything shuffles; the
        # exact joins below remove bloom false positives per band
        new_bands = idx.attach_bitset(new_bands)
        new_bands = new_bands.where(
            idx.member("k0") | idx.member("k1")
        )
        new_bands = idx.drop_bitset(new_bands)
        m0 = idx.relation.select(F.col("bh2").alias("_m0"))
        m1 = idx.relation.select(F.col("bh2").alias("_m1"))
        probed = new_bands.hint("merge").join(
            m0, new_bands.k0 == F.col("_m0"), "left"
        )
        probed = probed.hint("merge").join(m1, probed.k1 == F.col("_m1"), "left")
    else:
        m0 = idx.relation.select(F.col("bh2").alias("_m0"))
        m1 = idx.relation.select(F.col("bh2").alias("_m1"))
        probed = new_bands.join(
            F.broadcast(m0), new_bands.k0 == F.col("_m0"), "left"
        ).join(F.broadcast(m1), F.col("k1") == F.col("_m1"), "left")
    flagged = probed.select(
        "doc_id",
        "lang",
        (
            F.col("_m0").isNotNull().cast("long")
            + F.col("_m1").isNotNull().cast("long")
        ).alias("n_matching_bands"),
    ).where(F.col("n_matching_bands") > 0)
    return core.run_to_batch(flagged, "append").orderBy("doc_id")


def stream_neardup_at_ingest_indexed(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """``stream_neardup_at_ingest`` with the broadcast threshold
    forced to zero — the 100 TB topology (bucketed band index probed
    in place + both-bands-miss Bloom shed) exercised and hash-verified
    at test scale against the identical oracle. Plan pinned: no
    BroadcastExchange on the index side."""
    return _stream_neardup_at_ingest(spark, sf_dir, 0)


query(
    "stream_neardup_at_ingest",
    oracle=_NEARDUP_INGEST_ORACLE,
    hash_deps=(_stream_neardup_at_ingest,),
)(stream_neardup_at_ingest)
query(
    "stream_neardup_at_ingest_indexed",
    oracle=_NEARDUP_INGEST_ORACLE,
    hash_deps=(_stream_neardup_at_ingest, _history.build_history_index),
)(stream_neardup_at_ingest_indexed)


_INGEST_FUNNEL_ORACLE = r"""
    -- the whole ingest-gate cascade replayed in batch SQL: quality
    -- gate -> prefix-exact dup vs history -> 2-band near-dup probe ->
    -- classifier -> shard assignment (history = doc_id % 3 != 0,
    -- arriving = % 3 = 0, same split as stream_neardup_at_ingest)
    WITH grams AS (
      SELECT DISTINCT doc_id, substr(text, i::INT, 8) AS g
      FROM (SELECT doc_id, text, unnest(range(1, len(text) - 6)) AS i
            FROM documents)
    ),
    sigs AS (
      SELECT doc_id,
             min(xor(x, 1024421277861575701)) AS mh0,
             min(xor(x, 895921051116304426)) AS mh1,
             min(xor(x, 767420824371033151)) AS mh2,
             min(xor(x, 638920597625761876)) AS mh3,
             min(xor(x, 510420370880490601)) AS mh4,
             min(xor(x, 381920144135219326)) AS mh5,
             min(xor(x, 253419917389948051)) AS mh6,
             min(xor(x, 124919690644676776)) AS mh7
      FROM (SELECT doc_id, (('0x' || substr(md5(g), 1, 15))::UBIGINT)::BIGINT AS x
            FROM grams)
      GROUP BY doc_id
    ),
    bands AS (
      SELECT doc_id, 0 AS band_id, md5(mh0 || mh1 || mh2 || mh3) AS band_hash FROM sigs
      UNION ALL
      SELECT doc_id, 1 AS band_id, md5(mh4 || mh5 || mh6 || mh7) AS band_hash FROM sigs
    ),
    hist_bands AS (
      SELECT DISTINCT band_id, band_hash FROM bands WHERE doc_id % 3 != 0
    ),
    nb AS (
      SELECT b.doc_id, CAST(COUNT(*) AS BIGINT) AS nmb
      FROM bands b JOIN hist_bands h USING (band_id, band_hash)
      WHERE b.doc_id % 3 = 0 GROUP BY 1
    ),
    hist AS (
      SELECT DISTINCT md5(substr(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'), 1, 200)) AS h
      FROM documents WHERE doc_id % 3 != 0
    ),
    feats AS (
      SELECT d.doc_id, d.lang,
             len(list_filter(string_split(d.text, ' '), x -> len(x) > 0)) AS n_words,
             md5(substr(regexp_replace(trim(lower(d.text)), '\s+', ' ', 'g'), 1, 200)) AS ph,
             CAST(COALESCE(list_sum(list_transform(
               list_filter(string_split(d.text, ' '), x -> len(x) > 0),
               x -> (((('0x' || substr(md5(x), 1, 4))::INT) % 4096)
                     * 2654435761) % 2001 - 1000)), 0) AS BIGINT) AS raw
      FROM documents d WHERE d.doc_id % 3 = 0
    ),
    verdict AS (
      SELECT f.lang,
             CASE WHEN f.n_words < 30 THEN '1_quality'
                  WHEN f.ph IN (SELECT h FROM hist) THEN '2_exact_prefix'
                  WHEN COALESCE(nb.nmb, 0) = 2 THEN '3_near_dup'
                  WHEN f.raw <= 0 THEN '4_classifier'
                  ELSE '5_admit' END AS stage,
             f.n_words,
             CASE WHEN f.n_words >= 30
                   AND f.ph NOT IN (SELECT h FROM hist)
                   AND COALESCE(nb.nmb, 0) < 2
                   AND f.raw > 0
                  THEN (('0x' || substr(md5(f.doc_id::VARCHAR), 1, 4))::INT) % 8
             END AS shard_id
      FROM feats f LEFT JOIN nb ON f.doc_id = nb.doc_id
    )
    SELECT lang, stage, COUNT(*) AS n_docs,
           CAST(SUM(n_words) AS BIGINT) AS sum_tokens,
           CAST(COUNT(DISTINCT shard_id) AS BIGINT) AS n_shards
    FROM verdict GROUP BY 1, 2 ORDER BY 1, 2
    """


def stream_ingest_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The streaming CAPSTONE — the whole ingest-admission cascade a
    100 TB/day pipeline runs on every arriving document, fused into
    ONE stateless streaming query: (1) quality gate (whitespace-token
    floor), (2) prefix-exact dup check against the historical corpus
    (md5 of the first 200 normalized chars — the URL/boilerplate-
    header dedup shape), (3) MinHash-LSH 2-band near-dup probe against
    the history's band index, (4) hashed-linear classifier score, (5)
    shard assignment for admitted docs. Emits per-doc verdicts in
    append mode; the memory-sink rows are then rolled up into the
    per-(lang, first-failing-stage) funnel report with admitted-shard
    fan-out — the number an ingest operator watches.

    Scale shape: every per-doc feature is IN-ROW (token count, prefix
    hash, classifier fold, in-row MinHash bands — no explode, no
    streaming aggregation), and all three history probes are
    SIZE-AWARE stream-static left joins (streaming/history.py):
    broadcast below the threshold (the right plan at test SF — the
    artifacts are tiny relative to the corpus), a bucketed in-place
    index probe past it, with a Bloom fast path that routes documents
    matching NONE of the three history keys (the common case on a
    mostly-novel crawl) around all three joins entirely. 100%
    STATELESS: no watermark, no state store — arbitrary per-batch
    parallelism at ingest, and the same artifacts the batch
    dedup/classifier queries build (``dedup_minhash_lsh``,
    ``text_quality_classifier``), so offline and ingest curation share
    one index. Twin ``stream_ingest_funnel_indexed`` forces the scale
    path. The reference has no streaming layer (its DataFusion query
    crate is TODO, README.md:13-16); this is the Spark-native
    composition of its codec-era building blocks."""
    return _stream_ingest_funnel(
        spark, sf_dir, _history.DEFAULT_BROADCAST_THRESHOLD_ROWS
    )


def _stream_ingest_funnel(
    spark: SparkSession, sf_dir: str, broadcast_threshold_rows: int
) -> DataFrame:
    from ..operators.dedup import (
        banded_hashes,
        minhash_signatures_inrow,
        normalize_text,
    )
    from ..operators.text import bucket_weight, token_bucket, words
    from ..sources.tables import load_table
    from ..streaming import history

    hist_docs = load_table(spark, sf_dir, "documents").where(
        F.col("doc_id") % 3 != 0
    )
    prefix_hash = F.md5(F.substring(normalize_text("text"), 1, 200))
    hist_prefix = hist_docs.select(prefix_hash.alias("_ph"))

    hist_sigs = minhash_signatures_inrow(
        hist_docs, "text", "doc_id", n=8, num_hashes=8, keep=["doc_id"]
    )
    b0, b1 = banded_hashes(hist_sigs, num_hashes=8, bands=2)
    hist_bands = hist_sigs.select(
        F.explode(
            F.array(
                F.md5(F.concat(F.lit("0"), b0)),
                F.md5(F.concat(F.lit("1"), b1)),
            )
        ).alias("bh2")
    )
    pidx = history.build_history_index(
        spark,
        hist_prefix,
        "_ph",
        table_name="hist_funnel_prefix_idx",
        broadcast_threshold_rows=broadcast_threshold_rows,
        bits_col="bits_p",
    )
    bidx = history.build_history_index(
        spark,
        hist_bands,
        "bh2",
        table_name="hist_funnel_band_idx",
        broadcast_threshold_rows=broadcast_threshold_rows,
        bits_col="bits_b",
    )

    st = core.read_table_stream(spark, sf_dir, "documents").where(
        F.col("doc_id") % 3 == 0
    )
    sigs = minhash_signatures_inrow(
        st, "text", "doc_id", n=8, num_hashes=8,
        keep=["doc_id", "lang", "text"],
    )
    nb0, nb1 = banded_hashes(sigs, num_hashes=8, bands=2)

    def tok_weight(x):
        return bucket_weight(token_bucket(x))

    raw = F.aggregate(
        F.transform(words("text"), tok_weight),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    feats = sigs.select(
        "doc_id",
        "lang",
        F.size(words("text")).cast("long").alias("n_words"),
        prefix_hash.alias("ph"),
        raw.alias("raw"),
        F.md5(F.concat(F.lit("0"), nb0)).alias("k0"),
        F.md5(F.concat(F.lit("1"), nb1)).alias("k1"),
    )

    def verdicts_of(df: DataFrame, is_exact, nmb) -> DataFrame:
        admitted = (
            (F.col("n_words") >= 30) & ~is_exact & (nmb < 2) & (F.col("raw") > 0)
        )
        return df.select(
            "lang",
            F.when(F.col("n_words") < 30, "1_quality")
            .when(is_exact, "2_exact_prefix")
            .when(nmb == 2, "3_near_dup")
            .when(F.col("raw") <= 0, "4_classifier")
            .otherwise("5_admit")
            .alias("stage"),
            "n_words",
            F.when(
                admitted, token_bucket(F.col("doc_id").cast("string"), 8)
            ).alias("shard_id"),
        )

    def probe_all(df: DataFrame, ph_key, k0_key, k1_key) -> DataFrame:
        """The three exact history joins; merge-hinted in-place scans
        on the bucketed path, broadcast otherwise."""
        prel = pidx.relation
        m0 = bidx.relation.select(F.col("bh2").alias("_m0"))
        m1 = bidx.relation.select(F.col("bh2").alias("_m1"))
        if bidx.broadcasted:
            m0, m1 = F.broadcast(m0), F.broadcast(m1)
        out = (df.hint("merge") if not pidx.broadcasted else df).join(
            prel, ph_key == F.col("_ph"), "left"
        )
        out = (out.hint("merge") if not bidx.broadcasted else out).join(
            m0, k0_key == F.col("_m0"), "left"
        )
        out = (out.hint("merge") if not bidx.broadcasted else out).join(
            m1, k1_key == F.col("_m1"), "left"
        )
        return out

    is_exact = F.col("_ph").isNotNull()
    nmb = F.col("_m0").isNotNull().cast("long") + F.col("_m1").isNotNull().cast(
        "long"
    )
    if pidx.bitset is not None or bidx.bitset is not None:
        # Bloom fast path, SINGLE PASS: a key the bloom clears is
        # DEFINITELY absent from its history, so it is rewritten to a
        # salted sentinel ("#<doc_id mod 64>" — can never match an
        # md5-hex index key) and traverses its join unmatched with a
        # null flag. One source scan, ONE evaluation of the per-doc
        # feature pipeline, and only narrow columns shuffle — unlike
        # the earlier two-branch union, which re-scanned the batch
        # and re-ran the whole minhash/classifier pipeline for the
        # bypass lane (round-10 review finding). False positives just
        # reach the exact join and miss; never lossy.
        f2 = bidx.attach_bitset(pidx.attach_bitset(feats))
        salt = F.concat(F.lit("#"), (F.col("doc_id") % 64).cast("string"))

        def gated(key_col, member):
            return F.when(member, key_col).otherwise(salt)

        f2 = f2.select(
            "doc_id",
            "lang",
            "n_words",
            "raw",
            gated(F.col("ph"), pidx.member("ph")).alias("ph"),
            gated(F.col("k0"), bidx.member("k0")).alias("k0"),
            gated(F.col("k1"), bidx.member("k1")).alias("k1"),
        )
        verdicts = verdicts_of(
            probe_all(f2, F.col("ph"), F.col("k0"), F.col("k1")),
            is_exact,
            nmb,
        )
    else:
        verdicts = verdicts_of(
            probe_all(feats, feats.ph, F.col("k0"), F.col("k1")), is_exact, nmb
        )
    sunk = core.run_to_batch(verdicts, "append")
    return (
        sunk.groupBy("lang", "stage")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_words").cast("long").alias("sum_tokens"),
            F.countDistinct("shard_id").alias("n_shards"),
        )
        .orderBy("lang", "stage")
    )


def stream_ingest_funnel_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``stream_ingest_funnel`` with the broadcast threshold forced to
    zero — all three history probes run the 100 TB topology (bucketed
    in-place index scans + Bloom none-match bypass lane) and
    hash-verify against the identical oracle. Plan pinned: no
    BroadcastExchange on any history side."""
    return _stream_ingest_funnel(spark, sf_dir, 0)


query(
    "stream_ingest_funnel",
    oracle=_INGEST_FUNNEL_ORACLE,
    hash_deps=(_stream_ingest_funnel,),
)(stream_ingest_funnel)
query(
    "stream_ingest_funnel_indexed",
    oracle=_INGEST_FUNNEL_ORACLE,
    hash_deps=(_stream_ingest_funnel, _history.build_history_index),
)(stream_ingest_funnel_indexed)


@query(
    "stream_ohlc_champions",
    oracle="""
    -- update-mode revision trace of CHAMPION aggregates: each batch
    -- re-emits every touched type's RUNNING OHLC bar; champions must
    -- merge correctly across micro-batch state (a new batch can move
    -- open/close only by presenting a smaller/larger champion key).
    WITH ev AS (
      SELECT event_type, value,
             lpad(CAST(epoch_us(ts) + 4611686018427387904 AS VARCHAR), 20, '0')
               || lpad(CAST(event_id AS VARCHAR), 12, '0') AS sk,
             CASE WHEN event_id % 2 = 0 THEN 0
                  WHEN event_id % 4 = 1 THEN 1 ELSE 2 END AS b
      FROM events),
    -- update-mode sinks emit a group only in batches that CHANGE it,
    -- so only prefixes whose batch contains events of the type exist
    touched AS (SELECT DISTINCT event_type, b AS bn FROM ev)
    SELECT e.event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           arg_min(e.value, e.sk) AS open_v,
           MAX(e.value) AS high_v,
           MIN(e.value) AS low_v,
           arg_max(e.value, e.sk) AS close_v
    FROM ev e JOIN touched t
      ON e.event_type = t.event_type AND e.b <= t.bn
    GROUP BY e.event_type, t.bn
    ORDER BY e.event_type, n
    """,
)
def stream_ohlc_champions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming OHLC bars in UPDATE mode across three micro-batches —
    the streaming twin of `timeseries_ohlc_bars`, and the pin that
    CHAMPION aggregates (min_by/max_by) revise correctly through
    streaming state: each batch merges its partial champions into the
    store and re-emits the running bar, so the sink's revision trace
    shows open/close MOVING when a later batch presents an earlier/
    later (epoch_us, event_id) key — selection state, not just
    counters, survives micro-batch merges. The oracle regenerates
    every batch-prefix champion (batches partition events by id
    parity, the `read_multibatch_events_stream` contract) but ONLY
    for prefixes whose batch touches the type — update mode emits a
    group only in batches that change it, so the existence join (not
    an unconditional batch cross) is the exact sink semantics; since
    every emitted prefix adds >=1 event, n strictly increases within
    a type and the (event_type, n) ORDER BY is deterministic. The
    champion key carries the same +2^62 epoch bias as
    `timeseries_ohlc_bars` (pre-1970 string-order correctness).
    Scale: per-group state is four champions + a count — O(groups),
    independent of stream length."""
    import os as _os

    from . import catalog as _catalog

    split_dir = _os.path.join(_catalog._IO_DIR, "events_split_ohlc")
    st = core.read_multibatch_events_stream(spark, sf_dir, split_dir)
    sk = F.concat(
        F.lpad(
            (F.unix_micros("ts") + F.lit(4611686018427387904)).cast("string"),
            20,
            "0",
        ),
        F.lpad(F.col("event_id").cast("string"), 12, "0"),
    )
    agg = (
        st.select("event_type", "value", sk.alias("sk"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.expr("min_by(value, sk)").alias("open_v"),
            F.max("value").alias("high_v"),
            F.min("value").alias("low_v"),
            F.expr("max_by(value, sk)").alias("close_v"),
        )
    )
    out = core.run_to_batch(agg, "update")
    return out.orderBy("event_type", "n")


@query(
    "stream_rollup_retracting",
    oracle="""
    -- signed-changelog rollup maintained through streaming state:
    -- every batch-prefix revision of each touched type, recomputed
    WITH ev AS (
      SELECT event_type,
             CASE WHEN event_id % 13 = 0 THEN -1 ELSE 1 END AS sign,
             CAST(value AS DECIMAL(18,2)) AS v,
             CASE WHEN event_id % 2 = 0 THEN 0
                  WHEN event_id % 4 = 1 THEN 1 ELSE 2 END AS b
      FROM events),
    touched AS (SELECT DISTINCT event_type, b AS bn FROM ev)
    SELECT e.event_type,
           CAST(SUM(e.sign) AS BIGINT) AS live_n,
           CAST(SUM(e.sign * e.v) AS DOUBLE) AS live_sum
    FROM ev e JOIN touched t
      ON e.event_type = t.event_type AND e.b <= t.bn
    GROUP BY e.event_type, t.bn
    HAVING SUM(e.sign) > 0
    ORDER BY e.event_type, live_n
    """,
)
def stream_rollup_retracting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RETRACTING rollup maintenance through streaming state — the
    streaming twin of `rollup_incremental_maintenance`: the multibatch
    event stream carries a signed changelog (event_id % 13 == 0 rows
    are DELETE tombstones, sign -1), and the update-mode aggregate
    maintains live_n = sum(sign), live_sum = sum(sign*value) per type
    — counts and sums that must DECREASE when tombstones flow through
    micro-batch state, the algebra vanilla Structured Streaming never
    exercises with plain counts. The revision trace (one row per
    touched (type, batch) — update mode emits a group only in batches
    that change it, the existence-join oracle convention of
    `stream_ohlc_champions`) is hash-checked against a per-prefix
    recompute, so the merge of NEGATIVE partials across batches is
    what the oracle proves. Dead groups (live_n == 0) are filtered on
    both sides. Ordering note: inserts outnumber tombstones ~12:1 in
    every batch, so live_n strictly increases within a type and the
    (event_type, live_n) ORDER BY is deterministic on this fixture.
    Scale: state is two algebraic accumulators per group — O(groups),
    and the changelog shuffles once per micro-batch on the group key,
    exactly the batch IVM's cost model applied per-trigger."""
    import os as _os

    from . import catalog as _catalog

    split_dir = _os.path.join(_catalog._IO_DIR, "events_split_retract")
    st = core.read_multibatch_events_stream(spark, sf_dir, split_dir)
    signed = st.select(
        "event_type",
        F.when(F.col("event_id") % 13 == 0, F.lit(-1))
        .otherwise(F.lit(1))
        .alias("sign"),
        F.col("value").cast("decimal(18,2)").alias("v"),
    )
    agg = signed.groupBy("event_type").agg(
        F.sum("sign").cast("long").alias("live_n"),
        F.sum(F.col("sign") * F.col("v")).alias("live_s"),
    )
    out = core.run_to_batch(agg, "update")
    return (
        out.where(F.col("live_n") > 0)
        .select(
            "event_type",
            "live_n",
            F.col("live_s").cast("double").alias("live_sum"),
        )
        .orderBy("event_type", "live_n")
    )


def _tiered_ingest(spark, idx, out_dir):
    """foreachBatch callback of the TIERED (LSM-generational) ingest
    dedup — same probe-before-append transaction as
    ``_index_update_ingest`` but over ``GenerationalHistoryIndex``:
    verdicts chain one merge-hinted, Exchange-free bucketed join per
    generation (never a union — a union of bucketed tables forfeits
    the bucket distribution and would shuffle the whole index per
    batch), epoch-filtered to ``_b < batch_id`` for replay; the novel
    append anti-joins the FULL generation set so a replayed append is
    a no-op; promotions cascade inside ``append`` when generations
    exceed their geometric budgets."""

    def ingest(batch_df: DataFrame, batch_id: int) -> None:
        b = batch_df.localCheckpoint(eager=True)
        # bloom sentinel routing, same as the single-table capstone:
        # definite-miss hashes ride the chained joins under a salted
        # sentinel ('#' + doc_id % 64 — never an md5 hex) and emit
        # is_dup=0 without any generation lookup
        probe_key = F.when(idx.member("h"), F.col("h")).otherwise(
            F.concat(F.lit("#"), (F.col("doc_id") % 64).cast("string"))
        )
        verdicts = (
            idx.flag_members(
                idx.attach_bitset(b).select("doc_id", probe_key.alias("_pk")),
                "_pk",
                "_hit",
                before=batch_id,
            )
            .select("doc_id", F.col("_hit").cast("long").alias("is_dup"))
        )
        (
            verdicts.withColumn("_batch", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("_batch")
            .parquet(out_dir)
        )
        novel_key = F.when(idx.member("h"), F.col("h")).otherwise(
            F.concat(F.lit("#"), F.substring("h", 1, 2))
        )
        novel = (
            idx.anti_members(
                idx.attach_bitset(b.select("h").distinct()).select(
                    "h", novel_key.alias("_pk")
                ),
                "_pk",
            )
            .select("h")
        )
        idx.append(novel, batch_id=batch_id)

    return ingest


@query(
    "stream_dedup_index_update_tiered",
    oracle=r"""
    -- IDENTICAL semantics to stream_dedup_index_update: the tiered
    -- storage layout is invisible to the verdicts — a doc is a dup
    -- iff its normalized content hash appeared in a STRICTLY EARLIER
    -- micro-batch (batch p = doc_id % 3)
    WITH d AS (
      SELECT doc_id,
             md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS h,
             doc_id % 3 AS b
      FROM documents
    ),
    firstb AS (SELECT h, MIN(b) AS fb FROM d GROUP BY h)
    SELECT d.doc_id,
           CAST(CASE WHEN d.b > f.fb THEN 1 ELSE 0 END AS BIGINT) AS is_dup
    FROM d JOIN firstb f ON d.h = f.h
    ORDER BY d.doc_id
    """,
    hash_deps=(_history.GenerationalHistoryIndex, _tiered_ingest),
)
def stream_dedup_index_update_tiered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The self-updating ingest dedup over the LSM-STYLE
    ``GenerationalHistoryIndex`` — the 100 TB answer to the
    single-table design's compaction bill (SCALE.md round-12: one
    table means every compaction rewrites the FULL index, amortized
    per-append cost linear in index size). Appends land in a small
    gen0; whole generations promote upward on geometric budgets
    (rename-aside crash-safe, manifest-bracketed, attach()-repairable
    mid-promote), so each key is rewritten at most ~n_generations
    times EVER — amortized O(log index) — while verdicts stay
    byte-identical to the single-table capstone (same oracle).

    Plan shape (pinned in tests/test_history.py): the per-batch probe
    chains one merge-hinted join per generation, each generation side
    an in-place Exchange-free bucketed scan, the probe side shuffled
    ONCE and reused across the chain; a single Bloom bitset spanning
    all generations routes definite-novel hashes around the chain
    map-side. ``budget_rows`` is set low here so promotions (and a
    gen1→gen2 cascade) actually fire inside the gate drive at sf0.01
    — at production scale the budgets are the LSM dials."""
    import os as _os
    import shutil as _sh

    from ..sources.tables import load_table
    from ..streaming.history import GenerationalHistoryIndex
    from . import catalog as _catalog

    split_dir = _os.path.join(_catalog._IO_DIR, "docs_idx_tiered_split")
    idx_table = "stream_tiered_hash_idx"
    idx_dir = _os.path.join(_catalog._IO_DIR, idx_table)
    out_dir = _os.path.join(_catalog._IO_DIR, "stream_tiered_verdicts")
    ckpt = out_dir + "_ckpt_tmp"
    for d in (split_dir, idx_dir, out_dir, ckpt):
        _sh.rmtree(d, ignore_errors=True)
    st = core.read_multibatch_documents_stream(spark, sf_dir, split_dir)
    idx = GenerationalHistoryIndex(
        spark,
        idx_table,
        "h",
        path=idx_dir,
        expected_keys=load_table(spark, sf_dir, "documents").count(),
        budget_rows=120,
        growth=4,
        overwrite=True,
    )
    q = (
        st.writeStream.foreachBatch(_tiered_ingest(spark, idx, out_dir))
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    _sh.rmtree(ckpt, ignore_errors=True)
    return (
        spark.read.parquet(out_dir).select("doc_id", "is_dup").orderBy("doc_id")
    )


@query(
    "stream_dedup_index_restart_tiered",
    oracle=r"""
    -- IDENTICAL semantics to stream_dedup_index_restart: neither the
    -- tiered storage layout NOR the driver restart may be visible —
    -- a doc is a dup iff its normalized content hash appeared in a
    -- STRICTLY EARLIER micro-batch (batch p = doc_id % 3), over the
    -- replica-enriched corpus (every 10th doc duplicated into the
    -- NEXT batch at doc_id + 1e6)
    WITH docs AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 1000000 AS doc_id, text FROM documents
      WHERE doc_id % 10 = 0
    ),
    d AS (
      SELECT doc_id,
             md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS h,
             doc_id % 3 AS b
      FROM docs
    ),
    firstb AS (SELECT h, MIN(b) AS fb FROM d GROUP BY h)
    SELECT d.doc_id,
           CAST(CASE WHEN d.b > f.fb THEN 1 ELSE 0 END AS BIGINT) AS is_dup
    FROM d JOIN firstb f ON d.h = f.h
    ORDER BY d.doc_id
    """,
    hash_deps=(
        _history.GenerationalHistoryIndex,
        _tiered_ingest,
        core.write_documents_split,
    ),
)
def stream_dedup_index_restart_tiered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-restart recovery of the TIERED index — completing the
    capstone triangle (update/restart × single-table/generational):
    phase 1 streams batches 0-1 against a fresh
    ``GenerationalHistoryIndex`` (budgets low enough that promotions
    fire BEFORE the crash, so recovery adopts an index whose keys are
    already spread across generations); the simulated crash drops
    every generation's metastore entry and the session-held bitset
    (files + source checkpoint survive — what a real crash loses);
    phase 2 ``attach()``es the surviving generation set (finishing any
    interrupted promotion per the manifest, rebuilding the bitset
    once) and RESUMES the same checkpoint, so only batch 2 replays,
    probed by the shared ``_tiered_ingest`` callback. Oracle is the
    single-table restart twin's: layout and recovery are both
    invisible to verdicts."""
    import os as _os
    import shutil as _sh

    from ..sources.tables import load_table
    from ..streaming.history import GenerationalHistoryIndex
    from . import catalog as _catalog

    split_dir = _os.path.join(_catalog._IO_DIR, "docs_idx_trestart_split")
    idx_table = "stream_trestart_hash_idx"
    idx_dir = _os.path.join(_catalog._IO_DIR, idx_table)
    out_dir = _os.path.join(_catalog._IO_DIR, "stream_trestart_verdicts")
    ckpt = out_dir + "_ckpt_tmp"
    for d in (split_dir, idx_dir, out_dir, ckpt):
        _sh.rmtree(d, ignore_errors=True)
    n_docs = load_table(spark, sf_dir, "documents").count()

    # ---- phase 1: batches 0 and 1, promotions firing pre-crash
    core.write_documents_split(
        spark, sf_dir, split_dir, batches=(0, 1), with_replicas=True
    )
    idx = GenerationalHistoryIndex(
        spark, idx_table, "h", path=idx_dir, expected_keys=n_docs,
        budget_rows=120, growth=4, overwrite=True,
    )
    q = (
        core.documents_split_stream(spark, split_dir)
        .writeStream.foreachBatch(_tiered_ingest(spark, idx, out_dir))
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    # ---- the crash: per-generation metastore entries and the
    # in-memory bitset are gone; generation files, the promotion
    # manifest, and the source checkpoint survive on disk
    for g in range(idx.n_generations):
        spark.sql(f"DROP TABLE IF EXISTS {idx_table}_g{g}")

    # ---- phase 2: the restarted driver picks up batch 2
    core.write_documents_split(
        spark, sf_dir, split_dir, batches=(2,), with_replicas=True
    )
    recovered = GenerationalHistoryIndex.attach(
        spark, idx_table, "h", path=idx_dir, expected_keys=n_docs,
        budget_rows=120, growth=4,
    )
    q = (
        core.documents_split_stream(spark, split_dir)
        .writeStream.foreachBatch(_tiered_ingest(spark, recovered, out_dir))
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    _sh.rmtree(ckpt, ignore_errors=True)
    return (
        spark.read.parquet(out_dir).select("doc_id", "is_dup").orderBy("doc_id")
    )


def _variant_keyed_ingest(spark, idx, out_dir):
    """foreachBatch callback of the VARIANT-KEYED tiered ingest dedup:
    the batch arrives as raw JSON envelopes (no precomputed hash
    column — the crawl-feed shape), so the dedup key is EXTRACTED per
    batch via the codec surface — ``parse_json`` (the reference's
    ``variant_from_json`` kernel, json.rs:38-81) → ``variant_get``
    path walk (read.rs:87-93) → normalize → md5 — and only then feeds
    the same probe-before-append transaction as ``_tiered_ingest``.
    The extraction is per-row, map-side, before the probe's single
    Exchange; the chained Exchange-free generation joins are identical
    to the hash-keyed capstone (plan-pinned in tests/test_history.py::
    test_variant_extracted_key_feeds_exchange_free_probe_chain).

    Rows whose envelope lacks ``$.body.text`` (extraction → NULL) are
    dropped BEFORE the probe — the same ``isNotNull`` guard the
    shredded twin applies to its typed column, so the two tracks have
    identical semantics on null/missing payloads too (ADVICE r14:
    previously only the generated corpus' lack of null bodies kept
    them aligned), and both match the oracle's inner join on ``h``
    (which drops null keys)."""
    from ..operators.dedup import normalize_text

    inner = _tiered_ingest(spark, idx, out_dir)

    def ingest(batch_df: DataFrame, batch_id: int) -> None:
        keyed = (
            batch_df.select(
                "doc_id",
                F.md5(
                    normalize_text(
                        F.variant_get(
                            F.parse_json("payload"), "$.body.text", "string"
                        )
                    )
                ).alias("h"),
            )
            .where(F.col("h").isNotNull())
        )
        inner(keyed, batch_id)

    return ingest


@query(
    "stream_dedup_index_variant_keyed",
    oracle=r"""
    -- strictly-earlier-batch dedup, keyed on a JSON-PATH-extracted
    -- body (DuckDB's ->> mirrors the Spark side's parse_json →
    -- variant_get): a doc is a dup iff the normalized text extracted
    -- from its JSON envelope appeared in an earlier micro-batch
    -- (batch = doc_id % 3), over the replica-enriched corpus (every
    -- 10th doc duplicated into the NEXT batch at doc_id + 1e6)
    WITH docs AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 1000000 AS doc_id, text FROM documents
      WHERE doc_id % 10 = 0
    ),
    j AS (
      SELECT doc_id,
             to_json(struct_pack(id := doc_id,
                                 body := struct_pack(text := text))) AS payload
      FROM docs
    ),
    d AS (
      SELECT doc_id,
             md5(regexp_replace(trim(lower(payload->>'$.body.text')),
                                '\s+', ' ', 'g')) AS h,
             doc_id % 3 AS b
      FROM j
    ),
    firstb AS (SELECT h, MIN(b) AS fb FROM d GROUP BY h)
    SELECT d.doc_id,
           CAST(CASE WHEN d.b > f.fb THEN 1 ELSE 0 END AS BIGINT) AS is_dup
    FROM d JOIN firstb f ON d.h = f.h
    ORDER BY d.doc_id
    """,
    hash_deps=(
        _history.GenerationalHistoryIndex,
        _variant_keyed_ingest,
        _tiered_ingest,
        core.write_documents_json_split,
    ),
)
def stream_dedup_index_variant_keyed(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Variant shredding MEETS the 100 TB ingest index (round 13):
    the tiered ``GenerationalHistoryIndex`` dedup where the key is not
    a precomputed hash column but a VARIANT PATH extracted per batch —
    documents arrive as raw JSON envelopes ``{"id":…, "body":
    {"text":…}}`` and the callback runs the reference's whole codec
    pipeline (``parse_json`` = variant_from_json, json.rs:38-81;
    ``variant_get('$.body.text')`` = the dictionary-lookup tree walk,
    metadata.rs:162-184 / read.rs:87-93) to derive the dedup key,
    proving the codec surface and the generational ingest index
    COMPOSE. Everything downstream is the tiered capstone unchanged:
    bloom sentinel routing, chained Exchange-free bucketed probes,
    epoch-filtered verdicts, geometric promotions. The extraction is
    per-row map-side work BEFORE the probe's one Exchange — at 100 TB
    it rides the scan, adding zero shuffles.

    Oracle: DuckDB extracts the same path with ``->>`` and replays the
    strictly-earlier-batch spec — layout, codec track, and storage
    tiers all invisible to verdicts."""
    import os as _os
    import shutil as _sh

    from ..sources.tables import load_table
    from ..streaming.history import GenerationalHistoryIndex
    from . import catalog as _catalog

    split_dir = _os.path.join(_catalog._IO_DIR, "docs_idx_vkey_split")
    idx_table = "stream_vkey_hash_idx"
    idx_dir = _os.path.join(_catalog._IO_DIR, idx_table)
    out_dir = _os.path.join(_catalog._IO_DIR, "stream_vkey_verdicts")
    ckpt = out_dir + "_ckpt_tmp"
    for d in (split_dir, idx_dir, out_dir, ckpt):
        _sh.rmtree(d, ignore_errors=True)
    core.write_documents_json_split(spark, sf_dir, split_dir)
    idx = GenerationalHistoryIndex(
        spark,
        idx_table,
        "h",
        path=idx_dir,
        expected_keys=load_table(spark, sf_dir, "documents").count(),
        budget_rows=120,
        growth=4,
        overwrite=True,
    )
    q = (
        core.documents_json_split_stream(spark, split_dir)
        .writeStream.foreachBatch(_variant_keyed_ingest(spark, idx, out_dir))
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    _sh.rmtree(ckpt, ignore_errors=True)
    return (
        spark.read.parquet(out_dir).select("doc_id", "is_dup").orderBy("doc_id")
    )


@query(
    "stream_dedup_index_restart_variant_keyed",
    oracle=r"""
    -- IDENTICAL semantics to stream_dedup_index_variant_keyed: the
    -- driver restart must be invisible — a doc is a dup iff the
    -- normalized text extracted from its JSON envelope (DuckDB ->>
    -- mirrors parse_json → variant_get) appeared in a strictly
    -- earlier micro-batch (batch = doc_id % 3), replica-enriched
    WITH docs AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 1000000 AS doc_id, text FROM documents
      WHERE doc_id % 10 = 0
    ),
    j AS (
      SELECT doc_id,
             to_json(struct_pack(id := doc_id,
                                 body := struct_pack(text := text))) AS payload
      FROM docs
    ),
    d AS (
      SELECT doc_id,
             md5(regexp_replace(trim(lower(payload->>'$.body.text')),
                                '\s+', ' ', 'g')) AS h,
             doc_id % 3 AS b
      FROM j
    ),
    firstb AS (SELECT h, MIN(b) AS fb FROM d GROUP BY h)
    SELECT d.doc_id,
           CAST(CASE WHEN d.b > f.fb THEN 1 ELSE 0 END AS BIGINT) AS is_dup
    FROM d JOIN firstb f ON d.h = f.h
    ORDER BY d.doc_id
    """,
    hash_deps=(
        _history.GenerationalHistoryIndex,
        _variant_keyed_ingest,
        _tiered_ingest,
        core.write_documents_json_split,
    ),
)
def stream_dedup_index_restart_variant_keyed(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Driver-restart recovery of the VARIANT-KEYED tiered index —
    the sixth cell of the capstone cube (update/restart ×
    single-table/tiered × precomputed-hash/variant-extracted key):
    proves that an index whose ingest key is DERIVED through the codec
    surface per batch recovers exactly like its hash-keyed twin,
    because the index is key-provenance-agnostic (the extraction lives
    in the callback, the durable state is the same bucketed generation
    set + manifest). Phase 1 streams JSON-envelope batches 0-1 with
    the ``_variant_keyed_ingest`` callback (budgets low enough that
    promotions fire pre-crash); the simulated crash drops every
    generation's metastore entry and the session-held bitset; phase 2
    ``attach()``es the surviving generation set and RESUMES the same
    checkpoint so only batch 2 replays — its verdicts epoch-filtered
    to ``_b < 2`` against keys it must re-derive from the payloads.
    Oracle identical to the update twin: recovery, layout, and codec
    track all invisible to verdicts."""
    import os as _os
    import shutil as _sh

    from ..sources.tables import load_table
    from ..streaming.history import GenerationalHistoryIndex
    from . import catalog as _catalog

    split_dir = _os.path.join(_catalog._IO_DIR, "docs_idx_vkrestart_split")
    idx_table = "stream_vkrestart_hash_idx"
    idx_dir = _os.path.join(_catalog._IO_DIR, idx_table)
    out_dir = _os.path.join(_catalog._IO_DIR, "stream_vkrestart_verdicts")
    ckpt = out_dir + "_ckpt_tmp"
    for d in (split_dir, idx_dir, out_dir, ckpt):
        _sh.rmtree(d, ignore_errors=True)
    n_docs = load_table(spark, sf_dir, "documents").count()

    # ---- phase 1: batches 0 and 1, promotions firing pre-crash
    core.write_documents_json_split(spark, sf_dir, split_dir, batches=(0, 1))
    idx = GenerationalHistoryIndex(
        spark, idx_table, "h", path=idx_dir, expected_keys=n_docs,
        budget_rows=120, growth=4, overwrite=True,
    )
    q = (
        core.documents_json_split_stream(spark, split_dir)
        .writeStream.foreachBatch(_variant_keyed_ingest(spark, idx, out_dir))
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    # ---- the crash: metastore entries and the in-memory bitset are
    # gone; generation files, manifest, and source checkpoint survive
    for g in range(idx.n_generations):
        spark.sql(f"DROP TABLE IF EXISTS {idx_table}_g{g}")

    # ---- phase 2: the restarted driver picks up batch 2
    core.write_documents_json_split(spark, sf_dir, split_dir, batches=(2,))
    recovered = GenerationalHistoryIndex.attach(
        spark, idx_table, "h", path=idx_dir, expected_keys=n_docs,
        budget_rows=120, growth=4,
    )
    q = (
        core.documents_json_split_stream(spark, split_dir)
        .writeStream.foreachBatch(
            _variant_keyed_ingest(spark, recovered, out_dir)
        )
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    _sh.rmtree(ckpt, ignore_errors=True)
    return (
        spark.read.parquet(out_dir).select("doc_id", "is_dup").orderBy("doc_id")
    )


def _shredded_keyed_ingest(spark, idx, out_dir, spec):
    """foreachBatch callback of the SHREDDED-KEYED tiered ingest
    dedup (round 14): the feed was landed via ``sources/shredded.py``
    with the key path ``$.body.text`` already materialized as a typed
    ``body_text`` parquet column, so key derivation is
    ``md5(normalize(body_text))`` over a PLAIN column — no
    ``parse_json``, no variant walk, and the guard filter on the
    shredded column reaches the parquet scan as a pushed filter while
    the untouched ``_residual`` (the envelope bytes) is COLUMN-PRUNED
    out of the read entirely (plan-pinned in tests/test_history.py::
    test_shredded_key_probe_pushes_filters_and_prunes_payload).
    Downstream is ``_tiered_ingest`` unchanged. ``shredded_col``
    resolves the path through the sidecar spec, so the callback is
    storage-layout independent — re-shredding with different paths
    only changes which track serves the bytes."""
    from ..operators.dedup import normalize_text
    from ..sources.shredded import shredded_col

    inner = _tiered_ingest(spark, idx, out_dir)
    key_col = shredded_col(spec, "$.body.text", "string")

    def ingest(batch_df: DataFrame, batch_id: int) -> None:
        keyed = batch_df.where(key_col.isNotNull()).select(
            "doc_id", F.md5(normalize_text(key_col)).alias("h")
        )
        inner(keyed, batch_id)

    return ingest


@query(
    "stream_dedup_index_shredded_keyed",
    oracle=r"""
    -- IDENTICAL semantics to stream_dedup_index_variant_keyed: the
    -- storage-side shredding of $.body.text into a typed column is
    -- invisible to verdicts — a doc is a dup iff its normalized body
    -- text appeared in a strictly earlier micro-batch
    -- (batch = doc_id % 3), over the replica-enriched corpus
    WITH docs AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 1000000 AS doc_id, text FROM documents
      WHERE doc_id % 10 = 0
    ),
    d AS (
      SELECT doc_id,
             md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS h,
             doc_id % 3 AS b
      FROM docs
    ),
    firstb AS (SELECT h, MIN(b) AS fb FROM d GROUP BY h)
    SELECT d.doc_id,
           CAST(CASE WHEN d.b > f.fb THEN 1 ELSE 0 END AS BIGINT) AS is_dup
    FROM d JOIN firstb f ON d.h = f.h
    ORDER BY d.doc_id
    """,
    hash_deps=(
        _history.GenerationalHistoryIndex,
        _shredded_keyed_ingest,
        _tiered_ingest,
        core.write_documents_shredded_split,
    ),
)
def stream_dedup_index_shredded_keyed(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Shredded STORAGE meets the 100 TB ingest index (round 14, the
    r13 verdict's optional #7): the variant-keyed capstone's natural
    scale twin. Where ``stream_dedup_index_variant_keyed`` re-derives
    the dedup key per batch from raw JSON (``parse_json`` →
    ``variant_get``), here the incoming feed is LANDED via
    ``sources/shredded.py`` with ``$.body.text`` shredded to a typed
    ``body_text`` column at write time — so every probe, replay, and
    restart reads a plain parquet column with native predicate
    pushdown and column pruning, and the envelope bytes (kept whole in
    the residual, VariantShredding.md semantics) are never scanned
    again. At 100 TB the parse cost moves from per-replay to
    once-at-ingest, and the probe's input scan shrinks from payload
    bytes to one string column. Downstream is the tiered capstone
    unchanged: bloom sentinel routing, chained Exchange-free bucketed
    probes (probe side shuffled+sorted once), epoch-filtered verdicts,
    geometric promotions, O(1) budget arithmetic.

    Oracle: DuckDB replays the strictly-earlier-batch spec straight
    off the text column — shredding, codec track, and storage tiers
    all invisible to verdicts."""
    import os as _os
    import shutil as _sh

    from ..sources.tables import load_table
    from ..streaming.history import GenerationalHistoryIndex
    from . import catalog as _catalog

    split_dir = _os.path.join(_catalog._IO_DIR, "docs_idx_skey_split")
    idx_table = "stream_skey_hash_idx"
    idx_dir = _os.path.join(_catalog._IO_DIR, idx_table)
    out_dir = _os.path.join(_catalog._IO_DIR, "stream_skey_verdicts")
    ckpt = out_dir + "_ckpt_tmp"
    for d in (split_dir, idx_dir, out_dir, ckpt):
        _sh.rmtree(d, ignore_errors=True)
    spec = core.write_documents_shredded_split(spark, sf_dir, split_dir)
    idx = GenerationalHistoryIndex(
        spark,
        idx_table,
        "h",
        path=idx_dir,
        expected_keys=load_table(spark, sf_dir, "documents").count(),
        budget_rows=120,
        growth=4,
        overwrite=True,
    )
    q = (
        # with_residual=False: the ingest needs only (doc_id,
        # body_text) — the source scan never reads the envelope bytes
        core.documents_shredded_split_stream(
            spark, split_dir, with_residual=False
        )
        .writeStream.foreachBatch(
            _shredded_keyed_ingest(spark, idx, out_dir, spec)
        )
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    _sh.rmtree(ckpt, ignore_errors=True)
    return (
        spark.read.parquet(out_dir).select("doc_id", "is_dup").orderBy("doc_id")
    )


@query(
    "stream_dedup_index_restart_shredded_keyed",
    oracle=r"""
    -- IDENTICAL semantics to stream_dedup_index_shredded_keyed: the
    -- driver restart AND the shredded storage layout are both
    -- invisible — a doc is a dup iff its normalized body text
    -- appeared in a strictly earlier micro-batch (batch = doc_id % 3),
    -- over the replica-enriched corpus
    WITH docs AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 1000000 AS doc_id, text FROM documents
      WHERE doc_id % 10 = 0
    ),
    d AS (
      SELECT doc_id,
             md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS h,
             doc_id % 3 AS b
      FROM docs
    ),
    firstb AS (SELECT h, MIN(b) AS fb FROM d GROUP BY h)
    SELECT d.doc_id,
           CAST(CASE WHEN d.b > f.fb THEN 1 ELSE 0 END AS BIGINT) AS is_dup
    FROM d JOIN firstb f ON d.h = f.h
    ORDER BY d.doc_id
    """,
    hash_deps=(
        _history.GenerationalHistoryIndex,
        _shredded_keyed_ingest,
        _tiered_ingest,
        core.write_documents_shredded_split,
    ),
)
def stream_dedup_index_restart_shredded_keyed(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Driver-restart recovery of the SHREDDED-KEYED tiered index
    (round 14) — the restart is exactly where the shredded landing
    pays: the variant-keyed restart twin must RE-PARSE every replayed
    payload to re-derive its keys, while here the replayed batch
    re-reads the typed ``body_text`` column from the durable shredded
    store (declared-schema-pruned — the source never touches the
    residual), so recovery cost is a column scan, not a parse. The
    index side is provenance-agnostic as ever: phase 1 streams
    shredded batches 0-1 (promotions firing pre-crash), the simulated
    crash drops every generation's metastore entry and the
    session-held bitset, phase 2 ``attach()``es the surviving
    generation set and RESUMES the same checkpoint so only batch 2
    replays — verdicts epoch-filtered to ``_b < 2``.

    Oracle identical to the update twin: recovery, storage layout,
    and key-derivation track all invisible to verdicts."""
    import os as _os
    import shutil as _sh

    from ..sources.tables import load_table
    from ..streaming.history import GenerationalHistoryIndex
    from . import catalog as _catalog

    split_dir = _os.path.join(_catalog._IO_DIR, "docs_idx_skrestart_split")
    idx_table = "stream_skrestart_hash_idx"
    idx_dir = _os.path.join(_catalog._IO_DIR, idx_table)
    out_dir = _os.path.join(_catalog._IO_DIR, "stream_skrestart_verdicts")
    ckpt = out_dir + "_ckpt_tmp"
    for d in (split_dir, idx_dir, out_dir, ckpt):
        _sh.rmtree(d, ignore_errors=True)
    n_docs = load_table(spark, sf_dir, "documents").count()

    # ---- phase 1: shredded batches 0 and 1, promotions pre-crash
    spec = core.write_documents_shredded_split(
        spark, sf_dir, split_dir, batches=(0, 1)
    )
    idx = GenerationalHistoryIndex(
        spark, idx_table, "h", path=idx_dir, expected_keys=n_docs,
        budget_rows=120, growth=4, overwrite=True,
    )
    q = (
        core.documents_shredded_split_stream(
            spark, split_dir, with_residual=False
        )
        .writeStream.foreachBatch(
            _shredded_keyed_ingest(spark, idx, out_dir, spec)
        )
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    # ---- the crash: metastore entries and the in-memory bitset are
    # gone; generation files, manifest, shredded store (typed key
    # column + sidecar), and source checkpoint all survive
    for g in range(idx.n_generations):
        spark.sql(f"DROP TABLE IF EXISTS {idx_table}_g{g}")

    # ---- phase 2: the restarted driver lands batch 2 shredded and
    # resumes — the replay reads the typed column, no parse anywhere
    core.write_documents_shredded_split(
        spark, sf_dir, split_dir, batches=(2,)
    )
    recovered = GenerationalHistoryIndex.attach(
        spark, idx_table, "h", path=idx_dir, expected_keys=n_docs,
        budget_rows=120, growth=4,
    )
    q = (
        core.documents_shredded_split_stream(
            spark, split_dir, with_residual=False
        )
        .writeStream.foreachBatch(
            _shredded_keyed_ingest(spark, recovered, out_dir, spec)
        )
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    _sh.rmtree(ckpt, ignore_errors=True)
    return (
        spark.read.parquet(out_dir).select("doc_id", "is_dup").orderBy("doc_id")
    )


def _run_autogrow_capstone(spark, sf_dir):
    """Drive the tiered ingest dedup with a DELIBERATELY undersized
    bitset and ``auto_rebuild_fill`` armed, returning ``(verdicts,
    idx)`` so tests can assert the ``bloom_rebuilds`` audit trail the
    registry entry's oracle cannot see. Shared by
    ``stream_dedup_index_update_autogrow`` (drops the idx) and
    tests/test_history.py (asserts rebuilds fired)."""
    import os as _os
    import shutil as _sh

    from ..streaming.history import GenerationalHistoryIndex
    from . import catalog as _catalog

    split_dir = _os.path.join(_catalog._IO_DIR, "docs_idx_autogrow_split")
    idx_table = "stream_autogrow_hash_idx"
    idx_dir = _os.path.join(_catalog._IO_DIR, idx_table)
    out_dir = _os.path.join(_catalog._IO_DIR, "stream_autogrow_verdicts")
    ckpt = out_dir + "_ckpt_tmp"
    for d in (split_dir, idx_dir, out_dir, ckpt):
        _sh.rmtree(d, ignore_errors=True)
    st = core.read_multibatch_documents_stream(spark, sf_dir, split_dir)
    # expected_keys=64 → the 4096-bit floor: what an operator sizes
    # when the feed's cardinality is unknowable up front. The policy,
    # not the sizing, keeps the prescreen effective.
    idx = GenerationalHistoryIndex(
        spark,
        idx_table,
        "h",
        path=idx_dir,
        expected_keys=64,
        budget_rows=120,
        growth=4,
        overwrite=True,
        auto_rebuild_fill=0.18,
    )
    q = (
        st.writeStream.foreachBatch(_tiered_ingest(spark, idx, out_dir))
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    _sh.rmtree(ckpt, ignore_errors=True)
    verdicts = (
        spark.read.parquet(out_dir).select("doc_id", "is_dup").orderBy("doc_id")
    )
    return verdicts, idx


@query(
    "stream_dedup_index_update_autogrow",
    oracle=r"""
    -- IDENTICAL semantics to stream_dedup_index_update_tiered: the
    -- Bloom prescreen's SIZE — undersized at construction, resized
    -- in-flight by the auto-rebuild policy — must be invisible to
    -- verdicts (the bitset only routes definite-novel keys around
    -- the exact joins; it never decides). A doc is a dup iff its
    -- normalized content hash appeared in a STRICTLY EARLIER
    -- micro-batch (batch p = doc_id % 3)
    WITH d AS (
      SELECT doc_id,
             md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS h,
             doc_id % 3 AS b
      FROM documents
    ),
    firstb AS (SELECT h, MIN(b) AS fb FROM d GROUP BY h)
    SELECT d.doc_id,
           CAST(CASE WHEN d.b > f.fb THEN 1 ELSE 0 END AS BIGINT) AS is_dup
    FROM d JOIN firstb f ON d.h = f.h
    ORDER BY d.doc_id
    """,
    hash_deps=(
        _history.GenerationalHistoryIndex,
        _tiered_ingest,
        _run_autogrow_capstone,
    ),
)
def stream_dedup_index_update_autogrow(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The tiered ingest dedup with the round-14 ``auto_rebuild_fill``
    policy exercised END-TO-END (r14 verdict "next" #4: the policy
    was opt-in and no registry query drove it): the index is built
    with ``expected_keys=64`` — the 4096-bit Bloom floor, what an
    operator sizes when the feed's cardinality is unknowable — and
    the corpus ingest crosses the 0.18 fill threshold mid-stream, so
    ``append`` fires the gate cascade for real: analytic zero-job
    fill estimate → one measured ``bloom_saturation`` → power-of-two
    ``rebuild_bitset`` epoch swap, audit-trailed in
    ``bloom_rebuilds`` (asserted non-empty in tests/test_history.py::
    test_autogrow_capstone_fires_rebuild_and_matches_tiered).

    This is the unbounded-ingest failure class the reference handles
    per-batch: its ``variant_from_json`` re-derives a fresh metadata
    dictionary for every batch (json.rs:51-55) so the dictionary can
    never outgrow its sizing; a long-running index cannot re-derive —
    it must RESIZE, amortized O(log overgrowth) rebuilds ever, with
    false-positive leak shed measured at 28.9%→7.3% per doubling
    (SCALE.md r14). At 100 TB this is the difference between a
    prescreen that silently degrades to pass-through (every probe
    paying the full chained join) and one that stays ~1% FP forever.

    Verdicts are byte-identical to the right-sized tiered capstone —
    same oracle — because the bitset only ROUTES definite-novel keys
    around the exact joins; membership truth lives in the generation
    tables."""
    verdicts, _ = _run_autogrow_capstone(spark, sf_dir)
    return verdicts

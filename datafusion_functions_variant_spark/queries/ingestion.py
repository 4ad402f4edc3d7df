"""Continuous-ingest curation queries: the operations a crawl→corpus
pipeline runs on every NEW batch of data against the EXISTING corpus,
plus corpus-wide derivatives of already-trained artifacts.

* ``dedup_incremental_index`` — near-dup screening of an incoming
  batch against a persisted LSH band index (anti-join, never re-scans
  the corpus text).
* ``similarity_knn_graph`` — approximate 1-NN graph over the whole
  embedding table via two independent sign-bit bucketings (multi-probe
  blocked self-join, never all-pairs).
* ``curation_funnel_report`` — the per-stage survivor report of a
  chained quality-filter cascade (one corpus pass).
* ``tokenizer_bpe_encode`` — token counts under the trained BPE
  tokenizer, computed by encoding the VOCABULARY and joining counts
  back to the corpus (encode cost scales with vocab, not data).
* ``events_late_arrival_profile`` — the dropped-events-per-watermark-
  delay curve, with the arrival-order running max computed by
  distributed two-level prefix aggregation (no global window).
* ``similarity_ivf_list_stats`` — inverted-list balance audit before
  serving from an IVF index (the ANN twin of dedup_lsh_bucket_stats).

All arithmetic is integer / md5-derived / decimal-exact so the DuckDB
oracles reproduce results bit-for-bit (determinism rules in
queries/__init__).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators import dedup
from ..operators.similarity import knn_graph
from ..plans.session import stage_boundary
from ..sources.tables import load_table
from . import query
from .curation import _BPE_ROUNDS, _bpe_cte_parts

# ---------------------------------------------------------------------------
# Incremental near-dup screening against a persisted band index
# ---------------------------------------------------------------------------


def _minhash_bands_cte(side: str, pred: str) -> str:
    """DuckDB CTE chain grams_{side} → sigs_{side} → bands_{side} for
    the documents rows matching ``pred`` — the same 8-perm minhash /
    2-band construction as llmdata._BANDS_CTE, parameterized by a row
    predicate so corpus and incoming sides can be built separately."""
    mins = ",\n         ".join(
        f"min(xor(x, {dedup.XOR_CONSTS[h]})) AS mh{h}" for h in range(8)
    )
    return f"""grams_{side} AS (
      SELECT DISTINCT doc_id, substr(text, i::INT, 8) AS g
      FROM (SELECT doc_id, text, unnest(range(1, len(text) - 6)) AS i
            FROM documents WHERE {pred})
    ),
    sigs_{side} AS (
      SELECT doc_id,
         {mins}
      FROM (SELECT doc_id, (('0x' || substr(md5(g), 1, 15))::UBIGINT)::BIGINT AS x
            FROM grams_{side})
      GROUP BY doc_id
    ),
    bands_{side} AS (
      SELECT doc_id, 0 AS band_id, md5(mh0 || mh1 || mh2 || mh3) AS band_hash
      FROM sigs_{side}
      UNION ALL
      SELECT doc_id, 1 AS band_id, md5(mh4 || mh5 || mh6 || mh7) AS band_hash
      FROM sigs_{side}
    )"""


@query(
    "dedup_incremental_index",
    oracle=f"""
    WITH {_minhash_bands_cte("c", "doc_id % 5 <> 0")},
    {_minhash_bands_cte("i", "doc_id % 5 = 0")},
    idx AS (SELECT DISTINCT band_id, band_hash FROM bands_c),
    flagged AS (
      SELECT DISTINCT b.doc_id
      FROM bands_i b JOIN idx x
        ON b.band_id = x.band_id AND b.band_hash = x.band_hash
    ),
    inc AS (SELECT doc_id, lang FROM documents WHERE doc_id % 5 = 0)
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_incoming,
           CAST(SUM(CASE WHEN f.doc_id IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_flagged,
           CAST(SUM(CASE WHEN f.doc_id IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_admitted
    FROM inc LEFT JOIN flagged f ON inc.doc_id = f.doc_id
    GROUP BY lang
    ORDER BY lang
    """,
)
def dedup_incremental_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup: screen an incoming batch (doc_id % 5 = 0
    stands in for today's crawl) against the LSH band index of the
    already-ingested corpus (the other 80%), reporting per-language
    admit/flag counts.

    This is the operation a continuous pipeline actually runs — the
    corpus text is NEVER re-read per batch. Here the index is derived
    in-query so the oracle can reproduce it; in production it is the
    persisted (band_id, band_hash) table that ``sink_*`` layouts
    store, and only the probe side is computed fresh.

    Plan shape at 100 TB: the index build is the corpus signature
    pipeline (one shuffle, map-side combined); each batch then costs
    one in-row signature projection over the BATCH only (zero-shuffle
    ``minhash_signatures_inrow`` — the same stateless probe the
    streaming twin ``stream_neardup_at_ingest`` uses) plus one
    semi-join shuffled on band_hash, whose cardinality is ≈ #batch
    rows × bands. No all-pairs, no corpus rescan, no skew (band
    hashes are md5-uniform)."""
    # fan_out is applied ONLY where the spread pays: the probe-side
    # in-row signing below. The corpus side feeds a pinned-width hash
    # repartition anyway (a preceding round-robin exchange would move
    # every text byte twice), and the final-join side goes straight
    # into a broadcast join + tiny aggregate (r15: 3 RoundRobin
    # exchanges in the plan → 1).
    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.where(F.col("doc_id") % 5 != 0)
    incoming = docs.where(F.col("doc_id") % 5 == 0).select(
        "doc_id", "lang", "text"
    )

    # The index is the DISTINCT (band_id, band_hash) set — a pure
    # function of the corpus' distinct texts — so sign each distinct
    # text once (content-key id, no join-back needed): the
    # md5-per-gram stage stops paying for exact-duplicate mass
    # (round 15; identical index contents by construction). The key is
    # dedup.text_content_key (two xxhash64 intrinsics + length, not a
    # full-text md5 digest).
    corpus_t = (
        corpus.select(dedup.text_content_key("text").alias("_th"), "text")
        # one pinned-width exchange for dedup AND spread: an explicit
        # hash repartition on the content hash is not AQE-coalesced,
        # and the dropDuplicates groupBy reuses it (same key)
        .repartition(spark.sparkContext.defaultParallelism, F.col("_th"))
        .dropDuplicates(["_th"])
    )
    sigs_c = dedup.minhash_signatures_text(
        corpus_t, "text", "_th", n=8, num_hashes=8
    )
    index = dedup._banded(sigs_c, "_th", 8, 2).select(
        "band_id", "band_hash"
    ).distinct()

    probe = dedup.minhash_signatures_inrow(
        dedup.fan_out(incoming),
        "text", "doc_id", n=8, num_hashes=8, keep=["doc_id", "lang"]
    )
    bands_i = dedup.banded_rows_inrow(probe, "doc_id", num_hashes=8, bands=2)

    flagged = (
        bands_i.join(index, ["band_id", "band_hash"], "left_semi")
        .select("doc_id")
        .distinct()
        .withColumn("_hit", F.lit(1))
    )
    return (
        incoming.join(flagged, "doc_id", "left")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_incoming"),
            F.sum(F.coalesce(F.col("_hit"), F.lit(0))).cast("long").alias(
                "n_flagged"
            ),
            F.sum(F.when(F.col("_hit").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_admitted"),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# Approximate 1-NN graph over the embedding table (multi-probe sign-bit
# blocking)
# ---------------------------------------------------------------------------


def _signbit_bucket_sql(lo: int) -> str:
    """8-bit sign bucket over embedding dims lo+1..lo+8 (1-indexed)."""
    return (
        "("
        + "\n            + ".join(
            f"CASE WHEN embedding[{lo + i + 1}] > 0 THEN {1 << i} ELSE 0 END"
            for i in range(8)
        )
        + ")::INT"
    )


@query(
    "similarity_knn_graph",
    oracle=f"""
    WITH norms AS (
      SELECT vec_id, embedding,
             sqrt(CAST(SUM(CAST(CAST(e[i::INT] AS DOUBLE)
                                * CAST(e[i::INT] AS DOUBLE)
                                AS DECIMAL(30,15))) AS DOUBLE)) AS nrm,
             {_signbit_bucket_sql(0)} AS b1,
             {_signbit_bucket_sql(8)} AS b2
      FROM (SELECT vec_id, embedding, embedding AS e,
                   unnest(range(1, len(embedding) + 1)) AS i
            FROM embeddings)
      GROUP BY vec_id, embedding
    ),
    pairs AS (
      SELECT id_a, id_b,
             ROUND(CAST(SUM(CAST(CAST(ea[i::INT] AS DOUBLE)
                                 * CAST(eb[i::INT] AS DOUBLE)
                                 AS DECIMAL(30,15))) AS DOUBLE)
                   / (na * nb), 9) AS cosine
      FROM (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                   a.embedding AS ea, b.embedding AS eb,
                   a.nrm AS na, b.nrm AS nb,
                   unnest(range(1, len(a.embedding) + 1)) AS i
            FROM norms a
            JOIN norms b ON (a.b1 = b.b1 OR a.b2 = b.b2)
                        AND a.vec_id <> b.vec_id)
      GROUP BY id_a, id_b, na, nb
    )
    SELECT id_a AS vec_id, id_b AS neighbor_id, cosine
    FROM (SELECT pairs.*,
                 row_number() OVER (PARTITION BY id_a
                                    ORDER BY cosine DESC, id_b) AS rn
          FROM pairs)
    WHERE rn = 1
    ORDER BY vec_id
    """,
)
def similarity_knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate 1-NN graph over ALL embeddings — the neighbor
    structure semantic-dedup and curriculum-mining pipelines consume.
    Blocking: two INDEPENDENT 8-bit sign buckets (dims 1-8 and 9-16 —
    fixed-hyperplane SimHash bands); a pair is a candidate if it
    collides in EITHER band (multi-probe: two chances to meet, so
    near-identical vectors are recalled even when one band's bits
    straddle zero). Exact decimal-accumulated cosine on candidates
    only; best neighbor per vector by (cosine DESC, id).

    Plan shape at 100 TB: two bucket-keyed self-join shuffles (2^bits
    buckets per band from data-independent sign bits — no index to
    train or broadcast), one pair-dedup + one per-vector top-1
    aggregation, both shuffled on ids. Never all-pairs — and
    ``bits_per_band`` is the dial that keeps bucket depth (n / 2^bits)
    constant as the corpus grows; see ``operators/similarity.py::
    knn_graph`` and the SCALE.md probe case for the measured fixed-
    vs-scaled-bits curves.

    The dial is AUTO-SIZED from the corpus count: bits = clamp(
    ceil(log2(n / 8)), 8, 32) targets ~8 vectors per bucket. The
    floor of 8 makes the formula yield exactly 8 for ANY corpus of
    ≤ 2048 vectors — which covers every correctness scale (n = 500 at
    sf0.001/sf0.01, n = 2000 at sf0.1), so the DuckDB oracle's fixed
    8-bit twin stays bit-identical there (regenerating the embeddings
    testdata past 2048 rows at an oracle-checked scale would require
    bumping the oracle's fixed bucket offsets in step); past
    that the bits grow with log2(n) — at bench.py's 10× scaled point
    (n = 20000 → 12 bits; every vector has 9 EXACT duplicates by
    construction, which collide at any bits) the fixed-8-bit form
    measured 6.0 s vs 2.3 s auto-sized (vs 0.72 s at 1× — near-linear
    once organic bucket depth is held at ~8; the residual slope is
    the duplicate clusters, which only an exact pre-dedup removes).
    The count() that sizes the dial is a column-pruned parquet scan —
    metadata-cheap, and included in the bench timing."""
    import math

    n = load_table(spark, sf_dir, "embeddings").count()
    bits = min(32, max(8, math.ceil(math.log2(max(n, 2) / 8))))
    emb = dedup.fan_out(load_table(spark, sf_dir, "embeddings"))
    return knn_graph(
        emb, "vec_id", "embedding",
        bits_per_band=bits, bands=2, exact=True, dim=64,
    ).orderBy("vec_id")


# ---------------------------------------------------------------------------
# Quality-filter cascade survivor report
# ---------------------------------------------------------------------------

#: (stage_idx, stage name) — thresholds are in integer arithmetic so
#: both engines compare identically (0.02 → 50*n_stop >= n_words etc.)
_FUNNEL_STAGES = [
    (1, "min_chars"),
    (2, "stopword_floor"),
    (3, "repetition_cap"),
    (4, "prefix_dedup"),
]


@query(
    "curation_funnel_report",
    oracle="""
    WITH feat AS (
      SELECT doc_id, n_chars, text,
             len(ws) AS n_words,
             len(list_filter(ws, x -> x IN ('a', 'the'))) AS n_stop,
             list_max(list_transform(list_distinct(ws),
                      w -> len(list_filter(ws, x -> x = w)))) AS max_freq
      FROM (SELECT doc_id, n_chars, text,
                   string_split(text, ' ') AS ws
            FROM documents)
    ),
    flags AS (
      -- stage 4 must rank among STAGE-3 SURVIVORS only (stage k's
      -- input is stage k-1's output): a failed doc holding the first
      -- occurrence of a prefix must not knock out a surviving doc
      SELECT doc_id, p1, p2, p3,
             (p1 AND p2 AND p3
              AND COALESCE(SUM(CASE WHEN p1 AND p2 AND p3 THEN 1
                               ELSE 0 END)
                  OVER (PARTITION BY md5(substr(text, 1, 32))
                        ORDER BY doc_id
                        ROWS BETWEEN UNBOUNDED PRECEDING
                        AND 1 PRECEDING), 0) = 0) AS p4
      FROM (SELECT doc_id, text,
                   (n_chars >= 100) AS p1,
                   (50 * n_stop >= n_words) AS p2,
                   (100 * max_freq <= 18 * n_words) AS p3
            FROM feat)
    ),
    agg AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS total,
             CAST(SUM(CASE WHEN p1 THEN 1 ELSE 0 END) AS BIGINT) AS s1,
             CAST(SUM(CASE WHEN p1 AND p2 THEN 1 ELSE 0 END) AS BIGINT) AS s2,
             CAST(SUM(CASE WHEN p1 AND p2 AND p3 THEN 1 ELSE 0 END)
                  AS BIGINT) AS s3,
             CAST(SUM(CASE WHEN p1 AND p2 AND p3 AND p4 THEN 1 ELSE 0 END)
                  AS BIGINT) AS s4
      FROM flags
    )
    SELECT 1 AS stage_idx, 'min_chars' AS stage,
           total AS docs_in, s1 AS docs_out FROM agg
    UNION ALL SELECT 2, 'stopword_floor', s1, s2 FROM agg
    UNION ALL SELECT 3, 'repetition_cap', s2, s3 FROM agg
    UNION ALL SELECT 4, 'prefix_dedup', s3, s4 FROM agg
    ORDER BY stage_idx
    """,
)
def curation_funnel_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Survivor report of a chained quality-filter cascade — the
    funnel chart every curation run publishes: docs in/out at each
    stage (length floor → stopword-ratio floor → max-word-repetition
    cap → prefix-hash dedup), where stage k's input is stage k-1's
    output.

    All per-doc features are computed IN-ROW (split/filter/transform
    HOFs — the repetition scan is O(distinct_words × words) inside the
    row, no gram explode); the only shuffles are the prefix-hash
    window (uniform md5 key) and the final single-row aggregate.
    Thresholds are integer-arithmetic (50·stops ≥ words, 100·maxfreq ≤
    18·words) so no float compare can disagree across engines. At
    100 TB this is one corpus pass + one 4-row report."""
    from ..operators.text import max_word_run_frequency

    docs = load_table(spark, sf_dir, "documents")
    ws = F.split("text", " ")
    max_freq = max_word_run_frequency(ws)
    feat = docs.select(
        "doc_id",
        "n_chars",
        F.size(ws).alias("n_words"),
        F.size(
            F.filter(ws, lambda x: x.isin("a", "the"))
        ).alias("n_stop"),
        max_freq.alias("max_freq"),
        F.md5(F.substring("text", 1, 32)).alias("pref"),
    )
    pre = feat.select(
        "doc_id",
        "pref",
        (F.col("n_chars") >= 100).alias("p1"),
        (50 * F.col("n_stop") >= F.col("n_words")).alias("p2"),
        (100 * F.col("max_freq") <= 18 * F.col("n_words")).alias("p3"),
    )
    # stage 4 ranks among STAGE-3 SURVIVORS only (stage k's input is
    # stage k-1's output — the same survivor-window discipline as the
    # capstone's exact-dedup stage): a failed doc holding a prefix's
    # first occurrence must not knock out a surviving doc
    wq = (
        Window.partitionBy("pref")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    p123 = F.col("p1") & F.col("p2") & F.col("p3")
    flags = pre.select(
        "p1",
        "p2",
        "p3",
        (
            p123
            & (
                F.coalesce(
                    F.sum(p123.cast("long")).over(wq), F.lit(0)
                )
                == 0
            )
        ).alias("p4"),
    )

    def srv(*ps):
        keep = ps[0]
        for p in ps[1:]:
            keep = keep & p
        return F.sum(F.when(keep, 1).otherwise(0)).cast("long")

    agg = flags.agg(
        F.count(F.lit(1)).cast("long").alias("total"),
        srv(F.col("p1")).alias("s1"),
        srv(F.col("p1"), F.col("p2")).alias("s2"),
        srv(F.col("p1"), F.col("p2"), F.col("p3")).alias("s3"),
        srv(F.col("p1"), F.col("p2"), F.col("p3"), F.col("p4")).alias("s4"),
    )
    stages = F.array(
        *[
            F.struct(
                F.lit(idx).alias("stage_idx"),
                F.lit(name).alias("stage"),
                F.col("total" if idx == 1 else f"s{idx - 1}").alias("docs_in"),
                F.col(f"s{idx}").alias("docs_out"),
            )
            for idx, name in _FUNNEL_STAGES
        ]
    )
    return (
        agg.select(F.explode(stages).alias("r"))
        .select("r.stage_idx", "r.stage", "r.docs_in", "r.docs_out")
        .orderBy("stage_idx")
    )


# ---------------------------------------------------------------------------
# Token counting under the trained BPE tokenizer (vocabulary encode)
# ---------------------------------------------------------------------------


def _bpe_encode_oracle() -> str:
    parts = _bpe_cte_parts()
    return (
        "\n    WITH "
        + ",\n    ".join(parts)
        + f""",
    enc AS (
      SELECT word, CAST(COUNT(*) AS BIGINT) AS n_tok
      FROM s{_BPE_ROUNDS} GROUP BY word
    ),
    dw AS (
      SELECT lang, unnest(string_split(text, ' ')) AS word FROM documents
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_words,
           CAST(SUM(len(word)) AS BIGINT) AS n_char_tokens,
           CAST(SUM(n_tok) AS BIGINT) AS n_bpe_tokens,
           ROUND(CAST(SUM(n_tok) AS DOUBLE)
                 / CAST(SUM(len(word)) AS BIGINT), 9) AS compression
    FROM dw JOIN enc USING (word)
    GROUP BY lang
    ORDER BY lang
    """
    )


@query("tokenizer_bpe_encode", oracle=_bpe_encode_oracle())
def tokenizer_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus token counts under the BPE tokenizer trained by
    ``tokenizer_bpe_merges`` — the "how many tokens is my dataset"
    number every training run budgets against, plus the per-language
    compression ratio (BPE tokens per character).

    The corpus is NEVER encoded row by row: ``bpe_merge_rounds``
    already leaves the final per-word symbol table, so encoding is a
    vocabulary-sized groupBy (word → token count) joined back to the
    word stream. At 100 TB the encode cost scales with |vocab|, the
    join broadcasts the encoded vocabulary (a few million words at
    web scale), and the corpus pass is the same single explode that
    computed the word frequencies."""
    from ..operators.text import bpe_merge_rounds

    docs = load_table(spark, sf_dir, "documents")
    word_stream = docs.select(
        "lang", F.explode(F.split("text", " ")).alias("word")
    )
    vocab = word_stream.groupBy("word").agg(F.count(F.lit(1)).alias("n"))
    _, symbols = bpe_merge_rounds(vocab, rounds=_BPE_ROUNDS)
    enc = symbols.groupBy("word").agg(F.count(F.lit(1)).alias("n_tok"))
    return (
        word_stream.join(F.broadcast(enc), "word")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_words"),
            F.sum(F.length("word")).cast("long").alias("n_char_tokens"),
            F.sum("n_tok").cast("long").alias("n_bpe_tokens"),
        )
        .withColumn(
            "compression",
            F.round(
                F.col("n_bpe_tokens").cast("double")
                / F.col("n_char_tokens"),
                9,
            ),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# Watermark planning: how late does data actually arrive?
# ---------------------------------------------------------------------------

_LATE_DELAYS_MIN = [0, 30, 60, 120]
#: deterministic "network delay" model: md5-derived 0..2h per event
#: (the events table's own ts is monotone in event_id, which would
#: make every lateness count trivially zero)
_LATE_JITTER_US = 7_200_000_000
_LATE_BUCKET_US = 86_400_000_000  # 1 day of arrival time per bucket


def _late_oracle() -> str:
    sums = ",\n             ".join(
        f"CAST(SUM(CASE WHEN run_max > ts_us + {m * 60_000_000}"
        f" THEN 1 ELSE 0 END) AS BIGINT) AS s{m}"
        for m in _LATE_DELAYS_MIN
    )
    unions = "\n    UNION ALL ".join(
        f"SELECT {m} AS delay_minutes, s{m} AS n_late,"
        f" s{m} * 1000000 // n AS late_ppm FROM agg"
        for m in _LATE_DELAYS_MIN
    )
    return f"""
    WITH e AS (
      SELECT event_id, epoch_us(ts) AS ts_us,
             epoch_us(ts)
               + (('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 10))
                  ::UBIGINT % {_LATE_JITTER_US})::BIGINT AS arrival_us
      FROM events
    ),
    r AS (
      SELECT ts_us,
             max(ts_us) OVER (ORDER BY arrival_us, event_id
                              ROWS BETWEEN UNBOUNDED PRECEDING
                              AND 1 PRECEDING) AS run_max
      FROM e
    ),
    agg AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             {sums}
      FROM r
    )
    {unions}
    ORDER BY delay_minutes
    """


@query("events_late_arrival_profile", oracle=_late_oracle())
def events_late_arrival_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark planning: for candidate delays (0/30/60/120 min), how
    many events would a streaming job DROP because they ARRIVED after
    a later event-time had already been seen? An event is late for
    delay D iff max(event-time over all earlier arrivals) exceeds its
    own event-time by more than D. This is the batch profile you run
    BEFORE choosing ``withWatermark`` — pick the knee of the ppm
    curve. The testdata has no arrival column (its ts is monotone in
    event_id), so arrival is modeled as ts + a deterministic
    md5-derived transport delay in [0, 2h) — reproduced exactly by
    the oracle, and yielding a non-trivial curve: every delay bucket's
    count is a REAL count of out-of-order arrivals.

    The running max over arrival order is computed DISTRIBUTED, not
    with a single-partition global window: arrivals bucket into 1-day
    ranges (bucket key = prefix of the sort key, so bucket boundaries
    respect the global order), each bucket computes its in-bucket
    prefix max in parallel, and the cross-bucket prefix max runs on
    the bucket AGGREGATE relation (days, not events — the bounded-
    relation global-sort discipline of ranking.py) and broadcasts
    back. Result is bit-identical to the naive global window the
    oracle runs."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", F.unix_micros("ts").alias("ts_us")
    )
    jitter = (
        F.conv(
            F.substring(F.md5(F.col("event_id").cast("string")), 1, 10),
            16,
            10,
        ).cast("long")
        % _LATE_JITTER_US
    )
    ev = ev.withColumn("arrival_us", F.col("ts_us") + jitter).withColumn(
        "bucket", F.expr(f"arrival_us div {_LATE_BUCKET_US}")
    )
    wb = (
        Window.partitionBy("bucket")
        .orderBy("arrival_us", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    ev = ev.withColumn("in_max", F.max("ts_us").over(wb))
    bmax = ev.groupBy("bucket").agg(F.max("ts_us").alias("bmax"))
    wp = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, -1)
    prefix = bmax.select("bucket", F.max("bmax").over(wp).alias("prev_max"))
    joined = ev.join(F.broadcast(prefix), "bucket").withColumn(
        "run_max", F.greatest("in_max", "prev_max")
    )
    aggs = [F.count(F.lit(1)).cast("long").alias("n")] + [
        F.sum(
            F.when(
                F.col("run_max") > F.col("ts_us") + m * 60_000_000, 1
            ).otherwise(0)
        )
        .cast("long")
        .alias(f"s{m}")
        for m in _LATE_DELAYS_MIN
    ]
    agg = joined.agg(*aggs)
    rows = F.array(
        *[
            F.struct(
                F.lit(m).alias("delay_minutes"),
                F.col(f"s{m}").alias("n_late"),
                F.expr(f"s{m} * 1000000 div n").alias("late_ppm"),
            )
            for m in _LATE_DELAYS_MIN
        ]
    )
    return (
        agg.select(F.explode(rows).alias("r"))
        .select("r.delay_minutes", "r.n_late", "r.late_ppm")
        .orderBy("delay_minutes")
    )


# ---------------------------------------------------------------------------
# IVF index pre-flight: inverted-list balance audit
# ---------------------------------------------------------------------------


@query(
    "similarity_ivf_list_stats",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_vectors,
           TRUE AS coverage_ok,
           TRUE AS lists_bounded,
           TRUE AS probe_cost_bounded
    FROM embeddings
    """,
)
def similarity_ivf_list_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF pre-flight (the `dedup_lsh_bucket_stats` of the ANN path):
    audit the inverted-list size distribution BEFORE serving queries
    from the index. Emits corpus-count plus three invariants, each a
    REAL Spark-side assertion hash-compared against the oracle's
    expected values (the recall_ok pattern of the ANN queries —
    the assignment itself is float-argmax and so lives outside SQL):

    * coverage_ok — every vector landed in exactly one list
      (sum of list sizes == corpus count);
    * lists_bounded — between 1 and n_centroids lists in use;
    * probe_cost_bounded — the largest list holds <= 4x the mean
      (a skewed list would make every probe touching it a hotspot —
      the IVF analogue of the LSH max_bucket overflow condition).

    Plan: one zero-shuffle codegen'd assignment pass (centroid
    literals in the expression tree), one 16-group count. At 100 TB
    this is the cheapest possible index audit: no pairs, no ids, one
    scan."""
    from ..operators import similarity

    n_centroids = 16
    emb = dedup.fan_out(load_table(spark, sf_dir, "embeddings"))
    cents = similarity.kmeans_centroids(
        emb, n_centroids=n_centroids, n_iter=0
    )
    assigned = similarity.assign_nearest_centroid(
        emb.select("embedding"), cents, "embedding", "cid"
    )
    sizes = assigned.groupBy("cid").agg(F.count(F.lit(1)).alias("sz"))
    stats = sizes.agg(
        F.sum("sz").cast("long").alias("n_vectors"),
        F.count(F.lit(1)).cast("long").alias("n_lists"),
        F.max("sz").cast("long").alias("max_sz"),
    )
    corpus_n = emb.agg(F.count(F.lit(1)).cast("long").alias("corpus_n"))
    return stats.crossJoin(F.broadcast(corpus_n)).select(
        "n_vectors",
        (F.col("n_vectors") == F.col("corpus_n")).alias("coverage_ok"),
        (
            (F.col("n_lists") >= 1) & (F.col("n_lists") <= n_centroids)
        ).alias("lists_bounded"),
        (
            F.col("max_sz") * F.col("n_lists") <= 4 * F.col("n_vectors")
        ).alias("probe_cost_bounded"),
    )


# ---------------------------------------------------------------------------
# LSH band-configuration sweep (S-curve tuning pre-flight)
# ---------------------------------------------------------------------------

_SWEEP_BANDS = [1, 2, 4]  # rows per band = 8 / bands


def _sweep_threshold_ppm(bands: int, rows: int) -> int:
    """floor(1e6 * (1/b)^(1/r)) — the Jaccard similarity at which a
    pair's candidate probability crosses ~50% for (b, r) banding.
    Computed HERE (query-definition time) and emitted as a literal on
    both engines: transcendental pow never runs inside either plan."""
    return int(1_000_000 * (1.0 / bands) ** (1.0 / rows))


def _band_sweep_oracle() -> str:
    from ..operators import dedup as _d

    mins = ",\n             ".join(
        f"min(xor(x, {_d.XOR_CONSTS[h]})) AS mh{h}" for h in range(8)
    )
    per_cfg = []
    for b in _SWEEP_BANDS:
        r = 8 // b
        bands_sql = "\n      UNION ALL\n      ".join(
            "SELECT doc_id, {bid} AS band_id, md5({concat}) AS band_hash"
            " FROM sigs".format(
                bid=bi,
                concat=" || ".join(f"mh{bi * r + j}" for j in range(r)),
            )
            for bi in range(b)
        )
        per_cfg.append(f"""
    SELECT {b} AS bands, {r} AS rows_per_band,
           CAST(COUNT(*) AS BIGINT) AS n_buckets,
           CAST(SUM(CASE WHEN n > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_colliding,
           CAST(SUM(n * (n - 1) / 2) AS BIGINT) AS candidate_slots,
           {_sweep_threshold_ppm(b, r)} AS threshold_ppm
    FROM (SELECT band_id, band_hash, COUNT(*) AS n
          FROM ({bands_sql})
          GROUP BY 1, 2)""")
    unions = "\n    UNION ALL".join(per_cfg)
    return f"""
    WITH grams AS (
      SELECT DISTINCT doc_id, substr(text, i::INT, 8) AS g
      FROM (SELECT doc_id, text, unnest(range(1, len(text) - 6)) AS i
            FROM documents)
    ),
    sigs AS (
      SELECT doc_id,
             {mins}
      FROM (SELECT doc_id,
                   (('0x' || substr(md5(g), 1, 15))::UBIGINT)::BIGINT AS x
            FROM grams)
      GROUP BY doc_id
    )
    {unions}
    ORDER BY bands
    """


@query("dedup_lsh_band_sweep", oracle=_band_sweep_oracle())
def dedup_lsh_band_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH tuning pre-flight: the SAME 8-perm signatures evaluated
    under three band splits (1x8, 2x4, 4x2), emitting per config the
    bucket count, colliding-bucket count, total candidate-pair slots
    (sum n·(n-1)/2 — the work the pair expansion WOULD do), and the
    banding's ~50% S-curve threshold (floor(1e6·(1/b)^(1/r)), a
    compile-time literal so no transcendental runs in-plan). This is
    the table you read before choosing bands: more bands → lower
    threshold → more candidates (candidate_slots column shows the
    cost), fewer bands → only tighter duplicates recalled.

    Plan: ONE signature pipeline (the dominant cost — grams hashed
    once), then three count-only bucket aggregates, each map-side
    combinable; no pair is ever materialized. At 100 TB this costs
    one corpus pass + three vocabulary-sized shuffles."""
    docs = dedup.fan_out(load_table(spark, sf_dir, "documents"))
    sigs = dedup.minhash_signatures_text(
        docs, "text", "doc_id", n=8, num_hashes=8
    )
    out = None
    for b in _SWEEP_BANDS:
        r = 8 // b
        counts = (
            dedup._banded(sigs, "doc_id", 8, b)
            .groupBy("band_id", "band_hash")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        cfg = counts.agg(
            F.count(F.lit(1)).cast("long").alias("n_buckets"),
            F.sum((F.col("n") > 1).cast("long")).cast("long").alias(
                "n_colliding"
            ),
            F.sum(F.expr("n * (n - 1) div 2")).cast("long").alias(
                "candidate_slots"
            ),
        ).select(
            F.lit(b).alias("bands"),
            F.lit(r).alias("rows_per_band"),
            "n_buckets",
            "n_colliding",
            "candidate_slots",
            F.lit(_sweep_threshold_ppm(b, r)).alias("threshold_ppm"),
        )
        out = cfg if out is None else out.unionByName(cfg)
    return out.orderBy("bands")


# ---------------------------------------------------------------------------
# Embedding ingest QC: norm profile
# ---------------------------------------------------------------------------


@query(
    "embedding_norm_profile",
    oracle="""
    WITH norms AS (
      SELECT vec_id,
             CAST(SUM(CAST(CAST(e[i::INT] AS DOUBLE)
                           * CAST(e[i::INT] AS DOUBLE)
                           AS DECIMAL(30,15))) AS DOUBLE) AS sq
      FROM (SELECT vec_id, embedding AS e,
                   unnest(range(1, len(embedding) + 1)) AS i
            FROM embeddings)
      GROUP BY vec_id
    ),
    b AS (
      -- DuckDB has no width_bucket; this CASE is its exact definition
      -- for (min 0, max 8, 16 buckets): bucket width 0.5
      SELECT CASE WHEN ROUND(sqrt(sq), 9) < 0 THEN 0
                  WHEN ROUND(sqrt(sq), 9) >= 8 THEN 17
                  ELSE CAST(FLOOR(ROUND(sqrt(sq), 9) / 0.5) AS INT) + 1
             END AS bucket,
             sq
      FROM norms
    )
    SELECT bucket,
           CAST(COUNT(*) AS BIGINT) AS n_vectors,
           ROUND(MIN(ROUND(sqrt(sq), 9)), 9) AS min_norm,
           ROUND(MAX(ROUND(sqrt(sq), 9)), 9) AS max_norm
    FROM b
    GROUP BY bucket
    ORDER BY bucket
    """,
)
def embedding_norm_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-ingest QC: L2-norm histogram (16 equal-width buckets
    over [0, 8]) with per-bucket min/max norms — the pre-flight that
    catches unnormalized batches, zero vectors, and fp-overflow
    spikes before they poison cosine math downstream. Exact decimal
    sum-of-squares, sqrt rounded to 9 places BEFORE bucketing so the
    bucket boundary decision is engine-identical. One zero-shuffle
    projection + one 16-group aggregate."""
    emb = dedup.fan_out(load_table(spark, sf_dir, "embeddings"))
    from ..operators.similarity import _dot_decimal

    nrm = F.round(F.sqrt(_dot_decimal("embedding", "embedding")), 9)
    b = emb.select(
        F.width_bucket(nrm, F.lit(0.0), F.lit(8.0), F.lit(16))
        .cast("int")
        .alias("bucket"),
        nrm.alias("nrm"),
    )
    return (
        b.groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_vectors"),
            F.round(F.min("nrm"), 9).alias("min_norm"),
            F.round(F.max("nrm"), 9).alias("max_norm"),
        )
        .orderBy("bucket")
    )


# ---------------------------------------------------------------------------
# Capstone: the whole curation pipeline as ONE query
# ---------------------------------------------------------------------------

_SHARD_TOKENS = 256


def _pipeline_oracle() -> str:
    from ..operators import dedup as _d

    mins = ",\n             ".join(
        f"min(xor(x, {_d.XOR_CONSTS[h]})) AS mh{h}" for h in range(8)
    )
    return f"""
    WITH f AS (
      SELECT doc_id, lang, text,
             CAST(len(list_filter(string_split(text, ' '),
                                  w -> len(w) > 0)) AS BIGINT) AS n_tok,
             (n_chars >= 100
              AND 50 * len(list_filter(string_split(text, ' '),
                                       x -> x IN ('a', 'the')))
                  >= len(string_split(text, ' '))
              AND 100 * list_max(list_transform(list_distinct(
                            string_split(text, ' ')),
                          w -> len(list_filter(string_split(text, ' '),
                                               x -> x = w))))
                  <= 18 * len(string_split(text, ' '))) AS q
      FROM documents
    ),
    u AS (
      SELECT *,
             (q AND COALESCE(SUM(CASE WHEN q THEN 1 ELSE 0 END)
                   OVER (PARTITION BY md5(text) ORDER BY doc_id
                         ROWS BETWEEN UNBOUNDED PRECEDING
                         AND 1 PRECEDING), 0) = 0) AS uniq
      FROM f
    ),
    grams AS (
      SELECT DISTINCT doc_id, substr(text, i::INT, 8) AS g
      FROM (SELECT doc_id, text, unnest(range(1, len(text) - 6)) AS i
            FROM u WHERE uniq)
    ),
    sigs AS (
      SELECT doc_id,
             {mins}
      FROM (SELECT doc_id,
                   (('0x' || substr(md5(g), 1, 15))::UBIGINT)::BIGINT AS x
            FROM grams)
      GROUP BY doc_id
    ),
    bands AS (
      SELECT doc_id, 0 AS band_id, md5(mh0 || mh1 || mh2 || mh3) AS bh
      FROM sigs
      UNION ALL
      SELECT doc_id, 1 AS band_id, md5(mh4 || mh5 || mh6 || mh7) AS bh
      FROM sigs
    ),
    bucket_min AS (
      SELECT band_id, bh, MIN(doc_id) AS min_doc FROM bands GROUP BY 1, 2
    ),
    near_flag AS (
      SELECT DISTINCT b.doc_id
      FROM bands b JOIN bucket_min m
        ON b.band_id = m.band_id AND b.bh = m.bh AND b.doc_id > m.min_doc
    ),
    canon AS (
      SELECT u.doc_id, u.lang, u.n_tok
      FROM u LEFT JOIN near_flag nf ON u.doc_id = nf.doc_id
      WHERE u.uniq AND nf.doc_id IS NULL
    ),
    packed AS (
      SELECT lang,
             (SUM(n_tok) OVER (PARTITION BY lang ORDER BY doc_id
                               ROWS BETWEEN UNBOUNDED PRECEDING
                               AND CURRENT ROW) - n_tok)
               // {_SHARD_TOKENS} AS seq_id
      FROM canon
    ),
    shard_counts AS (
      SELECT lang, CAST(COUNT(DISTINCT seq_id) AS BIGINT) AS n_shards
      FROM packed GROUP BY lang
    ),
    canon_agg AS (
      SELECT lang,
             CAST(COUNT(*) AS BIGINT) AS n_canonical,
             CAST(SUM(n_tok) AS BIGINT) AS n_tokens
      FROM canon GROUP BY lang
    ),
    stage_agg AS (
      SELECT lang,
             CAST(COUNT(*) AS BIGINT) AS n_raw,
             CAST(SUM(CASE WHEN q THEN 1 ELSE 0 END) AS BIGINT) AS n_quality,
             CAST(SUM(CASE WHEN uniq THEN 1 ELSE 0 END) AS BIGINT) AS n_unique
      FROM u GROUP BY lang
    )
    SELECT s.lang, s.n_raw, s.n_quality, s.n_unique,
           COALESCE(c.n_canonical, 0) AS n_canonical,
           COALESCE(sh.n_shards, 0) AS n_shards,
           COALESCE(c.n_tokens, 0) AS n_tokens
    FROM stage_agg s
    LEFT JOIN canon_agg c ON s.lang = c.lang
    LEFT JOIN shard_counts sh ON s.lang = sh.lang
    ORDER BY s.lang
    """


def crawl_to_shards_report(docs: DataFrame) -> DataFrame:
    """Core of the capstone pipeline over any (doc_id, lang, text,
    n_chars) frame — shared by the registry query below and the
    scale probe (scale_probe.py replays it on K×-replicated corpora).
    See ``pipeline_crawl_to_shards`` for the stage semantics."""
    from ..operators.text import (
        max_word_run_frequency,
        pack_sequences,
        words,
    )

    ws = F.split("text", " ")
    max_freq = max_word_run_frequency(ws)
    quality = (
        (F.col("n_chars") >= 100)
        & (
            50 * F.size(F.filter(ws, lambda x: x.isin("a", "the")))
            >= F.size(ws)
        )
        & (100 * max_freq <= 18 * F.size(ws))
    )
    f = docs.select(
        "doc_id",
        "lang",
        "text",
        F.size(words("text")).cast("long").alias("n_tok"),
        quality.alias("q"),
        F.md5("text").alias("h"),
    )
    wq = (
        Window.partitionBy("h")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    u = f.withColumn(
        "uniq",
        F.col("q")
        & (
            F.coalesce(
                F.sum(F.col("q").cast("long")).over(wq), F.lit(0)
            )
            == 0
        ),
    )
    survivors = (
        u.where("uniq")
        .select("doc_id", "lang", "n_tok", "text")
        # AQE coalesces the post-window shuffle of this small survivor
        # frame toward ONE partition (it is only a few MB), and the
        # md5-per-gram signature projection below — the pipeline's
        # dominant compute — then runs nearly single-threaded: measured
        # 4.5-5.7 s at sf0.1 vs 1.9-2.2 s at 10x THE SAME code (more
        # data → more post-AQE partitions → more cores). An explicit
        # round-robin respread of the narrow rows costs one tiny
        # exchange and buys full-width parallelism for the signature
        # stage (guide §2.5: input skew — repartition after the choke).
        # fan_out can't help here: it reads the STATIC partition count
        # (32), blind to AQE's runtime coalescing.
        .repartition(docs.sparkSession.sparkContext.defaultParallelism)
    )
    # checkpoint the NARROW signature frame (doc_id, lang, n_tok, mh*)
    # — the stage artifact a real pipeline persists. Without it every
    # downstream aggregate branch (bands, bucket_min, canon, packing)
    # re-executes the scan+window lineage: measured 7 corpus scans in
    # the executed plan; with it, the only remaining corpus read in
    # the final plan is the stage-accounting branch (plan-pinned).
    sigs = dedup.minhash_signatures_inrow(
        survivors, "text", "doc_id", n=8, num_hashes=8,
        keep=["doc_id", "lang", "n_tok"],
    ).localCheckpoint(eager=True)
    bands = dedup.banded_rows_inrow(sigs, "doc_id", num_hashes=8, bands=2)
    bucket_min = bands.groupBy("band_id", "band_hash").agg(
        F.min("doc_id").alias("min_doc")
    )
    near_flag = (
        bands.join(bucket_min, ["band_id", "band_hash"])
        .where(F.col("doc_id") > F.col("min_doc"))
        .select("doc_id")
        .distinct()
    )
    canon = sigs.select("doc_id", "lang", "n_tok").join(
        near_flag, "doc_id", "left_anti"
    )
    packed = pack_sequences(canon, "n_tok", "doc_id", "lang",
                            target=_SHARD_TOKENS)
    shard_counts = packed.groupBy("lang").agg(
        F.count_distinct("seq_id").cast("long").alias("n_shards")
    )
    canon_agg = canon.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_canonical"),
        F.sum("n_tok").cast("long").alias("n_tokens"),
    )
    stage_agg = u.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_raw"),
        F.sum(F.col("q").cast("long")).cast("long").alias("n_quality"),
        F.sum(F.col("uniq").cast("long")).cast("long").alias("n_unique"),
    )
    return (
        stage_agg.join(F.broadcast(canon_agg), "lang", "left")
        .join(F.broadcast(shard_counts), "lang", "left")
        .select(
            "lang",
            "n_raw",
            "n_quality",
            "n_unique",
            F.coalesce("n_canonical", F.lit(0)).alias("n_canonical"),
            F.coalesce("n_shards", F.lit(0)).alias("n_shards"),
            F.coalesce("n_tokens", F.lit(0)).alias("n_tokens"),
        )
        .orderBy("lang")
    )


@query(
    "pipeline_crawl_to_shards",
    oracle=_pipeline_oracle(),
    # thin wrapper: the pipeline's whole logic lives in the helper —
    # declare it so edits there re-front the query for driver
    # re-verification (round 15 edited the survivor respread)
    hash_deps=(crawl_to_shards_report,),
)
def pipeline_crawl_to_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The whole curation pipeline as ONE declarative query — the
    demonstration that a crawl→training-shards run needs no
    orchestration glue between stages: quality gate (the funnel's
    integer-threshold predicates) → exact dedup (first quality
    survivor per content hash) → near-dup canonicalization (doc
    dropped iff ANY of its LSH band buckets holds a lower-id
    survivor — a bucket-min comparison, NO pair expansion at all) →
    GPT-style sequence packing into 256-token shards per language.
    Emits the per-language stage counts + shard/token totals a
    pipeline run would publish.

    Plan shape at 100 TB: ONE corpus scan in the final plan (the
    narrow signature frame is eagerly checkpointed as the stage
    artifact — without it every aggregate branch re-executed the
    scan+window lineage, 7 scans measured); per-doc features in-row
    (sorted-run fold for repetition); one content-hash window; the
    near-dup stage is signatures (in-row) + a bucket groupBy + a
    bucket-min join — candidate pairs are never materialized, so the
    boilerplate mega-cluster corner costs one min() per bucket; the
    packing window shuffles once per language partition. Five small
    per-lang aggregates join at the end. Scaling measured in SCALE.md
    (probe case ``pipeline_crawl_to_shards``)."""
    return crawl_to_shards_report(
        dedup.fan_out(load_table(spark, sf_dir, "documents"))
    )


# ---------------------------------------------------------------------------
# Classifier TRAINING in-engine: exact greedy split search (the
# per-node primitive of boosted-tree training)
# ---------------------------------------------------------------------------

_STUMP_BUCKETS = 4096
_STUMP_THRESHOLDS = [1, 2, 3]
_STUMP_TOPK = 5


def _stump_oracle() -> str:
    per_t = []
    for t in _STUMP_THRESHOLDS:
        per_t.append(f"""
      SELECT b, {t} AS t,
             CAST(SUM(CASE WHEN c >= {t} AND y = 1 THEN 1 ELSE 0 END)
                  AS BIGINT) AS tp,
             CAST(SUM(CASE WHEN c >= {t} AND y = -1 THEN 1 ELSE 0 END)
                  AS BIGINT) AS fp
      FROM feat GROUP BY b""")
    stumps = "\n      UNION ALL".join(per_t)
    return f"""
    WITH labeled AS (
      SELECT doc_id,
             CASE WHEN 50 * len(list_filter(string_split(text, ' '),
                                            x -> x IN ('a', 'the')))
                       >= len(list_filter(string_split(text, ' '),
                                          w -> len(w) > 0))
                  THEN 1 ELSE -1 END AS y,
             text
      FROM documents
    ),
    feat AS (
      SELECT doc_id, y,
             (('0x' || substr(md5(word), 1, 4))::INT) % {_STUMP_BUCKETS} AS b,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM (SELECT doc_id, y,
                   unnest(list_filter(string_split(text, ' '),
                                      w -> len(w) > 0)) AS word
            FROM labeled)
      GROUP BY doc_id, y, b
    ),
    cls AS (
      SELECT CAST(SUM(CASE WHEN y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS pos,
             CAST(SUM(CASE WHEN y = -1 THEN 1 ELSE 0 END) AS BIGINT) AS neg
      FROM labeled
    ),
    stumps AS ({stumps}),
    scored AS (
      SELECT s.b AS stump_bucket, s.t AS threshold, s.tp, s.fp,
             (s.tp * cls.neg + (cls.neg - s.fp) * cls.pos) * 500000
               // (cls.pos * cls.neg) AS balanced_acc_ppm
      FROM stumps s, cls
    )
    SELECT stump_bucket, threshold, tp, fp, balanced_acc_ppm
    FROM scored
    ORDER BY balanced_acc_ppm DESC, stump_bucket, threshold
    LIMIT {_STUMP_TOPK}
    """


@query("classifier_stump_search", oracle=_stump_oracle())
def classifier_stump_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed exact greedy SPLIT SEARCH — the per-node training
    primitive of a boosted-tree quality classifier (XGBoost's exact
    mode), run in-engine over hashed token-bucket features. The label
    distills the rule-based stopword-floor filter (y=+1 iff 50·stops ≥
    words — the bootstrap-label workflow real quality classifiers
    use); the search evaluates EVERY (bucket, threshold) stump in one
    pass and ranks by balanced accuracy in exact integer ppm
    (tp·NEG + tn·POS cross-multiplied — no float division until the
    final rounded ppm). On this corpus the top-2 stumps recover
    precisely the md5 buckets of 'the' and 'a' — the features the
    rule is actually built from — a verifiable end-to-end training
    result, not just mechanics.

    Scale shape: a corpus pass builds (doc, bucket, count) with the
    label computed in-row (the 1-row class-totals aggregate is its own
    cheap pass); one vocabulary-keyed aggregate evaluates
    all thresholds as conditional sums (candidate thresholds cost
    extra COLUMNS, not extra scans); the class totals are a 1-row
    broadcast; the final ranking is a top-5
    TakeOrderedAndProject. No driver-side model state at all."""
    from ..operators.text import token_bucket, words

    docs = dedup.fan_out(load_table(spark, sf_dir, "documents"))
    ws = words("text")
    y = F.when(
        50 * F.size(F.filter(ws, lambda x: x.isin("a", "the")))
        >= F.size(ws),
        1,
    ).otherwise(-1)
    labeled = docs.select("doc_id", y.alias("y"), "text")
    feat = (
        labeled.select(
            "doc_id", "y", F.explode(words("text")).alias("word")
        )
        .select(
            "doc_id", "y",
            token_bucket("word", _STUMP_BUCKETS).alias("b"),
        )
        .groupBy("doc_id", "y", "b")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    cls = labeled.agg(
        F.sum((F.col("y") == 1).cast("long")).alias("pos"),
        F.sum((F.col("y") == -1).cast("long")).alias("neg"),
    )
    per_bucket = feat.groupBy("b").agg(
        *[
            agg
            for t in _STUMP_THRESHOLDS
            for agg in (
                F.sum(
                    ((F.col("c") >= t) & (F.col("y") == 1)).cast("long")
                ).alias(f"tp{t}"),
                F.sum(
                    ((F.col("c") >= t) & (F.col("y") == -1)).cast("long")
                ).alias(f"fp{t}"),
            )
        ]
    )
    stumps = per_bucket.select(
        F.col("b"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(t).alias("threshold"),
                        F.col(f"tp{t}").alias("tp"),
                        F.col(f"fp{t}").alias("fp"),
                    )
                    for t in _STUMP_THRESHOLDS
                ]
            )
        ).alias("s"),
    ).select("b", "s.threshold", "s.tp", "s.fp")
    scored = stumps.crossJoin(F.broadcast(cls)).select(
        F.col("b").alias("stump_bucket"),
        "threshold",
        "tp",
        "fp",
        F.expr(
            "(tp * neg + (neg - fp) * pos) * 500000 div (pos * neg)"
        ).alias("balanced_acc_ppm"),
    )
    return scored.orderBy(
        F.desc("balanced_acc_ppm"), "stump_bucket", "threshold"
    ).limit(_STUMP_TOPK)


# ---------------------------------------------------------------------------
# Bucketed persisted index: the per-batch probe without an index-side
# shuffle
# ---------------------------------------------------------------------------


_BUCKETED_IDX_ORACLE = f"""
    WITH {_minhash_bands_cte("c", "doc_id % 5 <> 0")},
    {_minhash_bands_cte("i", "doc_id % 5 = 0")},
    idx AS (SELECT DISTINCT md5(band_id || band_hash) AS bh2 FROM bands_c),
    flagged AS (
      SELECT DISTINCT b.doc_id
      FROM (SELECT doc_id, md5(band_id || band_hash) AS bh2 FROM bands_i) b
      JOIN idx x ON b.bh2 = x.bh2
    ),
    inc AS (SELECT doc_id, lang FROM documents WHERE doc_id % 5 = 0)
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_incoming,
           CAST(SUM(CASE WHEN f.doc_id IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_flagged,
           CAST(SUM(CASE WHEN f.doc_id IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_admitted
    FROM inc LEFT JOIN flagged f ON inc.doc_id = f.doc_id
    GROUP BY lang
    ORDER BY lang
    """


def bucketed_index_build(spark: SparkSession, sf_dir: str) -> None:
    """The ONE-TIME half of ``dedup_incremental_bucketed_index``:
    derive the corpus' (band_id, band_hash) LSH index, fold the pair
    into one md5 key ``bh2`` (so the join key equals the bucketing key
    exactly — a two-column join would demand partitioning on both and
    re-shuffle the index), and persist it ``bucketBy(8, bh2)`` +
    ``sortBy``. Every subsequent batch probe then reads index buckets
    IN PLACE. Exposed separately so bench.py can time the recurring
    probe without re-paying the build (the steady-state cost a
    continuous pipeline actually sees)."""
    import os as _os2

    from .catalog import _IO_DIR

    # no fan_out: the corpus text goes straight into the pinned-width
    # content-hash repartition below, which does the spread itself
    # (r15 — a round-robin exchange first would move every text twice)
    corpus = load_table(spark, sf_dir, "documents").where(
        F.col("doc_id") % 5 != 0
    )
    # distinct-text signing, same rationale as dedup_incremental_index
    # (the persisted index is the distinct band set — id-free; the key
    # is dedup.text_content_key)
    corpus_t = (
        corpus.select(dedup.text_content_key("text").alias("_th"), "text")
        # same single-exchange dedup+spread as the unbucketed twin
        .repartition(spark.sparkContext.defaultParallelism, F.col("_th"))
        .dropDuplicates(["_th"])
    )
    sigs_c = dedup.minhash_signatures_text(
        corpus_t, "text", "_th", n=8, num_hashes=8
    )
    index = (
        dedup._banded(sigs_c, "_th", 8, 2)
        .select(
            F.md5(F.concat("band_id", "band_hash")).alias("bh2")
        )
        .distinct()
    )
    spark.sql("DROP TABLE IF EXISTS band_index_b")
    (
        index.write.bucketBy(8, "bh2")
        .sortBy("bh2")
        .option("path", _os2.path.join(_IO_DIR, "band_index_b"))
        .mode("overwrite")
        .saveAsTable("band_index_b")
    )


def bucketed_index_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The RECURRING half of ``dedup_incremental_bucketed_index``:
    screen the incoming batch against the ALREADY-PERSISTED bucketed
    band index (``bucketed_index_build`` must have run). The index
    scan is a bucketed read (SelectedBucketsCount) and the only hash
    Exchange on the semi-join feeds the PROBE side — at 100 TB the
    index is the big side (corpus × bands rows), so this layout
    converts the per-batch cost from 'shuffle the index' to 'shuffle
    the batch'."""
    # fan_out only where the spread pays — the in-row signing below;
    # the final-join branch reads (doc_id, lang) straight into a
    # broadcast join + tiny aggregate (r15)
    incoming = (
        load_table(spark, sf_dir, "documents")
        .where(F.col("doc_id") % 5 == 0)
        .select("doc_id", "lang", "text")
    )
    idx = spark.table("band_index_b")

    probe = dedup.minhash_signatures_inrow(
        dedup.fan_out(incoming),
        "text", "doc_id", n=8, num_hashes=8, keep=["doc_id", "lang"]
    )
    bands_i = dedup.banded_rows_inrow(
        probe, "doc_id", num_hashes=8, bands=2
    ).select(
        "doc_id",
        F.md5(F.concat("band_id", "band_hash")).alias("bh2"),
    )
    flagged = (
        bands_i.hint("merge")
        .join(idx, "bh2", "left_semi")
        .select("doc_id")
        .distinct()
        .withColumn("_hit", F.lit(1))
    )
    return (
        incoming.join(flagged, "doc_id", "left")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_incoming"),
            F.sum(F.coalesce(F.col("_hit"), F.lit(0))).cast("long").alias(
                "n_flagged"
            ),
            F.sum(F.when(F.col("_hit").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_admitted"),
        )
        .orderBy("lang")
    )


def dedup_incremental_bucketed_index(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """``dedup_incremental_index`` with the index PERSISTED AS A
    BUCKETED TABLE — the storage layout that makes per-batch probing
    cheapest (see ``bucketed_index_build`` / ``bucketed_index_probe``,
    which this query composes end-to-end so the oracle covers both
    halves; bench.py times the probe half alone as
    ``dedup_incremental_bucketed_probe``). Result identical to the
    unbucketed twin (same oracle counts)."""
    bucketed_index_build(spark, sf_dir)
    return bucketed_index_probe(spark, sf_dir)


query(
    "dedup_incremental_bucketed_index",
    oracle=_BUCKETED_IDX_ORACLE,
    # the wrapper is 2 lines; the primary logic lives in these helpers
    # (split out so bench.py can time the probe alone) — without the
    # declaration, editing them would not re-front the query
    hash_deps=(bucketed_index_build, bucketed_index_probe),
)(dedup_incremental_bucketed_index)


# ---------------------------------------------------------------------------
# Chunk-level NEAR dedup (the fuzzy counterpart of dedup_chunk_exact)
# ---------------------------------------------------------------------------

_NEAR_CHUNK_WORDS = 20
#: key = doc_id * SHIFT + pos. 2^20 chunk slots = 20M-word docs before
#: collision; the builder additionally ASSERTS pos < SHIFT at runtime
#: (a silent collision would attribute flags to the wrong document)
_NEAR_KEY_SHIFT = 1 << 20


def _chunk_near_oracle() -> str:
    from ..operators import dedup as _d

    mins = ",\n             ".join(
        f"min(xor(x, {_d.XOR_CONSTS[h]})) AS mh{h}" for h in range(8)
    )
    return f"""
    WITH w AS (
      SELECT doc_id, string_split(text, ' ') AS words FROM documents
    ),
    ch AS (
      SELECT doc_id, i AS pos,
             doc_id * {_NEAR_KEY_SHIFT} + i AS key,
             array_to_string(words[(i*{_NEAR_CHUNK_WORDS}+1):
                                   ((i+1)*{_NEAR_CHUNK_WORDS})], ' ') AS chunk
      FROM (SELECT doc_id, words,
                   unnest(range(0, CAST(ceil(len(words)
                         / {_NEAR_CHUNK_WORDS}.0) AS BIGINT))) AS i
            FROM w)
    ),
    grams AS (
      SELECT key, substr(chunk, i::INT, 8) AS g
      FROM (SELECT key, chunk, unnest(range(1, len(chunk) - 6)) AS i
            FROM ch WHERE len(chunk) >= 8)
    ),
    sigs AS (
      SELECT key,
             {mins}
      FROM (SELECT key,
                   (('0x' || substr(md5(g), 1, 15))::UBIGINT)::BIGINT AS x
            FROM grams)
      GROUP BY key
    ),
    bands AS (
      SELECT key, 0 AS band_id, md5(mh0 || mh1 || mh2 || mh3) AS bh FROM sigs
      UNION ALL
      SELECT key, 1 AS band_id, md5(mh4 || mh5 || mh6 || mh7) AS bh FROM sigs
    ),
    bucket_min AS (
      SELECT band_id, bh, MIN(key) AS min_key FROM bands GROUP BY 1, 2
    ),
    flagged AS (
      SELECT DISTINCT b.key
      FROM bands b JOIN bucket_min m
        ON b.band_id = m.band_id AND b.bh = m.bh AND b.key > m.min_key
    )
    SELECT ch.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_chunks,
           CAST(SUM(CASE WHEN f.key IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_near_chunks
    FROM ch LEFT JOIN flagged f ON ch.key = f.key
    GROUP BY ch.doc_id
    ORDER BY ch.doc_id
    """


@query("dedup_chunk_near", oracle=_chunk_near_oracle())
def dedup_chunk_near(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sub-document NEAR dedup — the fuzzy counterpart of
    ``dedup_chunk_exact``: a 20-word chunk is flagged when any of its
    MinHash band buckets already holds an EARLIER chunk (global
    (doc_id, pos) order), catching lightly-edited boilerplate that
    byte-exact chunk dedup misses. Per document: chunk count and
    flagged-chunk count (the per-doc boilerplate fraction a cleaner
    acts on). Chunks shorter than one 8-gram are unsignable and count
    as never-near (deterministic on both engines).

    Plan shape: chunks built IN-ROW (sequence+transform over the
    split array), signatures in-row per chunk (``array_min`` over the
    gram-hash array — chunk texts are small, the zero-shuffle path's
    sweet spot), then the SAME bucket-min discipline as the capstone:
    one groupBy on (band, hash) + one join back — earlier-chunk
    precedence is a single integer compare (key = doc_id·(1<<20) + pos,
    the runtime-asserted ``_NEAR_KEY_SHIFT`` capacity),
    candidate pairs never materialized. Two chunk-keyed shuffles
    total at any corpus size."""
    docs = dedup.fan_out(load_table(spark, sf_dir, "documents"))
    words_arr = F.split(F.col("text"), " ")
    n_chunks = F.ceil(
        F.size(words_arr) / F.lit(float(_NEAR_CHUNK_WORDS))
    ).cast("int")
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.concat_ws(
            " ", F.slice(words_arr, i * _NEAR_CHUNK_WORDS + 1,
                         _NEAR_CHUNK_WORDS)
        ),
    )
    ch = docs.select(
        "doc_id", F.posexplode(chunks).alias("pos", "chunk")
    ).withColumn(
        "key",
        F.col("doc_id") * _NEAR_KEY_SHIFT
        + F.assert_true(
            F.col("pos") < _NEAR_KEY_SHIFT,
            F.lit("doc exceeds chunk-key capacity; raise _NEAR_KEY_SHIFT"),
        ).isNull()
        .cast("int")
        * 0
        + F.col("pos"),
    )
    signable = ch.where(F.length("chunk") >= 8)
    sigs = dedup.minhash_signatures_inrow(
        signable.select("key", "chunk"), "chunk", "key",
        n=8, num_hashes=8, keep=["key"],
    )
    bands = dedup.banded_rows_inrow(sigs, "key", num_hashes=8, bands=2)
    bucket_min = bands.groupBy("band_id", "band_hash").agg(
        F.min("key").alias("min_key")
    )
    flagged = (
        bands.join(bucket_min, ["band_id", "band_hash"])
        .where(F.col("key") > F.col("min_key"))
        .select("key")
        .distinct()
        .withColumn("_hit", F.lit(1))
    )
    return (
        ch.join(flagged, "key", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_chunks"),
            F.sum(F.coalesce(F.col("_hit"), F.lit(0)))
            .cast("long")
            .alias("n_near_chunks"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Boosting loop: two reweighted stump rounds
# ---------------------------------------------------------------------------


def _boost_oracle() -> str:
    def search(n: int, featw: str, clsw: str) -> str:
        per_t = "\n      UNION ALL".join(
            f"""
      SELECT b, {t} AS t,
             CAST(SUM(CASE WHEN c >= {t} AND y = 1 THEN wt ELSE 0 END)
                  AS BIGINT) AS wp,
             CAST(SUM(CASE WHEN c >= {t} AND y = -1 THEN wt ELSE 0 END)
                  AS BIGINT) AS wn
      FROM {featw} GROUP BY b"""
            for t in _STUMP_THRESHOLDS
        )
        return f"""
    stumps{n} AS ({per_t}),
    best{n} AS (
      SELECT s.b, s.t, (c.posw - s.wp) + s.wn AS err, c.totw
      FROM stumps{n} s, {clsw} c
      ORDER BY err, s.b, s.t
      LIMIT 1
    )"""

    return f"""
    WITH labeled AS (
      SELECT doc_id,
             CASE WHEN 50 * len(list_filter(string_split(text, ' '),
                                            x -> x IN ('a', 'the')))
                       >= len(list_filter(string_split(text, ' '),
                                          w -> len(w) > 0))
                  THEN 1 ELSE -1 END AS y,
             text
      FROM documents
    ),
    feat AS (
      SELECT doc_id, y,
             (('0x' || substr(md5(word), 1, 4))::INT) % {_STUMP_BUCKETS} AS b,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM (SELECT doc_id, y,
                   unnest(list_filter(string_split(text, ' '),
                                      w -> len(w) > 0)) AS word
            FROM labeled)
      GROUP BY doc_id, y, b
    ),
    feat1 AS (SELECT doc_id, y, b, c, 1 AS wt FROM feat),
    cls1 AS (
      SELECT CAST(SUM(CASE WHEN y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS posw,
             CAST(COUNT(*) AS BIGINT) AS totw
      FROM labeled
    ),
    {search(1, "feat1", "cls1").lstrip()},
    preds AS (
      SELECT l.doc_id, l.y,
             CASE WHEN COALESCE((SELECT SUM(f.c) FROM feat f, best1 bb
                                 WHERE f.doc_id = l.doc_id AND f.b = bb.b), 0)
                       >= (SELECT t FROM best1)
                  THEN 1 ELSE -1 END AS pred
      FROM labeled l
    ),
    weights AS (
      SELECT doc_id, y, CASE WHEN pred <> y THEN 3 ELSE 1 END AS wt
      FROM preds
    ),
    feat2 AS (
      SELECT f.doc_id, f.y, f.b, f.c, w.wt
      FROM feat f JOIN weights w ON f.doc_id = w.doc_id
    ),
    cls2 AS (
      SELECT CAST(SUM(CASE WHEN y = 1 THEN wt ELSE 0 END) AS BIGINT) AS posw,
             CAST(SUM(wt) AS BIGINT) AS totw
      FROM weights
    ),
    {search(2, "feat2", "cls2").lstrip()}
    SELECT 1 AS round, b AS stump_bucket, t AS threshold,
           CAST(err AS BIGINT) AS weighted_err,
           CAST(totw AS BIGINT) AS total_weight
    FROM best1
    UNION ALL
    SELECT 2, b, t, CAST(err AS BIGINT), CAST(totw AS BIGINT) FROM best2
    ORDER BY round
    """


@query("classifier_boost_rounds", oracle=_boost_oracle())
def classifier_boost_rounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two rounds of the boosting LOOP around the stump split search:
    round 1 searches with unit weights, the misclassified docs get
    integer weight 3, round 2 re-searches on the reweighted corpus.
    The loop verifiably works: round 1 picks the md5 bucket of 'a',
    and the reweighting forces round 2 to pick the bucket of 'the' —
    the two features the bootstrap label (stopword-floor rule) is
    built from, selected in succession exactly as AdaBoost intends.

    The model state between rounds is the 1-ROW best-stump relation —
    broadcast into the prediction pass, never collected (the BPE
    best-pair discipline applied to classifier training). Each round
    costs one vocabulary-keyed weighted aggregate; the reweighting is
    a doc-keyed join of the unit-sized weights relation. Exact
    integers throughout (weighted error ranked by (err, b, t))."""
    from ..operators.text import token_bucket, words

    docs = dedup.fan_out(load_table(spark, sf_dir, "documents"))
    ws = words("text")
    y = F.when(
        50 * F.size(F.filter(ws, lambda x: x.isin("a", "the")))
        >= F.size(ws),
        1,
    ).otherwise(-1)
    labeled = docs.select("doc_id", y.alias("y"))
    feat = (
        docs.select(
            "doc_id", y.alias("y"), F.explode(words("text")).alias("word")
        )
        .select(
            "doc_id", "y",
            token_bucket("word", _STUMP_BUCKETS).alias("b"),
        )
        .groupBy("doc_id", "y", "b")
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint(eager=True)
    )

    def weighted_search(featw: DataFrame, clsw: DataFrame) -> DataFrame:
        per_bucket = featw.groupBy("b").agg(
            *[
                agg
                for t in _STUMP_THRESHOLDS
                for agg in (
                    F.sum(
                        F.when(
                            (F.col("c") >= t) & (F.col("y") == 1),
                            F.col("wt"),
                        ).otherwise(0)
                    ).cast("long").alias(f"wp{t}"),
                    F.sum(
                        F.when(
                            (F.col("c") >= t) & (F.col("y") == -1),
                            F.col("wt"),
                        ).otherwise(0)
                    ).cast("long").alias(f"wn{t}"),
                )
            ]
        )
        stumps = per_bucket.select(
            "b",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(t).alias("t"),
                            F.col(f"wp{t}").alias("wp"),
                            F.col(f"wn{t}").alias("wn"),
                        )
                        for t in _STUMP_THRESHOLDS
                    ]
                )
            ).alias("s"),
        ).select("b", "s.t", "s.wp", "s.wn")
        return (
            stumps.crossJoin(F.broadcast(clsw))
            .select(
                "b",
                "t",
                ((F.col("posw") - F.col("wp")) + F.col("wn")).alias("err"),
                "totw",
            )
            .orderBy("err", "b", "t")
            .limit(1)
        )

    feat1 = feat.withColumn("wt", F.lit(1))
    cls1 = labeled.agg(
        F.sum((F.col("y") == 1).cast("long")).alias("posw"),
        F.count(F.lit(1)).cast("long").alias("totw"),
    )
    best1 = weighted_search(feat1, cls1).localCheckpoint(eager=True)

    c_at_b1 = (
        feat.crossJoin(F.broadcast(best1.select(F.col("b").alias("b1"))))
        .groupBy("doc_id")
        .agg(
            F.sum(
                F.when(F.col("b") == F.col("b1"), F.col("c")).otherwise(0)
            ).alias("c1")
        )
    )
    # weights must cover EVERY labeled doc (the oracle's preds CTE
    # does): a zero-word doc has no feat rows, scores 0 via c1=0, and
    # still reweights — deriving weights from feat alone would drop it
    weights = (
        labeled.crossJoin(F.broadcast(best1.select(F.col("t").alias("t1"))))
        .join(c_at_b1, "doc_id", "left")
        .select(
            "doc_id",
            "y",
            F.when(
                (
                    F.when(
                        F.coalesce(F.col("c1"), F.lit(0)) >= F.col("t1"), 1
                    ).otherwise(-1)
                )
                != F.col("y"),
                3,
            )
            .otherwise(1)
            .alias("wt"),
        )
    )
    feat2 = feat.join(weights.select("doc_id", "wt"), "doc_id")
    cls2 = weights.agg(
        F.sum(F.when(F.col("y") == 1, F.col("wt")).otherwise(0))
        .cast("long")
        .alias("posw"),
        F.sum("wt").cast("long").alias("totw"),
    )
    best2 = weighted_search(feat2, cls2)

    out1 = best1.select(
        F.lit(1).alias("round"),
        F.col("b").alias("stump_bucket"),
        F.col("t").alias("threshold"),
        F.col("err").cast("long").alias("weighted_err"),
        F.col("totw").cast("long").alias("total_weight"),
    )
    out2 = best2.select(
        F.lit(2).alias("round"),
        F.col("b").alias("stump_bucket"),
        F.col("t").alias("threshold"),
        F.col("err").cast("long").alias("weighted_err"),
        F.col("totw").cast("long").alias("total_weight"),
    )
    return out1.unionByName(out2).orderBy("round")


# ---------------------------------------------------------------------------
# Parquet footer stats audit (the manifest-trust check behind pruning)
# ---------------------------------------------------------------------------


@query(
    "source_parquet_stats_audit",
    oracle="""
    SELECT 'l_shipdate' AS col_name,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(l_shipdate) AS BIGINT) AS n_values,
           CAST(MIN(l_shipdate) AS VARCHAR) AS stat_min,
           CAST(MAX(l_shipdate) AS VARCHAR) AS stat_max
    FROM lineitem
    """,
)
def source_parquet_stats_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trust-but-verify for manifest pruning: read the parquet FOOTER
    statistics of `lineitem` (row-group row counts, l_shipdate
    min/max/value-count) through a DISTRIBUTED pyarrow pass — each
    file's footer parsed inside ``mapInPandas`` over the ``binaryFile``
    source, per-row-group rows reduced to the table summary — and
    hash-compare them against the DATA-side aggregates the oracle
    computes. Row-group pruning, z-order extents and manifest-based
    planning are only as good as these stats; this is the audit that
    catches a writer emitting wrong or missing min/max.

    Scale shape: footers are O(KB) per file regardless of data size —
    this is the cheapest possible whole-corpus 'scan' (metadata
    plane only); the reduce is a single tiny aggregate. The same
    pattern builds the file manifest a table format would persist.
    Timestamp stats format as '%Y-%m-%d %H:%M:%S' strings, which sort
    lexicographically = chronologically, so string MIN/MAX aggregate
    correctly across row groups and files. A row group with ABSENT
    statistics (the defect this audit exists to catch) emits the
    sentinel 'MISSING-STATS' — lexicographically above any date, so it
    surfaces in the aggregated stat_max as a visible value mismatch
    against the data-side oracle rather than an executor crash."""
    bin_df = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "lineitem.parquet")
        .load(sf_dir)
        .select("path", "content")
    )

    def read_footers(batches):
        import pandas as pd
        import pyarrow as pa
        import pyarrow.parquet as pq

        for pdf in batches:
            out = {
                "n_rows": [], "n_values": [],
                "stat_min": [], "stat_max": [],
            }
            for content in pdf["content"]:
                md = pq.ParquetFile(pa.BufferReader(content)).metadata
                for rg_i in range(md.num_row_groups):
                    rg = md.row_group(rg_i)
                    for ci in range(rg.num_columns):
                        col = rg.column(ci)
                        if col.path_in_schema != "l_shipdate":
                            continue
                        st = col.statistics
                        out["n_rows"].append(rg.num_rows)
                        # st.num_values = non-null count (matches the
                        # oracle's COUNT(col)); fall back to the chunk
                        # total only when stats are absent entirely
                        out["n_values"].append(
                            st.num_values
                            if st is not None
                            else col.num_values
                        )
                        if st is not None and st.has_min_max:
                            out["stat_min"].append(
                                st.min.strftime("%Y-%m-%d %H:%M:%S")
                            )
                            out["stat_max"].append(
                                st.max.strftime("%Y-%m-%d %H:%M:%S")
                            )
                        else:
                            out["stat_min"].append("MISSING-STATS")
                            out["stat_max"].append("MISSING-STATS")
            yield pd.DataFrame(out)

    per_rg = bin_df.mapInPandas(
        read_footers,
        "n_rows long, n_values long, stat_min string, stat_max string",
    )
    return per_rg.agg(
        F.lit("l_shipdate").alias("col_name"),
        F.sum("n_rows").cast("long").alias("n_rows"),
        F.sum("n_values").cast("long").alias("n_values"),
        F.min("stat_min").alias("stat_min"),
        F.max("stat_max").alias("stat_max"),
    )


# ---------------------------------------------------------------------------
# Deterministic epoch reshuffle (training-order assignment without a
# global sort)
# ---------------------------------------------------------------------------

_EPOCH_SHARDS = 8
_EPOCHS = [0, 1]


@query(
    "dataset_epoch_shuffle",
    oracle=f"""
    WITH keyed AS (
      SELECT e.epoch, d.doc_id,
             md5(e.epoch || ':' || d.doc_id) AS k
      FROM documents d,
           (SELECT unnest([{", ".join(str(e) for e in _EPOCHS)}]) AS epoch) e
    ),
    sharded AS (
      SELECT epoch, doc_id, k,
             (('0x' || substr(k, 1, 4))::INT) % {_EPOCH_SHARDS} AS shard
      FROM keyed
    )
    SELECT epoch, shard,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(arg_min(doc_id, k) AS BIGINT) AS head_doc,
           md5(string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY k, doc_id))
             AS order_md5
    FROM sharded
    GROUP BY epoch, shard
    ORDER BY epoch, shard
    """,
)
def dataset_epoch_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-epoch training-order assignment WITHOUT a global sort:
    every (epoch, doc) gets the deterministic key md5(epoch:doc_id);
    the key's leading bytes pick one of 8 reader shards and the key
    orders docs WITHIN the shard — so each epoch presents every
    reader a different, reproducible permutation, and reshuffling an
    epoch costs one hash projection + a shard-keyed exchange (never a
    corpus-wide orderBy). Emits per (epoch, shard): doc count, the
    first doc in reading order, and the md5 of the full in-shard
    reading order — so the driver hash-check verifies the ENTIRE
    permutation, not just counts. Epoch 0 and epoch 1 provably
    differ (different head docs / order hashes for the same shard).

    Scale shape: the shard assignment is in-row; the per-shard order
    md5 is a sorted aggregation within each (epoch, shard) partition —
    at 1000 executors each reader sorts only its own shard slice, the
    exact pattern a streaming data-loader uses to feed trainers."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    epochs = F.explode(
        F.array(*[F.lit(e) for e in _EPOCHS])
    ).alias("epoch")
    keyed = docs.select("doc_id", epochs).select(
        "epoch",
        "doc_id",
        F.md5(F.concat_ws(":", "epoch", "doc_id")).alias("k"),
    )
    sharded = keyed.withColumn(
        "shard",
        (F.conv(F.substring("k", 1, 4), 16, 10).cast("int")
         % _EPOCH_SHARDS),
    )
    ordered = F.array_sort(
        F.collect_list(F.struct("k", "doc_id"))
    )
    return (
        sharded.groupBy("epoch", "shard")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.min(F.struct("k", "doc_id"))["doc_id"]
            .cast("long")
            .alias("head_doc"),
            F.md5(
                F.concat_ws(
                    ",",
                    F.transform(ordered, lambda s: s.doc_id.cast("string")),
                )
            ).alias("order_md5"),
        )
        .orderBy("epoch", "shard")
    )


# ---------------------------------------------------------------------------
# Canonicalize-then-kNN: the duplicate-proof form of the 1-NN graph
# ---------------------------------------------------------------------------


@query(
    "similarity_knn_graph_canonical",
    oracle=f"""
    WITH canon AS (
      SELECT embedding, MIN(vec_id) AS vec_id,
             CAST(COUNT(*) AS BIGINT) AS n_dups
      FROM embeddings GROUP BY embedding
    ),
    norms AS (
      SELECT vec_id, n_dups, embedding,
             sqrt(CAST(SUM(CAST(CAST(e[i::INT] AS DOUBLE)
                                * CAST(e[i::INT] AS DOUBLE)
                                AS DECIMAL(30,15))) AS DOUBLE)) AS nrm,
             {_signbit_bucket_sql(0)} AS b1,
             {_signbit_bucket_sql(8)} AS b2
      FROM (SELECT vec_id, n_dups, embedding, embedding AS e,
                   unnest(range(1, len(embedding) + 1)) AS i
            FROM canon)
      GROUP BY vec_id, n_dups, embedding
    ),
    pairs AS (
      SELECT id_a, id_b, n_dups,
             ROUND(CAST(SUM(CAST(CAST(ea[i::INT] AS DOUBLE)
                                 * CAST(eb[i::INT] AS DOUBLE)
                                 AS DECIMAL(30,15))) AS DOUBLE)
                   / (na * nb), 9) AS cosine
      FROM (SELECT a.vec_id AS id_a, b.vec_id AS id_b, a.n_dups AS n_dups,
                   a.embedding AS ea, b.embedding AS eb,
                   a.nrm AS na, b.nrm AS nb,
                   unnest(range(1, len(a.embedding) + 1)) AS i
            FROM norms a
            JOIN norms b ON (a.b1 = b.b1 OR a.b2 = b.b2)
                        AND a.vec_id <> b.vec_id)
      GROUP BY id_a, id_b, n_dups, na, nb
    )
    SELECT id_a AS vec_id, n_dups, id_b AS neighbor_id, cosine
    FROM (SELECT pairs.*,
                 row_number() OVER (PARTITION BY id_a
                                    ORDER BY cosine DESC, id_b) AS rn
          FROM pairs)
    WHERE rn = 1
    ORDER BY vec_id
    """,
)
def similarity_knn_graph_canonical(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """``similarity_knn_graph`` with the documented degenerate corner
    CLOSED: exact duplicates collide in every sign band at any bits,
    so a duplicated corpus pays bucket depth no dial can remove — the
    fix is an exact content dedup FIRST (one groupBy on the embedding
    itself: min vec_id becomes the canonical rep, the multiplicity
    rides along as ``n_dups``), then the 1-NN graph over canonical
    vectors only. bench.py's 10× replica point (every vector × 10)
    collapses back to the 1× graph size after the canonicalize step —
    the duplicate mass costs one map-side-combined shuffle instead of
    a quadratic bucket term.

    Plan shape at 100 TB: groupBy(embedding) shuffles the corpus once
    on the vector bytes (map-side combine folds replicas early —
    crawl dup clusters are within-shard heavy, so most of the fold
    happens before the exchange); the canonical set is
    ``localCheckpoint``ed because THREE consumers read it (the dial-
    sizing count, both knn self-join sides, and the n_dups join-back)
    — without it the groupBy re-executes per consumer. Bits auto-size
    from the CANONICAL count (the depth that matters)."""
    import math

    emb = dedup.fan_out(load_table(spark, sf_dir, "embeddings"))
    canon = (
        emb.groupBy("embedding")
        .agg(
            F.min("vec_id").alias("vec_id"),
            F.count(F.lit(1)).cast("long").alias("n_dups"),
        )
        # AQE coalesces the small agg output to ONE partition; the
        # checkpoint would freeze that, serializing the whole
        # decimal-exact graph stage downstream (measured 2.07 s vs
        # 1.15 s for the identical knn over a 32-partition source).
        # fan_out re-spreads the (tiny) canonical rows first.
        .transform(dedup.fan_out)
        .localCheckpoint()
    )
    n = canon.count()
    bits = min(32, max(8, math.ceil(math.log2(max(n, 2) / 8))))
    g = knn_graph(
        canon.select("vec_id", "embedding"), "vec_id", "embedding",
        bits_per_band=bits, bands=2, exact=True, dim=64,
    )
    return (
        g.join(canon.select("vec_id", "n_dups"), "vec_id")
        .select("vec_id", "n_dups", "neighbor_id", "cosine")
        .orderBy("vec_id")
    )


# ---------------------------------------------------------------------------
# kNN blocking pre-flight: bucket-depth audit for the auto-sized dial
# ---------------------------------------------------------------------------


@query(
    "knn_bucket_stats",
    oracle=f"""
    WITH sides AS (
      SELECT vec_id,
             {_signbit_bucket_sql(0)} AS b0,
             {_signbit_bucket_sql(8)} AS b1
      FROM (SELECT vec_id, embedding FROM embeddings)
    ),
    exploded AS (
      SELECT 0 AS band_id, b0 AS bkt FROM sides
      UNION ALL
      SELECT 1 AS band_id, b1 AS bkt FROM sides
    ),
    buckets AS (
      SELECT band_id, bkt, COUNT(*) AS depth
      FROM exploded GROUP BY band_id, bkt
    )
    SELECT band_id,
           CAST((SELECT GREATEST(8, CEIL(LOG2(COUNT(*) / 8.0)))
                 FROM embeddings) AS BIGINT) AS bits,
           CAST(COUNT(*) AS BIGINT) AS n_buckets,
           CAST(MAX(depth) AS BIGINT) AS max_depth,
           CAST(SUM(depth) AS BIGINT) AS total_rows,
           CAST(SUM(depth * (depth - 1)) AS BIGINT) AS candidate_pairs
    FROM buckets
    GROUP BY band_id ORDER BY band_id
    """,
)
def knn_bucket_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-flight audit for ``similarity_knn_graph``'s auto-sized
    blocking: per band, the bucket count, the DEEPEST bucket, and the
    exact candidate-pair workload (Σ depth·(depth−1)) the self-join
    would generate — the number an operator checks BEFORE launching
    the graph build on a new corpus (a skewed max_depth or a pair
    count ≫ 8·n means the dial needs more bits or the corpus needs an
    exact pre-dedup first, see similarity_knn_graph_canonical).

    Count-only and JOINLESS: one exploded projection + one
    (band, bucket) groupBy + one per-band aggregate — the same
    audit-fusion discipline as ``dedup_lsh_band_sweep``. The reported
    ``bits`` column is the dial the graph query would choose
    (clamp(ceil(log2(n/8)), 8, 32)); the bucket histogram itself is
    computed at the oracle-checked 8-bit setting, exact at every
    correctness scale (n ≤ 2048 → auto-dial = 8, see
    similarity_knn_graph)."""
    import math

    emb = dedup.fan_out(load_table(spark, sf_dir, "embeddings"))
    n = load_table(spark, sf_dir, "embeddings").count()
    bits_val = min(32, max(8, math.ceil(math.log2(max(n, 2) / 8))))

    def bucket(lo: int) -> F.Column:
        return (
            sum(
                (
                    F.when(
                        F.element_at("embedding", lo + i + 1) > 0,
                        F.lit(1 << i),
                    ).otherwise(0)
                    for i in range(8)
                ),
                F.lit(0),
            )
        ).cast("int")

    exploded = emb.select(
        F.explode(
            F.array(
                F.struct(F.lit(0).alias("band_id"), bucket(0).alias("bkt")),
                F.struct(F.lit(1).alias("band_id"), bucket(8).alias("bkt")),
            )
        ).alias("_bb")
    ).select("_bb.band_id", "_bb.bkt")
    depths = exploded.groupBy("band_id", "bkt").agg(
        F.count(F.lit(1)).alias("depth")
    )
    return (
        depths.groupBy("band_id")
        .agg(
            F.lit(bits_val).cast("long").alias("bits"),
            F.count(F.lit(1)).cast("long").alias("n_buckets"),
            F.max("depth").cast("long").alias("max_depth"),
            F.sum("depth").cast("long").alias("total_rows"),
            F.sum(F.col("depth") * (F.col("depth") - 1))
            .cast("long")
            .alias("candidate_pairs"),
        )
        .orderBy("band_id")
    )


# ---------------------------------------------------------------------------
# Bloom-prescreened incremental dedup — the bloom pattern at its real
# production home: a compact corpus-index summary shed batch bands
# map-side BEFORE the index semi-join.
# ---------------------------------------------------------------------------


def _register_bloom_prescreen() -> None:
    from ..operators.bloom import bloom_build, bloom_m_bits, bloom_member_sql

    def dedup_bloom_prescreen(spark: SparkSession, sf_dir: str) -> DataFrame:
        """`dedup_incremental_index` with a BLOOM PRESCREEN: the
        corpus' (band_id, band_hash) index is summarized into one
        broadcast bitset (operators/bloom.py, keyed on
        xxhash64(band_id, band_hash), count-dialed ~20 bits/key), and
        each batch band tests it MAP-SIDE before anything shuffles;
        only surviving bands reach the exact index semi-join, which
        removes bloom false positives — so the per-language
        admit/flag report is IDENTICAL to the unscreened twin (same
        oracle), and the driver hash proves the prescreen loses
        nothing.

        Why this matters at 100 TB: the unscreened twin shuffles
        every batch band into the semi-join. A mostly-novel crawl
        (the common case) has few index hits, so the bloom sheds most
        bands in the scan stage — the semi-join's shuffle shrinks
        from O(batch bands) to O(hits + FP), while the bitset costs
        ~2.5 bytes/index-key once per batch, amortized across every
        batch that reuses the persisted index. Plan-pinned: the bloom
        test sits between the batch Generate and the LeftSemi."""
        docs = dedup.fan_out(load_table(spark, sf_dir, "documents"))
        corpus = docs.where(F.col("doc_id") % 5 != 0)
        incoming = docs.where(F.col("doc_id") % 5 == 0).select(
            "doc_id", "lang", "text"
        )
        sigs_c = dedup.minhash_signatures_text(
            corpus, "text", "doc_id", n=8, num_hashes=8
        )
        index = (
            dedup._banded(sigs_c, "doc_id", 8, 2)
            .select("band_id", "band_hash")
            .distinct()
            .localCheckpoint(eager=True)  # built once, read twice (bloom + verify)
        )
        m_bits = bloom_m_bits(index.count())
        bitset = bloom_build(
            index, F.xxhash64(F.col("band_id"), F.col("band_hash")), m_bits
        )
        probe = dedup.minhash_signatures_inrow(
            incoming, "text", "doc_id", n=8, num_hashes=8, keep=["doc_id", "lang"]
        )
        bands_i = dedup.banded_rows_inrow(probe, "doc_id", num_hashes=8, bands=2)
        survivors = bands_i.crossJoin(F.broadcast(bitset)).where(
            F.expr(bloom_member_sql("xxhash64(band_id, band_hash)", m_bits))
        )
        flagged = (
            survivors.join(index, ["band_id", "band_hash"], "left_semi")
            .select("doc_id")
            .distinct()
            .withColumn("_hit", F.lit(1))
        )
        return (
            incoming.join(flagged, "doc_id", "left")
            .groupBy("lang")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_incoming"),
                F.sum(F.coalesce(F.col("_hit"), F.lit(0)))
                .cast("long")
                .alias("n_flagged"),
                F.sum(F.when(F.col("_hit").isNull(), 1).otherwise(0))
                .cast("long")
                .alias("n_admitted"),
            )
            .orderBy("lang")
        )

    query(
        "dedup_bloom_prescreen",
        oracle=f"""
    WITH {_minhash_bands_cte("c", "doc_id % 5 <> 0")},
    {_minhash_bands_cte("i", "doc_id % 5 = 0")},
    idx AS (SELECT DISTINCT band_id, band_hash FROM bands_c),
    flagged AS (
      SELECT DISTINCT b.doc_id
      FROM bands_i b JOIN idx x
        ON b.band_id = x.band_id AND b.band_hash = x.band_hash
    ),
    inc AS (SELECT doc_id, lang FROM documents WHERE doc_id % 5 = 0)
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_incoming,
           CAST(SUM(CASE WHEN f.doc_id IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_flagged,
           CAST(SUM(CASE WHEN f.doc_id IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_admitted
    FROM inc LEFT JOIN flagged f ON inc.doc_id = f.doc_id
    GROUP BY lang
    ORDER BY lang
    """,
        hash_deps=(bloom_build, bloom_member_sql),
    )(dedup_bloom_prescreen)


_register_bloom_prescreen()


# ---------------------------------------------------------------------------
# Embeddings capstone: QC gate → exact canonicalize → bucketed near-dup
# flag → per-label curation report, one plan.
# ---------------------------------------------------------------------------


def _register_embeddings_capstone() -> None:
    from ..operators.similarity import _dot_decimal, _dot_double

    def pipeline_embeddings_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
        """The EMBEDDINGS capstone — the vector-side admission cascade
        a 100 TB multimodal corpus runs before indexing, as ONE plan
        with per-label stage accounting (the fourth capstone, next to
        batch text / streaming / media):

        1. QC gate: component-balance check (positive-count within
           [26, 38] of 64) — catches spiky/degenerate vectors; these
           embeddings are unit-normalized so a norm gate is vacuous,
           and the balance count is INTEGER-exact in both engines.
        2. Exact canonicalize: one groupBy(embedding) collapses
           duplicate vectors (min vec_id reps, n_dups rides along) —
           the canonicalize-first discipline that keeps stage 3 off
           the duplicate mass (`dedup_embedding_cosine_canonical`).
        3. Near-dup FLAG: 6-bit sign-bucket blocking, exact decimal
           cosine >= 0.3 within buckets (double prefilter gates the
           decimal rescore), larger id flagged — a semi-join flag set,
           never a K² pair dump.
        4. Report: per label, n_raw → n_gated → n_canon → n_flagged →
           n_kept. Five integer counts per label, hash-exact.

        Shuffle budget: gate is map-side; canonicalize is ONE
        map-side-combined exchange on vector bytes; the bucket join
        runs on canon only; the five stage counts are 10-row
        aggregates broadcast-joined on label."""
        emb = dedup.fan_out(load_table(spark, sf_dir, "embeddings"))
        n_pos = F.expr(
            "aggregate(embedding, 0, (acc, x) -> acc + IF(x > 0, 1, 0))"
        )
        raw = emb.groupBy("label").agg(F.count(F.lit(1)).cast("long").alias("n_raw"))
        gated = emb.where(n_pos.between(26, 38))
        gcnt = gated.groupBy("label").agg(
            F.count(F.lit(1)).cast("long").alias("n_gated")
        )
        canon = (
            gated.groupBy("embedding")
            .agg(
                F.min("vec_id").alias("vec_id"),
                F.min("label").alias("label"),
                F.count(F.lit(1)).cast("long").alias("n_dups"),
            )
            .transform(dedup.fan_out)
            # FOUR consumers read canon (per-label count, both near-dup
            # join sides, the flagged-count semi-join) — without the
            # checkpoint each re-executes the gated scan +
            # groupBy(embedding) chain (guide §3.3 / §5: materialise an
            # intermediate that a self-join or multi-branch re-executes;
            # stage_boundary: conf-switchable reliable checkpoint, r16)
            .transform(stage_boundary)
        )
        ccnt = canon.groupBy("label").agg(
            F.count(F.lit(1)).cast("long").alias("n_canon")
        )
        bucket = sum(
            (
                F.when(F.element_at("embedding", i + 1) > 0, F.lit(1 << i)).otherwise(
                    0
                )
            )
            for i in range(6)
        ).cast("int")
        sides = canon.select(
            "vec_id",
            F.col("embedding").alias("v"),
            F.sqrt(_dot_decimal("embedding", "embedding")).alias("nrm"),
            bucket.alias("bucket"),
        )
        a = sides.select(
            F.col("vec_id").alias("id_a"), F.col("v").alias("va"),
            F.col("nrm").alias("na"), "bucket",
        )
        b = sides.select(
            F.col("vec_id").alias("id_b"), F.col("v").alias("vb"),
            F.col("nrm").alias("nb"), "bucket",
        )
        fast_cos = _dot_double("va", "vb") / (F.col("na") * F.col("nb"))
        exact_cos = F.round(
            _dot_decimal("va", "vb") / (F.col("na") * F.col("nb")), 9
        )
        flagged_ids = (
            a.join(b, ["bucket"])
            .where(F.col("id_a") < F.col("id_b"))
            .where(fast_cos >= 0.3 - 1e-6)
            .where(exact_cos >= 0.3)
            .select(F.col("id_b").alias("vec_id"))
            .distinct()
        )
        fcnt = (
            canon.join(flagged_ids, "vec_id", "left_semi")
            .groupBy("label")
            .agg(F.count(F.lit(1)).cast("long").alias("n_flagged"))
        )
        return (
            raw.join(F.broadcast(gcnt), "label", "left")
            .join(F.broadcast(ccnt), "label", "left")
            .join(F.broadcast(fcnt), "label", "left")
            .select(
                "label",
                "n_raw",
                F.coalesce("n_gated", F.lit(0)).cast("long").alias("n_gated"),
                F.coalesce("n_canon", F.lit(0)).cast("long").alias("n_canon"),
                F.coalesce("n_flagged", F.lit(0)).cast("long").alias("n_flagged"),
                (
                    F.coalesce("n_canon", F.lit(0)) - F.coalesce("n_flagged", F.lit(0))
                ).cast("long").alias("n_kept"),
            )
            .orderBy("label")
        )

    query(
        "pipeline_embeddings_curation",
        oracle="""
    WITH raw AS (
      SELECT label, CAST(COUNT(*) AS BIGINT) AS n_raw
      FROM embeddings GROUP BY 1),
    feat AS (
      SELECT vec_id, label, embedding,
             SUM(CASE WHEN e[i::INT] > 0 THEN 1 ELSE 0 END) AS n_pos
      FROM (SELECT vec_id, label, embedding, embedding AS e,
                   unnest(range(1, len(embedding) + 1)) AS i
            FROM embeddings)
      GROUP BY vec_id, label, embedding),
    gated AS (SELECT * FROM feat WHERE n_pos BETWEEN 26 AND 38),
    gcnt AS (SELECT label, CAST(COUNT(*) AS BIGINT) AS n_gated
             FROM gated GROUP BY 1),
    canon AS (
      SELECT embedding, MIN(vec_id) AS vec_id, MIN(label) AS label,
             CAST(COUNT(*) AS BIGINT) AS n_dups
      FROM gated GROUP BY embedding),
    ccnt AS (SELECT label, CAST(COUNT(*) AS BIGINT) AS n_canon
             FROM canon GROUP BY 1),
    norms AS (
      SELECT vec_id, embedding,
             sqrt(CAST(SUM(CAST(CAST(e[i::INT] AS DOUBLE)
                                * CAST(e[i::INT] AS DOUBLE)
                                AS DECIMAL(30,15))) AS DOUBLE)) AS nrm,
             (CASE WHEN embedding[1] > 0 THEN 1 ELSE 0 END
            + CASE WHEN embedding[2] > 0 THEN 2 ELSE 0 END
            + CASE WHEN embedding[3] > 0 THEN 4 ELSE 0 END
            + CASE WHEN embedding[4] > 0 THEN 8 ELSE 0 END
            + CASE WHEN embedding[5] > 0 THEN 16 ELSE 0 END
            + CASE WHEN embedding[6] > 0 THEN 32 ELSE 0 END)::INT AS bucket
      FROM (SELECT vec_id, embedding, embedding AS e,
                   unnest(range(1, len(embedding) + 1)) AS i
            FROM canon)
      GROUP BY vec_id, embedding),
    pairs AS (
      SELECT id_b,
             CAST(SUM(CAST(CAST(ea[i::INT] AS DOUBLE)
                           * CAST(eb[i::INT] AS DOUBLE)
                           AS DECIMAL(30,15))) AS DOUBLE)
               / (nrm_a * nrm_b) AS cosine
      FROM (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                   a.embedding AS ea, b.embedding AS eb,
                   a.nrm AS nrm_a, b.nrm AS nrm_b,
                   unnest(range(1, len(a.embedding) + 1)) AS i
            FROM norms a
            JOIN norms b ON a.bucket = b.bucket AND a.vec_id < b.vec_id)
      GROUP BY id_a, id_b, nrm_a, nrm_b),
    flagged AS (SELECT DISTINCT id_b FROM pairs WHERE ROUND(cosine, 9) >= 0.3),
    fcnt AS (
      SELECT c.label, CAST(COUNT(*) AS BIGINT) AS n_flagged
      FROM canon c JOIN flagged f ON c.vec_id = f.id_b GROUP BY 1)
    SELECT r.label, r.n_raw,
           CAST(COALESCE(g.n_gated, 0) AS BIGINT) AS n_gated,
           CAST(COALESCE(c.n_canon, 0) AS BIGINT) AS n_canon,
           CAST(COALESCE(f.n_flagged, 0) AS BIGINT) AS n_flagged,
           CAST(COALESCE(c.n_canon, 0) - COALESCE(f.n_flagged, 0) AS BIGINT)
             AS n_kept
    FROM raw r
    LEFT JOIN gcnt g USING (label)
    LEFT JOIN ccnt c USING (label)
    LEFT JOIN fcnt f USING (label)
    ORDER BY r.label
    """,
    )(pipeline_embeddings_curation)


_register_embeddings_capstone()

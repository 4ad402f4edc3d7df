"""Deduplication operators for large-scale training-data pipelines.

All algorithms are expressed as declarative DataFrame plans (zero
Python UDFs — everything stays in whole-stage codegen) and all hashes
are md5-based, so a SQL engine (the DuckDB oracle) can reproduce the
exact results.

Scale design (100 TB of documents):

* **Exact dedup** = hash → groupBy → min-keeper. One shuffle on the
  hash; partial aggregation collapses duplicates map-side first.
* **MinHash-LSH** = in-row gram hashing → 1 groupBy for signatures →
  band explode → bucket groupBy on (band, value). Only colliding
  buckets produce pairs, and per-bucket pair expansion is CAPPED:
  buckets larger than ``max_bucket`` emit star pairs to the min-id
  keeper (O(n), same connected component) instead of all-pairs
  (O(n²)) — a million-document boilerplate cluster stays one bounded
  task instead of 10¹² pairs. (AQE skew-join splitting does NOT help
  here: it splits skewed join partitions, not a skewed groupBy whose
  aggregate is collect_set.) ``lsh_bucket_stats`` surfaces the
  overflow count as a count-only pre-flight audit.
* **Verification** re-computes exact Jaccard ONLY for candidate
  pairs — a join of the (small) candidate set back to the shingle
  table, never all-pairs.
* **SimHash** = per-token hash bits → weighted bit-majority per doc
  (one groupBy), 64-bit signature; candidate pairs by Hamming
  distance. The brute pair scan here is for the oracle-checkable
  small path; at scale you'd block on signature prefixes (same LSH
  pattern as above).
* **Persisted bucketed band index** (continuous ingest): the corpus'
  (band, hash) index written ``bucketBy(8)`` once means each batch
  probe shuffles only the BATCH side. Measured (bench.py r6, 5-run
  medians): probe-only 0.791 s vs 1.378 s for the unbucketed
  end-to-end at sf0.1 (0.57×), and 1.250 s vs 2.864 s at the 10×
  scaled point (0.44×) — the gap is the index build+shuffle the
  steady state never re-pays, and it widens with corpus size
  because the probe cost tracks the BATCH, not the corpus. See
  ``queries/ingestion.py::bucketed_index_build/_probe``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def normalize_text(col) -> F.Column:
    """Canonical form for exact dedup: lowercase, collapse whitespace."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_replace(F.trim(F.lower(c)), r"\s+", " ")


def exact_dedup_groups(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Group identical (normalized) texts: keeper = min id, group size.

    Returns (content_hash, keeper_id, n_dupes). One shuffle on the
    128-bit content hash — uniform by construction, no skew.
    """
    return (
        df.select(F.md5(normalize_text(text_col)).alias("content_hash"), F.col(id_col))
        .groupBy("content_hash")
        .agg(
            F.min(id_col).alias("keeper_id"),
            (F.count(F.lit(1)) - 1).alias("n_dupes"),
        )
    )


def fan_out(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Round-robin repartition a NARROW small input so downstream
    per-row heavy compute (md5-per-gram, simhash bit spread) uses every
    core. A single small parquet file scans as ONE task, and a narrow
    HOF pipeline inherits that — the shuffle this adds moves only the
    raw rows (tiny) and buys full parallelism. On a real cluster with
    many input splits this is a near-no-op safeguard; never apply it to
    large fact tables (their split count already saturates the
    executors, and the extra exchange would move the whole table).
    """
    target = min_partitions or df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target)


def gram_array(text_col, n: int = 8):
    """Per-row array of DISTINCT character n-grams — a narrow
    (shuffle-free) higher-order-function pipeline: sequence →
    transform(substr) → array_distinct, all inside one projection.
    Guarded for texts shorter than n (Spark's sequence(1, x) DESCENDS
    when x < 1, which would emit garbage grams).
    """
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    grams = F.transform(
        F.sequence(F.lit(1), F.length(c) - (n - 1)),
        lambda i: c.substr(i, F.lit(n)),
    )
    return F.when(F.length(c) >= n, F.array_distinct(grams)).otherwise(
        F.array().cast("array<string>")
    )


def char_ngrams(df: DataFrame, text_col: str, id_col: str, n: int = 8) -> DataFrame:
    """Distinct character n-grams per document: (id, g).

    Per-doc dedup happens IN-ROW via array_distinct before the
    explode, so this plan has no shuffle at all — the old formulation
    (explode raw grams → global .distinct()) shuffled the entire gram
    stream just to collapse per-doc repeats (measured: the distinct
    exchange dominated dedup_minhash_lsh wall-clock at sf0.1).
    """
    return df.select(
        F.col(id_col), F.explode(gram_array(text_col, n)).alias("g")
    )


#: Deterministic 60-bit xor-permutation constants (golden-ratio odd
#: multiples, masked to the hash width) — engine-portable integers.
XOR_CONSTS = [(0x9E3779B97F4A7C15 * (h + 1)) & ((1 << 60) - 1) for h in range(64)]


def minhash_signatures(
    grams: DataFrame, id_col: str, num_hashes: int = 8, hash_fn: str = "md5"
) -> DataFrame:
    """H min-hashes per doc: mh_h = MIN((hash_60(g)) XOR c_h).

    One hash per gram (the dominant cost — measured 3.5x faster than
    one hash per gram PER HASH), lifted into a 60-bit integer; the H
    "permutations" are xor by fixed constants, which is a bijection on
    [0, 2^60) and keeps every minimum inside native-long HashAggregate.
    Xor-permutations are not min-wise independent (slightly biased
    Jaccard estimator vs true random permutations) — acceptable for
    candidate generation because verified_near_dups re-checks exact
    Jaccard downstream. min() is duplicate-insensitive, so the gram
    feed needn't be distinct (Catalyst removes the distinct anyway).
    """
    pre = grams.select(F.col(id_col), gram_hash(F.col("g"), hash_fn).alias("_x"))
    aggs = [
        F.min(F.expr(f"_x ^ {XOR_CONSTS[h]}")).alias(f"mh{h}")
        for h in range(num_hashes)
    ]
    return pre.groupBy(id_col).agg(*aggs)


def gram_hash(g: F.Column, hash_fn: str = "md5") -> F.Column:
    """Lift one gram to a 60-bit non-negative long.

    ``md5`` (default): first 15 hex chars → integer — reproducible in
    the DuckDB oracle, which is why it anchors every oracled query.
    ``xxhash64``: Spark's native 64-bit hash masked to 60 bits — one
    JVM intrinsic instead of digest + hex + string→int conversion; the
    production fast path (benched as ``dedup_minhash_xxhash``), not
    reproducible in SQL so its queries get rows-only driver checks.
    Measured (sf0.1 documents, local[32], 7-run median of the isolated
    signature stage): xxhash64 1.90 s vs md5 2.78 s — **1.47× faster**
    where the hash actually runs; at 8× the corpus the gap widens to
    1.53× (13.44 s vs 20.62 s, 5-run medians — see SCALE.md). The END-TO-END ``dedup_minhash_lsh``
    pipeline shows only ~10% because the band-bucket join downstream
    dominates at this SF; at 100 TB the signature stage scales with
    total gram count (every byte of every doc) while the bucket join
    scales with #docs, so the 1.47× stage win is the one that matters.
    Both land in [0, 2^60), so the xor-permutation constants and the
    min-aggregation downstream are shared unchanged.
    """
    if hash_fn == "md5":
        return F.conv(F.substring(F.md5(g), 1, 15), 16, 10).cast("long")
    if hash_fn == "xxhash64":
        return F.xxhash64(g).bitwiseAND(F.lit((1 << 60) - 1))
    raise ValueError(f"unknown hash_fn {hash_fn!r} (md5 | xxhash64)")


def minhash_signatures_text(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 8,
    num_hashes: int = 8,
    hash_fn: str = "md5",
) -> DataFrame:
    """Narrow-path minhash: signatures straight from the text column.

    Grams are generated AND hashed inside one array ``transform`` (one
    hash per gram occurrence, evaluated once per row), exploded, then
    min-aggregated. The only shuffle is the final groupBy(id), and its
    input is already partially aggregated map-side to H longs per doc —
    versus the grams-relation formulation which shuffles the raw gram
    stream through a global distinct first. Same signatures as
    ``minhash_signatures`` (min is duplicate-insensitive, so skipping
    per-doc dedup changes nothing). ``hash_fn`` picks the gram hash:
    md5 (default, oracle-reproducible) or xxhash64 (production fast
    path) — see ``gram_hash``.
    """
    hx = F.transform(
        gram_array(text_col, n), lambda g: gram_hash(g, hash_fn)
    )
    pre = df.select(F.col(id_col), F.explode(hx).alias("_x"))
    aggs = [
        F.min(F.col("_x").bitwiseXOR(F.lit(XOR_CONSTS[h]))).alias(f"mh{h}")
        for h in range(num_hashes)
    ]
    return pre.groupBy(id_col).agg(*aggs)


def text_content_key(col) -> F.Column:
    """Composite content key for DISTINCT-text collapsing:
    ``struct(xxhash64(text), xxhash64(reverse(text)), length(text))`` —
    two JVM hash intrinsics plus a length guard (128 hash bits, ~138
    with the length) instead of an md5 digest + hex per full text,
    which was itself a scan-wide hash pass on both sides of the
    canonical signing (guide §2.3 narrower keys). One 64-bit hash and
    the length (~74 bits) are too few for a key that must never merge
    two distinct texts at billions of rows (a merged pair loses one
    text's signature); the reversed text gives a second 64-bit hash of
    the same bytes. The key is INTERNAL — it groups exact copies and is
    dropped before any output — so the hash choice is invisible to the
    oracles. NULL text yields a NULL key (top-level null struct),
    mirroring ``md5(NULL)``: null-keyed rows never match an
    (inner/semi) join-back."""
    c = F.col(col) if isinstance(col, str) else col
    return F.when(
        c.isNotNull(),
        F.struct(
            F.xxhash64(c).alias("h"),
            F.xxhash64(F.reverse(c)).alias("r"),
            F.length(c).alias("l"),
        ),
    )


def minhash_signatures_text_canonical(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 8,
    num_hashes: int = 8,
    hash_fn: str = "md5",
) -> DataFrame:
    """``minhash_signatures_text`` with exact-duplicate texts
    collapsed FIRST: the signature is a pure function of the text, so
    each DISTINCT text is signed once and the signatures are joined
    back to ids by the content key (``text_content_key``: two xxhash64
    intrinsics + length instead of an md5 digest) —
    identical (id, mh*) rows, the gram-hash stage (the dominant cost:
    ~len(text) md5s per text) paid once per distinct text instead of
    once per copy.

    Trade-off (guide §2.3 shuffle-fewer-bytes vs compute): this adds
    one exchange of the text bytes (the content-hash distinct) and a
    signatures join-back (8 longs + ids). On a corpus with duplicate
    mass — the regime every dedup pipeline here exists for, and
    bench.py's K×-replica scaled corpus by construction — the saved
    gram hashing dwarfs both (measured: see OPTIMIZATION_r15.md). On
    an already-unique corpus it wastes one text shuffle; callers that
    KNOW their input is unique should keep ``minhash_signatures_text``.
    """
    th = text_content_key(text_col).alias("_th")
    keyed = df.select(F.col(id_col), th)
    # ONE pinned-width exchange does both dedup and spread: an
    # explicit hash repartition on the content hash is not coalesced
    # by AQE (unlike the ENSURE_REQUIREMENTS exchange a bare
    # dropDuplicates gets, which AQE shrinks toward one partition on
    # small inputs — single-threading the gram-hash stage, the same
    # choke the crawl pipeline hit), and the dropDuplicates groupBy
    # reuses the partitioning (same key) without a second shuffle.
    texts = (
        df.select(th, F.col(text_col))
        .repartition(
            df.sparkSession.sparkContext.defaultParallelism, F.col("_th")
        )
        .dropDuplicates(["_th"])
    )
    sigs_t = minhash_signatures_text(
        texts, text_col, "_th", n=n, num_hashes=num_hashes, hash_fn=hash_fn
    )
    return keyed.join(sigs_t, "_th").drop("_th")


def minhash_signatures_inrow(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 8,
    num_hashes: int = 8,
    hash_fn: str = "md5",
    keep: list | None = None,
) -> DataFrame:
    """Zero-shuffle minhash: the whole signature is computed INSIDE
    one row (``array_min`` over the per-row gram-hash array), no
    explode, no groupBy. Produces byte-identical signatures to
    ``minhash_signatures_text`` (min over the same multiset), pinned
    by a property test.

    Trade-off vs the explode+groupBy formulation: this one is a pure
    projection — usable in a STATELESS streaming query (no streaming
    aggregation state) and free of even the map-side-combined shuffle
    — but it holds each row's whole gram-hash array in memory at once,
    so the explode path remains preferable for pathologically long
    single documents. ``keep`` lists extra columns to carry through
    (default: all original columns).

    NOTE: the xor lambda must stay UNARY — pyspark treats a 2-arg HOF
    lambda as (element, index), which would silently xor with the
    array index instead of the permutation constant.
    """
    hx = F.transform(gram_array(text_col, n), lambda g: gram_hash(g, hash_fn))
    out = df.withColumn("_hx", hx)

    def xor_min(const: int) -> F.Column:
        return F.array_min(
            F.transform(F.col("_hx"), lambda x: x.bitwiseXOR(F.lit(const)))
        )

    for h in range(num_hashes):
        out = out.withColumn(f"mh{h}", xor_min(XOR_CONSTS[h]))
    cols = keep if keep is not None else [c for c in df.columns]
    return out.select(*cols, *[f"mh{h}" for h in range(num_hashes)])


def banded_hashes(
    sigs: DataFrame, num_hashes: int = 8, bands: int = 2
) -> list[F.Column]:
    """The per-band hash expressions (same convention as ``_banded``:
    md5 of the concatenated band signature values) as plain columns —
    for callers that need band hashes IN-ROW (streaming ingest probes)
    rather than exploded to (id, band) rows."""
    r = num_hashes // bands
    return [
        F.md5(F.concat(*[F.col(f"mh{b * r + i}") for i in range(r)])).alias(
            f"band_hash{b}"
        )
        for b in range(bands)
    ]


def banded_rows_inrow(
    sigs: DataFrame,
    id_col: str,
    num_hashes: int = 8,
    bands: int = 2,
    keep: list | None = None,
) -> DataFrame:
    """Melt a signature frame's IN-ROW band hashes (``banded_hashes``
    columns) into (id, band_id, band_hash) rows — the probe-side twin
    of ``_banded`` for frames whose signatures were computed with
    ``minhash_signatures_inrow`` (streaming ingest probes, batch
    screening, chunk-level dedup). ``keep`` lists extra columns to
    carry through. One in-row explode; no shuffle."""
    bh = banded_hashes(sigs, num_hashes=num_hashes, bands=bands)
    extra = keep or []
    melted = sigs.select(id_col, *extra, *bh).select(
        id_col,
        *extra,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_id"),
                        F.col(f"band_hash{b}").alias("band_hash"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("_bnd"),
    )
    return melted.select(
        id_col, *extra, "_bnd.band_id", "_bnd.band_hash"
    )


def _banded(sigs: DataFrame, id_col: str, num_hashes: int, bands: int) -> DataFrame:
    """(id, band_id, band_hash) — one row per (doc, band). The band
    hash concatenates the band's r minhash values; its cardinality is
    ≈ #docs, so the downstream bucket groupBy shuffles uniformly."""
    r = num_hashes // bands
    band_cols = []
    for b in range(bands):
        parts = [F.col(f"mh{b * r + i}") for i in range(r)]
        band_cols.append(
            F.struct(F.lit(b).alias("band_id"), F.md5(F.concat(*parts)).alias("band_hash"))
        )
    return sigs.select(
        F.col(id_col), F.explode(F.array(*band_cols)).alias("bnd")
    ).select(id_col, "bnd.band_id", "bnd.band_hash")


def lsh_candidate_pairs(
    sigs: DataFrame,
    id_col: str,
    num_hashes: int = 8,
    bands: int = 2,
    max_bucket: int = 256,
    observation=None,
) -> DataFrame:
    """Band the signature (r = H/bands rows per band), bucket by band
    value, and generate pairs WITHIN each bucket — with the expansion
    CAPPED at ``max_bucket`` members per bucket.

    Returns (doc_a, doc_b, n_shared_bands) with doc_a < doc_b. The
    bucket-groupBy formulation computes the (expensive) signature
    pipeline ONCE — a band-value self-join would re-evaluate the whole
    shingle→minhash lineage for each join side (2× the dominant cost;
    measured 2× wall-clock at sf0.1). Collision probability for
    Jaccard j is 1-(1-j^r)^b — with H=8, b=2, r=4: j=0.98 → 0.996
    recall, j=0.03 → ~2e-6 false-candidate rate.

    Overflow routing: a bucket with more than ``max_bucket`` members
    means a near-identical boilerplate cluster (a band collision at
    that multiplicity is astronomically unlikely for genuinely
    distinct docs). All-pairs there would be O(n²) inside ONE task —
    the 100 TB scale killer. Instead those buckets emit star pairs
    (min-id keeper, member): O(n), same connected component under the
    downstream clustering, and the keeper choice matches
    ``exact_dedup_groups``'s min-id convention. The CASE lives inside
    one projection, so the plan stays a single aggregate + expansion
    pass (no second lineage evaluation). Use ``lsh_bucket_stats`` to
    audit overflow counts without collecting ids at all.

    ``observation``: an optional ``pyspark.sql.Observation``. When
    given, the same bucket-size audit that ``lsh_bucket_stats``
    computes (n_buckets / n_colliding_buckets / n_overflow_buckets /
    max_bucket_size) is attached via ``DataFrame.observe`` to the
    bucket aggregate INSIDE this plan — the stats ride the pass that
    produces the pairs, instead of re-running the whole
    shingle→minhash→band lineage a second time as a separate
    pre-flight job. Read the metrics after acting on the returned
    DataFrame via ``plans.observe.observed_metrics`` (tolerates the
    zero-row-input corner where AQE collapses the subtree and the raw
    ``Observation.get`` raises on Spark's empty metrics row).
    Standalone ``lsh_bucket_stats`` remains the right tool when you
    want the audit BEFORE committing to the expansion at all.

    BOUNDED STATE (round 9): no unbounded per-bucket array exists
    anywhere in this plan. The earlier formulation aggregated
    ``collect_set(id)`` per (band, hash) FIRST and CASE-routed
    afterwards — the overflow branch's pair *output* was O(n), but the
    aggregate still materialized every member id of a flood bucket in
    ONE array in ONE task (10⁸ boilerplate copies → a multi-GB row).
    Now a window over the bucket key annotates each banded row with
    its bucket size and keeper (min id) first, and rows are routed to
    per-bucket subgroups BEFORE any array forms: small buckets
    (n ≤ max_bucket) keep one subgroup — their collected array is ≤
    max_bucket by construction — while every member of an overflow
    bucket becomes its OWN single-row subgroup, already knowing its
    keeper, so the star pair falls out of a 1-element array. One
    exchange total: the window's hash partitioning on (band_id,
    band_hash) satisfies the subgroup aggregate's clustering (subset
    key), so the groupBy re-uses it (plan-pinned).
    """
    banded = _banded(sigs, id_col, num_hashes, bands)
    w = Window.partitionBy("band_id", "band_hash")
    routed = banded.select(
        "band_id",
        "band_hash",
        F.col(id_col).alias("_id"),
        F.count(F.lit(1)).over(w).alias("_n"),
        F.min(id_col).over(w).alias("_keeper"),
    ).withColumn(
        # small bucket → one NULL subgroup (nulls group together);
        # overflow bucket → one subgroup PER MEMBER (no array ever
        # holds more than max_bucket ids). n is bucket-constant, so
        # the two regimes never mix within a (band_id, band_hash).
        "_sub",
        F.when(F.col("_n") <= int(max_bucket), F.lit(None)).otherwise(
            F.col("_id")
        ),
    )
    buckets = routed.groupBy("band_id", "band_hash", "_sub").agg(
        F.first("_n").alias("n"),
        F.first("_keeper").alias("keeper"),
        F.sort_array(F.collect_set("_id")).alias("ids"),
    )
    if observation is not None:
        # Same definitions as lsh_bucket_stats. An overflow bucket now
        # spans several subgroup rows — count it once via its keeper's
        # row (ids = [keeper] there); small buckets are one row each.
        # Must observe BEFORE the n > 1 filter so n_buckets counts
        # singleton buckets too.
        is_bucket_row = (F.col("n") <= int(max_bucket)) | (
            F.element_at("ids", 1) == F.col("keeper")
        )
        is_overflow = F.col("n") > int(max_bucket)
        buckets = buckets.observe(
            observation,
            F.sum(is_bucket_row.cast("long")).alias("n_buckets"),
            F.sum((is_bucket_row & (F.col("n") > 1)).cast("long")).alias(
                "n_colliding_buckets"
            ),
            F.sum((is_bucket_row & is_overflow).cast("long")).alias(
                "n_overflow_buckets"
            ),
            F.max("n").alias("max_bucket_size"),
        )
    buckets = buckets.where(F.col("n") > 1)
    all_pairs = (
        "flatten(transform(ids, (x, i) ->"
        " transform(slice(ids, i + 2, size(ids) - i - 1),"
        " y -> struct(x AS doc_a, y AS doc_b))))"
    )
    # overflow subgroups hold exactly one member: its star pair
    # against the bucket keeper (the keeper's own subgroup filters out)
    star_pairs = (
        "filter(transform(ids, y -> struct(keeper AS doc_a, y AS doc_b)),"
        " p -> p.doc_b != p.doc_a)"
    )
    pairs = buckets.select(
        F.explode(
            F.expr(
                f"CASE WHEN n <= {int(max_bucket)} THEN {all_pairs}"
                f" ELSE {star_pairs} END"
            )
        ).alias("p")
    )
    return pairs.groupBy("p.doc_a", "p.doc_b").agg(
        F.count(F.lit(1)).alias("n_shared_bands")
    )


def lsh_bucket_stats(
    sigs: DataFrame,
    id_col: str,
    num_hashes: int = 8,
    bands: int = 2,
    max_bucket: int = 256,
) -> DataFrame:
    """One-row audit of the LSH bucket-size distribution: (n_buckets,
    n_colliding_buckets, n_overflow_buckets, max_bucket_size).

    Count-only aggregate — fully map-side combinable, never collects
    an id list — so it is safe to run as a pre-flight check on the
    full 100 TB corpus before the pair expansion, and it surfaces how
    many buckets ``lsh_candidate_pairs`` will route to the star-pair
    overflow path.
    """
    counts = (
        _banded(sigs, id_col, num_hashes, bands)
        .groupBy("band_id", "band_hash")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return counts.agg(
        F.count(F.lit(1)).alias("n_buckets"),
        F.sum((F.col("n") > 1).cast("long")).alias("n_colliding_buckets"),
        F.sum((F.col("n") > max_bucket).cast("long")).alias("n_overflow_buckets"),
        F.max("n").alias("max_bucket_size"),
    )


def verified_near_dups(
    grams: DataFrame, candidates: DataFrame, id_col: str, threshold: float = 0.9
) -> DataFrame:
    """Exact Jaccard over n-gram sets, computed ONLY for candidates.

    (candidates ⋈ grams) twice → per-pair intersection count; union
    sizes come from per-doc gram counts (broadcastable map). Returns
    (doc_a, doc_b, jaccard) filtered to >= threshold. The candidate
    list is broadcast: LSH's contract is that candidates ≪ corpus, so
    hinting it spares the gram stream a shuffle by doc_a.
    """
    sizes = grams.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_grams"))
    ga = grams.select(F.col(id_col).alias("doc_a"), F.col("g"))
    gb = grams.select(F.col(id_col).alias("doc_b"), F.col("g"))
    inter = (
        F.broadcast(candidates).join(ga, "doc_a")
        .join(gb, ["doc_b", "g"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa = sizes.select(F.col(id_col).alias("doc_a"), F.col("n_grams").alias("n_a"))
    sb = sizes.select(F.col(id_col).alias("doc_b"), F.col("n_grams").alias("n_b"))
    return (
        inter.join(F.broadcast(sa), "doc_a")
        .join(F.broadcast(sb), "doc_b")
        .select(
            "doc_a",
            "doc_b",
            (
                F.col("n_inter").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("n_inter"))
            ).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )


def simhash_signatures(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """60-bit SimHash per document from word-level md5 hashes.

    Portable construction: token hash = first 15 hex chars of md5
    (60 bits, fits signed 64); bit j of the signature is the majority
    vote of token-hash bit j weighted by token frequency.

    Fused in-row build: one projection folds the token-hash array into
    a 60-counter vote vector and packs the majority bits — all inside
    whole-stage codegen via higher-order functions. ZERO shuffle and
    zero row expansion (the earlier formulation exploded words × 60
    bit positions, a 60× stage-input multiplier that dominates at
    100 TB). Docs with no tokens are dropped, matching the exploded
    formulation (they produced no rows).
    """
    tokens = (
        f"transform(filter(split({text_col}, ' '), w -> length(w) > 0),"
        f" w -> cast(conv(substring(md5(w), 1, 15), 16, 10) as bigint))"
    )
    votes = (
        f"aggregate({tokens}, array_repeat(cast(0 as bigint), 60),"
        f" (acc, h) -> zip_with(acc, sequence(0, 59),"
        f"  (a, j) -> a + cast((shiftright(h, j) & 1) * 2 - 1 as bigint)))"
    )
    pack = (
        f"aggregate(zip_with({votes}, sequence(0, 59),"
        f"  (s, j) -> if(s > 0, shiftleft(cast(1 as bigint), j),"
        f"            cast(0 as bigint))),"
        f" cast(0 as bigint), (a, x) -> a + x)"
    )
    return df.where(F.expr(f"size({tokens}) > 0")).select(
        F.col(id_col), F.expr(pack).alias("simhash")
    )


#: Task-memory ceiling for the auto-sized chunk-bucket cap: a bucket
#: at this depth expands to ~8192²/2 ≈ 34M pair structs (~800 MB) in
#: ONE routed-subgroup row — the largest single-task array we accept.
_SIMHASH_MAX_BUCKET_CEILING = 8192


def simhash_near_pairs(
    sigs: DataFrame,
    id_col: str,
    max_hamming: int = 10,
    max_bucket: int | None = None,
    observation=None,
) -> DataFrame:
    """Pairs with Hamming(simhash) <= max_hamming (doc_a < doc_b).

    Chunk blocking with a pigeonhole guarantee: the 60-bit signature
    splits into ``max_hamming + 1`` chunks, and any pair within the
    Hamming budget must agree on at least one whole chunk — so
    bucketing on (chunk_id, chunk_value) loses NOTHING while cutting
    the candidate space from O(n²) to colliding buckets only. Pair
    generation happens inside each bucket (routed-subgroup expansion,
    one pipeline pass — see lsh_candidate_pairs); the exact Hamming
    filter then runs on candidates alone.

    Buckets larger than ``max_bucket`` (boilerplate clusters) route to
    star pairs against the bucket's min-id member instead of all-pairs
    — same O(n)-not-O(n²) overflow guard as ``lsh_candidate_pairs``,
    and the same BOUNDED-STATE formulation: a window annotates each
    (doc, chunk) row with its bucket size and keeper first, overflow
    members become single-row subgroups, and no per-bucket array ever
    exceeds ``max_bucket`` entries. Members still pass the exact
    Hamming check against that keeper.

    CAUTION — star routing TRADES AWAY the pigeonhole exactness inside
    overflow buckets: members pair only with the keeper, so two
    non-keeper members within the Hamming budget are NOT emitted as a
    pair (they remain transitively connected through the keeper only
    if both pass the keeper check). The r8 sf0.1 replay caught exactly
    this silently (a 549-deep chunk bucket star-routed 24 true pairs
    past a 256 cap). Pass ``observation`` to detect the trade at
    runtime: the chunk-bucket audit (n_buckets / n_colliding_buckets /
    n_overflow_buckets / max_bucket_size) rides the pair-producing
    pass via ``DataFrame.observe`` — ``n_overflow_buckets > 0`` means
    the exactness guarantee was forfeited and ``max_bucket`` needs
    raising (or the corpus needs an exact-dup collapse first). Read
    via ``plans.observe.observed_metrics`` after acting on the result.

    ``max_bucket=None`` (default) AUTO-SIZES from the corpus count —
    min(count, 8192) — so a default caller keeps pigeonhole exactness
    for any bucket depth up to the whole corpus or the task-memory
    ceiling, whichever is smaller (the r8 incident: a 549-deep bucket
    silently star-routed 24 true pairs past the old literal-256
    default; the kNN-graph count-based dial is the precedent). Costs
    one count pass over the signature frame; callers that know their
    corpus pass an explicit cap and skip it.
    """
    if max_bucket is None:
        max_bucket = max(min(sigs.count(), _SIMHASH_MAX_BUCKET_CEILING), 256)
    n_chunks = max_hamming + 1
    # even bit split (no empty chunk may exist, or it buckets everything)
    bounds = [60 * c // n_chunks for c in range(n_chunks + 1)]
    chunks = F.array(
        *[
            F.struct(
                F.lit(c).alias("chunk_id"),
                F.expr(
                    f"shiftright(simhash, {bounds[c]})"
                    f" & {(1 << (bounds[c + 1] - bounds[c])) - 1}"
                ).alias("chunk_val"),
            )
            for c in range(n_chunks)
        ]
    )
    exploded = sigs.select(
        F.col(id_col), F.col("simhash"), F.explode(chunks).alias("ch")
    ).select(id_col, "simhash", "ch.chunk_id", "ch.chunk_val")
    w = Window.partitionBy("chunk_id", "chunk_val")
    member = F.struct(F.col(id_col).alias("id"), F.col("simhash"))
    routed = exploded.select(
        "chunk_id",
        "chunk_val",
        member.alias("_m"),
        F.count(F.lit(1)).over(w).alias("_n"),
        # struct min orders by leading field = id → the min-id member
        F.min(member).over(w).alias("_keeper"),
    ).withColumn(
        "_sub",
        F.when(F.col("_n") <= int(max_bucket), F.lit(None)).otherwise(
            F.col("_m.id")
        ),
    )
    buckets = routed.groupBy("chunk_id", "chunk_val", "_sub").agg(
        F.first("_n").alias("n"),
        F.first("_keeper").alias("keeper"),
        F.sort_array(F.collect_set("_m")).alias("members"),
    )
    if observation is not None:
        is_bucket_row = (F.col("n") <= int(max_bucket)) | (
            F.element_at("members", 1)["id"] == F.col("keeper.id")
        )
        is_overflow = F.col("n") > int(max_bucket)
        buckets = buckets.observe(
            observation,
            F.sum(is_bucket_row.cast("long")).alias("n_buckets"),
            F.sum((is_bucket_row & (F.col("n") > 1)).cast("long")).alias(
                "n_colliding_buckets"
            ),
            F.sum((is_bucket_row & is_overflow).cast("long")).alias(
                "n_overflow_buckets"
            ),
            F.max("n").alias("max_bucket_size"),
        )
    buckets = buckets.where(F.col("n") > 1)
    # hamming computed INSIDE the expansion: the multi-chunk distinct
    # then dedups (doc_a, doc_b, hamming) — 3 narrow columns instead
    # of carrying both 64-bit signatures through the exchange
    all_pairs = (
        "flatten(transform(members, (x, i) ->"
        " transform(slice(members, i + 2, size(members) - i - 1),"
        " y -> struct(x.id AS doc_a, y.id AS doc_b,"
        " cast(bit_count(x.simhash ^ y.simhash) AS INT) AS hamming))))"
    )
    star_pairs = (
        "filter(transform(members,"
        " y -> struct(keeper.id AS doc_a, y.id AS doc_b,"
        " cast(bit_count(keeper.simhash ^ y.simhash) AS INT) AS hamming)),"
        " p -> p.doc_b != p.doc_a)"
    )
    pairs = buckets.select(
        F.explode(
            F.expr(
                f"CASE WHEN n <= {int(max_bucket)} THEN {all_pairs}"
                f" ELSE {star_pairs} END"
            )
        ).alias("p")
    ).select("p.*").distinct()  # a pair may collide in several chunks
    return pairs.where(F.col("hamming") <= max_hamming)


def substring_span_stats(
    docs: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 32,
    stride: int = 8,
) -> DataFrame:
    """Per-document cross-corpus repeated-substring statistics — the
    exact-substring dedup signal of Lee et al. 2022 ("Deduplicating
    Training Data Makes Language Models Better"), adapted to sampled
    char-``k``-grams: a sampled position is *duplicated* when the same
    ``k``-char window occurs in at least one OTHER document.

    Returns (id_col, n_grams, n_dup_grams): total sampled windows and
    how many of them are cross-document duplicates. Downstream callers
    turn this into span-coverage ratios or trimming decisions.

    Scale shape (100 TB):
    - Window extraction is IN-ROW (``sequence`` + ``transform`` +
      ``posexplode``) — no shuffle, no Python; stride bounds the gram
      stream to len(text)/stride rows per doc.
    - Document frequency is a two-phase groupBy on the gram (distinct
      (gram, doc) map-side, then counts) — the standard df-gate, never
      all-pairs.
    - The dup-flag join back onto the gram stream is one row per gram
      on the build side, so join output == probe input: a boilerplate
      gram shared by a million docs adds NO fan-out (contrast pair
      enumeration, which is quadratic there).
    - Per-doc rollup is a map-side-combined groupBy on the doc id.
    Three shuffles total, all key-uniform except the gram df-count,
    where AQE's skew split handles pathological single-gram mass.
    """
    grams = (
        docs.where(F.length(text_col) >= k)
        .select(
            F.col(id_col),
            F.explode(
                F.expr(
                    f"transform(sequence(1, length({text_col}) - {k - 1},"
                    f" {stride}), p -> substring({text_col}, p, {k}))"
                )
            ).alias("gram"),
        )
    )
    # document frequency per gram, duplicated = seen in >= 2 docs
    df_counts = (
        grams.select(id_col, "gram")
        .distinct()
        .groupBy("gram")
        .agg(F.count(F.lit(1)).alias("df"))
    )
    flagged = grams.join(
        df_counts.select("gram", (F.col("df") >= 2).alias("is_dup")), "gram"
    )
    return flagged.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_grams"),
        F.sum(F.col("is_dup").cast("long")).alias("n_dup_grams"),
    )

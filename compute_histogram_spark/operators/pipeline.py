"""Training-data pipeline primitives: deterministic splits, per-group
caps, and token-window chunking over the documents table.

These are the corpus-engineering steps between "deduped documents" and
"training batches"; all three are single-pass, shuffle-minimal, and
cross-engine deterministic:

- **split_assign**: hash-based train/valid/test assignment. The split is a
  pure function of the stable document id (md5 — portable, so the DuckDB
  oracle reproduces it bit-for-bit), NOT rand(): re-running the pipeline,
  adding machines, or retrying tasks can never move a document across
  splits (leakage-by-nondeterminism is the classic eval bug). Map-only —
  no shuffle at all.
- **cap_per_group**: bound each group's row count (language/source
  rebalancing). row_number over (group, deterministic order) keeps the
  FIRST ``cap`` docs per group — one shuffle on the group key; at scale the
  window is per-group-partial thanks to WindowGroupLimit pushdown (rank
  filter recognized by Catalyst).
- **chunk_documents**: explode each document into fixed-size token windows
  with overlap (sequence packing for context-length training). Pure
  integer window math + ``posexplode(sequence(...))`` — the output row
  count is exactly ``ceil((n_tokens - overlap) / stride)`` per doc and
  every boundary is integer-derived, so the oracle matches value-exact.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

SPLITS = ("train", "valid", "test")


def split_bucket(
    id_col: str = "doc_id", buckets: int = 100, salt: str = ""
) -> Column:
    """Deterministic [0, buckets) bucket from md5 of (salt || id) — the
    first 8 hex chars as an integer, mod buckets. Portable to any engine.

    ``salt`` decorrelates independent decisions made from the same id:
    every hash-gated pipeline step (split assignment, mix sampling, ...)
    MUST use a distinct salt, otherwise the decisions are perfectly
    correlated (e.g. a 0.5-rate mix with the unsalted split hash would keep
    exactly the bucket<50 docs — all of them 'train', starving eval splits).
    """
    key = F.concat(F.lit(salt), F.col(id_col).cast("string"))
    return F.conv(F.substring(F.md5(key), 1, 8), 16, 10).cast("bigint") % buckets


def split_assign(
    docs: DataFrame,
    train_pct: int = 80,
    valid_pct: int = 10,
    id_col: str = "doc_id",
) -> DataFrame:
    """-> input + ``split`` column ('train'/'valid'/'test'); map-only."""
    b = split_bucket(id_col)
    return docs.withColumn(
        "split",
        F.when(b < train_pct, SPLITS[0])
        .when(b < train_pct + valid_pct, SPLITS[1])
        .otherwise(SPLITS[2]),
    )


def cap_per_group(
    docs: DataFrame,
    group_col: str = "lang",
    cap: int = 50,
    order_col: str = "doc_id",
) -> DataFrame:
    """Keep at most ``cap`` rows per group, by ascending ``order_col``
    (deterministic — never rand()-sampled, so reruns agree)."""
    w = Window.partitionBy(group_col).orderBy(F.asc(order_col))
    return (
        docs.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= cap)
        .drop("rn")
    )


def chunk_documents(
    docs: DataFrame,
    chunk_tokens: int = 64,
    overlap: int = 16,
    text_col: str = "text",
) -> DataFrame:
    """Explode docs into overlapping token windows.

    -> (doc_id, chunk_id, start_tok, n_chunk_tokens, chunk_text). Windows
    start every ``chunk_tokens - overlap`` tokens; the last window is
    short rather than padded. Token = single-space split (the corpus
    convention shared with operators/text.py).
    """
    if not 0 <= overlap < chunk_tokens:
        raise ValueError(f"need 0 <= overlap < chunk_tokens, got {overlap}")
    stride = chunk_tokens - overlap
    toks = F.split(F.col(text_col), " ")
    n = F.size(toks)
    # number of windows covering [0, n) with the given stride: at least 1,
    # then one per full stride past the first chunk
    n_chunks = F.greatest(
        F.lit(1),
        F.ceil((n - F.lit(chunk_tokens)) / F.lit(stride)).cast("int") + 1,
    )
    c = docs.select(
        "doc_id",
        toks.alias("toks"),
        n.alias("n_toks"),
        F.posexplode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_id", "_i"),
    )
    start = F.col("chunk_id") * stride
    return c.select(
        "doc_id",
        F.col("chunk_id").cast("int").alias("chunk_id"),
        start.cast("int").alias("start_tok"),
        F.least(F.lit(chunk_tokens), F.col("n_toks") - start)
        .cast("int")
        .alias("n_chunk_tokens"),
        F.concat_ws(
            " ", F.slice("toks", start + 1, F.lit(chunk_tokens))
        ).alias("chunk_text"),
    )


def pack_shards(
    docs: DataFrame,
    tokens_per_shard: int = 4096,
    n_buckets: int = 32,
    text_col: str = "text",
) -> DataFrame:
    """Sequence packing: assign every document to a fixed-token-budget
    training shard via a GLOBAL running token total in deterministic hash
    order (a doc belongs to the shard its first token lands in).

    The running total is a distributed two-phase prefix sum — the textbook
    scan algorithm, relationally:

    1. **bucket** rows by the leading byte of the md5 order key. The key is
       uniform, so the ``n_buckets`` fixed prefix ranges are balanced, and
       bucket id is MONOTONE in key order — concatenating buckets in id
       order is exactly the global order.
    2. **local cumsum** per bucket: one window per bucket, all buckets in
       parallel. This is the step that replaces the naive single-partition
       global window (the scale-killer: ORDER BY over 100 TB on one task).
    3. **offsets**: per-bucket totals — ``n_buckets`` rows — collect,
       exclusive-scan on the driver (microseconds), broadcast-join back.

    Only step 3 touches the driver, with O(n_buckets) rows. Raise
    ``n_buckets`` with the cluster (it bounds per-window sort size at
    ~n/n_buckets); the output is invariant to it (pinned in tests).

    Every decision is integer math on md5 — rerun-stable, engine-portable,
    and order-independent, like every other hash-gated step here (the
    "pack:" salt decorrelates it from split/mix decisions per the
    distinct-salt rule).
    """
    key = F.md5(F.concat(F.lit("pack:"), F.col("doc_id").cast("string")))
    n_tok = F.size(F.split(F.col(text_col), " "))
    base = docs.select(
        "doc_id", key.alias("key"), n_tok.cast("bigint").alias("n_tok")
    )
    # leading 2 hex chars -> [0, 256); scale to n_buckets (monotone in key)
    bucket = (
        F.conv(F.substring("key", 1, 2), 16, 10).cast("int")
        * n_buckets
        / 256
    ).cast("int")
    base = base.withColumn("bkt", bucket)
    w = (
        Window.partitionBy("bkt")
        .orderBy("key", "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    local = base.withColumn("local_cum", F.sum("n_tok").over(w))
    totals = {
        r["bkt"]: r["t"]
        for r in local.groupBy("bkt").agg(F.sum("n_tok").alias("t")).collect()
    }
    running, offsets = 0, {}
    for b in sorted(totals):
        offsets[b] = running
        running += totals[b]
    spark = docs.sparkSession
    off_df = spark.createDataFrame(
        [(b, o) for b, o in offsets.items()], "bkt int, offset bigint"
    )
    start = F.col("offset") + F.col("local_cum") - F.col("n_tok")
    return (
        local.join(F.broadcast(off_df), "bkt")
        .select(
            "doc_id",
            "n_tok",
            F.floor(start / tokens_per_shard).cast("bigint").alias("shard_id"),
            start.cast("bigint").alias("start_offset"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# corpus hygiene: eval-set decontamination and PII scrubbing
# ---------------------------------------------------------------------------

# portable regexes: kept inside the syntax subset Java regex (Spark) and
# RE2 (DuckDB) interpret identically — character classes, +/{m,}, no
# backrefs, no lookaround
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
LONG_NUMBER_RE = r"[0-9]{9,}"


def contamination_report(docs: DataFrame, n: int = 3) -> DataFrame:
    """Train->test contamination: for each TEST document, how many of its
    word n-gram shingles also occur in any TRAIN document (and in how many).

    The membership test is an equi-join on md5(shingle) — digests, not
    shingle strings, are the shuffle key (32-byte keys regardless of
    shingle length), and both sides arrive hash-partitioned on the digest,
    so the join is the only data-sized shuffle. Split assignment reuses
    :func:`split_bucket` — a pure function of doc_id, so the report is
    consistent with :func:`split_assign` by construction ('valid' docs are
    in neither side).

    -> (test_doc_id, n_shared_shingles, n_train_docs)
    """
    from compute_histogram_spark.operators.dedup import shingle_table

    sh = shingle_table(docs, n=n, distinct=True).select(
        "doc_id", F.md5("s").alias("h"), split_bucket("doc_id").alias("bk")
    )
    train = sh.where(F.col("bk") < 80).select(F.col("doc_id").alias("train_doc"), "h")
    test = sh.where(F.col("bk") >= 90).select(F.col("doc_id").alias("test_doc_id"), "h")
    return (
        test.join(train, "h")
        .groupBy("test_doc_id")
        .agg(
            F.countDistinct("h").alias("n_shared_shingles"),
            F.countDistinct("train_doc").alias("n_train_docs"),
        )
        .orderBy("test_doc_id")
    )


def scrub_pii(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Redact emails and long digit runs; report per-doc match counts.

    Pure JVM-side regexp expressions (whole-stage codegen, no Python) —
    emails first, then digit runs. ``n_long_numbers`` counts matches on the
    EMAIL-REDACTED text (not the raw text) so the reported counts equal the
    number of '<NUM>' substitutions actually applied — a digit run inside
    an email address is consumed by the email pass, counted once as an
    email, never double-reported.

    -> (doc_id, n_emails, n_long_numbers, clean_md5) — the digest stands in
    for the cleaned text so downstream equality checks stay 32 bytes/row.
    """
    from compute_histogram_spark.sources.tables import range_ordered

    docs = range_ordered(docs, "doc_id")  # see range_ordered: one regex pass
    t = F.col(text_col)
    no_email = F.regexp_replace(t, EMAIL_RE, "<EMAIL>")
    clean = F.regexp_replace(no_email, LONG_NUMBER_RE, "<NUM>")
    return docs.select(
        "doc_id",
        F.size(F.regexp_extract_all(text_col, F.lit(EMAIL_RE), F.lit(0))).alias(
            "n_emails"
        ),
        F.size(
            F.regexp_extract_all(no_email, F.lit(LONG_NUMBER_RE), F.lit(0))
        ).alias("n_long_numbers"),
        F.md5(clean).alias("clean_md5"),
    ).sortWithinPartitions("doc_id")


def corpus_checksum(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Order-insensitive corpus fingerprint: SUM over rows of an integer
    derived from md5(id || ':' || content).

    The workhorse of migration/replication validation at 100 TB: addition
    is commutative/associative, so the checksum is identical under any
    partitioning, row order, or engine — two copies of a corpus compare by
    exchanging ONE row, no sort, no row-level diff. Partial aggregation
    makes the shuffle one row per partition. (A 64-bit sum over md5-derived
    values also catches duplicate-row drift, which XOR would cancel.)

    Overflow headroom: per-row values are reduced to 24 bits BEFORE the
    sum, so an int64 accumulator is exact (no ANSI overflow, no wrap
    divergence vs DuckDB's HUGEINT) up to 2^63/2^24 ~ 5.5e11 rows — two
    orders of magnitude beyond a 100 TB document corpus.

    -> (n_docs BIGINT, checksum BIGINT)
    """
    h = F.conv(
        F.substring(
            F.md5(F.concat(F.col(id_col).cast("string"), F.lit(":"), F.col(text_col))),
            1,
            6,  # 6 hex chars = 24 bits
        ),
        16,
        10,
    ).cast("bigint")
    return docs.agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum(h).alias("checksum")
    )


def mix_corpus(
    docs: DataFrame,
    rates: dict[str, float],
    default_rate: float = 1.0,
    source_col: str = "source",
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic corpus mixing: per-source sampling rates, including
    UPSAMPLING (rate > 1 emits floor(rate) copies plus a hash-selected
    fractional copy — the epoch-weighting scheme of LLM data mixtures).

    Mechanics: every doc gets ``floor(rate)`` guaranteed copies; one extra
    copy is granted iff the doc's md5 bucket (0-99, same family as
    :func:`split_bucket`) falls under the fractional part. Copies
    materialize through ``posexplode(sequence(...))`` — a map-only explode,
    no shuffle, no rand(): reruns/retries emit the identical mixture.
    Output carries ``copy_id`` so downstream shuffles can decorrelate
    repeated documents. The fractional gate hashes with a 'mix:' salt so
    sampling decisions are INDEPENDENT of train/valid/test assignment
    (which uses the unsalted hash) — without the salt, any rate < 0.8 would
    keep only bucket<80 ('train') docs and starve the eval splits.
    """
    b = split_bucket(id_col, salt="mix:")
    n_copies = F.lit(0)
    matched = F.lit(False)
    for src, rate in sorted(rates.items()):
        whole, frac = int(rate), round((rate - int(rate)) * 100)
        this = F.lit(whole) + F.when(b < frac, 1).otherwise(0)
        # eqNullSafe: a NULL source must fall through to default_rate, not
        # poison `matched` into NULL (which would silently DROP the row —
        # plain == yields NULL, ~NULL is NULL, when(NULL) skips the branch)
        n_copies = F.when(F.col(source_col).eqNullSafe(src), this).otherwise(n_copies)
        matched = matched | F.col(source_col).eqNullSafe(src)
    dw, df_ = int(default_rate), round((default_rate - int(default_rate)) * 100)
    default_copies = F.lit(dw) + F.when(b < df_, 1).otherwise(0)
    n_copies = F.when(~matched, default_copies).otherwise(n_copies)

    c = docs.withColumn("_n", n_copies).where(F.col("_n") > 0)
    return c.select(
        *[x for x in docs.columns],
        F.posexplode(F.sequence(F.lit(1), F.col("_n"))).alias("_i", "copy_id"),
    ).drop("_i")


def temperature_rates(
    docs: DataFrame,
    group_col: str = "lang",
    alpha: float = 0.5,
    target_total: int | None = None,
) -> dict[str, float]:
    """Per-group mixture rates from temperature sampling (the multilingual
    alpha-sampling of mBERT/XLM-R/mT5): sample groups proportionally to
    ``p_g^alpha`` instead of their natural share ``p_g`` — alpha=1 keeps
    the corpus as-is, alpha=0 equalizes groups, in between boosts the tail
    without flattening it. Realized as per-doc rates
    ``rate_g = q_g * target_total / n_g`` (q ∝ p^alpha, normalized), so
    head groups downsample and tail groups UPSAMPLE (rate > 1 -> epoch
    duplication, handled by :func:`mix_corpus`).

    Cost: one count aggregation; the returned dict is group-bounded
    (driver-side G floats — the same bounded-collect class as k-means
    centroids). ``target_total`` defaults to the input size."""
    counts = {
        r["g"]: r["n"]
        for r in docs.groupBy(F.col(group_col).alias("g"))
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
        # NULL-group docs take mix_corpus's default_rate (0.0 under
        # temperature_mix -> dropped); a None key would also break the
        # deterministic sorted() iteration over rates
        if r["g"] is not None
    }
    total = sum(counts.values())
    if not total:
        return {}
    if target_total is None:
        target_total = total
    weights = {g: (n / total) ** alpha for g, n in counts.items()}
    z = sum(weights.values())
    return {
        g: round(weights[g] / z * target_total / counts[g], 2)
        for g in counts
    }


def temperature_mix(
    docs: DataFrame,
    group_col: str = "lang",
    alpha: float = 0.5,
    target_total: int | None = None,
    id_col: str = "doc_id",
) -> DataFrame:
    """Temperature-resampled corpus: :func:`temperature_rates` feeding the
    deterministic :func:`mix_corpus` (hash-gated fractional copies, no
    rand(), rerun/layout-invariant). Rates quantized to 1e-2 like
    mix_corpus's fractional gate."""
    rates = temperature_rates(docs, group_col, alpha, target_total)
    return mix_corpus(
        docs, rates, default_rate=0.0, source_col=group_col, id_col=id_col
    )


# ---------------------------------------------------------------------------
# bloom-filter novelty gate for incremental ingestion
# ---------------------------------------------------------------------------


def _bloom_positions(digest_col: str, k_hashes: int, n_bits: int) -> Column:
    """k probe positions as an ARRAY<BIGINT> column — computed JVM-side
    (xxhash64 with k salts, codegen) so the Python kernels below only do
    numpy scatter/gather, never per-row hashing."""
    return F.array(
        *[
            F.pmod(
                F.xxhash64(F.concat(F.lit(f"{i}:"), F.col(digest_col))),
                F.lit(n_bits),
            )
            for i in range(k_hashes)
        ]
    )


def build_bloom(
    seen: DataFrame,
    digest_col: str = "digest",
    n_bits: int = 1 << 20,
    k_hashes: int = 5,
) -> bytes:
    """Build a bloom bitmap over a digest column, fully distributed:

    probe positions are JVM-computed columns (:func:`_bloom_positions`);
    each position becomes (word = p div 64, mask = 1 << (p mod 64)) and the
    bitmap is a ``bit_or`` aggregate over words — Catalyst runs the partial
    OR map-side, so the shuffle and the driver transfer carry at most
    n_bits/64 8-byte rows (16 K rows for the default 128 KiB filter)
    REGARDLESS of data size or partition count. (The previous shape
    collected one n_bits/8-byte bitmap per partition and OR'd on the
    driver: O(partitions x 128 KiB) — tens of GB of driver traffic at
    100 TB scale. This form is the partial/final shape of Spark's own
    ``stat.bloomFilter``, kept in DataFrame land so the bitmap can be
    probed from Python executors.) Size the filter at ~10 bits/item for
    ~1% FP at k=5 (n_bits=1<<20 ~ 128 KiB per 100k items).
    """
    import numpy as np

    pos = seen.select(
        F.explode(_bloom_positions(digest_col, k_hashes, n_bits)).alias("p")
    )
    words = (
        pos.select(
            (F.col("p") / 64).cast("bigint").alias("w"),
            # DataFrame-API shiftleft needs a literal shift; the SQL form
            # takes an expression for both operands
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(p % 64 AS INT))").alias("m"),
        )
        .groupBy("w")
        .agg(F.bit_or("m").alias("bits"))
        .collect()
    )
    dense = np.zeros(n_bits, dtype=bool)
    if words:
        w = np.array([r["w"] for r in words], dtype=np.int64)
        b = np.array([r["bits"] for r in words], dtype=np.int64).view(np.uint64)
        shifts = np.arange(64, dtype=np.uint64)
        mat = (b[:, None] >> shifts[None, :]) & np.uint64(1)  # [n_words, 64]
        idx = (w[:, None] * 64 + np.arange(64)[None, :]).ravel()
        keep = idx < n_bits
        dense[idx[keep]] = mat.ravel()[keep].astype(bool)
    # same packbits layout (MSB-first per byte) as the per-partition form,
    # so existing bitmaps and the probe kernel are byte-compatible
    return np.packbits(dense).tobytes()


def novelty_gate(
    new_docs: DataFrame,
    bloom: bytes,
    digest_col: str = "digest",
    n_bits: int = 1 << 20,
    k_hashes: int = 5,
) -> DataFrame:
    """Flag each incoming doc as ``maybe_seen`` by probing the broadcast
    bloom bitmap — NO join, no shuffle: the 100 TB corpus is represented by
    a KB-MB bitmap riding in the UDF closure, and the probe is a vectorized
    numpy gather over JVM-computed positions. Guarantee: a digest that WAS
    in the seen set always flags True (no false negatives — dedup can't
    miss); a fresh digest flags True with ~FP-rate probability, so the gate
    is a cheap prefilter in front of the exact (anti-join) check, which
    then runs only on the flagged sliver.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    bits = np.unpackbits(np.frombuffer(bloom, dtype=np.uint8)).astype(bool)

    def _kernel(ps):
        m = np.stack(ps.to_numpy())  # [batch, k] int64
        return pd.Series(bits[m].all(axis=1))

    return new_docs.withColumn(
        "maybe_seen",
        pandas_udf(_kernel, "boolean")(
            _bloom_positions(digest_col, k_hashes, n_bits)
        ),
    )


def stratified_sample(
    df: DataFrame,
    strata_col: str,
    fractions: dict[str, float],
    id_col: str = "doc_id",
    salt: str = "strat:",
    default_fraction: float = 0.0,
) -> DataFrame:
    """Deterministic per-stratum sampling: keep each row iff its salted
    md5 bucket (out of 1e6) falls under the stratum's fraction.

    The Spark built-in (``df.sampleBy``) is seeded-random per partition
    SPLIT — resilient to nothing: a repartition, a retry, or an input
    reorder changes the sample. This version is a pure function of the row
    id, so the sample is reproducible across reruns, engines (the DuckDB
    oracle reproduces it bit-for-bit), and cluster layouts, and it
    composes with the other hash-gated steps via distinct salts (see
    :func:`split_bucket`). Map-only: no shuffle, no count pass; the
    fraction is honored in expectation (binomial, like sampleBy), with
    exactness over the fixed 1e6-bucket grid.

    ``fractions`` maps stratum value -> keep fraction (use
    ``default_fraction`` for unlisted strata). Fractions are quantized to
    micro-units (1e-6) so the comparison is integer-vs-integer.
    """
    b = split_bucket(id_col, buckets=1_000_000, salt=salt)
    expr = F.lit(int(default_fraction * 1_000_000))
    for v, frac in sorted(fractions.items()):
        expr = F.when(
            F.col(strata_col) == v, F.lit(int(round(frac * 1_000_000)))
        ).otherwise(expr)
    return df.where(b < expr)


def weighted_sample(
    df: DataFrame,
    weight_col: str,
    n: int,
    id_col: str = "doc_id",
    salt: str = "wsamp:",
) -> DataFrame:
    """Deterministic weighted sampling WITHOUT replacement (Efraimidis &
    Spirakis 2006, A-ES): each row gets key ``ln(u) / w`` with a
    hash-derived uniform ``u``; the n LARGEST keys are the sample, with
    inclusion probability proportional to weight. The quality-weighted
    corpus downsampling step ("keep 1M docs, prefer high quality") that
    rand()-based sampling cannot do reproducibly.

    ``u`` comes from the salted md5 micro-bucket (same idiom as
    :func:`stratified_sample`, distinct salt REQUIRED — see
    :func:`split_bucket`), so the sample is a pure function of the row
    ids: rerun/layout/engine-stable, and the DuckDB oracle reproduces it
    bit-for-bit. The global top-n compiles to TakeOrderedAndProject
    (map-side partial top-n per partition, no global sort — the same
    bounded shape as the KMV sketch). Zero/negative weights are excluded
    (their key would be -inf).

    -> the sampled rows (original columns), ordered by ``sample_key``
    descending with the key attached for auditability.
    """
    # u in (0, 1]: micro-bucket + 1 over 1e6 — never 0, so ln is finite
    u = (
        split_bucket(id_col, buckets=1_000_000, salt=salt).cast("double")
        + F.lit(1.0)
    ) / F.lit(1_000_000.0)
    w = F.col(weight_col).cast("double")
    keyed = df.where(w > 0).withColumn(
        "sample_key", F.round(F.log(u) / w, 12)
    )
    return (
        keyed.orderBy(F.desc("sample_key"), F.col(id_col).asc())
        .limit(n)
    )


# ---------------------------------------------------------------------------
# URL canonicalization + URL-level dedup (the C4/FineWeb crawl-dedup
# stage that runs BEFORE content dedup: re-crawled pages differ only in
# tracking params / fragments / host case, and collapsing them by
# canonical URL is a cheap map + one hash shuffle vs content-hashing the
# full payload)
# ---------------------------------------------------------------------------

# tracking params dropped by the canonicalizer (name, with or without a
# value). Regex stays in the Java-regex/RE2 shared subset.
_TRACKING_PARAM_RE = r"^(utm_[^=&]*|fbclid|gclid|msclkid|igshid|ref)(=.*)?$"
_SCHEME_RE = r"^([A-Za-z][A-Za-z0-9+.-]*)://"
_AUTH_RE = r"^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)"
_PATH_RE = r"^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)"
# the query starts at the first '?' BEFORE any '#': a '?' inside the
# fragment ('https://x/p#a?b=1') is fragment text, not a query (r10
# advice — the old r"\?([^#]*)" matched it and resurrected the fragment)
_QUERY_RE = r"^[^#?]*\?([^#]*)"


def canonical_url(col: Column) -> Column:
    """Deterministic canonical form of an absolute http(s)-style URL —
    pure JVM expressions, engine-portable (DuckDB twin in registry.py).

    Rules (each deterministic and documented; the point is a STABLE
    dedup key, not RFC 3986 completeness):
    1. scheme and host lowercase; path/query case preserved
    2. fragment dropped
    3. leading ``www.`` stripped from the host
    4. default ports stripped (``:80`` for http, ``:443`` for https)
    5. tracking params dropped (utm_*, fbclid, gclid, msclkid, igshid,
       ref), remaining params sorted byte-order; ``?`` dropped when none
       remain
    6. trailing ``/`` stripped from the path

    Non-URL input (no ``scheme://``) passes through unchanged — the
    crawl chain can canonicalize blindly."""
    scheme = F.lower(F.regexp_extract(col, _SCHEME_RE, 1))
    auth = F.lower(F.regexp_extract(col, _AUTH_RE, 1))
    host = F.regexp_replace(auth, r"^www\.", "")
    host = (
        F.when(scheme == "http", F.regexp_replace(host, ":80$", ""))
        .when(scheme == "https", F.regexp_replace(host, ":443$", ""))
        .otherwise(host)
    )
    path = F.regexp_extract(col, _PATH_RE, 1)
    path = F.regexp_replace(path, r"/$", "")
    query = F.regexp_extract(col, _QUERY_RE, 1)
    kept = F.array_join(
        F.array_sort(
            F.filter(
                F.split(query, "&"),
                lambda p: (p != "") & ~p.rlike(_TRACKING_PARAM_RE),
            )
        ),
        "&",
    )
    rebuilt = F.concat(
        scheme,
        F.lit("://"),
        host,
        path,
        F.when(kept != "", F.concat(F.lit("?"), kept)).otherwise(F.lit("")),
    )
    return F.when(scheme == "", col).otherwise(rebuilt)


def url_dedup(
    docs: DataFrame,
    url_col: str = "uri",
    id_col: str = "doc_id",
    ordered: bool = False,
) -> DataFrame:
    """One row per canonical URL: the earliest (min id) capture survives,
    with the variant count. A map + ONE hash shuffle on the canonical
    string — at crawl scale this runs before content dedup and never
    touches payload bytes.

    ``ordered`` adds a global sort on ``id_col`` for presentation /
    oracle comparison ONLY; composed pipeline use keeps the default
    (False) so the pre-stage never pays a range exchange at crawl scale
    (plan-asserted in tests/test_pipeline.py)."""
    out = (
        docs.withColumn("canonical_url", canonical_url(F.col(url_col)))
        .groupBy("canonical_url")
        .agg(
            F.min(id_col).alias(id_col),
            F.count(F.lit(1)).alias("n_variants"),
        )
        .select(id_col, "canonical_url", "n_variants")
    )
    return out.orderBy(id_col) if ordered else out


def observe_stage(
    df: DataFrame, name: str, conditions: dict[str, Column]
) -> tuple[DataFrame, "Observation"]:
    """Attach SINGLE-PASS pipeline metrics to ``df`` via Spark's native
    Observation API: per-condition hit counts + total rows, computed by
    the SAME job that materializes the frame — at 100 TB the
    alternative is a second full scan per metric, which is how pipeline
    dashboards quietly double a corpus pass.

    Returns ``(df_with_observation, observation)``; read
    ``observation.get`` AFTER an action on the returned frame. Metrics
    are exact long counts (conditions evaluated row-side, summed in the
    observation aggregates), so gate pass-rates come out of the write
    job itself.

        gated, obs = observe_stage(docs, "quality_gate",
                                   {"kept": F.col("score") >= 0.5})
        gated.write.parquet(out)        # one pass
        rates = obs.get                 # {'n_rows': ..., 'kept': ...}
    """
    from pyspark.sql import Observation

    obs = Observation(name)
    metrics = [F.count(F.lit(1)).alias("n_rows")]
    for mname, cond in conditions.items():
        metrics.append(F.sum(cond.cast("long")).alias(mname))
    return df.observe(obs, *metrics), obs


def end_to_end_corpus(
    docs: DataFrame,
    weights: DataFrame,
    url_col: str = "uri",
    threshold: float = 0.5,
    min_span: int = 16,
    with_metrics: bool = False,
):
    """The full corpus-refinement chain — the C4/FineWeb skeleton every
    web-scale training-data build runs, composed from the already-pinned
    stages:

        url_dedup -> exact dedup -> MinHash near-dup removal ->
        ExactSubstr duplicate-span removal -> quality gate

    ``docs`` carries (doc_id, text, ``url_col``); ``weights`` is the
    (bucket, w_milli) scorer table. Returns the surviving corpus as
    ``(doc_id, text, n_tokens, n_removed)`` with span-scrubbed text.

    Eager stage loop: the url, exact and near-dup stages each persist
    their surviving corpus, pruned to (doc_id, text). This call runs
    two Spark jobs before it returns: one ``count()`` materializes the
    exact-dedup boundary (and the url boundary en route), one the
    near-dup boundary, and each predecessor is unpersisted once its
    successor is cached. Only the span scrub and the quality gate stay
    lazy in the returned frame, which reads the near-dup boundary;
    that cache is tagged via ``defer_release`` for the caller to free
    after its action. Column pruning still reaches the scan (the url
    stage's shuffle carries only (canonical, id)).

    Scale shape per stage (each independently plan-audited where it was
    pinned): one canonical-string shuffle; one digest shuffle; banded
    LSH joins + O(log d) component rounds + a loser-bounded anti-join;
    one duplicated-window digest shuffle + doc-keyed reassembly; a
    broadcast-weight scan + doc-keyed agg. No stage touches the driver.

    ``with_metrics=True`` additionally returns the per-stage
    Observations (url/exact/near/span/gate) — single-pass counters via
    :func:`observe_stage`, readable after one action on the result.
    NOTE: an Observation counts rows per PLAN PASS; a stage whose output
    feeds two consumers in the same job (e.g. the dedup pattern
    "aggregate keys, then semi-join the keys back") counts each pass, so
    its n_rows is a multiple of the stage's true cardinality. The
    url/exact/near taps sit on the persisted boundaries, which the
    build-time count jobs materialize once, so those counts land at (or
    much nearer) the true cardinality; the caveat still applies to the
    un-persisted span and gate taps. Exact survivor counts need a
    per-stage action; the single-pass numbers are for relative
    flow/ratio dashboards, which is what a 100 TB run can afford.
    """
    from compute_histogram_spark.operators.classify import score_filter
    from compute_histogram_spark.operators.dedup import (
        duplicate_span_removal,
        neardup_dedup,
    )

    obs = {}

    def _tap(df, stage):
        if not with_metrics:
            return df
        tapped, o = observe_stage(df, stage, {})
        obs[stage] = o
        return tapped

    # r16 optimization round (guide §5 cache-when-reused): every stage
    # output below is consumed MORE THAN ONCE by its successor (the
    # dedup stages all follow "aggregate keys from X, semi/anti-join X
    # against them" — two plan references to X; span removal references
    # its input for windows AND reassembly), and Catalyst re-executes
    # the whole upstream subtree per reference. Unpersisted, the
    # re-execution compounds per stage: the captured plan read 64
    # parquet scans of the SAME documents file (plans/r16/
    # end_to_end_corpus_before.txt), zero ReusedExchange. Persisting
    # the three stage boundaries makes the chain linear again: 64 -> 2
    # scans, sf0.1 warm 5.68 -> 4.77 s (-16%), sf1 12.65 -> 8.81 s
    # (-30%, fresh-JVM warm-min probes — the delta grows with corpus
    # size because the re-executed subtrees are data-scaled). The
    # persisted frames are the SURVIVING corpus at each stage (strictly
    # shrinking, disk-backed); the stage boundary is also where the
    # lineage-length hazard lived, so this doubles as the iteration
    # idiom the module docstring already applies to components. Column
    # pruning across stage boundaries is preserved: each persisted
    # frame is already pruned to (doc_id, text).
    #
    # r17 lifecycle (VERDICT r16 #3 / ADVICE): the three boundaries are
    # (doc_id, text) frames — AT the 100 TB design point that is
    # roughly corpus-sized executor storage EACH, so holding all three
    # until driver GC is a ~3x-corpus cache footprint (disk-backed, so
    # it degrades rather than OOMs — but task-failing degradation when
    # local disk runs short). EAGER STAGE LOOP instead: materialize
    # each boundary with a count (the cache-building pass the next
    # stage would have paid anyway — total compute is unchanged, the
    # stages were already serialized by their shuffles), then unpersist
    # its predecessor. Peak footprint is ~2x the current surviving
    # corpus during a boundary build and 1x after; the LAST boundary
    # (d3) feeds the returned lazy plan twice (span windows +
    # reassembly), so it is tagged via defer_release for the caller to
    # free after its action (bench.materialize and the tests do;
    # otherwise the ContextCleaner reclaims it with the frame).
    from pyspark import StorageLevel

    from compute_histogram_spark.session import defer_release

    # 1. URL canonicalization: earliest capture per canonical URL
    kept_urls = (
        docs.withColumn("canonical_url", canonical_url(F.col(url_col)))
        .groupBy("canonical_url")
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    d1 = _tap(
        docs.select("doc_id", "text").join(kept_urls, "doc_id", "left_semi"),
        "url",
    ).persist(StorageLevel.MEMORY_AND_DISK)
    # 2. exact content dedup: first occurrence per digest
    kept_exact = (
        d1.select(F.sha2(F.col("text"), 256).alias("h"), "doc_id")
        .groupBy("h")
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    d2 = _tap(d1.join(kept_exact, "doc_id", "left_semi"), "exact").persist(
        StorageLevel.MEMORY_AND_DISK
    )
    d2.count()  # materializes d2's cache (and d1's, en route)
    d1.unpersist()  # nothing downstream references d1 anymore
    # 3. near-duplicate removal (banded LSH -> components -> anti-join)
    d3 = _tap(neardup_dedup(d2), "near").persist(StorageLevel.MEMORY_AND_DISK)
    d3.count()
    d2.unpersist()
    # 4. cross-document duplicate-span scrub (Lee et al. 2022 shape)
    d4 = _tap(duplicate_span_removal(d3, min_len=min_span), "span")
    # 5. model-quality gate over the SCRUBBED text
    out = _tap(score_filter(d4, weights, threshold=threshold), "gate")
    defer_release(out, d3)  # caller frees d3 after its action
    return (out, obs) if with_metrics else out


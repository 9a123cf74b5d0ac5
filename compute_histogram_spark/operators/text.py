"""Text analysis for a training-data pipeline, over ``documents``.

Everything is built-in column expressions (regexp/array lambdas) — JVM-side,
whole-stage-codegen'd, no Python UDFs. Each operator is a single narrow
projection + one aggregation at most: at 100 TB these are embarrassingly
parallel scans whose only shuffle is the final (tiny) group-by, if any.

Cross-engine notes: regex patterns restricted to syntax RE2 (DuckDB) and
Java regex agree on; ratios rounded to 6 decimals after identical
integer-derived arithmetic.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

from compute_histogram_spark.functions.texthash import tokens, word_shingles
from compute_histogram_spark.sources.tables import ensure_parallelism, range_ordered

STOPWORDS = ("the", "a", "of", "and", "in", "to")

# marker words per language for the n-gram-frequency language heuristic
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and"),
    "de": ("der", "die", "und", "das"),
    "fr": ("le", "la", "et", "les"),
    "es": ("el", "los", "que", "y"),
    "zh": ("的", "是", "了"),
}

# BPE-ish pre-tokenization: letter runs | digit runs | single other non-space
BPE_PATTERN = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"

_LETTERS = "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz"
_DIGITS = "0123456789"


def bpe_token_count(text_col: str = "text") -> Column:
    """Count of BPE_PATTERN matches WITHOUT running the 3-way alternation
    over raw text: collapse the alphabet first (``translate`` letters->'a',
    digits->'0' — a char map, no regex), count runs with the trivial
    ``a+|0+`` pattern, and count 'other' chars by translate-DELETING
    letters+digits+spaces (what remains has length == n_other). Letter/
    digit runs are preserved by the mapping and other chars each match
    individually, so the count is exactly ``regexp_count(text,
    BPE_PATTERN)`` — value-asserted in tests and in the text_stats driver
    oracle, which still runs the original regex. Measured 2.6x the regex
    throughput at sf1 (0.35 vs 0.92 s); this was the dominant term of the
    text_stats two-engine gap (VERDICT r7 #3)."""
    collapsed = F.translate(
        F.col(text_col), _LETTERS + _DIGITS, "a" * 52 + "0" * 10
    )
    n_other = F.length(
        F.translate(F.col(text_col), _LETTERS + _DIGITS + " ", "")
    )
    return (F.regexp_count(collapsed, F.lit("a+|0+")) + n_other).cast(
        "bigint"
    )


def _count_in(tok_col: Column, words: tuple[str, ...]) -> Column:
    return F.size(F.filter(tok_col, lambda t: t.isin(*words)))


def _marker_fold_sql() -> str:
    """ONE ``aggregate`` fold over the token array computing the stopword
    hit count and every language marker count together — 6 array
    traversals (one filter per counter) become 1. Struct fields: stop +
    one per LANG_MARKERS code."""

    def hit(words: tuple[str, ...]) -> str:
        # SQL-escape: a marker like French "l'" must not break the IN list
        lst = ", ".join("'" + w.replace("'", "''") + "'" for w in words)
        return f"(CASE WHEN t IN ({lst}) THEN 1 ELSE 0 END)"

    codes = list(LANG_MARKERS)
    zero = ", ".join(["0 AS stop"] + [f"0 AS {c}" for c in codes])
    step = ", ".join(
        [f"acc.stop + {hit(STOPWORDS)} AS stop"]
        + [f"acc.{c} + {hit(LANG_MARKERS[c])} AS {c}" for c in codes]
    )
    return (
        f"aggregate(split(text, ' '), struct({zero}), "
        f"(acc, t) -> struct({step}), acc -> acc)"
    )


def text_stats(docs: DataFrame) -> DataFrame:
    """Per-doc quality features + a deterministic composite score."""
    docs = range_ordered(docs, "doc_id")
    t = docs.select("doc_id", F.col("text"), tokens("text").alias("toks"))
    n_tokens = F.size("toks")
    n_nonspace = F.length(
        F.replace(F.col("text"), F.lit(" "), F.lit(""))  # non-regex: ~1.5x cheaper than regexp_replace at sf1
    )
    stop_hits = _count_in(F.col("toks"), STOPWORDS)
    stats = t.select(
        "doc_id",
        F.length("text").alias("n_chars"),
        n_tokens.alias("n_tokens"),
        F.round(n_nonspace * 1.0 / n_tokens, 6).alias("avg_token_len"),
        F.round(stop_hits * 1.0 / n_tokens, 6).alias("stopword_ratio"),
    )
    quality = F.round(
        F.least(F.lit(1.0), F.col("n_tokens") / 100.0)
        * (1.0 - 0.5 * F.col("stopword_ratio")),
        6,
    )
    return stats.withColumn("quality_score", quality).sortWithinPartitions("doc_id")


def _lang_pred_from_scores() -> Column:
    """Argmax prediction over ``s_<code>`` score columns (fixed priority
    en > de > fr > es > zh on ties — deterministic). NULL scores (NULL
    text) predict NULL — without the outer guard the when-chain's
    conditions are all NULL-falsy and the .otherwise leaked the LAST
    code for NULL rows, diverging from the Arrow twin (r10 advice)."""
    codes = list(LANG_MARKERS)
    pred = None
    for code in codes:
        cond = None
        for other in codes:
            if other == code:
                continue
            c = F.col(f"s_{code}") >= F.col(f"s_{other}")
            cond = c if cond is None else (cond & c)
        branch = F.when(cond, F.lit(code))
        pred = branch if pred is None else pred.when(cond, F.lit(code))
    return F.when(
        F.col(f"s_{codes[0]}").isNotNull(),
        pred.otherwise(F.lit(codes[-1])),
    )


def lang_id(docs: DataFrame) -> DataFrame:
    """Marker-word language scores + argmax prediction."""
    docs = range_ordered(docs, "doc_id")
    t = docs.select("doc_id", "lang", tokens("text").alias("toks"))
    scores = t.select(
        "doc_id",
        "lang",
        *[
            _count_in(F.col("toks"), words).alias(f"s_{code}")
            for code, words in LANG_MARKERS.items()
        ],
    )
    return scores.withColumn("lang_pred", _lang_pred_from_scores()).sortWithinPartitions("doc_id")


def text_profile(docs: DataFrame) -> DataFrame:
    """:func:`text_stats` + :func:`token_counts` + :func:`lang_id` fused
    into ONE narrow projection (no joins, no shuffles): per-doc quality
    stats, whitespace AND BPE-ish token counts, and the language-ID
    argmax. The fusion matters at 100 TB — three corpus passes become one
    scan whose only cost over :func:`text_stats` is the extra expressions,
    all JVM-side/codegen. r8: the stopword + 5 language-marker counters
    fold in ONE array traversal (:func:`_marker_fold_sql`) and the BPE
    count drops the raw-text regex (:func:`bpe_token_count`) — together
    1.22 s -> 0.62 s at sf1, value-identical."""
    docs = range_ordered(docs, "doc_id")
    t = docs.select(
        "doc_id",
        F.col("text"),
        # NULL-guarded: size(NULL array) is -1 under non-ANSI sessions,
        # which would leak a phantom token count for null-text crawl
        # rows (the Arrow twin emits NULL — pinned in tests)
        F.when(F.col("text").isNotNull(), F.size(tokens("text")))
        .alias("n_tokens"),
        F.expr(_marker_fold_sql()).alias("m"),
    )
    n_nonspace = F.length(
        F.replace(F.col("text"), F.lit(" "), F.lit(""))  # non-regex: ~1.5x cheaper than regexp_replace at sf1
    )
    scored = t.select(
        "doc_id",
        F.length("text").alias("n_chars"),
        F.col("n_tokens"),
        F.round(n_nonspace * 1.0 / F.col("n_tokens"), 6).alias("avg_token_len"),
        F.round(F.col("m.stop") * 1.0 / F.col("n_tokens"), 6).alias(
            "stopword_ratio"
        ),
        bpe_token_count().alias("n_bpe_tokens"),
        *[F.col(f"m.{code}").alias(f"s_{code}") for code in LANG_MARKERS],
    )
    quality = F.round(
        F.least(F.lit(1.0), F.col("n_tokens") / 100.0)
        * (1.0 - 0.5 * F.col("stopword_ratio")),
        6,
    )
    return scored.select(
        "doc_id",
        "n_chars",
        "n_tokens",
        "avg_token_len",
        "stopword_ratio",
        quality.alias("quality_score"),
        "n_bpe_tokens",
        _lang_pred_from_scores().alias("lang_pred"),
    ).sortWithinPartitions("doc_id")


def token_counts(docs: DataFrame) -> DataFrame:
    """Whitespace vs BPE-ish token counts per doc."""
    docs = range_ordered(docs, "doc_id")
    return docs.select(
        "doc_id",
        F.size(tokens("text")).alias("n_ws_tokens"),
        bpe_token_count().alias("n_bpe_tokens"),
        F.length("text").alias("n_chars"),
    ).sortWithinPartitions("doc_id")


def _char_grams_sql(gram: int) -> str:
    return (
        f"CASE WHEN length(text) >= {gram} "
        f"THEN transform(sequence(1, length(text) - {gram} + 1), "
        f"     g -> substr(text, g, {gram})) "
        f"ELSE array(text) END"
    )


def _fingerprint_one_pass(gram: int, hash_sql: str) -> Column:
    """Both fingerprint outputs from ONE gram-array materialization.

    Catalyst has no common-subexpression elimination across projection
    items, so naming the gram array twice (min-hash + distinct count)
    built the ~1000-element substr array TWICE per document — measured
    2.35 s vs 1.39 s at sf1. The singleton ``transform(array(grams),
    g -> struct(...))[0]`` binds the array to a lambda variable once and
    emits both outputs from the binding.

    NULL text propagates NULL outputs (the Arrow twin's contract):
    without the guard the ELSE array(text) branch made g = [NULL] and
    xxhash64(NULL) returned its SEED (42) — a phantom fingerprint for
    every null-text crawl row."""
    return F.expr(
        f"CASE WHEN text IS NULL THEN NULL ELSE "
        f"transform(array({_char_grams_sql(gram)}), "
        f"  g -> struct("
        f"    array_min(transform(g, x -> {hash_sql})) AS fp, "
        f"    CAST(size(array_distinct(g)) AS BIGINT) AS n))[0] END"
    )


def doc_fingerprint(docs: DataFrame, gram: int = 8) -> DataFrame:
    """Rolling-hash fingerprint: min-xxhash64 over character n-grams (a
    1-hash MinHash — winnowing's 'select the minimum' step) +
    distinct-gram count.

    Implemented as a pure per-row array projection (``array_min`` over
    ``transform``) — no explode, no shuffle, no aggregation state: each
    document is fingerprinted where it is scanned, so at 100 TB this is an
    embarrassingly parallel map stage (vs the naive explode->groupBy, which
    shuffles every gram — measured 20x slower at sf0.1).

    Hash choice: the min-hash semantics need a stable UNIFORM hash, not a
    cryptographic one — min over JVM-native ``xxhash64`` (signed 64-bit,
    seed 42) replaces one MessageDigest md5 per gram (the single largest
    block of the sf10 two-engine gap, VERDICT r7). Value-pinned against a
    pure-Python XXH64 twin in tests/test_text.py;
    :func:`doc_fingerprint_md5` keeps the engine-portable digest for the
    DuckDB oracle. Both outputs come from one gram-array materialization
    (see :func:`_fingerprint_one_pass` — the r8 −41% at sf1).
    """
    docs = range_ordered(docs, "doc_id")
    # two-step select on purpose: CollapseProject keeps the struct alias
    # (non-cheap, referenced twice), so the gram array builds once
    return (
        docs.select(
            "doc_id", _fingerprint_one_pass(gram, "xxhash64(x)").alias("s")
        )
        .select(
            "doc_id",
            F.col("s.fp").alias("fingerprint"),
            F.col("s.n").alias("n_grams"),
        )
        .sortWithinPartitions("doc_id")
    )


def _splitmix64(x):
    """splitmix64 finalizer over a uint64 ndarray — the avalanche that
    makes the raw 8-byte gram value a uniform hash. Public-domain
    constants (Steele et al., 'Fast splittable pseudorandom number
    generators', OOPSLA 2014)."""
    import numpy as np

    x = x.copy()
    x ^= x >> np.uint64(30)
    x *= np.uint64(0xBF58476D1CE4E5B9)
    x ^= x >> np.uint64(27)
    x *= np.uint64(0x94D049BB133111EB)
    x ^= x >> np.uint64(31)
    return x


def _gram_bytes8(g: str) -> bytes:
    """Hash input for one gram: first 8 UTF-8 bytes, zero-padded."""
    return g.encode("utf-8")[:8].ljust(8, b"\0")


def _fp_one_doc(text: str, gram: int):
    """(fingerprint, n_grams) for one document — the kernel's per-row
    step, vectorized end to end for the ASCII common case.

    Fast path (pure-ASCII, len >= gram): every char-gram is exactly 8
    bytes, so the sliding byte windows VIEW as uint64 — min-hash is one
    vectorized splitmix64 + min, and the EXACT distinct-gram count is
    np.unique on the same uint64 view (bijective with the gram strings).
    Fallback (unicode / short): per-gram set + the same 8-byte hash
    spec, so the output contract is one spec, two speeds."""
    import numpy as np

    b = text.encode("utf-8")
    if len(b) == len(text) and len(text) >= gram:
        a = np.frombuffer(b, dtype=np.uint8)
        n = len(a) - gram + 1
        w = np.lib.stride_tricks.sliding_window_view(a, gram)
        if gram == 8:
            # 8-byte windows view DIRECTLY as uint64 (the common case)
            u = w.reshape(n, gram).copy().view(np.uint64).ravel()
            n_distinct = int(np.unique(u).size)
        else:
            # general gram (r10 advice: the old path silently mis-hashed
            # gram != 8): hash input is the first min(gram, 8) bytes
            # zero-padded to 8 — the same _gram_bytes8 spec — while the
            # EXACT distinct count stays over FULL gram windows
            k = min(gram, 8)
            z = np.zeros((n, 8), dtype=np.uint8)
            z[:, :k] = w[:, :k]
            u = z.view(np.uint64).ravel()
            n_distinct = (
                int(np.unique(u).size)  # <= 8 bytes: view is bijective
                if gram <= 8
                else int(np.unique(w, axis=0).shape[0])
            )
        # min over the SIGNED reinterpretation (the spec's signed-64
        # contract); .view, not .astype — bits, not values
        return _splitmix64(u).view(np.int64).min(), n_distinct
    grams = [text[i : i + gram] for i in range(max(len(text) - gram + 1, 1))]
    if not grams:
        grams = [text]
    u = np.frombuffer(
        np.array([_gram_bytes8(g) for g in grams], dtype="S8").tobytes(),
        dtype=np.uint64,
    )
    return _splitmix64(u).view(np.int64).min(), len(set(grams))


def doc_fingerprint_arrow(
    docs: DataFrame, gram: int = 8, id_col: str = "doc_id"
) -> DataFrame:
    """Vectorized Arrow twin of :func:`doc_fingerprint` — the measured
    fast path for the fingerprint kernel, and the repo's one deliberate
    break from JVM-expression-first.

    Why Python here: the declarative form is an embarrassingly parallel
    map (right plan shape), but Spark evaluates higher-order-function
    lambdas INTERPRETED, never whole-stage-codegen — and r10's sf10
    decomposition proved the ~83 ns/gram closure+substr+hash walk is the
    whole cost (gram-array 12.7 s of the 15.6 s total; removing the
    intermediate arrays via inline/aggregate folds moved nothing:
    13.4 -> 12.6/13.2 s). This kernel replaces ~1000 interpreted
    evaluations per document with four NumPy passes over the raw bytes
    (uint64 view of the 8-byte windows -> splitmix64 -> min; np.unique
    for the EXACT distinct count): sf10 2.07 s vs 15.63 s JVM (7.5x)
    and vs 4.98 s DuckDB — the one headline kernel where the Arrow
    batch path beats both engines' native forms.

    Hash spec (pinned in tests/test_text.py against a pure-Python twin):
    splitmix64 of the gram's first 8 UTF-8 bytes zero-padded, signed
    64-bit result. n_grams is the exact distinct char-gram count —
    value-identical to :func:`doc_fingerprint`'s array_distinct (the
    uint64 view is bijective with 8-byte grams; property-checked).

    Scale shape: identical to the JVM form — no shuffle, no state, one
    Arrow batch stream per input split; 100 TB fans out as pure map
    tasks. Use :func:`doc_fingerprint` where a no-Python-deps plan
    matters more than the 7.5x.

    r17 (guide §4.2): mapInPandas → mapInArrow with a WHOLE-BATCH fast
    path. The pandas boundary decoded every text into a Python str just
    so the per-doc step could re-encode it to bytes; an all-ASCII,
    null-free gram-8 batch (the crawl common case) is now hashed
    straight off the Arrow (values, offsets) buffers — ONE sliding-
    window build and ONE splitmix64 pass over the batch's whole data
    buffer, then per-doc slice min / unique. Offline kernel A/B on the
    sf0.1 corpus: 0.225 → 0.070 s per 5k-doc batch (3.2x); the per-doc
    fallback (unicode, nulls, gram != 8) is the unchanged _fp_one_doc
    spec, so the output contract stays one spec, two speeds."""

    def kernel(batches):
        import numpy as np
        import pyarrow as pa

        out_schema = pa.schema(
            [
                pa.field(id_col, pa.int64()),
                pa.field("fingerprint", pa.int64()),
                pa.field("n_grams", pa.int64()),
            ]
        )
        for rb in batches:
            ids, col = rb.column(0), rb.column(1)
            n = len(col)
            if n == 0:
                continue
            fast = None
            if gram == 8 and col.null_count == 0 and pa.types.is_string(col.type):
                offs_buf, data_buf = col.buffers()[1], col.buffers()[2]
                if data_buf is not None:
                    offs = np.frombuffer(offs_buf, dtype=np.int32)[
                        col.offset : col.offset + n + 1
                    ].astype(np.int64)
                    buf = np.frombuffer(data_buf, dtype=np.uint8)
                    seg = buf[offs[0] : offs[-1]]
                    if seg.size == 0 or int(seg.max()) < 128:
                        fast = (offs, buf)
            if fast is None:
                # fallback batch: unicode / nulls / non-default gram
                fps_l, ns_l = [], []
                for t in col.to_pylist():
                    if t is None:
                        fps_l.append(None)
                        ns_l.append(None)
                    else:
                        f, c = _fp_one_doc(t, gram)
                        fps_l.append(int(f))
                        ns_l.append(int(c))
                yield pa.RecordBatch.from_arrays(
                    [
                        ids,
                        pa.array(fps_l, type=pa.int64()),
                        pa.array(ns_l, type=pa.int64()),
                    ],
                    schema=out_schema,
                )
                continue
            offs, buf = fast
            lens = np.diff(offs)
            bufp = np.concatenate([buf, np.zeros(8, np.uint8)])
            # every stride-1 8-byte window of the batch buffer, hashed in
            # ONE pass; per-doc results are slices of these two arrays
            allw = np.ascontiguousarray(
                np.lib.stride_tricks.sliding_window_view(bufp, 8)
            ).view(np.uint64).ravel()
            h_all = _splitmix64(allw).view(np.int64)
            fps = np.empty(n, np.int64)
            cnts = np.empty(n, np.int64)
            for i in range(n):
                a, b = offs[i], offs[i + 1]
                if lens[i] >= 8:
                    sl = slice(a, b - 7)
                    fps[i] = h_all[sl].min()
                    cnts[i] = np.unique(allw[sl]).size
                else:
                    # < gram chars: one gram = the whole text, zero-padded
                    w8 = bufp[a : a + 8].copy()
                    w8[lens[i] :] = 0
                    fps[i] = _splitmix64(w8.view(np.uint64)).view(np.int64)[0]
                    cnts[i] = 1
            yield pa.RecordBatch.from_arrays(
                [ids, pa.array(fps), pa.array(cnts)], schema=out_schema
            )

    d = range_ordered(docs, id_col).select(id_col, "text")
    return d.mapInArrow(
        kernel, f"{id_col} bigint, fingerprint bigint, n_grams bigint"
    )


def doc_fingerprint_md5(docs: DataFrame, gram: int = 8) -> DataFrame:
    """Engine-portable twin of :func:`doc_fingerprint`: min-md5-hex over
    the same grams — byte-identical in Spark and DuckDB, so the rotated-out
    oracle (registry.DOC_FINGERPRINT_ORACLE) stays value-exact. Same
    one-pass plan shape; only the per-gram digest differs."""
    docs = range_ordered(docs, "doc_id")
    return (
        docs.select(
            "doc_id", _fingerprint_one_pass(gram, "md5(x)").alias("s")
        )
        .select(
            "doc_id",
            F.col("s.fp").alias("fingerprint"),
            F.col("s.n").alias("n_grams"),
        )
        .sortWithinPartitions("doc_id")
    )


def top_tokens(docs: DataFrame, k: int = 20) -> DataFrame:
    """Corpus-wide token frequency top-k (the token histogram — reuses the
    reference's transform->bucket->count shape on text)."""
    docs = ensure_parallelism(docs)
    return (
        docs.select(F.explode(tokens("text")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("token"))
        .limit(k)
    )


def quality_signals(docs: DataFrame) -> DataFrame:
    """Gopher-style per-document quality + repetition signals
    (Rae et al. 2021, "Scaling Language Models: ... Gopher", §A1.1),
    entirely JVM-side per-row expressions — one narrow map stage, no
    Python, no shuffle except the final presentational ``orderBy``. At
    100 TB the filter decision (``gopher_pass``) computes in the same
    stage as the scan; drop the sort and filter on it directly.

    Signals (word = single-space token, mirroring :func:`tokens`):

    - ``n_words``, ``mean_word_len``
    - ``frac_alpha_words`` — words containing at least one ASCII letter
    - ``dup_word_frac`` — 1 - distinct/total words (word-level repetition)
    - ``top_bigram_frac`` — count of the modal word 2-gram / total 2-grams
    - ``dup_trigram_frac`` — fraction of word 3-grams that are duplicates
    - ``gopher_pass`` — the standard band filter over the above

    The modal-gram count is computed per-row by sorting the gram array and
    folding a (prev, run, best) accumulator over it — no explode, no
    groupBy (see the naive-shape cost note in :func:`doc_fingerprint`).
    """
    docs = range_ordered(docs, "doc_id")
    t = docs.select("doc_id", tokens("text").alias("toks"))
    t = t.withColumn("g2", word_shingles("toks", 2)).withColumn(
        "g3", word_shingles("toks", 3)
    )
    max_run = F.expr(
        """
        CASE WHEN size(g2) = 0 THEN 0L ELSE
        aggregate(
            array_sort(g2),
            named_struct('prev', CAST(NULL AS STRING), 'run', 0L, 'best', 0L),
            (acc, x) -> named_struct(
                'prev', x,
                'run',  IF(acc.prev IS NOT NULL AND x = acc.prev, acc.run + 1, 1L),
                'best', greatest(
                    acc.best,
                    IF(acc.prev IS NOT NULL AND x = acc.prev, acc.run + 1, 1L))),
            acc -> acc.best)
        END
        """
    )
    n_words = F.size("toks")
    sum_len = F.aggregate(
        "toks", F.lit(0).cast("bigint"), lambda acc, x: acc + F.length(x)
    )
    n_alpha = F.size(F.filter("toks", lambda x: x.rlike("[A-Za-z]")))
    n_dup_w = n_words - F.size(F.array_distinct("toks"))
    n_dup_g3 = F.size("g3") - F.size(F.array_distinct("g3"))
    sig = t.select(
        "doc_id",
        n_words.cast("bigint").alias("n_words"),
        F.round(sum_len * 1.0 / n_words, 6).alias("mean_word_len"),
        F.round(n_alpha * 1.0 / n_words, 6).alias("frac_alpha_words"),
        F.round(n_dup_w * 1.0 / n_words, 6).alias("dup_word_frac"),
        F.when(F.size("g2") > 0, F.round(max_run * 1.0 / F.size("g2"), 6))
        .otherwise(F.lit(0.0))
        .alias("top_bigram_frac"),
        F.when(F.size("g3") > 0, F.round(n_dup_g3 * 1.0 / F.size("g3"), 6))
        .otherwise(F.lit(0.0))
        .alias("dup_trigram_frac"),
    )
    gopher = (
        (F.col("n_words") >= 10)
        & (F.col("n_words") <= 100000)
        & (F.col("mean_word_len") >= 2.0)
        & (F.col("mean_word_len") <= 10.0)
        & (F.col("frac_alpha_words") >= 0.8)
        & (F.col("top_bigram_frac") <= 0.2)
    )
    return sig.withColumn("gopher_pass", gopher).sortWithinPartitions("doc_id")


def top_tokens_per_lang(docs: DataFrame, k: int = 5) -> DataFrame:
    """Per-language token frequency top-k: explode -> count per (lang,
    token) -> row_number window per lang. The rank<=k filter is recognized
    by Catalyst's WindowGroupLimit, so each shuffle partition keeps only
    its local top-k before the window sorts — no full per-lang sort at scale.
    """
    docs = ensure_parallelism(docs)
    counts = (
        docs.select("lang", F.explode(tokens("text")).alias("token"))
        .groupBy("lang", "token")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.partitionBy("lang").orderBy(F.desc("n"), F.asc("token"))
    return (
        counts.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= k)
        .select("lang", F.col("rnk").cast("int").alias("rnk"), "token", "n")
        .orderBy("lang", "rnk")
    )


def bm25_topk(
    docs: DataFrame,
    query_terms: tuple[str, ...],
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """BM25 relevance top-k over ``documents`` for a pinned term set —
    the retrieval scoring a corpus-curation / eval-dedup pipeline runs to
    find documents about a topic without an embedding model.

    Uses the BM25+-style always-positive idf ``ln(1 + (N-df+.5)/(df+.5))``.
    All score inputs (tf, dl, df, N, sum_dl) are integers aggregated
    exactly; the only float ops are the final per-(doc,term) expression and
    ``ln``, then one ``round(...,6)`` — cross-engine exact (see module
    docstring).

    Plan shape at 100 TB:

    - tokens explode is map-side and filtered to the |q| query terms
      BEFORE the shuffle, so the (doc,term) aggregation shuffles only
      matching postings — O(hits), not O(corpus tokens);
    - doc length rides along the explode (no second scan / self-join);
    - df and the (N, sum_dl) scalars aggregate to |q|+1 rows and broadcast
      back — the corpus-sized side never reshuffles;
    - top-k is the WindowGroupLimit-eligible row_number pattern.
    """
    terms = list(dict.fromkeys(query_terms))
    t = docs.select(
        "doc_id", tokens("text").alias("toks")
    ).select("doc_id", F.size("toks").alias("dl"), "toks")
    t = ensure_parallelism(t)

    # corpus scalars: exact integer sums, single tiny row, broadcast
    scal = t.agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("dl").alias("sum_dl")
    )

    posting = (
        t.select("doc_id", "dl", F.explode("toks").alias("term"))
        .where(F.col("term").isin(terms))
        .groupBy("doc_id", "dl", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df_t = posting.groupBy("term").agg(F.count(F.lit(1)).alias("df"))

    scored = (
        posting.join(F.broadcast(df_t), "term")
        .crossJoin(F.broadcast(scal))
        .select(
            "doc_id",
            (
                F.log(
                    1.0
                    + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
                )
                * (F.col("tf") * (k1 + 1.0))
                / (
                    F.col("tf")
                    + k1
                    * (
                        1.0
                        - b
                        + b
                        * F.col("dl")
                        / (F.col("sum_dl") / F.col("n_docs").cast("double"))
                    )
                )
            ).alias("s"),
        )
        .groupBy("doc_id")
        .agg(F.round(F.sum("s"), 6).alias("bm25"))
    )
    # top-k WITHOUT a global ordered window: orderBy+limit compiles to
    # TakeOrderedAndProject (per-partition partial top-k, k-row merge) —
    # the rank window then runs over <= k rows, never the full hit set.
    w = Window.orderBy(F.col("bm25").desc(), F.col("doc_id").asc())
    return (
        scored.orderBy(F.col("bm25").desc(), F.col("doc_id").asc())
        .limit(k)
        .withColumn("rank", F.row_number().over(w))
        .select("doc_id", "bm25", "rank")
        .orderBy("rank")
    )


def build_postings(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Positional inverted index as a DataFrame: ``(term, doc_id, pos)``.

    One map-side posexplode — no shuffle to BUILD (the index is born
    partitioned however the corpus is). To PERSIST for repeated querying,
    write it bucketed by ``term`` (sources/bucketing.py): every later
    term lookup is then a bucket-pruned scan and phrase joins co-locate.
    """
    return ensure_parallelism(docs).select(
        F.col(id_col),
        F.posexplode(tokens("text")).alias("pos", "term"),
    )


def phrase_match(
    postings: DataFrame, phrase: str, id_col: str = "doc_id"
) -> DataFrame:
    """Exact token-boundary phrase search over a positional index:
    documents containing ``phrase`` as consecutive tokens.

    Plan: one pre-filtered slice of the index per phrase term, each
    re-based to the phrase start (``pos - i``), then |phrase|-way
    equi-join on ``(doc_id, start)`` — a match is a start where every
    term lines up. Each join side is a single term's postings (highly
    selective), so at 100 TB this is |phrase| small shuffle joins, never
    a corpus scan — the point of having the index. Output:
    ``(doc_id, n_matches)`` with distinct start positions counted.
    """
    terms = phrase.split(" ")
    sides = [
        postings.where(F.col("term") == t).select(
            id_col, (F.col("pos") - i).alias("start")
        )
        for i, t in enumerate(terms)
    ]
    hits = sides[0]
    for s in sides[1:]:
        hits = hits.join(s, [id_col, "start"])
    return (
        hits.groupBy(id_col)
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_matches"))
        .orderBy(id_col)
    )


def token_pmi(
    docs: DataFrame,
    min_count: int = 5,
    k: int = 50,
    text_col: str = "text",
) -> DataFrame:
    """Top-k adjacent-token associations by pointwise mutual information:
    ``pmi(a,b) = ln(c_ab * N_pairs / (c_a' * c_b'))`` over within-document
    adjacent pairs (c' = the token's occurrences as pair-left/right
    respectively) — the collocation detector ("new york", "machine
    learning") a corpus-curation pass runs to find multi-word units worth
    protecting from tokenization or dedup shingling.

    Plan: one map-side explode builds adjacent pairs with the
    index-sequence idiom (no posexplode self-join), two partial->final
    hash aggregations count pairs and endpoints, the vocab-sized endpoint
    counts join back onto the pair counts, and every PMI input is an exact
    integer with one rounded ``ln`` — value-exact vs the DuckDB twin.
    ``min_count`` keeps rare-pair noise out (classic PMI failure mode).

    -> (a, b, n_pair, pmi) top-k by (pmi desc, a, b).
    """
    toks = ensure_parallelism(docs).select(
        F.col("doc_id"), tokens(text_col).alias("ts")
    )
    pairs = toks.where(F.size("ts") >= 2).select(
        F.explode(
            F.expr(
                "transform(sequence(0, size(ts) - 2), "
                "i -> struct(ts[i] AS a, ts[i + 1] AS b))"
            )
        ).alias("p")
    ).select("p.a", "p.b")
    pc = pairs.groupBy("a", "b").agg(F.count(F.lit(1)).alias("n_pair"))
    left = pairs.groupBy("a").agg(F.count(F.lit(1)).alias("n_a"))
    right = pairs.groupBy("b").agg(F.count(F.lit(1)).alias("n_b"))
    total = pairs.agg(F.count(F.lit(1)).alias("n_total"))
    w = Window.orderBy(F.desc("pmi"), F.asc("a"), F.asc("b"))
    return (
        pc.where(F.col("n_pair") >= min_count)
        .join(left, "a")
        .join(right, "b")
        .crossJoin(F.broadcast(total))
        .withColumn(
            "pmi",
            F.round(
                F.log(
                    F.col("n_pair").cast("double")
                    * F.col("n_total")
                    / (F.col("n_a").cast("double") * F.col("n_b"))
                ),
                6,
            ),
        )
        .withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= k)
        .select("a", "b", "n_pair", "pmi")
        .orderBy(F.desc("pmi"), "a", "b")
    )


# --------------------------------------------------------------------------
# Arrow text-profile kernel (r10): the fused per-doc text stats, batch-
# vectorized. The r9 "Arrow bound" experiment rejected a pandas-string
# kernel (85% of the JVM cost); this is a different class — NumPy over
# ONE concatenated byte buffer per Arrow batch with np.add.reduceat for
# per-doc reductions, so per-batch cost is ~a dozen vector passes
# regardless of document count. Value parity is BIT-exact with
# text_profile (incl. Spark's HALF_UP round-6) on the real corpus —
# pinned in tests/test_text.py.
# --------------------------------------------------------------------------

_TP_CODES = list(LANG_MARKERS)


def _tok64_const(w: str):
    import numpy as np

    b = w.encode("utf-8")[:8].ljust(8, b"\0")
    return np.frombuffer(b, dtype=np.uint64)[0]


def _rhu6(x):
    """Spark round(x, 6) = BigDecimal HALF_UP; floor(x*1e6+0.5)/1e6
    reproduces it bit-exact on the corpus (parity-pinned; the fallback
    path uses the same formula so both speeds share one spec)."""
    import numpy as np

    return np.floor(x * 1e6 + 0.5) / 1e6


def _tp_fallback(text: str):
    """Reference-semantics scalar path for docs the vectorized path
    excludes (empty, non-ASCII, leading/trailing/double spaces). Spark's
    ``split(text, ' ')`` is limit=-1 — ALL empty tokens kept, including
    trailing ones — which is exactly Python ``str.split(" ")``."""
    import re

    import numpy as np

    toks = text.split(" ")
    n_tokens = len(toks)
    n_chars = len(text)
    n_spaces = text.count(" ")
    stop = sum(1 for t in toks if t in STOPWORDS)
    scores = [
        sum(1 for t in toks if t in LANG_MARKERS[c]) for c in _TP_CODES
    ]
    avg = _rhu6(np.float64(n_chars - n_spaces) / n_tokens)
    sr = _rhu6(np.float64(stop) / n_tokens)
    q = _rhu6(min(1.0, n_tokens / 100.0) * (1.0 - 0.5 * sr))
    nb = len(re.findall(BPE_PATTERN, text))
    pred = _TP_CODES[-1]
    for i, c in enumerate(_TP_CODES):
        if all(
            scores[i] >= scores[j] for j in range(len(_TP_CODES)) if j != i
        ):
            pred = c
            break
    return n_chars, n_tokens, avg, sr, q, nb, pred


def _tp_batch(texts):
    """Vectorized batch step: one byte buffer, reduceat per-doc sums,
    uint64-view token matching (every ASCII marker/stopword is <= 8
    bytes), run-start masks for the BPE count."""
    import numpy as np

    stop64 = np.array([_tok64_const(w) for w in STOPWORDS], dtype=np.uint64)
    mark64 = {
        c: np.array(
            [_tok64_const(w) for w in ws if w.isascii()], dtype=np.uint64
        )
        for c, ws in LANG_MARKERS.items()
    }
    n = len(texts)
    o_chars = np.zeros(n, np.int64)
    o_tok = np.zeros(n, np.int64)
    o_avg = np.zeros(n)
    o_sr = np.zeros(n)
    o_q = np.zeros(n)
    o_bpe = np.zeros(n, np.int64)
    o_pred = np.empty(n, object)
    clean, bufs, lens, nulls = [], [], [], []
    for i, t in enumerate(texts):
        if t is None:
            nulls.append(i)  # NULL text -> NULL row (JVM null propagation)
        elif (
            t and t.isascii() and t[0] != " " and t[-1] != " "
            and "  " not in t and "\x00" not in t
        ):
            # NUL exclusion (r10 advice): isascii() admits NUL, and a
            # token like 'the\x00' would collide with stopword 'the'
            # after zero-padding in the uint64 token match — such texts
            # take the exact scalar fallback. ONLY the zero byte can
            # collide with the padding (any other control byte differs
            # byte-exact in the view), and the substring test is a
            # C-level memchr — the r11 first cut (min(t) >= ' ') scanned
            # chars at Python speed and cost 10x at sf10.
            clean.append(i)
            bufs.append(t.encode())
            lens.append(len(t))
        else:
            (
                o_chars[i], o_tok[i], o_avg[i], o_sr[i], o_q[i],
                o_bpe[i], o_pred[i],
            ) = _tp_fallback(t)
    def _finalize():
        if not nulls:
            return o_chars, o_tok, o_avg, o_sr, o_q, o_bpe, o_pred
        outs = []
        for arr in (o_chars, o_tok, o_avg, o_sr, o_q, o_bpe, o_pred):
            obj = arr.astype(object)
            for i in nulls:
                obj[i] = None
            outs.append(obj)
        return tuple(outs)

    if not clean:
        return _finalize()
    lens = np.array(lens, np.int64)
    starts = np.zeros(len(lens), np.int64)
    np.cumsum(lens[:-1], out=starts[1:])
    ends = starts + lens
    a = np.frombuffer(b"".join(bufs), np.uint8)
    ci = np.array(clean)
    space = a == 32
    nsp = np.add.reduceat(space, starts)
    ntok = nsp + 1  # clean docs: no empty tokens
    o_chars[ci] = lens
    o_tok[ci] = ntok
    o_avg[ci] = _rhu6((lens - nsp).astype(np.float64) / ntok)
    sp = np.flatnonzero(space)
    tstart = np.sort(np.concatenate([starts, sp + 1]))
    tend = np.sort(np.concatenate([sp, ends]))
    tlen = tend - tstart
    tdoc = np.searchsorted(starts, tstart, side="right") - 1
    ap = np.concatenate([a, np.zeros(8, np.uint8)])
    vals = ap[tstart[:, None] + np.arange(8)]
    vals = vals * (np.arange(8) < tlen[:, None])
    t64 = vals.copy().view(np.uint64).ravel()
    t64 = np.where(tlen <= 8, t64, np.uint64(0xFFFFFFFFFFFFFFFF))
    nd = len(lens)
    stop_cnt = np.bincount(tdoc[np.isin(t64, stop64)], minlength=nd)
    sr = _rhu6(stop_cnt.astype(np.float64) / ntok)
    o_sr[ci] = sr
    o_q[ci] = _rhu6(np.minimum(1.0, ntok / 100.0) * (1.0 - 0.5 * sr))
    scores = np.zeros((nd, len(_TP_CODES)), np.int64)
    for j, c in enumerate(_TP_CODES):
        if len(mark64[c]):
            scores[:, j] = np.bincount(
                tdoc[np.isin(t64, mark64[c])], minlength=nd
            )
    # argmax returns the FIRST max — exactly the en>de>fr>es>zh priority
    pred_i = np.argmax(scores, axis=1)
    for j, c in enumerate(_TP_CODES):
        for i2 in np.flatnonzero(pred_i == j):
            o_pred[ci[i2]] = c
    letter = ((a >= 65) & (a <= 90)) | ((a >= 97) & (a <= 122))
    digit = (a >= 48) & (a <= 57)
    other = ~(letter | digit | space)
    prev_l = np.concatenate([[False], letter[:-1]])
    prev_l[starts] = False  # runs never span documents
    prev_d = np.concatenate([[False], digit[:-1]])
    prev_d[starts] = False
    runs = (letter & ~prev_l) | (digit & ~prev_d)
    o_bpe[ci] = np.add.reduceat(runs | other, starts)
    return _finalize()


def text_profile_arrow(docs: DataFrame) -> DataFrame:
    """Batch-vectorized twin of :func:`text_profile` — identical output,
    measured faster where the JVM string-kernel floor lives (the r9
    'documented kernel floor' re-adjudicated: the floor belonged to the
    JVM expression path, not to Spark).

    Same schema, same values (bit-exact parity pinned incl. HALF_UP
    rounding), same scale shape: pure map over Arrow batches, no
    shuffle; 100 TB fans out with the scan."""
    import pandas as pd

    def kernel(batches):
        for pdf in batches:
            c, t, avg, sr, q, nb, pred = _tp_batch(
                pdf["text"].values.tolist()
            )
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].values,
                    "n_chars": c,
                    "n_tokens": t,
                    "avg_token_len": avg,
                    "stopword_ratio": sr,
                    "quality_score": q,
                    "n_bpe_tokens": nb,
                    "lang_pred": pred,
                }
            )

    d = range_ordered(docs, "doc_id").select("doc_id", "text")
    return d.mapInPandas(
        kernel,
        "doc_id bigint, n_chars bigint, n_tokens bigint, "
        "avg_token_len double, stopword_ratio double, "
        "quality_score double, n_bpe_tokens bigint, lang_pred string",
    )


def token_entropy_per_lang(docs: DataFrame) -> DataFrame:
    """Shannon entropy of each language's token distribution — the
    corpus-diversity diagnostic mixing decisions read (a collapsing
    distribution is the first symptom of dedup/filter over-pruning).

    H = ln(N) - (sum c*ln c)/N over per-(lang, token) counts c: two
    bounded aggregations (token-keyed, then lang-keyed). Float enters
    only in ln(c); the cross-engine float-sum hazard is handled the
    doc_perplexity way — the FINAL value rounds to 6, far above the
    ~1e-12 partial-sum reorder noise (pinned value-exact vs the DuckDB
    twin, registry.TOKEN_ENTROPY_ORACLE).

    -> (lang, n_tokens, n_distinct, entropy)"""
    from compute_histogram_spark.functions.texthash import tokens

    cnt = (
        docs.select("lang", F.explode(tokens("text")).alias("t"))
        .groupBy("lang", "t")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    return (
        cnt.groupBy("lang")
        .agg(
            F.sum("c").alias("n_tokens"),
            F.count(F.lit(1)).alias("n_distinct"),
            F.sum(F.col("c") * F.log("c")).alias("clnc"),
        )
        .select(
            "lang",
            "n_tokens",
            "n_distinct",
            F.round(
                F.log("n_tokens") - F.col("clnc") / F.col("n_tokens"), 6
            ).alias("entropy"),
        )
        .orderBy("lang")
    )


def idf_top_terms(docs: DataFrame, k: int = 25) -> DataFrame:
    """The k most document-frequent terms with their smoothed IDF —
    the weight table a tf-idf retrieval stage broadcasts (BM25's idf
    cousin; operators/text.py:bm25_topk shares the df aggregation).

    df counts DISTINCT docs per token (set semantics, not occurrences);
    idf = ln(N / df) rounded 6 (single ln per row, no float sums).
    Deterministic top-k: (df DESC, token ASC) — compiles to
    TakeOrderedAndProject, no global sort. The corpus size N rides a
    ONE-row scalar crossJoin (the bm25/token_pmi pattern) so building
    this plan stays lazy — no count job at construction time (the
    eager-checkpoint lesson, ADVICE r11).

    -> (token, df, idf)"""
    from compute_histogram_spark.functions.texthash import tokens

    n = docs.agg(F.count(F.lit(1)).cast("double").alias("n_docs"))
    df_tbl = (
        docs.select("doc_id", F.explode(tokens("text")).alias("t"))
        .groupBy("t")
        .agg(F.count_distinct("doc_id").alias("df"))
    )
    return (
        df_tbl.crossJoin(F.broadcast(n))
        .select(
            F.col("t").alias("token"),
            "df",
            F.round(F.log(F.col("n_docs") / F.col("df")), 6).alias("idf"),
        )
        .orderBy(F.desc("df"), F.asc("token"))
        .limit(k)
    )


def vocab_growth(docs: DataFrame) -> DataFrame:
    """Heaps-law vocabulary growth curve: after ingesting documents in
    doc_id order, how many cumulative tokens have been seen and how
    large the distinct-token vocabulary is — the corpus diagnostic that
    separates healthy heterogeneous data (sublinear power-law growth)
    from template spam (early plateau) and noise (near-linear growth).

    Exact formulation: a token joins the vocabulary at its FIRST
    document (min doc_id containing it), so the curve is two token-keyed
    aggregations folded onto a doc-bounded checkpoint table. The
    cumulative sums over that table use the pack_shards TWO-PHASE
    PREFIX SCAN (range-bucket by doc_id -> per-bucket local windows in
    parallel -> O(n_buckets) per-bucket totals exclusive-scanned on the
    driver and broadcast back) — the checkpoint table has one row per
    DOCUMENT, so a naive single-partition global window would be the
    ORDER-BY-everything scale-killer the repo's plan audit exists to
    catch (it did).

    -> (doc_id, cum_tokens, vocab_size) ordered by doc_id."""
    from pyspark.sql import Window

    from compute_histogram_spark.functions.texthash import tokens

    tok = docs.select("doc_id", F.explode(tokens("text")).alias("t"))
    per_doc = tok.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_tok"))
    first = (
        tok.groupBy("t").agg(F.min("doc_id").alias("doc_id"))
        .groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_new"))
    )
    ckpt = (
        per_doc.hint("shuffle_hash")
        .join(first.hint("shuffle_hash"), "doc_id", "left")
        .select(
            "doc_id",
            F.col("n_tok"),
            F.coalesce("n_new", F.lit(0)).alias("n_new"),
        )
        # range partitioning is monotone in doc_id, so partition id IS
        # the scan bucket (concatenating buckets in id order = global
        # order) — the pack_shards step-1 with ranges instead of md5
        .repartitionByRange(32, "doc_id")
        .withColumn("bkt", F.spark_partition_id())
    )
    w = (
        Window.partitionBy("bkt")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    local = ckpt.select(
        "doc_id", "bkt",
        F.sum("n_tok").over(w).alias("loc_tok"),
        F.sum("n_new").over(w).alias("loc_new"),
    )
    totals = {
        r["bkt"]: (r["tt"], r["tn"])
        for r in ckpt.groupBy("bkt")
        .agg(F.sum("n_tok").alias("tt"), F.sum("n_new").alias("tn"))
        .collect()
    }
    run_t = run_n = 0
    offs = []
    for b in sorted(totals):
        offs.append((b, run_t, run_n))
        run_t += int(totals[b][0])
        run_n += int(totals[b][1])
    off_df = docs.sparkSession.createDataFrame(
        offs or [(0, 0, 0)], "bkt int, off_tok long, off_new long"
    )
    return (
        local.join(F.broadcast(off_df), "bkt")
        .select(
            "doc_id",
            (F.col("off_tok") + F.col("loc_tok")).cast("bigint")
            .alias("cum_tokens"),
            (F.col("off_new") + F.col("loc_new")).cast("bigint")
            .alias("vocab_size"),
        )
        .orderBy("doc_id")
    )


# default list used by the registry twin: tokens drawn from the synthetic
# corpus vocabulary so the fractions exercise all branches.
DEFAULT_BLOCKLIST = ("slow", "drop", "stale")


def blocklist_signals(
    docs: DataFrame,
    blocklist: tuple[str, ...] = DEFAULT_BLOCKLIST,
    max_frac: float = 0.05,
) -> DataFrame:
    """C4-style blocklist filtering (Raffel et al. 2020 drop pages with
    any "List of Dirty, Naughty ..." word; the fraction form generalizes
    it to a tunable gate).

    Per document: token count, blocked-token count, blocked fraction and
    the pass/fail gate -- all JVM-side array expressions in the scan
    stage (one narrow map, no shuffle but the presentational sort; at
    100 TB filter on ``blocklist_pass`` directly and drop the sort).
    The blocklist is a literal array in the plan -- for lists beyond a
    few thousand words switch to a broadcast join on the exploded token
    (same result, still no data-scaled shuffle).
    """
    docs = range_ordered(docs, "doc_id")
    bl = F.array([F.lit(w) for w in blocklist])
    t = docs.select("doc_id", tokens("text").alias("toks"))
    n = F.size("toks")
    n_blocked = F.size(F.filter("toks", lambda x: F.array_contains(bl, x)))
    sig = t.select(
        "doc_id",
        n.cast("bigint").alias("n_tokens"),
        n_blocked.cast("bigint").alias("n_blocked"),
        F.when(n > 0, F.round(n_blocked * 1.0 / n, 6))
        .otherwise(F.lit(0.0))
        .alias("blocked_frac"),
    )
    return sig.withColumn(
        "blocklist_pass", F.col("blocked_frac") <= max_frac
    ).sortWithinPartitions("doc_id")


def skipgram_pairs(
    docs: DataFrame,
    window: int = 2,
    min_count: int = 5,
    k: int = 25,
    text_col: str = "text",
) -> DataFrame:
    """Top-k skip-gram co-occurrences: ordered token pairs within a
    ±``window`` position band — the word2vec/GloVe context-count pass a
    corpus-curation pipeline runs before embedding training (staged
    r16, wave-13 bank).

    Plan: ONE corpus scan and ONE tokenize — the per-distance pair
    arrays are built inside a single row-level expression and exploded
    once (an earlier per-distance union re-scanned and re-split the
    corpus once per distance: measured 3.39 s vs 1.9 s at sf10) — then
    one partial->final hash aggregation; exact integer counts; top-k is
    deterministic on (n desc, a, b) and rides the rank-filter
    WindowGroupLimit pushdown (partial per-partition limit before the
    single ordered window — the token_pmi idiom, accepted by
    tools/plan_audit.py without listing).

    -> (a, b, n_pairs) top-k by (n_pairs desc, a, b)."""
    from compute_histogram_spark.functions.texthash import tokens
    from compute_histogram_spark.sources.tables import ensure_parallelism

    toks = ensure_parallelism(docs).select(tokens(text_col).alias("ts"))
    # guard each distance: sequence(0, negative) DESCENDS in Spark, so a
    # too-short doc must yield an explicitly typed empty array instead
    per_dist = ", ".join(
        f"if(size(ts) > {d}, transform(sequence(0, size(ts) - 1 - {d}), "
        f"i -> struct(ts[i] AS a, ts[i + {d}] AS b)), "
        f"cast(array() AS array<struct<a: string, b: string>>))"
        for d in range(1, window + 1)
    )
    pairs = toks.select(
        F.explode(F.expr(f"flatten(array({per_dist}))")).alias("p")
    ).select("p.a", "p.b")
    w = Window.orderBy(F.desc("n_pairs"), F.asc("a"), F.asc("b"))
    return (
        pairs.groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
        .where(F.col("n_pairs") >= min_count)
        .withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= k)
        .select("a", "b", "n_pairs")
        .orderBy(F.desc("n_pairs"), "a", "b")
    )


# (numerator, denominator) rational percentiles — integer-exact rank
# selection, zero float arithmetic anywhere (staged r16): the k-th
# smallest value of a multiset is well-defined regardless of tie order,
# and idx = ceil(num*n/den) computes as (num*n + den - 1) div den.
LENGTH_QUANTILE_PS = ((25, 100), (50, 100), (75, 100), (90, 100))


def doc_length_quantiles(
    docs: DataFrame,
    ps=LENGTH_QUANTILE_PS,
    len_col: str = "n_chars",
    group_col: str = "lang",
) -> DataFrame:
    """Per-group exact length quantiles by INTEGER rank selection — the
    corpus length-distribution audit (truncation budgeting, chunk-size
    calibration) without percentile_approx's error bounds or
    interpolated floats (staged r16, wave-13 bank).

    Scale shape: counts collapse to (group, length) first — bounded by
    |groups| x |distinct lengths|, NOT by rows — then a window cumsum
    over those bounded rows and a broadcast of the tiny rational
    percentile list. The quantile spec is idx = ceil(p*n) computed in
    exact integer arithmetic, so both engines select the identical
    element under any partitioning.

    -> (group, pct, n_docs, q_len) ordered by (group, pct)."""
    cnt = docs.groupBy(
        F.col(group_col).alias("g"), F.col(len_col).alias("len")
    ).agg(F.count(F.lit(1)).alias("c"))
    w = Window.partitionBy("g").orderBy("len")
    cum = cnt.withColumn("cum", F.sum("c").over(w)).withColumn(
        "n", F.sum("c").over(Window.partitionBy("g"))
    )
    ps_df = F.broadcast(
        docs.sparkSession.createDataFrame(
            [(num, den) for num, den in ps], "num INT, den INT"
        )
    )
    hit = cum.crossJoin(ps_df).where(
        F.col("cum") * F.col("den") >= F.col("num") * F.col("n")
    )
    return (
        hit.groupBy("g", "num", "den", "n")
        .agg(F.min("len").alias("q_len"))
        .select(
            F.col("g").alias(group_col),
            (F.col("num") * 100 / F.col("den")).cast("int").alias("pct"),
            F.col("n").alias("n_docs"),
            "q_len",
        )
        .orderBy(group_col, "pct")
    )

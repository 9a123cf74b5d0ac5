from pyspark.sql import Row

from compute_histogram_spark.operators import text as TX


def docs_df(spark):
    return spark.createDataFrame(
        [
            Row(doc_id=0, lang="en", text="the cat and the hat"),
            Row(doc_id=1, lang="de", text="der hund und die katze"),
            Row(doc_id=2, lang="en", text="abc123 def!"),
        ]
    )


def test_text_stats(spark):
    out = {r["doc_id"]: r for r in TX.text_stats(docs_df(spark)).collect()}
    r0 = out[0]
    assert r0["n_tokens"] == 5
    assert r0["n_chars"] == 19
    assert r0["stopword_ratio"] == 0.6  # the, and, the
    assert 0 < r0["quality_score"] <= 1.0


def test_lang_id(spark):
    out = {r["doc_id"]: r for r in TX.lang_id(docs_df(spark)).collect()}
    assert out[0]["lang_pred"] == "en" and out[0]["s_en"] == 3
    assert out[1]["lang_pred"] == "de" and out[1]["s_de"] == 3
    # no markers at all -> en wins by >= tie-break priority
    assert out[2]["lang_pred"] == "en"


def test_token_counts_bpe_split(spark):
    out = {r["doc_id"]: r for r in TX.token_counts(docs_df(spark)).collect()}
    # "abc123 def!" -> ws: 2; bpe: abc|123|def|! = 4
    assert out[2]["n_ws_tokens"] == 2
    assert out[2]["n_bpe_tokens"] == 4


def test_doc_fingerprint_deterministic(spark):
    a = TX.doc_fingerprint(docs_df(spark)).collect()
    b = TX.doc_fingerprint(docs_df(spark)).collect()
    assert a == b
    assert all(isinstance(r["fingerprint"], int) for r in a)


def test_xxh64_twin_matches_spark(spark):
    """Validate the pure-Python XXH64 oracle against the JVM: every
    length class of the spec (empty, <4, 4-7, 8-31, >=32 bytes incl.
    multi-byte UTF-8) must agree bit-for-bit — this is what licenses
    xxh64_ref as the doc_fingerprint value oracle."""
    from pyspark.sql import functions as F

    from xxh64_ref import xxh64_signed

    strs = [
        "", "a", "ab", "abc", "abcd", "abcde", "1234567", "12345678",
        "123456789", "0123456789abcde", "0123456789abcdef",
        "0123456789abcdef0123456789abcde",
        "0123456789abcdef0123456789abcdef",
        "0123456789abcdef0123456789abcdefX",
        "the cat and the hat", "日本語テキスト", "x" * 100, "émoji🙂mix",
    ]
    df = spark.createDataFrame([Row(s=s) for s in strs])
    for r in df.select("s", F.xxhash64("s").alias("h")).collect():
        assert r["h"] == xxh64_signed(r["s"]), repr(r["s"])


def test_doc_fingerprint_xxh64_oracle(spark):
    """Value-pin the production kernel: min over xxhash64 of the 8-char
    grams (short docs hash the whole text) against the pure-Python twin."""
    from xxh64_ref import xxh64_signed

    texts = {
        0: "the cat and the hat",
        1: "der hund und die katze",
        2: "abc123 def!",
        3: "short",  # < 8 chars: the whole text is the one gram
        4: "exactly8",  # == 8 chars
        5: "a longer document with enough text to produce many grams " * 3,
    }
    df = spark.createDataFrame(
        [Row(doc_id=k, lang="en", text=v) for k, v in texts.items()]
    )
    out = {r["doc_id"]: r for r in TX.doc_fingerprint(df).collect()}
    for k, text in texts.items():
        grams = (
            [text[i : i + 8] for i in range(len(text) - 7)]
            if len(text) >= 8
            else [text]
        )
        assert out[k]["fingerprint"] == min(xxh64_signed(g) for g in grams)
        assert out[k]["n_grams"] == len(set(grams))


def test_doc_fingerprint_md5_twin_same_shape(spark):
    """The md5 twin keeps the engine-portable digest: same docs, same
    n_grams, hex-string fingerprint."""
    xx = {r["doc_id"]: r for r in TX.doc_fingerprint(docs_df(spark)).collect()}
    md = {
        r["doc_id"]: r
        for r in TX.doc_fingerprint_md5(docs_df(spark)).collect()
    }
    assert set(xx) == set(md)
    for k in xx:
        assert xx[k]["n_grams"] == md[k]["n_grams"]
        assert len(md[k]["fingerprint"]) == 32


def test_top_tokens(spark):
    out = TX.top_tokens(docs_df(spark), k=2).collect()
    assert out[0]["token"] == "the" and out[0]["n"] == 2


# quality_signals rotated INTO the registry window late r6; its oracle
# now lives in registry.py (driver-checked) — small-fixture test kept.
def test_quality_signals_small(spark):
    rows = [
        Row(doc_id=0, lang="en", text="a b a b a b a b a b"),  # modal bigram heavy
        Row(doc_id=1, lang="en", text="one two three four five six"),
        Row(doc_id=2, lang="en", text="x"),  # single word: no grams
        Row(doc_id=3, lang="en", text="!! ?? !! ?? 12 34"),  # no alpha words
    ]
    out = {r["doc_id"]: r for r in TX.quality_signals(spark.createDataFrame(rows)).collect()}
    # doc 0: 10 words, bigrams = 9, modal ("a b") appears 5x
    assert out[0]["n_words"] == 10
    assert out[0]["top_bigram_frac"] == round(5 / 9, 6)
    assert out[0]["dup_word_frac"] == 0.8
    assert out[0]["dup_trigram_frac"] == round(6 / 8, 6)
    assert not out[0]["gopher_pass"]  # repetition trips the bigram band
    # doc 1: all distinct
    assert out[1]["dup_word_frac"] == 0.0 and out[1]["top_bigram_frac"] == 0.2
    # doc 2: no grams -> zero fractions, short-doc fail
    assert out[2]["top_bigram_frac"] == 0.0 and out[2]["dup_trigram_frac"] == 0.0
    assert not out[2]["gopher_pass"]
    # doc 3: zero alpha fraction
    assert out[3]["frac_alpha_words"] == 0.0 and not out[3]["gopher_pass"]


def test_quality_signals_vs_duckdb_oracle(spark, sf_dir):
    """Value-exact DuckDB twin over the real documents table — oracle SQL
    from the registry entry (rotated into the driver window late r6)."""
    import os
    import sys

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))
    from check_oracle import compare, duck_connection

    from compute_histogram_spark.registry import ORACLES
    from compute_histogram_spark.sources.tables import load

    sdf = TX.quality_signals(load(spark, sf_dir, "documents")).toPandas()
    con = duck_connection(sf_dir)
    odf = con.sql(ORACLES["quality_signals"]).df()
    assert len(sdf) > 0
    assert compare("quality_signals", sdf, odf) == []


BM25_ORACLE = """
WITH tl AS (
    SELECT doc_id, len(string_split(text, ' ')) AS dl,
           string_split(text, ' ') AS toks
    FROM documents
),
scal AS (SELECT count(*) AS n_docs, sum(dl) AS sum_dl FROM tl),
posting AS (
    SELECT doc_id, dl, term, count(*) AS tf
    FROM (SELECT doc_id, dl, unnest(toks) AS term FROM tl)
    WHERE term IN ('spark', 'merge', 'window')
    GROUP BY doc_id, dl, term
),
dft AS (SELECT term, count(*) AS df FROM posting GROUP BY term),
scored AS (
    SELECT doc_id, round(sum(
        ln(1 + (n_docs - df + 0.5) / (df + 0.5)) * (tf * 2.2)
        / (tf + 1.2 * (1 - 0.75 + 0.75 * dl
                       / (sum_dl / CAST(n_docs AS DOUBLE))))
    ), 6) AS bm25
    FROM posting JOIN dft USING (term) CROSS JOIN scal
    GROUP BY doc_id
)
SELECT doc_id, bm25, rank FROM (
    SELECT doc_id, bm25,
           row_number() OVER (ORDER BY bm25 DESC, doc_id) AS rank
    FROM scored)
WHERE rank <= 10 ORDER BY rank
"""


def test_bm25_golden(spark):
    """tf saturation + length normalization + idf on a tiny corpus."""
    rows = [
        Row(doc_id=0, text="spark spark spark spark"),      # high tf, short
        Row(doc_id=1, text="spark merge"),                  # two query terms
        Row(doc_id=2, text="merge " + "pad " * 50 + "end"), # long doc penalty
        Row(doc_id=3, text="nothing relevant here"),        # no hit
    ]
    out = TX.bm25_topk(
        spark.createDataFrame(rows), ("spark", "merge"), k=10
    ).collect()
    got = {r["doc_id"]: (r["bm25"], r["rank"]) for r in out}
    assert 3 not in got                      # zero-hit docs don't appear
    assert got[1][1] == 1                    # two distinct terms beat tf=4
    # doc 0 (short, tf=4) outranks doc 2 (long, tf=1) on the shared idf
    assert got[0][0] > got[2][0]
    # tf saturation: tf=4 scores < 4x tf=1 of same term in a short doc
    assert got[0][0] < 4 * got[1][0]


def test_bm25_vs_duckdb_oracle(spark, sf_dir):
    """Value-exact DuckDB twin on the real documents table. Since round 5
    this is ALSO a registry entry (swapped in for the rows-only
    similarity_topk_kmeans); this test keeps the oracle evidence local."""
    import os
    import sys

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))
    from check_oracle import compare, duck_connection

    from compute_histogram_spark.sources.tables import load

    sdf = TX.bm25_topk(
        load(spark, sf_dir, "documents"), ("spark", "merge", "window"), k=10
    ).toPandas()
    con = duck_connection(sf_dir)
    odf = con.sql(BM25_ORACLE).df()
    assert len(sdf) == 10
    assert compare("bm25_topk", sdf, odf) == []


def test_phrase_match_golden(spark):
    """Token-boundary semantics: substring-only hits don't match;
    overlapping occurrences each count; repeated-word phrases work."""
    rows = [
        Row(doc_id=0, text="the sort merge join"),       # 1 match
        Row(doc_id=1, text="sortx merge sort mergey"),   # substrings only: 0
        Row(doc_id=2, text="sort merge sort merge"),     # 2 matches
        Row(doc_id=3, text="merge sort"),                # wrong order: 0
        Row(doc_id=4, text="a a a"),                     # overlapping "a a": 2
    ]
    idx = TX.build_postings(spark.createDataFrame(rows))
    out = {r["doc_id"]: r["n_matches"] for r in TX.phrase_match(idx, "sort merge").collect()}
    assert out == {0: 1, 2: 2}
    rep = {r["doc_id"]: r["n_matches"] for r in TX.phrase_match(idx, "a a").collect()}
    assert rep == {4: 2}


def test_phrase_match_vs_duckdb_oracle(spark, sf_dir):
    """Doc set equals DuckDB's independent boundary-padded substring
    formulation on the real corpus, for a 2- and a 3-token phrase."""
    import os
    import sys

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))
    from check_oracle import compare, duck_connection

    from compute_histogram_spark.sources.tables import load

    idx = TX.build_postings(load(spark, sf_dir, "documents"))
    con = duck_connection(sf_dir)
    for phrase in ("sort merge", "the fast key"):
        sdf = TX.phrase_match(idx, phrase).select("doc_id").toPandas()
        odf = con.sql(
            "SELECT doc_id FROM documents "
            f"WHERE contains(' ' || text || ' ', ' {phrase} ') ORDER BY doc_id"
        ).df()
        assert len(sdf) > 0
        assert compare(f"phrase:{phrase}", sdf, odf) == []


def test_token_pmi_golden(spark):
    """A bound pair ("new york" always together) must out-score a frequent
    but unassociated pair."""
    rows = [
        Row(doc_id=i, text="new york " + "the cat sat on the mat " * 3)
        for i in range(5)
    ]
    out = TX.token_pmi(spark.createDataFrame(rows), min_count=3, k=10).collect()
    scores = {(r["a"], r["b"]): r["pmi"] for r in out}
    assert ("new", "york") in scores
    # 'new york' is perfectly bound; 'the cat' shares 'the' with 'the mat'
    assert scores[("new", "york")] > scores.get(("the", "cat"), -1e9)
    # ranks ordered by pmi desc
    pmis = [r["pmi"] for r in out]
    assert pmis == sorted(pmis, reverse=True)


def test_token_pmi_vs_duckdb_oracle(spark, sf_dir):
    import os
    import sys

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))
    from check_oracle import compare, duck_connection

    from compute_histogram_spark.sources.tables import load

    sdf = TX.token_pmi(load(spark, sf_dir, "documents"), min_count=3,
                       k=50).toPandas()
    con = duck_connection(sf_dir)
    odf = con.sql("""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
    p AS (
        SELECT ts[i] AS a, ts[i + 1] AS b
        FROM (SELECT ts, unnest(generate_series(1, len(ts) - 1)) AS i FROM t
              WHERE len(ts) >= 2)
    ),
    pc AS (SELECT a, b, count(*) AS n_pair FROM p GROUP BY a, b),
    la AS (SELECT a, count(*) AS n_a FROM p GROUP BY a),
    rb AS (SELECT b, count(*) AS n_b FROM p GROUP BY b),
    tot AS (SELECT count(*) AS n_total FROM p)
    SELECT a, b, n_pair, pmi FROM (
        SELECT a, b, n_pair,
               round(ln(CAST(n_pair AS DOUBLE) * n_total
                        / (CAST(n_a AS DOUBLE) * n_b)), 6) AS pmi,
               row_number() OVER (ORDER BY
                   round(ln(CAST(n_pair AS DOUBLE) * n_total
                            / (CAST(n_a AS DOUBLE) * n_b)), 6) DESC, a, b)
                   AS rnk
        FROM pc JOIN la USING (a) JOIN rb USING (b) CROSS JOIN tot
        WHERE n_pair >= 3
    ) WHERE rnk <= 50 ORDER BY pmi DESC, a, b
    """).df()
    assert len(sdf) > 0
    assert compare("token_pmi", sdf, odf) == []


def test_bpe_token_count_matches_regex(spark):
    """bpe_token_count (translate-collapsed alphabet, no raw-text regex)
    must equal regexp_count(text, BPE_PATTERN) exactly — run/other
    adjacency, unicode, and empty-ish cases."""
    from pyspark.sql import functions as F

    texts = [
        "batch part 42 spark!",
        "a",
        " ",
        "  double  spaces  ",
        "abc123def",
        "4!!5",
        "...",
        "日本語テキスト mixed ASCII 123",
        "émoji🙂mix a0a0a0",
        "trailing!",
        "!leading",
        "UPPER lower 0909 @#$%",
    ]
    df = spark.createDataFrame([Row(doc_id=i, text=t) for i, t in enumerate(texts)])
    out = df.select(
        "doc_id",
        TX.bpe_token_count().alias("fast"),
        F.regexp_count("text", F.lit(TX.BPE_PATTERN)).cast("bigint").alias("ref"),
    ).collect()
    for r in out:
        assert r["fast"] == r["ref"], texts[r["doc_id"]]


# ------------------------------------------ Arrow fingerprint kernel (r10)


def _splitmix64_ref(b8: bytes) -> int:
    """Independent pure-Python splitmix64 twin over 8 little-endian
    bytes -> signed 64-bit (the doc_fingerprint_arrow hash spec)."""
    import struct

    m = (1 << 64) - 1
    x = struct.unpack("<Q", b8)[0]
    x ^= x >> 30
    x = (x * 0xBF58476D1CE4E5B9) & m
    x ^= x >> 27
    x = (x * 0x94D049BB133111EB) & m
    x ^= x >> 31
    return x - (1 << 64) if x >= 1 << 63 else x


def _fp_ref(text: str, gram: int = 8):
    grams = [text[i:i + gram] for i in range(max(len(text) - gram + 1, 1))]
    if not grams:
        grams = [text]
    hs = [
        _splitmix64_ref(g.encode("utf-8")[:8].ljust(8, b"\0"))
        for g in grams
    ]
    return min(hs), len(set(grams))


def test_fingerprint_arrow_hash_spec():
    """Kernel per-doc step == the independent pure-Python spec twin, on
    ASCII (vectorized path), unicode and short docs (fallback path)."""
    from compute_histogram_spark.operators.text import _fp_one_doc

    cases = [
        "the quick brown fox jumps over the lazy dog",
        "aaaaaaaaaaaaaaaa",            # all-identical grams
        "abcdefgh",                    # exactly one gram
        "short",                       # < gram chars
        "",                            # empty
        "héllo wörld ünïcode dòc",     # multi-byte fallback
        "emoji \U0001f600 tail text",  # astral fallback
    ]
    for t in cases:
        got = _fp_one_doc(t, 8)
        want = _fp_ref(t, 8)
        assert (int(got[0]), int(got[1])) == want, repr(t)


def test_fingerprint_arrow_general_gram():
    """gram != 8 takes the generalized vectorized path (r10 advice: the
    old kernel silently mis-hashed gram 16 and raised on non-multiples
    of 8): hash = first min(gram, 8) bytes zero-padded, n_grams = exact
    distinct FULL grams — same spec twin at every gram size."""
    from compute_histogram_spark.operators.text import _fp_one_doc

    texts = [
        "the quick brown fox jumps over the lazy dog",
        "abcabcabcabcabcabcabc",
        # two 9-grams sharing their first 8 bytes ("abcdefgh1" vs
        # "abcdefgh2"): full-gram distincts > 8-byte-prefix distincts,
        # so a prefix-based count would fail here
        "abcdefgh1abcdefgh2",
        "aaaaaaaaaaaaaaaaaaaaaa",
        "héllo wörld ünïcode dòc fallback path",
    ]
    for t in texts:
        for gram in (3, 4, 7, 9, 12, 16):
            got = _fp_one_doc(t, gram)
            want = _fp_ref(t, gram)
            assert (int(got[0]), int(got[1])) == want, (repr(t), gram)


def test_fingerprint_arrow_ngrams_matches_jvm(spark, sf_dir):
    """n_grams (exact distinct char-grams) is value-identical between
    the Arrow kernel and the JVM array_distinct formulation on the real
    corpus — the bijectivity-of-uint64-view property at data scale."""
    from compute_histogram_spark.operators.text import (
        doc_fingerprint,
        doc_fingerprint_arrow,
    )
    from compute_histogram_spark.sources.tables import load

    docs = load(spark, sf_dir, "documents")
    jvm = doc_fingerprint(docs).select("doc_id", "n_grams")
    arw = doc_fingerprint_arrow(docs).selectExpr(
        "doc_id", "n_grams AS n2"
    )
    assert jvm.join(arw, "doc_id").where("n_grams != n2").count() == 0


def test_fingerprint_arrow_plan_is_pure_map(spark, sf_dir):
    """No shuffle: the kernel must stay an embarrassingly parallel map
    stage (the 100 TB contract of the JVM form, preserved)."""
    from compute_histogram_spark.operators.text import doc_fingerprint_arrow
    from compute_histogram_spark.sources.tables import load

    plan = doc_fingerprint_arrow(
        load(spark, sf_dir, "documents")
    )._jdf.queryExecution().executedPlan().toString()
    # the one allowed Exchange is range_ordered's deliberate parallelism
    # fan-out (same as the JVM form); no aggregation/join machinery
    assert plan.count("Exchange") <= 1
    assert "hashpartitioning" not in plan
    assert "HashAggregate" not in plan and "Join" not in plan


def test_text_profile_arrow_bit_exact(spark, sf_dir):
    """The vectorized Arrow text kernel is BIT-exact with the JVM
    text_profile on the real corpus — every column, including the
    HALF_UP round-6 doubles."""
    from compute_histogram_spark.operators.text import (
        text_profile,
        text_profile_arrow,
    )
    from compute_histogram_spark.sources.tables import load

    docs = load(spark, sf_dir, "documents")
    a = text_profile(docs).orderBy("doc_id").toPandas()
    b = text_profile_arrow(docs).orderBy("doc_id").toPandas()
    assert list(a.columns) == list(b.columns)
    for c in a.columns:
        assert (a[c].values == b[c].values).all(), c


def test_text_profile_arrow_fallback_edges(spark):
    """Docs the vectorized path excludes (unicode, double/leading/
    trailing spaces, empty) take the scalar fallback and still match the
    JVM form exactly — incl. Spark split's limit=-1 rule (ALL empty
    tokens kept, trailing included)."""
    from pyspark.sql import Row

    from compute_histogram_spark.operators.text import (
        text_profile,
        text_profile_arrow,
    )

    rows = [
        Row(doc_id=1, text="the quick brown fox"),
        Row(doc_id=2, text="  leading double"),
        Row(doc_id=3, text="trailing space "),
        Row(doc_id=4, text="double  space inside"),
        Row(doc_id=5, text="héllo wörld der die und"),
        Row(doc_id=6, text="的 是 了 的"),
        Row(doc_id=7, text="le la et les et"),
        Row(doc_id=8, text="a"),
        Row(doc_id=9, text="123 abc !? mixed42runs"),
    ]
    df = spark.createDataFrame(rows)
    a = text_profile(df).orderBy("doc_id").toPandas()
    b = text_profile_arrow(df).orderBy("doc_id").toPandas()
    for c in a.columns:
        assert (a[c].values == b[c].values).all(), (c, a[c].values, b[c].values)


def test_arrow_kernels_null_text(spark):
    """NULL text propagates as NULL output rows in both Arrow kernels
    (crawl-scale data has nulls), matching the JVM forms."""
    from pyspark.sql import Row

    from compute_histogram_spark.operators.text import (
        doc_fingerprint_arrow,
        text_profile_arrow,
    )

    df = spark.createDataFrame(
        [Row(doc_id=1, text="the quick brown fox"),
         Row(doc_id=2, text=None),
         Row(doc_id=3, text="another normal document")],
        "doc_id bigint, text string",
    )
    fp = {r.doc_id: r for r in doc_fingerprint_arrow(df).collect()}
    assert fp[2].fingerprint is None and fp[2].n_grams is None
    assert fp[1].fingerprint is not None
    tp = {r.doc_id: r for r in text_profile_arrow(df).collect()}
    assert tp[2].n_tokens is None and tp[2].lang_pred is None
    assert tp[1].n_tokens == 4 and tp[3].n_tokens == 3
    # and the JVM forms agree on the NULL row (r10 advice: this parity
    # was claimed but never checked — the old when-chain leaked 'zh')
    from compute_histogram_spark.operators.text import (
        doc_fingerprint,
        text_profile,
    )

    jf = {r.doc_id: r for r in doc_fingerprint(df).collect()}
    assert jf[2].fingerprint is None and jf[2].n_grams is None
    jp = {r.doc_id: r for r in text_profile(df).collect()}
    assert jp[2].n_tokens is None and jp[2].lang_pred is None
    assert jp[1].lang_pred == tp[1].lang_pred


def test_skipgram_pairs_hand_case(spark):
    """Window-2 skip-grams over a hand corpus: ordered pairs at distance
    1 and 2, counts exact, top-k deterministic on (n desc, a, b)."""
    from compute_histogram_spark.operators.text import skipgram_pairs

    df = spark.createDataFrame(
        [(1, "a b a b a"), (2, "a b"), (3, "x",)],
        "doc_id bigint, text string",
    )
    rows = {(r.a, r.b): r.n_pairs
            for r in skipgram_pairs(df, window=2, min_count=1, k=25).collect()}
    # d=1: doc1 -> (a,b)x2 (b,a)x2; doc2 -> (a,b). d=2: doc1 -> (a,a)x2
    # (b,b)x1... positions: ts=[a,b,a,b,a]; d=2 pairs (a,a),(b,b),(a,a).
    assert rows[("a", "b")] == 3
    assert rows[("b", "a")] == 2
    assert rows[("a", "a")] == 2
    assert rows[("b", "b")] == 1
    # the one-token doc contributes nothing; no self-window pairs beyond d<=2
    assert ("x", "x") not in rows and len(rows) == 4
    # min_count prunes exactly
    pruned = {(r.a, r.b) for r in
              skipgram_pairs(df, window=2, min_count=3, k=25).collect()}
    assert pruned == {("a", "b")}


def test_doc_length_quantiles_rank_selection(spark):
    """Integer rank selection: idx = ceil(p*n) — for n=4 lengths
    [10,20,30,40], p25 -> 1st (10), p50 -> 2nd (20), p75 -> 3rd (30),
    p90 -> ceil(3.6)=4th (40). Ties collapse to one (g, len) count row
    but ranks still select the correct element."""
    from compute_histogram_spark.operators.text import doc_length_quantiles

    df = spark.createDataFrame(
        [("en", 10), ("en", 20), ("en", 30), ("en", 40),
         ("de", 5), ("de", 5), ("de", 7)],
        "lang string, n_chars int",
    )
    out = {(r.lang, r.pct): (r.n_docs, r.q_len)
           for r in doc_length_quantiles(df).collect()}
    assert out[("en", 25)] == (4, 10)
    assert out[("en", 50)] == (4, 20)
    assert out[("en", 75)] == (4, 30)
    assert out[("en", 90)] == (4, 40)
    # de: n=3, ceil(.25*3)=1 -> 5, ceil(.5*3)=2 -> 5 (tie), ceil(.75*3)=3
    # -> 7, ceil(.9*3)=3 -> 7
    assert out[("de", 25)] == (3, 5)
    assert out[("de", 50)] == (3, 5)
    assert out[("de", 75)] == (3, 7)
    assert out[("de", 90)] == (3, 7)

"""Training-data pipeline primitives: split determinism, cap semantics,
chunk boundary math."""

import pytest
from pyspark.sql import Row, functions as F

from compute_histogram_spark.operators import pipeline as PL
from compute_histogram_spark.sources.tables import load


def test_split_assign_is_deterministic_and_partitioned(spark, sf_dir):
    docs = load(spark, sf_dir, "documents")
    a = {r["doc_id"]: r["split"] for r in PL.split_assign(docs).collect()}
    b = {r["doc_id"]: r["split"] for r in PL.split_assign(docs).collect()}
    assert a == b  # rerun-stable: a doc can never migrate across splits
    assert set(a.values()) <= {"train", "valid", "test"}
    n = len(a)
    train = sum(1 for v in a.values() if v == "train")
    # md5 buckets are uniform; 80% +- generous slack for 500 docs
    assert 0.7 * n <= train <= 0.9 * n


def test_split_assign_survives_subsetting(spark, sf_dir):
    # assignment is a pure function of doc_id: filtering the corpus first
    # must not change any surviving doc's split (no leakage on re-curation)
    docs = load(spark, sf_dir, "documents")
    full = {r["doc_id"]: r["split"] for r in PL.split_assign(docs).collect()}
    sub = {
        r["doc_id"]: r["split"]
        for r in PL.split_assign(docs.where("doc_id % 3 = 0")).collect()
    }
    assert all(full[k] == v for k, v in sub.items())


def test_cap_per_group_keeps_first_n(spark):
    rows = [Row(doc_id=i, lang="en" if i < 7 else "fr") for i in range(10)]
    out = PL.cap_per_group(spark.createDataFrame(rows), "lang", cap=3).collect()
    by_lang = {}
    for r in out:
        by_lang.setdefault(r["lang"], []).append(r["doc_id"])
    assert sorted(by_lang["en"]) == [0, 1, 2]  # first 3 by doc_id
    assert sorted(by_lang["fr"]) == [7, 8, 9]  # group smaller than cap -> all


@pytest.mark.parametrize(
    "n_toks,expect_chunks",
    [(1, 1), (64, 1), (65, 2), (112, 2), (113, 3)],
)
def test_chunk_count_boundaries(spark, n_toks, expect_chunks):
    text = " ".join(f"t{i}" for i in range(n_toks))
    df = spark.createDataFrame([Row(doc_id=1, text=text)])
    out = PL.chunk_documents(df, chunk_tokens=64, overlap=16).collect()
    assert len(out) == expect_chunks
    # full coverage: last chunk reaches the final token
    last = max(out, key=lambda r: r["chunk_id"])
    assert last["start_tok"] + last["n_chunk_tokens"] == n_toks


def test_chunks_overlap_and_reconstruct(spark):
    toks = [f"w{i}" for i in range(150)]
    df = spark.createDataFrame([Row(doc_id=1, text=" ".join(toks))])
    out = sorted(
        PL.chunk_documents(df, chunk_tokens=64, overlap=16).collect(),
        key=lambda r: r["chunk_id"],
    )
    for r in out:
        got = r["chunk_text"].split(" ")
        assert got == toks[r["start_tok"] : r["start_tok"] + r["n_chunk_tokens"]]
    # consecutive chunks share exactly `overlap` tokens (except a short tail)
    for a, b in zip(out, out[1:]):
        assert b["start_tok"] == a["start_tok"] + 48


def test_chunk_documents_rejects_bad_overlap(spark):
    df = spark.createDataFrame([Row(doc_id=1, text="a b c")])
    with pytest.raises(ValueError):
        PL.chunk_documents(df, chunk_tokens=32, overlap=32)


def test_scrub_pii_redacts_and_counts(spark):
    rows = [
        Row(doc_id=1, text="mail me at jo.doe+x@site.co.uk or 123456789012"),
        Row(doc_id=2, text="no pii here, just 1234 and a-b@c"),  # too short
        Row(doc_id=3, text="two mails a@b.io c@d.org"),
    ]
    out = {r["doc_id"]: r for r in PL.scrub_pii(spark.createDataFrame(rows)).collect()}
    assert (out[1]["n_emails"], out[1]["n_long_numbers"]) == (1, 1)
    assert (out[2]["n_emails"], out[2]["n_long_numbers"]) == (0, 0)
    assert (out[3]["n_emails"], out[3]["n_long_numbers"]) == (2, 0)
    # redaction actually changed doc 1 and 3, left doc 2 untouched
    import hashlib

    assert out[2]["clean_md5"] == hashlib.md5(rows[1].text.encode()).hexdigest()
    assert out[1]["clean_md5"] == hashlib.md5(
        b"mail me at <EMAIL> or <NUM>"
    ).hexdigest()


def test_contamination_report_counts_shared_shingles(spark):
    # engineer ids landing in train (<80) and test (>=90) buckets, with a
    # known 3-gram overlap between one train/test pair
    buckets = {}
    i = 0
    while len(buckets) < 2 or not (
        any(b < 80 for b in buckets.values())
        and any(b >= 90 for b in buckets.values())
    ):
        r = (
            spark.range(i, i + 1)
            .select(PL.split_bucket("id").alias("b"))
            .first()
        )
        buckets[i] = r["b"]
        i += 1
    train_id = next(k for k, v in buckets.items() if v < 80)
    test_id = next(k for k, v in buckets.items() if v >= 90)

    shared = "alpha beta gamma"
    rows = [
        Row(doc_id=train_id, text=f"{shared} delta epsilon"),
        Row(doc_id=test_id, text=f"intro {shared} outro tail"),
    ]
    out = PL.contamination_report(spark.createDataFrame(rows)).collect()
    assert len(out) == 1
    r = out[0]
    assert r["test_doc_id"] == test_id
    assert r["n_shared_shingles"] == 1  # exactly the engineered 3-gram
    assert r["n_train_docs"] == 1


def test_mix_corpus_upsamples_and_drops(spark):
    rows = [Row(doc_id=i, source="a" if i < 4 else "b") for i in range(8)]
    out = PL.mix_corpus(
        spark.createDataFrame(rows), rates={"a": 3.0, "b": 0.0}
    ).collect()
    # a: exactly 3 copies each (integer rate -> no hash dependence); b: gone
    assert all(r["source"] == "a" for r in out)
    per_doc = {}
    for r in out:
        per_doc.setdefault(r["doc_id"], []).append(r["copy_id"])
    assert set(per_doc) == {0, 1, 2, 3}
    assert all(sorted(v) == [1, 2, 3] for v in per_doc.values())


def test_mix_corpus_fractional_is_deterministic(spark):
    rows = [Row(doc_id=i, source="a") for i in range(200)]
    df = spark.createDataFrame(rows)
    out1 = sorted(r["doc_id"] for r in PL.mix_corpus(df, rates={"a": 0.5}).collect())
    out2 = sorted(r["doc_id"] for r in PL.mix_corpus(df, rates={"a": 0.5}).collect())
    assert out1 == out2  # rerun-identical, never rand()
    assert 0.35 * 200 <= len(out1) <= 0.65 * 200  # ~half, hash-uniform


def test_scrub_pii_email_digits_not_double_counted(spark):
    rows = [Row(doc_id=1, text="reach 123456789012@corp.com today")]
    out = PL.scrub_pii(spark.createDataFrame(rows)).collect()[0]
    # the digit run is consumed by the email redaction: counted as an
    # email, NOT also as a long number
    assert (out["n_emails"], out["n_long_numbers"]) == (1, 0)
    import hashlib

    assert out["clean_md5"] == hashlib.md5(b"reach <EMAIL> today").hexdigest()


def test_mix_sampling_independent_of_split(spark, sf_dir):
    # the mix gate is salted: a 0.5-rate sample must still contain docs
    # from every split, not just 'train' (regression: unsalted hash made
    # mix-kept docs exactly the bucket<50 subset of 'train')
    docs = load(spark, sf_dir, "documents")
    src = docs.select("doc_id", F.col("lang").alias("source"), "text")
    kept = PL.mix_corpus(src, rates={}, default_rate=0.5)
    splits = {
        r["split"]
        for r in PL.split_assign(kept.select("doc_id")).select("split").collect()
    }
    assert splits == {"train", "valid", "test"}


def test_corpus_checksum_order_and_partition_invariant(spark, sf_dir):
    docs = load(spark, sf_dir, "documents")
    base = PL.corpus_checksum(docs).collect()[0]
    shuffled = PL.corpus_checksum(docs.repartition(17).orderBy(F.desc("doc_id"))).collect()[0]
    assert (base["n_docs"], base["checksum"]) == (shuffled["n_docs"], shuffled["checksum"])
    # any single-row content change must move the checksum
    tweaked = docs.withColumn(
        "text", F.when(F.col("doc_id") == 0, F.concat(F.col("text"), F.lit("!"))).otherwise(F.col("text"))
    )
    assert PL.corpus_checksum(tweaked).collect()[0]["checksum"] != base["checksum"]


def test_bloom_novelty_gate_properties(spark):
    import pyspark.sql.functions as SF

    seen = spark.range(0, 1000).select(
        SF.sha2(SF.col("id").cast("string"), 256).alias("digest")
    )
    bloom = PL.build_bloom(seen, n_bits=1 << 17, k_hashes=5)
    # partition layout must not change the filter (partial/final OR merge)
    bloom7 = PL.build_bloom(seen.repartition(7), n_bits=1 << 17, k_hashes=5)
    assert bloom == bloom7

    # no false negatives: every seen digest flags maybe_seen
    flagged = PL.novelty_gate(seen, bloom, n_bits=1 << 17, k_hashes=5)
    assert flagged.where("NOT maybe_seen").count() == 0

    # false-positive rate on 1000 genuinely-new digests stays near theory
    # (~1% at 17 bits/item, k=5; generous 5% ceiling for flake-resistance)
    fresh = spark.range(50_000, 51_000).select(
        SF.sha2(SF.col("id").cast("string"), 256).alias("digest")
    )
    fp = PL.novelty_gate(fresh, bloom, n_bits=1 << 17, k_hashes=5)
    assert fp.where("maybe_seen").count() <= 50


def test_mix_corpus_null_source_gets_default_rate(spark):
    rows = [
        Row(doc_id=1, source="a"),
        Row(doc_id=2, source=None),
        Row(doc_id=3, source=None),
    ]
    out = PL.mix_corpus(
        spark.createDataFrame(rows), rates={"a": 2.0}, default_rate=1.0
    ).collect()
    got = {}
    for r in out:
        got[r["doc_id"]] = got.get(r["doc_id"], 0) + 1
    # NULL source rows must pass through at default_rate, never vanish
    assert got == {1: 2, 2: 1, 3: 1}


PACK_ORACLE = """
WITH t AS (
    SELECT doc_id,
           md5('pack:' || CAST(doc_id AS VARCHAR)) AS key,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
    FROM documents
),
c AS (
    SELECT doc_id, n_tok,
           sum(n_tok) OVER (
               ORDER BY key, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) - n_tok AS start_offset
    FROM t
)
SELECT doc_id, n_tok,
       CAST(floor(start_offset * 1.0 / 4096) AS BIGINT) AS shard_id,
       CAST(start_offset AS BIGINT) AS start_offset
FROM c ORDER BY doc_id
"""


def test_pack_shards_matches_global_cumsum_oracle(spark, sf_dir):
    """The two-phase distributed prefix sum equals DuckDB's single global
    window cumsum, value-exact."""
    import os
    import sys

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))
    from check_oracle import compare, duck_connection

    from compute_histogram_spark.operators.pipeline import pack_shards
    from compute_histogram_spark.sources.tables import load

    sdf = pack_shards(load(spark, sf_dir, "documents")).toPandas()
    con = duck_connection(sf_dir)
    odf = con.sql(PACK_ORACLE).df()
    assert len(sdf) > 0
    assert compare("pack_shards", sdf, odf) == []


def test_pack_shards_invariant_to_bucket_count(spark, sf_dir):
    """n_buckets is a parallelism knob, not a semantic one: 1 bucket (the
    naive global window) and 32 buckets give identical assignments."""
    from compute_histogram_spark.operators.pipeline import pack_shards
    from compute_histogram_spark.sources.tables import load

    docs = load(spark, sf_dir, "documents")
    one = [tuple(r) for r in pack_shards(docs, n_buckets=1).collect()]
    many = [tuple(r) for r in pack_shards(docs, n_buckets=32).collect()]
    assert one == many


def test_pack_shards_budget_respected(spark, sf_dir):
    """Shards are contiguous, start at multiples of the budget, and every
    shard's token total stays within budget + one document (a doc is never
    split; it belongs to the shard where it starts)."""
    from pyspark.sql import functions as F
    from compute_histogram_spark.operators.pipeline import pack_shards
    from compute_histogram_spark.sources.tables import load

    budget = 4096
    out = pack_shards(load(spark, sf_dir, "documents"), tokens_per_shard=budget)
    stats = (
        out.groupBy("shard_id")
        .agg(
            F.sum("n_tok").alias("tot"),
            F.min("start_offset").alias("lo"),
            F.max("start_offset").alias("hi"),
        )
        .collect()
    )
    max_doc = out.agg(F.max("n_tok")).first()[0]
    shard_ids = sorted(r["shard_id"] for r in stats)
    assert shard_ids == list(range(len(shard_ids)))  # contiguous ids
    for r in stats:
        assert r["lo"] >= r["shard_id"] * budget
        assert r["lo"] < (r["shard_id"] + 1) * budget
        if r["shard_id"] != shard_ids[-1]:
            assert r["tot"] <= budget + max_doc - 1


STRAT_ORACLE = """
WITH s AS (
    SELECT lang, doc_id,
           ('0x' || substring(md5('strat:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
               % 1000000 AS b
    FROM documents
)
SELECT lang, count(*) AS n_docs FROM s
WHERE b < CASE lang WHEN 'en' THEN 500000
                    WHEN 'de' THEN 250000
                    WHEN 'zh' THEN 1000000
                    ELSE 100000 END
GROUP BY lang ORDER BY lang
"""


def test_stratified_sample_deterministic_and_rate(spark, sf_dir):
    from compute_histogram_spark.sources.tables import load

    docs = load(spark, sf_dir, "documents")
    fr = {"en": 0.5, "de": 0.25, "zh": 1.0}
    s1 = PL.stratified_sample(docs, "lang", fr, default_fraction=0.1)
    s2 = PL.stratified_sample(
        docs.repartition(7), "lang", fr, default_fraction=0.1
    )
    # layout-independent: identical doc set regardless of partitioning
    ids1 = sorted(r["doc_id"] for r in s1.select("doc_id").collect())
    ids2 = sorted(r["doc_id"] for r in s2.select("doc_id").collect())
    assert ids1 == ids2 and len(ids1) > 0
    # full-rate stratum keeps everything
    n_zh = docs.where("lang = 'zh'").count()
    assert s1.where("lang = 'zh'").count() == n_zh
    # sampling is a subset (no new rows materialize)
    assert s1.count() < docs.count()


def test_stratified_sample_vs_duckdb_oracle(spark, sf_dir):
    import os
    import sys

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))
    from check_oracle import compare, duck_connection

    from compute_histogram_spark.sources.tables import load

    docs = load(spark, sf_dir, "documents")
    sdf = (
        PL.stratified_sample(
            docs, "lang", {"en": 0.5, "de": 0.25, "zh": 1.0},
            default_fraction=0.1,
        )
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("lang")
        .toPandas()
    )
    con = duck_connection(sf_dir)
    odf = con.sql(STRAT_ORACLE).df()
    assert len(sdf) > 0
    assert compare("stratified_sample", sdf, odf) == []


# ---------------------------------------------------------------------------
# weighted sampling without replacement (A-ES): determinism, bias, oracle
# ---------------------------------------------------------------------------


def test_weighted_sample_deterministic_and_weight_biased(spark):
    from pyspark.sql import Row

    rows = [
        Row(doc_id=i, w=(10.0 if i < 50 else 0.1)) for i in range(500)
    ]
    df = spark.createDataFrame(rows)
    s1 = PL.weighted_sample(df, "w", n=60, salt="t:").collect()
    s2 = PL.weighted_sample(df.repartition(7), "w", n=60, salt="t:").collect()
    assert [r["doc_id"] for r in s1] == [r["doc_id"] for r in s2]  # layout-stable
    heavy = sum(1 for r in s1 if r["doc_id"] < 50)
    # 50 heavy (w=10) vs 450 light (w=0.1): heavy rows must dominate the
    # sample despite being 10% of the population
    assert heavy >= 40
    # zero/negative weights never sampled
    df2 = df.withColumn("w", F.when(F.col("doc_id") == 0, -1.0).otherwise(F.col("w")))
    assert all(
        r["doc_id"] != 0 for r in PL.weighted_sample(df2, "w", n=60, salt="t:").collect()
    )


def test_weighted_sample_vs_duckdb_oracle(spark, sf_dir):
    import os
    import sys

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))
    from check_oracle import compare, duck_connection

    from compute_histogram_spark.sources.tables import load

    docs = load(spark, sf_dir, "documents")
    sdf = (
        PL.weighted_sample(docs.withColumn("w", F.col("n_chars").cast("double")),
                           "w", n=100)
        .select("doc_id", "sample_key")
        .toPandas()
    )
    con = duck_connection(sf_dir)
    odf = con.sql("""
    SELECT doc_id, sample_key FROM (
        SELECT doc_id,
               round(ln((('0x' || substring(md5('wsamp:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                         % 1000000 + 1.0) / 1000000.0)
                     / CAST(n_chars AS DOUBLE), 12) AS sample_key
        FROM documents WHERE n_chars > 0
    ) ORDER BY sample_key DESC, doc_id LIMIT 100
    """).df()
    assert len(sdf) == 100
    assert compare("weighted_sample", sdf, odf) == []


def test_temperature_rates_properties(spark, sf_dir):
    from compute_histogram_spark.operators.pipeline import temperature_rates

    docs = load(spark, sf_dir, "documents")
    counts = {
        r["lang"]: r["n"]
        for r in docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    # alpha=1 reproduces the corpus: every rate ~1
    r1 = temperature_rates(docs, alpha=1.0)
    assert set(r1) == set(counts)
    assert all(abs(v - 1.0) <= 0.01 for v in r1.values()), r1
    # alpha=0 equalizes: expected output count per group is ~total/G
    r0 = temperature_rates(docs, alpha=0.0)
    total, g = sum(counts.values()), len(counts)
    for lang, rate in r0.items():
        assert counts[lang] * rate == pytest.approx(total / g, rel=0.05), lang
    # alpha=0.5 sits between: head rate < 1 < tail rate
    r5 = temperature_rates(docs, alpha=0.5)
    head = max(counts, key=counts.get)
    tail = min(counts, key=counts.get)
    if counts[head] > counts[tail]:
        assert r5[head] < 1.0 < r5[tail], r5
    # target_total scales every group linearly
    rt = temperature_rates(docs, alpha=0.5, target_total=total * 2)
    for lang in r5:
        assert rt[lang] == pytest.approx(2 * r5[lang], abs=0.02), lang


def test_temperature_mix_is_deterministic_and_shifts_shares(spark, sf_dir):
    from compute_histogram_spark.operators.pipeline import temperature_mix

    docs = load(spark, sf_dir, "documents")
    out1 = temperature_mix(docs, alpha=0.3)
    out2 = temperature_mix(docs, alpha=0.3)
    a = sorted((r["doc_id"], r["copy_id"]) for r in out1.collect())
    b = sorted((r["doc_id"], r["copy_id"]) for r in out2.collect())
    assert a == b and len(a) > 0  # rerun-identical, including copy ids

    def shares(df):
        rows = df.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()
        t = sum(r["n"] for r in rows)
        return {r["lang"]: r["n"] / t for r in rows}

    before = shares(docs)
    after = shares(out1)
    # mixing must move every group's share toward uniform
    g = len(before)
    for lang in before:
        drift_before = abs(before[lang] - 1 / g)
        drift_after = abs(after[lang] - 1 / g)
        assert drift_after <= drift_before + 0.02, lang


def test_pack_shards_duckdb_twin(spark, sf_dir):
    """Staged rotation twin (r10): the distributed two-phase prefix sum
    (bucket -> parallel cumsum -> driver offset scan) equals the naive
    single-window global running sum row for row."""
    import os
    import sys

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))
    from check_oracle import compare, duck_connection

    from compute_histogram_spark.registry import (
        PACK_SHARDS_ORACLE,
        q_pack_shards,
    )

    pdf = q_pack_shards(spark, sf_dir).toPandas()
    con = duck_connection(sf_dir)
    odf = con.sql(PACK_SHARDS_ORACLE).df()
    assert len(pdf) > 0
    assert compare("pack_shards", pdf, odf) == []


def test_canonical_url_rules(spark):
    """Each documented canonicalization rule, pinned."""
    from pyspark.sql import Row, functions as F

    from compute_histogram_spark.operators.pipeline import canonical_url

    cases = [
        # (input, expected)
        ("HTTP://WWW.Example.COM/Page/", "http://example.com/Page"),
        ("https://example.com:443/a", "https://example.com/a"),
        ("http://example.com:80/a", "http://example.com/a"),
        ("http://example.com:8080/a", "http://example.com:8080/a"),
        ("https://example.com/a?utm_source=x&id=2&b=1",
         "https://example.com/a?b=1&id=2"),
        ("https://example.com/a?utm_campaign=z&fbclid=123&gclid=4&ref=hn",
         "https://example.com/a"),
        ("https://example.com/a#section", "https://example.com/a"),
        # a '?' INSIDE the fragment is fragment text, not a query (r10
        # advice: the old query regex matched it and kept '?b=1')
        ("https://example.com/p#a?b=1", "https://example.com/p"),
        ("https://example.com/", "https://example.com"),
        ("https://example.com/a?z=1&a=2", "https://example.com/a?a=2&z=1"),
        ("not a url", "not a url"),  # passthrough
    ]
    df = spark.createDataFrame([Row(u=u) for u, _ in cases])
    got = {
        r["u"]: r["c"]
        for r in df.select("u", canonical_url(F.col("u")).alias("c")).collect()
    }
    for u, want in cases:
        assert got[u] == want, (u, got[u], want)


def test_url_dedup_collapses_variants(spark):
    """Tracking-param / case / fragment variants of one page collapse to
    the earliest capture with the variant count."""
    from pyspark.sql import Row

    from compute_histogram_spark.operators.pipeline import url_dedup

    rows = [
        Row(doc_id=1, uri="https://www.example.com/a?utm_source=feed"),
        Row(doc_id=2, uri="https://EXAMPLE.com/a#frag"),
        Row(doc_id=3, uri="https://example.com/a/"),
        Row(doc_id=4, uri="https://example.com/b"),
    ]
    out = {r.canonical_url: r for r in url_dedup(spark.createDataFrame(rows)).collect()}
    assert out["https://example.com/a"].doc_id == 1
    assert out["https://example.com/a"].n_variants == 3
    assert out["https://example.com/b"].n_variants == 1


def test_url_dedup_on_crawl_chain(spark):
    """Re-crawls of one page under tracking-param URL variants, in crawl
    order, collapse by canonical URL to the earliest capture before any
    payload byte is hashed."""
    from pyspark.sql import functions as F

    from compute_histogram_spark.operators.pipeline import url_dedup

    uris = (
        "https://www.example.com/page?utm_source=a",
        "https://example.com/page?utm_source=b",
        "https://example.com/page/",
        "https://example.com/other",
    )
    docs = spark.createDataFrame(
        [(i, u, "<html><p>same page body</p></html>")
         for i, u in enumerate(uris)],
        "doc_id long, uri string, text string",
    )
    out = url_dedup(docs)
    assert out.count() == 2  # page (3 variants) + other
    assert out.agg(F.sum("n_variants")).first()[0] == 4
    page = out.where(F.col("canonical_url") == "https://example.com/page")
    assert page.first().doc_id == 0


def test_url_dedup_duckdb_twin(spark, sf_dir):
    """Staged rotation twin (r10): the oracle replicates the
    canonicalization STEPS (same regexes, lambda param filter,
    byte-order sort) from the same raw URLs."""
    import os
    import sys

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))
    from check_oracle import compare, duck_connection

    from compute_histogram_spark.registry import URL_DEDUP_ORACLE, q_url_dedup

    pdf = q_url_dedup(spark, sf_dir).toPandas()
    con = duck_connection(sf_dir)
    odf = con.sql(URL_DEDUP_ORACLE).df()
    assert len(pdf) > 0
    assert compare("url_dedup", pdf, odf) == []


def test_observe_stage_single_pass_metrics(spark, sf_dir):
    """Observation metrics match independently computed counts, and are
    produced by the SAME action that consumes the frame (no extra scan
    is ever issued for them)."""
    from compute_histogram_spark.operators.pipeline import observe_stage
    from compute_histogram_spark.sources.tables import load

    docs = load(spark, sf_dir, "documents")
    observed, obs = observe_stage(
        docs, "gates",
        {
            "long_enough": F.col("n_chars") >= 200,
            "is_en": F.col("lang") == "en",
        },
    )
    n_out = observed.where(F.col("n_chars") >= 0).count()  # one action
    got = obs.get
    assert got["n_rows"] == docs.count() == n_out
    assert got["long_enough"] == docs.where("n_chars >= 200").count()
    assert got["is_en"] == docs.where("lang = 'en'").count()


def test_end_to_end_corpus_stage_boundaries_computed_once(spark, sf_dir):
    """r16 optimization round: the 5-stage chain's dedup stages each
    reference their input twice (aggregate keys, then semi/anti-join
    the input against them), and unpersisted that re-execution
    compounded multiplicatively — the captured physical plan read 64
    parquet scans of the same documents file. The persisted stage
    boundaries must keep the chain linear: the plan embeds the cached
    boundaries (InMemoryTableScan) and scans the source a bounded
    number of times."""
    from compute_histogram_spark.registry import q_end_to_end_corpus

    df = q_end_to_end_corpus(spark, sf_dir)
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    final = plan.split("== Initial Plan ==")[0]
    assert "InMemoryTableScan" in final or "TableCacheQueryStage" in final, (
        final[:800]
    )
    assert final.count("Scan parquet") <= 4, final[:800]

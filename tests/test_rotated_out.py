"""DuckDB-twin tests for queries rotated OUT of the 50-entry driver window
in round 6 (VERDICT r05 #1: the window rotates so every operator eventually
earns a driver-green row; rotated-out entries keep their full oracle here).

Each test rebuilds the exact Spark query the old registry entry ran and
compares it value-exact against the oracle SQL that used to live in
``registry.py`` (lifted verbatim).
"""

import os
import sys

import pytest
from pyspark.sql import functions as F

sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))
from check_oracle import compare, duck_connection  # noqa: E402

from compute_histogram_spark.operators import behavior as BH  # noqa: E402
from compute_histogram_spark.operators import pipeline as PL  # noqa: E402
from compute_histogram_spark.operators import relational as R  # noqa: E402
from compute_histogram_spark.registry import _SHINGLE_CTES  # noqa: E402
from compute_histogram_spark.sources.tables import load  # noqa: E402


def _check(name, sdf, con, sql):
    pdf = sdf.toPandas()
    odf = con.sql(sql).df()
    assert len(pdf) > 0
    assert compare(name, pdf, odf) == []


@pytest.fixture(scope="module")
def con(sf_dir):
    return duck_connection(sf_dir)


def test_split_counts_oracle(spark, sf_dir, con):
    sdf = (
        PL.split_assign(load(spark, sf_dir, "documents"))
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("sum_chars"),
        )
        .orderBy("split")
    )
    _check("split_counts", sdf, con, """
    WITH s AS (
        SELECT n_chars,
               ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                   % 100 AS b
        FROM documents
    )
    SELECT CASE WHEN b < 80 THEN 'train'
                WHEN b < 90 THEN 'valid'
                ELSE 'test' END AS split,
           count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS sum_chars
    FROM s GROUP BY 1 ORDER BY split
    """)


def test_lang_capped_sample_oracle(spark, sf_dir, con):
    docs = load(spark, sf_dir, "documents").select("doc_id", "lang")
    sdf = PL.cap_per_group(docs, "lang", cap=30).orderBy("doc_id")
    _check("lang_capped_sample", sdf, con, """
    WITH r AS (
        SELECT doc_id, lang,
               row_number() OVER (PARTITION BY lang ORDER BY doc_id) AS rn
        FROM documents
    )
    SELECT doc_id, lang FROM r WHERE rn <= 30 ORDER BY doc_id
    """)


def test_doc_chunks_oracle(spark, sf_dir, con):
    sdf = PL.chunk_documents(load(spark, sf_dir, "documents")).orderBy(
        "doc_id", "chunk_id"
    )
    _check("doc_chunks", sdf, con, """
    WITH d AS (
        SELECT doc_id, string_split(text, ' ') AS toks,
               len(string_split(text, ' ')) AS n
        FROM documents
    ),
    c AS (
        SELECT doc_id, toks, n,
               unnest(generate_series(
                   0, greatest(1, ceil((n - 64) / 48.0)::INT + 1) - 1
               )) AS chunk_id
        FROM d
    )
    SELECT doc_id, CAST(chunk_id AS INT) AS chunk_id,
           CAST(chunk_id * 48 AS INT) AS start_tok,
           CAST(least(64, n - chunk_id * 48) AS INT) AS n_chunk_tokens,
           array_to_string(
               list_slice(toks, chunk_id * 48 + 1, chunk_id * 48 + 64), ' '
           ) AS chunk_text
    FROM c ORDER BY doc_id, chunk_id
    """)


def test_contamination_report_oracle(spark, sf_dir, con):
    sdf = PL.contamination_report(load(spark, sf_dir, "documents"))
    _check("contamination_report", sdf, con, """
    WITH {shingles},
    bk AS (
        SELECT doc_id,
               ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                   % 100 AS b
        FROM documents
    ),
    tr AS (SELECT s.doc_id, md5(s.s) AS h FROM sh s
           JOIN bk ON s.doc_id = bk.doc_id WHERE bk.b < 80),
    te AS (SELECT s.doc_id, md5(s.s) AS h FROM sh s
           JOIN bk ON s.doc_id = bk.doc_id WHERE bk.b >= 90)
    SELECT te.doc_id AS test_doc_id,
           count(DISTINCT te.h) AS n_shared_shingles,
           count(DISTINCT tr.doc_id) AS n_train_docs
    FROM te JOIN tr ON te.h = tr.h
    GROUP BY te.doc_id ORDER BY test_doc_id
    """.format(shingles=_SHINGLE_CTES.strip()))


def test_pii_scrub_oracle(spark, sf_dir, con):
    sdf = PL.scrub_pii(load(spark, sf_dir, "documents"))
    _check("pii_scrub", sdf, con, r"""
    WITH ne AS (
        SELECT doc_id, text,
               regexp_replace(text,
                   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
                   '<EMAIL>', 'g') AS no_email
        FROM documents
    )
    SELECT doc_id,
           len(regexp_extract_all(text,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_emails,
           len(regexp_extract_all(no_email, '[0-9]{9,}')) AS n_long_numbers,
           md5(regexp_replace(no_email, '[0-9]{9,}', '<NUM>', 'g')) AS clean_md5
    FROM ne ORDER BY doc_id
    """)


def test_corpus_checksum_oracle(spark, sf_dir, con):
    sdf = PL.corpus_checksum(load(spark, sf_dir, "documents"))
    _check("corpus_checksum", sdf, con, """
    SELECT count(*) AS n_docs,
           CAST(sum(('0x' || substring(
               md5(CAST(doc_id AS VARCHAR) || ':' || text), 1, 6))::BIGINT)
             AS BIGINT) AS checksum
    FROM documents
    """)


def test_corpus_mix_counts_oracle(spark, sf_dir, con):
    mixed = PL.mix_corpus(
        load(spark, sf_dir, "documents"),
        rates={"src0": 2.5, "src1": 0.3, "src2": 0.0},
    )
    sdf = (
        mixed.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.countDistinct("doc_id").alias("n_docs_kept"),
        )
        .orderBy("source")
    )
    _check("corpus_mix_counts", sdf, con, """
    WITH b AS (
        SELECT doc_id, source,
               ('0x' || substring(md5('mix:' || CAST(doc_id AS VARCHAR)), 1, 8))
                   ::BIGINT % 100 AS bk
        FROM documents
    ),
    n AS (
        SELECT source,
               CASE source
                   WHEN 'src0' THEN 2 + CASE WHEN bk < 50 THEN 1 ELSE 0 END
                   WHEN 'src1' THEN CASE WHEN bk < 30 THEN 1 ELSE 0 END
                   WHEN 'src2' THEN 0
                   ELSE 1
               END AS nc
        FROM b
    )
    SELECT source, CAST(sum(nc) AS BIGINT) AS n_rows, count(*) AS n_docs_kept
    FROM n WHERE nc > 0
    GROUP BY source ORDER BY source
    """)


def test_orders_pivot_oracle(spark, sf_dir, con):
    sdf = R.orders_pivot(load(spark, sf_dir, "orders"))
    _check("orders_pivot", sdf, con, """
    SELECT CAST(year(o_orderdate) AS INT) AS order_year,
           count(*) FILTER (o_orderpriority = '1-URGENT') AS "1-URGENT",
           count(*) FILTER (o_orderpriority = '2-HIGH') AS "2-HIGH",
           count(*) FILTER (o_orderpriority = '3-MEDIUM') AS "3-MEDIUM",
           count(*) FILTER (o_orderpriority = '4-NOT SPECIFIED') AS "4-NOT SPECIFIED",
           count(*) FILTER (o_orderpriority = '5-LOW') AS "5-LOW"
    FROM orders GROUP BY 1 ORDER BY 1
    """)


def test_set_ops_users_oracle(spark, sf_dir, con):
    ev = load(spark, sf_dir, "events")
    blank = F.lit("").alias("c_name")
    i = R.users_in_both(ev, "purchase", "click").select(
        F.lit("purchase_and_click").alias("op"),
        F.col("user_id").alias("user_key"),
        blank,
    )
    x = R.users_only_in(ev, "error", "purchase").select(
        F.lit("error_not_purchase").alias("op"),
        F.col("user_id").alias("user_key"),
        blank,
    )
    lc = R.lapsed_customers(
        load(spark, sf_dir, "customer"),
        load(spark, sf_dir, "orders"),
        "2001-01-01",
    ).select(
        F.lit("lapsed_customer").alias("op"),
        F.col("c_custkey").alias("user_key"),
        F.col("c_name"),
    )
    sdf = i.unionByName(x).unionByName(lc).orderBy("op", "user_key")
    _check("set_ops_users", sdf, con, """
    WITH i AS (
        SELECT user_id FROM events WHERE event_type = 'purchase'
        INTERSECT
        SELECT user_id FROM events WHERE event_type = 'click'
    ),
    x AS (
        SELECT user_id FROM events WHERE event_type = 'error'
        EXCEPT
        SELECT user_id FROM events WHERE event_type = 'purchase'
    ),
    l AS (
        SELECT c_custkey, c_name FROM customer c
        WHERE NOT EXISTS (
            SELECT 1 FROM orders o
            WHERE o.o_custkey = c.c_custkey
              AND o.o_orderdate >= TIMESTAMP '2001-01-01 00:00:00'
        )
    )
    SELECT 'purchase_and_click' AS op, user_id AS user_key, '' AS c_name FROM i
    UNION ALL
    SELECT 'error_not_purchase' AS op, user_id AS user_key, '' AS c_name FROM x
    UNION ALL
    SELECT 'lapsed_customer' AS op, c_custkey AS user_key, c_name FROM l
    ORDER BY op, user_key
    """)


def test_cohort_retention_oracle(spark, sf_dir, con):
    sdf = BH.cohort_retention(load(spark, sf_dir, "events"))
    _check("cohort_retention", sdf, con, """
    WITH am AS (
        SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 // 7 AS wk
        FROM events
    ),
    f AS (SELECT user_id, min(wk) AS cwk FROM am GROUP BY user_id)
    SELECT cwk * 7 * 86400 AS cohort_week_start_s,
           CAST(wk - cwk AS INT) AS week_offset,
           count(DISTINCT a.user_id) AS n_users
    FROM am a JOIN f USING (user_id)
    GROUP BY cwk, wk
    ORDER BY cohort_week_start_s, week_offset
    """)


# --- second rotation wave (late r6): four long-driver-green entries swap
# --- out for quality_signals / promo_revenue_share / late_order_priority /
# --- rollup_revenue; their full oracles continue here.


def test_json_props_stats_oracle(spark, sf_dir, con):
    from compute_histogram_spark.registry import (
        JSON_PROPS_ORACLE,
        q_json_props_stats,
    )

    _check("json_props_stats", q_json_props_stats(spark, sf_dir), con,
           JSON_PROPS_ORACLE)


def test_dedup_simhash_oracle(spark, sf_dir, con):
    from compute_histogram_spark.registry import (
        _simhash_oracle,
        q_dedup_simhash,
    )

    _check("dedup_simhash", q_dedup_simhash(spark, sf_dir), con,
           _simhash_oracle())


def test_events_null_profile_oracle(spark, sf_dir, con):
    from compute_histogram_spark.registry import (
        _null_profile_oracle,
        q_events_null_profile,
    )

    _check("events_null_profile", q_events_null_profile(spark, sf_dir), con,
           _null_profile_oracle())


def test_histogram_2d_oracle(spark, sf_dir, con):
    from compute_histogram_spark.registry import (
        HISTOGRAM_2D_ORACLE,
        q_histogram_2d,
    )

    _check("histogram_2d", q_histogram_2d(spark, sf_dir), con,
           HISTOGRAM_2D_ORACLE)


def test_user_stats_oracle(spark, sf_dir, con):
    # third rotation wave (late r6): swapped for session_concurrency
    from compute_histogram_spark.registry import USER_STATS_ORACLE, q_user_stats

    _check("user_stats", q_user_stats(spark, sf_dir), con, USER_STATS_ORACLE)


# --- fourth rotation wave (r7): swapped for doc_perplexity(+backoff),
# --- temperature_mix, peak_concurrency, neardup_dedup


def test_event_transitions_oracle(spark, sf_dir, con):
    from compute_histogram_spark.registry import (
        EVENT_TRANSITIONS_ORACLE,
        q_event_transitions,
    )

    _check("event_transitions", q_event_transitions(spark, sf_dir), con,
           EVENT_TRANSITIONS_ORACLE)


def test_cluster_doc_stats_oracle(spark, sf_dir, con):
    from compute_histogram_spark.registry import (
        CLUSTER_DOC_STATS_ORACLE,
        q_cluster_doc_stats,
    )

    _check("cluster_doc_stats", q_cluster_doc_stats(spark, sf_dir), con,
           CLUSTER_DOC_STATS_ORACLE)


def test_doc_fingerprint_oracle(spark, sf_dir, con):
    # the md5 oracle pins the md5 TWIN; the production xxhash64 kernel is
    # value-pinned against a pure-Python XXH64 in tests/test_text.py
    from compute_histogram_spark.registry import (
        DOC_FINGERPRINT_ORACLE,
        q_doc_fingerprint_md5,
    )

    _check("doc_fingerprint", q_doc_fingerprint_md5(spark, sf_dir), con,
           DOC_FINGERPRINT_ORACLE)


def test_top_tokens_per_lang_oracle(spark, sf_dir, con):
    from compute_histogram_spark.registry import (
        TOP_TOKENS_ORACLE,
        q_top_tokens_per_lang,
    )

    _check("top_tokens_per_lang", q_top_tokens_per_lang(spark, sf_dir), con,
           TOP_TOKENS_ORACLE)


def test_similarity_topk_gemm_oracle(spark, sf_dir, con):
    from compute_histogram_spark.registry import (
        SIMILARITY_GEMM_ORACLE,
        q_similarity_topk_gemm,
    )

    _check("similarity_topk_gemm", q_similarity_topk_gemm(spark, sf_dir), con,
           SIMILARITY_GEMM_ORACLE)


# --- fifth rotation wave (r9): equi_depth_histogram /
# --- priority_year_grouping_sets / similarity_topk_ivf swap out for
# --- semantic_dedup / repeated_span_coverage / similarity_topk_sq; their
# --- full oracles continue here.


def test_equi_depth_histogram_oracle(spark, sf_dir, con):
    from compute_histogram_spark.registry import (
        EQUI_DEPTH_ORACLE,
        q_equi_depth_histogram,
    )

    _check("equi_depth_histogram", q_equi_depth_histogram(spark, sf_dir),
           con, EQUI_DEPTH_ORACLE)


def test_priority_year_grouping_sets_oracle(spark, sf_dir, con):
    from compute_histogram_spark.registry import (
        GROUPING_SETS_ORACLE,
        q_priority_year_grouping_sets,
    )

    _check("priority_year_grouping_sets",
           q_priority_year_grouping_sets(spark, sf_dir), con,
           GROUPING_SETS_ORACLE)


def test_similarity_topk_ivf_oracle(spark, sf_dir, con):
    from compute_histogram_spark.registry import (
        SIMILARITY_IVF_ORACLE,
        q_similarity_topk_ivf,
    )

    _check("similarity_topk_ivf", q_similarity_topk_ivf(spark, sf_dir), con,
           SIMILARITY_IVF_ORACLE)


# --- sixth rotation wave (r10): fuzzy_name_pairs / promo_revenue_share /
# --- dedup_embedding swap out for event_pagerank / distinct_users_kmv /
# --- token_cms / similarity_topk_pq; their full oracles continue here.


def test_fuzzy_name_pairs_oracle(spark, sf_dir, con):
    from compute_histogram_spark.registry import (
        FUZZY_NAME_PAIRS_ORACLE,
        q_fuzzy_name_pairs,
    )

    _check("fuzzy_name_pairs", q_fuzzy_name_pairs(spark, sf_dir), con,
           FUZZY_NAME_PAIRS_ORACLE)


def test_promo_revenue_share_oracle(spark, sf_dir, con):
    from compute_histogram_spark.registry import (
        PROMO_REVENUE_SHARE_ORACLE,
        q_promo_revenue_share,
    )

    _check("promo_revenue_share", q_promo_revenue_share(spark, sf_dir), con,
           PROMO_REVENUE_SHARE_ORACLE)


def test_dedup_embedding_oracle(spark, sf_dir, con):
    from compute_histogram_spark.registry import (
        DEDUP_EMBEDDING_ORACLE,
        q_dedup_embedding,
    )

    _check("dedup_embedding", q_dedup_embedding(spark, sf_dir), con,
           DEDUP_EMBEDDING_ORACLE)


# --- seventh rotation wave (r11): shipping_priority / similarity_topk_sq /
# --- sessionize_salted / asof_join_salted / doc_perplexity_backoff swap out
# --- for bpe_segment / bpe_train / simhash / pack_shards / url_dedup; their
# --- full oracles continue here.


def test_shipping_priority_oracle(spark, sf_dir, con):
    from compute_histogram_spark.registry import (
        SHIPPING_PRIORITY_ORACLE,
        q_shipping_priority,
    )

    _check("shipping_priority", q_shipping_priority(spark, sf_dir), con,
           SHIPPING_PRIORITY_ORACLE)


def test_similarity_topk_sq_oracle(spark, sf_dir, con):
    from compute_histogram_spark.registry import (
        SIMILARITY_SQ_ORACLE,
        q_similarity_topk_sq,
    )

    _check("similarity_topk_sq", q_similarity_topk_sq(spark, sf_dir), con,
           SIMILARITY_SQ_ORACLE)


def test_sessionize_salted_oracle(spark, sf_dir, con):
    from compute_histogram_spark.registry import (
        SESSIONIZE_SALTED_ORACLE,
        q_sessionize_salted,
    )

    _check("sessionize_salted", q_sessionize_salted(spark, sf_dir), con,
           SESSIONIZE_SALTED_ORACLE)


def test_asof_join_salted_oracle(spark, sf_dir, con):
    from compute_histogram_spark.registry import (
        ASOF_JOIN_SALTED_ORACLE,
        q_asof_join_salted,
    )

    _check("asof_join_salted", q_asof_join_salted(spark, sf_dir), con,
           ASOF_JOIN_SALTED_ORACLE)


def test_doc_perplexity_backoff_oracle(spark, sf_dir, con):
    from compute_histogram_spark.registry import (
        DOC_PERPLEXITY_BACKOFF_ORACLE,
        q_doc_perplexity_backoff,
    )

    _check("doc_perplexity_backoff",
           q_doc_perplexity_backoff(spark, sf_dir), con,
           DOC_PERPLEXITY_BACKOFF_ORACLE)


# --- eighth rotation wave (r12): paragraph_dedup / session_concurrency /
# --- robust_outliers / rolling_user_stats / scd2_intervals swap out for
# --- chunk_documents / contamination_report / token_hll /
# --- quality_model_score / zorder_key; their full oracles continue here.


def test_paragraph_dedup_oracle(spark, sf_dir, con):
    from compute_histogram_spark.registry import (
        PARAGRAPH_DEDUP_ORACLE,
        q_paragraph_dedup,
    )

    _check("paragraph_dedup", q_paragraph_dedup(spark, sf_dir), con,
           PARAGRAPH_DEDUP_ORACLE)


def test_session_concurrency_oracle(spark, sf_dir, con):
    from compute_histogram_spark.registry import (
        SESSION_CONCURRENCY_ORACLE,
        q_session_concurrency,
    )

    _check("session_concurrency", q_session_concurrency(spark, sf_dir),
           con, SESSION_CONCURRENCY_ORACLE)


def test_robust_outliers_oracle(spark, sf_dir, con):
    from compute_histogram_spark.registry import (
        ROBUST_OUTLIERS_ORACLE,
        q_robust_outliers,
    )

    _check("robust_outliers", q_robust_outliers(spark, sf_dir), con,
           ROBUST_OUTLIERS_ORACLE)


def test_rolling_user_stats_oracle(spark, sf_dir, con):
    from compute_histogram_spark.registry import (
        ROLLING_USER_STATS_ORACLE,
        q_rolling_user_stats,
    )

    _check("rolling_user_stats", q_rolling_user_stats(spark, sf_dir), con,
           ROLLING_USER_STATS_ORACLE)


def test_scd2_intervals_oracle(spark, sf_dir, con):
    from compute_histogram_spark.registry import (
        SCD2_INTERVALS_ORACLE,
        q_scd2_intervals,
    )

    _check("scd2_intervals", q_scd2_intervals(spark, sf_dir), con,
           SCD2_INTERVALS_ORACLE)


# --- ninth wave (r13) ----------------------------------------------------


def test_distribution_drift_oracle(spark, sf_dir, con):
    from compute_histogram_spark.registry import (
        DISTRIBUTION_DRIFT_ORACLE,
        q_distribution_drift,
    )

    _check("distribution_drift", q_distribution_drift(spark, sf_dir), con,
           DISTRIBUTION_DRIFT_ORACLE)


def test_weighted_sample_oracle(spark, sf_dir, con):
    from compute_histogram_spark.registry import (
        WEIGHTED_SAMPLE_ORACLE,
        q_weighted_sample,
    )

    _check("weighted_sample", q_weighted_sample(spark, sf_dir), con,
           WEIGHTED_SAMPLE_ORACLE)


def test_phrase_match_oracle(spark, sf_dir, con):
    from compute_histogram_spark.registry import (
        PHRASE_MATCH_ORACLE,
        q_phrase_match,
    )

    _check("phrase_match", q_phrase_match(spark, sf_dir), con,
           PHRASE_MATCH_ORACLE)


def test_apply_changes_oracle(spark, sf_dir, con):
    from compute_histogram_spark.registry import (
        APPLY_CHANGES_ORACLE,
        q_apply_changes,
    )

    _check("apply_changes", q_apply_changes(spark, sf_dir), con,
           APPLY_CHANGES_ORACLE)


def test_peak_concurrency_oracle(spark, sf_dir, con):
    from compute_histogram_spark.registry import (
        PEAK_CONCURRENCY_ORACLE,
        q_peak_concurrency,
    )

    _check("peak_concurrency", q_peak_concurrency(spark, sf_dir), con,
           PEAK_CONCURRENCY_ORACLE)


# --- tenth wave (r14): rotated out for the r13 staged twins -----------------


def test_click_attribution_oracle(spark, sf_dir, con):
    from compute_histogram_spark.registry import (
        CLICK_ATTRIBUTION_ORACLE,
        q_click_attribution,
    )

    _check("click_attribution", q_click_attribution(spark, sf_dir), con,
           CLICK_ATTRIBUTION_ORACLE)


def test_dedup_clusters_oracle(spark, sf_dir, con):
    from compute_histogram_spark.registry import (
        DEDUP_CLUSTERS_ORACLE,
        q_dedup_clusters,
    )

    _check("dedup_clusters", q_dedup_clusters(spark, sf_dir), con,
           DEDUP_CLUSTERS_ORACLE)


def test_bm25_topk_oracle(spark, sf_dir, con):
    from compute_histogram_spark.registry import BM25_TOPK_ORACLE, q_bm25_topk

    _check("bm25_topk", q_bm25_topk(spark, sf_dir), con, BM25_TOPK_ORACLE)


def test_token_pmi_oracle(spark, sf_dir, con):
    from compute_histogram_spark.registry import TOKEN_PMI_ORACLE, q_token_pmi

    _check("token_pmi", q_token_pmi(spark, sf_dir), con, TOKEN_PMI_ORACLE)


def test_doc_perplexity_oracle(spark, sf_dir, con):
    from compute_histogram_spark.registry import (
        DOC_PERPLEXITY_ORACLE,
        q_doc_perplexity,
    )

    _check("doc_perplexity", q_doc_perplexity(spark, sf_dir), con,
           DOC_PERPLEXITY_ORACLE)


# ---------------------------------------------------------------------------
# eleventh rotation (r15): asof_join / range_band_join /
# windowed_histogram / sessionize / conversion_funnel left the window for
# the staged streaming + TPC-H twins; oracles preserved verbatim as
# registry module constants.
# ---------------------------------------------------------------------------


def test_asof_join_oracle(spark, sf_dir, con):
    from compute_histogram_spark import registry as RG

    _check("asof_join", RG.q_asof_join(spark, sf_dir), con,
           RG.ASOF_JOIN_ORACLE)


def test_range_band_join_oracle(spark, sf_dir, con):
    from compute_histogram_spark import registry as RG

    _check("range_band_join", RG.q_range_band_join(spark, sf_dir), con,
           RG.RANGE_BAND_JOIN_ORACLE)


def test_windowed_histogram_oracle(spark, sf_dir, con):
    from compute_histogram_spark import registry as RG

    _check("windowed_histogram", RG.q_windowed_histogram(spark, sf_dir),
           con, RG.WINDOWED_HISTOGRAM_ORACLE)


def test_sessionize_oracle(spark, sf_dir, con):
    from compute_histogram_spark import registry as RG

    _check("sessionize", RG.q_sessionize(spark, sf_dir), con,
           RG.SESSIONIZE_ORACLE)


def test_conversion_funnel_oracle(spark, sf_dir, con):
    from compute_histogram_spark import registry as RG

    _check("conversion_funnel", RG.q_conversion_funnel(spark, sf_dir),
           con, RG.CONVERSION_FUNNEL_ORACLE)


# ---------------------------------------------------------------------------
# twelfth rotation (r16): dedup_exact / similarity_topk / text_stats /
# temperature_mix / token_cms left the window for the staged
# token_entropy / normalized_dedup / token_bloom / dedup_triangles /
# similarity_topk_pca_index twins; oracles preserved verbatim as
# registry module constants. dedup_exact and similarity_topk were the
# window's two oldest rows (driver-green since r01).
# ---------------------------------------------------------------------------


def test_dedup_exact_oracle(spark, sf_dir, con):
    from compute_histogram_spark import registry as RG

    _check("dedup_exact", RG.q_dedup_exact(spark, sf_dir), con,
           RG.DEDUP_EXACT_ORACLE)


def test_similarity_topk_oracle(spark, sf_dir, con):
    from compute_histogram_spark import registry as RG

    _check("similarity_topk", RG.q_similarity_topk(spark, sf_dir), con,
           RG.SIMILARITY_TOPK_ORACLE)


def test_text_stats_oracle(spark, sf_dir, con):
    from compute_histogram_spark import registry as RG

    _check("text_stats", RG.q_text_stats(spark, sf_dir), con,
           RG.TEXT_STATS_ORACLE)


def test_temperature_mix_oracle(spark, sf_dir, con):
    from compute_histogram_spark import registry as RG

    _check("temperature_mix", RG.q_temperature_mix(spark, sf_dir), con,
           RG.TEMPERATURE_MIX_ORACLE)


def test_token_cms_oracle(spark, sf_dir, con):
    from compute_histogram_spark import registry as RG

    _check("token_cms", RG.q_token_cms(spark, sf_dir), con,
           RG.TOKEN_CMS_ORACLE)

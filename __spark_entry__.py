"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship quality-filter run on sf0.001.
``queries()`` — one entry per implemented operator (SURVEY.md §2 + web-scale
additions); each callable takes (spark, sf_dir) and returns a DataFrame.
``oracle_sql()`` — DuckDB twins. Spark expressions and DuckDB SQL for the
heuristic/dedup operators are generated from the SAME definition tables in
``data_quality_autohealer_spark.functions.text_heuristics`` /
``operators.dedup`` so they cannot drift.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_quality_autohealer_spark.functions import bpe
from data_quality_autohealer_spark.functions import scrub as scrub_mod
from data_quality_autohealer_spark.functions import text_heuristics as th
from data_quality_autohealer_spark.operators import (
    clustering, contamination, curation, dedup, profiler, repetition,
    sessions, similarity, skew, temporal,
)
from data_quality_autohealer_spark.operators import scoring
from data_quality_autohealer_spark.operators.scoring import with_model_scores

SF001 = "/root/testdata/sf0.001"

# deterministic ANN query vector: embedding of vec_id = 0 (fetched per run)
KNN_K = 10


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


# ---------------------------------------------------------------------------
# entry
# ---------------------------------------------------------------------------


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full quality-filter decision (heuristics + langid +
    perplexity + scrub) over the documents table at sf0.001.

    Note: the driver's synthetic ``documents`` text is randomly-ordered
    vocabulary, so the perplexity rule correctly drops ~all of it
    (log_pplx ≈ 8-17 vs the 4.0 threshold) — the returned per-doc signals
    and reason codes make that transparent. The calibrated keep/drop mix is
    exercised on this repo's own synthetic web corpus
    (tests/test_pipeline_parity.py: F1 = 1.0 across 9 quality slices).
    """
    docs = _docs(spark, SF001)
    df = with_model_scores(docs)  # signal + model columns and the decision
    return df.select(
        "doc_id", "lang", "word_count", "lang_pred", "log_pplx",
        F.array_join("reasons", ",").alias("reasons_csv"), "keep",
        "scrubbed_text",
    )


# ---------------------------------------------------------------------------
# shared query-builder helpers
# ---------------------------------------------------------------------------

_SIGNAL_COLS = ["word_count", "mean_word_len", "symbol_ratio",
                "distinct_stopwords", "alpha_word_frac",
                "dup_2gram_frac", "dup_3gram_frac", "dup_4gram_frac"]


def _duck_signals_cte(table: str = "documents") -> str:
    sigs = th.duckdb_signal_sql("text")
    cols = ", ".join(f"{sql} as {name}" for name, sql in sigs.items())
    return f"select doc_id, lang, {cols} from {table}"


def _duck_reasons() -> str:
    return th.duckdb_reasons_sql(th.duckdb_rule_conditions())


def _q_quality_signals(spark, sf_dir):
    df = th.with_signal_columns(_docs(spark, sf_dir), "text")
    return df.select("doc_id", *_SIGNAL_COLS)


def _q_quality_decision(spark, sf_dir):
    df = th.with_quality_signals(_docs(spark, sf_dir))
    return df.select(
        "doc_id", "lang",
        F.array_join("reasons", ",").alias("reasons_csv"), "keep")


def _q_drop_summary(spark, sf_dir):
    # conditional aggregation instead of explode+groupBy: no row explosion,
    # map-side partial agg of fixed-width counters (and avoids Spark's
    # interpreted-mode Generate over a computed lambda-expression array).
    # Summing the rule CONDITIONS directly (reasons[i] fired ⇔ condition i
    # true by construction, text_heuristics.spark_reasons_expr) skips
    # materializing + sorting the reasons array and the 9 per-row
    # array_contains scans — measured 3.6 s → ~1.6 s at sf0.1.
    df = scoring.with_signal_columns_batched(_docs(spark, sf_dir), "text")
    conds = th.spark_rule_conditions()
    codes = list(conds.keys())
    agg = df.agg(*[
        F.sum(conds[c].cast("long")).alias(f"c{i}")
        for i, c in enumerate(codes)
    ])
    stack = ", ".join(f"'{c}', c{i}" for i, c in enumerate(codes))
    return (agg.selectExpr(
        f"stack({len(codes)}, {stack}) as (reason, n_docs)")
        .where(F.col("n_docs") > 0))


def _q_rule_ablation(spark, sf_dir):
    """Per-rule ablation census (the filter-design report: which rules
    carry weight ALONE vs merely co-fire): for every heuristic rule, how
    many docs fire it at all (hits) and how many would be saved by
    removing JUST that rule (sole_hits — the doc's only firing rule).
    Same conditional-aggregation shape as quality_drop_summary — no
    explode, map-side-combined fixed-width counters, ONE 1-row agg at
    any corpus size."""
    df = scoring.with_signal_columns_batched(_docs(spark, sf_dir), "text")
    conds = th.spark_rule_conditions()
    codes = list(conds.keys())
    nf = None
    for c in codes:
        term = conds[c].cast("int")
        nf = term if nf is None else nf + term
    aggs = []
    for i, c in enumerate(codes):
        aggs.append(F.sum(conds[c].cast("long")).alias(f"h{i}"))
        aggs.append(F.sum((conds[c] & (nf == 1)).cast("long"))
                    .alias(f"s{i}"))
    agg = df.agg(*aggs)
    stack = ", ".join(f"'{c}', h{i}, s{i}" for i, c in enumerate(codes))
    return (agg.selectExpr(
        f"stack({len(codes)}, {stack}) as (reason, hits, sole_hits)")
        .where(F.col("hits") > 0))


def _oracle_rule_ablation() -> str:
    conds = th.duckdb_rule_conditions()
    codes = list(conds.keys())
    nf = " + ".join(f"(({conds[c]})::int)" for c in codes)
    arms = []
    for c in codes:
        arms.append(
            f"select '{c}' as reason, "
            f"sum(({conds[c]})::int)::bigint as hits, "
            f"sum(case when ({conds[c]}) and _nf = 1 then 1 else 0 end"
            f")::bigint as sole_hits from f")
    union = " union all ".join(arms)
    return f"""
        with sig as ({_duck_signals_cte()}),
        f as (select sig.*, ({nf}) as _nf from sig)
        select * from ({union}) where hits > 0
    """


def _q_corpus_report(spark, sf_dir):
    """One-scan fused corpus health report (the dataset-card summary
    block): docs, languages, word mass, exact-duplicate rate, heuristic
    keep rate, mean doc length — ONE aggregation over one scan, no
    per-metric jobs (the reference profiles column-at-a-time;
    SURVEY §2.3 A1-A7 fuses). The two COUNT(DISTINCT)s are the exact
    oracle baseline; at 100× swap approx_count_distinct (the
    profile_documents_approx pattern) — everything else is algebraic."""
    df = th.with_signal_columns(_docs(spark, sf_dir), "text")
    conds = th.spark_rule_conditions()
    fired = None
    for c in conds.values():
        fired = c if fired is None else (fired | c)
    r6 = ("floor({} * cast(1000000 as double) + cast(0.5 as double)) / "
          "cast(1000000 as double)")
    return (df.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.countDistinct("lang").cast("bigint").alias("n_langs"),
        F.sum("word_count").cast("bigint").alias("words_total"),
        F.countDistinct(F.expr("md5(text)")).cast("bigint")
        .alias("distinct_texts"),
        F.sum((~fired).cast("long")).cast("bigint").alias("kept"))
        .selectExpr(
            "n_docs", "n_langs", "words_total", "distinct_texts",
            r6.format("(cast(n_docs - distinct_texts as double) / "
                      "cast(n_docs as double))") + " as exact_dup_rate",
            r6.format("(cast(kept as double) / cast(n_docs as double))")
            + " as keep_rate",
            r6.format("(cast(words_total as double) / "
                      "cast(n_docs as double))") + " as mean_words"))


def _oracle_corpus_report() -> str:
    conds = th.duckdb_rule_conditions()
    fired = " or ".join(f"({c})" for c in conds.values())
    r6 = ("floor({} * cast(1000000 as double) + cast(0.5 as double)) / "
          "cast(1000000 as double)")
    dup = r6.format("((n_docs - distinct_texts)::double / n_docs::double)")
    keep = r6.format("(kept::double / n_docs::double)")
    mean = r6.format("(words_total::double / n_docs::double)")
    return f"""
        with sig as ({_duck_signals_cte()}),
        j as (select sig.*, d.text as _txt, not ({fired}) as _keep
              from sig join (select doc_id, text from documents) d
              on sig.doc_id = d.doc_id),
        a as (select count(*)::bigint as n_docs,
                     count(distinct lang)::bigint as n_langs,
                     sum(word_count)::bigint as words_total,
                     count(distinct md5(_txt))::bigint as distinct_texts,
                     sum(_keep::int)::bigint as kept
              from j)
        select n_docs, n_langs, words_total, distinct_texts,
               {dup} as exact_dup_rate, {keep} as keep_rate,
               {mean} as mean_words
        from a
    """


def _q_quality_confidence(spark, sf_dir):
    # per-rule confidence scores (reference ensemble {issue: score} dict +
    # rule min(rate/τ,1) shape); flattened to one column per heuristic rule
    # for deterministic cross-engine hashing (map key order differs)
    df = th.with_signal_columns(_docs(spark, sf_dir), "text")
    confs = th.spark_confidence_exprs()
    cols = [expr.alias(code.replace(".", "_") + "_conf")
            for code, expr in confs.items()]
    return df.select("doc_id", *cols)


_STRICT_TH = th.GopherThresholds(min_word_count=80, max_dup_2gram_frac=0.30)


def _q_threshold_flip_docs(spark, sf_dir):
    # config-sensitivity: docs KEPT at default thresholds but DROPPED under
    # a stricter config — set difference (EXCEPT) of the two keep sets
    docs = _docs(spark, sf_dir)
    keep_default = (th.with_quality_signals(docs)
                    .where("keep").select("doc_id"))
    keep_strict = (th.with_quality_signals(docs, th=_STRICT_TH)
                   .where("keep").select("doc_id"))
    return keep_default.exceptAll(keep_strict)


def _oracle_threshold_flip() -> str:
    def keep_sql(thresholds):
        sigs = th.duckdb_signal_sql("text", thresholds)
        cols = ", ".join(f"{sql} as {name}" for name, sql in sigs.items())
        reasons = th.duckdb_reasons_sql(th.duckdb_rule_conditions(thresholds))
        return (f"select doc_id from (select doc_id, lang, {cols} "
                f"from documents) where len({reasons}) = 0")
    # doc_ids are unique per side, so EXCEPT ALL ≡ EXCEPT; ALL matches
    # Spark's exceptAll bag semantics literally
    return (f"{keep_sql(th.DEFAULT_THRESHOLDS)} "
            f"except all {keep_sql(_STRICT_TH)}")


def _q_severity_by_lang(spark, sf_dir):
    # reference severity cuts: kafka_consumer.py:85-94 (0.9/0.8/0.6)
    df = th.with_quality_signals(_docs(spark, sf_dir))
    agg = df.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum((~F.col("keep")).cast("long")).alias("n_dropped"),
    ).withColumn("drop_rate", F.round(F.col("n_dropped") / F.col("n_docs"), 6))
    sev = (F.when(F.col("drop_rate") > 0.9, "critical")
           .when(F.col("drop_rate") > 0.8, "high")
           .when(F.col("drop_rate") > 0.6, "medium")
           .otherwise("low"))
    return agg.withColumn("severity", sev)


def _q_token_stats(spark, sf_dir):
    df = th.with_signal_columns(_docs(spark, sf_dir), "text")
    return df.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.col("word_count").cast("long")).alias("total_tokens"),
        F.round(F.avg("word_count"), 6).alias("avg_tokens"),
    )


_LANG_STOPS = {
    "en": ["the", "and", "of", "to", "a", "in", "is", "that"],
    "de": ["der", "die", "das", "und", "ist", "von", "mit", "den"],
    "fr": ["le", "les", "et", "un", "une", "est", "dans", "pour"],
    "es": ["el", "los", "y", "un", "una", "es", "por", "para"],
}


def _stop_count(engine: str, lang: str, words: str | None = None) -> str:
    # canonical ASCII-whitespace tokenizer (shared with text_heuristics);
    # pass a staged ``words`` column on the Spark side so the split runs
    # once per row instead of once per language (CLAUDE.md staging rule)
    lst = ", ".join(f"'{w}'" for w in _LANG_STOPS[lang])
    if engine == "spark":
        w = words or th._spark_words("text")
        return f"size(filter({w}, w -> w in ({lst})))"
    return f"len(list_filter({th._duck_words('text')}, w -> w in ({lst})))"


def _langid_heur_case(engine: str, words: str | None = None) -> str:
    s = {lg: _stop_count(engine, lg, words) for lg in _LANG_STOPS}
    return (
        f"case when {s['en']} >= {s['de']} and {s['en']} >= {s['fr']} "
        f"and {s['en']} >= {s['es']} then 'en' "
        f"when {s['de']} >= {s['fr']} and {s['de']} >= {s['es']} then 'de' "
        f"when {s['fr']} >= {s['es']} then 'fr' else 'es' end"
    )


def _q_langid_stopword(spark, sf_dir):
    return (_docs(spark, sf_dir)
            .withColumn("_w", F.expr(th._spark_words("text")))
            .selectExpr("doc_id",
                        f"{_langid_heur_case('spark', '_w')} as lang_heur"))


def _q_fingerprint(spark, sf_dir):
    return _docs(spark, sf_dir).select(
        "doc_id", F.md5("text").alias("fp"))


def _q_exact_dedup(spark, sf_dir):
    return dedup.exact_dedup_groups(_docs(spark, sf_dir))


def _q_minhash(spark, sf_dir):
    return dedup.with_minhash(
        _docs(spark, sf_dir).select("doc_id", "text"), k=4).drop("text")


def _q_simhash(spark, sf_dir):
    return dedup.simhash(_docs(spark, sf_dir))


def _q_pii_scrub(spark, sf_dir):
    df = with_model_scores(_docs(spark, sf_dir))
    return df.select("doc_id", "scrubbed_text",
                     "n_email", "n_ssn", "n_phone", "n_ip", "n_tox")


def _q_profile_documents(spark, sf_dir):
    return profiler.profile(
        _docs(spark, sf_dir).select("doc_id", "text", "lang", "n_chars"),
        exact_percentiles=True)


def _q_outlier_iqr(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return profiler.iqr_outliers(li, "l_extendedprice")


def _q_outlier_iqr_approx(spark, sf_dir):
    # the 10^12-row variant: GK percentile_approx fences (rows-only check —
    # approximate answers have no deterministic SQL twin)
    return profiler.iqr_outliers(
        spark.read.parquet(f"{sf_dir}/lineitem.parquet"),
        "l_extendedprice", exact_percentiles=False)


def _q_pricing_summary(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    # money sums in integer cents: exact, accumulation-order-independent
    return (li.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum("l_quantity").cast("long").alias("sum_qty"),
        F.sum(F.expr("cast(round(l_extendedprice * 100, 0) as bigint)"))
        .alias("sum_base_price_cents"),
        F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
        F.round(F.avg("l_discount"), 4).alias("avg_disc"),
        F.count(F.lit(1)).alias("count_order"),
    ))


def _q_top_customers(spark, sf_dir):
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    rev = orders.groupBy("o_custkey").agg(
        F.sum(F.expr("cast(round(o_totalprice * 100, 0) as bigint)"))
        .alias("revenue_cents"),
        F.count(F.lit(1)).alias("n_orders"))
    # small dim side → broadcast join, no shuffle of the orders aggregate
    return (rev.join(F.broadcast(cust),
                     rev.o_custkey == cust.c_custkey)
            .where(F.col("n_orders") >= 3)
            .select("c_custkey", "c_name", "revenue_cents", "n_orders"))


def _q_missing_events(spark, sf_dir):
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return profiler.profile(ev.select("event_type", "value", "props"),
                            exact_percentiles=True)


def _q_dist_shift_events(spark, sf_dir):
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    per_type = ev.groupBy("event_type").agg(
        F.avg("value").alias("mean_t"), F.stddev("value").alias("std_t"))
    overall = ev.agg(F.avg("value").alias("mean_g"),
                     F.stddev("value").alias("std_g"))
    j = per_type.crossJoin(F.broadcast(overall))
    return j.select(
        "event_type",
        F.round("mean_t", 6).alias("mean_value"),
        F.round("std_t", 6).alias("std_value"),
        F.round(F.abs(F.col("mean_t") - F.col("mean_g")) / F.col("std_g"), 6)
        .alias("mean_shift"),
        F.round(F.col("std_t") / F.col("std_g"), 6).alias("variance_ratio"),
    )


_JACCARD_THRESHOLD = 0.2


def _q_ngram_jaccard(spark, sf_dir):
    # pairwise 3-gram Jaccard near-dups, blocked by lang (O(block²) verify
    # path; minhash_lsh_pairs is the candidate generator at scale)
    return dedup.ngram_jaccard_pairs(
        _docs(spark, sf_dir), n=3, threshold=_JACCARD_THRESHOLD,
        block_cols=["lang"])


def _q_salted_event_stats(spark, sf_dir):
    # north_rule skew handling: explicit two-phase salted aggregation whose
    # logical result equals a plain groupBy (oracle = plain SQL aggregate)
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return skew.salted_stats(ev, "event_type", "value", "event_id")


def _q_session_windows(spark, sf_dir):
    # gap-based session windows (native session_window — identical code in
    # batch and Structured Streaming); oracle = gaps-and-islands SQL
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return sessions.sessionize(ev, gap="4 hours")


def _q_lexical_diversity(spark, sf_dir):
    # per-doc lexical-diversity profile (type-token ratio + longest word)
    # over the canonical ASCII-whitespace tokenizer shared with the quality
    # signals; _w/_wc staged as columns (multi-referenced) so Catalyst
    # cannot inline the split per reference (CLAUDE.md lambda gotcha)
    clean = th._spark_clean("text")
    df = (_docs(spark, sf_dir)
          .withColumn("_w", F.expr(th._spark_words("text")))
          .withColumn("_wc", F.expr(
              f"case when {clean} = '' then 0 else size(_w) end"))
          .withColumn("_dw", F.expr("size(array_distinct(_w))")))
    return df.selectExpr(
        "doc_id",
        "cast(_wc as bigint) as n_words",
        "cast(case when _wc = 0 then 0 else _dw end as bigint)"
        " as n_distinct_words",
        "round(case when _wc = 0 then cast(0.0 as double)"
        " else cast(_dw as double) / _wc end, 6) as ttr",
        "cast(case when _wc = 0 then 0"
        " else array_max(transform(_w, w -> length(w))) end as bigint)"
        " as max_word_len",
    )


def _oracle_lexical_diversity() -> str:
    return f"""
        with w as (
            select doc_id, {th._duck_words('text')} as _w,
                   {th._duck_clean('text')} = '' as _e
            from documents
        ), c as (
            select doc_id, _w,
                   case when _e then 0 else len(_w) end as _wc,
                   len(list_distinct(_w)) as _dw
            from w
        )
        select doc_id,
               cast(_wc as bigint) as n_words,
               cast(case when _wc = 0 then 0 else _dw end as bigint)
                   as n_distinct_words,
               round(case when _wc = 0 then cast(0.0 as double)
                     else cast(_dw as double) / _wc end, 6) as ttr,
               cast(case when _wc = 0 then 0
                    else list_max(list_transform(_w, w -> len(w))) end
                    as bigint) as max_word_len
        from c
    """


_DOMAIN_WC_KEEP = 54.0


def _q_domain_quality(spark, sf_dir):
    # domain-level curation (the RefinedWeb move): aggregate per-source
    # quality signals, then a data-driven keep decision over the ROUNDED
    # aggregate (identical rounding in the twin, so the boolean cannot
    # flip on a last-ulp accumulation difference)
    df = th.with_quality_signals(_docs(spark, sf_dir))
    return (df.groupBy("source")
            .agg(F.count("*").cast("bigint").alias("n_docs"),
                 F.round(F.avg("word_count"), 6).alias("avg_word_count"),
                 F.round(F.avg("symbol_ratio"), 6).alias("avg_symbol_ratio"),
                 F.round(F.avg("alpha_word_frac"), 6).alias("avg_alpha_frac"))
            .withColumn(
                "source_keep",
                F.col("avg_word_count") >= F.expr(
                    f"cast({_DOMAIN_WC_KEEP} as double)")))


def _oracle_domain_quality() -> str:
    sigs = th.duckdb_signal_sql("text")
    cols = ", ".join(f"{sql} as {name}" for name, sql in sigs.items())
    return f"""
        with sig as (select source, {cols} from documents),
        agg as (
            select source, cast(count(*) as bigint) as n_docs,
                   round(avg(word_count), 6) as avg_word_count,
                   round(avg(symbol_ratio), 6) as avg_symbol_ratio,
                   round(avg(alpha_word_frac), 6) as avg_alpha_frac
            from sig group by source
        )
        select *, avg_word_count >= cast({_DOMAIN_WC_KEEP} as double)
                   as source_keep
        from agg
    """


_KMEANS_K, _KMEANS_ITERS = 8, 2


def _q_kmeans_embeddings(spark, sf_dir):
    # SemDeDup-style semantic clustering: deterministic fixed-iteration
    # Lloyd k-means (smallest-id init, 6dp-rounded centroids, sequential-
    # fold distances) — oracle-checkable unlike MLlib KMeans
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return clustering.kmeans_assign(emb, k=_KMEANS_K, iters=_KMEANS_ITERS)


def _q_semantic_neardup(spark, sf_dir):
    # the full SemDeDup chain: deterministic k-means clusters as the
    # blocking key (replacing the oracle-only label blocks), then exact
    # within-cluster cosine pairs. Round 7 (guide §3.2): the within-cluster
    # self-join no longer evaluates the interpreted 64-dim fold per PAIR —
    # the GEMM kernel prefilters candidates at threshold − margin (no false
    # negatives, see _GEMM_PREFILTER_MARGIN) and the oracle-exact fold runs
    # only on the surviving pairs (measured 99.7 s → ~6 s at sf1.0; values
    # identical — the fold, not the GEMM, produces every output value).
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    clusters = clustering.kmeans_assign(emb, k=_KMEANS_K,
                                        iters=_KMEANS_ITERS)
    blocked = emb.select("vec_id", "embedding").join(clusters, "vec_id")
    cand = similarity.embedding_near_dup_pairs_fast(
        blocked, _NEARDUP_COS - _GEMM_PREFILTER_MARGIN,
        block_col="cluster").select("id_a", "id_b")
    return _exact_cos_pairs_from_candidates(_emb_v(emb), cand)


def _q_semantic_neardup_fast(spark, sf_dir):
    # PRODUCTION SemDeDup chain (rows-only): k-means assignment via the
    # pandas-UDF GEMM kernel (clustering._assign_gemm) + per-cluster
    # chunked-GEMM cosine pairs (similarity.embedding_near_dup_pairs_fast)
    # — the same math as the oracle-checked semantic_neardup with BLAS
    # matmuls replacing every interpreted 64-dim fold. Pair-set equality
    # with the oracle chain is asserted in tests/test_clustering.py.
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    clusters = clustering.kmeans_assign(emb, k=_KMEANS_K,
                                        iters=_KMEANS_ITERS, gemm=True)
    blocked = emb.select("vec_id", "embedding").join(clusters, "vec_id")
    return similarity.embedding_near_dup_pairs_fast(
        blocked, _NEARDUP_COS, block_col="cluster")


def _oracle_semantic_neardup() -> str:
    ctes = clustering.duckdb_kmeans_ctes(k=_KMEANS_K, iters=_KMEANS_ITERS)
    return f"""
        with {ctes}
        select a.vec_id as id_a, b.vec_id as id_b, {_EMB_COS} as cosine_sim
        from afinal a join afinal b
          on a.cluster = b.cluster and a.vec_id < b.vec_id
        where {_EMB_COS} >= {_NEARDUP_COS}
    """


def _q_cross_corpus_neardup(spark, sf_dir):
    # decontaminate a new crawl against the accumulated corpus: LSH band
    # join BETWEEN corpora (never a self-join of the union) + Jaccard
    # verify. Corpora derived deterministically: ref = doc_id%3==0 (the
    # "already trained on" set), new = the rest.
    docs = _docs(spark, sf_dir).select("doc_id", "text")
    return dedup.cross_corpus_neardup(
        docs.where("doc_id % 3 != 0"), docs.where("doc_id % 3 = 0"),
        threshold=_CROSS_NEARDUP_THRESHOLD)


_CROSS_NEARDUP_THRESHOLD = 0.5


def _q_neardup_via_index(spark, sf_dir):
    # incremental decontamination against a STORED signature index
    # (rows-only: the index is an intermediate artifact, but the pair set
    # is asserted identical to the oracle-checked cross_corpus_neardup in
    # tests/test_neardup_chain.py). Round-4 — SURVEY §2.13 V15.
    docs = _docs(spark, sf_dir).select("doc_id", "text")
    # checkpointed: the band join and the verify each read it
    index = dedup.build_signature_index(
        docs.where("doc_id % 3 = 0")).localCheckpoint()
    return dedup.neardup_against_index(
        docs.where("doc_id % 3 != 0"), index,
        threshold=_CROSS_NEARDUP_THRESHOLD)


def _q_snapshot_delta(spark, sf_dir):
    # re-crawl snapshot diff: full outer join of two crawl states ->
    # added / removed / changed / same per doc. Snapshots are derived
    # DETERMINISTICALLY from documents (old drops doc_id%10==0, new drops
    # %13==0 and rewrites %7==0) so the DuckDB twin builds identical input.
    docs = _docs(spark, sf_dir).select("doc_id", "text")
    old = docs.where("doc_id % 10 != 0").alias("o")
    new = (docs.where("doc_id % 13 != 0")
           .selectExpr("doc_id",
                       "case when doc_id % 7 = 0 then text || ' [updated]'"
                       " else text end as text")
           .alias("n"))
    j = old.join(new, F.col("o.doc_id") == F.col("n.doc_id"), "full_outer")
    return j.select(
        F.coalesce("o.doc_id", "n.doc_id").alias("doc_id"),
        F.expr("case when o.doc_id is null then 'added'"
               " when n.doc_id is null then 'removed'"
               " when o.text <=> n.text then 'same'"
               " else 'changed' end").alias("status"))


_ORACLE_SNAPSHOT_DELTA = """
    with base as (select doc_id, text from documents),
    s_old as (select * from base where doc_id % 10 != 0),
    s_new as (select doc_id,
                     case when doc_id % 7 = 0 then text || ' [updated]'
                     else text end as text
              from base where doc_id % 13 != 0)
    select coalesce(o.doc_id, n.doc_id) as doc_id,
           case when o.doc_id is null then 'added'
                when n.doc_id is null then 'removed'
                when o.text is not distinct from n.text then 'same'
                else 'changed' end as status
    from s_old o full outer join s_new n on o.doc_id = n.doc_id
"""


_ASOF_WINDOW_SEC = 1800
_ASOF_LEFT_SQL = ("select event_id, user_id, ts, value from events"
                  " where event_type = 'purchase'")
_ASOF_RIGHT_SQL = ("select user_id, ts, event_id, value from events"
                   " where event_type = 'click'")


def _asof_sides(spark, sf_dir):
    # purchase attribution: each purchase gains its user's latest prior
    # click (the classic event-attribution as-of join)
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    left = (ev.where(F.col("event_type") == "purchase")
            .select("event_id", "user_id", "ts", "value"))
    right = (ev.where(F.col("event_type") == "click")
             .select("user_id", "ts", "event_id", "value"))
    return left, right


def _q_asof_join_events(spark, sf_dir):
    # as-of join Spark lacks as a built-in: union+window composition, one
    # shuffle, no join node (plan-asserted in tests/test_temporal.py)
    left, right = _asof_sides(spark, sf_dir)
    return temporal.asof_join(
        left, right, on=["user_id"], left_ts="ts", right_ts="ts",
        payload=["event_id", "value"], tie_col="event_id")


def _q_time_range_join_events(spark, sf_dir):
    # interval join as an equi-join on (key, coarse time bucket) + exact
    # |Δt| predicate — never a cross product (plan-asserted)
    left, right = _asof_sides(spark, sf_dir)
    return temporal.time_range_join(
        left.drop("value"), right.drop("value"), on=["user_id"],
        left_ts="ts", right_ts="ts", window_sec=_ASOF_WINDOW_SEC,
        right_cols=["event_id"])


def _q_json_extract(spark, sf_dir):
    # F4: JSON decode (reference: kafka_consumer.py:134 json.loads)
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return ev.select(
        "event_id",
        F.get_json_object("props", "$.k").cast("int").alias("k"),
    )


def _q_winsorize(spark, sf_dir):
    # P6: winsorize/clip (reference: outlier_remediation.py:132-133), fences
    # from exact percentiles, then greatest(least(...)) clipping
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    q = li.agg(F.expr("percentile(l_extendedprice, 0.05)").alias("lo"),
               F.expr("percentile(l_extendedprice, 0.95)").alias("hi")
               ).collect()[0]
    lo, hi = float(q["lo"]), float(q["hi"])
    clipped = F.greatest(F.least(F.col("l_extendedprice"), F.lit(hi)),
                         F.lit(lo))
    return li.groupBy("l_returnflag").agg(
        F.round(F.avg(clipped), 4).alias("avg_winsorized"),
        F.round(F.avg("l_extendedprice"), 4).alias("avg_raw"),
        F.count(F.lit(1)).alias("n_rows"),
    )


def _q_type_coercion(spark, sf_dir):
    # P7: try_cast coercion census (reference: type_mismatch.py:79-94)
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return ev.agg(
        F.sum(F.expr("try_cast(event_type as double)").isNull().cast("long"))
        .alias("event_type_uncastable"),
        F.sum(F.expr("try_cast(get_json_object(props, '$.k') as double)")
              .isNotNull().cast("long")).alias("props_k_castable"),
        F.count(F.lit(1)).alias("n_rows"),
    )


def _q_top_order_per_customer(spark, sf_dir):
    # W3-style top-k: window row_number per customer
    from pyspark.sql.window import Window
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (orders.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") == 1)
            .select("o_custkey", "o_orderkey",
                    F.round("o_totalprice", 2).alias("top_price")))


_BLOCKED_HOSTS = ["host7.example", "host23.example", "host41.example"]
_BAD_EXTS = ["exe", "zip", "jpg"]


def _q_url_quality(spark, sf_dir):
    # URL-level filters a crawl pipeline applies before fetching text:
    # host extraction, path depth, domain blocklist, extension screen.
    # URLs are derived DETERMINISTICALLY from doc_id (documents.parquet has
    # no url column) so the DuckDB twin constructs the identical input.
    blocked = ", ".join(f"'{h}'" for h in _BLOCKED_HOSTS)
    exts = ", ".join(f"'{e}'" for e in _BAD_EXTS)
    return _docs(spark, sf_dir).selectExpr(
        "doc_id",
        "concat('http://host', cast(doc_id % 50 as string), "
        "'.example/a/b', repeat('/c', cast(doc_id % 4 as int)), "
        "'/file', cast(doc_id as string), '.', "
        "element_at(array('html','exe','zip','jpg','txt'), "
        "cast(doc_id % 5 as int) + 1)) as url",
    ).selectExpr(
        "doc_id", "url",
        "regexp_extract(url, 'http://([^/]+)/', 1) as host",
        "cast(size(split(url, '/')) - 3 as int) as path_depth",
        f"regexp_extract(url, 'http://([^/]+)/', 1) in ({blocked})"
        " as host_blocked",
        f"regexp_extract(url, '[.]([a-z0-9]+)$', 1) in ({exts})"
        " as bad_extension",
    ).selectExpr(
        "doc_id", "url", "host", "path_depth", "host_blocked",
        "bad_extension",
        "not (host_blocked or bad_extension) as url_keep",
    )


def _oracle_url_quality() -> str:
    blocked = ", ".join(f"'{h}'" for h in _BLOCKED_HOSTS)
    exts = ", ".join(f"'{e}'" for e in _BAD_EXTS)
    return f"""
        with u as (
            select doc_id,
                   'http://host' || (doc_id % 50)::varchar || '.example/a/b'
                   || repeat('/c', (doc_id % 4)::int)
                   || '/file' || doc_id::varchar || '.'
                   || (['html','exe','zip','jpg','txt'])[(doc_id % 5)::int + 1]
                       as url
            from documents
        ),
        f as (
            select doc_id, url,
                   regexp_extract(url, 'http://([^/]+)/', 1) as host,
                   (len(regexp_split_to_array(url, '/')) - 3)::int
                       as path_depth,
                   regexp_extract(url, 'http://([^/]+)/', 1) in ({blocked})
                       as host_blocked,
                   regexp_extract(url, '[.]([a-z0-9]+)$', 1) in ({exts})
                       as bad_extension
            from u
        )
        select doc_id, url, host, path_depth, host_blocked, bad_extension,
               not (host_blocked or bad_extension) as url_keep
        from f
    """


def _q_punct_stats(spark, sf_dir):
    # C4-style punctuation signals (no regex escapes: [.] classes are valid
    # verbatim in Java regex and RE2)
    wc = f"size({th._spark_words('text')})"
    return _docs(spark, sf_dir).selectExpr(
        "doc_id",
        "cast(regexp_count(text, '[.!?]') as bigint) as n_terminal_punct",
        "cast(regexp_count(text, '[.][.][.]') as bigint) as n_ellipsis",
        f"round(cast(regexp_count(text, '[.!?]') as double) / {wc}, 6)"
        " as punct_word_ratio",
    )


def _q_zscore_outliers(spark, sf_dir):
    # per-group z-score outlier census via window functions (W-coverage:
    # aggregate-over-window, not just row_number)
    from pyspark.sql.window import Window
    ev = (spark.read.parquet(f"{sf_dir}/events.parquet")
          .where(F.col("value").isNotNull() & ~F.isnan("value")))
    w = Window.partitionBy("event_type")
    # degenerate-group guard, IDENTICAL in both dialects: nullif(stddev,0)
    # keeps a zero-variance group's z NULL (instead of engine-specific
    # inf/NULL division results), and the outlier sum coalesces to 0 so a
    # single-row group reports 0 outliers in both engines
    z = ((F.col("value") - F.avg("value").over(w))
         / F.nullif(F.stddev("value").over(w), F.lit(0.0)))
    return (ev.withColumn("_z", z)
            .groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n_rows"),
                 F.coalesce(
                     F.sum((F.abs(F.col("_z")) > 3).cast("long")),
                     F.lit(0).cast("long"))
                 .alias("n_outliers")))


def _q_token_count_bpe(spark, sf_dir):
    # BPE-ish subword token census: alpha runs, digit runs, single symbols
    # (the same _BPE_PAT sequence_pack packs by — one definition)
    return _docs(spark, sf_dir).select(
        "doc_id",
        F.expr(f"regexp_count(text, '{_BPE_PAT}')").cast("long")
        .alias("bpe_tokens"),
        F.expr(f"size({th._spark_words('text')})").cast("long")
        .alias("ws_tokens"),
    )


_BPE_MERGES = 16


def _q_quality_classifier(spark, sf_dir):
    """Distilled quality classifier (operators/distill.py, VERDICT r05
    #7): fastText-style linear head over hashed char-trigram features,
    trained on the heuristic keep/drop labels (80% hash split), scoring
    every doc. Exact arithmetic end-to-end (polarity weights + micro-int
    score sums), so the full train+score pipeline is hash-compared
    against the one-query DuckDB twin."""
    from data_quality_autohealer_spark.operators import distill
    labeled = th.with_quality_signals(_docs(spark, sf_dir))
    return distill.distill_quality_classifier(labeled)


def _oracle_quality_classifier() -> str:
    from data_quality_autohealer_spark.operators import distill
    reasons = _duck_reasons()
    labels = (f"select sig.doc_id, d.text, len({reasons}) = 0 as keep "
              f"from ({_duck_signals_cte()}) sig "
              f"join (select doc_id, text from documents) d "
              f"on sig.doc_id = d.doc_id")
    return distill.duckdb_distill_sql(labels)


# fixed-width bins over the classifier's DECISION VARIABLE (the raw
# integer score sum — keep_pred cuts on it, so the reliability diagram
# must bin on it too): data-independent — never a global ntile window —
# and clamped to [-6, 6] so the histogram schema is stable at any corpus
# size
_CAL_BIN_MICRO = 25_000_000


def _cal_bin(score: str) -> str:
    """Engine-shared fixed-width floor bin of the raw score, clamped."""
    return (f"cast(greatest(-6, least(6, floor({score} / "
            f"cast({_CAL_BIN_MICRO} as double)))) as bigint)")


def _q_classifier_calibration(spark, sf_dir):
    """Calibration census of the distilled classifier (the reliability
    diagram a model card reports — public: Guo et al. 2017 on
    calibration): per fixed-width bin of the decision-variable score,
    doc count and the HELD-OUT heuristic keep-rate (train rows excluded
    so the curve is honest). Fixed-width integer bins — never a global
    ntile window — so the census is ONE algebraic groupBy at any corpus
    size."""
    from data_quality_autohealer_spark.operators import distill
    labeled = scoring.with_quality_signals_batched(_docs(spark, sf_dir))
    scored = distill.distill_quality_classifier_fast(labeled)
    return (scored.where("not is_train")
            .selectExpr(f"{_cal_bin('score_micro')} as score_bin",
                        "keep_heur")
            .groupBy("score_bin")
            .agg(F.count(F.lit(1)).cast("bigint").alias("docs"),
                 F.sum(F.expr("case when keep_heur then 1 else 0 end"))
                 .cast("bigint").alias("kept"))
            .selectExpr(
                "score_bin", "docs", "kept",
                "floor(kept / cast(docs as double) * "
                "cast(1000000 as double) + cast(0.5 as double)) / "
                "cast(1000000 as double) as keep_rate"))


def _oracle_classifier_calibration() -> str:
    return f"""
        with s as ({_oracle_quality_classifier()})
        select {_cal_bin('score_micro')} as score_bin,
               count(*)::bigint as docs,
               sum(case when keep_heur then 1 else 0 end)::bigint as kept,
               floor(sum(case when keep_heur then 1 else 0 end)::double /
                     count(*)::double * cast(1000000 as double) +
                     cast(0.5 as double)) / cast(1000000 as double)
                   as keep_rate
        from s where not is_train
        group by 1
    """


# deterministic messy suffixes cycled by doc_id % 3: clean ASCII /
# combining Latin + fullwidth / ring+BEL control+Hangul jamo — so
# `changed` varies and the NFC + control-strip path is exercised for real
_MESSY_SFX = ["", " café naïve ｆw",
              " Ångström\x07 가"]


def _messy_text(engine: str) -> str:
    arr = ", ".join("'" + s + "'" for s in _MESSY_SFX)
    if engine == "spark":
        sfx = f"element_at(array({arr}), cast(doc_id % 3 as int) + 1)"
        # concat propagates NULL in Spark, matching DuckDB's || (DuckDB
        # concat() would IGNORE nulls — divergent)
        return f"concat(text, {sfx})"
    sfx = f"[{arr}][(doc_id % 3)::int + 1]"
    return f"(text || {sfx})"


def _q_unicode_clean(spark, sf_dir):
    """Unicode hygiene (round 6): NFC normalization (pandas UDF — Spark
    has no native NFC; ONE Arrow crossing) + C0 control strip (native,
    engine-paired) over deterministically-dirtied text. The oracle twin
    is DuckDB's utf8proc nfc_normalize — the two Unicode implementations
    are verified char-identical; the first pandas-UDF query with a full
    hash oracle."""
    from data_quality_autohealer_spark.functions import unicode_clean as uc
    docs = _docs(spark, sf_dir).selectExpr(
        "doc_id", f"{_messy_text('spark')} as _t")
    out = uc.with_unicode_clean(docs, "_t", "text_clean")
    return out.selectExpr(
        "doc_id", "text_clean",
        "coalesce(text_clean != _t, false) as changed")


def _oracle_unicode_clean() -> str:
    from data_quality_autohealer_spark.functions import unicode_clean as uc
    expr = uc.duckdb_unicode_clean_sql("_t")
    return f"""
        with b as (select doc_id, {_messy_text('duck')} as _t
                   from documents)
        select doc_id, {expr} as text_clean,
               coalesce({expr} != _t, false) as changed
        from b
    """


def _q_simhash_pairs(spark, sf_dir):
    """SimHash banded near-dup pairs (round 6): 4 bands x 4 bits over the
    16-bit fingerprint — pigeonhole guarantees Hamming<=3 pairs share a
    band, so candidates are an equi-join, never a cross product; window
    cap on the join key kills degenerate buckets. Pure integer
    arithmetic; Hamming radius 2 keeps the pair set tight (the
    complement of the Jaccard-threshold MinHash chain)."""
    return dedup.simhash_neardup_pairs(
        _docs(spark, sf_dir).select("doc_id", "text"), max_hamming=2)


def _oracle_simhash_pairs() -> str:
    return dedup.duckdb_simhash_pairs_sql("documents", max_hamming=2)


# deterministic multi-line page structure for the C4 rules (the testdata
# corpus is single-line word soup): two prose segments with terminal
# punctuation, a nav line with none, a variant line cycling through
# punct / bang / unterminated / javascript, plus lorem-ipsum and brace
# lines on doc_id strides — every rule fires on a known subset.
_C4_VARIANTS = [".", "!", "", " with javascript."]


def _lined_text(engine: str) -> str:
    arr = ", ".join("'" + s + "'" for s in _C4_VARIANTS)
    if engine == "spark":
        var = f"element_at(array({arr}), cast(doc_id % 4 as int) + 1)"
        return (
            "concat_ws(chr(10), "
            "concat(substring(_t0, 1, 64), ' end of part one.'), "
            "'click here to accept cookies', "
            f"concat(substring(_t0, 65, 80), {var}), "
            "case when doc_id % 13 = 0 then 'lorem ipsum dolor sit amet.' "
            "end, "
            "case when doc_id % 17 = 0 then 'var cfg = { a: 1 };' end, "
            "concat(substring(_t0, 145, 96), ' is that so?'))")
    var = f"[{arr}][(doc_id % 4)::int + 1]"
    return (
        "concat_ws(chr(10), "
        "substr(_t0, 1, 64) || ' end of part one.', "
        "'click here to accept cookies', "
        f"substr(_t0, 65, 80) || {var}, "
        "case when doc_id % 13 = 0 then 'lorem ipsum dolor sit amet.' end, "
        "case when doc_id % 17 = 0 then 'var cfg = { a: 1 };' end, "
        "substr(_t0, 145, 96) || ' is that so?')")


def _q_bpe_fertility(spark, sf_dir):
    """Tokenizer fertility by language under the corpus-trained BPE vocab
    (tokens emitted per word — the metric multilingual tokenizer/mixture
    decisions cut on; public: Rust et al. 2021 "How Good is Your
    Tokenizer?"). Composes the hash-verified training + counting chains;
    one algebraic groupBy(lang); fertility is one IEEE division of exact
    integer sums + HALF_UP 6dp."""
    docs = _docs(spark, sf_dir).select("doc_id", "lang", "text")
    merges = bpe.train_bpe_merges(docs, num_merges=_BPE_MERGES)
    counted = bpe.with_bpe_token_counts(docs, merges)
    counted = counted.withColumn(
        "n_words",
        F.expr("cast(size(regexp_extract_all(lower(coalesce(text, '')), "
               f"'{bpe.WORD_RE}', 0)) as bigint)"))
    return (counted.groupBy("lang")
            .agg(F.count(F.lit(1)).cast("bigint").alias("docs"),
                 F.sum("n_tokens_bpe").cast("bigint").alias("tokens"),
                 F.sum("n_words").cast("bigint").alias("words"))
            .selectExpr(
                "lang", "docs", "tokens", "words",
                "floor(tokens / cast(greatest(words, 1) as double) * "
                "cast(1000000 as double) + cast(0.5 as double)) / "
                "cast(1000000 as double) as fertility"))


def _oracle_bpe_fertility() -> str:
    tc = bpe.duckdb_bpe_token_count_sql(_BPE_MERGES)
    return f"""
        with tc as (select * from ({tc})),
        w as (select doc_id, lang,
                     len(regexp_extract_all(lower(coalesce(text, '')),
                         '{bpe.WORD_RE}'))::bigint as n_words
              from documents)
        select w.lang, count(*)::bigint as docs,
               sum(tc.n_tokens_bpe)::bigint as tokens,
               sum(w.n_words)::bigint as words,
               floor(sum(tc.n_tokens_bpe)::double /
                     greatest(sum(w.n_words), 1)::double *
                     cast(1000000 as double) + cast(0.5 as double)) /
               cast(1000000 as double) as fertility
        from tc join w using (doc_id) group by w.lang
    """


_PARA_BOILER = "subscribe to our newsletter for updates"
_PARA_FOOTER = "all rights reserved copyright notice"


def _para_text(engine: str) -> str:
    """Deterministic paragraph structure (blank-line separated): unique
    head/tail content around a corpus-wide boilerplate paragraph, plus a
    footer paragraph on a doc_id stride."""
    if engine == "spark":
        return (
            "concat_ws(concat(chr(10), chr(10)), "
            "substring(_t0, 1, 150), "
            f"'{_PARA_BOILER}', "
            "substring(_t0, 151, 4000), "
            f"case when doc_id % 5 = 0 then '{_PARA_FOOTER}' end)")
    return (
        "concat_ws(chr(10) || chr(10), "
        "substr(_t0, 1, 150), "
        f"'{_PARA_BOILER}', "
        "substr(_t0, 151, 4000), "
        f"case when doc_id % 5 = 0 then '{_PARA_FOOTER}' end)")


def _q_paragraph_dedup(spark, sf_dir):
    """Corpus-level PARAGRAPH dedup (the CCNet granularity — Wenzek et
    al. 2020 hash paragraphs, not lines): same 60-bit-hash census shape
    as line_dedup with the blank-line split regex; boilerplate/footer
    paragraphs appearing in >=2 docs drop, unique prose survives, docs
    rebuild in order."""
    docs = _docs(spark, sf_dir).selectExpr(
        "doc_id", "coalesce(text, '') as _t0")
    lined = docs.selectExpr("doc_id", f"{_para_text('spark')} as _pt")
    out = dedup.line_dedup(lined, text_col="_pt", unit="paragraph")
    return out.selectExpr(
        "doc_id", "text_deduped",
        "n_lines_kept as n_paras_kept",
        "n_lines_dropped as n_paras_dropped")


def _oracle_paragraph_dedup() -> str:
    inner = (f"(select doc_id, {_para_text('duck')} as _pt from "
             f"(select doc_id, coalesce(text, '') as _t0 from documents))")
    body = dedup.duckdb_line_dedup_sql(inner, text_col="_pt",
                                       unit="paragraph")
    return (f"select doc_id, text_deduped, "
            f"n_lines_kept as n_paras_kept, "
            f"n_lines_dropped as n_paras_dropped from ({body})")


def _q_dsir_importance(spark, sf_dir):
    """DSIR-style importance weighting (operators/importance.py — Xie et
    al. 2023): hashed unigram+bigram distribution match of every doc
    against the in-corpus target slice (lang='en' here; a real pipeline
    points the predicate at Wikipedia/books). Normalized polarity
    cross-products in bigint + one IEEE division + HALF_UP micro-int keep
    the weights engine-exact with no libm ln(); weight table broadcast,
    one shuffle for the per-doc integer sum."""
    from data_quality_autohealer_spark.operators import importance
    return importance.dsir_scores(_docs(spark, sf_dir),
                                  target_pred="lang = 'en'")


def _oracle_dsir_importance() -> str:
    from data_quality_autohealer_spark.operators import importance
    return importance.duckdb_dsir_sql("documents",
                                      target_pred="lang = 'en'")


def _q_c4_line_filter(spark, sf_dir):
    """C4 rule-based line + page cleaning (functions/c4.py — Raffel et
    al. 2020 §2.2, the public C4 recipe): terminal-punctuation lines with
    >=5 words and no 'javascript' survive; pages with 'lorem ipsum', a
    curly brace, or <3 surviving lines are flagged (never deleted). A
    pure per-document projection — zero exchanges at any scale. Runs over
    deterministically re-lined text (the corpus is single-line)."""
    from data_quality_autohealer_spark.functions import c4
    docs = _docs(spark, sf_dir).selectExpr(
        "doc_id", "coalesce(text, '') as _t0")
    lined = docs.selectExpr("doc_id", f"{_lined_text('spark')} as _lt")
    return c4.c4_clean(lined, text_col="_lt")


def _oracle_c4_line_filter() -> str:
    from data_quality_autohealer_spark.functions import c4
    inner = (f"(select doc_id, {_lined_text('duck')} as _lt from "
             f"(select doc_id, coalesce(text, '') as _t0 from documents))")
    return c4.duckdb_c4_sql(inner, text_col="_lt")


def _q_ccnet_buckets(spark, sf_dir):
    """CCNet-style per-language quality buckets (round 6): ntile(3)
    head/middle/tail WITHIN each language over the distilled-classifier
    integer score (Wenzek et al. 2020 bucket per-language; integer
    scores make the tie-break engine-exact). The exact per-group window
    distributes one group per reducer; the percentile_approx + broadcast
    cut-table scale twin is suite-tested."""
    from data_quality_autohealer_spark.operators import distill
    docs = _docs(spark, sf_dir)
    labeled = scoring.with_quality_signals_batched(docs)
    scores = distill.distill_quality_classifier_fast(labeled).select(
        "doc_id", "score_micro")
    joined = scores.join(docs.select("doc_id", "lang"), "doc_id")
    return curation.grouped_quality_strata(joined, "score_micro", "lang", 3)


def _oracle_ccnet_buckets() -> str:
    inner = (f"select s.doc_id, d.lang, s.score_micro "
             f"from ({_oracle_quality_classifier()}) s "
             f"join documents d on s.doc_id = d.doc_id")
    return curation.duckdb_grouped_strata_sql(inner, "score_micro", "lang", 3)


def _q_temperature_mix(spark, sf_dir):
    """Temperature-weighted mixture allocation (round 6): split a 1M-token
    budget across languages by sqrt(token_count) weights (alpha=0.5 —
    sqrt is IEEE exactly-rounded, so the whole computation is engine-exact
    integer arithmetic after one rounding). The knob multilingual training
    mixes actually use; complements token_budget_sample, which consumes
    the resulting per-stratum budgets."""
    df = th.with_quality_signals(_docs(spark, sf_dir))
    return curation.temperature_mix_allocation(df, total_budget=1_000_000)


def _oracle_temperature_mix() -> str:
    wc = th.duckdb_signal_sql("text")["word_count"]
    return curation.duckdb_temperature_mix_sql(
        "documents", 1_000_000, token_expr=wc)


_BL_URL_SPARK = (
    "concat('http://', element_at(array('', 'www.', 'ads.sub.'), "
    "cast(doc_id % 3 as int) + 1), 'host', cast(doc_id % 50 as string), "
    "'.example/p/', cast(doc_id % 7 as string))")
_BL_URL_DUCK = (
    "'http://' || ['', 'www.', 'ads.sub.'][(doc_id % 3)::int + 1] || "
    "'host' || (doc_id % 50)::varchar || '.example/p/' || "
    "(doc_id % 7)::varchar")


def _q_domain_blocklist(spark, sf_dir):
    """Registered-domain blocklist filtering (round 6): subdomain-bearing
    URLs collapse to their registered domain (last two labels) before a
    BROADCAST join against the blocklist table — UT1-list semantics, vs
    url_quality's inline exact-host screen. The blocklist is the
    deterministic md5 stand-in (no external data in the sandbox); a real
    pipeline reads the UT1 file instead and nothing else changes."""
    docs = _docs(spark, sf_dir).selectExpr(
        "doc_id", f"{_BL_URL_SPARK} as url")
    bl = curation.synthetic_blocklist(docs)
    return curation.apply_domain_blocklist(docs, bl)


def _oracle_domain_blocklist() -> str:
    return curation.duckdb_domain_blocklist_sql(
        f"(select doc_id, {_BL_URL_DUCK} as url from documents)")


def _q_dedup_keep_best(spark, sf_dir):
    """Quality-aware near-dup survivor selection (round 6): per cluster,
    keep the member with the highest distilled-classifier score (tie: min
    id) instead of the arbitrary min-id representative — near-dup clusters
    usually mix a clean page with boilerplate-laden mirrors. Composes the
    two independently-verified pipelines (neardup_groups +
    quality_classifier); exact integer scores make the argmax
    engine-reproducible."""
    from data_quality_autohealer_spark.operators import distill
    docs = _docs(spark, sf_dir)
    labeled = scoring.with_quality_signals_batched(docs)
    scores = distill.distill_quality_classifier_fast(labeled).select(
        "doc_id", "score_micro")
    groups = dedup.neardup_groups(docs.select("doc_id", "text"))
    return dedup.keep_best_representatives(groups, scores)


def _oracle_dedup_keep_best() -> str:
    return dedup.duckdb_keep_best_sql(
        dedup.duckdb_neardup_groups_sql("documents"),
        _oracle_quality_classifier())


def _q_main_content_extract(spark, sf_dir):
    """Block-scored main-content extraction (functions/html_extract.py,
    VERDICT r05 #4): each doc's text wrapped in deterministic page chrome
    (nav + linkfarm + article + footer), then extracted back via the
    engine-paired SQL twin — chrome dropped, article prose kept (docs
    under the 5-word prose floor extract to ''). The html.parser scale
    path is parity-pinned to this twin in tests/test_html_extract.py."""
    from data_quality_autohealer_spark.functions import html_extract as hx
    m = hx.spark_main_text_expr(hx.chrome_wrap_sql("text"))
    return (_docs(spark, sf_dir)
            .selectExpr("doc_id", f"{m} as main_text")
            .selectExpr("doc_id", "main_text",
                        "cast(length(main_text) as bigint) as main_chars"))


def _oracle_main_content_extract() -> str:
    from data_quality_autohealer_spark.functions import html_extract as hx
    m = hx.duckdb_main_text_expr(hx.chrome_wrap_sql("text"))
    return (f"with e as (select doc_id, {m} as main_text from documents) "
            f"select doc_id, main_text, "
            f"length(main_text)::bigint as main_chars from e")


def _q_bpe_vocab(spark, sf_dir):
    """Deterministic distributed BPE tokenizer training (functions/bpe.py,
    VERDICT r05 #3): one corpus-wide word-census aggregation, then 16
    pair-count/argmax/merge rounds — each a partial-aggregated groupBy
    over the census plus a 1-row collect. The DuckDB twin unrolls the
    identical fixed-depth loop as materialized CTEs, so learned merges are
    hash-compared end-to-end (ties broken lexicographically on both
    engines)."""
    merges = bpe.train_bpe_merges(_docs(spark, sf_dir),
                                  num_merges=_BPE_MERGES)
    return bpe.merges_df(spark, merges)


def _q_bpe_token_count(spark, sf_dir):
    """token_count_bpe upgraded to consume the TRAINED vocab: per-doc
    token counts under the corpus-learned merges. Tokenization is a
    shuffle-free literal-replace chain over each doc's delimited symbol
    string (merge rules cannot match across word boundaries — see
    functions/bpe.py)."""
    docs = _docs(spark, sf_dir)
    merges = bpe.train_bpe_merges(docs, num_merges=_BPE_MERGES)
    return bpe.doc_token_counts(docs, merges)


def _q_bpe_encode(spark, sf_dir):
    """Actual token sequences under the corpus-trained vocab (the payload
    a packing/training job consumes), flattened to CSV for the
    cross-engine hash (tokens never contain spaces)."""
    docs = _docs(spark, sf_dir)
    merges = bpe.train_bpe_merges(docs, num_merges=_BPE_MERGES)
    return bpe.doc_tokens(docs, merges).selectExpr(
        "doc_id",
        "cast(size(tokens) as bigint) as n_tokens",
        "array_join(tokens, ' ') as tokens_csv")


def _oracle_bpe_encode() -> str:
    enc = bpe.duckdb_bpe_encode_sql(_BPE_MERGES)
    # array_to_string on an EMPTY list is NULL in DuckDB — coalesce
    return (f"select doc_id, len(tokens)::bigint as n_tokens, "
            f"coalesce(array_to_string(tokens, ' '), '') as tokens_csv "
            f"from ({enc})")


def _q_readability(spark, sf_dir):
    # Flesch-Kincaid-style grade from cheap proxies (vowel-group syllables,
    # terminal-punct sentences) — the readability band filter corpus
    # pipelines apply. Single-division arithmetic over per-doc INTEGER
    # counts: identical doubles in both engines, no accumulation order.
    clean = th._spark_clean("text")
    df = (_docs(spark, sf_dir)
          .withColumn("_w", F.expr(th._spark_words("text")))
          .withColumn("_wc", F.expr(
              f"cast(case when {clean} = '' then 0 else size(_w) end"
              " as bigint)"))
          .withColumn("_syl", F.regexp_count(
              F.col("text"), F.lit("[aeiouyAEIOUY]+")).cast("bigint"))
          .withColumn("_sent", F.greatest(
              F.regexp_count(F.col("text"), F.lit("[.!?]")), F.lit(1))
              .cast("bigint")))
    fk = ("round(cast('0.39' as double) * _wc / _sent"
          " + cast('11.8' as double) * _syl / greatest(_wc, 1)"
          " - cast('15.59' as double), 6)")
    return df.selectExpr("doc_id", "_wc as n_words", "_syl as n_syllables",
                         "_sent as n_sentences", f"{fk} as fk_grade")


def _oracle_readability() -> str:
    fk = ("round(cast('0.39' as double) * _wc / _sent"
          " + cast('11.8' as double) * _syl / greatest(_wc, 1)"
          " - cast('15.59' as double), 6)")
    return f"""
        with w as (
            select doc_id,
                   cast(case when {th._duck_clean('text')} = '' then 0
                        else len({th._duck_words('text')}) end as bigint)
                       as _wc,
                   cast(len(regexp_extract_all(text, '[aeiouyAEIOUY]+'))
                        as bigint) as _syl,
                   cast(greatest(len(regexp_extract_all(text, '[.!?]')), 1)
                        as bigint) as _sent
            from documents
        )
        select doc_id, _wc as n_words, _syl as n_syllables,
               _sent as n_sentences, {fk} as fk_grade
        from w
    """


def _q_lang_agreement(spark, sf_dir):
    # claimed-label vs stopword-heuristic confusion census: the label-noise
    # estimate a curation pipeline tracks per snapshot. Integer counts only.
    return (_docs(spark, sf_dir)
            .withColumn("_w", F.expr(th._spark_words("text")))
            .selectExpr("lang",
                        f"{_langid_heur_case('spark', '_w')} as lang_heur")
            .groupBy("lang", "lang_heur")
            .agg(F.count("*").cast("long").alias("n")))


def _oracle_lang_agreement() -> str:
    return f"""
        select lang, {_langid_heur_case('duck')} as lang_heur,
               cast(count(*) as bigint) as n
        from documents group by 1, 2
    """


def _q_pii_density_by_source(spark, sf_dir):
    # per-source PII/toxicity census over the portable scrub patterns
    # (Java/RE2/Python-identical by the scrub module's contract) — the
    # domain-level signal for scrubbing-cost and policy decisions.
    # All-integer output: no rounding surface at all.
    pats = list(scrub_mod.PII_PATTERNS) + [
        ("tox", scrub_mod.TOX_PATTERN, None)]
    aggs = [F.sum(F.regexp_count(F.col("text"), F.lit(pat)))
            .cast("long").alias(f"n_{name}") for name, pat, _ in pats]
    return (_docs(spark, sf_dir).groupBy("source")
            .agg(F.count("*").cast("long").alias("n_docs"), *aggs))


def _oracle_pii_density() -> str:
    pats = list(scrub_mod.PII_PATTERNS) + [
        ("tox", scrub_mod.TOX_PATTERN, None)]
    cols = ", ".join(
        f"cast(sum(len(regexp_extract_all(text, '{pat}'))) as bigint)"
        f" as n_{name}" for name, pat, _ in pats)
    return (f"select source, cast(count(*) as bigint) as n_docs, {cols} "
            f"from documents group by source")


_PACK_WINDOW = 2048
_BPE_PAT = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"


def _q_sequence_pack(spark, sf_dir):
    # concat-and-chunk sequence packing (how LLM training actually packs:
    # concatenate the per-lang doc stream in doc_id order, slice into
    # fixed L-token windows; docs may straddle chunk boundaries). One
    # window cumsum per lang — a single shuffle; chunk ids are pure
    # arithmetic on the exclusive running total.
    from pyspark.sql.window import Window

    L = _PACK_WINDOW
    docs = _docs(spark, sf_dir).select(
        "doc_id", "lang",
        F.expr(f"regexp_count(text, '{_BPE_PAT}')").cast("long")
        .alias("n_tokens"))
    w = (Window.partitionBy("lang").orderBy("doc_id")
         .rowsBetween(Window.unboundedPreceding, -1))
    start = F.coalesce(F.sum("n_tokens").over(w), F.lit(0)).cast("long")
    return (docs.withColumn("tok_start", start)
            .selectExpr(
                "doc_id", "lang", "n_tokens", "tok_start",
                f"tok_start div {L} as chunk_start",
                # empty docs occupy their start chunk (greatest(n,1))
                f"(tok_start + greatest(n_tokens, 1) - 1) div {L}"
                " as chunk_end"))


def _oracle_sequence_pack() -> str:
    L = _PACK_WINDOW
    return f"""
        with t as (
            select doc_id, lang,
                   len(regexp_extract_all(text, '{_BPE_PAT}'))::bigint
                       as n_tokens
            from documents
        ), s as (
            select *,
                   coalesce(sum(n_tokens) over (
                       partition by lang order by doc_id
                       rows between unbounded preceding and 1 preceding),
                       0)::bigint as tok_start
            from t
        )
        select doc_id, lang, n_tokens, tok_start,
               tok_start // {L} as chunk_start,
               (tok_start + greatest(n_tokens, 1) - 1) // {L} as chunk_end
        from s
    """


_NEARDUP_COS = 0.30


# GEMM prefilter margin (guide §3.2 — a prefilter may have false positives,
# never false negatives): the BLAS normalized-matmul similarity and the
# oracle's sequential-fold similarity compute the same float64 quantity with
# different accumulation orders, so they differ by ≤ ~1e-12 for 64-dim unit
# vectors; both are then HALF_UP-rounded at 6dp (≤ 5e-7 movement each).  A
# pair whose fold-rounded value reaches the threshold therefore has a
# GEMM-rounded value ≥ threshold − ~1.1e-6 ≫ threshold − 1e-4, so candidate
# generation at (threshold − margin) provably drops no true pair, while the
# exact fold — run only on candidates — still produces every output value.
_GEMM_PREFILTER_MARGIN = 1e-4


def _emb_v(emb):
    """(vec_id, v, nrm): double vectors with the per-vector sequential-fold
    norm staged once (the r03 trick — same fold the oracle twin computes)."""
    return (emb.select(
                "vec_id",
                F.expr("transform(embedding, x -> cast(x as double))")
                .alias("v"))
            .withColumn("nrm", F.expr(
                "sqrt(aggregate(transform(v, x -> x * x), "
                "cast(0.0 as double), (acc, x) -> acc + x))")))


def _exact_cos_pairs_from_candidates(emb_v, cand):
    """Oracle-exact cosine pairs, evaluated only on candidate (id_a, id_b)
    rows: the per-vector (v, nrm) table rides in as two broadcast joins,
    then ONE Arrow pass computes the sequential-fold cosine per candidate
    in Python — the same IEEE addition order as the SQL
    ``aggregate(zip_with(...))`` fold and the repo's HALF_UP 6dp rounding,
    so every value is bit-identical (asserted exhaustively over all 152k
    sf0.1+sf1.0 candidates) at ~100× less per-pair cost than the
    interpreted fold (~4 µs vs ~0.5 ms — this is what keeps the exact
    query scale-stable when the candidate count grows 100×)."""
    import math

    from collections.abc import Iterator as _It

    import pandas as _pd

    # one bounded collect of (id, v, nrm) — the SAME table the previous
    # shape broadcast-joined (so the scale constraint is unchanged) —
    # shipped once per worker as a Spark broadcast: the Arrow stream then
    # carries 16 B per candidate instead of two 64-double arrays
    rows = emb_v.collect()
    table = {int(r["vec_id"]): ([float(x) for x in r["v"]],
                                float(r["nrm"])) for r in rows}
    bc = cand.sparkSession.sparkContext.broadcast(table)
    floor = math.floor
    thr = _NEARDUP_COS

    def _verify(batches: _It[_pd.DataFrame]) -> _It[_pd.DataFrame]:
        tab = bc.value
        for pdf in batches:
            ia, ib, cs = [], [], []
            for id_a, id_b in zip(pdf["id_a"].tolist(),
                                  pdf["id_b"].tolist()):
                va, na = tab[id_a]
                vb, nb = tab[id_b]
                acc = 0.0
                for x, y in zip(va, vb):
                    acc += x * y
                cos = floor(acc / (na * nb) * 1e6 + 0.5) / 1e6
                if cos >= thr:
                    ia.append(id_a)
                    ib.append(id_b)
                    cs.append(cos)
            yield _pd.DataFrame({
                "id_a": _pd.Series(ia, dtype="int64"),
                "id_b": _pd.Series(ib, dtype="int64"),
                "cosine_sim": _pd.Series(cs, dtype="float64")})

    return cand.mapInPandas(
        _verify, schema="id_a long, id_b long, cosine_sim double")


def _q_embedding_near_dup(spark, sf_dir):
    # embedding-cosine near-dup pairs, blocked by label (same-label
    # self-join). Round 7 (guide §3.2): GEMM candidates at threshold −
    # margin (no false negatives — see _GEMM_PREFILTER_MARGIN), then the
    # oracle-exact sequential fold evaluated only on candidates (measured
    # 301 s → ~4 s at sf1.0: ~2·10⁷ interpreted pair-folds → 1.5·10⁵).
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cand = similarity.embedding_near_dup_pairs_fast(
        emb.select("vec_id", "label", "embedding"),
        _NEARDUP_COS - _GEMM_PREFILTER_MARGIN,
        block_col="label").select("id_a", "id_b")
    return _exact_cos_pairs_from_candidates(_emb_v(emb), cand)


def _knn_query_vec(spark, sf_dir) -> list[float]:
    row = (spark.read.parquet(f"{sf_dir}/embeddings.parquet")
           .where(F.col("vec_id") == 0).select("embedding").collect())
    return [float(x) for x in row[0]["embedding"]]


def _q_knn_cosine(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return similarity.cosine_topk(emb, _knn_query_vec(spark, sf_dir), k=KNN_K)


def _q_embedding_stats(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    norm = F.expr(
        "round(sqrt(aggregate(transform(embedding, x -> cast(x as double)), "
        "cast(0.0 as double), (acc, x) -> acc + x * x)), 6)")
    return (emb.withColumn("norm", norm).groupBy("label").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.round(F.avg("norm"), 4).alias("avg_norm"),
        F.round(F.min("norm"), 4).alias("min_norm"),
        F.round(F.max("norm"), 4).alias("max_norm"),
    ))


# ---- non-SQL-expressible (model UDFs / LSH): rows-only driver check --------


def _q_shipping_priority(spark, sf_dir):
    # TPC-H Q3 flavor: 3-way join (broadcast dim → shuffle fact), agg, filter
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    j = (li.join(orders, li.l_orderkey == orders.o_orderkey)
         .join(F.broadcast(cust.where(F.col("c_mktsegment") == "BUILDING")),
               orders.o_custkey == F.col("c_custkey")))
    # integer-cents summation: exact and accumulation-order-independent
    # (double sums differ in the last cent between engines/partitionings)
    cents = F.expr(
        "cast(round(l_extendedprice * (1 - l_discount) * 100, 0) as bigint)")
    return (j.groupBy("l_orderkey", "o_orderdate")
            .agg(F.sum(cents).alias("revenue_cents"))
            .where(F.col("revenue_cents") > 100000 * 100)
            # stringify the date: Spark date vs DuckDB datetime64 format
            # differently under the driver's value hash
            .select("l_orderkey",
                    F.col("o_orderdate").cast("string").alias("o_orderdate"),
                    "revenue_cents"))


def _q_rollup_order_priority(spark, sf_dir):
    # rollup (grouping sets) over order status/priority
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    return (orders.rollup("o_orderstatus", "o_orderpriority")
            .agg(F.count(F.lit(1)).alias("n_orders"),
                 F.sum(F.expr("cast(round(o_totalprice * 100, 0) as bigint)"))
                 .alias("total_price_cents")))


def _q_profile_documents_approx(spark, sf_dir):
    # the 10^12-row profile variant: HLL++ distinct + GK approx percentiles
    # (deliberate exact→approx swaps, SURVEY §2.3 A2/A3; rows-only check —
    # approximate answers have no deterministic SQL twin)
    return profiler.profile(
        _docs(spark, sf_dir).select("doc_id", "text", "lang", "n_chars"),
        exact_percentiles=False, approx_distinct=True)


def _q_embedding_neardup_groups(spark, sf_dir):
    # connected components over the exact embedding near-dup pair set —
    # the same keep-one-per-cluster contraction as the text chain, applied
    # to the embedding modality (pairs from the oracle-checked exact query;
    # clusters via the shared min-label propagation)
    pairs = _q_embedding_near_dup(spark, sf_dir).select("id_a", "id_b")
    comp = dedup.connected_components(pairs)
    sizes = comp.groupBy("comp").agg(
        F.count(F.lit(1)).cast("long").alias("cluster_size"))
    return (comp.join(sizes, "comp")
            .select(F.col("id").alias("vec_id"),
                    F.col("comp").alias("rep_id"), "cluster_size"))


def _q_embedding_near_dup_fast(spark, sf_dir):
    # GEMM scale path; produces the identical pair set as the oracle-checked
    # embedding_near_dup_pairs (verified in tests) ~4× faster
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return similarity.embedding_near_dup_pairs_fast(emb, _NEARDUP_COS)


def _q_minhash_lsh_pairs(spark, sf_dir):
    # LSH candidate pairs over the documents table (rows-only: band-bucket
    # candidates; the jaccard query is the oracle-checked verify path)
    return dedup.minhash_lsh_pairs(_docs(spark, sf_dir), k=8,
                                   rows_per_band=2, shingle_n=2)


_CHAIN_PARAMS = dict(k=8, rows_per_band=2, shingle_n=2, jaccard_n=3,
                     threshold=_JACCARD_THRESHOLD,
                     max_bucket_size=dedup.DEFAULT_MAX_BUCKET)


def _q_similarity_histogram(spark, sf_dir):
    """Candidate-pair similarity histogram (the dedup THRESHOLD-TUNING
    aid — Leskovec et al. MMDS ch.3 band-tuning practice): every LSH
    candidate pair verified at threshold 0 and binned into 0.05-wide
    Jaccard bins. Where the mass sits (and where the valley between
    near-dup and chance overlap falls) is how the production threshold
    is chosen. Cost ∝ candidates (never O(N²)); the census is one
    algebraic groupBy over ≤21 bins."""
    docs = _docs(spark, sf_dir)
    cand = dedup.minhash_lsh_pairs(
        docs, k=_CHAIN_PARAMS["k"],
        rows_per_band=_CHAIN_PARAMS["rows_per_band"],
        shingle_n=_CHAIN_PARAMS["shingle_n"],
        max_bucket_size=_CHAIN_PARAMS["max_bucket_size"])
    pairs = dedup.jaccard_verify_pairs(
        docs, cand, n=_CHAIN_PARAMS["jaccard_n"], threshold=0.0)
    return (pairs.selectExpr(
        "cast(floor(jaccard * cast(20 as double)) as bigint) as sim_bin")
        .groupBy("sim_bin")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_pairs")))


def _oracle_similarity_histogram() -> str:
    chain = dedup.duckdb_lsh_jaccard_sql(
        "documents", k=_CHAIN_PARAMS["k"],
        rows_per_band=_CHAIN_PARAMS["rows_per_band"],
        shingle_n=_CHAIN_PARAMS["shingle_n"],
        jaccard_n=_CHAIN_PARAMS["jaccard_n"], threshold=0.0,
        max_bucket_size=_CHAIN_PARAMS["max_bucket_size"])
    return (f"select floor(jaccard * cast(20 as double))::bigint as "
            f"sim_bin, count(*)::bigint as n_pairs from ({chain}) "
            f"group by 1")


def _q_lsh_jaccard_pairs(spark, sf_dir):
    # the LSH→Jaccard chain as ONE verified operator: candidates from
    # band buckets (capped), verified by exact 3-gram Jaccard — the 100 TB
    # near-dup path (cost ∝ candidates, never O(N²))
    docs = _docs(spark, sf_dir)
    cand = dedup.minhash_lsh_pairs(
        docs, k=_CHAIN_PARAMS["k"],
        rows_per_band=_CHAIN_PARAMS["rows_per_band"],
        shingle_n=_CHAIN_PARAMS["shingle_n"],
        max_bucket_size=_CHAIN_PARAMS["max_bucket_size"])
    return dedup.jaccard_verify_pairs(
        docs, cand, n=_CHAIN_PARAMS["jaccard_n"],
        threshold=_CHAIN_PARAMS["threshold"])


def _q_neardup_groups(spark, sf_dir):
    # pairs → connected components → keep-min-id clusters: the fuzzy twin of
    # exact_dedup_groups
    return dedup.neardup_groups(_docs(spark, sf_dir), **_CHAIN_PARAMS)


def _q_winnow_fingerprints(spark, sf_dir):
    # winnowing fingerprints (rolling-hash document fingerprinting): any
    # shared run of ≥ window+n−1 words shares a fingerprint
    return contamination.winnow_fingerprints(_docs(spark, sf_dir),
                                             n=3, window=4)


_BENCH_PRED = "doc_id % 50 = 0"


def _q_contamination_check(spark, sf_dir):
    # benchmark decontamination: docs sharing any 8-gram with the benchmark
    # slice (deterministic subset of the same table)
    docs = _docs(spark, sf_dir)
    bench = docs.where(F.expr(_BENCH_PRED))
    return contamination.contamination_flags(docs, bench, n=8)


def _q_multimodal_metadata(spark, sf_dir):
    # multimodal plumbing demo: deterministic fake media blobs → mapInPandas
    # metadata extraction (decode stubbed; schema/batching/partitioning real)
    from data_quality_autohealer_spark.operators import multimodal

    def _gen(batches):
        import pandas as pd
        for pdf in batches:
            ids = pdf["id"].tolist()
            yield pd.DataFrame({
                "media_id": ids,
                "kind": ["fake-image"] * len(ids),
                "blob": [multimodal.make_fake_image(i, 64 + i % 32,
                                                    48 + i % 24) for i in ids],
                "mime": ["image/fake"] * len(ids),
            })

    media = spark.range(0, 200, numPartitions=4).mapInPandas(
        _gen, schema=multimodal.MEDIA_SCHEMA_DDL)
    return multimodal.extract_media_metadata(media)


def _q_multimodal_features_ann(spark, sf_dir):
    # multimodal end-to-end: fake media blobs → mapInPandas featurizer →
    # cosine top-k over the features (rows-only: the featurizer is the
    # deterministic stand-in for a real encoder; the plumbing is real)
    from data_quality_autohealer_spark.operators import multimodal

    def _gen(batches):
        import pandas as pd
        for pdf in batches:
            ids = pdf["id"].tolist()
            yield pd.DataFrame({
                "media_id": ids,
                "kind": ["fake-image"] * len(ids),
                "blob": [multimodal.make_fake_image(i % 20, 64, 48)
                         for i in ids],
                "mime": ["image/fake"] * len(ids),
            })

    media = spark.range(0, 200, numPartitions=4).mapInPandas(
        _gen, schema=multimodal.MEDIA_SCHEMA_DDL)
    feats = multimodal.extract_media_features(media, dim=16)
    q = [float(x) for x in feats.where(F.col("media_id") == 0)
         .collect()[0]["feature"]]
    return similarity.cosine_topk(
        feats.withColumnRenamed("media_id", "vec_id"), q, k=10,
        vec_col="feature")


def _q_langid_model(spark, sf_dir):
    df = with_model_scores(_docs(spark, sf_dir))
    return df.select("doc_id", "lang_pred", "lang_conf")


def _q_perplexity_model(spark, sf_dir):
    df = with_model_scores(_docs(spark, sf_dir))
    return df.select("doc_id", "log_pplx")


def _q_ivf_ann(spark, sf_dir):
    # IVF scale path: deterministic k-means coarse quantizer, probe 2 cells
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    idx = similarity.IVFIndex.train(emb, k=8, n_iter=3)
    return idx.topk(emb, _knn_query_vec(spark, sf_dir), k=KNN_K, nprobe=2)


def _q_lsh_ann(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    # 6 planes → 64 buckets; 7 probe buckets cover ~10% of candidates at
    # sf0.01 — enough for a meaningful approximate top-k
    return similarity.lsh_ann_topk(emb, _knn_query_vec(spark, sf_dir),
                                   k=KNN_K, n_planes=6)


def _q_pipeline_full(spark, sf_dir):
    df = with_model_scores(_docs(spark, sf_dir))
    return df.select("doc_id", "keep",
                     F.array_join("reasons", ",").alias("reasons_csv"))


def _pages_from_docs(docs: DataFrame) -> DataFrame:
    """Map the driver's documents table onto the pipeline's pages shape
    (url/bucket/lang/text) with deterministic url + bucket derivations that
    both engines can compute identically."""
    return docs.select(
        F.concat(F.lit("sf://doc/"), F.col("doc_id").cast("string"))
        .alias("url"),
        (F.col("doc_id") % 16).alias("bucket"),
        "lang", "text")


def _q_pipeline_heuristic(spark, sf_dir):
    # the heuristic half of the pipeline decision over the pages shape:
    # native signal columns → Spark-rendered Gopher rules → reasons/keep,
    # heuristics-only so every signal has a DuckDB twin and the decision is
    # HASH-checked, not just rows-only.
    # Reference anchor: ensemble decision loop ensemble_classifier.py:91-139
    # inside run_auto_healing.py:16-131.
    scored = th.with_quality_signals(_pages_from_docs(_docs(spark, sf_dir)))
    return scored.select(
        "url", "bucket", "lang", "word_count",
        F.array_join("reasons", ",").alias("reasons_csv"), "keep")


def _oracle_pipeline_heuristic() -> str:
    sigs = th.duckdb_signal_sql("text")
    cols = ", ".join(f"{sql} as {name}" for name, sql in sigs.items())
    reasons = _duck_reasons()
    return f"""
        with pages as (
            select 'sf://doc/' || doc_id as url, doc_id % 16 as bucket,
                   lang, text
            from documents),
        sig as (select url, bucket, lang, {cols} from pages)
        select url, bucket, lang, word_count,
               coalesce(list_aggregate({reasons}, 'string_agg', ','), '')
                   as reasons_csv,
               len({reasons}) = 0 as keep
        from sig
    """


_SAMPLE_RATES = {"en": 0.5, "de": 0.25, "fr": 0.25}
_SAMPLE_DEFAULT = 0.1


def _q_stratified_sample(spark, sf_dir):
    # deterministic hash-fraction stratified sampling (training-mixture
    # curation): shuffle-free per-row predicate, reproducible across runs
    from data_quality_autohealer_spark.operators import curation
    return curation.stratified_sample(
        _docs(spark, sf_dir), _SAMPLE_RATES,
        default_rate=_SAMPLE_DEFAULT).select("doc_id", "lang", "sample_frac")


def _q_quality_strata(spark, sf_dir):
    # ntile quality stratification over the word_count signal: the census
    # that feeds per-stratum mixture weights
    from data_quality_autohealer_spark.operators import curation
    df = th.with_signal_columns(_docs(spark, sf_dir), "text")
    return curation.quality_strata(df, "word_count", n_tiles=4)


def _q_bucket_skew(spark, sf_dir):
    # storage-partition skew diagnostics: census of the hash-bucket layout
    # (share + ratio vs the uniform ideal) — the observability twin of the
    # pipeline's bucket(N, url) partitioning. Cross-engine md5 bucket (the
    # production xxhash64 has no DuckDB twin). Round-4 — SURVEY §2.13.
    from pyspark.sql.window import Window
    hb = dedup._hash_base("cast(doc_id as string)", "spark")
    n_buckets = 16
    return (_docs(spark, sf_dir)
            .selectExpr(f"({hb}) % {n_buckets} as bucket")
            .groupBy("bucket")
            .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
            # global window over the 16-row CENSUS (bounded by n_buckets,
            # not the corpus) — not the corpus-sized single-partition sort
            # the quality_strata exact path was flagged for
            .withColumn("_total", F.sum("n_docs").over(
                Window.partitionBy()))
            .select("bucket", "n_docs",
                    F.round(F.col("n_docs") / F.col("_total"), 6)
                    .alias("share"),
                    F.round(F.col("n_docs") * n_buckets / F.col("_total"),
                            6).alias("skew_ratio")))


def _oracle_bucket_skew() -> str:
    hb = dedup._hash_base("doc_id::varchar", "duck")
    n = 16
    return f"""
        with b as (select ({hb}) % {n} as bucket from documents),
        c as (select bucket, count(*)::bigint as n_docs from b
              group by bucket)
        select bucket, n_docs,
               round(n_docs / (sum(n_docs) over ()), 6) as share,
               round(n_docs * {n} / (sum(n_docs) over ()), 6) as skew_ratio
        from c
    """


def _q_intra_doc_line_dedup(spark, sf_dir):
    # within-document repeated-line removal (terminal-spam cleanup; the
    # complement of corpus-level line_dedup). Round-4 — SURVEY §2.13.
    return dedup.intra_doc_line_dedup(
        _docs(spark, sf_dir).select("doc_id", "text"))


def _q_canonical_dedup(spark, sf_dir):
    # fuzzy-exact dedup: normalize (case/punct/whitespace) then hash —
    # catches variants byte-exact dedup misses. Round-4 — SURVEY §2.13.
    return dedup.canonical_dedup_groups(
        _docs(spark, sf_dir).select("doc_id", "text"))


def _q_url_canonical_dedup(spark, sf_dir):
    # URL canonicalization + URL-level dedup (tracking params, fragments,
    # case, www, trailing slash). URLs derived deterministically from
    # doc_id with variants engineered in (url_quality convention).
    # Round-4 — SURVEY §2.13.
    from data_quality_autohealer_spark.functions import urls
    u = urls.derived_url_sql("spark")
    canon = urls.canonical_url_sql("url", "spark")
    return (_docs(spark, sf_dir)
            .selectExpr("doc_id", f"{u} as url")
            .selectExpr("doc_id", "url", f"{canon} as canon_url")
            .groupBy("canon_url")
            .agg(F.min("doc_id").alias("rep_id"),
                 F.count(F.lit(1)).cast("long").alias("dup_count"),
                 F.countDistinct("url").cast("long").alias("n_raw_variants")))


def _oracle_url_canonical_dedup() -> str:
    from data_quality_autohealer_spark.functions import urls
    u = urls.derived_url_sql("duck")
    canon = urls.canonical_url_sql("url", "duck")
    return f"""
        with u as (select doc_id, {u} as url from documents),
        c as (select doc_id, url, {canon} as canon_url from u)
        select canon_url, min(doc_id) as rep_id,
               count(*)::bigint as dup_count,
               count(distinct url)::bigint as n_raw_variants
        from c group by canon_url
    """


def _q_line_dedup(spark, sf_dir):
    # C4-style corpus-level line dedup (boilerplate removal): lines
    # appearing in >= 2 distinct docs are dropped, docs rebuilt in order.
    # Round-4 addition — SURVEY §2.13.
    return dedup.line_dedup(_docs(spark, sf_dir).select("doc_id", "text"))


_TOKEN_BUDGETS = {"en": 2000, "de": 1000, "fr": 1000}
_TOKEN_BUDGET_DEFAULT = 500


def _q_token_budget_sample(spark, sf_dir):
    # training mixes are specified in TOKENS, not docs: deterministic
    # hash-ordered per-lang selection up to a token budget (whole docs).
    # Round-4 addition — SURVEY §2.13.
    from data_quality_autohealer_spark.operators import curation
    df = th.with_signal_columns(
        _docs(spark, sf_dir).select("doc_id", "lang", "text"), "text")
    return curation.token_budget_sample(
        df, _TOKEN_BUDGETS, default_budget=_TOKEN_BUDGET_DEFAULT)


def _oracle_token_budget_sample() -> str:
    from data_quality_autohealer_spark.operators import curation
    wc = th.duckdb_signal_sql("text")["word_count"]
    src = (f"(select doc_id, lang, {wc} as word_count from documents)")
    return curation.duckdb_token_budget_sql(
        src, _TOKEN_BUDGETS, default_budget=_TOKEN_BUDGET_DEFAULT)


def _q_bloom_decontaminate(spark, sf_dir):
    # O(1)-memory exact-text decontamination (rows-only: a Bloom filter is
    # not SQL-expressible, but the result is fully deterministic — bitwise
    # OR is order-independent). ref = doc_id%5==0 of the same corpus, so
    # expected drops are exactly those docs (+~0 false positives at this
    # m/n). Round-4 addition — SURVEY §2.13 V14.
    from data_quality_autohealer_spark.operators import bloom
    docs = _docs(spark, sf_dir).select("doc_id", "text")
    return bloom.decontaminate_bloom(docs, docs.where("doc_id % 5 = 0"),
                                     "text")


def _q_incremental_novelty(spark, sf_dir):
    # incremental ngram_novelty (round 5): score the new wave (doc_id%3!=0)
    # against the accumulated corpus (%3==0) represented ONLY by its
    # stored n-gram census — the novelty analogue of neardup_via_index;
    # equal by construction to full-corpus novelty restricted to the wave
    # (asserted in tests through a parquet round-trip)
    docs = _docs(spark, sf_dir).select("doc_id", "text")
    census = dedup.build_ngram_census(docs.where("doc_id % 3 = 0"))
    return dedup.ngram_novelty_vs_census(
        docs.where("doc_id % 3 != 0"), census)


def _oracle_incremental_novelty() -> str:
    return dedup.duckdb_ngram_novelty_vs_census_sql(
        "(select doc_id, text from documents where doc_id % 3 != 0)",
        "(select doc_id, text from documents where doc_id % 3 = 0)")


def _q_substring_dup_summary(spark, sf_dir):
    # exact duplicate-substring spans (round 5): the Spark-native shape of
    # Lee et al. suffix-array substring dedup — rolling 8-word window
    # hashes, corpus census, gap-tolerant islands, per-doc coverage
    from data_quality_autohealer_spark.operators import contamination
    return contamination.dup_substring_summary(
        _docs(spark, sf_dir).select("doc_id", "text"))


def _oracle_substring_dup_summary() -> str:
    from data_quality_autohealer_spark.operators import contamination
    return contamination.duckdb_dup_substring_summary_sql("documents")


def _q_decontaminate_chain(spark, sf_dir):
    # FULL decontamination composition, in the order an incremental corpus
    # refresh runs it (VERDICT-r04 task 5): exact pass first (Bloom over
    # the reference texts — O(1) memory, shuffle-free probe, false
    # positives only over-drop), then the fuzzy pass (near-dup vs the
    # reference's STORED signature index) over the exact survivors only —
    # the cheap filter shrinks the candidate set before the band join.
    # Returns one row per new doc with the stage that claimed it
    # ('bloom_exact' | 'neardup' | 'kept'); the stages PARTITION the
    # input (bloom_dropped + neardup_dropped + kept = docs_in, asserted
    # in tests/test_neardup_chain.py). Rows-only: the Bloom probe is not
    # SQL-expressible; each stage alone is verified against its twin
    # (bloom_decontaminate, neardup_via_index / cross_corpus_neardup).
    from data_quality_autohealer_spark.operators import bloom
    docs = _docs(spark, sf_dir).select("doc_id", "text")
    ref = docs.where("doc_id % 3 = 0")
    new = docs.where("doc_id % 3 != 0")
    exact_kept = bloom.decontaminate_bloom(new, ref, "text")
    # checkpointed: the band join and the verify each read it
    index = dedup.build_signature_index(ref).localCheckpoint()
    fuzzy_flagged = (dedup.neardup_against_index(
        exact_kept, index, threshold=_CROSS_NEARDUP_THRESHOLD)
        .select(F.col("new_id").alias("doc_id")).distinct()
        .withColumn("_fz", F.lit(1)))
    return (new.select("doc_id")
            .join(exact_kept.select("doc_id", F.lit(1).alias("_s1")),
                  "doc_id", "left")
            .join(fuzzy_flagged, "doc_id", "left")
            .select("doc_id", F.expr(
                "case when _s1 is null then 'bloom_exact' "
                "when _fz is not null then 'neardup' "
                "else 'kept' end").alias("stage")))


def _q_ngram_novelty(spark, sf_dir):
    # corpus-wide n-gram novelty per doc (round 5): fraction of a doc's
    # distinct hashed 3-grams appearing in NO other doc — the document-
    # granularity boilerplate signal (line_dedup's census shape: 60-bit
    # hashes only ever cross the shuffle).
    return dedup.ngram_novelty(_docs(spark, sf_dir).select("doc_id", "text"))


def _oracle_ngram_novelty() -> str:
    return dedup.duckdb_ngram_novelty_sql("documents")


def _q_gopher_repetition(spark, sf_dir):
    # Gopher-style repetition char-mass family (round 6): dup-word frac,
    # top-{2,3,4}-gram char frac, dup-{5..10}-gram char frac per doc —
    # one explode of 8-byte packed (n, glen, md5-48) keys, group counts,
    # windowed tie-broken top gram. Complements the occurrence-based
    # dup_{2,3,4}gram_frac already inside quality_signals.
    return repetition.gopher_repetition(
        _docs(spark, sf_dir).select("doc_id", "text"))


def _oracle_gopher_repetition() -> str:
    return repetition.duckdb_gopher_repetition_sql("documents")


def _q_charset_quality(spark, sf_dir):
    # character-class quality signals (round 5): non-ASCII / digit /
    # uppercase / whitespace ratios — pure counting exprs, engine-paired
    # from one builder (functions/text_heuristics.charset_signal_sql)
    sigs = th.charset_signal_sql("text", "spark")
    return _docs(spark, sf_dir).selectExpr(
        "doc_id", *[f"{sql} as {name}" for name, sql in sigs.items()])


def _oracle_charset_quality() -> str:
    sigs = th.charset_signal_sql("text", "duck")
    cols = ", ".join(f"{sql} as {name}" for name, sql in sigs.items())
    return f"select doc_id, {cols} from documents"


def _q_dup_cluster_histogram(spark, sf_dir):
    # duplicate-cluster size census (round 5): the one-glance duplication
    # profile of a crawl — two algebraic aggs over md5 hashes. The synth
    # documents table is dup-free, so the corpus re-inserts every 7th doc
    # (id-shifted) deterministically — the histogram then shows both the
    # singleton mass and the planted 2-clusters in BOTH engines.
    docs = _docs(spark, sf_dir).select("doc_id", "text")
    corpus = docs.unionByName(
        docs.where("doc_id % 7 = 0")
        .selectExpr("doc_id + 1000000 as doc_id", "text"))
    return dedup.dup_cluster_histogram(corpus)


def _oracle_dup_cluster_histogram() -> str:
    corpus = ("(select doc_id, text from documents "
              "union all "
              "select doc_id + 1000000 as doc_id, text from documents "
              "where doc_id % 7 = 0)")
    return dedup.duckdb_dup_cluster_histogram_sql(corpus)


def _q_boilerplate_by_source(spark, sf_dir):
    # source-level curation view over ngram_novelty (round 5): which
    # sources are template farms. Mean carried in exact 1e6-scaled ints
    # (double accumulation order flips the last ulp between engines —
    # CLAUDE.md money-sum rule).
    docs = _docs(spark, sf_dir).select("doc_id", "source", "text")
    nov = dedup.ngram_novelty(docs)
    return (docs.join(nov, "doc_id")
            .groupBy("source")
            .agg(F.count(F.lit(1)).cast("long").alias("n_docs"),
                 F.sum(F.expr(
                     "cast(round(novel_frac * 1e6, 0) as bigint)"))
                 .alias("_su"))
            .select("source", "n_docs",
                    F.expr("round(cast(_su as double) / "
                           "(cast(n_docs as double) * 1e6), 6)")
                    .alias("mean_novelty")))


def _oracle_boilerplate_by_source() -> str:
    nov = dedup.duckdb_ngram_novelty_sql("documents")
    return f"""
        with nov as ({nov})
        select d.source,
               count(*)::bigint as n_docs,
               round((sum(round(n.novel_frac * 1e6, 0)::bigint))::double
                     / (count(*)::double * 1e6), 6) as mean_novelty
        from documents d join nov n using (doc_id)
        group by d.source
    """


def _q_quality_strata_approx(spark, sf_dir):
    # the SCALE path for quality stratification (rows-only): percentile_
    # approx cut points + shuffle-free per-row bucket lookup — no global
    # ntile window, no single-partition sort (the exact quality_strata
    # query stays registered as the oracle twin)
    from data_quality_autohealer_spark.operators import curation
    # stage (id, word_count) once — the approx path scans its input twice
    # (cut points, then the census), and re-deriving word_count from text
    # per pass doubled the query (round 7)
    df = (th.with_signal_columns(_docs(spark, sf_dir), "text")
          .select("doc_id", "word_count").localCheckpoint(eager=True))
    return curation.quality_strata(df, "word_count", n_tiles=4,
                                   exact_ntile=False)


def _q_top_terms_per_lang(spark, sf_dir):
    # per-language vocabulary census: explode -> map-side-combined count ->
    # per-group top-k window
    from data_quality_autohealer_spark.operators import curation
    return curation.top_terms_per_group(_docs(spark, sf_dir), k=10)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "quality_signals": _q_quality_signals,
        "quality_decision": _q_quality_decision,
        "quality_drop_summary": _q_drop_summary,
        "rule_ablation": _q_rule_ablation,
        "corpus_report": _q_corpus_report,
        "quality_confidence": _q_quality_confidence,
        "quality_severity_by_lang": _q_severity_by_lang,
        "bucket_skew": _q_bucket_skew,
        "langid_stopword_heuristic": _q_langid_stopword,
        "exact_dedup_groups": _q_exact_dedup,
        "pii_scrub": _q_pii_scrub,
        "profile_documents": _q_profile_documents,
        "outlier_iqr_lineitem": _q_outlier_iqr,
        "profile_events": _q_missing_events,
        # round-6 continuation additions in-window (displacing five
        # long-green rows — distribution_shift_events, knn_cosine_topk,
        # embedding_stats_by_label, ngram_jaccard_pairs,
        # salted_event_stats, all r01-r04 driver-witnessed — parked at
        # 51+, still covered by check_oracle + the in-suite twin subset)
        "gopher_repetition": _q_gopher_repetition,
        "dedup_keep_best": _q_dedup_keep_best,
        "domain_blocklist": _q_domain_blocklist,
        "temperature_mix": _q_temperature_mix,
        "ccnet_buckets": _q_ccnet_buckets,
        "unicode_clean": _q_unicode_clean,
        "simhash_neardup_pairs": _q_simhash_pairs,
        "c4_line_filter": _q_c4_line_filter,
        "dsir_importance": _q_dsir_importance,
        "bpe_fertility_by_lang": _q_bpe_fertility,
        "bpe_encode": _q_bpe_encode,
        "token_count_bpe": _q_token_count_bpe,
        "embedding_near_dup_pairs": _q_embedding_near_dup,
        # round-4 additions (SURVEY §2.13), placed inside the driver's
        # 50-row window so they get witnessed rows immediately; the two
        # displaced queries (json_extract_events, session_windows) carry
        # green CORRECTNESS_r03 rows and moved to slots 51+
        "line_dedup": _q_line_dedup,
        "paragraph_dedup": _q_paragraph_dedup,
        "token_budget_sample": _q_token_budget_sample,
        "canonical_dedup_groups": _q_canonical_dedup,
        "url_canonical_dedup": _q_url_canonical_dedup,
        "intra_doc_line_dedup": _q_intra_doc_line_dedup,
        # round-5 additions in-window (displacing asof_join_events,
        # snapshot_delta, sequence_pack, readability — all r04-green,
        # parked at 51+ and still covered by check_oracle + the in-suite
        # twin subset)
        "ngram_novelty": _q_ngram_novelty,
        "charset_quality": _q_charset_quality,
        "dup_cluster_histogram": _q_dup_cluster_histogram,
        "quality_classifier": _q_quality_classifier,
        "classifier_calibration": _q_classifier_calibration,
        "semantic_neardup": _q_semantic_neardup,
        "main_content_extract": _q_main_content_extract,
        "neardup_groups": _q_neardup_groups,
        "minhash_lsh_pairs": _q_minhash_lsh_pairs,
        "similarity_histogram": _q_similarity_histogram,
        "pipeline_heuristic_decision": _q_pipeline_heuristic,
        "bpe_token_count": _q_bpe_token_count,
        "quality_strata": _q_quality_strata,
        # --- slots 47-50: round-6 rotation (VERDICT r05 task #1). The
        # three queries below were the only registry entries with ZERO
        # driver CORRECTNESS rows (slots 59/60/78 in r05): the two
        # oracle-checked round-5 marquee operators get hash-checked rows,
        # decontaminate_chain gets rows+schema (`no_oracle` expected — its
        # stages-partition-the-input reconciliation test covers values).
        # The four rows-only queries they displace (quality_strata_approx,
        # semantic_neardup_fast, bloom_decontaminate, neardup_via_index)
        # received their r5 rows and park at 51+; winnow_fingerprints
        # (r04-green, re-verified after the W13 explode_outer fix) fills
        # the remaining hash-checkable slot.
        "substring_dup_summary": _q_substring_dup_summary,
        "incremental_novelty": _q_incremental_novelty,
        "decontaminate_chain": _q_decontaminate_chain,
        # round-6 additions in-window: trained-BPE vocab + token counts
        # (displacing stratified_sample — r05-green — parked at 51+)
        "bpe_vocab": _q_bpe_vocab,
        # --- slots 51+: driver-witnessed green in r03/r04/r05, parked
        # outside the 50-row window (still oracle-checked by
        # tools/check_oracle.py and the in-suite twin subset)
        # third-wave round-6 parking: lexical_diversity, domain_quality,
        # lang_agreement (all r03-r05 driver-green) move here so
        # c4_line_filter / dsir_importance / bpe_fertility_by_lang get
        # witnessed rows without pushing the VERDICT-r05 rotation
        # (substring_dup_summary / incremental_novelty /
        # decontaminate_chain / bpe_vocab) back out of the window
        "lexical_diversity": _q_lexical_diversity,
        "domain_quality": _q_domain_quality,
        "lang_agreement": _q_lang_agreement,
        "kmeans_embeddings": _q_kmeans_embeddings,
        "url_quality": _q_url_quality,
        "cross_corpus_neardup": _q_cross_corpus_neardup,
        "pii_density_by_source": _q_pii_density_by_source,
        "boilerplate_by_source": _q_boilerplate_by_source,
        "winnow_fingerprints": _q_winnow_fingerprints,
        "minhash_signatures": _q_minhash,
        "doc_fingerprint": _q_fingerprint,
        "simhash": _q_simhash,
        "distribution_shift_events": _q_dist_shift_events,
        "knn_cosine_topk": _q_knn_cosine,
        "embedding_stats_by_label": _q_embedding_stats,
        "ngram_jaccard_pairs": _q_ngram_jaccard,
        "salted_event_stats": _q_salted_event_stats,
        "lsh_jaccard_pairs": _q_lsh_jaccard_pairs,
        "time_range_join_events": _q_time_range_join_events,
        "stratified_sample": _q_stratified_sample,
        "quality_strata_approx": _q_quality_strata_approx,
        "semantic_neardup_fast": _q_semantic_neardup_fast,
        "bloom_decontaminate": _q_bloom_decontaminate,
        "neardup_via_index": _q_neardup_via_index,
        "contamination_check": _q_contamination_check,
        "embedding_neardup_groups": _q_embedding_neardup_groups,
        "top_terms_per_lang": _q_top_terms_per_lang,
        "asof_join_events": _q_asof_join_events,
        "snapshot_delta": _q_snapshot_delta,
        "sequence_pack": _q_sequence_pack,
        "readability": _q_readability,
        "pricing_summary": _q_pricing_summary,
        "top_customers": _q_top_customers,
        "winsorize_lineitem": _q_winsorize,
        "type_coercion_events": _q_type_coercion,
        "top_order_per_customer": _q_top_order_per_customer,
        "shipping_priority": _q_shipping_priority,
        "rollup_order_priority": _q_rollup_order_priority,
        "json_extract_events": _q_json_extract,
        "session_windows": _q_session_windows,
        "punct_stats": _q_punct_stats,
        "zscore_outliers_events": _q_zscore_outliers,
        "threshold_flip_docs": _q_threshold_flip_docs,
        "token_stats_by_lang": _q_token_stats,
        "pipeline_full_decision": _q_pipeline_full,
        # rows-only (model UDFs / LSH / approx — not ANSI-SQL-expressible):
        "profile_documents_approx": _q_profile_documents_approx,
        "outlier_iqr_approx": _q_outlier_iqr_approx,
        "embedding_near_dup_fast": _q_embedding_near_dup_fast,
        "langid_model": _q_langid_model,
        "perplexity_model": _q_perplexity_model,
        "lsh_ann_topk": _q_lsh_ann,
        "ivf_ann_topk": _q_ivf_ann,
        "multimodal_metadata": _q_multimodal_metadata,
        "multimodal_features_ann": _q_multimodal_features_ann,
    }


# ---------------------------------------------------------------------------
# DuckDB oracles
# ---------------------------------------------------------------------------


def _oracle_quality_signals() -> str:
    sigs = th.duckdb_signal_sql("text")
    cols = ", ".join(f"{sql} as {name}" for name, sql in sigs.items())
    return f"select doc_id, {cols} from documents"


def _oracle_quality_decision() -> str:
    reasons = _duck_reasons()
    return f"""
        with sig as ({_duck_signals_cte()})
        select doc_id, lang,
               coalesce(list_aggregate({reasons}, 'string_agg', ','), '')
                   as reasons_csv,
               len({reasons}) = 0 as keep
        from sig
    """


def _oracle_drop_summary() -> str:
    reasons = _duck_reasons()
    return f"""
        with sig as ({_duck_signals_cte()}),
        r as (select unnest({reasons}) as reason from sig)
        select reason, count(*) as n_docs from r group by reason
    """


def _oracle_quality_confidence() -> str:
    confs = th.duckdb_confidence_sql()
    cols = ", ".join(f"{sql} as {code.replace('.', '_')}_conf"
                     for code, sql in confs.items())
    return f"""
        with sig as ({_duck_signals_cte()})
        select doc_id, {cols} from sig
    """


def _oracle_severity_by_lang() -> str:
    reasons = _duck_reasons()
    return f"""
        with sig as ({_duck_signals_cte()}),
        d as (select lang, len({reasons}) = 0 as keep from sig),
        agg as (
            select lang, count(*) as n_docs,
                   sum(case when keep then 0 else 1 end)::bigint as n_dropped
            from d group by lang
        )
        select lang, n_docs, n_dropped,
               round(n_dropped::double / n_docs, 6) as drop_rate,
               case when round(n_dropped::double / n_docs, 6) > 0.9 then 'critical'
                    when round(n_dropped::double / n_docs, 6) > 0.8 then 'high'
                    when round(n_dropped::double / n_docs, 6) > 0.6 then 'medium'
                    else 'low' end as severity
        from agg
    """


def _oracle_token_stats() -> str:
    wc = th.duckdb_signal_sql("text")["word_count"]
    return f"""
        with t as (select lang, {wc} as word_count from documents)
        select lang, count(*) as n_docs,
               sum(word_count)::bigint as total_tokens,
               round(avg(word_count), 6) as avg_tokens
        from t group by lang
    """


def _oracle_pii_scrub() -> str:
    # nested stages mirror scrub_series' sequential replacement order
    parts = scrub_mod.duckdb_scrub_sql("text")
    return f"""
        select doc_id, {parts['scrubbed_text']} as scrubbed_text,
               {parts['n_email']} as n_email, {parts['n_ssn']} as n_ssn,
               {parts['n_phone']} as n_phone, {parts['n_ip']} as n_ip,
               {parts['n_tox']} as n_tox
        from documents
    """


def _oracle_profile_documents() -> str:
    return """
        select count(*)::bigint as row_count,
               sum(case when doc_id is null then 1 else 0 end)::bigint as doc_id__nulls,
               count(distinct doc_id)::bigint as doc_id__distinct,
               round(avg(doc_id), 6) as doc_id__mean,
               round(stddev_samp(doc_id), 6) as doc_id__stddev,
               round(min(doc_id)::double, 6) as doc_id__min,
               round(max(doc_id)::double, 6) as doc_id__max,
               round(quantile_cont(doc_id, 0.25)::double, 6) as doc_id__q25,
               round(quantile_cont(doc_id, 0.5)::double, 6) as doc_id__median,
               round(quantile_cont(doc_id, 0.75)::double, 6) as doc_id__q75,
               sum(case when text is null or text in ('', 'NaN', 'nan', 'None')
                        then 1 else 0 end)::bigint as text__nulls,
               count(distinct text)::bigint as text__distinct,
               sum(case when lang is null or lang in ('', 'NaN', 'nan', 'None')
                        then 1 else 0 end)::bigint as lang__nulls,
               count(distinct lang)::bigint as lang__distinct,
               sum(case when n_chars is null then 1 else 0 end)::bigint as n_chars__nulls,
               count(distinct n_chars)::bigint as n_chars__distinct,
               round(avg(n_chars), 6) as n_chars__mean,
               round(stddev_samp(n_chars), 6) as n_chars__stddev,
               round(min(n_chars)::double, 6) as n_chars__min,
               round(max(n_chars)::double, 6) as n_chars__max,
               round(quantile_cont(n_chars, 0.25)::double, 6) as n_chars__q25,
               round(quantile_cont(n_chars, 0.5)::double, 6) as n_chars__median,
               round(quantile_cont(n_chars, 0.75)::double, 6) as n_chars__q75,
               round((sum(case when doc_id is null then 1 else 0 end)
                    + sum(case when text is null or text in ('', 'NaN', 'nan', 'None') then 1 else 0 end)
                    + sum(case when lang is null or lang in ('', 'NaN', 'nan', 'None') then 1 else 0 end)
                    + sum(case when n_chars is null then 1 else 0 end))::double
                    / (count(*) * 4), 6) as overall_missing_rate
        from documents
    """


def _oracle_outlier_iqr() -> str:
    return """
        with q as (
            select quantile_cont(l_extendedprice, 0.25) as q25,
                   quantile_cont(l_extendedprice, 0.75) as q75
            from lineitem
        )
        select round(q.q25, 6) as q25, round(q.q75, 6) as q75,
               round(q.q25 - 3.0 * (q.q75 - q.q25), 6) as lo_fence,
               round(q.q75 + 3.0 * (q.q75 - q.q25), 6) as hi_fence,
               sum(case when l_extendedprice < q.q25 - 3.0 * (q.q75 - q.q25)
                         or l_extendedprice > q.q75 + 3.0 * (q.q75 - q.q25)
                        then 1 else 0 end)::bigint as outlier_count,
               count(*)::bigint as row_count,
               round(sum(case when l_extendedprice < q.q25 - 3.0 * (q.q75 - q.q25)
                               or l_extendedprice > q.q75 + 3.0 * (q.q75 - q.q25)
                              then 1 else 0 end)::double / count(*), 6) as outlier_rate
        from lineitem, q
        group by q.q25, q.q75
    """


def _oracle_profile_events() -> str:
    return """
        select count(*)::bigint as row_count,
               sum(case when event_type is null or event_type in ('', 'NaN', 'nan', 'None')
                        then 1 else 0 end)::bigint as event_type__nulls,
               count(distinct event_type)::bigint as event_type__distinct,
               sum(case when value is null or isnan(value) then 1 else 0 end)::bigint as value__nulls,
               count(distinct value)::bigint as value__distinct,
               round(avg(value), 6) as value__mean,
               round(stddev_samp(value), 6) as value__stddev,
               round(min(value)::double, 6) as value__min,
               round(max(value)::double, 6) as value__max,
               round(quantile_cont(value, 0.25)::double, 6) as value__q25,
               round(quantile_cont(value, 0.5)::double, 6) as value__median,
               round(quantile_cont(value, 0.75)::double, 6) as value__q75,
               sum(case when props is null or props in ('', 'NaN', 'nan', 'None')
                        then 1 else 0 end)::bigint as props__nulls,
               count(distinct props)::bigint as props__distinct,
               round((sum(case when event_type is null or event_type in ('', 'NaN', 'nan', 'None') then 1 else 0 end)
                    + sum(case when value is null or isnan(value) then 1 else 0 end)
                    + sum(case when props is null or props in ('', 'NaN', 'nan', 'None') then 1 else 0 end))::double
                    / (count(*) * 3), 6) as overall_missing_rate
        from events
    """


def oracle_sql() -> dict[str, str]:
    wc = th.duckdb_signal_sql("text")["word_count"]
    return {
        "quality_signals": _oracle_quality_signals(),
        "quality_decision": _oracle_quality_decision(),
        "quality_drop_summary": _oracle_drop_summary(),
        "quality_confidence": _oracle_quality_confidence(),
        "quality_severity_by_lang": _oracle_severity_by_lang(),
        "threshold_flip_docs": _oracle_threshold_flip(),
        "token_stats_by_lang": _oracle_token_stats(),
        "langid_stopword_heuristic": (
            f"select doc_id, {_langid_heur_case('duck')} as lang_heur "
            f"from documents"
        ),
        "doc_fingerprint": "select doc_id, md5(text) as fp from documents",
        "exact_dedup_groups": """
            select md5(text) as text_hash, min(doc_id) as rep_id,
                   count(*)::bigint as dup_count
            from documents group by md5(text)
        """,
        "minhash_signatures": (
            "select doc_id, "
            + ", ".join(dedup.minhash_sig_exprs("text", 4, 3, "duck"))
            + " from documents"
        ),
        "simhash": dedup.duckdb_simhash_sql("documents"),
        "line_dedup": dedup.duckdb_line_dedup_sql("documents"),
        "paragraph_dedup": _oracle_paragraph_dedup(),
        "classifier_calibration": _oracle_classifier_calibration(),
        "rule_ablation": _oracle_rule_ablation(),
        "corpus_report": _oracle_corpus_report(),
        "similarity_histogram": _oracle_similarity_histogram(),
        "token_budget_sample": _oracle_token_budget_sample(),
        "canonical_dedup_groups": dedup.duckdb_canonical_dedup_sql(),
        "url_canonical_dedup": _oracle_url_canonical_dedup(),
        "quality_classifier": _oracle_quality_classifier(),
        "main_content_extract": _oracle_main_content_extract(),
        "bpe_vocab": bpe.duckdb_bpe_vocab_sql(_BPE_MERGES),
        "bpe_token_count": bpe.duckdb_bpe_token_count_sql(_BPE_MERGES),
        "bpe_encode": _oracle_bpe_encode(),
        "ngram_novelty": _oracle_ngram_novelty(),
        "gopher_repetition": _oracle_gopher_repetition(),
        "dedup_keep_best": _oracle_dedup_keep_best(),
        "domain_blocklist": _oracle_domain_blocklist(),
        "temperature_mix": _oracle_temperature_mix(),
        "ccnet_buckets": _oracle_ccnet_buckets(),
        "unicode_clean": _oracle_unicode_clean(),
        "simhash_neardup_pairs": _oracle_simhash_pairs(),
        "c4_line_filter": _oracle_c4_line_filter(),
        "dsir_importance": _oracle_dsir_importance(),
        "bpe_fertility_by_lang": _oracle_bpe_fertility(),
        "charset_quality": _oracle_charset_quality(),
        "dup_cluster_histogram": _oracle_dup_cluster_histogram(),
        "boilerplate_by_source": _oracle_boilerplate_by_source(),
        "substring_dup_summary": _oracle_substring_dup_summary(),
        "incremental_novelty": _oracle_incremental_novelty(),
        "intra_doc_line_dedup": dedup.duckdb_intra_doc_line_dedup_sql(),
        "bucket_skew": _oracle_bucket_skew(),
        "pii_scrub": _oracle_pii_scrub(),
        "profile_documents": _oracle_profile_documents(),
        "outlier_iqr_lineitem": _oracle_outlier_iqr(),
        "pricing_summary": """
            select l_returnflag, l_linestatus,
                   sum(l_quantity)::bigint as sum_qty,
                   (sum(round(l_extendedprice * 100, 0)::bigint))::bigint
                       as sum_base_price_cents,
                   round(avg(l_quantity), 4) as avg_qty,
                   round(avg(l_discount), 4) as avg_disc,
                   count(*)::bigint as count_order
            from lineitem group by l_returnflag, l_linestatus
        """,
        "top_customers": """
            with rev as (
                select o_custkey,
                       (sum(round(o_totalprice * 100, 0)::bigint))::bigint
                           as revenue_cents,
                       count(*)::bigint as n_orders
                from orders group by o_custkey
            )
            select c_custkey, c_name, revenue_cents, n_orders
            from rev join customer on o_custkey = c_custkey
            where n_orders >= 3
        """,
        "profile_events": _oracle_profile_events(),
        "distribution_shift_events": """
            with g as (select avg(value) as mean_g, stddev_samp(value) as std_g
                       from events),
            t as (select event_type, avg(value) as mean_t,
                         stddev_samp(value) as std_t
                  from events group by event_type)
            select event_type,
                   round(mean_t, 6) as mean_value,
                   round(std_t, 6) as std_value,
                   round(abs(mean_t - g.mean_g) / g.std_g, 6) as mean_shift,
                   round(std_t / g.std_g, 6) as variance_ratio
            from t, g
        """,
        "knn_cosine_topk": _oracle_knn(),
        "ngram_jaccard_pairs": f"""
            with d as (
                select doc_id, lang,
                       {dedup._ngrams_distinct('text', 3, 'duck')} as ngrams
                from documents
            )
            select a.doc_id as id_a, b.doc_id as id_b,
                   round(len(list_intersect(a.ngrams, b.ngrams))::double
                         / len(list_distinct(a.ngrams || b.ngrams)), 6)
                       as jaccard
            from d a join d b on a.lang = b.lang and a.doc_id < b.doc_id
            where round(len(list_intersect(a.ngrams, b.ngrams))::double
                        / len(list_distinct(a.ngrams || b.ngrams)), 6)
                  >= {_JACCARD_THRESHOLD}
        """,
        "token_count_bpe": f"""
            select doc_id,
                   len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]'))::bigint
                       as bpe_tokens,
                   len({th._duck_words('text')})::bigint as ws_tokens
            from documents
        """,
        "embedding_near_dup_pairs": _oracle_emb_pairs(),
        "embedding_neardup_groups": _oracle_emb_neardup_groups(),
        "json_extract_events": """
            select event_id, json_extract_string(props, '$.k')::int as k
            from events
        """,
        "salted_event_stats": skew.duckdb_salted_stats_sql(
            "events", "event_type", "value"),
        "session_windows": sessions.duckdb_sessionize_sql("events"),
        "asof_join_events": temporal.duckdb_asof_sql(
            _ASOF_LEFT_SQL, _ASOF_RIGHT_SQL, on=["user_id"],
            left_ts="ts", right_ts="ts", payload=["event_id", "value"],
            tie_col="event_id",
            left_cols=["event_id", "user_id", "ts", "value"]),
        "time_range_join_events": temporal.duckdb_time_range_sql(
            "select event_id, user_id, ts from events"
            " where event_type = 'purchase'",
            "select user_id, ts, event_id from events"
            " where event_type = 'click'",
            on=["user_id"], left_ts="ts", right_ts="ts",
            window_sec=_ASOF_WINDOW_SEC, right_cols=["event_id"],
            left_cols=["event_id", "user_id", "ts"]),
        "lexical_diversity": _oracle_lexical_diversity(),
        "domain_quality": _oracle_domain_quality(),
        "snapshot_delta": _ORACLE_SNAPSHOT_DELTA,
        "cross_corpus_neardup": dedup.duckdb_cross_neardup_sql(
            "select doc_id, text from documents where doc_id % 3 != 0",
            "select doc_id, text from documents where doc_id % 3 = 0",
            threshold=_CROSS_NEARDUP_THRESHOLD),
        "kmeans_embeddings": clustering.duckdb_kmeans_sql(
            k=_KMEANS_K, iters=_KMEANS_ITERS),
        "semantic_neardup": _oracle_semantic_neardup(),
        "sequence_pack": _oracle_sequence_pack(),
        "readability": _oracle_readability(),
        "lang_agreement": _oracle_lang_agreement(),
        "pii_density_by_source": _oracle_pii_density(),
        "punct_stats": f"""
            select doc_id,
                   len(regexp_extract_all(text, '[.!?]'))::bigint
                       as n_terminal_punct,
                   len(regexp_extract_all(text, '[.][.][.]'))::bigint
                       as n_ellipsis,
                   round(len(regexp_extract_all(text, '[.!?]'))::double
                         / len({th._duck_words('text')}), 6)
                       as punct_word_ratio
            from documents
        """,
        "url_quality": _oracle_url_quality(),
        "zscore_outliers_events": """
            with z as (
                select event_type,
                       (value - avg(value) over (partition by event_type))
                       / nullif(stddev_samp(value)
                                over (partition by event_type), 0)
                           as zv
                from events
                where value is not null and not isnan(value)
            )
            select event_type, count(*)::bigint as n_rows,
                   sum(case when abs(zv) > 3 then 1 else 0 end)::bigint
                       as n_outliers
            from z group by event_type
        """,
        "winsorize_lineitem": """
            with q as (
                select quantile_cont(l_extendedprice, 0.05) as lo,
                       quantile_cont(l_extendedprice, 0.95) as hi
                from lineitem
            )
            select l_returnflag,
                   round(avg(greatest(least(l_extendedprice, q.hi), q.lo)), 4)
                       as avg_winsorized,
                   round(avg(l_extendedprice), 4) as avg_raw,
                   count(*)::bigint as n_rows
            from lineitem, q
            group by l_returnflag
        """,
        "type_coercion_events": """
            select sum(case when try_cast(event_type as double) is null
                            then 1 else 0 end)::bigint as event_type_uncastable,
                   sum(case when try_cast(json_extract_string(props, '$.k')
                                          as double) is not null
                            then 1 else 0 end)::bigint as props_k_castable,
                   count(*)::bigint as n_rows
            from events
        """,
        "top_order_per_customer": """
            select o_custkey, o_orderkey, round(o_totalprice, 2) as top_price
            from (
                select o_custkey, o_orderkey, o_totalprice,
                       row_number() over (partition by o_custkey
                           order by o_totalprice desc, o_orderkey asc) as rn
                from orders
            ) where rn = 1
        """,
        "shipping_priority": """
            select l_orderkey, o_orderdate::varchar as o_orderdate,
                   (sum(round(l_extendedprice * (1 - l_discount) * 100, 0)
                       ::bigint))::bigint as revenue_cents
            from lineitem
            join orders on l_orderkey = o_orderkey
            join customer on o_custkey = c_custkey
            where c_mktsegment = 'BUILDING'
            group by l_orderkey, o_orderdate
            having sum(round(l_extendedprice * (1 - l_discount) * 100, 0)
                       ::bigint) > 10000000
        """,
        "rollup_order_priority": """
            select o_orderstatus, o_orderpriority,
                   count(*)::bigint as n_orders,
                   (sum(round(o_totalprice * 100, 0)::bigint))::bigint
                       as total_price_cents
            from orders
            group by rollup(o_orderstatus, o_orderpriority)
        """,
        "minhash_lsh_pairs": dedup.duckdb_lsh_candidates_sql(
            "documents", "text", "doc_id", k=8, rows_per_band=2,
            shingle_n=2, max_bucket_size=dedup.DEFAULT_MAX_BUCKET),
        "pipeline_heuristic_decision": _oracle_pipeline_heuristic(),
        "stratified_sample": curation.duckdb_stratified_sample_sql(
            "documents", _SAMPLE_RATES, default_rate=_SAMPLE_DEFAULT),
        "quality_strata": curation.duckdb_quality_strata_sql(
            "documents", th.duckdb_signal_sql("text")["word_count"],
            n_tiles=4),
        "top_terms_per_lang": curation.duckdb_top_terms_sql(
            "documents", k=10),
        "lsh_jaccard_pairs": dedup.duckdb_lsh_jaccard_sql(
            "documents", "text", "doc_id", **_CHAIN_PARAMS),
        "neardup_groups": dedup.duckdb_neardup_groups_sql(
            "documents", "text", "doc_id", **_CHAIN_PARAMS),
        "winnow_fingerprints": contamination.duckdb_winnow_sql(
            "documents", n=3, window=4),
        "contamination_check": contamination.duckdb_contamination_sql(
            "documents", _BENCH_PRED, n=8),
        "embedding_stats_by_label": """
            with n as (
                select label,
                       round(sqrt(list_reduce(
                           list_prepend(0.0::double,
                               list_transform(embedding, x -> x::double * x::double)),
                           (acc, x) -> acc + x)), 6) as norm
                from embeddings
            )
            select label, count(*)::bigint as n_vecs,
                   round(avg(norm), 4) as avg_norm,
                   round(min(norm), 4) as min_norm,
                   round(max(norm), 4) as max_norm
            from n group by label
        """,
    }


_EMB_COS = """round(
    list_reduce(list_prepend(0.0::double,
      list_transform(generate_series(1, len(a.v)),
        i -> a.v[i] * b.v[i])), (acc, x) -> acc + x)
    / (sqrt(list_reduce(list_prepend(0.0::double,
         list_transform(a.v, x -> x * x)), (acc, x) -> acc + x))
     * sqrt(list_reduce(list_prepend(0.0::double,
         list_transform(b.v, x -> x * x)), (acc, x) -> acc + x))),
    6)"""

_EMB_E_CTE = """e as (
    select vec_id, label,
           list_transform(embedding, x -> x::double) as v
    from embeddings
)"""


def _oracle_emb_pairs() -> str:
    return f"""
        with {_EMB_E_CTE}
        select a.vec_id as id_a, b.vec_id as id_b,
               {_EMB_COS} as cosine_sim
        from e a join e b on a.label = b.label and a.vec_id < b.vec_id
        where {_EMB_COS} >= {_NEARDUP_COS}
    """


def _oracle_emb_neardup_groups() -> str:
    """Components of the exact embedding near-dup pair graph (same recursive
    contraction as the text neardup_groups twin)."""
    return f"""
        with recursive {_EMB_E_CTE},
        verified as (
            select a.vec_id as id_a, b.vec_id as id_b
            from e a join e b on a.label = b.label and a.vec_id < b.vec_id
            where {_EMB_COS} >= {_NEARDUP_COS}
        ),
        und as (
            select id_a as a, id_b as b from verified
            union all
            select id_b, id_a from verified
        ),
        reach(a, b) as (
            select a, b from und
            union
            select r.a, u.b from reach r join und u on r.b = u.a
            where u.b <> r.a
        ),
        comp as (
            select a as id, least(a, min(b)) as comp from reach group by a
        ),
        sizes as (
            select comp, count(*)::bigint as cluster_size from comp group by comp
        )
        select c.id as vec_id, c.comp as rep_id, s.cluster_size
        from comp c join sizes s using (comp)
    """


def _oracle_knn() -> str:
    """DuckDB twin of cosine_topk with the query vector read from the table
    itself (vec_id=0): same sequential fold, same rounding, same tie-break."""
    return f"""
        with q as (
            select list_transform(embedding, x -> x::double) as qv
            from embeddings where vec_id = 0
        ),
        scored as (
            select vec_id,
                   round(
                     list_reduce(list_prepend(0.0::double,
                       list_transform(generate_series(1, len(embedding)),
                         i -> embedding[i]::double * q.qv[i])),
                       (acc, x) -> acc + x)
                     / (sqrt(list_reduce(list_prepend(0.0::double,
                          list_transform(embedding, x -> x::double * x::double)),
                          (acc, x) -> acc + x))
                        * sqrt(list_reduce(list_prepend(0.0::double,
                          list_transform(q.qv, x -> x * x)),
                          (acc, x) -> acc + x))), 6) as cosine_sim
            from embeddings, q
        )
        select vec_id, cosine_sim from scored
        order by cosine_sim desc, vec_id limit {KNN_K}
    """

"""The batched (Arrow) hashed-shingle twins must be value-identical to the
native expression builders — the contract that lets the round-7 chain
operators swap them in while every DuckDB oracle hash stays green."""

import pandas as pd
from pyspark.sql import functions as F

from data_quality_autohealer_spark.operators import dedup

EDGE = [
    (0, None), (1, ""), (2, "   "), (3, "one"), (4, "one two"),
    (5, "one two three four five"), (6, "\ta  b\x0b c\t"),
    (7, "café naïve Ångström 가 one two three"),
    (8, "dup dup dup dup dup dup"),
]


def _edge_df(spark):
    return spark.createDataFrame(EDGE, "doc_id long, text string")


def _docs(spark):
    return (spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
            .select("doc_id", "text"))


def test_hashed_ngrams_batched_matches_native(spark):
    for df in (_edge_df(spark), _docs(spark)):
        for n in (2, 3):
            native = df.withColumn("_w", F.expr(
                dedup._words("text", "spark"))).selectExpr(
                "doc_id",
                f"{dedup._hashed_ngrams('text', n, 'spark', words_col='_w')}"
                f" as hg").toPandas().sort_values("doc_id")
            batched = df.select(
                "doc_id",
                dedup.hashed_ngrams_batched_udf(n)(F.col("text"))
                .alias("hg")).toPandas().sort_values("doc_id")
            for a, b in zip(native["hg"], batched["hg"]):
                assert list(a) == list(b)


def test_hashed_seq_batched_matches_native(spark):
    from data_quality_autohealer_spark.operators.contamination import (
        _hashed_seq,
    )
    for df in (_edge_df(spark), _docs(spark)):
        for n in (3, 8):
            native = df.withColumn("_w", F.expr(
                dedup._words("text", "spark"))).selectExpr(
                "doc_id",
                f"{_hashed_seq('text', n, 'spark', words_col='_w')} as hs"
            ).toPandas().sort_values("doc_id")
            batched = df.select(
                "doc_id",
                dedup.hashed_ngrams_batched_udf(n, distinct=False)(
                    F.col("text")).alias("hs")
            ).toPandas().sort_values("doc_id")
            for a, b in zip(native["hs"], batched["hs"]):
                assert list(a) == list(b)


def test_simhash_batched_matches_native(spark):
    for df in (_edge_df(spark), _docs(spark)):
        a = (dedup.simhash_native(df).toPandas()
             .sort_values("doc_id").reset_index(drop=True))
        b = (dedup.simhash(df).toPandas()
             .sort_values("doc_id").reset_index(drop=True))
        pd.testing.assert_frame_equal(a, b)


def test_minhash_batched_matches_native(spark):
    """The one-pass signature UDF behind build_signature_index: its
    signatures equal the native with_minhash, and its Jaccard shingle
    hashes equal the native builder, both when the shingle and Jaccard n
    agree (one gram list) and when they differ (two)."""
    for df in (_edge_df(spark), _docs(spark)):
        native = (dedup.with_minhash(df, "text", k=8, shingle_n=2)
                  .withColumn("_w", F.expr(dedup._words("text", "spark")))
                  .selectExpr(
                      "doc_id", *(f"sig_{i}" for i in range(8)),
                      *(dedup._hashed_ngrams("text", n, "spark", "_w")
                        + f" as ng_{n}" for n in (2, 3)))
                  .toPandas().sort_values("doc_id").reset_index(drop=True))
        for jaccard_n in (2, 3):
            batched = (df.select("doc_id", dedup._signature_udf(
                    8, 2, jaccard_n)(F.col("text")).alias("s"))
                .selectExpr("doc_id",
                            *(f"s.sigs[{i}] as sig_{i}" for i in range(8)),
                            "s.ngrams")
                .toPandas().sort_values("doc_id").reset_index(drop=True))
            pd.testing.assert_frame_equal(
                native[batched.columns[:-1]], batched[batched.columns[:-1]])
            for a, b in zip(native[f"ng_{jaccard_n}"], batched["ngrams"]):
                assert list(a) == list(b)

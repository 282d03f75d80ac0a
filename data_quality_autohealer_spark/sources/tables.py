"""Table loaders for the driver's test warehouse and external formats.

Reference analogue: the CSV in/out edges (quality_service.py:65,
outlier_remediation.py:37/100-104) — generalized to the formats a Spark
deployment actually uses. Every loader returns a plain DataFrame; schemas
are explicit where inference would be lossy.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def read_csv(spark: SparkSession, path: str, schema: str | None = None
             ) -> DataFrame:
    """CSV source (reference S2). Explicit schema preferred — inference scans
    the file twice and guesses types."""
    reader = spark.read.option("header", True)
    if schema:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", True)
    return reader.csv(path)


def write_csv(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """CSV sink (reference S3)."""
    df.write.mode(mode).option("header", True).csv(path)


def read_jsonl(spark: SparkSession, path: str, schema: str | None = None
               ) -> DataFrame:
    reader = spark.read
    if schema:
        reader = reader.schema(schema)
    return reader.json(path)


def write_jsonl(df: DataFrame, path: str, mode: str = "overwrite",
                compression: str | None = "gzip") -> None:
    """JSONL sink (the interchange format LLM-data pipelines exchange);
    gzip by default — line-oriented JSON compresses ~10x and stays
    per-file parallel on read."""
    w = df.write.mode(mode)
    if compression:
        w = w.option("compression", compression)
    w.json(path)

"""Export sink for the training-mix shards.

Reference analogue: the CSV out edge (outlier_remediation.py:100-104),
in the format LLM-data pipelines exchange: gzip JSONL.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def write_jsonl(df: DataFrame, path: str, mode: str = "overwrite",
                compression: str | None = "gzip") -> None:
    """JSONL sink (the interchange format LLM-data pipelines exchange);
    gzip by default — line-oriented JSON compresses ~10x and stays
    per-file parallel on read."""
    w = df.write.mode(mode)
    if compression:
        w = w.option("compression", compression)
    w.json(path)

"""PySpark-native web-text quality-filter engine.

A from-scratch rebuild of the capabilities of
``sidd9981/Data-quality-autohealer`` (reference at /root/reference, read-only)
as a batch quality-filter pipeline over Iceberg-style tables of
Common-Crawl-style web pages:

- Gopher/C4-style heuristic rules as native DataFrame column expressions
  (reference analogue: rule-based detector,
  src/detectors/missing_data_rule_based.py:23-53).
- fastText-style hashed char-n-gram language ID and KenLM-style stupid-backoff
  n-gram perplexity inside vectorized Arrow pandas UDFs (reference analogue:
  the torch MLP detectors, src/detectors/schema_drift_detector.py:174-194,
  moved from driver-side inference to executor-side batched inference).
- Regex PII + toxicity-wordlist scrubbing as a final vectorized pass
  (reference analogue: quarantine/winsorize remediation,
  src/remediation/airflow_dags/outlier_remediation.py:89-107).
- Per-document keep/drop decision + reason codes (reference analogue:
  multi-label ensemble, src/detectors/ensemble_classifier.py:91-139).
- Per-partition lineage + rule-hit metrics table with partition-filter resume
  (reference analogue: Kafka metrics topic + schema registry,
  src/streaming/kafka_producer.py:36-109).
- Single-pass fused dataset profiler (reference analogue:
  src/profilers/spark_profiler.py:84-345, re-expressed as ONE aggregation
  instead of one Spark job per column).
"""

__version__ = "0.1.0"

"""flash_cdc_spark — a PySpark-native analytics + change-feed engine.

A from-scratch, Spark-first re-expression of the query and data-processing
capabilities of the reference system ``bettyarega/Flash-CDC`` (a Salesforce
CDC listener platform), extended with the batch-analytics and LLM-data-
pipeline operators a 100 TB training-data platform needs.

Layout:

- :mod:`flash_cdc_spark.session`    — SparkSession factory (AQE, Arrow, tuned shuffles)
- :mod:`flash_cdc_spark.worker_daemon` — Python worker-daemon bootstrap (no per-task archive re-reads)
- :mod:`flash_cdc_spark.schemas`    — canonical StructTypes (event envelope, config tables)
- :mod:`flash_cdc_spark.tables`     — test-table catalog loader
- :mod:`flash_cdc_spark.artifacts`  — stored per-corpus index tables, trained state + per-session plan memo
- :mod:`flash_cdc_spark.functions`  — pure Column-expression helpers (no UDFs in hot paths)
- :mod:`flash_cdc_spark.operators`  — batch operators (changefeed, admin, dedup, similarity, text, multimodal)
- :mod:`flash_cdc_spark.sources`    — changelog source + replay-mode resolution
- :mod:`flash_cdc_spark.streaming`  — webhook sink, control plane, windowed streaming ops
"""

__version__ = "0.1.0"

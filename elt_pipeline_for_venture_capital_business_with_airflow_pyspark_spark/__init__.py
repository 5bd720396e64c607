"""A PySpark-native analytics engine with the query & data-processing
capabilities of the reference ELT pipeline (Rico-febrian/
elt-pipeline-for-venture-capital-business-with-airflow-pyspark),
re-expressed Spark-first and extended with large-scale training-data
pipeline operators (dedup, similarity search, text analysis).

Layout
------
- ``session``    : SparkSession builder tuned for the engine.
- ``schemas``    : central StructType registry (schema-on-read discipline).
- ``sources``    : readers/writers (parquet/csv/json/jdbc) + upsert pattern.
- ``functions``  : pure Column-expression builders (never UDFs in the
                   parity surface) — cleansing, currency, date keys, text.
- ``operators``  : relational + LLM-data operators (profile, surrogate
                   keys, dedup families, similarity search).
- ``plans``      : table builders (dim_date spine, VC star-schema
                   dims/facts the reference computes).
- ``streaming``  : incremental-batch contract + Structured Streaming
                   equivalents.
- ``multimodal`` : binary-column image/audio codecs (library only; no
                   registry query runs them).
"""

__version__ = "0.1.0"

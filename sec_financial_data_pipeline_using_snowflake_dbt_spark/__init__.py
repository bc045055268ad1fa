"""secspark — a PySpark-native analytics engine with the query and
data-processing capabilities of the reference ELT pipeline
(shushilgirish/SEC-Financial-Data-Pipeline-using-Snowflake-DBT).

Architecture (Spark-first, not a port):

- ``session``     — SparkSession builder tuned for local[N] and cluster use.
- ``schemas``     — explicit StructTypes for the four SEC entities
                    (sub/tag/num/pre) + weather demo table.
- ``sources``     — readers implementing the reference's load semantics
                    (TSV "COPY INTO" options, CSV, JSON/VARIANT) and the
                    materialization sink (view/cache/table/cluster_by).
- ``functions``   — scalar Column helpers: dbt_utils surrogate keys,
                    null-default coalesces, ticker extraction, text and
                    vector math used by the extension operators.
- ``operators``   — the relational pipeline (staging → dimensions → facts →
                    JSON documents) plus large-scale training-data ops
                    (dedup, similarity search, text analysis, multimodal).
- ``plans``       — the model registry (dbt DAG replacement) and the
                    serving layer (filtered reads, SELECT-only SQL gate,
                    result cache, pagination).
- ``streaming``   — incremental / Structured Streaming ingest paths.
- ``checks``      — declarative data-quality framework mirroring dbt tests.
"""

__version__ = "0.1.0"

"""s3logs_parquet_spark — a PySpark-native analytics engine with the
capabilities of aws-samples/s3logs-parquet.

The reference (at /root/reference, Rust) extracts AWS S3 server access
logs and transforms them into time-partitioned, deduplicated Parquet.
This package re-expresses every operator of that pipeline (SURVEY.md §2)
as idiomatic Spark DataFrame / Structured Streaming code, and adds the
query + training-data-pipeline layer (dedup families, similarity search,
text analysis, multimodal plumbing) a 100 TB deployment needs.

Layout:
    config.py     — env-var compatible configuration (reference README.md:49-79)
    schema.py     — 26-column log schema + ExtraField widening (parquet.schema)
    session.py    — SparkSession builder with scale-ready defaults
    sources/      — batch text scan, manifest/streaming sources (S1-S6)
    functions/    — parser (P1-P7), time ops (G1/P4), text analysis, similarity
    operators/    — windowing (G1-G5), dedup family (D1 + extensions), ANN, sketches
    plans/        — fused batch job (§3.1+§3.2) and the query layer
    streaming/    — Structured Streaming job (T1-T6)
    writer.py     — partitioned parquet sink options (W3-W5)
"""

__version__ = "0.1.0"

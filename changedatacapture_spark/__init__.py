"""changedatacapture_spark — a from-scratch, PySpark-native CDC / incremental
ingest engine with the capabilities of the reference repo
(Hoanha2101/ChangeDataCapture: MySQL→Debezium→Kafka→Pinecone sync service),
re-expressed Spark-first.

Architecture (see SURVEY.md for the full blueprint):

- ``schemas``    — page table / Debezium-shaped envelope / chunk StructTypes
- ``gen``        — deterministic binlog-segment generator (replaces
                   MySQL+Debezium+Kafka in the sandbox)
- ``oracle``     — single-node pure-Python oracle: verbatim ports of the
                   reference transform + the sequential event fold
- ``functions``  — vectorized pandas/Arrow UDFs (transform) and JVM-side
                   column expressions (text analysis, dedup, similarity)
- ``operators``  — envelope projection, LWW dedup windows, salted two-phase
                   LWW, batch fold, schema evolution, field diffs, as-of joins
- ``sinks``      — lake table with atomic snapshot commits, idempotent
                   epoch-keyed MERGE upserts, lineage
- ``streaming``  — Structured Streaming driver (readStream → foreachBatch),
                   checkpoint-resumable, exactly-once; feed-driven mirrors
                   (FeedMirror, VectorFeedMirror)
"""

__version__ = "0.1.0"

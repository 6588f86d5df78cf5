"""gobblin_spark — a from-scratch PySpark-native CDC / incremental-ingest engine.

Re-imagines Apache Gobblin's work-unit + watermark model (reference:
/root/reference, Apache Gobblin) as a small Spark-first library:

- ``fixtures``   deterministic synthetic web-page changelog (test input)
- ``extract``    deterministic html→text in native Spark expressions (Converter slot)
- ``dedup``      last-writer-wins dedup per key (≈ AvroKeyDedupReducer)
- ``planner``    watermark-range batch planning (≈ KafkaSource + WorkUnitPacker)
- ``state``      checkpoint state store (≈ FsStateStore + WatermarkStorage)
- ``lake``       snapshot/manifest parquet table with atomic commit + table
                 properties (Iceberg-shaped sink; ≈ IcebergMetadataWriter)
- ``engine``     plan → transform → merge → checkpoint loop (≈ AbstractJobLauncher)
- ``streaming``  file tail as a driver loop (list → offset proof → fenced apply)
- ``sources``    file-based incremental / JDBC watermark-pull / Kafka config
                 (≈ FileBasedSource, QueryBasedSource+Partitioner, KafkaSource)
- ``converters`` the reference's Converter surface as DataFrame combinators
- ``datagen``    distributed deterministic changelog synthesis (bench input)
- ``operators``  training-data pipeline ops (dedup families, similarity search,
                 text analysis, multimodal plumbing)

See COVERAGE.md for the SURVEY §2 row-by-row mapping.

Everything is public-API PySpark (DataFrame / SQL / Arrow and pandas UDFs).
No RDDs.
"""

__version__ = "0.1.0"

"""gmall_flink_2021_spark — a PySpark-native analytics engine with the
query and data-processing capabilities of the reference real-time
e-commerce warehouse (AmbitiondX/gmall-flink-2021, Flink 1.12).

Architecture is Spark-first: declarative DataFrame/SQL plans optimized
by Catalyst, Structured Streaming for the streaming layer, and Pandas
UDF / applyInPandasWithState only where built-in operators cannot
express the semantics (the stateful trio: is_new repair, daily-UV
dedup, bounce/jump detection — SURVEY.md §2.9 O4/O5/O6).

Layout:
  session.py    — SparkSession factory with scale-oriented defaults
  schemas.py    — StructTypes for the gmall data model (SURVEY.md §1.2)
  sources/      — batch/streaming readers over the driver testdata and
                  gmall-shaped fixtures (Kafka-shaped envelope included)
  functions/    — shared column expressions (time, text, vectors)
  operators/    — the engine's operator library: dwd/dwm/dws layers,
                  serving queries, dedup, similarity, text stats
  plans/        — the query registry (queries + DuckDB oracle SQL)
  streaming/    — the warehouse topology (warehouse.py), its sinks
                  and query runner (sinks.py), stateful operators
"""

__version__ = "0.1.0"

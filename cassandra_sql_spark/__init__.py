"""cassandra_sql_spark — a PySpark-native analytics engine.

A ground-up re-expression of the query & data-processing surface of the
reference engine (jeffjirsa/cassandra-sql, surveyed in /root/repo/SURVEY.md)
as idiomatic Spark SQL / DataFrame code, extended with LLM-data-pipeline
operators (dedup, similarity search, text analysis, multimodal columns)
designed for 100 TB scale.

Layout:
  session     SparkSession factory tuned for analytics (AQE, UTC, Arrow)
  worker_daemon  Python worker daemon that skips needless zip re-reads
  io          parquet table loading / temp-view registration
  engine      SQL facade: PostgreSQL-flavored DDL/DML/queries -> Spark
  catalog     JSON metastore (enums, sequences, identity, views, MVs)
  sqlfront    SQL preprocessing (pg-isms -> Spark SQL)
  functions   pg-flavored SQL function registration
  queries     the operator inventory as (spark, sf_dir) -> DataFrame
  pipeline    dedup / similarity / text-analysis / multimodal operators
  streaming   Structured Streaming operators (incremental MV, windows)
"""

from cassandra_sql_spark.session import get_spark

__all__ = ["get_spark"]
__version__ = "0.1.0"

"""PySpark-native analytics engine with the query/data-processing
capabilities of the reference grocery-sales ETL pipeline
(Rammy2003/Grocery-store-sales-forecasting-etl-pipeline), re-expressed
Spark-first and designed for 100 TB scale.

Layout
------
- ``session``    : SparkSession factory (AQE, Arrow, local warehouse).
- ``sources``    : CSV ingest w/ corrupt-record quarantine, catalog DDL,
                   error log, keyed upserts and SCD2 merge.
- ``operators``  : relational operator library (dedup, joins, aggregates,
                   windows, similarity, data-quality checks).
- ``functions``  : scalar/column function library (datetime, text analysis,
                   multimodal binary columns).
- ``plans``      : registered benchmark/correctness queries + DuckDB oracle
                   SQL (driver contract surface).
- ``pipeline``   : bronze/silver/gold parity modules reproducing the
                   reference pipeline semantics exactly.
- ``ml``         : distributed forecasting (MLlib GBT + per-group
                   applyInPandas), replacing the reference's driver-side
                   LightGBM collect (reference gold_feature.py.py:54).
- ``streaming``  : event-time operators (windows, sessions, interval
                   joins) for batch and streaming frames alike.
"""

from grocery_store_sales_forecasting_etl_pipeline_spark.session import get_spark

__all__ = ["get_spark"]
__version__ = "0.1.0"

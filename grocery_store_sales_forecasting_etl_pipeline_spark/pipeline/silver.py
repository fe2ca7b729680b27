"""Silver processing (reference silver_processing.py.py:1-83) —
semantics-exact reproduction, including the load-bearing lossy steps
(SURVEY.md §2.5 note):

- ``dropDuplicates`` keyed dedups with arbitrary-survivor semantics;
- ``transferred == "FALSE"`` STRING comparison (not boolean);
- the post-join ``na.drop()`` that silently removes dates with no oil
  quote (weekend/holiday gaps in the oil series).

Scale notes: the three dims are small (stores ~54 rows, holidays ~350,
oil ~1.2k in the reference data). The planner broadcasts the
unpartitioned ``raw.stores`` on its own; the two date-partitioned dims
carry no catalog statistics, so their joins plan as sort-merge joins
that AQE may demote at run time (BASELINE.md, hint audit). The keyed
dedups do map-side partial dedup first.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from grocery_store_sales_forecasting_etl_pipeline_spark.operators import quality as Q

OUTPUT_TABLE = "processed.sales_cleaned"


def build(
    transactions: DataFrame,
    stores: DataFrame,
    holidays: DataFrame,
    oil: DataFrame,
) -> DataFrame:
    """Pure transformation: bronze frames → cleaned/enriched silver frame
    (reference silver_processing.py.py:14-74, step numbers in comments)."""
    # 1. transactions: dedup (date, store_nbr), parse date, drop any-null rows
    transactions_silver = (
        transactions.dropDuplicates(["date", "store_nbr"])
        .withColumn("date", F.to_date(F.col("date"), "yyyy-MM-dd"))
        .na.drop()
    )
    # 2. stores: dedup store_nbr, drop nulls
    stores_silver = stores.dropDuplicates(["store_nbr"]).na.drop()
    # 3. holidays: parse date, flag real holidays, keep non-transferred
    #    (string compare), reduce to (date, is_holiday), dedup date
    holidays_silver = (
        holidays.withColumn("date", F.to_date(F.col("date"), "yyyy-MM-dd"))
        .withColumn(
            "is_holiday",
            F.when(F.col("type") == "Holiday", F.lit(True)).otherwise(F.lit(False)),
        )
        .filter(F.col("transferred") == "FALSE")
        .select("date", "is_holiday")
        .dropDuplicates(["date"])
        .na.drop()
    )
    # 4. oil: parse date, cast price, dedup date, drop nulls
    oil_silver = (
        oil.withColumn("date", F.to_date(F.col("date"), "yyyy-MM-dd"))
        .withColumn("dcoilwtico", F.col("dcoilwtico").cast("double"))
        .dropDuplicates(["date"])
        .na.drop()
    )
    # 5. enrichment joins (left) + holiday null-fill
    sales_cleaned = (
        transactions_silver.join(stores_silver, on="store_nbr", how="left")
        .join(holidays_silver, on="date", how="left")
        .join(oil_silver, on="date", how="left")
        .withColumn("is_holiday", F.coalesce(F.col("is_holiday"), F.lit(False)))
    )
    # drop stale partition/lineage columns if present (dynamic schema
    # introspection, reference silver_processing.py.py:58-64)
    for c in ("year", "month", "source_file"):
        if c in sales_cleaned.columns:
            sales_cleaned = sales_cleaned.drop(c)
    # partition columns + the final lossy any-null drop (removes dates
    # with no oil quote — reproduced deliberately)
    return (
        sales_cleaned.withColumn("year", F.year(F.col("date")))
        .withColumn("month", F.month(F.col("date")))
        .na.drop()
    )


def run(spark: SparkSession) -> tuple[Q.QualityObservation, Q.QualityObservation]:
    """Catalog-to-catalog run (reference reads raw.*, overwrites
    processed.sales_cleaned partitioned by year/month). Returns the
    quality handles the write fills in: on the ``raw.transactions`` scan
    (bronze) and on the written frame (silver)."""
    # raw tables enter with their lineage/partition columns (source_file,
    # year, month) exactly as in the reference — build() drops them
    # dynamically after the joins
    transactions, bronze_obs = Q.observe_quality(spark.table("raw.transactions"), name="bronze")
    out, silver_obs = Q.observe_quality(
        build(
            transactions,
            spark.table("raw.stores"),
            spark.table("raw.holidays_events"),
            spark.table("raw.oil"),
        ),
        sum_cols=("transactions",),
        name="silver",
    )
    out.write.mode("overwrite").partitionBy("year", "month").format("parquet").saveAsTable(
        OUTPUT_TABLE
    )
    return bronze_obs, silver_obs

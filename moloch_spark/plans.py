"""Plan inspection: the formatted physical plan, for tests that assert
the plans we design for are the plans we get."""

from __future__ import annotations

from pyspark.sql import DataFrame


def formatted_plan(df: DataFrame) -> str:
    spark = df.sparkSession
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )

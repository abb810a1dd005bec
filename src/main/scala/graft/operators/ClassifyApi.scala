package graft.operators

import graft.functions.Classify
import graft.operators.CleanHistorical.{fillWith, medians}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** Reference task t3: trend classification of the API table
  * (crypto_etl_pipeline.py:237-253, crypto_etl_colab.py:93-111).
  *
  * The colab (golden) variant median-fills the numeric API columns before
  * classifying (crypto_etl_colab.py:79-82); the Airflow variant does not
  * (SURVEY.md §2.6.3). This reproduces the golden colab variant: fill,
  * then label with the colab sentence-case labels into `tendencia`.
  */
object ClassifyApi {

  val numericCols: Seq[String] = Seq("current_price",
    "price_change_percentage_24h", "market_cap", "total_volume",
    "high_24h", "low_24h")

  def apply(api: DataFrame): DataFrame =
    fillWith(api, medians(api, numericCols)).withColumn("tendencia",
      Classify.classifyTrend(col("price_change_percentage_24h")))
}

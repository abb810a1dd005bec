package graft.io

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._

/** S2/S3: CSV source/sink with declared schemas (SURVEY.md §2.1).
  *
  * The raw historical file has padded header names (literally `" Price "`)
  * and quoted fields with embedded thousands separators; schema inference
  * would mangle them, so every read declares an explicit all-string
  * schema and relies on the default quote handling.
  * Reference read sites: crypto_etl_pipeline.py:137, crypto_etl_colab.py:154.
  */
object CryptoCsv {

  /** Verbatim raw headers, including the pad spaces (CryptocurrencyData.csv:1). */
  val rawColumns: Seq[String] = Seq(
    "Rank", "Coin Name", "Symbol", " Price ", "1h", "24h", "7d", "30d",
    " 24h Volume ", "Circulating Supply", "Total Supply", " Market Cap ")

  val rawSchema: StructType =
    StructType(rawColumns.map(StructField(_, StringType, nullable = true)))

  /** Golden cleaned-output schema (FIXTURES.md §3). */
  val cleanSchema: StructType = StructType(Seq(
    StructField("coin", StringType),
    StructField("symbol", StringType),
    StructField("current_price", DoubleType),
    StructField("1h", DoubleType),
    StructField("24h", DoubleType),
    StructField("7d", DoubleType),
    StructField("30d", DoubleType),
    StructField("24h_volume", DoubleType),
    StructField("circulating_supply", DoubleType),
    StructField("total_supply", LongType),
    StructField("market_cap", DoubleType),
    StructField("is_outlier", BooleanType)))

  /** API-response schema: columns 1–7 of the frozen fixture (FIXTURES.md §2). */
  val apiSchema: StructType = StructType(Seq(
    StructField("symbol", StringType),
    StructField("current_price", DoubleType),
    StructField("price_change_percentage_24h", DoubleType),
    StructField("market_cap", LongType),
    StructField("total_volume", DoubleType),
    StructField("high_24h", DoubleType),
    StructField("low_24h", DoubleType)))

  /** Classified-output schema: the API columns plus the trend label. */
  val classifiedSchema: StructType =
    StructType(apiSchema.fields :+ StructField("tendencia", StringType))

  /** Raw historical read. Single partition: row order is semantically
    * meaningful in the reference (market-cap rank order, SURVEY.md §1.1);
    * parity mode preserves it. At scale, callers repartition after
    * stamping an explicit row id. */
  def readRaw(spark: SparkSession, path: String): DataFrame =
    spark.read
      .option("header", "true")
      .option("enforceSchema", "true")
      .schema(rawSchema)
      .csv(path)
      .coalesce(1)

  def readGoldenClean(spark: SparkSession, path: String): DataFrame =
    spark.read.option("header", "true").schema(cleanSchema).csv(path).coalesce(1)

  /** Frozen API fixture: first 7 columns are the CoinGecko response; an
    * optional trailing golden-classification column is read when present. */
  def readApiFixture(spark: SparkSession, path: String,
                     withGolden: Boolean = false): DataFrame = {
    val schema = if (withGolden) classifiedSchema else apiSchema
    spark.read.option("header", "true").schema(schema).csv(path).coalesce(1)
  }

  /** A pipeline output as [[write]] left it, read with its declared
    * schema and split as the file reader splits it. Row order is the
    * file's: partitions follow file offsets. */
  def readWritten(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.option("header", "true").schema(schema).csv(path)

  /** S3: CSV sink (`to_csv(path, index=False)` equivalent): one part
    * file, as golden parity and [[Publish.publishCsv]] expect. */
  def write(df: DataFrame, path: String): Unit =
    df.coalesce(1).write.mode("overwrite").option("header", "true").csv(path)
}

package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/**
 * Source layer: every scan the reference performs, re-expressed as Spark
 * reads (SURVEY.md §2 ops 1-2, 9, 15, 18).
 *
 * The reference reads from HTTP (OpenWeatherMap JSON), S3 CSV, Postgres,
 * and BigQuery. Offline, the semantic contract of each scan (schema,
 * binding mode, coercion behavior) is preserved over local files; real
 * connectors (s3a://, JDBC, spark-bigquery-connector) drop in by changing
 * only the path/format, not operator code.
 *
 * Schema rule: a store the engine writes itself is read back with the
 * schema it was written with, as declared in [[graft.model.Schemas]]
 * (`spark.read.schema(...)`, as `WeatherPipeline` reads its operational
 * stores). Schema inference costs one footer-reading Spark job per read
 * and is only for foreign inputs whose schema the engine does not own,
 * such as the harness tables of [[table]].
 */
object Sources {

  /** Harness table loader: `<sfDir>/<name>.parquet`. */
  def table(spark: SparkSession, sfDir: String, name: String): DataFrame =
    spark.read.parquet(s"$sfDir/$name.parquet")

  /**
   * Op 2 — JSON document source. The reference issues one GET and parses
   * the body (weather_etl_pipeline.py:51-53); here the raw JSON string(s)
   * become a single-column DataFrame and `from_json` applies the explicit
   * payload schema. Works identically for 1 payload or a billion (one
   * JSON document per line / per row).
   */
  def jsonDocuments(spark: SparkSession, raw: Seq[String], schema: StructType): DataFrame = {
    import spark.implicits._
    raw.toDF("raw").select(from_json(col("raw"), schema).as("payload"))
  }

  /**
   * Op 1 — availability sensor. The reference gates the DAG on an
   * HttpSensor poll (weather_etl_pipeline.py:282-286). Engine equivalent:
   * a driver-side pre-flight probe with bounded retries before job
   * submission — not a plan node.
   */
  def probeAvailable(probe: () => Boolean, retries: Int = 3, delayMs: Long = 3000): Boolean = {
    var attempt = 0
    while (attempt <= retries) {
      if (scala.util.Try(probe()).getOrElse(false)) return true
      attempt += 1
      if (attempt <= retries) Thread.sleep(delayMs)
    }
    false
  }

  /**
   * Op 9 — CSV scan with explicit schema and POSITIONAL binding.
   * The reference's CSV header has a BOM and mismatched casing
   * (us_cities.csv:1 `land_Area_sq_mile_2020`) and its loader binds rows
   * to the target table positionally, not by header name
   * (weather_etl_pipeline.py:132-141). Spark equivalent: read with
   * header=true (to skip it), then impose target names by position via
   * `toDF` — header names are intentionally discarded.
   */
  def csvPositional(spark: SparkSession, path: String, target: StructType): DataFrame = {
    val raw = spark.read
      .option("header", "true")
      .option("encoding", "UTF-8")
      .schema(StructType(target.fields.zipWithIndex.map { case (f, i) =>
        f.copy(name = s"_c$i")
      }))
      .csv(path)
    raw.toDF(target.fieldNames.toIndexedSeq: _*)
  }

  /**
   * Op 15 — CSV re-scan with null-on-failure timestamp coercion
   * (`pd.to_datetime(errors="coerce")`, weather_etl_pipeline.py:241-243).
   * Spark 4 defaults to ANSI mode where `to_timestamp` THROWS on a parse
   * failure; `try_to_timestamp` restores the null-on-failure semantics
   * that match `coerce` (and SQL TRY_CAST).
   */
  def csvWithTimestampCoercion(
      spark: SparkSession, path: String, schema: StructType,
      tsCols: Seq[String]): DataFrame = {
    val asStrings = StructType(schema.fields.map { f =>
      if (tsCols.contains(f.name)) f.copy(dataType = org.apache.spark.sql.types.StringType) else f
    })
    val raw = spark.read.option("header", "true").schema(asStrings).csv(path)
    tsCols.foldLeft(raw)((df, c) => df.withColumn(c, try_to_timestamp(col(c))))
  }
}

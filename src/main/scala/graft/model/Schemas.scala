package graft.model

import org.apache.spark.sql.types._

/**
 * Schemas for the weather-ETL data model, derived from the reference's
 * observable surface (see SURVEY.md §1; reference README.md:261-343 DDL and
 * API payload spec, codes/us_cities.csv:1-4).
 *
 * All schemas are explicit `StructType`s — the reference's schema is
 * DDL-declared and external, never inferred (SURVEY.md §1.2), so this
 * engine treats explicit schemas as the norm and inference as a
 * convenience path only.
 */
object Schemas {

  /**
   * OpenWeatherMap current-weather payload (reference README.md:299-343).
   * Nested structs + one array-of-structs (`weather`), of which the
   * pipeline consumes element [0] (reference weather_etl_pipeline.py:62).
   */
  val owmPayload: StructType = StructType(Seq(
    StructField("coord", StructType(Seq(
      StructField("lon", DoubleType),
      StructField("lat", DoubleType)))),
    StructField("weather", ArrayType(StructType(Seq(
      StructField("id", LongType),
      StructField("main", StringType),
      StructField("description", StringType),
      StructField("icon", StringType))))),
    StructField("base", StringType),
    StructField("main", StructType(Seq(
      StructField("temp", DoubleType),
      StructField("feels_like", DoubleType),
      StructField("temp_min", DoubleType),
      StructField("temp_max", DoubleType),
      StructField("pressure", LongType),
      StructField("humidity", LongType),
      StructField("sea_level", LongType),
      StructField("grnd_level", LongType)))),
    StructField("visibility", LongType),
    StructField("wind", StructType(Seq(
      StructField("speed", DoubleType),
      StructField("deg", LongType)))),
    StructField("clouds", StructType(Seq(
      StructField("all", LongType)))),
    StructField("dt", LongType),
    StructField("sys", StructType(Seq(
      StructField("type", LongType),
      StructField("id", LongType),
      StructField("country", StringType),
      StructField("sunrise", LongType),
      StructField("sunset", LongType)))),
    StructField("timezone", LongType),
    StructField("id", LongType),
    StructField("name", StringType),
    StructField("cod", LongType)))

  /**
   * City lookup table (reference README.md:277-283, minus the SERIAL id
   * which is engine-generated — SURVEY.md §7.3#1). The source CSV header
   * does NOT match these names (`land_Area_sq_mile_2020`,
   * codes/us_cities.csv:1); binding at load is positional (§1.2).
   */
  val cityLookup: StructType = StructType(Seq(
    StructField("city", StringType, nullable = false),
    StructField("state", StringType, nullable = false),
    StructField("census_2020", LongType),
    StructField("land_area_sq_mile_2020", DoubleType)))

  /**
   * Transformed weather fact row (reference README.md:261-275 DDL, minus
   * SERIAL id). Column order = the reference's insert order
   * (weather_etl_pipeline.py:60-73).
   */
  val weatherRecord: StructType = StructType(Seq(
    StructField("city", StringType, nullable = false),
    StructField("description", StringType),
    StructField("temperature_fahrenheit", DoubleType),
    StructField("feels_like_fahrenheit", DoubleType),
    StructField("min_temperature_fahrenheit", DoubleType),
    StructField("max_temperature_fahrenheit", DoubleType),
    StructField("pressure", LongType),
    StructField("humidity", LongType),
    StructField("wind_speed", DoubleType),
    StructField("time_of_record", TimestampType),
    StructField("sunrise", TimestampType),
    StructField("sunset", TimestampType)))

  /**
   * Joined export row in the CSV/export order
   * (reference weather_etl_pipeline.py:200-216).
   */
  val finalWeatherCsvOrder: Seq[String] = Seq(
    "city", "description", "temperature_fahrenheit", "feels_like_fahrenheit",
    "min_temperature_fahrenheit", "max_temperature_fahrenheit", "pressure",
    "humidity", "wind_speed", "time_of_record", "sunrise", "sunset",
    "state", "census_2020", "land_area_sq_mile_2020")

  /**
   * Warehouse (BigQuery) DDL column order (reference README.md:87-103) —
   * deliberately different from the CSV order (`state` 2nd,
   * `census_2020` 14th); the warehouse sink binds BY NAME (SURVEY.md §1.2).
   */
  val finalWeatherWarehouseOrder: Seq[String] = Seq(
    "city", "state", "description", "temperature_fahrenheit",
    "feels_like_fahrenheit", "min_temperature_fahrenheit",
    "max_temperature_fahrenheit", "pressure", "humidity", "wind_speed",
    "time_of_record", "sunrise", "sunset", "census_2020",
    "land_area_sq_mile_2020")

  /** Scrubbed or pseudonymized corpus: (doc_id, text, fp = md5 of text). */
  val scrubbedStore: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("fp", StringType)))

  /** Corpus change events: digest NULL on a removal. */
  val snapshotEventStore: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("digest", StringType),
    StructField("status", StringType)))

  /** Vector index: the stored embedding and its packed bit signature. */
  val vectorStore: StructType = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType)),
    StructField("sig", ArrayType(LongType))))

  /** The vector index's cell sidecar (unpartitioned): one row per
    * (vector, probed coarse cell). */
  val vectorCells: StructType = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("cell", IntegerType)))

  /** A streaming store's read schema (graft.streaming.StreamingIngest):
    * the layouts above are the files' columns, and `_batch_id`, the
    * partition column, lives in the directory names. */
  def batchPartitioned(layout: StructType): StructType =
    layout.add("_batch_id", LongType)
}

/** Typed views for the two stable records (SURVEY.md §1.3). */
case class WeatherRecord(
    city: String,
    description: String,
    temperature_fahrenheit: Double,
    feels_like_fahrenheit: Double,
    min_temperature_fahrenheit: Double,
    max_temperature_fahrenheit: Double,
    pressure: Long,
    humidity: Long,
    wind_speed: Double,
    time_of_record: java.sql.Timestamp,
    sunrise: java.sql.Timestamp,
    sunset: java.sql.Timestamp)

case class CityLookup(
    city: String,
    state: String,
    census_2020: Long,
    land_area_sq_mile_2020: Double)

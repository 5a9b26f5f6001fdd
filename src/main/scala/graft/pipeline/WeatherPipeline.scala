package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.model.Schemas
import graft.operators.{Relational, WeatherOps}
import graft.sinks.Sinks
import graft.sources.Sources

/**
 * Op 17 — the full dataflow of the reference DAG
 * (weather_etl_pipeline.py:258-331) as one Spark driver program.
 *
 * Reference task graph:
 * {{{
 * start ▶ sensor ▶ fetch JSON ▶ ┬ transform weather → append store ┐
 *                               └ CSV lookup → bulk append store   ┘ (parallel)
 *       ▶ join in store ▶ joined → single CSV ▶ CSV → warehouse ▶ end
 * }}}
 *
 * Here: the two load branches are independent DataFrame writes (submitted
 * from two driver threads, matching the reference's TaskGroup
 * parallelism); the join is a broadcast inner join instead of shipping
 * SQL to Postgres; every exchange stays distributed — the reference's
 * full driver materialization between stages (SURVEY.md §4.1) is dropped.
 *
 * The two operational stores are engine-written, so every read of them
 * binds the schema declared in [[Schemas]] (the rule in [[Sources]]):
 * inference would cost one footer-reading Spark job per store per day.
 * WeatherPipelineSpec pins each declaration to what the writers write.
 */
class WeatherPipeline(spark: SparkSession, root: String) {

  val weatherStorePath = s"$root/store/houston_weather_data"
  val lookupStorePath = s"$root/store/city_look_up"
  val exportCsvPath = s"$root/processed_data/final_weather_data"
  val warehousePath = s"$root/warehouse/final_weather_data"

  /** Stages 1-2: gate + extract (ops 1-3). */
  def extract(rawJson: Seq[String], available: () => Boolean = () => true): DataFrame = {
    require(Sources.probeAvailable(available, retries = 1, delayMs = 10),
      "source unavailable (sensor gate)")
    Sources.jsonDocuments(spark, rawJson, Schemas.owmPayload)
  }

  /** Branch 1: transform + append to the operational store (ops 3-8). */
  def loadWeather(payloads: DataFrame): Unit =
    Sinks.withRetry() {
      Sinks.append(WeatherOps.flattenOwm(payloads), weatherStorePath)
    }

  /** Branch 2: CSV lookup → positional bulk append (ops 9-10). */
  def loadLookup(csvPath: String): Unit =
    Sinks.withRetry() {
      Sinks.appendPositional(
        Sources.csvPositional(spark, csvPath, Schemas.cityLookup),
        Schemas.cityLookup.fieldNames.toIndexedSeq, lookupStorePath)
    }

  /** Stage: the two branches run concurrently (reference TaskGroup). */
  def loadParallel(payloads: DataFrame, csvPath: String): Unit = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    val f1 = Future(loadWeather(payloads))
    val f2 = Future(loadLookup(csvPath))
    Await.result(Future.sequence(Seq(f1, f2)), Duration.Inf)
  }

  /**
   * Ops 11-13 — the join the reference executes in Postgres
   * (weather_etl_pipeline.py:160-180): inner equi-join on city, 15-col
   * projection in the reference's export order. Dimension side broadcast.
   */
  def joined(): DataFrame = {
    val weather = spark.read.schema(Schemas.weatherRecord).parquet(weatherStorePath)
    val lookup = spark.read.schema(Schemas.cityLookup).parquet(lookupStorePath)
    Relational.lookupJoin(weather, lookup, "city")
      .select(Schemas.finalWeatherCsvOrder.map(org.apache.spark.sql.functions.col): _*)
  }

  /** Op 14 — single-file CSV export with header (the reference contract). */
  def exportCsv(df: DataFrame): Unit =
    Sinks.csv(df, exportCsvPath, singleFile = true)

  /**
   * Ops 15-16 — re-scan the CSV with timestamp coercion, then the
   * NAME-bound warehouse append against the reordered warehouse DDL.
   */
  def loadWarehouse(): Unit = {
    val schema = org.apache.spark.sql.types.StructType(
      Schemas.weatherRecord.fields ++ Schemas.cityLookup.fields.filter(_.name != "city"))
    val reread = Sources.csvWithTimestampCoercion(
      spark, exportCsvPath, schema, Seq("time_of_record", "sunrise", "sunset"))
    Sinks.appendByName(reread, Schemas.finalWeatherWarehouseOrder, warehousePath)
  }

  /** The whole DAG, in reference order. */
  def run(rawJson: Seq[String], csvPath: String): Unit = {
    val payloads = extract(rawJson)
    loadParallel(payloads, csvPath)
    exportCsv(joined())
    loadWarehouse()
  }

  /** Op 19 — truncate both operational tables (notebook reset cells).
    * Hadoop [[org.apache.hadoop.fs.FileSystem]] like the streaming
    * store walk — the store root may be HDFS/S3A in a deployment
    * (`file:` paths resolve to the local FS through the same API), so
    * the one remaining path-manipulating surface keeps the same
    * any-Hadoop-visible-FS posture. */
  def reset(): Unit = {
    import org.apache.hadoop.fs.Path
    for ((p, schema) <- Seq(weatherStorePath -> Schemas.weatherRecord,
                            lookupStorePath -> Schemas.cityLookup)) {
      val dir = new Path(p)
      val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(dir)) {
        Relational.truncate(spark.read.schema(schema).parquet(p), p + "_empty")
        fs.delete(dir, true)
        fs.rename(new Path(p + "_empty"), dir)
      }
    }
  }
}

object WeatherPipeline {
  /** Null-safe recursive delete (File.listFiles returns NULL — not an
    * empty array — for a non-directory, a vanished path, or an I/O
    * error; the guard makes concurrent deletion a no-op, not an NPE).
    * Local-fixture cleanup only (test scaffolding); every store-path
    * walk in main code is Hadoop FileSystem. */
  private[graft] def delete(f: java.io.File): Unit = {
    if (f.isDirectory) {
      val children = f.listFiles()
      if (children != null) children.foreach(delete)
    }
    f.delete()
    ()
  }
}

package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.catalogue.Query

/**
 * Driver contract — see SURVEY.md §7.
 *
 * `queries` carries one entry per implemented operator from SURVEY.md §2
 * (instantiated on the harness tables) plus the north-star LLM-pipeline
 * operators; `oracleSql` has the DuckDB-equivalent SQL of every entry.
 * Both are projections of one [[catalogue]]: the [[graft.catalogue.Query]]
 * records, one file per tier under [[graft.catalogue]], each query's
 * build beside its oracle. The builds share the helpers in [[NorthStar]],
 * the oracles those in [[graft.oracle.OracleSql]].
 */
object SparkEntry {

  /**
   * Flagship: the reference's core dataflow (JSON payload → flatten /
   * K→F / epoch→local-ts → broadcast lookup join → 15-col projection)
   * run end-to-end in memory on the golden fixtures, yielding the
   * reference's golden joined row (SURVEY.md §5). sfDir-independent by
   * design; the driver smoke-checks rows > 0.
   */
  def entry(spark: SparkSession): DataFrame = {
    import graft.model.Schemas
    import graft.operators.{Relational, WeatherOps}
    import graft.pipeline.Fixtures
    import graft.sources.Sources
    import org.apache.spark.sql.functions.col

    val payload = Sources.jsonDocuments(
      spark, Seq(Fixtures.owmHoustonJson), Schemas.owmPayload)
    val weather = WeatherOps.flattenOwm(payload)
    val tmp = java.nio.file.Files.createTempDirectory("graft_entry")
    val lookup = Sources.csvPositional(
      spark, Fixtures.writeUsCitiesCsv(tmp), Schemas.cityLookup)
    Relational.lookupJoin(weather, lookup, "city")
      .select(Schemas.finalWeatherCsvOrder.map(col): _*)
  }

  /** Every harness query, tier by tier. */
  val catalogue: Seq[Query] = {
    import graft.catalogue._
    RelationalQueries.all ++ AggregateQueries.all ++ GraphQueries.all ++
      DedupQueries.all ++ TextQueries.all ++ SearchQueries.all ++
      MediaQueries.all
  }

  /** One entry per implemented operator from SURVEY.md §2 + north star. */
  val queries: Map[String, (SparkSession, String) => DataFrame] =
    catalogue.map(q => q.name -> q.build).toMap

  /** DuckDB-equivalent SQL per query. */
  val oracleSql: Map[String, String] =
    catalogue.map(q => q.name -> q.oracle).toMap
}

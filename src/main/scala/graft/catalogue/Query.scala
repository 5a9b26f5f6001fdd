package graft.catalogue

import org.apache.spark.sql.{DataFrame, SparkSession}

/**
 * One harness query: its name (its key in SparkEntry), its Spark build over a
 * harness-layout directory, and the DuckDB SQL its result is
 * hash-compared against (SURVEY.md §7). The catalogue is one file of
 * records per tier; a composed query refers to the records it composes,
 * so its build and its oracle quote exactly what those records run.
 */
final case class Query(name: String, build: (SparkSession, String) => DataFrame,
                       oracle: String)

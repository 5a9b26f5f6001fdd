package graft.sinks

import org.apache.spark.sql.{DataFrame, SaveMode}

/**
 * Sink layer (SURVEY.md §2 ops 8, 10, 14, 16, 19). The reference's sinks
 * are Postgres (append, positional binding), S3 CSV (single file with
 * header), and BigQuery (append, NAME-based binding against a
 * differently-ordered DDL). Offline the storage is local parquet/CSV; the
 * *semantic* contract — append vs overwrite, binding mode, file layout —
 * is what each method reproduces (SURVEY.md §7.0).
 */
object Sinks {

  /**
   * Ops 8+10 — append sink (Postgres INSERT semantics,
   * weather_etl_pipeline.py:78-115, :132-141). Spark's parquet append is
   * the JDBC writer's moral equivalent; with a real cluster this becomes
   * `df.write.mode("append").jdbc(...)` (already batched via `batchsize`).
   */
  def append(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Append).parquet(path)

  /**
   * Op 10's positional binding: impose the target's column names by
   * position before appending (the reference inserts tuples positionally,
   * ignoring source header names — weather_etl_pipeline.py:132-141).
   */
  def appendPositional(df: DataFrame, targetCols: Seq[String], path: String): Unit =
    append(df.toDF(targetCols: _*), path)

  /**
   * Op 14 — single-file CSV with header
   * (`df.to_csv(..., index=False)` to one S3 object,
   * weather_etl_pipeline.py:219-224; one-file contract README.md:55-57).
   * `coalesce(1)` honors that contract but is a deliberate scale cliff
   * (SURVEY.md §7.3#3): keep `singleFile=false` for production-size
   * outputs and the writer stays fully parallel.
   */
  def csv(df: DataFrame, path: String, singleFile: Boolean = false): Unit = {
    val out = if (singleFile) df.coalesce(1) else df
    out.write.mode(SaveMode.Overwrite).option("header", "true").csv(path)
  }

  /**
   * Op 16 — warehouse load with NAME-based binding: align columns to the
   * warehouse DDL order by name, then append
   * (`load_table_from_dataframe`, weather_etl_pipeline.py:246-255,
   * against README.md:87-103 whose order differs from the CSV order).
   * With the BigQuery connector this becomes
   * `.format("bigquery").mode("append")`.
   */
  def appendByName(df: DataFrame, targetOrder: Seq[String], path: String): Unit = {
    require(targetOrder.toSet == df.columns.toSet,
      s"name binding requires identical column sets; missing=${targetOrder.toSet -- df.columns}, extra=${df.columns.toSet -- targetOrder}")
    append(df.select(targetOrder.map(df.col): _*), path)
  }

  /**
   * Ops 8/10/16 over a REAL JDBC connection — the reference's actual
   * warehouse path (`df.to_sql` / INSERT over psycopg2), not the parquet
   * stand-in: Spark's JDBC writer batches INSERTs (`batchsize`, default
   * 1000) and binds BY NAME against an existing table's DDL (the INSERT
   * carries an explicit column list from the DataFrame schema), so op
   * 10's positional imposition and op 16's DDL re-alignment are the same
   * `toDF`/`select` normalizations as the parquet twins composed with
   * this writer. Exercised in-process against embedded Derby
   * (JdbcSinkSpec) — swap the URL for Postgres in production; the writer
   * path is identical.
   */
  def appendJdbc(df: DataFrame, url: String, table: String,
                 props: java.util.Properties = new java.util.Properties()): Unit =
    df.write.mode(SaveMode.Append).jdbc(url, table, props)

  /**
   * Op 17's retry semantics (reference: retries=1, delay 3 s,
   * weather_etl_pipeline.py:265-266) as a driver-side wrapper. Note the
   * reference's retry double-inserts on partial failure (SURVEY.md §2.1);
   * pair this with overwrite-per-partition writes for idempotency
   * (SURVEY.md §7.3#5). Only non-fatal failures are retried: an OOM, a
   * linkage error or an interrupt propagates on its first throw.
   */
  def withRetry[T](retries: Int = 1, delayMs: Long = 3000)(body: => T): T = {
    var attempt = 0
    while (true) {
      try return body
      catch {
        case scala.util.control.NonFatal(_) if attempt < retries =>
          attempt += 1
          Thread.sleep(delayMs)
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /**
   * Idempotent partitioned append (the §7.3#5 fix for the reference's
   * double-insert-on-retry flaw): the write overwrites only the
   * `partitionCol` partitions that `df` holds rows for, so a retried run
   * or a replayed stream micro-batch replaces its partition rather than
   * duplicating it, and every other partition is untouched. An empty `df`
   * replaces nothing.
   */
  def overwritePartitions(df: DataFrame, partitionCol: String, path: String): Unit =
    df.write.mode(SaveMode.Overwrite)
      .partitionBy(partitionCol)
      .option("partitionOverwriteMode", "dynamic")
      .parquet(path)

  /**
   * Bucketed catalog table — the CO-LOCATED JOIN layout for 100 TB
   * fact⋈fact joins: two tables bucketed (and sorted) on the join key
   * with the SAME bucket count join with NO shuffle on either side (the
   * bucketing IS the hash partitioning, established once at write time
   * and amortized over every subsequent join/aggregation on that key).
   * This is the physical-design lever next to `broadcast()` (small dims)
   * and salting (skew): pre-shuffle the data once, read it co-located
   * forever. Bucket count is a data-size knob: size so one bucket of the
   * bigger table fits an executor's memory (≈ total / target-task-size).
   */
  def writeBucketed(df: DataFrame, table: String, bucketCol: String,
                    buckets: Int): Unit =
    df.write.mode(SaveMode.Overwrite)
      .bucketBy(buckets, bucketCol)
      .sortBy(bucketCol)
      .format("parquet")
      .saveAsTable(table)
}

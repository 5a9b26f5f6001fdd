package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all suites (startup is the dominant test
  * cost; Spark query execution is thread-safe across parallel suites).
  * Built through [[SessionDefaults]], so the suites run the engine's own
  * configuration; only the test-sized settings are added here. */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SessionDefaults(SparkSession.builder())
      .master("local[4]")
      .appName("graft-tests")
      .config("spark.sql.shuffle.partitions", "4")
      // bucketed-table tests write catalog tables; keep the warehouse
      // (and its lifetime) on tmpfs, not in the repo tree
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft_wh").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. A query that
  * throws leaves no result directory (so a stale one cannot pass the
  * compare), and the last line names the queries that failed. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional trailing query names restrict the dump (dev iteration);
    // the driver passes exactly two args → full run
    val only = args.drop(2).toSet
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // shared engine config ([[SessionDefaults]]) — the correctness dump
    // runs the SAME session configuration the bench times (r18)
    val spark = SessionDefaults(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    val failed = SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .toSeq.flatMap { case (name, fn) =>
      try { fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name"); None }
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        // a result left by an earlier run must not pass for this one
        val dir = new org.apache.hadoop.fs.Path(s"$outDir/$name")
        dir.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(dir, true)
        Some(name)
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // run provenance: timestamp/host/input so a correctness ledger built
    // from this dump is self-identifying (two rounds re-measuring an
    // identical build were indistinguishable from file copies without it).
    // Hostname lookup degrades to a fallback rather than throw — the
    // correctness dump above is already on disk, and a nonzero exit here
    // would make the driver misread a good run as failed (and skip stop())
    val host = scala.util.Try(java.net.InetAddress.getLocalHost.getHostName)
      .getOrElse("unknown")
    try Files.writeString(Paths.get(s"$outDir/run_meta.json"),
      s"""{"ts":"${java.time.Instant.now()}","host":"$host","sf_dir":${q(sfDir)},"spark":"${spark.version}","n_queries":${SparkEntry.queries.size}}""")
    finally spark.stop()
    println(s"[verify] failed queries (${failed.size}): " +
      (if (failed.isEmpty) "none" else failed.sorted.mkString(" ")))
  }
}

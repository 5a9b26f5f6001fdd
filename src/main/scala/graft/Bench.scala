package graft
import org.apache.spark.sql.SparkSession
/** Benchmark main: times every SparkEntry query on SPARK_GRAFT_SF_DIR and
  * prints one JSON line {"metric":"total",...,"queries":{...}}. Queries run
  * in name order after a session warm-up action, so timings are per-query
  * work, not JVM/session init noise. */
object Bench {

  /** RFC 8259 string escape: backslash, quote, AND control chars
    * U+0000–U+001F (Jackson rejects raw control chars, so an unescaped
    * tab in an env var would make the artifact unparseable — discarding
    * the measurement it exists to preserve). */
  private[graft] def jsonStr(s: String): String =
    s.flatMap {
      case '\\' => "\\\\"
      case '"' => "\\\""
      case c if c < 0x20 => f"\\u${c.toInt}%04x"
      case c => c.toString
    }

  /** First three fields of /proc/loadavg (1/5/15-minute run-queue
    * averages) — the steal-time witness: a quiet-host measurement and a
    * neighbor-loaded one are indistinguishable without it, and round 14's
    * 167.9 s driver artifact needed a judge rerun to adjudicate as
    * steal. Degrades to "unknown" rather than throw (provenance must
    * never discard the measurement it labels; /proc is Linux-only). */
  private[graft] def loadAvg(): String =
    scala.util.Try {
      new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get("/proc/loadavg")), "UTF-8")
        .split("\\s+").take(3).mkString(" ")
    }.getOrElse("unknown")

  /** Assemble the one-line artifact JSON. Pure so the shape BenchGuard
    * parses — and every string field's escaping — is unit-testable
    * without forking a bench JVM. `filter` is the active
    * SPARK_GRAFT_FILTER regex (stamped verbatim, escaped) or None for a
    * full-surface run (stamped as JSON null — a subset artifact must be
    * distinguishable from a full measurement). `loadBefore`/`loadAfter`
    * are [[loadAvg]] snapshots bracketing the timing passes. */
  def renderJson(results: Seq[(String, Double)], sfDir: String, cpus: String,
                 filter: Option[String], ts: String, host: String,
                 loadBefore: String = "unknown",
                 loadAfter: String = "unknown"): String = {
    // non-finite guard: NaN/Infinity are not JSON number literals, so one
    // bad timing would make the whole artifact unparseable — the failure
    // the escaping above exists to prevent. Not reachable from elapsed
    // nanos today; clamp to -1 (the same "measurement invalid" sentinel
    // the error path uses) so a future timing source can't discard the
    // artifact.
    def num(v: Double): String = if (v.isNaN || v.isInfinite) "-1" else v.toString
    val qs = results.map { case (k, v) => "\"" + jsonStr(k) + "\":" + num(v) }
      .mkString("{", ",", "}")
    val total = num(if (results.nonEmpty) results.map(_._2).sum else 0.0)
    val filterStamp = filter.map("\"" + jsonStr(_) + "\"").getOrElse("null")
    s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"sf":"${jsonStr(sfDir)}","passes":2,"cpus":"${jsonStr(cpus)}","filter":$filterStamp,"ts":"${jsonStr(ts)}","host":"${jsonStr(host)}","load_before":"${jsonStr(loadBefore)}","load_after":"${jsonStr(loadAfter)}"}"""
  }

  /** Seconds `run` took, or the -1 "measurement invalid" sentinel if it
    * threw: a crashing query must never read as a fast one (its elapsed
    * time up to the throw is not a timing). min-of-2 keeps the sentinel,
    * and BenchGuard rejects it. */
  private[graft] def timed(run: => Any): Double = {
    val t0 = System.nanoTime()
    try { run; (System.nanoTime() - t0) / 1e9 }
    catch { case _: Throwable => -1.0 }
  }

  def main(args: Array[String]): Unit = {
    // stamp BEFORE the session/warm-up spin up our own 32 threads: the
    // before-value is the NEIGHBOR load diagnosis (a high load_before
    // says "the host was already busy"; load_after includes our own
    // contribution and is the during-run witness)
    val loadBefore = loadAvg()
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // local[32] is the benchmark contract (SURVEY.md §7 / driver spec);
    // the env override exists only for dev experiments — BENCH_r03 showed
    // the cost of defaulting low: the driver runs Bench with no env, so a
    // "4" default serialized the CPU-bound dedup tier 8× (d04 62 s there
    // vs 1.6 s in the same window at the contract parallelism)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // engine config (incl. the r17 constraintPropagation=false, kept on
    // its measured −2.5 s win) comes from the ONE shared source so the
    // timed configuration IS the engine configuration — see
    // [[SessionDefaults]] for each setting's rationale and the
    // constraint-propagation re-enable condition.
    val spark = SessionDefaults(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // warm-up: codegen + scheduler + parquet reader paths for every table
    spark.range(1000).selectExpr("sum(id)").collect()
    for (t <- Seq("region", "nation", "customer", "supplier", "part", "orders",
                  "lineitem", "events", "documents", "embeddings"))
      try spark.read.parquet(s"$sfDir/$t.parquet").count() catch { case _: Throwable => }
    // cheap relational tier first (warms JIT before the heavy dedup tier).
    // Caches persist across queries on purpose: the dedup tier shares its
    // materialized shingle/signature tables (d03 builds them, d04/d06
    // reuse them via cache-manager plan matching) — the same
    // compute-once structure a production pipeline would use.
    val rank = Map('q' -> 0, 't' -> 1, 'm' -> 2, 's' -> 3, 'e' -> 4, 'd' -> 5)
    // dev-only subset filter (regex on query name); the driver sets no env,
    // so the contract run always times the full surface
    val filter = sys.env.get("SPARK_GRAFT_FILTER").map(_.r)
    val ordered = SparkEntry.queries.toSeq
      .filter { case (n, _) => filter.forall(_.findFirstIn(n).isDefined) }
      .sortBy { case (n, _) => (rank.getOrElse(n.head, 9), n) }
    def pass(): Seq[(String, Double)] = ordered.map { case (name, fn) =>
      name -> timed(fn(spark, sfDir).count())
    }
    // min-of-2: this host's neighbor steal inflates single-shot timings
    // up to ~2×; the per-query min of two full passes is the robust
    // quiet-host estimate. Between passes the MEMOIZED tier is released
    // through its lifecycle handle (releaseCaches drops the memo entries,
    // so pass 2's first dedup/sketch query rebuilds AND re-persists them
    // — clearCache alone would leave stale memo entries pointing at
    // evicted plans and pass 2 would run the whole tier uncached), then
    // any remaining cached plans are cleared.
    val p1 = pass()
    NorthStar.releaseCaches(spark, sfDir)
    spark.catalog.clearCache()
    val p2 = pass()
    val loadAfter = loadAvg()
    val results = p1.zip(p2).map { case ((n, a), (_, b)) => n -> math.min(a, b) }
    // self-identifying provenance (timestamp + host facts + active filter):
    // eight rounds of BENCH_r*.json were unparseable stdout tails, identical
    // builds re-measured on different days were indistinguishable from file
    // copies, and a SPARK_GRAFT_FILTER subset run's artifact was
    // indistinguishable from a full-surface measurement. The ts/host lookups
    // degrade to fallbacks rather than throw — provenance runs AFTER the
    // timing passes, and an unresolvable hostname must not discard the
    // measurement it is meant to label
    val ts = scala.util.Try(java.time.Instant.now().toString).getOrElse("unknown")
    val host = scala.util.Try(java.net.InetAddress.getLocalHost.getHostName)
      .getOrElse("unknown")
    val json = renderJson(results, sfDir, cpus,
      sys.env.get("SPARK_GRAFT_FILTER"), ts, host, loadBefore, loadAfter)
    println(json)
    // the durable artifact: stdout gets truncated by the driver's log tail
    // (BENCH_r01-r08 all recorded "parsed": null), the file does not
    val out = java.nio.file.Paths.get(
      sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "target/bench_local.json"))
    if (out.getParent != null) java.nio.file.Files.createDirectories(out.getParent)
    java.nio.file.Files.writeString(out, json + "\n")
    spark.stop()
  }
}

package graft

import org.apache.spark.sql.SparkSession

/**
 * Forked-JVM probe for [[SessionScope]]: populate one [[SessionCache]]
 * entry of every kind (the table, edge, shingle, pair, sketch and
 * signature memos, a tracked checkpoint), STOP the session, and verify
 * the stop hook dropped all entries with no later graft call — the
 * retention scenario the round-10 ADVICE flagged (a session that stops
 * and is never followed by another graft call used to be held, with its
 * queued DataFrames, for the JVM lifetime).
 * Runs in its own JVM because stopping the shared test SparkContext
 * would kill every other suite. Exit 0 = clean, 1 = retained.
 */
object SessionStopProbe {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val scratch = java.nio.file.Files.createTempDirectory("graft_probe").toString
    val spark = SparkSession.builder()
      .master("local[2]")
      .config("spark.sql.shuffle.partitions", 2)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.local.dir", scratch)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    // populate one entry of every memo kind, through the real call
    // shapes, and a tracked checkpoint (via a graph operator)
    require(NorthStar.t(spark, dir, "region").count() > 0)
    require(NorthStar.coOrderEdges(spark, dir, 49).count() >= 0)
    NorthStar.supplierPartEdges(spark, dir)
    for (q <- Seq("d03_jaccard_pairs", "d04_minhash_lsh", "g01_source_sketch"))
      SparkEntry.queries(q)(spark, dir)
    NorthStar.sigTable(spark, dir, 512, 8)
    val lp = operators.Graph.labelPropagation(
      Seq((1L, 2L), (2L, 3L)).toDF("u", "v"), 1)
    require(lp.count() == 3)
    val expected: Set[(Option[String], Any)] = Set(("table", "region"),
        ("coOrder", 49), "bipartite", "hs", "pairs", "lsh", "hist", "sketch",
        (None, 512, 8)).map(k => (Some(dir), k))
    val held = SessionCache.held(spark)
    val populated = expected.subsetOf(held.toSet) && held.exists(_._1.isEmpty)
    spark.stop()
    // the stop hook must have fired synchronously-enough: the listener
    // bus drains before SparkContext.stop returns
    val clean = SessionCache.held(spark).isEmpty && SessionScope.pendingHooks == 0
    if (!populated) {
      System.err.println(s"PROBE: registry never populated — missing " +
        s"${expected -- held}, checkpoint held: ${held.exists(_._1.isEmpty)}")
      sys.exit(2)
    }
    if (!clean) {
      System.err.println(s"PROBE: retained after stop — entries=" +
        s"${SessionCache.held(spark)} hooks=${SessionScope.pendingHooks}")
      sys.exit(1)
    }
    // registering on an ALREADY-stopped session: the hook must fire
    // inline and leave no entry behind (the round-11 review found
    // getOrElseUpdate re-inserting the key AFTER the immediate-fire
    // block — a permanent strong retention of the stopped session)
    var fired = 0
    SessionScope.onStop("probe-post-stop", spark)(() => fired += 1)
    if (fired != 1 || SessionScope.pendingHooks != 0) {
      System.err.println(s"PROBE: post-stop registration leaked — " +
        s"fired=$fired hooks=${SessionScope.pendingHooks}")
      sys.exit(3)
    }
    println("PROBE: clean")
    sys.exit(0)
  }
}

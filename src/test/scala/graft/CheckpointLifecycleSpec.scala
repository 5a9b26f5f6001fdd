package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** [[Checkpoints]]: the tracked-localCheckpoint lifecycle. Repeated
  * invocations of the pair-engine / graph operators in ONE session must
  * not accumulate executor storage once the session releases its caches
  * — the round-9 leak (every call eagerly checkpointed its working
  * tables and left the blocks to ContextCleaner GC luck). */
class CheckpointLifecycleSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def persisted: Int = spark.sparkContext.getPersistentRDDs.size

  test("repeated pair-engine and graph invocations: storage is flat after release") {
    import spark.implicits._
    // d13/d26 checkpoint their keep-lists and read this corpus's memos
    val dir = "/root/testdata/sf0.001"
    // start from a known-clean tracked set (other suites share the session)
    NorthStar.releaseCaches(spark, dir)
    val baseSet = spark.sparkContext.getPersistentRDDs.keySet
    val base = persisted
    val hashes = Seq((1L, 0x00L), (2L, 0x01L), (3L, 0x01L), (4L, 0xf0f0L))
      .toDF("id", "h")
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L), (3L, 5L))
      .toDF("u", "v")
    var perCall = -1
    for (i <- 1 to 3) {
      // (1,2)/(1,3) via the hamming-1 value pair, (2,3) via identical hash
      assert(operators.Dedup.bandedHammingPairs(hashes, "id", "h", 2).count() == 3)
      assert(operators.Graph.linkPredict(edges).count() == 6)
      assert(operators.Graph.labelPropagation(edges, 2).count() == 5)
      assert(operators.Graph.kCore(edges, 2).count() == 5)
      // round-11 additions to the tracked set: the triangle census and
      // the frontier PPR (edge/degree tables materialized per call)
      assert(operators.Graph.triangleStats(edges).count() == 1)
      assert(operators.Graph.personalizedPageRank(
        edges.select(col("u").as("src"), col("v").as("dst"))
          .unionByName(edges.select(col("v").as("src"), col("u").as("dst"))),
        Seq(1L).toDF("node"), iters = 5).count() == 5)
      // the staged verdicts: one tracked checkpoint per keep-list
      for (q <- Seq("d13_dedup_verdict", "d26_verdict_lm"))
        assert(NorthStar.queries(q)(spark, dir).count() > 0)
      // in-loop frees (superseded rounds) already ran; what's left is the
      // per-call tracked set the RESULTS read — it must not grow with i
      val now = persisted - base
      assert(now > 0, "expected live tracked checkpoints while results are in use")
      if (perCall < 0) perCall = now
      else assert(now == perCall,
        s"iteration $i grew tracked storage: $now persisted vs $perCall after first call")
      NorthStar.releaseCaches(spark, dir)
      assert(spark.sparkContext.getPersistentRDDs.keySet == baseSet,
        s"release left ${persisted - base} persisted RDDs behind")
    }
  }

  test("release is idempotent and scoped: freeing twice / with nothing tracked is a no-op") {
    Checkpoints.release(spark)
    val base = persisted
    Checkpoints.release(spark)
    assert(persisted == base)
    // free() on an already-released checkpoint must not throw
    import spark.implicits._
    val cp = Checkpoints.tracked(Seq(1, 2, 3).toDF("x"))
    assert(cp.count() == 3)
    Checkpoints.release(spark)
    Checkpoints.free(cp)
    assert(persisted == base)
  }

  test("releaseCaches chains the tracked-checkpoint release") {
    import spark.implicits._
    Checkpoints.release(spark)
    val base = persisted
    val edges = Seq((1L, 2L), (2L, 3L)).toDF("u", "v")
    assert(operators.Graph.linkPredict(edges).count() == 2)
    assert(persisted > base)
    // the one lifecycle entry point callers already hold
    NorthStar.releaseCaches(spark, "/nonexistent-dir")
    assert(persisted == base,
      "NorthStar.releaseCaches did not release tracked checkpoints")
  }
}

package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** [[SessionCache]]: the tracked-localCheckpoint and memo lifecycle. Repeated
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
      // persisted memos: LSH pairs, signature table, source sketch, and
      // the bipartite edge table
      for (q <- Seq("d04_minhash_lsh", "s06_ann_knn_join", "g01_source_sketch",
                    "g02_pagerank"))
        assert(SparkEntry.queries(q)(spark, dir).count() > 0)
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

  // a dir no corpus lives at: releasing it frees only tracked checkpoints
  private val noCorpus = "/nonexistent-dir"

  test("release is idempotent and scoped: freeing twice / with nothing tracked is a no-op") {
    SessionCache.release(spark, noCorpus)
    val base = persisted
    SessionCache.release(spark, noCorpus)
    assert(persisted == base)
    // free() on an already-released checkpoint must not throw
    import spark.implicits._
    val cp = SessionCache.tracked(Seq(1, 2, 3).toDF("x"))
    assert(cp.count() == 3)
    SessionCache.release(spark, noCorpus)
    SessionCache.free(cp)
    assert(persisted == base)
  }

  test("free drops a superseded round's entry: an iterative operator " +
       "holds as many entries after 10 rounds as after 2") {
    import spark.implicits._
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L), (3L, 5L))
      .toDF("u", "v")
    def checkpoints: Int = SessionCache.held(spark).count(_._1.isEmpty)
    val held = for (rounds <- Seq(2, 10)) yield {
      SessionCache.release(spark, noCorpus)
      assert(operators.Graph.labelPropagation(edges, rounds).count() == 5)
      checkpoints
    }
    SessionCache.release(spark, noCorpus)
    assert(held(0) > 0 && held(1) == held(0), s"entries after 2 and 10 rounds: $held")
  }

  test("releaseCaches chains the tracked-checkpoint release") {
    import spark.implicits._
    SessionCache.release(spark, noCorpus)
    val base = persisted
    val edges = Seq((1L, 2L), (2L, 3L)).toDF("u", "v")
    assert(operators.Graph.linkPredict(edges).count() == 2)
    assert(persisted > base)
    // the one lifecycle entry point callers already hold
    NorthStar.releaseCaches(spark, noCorpus)
    assert(persisted == base,
      "NorthStar.releaseCaches did not release tracked checkpoints")
  }

  test("releasing one corpus keeps another corpus's memos and their cached blocks") {
    val small = "/root/testdata/sf0.001"; val big = "/root/testdata/sf0.01"
    def memos(d: String): Set[Any] =
      SessionCache.held(spark).collect { case (Some(`d`), k) => k }.toSet
    def rdds: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet
    // these queries persist memos and track no checkpoint, so the RDDs
    // each corpus adds are exactly its memos' blocks
    def populate(d: String): Set[Int] = {
      NorthStar.releaseCaches(spark, d)
      val before = rdds
      for (q <- Seq("d03_jaccard_pairs", "d04_minhash_lsh", "g01_source_sketch"))
        NorthStar.queries(q)(spark, d).count()
      rdds -- before
    }
    val smallRdds = populate(small)
    val bigRdds = populate(big)
    assert(smallRdds.nonEmpty && bigRdds.nonEmpty)
    val bigKeys = memos(big)
    assert(memos(small) == bigKeys && bigKeys.size >= 5,
      s"expected the same memos for both corpora: ${memos(small)} vs $bigKeys")
    NorthStar.releaseCaches(spark, small)
    assert(memos(small).isEmpty, s"release left ${memos(small)}")
    assert((rdds intersect smallRdds).isEmpty, "the released corpus kept its blocks")
    assert(memos(big) == bigKeys, "releasing one corpus dropped another's memos")
    val cached = spark.sparkContext.getRDDStorageInfo
      .filter(_.numCachedPartitions > 0).map(_.id).toSet
    assert(bigRdds.subsetOf(cached),
      s"the other corpus lost cached blocks: ${bigRdds -- cached}")
    NorthStar.releaseCaches(spark, big)
    assert(memos(big).isEmpty && (rdds intersect bigRdds).isEmpty)
  }

  test("release unpersists only what a memo's build persisted") {
    import org.apache.spark.storage.StorageLevel
    val dir = "/root/testdata/sf0.001"
    NorthStar.releaseCaches(spark, dir)
    // a plain table read and the 0.8 filter view over the persisted 0.6
    // pair table are memos their build did not persist; a caller that
    // caches them owns those caches
    val read = Queries.t(spark, dir, "region").cache()
    val view = NorthStar.queries("d03_jaccard_pairs")(spark, dir).cache()
    assert(read.count() > 0 && view.count() > 0)
    NorthStar.releaseCaches(spark, dir)
    assert(read.storageLevel != StorageLevel.NONE, "release unpersisted a plain read")
    assert(view.storageLevel != StorageLevel.NONE, "release unpersisted the filter view")
    read.unpersist(); view.unpersist()
  }

  test("the pair memos own their caches: histPairs and lshPairs build persisted, " +
       "release unpersists them") {
    import org.apache.spark.storage.StorageLevel
    val dir = "/root/testdata/sf0.001"
    NorthStar.releaseCaches(spark, dir)
    val memos = Seq("hist" -> NorthStar.histPairs(spark, dir),
      "lsh" -> NorthStar.lshPairs(spark, dir))
    for ((name, pairs) <- memos)
      assert(pairs.storageLevel != StorageLevel.NONE, s"$name: the memo build did not persist")
    NorthStar.releaseCaches(spark, dir)
    for ((name, pairs) <- memos)
      assert(pairs.storageLevel == StorageLevel.NONE, s"$name: release left it cached")
  }

  test("a memo survives connectedComponents: g09 leaves the co-order memo cached") {
    import org.apache.spark.storage.StorageLevel
    val dir = "/root/testdata/sf0.001"
    NorthStar.releaseCaches(spark, dir)
    SparkEntry.queries("g09_components")(spark, dir).count()
    assert(Queries.coOrderEdges(spark, dir, 46).storageLevel != StorageLevel.NONE,
      "g09 uncached the co-order memo it reads; g11 would rebuild it")
    NorthStar.releaseCaches(spark, dir)
  }
}

package graft

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.functions.{VectorFunctions => VF}
import graft.operators.AnnIndex
import graft.streaming.StreamingIngest

/**
 * Persistent ANN sketch-index artifact: build/load parity with the
 * in-session signatures, the pre-written-index probe path (s07 reads
 * the artifact, no in-session signature build), refresh-after-append
 * staleness contract, and the streaming gate bootstrapped from a
 * bulk-built artifact.
 */
class AnnIndexSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"

  test("build/load round-trip: artifact signatures equal in-session ones") {
    val root = Files.createTempDirectory("graft_annidx").toString
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    AnnIndex.build(emb, "vec_id", "embedding", dim = 64, path = s"$root/idx")
    val loaded = AnnIndex.load(spark, s"$root/idx")
      .select(col("vec_id"), col("sig"))
    val live = emb.select(col("vec_id"),
      VF.bitSignature(col("embedding"), 64, 512).as("sig"))
    assert(loaded.count() == emb.count())
    assert(loaded.exceptAll(live).count() == 0
      && live.exceptAll(loaded).count() == 0)
  }

  test("an empty build over an existing artifact throws and leaves the " +
       "artifact loading the same rows") {
    val root = Files.createTempDirectory("graft_annidx_empty").toString
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    AnnIndex.build(emb, "vec_id", "embedding", dim = 64, path = s"$root/idx")
    def rows = AnnIndex.load(spark, s"$root/idx")
      .select(col("vec_id"), col("sig"), col("_batch_id"))
      .as[(Long, Seq[Long], Long)].collect().toSet
    val before = rows
    assert(before.size == emb.count())
    intercept[IllegalArgumentException](AnnIndex.build(emb.filter(lit(false)),
      "vec_id", "embedding", dim = 64, path = s"$root/idx"))
    assert(rows == before, "a refused build must leave the artifact untouched")
  }

  test("s07 probes a PRE-WRITTEN index: same result, plan reads the " +
       "artifact, no in-session signature build") {
    val root = Files.createTempDirectory("graft_annidx_s07").toString
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    // pre-write the artifact a "previous session" would have built
    AnnIndex.build(emb, "vec_id", "embedding", dim = 64,
      path = s"$root/sig_b512")
    // baseline result with the default in-session signature path
    NorthStar.releaseCaches(spark, dir)
    val baseline = SparkEntry.queries("s07_ann_incremental")(spark, dir)
      .select(col("vec_id"), col("neighbor_id")).as[(Long, Long)]
      .collect().toSet
    // artifact path: clear the memo so sigTable re-resolves via the conf
    NorthStar.releaseCaches(spark, dir)
    spark.conf.set("spark.graft.annIndexDir", root)
    try {
      val viaIndex = SparkEntry.queries("s07_ann_incremental")(spark, dir)
      val plan = viaIndex.queryExecution.executedPlan.toString
      assert(plan.contains(root),
        s"expected the artifact scan under $root in:\n$plan")
      assert(!plan.contains("BitSignature"),
        "artifact path must not recompute signatures in-plan")
      assert(viaIndex.select(col("vec_id"), col("neighbor_id"))
        .as[(Long, Long)].collect().toSet == baseline)
    } finally {
      spark.conf.unset("spark.graft.annIndexDir")
      NorthStar.releaseCaches(spark, dir)
    }
  }

  test("refresh appends ONLY missing ids, preserves provenance, and a " +
       "second refresh is a no-op") {
    val root = Files.createTempDirectory("graft_annidx_rf").toString
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val part = emb.filter(col("vec_id") % 3 =!= 0)
    AnnIndex.build(part, "vec_id", "embedding", dim = 64, path = s"$root/idx")
    val before = AnnIndex.load(spark, s"$root/idx").count()
    val appended = AnnIndex.refresh(emb, "vec_id", "embedding", dim = 64,
      path = s"$root/idx")
    val after = AnnIndex.load(spark, s"$root/idx")
    assert(appended == emb.count() - before, "refresh must append the gap only")
    assert(after.count() == emb.count())
    // refreshed rows carry bulk provenance and correct signatures
    val live = emb.select(col("vec_id"),
      VF.bitSignature(col("embedding"), 64, 512).as("sig"))
    assert(after.select(col("vec_id"), col("sig")).exceptAll(live).count() == 0)
    assert(AnnIndex.refresh(emb, "vec_id", "embedding", dim = 64,
      path = s"$root/idx") == 0L, "idempotent refresh")
  }

  test("refresh rejects a signature-width mismatch instead of mixing families") {
    val root = Files.createTempDirectory("graft_annidx_w").toString
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    AnnIndex.build(emb, "vec_id", "embedding", dim = 64, path = s"$root/idx",
      nBits = 512)
    val ex = intercept[IllegalArgumentException] {
      AnnIndex.refresh(emb, "vec_id", "embedding", dim = 64,
        path = s"$root/idx", nBits = 256)
    }
    assert(ex.getMessage.contains("512-bit"))
  }

  test("cellAssignments: every vector gets exactly `probes` cells, all in " +
       "range, deterministically") {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val cells = graft.operators.AnnJoin
      .cellAssignments(emb, "vec_id", "embedding", 64, nCells = 16, probes = 3)
      .as[(Long, Int)].collect()
    val n = emb.count()
    assert(cells.length == n * 3)
    assert(cells.forall { case (_, c) => c >= 0 && c < 16 })
    cells.groupBy(_._1).foreach { case (id, cs) =>
      assert(cs.map(_._2).distinct.length == 3, s"vec $id cells not distinct")
    }
    val again = graft.operators.AnnJoin
      .cellAssignments(emb, "vec_id", "embedding", 64, nCells = 16, probes = 3)
      .as[(Long, Int)].collect()
    assert(cells.sorted.sameElements(again.sorted), "non-deterministic cells")
  }

  test("streaming gate bootstraps from a bulk-built artifact: index " +
       "near-dups drop, gate survivors land in the index") {
    val root = Files.createTempDirectory("graft_annidx_gate").toString
    val idx = s"$root/idx"
    def vec(seed: Int, noise: Double = 0.0): Array[Float] = {
      val r = new scala.util.Random(seed)
      val base = Array.fill(64)(r.nextGaussian())
      val rn = new scala.util.Random(seed + 1000)
      val v = base.map(x => x + noise * rn.nextGaussian())
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(x => (x / n).toFloat)
    }
    // bulk-build the index from a 3-vector "existing corpus"
    AnnIndex.build(Seq(1L -> vec(1), 2L -> vec(2), 3L -> vec(3))
      .toDF("vec_id", "embedding"), "vec_id", "embedding", 64, idx)
    // gate batch: a near-dup of indexed id 2 must drop, a novel vector
    // must survive and become an index row (the staleness contract)
    StreamingIngest.vectorDedupBatch(
      Seq(10L -> vec(2, 0.01), 11L -> vec(11)).toDF("vec_id", "embedding"),
      idx, 7L, 0.95, 64, 512, 32)
    val ids = AnnIndex.load(spark, idx)
      .select(col("vec_id")).as[Long].collect().toSet
    assert(ids == Set(1L, 2L, 3L, 11L))
    // the appended survivor is immediately probe-visible: a refresh sees
    // nothing missing for it
    assert(AnnIndex.refresh(Seq(11L -> vec(11)).toDF("vec_id", "embedding"),
      "vec_id", "embedding", 64, idx) == 0L)
  }

  test("bucketed gate probe (nCells) makes the same keep/drop decisions " +
       "as the brute probe") {
    val root = Files.createTempDirectory("graft_annidx_bkt").toString
    def vec(seed: Int, noise: Double = 0.0): Array[Float] = {
      val r = new scala.util.Random(seed)
      val base = Array.fill(64)(r.nextGaussian())
      val rn = new scala.util.Random(seed + 1000)
      val v = base.map(x => x + noise * rn.nextGaussian())
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(x => (x / n).toFloat)
    }
    // 20-vector index; batch = near-dups of 3 indexed vectors + 3 novels
    val corpus = (1 to 20).map(i => i.toLong -> vec(i)).toDF("vec_id", "embedding")
    val batch = (Seq(101L -> vec(3, 0.01), 102L -> vec(7, 0.01),
      103L -> vec(15, 0.01)) ++
      Seq(201L -> vec(201), 202L -> vec(202), 203L -> vec(203)))
      .toDF("vec_id", "embedding")
    // batch 2: a near-dup of a batch-1 SURVIVOR (201) and one more novel
    val batch2 = Seq(301L -> vec(201, 0.01), 302L -> vec(302))
      .toDF("vec_id", "embedding")
    def run(idx: String, nCells: Option[Int]): Set[Long] = {
      AnnIndex.build(corpus, "vec_id", "embedding", 64, idx)
      StreamingIngest.vectorDedupBatch(batch, idx, 5L, 0.95, 64, 512, 32,
        nCells, probes = 2)
      StreamingIngest.vectorDedupBatch(batch2, idx, 6L, 0.95, 64, 512, 32,
        nCells, probes = 2)
      AnnIndex.load(spark, idx).select(col("vec_id")).as[Long].collect().toSet
    }
    val brute = run(s"$root/brute", None)
    val bucketed = run(s"$root/bucketed", Some(8))
    assert(bucketed == brute, s"probe-mode divergence: brute=$brute bucketed=$bucketed")
    assert(brute == ((1L to 20L).toSet ++ Set(201L, 202L, 203L, 302L)),
      "near-dups of indexed vectors must drop, novels must land")
    // the bucketed mode's cell sidecar exists and covers the store
    val sidecar = spark.read.parquet(s"$root/bucketed_cells_n8")
    val storeIds = AnnIndex.load(spark, s"$root/bucketed")
      .select(col("vec_id")).as[Long].collect().toSet
    val coveredIds = sidecar.select(col("vec_id")).as[Long].collect().toSet
    assert(storeIds.subsetOf(coveredIds),
      s"sidecar missing cells for ${storeIds diff coveredIds}")
  }
}

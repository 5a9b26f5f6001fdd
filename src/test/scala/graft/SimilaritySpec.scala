package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.apache.spark.sql.functions._

import graft.functions.{VectorFunctions => VF}
import graft.operators.Dedup

/**
 * Similarity operators: the codegen'd DotProduct kernel, cosine top-k, and
 * the central recall law — prefix filtering and MinHash-LSH must reproduce
 * the brute-force Jaccard pairs EXACTLY on generated corpora with planted
 * near-duplicates.
 */
class SimilaritySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def check(prop: Prop, n: Int): Unit = {
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(n), prop)
    assert(res.passed, res.status.toString)
  }

  test("DotProduct equals the left-to-right scala fold, elementwise-exact") {
    val gen = Gen.listOfN(16, Gen.choose(-10.0, 10.0))
    check(Prop.forAll(gen, gen) { (a, b) =>
      val got = Seq((a, b)).toDF("a", "b")
        .select(VF.dot(col("a"), col("b"))).as[Double].head()
      var acc = 0.0
      a.zip(b).foreach { case (x, y) => acc += x * y }
      got == acc
    }, n = 10)
  }

  test("cosine self-similarity is 1 (within sqrt rounding) and symmetric") {
    val v = Seq((Seq(1.0, 2.0, 3.0), Seq(3.0, 2.0, 1.0)))
      .toDF("a", "b")
    val Array(selfA, ab, ba) = v.select(
      VF.cosine(col("a"), col("a")),
      VF.cosine(col("a"), col("b")),
      VF.cosine(col("b"), col("a"))).as[(Double, Double, Double)].collect()
      .map(t => Array(t._1, t._2, t._3)).head
    assert(math.abs(selfA - 1.0) < 1e-12)
    assert(ab == ba)
    assert(math.abs(ab - 10.0 / 14.0) < 1e-12)
  }

  test("cosineTopK returns the query vector itself first") {
    val vecs = (0 until 20).map(i =>
      (i.toLong, Array.tabulate(8)(j => math.sin(i * 8 + j).toFloat)))
    val df = vecs.toDF("vec_id", "embedding")
    val q = vecs(5)._2.map(_.toDouble).toSeq
    val top = VF.cosineTopK(df, "embedding", "vec_id", q, 3).collect()
    assert(top.head.getLong(0) == 5L)
    assert(math.abs(top.head.getDouble(1) - 1.0) < 1e-9)
  }

  /** Reference implementation of the 3-gram-shingle Jaccard over TF's
    * tokenization semantics, for brute-force ground truth. */
  private def shingleSet(tokens: List[String]): Set[String] =
    if (tokens.size < 3) Set(tokens.mkString(" "))
    else tokens.sliding(3).map(_.mkString(" ")).toSet

  private def brutePairs(docs: Seq[(Long, List[String])], t: Double): Set[(Long, Long, Double)] =
    (for {
      (ia, ta) <- docs; (ib, tb) <- docs if ia < ib
      sa = shingleSet(ta); sb = shingleSet(tb)
      inter = (sa & sb).size
      j = inter.toDouble / (sa.size + sb.size - inter)
      if j >= t
    } yield (ia, ib, j)).toSet

  test("law: PPJoin filters are exact at every threshold (0.5 / 0.7 / 0.9)") {
    // the length and positional filters cut differently at low vs high t
    // (low t → long prefixes, weak length bound; high t → the reverse);
    // recall must be perfect at all of them
    val genWithT = for {
      corpus <- corpusGen
      t <- Gen.oneOf(0.5, 0.7, 0.9)
    } yield (corpus, t)
    check(Prop.forAll(genWithT) { case (corpus, t) =>
      val docs = corpus.map { case (i, tks) => (i, tks.mkString(" ")) }
        .toDF("doc_id", "text")
      val got = Dedup.jaccardPairsExact(
          Dedup.shingleHashTable(docs, "doc_id", "text", 3), t)
        .as[(Long, Long, Double)].collect().toSet
      got == brutePairs(corpus, t)
    }, n = 9)
  }

  /** Corpus generator: base docs from a small vocab plus planted
    * near-duplicates (copy with 0-1 token edits) to guarantee J≥t pairs. */
  private val corpusGen: Gen[Seq[(Long, List[String])]] = for {
    nDocs <- Gen.choose(4, 10)
    base <- Gen.listOfN(nDocs,
      Gen.choose(8, 20).flatMap(len =>
        Gen.listOfN(len, Gen.oneOf((0 to 14).map(i => s"tok$i")))))
    dupOf <- Gen.choose(0, nDocs - 1)
    editPos <- Gen.choose(0, 7)
    mutate <- Gen.oneOf(true, false)
  } yield {
    val dup = if (mutate) base(dupOf).updated(editPos, "tokX") else base(dupOf)
    (base :+ dup).zipWithIndex.map { case (tks, i) => (i.toLong, tks.map(_.toString)) }
  }

  test("law: prefix-filter exact Jaccard pairs == brute force (guaranteed recall)") {
    check(Prop.forAll(corpusGen) { corpus =>
      val docs = corpus.map { case (i, tks) => (i, tks.mkString(" ")) }
        .toDF("doc_id", "text")
      val got = Dedup.jaccardPairsExact(
          Dedup.shingleHashTable(docs, "doc_id", "text", 3), 0.8)
        .as[(Long, Long, Double)].collect().toSet
      got == brutePairs(corpus, 0.8)
    }, n = 8)
  }

  private def bruteContainment(docs: Seq[(Long, List[String])],
                               t: Double): Set[(Long, Long, Double)] =
    (for {
      (ia, ta) <- docs; (ib, tb) <- docs if ia < ib
      sa = shingleSet(ta); sb = shingleSet(tb)
      inter = (sa & sb).size
      c = inter.toDouble / math.min(sa.size, sb.size)
      if c >= t
    } yield (ia, ib, c)).toSet

  test("law: containmentPairs == brute force, incl. planted sub-documents") {
    // plant a contiguous slice of an existing doc: containment vs its
    // source ≈ 1 even though Jaccard is small — the asymmetric case
    val genWithSub = for {
      corpus <- corpusGen
      subOf <- Gen.choose(0, 3)
      takeN <- Gen.choose(5, 9)
    } yield {
      val src = corpus(subOf % corpus.size)._2
      corpus :+ ((corpus.size.toLong, src.take(math.max(4, math.min(takeN, src.size)))))
    }
    check(Prop.forAll(genWithSub) { corpus =>
      val docs = corpus.map { case (i, tks) => (i, tks.mkString(" ")) }
        .toDF("doc_id", "text")
      val hs = Dedup.shingleHashTable(docs, "doc_id", "text", 3)
      val got = Dedup.containmentPairs(hs, 0.8)
        .as[(Long, Long, Double)].collect().toSet
      got == bruteContainment(corpus, 0.8)
    }, n = 8)
  }

  test("law: MinHash-LSH pairs == brute force on planted-duplicate corpora") {
    check(Prop.forAll(corpusGen) { corpus =>
      val docs = corpus.map { case (i, tks) => (i, tks.mkString(" ")) }
        .toDF("doc_id", "text")
      val got = Dedup.minhashLshPairs(
          Dedup.shingleHashTable(docs, "doc_id", "text", 3), 0.8,
          k = 128, bands = 32, estFloor = 0.6)
        .as[(Long, Long, Double)].collect().toSet
      got == brutePairs(corpus, 0.8)
    }, n = 5)
  }

  test("the pair engines build plain plans: no stage and no cache until the caller's action") {
    // docs 0/1 and 2/3 are exact twins: odd ids probe the even-id index
    val docs = Seq((0L, "a b c d e f g h"), (1L, "a b c d e f g h"),
      (2L, "p q r s t u v w"), (3L, "p q r s t u v w"), (4L, "x y z x y z"))
      .toDF("doc_id", "text")
    val hs = Dedup.shingleHashTable(docs, "doc_id", "text", 3).persist()
    val sc = spark.sparkContext
    try {
      assert(hs.count() == 5) // materialized: the builds below may not touch it
      val odd = hs.filter(col("doc_id") % 2 === 1)
      val even = hs.filter(col("doc_id") % 2 === 0)
      val engines = Seq[(String, () => org.apache.spark.sql.DataFrame)](
        "jaccardPairsExact" -> (() => Dedup.jaccardPairsExact(hs, 0.8)),
        "minhashLshPairs" -> (() => Dedup.minhashLshPairs(hs, 0.8,
          k = 128, bands = 32, estFloor = 0.6)),
        "minhashLshPairsAgainst" -> (() => Dedup.minhashLshPairsAgainst(odd, even,
          0.8, k = 128, bands = 32, estFloor = 0.6)))
      for ((name, build) <- engines) {
        val before = sc.getPersistentRDDs.keySet
        val (pairs, m) = Meter(spark).measure(name)(build())
        assert(m.stages.isEmpty, s"$name ran ${m.stages.size} stages while being built")
        assert(sc.getPersistentRDDs.keySet == before, s"$name persisted a table")
        assert(pairs.count() == 2, s"$name: the plan must still find both twin pairs")
      }
    } finally hs.unpersist()
  }

  test("e01 block-partitioned all-pairs == naive pair scan, with no cartesian/BNLJ") {
    val dir = "/root/testdata/sf0.001"
    val res = SparkEntry.queries("e01_embedding_neardup")(spark, dir)
    val got = res.as[(Long, Long, Double)].collect().toSet
    // naive triangular all-pairs ground truth (the formulation e01 replaced)
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"), VF.toDouble(col("embedding")).as("v"))
      .withColumn("nrm", sqrt(VF.normSq(col("v"))))
    val naive = e.as("a").join(e.as("b"), col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("id_a"), col("b.vec_id").as("id_b"),
        (VF.dot(col("a.v"), col("b.v")) / (col("a.nrm") * col("b.nrm"))).as("score"))
      .filter(col("score") >= 0.45)
      .as[(Long, Long, Double)].collect().toSet
    assert(got == naive)
    val plan = res.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"block-partitioned e01 must not plan a cartesian:\n$plan")
  }

  test("law: editDistancePairs equals brute-force bounded levenshtein") {
    // strings satisfying the recall contract (length ≥ k+1 so all
    // pigeonhole segments are non-empty): 60-90 chars over a 26-letter
    // alphabet, some mutated copies
    import org.scalacheck.Gen
    val baseGen = Gen.listOfN(8, Gen.listOfN(80, Gen.alphaLowerChar).map(_.mkString))
    val prop = Prop.forAll(baseGen, Gen.choose(0L, 999L)) { (bases, seed) =>
      val rnd = new scala.util.Random(seed)
      // each base plus a variant with 0..5 random substitutions/deletes
      val docs = bases.zipWithIndex.flatMap { case (b, i) =>
        val nEdits = rnd.nextInt(6)
        val chars = b.toBuffer
        (0 until nEdits).foreach { _ =>
          val p = rnd.nextInt(chars.length)
          if (rnd.nextBoolean()) chars(p) = ('a' + rnd.nextInt(26)).toChar
          else chars.remove(p)
        }
        Seq((i.toLong * 2, b), (i.toLong * 2 + 1, chars.mkString))
      }
      val k = 6
      val got = graft.operators.Dedup.editDistancePairs(
          docs.toDF("doc_id", "text"), "doc_id", "text", prefixLen = 100, maxDist = k)
        .as[(Long, Long, Int)].collect().toSet
      // reference: classic full DP levenshtein over all pairs
      def lev(a: String, b: String): Int = {
        val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
          if (i == 0) j else if (j == 0) i else 0
        }
        for (i <- 1 to a.length; j <- 1 to b.length)
          d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
            d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
        d(a.length)(b.length)
      }
      val expected = (for {
        (ia, ta) <- docs; (ib, tb) <- docs if ia < ib
        e = lev(ta.take(100), tb.take(100)) if e <= k
      } yield (ia, ib, e)).toSet
      got == expected
    }
    check(prop, 4)
  }

  test("lshBucket is deterministic and the s02 multiprobe contains the exact top hit") {
    val vecs = (0 until 30).map(i =>
      (i.toLong, Array.tabulate(16)(j => math.cos(i * 31 + j * 7).toFloat)))
    val df = vecs.toDF("vec_id", "embedding")
    val b1 = df.select(VF.lshBucket(col("embedding"), 16, 8)).as[Long].collect()
    val b2 = df.select(VF.lshBucket(col("embedding"), 16, 8)).as[Long].collect()
    assert(b1.toSeq == b2.toSeq)
    val q = vecs(7)._2.map(_.toDouble).toSeq
    val top = VF.cosineTopKLsh(df, "embedding", "vec_id", q, 1, dim = 16, planes = 8).collect()
    assert(top.head.getLong(0) == 7L) // own bucket always probed
  }

  test("hyperplanes and centroids are genuinely random (the raw-FNV " +
       "degeneracy stays fixed)") {
    // raw FNV bit 0 is input parity: every plane was ±one vector and
    // centroids duplicated. With Fnv.mixed, pairwise |cos| must sit
    // near 1/√dim ≈ 0.125, nowhere near collinear.
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val d = a.zip(b).map { case (x, y) => x * y }.sum
      d / math.sqrt(a.map(x => x * x).sum * b.map(x => x * x).sum)
    }
    val planes = (0 until 64).map(p => VF.planeArray(p, 64))
    val pc = for (i <- 0 until 64; j <- i + 1 until 64)
      yield math.abs(cos(planes(i), planes(j)))
    assert(pc.max < 0.8, s"plane |cos| max ${pc.max} — planes degenerate")
    assert(pc.sum / pc.size < 0.2, s"plane |cos| mean ${pc.sum / pc.size}")
    val cents = (0 until 16).map(c => VF.centroid(c, 64))
    val cc = for (i <- 0 until 16; j <- i + 1 until 16)
      yield math.abs(cos(cents(i), cents(j)))
    assert(cc.max < 0.6, s"centroid |cos| max ${cc.max} — centroids degenerate")
    assert(cc.sum / cc.size < 0.25, s"centroid |cos| mean ${cc.sum / cc.size}")
  }

  test("law: BitSignature packs exactly the plane-dot signs and " +
       "HammingSig counts exactly the sign disagreements") {
    val gen = Gen.listOfN(16, Gen.choose(-10.0, 10.0))
    val planes = (0 until 128).map(p => VF.planeArray(p, 16))
    check(Prop.forAll(gen, gen) { (a, b) =>
      def signs(v: List[Double]): Seq[Boolean] =
        planes.map(pl => v.zip(pl).map { case (x, w) => x * w }
          .foldLeft(0.0)(_ + _) >= 0)
      val df = Seq((a.map(_.toFloat).toArray, b.map(_.toFloat).toArray))
        .toDF("va", "vb")
        .select(VF.bitSignature(col("va"), 16, 128).as("sa"),
          VF.bitSignature(col("vb"), 16, 128).as("sb"))
      val row = df.select(col("sa"), col("sb"),
        VF.hammingSig(col("sa"), col("sb")).as("h")).head()
      val sa = row.getSeq[Long](0); val sb = row.getSeq[Long](1)
      val expWords = signs(a).grouped(64).map(_.zipWithIndex
        .foldLeft(0L) { case (acc, (s, i)) => if (s) acc | (1L << i) else acc })
        .toSeq
      val expHam = signs(a).zip(signs(b)).count { case (x, y) => x != y }
      Prop(sa == expWords) :| s"words $sa != $expWords" &&
        Prop(row.getLong(2) == expHam.toLong) :| s"ham ${row.getLong(2)} != $expHam"
    }, 30)
  }

  test("law: s06 sketch-cascade k-NN join recall >= 0.95 vs s04's exact " +
       "top-3 (measured on the harness corpus)") {
    val dir = "/root/testdata/sf0.001"
    val exact = SparkEntry.queries("s04_knn_join")(spark, dir)
      .select(col("vec_id"), col("neighbor_id"))
      .as[(Long, Long)].collect().toSet
    val approx = SparkEntry.queries("s06_ann_knn_join")(spark, dir)
      .select(col("vec_id"), col("neighbor_id"))
      .as[(Long, Long)].collect().toSet
    val recall = (exact & approx).size.toDouble / exact.size
    info(f"s06 recall vs exact s04 top-3: $recall%.4f (${exact.size} truths)")
    assert(recall >= 0.95, f"recall $recall%.4f below 0.95")
  }

  test("law: s13 matryoshka cascade recall >= 0.9 vs s01's full-width " +
       "top-10 (measured on the harness corpus)") {
    val dir = "/root/testdata/sf0.001"
    val exact = SparkEntry.queries("s01_cosine_topk")(spark, dir)
      .select(col("vec_id")).as[Long].collect().toSet
    val got = SparkEntry.queries("s13_matryoshka_topk")(spark, dir)
      .select(col("vec_id")).as[Long].collect().toSet
    val recall = (exact & got).size.toDouble / exact.size
    info(f"s13 recall vs full-width s01 top-10: $recall%.4f")
    assert(recall >= 0.9, f"recall $recall%.4f below 0.9")
  }

  test("law: s12 in-batch negatives — bounded batches, single batch per " +
       "vector, cross-label only, scores exactly the pinned cosine fold") {
    val dir = "/root/testdata/sf0.001"
    val out = SparkEntry.queries("s12_inbatch_negatives")(spark, dir)
      .as[(Long, Long, Long, Double)].collect()
    // pair manifest is duplicate-free and anchor < negative
    assert(out.length == out.map(r => (r._1, r._2, r._3)).distinct.length)
    assert(out.forall(r => r._2 < r._3))
    // each vector lives in exactly ONE batch, and batches hold <= 32
    val membership = out.flatMap(r => Seq((r._2, r._1), (r._3, r._1))).distinct
    val perVec = membership.groupBy(_._1).values.map(_.length)
    assert(perVec.forall(_ == 1), "a vector appeared in two batches")
    val perBatch = membership.groupBy(_._2).values.map(_.length)
    assert(perBatch.forall(_ <= 32))
    // negatives must cross labels, and every score is the left-to-right
    // cosine fold recomputed driver-side — bit-exact
    val meta = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"), col("label"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
      .as[(Long, Int, Seq[Double])].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    def cos(a: Seq[Double], b: Seq[Double]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0
      a.zip(b).foreach { case (x, y) => dot += x * y }
      a.foreach(x => na += x * x); b.foreach(y => nb += y * y)
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    out.foreach { case (_, aId, bId, score) =>
      val (la, va) = meta(aId); val (lb, vb) = meta(bId)
      assert(la != lb, s"same-label pair ($aId, $bId)")
      assert(score == cos(va, vb), s"score drift on ($aId, $bId)")
    }
    // the manifest is COMPLETE: per batch, every cross-label ordered
    // pair of co-batched vectors is present
    val byBatch = membership.groupBy(_._2)
    val expected = byBatch.map { case (_, ms) =>
      val ids = ms.map(_._1)
      ids.combinations(2).count(p =>
        meta(p.min)._1 != meta(p.max)._1)
    }.sum
    assert(out.length == expected)
  }

  test("law: s10 bucketed k-NN join on a CLUSTERED corpus: recall >= 0.95 " +
       "vs brute-force top-3 at candidate fraction << 1") {
    // 64 tight gaussian clusters of 32 members (the realistic embedding
    // profile: topics/templates/sources) — the corpus shape where coarse
    // cells prune the pair space; isotropic corpora are s06's domain
    val nClusters = 64; val perCluster = 32; val dim = 64
    val n = nClusters * perCluster
    val rnd = new scala.util.Random(9001)
    def unit(): Array[Double] = {
      val g = Array.fill(dim)(rnd.nextGaussian())
      val nm = math.sqrt(g.map(x => x * x).sum)
      g.map(_ / nm)
    }
    val centers = Array.fill(nClusters)(unit())
    val vecs: Array[(Long, Array[Float])] = Array.tabulate(n) { i =>
      val c = centers(i % nClusters)
      val u = unit()
      val raw = Array.tabulate(dim)(j => c(j) + 0.2 * u(j))
      val nm = math.sqrt(raw.map(x => x * x).sum)
      (i.toLong, raw.map(x => (x / nm).toFloat))
    }
    val df = vecs.toSeq.toDF("vec_id", "embedding").repartition(8)
    // candidate fraction: co-resident pairs over the full pair space
    val nCells = 32; val probes = 2
    val cells = graft.operators.AnnJoin
      .cellAssignments(df, "vec_id", "embedding", dim, nCells, probes)
    val nCand = graft.operators.AnnJoin.candidatePairs(cells).count()
    val fraction = nCand.toDouble / (n.toDouble * (n - 1) / 2)
    info(f"s10 candidate fraction: $fraction%.4f ($nCand of ${n.toLong * (n - 1) / 2} pairs)")
    assert(fraction < 0.2, f"cells prune nothing: fraction $fraction%.4f")
    // recall vs driver-side brute-force exact top-3
    val ds = vecs.map { case (id, v) => id -> v.map(_.toDouble) }.toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i) }
      d / math.sqrt(na * nb)
    }
    val exact = ds.keys.flatMap { q =>
      ds.keys.filter(_ != q).map(m => (m, cos(ds(q), ds(m))))
        .toSeq.sortBy { case (m, s) => (-s, m) }.take(3)
        .map { case (m, _) => (q, m) }
    }.toSet
    val sig = df.select(col("vec_id"),
      VF.bitSignature(col("embedding"), dim, 512).as("sig"))
    val got = graft.operators.AnnJoin
      .bucketedKnnJoin(df, sig, "vec_id", "embedding", dim, nCells, probes,
        cands = 96, k = 3)
      .select(col("vec_id"), col("neighbor_id")).as[(Long, Long)].collect().toSet
    val recall = (exact & got).size.toDouble / exact.size
    info(f"s10 recall vs brute-force top-3: $recall%.4f (${exact.size} truths)")
    assert(recall >= 0.95, f"recall $recall%.4f below 0.95")

    // s11 retrieval shape on the SAME clustered corpus: 10% of rows are
    // the query side, the rest the index; recall vs brute-force
    // queries-x-index top-3 at the same bucketed-candidate pruning
    val qIds = ds.keys.filter(_ % 10 == 0).toSet
    val exactQI = qIds.flatMap { q =>
      ds.keys.filter(m => !qIds(m)).map(m => (m, cos(ds(q), ds(m))))
        .toSeq.sortBy { case (m, s) => (-s, m) }.take(3)
        .map { case (m, _) => (q, m) }
    }
    val qDf = df.filter(col("vec_id") % 10 === 0)
    val iDf = df.filter(col("vec_id") % 10 =!= 0)
    val gotQI = graft.operators.AnnJoin
      .bucketedKnnJoinAgainst(qDf, iDf,
        sig.join(qDf.select(col("vec_id")), Seq("vec_id"), "left_semi"),
        sig.join(iDf.select(col("vec_id")), Seq("vec_id"), "left_semi"),
        "vec_id", "embedding", dim, nCells, probes, cands = 96, k = 3)
      .select(col("vec_id"), col("neighbor_id")).as[(Long, Long)].collect()
    assert(gotQI.forall(p => qIds(p._1)), "retrieval emitted a non-query id")
    assert(gotQI.forall(p => !qIds(p._2)), "retrieval matched a query-side id")
    val recallQI = (exactQI & gotQI.toSet).size.toDouble / exactQI.size
    info(f"s11 recall vs brute-force queries-x-index top-3: $recallQI%.4f " +
      s"(${exactQI.size} truths)")
    assert(recallQI >= 0.95, f"s11 recall $recallQI%.4f below 0.95")
  }

  test("e11 semantic decontamination is SOUND: every flag is a real " +
       "above-threshold train-vs-eval cosine, correctly labeled") {
    val dir = "/root/testdata/sf0.001"
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"), VF.toDouble(col("embedding")).as("v"), col("label"))
      .collect()
      .map(r => r.getLong(0) -> (r.getSeq[Double](1).toArray, r.getInt(2)))
      .toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i) }
      d / math.sqrt(na * nb)
    }
    val flags = SparkEntry.queries("e11_semantic_decontam")(spark, dir)
      .as[(Long, Long, Double)].collect()
    assert(flags.nonEmpty, "expected contaminated rows on this corpus")
    flags.foreach { case (vid, eid, score) =>
      assert(e(vid)._2 != 0, s"flagged vec $vid is itself an eval vector")
      assert(e(eid)._2 == 0, s"matched 'eval' vector $eid is not label 0")
      val truth = cos(e(vid)._1, e(eid)._1)
      assert(math.abs(truth - score) < 1e-9, s"score $score vs true cosine $truth")
      assert(score >= 0.35, s"below-threshold flag $score")
    }
    // no duplicate flags: k=1 emits at most one row per train vector
    assert(flags.map(_._1).distinct.length == flags.length)
    NorthStar.releaseCaches(spark, dir)
  }

  test("law: s07 incremental probe recall >= 0.95 vs the brute-force " +
       "arrival-vs-index top-3, and probes emit ONLY arrivals") {
    val dir = "/root/testdata/sf0.001"
    val spark2 = spark
    import org.apache.spark.sql.functions.col
    val e = spark2.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"), VF.toDouble(col("embedding")).as("v")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i) }
      d / math.sqrt(na * nb)
    }
    val idx = e.keys.filter(_ % 100 != 0).toSeq
    val exact = e.keys.filter(_ % 100 == 0).flatMap { q =>
      idx.map(n => (q, n, cos(e(q), e(n))))
        .sortBy { case (_, n, s) => (-s, n) }.take(3).map { case (q2, n, _) => (q2, n) }
    }.toSet
    val got = SparkEntry.queries("s07_ann_incremental")(spark2, dir)
      .select(col("vec_id"), col("neighbor_id")).as[(Long, Long)].collect()
    assert(got.forall(_._1 % 100 == 0), "probe emitted a non-arrival query id")
    assert(got.forall(_._2 % 100 != 0), "probe matched against an arrival, not the index")
    val recall = (exact & got.toSet).size.toDouble / exact.size
    info(f"s07 recall vs brute-force arrival-vs-index top-3: $recall%.4f (${exact.size} truths)")
    assert(recall >= 0.95, f"recall $recall%.4f below 0.95")
  }

  test("law: s08 PQ-ADC rerank matches s01's exact top-10 at sf0.001 and sf0.01") {
    for (dir <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")) {
      val exact = SparkEntry.queries("s01_cosine_topk")(spark, dir)
        .select(col("vec_id")).as[Long].collect().toSet
      val got = SparkEntry.queries("s08_pq_adc_topk")(spark, dir)
        .select(col("vec_id")).as[Long].collect().toSet
      val recall = (exact & got).size.toDouble / exact.size
      info(f"$dir s08 recall@10 vs exact: $recall%.2f")
      assert(recall >= 0.95, f"$dir recall $recall%.2f below 0.95")
    }
  }

  // ---- duplicateSpans (d15): planted spans + brute-force law ----------

  /** Reference implementation of the d15 definition: start positions
    * whose k-gram (space-joined, lowercased tokens) occurs >1 time in
    * the corpus, merged per doc while the gap between starts is ≤ k. */
  private def bruteSpans(docs: Seq[(Long, String)], k: Int): Set[(Long, Long, Long, Long)] = {
    val toks = docs.map { case (id, t) =>
      id -> t.trim.toLowerCase.split("\\s+").toSeq.filter(_.nonEmpty) }
    val counts = toks.flatMap { case (_, t) =>
      t.sliding(k).filter(_.size == k).map(_.mkString(" ")) }
      .groupBy(identity).map { case (g, o) => g -> o.size }
    toks.flatMap { case (id, t) =>
      val dupPos = t.sliding(k).zipWithIndex
        .collect { case (g, i) if g.size == k && counts(g.mkString(" ")) > 1 => i + 1 }
        .toSeq
      val islands = dupPos.foldLeft(List.empty[List[Int]]) {
        case (acc @ (cur :: rest), p) if p - cur.head <= k => (p :: cur) :: rest
        case (acc, p) => List(p) :: acc
      }
      islands.map { isl =>
        (id, isl.min.toLong, isl.max.toLong + k - 1, (isl.max + k - isl.min).toLong) }
    }.toSet
  }

  private def gotSpans(docs: Seq[(Long, String)], k: Int): Set[(Long, Long, Long, Long)] =
    Dedup.duplicateSpans(docs.toDF("doc_id", "text"), "doc_id", "text", k)
      .as[(Long, Long, Long, Long)].collect().toSet

  test("duplicateSpans finds exactly the planted cross-doc span in both docs") {
    val shared = (1 to 6).map(i => s"sh$i").mkString(" ")
    val docs = Seq(
      1L -> s"u11 u12 u13 $shared u14 u15 u16",
      2L -> s"$shared u21 u22 u23 u24")
    // doc1: dup 4-gram starts 4,5,6 → span tokens 4..9; doc2: 1,2,3 → 1..6
    assert(gotSpans(docs, 4) === Set((1L, 4L, 9L, 6L), (2L, 1L, 6L, 6L)))
  }

  test("duplicateSpans flags a WITHIN-doc repeat and keeps separated islands apart") {
    val docs = Seq(3L -> "r1 r2 r3 r4 x1 x2 x3 x4 x5 r1 r2 r3 r4")
    // the 4-gram at 1 and 10 repeats; gap 9 > 4 → two maximal spans
    assert(gotSpans(docs, 4) === Set((3L, 1L, 4L, 4L), (3L, 10L, 13L, 4L)))
  }

  test("duplicateSpans merges TOUCHING duplicated grams into one span") {
    val docs = Seq(
      4L -> "a1 a2 a3 a4 b1 b2 b3 b4",
      5L -> "a1 a2 a3 a4 z1 z2 z3 z4",
      6L -> "y1 y2 y3 y4 b1 b2 b3 b4")
    // doc4's dup starts are 1 and 5 (gap = k) → one merged span 1..8
    val got = gotSpans(docs, 4)
    assert(got.contains((4L, 1L, 8L, 8L)), s"doc4 span not merged: $got")
    assert(got === bruteSpans(docs, 4))
  }

  test("law: duplicateSpans equals the brute-force definition on random small-vocab corpora") {
    val word = Gen.oneOf("alpha", "beta", "gamma", "delta", "eps", "zeta")
    val doc = Gen.choose(8, 20).flatMap(n => Gen.listOfN(n, word)).map(_.mkString(" "))
    val corpus = Gen.choose(2, 8).flatMap(n => Gen.listOfN(n, doc))
      .map(_.zipWithIndex.map { case (t, i) => (i.toLong, t) })
    check(Prop.forAll(corpus) { docs =>
      gotSpans(docs, 3) == bruteSpans(docs, 3)
    }, 20)
  }

  test("e08 JL projection: exact plane-fold replay; pairwise sq-distance ratio ≈ 1") {
    val dir = "/root/testdata/sf0.001"
    def dotL(a: Seq[Double], b: Seq[Double]): Double = {
      var acc = 0.0; var i = 0
      while (i < a.length) { acc += a(i) * b(i); i += 1 }; acc
    }
    val vecs = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"), VF.toDouble(col("embedding")).as("v"))
      .as[(Long, Seq[Double])].collect().sortBy(_._1)
    val planes = (0 until 16).map(p => VF.planeArray(p, 64).toSeq)
    val expected = vecs.map { case (id, v) =>
      id -> planes.map(pl => dotL(v, pl) * 0.25)
    }.toMap
    val got = SparkEntry.queries("e08_jl_projection")(spark, dir).collect()
      .map(r => r.getLong(0) -> (1 to 16).map(r.getDouble).toSeq).toMap
    assert(got.keySet == expected.keySet)
    got.foreach { case (id, p) => assert(p == expected(id), s"vec $id") }
    // JL guarantee (unbiased Rademacher projection): the mean over all
    // pairs of ||proj(a)-proj(b)||² / ||a-b||² concentrates near 1
    def sqDist(a: Seq[Double], b: Seq[Double]): Double =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    val ratios = for {
      (ia, va) <- vecs.toSeq; (ib, vb) <- vecs.toSeq if ia < ib
    } yield sqDist(expected(ia), expected(ib)) / sqDist(va, vb)
    val mean = ratios.sum / ratios.size
    assert(mean > 0.7 && mean < 1.3, s"mean distance-preservation ratio $mean")
  }
}

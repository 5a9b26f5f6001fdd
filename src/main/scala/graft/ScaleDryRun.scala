package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}

/**
 * Scale dry-run (round-5 item 3, extended round 6): materialize synthetic
 * corpora Rx the size of sf0.1 with the SAME statistics — documents drawn
 * from the source corpus's empirical unigram/length distributions with
 * the same planted near-dup rate, embeddings as seeded unit-normalized
 * gaussians (the source profile: isotropic unit vectors) — as parquet
 * dirs with the harness layout, then run the REAL harness queries against
 * 1x and Rx and report wall times AND total shuffle-write bytes (the
 * budget that actually binds on a cluster). Results land in SCALE.md.
 *
 * Modes (4th CLI arg):
 *  - `dedup` (default): the dedup/k-NN tier at the given factor. At
 *    factor >= 100 the all-pairs k-NN joins (s04/s06) are dropped —
 *    that infeasibility is the point; the bucketed join (`clustered`
 *    mode) is the form that carries that scale.
 *  - `clustered`: the s10 bucketed ANN study on CLUSTERED corpora
 *    (fixed cluster size, cluster count grows with n, nCells scaled
 *    ~n/64): candidate count growth across 1x/10x/30x vs the n^2 pair
 *    space, recall vs the exact join, and wall vs the all-pairs sketch
 *    cascade at 10x.
 *
 * The document corpus keeps the source's ~30-word vocabulary on
 * purpose: growing the doc count under a FIXED vocabulary is the
 * adversarial direction for shingle-based candidate generation (every
 * shingle's document frequency grows with the corpus) — a
 * disjoint-vocabulary replication would flatter the numbers.
 *
 * Generation is seeded (run i is identical every time) and CACHED: a
 * corpus dir whose parquet already exists (`_SUCCESS` marker) is reused,
 * so the 100x run does not pay generation twice.
 */
object ScaleDryRun {

  private def time[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Rx documents with source-corpus word/length/near-dup statistics. */
  def synthesizeDocs(spark: SparkSession, srcDir: String, factor: Int,
                     plantedDupRate: Double = 0.01): DataFrame = {
    import spark.implicits._
    val src = spark.read.parquet(s"$srcDir/documents.parquet")
      .select(col("text"), col("lang"), col("source")).collect()
    val texts = src.map(_.getString(0))
    val langs = src.map(_.getString(1))
    val sources = src.map(_.getString(2))
    val words = texts.flatMap(_.split("\\s+")).filter(_.nonEmpty)
    val lens = texts.map(_.split("\\s+").count(_.nonEmpty))
    val n = texts.length * factor
    val rnd = new scala.util.Random(4242)
    val rows = scala.collection.mutable.ArrayBuffer.empty[(Long, String, String, String)]
    var id = 0L
    var i = 0
    while (i < n) {
      val len = lens(rnd.nextInt(lens.length))
      val body = Array.fill(len)(words(rnd.nextInt(words.length))).mkString(" ")
      rows += ((id, body, langs(rnd.nextInt(langs.length)),
        sources(rnd.nextInt(sources.length))))
      id += 1
      if (rnd.nextDouble() < plantedDupRate) {
        // planted near-dup: same doc with one word swapped (J well above
        // the 0.8 threshold at these lengths)
        val toks = body.split(" ")
        toks(rnd.nextInt(toks.length)) = words(rnd.nextInt(words.length))
        rows += ((id, toks.mkString(" "), langs(rnd.nextInt(langs.length)),
          sources(rnd.nextInt(sources.length))))
        id += 1
      }
      i += 1
    }
    rows.toSeq.toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")).cast("int"))
      .repartition(32)
  }

  /** Rx embeddings: seeded unit-normalized gaussians, source labels. */
  def synthesizeEmbeddings(spark: SparkSession, srcDir: String,
                           factor: Int): DataFrame = {
    import spark.implicits._
    val src = spark.read.parquet(s"$srcDir/embeddings.parquet")
    val labels = src.select(col("label")).as[Int].collect()
    val n = labels.length * factor
    val dim = 64
    val rnd = new scala.util.Random(2424)
    val rows = (0 until n).map { i =>
      val v = Array.fill(dim)(rnd.nextGaussian().toFloat)
      val nrm = math.sqrt(v.map(x => x.toDouble * x).sum).toFloat
      (i.toLong, v.map(_ / nrm), labels(rnd.nextInt(labels.length)))
    }
    rows.toDF("vec_id", "embedding", "label").repartition(32)
  }

  /**
   * CLUSTERED embeddings — the realistic large-corpus profile (topics /
   * templates / sources): fixed-size tight gaussian clusters, cluster
   * COUNT grows with n (bigger corpora have more content modes, not
   * fatter ones). Distributed generation (one task group per cluster
   * range), seeded per (cluster, member) so any n prefix-agrees.
   */
  def synthesizeClusteredEmbeddings(spark: SparkSession, n: Long,
                                    perCluster: Int = 32,
                                    dim: Int = 64): DataFrame = {
    import spark.implicits._
    val nClusters = n / perCluster
    def unit(r: scala.util.Random): Array[Double] = {
      val g = Array.fill(dim)(r.nextGaussian())
      val nm = math.sqrt(g.map(x => x * x).sum)
      g.map(_ / nm)
    }
    spark.range(nClusters).repartition(32).as[Long].flatMap { c =>
      val center = unit(new scala.util.Random(77000L + c))
      (0 until perCluster).map { i =>
        val u = unit(new scala.util.Random(c * 100003L + i))
        val raw = Array.tabulate(dim)(j => center(j) + 0.2 * u(j))
        val nm = math.sqrt(raw.map(x => x * x).sum)
        (c * perCluster + i, raw.map(x => (x / nm).toFloat), (c % 10).toInt)
      }
    }.toDF("vec_id", "embedding", "label")
  }

  /** Candidate-pair count of the banded LSH join (sum of C(m,2) over
    * (band, bandhash) buckets — what the equi-join materializes before
    * the estimate/verify stages). */
  private def lshCandidates(hs: DataFrame, k: Int, bands: Int): Long = {
    import graft.functions.{TextFunctions => TF}
    hs.select(col("doc_id"),
        posexplode(TF.lshBandHashes(TF.minhashFromHashes(col("hs"), k), k, bands))
          .as(Seq("band", "bh")))
      .groupBy(col("band"), col("bh")).agg(count(lit(1)).as("m"))
      .agg(sum(expr("m * (m - 1) div 2"))).head().getLong(0)
  }

  /** Banding-math prediction: E[candidates] = Σ_pairs P(cand | J(pair)),
    * P = 1-(1-J^r)^bands, estimated from a seeded sample of pairs. */
  private def predictedCandidates(hs: DataFrame, k: Int, bands: Int,
                                  totalPairs: Double): Double = {
    val r = k / bands
    val ic = graft.functions.Hashing.sortedIntersectCount(col("ha"), col("hb"))
    val a = hs.select(col("doc_id").as("ia"), col("hs").as("ha"))
      .orderBy(rand(7)).limit(400)
    val b = hs.select(col("doc_id").as("ib"), col("hs").as("hb"))
      .orderBy(rand(13)).limit(400)
    val mean = a.crossJoin(b).filter(col("ia") < col("ib"))
      .select((ic.cast("double") /
        (size(col("ha")) + size(col("hb")) - ic)).as("j"))
      .select(avg(lit(1.0) - pow(lit(1.0) - pow(col("j"), lit(r.toDouble)),
        lit(bands.toDouble))))
      .head().getDouble(0)
    mean * totalPairs
  }

  /** Total shuffle-write bytes across all completed stages — the
    * cluster-side budget that binds at 100 TB. Read as deltas around
    * each measured action (stage-completion events land before the
    * blocking action returns for all stages the action waited on). */
  private final class ShuffleMeter(spark: SparkSession) {
    private val bytes = new java.util.concurrent.atomic.AtomicLong(0L)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit =
        bytes.addAndGet(sc.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten)
    })
    def measure[T](body: => T): (T, Double, Long) = {
      // brief settle so async stage events from the PREVIOUS action
      // don't bleed into this window
      Thread.sleep(300)
      val start = bytes.get()
      val (r, t) = time(body)
      Thread.sleep(300)
      (r, t, bytes.get() - start)
    }
  }

  private def fmtBytes(b: Long): String =
    if (b >= (1L << 30)) f"${b / (1L << 30).toDouble}%.2f GiB"
    else if (b >= (1L << 20)) f"${b / (1L << 20).toDouble}%.1f MiB"
    else f"${b / 1024.0}%.1f KiB"

  /** Generate-if-absent: parquet dirs are cached by path (the factor is
    * in the path), keyed on the _SUCCESS marker. */
  private def materialize(spark: SparkSession, path: String)
                         (gen: => DataFrame): Unit = {
    if (!new java.io.File(s"$path/_SUCCESS").exists()) {
      val (_, t) = time(gen.write.mode("overwrite").parquet(path))
      println(s"-- generated $path in ${t.round} s")
    } else println(s"-- reusing cached $path")
  }

  /** Replicate the sf co-order graph `factor`-x as disjoint copies
    * (vertex ids offset per copy) — shared by wave7/wave8. Refuses an
    * empty source edge set with a clear message instead of an opaque
    * NPE off the null max aggregate. */
  private def replicateCoOrder(spark: SparkSession, srcDir: String,
                               minQty: Int, factor: Int, path: String): Unit =
    materialize(spark, path) {
      val e1 = graft.Queries.coOrderEdges(spark, srcDir, minQty)
      val maxCell = e1.agg(greatest(max(col("u")), max(col("v")))).first()
      require(!maxCell.isNullAt(0),
        s"cannot replicate: coOrderEdges($srcDir, minQty=$minQty) is empty")
      val off = maxCell.getAs[Number](0).longValue + 1L
      e1.select(col("u").cast("long").as("u"), col("v").cast("long").as("v"),
          explode(sequence(lit(0L), lit(factor - 1L))).as("c"))
        .select((col("u") + col("c") * off).as("u"),
                (col("v") + col("c") * off).as("v"))
    }

  /** Persisted-RDD count + cached bytes — the storage-flatness probe. */
  private def storageSummary(spark: SparkSession): String = {
    val info = spark.sparkContext.getRDDStorageInfo
    s"${info.length} RDDs / ${fmtBytes(info.map(i => i.memSize + i.diskSize).sum)}"
  }

  private def dedupMode(spark: SparkSession, srcDir: String, factor: Int,
                        workDir: String): Unit = {
    val synthDir = s"$workDir/${factor}x"
    materialize(spark, s"$synthDir/documents.parquet")(
      synthesizeDocs(spark, srcDir, factor))
    materialize(spark, s"$synthDir/embeddings.parquet")(
      synthesizeEmbeddings(spark, srcDir, factor))

    // Quadratic-by-design ops measured to their cliff and then excluded
    // at factor >= 100 — the honest finding, with the sub-quadratic
    // substitute named: s04/s06 touch all vector pairs (the bucketed
    // s10 carries clustered corpora — clustered mode); d03's EXACT
    // prefix-filter join is adversarially defeated by this corpus's
    // FIXED 30-word vocabulary (every prefix token's df ~ n/30, so
    // candidates ~ Σ df² grow quadratically — a measured 100x attempt
    // wrote > 86 GiB of shuffle before exhausting tmpfs). d04's MinHash
    // banding is the sub-quadratic substitute at that corpus shape, and
    // ITS recall-vs-d03 parity is law-tested at 1x/10x where d03 is
    // feasible.
    // (d13's verdict pipeline embeds the same exact pair join — at
    // factor >= 100 it runs below in its production form instead: the
    // LSH pair stage, recall-parity-tested where both are feasible)
    val quadratic = Seq("s04_knn_join", "s06_ann_knn_join",
      "d03_jaccard_pairs", "d13_dedup_verdict")
    val ops = Seq("d03_jaccard_pairs", "d04_minhash_lsh",
      "d14_incremental_neardup", "d13_dedup_verdict", "d15_span_dedup",
      "s04_knn_join", "s06_ann_knn_join", "s08_pq_adc_topk",
      "e07_semdedup", "e08_jl_projection", "t23_ngram_novelty",
      "m05_image_phash", "s09_hybrid_rrf")
      .filterNot(op => factor >= 100 && quadratic.contains(op))
    if (factor >= 100)
      println(s"-- factor ${factor}: skipping ${quadratic.mkString("/")} " +
        "(quadratic by design at this corpus shape; substitutes: s10 bucketed " +
        "join [clustered mode], d04 MinHash-LSH banding)")

    val meter = new ShuffleMeter(spark)
    println("| corpus | operator | output rows | wall s | shuffle write |")
    println("|---|---|---|---|---|")
    for ((label, dir) <- Seq((s"$srcDir (1x)", srcDir), (s"${factor}x", synthDir))) {
      for (op <- ops) {
        val (rows, t, sb) = meter.measure(SparkEntry.queries(op)(spark, dir).count())
        println(f"| $label | $op | $rows | $t%.1f | ${fmtBytes(sb)} |")
      }
      if (factor >= 100) {
        // the verdict pipeline in its at-scale form: LSH pair stage
        val docsDf = spark.read.parquet(s"$dir/documents.parquet")
        val (n2, t2, sb2) = meter.measure(
          graft.pipeline.CorpusPipeline.run(docsDf, lshPairs = true)
            .corpus.count())
        println(f"| $label | d13 pipeline (LSH pair stage) | $n2 | $t2%.1f " +
          f"| ${fmtBytes(sb2)} |")
      }
      val docs = spark.read.parquet(s"$dir/documents.parquet")
      val nDocs = docs.count()
      val hs = graft.operators.Dedup
        .shingleHashTable(docs, "doc_id", "text", 3).persist()
      hs.count()
      val (cand, _) = time(lshCandidates(hs, 128, 32))
      val pred = predictedCandidates(hs, 128, 32, nDocs.toDouble * (nDocs - 1) / 2)
      println(s"| $label | LSH candidate pairs (measured vs banding-math) " +
        s"| $cand vs ${pred.toLong} | - | - |")
      hs.unpersist()
      NorthStar.releaseCaches(spark, dir)
    }
  }

  /** The s10 bucketed-ANN clustered study: candidate growth, recall vs
    * exact, wall vs the all-pairs sketch cascade. `factor >= 100` adds
    * the 100× point (204,800 vectors) to the candidate-growth curve —
    * the scale where the all-pairs cascade (s06: 21 G pair-hammings)
    * stops being runnable on one box at all. */
  private def clusteredMode(spark: SparkSession, workDir: String,
                            factor: Int): Unit = {
    import graft.functions.{VectorFunctions => VF}
    import graft.operators.AnnJoin
    // probes=3: at scaled nCells a tight cluster near a 3-way Voronoi
    // boundary splits across cells; the third probe recovers those pairs
    // (measured: recall 0.946 -> over the 0.95 bar at n=20k) for a ~1.5x
    // candidate cost that leaves the fraction well under 1e-1
    val dim = 64; val perCluster = 32; val probes = 3
    val meter = new ShuffleMeter(spark)
    // 1x/10x/30x of sf0.1's 2,000-vector scale; nCells ~ n/64 keeps the
    // expected cell population constant — the knob a production corpus
    // turns as it grows
    val sizes = Seq(2048L, 20480L, 61440L) ++
      (if (factor >= 100) Seq(204800L) else Nil)
    println("| n (clustered) | nCells | candidates | pair space | fraction " +
      "| cand/n | s10 wall s | s10 shuffle |")
    println("|---|---|---|---|---|---|---|---|")
    val dirs = sizes.map { n =>
      val dir = s"$workDir/clustered_$n"
      materialize(spark, s"$dir/embeddings.parquet")(
        synthesizeClusteredEmbeddings(spark, n, perCluster, dim))
      dir
    }
    for ((n, dir) <- sizes.zip(dirs)) {
      val emb = spark.read.parquet(s"$dir/embeddings.parquet")
      val nCells = (n / 64).toInt.max(16)
      val cells = AnnJoin.cellAssignments(emb, "vec_id", "embedding",
        dim, nCells, probes)
      val nCand = AnnJoin.candidatePairs(cells).count()
      val pairSpace = n.toDouble * (n - 1) / 2
      val sig = emb.select(col("vec_id"),
        VF.bitSignature(col("embedding"), dim, 512).as("sig")).persist()
      sig.count()
      val (rows, t, sb) = meter.measure(
        AnnJoin.bucketedKnnJoin(emb, sig, "vec_id", "embedding",
          dim, nCells, probes, cands = 96, k = 3).count())
      println(f"| $n | $nCells | $nCand | ${pairSpace.toLong} " +
        f"| ${nCand / pairSpace}%.5f | ${nCand.toDouble / n}%.1f " +
        f"| $t%.1f | ${fmtBytes(sb)} |")
      sig.unpersist()
    }
    // retrieval shape (s11) at the LARGEST corpus: 10% query side vs
    // 90% index side — the batch-RAG probe a training pipeline runs
    {
      val nL = sizes.last; val dirL = dirs.last
      val embL = spark.read.parquet(s"$dirL/embeddings.parquet")
      val sigL = embL.select(col("vec_id"),
        VF.bitSignature(col("embedding"), dim, 512).as("sig")).persist()
      sigL.count()
      val isQ = col("vec_id") % 10 === 0
      val (rRows, rT, rSb) = meter.measure(
        AnnJoin.bucketedKnnJoinAgainst(
          embL.filter(isQ), embL.filter(!isQ),
          sigL.filter(isQ), sigL.filter(!isQ),
          "vec_id", "embedding", dim, (nL / 64).toInt, probes,
          cands = 96, k = 3).count())
      println(f"s11 retrieval at n=$nL (10%% queries vs 90%% index): " +
        f"$rRows rows, $rT%.1f s, ${fmtBytes(rSb)} shuffle")
      sigL.unpersist()
    }
    // head-to-head at 10x: all-pairs sketch cascade (s06 shape) vs
    // bucketed, same corpus, plus recall vs the exact join (s04 shape)
    val dir10 = dirs(1); val n10 = sizes(1)
    val emb10 = spark.read.parquet(s"$dir10/embeddings.parquet")
    val sig10 = emb10.select(col("vec_id"),
      VF.bitSignature(col("embedding"), dim, 512).as("sig")).persist()
    sig10.count()
    val nCells10 = (n10 / 64).toInt
    val (bRows, bT, bSb) = meter.measure(
      AnnJoin.bucketedKnnJoin(emb10, sig10, "vec_id", "embedding",
        dim, nCells10, probes, cands = 96, k = 3).count())
    val (aRows, aT, aSb) = meter.measure(
      SparkEntry.queries("s06_ann_knn_join")(spark, dir10).count())
    val (eRows, eT, eSb) = meter.measure(
      SparkEntry.queries("s04_knn_join")(spark, dir10).count())
    println()
    println(s"head-to-head at n=$n10 (clustered):")
    println("| approach | rows | wall s | shuffle write |")
    println("|---|---|---|---|")
    println(f"| s10 bucketed (nCells=$nCells10) | $bRows | $bT%.1f | ${fmtBytes(bSb)} |")
    println(f"| s06 all-pairs sketch | $aRows | $aT%.1f | ${fmtBytes(aSb)} |")
    println(f"| s04 exact | $eRows | $eT%.1f | ${fmtBytes(eSb)} |")
    // persist both result sets: intersect + counts would otherwise
    // re-execute the quadratic exact join (the study's costliest stage)
    // twice more for no output change
    val exact = SparkEntry.queries("s04_knn_join")(spark, dir10)
      .select(col("vec_id"), col("neighbor_id")).persist()
    val bucketed = AnnJoin.bucketedKnnJoin(emb10, sig10, "vec_id", "embedding",
      dim, nCells10, probes, cands = 96, k = 3)
      .select(col("vec_id"), col("neighbor_id")).persist()
    val hit = exact.intersect(bucketed).count()
    val truths = exact.count()
    exact.unpersist(); bucketed.unpersist()
    println(f"s10 recall vs exact top-3 at n=$n10: ${hit.toDouble / truths}%.4f " +
      s"($hit of $truths)")
    sig10.unpersist()
    NorthStar.releaseCaches(spark, dir10)
  }

  def main(args: Array[String]): Unit = {
    val srcDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val factor = if (args.length > 1) args(1).toInt else 10
    val workDir = if (args.length > 2) args(2) else "/tmp/graft_scale"
    val mode = if (args.length > 3) args(3) else "dedup"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // shared engine config ([[SessionDefaults]]) — wave evidence runs
    // the same optimizer configuration the bench times (r18)
    val spark = SessionDefaults(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    mode match {
      case "clustered" => clusteredMode(spark, workDir, factor)
      case "r7" => round7Mode(spark, srcDir, factor, workDir)
      case "wave4" => wave4Mode(spark, srcDir, factor, workDir)
      case "wave5" => wave5Mode(spark, srcDir, factor, workDir)
      case "wave6" => wave6Mode(spark, srcDir, factor, workDir)
      case "wave7" => wave7Mode(spark, srcDir, factor, workDir)
      case "wave8" => wave8Mode(spark, srcDir, factor, workDir)
      case "wave9" => wave9Mode(spark, srcDir, factor, workDir)
      case "wave10" => wave10Mode(spark, srcDir, factor, workDir)
      case "wave11" => wave11Mode(spark, srcDir, factor, workDir)
      case "wave12" => wave12Mode(spark, srcDir, factor, workDir)
      case "wave13" => wave13Mode(spark, srcDir, factor, workDir)
      case "wave14" => wave14Mode(spark, srcDir, factor, workDir)
      case _ => dedupMode(spark, srcDir, factor, workDir)
    }
    spark.stop()
  }

  /** Round-7 late-wave ops (eleven documents/embeddings-shaped queries)
    * over the synthesized corpus. Excluded: g07/g08/a07 (inputs — the
    * lineitem co-order graph and events — are not synthesized by this
    * harness; g07/g08 ride the g05-audited wedge/peel bounds, a07's
    * state is 16 longs at any cardinality by construction) and s16
    * (its cost is the sum of the four ANN tiers it runs, each already
    * scale-studied on its own). */
  private def wave4Mode(spark: SparkSession, srcDir: String, factor: Int,
                        workDir: String): Unit = {
    val synthDir = s"$workDir/${factor}x"
    materialize(spark, s"$synthDir/documents.parquet")(
      synthesizeDocs(spark, srcDir, factor))
    materialize(spark, s"$synthDir/embeddings.parquet")(
      synthesizeEmbeddings(spark, srcDir, factor))
    measureOps(spark, srcDir, synthDir, factor,
      Seq("t29_normalize", "t30_vocab_growth", "m07_keyframes",
        "m08_audio_segments", "m09_image_neardup", "m10_video_neardup",
        "d17_bloom_gate", "d18_normalized_dedup",
        "e14_diverse_sample", "e15_quant_error", "s15_maxsim_rerank"))
  }

  /** PII-wave scale posture (round 13): t35/t36 are map-only — counts,
    * scrub chains, and the per-row pseudonymization fold all ride the
    * docs() spread with zero further exchanges (plan-audited), so wall
    * should track corpus size linearly and shuffle stays at the spread.
    * d25's only additional shuffles are the two distinct-fingerprint
    * probes, whose rows are fixed-width md5s regardless of text size. */
  private def wave9Mode(spark: SparkSession, srcDir: String, factor: Int,
                        workDir: String): Unit = {
    val synthDir = s"$workDir/${factor}x"
    materialize(spark, s"$synthDir/documents.parquet")(
      synthesizeDocs(spark, srcDir, factor))
    // NOT measureOps/count(): count() over these map-only projections
    // prunes every text column and the regex/fold kernels never run
    // (the round-11 g02 lesson — first wave9 draft measured 2.8 MiB of
    // shuffle for a 505k-doc corpus, i.e. a doc_id-only spread). The
    // noop sink evaluates every output column.
    val meter = new ShuffleMeter(spark)
    // Warm-up pass at 1x so first-evaluation costs (codegen compile,
    // regex JIT, parquet footer reads) land OUTSIDE the table — the
    // round-13 1x rows were warm-up-dominated (2.6 s for 5k docs vs
    // 2.5 s for 505k) and needed a prose footnote; now the table
    // measures steady-state kernels at every scale.
    for (op <- Seq("t35_pii_audit", "t36_pii_pseudonymize", "d25_scrub_dedup"))
      SparkEntry.queries(op)(spark, srcDir)
        .write.mode("overwrite").format("noop").save()
    println("| corpus | operator | output rows | wall s | shuffle write |")
    println("|---|---|---|---|---|")
    for ((label, dir) <- Seq((s"$srcDir (1x)", srcDir), (s"${factor}x", synthDir));
         op <- Seq("t35_pii_audit", "t36_pii_pseudonymize", "d25_scrub_dedup")) {
      val df = SparkEntry.queries(op)(spark, dir)
      val (_, t, sb) = meter.measure(
        df.write.mode("overwrite").format("noop").save())
      val rows = df.count()
      println(f"| $label | $op | $rows | $t%.1f | ${fmtBytes(sb)} |")
    }
  }

  /** Streaming-gate scale posture (round 13): the scrubbed-ingest
    * gate's PER-BATCH cost must be batch-sized as the STORE grows — the
    * store-side probe scans corpus fingerprints map-side against the
    * broadcast batch fp set, so batch shuffle bytes should stay flat
    * while the store scales; only the (map-side, shuffle-free) probe
    * scan grows. The study seeds a store from the factor-x corpus (one
    * backfill batch — fine at study scale; production backfills are
    * trigger-capped per the operator doc), then ingests a fixed
    * 500-doc arrival batch: 250 re-crawls with fresh volatile session
    * PII (must be REJECTED on the scrubbed fingerprint) and 250
    * genuinely-new variants (admitted). */
  private def wave10Mode(spark: SparkSession, srcDir: String, factor: Int,
                         workDir: String): Unit = {
    import graft.streaming.StreamingIngest
    val synthDir = s"$workDir/${factor}x"
    materialize(spark, s"$synthDir/documents.parquet")(
      synthesizeDocs(spark, srcDir, factor))
    println("| store | arrivals | admitted | wall s | shuffle write |")
    println("|---|---|---|---|---|")
    for ((label, tag, dir) <- Seq((s"$srcDir (1x)", "1x", srcDir),
                                  (s"${factor}x", s"${factor}x", synthDir))) {
      val store = s"$workDir/scrub_store_$tag" // testdata dirs are read-only
      // every capture carries crawl-salted volatile session PII (the d25
      // shape) — salt 1 at seed time, salt 2 on the re-crawl, scrubbing
      // both to the same "... sess <EMAIL>" form
      def capture(docs: DataFrame, salt: Int): DataFrame =
        docs.select(col("doc_id"),
          concat(col("text"), lit(" sess s"),
            (col("doc_id") * 7 + lit(salt.toLong)).cast("string"),
            lit("@example.com")).as("text"))
      val corpus = spark.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), col("text"))
      val fs = new org.apache.hadoop.fs.Path(store)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(store), true)
      StreamingIngest.scrubbedIngestBatch(capture(corpus, 1), store, 0L)
      // fixed-size arrival batch regardless of store size: 250 re-crawls
      // (same text, fresh session value, shifted ids — must be REJECTED
      // on the scrubbed fingerprint) + 250 genuinely-new docs (admitted)
      val base = corpus.orderBy(col("doc_id")).limit(500)
      val arrivals = capture(base.limit(250), 2)
        .select((col("doc_id") + 900000000L).as("doc_id"), col("text"))
        .unionByName(base.orderBy(col("doc_id").desc).limit(250)
          .select((col("doc_id") + 910000000L).as("doc_id"),
            concat(col("text"), lit(" novel payload "),
              col("doc_id")).as("text")))
        .persist()
      arrivals.count() // materialize the study input OUTSIDE the window:
      // the global orderBy over the factor-x corpus is harness plumbing
      // (a 2.6 MiB text exchange at 10x) and must not pollute the
      // gate's per-batch measurement
      val meter = new ShuffleMeter(spark)
      val (_, t, sb) = meter.measure(
        StreamingIngest.scrubbedIngestBatch(arrivals, store, 1L))
      val admitted = spark.read.parquet(store)
        .filter(col("_batch_id") === 1L).count()
      arrivals.unpersist()
      println(f"| $label | 500 | $admitted | $t%.1f | ${fmtBytes(sb)} |")
    }
  }

  /** LM-fluency scale posture (round 14): t39's probe side must stay
    * map-side — both LM tables and the one-row vocabulary size ride
    * broadcasts, so the only exchanges are the reference-slice LM-build
    * aggs, the harness docs() spread, and the per-doc count agg (keyed
    * by doc_id). Shuffle should therefore track corpus size linearly
    * with NO gram-keyed exchange of corpus transitions; the noop sink
    * evaluates every output column (wave9's count()-pruning lesson —
    * count() would keep the joins but drop nothing here anyway; the
    * sink keeps the two waves comparable). On the synthesized word-salad
    * corpus the src0 slice grows with the factor, so the broadcast LM
    * itself grows — the study also prints the LM's row counts, the
    * number a production deployment bounds via top-K pruning (the
    * quantized KenLM shape documented on the query). */
  private def wave11Mode(spark: SparkSession, srcDir: String, factor: Int,
                         workDir: String): Unit = {
    val synthDir = s"$workDir/${factor}x"
    materialize(spark, s"$synthDir/documents.parquet")(
      synthesizeDocs(spark, srcDir, factor))
    // warm-up at 1x: first-evaluation costs (codegen, parquet footers)
    // land outside the table
    SparkEntry.queries("t39_lm_fluency")(spark, srcDir)
      .write.mode("overwrite").format("noop").save()
    val meter = new ShuffleMeter(spark)
    println("| corpus | operator | output rows | LM bigrams | wall s | shuffle write |")
    println("|---|---|---|---|---|---|")
    for ((label, dir) <- Seq((s"$srcDir (1x)", srcDir),
                             (s"${factor}x", synthDir))) {
      val df = SparkEntry.queries("t39_lm_fluency")(spark, dir)
      val (_, t, sb) = meter.measure(
        df.write.mode("overwrite").format("noop").save())
      // diagnostics OUTSIDE the window, both cheap: the output row count
      // is the non-src0 doc count by construction (re-running df.count()
      // would execute the whole LM build a second time), and the LM size
      // uses the same posexplode pairing as t39 (the transform/struct
      // form re-materializes every token's bytes — see the query doc)
      val rows = spark.read.parquet(s"$dir/documents.parquet")
        .filter(col("source") =!= "src0").count()
      val lmRows = spark.read.parquet(s"$dir/documents.parquet")
        .filter(col("source") === "src0")
        .select(graft.functions.TextFunctions.tokens(col("text")).as("tks"))
        .filter(size(col("tks")) >= 2)
        .select(col("tks"), posexplode(col("tks")).as(Seq("i", "w1")))
        .filter(col("i") < size(col("tks")) - 1)
        .select(col("w1"), col("tks").getItem(col("i") + 1).as("w2"))
        .distinct().count()
      println(f"| $label | t39_lm_fluency | $rows | $lmRows | $t%.1f | ${fmtBytes(sb)} |")
      NorthStar.releaseCaches(spark, dir)
    }
  }

  /** Round-16 surfaces' scale posture. Two claims, each measured 1× vs
    * factor-×:
    *
    * (a) BATCH-RTBF STORE MAINTENANCE (`Rtbf.applyLedgerToStore`): the
    * ledger pass over a `_batch_id`-partitioned pseudonymized store is
    * one map-only boolean scan (LinksAnyTag — no join, no rewrite on
    * the probe side) plus a rewrite of ONLY the partitions holding
    * linked docs — so as the store grows with the ledger fixed, the
    * scan grows linearly (unavoidable: every row must be probed once)
    * but the REWRITE cost stays pinned to the hit partitions, and
    * shuffle stays at the rewritten partitions' size.
    *
    * (b) FLUENCY-GATED INGEST (`startFluencyGatedIngest`'s batch body):
    * wave10's flat-per-batch contract lifted to the full CCNet prefix
    * (scrub → quality → LM gate → exact dedup) — a fixed 500-doc
    * arrival batch against a factor-× seeded store must cost
    * batch-sized shuffle regardless of store size (the store-side probe
    * scans corpus fingerprints map-side against the broadcast batch fp
    * set; the LM tables are reference-bounded broadcasts trained ONCE).
    */
  private def wave12Mode(spark: SparkSession, srcDir: String, factor: Int,
                         workDir: String): Unit = {
    import graft.functions.{TextFunctions => TF}
    import graft.operators.{LmFluency, Rtbf}
    import graft.streaming.StreamingIngest
    import spark.implicits._
    val synthDir = s"$workDir/${factor}x"
    materialize(spark, s"$synthDir/documents.parquet")(
      synthesizeDocs(spark, srcDir, factor))
    val key = "wave12-rtbf-key"

    println("| store | rows | parts | ledger | hit parts | wall s | shuffle write |")
    println("|---|---|---|---|---|---|---|")
    for ((label, dir) <- Seq((s"$srcDir (1x)", srcDir), (s"${factor}x", synthDir))) {
      val corpus = spark.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), col("text"))
      // pseudonymized store: every doc carries its own linkable address;
      // RANGE-partitioned _batch_id (5k docs per partition) so a ledger
      // naming specific docs lands in known partitions
      val nRows = corpus.count()
      val store = s"$workDir/rtbf_store_${factor}x_${label.hashCode.abs}"
      val fs = new org.apache.hadoop.fs.Path(store)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (!fs.exists(new org.apache.hadoop.fs.Path(s"$store/_SUCCESS"))) {
        fs.delete(new org.apache.hadoop.fs.Path(store), true)
        corpus.select(col("doc_id"),
            TF.pseudonymizePii(concat(col("text"), lit(" contact user"),
              col("doc_id"), lit("@example.com")), key).as("pseudo"))
          .withColumn("_batch_id", (col("doc_id") / lit(5000L)).cast("long"))
          .write.partitionBy("_batch_id").parquet(store)
      }
      val nParts = fs.listStatus(new org.apache.hadoop.fs.Path(store))
        .count(_.getPath.getName.startsWith("_batch_id="))
      // 64-request ledger targeting docs in exactly TWO partitions
      // (ids 100-131 and 5100-5131) — fresh store per run keeps the
      // pass idempotent-but-not-vacuous
      val ledger = ((100L to 131L) ++ (5100L to 5131L))
        .map(id => ("EMAIL", s"user$id@example.com")).toDF("label", "value")
      val meter = new ShuffleMeter(spark)
      val (hit, t, sb) = meter.measure(
        Rtbf.applyLedgerToStore(spark, store, "pseudo", ledger, key, mac = false))
      println(f"| $label | $nRows | $nParts | 64 | ${hit.size} | $t%.1f | ${fmtBytes(sb)} |")
      fs.delete(new org.apache.hadoop.fs.Path(store), true)
    }

    println()
    println("| store | arrivals | admitted | wall s | shuffle write |")
    println("|---|---|---|---|---|")
    // the curated reference the LM trains on — the 1x src0 slice at
    // every scale (the reference is GIVEN, not part of the stream)
    val refDocs = spark.read.parquet(s"$srcDir/documents.parquet")
      .filter(col("source") === "src0").select(col("text"))
    val model = LmFluency.train(refDocs).persisted()
    for ((label, tag, dir) <- Seq((s"$srcDir (1x)", "1x", srcDir),
                                  (s"${factor}x", s"${factor}x", synthDir))) {
      val store = s"$workDir/fluency_store_$tag"
      def capture(docs: DataFrame, salt: Int): DataFrame =
        docs.select(col("doc_id"),
          concat(col("text"), lit(" sess s"),
            (col("doc_id") * 7 + lit(salt.toLong)).cast("string"),
            lit("@example.com")).as("text"))
      val corpus = spark.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), col("text"))
      val fs = new org.apache.hadoop.fs.Path(store)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(store), true)
      // backfill batch 0 through the SAME gate (trigger-capped in
      // production per the operator doc; fine at study scale)
      StreamingIngest.scrubbedIngestBatch(capture(corpus, 1), store, 0L,
        StreamingIngest.fluencyGate(model))
      // fixed arrival batch: 250 re-crawls (fresh session PII — must be
      // rejected on the scrubbed fingerprint) + 250 novel docs (face
      // the quality + LM gates, then admit)
      val base = corpus.orderBy(col("doc_id")).limit(500)
      val arrivals = capture(base.limit(250), 2)
        .select((col("doc_id") + 900000000L).as("doc_id"), col("text"))
        .unionByName(base.orderBy(col("doc_id").desc).limit(250)
          .select((col("doc_id") + 910000000L).as("doc_id"),
            concat(col("text"), lit(" novel payload "),
              col("doc_id")).as("text")))
        .persist()
      arrivals.count() // materialize the study input outside the window
      val meter = new ShuffleMeter(spark)
      val (_, t, sb) = meter.measure(
        StreamingIngest.scrubbedIngestBatch(arrivals, store, 1L,
          StreamingIngest.fluencyGate(model)))
      val admitted = spark.read.parquet(store)
        .filter(col("_batch_id") === 1L).count()
      arrivals.unpersist()
      println(f"| $label | 500 | $admitted | $t%.1f | ${fmtBytes(sb)} |")
      fs.delete(new org.apache.hadoop.fs.Path(store), true)
    }
    model.unpersist()
  }

  /** Shared 1x-vs-factor-x measurement loop for the wave modes: each op
    * runs on the source corpus then the synthesized one, reporting
    * output rows, wall seconds, and shuffle-write bytes (the
    * steal-immune signal). */
  private def measureOps(spark: SparkSession, srcDir: String,
                         synthDir: String, factor: Int,
                         ops: Seq[String]): Unit = {
    val meter = new ShuffleMeter(spark)
    println("| corpus | operator | output rows | wall s | shuffle write |")
    println("|---|---|---|---|---|")
    for ((label, dir) <- Seq((s"$srcDir (1x)", srcDir), (s"${factor}x", synthDir));
         op <- ops) {
      val (rows, t, sb) = meter.measure(SparkEntry.queries(op)(spark, dir).count())
      println(f"| $label | $op | $rows | $t%.1f | ${fmtBytes(sb)} |")
    }
  }

  /** Community-wave scale posture: the docs-shaped ops of the
    * modularity/LPA/caps round at 1x vs factor-x. t31 is one shuffle by
    * source + a source-partitioned window (parallel across sources);
    * d19 is two fixed-width-row aggregations (text collapses to its
    * md5 in the first projection). Excluded: g10/g11 (input is the
    * lineitem co-order graph, not synthesized here; g10 is three
    * linear equi-joins + two aggregations over the g05-audited edge
    * set, g11 is R=4 bounded rounds of join+count+argmax over the
    * same edges — no pair-space anywhere). */
  private def wave5Mode(spark: SparkSession, srcDir: String, factor: Int,
                        workDir: String): Unit = {
    val synthDir = s"$workDir/${factor}x"
    materialize(spark, s"$synthDir/documents.parquet")(
      synthesizeDocs(spark, srcDir, factor))
    measureOps(spark, srcDir, synthDir, factor,
      Seq("t31_source_caps", "d19_dup_by_source"))
  }

  /** Diagnostics-wave scale posture: t32 rides t11's two-shuffle
    * skeleton (explode → (source, term) counts map-side combined →
    * per-source fold; vocabulary-bounded state) — expect linear wall
    * and shuffle. m12 is the banded-hamming PAIR op: the number that
    * matters is how the band-pair candidate volume — visible as the
    * value-pair join's shuffle bytes — grows as the 63-bit fingerprint
    * space fills with duplicates; the same-value arm grows with the
    * exact-dup mass by design (those ARE the audio dups). Excluded:
    * g12 (input is the lineitem bipartite graph, not synthesized
    * here; each round is g02's audited shape — one edge⋈rank join +
    * one map-side-combined sum — and seeds are a broadcast list). */
  private def wave6Mode(spark: SparkSession, srcDir: String, factor: Int,
                        workDir: String): Unit = {
    val synthDir = s"$workDir/${factor}x"
    materialize(spark, s"$synthDir/documents.parquet")(
      synthesizeDocs(spark, srcDir, factor))
    measureOps(spark, srcDir, synthDir, factor,
      Seq("t32_lexical_diversity", "m12_audio_neardup"))
  }

  /** Checkpoint-lifecycle wave (round-10 verdict item #4): the
    * operators that localCheckpoint per round (g08 kCore, g11 LPA) or
    * per invocation (m09/m12 banded pair engines, g05 as the
    * no-checkpoint control), at 1x vs factor-x, PLUS the
    * storage-flatness witness at corpus scale: three consecutive
    * (run → release) cycles at factor-x, sampling persisted-RDD count
    * and cached bytes after each run and each release —
    * CheckpointLifecycleSpec proves the flat-storage property at unit
    * scale; this records it at corpus scale, where a leak would be
    * gigabytes per invocation.
    *
    * The factor-x graph is `factor` DISJOINT copies of the 1x co-order
    * graph (vertex ids offset per copy): triangle/wedge/peel work
    * scales exactly linearly and per-vertex degree structure — the
    * thing the O(√m) wedge orientation bounds — is preserved, so a
    * super-linear wall or shuffle number indicts the operator, not the
    * corpus. */
  private def wave7Mode(spark: SparkSession, srcDir: String, factor: Int,
                        workDir: String): Unit = {
    val synthDir = s"$workDir/${factor}x"
    materialize(spark, s"$synthDir/documents.parquet")(
      synthesizeDocs(spark, srcDir, factor))
    replicateCoOrder(spark, srcDir, 30, factor, s"$synthDir/edges_q30.parquet")
    replicateCoOrder(spark, srcDir, 46, factor, s"$synthDir/edges_q46.parquet")
    def e30(x: Boolean) = if (x) spark.read.parquet(s"$synthDir/edges_q30.parquet")
                          else graft.Queries.coOrderEdges(spark, srcDir, 30)
    def e46(x: Boolean) = if (x) spark.read.parquet(s"$synthDir/edges_q46.parquet")
                          else graft.Queries.coOrderEdges(spark, srcDir, 46)

    val meter = new ShuffleMeter(spark)
    println("| corpus | operator | output rows | wall s | shuffle write |")
    println("|---|---|---|---|---|")
    for ((label, x) <- Seq((s"$srcDir (1x)", false), (s"${factor}x", true))) {
      val ops: Seq[(String, () => Long)] = Seq(
        "g05_triangles" -> (() => operators.Graph.triangleStats(e30(x)).count()),
        "g08_kcore" -> (() => operators.Graph.kCore(e30(x), k = 12).count()),
        "g11_lpa_labels" -> (() => operators.Graph.labelPropagation(e46(x), rounds = 4).count()))
      for ((op, body) <- ops) {
        val (rows, t, sb) = meter.measure(body())
        println(f"| $label | $op | $rows | $t%.1f | ${fmtBytes(sb)} |")
        Checkpoints.release(spark)
      }
      val mOps = Seq("m09_image_neardup", "m12_audio_neardup")
      val dir = if (x) synthDir else srcDir
      for (op <- mOps) {
        val (rows, t, sb) = meter.measure(SparkEntry.queries(op)(spark, dir).count())
        println(f"| $label | $op | $rows | $t%.1f | ${fmtBytes(sb)} |")
      }
      NorthStar.releaseCaches(spark, dir)
    }

    // storage-flatness witness: the leak shape is "each invocation
    // leaves blocks behind"; three (run → release) cycles must show a
    // CONSTANT after-run footprint and a base-level after-release one
    println()
    println(s"storage flatness at ${factor}x (persisted RDDs / cached bytes):")
    println("| operator | after run 1 | after release | after run 2 | after release | after run 3 | after release |")
    println("|---|---|---|---|---|---|---|")
    val flat: Seq[(String, () => Long, () => Unit)] = Seq(
      ("g08_kcore", () => operators.Graph.kCore(e30(true), k = 12).count(),
        () => Checkpoints.release(spark)),
      ("g11_lpa_labels", () => operators.Graph.labelPropagation(e46(true), rounds = 4).count(),
        () => Checkpoints.release(spark)),
      ("m09_image_neardup", () => SparkEntry.queries("m09_image_neardup")(spark, synthDir).count(),
        () => NorthStar.releaseCaches(spark, synthDir)),
      ("m12_audio_neardup", () => SparkEntry.queries("m12_audio_neardup")(spark, synthDir).count(),
        () => NorthStar.releaseCaches(spark, synthDir)))
    for ((op, body, rel) <- flat) {
      val cells = (1 to 3).flatMap { _ =>
        body(); val afterRun = storageSummary(spark); rel(); Seq(afterRun, storageSummary(spark))
      }
      println(s"| $op | ${cells.mkString(" | ")} |")
    }
  }

  /** Wave-8 (round 11): the REWRITTEN graph shapes at scale — the
    * frontier-state personalized PageRank (g12) and the
    * tracked-checkpoint triangle census (g05). The PPR graph is g12's
    * supplier↔part bipartite edge list replicated factor× with
    * per-copy id offsets, seeds replicated the same way — every copy
    * carries its own trusted set, so walk work AND seed neighborhoods
    * scale exactly linearly; g05 rides wave-7-style co-order replicas.
    * Storage flatness is re-witnessed for both (g05 newly tracks
    * checkpoints; PPR now materializes its edge/degree tables). */
  private def wave8Mode(spark: SparkSession, srcDir: String, factor: Int,
                        workDir: String): Unit = {
    val synthDir = s"$workDir/${factor}x"
    val off = 10000000L
    // > any 1x node id (parts sit at partkey + 1e7): copies stay disjoint
    val span = 100000000L
    materialize(spark, s"$synthDir/ppr_edges.parquet") {
      val edges = spark.read.parquet(s"$srcDir/lineitem.parquet")
        .select(col("l_suppkey").as("s"), (col("l_partkey") + off).as("p"))
        .distinct()
      Queries.bothDirections(edges, "s", "p")
        .select(col("src"), col("dst"),
          explode(sequence(lit(0L), lit(factor - 1L))).as("c"))
        .select((col("src") + col("c") * span).as("src"),
                (col("dst") + col("c") * span).as("dst"))
    }
    materialize(spark, s"$synthDir/ppr_seeds.parquet") {
      spark.read.parquet(s"$srcDir/supplier.parquet")
        .filter(col("s_nationkey") === 0)
        .select(col("s_suppkey").as("node"),
          explode(sequence(lit(0L), lit(factor - 1L))).as("c"))
        .select((col("node") + col("c") * span).as("node"))
    }
    replicateCoOrder(spark, srcDir, 30, factor, s"$synthDir/edges_q30.parquet")
    def pprRun(x: Boolean): Long = {
      val (e, sd) = if (x)
        (spark.read.parquet(s"$synthDir/ppr_edges.parquet"),
         spark.read.parquet(s"$synthDir/ppr_seeds.parquet"))
      else {
        val edges = spark.read.parquet(s"$srcDir/lineitem.parquet")
          .select(col("l_suppkey").as("s"), (col("l_partkey") + off).as("p"))
          .distinct()
        (Queries.bothDirections(edges, "s", "p"),
         spark.read.parquet(s"$srcDir/supplier.parquet")
           .filter(col("s_nationkey") === 0)
           .select(col("s_suppkey").as("node")))
      }
      operators.Graph.personalizedPageRank(e, sd, iters = 3)
        .filter(col("rank") > 0).count()
    }
    def triRun(x: Boolean): Long = {
      val e = if (x) spark.read.parquet(s"$synthDir/edges_q30.parquet")
              else graft.Queries.coOrderEdges(spark, srcDir, 30)
      operators.Graph.triangleStats(e).count()
    }
    val meter = new ShuffleMeter(spark)
    println("| corpus | operator | output rows | wall s | shuffle write |")
    println("|---|---|---|---|---|")
    for ((label, x) <- Seq((s"$srcDir (1x)", false), (s"${factor}x", true))) {
      for ((op, body) <- Seq[(String, () => Long)](
          "g12_ppr" -> (() => pprRun(x)),
          "g05_triangles" -> (() => triRun(x)))) {
        val (rows, t, sb) = meter.measure(body())
        println(f"| $label | $op | $rows | $t%.1f | ${fmtBytes(sb)} |")
        Checkpoints.release(spark)
        NorthStar.releaseCaches(spark, srcDir)
      }
    }
    println()
    println(s"storage flatness at ${factor}x (persisted RDDs / cached bytes):")
    println("| operator | after run 1 | after release | after run 2 | after release | after run 3 | after release |")
    println("|---|---|---|---|---|---|---|")
    for ((op, body) <- Seq[(String, () => Long)](
        "g12_ppr" -> (() => pprRun(true)),
        "g05_triangles" -> (() => triRun(true)))) {
      val cells = (1 to 3).flatMap { _ =>
        body(); val afterRun = storageSummary(spark)
        Checkpoints.release(spark); Seq(afterRun, storageSummary(spark))
      }
      println(s"| $op | ${cells.mkString(" | ")} |")
    }
  }

  /** Round-7 first-wave scale posture: the eight r7 ops at 1x vs
    * factor-x, wall + shuffle bytes + output rows. Expected shapes —
    * s12 O(n·B) pair manifest (rows grow ~linearly, per-batch fan-out
    * constant), s13 a bounded-candidate two-stage scan (10 rows out at
    * any n), t27 one doc-keyed aggregation, q60 a digest-only
    * full-outer join, e12 |labels| rows from label-keyed aggregations.
    * None touch a pair space. */
  private def round7Mode(spark: SparkSession, srcDir: String, factor: Int,
                         workDir: String): Unit = {
    val synthDir = s"$workDir/${factor}x"
    materialize(spark, s"$synthDir/documents.parquet")(
      synthesizeDocs(spark, srcDir, factor))
    materialize(spark, s"$synthDir/embeddings.parquet")(
      synthesizeEmbeddings(spark, srcDir, factor))
    measureOps(spark, srcDir, synthDir, factor,
      Seq("s12_inbatch_negatives", "s13_matryoshka_topk",
        "s14_faceted_topk", "t27_quality_classifier", "t28_corpus_datasheet",
        "q60_corpus_diff", "e12_embedding_drift", "e13_embedding_outliers"))
  }

  /** RTBF cascade scale posture (round 17): one Rtbf.cascadeStores pass
    * over a factor-x store FAMILY — the pseudonymized corpus store
    * (with its derived fp column), a doc-keyed vector artifact, and an
    * unpartitioned cell sidecar. Expected shapes: the linked-id
    * derivation is one map-only boolean scan of the corpus store; the
    * artifact hit probe is a semi-join against the (ledger-bounded,
    * AQE-broadcast) id set; corpus and artifact rewrites touch ONLY hit
    * partitions, so their cost is pinned to the ledger's spread, not
    * the store size. The one deliberately linear piece is the sidecar
    * purge — a whole-file rewrite of narrow (id, cell) rows (sidecars
    * have no partition handle by design; the gate self-heals from an
    * absent sidecar, so production can also just drop it). */
  private def wave13Mode(spark: SparkSession, srcDir: String, factor: Int,
                         workDir: String): Unit = {
    import graft.functions.{TextFunctions => TF}
    import graft.operators.Rtbf
    import spark.implicits._
    val synthDir = s"$workDir/${factor}x"
    materialize(spark, s"$synthDir/documents.parquet")(
      synthesizeDocs(spark, srcDir, factor))
    val key = "wave13-rtbf-key"
    println("| family | rows | hit parts | corpus hit ids | vec hit ids | sidecar dropped | wall s | shuffle write |")
    println("|---|---|---|---|---|---|---|---|")
    for ((label, dir) <- Seq((s"$srcDir (1x)", srcDir), (s"${factor}x", synthDir))) {
      val corpus = spark.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), col("text"))
      val nRows = corpus.count()
      val tag = s"${factor}x_${label.hashCode.abs}"
      val store = s"$workDir/cascade_store_$tag"
      val vecStore = s"$workDir/cascade_vec_$tag"
      val cells = s"$workDir/cascade_cells_$tag"
      val fs = new org.apache.hadoop.fs.Path(store)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      Seq(store, vecStore, cells).foreach(p =>
        fs.delete(new org.apache.hadoop.fs.Path(p), true))
      // corpus store WITH the derived fp column (the cascade recomputes
      // it in hit partitions); 5k docs per range partition as in wave12
      corpus.select(col("doc_id"),
          TF.pseudonymizePii(concat(col("text"), lit(" contact user"),
            col("doc_id"), lit("@example.com")), key).as("pseudo"))
        .withColumn("fp", TF.fingerprint(col("pseudo")))
        .withColumn("_batch_id", (col("doc_id") / lit(5000L)).cast("long"))
        .write.partitionBy("_batch_id").parquet(store)
      // doc-keyed vector artifact (content irrelevant to the purge) +
      // unpartitioned sidecar over the same ids
      corpus.select(col("doc_id").as("vec_id"),
          array(col("doc_id").cast("float"),
            (col("doc_id") % 97).cast("float")).as("embedding"))
        .withColumn("_batch_id", (col("vec_id") / lit(5000L)).cast("long"))
        .write.partitionBy("_batch_id").parquet(vecStore)
      corpus.select(col("doc_id").as("vec_id"),
          pmod(col("doc_id"), lit(256L)).as("cell"))
        .write.parquet(cells)
      // 64-request ledger targeting docs in exactly TWO partitions
      val ledger = ((100L to 131L) ++ (5100L to 5131L))
        .map(id => ("EMAIL", s"user$id@example.com")).toDF("label", "value")
      val meter = new ShuffleMeter(spark)
      val (report, t, sb) = meter.measure(
        Rtbf.cascadeStores(spark, store, "pseudo", ledger, key, mac = false,
          derived = Seq("fp" -> TF.fingerprint(col("pseudo"))),
          artifactStores = Seq(vecStore -> "vec_id"),
          sidecars = Seq(cells -> "vec_id")))
      println(f"| $label | $nRows | ${report.corpusPartitions.size}+" +
        f"${report.artifactPartitions(vecStore).size} hit | " +
        f"${report.corpusPartitions.mkString(",")} | " +
        f"${report.artifactPartitions(vecStore).mkString(",")} | " +
        f"${report.sidecarRowsDropped(cells)} | $t%.1f | ${fmtBytes(sb)} |")
      Seq(store, vecStore, cells).foreach(p =>
        fs.delete(new org.apache.hadoop.fs.Path(p), true))
    }
  }

  /** Replicate the supplier↔part INPUT tables factor-x as disjoint
    * copies (suppkey/partkey offset per copy; supplier keeps
    * s_nationkey so each copy carries its own PPR seed slice) — the
    * wave14 bipartite-graph corpus. Only the columns g02/g12 read. */
  private def replicateBipartiteInputs(spark: SparkSession, srcDir: String,
                                       factor: Int, synthDir: String): Unit = {
    val li = spark.read.parquet(s"$srcDir/lineitem.parquet")
      .select(col("l_suppkey").cast("long").as("l_suppkey"),
        col("l_partkey").cast("long").as("l_partkey"))
    val bounds = li.agg(max(col("l_suppkey")), max(col("l_partkey"))).first()
    require(!bounds.isNullAt(0), s"cannot replicate: $srcDir lineitem is empty")
    val (offS, offP) = (bounds.getLong(0) + 1L, bounds.getLong(1) + 1L)
    // supplierPartEdges maps parts to partkey + 10^7; replicated supplier
    // and part ids must both stay below that offset so the two id spaces
    // stay disjoint
    require(offS * factor < 10000000L,
      s"supplier id space overflow: ${offS * factor} >= 1e7")
    require(offP * factor < 10000000L,
      s"part id space overflow: ${offP * factor} >= 1e7")
    materialize(spark, s"$synthDir/lineitem.parquet") {
      li.select(col("l_suppkey"), col("l_partkey"),
          explode(sequence(lit(0L), lit(factor - 1L))).as("c"))
        .select((col("l_suppkey") + col("c") * offS).as("l_suppkey"),
                (col("l_partkey") + col("c") * offP).as("l_partkey"))
    }
    materialize(spark, s"$synthDir/supplier.parquet") {
      spark.read.parquet(s"$srcDir/supplier.parquet")
        .select(col("s_suppkey").cast("long").as("s_suppkey"),
          col("s_nationkey"),
          explode(sequence(lit(0L), lit(factor - 1L))).as("c"))
        .select((col("s_suppkey") + col("c") * offS).as("s_suppkey"),
          col("s_nationkey"))
    }
  }

  /** Session-shared-memo + pinned-exchange witness wave (r18, verdict
    * item #5 — the r17 arguments for the g02/g12 supplierPartEdges memo
    * and the s10/m09 count pins were plan-level only; this records the
    * runtime witnesses at 1x and factor-x):
    *
    *  - MEMO: g12 run COLD (memo released — it pays the corpus distinct
    *    build) vs g12 run after g02 (which built the memo): the warm
    *    run's shuffle-write delta must exclude the distinct build — one
    *    corpus distinct instead of two, in bytes, at factor-x.
    *  - PINS: s10 (AnnJoin.candidatePairs) and m09 (bandedHammingPairs)
    *    at factor-x with per-stage task counts: the candidate/hamming
    *    stages must run at defaultParallelism-way width, not the 3-4
    *    tasks byte-based AQE coalescing chose before the r17 pins. */
  private def wave14Mode(spark: SparkSession, srcDir: String, factor: Int,
                         workDir: String): Unit = {
    val synthDir = s"$workDir/${factor}x"
    materialize(spark, s"$synthDir/documents.parquet")(
      synthesizeDocs(spark, srcDir, factor))
    materialize(spark, s"$synthDir/embeddings.parquet")(
      synthesizeEmbeddings(spark, srcDir, factor))
    replicateBipartiteInputs(spark, srcDir, factor, synthDir)

    val meter = new ShuffleMeter(spark)
    println("| corpus | step | output rows | wall s | shuffle write |")
    println("|---|---|---|---|---|")
    for ((label, dir) <- Seq((s"$srcDir (1x)", srcDir), (s"${factor}x", synthDir))) {
      // memo witness: cold g12, then g02 + warm g12
      NorthStar.releaseCaches(spark, dir)
      val (r0, t0, s0) = meter.measure(
        SparkEntry.queries("g12_ppr")(spark, dir).count())
      println(f"| $label | g12 COLD (pays edge build) | $r0 | $t0%.1f | ${fmtBytes(s0)} |")
      NorthStar.releaseCaches(spark, dir)
      val (r1, t1, s1) = meter.measure(
        SparkEntry.queries("g02_pagerank")(spark, dir).count())
      println(f"| $label | g02 (builds shared memo) | $r1 | $t1%.1f | ${fmtBytes(s1)} |")
      val (r2, t2, s2) = meter.measure(
        SparkEntry.queries("g12_ppr")(spark, dir).count())
      println(f"| $label | g12 WARM (rides memo) | $r2 | $t2%.1f | ${fmtBytes(s2)} |")
      NorthStar.releaseCaches(spark, dir)
    }

    // pin witness: per-stage task counts for the candidate stages
    val stages =
      new java.util.concurrent.ConcurrentLinkedQueue[(Int, Int, Long, Long)]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val i = sc.stageInfo
        stages.add((i.stageId, i.numTasks,
          i.taskMetrics.executorCpuTime / 1000000,
          i.taskMetrics.shuffleReadMetrics.recordsRead))
      }
    })
    import scala.jdk.CollectionConverters._
    println()
    println("| corpus | operator | top-CPU stages (tasks, cpuMs, srRows) |")
    println("|---|---|---|")
    // s10 on an ISOTROPIC synthetic corpus with the harness's FIXED 16
    // cells is quadratic-by-construction (312k vectors/cell at 100x —
    // 651 s of candidate CPU already at 10x): the clustered-mode study,
    // which scales nCells with n, is the carrier of s10's 100x witness;
    // this wave's s10 row is the PIN witness and 10x suffices for it
    val pinOps = Seq("s10_ann_bucketed", "m09_image_neardup")
      .filterNot(op => factor >= 100 && op == "s10_ann_bucketed")
    if (factor >= 100)
      println("-- factor >= 100: skipping s10 (isotropic corpus + fixed 16 " +
        "cells is quadratic; clustered mode carries s10 at that scale)")
    for ((label, dir) <- Seq((s"$srcDir (1x)", srcDir), (s"${factor}x", synthDir));
         op <- pinOps) {
      SparkEntry.queries(op)(spark, dir).count() // warm: memo builds out of window
      stages.clear()
      SparkEntry.queries(op)(spark, dir).count()
      Thread.sleep(400)
      val top = stages.asScala.toSeq.sortBy(-_._3).take(3)
        .map { case (_, n, cpu, sr) => s"tasks=$n cpu=${cpu}ms sr=$sr" }
        .mkString("; ")
      println(s"| $label | $op | $top |")
      NorthStar.releaseCaches(spark, dir)
    }
  }
}

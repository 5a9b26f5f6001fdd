package graft

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

import graft.catalogue.SearchQueries

/**
 * Scale dry-run: synthetic corpora R× the size of a source scale factor
 * with the SAME statistics — documents drawn from the source corpus's
 * empirical unigram/length distributions with the same planted near-dup
 * rate, embeddings as seeded unit-normalized gaussians (the source
 * profile: isotropic unit vectors) — written as parquet dirs with the
 * harness layout, then the REAL harness queries metered against 1× and
 * R× through [[Meter]]. Results land in SCALE.md.
 *
 * Usage: `ScaleDryRun <srcDir> <factor> <workDir> <q1,q2,…|clustered> [noop]`
 *  - a query list ([[queryList]]): each query metered on the source and,
 *    for factor > 1, on the synthesized corpus. Factor 1 meters the
 *    source only — the per-stage profile of a query.
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
 * so a rerun does not pay generation twice.
 */
object ScaleDryRun {

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


  private def fmtBytes(b: Long): String =
    if (b >= (1L << 30)) f"${b / (1L << 30).toDouble}%.2f GiB"
    else if (b >= (1L << 20)) f"${b / (1L << 20).toDouble}%.1f MiB"
    else f"${b / 1024.0}%.1f KiB"

  /** Generate-if-absent: parquet dirs are cached by path (the factor is
    * in the path), keyed on the _SUCCESS marker. */
  private def materialize(path: String)(gen: => DataFrame): Unit = {
    if (!new java.io.File(s"$path/_SUCCESS").exists()) {
      val t0 = System.nanoTime()
      gen.write.mode("overwrite").parquet(path)
      println(s"-- generated $path in ${(System.nanoTime() - t0) / 1000000000L} s")
    } else println(s"-- reusing cached $path")
  }

  /** One metered query run: the corpus it read, its output rows and its
    * stage metrics. */
  final case class Metered(corpus: String, query: String, rows: Long,
                           cost: Meter.Measurement)

  /**
   * Meter each named harness query on `srcDir` and, for `factor` > 1, on
   * the factor× corpus synthesized (or reused) under `workDir/<factor>x`.
   * Only `documents` and `embeddings` are synthesized: a query that reads
   * any other table fails the run at factor× with Spark's path-not-found
   * error naming that table, never timed against the 1× table.
   *
   * Each query is warmed once at 1× outside the metered window (JIT,
   * codegen, memo builds). It is driven by `count()`, or with `noop` by
   * the noop sink, which evaluates every output column: `count()` prunes
   * final projections and cardinality-preserving joins, so map-only
   * kernels only run under the sink (their rows come from an
   * `Observation` on the same action). Prints one markdown row per
   * (corpus, query).
   */
  def queryList(spark: SparkSession, srcDir: String, factor: Int,
                workDir: String, names: Seq[String],
                noop: Boolean): Seq[Metered] = {
    val fns = names.map(n => n -> SparkEntry.queries.getOrElse(n,
      throw new IllegalArgumentException(s"unknown query: $n")))
    val synthDir = s"$workDir/${factor}x"
    if (factor > 1) {
      materialize(s"$synthDir/documents.parquet")(
        synthesizeDocs(spark, srcDir, factor))
      materialize(s"$synthDir/embeddings.parquet")(
        synthesizeEmbeddings(spark, srcDir, factor))
    }
    def drive(df: DataFrame): Long =
      if (!noop) df.count()
      else {
        val o = Observation()
        df.observe(o, count(lit(1)).as("rows"))
          .write.mode("overwrite").format("noop").save()
        o.get("rows").asInstanceOf[Long]
      }
    fns.foreach { case (_, fn) => drive(fn(spark, srcDir)) }
    println("| corpus | query | rows | wall s | cpu s | tasks | shuffle write " +
      "| top stage (tasks, cpuMs, srRows) |")
    println("|---|---|---|---|---|---|---|---|")
    val corpora = (s"$srcDir (1x)" -> srcDir) +:
      (if (factor > 1) Seq(s"${factor}x" -> synthDir) else Nil)
    corpora.flatMap { case (label, dir) =>
      val rows = fns.map { case (name, fn) =>
        val (n, m) = Meter(spark).measure(s"$label $name")(drive(fn(spark, dir)))
        val top = m.top(1).headOption.fold("-")(s =>
          s"tasks=${s.tasks} cpu=${s.cpuMs}ms sr=${s.shuffleReadRows}")
        println(f"| $label | $name | $n | ${m.wallS}%.2f | ${m.cpuMs / 1000.0}%.2f " +
          f"| ${m.tasks} | ${fmtBytes(m.shuffleWriteBytes)} | $top |")
        Metered(label, name, n, m)
      }
      NorthStar.releaseCaches(spark, dir)
      rows
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
    def metered(label: String)(body: => Long): (Long, Double, Long) = {
      val (rows, m) = Meter(spark).measure(label)(body)
      (rows, m.wallS, m.shuffleWriteBytes)
    }
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
      materialize(s"$dir/embeddings.parquet")(
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
      val (rows, t, sb) = metered(s"s10 n=$n")(
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
      val (rRows, rT, rSb) = metered("s11 retrieval")(
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
    val (bRows, bT, bSb) = metered("s10 head-to-head")(
      AnnJoin.bucketedKnnJoin(emb10, sig10, "vec_id", "embedding",
        dim, nCells10, probes, cands = 96, k = 3).count())
    val (aRows, aT, aSb) = metered("s06 head-to-head")(
      SearchQueries.s06.build(spark, dir10).count())
    val (eRows, eT, eSb) = metered("s04 head-to-head")(
      SearchQueries.s04.build(spark, dir10).count())
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
    val exact = SearchQueries.s04.build(spark, dir10)
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
    val usage = "usage: ScaleDryRun <srcDir> <factor> <workDir> " +
      "<q1,q2,...|clustered> [noop]"
    require(args.length == 4 || (args.length == 5 && args(4) == "noop"), usage)
    val Array(srcDir, factorArg, workDir, mode) = args.take(4)
    val factor = factorArg.toInt
    val noop = args.length == 5
    require(factor >= 1 && !(noop && mode == "clustered"), usage)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // shared engine config ([[SessionDefaults]]) — scale evidence runs
    // the same optimizer configuration the bench times
    val spark = SessionDefaults(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try {
      if (mode == "clustered") clusteredMode(spark, workDir, factor)
      else queryList(spark, srcDir, factor, workDir, mode.split(",").toSeq, noop)
    } finally spark.stop()
  }
}

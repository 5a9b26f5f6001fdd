package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.functions.{Fnv, VectorFunctions => VF}

/** Round-4 extensions: cube, scalar subqueries, unpivot, exact-moment
  * statistics, repetition signals, k-means step, k-NN join, frame
  * sampling — each checked against an independent in-Spark ground truth
  * (the DuckDB oracle is the cross-engine check; these are the
  * self-consistency laws). */
class ExtensionsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"
  private def q(name: String) = SparkEntry.queries(name)(spark, dir)

  test("harness contract: every query has an oracle, no orphan oracles, no key collisions") {
    val names = SparkEntry.catalogue.map(_.name)
    // toMap keeps one entry per key: a duplicate name would vanish silently
    assert(names.distinct.size == names.size,
      s"duplicate query names: ${names.diff(names.distinct)}")
    // a null or empty oracle is a record read before its tier object finished
    // initializing (a cross-tier cycle), or a query left without its oracle
    val blank = SparkEntry.catalogue
      .filter(q => q.oracle == null || q.oracle.isEmpty).map(_.name)
    assert(blank.isEmpty, s"queries without oracle SQL: $blank")
    assert(SparkEntry.queries.keySet == SparkEntry.oracleSql.keySet)
  }

  test("q34 cube: contains the plain group-by rows plus marginals and one grand total") {
    val cube = q("q34_cube").collect()
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
    val plain = li.groupBy(col("l_returnflag"), col("l_linestatus")).count().collect()
    val flags = li.select(col("l_returnflag")).distinct().count()
    val stats = li.select(col("l_linestatus")).distinct().count()
    assert(cube.length == (flags + 1) * (stats + 1))
    val grand = cube.filter(r => r.isNullAt(0) && r.isNullAt(1))
    assert(grand.length == 1 && grand.head.getAs[Long]("n") == li.count())
    val full = cube.filter(r => !r.isNullAt(0) && !r.isNullAt(1))
    assert(full.length == plain.length)
  }

  test("q35 scalar subquery: equals the hand-computed decimal threshold + IN set") {
    val o = spark.read.parquet(s"$dir/orders.parquet")
    val cnt = o.count()
    val total = o.agg(sum(col("o_totalprice").cast(DecimalType(18, 2))))
      .head().getDecimal(0)
    val inSet = spark.read.parquet(s"$dir/customer.parquet")
      .filter(col("c_acctbal") > 9000)
      .select(col("c_custkey")).as[Long].collect().toSet
    val expected = o
      .filter(col("o_totalprice").cast(DecimalType(18, 2)) * lit(cnt) > lit(total))
      .filter(col("o_custkey").isin(inSet.toSeq: _*))
      .select(col("o_orderkey")).as[Long].collect().toSet
    val got = q("q35_scalar_subquery").select(col("o_orderkey")).as[Long].collect().toSet
    assert(got == expected && got.nonEmpty)
  }

  test("q36 unpivot: two rows per part, values land under the right metric") {
    val part = spark.read.parquet(s"$dir/part.parquet")
    val got = q("q36_unpivot")
    assert(got.count() == 2 * part.count())
    val one = part.orderBy(col("p_partkey")).limit(1).collect().head
    val rows = got.filter(col("p_partkey") === one.getAs[Long]("p_partkey"))
      .collect().map(r => r.getString(1) -> r.getDouble(2)).toMap
    assert(rows("p_size") == one.getAs[Number]("p_size").doubleValue)
    assert(rows("p_retailprice") == one.getAs[Double]("p_retailprice"))
  }

  test("q37 exact-moment stats agree with Spark's builtin stddev/corr/avg") {
    val got = q("q37_stats_agg").collect()
      .map(r => r.getString(0) -> r).toMap
    val builtin = spark.read.parquet(s"$dir/lineitem.parquet")
      .groupBy(col("l_returnflag"))
      .agg(avg(col("l_quantity")).as("m"),
        stddev_samp(col("l_quantity")).as("sd"),
        corr(col("l_quantity"), col("l_extendedprice")).as("cr"),
        median(col("l_quantity")).as("md"))
      .collect()
    assert(builtin.nonEmpty)
    builtin.foreach { r =>
      val g = got(r.getString(0))
      assert(math.abs(g.getAs[Double]("mean_qty") - r.getAs[Double]("m")) < 1e-9)
      assert(math.abs(g.getAs[Double]("stddev_qty") - r.getAs[Double]("sd")) < 1e-9)
      assert(math.abs(g.getAs[Double]("corr_qty_price") - r.getAs[Double]("cr")) < 1e-9)
      assert(g.getAs[Double]("median_qty") == r.getAs[Double]("md"))
    }
  }

  test("t11 repetition ratios match a driver-side recount on every doc") {
    val got = q("t11_repetition").collect()
      .map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("text")).as[(Long, String)].collect()
    assert(docs.nonEmpty && got.size == docs.length)
    docs.foreach { case (id, text) =>
      val tks =
        if (text.trim.isEmpty) Array.empty[String]
        else text.trim.toLowerCase.split("\\s+")
      val (dup, top) =
        if (tks.isEmpty) (0.0, 0.0)
        else {
          val counts = tks.groupBy(identity).map(_._2.length)
          ((tks.length - counts.size).toDouble / tks.length,
            counts.max.toDouble / tks.length)
        }
      assert(got(id) == ((dup, top)), s"doc $id")
    }
  }

  test("t39 LM fluency equals a driver-side bigram-LM rescore on every doc") {
    val got = q("t39_lm_fluency").collect()
      .map(r => r.getLong(0) -> r).toMap
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("source"), col("text"))
      .as[(Long, String, String)].collect()
    def toks(text: String): Array[String] =
      if (text.trim.isEmpty) Array.empty else text.trim.toLowerCase.split("\\s+")
    val ref = docs.filter(_._2 == "src0")
    assert(ref.nonEmpty && docs.exists(_._2 != "src0"))
    val refTrans = ref.flatMap { case (_, _, t) =>
      val tk = toks(t); tk.zip(tk.drop(1))
    }
    val big = refTrans.groupBy(identity).map { case (k, v) => k -> v.length.toLong }
    val ctx = refTrans.groupBy(_._1).map { case (k, v) => k -> v.length.toLong }
    val v = ref.flatMap { case (_, _, t) => toks(t) }.distinct.length.toLong
    val scored = docs.filter(_._2 != "src0")
    assert(got.size == scored.length)
    scored.foreach { case (id, _, text) =>
      val tk = toks(text)
      val trans = tk.zip(tk.drop(1))
      val nHit = trans.count(big.contains)
      val nOov = trans.count(p => !ctx.contains(p._1))
      val invP = trans.map(p =>
        (ctx.getOrElse(p._1, 0L) + v) / (big.getOrElse(p, 0L) + 1L)).sum
      val r = got(id)
      assert(r.getAs[Long]("n_trans") == trans.length, s"doc $id n_trans")
      assert(r.getAs[Long]("n_hit") == nHit, s"doc $id n_hit")
      assert(r.getAs[Long]("n_oov_ctx") == nOov, s"doc $id n_oov_ctx")
      assert(r.getAs[Long]("inv_p_sum") == invP, s"doc $id inv_p_sum")
      val (hr, px) =
        if (trans.isEmpty) (0.0, 0.0)
        else (nHit.toDouble / trans.length, invP.toDouble / trans.length)
      assert(r.getAs[Double]("hit_ratio") == hr, s"doc $id hit_ratio")
      assert(r.getAs[Double]("ppx_proxy") == px, s"doc $id ppx_proxy")
      assert(r.getAs[Boolean]("keep") ==
        (trans.nonEmpty && nHit * 4 >= trans.length * 3), s"doc $id keep")
    }
  }

  test("e04 k-means step: means equal builtin avg per (cluster, dim), sizes equal e03's") {
    val got = q("e04_kmeans_step")
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"), VF.toDouble(col("embedding")).as("v"))
    val assigned = e.select(col("vec_id"), col("v"),
        array((0 until 16).map(c => VF.dot(col("v"), lit(VF.centroid(c, 64)))): _*).as("dots"))
      .select(col("vec_id"), col("v"),
        array_position(col("dots"), array_max(col("dots"))).cast("int").as("cid"))
    val expected = assigned
      .select(col("cid"), posexplode(col("v")).as(Seq("dim", "val")))
      .groupBy(col("cid"), col("dim"))
      .agg(count(lit(1)).as("n"), avg(col("val")).as("m"))
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> (r.getLong(2), r.getDouble(3))).toMap
    val rows = got.collect()
    assert(rows.length == expected.size)
    rows.foreach { r =>
      val (n, m) = expected((r.getInt(0), r.getInt(1)))
      assert(r.getAs[Long]("n_members") == n)
      assert(math.abs(r.getAs[Double]("mean_val") - m) < 1e-9)
    }
  }

  test("e12 embedding drift: counts split the corpus, cosine matches a " +
       "driver-side centroid recompute, self-drift is exactly 1") {
    val got = q("e12_embedding_drift")
      .as[(Int, Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    val vecs = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"), col("label"), VF.toDouble(col("embedding")).as("v"))
      .as[(Long, Int, Seq[Double])].collect()
    val byLabel = vecs.groupBy(_._2)
    assert(got.keySet == byLabel.keySet)
    byLabel.foreach { case (label, members) =>
      val (_, nA, nB, cos) = got(label)
      val (as, bs) = members.partition(_._1 % 2 == 0)
      assert(nA == as.length && nB == bs.length)
      def centroid(xs: Seq[(Long, Int, Seq[Double])]): Array[Double] = {
        val dim = xs.head._3.length
        val c = Array.fill(dim)(0.0)
        // vec_id-ordered fold per dimension — the operator's pinned order
        xs.sortBy(_._1).foreach(x => (0 until dim).foreach(d => c(d) += x._3(d)))
        c.map(_ / xs.length)
      }
      val (ca, cb) = (centroid(as), centroid(bs))
      var dot = 0.0; var na = 0.0; var nb = 0.0
      (ca.indices).foreach { d =>
        dot += ca(d) * cb(d); na += ca(d) * ca(d); nb += cb(d) * cb(d)
      }
      assert(cos == dot / (math.sqrt(na) * math.sqrt(nb)),
        s"label $label centroid cosine drifted from the pinned recompute")
      assert(cos >= -1.0 && cos <= 1.0)
    }
  }

  test("d16 release manifest: exactly the kept-verdict docs that pass the " +
       "model gate, scores carried through unchanged") {
    val released = q("d16_corpus_release")
      .as[(Long, Double)].collect().toMap
    val kept = q("d13_dedup_verdict")
      .filter(col("verdict") === "kept")
      .select(col("doc_id")).as[Long].collect().toSet
    val gate = q("t27_quality_classifier")
      .filter(col("keep")).select(col("doc_id"), col("score"))
      .as[(Long, Double)].collect().toMap
    assert(released.keySet == (kept & gate.keySet))
    released.foreach { case (id, s) => assert(s == gate(id)) }
    assert(released.nonEmpty)
  }

  test("e13 embedding outliers: z-scores match a driver-side pinned " +
       "recompute, flags are exactly the z > 2 rows") {
    val got = q("e13_embedding_outliers")
      .as[(Long, Int, Double, Double, Boolean)].collect()
    assert(got.forall(r => r._5 == (r._4 > 2.0)))
    val vecs = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"), col("label"), VF.toDouble(col("embedding")).as("v"))
      .as[(Long, Int, Seq[Double])].collect()
    val byLabel = vecs.groupBy(_._2)
    val zs = got.map(r => r._1 -> r._4).toMap
    byLabel.foreach { case (_, members) =>
      val sorted = members.sortBy(_._1)
      val dim = sorted.head._3.length
      val c = Array.fill(dim)(0.0)
      sorted.foreach(m => (0 until dim).foreach(d => c(d) += m._3(d)))
      val cm = c.map(_ / sorted.length)
      def dist(v: Seq[Double]): Double = {
        var acc = 0.0
        (0 until dim).foreach(d => acc += (v(d) - cm(d)) * (v(d) - cm(d)))
        math.sqrt(acc)
      }
      var sd = 0.0
      sorted.foreach(m => sd += dist(m._3))
      val mu = sd / sorted.length
      var ss = 0.0
      sorted.foreach(m => ss += (dist(m._3) - mu) * (dist(m._3) - mu))
      val sigma = math.sqrt(ss / sorted.length)
      sorted.foreach { m =>
        assert(zs(m._1) == (dist(m._3) - mu) / sigma,
          s"z drift for vec ${m._1}")
      }
    }
    // the 2-sigma rule flags a minority tail, never the bulk
    assert(got.count(_._5) < got.length / 4)
  }

  test("e05 PQ codes: 8 digits in [0,16) matching brute-force argmin sub-centroids") {
    val got = q("e05_pq_code").as[(Long, String)].collect().toMap
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"), VF.toDouble(col("embedding")).as("v"))
      .as[(Long, Seq[Double])].collect()
    assert(got.size == e.length && e.nonEmpty)
    e.foreach { case (id, v) =>
      val code = (0 until 8).map { mi =>
        val sub = v.slice(mi * 8, mi * 8 + 8)
        val dists = (0 until 16).map { c =>
          sub.zip(VF.centroid(1000 + mi * 16 + c, 8))
            .map { case (x, y) => (x - y) * (x - y) }.sum
        }
        dists.indexOf(dists.min)
      }.mkString(",")
      assert(got(id) == code, s"vec $id")
    }
  }

  test("j04 incremental-agg merge is bit-identical to the full recompute") {
    val got = q("j04_incremental_agg")
      .as[(Long, Long, Double)].collect().toSet
    val full = spark.read.parquet(s"$dir/orders.parquet")
      .groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast(DecimalType(18, 2)))
          .cast("double").as("total_price"))
      .as[(Long, Long, Double)].collect().toSet
    assert(got == full && got.nonEmpty)
  }

  test("q44 SCD2: intervals chain per user and exactly one row is open") {
    val rows = q("q44_scd2_history")
      .select(col("user_id"), col("valid_from"), col("valid_to"), col("is_current"))
      .collect()
      .groupBy(_.getLong(0))
    rows.foreach { case (_, rs) =>
      val sorted = rs.sortBy(_.getTimestamp(1).getTime)
      // consecutive rows: this row's valid_to == next row's valid_from
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          assert(a.getTimestamp(2) == b.getTimestamp(1))
        case _ =>
      }
      assert(sorted.count(_.getBoolean(3)) == 1)
      assert(sorted.last.isNullAt(2))
    }
  }

  test("q45 funnel: stage timestamps are strictly ordered and stage is consistent") {
    val rows = q("q45_funnel").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (tv, tc, tp) = (r.getTimestamp(1), r.getTimestamp(2), r.getTimestamp(3))
      val stage = r.getInt(4)
      if (tp != null) { assert(stage == 3 && tc != null && tv != null) }
      else if (tc != null) assert(stage == 2 && tv != null)
      else if (tv != null) assert(stage == 1)
      else assert(stage == 0)
      if (tc != null) assert(tc.after(tv))
      if (tp != null) assert(tp.after(tc))
    }
  }

  test("q46 retention: the week-0 cell equals the cohort size") {
    val ret = q("q46_retention").collect()
      .map(r => (r.getTimestamp(0), r.getLong(1)) -> r.getLong(2)).toMap
    val cohorts = NorthStar.eventsTable(spark, dir)
      .groupBy(col("user_id")).agg(date_trunc("week", min(col("ts"))).as("cw"))
      .groupBy(col("cw")).count().collect()
      .map(r => r.getTimestamp(0) -> r.getLong(1)).toMap
    assert(cohorts.nonEmpty)
    cohorts.foreach { case (cw, n) => assert(ret((cw, 0L)) == n, s"cohort $cw") }
  }

  test("g02 pagerank: deterministic across runs, every rank >= the teleport floor") {
    val a = q("g02_pagerank").as[(Long, Long)].collect().toMap
    val b = q("g02_pagerank").as[(Long, Long)].collect().toMap
    assert(a == b && a.nonEmpty)
    assert(a.values.forall(_ >= 150000000000L))
    // truncating integer division only loses mass: total stays under n·scale
    assert(a.values.map(BigInt(_)).sum <= BigInt(a.size) * BigInt(1000000000000L))
  }

  test("t20 packing: every window is exactly full (except the last), docs fully covered") {
    val rows = q("t20_pack_sequences")
      .select(col("doc_id"), col("window_id"), col("n_toks"))
      .as[(Long, Long, Long)].collect()
    val perWindow = rows.groupBy(_._2).view.mapValues(_.map(_._3).sum).toMap
    val lastW = perWindow.keys.max
    perWindow.foreach { case (w, n) =>
      if (w != lastW) assert(n == 512L, s"window $w holds $n tokens")
      else assert(n > 0 && n <= 512L)
    }
    val perDoc = rows.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
    val expected = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"),
        graft.functions.TextFunctions.tokenCount(col("text")).cast("long").as("n"))
      .filter(col("n") > 0).as[(Long, Long)].collect().toMap
    assert(perDoc == expected, "every token of every doc lands in exactly one window span")
  }

  test("s05 MIPS reduction law: augmented-cosine ranking equals direct dot top-k") {
    val got = q("s05_mips").select(col("vec_id")).as[Long].collect().toSeq
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"), VF.toDouble(col("embedding")).as("v"))
    val qv = e.filter(col("vec_id") === 1).select(col("v")).as[Seq[Double]].head().toArray
    val direct = e.select(col("vec_id"), VF.dot(col("v"), lit(qv)).as("ip"))
      .orderBy(col("ip").desc, col("vec_id"))
      .limit(10).select(col("vec_id")).as[Long].collect().toSeq
    assert(got == direct)
  }

  test("a03 histogram quantiles bracket the exact percentiles within one bucket") {
    val exact = q("q43_percentiles").collect()
      .map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2), r.getDouble(3))).toMap
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
    val Array(lo, hi) = li.agg(min(col("l_extendedprice")), max(col("l_extendedprice")))
      .collect().head.toSeq.map(_.asInstanceOf[Double]).toArray
    val width = (hi - lo) / 64
    q("a03_histogram_quantiles").collect().foreach { r =>
      val (e50, e90, e99) = exact(r.getString(0))
      Seq((r.getDouble(1), e50), (r.getDouble(2), e90), (r.getDouble(3), e99))
        .foreach { case (est, ex) =>
          assert(est >= ex - 1e-9 && est <= ex + width + 1e-9,
            s"estimate $est not within one bucket above exact $ex")
        }
    }
  }

  test("a02 count-min: estimate is always >= the exact count (one-sided error)") {
    val rows = q("a02_countmin")
      .select(col("n_exact"), col("est_count")).as[(Long, Long)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (n, est) => assert(est >= n) }
  }

  test("q47 outliers: every flagged row's |z| exceeds the threshold, z matches moments") {
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
    val stats = li.groupBy(col("l_returnflag"))
      .agg(avg(col("l_extendedprice")).as("m"),
        stddev_samp(col("l_extendedprice")).as("sd"))
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    val rows = q("q47_outliers").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (m, sd) = stats(r.getString(2))
      val z = (r.getDouble(3) - m) / sd
      assert(math.abs(r.getDouble(4) - z) < 1e-9)
      assert(math.abs(r.getDouble(4)) > 1.7)
    }
  }

  test("d14 incremental probe equals the corpus-wide pairs restricted to cross-parity") {
    val got = q("d14_incremental_neardup")
      .select(col("doc_new"), col("doc_existing"), col("jaccard"))
      .as[(Long, Long, Double)].collect().toSet
    val full = q("d03_jaccard_pairs").as[(Long, Long, Double)].collect()
    // d03 emits (min, max); reorient to (odd=new, even=existing)
    val expected = full.collect {
      case (a, b, j) if a % 2 != b % 2 =>
        if (a % 2 == 1) (a, b, j) else (b, a, j)
    }.toSet
    assert(got == expected && got.nonEmpty)
  }

  test("s04 k-NN join: equals brute-force window top-3 and plans no cartesian") {
    val res = q("s04_knn_join")
    val got = res.as[(Long, Long, Double)].collect().toSet
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"), VF.toDouble(col("embedding")).as("v"))
      .withColumn("nrm", sqrt(VF.normSq(col("v"))))
    val w = Window.partitionBy(col("vec_id")).orderBy(col("score").desc, col("neighbor_id"))
    val brute = e.as("a").join(e.as("b"), col("a.vec_id") =!= col("b.vec_id"))
      .select(col("a.vec_id").as("vec_id"), col("b.vec_id").as("neighbor_id"),
        (VF.dot(col("a.v"), col("b.v")) / (col("a.nrm") * col("b.nrm"))).as("score"))
      .withColumn("rn", row_number().over(w)).filter(col("rn") <= 3)
      .select(col("vec_id"), col("neighbor_id"), col("score"))
      .as[(Long, Long, Double)].collect().toSet
    assert(got == brute && got.nonEmpty)
    val plan = res.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"block-partitioned s04 must not plan a cartesian:\n$plan")
  }

  test("m03 frame sampling: strided full-frame indices and FNV checksums recompute") {
    val got = q("m03_frame_sample").collect()
      .groupBy(_.getLong(0)).map { case (id, rs) =>
        id -> rs.map(r => r.getLong(1) -> r.getLong(2)).toMap }
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("text")).as[(Long, String)].collect()
    val withFrames = docs.filter(_._2.length >= 16)
    assert(withFrames.nonEmpty && got.size == withFrames.length)
    withFrames.foreach { case (id, text) =>
      val idxs = (0 until text.length / 16 by 4).map(_.toLong)
      val frames = got(id)
      assert(frames.keySet == idxs.toSet, s"doc $id")
      idxs.foreach { i =>
        val bytes = text.substring(i.toInt * 16, i.toInt * 16 + 16).getBytes("UTF-8")
        assert(frames(i) == Fnv.hashBytes(bytes), s"doc $id frame $i")
      }
    }
  }

  test("g04 BFS: hop 0/1 exact, bipartite parity, all hops within depth, deterministic") {
    val off = 10000000L
    val a = q("g04_bfs_hops").as[(Long, Int)].collect().toMap
    val b = q("g04_bfs_hops").as[(Long, Int)].collect().toMap
    assert(a == b && a.nonEmpty)
    assert(a(1L) == 0)
    assert(a.values.forall(h => h >= 0 && h <= 4))
    // suppliers sit at even hops, parts at odd — the graph is bipartite
    a.foreach { case (n, h) =>
      if (n >= off) assert(h % 2 == 1, s"part node $n at even hop $h")
      else assert(h % 2 == 0, s"supplier node $n at odd hop $h")
    }
    // the hop-1 frontier is exactly supplier 1's distinct part set
    val parts1 = spark.read.parquet(s"$dir/lineitem.parquet")
      .filter(col("l_suppkey") === 1).select(col("l_partkey")).distinct()
      .as[Long].collect().map(_ + off).toSet
    assert(a.filter(_._2 == 1).keySet == parts1)
  }

  test("e07 SemDeDup equals the brute-force within-cluster min-id survivor set") {
    val dim = 64; val nC = 16
    val vecs = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"), VF.toDouble(col("embedding")).as("v"))
      .as[(Long, Seq[Double])].collect().sortBy(_._1)
    def dot(a: Seq[Double], b: Seq[Double]): Double = {
      var acc = 0.0; var i = 0
      while (i < a.length) { acc += a(i) * b(i); i += 1 }; acc
    }
    val cents = (0 until nC).map(c => VF.centroid(c, dim))
    // first-max-wins, mirroring array_position(dots, array_max(dots))
    val cid = vecs.map { case (id, v) =>
      val dots = cents.map(dot(v, _)); id -> (dots.indexOf(dots.max) + 1)
    }.toMap
    val dropped = (for {
      (ia, va) <- vecs; (ib, vb) <- vecs
      if ia < ib && cid(ia) == cid(ib)
      if dot(va, vb) / (math.sqrt(dot(va, va)) * math.sqrt(dot(vb, vb))) >= 0.45
    } yield ib).toSet
    val got = q("e07_semdedup").as[(Long, Int, Boolean)].collect()
    assert(got.length == vecs.length)
    got.foreach { case (id, c, kept) =>
      assert(c == cid(id), s"vec $id centroid")
      assert(kept == !dropped(id), s"vec $id kept flag")
    }
    assert(dropped.nonEmpty, "corpus should contain at least one semantic dup")
  }

  test("s09 RRF: fused scores recompute from the rank columns and order the output") {
    val rows = q("s09_hybrid_rrf").collect()
    assert(rows.length == 10)
    val scores = rows.map { r =>
      val rs = if (r.isNullAt(1)) None else Some(r.getInt(1))
      val rd = if (r.isNullAt(2)) None else Some(r.getInt(2))
      assert(rs.nonEmpty || rd.nonEmpty)
      (rs.toSeq ++ rd.toSeq).foreach(k => assert(k >= 1 && k <= 50))
      val expected = rs.map(k => 1.0 / (60 + k)).getOrElse(0.0) +
        rd.map(k => 1.0 / (60 + k)).getOrElse(0.0)
      assert(r.getDouble(3) == expected, s"doc ${r.getLong(0)} rrf")
      r.getDouble(3)
    }
    assert(scores.sameElements(scores.sortBy(-_)), "output ordered by fused score")
    // the dense arm's rank-1 candidate is the query vector itself (cosine 1
    // with vec 0), and nothing can out-fuse a rank-1 + any sparse rank …
    // but at minimum vec 0 must survive into the fused top-10
    assert(rows.exists(_.getLong(0) == 0L), "query doc fused out of top-10")
  }

  test("t23 n-gram novelty equals the brute-force distinct-shingle df computation") {
    val texts = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("text")).as[(Long, String)].collect()
    def sh(t: String): Set[String] = {
      val tks = t.trim.toLowerCase.split("\\s+").toSeq.filter(_.nonEmpty)
      if (tks.size < 3) Set(tks.mkString(" "))
      else tks.sliding(3).map(_.mkString(" ")).toSet
    }
    val grams = texts.map { case (id, t) => id -> sh(t) }
    val dfreq = grams.flatMap(_._2).groupBy(identity).map { case (g, o) => g -> o.size }
    val expected = grams.map { case (id, gs) =>
      val dup = gs.count(dfreq(_) >= 2)
      id -> ((gs.size.toLong, dup.toLong, 1.0 - dup.toDouble / gs.size))
    }.toMap
    val got = q("t23_ngram_novelty").as[(Long, Long, Long, Double)].collect()
    assert(got.length == texts.length)
    got.foreach { case (id, n, dup, nov) =>
      assert((n, dup, nov) == expected(id), s"doc $id")
    }
    assert(got.exists(_._3 > 0), "corpus should contain some duplicated grams")
  }

  test("t23: a document whose text is NULL emits no row; the other rows are unchanged") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_t23").toString
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    docs.unionByName(docs.limit(1)
        .withColumn("doc_id", lit(-1L)).withColumn("text", lit(null).cast("string")))
      .write.parquet(s"$tmp/documents.parquet")
    def rows(d: String) =
      SparkEntry.queries("t23_ngram_novelty")(spark, d).as[(Long, Long, Long, Double)].collect()
    val got = rows(tmp)
    assert(!got.exists(_._1 == -1L), "the NULL-text document emitted a row")
    assert(got.toSet == rows(dir).toSet)
    NorthStar.releaseCaches(spark, tmp)
  }

  test("a04 HLL registers and raw estimate replay exactly; error is sketch-bounded") {
    val ev = spark.read.parquet(s"$dir/events.parquet")
      .select(col("event_type"), col("user_id")).as[(String, Long)].collect()
    def rho(h: Long): Int =
      (6 to 37).find(k => (h & (1L << k)) != 0L).map(_ - 5).getOrElse(33)
    val expected = ev.distinct.groupBy(_._1).map { case (et, rows) =>
      val regs = rows.map(_._2)
        .map(u => Fnv.hashBytes(u.toString.getBytes("UTF-8")))
        .groupBy(h => (h & 63L).toInt).map { case (j, hs) => j -> hs.map(rho).max }
      val sumPresent = regs.values.map(m => math.pow(2.0, -m)).sum
      val est = 0.709 * 4096.0 / (sumPresent + (64 - regs.size).toDouble)
      et -> ((rows.map(_._2).distinct.length.toLong, (64 - regs.size).toLong, est))
    }
    val got = q("a04_hll_sketch").as[(String, Long, Long, Double)].collect()
    assert(got.length == expected.size)
    got.foreach { case (et, nExact, nZero, est) =>
      assert((nExact, nZero, est) == expected(et), s"event_type $et")
      // the operator emits the RAW estimate + V; apply the consumer-side
      // linear-counting correction (n ≪ m regime) before bounding the
      // error at 3·(1.04/√64) ≈ 0.39
      val corrected =
        if (est <= 2.5 * 64 && nZero > 0) 64.0 * math.log(64.0 / nZero) else est
      assert(math.abs(corrected - nExact) / nExact < 0.39,
        s"$et corrected=$corrected exact=$nExact")
    }
  }

  test("law: degree-ordered triangleStats equals brute force on random graphs") {
    val rnd = new scala.util.Random(42)
    for (trial <- 1 to 5) {
      val n = 8 + rnd.nextInt(12)
      val edges = (for {
        u <- 0 until n; v <- u + 1 until n if rnd.nextDouble() < 0.3
      } yield (u.toLong, v.toLong)).toSeq
      val es = edges.toSet
      val expectedTri = (for {
        u <- 0 until n; v <- u + 1 until n; w <- v + 1 until n
        if es((u, v)) && es((u, w)) && es((v, w))
      } yield 1).size.toLong
      val deg = edges.flatMap { case (u, v) => Seq(u, v) }
        .groupBy(identity).map(_._2.size.toLong)
      val expectedWedges = deg.map(d => d * (d - 1) / 2).sum
      val got = graft.operators.Graph
        .triangleStats(edges.toDF("u", "v")).collect().head
      assert(got.getLong(0) == expectedTri, s"trial $trial triangles")
      assert(got.getLong(1) == expectedWedges, s"trial $trial wedges")
      assert(got.getDouble(2) == 3.0 * expectedTri / expectedWedges)
    }
  }

  test("triangleStats: empty graph yields zero counts + NULL clustering; oversize ids raise") {
    val empty = graft.operators.Graph.triangleStats(
      Seq.empty[(Long, Long)].toDF("u", "v")).collect().head
    assert(empty.getLong(0) == 0L, "empty-graph triangle count")
    assert(empty.getLong(1) == 0L, "empty-graph wedge count")
    assert(empty.isNullAt(2), "0/0 clustering must be NULL, not NaN")
    // the packed (degree << 32 | id) order key requires ids < 2^32; a
    // violating id must raise, not silently corrupt the orientation
    val ex = intercept[Exception] {
      graft.operators.Graph.triangleStats(
        Seq((1L, 1L << 33), (1L, 2L)).toDF("u", "v")).collect()
    }
    def chain(t: Throwable): String =
      if (t == null) "" else t.toString + "|" + chain(t.getCause)
    assert(chain(ex).contains("2^32"), s"unexpected failure: ${chain(ex)}")
  }

  test("t24 global shuffle: pos is a dense 1..n permutation in hash order, stable") {
    val rows = q("t24_global_shuffle")
      .as[(Long, Long, Long)].collect().sortBy(_._3)
    assert(rows.map(_._3).sameElements(1L to rows.length))
    // pos order is exactly (shuffle_key, doc_id) order
    val keys = rows.map(r => (r._2, r._1))
    assert(keys.sameElements(keys.sorted), "pos order != (shuffle_key, doc_id) order")
    // deterministic: a second evaluation assigns identical positions
    val again = q("t24_global_shuffle").as[(Long, Long, Long)].collect().sortBy(_._3)
    assert(rows.sameElements(again))
    // the hash key actually permutes (not the natural id order)
    assert(!rows.map(_._1).sameElements(rows.map(_._1).sorted))
  }

  test("t25 rag chunks: stride-aligned, half-overlapping, lossless cover") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("text")).as[(Long, String)].collect().toMap
    def toks(t: String): Seq[String] = {
      val tt = t.trim.toLowerCase
      if (tt.isEmpty) Seq.empty else tt.split("\\s+").toSeq
    }
    val chunks = q("t25_rag_chunk")
      .as[(Long, Long, Long, Long, String)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._2)).toMap
    assert(chunks.keySet == docs.keySet, "every doc emits at least one chunk")
    chunks.foreach { case (id, cs) =>
      val tk = toks(docs(id))
      // starts are exactly 0, 16, 32, … while < max(n, 1)
      assert(cs.map(_._3).sameElements(
        0L until math.max(tk.length, 1).toLong by 16L), s"doc $id starts")
      cs.foreach { case (_, idx, start, nTok, text) =>
        assert(idx == start / 16 && nTok <= 32)
        assert(text == tk.slice(start.toInt, start.toInt + 32).mkString(" "),
          s"doc $id chunk $idx")
      }
      // even-indexed chunks tile the doc exactly (stride 2 × 16 = width)
      val even = cs.filter(_._2 % 2 == 0).map(_._5).filter(_.nonEmpty)
      assert(even.mkString(" ") == tk.mkString(" "), s"doc $id even-chunk tiling")
    }
  }

  test("e09 prototype prune: per-cluster 20% hardest-boundary rule, exact") {
    val rows = q("e09_prototype_prune")
      .as[(Long, Int, Double, Boolean)].collect()
    assert(rows.length == 500)
    rows.groupBy(_._2).foreach { case (cid, cl) =>
      val cut = math.ceil(0.2 * cl.length).toLong
      assert(cl.count(!_._4) == cut, s"cluster $cid pruned count")
      // pruned set = the cut most-prototypical under (cos desc, vec_id)
      val ordered = cl.sortBy(r => (-r._3, r._1))
      assert(ordered.take(cut.toInt).forall(!_._4), s"cluster $cid pruned head")
      assert(ordered.drop(cut.toInt).forall(_._4), s"cluster $cid kept tail")
    }
  }

  test("q61 lateral: equals the window-function top-2-per-nation formulation") {
    val got = q("q61_lateral")
      .as[(String, String, Double)].collect().toSet
    val c = spark.read.parquet(s"$dir/customer.parquet")
    val n = spark.read.parquet(s"$dir/nation.parquet")
    val w = Window.partitionBy(col("n_nationkey"))
      .orderBy(col("c_acctbal").desc, col("c_name"))
    val expected = n.join(c, col("n_nationkey") === col("c_nationkey"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 2)
      .select(col("n_name"), col("c_name"), col("c_acctbal"))
      .as[(String, String, Double)].collect().toSet
    assert(got == expected && got.nonEmpty)
  }

  test("q62 higher-order: scalars agree with a driver-side recomputation per order") {
    val rows = q("q62_higher_order")
      .as[(Long, Int, Int, Double, Double, Int, String)].collect()
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
      .as[(Long, Int, Double)].collect()
      .groupBy(_._1).view.mapValues(_.map(r => (r._2, r._3)).sorted.map(_._2)).toMap
    assert(rows.length == li.size)
    rows.foreach { case (ok, nItems, nHeavy, total, posW, nDist, last3) =>
      val qs = li(ok)
      assert(nItems == qs.length && nHeavy == qs.count(_ > 25))
      assert(total == qs.foldLeft(0.0)(_ + _), s"order $ok total")
      assert(posW == qs.zipWithIndex.map { case (v, i) => v * (i + 1) }
        .foldLeft(0.0)(_ + _), s"order $ok pos_weighted")
      assert(nDist == qs.distinct.length)
      assert(last3 == qs.reverse.take(3).map(_.toInt).mkString(","))
    }
  }

  test("g06 degree stats: exact on hand graphs (star, path, triangle, empty)") {
    import graft.operators.Graph
    def stats(es: Seq[(Long, Long)]) = {
      val df =
        if (es.isEmpty) Seq.empty[(Long, Long)].toDF("u", "v")
        else es.toDF("u", "v")
      Graph.degreeStats(df).collect().head
    }
    // star K1,3: hub degree 3, leaves 1 — perfectly disassortative
    val star = stats(Seq((1L, 2L), (1L, 3L), (1L, 4L)))
    assert(star.getLong(0) == 4 && star.getLong(1) == 3 && star.getLong(2) == 3)
    assert(star.getDouble(3) == 1.5 && star.getDouble(4) == -1.0)
    // path a-b-c: degrees 1,2,1 — also r = -1
    assert(stats(Seq((1L, 2L), (2L, 3L))).getDouble(4) == -1.0)
    // triangle: regular graph, zero degree variance -> NULL r
    val tri = stats(Seq((1L, 2L), (2L, 3L), (1L, 3L)))
    assert(tri.getLong(2) == 2 && tri.isNullAt(4))
    // empty edge set: zero counts, NULL ratios
    val e = stats(Seq.empty)
    assert(e.getLong(0) == 0 && e.getLong(1) == 0 && e.isNullAt(3) && e.isNullAt(4))
  }

  test("law: degreeStats assortativity equals brute-force Pearson r on random graphs") {
    val rnd = new scala.util.Random(7)
    for (trial <- 1 to 5) {
      val n = 6 + rnd.nextInt(10)
      val es = (for {
        u <- 0 until n; v <- u + 1 until n if rnd.nextDouble() < 0.35
      } yield (u.toLong, v.toLong)).toSeq
      if (es.nonEmpty) {
        val row = graft.operators.Graph.degreeStats(es.toDF("u", "v")).collect().head
        val deg = es.flatMap(e => Seq(e._1, e._2)).groupBy(identity)
          .view.mapValues(_.size.toLong).toMap
        val pairs = es.flatMap(e =>
          Seq((deg(e._1), deg(e._2)), (deg(e._2), deg(e._1))))
        val m = pairs.length.toDouble
        val sx = pairs.map(_._1).sum.toDouble
        val sxx = pairs.map(p => p._1 * p._1).sum.toDouble
        val sxy = pairs.map(p => p._1 * p._2).sum.toDouble
        val den = m * sxx - sx * sx
        assert(row.getLong(0) == deg.size && row.getLong(1) == es.length)
        if (den == 0) assert(row.isNullAt(4), s"trial $trial expected NULL r")
        else assert(
          math.abs(row.getDouble(4) - (m * sxy - sx * sx) / den) < 1e-9,
          s"trial $trial assortativity")
      }
    }
  }

  test("modularity: hand graph decomposition; one-community partition scores exactly 0") {
    // two triangles joined by a bridge; labels = the two triangles.
    // m = 7, each side: 3 intra edges, degree sum 7 (2+2+3)
    val es = Seq((1L, 2L), (2L, 3L), (1L, 3L), (4L, 5L), (5L, 6L), (4L, 6L), (3L, 4L))
    val labels = Seq((1L, "a"), (2L, "a"), (3L, "a"), (4L, "b"), (5L, "b"), (6L, "b"))
    val rows = graft.operators.Graph.modularity(
        es.toDF("u", "v"), labels.toDF("vertex", "community"))
      .collect().map(r => r.getString(0) -> r).toMap
    for (c <- Seq("a", "b")) {
      val r = rows(c)
      assert(r.getLong(1) == 3 && r.getLong(2) == 7 && r.getLong(3) == 3, s"moments $c")
      assert(math.abs(r.getDouble(4) - (3.0 / 7 - 0.25)) < 1e-15, s"q_contrib $c")
    }
    // degenerate partition: everything in one community -> e_c = m,
    // d_c = 2m -> q = m/m - 1² = 0 EXACTLY (both divisions are exact)
    val one = graft.operators.Graph.modularity(
        es.toDF("u", "v"),
        labels.map { case (v, _) => (v, "all") }.toDF("vertex", "community"))
      .collect()
    assert(one.length == 1 && one.head.getDouble(4) == 0.0, "one-community Q")
  }

  test("law: modularity equals brute force on random graphs with random labels") {
    val rnd = new scala.util.Random(11)
    for (trial <- 1 to 5) {
      val n = 6 + rnd.nextInt(10)
      val es = (for {
        u <- 0 until n; v <- u + 1 until n if rnd.nextDouble() < 0.35
      } yield (u.toLong, v.toLong)).toSeq
      if (es.nonEmpty) {
        val lab = (0 until n).map(v => (v.toLong, s"c${rnd.nextInt(3)}"))
        val labOf = lab.toMap
        val got = graft.operators.Graph.modularity(
            es.toDF("u", "v"), lab.toDF("vertex", "community"))
          .collect().map(r => r.getString(0) ->
            (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
        val m = es.length.toDouble
        val deg = es.flatMap(e => Seq(e._1, e._2)).groupBy(identity)
          .view.mapValues(_.size.toLong).toMap
        val verts = deg.keySet
        val byComm = verts.groupBy(labOf)
        assert(got.keySet == byComm.keySet, s"trial $trial community set")
        for ((c, vs) <- byComm) {
          val dsum = vs.toSeq.map(deg).sum
          val intra = es.count(e => labOf(e._1) == c && labOf(e._2) == c).toLong
          val (gn, gd, gi, gq) = got(c)
          assert(gn == vs.size && gd == dsum && gi == intra, s"trial $trial moments $c")
          val want = intra / m - (dsum / (2 * m)) * (dsum / (2 * m))
          assert(math.abs(gq - want) < 1e-12, s"trial $trial q_contrib $c")
        }
      }
    }
  }

  test("labelPropagation: two triangles + bridge settle into their triangles; law vs simulator") {
    def simulate(es: Seq[(Long, Long)], rounds: Int): Map[Long, Long] = {
      val nbrs = (es ++ es.map(_.swap)).groupBy(_._1).view
        .mapValues(_.map(_._2)).toMap
      var lab = nbrs.keys.map(v => v -> v).toMap
      for (_ <- 1 to rounds) {
        lab = nbrs.map { case (v, ns) =>
          val counts = ns.map(lab).groupBy(identity).view.mapValues(_.size)
          // max count, ties to smallest label
          v -> counts.toSeq.maxBy { case (l, c) => (c, -l) }._1
        }
      }
      lab
    }
    val hand = Seq((1L, 2L), (2L, 3L), (1L, 3L), (4L, 5L), (5L, 6L), (4L, 6L), (3L, 4L))
    val got = graft.operators.Graph.labelPropagation(hand.toDF("u", "v"), 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.map(_._1).toSet == Set(1L, 2L, 3L, 4L, 5L, 6L))
    val byComm = got.groupBy(_._2).view.mapValues(_.map(_._1).toSet).toMap
    assert(byComm == Map(1L -> Set(1L, 2L, 3L), 3L -> Set(4L, 5L, 6L)), s"hand graph: $byComm")
    got.foreach { case (_, c, sz) => assert(sz == byComm(c).size.toLong, "community_size") }
    val rnd = new scala.util.Random(23)
    for (trial <- 1 to 5) {
      val n = 6 + rnd.nextInt(10)
      val es = (for {
        u <- 0 until n; v <- u + 1 until n if rnd.nextDouble() < 0.3
      } yield (u.toLong, v.toLong)).toSeq
      if (es.nonEmpty) {
        val rounds = 1 + rnd.nextInt(4)
        val want = simulate(es, rounds)
        val lpa = graft.operators.Graph.labelPropagation(es.toDF("u", "v"), rounds)
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(lpa == want, s"trial $trial rounds=$rounds")
      }
    }
  }

  test("personalizedPageRank: integer law vs simulator; zero outside the seed neighborhood") {
    def simulate(es: Seq[(Long, Long)], seeds: Set[Long], iters: Int,
                 scale: Long): Map[Long, Long] = {
      val nodes = es.map(_._1).toSet
      val deg = es.groupBy(_._1).view.mapValues(_.size.toLong).toMap
      var rank = nodes.map(n => n -> (if (seeds(n)) scale else 0L)).toMap
      for (_ <- 1 to iters) {
        val in = scala.collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
        for ((s2, d) <- es) in(d) += rank(s2) / deg(s2)
        rank = nodes.map(n => n ->
          ((if (seeds(n)) scale * 15 / 100 else 0L) + 85 * in(n) / 100)).toMap
      }
      rank
    }
    // hand graph: undirected chain 1-2-3-4 plus isolated pair 8-9; seed 1
    val chain = Seq((1L, 2L), (2L, 3L), (3L, 4L), (8L, 9L))
    val both = chain ++ chain.map(_.swap)
    val got = graft.operators.Graph.personalizedPageRank(
      both.toDF("src", "dst"), Seq(1L).toDF("node"), iters = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == simulate(both, Set(1L), 3, 1000000000000L), "hand chain")
    // the walk reaches the whole seed component by iter 3 (hop ≤ 3), the
    // 1-hop neighbor far outranks the 3-hop tail (strict per-hop
    // monotonicity needs the converged limit — finite iterations
    // oscillate on bipartite chains), and the disconnected component
    // stays at EXACTLY zero (integer rank, no float floor)
    assert(Seq(2L, 3L, 4L).forall(got(_) > 0L), s"reach: $got")
    assert(got(2L) > got(4L), s"1-hop vs 3-hop: $got")
    assert(got(8L) == 0L && got(9L) == 0L, "disconnected stays exactly 0")
    val rnd = new scala.util.Random(41)
    for (trial <- 1 to 5) {
      val n = 5 + rnd.nextInt(8)
      val es = (for {
        u <- 0 until n; v <- 0 until n
        if u != v && rnd.nextDouble() < 0.3
      } yield (u.toLong, v.toLong)).toSeq
      if (es.nonEmpty) {
        val srcs = es.map(_._1).distinct
        val seeds = rnd.shuffle(srcs).take(1 + rnd.nextInt(2)).toSet
        // the final trial is PINNED to 5 rounds so the every-4-rounds
        // checkpoint branch (i % 4 == 0 && i < iters, i.e. iters >= 5)
        // is deterministically exercised, not left to the RNG
        val iters = if (trial == 5) 5 else 1 + rnd.nextInt(6)
        val want = simulate(es, seeds, iters, 1000000000000L)
        val ppr = graft.operators.Graph.personalizedPageRank(
          es.toDF("src", "dst"), seeds.toSeq.toDF("node"), iters)
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(ppr == want, s"trial $trial seeds=$seeds iters=$iters")
      }
    }
  }

  test("bandedHammingPairs: exact vs brute force on planted near-dups") {
    val rnd = new scala.util.Random(7)
    val base = (0 until 40).map(i => i.toLong -> rnd.nextLong())
    // planted: 0..6 bit flips of random base hashes (flip collisions can
    // only LOWER the distance — brute force below is the ground truth),
    // including flips=0 exact-dup copies that exercise the same-value arm
    val planted = (0 until 12).map { i =>
      var h = base(rnd.nextInt(base.size))._2
      (0 until rnd.nextInt(7)).foreach(_ => h ^= 1L << rnd.nextInt(64))
      (100L + i) -> h
    }
    val all = base ++ planted
    val got = graft.operators.Dedup.bandedHammingPairs(
      all.toDF("doc_id", "afp"), "doc_id", "afp", maxHamming = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val want = (for {
      (ia, ha) <- all; (ib, hb) <- all if ia < ib
      d = java.lang.Long.bitCount(ha ^ hb) if d <= 6
    } yield (ia, ib, d)).toSet
    assert(want.nonEmpty, "degenerate trial: no qualifying pairs planted")
    assert(got == want, s"missing=${want -- got} extra=${got -- want}")
  }

  test("s17 filtered search: postfilter hits are a PREFIX of the prefilter ranking") {
    val rows = q("s17_filtered_topk").collect()
    def ranked(m: String) = rows.filter(_.getString(0) == m)
      .map(r => (r.getLong(1), r.getDouble(2))).sortBy(p => (-p._2, p._1)).toSeq
    val pre = ranked("prefilter")
    val post = ranked("postfilter")
    assert(pre.length == 10, "prefilter always fills k")
    assert(post.nonEmpty, "the query vector itself always survives the filter")
    assert(post.length <= 10)
    // global list and label subset share one score order, so the label
    // survivors of the global top-50 are the label subset's best m
    assert(pre.take(post.length) == post, s"not a prefix:\n$pre\n$post")
  }

  test("t31 source caps: kept tokens respect the 3% budget; under-cap sources keep everything") {
    val out = q("t31_source_caps").collect()
    val corpus = out.map(_.getLong(3)).sum
    val cap = (corpus * 0.03).toLong
    out.foreach { r =>
      val (src, nd, nk, tt, tk) =
        (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
      assert(tk <= cap, s"$src kept $tk > cap $cap")
      assert(nk <= nd && tk <= tt, s"$src kept more than it has")
      if (tt <= cap) assert(tk == tt && nk == nd, s"$src under cap must keep all")
      else assert(tk < tt, s"$src over cap must drop something")
    }
  }

  test("e14 diverse sample: per-cluster 5 least-prototypical, equals window form") {
    val got = q("e14_diverse_sample")
      .as[(Long, Int, Double)].collect()
    got.groupBy(_._2).foreach { case (cid, cl) =>
      assert(cl.length <= 5, s"cluster $cid oversize pick")
    }
    // window twin: rank ascending (hardest first), keep rn <= 5
    val scored = q("e09_prototype_prune")
      .select(col("vec_id"), col("centroid_id"), col("proto_cos"))
    val w = Window.partitionBy(col("centroid_id"))
      .orderBy(col("proto_cos").asc, col("vec_id"))
    val expected = scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 5).drop("rn")
      .as[(Long, Int, Double)].collect()
    assert(got.toSet == expected.toSet)
  }

  test("t29 normalize: output is NFC, control-free, space-collapsed; flags consistent") {
    val rows = q("t29_normalize")
      .as[(Long, String, Int, Int, Boolean)].collect()
    assert(rows.length ==
      spark.read.parquet(s"$dir/documents.parquet").count())
    rows.foreach { case (id, clean, nd, nc, changed) =>
      assert(java.text.Normalizer.isNormalized(
        clean, java.text.Normalizer.Form.NFC), s"doc $id not NFC")
      assert(!clean.exists(c => c < ' ' || c == '\u007f'), s"doc $id control char")
      assert(!clean.contains("  "), s"doc $id double space")
      assert(clean == clean.trim, s"doc $id untrimmed")
      assert(clean.length == nc, s"doc $id clean length")
      if (id % 5 == 0) {
        // BEL bytes were injected then stripped: dirty is strictly longer
        assert(changed && nd > nc, s"doc $id BEL not stripped")
      }
      if (!changed) assert(nd == nc, s"doc $id unchanged but lengths differ")
    }
    // every mod-3 doc containing 'a' was accent-decomposed, so must change
    val texts = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("text")).as[(Long, String)].collect().toMap
    rows.filter { case (id, _, _, _, _) => id % 3 == 0 && texts(id).contains("a") }
      .foreach { case (id, _, _, _, changed) => assert(changed, s"doc $id") }
  }

  test("m07 keyframes: dense scenes from frame 0, extents tile the frame count") {
    val got = q("m07_keyframes")
      .as[(Long, Int, Long, Long)].collect()
    val frames = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"),
        floor(length(col("text")) / 48).cast("long").as("doc_frames"))
      .filter(length(col("text")) >= 96)
      .as[(Long, Long)].collect().toMap
    val cuts = q("m06_scene_cut").filter(col("is_cut"))
      .select(col("doc_id"), col("frame_idx"))
      .as[(Long, Long)].collect().groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    assert(got.map(_._1).toSet == frames.keySet, "one scene table per eligible doc")
    got.groupBy(_._1).foreach { case (doc, sc) =>
      val ordered = sc.sortBy(_._2)
      assert(ordered.map(_._2).toSeq == (1 to sc.length), s"doc $doc scene ids")
      assert(ordered.head._3 == 0L, s"doc $doc first keyframe")
      assert(ordered.forall(_._4 > 0), s"doc $doc empty scene")
      assert(ordered.map(_._4).sum == frames(doc), s"doc $doc extent cover")
      // non-zero keyframes are exactly m06's cut frames
      assert(ordered.map(_._3).filter(_ > 0).toSet ==
        cuts.getOrElse(doc, Set.empty[Long]).filter(_ > 0), s"doc $doc cut set")
    }
  }

  test("linkPredict: exact on the triangle-plus-pendant hand graph") {
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L)).toDF("u", "v")
    val got = graft.operators.Graph.linkPredict(edges)
      .as[(Long, Long, Long, Option[Double])].collect()
      .map(r => (r._1, r._2) -> (r._3, r._4)).toMap
    assert(got((1L, 2L)) == ((1L, Some(1.0 / 3))))  // cn = {3}, deg 3
    assert(got((1L, 3L)) == ((1L, Some(1.0 / 2))))  // cn = {2}, deg 2
    assert(got((2L, 3L)) == ((1L, Some(1.0 / 2))))  // cn = {1}, deg 2
    assert(got((3L, 4L)) == ((0L, None)))           // pendant edge
  }

  test("law: linkPredict equals brute-force common-neighbor/RA on random graphs") {
    val rnd = new scala.util.Random(11)
    for (trial <- 1 to 5) {
      val n = 6 + rnd.nextInt(10)
      val es = (for {
        u <- 0 until n; v <- u + 1 until n if rnd.nextDouble() < 0.4
      } yield (u.toLong, v.toLong)).toSeq
      if (es.nonEmpty) {
        val got = graft.operators.Graph.linkPredict(es.toDF("u", "v"))
          .as[(Long, Long, Long, Option[Double])].collect()
        val adj = scala.collection.mutable.Map[Long, Set[Long]]()
          .withDefaultValue(Set.empty)
        es.foreach { case (u, v) => adj(u) += v; adj(v) += u }
        assert(got.length == es.length, s"trial $trial row count")
        got.foreach { case (u, v, nc, ra) =>
          val cns = adj(u) intersect adj(v)
          assert(nc == cns.size, s"trial $trial edge ($u,$v) count")
          if (cns.isEmpty) assert(ra.isEmpty, s"trial $trial edge ($u,$v) NULL")
          else {
            // the operator's pinned ascending fold from 0.0, replicated
            val expected = cns.toSeq.map(w => 1.0 / adj(w).size)
              .sorted.foldLeft(0.0)(_ + _)
            assert(ra.contains(expected), s"trial $trial edge ($u,$v) ra")
          }
        }
      }
    }
  }

  test("s15 maxsim: equals a driver-side coarse-then-maxsim recompute, exact") {
    val got = q("s15_maxsim_rerank").as[(Long, Double)].collect().toSeq
    val vecs = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"), VF.toDouble(col("embedding")).as("v"))
      .as[(Long, Seq[Double])].collect()
    val qv = vecs.find(_._1 == 0).get._2
    // DotProduct's left-to-right fold from 0.0, replicated exactly
    def dot(a: Seq[Double], b: Seq[Double]): Double =
      a.indices.foldLeft(0.0)((acc, i) => acc + a(i) * b(i))
    def cos(a: Seq[Double], b: Seq[Double]): Double =
      dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b)))
    val coarse = vecs.map { case (id, v) => (id, v, cos(v, qv)) }
      .sortBy { case (id, _, c) => (-c, id) }.take(192)
    def slice(v: Seq[Double], j: Int) = v.slice(j * 16, (j + 1) * 16)
    val expected = coarse.map { case (id, v, _) =>
      val score = (0 until 4).map { i =>
        (0 until 4).map(j => cos(slice(v, j), slice(qv, i))).max
      }.reduceLeft(_ + _)
      (id, score)
    }.sortBy { case (id, sc) => (-sc, id) }.take(10).toSeq
    assert(got == expected)
  }

  test("d17 bloom gate: one-sided error, re-ingests all caught, d08 parity") {
    val got = q("d17_bloom_gate")
      .as[(Long, String, Boolean, Boolean)].collect()
    // no false negatives, ever
    got.foreach { case (id, _, maybe, dup) =>
      if (dup) assert(maybe, s"doc $id: false negative")
    }
    // every re-ingested row is an exact copy of a src0 doc → is_dup
    val re = got.filter(_._2 == "re0")
    assert(re.nonEmpty && re.forall(_._4), "re-ingest slice must all be dups")
    // the genuine arrivals' non-dup set is exactly d08's output
    val d08 = q("d08_incremental_dedup").as[(Long, String)].collect().map(_._1).toSet
    val newIds = got.filter(r => r._2 != "re0" && !r._4).map(_._1).toSet
    assert(newIds == d08)
  }

  test("m09 image near-dup equals brute-force hamming <= 6 over m05 hashes") {
    val got = q("m09_image_neardup").as[(Long, Long, Int)].collect().toSet
    val hashes = q("m05_image_phash").as[(Long, Option[Long])].collect()
      .collect { case (id, Some(h)) => (id, h) }
    val expected = (for {
      (a, ha) <- hashes; (b, hb) <- hashes if a < b
      d = java.lang.Long.bitCount(ha ^ hb) if d <= 6
    } yield (a, b, d)).toSet
    assert(got == expected)
  }

  test("a07 AMS sketch: counters, median-of-means, and exact F2 recompute") {
    val row = q("a07_ams_sketch").collect().head
    val per = NorthStar.eventsTable(spark, dir)
      .groupBy(col("user_id")).agg(count(lit(1)).as("n"))
      .withColumn("sig", graft.functions.Hashing.fnvMinhashSignature(
        array(col("user_id").cast("string")), 16))
      .as[(Long, Long, Seq[Long])].collect()
    val counters = Array.fill(16)(0L)
    per.foreach { case (_, n, sig) =>
      (0 until 16).foreach { j =>
        val sign = if (math.floorMod(sig(j), 2L) == 1L) 1L else -1L
        counters(j) += sign * n
      }
    }
    // integer square sums per group of 4, one double division each
    val means = (0 until 4).map { g =>
      (4 * g until 4 * g + 4).map(j => counters(j) * counters(j)).sum.toDouble / 4.0
    }.sorted
    val est = (means(1) + means(2)) / 2.0
    val exact = per.map { case (_, n, _) => n * n }.sum
    assert(row.getAs[Long]("n_users") == per.length)
    assert(row.getAs[Long]("f2_exact") == exact)
    assert(row.getAs[Double]("f2_est") == est)
    assert(row.getAs[Double]("ratio") == est / exact.toDouble)
    // the avalanched sign family keeps the estimate in the AMS band
    assert(row.getAs[Double]("ratio") > 0.2 && row.getAs[Double]("ratio") < 5.0)
  }

  test("t30 vocab growth: exact recompute, cumulative consistency, novelty decays") {
    val got = q("t30_vocab_growth")
      .as[(Int, Long, Long, Long, Long)].collect().sortBy(_._1)
    val corpus = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"),
        graft.functions.TextFunctions.shingles(col("text")).as("g"))
      .as[(Long, Seq[String])].collect()
    val n = corpus.length
    val byDec = corpus.map { case (id, gs) => ((id * 10 / n).toInt, gs) }
    val firstSeen = scala.collection.mutable.Map[String, Int]()
    byDec.foreach { case (d, gs) =>
      gs.foreach(g => firstSeen.update(g, math.min(d, firstSeen.getOrElse(g, 10))))
    }
    val vol = byDec.groupBy(_._1).view.mapValues(_.map(_._2.size.toLong).sum).toMap
    val nv = firstSeen.values.groupBy(identity).view.mapValues(_.size.toLong).toMap
    assert(got.map(_._1).toSeq == (0 until 10))
    var cumG = 0L; var cumV = 0L
    got.foreach { case (d, ng, cg, nt, cv) =>
      assert(ng == vol(d), s"decile $d volume")
      assert(nt == nv.getOrElse(d, 0L), s"decile $d new types")
      cumG += ng; cumV += nt
      assert(cg == cumG && cv == cumV, s"decile $d cumulative")
    }
    assert(cumV == firstSeen.size)
    // Heaps decay: later halves mint fewer types than the first cohort
    assert(got.last._4 < got.head._4)
  }

  test("m11 media manifest: flags recompute from the m04/m05/m07/m09 stages") {
    val got = q("m11_media_manifest")
      .as[(Long, Boolean, Boolean, Boolean, Long, Boolean)].collect()
    val dupIds = q("m09_image_neardup")
      .select(col("doc_b")).as[Long].collect().toSet
    val scenes = q("m07_keyframes").groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n")).as[(Long, Long)].collect().toMap
    val imgOk = q("m05_image_phash")
      .select(col("doc_id"), col("phash").isNotNull).as[(Long, Boolean)]
      .collect().toMap
    assert(got.length == imgOk.size)
    got.foreach { case (id, iok, aok, dup, ns, kept) =>
      assert(iok == imgOk(id), s"doc $id image_ok")
      assert(aok, s"doc $id audio_ok (all rendered WAVs decode)")
      assert(dup == dupIds(id), s"doc $id dup flag")
      assert(ns == scenes.getOrElse(id, 0L), s"doc $id scene count")
      assert(kept == (iok && aok && !dup), s"doc $id verdict")
    }
    // sf0.001 has no image-dup pair; the drop path must fire at the
    // oracle-gate SF
    assert(SparkEntry.queries("m11_media_manifest")(
      spark, "/root/testdata/sf0.01").filter(!col("kept")).count() >= 1)
  }

  test("law: g09 components equal driver union-find on random graphs, " +
       "sizes consistent") {
    val rnd = new scala.util.Random(41)
    for (trial <- 1 to 4) {
      val n = 10 + rnd.nextInt(12)
      val es = (for {
        u <- 0 until n; v <- u + 1 until n if rnd.nextDouble() < 0.12
      } yield (u.toLong, v.toLong)).toSeq
      if (es.nonEmpty) {
        val comp = graft.operators.Dedup.connectedComponents(
          es.toDF("doc_a", "doc_b")).as[(Long, Long)].collect().toMap
        val parent = scala.collection.mutable.Map[Long, Long]()
        def find(x: Long): Long = {
          val p = parent.getOrElse(x, x)
          if (p == x) x else { val r = find(p); parent(x) = r; r }
        }
        es.foreach { case (u, v) =>
          parent.getOrElseUpdate(u, u); parent.getOrElseUpdate(v, v)
          val (ru, rv) = (find(u), find(v))
          if (ru != rv) parent(math.max(ru, rv)) = math.min(ru, rv)
        }
        val expected = parent.keys.map(x => x -> find(x)).toMap
        // same partition: equal component labels iff equal roots, and the
        // operator's label is the component MIN (== the union-find min root)
        assert(comp.keySet == expected.keySet, s"trial $trial vertices")
        comp.foreach { case (v, c) =>
          assert(c == expected(v), s"trial $trial vertex $v")
        }
      }
    }
  }

  test("q65 pattern match: every conversion satisfies the V-(no E)-P-within-30m " +
       "contract against a driver-side event replay") {
    val got = q("q65_pattern_match")
      .select(col("user_id"), col("event_id")).as[(Long, Long)].collect().toSet
    val events = NorthStar.eventsTable(spark, dir)
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_timestamp(col("ts")).as("sec"), col("ts"))
      .as[(Long, Long, String, Long, java.sql.Timestamp)].collect()
    val expected = events.groupBy(_._1).valuesIterator.flatMap { evs =>
      val ordered = evs.sortBy(e => (e._5.getTime, e._2))
      var lastView: Option[(Long, java.sql.Timestamp)] = None
      var lastError: Option[java.sql.Timestamp] = None
      ordered.flatMap { case (u, id, tpe, sec, ts) =>
        val hit = tpe match {
          case "purchase" => lastView.collect {
            case (vsec, vts)
              if sec - vsec <= 1800 &&
                 lastError.forall(_.getTime < vts.getTime) => (u, id)
          }
          case _ => None
        }
        if (tpe == "view") lastView = Some((sec, ts))
        if (tpe == "error") lastError = Some(ts)
        hit
      }
    }.toSet
    assert(got == expected && got.nonEmpty)
  }

  test("a08 decayed counts: exact recompute with power-of-two weights") {
    val got = q("a08_decayed_counts")
      .as[(Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    val events = NorthStar.eventsTable(spark, dir)
      .select(col("user_id"), col("event_id"),
        to_date(col("ts")).as("d"), col("ts"))
      .as[(Long, Long, java.sql.Date, java.sql.Timestamp)].collect()
    val anchor = events.map(_._3.toLocalDate).max
    events.groupBy(_._1).foreach { case (u, evs) =>
      val (_, n, dc) = got(u)
      assert(n == evs.length, s"user $u count")
      val expected = evs.sortBy(e => (e._4.getTime, e._2)).map { e =>
        val age = math.min(
          java.time.temporal.ChronoUnit.DAYS.between(e._3.toLocalDate, anchor), 62L)
        1.0 / (1L << age)
      }.foldLeft(0.0)(_ + _)
      assert(dc == expected, s"user $u decayed count")
    }
  }

  test("law: e16 alignment equals brute-force pairwise mean squared distance") {
    val got = q("e16_alignment")
      .as[(Int, Long, Double)].collect().map(r => r._1 -> r).toMap
    val vecs = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("label"), VF.toDouble(col("embedding")).as("v"))
      .as[(Int, Seq[Double])].collect()
    vecs.groupBy(_._1).foreach { case (label, vs) =>
      val (_, n, msd) = got(label)
      assert(n == vs.length)
      val xs = vs.map(_._2)
      var tot = 0.0; var pairs = 0L
      for (i <- xs.indices; j <- i + 1 until xs.length) {
        tot += xs(i).zip(xs(j)).map { case (a, b) => (a - b) * (a - b) }.sum
        pairs += 1
      }
      // the moment identity holds exactly only in exact arithmetic —
      // floating point puts the two formulations within rounding noise
      assert(math.abs(msd - tot / pairs) < 1e-9, s"label $label")
    }
  }

  test("d18 normalized dedup: normalization recovers every re-crawl, raw " +
       "matching leaks exactly the byte-variant docs") {
    val got = q("d18_normalized_dedup")
      .as[(Long, Boolean, Boolean)].collect()
    val texts = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("text")).as[(Long, String)].collect().toMap
    assert(got.length == texts.size)
    got.foreach { case (rid, raw, nrm) =>
      assert(nrm, s"recrawl $rid not recovered by normalized matching")
      val id = rid - 200000L
      // raw fingerprints diverge iff the dirtying touched token bytes:
      // decomposed accents (mod 3, only if 'a' occurs) or BEL litter
      // (mod 5); doubled spaces are already invisible to the tokenizer
      val expectRawLeak =
        (id % 3 == 0 && texts(id).contains("a")) || id % 5 == 0
      assert(raw == !expectRawLeak, s"recrawl $rid raw-match flag")
    }
  }

  test("e15 quantization errors: exact driver recompute of all three algebras") {
    val got = q("e15_quant_error")
      .as[(Int, Long, Double, Double, Double)].collect()
      .map(r => r._1 -> r).toMap
    val vecs = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"), col("label"), VF.toDouble(col("embedding")).as("v"))
      .as[(Long, Int, Seq[Double])].collect()
    def fold(xs: Seq[Double]) = xs.foldLeft(0.0)(_ + _)
    val perVec = vecs.map { case (id, label, v) =>
      val maxAbs = v.foldLeft(0.0)((a, x) => math.max(a, math.abs(x)))
      val s8 = 127.0 / math.max(maxAbs, 1e-30)
      val inv8 = math.max(maxAbs, 1e-30) / 127.0
      val alpha = v.foldLeft(0.0)((a, x) => a + math.abs(x)) / 64
      val q8 = v.map(x => math.floor(x * s8 + 0.5).toInt)
      val e8 = fold(v.zip(q8).map { case (x, c) =>
        (x - c.toDouble * inv8) * (x - c.toDouble * inv8) })
      val epq = (0 until 8).map { mi =>
        val sub = v.slice(mi * 8, (mi + 1) * 8)
        (0 until 16).map { c =>
          val cent = VF.centroid(1000 + mi * 16 + c, 8)
          fold(sub.zip(cent).map { case (x, y) => (x - y) * (x - y) })
        }.min
      }.reduceLeft(_ + _)
      val ebin = fold(v.map { x =>
        val d = x - alpha * (if (x >= 0) 1.0 else -1.0); d * d })
      (id, label, e8, epq, ebin)
    }
    perVec.groupBy(_._2).foreach { case (label, vs) =>
      val sorted = vs.sortBy(_._1)
      val n = vs.length
      val (_, gn, m8, mp, mb) = got(label)
      assert(gn == n, s"label $label n")
      assert(m8 == fold(sorted.map(_._3)) / n, s"label $label int8")
      assert(mp == fold(sorted.map(_._4)) / n, s"label $label pq")
      assert(mb == fold(sorted.map(_._5)) / n, s"label $label binary")
    }
    // the report must tell the true story on this corpus:
    // int8 is near-lossless, PQ pays the isotropy tax, binary sits between
    got.values.foreach { case (_, _, m8, mp, mb) =>
      assert(m8 < mb && mb < mp)
    }
  }

  test("m10 video near-dup equals brute-force scene-set Jaccard >= 0.8") {
    val got = q("m10_video_neardup")
      .select(col("doc_a"), col("doc_b")).as[(Long, Long)].collect().toSet
    // scene-hash sets from the verified m06/m07 building blocks
    val frames = q("m06_scene_cut")
      .select(col("doc_id"), col("frame_idx"), col("is_cut"))
      .as[(Long, Long, Boolean)].collect()
    val cuts = frames.filter(_._3).groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    // recompute each doc's keyframe hashes through the production codec
    val M = graft.multimodal.Multimodal
    val hashes = spark.read.parquet(s"$dir/documents.parquet")
      .filter(length(col("text")) >= 96)
      .select(col("doc_id"),
        explode(sequence(lit(0L), (floor(length(col("text")) / 48) - 1).cast("long")))
          .as("frame_idx"),
        col("text"))
      .select(col("doc_id"), col("frame_idx"),
        M.ppmAHash(M.ppmEncode(col("doc_id"),
          expr("substring(text, CAST(frame_idx * 48 + 1 AS INT), 48)"))).as("ph"))
      .as[(Long, Long, Long)].collect()
    val sets = hashes.groupBy(_._1).map { case (doc, fs) =>
      val keep = Set(0L) ++ cuts.getOrElse(doc, Set.empty)
      doc -> fs.filter(f => keep(f._2)).map(_._3).toSet
    }
    val expected = (for {
      (a, sa) <- sets; (b, sb) <- sets if a < b
      inter = (sa intersect sb).size
      j = inter.toDouble / (sa.size + sb.size - inter) if j >= 0.8
    } yield (a, b)).toSet
    assert(got == expected)
    // sf0.001 has no qualifying video pair (the law above is vacuous
    // there); the positive case must exist at the oracle-gate SF
    assert(SparkEntry.queries("m10_video_neardup")(
      spark, "/root/testdata/sf0.01").count() >= 1)
  }

  test("s16 retrieval eval: hits recompute from the method and exact top-10s") {
    val got = q("s16_retrieval_eval")
      .as[(String, Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    val exact = q("s01_cosine_topk").select(col("vec_id")).as[Long].collect().toSet
    val methods = Map(
      "lsh" -> "s02_cosine_topk_lsh", "ivf" -> "s03_cosine_topk_ivf",
      "pq" -> "s08_pq_adc_topk", "mrl" -> "s13_matryoshka_topk")
    assert(got.keySet == methods.keySet)
    methods.foreach { case (label, name) =>
      val ids = q(name).select(col("vec_id")).as[Long].collect()
      val (_, k, hits, recall) = got(label)
      assert(k == ids.length, s"$label k")
      assert(hits == ids.count(exact), s"$label hits")
      assert(recall == hits.toDouble / k.toDouble, s"$label recall")
    }
    // the reranking tiers must be perfect on their own contract
    assert(got("pq")._4 == 1.0 && got("mrl")._4 >= 0.9)
  }

  test("kCore: exact on the clique-plus-pendant hand graph") {
    // K4 on 1..4 (every degree 3) with a pendant chain 4-5-6
    val edges = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (4L, 5L), (5L, 6L)).toDF("u", "v")
    val got = graft.operators.Graph.kCore(edges, 3)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
    // k above the clique degree peels everything
    assert(graft.operators.Graph.kCore(edges, 4).count() == 0)
  }

  test("kCore: a peel needing exactly maxIter productive rounds still converges") {
    // triangle 1-2-3 with a pendant path 3-4-5-6-7: at k = 2 only the
    // path TIP has degree 1, so exactly one edge peels per round — 4
    // productive rounds. maxIter = 4 must succeed via the final degree
    // check (the old edge-count-only detection needed a 5th no-op round
    // and raised here).
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L),
      (3L, 4L), (4L, 5L), (5L, 6L), (6L, 7L)).toDF("u", "v")
    val got = graft.operators.Graph.kCore(edges, 2, maxIter = 4)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 2L, 2L -> 2L, 3L -> 2L))
    // one round short must still raise
    intercept[IllegalArgumentException] {
      graft.operators.Graph.kCore(edges, 2, maxIter = 3).count()
    }
  }

  test("kCore: delta-peel edge cases — mutual-drop pair, cascade decrement, " +
       "silent degree-zero exit") {
    // K4 core {1,2,3,4}; pendant chain 1-5-6 (cascades one decrement
    // into the core); isolated pair 7-8 (BOTH endpoints waved together —
    // the edge's two decrement rows must both vanish, not double-fire);
    // star 10-{11,12} (center survives wave 1 at degree 2, then drops
    // to degree 0 when both leaves wave — it must exit via the d > 0
    // filter without ever appearing in a wave or the result)
    val edges = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (1L, 5L), (5L, 6L), (7L, 8L),
      (10L, 11L), (10L, 12L)).toDF("u", "v")
    val got = graft.operators.Graph.kCore(edges, 2)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
  }

  test("law: kCore equals brute-force iterative peeling on random graphs") {
    val rnd = new scala.util.Random(23)
    for (trial <- 1 to 5) {
      val n = 8 + rnd.nextInt(10)
      val es = (for {
        u <- 0 until n; v <- u + 1 until n if rnd.nextDouble() < 0.35
      } yield (u.toLong, v.toLong)).toSeq
      if (es.nonEmpty) {
        val k = 2 + rnd.nextInt(3)
        val got = graft.operators.Graph.kCore(es.toDF("u", "v"), k)
          .as[(Long, Long)].collect().toMap
        var cur = es.toSet
        var done = false
        while (!done) {
          val deg = cur.toSeq.flatMap(e => Seq(e._1, e._2))
            .groupBy(identity).view.mapValues(_.size).toMap
          val nxt = cur.filter { case (u, v) => deg(u) >= k && deg(v) >= k }
          done = nxt == cur; cur = nxt
        }
        val deg = cur.toSeq.flatMap(e => Seq(e._1, e._2))
          .groupBy(identity).view.mapValues(_.size.toLong).toMap
        assert(got == deg, s"trial $trial k=$k")
      }
    }
  }
}

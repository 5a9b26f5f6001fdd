package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.functions.{Hashing, TextFunctions => TF}
import graft.operators.Relational
import graft.plans.GraftFunctions

/** SQL-surface registration of the custom expressions + skew-salted join. */
class PlansSpec extends AnyFunSuite {
  private lazy val spark = { val s = TestSpark.spark; GraftFunctions.register(s); s }
  import spark.implicits._

  test("registered SQL functions match the Column API expressions") {
    val viaSql = spark.sql(
      """SELECT simhash64(array('a','b')) AS sh,
                rolling_hash(array('a','b')) AS rh,
                dot_product(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS dp,
                fnv_checksum(cast('xyz' AS binary)) AS ck,
                byte_histogram(cast('ab' AS binary), 8) AS bh""").collect().head
    val viaCol = Seq(Seq("a", "b")).toDF("tk").select(
      Hashing.simhash64(col("tk")).as("sh"),
      Hashing.rollingHash(col("tk")).as("rh")).collect().head
    assert(viaSql.getAs[Long]("sh") == viaCol.getAs[Long]("sh"))
    assert(viaSql.getAs[Long]("rh") == viaCol.getAs[Long]("rh"))
    assert(viaSql.getAs[Double]("dp") == 11.0)
    assert(viaSql.getAs[Long]("ck") == graft.functions.Fnv.hashBytes("xyz".getBytes("UTF-8")))
    assert(viaSql.getAs[Seq[Double]]("bh").sum == 1.0)
  }

  test("round-3 kernels are SQL-registered and match the Column API") {
    val viaSql = spark.sql(
      """SELECT word_shingles(array('a','b','c','d'), 3) AS ws,
                shingle_hash_set(array('a','b','c','d'), 3) AS hs,
                minhash_signature(shingle_hash_set(array('a','b','c','d'), 3), 8) AS sig,
                sorted_long_intersect_count(array(1L, 3L, 7L), array(3L, 5L, 7L)) AS ic,
                sig_match_count(array(1L, 2L, 3L), array(1L, 9L, 3L)) AS mc""")
      .collect().head
    val viaCol = Seq(Seq("a", "b", "c", "d")).toDF("tk").select(
      TF.shinglesFromTokens(col("tk"), 3).as("ws"),
      Hashing.shingleHashSet(col("tk"), 3).as("hs"),
      TF.minhashFromHashes(Hashing.shingleHashSet(col("tk"), 3), 8).as("sig"))
      .collect().head
    assert(viaSql.getSeq[String](viaSql.fieldIndex("ws")) == viaCol.getSeq[String](viaCol.fieldIndex("ws")))
    assert(viaSql.getSeq[Long](viaSql.fieldIndex("hs")) == viaCol.getSeq[Long](viaCol.fieldIndex("hs")))
    assert(viaSql.getSeq[Long](viaSql.fieldIndex("sig")) == viaCol.getSeq[Long](viaCol.fieldIndex("sig")))
    assert(viaSql.getAs[Int]("ic") == 2)
    assert(viaSql.getAs[Int]("mc") == 2)
  }

  test("minhash_agg works from SQL and matches the Column API") {
    Seq((1L, "aa"), (1L, "bb"), (2L, "cc")).toDF("g", "e").createOrReplaceTempView("mh_in")
    val viaSql = spark.sql(
      "SELECT g, minhash_agg(xxhash64(e), 16) AS sig FROM mh_in GROUP BY g ORDER BY g")
      .as[(Long, Seq[Long])].collect()
    val viaCol = spark.table("mh_in").groupBy(col("g"))
      .agg(Hashing.minhashAgg(xxhash64(col("e")), 16).as("sig"))
      .orderBy(col("g")).as[(Long, Seq[Long])].collect()
    assert(viaSql.toSeq == viaCol.toSeq)
  }

  test("topKPerKey equals the window row_number formulation and plans without a sort") {
    import org.apache.spark.sql.expressions.Window
    val df = (1 to 500).map(i => ((i % 7).toLong, i.toLong, (i * 37 % 100).toLong))
      .toDF("k", "id", "v").repartition(5)
    val viaCustom = Relational.topKPerKey(df, Seq("k"), Seq(col("v").desc, col("id").asc), 3)
    val got = viaCustom.select(col("k"), col("id"), col("v"))
      .as[(Long, Long, Long)].collect().sorted.toSeq
    val expected = df.withColumn("rn", row_number().over(
        Window.partitionBy(col("k")).orderBy(col("v").desc, col("id").asc)))
      .filter(col("rn") <= 3).select(col("k"), col("id"), col("v"))
      .as[(Long, Long, Long)].collect().sorted.toSeq
    assert(got == expected)
    val plan = viaCustom.queryExecution.executedPlan.toString
    assert(plan.contains("TopKPerKey"), s"expected custom exec in:\n$plan")
    assert(!plan.contains("Window"), "custom path must not fall back to a window")
  }

  test("topKPerKey: k larger than group size returns whole groups; bad column rejected") {
    val df = Seq((1L, 10L), (1L, 20L), (2L, 30L)).toDF("k", "v")
    val all = Relational.topKPerKey(df, Seq("k"), Seq(col("v").asc), 99)
      .as[(Long, Long)].collect().sorted.toSeq
    assert(all == Seq((1L, 10L), (1L, 20L), (2L, 30L)))
    intercept[IllegalArgumentException] {
      Relational.topKPerKey(df, Seq("nope"), Seq(col("v").asc), 1)
    }
  }

  test("RowNumberLimitToTopK rewrites the SQL row_number-limit idiom to bounded heaps") {
    GraftFunctions.armOptimizer(spark)
    (1 to 500).map(i => ((i % 7).toLong, i.toLong, (i * 37 % 100).toLong))
      .toDF("k", "id", "v").createOrReplaceTempView("rnl_t")
    val sql = """SELECT k, id, v FROM (
                   SELECT k, id, v,
                          row_number() OVER (PARTITION BY k ORDER BY v DESC, id) AS rn
                   FROM rnl_t) WHERE rn <= 3"""
    val rewritten = spark.sql(sql)
    val plan = rewritten.queryExecution.executedPlan.toString
    assert(plan.contains("TopKPerKey"), s"rewrite must fire:\n$plan")
    assert(!plan.contains("Window"), s"rewrite must remove the window:\n$plan")
    // ground truth from the same SQL with the rewrite disarmed
    val saved = spark.experimental.extraOptimizations
    spark.experimental.extraOptimizations =
      saved.filterNot(_ == graft.plans.RowNumberLimitToTopK)
    val expected =
      try spark.sql(sql).as[(Long, Long, Long)].collect().sorted.toSeq
      finally spark.experimental.extraOptimizations = saved
    assert(rewritten.as[(Long, Long, Long)].collect().sorted.toSeq == expected)
  }

  test("RowNumberLimitToTopK keeps residual predicates and refuses unsafe shapes") {
    GraftFunctions.armOptimizer(spark)
    Seq.tabulate(100)(i => ((i % 5).toLong, i.toLong, (i * 13 % 50).toLong))
      .toDF("k", "id", "v").createOrReplaceTempView("rnl_u")
    // residual predicate: rewrite fires, extra filter survives above it
    val mixed = spark.sql("""SELECT k, id, v FROM (
        SELECT k, id, v, row_number() OVER (PARTITION BY k ORDER BY v DESC, id) AS rn
        FROM rnl_u) WHERE rn <= 2 AND v > 10""")
    val mixedPlan = mixed.queryExecution.executedPlan.toString
    assert(mixedPlan.contains("TopKPerKey") && mixedPlan.contains("Filter"))
    assert(mixed.collect().forall(_.getLong(2) > 10))
    // rank projected out -> the rank column is load-bearing, no rewrite
    val keepsRn = spark.sql("""SELECT k, id, rn FROM (
        SELECT k, id, row_number() OVER (PARTITION BY k ORDER BY id) AS rn
        FROM rnl_u) WHERE rn <= 2""")
    assert(keepsRn.queryExecution.executedPlan.toString.contains("Window"))
    // pagination (rn > 1) -> not a plain top-k, no rewrite
    val paginated = spark.sql("""SELECT k, id FROM (
        SELECT k, id, row_number() OVER (PARTITION BY k ORDER BY id) AS rn
        FROM rnl_u) WHERE rn <= 3 AND rn > 1""")
    assert(paginated.queryExecution.executedPlan.toString.contains("Window"))
    // rank() admits ties -> "first k rows" would be wrong, no rewrite
    val rankFn = spark.sql("""SELECT k, id FROM (
        SELECT k, id, rank() OVER (PARTITION BY k ORDER BY v DESC) AS rn
        FROM rnl_u) WHERE rn <= 2""")
    assert(rankFn.queryExecution.executedPlan.toString.contains("Window"))
  }

  test("round-4 third-wave plan shapes: t13/q44/t16/d11") {
    val dir = "/root/testdata/sf0.001"
    def plan(n: String) =
      SparkEntry.queries(n)(spark, dir).queryExecution.executedPlan.toString
    // t13 BM25: corpus stats broadcast to the scoring map; top-k is a
    // TakeOrderedAndProject, never a global sort
    val t13 = plan("t13_bm25_search")
    assert(t13.contains("TakeOrderedAndProject") && t13.contains("BroadcastExchange"),
      s"t13:\n$t13")
    assert(!t13.contains("GlobalSort"), "t13 must not globally sort")
    // q44 SCD2: both window passes share ONE exchange (same partitioning
    // and order — no re-shuffle between lag and lead)
    val q44 = plan("q44_scd2_history")
    assert("(?<!Broadcast)Exchange".r.findAllIn(q44).size == 1, s"q44:\n$q44")
    assert(q44.split("\n").count(_.contains("Window")) >= 2)
    // t16 phrase search: posting-list joins stay equi — no cartesian
    val t16 = plan("t16_phrase_search")
    assert(!t16.contains("CartesianProduct") && !t16.contains("BroadcastNestedLoopJoin"),
      s"t16:\n$t16")
    // d11 CDC: chunking is per-row expression work — no join, no
    // aggregate; the only exchange is the harness input repartition
    val d11 = plan("d11_cdc_chunks")
    assert(!d11.contains("Join") && !d11.contains("HashAggregate"), s"d11:\n$d11")
    assert("(?<!Broadcast)Exchange".r.findAllIn(d11).size <= 1, s"d11:\n$d11")
  }

  test("bothDirections orients via one Generate, no Union — the distinct " +
      "finalize above a pair build runs once, and results match the union shape") {
    import spark.implicits._
    val pairs = Seq((1L, 10L), (2L, 10L), (1L, 20L), (1L, 10L))
      .toDF("a", "b").distinct()
    val oriented = graft.operators.Graph.bothDirections(pairs, "a", "b")
    val plan = oriented.queryExecution.executedPlan.toString
    assert(plan.contains("Generate"), s"explode orientation missing:\n$plan")
    assert(!plan.contains("Union"),
      s"two-leg union re-runs the pair dedup finalize per leg:\n$plan")
    val unionShape = pairs.select($"a".as("src"), $"b".as("dst"))
      .unionByName(pairs.select($"b".as("src"), $"a".as("dst")))
    assert(oriented.collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq ==
      unionShape.collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq)
  }

  test("q67 nearest as-of: both RANGE carries share ONE exchange and ONE sort") {
    val dir = "/root/testdata/sf0.001"
    val q67 = SparkEntry.queries("q67_asof_nearest")(spark, dir)
      .queryExecution.executedPlan.toString
    // the backward and forward candidates are two RANGE-framed carries
    // evaluated by ONE Window node over one shuffle + one
    // within-partition sort; the only other exchange is the right
    // side's (custkey, orderdate) pre-aggregation — query prep, not
    // as-of machinery — and there is no join anywhere
    assert("(?<!Broadcast)Exchange".r.findAllIn(q67).size == 2, s"q67:\n$q67")
    assert(q67.split("\n").count(_.contains("Sort ")) == 1, s"q67:\n$q67")
    assert(q67.split("\n").count(_.contains("Window")) == 1, s"q67:\n$q67")
    assert(!q67.contains("Join"), s"q67 must not plan a join:\n$q67")
  }

  test("q53 star join: dimension chain broadcasts, exactly one shuffled join") {
    val plan = SparkEntry.queries("q53_regional_revenue")(spark, "/root/testdata/sf0.001")
      .queryExecution.executedPlan.toString
    // the 4 dimension joins must broadcast; lineitem⋈orders is the only
    // join allowed to shuffle (at sf0.001 orders broadcasts too → 5 BHJs)
    assert(plan.split("\n").count(_.contains("BroadcastHashJoin")) >= 4, s"q53:\n$plan")
    val shuffled = plan.split("\n").count(l =>
      l.contains("SortMergeJoin") || l.contains("ShuffledHashJoin"))
    assert(shuffled <= 1, s"only lineitem⋈orders may shuffle:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"))
  }

  test("q54 null-safe join still plans as a hash join (not BNLJ)") {
    val plan = SparkEntry.queries("q54_null_semantics")(spark, "/root/testdata/sf0.001")
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"q54:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"), s"q54:\n$plan")
  }

  test("dynamic partition pruning: a dim filter prunes the fact scan at runtime") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_dpp").toString
    (1 to 300).map(i => (i.toLong, i % 3)).toDF("v", "part")
      .write.partitionBy("part").parquet(s"$root/fact")
    Seq((0, "keep")).toDF("part", "tag").write.parquet(s"$root/dim")
    val fact = spark.read.parquet(s"$root/fact")
    val dim = spark.read.parquet(s"$root/dim").filter(col("tag") === "keep")
    val joined = fact.join(dim, Seq("part"))
    assert(joined.count() == 100)
    // the fact side's partition filter must carry the runtime
    // dynamicpruning subquery — only dim-surviving partitions are read
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.toLowerCase.contains("dynamicpruning"),
      s"expected dynamic partition pruning in:\n$plan")
  }

  test("hive-partitioned layout prunes partitions at the scan (PartitionFilters)") {
    val root = java.nio.file.Files.createTempDirectory("graft_prune").toString + "/t"
    val df = (1 to 90).map(i => (s"2024-01-0${i % 3 + 1}", i.toLong)).toDF("dt", "v")
    graft.sinks.Sinks.overwritePartitions(df, "dt", root)
    // layout: one dt=... directory per partition value
    val dirs = new java.io.File(root).listFiles().filter(_.isDirectory).map(_.getName).sorted
    assert(dirs.toSeq == Seq("dt=2024-01-01", "dt=2024-01-02", "dt=2024-01-03"))
    val rd = spark.read.parquet(root).filter(col("dt") === "2024-01-02")
    assert(rd.count() == 30)
    val scan = rd.queryExecution.executedPlan.toString
    // the filter must reach the scan as a PARTITION filter (directory
    // pruning — zero I/O on other partitions), not a post-scan Filter
    assert(scan.contains("PartitionFilters") &&
      scan.replaceAll("#\\d+", "").contains("(dt = 2024-01-02)"),
      s"expected partition pruning in:\n$scan")
  }

  test("zorder_long is SQL-registered and matches the Column API") {
    val viaSql = spark.sql("SELECT zorder_long(5L, 3L, 21) AS z").collect().head.getLong(0)
    val viaCol = Seq((5L, 3L)).toDF("a", "b")
      .select(graft.functions.ZOrder.zorder(col("a"), col("b"), 21)).as[Long].head()
    assert(viaSql == viaCol && viaSql == 27L) // 5=101₂, 3=011₂ → 011011₂
  }

  test("round-5 kernels are SQL-registered and match the Column API") {
    val viaSql = spark.sql(
      """SELECT bit_signature(array(1.0d, -2.0d, 0.5d), 3, 128) AS sig,
                hamming_sig(array(7L, 0L), array(1L, 3L)) AS ham,
                ppm_encode(1L, cast('abc' AS binary)) AS img""").collect().head
    val viaCol = Seq(Seq(1.0, -2.0, 0.5)).toDF("v").select(
      graft.functions.VectorFunctions.bitSignature(col("v"), 3, 128).as("sig"))
      .collect().head
    assert(viaSql.getSeq[Long](viaSql.fieldIndex("sig")) ==
      viaCol.getSeq[Long](viaCol.fieldIndex("sig")))
    assert(viaSql.getAs[Long]("ham") == 4L) // 7^1=6 (2 bits) + 3 (2 bits)
    val img = viaSql.getAs[Array[Byte]]("img")
    // decode the SQL-encoded payload through the SQL decoder: header
    // parses, dims match the doc_id-derived 9x9, histogram sums to 1
    val feats = spark.sql(
      s"SELECT ppm_decode_features(ppm_encode(1L, cast('abc' AS binary))) AS f")
      .collect().head.getSeq[Double](0)
    assert(new String(img.take(2), "US-ASCII") == "P6")
    assert(feats(0) == 9.0 && feats(1) == 9.0)
    assert(math.abs(feats.drop(5).sum - 1.0) < 1e-12)
    // SQL path must coerce float arrays like the Column API does —
    // BitSignature reads doubles, so a raw float-array child would be
    // silent garbage, not an error
    val floatDf = Seq(Seq(1.0f, -2.0f, 0.5f)).toDF("v")
    floatDf.createOrReplaceTempView("bs_float_in")
    val sqlSig = spark.sql(
      "SELECT bit_signature(v, 3, 128) AS sig FROM bs_float_in")
      .collect().head.getSeq[Long](0)
    val colSig = floatDf.select(
      graft.functions.VectorFunctions.bitSignature(col("v"), 3, 128).as("sig"))
      .collect().head.getSeq[Long](0)
    assert(sqlSig == colSig, "SQL bit_signature diverged on a float array")
  }

  test("wav codec is SQL-registered; a STRING payload arg survives the builder cast") {
    // the builder casts arg 2 to BINARY, so a plain string column must
    // flow through codegen (not fall back to the interpreted projection)
    val feats = spark.sql(
      "SELECT wav_decode_features(wav_encode(5L, 'hello world')) AS f")
      .collect().head.getSeq[Double](0)
    val viaCol = Seq((5L, "hello world")).toDF("doc_id", "text")
      .select(graft.multimodal.Multimodal.wavDecode(
        graft.multimodal.Multimodal.wavEncode(col("doc_id"), col("text"))).as("f"))
      .collect().head.getSeq[Double](0)
    assert(feats == viaCol)
    assert(feats(0) == 8000 + 5 % 3 * 4000) // parsed sample rate
    assert(feats(1) == 64 + 5 % 193) // parsed sample count
    // malformed payload → NULL through the SQL surface too
    assert(spark.sql("SELECT wav_decode_features(cast('RIFFjunk' AS binary)) AS f")
      .collect().head.isNullAt(0))
  }

  test("ppm_ahash is SQL-registered and agrees with the Column API; malformed → NULL") {
    val viaSql = spark.sql(
      "SELECT ppm_ahash(ppm_encode(1L, cast('abc' AS binary))) AS ph")
      .collect().head.getLong(0)
    val viaCol = Seq((1L, "abc")).toDF("doc_id", "text")
      .select(graft.multimodal.Multimodal.ppmAHash(
        graft.multimodal.Multimodal.ppmEncode(col("doc_id"), col("text"))).as("ph"))
      .collect().head.getLong(0)
    assert(viaSql == viaCol)
    assert(spark.sql("SELECT ppm_ahash(cast('P6 junk' AS binary)) AS ph")
      .collect().head.isNullAt(0))
  }

  test("nfc_normalize is SQL-registered and agrees with the Column API") {
    // decomposed a + U+0301 must compose to U+00E1 through both surfaces
    val viaSql = spark.sql("SELECT nfc_normalize('áb ç') AS t")
      .collect().head.getString(0)
    val viaCol = Seq("áb ç").toDF("t")
      .select(Hashing.nfcNormalize(col("t")).as("t")).collect().head.getString(0)
    assert(viaSql == viaCol)
    assert(viaSql == "áb ç" && viaSql.length == 4)
    assert(spark.sql("SELECT nfc_normalize(cast(NULL AS string)) AS t")
      .collect().head.isNullAt(0))
  }

  test("saltedJoin result set equals the plain inner join on skewed data") {
    // 90% of fact rows share one hot key
    val fact = (1 to 1000).map(i => (if (i % 10 == 0) i % 5 else 1, s"f$i")).toDF("k", "fv")
    val dim = (0 to 5).map(k => (k, s"d$k")).toDF("k", "dv")
    val plain = fact.join(dim, Seq("k")).select(col("k"), col("fv"), col("dv"))
      .as[(Int, String, String)].collect().sorted.toSeq
    val salted = Relational.saltedJoin(fact, dim, "k", 8)
      .select(col("k"), col("fv"), col("dv"))
      .as[(Int, String, String)].collect().sorted.toSeq
    assert(salted == plain)
  }

  test("saltedJoin MECHANISM fires: the join keys carry the salt and the " +
       "hot key's rows spread across every salt value") {
    val fact = (1 to 2000).map(i => (if (i % 10 == 0) i % 5 else 1, s"f$i")).toDF("k", "fv")
    val dim = (0 to 5).map(k => (k, s"d$k")).toDF("k", "dv")
    val factor = 8
    // the internal salted fact side: the hot key must genuinely occupy
    // all `factor` salt buckets (the whole point — one reducer becomes
    // `factor` reducers), deterministically (hash of the full row)
    val salts = fact.withColumn("_salt",
      pmod(xxhash64(struct(fact.columns.map(col): _*)), lit(factor.toLong)).cast("int"))
      .filter(col("k") === 1)
      .select(col("_salt")).distinct().as[Int].collect().toSet
    assert(salts == (0 until factor).toSet,
      s"hot key only landed in salts $salts — not spread")
    // and the physical join actually keys on (k, _salt), not k alone
    val plan = Relational.saltedJoin(fact, dim, "k", factor)
      .queryExecution.executedPlan.toString
    assert(plan.contains("_salt"), s"join does not carry the salt key:\n$plan")
  }

  test("AQE skew-join engages on a skewed shuffle join (split partitions, " +
       "same result)") {
    val conf = spark.conf
    val saved = Seq(
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.coalescePartitions.enabled")
      .map(k => k -> conf.getOption(k)).toMap
    try {
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ
      // scale the skew thresholds down so the default-256MB machinery is
      // triggerable by a test-sized hot partition (sizes are COMPRESSED
      // shuffle bytes — repetitive test payloads shrink a lot)
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "32k")
      conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16k")
      conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
      val pad = "x" * 64
      val fact = (1 to 60000)
        .map(i => (if (i % 20 == 0) i % 7 else 1, s"$pad$i")).toDF("k", "fv")
      val dim = (0 to 7).map(k => (k, s"d$k")).toDF("k", "dv")
      val joined = fact.join(dim, Seq("k"))
      // execute THIS dataframe (count() would plan its own execution and
      // leave joined's adaptive plan unfinalized)
      assert(joined.collect().length == 60000)
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"),
        s"AQE did not mark the skewed join (no skew=true):\n$plan")
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }

  test("s10/s11 bucketed cascades plan no cartesian/BNLJ: cells are the " +
       "join key end to end") {
    for (q <- Seq("s10_ann_bucketed", "s11_ann_retrieval")) {
      val df = SparkEntry.queries(q)(spark, "/root/testdata/sf0.001")
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct") && !plan.contains("NestedLoop"),
        s"$q must stay an equi-join pipeline:\n$plan")
    }
    NorthStar.releaseCaches(spark, "/root/testdata/sf0.001")
  }

  test("round-7 plan shapes: s12 equi-join only, s13 two TakeOrdered " +
       "stages, q60 shuffles digests not text") {
    val dir = "/root/testdata/sf0.001"
    def plan(n: String) =
      SparkEntry.queries(n)(spark, dir).queryExecution.executedPlan.toString
    // s12: the per-batch pair join is an equi-join on batch_id — never a
    // cartesian/BNLJ — and the predicate pair lives in the join condition
    val s12 = plan("s12_inbatch_negatives")
    assert(!s12.contains("CartesianProduct") && !s12.contains("NestedLoop"),
      s"s12 must join on batch_id:\n$s12")
    // s13: both cascade stages are per-partition top-C + driver merge;
    // the corpus is never globally sorted
    val s13 = plan("s13_matryoshka_topk")
    assert(s13.split("\n").count(_.contains("TakeOrderedAndProject")) == 2,
      s"s13 expects coarse+rerank TakeOrdered stages:\n$s13")
    assert(!s13.contains("Exchange"), s"s13 must not shuffle the corpus:\n$s13")
    // s14: the faceted cut is the custom bounded-heap operator, not a
    // window over a full partition sort
    val s14 = plan("s14_faceted_topk")
    assert(s14.contains("TopKPerKey"), s"s14 should plan TopKPerKey:\n$s14")
    assert(!s14.contains("Window"), s"s14 must not fall back to a window:\n$s14")
    // q60: md5 is computed below the join, so the full-outer exchange
    // carries (doc_id, digest) — the text column must not reach the join
    val q60 = SparkEntry.queries("q60_corpus_diff")(spark, dir)
    // sparkPlan, not executedPlan: AQE wraps the executed tree in an
    // AdaptiveSparkPlanExec whose children aren't visible to collect
    val joins = q60.queryExecution.sparkPlan.collect {
      case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
      case j: org.apache.spark.sql.execution.joins.ShuffledHashJoinExec => j
    }
    assert(joins.nonEmpty, "q60 should plan a shuffled full-outer join")
    assert(joins.forall(_.output.forall(a => a.name != "text")),
      "q60's join must move digests, not document text")
  }

  test("ANN cascades are SQL-callable as registered views and match the " +
       "Scala compositions") {
    val dir = "/root/testdata/sf0.001"
    graft.plans.GraftViews.registerAnn(spark, dir)
    for (view <- Seq("graft_ann_knn", "graft_ann_knn_bucketed",
                     "graft_ann_incremental", "graft_ann_retrieval")) {
      val n = spark.sql(s"SELECT count(*) FROM $view").as[Long].head()
      assert(n > 0, s"$view returned no rows")
    }
    // the view IS the cascade: result parity with the direct Scala call
    val viaSql = spark.sql(
      "SELECT vec_id, neighbor_id FROM graft_ann_knn").as[(Long, Long)]
      .collect().toSet
    val direct = SparkEntry.queries("s06_ann_knn_join")(spark, dir)
      .select(col("vec_id"), col("neighbor_id")).as[(Long, Long)]
      .collect().toSet
    assert(viaSql == direct)
    // views compose downstream: a SQL consumer can aggregate over them
    val perQuery = spark.sql(
      """SELECT vec_id, count(*) AS k FROM graft_ann_knn_bucketed
         GROUP BY vec_id ORDER BY k DESC LIMIT 1""").as[(Long, Long)].head()
    assert(perQuery._2 <= 3)
    NorthStar.releaseCaches(spark, dir)
  }

  test("round-7 pipeline views are SQL-callable and match the Scala " +
       "compositions") {
    val dir = "/root/testdata/sf0.001"
    graft.plans.GraftViews.registerPipeline(spark, dir)
    for (view <- Seq("graft_inbatch_negatives", "graft_matryoshka_topk",
                     "graft_quality_scores", "graft_corpus_diff",
                     "graft_faceted_topk", "graft_corpus_release")) {
      assert(spark.sql(s"SELECT count(*) FROM $view").as[Long].head() > 0,
        s"$view returned no rows")
    }
    val viaSql = spark.sql(
      "SELECT batch_id, anchor_id, neg_id FROM graft_inbatch_negatives")
      .as[(Long, Long, Long)].collect().toSet
    val direct = SparkEntry.queries("s12_inbatch_negatives")(spark, dir)
      .select(col("batch_id"), col("anchor_id"), col("neg_id"))
      .as[(Long, Long, Long)].collect().toSet
    assert(viaSql == direct)
    // views compose downstream: keep-rate per status-free SQL consumer
    val keepRate = spark.sql(
      """SELECT CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS DOUBLE)
                / count(*) FROM graft_quality_scores""").as[Double].head()
    assert(keepRate >= 0.0 && keepRate <= 1.0)
  }

  test("curation-wave views are SQL-callable and match the Scala compositions") {
    val dir = "/root/testdata/sf0.001"
    graft.plans.GraftViews.registerCuration(spark, dir)
    for (view <- Seq("graft_ingest_gate", "graft_maxsim_topk",
                     "graft_keyframes", "graft_audio_segments",
                     "graft_vocab_growth", "graft_diverse_sample",
                     "graft_link_features", "graft_retrieval_eval",
                     "graft_quant_report", "graft_norm_leak_audit",
                     "graft_media_manifest", "graft_user_decay",
                     "graft_conversions")) {
      assert(spark.sql(s"SELECT count(*) FROM $view").as[Long].head() > 0,
        s"$view returned no rows")
    }
    val viaSql = spark.sql(
      "SELECT doc_id, bloom_maybe, is_dup FROM graft_ingest_gate")
      .as[(Long, Boolean, Boolean)].collect().toSet
    val direct = SparkEntry.queries("d17_bloom_gate")(spark, dir)
      .select(col("doc_id"), col("bloom_maybe"), col("is_dup"))
      .as[(Long, Boolean, Boolean)].collect().toSet
    assert(viaSql == direct)
    // views compose downstream: the gate's false-positive mass in SQL
    val fp = spark.sql(
      """SELECT count(*) FROM graft_ingest_gate
         WHERE bloom_maybe AND NOT is_dup""").as[Long].head()
    assert(fp >= 0)
    NorthStar.releaseCaches(spark, dir)
  }

  test("community-wave views are SQL-callable and match the Scala compositions") {
    val dir = "/root/testdata/sf0.001"
    graft.plans.GraftViews.registerCommunity(spark, dir)
    for (view <- Seq("graft_partition_score", "graft_communities",
                     "graft_source_caps", "graft_dup_by_source")) {
      assert(spark.sql(s"SELECT count(*) FROM $view").as[Long].head() > 0,
        s"$view returned no rows")
    }
    val viaSql = spark.sql(
      "SELECT vertex, community FROM graft_communities")
      .as[(Long, Long)].collect().toSet
    val direct = SparkEntry.queries("g11_lpa_labels")(spark, dir)
      .select(col("vertex"), col("community"))
      .as[(Long, Long)].collect().toSet
    assert(viaSql == direct)
    // views compose downstream: global modularity Q from the per-community
    // decomposition, and the corpus-wide cap headroom, both in plain SQL
    val q = spark.sql(
      "SELECT SUM(q_contrib) FROM graft_partition_score").as[Double].head()
    assert(q > -1.0 && q < 1.0, s"global modularity out of range: $q")
    val kept = spark.sql(
      """SELECT CAST(SUM(tokens_kept) AS DOUBLE) / SUM(tokens_total)
         FROM graft_source_caps""").as[Double].head()
    assert(kept > 0.0 && kept <= 1.0)
  }

  test("diagnostics-wave views are SQL-callable and match the Scala compositions") {
    val dir = "/root/testdata/sf0.001"
    graft.plans.GraftViews.registerDiagnostics(spark, dir)
    for (view <- Seq("graft_lexical_diversity", "graft_audio_neardup",
                     "graft_boilerplate", "graft_probe_recall",
                     "graft_cell_balance", "graft_sliding_distinct",
                     "graft_survivor_policy", "graft_minhash_k_curve",
                     "graft_token_fertility", "graft_span_removal")) {
      assert(spark.sql(s"SELECT count(*) FROM $view").as[Long].head() > 0,
        s"$view returned no rows")
    }
    val viaSql = spark.sql(
      "SELECT source, simpson FROM graft_lexical_diversity")
      .as[(String, Double)].collect().toSet
    val direct = SparkEntry.queries("t32_lexical_diversity")(spark, dir)
      .select(col("source"), col("simpson"))
      .as[(String, Double)].collect().toSet
    assert(viaSql == direct)
    // views compose downstream in plain SQL: the multimodal dup graph's
    // audio arm joined against the image arm's pair table
    graft.plans.GraftViews.registerCuration(spark, dir)
    val both = spark.sql(
      """SELECT count(*) FROM graft_audio_neardup a
         JOIN graft_image_neardup i USING (doc_a, doc_b)""").as[Long].head()
    assert(both >= 0L) // executes; overlap may be empty at this SF
    // g12 at sf0.001 may have no nation-0 seed suppliers — the view must
    // still execute (empty is a valid relevance set)
    assert(spark.sql("SELECT count(*) FROM graft_seed_relevance")
      .as[Long].head() >= 0L)
  }

  test("plan hygiene sweep: no harness query plans a cartesian product, and " +
       "nested-loop joins appear only against one-row scalar subplans") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
    import org.apache.spark.sql.execution.aggregate.{HashAggregateExec, ObjectHashAggregateExec, SortAggregateExec}
    def hasScalarAgg(p: SparkPlan): Boolean = (p match {
      case h: HashAggregateExec => h.groupingExpressions.isEmpty
      case h: ObjectHashAggregateExec => h.groupingExpressions.isEmpty
      case h: SortAggregateExec => h.groupingExpressions.isEmpty
      case _ => false
    }) || p.children.exists(hasScalarAgg)
    def nlJoins(p: SparkPlan): Seq[SparkPlan] = {
      val here = p match {
        case j: BroadcastNestedLoopJoinExec => Seq(j)
        case j: CartesianProductExec => Seq(j)
        case _ => Seq.empty
      }
      here ++ p.children.flatMap(nlJoins) ++ p.expressions.flatMap(_.collect {
        case s: org.apache.spark.sql.execution.ExecSubqueryExpression => s.plan
      }.flatMap(nlJoins))
    }
    // deliberate bounded non-equi/cross joins whose small side the
    // scalar-aggregate detector cannot prove one-row — each is bounded
    // by a DOMAIN, not by the corpus, and broadcasts:
    val boundedByConstruction = Set(
      "a05_sketch_setops",     // |event types| k-long KMV sketch rows
      "a06_bloom_filter",      // |priorities| 32-byte bloom lane rows
      "e06_binary_quantize",   // single query row selected by vec_id = 0
      "g01_source_sketch",     // |sources| merged MinHash sketch rows
      "g03_label_centroid_sim",// |labels| centroid rows
      "s07_ann_incremental")   // ~1% arrival batch broadcast vs index
    val dirS = "/root/testdata/sf0.001"
    // The same sweep is the build census: building a query should only
    // plan, so each query is built from released caches under the Meter,
    // and its build may run at most the Spark stages plans/build_stages.tsv
    // allows it (name, stages). Allowances only go down; the file's keys
    // are the catalogue's.
    val swept = SparkEntry.queries.keys.toSeq.sorted.map { name =>
      NorthStar.releaseCaches(spark, dirS)
      val (df, m) = Meter(spark).measure(name)(SparkEntry.queries(name)(spark, dirS))
      val nl = if (boundedByConstruction(name)) Seq.empty
        else nlJoins(df.queryExecution.sparkPlan)
          .filterNot(_.children.exists(hasScalarAgg))
          .map(j => s"$name: ${j.nodeName}")
      (name, m.stages.size, nl)
    }
    NorthStar.releaseCaches(spark, dirS)
    val offenders = swept.flatMap(_._3)
    assert(offenders.isEmpty,
      s"nested-loop/cartesian against a non-scalar side:\n${offenders.mkString("\n")}")
    val src = scala.io.Source.fromFile("plans/build_stages.tsv")
    val allowed = try src.getLines().filterNot(_.startsWith("#")).map { l =>
      val Array(name, n) = l.split('\t'); name -> n.toInt
    }.toMap finally src.close()
    assert(allowed.keySet == SparkEntry.queries.keySet,
      s"build_stages.tsv keys differ from the catalogue: missing " +
        s"${SparkEntry.queries.keySet -- allowed.keySet}, stale ${allowed.keySet -- SparkEntry.queries.keySet}")
    val over = swept.collect { case (name, n, _) if n > allowed(name) =>
      s"$name: $n stages while built, allowed ${allowed(name)}" }
    assert(over.isEmpty, s"builds over their stage allowance:\n${over.mkString("\n")}")
  }

  test("bounded-window contract: every unpartitioned WindowExec in the " +
       "harness queries feeds on a bounded input that does NOT scale " +
       "with the corpus") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.window.WindowExec
    def deepKids(p: SparkPlan): Seq[SparkPlan] = (p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case im: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec =>
        Seq(im.relation.cachedPlan)
      case other => other.children
    // p.subqueries casts still-logical expression plans pre-execution —
    // pull only PHYSICAL subquery plans straight off the expressions
    }) ++ p.expressions.flatMap(_.collect {
      case s: org.apache.spark.sql.execution.ExecSubqueryExpression => s.plan
    })
    def unpartitionedWindows(p: SparkPlan): Seq[WindowExec] = {
      val here = p match {
        case w: WindowExec if w.partitionSpec.isEmpty => Seq(w)
        case _ => Seq.empty
      }
      here ++ deepKids(p).flatMap(unpartitionedWindows)
    }
    // sweep: which harness queries PLAN an unpartitioned window at all
    // (pre-execution physical plan — cheap, no jobs)
    val dirS = "/root/testdata/sf0.001"
    val flagged = SparkEntry.queries.keys.toSeq.sorted.filter { name =>
      unpartitionedWindows(
        SparkEntry.queries(name)(spark, dirS).queryExecution.sparkPlan).nonEmpty
    }
    info(s"queries planning an unpartitioned window: ${flagged.mkString(", ")}")
    assert(flagged.nonEmpty, "sweep found no unpartitioned windows — " +
      "if they were all eliminated, retire this test")
    // contract: a global window's input stays bounded (candidate lists
    // <= cands, offset tables <= partition count) — measured by the
    // window's OWN numOutputRows (window functions preserve cardinality)
    // at two corpus sizes a decade apart
    def windowInputs(name: String, dir: String): Seq[Long] = {
      val df = SparkEntry.queries(name)(spark, dir)
      df.collect() // finalize the adaptive plan and populate metrics
      unpartitionedWindows(df.queryExecution.executedPlan).map { w =>
        // the window's own node may not expose numOutputRows; take the
        // nearest self-or-descendant that does (cardinality-preserving
        // chain: window input == that node's output)
        def firstMetric(p: SparkPlan): Option[Long] =
          p.metrics.get("numOutputRows").map(_.value)
            .orElse(deepKids(p).view.flatMap(firstMetric).headOption)
        firstMetric(w).getOrElse(
          fail(s"$name: no numOutputRows under the unpartitioned window"))
      }
    }
    for (name <- flagged) {
      val small = windowInputs(name, dirS)
      val big = windowInputs(name, "/root/testdata/sf0.01")
      assert(small.nonEmpty && big.nonEmpty,
        s"$name: WindowExec lost between plan and execution?")
      assert(big.forall(_ <= 4096),
        s"$name: unpartitioned window saw ${big.max} rows at sf0.01 — not bounded")
      // 10x corpus must not mean 10x window input: allow 4x slack for
      // partition-count / tie effects, nothing near linear growth
      assert(big.max <= math.max(512L, 4L * math.max(1L, small.max)),
        s"$name: window input grew ${small.max} -> ${big.max} across a 10x corpus")
    }
    NorthStar.releaseCaches(spark, dirS)
    NorthStar.releaseCaches(spark, "/root/testdata/sf0.01")
  }

  test("pinned-parallelism contract: the audited CPU-bound exchanges carry " +
       "REPARTITION_BY_NUM so AQE byte-based coalescing cannot serialize them") {
    // round-11 lesson (BASELINE.md): post-shuffle coalescing sizes
    // partitions by compressed bytes, and text/signature/block-key rows
    // compress under the min partition size while fanning out to
    // millions of downstream ops — a bare repartition(col) is itself
    // coalescible, so only an explicit-count repartition protects these
    // stages. This pins the mechanism, BenchGuard pins the effect.
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.exchange.{ShuffleExchangeExec, REPARTITION_BY_NUM}
    def pinned(p: SparkPlan): Boolean = (p match {
      case e: ShuffleExchangeExec => e.shuffleOrigin == REPARTITION_BY_NUM
      case _ => false
    }) || p.children.exists(pinned)
    val dirS = "/root/testdata/sf0.001"
    for (q <- Seq(
        "d09_editdist_pairs",    // docs() spread under the probe generation
        "t23_ngram_novelty",     // docs() spread under the shingle explode
        "s04_knn_join",          // block-pair scoring exchange
        "e01_embedding_neardup", // block-pair scoring exchange
        "s06_ann_knn_join",      // signature block-pair scoring exchange
        "s10_ann_bucketed"))     // embWide + candidatePairs cell exchange
      assert(pinned(SparkEntry.queries(q)(spark, dirS).queryExecution.sparkPlan),
        s"$q lost its pinned repartition — AQE can serialize its hot stage " +
        "back onto one task")
    NorthStar.releaseCaches(spark, dirS)
  }
}

package graft

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.apache.spark.sql.functions._

import graft.operators.Relational

/** Relational operator layer: broadcast lookup join, top-k, SERIAL ids,
  * truncate — plus the join-cardinality law. */
class RelationalSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("op 11: lookupJoin is inner (drops unmatched) and broadcasts the dimension") {
    val fact = Seq(("Houston", 1), ("Houston", 2), ("Nowhere", 3)).toDF("city", "n")
    val dim = Seq(("Houston", "TX"), ("Seattle", "WA")).toDF("city", "st")
    val out = Relational.lookupJoin(fact, dim, "city")
    assert(out.count() == 2)
    assert(out.select(collect_set(col("st"))).as[Seq[String]].head() == Seq("TX"))
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"expected broadcast join in:\n$plan")
  }

  test("top-k plans as TakeOrderedAndProject (no global sort shuffle)") {
    val df = (1 to 100).map(i => (i.toLong, (i * 37 % 100).toLong)).toDF("id", "v")
    val top = Relational.topK(df, 5, col("v").desc, col("id").asc)
    val plan = top.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), s"expected TakeOrdered in:\n$plan")
    val got = top.as[(Long, Long)].collect().map(_._2).toSeq
    assert(got == got.sorted.reverse && got.head == 99L)
  }

  test("withRunningTotal equals the single-window cumsum, invariant to partition count") {
    val rnd = new scala.util.Random(11)
    // signed values on purpose: partition totals must be sum(v), which
    // diverges from max(running sum) whenever negatives are present
    val df = (1 to 500).map(i => (i.toLong * 3 + rnd.nextInt(2), // unique, gappy order keys
      rnd.nextInt(100).toLong - 40L)).toMap.toSeq.toDF("k", "v")
    val expected = df
      .withColumn("rt", sum(col("v")).over(
        org.apache.spark.sql.expressions.Window.orderBy(col("k"))
          .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
      .select(col("k"), col("rt")).as[(Long, Long)].collect().toMap
    for (p <- Seq(1, 7, 32)) {
      val got = Relational.withRunningTotal(df, "k", "v", "rt", partitions = p)
        .select(col("k"), col("rt")).as[(Long, Long)].collect().toMap
      assert(got == expected, s"partitions=$p")
    }
  }

  test("withRunningTotal on a WIDE input: extra columns survive, totals " +
       "still exact, and both branches share ONE reused range exchange") {
    val rnd = new scala.util.Random(17)
    // k = i*5 + [0,3) is unique by construction (stride 5 > jitter range)
    val wide = (1 to 300).map(i => (i.toLong * 5 + rnd.nextInt(3),
      rnd.nextInt(50).toLong - 20L, s"tag$i", i % 7)).toDF("k", "v", "tag", "grp")
    val expected = wide
      .withColumn("rt", sum(col("v")).over(
        org.apache.spark.sql.expressions.Window.orderBy(col("k"))
          .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
      .select(col("k"), col("tag"), col("rt"))
      .as[(Long, String, Long)].collect().toSet
    val got = Relational.withRunningTotal(wide, "k", "v", "rt", partitions = 7)
    assert(got.columns.toSet == Set("k", "v", "tag", "grp", "rt"))
    assert(got.select(col("k"), col("tag"), col("rt"))
      .as[(Long, String, Long)].collect().toSet == expected)
    // the corruption ADVICE flagged arises when the two derived subtrees
    // each plan their own range exchange (independently sampled
    // boundaries). With the internal narrow projection the subtrees must
    // canonicalize identically and collapse to ONE exchange — that
    // canonical identity is the exact key both the ReuseExchange rule
    // (non-AQE) and AQE's shuffle-stage cache deduplicate on. AQE wraps
    // stages as leaf nodes, hiding the reuse from a plan traversal, so
    // assert it on the non-adaptive plan.
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val plan = Relational.withRunningTotal(wide, "k", "v", "rt", partitions = 7)
        .queryExecution.executedPlan
      val ranges = plan.collectWithSubqueries {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
          if e.outputPartitioning
            .isInstanceOf[org.apache.spark.sql.catalyst.plans.physical.RangePartitioning] => e
      }
      val reused = plan.collectWithSubqueries {
        case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec => r
      }
      assert(ranges.size == 1,
        s"expected exactly one physical range exchange, got ${ranges.size}:\n$plan")
      assert(reused.nonEmpty, s"expected a ReusedExchange in:\n$plan")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("withRunningTotal REPLACES a pre-existing outCol on wide inputs " +
       "(withColumn semantics, no ambiguous duplicate)") {
    val wide = Seq((1L, 10L, 999L, "a"), (2L, -3L, 999L, "b"), (3L, 5L, 999L, "c"))
      .toDF("k", "v", "rt", "tag") // stale rt column must be overwritten
    val got = Relational.withRunningTotal(wide, "k", "v", "rt", partitions = 2)
    assert(got.columns.count(_ == "rt") == 1)
    assert(got.select(col("k"), col("rt")).as[(Long, Long)].collect().toMap ==
      Map(1L -> 10L, 2L -> 7L, 3L -> 12L))
  }

  test("mergeUpsert: matched keys replaced, new keys appended, rest untouched") {
    val target = Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0))
      .toDF("k", "name", "v")
    val source = Seq((2L, "b2", 25.0), (9L, "new", 90.0)).toDF("k", "name", "v")
    val out = Relational.mergeUpsert(target, source, Seq("k"))
      .orderBy(col("k")).as[(Long, String, Double)].collect().toSeq
    assert(out == Seq((1L, "a", 10.0), (2L, "b2", 25.0), (3L, "c", 30.0),
      (9L, "new", 90.0)))
  }

  private def check(prop: Prop, n: Int): Unit = {
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(n), prop)
    assert(res.passed, res.status.toString)
  }

  test("law: mergeUpsert equals the naive keep-unmatched-plus-source reference") {
    import org.scalacheck.Gen
    val rowGen = Gen.listOf(Gen.zip(Gen.choose(0L, 20L), Gen.choose(0, 99)))
    val prop = Prop.forAll(rowGen, rowGen) { (t0, s0) =>
      val target = t0.toDF("k", "v")
      val source = s0.toDF("k", "v")
      val got = Relational.mergeUpsert(target, source, Seq("k"))
        .as[(Long, Int)].collect().sorted.toSeq
      val srcKeys = s0.map(_._1).toSet
      val expected = (t0.filterNot(r => srcKeys(r._1)) ++ s0)
        .map { case (k, v) => (k, v) }.sorted
      got == expected
    }
    check(prop, 12)
  }

  test("mergeUpsert: a duplicated source key replaces the target row without double-dropping") {
    val target = Seq((1L, "a"), (2L, "b")).toDF("k", "v")
    val source = Seq((2L, "x"), (2L, "y")).toDF("k", "v")
    val out = Relational.mergeUpsert(target, source, Seq("k"))
    // both source rows survive (bag semantics on the source batch);
    // the single stale target row is gone exactly once
    assert(out.count() == 3)
    assert(out.filter(col("k") === 2 && col("v") === "b").count() == 0)
  }

  test("op SERIAL: withSerialId assigns dense 1..n ids in order") {
    val df = Seq("c", "a", "b").toDF("k")
    val ids = Relational.withSerialId(df, Seq(col("k")))
      .orderBy(col("k")).select(col("id")).as[Int].collect()
    assert(ids.toSeq == Seq(1, 2, 3))
  }

  test("op 19: truncate leaves a readable empty table with the schema intact") {
    val dir = Files.createTempDirectory("graft_trunc").toString + "/t"
    val df = Seq((1L, "a")).toDF("id", "s")
    df.write.parquet(dir)
    Relational.truncate(spark.read.parquet(dir), dir + "_empty")
    val empty = spark.read.parquet(dir + "_empty")
    assert(empty.count() == 0)
    assert(empty.columns.toSeq == Seq("id", "s"))
  }

  test("TRUNCATE RESTART IDENTITY: serial ids restart at 1 after reset + re-append") {
    // reference RDS_Postgres_testing.ipynb cells 6-7: truncate resets the
    // SERIAL counter; here ids are recomputed per read, so a truncated
    // table re-appended starts at 1 again
    val root = Files.createTempDirectory("graft_identity").toString
    val store = s"$root/t"
    Seq("c", "a", "b").toDF("k").write.parquet(store)
    val before = Relational.withSerialId(spark.read.parquet(store), Seq(col("k")))
      .orderBy(col("id")).select(col("id")).as[Int].collect()
    assert(before.toSeq == Seq(1, 2, 3))
    // truncate (keep schema), then re-append two fresh rows
    Relational.truncate(spark.read.parquet(store), s"$root/t2")
    Seq("z", "y").toDF("k").write.mode("append").parquet(s"$root/t2")
    val after = Relational.withSerialId(spark.read.parquet(s"$root/t2"), Seq(col("k")))
      .orderBy(col("id")).select(col("id"), col("k")).as[(Int, String)].collect()
    assert(after.toSeq == Seq((1, "y"), (2, "z"))) // restarted at 1, order respected
  }

  test("law: asofJoin equals the brute-force per-row argmax (ties match, no-match is null)") {
    // left rows at random (key, ts); right rows unique per (key, ts)
    val leftGen = Gen.listOfN(40, for {
      k <- Gen.choose(0L, 4L); ts <- Gen.choose(0L, 50L)
    } yield (k, ts))
    val rightGen = Gen.listOfN(15, for {
      k <- Gen.choose(0L, 4L); ts <- Gen.choose(0L, 50L); v <- Gen.choose(0L, 999L)
    } yield (k, ts, v))
    val prop = Prop.forAll(leftGen, rightGen) { (l, r0) =>
      val r = r0.groupBy(t => (t._1, t._2)).map(_._2.head).toList // unique (key, ts)
      val lf = l.zipWithIndex.map { case ((k, ts), i) => (i.toLong, k, ts) }
        .toDF("lid", "k", "ts")
      val rf = r.toDF("k", "rts", "rv")
      val got = Relational.asofJoin(lf, rf, "k", "ts", "rts")
        .select(col("lid"), col("rts"), col("rv"))
        .as[(Long, Option[Long], Option[Long])].collect().toSeq.sortBy(_._1)
      val expected = l.zipWithIndex.map { case ((k, ts), i) =>
        val best = r.filter(t => t._1 == k && t._2 <= ts).sortBy(_._2).lastOption
        (i.toLong, best.map(_._2), best.map(_._3))
      }
      got == expected
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(5), prop)
    assert(res.passed, res.status.toString)
  }

  test("law: asofJoinDirected forward/nearest equal brute force; nearest ties to backward") {
    val leftGen = Gen.listOfN(40, for {
      k <- Gen.choose(0L, 4L); ts <- Gen.choose(0L, 50L)
    } yield (k, ts))
    val rightGen = Gen.listOfN(15, for {
      k <- Gen.choose(0L, 4L); ts <- Gen.choose(0L, 50L); v <- Gen.choose(0L, 999L)
    } yield (k, ts, v))
    val prop = Prop.forAll(leftGen, rightGen) { (l, r0) =>
      val r = r0.groupBy(t => (t._1, t._2)).map(_._2.head).toList
      val lf = l.zipWithIndex.map { case ((k, ts), i) => (i.toLong, k, ts) }
        .toDF("lid", "k", "ts")
      val rf = r.toDF("k", "rts", "rv")
      def run(direction: String) =
        Relational.asofJoinDirected(lf, rf, "k", "ts", "rts", direction)
          .select(col("lid"), col("rts"), col("rv"))
          .as[(Long, Option[Long], Option[Long])].collect().toSeq.sortBy(_._1)
      def brute(pick: (Long, Long) => Option[(Long, Long, Long)]) =
        l.zipWithIndex.map { case ((k, ts), i) =>
          val best = pick(k, ts); (i.toLong, best.map(_._2), best.map(_._3))
        }
      def back(k: Long, ts: Long) =
        r.filter(t => t._1 == k && t._2 <= ts).sortBy(_._2).lastOption
      def fwd(k: Long, ts: Long) =
        r.filter(t => t._1 == k && t._2 >= ts).sortBy(_._2).headOption
      def near(k: Long, ts: Long) = (back(k, ts), fwd(k, ts)) match {
        case (b, None) => b
        case (None, f) => f
        case (Some(b), Some(f)) =>
          if (f._2 - ts < ts - b._2) Some(f) else Some(b) // tie -> backward
      }
      run("backward") == brute(back) &&
        run("forward") == brute(fwd) &&
        run("nearest") == brute(near)
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(5), prop)
    assert(res.passed, res.status.toString)
  }

  test("asofJoin plans one shuffle on the key — no nested-loop join") {
    val lf = (1 to 50).map(i => (i.toLong % 5, i.toLong)).toDF("k", "ts")
    val rf = (1 to 20).map(i => (i.toLong % 5, i.toLong * 2, i.toLong)).toDF("k", "rts", "rv")
    val plan = Relational.asofJoin(lf, rf, "k", "ts", "rts")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("NestedLoop") && !plan.contains("CartesianProduct"),
      s"asof must not plan a nested loop:\n$plan")
    assert(plan.contains("Window"), s"expected the carry-forward window in:\n$plan")
  }

  test("law: intervalJoin equals the naive containment join across bucket widths") {
    val ptsGen = Gen.listOfN(30, for {
      k <- Gen.choose(0L, 3L); ts <- Gen.choose(0L, 200L)
    } yield (k, ts))
    val ivsGen = Gen.listOfN(12, for {
      k <- Gen.choose(0L, 3L); s <- Gen.choose(0L, 180L); len <- Gen.choose(0L, 60L)
      id <- Gen.choose(0L, 999L)
    } yield (k, s, s + len, id))
    val prop = Prop.forAll(ptsGen, ivsGen, Gen.oneOf(7L, 30L, 100L)) { (ps, ivs, w) =>
      val pf = ps.zipWithIndex.map { case ((k, ts), i) => (i.toLong, k, ts) }
        .toDF("pid", "k", "ts")
      val ivf = ivs.toDF("k", "s", "e", "ivid")
      val got = Relational.intervalJoin(pf, ivf, "ts", "s", "e", Seq("k"), w)
        .select(col("pid"), col("ivid")).as[(Long, Long)].collect().toSeq.sorted
      val expected = (for {
        ((k, ts), i) <- ps.zipWithIndex
        (ik, s, e, id) <- ivs if ik == k && ts >= s && ts < e
      } yield (i.toLong, id)).sorted
      got == expected
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(5), prop)
    assert(res.passed, res.status.toString)
  }

  test("law: intervalOverlapJoin equals the naive overlap join, dup-free, across widths") {
    val ivGen = (n: Int) => Gen.listOfN(n, for {
      k <- Gen.choose(0L, 2L); s <- Gen.choose(0L, 180L); len <- Gen.choose(0L, 50L)
    } yield (k, s, s + len))
    val prop = Prop.forAll(ivGen(15), ivGen(15), Gen.oneOf(7L, 30L, 100L),
      Gen.oneOf(true, false)) { (as, bs, w, keyed) =>
      val af = as.zipWithIndex.map { case ((k, s, e), i) => (i.toLong, k, s, e) }
        .toDF("aid", "k", "as0", "ae0")
      val bf = bs.zipWithIndex.map { case ((k, s, e), i) => (i.toLong, k, s, e) }
        .toDF("bid", "bk", "bs0", "be0")
      val keys = if (keyed) Seq("k") else Seq.empty[String]
      val rhs = if (keyed) bf.withColumnRenamed("bk", "k") else bf
      val got = Relational.intervalOverlapJoin(af, rhs,
          "as0", "ae0", "bs0", "be0", keys, w)
        .select(col("aid"), col("bid")).as[(Long, Long)].collect().toSeq
      val expected = (for {
        ((ak, s1, e1), i) <- as.zipWithIndex
        ((bk, s2, e2), j) <- bs.zipWithIndex
        if (!keyed || ak == bk) && s1 < e2 && s2 < e1
      } yield (i.toLong, j.toLong)).sorted
      // sorted equality also proves no duplicate emission
      got.sorted == expected && got.size == got.distinct.size
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(5), prop)
    assert(res.passed, res.status.toString)
  }

  test("intervalOverlapJoin keeps sub-second timestamp overlaps (raw-column predicate)") {
    // [1.2s, 2.2s) vs [2.1s, 3.1s) overlap by 100ms; epoch-second
    // truncation would compare rs=2 < le=2 = false and drop the pair
    def ts(df: org.apache.spark.sql.DataFrame, from: String, to: String) =
      df.withColumn(to, col(from).cast("timestamp")).drop(from)
    val lf = ts(ts(Seq((1L, "2024-01-01 00:00:01.2", "2024-01-01 00:00:02.2"))
      .toDF("aid", "s0", "e0"), "s0", "ls"), "e0", "le")
    val rf = ts(ts(Seq((10L, "2024-01-01 00:00:02.1", "2024-01-01 00:00:03.1"))
      .toDF("bid", "s1", "e1"), "s1", "rs"), "e1", "rend")
    val got = Relational.intervalOverlapJoin(lf, rf, "ls", "le", "rs", "rend", Nil, 10L)
      .select(col("aid"), col("bid")).as[(Long, Long)].collect().toSeq
    assert(got == Seq((1L, 10L)), s"sub-second overlap dropped: $got")
    // and a genuinely disjoint sub-second pair ([1.2,2.2) vs [2.3,3.1)) stays out
    val rf2 = ts(ts(Seq((11L, "2024-01-01 00:00:02.3", "2024-01-01 00:00:03.1"))
      .toDF("bid", "s1", "e1"), "s1", "rs"), "e1", "rend")
    assert(Relational.intervalOverlapJoin(lf, rf2, "ls", "le", "rs", "rend", Nil, 10L)
      .count() == 0L)
  }

  test("intervalJoin handles timestamp columns under ANSI mode (no bigint cast)") {
    val pts = Seq((1L, "2024-01-05 12:00:00"), (2L, "2024-01-20 00:00:00"))
      .toDF("pid", "s").select(col("pid"), col("s").cast("timestamp").as("ts"))
    val ivs = Seq((10L, "2024-01-01 00:00:00", "2024-01-10 00:00:00"))
      .toDF("ivid", "a", "b")
      .select(col("ivid"), col("a").cast("timestamp").as("st"), col("b").cast("timestamp").as("en"))
    val got = Relational.intervalJoin(pts, ivs, "ts", "st", "en", Nil, 86400L)
      .select(col("pid"), col("ivid")).as[(Long, Long)].collect().toSeq
    assert(got == Seq((1L, 10L)))
  }

  test("bloomPrefilterJoin equals the plain inner join and plants might_contain") {
    // parquet-backed fact: over a LocalRelation the optimizer's
    // ConvertToLocalRelation evaluates the probe at plan time and the
    // filter would never appear physically
    val dir = Files.createTempDirectory("graft_bloom").toString + "/fact"
    (1 to 500).map(i => (i.toLong % 100, i.toLong)).toDF("k", "v").write.parquet(dir)
    val fact = spark.read.parquet(dir)
    val dim = (0 to 9).map(i => (i.toLong, s"d$i")).toDF("k", "name")
    val got = Relational.bloomPrefilterJoin(fact, dim, "k")
    val plain = fact.join(dim, Seq("k"), "inner")
    assert(got.orderBy(col("v")).collect().toSeq ==
      plain.orderBy(col("v")).collect().toSeq)
    val plan = got.queryExecution.executedPlan.toString
    assert(plan.contains("might_contain"), s"expected bloom probe in:\n$plan")
  }

  test("bloom prefilter drops non-candidate fact rows before the join") {
    // 1000 fact keys, only 5 present in dim: the planted filter must pass
    // the 50 matching rows plus at most a small false-positive tail
    val fact = (1 to 1000).map(i => (i.toLong % 100, i.toLong)).toDF("k", "v")
    val dim = (0 to 4).map(i => (i.toLong, s"d$i")).toDF("k", "name")
    import org.apache.spark.sql.GraftBridge
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal, XxHash64}
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    val bytes = dim.select(GraftBridge.column(BloomFilterAggregate(
        XxHash64(Seq(GraftBridge.expression(col("k"))), 42L),
        Literal(1L << 16), Literal(1L << 20), 0, 0).toAggregateExpression()).as("bf"))
      .head().getAs[Array[Byte]](0)
    val kept = fact.filter(GraftBridge.column(BloomFilterMightContain(
      Literal(bytes, org.apache.spark.sql.types.BinaryType),
      XxHash64(Seq(GraftBridge.expression(col("k"))), 42L)))).count()
    assert(kept >= 50 && kept < 200, s"prefilter kept $kept of 1000")
  }

  test("bloomPrefilterJoin on an empty dimension returns an empty result") {
    val fact = Seq((1L, 1L)).toDF("k", "v")
    val dim = Seq.empty[(Long, String)].toDF("k", "name")
    assert(Relational.bloomPrefilterJoin(fact, dim, "k").count() == 0)
  }

  test("q60 corpus diff: all four statuses surface with the right hash " +
       "null-pattern") {
    // ids chosen to hit every status under the version predicates:
    // 0 %17=0 → patched in B → changed; 1 → unchanged;
    // 3 %11=3 → absent from A → added; 5 %13=5 → absent from B → removed
    val dir = Files.createTempDirectory("graft_q60").toString
    Seq((0L, "alpha beta", "en", "s0", 10L), (1L, "gamma", "en", "s0", 5L),
        (3L, "delta", "en", "s1", 5L), (5L, "epsilon", "en", "s1", 7L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = SparkEntry.queries("q60_corpus_diff")(spark, dir)
      .as[(Long, String, Option[String], Option[String])].collect()
      .map(r => r._1 -> ((r._2, r._3.isDefined, r._4.isDefined))).toMap
    assert(out == Map(
      0L -> (("changed", true, true)),
      1L -> (("unchanged", true, true)),
      3L -> (("added", false, true)),
      5L -> (("removed", true, false))))
  }

  test("skewProfile: hand distribution exact; uniform keys -> cv 0, salt 1") {
    val skewed = Seq("a", "a", "a", "a", "b", "b", "c", "d").toDF("k")
    val r = graft.operators.Relational.skewProfile(skewed, "k").collect().head
    assert(r.getLong(0) == 4 && r.getLong(1) == 8 && r.getLong(2) == 4)
    assert(r.getDouble(3) == 2.0, "avg_cnt")
    // counts (4,2,1,1): var = (16+4+1+1 - 64/4)/4 = 1.5
    assert(math.abs(r.getDouble(4) - math.sqrt(1.5) / 2.0) < 1e-15, "cv")
    assert(r.getDouble(5) == 0.5 && r.getDouble(6) == 2.0, "top1/skew_ratio")
    assert(r.getInt(7) == 2, "recommended_salt")
    val uniform = Seq("a", "a", "b", "b", "c", "c").toDF("k")
    val u = graft.operators.Relational.skewProfile(uniform, "k").collect().head
    assert(u.getDouble(4) == 0.0 && u.getDouble(6) == 1.0 && u.getInt(7) == 1)
  }

  test("law: inner equi-join cardinality = Σ_k count_left(k)·count_right(k)") {
    val keys = Gen.listOfN(30, Gen.choose(0, 5))
    val prop = Prop.forAll(keys, keys) { (l, r) =>
      val lf = l.zipWithIndex.toDF("k", "i")
      val rf = r.zipWithIndex.toDF("k", "j")
      val expected = l.groupBy(identity).view.mapValues(_.size).toMap
        .map { case (k, n) => n.toLong * r.count(_ == k) }.sum
      lf.join(rf, "k").count() == expected
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(8), prop)
    assert(res.passed, res.status.toString)
  }
}

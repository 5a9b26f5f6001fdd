package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.functions.{TextFunctions => TF}
import graft.pipeline.CorpusPipeline

/** End-to-end corpus preparation: the composed pipeline's invariants on
  * the harness documents table (each stage is oracle-verified alone as a
  * harness query; here the CHAIN is checked). */
class CorpusPipelineSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private lazy val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
  private lazy val result = CorpusPipeline.run(docs)

  test("input contract: doc_id is unique in the documents table (the " +
       "quality stage's per-row filter semantics rely on it)") {
    val n = docs.count()
    assert(docs.select("doc_id").distinct().count() == n,
      "duplicated doc_ids would change the per-row quality filter's " +
        "semantics vs a doc_id-keyed semi-join (ADVICE r16)")
  }

  test("stages run in order and only ever shrink the corpus") {
    val st = result.stats
    assert(st.map(_.stage) == Seq("pii_scrub", "quality_filter",
      "exact_dedup", "neardup_dedup", "decontaminate"))
    st.foreach(s => assert(s.docs_out <= s.docs_in, s.toString))
    assert(st.head.docs_out == st.head.docs_in,
      "pii_scrub is a rewrite, never a drop")
    // chaining: each stage's input is the previous stage's output
    st.sliding(2).foreach {
      case Seq(a, b) => assert(b.docs_in == a.docs_out)
      case _ =>
    }
    assert(st.last.docs_out > 0, "pipeline must not empty the corpus")
  }

  test("law: run is a projection of the shared verdict chain — released " +
       "doc_ids are the chain's survivors and each stage's docs_out is the " +
       "chain's pool size, in both pair modes, LM gate on and off") {
    // plant exact duplicates (re-crawls under new, larger ids on a
    // residue class): the harness corpus has none, and the exact stage's
    // survivor choice must show in the released ids
    val input = docs.unionByName(docs.filter(col("doc_id") % 5 === 1)
      .withColumn("doc_id", col("doc_id") + 1000000L))
    val scrubbed = input.withColumn("text", TF.scrubPii(col("text")))
    // reference components: exact Jaccard pairs built here over the pool
    def exactComponents(pool: org.apache.spark.sql.DataFrame) = {
      val pairs = graft.operators.Dedup.jaccardPairsExact(
        pool.select(col("doc_id"), col("text")), "doc_id", "text", 0.8)
      val comps = graft.operators.Dedup.connectedComponents(
        pairs.select(col("doc_a"), col("doc_b")))
      pairs.unpersist()
      comps
    }
    for (lm <- Seq(false, true)) {
      val chain = CorpusPipeline.verdictStages(scrubbed, "src0", lm,
        exactComponents, (_, pool) => pool)
      val poolSizes = chain.map { case (name, pool) => name -> pool.count() }
      val survivors = chain.last._2.select(col("doc_id")).as[Long].collect().toSet
      assert(survivors.nonEmpty, "fixture premise: the chain releases documents")
      val exact = chain.indexWhere(_._1 == "exact_dedup")
      assert(poolSizes(exact)._2 < poolSizes(exact - 1)._2,
        "fixture premise: the exact stage drops the planted duplicates")
      for (lsh <- Seq(false, true)) {
        val run = CorpusPipeline.run(input, lshPairs = lsh, lmFluency = lm)
        val released = run.corpus.select(col("doc_id")).as[Long].collect().toSet
        assert(released == survivors, s"lm=$lm lsh=$lsh: released ids drifted " +
          s"from the chain: ${(released diff survivors) ++ (survivors diff released)}")
        assert(run.stats.tail.map(st => st.stage -> st.docs_out) == poolSizes,
          s"lm=$lm lsh=$lsh: stage stats ${run.stats} vs chain pools $poolSizes")
      }
    }
  }

  test("final corpus: no exact duplicates, no eval-source docs, full split cover") {
    val c = result.corpus.cache()
    val n = c.count()
    val fps = c.select(TF.fingerprint(col("text"))).distinct().count()
    assert(fps == n, "exact duplicates must not survive")
    assert(c.filter(col("split").isin("train", "val", "test")).count() == n)
    assert(c.filter(col("source") === "src0").count() == 0,
      "held-out eval source must not appear in the training corpus")
    c.unpersist()
  }

  test("no surviving pair exceeds the near-dup threshold") {
    val pairs = graft.operators.Dedup.jaccardPairsExact(
      result.corpus.select(col("doc_id"), col("text")), "doc_id", "text", 0.8)
    assert(pairs.count() == 0)
  }

  test("write: one directory per split, content round-trips, rows sorted in-file") {
    val root = java.nio.file.Files.createTempDirectory("graft_corpus").toString + "/corpus"
    CorpusPipeline.write(result, root)
    val dirs = new java.io.File(root).listFiles().filter(_.isDirectory).map(_.getName).sorted
    assert(dirs.toSeq.forall(_.startsWith("split=")) && dirs.nonEmpty)
    val back = spark.read.parquet(root)
    assert(back.count() == result.corpus.count())
    // read with the split filter: partition pruning leaves only that dir
    val train = back.filter(col("split") === "train")
    val scan = train.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters"), s"expected partition pruning:\n$scan")
  }

  test("run + write release every cache they persist, in both pair-stage modes") {
    val sc = spark.sparkContext
    // a plan no other test runs: a frame it persists cannot alias a cache
    // an earlier run left behind (persisting an already-cached plan is a
    // no-op, which would hide the leak)
    val input = docs.filter(col("doc_id") =!= -1L)
    for (lsh <- Seq(false, true)) {
      val before = sc.getPersistentRDDs.keySet
      val root = java.nio.file.Files.createTempDirectory("graft_corpus_rel").toString
      CorpusPipeline.write(CorpusPipeline.run(input, lshPairs = lsh), root + "/corpus")
      assert(sc.getPersistentRDDs.keySet == before,
        s"lshPairs=$lsh left persisted RDDs: ${sc.getPersistentRDDs.keySet -- before}")
    }
  }

  test("LSH pair-stage mode produces the SAME corpus as the exact pair " +
       "stage (recall parity at feasible scale)") {
    val viaLsh = CorpusPipeline.run(docs, lshPairs = true)
    val a = result.corpus.select(col("doc_id"), col("split"))
      .as[(Long, String)].collect().toSet
    val b = viaLsh.corpus.select(col("doc_id"), col("split"))
      .as[(Long, String)].collect().toSet
    assert(a == b, s"survivor/split divergence: ${(a diff b) ++ (b diff a)}")
  }

  test("LM-fluency stage law: the gated run's stats insert exactly one " +
       "lm_fluency stage, every doc it drops FAILS the t39 keep gate " +
       "computed independently, every survivor passes or is the " +
       "reference slice, and lmFluency=false is byte-identical to " +
       "the ungated pipeline") {
    val gated = CorpusPipeline.run(docs, lmFluency = true)
    assert(gated.stats.map(_.stage) == Seq("pii_scrub", "quality_filter",
      "lm_fluency", "exact_dedup", "neardup_dedup", "decontaminate"))
    // reconstruct the gate's exact inputs: the scrubbed corpus and its
    // quality-survivor pool (stage semantics verified by their own
    // oracle-green queries; here the CHAIN is pinned)
    val scrubbed = docs.withColumn("text", TF.scrubPii(col("text")))
    val q = scrubbed.select(col("doc_id") +: TF.qualityColumns(col("text")): _*)
      .filter(col("n_tokens") >= 5 && col("punct_ratio") <= 0.2 &&
        col("stopword_ratio") >= 0.01 && col("ttr") >= 0.3)
      .select(col("doc_id"))
    val pool = scrubbed.join(q, Seq("doc_id"), "left_semi")
    val keepSet = graft.operators.LmFluency.score(
        scrubbed.filter(col("source") === "src0").select(col("text")),
        pool.filter(col("source") =!= "src0").select(col("doc_id"), col("text")))
      .filter(col("keep")).select(col("doc_id")).as[Long].collect().toSet
    val poolIds = pool.select(col("doc_id"), col("source"))
      .as[(Long, String)].collect().toMap
    val lmStage = gated.stats.find(_.stage == "lm_fluency").get
    val survivorsAfter = {
      // survivors of the lm stage = docs entering exact_dedup; recover
      // them from the final verdictless corpus is lossy, so re-derive:
      // pool ∩ (keepSet ∪ src0)
      poolIds.collect { case (id, src) if src == "src0" || keepSet(id) => id }.toSet
    }
    assert(lmStage.docs_in == poolIds.size && lmStage.docs_out == survivorsAfter.size,
      s"lm stage counts drifted: $lmStage vs pool=${poolIds.size} keep=${survivorsAfter.size}")
    // dropped docs are exactly the pool's non-reference gate failures
    val dropped = poolIds.keySet -- survivorsAfter
    assert(dropped.forall(id => poolIds(id) != "src0" && !keepSet(id)))
    // and the ungated run is unchanged by the new parameter's existence
    val ungated = CorpusPipeline.run(docs, lmFluency = false)
    assert(ungated.corpus.select(col("doc_id"), col("split"))
      .as[(Long, String)].collect().toSet ==
      result.corpus.select(col("doc_id"), col("split"))
        .as[(Long, String)].collect().toSet)
    // the gated corpus is a SUBSET of the ungated one in doc_ids only if
    // dedup survivor choices are unaffected — which they are NOT in
    // general (a dropped doc can change a cluster representative), so the
    // law pinned here is the stage-level one above, plus: no gated
    // survivor fails the gate
    val gatedIds = gated.corpus.select(col("doc_id")).as[Long].collect().toSet
    assert(gatedIds.forall(id => poolIds.get(id).exists(src =>
      src != "src0" && keepSet(id))),
      "a released doc must be a non-reference gate-passer")
  }

  test("mojibake stage law: the gated run inserts exactly one " +
       "mojibake_filter stage that drops exactly the damaged docs, and " +
       "mojibakeFilter=false is byte-identical to the ungated pipeline") {
    // plant decode damage on a residue class (t44's discipline) — the
    // harness corpus itself is clean ASCII
    val planted = docs.withColumn("text",
      when(col("doc_id") % 7 === 2,
        concat(col("text"), lit(" caf" + TF.doubleEncodeMarks(0))))
        .otherwise(col("text")))
    val gated = CorpusPipeline.run(planted, mojibakeFilter = true)
    assert(gated.stats.map(_.stage) == Seq("pii_scrub", "mojibake_filter",
      "quality_filter", "exact_dedup", "neardup_dedup", "decontaminate"))
    val mj = gated.stats.find(_.stage == "mojibake_filter").get
    val damaged = planted
      .filter(!TF.mojibakeClean(TF.scrubPii(col("text")))).count()
    assert(damaged > 0, "fixture premise: some docs are damaged")
    assert(mj.docs_in - mj.docs_out == damaged,
      s"the stage must drop exactly the damaged docs ($damaged)")
    assert(gated.corpus.filter(!TF.mojibakeClean(col("text"))).count() == 0,
      "no damaged doc may ship")
    // flag off == the current pipeline, byte-identical
    val off = CorpusPipeline.run(planted)
    assert(off.stats.map(_.stage) == Seq("pii_scrub", "quality_filter",
      "exact_dedup", "neardup_dedup", "decontaminate"))
    val base = CorpusPipeline.run(planted, mojibakeFilter = false)
    assert(base.corpus.select(col("doc_id"), col("text"))
      .as[(Long, String)].collect().toSet ==
      off.corpus.select(col("doc_id"), col("text"))
        .as[(Long, String)].collect().toSet)
  }

  test("split assignment is content-stable: re-running yields identical splits") {
    val a = result.corpus.select(col("doc_id"), col("split"))
      .as[(Long, String)].collect().toMap
    val b = CorpusPipeline.run(docs).corpus.select(col("doc_id"), col("split"))
      .as[(Long, String)].collect().toMap
    assert(a == b)
  }

  test("split assignment is CONTENT-stable, not id-stable: the same text " +
       "re-ingested under a new doc_id keeps its split") {
    val byText = result.corpus.select(col("text"), col("split"))
      .as[(String, String)].collect().toMap
    // re-key every surviving doc with a disjoint id range and re-run only
    // the split stage semantics (full pipeline; dedup stages are keyed on
    // content so survivors carry the same text set)
    val rekeyed = docs.withColumn("doc_id", col("doc_id") + 1000000L)
    val again = CorpusPipeline.run(rekeyed).corpus
      .select(col("text"), col("split")).as[(String, String)].collect().toMap
    assert(again == byText,
      "re-ingesting identical content under new ids must not move splits")
  }
}

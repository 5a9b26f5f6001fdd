package graft

import java.nio.file.Files

import org.apache.spark.sql.AnalysisException
import org.scalatest.funsuite.AnyFunSuite

/** The query-list mode of [[ScaleDryRun]], run on sf0.001 into a fresh
  * work directory. */
class ScaleDryRunSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val src = "/root/testdata/sf0.001"
  private lazy val work = Files.createTempDirectory("graft_scale").toString

  test("factor 2: the synthesized documents are at least 2x the source, " +
       "and each query's 1x rows equal its count()") {
    val names = Seq("d01_dedup_exact", "s01_cosine_topk")
    val out = ScaleDryRun.queryList(spark, src, 2, work, names, noop = false)
    val srcDocs = spark.read.parquet(s"$src/documents.parquet").count()
    assert(spark.read.parquet(s"$work/2x/documents.parquet").count() >= 2 * srcDocs)
    assert(out.map(r => r.corpus -> r.query) ==
      Seq(s"$src (1x)", "2x").flatMap(c => names.map(c -> _)))
    for (r <- out.filter(_.corpus == s"$src (1x)"))
      assert(r.rows == SparkEntry.queries(r.query)(spark, src).count(), r.query)
    assert(out.forall(_.cost.stages.nonEmpty))
  }

  test("factor 1 meters the source only; the noop sink reports the same rows as count()") {
    val name = "t23_ngram_novelty"
    val out = ScaleDryRun.queryList(spark, src, 1, work, Seq(name), noop = true)
    assert(out.map(_.corpus) == Seq(s"$src (1x)"))
    assert(out.head.rows == SparkEntry.queries(name)(spark, src).count())
    assert(!new java.io.File(s"$work/1x").exists(), "factor 1 synthesized a corpus")
  }

  test("a query over a table the mode does not synthesize fails the run, naming the table") {
    val e = intercept[AnalysisException](
      ScaleDryRun.queryList(spark, src, 2, work, Seq("q02_project"), noop = false))
    assert(e.getMessage.contains(s"$work/2x/lineitem.parquet"), e.getMessage)
  }
}

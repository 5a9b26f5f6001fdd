package graft

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** Search / tokenizer-training tier (t13 BM25, t14 BPE merge, t16 phrase
  * search, t15 mixing weights) on a hand-computable 4-doc corpus. */
class SearchSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  // doc 2 contains no query term; doc 3 holds the phrase "fast merge" twice
  private lazy val dir: String = {
    val d = Files.createTempDirectory("graft_search").toString
    Seq(
      (0L, "dup dup merge", "en", "s0", 13L),
      (1L, "merge window merge window merge", "en", "s0", 31L),
      (2L, "the a of", "en", "s1", 8L),
      (3L, "window fast merge fast merge", "en", "s1", 28L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$d/documents.parquet")
    d
  }

  test("t13 BM25: zero-score docs drop out, every matching doc scores positive") {
    val out = SparkEntry.queries("t13_bm25_search")(spark, dir)
      .select(col("doc_id"), col("score")).as[(Long, Double)].collect().toMap
    assert(out.keySet == Set(0L, 1L, 3L))
    assert(out.values.forall(_ > 0.0))
    // doc 0 carries the rarest term ('dup', df=1) twice in a short doc —
    // highest idf × tf saturation → top rank
    val top = SparkEntry.queries("t13_bm25_search")(spark, dir)
      .select(col("doc_id")).as[Long].head()
    assert(top == 0L)
  }

  test("t14 BPE merge: adjacent-pair counts, ties broken by pair text") {
    val out = SparkEntry.queries("t14_bpe_merge")(spark, dir)
      .as[(String, Long)].collect().toSeq
    // count-2 pairs: "fast merge" < "merge window" < "window merge"
    assert(out.take(3) == Seq(("fast merge", 2L), ("merge window", 2L),
      ("window merge", 2L)))
    assert(out.map(_._2).sliding(2).forall(p => p.head >= p.last))
  }

  test("t16 phrase search: exact adjacent occurrence counts per doc") {
    val out = SparkEntry.queries("t16_phrase_search")(spark, dir)
      .as[(Long, Long)].collect().toMap
    assert(out == Map(3L -> 2L))
  }

  test("d11 CDC chunks: content-defined boundaries survive a prefix insertion") {
    val rnd = new scala.util.Random(7)
    val base = (1 to 2000).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString
    val d = Files.createTempDirectory("graft_cdc").toString
    Seq((0L, base, "en", "s0", base.length.toLong),
        (1L, "INSERTED-PREFIX-" + base, "en", "s0", base.length + 16L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$d/documents.parquet")
    val chunks = SparkEntry.queries("d11_cdc_chunks")(spark, d)
      .select(col("doc_id"), col("chunk_hash")).as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val shared = chunks(0L).intersect(chunks(1L))
    // only the chunks touching the insertion point may differ; every
    // downstream boundary re-synchronizes (fixed-stride chunking would
    // lose EVERY downstream chunk)
    assert(chunks(0L).size > 10, s"expected many chunks, got ${chunks(0L).size}")
    assert(shared.size >= chunks(0L).size - 2,
      s"CDC must preserve downstream chunks: ${shared.size} of ${chunks(0L).size}")
  }

  test("t21 feature hashing matches a hand-computed reference vector") {
    val out = SparkEntry.queries("t21_feature_hash")(spark, dir)
      .as[(Long, String)].collect().toMap
    val texts = Map(0L -> "dup dup merge", 1L -> "merge window merge window merge",
      2L -> "the a of", 3L -> "window fast merge fast merge")
    texts.foreach { case (id, text) =>
      val expected = Array.fill(32)(0L)
      text.split("\\s+").foreach { w =>
        val h = graft.functions.Fnv.hashBytes(w.getBytes("UTF-8"))
        val bucket = java.lang.Long.remainderUnsigned(h, 32L).toInt
        val sign = if (((h >>> 5) & 1L) == 1L) 1L else -1L
        expected(bucket) += sign
      }
      assert(out(id) == expected.mkString(","), s"doc $id")
    }
  }

  test("t15 mixing weights: normalized over sources, proportional to sqrt token mass") {
    val rows = SparkEntry.queries("t15_mix_weights")(spark, dir)
      .select(col("source"), col("n_tokens"), col("weight"))
      .as[(String, Long, Double)].collect().toSeq.sortBy(_._1)
    assert(rows.map(_._1) == Seq("s0", "s1"))
    assert(math.abs(rows.map(_._3).sum - 1.0) < 1e-12)
    val Seq(w0, w1) = rows.map(_._3)
    val Seq(n0, n1) = rows.map(_._2)
    assert(math.abs(w0 / w1 - math.sqrt(n0.toDouble) / math.sqrt(n1.toDouble)) < 1e-12)
  }
}

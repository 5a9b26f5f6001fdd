package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.functions.{TextFunctions => TF}

/** Text-analysis operators: tokenization, fingerprint, shingles, Jaccard,
  * language-ID, quality scoring (SURVEY.md §7.1 M5). */
class TextFunctionsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tokensOf(s: String): Seq[String] =
    Seq(s).toDF("t").select(TF.tokens(col("t"))).as[Seq[String]].head()

  test("tokens: lowercase, whitespace-normalized, empty-safe") {
    assert(tokensOf("  Hello   WORLD  ") == Seq("hello", "world"))
    assert(tokensOf("") == Seq.empty)
    assert(tokensOf("   ") == Seq.empty)
    assert(tokensOf("one\ttwo\nthree") == Seq("one", "two", "three"))
  }

  test("tokenCount counts whitespace tokens") {
    val n = Seq("a b  c").toDF("t").select(TF.tokenCount(col("t"))).as[Int].head()
    assert(n == 3)
  }

  test("segmentation contract (pinned DECISION, r16 #6): whitespace-only " +
       "tokenization — no-space scripts degenerate to one token, ideographic " +
       "space and pre-segmented text split; UAX #29 rejected (the oracle " +
       "engine has no BreakIterator twin)") {
    // an unsegmented CJK sentence is ONE token — the documented
    // degeneration every token consumer (counts, LM, shingles,
    // fingerprints) inherits; a change to tokens() that silently starts
    // splitting it MUST fail here and be re-proven against every oracle
    assert(tokensOf("我爱北京天安门")
      == Seq("我爱北京天安门"))
    // U+3000 IDEOGRAPHIC SPACE is NOT a separator: Java \s and RE2 \s
    // are both ASCII-only ([ \t\n\x0B\f\r] / [\t\n\f\r ]), so the two
    // engines AGREE it doesn't split — the cross-engine consistency
    // that matters. Pre-segmented CJK (the supported deployment path:
    // segment upstream, feed the same pipeline) must therefore insert
    // ASCII whitespace
    assert(tokensOf("北京　天津")
      == Seq("北京　天津"))
    // mixed script: the latin run and the CJK run are separate tokens
    // only because of the explicit spaces around them
    assert(tokensOf("spark 分布式 engine")
      == Seq("spark", "分布式", "engine"))
    // consequence pinned: two CJK docs differing only at an internal
    // "word boundary" have DISTINCT fingerprints (exact-line dedup, not
    // word-level) — the honest shape of the degeneration
    val fp = Seq("我爱北京", "我爱 北京")
      .toDF("t").select(TF.fingerprint(col("t"))).as[String].collect()
    assert(fp(0) != fp(1))
  }

  test("mojibake audit: per-family literal counts, clean flag, and the " +
       "quality-heuristic blind spot the signal exists for") {
    val repl = TF.replacementMark
    val rows = Seq(
      (1L, "perfectly clean ascii text here"),
      (2L, s"decoder gave up $repl twice $repl here"),
      (3L, s"nel ${TF.c1Marks(0)} and pu2 ${TF.c1Marks(1)} controls"),
      (4L, "double caf" + TF.doubleEncodeMarks(0) + " and quote " +
        TF.doubleEncodeMarks(1)),
      (5L, "caf" + TF.doubleEncodeMarks(0) + TF.doubleEncodeMarks(0) +
        " back to back")).toDF("doc_id", "text")
    val m = rows.select(col("doc_id") +: TF.mojibakeColumns(col("text")): _*)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getBoolean(4)))).toMap
    assert(m(1L) == ((0L, 0L, 0L, true)))
    assert(m(2L) == ((2L, 0L, 0L, false)))
    assert(m(3L) == ((0L, 2L, 0L, false)))
    assert(m(4L) == ((0L, 0L, 2L, false)))
    assert(m(5L) == ((0L, 0L, 2L, false)), "adjacent digrams both count")
    // the blind spot: a mojibake'd doc can still PASS the heuristic
    // quality rule — this signal is additive, not redundant
    val blind = Seq((9L, "the quick brown fox ate caf" +
      TF.doubleEncodeMarks(0) + " food today")).toDF("doc_id", "text")
    assert(blind.select(TF.qualityKeep(col("text"))).head.getBoolean(0),
      "fixture premise: heuristics pass")
    assert(!blind.select(TF.mojibakeColumns(col("text")).last).head.getBoolean(0),
      "the mojibake flag catches what the heuristics miss")
  }

  test("fingerprint is whitespace/case-insensitive but content-sensitive") {
    val fps = Seq("Hello  world", "hello world", "hello worlds").toDF("t")
      .select(TF.fingerprint(col("t"))).as[String].collect()
    assert(fps(0) == fps(1))
    assert(fps(0) != fps(2))
  }

  test("shingles: sliding distinct n-grams; short docs collapse to one whole-text shingle") {
    def sh(s: String): Seq[String] =
      Seq(s).toDF("t").select(TF.shingles(col("t"), 3)).as[Seq[String]].head()
    assert(sh("a b c d") == Seq("a b c", "b c d"))
    assert(sh("a b") == Seq("a b"))
    assert(sh("x x x x x") == Seq("x x x")) // duplicates dropped
  }

  test("jaccard: 1.0 on identical sets, 0.0 on disjoint, exact ratio between") {
    val df = Seq(
      (Seq("a", "b"), Seq("a", "b")),
      (Seq("a"), Seq("b")),
      (Seq("a", "b", "c"), Seq("b", "c", "d"))).toDF("x", "y")
    val out = df.select(TF.jaccard(col("x"), col("y"))).as[Double].collect()
    assert(out(0) == 1.0)
    assert(out(1) == 0.0)
    assert(out(2) == 2.0 / 4.0)
  }

  test("langId votes marker words with deterministic tie order") {
    val out = Seq(
      "the cat and the dog of war",
      "der hund und die katze",
      "le chat et la mer",
      "el perro y los gatos",
      "xyzzy plugh").toDF("t").select(TF.langId(col("t"))).as[String].collect()
    assert(out.toSeq == Seq("en", "de", "fr", "es", "und"))
  }

  test("quality columns: exact integer-count ratios") {
    val r = Seq("Aa bb, cc.").toDF("t")
      .select(TF.qualityColumns(col("t")): _*).collect().head
    assert(r.getAs[Int]("n_chars_calc") == 10)
    assert(r.getAs[Int]("n_tokens") == 3)
    assert(r.getAs[Double]("punct_ratio") == 2.0 / 10.0)
    assert(r.getAs[Double]("ttr") == 1.0) // all tokens distinct
  }

  test("t27 quality classifier: hand-computed scores, empty-doc zero, " +
       "duplication invariance") {
    import java.nio.file.Files
    val dir = Files.createTempDirectory("graft_t27").toString
    Seq(
      (0L, "merge window merge", "en", "s0", 18L),
      (1L, "", "en", "s0", 0L),
      (2L, "   ", "en", "s0", 3L),
      (3L, "fast join", "en", "s1", 9L),
      (4L, "fast join fast join", "en", "s1", 19L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = SparkEntry.queries("t27_quality_classifier")(spark, dir)
      .as[(Long, Long, Double, Boolean)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    // reference arithmetic recomputed from the public FNV-1a definition
    def scoreOf(terms: Seq[String]): Double = {
      val num = terms.map { t =>
        val h = graft.functions.Fnv.hashBytes(t.getBytes("UTF-8"))
        val sign = ((h >>> 5) & 1L) * 2L - 1L
        val bucket = java.lang.Math.floorMod(h, 32L)
        val w = ((graft.functions.Fnv.hashBytes(
          bucket.toString.getBytes("UTF-8")) >>> 7) % 2048L) - 1024L
        sign * w
      }.sum
      num.toDouble / (terms.length * 1024L).toDouble
    }
    assert(out(0L) ==
      ((3L, scoreOf(Seq("merge", "window", "merge")),
        scoreOf(Seq("merge", "window", "merge")) > 0.0)))
    // empty and whitespace-only docs surface with zero score, not lost
    assert(out(1L) == ((0L, 0.0, false)))
    assert(out(2L) == ((0L, 0.0, false)))
    // the score is a token-frequency average: doubling the text is a
    // no-op (num and n both double)
    assert(out(3L)._2 == out(4L)._2)
    assert(out.size == 5)
  }

  test("t28 corpus datasheet: hand-computed per-source counts, dup ratio, " +
       "dominant language") {
    import java.nio.file.Files
    val dir = Files.createTempDirectory("graft_t28").toString
    Seq(
      (0L, "a b", "en", "s0", 3L),
      (1L, "a b", "en", "s0", 3L),    // exact dup of doc 0
      (2L, "c", "fr", "s0", 1L),
      (3L, "d e f", "en", "s1", 5L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = SparkEntry.queries("t28_corpus_datasheet")(spark, dir)
      .as[(String, Long, Long, Double, String, Double)].collect()
      .map(r => r._1 -> r).toMap
    assert(out("s0") == (("s0", 3L, 5L, 1.0 - 2.0 / 3.0, "en", 2.0 / 3.0)))
    assert(out("s1") == (("s1", 1L, 3L, 0.0, "en", 1.0)))
    assert(out.size == 2)
  }

  test("law: t33 flag pass — array_contains + byte-gate equals the explode/semi-join/distinct shape on random corpora") {
    // pins the r18 t33 rewrite: "doc flagged" ⟺ its shingle set contains
    // its source's template gram. Reference = the r17 shape (explode the
    // shingle stream, left-semi on (source, gram), distinct doc_ids);
    // rewrite = per-row array_contains behind the contains() byte gate.
    // Random corpora from a tiny vocabulary so template grams repeat and
    // multi-space/trim edge cases appear.
    val rnd = new scala.util.Random(3318)
    val vocab = Seq("alpha", "beta", "gamma", "delta", "We", "BUY", "gold")
    val docsSeq = (0 until 300).map { i =>
      val len = 1 + rnd.nextInt(12)
      val sep = if (rnd.nextBoolean()) " " else "  \t "
      val body = Seq.fill(len)(vocab(rnd.nextInt(vocab.size))).mkString(sep)
      val pad = if (rnd.nextBoolean()) "  " else ""
      (i.toLong, s"src${rnd.nextInt(3)}", pad + body + pad)
    } :+ ((300L, "src0", "")) // empty doc: shingle set collapses to [""]
    val docs = docsSeq.toDF("doc_id", "source", "text")
    // one template gram per source (the t33 `top` shape); include a
    // single-token gram so the substring_index gate covers that arm
    val top = Seq(("src0", "we buy gold"), ("src1", "alpha"),
      ("src2", "beta  gamma")).toDF("source", "gram")
    val ref = docs
      .select(col("doc_id"), col("source"), explode(TF.shingles(col("text"))).as("gram"))
      .join(top, Seq("source", "gram"), "left_semi")
      .select(col("source"), col("doc_id")).distinct()
      .groupBy(col("source")).agg(count(lit(1)).as("n"))
      .as[(String, Long)].collect().toMap
    val got = docs
      .join(broadcast(top), Seq("source"))
      .filter(contains(lower(col("text")), substring_index(col("gram"), " ", 1)) &&
        array_contains(TF.shingles(col("text")), col("gram")))
      .groupBy(col("source")).agg(count(lit(1)).as("n"))
      .as[(String, Long)].collect().toMap
    assert(got == ref, s"flag-pass drift: got $got vs ref $ref")
    // the byte gate must be a pure prefilter — dropping it cannot change
    // the count (necessary-condition property)
    val ungated = docs.join(broadcast(top), Seq("source"))
      .filter(array_contains(TF.shingles(col("text")), col("gram")))
      .groupBy(col("source")).agg(count(lit(1)).as("n"))
      .as[(String, Long)].collect().toMap
    assert(ungated == got, "contains() gate dropped a true match")
  }

  test("redactPii: emails and phones redacted, clean text untouched, all occurrences") {
    val out = Seq(
      "mail a.b+c@sub.example.org now",
      "call +1-555-0342 or 44-555-9000",
      "two x@y.io then z@w.dev done",
      "digits 123-45 stay, plain text stays").toDF("t")
      .select(TF.redactPii(col("t"))).as[String].collect()
    assert(out.toSeq == Seq(
      "mail <EMAIL> now",
      "call <PHONE> or <PHONE>",
      "two <EMAIL> then <EMAIL> done",
      "digits 123-45 stay, plain text stays"))
  }
}

package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.functions.{TextFunctions => TF}
import graft.pipeline.CorpusPipeline

/** PII detection / scrub / pseudonymization laws on deterministic
  * planted fixtures (the harness corpus carries no PII, so the laws that
  * matter — recall on planted patterns, linkage under keyed tags — are
  * proved here; cross-engine value equality is the t35/t36/d25 oracles'
  * job). */
class PiiSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  // every pattern class planted at known multiplicity, with hostile
  // placement (start/end of text, back-to-back, shared across rows,
  // leading-zero octets, compressed/full/loopback IPv6)
  private val planted = Seq(
    (1L, "alice@corp.example.com wrote see 10.0.0.1 or +1-555-0100 id 123-45-6789 end"),
    (2L, "plain text no identifiers at all"),
    (3L, "dual bob@x.org and bob@x.org again plus 192.168.001.255"),
    (4L, "tail case ends with carol.o'brien's mail carol+spam@mail.example.io"),
    (5L, "alice@corp.example.com reappears for linkage plus +1-555-0100"),
    (6L, "node fe80::1 and 2001:db8:0:0:0:0:2:1 plus ::1 end"),
    (7L, "pay DE89370400440532013000 or FR1420041010050500013M02606 both valid"),
    (8L, "broken GB82WEST12345698765431 and lowercase de89370400440532013000 stay"),
    (9L, "wire GB82 WEST 1234 5698 7654 32 paper format today")
  ).toDF("doc_id", "text")

  /** ScalaCheck intensity for the PII property laws: 30 cases in CI
    * (each case is a multi-doc corpus evaluated through Spark, so 30 is
    * already thousands of row-level comparisons); override with
    * GRAFT_LAW_N for soak runs after kernel rewrites (round 16's
    * EmailScan/GuardedScan/CardRuns rebuild was soaked at 2000 —
    * both property laws green, ~60 s). */
  private val lawN: Int =
    sys.env.get("GRAFT_LAW_N").flatMap(_.toIntOption).getOrElse(30)

  private def countAll(df: org.apache.spark.sql.DataFrame, c: String) =
    TF.piiClasses.map { cls =>
      cls.label -> df.agg(sum(TF.piiCount(col(c), cls))).head.getLong(0)
    }.toMap

  // reference Luhn (the spec the engine fold must agree with): from the
  // right, every second digit doubled, −9 when > 9, sum ≡ 0 mod 10
  private def luhnSum(num: String): Int = num.reverse.zipWithIndex.map {
    case (c, i) =>
      val d = c - '0'; val x = if (i % 2 == 1) d * 2 else d
      if (x > 9) x - 9 else x
  }.sum

  /** Append the check digit that makes `payload` a Luhn-valid PAN. */
  private def mkValidPan(payload: String): String =
    payload + ((10 - luhnSum(payload + "0") % 10) % 10)

  // reference mod-97 (the ISO 13616 spec the engine fold must agree
  // with): first four chars moved to the end, A–Z as 10–35
  private def mod97Ref(s: String): Int =
    (s.substring(4) + s.substring(0, 4)).foldLeft(0)((acc, c) =>
      if (c.isDigit) (acc * 10 + (c - '0')) % 97
      else (acc * 100 + (c - 55)) % 97)

  /** Insert the check digits that make `country`+`bban` a valid IBAN. */
  private def mkValidIban(country: String, bban: String): String = {
    val ck = 98 - mod97Ref(country + "00" + bban)
    country + f"$ck%02d" + bban
  }

  test("planted-PII recall is 1.0: scrub leaves zero matches of any class") {
    val before = countAll(planted, "text")
    assert(before == Map("EMAIL" -> 5L, "PHONE" -> 2L, "CARD" -> 0L,
      "IBAN" -> 3L, "IP" -> 2L, "ID" -> 1L, "IP6" -> 3L),
      s"fixture drifted: $before")
    val after = countAll(planted.select(TF.scrubPii(col("text")).as("t")), "t")
    assert(after.values.forall(_ == 0L), s"scrub left matches: $after")
    // and the scrub is idempotent — tags carry no digits/dots/dashes, so
    // a second pass can never find (or invent) a match
    val once = planted.select(TF.scrubPii(col("text")).as("t"))
    assert(once.select(TF.scrubPii(col("t"))).collect().toSeq ==
      once.select(col("t")).collect().toSeq)
  }

  test("scrub preserves non-PII text verbatim") {
    val t = planted.filter(col("doc_id") === 2)
      .select(TF.scrubPii(col("text"))).head.getString(0)
    assert(t == "plain text no identifiers at all")
    val t1 = planted.filter(col("doc_id") === 1)
      .select(TF.scrubPii(col("text"))).head.getString(0)
    assert(t1 == "<EMAIL> wrote see <IP> or <PHONE> id <ID> end")
  }

  test("pseudonymization: equal values get equal tags across rows, " +
       "unequal values distinct tags, and no raw identifier survives") {
    val ps = planted
      .select(col("doc_id"), TF.pseudonymizePii(col("text"), "k1").as("p"))
      .as[(Long, String)].collect().toMap
    def tagOf(s: String): String =
      "<EMAIL:[0-9]+>".r.findFirstIn(s).getOrElse(sys.error(s"no tag in: $s"))
    // linkage: alice@corp.example.com appears in docs 1 and 5 → same tag
    assert(tagOf(ps(1L)) == tagOf(ps(5L)))
    // distinctness: bob's tag differs from alice's
    assert(tagOf(ps(3L)) != tagOf(ps(1L)))
    // doc 3's duplicated address collapses to ONE tag value used twice
    val tags3 = "<EMAIL:[0-9]+>".r.findAllIn(ps(3L)).toSeq
    assert(tags3.size == 2 && tags3.distinct.size == 1)
    // no raw email/phone remains anywhere
    val scrubbedCounts = countAll(
      planted.select(TF.pseudonymizePii(col("text"), "k1").as("t")), "t")
    assert(scrubbedCounts("EMAIL") == 0L && scrubbedCounts("PHONE") == 0L)
    // phones link too: +1-555-0100 shared by docs 1 and 5
    def phoneTag(s: String): String =
      "<PHONE:[0-9]+>".r.findFirstIn(s).getOrElse(sys.error(s"no tag in: $s"))
    assert(phoneTag(ps(1L)) == phoneTag(ps(5L)))
  }

  test("card class: Luhn-VALID PANs in every accepted grouping detect " +
       "exactly once and scrub to <CARD>; check-digit-broken twins " +
       "never match; keyed pseudonymization tags verified cards") {
    val nineteen = mkValidPan("411111111111111111") // 19-digit long PAN
    val grouped19 = s"${nineteen.take(4)}-${nineteen.slice(4, 8)}-" +
      s"${nineteen.slice(8, 12)}-${nineteen.drop(12)}" // 4-4-4-7 grouping
    val valid = Seq(
      "pay 4111-1111-1111-1111 dashed",
      "pay 4111 1111 1111 1111 spaced",
      "pay 4111111111111111 contiguous",
      "amex 378282246310005 contiguous",
      "amex 3782-822463-10005 grouped",
      "amex 3782 822463 10005 spaced",
      s"longpan $grouped19 tail",
      "visa13 4222222222222 contiguous",
      "ends with 4111-1111-1111-1111.")
    valid.foreach { text =>
      val df = Seq((1L, text)).toDF("doc_id", "text")
      val counts = countAll(df, "text")
      assert(counts("CARD") == 1L && counts.values.sum == 1L,
        s"'$text' should count exactly once as CARD: $counts")
      val clean = df.select(TF.scrubPii(col("text"))).head.getString(0)
      assert(clean.contains("<CARD>") && countAll(
        df.select(TF.scrubPii(col("text")).as("t")), "t").values.forall(_ == 0L),
        s"'$text' survived scrub: $clean")
    }
    // adjacent same-class runs: the fold replaces values literally, so
    // single-space-adjacent cards both count (two-pass) and both scrub
    val adj = Seq((1L, "p 4111111111111111 378282246310005 q")).toDF("doc_id", "text")
    assert(countAll(adj, "text")("CARD") == 2L)
    assert(adj.select(TF.scrubPii(col("text"))).head.getString(0)
      == "p <CARD> <CARD> q")
    // keyed pseudonymization verifies the checksum too: the valid PAN
    // gets a linkage tag, the broken twin stays raw
    val mix = Seq((1L, "a 4111111111111111 b 4111111111111112 c"))
      .toDF("doc_id", "text")
    val p = mix.select(TF.pseudonymizePii(col("text"), "k", TF.piiClasses))
      .head.getString(0)
    assert(p == s"a ${TF.pseudoTag("CARD", "k", "4111111111111111")} " +
      "b 4111111111111112 c", s"card pseudonymization drifted: $p")
  }

  // ---- independent driver-side reference of the CARD run-enumeration
  // semantics (a DIFFERENT formulation from CardRuns' char scanner:
  // regex run-finding with matcher positions, list-shape alignment,
  // the spec's own luhnSum, a greedy fold) — the kernel law's oracle
  private def refCardValues(text: String): Seq[String] = {
    val runPat = java.util.regex.Pattern.compile("[0-9]+(?:[- ][0-9]+)*")
    val m = runPat.matcher(text)
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    while (m.find()) {
      val run = m.group()
      val lead = if (m.start == 0) "" else text.substring(m.start - 1, m.start)
      val after = text.substring(m.end)
      val groups = run.split("[- ]").toSeq
      val seps = run.filter(c => c == '-' || c == ' ').map(_.toString)
      val runLeadOk = lead.isEmpty || !lead.matches("[0-9A-Za-z.+-]")
      val runTailOk = after.isEmpty || after.matches("[^0-9A-Za-z.-].*") ||
        after.matches("\\.([^0-9].*)?")
      def leadOk(i: Int) = if (i == 0) runLeadOk else seps(i - 1) == " "
      def tailOk(j: Int) = if (j == groups.size - 1) runTailOk else seps(j) == " "
      def value(i: Int, j: Int): String =
        (i to j).map(groups).zipAll((i until j).map(seps), "", "")
          .flatMap { case (gp, sp) => Seq(gp, sp) }.mkString
      def valid(i: Int, j: Int) =
        leadOk(i) && tailOk(j) && luhnSum(value(i, j).filter(_.isDigit)) % 10 == 0
      var gi = 0
      while (gi < groups.size) {
        def gl(k: Int) = groups(k).length
        val end =
          if (gi + 3 < groups.size && gl(gi) == 4 && gl(gi + 1) == 4 &&
              gl(gi + 2) == 4 && gl(gi + 3) >= 1 && gl(gi + 3) <= 7 &&
              valid(gi, gi + 3)) gi + 3
          else if (gi + 2 < groups.size && gl(gi) == 4 && gl(gi + 1) == 6 &&
              gl(gi + 2) == 5 && valid(gi, gi + 2)) gi + 2
          else if (gl(gi) >= 13 && gl(gi) <= 19 && valid(gi, gi)) gi
          else -1
        if (end >= 0) { out += value(gi, end); gi = end + 1 } else gi += 1
      }
    }
    out.toSeq
  }

  test("kernel law: the fused GuardedMatches/GuardedScrub/CardMatches/" +
       "CardScrub kernels are value-identical to independent reference " +
       "formulations (two-pass extraction/replace chains; the CARD " +
       "run-enumeration reference + pinned-order literal fold) on " +
       "hostile random corpora") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    // driver-side references, independently formulated: Java-regex
    // two-pass chains for the guarded classes, refCardValues for CARD,
    // refIbanValues for IBAN (regex-located runs + a functional window
    // scan replaying the same greedy leftmost-longest arbitration)
    def refIbanValues(text: String): Seq[String] = {
      val runRe = java.util.regex.Pattern.compile("[A-Z0-9]+(?: [A-Z0-9]+)*")
      val mt = runRe.matcher(text)
      val out = Seq.newBuilder[String]
      def asciiAlnum(c: Char) = (c >= '0' && c <= '9') ||
        (c >= 'A' && c <= 'Z') || (c >= 'a' && c <= 'z')
      while (mt.find()) {
        val (rs, re) = (mt.start, mt.end)
        val leadOk = rs == 0 || !asciiAlnum(text.charAt(rs - 1))
        val tailOk = re == text.length || !asciiAlnum(text.charAt(re))
        val groups = mt.group().split(' ').toVector
        def startOk(i: Int) = i > 0 || leadOk
        def endOk(j: Int) = j < groups.length - 1 || tailOk
        def lldd(s: String) =
          s.length >= 4 && s(0).isUpper && s(1).isUpper &&
            s(2).isDigit && s(3).isDigit
        var gi = 0
        while (gi < groups.length) {
          val cands: Seq[Int] =
            if (groups(gi).length == 4 && lldd(groups(gi)) && startOk(gi))
              (math.min(gi + 8, groups.length - 1) to (gi + 3) by -1).filter { j =>
                (gi + 1 until j).forall(groups(_).length == 4) &&
                  groups(j).length >= 1 && groups(j).length <= 4 &&
                  (4 * (j - gi) + groups(j).length) >= 15 &&
                  (4 * (j - gi) + groups(j).length) <= 34 && endOk(j) &&
                  mod97Ref(groups.slice(gi, j + 1).mkString) == 1
              }
            else if (groups(gi).length >= 15 && groups(gi).length <= 34 &&
                lldd(groups(gi)) && startOk(gi) && endOk(gi) &&
                mod97Ref(groups(gi)) == 1) Seq(gi)
            else Seq.empty
          cands.headOption match {
            case Some(j) =>
              out += groups.slice(gi, j + 1).mkString(" "); gi = j + 1
            case None => gi += 1
          }
        }
      }
      out.result()
    }
    def refCount(text: String, c: TF.PiiClass): Long =
      if (c.luhn) refCardValues(text).size.toLong
      else if (c.mod97) refIbanValues(text).size.toLong
      else if (c.group == 0) c.pattern.r.findAllIn(text).size.toLong
      else {
        val once = text.replaceAll(c.pattern, s"$$1${c.tag}$$3")
        def cores(t: String) = {
          val m = java.util.regex.Pattern.compile(c.pattern).matcher(t)
          Iterator.continually(m).takeWhile(_.find()).map(_.group(2)).size
        }
        (cores(text) + cores(once)).toLong
      }
    def refScrub(text: String): String =
      TF.piiClasses.foldLeft(text) { (t, c) =>
        if (c.luhn)
          refCardValues(t).distinct
            .sortBy(v => (-v.length, v))
            .foldLeft(t)((acc, v) => acc.replace(v, c.tag))
        else if (c.mod97)
          refIbanValues(t).distinct
            .sortBy(v => (-v.length, v))
            .foldLeft(t)((acc, v) => acc.replace(v, c.tag))
        else if (c.group == 0) t.replaceAll(c.pattern, c.tag)
        else t.replaceAll(c.pattern, s"$$1${c.tag}$$3")
          .replaceAll(c.pattern, s"$$1${c.tag}$$3")
      }
    // hostile inputs: every class shape, valid AND broken PANs, bare
    // digit/grouped runs, adjacency — equivalence must hold on ANY
    // input, so no separators are inserted
    val word = Gen.chooseNum(1, 6).flatMap(n => Gen.listOfN(n, Gen.alphaLowerChar)).map(_.mkString)
    val digits = (lo: Int, hi: Int) => Gen.chooseNum(lo, hi)
      .flatMap(n => Gen.listOfN(n, Gen.numChar)).map(_.mkString)
    val tok = Gen.frequency(
      4 -> word,
      2 -> digits(12, 18).map(mkValidPan),
      1 -> digits(13, 19),
      1 -> (for { p <- digits(12, 18); s <- Gen.oneOf("-", " ") } yield {
        val f = mkValidPan(p)
        s"${f.take(4)}$s${f.slice(4, 8)}$s${f.slice(8, 12)}$s${f.drop(12)}"
      }),
      1 -> digits(4, 4),
      1 -> Gen.const("4111-1111-1111-1112"),
      1 -> (for { l <- word; d <- word } yield s"$l@$d.com"),
      // hostile email-ish shapes for the EmailScan fast path: multi-@,
      // digit-tailed TLDs, dot chains, punct-heavy locals, bare domains
      1 -> Gen.oneOf("a@@b.com", "x9@y9.co9z", "a@b", "a@b.c", "..@..",
        "l@d.co.uk9", "%+-._9@9-.-9.ab", "a@b.com.", "@x.com", "a@.com",
        "a.b@c.d-e.fg", "a@b..com"),
      1 -> (for { c <- digits(1, 3); m <- digits(3, 3); s <- digits(4, 4) }
        yield s"$c-$m-$s"),
      1 -> Gen.listOfN(4, Gen.chooseNum(0, 255)).map(_.mkString(".")),
      1 -> Gen.const("fe80::1"),
      // IBAN-shaped runs: RANDOM check digits (mostly mod-97-broken,
      // ~1/97 valid — equivalence must hold either way), computed-valid
      // ones, BOTH layouts (contiguous + the spaced 4-group paper
      // format), and hostile shapes (lowercase-embedded, 14 = too
      // short, 35 = too long, irregular interior spacing, uppercase
      // word runs)
      1 -> (for {
        c1 <- Gen.alphaUpperChar; c2 <- Gen.alphaUpperChar
        ck <- digits(2, 2); n <- Gen.chooseNum(11, 30)
        bban <- Gen.listOfN(n,
          Gen.oneOf(Gen.numChar, Gen.alphaUpperChar)).map(_.mkString)
        spaced <- Gen.oneOf(true, false)
      } yield {
        val v = s"$c1$c2$ck$bban"
        if (spaced) v.grouped(4).mkString(" ") else v
      }),
      1 -> (for {
        c1 <- Gen.alphaUpperChar; c2 <- Gen.alphaUpperChar
        n <- Gen.chooseNum(11, 30)
        bban <- Gen.listOfN(n,
          Gen.oneOf(Gen.numChar, Gen.alphaUpperChar)).map(_.mkString)
        spaced <- Gen.oneOf(true, false)
      } yield {
        val v = mkValidIban(s"$c1$c2", bban)
        if (spaced) v.grouped(4).mkString(" ") else v
      }),
      1 -> Gen.oneOf("xDE89370400440532013000", "DE89370400440532013000x",
        "GB82WEST123456", "GB82WEST12345698765432112345678901X",
        "DE8937040044053201300",
        "GB82 WEST 123 4569 8765 432", "xGB82 WEST 1234 5698 7654 32",
        "GB82 WEST 1234 5698 7654 32x", "THE BIG BR15 CAPS RUN HERE",
        "GB82 WEST 1234 5698 7654 3299 12"),
      1 -> (for { a <- digits(3, 3); b <- digits(2, 2); cc <- digits(4, 4) }
        yield s"$a-$b-$cc"))
    val doc = Gen.chooseNum(1, 12).flatMap(n => Gen.listOfN(n, tok)).map(_.mkString(" "))
    val docs = Gen.chooseNum(1, 5).flatMap(n => Gen.listOfN(n, doc))
    val prop = Prop.forAll(docs) { ts =>
      val df = ts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      val got = df.select(col("text") +:
          TF.piiClasses.map(c => TF.piiCount(col("text"), c)) :+
          TF.scrubPii(col("text")): _*)
        .collect()
      got.forall { r =>
        val text = r.getString(0)
        val nc = TF.piiClasses.size
        TF.piiClasses.zipWithIndex.forall { case (c, i) =>
          r.getLong(i + 1) == refCount(text, c) } &&
          r.getString(nc + 1) == refScrub(text)
      }
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(lawN), prop)
    assert(res.passed, res.status.toString)
  }

  test("spaced-PAN adjacency is EXACT: a space-separated digit neighbor " +
       "can no longer steal a spaced PAN's head (run-enumeration counts " +
       "the true PAN); overlapping VALID candidates arbitrate " +
       "leftmost-wins; chained steals resolve; scrub redacts throughout") {
    // r15 pinned this case as a conservative under-count (the consuming
    // scan formed the cross-boundary candidate '2314 4111 1111 1111',
    // which fails Luhn and blocked the true PAN). Run enumeration tries
    // every group alignment — invalid candidates consume nothing.
    assert(luhnSum("2314411111111111") % 10 != 0, "fixture premise")
    val steal = Seq((1L, "call +9 704 2314 4111 1111 1111 1111 end"))
      .toDF("doc_id", "text")
    val counts = countAll(steal, "text")
    assert(counts("PHONE") == 1L && counts("CARD") == 1L &&
      counts.values.sum == 2L, s"exact steal semantics drifted: $counts")
    assert(steal.select(TF.scrubPii(col("text"))).head.getString(0)
      == "call <PHONE> <CARD> end")
    // a CHAIN of stealing groups (each candidate alignment fails Luhn
    // until the true PAN's own grouping) still resolves exactly
    assert(luhnSum("8888888841111111") % 10 != 0 &&
      luhnSum("8888411111111111") % 10 != 0, "fixture premise")
    val chain = Seq((1L, "t 8888 8888 4111 1111 1111 1111 e"))
      .toDF("doc_id", "text")
    assert(countAll(chain, "text")("CARD") == 1L)
    assert(chain.select(TF.scrubPii(col("text"))).head.getString(0)
      == "t 8888 8888 <CARD> e")
    // PINNED ARBITRATION: when an overlapping cross-boundary candidate
    // IS Luhn-valid ('1111 4111 1111 1111' — a number column before the
    // PAN), the LEFTMOST valid candidate wins the overlap; count stays
    // exact at one card in that span, and scrub replaces the winner
    assert(luhnSum("1111411111111111") % 10 == 0, "fixture premise")
    val lmw = Seq((1L, "col 1111 4111 1111 1111 1111 end"))
      .toDF("doc_id", "text")
    val lc = countAll(lmw, "text")
    assert(lc("CARD") == 1L && lc.values.sum == 1L,
      s"leftmost-valid-wins drifted: $lc")
    assert(lmw.select(TF.scrubPii(col("text"))).head.getString(0)
      == "col <CARD> 1111 end")
    // dashed/dotted/contiguous neighbors still cannot interfere at all
    val shielded = Seq(
      (1L, "id 123-45-6789 4111 1111 1111 1111 a"),
      (2L, "ip 10.2.3.4111 1111 1111 1111 b")).toDF("doc_id", "text")
    val sc = shielded.select(TF.piiCount(col("text"),
      TF.piiClasses.find(_.label == "CARD").get)).as[Long].collect()
    assert(sc.toSeq == Seq(1L, 0L), s"shield semantics drifted: ${sc.toSeq}")
  }

  test("pseudonymization generalizes beyond email/phone: IPs and IDs " +
       "link under keyed tags when passed the full pattern set") {
    val ps = planted.select(col("doc_id"),
      TF.pseudonymizePii(col("text"), "k1", TF.piiClasses).as("p"))
      .as[(Long, String)].collect().toMap
    // doc 1 carries one of each class — all four tagged, nothing raw
    assert("<EMAIL:[0-9]+>".r.findAllIn(ps(1L)).size == 1)
    assert("<PHONE:[0-9]+>".r.findAllIn(ps(1L)).size == 1)
    assert("<IP:[0-9]+>".r.findAllIn(ps(1L)).size == 1)
    assert("<ID:[0-9]+>".r.findAllIn(ps(1L)).size == 1)
    TF.piiPatterns.foreach { case (_, pat) =>
      assert(pat.r.findFirstIn(ps(1L)).isEmpty, s"raw $pat survived") }
    // doc 3's duplicated address still collapses to one tag value, and
    // its IP gets its own class tag
    assert("<IP:[0-9]+>".r.findAllIn(ps(3L)).size == 1)
    // doc 6's three IPv6 literals each get the IP6 class tag
    assert("<IP6:[0-9]+>".r.findAllIn(ps(6L)).size == 3)
    // default two-class behavior is unchanged (t36's oracle contract)
    val dflt = planted.filter(col("doc_id") === 1)
      .select(TF.pseudonymizePii(col("text"), "k1")).head.getString(0)
    assert(dflt.contains("10.0.0.1") && dflt.contains("123-45-6789"),
      "default classes must remain EMAIL/PHONE only")
  }

  test("pseudonymization is KEYED: a different key moves every tag") {
    val a = planted.filter(col("doc_id") === 1)
      .select(TF.pseudonymizePii(col("text"), "k1")).head.getString(0)
    val b = planted.filter(col("doc_id") === 1)
      .select(TF.pseudonymizePii(col("text"), "k2")).head.getString(0)
    assert(a != b)
    // same key is deterministic
    val a2 = planted.filter(col("doc_id") === 1)
      .select(TF.pseudonymizePii(col("text"), "k1")).head.getString(0)
    assert(a == a2)
  }

  test("substring-CONTAINED matches fold longest-first: both values keep " +
       "their own faithful linkage tag") {
    // xa@b.com contains a@b.com as a literal substring. Longest-first
    // folding replaces xa@b.com before a@b.com's global replace could
    // rewrite its tail — so each value gets ITS OWN tag (ascending
    // order corrupted the container: 'x<EMAIL:tag(a@b.com)>', losing
    // xa@b.com's linkage and silently orphaning its RTBF path).
    // Scope: this guarantee covers CONTAINMENT only — PARTIAL overlap
    // between different values is pinned (deterministic, residue
    // documented) by the equal-length-overlap test below.
    val df = Seq((1L, "first a@b.com then xa@b.com done")).toDF("doc_id", "text")
    val p = df.select(TF.pseudonymizePii(col("text"), "k")).head.getString(0)
    assert(!p.contains("a@b.com"), s"raw value survived: $p")
    assert(p.contains(TF.pseudoTag("EMAIL", "k", "xa@b.com")),
      s"container value lost its own tag: $p")
    assert(p.contains(TF.pseudoTag("EMAIL", "k", "a@b.com")),
      s"contained value lost its tag: $p")
    val p2 = df.select(TF.pseudonymizePii(col("text"), "k")).head.getString(0)
    assert(p == p2)
    // the IPv6 shape of the same hazard: ::1 inside fe80::1
    val p6 = Seq((1L, "node fe80::1 plus ::1 end")).toDF("doc_id", "text")
      .select(TF.pseudonymizePii(col("text"), "k", TF.piiClasses))
      .head.getString(0)
    assert(p6.contains(TF.pseudoTag("IP6", "k", "fe80::1")) &&
      p6.contains(TF.pseudoTag("IP6", "k", "::1")), s"IPv6 mistag: $p6")
  }

  test("equal-length values that PARTIALLY overlap fold in pinned " +
       "value-ascending order: the smaller value wins the shared span, " +
       "deterministically, and non-overlapped occurrences tag faithfully") {
    // ab@c.dex ends with 'x'; x@d.efgh starts with 'x'. In the mash
    // 'ab@c.dex@d.efgh' both values occur as literal substrings at a
    // one-char overlap — the position-blind fold can only rewrite one.
    // Equal lengths make the value-ASC tiebreak decide: ab@c.dex folds
    // first (wins the span), x@d.efgh's overlapped occurrence leaves the
    // raw residue '@d.efgh'. This order is the cross-engine contract —
    // OracleSql.pseudoSql realizes the identical length-DESC/value-ASC
    // sort, so the t36/t37/t38 hash gates stay aligned.
    val df = Seq((1L,
      "a ab@c.dex b x@d.efgh c ab@c.dex@d.efgh d")).toDF("doc_id", "text")
    val p = df.select(TF.pseudonymizePii(col("text"), "k")).head.getString(0)
    val tagAb = TF.pseudoTag("EMAIL", "k", "ab@c.dex")
    val tagX = TF.pseudoTag("EMAIL", "k", "x@d.efgh")
    assert(p == s"a $tagAb b $tagX c $tagAb@d.efgh d",
      s"overlap fold order drifted: $p")
    // determinism
    assert(p == df.select(TF.pseudonymizePii(col("text"), "k")).head.getString(0))
  }

  test("law: on random corpora with random planted PII, per-class counts " +
       "equal the planted counts, scrub recall is 1.0, and pseudonymize " +
       "tags one-for-one") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    // PII-free filler: letters only (cannot match any class — every
    // pattern needs a digit or '@')
    val word = Gen.chooseNum(1, 8).flatMap(n => Gen.listOfN(n, Gen.alphaLowerChar)).map(_.mkString)
    val digits = (n: Int) => Gen.listOfN(n, Gen.numChar).map(_.mkString)
    // letters-only local/domain keeps a planted email from EMBEDDING a
    // phone/id-shaped digit run (the cross-class count hazard); the
    // patterns themselves are pairwise disjoint (TextFunctions doc)
    val email = for {
      l <- word; d <- word; t <- Gen.chooseNum(2, 4).flatMap(n => Gen.listOfN(n, Gen.alphaLowerChar))
    } yield s"$l@$d.${t.mkString}"
    // the widened phone family: dashed (±plus), dotted, parenthesized,
    // plus-spaced, and bare E.164 — every recall form the guards admit
    val phone = Gen.oneOf(
      for { p <- Gen.oneOf("", "+"); c <- Gen.chooseNum(1, 3).flatMap(digits)
            m <- digits(3); s <- digits(4) } yield s"$p$c-$m-$s",
      for { c <- Gen.chooseNum(1, 3).flatMap(digits); m <- digits(3)
            s <- digits(4) } yield s"$c.$m.$s",
      for { c <- digits(3); m <- digits(3); s <- digits(4) }
        yield s"($c) $m-$s",
      for { c <- Gen.chooseNum(1, 3).flatMap(digits); m <- digits(3)
            s <- digits(4) } yield s"+$c $m $s",
      Gen.chooseNum(7, 15).flatMap(digits).map("+" + _))
    val ip = Gen.listOfN(4, Gen.chooseNum(0, 255)).map(_.mkString("."))
    val hexGroup = Gen.chooseNum(0, 0xffff).map(_.toHexString)
    val ip6 = Gen.oneOf(
      Gen.listOfN(8, hexGroup).map(_.mkString(":")),
      for { a <- Gen.chooseNum(1, 3); b <- Gen.chooseNum(1, 3)
            g1 <- Gen.listOfN(a, hexGroup); g2 <- Gen.listOfN(b, hexGroup) }
        yield g1.mkString(":") + "::" + g2.mkString(":"),
      Gen.const("::1"), Gen.const("fe80::"))
    val idTok = for { a <- digits(3); b <- digits(2); c <- digits(4) }
      yield s"$a-$b-$c"
    // Luhn-valid random PANs, 13-19 digits, contiguous or 4-4-4-N
    // grouped with a uniform dash/space separator (the accepted forms)
    val card = for {
      len <- Gen.chooseNum(12, 18); payload <- digits(len)
      sep <- Gen.oneOf("", "-", " ")
    } yield {
      val full = mkValidPan(payload)
      if (sep.isEmpty) full
      else s"${full.take(4)}$sep${full.slice(4, 8)}$sep" +
        s"${full.slice(8, 12)}$sep${full.drop(12)}"
    }
    // mod-97-valid random IBANs in BOTH layouts: 2 uppercase country
    // letters, computed check digits, 11-30 BBAN chars (letters and
    // digits both exercised in the checksum's two arms). Two
    // constraints keep planted counts EXACT under any adjacency (the
    // kernel law separately runs unconstrained hostile inputs):
    //  - spaced plants use a 1-3-char TERMINAL group (bban % 4 != 0):
    //    the interior-groups-are-4 rule then blocks any window from
    //    crossing the IBAN's end, and greedy leftmost-longest always
    //    selects the true window first — no 1/97 cross-boundary
    //    coincidence can steal;
    //  - every BBAN 4-group starts with a LETTER: no all-digit 4-group
    //    sequence exists inside a spaced IBAN, so CARD's space-grouped
    //    shapes find no candidate there (a contiguous IBAN's digit run
    //    is already letter-led and rejected by CARD's lead guard).
    val iban = for {
      c1 <- Gen.alphaUpperChar; c2 <- Gen.alphaUpperChar
      n <- Gen.chooseNum(11, 30)
      bban <- Gen.sequence[Seq[Char], Char]((0 until n).map(k =>
        if (k % 4 == 0) Gen.alphaUpperChar
        else Gen.oneOf(Gen.numChar, Gen.alphaUpperChar))).map(_.mkString)
      spaced <- Gen.oneOf(true, false)
    } yield {
      val v = mkValidIban(s"$c1$c2", bban)
      if (spaced && n % 4 != 0) v.grouped(4).mkString(" ") else v
    }
    val token: Gen[(String, String)] = Gen.frequency(
      6 -> word.map(("w", _)), 1 -> email.map(("EMAIL", _)),
      1 -> phone.map(("PHONE", _)), 1 -> card.map(("CARD", _)),
      1 -> iban.map(("IBAN", _)),
      1 -> ip.map(("IP", _)),
      1 -> ip6.map(("IP6", _)), 1 -> idTok.map(("ID", _)))
    val doc = Gen.chooseNum(1, 40).flatMap(n => Gen.listOfN(n, token))
    val corpus = Gen.chooseNum(1, 8).flatMap(n => Gen.listOfN(n, doc))

    val prop = Prop.forAll(corpus) { ds =>
      // single-space joins on purpose: adjacent same-class identifiers
      // alternate-block a single guarded scan, and the two-pass
      // count/scrub must stay EXACT anyway (the guard-consumption note
      // in TextFunctions — this law is the regression pin for it)
      val rows = ds.zipWithIndex.map { case (toks, i) =>
        // EVERY adjacency stays single-space-joined — including a
        // spaced PAN directly after a digit-ending token, the adjacency
        // r15 had to shield with a filler word: run-enumeration CARD
        // detection is exact there (a cross-boundary candidate that
        // fails Luhn consumes nothing, and one that passes wins its
        // overlap leftmost — either way the span yields exactly the
        // planted count)
        (i.toLong, toks.map(_._2).mkString(" "),
          TF.piiClasses.map(c => toks.count(_._1 == c.label).toLong))
      }
      val df = rows.map { case (id, t, ns) => (id, t) }.toDF("doc_id", "text")
      val got = df.select(col("doc_id") +:
        TF.piiClasses.map(c => TF.piiCount(col("text"), c)
          .as(s"g_${c.label}")) :+
        TF.scrubPii(col("text")).as("clean") :+
        TF.pseudonymizePii(col("text"), "law-key").as("pseudo"): _*)
        .collect().map(r => r.getLong(0) ->
          ((1 to TF.piiClasses.size).map(r.getLong).toSeq,
            r.getString(TF.piiClasses.size + 1),
            r.getString(TF.piiClasses.size + 2))).toMap
      rows.forall { case (id, _, planted) =>
        val (counts, clean, pseudo) = got(id)
        // counts == planted (class disjointness + exact two-pass scans)
        counts == planted &&
          // scrub recall 1.0 on every class
          TF.piiPatterns.forall { case (_, pat) =>
            !pat.r.findFirstIn(clean).isDefined } &&
          // pseudonymize: one tag per planted occurrence, zero raw survivors
          "<EMAIL:[0-9]+>".r.findAllIn(pseudo).size == planted.head &&
          "<PHONE:[0-9]+>".r.findAllIn(pseudo).size == planted(1) &&
          TF.emailPattern.r.findFirstIn(pseudo).isEmpty &&
          TF.phonePattern.r.findFirstIn(pseudo).isEmpty
      }
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(lawN), prop)
    assert(res.passed, res.status.toString)
  }

  test("precision law: planted confusables — semver/version strings, " +
       "ISBNs, credit cards, number tables, times, MACs, C++ scopes, " +
       "DOIs — yield ZERO matches in every class and scrub is identity") {
    val confusables = Seq(
      "version v10.2.3.4 shipped today",
      "semver 10.2.3.4-rc1 tagged",
      "dotted run 1.2.3.4.5 here",
      "octets 999.1.1.1 and 256.300.1.2 invalid",
      "isbn 978-0-306-40615-7 cited",
      // check-digit-BROKEN PANs in every accepted grouping: the regex
      // admits the candidates, the Luhn gate must reject them all
      "card 4111-1111-1111-1112 masked",
      "card 1234 5678 9012 3456 spaced",
      "card 4111111111111112 contiguous",
      "amex 3782-822463-10006 grouped",
      "fifth group 4111-1111-1111-1111-1111 rejected",
      "serial +1234567890123456 too long",
      "table 12 345 6789 columns",
      "times 08:00 and 09:30:15 clock",
      "mac de:ad:be:ef:00:11 address",
      "cpp std::vector and ns::cafe scopes",
      "pi 3.14159 e 2.71828 decimals",
      "doi 10.1000/182 reference",
      // IBAN-shaped confusables: the shapes admit the candidates, the
      // mod-97 gate must reject them all (checksum-broken in BOTH
      // layouts, wrong check digits, uppercase reference codes);
      // camelCase/embedded spans and irregular interior spacings are
      // not candidates at all
      "ref GB82WEST12345698765431 rejected",
      "order GB00WEST12345698765432 code",
      "code ZZ99ABCDEFGHIJK batch",
      "embedded xDE89370400440532013000 run",
      "tail DE89370400440532013000X234 run",
      "paper GB82 WEST 1234 5698 7654 31 broken",
      "irregular GB82 WEST 123 4569 8765 432 spacing",
      "embedded xGB82 WEST 1234 5698 7654 32 lead")
    val df = confusables.zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val counts = countAll(df, "text")
    assert(counts.values.forall(_ == 0L), s"confusables matched: $counts")
    assert(df.select(TF.scrubPii(col("text"))).collect().map(_.getString(0)).toSeq
      == confusables, "scrub must leave confusables verbatim")
  }

  test("recall widening: E.164, dotted, parenthesized, plus-spaced " +
       "phones, leading-zero IPv4, IPv6 family, and sentence-final " +
       "placement all detect once and scrub clean") {
    val cases: Seq[(String, String)] = Seq(
      ("PHONE", "call +15550100 today"),
      ("PHONE", "intl +442079460958 line"),
      ("PHONE", "office 212.555.0100 desk"),
      ("PHONE", "home (555) 010-0100 listed"),
      ("PHONE", "cell +1 555 0100 works"),
      ("PHONE", "ends with +1-555-0100."),
      ("IP", "server at 10.0.0.1."),
      ("IP", "log 192.168.001.255 entry"),
      ("IP6", "node fe80::1 up"),
      ("IP6", "loopback ::1 bound"),
      ("IP6", "prefix fe80:: announced"),
      ("IP6", "full 2001:db8:85a3:0:0:8a2e:370:7334 route"),
      ("ID", "record 078-05-1120 filed"),
      ("IBAN", "pay DE89370400440532013000 now"),
      ("IBAN", "acct FR1420041010050500013M02606 listed"),
      ("IBAN", "ends with GB82WEST12345698765432."),
      ("IBAN", "paper GB82 WEST 1234 5698 7654 32 format"),
      ("IBAN", "paper DE89 3704 0044 0532 0130 00 grouped"),
      ("IBAN", "ends with FR14 2004 1010 0505 0001 3M02 606."))
    cases.foreach { case (label, text) =>
      val df = Seq((1L, text)).toDF("doc_id", "text")
      val counts = countAll(df, "text")
      assert(counts(label) == 1L && counts.values.sum == 1L,
        s"'$text' should count exactly once as $label: $counts")
      val clean = countAll(df.select(TF.scrubPii(col("text")).as("t")), "t")
      assert(clean.values.forall(_ == 0L), s"'$text' survived scrub: $clean")
    }
    // IPv4-mapped IPv6 forms: pinned semantics (TextFunctions IPv6 doc)
    // — the IPv6 class matches NOTHING (every hex-prefix candidate is
    // followed by ':' or hex, which no tail-guard alternative admits),
    // the embedded quad counts exactly ONCE under IP, and scrub redacts
    // the identifying half leaving the mapping prefix raw
    Seq("host ::ffff:1.2.3.4 up" -> "host ::ffff:<IP> up",
        "nat64 64:ff9b::10.0.0.1 path" -> "nat64 64:ff9b::<IP> path",
        "ends with ::ffff:192.168.0.1." -> "ends with ::ffff:<IP>.")
      .foreach { case (text, want) =>
        val df = Seq((1L, text)).toDF("doc_id", "text")
        val counts = countAll(df, "text")
        assert(counts("IP") == 1L && counts("IP6") == 0L &&
          counts.values.sum == 1L,
          s"mapped-form '$text' semantics drifted: $counts")
        val scrubbed = df.select(TF.scrubPii(col("text"))).head.getString(0)
        assert(scrubbed == want, s"mapped-form scrub drifted: $scrubbed")
      }
    // guard-consumption exactness: single-space-adjacent same-class runs
    // count fully and scrub fully (the two-pass form's regression pin)
    val adj = Seq((1L, "a 1.1.1.1 2.2.2.2 3.3.3.3 b"),
      (2L, "p 1-555-0100 2-555-0100 3-555-0100 q")).toDF("doc_id", "text")
    val c = countAll(adj, "text")
    assert(c("IP") == 3L && c("PHONE") == 3L, s"adjacent runs undercounted: $c")
    val after = countAll(adj.select(TF.scrubPii(col("text")).as("t")), "t")
    assert(after.values.forall(_ == 0L), s"adjacent runs survived scrub: $after")
  }

  test("identifiers at POSITION 0 (the ^-lead arm) detect once and scrub " +
       "clean in every class — the GuardedScan/EmailScan anchor case") {
    val cases = Seq(
      ("EMAIL", "a@b.example starts here"),
      ("PHONE", "+1-555-0100 starts here"),
      ("PHONE", "(555) 010-0100 starts here"),
      ("IP", "10.0.0.1 starts here"),
      ("IP6", "fe80::1 starts here"),
      ("IP6", "::1 starts here"),
      ("ID", "123-45-6789 starts here"),
      ("CARD", "4111-1111-1111-1111 starts here"))
    cases.foreach { case (label, text) =>
      val df = Seq((1L, text)).toDF("doc_id", "text")
      val counts = countAll(df, "text")
      assert(counts(label) == 1L && counts.values.sum == 1L,
        s"'$text' should count exactly once as $label: $counts")
      val after = countAll(df.select(TF.scrubPii(col("text")).as("t")), "t")
      assert(after.values.forall(_ == 0L), s"'$text' survived scrub")
    }
    // and the whole text being exactly the identifier (position 0 AND
    // end-of-string tail) — both zero-width anchors at once
    val exact = Seq((1L, "+1-555-0100"), (2L, "10.0.0.1"), (3L, "a@b.example"))
      .toDF("doc_id", "text")
    val c = countAll(exact, "text")
    assert(c("PHONE") == 1L && c("IP") == 1L && c("EMAIL") == 1L, s"$c")
  }

  test("RTBF: forgetValue erases exactly the requested identifier's tag " +
       "across the corpus; every other linkage tag survives") {
    val ps = planted.select(col("doc_id"),
      TF.pseudonymizePii(col("text"), "k1").as("p"))
    // the deletion target is alice's address (docs 1 and 5 link to it)
    val tag = TF.pseudoTag("EMAIL", "k1", "alice@corp.example.com")
    val linked = ps.filter(TF.linksTo(col("p"), "EMAIL", "k1",
      "alice@corp.example.com")).select(col("doc_id")).as[Long].collect().toSet
    assert(linked == Set(1L, 5L), s"linkage lookup drifted: $linked")
    val after = ps.select(col("doc_id"),
      TF.forgetValue(col("p"), "EMAIL", "k1", "alice@corp.example.com").as("p"))
      .as[(Long, String)].collect().toMap
    // the tag is gone everywhere, replaced by the unlinkable placeholder
    assert(after.values.forall(t => !t.contains(tag)), "target tag survived")
    assert(after(1L).contains("<FORGOTTEN>") && after(5L).contains("<FORGOTTEN>"))
    // bob's tag (and every non-target tag) survives verbatim
    val bobTag = TF.pseudoTag("EMAIL", "k1", "bob@x.org")
    assert(after(3L).contains(bobTag), "non-target linkage must survive")
    // and the driver-side tag matches the engine-side tag bit-for-bit
    val engineTag = "<EMAIL:[0-9]+>".r
      .findFirstIn(ps.filter(col("doc_id") === 3).head.getString(1)).get
    assert(engineTag == bobTag, "TF.pseudoTag must equal the engine's FNV tag")
  }

  test("MAC RTBF: forgetValueMac erases exactly the requested " +
       "identifier's MAC tag; every other tag and every non-tag byte " +
       "survive verbatim (only-the-tag-changes)") {
    val ps = planted.select(col("doc_id"),
      TF.pseudonymizePiiMac(col("text"), "k1").as("p"))
    val target = "alice@corp.example.com"
    val tag = TF.pseudoTagMac("EMAIL", "k1", target)
    // the linked-document lookup is the same map-only contains predicate
    val linked = ps.filter(TF.linksToMac(col("p"), "EMAIL", "k1", target))
      .select(col("doc_id")).as[Long].collect().toSet
    assert(linked == Set(1L, 5L), s"MAC linkage lookup drifted: $linked")
    val before = ps.as[(Long, String)].collect().toMap
    val after = ps.select(col("doc_id"),
      TF.forgetValueMac(col("p"), "EMAIL", "k1", target).as("p"))
      .as[(Long, String)].collect().toMap
    assert(after.values.forall(t => !t.contains(tag)), "target tag survived")
    // the ONLY change is the target tag → placeholder: every document
    // equals its literal string-replacement image (the t37 pipeline law
    // lifted to the MAC family)
    assert(before.forall { case (id, t) =>
      after(id) == t.replace(tag, "<FORGOTTEN>") },
      "forgetValueMac changed more than the target tag")
    // bob's MAC tag survives, and the driver-side tag matches the
    // engine-side tag bit-for-bit
    val bobTag = TF.pseudoTagMac("EMAIL", "k1", "bob@x.org")
    assert(after(3L).contains(bobTag), "non-target MAC linkage must survive")
    val engineTag = "<EMAIL#[0-9a-f]{32}>".r
      .findFirstIn(before(3L)).get
    assert(engineTag == bobTag, "TF.pseudoTagMac must equal the engine tag")
  }

  test("MAC pseudonymization: linkage + keying hold, tags are 128-bit " +
       "hex, and no known-pair state-recovery shortcut exists in form") {
    val ps = planted.select(col("doc_id"),
      TF.pseudonymizePiiMac(col("text"), "k1").as("p"))
      .as[(Long, String)].collect().toMap
    def tagOf(s: String): String =
      "<EMAIL#[0-9a-f]{32}>".r.findFirstIn(s).getOrElse(sys.error(s"no tag: $s"))
    // linkage: alice's two docs share one tag; bob differs
    assert(tagOf(ps(1L)) == tagOf(ps(5L)) && tagOf(ps(3L)) != tagOf(ps(1L)))
    // keyed: a different key moves the tag
    val ps2 = planted.filter(col("doc_id") === 1)
      .select(TF.pseudonymizePiiMac(col("text"), "k2")).head.getString(0)
    assert(tagOf(ps2) != tagOf(ps(1L)))
    // no raw identifier survives
    val counts = countAll(planted.select(
      TF.pseudonymizePiiMac(col("text"), "k1").as("t")), "t")
    assert(counts("EMAIL") == 0L && counts("PHONE") == 0L)
  }

  test("pipeline: planted PII never reaches the released corpus, and the " +
       "scrub stage rescues a volatile-PII re-crawl from dup leakage") {
    val base = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    // plant a per-doc session email on even docs; re-crawl ships the same
    // text under new ids with a DIFFERENT session value (the d25 shape)
    def crawl(salt: Int) = base.withColumn("text",
      when(col("doc_id") % 2 === 0,
        concat(col("text"), lit(" sess s"),
          (col("doc_id") * 7 + lit(salt)).cast("string"),
          lit("@example.com"))).otherwise(col("text")))
    val recrawl = crawl(2)
      .withColumn("doc_id", col("doc_id") + 500000L)
      .withColumn("source", lit("recrawl"))
    val corpus = CorpusPipeline.run(crawl(1).unionByName(recrawl)).corpus.cache()
    // recall inside the composed pipeline: nothing email-shaped ships
    assert(corpus.agg(sum(TF.piiCount(col("text"), TF.piiClasses.head)))
      .head.getLong(0) == 0L)
    // the exact-dedup stage saw scrubbed text, so every re-crawl copy is
    // a fingerprint dup of its canonical and exactly one survives: no
    // surviving pair of (id, id+500000) may coexist
    val ids = corpus.select(col("doc_id")).as[Long].collect().toSet
    val leaked = ids.filter(id => id >= 500000L && ids.contains(id - 500000L))
    assert(leaked.isEmpty, s"re-crawl dups survived raw-PII split: $leaked")
    corpus.unpersist()
  }
}

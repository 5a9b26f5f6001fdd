package graft.functions

import org.apache.spark.sql.catalyst.expressions.UnaryExpression
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/**
 * Fused kernels for the guarded PII classes (and the checksum-gated
 * CARD class). Two declarative formulations proved value-correct but
 * evaluation-hostile:
 *
 *  - the CARD higher-order-function tree (ArrayFilter running a
 *    per-digit aggregate Luhn fold, ArraySort + ArrayAggregate literal
 *    fold): every HOF is a CodegenFallback, so the whole upstream
 *    scrub chain re-evaluated INTERPRETED inside it — ~100× the
 *    five-class t35 cost, 15+ CPU-hours at the wave9 100× corpus;
 *  - the guarded two-pass count/scrub chains (three regex scans per
 *    class per row for counts, two for scrub, compounded by
 *    per-expression evaluation overhead): measured 846 s for the
 *    full t35 audit over the 505k-row wave9 corpus.
 *
 * Each kernel here is at most two compiled-regex passes per row —
 * pass 2 runs ONLY when pass 1 found a candidate (the alternate-block
 * recovery is definitionally empty otherwise), which is one scan for
 * the typical corpus row — plus primitive integer Luhn, all
 * `doGenCode`-wired so the surrounding projection stays in whole-stage
 * codegen (the Hashing.scala pattern). Every kernel is VALUE-IDENTICAL
 * to its declarative twin — PiiSpec pins the equivalence laws, and the
 * DuckDB oracle twins are untouched.
 *
 * Round 16 adds the [[PiiGate]] prefilters: every kernel first runs one
 * O(len) BYTE scan over the raw UTF8String (no decode) collecting the
 * char facts a class NEEDS to match at all — '@' for EMAIL, ':' for
 * IPv6, digit counts / digit-adjacent punctuation for the numeric
 * classes — and skips its regex (and the UTF-16 decode) entirely when
 * the necessary condition fails. On the word-salad corpus the typical
 * row carries at most an email, so six of the seven classes' scans
 * vanish; the gates are NECESSARY conditions only (a gate can never
 * fire on a row its class could match — the PiiSpec kernel law runs
 * the ungated references against the gated kernels on hostile random
 * corpora, so a wrong gate is a law failure, and the oracle gate
 * hash-compares every gated query cross-engine).
 */

/** Per-row char facts for the class gates, packed into one Long:
  * low byte = presence flags, bits 8-31 = digit count (saturating),
  * bits 32-47 = longest digit run. Computed over UTF-8 BYTES — every
  * gate char is ASCII and UTF-8 continuation bytes are ≥ 0x80, so no
  * decode is needed. */
object PiiGate {
  final val HasAt = 1
  final val HasColon = 2
  final val HasParenPlus = 4     // '(' or '+' — the anchored phone forms
  final val DigitDotDigit = 8    // a 'd.d' adjacency (IPv4, dotted phone)
  final val DigitDashDigit = 16  // a 'd-d' adjacency (ID, dashed phone)
  final val UpperUpperDigitDigit = 32 // a 'UUdd' quadgram (the IBAN head)

  def stats(s: UTF8String): Long = {
    val n = s.numBytes()
    var flags = 0
    var digits = 0
    var run = 0
    var maxRun = 0
    var prevDigit = false
    var pendingDot = false   // last two bytes were <digit> '.'
    var pendingDash = false  // last two bytes were <digit> '-'
    var uudd = 0             // progress through [A-Z][A-Z][0-9][0-9]
    var i = 0
    while (i < n) {
      val b = s.getByte(i)
      val isD = b >= '0' && b <= '9'
      if (isD) {
        digits += 1; run += 1
        if (run > maxRun) maxRun = run
        if (pendingDot) flags |= DigitDotDigit
        if (pendingDash) flags |= DigitDashDigit
        if (uudd == 3) flags |= UpperUpperDigitDigit
        uudd = if (uudd >= 2) 3 else 0
      } else {
        run = 0
        if (b == '@') flags |= HasAt
        else if (b == ':') flags |= HasColon
        else if (b == '(' || b == '+') flags |= HasParenPlus
        // two uppers saturate at 2; a digit after UU moves to 3 above;
        // anything else restarts (continuation bytes are ≥ 0x80 — the
        // byte-level scan can never bridge a multibyte char)
        uudd = if (b >= 'A' && b <= 'Z') { if (uudd == 1 || uudd == 2) 2 else 1 }
               else 0
      }
      pendingDot = prevDigit && b == '.'
      pendingDash = prevDigit && b == '-'
      prevDigit = isD
      i += 1
    }
    flags.toLong | (math.min(digits, 0xffffff).toLong << 8) |
      (math.min(maxRun, 0xffff).toLong << 32)
  }

  @inline def digitCount(st: Long): Int = ((st >> 8) & 0xffffff).toInt
  @inline def maxDigitRun(st: Long): Int = ((st >> 32) & 0xffff).toInt

  /** Can class `label` possibly match a text with these stats? Derived
    * from each pattern's mandatory chars: EMAIL needs '@'; every phone
    * alternative carries '(' or '+' or a digit[-.]digit separator and
    * ≥ 7 digits (the E.164 minimum); every card shape needs a 4-digit
    * group and 13 total digits; IPv6 always has ':'; IPv4 has a d.d
    * and ≥ 4 digits; the SSN-shaped ID has a d-d and exactly 9 digits. */
  def pass(label: String, st: Long): Boolean = label match {
    case "EMAIL" => (st & HasAt) != 0
    case "PHONE" => digitCount(st) >= 7 &&
      (st & (HasParenPlus | DigitDotDigit | DigitDashDigit)) != 0
    case "CARD" => digitCount(st) >= 13 && maxDigitRun(st) >= 4
    case "IP6" => (st & HasColon) != 0
    case "IP" => (st & DigitDotDigit) != 0 && digitCount(st) >= 4
    case "ID" => (st & DigitDashDigit) != 0 && digitCount(st) >= 9
    case "IBAN" => (st & UpperUpperDigitDigit) != 0
    case _ => true
  }

  @inline def pass(label: String, s: UTF8String): Boolean =
    pass(label, stats(s))
}
object Luhn {
  /** Check-digit test over a candidate with '-'/' ' separators: from
    * the right, every second digit doubled (−9 when > 9), sum ≡ 0
    * mod 10. Pure integer arithmetic — the DuckDB twin
    * (OracleSql.luhnCondSql) replays it digit-for-digit. */
  def valid(s: UTF8String): Boolean = {
    val bytes = s.getBytes
    var sum = 0
    var parity = 0 // 0 = rightmost digit position (undoubled)
    var i = bytes.length - 1
    while (i >= 0) {
      val b = bytes(i)
      if (b >= '0' && b <= '9') {
        var d = b - '0'
        if (parity == 1) { d *= 2; if (d > 9) d -= 9 }
        sum += d
        parity ^= 1
      }
      i -= 1
    }
    sum % 10 == 0
  }
}

/**
 * All of one guarded class's identifier values in `child`, in two-pass
 * extraction order: pass-1 guarded matches (group 2 — the core), then
 * the alternate-blocked survivors recovered from the once-replaced
 * text (TextFunctions' guard-consumption note). Value-identical to
 * `concat(regexp_extract_all(t, p, 2), regexp_extract_all(
 * regexp_replace(t, p, "$1<TAG>$3"), p, 2))`: the once-replaced text
 * is built manually from the pass-1 match spans (guards re-emitted)
 * instead of a second replace scan, and skipped entirely when pass 1
 * found nothing. The checksum-gated CARD class does NOT use this —
 * its candidates come from [[CardRuns]]' run enumeration, which is
 * exact under guard-sharing adjacency.
 */
case class GuardedMatches(child: Expression, label: String,
                          spec: GuardedSpec, unblockTag: String)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "guarded_matches"

  @transient private lazy val empty = new GenericArrayData(new Array[AnyRef](0))

  def compute(input: UTF8String): GenericArrayData = {
    if (!PiiGate.pass(label, input)) return empty
    val text = input.toString
    val out = new java.util.ArrayList[UTF8String](4)
    val sb = new java.lang.StringBuilder(text.length)
    if (GuardedScan.pass(text, spec, unblockTag, out, sb) == 0) return empty
    GuardedScan.pass(sb.toString, spec, unblockTag, out, null)
    val arr = new Array[AnyRef](out.size())
    var i = 0
    while (i < arr.length) { arr(i) = out.get(i); i += 1 }
    new GenericArrayData(arr)
  }

  override def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("guardedMatchesExpr", this)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.compute($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): GuardedMatches =
    copy(child = newChild)
}

/**
 * One class's full scrub: for guarded classes the exact two-pass
 * `regexp_replace(regexp_replace(t, p, "$1TAG$3"), p, "$1TAG$3")`
 * semantics (pass 2 catches alternate-blocked spans), built manually
 * from match spans with guards re-emitted; for the unguarded group-0
 * class (EMAIL — `group0 = true`) the single-pass whole-match replace.
 * Pass 2 (and the string copy) is skipped when a pass finds nothing,
 * and the class gate skips everything: the typical corpus row costs
 * one byte prescan, and one regex scan only for the classes whose
 * necessary chars are present.
 */
case class GuardedScrub(child: Expression, label: String,
                        spec: GuardedSpec, tag: String,
                        group0: Boolean) extends UnaryExpression {
  require(!group0 || spec == null,
    "the group-0 fast path is EmailScan's hand-rolled matcher")
  override def dataType: DataType = StringType
  override def prettyName: String = "guarded_scrub"

  def compute(input: UTF8String): UTF8String = {
    if (!PiiGate.pass(label, input)) return input
    if (group0) {
      val done = EmailScan.replaceAll(input.toString, tag)
      return if (done == null) input else UTF8String.fromString(done)
    }
    val text = input.toString
    val sb1 = new java.lang.StringBuilder(text.length)
    if (GuardedScan.pass(text, spec, tag, null, sb1) == 0) return input
    val once = sb1.toString
    val sb2 = new java.lang.StringBuilder(once.length)
    if (GuardedScan.pass(once, spec, tag, null, sb2) == 0)
      return UTF8String.fromString(once)
    UTF8String.fromString(sb2.toString)
  }

  override def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("guardedScrubExpr", this)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.compute($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): GuardedScrub =
    copy(child = newChild)
}

/**
 * Run-enumeration CARD detection — the exact replacement for the
 * consuming-regex candidate scan, whose leftmost-first consumption
 * could let a space-separated digit neighbor steal a spaced PAN's head
 * (the round-15 law-pinned under-count). Semantics, replayed
 * digit-for-digit by the DuckDB twin (OracleSql.cardValuesSql):
 *
 *  1. MAXIMAL digit-group runs: digit groups joined by single dash or
 *     space separators (a separator not followed by a digit ends the
 *     run). Runs cannot overlap, so enumerating them is scan-order
 *     exact.
 *  2. Within a run, CANDIDATES are the group-aligned card shapes —
 *     A: lens (4,4,4,1–7); B (Amex): lens (4,6,5); C: one contiguous
 *     13–19-digit group — whose boundary guards hold as CONTEXT
 *     (non-consuming, so neighbors can never block a lead):
 *     an interior candidate's lead/tail separator must be a SPACE
 *     (dash-adjacency rejected, as before); a run-edge candidate needs
 *     the run's own lead char outside [0-9A-Za-z.+-] (or start) and
 *     tail char outside [0-9A-Za-z-] with '.' admitted only before a
 *     non-digit (tailNum's \\.[^0-9] / \\.$ arms; or end).
 *  3. Selection is GREEDY LEFTMOST-VALID with shape priority A,B,C at
 *     equal start: scan group indices left to right, take the first
 *     Luhn-valid candidate, jump past it, continue. Invalid candidates
 *     never consume anything — that is the exactness fix — and when
 *     two VALID candidates overlap, the leftmost wins (law-pinned
 *     arbitration; deterministic and engine-identical).
 *
 * A pure char-level scan: no regex at all, O(len + runs·shapes) per
 * row, and the Luhn fold runs on the text buffer in place.
 */
object CardRuns {
  @inline private def isDigit(c: Char) = c >= '0' && c <= '9'
  @inline private def isAlnum(c: Char) =
    (c >= '0' && c <= '9') || (c >= 'A' && c <= 'Z') || (c >= 'a' && c <= 'z')

  /** Luhn check over text[from, to) with separators skipped in place. */
  def luhnOk(text: String, from: Int, to: Int): Boolean = {
    var sum = 0
    var parity = 0
    var i = to - 1
    while (i >= from) {
      val c = text.charAt(i)
      if (isDigit(c)) {
        var d = c - '0'
        if (parity == 1) { d *= 2; if (d > 9) d -= 9 }
        sum += d
        parity ^= 1
      }
      i -= 1
    }
    sum % 10 == 0
  }

  /** The selected verified card values of `text`, in text order; null
    * when there are none (the common row — no allocation at all). */
  def selectedValues(text: String): java.util.ArrayList[String] = {
    var out: java.util.ArrayList[String] = null
    val n = text.length
    val gStart = new scala.collection.mutable.ArrayBuffer[Int](8)
    val gEnd = new scala.collection.mutable.ArrayBuffer[Int](8)
    var pos = 0
    while (pos < n) {
      if (!isDigit(text.charAt(pos))) pos += 1
      else {
        val runStart = pos
        gStart.clear(); gEnd.clear()
        var cont = true
        while (cont) {
          val s0 = pos
          while (pos < n && isDigit(text.charAt(pos))) pos += 1
          gStart += s0; gEnd += pos
          cont = pos + 1 < n &&
            (text.charAt(pos) == '-' || text.charAt(pos) == ' ') &&
            isDigit(text.charAt(pos + 1))
          if (cont) pos += 1
        }
        val runEnd = pos
        val m = gStart.length
        val leadOkRun = runStart == 0 || {
          val c = text.charAt(runStart - 1)
          !(isAlnum(c) || c == '.' || c == '+' || c == '-')
        }
        val tailOkRun = runEnd == n || {
          val c = text.charAt(runEnd)
          if (c == '.') runEnd + 1 == n || !isDigit(text.charAt(runEnd + 1))
          else !(isAlnum(c) || c == '-')
        }
        def gl(i: Int) = gEnd(i) - gStart(i)
        def leadOk(i: Int) =
          if (i == 0) leadOkRun else text.charAt(gStart(i) - 1) == ' '
        def tailOk(j: Int) =
          if (j == m - 1) tailOkRun else text.charAt(gEnd(j)) == ' '
        var gi = 0
        while (gi < m) {
          var end = -1
          if (gi + 3 < m && gl(gi) == 4 && gl(gi + 1) == 4 &&
              gl(gi + 2) == 4 && gl(gi + 3) >= 1 && gl(gi + 3) <= 7 &&
              leadOk(gi) && tailOk(gi + 3) &&
              luhnOk(text, gStart(gi), gEnd(gi + 3))) end = gi + 3
          else if (gi + 2 < m && gl(gi) == 4 && gl(gi + 1) == 6 &&
              gl(gi + 2) == 5 && leadOk(gi) && tailOk(gi + 2) &&
              luhnOk(text, gStart(gi), gEnd(gi + 2))) end = gi + 2
          else if (gl(gi) >= 13 && gl(gi) <= 19 && leadOk(gi) && tailOk(gi) &&
              luhnOk(text, gStart(gi), gEnd(gi))) end = gi
          if (end >= 0) {
            if (out == null) out = new java.util.ArrayList[String](2)
            out.add(text.substring(gStart(gi), gEnd(end)))
            gi = end + 1
          } else gi += 1
        }
      }
    }
    out
  }
}

/** The CARD class's verified values as an array column — [[CardRuns]]'
  * run-enumeration semantics (exact counts under any adjacency). */
case class CardMatches(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "card_matches"

  @transient private lazy val empty = new GenericArrayData(new Array[AnyRef](0))

  def compute(input: UTF8String): GenericArrayData = {
    if (!PiiGate.pass("CARD", input)) return empty
    val vals = CardRuns.selectedValues(input.toString)
    if (vals == null) return empty
    val arr = new Array[AnyRef](vals.size())
    var i = 0
    while (i < arr.length) { arr(i) = UTF8String.fromString(vals.get(i)); i += 1 }
    new GenericArrayData(arr)
  }

  override def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("cardMatchesExpr", this)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.compute($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): CardMatches =
    copy(child = newChild)
}

/**
 * The CARD class's scrub: replace every [[CardRuns]]-verified card
 * value with `tag` by a literal fold over the DISTINCT verified values
 * in the pinned length-DESC / value-ASC order (TextFunctions'
 * pseudonymize order — containers before contained values, ties
 * cross-engine; the comparator is on chars, exact for these ASCII
 * values). Regex alone cannot express the checksum gate, so this is
 * fold semantics, not two-pass-replace semantics; the DuckDB twin is
 * OracleSql.pseudoSql over cardValuesSql with a constant tag. Literal
 * folding is position-blind by contract: a verified value occurring
 * inside a longer unguarded run is rewritten there too (the
 * conservative side for redaction).
 */
case class CardScrub(child: Expression, tag: String) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def prettyName: String = "card_scrub"

  def compute(input: UTF8String): UTF8String = {
    if (!PiiGate.pass("CARD", input)) return input
    val text = input.toString
    val vals = CardRuns.selectedValues(text)
    if (vals == null) return input
    val set = new java.util.TreeSet[String](new java.util.Comparator[String] {
      override def compare(l: String, r: String): Int = {
        val byLen = java.lang.Integer.compare(r.length, l.length)
        if (byLen != 0) byLen else l.compareTo(r)
      }
    })
    set.addAll(vals)
    var acc = text
    val it = set.iterator()
    while (it.hasNext) acc = acc.replace(it.next(), tag)
    UTF8String.fromString(acc)
  }

  override def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("cardScrubExpr", this)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.compute($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): CardScrub =
    copy(child = newChild)
}

/**
 * Run-enumeration IBAN detection — the seventh audit class, in the
 * CARD mold: the shape only defines CANDIDATES, and detection requires
 * the ISO 13616 mod-97 check to verify (move the first four chars to
 * the end, map A–Z → 10–35, the resulting big decimal ≡ 1 mod 97 —
 * exact integer arithmetic both engines replay; a random shape-shaped
 * span passes with p ≈ 1/97). BOTH standard layouts are in (round 17 —
 * the paper format was initially documented out, then brought in on
 * the CardRuns machinery): the CONTIGUOUS electronic format
 * (`GB82WEST12345698765432`) and the SPACED 4-group paper format
 * (`GB82 WEST 1234 5698 7654 32`). Semantics, replayed by the DuckDB
 * twin (OracleSql.ibanValuesSql):
 *
 *  1. GROUPS are maximal `[A-Z0-9]+` spans (lowercase ends a group —
 *     IBANs are uppercase by standard; lowercase admission would make
 *     every camelCase token a candidate); RUNS are maximal sequences
 *     of groups joined by exactly one space. Runs cannot overlap, so
 *     one left-to-right scan is exact — no consuming guards, nothing
 *     to steal (the CARD lesson applied from the start).
 *  2. Within a run, CANDIDATE WINDOWS are group-aligned:
 *     - one group of 15–34 chars (contiguous format), or
 *     - ≥4 groups where the first and every interior group is exactly
 *       4 chars and the terminal group is 1–4 (paper format), total
 *       15–34 chars;
 *     in both, the first four chars are `[A-Z]{2}[0-9]{2}`. Boundary
 *     guards hold as CONTEXT (non-consuming): a window starting at the
 *     run's first group needs the run's lead char outside
 *     [0-9A-Za-z] (or text start); a window ending at the run's last
 *     group needs the run's tail char likewise (interior boundaries
 *     are the run's own single spaces). Irregular spacings (non-4
 *     interior groups) are not candidates — the paper format is
 *     exactly groups-of-4.
 *  3. Selection is GREEDY LEFTMOST-LONGEST: scan group indices left to
 *     right; at each start try windows longest-first, take the first
 *     mod-97-valid one, jump past it. Invalid candidates never consume
 *     anything. Arbitration note: two OVERLAPPING mod-97-valid windows
 *     are a 1/97 coincidence (e.g. a valid IBAN whose accidental
 *     extension into a neighboring group also checks out); the
 *     leftmost-longest rule is the pinned, engine-identical resolution
 *     — PiiSpec's laws compare against a reference replaying the same
 *     arbitration, and the planted-recall laws use fixtures where the
 *     selection is unambiguous.
 *
 * A pure char-level scan: no regex, O(len + runs·windows) per row, the
 * mod-97 fold runs on the text buffer in place.
 */
object IbanScan {
  @inline private def isDigit(c: Char) = c >= '0' && c <= '9'
  @inline private def isUpper(c: Char) = c >= 'A' && c <= 'Z'
  @inline private def isRunChar(c: Char) = isDigit(c) || isUpper(c)
  @inline private def isAlnum(c: Char) =
    isRunChar(c) || (c >= 'a' && c <= 'z')

  /** ISO 13616 mod-97 over text[from, to): rearranged fold, digits as
    * themselves, A–Z as 10–35, valid iff the running remainder is 1. */
  def mod97Ok(text: String, from: Int, to: Int): Boolean = {
    var acc = 0
    var i = from + 4 // BBAN first, then the moved country+check head
    while (i < to) { acc = step(acc, text.charAt(i)); i += 1 }
    i = from
    while (i < from + 4) { acc = step(acc, text.charAt(i)); i += 1 }
    acc == 1
  }

  @inline private def step(acc: Int, c: Char): Int =
    if (isDigit(c)) (acc * 10 + (c - '0')) % 97
    else (acc * 100 + (c - 55)) % 97

  /** mod-97 over the window groups gi..gj (spaces skipped): the first
    * group is exactly the 4-char head, so the rearranged fold is the
    * other groups' chars then the head's. */
  private def mod97OkGroups(text: String,
                            gStart: scala.collection.mutable.ArrayBuffer[Int],
                            gEnd: scala.collection.mutable.ArrayBuffer[Int],
                            gi: Int, gj: Int): Boolean = {
    var acc = 0
    var g = gi + 1
    while (g <= gj) {
      var i = gStart(g)
      while (i < gEnd(g)) { acc = step(acc, text.charAt(i)); i += 1 }
      g += 1
    }
    var i = gStart(gi)
    while (i < gEnd(gi)) { acc = step(acc, text.charAt(i)); i += 1 }
    acc == 1
  }

  /** The selected verified IBAN values of `text`, in text order; null
    * when there are none (the common row — no allocation at all). */
  def findValues(text: String): java.util.ArrayList[String] = {
    var out: java.util.ArrayList[String] = null
    val n = text.length
    val gStart = new scala.collection.mutable.ArrayBuffer[Int](8)
    val gEnd = new scala.collection.mutable.ArrayBuffer[Int](8)
    var pos = 0
    while (pos < n) {
      if (!isRunChar(text.charAt(pos))) pos += 1
      else {
        val runStart = pos
        gStart.clear(); gEnd.clear()
        var cont = true
        while (cont) {
          val s0 = pos
          while (pos < n && isRunChar(text.charAt(pos))) pos += 1
          gStart += s0; gEnd += pos
          cont = pos + 1 < n && text.charAt(pos) == ' ' &&
            isRunChar(text.charAt(pos + 1))
          if (cont) pos += 1
        }
        val runEnd = pos
        val m = gStart.length
        val leadOkRun = runStart == 0 || !isAlnum(text.charAt(runStart - 1))
        val tailOkRun = runEnd == n || !isAlnum(text.charAt(runEnd))
        @inline def gl(i: Int) = gEnd(i) - gStart(i)
        // the first four chars of a candidate: [A-Z]{2}[0-9]{2}
        @inline def lldd(i: Int) = {
          val s = gStart(i)
          isUpper(text.charAt(s)) && isUpper(text.charAt(s + 1)) &&
            isDigit(text.charAt(s + 2)) && isDigit(text.charAt(s + 3))
        }
        var gi = 0
        while (gi < m) {
          var sel = -1
          if ((gi > 0 || leadOkRun)) {
            if (gl(gi) == 4 && lldd(gi)) {
              // paper-format windows, longest end first
              var j = math.min(gi + 8, m - 1)
              while (j >= gi + 3 && sel < 0) {
                var interior4 = true
                var k = gi + 1
                while (k < j && interior4) {
                  if (gl(k) != 4) interior4 = false
                  k += 1
                }
                val total = 4 * (j - gi) + gl(j)
                if (interior4 && gl(j) >= 1 && gl(j) <= 4 &&
                    total >= 15 && total <= 34 &&
                    (j < m - 1 || tailOkRun) &&
                    mod97OkGroups(text, gStart, gEnd, gi, j)) sel = j
                j -= 1
              }
            } else if (gl(gi) >= 15 && gl(gi) <= 34 && lldd(gi) &&
                (gi < m - 1 || tailOkRun) &&
                mod97Ok(text, gStart(gi), gEnd(gi))) {
              sel = gi // contiguous format: the one-group window
            }
          }
          if (sel >= 0) {
            if (out == null) out = new java.util.ArrayList[String](2)
            out.add(text.substring(gStart(gi), gEnd(sel)))
            gi = sel + 1
          } else gi += 1
        }
      }
    }
    out
  }
}

/** The IBAN class's verified values as an array column — [[IbanScan]]'s
  * run-enumeration semantics (exact counts under any adjacency). */
case class IbanMatches(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "iban_matches"

  @transient private lazy val empty = new GenericArrayData(new Array[AnyRef](0))

  def compute(input: UTF8String): GenericArrayData = {
    if (!PiiGate.pass("IBAN", input)) return empty
    val vals = IbanScan.findValues(input.toString)
    if (vals == null) return empty
    val arr = new Array[AnyRef](vals.size())
    var i = 0
    while (i < arr.length) { arr(i) = UTF8String.fromString(vals.get(i)); i += 1 }
    new GenericArrayData(arr)
  }

  override def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("ibanMatchesExpr", this)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.compute($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): IbanMatches =
    copy(child = newChild)
}

/** The IBAN class's scrub: literal fold over the DISTINCT verified
  * values in the pinned length-DESC / value-ASC order — [[CardScrub]]'s
  * semantics for the mod-97 class (regex alone cannot express the
  * checksum gate; checksum-broken candidates survive RAW, the precision
  * side both plants and laws pin). */
case class IbanScrub(child: Expression, tag: String) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def prettyName: String = "iban_scrub"

  def compute(input: UTF8String): UTF8String = {
    if (!PiiGate.pass("IBAN", input)) return input
    val text = input.toString
    val vals = IbanScan.findValues(text)
    if (vals == null) return input
    val set = new java.util.TreeSet[String](new java.util.Comparator[String] {
      override def compare(l: String, r: String): Int = {
        val byLen = java.lang.Integer.compare(r.length, l.length)
        if (byLen != 0) byLen else l.compareTo(r)
      }
    })
    set.addAll(vals)
    var acc = text
    val it = set.iterator()
    while (it.hasNext) acc = acc.replace(it.next(), tag)
    UTF8String.fromString(acc)
  }

  override def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("ibanScrubExpr", this)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.compute($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): IbanScrub =
    copy(child = newChild)
}

/**
 * Batch right-to-be-forgotten: replace every occurrence of any tag in
 * `tags` with `replacement` in ONE scan, regardless of ledger size —
 * the multi-request form of the single-tag literal replace in
 * TextFunctions.forgetValue / forgetValueMac.
 *
 * Completeness argument for the single scan: every tag is a complete
 * `<...>` span containing neither bracket internally (enforced below —
 * TF.pseudoTag / pseudoTagMac outputs are `<LABEL:digits>` /
 * `<LABEL#hex>` by construction), so a tag occurrence in the text
 * always runs from a '<' to the FIRST '>' after it; probing exactly
 * that substring against a hash set per '<' finds every occurrence of
 * every tag. Value-identical to folding the per-tag literal replaces
 * in ANY order: distinct tag occurrences cannot overlap (both are
 * '<'-anchored full spans — same start would force the same first-'>'
 * substring) and the replacement carries no tag, so the fold is
 * confluent — RtbfSpec pins batch == sequential-fold as a law.
 * O(len + occurrences) per row, ledger-size-independent: the 100 TB
 * shape is a broadcast hash set riding a map-only scan, not one
 * corpus pass per deletion request.
 */
case class ForgetTags(child: Expression, tags: Seq[String],
                      replacement: String) extends UnaryExpression {
  require(tags.forall(t => t.length >= 3 && t.head == '<' && t.last == '>' &&
      !t.substring(1, t.length - 1).exists(c => c == '<' || c == '>')),
    "every RTBF tag must be a complete <...> span with no interior bracket")

  override def dataType: DataType = StringType
  override def prettyName: String = "forget_tags"

  @transient private lazy val tagSet: java.util.HashSet[String] = {
    val s = new java.util.HashSet[String](math.max(16, tags.size * 2))
    tags.foreach(s.add)
    s
  }
  @transient private lazy val maxTagLen: Int =
    if (tags.isEmpty) 0 else tags.iterator.map(_.length).max

  def compute(input: UTF8String): UTF8String = {
    if (tags.isEmpty) return input
    val text = input.toString
    var i = text.indexOf('<')
    if (i < 0) return input
    var sb: java.lang.StringBuilder = null
    var last = 0
    while (i >= 0) {
      val j = text.indexOf('>', i + 1)
      if (j < 0) i = -1 // no further span can close — done
      else if (j - i < maxTagLen && tagSet.contains(text.substring(i, j + 1))) {
        if (sb == null) sb = new java.lang.StringBuilder(text.length)
        sb.append(text, last, i).append(replacement)
        last = j + 1
        i = text.indexOf('<', j + 1)
      } else i = text.indexOf('<', i + 1)
    }
    if (sb == null) input
    else {
      sb.append(text, last, text.length)
      UTF8String.fromString(sb.toString)
    }
  }

  override def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("forgetTagsExpr", this)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.compute($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): ForgetTags =
    copy(child = newChild)
}

/**
 * Count-only detection kernel for one class — t35's n_<class> columns.
 * Same semantics as `size(validMatches)` (two-pass guarded extraction;
 * single whole-match extraction for group-0 EMAIL; [[CardRuns]]
 * run-enumeration for the checksum-gated class) but it never builds the
 * value array, runs the class gate on raw bytes first, and constructs
 * the once-replaced text only when pass 1 actually matched.
 */
case class ClassCount(child: Expression, label: String,
                      spec: GuardedSpec, group: Int, unblockTag: String,
                      luhn: Boolean, mod97: Boolean = false)
    extends UnaryExpression {
  require((group == 0 || luhn || mod97) == (spec == null),
    "guarded classes scan via a GuardedSpec; EMAIL/CARD/IBAN have their own kernels")
  override def dataType: DataType = org.apache.spark.sql.types.LongType
  override def prettyName: String = "pii_class_count"

  def compute(input: UTF8String): Long = {
    if (!PiiGate.pass(label, input)) return 0L
    if (luhn) {
      val vals = CardRuns.selectedValues(input.toString)
      return if (vals == null) 0L else vals.size().toLong
    }
    if (mod97) {
      val vals = IbanScan.findValues(input.toString)
      return if (vals == null) 0L else vals.size().toLong
    }
    val text = input.toString
    if (group == 0) return EmailScan.count(text)
    val sb = new java.lang.StringBuilder(text.length)
    val n1 = GuardedScan.pass(text, spec, unblockTag, null, sb)
    if (n1 == 0) return 0L
    n1.toLong + GuardedScan.pass(sb.toString, spec, unblockTag, null, null)
  }

  override def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("classCountExpr", this)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.compute($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): ClassCount =
    copy(child = newChild)
}

/**
 * Hand-rolled exact implementation of the EMAIL pattern
 * `[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}` — java.util.regex
 * retries the greedy local-part run at every start position, which is
 * quadratic-ish over word-salad text (every letter run is a local-part
 * candidate that fails at '@'); this scanner instead jumps between '@'
 * anchors (each email has exactly one) and reconstructs the regex's
 * leftmost-first/greedy decisions around each:
 *
 *  - local part = the maximal local-char run ending at the '@', clipped
 *    at the scan cursor (regex region semantics after a prior match);
 *    empty → this '@' cannot anchor a match;
 *  - domain = the maximal domain-char run after the '@'; the greedy
 *    `+` backtracks minimally, so the TLD anchors at the LAST dot
 *    inside it that (a) leaves ≥1 domain char before itself and
 *    (b) is followed by ≥2 letters; the match then ends at the maximal
 *    letter run after that dot (`{2,}` is greedy).
 *
 * Scans for count/extract/replace all derive from the same find loop
 * (consuming, leftmost — exactly regex find()). The PiiSpec kernel law
 * compares every output against the real-regex reference on hostile
 * random corpora (multi-'@' runs, digit-tailed TLDs, dot chains).
 */
object EmailScan {
  /** The exact pattern this scanner implements — constructors of the
    * EMAIL-specialized kernels require their class's pattern to be
    * this string, so a pattern edit cannot silently desynchronize. */
  val pattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"

  @inline private def isLetter(c: Char) =
    (c >= 'A' && c <= 'Z') || (c >= 'a' && c <= 'z')
  @inline private def isLocal(c: Char) =
    isLetter(c) || (c >= '0' && c <= '9') ||
      c == '.' || c == '_' || c == '%' || c == '+' || c == '-'
  @inline private def isDomain(c: Char) =
    isLetter(c) || (c >= '0' && c <= '9') || c == '.' || c == '-'

  /** Next match at/after `from`: packed (start << 32) | end, or -1. */
  def find(text: String, from: Int): Long = {
    val n = text.length
    var a = text.indexOf('@', from)
    while (a >= 0) {
      var ls = a
      while (ls > from && isLocal(text.charAt(ls - 1))) ls -= 1
      if (ls < a) {
        var d = a + 1
        while (d < n && isDomain(text.charAt(d))) d += 1
        // last dot in (a+1, d-2] with >=1 domain char before it inside
        // the run and >=2 letters after
        var p = d - 3
        var hit = -1
        while (p >= a + 2 && hit < 0) {
          if (text.charAt(p) == '.' && isLetter(text.charAt(p + 1)) &&
              isLetter(text.charAt(p + 2))) hit = p
          else p -= 1
        }
        if (hit >= 0) {
          var e = hit + 3
          while (e < d && isLetter(text.charAt(e))) e += 1
          return (ls.toLong << 32) | e.toLong
        }
      }
      a = text.indexOf('@', a + 1)
    }
    -1L
  }

  def count(text: String): Long = {
    var n = 0L
    var f = find(text, 0)
    while (f >= 0) { n += 1; f = find(text, (f & 0xffffffffL).toInt) }
    n
  }

  /** All matches, appended to `out`. */
  def matches(text: String, out: java.util.ArrayList[UTF8String]): Unit = {
    var f = find(text, 0)
    while (f >= 0) {
      out.add(UTF8String.fromString(
        text.substring((f >> 32).toInt, (f & 0xffffffffL).toInt)))
      f = find(text, (f & 0xffffffffL).toInt)
    }
  }

  /** Replace every match with `tag`; null when nothing matched. */
  def replaceAll(text: String, tag: String): String = {
    var f = find(text, 0)
    if (f < 0) return null
    val sb = new java.lang.StringBuilder(text.length)
    var last = 0
    while (f >= 0) {
      sb.append(text, last, (f >> 32).toInt).append(tag)
      last = (f & 0xffffffffL).toInt
      f = find(text, last)
    }
    sb.append(text, last, text.length)
    sb.toString
  }
}

/** EMAIL match values as an array column — [[EmailScan]]'s find loop,
  * value-identical to `regexp_extract_all(t, emailPattern, 0)` (the
  * pseudonymizers' group-0 extraction arm), with the '@' gate. */
case class EmailMatches(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "email_matches"

  @transient private lazy val empty = new GenericArrayData(new Array[AnyRef](0))

  def compute(input: UTF8String): GenericArrayData = {
    if (!PiiGate.pass("EMAIL", input)) return empty
    val out = new java.util.ArrayList[UTF8String](2)
    EmailScan.matches(input.toString, out)
    if (out.isEmpty) return empty
    val arr = new Array[AnyRef](out.size())
    var i = 0
    while (i < arr.length) { arr(i) = out.get(i); i += 1 }
    new GenericArrayData(arr)
  }

  override def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("emailMatchesExpr", this)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.compute($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): EmailMatches =
    copy(child = newChild)
}

/** Boolean twin of [[ForgetTags]]: does the text contain ANY ledger
  * tag? Same single '<'-anchored scan and completeness argument, but no
  * string building — the cheap RTBF linked-document predicate, so the
  * audit filter costs one scan per row instead of evaluating the
  * rewrite (and its upstream chain) inside the comparison
  * `forget_tags(x) != x` (Catalyst pushes that filter below the
  * projection, which would run the rewrite twice in the filter and a
  * third time in the surviving project). Law-pinned equivalent:
  * `linksAny(x, tags) == (forgetTags(x, tags) != x)`. */
case class LinksAnyTag(child: Expression, tags: Seq[String])
    extends UnaryExpression {
  require(tags.forall(t => t.length >= 3 && t.head == '<' && t.last == '>' &&
      !t.substring(1, t.length - 1).exists(c => c == '<' || c == '>')),
    "every RTBF tag must be a complete <...> span with no interior bracket")

  override def dataType: DataType = org.apache.spark.sql.types.BooleanType
  override def prettyName: String = "links_any_tag"

  @transient private lazy val tagSet: java.util.HashSet[String] = {
    val s = new java.util.HashSet[String](math.max(16, tags.size * 2))
    tags.foreach(s.add)
    s
  }
  @transient private lazy val maxTagLen: Int =
    if (tags.isEmpty) 0 else tags.iterator.map(_.length).max

  def compute(input: UTF8String): Boolean = {
    if (tags.isEmpty) return false
    val text = input.toString
    var i = text.indexOf('<')
    while (i >= 0) {
      val j = text.indexOf('>', i + 1)
      if (j < 0) return false
      if (j - i < maxTagLen && tagSet.contains(text.substring(i, j + 1)))
        return true
      i = text.indexOf('<', i + 1)
    }
    false
  }

  override def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("linksAnyTagExpr", this)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.compute($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): LinksAnyTag =
    copy(child = newChild)
}

/**
 * Scan machinery for the guarded classes' kernels: the full-pattern
 * java.util.regex find loop retries `(lead)(core)(tail)` at EVERY text
 * position (~90 µs per ~400-char row for the phone/IP/ID alternations —
 * the engine's composed char-class predicates dominate, not
 * backtracking). A guarded class's match can only START where its core
 * can start (a digit, '(', '+', a hex char, ':') with a lead-valid
 * char before it, so [[GuardedScan.pass]] walks the chars once and
 * anchors a `lookingAt` of `(core)(tail)` ONLY at those candidate
 * positions — typically a handful per row — while the core+tail regex
 * (the SAME alternation text, so internal greedy/backtracking
 * behaviour is byte-identical) decides the match.
 *
 * Equivalence to the consuming full-pattern find loop (law-pinned by
 * the PiiSpec kernel law, which runs the real-regex references):
 * a full-pattern match at scan position p is lead char at p (or the
 * empty `^` at 0) + core from p+1; candidates here are enumerated by
 * core position q in ascending order = ascending p, with the `^` case
 * (q=0, cursor 0) ordered first exactly as the lead group's
 * alternation order; after a match the cursor moves past the consumed
 * tail, and the next candidate needs its lead char AT or AFTER the
 * cursor — the same guard-consumption blocking the two-pass form
 * exists to recover. An incomplete start-char set would drop matches
 * vs the reference and fail the law.
 */
final case class GuardedSpec(coreTail: String, startChars: String,
                             leadExtra: String) {
  @transient lazy val regex: java.util.regex.Pattern =
    java.util.regex.Pattern.compile(coreTail)
  @transient private lazy val startArr: Array[Boolean] = {
    val a = new Array[Boolean](128)
    startChars.foreach(c => a(c) = true) // explicit char list, no ranges
    a
  }
  @inline def isStart(c: Char): Boolean = c < 128 && startArr(c)
  @inline def leadOk(c: Char): Boolean =
    !((c >= '0' && c <= '9') || (c >= 'A' && c <= 'Z') ||
      (c >= 'a' && c <= 'z') || leadExtra.indexOf(c.toInt) >= 0)
}

object GuardedScan {
  /** One consuming pass over `text`: emits core values into `out` (when
    * non-null) and the once-replaced text into `sb` (when non-null —
    * replacement = TAG + the consumed tail chars; the lead char was
    * never consumed here, so it stays in place, which is exactly what
    * the full pattern's `$1TAG$3` re-emission produced). Returns the
    * match count. */
  def pass(text: String, spec: GuardedSpec, tag: String,
           out: java.util.ArrayList[UTF8String],
           sb: java.lang.StringBuilder): Int = {
    val n = text.length
    val m = spec.regex.matcher(text)
    var count = 0
    var cursor = 0
    var last = 0
    var q = 0
    while (q < n) {
      if (spec.isStart(text.charAt(q)) &&
          ((q == 0 && cursor == 0) ||
           (q >= cursor + 1 && spec.leadOk(text.charAt(q - 1))))) {
        m.region(q, n)
        if (m.lookingAt()) {
          count += 1
          if (out != null) out.add(UTF8String.fromString(m.group(1)))
          if (sb != null) {
            sb.append(text, last, q).append(tag).append(m.group(2))
            last = m.end()
          }
          cursor = m.end()
          q = if (m.end() > q) m.end() else q + 1
        } else q += 1
      } else q += 1
    }
    if (sb != null) sb.append(text, last, n)
    count
  }
}

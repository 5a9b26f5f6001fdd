package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/**
 * Text-analysis surface for large-scale training-data pipelines
 * (SURVEY.md §7.1 M5): tokenization, token counting, quality scoring,
 * language-ID heuristic, fingerprinting, shingling, MinHash.
 *
 * Everything here is built-in Column expressions (codegen'd, no UDFs) so
 * the whole text path stays inside whole-stage codegen at 100 TB; the only
 * custom-Expression ops live in [[Hashing]].
 */
object TextFunctions {

  /** Normalized whitespace tokenization; empty text → empty array.
    *
    * SEGMENTATION CONTRACT (r16 verdict #6 — a decision, not an
    * accident): tokens are `\s+`-separated runs of the lowercased,
    * trimmed text, and EVERY token consumer inherits this — t01/t05
    * counts, BM25/TF-IDF, the bigram LM and its fluency gate, shingles/
    * MinHash/fingerprints, decontamination, span/chunk dedup. The
    * consequence for no-space scripts (CJK, Thai, Lao): an unsegmented
    * sentence is ONE token, so token counts under-read, the LM sees one
    * giant unigram, and shingle dedup degenerates to exact-line dedup
    * for such documents — TextFunctionsSpec pins this explicitly.
    * UAX #29 word segmentation (JDK BreakIterator / ICU) was evaluated
    * and REJECTED: the correctness gate's oracle engine has no
    * BreakIterator twin (`string_split_regex` is what every one of the
    * ~60 token-consuming oracles replays), and dictionary-based
    * segmenters are neither version-stable nor engine-exact — a
    * silently divergent tokenizer would poison every downstream hash.
    * A CJK-capable deployment plugs a pre-segmented text column (spaces
    * inserted upstream, where a real segmenter with its own test
    * oracle lives) into the SAME pipeline — the contract composes. */
  def tokens(text: Column): Column =
    when(length(trim(text)) === 0, array().cast("array<string>"))
      .otherwise(split(lower(trim(text)), "\\s+"))

  /** Token count (whitespace tokenizer). */
  def tokenCount(text: Column): Column = size(tokens(text))

  /**
   * BPE-ish pre-tokenizer count: the GPT-2-style pre-tokenization split
   * simplified to letter runs / digit runs / single non-alnum marks —
   * the cheap proxy for "how many subword tokens will this text cost"
   * used when budgeting LLM training data. Pure regex, identical RE2/Java
   * semantics, so it is oracle-checkable.
   */
  val bpePattern = "[a-z]+|[0-9]+|[^a-z0-9\\s]"

  def bpeTokens(text: Column): Column =
    regexp_extract_all(lower(text), lit(bpePattern), lit(0))

  def bpeTokenCount(text: Column): Column = size(bpeTokens(text))

  /**
   * A small function-word list drawn from the harness corpus vocabulary;
   * used for quality scoring (stopword ratio).
   */
  val stopwords: Seq[String] = Seq("the", "a", "of", "and", "to", "in")

  /** Number of stopword tokens. */
  def stopwordCount(text: Column): Column =
    size(filter(tokens(text), tk => tk.isin(stopwords.map(x => x: Any): _*)))

  /**
   * Quality scoring: length, punctuation density, stopword ratio —
   * the length/punct/stopword heuristics used to filter LLM training
   * text. All ratios are double divisions of exact integer counts, so
   * results are bit-identical across engines.
   */
  def punctCount(text: Column): Column =
    length(text) - length(regexp_replace(text, "[.!?,;:]", ""))

  def qualityColumns(text: Column): Seq[Column] = {
    val n = tokenCount(text)
    Seq(
      length(text).as("n_chars_calc"),
      n.as("n_tokens"),
      (punctCount(text).cast("double") / greatest(length(text), lit(1))).as("punct_ratio"),
      (stopwordCount(text).cast("double") / greatest(n, lit(1))).as("stopword_ratio"),
      (size(array_distinct(tokens(text))).cast("double") / greatest(n, lit(1))).as("ttr"))
  }

  /**
   * Encoding-damage (mojibake) audit — the curation signal web-corpus
   * pipelines (CCNet/RefinedWeb-style) apply before training: documents
   * carrying decode damage are noise the quality heuristics above do
   * not see (a mojibake'd page still has fine length/punct/stopword
   * ratios). Three marker families, each counted as LITERAL codepoint
   * sequences so both engines replay exactly (no Unicode regex-class
   * semantics to align):
   *  - U+FFFD REPLACEMENT CHARACTER — a decoder already gave up;
   *  - C1 controls (U+0085 NEL, U+0092 PU2 here) — the cp1252-read-as-
   *    latin-1 signature (raw C1 codepoints never appear in clean text);
   *  - double-encoding digrams ("Ã©" = UTF-8 'é' re-decoded as latin-1,
   *    "â€™" = UTF-8 right-quote likewise) — the classic mojibake look.
   * The marker lists are deliberately small and exact (counts are a
   * SIGNAL; a production deployment extends the lists, the machinery is
   * the contract). Map-only: per-row literal scans, no regex, no
   * shuffle at any scale.
   */
  val replacementMark = "\ufffd"
  val c1Marks: Seq[String] = Seq("\u0085", "\u0092")
  val doubleEncodeMarks: Seq[String] = Seq("Ã©", "â€™")

  /** Occurrences of literal `m` in `text` via length difference —
    * exact integer arithmetic, same fold in DuckDB. */
  private def literalCount(text: Column, m: String): Column =
    ((length(text) -
      length(call_function("replace", text, lit(m), lit("")))) /
      lit(m.length)).cast("long")

  /** The audit columns: per-family counts + the keep flag. */
  def mojibakeColumns(text: Column): Seq[Column] = {
    val nRepl = literalCount(text, replacementMark)
    val nC1 = c1Marks.map(literalCount(text, _)).reduce(_ + _)
    val nDouble = doubleEncodeMarks.map(literalCount(text, _)).reduce(_ + _)
    Seq(nRepl.as("n_replacement"), nC1.as("n_c1"),
      nDouble.as("n_double"),
      (nRepl + nC1 + nDouble === 0).as("clean"))
  }

  /** The keep flag alone (t44's `clean` column) — the pipeline/gate
    * form, same subexpressions as [[mojibakeColumns]]. */
  def mojibakeClean(text: Column): Column =
    (replacementMark +: (c1Marks ++ doubleEncodeMarks))
      .map(literalCount(text, _)).reduce(_ + _) === 0

  /** The t06/CorpusPipeline keep rule as one boolean over the text —
    * the SINGLE definition of "quality document" (≥ 5 tokens, punct
    * density ≤ 0.2, stopword ratio ≥ 0.01, type-token ratio ≥ 0.3)
    * shared by the batch pipeline stage and the streaming ingest gate,
    * so the two cannot drift. Same subexpressions as [[qualityColumns]]. */
  def qualityKeep(text: Column): Column = {
    val n = tokenCount(text)
    n >= 5 &&
      (punctCount(text).cast("double") / greatest(length(text), lit(1))) <= 0.2 &&
      (stopwordCount(text).cast("double") / greatest(n, lit(1))) >= 0.01 &&
      (size(array_distinct(tokens(text))).cast("double") / greatest(n, lit(1))) >= 0.3
  }

  /**
   * Language-ID heuristic: marker-word votes per language, deterministic
   * argmax (tie → priority order en,de,fr,es). A real system would use
   * char-n-gram profiles; the contract here is a deterministic,
   * SQL-expressible scoring so the oracle can replicate it exactly.
   */
  val langMarkers: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of"),
    "de" -> Seq("der", "und", "die"),
    "fr" -> Seq("le", "et", "la"),
    "es" -> Seq("el", "y", "los"))

  def langVote(text: Column, lang: String): Column =
    size(filter(tokens(text), tk => tk.isin(langMarkers(lang).map(x => x: Any): _*)))

  def langId(text: Column): Column = {
    val en = langVote(text, "en"); val de = langVote(text, "de")
    val fr = langVote(text, "fr"); val es = langVote(text, "es")
    val mx = greatest(en, de, fr, es)
    when(mx === 0, lit("und"))
      .when(en === mx, lit("en"))
      .when(de === mx, lit("de"))
      .when(fr === mx, lit("fr"))
      .otherwise(lit("es"))
  }

  /**
   * Document fingerprint: md5 over whitespace-normalized lowercase text.
   * Identical in DuckDB (`md5(...)`), so exact-dup detection by
   * fingerprint is oracle-checkable.
   */
  def fingerprint(text: Column): Column =
    md5(concat_ws(" ", tokens(text)))

  /** Email pattern for [[redactPii]], shared with the DuckDB oracle:
    * restricted to RE2-compatible character classes (no lookaround, no
    * backreferences) so the identical pattern string behaves the same
    * under Java regex (Spark) and RE2 (DuckDB `regexp_replace(..., 'g')`).
    * Unguarded (group 0 is the match): the mandatory `@` anchors the
    * shape, the greedy local part absorbs its own left edge, and the
    * letters-only TLD ends it. Known over-match: a phone/IP-shaped span
    * EMBEDDED in a local part (`+1-555-0100@x.com`) still counts in both
    * classes under raw-text [[piiCount]] — scrub is immune (the email
    * pass runs first and consumes the whole address). */
  val emailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"

  /** Numeric-identifier patterns are BOUNDARY-GUARDED: a guarded pattern
    * is `(lead)(core)(tail)` where the lead/tail groups pin a one-char
    * context that cannot itself belong to (or extend) the identifier, so
    * - a dotted/dashed/digit RUN never yields a sub-span match
    *   (`1.2.3.4.5`, ISBNs, credit-card numbers, 16-digit runs),
    * - letter-adjacent spans are rejected (`v10.2.3.4` version strings
    *   no longer inflate t35 datasheets — the round-13 verdict's ask),
    * - sentence-final identifiers still match (`see 10.0.0.1.` — the
    *   tail alternation admits `.` + non-digit and `.` + end).
    * Guards consume their context char, so scrub re-emits them
    * (`$1<TAG>$3` / RE2 `\1<TAG>\3`) and counting extracts group 2.
    * RE2-safe throughout: alternation + char classes only, no
    * lookaround, identical semantics under Java regex and DuckDB RE2
    * (probed match-for-match on both engines).
    *
    * One consequence of consuming guards: two same-class identifiers
    * separated by a SINGLE char ("1.1.1.1 2.2.2.2") alternate-block
    * within one scan — the first match eats the separator that the
    * second needed as its lead. A second pass over the once-replaced
    * text (tags re-emit the guard chars, so the survivor's lead is back)
    * is exact: a blocked span always directly follows a replaced match,
    * so pass-2 survivors are isolated. [[scrubPii]], [[piiCount]] and
    * the pseudonymizers all run that two-pass form per guarded class. */
  private val leadNum = "(^|[^0-9A-Za-z.+-])" // phone lead: +/-/. extend phones
  private val leadDot = "(^|[^0-9A-Za-z.-])"  // ipv4/id lead: dot/dash runs
  private val leadHex = "(^|[^0-9A-Za-z:.])"  // ipv6 lead: colon runs
  private val tailNum = "([^0-9A-Za-z.-]|\\.[^0-9]|\\.$|$)"
  private val tailHex = "([^0-9A-Za-z:.]|\\.[^0-9]|\\.$|$)"

  /** Phone family (core, group 2 of [[phonePattern]]): parenthesized US
    * (`(555) 010-0100`), +-prefixed with dash/dot/space separators
    * (`+1 555 0100`), bare dash/dot-separated 1-3/3/4 (`1-555-0100`,
    * `212.555.0100`), and E.164 without separators (`+15550100`, 7–15
    * digits per ITU). Bare SPACE-separated triples (`12 345 6789`) are
    * deliberately out: without a `+` or `(` anchor they are
    * indistinguishable from number-table columns (the precision law
    * plants exactly that confusable). */
  private val phoneCore =
    "\\([0-9]{3}\\) ?[0-9]{3}[-. ][0-9]{4}" +
    "|\\+[0-9]{1,3}[-. ][0-9]{3}[-. ][0-9]{4}" +
    "|[0-9]{1,3}[-.][0-9]{3}[-.][0-9]{4}" +
    "|\\+[0-9]{7,15}"
  val phonePattern: String = leadNum + "((?:" + phoneCore + "))" + tailNum

  /** IPv4 (core, group 2): four octet-bounded groups — 25x/2xx/1xx/0-99
    * with optional leading zero (`192.168.001.255` still matches; `999`
    * or `256` octets never do). Guarded, so dotted runs and
    * letter/dash-adjacent quads (`v10.2.3.4`, `10.2.3.4-rc1`) are
    * rejected; the dash exclusion trades away compact `a.b.c.d-e.f.g.h`
    * range notation (spaced ranges still match both ends). */
  private val ipv4Octet = "(?:25[0-5]|2[0-4][0-9]|1[0-9][0-9]|0?[0-9]{1,2})"
  private val ipv4Core = ipv4Octet + "(?:\\." + ipv4Octet + "){3}"
  val ipv4Pattern: String = leadDot + "(" + ipv4Core + ")" + tailNum

  /** IPv6 (core, group 2): the bounded hex-group alternation — full
    * 8-group form plus every single-`::` compression with ≤7 groups
    * total, including `::1`, `fe80::`, and `1::`. Bare `::` is
    * deliberately excluded (C++ scope syntax), and the hex-or-colon lead
    * guard kills `deadbeef::1` sub-spans and `ns::cafe`-style
    * hex-word scopes. IPv4-mapped forms (`::ffff:1.2.3.4`,
    * `64:ff9b::1.2.3.4`): the IPv6 class matches NOTHING there — every
    * hex-prefix candidate is followed by `:` or a hex char, which no
    * tail-guard alternative admits — and the embedded dotted quad counts
    * exactly once under IP (its lead guard accepts `:`), so scrub yields
    * `::ffff:<IP>`. The identifying half is redacted; the mapping prefix
    * stays raw. PiiSpec pins this semantics as a law. */
  private val h16 = "[0-9A-Fa-f]{1,4}"
  private val ipv6Core = Seq(
    s"(?:$h16:){7}$h16",
    s"(?:$h16:){6}:$h16",
    s"(?:$h16:){5}(?::$h16){1,2}",
    s"(?:$h16:){4}(?::$h16){1,3}",
    s"(?:$h16:){3}(?::$h16){1,4}",
    s"(?:$h16:){2}(?::$h16){1,5}",
    s"(?:$h16:){1}(?::$h16){1,6}",
    s"(?:$h16:){1,7}:",
    s":(?::$h16){1,7}").mkString("|")
  val ipv6Pattern: String = leadHex + "(" + ipv6Core + ")" + tailHex

  /** SSN-shaped ID tokens, 3-2-4 dashed (core, group 2). */
  private val idCore = "[0-9]{3}-[0-9]{2}-[0-9]{4}"
  val idPattern: String = leadDot + "(" + idCore + ")" + tailNum

  /** Payment-card PANs (core, group 2): 4-4-4-{1,7} dash/space groupings
    * (13–19 digits — the classic 4-4-4-4 plus long-PAN tails), Amex
    * 4-6-5, and contiguous 13–19 digit runs. The shapes only define
    * CANDIDATES — detection requires the Luhn check digit to verify
    * ([[luhnValid]]), so ISBNs, order numbers, and random digit tables
    * that happen to group like a PAN stay out unless their checksum
    * actually passes (1-in-10 for uniform digits; the precision law
    * plants check-digit-broken PANs that must NOT match). The phone-like
    * lead guard (no `+`, so E.164 spans stay PHONE's) and the digit/dash
    * tail guard reject sub-spans of longer runs (a fifth dashed group,
    * 20+ contiguous digits). Five-group long PANs (4-4-4-4-3) are out —
    * rare, and a fifth group is indistinguishable from an appended
    * sequence number.
    *
    * Unlike the other guarded classes, CARD detection does NOT run this
    * regex: a consuming leftmost scan let a space-separated digit
    * neighbor (a plus-spaced phone tail, a number column) steal a
    * spaced PAN's head into a cross-boundary candidate that failed Luhn
    * and blocked the true PAN — the round-15 law-pinned under-count.
    * Detection is [[CardRuns]]' RUN ENUMERATION instead: maximal
    * digit-group runs, group-aligned shape candidates with
    * NON-CONSUMING context guards, Luhn filter, then greedy
    * leftmost-valid selection (invalid candidates never block; when two
    * VALID candidates overlap, the leftmost wins — pinned arbitration).
    * Exact under any adjacency, replayed by the DuckDB twin
    * (OracleSql.cardValuesSql). This pattern string remains the CARD
    * class's raw-survivor SWEEP shape (a text where it finds nothing
    * contains no card-shaped span at all). */
  private val cardCore =
    "[0-9]{4}[- ][0-9]{4}[- ][0-9]{4}[- ][0-9]{1,7}" +
    "|[0-9]{4}[- ][0-9]{6}[- ][0-9]{5}" +
    "|[0-9]{13,19}"
  val cardPattern: String = leadNum + "(" + cardCore + ")" + tailNum

  /** Luhn check over a candidate PAN (separators stripped): from the
    * right, every second digit doubled (minus 9 when > 9), sum ≡ 0
    * mod 10. Exact integer arithmetic over built-in HOFs, replayed
    * digit-for-digit by the DuckDB twin (OracleSql.luhnCondSql). This
    * Column form is the REFERENCE formulation the equivalence law
    * checks against — the hot paths run [[CardRuns]]' primitive integer
    * fold instead (HOFs are CodegenFallbacks whose interpreted trees
    * re-evaluate the upstream scrub chain per element: measured ~100×
    * the five-class t35 cost before the kernels). */
  def luhnValid(m: Column): Column = {
    val ds = regexp_replace(m, "[^0-9]", "")
    val n = length(ds)
    (aggregate(sequence(lit(1), n), lit(0), (acc, i) => {
      val d = ds.substr(i, lit(1)).cast("int")
      val dbl = when(pmod(n - i, lit(2)) === 1, d * 2).otherwise(d)
      acc + when(dbl > 9, dbl - 9).otherwise(dbl)
    }) % 10) === 0
  }

  /** IBAN (core, group 2): BOTH ISO 13616 layouts — the CONTIGUOUS
    * electronic format (two uppercase country letters, two check
    * digits, 11–30 uppercase/digit BBAN chars; 15–34 total — the real
    * registry's span) and the SPACED 4-group paper format
    * (`GB82 WEST 1234 …`, interior groups exactly 4 chars, terminal
    * 1–4), with plain non-alphanumeric boundary guards (any alnum
    * adjacency, including lowercase, rejects — camelCase tokens and
    * longer runs never yield sub-span candidates). The shape only
    * defines CANDIDATES — detection requires the mod-97 check
    * ([[mod97Valid]] / PiiExpressions.IbanScan) to verify, the CARD
    * discipline (a checksum-broken span counts 0 and survives scrub
    * raw). Like cardPattern, this regex is the class's raw-survivor
    * SWEEP shape (a text where it finds nothing contains no
    * IBAN-shaped span — the spaced alternative deliberately admits a
    * few over-wide group counts the total-length rule excludes);
    * detection runs IbanScan's run enumeration, exact under any
    * adjacency with greedy leftmost-longest arbitration. */
  private val leadAln = "(^|[^0-9A-Za-z])"
  private val tailAln = "([^0-9A-Za-z]|$)"
  private val ibanCore =
    "[A-Z]{2}[0-9]{2}[A-Z0-9]{11,30}" +
    "|[A-Z]{2}[0-9]{2}(?: [A-Z0-9]{4}){2,7}(?: [A-Z0-9]{1,4})?"
  val ibanPattern: String = leadAln + "(" + ibanCore + ")" + tailAln

  /** ISO 13616 mod-97 over a candidate IBAN: first four chars moved to
    * the end, A–Z mapped to 10–35, the big decimal ≡ 1 mod 97 —
    * incremental remainder fold, exact integer arithmetic replayed by
    * the DuckDB twin (OracleSql.mod97CondSql). Like [[luhnValid]], this
    * Column form is the REFERENCE formulation for the equivalence laws;
    * hot paths run IbanScan's primitive fold. */
  def mod97Valid(m: Column): Column = {
    val r = concat(m.substr(lit(5), length(m)), m.substr(lit(1), lit(4)))
    aggregate(sequence(lit(1), length(r)), lit(0), (acc, i) => {
      val ch = r.substr(i, lit(1))
      when(ch >= "0" && ch <= "9", (acc * 10 + ch.cast("int")) % 97)
        .otherwise((acc * 100 + (ascii(ch) - 55)) % 97)
    }) === 1
  }

  /** One detection class: placeholder label, full (guarded) pattern, the
    * group index that extracts the identifier itself (0 = the whole
    * match is the identifier — EMAIL; 2 = the guarded core), and an
    * optional checksum gate (`luhn = true` — CARD; `mod97 = true` —
    * IBAN): candidates only count/scrub when the checksum verifies. */
  final case class PiiClass(label: String, pattern: String, group: Int,
                            luhn: Boolean = false,
                            scan: Option[GuardedSpec] = None,
                            mod97: Boolean = false) {
    def tag: String = s"<$label>"
  }

  /** The audit classes in scrub order: emails first (digits inside an
    * address must not half-match as a phone/IP), then phones, then
    * Luhn-gated card PANs (phone before card is safe in both
    * directions: phone guards reject card sub-spans — the dashed/spaced
    * groups are 4-wide, phones need 1-3/3/4 — and the card lead
    * excludes '+', so E.164 spans stay PHONE's), IPv6 before IPv4
    * (colon forms carry no dots today, but a future v4-mapped form must
    * meet the v6 pass first), then ID tokens.
    * No-new-match invariant: a replacement can never CREATE a later
    * match — scrub tags carry no '@', dot, dash, or colon, and the one
    * digit in <IP6> is flanked by 'P' and '>' so no pattern's core or
    * lead guard can absorb it (a future tag must keep any digit away
    * from '<'/'>' boundaries or re-prove this; since CARD, any digit
    * RUN in a tag body must also stay outside 13-19 length when its
    * right boundary is non-alphanumeric — the FNV tags zero-pad to 20
    * for exactly this reason).
    * NOTE t36/t37/t38/t40 bind `piiClasses.take(2)` as the linkable
    * identifiers — EMAIL and PHONE must stay the first two entries. */
  // Each guarded class's GuardedSpec: the SAME core+tail regex text as
  // its full pattern (so internal alternation/backtracking behaviour is
  // byte-identical), the explicit set of chars its core can start with,
  // and the non-alnum chars its lead guard additionally excludes —
  // GuardedScan anchors lookingAt attempts only at those candidate
  // positions instead of retrying the full pattern at every char (the
  // full find loop measured ~90 µs per ~400-char row; see
  // PiiExpressions.GuardedScan). The PiiSpec kernel law runs real-regex
  // references against these, so an incomplete start set cannot land.
  private val digitChars = "0123456789"
  private val phoneSpec = GuardedSpec(
    "((?:" + phoneCore + "))" + tailNum, digitChars + "(+", ".+-")
  private val ipv4Spec = GuardedSpec(
    "(" + ipv4Core + ")" + tailNum, digitChars, ".-")
  private val ipv6Spec = GuardedSpec(
    "(" + ipv6Core + ")" + tailHex, digitChars + "ABCDEFabcdef:", ":.")
  private val idSpec = GuardedSpec(
    "(" + idCore + ")" + tailNum, digitChars, ".-")

  // IBAN scrubs BEFORE CARD (r17, with the spaced paper format in): a
  // spaced IBAN's interior digit groups are a card-shaped digit run,
  // and a Luhn-valid one would otherwise be carved out as <CARD>
  // before the IBAN pass could see its span — IBAN-first redacts the
  // whole account number as one identifier, and the <IBAN> tag carries
  // no digit/'@'/'.'/'-'/':' so no later class can match into it.
  // (Per-class COUNTS run on the raw text and are order-independent: a
  // Luhn-valid digit sub-run inside an IBAN counts in BOTH classes,
  // the documented over-match semantics, same as phone-in-email.)
  // IBAN's own runs are letter-anchored, so no digit-run class's lead
  // guard ever matches inside them.
  val piiClasses: Seq[PiiClass] = Seq(
    PiiClass("EMAIL", emailPattern, 0),
    PiiClass("PHONE", phonePattern, 2, scan = Some(phoneSpec)),
    PiiClass("IBAN", ibanPattern, 2, mod97 = true),
    PiiClass("CARD", cardPattern, 2, luhn = true),
    PiiClass("IP6", ipv6Pattern, 2, scan = Some(ipv6Spec)),
    PiiClass("IP", ipv4Pattern, 2, scan = Some(ipv4Spec)),
    PiiClass("ID", idPattern, 2, scan = Some(idSpec)))

  /** (label, pattern) view of [[piiClasses]] for raw-survivor regex
    * sweeps (a guarded pattern finding nothing == no guarded match
    * survives). */
  val piiPatterns: Seq[(String, String)] = piiClasses.map(c => c.label -> c.pattern)

  /** Full scrub of one class: guarded regex classes run the two-pass
    * form (see the guard note above — pass 2 catches the
    * alternate-blocked spans). The checksum-gated class (CARD) cannot
    * scrub by regex alone — the shapes admit candidates the check
    * digit rejects — so it folds literal `replace` over its DISTINCT
    * [[CardRuns]]-verified values (longest-first, the pseudonymize
    * order). Literal folding is position-blind: a verified value also
    * occurring inside a longer unguarded run is rewritten there too —
    * the conservative side for redaction. */
  private def scrubClass(t: Column, c: PiiClass, tag: String): Column = {
    // fused kernels for EVERY class, not declarative chains:
    // value-identical (PiiSpec equivalence laws + the oracle gate), but
    // each kernel first runs the PiiGate byte prescan (skipping its
    // regex and the string decode when the class's necessary chars are
    // absent), pass 2 is skipped when pass 1 matched nothing, and CARD
    // runs a pure char-level scan — the typical word-salad row costs
    // six byte scans and at most one regex pass
    import org.apache.spark.sql.GraftBridge.{column, expression}
    if (c.luhn) column(CardScrub(expression(t), tag))
    else if (c.mod97) column(IbanScrub(expression(t), tag))
    else column(GuardedScrub(expression(t), c.label, c.scan.orNull, tag,
      group0 = c.group == 0))
  }

  /** Per-class PII match count — the detection side of the audit (what a
    * corpus datasheet reports before scrubbing). Exact under guard
    * consumption: pass-1 matches plus the survivors a second extraction
    * over the once-replaced text recovers; checksum-gated classes count
    * only the verified candidates. */
  def piiCount(text: Column, c: PiiClass): Column = {
    // the count-only kernel: gate + count without materializing the
    // value array (value-identical to size(validMatches) — law-pinned)
    import org.apache.spark.sql.GraftBridge.{column, expression}
    column(ClassCount(expression(text), c.label, c.scan.orNull, c.group,
      c.tag, c.luhn, c.mod97))
  }

  /**
   * PII redaction for training corpora: emails then phone-shaped numbers
   * replaced with stable placeholder tags. Pure codegen'd
   * `regexp_replace` — no UDF, no shuffle, linear scan per row.
   */
  def redactPii(text: Column): Column =
    piiClasses.filter(c => c.label == "EMAIL" || c.label == "PHONE")
      .foldLeft(text)((t, c) => scrubClass(t, c, c.tag))

  /** Full redaction in [[piiClasses]] order (all seven classes). A chain
    * of codegen'd `regexp_replace` plus the CARD class's Luhn-verified
    * literal fold — map-only at any scale. Dedup MUST fingerprint
    * THIS form, not [[pseudonymizePii]]'s (blind tags collapse volatile
    * per-crawl PII; keyed tags preserve value distinctions by design —
    * see the d25_scrub_dedup witness). */
  def scrubPii(text: Column): Column =
    piiClasses.foldLeft(text)((t, c) => scrubClass(t, c, c.tag))

  /** One class's VERIFIED identifier values in `t` — for guarded regex
    * classes the two-pass candidate extraction (pass-1 guarded matches
    * plus the alternate-blocked survivors recovered from the
    * once-replaced text, see the guard note — value-identical to
    * `concat(regexp_extract_all(t, p, 2), regexp_extract_all(
    * replaceOnce(t), p, 2))`, with pass 2 run only when pass 1 found a
    * candidate); [[EmailScan]]'s hand-rolled matcher for the unguarded
    * group-0 class; [[CardRuns]]' run-enumeration selection for the
    * checksum-gated CARD class. Every arm is a gated fused kernel
    * (PiiSpec pins the equivalence laws against ungated references). */
  private def validMatches(t: Column, c: PiiClass): Column = {
    import org.apache.spark.sql.GraftBridge.{column, expression}
    if (c.group == 0) column(EmailMatches(expression(t))) // unguarded
    else if (c.luhn) column(CardMatches(expression(t)))
    else if (c.mod97) column(IbanMatches(expression(t)))
    else column(GuardedMatches(expression(t), c.label, c.scan.get, c.tag))
  }

  /** Fold literal `replace` of each DISTINCT value in `ms` over `t`, in
    * the pinned length-DESC / value-ASC order (see the pseudonymize
    * note: containers before contained values; the value-ASC tiebreak is
    * the cross-engine contract for equal-length overlaps). */
  private def foldReplace(t: Column, ms: Column,
                          tagOf: Column => Column): Column = {
    val sorted = array_sort(
      array_distinct(ms),
      (l, r) => when(length(l) > length(r), -1)
        .when(length(l) < length(r), 1)
        .when(l < r, -1).when(l > r, 1).otherwise(0))
    aggregate(sorted, t, (acc, m) =>
      call_function("replace", acc, m, tagOf(m)))
  }

  /** The shared pseudonymization skeleton: per class, extract the
    * distinct identifier values, order them canonically (length
    * DESCENDING, value-ascending tiebreak — replacement is a literal
    * fold, so a value containing a shorter same-class value as a
    * substring must fold FIRST or the shorter value's global replace
    * corrupts its occurrences and destroys its linkage tag; the pinned
    * order also keeps the result deterministic and
    * oracle-reproducible), then fold `replace`
    * over the row's own text with `tagOf(label, value)`. Built-ins plus
    * codegen'd expressions only; per-row cost is O(matches × length)
    * with matches-per-document small, and nothing shuffles. Class order
    * matters the same way scrub order does: emails first, so a phone/IP
    * span embedded in a local part is consumed by the email's tag.
    * Because the fold replaces VALUES literally, an identifier value
    * also occurring inside a longer unguarded run is rewritten there too
    * — the conservative side for a privacy rewrite.
    *
    * Faithfulness boundary: longest-first folding guarantees each
    * value's own tag under substring CONTAINMENT only. Two values that
    * PARTIALLY overlap at one occurrence (suffix of one = prefix of the
    * other, e.g. 'ab@c.dex' and 'x@d.efgh' in 'ab@c.dex@d.efgh') cannot
    * both be rewritten there — the longer (or tie-broken earlier) value
    * wins that span and the other's overlapped occurrence leaves a raw
    * partial residue. Deterministic and engine-consistent (both engines
    * pin the same fold order), and each value's NON-overlapped
    * occurrences still tag faithfully. */
  private def pseudonymizeWith(text: Column, classes: Seq[PiiClass],
                               tagOf: (String, Column) => Column): Column =
    classes.foldLeft(text) { case (t, c) =>
      // longest-first via foldReplace: a value that CONTAINS a shorter
      // same-class value as a literal substring (fe80::1 vs ::1,
      // xa@b.com vs a@b.com) must fold before it — ascending order
      // would let the shorter value's global replace rewrite the longer
      // value's occurrences, destroying its linkage tag. The value-ASC
      // tiebreak is LOAD-BEARING, not just determinism: two distinct
      // equal-length values CAN overlap at a shifted occurrence (suffix
      // of one = prefix of the other), the literal replace is
      // position-blind, so replace order changes the folded text — the
      // DuckDB twin (OracleSql.pseudoSql) realizes the identical
      // length-DESC / value-ASC order. No class's pattern can match
      // inside a tag (tag bodies are digits/hex with no '@', '.', '-',
      // or '::'), so an earlier replacement can never feed a later one.
      foldReplace(t, validMatches(t, c), m => tagOf(c.label, m))
    }

  /**
   * Keyed pseudonymization: each email/phone match is replaced by a
   * stable tag `<EMAIL:n>` / `<PHONE:n>` where n is the unsigned decimal
   * FNV-1a-64 of `key || '|' || match`. Unlike [[scrubPii]]'s blind
   * placeholders, equal identifiers map to equal tags ACROSS documents —
   * linkage (who-talks-to-whom, address frequency) survives scrubbing.
   *
   * SECURITY CONTRACT — this is deterministic NON-CRYPTOGRAPHIC linkage
   * pseudonymization, not a MAC. FNV-1a-64's steps (xor a byte, multiply
   * by an odd prime mod 2^64) are each invertible, so one known
   * (value, tag) pair recovers the post-key hash state and lets an
   * attacker compute the keyed tag of ANY candidate value — a dictionary
   * attack over phones/emails enumerates the corpus; 64-bit tags also
   * birthday-collide around 2^32 distinct identifiers. Use it where the
   * tag audience is trusted (internal linkage analytics, the t36/t37
   * oracle family, [[forgetValue]] lookups); for adversarial release use
   * [[pseudonymizePiiMac]], whose nested-SHA-256 tags resist both.
   *
   * Default classes = the linkable identifiers (emails/phones — t36's
   * oracle contract); pass [[piiClasses]] to pseudonymize the full set
   * (telemetry pipelines keying on visitor IPs). Tags are digits-only
   * between ':' and '>', ZERO-PADDED to 20 digits: an unpadded 64-bit
   * decimal can be 13-19 digits long — exactly the CARD pattern's
   * contiguous-PAN range, and ':' is a lead char cards accept
   * ("card: 4111...") — so an unpadded tag body could Luhn-fluke into
   * a card candidate when CARD folds after EMAIL/PHONE. At 20 digits
   * the run overruns every card alternative (interior starts are
   * digit-lead-blocked), and no other class can match a bare digit run,
   * so a replacement can never create a new match.
   */
  def pseudonymizePii(text: Column, key: String,
                      classes: Seq[PiiClass] = piiClasses.take(2)): Column =
    pseudonymizeWith(text, classes, (label, m) =>
      concat(lit(s"<$label:"),
        lpad(conv(hex(Hashing.fnvChecksum(
          concat(lit(key + "|"), m).cast("binary"))), 16, 10), 20, "0"),
        lit(">")))

  /**
   * MAC-grade pseudonymization for adversarial release: tags are
   * `<LABEL#h>` where h is the first 32 hex chars (128 bits) of the
   * nested digest `sha256(key || '|' || sha256(key || '|' || value))`.
   * The sandwich construction (an NMAC-style envelope over hex-string
   * composition) blocks the two failure modes the FNV tags document:
   * no hash-state recovery from a known (value, tag) pair (SHA-256 is
   * one-way) and no length-extension forgery (the outer keyed pass seals
   * the inner digest); 128-bit tags push birthday collisions past 2^64
   * identifiers. Same linkage semantics and fold skeleton as
   * [[pseudonymizePii]]; both engines compose the digests over lowercase
   * hex strings, so the DuckDB oracle regenerates tags byte-for-byte
   * (t38). Tag bodies are lowercase hex between '#' and '>' — no '@',
   * separator, or colon — so a replacement can never create a new match;
   * vs CARD specifically: a 13-19 digit sub-run inside the 32-hex body
   * is interior (alnum-lead-blocked) or followed by a hex letter
   * (alnum-tail-blocked), and an all-digit body would be a 32-digit run
   * that overruns every card alternative — hex bodies are inert without
   * padding.
   */
  def pseudonymizePiiMac(text: Column, key: String,
                         classes: Seq[PiiClass] = piiClasses.take(2)): Column =
    pseudonymizeWith(text, classes, (label, m) =>
      concat(lit(s"<$label#"),
        substring(sha2(concat(lit(key + "|"),
          sha2(concat(lit(key + "|"), m), 256)), 256), 1, 32),
        lit(">")))

  /** Driver-side twin of the [[pseudonymizePii]] tag for ONE identifier
    * value — the right-to-be-forgotten entry point: the tag of a deletion
    * request's value is a constant, so locating every linked document is
    * a map-only `contains` over the pseudonymized corpus (predicate on
    * the scan, no join, no shuffle) and the re-scrub is a literal
    * replace. Matches FnvChecksum/`fnvSql` bit-for-bit. */
  def pseudoTag(label: String, key: String, value: String): String = {
    val n = java.lang.Long.toUnsignedString(
      Fnv.hashBytes((key + "|" + value).getBytes("UTF-8")))
    s"<$label:${"0" * (20 - n.length) + n}>"
  }

  /** RTBF predicate: does this pseudonymized text link to `value`? */
  def linksTo(pseudo: Column, label: String, key: String, value: String): Column =
    pseudo.contains(pseudoTag(label, key, value))

  /** RTBF re-scrub: erase one identifier's linkage tag (GDPR deletion
    * over a pseudonymized corpus — the tag, and only the tag, becomes an
    * unlinkable placeholder; every other identifier's linkage survives). */
  def forgetValue(pseudo: Column, label: String, key: String, value: String,
                  replacement: String = "<FORGOTTEN>"): Column =
    call_function("replace", pseudo,
      lit(pseudoTag(label, key, value)), lit(replacement))

  /** Batch RTBF over either tag family: erase EVERY occurrence of any
    * tag in `tags` in one scan — the multi-request form of
    * [[forgetValue]]/[[forgetValueMac]] (a production GDPR run batches
    * thousands of deletion requests; one literal-replace pass per
    * request would scan the corpus N times). Cost is O(len) per row
    * independent of ledger size; [[ForgetTags]] documents the
    * completeness argument and the fold-equivalence law
    * (RtbfSpec pins batch == sequential fold of single forgets). */
  def forgetTags(pseudo: Column, tags: Seq[String],
                 replacement: String = "<FORGOTTEN>"): Column = {
    import org.apache.spark.sql.GraftBridge.{column, expression}
    column(ForgetTags(expression(pseudo), tags, replacement))
  }

  /** The linked-document predicate for a batch ledger: one boolean scan
    * ([[LinksAnyTag]]) — law-pinned equal to
    * `forgetTags(pseudo, tags) =!= pseudo`, but evaluable in a pushed
    * filter without running the rewrite (twice) inside the compare. */
  def linksAnyTag(pseudo: Column, tags: Seq[String]): Column = {
    import org.apache.spark.sql.GraftBridge.{column, expression}
    column(LinksAnyTag(expression(pseudo), tags))
  }

  private def sha256Hex(s: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  /** Driver-side twin of the [[pseudonymizePiiMac]] tag for ONE
    * identifier value — the right-to-be-forgotten entry point for the
    * release-grade MAC corpus, same shape as [[pseudoTag]] for the FNV
    * family: the deletion request's tag is a constant, so locating every
    * linked document stays a map-only `contains` predicate (no join, no
    * shuffle) and the re-scrub a literal replace. Composes the nested
    * digest over lowercase-hex strings exactly as Spark's `sha2` does,
    * so it matches the engine-side tag byte-for-byte. Note the one-way
    * asymmetry MAC tags buy: the TAG is still derivable from the value
    * by any key holder (that is what makes deletion findable), but a
    * tag alone reveals nothing about non-candidate values. */
  def pseudoTagMac(label: String, key: String, value: String): String =
    s"<$label#${sha256Hex(key + "|" + sha256Hex(key + "|" + value))
      .substring(0, 32)}>"

  /** RTBF predicate over a MAC-pseudonymized corpus. */
  def linksToMac(pseudo: Column, label: String, key: String, value: String): Column =
    pseudo.contains(pseudoTagMac(label, key, value))

  /** RTBF re-scrub over a MAC-pseudonymized corpus — the deletion path
    * for the release-grade variant: the target's 128-bit tag (and only
    * it) becomes an unlinkable placeholder. */
  def forgetValueMac(pseudo: Column, label: String, key: String, value: String,
                     replacement: String = "<FORGOTTEN>"): Column =
    call_function("replace", pseudo,
      lit(pseudoTagMac(label, key, value)), lit(replacement))

  /**
   * Word n-gram shingles (distinct) from a pre-tokenized array column —
   * the unit for Jaccard/MinHash. Documents shorter than n tokens
   * collapse to one whole-text shingle.
   *
   * IMPORTANT for cost: pass a MATERIALIZED token column (projected and
   * cached/shuffled beforehand), not an inline `tokens(text)` expression.
   * Lambda-captured expressions re-evaluate per lambda invocation, so an
   * inline tokenizer would re-run the regex split once per shingle
   * position (~50× per document).
   */
  def shinglesFromTokens(tks: Column, n: Int): Column = {
    import org.apache.spark.sql.GraftBridge.{column, expression}
    column(WordShingles(expression(tks), n))
  }

  /** Shingles straight from text — convenience form; see the cost note on
    * [[shinglesFromTokens]] (prefer the two-step tokenize-then-shingle). */
  def shingles(text: Column, n: Int = 3): Column =
    shinglesFromTokens(tokens(text), n)

  /**
   * Base hash per shingle: one xxhash64 over the shingle string. Computed
   * ONCE per shingle and materialized as its own column (persist/cache the
   * projection!) so the k minhash functions below derive from cheap
   * long-hashes instead of re-hashing the string k times.
   */
  def shingleHashes(shingleCol: Column): Column =
    transform(shingleCol, sh => xxhash64(sh))

  /**
   * MinHash signature from pre-hashed shingles: k independent functions
   * h_j(x) = xxhash64(x, j) over the base long hash; signature[j] = min
   * over shingles. Single-pass custom expression ([[MinHashSignature]]):
   * value-identical to the builtin-HOF formulation but ~10× cheaper (no
   * k×|h0| interpreted closure calls per row).
   */
  def minhashFromHashes(h0: Column, k: Int): Column = {
    import org.apache.spark.sql.GraftBridge.{column, expression}
    column(MinHashSignature(expression(h0), k))
  }

  /**
   * LSH band hashes: split the k-length signature into `bands` bands of
   * k/bands rows, hash each band. Candidate pairs = documents sharing any
   * (band index, band hash) bucket — the scale path for near-dup joins:
   * a shuffle on band hash replaces the O(n²) pair comparison.
   */
  def lshBandHashes(signature: Column, k: Int = 64, bands: Int = 32): Column = {
    val r = k / bands
    transform(sequence(lit(0), lit(bands - 1)),
      b => xxhash64(slice(signature, b * r + 1, lit(r)), b))
  }

  /** Exact Jaccard between two pre-deduplicated shingle arrays. */
  def jaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b)).cast("double")
    val uni = (size(a) + size(b)).cast("double") - size(array_intersect(a, b))
    when(uni === 0, lit(0.0)).otherwise(inter / uni)
  }
}

package graft.oracle

import graft.NorthStar.{FrameChars, piiKey, rtbfRequests}
import graft.functions.{TextFunctions => TF}

/**
 * The SQL-only helpers of the harness oracles: the DuckDB twins of the
 * Spark-side kernels (tokens, shingles, FNV/MinHash/SimHash arithmetic,
 * PII scrubbing, vector math, sketch cascades, the dedup verdict) that
 * the [[graft.catalogue]] records embed in their `oracle` SQL.
 *
 * Oracle-parity rules used throughout (so hash compares are bit-exact):
 *  - double SUMs go through DECIMAL(18,2) casts (exact, order-independent)
 *    and back to double; per-row double arithmetic is identical IEEE754 in
 *    both engines when the operation order matches;
 *  - fold order for array sums is pinned left-to-right in both engines
 *    (Spark `aggregate`, DuckDB `list_reduce`);
 *  - every LIMIT is preceded by a total ORDER BY.
 */
object OracleSql {

  /** SQL twin of [[graft.NorthStar.cleanText]] (DuckDB's nfc_normalize
    * implements the same UAX #15 composition as the JDK Normalizer). */
  private[graft] def cleanTextSql(t: String): String =
    s"""trim(regexp_replace(regexp_replace(nfc_normalize($t),
        '[\\x00-\\x1f\\x7f]', '', 'g'), ' +', ' ', 'g'))"""

  /** DuckDB token expression mirroring TextFunctions.tokens over an
    * arbitrary text expression. */
  private[graft] def sqlToksOf(t: String): String =
    s"CASE WHEN length(trim($t)) = 0 THEN CAST([] AS VARCHAR[]) " +
    s"ELSE string_split_regex(lower(trim($t)), '\\s+') END"

  /** [[sqlToksOf]] over the `text` column (the common case). */
  private[graft] val sqlToks = sqlToksOf("text")

  /** DuckDB twin of [[TF.qualityKeep]] over `text` — the one oracle form
    * of the t06 rule, embedded by the t06, d13 and d26 oracles. */
  private[graft] val t06Sql =
    s"""CAST(len($sqlToks) AS INT) >= 5
            AND CAST(length(text) - length(regexp_replace(text, '[.!?,;:]', '', 'g')) AS DOUBLE)
                / greatest(length(text), 1) <= 0.2
            AND CAST(len(list_filter($sqlToks,
                 x -> list_contains(['the','a','of','and','to','in'], x))) AS DOUBLE)
                / greatest(len($sqlToks), 1) >= 0.01
            AND CAST(len(list_distinct($sqlToks)) AS DOUBLE)
                / greatest(len($sqlToks), 1) >= 0.3"""

  /** A Scala marker string as a DuckDB codepoint expression (chr folds
    * — keeps raw control chars out of the oracle SQL text). */
  private[graft] def chrSql(s: String): String =
    s.map(c => s"chr(${c.toInt})").mkString(" || ")

  /** DuckDB twin of [[graft.NorthStar.mojiInject]]. */
  private[graft] def mojiInjectSql: String =
    s"""text
       || CASE WHEN doc_id % 4 = 1 THEN ' caf' || ${chrSql(TF.doubleEncodeMarks(0))} ELSE '' END
       || CASE WHEN doc_id % 6 = 1 THEN ' bad ' || ${chrSql(TF.replacementMark)} ELSE '' END
       || CASE WHEN doc_id % 9 = 1 THEN ' ctl ' || ${chrSql(TF.c1Marks(0))}
               WHEN doc_id % 9 = 4 THEN ' ctl ' || ${chrSql(TF.c1Marks(1))}
               ELSE '' END
       || CASE WHEN doc_id % 11 = 3 THEN ' quo ' || ${chrSql(TF.doubleEncodeMarks(1))} ELSE '' END"""

  /** DuckDB twin of TF.literalCount: occurrences of marker `m` in expr
    * `t` by length difference over the marker's codepoint length. */
  private[graft] def mojiCountSql(t: String, m: String): String =
    s"""CAST((length($t) - length(replace($t, ${chrSql(m)}, '')))
            // ${m.length} AS BIGINT)"""

  /** (tag-constant defs, folded replace over them, linked predicate)
    * fragments of the t41/t42 oracles, derived from
    * [[graft.NorthStar.rtbfRequests]] so the ledger literals are
    * single-sourced. `tagOf` is
    * [[fnvTagSql]]/[[macTagSql]]. */
  private[graft] def rtbfBatchSql(tagOf: String => String => String): String = {
    val defs = rtbfRequests.zipWithIndex.map { case ((l, v), i) =>
      s"${tagOf(l)(s"'$v'")} AS tg${i + 1}" }.mkString(", ")
    val folded = rtbfRequests.indices.foldLeft("pseudo")((acc, i) =>
      s"replace($acc, tg${i + 1}, '<FORGOTTEN>')")
    val linked = rtbfRequests.indices
      .map(i => s"contains(pseudo, tg${i + 1})").mkString(" OR ")
    s"""tg AS (SELECT $defs)
        SELECT doc_id, $folded AS pseudo
        FROM q, tg WHERE $linked"""
  }

  /** The t43 cascade-audit oracle tail (expects `q(doc_id, pseudo)` in
    * scope): the release fold over every ledger tag with a `linked`
    * flag, `fp` recomputed by the md5-of-tokens twin over the REWRITTEN
    * pseudo, and the embeddings artifact's per-doc remaining count
    * after linked docs' rows are purged. */
  private[graft] def rtbfCascadeSql(tagOf: String => String => String): String = {
    val defs = rtbfRequests.zipWithIndex.map { case ((l, v), i) =>
      s"${tagOf(l)(s"'$v'")} AS tg${i + 1}" }.mkString(", ")
    val folded = rtbfRequests.indices.foldLeft("pseudo")((acc, i) =>
      s"replace($acc, tg${i + 1}, '<FORGOTTEN>')")
    val linked = rtbfRequests.indices
      .map(i => s"contains(pseudo, tg${i + 1})").mkString(" OR ")
    s"""tg AS (SELECT $defs),
        rel AS (SELECT doc_id, $folded AS pseudo, ($linked) AS linked
                FROM q, tg),
        aud AS (SELECT doc_id, pseudo,
                  md5(array_to_string(${sqlToksOf("pseudo")}, ' ')) AS fp,
                  linked
                FROM rel),
        keepv AS (SELECT vec_id, count(*) AS c FROM embeddings
                  WHERE vec_id NOT IN (SELECT doc_id FROM rel WHERE linked)
                  GROUP BY vec_id)
        SELECT a.doc_id, a.pseudo, a.fp, a.linked,
               coalesce(k.c, 0) AS n_vec
        FROM aud a LEFT JOIN keepv k ON a.doc_id = k.vec_id"""
  }

  /** DuckDB twin of [[graft.NorthStar.linkInjected]]. */
  private[graft] val linkInjectSql: String =
    """text || ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com'
      || CASE WHEN doc_id % 10 = 0 THEN ' cc audit@example.net' ELSE '' END
      || CASE WHEN doc_id % 3 = 0
              THEN ' or +1-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
              ELSE '' END"""

  /** DuckDB twin of [[graft.NorthStar.piiInject]] (expects `documents`' doc_id/text in
    * scope). */
  private[graft] val piiInjectSql: String =
    """text || ' reach user' || CAST(doc_id AS VARCHAR) || '@example.com'
      || CASE WHEN doc_id % 2 = 0
              THEN ' or ops-' || CAST(doc_id AS VARCHAR) || '@example.org'
              ELSE '' END
      || CASE WHEN doc_id % 3 = 0
              THEN ' call +1-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
              ELSE '' END
      || CASE WHEN doc_id % 13 = 0 THEN ' pay 4111-1111-1111-1111'
              WHEN doc_id % 13 = 1 THEN ' pay 4111-1111-1111-1112'
              ELSE '' END
      || CASE WHEN doc_id % 17 = 0 THEN ' amex 378282246310005' ELSE '' END
      || CASE WHEN doc_id % 19 = 0
              THEN ' fwd +9 704 2314 4111 1111 1111 1111' ELSE '' END
      || CASE WHEN doc_id % 23 = 0
              THEN ' col 1111 4111 1111 1111 1111' ELSE '' END
      || CASE WHEN doc_id % 29 = 0 THEN ' iban GB82WEST12345698765432'
              WHEN doc_id % 29 = 1 THEN ' iban GB82WEST12345698765431'
              ELSE '' END
      || CASE WHEN doc_id % 31 = 0
              THEN ' acct FR1420041010050500013M02606' ELSE '' END
      || CASE WHEN doc_id % 37 = 0 THEN ' pay GB82 WEST 1234 5698 7654 32'
              WHEN doc_id % 37 = 1 THEN ' pay GB82 WEST 1234 5698 7654 31'
              ELSE '' END
      || CASE WHEN doc_id % 5 = 0
              THEN ' from 10.' || CAST(doc_id % 256 AS VARCHAR)
                   || '.' || CAST((doc_id // 7) % 256 AS VARCHAR)
                   || '.' || CAST(doc_id % 250 AS VARCHAR)
              ELSE '' END
      || CASE WHEN doc_id % 7 = 0
              THEN ' ssn ' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0')
                   || '-' || lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0')
                   || '-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
              ELSE '' END
      || CASE WHEN doc_id % 11 = 0
              THEN ' via 2001:db8::' || lower(to_hex(doc_id % 65536))
              ELSE '' END"""

  /** RE2 replacement string for one class: literal tag for group-0
    * classes (EMAIL); `\1<TAG>\3` for guarded classes so the consumed
    * lead/tail context chars are re-emitted (the Java-regex twin is
    * `$1<TAG>$3` inside TF.scrubPii). */
  private[graft] def duckRepl(c: TF.PiiClass): String =
    if (c.group == 0) c.tag else s"\\1${c.tag}\\3"

  /** DuckDB twin of TF.luhnValid over expr `m` (its own binding, usually
    * a lambda variable): separators stripped, every second digit from
    * the right doubled (−9 when > 9), sum ≡ 0 mod 10 — exact integer
    * arithmetic, digit-for-digit the Spark fold. */
  private[graft] def luhnCondSql(m: String): String = {
    val dg = s"regexp_replace($m, '[^0-9]', '', 'g')"
    s"""(list_sum(list_transform(range(1, length($dg) + 1),
          i -> CASE WHEN (length($dg) - i) % 2 = 1
                    THEN CASE WHEN CAST($dg[i] AS INT) * 2 > 9
                              THEN CAST($dg[i] AS INT) * 2 - 9
                              ELSE CAST($dg[i] AS INT) * 2 END
                    ELSE CAST($dg[i] AS INT) END)) % 10 = 0)"""
  }

  /**
   * DuckDB twin of CardRuns.selectedValues over expr `t` — the CARD
   * run-enumeration (see the CardRuns semantics doc): the selected
   * Luhn-verified card values, in text order, as a VARCHAR list.
   *
   * Construction notes (each step replays a kernel decision exactly):
   *  - `.digit` is first rewritten to `adigit`: '.' is invalid in every
   *    card lead anyway ('a' stays invalid), and afterwards a run's
   *    1-char tail of '.' can ONLY mean "dot before a non-digit" —
   *    tailNum's admissible \\.[^0-9] / \\.$ arms — so single-char tail
   *    capture suffices.
   *  - maximal runs are extracted THREE aligned ways (RE2 has no
   *    positions): (lead, run) with the lead consumed — consuming a
   *    lead can never block the next run, because runs are separated by
   *    at least the one non-digit char the next lead needs and tails
   *    are not consumed here — and (run, tail) with the tail consumed —
   *    likewise safe, because the pattern needs no lead char. Both
   *    enumerate the same maximal runs in order, so the lists zip.
   *  - per run, groups/seps come from plain splits, candidates are the
   *    group-aligned shapes, and the greedy cursor is a list_reduce
   *    whose VARCHAR accumulator is 'cursor|v1;v2;…' (card values
   *    contain only digits, dashes and spaces, so '|' and ';' are
   *    inert delimiters).
   */
  private[graft] def cardValuesSql(t: String): String = {
    val ct = s"regexp_replace($t, '\\.([0-9])', 'a\\1', 'g')"
    val runPat = "[0-9]+(?:[- ][0-9]+)*"
    val runs = s"regexp_extract_all($ct, '(^|[^0-9])($runPat)', 2)"
    val leads = s"regexp_extract_all($ct, '(^|[^0-9])($runPat)', 1)"
    val tails = s"regexp_extract_all($ct, '($runPat)([^0-9]|$$)', 2)"
    val r = s"$runs[ri]"; val ld = s"$leads[ri]"; val tl = s"$tails[ri]"
    val g = s"string_split_regex($r, '[- ]')"
    val sp = s"regexp_extract_all($r, '[- ]')"
    val m = s"len($g)"
    val i = "CAST(x AS INT)"
    def gl(ix: String) = s"length($g[$ix])"
    def leadOk(ix: String) =
      s"""(CASE WHEN $ix = 1
            THEN ($ld = '' OR NOT regexp_matches($ld, '[0-9A-Za-z.+-]'))
            ELSE $sp[$ix - 1] = ' ' END)"""
    def tailOk(jx: String) =
      s"""(CASE WHEN $jx = $m
            THEN ($tl = '' OR $tl = '.' OR NOT regexp_matches($tl, '[0-9A-Za-z-]'))
            ELSE $sp[$jx] = ' ' END)"""
    val valA = s"($g[$i] || $sp[$i] || $g[$i + 1] || $sp[$i + 1] || " +
      s"$g[$i + 2] || $sp[$i + 2] || $g[$i + 3])"
    val valB = s"($g[$i] || $sp[$i] || $g[$i + 1] || $sp[$i + 1] || $g[$i + 2])"
    val valC = s"$g[$i]"
    val shapeA = s"""($i + 3 <= $m AND ${gl(i)} = 4 AND ${gl(s"$i + 1")} = 4
        AND ${gl(s"$i + 2")} = 4 AND ${gl(s"$i + 3")} BETWEEN 1 AND 7
        AND ${leadOk(i)} AND ${tailOk(s"$i + 3")} AND ${luhnCondSql(valA)})"""
    val shapeB = s"""($i + 2 <= $m AND ${gl(i)} = 4 AND ${gl(s"$i + 1")} = 6
        AND ${gl(s"$i + 2")} = 5
        AND ${leadOk(i)} AND ${tailOk(s"$i + 2")} AND ${luhnCondSql(valB)})"""
    val shapeC = s"""(${gl(i)} BETWEEN 13 AND 19
        AND ${leadOk(i)} AND ${tailOk(i)} AND ${luhnCondSql(valC)})"""
    def take(endOff: Int, v: String) =
      s"""CAST($i + ${endOff + 1} AS VARCHAR) || '|' ||
          (CASE WHEN str_split(acc, '|')[2] = '' THEN $v
                ELSE str_split(acc, '|')[2] || ';' || $v END)"""
    val reduce =
      s"""list_reduce(
            list_prepend('1|', list_transform(range(1, $m + 1),
              ii -> CAST(ii AS VARCHAR))),
            (acc, x) -> CASE
              WHEN $i < CAST(str_split(acc, '|')[1] AS INT) THEN acc
              WHEN $shapeA THEN ${take(3, valA)}
              WHEN $shapeB THEN ${take(2, valB)}
              WHEN $shapeC THEN ${take(0, valC)}
              ELSE acc END)"""
    s"""flatten(list_transform(range(1, len($runs) + 1), ri ->
          list_filter(str_split(str_split($reduce, '|')[2], ';'),
            v -> v <> '')))"""
  }

  /** DuckDB twin of TF.mod97Valid over expr `m` (usually a lambda
    * variable): ISO 13616 — first four chars moved to the end, digits
    * as themselves, A–Z as 10–35, incremental remainder ≡ 1. The
    * prepended 0 is the fold's initial accumulator (list_reduce has no
    * init parameter — the cardValuesSql trick). */
  private[graft] def mod97CondSql(m: String): String = {
    val r = s"(substr($m, 5) || substr($m, 1, 4))"
    // lambda binders a97/cx, NOT acc/x: this condition is embedded
    // inside ibanValuesSql's greedy-cursor lambda whose binders are
    // (acc, x), and the embedded window expression references the OUTER
    // x — reusing the names would capture the inner chars index instead
    s"""(list_reduce(list_prepend(0, range(1, length($m) + 1)),
          (a97, cx) -> CASE WHEN $r[cx] BETWEEN '0' AND '9'
                            THEN (a97 * 10 + CAST($r[cx] AS INT)) % 97
                            ELSE (a97 * 100 + ascii($r[cx]) - 55) % 97 END)
        = 1)"""
  }

  /**
   * DuckDB twin of IbanScan.findValues over expr `t` — the IBAN
   * run-enumeration (see the IbanScan semantics doc), covering BOTH the
   * contiguous electronic format and the spaced 4-group paper format:
   * maximal `[A-Z0-9]+( [A-Z0-9]+)*` runs extracted three aligned ways
   * (the cardValuesSql construction — (lead, run) with the lead
   * consumed, (run, tail) with the tail consumed; both enumerate the
   * same maximal runs in order, so the lists zip), group-aligned
   * candidate windows (one 15–34-char group, or ≥4 groups with 4-char
   * head/interiors and a 1–4-char terminal, total 15–34, head shaped
   * `[A-Z]{2}[0-9]{2}`), run-edge context guards from the captured
   * lead/tail chars, the mod-97 filter over the de-spaced window, and
   * the greedy LEFTMOST-LONGEST cursor as a list_reduce whose VARCHAR
   * accumulator is 'cursor|v1;v2;…' (IBAN values contain only
   * uppercase, digits and spaces, so '|' and ';' are inert).
   */
  private[graft] def ibanValuesSql(t: String): String = {
    val runPat = "[A-Z0-9]+(?: [A-Z0-9]+)*"
    val runs = s"regexp_extract_all($t, '(^|[^A-Z0-9])($runPat)', 2)"
    val leads = s"regexp_extract_all($t, '(^|[^A-Z0-9])($runPat)', 1)"
    val tails = s"regexp_extract_all($t, '($runPat)([^A-Z0-9]|$$)', 2)"
    val r = s"$runs[ri]"; val ld = s"$leads[ri]"; val tl = s"$tails[ri]"
    val g = s"str_split($r, ' ')"
    val m = s"len($g)"
    val i = "CAST(x AS INT)"
    def gl(ix: String) = s"length($g[$ix])"
    // run-edge guards: the captured lead/tail char must not be any
    // alphanumeric (window-interior boundaries are the run's own
    // single spaces, true by construction)
    def startOk(ix: String) =
      s"""(CASE WHEN $ix = 1
            THEN ($ld = '' OR NOT regexp_matches($ld, '[0-9A-Za-z]'))
            ELSE true END)"""
    def endOk(jx: String) =
      s"""(CASE WHEN $jx = $m
            THEN ($tl = '' OR NOT regexp_matches($tl, '[0-9A-Za-z]'))
            ELSE true END)"""
    def lldd(ix: String) =
      s"regexp_full_match(substr($g[$ix], 1, 4), '[A-Z]{2}[0-9]{2}')"
    def winVal(jx: String) = s"array_to_string(list_slice($g, $i, $jx), ' ')"
    // paper-format window ending at group i+off (off = 3..8), longest
    // tried first by CASE order below
    def paperShape(off: Int) = {
      val jx = s"$i + $off"
      s"""($jx <= $m AND ${gl(i)} = 4 AND ${lldd(i)} AND ${startOk(i)}
          AND len(list_filter(list_slice($g, $i + 1, $jx - 1),
                q -> length(q) != 4)) = 0
          AND ${gl(jx)} BETWEEN 1 AND 4
          AND (4 * $off + ${gl(jx)}) BETWEEN 15 AND 34
          AND ${endOk(jx)}
          AND ${mod97CondSql(s"replace(${winVal(jx)}, ' ', '')")})"""
    }
    val singleShape =
      s"""(${gl(i)} BETWEEN 15 AND 34 AND ${lldd(i)}
          AND ${startOk(i)} AND ${endOk(i)}
          AND ${mod97CondSql(s"$g[$i]")})"""
    def take(endOff: Int) =
      s"""CAST($i + ${endOff + 1} AS VARCHAR) || '|' ||
          (CASE WHEN str_split(acc, '|')[2] = ''
                THEN ${winVal(s"$i + $endOff")}
                ELSE str_split(acc, '|')[2] || ';' ||
                     ${winVal(s"$i + $endOff")} END)"""
    val branches = (8 to 3 by -1).map(off =>
      s"WHEN ${paperShape(off)} THEN ${take(off)}").mkString("\n              ")
    val reduce =
      s"""list_reduce(
            list_prepend('1|', list_transform(range(1, $m + 1),
              ii -> CAST(ii AS VARCHAR))),
            (acc, x) -> CASE
              WHEN $i < CAST(str_split(acc, '|')[1] AS INT) THEN acc
              $branches
              WHEN $singleShape THEN ${take(0)}
              ELSE acc END)"""
    s"""flatten(list_transform(range(1, len($runs) + 1), ri ->
          list_filter(str_split(str_split($reduce, '|')[2], ';'),
            v -> v <> '')))"""
  }

  /** The class's candidate values over expr `t`: pass-1 guarded matches
    * plus the alternate-blocked survivors from the once-replaced text
    * (TF.classMatches' twin); the checksum-gated CARD class runs the
    * [[cardValuesSql]] run enumeration instead (TF.validMatches), and
    * the mod-97-gated IBAN class filters its two-pass candidates by the
    * checksum ([[ibanValuesSql]]). */
  private[graft] def validMatchesSql(t: String, c: TF.PiiClass): String =
    if (c.luhn) cardValuesSql(t)
    else if (c.mod97) ibanValuesSql(t)
    else if (c.group == 0) s"regexp_extract_all($t, '${c.pattern}')"
    else s"""regexp_extract_all($t, '${c.pattern}', ${c.group})
             || regexp_extract_all(
                  regexp_replace($t, '${c.pattern}', '${duckRepl(c)}', 'g'),
                  '${c.pattern}', ${c.group})"""

  /** One full scrub of one class over SQL expr `acc`: guarded regex
    * classes run the two-pass form (pass 2 catches spans whose lead char
    * the previous match's tail guard consumed — see TextFunctions); the
    * checksum-gated class folds literal replace over its verified
    * values (TF.scrubClass's fold arm — pseudoSql with a constant tag). */
  private[graft] def scrubClassSql(acc: String, c: TF.PiiClass): String =
    if (c.luhn || c.mod97) pseudoSql(acc, c, _ => s"'${c.tag}'")
    else {
      val once = s"regexp_replace($acc, '${c.pattern}', '${duckRepl(c)}', 'g')"
      if (c.group == 0) once
      else s"regexp_replace($once, '${c.pattern}', '${duckRepl(c)}', 'g')"
    }

  /** DuckDB twin of TF.scrubPii over expr `t`: the full redact chain in
    * piiClasses order (patterns are RE2-safe and quote-free, embedded
    * verbatim). */
  private[graft] def scrubSql(t: String): String =
    TF.piiClasses.foldLeft(t)(scrubClassSql)

  /** DuckDB twin of TF.piiCount over expr `t`: guarded classes add the
    * second-pass extraction over the once-replaced text; the
    * checksum-gated class counts only verified candidates. */
  private[graft] def countSql(t: String, c: TF.PiiClass): String =
    if (c.group == 0)
      s"CAST(len(regexp_extract_all($t, '${c.pattern}')) AS BIGINT)"
    else if (c.luhn || c.mod97)
      s"CAST(len(${validMatchesSql(t, c)}) AS BIGINT)"
    else {
      val once = s"regexp_replace($t, '${c.pattern}', '${duckRepl(c)}', 'g')"
      s"""CAST(len(regexp_extract_all($t, '${c.pattern}', ${c.group}))
             + len(regexp_extract_all($once, '${c.pattern}', ${c.group})) AS BIGINT)"""
    }

  /** The keyed FNV tag of match expr `m` for `label` — the t36/t37
    * linkage tag the oracle re-derives from scratch. Matches are ASCII
    * by pattern construction, so fnvSql's per-char ord IS the byte
    * fold. Zero-padded to 20 digits in lockstep with
    * TF.pseudonymizePii (the CARD no-new-match invariant). */
  private[graft] def fnvTagSql(label: String)(m: String): String =
    s"'<$label:' || lpad(CAST(${fnvSql(s"'$piiKey|' || $m")} AS VARCHAR), 20, '0') || '>'"

  /** The MAC tag of match expr `m`: first 32 hex chars of the nested
    * digest sha256(key|sha256(key|m)) — TF.pseudonymizePiiMac's twin
    * (both engines compose over lowercase hex strings). */
  private[graft] def macTagSql(label: String)(m: String): String =
    s"""'<$label#' || substr(sha256('$piiKey|' ||
          sha256('$piiKey|' || $m)), 1, 32) || '>'"""

  /** DuckDB twin of one TF.pseudonymizeWith substitution pass over expr
    * `t`: the class's identifier values (pass-1 guarded matches plus the
    * alternate-blocked survivors from the once-replaced text), distinct,
    * length-DESCENDING with value-ASCENDING ties — the INVERTED
    * zero-padded length prefix (99999999 − length) makes one
    * plain-ascending lexicographic list_sort realize exactly Spark's
    * comparator (TextFunctions.pseudonymizeWith). The prefix is 8 wide
    * so the subtraction cannot go negative below 100M-char identifiers
    * (a 4-wide prefix silently broke the order at 10000+ chars — the
    * email pattern has no length cap, and a negative prefix like '00-1'
    * sorts before every positive). The tiebreak must match: two
    * distinct equal-length values CAN overlap at a shifted occurrence
    * (suffix of one = prefix of the other), and the fold's literal
    * replace is position-blind, so replace order changes the folded
    * text. Folded through literal replace with `tagSql(m)`. */
  private[graft] def pseudoSql(t: String, c: TF.PiiClass,
                        tagSql: String => String): String = {
    val matches = validMatchesSql(t, c)
    s"""list_reduce(list_prepend($t,
          list_transform(
            list_sort(list_transform(
              list_distinct($matches),
              m -> lpad(CAST(99999999 - length(m) AS VARCHAR), 8, '0') || m)),
            k -> k[9:])),
        (acc, m) -> replace(acc, m, ${tagSql("m")}))"""
  }

  /** DuckDB 3-gram shingle list mirroring TextFunctions.shingles. */
  private[graft] val sqlShingles =
    s"""CASE WHEN len($sqlToks) < 3 THEN [array_to_string($sqlToks, ' ')]
        ELSE list_distinct(list_transform(range(1, len($sqlToks) - 1),
             i -> $sqlToks[i] || ' ' || $sqlToks[i+1] || ' ' || $sqlToks[i+2])) END"""

  private[graft] def jaccardOracle(threshold: Double): String =
    s"""WITH sh AS (
          SELECT doc_id, unnest($sqlShingles) AS s FROM documents
        ), sizes AS (
          SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id
        ), pair AS (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
          GROUP BY 1, 2
        )
        SELECT doc_a, doc_b,
               CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) AS jaccard
        FROM pair
        JOIN sizes sa ON doc_a = sa.doc_id
        JOIN sizes sb ON doc_b = sb.doc_id
        WHERE CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) >= $threshold"""

  // ---- DuckDB unsigned-64 arithmetic helpers (oracles for the custom
  // hash expressions): Java long wraparound == mod-2^64 residues, done in
  // HUGEINT and converted back to signed BIGINT at the end. Validated
  // bit-exact against Fnv/RollingHash/SimHash64 on the harness corpus.
  private[graft] val U64 = "CAST(18446744073709551616 AS HUGEINT)" // 2^64
  private[graft] val I63 = "CAST(9223372036854775808 AS HUGEINT)"  // 2^63

  private[graft] def signedSql(e: String): String =
    s"CAST(CASE WHEN ($e) >= $I63 THEN ($e) - $U64 ELSE ($e) END AS BIGINT)"

  /** Per-frame aHash replay (fr → … → ph → lg WITH-clauses over
    * `documents`; lg carries each frame's `phash` and the previous
    * frame's as `prev`) — shared by the m06 and m10 oracles so the two
    * replays of the frame-hash pipeline cannot drift. */
  private[graft] def frameHashSql: String =
    s"""fr AS (SELECT doc_id,
              CAST(8 + doc_id % 9 AS INT) AS w,
              CAST(8 + doc_id % 7 AS INT) AS h,
              unnest(range(0, CAST(floor(length(text) / $FrameChars) AS BIGINT))) AS frame_idx,
              text
            FROM documents WHERE length(text) >= ${2 * FrameChars}),
          d AS (SELECT doc_id, w, h, frame_idx,
              list_transform(
                string_split(substring(text, CAST(frame_idx * $FrameChars + 1 AS INT), $FrameChars), ''),
                c -> CAST(ord(c) AS BIGINT)) AS tb
            FROM fr),
          p AS (SELECT doc_id, w, h, frame_idx,
              list_transform(range(0, w * h * 3),
                i -> coalesce(tb[(i % greatest(len(tb), 1)) + 1], 0)) AS px
            FROM d),
          l AS (SELECT doc_id, w, h, frame_idx,
              list_transform(range(0, w * h), k ->
                (px[3 * k + 1] + px[3 * k + 2] + px[3 * k + 3]) // 3) AS lum
            FROM p),
          sm AS (SELECT doc_id, frame_idx,
              list_transform(range(0, 64), k ->
                lum[((k // 8) * h // 8) * w + ((k % 8) * w // 8) + 1]) AS smp
            FROM l),
          ag AS (SELECT doc_id, frame_idx, smp, list_sum(smp) AS s FROM sm),
          ph AS (SELECT doc_id, frame_idx,
              list_reduce(list_prepend(CAST(0 AS BIGINT),
                list_transform(range(0, 64), k ->
                  CASE WHEN smp[k + 1] * 64 >= s THEN
                    CASE WHEN k = 63 THEN CAST(-9223372036854775808 AS BIGINT)
                         ELSE CAST(power(2, k) AS BIGINT) END
                  ELSE CAST(0 AS BIGINT) END)),
                (a, x) -> a + x) AS phash
            FROM ag),
          lg AS (SELECT doc_id, frame_idx, phash,
              lag(phash) OVER (PARTITION BY doc_id ORDER BY frame_idx) AS prev
            FROM ph)"""

  /** The WavEncode sample-generation replay (d → sm → sg WITH-clauses
    * over `documents`; sg carries unsigned `us` and signed `ss` sample
    * lists) — shared by the m04 and m08 oracles so the two replays of
    * the encoder cannot drift. */
  private[graft] def wavSamplesSql: String =
    """d AS (SELECT doc_id,
              CAST(64 + doc_id % 193 AS BIGINT) AS n,
              CAST(8000 + (doc_id % 3) * 4000 AS BIGINT) AS rate,
              list_transform(string_split(text, ''), c -> CAST(ord(c) AS BIGINT)) AS tb
            FROM documents),
          sm AS (SELECT doc_id, n, rate,
              list_transform(range(0, n), i ->
                (coalesce(tb[(i % greatest(len(tb), 1)) + 1], 0) * 129 + (i % 251)) % 65536) AS us
            FROM d),
          sg AS (SELECT doc_id, n, rate, us,
              list_transform(us, u -> CASE WHEN u >= 32768 THEN u - 65536 ELSE u END) AS ss
            FROM sm)"""

  /** FNV-1a-64 over the bytes of string expr `s` (corpus is ASCII, so
    * per-char ord == byte), as HUGEINT in [0, 2^64). */
  private[graft] def fnvSql(s: String): String =
    s"""list_reduce(list_prepend(CAST(14695981039346656037 AS HUGEINT),
        list_transform(string_split($s, ''), c -> CAST(ord(c) AS HUGEINT))),
        (h, b) -> (xor(h, b) * CAST(1099511628211 AS HUGEINT)) % $U64)"""

  /** DuckDB distinct word-n-gram shingles over a token-list expr `tks`,
    * mirroring WordShingles/ShingleHashSet semantics (short docs collapse
    * to one whole-text shingle) — the n-parameterized form of
    * [[sqlShingles]]. */
  private[graft] def sqlShinglesN(tks: String, n: Int): String = {
    val cat = (0 until n)
      .map(k => if (k == 0) s"$tks[i]" else s"$tks[i+$k]")
      .mkString(" || ' ' || ")
    s"""CASE WHEN len($tks) < $n THEN [array_to_string($tks, ' ')]
        ELSE list_distinct(list_transform(range(1, len($tks) - ${n - 2}),
             i -> $cat)) END"""
  }

  /** (a·b) mod 2^64 for HUGEINT expr `a` in [0, 2^64) and constant `b`:
    * the direct product can overflow HUGEINT (2^127−1), so split b into
    * 32-bit halves — a·bl and a·bh stay under 2^96. */
  private[graft] def mulmodSql(a: String, b: BigInt): String = {
    val bh = b >> 32
    val bl = b & BigInt(0xFFFFFFFFL)
    s"""((($a) * CAST($bl AS HUGEINT)) % $U64 +
        ((($a) * CAST($bh AS HUGEINT)) % CAST(4294967296 AS HUGEINT))
          * CAST(4294967296 AS HUGEINT)) % $U64"""
  }

  // the MinHashMix constants as unsigned residues
  private[graft] val GoldenU = BigInt(java.lang.Long.toUnsignedString(graft.functions.MinHashMix.Golden))
  private[graft] val M1U = BigInt(java.lang.Long.toUnsignedString(graft.functions.MinHashMix.M1))
  private[graft] val M2U = BigInt(java.lang.Long.toUnsignedString(graft.functions.MinHashMix.M2))

  /** SQL twin of [[graft.functions.MinHashMix.mix]] over a HUGEINT
    * residue expr `h` and component-index expr `j`: Java's `*`/`^`/`>>>`
    * become mod-2^64 multiply / xor / integer division by a power of
    * two. Validated bit-exact against the expression on the harness
    * corpus (the g01 oracle hash-matches). */
  private[graft] def mixSql(h: String, j: String): String = {
    val seed = s"((($j) + 1) * CAST($GoldenU AS HUGEINT)) % $U64"
    val z0 = s"xor(($h), $seed)"
    val z1 = mulmodSql(z0, M1U)
    val z2 = s"xor(($z1), ($z1) // CAST(4294967296 AS HUGEINT))"
    val z3 = mulmodSql(z2, M2U)
    s"xor(($z3), ($z3) // CAST(536870912 AS HUGEINT))"
  }

  /** RollingHash over a HUGEINT hash-list column `hs`. */
  private[graft] def rollingSql(hs: String): String =
    s"""list_reduce(list_prepend(CAST(0 AS HUGEINT), $hs),
        (h, x) -> (h * CAST(1099511628211 AS HUGEINT) + x) % $U64)"""

  /** SimHash64 over a HUGEINT hash-list column `hs`: per bit b, the bit is
    * set iff more than half the hashes have bit b set (counts(b) > 0). */
  private[graft] def simhashSql(hs: String): String =
    (0 until 64).map { b =>
      val pow = java.math.BigInteger.ONE.shiftLeft(b).toString
      s"""(CASE WHEN 2*len(list_filter($hs, h -> (h // CAST($pow AS HUGEINT)) % 2 = 1))
          > len($hs) THEN CAST($pow AS HUGEINT) ELSE CAST(0 AS HUGEINT) END)"""
    }.mkString("(", " + ", ")")

  /** Integer value of the first 8 md5 hex chars of `e` — the oracle twin
    * of Spark's `conv(substring(md5(e), 1, 8), 16, 10)` (DuckDB has no
    * base-conversion function; fold hex digits left-to-right). */
  private[graft] def md5HexIntSql(e: String): String =
    s"""list_reduce(list_prepend(CAST(0 AS BIGINT),
        list_transform(string_split(substring(md5($e), 1, 8), ''),
          c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT))),
        (a, x) -> a * 16 + x)"""

  /** The ±1 hyperplane p as a DuckDB list literal — generated from the
    * same Fnv bits as VectorFunctions.planeLiteral. */
  private[graft] def planeSqlLiteral(p: Int, dim: Int): String =
    graft.functions.VectorFunctions.planeArray(p, dim)
      .map(d => if (d > 0) "1.0" else "-1.0").mkString("[", ",", "]")

  /** Left-to-right dot fold from 0.0 (matches DotProduct / aggregate). */
  private[graft] def dotSql(a: String, b: String): String =
    s"list_reduce(list_prepend(0.0, list_transform(list_zip($a, $b), x -> x[1]*x[2])), (p,q) -> p+q)"

  /** Left-to-right squared-L2 fold from 0.0 (matches the Spark
    * zip_with + aggregate pair in e05). */
  private[graft] def l2Sql(a: String, b: String): String =
    s"""list_reduce(list_prepend(0.0, list_transform(list_zip($a, $b),
        x -> (x[1] - x[2]) * (x[1] - x[2]))), (p, q) -> p + q)"""

  /** VectorFunctions.lshBucket(v, dim, planes) as SQL. */
  private[graft] def bucketSql(v: String, dim: Int, planes: Int): String =
    (0 until planes).map { p =>
      s"(CASE WHEN ${dotSql(v, planeSqlLiteral(p, dim))} >= 0 THEN ${1L << p} ELSE 0 END)"
    }.mkString("(", " + ", ")")

  /** IVF centroid c as a DuckDB list literal (same FNV-derived values as
    * VectorFunctions.centroid). Scientific notation on purpose: DuckDB
    * types a plain decimal literal as DECIMAL (an ulp off the source
    * double after conversion); an exponent literal is DOUBLE, and 17
    * significant digits round-trip any double exactly. */
  private[graft] def centroidSqlLiteral(c: Int, dim: Int): String =
    graft.functions.VectorFunctions.centroid(c, dim)
      .map(d => f"$d%.17e").mkString("[", ",", "]")

  /** [dot(v,c_0), ..., dot(v,c_{n-1})] as SQL. */
  private[graft] def centroidDotsSql(v: String, dim: Int, nCentroids: Int): String =
    (0 until nCentroids).map(c => dotSql(v, centroidSqlLiteral(c, dim)))
      .mkString("[", ",", "]")

  /** Shared BM25 scoring WITH-clauses (d, st, sc over `documents`) for
    * the t13 and s09 oracles — one generator so the two replays cannot
    * drift. */
  private[graft] def bm25WithClauses: String =
    s"""d AS (SELECT doc_id, $sqlToks AS tks,
                CAST(len($sqlToks) AS DOUBLE) AS dl
              FROM documents),
     st AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs,
              CAST(CAST(SUM(CAST(dl AS BIGINT)) AS BIGINT) AS DOUBLE)
                / CAST(count(*) AS DOUBLE) AS avgdl,
              CAST(SUM(CASE WHEN list_contains(tks, 'dup') THEN 1 ELSE 0 END) AS DOUBLE) AS df_0,
              CAST(SUM(CASE WHEN list_contains(tks, 'merge') THEN 1 ELSE 0 END) AS DOUBLE) AS df_1,
              CAST(SUM(CASE WHEN list_contains(tks, 'window') THEN 1 ELSE 0 END) AS DOUBLE) AS df_2
            FROM d),
     sc AS (SELECT doc_id,
              (((n_docs - df_0 + 0.5) / (df_0 + 0.5))
                * (CAST(len(list_filter(tks, x -> x = 'dup')) AS DOUBLE) * 2.2)
                / (CAST(len(list_filter(tks, x -> x = 'dup')) AS DOUBLE)
                   + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl)))
            + (((n_docs - df_1 + 0.5) / (df_1 + 0.5))
                * (CAST(len(list_filter(tks, x -> x = 'merge')) AS DOUBLE) * 2.2)
                / (CAST(len(list_filter(tks, x -> x = 'merge')) AS DOUBLE)
                   + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl)))
            + (((n_docs - df_2 + 0.5) / (df_2 + 0.5))
                * (CAST(len(list_filter(tks, x -> x = 'window')) AS DOUBLE) * 2.2)
                / (CAST(len(list_filter(tks, x -> x = 'window')) AS DOUBLE)
                   + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl))) AS score
            FROM d, st)"""

  /** DuckDB double-precision cosine with the pinned left-to-right fold. */
  private[graft] def cosineSql(a: String, b: String): String =
    s"""(list_reduce(list_transform(list_zip($a, $b), x -> x[1] * x[2]), (p, q) -> p + q)
        / (sqrt(list_reduce(list_transform($a, y -> y * y), (p, q) -> p + q))
         * sqrt(list_reduce(list_transform($b, y -> y * y), (p, q) -> p + q))))"""

  /** The IVF top-10 replay parameterized by probe count — the s03 body
    * (nProbe = 4) and every tier of the s18 probes-recall curve quote
    * THIS one template, so the curve cannot drift from its subject. */
  private[graft] def ivfTopkSql(nProbe: Int): String = {
    val n = 16
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
          q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
          qd AS (SELECT unnest(range(1, ${n + 1})) AS cid,
                        unnest(${centroidDotsSql("qv", 64, n)}) AS d FROM q),
          probes AS (SELECT cid FROM qd ORDER BY d DESC, cid LIMIT $nProbe),
          assigned AS (SELECT vec_id, v, list_position(dl, list_max(dl)) AS lst
                       FROM (SELECT vec_id, v, ${centroidDotsSql("v", 64, n)} AS dl FROM e))
        SELECT a.vec_id, ${cosineSql("a.v", "q.qv")} AS score
        FROM assigned a, q
        WHERE a.lst IN (SELECT cid FROM probes)
        ORDER BY score DESC, a.vec_id LIMIT 10"""
  }

  /**
   * The shared s06/s07 sketch-cascade oracle body: the 512 plane sign
   * vectors are REGENERATED in SQL (FNV-1a + the fmix64 finalizer in
   * HUGEINT-mod-2^64 arithmetic — embedding them as literals would be
   * ~170 KB of SQL), packed into 8 signed BIGINT words exactly like
   * BitSignature's longs, pair-ranked by bit_count(xor), top-`cands`
   * per query by (hamming, neighbor), exact-cosine reranked to top-`k`.
   * Every plane dot uses the pinned left-to-right fold, so each sign
   * bit — and therefore the candidate set — matches Spark bit-for-bit.
   * `pairFrom` chooses who probes whom (s06: all-pairs self-join;
   * s07: arrivals × index only; s10: the bucketed candidate table from
   * `extraCtes`) — the ONE clause the three queries differ by, factored
   * here so a signature-scheme change cannot silently diverge the
   * triplets (the FNV parity fix had to touch every copy). `extraCtes`
   * (must end with a comma when non-empty) may define candidate
   * relations over `e`/`sw` for `pairFrom` to reference.
   */
  private[graft] def sketchCascadeSql(pairFrom: String, cands: Int, k: Int = 3,
                               extraCtes: String = ""): String = {
    val nBits = 512
    val fmixC1 = BigInt(java.lang.Long.toUnsignedString(0xff51afd7ed558ccdL))
    val fmixC2 = BigInt(java.lang.Long.toUnsignedString(0xc4ceb9fe1a85ec53L))
    val pow64 = (0 until 64)
      .map(i => s"CAST('${java.math.BigInteger.ONE.shiftLeft(i)}' AS HUGEINT)")
      .mkString("[", ",", "]")
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       pl0 AS (SELECT p, j,
                 ${fnvSql("'plane:' || CAST(p AS VARCHAR) || ':' || CAST(j AS VARCHAR)")} AS h0
               FROM range(0, $nBits) t(p) CROSS JOIN range(0, 64) u(j)),
       pl1 AS (SELECT p, j, xor(h0, h0 // 8589934592) AS h1 FROM pl0),
       pl2 AS (SELECT p, j, ${mulmodSql("h1", fmixC1)} AS h2 FROM pl1),
       pl3 AS (SELECT p, j, xor(h2, h2 // 8589934592) AS h3 FROM pl2),
       pl4 AS (SELECT p, j, ${mulmodSql("h3", fmixC2)} AS h4 FROM pl3),
       pl5 AS (SELECT p, j, CASE WHEN xor(h4, h4 // 8589934592) % 2 = 1
                            THEN CAST(1.0 AS DOUBLE)
                            ELSE CAST(-1.0 AS DOUBLE) END AS w FROM pl4),
       pl AS (SELECT p, list(w ORDER BY j) AS pw FROM pl5 GROUP BY p),
       sbit AS (SELECT e.vec_id, pl.p,
                  CASE WHEN ${dotSql("e.v", "pl.pw")} >= 0 THEN 1 ELSE 0 END AS bit
                FROM e CROSS JOIN pl),
       sword AS (SELECT vec_id, p // 64 AS w,
                   ${signedSql(s"SUM(CASE WHEN bit = 1 THEN $pow64[(p % 64) + 1] ELSE CAST(0 AS HUGEINT) END)")} AS word
                 FROM sbit GROUP BY vec_id, p // 64),
       sw AS (SELECT vec_id, list(word ORDER BY w) AS ws FROM sword GROUP BY vec_id),
       $extraCtes
       hp AS (SELECT a.vec_id AS vec_id, b.vec_id AS neighbor_id,
                     list_reduce(list_prepend(CAST(0 AS BIGINT),
                       list_transform(list_zip(a.ws, b.ws),
                         x -> CAST(bit_count(xor(x[1], x[2])) AS BIGINT))),
                       (p, q) -> p + q) AS ham
              FROM $pairFrom),
       cand AS (SELECT vec_id, neighbor_id,
                       row_number() OVER (PARTITION BY vec_id
                                          ORDER BY ham, neighbor_id) AS rn
                FROM hp),
       ex AS (SELECT c.vec_id, c.neighbor_id,
                     ${cosineSql("ea.v", "eb.v")} AS score
              FROM cand c JOIN e ea ON ea.vec_id = c.vec_id
                          JOIN e eb ON eb.vec_id = c.neighbor_id
              WHERE c.rn <= $cands),
       fin AS (SELECT vec_id, neighbor_id, score,
                      row_number() OVER (PARTITION BY vec_id
                                         ORDER BY score DESC, neighbor_id) AS rn
               FROM ex)
       SELECT vec_id, neighbor_id, score FROM fin WHERE rn <= $k"""
  }

  /** The d13/d26 oracle: the verdict chain replayed end-to-end, every
    * stage's oracle fragment (t06 quality rules, d01/d02 fingerprint min,
    * d03 pair CTEs, d06 recursive components, d07 representative window,
    * t12 5-gram decontamination) chained on each stage's survivor pool.
    * With `lmGate`, t39's verified LM-fluency body sits between the
    * quality and exact-dedup stages (the CCNet ordering): tk/tr/big/sc
    * are t39's oracle fragments, the keep gate the same cross-multiplied
    * integer compare, scored over the quality-survivor pool's non-src0
    * docs; src0 rows bypass. Unlike t39, the gate needs only
    * n_trans/n_hit (the keep decision), so t39's ctx/voc fragments —
    * which feed inv_p_sum alone — are omitted (they were dead joins
    * here: ctx is unique per w1 and voc one row, no fan-out). */
  private[graft] def verdictOracle(lmGate: Boolean): String = {
    val fluency =
      if (!lmGate) "pf AS (SELECT * FROM p1),"
      else
        s"""tk AS (SELECT doc_id, source, $sqlToks AS tks FROM documents),
         tr AS (SELECT doc_id, source,
                  unnest(list_transform(range(1, len(tks)), i -> tks[i])) AS w1,
                  unnest(list_transform(range(1, len(tks)), i -> tks[i+1])) AS w2
                FROM tk WHERE len(tks) >= 2),
         big AS (SELECT w1, w2, count(*) AS c2 FROM tr
                 WHERE source = 'src0' GROUP BY 1, 2),
         sc AS (SELECT tr.doc_id, count(*) AS n_trans,
                  CAST(SUM(CASE WHEN big.c2 IS NOT NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_hit
                FROM tr LEFT JOIN big USING (w1, w2)
                WHERE tr.source <> 'src0'
                  AND tr.doc_id IN (SELECT doc_id FROM p1)
                GROUP BY 1),
         fk AS (SELECT doc_id FROM sc
                WHERE n_trans > 0 AND n_hit * 4 >= n_trans * 3
                UNION ALL
                SELECT doc_id FROM p1 WHERE source = 'src0'),
         pf AS (SELECT p1.* FROM p1 JOIN fk USING (doc_id)),"""
    val (fluencyCase, fluencyJoin) =
      if (lmGate) ("WHEN fk.doc_id IS NULL THEN 'dropped_fluency'",
        "LEFT JOIN fk ON d.doc_id = fk.doc_id")
      else ("", "")
    s"""WITH RECURSIVE
         q AS (SELECT doc_id FROM documents WHERE $t06Sql),
         p1 AS (SELECT d.* FROM documents d JOIN q USING (doc_id)),
         $fluency
         efp AS (SELECT doc_id, md5(array_to_string($sqlToks, ' ')) AS fp FROM pf),
         ek AS (SELECT min(doc_id) AS doc_id FROM efp GROUP BY fp),
         pe AS (SELECT pf.* FROM pf JOIN ek USING (doc_id)),
         sh AS (SELECT doc_id, unnest($sqlShingles) AS s FROM pe),
         sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
         pr AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
                FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
                GROUP BY 1, 2),
         pairs AS (SELECT doc_a, doc_b FROM pr
                   JOIN sizes sa ON doc_a = sa.doc_id
                   JOIN sizes sb ON doc_b = sb.doc_id
                   WHERE CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) >= 0.8),
         edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
                   UNION ALL SELECT doc_b, doc_a FROM pairs),
         reach(src, dst) AS (
           SELECT src, dst FROM edges
           UNION
           SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
         comp AS (SELECT src AS doc_id, least(src, min(dst)) AS component
                  FROM reach GROUP BY src),
         lab AS (SELECT pe.doc_id, pe.n_chars,
                        COALESCE(c.component, pe.doc_id) AS component
                 FROM pe LEFT JOIN comp c USING (doc_id)),
         nk AS (SELECT doc_id FROM (
                  SELECT doc_id, row_number() OVER (PARTITION BY component
                    ORDER BY n_chars DESC, doc_id) AS rn FROM lab)
                WHERE rn = 1),
         pn AS (SELECT pe.* FROM pe JOIN nk USING (doc_id)),
         ev AS (SELECT DISTINCT s FROM (
                  SELECT unnest(${sqlShinglesN("tks", 5)}) AS s FROM (
                    SELECT $sqlToks AS tks FROM documents WHERE source = 'src0'))),
         cont AS (SELECT DISTINCT doc_id FROM (
                    SELECT doc_id, unnest(${sqlShinglesN("tks", 5)}) AS s FROM (
                      SELECT doc_id, $sqlToks AS tks FROM pn WHERE source <> 'src0'))
                  WHERE s IN (SELECT s FROM ev))
         SELECT d.doc_id,
                CASE WHEN q.doc_id IS NULL THEN 'dropped_quality'
                     $fluencyCase
                     WHEN ek.doc_id IS NULL THEN 'dropped_exact'
                     WHEN nk.doc_id IS NULL THEN 'dropped_near'
                     WHEN d.source = 'src0' THEN 'dropped_eval'
                     WHEN cont.doc_id IS NOT NULL THEN 'dropped_contaminated'
                     ELSE 'kept' END AS verdict
         FROM documents d
         LEFT JOIN q ON d.doc_id = q.doc_id
         $fluencyJoin
         LEFT JOIN ek ON d.doc_id = ek.doc_id
         LEFT JOIN nk ON d.doc_id = nk.doc_id
         LEFT JOIN cont ON d.doc_id = cont.doc_id"""
  }
}
